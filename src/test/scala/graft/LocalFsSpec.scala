package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.Trigger

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.sinks.TableLog
import graft.streaming.QuotaStream

/** graft/io/LocalFs.scala: the fork-free `file:` classes answer exactly as
  * stock `RawLocalFileSystem` does, and the session's file ops start
  * no child process. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): java.nio.file.Path = Files.createTempDirectory("graft-localfs")

  private def rawPair(conf: Configuration): (RawLocalFileSystem, RawLocalFileSystem) = {
    val stock = new RawLocalFileSystem
    val nio = new NioRawLocalFileSystem
    Seq(stock, nio).foreach(_.initialize(URI.create("file:///"), conf))
    (stock, nio)
  }

  /** Mode bits as the kernel reports them, sticky bit included. */
  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Integer] & 0xfff

  /** Commands of the child processes `body` starts, by program name. */
  private def processesStarted(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft-localfs", ".jfr")
    rec.dump(dump)
    rec.close()
    try RecordingFile.readAllEvents(dump).asScala.toSeq
      .map(_.getString("command").trim.split("\\s+").head.split('/').last)
    finally Files.delete(dump)
  }

  private val shellFileOps = Set("chmod", "readlink", "ls", "stat")

  for (umask <- Seq("022", "077")) test(s"create and mkdirs set the stock permission bits under umask $umask") {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    val (stock, nio) = rawPair(conf)
    def modes(fs: RawLocalFileSystem): Seq[Int] = {
      val d = new Path(tmp().toUri)
      val f = new Path(d, "f")
      fs.create(f).close()
      val g = new Path(d, "g")
      fs.create(g, new FsPermission("640"), true, 4096, 1.toShort, 1 << 20, null).close()
      val m1 = new Path(d, "a/b")
      fs.mkdirs(m1)
      val m2 = new Path(d, "c/d")
      fs.mkdirs(m2, new FsPermission("750"))
      Seq(f, g, new Path(d, "a"), m1, new Path(d, "c"), m2).map(mode)
    }
    val got = modes(nio)
    assert(got == modes(stock))
    assert(got.head == Integer.parseInt(if (umask == "022") "644" else "600", 8))
  }

  test("a sticky-bit mode takes the stock chmod fallback with the same result") {
    val (stock, nio) = rawPair(new Configuration())
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    def set(fs: RawLocalFileSystem): Int = {
      val d = new Path(tmp().toUri)
      fs.setPermission(d, sticky)
      mode(d)
    }
    var got = 0
    val started = processesStarted { got = set(nio) }
    assert(got == Integer.parseInt("1777", 8))
    assert(got == set(stock))
    assert(started.contains("chmod"), "above 0777 the stock shell path runs")
  }

  test("getFileLinkStatus matches stock for files, dirs, links, dangling links and missing paths") {
    val (stock, nio) = rawPair(new Configuration())
    val d = tmp()
    val file = Files.write(d.resolve("file"), "x".getBytes)
    val dir = Files.createDirectory(d.resolve("dir"))
    val link = Files.createSymbolicLink(d.resolve("link"), file)
    val dangling = Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    val missing = d.resolve("missing")
    def status(fs: RawLocalFileSystem, p: Path): Either[Class[_], String] =
      Try(fs.getFileLinkStatus(p)).toEither.left.map(_.getClass).map(_.toString)
    for {
      p <- Seq(file, dir, link, dangling, missing)
      path <- Seq(new Path(p.toString), new Path(p.toUri))
    } assert(status(nio, path) == status(stock, path), s"$path")
    val unq = nio.getFileLinkStatus(new Path(link.toString))
    assert(unq.isSymlink && unq.getSymlink == new Path(file.toUri))
    assert(nio.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    // a file:-qualified path names no link for the stock lookup either
    assert(!nio.getFileLinkStatus(new Path(link.toUri)).isSymlink)
    assert(status(nio, new Path(missing.toString)) == Left(classOf[FileNotFoundException]))
  }

  test("FileContext rename with OVERWRITE moves data and .crc without a child process") {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    val fc = FileContext.getFileContext(conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val d = new Path(tmp().toUri)
    def write(p: Path, s: String): Unit = {
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      out.write(s.getBytes); out.close()
    }
    val (src, dst) = (new Path(d, "src"), new Path(d, "dst"))
    val started = processesStarted {
      write(src, "new")
      write(dst, "old")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
    }
    val in = fc.open(dst)
    val got = try new String(in.readAllBytes()) finally in.close()
    assert(got == "new" && !fc.util.exists(src))
    assert(Files.exists(Paths.get(new Path(d, ".dst.crc").toUri)))
    assert(!Files.exists(Paths.get(new Path(d, ".src.crc").toUri)))
    assert(started.filter(shellFileOps).isEmpty, started)
  }

  test("the session binds file: to the fork-free classes for both Hadoop APIs") {
    val conf = spark.sessionState.newHadoopConf()
    // the FileSystem cache keys on scheme, not class: the first file:
    // instance made in the JVM is the one every caller gets
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("TableLog append, upsertSink merge and a stateful micro-batch start no chmod/readlink/ls/stat") {
    val raw = tmp().toString
    val serve = tmp().toString
    val ckpt = tmp().toString
    val arrivals = (1L to 6L).map(i => QuotaStream.Arrival(s"s${i % 2}", i))
    val started = processesStarted {
      TableLog.append(arrivals.toDF(), raw)
      val admitted = QuotaStream.admitted(
        spark.readStream.format("graft.streaming.TableLogSource").option("path", raw).load()
          .as[QuotaStream.Arrival],
        Map("s0" -> 2L, "s1" -> 2L))
      admitted.toDF().withColumn("op", lit("I"))
        .writeStream
        .foreachBatch(TableLog.upsertSink(serve, "localfs", "doc_id", "seq", "op"))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    assert(TableLog.read(spark, serve).count() == 4L)
    val written = Files.walk(Paths.get(ckpt)).iterator.asScala.map(_.getFileName.toString).toSeq
    assert(written.contains(".1.delta.crc"), "Hadoop .crc sidecars are still written")
    assert(written.contains("1.delta.crc"), "Spark's checkpoint file checksums are still written")
    assert(started.filter(shellFileOps).isEmpty, started)
  }
}
