package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload, one client thread in a
  * closed loop, on the session `graft.GraftSession.builder` makes.
  * Writes the raw measurements as JSON to `--out`; `run.py` turns
  * them into metrics and checks query results against DuckDB.
  *
  * Args: --workload olap|nightly --seed N --seconds S
  * --trace 0|1 --data DIR --work DIR --cores N --t0-ms EPOCH_MS --out FILE
  */
object Main {

  final case class OpRec(id: Int, name: String, kind: String, pass: Int,
                         sec: Double, ok: Boolean)
  final case class PassRec(wall: Double, cpu: Double, heapPeakMb: Double, heapEndMb: Double)

  /** Shared state of one run: the session, the tracer and the op log. */
  final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                  val work: String, val data: String) {
    val ops = ArrayBuffer.empty[OpRec]
    /** named set-up phases, seconds each */
    val phases = ArrayBuffer.empty[(String, Double)]
    private var lastMark = System.nanoTime()
    def mark(phase: String): Unit = {
      val t = System.nanoTime()
      phases += phase -> (t - lastMark) / 1e9
      lastMark = t
    }
    var pass: Int = -1
    var measuring = false
    private var nextOp = 0

    /** One timed op. Its Spark jobs carry the op's job group, so the
      * traced run can link them to it. Failures are logged and counted. */
    def op[T](name: String, kind: String)(body: => T): Option[T] = {
      val id = nextOp
      nextOp += 1
      val sc = spark.sparkContext
      sc.setJobGroup(s"graftbench-op-$id", name, interruptOnCancel = false)
      tracer.currentOp = id
      val t0us = Clock.us
      val t0 = System.nanoTime()
      val r = try Some(body) catch {
        case e: Throwable =>
          System.err.println(s"[graftbench] op $name failed: $e")
          None
      }
      val sec = (System.nanoTime() - t0) / 1e9
      if (tracer.enabled) tracer.add("op", t0us, Clock.us, id)
      tracer.currentOp = -1
      sc.clearJobGroup()
      if (measuring) ops += OpRec(id, name, kind, pass, sec, r.isDefined)
      r
    }

    def fresh(name: String): String = {
      val d = new File(work, name)
      d.mkdirs()
      d.getPath
    }
  }

  /** A workload: set-up (staging, warm-up, first stream batch), timed
    * passes, then untimed checks and end-of-run figures. */
  trait Workload {
    def setup(): Unit
    def pass(p: Int): Unit
    def finish(): Map[String, Any]
  }

  private def cpuNanos: Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => -1L
  }
  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  private def jitMillis: Long = {
    val b = ManagementFactory.getCompilationMXBean
    if (b == null || !b.isCompilationTimeMonitoringSupported) 0L else b.getTotalCompilationTime
  }
  private def codegen: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount / 1e3)
  }
  /** Heap in use after a full collection, MiB. Collects twice, with a
    * pause for Spark's ContextCleaner to drop what the first collection
    * made unreachable (broadcasts, cached blocks). */
  private def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The largest heap in use after any collection the JVM ran on its own
    * (forced `System.gc()` calls are left out), MiB, since the last
    * `reset()`. Fed by the collectors' GC notifications. */
  private object HeapPeak extends javax.management.NotificationListener {
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.openmbean.CompositeData
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    @volatile private var peak = 0L

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ => ()
    }
    def reset(): Unit = peak = 0L
    def mb: Double = peak / 1048576.0

    def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcCause != "System.gc()") {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { if (used > peak) peak = used }
        }
      }
  }

  /** Host self-flag: graft's fixed-work alu/mem/io probe and the
    * 1-minute load average. The probe's thread-private buffers are
    * dropped afterwards so they do not count as heap. */
  private def hostProbe(): Map[String, Any] = {
    val w = graft.Calibrate.probe(0)
    try {
      val f = graft.Calibrate.getClass.getDeclaredFields.find(_.getName.endsWith("memCache")).get
      f.setAccessible(true)
      f.set(graft.Calibrate, (0, Array.empty[Array[Long]]))
    } catch { case _: Throwable => () }
    Map("alu_s" -> w.alu, "mem_s" -> w.mem, "io_s" -> w.io, "load1" -> w.load)
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = kv("workload")
    val seconds = kv("seconds").toDouble
    val cores = kv("cores").toInt
    val t0Ms = kv("t0-ms").toLong
    val work = kv("work")

    graft.Calibrate.threads = cores
    graft.Calibrate.ioDir = kv("work")
    val p0 = System.nanoTime()
    graft.Calibrate.warmup()
    val hostStart = hostProbe()
    val probeS = (System.nanoTime() - p0) / 1e9

    val spark = graft.GraftSession.builder(s"local[$cores]", cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(kv("trace") == "1")
    val ctx = new Ctx(spark, tracer, kv("seed").toLong, work, kv("data"))
    ctx.phases += "jvm_session" -> ((System.currentTimeMillis() - t0Ms) / 1e3 - probeS)
    val wl: Workload = workload match {
      case "olap" => new QueryWorkload(ctx, Workloads.olap)
      case "nightly" => new Nightly(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    tracer.attach(spark)
    val (cg0, cgs0) = codegen
    wl.setup()
    ctx.mark("workload")
    val (cg1, cgs1) = codegen
    val heapSetup = heapAfterGcMb()
    // set-up ends at the first timed op: process launch to here, minus
    // the untimed host probe
    val setupS = (System.currentTimeMillis() - t0Ms) / 1e3 - probeS
    val gc0 = gcMillis
    val jit0 = jitMillis
    val passes = ArrayBuffer.empty[PassRec]
    HeapPeak.install()
    ctx.measuring = true
    val m0 = System.nanoTime()
    // whole passes, at least one, until `seconds` have passed
    while (passes.isEmpty || (System.nanoTime() - m0) / 1e9 < seconds) {
      ctx.pass = passes.size
      HeapPeak.reset()
      val c0 = cpuNanos
      val w0 = System.nanoTime()
      wl.pass(ctx.pass)
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = (cpuNanos - c0) / 1e9
      val peak = HeapPeak.mb
      // the end-of-pass full collection is a floor for passes in which
      // the JVM collected nothing on its own
      val end = heapAfterGcMb()
      passes += PassRec(wall, cpu, math.max(peak, end), end)
    }
    ctx.measuring = false
    val measuredS = (System.nanoTime() - m0) / 1e9
    val (cg2, cgs2) = codegen
    val gcS = (gcMillis - gc0) / 1e3
    val jitS = (jitMillis - jit0) / 1e3
    val measuredOps = ctx.ops.map(_.id).toSet
    val layers =
      if (tracer.enabled) {
        tracer.detach(spark)
        LayerReport(tracer.all, measuredOps, passes.size, cores) ++ Map(
          "plans.codegen_units" -> (cg2 - cg1).toDouble / passes.size,
          "plans.codegen_s" -> (cgs2 - cgs1) / passes.size,
          "plans.setup_codegen_units" -> (cg1 - cg0).toDouble,
          "plans.setup_codegen_s" -> (cgs1 - cgs0),
          "plans.graft_rules" -> (spark.experimental.extraOptimizations.size +
            spark.experimental.extraStrategies.size).toDouble,
          "jvm.gc_s" -> gcS / passes.size,
          "jvm.jit_s" -> jitS / passes.size)
      } else Map.empty[String, Double]
    val f0 = System.nanoTime()
    val extra = wl.finish()
    val finishS = (System.nanoTime() - f0) / 1e9
    val hostEnd = hostProbe()

    val out = Map[String, Any](
      "workload" -> workload,
      "setup_s" -> setupS,
      "measured_s" -> measuredS,
      "finish_s" -> finishS,
      "heap_setup_mb" -> heapSetup,
      "setup_phases" -> ctx.phases.toMap,
      "passes" -> passes.map(p => Map("wall_s" -> p.wall, "cpu_s" -> p.cpu,
        "heap_peak_mb" -> p.heapPeakMb, "heap_end_mb" -> p.heapEndMb)),
      "ops" -> ctx.ops.map(o => Map("name" -> o.name, "kind" -> o.kind, "pass" -> o.pass,
        "sec" -> o.sec, "ok" -> o.ok)),
      "host" -> Map("start" -> hostStart, "end" -> hostEnd),
      "layers" -> layers) ++ extra
    Files.writeString(Paths.get(kv("out")), Json(out))
    spark.stop()
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
