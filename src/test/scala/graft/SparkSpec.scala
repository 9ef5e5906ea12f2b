package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites, built by GraftSession so the
  * suites run on its session policy, the `file:` binding included (one
  * per JVM — sbt forks one test JVM; getOrCreate dedups across
  * suites). Per-suite teardown releases the semantic family's
  * operator-internal persists (Similarity.retainedAssignment's caller
  * contract): a suite that exercises semanticDedup and friends would
  * otherwise leave MEMORY_AND_DISK frames resident for every LATER
  * suite in the shared JVM. */
trait SparkSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"

  override protected def afterAll(): Unit = {
    if (SparkSpec.started) graft.analytics.Similarity.releaseRetained(SparkSpec.session)
    super.afterAll()
  }
}

object SparkSpec {
  @volatile private var started = false
  lazy val session: SparkSession = {
    val s = GraftSession.builder("local[4]", 4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    started = true
    s
  }
}
