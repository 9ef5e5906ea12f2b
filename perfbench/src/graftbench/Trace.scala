package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch microseconds. `op` is the timed
  * operation the span belongs to (-1 = outside any op); `parent` is the
  * id of the span that caused it, resolved after the run. */
final case class Span(id: Int, name: String, start: Long, end: Long,
                      var op: Int, var parent: Int,
                      counts: mutable.Map[String, Double] = mutable.Map.empty) {
  def dur: Long = math.max(0L, end - start)
}

object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def us: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
  def msToUs(ms: Long): Long = ms * 1000L
}

/** Span recorder for the traced run. Spans around calls into graft's
  * public functions are recorded by the benchmark code; Spark jobs,
  * stages, planning phases and streaming batches come from Spark's
  * public listener APIs. Everything is kept in memory and analysed
  * once the measured phase is over. When disabled, nothing is
  * attached and `span` is a plain call. */
final class Tracer(val enabled: Boolean) {
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var currentOp: Int = -1

  def add(name: String, start: Long, end: Long, op: Int = currentOp): Span = {
    val s = Span(ids.incrementAndGet(), name, start, end, op, -1)
    spans.add(s)
    s
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = Clock.us
      try body finally add(name, t0, Clock.us)
    }

  def all: Seq[Span] = spans.asScala.toSeq

  // ---- Spark scheduler: jobs, stages, task metrics --------------------
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  /** per-stage task metric sums, folded into the stage span at stage end */
  private val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, mutable.Map[String, Double]]()

  private object Sched extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val op = group.filter(_.startsWith("graftbench-op-"))
        .map(_.stripPrefix("graftbench-op-").toInt).getOrElse(-1)
      jobStart.put(e.jobId, (Clock.msToUs(e.time), op))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t0, op) =>
        add("spark.job", t0, Clock.msToUs(e.time), op).counts("job_id") = e.jobId
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null && info != null) {
        val agg = stageAgg.computeIfAbsent(e.stageId, _ => mutable.Map.empty)
        val sched = math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        agg.synchronized {
          def inc(k: String, v: Double): Unit = agg(k) = agg.getOrElse(k, 0.0) + v
          inc("tasks", 1)
          inc("exec_run_s", m.executorRunTime / 1e3)
          inc("exec_cpu_s", m.executorCpuTime / 1e9)
          inc("sched_delay_s", sched / 1e3)
          inc("task_gc_s", m.jvmGCTime / 1e3)
          inc("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          inc("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          inc("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          inc("fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
          inc("shuffle_write_s", m.shuffleWriteMetrics.writeTime / 1e9)
          inc("bytes_read", m.inputMetrics.bytesRead.toDouble)
          inc("rows_read", m.inputMetrics.recordsRead.toDouble)
          agg("peak_exec_mem_mb") = math.max(agg.getOrElse("peak_exec_mem_mb", 0.0),
            m.peakExecutionMemory / 1048576.0)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val t0 = i.submissionTime.getOrElse(0L)
      val t1 = i.completionTime.getOrElse(t0)
      val s = add("spark.stage", Clock.msToUs(t0), Clock.msToUs(t1), -1)
      s.counts("stage_id") = i.stageId
      s.counts("job_id") = Option(stageJob.get(i.stageId)).map(_.toDouble).getOrElse(-1.0)
      Option(stageAgg.remove(i.stageId)).foreach(a => a.synchronized(s.counts ++= a))
    }
  }

  // ---- planning phases and the final physical plan --------------------
  private object Plans extends QueryExecutionListener {
    private def walk(p: SparkPlan, f: SparkPlan => Unit): Unit = p.foreach {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, f)
      case q: QueryStageExec => walk(q.plan, f)
      case n => f(n)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      try record(qe) catch { case _: Throwable => () }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      try record(qe) catch { case _: Throwable => () }
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.filter { case (k, _) => k == "optimization" || k == "planning" }
      if (phases.nonEmpty) {
        val s = add("plans.plan", Clock.msToUs(phases.values.map(_.startTimeMs).min),
          Clock.msToUs(phases.values.map(_.endTimeMs).max), -1)
        var exch, bcast, files = 0.0
        var scanMs = 0.0
        walk(qe.executedPlan, {
          case _: ShuffleExchangeExec => exch += 1
          case _: BroadcastExchangeExec => bcast += 1
          case n =>
            n.metrics.get("scanTime").foreach(m => scanMs += m.value)
            n.metrics.get("numFiles").foreach(m => files += m.value)
        })
        s.counts ++= Seq("exchanges" -> exch, "broadcasts" -> bcast,
          "scan_s" -> scanMs / 1e3, "files_read" -> files)
      }
    }
  }

  // ---- streaming micro-batches ----------------------------------------
  private object Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
      if (d.contains("addBatch")) {
        val t0 = Clock.msToUs(java.time.Instant.parse(p.timestamp).toEpochMilli)
        val s = add("streaming.batch", t0,
          t0 + (d.getOrElse("triggerExecution", 0.0) * 1e6).toLong, -1)
        s.counts ++= Seq(
          "trigger_s" -> d.getOrElse("triggerExecution", 0.0),
          "plan_s" -> d.getOrElse("queryPlanning", 0.0),
          "getbatch_s" -> d.getOrElse("getBatch", 0.0),
          "offset_s" -> (d.getOrElse("latestOffset", 0.0) + d.getOrElse("getOffset", 0.0)),
          "wal_s" -> (d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0)),
          "addbatch_s" -> d.getOrElse("addBatch", 0.0),
          "input_rows" -> p.numInputRows.toDouble,
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum.toDouble,
          "state_mb" -> p.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0,
          "state_commit_s" -> p.stateOperators.map(_.commitTimeMs).sum / 1e3)
      }
    }
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(Sched)
    spark.listenerManager.register(Plans)
    spark.streams.addListener(Streams)
  }

  def detach(spark: SparkSession): Unit = if (enabled) {
    flush(spark)
    spark.sparkContext.removeSparkListener(Sched)
    spark.listenerManager.unregister(Plans)
    spark.streams.removeListener(Streams)
  }

  def flush(spark: SparkSession): Unit =
    org.apache.spark.graftbridge.ListenerBridge.flush(spark.sparkContext)
}

/** Turns the recorded spans into per-layer numbers: links every span to
  * its op (job group, else time containment) and to its parent (the
  * innermost lower-rank span of the same op that contains it), then
  * computes self times as shares of op wall. */
object Layers {
  private val rank = Map(
    "op" -> 0, "queries.build" -> 1, "sources.jsonl_read" -> 1,
    "sinks.append" -> 1, "sinks.read" -> 1, "streaming.batch" -> 1,
    "sinks.upsert" -> 2, "plans.plan" -> 3, "spark.job" -> 4, "spark.stage" -> 5)
  /** listener clocks tick in whole milliseconds */
  private val slackUs = 2000L

  private def contains(p: Span, c: Span): Boolean =
    c.start >= p.start - slackUs && c.end <= p.end + slackUs

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    c.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  def link(spans: Seq[Span]): Unit = {
    val ops = spans.filter(_.name == "op")
    val opSpan = ops.map(o => o.op -> o.id).toMap
    // spans with no op of their own (listener events off the op's
    // thread, e.g. the stream thread) belong to the op that contains them
    spans.foreach { s =>
      if (s.name != "op" && s.name != "spark.stage" && s.op < 0)
        ops.find(o => contains(o, s)).foreach(o => s.op = o.op)
    }
    val jobs = spans.filter(_.name == "spark.job")
      .map(j => j.counts("job_id").toInt -> j).toMap
    spans.filter(_.name == "spark.stage").foreach { st =>
      jobs.get(st.counts.getOrElse("job_id", -1.0).toInt).foreach { j =>
        st.parent = j.id; st.op = j.op
      }
    }
    val byOp = spans.filter(s => s.op >= 0 && s.name != "spark.stage").groupBy(_.op)
    spans.foreach { s =>
      if (s.name != "op" && s.name != "spark.stage" && s.op >= 0) {
        val r = rank(s.name)
        val cands = byOp.getOrElse(s.op, Nil).filter(p =>
          p.name != "op" && rank(p.name) < r && contains(p, s))
        s.parent = if (cands.isEmpty) opSpan.getOrElse(s.op, -1)
          else cands.maxBy(p => (rank(p.name), -p.dur)).id
      }
    }
  }

  /** Self time of each span: its duration minus the part of its
    * interval covered by its children. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> math.max(0L, s.dur - covered(ch, s.start, s.end))
    }.toMap
  }
}

/** Per-layer numbers of one traced run, from the linked spans of the
  * measured ops. Sums are per pass; `share.*` are self times as shares
  * of op wall and `trace.coverage` is their sum. */
object LayerReport {
  def apply(spans: Seq[Span], measuredOps: Set[Int], passes: Int,
            cores: Int): Map[String, Double] = {
    Layers.link(spans)
    val self = Layers.selfTimes(spans)
    val mine = spans.filter(s => measuredOps.contains(s.op))
    val byName = mine.groupBy(_.name).withDefaultValue(Nil)
    val byId = spans.map(s => s.id -> s).toMap
    def selfS(n: String): Double = byName(n).map(s => self(s.id)).sum / 1e6
    def sumC(n: String, k: String): Double = byName(n).map(_.counts.getOrElse(k, 0.0)).sum
    def maxC(n: String, k: String): Double =
      (0.0 +: byName(n).map(_.counts.getOrElse(k, 0.0))).max
    def underBuild(s: Span): Boolean = {
      var p = byId.get(s.parent)
      while (p.exists(x => x.name != "op" && x.name != "queries.build")) p = byId.get(p.get.parent)
      p.exists(_.name == "queries.build")
    }
    val opWall = byName("op").map(_.dur).sum / 1e6
    val jobsByOp = byName("spark.job").groupBy(_.op)
    val driverS = byName("op").map { o =>
      o.dur - Layers.covered(jobsByOp.getOrElse(o.op, Nil).map(j => (j.start, j.end)), o.start, o.end)
    }.sum / 1e6
    val per = passes.max(1).toDouble
    val sums = Map(
      "queries.build_s" -> selfS("queries.build"),
      "queries.eager_jobs" -> byName("spark.job").count(underBuild).toDouble,
      "plans.plan_s" -> selfS("plans.plan"),
      "plans.exchanges" -> sumC("plans.plan", "exchanges"),
      "plans.broadcasts" -> sumC("plans.plan", "broadcasts"),
      "sources.scan_s" -> sumC("plans.plan", "scan_s"),
      "sources.files_read" -> sumC("plans.plan", "files_read"),
      "sources.rows_read" -> sumC("spark.stage", "rows_read"),
      "sources.bytes_read" -> sumC("spark.stage", "bytes_read"),
      "sources.jsonl_read_s" -> selfS("sources.jsonl_read"),
      "spark.jobs" -> byName("spark.job").size.toDouble,
      "spark.stages" -> byName("spark.stage").size.toDouble,
      "spark.tasks" -> sumC("spark.stage", "tasks"),
      "spark.sched_delay_s" -> sumC("spark.stage", "sched_delay_s"),
      "spark.driver_s" -> driverS,
      "spark.exec_run_s" -> sumC("spark.stage", "exec_run_s"),
      "spark.exec_cpu_s" -> sumC("spark.stage", "exec_cpu_s"),
      "spark.shuffle_read_bytes" -> sumC("spark.stage", "shuffle_read_bytes"),
      "spark.shuffle_write_bytes" -> sumC("spark.stage", "shuffle_write_bytes"),
      "spark.fetch_wait_s" -> sumC("spark.stage", "fetch_wait_s"),
      "spark.shuffle_write_s" -> sumC("spark.stage", "shuffle_write_s"),
      "spark.task_gc_s" -> sumC("spark.stage", "task_gc_s"),
      "spark.spill_bytes" -> sumC("spark.stage", "spill_bytes"),
      "streaming.batches" -> byName("streaming.batch").size.toDouble,
      "streaming.trigger_s" -> sumC("streaming.batch", "trigger_s"),
      "streaming.plan_s" -> sumC("streaming.batch", "plan_s"),
      "streaming.getbatch_s" -> sumC("streaming.batch", "getbatch_s"),
      "streaming.offset_s" -> sumC("streaming.batch", "offset_s"),
      "streaming.wal_s" -> sumC("streaming.batch", "wal_s"),
      "streaming.addbatch_s" -> sumC("streaming.batch", "addbatch_s"),
      "streaming.state_commit_s" -> sumC("streaming.batch", "state_commit_s"),
      "sinks.append_s" -> selfS("sinks.append"),
      "sinks.upsert_s" -> selfS("sinks.upsert"),
      "sinks.commits" -> (byName("sinks.append").size + byName("sinks.upsert").size).toDouble,
      "sinks.files_added" -> (sumC("sinks.append", "files_added") + sumC("sinks.upsert", "files_added")),
      "sinks.files_removed" -> sumC("sinks.upsert", "files_removed"),
      "sinks.bytes_written" -> (sumC("sinks.append", "bytes_written") + sumC("sinks.upsert", "bytes_written")),
      "sinks.read_s" -> selfS("sinks.read"),
      "trace.wall_s" -> opWall
    ).map { case (k, v) => k -> v / per }
    val touch = byName("sinks.upsert").filter(_.counts.getOrElse("files_before", 0.0) > 0)
    val reads = byName("sinks.read")
    def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
    val names = Seq("queries.build", "plans.plan", "sources.jsonl_read", "sinks.append",
      "sinks.read", "streaming.batch", "sinks.upsert", "spark.job", "spark.stage")
    val shares = names.map(n => s"share.$n" -> ratio(selfS(n), opWall)).toMap
    sums ++ shares ++ Map(
      "share.op" -> ratio(selfS("op"), opWall),
      "trace.coverage" -> shares.values.sum,
      "spark.busy_ratio" -> ratio(sumC("spark.stage", "exec_run_s"), opWall * cores),
      "spark.peak_exec_mem_mb" -> maxC("spark.stage", "peak_exec_mem_mb"),
      "streaming.state_rows" -> maxC("streaming.batch", "state_rows"),
      "streaming.state_mb" -> maxC("streaming.batch", "state_mb"),
      "sinks.merge_touch_ratio" -> ratio(sumC("sinks.upsert", "files_removed"),
        touch.map(_.counts("files_before")).sum),
      "sinks.table_files" -> maxC("sinks.upsert", "files_after"),
      "sinks.read_files_ratio" -> ratio(sumC("sinks.read", "files_kept"),
        reads.map(_.counts.getOrElse("files_all", 0.0)).sum))
  }
}
