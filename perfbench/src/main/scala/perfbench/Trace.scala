package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchListenerBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** The boundaries an op's body marks inside the op: the builder call
  * into the engine, the action that runs the plan, and sink writes.
  */
trait Scope {
  def build[T](f: => T): T
  def action[T](f: => T): T
  def sink[T](f: => T): T
  /** The frame the builder returned; its eager analysis ran in the build. */
  def built(df: DataFrame): DataFrame = df
  /** Rows the op returned, where the output check knows them. */
  def rows(n: Long): Unit = ()
}

/** Scope of an untraced op: marks nothing, adds nothing. */
object Untraced extends Scope {
  def build[T](f: => T): T = f
  def action[T](f: => T): T = f
  def sink[T](f: => T): T = f
}

/** One span of the trace; `parent` is -1 for an op. Times are epoch ms. */
final case class Span(id: Int, parent: Int, op: Int, kind: String,
    name: String, start: Long, end: Long)

/** Layer figures of one traced op. `outRows` is the op's result size
  * where the output check knows it; `cells` and `storeBytes` are set by
  * an ingest op.
  */
final class OpTrace(val id: Int, val kind: String, val name: String) {
  val m: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  var wallMs = 0.0
  var outRows: Option[Long] = None
  var cells = 0L
  var storeBytes = 0L
  def add(k: String, v: Double): Unit = m(k) += v
}

/** Traced-run instrumentation, kept entirely outside the engine: a
  * SparkListener (jobs, stages, tasks, SQL executions, AQE updates), a
  * QueryExecutionListener (Catalyst phase times from `qe.tracker`),
  * Spark's codegen compile counter, block-manager storage info and the
  * JVM's GC beans. Events are buffered on the listener thread; each op
  * drains the bus at its start (discarding what happened between ops)
  * and at its end, then attributes events to the op's own boundaries by
  * timestamp. Spans stay in memory until [[writeTrace]].
  */
final class Tracer(spark: SparkSession, cores: Int) extends Scope {
  private val sc = spark.sparkContext

  private val jobStarts = new ConcurrentLinkedQueue[SparkListenerJobStart]
  private val jobEnds = new ConcurrentLinkedQueue[SparkListenerJobEnd]
  private val stages = new ConcurrentLinkedQueue[StageInfo]
  private val tasks = new ConcurrentLinkedQueue[SparkListenerTaskEnd]
  private val sqlStarts = new ConcurrentLinkedQueue[SparkListenerSQLExecutionStart]
  private val sqlEnds = new ConcurrentLinkedQueue[SparkListenerSQLExecutionEnd]
  private val aqeUpdates = new ConcurrentLinkedQueue[java.lang.Long]
  private val qes = new ConcurrentLinkedQueue[QueryExecution]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.add(e)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(e.stageInfo)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.add(e)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlStarts.add(s)
      case s: SparkListenerSQLExecutionEnd => sqlEnds.add(s)
      case a: SparkListenerSQLAdaptiveExecutionUpdate => aqeUpdates.add(a.executionId)
      case _ => ()
    }
  }
  private val qel = new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = qes.add(qe)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = qes.add(qe)
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qel)
  }

  def detach(): Unit = {
    PerfbenchListenerBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
  }

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val ops: mutable.ArrayBuffer[OpTrace] = mutable.ArrayBuffer.empty
  private var nextSpan = 0
  private var cur: OpTrace = _
  private var opSpan = -1
  // (span id, kind, start ms, end ms) of the current op's boundaries
  private val marks = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]

  private def newSpan(): Int = { nextSpan += 1; nextSpan }

  private def mark[T](kind: String)(f: => T): T = {
    val id = newSpan()
    val s = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally {
      marks += ((id, kind, s, System.currentTimeMillis()))
      cur.add(s"$kind.ms", (System.nanoTime() - t0) / 1e6)
    }
  }

  def build[T](f: => T): T = mark("build")(f)
  def action[T](f: => T): T = mark("action")(f)
  def sink[T](f: => T): T = mark("sinks")(f)

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private def clearBuffers(): Unit =
    Seq(jobStarts, jobEnds, stages, tasks, sqlStarts, sqlEnds, aqeUpdates, qes)
      .foreach(_.clear())

  /** Run `body` as one traced op and record its layer figures. */
  def op[T](kind: String, name: String)(body: Scope => T): (T, OpTrace) = {
    PerfbenchListenerBus.drain(sc)
    clearBuffers()
    marks.clear()
    val o = new OpTrace(ops.size, kind, name)
    cur = o
    opSpan = newSpan()
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val gc0 = gcMs()
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = body(this)
      (r, o)
    } finally {
      o.wallMs = (System.nanoTime() - t0) / 1e6
      val end = System.currentTimeMillis()
      val cached = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
      o.add("materialize.rdds", cached.length)
      o.add("materialize.cached_mb", cached.map(i => i.memSize + i.diskSize).sum / 1e6)
      o.add("codegen.compiles", CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0)
      o.add("driver.gc_ms", gcMs() - gc0)
      PerfbenchListenerBus.drain(sc)
      attribute(o, start, end)
      ops += o
    }
  }

  override def built(df: DataFrame): DataFrame = {
    df.queryExecution.tracker.phases.get("analysis")
      .foreach(p => cur.add("catalyst.analysis_ms", p.durationMs))
    df
  }

  override def rows(n: Long): Unit = cur.outRows = Some(cur.outRows.getOrElse(0L) + n)

  /** What the last traced ingest op wrote: merged cells, store bytes, files. */
  def ingest(cells: Long, storeBytes: Long, files: Long): Unit = {
    cur.cells += cells
    cur.storeBytes += storeBytes
    cur.add("sinks.files", files)
  }

  private def within(t: Long, kind: String): Option[Int] =
    marks.collectFirst { case (id, k, s, e) if k == kind && t >= s && t <= e => id }

  private def markAt(t: Long): Int =
    marks.collectFirst { case (id, _, s, e) if t >= s && t <= e => id }.getOrElse(opSpan)

  private def attribute(o: OpTrace, start: Long, end: Long): Unit = {
    spans += Span(opSpan, -1, o.id, "op", s"${o.kind}:${o.name}", start, end)
    marks.foreach { case (id, k, s, e) => spans += Span(id, opSpan, o.id, k, k, s, e) }

    // SQL executions: parent is the boundary they started in.
    val sqlEndAt = sqlEnds.asScala.map(e => e.executionId -> e.time).toMap
    val sqlSpan = sqlStarts.asScala.map { s =>
      val id = newSpan()
      spans += Span(id, markAt(s.time), o.id, "query", Option(s.description).getOrElse("").take(80),
        s.time, sqlEndAt.getOrElse(s.executionId, end))
      s.executionId -> id
    }.toMap
    o.add("catalyst.aqe_updates", aqeUpdates.size)
    qes.asScala.foreach { qe =>
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        ph.get(p).foreach(s => o.add(s"catalyst.${p}_ms", s.durationMs))
      }
    }

    // Jobs: parent is their SQL execution, else the boundary they started in.
    val jobEndAt = jobEnds.asScala.map(e => e.jobId -> e.time).toMap
    val jobs = jobStarts.asScala.toSeq
    val jobSpan = jobs.map { j =>
      val id = newSpan()
      val exec = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(_.toLongOption).flatMap(sqlSpan.get)
      spans += Span(id, exec.getOrElse(markAt(j.time)), o.id, "job",
        s"job ${j.jobId}", j.time, jobEndAt.getOrElse(j.jobId, end))
      j.jobId -> id
    }.toMap
    val stageJob = jobs.flatMap(j => j.stageIds.map(_ -> j.jobId)).toMap
    val sinkJobs = jobs.filter(j => within(j.time, "sinks").isDefined).map(_.jobId).toSet
    o.add("scheduler.jobs", jobs.size)
    o.add("build.jobs", jobs.count(j => within(j.time, "build").isDefined))
    val done = stages.asScala.toSeq
    o.add("scheduler.stages", done.size)
    val submitted = done.map(_.stageId).toSet
    o.add("scheduler.stages_skipped",
      jobs.flatMap(_.stageIds).distinct.count(s => !submitted(s)))
    done.foreach { st =>
      val s = st.submissionTime.getOrElse(start)
      spans += Span(newSpan(), stageJob.get(st.stageId).flatMap(jobSpan.get).getOrElse(opSpan),
        o.id, "stage", s"stage ${st.stageId}.${st.attemptNumber()}", s,
        st.completionTime.getOrElse(end))
    }

    // Driver idle: op wall time not covered by any running job.
    val busy = union(jobs.map(j => (math.max(start, j.time),
      math.min(end, jobEndAt.getOrElse(j.jobId, end)))))
    o.add("scheduler.driver_idle_ms", math.max(0.0, o.wallMs - busy))

    tasks.asScala.foreach { t =>
      o.add("scheduler.tasks", 1)
      val tm = t.taskMetrics
      if (tm != null) {
        o.add("executor.run_ms", tm.executorRunTime)
        o.add("executor.cpu_ms", tm.executorCpuTime / 1e6)
        o.add("executor.gc_ms", tm.jvmGCTime)
        o.add("shuffle.write_bytes", tm.shuffleWriteMetrics.bytesWritten)
        o.add("shuffle.read_bytes", tm.shuffleReadMetrics.totalBytesRead)
        o.add("shuffle.fetch_wait_ms", tm.shuffleReadMetrics.fetchWaitTime)
        o.add("shuffle.spill_bytes", tm.diskBytesSpilled)
        o.add("scan.input_bytes", tm.inputMetrics.bytesRead)
        o.add("scan.input_records", tm.inputMetrics.recordsRead)
        if (stageJob.get(t.stageId).exists(sinkJobs))
          o.add("sinks.output_bytes", tm.outputMetrics.bytesWritten)
      }
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) total += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) total += ce - cs
    total
  }

  /** Self time per span kind: a span's duration minus the part of it
    * that its children cover, summed over every traced op.
    */
  def selfTimes: Seq[(String, Long, Long)] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.kind).toSeq.map { case (k, ss) =>
      val total = ss.map(s => s.end - s.start).sum
      val self = ss.map { s =>
        val cover = union(kids.getOrElse(s.id, Nil).toSeq.map(c =>
          (math.max(s.start, c.start), math.min(s.end, c.end))))
        (s.end - s.start) - cover
      }.sum
      (k, total, self)
    }.sortBy(x => Seq("op", "build", "action", "sinks", "query", "job", "stage").indexOf(x._1))
  }

  /** All spans as one JSON document. */
  def writeTrace(f: java.io.File): Unit = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""
    val sb = new StringBuilder("{\"spans\": [\n")
    sb ++= spans.map(s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "kind": ${q(s.kind)}, """ +
      s""""name": ${q(s.name)}, "start_ms": ${s.start}, "end_ms": ${s.end}}""").mkString(",\n")
    sb ++= "\n]}\n"
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  /** Per-layer metric names with units, in report order. */
  val layerMetrics: Seq[(String, String)] = Seq(
    "build.ms" -> "ms", "build.jobs" -> "count",
    "materialize.cached_mb" -> "MB", "materialize.rdds" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "catalyst.aqe_updates" -> "count",
    "codegen.compiles" -> "count",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count",
    "scheduler.stages_skipped" -> "count", "scheduler.tasks" -> "count",
    "scheduler.driver_idle_ms" -> "ms",
    "executor.run_ms" -> "ms", "executor.cpu_ms" -> "ms",
    "executor.gc_ms" -> "ms", "executor.busy_frac" -> "ratio",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_ms" -> "ms", "shuffle.spill_bytes" -> "bytes",
    "scan.input_bytes" -> "bytes", "scan.input_records" -> "count",
    "scan.records_per_row" -> "ratio",
    "sinks.ms" -> "ms", "sinks.output_bytes" -> "bytes",
    "sinks.files" -> "count", "sinks.bytes_per_cell" -> "bytes",
    "driver.gc_ms" -> "ms", "driver.peak_rss_mb" -> "MB",
    "driver.share" -> "ratio", "setup.cold_s" -> "s",
    "trace.overhead_frac" -> "ratio")

  /** Workload-level figures from the traced ops. Additive figures are
    * means per op; `build.jobs` is the median per op; the ratios are
    * taken over the sums. `driver.share` is the share of op wall time
    * spent in Catalyst phases or with no job running. The caller adds
    * `driver.peak_rss_mb` and `setup.cold_s`.
    */
  def summarize(ops: Seq[OpTrace], cores: Int, overhead: Double): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    def sum(k: String) = ops.map(_.m(k)).sum
    val wall = ops.map(_.wallMs).sum
    val rowOps = ops.filter(_.outRows.isDefined)
    val rows = rowOps.flatMap(_.outRows).sum
    val cells = ops.map(_.cells).sum
    layerMetrics.map(_._1).map { k =>
      k -> (k match {
        case "build.jobs" => Stats.median(ops.map(_.m(k)))
        case "executor.busy_frac" => if (wall > 0) sum("executor.run_ms") / (wall * cores) else 0.0
        case "scan.records_per_row" =>
          if (rows > 0) rowOps.map(_.m("scan.input_records")).sum / rows else 0.0
        case "sinks.bytes_per_cell" =>
          if (cells > 0) ops.map(_.storeBytes).sum.toDouble / cells else 0.0
        case "driver.share" =>
          if (wall > 0) (Seq("catalyst.analysis_ms", "catalyst.optimization_ms",
            "catalyst.planning_ms", "scheduler.driver_idle_ms").map(sum).sum) / wall
          else 0.0
        case "driver.peak_rss_mb" | "setup.cold_s" => 0.0
        case "trace.overhead_frac" => overhead
        case _ => sum(k) / n
      })
    }.toMap
  }
}
