package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** One timed call into a layer, recorded by the harness around the call. */
final case class Span(id: Long, parent: Long, name: String, startMs: Long,
    var endMs: Long = 0L, var secs: Double = 0.0,
    attrs: mutable.Map[String, Double] = mutable.LinkedHashMap())

/** A Spark job as the listener saw it, attributed to the span whose call
  * submitted it (the local property is inherited by threads the call starts,
  * such as the engine's compactor). */
final case class JobRec(id: Int, span: Long, execId: Long, startMs: Long,
    var endMs: Long, stageIds: Seq[Int], var compaction: Boolean = false)

final case class StageRec(id: Int, numTasks: Int, startMs: Long, endMs: Long,
    inputBytes: Long, inputRecords: Long, shuffleWriteBytes: Long,
    spillBytes: Long, outputBytes: Long, details: String)

/** Per-layer recorder for the traced run. All observation is from outside
  * the engine: spans around the harness's calls into public functions, plus
  * Spark's public listener surfaces. Spans stay in memory and are written
  * out once, at the end. With tracing off every method is a pass-through.
  */
final class Tracer(val on: Boolean, val runId: String) {
  import Tracer._

  private var nextId = 0L
  private val current = new InheritableThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  val jobs: mutable.Map[Int, JobRec] = mutable.LinkedHashMap()
  val stages: mutable.Map[Int, StageRec] = mutable.LinkedHashMap()
  /** (execution id, planning ms) of each successful query execution. */
  val plans: mutable.ArrayBuffer[(Long, Double)] = mutable.ArrayBuffer()
  /** Streaming progress: (numInputRows, triggerExecution ms, addBatch ms). */
  val progress: mutable.ArrayBuffer[(Long, Double, Double)] = mutable.ArrayBuffer()

  /** Time `f` as a span named `name`, child of the caller's open span. */
  def span[T](name: String)(f: => T): T = {
    if (!on) return f
    val parent: Long = current.get()
    val s = synchronized { nextId += 1; val s = Span(nextId, parent, name,
      System.currentTimeMillis()); spans += s; s }
    val sc = SparkContext.getOrCreate()
    val prevProp = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, s.id.toString)
    current.set(s.id)
    val c0 = codegen()
    val t0 = System.nanoTime()
    try f
    finally {
      s.secs = (System.nanoTime() - t0) / 1e9
      s.endMs = System.currentTimeMillis()
      val c1 = codegen()
      s.attrs("codegen_compiles") = (c1._1 - c0._1).toDouble
      s.attrs("codegen_compile_s") = (c1._2 - c0._2) / 1e9
      current.set(parent)
      sc.setLocalProperty(SpanProp, prevProp)
    }
  }

  /** Attach a count to the innermost open span of this thread. */
  def count(key: String, v: Double): Unit = if (on) synchronized {
    val id: Long = current.get()
    spans.find(_.id == id).foreach(s => s.attrs(key) = s.attrs.getOrElse(key, 0.0) + v)
  }

  /** Register the listeners on a (new) session. */
  def attach(spark: SparkSession): Unit = if (on) {
    val self = this
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = self.synchronized {
        val p = Option(e.properties)
        val span = p.flatMap(x => Option(x.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
        val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
          .map(_.toLong).getOrElse(-1L)
        jobs(e.jobId) = JobRec(e.jobId, span, exec, e.time, -1L, e.stageIds)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = self.synchronized {
        jobs.get(e.jobId).foreach(_.endMs = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = self.synchronized {
        val i = e.stageInfo
        val m = i.taskMetrics
        val rec = StageRec(i.stageId, i.numTasks, i.submissionTime.getOrElse(0L),
          i.completionTime.getOrElse(0L),
          if (m == null) 0L else m.inputMetrics.bytesRead,
          if (m == null) 0L else m.inputMetrics.recordsRead,
          if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
          if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
          if (m == null) 0L else m.outputMetrics.bytesWritten,
          Option(i.details).getOrElse(""))
        stages(i.stageId) = rec
        if (rec.details.contains("MergeInto$.compact("))
          jobs.values.filter(_.stageIds.contains(i.stageId)).foreach(_.compaction = true)
      }
      // the end of a SQL execution carries its QueryExecution, whose planning
      // tracker holds the phase times; the execution id is the one its jobs
      // carry as spark.sql.execution.id (QueryExecution.id is another counter)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionEnd =>
          val qe = scala.util.Try(x.getClass.getMethod("qe").invoke(x)).toOption.collect {
            case q: QueryExecution => q
          }
          qe.foreach { q =>
            val ph = q.tracker.phases
            val ms = Seq("analysis", "optimization", "planning")
              .flatMap(ph.get).map(_.durationMs.toDouble).sum
            self.synchronized { plans += ((x.executionId, ms)) }
          }
        case _ =>
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          val d = p.durationMs
          def ms(k: String) = Option(d.get(k)).map(_.doubleValue()).getOrElse(0.0)
          self.synchronized { progress += ((p.numInputRows, ms("triggerExecution"), ms("addBatch"))) }
        }
      }
    })
  }

  /** Wait until the listener bus has delivered the end of every job seen. */
  def settle(): Unit = if (on) {
    val deadline = System.currentTimeMillis() + 10000L
    while (synchronized(jobs.values.exists(_.endMs < 0)) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200) // stage-completed and query-execution events trail job ends
  }

  def named(name: String): Seq[Span] = synchronized(spans.filter(_.name == name).toSeq)

  /** Ids of `s` and every span below it. */
  def subtree(s: Span): Set[Long] = synchronized {
    var ids = Set(s.id)
    var grown = true
    while (grown) {
      val more = spans.filter(x => ids.contains(x.parent)).map(_.id).toSet -- ids
      grown = more.nonEmpty
      ids ++= more
    }
    ids
  }

  /** Jobs submitted under span `s` or its children (compactions excluded
    * unless asked for: they run on their own thread past the call's end). */
  def jobsOf(s: Span, withCompaction: Boolean = false): Seq[JobRec] = {
    val ids = subtree(s)
    synchronized(jobs.values.filter(j => ids.contains(j.span) &&
      (withCompaction || !j.compaction)).toSeq)
  }

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = synchronized {
    js.flatMap(_.stageIds).distinct.flatMap(stages.get)
  }

  /** Seconds of [from, to] covered by at least one of the intervals. */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total / 1e3
  }

  /** Wall time of the span not covered by its own Spark jobs: planning,
    * footer reads, the metadata commit and other driver work. */
  def driverSecs(s: Span): Double = {
    val js = jobsOf(s).filter(_.endMs >= 0)
    math.max(0.0, s.secs - covered(js.map(j => (j.startMs, j.endMs)), s.startMs, s.endMs))
  }

  /** Planning ms of the query executions whose jobs ran under the span. */
  def planSecs(s: Span): Double = {
    val execs = jobsOf(s).map(_.execId).toSet
    synchronized(plans.filter(p => execs.contains(p._1)).map(_._2).sum) / 1e3
  }

  def writeSpans(path: Path): Unit = {
    val lines = synchronized(spans.toSeq).map { s =>
      val self = s.secs - synchronized(spans.filter(_.parent == s.id).map(_.secs).sum)
      val attrs = s.attrs.map { case (k, v) => s""""$k": ${Main.num(v)}""" }.mkString(", ")
      s"""{"run": "$runId", "id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "secs": ${Main.num(s.secs)}, """ +
        s""""self_secs": ${Main.num(math.max(0.0, self))}, "attrs": {$attrs}}"""
    }
    Files.write(path, lines.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanProp = "graftbench.span"

  /** (compile count, compile ns) so far in this JVM, from Spark's codegen
    * metrics. */
  def codegen(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  /** Per-layer metrics every traced run prints (0 where the workload does
    * not exercise the layer), with units. The `trace.` entries are the
    * end-to-end figures as measured under tracing. */
  val PerLayer: Seq[(String, String)] = Seq(
    "changelog.decode_s" -> "s",
    "changelog.wire_bytes_per_event" -> "B",
    "streaming.apply_batch_p50_s" -> "s",
    "streaming.apply_batch_p90_s" -> "s",
    "streaming.events_per_batch" -> "count",
    "streaming.trigger_s" -> "s",
    "streaming.add_batch_s" -> "s",
    "streaming.overhead_s" -> "s",
    "streaming.backlog_events" -> "count",
    "streaming.gen_late_ms" -> "ms",
    "merge.map_stage_s" -> "s",
    "merge.write_stage_s" -> "s",
    "merge.shuffle_write_bytes_per_event" -> "B",
    "merge.spill_bytes" -> "B",
    "merge.tasks_per_batch" -> "count",
    "merge.driver_s" -> "s",
    "merge.plan_s" -> "s",
    "merge.codegen_compiles" -> "count",
    "merge.codegen_compile_s" -> "s",
    "merge.files_per_commit" -> "count",
    "merge.bytes_written_per_event" -> "B",
    "merge.live_rows_per_written_row" -> "ratio",
    "merge.compactions" -> "count",
    "merge.compact_s" -> "s",
    "merge.compact_bytes_rewritten" -> "B",
    "merge.sinkop_epoch_s" -> "s",
    "merge.sinkop_jobs_per_epoch" -> "count",
    "merge.sinkop_driver_s" -> "s",
    "merge.sinkop_state_rows" -> "count",
    "lake.commits" -> "count",
    "lake.meta_bytes_per_commit" -> "B",
    "lake.manifest_files" -> "count",
    "lake.delta_files_at_read" -> "count",
    "lake.snapshot_build_s" -> "s",
    "lake.files_read_per_lookup" -> "count",
    "lake.rows_scanned_per_row_returned" -> "ratio",
    "lake.resolve_shuffle_bytes" -> "B",
    "sources.lookup_plan_s" -> "s",
    "sources.lookup_exec_s" -> "s",
    "workload.apply_eps_1core" -> "events/s",
    "workload.scaling_eff" -> "ratio",
    "workload.fresh_p50_s" -> "s",
    "workload.fresh_p90_s" -> "s",
    "workload.lookup_p50_s" -> "s",
    "workload.lookup_p90_s" -> "s",
    "workload.scan_p50_s" -> "s",
    "workload.sinkop_ops_per_s" -> "ops/s",
    "workload.samples" -> "count") ++
    Main.EndToEnd.map { case (n, u) => s"trace.$n" -> u }
}
