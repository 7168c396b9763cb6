package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener-based tracer for the traced run. It registers a SparkListener,
  * a QueryExecutionListener and a StreamingQueryListener for the traced
  * rounds only, keeps every event in memory, and afterwards attributes
  * events to ops by time: ops run one at a time on one client thread, so
  * every job, stage, task, planning phase and micro-batch that starts
  * inside an op's [t0, t1] window belongs to that op. Nothing inside graft
  * is instrumented. */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private val jobs = new ConcurrentLinkedQueue[JobEv]
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  private val stages = new ConcurrentLinkedQueue[StageEv]
  private val tasks = new ConcurrentLinkedQueue[TaskEv]
  private val plans = new ConcurrentLinkedQueue[PlanEv]
  private val batches = new ConcurrentLinkedQueue[BatchEv]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(JobEv(e.jobId, e.time, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      stages.add(StageEv(s.stageId, s.attemptNumber(),
        s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskEv(e.stageId, e.stageAttemptId,
        i.launchTime, i.finishTime, i.successful, i.gettingResultTime,
        m.executorRunTime, m.executorCpuTime, m.executorDeserializeTime,
        m.jvmGCTime, m.resultSerializationTime, m.peakExecutionMemory,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.recordsWritten,
        m.shuffleWriteMetrics.writeTime,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.totalBlocksFetched,
        m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled, m.diskBytesSpilled,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val start = if (ph.isEmpty) System.currentTimeMillis().toDouble
                  else ph.values.map(_.startTimeMs).min.toDouble
      def d(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      plans.add(PlanEv(start, d("analysis"), d("optimization"), d("planning"),
        ph.toSeq.map { case (k, p) =>
          (k, p.startTimeMs.toDouble, p.endTimeMs.toDouble) }))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      add(qe)
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = add(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      val so = p.stateOperators
      batches.add(BatchEv(
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, d,
        p.numInputRows, so.map(_.numRowsTotal).sum,
        so.map(_.numRowsUpdated).sum, so.map(_.memoryUsedBytes).sum,
        so.map(_.commitTimeMs).sum.toDouble))
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits for the listener bus to deliver every queued event, then
    * unregisters. */
  def stop(): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcNow = (gcBeans.map(_.getCollectionTime).sum,
    gcBeans.map(_.getCollectionCount).sum)
  private var gcAtBegin = (0L, 0L)
  private var gcAtEnd = (0L, 0L)
  def beginOp(): Unit = gcAtBegin = gcNow
  def endOp(): Unit = gcAtEnd = gcNow
  def gcDelta(): (Long, Long) =
    (gcAtEnd._1 - gcAtBegin._1, gcAtEnd._2 - gcAtBegin._2)

  private def in(t: Double, r: OpRecord) = t >= r.t0 - 1 && t <= r.t1 + 1

  /** The span tree op -> call / execute -> (plan phase | job -> stage ->
    * task | micro-batch), with self time, one JSON object per line. */
  def writeSpans(f: File, records: Seq[OpRecord]): Unit = {
    val out = Seq.newBuilder[Span]
    var next = 0L
    def span(parent: Long, op: Int, name: String, s: Double, e: Double) = {
      next += 1
      val sp = Span(next, parent, op, name, s, e)
      out += sp
      sp
    }
    val jobList = jobs.asScala.toSeq
    val stageByKey = stages.asScala.toSeq.groupBy(s => (s.id, s.attempt))
    val tasksByStage = tasks.asScala.toSeq.groupBy(t => (t.stageId, t.attempt))
    // a stage listed by several jobs (AQE re-submits) hangs under the first
    val emitted = scala.collection.mutable.HashSet.empty[(Int, Int)]
    records.filter(_.traced).foreach { r =>
      val op = span(0, r.index, s"op:${r.kind}", r.t0, r.t1)
      val call = span(op.id, r.index, "call", r.t0, r.callEnd)
      val exec = span(op.id, r.index, "execute", r.callEnd, r.t1)
      def parentAt(t: Double) = if (t <= r.callEnd) call.id else exec.id
      plans.asScala.filter(p => in(p.start, r)).foreach { p =>
        p.phases.foreach { case (k, s, e) =>
          span(parentAt(s), r.index, s"plan.$k", s, e) }
      }
      jobList.filter(j => in(j.submit.toDouble, r)).foreach { j =>
        val end = Option(jobEnds.get(j.id)).map(_.toDouble)
          .getOrElse(r.t1)
        val js = span(parentAt(j.submit.toDouble), r.index, s"job:${j.id}",
          j.submit.toDouble, end)
        j.stageIds.foreach { sid =>
          stageByKey.collect { case ((`sid`, a), evs) => (a, evs) }
            .filter { case (a, _) => emitted.add((sid, a)) }
            .foreach { case (a, evs) =>
              evs.filter(_.submit > 0).foreach { st =>
                val ss = span(js.id, r.index, s"stage:$sid.$a",
                  st.submit.toDouble, st.complete.toDouble)
                tasksByStage.getOrElse((sid, a), Nil).foreach { t =>
                  span(ss.id, r.index, "task", t.launch.toDouble,
                    t.finish.toDouble)
                }
              }
            }
        }
      }
      batches.asScala.filter(b => in(b.start, r)).foreach { b =>
        span(call.id, r.index, "microbatch", b.start,
          b.start + b.durations.getOrElse("triggerExecution", 0.0))
      }
    }
    val all = out.result()
    val kids = all.groupBy(_.parent)
    Main.writeLines(f, all.map { s =>
      val self = (s.end - s.start) -
        covered(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)),
          s.start, s.end)
      Json.obj("id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "op" -> Json.num(s.op), "name" -> Json.str(s.name),
        "start" -> Json.num(s.start), "end" -> Json.num(s.end),
        "self_ms" -> Json.num(self))
    })
  }

  /** Per-layer metrics over the traced ops: times are per-op medians,
    * counts and bytes per-op means; streaming metrics are per micro-batch.
    * `outputFiles` are the byte sizes of the files of the table the last
    * writer op left behind. */
  def layers(records: Seq[OpRecord], outputFiles: Seq[Long],
             inputBytes: Long): Map[String, Double] = {
    val ops = records.filter(_.traced)
    val jobList = jobs.asScala.toSeq
    val stageList = stages.asScala.toSeq.filter(_.submit > 0)
    val taskList = tasks.asScala.toSeq
    val per = ops.map { r =>
      val js = jobList.filter(j => in(j.submit.toDouble, r))
      val ss = stageList.filter(s => in(s.submit.toDouble, r))
      val ts = taskList.filter(t => in(t.launch.toDouble, r))
      val ps = plans.asScala.toSeq.filter(p => in(p.start, r))
      val submitted = ss.map(_.id).toSet
      val listed = js.flatMap(_.stageIds).toSet
      val wall = r.t1 - r.t0
      def sumT(f: TaskEv => Double) = ts.map(f).sum
      Map(
        "operators.call_ms" -> (r.callEnd - r.t0),
        "operators.eager_jobs" ->
          js.count(_.submit.toDouble <= r.callEnd).toDouble,
        "planning.analysis_ms" -> ps.map(_.analysis).sum,
        "planning.optimization_ms" -> ps.map(_.optimization).sum,
        "planning.physical_ms" -> ps.map(_.physical).sum,
        "planning.executions" -> ps.size.toDouble,
        "scheduler.jobs" -> js.size.toDouble,
        "scheduler.stages" -> ss.size.toDouble,
        "scheduler.stages_skipped" -> (listed -- submitted).size.toDouble,
        "scheduler.tasks" -> ts.size.toDouble,
        "scheduler.task_delay_ms" -> sumT(t => math.max(0.0,
          (t.finish - t.launch) - t.runMs - t.deserMs - t.resultSerMs -
            (if (t.gettingResult > 0) t.finish - t.gettingResult else 0))),
        "scheduler.driver_gap_ms" ->
          (wall - covered(ss.map(s => (s.submit.toDouble,
            s.complete.toDouble)), r.t0, r.t1)),
        "executor.run_ms" -> sumT(_.runMs.toDouble),
        "executor.cpu_ms" -> sumT(_.cpuNs / 1e6),
        "executor.deserialize_ms" -> sumT(_.deserMs.toDouble),
        "executor.gc_ms" -> sumT(_.gcMs.toDouble),
        "executor.busy_frac" -> sumT(_.runMs.toDouble) / (wall * cores),
        "executor.peak_exec_memory_bytes" ->
          (if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max.toDouble),
        "scan.bytes" -> sumT(_.inBytes.toDouble),
        "scan.records" -> sumT(_.inRecords.toDouble),
        "scan.records_per_result_row" ->
          sumT(_.inRecords.toDouble) / math.max(1, r.rows),
        "shuffle.write_bytes" -> sumT(_.shWBytes.toDouble),
        "shuffle.write_records" -> sumT(_.shWRecords.toDouble),
        "shuffle.write_ms" -> sumT(_.shWNs / 1e6),
        "shuffle.read_bytes" -> sumT(_.shRBytes.toDouble),
        "shuffle.blocks_fetched" -> sumT(_.shRBlocks.toDouble),
        "shuffle.fetch_wait_ms" -> sumT(_.shRWaitMs.toDouble),
        "spill.memory_bytes" -> sumT(_.spillMem.toDouble),
        "spill.disk_bytes" -> sumT(_.spillDisk.toDouble),
        "jvm.gc_ms" -> r.gcMs.toDouble,
        "jvm.gc_count" -> r.gcCount.toDouble,
        "_tasks_ok" -> ts.count(_.ok).toDouble,
        "_output_bytes" -> sumT(_.outBytes.toDouble),
        "_output_records" -> sumT(_.outRecords.toDouble))
    }
    def agg(k: String): Double = {
      val xs = per.map(_(k))
      if (xs.isEmpty) 0.0
      else if (k.endsWith("_ms") || k.endsWith("_frac")) median(xs)
      else xs.sum / xs.size
    }
    val keys = per.headOption.map(_.keys.filterNot(_.startsWith("_")))
      .getOrElse(Nil)
    val base = keys.map(k => k -> agg(k)).toMap
    val nTasks = per.map(_("scheduler.tasks")).sum
    val writers = ops.zip(per).filter(_._1.phase == "etl_write")
    val bs = batches.asScala.toSeq.filter(b => ops.exists(r => in(b.start, r)))
    def bMed(k: String) = median(bs.map(_.durations.getOrElse(k, 0.0)))
    def bMean(f: BatchEv => Double) =
      if (bs.isEmpty) 0.0 else bs.map(f).sum / bs.size
    base ++ Map(
      "scheduler.task_success_ratio" ->
        (if (nTasks == 0) 1.0 else per.map(_("_tasks_ok")).sum / nTasks),
      "sources.write_ms" -> median(writers.map(w => w._1.callEnd - w._1.t0)),
      "sources.output_bytes" -> mean(writers.map(_._2("_output_bytes"))),
      "sources.output_records" -> mean(writers.map(_._2("_output_records"))),
      "sources.output_files" -> outputFiles.size.toDouble,
      "sources.stored_bytes_per_input_byte" ->
        (if (inputBytes > 0 && outputFiles.nonEmpty)
          outputFiles.sum.toDouble / inputBytes else 0.0),
      "streaming.batches" -> (if (ops.isEmpty) 0.0
        else bs.size.toDouble / ops.size),
      "streaming.useful_batch_ratio" ->
        (if (bs.isEmpty) 0.0 else bs.count(_.inputRows > 0).toDouble / bs.size),
      "streaming.trigger_ms" -> bMed("triggerExecution"),
      "streaming.add_batch_ms" -> bMed("addBatch"),
      "streaming.query_planning_ms" -> bMed("queryPlanning"),
      "streaming.latest_offset_ms" -> bMed("latestOffset"),
      "streaming.wal_commit_ms" -> bMed("walCommit"),
      "streaming.commit_offsets_ms" -> bMed("commitOffsets"),
      "streaming.state_commit_ms" -> median(bs.map(_.stateCommitMs)),
      "streaming.state_rows_total" -> bMean(_.stateRows.toDouble),
      "streaming.state_rows_updated" -> bMean(_.stateUpdated.toDouble),
      "streaming.state_memory_bytes" -> bMean(_.stateMem.toDouble),
      "streaming.input_rows" -> bMean(_.inputRows.toDouble),
      "jvm.heap_peak_mb" -> ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }
}

object Tracer {
  final case class JobEv(id: Int, submit: Long, stageIds: Seq[Int])
  final case class StageEv(id: Int, attempt: Int, submit: Long, complete: Long)
  final case class TaskEv(stageId: Int, attempt: Int, launch: Long,
                          finish: Long, ok: Boolean, gettingResult: Long,
                          runMs: Long, cpuNs: Long, deserMs: Long, gcMs: Long,
                          resultSerMs: Long, peakMem: Long, inBytes: Long,
                          inRecords: Long, shWBytes: Long, shWRecords: Long,
                          shWNs: Long, shRBytes: Long, shRBlocks: Long,
                          shRWaitMs: Long, spillMem: Long, spillDisk: Long,
                          outBytes: Long, outRecords: Long)
  final case class PlanEv(start: Double, analysis: Double,
                          optimization: Double, physical: Double,
                          phases: Seq[(String, Double, Double)])
  final case class BatchEv(start: Double, durations: Map[String, Double],
                           inputRows: Long, stateRows: Long,
                           stateUpdated: Long, stateMem: Long,
                           stateCommitMs: Double)
  final case class Span(id: Long, parent: Long, op: Int, name: String,
                        start: Double, end: Double)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double,
              hi: Double): Double = {
    val clipped = intervals.map { case (s, e) =>
      (math.max(s, lo), math.min(e, hi)) }.filter(i => i._2 > i._1)
      .sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }
}
