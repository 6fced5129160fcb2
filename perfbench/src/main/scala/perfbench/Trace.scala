package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{DataSourceScanExec, LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw listener records of one traced op. Only one op runs at a time and
  * the listener bus is drained after each traced op, so every event that
  * arrives while an op is current belongs to it. Times are epoch ms. */
final class OpRecord(val kind: String) {
  var startMs, builtMs, endMs = 0L
  var wallNs, buildNs = 0L
  val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, (Long, Long)] // id -> (start, end)
  val stages = ArrayBuffer.empty[(Int, Boolean)]        // (tasks, failed)
  val tasks = ArrayBuffer.empty[TaskRec]
  val execs = ArrayBuffer.empty[ExecRec]
  val streamStarts = ArrayBuffer.empty[(String, Long)]  // (runId, ms)
  val progress = ArrayBuffer.empty[StreamingQueryProgress]
}

final case class TaskRec(stage: Int, launch: Long, finish: Long, failed: Boolean,
  runMs: Long, cpuNs: Long, gcMs: Long, delayMs: Long, diskSpill: Long,
  inBytes: Long, inRows: Long, outBytes: Long,
  shuffleRead: Long, fetchWaitMs: Long, shuffleWrite: Long)

final case class ExecRec(phases: Seq[(String, Long, Long)], scans: Int,
  exchanges: Int, scanFiles: Long, writeFiles: Long)

/** Spark's public listener APIs (SparkListener, QueryExecutionListener,
  * StreamingQueryListener), attached only while a traced op runs. */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  @volatile private var current: OpRecord = null
  private def rec(f: OpRecord => Unit): Unit = {
    val r = current
    if (r != null) r.synchronized(f(r))
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      rec(_.jobs(e.jobId) = (e.time, Long.MaxValue))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      rec(r => r.jobs.get(e.jobId).foreach(j => r.jobs(e.jobId) = (j._1, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      rec(_.stages += ((e.stageInfo.numTasks, e.stageInfo.failureReason.isDefined)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = rec { r =>
      val i = e.taskInfo
      val m = e.taskMetrics
      val failed = !i.successful
      if (m == null) r.tasks += TaskRec(e.stageId, i.launchTime, i.finishTime, failed,
        0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
      else {
        val dur = i.finishTime - i.launchTime
        val delay = math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L))
        val sr = m.shuffleReadMetrics
        r.tasks += TaskRec(e.stageId, i.launchTime, i.finishTime, failed,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime, delay, m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
          sr.remoteBytesRead + sr.localBytesRead, sr.fetchWaitTime,
          m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  private val execListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
      val plan: SparkPlan = qe.executedPlan
      val leaves = collectWithSubqueries(plan) {
        case l: LeafExecNode if !l.isInstanceOf[QueryStageExec] &&
          !l.isInstanceOf[ReusedExchangeExec] => l
      }
      val exchanges = collectWithSubqueries(plan) { case x: Exchange => x }
      val files = leaves.collect { case s: DataSourceScanExec => metric(s, "numFiles") }.sum
      val written = collectWithSubqueries(plan) {
        case w: DataWritingCommandExec => w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      rec(_.execs += ExecRec(phases, leaves.size, exchanges.size, files, written))
    }
  }

  private def metric(p: SparkPlan, key: String): Long =
    p.metrics.get(key).map(_.value).getOrElse(0L)

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      rec(_.streamStarts += ((e.runId.toString, System.currentTimeMillis())))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      rec(_.progress += e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(execListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(execListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.sql.graft.bridge.drainListenerBus(spark)

  def begin(r: OpRecord): Unit = current = r

  /** Waits until every event of the op is delivered, then stops
    * recording. Called after the op's wall time is taken. */
  def end(): Unit = { drain(); current = null }
}

/** Folds op records into the per-layer metrics: each metric is the mean
  * per traced op, so runs of different lengths compare. */
object Layers {
  private def union(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = spans.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    covered
  }

  private def skew(tasks: Seq[TaskRec]): Option[Double] = tasks.filter(_.shuffleRead > 0)
    .groupBy(_.stage).values.filter(_.size >= 2).flatMap { ts =>
      val s = ts.map(_.shuffleRead).sorted
      val med = Stats.median(s.map(_.toDouble))
      if (med > 0) Some(s.last / med) else None
    }.maxOption

  private def instantMs(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli

  def perOp(r: OpRecord, cores: Int): Map[String, Double] = {
    val wallMs = r.wallNs / 1e6
    def sum(f: TaskRec => Long): Double = r.tasks.map(f).sum.toDouble
    def phase(n: String): Double =
      r.execs.flatMap(_.phases).filter(_._1 == n).map(p => (p._3 - p._2).toDouble).sum
    val prog = r.progress.toSeq
    def durMs(p: StreamingQueryProgress, k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    def dur(k: String): Double = prog.map(durMs(_, k)).sum.toDouble
    val firstByRun = prog.groupBy(_.runId.toString).map { case (id, ps) => id -> instantMs(ps.minBy(_.batchId).timestamp) }
    val streamStart = r.streamStarts.flatMap { case (id, t) => firstByRun.get(id).map(_ - t) }.sum.toDouble
    val streamSpans = r.streamStarts.flatMap { case (id, t) =>
      prog.filter(_.runId.toString == id)
        .map(p => instantMs(p.timestamp) + durMs(p, "triggerExecution"))
        .maxOption.map(e => (t, e)) }
    val phaseSpans = r.execs.flatMap(_.phases.map(p => (p._2, p._3)))
    val covered = union(phaseSpans.toSeq ++ r.jobs.values ++ streamSpans, r.startMs, r.endMs)
    val taskCover = union(r.tasks.map(t => (t.launch, t.finish)).toSeq, r.startMs, r.endMs)
    Map(
      "queries.build_ms" -> r.buildNs / 1e6,
      "queries.eager_jobs" -> r.jobs.values.count(_._1 < r.builtMs).toDouble,
      "plans.analysis_ms" -> phase("analysis"),
      "plans.optimization_ms" -> phase("optimization"),
      "plans.planning_ms" -> phase("planning"),
      "plans.scan_nodes" -> r.execs.map(_.scans).sum.toDouble,
      "plans.exchange_nodes" -> r.execs.map(_.exchanges).sum.toDouble,
      "scheduler.jobs" -> r.jobs.size.toDouble,
      "scheduler.stages" -> r.stages.size.toDouble,
      "scheduler.tasks" -> r.tasks.size.toDouble,
      "scheduler.delay_ms" -> sum(_.delayMs),
      "scheduler.driver_only_ms" -> math.max(0.0, wallMs - taskCover),
      "scheduler.failed_tasks" -> r.tasks.count(_.failed).toDouble,
      "sources.scan_bytes" -> sum(_.inBytes),
      "sources.scan_files" -> r.execs.map(_.scanFiles).sum.toDouble,
      "sources.scan_rows" -> sum(_.inRows),
      "sources.write_bytes" -> sum(_.outBytes),
      "sources.write_files" -> r.execs.map(_.writeFiles).sum.toDouble,
      "shuffle.write_bytes" -> sum(_.shuffleWrite),
      "shuffle.read_bytes" -> sum(_.shuffleRead),
      "shuffle.fetch_wait_ms" -> sum(_.fetchWaitMs),
      "tasks.run_ms" -> sum(_.runMs),
      "tasks.cpu_ms" -> sum(_.cpuNs) / 1e6,
      "tasks.gc_ms" -> sum(_.gcMs),
      "tasks.spill_bytes" -> sum(_.diskSpill),
      "tasks.cpu_util" -> (if (wallMs > 0) sum(_.cpuNs) / 1e6 / (wallMs * cores) else 0.0),
      "streaming.batches" -> prog.size.toDouble,
      "streaming.start_ms" -> streamStart,
      "streaming.trigger_ms" -> dur("triggerExecution"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.state_rows" -> prog.map(_.stateOperators.map(_.numRowsTotal).sum).maxOption.getOrElse(0L).toDouble,
      "streaming.state_commit_ms" -> prog.map(_.stateOperators.map(_.commitTimeMs).sum).sum.toDouble,
      "streaming.state_memory_bytes" -> prog.map(_.stateOperators.map(_.memoryUsedBytes).sum).maxOption.getOrElse(0L).toDouble,
      "streaming.rows_dropped_by_watermark" -> prog.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum.toDouble,
      "bench.unattributed_ms" -> math.max(0.0, wallMs - covered),
    ) ++ skew(r.tasks.toSeq).map("shuffle.skew" -> _)
  }

  /** Mean of each per-op metric over the traced ops (skew over the ops
    * that had a shuffle). */
  def mean(perOps: Seq[Map[String, Double]]): Map[String, Double] =
    perOps.flatMap(_.keys).distinct.map { k =>
      val xs = perOps.flatMap(_.get(k))
      k -> xs.sum / xs.size
    }.toMap
}
