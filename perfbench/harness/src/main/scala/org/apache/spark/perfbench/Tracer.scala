package org.apache.spark.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-lane layer counters. One SparkListener on the shared context sees
  * every job; lanes run one at a time and [[Probe.end]] drains the bus, so
  * the events between `begin` and `end` are the lane's own. The query and
  * streaming listeners go on the lane's own session: a streaming listener
  * on the root session never sees a lane session's micro-batches.
  */
final class Tracer(sc: SparkContext) {

  /** Counters of the lane being traced; replaced at each `begin`. */
  private final class Acc {
    val jobStart = mutable.Map.empty[Int, Long]
    val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
    var stages, tasks, taskFailures = 0L
    var runMs, cpuNs, gcMs, inBytes, inRows = 0L
    var shWrite, shWriteRecords, shRead, fetchWaitMs, spill = 0L
    val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
    val skews = mutable.ArrayBuffer.empty[Double]
    var queries = 0L
    var analysisMs, optimizationMs, planningMs = 0L
    val ops = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val batchMs = mutable.ArrayBuffer.empty[Long]
    var inputRows, addBatchMs, queryPlanningMs, walCommitMs, commitOffsetsMs = 0L
    var stateCommitMs, stateRows, stateMem, droppedLate = 0L
  }

  /** Guards `acc`, which the listener threads and the lane thread share. */
  private val lock = new Object
  private var acc = new Acc

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      acc.jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      acc.jobStart.remove(e.jobId).foreach(s => acc.jobs += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        acc.stages += 1
        val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
        acc.stageTaskMs.remove(key).filter(_.nonEmpty).foreach { ms =>
          val sorted = ms.sorted
          val median = sorted(sorted.size / 2).toDouble
          acc.skews += sorted.last / math.max(median, 1.0)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val a = acc
      a.tasks += 1
      if (e.reason != Success) a.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inBytes += m.inputMetrics.bytesRead
        a.inRows += m.inputMetrics.recordsRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.shWriteRecords += m.shuffleWriteMetrics.recordsWritten
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled
        a.stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
      }
    }
  })

  /** SQL metrics of the operators behind an executed plan, AQE stages and
    * subqueries included. Times in ms, sizes in bytes.
    */
  private object Ops extends AdaptiveSparkPlanHelper {
    private def metric(p: SparkPlan, name: String): Double =
      p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)

    def of(plan: SparkPlan): Seq[(String, Double)] =
      collectWithSubqueries(plan) {
        case p: WholeStageCodegenExec => Seq("wscg_ms" -> metric(p, "pipelineTime"))
        case p: BaseAggregateExec => Seq("agg_build_ms" -> metric(p, "aggTime"))
        case p: SortExec => Seq("sort_ms" -> metric(p, "sortTime"))
        case p: ShuffleExchangeExec =>
          Seq("exchange_write_ms" -> metric(p, "shuffleWriteTime") / 1e6)
        case p: FileSourceScanExec => Seq("scan_ms" -> metric(p, "scanTime"))
        case p: BroadcastExchangeExec => Seq(
          "broadcast_build_ms" -> metric(p, "buildTime"),
          "broadcast_bytes" -> metric(p, "dataSize"))
      }.flatten
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe, ok = true)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe, ok = false)
    private def record(qe: QueryExecution, ok: Boolean): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      val ops = if (ok) Ops.of(qe.executedPlan) else Nil
      lock.synchronized {
        acc.queries += 1
        acc.analysisMs += ms(QueryPlanningTracker.ANALYSIS)
        acc.optimizationMs += ms(QueryPlanningTracker.OPTIMIZATION)
        acc.planningMs += ms(QueryPlanningTracker.PLANNING)
        ops.foreach { case (k, v) => acc.ops(k) += v }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
      lock.synchronized {
        val a = acc
        a.batchMs += d.getOrElse("triggerExecution", 0L)
        a.inputRows += p.numInputRows
        a.addBatchMs += d.getOrElse("addBatch", 0L)
        a.queryPlanningMs += d.getOrElse("queryPlanning", 0L)
        a.walCommitMs += d.getOrElse("walCommit", 0L)
        a.commitOffsetsMs += d.getOrElse("commitOffsets", 0L)
        a.stateCommitMs += ops.map(_.commitTimeMs).sum
        a.stateRows = math.max(a.stateRows, ops.map(_.numRowsTotal).sum)
        a.stateMem = math.max(a.stateMem, ops.map(_.memoryUsedBytes).sum)
        a.droppedLate += ops.map(_.numRowsDroppedByWatermark).sum
      }
    }
  }

  /** Graft rules' (total ns, runs, effective runs) from the rule meter. */
  private def graftRules(): (Long, Long, Long) = {
    val rows = RuleExecutor.dumpTimeSpent().split("\n").toSeq
      .map(_.trim.split("\\s+")).filter(r => r.length >= 7 && r(0).startsWith("graft."))
    def at(i: Int): Long = rows.map(r => scala.util.Try(r(i).toLong).getOrElse(0L)).sum
    (at(3), at(6), at(4))
  }

  final class Probe private[Tracer] (session: SparkSession) {
    private val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    private val compileNs0 = CodeGenerator.compileTime

    /** Drains the listener bus, detaches, and returns the lane's counters. */
    def end(buildEndMs: Long): Seq[(String, Any)] = {
      sc.listenerBus.waitUntilEmpty(60000L)
      session.streams.removeListener(streamListener)
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .listenerManager.unregister(queryListener)
      val cached = sc.getRDDStorageInfo.filter(_.isCached)
      val (ruleNs, ruleRuns, ruleEffective) = graftRules()
      val a = lock.synchronized { val a = acc; acc = new Acc; a }
      Seq(
        "build_jobs" -> a.jobs.count(_._1 <= buildEndMs),
        "cache_left_bytes" -> cached.map(r => r.memSize + r.diskSize).sum,
        "queries" -> a.queries,
        "analysis_ms" -> a.analysisMs,
        "optimization_ms" -> a.optimizationMs,
        "planning_ms" -> a.planningMs,
        "graft_rule_ns" -> ruleNs,
        "graft_rule_runs" -> ruleRuns,
        "graft_rule_effective" -> ruleEffective,
        "compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0),
        "compile_ns" -> (CodeGenerator.compileTime - compileNs0),
        "jobs" -> a.jobs.size,
        "job_intervals" -> a.jobs.map { case (s, e) => Seq(s, e) }.toSeq,
        "stages" -> a.stages,
        "tasks" -> a.tasks,
        "task_failures" -> a.taskFailures,
        "task_run_ms" -> a.runMs,
        "task_cpu_ns" -> a.cpuNs,
        "gc_ms" -> a.gcMs,
        "stage_skews" -> a.skews.toSeq,
        "input_bytes" -> a.inBytes,
        "input_rows" -> a.inRows,
        "shuffle_write_bytes" -> a.shWrite,
        "shuffle_write_records" -> a.shWriteRecords,
        "shuffle_read_bytes" -> a.shRead,
        "fetch_wait_ms" -> a.fetchWaitMs,
        "spill_bytes" -> a.spill,
        "ops" -> a.ops.toMap,
        "batch_ms" -> a.batchMs.toSeq,
        "stream_input_rows" -> a.inputRows,
        "add_batch_ms" -> a.addBatchMs,
        "query_planning_ms" -> a.queryPlanningMs,
        "wal_commit_ms" -> a.walCommitMs,
        "commit_offsets_ms" -> a.commitOffsetsMs,
        "state_commit_ms" -> a.stateCommitMs,
        "state_rows" -> a.stateRows,
        "state_mem_bytes" -> a.stateMem,
        "state_dropped_late" -> a.droppedLate)
    }
  }

  /** Starts tracing one lane on its session `s`. */
  def begin(s: SparkSession): Probe = {
    sc.listenerBus.waitUntilEmpty(60000L)
    lock.synchronized { acc = new Acc }
    RuleExecutor.resetMetrics()
    s.streams.addListener(streamListener)
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager.register(queryListener)
    new Probe(s)
  }
}
