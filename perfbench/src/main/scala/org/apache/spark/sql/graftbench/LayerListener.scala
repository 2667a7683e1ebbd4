package org.apache.spark.sql.graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** One listener on the SparkContext bus for every layer the benchmark
  * traces. It sits at the context level, not on a session, because graft
  * runs MR jobs and streaming drains in `newSession()` child sessions that
  * a session-scoped `QueryExecutionListener` or `StreamingQueryListener`
  * on the root session never sees. SQL-execution ends and streaming
  * progress arrive through `onOtherEvent`.
  *
  * Counters only grow; callers take [[snapshot]]s around the interval they
  * measure and subtract. Lives in an `org.apache.spark.sql` subpackage for
  * the `private[sql]` `QueryExecution` carried by the execution-end event.
  */
final class LayerListener extends SparkListener with AdaptiveSparkPlanHelper {
  private val c = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  // task kind per running stage, to split map stages from result stages
  private val stageKind = mutable.HashMap.empty[Int, String]
  private val batchMs = mutable.ArrayBuffer.empty[Double]
  private val lastProgress = mutable.LinkedHashMap.empty[java.util.UUID, QueryProgressEvent]

  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { add("spark.jobs", 1) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    add("spark.stages", 1)
    val secs = (for (s <- si.submissionTime; f <- si.completionTime) yield (f - s) / 1e3).getOrElse(0.0)
    stageKind.remove(si.stageId) match {
      case Some("ShuffleMapTask") => add("stage.map_s", secs)
      case Some(_) => add("stage.result_s", secs)
      case None => ()
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageKind.getOrElseUpdate(e.stageId, e.taskType)
    add("spark.tasks", 1)
    if (!e.taskInfo.successful) add("spark.task_failures", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("spark.task_run_s", m.executorRunTime / 1e3)
      add("spark.task_cpu_s", m.executorCpuTime / 1e9)
      add("spark.task_gc_s", m.jvmGCTime / 1e3)
      add("spark.task_deser_s", m.executorDeserializeTime / 1e3)
      val wall = e.taskInfo.finishTime - e.taskInfo.launchTime
      val sched = wall - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - e.taskInfo.gettingResultTime
      add("spark.sched_delay_s", math.max(0L, sched) / 1e3)
      add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      add("spark.shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      add("spark.input_mb", m.inputMetrics.bytesRead / 1e6)
      add("spark.output_mb", m.outputMetrics.bytesWritten / 1e6)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd if end.qe != null => synchronized {
      add("catalyst.executions", 1)
      val phases = end.qe.tracker.phases
      add("catalyst.plan_s", Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(p => (p.endTimeMs - p.startTimeMs) / 1e3).sum)
      val exchanges = collectWithSubqueries(end.qe.executedPlan) {
        case x: ShuffleExchangeLike => x: SparkPlan
        case x: BroadcastExchangeLike => x: SparkPlan
      }
      add("catalyst.exchanges", exchanges.distinct.size)
    }
    case p: QueryProgressEvent => synchronized {
      val d = p.progress.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      add("streaming.batches", 1)
      batchMs += ms("triggerExecution")
      add("streaming.add_batch_s", ms("addBatch") / 1e3)
      add("streaming.wal_commit_s", ms("walCommit") / 1e3)
      add("streaming.commit_offsets_s", ms("commitOffsets") / 1e3)
      add("streaming.query_planning_s", ms("queryPlanning") / 1e3)
      add("streaming.fixed_ms", ms("triggerExecution") - ms("addBatch"))
      add("streaming.state_commit_s", p.progress.stateOperators.map(_.commitTimeMs).sum / 1e3)
      lastProgress(p.progress.runId) = p
    }
    case _ => ()
  }

  /** Waits for the bus to deliver everything posted so far. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Current totals, with Spark's static codegen counters. */
  def snapshot(): Map[String, Double] = synchronized {
    val cg = Map(
      "codegen.classes" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      // the histogram keeps a sample, so total time is count x sampled mean
      "codegen.compile_s" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount *
        CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean / 1e3)
    c.toMap ++ cg
  }

  /** Micro-batch latencies since the last call, and the state rows and
    * memory each stream held at its last batch.
    */
  def takeBatches(): (Seq[Double], Double, Double) = synchronized {
    val ops = lastProgress.values.flatMap(_.progress.stateOperators)
    val out = (batchMs.toList, ops.map(_.numRowsTotal.toDouble).sum,
      ops.map(_.memoryUsedBytes / 1e6).sum)
    batchMs.clear()
    lastProgress.clear()
    out
  }
}
