package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one bucket (a query, or one probe of the traced run). */
final class LayerStats {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, delayMs, taskMs = 0L
  var inBytes, inRecords = 0L
  var shWriteBytes, shReadBytes, shRecords, fetchWaitMs = 0L
  var analysisMs, optimizationMs, planningMs, scanTimeMs, joinRows = 0L
  var storagePeakBytes = 0L
}

/** Listens from outside the program: Spark scheduler events (jobs, stages,
  * tasks, executor and shuffle metrics) and every executed plan (planning
  * phases, scan time, nested-loop join output). Jobs are attributed through
  * the local properties the harness sets before each call; executed plans
  * to the bucket current when the event arrives, which is exact because the
  * harness drains the bus before switching buckets. */
final class Layers(sc: SparkContext, trace: Trace) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  import Layers._

  private val stats = mutable.Map.empty[String, LayerStats]
  private val stageBucket = mutable.Map.empty[Int, String]
  private val jobInfo = mutable.Map.empty[Int, (String, Int, Double)]
  @volatile private var current: String = "untagged"

  def apply(bucket: String): LayerStats = synchronized(stats.getOrElseUpdate(bucket, new LayerStats))

  /** Tag the jobs the calling thread launches next. */
  def tag(bucket: String, spanId: Int): Unit = {
    current = bucket
    sc.setLocalProperty(BucketKey, bucket)
    sc.setLocalProperty(SpanKey, spanId.toString)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val bucket = props.flatMap(p => Option(p.getProperty(BucketKey))).getOrElse("untagged")
    val span = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)
    jobInfo(e.jobId) = (bucket, span, e.time.toDouble)
    e.stageIds.foreach(stageBucket(_) = bucket)
    apply(bucket).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (_, span, start) =>
      trace.add(s"spark.job.${e.jobId}", span, start, e.time.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = apply(stageBucket.getOrElse(e.stageInfo.stageId, "untagged"))
    s.stages += 1
    val used = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    s.storagePeakBytes = math.max(s.storagePeakBytes, used)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = apply(stageBucket.getOrElse(e.stageId, "untagged"))
    s.tasks += 1
    val info = e.taskInfo
    if (info != null) s.taskMs += info.duration
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inBytes += m.inputMetrics.bytesRead
      s.inRecords += m.inputMetrics.recordsRead
      s.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shRecords += m.shuffleReadMetrics.recordsRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      if (info != null)
        s.delayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    addPlan(current, qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    addPlan(current, qe)

  /** Analysis time of a DataFrame the harness built but does not execute
    * itself: its write runs under a separate command execution, which the
    * listener sees. Touching its executed plan here would plan it twice. */
  def addAnalysis(bucket: String, qe: QueryExecution): Unit = synchronized {
    apply(bucket).analysisMs += qe.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
  }

  /** Planning phases of a query execution, plus the scan time and the
    * nested-loop join output of its executed plan (AQE stages included). */
  private def addPlan(bucket: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val plan: SparkPlan = qe.executedPlan
    def metric(p: SparkPlan, name: String): Long = p.metrics.get(name).map(_.value).getOrElse(0L)
    val scan = collect(plan) { case p: FileSourceScanExec => metric(p, "scanTime") }.sum
    val joins = collect(plan) {
      case p: BroadcastNestedLoopJoinExec => metric(p, "numOutputRows")
      case p: CartesianProductExec => metric(p, "numOutputRows")
    }.sum
    synchronized {
      val s = apply(bucket)
      s.analysisMs += ms("analysis")
      s.optimizationMs += ms("optimization")
      s.planningMs += ms("planning")
      s.scanTimeMs += scan
      s.joinRows += joins
    }
  }
}

object Layers {
  val BucketKey = "perfbench.bucket"
  val SpanKey = "perfbench.span"
}
