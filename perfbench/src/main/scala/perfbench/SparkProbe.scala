package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Runtime counters for one measured interval, read from Spark's listener
  * events and from the SQL metrics of the executed plans. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    cpuNs: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    readBytes: Long = 0, writeBytes: Long = 0,
    worstSkew: Double = 1.0,
    jobIntervalsMs: List[(Long, Long)] = Nil,
    catalystNs: Long = 0,
    broadcastBytes: Long = 0, joinRows: Long = 0) {

  /** Milliseconds during which at least one job ran. */
  def busyMs: Long = Trace.covered(jobIntervalsMs)
}

/** Listener the benchmark attaches to its own session. It observes the
  * program from outside: job, stage and task events, and the plans of the
  * queries the program executes. */
final class SparkProbe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private var c = Counters()
  private val jobStart = mutable.Map.empty[Int, Long]

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    attached = true
  }

  def detach(): Unit = if (attached) {
    take()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    attached = false
  }

  /** Counters accumulated since the previous call; waits for pending events. */
  def take(): Counters = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    synchronized { val r = c; c = Counters(); r }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    c = c.copy(jobs = c.jobs + 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => c = c.copy(jobIntervalsMs = (t0, e.time) :: c.jobIntervalsMs))
  }

  private val stageTaskNs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      c = c.copy(
        tasks = c.tasks + 1,
        cpuNs = c.cpuNs + m.executorCpuTime,
        shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
        readBytes = c.readBytes + m.inputMetrics.bytesRead,
        writeBytes = c.writeBytes + m.outputMetrics.bytesWritten)
      stageTaskNs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    val skew = stageTaskNs.remove(key) match {
      case Some(ts) if ts.length >= 2 =>
        val med = Stats.median(ts.map(_.toDouble).toSeq)
        if (med > 0) ts.max / med else 1.0
      case _ => 1.0
    }
    c = c.copy(stages = c.stages + 1, worstSkew = math.max(c.worstSkew, skew))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val nodes = SparkProbe.nodes(qe.executedPlan)
    def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
    val joins = nodes.collect { case j: BaseJoinExec => j }
    val bcast = nodes.collect { case b: BroadcastExchangeExec => metric(b, "dataSize") }
    val catalyst = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum * 1000000L
    synchronized {
      c = c.copy(catalystNs = c.catalystNs + catalyst,
        broadcastBytes = c.broadcastBytes + bcast.sum,
        joinRows = c.joinRows + joins.map(metric(_, "numOutputRows")).sum)
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object SparkProbe {
  /** Every node of an executed plan, through adaptive wrappers, query
    * stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
