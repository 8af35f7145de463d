package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's own counters, summed over every job that runs while the tap is
  * registered and `on`: the task metrics from a `SparkListener`, and the
  * planning phases and scanned files of each action from a
  * `QueryExecutionListener`. The execution listener reaches a streaming
  * query's `foreachBatch` actions only when it was registered before the
  * query started (the query's session is a clone that copies the listeners
  * at its start). A micro-batch is not an action, and `foreachBatch` hands
  * its body the batch as an RDD, so the batch's planning comes from its
  * progress and its file scans from the query's last executed plan.
  */
final class SparkTap extends SparkListener with QueryExecutionListener {
  @volatile var on = false
  private var session: SparkSession = _

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (on) {
      val p = e.progress
      Option(p.durationMs.get("queryPlanning"))
        .foreach(ms => planNs.addAndGet(ms.longValue * 1000000L))
      // the plan is the batch's own only if no later batch has replaced it
      if (p.numInputRows > 0) Option(session.streams.get(p.id)).collect {
        case q: StreamingQueryWrapper => q.streamingQuery.lastExecution
      }.filter(x => x != null && x.currentBatchId == p.batchId)
        .foreach(x => files.addAndGet(SparkTap.filesRead(x.executedPlan)))
    }
  }

  private val jobs, tasks, runMs, cpuNs, shW, shR, spill, planNs, files =
    new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) { jobs.incrementAndGet(); () }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = if (on) {
    planNs.addAndGet(qe.tracker.phases.values.map(p => p.durationMs * 1000000L).sum)
    files.addAndGet(SparkTap.filesRead(qe.executedPlan))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def snap(): SparkTap.Totals = SparkTap.Totals(jobs.get, tasks.get, runMs.get,
    cpuNs.get, shW.get, shR.get, spill.get, planNs.get, files.get, SparkTap.gcMs())

  def register(spark: SparkSession): Unit = {
    session = spark
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streams)
  }
}

object SparkTap {
  final case class Totals(jobs: Long, tasks: Long, runMs: Long, cpuNs: Long,
                          shuffleWrite: Long, shuffleRead: Long, spill: Long,
                          planNs: Long, files: Long, gcMs: Long) {
    def -(o: Totals): Totals = Totals(jobs - o.jobs, tasks - o.tasks, runMs - o.runMs,
      cpuNs - o.cpuNs, shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
      spill - o.spill, planNs - o.planNs, files - o.files, gcMs - o.gcMs)

    /** The Spark-layer metrics per client operation. */
    def perOp(ops: Long): Seq[(String, Double, String)] = {
      val n = math.max(ops, 1L).toDouble
      val mb = 1024.0 * 1024.0
      Seq(
        ("spark.planning_s", planNs / 1e9 / n, "s"),
        ("spark.jobs", jobs / n, "count"),
        ("spark.tasks", tasks / n, "count"),
        ("spark.executor_run_s", runMs / 1e3 / n, "s"),
        ("spark.executor_cpu_s", cpuNs / 1e9 / n, "s"),
        ("spark.shuffle_write_mb", shuffleWrite / mb / n, "MB"),
        ("spark.shuffle_read_mb", shuffleRead / mb / n, "MB"),
        ("spark.spill_mb", spill / mb / n, "MB"),
        ("spark.files_read", files / n, "count"),
        ("spark.gc_s", gcMs / 1e3 / n, "s"))
    }
  }

  /** Collection time of every collector of this JVM, in ms. */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }

  /** Files read by the scans of an executed plan. */
  def filesRead(p: SparkPlan): Long = scans(p).flatMap(_.metrics.get("numFiles")).map(_.value).sum

  /** The file scans of an executed plan, through adaptive stages. */
  def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }
}
