package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts summed over the tasks of a Spark job. */
final class TaskTotals {
  var runMs = 0L
  var waitMs = 0L
  var bytesRead = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  def add(o: TaskTotals): Unit = {
    runMs += o.runMs; waitMs += o.waitMs; bytesRead += o.bytesRead
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }
}

final case class JobRec(jobId: Int, group: Option[String], startMs: Long, endMs: Long,
    totals: TaskTotals)

/** Output rows and files of one file-scan node, keyed by the node's
  * identity: a cached plan's scan shows up in every execution reading the
  * cache but ran once.
  */
final case class ScanRec(node: Int, rows: Long, files: Long)

/** One SQL execution: its job group, start time, planning time
  * (analysis + optimization + planning from `QueryExecution.tracker`) and
  * the file-scan nodes of its executed plan.
  */
final case class SqlRec(execId: Long, group: Option[String], startMs: Long, endMs: Long,
    planningMs: Double, scans: Seq[ScanRec])

/** Spark-side tracing, entirely from outside the program: a SparkListener
  * for jobs, stages and tasks, and a QueryExecutionListener for planning
  * time and scan metrics. Events arrive on Spark's listener thread;
  * [[drain]] waits until every event posted so far has been handled.
  */
final class SparkTrace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val sqlStart = mutable.Map[Long, (Option[String], Long)]()
  private val sqls = mutable.ArrayBuffer[SqlRec]()
  private val DrainGroup = "perfbench-drain"
  @volatile private var drained = false

  private object Scans extends AdaptiveSparkPlanHelper {
    def of(plan: SparkPlan): Seq[FileSourceScanExec] =
      collectWithSubqueries(plan) {
        case s: FileSourceScanExec => Seq(s)
        case m: InMemoryTableScanExec => of(m.relation.cachedPlan)
      }.flatten
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = SparkTrace.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty(SparkTrace.GroupKey)))
      jobs(e.jobId) = JobRec(e.jobId, group, e.time, e.time, new TaskTotals)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = SparkTrace.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        jobs(e.jobId) = j.copy(endMs = e.time)
        if (j.group.contains(DrainGroup)) drained = true
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = SparkTrace.this.synchronized {
      for (jobId <- stageJob.get(e.stageId); j <- jobs.get(jobId)
           if e.taskMetrics != null && e.taskInfo != null) {
        val m = e.taskMetrics
        val t = j.totals
        t.runMs += m.executorRunTime
        // the Spark UI's scheduler delay: task wall time not spent
        // deserializing, running, or shipping the result
        t.waitMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (e.taskInfo.gettingResult) e.taskInfo.finishTime - e.taskInfo.gettingResultTime
           else 0L))
        t.bytesRead += m.inputMetrics.bytesRead
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => SparkTrace.this.synchronized {
        sqlStart(s.executionId) = (s.jobGroupId, s.time)
      }
      case _ =>
    }
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val planning = phases.collect {
        case (name, p) if name != "parsing" => p.durationMs.toDouble
      }.sum
      def metric(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
      val scans = scala.util.Try(Scans.of(qe.executedPlan)).getOrElse(Nil).map(s =>
        ScanRec(System.identityHashCode(s), metric(s, "numOutputRows"), metric(s, "numFiles")))
      SparkTrace.this.synchronized {
        val (group, start) = sqlStart.getOrElse(qe.id,
          (None, phases.values.map(_.startTimeMs).minOption.getOrElse(0L)))
        sqls += SqlRec(qe.id, group, start, start + durationNs / 1000000L, planning, scans)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def start(): Unit = {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(sqlListener)
  }

  /** Run a marker job and wait for its end event: events are handled in
    * the order they were posted, so everything before it has been seen.
    */
  def drain(timeoutMs: Long = 30000L): Unit = {
    drained = false
    sc.setJobGroup(DrainGroup, "drain listener events", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!drained && System.currentTimeMillis() < deadline) Thread.sleep(10)
  }

  def stop(): Unit = {
    spark.listenerManager.unregister(sqlListener)
    sc.removeSparkListener(jobListener)
  }

  def jobRecords: Seq[JobRec] = synchronized(jobs.values.filterNot(_.group.contains(DrainGroup)).toVector)
  def sqlRecords: Seq[SqlRec] = synchronized(sqls.toVector)
}

object SparkTrace {
  /** Local property `SparkContext.setJobGroup` sets on the calling thread. */
  val GroupKey = "spark.jobGroup.id"
}
