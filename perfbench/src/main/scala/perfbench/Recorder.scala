package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Everything the traced run learns from Spark's own listener interfaces,
  * registered by the benchmark on its session. Times are epoch ms as Spark
  * reports them. */
final class Recorder extends SparkListener with QueryExecutionListener {

  final class Job(val id: Int, val execId: Long, val start: Long, val stageIds: Seq[Int]) {
    var end: Long = -1L
  }
  final class Stage(val id: Int, val details: String, val scopes: Seq[String]) {
    var submitted: Long = -1L
    var completed: Long = -1L
    var skipped = true
    val taskMs = mutable.ArrayBuffer.empty[Long] // executor run time per task
    val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    var recordsIn = 0L        // rows read from files
    var shuffleRecordsIn = 0L // rows read from shuffle
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }
  final case class Qe(funcName: String, analysis: Double, optimization: Double,
      planning: Double, execS: Double, end: Long, phases: Seq[(String, (Long, Long))])

  /** Call site (stack) of each SQL execution, by execution id. */
  val execSites = mutable.HashMap.empty[Long, String]
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  val qes = mutable.ArrayBuffer.empty[Qe]

  def clear(): Unit = synchronized { execSites.clear(); jobs.clear(); stages.clear(); qes.clear() }

  private def stage(info: StageInfo): Stage = stages.getOrElseUpdate(info.stageId,
    new Stage(info.stageId, info.details, info.rddInfos.flatMap(_.scope.map(_.name)).distinct))

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart => execSites(e.executionId) = e.details
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = new Job(e.jobId, exec, e.time, e.stageIds)
    e.stageInfos.foreach(stage)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stage(e.stageInfo)
    s.skipped = false
    s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo)
    s.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new Stage(e.stageId, "", Nil))
    s.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      s.taskMs += m.executorRunTime
      s.recordsIn += m.inputMetrics.recordsRead
      s.shuffleRecordsIn += m.shuffleReadMetrics.recordsRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val ph = qe.tracker.phases
      def secs(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs) / 1e3).getOrElse(0.0)
      qes += Qe(funcName, secs("analysis"), secs("optimization"), secs("planning"),
        durationNs / 1e9, System.currentTimeMillis(),
        ph.toSeq.map { case (k, p) => k -> ((p.startTimeMs, p.endTimeMs)) })
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
