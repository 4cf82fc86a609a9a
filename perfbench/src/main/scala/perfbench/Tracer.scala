package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** The traced run's recorder: a SparkListener and a StreamingQueryListener
  * that keep every job, stage (with its task metrics and task intervals)
  * and streaming query in memory, each tagged with the query phase that
  * caused it. The tag is the `perfbench.span` local property the runner
  * sets before each phase; jobs carry it in their properties, and stream
  * threads inherit it from the thread that started them.
  *
  * Nothing here interprets the data: `records` hands it to the harness,
  * which computes self times, module attribution and the per-layer metrics.
  */
final class Tracer(spark: SparkSession, currentTag: () => String) extends SparkListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap[Int, mutable.Map[String, Any]]()
  private val stages = mutable.LinkedHashMap[(Int, Int), StageRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val streams = mutable.LinkedHashMap[String, mutable.Map[String, Any]]()

  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(TagKey))).getOrElse("untagged")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    // the result stage's call site is the job's
    val details = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
    jobs(e.jobId) = mutable.Map("job" -> e.jobId, "tag" -> tagOf(e.properties), "details" -> details,
      "start_ms" -> e.time, "stages" -> e.stageIds.toList, "end_ms" -> -1L, "ok" -> false)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j("end_ms") = e.time
      j("ok") = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stages.getOrElseUpdate((i.stageId, i.attemptNumber()), new StageRec(i, stageJob.getOrElse(i.stageId, -1)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val r = stages.getOrElseUpdate((i.stageId, i.attemptNumber()), new StageRec(i, stageJob.getOrElse(i.stageId, -1)))
    r.end = i.completionTime.getOrElse(-1L)
    r.start = i.submissionTime.getOrElse(r.start)
    r.failed = i.failureReason.isDefined
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { r =>
      val info = e.taskInfo
      r.intervals += info.launchTime += info.finishTime
      r.tasks += 1
      if (e.reason != org.apache.spark.Success) r.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        r.cpuNs += m.executorCpuTime
        r.runMs += m.executorRunTime
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        r.inputBytes += m.inputMetrics.bytesRead
        if (m.inputMetrics.recordsRead > 0) r.tasksReading += 1
        r.outputBytes += m.outputMetrics.bytesWritten
        r.outputRecords += m.outputMetrics.recordsWritten
        if (m.outputMetrics.recordsWritten > 0 || m.outputMetrics.bytesWritten > 0) r.tasksWriting += 1
      }
    }
  }

  /** Stream lifecycle, keyed by run id. `onQueryStarted` is delivered on the
    * stream's own thread, which inherited the starting phase's tag. */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = Tracer.this.synchronized {
      val tag = Option(spark.sparkContext.getLocalProperty(TagKey)).getOrElse(currentTag())
      streams(e.runId.toString) = mutable.Map("run_id" -> e.runId.toString, "name" -> Option(e.name).getOrElse(""),
        "tag" -> tag, "start_ms" -> System.currentTimeMillis(), "end_ms" -> -1L, "batches" -> 0,
        "trigger_ms" -> 0L, "commit_ms" -> 0L, "state_commit_ms" -> 0L, "state_rows" -> 0L)
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Tracer.this.synchronized {
      val p = e.progress
      streams.get(p.runId.toString).foreach { s =>
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        s("batches") = s("batches").asInstanceOf[Int] + 1
        s("trigger_ms") = s("trigger_ms").asInstanceOf[Long] + d("triggerExecution")
        s("commit_ms") = s("commit_ms").asInstanceOf[Long] + d("walCommit") + d("commitOffsets")
        s("state_commit_ms") = s("state_commit_ms").asInstanceOf[Long] + p.stateOperators.map(_.commitTimeMs).sum
        s("state_rows") = p.stateOperators.map(_.numRowsTotal).sum
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = Tracer.this.synchronized {
      streams.get(e.runId.toString).foreach(_("end_ms") = System.currentTimeMillis())
    }
  }

  def records: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.values.map(_.toMap).toList,
      "stages" -> stages.values.map(_.toMap).toList,
      "streams" -> streams.values.map(_.toMap).toList)
  }
}

object Tracer {
  val TagKey = "perfbench.span"

  final class StageRec(info: StageInfo, val job: Int) {
    var start: Long = info.submissionTime.getOrElse(System.currentTimeMillis())
    var end: Long = -1L
    var failed = false
    var tasks, taskFailures, tasksReading, tasksWriting = 0
    var cpuNs, runMs, shuffleWrite, shuffleRead, spill, inputBytes, outputBytes, outputRecords = 0L
    val intervals = mutable.ArrayBuffer[Long]()
    // a stage scans a file when a FileScanRDD is in its lineage
    private val scan = info.rddInfos.exists(_.name.contains("FileScan"))

    def toMap: Map[String, Any] = Map(
      "stage" -> info.stageId, "attempt" -> info.attemptNumber(), "job" -> job,
      "details" -> info.details, "scan" -> scan, "start_ms" -> start, "end_ms" -> end,
      "failed" -> failed, "tasks" -> tasks, "task_failures" -> taskFailures,
      "tasks_reading" -> tasksReading, "tasks_writing" -> tasksWriting,
      "cpu_ns" -> cpuNs, "run_ms" -> runMs, "shuffle_write" -> shuffleWrite,
      "shuffle_read" -> shuffleRead, "spill" -> spill, "input_bytes" -> inputBytes,
      "output_bytes" -> outputBytes, "output_records" -> outputRecords,
      "intervals" -> intervals.toList)
  }
}
