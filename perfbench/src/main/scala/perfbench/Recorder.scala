package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark's own listener events for the traced passes, attributed to the
  * benchmark execution that caused them. Each execution runs under a job
  * group named after its id; a stream's jobs carry the stream's run id as
  * their group instead, which `onQueryStarted` maps to the execution that
  * started it (that callback runs before `start()` returns). Jobs with any
  * other group fall back to the execution running when they started.
  *
  * Only counts, sums and task intervals are kept here; every derived
  * figure (idle time, spans, self time) is computed by `perfbench/run.py`.
  */
final class Recorder extends SparkListener {
  /** The execution id the client thread is running now, or null. */
  @volatile var current: String = null

  final class Job(val id: Int, val exec: String, val start: Long) {
    var end = -1L
  }
  final class Stage(val id: Int, val exec: String, val job: Int) {
    var submit = -1L
    var complete = -1L
  }
  final class Sums {
    var tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs = 0L
    var inBytes, inRows, outBytes, outRows = 0L
    var shWrite, shRead, fetchWaitMs, spillBytes = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  final class Stream(val runId: String, val exec: String, val name: String, val start: Long) {
    var end = -1L
    val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
  }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  val sums = mutable.LinkedHashMap.empty[String, Sums]
  val streams = mutable.LinkedHashMap.empty[String, Stream]
  private val execOfRun = mutable.HashMap.empty[String, String]
  /** Jobs with no attributable execution (should stay 0). */
  var unattributedJobs = 0

  private def execOf(props: java.util.Properties): String = {
    val group = Option(props).map(_.getProperty("spark.jobGroup.id")).orNull
    if (group != null && group.startsWith(Recorder.GroupPrefix)) group
    else if (group != null && execOfRun.contains(group)) execOfRun(group)
    else current
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = execOf(e.properties)
    if (exec == null) unattributedJobs += 1
    else {
      jobs(e.jobId) = new Job(e.jobId, exec, e.time)
      e.stageIds.foreach(s => if (!stages.contains(s)) stages(s) = new Stage(s, exec, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach(_.submit = e.stageInfo.submissionTime.getOrElse(-1L))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach(_.complete = e.stageInfo.completionTime.getOrElse(-1L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { st =>
      val s = sums.getOrElseUpdate(st.exec, new Sums)
      s.tasks += 1
      if (!e.taskInfo.successful) s.failedTasks += 1
      s.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.inBytes += m.inputMetrics.bytesRead
        s.inRows += m.inputMetrics.recordsRead
        s.outBytes += m.outputMetrics.bytesWritten
        s.outRows += m.outputMetrics.recordsWritten
        s.shWrite += m.shuffleWriteMetrics.bytesWritten
        s.shRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** The streaming half: gate lifecycles and micro-batch progress. */
  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Recorder.this.synchronized {
        val exec = current
        if (exec != null) {
          execOfRun(e.runId.toString) = exec
          streams(e.runId.toString) =
            new Stream(e.runId.toString, exec, Option(e.name).getOrElse(""), System.currentTimeMillis())
        }
      }

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Recorder.this.synchronized {
        val p = e.progress
        streams.get(p.runId.toString).foreach { s =>
          val d = p.durationMs
          def dur(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
          s.batches += Map(
            "batch" -> p.batchId,
            "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
            "trigger_ms" -> dur("triggerExecution"),
            "add_batch_ms" -> dur("addBatch"),
            "latest_offset_ms" -> dur("latestOffset"),
            "query_planning_ms" -> dur("queryPlanning"),
            "wal_commit_ms" -> dur("walCommit"),
            "input_rows" -> p.numInputRows,
            "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
            "state_mem_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
        }
      }

    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Recorder.this.synchronized {
        streams.get(e.runId.toString).foreach(_.end = System.currentTimeMillis())
      }
  }

  /** Everything recorded for one execution, as JSON-ready values. */
  def forExec(exec: String): Map[String, Any] = synchronized {
    val s = sums.getOrElse(exec, new Sums)
    Map(
      "jobs" -> jobs.values.filter(_.exec == exec).map(j => Map(
        "id" -> j.id, "start" -> j.start, "end" -> j.end,
        "stages" -> stages.values.filter(st => st.job == j.id && st.submit >= 0).map(st => Map(
          "id" -> st.id, "start" -> st.submit, "end" -> st.complete)).toSeq)).toSeq,
      "tasks" -> s.tasks, "failed_tasks" -> s.failedTasks,
      "task_run_ms" -> s.runMs, "task_cpu_ns" -> s.cpuNs, "task_gc_ms" -> s.gcMs,
      "input_bytes" -> s.inBytes, "input_rows" -> s.inRows,
      "output_bytes" -> s.outBytes, "output_rows" -> s.outRows,
      "shuffle_write_bytes" -> s.shWrite, "shuffle_read_bytes" -> s.shRead,
      "fetch_wait_ms" -> s.fetchWaitMs, "spill_bytes" -> s.spillBytes,
      "task_intervals" -> s.intervals.map { case (a, b) => Seq(a, b) }.toSeq,
      "streams" -> streams.values.filter(_.exec == exec).map(st => Map(
        "run_id" -> st.runId, "name" -> st.name, "start" -> st.start, "end" -> st.end,
        "batches" -> st.batches.toSeq)).toSeq)
  }
}

object Recorder {
  /** Prefix of the job groups the harness sets, one per execution. */
  val GroupPrefix = "perfbench:"
}
