package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One SparkListener that counts what the `exec` layer did: jobs,
  * stages, tasks and their metrics, per job. A stage's tasks count
  * toward the job that first listed the stage. Jobs become spans under
  * the span that was open when they were submitted, found through the
  * `perfbench.span` local property the benchmark sets on its own
  * threads, or through the PgServer connection's job group. */
final class ExecListener extends SparkListener {
  import ExecListener.Job

  private val lock = new Object
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val jobOfStage = mutable.Map[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(ExecListener.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = new Job(e.jobId, e.time, span, group)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => if (!jobOfStage.contains(s)) jobOfStage(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    jobOfStage.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    jobOfStage.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.taskRunMs += m.executorRunTime
        j.taskCpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.spillBytes += m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  def jobList: Seq[Job] = lock.synchronized(jobs.values.toSeq)

  /** Wait (bounded) until every started job has been seen to end: the
    * listener bus delivers events asynchronously. */
  def settle(timeoutMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobList.exists(_.endMs < 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(100) // trailing task/stage events of the last job
  }

  /** Counters summed over the jobs `ids`. */
  def totals(ids: Set[Int]): Map[String, Double] = lock.synchronized {
    val js = ids.toSeq.flatMap(jobs.get)
    def sum(f: Job => Long) = js.map(f).sum.toDouble
    Map("jobs" -> js.size.toDouble, "stages" -> sum(_.stages), "tasks" -> sum(_.tasks),
      "task_run_s" -> sum(_.taskRunMs) / 1e3, "task_cpu_s" -> sum(_.taskCpuNs) / 1e9,
      "gc_s" -> sum(_.gcMs) / 1e3,
      "shuffle_write_mb" -> sum(_.shuffleWriteBytes) / 1e6,
      "shuffle_read_mb" -> sum(_.shuffleReadBytes) / 1e6,
      "spill_mb" -> sum(_.spillBytes) / 1e6, "input_mb" -> sum(_.inputBytes) / 1e6)
  }
}

object ExecListener {
  val SpanProperty = "perfbench.span"

  /** A job; `span` is the benchmark span that submitted it (0 if none),
    * `group` its job group. Times are epoch milliseconds; the counters
    * are those of its stages and tasks. */
  final class Job(val id: Int, val startMs: Long, val span: Long, val group: String) {
    var endMs = -1L
    var stages, tasks, taskRunMs, taskCpuNs, gcMs = 0L
    var shuffleWriteBytes, shuffleReadBytes, spillBytes, inputBytes = 0L
  }
}
