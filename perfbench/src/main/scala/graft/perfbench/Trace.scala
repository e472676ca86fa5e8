package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One traced interval. Spans of one op share `op`; `parent` is the id of
  * the enclosing span (-1 for an op's root span). Times are nanoseconds
  * since the trace clock's origin. */
final case class Span(id: Int, op: Int, name: String, parent: Int,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span store; written out once, after the measured window. */
final class Spans {
  val originNs: Long = System.nanoTime()
  val originEpochMs: Long = System.currentTimeMillis()
  private val buf = mutable.ArrayBuffer.empty[Span]

  /** Listener timestamps are epoch milliseconds; map them onto the clock. */
  def fromEpochMs(ms: Long): Long = (ms - originEpochMs) * 1000000L

  def add(op: Int, name: String, parent: Int, start: Long, end: Long): Int =
    synchronized {
      val id = buf.size
      buf += Span(id, op, name, parent, start, end)
      id
    }
  def all: Seq[Span] = synchronized(buf.toList)

  /** A span's duration minus the part of it covered by its children. */
  def selfTime(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    s.dur - covered
  }
}

/** Task-metric totals of a set of tasks. */
final class TaskTotals {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var inputBytes = 0L

  def +=(o: TaskTotals): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    schedDelayMs += o.schedDelayMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; fetchWaitMs += o.fetchWaitMs
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
  }
}

final case class JobRec(id: Int, group: String, submitMs: Long,
    var endMs: Long = -1L)

/** Scheduler-side view of every job, stage and task, from Spark's public
  * listener API. Jobs are tied to an op by the job group the harness sets
  * around each call (`pb:<op>:<layer>`). */
final class SchedulerListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  val stageTasks = mutable.HashMap.empty[Int, TaskTotals]
  val completedStages = mutable.HashMap.empty[Int, Int] // stage -> job

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, group, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val id = e.stageInfo.stageId
      stageJob.get(id).foreach(j => completedStages(id) = j)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = stageTasks.getOrElseUpdate(e.stageId, new TaskTotals)
      val info = e.taskInfo
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      t.spillBytes += m.diskBytesSpilled
      t.inputBytes += m.inputMetrics.bytesRead
      val dur = info.finishTime - info.launchTime
      t.schedDelayMs += math.max(0L, dur - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
    }
  }

  /** Jobs whose group belongs to `op`, keyed by layer. */
  def jobsOf(op: Int): Seq[(String, JobRec)] = synchronized {
    val prefix = s"pb:$op:"
    jobs.values.collect {
      case j if j.group.startsWith(prefix) => (j.group.stripPrefix(prefix), j)
    }.toList
  }

  /** Jobs run under someone else's job group (a streaming query sets its
    * own); the caller ties them to an op by time. */
  def looseJobs: Seq[JobRec] = synchronized {
    jobs.values.filterNot(_.group.startsWith("pb:")).toList
  }

  def stagesOf(jobIds: Set[Int]): Seq[Int] = synchronized {
    completedStages.collect { case (s, j) if jobIds(j) => s }.toList
  }

  def totals(jobIds: Set[Int]): TaskTotals = synchronized {
    val t = new TaskTotals
    stageJob.foreach { case (s, j) =>
      if (jobIds(j)) stageTasks.get(s).foreach(t += _)
    }
    t
  }
}

/** Micro-batch progress of every streaming query, from Spark's public
  * streaming listener API. */
final class ProgressListener extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { progress += e.progress }
  def all: Seq[StreamingQueryProgress] = synchronized(progress.toList)
}
