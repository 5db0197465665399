package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark events of the traced run, kept in memory until the run ends.
  * Registered only with --trace 1, so the untraced run pays nothing. */
final class Recorder extends SparkListener {
  import Recorder._
  private val jobs = mutable.Map[Int, Job]()
  private val stageToJob = mutable.Map[Int, Int]()
  private val stagesRun = mutable.ArrayBuffer[Int]()
  private val tasks = mutable.ArrayBuffer[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time, -1L)
    e.stageIds.foreach(s => stageToJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { stagesRun += e.stageInfo.stageId }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val overhead = m.executorDeserializeTime + m.resultSerializationTime
      tasks += Task(e.stageId,
        runMs = m.executorRunTime,
        cpuMs = m.executorCpuTime / 1e6,
        gcMs = m.jvmGCTime,
        deserMs = m.executorDeserializeTime,
        schedDelayMs = math.max(0L, info.duration - m.executorRunTime - overhead -
          info.gettingResultTime),
        shuffleRead = m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        spill = m.memoryBytesSpilled + m.diskBytesSpilled,
        input = m.inputMetrics.bytesRead,
        output = m.outputMetrics.bytesWritten)
    }
  }

  def snapshot(): Events = synchronized {
    Events(jobs.values.toSeq.sortBy(_.id), stageToJob.toMap, stagesRun.toSeq, tasks.toSeq)
  }
}

object Recorder {
  final case class Job(id: Int, startMs: Long, endMs: Long)
  final case class Task(stage: Int, runMs: Long, cpuMs: Double, gcMs: Long,
      deserMs: Long, schedDelayMs: Long, shuffleRead: Long, shuffleWrite: Long,
      spill: Long, input: Long, output: Long)
  final case class Events(jobs: Seq[Job], stageToJob: Map[Int, Int],
      stagesRun: Seq[Int], tasks: Seq[Task])
}

/** Spark's share of one op, after its events are attributed to it. */
final case class OpSpark(jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
    jobActiveMs: Double = 0, taskRunMs: Double = 0, taskCpuMs: Double = 0,
    gcMs: Double = 0, deserMs: Double = 0, schedDelayMs: Double = 0,
    shuffleRead: Double = 0, shuffleWrite: Double = 0, spill: Double = 0,
    input: Double = 0, output: Double = 0)

object Attribution {
  import Recorder._

  /** The op whose interval holds `ms`, if any. Ops run one at a time (one
    * closed-loop client), so a job belongs to the op running when Spark
    * stamped its submission; jobs launched from helper threads (broadcasts,
    * subqueries) are covered the same way. */
  def opAt(ops: IndexedSeq[OpRecord], ms: Long): Option[Int] = {
    var lo = 0
    var hi = ops.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val o = ops(mid)
      if (ms < o.startMs) hi = mid - 1
      else if (ms > o.endMs) lo = mid + 1
      else return Some(mid)
    }
    None
  }

  /** Per-op Spark figures, index-aligned with `ops` (sorted by start). */
  def perOp(ops: IndexedSeq[OpRecord], ev: Events): IndexedSeq[OpSpark] = {
    val jobOp: Map[Int, Int] = ev.jobs.flatMap(j => opAt(ops, j.startMs).map(j.id -> _)).toMap
    val stageOp: Map[Int, Int] = ev.stageToJob.flatMap { case (s, j) => jobOp.get(j).map(s -> _) }
    val jobsOf = ev.jobs.groupBy(j => jobOp.getOrElse(j.id, -1))
    val stagesOf = ev.stagesRun.groupBy(s => stageOp.getOrElse(s, -1))
    val tasksOf = ev.tasks.groupBy(t => stageOp.getOrElse(t.stage, -1))
    ops.indices.map { i =>
      val op = ops(i)
      val js = jobsOf.getOrElse(i, Nil)
      val ts = tasksOf.getOrElse(i, Nil)
      OpSpark(
        jobs = js.length,
        stages = stagesOf.getOrElse(i, Nil).length,
        tasks = ts.length,
        jobActiveMs = covered(js.map(j => (j.startMs, if (j.endMs < 0) op.endMs else j.endMs)),
          op.startMs, op.endMs).toDouble,
        taskRunMs = ts.map(_.runMs).sum.toDouble,
        taskCpuMs = ts.map(_.cpuMs).sum,
        gcMs = ts.map(_.gcMs).sum.toDouble,
        deserMs = ts.map(_.deserMs).sum.toDouble,
        schedDelayMs = ts.map(_.schedDelayMs).sum.toDouble,
        shuffleRead = ts.map(_.shuffleRead).sum.toDouble,
        shuffleWrite = ts.map(_.shuffleWrite).sum.toDouble,
        spill = ts.map(_.spill).sum.toDouble,
        input = ts.map(_.input).sum.toDouble,
        output = ts.map(_.output).sum.toDouble)
    }
  }

  /** Length of the union of `spans`, clipped to [from, to]. */
  def covered(spans: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L
    var reach = from
    for ((s, e) <- spans.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)) {
      val start = math.max(s, reach)
      if (e > start) { total += e - start; reach = e }
    }
    total
  }
}
