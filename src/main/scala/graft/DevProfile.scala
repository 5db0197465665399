package graft

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Dev-only stage profiler (guide §1.1 empirical loop, UI-less sandbox):
  * runs named queries from [[SparkEntry.queries]] and prints, per query,
  * the job count and the slowest stages (wall ms, task count, task-time
  * sum) so the optimization loop can see WHERE a multi-job plan spends
  * its time. Usage: runMain graft.DevProfile <sfDir> <name> ... */
object DevProfile {
  def main(args: Array[String]): Unit = Session.run { spark =>
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    case class St(var name: String = "", var submitted: Long = 0,
      var completed: Long = 0, var nTasks: Int = 0, var taskMs: Long = 0,
      var gcMs: Long = 0, var deserMs: Long = 0, var cpuMs: Long = 0)
    val stages = mutable.LinkedHashMap[Int, St]()
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        val s = stages.getOrElseUpdate(e.stageInfo.stageId, St())
        s.name = e.stageInfo.name
        s.submitted = System.currentTimeMillis()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = stages.getOrElseUpdate(e.stageInfo.stageId, St())
        s.name = e.stageInfo.name
        s.completed = System.currentTimeMillis()
        s.nTasks = e.stageInfo.numTasks
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        stages.get(e.stageId).foreach { s =>
          if (e.taskInfo != null) s.taskMs += e.taskInfo.duration
          if (e.taskMetrics != null) {
            s.gcMs += e.taskMetrics.jvmGCTime
            s.deserMs += e.taskMetrics.executorDeserializeTime
            s.cpuMs += e.taskMetrics.executorCpuTime / 1000000L
          }
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // Listener events arrive asynchronously: let the bus drain before
    // the counters are reset or read, so no rep's late events land in
    // another rep's figures.
    def drain(): Unit = Thread.sleep(300)

    for (name <- args.drop(1)) {
      // warm rep first so codegen compile does not drown the signal
      SparkEntry.queries(name)(spark, sfDir).count()
      spark.catalog.clearCache()
      drain()
      stages.clear(); jobs = 0
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      drain()
      val sts = stages.values.toSeq
      // a stage's wall counts only when both its submit and its
      // completion were seen in this rep
      def wallOf(s: St): Long =
        if (s.submitted > 0 && s.completed > 0) (s.completed - s.submitted).max(0)
        else 0
      val wall = sts.map(wallOf).sum
      println(f"[devprofile] $name rows=$n sec=$dt%.2f jobs=$jobs " +
        f"stages=${sts.size} stageWallSum=${wall}ms")
      sts.sortBy(s => -wallOf(s)).take(12).foreach { s =>
        println(f"  stage ${wallOf(s)}%5dms tasks=${s.nTasks}%3d " +
          f"taskSum=${s.taskMs}%5dms cpu=${s.cpuMs}%5dms gc=${s.gcMs}%4dms " +
          f"deser=${s.deserMs}%4dms  ${s.name.take(60)}")
      }
      spark.catalog.clearCache()
    }
  }
}
