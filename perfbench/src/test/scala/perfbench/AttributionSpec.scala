package perfbench

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class AttributionSpec extends AnyFunSuite {
  import Recorder._

  private def op(start: Long, end: Long) =
    OpRecord(1, s"q$start", "M", start, end, 0L, 0L, 0L, 0L, ok = true)

  test("events go to the op whose interval holds them") {
    val ops = IndexedSeq(op(100, 200), op(210, 400), op(400, 401))
    assert(Attribution.opAt(ops, 99).isEmpty)
    assert(Attribution.opAt(ops, 150).contains(0))
    assert(Attribution.opAt(ops, 205).isEmpty)
    assert(Attribution.opAt(ops, 300).contains(1))
    val ev = Events(
      jobs = Seq(Job(0, 110, 150), Job(1, 140, 190), Job(2, 220, 260), Job(3, 90, 95)),
      stageToJob = Map(0 -> 0, 1 -> 1, 2 -> 2, 3 -> 2, 4 -> 3),
      stagesRun = Seq(0, 1, 2, 3, 4),
      tasks = Seq(Task(0, 10, 9.0, 1, 2, 3, 100, 200, 0, 1000, 0),
        Task(1, 20, 18.0, 0, 1, 1, 0, 0, 5, 0, 0),
        Task(3, 5, 4.0, 0, 0, 0, 0, 0, 0, 0, 7),
        Task(4, 99, 99.0, 0, 0, 0, 0, 0, 0, 0, 0)))
    val per = Attribution.perOp(ops, ev)
    assert(per(0).jobs == 2 && per(0).stages == 2 && per(0).tasks == 2)
    assert(per(0).jobActiveMs == 80) // 110..190, overlaps merged
    assert(per(0).taskRunMs == 30 && per(0).shuffleRead == 100 && per(0).spill == 5)
    assert(per(1).jobs == 1 && per(1).stages == 2 && per(1).tasks == 1 && per(1).output == 7)
    assert(per(2) == OpSpark()) // job 3 ran outside every op
  }

  test("covered merges overlapping spans and clips them to the op") {
    assert(Attribution.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 2, 35) == 23)
    assert(Attribution.covered(Nil, 0, 10) == 0)
  }

  test("listener events of real jobs land on the op that ran them") {
    val spark = TestSession.spark
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    try {
      val ops = (0 until 2).map { i =>
        val start = System.currentTimeMillis()
        val df = spark.range(0, 1000, 1, 2 + i).groupBy((col("id") % 3).as("k")).count()
          .orderBy("k")
        Checksum.execute(df, Checksum.plan(df))
        Thread.sleep(5)
        OpRecord(1, s"op$i", "M", start, System.currentTimeMillis(), 0L, 0L, 0L, 0L,
          ok = true)
      }
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      val per = Attribution.perOp(ops, rec.snapshot())
      assert(per.forall(_.jobs >= 1))
      assert(per(0).tasks >= 2 && per(1).tasks >= 3) // the scans alone have 2 and 3
      assert(per.forall(p => p.jobActiveMs > 0 && p.taskRunMs >= 0))
    } finally spark.sparkContext.removeSparkListener(rec)
  }
}
