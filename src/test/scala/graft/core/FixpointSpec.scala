package graft.core

import graft.{SparkEntry, SparkSuite}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Pins [[Fixpoint]]: where the loop stops, what it reports at the
  * cap, and the per-round lineage cut; then the job counts of the
  * graph queries built on it. */
class FixpointSpec extends SparkSuite {
  import spark.implicits._

  /** x ↦ min(x + 1, 3) over {0, 1, 2}; the measure counts the rows
    * still below 3, so rounds 1, 2, 3 leave 2, 1, 0 of them. */
  private def climb(cap: Int, seen: mutable.Buffer[DataFrame]) =
    Fixpoint.iterate(Seq(0L, 1L, 2L).toDF("x"), start = -1L, cap = cap)(
      step = st => {
        seen += st
        st.select(least(col("x") + 1, lit(3L)).as("x"))
      },
      measure = (_, next) => next.filter(col("x") < 3).count(),
      done = (_, below) => below == 0)

  test("stops at the first converged round") {
    val seen = mutable.Buffer[DataFrame]()
    val fp = climb(cap = 10, seen)
    assert(fp.converged)
    assert(fp.rounds === 3)
    assert(fp.last === 0L)
    assert(seen.size === 3, "a step ran past the converged round")
    assert(fp.state.as[Long].collect().toSeq === Seq(3L, 3L, 3L))
  }

  test("at the cap it reports converged = false with rounds == cap") {
    val seen = mutable.Buffer[DataFrame]()
    val fp = climb(cap = 2, seen)
    assert(!fp.converged)
    assert(fp.rounds === 2)
    assert(fp.last === 1L)
    assert(seen.size === 2)
    assert(fp.state.as[Long].collect().sorted.toSeq === Seq(2L, 3L, 3L))
    assert(!Fixpoint.iterate(spark.range(1).toDF(), start = 0L, cap = 0)(
      _ => fail("no round may run at cap 0"), (_, _) => 0L,
      (_, _) => true).converged)
  }

  test("every round's state plans as one ExistingRDD leaf") {
    // the step reads its state twice, so an uncut plan would double
    // per round
    val seen = mutable.Buffer[DataFrame]()
    val fp = Fixpoint.iterate(spark.range(4).toDF("x"), start = 0L,
        cap = 6)(
      step = st => {
        seen += st
        st.union(st).groupBy("x").agg(max(col("x")).as("m"))
          .select(col("x"))
      },
      measure = (_, next) => next.count(),
      done = (_, _) => false)
    assert(fp.rounds === 6 && !fp.converged)
    for (st <- seen.tail :+ fp.state) {
      val plan = st.queryExecution.analyzed
      assert(plan.isInstanceOf[LogicalRDD], plan.treeString)
      assert(st.queryExecution.executedPlan.collectLeaves()
        .map(_.nodeName) === Seq("Scan ExistingRDD"))
    }
  }

  test("the graph queries run no more jobs than their pinned ceilings") {
    // construct + count, warm (the standing click graph and the
    // persisted pair artifact already built), 4 cores, sf0.001: the
    // counts this spec's listener measured before the graph loops
    // moved onto Fixpoint
    val ceilings = Seq(
      "q_dedup_cluster" -> 18, "q_forget_docs" -> 42,
      "q_dedup_cluster_bigstar" -> 37, "q_pagerank" -> 23,
      "q_pagerank_seeded" -> 21, "q_pagerank_mass" -> 15,
      "q_pagerank_converged" -> 68, "q_hits" -> 34)
    val dir = "/root/testdata/sf0.001"
    val got = ceilings.map { case (q, _) =>
      SparkEntry.queries(q)(spark, dir).count()
      q -> jobsOf(SparkEntry.queries(q)(spark, dir).count())._1.size
    }
    for (((q, ceiling), (_, n)) <- ceilings.zip(got))
      assert(n <= ceiling, s"$q ran $n jobs, ceiling $ceiling; all: $got")
  }
}
