package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions.lit

/** Structural contract of the exact-integer PageRank over the
  * clickstream transition graph: the mass ledger must conserve rank
  * mass up to documented floor losses, the dangling set must be
  * exactly the src % 7 == 0 terminal pages, and damping must actually
  * move mass (a rank distribution identical to uniform would mean the
  * iterations are dead code). The VALUE gate is the DuckDB twin — this
  * spec pins the properties a green hash can't articulate. */
class PageRankSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  test("mass ledger conserves rank mass up to floor losses") {
    val rows = Analytics.queries("q_pagerank_mass")(spark, dir).collect()
    assert(rows.map(_.getAs[Int]("iter")).toSeq == Seq(0, 1, 2, 3))
    val totals = rows.map(_.getAs[Long]("total_rank"))
    assert(totals.head == 1000000000000L ||
      // floor(SCALE/n)·n when n doesn't divide the scale
      totals.head > 1000000000000L - 1000,
      s"iter-0 mass ${totals.head}")
    // each iteration loses < 1 unit per div: n nodes × (1 flow div per
    // in-edge + the damping div) bounds the loss far below 1e6
    totals.sliding(2).foreach { case Array(a, b) =>
      assert(b <= a, s"mass grew: $a -> $b")
      assert(a - b < 1000000L, s"floor loss too large: $a -> $b")
    }
    // the dangling share starts at exactly (#dangling)·base and stays
    // strictly positive — the redistribution path is genuinely live
    rows.foreach(r => assert(r.getAs[Long]("dangling_mass") > 0L))
  }

  test("personalized ranks concentrate on the seed teleport set") {
    val pr = Analytics.queries("q_pagerank_seeded")(spark, dir).collect()
    val (seeds, rest) = pr.partition(_.getAs[Boolean]("is_seed"))
    assert(seeds.nonEmpty && rest.nonEmpty)
    assert(seeds.forall(_.getAs[Int]("node") % 10 == 0))
    // teleport mass makes the average seed outrank the average
    // non-seed, while propagation still reaches non-seeds
    def avg(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getAs[Long]("rank")).sum / rs.length
    assert(avg(seeds) > avg(rest),
      s"seed avg ${avg(seeds)} <= rest avg ${avg(rest)}")
    assert(rest.count(_.getAs[Long]("rank") > 0L) > rest.length / 2,
      "propagation never reached most non-seeds")
  }

  test("seeded PageRank with every node a seed is q_pagerank") {
    // n = every node, share = base and every node takes a dangling
    // share: the uniform round term for term
    val all = Analytics.seededRanks(spark, dir, lit(true))
      .collect().map(r => r.getAs[Int]("node") -> r.getAs[Long]("rank")).toMap
    val pr = Analytics.queries("q_pagerank")(spark, dir).collect()
      .map(r => r.getAs[Int]("node") -> r.getAs[Long]("rank")).toMap
    assert(pr.size > 1 && pr.values.toSet.size > 1)
    assert(all === pr)
  }

  test("HITS: terminal pages are zero-hub but ranked authorities") {
    val rows = Analytics.queries("q_hits")(spark, dir).collect()
    val pr = Analytics.queries("q_pagerank")(spark, dir).collect()
    val terminal = pr.filter(_.getAs[Long]("out_w") == 0L)
      .map(_.getAs[Int]("node")).toSet
    assert(terminal.nonEmpty)
    val byNode = rows.map(r => r.getAs[Int]("node") ->
      (r.getAs[Long]("hub"), r.getAs[Long]("authority"))).toMap
    terminal.foreach { n =>
      assert(byNode(n)._1 == 0L, s"terminal $n has hub ${byNode(n)._1}")
      assert(byNode(n)._2 > 0L, s"terminal $n unreachable as authority")
    }
    assert(rows.map(_.getAs[Long]("authority")).distinct.length > 1,
      "authorities all equal — iterations are dead code")
  }

  test("dangling set is exactly the masked terminal pages; ranks differ from uniform") {
    val pr = Analytics.queries("q_pagerank")(spark, dir).collect()
    val dangling = pr.filter(_.getAs[Long]("out_w") == 0L)
      .map(_.getAs[Int]("node")).toSet
    assert(dangling.nonEmpty, "no dangling nodes — the mask is dead")
    assert(dangling.forall(_ % 7 == 0), s"non-terminal dangling: $dangling")
    val ranks = pr.map(_.getAs[Long]("rank")).toSet
    assert(ranks.size > 1, "all ranks equal — iterations are dead code")
    // output is rank-descending with the node tiebreak
    val pairs = pr.map(r => (r.getAs[Long]("rank"), r.getAs[Int]("node")))
    assert(pairs.sameElements(pairs.sortBy { case (rk, n) => (-rk, n) }))
  }
}
