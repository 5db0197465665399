package graft.llm

import graft.SparkSuite
import graft.core.MapReduce

/** Per-row sequential model of one centered power round: each vector x
  * emits, per dimension j, (x_j·(x·v), x_j, x·v, x_j², 1) in BigInt; the
  * reduce sums them into s_j, m_j, t, Σx_j², N and returns
  * (N·s_j − m_j·t, N·Σx_j² − m_j²). */
final case class PowerRoundModel(v: Seq[Long])
    extends MapReduce[Long, Seq[Long], Int, Seq[BigInt], Int, (BigInt, BigInt)] {
  def map(id: Long, q: Seq[Long]): Iterator[(Int, Seq[BigInt])] = {
    val dot = q.zip(v).map { case (x, w) => BigInt(x) * w }.sum
    q.iterator.zipWithIndex.map { case (x, j0) =>
      (j0 + 1, Seq(dot * x, BigInt(x), dot, BigInt(x) * x, BigInt(1)))
    }
  }
  def reduce(j: Int, sums: Iterator[Seq[BigInt]]): Iterator[(Int, (BigInt, BigInt))] = {
    val Seq(s, m, t, x2, n) = sums.reduce(_.zip(_).map { case (a, b) => a + b })
    Iterator(j -> ((n * s - m * t, n * x2 - m * m)))
  }
}

/** Pins [[Clustering.lloyd]]: the iterated k-means loop must descend
  * (Lloyd's monotonicity, modulo integer centroid rounding) and stay
  * deterministic — the driver only ever moves K×64 centroid ints. Also
  * pins the PCA power round: the driver round on one Gram scan equals
  * the per-row model, the Gram pass fails loudly, and q_embed_pca reads
  * its corpus once. */
class ClusteringSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  /** An embeddings corpus of the given vectors in a fresh dir. */
  private def corpus(vecs: Seq[Array[Float]]): String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("pca").toString
    vecs.zipWithIndex.map { case (v, i) => (i.toLong, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  /** The corpus the planted-direction test below writes. */
  private def planted: Seq[Array[Float]] = {
    def v(a: Float, b: Float) = Array.tabulate(64)(i =>
      if (i == 0) a else if (i == 1) b else 0f)
    Seq(v(10f, 0f), v(-10f, 0f), v(0.1f, 1f), v(-0.1f, -1f))
  }

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  test("lloyd inertia is non-increasing across iterations") {
    val (_, history) = Clustering.lloyd(spark, sf, iters = 3)
    assert(history.size == 3)
    // integer centroid rounding can cost at most a sliver; require
    // monotone descent within a 0.1% slack per step
    history.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + a / 1000,
        s"inertia rose: $history")
    }
    assert(history.last < history.head, s"no descent at all: $history")
  }

  test("lloyd is deterministic") {
    val (c1, h1) = Clustering.lloyd(spark, sf, iters = 2)
    val (c2, h2) = Clustering.lloyd(spark, sf, iters = 2)
    assert(c1 === c2)
    assert(h1 === h2)
  }

  test("in-plan 2-step refinement survives a degenerate corpus") {
    // 3 vectors leave most seed cells empty: the NULL cross-multiplied
    // comparisons must fall through the argmin CASE identically in
    // both engines (the oracle pins cross-engine equality; this pins
    // that the plan neither crashes nor loses vectors), empty cells
    // simply don't emit rows, and a singleton cell has EXACTLY zero
    // n²-scaled inertia (its sum IS n·v).
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("tiny_ivf").toString
    val v = Array.tabulate(64)(i => (math.sin(i + 1) * 0.1).toFloat)
    Seq((0L, v, 0), (1L, v.map(-_), 0), (2L, v.map(x => (x * 2).toFloat), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val rows = Clustering.queries("q_kmeans_2step")(spark, d)
      .as[(Int, Long, Long)].collect().toSeq
    assert(rows.map(_._2).sum === 3L, s"vectors lost: $rows")
    rows.filter(_._2 == 1L).foreach { r =>
      assert(r._3 === 0L, s"singleton cell with nonzero inertia: $r")
    }
  }

  test("q_embed_pca recovers a planted principal direction") {
    // Variance planted almost entirely on dim 1 (±10), a sliver on
    // dim 2 (±1, correlated with dim 1 through vecs 3/4), zero
    // elsewhere. Power iteration must converge to ±e1: loading(1)
    // saturates at exactly 1.0 (it IS the max |c|), dim 2 carries the
    // small coupled loading, dims 3..64 are exactly 0 (all-integer
    // zero sums — no float dust).
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("pca").toString
    def v(a: Float, b: Float) = Array.tabulate(64)(i =>
      if (i == 0) a else if (i == 1) b else 0f)
    Seq((1L, v(10f, 0f), 0), (2L, v(-10f, 0f), 0),
        (3L, v(0.1f, 1f), 0), (4L, v(-0.1f, -1f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val rows = Clustering.queries("q_embed_pca")(spark, d)
      .as[(Int, Int, Double)].collect().toSeq
    assert(rows.size == 192)
    val it3 = rows.filter(_._1 == 3).map(r => r._2 -> r._3).toMap
    assert(it3(1) == 1.0, s"dominant loading: ${it3(1)}")
    assert(math.abs(it3(2)) > 0.0 && math.abs(it3(2)) < 0.05,
      s"coupled loading: ${it3(2)}")
    (3 to 64).foreach(j => assert(it3(j) == 0.0, s"dim $j: ${it3(j)}"))

    // deflation on the same corpus: PC2 must land on the residual
    // dim-2 variance — saturated there, small on the deflated dim 1,
    // exact integer zero elsewhere
    val rows2 = Clustering.queries("q_embed_pca2")(spark, d)
      .as[(Int, Int, Double)].collect().toSeq
    val p2 = rows2.filter(_._1 == 3).map(r => r._2 -> r._3).toMap
    assert(math.abs(p2(2)) == 1.0, s"pc2 dominant loading: ${p2(2)}")
    assert(math.abs(p2(1)) < 0.2, s"pc2 deflated dim: ${p2(1)}")
    (3 to 64).foreach(j => assert(p2(j) == 0.0, s"pc2 dim $j: ${p2(j)}"))
  }

  test("k-center seeding: distinct centers, non-increasing max-min radius") {
    val rows = Clustering.queries("q_kmeans_kcenter")(
        spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getAs[Int]("round"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("d2")))
    assert(rows.length == 4)
    assert(rows.map(_._2).distinct.length == 4, "centers must be distinct")
    // farthest-first invariant: adding a center can only shrink every
    // point's min-distance, so the selected argmax is non-increasing
    val radii = rows.sortBy(_._1).drop(1).map(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a },
      s"max-min radius increased: $radii")
  }

  test("k-center seeding stops early when the corpus has fewer vectors than K") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("tiny_kc").toString
    val v = Array.tabulate(64)(i => (math.cos(i + 1) * 0.1).toFloat)
    Seq((0L, v, 0), (1L, v.map(-_), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val rows = Clustering.queries("q_kmeans_kcenter")(spark, d).collect()
    assert(rows.length == 2, s"expected 2 seeds from a 2-vector corpus")
  }

  test("the driver power round equals the per-row BigInt model") {
    // planted, plus a seeded random corpus with negative components;
    // v0 and the two directions the rounds themselves produce
    val r = new scala.util.Random(17)
    val random = Seq.fill(300)(Array.fill(64)((r.nextDouble() * 0.74 - 0.37).toFloat))
    for (vecs <- Seq(planted, random)) {
      import spark.implicits._
      val qe = Dedup.quantized(spark, corpus(vecs))
      val rows = qe.select("vec_id", "q").as[(Long, Seq[Long])].collect().toSeq
      val gm = Clustering.gram(qe)
      assert(gm.n == vecs.size)
      var v: Seq[Long] = Seq.fill(64)(1000000L)
      for (round <- 1 to 3) {
        val got = Clustering.powerRound(gm, v)
        val want = MapReduce.sequential(rows, PowerRoundModel(v)).map(_._2)
        assert(got == want, s"round $round differs from the model")
        v = Clustering.micro(spark, got.map(_._1))
        assert(v.exists(_ != 0L), s"round $round left a zero direction")
      }
    }
  }

  test("q_embed_pca construction reads the corpus once") {
    // the three rounds share one Gram pass: exactly one stage reads
    // parquet records (three per-round aggregates read it in six)
    val d = corpus(planted)
    Clustering.queries("q_embed_pca")(spark, d) // resolves the table
    val (jobs, stages) = jobsOf(Clustering.queries("q_embed_pca")(spark, d))
    val read = stages.count(_.taskMetrics.inputMetrics.recordsRead > 0)
    assert(read == 1, s"$read stages read the corpus")
    assert(jobs.size <= 2, s"construction ran ${jobs.size} jobs")
  }

  test("the Gram pass throws on long overflow instead of wrapping") {
    // one component at 5·10⁹ quantized: x·x overflows a long (the
    // per-round SQL form threw here too, on ANSI `x * x`)
    val big = Array.tabulate(64)(i => if (i == 0) 5e5f else 0f)
    val e1 = intercept[Exception](
      Clustering.queries("q_embed_pca")(spark, corpus(planted :+ big)).collect())
    assert(causes(e1).exists(_.isInstanceOf[ArithmeticException]), e1)
    // 3·10⁹ squared fits; two of them summed do not
    val fits = Array.tabulate(64)(i => if (i == 0) 3e5f else 0f)
    val e2 = intercept[Exception](
      Clustering.gram(Dedup.quantized(spark, corpus(Seq(fits, fits)))))
    assert(causes(e2).exists(_.isInstanceOf[ArithmeticException]), e2)
  }

  test("the Gram pass rejects vectors that are not 64-dim") {
    val short = Array.fill(63)(0.1f)
    val e = intercept[Exception](
      Clustering.queries("q_embed_pca")(spark, corpus(planted :+ short)).collect())
    assert(causes(e).exists(c => Option(c.getMessage).exists(
      _.contains("PCA needs 64-dim vectors, got 63"))), e)
  }
}
