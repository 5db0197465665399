package graft.llm

import scala.jdk.CollectionConverters._

import graft.Tables
import graft.ops.Q
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, IntegerType, LongType,
  StructField, StructType}

/** K-means (Lloyd) building blocks over the quantized embedding space —
  * the "train the coarse quantizer" step a production IVF index needs
  * (the SRP cells in [[Similarity]] are its untrained stand-in). One
  * Lloyd step = assignment (argmin squared distance to K centroids) +
  * update (per-cluster sums → new centroids); both are exact integer
  * arithmetic here, so the step is oracle-hash-checkable.
  *
  * Scale (100 TB): assignment is a scan-side projection — K codegen
  * `dot_long`s against LITERAL centroids, no join, no shuffle; the
  * update is ONE partial-agg hash aggregate on the cluster id (K rows
  * out of the exchange). A full iteration over a 100 TB corpus is one
  * pass + one K-row shuffle — the textbook MapReduce k-means, and the
  * driver loop (collect K centroids, re-literalize, repeat) moves K×64
  * ints per round, never data.
  *
  * Numerics: dist²(q,c) = q·q − 2·q·c + c·c with q·q the precomputed
  * norm ([[Dedup.quantized]]), q·c one `dot_long` per centroid, c·c a
  * literal. All int64 (|q_i| ≲ 4·10³ quantized, dims = 64 ⇒ dist² ≲
  * 3·10⁹; inertia overflows i64 only past ~10⁹ rows — switch the sum
  * to DECIMAL(38,0) at that scale). Tiebreak: lowest cluster id.
  */
object Clustering {

  /** K=4 deterministic initial centroids in the quantized (×10⁴)
    * space: seeded ±2000 per dimension (≈ ±0.2, inside the data's
    * ±0.37 range). Fixed seed; the SAME literals are embedded in both
    * engines' plans (the [[Similarity.srp]] pattern). */
  private[llm] val centroids: Seq[Seq[Int]] = {
    val r = new scala.util.Random(11)
    Seq.fill(4)(Seq.fill(64)(if (r.nextBoolean()) 2000 else -2000))
  }

  private def cNormSq(k: Int): Long =
    centroids(k).map(v => v.toLong * v).sum

  /** Assignment projection against an arbitrary K-centroid matrix:
    * K `dot_long` columns + lowest-id argmin + min distance — all
    * scan-side, no shuffle. (private[llm]: [[Similarity]]'s IVF path
    * trains its coarse quantizer through this.) */
  private[llm] def assign(qe: org.apache.spark.sql.DataFrame,
      cents: Seq[Seq[Long]]): org.apache.spark.sql.DataFrame = {
    val k = cents.size
    val withD = cents.zipWithIndex.foldLeft(qe) { case (df, (c, i)) =>
      df.withColumn(s"d$i",
        col("norm") - lit(2L) * expr(
          s"dot_long(q, cast(array(${c.mkString(",")}) as array<bigint>))") +
          lit(c.map(v => v * v).sum))
    }
    val argmin = (0 until k).map(i =>
      ((0 until k).filter(_ != i).map(j => s"d$i <= d$j") :+ "true")
        .mkString(" AND ")).zipWithIndex
      .map { case (cond, i) => s"WHEN $cond THEN $i" }
      .mkString("CASE ", " ", " END")
    withD
      .withColumn("cluster", expr(argmin))
      .withColumn("min_d", least((0 until k).map(i => col(s"d$i")): _*))
  }

  /** Full Lloyd iterations. Each round is one corpus pass (scan-side
    * assignment + a K-row hash aggregate); only the K×64 centroid ints
    * and the scalar inertia ever reach the driver, which literalizes
    * them into the next round's plan — the 100 TB-legal driver loop.
    * Empty clusters keep their previous centroid. Returns the final
    * centroids and the per-round inertia history (non-increasing up to
    * integer centroid rounding). */
  def lloyd(s: org.apache.spark.sql.SparkSession, dir: String,
      iters: Int = 3): (Seq[Seq[Long]], Seq[Long]) = {
    val qe = Dedup.quantized(s, dir)
    var cents: Seq[Seq[Long]] = centroids.map(_.map(_.toLong))
    val history = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (_ <- 1 to iters) {
      val rows = assign(qe, cents).groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"), sum(col("min_d")).as("inertia"),
          expr("vec_sum(q, 64)").as("sv")) // one buffer, not 64 columns
        .collect() // K rows of scalars — centroids, never data
      history += rows.map(_.getAs[Long]("inertia")).sum
      val byCluster = rows.map(r => r.getAs[Int]("cluster") -> r).toMap
      cents = cents.zipWithIndex.map { case (old, i) =>
        byCluster.get(i) match {
          case Some(r) =>
            val n = r.getAs[Long]("n")
            r.getAs[scala.collection.Seq[Long]]("sv").toSeq
              .map(x => math.round(x.toDouble / n))
          case None => old
        }
      }
    }
    (cents, history.toSeq)
  }

  /** One divisionless Lloyd refinement ENTIRELY IN-PLAN: per-cell
    * (n, Σv) from a 4-row aggregate, pivoted to ONE row and broadcast
    * (a single consumer chain, so the r6 multi-branch re-plan trap
    * does not apply), then the [[Similarity]] cross-multiplied argmin
    * against those COLUMNS — no collect, no literalization, no
    * driver barrier. An empty cell yields NULL comparisons, which both
    * engines' CASE skip identically. */
  private def refineInPlan(qe: org.apache.spark.sql.DataFrame,
      assigned: org.apache.spark.sql.DataFrame, grp: String): org.apache.spark.sql.DataFrame = {
    val sums = assigned.groupBy(col(grp))
      .agg(count(lit(1)).as("n"), expr("vec_sum(q, 64)").as("sv"))
    // K=4 rows pivot to one: at most one non-null per (k, column), so
    // max() selects it (array max is fine in the 4-row ObjectHashAgg)
    val pivotCols = (0 to 3).flatMap { k =>
      Seq(max(when(col(grp) === k, col("n"))).as(s"n$k"),
        max(when(col(grp) === k, col("sv"))).as(s"sv$k"))
    }
    val stats = sums.agg(pivotCols.head, pivotCols.tail: _*)
    val withU = (0 to 3).foldLeft(qe.crossJoin(broadcast(stats))) { (df, k) =>
      df.withColumn(s"u$k",
        expr(s"cast(dot_long(sv$k, sv$k) as decimal(38,0)) - 2 * n$k * " +
          s"cast(dot_long(q, sv$k) as decimal(38,0))"))
    }
    def cond(k: Int, j: Int): String =
      s"cast(n$j as decimal(38,0)) * n$j * u$k <= cast(n$k as decimal(38,0)) * n$k * u$j"
    withU.withColumn("cell", expr(Similarity.argminCase(cond)))
      .select(col("vec_id"), col("q"), col("norm"), col("cell"))
  }

  val queries: Map[String, Q] = Map(
    // One Lloyd step: per cluster, membership count, exact inertia
    // (sum of min squared distances — the quantity Lloyd's descends),
    // and the first 4 coordinates of the UPDATED centroid (exact int
    // sums ÷ count; 4 of 64 dims keeps the compare surface small, the
    // aggregate computes the same shape for all dims at no extra
    // shuffle).
    // Deterministic k-center seeding (Gonzalez 1985 farthest-first
    // traversal — the derandomized shape of k-means++ D² seeding, and
    // the init step the Lloyd loop/IVF training above consume): start
    // from the lowest vec_id, then K−1 rounds of "argmax over the
    // corpus of the min distance to any chosen center". All-integer:
    // d² = |v|² − 2⟨v,c⟩ + |c|² with c an ACTUAL corpus vector (no
    // centroid division ever), so the twin is hash-exact. Scale shape:
    // each round is ONE scan + a 1-row struct-max aggregate (partial
    // map-side, nothing but 66 longs crosses the exchange); chosen
    // centers re-enter as literals — K×64 longs on the driver, never
    // data (the Lloyd-loop contract). The argmax ties break to the
    // lower vec_id on both engines (struct max on (dmin, −vec_id) ≡
    // ORDER BY dmin DESC, vec_id ASC LIMIT 1). At web scale this is
    // the exact seeding FAISS/k-means|| deployments run first — the
    // Bahmani et al. oversampled variant replaces the argmax with a
    // threshold sample but keeps the same per-round scan shape.
    "q_kmeans_kcenter" -> ((s, dir) => {
      import s.implicits._
      val qe = Dedup.quantized(s, dir)
        .select(col("vec_id"), col("q"), col("norm"))
      val firstOpt = qe.orderBy("vec_id").head(1).headOption
      require(firstOpt.nonEmpty, "k-center seeding: empty corpus")
      val first = firstOpt.get
      var centers = List((first.getLong(0),
        first.getAs[scala.collection.Seq[Long]]("q").toSeq,
        first.getLong(2), 0L))
      var exhausted = false
      for (_ <- 2 to 4 if !exhausted) {
        val terms = centers.map { case (_, c, cn, _) =>
          s"(norm - 2 * dot_long(q, cast(array(${c.mkString(",")}) as array<bigint>)) + $cn)"
        }
        // Spark's least() wants ≥2 args — round 2 has a single center
        val minExpr =
          if (terms.size == 1) terms.head
          else terms.mkString("least(", ", ", ")")
        val chosen = centers.map(_._1)
        val m = qe.filter(!col("vec_id").isInCollection(chosen))
          .withColumn("dmin", expr(minExpr))
          .agg(max(struct(col("dmin"), (-col("vec_id")).as("nid"),
            col("q"), col("norm"))).as("m"))
          .select(col("m.dmin"), (-col("m.nid")).as("vec_id"),
            col("m.q"), col("m.norm"))
          .head()
        if (m.isNullAt(0)) exhausted = true // fewer vectors than K
        else centers = centers :+ ((m.getLong(1),
          m.getAs[scala.collection.Seq[Long]]("q").toSeq,
          m.getLong(3), m.getLong(0)))
      }
      centers.zipWithIndex
        .map { case ((vid, _, _, d), i) => (i + 1, vid, d) }
        .toDF("round", "vec_id", "d2")
        .orderBy("round")
    }),

    "q_kmeans_step" -> ((s, dir) => {
      val aggs = Seq(
        count(lit(1)).as("n"),
        sum(col("min_d")).as("inertia")) ++
        (0 to 3).map(i =>
          round(sum(expr(s"q[$i]")).cast("double") / count(lit(1)), 4)
            .as(s"c$i"))
      assign(Dedup.quantized(s, dir), centroids.map(_.map(_.toLong)))
        .groupBy(col("cluster"))
        .agg(aggs.head, aggs.tail: _*)
        .orderBy("cluster")
    }),

    // TWO Lloyd refinements UNROLLED INTO ONE PLAN — the in-engine
    // counterpart of the [[lloyd]] driver loop: no collect, no
    // division, no per-iteration job barrier; each step's centroids
    // live as (n, Σv) integer pairs in a one-row broadcast and
    // assignment is the cross-multiplied DECIMAL argmin. Output is the
    // per-cell census after step 2 with the n²-scaled EXACT inertia:
    // Σ_{v∈k}|n_k·v − s_k|² telescopes to n_k²·Σ|v|² − n_k·|s_k|²
    // (the cross term collapses because Σv over the cell IS s_k), so
    // the objective needs only the aggregates already in hand. Fits
    // BIGINT to ~2·10³ vectors/cell at these norms; past that the
    // output column switches to DECIMAL (the standing inertia rule).
    // The trade vs the driver loop, stated for 100 TB: unrolling
    // re-scans the corpus per step inside one job; the driver loop
    // re-scans per iteration too but pays a barrier + K-row collect
    // each round — for a fixed small iteration count the unrolled
    // plan pipelines better and is what a scheduled pipeline stage
    // should run.
    "q_kmeans_2step" -> ((s, dir) => {
      val qe = Dedup.quantized(s, dir)
      val c1 = refineInPlan(qe,
        assign(qe, centroids.map(_.map(_.toLong))), "cluster")
      val c2 = refineInPlan(qe, c1, "cell")
      c2.groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), sum(col("norm")).as("sn"),
          expr("vec_sum(q, 64)").as("sv"))
        .select(col("cell"), col("n"),
          expr("""cast(cast(n as decimal(38,0)) * n * sn
                |  - n * cast(dot_long(sv, sv) as decimal(38,0)) as bigint)"""
            .stripMargin).as("inertia_n2"))
        .orderBy("cell")
    }),

    // Embedding QA: the 3 vectors farthest from their label's mean —
    // mislabeled/corrupt-embedding candidates, the outlier sweep an
    // embedding pipeline runs before indexing. Exact integers
    // throughout: dist² to the MEAN scaled by n² is
    // n²·|v|² − 2n·(v·s) + |s|² with s the per-label coordinate SUM —
    // no division ever happens, so the score is hash-exact. Scale
    // shape: s comes from one hash aggregate (64 integer sums,
    // map-side partial); the label-count join is an explicit broadcast
    // (label cardinality is a bounded dimension, and the aggregate's
    // post-fan-out size estimate can't be trusted to auto-broadcast);
    // the top-3 window prunes with WindowGroupLimit before any
    // exchange. Overflow: |q_i| ≤ 4·10³, 64 dims ⇒ score ≲ n²·10⁹ —
    // int64-safe to n ≈ 10⁴·label; past that switch s and the score
    // to DECIMAL(38,0) (same rule as inertia above).
    "q_embed_outlier" -> ((s, dir) => {
      val qe = Dedup.quantized(s, dir)
      val sums = qe.groupBy(col("label"))
        .agg(count(lit(1)).as("n"), expr("vec_sum(q, 64)").as("sv"))
      qe.join(broadcast(sums), "label")
        .select(col("label"), col("vec_id"),
          (col("n") * col("n") * col("norm")
            - lit(2L) * col("n") * expr("dot_long(q, sv)")
            + expr("dot_long(sv, sv)")).as("score"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("label"))
            .orderBy(col("score").desc, col("vec_id").asc)))
        .filter(col("rn") <= 3)
        .select(col("label"), col("rn"), col("vec_id"), col("score"))
        .orderBy("label", "rn")
    }),

    // Top PRINCIPAL COMPONENT by power iteration — the
    // embedding-analytics op (whitening, drift monitoring, MRL-style
    // dimension triage) that normally leaves SQL for a linalg library.
    // Three iterations of v ← C·v over the CENTERED covariance without
    // ever centering the data: with integer m = Σx, t = Σ(x·v),
    // s = Σ x(x·v), the identity Σ(x−μ)((x−μ)·v) = s − μt means
    // N·s − m·t is an exact-integer vector parallel to C·v (direction
    // is all an eigenvector needs). s = G·v and t = m·v, so ONE corpus
    // pass ([[gram]]: N, m and the 64×64 Gram matrix G = Σ x·xᵀ as
    // overflow-checked longs) feeds every round, and the rounds run on
    // the driver in exact BigInt arithmetic ([[powerRound]]) — only
    // 64×64 integers cross the wire, never a per-round corpus
    // aggregate. Normalization is the LR-sigmoid discipline: the only
    // doubles are c/g (g = max|c_j|) in one IEEE expression rounded
    // once to ×10⁶ micro-units for the next round ([[micro]]). Each
    // round's 64-row (j, c, trj) frame is materialized (ExistingRDD),
    // so the report reads only those frames. Output: (iter, j, loading)
    // — the unit-free loadings per round; iteration 3's column is the
    // component.
    "q_embed_pca" -> ((s, dir) => pcaLoadingsOn(s, Dedup.quantized(s, dir))),

    // EXPLAINED-VARIANCE ratio of the converged component — the
    // "is one direction dominating my embedding space" drift number
    // (a collapsed encoder shows λ1/trace → 1). Rayleigh quotient on
    // the power-iterated v: one extra application C·v gives
    // λ1·N² = (v·c₄)/(v·v), and N²·trace(C) = Σ_j (N·Σx_j² − m_j²)
    // falls out of the SAME round (the trj column) — so the ratio is
    // three exact integers entering ONE double division chain rounded
    // once. The fourth application reuses the `pca_v1` entry's Gram:
    // no corpus scan beyond the standing build's one. top_dim is the
    // argmax loading dimension (|v_j| saturates at exactly 10⁶ there).
    // Overflow boundary — TIGHTER than the power rounds': the
    // numerator multiplies the micro-unit v_j (≤10⁶) into c, so the
    // DECIMAL(38,0)/HUGEINT headroom binds at |c| ≈ 10³² here, not
    // 10³⁸ — with c ∝ N², that is ~3×10⁸ rows instead of ~10⁹. Past
    // that, pre-scale c by a fixed power of ten before the dot and
    // multiply the printed ratio back (a is linear in c; b, tr are
    // untouched) — the ratio itself is exact either way.
    "q_pca_explained" -> ((s, dir) => {
      val pc1 = pcaV1(s, dir)
      val c4 = roundFrame(s, powerRound(pc1.gram, pc1.v))
      val vj = pc1.varr.select(posexplode(col("varr")).as(Seq("j0", "vj")))
        .select((col("j0") + 1).as("j"), col("vj"))
      c4.join(vj, "j")
        .agg(sum(col("vj").cast("decimal(38,0)") * col("c")).as("a"),
          sum(col("vj").cast("decimal(38,0)") * col("vj")).as("b"),
          sum(col("trj")).as("tr"),
          min(when(abs(col("vj")) === 1000000L, col("j"))).as("top_dim"))
        .select(col("top_dim"),
          when(col("b") === 0 || col("tr") === 0, lit(0.0)).otherwise(
            round(col("a").cast("double") / col("b").cast("double")
              / col("tr").cast("double"), 6)).cast("double")
            .as("explained_ratio"))
    }),

    // SECOND principal component by DEFLATION — orthogonalized power
    // iteration, completing the top-2 whitening/visualization basis:
    // each round applies C (the shared [[powerRound]] on the `pca_v1`
    // Gram), micro-normalizes, then Gram–Schmidt-deflates against the
    // CONVERGED first component with the division-free form
    // w′ = (v·v)·w − v·(v·w) — exact integers, so orthogonality is
    // arithmetic, not approximation (the loadings are re-normalized
    // from the DEFLATED vector, guaranteeing ⊥v₁ up to the final
    // 6-dp print). Start vector alternates ±10⁶ so it is never
    // parallel to v₁. One corpus scan total (the Gram both components
    // share); the six rounds run on the driver.
    "q_embed_pca2" -> ((s, dir) =>
      pcaDefl2(s, dir).rounds.zipWithIndex
        .map { case (defl, k0) => pcaLoadings(k0 + 1, defl) }
        .reduce(_.unionByName(_)).orderBy("iter", "j")),

    // The 2-D EXPORT — both trained components applied per vector,
    // the scatter/atlas artifact embedding dashboards chart (and the
    // 2-D input cluster-labeling UIs consume): train v₁ (3 rounds),
    // deflate to v₂ (3 more, all on the driver from one Gram scan),
    // then ONE corpus pass scores both axes
    // (two codegen dot_longs against the broadcast directions; the
    // 1-row stats aggregate is the second scan). Per-axis arithmetic
    // is exactly q_embed_pca_project's centered chain.
    "q_embed_pca_scatter" -> ((s, dir) => {
      val qe = Dedup.quantized(s, dir)
      val v1 = pcaV1(s, dir).varr
      val v2 = pcaDefl2(s, dir).v2
      val dotted = qe
        .crossJoin(broadcast(v1.select(col("varr").as("w1"))))
        .crossJoin(broadcast(v2.select(col("varr").as("w2"))))
        .withColumn("dot1", expr("dot_long(q, w1)"))
        .withColumn("dot2", expr("dot_long(q, w2)"))
        .withColumn("bb1", expr("dot_long(w1, w1)"))
        .withColumn("bb2", expr("dot_long(w2, w2)"))
      val stats = dotted.agg(
        sum(col("dot1").cast("decimal(38,0)")).as("t1"),
        sum(col("dot2").cast("decimal(38,0)")).as("t2"),
        count(lit(1)).cast("decimal(38,0)").as("n"),
        max(col("bb1")).as("b1"), max(col("bb2")).as("b2"))
      def axis(dot: String, t: String, b: String) =
        when(col(b) === 0, lit(0.0)).otherwise(
          round((col("n") * col(dot) - col(t)).cast("double")
            / col("n").cast("double") / sqrt(col(b).cast("double"))
            / lit(10000.0), 4)).cast("double")
      dotted.crossJoin(broadcast(stats))
        .select(col("vec_id"),
          axis("dot1", "t1", "b1").as("pc1"),
          axis("dot2", "t2", "b2").as("pc2"))
        .orderBy("vec_id")
    }),

    // The component APPLIED — per-vector PC1 score, the projection
    // column pipelines materialize beside the corpus (embedding-drift
    // monitors chart its distribution; MRL-style triage thresholds
    // it). Centered without centering: N·(x·v) − Σ(x·v) is the
    // N-scaled centered dot, then ONE double chain normalizes by N,
    // the L2 norm of v (dot_long(varr, varr) — long-safe), and the
    // ×10⁴ quantization, rounded once to 4 dp. Cost beyond training:
    // two corpus scans (score + the 1-row stats aggregate).
    "q_embed_pca_project" -> ((s, dir) => {
      val qe = Dedup.quantized(s, dir)
      val v3 = pcaV1(s, dir).varr
      val dotted = qe.crossJoin(broadcast(v3))
        .withColumn("dot", expr("dot_long(q, varr)"))
        .withColumn("b", expr("dot_long(varr, varr)"))
      val stats = dotted.agg(
        sum(col("dot").cast("decimal(38,0)")).as("t"),
        count(lit(1)).cast("decimal(38,0)").as("n"),
        max(col("b")).as("bb"))
      dotted.crossJoin(broadcast(stats))
        .select(col("vec_id"),
          when(col("bb") === 0, lit(0.0)).otherwise(
            round((col("n") * col("dot") - col("t")).cast("double")
              / col("n").cast("double") / sqrt(col("bb").cast("double"))
              / lit(10000.0), 4))
            .cast("double").as("pc1"))
        .orderBy("vec_id")
    }))

  /** DuckDB twin of [[assign]] on the SEED centroids, as reusable CTEs
    * `ivd`/`iva` over `qn` — the IVF oracle in [[Similarity]] trains
    * its cells from exactly this assignment. */
  private[llm] lazy val assignCtes: String = assignCtesOn("qn")

  /** [[assignCtes]] over an arbitrary source CTE — the incremental
    * ingest twin trains its standing index on the corpus subset. */
  private[llm] def assignCtesOn(src: String): String = s"""
      ivd AS (SELECT vec_id, q, norm,
                ${(0 to 3).map(k =>
                  s"norm - 2 * ${dotC(k)} + ${cNormSq(k)} AS d$k").mkString(", ")}
              FROM $src),
      iva AS (SELECT vec_id, q, norm,
                CASE WHEN d0 <= d1 AND d0 <= d2 AND d0 <= d3 THEN 0
                     WHEN d1 <= d2 AND d1 <= d3 THEN 1
                     WHEN d2 <= d3 THEN 2 ELSE 3 END AS cluster
              FROM ivd)"""

  /** DuckDB dot product against centroid k's literal (1-based lists). */
  private def dotC(k: Int): String = {
    val w = centroids(k).mkString("[", ",", "]")
    s"CAST(list_sum(list_transform(generate_series(1, 64), i -> q[i] * ($w)[i])) AS BIGINT)"
  }

  /** Step-2 + finale CTEs for the q_kmeans_2step twin: the same
    * n/Σv/|Σv|² → cross-multiplied argmin block as [[Similarity.ivfCte]]
    * but sourced from its step-1 `ivcell` output, then the telescoped
    * per-cell objective n²·Σnorm − n·|s|² in HUGEINT. */
  private lazy val twoStepSql: String = {
    "WITH " + Dedup.QE + "," + assignCtes + "," + Similarity.ivfCte + s""",
      ivn2 AS (SELECT cell, count(*) AS n FROM ivcell GROUP BY 1),
      ivs2 AS (SELECT cell, i, CAST(sum(q[i]) AS BIGINT) AS si
               FROM ivcell, UNNEST(generate_series(1, 64)) AS u(i)
               GROUP BY 1, 2),
      ivv2 AS (SELECT cell, list(si ORDER BY i) AS sv FROM ivs2 GROUP BY 1),
      ivc2 AS (SELECT ivn2.cell, ivn2.n, ivv2.sv,
                 CAST(list_sum(list_transform(generate_series(1, 64),
                   i -> CAST(sv[i] AS HUGEINT) * sv[i])) AS HUGEINT) AS s2
               FROM ivn2 JOIN ivv2 ON ivn2.cell = ivv2.cell),
      ivu2 AS (SELECT qn.vec_id, ivc2.cell AS k, CAST(ivc2.n AS HUGEINT) AS n,
                 ivc2.s2 - 2 * ivc2.n * CAST(list_sum(list_transform(
                   generate_series(1, 64), i -> qn.q[i] * ivc2.sv[i])) AS HUGEINT) AS u
               FROM qn, ivc2),
      ivp2 AS (SELECT vec_id,
                 max(CASE WHEN k = 0 THEN u END) AS u0, max(CASE WHEN k = 0 THEN n END) AS n0,
                 max(CASE WHEN k = 1 THEN u END) AS u1, max(CASE WHEN k = 1 THEN n END) AS n1,
                 max(CASE WHEN k = 2 THEN u END) AS u2, max(CASE WHEN k = 2 THEN n END) AS n2,
                 max(CASE WHEN k = 3 THEN u END) AS u3, max(CASE WHEN k = 3 THEN n END) AS n3
               FROM ivu2 GROUP BY vec_id),
      cellb AS (SELECT qn.vec_id, qn.q, qn.norm,
                  ${Similarity.argminCase(Similarity.sqlCond)} AS cell
                FROM ivp2 JOIN qn ON ivp2.vec_id = qn.vec_id),
      f1 AS (SELECT cell, count(*) AS n, CAST(sum(norm) AS HUGEINT) AS sn
             FROM cellb GROUP BY 1),
      f2 AS (SELECT cell, i, CAST(sum(q[i]) AS BIGINT) AS si
             FROM cellb, UNNEST(generate_series(1, 64)) AS u(i)
             GROUP BY 1, 2),
      f3 AS (SELECT cell, sum(CAST(si AS HUGEINT) * si) AS ss FROM f2 GROUP BY 1)
      SELECT f1.cell, f1.n,
             CAST(CAST(f1.n AS HUGEINT) * f1.n * sn - f1.n * ss AS BIGINT) AS inertia_n2
      FROM f1 JOIN f3 ON f1.cell = f3.cell
      ORDER BY f1.cell"""
  }

  /** The embedding dimension every PCA vector must have. */
  private val PcaDim = 64

  /** Sufficient statistics of the centered power round, from ONE
    * corpus pass: N, m = Σx and the upper triangle of the Gram matrix
    * G = Σ x·xᵀ, row-major, all exact longs. Every product and sum is
    * overflow-checked — `Math.multiplyExact`/`addExact` throw rather
    * than wrap, so an out-of-range corpus fails instead of returning a
    * wrong direction — and a vector whose length is not [[PcaDim]]
    * throws instead of mis-indexing G. At |x_j| ≲ 4·10³ the sums stay
    * long-safe past 5·10¹¹ rows. */
  private[llm] final class Gram extends Serializable {
    var n = 0L
    val m = new Array[Long](PcaDim)
    val g = new Array[Long](PcaDim * PcaDim)

    def add(q: ArrayData): Gram = {
      require(q.numElements() == PcaDim,
        s"PCA needs $PcaDim-dim vectors, got ${q.numElements()}")
      n += 1
      var i = 0
      while (i < PcaDim) {
        val xi = q.getLong(i)
        m(i) = Math.addExact(m(i), xi)
        var j = i
        while (j < PcaDim) {
          val k = i * PcaDim + j
          g(k) = Math.addExact(g(k), Math.multiplyExact(xi, q.getLong(j)))
          j += 1
        }
        i += 1
      }
      this
    }

    def merge(o: Gram): Gram = {
      n += o.n
      m.indices.foreach(i => m(i) = Math.addExact(m(i), o.m(i)))
      g.indices.foreach(k => g(k) = Math.addExact(g(k), o.g(k)))
      this
    }

    /** G_ij from the stored upper triangle. */
    def at(i: Int, j: Int): Long =
      if (i <= j) g(i * PcaDim + j) else g(j * PcaDim + i)
  }

  /** The one corpus pass behind every power round: a tree aggregate of
    * [[Gram]] over `qe.q`. Each partition sends one N + 64 + 64² longs
    * to the driver. */
  private[llm] def gram(qe: DataFrame): Gram =
    qe.select(col("q")).queryExecution.toRdd
      .treeAggregate(new Gram)((acc, row) => acc.add(row.getArray(0)), _.merge(_))

  /** One centered power round, applied on the driver in exact
    * integers: per dimension j, c_j = N·(G·v)_j − m_j·(m·v), the vector
    * parallel to (centered C)·v, and trj = N·G_jj − m_j², whose sum is
    * N²·trace(C). These are the integers N·Σx_j(x·v) − Σx_j·Σ(x·v)
    * sums to at any partitioning. An empty corpus yields no rows: no
    * dimension occurs, which is what the oracle's per-dimension
    * GROUP BY returns. */
  private[llm] def powerRound(gm: Gram, v: Seq[Long]): Seq[(BigInt, BigInt)] =
    if (gm.n == 0) Nil
    else {
      val n = BigInt(gm.n)
      val t = (0 until PcaDim).map(i => BigInt(gm.m(i)) * v(i)).sum
      (0 until PcaDim).map { j =>
        val gv = (0 until PcaDim).map(i => BigInt(gm.at(j, i)) * v(i)).sum
        val mj = BigInt(gm.m(j))
        (n * gv - mj * t, n * gm.at(j, j) - mj * mj)
      }
    }

  /** `k` power rounds from `v0`: each round's (c, trj) per dimension
    * and the micro-unit direction the last round leaves. */
  private def powerRounds(s: SparkSession, gm: Gram, v0: Seq[Long],
      k: Int): (Seq[Seq[(BigInt, BigInt)]], Seq[Long]) = {
    var v = v0
    val rounds = (1 to k).map { _ =>
      val r = powerRound(gm, v)
      v = micro(s, r.map(_._1))
      r
    }
    (rounds, v)
  }

  /** Micro-normalize: w_j = round(c_j / max|c| · 10⁶) — the only doubles
    * in the loop, one IEEE expression rounded once (the LR-sigmoid
    * discipline). Evaluated by Spark over a LocalRelation: the
    * optimizer folds the projection, so no job runs and the rounding
    * stays Spark's own. */
  private[llm] def micro(s: SparkSession, c: Seq[BigInt]): Seq[Long] =
    if (c.isEmpty) Nil
    else {
      val g = dec(c.map(_.abs).max)
      s.createDataFrame(c.map(x => Row(dec(x), g)).asJava, StructType(Seq(
          StructField("c", DecimalType(38, 0)), StructField("g", DecimalType(38, 0)))))
        .select(expr("if(g = 0, cast(0 as bigint), cast(round(" +
          "cast(c as double) / cast(g as double) * 1000000) as bigint))"))
        .collect().map(_.getLong(0)).toSeq
    }

  private val DecimalBound = BigInt(10).pow(38)

  /** `x` as a DECIMAL(38,0) value; past 38 digits it throws, since the
    * round frames' DECIMAL(38,0) columns cannot carry it. */
  private def dec(x: BigInt): java.math.BigDecimal =
    if (x.abs >= DecimalBound)
      throw new ArithmeticException(s"PCA value $x overflows DECIMAL(38,0)")
    else new java.math.BigDecimal(x.bigInteger)

  private val JCol = StructField("j", IntegerType, nullable = false)
  private val CCol = StructField("c", DecimalType(38, 0))

  /** A round's 64-row (j, c, trj) frame. */
  private def roundFrame(s: SparkSession, r: Seq[(BigInt, BigInt)]): DataFrame =
    Tables.driverRows(s, StructType(Seq(JCol, CCol, StructField("trj", DecimalType(38, 0)))),
      r.zipWithIndex.map { case ((c, trj), j0) => Row(j0 + 1, dec(c), dec(trj)) })

  /** A 1-row `varr` frame holding a micro-unit direction. */
  private def directionFrame(s: SparkSession, v: Seq[Long]): DataFrame =
    Tables.driverRows(s, StructType(Seq(StructField("varr",
      ArrayType(LongType, containsNull = true), nullable = false))), Seq(Row(v)))

  /** All-ones micro-unit start vector. */
  private val V0: Seq[Long] = Seq.fill(PcaDim)(1000000L)

  /** The first component as the standing `pca_v1` entry holds it: the
    * corpus Gram, the converged micro-unit direction and its 1-row
    * `varr` frame. */
  private final case class Pc1(gram: Gram, v: Seq[Long], varr: DataFrame)

  /** The CONVERGED first principal direction per (session, dir) — the
    * identical 3-round power chain that q_pca_explained, q_embed_pca2,
    * q_embed_pca_project and q_embed_pca_scatter each need. Same
    * standing-index discipline as the graph-walk family
    * (Similarity.standing): on a cluster the trained direction is a
    * persisted 64-int artifact built once; here the memoized Gram and
    * direction make the family pay the one corpus scan once per
    * process. Contents are deterministic exact-integer arithmetic, so
    * every consumer stays hash-identical to its train-it-itself form
    * at any dop. A standing entry (tag `pca_v1`), rebuilt when the
    * corpus changes. */
  private def pcaV1(s: SparkSession, dir: String): Pc1 =
    Similarity.standing(s, dir, "pca_v1") {
      val gm = gram(Dedup.quantized(s, dir))
      val (_, v) = powerRounds(s, gm, V0, 3)
      Pc1(gm, v, directionFrame(s, v))
    }

  /** The second component as the standing `pca_defl2` entry holds it:
    * the three deflated (j, c) round frames and the final direction's
    * 1-row `varr` frame. */
  private final case class Pc2(rounds: Seq[DataFrame], v2: DataFrame)

  /** The SECOND component's deflation chain, cached per (session, dir)
    * exactly like [[pcaV1]] and run on its Gram — no corpus scan of its
    * own. pca2 reads every round's frame (its output is the per-round
    * loadings), scatter reads the final direction. A standing entry
    * (tag `pca_defl2`) that nests the `pca_v1` build. Deflation is the
    * division-free Gram–Schmidt w′ = (v·v)·w − v·(v·w) — exact integers
    * (≤ 1.3·10²⁰), direction preserved. */
  private def pcaDefl2(s: SparkSession, dir: String): Pc2 =
    Similarity.standing(s, dir, "pca_defl2") {
      val pc1 = pcaV1(s, dir)
      val b = pc1.v.map(x => BigInt(x) * x).sum
      var u: Seq[Long] = Seq.tabulate(PcaDim)(i => if (i % 2 == 1) -1000000L else 1000000L)
      val rounds = (1 to 3).map { _ =>
        val w = micro(s, powerRound(pc1.gram, u).map(_._1))
        val d1 = pc1.v.zip(w).map { case (x, y) => BigInt(x) * y }.sum
        val c = pc1.v.zip(w).map { case (x, y) => b * y - d1 * x }
        u = micro(s, c)
        Tables.driverRows(s, StructType(Seq(JCol, CCol)),
          c.zipWithIndex.map { case (x, j0) => Row(j0 + 1, dec(x)) })
      }
      Pc2(rounds, directionFrame(s, u))
    }

  private def pcaLoadings(k: Int, cf: DataFrame): DataFrame =
    cf.crossJoin(broadcast(cf.agg(max(abs(col("c"))).as("g"))))
      .select(lit(k).as("iter"), col("j"),
        // g = 0 (zero residual variance — a degenerate or fully
        // deflated corpus) leaves the component undefined: report 0.0
        when(col("g") === 0, lit(0.0)).otherwise(
          round(col("c").cast("double") / col("g").cast("double"), 6))
          .cast("double").as("loading"))

  /** Frame-taking q_embed_pca body (ScaleProbe's pca section runs it
    * on a replicated corpus: loadings must be IDENTICAL — replication
    * scales every c exactly ×r², so the normalized direction is
    * invariant — while wall tracks scan volume). One Gram scan; the
    * three rounds run on the driver. */
  private[graft] def pcaLoadingsOn(s: SparkSession, qe: DataFrame): DataFrame =
    powerRounds(s, gram(qe), V0, 3)._1.zipWithIndex
      .map { case (r, k0) => pcaLoadings(k0 + 1, roundFrame(s, r)) }
      .reduce(_.unionByName(_))
      .orderBy("iter", "j")

  /** One DuckDB power-iteration round: v-array CTE `va$k` in, centered
    * Gram application `c$k` + next-round array `va${k+1}` out — the
    * same dot / posexplode-aggregate / N·s − m·t / max|c| chain, in
    * HUGEINT where Spark sums DECIMAL(38,0) (DuckDB binds out
    * decimal×decimal at p ≥ 38, int128 carries the same exact values). */
  private def pcaStepCtes(k: Int): String = s"""
      pd$k AS (SELECT vec_id, q,
                 CAST(list_sum(list_transform(generate_series(1, 64),
                   i -> q[i] * varr[i])) AS BIGINT) AS dot
               FROM qn, va$k),
      pe$k AS (SELECT j, q[j] AS x, dot
               FROM pd$k, UNNEST(generate_series(1, 64)) AS u(j)),
      ps$k AS (SELECT j, sum(CAST(x * dot AS HUGEINT)) AS s,
                 sum(CAST(x AS HUGEINT)) AS m,
                 sum(CAST(x * x AS HUGEINT)) AS x2s,
                 sum(CAST(dot AS HUGEINT)) AS t,
                 CAST(count(*) AS HUGEINT) AS n
               FROM pe$k GROUP BY j),
      pc$k AS (SELECT j, n * s - m * t AS c, n * x2s - m * m AS trj
               FROM ps$k),
      pg$k AS (SELECT max(abs(c)) AS g FROM pc$k),
      va${k + 1} AS (SELECT list(CASE WHEN g = 0 THEN CAST(0 AS BIGINT)
                   ELSE CAST(round(CAST(c AS DOUBLE) /
                   CAST(g AS DOUBLE) * 1000000) AS BIGINT) END
                   ORDER BY j) AS varr
               FROM pc$k, pg$k)"""

  private def pcaLoad(k: Int): String = s"""
      SELECT $k AS iter, CAST(j AS INT) AS j,
             CAST(CASE WHEN g = 0 THEN 0.0
               ELSE round(CAST(c AS DOUBLE) / CAST(g AS DOUBLE), 6) + 0.0 END
               AS DOUBLE) AS loading
      FROM pc$k, pg$k"""

  /** Shared 3-iteration chain prefix (QE → va1 → rounds 1..3). */
  private lazy val pcaPrefix = s"""
      WITH ${Dedup.QE},
      va1 AS (SELECT list_transform(generate_series(1, 64),
                i -> CAST(1000000 AS BIGINT)) AS varr),
      ${pcaStepCtes(1)}, ${pcaStepCtes(2)}, ${pcaStepCtes(3)}"""

  private lazy val pcaSql = s"""
      $pcaPrefix
      SELECT * FROM (${pcaLoad(1)} UNION ALL ${pcaLoad(2)}
        UNION ALL ${pcaLoad(3)})
      ORDER BY iter, j"""

  /** Rayleigh-quotient twin: one extra application (round 4's pc4
    * carries both c = N²C·v and the trj trace column). */
  private lazy val pcaExplainedSql = s"""
      $pcaPrefix, ${pcaStepCtes(4)},
      pv AS (SELECT j, varr[j] AS vj
             FROM va4, UNNEST(generate_series(1, 64)) AS u(j)),
      pax AS (SELECT sum(CAST(vj AS HUGEINT) * c) AS a,
                sum(CAST(vj AS HUGEINT) * vj) AS b,
                sum(trj) AS tr,
                min(CASE WHEN abs(vj) = 1000000 THEN j END) AS top_dim
              FROM pc4 JOIN pv USING (j))
      SELECT CAST(top_dim AS INT) AS top_dim,
             CAST(CASE WHEN b = 0 OR tr = 0 THEN 0.0
               ELSE round(CAST(a AS DOUBLE) / CAST(b AS DOUBLE)
               / CAST(tr AS DOUBLE), 6) + 0.0 END AS DOUBLE)
               AS explained_ratio
      FROM pax"""

  /** One deflated round for the SECOND component: apply C (the
    * pcaStepCtes chain under y-names), micro-normalize, Gram–Schmidt
    * against v1j with the division-free (v·v)·w − v·(v·w), then
    * re-normalize into the next round's array. */
  private def pca2StepCtes(k: Int): String = s"""
      yd$k AS (SELECT vec_id, q,
                 CAST(list_sum(list_transform(generate_series(1, 64),
                   i -> q[i] * varr[i])) AS BIGINT) AS dot
               FROM qn, ya$k),
      ye$k AS (SELECT j, q[j] AS x, dot
               FROM yd$k, UNNEST(generate_series(1, 64)) AS u(j)),
      ys$k AS (SELECT j, sum(CAST(x * dot AS HUGEINT)) AS s,
                 sum(CAST(x AS HUGEINT)) AS m,
                 sum(CAST(dot AS HUGEINT)) AS t,
                 CAST(count(*) AS HUGEINT) AS n
               FROM ye$k GROUP BY j),
      yc$k AS (SELECT j, n * s - m * t AS c FROM ys$k),
      yg$k AS (SELECT max(abs(c)) AS g FROM yc$k),
      yw$k AS (SELECT j, CASE WHEN g = 0 THEN CAST(0 AS BIGINT)
                 ELSE CAST(round(CAST(c AS DOUBLE) / CAST(g AS DOUBLE)
                 * 1000000) AS BIGINT) END AS wj
               FROM yc$k, yg$k),
      yx$k AS (SELECT sum(CAST(vj AS HUGEINT) * wj) AS d1,
                 sum(CAST(vj AS HUGEINT) * vj) AS b
               FROM yw$k JOIN v1j USING (j)),
      yo$k AS (SELECT j, b * wj - CAST(vj AS HUGEINT) * d1 AS c
               FROM yw$k JOIN v1j USING (j) CROSS JOIN yx$k),
      yh$k AS (SELECT max(abs(c)) AS g FROM yo$k),
      ya${k + 1} AS (SELECT list(CASE WHEN g = 0 THEN CAST(0 AS BIGINT)
                   ELSE CAST(round(CAST(c AS DOUBLE) /
                   CAST(g AS DOUBLE) * 1000000) AS BIGINT) END
                   ORDER BY j) AS varr
               FROM yo$k, yh$k)"""

  private def pca2Load(k: Int): String = s"""
      SELECT $k AS iter, CAST(j AS INT) AS j,
             CAST(CASE WHEN g = 0 THEN 0.0
               ELSE round(CAST(c AS DOUBLE) / CAST(g AS DOUBLE), 6) + 0.0 END
               AS DOUBLE) AS loading
      FROM yo$k, yh$k"""

  private lazy val pca2Sql = s"""
      $pcaPrefix,
      v1j AS (SELECT j, varr[j] AS vj
              FROM va4, UNNEST(generate_series(1, 64)) AS u(j)),
      ya1 AS (SELECT list_transform(generate_series(1, 64),
                i -> CAST(CASE WHEN i % 2 = 0 THEN -1000000
                          ELSE 1000000 END AS BIGINT)) AS varr),
      ${pca2StepCtes(1)}, ${pca2StepCtes(2)}, ${pca2StepCtes(3)}
      SELECT * FROM (${pca2Load(1)} UNION ALL ${pca2Load(2)}
        UNION ALL ${pca2Load(3)})
      ORDER BY iter, j"""

  /** 2-D scatter twin: va4 (= v₁) and ya4 (= the deflated v₂ after
    * round 3) both project in one qn pass; per-axis chain identical
    * to the 1-D projection twin, −0.0-canonicalized, zero-guarded. */
  private lazy val pcaScatterSql = {
    def axisSql(d: String, t: String, b: String) = s"""
             CAST(CASE WHEN $b = 0 THEN 0.0
               ELSE round(CAST(n * $d - $t AS DOUBLE) / CAST(n AS DOUBLE)
               / sqrt(CAST($b AS DOUBLE)) / CAST(10000 AS DOUBLE), 4) + 0.0 END
               AS DOUBLE)"""
    s"""
      $pcaPrefix,
      v1j AS (SELECT j, varr[j] AS vj
              FROM va4, UNNEST(generate_series(1, 64)) AS u(j)),
      ya1 AS (SELECT list_transform(generate_series(1, 64),
                i -> CAST(CASE WHEN i % 2 = 0 THEN -1000000
                          ELSE 1000000 END AS BIGINT)) AS varr),
      ${pca2StepCtes(1)}, ${pca2StepCtes(2)}, ${pca2StepCtes(3)},
      sj2 AS (SELECT vec_id,
               CAST(list_sum(list_transform(generate_series(1, 64),
                 i -> q[i] * a.w1[i])) AS BIGINT) AS dot1,
               CAST(list_sum(list_transform(generate_series(1, 64),
                 i -> q[i] * b.w2[i])) AS BIGINT) AS dot2,
               CAST(list_sum(list_transform(a.w1, x -> x * x)) AS BIGINT) AS bb1,
               CAST(list_sum(list_transform(b.w2, x -> x * x)) AS BIGINT) AS bb2
             FROM qn, (SELECT varr AS w1 FROM va4) a,
                  (SELECT varr AS w2 FROM ya4) b),
      st2 AS (SELECT sum(CAST(dot1 AS HUGEINT)) AS t1,
                sum(CAST(dot2 AS HUGEINT)) AS t2,
                CAST(count(*) AS HUGEINT) AS n,
                max(bb1) AS b1, max(bb2) AS b2
              FROM sj2)
      SELECT vec_id,
             ${axisSql("dot1", "t1", "b1")} AS pc1,
             ${axisSql("dot2", "t2", "b2")} AS pc2
      FROM sj2, st2 ORDER BY vec_id"""
  }

  private lazy val pcaProjectSql = s"""
      $pcaPrefix,
      pj AS (SELECT vec_id,
               CAST(list_sum(list_transform(generate_series(1, 64),
                 i -> q[i] * varr[i])) AS BIGINT) AS dot,
               CAST(list_sum(list_transform(varr, x -> x * x)) AS BIGINT) AS b
             FROM qn, va4),
      pst AS (SELECT sum(CAST(dot AS HUGEINT)) AS t,
                CAST(count(*) AS HUGEINT) AS n, max(b) AS bb
              FROM pj)
      SELECT vec_id,
             -- + 0.0 canonicalizes IEEE -0.0 (the q_ngram_pmi idiom):
             -- Spark's BigDecimal round never emits -0.0, DuckDB's
             -- round preserves the sign of a tiny negative
             CAST(CASE WHEN bb = 0 THEN 0.0
               ELSE round(CAST(n * dot - t AS DOUBLE) / CAST(n AS DOUBLE)
               / sqrt(CAST(bb AS DOUBLE)) / CAST(10000 AS DOUBLE), 4) + 0.0 END
               AS DOUBLE) AS pc1
      FROM pj, pst ORDER BY vec_id"""

  val oracles: Map[String, String] = Map(
    "q_embed_pca" -> pcaSql,
    "q_pca_explained" -> pcaExplainedSql,
    "q_embed_pca2" -> pca2Sql,
    "q_embed_pca_scatter" -> pcaScatterSql,
    "q_embed_pca_project" -> pcaProjectSql,
    "q_kmeans_2step" -> twoStepSql,
    // Twin of the k-center seeding: the same unrolled farthest-first
    // rounds — LIMIT-1 argmax per round (dmin DESC, vec_id ASC ≡ the
    // Spark struct-max), chosen ids excluded, exact integer distances
    // to ACTUAL corpus vectors.
    "q_kmeans_kcenter" -> {
      def vdot(a: String) =
        s"CAST(list_sum(list_transform(generate_series(1, 64), i -> v.q[i] * $a.q[i])) AS BIGINT)"
      "WITH " + Dedup.QE + s""",
      kc1 AS (SELECT vec_id, q, norm FROM qn ORDER BY vec_id LIMIT 1),
      kr2 AS (SELECT v.vec_id, v.q, v.norm,
                v.norm - 2 * ${vdot("a")} + a.norm AS dmin
              FROM qn v, kc1 a WHERE v.vec_id <> a.vec_id),
      kc2 AS (SELECT vec_id, q, norm, dmin FROM kr2
              ORDER BY dmin DESC, vec_id ASC LIMIT 1),
      kr3 AS (SELECT v.vec_id, v.q, v.norm,
                least(v.norm - 2 * ${vdot("a")} + a.norm,
                      v.norm - 2 * ${vdot("b")} + b.norm) AS dmin
              FROM qn v, kc1 a, kc2 b
              WHERE v.vec_id <> a.vec_id AND v.vec_id <> b.vec_id),
      kc3 AS (SELECT vec_id, q, norm, dmin FROM kr3
              ORDER BY dmin DESC, vec_id ASC LIMIT 1),
      kr4 AS (SELECT v.vec_id, v.q, v.norm,
                least(v.norm - 2 * ${vdot("a")} + a.norm,
                      v.norm - 2 * ${vdot("b")} + b.norm,
                      v.norm - 2 * ${vdot("c")} + c.norm) AS dmin
              FROM qn v, kc1 a, kc2 b, kc3 c
              WHERE v.vec_id <> a.vec_id AND v.vec_id <> b.vec_id
                AND v.vec_id <> c.vec_id),
      kc4 AS (SELECT vec_id, q, norm, dmin FROM kr4
              ORDER BY dmin DESC, vec_id ASC LIMIT 1)
      SELECT CAST(1 AS INT) AS round, vec_id, CAST(0 AS BIGINT) AS d2 FROM kc1
      UNION ALL SELECT 2, vec_id, CAST(dmin AS BIGINT) FROM kc2
      UNION ALL SELECT 3, vec_id, CAST(dmin AS BIGINT) FROM kc3
      UNION ALL SELECT 4, vec_id, CAST(dmin AS BIGINT) FROM kc4
      ORDER BY round"""
    },
    "q_kmeans_step" -> ("WITH " + Dedup.QE + s""",
      d AS (SELECT vec_id, q,
              ${(0 to 3).map(k =>
                s"norm - 2 * ${dotC(k)} + ${cNormSq(k)} AS d$k").mkString(", ")}
            FROM qn),
      a AS (SELECT q,
              CASE WHEN d0 <= d1 AND d0 <= d2 AND d0 <= d3 THEN 0
                   WHEN d1 <= d2 AND d1 <= d3 THEN 1
                   WHEN d2 <= d3 THEN 2 ELSE 3 END AS cluster,
              least(d0, d1, d2, d3) AS min_d
            FROM d)
      SELECT cluster, count(*) AS n, CAST(sum(min_d) AS BIGINT) AS inertia,
             ${(0 to 3).map(i =>
               s"round(CAST(sum(q[${i + 1}]) AS DOUBLE) / count(*), 4) AS c$i")
               .mkString(", ")}
      FROM a GROUP BY 1 ORDER BY cluster"""),
    "q_embed_outlier" -> ("WITH " + Dedup.QE + """,
      sums AS (SELECT label, i, CAST(sum(q[i]) AS BIGINT) AS s_i
               FROM qn, UNNEST(generate_series(1, 64)) AS u(i)
               GROUP BY 1, 2),
      sv AS (SELECT label, list(s_i ORDER BY i) AS sv FROM sums GROUP BY 1),
      cnt AS (SELECT label, count(*) AS n FROM qn GROUP BY 1),
      d AS (SELECT qn.label, qn.vec_id,
              CAST(cnt.n * cnt.n * qn.norm
                - 2 * cnt.n * CAST(list_sum(list_transform(
                    generate_series(1, 64), i -> qn.q[i] * sv.sv[i])) AS BIGINT)
                + CAST(list_sum(list_transform(
                    generate_series(1, 64), i -> sv.sv[i] * sv.sv[i])) AS BIGINT)
              AS BIGINT) AS score
            FROM qn JOIN sv ON qn.label = sv.label
                    JOIN cnt ON qn.label = cnt.label)
      SELECT label, CAST(rn AS INT) AS rn, vec_id, score FROM (
        SELECT label, vec_id, score,
               row_number() OVER (PARTITION BY label
                 ORDER BY score DESC, vec_id ASC) AS rn
        FROM d)
      WHERE rn <= 3 ORDER BY label, rn"""))
}
