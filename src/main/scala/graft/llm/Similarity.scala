package graft.llm

import graft.Tables
import graft.ops.Q
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor similarity search over the
  * `embeddings.embedding` column (north-star extension; the reference
  * has no vector ops — this is the map/shuffle/reduce "score then
  * per-key top-k" composition over its model).
  *
  * Numerics: vectors are quantized to int64 fixed-point (×10⁴,
  * [[Dedup.quantized]]) so every dot product/norm is exact integer
  * arithmetic and the final cosine is one deterministic IEEE division —
  * hash-identical across Spark and the DuckDB oracle.
  *
  * Scale (100 TB): brute force is the correctness baseline — a
  * broadcast of the (small) query set against a full scan of the
  * corpus, each partition keeping only its local top-k before the final
  * window (Catalyst plans the row_number filter with a per-partition
  * sort, no global materialization). On top of it, the two orthogonal
  * production knobs, each with oracle-gated recall rows:
  *
  *  - candidate CUT: cells from a data-independent quantizer (4 seeded
  *    sign-random-projection hyperplanes, [[Similarity.srp]]; single-
  *    probe or Hamming-1 multiprobe) or from TRAINED centroids
  *    ([[ivfCells]], one exact Lloyd refinement, nprobe 1/2). Every
  *    cell join broadcasts the bounded query batch — never the corpus,
  *    and never a shuffle on the handful of cell keys;
  *  - memory COMPRESSION: SQ8 one-byte codes with symmetric
  *    ([[sq8Top]]) or asymmetric ([[sq8AdcTop]]) all-integer kernels.
  *
  * [[ivfAdcTop]] composes both — the FAISS IndexIVF+SQ shape — and the
  * ScaleProbe ivf section measures the whole pipeline linear in corpus
  * size with balanced cells.
  */
object Similarity {

  import org.apache.spark.sql.{Column, DataFrame, SparkSession}

  /** Brute-force top-k cosine neighbors for query vectors (vec_id <
    * qmax), self excluded. Query side is broadcast: the fact (corpus)
    * side never shuffles before scoring; WindowGroupLimit keeps each
    * partition's local top-k before the single final exchange. */
  private def bruteTop(s: SparkSession, dir: String, qmax: Int, k: Int): DataFrame =
    bruteTopWhere(s, dir, col("vec_id") < qmax, k)

  /** [[bruteTop]] with an arbitrary query-panel predicate — lets other
    * modules (the RRF fusion quality row) reuse the exact brute
    * ground-truth plan on their own panel. */
  private[graft] def bruteTopWhere(s: SparkSession, dir: String,
      qpred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val qe = Dedup.quantized(s, dir)
    val queriesDf = qe.filter(qpred)
      .select(col("vec_id").as("query_id"), col("q").as("qa"), col("norm").as("na"))
    val corpus = qe
      .select(col("vec_id").as("neighbor_id"), col("q").as("qb"), col("norm").as("nb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    corpus.join(broadcast(queriesDf), col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", expr(Dedup.dotExpr))
      .withColumn("cosine", Dedup.cosine())
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cosine"))
  }

  /** Brute-force truth restricted to the filtered-ANN predicate's
    * passing corpus — the exact denominator for the filtered recall
    * row ("which k nearest PASSING vectors exist"). Same plan as
    * [[bruteTopWhere]] with the corpus side pre-filtered. */
  private def bruteFilteredTop(s: SparkSession, dir: String,
      qmax: Int, k: Int): DataFrame = {
    val qe = Dedup.quantized(s, dir)
    val queriesDf = qe.filter(col("vec_id") < qmax)
      .select(col("vec_id").as("query_id"), col("q").as("qa"), col("norm").as("na"))
    val corpus = qe.filter(filteredPred(col("label")))
      .select(col("vec_id").as("neighbor_id"), col("q").as("qb"), col("norm").as("nb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    corpus.join(broadcast(queriesDf), col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", expr(Dedup.dotExpr))
      .withColumn("cosine", Dedup.cosine())
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cosine"))
  }

  /** 4 × 64 ±1 hyperplanes for sign-random-projection LSH (Charikar,
    * STOC 2002): P[bit differs] = angle/π, so near-cosine neighbors
    * share cells with high probability — far better balanced than the
    * leading-component signs used pre-r4 (recall@3 at the same 16×
    * cut: 0.12 → see BASELINE.md). Fixed seed; the SAME literal matrix
    * is embedded in the Spark plan and the DuckDB twin. */
  private[llm] val srp: Seq[Seq[Int]] = {
    val r = new scala.util.Random(7)
    Seq.fill(4)(Seq.fill(64)(if (r.nextBoolean()) 1 else -1))
  }

  /** Spark-side bucket expression: 4 SRP sign bits via the codegen
    * `dot_long` against literal hyperplanes. */
  private def srpBucket: String =
    (0 to 3).map { g =>
      val w = srp(g).mkString(",")
      s"cast(dot_long(q, cast(array($w) as array<bigint>)) >= 0 as int) * ${1 << (3 - g)}"
    }.mkString(" + ")

  /** IVF/LSH-bucketed ANN top-k: coarse cell = 4 sign-random-projection
    * bits ([[srp]]; a deterministic stand-in for learned IVF
    * centroids); queries (vec_id < qmax) probe the cells at XOR
    * distance `probeMasks` from their own (mask 0 = own cell — the
    * single-probe 16× candidate cut; masks 0,8,4,2,1 = multiprobe over
    * every Hamming-1 neighbor cell, the standard recall knob: ~5/16 of
    * the corpus instead of 1/16, recovering neighbors that fall just
    * across a hyperplane boundary). Probe fan-out explodes the QUERY
    * side only — the corpus never duplicates, and each (query,
    * neighbor) pair arises at most once since a neighbor lives in one
    * cell. */
  private def annTop(s: SparkSession, dir: String, qmax: Int, k: Int,
      probeMasks: Seq[Int] = Seq(0)): DataFrame =
    annTopWhere(s, dir, col("vec_id") < qmax, k, probeMasks)

  /** [[annTop]] with an arbitrary query-panel predicate (same reuse
    * contract as [[bruteTopWhere]]). */
  private[graft] def annTopWhere(s: SparkSession, dir: String,
      qpred: org.apache.spark.sql.Column, k: Int,
      probeMasks: Seq[Int] = Seq(0)): DataFrame = {
    val qe = Dedup.quantized(s, dir).withColumn("bucket", expr(srpBucket))
    val queriesDf = qe.filter(qpred)
      .select(col("vec_id").as("query_id"), col("bucket"),
        col("q").as("qa"), col("norm").as("na"))
      .withColumn("probe", explode(array(
        probeMasks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)))
    val corpus = qe.select(col("vec_id").as("neighbor_id"),
      col("bucket").as("nbucket"), col("q").as("qb"), col("norm").as("nb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    // The query batch (qmax rows × nprobe) is the bounded side BY
    // CONSTRUCTION — broadcast it explicitly: left to estimates, small
    // SFs broadcast the CORPUS (fine until it isn't), and at scale the
    // fallback is a shuffle join on ≤16 bucket keys — a dop ceiling.
    broadcast(queriesDf).join(corpus, col("probe") === col("nbucket") &&
        col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", expr(Dedup.dotExpr))
      .withColumn("cosine", Dedup.cosine())
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("bucket"), col("rnk"),
        col("neighbor_id"), col("cosine"))
  }

  /** Scalar-quantized (SQ8) codes: every dimension squeezed to one byte
    * via per-dimension corpus min/max — the FAISS-style memory-compression
    * path (8× smaller residency than the int64 fixed-point vectors, int8
    * SIMD distance kernels on real hardware). The stats aggregate is ONE
    * 64-element min/max row: it is collected to the driver (2×64 longs —
    * the K-row Clustering-centroid pattern, not a data collect) and
    * re-embedded as array literals, so the codes projection is pure
    * scan-side. The r6 plan kept stats as a broadcast cross-join and
    * Catalyst planned the whole posexplode→agg subtree once per consumer
    * branch of [[sq8Top]] (no ReusedExchange) — the literal form runs it
    * exactly once. Quantization is exact integer arithmetic —
    * `(q[i]−mn)·255 div (mx−mn)` — so codes and symmetric code-to-code
    * L2² distances hash-match the oracle. Embeddings are unit-norm, so
    * L2 ranking is cosine ranking and recall@k against the exact top-k
    * measures precisely the quantization loss. */
  /** The persisted SQ8 per-dimension min/max frame (i, mn, mx). */
  private def sq8StatsFrameDurable(s: SparkSession, dir: String): DataFrame =
    IndexStore.durableFrame(s, dir, "sq8_stats") {
      Dedup.quantized(s, dir)
        .select(posexplode(col("q")).as(Seq("i", "v")))
        .groupBy(col("i"))
        .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    }

  private def sq8Stats(s: SparkSession, dir: String): (String, String) =
    // r16: the 2×64-long stats are a PERSISTED artifact (IndexStore) —
    // trained once per corpus, loaded thereafter; memoized in-session.
    standing(s, dir, "sq8_stats") {
      val st = sq8StatsFrameDurable(s, dir).orderBy(col("i")).collect()
      (st.map(_.getAs[Long]("mn")).mkString(","),
        st.map(_.getAs[Long]("mx")).mkString(","))
    }

  private def sq8CodesFrom(qe: DataFrame, mns: String, mxs: String): DataFrame =
    qe
      .withColumn("mn", expr(s"cast(array($mns) as array<bigint>)"))
      .withColumn("mx", expr(s"cast(array($mxs) as array<bigint>)"))
      .select(col("vec_id"), expr(
        """transform(sequence(0, size(q) - 1),
          |  i -> case when mx[i] = mn[i] then cast(0 as bigint)
          |            else (q[i] - mn[i]) * 255 div (mx[i] - mn[i]) end)"""
          .stripMargin).as("c"))

  private def sq8Codes(s: SparkSession, dir: String): DataFrame = {
    val (mns, mxs) = sq8Stats(s, dir)
    sq8CodesFrom(Dedup.quantized(s, dir), mns, mxs)
  }

  /** Symmetric (code-to-code) top-k by SQ8 L2² — broadcast queries,
    * WindowGroupLimit keeps local top-k exactly like the exact brute
    * path. The distance is the expanded identity |a−b|² =
    * ⟨a,a⟩ + ⟨b,b⟩ − 2⟨a,b⟩ with both self-norms computed SCAN-SIDE
    * (per row, once) so the per-PAIR hot path is ONE native
    * `dot_long` — the r14 standing rule: a `zip_with` diff lambda
    * here ran interpreted per pair element. */
  private def sq8Top(s: SparkSession, dir: String, qmax: Int, k: Int): DataFrame = {
    val codes = sq8Codes(s, dir)
    val queriesDf = codes.filter(col("vec_id") < qmax)
      .select(col("vec_id").as("query_id"), col("c").as("ca"),
        expr("dot_long(c, c)").as("nca"))
    val corpus = codes
      .select(col("vec_id").as("neighbor_id"), col("c").as("cb"),
        expr("dot_long(c, c)").as("ncb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("neighbor_id").asc)
    corpus.join(broadcast(queriesDf), col("query_id") =!= col("neighbor_id"))
      .withColumn("dist", expr("nca + ncb - 2 * dot_long(ca, cb)"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("dist"))
  }

  /** Asymmetric (ADC) top-k: full-precision QUERY against the int8-coded
    * CORPUS — the production default (FAISS composes exactly this with
    * IVF: only the corpus, which dominates memory, pays the 8×
    * compression; the handful of live queries keep full resolution, so
    * ranking loss is roughly half the symmetric code-to-code path that
    * [[sq8Top]] measures). Exact integer arithmetic: the dequantized
    * code value mn[i] + c[i]·(mx[i]−mn[i])/255 is fractional, so both
    * sides are scaled by 255 — query side da[i] = (q[i]−mn[i])·255,
    * corpus side db[i] = c[i]·(mx[i]−mn[i]) — and dist is the
    * 255²-scaled L2², a pure BIGINT sum (≤ 64·(2·10⁴·255)² ≈ 1.7·10¹⁵,
    * far inside long range), hash-exact against the DuckDB twin. Both
    * projections are scan-side: the corpus carries codes, the 64-long
    * rescale happens per-distance exactly as a production kernel (or
    * its per-dim LUT) would. */
  private def sq8AdcTop(s: SparkSession, dir: String, qmax: Int, k: Int): DataFrame = {
    val (mns, mxs) = sq8Stats(s, dir)
    val qe = Dedup.quantized(s, dir)
    val queriesDf = qe.filter(col("vec_id") < qmax)
      .withColumn("mn", expr(s"cast(array($mns) as array<bigint>)"))
      .withColumn("da",
        expr("transform(sequence(0, size(q) - 1), i -> (q[i] - mn[i]) * 255)"))
      .select(col("vec_id").as("query_id"), col("da"),
        expr("dot_long(da, da)").as("nda"))
    val corpus = sq8CodesFrom(qe, mns, mxs)
      .withColumn("mn", expr(s"cast(array($mns) as array<bigint>)"))
      .withColumn("mx", expr(s"cast(array($mxs) as array<bigint>)"))
      .withColumn("db",
        expr("transform(sequence(0, size(c) - 1), i -> c[i] * (mx[i] - mn[i]))"))
      .select(col("vec_id").as("neighbor_id"), col("db"),
        expr("dot_long(db, db)").as("ndb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("neighbor_id").asc)
    // |a−b|² expanded: self-norms scan-side, ONE native dot per pair
    // (the r14 standing rule — the zip_with diff ran interpreted)
    corpus.join(broadcast(queriesDf), col("query_id") =!= col("neighbor_id"))
      .withColumn("dist", expr("nda + ndb - 2 * dot_long(da, db)"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("dist"))
  }

  /** TRAINED-quantizer IVF cells: every vector assigned to the nearest
    * of K=4 centroids refined by one exact Lloyd update from
    * [[Clustering.centroids]] — the learned replacement for the
    * data-independent SRP hyperplanes of [[annTop]] (the
    * assign→sum→literalize round-trip is [[Clustering.lloyd]]'s, K×65
    * ints through the driver, never data). The refined centroid is
    * kept as the exact pair (n_k, s_k = Σv) — NO division, so the
    * assignment stays cross-engine hash-exact: argmin_k |v − s_k/n_k|²
    * via the cross-multiplied integer comparison
    * n_j²·(|s_k|² − 2·n_k·v·s_k) ≤ n_k²·(|s_j|² − 2·n_j·v·s_j)
    * (the |v|² term cancels). DECIMAL(38,0) here, HUGEINT in the twin:
    * |n²·u| ≲ 10²² at sf0.1 — at ~10⁹-row corpora the n⁴-scaled
    * products pass 10³⁸, where you renormalize s_k (gcd or a shared
    * shift) exactly as the inertia comment in Clustering prescribes. */
  /** Canonical per-corpus IVF assignment — the PERSISTED index: on
    * first use the trained stats and the full (vec_id, q, norm, cell,
    * cell2, label) assignment are written once through [[IndexStore]]
    * (keyed by the corpus content fingerprint) and every later call,
    * session, or process LOADS the parquet instead of retraining —
    * the FAISS write_index/read_index lifecycle. The frame-taking
    * [[ivfCellsFrom]] below always retrains (ScaleProbe, incremental
    * ingest, rebalance, and `q_knn_ivf_retrain`, which pins
    * load == retrain at the search-result level). */
  private[graft] def ivfCells(s: SparkSession, dir: String): DataFrame =
    IndexStore.durableFrame(s, dir, "ivf_cells") {
      ivfAssignWith(ivfStats(s, dir), Dedup.quantized(s, dir))
    }

  /** The persisted trained-quantizer stats frame (cluster, n, sv). */
  private def ivfStatsFrameDurable(s: SparkSession, dir: String): DataFrame =
    IndexStore.durableFrame(s, dir, "ivf_stats") {
      ivfTrainStatsFrame(Dedup.quantized(s, dir))
    }

  /** Canonical trained coarse-quantizer stats, loaded from the
    * persisted artifact (≤K rows collected; memoized per session). */
  private[graft] def ivfStats(s: SparkSession,
      dir: String): Seq[(Long, Seq[Long], BigInt)] =
    standing(s, dir, "ivf_stats") {
      partsOfStats(ivfStatsFrameDurable(s, dir).collect())
    }

  /** Frame-taking variant: (vec_id, q, norm) in, (…, cell, cell2) out —
    * ScaleProbe drives this on replicated corpora. */
  private[graft] def ivfCellsFrom(qe: DataFrame): DataFrame =
    ivfCellsAndCentroids(qe)._1

  /** [[ivfCellsFrom]] plus the trained coarse centroids as EXACT
    * integer vectors c_k = s_k / n_k (truncating Long division — the
    * same `//` DuckDB applies, so residuals v − c_k computed from the
    * literalized table are cross-engine hash-exact). The assignment
    * itself stays the divisionless cross-multiplied argmin; the
    * truncated centroid is only materialized for consumers that need
    * the vector itself (residual PQ encoding, [[ivfPqResTop]]). */
  private[graft] def ivfCellsAndCentroids(
      qe: DataFrame): (DataFrame, Seq[Seq[Long]]) = {
    val parts = ivfTrainStats(qe)
    (ivfAssignWith(parts, qe), parts.map { case (n, sv, _) => sv.map(_ / n) })
  }

  /** The trained coarse quantizer as exact integer stats (n_k, s_k,
    * |s_k|²) per non-empty cell — the K×65 ints that round-trip the
    * driver and re-enter downstream plans as literals. Split from the
    * assignment so an INCREMENTAL ingest can assign a delta against a
    * STANDING index trained on the corpus alone. */
  private[graft] def ivfTrainStats(
      train: DataFrame): Seq[(Long, Seq[Long], BigInt)] =
    partsOfStats(ivfTrainStatsFrame(train).collect())

  /** The persistable FRAME form of the training aggregate — what the
    * [[IndexStore]] ivf_stats artifact holds (≤K rows of exact ints). */
  private def ivfTrainStatsFrame(train: DataFrame): DataFrame =
    // vec_sum (ONE imperative buffer) instead of 64 sum(q[i]) columns:
    // identical Long sums, same K×64 exchange payload, but the
    // generated aggregate class shrinks from 65 update expressions to
    // one call — the training collect's COLD time was dominated by
    // that class's janino compile (3.9 s vs 0.8 s warm at sf0.1), and
    // under interleaved bench passes the codegen cache always evicts
    // it between reps, so every pass's first family query repaid it.
    Clustering.assign(train, Clustering.centroids.map(_.map(_.toLong)))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), expr("vec_sum(q, 64)").as("sv"))

  /** Merge per-shard training-stats frames into one trained quantizer:
    * per seed cluster, counts and Σv add exactly (the aggregate is
    * distributive over any partition of the corpus), so the merged
    * parts equal a full train bit for bit — `q_knn_ivf_merge` gates
    * that equality through q_knn_ivf's own oracle. Driver-side merge
    * of ≤K rows per shard (index METADATA, never data). */
  private[graft] def ivfStatsMergeParts(
      frames: Seq[DataFrame]): Seq[(Long, Seq[Long], BigInt)] = {
    val byK = scala.collection.mutable.Map.empty[Int, (Long, Array[Long])]
    for (f <- frames; r <- f.collect()) {
      val k = r.getAs[Int]("cluster")
      val n = r.getAs[Long]("n")
      val sv = r.getAs[scala.collection.Seq[Long]]("sv").toArray
      byK.get(k) match {
        case Some((n0, s0)) =>
          var i = 0
          while (i < s0.length) { s0(i) += sv(i); i += 1 }
          byK(k) = (n0 + n, s0)
        case None => byK(k) = (n, sv.clone())
      }
    }
    require(byK.nonEmpty, "IVF merge: empty corpus")
    byK.keys.toSeq.sorted.map { k =>
      val (n, sv) = byK(k)
      (n, sv.toSeq, sv.map(v => BigInt(v) * BigInt(v)).sum)
    }
  }

  private def partsOfStats(collected: Array[org.apache.spark.sql.Row])
      : Seq[(Long, Seq[Long], BigInt)] = {
    val byK = collected.map(r => r.getAs[Int]("cluster") -> r).toMap
    // Empty-cell fallback (the k-means empty-cluster standard): a
    // degenerate corpus that leaves some seed cells empty DEGRADES to
    // the m ≤ 4 non-empty cells (re-indexed 0..m-1 in ascending seed
    // order) instead of failing the query. m = 1 is still an index —
    // one cell scanned fully, cell2 degenerate (IvfDegenerateSpec).
    // The DuckDB twin ([[ivfCte]]) renders m from the same training
    // rows (zero-losses pairwise argmin over the non-empty cells), so
    // the oracle contract holds on degenerate corpora too.
    require(byK.nonEmpty, "IVF training: empty corpus")
    val present = byK.keys.toSeq.sorted
    present.map { k =>
      val r = byK(k)
      val n = r.getAs[Long]("n")
      val sv = r.getAs[scala.collection.Seq[Long]]("sv").toSeq
      val s2 = sv.map(v => BigInt(v) * BigInt(v)).sum
      (n, sv, s2)
    }
  }

  /** Assign `apply`'s vectors to the standing cells described by
    * `parts` — a pure scan-side projection (K literal dot products +
    * the divisionless cross-multiplied argmin), no shuffle, no
    * training pass: cost ∝ |apply| regardless of how large the corpus
    * that trained the index was. */
  private[graft] def ivfAssignWith(parts: Seq[(Long, Seq[Long], BigInt)],
      apply: DataFrame): DataFrame = {
    val m = parts.size
    val withU = parts.zipWithIndex.foldLeft(apply) { case (df, ((n, sv, s2), k)) =>
      df.withColumn(s"u$k",
        expr(s"cast('$s2' as decimal(38,0)) - 2 * $n * " +
          s"cast(dot_long(q, cast(array(${sv.mkString(",")}) as array<bigint>)) as decimal(38,0))"))
    }
    def cond(k: Int, j: Int): String = {
      val (nk, nj) = (parts(k)._1, parts(j)._1)
      s"cast($nj as decimal(38,0)) * $nj * u$k <= cast($nk as decimal(38,0)) * $nk * u$j"
    }
    withU.withColumn("cell", expr(Similarity.argminCase(cond, m)))
      // second-nearest cell — the nprobe = 2 target ([[ivfTop]]'s
      // multiprobe): same comparisons, best cell excluded; with a
      // single non-empty cell there is no second-nearest — cell2 =
      // cell, and ivfTop's array_distinct keeps the probe set a set
      .withColumn("cell2",
        if (m == 1) lit(0)
        else expr(Similarity.secondCase("cell", cond, m)))
      // label rides along when the source carries it (the filtered-ANN
      // predicate column); consumers that ignore it see it pruned out
      // of the scan by Catalyst, so label-free plans are unchanged.
      .select(Seq(col("vec_id"), col("q"), col("norm"), col("cell"),
        col("cell2")) ++
        (if (apply.columns.contains("label")) Seq(col("label")) else Nil): _*)
  }

  /** IVF top-k: queries probe their own trained cell (nprobe = 1) or
    * their two nearest (nprobe = 2, the IVF recall knob — the exact
    * parameter a FAISS deployment tunes), the candidate join is a
    * plain cell equality — same shuffle shape as [[annTop]], but the
    * cells track the data distribution instead of fixed hyperplanes.
    * The probe fan-out explodes the QUERY side only; a neighbor lives
    * in one cell, so no pair ever arises twice. */
  private def ivfTop(s: SparkSession, dir: String, qmax: Int, k: Int,
      nprobe: Int = 1): DataFrame =
    ivfTopFrom(ivfCells(s, dir), qmax, k, nprobe)

  /** Cells-taking form: the recall grid trains the index ONCE and runs
    * every (k, nprobe) operating point against the same cells frame. */
  private def ivfTopFrom(cells: DataFrame, qmax: Int, k: Int,
      nprobe: Int): DataFrame =
    ivfTopOn(cells, col("vec_id") < qmax, k, nprobe)

  /** Panel-predicate form: the incremental-ingest row runs the same
    * ranking with its query panel restricted to standing (pre-delta)
    * vectors, against both the before- and after-ingest cell sets. */
  private def ivfTopOn(cells: DataFrame,
      qpred: org.apache.spark.sql.Column, k: Int,
      nprobe: Int): DataFrame =
    ivfTopBetween(cells.filter(qpred), cells, k, nprobe)

  /** Two-frame form of the IVF ranking — assigned QUERY cells on one
    * side, the standing corpus cells on the other. This is the
    * serving split ([[graft.streaming.Streams.annServe]] probes a
    * micro-batch of arriving queries against the persisted index);
    * the one-frame [[ivfTopOn]] is the special case queries ⊆ corpus.
    * Self-matches are excluded by vec_id, so a query that IS a corpus
    * vector ranks identically through either form. */
  private[graft] def ivfTopBetween(queryCells: DataFrame,
      corpusCells: DataFrame, k: Int, nprobe: Int): DataFrame = {
    // array_distinct: with a degenerate single-cell index cell2 == cell
    // and a duplicate probe would double every candidate row
    val probeCols =
      if (nprobe >= 2) array_distinct(array(col("cell"), col("cell2")))
      else array(col("cell"))
    val queriesDf = queryCells
      .select(col("vec_id").as("query_id"), col("cell"),
        explode(probeCols).as("probe"),
        col("q").as("qa"), col("norm").as("na"))
    val corpus = corpusCells.select(col("vec_id").as("neighbor_id"),
      col("cell").as("ncell"), col("q").as("qb"), col("norm").as("nb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    // Same rule as [[annTop]]: the query batch broadcasts explicitly —
    // the K=4 cell key would otherwise cap the shuffle join's dop at 4.
    broadcast(queriesDf).join(corpus, col("probe") === col("ncell") &&
        col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", expr(Dedup.dotExpr))
      .withColumn("cosine", Dedup.cosine())
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("cell"), col("rnk"),
        col("neighbor_id"), col("cosine"))
  }

  /** Candidate GENERATION for two-stage retrieval (the ColBERTv2/PLAID
    * production shape: a cheap ANN first stage shortlists, an
    * expensive late-interaction stage reranks ONLY the shortlist):
    * the trained-IVF ranking ([[ivfTopOn]], nprobe configurable) on an
    * arbitrary query-panel predicate, surfaced for the MaxSim rerank
    * in [[graft.ops.TextOps]]. Returns (query_id, neighbor_id) pairs,
    * ≤ k per panel query — the bounded frame the rerank joins, never
    * the corpus. */
  private[graft] def ivfCandidatesWhere(s: SparkSession, dir: String,
      qpred: org.apache.spark.sql.Column, k: Int, nprobe: Int): DataFrame =
    ivfTopOn(ivfCells(s, dir), qpred, k, nprobe)
      .select(col("query_id"), col("neighbor_id"))

  /** Corpus-side predicate of the FILTERED-ANN rows — a ~30%-selective
    * metadata constraint (labels 0–2 of the 10), the FAISS IDSelector /
    * vector-DB `filter=` parameter. */
  private def filteredPred(
      labelCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    labelCol < 3

  /** FILTERED ANN — metadata-constrained top-k (the production
    * vector-DB feature: FAISS IDSelector semantics — results must
    * satisfy a predicate on an attribute column; queries are
    * unconstrained). Both strategies the literature prices, side by
    * side in one output frame:
    *
    *  - `pre`  (pre-filtering): the predicate is FUSED INTO the
    *    candidate side of the cell join BEFORE ranking — the rank
    *    window only ever sees passing vectors, so k survivors are
    *    returned whenever the probed cells hold k. At 100 TB this is
    *    a pushed scan filter: candidates shrink BEFORE any shuffle.
    *  - `post` (post-filtering): the UNfiltered ranking runs at an
    *    INFLATED budget (4·k), then non-passing rows are dropped and
    *    the survivors re-ranked in original rank order — the cheap
    *    strategy for rare/ad-hoc predicates against a standing
    *    unfiltered index, but it can come back SHORT when fewer than
    *    k of the 4·k inflated window pass (exactly what the recall
    *    row beside this measures).
    *
    * Same scale shape as [[ivfTopOn]]: broadcast query panel, cell-
    * equality candidate join (never corpus×panel), per-query
    * WindowGroupLimit. */
  private def filteredTop(s: SparkSession, dir: String,
      qmax: Int, k: Int): DataFrame = {
    val cells = ivfCells(s, dir)
    val queriesDf = cells.filter(col("vec_id") < qmax)
      .select(col("vec_id").as("query_id"),
        explode(array_distinct(array(col("cell"), col("cell2")))).as("probe"),
        col("q").as("qa"), col("norm").as("na"))
    val corpus = cells.select(col("vec_id").as("neighbor_id"),
      col("label").as("nlabel"), col("cell").as("ncell"),
      col("q").as("qb"), col("norm").as("nb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    def ranked(c: DataFrame): DataFrame =
      broadcast(queriesDf).join(c, col("probe") === col("ncell") &&
          col("query_id") =!= col("neighbor_id"))
        .withColumn("dot", expr(Dedup.dotExpr))
        .withColumn("cosine", Dedup.cosine())
        .withColumn("rnk0", row_number().over(w))
    val pre = ranked(corpus.filter(filteredPred(col("nlabel"))))
      .filter(col("rnk0") <= k)
      .select(lit("pre").as("strategy"), col("query_id"),
        col("rnk0").as("rnk"), col("neighbor_id"), col("cosine"))
    val post = ranked(corpus)
      .filter(col("rnk0") <= 4 * k)
      .filter(filteredPred(col("nlabel")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("rnk0").asc)))
      .filter(col("rnk") <= k)
      .select(lit("post").as("strategy"), col("query_id"),
        col("rnk"), col("neighbor_id"), col("cosine"))
    pre.unionByName(post)
  }

  /** k-NN GRAPH — EVERY corpus vector gets its top-k neighbors, the
    * precursor artifact of the graph-based curation pipelines
    * (SemDeDup-style pruning, connected components over near-dup
    * edges, graph-diversity sampling) where the "query set" IS the
    * corpus. The shape difference vs [[ivfTopFrom]] is structural: the
    * query side can no longer broadcast (it is all N rows), so the
    * candidate join becomes the SemDeDup self-join keyed on the
    * trained cell — the PROBE side explodes each node into its
    * nprobe = 2 nearest cells ([[ivfCellsFrom]]'s `cell`/`cell2`,
    * deduped so a degenerate single-cell index contributes one probe),
    * the corpus side stays home-cell, and every candidate edge arises
    * exactly once per probe-set membership. Candidates are bounded by
    * Σ_c |probe⁻¹(c)|·|c| ≤ nprobe·Σ|cell|² — never N². The
    * `shuffle_hash` hint keeps the join a hash join keyed on the cell
    * (a broadcast of either side would be a corpus broadcast; a
    * nested loop would be the N² matrix the index exists to avoid).
    * K = 4 cells is fixture-scaled: a real deployment trains
    * K ∝ √N cells, so the cell-keyed join's parallelism grows with
    * the corpus, and per-cell candidate blocks stay ~√N-sized. */
  private[graft] def knnGraphFrom(cells: DataFrame, k: Int): DataFrame =
    knnGraphBetween(cells, cells, k)

  /** Two-frame generalization: probe-side nodes pick top-k neighbors
    * among CORPUS-side nodes through the shared coarse cells — the
    * self-join form builds the full graph; an asymmetric call is the
    * ADD-ONLY ingest (q_knn_graph_ingest: delta probes the standing
    * index without touching its edges). */
  private[graft] def knnGraphBetween(probeCells: DataFrame,
      corpusCells: DataFrame, k: Int): DataFrame = {
    // 2-D salt grid (guide §2.5 "salt the key"): the join key has only
    // |coarse cells| distinct values, so the Σ|cell|² scoring work of
    // the graph build lands on a handful of tasks (and AQE, sizing by
    // BYTES, coalesces the tiny exchanges further — the per-pair dot
    // product is invisible to it). Salting each side by the OTHER
    // side's id-hash splits every cell's pair block into a g×g grid:
    // each side is replicated only g = √width ways, each pair is
    // produced by EXACTLY ONE (sp, sc) combination, so the pair set —
    // and the query result — is unchanged while the build spreads
    // over cells·g² keys. g derives from the session's parallelism
    // (g = 1 on a one-core session: no salting).
    val g = math.max(1, math.sqrt(Tables.fanWidth(probeCells.sparkSession))
      .round.toInt)
    val probes = probeCells.select(col("vec_id"),
      explode(array_distinct(array(col("cell"), col("cell2")))).as("probe"),
      col("q").as("qa"), col("norm").as("na"))
      .withColumn("sp", pmod(col("vec_id"), lit(g)))
      .withColumn("sc", explode(sequence(lit(0), lit(g - 1))))
    val corpus = corpusCells.select(col("vec_id").as("neighbor_id"),
      col("cell").as("ncell"), col("q").as("qb"), col("norm").as("nb"))
      .withColumn("csc", pmod(col("neighbor_id"), lit(g)))
      .withColumn("csp", explode(sequence(lit(0), lit(g - 1))))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    probes.join(corpus.hint("shuffle_hash"),
        col("probe") === col("ncell") && col("sp") === col("csp") &&
          col("sc") === col("csc") && col("vec_id") =!= col("neighbor_id"))
      .withColumn("dot", expr(Dedup.dotExpr))
      .withColumn("cosine", Dedup.cosine())
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("vec_id"), col("rnk"), col("neighbor_id"), col("cosine"))
  }

  /** Brute-force top-k restricted to the deterministic BOUNDED node
    * panel (`vec_id % 5 = 0 AND vec_id < 1000` — ≤ 200 nodes at ANY
    * corpus size) — the recall DENOMINATOR for the graph: at corpus
    * scale the exact graph is unaffordable by definition, so graph
    * recall is always ESTIMATED on a sample, and the sample must be
    * ABSOLUTE-size-bounded, not a fraction (a 1-in-5 slice of a
    * 100 TB corpus is 20 TB — not a broadcastable query batch; the
    * capped panel is). */
  private def bruteGraphSampled(s: SparkSession, dir: String, k: Int): DataFrame = {
    val qe = Dedup.quantized(s, dir)
    val queriesDf = qe.filter(col("vec_id") % 5 === 0 && col("vec_id") < 1000)
      .select(col("vec_id").as("query_id"), col("q").as("qa"), col("norm").as("na"))
    val corpus = qe
      .select(col("vec_id").as("neighbor_id"), col("q").as("qb"), col("norm").as("nb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    corpus.join(broadcast(queriesDf), col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", expr(Dedup.dotExpr))
      .withColumn("cosine", Dedup.cosine())
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** Graph-traversal ANN (the NSW/HNSW layer-0 search shape, Malkov &
    * Yashunin 2018, done relationally): start each query at a cheap
    * ENTRY POINT (the lowest vec_id in its coarse cell), then repeat
    * `hops` times: expand the frontier through the degree-bounded
    * navigation graph, score the new candidates exactly, keep a BEAM
    * of the best `beam` as the next frontier — and finally
    * exact-rerank the whole visited set (≤ 1 + deg + (hops−1)·beam·deg
    * scored nodes per query; ~55 at deg 6, beam 4, 3 hops). Every hop
    * is an equality join keyed on node id against the PRE-BUILT k-NN
    * graph — the candidate set per query is degree-bounded by
    * construction, never corpus-sized, and at 100 TB the graph is the
    * standing index: hops shuffle only (query, node-id) pairs while
    * the beam keeps the expansion frontier from squaring. */
  private def graphSearchTop(s: SparkSession, dir: String,
      k: Int, beam: Int, hops: Int): DataFrame = {
    val cells = ivfCells(s, dir)
    val gv = vecGraph(s, dir, s"graph$GraphSearchDegree")(durableGraph8(s, dir))
    val queriesDf = cells
      .filter(col("vec_id") % 5 === 0 && col("vec_id") < 1000)
      .select(col("vec_id").as("query_id"), col("cell").as("qcell"),
        col("q").as("qa"), col("norm").as("na"))
    val seeds = cells.groupBy(col("cell")).agg(min(col("vec_id")).as("cand"))
    val hop0 = queriesDf.join(seeds, col("qcell") === col("cell"))
      .select(col("query_id"), col("qa"), col("na"), col("cand"))
    walkRerank(s, dir, walkScored(gv, scoreOnCorpus(s, dir, hop0),
      hops, beam), k)
  }

  /** The navigation graph with each edge's DESTINATION vector beside
    * it — the node layout a deployed HNSW actually serves from (a hop
    * must score the neighbors it expands, so real graph indexes store
    * the vector next to the adjacency list). Derived IN-SESSION from
    * the persisted edge-only artifact (the on-disk artifact and its
    * q_index_persist census row are unchanged); the attached (q, norm)
    * are the same exact integers the corpus frame holds, so every
    * score is bit-identical to the corpus-join form this replaces —
    * which cost one corpus join + one extra broadcast PER HOP
    * (measured: the four walk rows were half driver latency across
    * 32-44 jobs each; scoring on the edge removes 2 jobs and a
    * |corpus|-row probe per hop). */
  private def vecGraph(s: SparkSession, dir: String, tag: String)(
      graph: => DataFrame): DataFrame =
    standing(s, dir, tag + "_vec") {
      // REBALANCE before materializing: AQE sizes the checkpoint's
      // partitions by BYTES (one small partition at sf0.1 instead of
      // the upstream join's 32 near-empty ones; many at 100 TB). Every
      // hop job and the final rerank scan these partitions, and this
      // host measures ~50 ms fixed CPU per task — 32-way-sliced empty
      // partitions were pure overhead ×(hops+2) per walk query.
      graph.join(ivfCells(s, dir).select(col("vec_id").as("dst"),
          col("q").as("qb"), col("norm").as("nb")), "dst")
        .select(col("src"), col("dst"), col("qb"), col("nb"))
        .hint("rebalance")
        .localCheckpoint(true)
    }

  /** Score a (query_id, qa, na, cand) frame against the corpus vector
    * store (entry-point scoring — the one place the walk still needs a
    * vector LOOKUP rather than an edge expansion). */
  private def scoreOnCorpus(s: SparkSession, dir: String,
      c: DataFrame): DataFrame = {
    val corpus = standing(s, dir, "corpus") {
      // byte-sized partitions, same reasoning as [[vecGraph]]
      ivfCells(s, dir)
        .select(col("vec_id").as("cand"), col("q").as("qb"), col("norm").as("nb"))
        .hint("rebalance")
        .localCheckpoint(true)
    }
    corpus.join(broadcast(c), "cand")
      .withColumn("dot", expr(Dedup.dotExpr))
      .withColumn("cosine", Dedup.cosine())
      .select(col("query_id"), col("qa"), col("na"), col("cand"), col("cosine"))
  }

  private def walkRankW = Window.partitionBy(col("query_id"))
    .orderBy(col("cosine").desc, col("cand").asc)

  /** One beam-walk hop, scored ON the vector-bearing graph: expand the
    * frontier through gv and score each (query, neighbor) pair from
    * the edge's own (qb, nb). The expansion is NOT deduplicated here —
    * duplicate (query_id, cand) rows carry identical cosine (same
    * exact vectors, same expression), so the dense_rank beam below and
    * the final-rerank dedup see the same candidate SET the old
    * dedup-then-row_number form saw, one exchange earlier. */
  private def hopScored(gv: DataFrame, frontier: DataFrame): DataFrame =
    gv.join(broadcast(frontier), col("cand") === col("src"))
      .select(col("query_id"), col("qa"), col("na"), col("dst"),
        col("qb"), col("nb"))
      .withColumn("dot", expr(Dedup.dotExpr))
      .withColumn("cosine", Dedup.cosine())
      .select(col("query_id"), col("qa"), col("na"),
        col("dst").as("cand"), col("cosine"))

  /** The next frontier: distinct candidates whose dense_rank ≤ beam.
    * dense_rank over the dup-bearing scored frame equals row_number
    * over its (query_id, cand)-distinct form: the order key
    * (cosine desc, cand asc) is total over distinct cands, duplicates
    * share BOTH keys (hence one rank), and the dedup rides the
    * window's query_id clustering — no second exchange. */
  private def beamOf(scored: DataFrame, beam: Int): DataFrame =
    scored
      .withColumn("rk", dense_rank().over(walkRankW))
      .filter(col("rk") <= beam)
      .dropDuplicates("query_id", "cand")
      .select(col("query_id"), col("qa"), col("na"), col("cand"))

  /** Run the beam walk: returns every hop's SCORED frame (the scored
    * entry f0sc included), each eagerly checkpointed exactly once —
    * the visited set is their union, already scored, so the final
    * rerank needs no corpus join. Per hop this runs ONE broadcast
    * (the panel-bounded frontier), ONE exchange (the beam window's
    * query_id clustering) and ONE checkpoint job. */
  private def walkScored(gv: DataFrame, f0sc: DataFrame, hops: Int,
      beam: Int): Seq[DataFrame] = {
    val f0 = f0sc.localCheckpoint(true)
    val arms = Seq.newBuilder[DataFrame]
    arms += f0
    // frontier_0 is ALL entry rows (one per query — never beamed),
    // exactly as the old form walked it
    var frontier = f0.select(col("query_id"), col("qa"), col("na"), col("cand"))
    for (_ <- 1 to hops) {
      val sc = hopScored(gv, frontier).localCheckpoint(true)
      arms += sc
      frontier = beamOf(sc, beam)
    }
    arms.result()
  }

  /** Exact rerank of the (already scored) visited union: same
    * dense_rank-then-dedup equivalence as [[beamOf]]; duplicate
    * visited rows are identical in every output column. */
  private def walkRerank(s: SparkSession, dir: String,
      arms: Seq[DataFrame], k: Int): DataFrame =
    arms.reduce(_ unionByName _)
      .filter(col("cand") =!= col("query_id"))
      .withColumn("rnk", dense_rank().over(walkRankW))
      .filter(col("rnk") <= k)
      .dropDuplicates("query_id", "cand")
      .select(col("query_id"), col("rnk"),
        col("cand").as("neighbor_id"), col("cosine"))

  /** Out-degree of the NAVIGATION graph the beam search walks — wider
    * than the k=3 analytics graph on purpose: a traversal index needs
    * reachability (HNSW's M link budget), not edge parsimony. */
  private val GraphSearchDegree = 8

  /** The PERSISTED degree-8 navigation graph (src, dst) — built once
    * per corpus through [[IndexStore]], loaded by every later call,
    * session, and process. The in-session [[standing]] memo sits on
    * top so one process never re-opens the parquet per walk row. */
  private def durableGraph8(s: SparkSession, dir: String): DataFrame =
    standing(s, dir, s"graph$GraphSearchDegree") {
      IndexStore.durableFrame(s, dir, s"graph$GraphSearchDegree") {
        knnGraphFrom(ivfCells(s, dir), k = GraphSearchDegree)
          .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      }
    }

  /** The k = 3 ANALYTICS graph as an in-session standing frame (the
    * `corpus` pattern: memo + checkpoint, NO new durable artifact —
    * the q_index_persist census is unchanged). Consumers are the
    * graph ANALYTICS rows (communities, mutual filter, recall), which
    * on a cluster read the persisted graph table rather than re-running
    * the Σ|cell|² build each; q_knn_graph itself — the BUILD query —
    * deliberately does NOT read this memo, so its bench time keeps
    * pricing the fresh build. REBALANCE before the checkpoint for
    * byte-derived partition counts (see [[vecGraph]]). */
  private def graph3(s: SparkSession, dir: String): DataFrame =
    standing(s, dir, "graph3") {
      knnGraphFrom(ivfCells(s, dir), k = 3)
        .hint("rebalance")
        .localCheckpoint(true)
    }

  /** The persisted sparse HNSW upper layer (1-in-8 nodes, degree 4). */
  private def durableUpper4(s: SparkSession, dir: String): DataFrame =
    standing(s, dir, "upper4") {
      IndexStore.durableFrame(s, dir, "upper4") {
        knnGraphFrom(ivfCells(s, dir).filter(col("vec_id") % 8 === 0), k = 4)
          .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      }
    }

  /** The in-session STANDING-STATE registry: every memoized artifact
    * derived from a corpus dir lives here under its own tag, and so
    * does each parquet input's inferred schema ([[graft.Tables.parquet]],
    * keyed on the file or artifact dir itself). On a
    * cluster these are persisted tables built ONCE and read by every
    * query; contents are deterministic exact-integer artifacts, so
    * every consumer stays hash-identical to its build-it-itself form
    * at any dop.
    *
    * An entry is keyed by (session, dir, tag) and carries the input
    * version ([[graft.Tables.version]]) it was built from: a lookup
    * that finds another version rebuilds and replaces the entry, so
    * state never outlives its inputs. The build runs OUTSIDE the map's
    * lock — the map only swaps in an unforced cell, forced after the
    * map call returns — so builds nest inside builds freely. */
  private final class Cell(val version: Seq[(String, Long, Long)],
      build: => Any) {
    lazy val value: Any = build
  }
  private val registry = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), Cell]()

  private[graft] def standing[A](s: SparkSession, dir: String, tag: String)
      (build: => A): A = {
    val version = graft.Tables.version(dir)
    registry.compute((s, dir, tag), (_, old) =>
      if (old != null && old.version == version) old
      else new Cell(version, build)).value.asInstanceOf[A]
  }

  /** The (dir-scoped) tags the registry currently holds. */
  private[graft] def standingTags(s: SparkSession, dir: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    registry.keySet.asScala.collect { case (`s`, `dir`, t) => t }.toSet
  }

  /** Drop every standing entry — the one release point the harness
    * mains call before shutdown. Checkpoint blocks behind the dropped
    * frames are reclaimed by the ContextCleaner once unreachable. */
  def releaseStandingIndexes(): Unit = registry.clear()

  /** HIERARCHICAL graph search (the full HNSW shape, Malkov &
    * Yashunin 2018): a sparse UPPER layer (deterministic 1-in-8 node
    * subset, degree 4) descends from ONE GLOBAL entry point to a
    * per-query layer-0 entry, then the layer-0 beam walk proceeds as
    * in [[graphSearchTop]]. The structural difference from
    * q_knn_graph_search: entry comes from GRAPH DESCENT, not the
    * trained coarse cell — the pure-graph-index property (HNSW needs
    * no quantizer at query time; the cells here only build the
    * neighbor lists, the role a construction-time candidate generator
    * plays in any HNSW build). Walk budgets: 2 hops × beam 4 upper,
    * then the SAME 5-hop × beam-8 lower walk as q_knn_graph_search —
    * so the recall pair isolates exactly ONE variable, the entry
    * strategy. Same checkpointed standing-index
    * discipline; every frontier is panel-bounded and broadcast. */
  private def hnswTop(s: SparkSession, dir: String, k: Int): DataFrame = {
    val cells = ivfCells(s, dir)
    // gv0 is the SAME vector-bearing standing frame q_knn_graph_search
    // walks (same tag) — built once per process for the whole family;
    // only the sparse upper layer is HNSW's own.
    val gv0 = vecGraph(s, dir, s"graph$GraphSearchDegree")(durableGraph8(s, dir))
    val gv1 = vecGraph(s, dir, "upper4")(durableUpper4(s, dir))
    val up = cells.filter(col("vec_id") % 8 === 0)
    val queriesDf = cells
      .filter(col("vec_id") % 5 === 0 && col("vec_id") < 1000)
      .select(col("vec_id").as("query_id"), col("q").as("qa"), col("norm").as("na"))
    // every query starts at the SAME global entry (HNSW's top layer)
    val h0 = queriesDf.crossJoin(broadcast(up.agg(min(col("vec_id")).as("cand"))))
    val upArms = walkScored(gv1, scoreOnCorpus(s, dir, h0), hops = 2, beam = 4)
    // layer-0 entry = the best upper-visited node per query; its
    // cosine (carried from the upper walk's scoring) is the same exact
    // value a fresh corpus lookup would produce, so keeping the column
    // changes nothing downstream. dense_rank = 1 picks the unique best
    // (cosine, cand) pair; duplicates of it are identical rows.
    val l0Entry = upArms.reduce(_ unionByName _)
      .withColumn("rn", dense_rank().over(walkRankW))
      .filter(col("rn") === 1)
      .dropDuplicates("query_id")
      .select(col("query_id"), col("qa"), col("na"), col("cand"), col("cosine"))
    walkRerank(s, dir, walkScored(gv0, l0Entry, hops = 5, beam = 8), k)
  }

  /** 1-bit binary-quantized top-k: sign codes scan-side, Hamming
    * ranking (ties: lower neighbor id). All-integer — hash-exact.
    * Signs are ±1 so the per-PAIR Hamming reduces to ONE native dot:
    * matching dims contribute +1, differing −1, hence hamming =
    * (d − ⟨sa,sb⟩)/2 (the r14 standing rule — the zip_with equality
    * fold here ran interpreted per pair element). */
  private def bqTop(s: SparkSession, dir: String, qmax: Int, k: Int): DataFrame = {
    val signs = Dedup.quantized(s, dir)
      .select(col("vec_id"),
        expr("transform(q, x -> case when x >= 0 then 1L else -1L end)").as("sg"))
    val queriesDf = signs.filter(col("vec_id") < qmax)
      .select(col("vec_id").as("query_id"), col("sg").as("sa"))
    val corpus = signs
      .select(col("vec_id").as("neighbor_id"), col("sg").as("sb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    corpus.join(broadcast(queriesDf), col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming", expr(
        "(cast(size(sa) as bigint) - dot_long(sa, sb)) div 2"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("hamming"))
  }

  /** PACKED binary quantization — the deployment encoding of the
    * 1-bit leg: all 64 sign bits in two 32-bit words (two positive
    * BIGINTs, overflow-safe in both engines), Hamming distance =
    * bit_count(xor) per word — two xors and two popcounts where the
    * array form evaluates a 64-element zip_with lambda per pair.
    * Ranking is IDENTICAL to [[bqTop]] by construction
    * (SimilaritySpec pins row equality); this variant exists because
    * at 100 TB the 16-byte code column and the popcount kernel are
    * what a production scan actually ships and runs. */
  private def bqPackedTop(s: SparkSession, dir: String, qmax: Int,
      k: Int): DataFrame = {
    def packWord(from: Int): String =
      s"aggregate(sequence($from, ${from + 31}), 0L, (acc, i) -> acc + " +
        s"CASE WHEN element_at(q, i + 1) >= 0 THEN shiftleft(1L, i - $from) ELSE 0L END)"
    val codes = Dedup.quantized(s, dir)
      .select(col("vec_id"), expr(packWord(0)).as("lo"),
        expr(packWord(32)).as("hi"))
    val queriesDf = codes.filter(col("vec_id") < qmax)
      .select(col("vec_id").as("query_id"),
        col("lo").as("qlo"), col("hi").as("qhi"))
    val corpus = codes.select(col("vec_id").as("neighbor_id"),
      col("lo"), col("hi"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    corpus.join(broadcast(queriesDf), col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming", expr(
        "cast(bit_count(lo ^ qlo) as bigint) + cast(bit_count(hi ^ qhi) as bigint)"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("hamming"))
  }

  /** Prefix-d cosine top-k (Matryoshka leg): slice to the first d
    * dims, exact integer dot/norms within the prefix, zero-norm
    * prefixes excluded from both sides. */
  private def mrlTop(s: SparkSession, dir: String, d: Int, qmax: Int,
      k: Int): DataFrame = {
    val sliced = Dedup.quantized(s, dir)
      .select(col("vec_id"), expr(s"slice(q, 1, $d)").as("qd"))
      .withColumn("nd", expr("dot_long(qd, qd)"))
      .filter(col("nd") > 0)
    val queriesDf = sliced.filter(col("vec_id") < qmax)
      .select(col("vec_id").as("query_id"), col("qd").as("qa"), col("nd").as("na"))
    val corpus = sliced
      .select(col("vec_id").as("neighbor_id"), col("qd").as("qb"), col("nd").as("nb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    corpus.join(broadcast(queriesDf), col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", expr(Dedup.dotExpr))
      .withColumn("cosine", Dedup.cosine())
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cosine"))
  }

  /** The composed production index — FAISS's IndexIVF+SQ8 shape,
    * oracle-gated end to end: candidates from the two nearest TRAINED
    * cells ([[ivfCells]], nprobe = 2), ranked by the ASYMMETRIC SQ8
    * distance ([[sq8AdcTop]]'s 255²-scaled all-BIGINT kernel) — the
    * corpus pays 8× compression AND the candidate cut, queries keep
    * full precision. The corpus side derives its scaled codes straight
    * from the cells projection (quantize→rescale fused scan-side: no
    * code/cell self-join), so the whole plan is still scan + one
    * broadcast of the query batch + per-partition top-k. */
  private def ivfAdcTop(s: SparkSession, dir: String, qmax: Int, k: Int): DataFrame = {
    val (mns, mxs) = sq8Stats(s, dir)
    ivfAdcTopFrom(ivfCells(s, dir), mns, mxs, qmax, k, nprobe = 2)
  }

  /** Index-taking, nprobe-parameterized form: the compressed-leg recall
    * grid trains cells + stats ONCE and runs every operating point
    * against the same frames. */
  private def ivfAdcTopFrom(cells: DataFrame, mns: String, mxs: String,
      qmax: Int, k: Int, nprobe: Int): DataFrame =
    ivfAdcSearch(ivfAdcCorpus(cells, mns, mxs),
      ivfAdcQueries(cells, mns, qmax, nprobe), k)

  /** The dequantized-code corpus side of [[ivfAdcTopFrom]] — the
    * stored IndexIVF+SQ leg: (neighbor_id, cell, db, |db|²) per
    * vector. */
  private def ivfAdcCorpus(cells: DataFrame, mns: String,
      mxs: String): DataFrame =
    cells
      .withColumn("mn", expr(s"cast(array($mns) as array<bigint>)"))
      .withColumn("mx", expr(s"cast(array($mxs) as array<bigint>)"))
      .withColumn("db",
        expr("""transform(sequence(0, size(q) - 1),
          |  i -> case when mx[i] = mn[i] then cast(0 as bigint)
          |            else ((q[i] - mn[i]) * 255 div (mx[i] - mn[i])) * (mx[i] - mn[i]) end)"""
          .stripMargin))
      .select(col("vec_id").as("neighbor_id"), col("cell").as("ncell"),
        col("db"), expr("dot_long(db, db)").as("ndb"))

  /** The full-precision rescaled query batch of [[ivfAdcTopFrom]].
    * Probe explode FIRST, then the da/nda projection: computing da
    * before a Project that also carries the explode tripped an
    * attribute-binding INTERNAL_ERROR on degenerate single-cell
    * corpora (cell2 constant-folds and column pruning lost da). */
  private def ivfAdcQueries(cells: DataFrame, mns: String, qmax: Int,
      nprobe: Int): DataFrame =
    cells.filter(col("vec_id") < qmax)
      .withColumn("mn", expr(s"cast(array($mns) as array<bigint>)"))
      .select(col("vec_id").as("query_id"), col("cell"),
        // array_distinct: degenerate single-cell index has cell2 == cell
        explode(if (nprobe >= 2)
          array_distinct(array(col("cell"), col("cell2")))
        else array(col("cell"))).as("probe"),
        col("q"), col("mn"))
      .withColumn("da",
        expr("transform(sequence(0, size(q) - 1), i -> (q[i] - mn[i]) * 255)"))
      .select(col("query_id"), col("cell"), col("probe"),
        col("da"), expr("dot_long(da, da)").as("nda"))

  /** The cell-probed asymmetric-L2 tail of [[ivfAdcTopFrom]].
    * |a−b|² expanded: self-norms scan-side, ONE native dot per pair
    * (the r14 standing rule — the zip_with diff ran interpreted). */
  private def ivfAdcSearch(corpus: DataFrame, queriesDf: DataFrame,
      k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("neighbor_id").asc)
    broadcast(queriesDf).join(corpus, col("probe") === col("ncell") &&
        col("query_id") =!= col("neighbor_id"))
      .withColumn("dist", expr("nda + ndb - 2 * dot_long(da, db)"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("cell"), col("rnk"),
        col("neighbor_id"), col("dist"))
  }


  /** Product-quantization codebooks (Jégou/Douze/Schmid, "Product
    * Quantization for Nearest Neighbor Search", IEEE TPAMI 2011 — the
    * FAISS IndexPQ shape, PQ16x4): the 64-dim space splits into
    * m = 16 4-dim subspaces, each with its own 16-centroid codebook,
    * so a corpus vector compresses to 16 codes of 4 bits — 8 bytes
    * against SQ8's 64 (8×) and the raw int64 vectors' 512 (64×), the
    * compression step that actually matters at 10⁹ vectors. (A
    * numpy sweep at this corpus picked the shape: m = 4 recalls 0.05
    * — subspaces too wide for 16 cells — m = 16 recalls 0.22 after
    * one refinement, the honest no-re-ranking PQ range.)
    *
    * Training is the [[Clustering]] Lloyd machinery per subspace:
    * seeded ±2000 initial centroids ([[pqSeeds]], the srp/centroids
    * fixed-seed pattern — identical literals in both engines), one
    * scan-side seed assignment, then ONE exact refinement from a
    * 256-row aggregate ((g, cl) → count + 4 coordinate sums; ≤ 256
    * rows of 6 ints through the driver — codebooks, never data). The
    * refined centroid is the TRUNCATING integer division sum/n —
    * Scala's `Long` `/` and DuckDB's BIGINT `//` both truncate toward
    * zero, so the literalized codebook is cross-engine exact. An empty
    * seed cell keeps its seed centroid (the k-means empty-cluster
    * standard; [[Clustering.lloyd]] does the same), so a degenerate
    * corpus degrades instead of crashing. */
  private[llm] val pqM = 16   // subspaces
  private[llm] val pqSub = 4  // dims per subspace
  private[llm] val pqK = 16   // centroids per codebook
  private[llm] val pqSeeds: Seq[Seq[Seq[Int]]] = {
    val r = new scala.util.Random(13)
    Seq.fill(pqM)(Seq.fill(pqK)(Seq.fill(pqSub)(if (r.nextBoolean()) 2000 else -2000)))
  }

  private def pqNormSq(c: Seq[Long]): Long = c.map(v => v * v).sum

  /** Subspace g's K squared distances against a literal flattened
    * codebook, via the native codegen `pq_dists` loop
    * (functions/ArrayNumeric.scala). An unrolled per-centroid
    * expression tree here — 256 literal dot products across the 16
    * subspaces — blew janino's method limits and dropped the stage to
    * interpreted; the loop form keeps generated code O(1) in K·d. */
  private def pqDistsExpr(g: Int, book: Seq[Seq[Long]]): String =
    s"pq_dists(slice(q, ${pqSub * g + 1}, $pqSub), " +
      s"cast(array(${book.flatten.mkString(",")}) as array<bigint>))"

  /** Add per-subspace argmin columns against an arbitrary codebook: the
    * K full distances |q_g − c|² per subspace land in ONE array and the
    * argmin is `array_position(d, array_min(d)) − 1` — first occurrence
    * of the minimum, i.e. the same lowest-code tiebreak as the twin's
    * row_number. All scan-side: no join, no shuffle — 100 TB encoding
    * is one pass. */
  private def pqAssign(df: DataFrame, cb: Seq[Seq[Seq[Long]]],
      out: Int => String): DataFrame = {
    // Two flat projections (all m distance arrays, then all m argmins)
    // instead of a 2m-deep withColumn chain: the chain kept every layer
    // as its own Project operator and the whole-stage codegen compile
    // of that tower dominated the query's bench cost.
    val dists = df.select(col("*") +: (0 until pqM).map(g =>
      expr(pqDistsExpr(g, cb(g))).as(s"pds$g")): _*)
    dists.select(df.columns.map(col) ++ (0 until pqM).map(g =>
      (array_position(col(s"pds$g"), array_min(col(s"pds$g"))) - 1)
        .cast("int").as(out(g))): _*)
  }

  /** Train-or-LOAD the m × K PQ codebooks: the per-(g, cl) training
    * stats persist through [[IndexStore]] (tag `pq_stats`, ≤ m·K rows
    * of exact ints) and the truncating-integer centroid update runs
    * on the loaded rows — the persisted-codebook half of the FAISS
    * index file. Memoized per session. */
  private def pqCodebooks(s: SparkSession, dir: String): Seq[Seq[Seq[Long]]] =
    standing(s, dir, "pq_books") {
      pqCodebooksOf(pqStatsFrameDurable(s, dir).collect())
    }

  /** The persisted residual-PQ training stats (g, cl, n, sv) over
    * v − coarse_centroid — centroids from the persisted IVF stats,
    * residuals off the persisted assignment. */
  private def pqResStatsFrameDurable(s: SparkSession,
      dir: String): DataFrame =
    IndexStore.durableFrame(s, dir, "pq_res_stats") {
      val cents = ivfStats(s, dir).map { case (n, sv, _) => sv.map(_ / n) }
      val centsLit = "cast(array(" +
        cents.map(c => s"array(${c.mkString(",")})").mkString(",") +
        ") as array<array<bigint>>)"
      pqStatsFrame(ivfCells(s, dir).select(col("vec_id"),
        expr(s"zip_with(q, $centsLit[cell], (x, c) -> x - c)").as("q")))
    }

  /** The persisted PQ training-stats frame (g, cl, n, sv). */
  private def pqStatsFrameDurable(s: SparkSession, dir: String): DataFrame =
    IndexStore.durableFrame(s, dir, "pq_stats") {
      pqStatsFrame(Dedup.quantized(s, dir))
    }

  /** Frame-taking form: trains the codebooks over whatever `q` the
    * frame carries — the raw corpus for [[pqAdcTop]]/[[ivfPqTop]], the
    * per-cell RESIDUALS for [[ivfPqResTop]]. */
  private def pqCodebooksFrom(qe: DataFrame,
      scale: Long = 1L): Seq[Seq[Seq[Long]]] =
    pqCodebooksOf(pqStatsFrame(qe, scale).collect(), scale)

  /** The persistable FRAME form of the PQ training aggregate: seed
    * assignment, one exploded (g, cl, slice) pass, one ≤ m·K-row hash
    * aggregate. */
  private def pqStatsFrame(qe: DataFrame, scale: Long = 1L): DataFrame = {
    // seeds scale with the data so the quantizer is scale-EQUIVARIANT:
    // the OPQ leg's x5-scaled rotated space trains against x5 seeds,
    // making its comparison with the raw leg apples-to-apples
    val seeds = pqSeeds.map(_.map(_.map(_.toLong * scale)))
    val assigned = pqAssign(qe, seeds, g => s"a$g")
    assigned.select(explode(array((0 until pqM).map(g =>
        struct(lit(g).as("g"), col(s"a$g").as("cl"),
          expr(s"slice(q, ${pqSub * g + 1}, $pqSub)").as("qs"))): _*)).as("e"))
      .select(col("e.g").as("g"), col("e.cl").as("cl"), col("e.qs").as("qs"))
      .groupBy(col("g"), col("cl"))
      .agg(count(lit(1)).as("n"), expr(s"vec_sum(qs, $pqSub)").as("sv"))
  }

  /** Truncating-integer centroid update over the collected training
    * stats (≤ m·K = 256 rows × 6 ints — codebooks, never data). */
  private def pqCodebooksOf(collected: Array[org.apache.spark.sql.Row],
      scale: Long = 1L): Seq[Seq[Seq[Long]]] = {
    val seeds = pqSeeds.map(_.map(_.map(_.toLong * scale)))
    val rows = collected
      .map(r => (r.getAs[Int]("g"), r.getAs[Int]("cl")) -> r).toMap
    (0 until pqM).map { g =>
      (0 until pqK).map { k =>
        rows.get((g, k)) match {
          case Some(r) =>
            val n = r.getAs[Long]("n")
            r.getAs[scala.collection.Seq[Long]]("sv").toSeq.map(_ / n)
          case None => seeds(g)(k) // empty seed cell: keep the seed
        }
      }
    }
  }

  /** Per-query ADC lookup tables: `lut$g[k]` = |q_g − c_{g,k}|² in
    * exact BIGINT (≤ 4·(2·10⁴)² per subspace — far inside long range) —
    * the SAME `pq_dists` arrays the encoder computes. m arrays of K
    * longs per QUERY row only; the corpus never carries them. */
  private def pqLut(df: DataFrame, cb: Seq[Seq[Seq[Long]]]): DataFrame =
    df.select(col("*") +: (0 until pqM).map(g =>
      expr(pqDistsExpr(g, cb(g))).as(s"lut$g")): _*)

  /** The ADC distance as m table lookups + adds (`lut$g[code$g]`,
    * Spark's 0-based array indexing — codes are always 0..K−1, so ANSI
    * never throws). */
  private def pqLookupDist: String =
    (0 until pqM).map(g => s"lut$g[code$g]").mkString(" + ")

  private def pqCodeCols: Seq[org.apache.spark.sql.Column] =
    (0 until pqM).map(g => col(s"code$g"))
  private def pqLutCols: Seq[org.apache.spark.sql.Column] =
    (0 until pqM).map(g => col(s"lut$g"))

  /** PQ-ADC top-k — FAISS IndexPQ search: the corpus is m codes/vector
    * (encoded scan-side by [[pqAssign]] against the refined codebooks),
    * each query carries its m×K distance LUT, and the pair distance is
    * m table lookups + adds. Same join scaffold as [[sq8AdcTop]]:
    * broadcast query batch, corpus never shuffles, WindowGroupLimit
    * top-k. */
  private def pqAdcTop(s: SparkSession, dir: String, qmax: Int, k: Int): DataFrame =
    pqAdcTopFrom(Dedup.quantized(s, dir), qmax, k)

  /** Frame-taking form of the whole IndexPQ pipeline — train (the
    * ≤256-row codebook aggregate), scan-side encode, LUT build, ADC
    * search — over whatever quantized frame the caller supplies;
    * [[graft.ScaleProbe]] drives this on replicated corpora. */
  private[graft] def pqAdcTopFrom(qe: DataFrame, qmax: Int, k: Int,
      seedScale: Long = 1L): DataFrame =
    pqAdcTopWith(qe, pqCodebooksFrom(qe, seedScale), qmax, k)

  /** Codebooks-taking tail — lets a caller supply PERSISTED books
    * (the OPQ leg) instead of retraining in-call. */
  private def pqAdcTopWith(qe: DataFrame, cb: Seq[Seq[Seq[Long]]],
      qmax: Int, k: Int): DataFrame = {
    // The code table goes through an explicit exchange: (1) it IS the
    // stored index a production PQ deployment materializes at ingest —
    // 16 ints/row, so even a 10⁹-row corpus shuffles ~100 GB once;
    // (2) without the stage break, BroadcastNestedLoopJoin's codegen
    // DEFERS the stream-side encode into the per-broadcast-row inner
    // loop and the corpus re-encodes once per (row × query) pair —
    // measured 5.4 s vs 0.6 s for this query at sf0.1.
    val corpus = pqAssign(qe, cb, g => s"code$g")
      .select(col("vec_id").as("neighbor_id") +: pqCodeCols: _*)
      .repartition(col("neighbor_id"))
    val queriesDf = pqLut(qe.filter(col("vec_id") < qmax), cb)
      .select(col("vec_id").as("query_id") +: pqLutCols: _*)
    pqAdcSearch(corpus, queriesDf, k)
  }

  /** The exhaustive ADC ranking tail over a prepared code table:
    * broadcast LUT batch, one BNLJ scan of the codes, WindowGroupLimit
    * top-k — shared verbatim by the fresh-encode form above and the
    * standing-codes form below, so both produce the identical plan
    * tail (and therefore identical results) by construction. */
  private def pqAdcSearch(corpus: DataFrame, queriesDf: DataFrame,
      k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("neighbor_id").asc)
    corpus.join(broadcast(queriesDf), col("query_id") =!= col("neighbor_id"))
      .withColumn("dist", expr(pqLookupDist))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("dist"))
  }

  /** The PQ code table as a STANDING INDEX FRAME — FAISS IndexPQ's
    * stored `codes` array: a deployment encodes the corpus at INGEST
    * and serves every query from the stored codes, so the encode pass
    * (16 × pq_dists + argmin per vector — the measured bulk of each
    * PQ row's scan stage) is paid once per corpus, not once per
    * consumer query. Same discipline as [[vecGraph]]: in-session memo
    * + REBALANCE + checkpoint, released by
    * [[releaseStandingIndexes]]; the codebooks are the PERSISTED
    * pq_stats artifact and [[pqAssign]]'s argmin is exact integer
    * arithmetic with a first-occurrence tiebreak, so every consumer
    * is hash-identical to the encode-it-yourself form at any dop.
    * q_knn_pq — the family's base search row — deliberately keeps
    * encoding fresh so its bench time still prices ingest. */
  private def pqCodesStanding(s: SparkSession, dir: String): DataFrame = {
    val cb = pqCodebooks(s, dir)
    standing(s, dir, "pq_codes") {
      pqAssign(Dedup.quantized(s, dir), cb, g => s"code$g")
        .select(col("vec_id").as("neighbor_id") +: pqCodeCols: _*)
        .hint("rebalance")
        .localCheckpoint(true)
    }
  }

  /** [[pqAdcTop]] served from the standing code table — the form the
    * CONSUMER rows (recall / ndcg / rerank / opq-compare) run. Only
    * the corpus-encode subtree differs from [[pqAdcTopWith]]; the
    * query LUTs and the [[pqAdcSearch]] tail are shared, so the
    * ranking is bit-identical. */
  private def pqAdcTopStanding(s: SparkSession, dir: String,
      qmax: Int, k: Int): DataFrame = {
    val cb = pqCodebooks(s, dir)
    val queriesDf = pqLut(Dedup.quantized(s, dir)
        .filter(col("vec_id") < qmax), cb)
      .select(col("vec_id").as("query_id") +: pqLutCols: _*)
    pqAdcSearch(pqCodesStanding(s, dir), queriesDf, k)
  }

  /** OPQ-style TRAINED ROTATION (Ge et al. 2013, the FAISS OPQ
    * pre-step, first-order surrogate): rotate the space so per-
    * subspace variance balances before PQ trains — the eigenvalue-
    * allocation idea as 4 disjoint Givens rotations pairing the
    * highest-variance dimensions with the lowest (rank g ↔ rank
    * 65−g, disjoint by construction at any tie pattern). Exactness:
    * each Givens uses the Pythagorean pair (3/5, 4/5) — an EXACTLY
    * orthogonal rational rotation — kept in ×5-scaled integers
    * (paired dims → (3a+4b, −4a+3b), unpaired → 5a), so rotated
    * vectors stay exact BIGINTs, cosine order is preserved (uniform
    * scale), and the DuckDB twin reproduces every bit. Training data
    * touched once: per-dimension (n, Σx, Σx²) in one posexplode
    * aggregate; the 64-row collect is index metadata (the codebook
    * discipline), never data. An empty corpus returns the frame
    * unrotated — downstream rankings are empty either way. */
  private def opqRotate(qe: DataFrame): DataFrame =
    opqRotateWith(qe, opqVarFrame(qe).collect())

  /** The per-dimension variance stats frame (n, s, s2 per dim) —
    * the persistable form of the rotation's training pass. */
  private def opqVarFrame(qe: DataFrame): DataFrame =
    qe.select(posexplode(col("q")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(col("x") * col("x")).as("s2"))

  private def opqRotateWith(qe: DataFrame,
      stats: Array[org.apache.spark.sql.Row]): DataFrame = {
    if (stats.isEmpty) return qe
    // scale-free variance numerator n·Σx² − (Σx)², exact in BigInt
    val ranked = stats.map { r =>
      val n = BigInt(r.getAs[Long]("n"))
      val s = BigInt(r.getAs[Long]("s"))
      (r.getAs[Int]("i"), n * r.getAs[Long]("s2") - s * s)
    }.sortBy { case (i, vn) => (-vn, i) }.map(_._1)
    val hi = ranked.take(4)
    val lo = (0 until 4).map(g => ranked(ranked.length - 1 - g))
    val role = hi.zip(lo).zipWithIndex.flatMap { case ((h, l), _) =>
      Seq(h -> ("hi", l), l -> ("lo", h)) }.toMap
    val rot = array((0 until 64).map { i =>
      role.get(i) match {
        case Some(("hi", j)) => expr(s"3L * q[$i] + 4L * q[$j]")
        case Some(("lo", j)) => expr(s"-4L * q[$j] + 3L * q[$i]")
        case _               => expr(s"5L * q[$i]")
      }
    }: _*)
    qe.withColumn("q", rot).withColumn("norm", expr("dot_long(q, q)"))
  }

  /** PERSISTED OPQ artifacts (IndexStore): the 64-row variance stats
    * (tag `opq_var`, the rotation's training pass) and the PQ books
    * over the ROTATED space (tag `opq_pq_stats`, ×5 seeds). The
    * canonical (session, dir) OPQ queries train once per corpus and
    * load thereafter like every other family. */
  private def opqArtifacts(s: SparkSession, dir: String)
      : (Array[org.apache.spark.sql.Row], Seq[Seq[Seq[Long]]]) =
    standing(s, dir, "opq") {
      val stats = IndexStore.durableFrame(s, dir, "opq_var") {
        opqVarFrame(Dedup.quantized(s, dir))
      }.collect()
      val books = pqCodebooksOf(IndexStore.durableFrame(s, dir,
        "opq_pq_stats") {
        pqStatsFrame(opqRotateWith(Dedup.quantized(s, dir), stats),
          scale = 5L)
      }.collect(), scale = 5L)
      (stats, books)
    }

  /** The OPQ ranking off the persisted artifacts. */
  private def opqAdcTop(s: SparkSession, dir: String,
      qmax: Int, k: Int): DataFrame = {
    val (stats, books) = opqArtifacts(s, dir)
    pqAdcTopWith(opqRotateWith(Dedup.quantized(s, dir), stats),
      books, qmax, k)
  }

  /** The OPQ code table standing frame (rotate + encode once — the
    * stored OPQ index; the [[pqCodesStanding]] contract applies
    * verbatim). q_knn_opq_pq keeps rotating + encoding fresh; the
    * compare row consumes this. */
  private def opqCodesStanding(s: SparkSession, dir: String): DataFrame = {
    val (stats, books) = opqArtifacts(s, dir)
    standing(s, dir, "opq_codes") {
      pqAssign(opqRotateWith(Dedup.quantized(s, dir), stats), books,
          g => s"code$g")
        .select(col("vec_id").as("neighbor_id") +: pqCodeCols: _*)
        .hint("rebalance")
        .localCheckpoint(true)
    }
  }

  /** [[opqAdcTop]] served from the standing OPQ code table (the
    * queries still rotate fresh — a qmax-bounded projection). */
  private def opqAdcTopStanding(s: SparkSession, dir: String,
      qmax: Int, k: Int): DataFrame = {
    val (stats, books) = opqArtifacts(s, dir)
    val queriesDf = pqLut(
        opqRotateWith(Dedup.quantized(s, dir), stats)
          .filter(col("vec_id") < qmax), books)
      .select(col("vec_id").as("query_id") +: pqLutCols: _*)
    pqAdcSearch(opqCodesStanding(s, dir), queriesDf, k)
  }

  /** Exact re-rank of the PQ shortlist — the FAISS refine step
    * (IndexRefineFlat wrapped around IndexPQ): the compressed ADC
    * ranking supplies kShort candidates per query, then ONLY those
    * candidates are re-scored with the exact cosine. This is the
    * standard production answer to lossy-code recall: the 100 TB
    * corpus is ranked entirely through 8-byte codes, and the refine
    * fetches kShort raw vectors per query — a qmax × kShort
    * broadcast-sized set, never a corpus re-scan. The re-rank join is
    * a BHJ keyed on the vector id (candidates build side), i.e. the
    * random-access fetch a vector store serves from its primary key. */
  private def pqRerankTop(s: SparkSession, dir: String, qmax: Int, k: Int,
      kShort: Int): DataFrame = {
    val qe = Dedup.quantized(s, dir)
    // shortlist off the STANDING code table — the refine row measures
    // the re-rank step, not a second ingest encode (q_knn_pq prices
    // that); the ranking is identical by the pqAdcSearch contract
    val shortlist = pqAdcTopStanding(s, dir, qmax, kShort)
      .select(col("query_id"), col("neighbor_id"))
    val queriesDf = qe.filter(col("vec_id") < qmax)
      .select(col("vec_id").as("query_id"), col("q").as("qa"),
        col("norm").as("na"))
    val corpus = qe.select(col("vec_id").as("neighbor_id"),
      col("q").as("qb"), col("norm").as("nb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    corpus.join(broadcast(shortlist.join(queriesDf, "query_id")),
        "neighbor_id")
      .withColumn("dot", expr(Dedup.dotExpr))
      .withColumn("cosine", Dedup.cosine())
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cosine"))
  }

  /** The composed IVF×PQ index — FAISS IndexIVFPQ, the standard
    * billion-scale configuration: candidates from the two nearest
    * TRAINED coarse cells ([[ivfCells]], nprobe = 2), ranked by the
    * PQ-ADC table lookup. Corpus rows carry (cell, 4 codes); the
    * broadcast query batch carries (probe cells, 4 LUTs). */
  private def ivfPqTop(s: SparkSession, dir: String, qmax: Int, k: Int): DataFrame =
    ivfPqTopFrom(ivfCells(s, dir), pqCodebooks(s, dir), qmax, k, nprobe = 2)

  /** Index-taking, nprobe-parameterized form (see [[ivfAdcTopFrom]]). */
  private def ivfPqTopFrom(cells: DataFrame, cb: Seq[Seq[Seq[Long]]],
      qmax: Int, k: Int, nprobe: Int): DataFrame = {
    // Same materialized code table as [[pqAdcTop]] (production stores
    // it; the exchange also stops the join from re-encoding per pair).
    // Keyed by vector id, NOT the coarse cell — K ≈ 4 cell keys would
    // cap the exchange's dop at K.
    val corpus = pqAssign(cells, cb, g => s"code$g")
      .select(col("vec_id").as("neighbor_id") +: col("cell").as("ncell") +:
        pqCodeCols: _*)
      .repartition(col("neighbor_id"))
    // Probe explode happens BEFORE the LUT projection (on ≤ 2·qmax
    // rows, so the duplicated LUT arithmetic is noise): a Generate in
    // the same projection as the LUT columns trips a Catalyst pruning
    // bug (ATTRIBUTE_NOT_FOUND) when a downstream consumer keeps only
    // a subset of the LUTs — the recall row over a degenerate corpus.
    val queriesDf = pqLut(
        cells.filter(col("vec_id") < qmax)
          .select(col("vec_id"), col("q"), col("cell"),
            // array_distinct: degenerate single-cell index has cell2 == cell
            explode(if (nprobe >= 2)
              array_distinct(array(col("cell"), col("cell2")))
            else array(col("cell"))).as("probe")),
        cb)
      .select(col("vec_id").as("query_id") +: col("cell") +: col("probe") +:
        pqLutCols: _*)
    ivfCellAdcSearch(corpus, queriesDf, k)
  }

  /** The cell-probed ADC tail shared by [[ivfPqTopFrom]] and
    * [[ivfPqResTop]] (and their standing-codes forms): broadcast
    * query batch with per-probe LUTs, hash join on the probed cell,
    * WindowGroupLimit top-k. One definition — fresh-encode and
    * standing consumers get the identical plan tail. */
  private def ivfCellAdcSearch(corpus: DataFrame, queriesDf: DataFrame,
      k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("neighbor_id").asc)
    broadcast(queriesDf).join(corpus, col("probe") === col("ncell") &&
        col("query_id") =!= col("neighbor_id"))
      .withColumn("dist", expr(pqLookupDist))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("cell"), col("rnk"),
        col("neighbor_id"), col("dist"))
  }

  // NOTE (r20): standing code tables for the IVF-composed families
  // (ivf_pq / ivf_pq_res / ivf_adc) were built and MEASURED WORSE
  // (family subset min-of-3: grid 2.20 → 2.89 s, ivf_adc_recall
  // 0.71 → 0.93, ivf_pq_res_recall 0.75 → 0.96) — their codebooks and
  // stats are already memoized, so the fresh encode is one cheap scan
  // fused with the cells read, while a standing table adds checkpoint
  // reads and (in the grid) defeats AQE exchange reuse across arms.
  // Reverted; the raw-PQ/OPQ families keep theirs (the fresh path
  // there retrains codebooks per call — a collect aggregate each — so
  // [[pqCodesStanding]] measured −0.5 s per consumer row).

  /** RESIDUAL IVF×PQ — the actual FAISS IndexIVFPQ encoding: the PQ
    * codebooks train on, and the corpus codes encode, the residual
    * r = v − c_cell (v's own coarse centroid) instead of the raw
    * vector, and each query's ADC LUT is built from ITS residual
    * against the PROBED cell's centroid — so a pair's distance
    * approximates |(q − c) − (v − c)|² = |q − v|² with codebooks that
    * only have to cover the residual energy, a fraction of the
    * vector energy. That is the published reason 4-bit codes stay
    * usable at high K (Jégou et al. 2011 §IV; FAISS IndexIVFPQ).
    * Everything stays exact BIGINT: centroids are the truncating
    * integer division [[ivfCellsAndCentroids]] materializes
    * identically in both engines, so residuals — and the whole
    * downstream codebook train / encode / LUT chain — are
    * cross-engine hash-exact. Plan shape is [[ivfPqTop]]'s: the
    * centroid table rides along as a literal m×64 array indexed by
    * the cell column (scan-side, no join), the materialized code
    * table takes one exchange, the query batch broadcasts. */
  private def ivfPqResTop(s: SparkSession, dir: String, qmax: Int, k: Int): DataFrame = {
    val (cells, cb, residual) = ivfPqResParts(s, dir)
    val res = cells.withColumn("rq", residual("cell"))
    // Same materialized code table as [[ivfPqTop]]: keyed by vector id
    // (not the ≤4 cell keys — dop preserved), one exchange, and the
    // stage break stops the BNLJ from re-encoding per pair.
    val corpus = pqAssign(
        res.select(col("vec_id"), col("cell"), col("rq").as("q")),
        cb, g => s"code$g")
      .select(col("vec_id").as("neighbor_id") +: col("cell").as("ncell") +:
        pqCodeCols: _*)
      .repartition(col("neighbor_id"))
    ivfCellAdcSearch(corpus, ivfPqResQueries(s, dir, qmax), k)
  }

  /** The residual family's shared inputs: cells + centroids both come
    * off the PERSISTED canonical index (same exact integers as a
    * fresh ivfCellsAndCentroids train — the truncating Long division
    * happens on the loaded stats); the residual-PQ training stats
    * persist like every other trained artifact (tag pq_res_stats;
    * memoized in-session, r16). */
  private def ivfPqResParts(s: SparkSession, dir: String)
      : (DataFrame, Seq[Seq[Seq[Long]]], String => Column) = {
    val cells = ivfCells(s, dir)
    val cents = ivfStats(s, dir).map { case (n, sv, _) => sv.map(_ / n) }
    val centsLit = "cast(array(" +
      cents.map(c => s"array(${c.mkString(",")})").mkString(",") +
      ") as array<array<bigint>>)"
    val cb = standing(s, dir, "pq_res_books") {
      pqCodebooksOf(pqResStatsFrameDurable(s, dir).collect())
    }
    (cells, cb,
      cellCol => expr(s"zip_with(q, $centsLit[$cellCol], (x, c) -> x - c)"))
  }

  /** The residual query batch — probe explode BEFORE the LUT
    * projection (the ivfPqTop pruning-bug note applies unchanged);
    * the query residual is per-PROBE — the same literal centroid
    * table indexed by the probe column. */
  private def ivfPqResQueries(s: SparkSession, dir: String,
      qmax: Int): DataFrame = {
    val (cells, cb, residual) = ivfPqResParts(s, dir)
    pqLut(
        cells.filter(col("vec_id") < qmax)
          .select(col("vec_id"), col("q"), col("cell"),
            explode(array_distinct(array(col("cell"), col("cell2")))).as("probe"))
          .withColumn("q", residual("probe")),
        cb)
      .select(col("vec_id").as("query_id") +: col("cell") +: col("probe") +:
        pqLutCols: _*)
  }


  /** nDCG@3 of a ranked top-3 against the exact cosine top-3 graded
    * 3/2/1 by true rank (Järvelin & Kekäläinen 2002). The
    * transcendental discount follows the BM25 discipline — each
    * per-position term rounds to 6 dp and sums in DECIMAL(38,6); the
    * ideal DCG comes from the truth frame itself, so ndcg = 1.0 iff
    * the ranker reproduces the exact ORDER (recall can't see order).
    * `ranked` must carry (query_id, neighbor_id, rnk ≤ k); rows past
    * rank k are dropped here so a wider input can't skew the score,
    * and the truth panel is built from the SAME qmax/k the caller
    * ranked against (they parameterize the ground truth — a mismatch
    * would silently score against the wrong panel). */
  private def ndcgOf(s: SparkSession, dir: String,
      ranked0: DataFrame, qmax: Int = 50, k: Int = 3): DataFrame = {
    val ranked = ranked0.filter(col("rnk") <= k)
    val truth = bruteTop(s, dir, qmax = qmax, k = k)
      .select(col("query_id"), col("neighbor_id"),
        (lit(k + 1) - col("rnk")).as("grade"), col("rnk"))
    val dcgTerm = "cast(round(cast(grade as double) / " +
      "log2(cast(pos + 1 as double)), 6) as decimal(38,6))"
    val idcg = truth
      .select(col("query_id"), col("grade"), col("rnk").as("pos"))
      .groupBy(col("query_id"))
      .agg(sum(expr(dcgTerm)).as("idcg"))
    val dcg = ranked
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("pos"))
      .join(truth.select(col("query_id").as("tq"),
          col("neighbor_id").as("tn"), col("grade")),
        col("query_id") === col("tq") && col("neighbor_id") === col("tn"),
        "left")
      .withColumn("grade", coalesce(col("grade"), lit(0)))
      .groupBy(col("query_id"))
      .agg(sum(expr(dcgTerm)).as("dcg"))
    idcg.join(dcg, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("dcg"), lit(0).cast("decimal(38,6)")).cast("double")
          .as("dcg"),
        col("idcg").cast("double").as("idcg"),
        round(coalesce(col("dcg"), lit(0).cast("decimal(38,6)"))
            .cast("double") / col("idcg").cast("double"), 4).as("ndcg"))
      .orderBy("query_id")
  }

  /** MRR@3 of a ranked frame (query_id, neighbor_id, rnk ≤ 3) against
    * the exact cosine top-3: first_hit_rank = min rank at which a
    * true-top-3 neighbor appears, rr = 1/first_hit_rank (0 on a
    * miss). Queries enumerate from the TRUTH panel so a ranker that
    * returns nothing for a query still scores 0 rather than
    * vanishing. */
  private def mrrOf(s: SparkSession, dir: String,
      ranked: DataFrame): DataFrame = {
    val truth = bruteTop(s, dir, qmax = 50, k = 3)
      .select(col("query_id"), col("neighbor_id"))
    val hits = ranked.filter(col("rnk") <= 3)
      .join(truth.select(col("query_id").as("tq"), col("neighbor_id").as("tn")),
        col("query_id") === col("tq") && col("neighbor_id") === col("tn"))
      .groupBy(col("query_id")).agg(min(col("rnk")).as("first_hit_rank"))
    truth.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("first_hit_rank"),
        coalesce(
          round(lit(1.0).cast("double") / col("first_hit_rank").cast("double"), 4),
          lit(0.0)).cast("double").as("rr"))
      .orderBy("query_id")
  }

  /** recall@k of an approximate top-k against the exact one, per
    * query id — both inputs are (query_id, neighbor_id) top-k sets. */
  private def recallOf(exact: DataFrame, approx: DataFrame, k: Int): DataFrame =
    exact.join(
        approx.select(col("query_id").as("aq"), col("neighbor_id").as("an")),
        col("query_id") === col("aq") && col("neighbor_id") === col("an"),
        "left")
      .groupBy(col("query_id"))
      .agg(round(count(col("an")).cast("double") / k.toDouble, 4)
        .as(s"recall_at_$k"))
      .orderBy("query_id")

  private val hamming1 = Seq(0, 8, 4, 2, 1)

  /** Lowest-id 4-way argmin as a fall-through CASE: candidate k wins
    * when `cond(k, j)` (k at-least-as-close-as j) holds for every
    * LATER candidate j — earlier candidates already failed their
    * branch. Shared shape between the Spark plan and the DuckDB twin
    * (each passes its own cond renderer), so the tiebreak is identical
    * by construction. */
  private[llm] def argminCase(cond: (Int, Int) => String, m: Int = 4): String =
    (0 until m).map(k =>
        ((k + 1 until m).map(j => cond(k, j)) :+ "true").mkString(" AND "))
      .zipWithIndex.map { case (c, k) => s"WHEN $c THEN $k" }
      .mkString("CASE ", " ", " END")

  /** Second-nearest candidate given the argmin in column `best`: the
    * same fall-through argmin over the remaining m−1 cells. Caller
    * guarantees m ≥ 2 (with one cell there is no second-nearest). */
  private[llm] def secondCase(best: String, cond: (Int, Int) => String,
      m: Int = 4): String = {
    val arms = (0 until m).map { b =>
      val rest = (0 until m).filter(_ != b)
      val inner = rest.init.zipWithIndex.map { case (k, i) =>
        s"WHEN ${rest.drop(i + 1).map(j => cond(k, j)).mkString(" AND ")} THEN $k"
      }.mkString(" ")
      if (rest.size == 1) s"WHEN $best = $b THEN ${rest.head}"
      else s"WHEN $best = $b THEN (CASE $inner ELSE ${rest.last} END)"
    }
    arms.mkString("CASE ", " ", " END")
  }

  val queries: Map[String, Q] = Map(
    "q_knn_brute" -> ((s, dir) =>
      bruteTop(s, dir, qmax = 10, k = 5).orderBy("query_id", "rnk")),

    "q_knn_ann" -> ((s, dir) =>
      annTop(s, dir, qmax = 50, k = 3).orderBy("query_id", "rnk")),

    // Multiprobe ANN (Lv et al., "Multi-probe LSH", VLDB 2007 idea at
    // its simplest): probe the query's own cell plus every Hamming-1
    // sign-flip cell — the production recall knob when single-probe
    // recall is too low for the candidate-cut budget.
    "q_knn_ann_mp" -> ((s, dir) =>
      annTop(s, dir, qmax = 50, k = 3, hamming1).orderBy("query_id", "rnk")),

    // ANN quality metric: recall@3 of the bucketed ANN vs the exact
    // brute-force top-3, per query vector — the number a production
    // pipeline tunes nprobe/bucket fan-out against. Both sides are
    // deterministic (exact integer cosine, total tiebreak), so the
    // DuckDB twin is exact. Scale shape: two top-k pipelines over the
    // same corpus scan + a broadcast-sized join on (query, neighbor) —
    // the corpus never shuffles.
    "q_knn_recall" -> ((s, dir) =>
      recallOf(
        bruteTop(s, dir, qmax = 50, k = 3).select("query_id", "neighbor_id"),
        annTop(s, dir, qmax = 50, k = 3).select("query_id", "neighbor_id"),
        k = 3)),

    // Same metric for the multiprobe variant — with q_knn_recall this
    // IS the nprobe tuning loop: recall@3 vs candidate volume.
    "q_knn_recall_mp" -> ((s, dir) =>
      recallOf(
        bruteTop(s, dir, qmax = 50, k = 3).select("query_id", "neighbor_id"),
        annTop(s, dir, qmax = 50, k = 3, hamming1)
          .select("query_id", "neighbor_id"),
        k = 3)),

    // HARD-NEGATIVE mining for contrastive training (the ANCE/DPR
    // data-prep step): for each anchor, the top-3 highest-cosine
    // vectors whose LABEL differs — the confusable-but-wrong examples
    // a metric-learning loss needs (easy negatives teach nothing;
    // same-label neighbors are positives, not negatives). Identical
    // scale shape to the brute ranking: bounded anchor panel
    // broadcast, cross-label predicate fused into the join, per-query
    // WindowGroupLimit — the corpus never shuffles. In production the
    // brute leg swaps for any of this module's ANN cuts; the mining
    // predicate is unchanged.
    "q_hard_negatives" -> ((s, dir) => {
      val qe = Dedup.quantized(s, dir)
      val anchors = qe.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
          col("q").as("qa"), col("norm").as("na"))
      val corpus = qe.select(col("vec_id").as("neighbor_id"),
        col("label").as("nlabel"), col("q").as("qb"), col("norm").as("nb"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      corpus.join(broadcast(anchors),
          col("query_id") =!= col("neighbor_id") &&
            col("qlabel") =!= col("nlabel"))
        .withColumn("dot", expr(Dedup.dotExpr))
        .withColumn("cosine", Dedup.cosine())
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("query_id"), col("qlabel"), col("rnk"),
          col("neighbor_id"), col("nlabel"), col("cosine"))
        .orderBy("query_id", "rnk")
    }),

    "q_knn_sq8" -> ((s, dir) =>
      sq8Top(s, dir, qmax = 50, k = 3).orderBy("query_id", "rnk")),

    // Quantization-loss metric: recall@3 of the int8-code ranking vs the
    // exact cosine top-3. With q_knn_recall/_mp this completes the ANN
    // design space the pipeline tunes: candidate CUT (IVF/LSH probes) vs
    // memory COMPRESSION (SQ8) — orthogonal knobs a production index
    // composes.
    "q_knn_sq8_recall" -> ((s, dir) =>
      recallOf(
        bruteTop(s, dir, qmax = 50, k = 3).select("query_id", "neighbor_id"),
        sq8Top(s, dir, qmax = 50, k = 3).select("query_id", "neighbor_id"),
        k = 3)),

    // nDCG@3 of the single-probe ANN — the GRADED companion to
    // q_knn_recall (Järvelin & Kekäläinen 2002): recall treats the
    // exact top-3 as a set, nDCG weights POSITION, so an ANN that
    // returns the true top-1 at rank 3 scores lower than one that
    // returns it at rank 1. Judgments are data-derived: the exact
    // cosine top-3 graded 3/2/1 by true rank, everything else 0. The
    // transcendental discount follows the BM25 cross-engine
    // discipline — each per-position term rounds to 6 dp and sums in
    // DECIMAL(38,6); the ideal DCG comes from the SAME truth frame
    // (grades sorted desc = true rank asc), so ndcg = 1.0 iff the ANN
    // reproduces the exact ordering. Scale shape: the two top-k
    // pipelines of the recall family plus a broadcast-sized
    // (query, doc) join; the corpus never shuffles.
    "q_knn_ndcg" -> ((s, dir) =>
      ndcgOf(s, dir, annTop(s, dir, qmax = 50, k = 3))),

    // The same graded metric for the TRAINED index at its production
    // operating point (nprobe = 2) — read against q_knn_ndcg it
    // measures what training the quantizer buys in ORDER quality, not
    // just set recall (an index can hit the right top-3 set in the
    // wrong order; recall cannot see that, nDCG can).
    "q_knn_ivf_ndcg" -> ((s, dir) =>
      ndcgOf(s, dir, ivfTop(s, dir, qmax = 50, k = 3, nprobe = 2))),

    // And for the COMPRESSION leg: nDCG@3 of the exhaustive ADC scan
    // over 8-byte PQ codes — with q_knn_ndcg/q_knn_ivf_ndcg this
    // grades all three index axes (untrained cut, trained cut,
    // compression) on ORDER quality, completing the graded companion
    // to the recall ladder.
    "q_knn_pq_ndcg" -> ((s, dir) =>
      ndcgOf(s, dir, pqAdcTopStanding(s, dir, qmax = 50, k = 3))),

    "q_knn_sq8_adc" -> ((s, dir) =>
      sq8AdcTop(s, dir, qmax = 50, k = 3).orderBy("query_id", "rnk")),

    // MRR@3 — the third retrieval-quality lens beside recall (set
    // membership) and nDCG (graded order): the reciprocal rank of the
    // FIRST true-top-3 neighbor the ranker surfaces, the number a
    // search product reports when only the top hit matters. 1/1, 1/2,
    // 1/3 or 0 per query — exact small-integer division, one 4-dp
    // round, no transcendentals at all. Same plan skeleton as the
    // recall family: two top-k pipelines + a broadcast-sized
    // (query, doc) join; the corpus never shuffles.
    "q_knn_mrr" -> ((s, dir) =>
      mrrOf(s, dir, annTop(s, dir, qmax = 50, k = 3))),

    // The trained index at its production operating point (nprobe=2)
    // under the same metric — beside q_knn_ivf_ndcg it completes the
    // quality triple (recall / nDCG / MRR) for the IVF leg.
    "q_knn_ivf_mrr" -> ((s, dir) =>
      mrrOf(s, dir, ivfTop(s, dir, qmax = 50, k = 3, nprobe = 2))),

    "q_knn_ivf" -> ((s, dir) =>
      ivfTop(s, dir, qmax = 50, k = 3).orderBy("query_id", "rnk")),

    // DISTRIBUTED index build — train the coarse quantizer PER SHARD
    // and MERGE (the FAISS merge_into / multi-node build story): the
    // training aggregate is a per-seed-cluster (count, Σv) over a
    // FIXED seed assignment, so shard stats are exactly additive and
    // the merged index is ALGEBRAICALLY the full-train index — this
    // row shares q_knn_ivf's oracle, so the gate proves
    // merged-shards search == full-train search at the result level
    // every round (the q_knn_ivf_retrain discipline, now across the
    // shard boundary). At 100 TB: each shard trains where its data
    // lives; the merge moves 2 × K×65 ints, never data.
    "q_knn_ivf_merge" -> ((s, dir) => {
      val qe = Dedup.quantized(s, dir)
      val parts = ivfStatsMergeParts(Seq(
        ivfTrainStatsFrame(qe.filter(col("vec_id") % 2 === 0)),
        ivfTrainStatsFrame(qe.filter(col("vec_id") % 2 =!= 0))))
      ivfTopOn(ivfAssignWith(parts, qe), col("vec_id") < 50,
        k = 3, nprobe = 1).orderBy("query_id", "rnk")
    }),

    // FILTERED ANN, both strategies in one frame — see [[filteredTop]].
    "q_knn_filtered" -> ((s, dir) =>
      filteredTop(s, dir, qmax = 50, k = 3)
        .orderBy("strategy", "query_id", "rnk")),

    // The strategy shoot-out: recall@3 of each filtered-ANN strategy
    // against the FILTERED brute truth (exact top-3 among passing
    // vectors only) on the shared panel — the number that prices
    // post-filtering's inflation gamble (it returns SHORT whenever
    // < k of the 4·k unfiltered window pass) against pre-filtering's
    // fused-predicate scan. n_short counts queries the strategy
    // answered with fewer than k results — the vector-DB SLA metric.
    "q_knn_filtered_recall" -> ((s, dir) => {
      val truth = bruteFilteredTop(s, dir, qmax = 50, k = 3)
        .select(col("query_id"), col("neighbor_id"))
      val both = filteredTop(s, dir, qmax = 50, k = 3)
      // every panel query has 3 truth rows (the passing corpus is far
      // larger than k), so the truth's distinct query set IS the panel
      val panel = truth.select(col("query_id").as("pq")).distinct()
      Seq("pre", "post").map { strat =>
        val leg = both.filter(col("strategy") === strat)
          .select(col("query_id").as("aq"), col("neighbor_id").as("an"))
        // anchored on the PANEL so a query the strategy answered with
        // ZERO rows still counts as short
        val short = panel.join(leg.groupBy(col("aq")).count(),
            col("pq") === col("aq"), "left")
          .agg(sum(when(coalesce(col("count"), lit(0L)) < 3, 1L)
            .otherwise(0L)).as("n_short"))
        truth.join(leg,
            col("query_id") === col("aq") && col("neighbor_id") === col("an"),
            "left")
          .agg(count(lit(1)).as("n_true"), count(col("an")).as("n_found"))
          .crossJoin(broadcast(short))
          .select(lit(strat).as("strategy"), col("n_true"), col("n_found"),
            round(col("n_found").cast("double") / col("n_true"), 4)
              .as("recall"), col("n_short"))
      }.reduce(_.unionByName(_)).orderBy("strategy")
    }),

    // IVF quality metric: recall@3 of the trained-cell candidate cut vs
    // the exact top-3 — read against q_knn_recall (the untrained SRP
    // cells at the same nprobe = 1) it measures what TRAINING the
    // quantizer buys at the same candidate budget.
    "q_knn_ivf_recall" -> ((s, dir) =>
      recallOf(
        bruteTop(s, dir, qmax = 50, k = 3).select("query_id", "neighbor_id"),
        ivfTop(s, dir, qmax = 50, k = 3).select("query_id", "neighbor_id"),
        k = 3)),

    // nprobe = 2 over the trained cells — THE IVF recall knob (what a
    // FAISS deployment tunes): each query also probes its second-
    // nearest cell, doubling the candidate budget.
    "q_knn_ivf_mp" -> ((s, dir) =>
      ivfTop(s, dir, qmax = 50, k = 3, nprobe = 2).orderBy("query_id", "rnk")),

    "q_knn_ivf_mp_recall" -> ((s, dir) =>
      recallOf(
        bruteTop(s, dir, qmax = 50, k = 3).select("query_id", "neighbor_id"),
        ivfTop(s, dir, qmax = 50, k = 3, nprobe = 2)
          .select("query_id", "neighbor_id"),
        k = 3)),

    // INCREMENTAL index maintenance — the ingest-side analog of
    // q_dedup_incremental: a delta of new vectors (vec_id % 10 = 7,
    // the arriving batch) is assigned to the STANDING IVF index
    // trained on the corpus alone — [[ivfAssignWith]], a pure
    // scan-side projection against the literal (n, Σv) cell stats, so
    // ingest cost ∝ |delta| with NO retraining pass and NO shuffle
    // (the FAISS add-without-train contract). The output is the
    // before/after quality row: recall@3 (nprobe = 2) of the standing
    // query panel against the brute truth over the FULL corpus —
    // pre-ingest the index cannot return any delta neighbor (they are
    // not indexed), post-ingest it can; the delta therefore lifts
    // recall exactly where the truth set contains new vectors. One
    // training collect serves both phases; the before-cells frame is
    // a FILTER of the after-cells frame, so Catalyst plans the
    // assignment projection once per branch with no extra pass.
    "q_knn_ivf_incremental" -> ((s, dir) => {
      val qe = Dedup.quantized(s, dir)
      val corpusPred = col("vec_id") % 10 =!= 7
      val parts = ivfTrainStats(qe.filter(corpusPred))
      val cellsAll = ivfAssignWith(parts, qe)
      val panel = col("vec_id") < 50 && col("vec_id") % 10 =!= 7
      val truth = bruteTopWhere(s, dir, panel, k = 3)
        .select(col("query_id"), col("neighbor_id"))
      def statRow(no: Int, name: String, idx: DataFrame): DataFrame =
        truth.join(
            ivfTopOn(idx, panel, k = 3, nprobe = 2)
              .select(col("query_id").as("aq"), col("neighbor_id").as("an")),
            col("query_id") === col("aq") && col("neighbor_id") === col("an"),
            "left")
          .agg(count(lit(1)).as("n_true"), count(col("an")).as("n_found"))
          .crossJoin(broadcast(idx.agg(count(lit(1)).as("indexed_vectors"))))
          .select(lit(no).as("stage_no"), lit(name).as("phase"),
            col("indexed_vectors"), col("n_true"), col("n_found"),
            round(col("n_found").cast("double") / col("n_true").cast("double"), 4)
              .as("recall_at_3"))
      statRow(1, "pre_ingest", cellsAll.filter(corpusPred))
        .unionByName(statRow(2, "post_ingest", cellsAll))
        .orderBy("stage_no")
    }),

    // INDEX STALENESS — the retrain trigger an ANN deployment polls
    // (FAISS's "retrain when the distribution moves" guidance made a
    // number): train the coarse quantizer on the standing half (even
    // vec_ids), assign BOTH halves against those frozen cell stats,
    // and PSI the per-cell population shares of arriving vectors
    // against the training distribution ([[graft.ops.Analytics.psiOf]]
    // — same micro-unit arithmetic as q_drift_psi, grid = the trained
    // cell set). A 'shifted' verdict means the arriving vectors no
    // longer land where the quantizer was balanced — cells skew, probe
    // recall decays, retrain. Scale shape: scan-side assignment
    // against literal cell stats (the q_knn_ivf_incremental plan),
    // one cell-bounded aggregate, the bounded PSI tail.
    "q_ivf_drift" -> ((s, dir) => {
      val qe = Dedup.quantized(s, dir)
      val parts = ivfTrainStats(qe.filter(col("vec_id") % 2 === 0))
      val counts = ivfAssignWith(parts, qe)
        .groupBy(col("cell").cast("long").as("bin"))
        .agg(sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("c_ref"),
          sum(when(col("vec_id") % 2 =!= 0, 1L).otherwise(0L)).as("c_cur"))
      graft.ops.Analytics.psiOf(s, counts, parts.size)
        .withColumnRenamed("bin", "cell")
        .orderBy("cell")
    }),

    // PERSISTED-INDEX LIFECYCLE (r16; the FAISS write_index/read_index
    // loop): build-or-load EVERY durable ANN artifact through
    // [[IndexStore]] and report each one's census straight FROM THE
    // LOADED PARQUET — row count plus an exact-integer content
    // checksum. The DuckDB twin recomputes both from the base tables,
    // so a hash match proves the train → write → publish → load loop
    // returns bit-exactly the frames a fresh training would. The
    // search-result-level pin of the same property is
    // q_knn_ivf_retrain (fresh train) vs q_knn_ivf (loaded index),
    // which share one oracle.
    "q_index_persist" -> ((s, dir) => {
      def census(name: String, df: DataFrame,
          term: org.apache.spark.sql.Column): DataFrame =
        df.agg(count(lit(1)).as("n_rows"),
            coalesce(sum(term), lit(0L)).as("checksum"))
          .select(lit(name).as("artifact"), col("n_rows"), col("checksum"))
      val svTotal = expr("aggregate(sv, cast(0 as bigint), (a, x) -> a + x)")
      census("graph8", durableGraph8(s, dir),
          col("src") * 31L + col("dst"))
        .unionByName(census("ivf_cells", ivfCells(s, dir),
          col("vec_id") * (col("cell") + 1) + col("cell2") * 31L
            + col("norm")))
        .unionByName(census("ivf_stats", ivfStatsFrameDurable(s, dir),
          (col("cluster") + 1).cast("long") * (col("n") + svTotal)))
        .unionByName(census("maxsim_scored",
          graft.ops.TextOps.maxsimScoredArtifact(s, dir),
          col("query_id") * 31L + col("doc_id") + col("n_qtok")
            + col("score")))
        .unionByName(census("opq_pq_stats",
          IndexStore.durableFrame(s, dir, "opq_pq_stats") {
            pqStatsFrame(opqRotateWith(Dedup.quantized(s, dir),
              IndexStore.durableFrame(s, dir, "opq_var") {
                opqVarFrame(Dedup.quantized(s, dir))
              }.collect()), scale = 5L)
          },
          (col("g") * 16 + col("cl") + 1).cast("long")
            * (col("n") + svTotal)))
        .unionByName(census("opq_var",
          IndexStore.durableFrame(s, dir, "opq_var") {
            opqVarFrame(Dedup.quantized(s, dir))
          },
          (col("i") + 1).cast("long") * (col("n") + col("s") + col("s2"))))
        .unionByName(census("pq_res_stats", pqResStatsFrameDurable(s, dir),
          (col("g") * 16 + col("cl") + 1).cast("long")
            * (col("n") + svTotal)))
        .unionByName(census("pq_stats", pqStatsFrameDurable(s, dir),
          (col("g") * 16 + col("cl") + 1).cast("long")
            * (col("n") + svTotal)))
        .unionByName(census("sq8_stats", sq8StatsFrameDurable(s, dir),
          (col("i") + 1).cast("long") * (col("mn") + lit(2) * col("mx"))))
        .unionByName(census("term_freqs",
          graft.ops.TextOps.termFreqsArtifact(s, dir),
          col("doc_id") * 31L + col("tf") * 7L
            + length(col("word")).cast("long")))
        .unionByName(census("jaccard_pairs",
          Dedup.jaccardPairsDurable(s, dir),
          col("d1") * 31L + col("d2")))
        .unionByName(census("train_shards",
          TextAnalysis.trainShardsDurable(s, dir),
          (col("shard") + 1).cast("long") *
            (col("n_seqs") * 31L + col("n_tokens")) +
            ascii(substring(col("shard_md5"), 1, 1)).cast("long")))
        .unionByName(census("upper4", durableUpper4(s, dir),
          col("src") * 31L + col("dst")))
        .unionByName(census("zstd_dict",
          Multimodal.zstdDictDurable(s, dir),
          // dict_hex (the binary §5 bytes) is deliberately outside
          // the checksum: the twin cannot re-derive FSE/Huffman table
          // bytes in SQL; its fidelity is spec-pinned via parseDict
          // round-trip instead
          col("dict_id") + col("n_grams") * 7L + col("content_len") * 31L
            + ascii(substring(col("content_md5"), 1, 1)).cast("long")))
        .orderBy("artifact")
    }),

    // The RETRAIN leg of the load/search split: identical ranking to
    // q_knn_ivf but through the always-retrain [[ivfCellsFrom]] path,
    // deliberately bypassing the store. Shares q_knn_ivf's oracle —
    // the gate therefore proves loaded-index search == fresh-train
    // search at the result level, every round.
    "q_knn_ivf_retrain" -> ((s, dir) =>
      ivfTopFrom(ivfCellsFrom(Dedup.quantized(s, dir)),
        qmax = 50, k = 3, nprobe = 1).orderBy("query_id", "rnk")),

    // STALENESS of the PERSISTED artifact — q_ivf_drift's PSI
    // composed against the stored index instead of an in-plan split:
    // reference = the artifact's train-time per-seed-cluster
    // populations (read from the persisted ivf_stats), current = the
    // live corpus re-assigned scan-side against the SAME loaded
    // stats, binned by elected cell. The PSI between them measures
    // how far one refinement step moved the population the quantizer
    // was balanced on — the number a deployment alerts on before
    // firing q_ivf_rebalance against a months-old index. Content
    // staleness (corpus changed under the artifact) never reaches
    // this row: the fingerprint key makes a changed corpus MISS the
    // store structurally.
    "q_index_staleness" -> ((s, dir) => {
      val parts = ivfStats(s, dir)
      val ref = s.createDataFrame(
        parts.zipWithIndex.map { case ((n, _, _), k) => (k.toLong, n) })
        .toDF("bin", "c_ref")
      val cur = ivfAssignWith(parts, Dedup.quantized(s, dir))
        .groupBy(col("cell").cast("long").as("bin"))
        .agg(count(lit(1)).as("c_cur"))
      val counts = ref.join(cur, Seq("bin"), "full_outer")
        .select(col("bin"), coalesce(col("c_ref"), lit(0L)).as("c_ref"),
          coalesce(col("c_cur"), lit(0L)).as("c_cur"))
      graft.ops.Analytics.psiOf(s, counts, parts.size)
        .withColumnRenamed("bin", "cell")
        .orderBy("cell")
    }),

    // IVF REBALANCE — the ACTION the q_ivf_drift trigger fires: the
    // cell with the largest ARRIVING population gets SPLIT in place
    // (FAISS's reclustering maintenance / the k-means bisecting step):
    // its members re-train a K = 2 sub-quantizer (fixed seed pair →
    // divisionless argmin → ONE exact (n, Σv) refinement — the
    // ivfTrainStats discipline in miniature) and reassign to the
    // refined sub-cells. Output: the post-rebalance cell table — the
    // untouched cells plus the two children of the hot cell, one row
    // each. Scale shape: everything through the driver is index
    // METADATA (K-row populations, 2×65 sub-stats); the corpus is
    // scanned by scan-side projections only, and the hot-cell member
    // subset is a pushed filter on the assignment — never a shuffle.
    "q_ivf_rebalance" -> ((s, dir) => {
      val qe = Dedup.quantized(s, dir)
      val parts = ivfTrainStats(qe.filter(col("vec_id") % 2 === 0))
      val cells = ivfAssignWith(parts, qe)
      val pops = cells.groupBy(col("cell"))
        .agg(sum(when(col("vec_id") % 2 =!= 0, 1L).otherwise(0L)).as("cur"))
        .collect().map(r => (r.getAs[Int]("cell"), r.getAs[Long]("cur")))
      val hot = pops.sortBy { case (c, cur) => (-cur, c) }.head._1
      val hotMembers = cells.filter(col("cell") === hot)
        .select(col("vec_id"), col("q"), col("norm"))
      val seeds = Clustering.centroids.take(2).map(_.map(_.toLong))
      val byK = Clustering.assign(hotMembers, seeds)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"), expr("vec_sum(q, 64)").as("sv"))
        .collect().map(r => r.getAs[Int]("cluster") -> r).toMap
      val subParts = byK.keys.toSeq.sorted.map { k =>
        val r = byK(k)
        val n = r.getAs[Long]("n")
        val sv = r.getAs[scala.collection.Seq[Long]]("sv").toSeq
        (n, sv, sv.map(v => BigInt(v) * BigInt(v)).sum)
      }
      val sub = ivfAssignWith(subParts, hotMembers)
      val untouched = cells.filter(col("cell") =!= hot)
        .groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
        .select(col("cell").cast("string").as("cell_label"),
          col("n_vectors"), lit(0).as("split"))
      val splits = sub.groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
        .select(concat(lit(hot.toString), lit("."),
          col("cell").cast("string")).as("cell_label"),
          col("n_vectors"), lit(1).as("split"))
      untouched.unionByName(splits).orderBy("cell_label")
    }),

    // The K × nprobe OPERATING-POINT GRID (the q_dedup_lsh_tuning /
    // q_hll_tuning pattern applied to the IVF index): aggregate
    // recall@K over all 50 queries at every (K, nprobe) ∈ {3,10}×{1,2}
    // — the tuning curve an ANN deployment picks its point on, so the
    // per-query recall rows above stop being a single-K story. The
    // index trains ONCE ([[ivfCells]]'s bounded K-row collect happens
    // once, not per grid row), and the brute/IVF ranking subtrees are
    // identical across rows up to the rnk filter, so their exchanges
    // plan once (ReusedExchange) — the grid costs one extra rank pass
    // per row, not 4× the index.
    "q_knn_ivf_recall_grid" -> ((s, dir) => {
      val cells = ivfCells(s, dir)
      val rows = for (k <- Seq(3, 10); np <- Seq(1, 2)) yield {
        val exact = bruteTop(s, dir, qmax = 50, k = k)
          .select(col("query_id"), col("neighbor_id"))
        val approx = ivfTopFrom(cells, qmax = 50, k = k, nprobe = np)
          .select(col("query_id").as("aq"), col("neighbor_id").as("an"))
        exact.join(approx,
            col("query_id") === col("aq") && col("neighbor_id") === col("an"),
            "left")
          .agg(count(lit(1)).as("n_true"), count(col("an")).as("n_found"))
          .select(lit(k).as("k"), lit(np).as("nprobe"),
            col("n_true"), col("n_found"),
            round(col("n_found").cast("double") / col("n_true"), 4)
              .as("recall"))
      }
      rows.reduce(_.unionByName(_)).orderBy("k", "nprobe")
    }),

    // The composed index: IVF candidate cut (nprobe = 2 trained cells)
    // × ADC compressed ranking — both knobs at once, the configuration
    // a production deployment actually runs. Its recall row closes the
    // tuning matrix: cut-only (q_knn_ivf_mp_recall 0.64), compression-
    // only (q_knn_sq8_adc_recall 0.96), composed here.
    "q_knn_ivf_adc" -> ((s, dir) =>
      ivfAdcTop(s, dir, qmax = 50, k = 3).orderBy("query_id", "rnk")),

    "q_knn_ivf_adc_recall" -> ((s, dir) =>
      recallOf(
        bruteTop(s, dir, qmax = 50, k = 3).select("query_id", "neighbor_id"),
        ivfAdcTop(s, dir, qmax = 50, k = 3).select("query_id", "neighbor_id"),
        k = 3)),

    // ADC quality metric: recall@3 of asymmetric (full-precision query
    // vs coded corpus) ranking against the exact cosine top-3 — read
    // next to q_knn_sq8_recall it measures how much ranking quality the
    // asymmetric kernel buys back at the same 8× corpus compression.
    "q_knn_sq8_adc_recall" -> ((s, dir) =>
      recallOf(
        bruteTop(s, dir, qmax = 50, k = 3).select("query_id", "neighbor_id"),
        sq8AdcTop(s, dir, qmax = 50, k = 3).select("query_id", "neighbor_id"),
        k = 3)),

    // Product quantization (the third FAISS compression leg next to
    // SQ8 and IVF): 4 codes × 4 bits per corpus vector — 32× smaller
    // residency than SQ8 codes — ranked by per-query table lookup.
    "q_knn_pq" -> ((s, dir) =>
      pqAdcTop(s, dir, qmax = 50, k = 3).orderBy("query_id", "rnk")),

    // OPQ-rotated PQ — see [[opqRotate]] (the FAISS OPQ pre-step as
    // exact Pythagorean Givens rotations): the SAME IndexPQ pipeline
    // (seeded codebooks, scan-side encode, broadcast LUTs, ADC) over
    // the variance-balanced space. Same codebook budget as q_knn_pq
    // by construction — only the rotation differs.
    "q_knn_opq_pq" -> ((s, dir) =>
      opqAdcTop(s, dir, qmax = 50, k = 3).orderBy("query_id", "rnk")),

    // The lift row: recall@3 of rotated vs raw PQ on the SHARED brute
    // truth (rotation is orthogonal up to a uniform scale, so the
    // exact-cosine truth is the same frame for both legs). n_true
    // zero-guarded per the q_lr_auc rule. MEASURED at sf0.01: opq_pq
    // 0.24 vs pq 0.33 — the synthetic embeddings are near-isotropic,
    // so variance re-allocation has nothing to win and the residual
    // delta is seed-partition luck (the rotation is orthogonal and
    // the seeds scale-equivariant, so nothing systematic is lost
    // either); on the skewed spectra OPQ targets (Ge et al. 2013,
    // Fig. 5) the identical row surfaces the lift. The honest-number
    // discipline of q_maxsim_twostage_agree's 0.037.
    "q_knn_opq_pq_recall" -> ((s, dir) => {
      val truth = bruteTop(s, dir, qmax = 50, k = 3)
        .select(col("query_id"), col("neighbor_id"))
      def leg(name: String, approx: DataFrame): DataFrame =
        truth.join(approx
            .select(col("query_id").as("aq"), col("neighbor_id").as("an")),
            col("query_id") === col("aq") && col("neighbor_id") === col("an"),
            "left")
          .agg(count(lit(1)).as("n_true"), count(col("an")).as("n_found"))
          .select(lit(name).as("family"), col("n_true"), col("n_found"),
            when(col("n_true") > 0,
              round(col("n_found").cast("double") /
                col("n_true").cast("double"), 4))
              .otherwise(lit(null).cast("double")).as("recall_at_3"))
      // both legs ride their standing code tables (q_knn_pq and
      // q_knn_opq_pq price the fresh encodes; this row measures the
      // recall DELTA, and the rankings are identical by construction)
      leg("opq_pq", opqAdcTopStanding(s, dir, qmax = 50, k = 3))
        .unionByName(leg("pq", pqAdcTopStanding(s, dir, qmax = 50, k = 3)))
        .orderBy("family")
    }),

    // PQ quality metric: recall@3 of the 2-byte-code ranking vs the
    // exact cosine top-3 — read against q_knn_sq8_adc_recall it is the
    // compression-vs-recall trade at 32× deeper compression (the row a
    // deployment consults before committing to PQ at 10⁹ vectors).
    "q_knn_pq_recall" -> ((s, dir) =>
      recallOf(
        bruteTop(s, dir, qmax = 50, k = 3).select("query_id", "neighbor_id"),
        pqAdcTopStanding(s, dir, qmax = 50, k = 3)
          .select("query_id", "neighbor_id"),
        k = 3)),

    // The refine step over the PQ shortlist (FAISS IndexRefineFlat):
    // ADC ranks the whole corpus through 8-byte codes, exact cosine
    // re-scores only the top-12 candidates per query — the standard
    // fix for lossy-code recall at a bounded raw-vector fetch budget.
    "q_knn_pq_rerank" -> ((s, dir) =>
      pqRerankTop(s, dir, qmax = 50, k = 3, kShort = 12)
        .orderBy("query_id", "rnk")),

    // Refine quality: recall@3 after the exact re-rank — read against
    // q_knn_pq_recall (no re-ranking) it is the recall the 4× shortlist
    // fetch buys back; the ceiling is P(true top-3 ⊆ ADC top-12).
    "q_knn_pq_rerank_recall" -> ((s, dir) =>
      recallOf(
        bruteTop(s, dir, qmax = 50, k = 3).select("query_id", "neighbor_id"),
        pqRerankTop(s, dir, qmax = 50, k = 3, kShort = 12)
          .select("query_id", "neighbor_id"),
        k = 3)),

    // The composed billion-scale index: IVF candidate cut (nprobe = 2
    // trained cells) × PQ table-lookup ranking — FAISS IndexIVFPQ.
    "q_knn_ivf_pq" -> ((s, dir) =>
      ivfPqTop(s, dir, qmax = 50, k = 3).orderBy("query_id", "rnk")),

    "q_knn_ivf_pq_recall" -> ((s, dir) =>
      recallOf(
        bruteTop(s, dir, qmax = 50, k = 3).select("query_id", "neighbor_id"),
        ivfPqTop(s, dir, qmax = 50, k = 3).select("query_id", "neighbor_id"),
        k = 3)),

    // Residual refinement of the composed index — the one FAISS
    // IndexIVFPQ property the raw-vector q_knn_ivf_pq lacks: codes
    // cover v − c_cell, LUTs cover q − c_probe. Read its recall row
    // against q_knn_ivf_pq_recall: residual encoding is the published
    // recall-at-identical-code-budget claim.
    "q_knn_ivf_pq_res" -> ((s, dir) =>
      ivfPqResTop(s, dir, qmax = 50, k = 3).orderBy("query_id", "rnk")),

    "q_knn_ivf_pq_res_recall" -> ((s, dir) =>
      recallOf(
        bruteTop(s, dir, qmax = 50, k = 3).select("query_id", "neighbor_id"),
        ivfPqResTop(s, dir, qmax = 50, k = 3).select("query_id", "neighbor_id"),
        k = 3)),

    // k-NN graph: every vector's top-3 neighbors, IVF-blocked
    // (nprobe = 2) — the all-nodes generalization of q_knn_ivf_mp.
    "q_knn_graph" -> ((s, dir) =>
      knnGraphFrom(ivfCells(s, dir), k = 3).orderBy("vec_id", "rnk")),

    // ADD-ONLY graph-index maintenance — the graph analog of
    // q_knn_ivf_incremental (the FAISS add contract): a delta of new
    // vectors (vec_id % 10 = 7, the incremental-family slice) links
    // into the STANDING graph by probing its coarse cells — the
    // standing nodes' edge lists are untouched, old edges never
    // recompute, cost ∝ |delta|·cell-density. in_rebuild flags each
    // ingested edge against what a FULL rebuild would give the same
    // node: the misses are exactly the delta-delta neighborhoods
    // add-only cannot see — the measured price of skipping the
    // rebuild (HNSW deployments pay the same gap until re-index).
    "q_knn_graph_ingest" -> ((s, dir) => {
      val cells = ivfCells(s, dir)
      val delta = cells.filter(col("vec_id") % 10 === 7)
      val standing = cells.filter(col("vec_id") % 10 =!= 7)
      val inc = knnGraphBetween(delta, standing, k = 3)
      val full = knnGraphBetween(delta, cells, k = 3)
        .select(col("vec_id"), col("neighbor_id"), lit(1).as("hit"))
      inc.join(full, Seq("vec_id", "neighbor_id"), "left")
        .select(col("vec_id"), col("rnk"), col("neighbor_id"), col("cosine"),
          coalesce(col("hit"), lit(0)).cast("int").as("in_rebuild"))
        .orderBy("vec_id", "rnk")
    }),

    // Graph recall@3, estimated on the deterministic bounded node
    // panel against the brute-force graph rows for those nodes.
    "q_knn_graph_recall" -> ((s, dir) =>
      recallOf(
        bruteGraphSampled(s, dir, k = 3),
        graph3(s, dir)
          .filter(col("vec_id") % 5 === 0 && col("vec_id") < 1000)
          .select(col("vec_id").as("query_id"), col("neighbor_id")),
        k = 3)),

    // Graph-traversal ANN: entry point → expand → score → beam-4 →
    // repeat ×3 → exact rerank of the visited set (NSW layer-0 walk
    // over the degree-6 navigation graph).
    "q_knn_graph_search" -> ((s, dir) =>
      graphSearchTop(s, dir, k = 3, beam = 8, hops = 5)
        .orderBy("query_id", "rnk")),

    // Recall@3 of the 3-hop beam walk on the same bounded panel the
    // plain graph recall uses — prices the traversal budget (~55
    // scored nodes per query, ~1% of the sf0.01 corpus) against exact
    // cosine truth.
    "q_knn_graph_search_recall" -> ((s, dir) =>
      recallOf(
        bruteGraphSampled(s, dir, k = 3),
        graphSearchTop(s, dir, k = 3, beam = 8, hops = 5)
          .select(col("query_id"), col("neighbor_id")),
        k = 3)),

    // The full HIERARCHICAL shape — upper-layer descent to a
    // per-query entry, then the layer-0 beam walk; entry by graph,
    // not by quantizer (see hnswTop).
    "q_knn_hnsw" -> ((s, dir) =>
      hnswTop(s, dir, k = 3).orderBy("query_id", "rnk")),

    // Recall@3 on the shared bounded panel — prices the hierarchical
    // entry against the cell-seeded walk (q_knn_graph_search_recall)
    // and exact truth.
    "q_knn_hnsw_recall" -> ((s, dir) =>
      recallOf(
        bruteGraphSampled(s, dir, k = 3),
        hnswTop(s, dir, k = 3)
          .select(col("query_id"), col("neighbor_id")),
        k = 3)),

    // BINARY quantization — the 1-bit leg completing the compression
    // ladder (float → SQ8 → PQ4 → BQ1; FAISS IndexBinaryFlat): each
    // dimension collapses to its sign bit, ranking is Hamming distance
    // (mismatched-sign count — exact integer, trivially SIMD/popcount
    // at deployment), 64× smaller codes than raw. Same plan shape as
    // bruteTop: broadcast query batch, scan-side sign projection,
    // per-partition top-k. The recall row prices the 1-bit budget
    // against exact cosine truth.
    "q_knn_bq" -> ((s, dir) =>
      bqTop(s, dir, qmax = 50, k = 3).orderBy("query_id", "rnk")),

    "q_knn_bq_recall" -> ((s, dir) =>
      recallOf(
        bruteTop(s, dir, qmax = 50, k = 3).select("query_id", "neighbor_id"),
        bqTop(s, dir, qmax = 50, k = 3).select("query_id", "neighbor_id"),
        k = 3)),

    // The packed-word deployment form of the same 1-bit index:
    // identical ranking, 16-byte codes, popcount kernel.
    "q_knn_bq_packed" -> ((s, dir) =>
      bqPackedTop(s, dir, qmax = 50, k = 3).orderBy("query_id", "rnk")),

    // MATRYOSHKA dimension grid — recall@3 when ranking uses only the
    // first d ∈ {8,16,32,64} dimensions (the MRL deployment question:
    // how much of the vector do you actually need to pay for?). Exact
    // cosine within each prefix (slice + dot_long), truth = the full
    // 64-dim brute ranking, shared across the four rows. Vectors whose
    // d-prefix is all-zero are excluded from that leg (the zero-norm
    // ingest contract extended to the truncated space) — their truth
    // rows stay in the denominator, so prefix collapse costs recall
    // instead of crashing or silently flattering the curve.
    "q_knn_mrl_grid" -> ((s, dir) => {
      val truth = bruteTop(s, dir, qmax = 50, k = 3)
        .select(col("query_id"), col("neighbor_id"))
      val rows = Seq(8, 16, 32, 64).map { d =>
        val approx = mrlTop(s, dir, d, qmax = 50, k = 3)
          .select(col("query_id").as("aq"), col("neighbor_id").as("an"))
        truth.join(approx,
            col("query_id") === col("aq") && col("neighbor_id") === col("an"),
            "left")
          .agg(count(lit(1)).as("n_true"), count(col("an")).as("n_found"))
          .select(lit(d).as("dims"), col("n_true"), col("n_found"),
            round(col("n_found").cast("double") / col("n_true"), 4)
              .as("recall"))
      }
      rows.reduce(_.unionByName(_)).orderBy("dims")
    }),

    // LABEL-PROPAGATION communities over the k-NN graph (Raghavan/
    // Albert/Kumara 2007) — the MODE-label variant, deliberately
    // distinct from the min-label connected components the dedup
    // family runs: LPA converges to dense neighborhoods (communities),
    // CC to reachability classes. Two synchronous rounds unrolled
    // in-plan: each node adopts the most frequent label among its
    // neighbors in the SYMMETRIZED edge set (union of both directions,
    // deduped), ties broken by lowest label — deterministic, so the
    // whole per-node assignment hash-gates. Per round: one join of the
    // 6N-row edge list against the N-row label table (vec_id-keyed,
    // full dop), one count aggregate, one WindowGroupLimit argmax —
    // the textbook Pregel superstep as three relational ops.
    "q_graph_communities" -> ((s, dir) => {
      val g = graph3(s, dir)
        .select(col("vec_id"), col("neighbor_id"))
      val edges = g.unionByName(
          g.select(col("neighbor_id").as("vec_id"), col("vec_id").as("neighbor_id")))
        .distinct()
      def lpaRound(labels: DataFrame): DataFrame = {
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("c").desc, col("lbl").asc)
        val winners = edges
          .join(labels.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
          .groupBy(col("vec_id"), col("lbl")).agg(count(lit(1)).as("c"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("lbl").as("newl"))
        labels.join(winners, Seq("vec_id"), "left")
          .select(col("vec_id"), coalesce(col("newl"), col("lbl")).as("lbl"))
      }
      val l0 = Dedup.quantized(s, dir)
        .select(col("vec_id"), col("vec_id").as("lbl"))
      lpaRound(lpaRound(l0))
        .select(col("vec_id"), col("lbl").as("community"))
        .orderBy("vec_id")
    }),

    // MUTUAL k-NN graph — the reciprocal-edge filter (edge kept iff
    // each endpoint ranks the other in its top-3), the standard
    // denoising step before graph clustering: asymmetric hub edges
    // (a low-degree point claiming a hub that never claims it back)
    // are exactly what mutual-kNN removes. One self-join of the 3N-row
    // edge list keyed on the (src, dst) pair — fine-grained keys, so
    // the join parallelism is unconstrained by the cell count; cosine
    // is symmetric, so either endpoint's value reports the pair.
    "q_knn_graph_mutual" -> ((s, dir) => {
      val g = graph3(s, dir)
        .select(col("vec_id"), col("neighbor_id"), col("cosine"))
      val rev = g.select(col("vec_id").as("nb"), col("neighbor_id").as("vb"))
      g.join(rev, col("vec_id") === col("vb") &&
          col("neighbor_id") === col("nb"))
        .filter(col("vec_id") < col("neighbor_id"))
        .select(col("vec_id"), col("neighbor_id"), col("cosine"))
        .orderBy("vec_id", "neighbor_id")
    }),

    // The q_knn_ivf_recall_grid pattern extended to the COMPRESSED
    // composed legs: aggregate recall@K at every (family, K, nprobe) ∈
    // {ivf_adc, ivf_pq} × {3,10} × {1,2} — the operating-point curves
    // a deployment consults when picking cut × compression together
    // (nprobe buys candidates, the compression leg sets how faithfully
    // they rank). Each family's index trains ONCE (cells + SQ8 stats,
    // cells + PQ codebooks — three bounded collects total, not 8×),
    // and the brute truth ranking at each K is shared across families
    // and nprobes, so the identical subtrees plan as ReusedExchange —
    // a grid row costs one extra rank pass, never a re-train.
    "q_knn_compressed_grid" -> ((s, dir) => {
      // standing code tables measured WORSE here (r20: grid 2.20 →
      // 2.89 s min-of-3 — the arms' shared encode already dedups at
      // runtime via AQE ReusedExchange, so a standing table only
      // trades the fused scan for ExistingRDD reads); the raw-PQ
      // family is different (its fresh path retrains codebooks per
      // call, so pqCodesStanding skips a collect + encode per row)
      val cells = ivfCells(s, dir)
      val (mns, mxs) = sq8Stats(s, dir)
      val cb = pqCodebooks(s, dir)
      val fams: Seq[(String, (Int, Int) => DataFrame)] = Seq(
        "ivf_adc" -> ((k: Int, np: Int) =>
          ivfAdcTopFrom(cells, mns, mxs, qmax = 50, k = k, nprobe = np)),
        "ivf_pq" -> ((k: Int, np: Int) =>
          ivfPqTopFrom(cells, cb, qmax = 50, k = k, nprobe = np)))
      // the two brute truth rankings are each consumed by FOUR grid
      // arms — materialize them once (panel-bounded: ≤ 50·k rows), so
      // the union plans 8 small probe arms instead of re-planning the
      // exhaustive truth subtree per arm (the plan itself was ~300 KB
      // formatted and planning time dominated the row)
      val truthAt = Seq(3, 10).map(k => k ->
        bruteTop(s, dir, qmax = 50, k = k)
          .select(col("query_id"), col("neighbor_id"))
          .localCheckpoint(true)).toMap
      val rows = for ((fam, top) <- fams; k <- Seq(3, 10); np <- Seq(1, 2))
        yield {
          val exact = truthAt(k)
          val approx = top(k, np)
            .select(col("query_id").as("aq"), col("neighbor_id").as("an"))
          exact.join(approx,
              col("query_id") === col("aq") && col("neighbor_id") === col("an"),
              "left")
            .agg(count(lit(1)).as("n_true"), count(col("an")).as("n_found"))
            .select(lit(fam).as("family"), lit(k).as("k"), lit(np).as("nprobe"),
              col("n_true"), col("n_found"),
              round(col("n_found").cast("double") / col("n_true"), 4)
                .as("recall"))
        }
      rows.reduce(_.unionByName(_)).orderBy("family", "k", "nprobe")
    }))

  val oracles: Map[String, String] = Map(
    "q_knn_brute" -> ("WITH " + Dedup.QE + s""",
      pairs AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                  a.q AS qa, b.q AS qb, a.norm AS na, b.norm AS nb
                FROM qn a JOIN qn b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
      cos AS (SELECT query_id, neighbor_id,
                round(CAST(${Dedup.dotOracle} AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
              FROM pairs),
      rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rnk
             FROM cos)
      SELECT query_id, rnk, neighbor_id, cosine FROM rk WHERE rnk <= 5
      ORDER BY query_id, rnk"""),
    "q_knn_ann" -> annSql(multi = false),
    "q_knn_ann_mp" -> annSql(multi = true),
    "q_hard_negatives" -> ("WITH " + Dedup.QE + s""",
      pairs AS (SELECT a.vec_id AS query_id, a.label AS qlabel,
                  b.vec_id AS neighbor_id, b.label AS nlabel,
                  a.q AS qa, b.q AS qb, a.norm AS na, b.norm AS nb
                FROM qn a JOIN qn b ON a.vec_id < 20
                  AND a.vec_id <> b.vec_id AND a.label <> b.label),
      cos AS (SELECT query_id, qlabel, neighbor_id, nlabel,
                round(CAST(${Dedup.dotOracle} AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
              FROM pairs),
      rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rnk
             FROM cos)
      SELECT query_id, qlabel, rnk, neighbor_id, nlabel, cosine
      FROM rk WHERE rnk <= 3 ORDER BY query_id, rnk"""),
    "q_knn_ndcg" -> ndcgSql(qbCte,
      """SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
             FROM qb a JOIN qb b ON a.bucket = b.bucket
               AND a.vec_id < 50 AND a.vec_id <> b.vec_id"""),
    "q_knn_mrr" -> mrrSql(qbCte,
      """SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
             FROM qb a JOIN qb b ON a.bucket = b.bucket
               AND a.vec_id < 50 AND a.vec_id <> b.vec_id"""),
    "q_knn_ivf_mrr" -> mrrSql(
      Clustering.assignCtes + "," + ivfCte,
      """SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
             FROM ivcell a JOIN ivcell b ON b.cell IN (a.cell, a.cell2)
               AND a.vec_id < 50 AND a.vec_id <> b.vec_id"""),
    "q_knn_pq_ndcg" -> ndcgSqlRanked(pqCtes, s"""
      apd AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               ${pqDistSql("a")} AS dist
             FROM qn a, pqcodes b, $pqJoinTables
             WHERE ${pqJoinCond("b")}
               AND a.vec_id < 50 AND a.vec_id <> b.vec_id),
      ark AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS rnk
              FROM apd)"""),
    "q_knn_ivf_ndcg" -> ndcgSql(
      Clustering.assignCtes + "," + ivfCte,
      s"""SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
             FROM ivcell a JOIN ivcell b
               ON ${ivfProbeCond(multi = true)}
               AND a.vec_id < 50 AND a.vec_id <> b.vec_id"""),
    "q_knn_recall" -> recallSql(multi = false),
    "q_knn_recall_mp" -> recallSql(multi = true),
    "q_knn_sq8" -> ("WITH " + Dedup.QE + "," + sq8Cte + s""",
      pairs AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                  a.c AS ca, b.c AS cb
                FROM codes a JOIN codes b ON a.vec_id < 50 AND a.vec_id <> b.vec_id),
      d AS (SELECT query_id, neighbor_id, $sq8Dist AS dist FROM pairs),
      rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS INT) AS rnk
             FROM d)
      SELECT query_id, rnk, neighbor_id, dist FROM rk WHERE rnk <= 3
      ORDER BY query_id, rnk"""),
    "q_knn_sq8_recall" -> ("WITH " + Dedup.QE + "," + sq8Cte + s""",
      bp AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
             FROM qn a JOIN qn b ON a.vec_id < 50 AND a.vec_id <> b.vec_id),
      bcos AS (SELECT query_id, neighbor_id,
                 round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
               FROM bp),
      brk AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
              FROM bcos),
      brute AS (SELECT query_id, neighbor_id FROM brk WHERE rnk <= 3),
      ap AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                a.c AS ca, b.c AS cb
             FROM codes a JOIN codes b ON a.vec_id < 50 AND a.vec_id <> b.vec_id),
      ad AS (SELECT query_id, neighbor_id, $sq8Dist AS dist FROM ap),
      ark AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS rnk
              FROM ad),
      sq8 AS (SELECT query_id, neighbor_id FROM ark WHERE rnk <= 3)
      SELECT b.query_id,
             round(CAST(count(a.neighbor_id) AS DOUBLE) / 3.0, 4) AS recall_at_3
      FROM brute b LEFT JOIN sq8 a
        ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
      GROUP BY b.query_id ORDER BY b.query_id"""),
    "q_knn_ivf" -> ivfSql(multi = false),
    // merged-shards build must equal the full train bit for bit
    "q_knn_ivf_merge" -> ivfSql(multi = false),
    "q_knn_filtered" -> (filteredCtes + s"""
      SELECT 'pre' AS strategy, query_id, rnk, neighbor_id, cosine FROM fpre
      UNION ALL
      SELECT 'post' AS strategy, query_id, rnk, neighbor_id, cosine FROM fpost
      ORDER BY strategy, query_id, rnk"""),
    "q_knn_filtered_recall" -> (filteredCtes + s""",
      tbp AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
              FROM qn a JOIN qn b ON a.vec_id < 50 AND a.vec_id <> b.vec_id
                AND b.label < 3),
      tcos AS (SELECT query_id, neighbor_id,
                 round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
               FROM tbp),
      trk AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
              FROM tcos),
      truth AS (SELECT query_id, neighbor_id FROM trk WHERE rnk <= 3),
      fpanel AS (SELECT DISTINCT query_id FROM truth),
      prefnd AS (SELECT count(*) AS n_true, count(a.neighbor_id) AS n_found
                 FROM truth t LEFT JOIN fpre a
                   ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id),
      precnt AS (SELECT p.query_id, count(a.neighbor_id) AS c
                 FROM fpanel p LEFT JOIN fpre a ON p.query_id = a.query_id
                 GROUP BY 1),
      preshort AS (SELECT CAST(sum(CASE WHEN c < 3 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_short FROM precnt),
      postfnd AS (SELECT count(*) AS n_true, count(a.neighbor_id) AS n_found
                  FROM truth t LEFT JOIN fpost a
                    ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id),
      postcnt AS (SELECT p.query_id, count(a.neighbor_id) AS c
                  FROM fpanel p LEFT JOIN fpost a ON p.query_id = a.query_id
                  GROUP BY 1),
      postshort AS (SELECT CAST(sum(CASE WHEN c < 3 THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_short FROM postcnt)
      SELECT 'pre' AS strategy, n_true, n_found,
             round(CAST(n_found AS DOUBLE) / n_true, 4) AS recall, n_short
      FROM prefnd, preshort
      UNION ALL
      SELECT 'post' AS strategy, n_true, n_found,
             round(CAST(n_found AS DOUBLE) / n_true, 4) AS recall, n_short
      FROM postfnd, postshort
      ORDER BY strategy"""),
    "q_knn_ivf_recall" -> ivfRecallSql(multi = false),
    "q_knn_ivf_incremental" -> ivfIncrementalSql,
    "q_ivf_drift" -> ivfDriftSql,
    "q_index_persist" -> indexPersistSql,
    "q_index_staleness" -> indexStalenessSql,
    // shares q_knn_ivf's oracle: fresh-train search must equal
    // loaded-index search bit-for-bit
    "q_knn_ivf_retrain" -> ivfSql(multi = false),
    "q_ivf_rebalance" -> ivfRebalanceSql,
    "q_knn_ivf_mp" -> ivfSql(multi = true),
    "q_knn_ivf_mp_recall" -> ivfRecallSql(multi = true),
    "q_knn_ivf_recall_grid" -> ivfRecallGridSql,
    "q_knn_graph" -> knnGraphSql,
    "q_knn_graph_recall" -> knnGraphRecallSql,
    "q_knn_graph_ingest" -> knnGraphIngestSql,
    "q_knn_graph_search" -> knnGraphSearchSql,
    "q_knn_hnsw" -> knnHnswSql,
    "q_knn_hnsw_recall" -> knnHnswRecallSql,
    "q_knn_graph_search_recall" -> knnGraphSearchRecallSql,
    "q_knn_graph_mutual" -> knnGraphMutualSql,
    "q_graph_communities" -> graphCommunitiesSql,
    "q_knn_bq" -> ("WITH " + Dedup.QE + "," + bqCte + s""",
      pairs AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                  a.sg AS sa, b.sg AS sb
                FROM sg a JOIN sg b ON a.vec_id < 50 AND a.vec_id <> b.vec_id),
      hm AS (SELECT query_id, neighbor_id,
               CAST(list_sum(list_transform(generate_series(1, len(sa)),
                 i -> CASE WHEN sa[i] = sb[i] THEN 0 ELSE 1 END)) AS BIGINT) AS hamming
             FROM pairs),
      rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY hamming ASC, neighbor_id ASC) AS INT) AS rnk
             FROM hm)
      SELECT query_id, rnk, neighbor_id, hamming FROM rk WHERE rnk <= 3
      ORDER BY query_id, rnk"""),
    "q_knn_bq_packed" -> ("WITH " + Dedup.QE + s""",
      pk AS (SELECT vec_id,
               CAST(list_sum(list_transform(generate_series(0, 31), i ->
                 CASE WHEN q[i + 1] >= 0 THEN (CAST(1 AS BIGINT) << i)
                      ELSE 0 END)) AS BIGINT) AS lo,
               CAST(list_sum(list_transform(generate_series(32, 63), i ->
                 CASE WHEN q[i + 1] >= 0 THEN (CAST(1 AS BIGINT) << (i - 32))
                      ELSE 0 END)) AS BIGINT) AS hi
             FROM qn),
      pairs AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                  CAST(bit_count(xor(a.lo, b.lo)) AS BIGINT) +
                  CAST(bit_count(xor(a.hi, b.hi)) AS BIGINT) AS hamming
                FROM pk a JOIN pk b ON a.vec_id < 50 AND a.vec_id <> b.vec_id),
      rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY hamming ASC, neighbor_id ASC) AS INT) AS rnk
             FROM pairs)
      SELECT query_id, rnk, neighbor_id, hamming FROM rk WHERE rnk <= 3
      ORDER BY query_id, rnk"""),
    "q_knn_bq_recall" -> ("WITH " + Dedup.QE + "," + bqCte + "," + bruteCtes + s""",
      ap AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               a.sg AS sa, b.sg AS sb
             FROM sg a JOIN sg b ON a.vec_id < 50 AND a.vec_id <> b.vec_id),
      ah AS (SELECT query_id, neighbor_id,
               CAST(list_sum(list_transform(generate_series(1, len(sa)),
                 i -> CASE WHEN sa[i] = sb[i] THEN 0 ELSE 1 END)) AS BIGINT) AS hamming
             FROM ap),
      ar AS (SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY hamming ASC, neighbor_id ASC) AS rnk
             FROM ah),
      bq AS (SELECT query_id, neighbor_id FROM ar WHERE rnk <= 3)
      SELECT b.query_id,
             round(CAST(count(a.neighbor_id) AS DOUBLE) / 3.0, 4) AS recall_at_3
      FROM brute b LEFT JOIN bq a
        ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
      GROUP BY b.query_id ORDER BY b.query_id"""),
    "q_knn_mrl_grid" -> mrlGridSql,
    "q_knn_ivf_adc" -> ("WITH " + Dedup.QE + "," + Clustering.assignCtes + "," +
      ivfCte + "," + sq8Cte + s""",
      d AS (SELECT a.vec_id AS query_id, a.cell, v.vec_id AS neighbor_id,
              $adcDist AS dist
            FROM ivcell a, ivcell v, codes b, stats
            WHERE v.vec_id = b.vec_id AND v.cell IN (a.cell, a.cell2)
              AND a.vec_id < 50 AND a.vec_id <> v.vec_id),
      rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS INT) AS rnk
             FROM d)
      SELECT query_id, cell, rnk, neighbor_id, dist FROM rk WHERE rnk <= 3
      ORDER BY query_id, rnk"""),
    "q_knn_ivf_adc_recall" -> ("WITH " + Dedup.QE + "," + Clustering.assignCtes + "," +
      ivfCte + "," + sq8Cte + s""",
      bp AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
             FROM qn a JOIN qn b ON a.vec_id < 50 AND a.vec_id <> b.vec_id),
      bcos AS (SELECT query_id, neighbor_id,
                 round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
               FROM bp),
      brk AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
              FROM bcos),
      brute AS (SELECT query_id, neighbor_id FROM brk WHERE rnk <= 3),
      ad AS (SELECT a.vec_id AS query_id, v.vec_id AS neighbor_id,
               $adcDist AS dist
             FROM ivcell a, ivcell v, codes b, stats
             WHERE v.vec_id = b.vec_id AND v.cell IN (a.cell, a.cell2)
               AND a.vec_id < 50 AND a.vec_id <> v.vec_id),
      ark AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS rnk
              FROM ad),
      comp AS (SELECT query_id, neighbor_id FROM ark WHERE rnk <= 3)
      SELECT b.query_id,
             round(CAST(count(a.neighbor_id) AS DOUBLE) / 3.0, 4) AS recall_at_3
      FROM brute b LEFT JOIN comp a
        ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
      GROUP BY b.query_id ORDER BY b.query_id"""),
    "q_knn_sq8_adc" -> ("WITH " + Dedup.QE + "," + sq8Cte + s""",
      d AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
              $adcDist AS dist
            FROM qn a, codes b, stats
            WHERE a.vec_id < 50 AND a.vec_id <> b.vec_id),
      rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS INT) AS rnk
             FROM d)
      SELECT query_id, rnk, neighbor_id, dist FROM rk WHERE rnk <= 3
      ORDER BY query_id, rnk"""),
    "q_knn_sq8_adc_recall" -> ("WITH " + Dedup.QE + "," + sq8Cte + s""",
      bp AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
             FROM qn a JOIN qn b ON a.vec_id < 50 AND a.vec_id <> b.vec_id),
      bcos AS (SELECT query_id, neighbor_id,
                 round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
               FROM bp),
      brk AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
              FROM bcos),
      brute AS (SELECT query_id, neighbor_id FROM brk WHERE rnk <= 3),
      ad AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               $adcDist AS dist
             FROM qn a, codes b, stats
             WHERE a.vec_id < 50 AND a.vec_id <> b.vec_id),
      ark AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS rnk
              FROM ad),
      adc AS (SELECT query_id, neighbor_id FROM ark WHERE rnk <= 3)
      SELECT b.query_id,
             round(CAST(count(a.neighbor_id) AS DOUBLE) / 3.0, 4) AS recall_at_3
      FROM brute b LEFT JOIN adc a
        ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
      GROUP BY b.query_id ORDER BY b.query_id"""),
    "q_knn_pq" -> ("WITH " + Dedup.QE + "," + pqCtes + s""",
      d AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
              ${pqDistSql("a")} AS dist
            FROM qn a, pqcodes b, $pqJoinTables
            WHERE ${pqJoinCond("b")}
              AND a.vec_id < 50 AND a.vec_id <> b.vec_id),
      rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS INT) AS rnk
             FROM d)
      SELECT query_id, rnk, neighbor_id, dist FROM rk WHERE rnk <= 3
      ORDER BY query_id, rnk"""),
    "q_knn_pq_recall" -> ("WITH " + Dedup.QE + "," + pqCtes + "," + bruteCtes + s""",
      ad AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               ${pqDistSql("a")} AS dist
             FROM qn a, pqcodes b, $pqJoinTables
             WHERE ${pqJoinCond("b")}
               AND a.vec_id < 50 AND a.vec_id <> b.vec_id),
      ark AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS rnk
              FROM ad),
      pq AS (SELECT query_id, neighbor_id FROM ark WHERE rnk <= 3)
      SELECT b.query_id,
             round(CAST(count(a.neighbor_id) AS DOUBLE) / 3.0, 4) AS recall_at_3
      FROM brute b LEFT JOIN pq a
        ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
      GROUP BY b.query_id ORDER BY b.query_id"""),
    "q_knn_opq_pq" -> ("WITH " + Dedup.QE + "," + opqCtes + "," +
      pqCtesOn("oqn", "opq", seedScale = 5L) + s""",
      od AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               ${pqDistSql("a")} AS dist
             FROM oqn a, opqcodes b, ${pqJoinTablesOn("opq")}
             WHERE ${pqJoinCond("b")}
               AND a.vec_id < 50 AND a.vec_id <> b.vec_id),
      odr AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS INT) AS rnk
              FROM od)
      SELECT query_id, rnk, neighbor_id, dist FROM odr WHERE rnk <= 3
      ORDER BY query_id, rnk"""),
    "q_knn_opq_pq_recall" -> ("WITH " + Dedup.QE + "," + bruteCtes + "," +
      opqCtes + "," + pqCtesOn("oqn", "opq", seedScale = 5L) + "," +
      pqCtes + s""",
      oad AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                ${pqDistSql("a")} AS dist
              FROM oqn a, opqcodes b, ${pqJoinTablesOn("opq")}
              WHERE ${pqJoinCond("b")}
                AND a.vec_id < 50 AND a.vec_id <> b.vec_id),
      oa3 AS (SELECT query_id, neighbor_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY dist ASC, neighbor_id ASC) AS rnk
                FROM oad) WHERE rnk <= 3),
      pad AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                ${pqDistSql("a")} AS dist
              FROM qn a, pqcodes b, $pqJoinTables
              WHERE ${pqJoinCond("b")}
                AND a.vec_id < 50 AND a.vec_id <> b.vec_id),
      pa3 AS (SELECT query_id, neighbor_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY dist ASC, neighbor_id ASC) AS rnk
                FROM pad) WHERE rnk <= 3),
      ofm AS (
        SELECT 'opq_pq' AS family, CAST(count(*) AS BIGINT) AS n_true,
               CAST(count(a.neighbor_id) AS BIGINT) AS n_found
        FROM brute b LEFT JOIN oa3 a
          ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
        UNION ALL
        SELECT 'pq', CAST(count(*) AS BIGINT),
               CAST(count(a.neighbor_id) AS BIGINT)
        FROM brute b LEFT JOIN pa3 a
          ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id)
      SELECT family, n_true, n_found,
             CASE WHEN n_true > 0 THEN
               CAST(round(CAST(n_found AS DOUBLE) /
                 CAST(n_true AS DOUBLE), 4) AS DOUBLE)
             END AS recall_at_3
      FROM ofm ORDER BY family"""),
    "q_knn_pq_rerank" -> ("WITH " + Dedup.QE + "," + pqCtes +
      rerankCtes + s"""
      SELECT query_id, rnk, neighbor_id, cosine FROM rrk WHERE rnk <= 3
      ORDER BY query_id, rnk"""),
    "q_knn_pq_rerank_recall" -> ("WITH " + Dedup.QE + "," + pqCtes + "," +
      bruteCtes + rerankCtes + s""",
      rr3 AS (SELECT query_id, neighbor_id FROM rrk WHERE rnk <= 3)
      SELECT b.query_id,
             round(CAST(count(a.neighbor_id) AS DOUBLE) / 3.0, 4) AS recall_at_3
      FROM brute b LEFT JOIN rr3 a
        ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
      GROUP BY b.query_id ORDER BY b.query_id"""),
    "q_knn_ivf_pq" -> ("WITH " + Dedup.QE + "," + Clustering.assignCtes + "," +
      ivfCte + "," + pqCtes + s""",
      d AS (SELECT a.vec_id AS query_id, a.cell, v.vec_id AS neighbor_id,
              ${pqDistSql("a")} AS dist
            FROM ivcell a, ivcell v, pqcodes b, $pqJoinTables
            WHERE b.vec_id = v.vec_id AND v.cell IN (a.cell, a.cell2)
              AND ${pqJoinCond("b")}
              AND a.vec_id < 50 AND a.vec_id <> v.vec_id),
      rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS INT) AS rnk
             FROM d)
      SELECT query_id, cell, rnk, neighbor_id, dist FROM rk WHERE rnk <= 3
      ORDER BY query_id, rnk"""),
    "q_knn_ivf_pq_recall" -> ("WITH " + Dedup.QE + "," + Clustering.assignCtes + "," +
      ivfCte + "," + pqCtes + "," + bruteCtes + s""",
      ad AS (SELECT a.vec_id AS query_id, v.vec_id AS neighbor_id,
               ${pqDistSql("a")} AS dist
             FROM ivcell a, ivcell v, pqcodes b, $pqJoinTables
             WHERE b.vec_id = v.vec_id AND v.cell IN (a.cell, a.cell2)
               AND ${pqJoinCond("b")}
               AND a.vec_id < 50 AND a.vec_id <> v.vec_id),
      ark AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS rnk
              FROM ad),
      ivfpq AS (SELECT query_id, neighbor_id FROM ark WHERE rnk <= 3)
      SELECT b.query_id,
             round(CAST(count(a.neighbor_id) AS DOUBLE) / 3.0, 4) AS recall_at_3
      FROM brute b LEFT JOIN ivfpq a
        ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
      GROUP BY b.query_id ORDER BY b.query_id"""),
    "q_knn_ivf_pq_res" -> ("WITH " + Dedup.QE + "," + Clustering.assignCtes + "," +
      ivfCte + "," + resPqCtes + s""",
      d AS (SELECT a.vec_id AS query_id, a.cell, v.vec_id AS neighbor_id,
              ${resPqDistSql("a")} AS dist
            FROM ivcell a, ivcell v, rpqcodes b, ${pqJoinTablesOn("rpq")}, ivcent ct
            WHERE b.vec_id = v.vec_id AND v.cell IN (a.cell, a.cell2)
              AND ct.cluster = v.cell
              AND ${pqJoinCond("b")}
              AND a.vec_id < 50 AND a.vec_id <> v.vec_id),
      rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS INT) AS rnk
             FROM d)
      SELECT query_id, cell, rnk, neighbor_id, dist FROM rk WHERE rnk <= 3
      ORDER BY query_id, rnk"""),
    "q_knn_ivf_pq_res_recall" -> ("WITH " + Dedup.QE + "," + Clustering.assignCtes + "," +
      ivfCte + "," + resPqCtes + "," + bruteCtes + s""",
      ad AS (SELECT a.vec_id AS query_id, v.vec_id AS neighbor_id,
               ${resPqDistSql("a")} AS dist
             FROM ivcell a, ivcell v, rpqcodes b, ${pqJoinTablesOn("rpq")}, ivcent ct
             WHERE b.vec_id = v.vec_id AND v.cell IN (a.cell, a.cell2)
               AND ct.cluster = v.cell
               AND ${pqJoinCond("b")}
               AND a.vec_id < 50 AND a.vec_id <> v.vec_id),
      ark AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS rnk
              FROM ad),
      ivfpqr AS (SELECT query_id, neighbor_id FROM ark WHERE rnk <= 3)
      SELECT b.query_id,
             round(CAST(count(a.neighbor_id) AS DOUBLE) / 3.0, 4) AS recall_at_3
      FROM brute b LEFT JOIN ivfpqr a
        ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
      GROUP BY b.query_id ORDER BY b.query_id"""),
    "q_knn_compressed_grid" -> compressedGridSql)

  /** The exact brute-force top-3 block every recall twin repeats, as a
    * shared CTE string (`brute` = (query_id, neighbor_id) truth set). */
  private lazy val bruteCtes: String = s"""
      bp AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
             FROM qn a JOIN qn b ON a.vec_id < 50 AND a.vec_id <> b.vec_id),
      bcos AS (SELECT query_id, neighbor_id,
                 round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
               FROM bp),
      brk AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
              FROM bcos),
      brute AS (SELECT query_id, neighbor_id FROM brk WHERE rnk <= 3)"""

  /** Twin of [[opqRotate]]: the same one-pass per-dimension variance
    * stats, the same rank-g ↔ rank-(65−g) Givens pairing, and the
    * identical ×5-scaled integer rotation — 1-based list indices
    * where the Spark side is 0-based, same (vn DESC, i) tie-break. */
  private lazy val opqCtes: String = s"""
      ovd AS (SELECT i, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(q[i]) AS BIGINT) AS s,
                CAST(sum(q[i] * q[i]) AS BIGINT) AS s2
              FROM qn, UNNEST(generate_series(1, 64)) AS u(i) GROUP BY i),
      ovr AS (SELECT i, CAST(n AS HUGEINT) * s2 - CAST(s AS HUGEINT) * s
                AS vn FROM ovd),
      ork AS (SELECT i, row_number() OVER (ORDER BY vn DESC, i) AS rd
              FROM ovr),
      ohi AS (SELECT list(i ORDER BY rd) AS his FROM ork WHERE rd <= 4),
      olo AS (SELECT list(i ORDER BY rd DESC) AS los FROM ork WHERE rd >= 61),
      oqr AS (SELECT vec_id, list_transform(generate_series(1, 64), i ->
                -- list_position returns 0 (not NULL) on a miss
                CASE WHEN list_position(his, i) > 0
                     THEN 3 * q[i] + 4 * q[los[list_position(his, i)]]
                     WHEN list_position(los, i) > 0
                     THEN -4 * q[his[list_position(los, i)]] + 3 * q[i]
                     ELSE 5 * q[i] END) AS q
              FROM qn, ohi, olo),
      oqn AS (SELECT vec_id, q,
                CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT)
                  AS norm
              FROM oqr)"""

  /** DuckDB twin of [[pqRerankTop]]: the ADC shortlist at rnk ≤ 12
    * (same pqcodes/centroid tables and lowest-neighbor tiebreak as the
    * `q_knn_pq` twin — the dists are exact BIGINT, so the shortlist is
    * bit-identical across engines), then the exact cosine re-score of
    * ONLY the shortlisted pairs, re-ranked with the same
    * (cosine DESC, neighbor_id ASC) order the Spark window uses.
    * Leading comma: always appended to a preceding CTE block. */
  private lazy val rerankCtes: String = s""",
      rsd AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                ${pqDistSql("a")} AS dist
              FROM qn a, pqcodes b, $pqJoinTables
              WHERE ${pqJoinCond("b")}
                AND a.vec_id < 50 AND a.vec_id <> b.vec_id),
      rss AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS rnk
              FROM rsd),
      rsl AS (SELECT query_id, neighbor_id FROM rss WHERE rnk <= 12),
      rex AS (SELECT s.query_id, s.neighbor_id, a.q AS qa, b.q AS qb2,
                a.norm AS na, b.norm AS nb
              FROM rsl s JOIN qn a ON a.vec_id = s.query_id
                         JOIN qn b ON b.vec_id = s.neighbor_id),
      rco AS (SELECT query_id, neighbor_id,
                round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
              FROM rex),
      rrk AS (SELECT query_id, neighbor_id, cosine,
                CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rnk
              FROM rco)"""

  /** DuckDB twin of the PQ pipeline ([[pqSeeds]] seed assignment → one
    * truncating-integer refinement → scan-side encoding): same seed
    * literals, the same fall-through argmin rendered over the seed
    * distance columns, the same BIGINT `//` centroid update (DuckDB and
    * Scala Long division both truncate toward zero), seed fallback for
    * empty cells, and encoding via row_number (dist ASC, code ASC) —
    * provably the same lowest-code-tiebreak argmin as the Spark CASE. */
  private lazy val pqCtes: String = pqCtesOn("qn", "pq")

  /** Parameterized renderer of the PQ train/encode CTE chain: `src` is
    * any CTE exposing (vec_id, q BIGINT[]) — `qn` for the raw-vector
    * indexes, the residual frame for [[ivfPqResTop]]'s twin — and `p`
    * prefixes every CTE name so two trainings can coexist in one
    * query. */
  private def pqCtesOn(src: String, p: String,
      seedScale: Long = 1L): String = {
    val seeds = pqSeeds.map(_.map(_.map(_.toLong * seedScale)))
    def dotSub(g: Int, c: Seq[Long]): String = {
      val w = c.mkString("[", ",", "]")
      s"CAST(list_sum(list_transform(generate_series(1, $pqSub), i -> q[i + ${pqSub * g}] * ($w)[i])) AS BIGINT)"
    }
    // Seed distances per subspace land in one LIST and the argmin is
    // list_position(d, list_min(d)) − 1 — first occurrence of the
    // minimum, the same lowest-code tiebreak as the Spark
    // array_position form and the refined-encoding row_number below.
    val aCols = (0 until pqM).map { g =>
      val ds = seeds(g).map(c => s"${pqNormSq(c)} - 2 * ${dotSub(g, c)}")
        .mkString("[", ",\n            ", "]")
      s"list_position($ds, list_min($ds)) - 1 AS a$g"
    }.mkString(",\n          ")
    val perG = (0 until pqM).map { g =>
      val sums = (1 to pqSub).map(i =>
        s"CAST(sum(q[${pqSub * g} + $i]) AS BIGINT) AS s$i").mkString(", ")
      val seedRows = seeds(g).zipWithIndex.map { case (c, k) =>
        s"($k, CAST(${c.mkString("[", ",", "]")} AS BIGINT[]))"
      }.mkString(", ")
      val refined = (1 to pqSub).map(i => s"t.s$i // t.n").mkString("[", ", ", "]")
      s"""
      ${p}t$g AS (SELECT a$g AS cl, count(*) AS n, $sums
                FROM $src JOIN ${p}a USING (vec_id) GROUP BY 1),
      ${p}s$g AS (SELECT * FROM (VALUES $seedRows) AS t(cl, sc)),
      ${p}c$g AS (SELECT sd.cl,
                  CASE WHEN t.n IS NULL THEN sd.sc ELSE $refined END AS c
                FROM ${p}s$g sd LEFT JOIN ${p}t$g t ON sd.cl = t.cl),
      ${p}e$g AS (SELECT vec_id, cl AS code$g FROM (
          SELECT $src.vec_id, cb.cl,
                 row_number() OVER (PARTITION BY $src.vec_id ORDER BY
                   CAST(list_sum(list_transform(generate_series(1, $pqSub),
                     i -> ($src.q[i + ${pqSub * g}] - cb.c[i]) * ($src.q[i + ${pqSub * g}] - cb.c[i]))) AS BIGINT) ASC,
                   cb.cl ASC) AS rn
          FROM $src, ${p}c$g cb) WHERE rn = 1)"""
    }.mkString(",")
    val codeJoins = (1 until pqM).map(g => s"JOIN ${p}e$g p$g USING (vec_id)")
      .mkString("\n                       ")
    val codeCols = (0 until pqM).map(g => s"p$g.code$g").mkString(", ")
    s"""
      ${p}a AS (SELECT vec_id,
          $aCols
        FROM $src),$perG,
      ${p}codes AS (SELECT p0.vec_id, $codeCols
                  FROM ${p}e0 p0 $codeJoins)"""
  }

  /** The m centroid-table joins every PQ oracle repeats. */
  private lazy val pqJoinTables: String = pqJoinTablesOn("pq")
  private def pqJoinTablesOn(p: String): String =
    (0 until pqM).map(g => s"${p}c$g c$g").mkString(", ")
  private def pqJoinCond(bref: String): String =
    (0 until pqM).map(g => s"c$g.cl = $bref.code$g").mkString(" AND ")

  /** ADC pair distance, directly from the neighbor's m joined centroid
    * rows (`c0..c15` in scope): Σ_g |q_g − c_g|² in exact BIGINT —
    * arithmetically identical to the Spark LUT lookups. `qelem(g)` is
    * the query's i-th element of subspace g (`i` bound by the
    * list_transform) — the raw `a.q[…]` for the plain indexes, the
    * probe-cell residual for [[ivfPqResTop]]'s twin. */
  private def pqDistSqlOn(qelem: Int => String): String =
    "CAST(" + (0 until pqM).map(g =>
      s"list_sum(list_transform(generate_series(1, $pqSub), i -> (${qelem(g)} - c$g.c[i]) * (${qelem(g)} - c$g.c[i])))")
      .mkString(" + ") + " AS BIGINT)"
  private def pqDistSql(qref: String): String =
    pqDistSqlOn(g => s"$qref.q[i + ${pqSub * g}]")

  /** Residual-PQ twin CTEs: the trained coarse centroids as the SAME
    * truncating BIGINT division [[ivfCellsAndCentroids]] performs
    * (DuckDB `//` truncates toward zero on BIGINT, verified), the
    * per-vector residual frame, and the full PQ train/encode chain
    * over it under the `rpq` prefix. */
  private lazy val resPqCtes: String = s"""
      ivcent AS (SELECT ivm.k AS cluster,
                   list_transform(generate_series(1, 64), i -> sv[i] // n) AS c
                 FROM ivc JOIN ivm ON ivc.cluster = ivm.cluster),
      rres AS (SELECT v.vec_id,
                 list_transform(generate_series(1, 64), i -> v.q[i] - ct.c[i]) AS q
               FROM ivcell v JOIN ivcent ct ON v.cell = ct.cluster),""" +
    pqCtesOn("rres", "rpq")

  /** The residual ADC distance: query element = q − c_probe, where the
    * probe centroid row `ct` is joined on the NEIGHBOR's cell (the
    * matched probe under the `v.cell IN (a.cell, a.cell2)`
    * candidate condition — exactly the Spark side's
    * `$centsLit[probe]`). */
  private def resPqDistSql(qref: String): String =
    pqDistSqlOn(g => s"($qref.q[i + ${pqSub * g}] - ct.c[i + ${pqSub * g}])")

  /** DuckDB twin of [[sq8Codes]]: same per-dimension min/max stats over
    * the quantized corpus and the same all-BIGINT `(q−mn)*255 // (mx−mn)`
    * quantization — DuckDB's `//` on BIGINT operands is exact integer
    * floor division (numerator ≥ 0 here, so floor == Spark's truncating
    * `div`); the DECIMAL `//` double-backing trap (Aggregates.scala HLL
    * lesson) never arises because no DECIMAL appears. */
  private lazy val sq8Cte = """
      dims AS (SELECT unnest(generate_series(1, 64)) AS i),
      st AS (SELECT i, min(q[i]) AS mn, max(q[i]) AS mx FROM qn, dims GROUP BY i),
      stats AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM st),
      codes AS (SELECT vec_id,
          list_transform(generate_series(1, len(q)),
            i -> CASE WHEN mxs[i] = mns[i] THEN CAST(0 AS BIGINT)
                      ELSE (q[i] - mns[i]) * 255 // (mxs[i] - mns[i]) END) AS c
        FROM qn, stats)"""

  /** Symmetric SQ8 L2²: twin of `dot_long(diff, diff)` over the
    * zip_with code difference. */
  private lazy val sq8Dist =
    "CAST(list_sum(list_transform(generate_series(1, len(ca)), i -> (ca[i] - cb[i]) * (ca[i] - cb[i]))) AS BIGINT)"

  /** Asymmetric (ADC) 255²-scaled L2²: twin of [[sq8AdcTop]]'s
    * `(q[i]−mn[i])·255 − c[i]·(mx[i]−mn[i])` squared-sum — all-BIGINT,
    * `stats` (mns/mxs lists) in scope from [[sq8Cte]]. */
  private lazy val adcDist =
    "CAST(list_sum(list_transform(generate_series(1, len(b.c)), i -> " +
      "((a.q[i] - mns[i]) * 255 - b.c[i] * (mxs[i] - mns[i])) * " +
      "((a.q[i] - mns[i]) * 255 - b.c[i] * (mxs[i] - mns[i])))) AS BIGINT)"

  /** DuckDB twin of [[ivfCells]]: seed assignment from
    * [[Clustering.assignCtes]] (`iva`), per-cell (n, Σv, |Σv|²) in
    * HUGEINT, then the same cross-multiplied divisionless argmin.
    *
    * The twin renders m from the SAME training rows the Spark side
    * trains on (ADVICE r8 / VERDICT r9 #5): only non-empty seed
    * cells produce `ivc` rows, `ivm` re-indexes them 0..m−1 in
    * ascending seed order (identity on a non-degenerate corpus —
    * exactly [[ivfCellsAndCentroids]]' `present.sorted.zipWithIndex`),
    * and the argmin is the pairwise zero-losses form: cell k wins
    * when NO cell j is strictly closer under the cross-multiplied
    * comparison, lowest re-indexed id among ties (`min(k)` over the
    * losses = 0 set ≡ the Spark fall-through CASE's first-true arm —
    * both are the lowest-index global minimum). cell2 repeats the
    * election with the winner excluded; with m = 1 the exclusion
    * leaves no candidates and cell2 degrades to cell, matching the
    * Spark `m == 1 → lit(0)` arm. The oracle-twinned-guard contract
    * therefore holds on degenerate corpora too, not just when all 4
    * seed cells are inhabited. */
  private[llm] lazy val ivfCte = ivfCteOn("qn")

  /** Full twin prefix of the persisted-IVF index — quantized corpus
    * (qe/qn), seed assignment, trained cells — ending at `ivcell`.
    * Exposed for cross-package twins: q_rrf_fusion's production dense
    * leg (ops/TextOps.scala) ranks against this index, so its oracle
    * must render the same trained cells. */
  private[graft] lazy val ivfIndexCtes: String =
    Dedup.QE + "," + Clustering.assignCtes + "," + ivfCte

  /** [[ivfCte]] with the ASSIGNMENT source parameterized: training
    * always reads `iva` (the seed-centroid assignment the enclosing
    * query renders — over the full corpus or, for the incremental
    * ingest twin, the standing subset), while `applySrc` is the set of
    * vectors assigned to the trained cells (`ivcell`). */
  private[llm] def ivfCteOn(applySrc: String): String =
    ivfCtePrefixed("iv", "iva", applySrc)

  /** [[ivfCteOn]] with every CTE name prefixed and the TRAINING source
    * parameterized too — lets a second trained quantizer (the
    * rebalance row's within-cell sub-split) coexist in one twin
    * without name collisions. Emits `${pfx}cell`. */
  private[llm] def ivfCtePrefixed(pfx: String, trainSrc: String,
      applySrc: String): String = s"""
      ${pfx}n AS (SELECT cluster, count(*) AS n FROM $trainSrc GROUP BY 1),
      ${pfx}s AS (SELECT cluster, i, CAST(sum(q[i]) AS BIGINT) AS si
              FROM $trainSrc, UNNEST(generate_series(1, 64)) AS u(i)
              GROUP BY 1, 2),
      ${pfx}v AS (SELECT cluster, list(si ORDER BY i) AS sv FROM ${pfx}s GROUP BY 1),
      ${pfx}m AS (SELECT cluster,
                CAST(dense_rank() OVER (ORDER BY cluster) - 1 AS INTEGER) AS k
              FROM ${pfx}n),
      ${pfx}c AS (SELECT ${pfx}n.cluster, ${pfx}n.n, ${pfx}v.sv,
                CAST(list_sum(list_transform(generate_series(1, 64),
                  i -> CAST(sv[i] AS HUGEINT) * sv[i])) AS HUGEINT) AS s2
              FROM ${pfx}n JOIN ${pfx}v ON ${pfx}n.cluster = ${pfx}v.cluster),
      ${pfx}u AS (SELECT qs.vec_id, ${pfx}m.k, CAST(${pfx}c.n AS HUGEINT) AS n,
                ${pfx}c.s2 - 2 * ${pfx}c.n * CAST(list_sum(list_transform(
                  generate_series(1, 64), i -> qs.q[i] * ${pfx}c.sv[i])) AS HUGEINT) AS u
              FROM $applySrc qs, ${pfx}c JOIN ${pfx}m ON ${pfx}c.cluster = ${pfx}m.cluster),
      ${pfx}lose AS (SELECT a.vec_id, a.k,
                   count(CASE WHEN a.n * a.n * b.u < b.n * b.n * a.u THEN 1 END) AS losses
                 FROM ${pfx}u a JOIN ${pfx}u b ON a.vec_id = b.vec_id
                 GROUP BY a.vec_id, a.k),
      ${pfx}cp AS (SELECT vec_id, min(k) AS cell FROM ${pfx}lose
               WHERE losses = 0 GROUP BY vec_id),
      ${pfx}lose2 AS (SELECT a.vec_id, a.k,
                    count(CASE WHEN a.n * a.n * b.u < b.n * b.n * a.u THEN 1 END) AS losses
                  FROM ${pfx}u a JOIN ${pfx}cp c ON a.vec_id = c.vec_id AND a.k <> c.cell
                       JOIN ${pfx}u b ON a.vec_id = b.vec_id AND b.k <> c.cell
                  GROUP BY a.vec_id, a.k),
      ${pfx}sec AS (SELECT vec_id, min(k) AS cell2 FROM ${pfx}lose2
                WHERE losses = 0 GROUP BY vec_id),
      ${pfx}cell AS (SELECT qs.vec_id, qs.q, qs.norm, ${pfx}cp.cell,
                   coalesce(${pfx}sec.cell2, ${pfx}cp.cell) AS cell2
                 FROM $applySrc qs JOIN ${pfx}cp ON qs.vec_id = ${pfx}cp.vec_id
                      LEFT JOIN ${pfx}sec ON qs.vec_id = ${pfx}sec.vec_id)"""

  /** SQL renderer of the cross-multiplied closeness comparison over
    * pivoted (uₖ, nₖ) columns — still the [[Clustering]] two-step
    * twin's step-2 CASE (whose Spark side shares the fixed-K pivot by
    * construction); [[ivfCte]] itself now elects cells via the
    * m-agnostic zero-losses join above. */
  private[llm] def sqlCond(k: Int, j: Int): String =
    s"n$j * n$j * u$k <= n$k * n$k * u$j"

  /** Twin of the IVF probe condition: own cell, or the two nearest. */
  private def ivfProbeCond(multi: Boolean): String =
    if (multi) "b.cell IN (a.cell, a.cell2)" else "a.cell = b.cell"

  /** Shared CTE block of the filtered-ANN twins: the multiprobe pair
    * join with the neighbor's label re-attached from `qn` (ivcell does
    * not carry it), then BOTH strategies ranked — `fpre` filters the
    * predicate BEFORE its rank window, `fpost` ranks unfiltered to the
    * 4·k inflated budget, filters, and re-ranks in original order —
    * mirroring [[filteredTop]] stage for stage. */
  private lazy val filteredCtes: String =
    "WITH " + Dedup.QE + "," + Clustering.assignCtes + "," + ivfCte + s""",
      fpr AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                nl.label AS nlabel,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
              FROM ivcell a JOIN ivcell b
                ON b.cell IN (a.cell, a.cell2)
                AND a.vec_id < 50 AND a.vec_id <> b.vec_id
              JOIN qn nl ON nl.vec_id = b.vec_id),
      fcos AS (SELECT query_id, neighbor_id, nlabel,
                 round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
               FROM fpr),
      fpre0 AS (SELECT query_id, neighbor_id, cosine,
                  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rnk
                FROM fcos WHERE nlabel < 3),
      fpre AS (SELECT * FROM fpre0 WHERE rnk <= 3),
      fpost0 AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk0
                 FROM fcos),
      fpost1 AS (SELECT query_id, neighbor_id, cosine,
                   CAST(row_number() OVER (PARTITION BY query_id ORDER BY rnk0 ASC) AS INT) AS rnk
                 FROM fpost0 WHERE rnk0 <= 12 AND nlabel < 3),
      fpost AS (SELECT * FROM fpost1 WHERE rnk <= 3)"""

  /** Twin of the (K, nprobe) operating-point grid: ONE brute ranking
    * and one IVF ranking per nprobe; each grid row just re-filters the
    * shared `rnk` columns — mirroring the Spark plan's reused
    * subtrees. */
  private lazy val ivfRecallGridSql: String = {
    def approxCtes(np: Int): String = s""",
      ap$np AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                  a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
                FROM ivcell a JOIN ivcell b
                  ON ${ivfProbeCond(np == 2)} AND a.vec_id < 50 AND a.vec_id <> b.vec_id),
      acos$np AS (SELECT query_id, neighbor_id,
                    round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
                  FROM ap$np),
      ark$np AS (SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
                 FROM acos$np)"""
    def gridRow(k: Int, np: Int): String = s"""
      SELECT $k AS k, $np AS nprobe,
             count(*) AS n_true, count(a.neighbor_id) AS n_found,
             round(CAST(count(a.neighbor_id) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS recall
      FROM (SELECT query_id, neighbor_id FROM brk WHERE rnk <= $k) b
      LEFT JOIN (SELECT query_id, neighbor_id FROM ark$np WHERE rnk <= $k) a
        ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id"""
    "WITH " + Dedup.QE + "," + Clustering.assignCtes + "," + ivfCte + s""",
      bp AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
             FROM qn a JOIN qn b ON a.vec_id < 50 AND a.vec_id <> b.vec_id),
      bcos AS (SELECT query_id, neighbor_id,
                 round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
               FROM bp),
      brk AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
              FROM bcos)""" +
      approxCtes(1) + approxCtes(2) +
      Seq((3, 1), (3, 2), (10, 1), (10, 2)).map((gridRow _).tupled)
        .mkString("", " UNION ALL ", " ORDER BY k, nprobe")
  }

  /** Twin of the compressed-leg operating-point grid: ONE brute
    * ranking, one ADC ranking and one PQ ranking per nprobe; the 8
    * grid rows re-filter the shared `rnk` columns — mirroring the
    * Spark plan's reused subtrees. */
  private lazy val compressedGridSql: String = {
    def probeCond(np: Int): String =
      if (np == 2) "v.cell IN (a.cell, a.cell2)" else "v.cell = a.cell"
    def adcCtes(np: Int): String = s""",
      gad$np AS (SELECT a.vec_id AS query_id, v.vec_id AS neighbor_id,
                   $adcDist AS dist
                 FROM ivcell a, ivcell v, codes b, stats
                 WHERE v.vec_id = b.vec_id AND ${probeCond(np)}
                   AND a.vec_id < 50 AND a.vec_id <> v.vec_id),
      gadrk$np AS (SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS rnk
                   FROM gad$np)"""
    def pqGridCtes(np: Int): String = s""",
      gpq$np AS (SELECT a.vec_id AS query_id, v.vec_id AS neighbor_id,
                   ${pqDistSql("a")} AS dist
                 FROM ivcell a, ivcell v, pqcodes b, $pqJoinTables
                 WHERE b.vec_id = v.vec_id AND ${probeCond(np)}
                   AND ${pqJoinCond("b")}
                   AND a.vec_id < 50 AND a.vec_id <> v.vec_id),
      gpqrk$np AS (SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS rnk
                   FROM gpq$np)"""
    def gridRow(fam: String, pre: String, k: Int, np: Int): String = s"""
      SELECT '$fam' AS family, $k AS k, $np AS nprobe,
             count(*) AS n_true, count(a.neighbor_id) AS n_found,
             round(CAST(count(a.neighbor_id) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS recall
      FROM (SELECT query_id, neighbor_id FROM brk WHERE rnk <= $k) b
      LEFT JOIN (SELECT query_id, neighbor_id FROM ${pre}rk$np WHERE rnk <= $k) a
        ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id"""
    "WITH " + Dedup.QE + "," + Clustering.assignCtes + "," + ivfCte + "," +
      sq8Cte + "," + pqCtes + s""",
      bp AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
             FROM qn a JOIN qn b ON a.vec_id < 50 AND a.vec_id <> b.vec_id),
      bcos AS (SELECT query_id, neighbor_id,
                 round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
               FROM bp),
      brk AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
              FROM bcos)""" +
      adcCtes(1) + adcCtes(2) + pqGridCtes(1) + pqGridCtes(2) +
      (for {
        (fam, pre) <- Seq(("ivf_adc", "gad"), ("ivf_pq", "gpq"))
        k <- Seq(3, 10); np <- Seq(1, 2)
      } yield gridRow(fam, pre, k, np))
        .mkString("", " UNION ALL ", " ORDER BY family, k, nprobe")
  }

  /** DuckDB twin of [[ndcgOf]], parameterized by the approximate leg:
    * `extraCtes` supplies the leg's index CTEs and `arkCtes` its rank
    * chain ending in `ark(query_id, neighbor_id, rnk)` — cosine legs
    * rank DESC on cosine, compressed legs ASC on code distance. Truth,
    * grading, discounts, and the idcg/dcg join are shared verbatim. */
  private def ndcgSqlRanked(extraCtes: String, arkCtes: String): String =
    "WITH " + Dedup.QE + "," + extraCtes + s""",
      bp AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
             FROM qn a JOIN qn b ON a.vec_id < 50 AND a.vec_id <> b.vec_id),
      bcos AS (SELECT query_id, neighbor_id,
                 round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
               FROM bp),
      brk AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
              FROM bcos),
      truth AS (SELECT query_id, neighbor_id, 4 - rnk AS grade, rnk
                FROM brk WHERE rnk <= 3),
      idcg AS (SELECT query_id,
                 sum(CAST(round(CAST(grade AS DOUBLE) /
                   log2(CAST(rnk + 1 AS DOUBLE)), 6) AS DECIMAL(38,6))) AS idcg
               FROM truth GROUP BY 1),
      $arkCtes,
      topk AS (SELECT query_id, neighbor_id, rnk AS pos FROM ark WHERE rnk <= 3),
      g AS (SELECT topk.query_id, coalesce(t.grade, 0) AS grade, pos
            FROM topk LEFT JOIN truth t
              ON topk.query_id = t.query_id AND topk.neighbor_id = t.neighbor_id),
      dcg AS (SELECT query_id,
                sum(CAST(round(CAST(grade AS DOUBLE) /
                  log2(CAST(pos + 1 AS DOUBLE)), 6) AS DECIMAL(38,6))) AS dcg
              FROM g GROUP BY 1)
      SELECT i.query_id,
             CAST(coalesce(d.dcg, 0) AS DOUBLE) AS dcg,
             CAST(i.idcg AS DOUBLE) AS idcg,
             round(CAST(coalesce(d.dcg, 0) AS DOUBLE) / CAST(i.idcg AS DOUBLE), 4) AS ndcg
      FROM idcg i LEFT JOIN dcg d ON i.query_id = d.query_id
      ORDER BY i.query_id"""

  /** MRR twin over a cosine-ranked leg — the ndcgSql skeleton with
    * the graded sums replaced by the first-hit minimum; all casts
    * explicit so 1/rank divides as DOUBLE in both engines (a bare
    * 1.0 literal is DECIMAL(2,1) in DuckDB). */
  private def mrrSql(extraCtes: String, apSelect: String): String =
    "WITH " + Dedup.QE + "," + extraCtes + s""",
      bp AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
             FROM qn a JOIN qn b ON a.vec_id < 50 AND a.vec_id <> b.vec_id),
      bcos AS (SELECT query_id, neighbor_id,
                 round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
               FROM bp),
      brk AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
              FROM bcos),
      truthq AS (SELECT query_id, neighbor_id FROM brk WHERE rnk <= 3),
      ap AS ($apSelect),
      acos AS (SELECT query_id, neighbor_id,
                 round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
               FROM ap),
      ark AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
              FROM acos),
      hits AS (SELECT a.query_id, CAST(min(a.rnk) AS INT) AS first_hit_rank
               FROM (SELECT query_id, neighbor_id, rnk FROM ark WHERE rnk <= 3) a
               JOIN truthq t ON a.query_id = t.query_id
                 AND a.neighbor_id = t.neighbor_id
               GROUP BY a.query_id),
      qs AS (SELECT DISTINCT query_id FROM truthq)
      SELECT qs.query_id, h.first_hit_rank,
             CAST(coalesce(round(CAST(1.0 AS DOUBLE) /
               CAST(h.first_hit_rank AS DOUBLE), 4), 0.0) AS DOUBLE) AS rr
      FROM qs LEFT JOIN hits h USING (query_id) ORDER BY qs.query_id"""

  /** Cosine-ranked convenience form of [[ndcgSqlRanked]]: the leg
    * supplies only its candidate-pair SELECT (aliases qa/qb2/na/nb). */
  private def ndcgSql(extraCtes: String, apSelect: String): String =
    ndcgSqlRanked(extraCtes, s"""ap AS ($apSelect),
      acos AS (SELECT query_id, neighbor_id,
                 round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
               FROM ap),
      ark AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
              FROM acos)""")

  private def ivfSql(multi: Boolean): String =
    "WITH " + Dedup.QE + "," + Clustering.assignCtes + "," + ivfCte + s""",
      pairs AS (SELECT a.vec_id AS query_id, a.cell, b.vec_id AS neighbor_id,
                  a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
                FROM ivcell a JOIN ivcell b
                  ON ${ivfProbeCond(multi)} AND a.vec_id < 50 AND a.vec_id <> b.vec_id),
      cos AS (SELECT query_id, cell, neighbor_id,
                round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
              FROM pairs),
      rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rnk
             FROM cos)
      SELECT query_id, cell, rnk, neighbor_id, cosine FROM rk WHERE rnk <= 3
      ORDER BY query_id, rnk"""

  /** Oracle CTE chain for the two-stage rerank's CANDIDATE stage:
    * renders `cand` = (query_id, doc_id), the nprobe-2 trained-IVF
    * top-`k` per panel query (vec_id % 61 = 0 AND vec_id < 3050 — the
    * MaxSim evaluation panel). Prepend [[Dedup.QE]]; the caller's
    * rerank tail joins `cand` against its own scoring CTEs. Twin of
    * [[ivfCandidatesWhere]] with the same ranking arithmetic as
    * [[ivfSql]]. */
  private[graft] def ivfCandCtes(k: Int): String =
    Clustering.assignCtes + "," + ivfCte + s""",
      cpair AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                  a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
                FROM ivcell a JOIN ivcell b
                  ON b.cell IN (a.cell, a.cell2)
                 AND a.vec_id % 61 = 0 AND a.vec_id < 3050
                 AND a.vec_id <> b.vec_id),
      ccos AS (SELECT query_id, neighbor_id,
                 round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
               FROM cpair),
      cand AS (SELECT query_id, neighbor_id AS doc_id FROM (
                 SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, neighbor_id ASC) AS rnk
                 FROM ccos) WHERE rnk <= $k)"""

  /** DuckDB twin of the k-NN graph: [[ivfSql]]'s multiprobe pair join
    * with the query-batch filter dropped — every node is a query.
    * Split as CTEs + select so the mutual-graph twin can extend it. */
  private lazy val knnGraphCtes =
    "WITH " + Dedup.QE + "," + Clustering.assignCtes + "," + ivfCte + s""",
      pairs AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                  a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
                FROM ivcell a JOIN ivcell b
                  ON b.cell IN (a.cell, a.cell2) AND a.vec_id <> b.vec_id),
      cos AS (SELECT vec_id, neighbor_id,
                round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
              FROM pairs),
      rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rnk
             FROM cos)"""

  /** Add-only ingest twin: delta probes the standing cells for its
    * edges; the rebuild flag joins the full-probe top-3. */
  private lazy val knnGraphIngestSql =
    "WITH " + Dedup.QE + "," + Clustering.assignCtes + "," + ivfCte + s""",
      gdl AS (SELECT * FROM ivcell WHERE vec_id % 10 = 7),
      gst AS (SELECT * FROM ivcell WHERE vec_id % 10 <> 7),
      gip AS (SELECT a.vec_id, b.vec_id AS neighbor_id,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
              FROM gdl a JOIN gst b
                ON b.cell IN (a.cell, a.cell2) AND a.vec_id <> b.vec_id),
      gic AS (SELECT vec_id, neighbor_id,
                round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
              FROM gip),
      gie AS (SELECT vec_id, rnk, neighbor_id, cosine FROM (
                SELECT *, CAST(row_number() OVER (PARTITION BY vec_id
                  ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rnk
                FROM gic) WHERE rnk <= 3),
      gfp AS (SELECT a.vec_id, b.vec_id AS neighbor_id,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
              FROM gdl a JOIN ivcell b
                ON b.cell IN (a.cell, a.cell2) AND a.vec_id <> b.vec_id),
      gfc AS (SELECT vec_id, neighbor_id,
                round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
              FROM gfp),
      gfe AS (SELECT vec_id, neighbor_id FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                  ORDER BY cosine DESC, neighbor_id ASC) AS rnk
                FROM gfc) WHERE rnk <= 3)
      SELECT gie.vec_id, gie.rnk, gie.neighbor_id, gie.cosine,
             CAST(CASE WHEN gfe.neighbor_id IS NULL THEN 0 ELSE 1 END AS INT)
               AS in_rebuild
      FROM gie LEFT JOIN gfe
        ON gie.vec_id = gfe.vec_id AND gie.neighbor_id = gfe.neighbor_id
      ORDER BY gie.vec_id, gie.rnk"""

  private lazy val knnGraphSql = knnGraphCtes + s"""
      SELECT vec_id, rnk, neighbor_id, cosine FROM rk WHERE rnk <= 3
      ORDER BY vec_id, rnk"""

  /** Mutual-graph twin: the reciprocal-edge filter over the same
    * ranked CTEs, each mutual pair reported once (low id first). */
  private lazy val knnGraphMutualSql = knnGraphCtes + s""",
      edges AS (SELECT vec_id, neighbor_id, cosine FROM rk WHERE rnk <= 3)
      SELECT a.vec_id, a.neighbor_id, a.cosine
      FROM edges a JOIN edges b
        ON a.vec_id = b.neighbor_id AND a.neighbor_id = b.vec_id
      WHERE a.vec_id < a.neighbor_id
      ORDER BY a.vec_id, a.neighbor_id"""

  /** LPA twin: same symmetrized edges, two unrolled mode-label rounds
    * with the identical (count DESC, label ASC) tie-break. */
  private lazy val graphCommunitiesSql = knnGraphCtes + s""",
      ged AS (SELECT vec_id, neighbor_id FROM rk WHERE rnk <= 3),
      sym AS (SELECT DISTINCT vec_id, neighbor_id FROM
                (SELECT vec_id, neighbor_id FROM ged
                 UNION ALL
                 SELECT neighbor_id AS vec_id, vec_id AS neighbor_id FROM ged)),
      l0 AS (SELECT vec_id, vec_id AS lbl FROM qn),
      r1c AS (SELECT s.vec_id, l.lbl, count(*) AS c
              FROM sym s JOIN l0 l ON s.neighbor_id = l.vec_id
              GROUP BY s.vec_id, l.lbl),
      r1w AS (SELECT vec_id, lbl FROM
                (SELECT *, row_number() OVER
                   (PARTITION BY vec_id ORDER BY c DESC, lbl ASC) AS rn
                 FROM r1c) WHERE rn = 1),
      l1 AS (SELECT l.vec_id, coalesce(w.lbl, l.lbl) AS lbl
             FROM l0 l LEFT JOIN r1w w ON l.vec_id = w.vec_id),
      r2c AS (SELECT s.vec_id, l.lbl, count(*) AS c
              FROM sym s JOIN l1 l ON s.neighbor_id = l.vec_id
              GROUP BY s.vec_id, l.lbl),
      r2w AS (SELECT vec_id, lbl FROM
                (SELECT *, row_number() OVER
                   (PARTITION BY vec_id ORDER BY c DESC, lbl ASC) AS rn
                 FROM r2c) WHERE rn = 1),
      l2 AS (SELECT l.vec_id, coalesce(w.lbl, l.lbl) AS lbl
             FROM l1 l LEFT JOIN r2w w ON l.vec_id = w.vec_id)
      SELECT vec_id, lbl AS community FROM l2 ORDER BY vec_id"""

  /** Graph recall twin: brute and IVF graphs restricted to the same
    * bounded node panel, per-node recall@3. */
  private lazy val knnGraphRecallSql =
    "WITH " + Dedup.QE + "," + Clustering.assignCtes + "," + ivfCte + s""",
      bp AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
             FROM qn a JOIN qn b
               ON a.vec_id % 5 = 0 AND a.vec_id < 1000 AND a.vec_id <> b.vec_id),
      bcos AS (SELECT query_id, neighbor_id,
                 round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
               FROM bp),
      brk AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
              FROM bcos),
      brute AS (SELECT query_id, neighbor_id FROM brk WHERE rnk <= 3),
      ap AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
             FROM ivcell a JOIN ivcell b
               ON b.cell IN (a.cell, a.cell2) AND a.vec_id % 5 = 0
                  AND a.vec_id < 1000 AND a.vec_id <> b.vec_id),
      acos AS (SELECT query_id, neighbor_id,
                 round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
               FROM ap),
      ark AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
              FROM acos),
      ivf AS (SELECT query_id, neighbor_id FROM ark WHERE rnk <= 3)
      SELECT b.query_id,
             round(CAST(count(a.neighbor_id) AS DOUBLE) / 3.0, 4) AS recall_at_3
      FROM brute b LEFT JOIN ivf a
        ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
      GROUP BY b.query_id ORDER BY b.query_id"""

  /** Beam-search twin: the ranked-graph CTEs, then the identical
    * entry → expand → score → beam → … → rerank walk in SQL, one CTE
    * triple (expand / score / beam) generated per hop — the same
    * unrolling loop the Spark side runs, so the two walks agree by
    * construction. */
  private def graphSearchWalkCtes(beam: Int, hops: Int, deg: Int): String = {
    val sb = new StringBuilder
    sb ++= s""",
      g AS (SELECT vec_id AS src, neighbor_id AS dst FROM rk WHERE rnk <= $deg),
      qp AS (SELECT vec_id AS query_id, cell AS qcell, q AS qa, norm AS na
             FROM ivcell WHERE vec_id % 5 = 0 AND vec_id < 1000),
      sd AS (SELECT cell, min(vec_id) AS cand FROM ivcell GROUP BY cell),
      f0 AS (SELECT query_id, qa, na, cand FROM qp JOIN sd ON qp.qcell = sd.cell)"""
    for (h <- 1 to hops) {
      sb ++= s""",
      e$h AS (SELECT DISTINCT query_id, qa, na, dst AS cand
              FROM f${h - 1} JOIN g ON f${h - 1}.cand = g.src),
      s$h AS (SELECT query_id, qa, na, e$h.cand AS cand,
                round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
              FROM e$h JOIN (SELECT vec_id, q AS qb2, norm AS nb FROM qn) b
                ON e$h.cand = b.vec_id),
      f$h AS (SELECT query_id, qa, na, cand FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, cand ASC) AS rn FROM s$h) WHERE rn <= $beam)"""
    }
    val unions = (1 to hops).map(h => s"SELECT * FROM e$h").mkString(" UNION ALL ")
    sb ++= s""",
      vis AS (SELECT DISTINCT query_id, qa, na, cand FROM (
                SELECT * FROM f0 UNION ALL $unions)),
      fs AS (SELECT query_id, vis.cand AS cand,
               round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
             FROM vis JOIN (SELECT vec_id, q AS qb2, norm AS nb FROM qn) b
               ON vis.cand = b.vec_id
             WHERE vis.cand <> vis.query_id),
      frk AS (SELECT query_id, cand AS neighbor_id, cosine,
                CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, cand ASC) AS INT) AS rnk
              FROM fs)"""
    sb.toString
  }

  /** Prefix-parameterized beam-walk CTE generator (the hnsw twin runs
    * TWO walks in one statement): frontier CTE `${p}f0` must exist;
    * emits `${p}e$h`/`${p}s$h`/`${p}f$h` per hop and the deduped
    * visited set `${p}vis`. */
  private def prefixedWalkCtes(p: String, graphCte: String,
      hops: Int, beam: Int): String = {
    val sb = new StringBuilder
    for (h <- 1 to hops) {
      sb ++= s""",
      ${p}e$h AS (SELECT DISTINCT query_id, qa, na, dst AS cand
              FROM ${p}f${h - 1} JOIN $graphCte
                ON ${p}f${h - 1}.cand = $graphCte.src),
      ${p}s$h AS (SELECT query_id, qa, na, ${p}e$h.cand AS cand,
                round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
              FROM ${p}e$h JOIN (SELECT vec_id, q AS qb2, norm AS nb FROM qn) b
                ON ${p}e$h.cand = b.vec_id),
      ${p}f$h AS (SELECT query_id, qa, na, cand FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, cand ASC) AS rn FROM ${p}s$h) WHERE rn <= $beam)"""
    }
    val unions = (1 to hops).map(h => s"SELECT * FROM ${p}e$h").mkString(" UNION ALL ")
    sb ++= s""",
      ${p}vis AS (SELECT DISTINCT query_id, qa, na, cand FROM (
                SELECT * FROM ${p}f0 UNION ALL $unions))"""
    sb.toString
  }

  /** Hierarchical twin: upper-layer graph over the 1-in-8 subset
    * (degree 4), global-entry descent (2 hops, beam 4) to a per-query
    * entry, then the layer-0 walk (5 hops, beam 8) and exact rerank. */
  private lazy val knnHnswCtes = knnGraphCtes + s""",
      g AS (SELECT vec_id AS src, neighbor_id AS dst FROM rk WHERE rnk <= 8),
      hup AS (SELECT * FROM ivcell WHERE vec_id % 8 = 0),
      hpr AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
              FROM hup a JOIN hup b
                ON b.cell IN (a.cell, a.cell2) AND a.vec_id <> b.vec_id),
      hcs AS (SELECT vec_id, neighbor_id,
                round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
              FROM hpr),
      hrk AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY cosine DESC, neighbor_id ASC) AS rnk
              FROM hcs),
      g1 AS (SELECT vec_id AS src, neighbor_id AS dst FROM hrk WHERE rnk <= 4),
      hqp AS (SELECT vec_id AS query_id, q AS qa, norm AS na
              FROM qn WHERE vec_id % 5 = 0 AND vec_id < 1000),
      uf0 AS (SELECT query_id, qa, na, cand
              FROM hqp, (SELECT min(vec_id) AS cand FROM hup))
      ${prefixedWalkCtes("u", "g1", hops = 2, beam = 4)},
      uet AS (SELECT query_id, qa, na, cand FROM (
                SELECT uvis.query_id, uvis.qa, uvis.na, uvis.cand,
                  row_number() OVER (PARTITION BY query_id ORDER BY
                    round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) DESC,
                    uvis.cand ASC) AS rn
                FROM uvis JOIN (SELECT vec_id, q AS qb2, norm AS nb FROM qn) b
                  ON uvis.cand = b.vec_id) WHERE rn = 1),
      zf0 AS (SELECT query_id, qa, na, cand FROM uet)
      ${prefixedWalkCtes("z", "g", hops = 5, beam = 8)},
      zfs AS (SELECT query_id, zvis.cand AS cand,
               round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
             FROM zvis JOIN (SELECT vec_id, q AS qb2, norm AS nb FROM qn) b
               ON zvis.cand = b.vec_id
             WHERE zvis.cand <> zvis.query_id),
      zrk AS (SELECT query_id, cand AS neighbor_id, cosine,
                CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, cand ASC) AS INT) AS rnk
              FROM zfs)"""

  private lazy val knnHnswSql = knnHnswCtes + s"""
      SELECT query_id, rnk, neighbor_id, cosine FROM zrk WHERE rnk <= 3
      ORDER BY query_id, rnk"""

  private lazy val knnHnswRecallSql = knnHnswCtes + s""",
      hap AS (SELECT query_id, neighbor_id FROM zrk WHERE rnk <= 3),
      hbp AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
              FROM qn a JOIN qn b
                ON a.vec_id % 5 = 0 AND a.vec_id < 1000 AND a.vec_id <> b.vec_id),
      hbc AS (SELECT query_id, neighbor_id,
                round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
              FROM hbp),
      hbr AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
              FROM hbc),
      hbt AS (SELECT query_id, neighbor_id FROM hbr WHERE rnk <= 3)
      SELECT b.query_id,
             round(CAST(count(a.neighbor_id) AS DOUBLE) / 3.0, 4) AS recall_at_3
      FROM hbt b LEFT JOIN hap a
        ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
      GROUP BY b.query_id ORDER BY b.query_id"""

  private lazy val knnGraphSearchCtes =
    knnGraphCtes + graphSearchWalkCtes(beam = 8, hops = 5, deg = 8)

  private lazy val knnGraphSearchSql = knnGraphSearchCtes + s"""
      SELECT query_id, rnk, neighbor_id, cosine FROM frk WHERE rnk <= 3
      ORDER BY query_id, rnk"""

  /** Beam-search recall twin: the walk's top-3 vs the bounded-panel
    * exact graph truth. */
  private lazy val knnGraphSearchRecallSql = knnGraphSearchCtes + s""",
      ap2 AS (SELECT query_id, neighbor_id FROM frk WHERE rnk <= 3),
      bp2 AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
              FROM qn a JOIN qn b
                ON a.vec_id % 5 = 0 AND a.vec_id < 1000 AND a.vec_id <> b.vec_id),
      bcos2 AS (SELECT query_id, neighbor_id,
                  round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
                FROM bp2),
      brk2 AS (SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
               FROM bcos2),
      brute2 AS (SELECT query_id, neighbor_id FROM brk2 WHERE rnk <= 3)
      SELECT b.query_id,
             round(CAST(count(a.neighbor_id) AS DOUBLE) / 3.0, 4) AS recall_at_3
      FROM brute2 b LEFT JOIN ap2 a
        ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
      GROUP BY b.query_id ORDER BY b.query_id"""

  /** Sign-code CTE shared by the BQ twins. */
  private lazy val bqCte = """
      sg AS (SELECT vec_id,
               list_transform(q, x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS sg
             FROM qn)"""

  /** Matryoshka grid twin: one prefix-sliced ranking block per d, the
    * shared full-dim truth, four aggregate rows. */
  private lazy val mrlGridSql = {
    val blocks = Seq(8, 16, 32, 64).map { d => s"""
      sd$d AS (SELECT vec_id, q[1:$d] AS qd,
                 CAST(list_sum(list_transform(q[1:$d], x -> x * x)) AS BIGINT) AS nd
               FROM qn
               WHERE CAST(list_sum(list_transform(q[1:$d], x -> x * x)) AS BIGINT) > 0),
      ap$d AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 a.qd AS qa, b.qd AS qb2, a.nd AS na, b.nd AS nb
               FROM sd$d a JOIN sd$d b ON a.vec_id < 50 AND a.vec_id <> b.vec_id),
      ac$d AS (SELECT query_id, neighbor_id,
                 round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
               FROM ap$d),
      ar$d AS (SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
               FROM ac$d),
      at$d AS (SELECT query_id, neighbor_id FROM ar$d WHERE rnk <= 3)"""
    }.mkString(",")
    val rows = Seq(8, 16, 32, 64).map { d => s"""
      SELECT $d AS dims, count(*) AS n_true, count(a.neighbor_id) AS n_found,
             round(CAST(count(a.neighbor_id) AS DOUBLE) / count(*), 4) AS recall
      FROM brute b LEFT JOIN at$d a
        ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id"""
    }.mkString(" UNION ALL ")
    "WITH " + Dedup.QE + "," + bruteCtes + "," + blocks +
      s" SELECT * FROM ($rows) ORDER BY dims"
  }

  private def ivfRecallSql(multi: Boolean): String =
    "WITH " + Dedup.QE + "," + Clustering.assignCtes + "," + ivfCte + s""",
      bp AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
             FROM qn a JOIN qn b ON a.vec_id < 50 AND a.vec_id <> b.vec_id),
      bcos AS (SELECT query_id, neighbor_id,
                 round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
               FROM bp),
      brk AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
              FROM bcos),
      brute AS (SELECT query_id, neighbor_id FROM brk WHERE rnk <= 3),
      ap AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
             FROM ivcell a JOIN ivcell b
               ON ${ivfProbeCond(multi)} AND a.vec_id < 50 AND a.vec_id <> b.vec_id),
      acos AS (SELECT query_id, neighbor_id,
                 round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
               FROM ap),
      ark AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
              FROM acos),
      ivf AS (SELECT query_id, neighbor_id FROM ark WHERE rnk <= 3)
      SELECT b.query_id,
             round(CAST(count(a.neighbor_id) AS DOUBLE) / 3.0, 4) AS recall_at_3
      FROM brute b LEFT JOIN ivf a
        ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
      GROUP BY b.query_id ORDER BY b.query_id"""

  /** Incremental-ingest twin: the standing index trains on qnc (the
    * corpus minus the delta) via assignCtesOn("qnc"), ivfCteOn("qn")
    * assigns EVERY vector to those standing cells, and the before
    * ranking is the after ranking with delta candidates filtered out
    * — mirroring the Spark side's single assignment projection. */
  /** Index-staleness twin: train on the even half (assignCtesOn),
    * assign all (ivfCteOn), per-cell half counts, then the exact
    * micro-unit PSI arithmetic over the trained cell grid (ivm) with
    * the smoothing constant the data-derived cell count — the same
    * value the Spark side passes as parts.size. */
  private lazy val ivfDriftSql =
    "WITH " + Dedup.QE + s""",
      qnref AS (SELECT * FROM qn WHERE vec_id % 2 = 0),""" +
      Clustering.assignCtesOn("qnref") + "," + ivfCteOn("qn") + s""",
      dcnt AS (SELECT CAST(cell AS BIGINT) AS bin,
                 CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS c_ref,
                 CAST(sum(CASE WHEN vec_id % 2 <> 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS c_cur
               FROM ivcell GROUP BY 1),
      db AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM ivm),
      dg AS (SELECT CAST(k AS BIGINT) AS bin FROM ivm),
      dj AS (SELECT dg.bin, coalesce(dcnt.c_ref, 0) AS c_ref,
               coalesce(dcnt.c_cur, 0) AS c_cur
             FROM dg LEFT JOIN dcnt USING (bin)),
      dtot AS (SELECT CAST(sum(c_ref) AS BIGINT) AS n_ref,
                      CAST(sum(c_cur) AS BIGINT) AS n_cur FROM dj),
      dt AS (SELECT bin, c_ref, c_cur,
               ((c_ref + 1) * 1000000) // (n_ref + nb) AS p_ref_u,
               ((c_cur + 1) * 1000000) // (n_cur + nb) AS p_cur_u,
               CAST(round(ln((CAST(c_cur + 1 AS DOUBLE) *
                   CAST(n_ref + nb AS DOUBLE)) /
                 (CAST(c_ref + 1 AS DOUBLE) * CAST(n_cur + nb AS DOUBLE))),
                 6) AS DECIMAL(18,6)) AS lnr
             FROM dj CROSS JOIN dtot CROSS JOIN db),
      dtt AS (SELECT bin AS cell, c_ref, c_cur,
                CAST(p_cur_u - p_ref_u AS DECIMAL(18,0)) * lnr AS term
              FROM dt),
      dw AS (SELECT *, sum(term) OVER () AS psi_u FROM dtt)
      SELECT cell, c_ref, c_cur,
             CAST(round(CAST(term AS DOUBLE) / 1e6, 6) AS DOUBLE) AS psi_term,
             CAST(round(CAST(psi_u AS DOUBLE) / 1e6, 6) AS DOUBLE)
               AS psi_total,
             CASE WHEN psi_u < 100000 THEN 'stable'
                  WHEN psi_u < 250000 THEN 'moderate'
                  ELSE 'shifted' END AS verdict
      FROM dw ORDER BY cell"""

  /** Twin of [[q_index_persist]]: recomputes every persisted
    * artifact's census (n_rows + exact-integer checksum) from the
    * BASE TABLES — seed-training stats from `iva`, the trained
    * assignment from `ivcell`, both graph layers as ranked probe
    * joins, the PQ stats from the `pqt$g` training CTEs, and the
    * MaxSim score table from `mag`. A hash match against the Spark
    * side (which reads the LOADED parquet) proves the whole
    * train → write → publish → load loop is content-exact. */
  private lazy val indexPersistSql = {
    val pqTerms = (0 until pqM).map(g =>
      s"SELECT ($g * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM pqt$g")
      .mkString("\n            UNION ALL ")
    graft.ops.TextOps.bm25Ctes + graft.ops.TextOps.maxsimTail + "," +
      Dedup.QE + "," + Clustering.assignCtes + "," + ivfCte + "," +
      pqCtes + "," + resPqCtes + "," + opqCtes + "," +
      pqCtesOn("oqn", "opq", seedScale = 5L) + "," +
      TextAnalysis.trainShardsCtes + "," +
      Multimodal.zstdDictCtes + s""",
      ipg AS (SELECT a.vec_id, b.vec_id AS neighbor_id,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
              FROM ivcell a JOIN ivcell b
                ON b.cell IN (a.cell, a.cell2) AND a.vec_id <> b.vec_id),
      ipgc AS (SELECT vec_id, neighbor_id,
                 round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
               FROM ipg),
      ipgr AS (SELECT vec_id, neighbor_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
               FROM ipgc),
      ipu AS (SELECT a.vec_id, b.vec_id AS neighbor_id,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
              FROM ivcell a JOIN ivcell b
                ON b.cell IN (a.cell, a.cell2)
               AND a.vec_id % 8 = 0 AND b.vec_id % 8 = 0
               AND a.vec_id <> b.vec_id),
      ipuc AS (SELECT vec_id, neighbor_id,
                 round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
               FROM ipu),
      ipur AS (SELECT vec_id, neighbor_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
               FROM ipuc),
      ipjs AS (SELECT DISTINCT doc_id,
                 t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
               FROM (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents) tt,
               UNNEST(generate_series(1, greatest(len(t) - 2, 0)))
                 AS u(i)),
      ipji AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
               FROM ipjs a JOIN ipjs b
                 ON a.shingle = b.shingle AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
      ipjz AS (SELECT doc_id, count(*) AS n FROM ipjs GROUP BY 1),
      ipjp AS (SELECT d1, d2 FROM ipji
               JOIN ipjz s1 ON d1 = s1.doc_id
               JOIN ipjz s2 ON d2 = s2.doc_id
               WHERE CAST(inter AS DOUBLE) /
                     CAST(s1.n + s2.n - inter AS DOUBLE) >= 0.8),
      ipm AS (
        SELECT 'graph8' AS artifact, CAST(count(*) AS BIGINT) AS n_rows,
               coalesce(CAST(sum(vec_id * 31 + neighbor_id) AS BIGINT), 0)
                 AS checksum
        FROM ipgr WHERE rnk <= 8
        UNION ALL
        SELECT 'ivf_cells', CAST(count(*) AS BIGINT),
               coalesce(CAST(sum(vec_id * (cell + 1) + cell2 * 31 + norm)
                 AS BIGINT), 0)
        FROM ivcell
        UNION ALL
        SELECT 'ivf_stats', CAST(count(*) AS BIGINT),
               coalesce(CAST(sum((cluster + 1) * (n + svt)) AS BIGINT), 0)
        FROM (SELECT cluster, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(list_sum(q)) AS BIGINT) AS svt
              FROM iva GROUP BY 1)
        UNION ALL
        SELECT 'maxsim_scored', CAST(count(*) AS BIGINT),
               coalesce(CAST(sum(query_id * 31 + doc_id + n_qtok + score)
                 AS BIGINT), 0)
        FROM mag
        UNION ALL
        SELECT 'pq_stats', CAST(count(*) AS BIGINT),
               coalesce(CAST(sum(term) AS BIGINT), 0)
        FROM ($pqTerms)
        UNION ALL
        SELECT 'opq_pq_stats', CAST(count(*) AS BIGINT),
               coalesce(CAST(sum(term) AS BIGINT), 0)
        FROM (SELECT (0 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM opqt0 UNION ALL SELECT (1 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM opqt1 UNION ALL SELECT (2 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM opqt2 UNION ALL SELECT (3 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM opqt3 UNION ALL SELECT (4 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM opqt4 UNION ALL SELECT (5 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM opqt5 UNION ALL SELECT (6 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM opqt6 UNION ALL SELECT (7 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM opqt7 UNION ALL SELECT (8 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM opqt8 UNION ALL SELECT (9 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM opqt9 UNION ALL SELECT (10 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM opqt10 UNION ALL SELECT (11 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM opqt11 UNION ALL SELECT (12 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM opqt12 UNION ALL SELECT (13 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM opqt13 UNION ALL SELECT (14 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM opqt14 UNION ALL SELECT (15 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM opqt15)
        UNION ALL
        SELECT 'term_freqs', CAST(count(*) AS BIGINT),
               coalesce(CAST(sum(doc_id * 31 + tf * 7 + length(word))
                 AS BIGINT), 0)
        FROM tf
        UNION ALL
        SELECT 'jaccard_pairs', CAST(count(*) AS BIGINT),
               coalesce(CAST(sum(d1 * 31 + d2) AS BIGINT), 0)
        FROM ipjp
        UNION ALL
        SELECT 'train_shards', CAST(count(*) AS BIGINT),
               coalesce(CAST(sum((shard + 1) * (n_seqs * 31 + n_tokens)
                 + ascii(substr(shard_md5, 1, 1))) AS BIGINT), 0)
        FROM tsm
        UNION ALL
        SELECT 'opq_var', CAST(count(*) AS BIGINT),
               coalesce(CAST(sum(i * (n + s + s2)) AS BIGINT), 0)
        FROM (SELECT i, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(q[i]) AS BIGINT) AS s,
                     CAST(sum(q[i] * q[i]) AS BIGINT) AS s2
              FROM qn, UNNEST(generate_series(1, 64)) AS u(i) GROUP BY i)
        UNION ALL
        SELECT 'pq_res_stats', CAST(count(*) AS BIGINT),
               coalesce(CAST(sum(term) AS BIGINT), 0)
        FROM (SELECT (0 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM rpqt0 UNION ALL SELECT (1 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM rpqt1 UNION ALL SELECT (2 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM rpqt2 UNION ALL SELECT (3 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM rpqt3 UNION ALL SELECT (4 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM rpqt4 UNION ALL SELECT (5 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM rpqt5 UNION ALL SELECT (6 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM rpqt6 UNION ALL SELECT (7 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM rpqt7 UNION ALL SELECT (8 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM rpqt8 UNION ALL SELECT (9 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM rpqt9 UNION ALL SELECT (10 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM rpqt10 UNION ALL SELECT (11 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM rpqt11 UNION ALL SELECT (12 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM rpqt12 UNION ALL SELECT (13 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM rpqt13 UNION ALL SELECT (14 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM rpqt14 UNION ALL SELECT (15 * 16 + cl + 1) * (n + s1 + s2 + s3 + s4) AS term FROM rpqt15)
        UNION ALL
        SELECT 'sq8_stats', CAST(count(*) AS BIGINT),
               coalesce(CAST(sum(i * (mn + 2 * mx)) AS BIGINT), 0)
        FROM (SELECT i, CAST(min(q[i]) AS BIGINT) AS mn,
                     CAST(max(q[i]) AS BIGINT) AS mx
              FROM qn, UNNEST(generate_series(1, 64)) AS u(i) GROUP BY i)
        UNION ALL
        SELECT 'upper4', CAST(count(*) AS BIGINT),
               coalesce(CAST(sum(vec_id * 31 + neighbor_id) AS BIGINT), 0)
        FROM ipur WHERE rnk <= 4
        UNION ALL
        SELECT 'zstd_dict', 1,
               7002 + CAST(count(*) AS BIGINT) * 7
                 + coalesce(CAST(sum(octet_length(encode(gram))) AS BIGINT), 0) * 31
                 + ascii(substr(md5(string_agg(gram, ''
                     ORDER BY cnt ASC, gram ASC)), 1, 1))
        FROM ztop)
      SELECT artifact, n_rows, checksum FROM ipm ORDER BY artifact"""
  }

  /** Twin of [[q_index_staleness]]: reference = seed-cluster training
    * populations (`iva` counts mapped to re-indexed cells via `ivm`),
    * current = trained-cell assignment counts (`ivcell`), then the
    * identical PSI tail as [[ivfDriftSql]]. */
  private lazy val indexStalenessSql =
    "WITH " + Dedup.QE + "," + Clustering.assignCtes + "," + ivfCte + s""",
      stref AS (SELECT CAST(ivm.k AS BIGINT) AS bin,
                  CAST(count(*) AS BIGINT) AS c_ref
                FROM iva JOIN ivm ON iva.cluster = ivm.cluster GROUP BY 1),
      stcur AS (SELECT CAST(cell AS BIGINT) AS bin,
                  CAST(count(*) AS BIGINT) AS c_cur
                FROM ivcell GROUP BY 1),
      db AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM ivm),
      dg AS (SELECT CAST(k AS BIGINT) AS bin FROM ivm),
      dj AS (SELECT dg.bin, coalesce(stref.c_ref, 0) AS c_ref,
               coalesce(stcur.c_cur, 0) AS c_cur
             FROM dg LEFT JOIN stref USING (bin) LEFT JOIN stcur USING (bin)),
      dtot AS (SELECT CAST(sum(c_ref) AS BIGINT) AS n_ref,
                      CAST(sum(c_cur) AS BIGINT) AS n_cur FROM dj),
      dt AS (SELECT bin, c_ref, c_cur,
               ((c_ref + 1) * 1000000) // (n_ref + nb) AS p_ref_u,
               ((c_cur + 1) * 1000000) // (n_cur + nb) AS p_cur_u,
               CAST(round(ln((CAST(c_cur + 1 AS DOUBLE) *
                   CAST(n_ref + nb AS DOUBLE)) /
                 (CAST(c_ref + 1 AS DOUBLE) * CAST(n_cur + nb AS DOUBLE))),
                 6) AS DECIMAL(18,6)) AS lnr
             FROM dj CROSS JOIN dtot CROSS JOIN db),
      dtt AS (SELECT bin AS cell, c_ref, c_cur,
                CAST(p_cur_u - p_ref_u AS DECIMAL(18,0)) * lnr AS term
              FROM dt),
      dw AS (SELECT *, sum(term) OVER () AS psi_u FROM dtt)
      SELECT cell, c_ref, c_cur,
             CAST(round(CAST(term AS DOUBLE) / 1e6, 6) AS DOUBLE) AS psi_term,
             CAST(round(CAST(psi_u AS DOUBLE) / 1e6, 6) AS DOUBLE)
               AS psi_total,
             CASE WHEN psi_u < 100000 THEN 'stable'
                  WHEN psi_u < 250000 THEN 'moderate'
                  ELSE 'shifted' END AS verdict
      FROM dw ORDER BY cell"""

  /** Rebalance twin: the drift twin's half-trained standing cells,
    * the hot-cell election, a 2-seed sub-assignment (same literal
    * seed pair as the Spark side), and the prefixed refinement
    * template ([[ivfCtePrefixed]]) for the sub-split. */
  private lazy val ivfRebalanceSql = {
    def seedDot(k: Int) = {
      val w = Clustering.centroids(k).mkString("[", ",", "]")
      s"CAST(list_sum(list_transform(generate_series(1, 64), i -> q[i] * ($w)[i])) AS BIGINT)"
    }
    def seedNorm(k: Int) =
      Clustering.centroids(k).map(v => BigInt(v) * BigInt(v)).sum.toString
    "WITH " + Dedup.QE + s""",
      qnref AS (SELECT * FROM qn WHERE vec_id % 2 = 0),""" +
      Clustering.assignCtesOn("qnref") + "," + ivfCteOn("qn") + s""",
      hotc AS (SELECT cell FROM (
                 SELECT cell,
                   sum(CASE WHEN vec_id % 2 <> 0 THEN 1 ELSE 0 END) AS cur
                 FROM ivcell GROUP BY 1)
               ORDER BY cur DESC, cell ASC LIMIT 1),
      hm AS (SELECT vec_id, q, norm FROM ivcell
             WHERE cell = (SELECT cell FROM hotc)),
      sbd AS (SELECT vec_id, q, norm,
                norm - 2 * ${seedDot(0)} + ${seedNorm(0)} AS d0,
                norm - 2 * ${seedDot(1)} + ${seedNorm(1)} AS d1
              FROM hm),
      sba AS (SELECT vec_id, q, norm,
                CASE WHEN d0 <= d1 THEN 0 ELSE 1 END AS cluster
              FROM sbd),""" +
      ivfCtePrefixed("sb", "sba", "hm") + s""",
      unt AS (SELECT CAST(cell AS VARCHAR) AS cell_label,
                CAST(count(*) AS BIGINT) AS n_vectors, 0 AS split
              FROM ivcell WHERE cell <> (SELECT cell FROM hotc)
              GROUP BY cell),
      spl AS (SELECT CAST((SELECT cell FROM hotc) AS VARCHAR) || '.' ||
                  CAST(cell AS VARCHAR) AS cell_label,
                CAST(count(*) AS BIGINT) AS n_vectors, 1 AS split
              FROM sbcell GROUP BY cell)
      SELECT cell_label, n_vectors, CAST(split AS INT) AS split
      FROM (SELECT * FROM unt UNION ALL SELECT * FROM spl)
      ORDER BY cell_label"""
  }

  private lazy val ivfIncrementalSql = {
    def leg(sfx: String, candFilter: String): String = s"""
      ap$sfx AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
             FROM ivcell a JOIN ivcell b
               ON b.cell IN (a.cell, a.cell2) AND a.vec_id < 50
                  AND a.vec_id % 10 <> 7 $candFilter
                  AND a.vec_id <> b.vec_id),
      acos$sfx AS (SELECT query_id, neighbor_id,
                 round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
               FROM ap$sfx),
      ark$sfx AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
              FROM acos$sfx),
      ivf$sfx AS (SELECT query_id, neighbor_id FROM ark$sfx WHERE rnk <= 3)"""
    def row(no: Int, phase: String, idxSrc: String, ivfSrc: String): String = s"""
      SELECT CAST($no AS INT) AS stage_no, '$phase' AS phase,
             (SELECT count(*) FROM $idxSrc) AS indexed_vectors,
             count(*) AS n_true, count(a.neighbor_id) AS n_found,
             round(CAST(count(a.neighbor_id) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS recall_at_3
      FROM brute b LEFT JOIN $ivfSrc a
        ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id"""
    "WITH " + Dedup.QE + s""",
      qnc AS (SELECT * FROM qn WHERE vec_id % 10 <> 7),""" +
      Clustering.assignCtesOn("qnc") + "," + ivfCteOn("qn") + s""",
      bp AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
             FROM qn a JOIN qn b ON a.vec_id < 50 AND a.vec_id % 10 <> 7
               AND a.vec_id <> b.vec_id),
      bcos AS (SELECT query_id, neighbor_id,
                 round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
               FROM bp),
      brk AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
              FROM bcos),
      brute AS (SELECT query_id, neighbor_id FROM brk WHERE rnk <= 3),""" +
      leg("b", "AND b.vec_id % 10 <> 7") + "," + leg("a", "") +
      row(1, "pre_ingest", "qnc", "ivfb") + " UNION ALL" +
      row(2, "post_ingest", "qn", "ivfa") + " ORDER BY stage_no"
  }

  /** DuckDB twin of the probe condition: own cell, or every Hamming-1
    * sign-flip cell too (xor is DuckDB's bitwise xor). */
  private[graft] def probeCond(multi: Boolean): String =
    if (multi)
      "b.bucket IN (a.bucket, xor(a.bucket, 8), xor(a.bucket, 4), xor(a.bucket, 2), xor(a.bucket, 1))"
    else "a.bucket = b.bucket"

  private[graft] lazy val dot2 =
    "CAST(list_sum(list_transform(generate_series(1, len(qa)), i -> qa[i] * qb2[i])) AS BIGINT)"

  /** DuckDB twin of [[srpBucket]] — same literal hyperplanes, 1-based
    * list indexing. */
  private[graft] lazy val qbCte = {
    val bits = (0 to 3).map { g =>
      val w = srp(g).mkString("[", ",", "]")
      s"CAST(list_sum(list_transform(generate_series(1, 64), i -> q[i] * ($w)[i])) >= 0 AS INT) * ${1 << (3 - g)}"
    }.mkString(" + ")
    s"""
      qb AS (SELECT vec_id, q, norm, $bits AS bucket FROM qn)"""
  }

  private def annSql(multi: Boolean): String =
    "WITH " + Dedup.QE + "," + qbCte + s""",
      pairs AS (SELECT a.vec_id AS query_id, a.bucket AS bucket, b.vec_id AS neighbor_id,
                  a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
                FROM qb a JOIN qb b ON ${probeCond(multi)} AND a.vec_id < 50 AND a.vec_id <> b.vec_id),
      cos AS (SELECT query_id, bucket, neighbor_id,
                round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
              FROM pairs),
      rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rnk
             FROM cos)
      SELECT query_id, bucket, rnk, neighbor_id, cosine FROM rk WHERE rnk <= 3
      ORDER BY query_id, rnk"""

  private def recallSql(multi: Boolean): String =
    "WITH " + Dedup.QE + "," + qbCte + s""",
      bp AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
             FROM qn a JOIN qn b ON a.vec_id < 50 AND a.vec_id <> b.vec_id),
      bcos AS (SELECT query_id, neighbor_id,
                 round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
               FROM bp),
      brk AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
              FROM bcos),
      brute AS (SELECT query_id, neighbor_id FROM brk WHERE rnk <= 3),
      ap AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                a.q AS qa, b.q AS qb2, a.norm AS na, b.norm AS nb
             FROM qb a JOIN qb b ON ${probeCond(multi)} AND a.vec_id < 50 AND a.vec_id <> b.vec_id),
      acos AS (SELECT query_id, neighbor_id,
                 round(CAST($dot2 AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
               FROM ap),
      ark AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
              FROM acos),
      ann AS (SELECT query_id, neighbor_id FROM ark WHERE rnk <= 3)
      SELECT b.query_id,
             round(CAST(count(a.neighbor_id) AS DOUBLE) / 3.0, 4) AS recall_at_3
      FROM brute b LEFT JOIN ann a
        ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
      GROUP BY b.query_id ORDER BY b.query_id"""
}
