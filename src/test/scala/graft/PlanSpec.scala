package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan-regression guard: the scale-critical physical-plan properties
  * (PLANS.md) must survive refactors. A silently de-optimized plan
  * still passes the value oracle — only the plan text shows it. */
class PlanSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    // `plans`, not `queries`: eager (checkpoint-materializing) queries
    // expose their operator tree only through their lazy twins.
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("q1_agg pushes the shipdate filter into the parquet scan") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(l_shipdate"))
    assert(p.contains("partial_sum"), "aggregation must be partial+final")
  }

  test("q_filter_project prunes the read schema to 4 columns") {
    val p = plan("q_filter_project")
    val read = p.linesIterator.find(_.startsWith("ReadSchema")).get
    assert(read.count(_ == ',') == 3, s"expected 4 columns in: $read")
  }

  test("q_join_broadcast builds a broadcast hash join") {
    assert(plan("q_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("q_topk_agg plans max_k as partial+final ObjectHashAggregate") {
    val p = plan("q_topk_agg")
    assert(p.contains("ObjectHashAggregate"))
    assert(p.contains("partial_max_k"), "partial aggregation must survive")
  }

  test("q_knn_brute keeps per-partition top-k before the exchange") {
    assert(plan("q_knn_brute").contains("WindowGroupLimit"))
  }

  test("q_dedup_minhash signature aggregation stays hash-based") {
    val p = plan("q_dedup_minhash")
    assert(!p.contains("SortAggregate"),
      "string-buffer min would fall back to SortAggregate")
  }

  test("q_join_asof has exactly one pre-sort exchange (the user key)") {
    val p = plan("q_join_asof")
    // one hash exchange for the window, one for the right-side dedup
    // agg, one range exchange for the final sort — and NO join node
    assert(!p.contains("Join"), "as-of must not plan a join")
    assert(p.contains("Window"))
  }

  test("q_join_asof_nearest stays join-free: both frames on one sort") {
    // the brute oracle is a |p|×|c| join; the plan must instead be the
    // merged stream with BOTH direction frames over a single
    // (user)-keyed sort — a join node here means the rewrite regressed
    val p = plan("q_join_asof_nearest")
    assert(!p.contains("Join"), "nearest as-of must not plan a join")
    assert(p.contains("Window"))
  }

  test("q_scd2_history builds intervals join-free on one user sort") {
    // change-detect lag and interval-close lead are two frames over
    // the SAME (user_id)-keyed sort; a join or second exchange means
    // the history build regressed to the naive self-join
    val p = plan("q_scd2_history")
    assert(!p.contains("Join"), "SCD2 must not plan a join")
    assert(p.contains("Window"))
  }

  test("q_dedup_shard_loss_grid derives all shard counts in one pass") {
    // 16-way generate + per-doc restricted max_by: ONE doc-keyed
    // aggregate (map-side partials) feeds every count-distinct — a
    // join or a second generate would mean the prefix property of
    // rendezvous placement stopped being exploited
    val p = plan("q_dedup_shard_loss_grid")
    assert(!p.contains("Join"))
    assert(p.contains("partial_max_by"), "placement must fold map-side")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_join_asof_fwd mirrors the join-free merged-stream shape") {
    val p = plan("q_join_asof_fwd")
    assert(!p.contains("Join"), "forward as-of must not plan a join")
    assert(p.contains("Window"))
  }

  test("q_join_range plans the bucketed rewrite as an equi hash/merge join") {
    val p = plan("q_join_range")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "range join must stay an equality join on (user, bucket), never a cross product")
    // Catalyst's size estimate below the 3× explode ignores fan-out, so
    // an estimate-driven broadcast here is a scale bomb (ScaleProbe
    // range_100x: 272 s vs 18.6 s). The shuffle_hash hint must hold.
    assert(p.contains("ShuffledHashJoin"),
      "the fan-out side must never be broadcast from pre-explode estimates")
  }

  test("q_join_q5 broadcasts both dims and equi-joins the facts") {
    val p = plan("q_join_q5")
    assert(p.contains("BroadcastHashJoin"), "nation/region must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
  }

  test("q_contamination pushes the benchmark doc predicate into the scan") {
    val p = plan("q_contamination")
    assert(p.contains("LessThan(doc_id,10)"),
      "bench-side doc_id < 10 must reach the parquet scan as a pushed filter")
    assert(p.contains("BroadcastHashJoin"), "benchmark fingerprints must broadcast")
  }

  test("q_dedup_jaccard_capped anti-joins the hot set without a cross product") {
    val p = plan("q_dedup_jaccard_capped")
    assert(p.contains("LeftAnti"), "hot-shingle cap must plan as an anti join")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
  }

  test("dedup self-joins and tfidf vocab join never broadcast from below-fan-out estimates") {
    // the r4 runtime-size rule: size estimates under an explode ignore
    // fan-out, so these joins must stay shuffled (ScaleProbe measured
    // a 1.7 GB mis-broadcast, 272 s vs 18.6 s, on the same pattern)
    for (q <- Seq("q_dedup_jaccard", "q_dedup_simhash", "q_tfidf")) {
      assert(plan(q).contains("ShuffledHashJoin"),
        s"$q must keep its shuffle_hash-hinted join")
    }
  }

  test("q_sample_stratified bounds per-partition rows before the exchange") {
    assert(plan("q_sample_stratified").contains("WindowGroupLimit"))
  }

  test("q_sessionize rides one hash exchange through both windows and the aggregate") {
    // lag, the running session-index sum, AND the per-session aggregate
    // all cluster on user_id — one exchange total (plus the display
    // sort's range exchange); a second hashpartitioning means a window
    // or the aggregate stopped reusing the partitioning
    val p = plan("q_sessionize")
    val hashEx = p.linesIterator.count(_.contains("hashpartitioning("))
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx")
  }

  test("hinted shuffle-hash joins build on the bounded side, never the fan-out side") {
    // the hinted side becomes the SHJ build side — its per-partition
    // hash map must be the candidate/vocab/un-exploded side (ADVICE r4:
    // building on the fan-out side is the executor-OOM risk at scale)
    def shj(q: String) = plan(q).linesIterator
      .filter(l => l.contains("ShuffledHashJoin") && l.contains("Build")).toSeq
    val range = shj("q_join_range")
    assert(range.nonEmpty && range.forall(_.contains("BuildRight")),
      s"range join must build on the un-exploded side: $range")
    val tfidf = shj("q_tfidf")
    assert(tfidf.nonEmpty && tfidf.forall(_.contains("BuildRight")),
      s"tfidf must build on the vocabulary side: $tfidf")
    val mh = shj("q_dedup_minhash")
    assert(mh.nonEmpty && mh.forall(_.contains("BuildLeft")),
      s"minhash must build on the candidate-derived sides: $mh")
  }

  test("q_kmeans_step assigns scan-side: no join, one K-row aggregate exchange") {
    val p = plan("q_kmeans_step")
    assert(!p.contains("Join"), "assignment must be a projection, never a join")
    assert(p.linesIterator.count(_.contains("hashpartitioning(")) == 1,
      "exactly one exchange (the K-row centroid update)")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "update must be partial+final aggregate")
  }

  test("q_chunk_pack generates chunks with zero hash exchanges") {
    // chunking is scan-side: explode bounded by len/16, no shuffle
    // before the display sort's range exchange
    val p = plan("q_chunk_pack")
    assert(p.linesIterator.count(_.contains("hashpartitioning(")) == 0,
      "chunk generation must not shuffle")
    assert(!p.contains("Join"))
  }

  test("q_textrank iterations stay hash-aggregated equi joins") {
    // five unrolled PageRank rounds: every rank update must be a hash
    // aggregate fed by equi joins — a SortAggregate or cross product
    // would multiply per-iteration cost on a corpus-scale vocab graph
    val p = plan("q_textrank")
    assert(!p.contains("SortAggregate"))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
  }

  test("q_knn_recall never shuffles the corpus before scoring") {
    val p = plan("q_knn_recall")
    // brute side: corpus scan feeds the broadcast join directly;
    // per-partition top-k bounds rows before any exchange
    assert(p.contains("WindowGroupLimit"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_cohort_retention plans without a join (window-min cohort)") {
    // cohort assignment is a window MIN over the user partition on the
    // deduped (user, week) set — a self join on user_id would shuffle
    // event-scale data twice
    val p = plan("q_cohort_retention")
    assert(!p.contains("Join"), "cohort must come from a window, not a join")
    assert(p.contains("Window"))
  }

  test("q_rolling_distinct builds the hash join on the bounded day set") {
    val p = plan("q_rolling_distinct")
    // the exploded ×7 contribution stream must be the probe side; the
    // observed-day dimension (bounded by the calendar) is the build
    assert(p.contains("ShuffledHashJoin Inner BuildRight") ||
      p.contains("BroadcastHashJoin"),
      s"day set must be build/broadcast side:\n$p")
  }

  test("q_embed_outlier broadcasts label sums and prunes top-3 pre-exchange") {
    val p = plan("q_embed_outlier")
    assert(p.contains("BroadcastHashJoin"),
      "per-label sums (bounded dimension) must broadcast")
    assert(p.contains("WindowGroupLimit"),
      "top-3-per-label must prune before the window exchange")
  }

  test("q_doc_surprisal: hinted vocabulary is the SHJ build side, N is scan-side") {
    val p = plan("q_doc_surprisal")
    assert(p.contains("ShuffledHashJoin Inner BuildRight"),
      "token⋈count join must build on the bounded vocabulary side")
    // the N normalizer joins in as a broadcast scalar, not a shuffle
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
  }

  test("q_join_bloom filters the fact scan before its shuffle") {
    val p = plan("q_join_bloom")
    // the xxhash64 membership predicate must sit on the probe side
    // upstream of the join — that pre-shuffle prune is the operator's
    // entire reason to exist
    assert(p.contains("xxhash64"), "bloom probe must be in-plan")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"))
  }

  test("q_cms_sketch folds map-side: partial+final ObjectHashAggregate") {
    // the sketch's reason to exist at 100 TB: each task folds its
    // partition into one 8 KB buffer, so the exchange carries buffers,
    // not the token stream — partial aggregation must survive
    val p = plan("q_cms_sketch")
    assert(p.contains("ObjectHashAggregate"))
    assert(p.contains("partial_cms_sketch"), "map-side fold must survive")
  }

  test("q_merge_upsert is one co-partitioned full-outer merge join") {
    val p = plan("q_merge_upsert")
    assert(p.contains("FullOuter"), "merge must preserve unmatched base rows")
    // exactly one join operator in the whole plan (full outer can't
    // broadcast; both sides exchange once on the merge key)
    assert(p.contains("SortMergeJoin FullOuter") ||
      p.contains("ShuffledHashJoin FullOuter"))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
  }

  test("ANN cell joins broadcast the query batch, never the corpus") {
    // the query side is bounded BY CONSTRUCTION (qmax rows × nprobe);
    // the corpus must never be the broadcast/build side — estimates
    // would pick it at small SFs and fall back to a shuffle join on
    // ≤16 cell keys (a dop ceiling) at scale
    for (q <- Seq("q_knn_ann", "q_knn_ivf", "q_knn_ivf_mp", "q_knn_ivf_adc")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin Inner BuildLeft"),
        s"$q must broadcast the query side:\n" +
          p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    }
  }

  test("q_knn_filtered: pre-filter predicate pushed to the corpus scan, panel broadcast, no corpus x panel") {
    val p = plan("q_knn_filtered")
    // both strategies keep the ivfTopOn shape: bounded query panel
    // broadcast, cell-equality candidate join — never a product
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin Inner BuildLeft"),
      "query panel must be the broadcast side")
    // pre-filtering's entire point: the label predicate reaches the
    // parquet scan (candidates shrink BEFORE the join/shuffle), not a
    // post-join residual
    assert(p.contains("LessThan(label,3)"),
      "pre-filter predicate must be pushed into the scan:\n" +
        p.linesIterator.filter(_.contains("PushedFilters"))
          .mkString("\n"))
  }

  test("q_join_fuzzy_seg: hinted SHJ on the segment keys, five exchanges, no broadcast of the fan-out") {
    // the segment join's scale shape (r8): probe-side candidate dedup
    // is map-side (array_distinct on the ≤5-string window array — the
    // old .distinct() paid a full exchange of the ~45× fan-out), and
    // the segment join is a HINTED ShuffledHashJoin — both sides sit
    // under generators, so an unhinted plan broadcast the fanned-out
    // probe side from a garbage estimate (measured: seg_10x 27 → 82 s).
    // Exactly 5 shuffle exchanges: the two segment-join sides, the
    // post-join pair dedup, the short-arm pair dedup, the final sort.
    // The one BroadcastExchange allowed is the short arm's tiny slice.
    val p = plan("q_join_fuzzy_seg")
    // Upper bound, not an exact pin (ADVICE r8): the defended property
    // is "hinted SHJ, no broadcast of the fan-out" — a benign planner
    // change that REUSES an exchange should not fail this test, while
    // an extra shuffle (or a lost dedup) still does. The r20 scan
    // fan-out (Tables.fan, guide §2.5) adds explicit round-robin
    // repartitions of the BASE part rows — those are deliberate and
    // discounted here (REPARTITION_BY_NUM marks exactly them).
    val shuffles = "\\(\\d+\\) Exchange\\b".r.findAllIn(p).length -
      "REPARTITION_BY_NUM".r.findAllIn(p).length
    assert(shuffles <= 5, s"expected at most 5 shuffle exchanges, got $shuffles:\n" +
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(p.contains("ShuffledHashJoin"),
      "segment join must be the hinted SHJ, not an estimate-driven broadcast")
    val bcasts = "\\(\\d+\\) BroadcastExchange".r.findAllIn(p).length
    assert(bcasts <= 1, s"unexpected broadcast in the segment path:\n" +
      p.linesIterator.filter(_.contains("Broadcast")).mkString("\n"))
  }

  test("q_dedup_substring_clean: excision is a co-partitioned SHJ anti join, never a nested loop") {
    // equality on doc_id is the join key and the span-range test is
    // the RESIDUAL — if the equality conjunct ever stops being
    // extracted (or the hint is lost), Spark's fallback for a
    // non-equi anti join is BroadcastNestedLoopJoin: O(tokens ×
    // spans) and a broadcast of an under-generator frame
    val p = plan("q_dedup_substring_clean")
    assert(p.contains("ShuffledHashJoin LeftAnti"),
      "excision must be the hinted SHJ anti join:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(!p.contains("NestedLoop"),
      "range-predicate anti join fell back to a nested loop")
  }

  test("q_dedup_incremental probes the corpus indexes with hash joins only") {
    // both arms are equi probes of standing indexes (hash set, banding
    // table) — a nested loop or a broadcast of the under-generator
    // delta/bands side would break the |delta|-scaling contract
    val p = plan("q_dedup_incremental")
    assert(p.contains("ShuffledHashJoin"),
      "index probes must stay hash joins:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(!p.contains("NestedLoop"), "incremental screen fell back to a nested loop")
  }

  test("streamed incrementalScreen never broadcasts the corpus indexes") {
    // Same function the streaming twin runs per micro-batch, planned
    // over a batch delta (stream-static joins plan each batch exactly
    // like this). The standing indexes are the 100 TB-side artifacts —
    // an estimate-driven broadcast of them breaks the screen's
    // |delta|-scaling contract; the hinted SHJ build side must be the
    // bounded DELTA batch.
    import org.apache.spark.sql.functions._
    val corpus = graft.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val exactIdx = corpus.groupBy(md5(col("text")).as("chash"))
      .agg(min(col("doc_id")).as("exact_match"))
    val bandIdx = graft.llm.Dedup.bandsAt(graft.llm.Dedup.shinglesOf(corpus), 4)
      .groupBy(col("band"), col("bkey"))
      .agg(min(col("doc_id")).as("cdoc"))
    val p = graft.streaming.Streams
      .incrementalScreen(corpus.limit(5), exactIdx, bandIdx)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("ShuffledHashJoin"),
      "index probes must be hinted SHJs:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(!p.contains("BroadcastExchange"),
      "a corpus-side index reached a broadcast:\n" +
        p.linesIterator.filter(_.contains("Broadcast")).mkString("\n"))
    assert(!p.contains("NestedLoop"), "screen fell back to a nested loop")
  }

  test("q_index_persist reads every census from the LOADED artifact parquet") {
    // the persisted-index lifecycle's whole point: once the store is
    // warm (any earlier family query built it), the census plan is
    // six aggregates over flat graft-index scans — NO training
    // subtree, NO join anywhere. A join here means some artifact
    // frame silently fell back to its build tree.
    val p = plan("q_index_persist")
    assert(p.contains("graft-index"),
      s"census must scan the persisted artifacts:\n$p")
    assert(!p.contains("Join"),
      s"census must not rebuild any artifact (no join expected):\n$p")
  }

  test("q_index_staleness assigns the corpus scan-side against loaded literal stats") {
    // the q_knn_ivf_incremental discipline against the PERSISTED
    // stats: the live corpus is re-assigned by scan-side literal dot
    // products (cost ∝ corpus, no training pass), and the only joins
    // are the ≤K-row ref/current count frames and the PSI grid — a
    // sort-merge or nested-loop join means a corpus-sized side leaked
    // into the metadata tail.
    // (the ≤K-row ref/current FULL OUTER count join cannot broadcast
    // — Spark has no broadcast full-outer — so a sort-merge join on
    // those bounded frames is fine; only product shapes are banned)
    val p = plan("q_index_staleness")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"staleness tail must stay on bounded frames:\n$p")
    assert(p.contains("dot_long"),
      "re-assignment must be the scan-side literal-stats projection")
  }

  test("q_knn_ivf_retrain keeps q_knn_ivf's shape: query batch broadcasts") {
    // the fresh-train leg of the load/retrain split must plan the
    // SAME search as the loaded-index leg — only the cells source
    // differs (training subtree vs artifact scan)
    val p = plan("q_knn_ivf_retrain")
    assert(p.contains("BroadcastHashJoin Inner BuildLeft"),
      s"retrain leg must broadcast the query side:\n$p")
    assert(!p.contains("graft-index"),
      "retrain leg must NOT read the store — it exists to bypass it")
  }

  test("q_knn_graph stays a cell-keyed hash join: no broadcast, no all-pairs") {
    // The graph's query side IS the corpus, so the ivfTop rule
    // (broadcast the bounded query batch) cannot apply: a broadcast of
    // either side is a corpus broadcast, a nested loop is the N²
    // matrix. The only legal shape is the SemDeDup one — a hash join
    // keyed on the trained cell.
    val p = plan("q_knn_graph")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "knn graph went all-pairs:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(p.contains("ShuffledHashJoin"),
      "the cell-keyed candidate join must stay a shuffled hash join")
    assert(!p.contains("BroadcastHashJoin"),
      "neither graph side may broadcast — both are corpus-sized")
  }

  test("q_nb_classify: CPT stays a hash-join build side, argmax prunes map-side") {
    // The per-(class, word) count table is vocab-bounded but
    // corpus-independent — GBs at scale, exactly what a hash join's
    // build side wants and a broadcast can't hold. The only broadcasts
    // allowed are the bounded class frames (BNLJ crosses by design).
    // The rnk = 1 argmax must keep its WindowGroupLimit so per-doc
    // candidates prune before the window exchange.
    val p = plan("q_nb_classify")
    assert(p.contains("ShuffledHashJoin"),
      "the CPT probe join must stay a shuffled hash join")
    assert(p.contains("WindowGroupLimit"),
      "the argmax should prune map-side via WindowGroupLimit")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_dedup_semantic bounds candidates to the cell: keyed join, never all-pairs") {
    // SemDeDup's published scale property IS the cluster bound: the
    // pair join must stay keyed on the trained cell (Σ|cell|² pairs),
    // and the only broadcast allowed is the K-row per-cell stats frame
    // — a nested loop or a cartesian here is the n² similarity matrix
    // the clustering exists to avoid.
    val p = plan("q_dedup_semantic")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "semantic dedup went all-pairs:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(p.contains("BroadcastHashJoin"),
      "the K-row per-cell stats frame should broadcast")
  }

  test("q_knn_sq8_adc rescales codes scan-side and prunes top-k pre-exchange") {
    val p = plan("q_knn_sq8_adc")
    // stats are literals (collected once) — no stats aggregate, no join
    // below the single broadcast of the query batch
    assert(p.contains("WindowGroupLimit"))
    assert(!p.contains("posexplode"),
      "min/max stats must be embedded literals, not a live aggregate subtree")
  }

  test("q_hll_tuning scans lineitem twice: register build + exact count") {
    // the three per-m branches fold the COLLECTED 1024-register vector
    // (LocalTableScan), never re-scanning lineitem — union arms get
    // fresh attribute IDs and no exchange reuse fires, so a lazy
    // shared subtree would scan 4×
    val p = plan("q_hll_tuning")
    val scans = p.linesIterator.count(_.trim.startsWith("ReadSchema"))
    assert(scans == 1, s"expected 1 parquet scan in the PLAN (exact count; " +
      s"the register build runs eagerly at construction), got $scans")
    assert(p.contains("LocalTableScan"),
      "per-m folds must read the collected register vector")
  }

  test("PQ rankings broadcast the query LUTs and materialize the code table once") {
    // The corpus side must NEVER broadcast (it is the 10⁹-row side),
    // and its encode projection must sit under its own exchange: the
    // BroadcastNestedLoopJoin codegen defers stream-side expressions
    // into the per-broadcast-row inner loop, so an un-materialized
    // code table re-encodes the corpus once per (row × query) pair
    // (measured 5.4 s vs 0.6 s at sf0.1).
    // q_knn_opq_pq: the rotated space must not change the IndexPQ
    // plan shape — the rotation is a scan-side projection
    for (q <- Seq("q_knn_pq", "q_knn_ivf_pq", "q_knn_ivf_pq_res",
        "q_knn_opq_pq")) {
      val p = plan(q)
      val bcasts = p.linesIterator.filter(_.contains("BroadcastExchange")).toSeq
      assert(bcasts.nonEmpty, s"$q must broadcast the bounded query batch")
      assert(p.contains("REPARTITION_BY_COL"),
        s"$q must materialize the corpus code table through an exchange:\n" +
          p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
      assert(p.contains("pq_dists"), s"$q must encode via the native pq_dists loop")
    }
    // the composed indexes keep the equi probe on cells a hash join
    // with the query batch as build side, same rule as the other cell
    // joins (the residual variant must not change the join shape — the
    // centroid table rides along as a literal, never a join input)
    for (q <- Seq("q_knn_ivf_pq", "q_knn_ivf_pq_res"))
      assert(plan(q).contains("BroadcastHashJoin Inner BuildLeft"),
        s"$q must broadcast the query side of the cell probe")
  }

  test("q_knn_pq_rerank fetches the shortlist by key, never re-scans the corpus") {
    // The refine step's scale contract (FAISS IndexRefineFlat): the
    // ONLY exhaustive pass is the ADC code scan (one BNLJ against the
    // bounded query-LUT broadcast, by design); the exact re-score must
    // be a keyed BroadcastHashJoin on the vector id — the qmax×kShort
    // shortlist is the build side, so the raw-vector "fetch" costs one
    // corpus probe, not a second corpus × queries product.
    val p = plan("q_knn_pq_rerank")
    // count detail-section headers only — formatted explain prints
    // every node twice (tree line + "(n) Node" detail header)
    val bnlj = p.linesIterator.count(
      _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin"""))
    assert(bnlj == 1,
      s"exactly the ADC scan may be a BNLJ, got $bnlj:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(p.contains("BroadcastHashJoin"),
      "the exact re-score must be a keyed fetch (BHJ on neighbor_id):\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("q_knn_compressed_grid reuses the trained-index exchanges across grid rows") {
    // The operating-point grid's scale contract: 8 (family, K, nprobe)
    // rows share ONE trained index per family and ONE brute truth
    // ranking per K. Static planning re-plans each union arm under
    // fresh attribute IDs (the q_hll_tuning lesson), so the dedup
    // happens at runtime: AQE stage reuse must replace the repeated
    // shuffle subtrees with ReusedExchange — without it a grid row
    // costs a full re-rank + re-train scan instead of a re-filter.
    val df = SparkEntry.queries("q_knn_compressed_grid")(spark, sf)
    df.collect() // materialize: AQE only reuses stages during execution
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("isFinalPlan=true"))
    val reused = p.linesIterator.count(_.contains("ReusedExchange"))
    assert(reused >= 8,
      s"expected >=8 reused stages across the 8 grid rows, got $reused:\n" +
        p.linesIterator.filter(_.contains("Exchange")).take(40).mkString("\n"))
  }

  test("q_hll_registers folds map-side: partial max per register") {
    // the HLL scale story: the exchange carries ≤256 (reg, max) pairs
    // per task, never the value stream — partial_max must survive,
    // and int max stays in HashAggregate (no sort-based fallback)
    val p = plan("q_hll_registers")
    assert(p.contains("partial_max"), "map-side register fold must survive")
    assert(!p.contains("SortAggregate"))
  }

  test("q_decontaminate_semantic probes cells with a hash join, never all-pairs") {
    // the screen's scale contract: train probes × bench index must be
    // a CELL-KEYED join with the bounded bench side as build side, and
    // the per-vector best-match election must prune per-partition
    // (WindowGroupLimit) before the rank exchange — a nested loop or
    // cartesian here is the train×bench product the quantizer avoids
    val p = plan("q_decontaminate_semantic")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "decontamination went all-pairs:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(p.contains("ShuffledHashJoin"),
      "the bench index should be a hash-join build side")
    assert(p.contains("WindowGroupLimit"),
      "best-match election should prune map-side")
  }

  test("q_quantile_sketch aggregates partially and never sorts the values") {
    // the sketch's 100 TB property: bin counts fold map-side
    // (partial_count) and the only sorts in the plan order the ≤32-bin
    // window frame and the 3-row output — a Sort above the lineitem
    // scan would mean the global order the sketch exists to avoid
    val p = plan("q_quantile_sketch")
    assert(p.contains("partial_count"), "bin counts must fold map-side")
    assert(!p.contains("SortMergeJoin"),
      "rank→bin matching must stay a broadcast of the O(1) frames")
    assert(!p.contains("SortAggregate"))
  }

  test("q_dsir_select scores tokens in one scan against a literal-rooted LM") {
    // after LM training + threshold election (bounded collects), the
    // registered plan is ONE token scan joined to the 64-row literal
    // LM by broadcast — no re-planned training subtrees, no cartesian,
    // one aggregation exchange
    val p = plan("q_dsir_select")
    assert(p.contains("BroadcastHashJoin"),
      "the 64-row LM should broadcast to the token stream")
    assert(p.contains("LocalTableScan"),
      "the LM must be literal-rooted, not a re-planned training subtree")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans <= 2, s"expected one scored scan, got $scans")
  }

  test("q_bm25 broadcasts query terms into the corpus postings scan") {
    // the posting-list join must stream the corpus tf side through a
    // BroadcastHashJoin against the bounded (|queries|×3 terms + df)
    // build — a shuffle of the corpus keyed by word, or worse a
    // query×corpus product, is the 100 TB failure shape
    val p = plan("q_bm25")
    assert(p.contains("BroadcastHashJoin"), "query terms must broadcast")
    assert(p.contains("WindowGroupLimit"), "top-k must pre-limit per group")
    // the only nested-loop node allowed is the 1-row stats broadcast
    // (count detail headers — formatted explain lists each node twice)
    val bnlj = """(?m)^\(\d+\) BroadcastNestedLoopJoin""".r
      .findAllIn(p).size
    assert(bnlj <= 1, s"unexpected nested loops:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_join_q8 broadcasts every dimension; facts never cartesian") {
    // the 8-table market-share star: region/nation/part/supplier are
    // dimension-sized and must reach the lineitem scan as broadcast
    // builds; the only shuffle-worthy joins are the fact-fact ones
    // (lineitem↔orders). A CartesianProduct or a broadcast of a FACT
    // side is the 100 TB failure shape
    val p = plan("q_join_q8")
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_sum"), "market-share agg must fold map-side")
  }

  test("q_join_size_cms folds the sketch map-side; exact side broadcasts") {
    // the CMS is the constant 8 KB artifact — its aggregate must be
    // partial+final (ObjectHashAggregate) so the exchange carries ONE
    // sketch per partition, and the exact-F2 scalar rides the single
    // 1-row broadcast nested loop
    val p = plan("q_join_size_cms")
    assert(p.contains("ObjectHashAggregate"))
    assert(p.contains("partial_cms_sketch"), "sketch must fold map-side")
    val bnlj = """(?m)^\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).size
    assert(bnlj <= 1, s"only the 1-row exact-F2 broadcast is allowed:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_quantile_sketch_group keeps per-group payload bounded") {
    // per-group histogram: bin counts fold map-side (partial_count →
    // ≤ 32 rows per group on the exchange); the width frame attaches
    // by a ShuffledHashJoin with the 5-row stats side as build — a
    // SortMergeJoin would globally sort the value stream the sketch
    // exists to avoid
    val p = plan("q_quantile_sketch_group")
    assert(p.contains("partial_count"), "bin counts must fold map-side")
    assert(p.contains("ShuffledHashJoin"), "width frame must hash-attach")
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_rrf_fusion fuses two pre-limited rankers by one keyed join") {
    // both ranker legs must pre-limit per query (WindowGroupLimit)
    // before fusion, and the fusion itself is a keyed FULL OUTER join
    // on (query, doc) — never a re-rank over an unlimited product.
    // r17 production config: the dense leg is the PERSISTED IVF index,
    // so its candidate join must be the CELL-KEYED BroadcastHashJoin
    // (bounded panel broadcast, corpus streamed) — the panel×corpus
    // brute nested loop moved to q_rrf_fusion_recall's truth leg. The
    // only nested loop left is the 1-row BM25 corpus-stats broadcast.
    val p = plan("q_rrf_fusion")
    assert(p.contains("FullOuter"), "fusion must be a full outer join")
    assert(p.contains("WindowGroupLimit"), "legs must pre-limit top-10")
    assert(p.contains("BroadcastHashJoin"),
      "dense leg must probe the index cell-keyed")
    val bnlj = """(?m)^\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).size
    assert(bnlj <= 1,
      s"only the 1-row BM25 stats broadcast may nested-loop:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_rrf_fusion_recall reuses the production leg plans") {
    // three systems, one plan: the ANN leg must stay the bucket-keyed
    // BroadcastHashJoin (panel broadcast, corpus streamed), the brute
    // truth leg is the bounded-panel nested loop, fusion is the keyed
    // full outer — and every ranked set pre-limits per query
    val p = plan("q_rrf_fusion_recall")
    assert(p.contains("FullOuter"))
    assert(p.contains("WindowGroupLimit"))
    assert(p.contains("BroadcastHashJoin"), "ANN leg must stay bucket-keyed")
    // allowed nested loops, each bounded: the brute-truth panel (once —
    // the tag-exploded metric join must not replan it per system) and
    // the 1-row BM25 stats broadcast in each of its two union branches
    val bnlj = """(?m)^\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).size
    assert(bnlj <= 3,
      s"truth panel must plan once; stats rows twice at most:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("per-doc cleaning gates are pure scan projections") {
    // gopher repetition, PII scrub, and the span-corruption manifest
    // all compute per-row — a Window, join, or aggregate appearing
    // here means the gate grew a token-stream shuffle it doesn't need
    for (q <- Seq("q_gopher_repetition", "q_pii_scrub", "q_span_corruption")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q must not window")
      assert(!p.contains("Join") && !p.contains("HashAggregate"), q)
      // the r20 scan fan-out (Tables.fan, §2.5) moves BASE doc rows
      // once so the per-row gates run wide — it is not a token-stream
      // shuffle, so it is discounted (REPARTITION_BY_NUM marks it)
      val exchanges = p.linesIterator
        .count(l => l.contains("- Exchange") || l.contains("- BroadcastExchange")) -
        "REPARTITION_BY_NUM".r.findAllIn(p).length
      assert(exchanges <= 1, s"$q: only the output sort may exchange:\n$p")
    }
  }

  test("q_zstd_jsonl: scan-fused record fan-out, one census aggregate, no join") {
    // the .jsonl.zst front door: decodeFrames + line split fuse into
    // the scan's MapPartitions (the archive-ingest 1→N contract); the
    // JSON field extraction is scan-side codegen; the ONLY exchanges
    // are the doc-keyed partial+final census and the display sort
    val p = plan("q_zstd_jsonl")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 scan, got $scans")
    assert(p.contains("MapPartitions"))
    assert(!p.contains("Join"), "the ingest must not join")
    // the fan repartition of the base doc rows (§2.5) is discounted
    assert(p.linesIterator.count(_.contains("- Exchange")) -
      "REPARTITION_BY_NUM".r.findAllIn(p).length <= 2,
      s"census must be one keyed exchange plus the sort:\n$p")
  }

  test("q_warc_ingest runs the whole crawl funnel join-free on one scan") {
    // synthesize+decode fuse into the scan's MapPartitions, the URL
    // canonicalizer is scan-side projection, and the funnel reduces
    // through ONE aggregation pipeline — a join or second scan here
    // means the front-door re-reads the crawl
    val p = plan("q_warc_ingest")
    val scanIds = """\((\d+)\) Scan parquet""".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(scanIds.size == 1, s"expected one scan node, got $scanIds")
    assert(p.contains("MapPartitions"))
    assert(!p.contains("Join"), "the funnel must not join")
    assert(!p.contains("CartesianProduct"))
  }

  test("decode-family queries stay single-scan map-only pipelines") {
    // decode + feature extraction are scan-shaped: one parquet scan,
    // fused MapPartitions, and no exchange except the final order-by —
    // a join or aggregate appearing here would mean the decode stage
    // grew a shuffle it doesn't need at 100 TB
    for (q <- Seq("q_multimodal_decode_gif", "q_multimodal_decode_png",
        "q_multimodal_decode_jpeg", // full transform codec, still one task
        "q_jpeg_exif", // metadata pass: marker walk + TIFF IFD, one task
        "q_jpeg_oriented", // decode + Exif orientation applied, one task
        "q_pdf_extract", // xref walk + inflate + Tj/TJ scan, one task
        "q_zstd_ingest", // RFC 8878 frame walk, one task, no shuffle
        "q_multimodal_decode_gzip", "q_multimodal_decode_tiff",
        "q_archive_ingest", // 1→N member fan-out still fuses into the scan
        "q_archive_ingest_tar", // second 1→N container, same contract
        "q_archive_ingest_tgz", // layered gzip→tar walk, one task, no shuffle
        "q_dedup_substring_sam", // per-doc O(n) automaton, scan-fused
        "q_html_extract", // synth+tag-walk+boilerplate filter, one task
        "q_video_framesample", // 1→N frame fan-out, same contract
        "q_multimodal_resize_real", "q_audio_features")) {
      val p = plan(q)
      val scanIds = """\((\d+)\) Scan parquet""".r
        .findAllMatchIn(p).map(_.group(1)).toSet
      assert(scanIds.size == 1, s"$q: expected one scan node, got $scanIds")
      assert(p.contains("MapPartitions"), q)
      assert(!p.contains("Join") && !p.contains("HashAggregate"), q)
      // the decode itself stays map-only; the single discounted
      // exchange is the §2.5 fan of the base doc rows, which moves
      // (doc_id, text) once so the codec runs wide
      val exchanges = p.linesIterator
        .count(l => l.contains("- Exchange") || l.contains("- BroadcastExchange")) -
        "REPARTITION_BY_NUM".r.findAllIn(p).length
      assert(exchanges <= 1, s"$q: decode pipeline grew exchanges:\n$p")
    }
  }

  test("q_mix_epochs joins only the broadcast 1-row quota frame") {
    // two scans (weights aggregate, per-source counts), the single
    // join a Cross BNLJ of the broadcast aggregate row — a shuffled
    // or cartesian corpus join here would break the mix planner's
    // aggregate-row pattern
    val p = plan("q_mix_epochs")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    assert(scans == 2, s"expected 2 scans, got $scans")
    assert(p.contains("BroadcastNestedLoopJoin Cross BuildRight"))
    assert(!p.contains("ShuffledHashJoin") && !p.contains("CartesianProduct"))
  }

  test("q_contamination_by_source broadcasts the bench fps, SHJ-attaches the hits") {
    // the benchmark fingerprint set is tiny → broadcast onto the
    // corpus fingerprint pass; the doc-keyed census attach builds on
    // the contamination-bounded hits side — a sort-merge or cartesian
    // here means a corpus-sized side got sorted or multiplied
    val p = plan("q_contamination_by_source")
    assert(p.contains("BroadcastHashJoin"), "bench fp set must broadcast")
    assert(p.contains("ShuffledHashJoin"), "hits attach must stay SHJ")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
  }

  test("q_maxsim never shuffles the corpus: panel broadcast, tokens in-row") {
    // two pins, one per lifecycle stage of the standing eval artifact:
    // 1. the BUILD tree (run once per (session, dir), then memoized
    //    as a localCheckpoint like the graph family's indexes) folds
    //    each doc's in-row token-embedding array against the
    //    broadcast ≤3-token query panel — a shuffled or sort-merge
    //    join here means the corpus token set exploded into a
    //    corpus-sized exchange, the ColBERT scale failure
    val b = graft.ops.TextOps
      .maxsimScoredBuild(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!b.contains("ShuffledHashJoin") && !b.contains("SortMergeJoin"),
      s"corpus must not shuffle-join in the build:\n$b")
    assert(b.contains("BroadcastNestedLoopJoin"),
      "the bounded query panel must broadcast onto the corpus scan")
    assert(!b.contains("CartesianProduct"))
    // 2. the CONSUMER rank reads ONLY the PERSISTED artifact (r16:
    //    disk-durable through IndexStore — the FAISS read_index
    //    side): the plan must be a flat scan of the graft-index
    //    parquet, with NO join anywhere — a join means the memo lost
    //    its artifact and the rank is re-paying the panel×corpus
    //    build inline
    val p = plan("q_maxsim")
    assert(p.contains("graft-index"),
      s"rank must read the persisted standing artifact:\n$p")
    assert(!p.contains("Join"),
      s"rank must not rebuild the scored frame (no join expected):\n$p")
    assert(p.contains("WindowGroupLimit"),
      "top-3 per query must bound rows before the final exchange")
  }

  test("q_maxsim_twostage reranks only the candidate shortlist, never panel x corpus") {
    // the production ColBERT shape this query exists for: stage 1's
    // IVF cell join and stage 2's candidate-keyed rerank are both
    // BROADCAST HASH joins of bounded frames onto corpus scans — a
    // BroadcastNestedLoopJoin is the exhaustive panel x corpus grid
    // (q_maxsim's shape, the thing two-stage must never build), and a
    // shuffled/sort-merge join means a corpus-sized side exchanged
    val p = plan("q_maxsim_twostage")
    assert(p.contains("BroadcastHashJoin"),
      "candidates and cell probes must broadcast onto corpus scans")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"rerank must never build the exhaustive grid:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
    assert(p.contains("WindowGroupLimit"),
      "both stage ranks must bound rows before their exchanges")
  }

  test("q_dedup_image_phash_near candidates come from the band join, never all-pairs") {
    // the LSH discipline at image grain: the self-join must be an
    // equality SHJ on (band, bkey) — a cartesian or BNLJ here is the
    // all-pairs Hamming scan this screen exists to avoid
    val p = plan("q_dedup_image_phash_near")
    assert(p.contains("ShuffledHashJoin"),
      "band candidates must equality-join shuffle-hash")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"near-dup screen built an all-pairs join:\n$p")
  }

  test("q_clip_filter joins the two modalities doc-keyed, never all-pairs") {
    // the cross-modal gate is ONE keyed join of two corpus-sized
    // sides (decoded image features x embedding block sums) — at
    // 100 TB that is a genuine co-keyed shuffle-hash join; a
    // broadcast of either side, a cartesian, or a sort-merge fallback
    // means a corpus-sized side was mis-sized or multiplied
    val p = plan("q_clip_filter")
    assert(p.contains("ShuffledHashJoin"),
      "modality join must stay a doc-keyed SHJ")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin") && !p.contains("SortMergeJoin"))
    assert(p.contains("MapPartitions"), "image decode must stay scan-fused")
  }

  test("q_zorder_prune joins only the broadcast 1-row match aggregate") {
    // three event scans (two file-stats censuses + the exact match
    // count), the single join a Cross BNLJ of the broadcast 1-row
    // aggregate onto the two census rows — a shuffled or cartesian
    // join here would mean a census grew corpus-sized
    val p = plan("q_zorder_prune")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    assert(scans == 3, s"expected 3 scans, got $scans")
    assert(p.contains("BroadcastNestedLoopJoin Cross BuildRight"))
    assert(!p.contains("ShuffledHashJoin") && !p.contains("CartesianProduct"))
  }

  test("q_bpe_fertility joins corpus words to the dict-bounded segmentation shuffled-hash") {
    // the trained segmentation is the GBs-at-100TB build side — it
    // must stay a ShuffledHashJoin build, never a corpus broadcast or
    // a plan-estimated fallback to sort-merge
    val p = plan("q_bpe_fertility")
    assert(p.contains("ShuffledHashJoin Inner BuildRight"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_c4_clean runs the span dedup as one linear window chain") {
    // two pruned scans (rule census + the survivor chain) and NO
    // self-join back: the duplicate-span removal is dup OR lag(dup)
    // OR lag(dup,2) carried between the span-hash window and the doc
    // window. A third scan or an anti-join means the chain was broken
    // back into the 9-scan branch shape this pin exists to prevent.
    val p = plan("q_c4_clean")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    assert(scans == 2, s"expected 2 scans, got $scans")
    assert(!p.contains("LeftAnti"), "span removal must not self-join")
    assert("""\(\d+\) Window""".r.findAllIn(p).size == 4,
      "ridx + lead + span-rn + lag windows")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_domain_stats is one scan, one aggregate, zero joins") {
    // the whole census (URL synth + canonicalizer regexps + gopher
    // array ratios) must stay a codegen projection on the single
    // corpus scan feeding one domain-keyed aggregate; the DuckDB twin
    // joins gopher flags back by doc_id, the plan must NOT
    val p = plan("q_domain_stats")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 scan, got $scans")
    assert(!p.contains("Join"), s"plan must be join-free:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 3,
      "countDistinct must expand to the (domain, canon) pre-aggregate")
  }

  test("q_embed_pca report reads only the materialized 64-row rounds") {
    // one Gram-matrix corpus scan AT CONSTRUCTION feeds all three
    // power rounds, which run on the driver; each round's 64-row c
    // frame is materialized, and the loadings report joins those
    // frames to their own 1-row max|c| aggregates — a parquet scan
    // here means a round lost its materialization and the report
    // re-scans the corpus per consumer
    val p = plan("q_embed_pca")
    assert(!p.contains("Scan parquet"),
      s"report must not re-scan the corpus:\n$p")
    assert(p.contains("ExistingRDD"), "round frames must be materialized")
    assert(p.contains("BroadcastNestedLoopJoin Cross BuildRight"),
      "max|c| must ride as a broadcast 1-row aggregate")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_global_ids never sorts the corpus through one partition") {
    // the scalable-zipWithIndex claim in plan form: the corpus side
    // is ONE shard-keyed exchange + per-shard windows; the only
    // SinglePartition exchange is the S-row offsets frame (S = 32),
    // which then broadcasts. A second SinglePartition exchange means
    // the global row_number came back.
    val p = plan("q_global_ids")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    assert(scans == 2, s"expected 2 pruned scans, got $scans")
    assert(p.contains("BroadcastHashJoin Inner BuildRight"))
    assert(p.contains("partial_count"),
      "shard counts must map-side combine")
    val single = "SinglePartition".r.findAllIn(p).size
    assert(single == 1, s"only the 32-row offsets frame may single-partition, got $single:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_hll_intersect builds three estimates off one tag-exploded scan pair") {
    // the checkpointed <=512-row register table feeds all three est
    // branches; only TWO parquet scans may exist (the sketch build at
    // construction is the first; the exact census the second) and the
    // 1-row est frames ride as broadcast crosses
    val p = plan("q_hll_intersect")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    assert(scans <= 2, s"expected <=2 scans, got $scans:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin Cross BuildRight"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_sample_ci is two aggregates over pruned scans, no join but the 1-row cross") {
    val p = plan("q_sample_ci")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    assert(scans == 2, s"expected 2 scans, got $scans")
    assert(p.contains("BroadcastNestedLoopJoin Cross BuildRight"))
    assert(p.contains("partial_count"), "both sides must map-side combine")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_pack_cu_seqlens is one scan, one window exchange, zero joins") {
    val p = plan("q_pack_cu_seqlens")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 scan, got $scans")
    assert(!p.contains("Join"), s"manifest must be join-free:\n$p")
    assert("""\(\d+\) Window""".r.findAllIn(p).size == 1,
      "exactly the per-source running-sum window")
  }

  test("q_train_shards ranks the materialized manifest — no corpus re-scan, broadcast offsets") {
    // The two-pass global rank must read the checkpointed sequence
    // manifest on BOTH branches (zero parquet scans downstream), and
    // the 16-row bucket-offset frame must come back as a broadcast
    // hash join — a single-partition global window or a corpus
    // re-scan here is exactly the de-optimization this pins against.
    val p = plan("q_train_shards")
    assert(!p.contains("Scan parquet"),
      s"rank pass must read the manifest, not re-scan the corpus:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "bucket offsets must attach via broadcast")
    // exactly two windows survive: the 16-row offset cumsum and the
    // per-bucket row_number — never a global-order window over data
    assert("""\(\d+\) Window""".r.findAllIn(p).size == 2, p)
  }

  test("q_train_resume reads the stored manifest flat — no corpus scan, no join") {
    // restart cost must be one manifest read: the only parquet scan
    // is the loaded train_shards ARTIFACT (shard-grain rows), never
    // the documents table; the prefix-sum window orders that bounded
    // manifest; the checkpoint-step fan-out is a scan-side generate.
    val p = plan("q_train_resume")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 scan (the stored manifest), got $scans:\n$p")
    assert(!p.toLowerCase.contains("documents"),
      "resume must never rescan the corpus")
    assert(!p.contains("Join"), "resume is join-free")
    assert("""\(\d+\) Window""".r.findAllIn(p).size == 1,
      "exactly the shard-grain prefix-sum window")
    assert(p.contains("Generate"), "checkpoint steps fan out scan-side")
  }

  test("q_zstd_dict_train: gram census + broadcast coverage, never a product") {
    // the trainer is the wordcount shape: ONE documents scan feeds
    // the gram aggregate, a SECOND scan probes coverage against the
    // broadcast 16-row gram frame — a BroadcastNestedLoopJoin
    // LeftSemi on the contains predicate is the bounded-build-side
    // shape (16 rows), a CartesianProduct is not
    val p = plan("q_zstd_dict_train")
    assert(p.contains("BroadcastNestedLoopJoin LeftSemi"),
      s"coverage must probe the broadcast gram frame:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_train_shards manifest window moves ints only — no token array in the per-source exchange") {
    // The r18 verdict's one weak: the per-source prefix-sum window
    // used to run over a frame still carrying the full token array,
    // hash-partitioning corpus TEXT through ~20 window tasks at
    // scale. The fixed shape windows over (doc_id, source, n_tok)
    // and rejoins the text by doc_id afterward — pin that no
    // WindowExec in the manifest builder's plan has an array-typed
    // input column, and that exactly one data window exists.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.types.ArrayType
    val f = graft.llm.TextAnalysis.trainShardsSeqFrame(
      Tables(spark, sf, "documents"), B = 256)
    val wins = f.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(wins.size == 1, s"expected the one per-source cumsum window, got ${wins.size}")
    wins.foreach { w =>
      val arrs = w.child.output.filter(_.dataType.isInstanceOf[ArrayType])
      assert(arrs.isEmpty,
        s"window input must be int-only, carries arrays: ${arrs.map(_.name).mkString(",")}")
    }
  }

  test("q_knn_graph_ingest probes the standing index shuffled-hash, never all-pairs") {
    // both the ingest arm and the rebuild flag are cell-keyed
    // ShuffledHashJoins; the delta never cross-joins the corpus
    val p = plan("q_knn_graph_ingest")
    assert("ShuffledHashJoin Inner BuildRight".r.findAllIn(p).size >= 2,
      s"cell-keyed probes must hash-join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin Inner"))
  }

  test("q_embed_pca_scatter scores off materialized directions, bounded scans") {
    // training (6 rounds, both components) happens at construction
    // into checkpointed 64-row/1-row frames; the report may scan the
    // corpus only for the scoring pass and its 1-row stats aggregate
    // (each crossJoin arm re-plans the scan — ≤4 total), with every
    // direction arriving as ExistingRDD broadcast
    val p = plan("q_embed_pca_scatter")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    assert(scans <= 4, s"scoring must not re-run training scans, got $scans")
    assert(p.contains("ExistingRDD"), "directions must be materialized")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_wordpiece_train reads only the materialized dict-bounded rounds") {
    // the rounds run on the driver off one dictionary collect AT
    // CONSTRUCTION, so the report plan reads only the driver-built
    // round frames; a parquet scan here means the report re-runs the
    // corpus scan
    val p = plan("q_wordpiece_train")
    assert(!p.contains("Scan parquet"),
      s"report must not re-scan the corpus:\n$p")
    assert(p.contains("ExistingRDD"), "round frames must be materialized")
    assert(p.contains("BroadcastNestedLoopJoin Cross BuildRight"),
      "round-size aggregate must ride as a broadcast 1-row cross")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_wordpiece_fertility joins corpus words to the trained segmentation shuffled-hash") {
    // same contract as q_bpe_fertility: the vocab-bounded segmentation
    // is the build side; the corpus word explode streams through it
    val p = plan("q_wordpiece_fertility")
    assert(p.contains("ShuffledHashJoin Inner BuildRight"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_ulm_fertility picks up BOTH tokenizers on one corpus word scan") {
    // two ShuffledHashJoins (BPE seg, ULM seg) stacked on the single
    // exploded corpus scan; the EM chain itself never touches the
    // corpus again
    val p = plan("q_ulm_fertility")
    val shj = "ShuffledHashJoin Inner BuildRight".r.findAllIn(p).size
    assert(shj == 2, s"expected 2 shuffled-hash joins, got $shj")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_ulm_train report reads only the materialized vocab-bounded frames") {
    // the EM chain localCheckpoints its dict/vocab/segmentation frames
    // (all vocab-bounded), so the report plan must read those
    // materialized RDDs and touch the CORPUS zero times — the "EM cost
    // is corpus-free after the dict scan" claim in plan form; a
    // parquet scan reappearing here means a chain frame lost its
    // checkpoint and the corpus re-scans per consumer branch
    val p = plan("q_ulm_train")
    assert(!p.contains("Scan parquet"),
      s"report must not re-scan the corpus:\n$p")
    assert(p.contains("ExistingRDD"), "chain frames must be materialized")
    assert(p.contains("BroadcastNestedLoopJoin Cross BuildRight"),
      "vocab size must ride as the broadcast aggregate row")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_hard_negatives broadcasts the query panel; the corpus never shuffles pre-rank") {
    val p = plan("q_hard_negatives")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    assert(scans == 2, s"expected 2 scans, got $scans")
    assert(p.contains("BroadcastNestedLoopJoin Inner BuildRight"))
    assert(p.contains("WindowGroupLimit"),
      "per-partition top-k must run before the final exchange")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_join_interval joins bucketed intervals hash-keyed, never all-pairs") {
    // the bucketed rewrite of the brute |A|×|B| overlap join: a
    // shuffled hash join on the bucket key, and NO distinct/dedup
    // node — the first-common-bucket emission guard replaces it
    val p = plan("q_join_interval")
    assert(p.contains("ShuffledHashJoin"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("Deduplicate"),
      "pair dedup must come from the bucket guard, not an exchange")
  }

  test("dedup keeper elections aggregate partially map-side (hot-key safe)") {
    // the hotkey probe's guarantee in plan form: a 10⁶-deep duplicate
    // group reduces to one row per map partition BEFORE the exchange;
    // losing partial_min/partial_count here would funnel the crawl
    // boilerplate page through a single reducer
    for (q <- Seq("q_dedup_exact", "q_dedup_url")) {
      val p = plan(q)
      assert(p.contains("partial_min"), s"$q: keeper min must stay partial")
      assert(p.contains("partial_count"), s"$q: copy count must stay partial")
      assert(!p.contains("SortAggregate"), q)
    }
  }

  test("q_pipeline_crawl runs the whole crawl-to-chunks funnel join-free on one scan") {
    // one parquet scan, the fused gunzip+parse MapPartitions, exactly
    // two window exchanges (canon keeper, content keeper) feeding the
    // 1-row aggregate — a join or third exchange appearing here means
    // a pipeline stage grew a shuffle it doesn't need at 100 TB
    val p = plan("q_pipeline_crawl")
    val scanIds = """\((\d+)\) Scan parquet""".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(scanIds.size == 1, s"expected one scan node, got $scanIds")
    assert(p.contains("MapPartitions"))
    assert(!p.contains("Join"), "the funnel must not join")
    assert("""\(\d+\) Window""".r.findAllIn(p).size == 2,
      s"expected exactly 2 window nodes:\n$p")
  }

  test("q_knn_ivf_incremental assigns the delta scan-side against literal cell stats") {
    // both phases rank against broadcast query panels with
    // WindowGroupLimit cuts; the ingest assignment is a projection
    // (dot_long against literals), so no join/exchange may appear on
    // the corpus path before the candidate join
    val p = plan("q_knn_ivf_incremental")
    assert(p.contains("WindowGroupLimit"))
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin Inner BuildRight"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_url_filter routes URLs join-free: the deny list is a literal, not a table") {
    // synth + canonicalizer + rule CASE must all live in the scan
    // projection; the only operators after it are the census
    // aggregates (countDistinct's Expand included)
    val p = plan("q_url_filter")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
    assert(p.contains("partial_count"),
      "census must partial-aggregate map-side")
  }

  test("q_crawl_mixed_funnel routes and extracts in one task") {
    // synth + first-byte sniff + all three extractors fuse into the
    // scan's MapPartitions; the only operators after it are the 3-row
    // route census aggregates — a join or second scan would mean the
    // router materialized a payload table it must not need
    val p = plan("q_crawl_mixed_funnel")
    val scanIds = """\((\d+)\) Scan parquet""".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(scanIds.size == 1, s"expected one scan node, got $scanIds")
    assert(p.contains("MapPartitions"), "extractors must stay scan-fused")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
    assert(p.contains("partial_count"),
      "route census must partial-aggregate map-side")
  }

  test("q_dedup_cross_format extracts scan-fused and aggregates once on the key") {
    // synth + both real extractors + the shared canonicalizer fuse
    // into the scan's flatMap, and the whole census hangs off ONE
    // ckey-grouped aggregate (keyless records ride as the NULL group)
    // — a SECOND scan node would mean the record census re-ran the
    // extraction pass, a join would mean it materialized a table
    val p = plan("q_dedup_cross_format")
    val scanIds = """\((\d+)\) Scan parquet""".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(scanIds.size == 1, s"expected one scan node, got $scanIds")
    assert(p.contains("MapPartitions"), "extractors must stay scan-fused")
    assert(p.contains("partial_count"),
      "key census must partial-aggregate map-side")
    assert(!p.contains("Join"), s"no join belongs here:\n$p")
  }

  test("q_dedup_cdc chunks map-only; the census partial-aggregates map-side") {
    // content-defined chunking is per-doc higher-order array work
    // fused into the scan — the ONLY exchanges are the chunk-keyed
    // census aggregates; no join may appear at any scale
    val p = plan("q_dedup_cdc")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
    assert(p.contains("partial_count"),
      "chunk census must partial-aggregate map-side")
  }

  test("q_dedup_cdc_shift survival joins stay chunk-keyed, never all-pairs") {
    val p = plan("q_dedup_cdc_shift")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin Inner"),
      s"survival must be keyed joins:\n$p")
  }
}
