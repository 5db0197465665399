package graft.ops

import graft.{Num, Tables}
import graft.core.Fixpoint
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-analytics composites over the event stream and orders —
  * cohort retention, rolling-window distinct users, and CDC-style
  * merge/upsert. The reference's surface stops at re-keyed map/reduce
  * passes (MRFCore.cpp:417-420 sort-by-key collect); these are the
  * higher-order report shapes a user of any analytics engine runs
  * daily, each expressed as a lazy Catalyst plan with an exact DuckDB
  * twin.
  */
object Analytics {

  val queries: Map[String, Q] = Map(

    // Weekly cohort retention: users grouped by their first-seen week
    // (the cohort), counted again in every later week they return.
    // Scale shape (the q_sessionize trick — ONE event-scale exchange):
    // the distinct (user, week) set partial-aggregates map-side, the
    // cohort week is a window MIN over the user partition — no self
    // join, no second shuffle of event-scale data; the final grid
    // aggregate is O(weeks²) rows whatever the corpus size. Because
    // (user, week) rows are unique and week→offset is injective per
    // user, the grid count is a plain count(*), not a countDistinct —
    // no expand, no second distinct pass.
    "q_cohort_retention" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
      Tables.events(s, dir)
        .select(col("user_id"),
          to_date(date_trunc("week", col("ts"))).as("wk"))
        .groupBy(col("user_id"), col("wk")).agg(count(lit(1)).as("_n"))
        .withColumn("cwk", min(col("wk")).over(w))
        .select(col("cwk"), expr("datediff(wk, cwk) div 7").as("offset_w"))
        .groupBy(col("cwk"), col("offset_w"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cwk", "offset_w")
    }),

    // Trailing-7-day distinct users per day — the "rolling DAU/WAU"
    // report. A RANGE-frame COUNT(DISTINCT) window doesn't exist in
    // either engine (and a collect_set frame would buffer the user set
    // per row); the scalable rewrite is contribution explode: each
    // event day contributes to exactly 7 report days, so the fan-out
    // is a constant ×7 on the DISTINCT (day, user) set — linear scan,
    // one hash distinct, one hash aggregate, no per-row set state.
    // Report days are restricted to days that actually have events
    // (join with the observed-day set) so the output needs no
    // calendar fixture.
    "q_rolling_distinct" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
      val days = e.select(col("d").as("wd")).distinct()
      e.select(explode(expr("sequence(d, date_add(d, 6))")).as("wd"),
          col("user_id"))
        .join(days.hint("shuffle_hash"), "wd")
        .groupBy(col("wd"))
        .agg(countDistinct(col("user_id")).as("u7"))
        .orderBy("wd")
    }),

    // Z-order layout assignment — the OPTIMIZE ZORDER story: interleave
    // the bits of two query dimensions so ONE sort key clusters BOTH,
    // then any per-file min/max stats prune point/range predicates on
    // either dimension. This query computes the 16-bit Morton code of
    // (user bucket, event day), assigns rows to z-range "files" (512 codes per file),
    // and reports each file's per-dimension min/max envelope — the
    // artifact a scan would prune against. At 100 TB this runs once at
    // write time (one range exchange on z) and every later two-dim
    // query reads a fraction of the files; the 8+8-bit interleave is
    // plain shift/mask arithmetic, exact in both engines.
    "q_zorder_layout" -> ((s, dir) => {
      val x = "pmod(user_id, 256)"
      val y = "cast(datediff(to_date(ts), date'2024-01-01') as bigint)"
      val z = (0 until 8).map(i =>
        s"shiftleft(shiftright($x, $i) & 1, ${2 * i}) + " +
          s"shiftleft(shiftright($y, $i) & 1, ${2 * i + 1})")
        .mkString(" + ")
      Tables.events(s, dir)
        .select(expr(x).as("xb"), expr(y).as("yb"), expr(z).as("z"))
        .withColumn("file_id", expr("z div 512"))
        .groupBy(col("file_id"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("xb")).as("min_user"), max(col("xb")).as("max_user"),
          min(col("yb")).as("min_day"), max(col("yb")).as("max_day"))
        .orderBy("file_id")
    }),

    // The pruning-effectiveness row BEHIND q_zorder_layout — the
    // number that justifies paying the z-order write: for one fixed
    // two-dimensional predicate (user bucket 64–79 AND day 10–19),
    // how many "files" do the per-file min/max envelopes let a scan
    // SKIP under the natural day-partitioned layout vs the z-ordered
    // one? The day layout prunes perfectly on day and not at all on
    // user (every surviving file is read whole); the Morton layout
    // prunes on BOTH, so its scanned-row fraction approaches the true
    // selectivity. Exact integers end to end; both censuses are
    // second aggregates over file-count-bounded frames off one events
    // scan each, and the exact-match count rides as a broadcast 1-row
    // aggregate.
    "q_zorder_prune" -> ((s, dir) => {
      val x = "pmod(user_id, 256)"
      val y = "cast(datediff(to_date(ts), date'2024-01-01') as bigint)"
      val z = (0 until 8).map(i =>
        s"shiftleft(shiftright($x, $i) & 1, ${2 * i}) + " +
          s"shiftleft(shiftright($y, $i) & 1, ${2 * i + 1})")
        .mkString(" + ")
      val e = Tables.events(s, dir)
        .select(expr(x).as("xb"), expr(y).as("yb"), expr(z).as("z"))
      def census(layout: String, fileExpr: String) =
        e.withColumn("file_id", expr(fileExpr))
          .groupBy(col("file_id"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("xb")).as("mnx"), max(col("xb")).as("mxx"),
            min(col("yb")).as("mny"), max(col("yb")).as("mxy"))
          .select(col("n_rows"),
            (col("mxx") >= 64 && col("mnx") <= 79 &&
              col("mxy") >= 10 && col("mny") <= 19).as("kept"))
          .agg(count(lit(1)).as("n_files"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("n_files_kept"),
            sum(col("n_rows")).as("n_rows_total"),
            sum(when(col("kept"), col("n_rows")).otherwise(0L))
              .as("n_rows_scanned"))
          .select(lit(layout).as("layout"), col("n_files"),
            col("n_files_kept"), col("n_rows_total"), col("n_rows_scanned"),
            round(col("n_rows_scanned").cast("double") /
              col("n_rows_total").cast("double"), 4).cast("double")
              .as("scan_frac"))
      val exact = e
        .filter(col("xb").between(64, 79) && col("yb").between(10, 19))
        .agg(count(lit(1)).as("n_rows_match"))
      census("linear_day", "yb").unionByName(census("zorder", "z div 512"))
        .crossJoin(broadcast(exact))
        .orderBy("layout")
    }),

    // Distribution DRIFT between two corpus windows — the PSI
    // (population stability index) monitor every production feature
    // store runs before trusting a retrain: token-length distribution
    // of the "current" half (odd doc_ids) against the "reference"
    // half (even), 8 fixed-width bins, add-1 smoothing so empty bins
    // contribute a finite term, PSI = Σ (p_cur − p_ref)·ln(p_cur/p_ref)
    // with the standard 0.1 / 0.25 verdict thresholds. Numerics (the
    // q_doc_surprisal discipline): probabilities in exact integer
    // micro-units (BIGINT div), each ln over ONE double ratio of
    // exactly-converted integers rounded to 6 dp as DECIMAL(18,6),
    // term = exact integer diff × that decimal — so the 8-term sum is
    // an exact decimal in any order, and both engines derive the
    // identical PSI. Scale shape: one scan-side projection → one
    // 8-row aggregate; the dense bin grid and the 1-row totals ride
    // as broadcast frames; the psi_total window runs over the 8-row
    // frame (bounded by construction).
    "q_drift_psi" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.fan(Tables(s, dir, "documents"))
        .select((col("doc_id") % 2 === 0).as("is_ref"),
          expr(psiTokenBin).as("bin"))
      val counts = d.groupBy(col("bin"))
        .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("c_ref"),
          sum(when(!col("is_ref"), 1L).otherwise(0L)).as("c_cur"))
      psiOf(s, counts, 8).orderBy("bin")
    }),

    // Per-user daily-volume anomaly screen — the observability query a
    // pipeline runs over its own event stream (bot spikes, stuck
    // producers): each user's daily counts z-scored against their own
    // history, days above 3σ flagged. Exact-integer sums of counts and
    // squares (DECIMAL through the exchange, q_stats discipline), ONE
    // double conversion, and the unrounded z drives the filter so both
    // engines cut the identical row set; constant-history users
    // (variance 0) are excluded rather than divided by zero. Plan: two
    // aggregates sharing the daily frame + one user-keyed join — the
    // stats side is one row per user, exactly what the join streams.
    "q_anomaly_events" -> ((s, dir) => {
      val d6 = "decimal(38,6)"
      val daily = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"))
        .groupBy(col("user_id"), col("d"))
        .agg(count(lit(1)).as("n"))
      val stats = daily.groupBy(col("user_id"))
        .agg(count(lit(1)).as("days"),
          sum(col("n").cast(d6)).cast("double").as("sx"),
          sum((col("n") * col("n")).cast(d6)).cast("double").as("sx2"))
      daily.join(stats, "user_id")
        .filter(col("days") * col("sx2") - col("sx") * col("sx") > 0)
        .withColumn("z", (col("n") - col("sx") / col("days")) /
          sqrt((col("days") * col("sx2") - col("sx") * col("sx")) /
            (col("days") * (col("days") - 1))))
        .filter(col("z") > 3.0)
        .select(col("user_id"), col("d"), col("n"), Num.r(col("z"), 4).as("z"))
        .orderBy("user_id", "d")
    }),

    // Rendezvous (highest-random-weight) sharding — the STABLE shard
    // assignment a 100 TB corpus store needs (Thaler & Ravishankar
    // 1998; the scheme inside Ceph/CRUSH-style placement): each doc
    // hashes once per shard id and lands on the argmax. The query
    // demonstrates the property that justifies the scheme: growing 8
    // shards to 9 moves ONLY docs whose new-shard hash wins — every
    // mover lands on the NEW shard (moved_in = 0 for shards 0–7, and
    // shard 8 receives ≈ 1/9 of the corpus), where a mod-N split would
    // reshuffle ~8/9 of all docs. Weights compare as md5 hex strings
    // (lexicographic = numeric on hex — the q_sample_hash idiom);
    // assignment is ONE scan, a 9-way generate, and one max_by
    // aggregate per doc — map-side partials, a single doc-keyed
    // exchange, then a 9-row matrix.
    "q_shard_rendezvous" -> ((s, dir) => {
      Tables.fan(Tables(s, dir, "documents"))
        .select(col("doc_id"), explode(expr("sequence(0, 8)")).as("s"))
        .withColumn("w", md5(concat(col("doc_id").cast("string"),
          lit(":"), col("s").cast("string"))))
        .groupBy(col("doc_id"))
        .agg(
          max_by(col("s"), when(col("s") <= 7, col("w"))).as("shard8"),
          max_by(col("s"), col("w")).as("shard9"))
        .groupBy(col("shard9").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("shard8") =!= col("shard9")).cast("long")).as("moved_in"))
        .orderBy("shard")
    }),

    // Column profiling — the ANALYZE TABLE / data-quality artifact:
    // per-column row count, null count, distinct count, min/max, all
    // EXACT. One pass computes every non-distinct stat map-side; the
    // distinct counts go through Spark's standard two-phase distinct
    // expansion. Output is long-form (one row per column) so the
    // profile of a 400-column table is rows, not a 2000-column row.
    // At 100 TB: this is the scheduled stats job that feeds CBO and
    // freshness monitors; swap the exact distinct for approx HLL
    // (q_approx_distinct) when the cardinality itself is corpus-sized.
    "q_profile" -> ((s, dir) => {
      // examined r20: fanning this scan measured WORSE (1.4 -> 2.1 s —
      // the exchange moves every row to spread a 0.8 s expand; the
      // distinct expansion's first exchange already spreads the rest)
      val l = Tables(s, dir, "lineitem")
      val stats = l.agg(
        count(lit(1)).as("n"),
        sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("null_qty"),
        countDistinct(col("l_quantity")).as("nd_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        sum(when(col("l_returnflag").isNull, 1L).otherwise(0L)).as("null_rf"),
        countDistinct(col("l_returnflag")).as("nd_rf"),
        sum(when(col("l_extendedprice").isNull, 1L).otherwise(0L)).as("null_px"),
        countDistinct(col("l_extendedprice")).as("nd_px"),
        min(col("l_extendedprice")).as("min_px"),
        max(col("l_extendedprice")).as("max_px"))
      stats.selectExpr(
        """stack(3,
             'l_quantity', n, null_qty, nd_qty, min_qty, max_qty,
             'l_returnflag', n, null_rf, nd_rf, cast(null as double), cast(null as double),
             'l_extendedprice', n, null_px, nd_px, min_px, max_px
           ) as (col_name, n_rows, n_null, n_distinct, min_val, max_val)""")
        .orderBy("col_name")
    }),

    // CDC merge (MERGE INTO semantics without a table format): base =
    // orders; the change stream re-prices every 1-URGENT order +10%
    // (WHEN MATCHED UPDATE) and retires every filled 5-LOW order
    // (WHEN MATCHED DELETE). One full-outer join on the key, coalesce
    // per column, anti-filter for deletes — the exact plan a MERGE
    // compiles to. Scale shape: a single co-partitioned shuffle join
    // on o_orderkey (bucket both sides on the merge key to make the
    // daily merge exchange-free — BucketingSpec pins that plan); the
    // change stream is typically ≪ base, so AQE's runtime size turns
    // it into a broadcast when it fits.
    // SCD TYPE-2 history build — the other half of the CDC story
    // (q_merge_upsert is the type-1 overwrite): collapse each user's
    // event-type stream into validity intervals [valid_from, valid_to)
    // with version numbers and a current flag — the
    // dimension-table-history artifact every warehouse maintains.
    // Consecutive duplicates collapse first (lag ≠ current), then
    // lead() closes each interval — two frames on ONE user-keyed
    // sort, join-free (the as-of discipline). Event-id tiebreak makes
    // the interval build deterministic under equal timestamps.
    "q_scd2_history" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"), col("event_type"))
        .withColumn("changed",
          lag(col("event_type"), 1).over(w).isNull ||
            lag(col("event_type"), 1).over(w) =!= col("event_type"))
        .filter(col("changed"))
        .withColumn("version", row_number().over(w))
        .withColumn("valid_to", lead(col("us"), 1).over(w))
        .select(col("user_id"), col("version"), col("event_type"),
          col("us").as("valid_from_us"), col("valid_to").as("valid_to_us"),
          col("valid_to").isNull.as("is_current"))
        .orderBy("user_id", "version")
    }),

    // Contiguous global ID assignment (the scalable zipWithIndex):
    // every training pipeline needs stable dense row ids 0..N-1
    // before sharding/packing, and the naive row_number() OVER
    // (ORDER BY key) is a single-reducer global sort — the one shape
    // that cannot survive 100 TB. The two-pass redesign: (1) a
    // map-side-combined per-shard count (S rows, S = 32 here; at
    // cluster scale S = shuffle parallelism), prefix-summed into
    // shard offsets by a window over the S-row frame; (2) a
    // row_number per SHARD — S independent partition sorts, no
    // global exchange — plus the broadcast offsets join. gid =
    // offset(shard) + rn − 1 is contiguous and deterministic; the
    // shard function (doc_id % S) is plain arithmetic so both
    // engines derive identical ids, not merely a permutation.
    "q_global_ids" -> ((s, dir) =>
      globalIdsOn(Tables.fan(Tables(s, dir, "documents")).select(col("doc_id")))
        .orderBy("doc_id")),

    // PageRank over the clickstream transition graph — the classic
    // link-analysis quality signal a crawl pipeline computes to rank
    // pages before sampling training data. Nodes are the event
    // payload's page ids (props.k), edges the per-user consecutive
    // transitions (lag over the session order), weighted by count;
    // pages with src % 7 == 0 keep no out-edges (terminal/checkout
    // pages) so the DANGLING-mass redistribution — the path the real
    // web graph exercises massively — is genuinely computed, not
    // dead code. Numerics: exact integer arithmetic end to end (the
    // repo discipline) — ranks in 1e12 scale units, per-edge flow
    // r·w div out_w, damping (15·base + 85·(inflow + dangling/n))
    // div 100, all BIGINT floor ops, so three unrolled iterations
    // hash-match DuckDB exactly. Scale shape: ONE event-scale window
    // pass (the q_sessionize exchange) collapses the stream into a
    // V²-bounded edge census; every iteration after that is keyed
    // joins over V-sized frames (at web scale V is data-sized and
    // the same keyed-join plan shuffles on node id — no per-iteration
    // event rescan because the census is checkpointed once).
    "q_pagerank" -> ((s, dir) => {
      val (nodes, edges, outw, ranks) = pagerankFrames(s, dir)
      val inw = edges.groupBy(col("dst").as("node"))
        .agg(sum(col("w")).as("in_w"))
      nodes
        .join(ranks.last, Seq("node"))
        .join(outw.withColumnRenamed("src", "node"), Seq("node"), "left")
        .join(inw, Seq("node"), "left")
        .select(col("node"), col("rank"),
          coalesce(col("ow"), lit(0L)).as("out_w"),
          coalesce(col("in_w"), lit(0L)).as("in_w"))
        .orderBy(col("rank").desc, col("node"))
    }),

    // HITS hubs & authorities (Kleinberg) — the second classic
    // link-analysis pair beside PageRank: a page is a good AUTHORITY
    // if good hubs point at it, a good HUB if it points at good
    // authorities — the navigational-vs-content split a crawl
    // pipeline uses to separate index/portal pages from destination
    // pages. Two mutual-reinforcement iterations over the same
    // checkpointed edge census, weighted by transition counts, in
    // exact integer arithmetic: scores normalize by total-sum (the
    // 1-norm variant) via the two-step floor division
    // a ÷ (Σa div SCALE), so both engines derive identical BIGINTs.
    // Overflow routing: the per-edge product w·score and its sum run
    // in DECIMAL(38,0) on the Spark side and HUGEINT on the DuckDB
    // side, so Σ w·score ≤ totalWeight·SCALE is safe to 1e26
    // transitions (vs the old int64 ~9M cliff, where Spark's BIGINT
    // sum wrapped silently while DuckDB errored — the engines now
    // agree far past any realistic graph). Normalized scores are
    // ≤ SCALE by construction, so they cast back to BIGINT losslessly.
    "q_hits" -> ((s, dir) => hits(s, dir)),

    // PERSONALIZED PageRank (TrustRank shape): the teleport vector
    // concentrates on a trusted seed set (node % 10 == 0) instead of
    // the uniform base — the crawl-frontier prioritization and spam-
    // demotion variant: rank now measures proximity to the seeds, and
    // dangling mass teleports back to the seeds too. Same exact
    // integer chain and the same checkpointed graph census; only the
    // teleport terms change, so the twin mirrors it CASE for CASE.
    "q_pagerank_seeded" -> ((s, dir) =>
      seededRanks(s, dir, col("node") % 10 === 0)
        .select(col("node"), col("seed").as("is_seed"), col("rank"))
        .orderBy(col("rank").desc, col("node"))),

    // PageRank mass ledger — per iteration the total rank mass and
    // the share parked on dangling nodes. Mass is conserved up to
    // the documented floor losses (every div drops < 1 unit), so the
    // totals are a cross-engine-exact audit of the iteration
    // internals, not a float eyeball; the dangling share shows the
    // redistribution actually moving mass back into the graph.
    "q_pagerank_mass" -> ((s, dir) => {
      val (_, _, outw, ranks) = pagerankFrames(s, dir)
      ranks.zipWithIndex.map { case (r, i) =>
        r.join(outw, r("node") === outw("src"), "left")
          .agg(sum(col("rank")).as("total_rank"),
            coalesce(sum(when(col("ow").isNull, col("rank"))
              .otherwise(lit(0L))), lit(0L)).as("dangling_mass"))
          .select(lit(i).as("iter"), col("total_rank"),
            col("dangling_mass"))
      }.reduce(_ unionAll _).orderBy("iter")
    }),

    // PageRank to CONVERGENCE — see [[pagerankConverged]].
    "q_pagerank_converged" -> ((s, dir) => pagerankConverged(s, dir)),

    // Snapshot DIFF census — the change-data-feed audit beside
    // q_merge_upsert's MERGE: given two table versions, report per
    // change class (inserted / deleted / updated / unchanged) the row
    // count and the exact net value delta — the reconciliation row a
    // data-ops team reads after every pipeline run. The "current"
    // snapshot is derived deterministically from the base (urgent
    // rows price-bumped in exact integer cents, 5-LOW finished rows
    // deleted, pending rows cloned under key −k — negative keys can
    // never collide with the base's). Scale shape: ONE full-outer
    // join on the key (the honest CDC shuffle both sides pay) into a
    // 4-row census; deltas are exact BIGINT cents so the census
    // hashes identically at any dop.
    "q_snapshot_diff" -> ((s, dir) => {
      val base = Tables(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          expr("cast(round(o_totalprice * 100) as bigint)").as("v"),
          col("o_orderstatus").as("st"), col("o_orderpriority").as("pr"))
      val current = base
        .withColumn("v", when(col("pr") === "1-URGENT",
          expr("(v * 11) div 10")).otherwise(col("v")))
        .filter(!(col("pr") === "5-LOW" && col("st") === "F"))
        .unionByName(base.filter(col("st") === "P")
          .select((-col("k")).as("k"), col("v"), col("st"), col("pr")))
      base.select(col("k"), col("v").as("v_a"))
        .join(current.select(col("k"), col("v").as("v_b")), Seq("k"),
          "full_outer")
        .withColumn("change",
          when(col("v_a").isNull, "inserted")
            .when(col("v_b").isNull, "deleted")
            .when(col("v_a") =!= col("v_b"), "updated")
            .otherwise("unchanged"))
        .groupBy(col("change"))
        .agg(count(lit(1)).as("n_rows"),
          sum(coalesce(col("v_b"), lit(0L)) - coalesce(col("v_a"), lit(0L)))
            .as("net_delta_cents"))
        .orderBy("change")
    }),

    "q_merge_upsert" -> ((s, dir) => {
      val base = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
      val changes = Tables(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" ||
          (col("o_orderpriority") === "5-LOW" && col("o_orderstatus") === "F"))
        .select(col("o_orderkey"),
          when(col("o_orderpriority") === "1-URGENT", "U").otherwise("D")
            .as("op"),
          Num.r(col("o_totalprice") * 1.1).as("new_price"))
      base.join(changes, Seq("o_orderkey"), "full_outer")
        .filter(col("op").isNull || col("op") =!= "D")
        .select(col("o_orderkey"),
          when(col("op") === "U", col("new_price"))
            .otherwise(col("o_totalprice")).as("totalprice"),
          when(col("op") === "U", lit("U"))
            .otherwise(col("o_orderstatus")).as("status"))
        .orderBy("o_orderkey")
    }))

  /** The PSI core shared by the corpus-drift row, the streamed
    * monitor, and the IVF index-staleness row: sparse per-bin
    * (bin, c_ref, c_cur) counts → one term row per bin of the dense
    * 0..nBins−1 grid plus the total and the standard 0.1/0.25
    * verdict. Numerics (the q_doc_surprisal discipline): add-1
    * smoothed probabilities in exact integer micro-units (BIGINT
    * div by n + nBins), ONE double-ratio ln per bin over
    * exactly-converted integers rounded to 6 dp as DECIMAL(18,6),
    * term = exact integer diff × that decimal — so the sum is an
    * exact decimal in any order and both engines derive the
    * identical PSI. The grid and 1-row totals ride broadcast; the
    * psi_total window covers the nBins-row frame (bounded by
    * construction). */
  private[graft] def psiOf(s: org.apache.spark.sql.SparkSession,
      counts: DataFrame, nBins: Int): DataFrame = {
    val grid = s.range(nBins).select(col("id").as("bin"))
    val all = Window.partitionBy(lit(1))
    grid.join(broadcast(counts), Seq("bin"), "left")
      .select(col("bin"), coalesce(col("c_ref"), lit(0L)).as("c_ref"),
        coalesce(col("c_cur"), lit(0L)).as("c_cur"))
      // totals via windows over the DENSE nBins-row frame (every bin
      // value lands on the grid by construction, so these equal the
      // sparse-count sums) — a totals AGGREGATE here re-planned the
      // whole counts subtree and re-scanned the corpus (measured: 2
      // scans in the q_drift_psi plan); the window costs one bounded
      // single-partition pass over ≤ nBins rows instead
      .withColumn("n_ref", sum(col("c_ref")).over(all))
      .withColumn("n_cur", sum(col("c_cur")).over(all))
      // ln products stay in double — BIGINT products would overflow
      // first at ~1e12-row windows
      .withColumn("p_ref_u",
        expr(s"((c_ref + 1) * 1000000) div (n_ref + $nBins)"))
      .withColumn("p_cur_u",
        expr(s"((c_cur + 1) * 1000000) div (n_cur + $nBins)"))
      .withColumn("lnr", expr(
        s"cast(round(ln((cast(c_cur + 1 as double) * cast(n_ref + $nBins as double)) / " +
          s"(cast(c_ref + 1 as double) * cast(n_cur + $nBins as double))), 6) " +
          "as decimal(18,6))"))
      .withColumn("term", expr(
        "cast(p_cur_u - p_ref_u as decimal(18,0)) * lnr"))
      .withColumn("psi_u",
        sum(col("term")).over(Window.partitionBy(lit(1))))
      .select(col("bin"), col("c_ref"), col("c_cur"),
        expr("cast(round(cast(term as double) / 1e6, 6) as double)")
          .as("psi_term"),
        expr("cast(round(cast(psi_u as double) / 1e6, 6) as double)")
          .as("psi_total"),
        expr("""CASE WHEN psi_u < 100000 THEN 'stable'
                    WHEN psi_u < 250000 THEN 'moderate'
                    ELSE 'shifted' END""").as("verdict"))
  }

  /** The token-length drift bin — shared by the batch row and the
    * streamed monitor so their binning can never diverge. */
  private[graft] val psiTokenBin: String =
    "least(7, size(filter(split(text, ' '), x -> x <> '')) div 16)"

  /** Frame-taking contiguous-ID assigner (the q_global_ids body,
    * shared with the streaming ingest): any frame with a `doc_id`
    * column gets (doc_id, shard, gid) with gid dense 0..N−1. The
    * two-pass shape documented on the query: per-shard counts prefix-
    * summed over the S-row frame (the one SinglePartition exchange),
    * per-SHARD row_number (S independent partition sorts, never a
    * global one), broadcast offsets join. Deterministic in the input
    * SET — both engines and every dop derive identical ids. */
  private[graft] def globalIdsOn(docs: DataFrame, S: Int = 32): DataFrame = {
    val d = docs.select(col("doc_id"),
      pmod(col("doc_id"), lit(S.toLong)).as("shard"))
    val offsets = d.groupBy(col("shard"))
      .agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(
        sum(col("c")).over(Window.orderBy(col("shard"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("shard"), col("off"))
    d.withColumn("rn",
        row_number().over(Window.partitionBy(col("shard")).orderBy(col("doc_id"))))
      .join(broadcast(offsets), Seq("shard"))
      .select(col("doc_id"), col("shard"),
        (col("off") + col("rn") - 1L).as("gid"))
  }

  /** The clickstream transition graph shared by the PageRank family:
    * ONE event-scale window pass (lag over the per-user session
    * order) collapsed into the checkpointed V²-bounded edge census,
    * its node set, and per-source out-weights. The census is the
    * transition ALPHABET, not the event stream, and every round of the
    * five link-analysis queries re-reads it, so the event-scale pass
    * runs once per session: the three frames live in the
    * standing-index memo (`click_edges`, `click_nodes`, `click_outw`),
    * the same in-session lifecycle as the ANN graph family — on a
    * cluster the transition census IS the persisted table every rank
    * query walks. */
  private def clickGraph(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    def memo(tag: String)(b: => DataFrame): DataFrame =
      graft.llm.Similarity.standing(s, dir, tag)(b)
    val edges = memo("click_edges") {
      val events = Tables.events(s, dir)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      // Explicit user_id repartition at fan width (§2.5): the fixture's
      // single-row-group scan plus AQE's byte-based coalescing otherwise
      // run the json parse + session window + edge census in 1-2 tasks;
      // a user-specified width is AQE-exempt and satisfies the window's
      // clustering, so the whole pass runs wide with no extra exchange.
      val wide = {
        val n = Tables.fanWidth(s)
        if (n <= 1) events else events.repartition(n, col("user_id"))
      }
      wide
        .select(col("user_id"), col("ts"), col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .where(col("k").isNotNull)
        .withColumn("src", lag(col("k"), 1).over(w))
        .where(col("src").isNotNull && col("src") % 7 =!= 0)
        .groupBy(col("src"), col("k").as("dst"))
        .agg(count(lit(1)).as("w"))
        .localCheckpoint(true)
    }
    val nodes = memo("click_nodes") {
      edges.select(col("src").as("node"))
        .unionAll(edges.select(col("dst").as("node"))).distinct()
        .localCheckpoint(true)
    }
    val outw = memo("click_outw") {
      edges.groupBy(col("src")).agg(sum(col("w")).as("ow"))
        .localCheckpoint(true)
    }
    (nodes, edges, outw)
  }

  /** Rank units: every PageRank/HITS score vector sums to ~1e12. */
  private val RankScale = 1000000000000L

  /** The 1-row (n, base) frame of the rank family: `n`, an aggregate
    * over `nodes` (the teleport set's size), and the teleport base
    * RankScale div n — joined in by a broadcast cross join, never
    * collected. CASE-guarded: a degenerate corpus with no transitions
    * has n = 0, and ANSI integral divide would raise at build time. */
  private def rankBase(nodes: DataFrame, n: Column): DataFrame =
    nodes.agg(n.as("n"))
      .withColumn("base", expr("case when n = 0 then cast(0 as bigint) " +
        s"else $RankScale div n end"))
      .localCheckpoint(true)

  /** Round-0 ranks: `nodes` plus each node's teleport `share`. */
  private def rank0(nodes: DataFrame, base: DataFrame,
      share: String): DataFrame =
    nodes.crossJoin(base)
      .select(nodes.columns.map(col) :+ expr(share).as("rank"): _*)

  /** ONE damped exact-integer PageRank round, shared by every rank
    * query: per-edge flow (rank·w) div ow, the dangling mass split
    * dm div n, damping (15·share + 85·(inflow + dshare)) div 100 — all
    * BIGINT floors. `share` (each node's teleport term) and `receives`
    * (whether it takes a dangling share) are SQL over `nodes` ⋈ `base`:
    * uniform PageRank passes ("base", "true") with n = every node, the
    * seeded variant (seed ? base : 0, "seed") with n = the seeds. The
    * result keeps the columns of `nodes` and adds `rank`. */
  private def prRound(nodes: DataFrame, edges: DataFrame, outw: DataFrame,
      base: DataFrame, share: String, receives: String)(
      r: DataFrame): DataFrame = {
    val contrib = edges
      .join(r.select(col("node").as("src"), col("rank")), Seq("src"))
      .join(outw, Seq("src"))
      .select(col("dst").as("node"),
        expr("(rank * w) div ow").as("flow"))
      .groupBy(col("node")).agg(sum(col("flow")).as("inflow"))
    val dang = r.join(outw, r("node") === outw("src"), "left_anti")
      .agg(coalesce(sum(col("rank")), lit(0L)).as("dm"))
      .crossJoin(base)
      .select(expr("case when n = 0 then cast(0 as bigint) " +
        "else dm div n end").as("dshare"))
    nodes.join(contrib, Seq("node"), "left")
      .crossJoin(dang).crossJoin(base)
      .select(nodes.columns.map(col) :+ expr(
        s"(15 * ($share) + 85 * (coalesce(inflow, 0L) + (case when " +
          s"$receives then dshare else cast(0 as bigint) end))) div 100")
        .as("rank"): _*)
  }

  /** The PageRank stage shared by the rank row and the mass ledger:
    * the click graph → three exact-integer damped uniform rounds.
    * Returns (nodes, edges, out-weights, ranks r0..r3). */
  private def pagerankFrames(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, Seq[DataFrame]) = {
    val (nodes, edges, outw) = clickGraph(s, dir)
    val base = rankBase(nodes, count(lit(1)))
    val ranks = (1 to 3).scanLeft(rank0(nodes, base, "base")) {
      case (r, _) => prRound(nodes, edges, outw, base, "base", "true")(r)
    }
    (nodes, edges, outw, ranks)
  }

  /** Personalized PageRank (body of q_pagerank_seeded): three damped
    * rounds whose teleport share and dangling mass go to the nodes
    * where `seed` holds, split n = #seeds ways. Returns (node, seed,
    * rank); with every node a seed it is q_pagerank's rank vector. */
  private[graft] def seededRanks(s: SparkSession, dir: String,
      seed: Column): DataFrame = {
    val (nodes0, edges, outw) = clickGraph(s, dir)
    val nodes = nodes0.withColumn("seed", seed)
    val base = rankBase(nodes,
      sum(when(col("seed"), lit(1L)).otherwise(lit(0L))))
    val share = "case when seed then base else cast(0 as bigint) end"
    (1 to 3).foldLeft(rank0(nodes, base, share)) { case (r, _) =>
      prRound(nodes, edges, outw, base, share, "seed")(r)
    }
  }

  /** Iteration cap and ε of the CONVERGED PageRank row — shared by the
    * Spark loop and the unrolled twin so both stop at the same round.
    * ε = 1% of the 1e12 total mass: the damped residual decays ~0.85×
    * per round, so convergence lands near round 25 at any SF (the cap
    * is headroom, not the expected exit). */
  private[graft] val PrEps = 10000000000L
  private[graft] val PrCap = 40

  /** PageRank to CONVERGENCE — the production form of the fixed-round
    * family: iterate [[prRound]] under [[Fixpoint]] until the L1
    * residual Σ|rᵢ − rᵢ₋₁| drops to ε (or the cap), then report every
    * node's converged rank WITH the executed round count and the final
    * residual. The twin unrolls the cap and selects the first ε-round,
    * so the gate pins rank vector AND round count. At 100 TB: the
    * event-scale window pass runs once (checkpointed census); every
    * round after is keyed joins over V-sized frames. */
  private def pagerankConverged(s: SparkSession, dir: String): DataFrame = {
    val (nodes, edges, outw) = clickGraph(s, dir)
    val base = rankBase(nodes, count(lit(1)))
    val fp = Fixpoint.iterate(rank0(nodes, base, "base").localCheckpoint(true),
        start = Long.MaxValue, cap = PrCap)(
      step = prRound(nodes, edges, outw, base, "base", "true"),
      measure = (prev, next) => next
        .join(prev.withColumnRenamed("rank", "prev"), Seq("node"))
        .agg(coalesce(sum(abs(col("rank") - col("prev"))), lit(0L)))
        .head().getLong(0),
      done = (_, residual) => residual <= PrEps)
    fp.state.select(col("node"), col("rank"),
        lit(fp.rounds).cast("int").as("n_iter"),
        lit(fp.last).as("residual"))
      .orderBy(col("rank").desc, col("node"))
  }

  /** HITS hubs and authorities (body of q_hits): two fixed
    * mutual-reinforcement rounds over the click graph, each score
    * 1-norm normalized by the two-step floor a ÷ (Σa div RankScale). */
  private def hits(s: SparkSession, dir: String): DataFrame = {
    val (nodes, edges, _) = clickGraph(s, dir)
    val base = rankBase(nodes, count(lit(1)))
    def norm(scored: DataFrame, cname: String, out: String) = {
      val tot = scored.agg(coalesce(sum(col(cname)), lit(0L))
        .cast("decimal(38,0)").as("tot"))
      nodes.join(scored, Seq("node"), "left").crossJoin(tot)
        .select(col("node"), expr(
          s"cast(case when tot < $RankScale then coalesce($cname, 0) " +
            s"else coalesce($cname, 0) div (tot div $RankScale) end " +
            "as bigint)")
          .as(out))
    }
    val init = nodes.crossJoin(base).select(col("node"),
      col("base").as("hub"), col("base").as("auth"))
    val fin = (1 to 2).foldLeft(init) { case (r, _) =>
      val aN = norm(edges
        .join(r.select(col("node").as("src"), col("hub")), Seq("src"))
        .select(col("dst").as("node"),
          (col("w").cast("decimal(38,0)") * col("hub")).as("p"))
        .groupBy(col("node")).agg(sum(col("p")).as("a1")), "a1", "auth")
      val hN = norm(edges
        .join(aN.select(col("node").as("dst"), col("auth")), Seq("dst"))
        .select(col("src").as("node"),
          (col("w").cast("decimal(38,0)") * col("auth")).as("p"))
        .groupBy(col("node")).agg(sum(col("p")).as("h1")), "h1", "hub")
      hN.join(aN, Seq("node"))
    }
    fin.select(col("node"), col("hub"), col("auth").as("authority"))
      .orderBy(col("authority").desc, col("node"))
  }

  /** Shared CTE chain of the PageRank twins: the same edge census and
    * the three exact-integer iterations, unrolled (DuckDB HUGEINT
    * sums are CAST back to BIGINT so both engines stay in the same
    * 64-bit floor arithmetic). */
  private val pagerankCtes: String = {
    val iters = (1 to 3).map(i => s"""
      i$i AS (SELECT e.dst AS node,
               CAST(sum((r.rank * e.w) // o.ow) AS BIGINT) AS inflow
             FROM edges e JOIN r${i - 1} r ON r.node = e.src
             JOIN outw o ON o.src = e.src GROUP BY 1),
      d$i AS (SELECT CAST(CASE WHEN (SELECT n FROM nn) = 0 THEN 0
               ELSE coalesce(sum(rank), 0) // (SELECT n FROM nn) END
               AS BIGINT) AS dshare
             FROM r${i - 1} WHERE node NOT IN (SELECT src FROM edges)),
      r$i AS (SELECT nd.node,
               CAST((15 * (SELECT base FROM nn) + 85 *
                 (coalesce(i$i.inflow, 0) + (SELECT dshare FROM d$i)))
                 // 100 AS BIGINT) AS rank
             FROM nodes nd LEFT JOIN i$i USING (node))""").mkString(",")
    s"""
      WITH ev AS (SELECT user_id, ts, event_id,
             CAST(json_extract_string(props, '$$.k') AS INT) AS k
           FROM events
           WHERE CAST(json_extract_string(props, '$$.k') AS INT)
             IS NOT NULL),
      tr AS (SELECT lag(k) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS src, k AS dst
             FROM ev),
      edges AS (SELECT src, dst, count(*) AS w FROM tr
                WHERE src IS NOT NULL AND src % 7 <> 0 GROUP BY 1, 2),
      nodes AS (SELECT DISTINCT node FROM
                 (SELECT src AS node FROM edges
                  UNION ALL SELECT dst FROM edges)),
      outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow
               FROM edges GROUP BY 1),
      nn AS (SELECT count(*) AS n,
               CASE WHEN count(*) = 0 THEN 0
                    ELSE 1000000000000 // count(*) END AS base
             FROM nodes),
      r0 AS (SELECT node, CAST(base AS BIGINT) AS rank FROM nodes, nn),$iters"""
  }

  /** Converged-variant CTE suffix — appended to [[pagerankCtes]]: the
    * SAME damped round unrolled to the CAP with an L1 residual per
    * round, then the FIRST ε-round is selected — the twin of the
    * Spark side's data-driven loop exit (the prefix-parameterized
    * generator pattern: rounds past convergence compute harmlessly
    * in the twin; the selection pins the same round the loop stopped
    * at). cr$$i frames are ≤ V rows, so the cap-40 unroll stays tiny
    * next to the one event-scale census they all share. */
  private val pagerankConvergedCtes: String = {
    val rounds = (1 to PrCap).map(i => s"""
      ci$i AS (SELECT e.dst AS node,
               CAST(sum((r.rank * e.w) // o.ow) AS BIGINT) AS inflow
             FROM edges e JOIN cr${i - 1} r ON r.node = e.src
             JOIN outw o ON o.src = e.src GROUP BY 1),
      cd$i AS (SELECT CAST(CASE WHEN (SELECT n FROM nn) = 0 THEN 0
               ELSE coalesce(sum(rank), 0) // (SELECT n FROM nn) END
               AS BIGINT) AS dshare
             FROM cr${i - 1} WHERE node NOT IN (SELECT src FROM edges)),
      cr$i AS (SELECT nd.node,
               CAST((15 * (SELECT base FROM nn) + 85 *
                 (coalesce(ci$i.inflow, 0) + (SELECT dshare FROM cd$i)))
                 // 100 AS BIGINT) AS rank
             FROM nodes nd LEFT JOIN ci$i USING (node)),
      cres$i AS (SELECT CAST(coalesce(sum(abs(a.rank - b.rank)), 0)
                 AS BIGINT) AS res
             FROM cr$i a JOIN cr${i - 1} b ON a.node = b.node)""")
      .mkString(",")
    val resRows = (1 to PrCap)
      .map(i => s"SELECT $i AS i, (SELECT res FROM cres$i) AS res")
      .mkString(" UNION ALL ")
    val rankRows = (1 to PrCap)
      .map(i => s"SELECT $i AS i, node, rank FROM cr$i")
      .mkString(" UNION ALL ")
    s""",
      cr0 AS (SELECT node, rank FROM r0),$rounds,
      crs AS ($resRows),
      cpick AS (SELECT CAST(coalesce(min(i), $PrCap) AS INT) AS n_iter
                FROM crs WHERE res <= $PrEps),
      call AS ($rankRows)"""
  }

  /** Seeded-variant CTE suffix — appended to [[pagerankCtes]] (the
    * shared graph census; the uniform r-chain CTEs ride along unused,
    * which DuckDB tolerates). */
  private val pagerankSeededCtes: String = {
    val iters = (1 to 3).map(i => s"""
      si$i AS (SELECT e.dst AS node,
               CAST(sum((r.rank * e.w) // o.ow) AS BIGINT) AS inflow
             FROM edges e JOIN s${i - 1} r ON r.node = e.src
             JOIN outw o ON o.src = e.src GROUP BY 1),
      sd$i AS (SELECT CAST(CASE WHEN (SELECT ns FROM nn2) = 0 THEN 0
               ELSE coalesce(sum(rank), 0) // (SELECT ns FROM nn2) END
               AS BIGINT) AS dshare
             FROM s${i - 1} WHERE node NOT IN (SELECT src FROM edges)),
      s$i AS (SELECT n2.node, n2.seed,
               CAST((15 * (CASE WHEN n2.seed
                     THEN (SELECT sbase FROM nn2) ELSE 0 END) + 85 *
                 (coalesce(si$i.inflow, 0) + (CASE WHEN n2.seed
                     THEN (SELECT dshare FROM sd$i) ELSE 0 END)))
                 // 100 AS BIGINT) AS rank
             FROM nodes2 n2 LEFT JOIN si$i USING (node))""").mkString(",")
    s""",
      nodes2 AS (SELECT node, node % 10 = 0 AS seed FROM nodes),
      nn2 AS (SELECT CAST(sum(CASE WHEN seed THEN 1 ELSE 0 END)
                AS BIGINT) AS ns,
               CAST(CASE WHEN sum(CASE WHEN seed THEN 1 ELSE 0 END) = 0
                 THEN 0 ELSE 1000000000000 //
                   sum(CASE WHEN seed THEN 1 ELSE 0 END) END
                 AS BIGINT) AS sbase
             FROM nodes2),
      s0 AS (SELECT node, seed,
               CAST(CASE WHEN seed THEN sbase ELSE 0 END AS BIGINT)
                 AS rank
             FROM nodes2, nn2),$iters"""
  }

  /** HITS twin suffix — two unrolled mutual-reinforcement rounds over
    * the shared graph census, same two-step floor normalization. The
    * w·score products and their sums run in HUGEINT, mirroring the
    * Spark side's DECIMAL(38,0) routing — both engines stay exact far
    * past the old int64 Σw·score cliff; only the ≤-SCALE normalized
    * scores cast back to BIGINT. */
  private val hitsCtes: String = {
    val iters = (1 to 2).map(i => s"""
      a1_$i AS (SELECT e.dst AS node,
               sum(CAST(e.w AS HUGEINT) * r.hub) AS a1
             FROM edges e JOIN hs${i - 1} r ON r.node = e.src GROUP BY 1),
      at_$i AS (SELECT coalesce(sum(a1), 0) AS atot
             FROM a1_$i),
      an_$i AS (SELECT n.node,
               CAST(CASE WHEN (SELECT atot FROM at_$i) < 1000000000000
                 THEN coalesce(a1, 0)
                 ELSE coalesce(a1, 0) //
                   ((SELECT atot FROM at_$i) // 1000000000000) END
                 AS BIGINT) AS auth
             FROM nodes n LEFT JOIN a1_$i USING (node)),
      h1_$i AS (SELECT e.src AS node,
               sum(CAST(e.w AS HUGEINT) * r.auth) AS h1
             FROM edges e JOIN an_$i r ON r.node = e.dst GROUP BY 1),
      ht_$i AS (SELECT coalesce(sum(h1), 0) AS htot
             FROM h1_$i),
      hn_$i AS (SELECT n.node,
               CAST(CASE WHEN (SELECT htot FROM ht_$i) < 1000000000000
                 THEN coalesce(h1, 0)
                 ELSE coalesce(h1, 0) //
                   ((SELECT htot FROM ht_$i) // 1000000000000) END
                 AS BIGINT) AS hub
             FROM nodes n LEFT JOIN h1_$i USING (node)),
      hs$i AS (SELECT hn.node, hn.hub, an.auth
             FROM hn_$i hn JOIN an_$i an USING (node))""").mkString(",")
    s""",
      hs0 AS (SELECT node, CAST(base AS BIGINT) AS hub,
                CAST(base AS BIGINT) AS auth FROM nodes, nn),$iters"""
  }

  val oracles: Map[String, String] = Map(
    "q_hits" -> s"""$pagerankCtes$hitsCtes
      SELECT node, hub, auth AS authority
      FROM hs2 ORDER BY authority DESC, node""",
    "q_pagerank_seeded" -> s"""$pagerankCtes$pagerankSeededCtes
      SELECT node, seed AS is_seed, rank
      FROM s3 ORDER BY rank DESC, node""",
    "q_pagerank" -> s"""$pagerankCtes
      SELECT r3.node, r3.rank,
             coalesce(o.ow, 0) AS out_w,
             coalesce(i.in_w, 0) AS in_w
      FROM r3 LEFT JOIN outw o ON o.src = r3.node
      LEFT JOIN (SELECT dst AS node, CAST(sum(w) AS BIGINT) AS in_w
                 FROM edges GROUP BY 1) i USING (node)
      ORDER BY r3.rank DESC, r3.node""",
    "q_pagerank_converged" -> s"""$pagerankCtes$pagerankConvergedCtes
      SELECT a.node, a.rank, p.n_iter,
             CAST(s.res AS BIGINT) AS residual
      FROM call a JOIN cpick p ON a.i = p.n_iter
      JOIN crs s ON s.i = p.n_iter
      ORDER BY a.rank DESC, a.node""",
    "q_pagerank_mass" -> s"""$pagerankCtes
      ${(0 to 3).map(i => s"""
      SELECT $i AS iter,
             (SELECT CAST(sum(rank) AS BIGINT) FROM r$i) AS total_rank,
             (SELECT CAST(coalesce(sum(rank), 0) AS BIGINT) FROM r$i
              WHERE node NOT IN (SELECT src FROM edges)) AS dangling_mass
      """).mkString(" UNION ALL ")}
      ORDER BY iter""",
    "q_global_ids" -> """
      WITH d AS (SELECT doc_id, doc_id % 32 AS shard FROM documents),
      c AS (SELECT shard, count(*) AS c FROM d GROUP BY shard),
      o AS (SELECT shard,
              CAST(coalesce(sum(c) OVER (ORDER BY shard
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS off
            FROM c),
      r AS (SELECT doc_id, shard,
              row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
            FROM d)
      SELECT r.doc_id, r.shard, CAST(o.off + r.rn - 1 AS BIGINT) AS gid
      FROM r JOIN o USING (shard) ORDER BY doc_id""",
    "q_cohort_retention" -> """
      WITH e AS (SELECT DISTINCT user_id,
                        CAST(date_trunc('week', ts) AS DATE) AS wk
                 FROM events),
      c AS (SELECT user_id, wk,
                   min(wk) OVER (PARTITION BY user_id) AS cwk
            FROM e)
      SELECT cwk, datediff('day', cwk, wk) // 7 AS offset_w,
             count(*) AS n_users
      FROM c GROUP BY 1, 2 ORDER BY cwk, offset_w""",
    "q_rolling_distinct" -> """
      WITH e AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
      days AS (SELECT DISTINCT d AS wd FROM e)
      SELECT days.wd, count(DISTINCT e.user_id) AS u7
      FROM e JOIN days ON days.wd BETWEEN e.d AND e.d + 6
      GROUP BY 1 ORDER BY wd""",
    "q_anomaly_events" -> """
      WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS n
        FROM events GROUP BY 1, 2),
      st AS (
        SELECT user_id, count(*) AS days,
          CAST(sum(CAST(n AS DECIMAL(38,6))) AS DOUBLE) AS sx,
          CAST(sum(CAST(n * n AS DECIMAL(38,6))) AS DOUBLE) AS sx2
        FROM daily GROUP BY 1),
      z AS (
        SELECT daily.user_id AS user_id, d, n,
          (n - sx / days) / sqrt((days * sx2 - sx * sx) /
            (days * (days - 1))) AS z
        FROM daily JOIN st ON daily.user_id = st.user_id
        WHERE days * sx2 - sx * sx > 0)
      SELECT user_id, d, n, CAST(round(z, 4) AS DOUBLE) AS z
      FROM z WHERE z > 3.0
      ORDER BY user_id, d""",
    "q_shard_rendezvous" -> """
      WITH e AS (SELECT doc_id, s
                 FROM documents, UNNEST(generate_series(0, 8)) AS g(s)),
      w AS (SELECT doc_id, s,
              md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)) AS w
            FROM e),
      a AS (SELECT doc_id,
              CAST(arg_max(CASE WHEN s <= 7 THEN s END,
                           CASE WHEN s <= 7 THEN w END) AS INT) AS shard8,
              CAST(arg_max(s, w) AS INT) AS shard9
            FROM w GROUP BY doc_id)
      SELECT shard9 AS shard, count(*) AS n_docs,
             CAST(sum(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END) AS BIGINT)
               AS moved_in
      FROM a GROUP BY 1 ORDER BY 1""",
    "q_zorder_layout" -> {
      val x = "(user_id % 256)"
      val y = "datediff('day', DATE '2024-01-01', CAST(ts AS DATE))"
      val z = (0 until 8).map(i =>
        s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""
      WITH e AS (SELECT $x AS xb, $y AS yb, ($z) AS z FROM events),
      f AS (SELECT xb, yb, z // 512 AS file_id FROM e)
      SELECT file_id, count(*) AS n_rows,
             min(xb) AS min_user, max(xb) AS max_user,
             min(yb) AS min_day, max(yb) AS max_day
      FROM f GROUP BY 1 ORDER BY file_id"""
    },
    "q_zorder_prune" -> {
      val x = "(user_id % 256)"
      val y = "datediff('day', DATE '2024-01-01', CAST(ts AS DATE))"
      val z = (0 until 8).map(i =>
        s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      def census(layout: String, stats: String) = s"""
        SELECT '$layout' AS layout,
               count(*) AS n_files,
               CAST(sum(CASE WHEN mxx >= 64 AND mnx <= 79 AND mxy >= 10
                 AND mny <= 19 THEN 1 ELSE 0 END) AS BIGINT) AS n_files_kept,
               CAST(sum(n_rows) AS BIGINT) AS n_rows_total,
               CAST(sum(CASE WHEN mxx >= 64 AND mnx <= 79 AND mxy >= 10
                 AND mny <= 19 THEN n_rows ELSE 0 END) AS BIGINT)
                 AS n_rows_scanned,
               CAST(round(CAST(sum(CASE WHEN mxx >= 64 AND mnx <= 79
                   AND mxy >= 10 AND mny <= 19 THEN n_rows ELSE 0 END)
                   AS DOUBLE) / CAST(sum(n_rows) AS DOUBLE), 4)
                 AS DOUBLE) AS scan_frac
        FROM $stats"""
      s"""
      WITH e AS (SELECT $x AS xb, $y AS yb, ($z) AS z FROM events),
      lin AS (SELECT yb AS file_id, count(*) AS n_rows,
                min(xb) AS mnx, max(xb) AS mxx,
                min(yb) AS mny, max(yb) AS mxy
              FROM e GROUP BY 1),
      zor AS (SELECT z // 512 AS file_id, count(*) AS n_rows,
                min(xb) AS mnx, max(xb) AS mxx,
                min(yb) AS mny, max(yb) AS mxy
              FROM e GROUP BY 1),
      m AS (SELECT count(*) AS n_rows_match FROM e
            WHERE xb BETWEEN 64 AND 79 AND yb BETWEEN 10 AND 19)
      SELECT layout, n_files, n_files_kept, n_rows_total, n_rows_scanned,
             scan_frac, n_rows_match
      FROM ((${census("linear_day", "lin")})
            UNION ALL (${census("zorder", "zor")})) CROSS JOIN m
      ORDER BY layout"""
    },
    // PSI twin: identical micro-unit arithmetic — integer div
    // probabilities, ONE double-ratio ln rounded to 6 dp, exact
    // decimal terms summed over the dense 8-bin grid.
    "q_drift_psi" -> """
      WITH d AS (SELECT (doc_id % 2 = 0) AS is_ref,
                   least(7, len(list_filter(string_split(text, ' '),
                     x -> x <> '')) // 16) AS bin
                 FROM documents),
      cnt AS (SELECT bin,
                CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
                  AS c_ref,
                CAST(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT)
                  AS c_cur
              FROM d GROUP BY bin),
      tot AS (SELECT CAST(sum(c_ref) AS BIGINT) AS n_ref,
                     CAST(sum(c_cur) AS BIGINT) AS n_cur FROM cnt),
      g AS (SELECT i AS bin FROM UNNEST(generate_series(0, 7)) AS u(i)),
      j AS (SELECT g.bin, coalesce(cnt.c_ref, 0) AS c_ref,
              coalesce(cnt.c_cur, 0) AS c_cur, n_ref, n_cur
            FROM g LEFT JOIN cnt USING (bin) CROSS JOIN tot),
      t AS (SELECT bin, c_ref, c_cur,
              ((c_ref + 1) * 1000000) // (n_ref + 8) AS p_ref_u,
              ((c_cur + 1) * 1000000) // (n_cur + 8) AS p_cur_u,
              CAST(round(ln((CAST(c_cur + 1 AS DOUBLE) *
                  CAST(n_ref + 8 AS DOUBLE)) /
                (CAST(c_ref + 1 AS DOUBLE) * CAST(n_cur + 8 AS DOUBLE))), 6)
                AS DECIMAL(18,6)) AS lnr
            FROM j),
      tt AS (SELECT bin, c_ref, c_cur,
               CAST(p_cur_u - p_ref_u AS DECIMAL(18,0)) * lnr AS term
             FROM t),
      w AS (SELECT *, sum(term) OVER () AS psi_u FROM tt)
      SELECT bin, c_ref, c_cur,
             CAST(round(CAST(term AS DOUBLE) / 1e6, 6) AS DOUBLE) AS psi_term,
             CAST(round(CAST(psi_u AS DOUBLE) / 1e6, 6) AS DOUBLE)
               AS psi_total,
             CASE WHEN psi_u < 100000 THEN 'stable'
                  WHEN psi_u < 250000 THEN 'moderate'
                  ELSE 'shifted' END AS verdict
      FROM w ORDER BY bin""",
    "q_profile" -> """
      WITH s AS (
        SELECT count(*) AS n,
          CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_qty,
          count(DISTINCT l_quantity) AS nd_qty,
          min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
          CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_rf,
          count(DISTINCT l_returnflag) AS nd_rf,
          CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_px,
          count(DISTINCT l_extendedprice) AS nd_px,
          min(l_extendedprice) AS min_px, max(l_extendedprice) AS max_px
        FROM lineitem)
      SELECT col_name, n_rows, n_null, n_distinct, min_val, max_val FROM (
        SELECT 'l_quantity' AS col_name, n AS n_rows, null_qty AS n_null,
               nd_qty AS n_distinct, min_qty AS min_val, max_qty AS max_val FROM s
        UNION ALL
        SELECT 'l_returnflag', n, null_rf, nd_rf,
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM s
        UNION ALL
        SELECT 'l_extendedprice', n, null_px, nd_px, min_px, max_px FROM s)
      ORDER BY col_name""",
    "q_scd2_history" -> """
      WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type
                 FROM events),
      f AS (SELECT user_id, event_id, us, event_type,
              lag(event_type) OVER w AS prev
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      g AS (SELECT user_id, event_id, us, event_type FROM f
            WHERE prev IS NULL OR prev <> event_type),
      h AS (SELECT user_id, event_type, us,
              CAST(row_number() OVER w2 AS INT) AS version,
              lead(us) OVER w2 AS valid_to
            FROM g WINDOW w2 AS (PARTITION BY user_id ORDER BY us, event_id))
      SELECT user_id, version, event_type, us AS valid_from_us,
             valid_to AS valid_to_us, valid_to IS NULL AS is_current
      FROM h ORDER BY user_id, version""",
    // Snapshot-diff twin: identical derived "current" snapshot and
    // the same full-outer classification, all in exact integer cents.
    "q_snapshot_diff" -> """
      WITH base AS (SELECT o_orderkey AS k,
               CAST(round(o_totalprice * 100) AS BIGINT) AS v,
               o_orderstatus AS st, o_orderpriority AS pr
             FROM orders),
      cur AS (SELECT k,
                CASE WHEN pr = '1-URGENT' THEN (v * 11) // 10 ELSE v END AS v
              FROM base WHERE NOT (pr = '5-LOW' AND st = 'F')
              UNION ALL
              SELECT -k, v FROM base WHERE st = 'P'),
      j AS (SELECT coalesce(b.k, c.k) AS k, b.v AS v_a, c.v AS v_b
            FROM base b FULL OUTER JOIN cur c ON b.k = c.k)
      SELECT CASE WHEN v_a IS NULL THEN 'inserted'
                  WHEN v_b IS NULL THEN 'deleted'
                  WHEN v_a <> v_b THEN 'updated'
                  ELSE 'unchanged' END AS change,
             count(*) AS n_rows,
             CAST(sum(coalesce(v_b, 0) - coalesce(v_a, 0)) AS BIGINT)
               AS net_delta_cents
      FROM j GROUP BY 1 ORDER BY change""",
    "q_merge_upsert" -> """
      WITH changes AS (
        SELECT o_orderkey,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 'U' ELSE 'D' END AS op,
               CAST(round(o_totalprice * 1.1, 4) AS DOUBLE) AS new_price
        FROM orders
        WHERE o_orderpriority = '1-URGENT'
           OR (o_orderpriority = '5-LOW' AND o_orderstatus = 'F'))
      SELECT b.o_orderkey,
             CASE WHEN c.op = 'U' THEN c.new_price
                  ELSE b.o_totalprice END AS totalprice,
             CASE WHEN c.op = 'U' THEN 'U'
                  ELSE b.o_orderstatus END AS status
      FROM orders b LEFT JOIN changes c ON b.o_orderkey = c.o_orderkey
      WHERE c.op IS NULL OR c.op <> 'D'
      ORDER BY b.o_orderkey""")
}
