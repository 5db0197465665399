package graft.llm

import graft.Tables
import graft.core.Fixpoint
import graft.functions.GraftFunctions
import graft.ops.Q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One row of the suffix-automaton substring census: exact counts of
  * distinct and repeated substrings plus the longest repeated
  * substring length, per document — the all-lengths generalization of
  * the fixed-W window census ([[Dedup]] q_dedup_substring_rep). */
case class SamCensus(doc_id: Long, n_chars: Int, n_distinct: Long,
  n_rep_distinct: Long, lrs_len: Int)

/** Deduplication operators over `documents` — the north-star
  * training-data-pipeline extensions (BASELINE.json; SURVEY.md §2c last
  * row). The reference has no dedup, but each of these is a canonical
  * MapReduce composition (map = feature extraction, shuffle = group by
  * feature, reduce = bucket inspection) over its API
  * (MapReduceClient.h:47-51).
  *
  * Cross-engine exactness (the DuckDB oracle hash-compares values):
  *  - all hashes are `md5` hex strings — identical lowercase hex in
  *    Spark and DuckDB, with identical lexicographic `min`;
  *  - Jaccard/cosine arrive at doubles only through a single division
  *    of exact integers, which is IEEE-deterministic in both engines.
  *
  * Scale notes (100 TB):
  *  - exact dedup is one hash-aggregate — one shuffle on the 32-char
  *    digest, partial agg map-side; skew-free (hashes are uniform);
  *  - MinHash+LSH is the scale path for near-dup: candidates come from
  *    an equality self-join on (band, band-signature) — shuffle on the
  *    band key, never an O(n²) cross join; only candidates pay the
  *    verify join. The 16 signatures cost 4 md5s per shingle (one per
  *    band; 4×8-hex-char rows sliced from each digest) and aggregate
  *    column-wise in ONE partial-agg shuffle — no row fan-out;
  *  - the brute-force shingle self-join (q_dedup_jaccard) is the
  *    correctness baseline — at scale, hot shingles (stopword n-grams)
  *    must be frequency-capped first (q_dedup_jaccard_capped implements
  *    the cap); LSH is the production path;
  *  - join strategies below the shingle explode come from RUNTIME
  *    sizes, never estimates: Catalyst's estimate under the explode
  *    ignores the ~100× fan-out, so self-joins carry `shuffle_hash`
  *    hints and nothing is force-`broadcast()` — AQE re-broadcasts the
  *    genuinely small sides (per-doc size table) from actual exchange
  *    bytes at small SF, and keeps shuffles at billions of docs;
  *  - embedding near-dup blocks by `label` (an IVF-style coarse
  *    quantizer cell) so each block's pair count is bounded; the dot
  *    product is graft's codegen `dot_long` expression, not an
  *    interpreted lambda chain.
  */
object Dedup {

  /** Distinct 3-token shingles per document. Dedup happens PER ROW with
    * `array_distinct` before the generator — `doc_id` is the table's
    * primary key, so per-doc array dedup ≡ global `DISTINCT (doc_id,
    * shingle)` while staying entirely inside whole-stage codegen: ZERO
    * shuffle (the old explode→distinct paid a full exchange of the
    * (doc_id, shingle) string pairs before any consumer did its own
    * work). Docs with <3 tokens yield no shingles (matches the oracle's
    * empty generate_series). Persisted by multi-pass consumers. */
  private def shingles(s: SparkSession, dir: String): DataFrame =
    shinglesOf(Tables.fan(Tables(s, dir, "documents")))

  /** Frame-taking form: [[q_dedup_incremental]] shingles the delta and
    * the standing corpus separately. */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(0, size(t) - 3), " +
          "i -> concat_ws(' ', t[i], t[i+1], t[i+2])))")).as("shingle"))

  /** Oracle twin of [[shingles]] (DuckDB arrays are 1-based). */
  private val SH =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      |       FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 0))) AS u(i))""".stripMargin

  /** Embeddings quantized to int64 fixed-point (×10⁴) so dot products
    * and norms are exact integer arithmetic — bit-identical across
    * engines and partial-aggregation orders. float→double is exact;
    * both engines round half away from zero. Norm via the codegen
    * `dot_long` (registered here for every downstream consumer). */
  private[graft] def quantized(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    // Tables.fan: every ANN/PCA/kmeans consumer runs its heavy probe
    // work (brute dot-product scans against broadcast panels, code
    // construction) fused into THIS scan, and the fixture's single
    // row group would pin all of it to one task (§2.5).
    Tables.fan(Tables(s, dir, "embeddings")).select(
      col("vec_id"), col("label"),
      expr("transform(embedding, x -> cast(round(cast(x as double) * 10000) as bigint))").as("q"))
      .withColumn("norm", expr("dot_long(q, q)"))
      // Zero-norm vectors are EXCLUDED at ingest (the FAISS-style
      // contract): they have no direction, so cosine is undefined —
      // under ANSI mode the division would THROW and one degenerate
      // row would kill a whole-corpus query (DegenerateSweepSpec).
      // The oracle twin carries the same WHERE.
      .filter(col("norm") > 0)
  }

  private[graft] val QE =
    """qe AS (SELECT vec_id, label,
      |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q
      |       FROM embeddings),
      |qn AS (SELECT * FROM (
      |         SELECT vec_id, label, q,
      |           CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS norm
      |         FROM qe) WHERE norm > 0)""".stripMargin

  /** Hex digit i (1-based) of the md5 column `h`, as 0–15 — written in
    * the ascii/CASE dialect BOTH engines evaluate identically (the
    * q_multimodal_sniff idiom). */
  private def hd(i: Int): String =
    s"(ascii(substr(h, $i, 1)) - (CASE WHEN substr(h, $i, 1) >= 'a' THEN 87 ELSE 48 END))"

  /** Messy-URL synthesis from the doc's md5 digits — VERBATIM-shared
    * between the Spark query and the DuckDB twin (concat/CASE/ascii
    * only). Arms: scheme casing, host casing, default port (:80 with
    * http collapses, :80 with https must SURVIVE), explicit :8080,
    * trailing slash, three query-string layouts (with a utm_ tracking
    * param, param order shuffled), fragment. */
  private[graft] val urlSynthSql: String = s"""concat(
      CASE WHEN ${hd(1)} % 2 = 0 THEN 'HTTP' ELSE 'https' END, '://',
      CASE WHEN ${hd(3)} % 2 = 0 THEN concat('EX', ${hd(2)} % 8, '.COM')
           ELSE concat('ex', ${hd(2)} % 8, '.com') END,
      CASE ${hd(4)} % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
           WHEN 2 THEN ':8080' ELSE '' END,
      concat('/p', ${hd(5)}),
      CASE WHEN ${hd(6)} % 2 = 0 THEN '/' ELSE '' END,
      CASE ${hd(7)} % 4
        WHEN 0 THEN concat('?a=', ${hd(8)} % 4, '&b=', ${hd(9)} % 4, '&utm_src=x')
        WHEN 1 THEN concat('?b=', ${hd(9)} % 4, '&a=', ${hd(8)} % 4)
        WHEN 2 THEN concat('?utm_src=x&b=', ${hd(9)} % 4, '&a=', ${hd(8)} % 4)
        ELSE '' END,
      CASE WHEN ${hd(10)} % 2 = 0 THEN '#sec' ELSE '' END)"""

  /** DuckDB twin of [[canonicalizeUrl]] as a reusable CTE chain: given
    * a CTE `u` with (doc_id, url, <carry> extra columns), appends
    * p1→p2→p3→c where `c` carries (doc_id, <carry>, url, canon)-minus
    * whatever the caller projects. `carry` is a comma-led column list
    * (e.g. ", k") threaded through every stage. */
  private[graft] def urlCanonCtes(carry: String = ""): String = s"""
      p1 AS (SELECT doc_id$carry, url,
               lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme_l,
               regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1) AS hostport,
               regexp_extract(url, '^[A-Za-z]+://[^/?#]+(/[^?#]*)', 1) AS path0,
               regexp_extract(url, '[?]([^#]*)', 1) AS qs
             FROM u),
      p2 AS (SELECT doc_id$carry, url, scheme_l, path0, qs,
               lower(CASE WHEN instr(hostport, ':') > 0
                 THEN substr(hostport, 1, CAST(instr(hostport, ':') AS INT) - 1)
                 ELSE hostport END) AS host_l,
               CASE WHEN instr(hostport, ':') > 0
                 THEN substr(hostport, CAST(instr(hostport, ':') AS INT) + 1)
                 ELSE '' END AS port
             FROM p1),
      p3 AS (SELECT doc_id$carry, url, scheme_l, host_l, port,
               CASE WHEN length(path0) > 1 AND substr(path0, length(path0), 1) = '/'
                 THEN substr(path0, 1, length(path0) - 1) ELSE path0 END AS path,
               array_to_string(list_sort(list_filter(string_split(qs, '&'),
                 p -> p <> '' AND substr(p, 1, 4) <> 'utm_')), '&') AS params
             FROM p2),
      c AS (SELECT doc_id$carry, url,
              concat(scheme_l, '://', host_l,
                CASE WHEN port <> '' AND NOT ((scheme_l = 'http' AND port = '80')
                  OR (scheme_l = 'https' AND port = '443'))
                  THEN concat(':', port) ELSE '' END, path,
                CASE WHEN params <> '' THEN concat('?', params) ELSE '' END) AS canon
            FROM p3)"""

  /** The URL canonicalizer: adds `canon` to a frame with a `url`
    * string column. Lowercase scheme+host, strip :80/http and
    * :443/https (a non-default port survives — :80 under https is NOT
    * default), strip the trailing slash off a non-root path, drop the
    * fragment, drop utm_* params and sort the survivors. Pure
    * regexp/array built-ins — all codegen'd in the scan projection. */
  /** The q_url_filter deny list — static operator config (the UT1
    * role), one literal shared by the plan and its twin. */
  private val urlBlocklistSql: String = "'ex1.com', 'ex5.com'"

  /** The robots.txt `User-agent: *` section parser as a higher-order
    * aggregate over a `robots` string column — a real line-state
    * machine (section opens on the star agent, closes on any other
    * agent line, Disallow values collect only while open), surfaced
    * for RobotsSpec to drive on adversarial bodies. */
  private[graft] val robotsParseExpr: String =
    "aggregate(split(robots, '\n'), " +
      "named_struct('instar', false, " +
      "'p', cast(array() as array<string>)), " +
      "(st, l) -> case " +
      "when l = 'User-agent: *' then " +
      "named_struct('instar', true, 'p', st.p) " +
      "when substring(l, 1, 11) = 'User-agent:' then " +
      "named_struct('instar', false, 'p', st.p) " +
      "when st.instar and substring(l, 1, 9) = 'Disallow:' then " +
      "named_struct('instar', true, " +
      "'p', array_append(st.p, trim(substring(l, 10)))) " +
      "else st end, st -> st.p)"

  /** Crawl-delay from the ACTIVE (`User-agent: *`) section only — the
    * same sectioned line-state machine as [[robotsParseExpr]] with
    * the collected value swapped: a decoy section's delay must NOT
    * leak (the fixture plants one). Missing → the politeness default
    * 1 s. */
  private[graft] val robotsDelayExpr: String =
    "aggregate(split(robots, '\n'), " +
      "named_struct('instar', false, 'd', 1), " +
      "(st, l) -> case " +
      "when l = 'User-agent: *' then " +
      "named_struct('instar', true, 'd', st.d) " +
      "when substring(l, 1, 11) = 'User-agent:' then " +
      "named_struct('instar', false, 'd', st.d) " +
      "when st.instar and substring(l, 1, 12) = 'Crawl-delay:' then " +
      "named_struct('instar', true, " +
      "'d', cast(trim(substring(l, 13)) as int)) " +
      "else st end, st -> st.d)"

  private[graft] def canonicalizeUrl(df: DataFrame): DataFrame =
    df
      .withColumn("scheme_l",
        expr("lower(regexp_extract(url, '^([A-Za-z]+)://', 1))"))
      .withColumn("hostport",
        expr("regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)"))
      .withColumn("host_l", expr("lower(CASE WHEN instr(hostport, ':') > 0" +
        " THEN substr(hostport, 1, instr(hostport, ':') - 1)" +
        " ELSE hostport END)"))
      .withColumn("port", expr("CASE WHEN instr(hostport, ':') > 0" +
        " THEN substr(hostport, instr(hostport, ':') + 1) ELSE '' END"))
      .withColumn("path0",
        expr("regexp_extract(url, '^[A-Za-z]+://[^/?#]+(/[^?#]*)', 1)"))
      .withColumn("path", expr("CASE WHEN length(path0) > 1 AND " +
        "substr(path0, length(path0), 1) = '/' " +
        "THEN substr(path0, 1, length(path0) - 1) ELSE path0 END"))
      .withColumn("qs", expr("regexp_extract(url, '[?]([^#]*)', 1)"))
      .withColumn("params", expr("array_join(array_sort(filter(" +
        "split(qs, '&'), p -> p != '' AND substr(p, 1, 4) != 'utm_'))," +
        " '&')"))
      .withColumn("canon", expr("concat(scheme_l, '://', host_l, " +
        "CASE WHEN port != '' AND NOT ((scheme_l = 'http' AND port = '80')" +
        " OR (scheme_l = 'https' AND port = '443'))" +
        " THEN concat(':', port) ELSE '' END, path, " +
        "CASE WHEN params != '' THEN concat('?', params) ELSE '' END)"))

  /** The VERIFIED Jaccard-≥0.8 near-dup pair list as a persisted
    * [[IndexStore]] artifact — the dedup service's standing verdict
    * table: the exact shingle pipeline runs once per corpus snapshot;
    * every keeper-election consumer (q_dedup_cluster, the big-star
    * variant, q_forget_docs) loads the flat parquet. q_dedup_jaccard
    * keeps building fresh — it gates the pipeline itself, and the
    * q_index_persist census row gates the stored pairs. */
  private[graft] def jaccardPairsDurable(s: SparkSession,
      dir: String): DataFrame =
    IndexStore.durableFrame(s, dir, "jaccard_pairs") {
      val sh = shingles(s, dir)
      jaccardFinish(bruteInter(sh), sh, 0.8).select(col("d1"), col("d2"))
    }

  /** Per-doc URL-FILTER routing decision (doc_id, url, canon, reason)
    * — the stateless scan projection under q_url_filter's census:
    * synth + canonicalizer + first-matching-rule CASE, zero joins.
    * Frame-taking so [[graft.streaming.Streams.urlFilterGate]] runs
    * the IDENTICAL projection per micro-batch; the census is the
    * consumer's one-line groupBy. */
  private[graft] def urlFilterDecisionsOn(docs: DataFrame): DataFrame =
    canonicalizeUrl(docs
      .withColumn("h", md5(col("text")))
      .withColumn("url", expr(urlSynthSql)))
      .withColumn("reason", expr(
        s"case when host_l in ($urlBlocklistSql) then 'blocked_domain' " +
          "when port not in ('', '80', '443') then 'trap_port' " +
          "when (case when params = '' then 0 " +
          "else size(split(params, '&')) end) >= 2 then 'trap_params' " +
          "else 'kept' end"))
      .select(col("doc_id"), col("url"), col("canon"), col("reason"))

  /** Per-doc ROBOTS decision (doc_id, domain, path, disallow,
    * blocked) — the stateless scan projection under q_robots_filter's
    * census: robots synth + the sectioned line-state parser + the
    * prefix match, zero joins. Frame-taking for
    * [[graft.streaming.Streams.robotsGate]] (same contract as
    * [[urlFilterDecisionsOn]]). */
  private[graft] def robotsDecisionsOn(docs: DataFrame): DataFrame =
    canonicalizeUrl(docs
      .withColumn("h", md5(col("text")))
      .withColumn("url", expr(urlSynthSql)))
      .withColumn("hh", md5(col("host_l")))
      // the DECOY section carries its own Crawl-delay (9) that must
      // never leak into the star section's parsed value
      .withColumn("robots", expr(
        "concat('User-agent: GoodBot\nDisallow: /p', " +
          "cast(conv(substring(hh, 3, 1), 16, 10) as int), " +
          "'\nCrawl-delay: 9', " +
          "'\nUser-agent: *\nDisallow: /p', " +
          "cast(conv(substring(hh, 1, 1), 16, 10) as int), " +
          "'\nDisallow: /p', " +
          "cast(conv(substring(hh, 2, 1), 16, 10) as int), " +
          "'\nCrawl-delay: ', " +
          "cast(conv(substring(hh, 4, 1), 16, 10) as int) % 5 + 1, " +
          "'\n')"))
      .withColumn("pfx", expr(robotsParseExpr))
      .withColumn("blocked",
        expr("exists(pfx, p -> startswith(path, p))"))
      .select(col("doc_id"), col("host_l").as("domain"), col("path"),
        expr("array_join(pfx, ',')").as("disallow"), col("blocked"),
        expr(robotsDelayExpr).as("delay"))

  /** Exact integer dot product of two quantized vectors — graft's
    * native codegen expression (functions/ArrayNumeric.scala). */
  private[llm] val dotExpr = "dot_long(qa, qb)"
  private[llm] val dotOracle =
    "CAST(list_sum(list_transform(generate_series(1, len(qa)), i -> qa[i] * qb[i])) AS BIGINT)"

  /** cosine = (dot / √na) / √nb — same operation order both engines. */
  private[llm] def cosine(): org.apache.spark.sql.Column =
    round(col("dot").cast("double") / sqrt(col("na").cast("double"))
      / sqrt(col("nb").cast("double")), 4)

  /** Shared tail of the near-dup pipelines: given per-pair (d1 < d2)
    * intersection counts over the distinct-shingle sets, compute
    * Jaccard and keep ≥ thr. The per-doc size table (one row per doc ≪
    * shingle count) joins WITHOUT a forced broadcast: an explicit
    * `broadcast()` would pin the strategy at any scale — fatal once
    * sizes is a billion docs — while leaving it to AQE gets the
    * broadcast back at small scale from RUNTIME exchange sizes (the
    * only size signal that survives the explode fan-out upstream).
    * UNSORTED by design — the cluster pipeline consumes this and
    * immediately re-shuffles, so a global sort here would be a wasted
    * range exchange; display consumers add their own `orderBy`. */
  private def jaccardFinish(inter: DataFrame, sh: DataFrame, thr: Double): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    inter
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .withColumn("jac", col("inter").cast("double") /
        (col("n1") + col("n2") - col("inter")).cast("double"))
      .filter(col("jac") >= thr)
      .select(col("d1"), col("d2"), round(col("jac"), 4).as("jaccard"))
  }

  /** PPJoin prefix candidates at τ = num/den: rank each doc's
    * shingles rarest-first (global df ASC, shingle ASC — a total
    * order), keep the first s − ⌈τ·s⌉ + 1, and pair docs sharing a
    * prefix shingle. ⌈τ·s⌉ = (num·s + den − 1) div den stays in
    * integers.
    *
    * POSITIONAL filter (Xiao et al. WWW'08 §3.2, the "PP" in PPJoin),
    * also lossless: because every doc sorts its shingles by the SAME
    * global total order, a shared shingle at ranks (p1, p2) splits
    * both sets — common shingles ≤ it number at most min(p1, p2)
    * (each doc has exactly p that are ≤ it), common shingles > it at
    * most min(s1−p1, s2−p2). So |A∩B| ≤ min(p1,p2) + min(s1−p1,s2−p2)
    * for EVERY shared prefix shingle, and the tightest such bound is
    * checked against the overlap J ≥ τ requires,
    * α = ⌈num·(s1+s2)/(num+den)⌉ (integer-exact, same rule as the
    * prefix length). Pairs pruned here are provably below τ — the
    * verify join (the dominant cost: two shingle-set joins per
    * candidate) runs on a ~3× smaller pair set at sf0.1 (118,826 →
    * 39,519), and DedupSpec's result-set-equality pin plus the
    * τ-boundary spec gate the arithmetic. The groupBy replaces the
    * old `.distinct()` — same exchange key, no extra shuffle. */
  private def prefixCandidates(sh: DataFrame, num: Int, den: Int): DataFrame = {
    val dfq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy(col("doc_id"))
    val ranked = sh.join(dfq.hint("shuffle_hash"), "shingle")
      .withColumn("pos", row_number().over(
        wDoc.orderBy(col("df").asc, col("shingle").asc)))
      .withColumn("sz", count(lit(1)).over(wDoc))
    val prefix = ranked.filter(col("pos") <=
      col("sz") - expr(s"($num * sz + $den - 1) div $den") + 1)
    prefix.select(col("shingle"), col("doc_id").as("d1"),
        col("pos").as("p1"), col("sz").as("s1"))
      .hint("shuffle_hash")
      .join(prefix.select(col("shingle"), col("doc_id").as("d2"),
        col("pos").as("p2"), col("sz").as("s2")), "shingle")
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"))
      .agg(min(least(col("p1"), col("p2")) +
          least(col("s1") - col("p1"), col("s2") - col("p2"))).as("ub"),
        first(col("s1")).as("s1"), first(col("s2")).as("s2"))
      .filter(col("ub") >=
        expr(s"($num * (s1 + s2) + $num + $den - 1) div ($num + $den)"))
      .select(col("d1"), col("d2"))
  }

  /** Intersection counts for an explicit candidate-pair set: each
    * candidate joins its two shingle sets; shared shingles count once
    * (sh is distinct per doc). Everything here sits below an explode,
    * so sizes come from `shuffle_hash` hints, not estimates (see
    * [[bruteInter]]) — and the hint goes on the CANDIDATE-derived side
    * each time, because the hinted side becomes the SHJ build side and
    * its per-partition hash map must fit in executor memory: at scale
    * candidates ≪ corpus shingles, so building on `cand` (then on
    * cand⋈s1, still candidate-bounded) is safe where building on the
    * full shingle table is the OOM risk. */
  private def candIntersections(cand: DataFrame, sh: DataFrame): DataFrame = {
    // r20 (guide §1.2/§2.3): verify via per-doc shingle-SET arrays and
    // one array_intersect per candidate pair, replacing the exploded
    // two-join form (cand ⋈ sh ⋈ sh on shingle strings) whose
    // |pairs|·|shingles-per-doc| intermediate rows were the dedup
    // family's dominant CPU (measured ~56 s task-CPU at sf0.1 in
    // q_dedup_ppjoin alone). Counts are identical: sh is distinct per
    // doc, array_intersect counts each shared shingle once, and the
    // inter >= 1 filter reproduces the inner join's absent-row
    // semantics for candidates sharing nothing (q_dedup_minhash_est
    // consumes this at thr = 0.0). Scale shape: the per-doc array is
    // doc-bounded (the q_dedup_bag whole-doc-array precedent), the
    // pair join moves two arrays per CANDIDATE instead of every
    // (pair, shingle) row — fewer bytes — and the build sides stay
    // candidate-derived exactly as before (candidates ≪ corpus).
    val sets = sh.groupBy(col("doc_id"))
      .agg(collect_set(col("shingle")).as("ss"))
    cand.hint("shuffle_hash")
      .join(sets.select(col("doc_id").as("d1"), col("ss").as("ss1")), "d1")
      .hint("shuffle_hash")
      .join(sets.select(col("doc_id").as("d2"), col("ss").as("ss2")), "d2")
      .select(col("d1"), col("d2"),
        expr("size(array_intersect(ss1, ss2))").cast("long").as("inter"),
        // set sizes ride along for free (sh is distinct per doc, so
        // size(ss) == the per-doc count jaccardFinish would re-derive
        // from a second full-shingle aggregation + two joins)
        expr("size(ss1)").cast("long").as("n1"),
        expr("size(ss2)").cast("long").as("n2"))
      .filter(col("inter") >= 1)
  }

  /** [[jaccardFinish]] for an `inter` frame that already carries the
    * per-doc set sizes (the [[candIntersections]] output) — same
    * arithmetic, no sizes aggregation or joins. */
  private def jaccardFinishSized(inter: DataFrame, thr: Double): DataFrame =
    inter
      .withColumn("jac", col("inter").cast("double") /
        (col("n1") + col("n2") - col("inter")).cast("double"))
      .filter(col("jac") >= thr)
      .select(col("d1"), col("d2"), round(col("jac"), 4).as("jaccard"))

  /** Oracle twin of [[candIntersections]] given CTEs `cand` and `sh`. */
  private val candInterSql: String =
    """,
      inter AS (SELECT c.d1, c.d2, count(*) AS inter
                FROM cand c JOIN sh s1 ON c.d1 = s1.doc_id
                JOIN sh s2 ON c.d2 = s2.doc_id AND s1.shingle = s2.shingle
                GROUP BY 1, 2)"""

  /** Oracle twin of [[jaccardFinish]] given CTEs `inter` and `sh`. */
  private def jaccardFinishSql(thr: String): String =
    s""",
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
      SELECT d1, d2,
             round(CAST(inter AS DOUBLE) / CAST(s1.n + s2.n - inter AS DOUBLE), 4) AS jaccard
      FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
      WHERE CAST(inter AS DOUBLE) / CAST(s1.n + s2.n - inter AS DOUBLE) >= $thr
      ORDER BY d1, d2"""

  /** Connected components over an undirected near-dup pair list →
    * (doc_id, keeper = min doc in its component). The last stage of a
    * production dedup pipeline: pairwise verdicts become clusters, one
    * keeper survives per cluster. Only docs appearing in `pairs`
    * participate (singletons need no election).
    *
    * Algorithm: min-label propagation to fixpoint ([[Fixpoint]]) —
    * each round joins labels across edges and takes the min; labels
    * only decrease, so `changed == 0` is convergence. Rounds are
    * bounded by the component diameter, and near-dup components are
    * dense (clique-ish around a template), so 3-5 rounds is typical at
    * any SF. The per-round cost is one shuffle join on the edge list;
    * when components CHAIN (diameter ≫ rounds budget) use
    * [[keepersBigStar]] — O(log²) rounds on any topology, equivalence
    * property-tested. */
  def keepers(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    // Materialize the (possibly expensive) upstream pair pipeline ONCE:
    // the edge build and every round read this cache instead of
    // re-evaluating the verify-join tree.
    val p = pairs.select(col("d1"), col("d2"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    p.count() // runs the pair pipeline at full parallelism
    // Symmetrize in ONE pass over the cached pairs — explode of a
    // 2-struct array, not a union of two scans. NO distinct: the pair
    // set is already unique per (d1,d2), and the loop's min-aggregate
    // is idempotent under duplicate edges anyway — a dedup here would
    // be a pure extra shuffle.
    val edges = p.select(explode(array(
        struct(col("d1").as("src"), col("d2").as("dst")),
        struct(col("d2").as("src"), col("d1").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val labels0 = edges.select(col("src").as("doc")).distinct()
      .withColumn("label", col("doc"))
      .localCheckpoint(true) // eager — also materializes the edge cache
    p.unpersist(false) // edges are cached; the raw pair set is dead now
    // min over self-label and every neighbor's label; carry the old
    // label through the aggregate so convergence is read from the
    // ALREADY-CHECKPOINTED result — one materializing action per
    // round, not a second recompute-and-count pass.
    val fp = Fixpoint.iterate(labels0, start = -1L, cap = maxIters)(
      step = state => {
        val labels = state.select(col("doc"), col("label"))
        val viaEdges = edges.join(labels, col("dst") === col("doc"))
          .select(col("src").as("doc"), col("label"),
            lit(null).cast("long").as("old"))
        labels.select(col("doc"), col("label"), col("label").as("old"))
          .union(viaEdges)
          .groupBy("doc")
          .agg(min(col("label")).as("label"), min(col("old")).as("old"))
      },
      measure = (_, next) => next.filter(col("label") < col("old")).count(),
      done = (_, changed) => changed == 0)
    edges.unpersist(false) // labels live in checkpoint blocks, not this cache
    // Unconverged labels are silently WRONG (pairs beyond maxIters hops
    // keep distinct keepers) — refuse to return them. High-diameter
    // graphs need a larger budget or the large-star/small-star variant.
    if (!fp.converged) throw new IllegalStateException(
      s"keepers: not converged after $maxIters iterations — component " +
        "diameter exceeds the budget; raise maxIters (propagation covers " +
        "one hop per round) or switch to large-star/small-star")
    fp.state.select(col("doc").as("doc_id"), col("label").as("keeper"))
  }

  /** All-pairs intersection counts via the distinct-shingle self-join —
    * the brute-force candidate generator (shuffles on the shingle).
    * `shuffle_hash` is load-bearing: the size estimate under the
    * shingle explode ignores the ~100× fan-out, so the planner would
    * happily broadcast a side that materializes to the full shingle
    * set (same failure ScaleProbe measured on the range join — see
    * Joins.rangePairs). Strategy must come from runtime sizes. */
  private def bruteInter(sh: DataFrame): DataFrame =
    sh.as("x").hint("shuffle_hash")
      .join(sh.as("y"), col("x.shingle") === col("y.shingle") &&
        col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))

  /** SimHash-16 candidate pairs: per-bit majority vote of feature-hash
    * bits (bit j = high bit of md5 nibble j) → 16-bit fingerprint; docs
    * with IDENTICAL fingerprints are candidates. ONE groupBy(doc) with
    * 16 conditional-sum columns (no row fan-out) + an equality
    * self-join on the fingerprint (shuffle_hash — fp inherits a
    * below-explode size estimate). Shared by q_dedup_simhash and
    * q_dedup_simhash_precision. */
  private def simhashPairs(shRaw: DataFrame): DataFrame = {
    val hexHigh = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    val sh = shRaw.select(col("doc_id"), md5(col("shingle")).as("h"))
    val voteCols = (1 to 16).map(j =>
      sum(when(substring(col("h"), j, 1).isin(hexHigh: _*), 1).otherwise(-1))
        .as(s"v$j"))
    val fp = sh.groupBy(col("doc_id")).agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"),
        (1 to 16).map(j => when(col(s"v$j") >= 0, lit(1L << (j - 1)))
          .otherwise(lit(0L))).reduce(_ + _).as("simhash"))
    fp.as("a").hint("shuffle_hash")
      .join(fp.as("b"), col("a.simhash") === col("b.simhash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.simhash").as("simhash"))
  }

  /** Diameter-proof connected components: alternating large-star /
    * small-star rounds (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC 2014) → same (doc_id, keeper) contract
    * as [[keepers]]. Min-label propagation pays one round per hop of
    * component diameter — fine for near-dup clusters (clique-ish,
    * 2-3 rounds) but a 100 TB liability when near-dups CHAIN (template
    * drift: A~B~C~…, diameter in the hundreds). Star contraction
    * converges in O(log²) rounds on ANY topology:
    *  - large-star (per node u): point every LARGER neighbor at the
    *    minimum of u's closed neighborhood;
    *  - small-star: point every smaller-or-self node at that minimum.
    * Each half-round is one groupBy + one equi join on the edge list;
    * edges stay normalized (big, small); fixpoint = edge set unchanged
    * (count + order-free hash signature, two scalar actions per round).
    * At fixpoint the edge set IS the answer: every non-root points
    * straight at its component minimum. */
  def keepersBigStar(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    // Contract parity with [[keepers]]: a doc whose ONLY pairs are
    // self-pairs (d,d) still gets a row (its own keeper) there, but star
    // contraction drops self-loops up front — so remember those nodes
    // and re-attach any that end with no real edge. Unreachable from the
    // d1 < d2 Jaccard pipelines; matters for direct callers. Eager
    // (checkpointed): the returned frame must not re-evaluate `pairs`
    // after a caller unpersists it.
    val selfNodes = pairs.filter(col("d1") === col("d2"))
      .select(col("d1").as("doc_id")).distinct()
      .localCheckpoint(true)
    val edges0 = pairs
      .select(greatest(col("d1"), col("d2")).as("u"),
        least(col("d1"), col("d2")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    def signature(e: DataFrame): (Long, Long) = {
      // order-free set fingerprint; bit_xor can't overflow under ANSI
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val fp = Fixpoint.iterate(edges0, start = signature(edges0),
        cap = maxIters)(
      step = edges => {
        // large-star over undirected neighborhoods; emitted (bigger
        // neighbor, closed-neighborhood min) pairs are normalized by
        // construction (v > u ≥ m).
        val nbrs = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
        val lsMin = nbrs.groupBy("u")
          .agg(min(col("v")).as("mv"))
          .select(col("u"), least(col("mv"), col("u")).as("m"))
        val ls = nbrs.filter(col("v") > col("u"))
          .join(lsMin, "u")
          .select(col("v").as("u"), col("m").as("v"))
          .filter(col("u") =!= col("v")).distinct()
          .localCheckpoint(true)
        // small-star over the downward edges: everything in u's closed
        // in-neighborhood re-points at its min.
        val ssMin = ls.groupBy("u").agg(min(col("v")).as("m"))
        val withMin = ls.join(ssMin, "u")
        withMin.select(col("v").as("n"), col("m"))
          .union(withMin.select(col("u").as("n"), col("m")))
          .filter(col("n") =!= col("m"))
          .select(greatest(col("n"), col("m")).as("u"),
            least(col("n"), col("m")).as("v"))
          .distinct()
      },
      measure = (_, next) => signature(next),
      done = _ == _)
    if (!fp.converged) throw new IllegalStateException(
      s"keepersBigStar: not converged after $maxIters rounds")
    val edges = fp.state
    val core = edges.select(col("u").as("doc_id"), col("v").as("keeper"))
      .union(edges.select(col("v"), col("v")).distinct())
      .distinct()
    core.union(
      selfNodes.join(core.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("doc_id").as("keeper")))
  }

  /** Per-doc 4-band × 4-row minhash signature (columns m00..m33).
    *
    * min over LONGS, not hex strings: a string agg buffer forces the
    * planner down to SortAggregate (per-partition sort of the whole
    * shingle set); fixed-width lowercase hex is order-isomorphic to
    * its numeric value, so min picks the same element and the band
    * candidate set is unchanged — but the agg stays HashAggregate.
    * (The DuckDB twin keeps hex-string mins; the values never reach
    * the output, only band-key equality and slot-agreement counts.) */
  private def signatures(sh: DataFrame): DataFrame = {
    val hashed = sh.select(
      col("doc_id") +: (0 to 3).map(g =>
        md5(concat(lit(s"$g:"), col("shingle"))).as(s"h$g")): _*)
    val minCols = for { g <- 0 to 3; j <- 0 to 3 }
      yield min(conv(substring(col(s"h$g"), j * 8 + 1, 8), 16, 10)
        .cast("long")).as(s"m$g$j")
    hashed.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
  }

  /** Fixed slot order of the 16 minhash values — banding configs slice
    * CONSECUTIVE runs of this, so every (16/r) × r grid reuses the same
    * signature aggregate. */
  private val sigSlots: Seq[String] =
    for { g <- 0 to 3; j <- 0 to 3 } yield s"m$g$j"

  /** MinHash+LSH candidate pairs at r rows per band over the 16-slot
    * signature (16/r bands — band i keys on slots [i·r, (i+1)·r)).
    * r = 4 is the production default shared by q_dedup_minhash,
    * q_dedup_lsh_recall and q_dedup_minhash_est; the other grid points
    * exist for q_dedup_lsh_tuning's S-curve row. */
  /** Build the suffix automaton of `t` and fold it straight into the
    * census row — O(n) states/transitions (≤ 2n−1 states; Blumer et
    * al. 1985). Endpos counts seed 1 on primary states, 0 on clones,
    * then propagate up suffix links in decreasing-len order, so
    * cnt(v) is EXACTLY the number of occurrences of every substring
    * in v's class. Pure function of the string — the DuckDB twin
    * cross-checks it by brute-force substring enumeration. */
  private[graft] def samCensus(id: Long, t: String): SamCensus = {
    val n = t.length
    val m = 2 * n + 2
    val len = new Array[Int](m)
    val link = new Array[Int](m)
    val cnt = new Array[Long](m)
    val trans = Array.fill(m)(new java.util.HashMap[Character, Integer]())
    var size = 1
    var last = 0
    link(0) = -1
    var i = 0
    while (i < n) {
      val c: Character = t.charAt(i)
      val cur = size; size += 1
      len(cur) = len(last) + 1
      cnt(cur) = 1L
      var p = last
      while (p != -1 && !trans(p).containsKey(c)) {
        trans(p).put(c, cur); p = link(p)
      }
      if (p == -1) link(cur) = 0
      else {
        val q: Int = trans(p).get(c)
        if (len(p) + 1 == len(q)) link(cur) = q
        else {
          val clone = size; size += 1
          len(clone) = len(p) + 1
          link(clone) = link(q)
          trans(clone).putAll(trans(q))
          cnt(clone) = 0L // clone owns no endpos of its own
          while (p != -1 && {
              val g = trans(p).get(c); g != null && g.intValue == q }) {
            trans(p).put(c, clone); p = link(p)
          }
          link(q) = clone
          link(cur) = clone
        }
      }
      last = cur
      i += 1
    }
    // counting sort by len (len ≤ n) replaces the comparison sort —
    // the propagation must visit children before parents
    val byLen = Array.fill(n + 1)(List.empty[Int])
    var v = 1
    while (v < size) { byLen(len(v)) ::= v; v += 1 }
    var l = n
    while (l >= 1) {
      // every v ≥ 1 has link(v) ≥ 0 (only the root links to -1)
      byLen(l).foreach(v => cnt(link(v)) += cnt(v))
      l -= 1
    }
    var nDistinct = 0L; var nRep = 0L; var lrs = 0
    v = 1
    while (v < size) {
      val span = (len(v) - len(link(v))).toLong
      nDistinct += span
      if (cnt(v) >= 2L) { nRep += span; if (len(v) > lrs) lrs = len(v) }
      v += 1
    }
    SamCensus(id, n, nDistinct, nRep, lrs)
  }

  /** (doc_id, band, bkey) banding table at r rows per band — the
    * materialized LSH index artifact a standing corpus keeps. */
  private[graft] def bandsAt(sh: DataFrame, r: Int): DataFrame =
    bandsFrom(signatures(sh), r)

  /** Frame-taking form: slice band keys from an ALREADY-COMPUTED
    * 16-slot signature frame — [[lshTuningTree]] materializes the
    * signature aggregate once and slices all four grid configs from
    * it instead of re-aggregating the shingle table per config. */
  private def bandsFrom(sig: DataFrame, r: Int): DataFrame = {
    val bandStructs = (0 until 16 / r).map(i => struct(
      lit(i).as("band"),
      concat_ws(",", sigSlots.slice(i * r, (i + 1) * r).map(col): _*).as("bkey")))
    sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.bkey").as("bkey"))
  }

  private def bandCandidatesAt(sh: DataFrame, r: Int): DataFrame =
    bandCandidatesFrom(signatures(sh), r)

  private def bandCandidatesFrom(sig: DataFrame, r: Int): DataFrame = {
    val bands = bandsFrom(sig, r)
    // band table inherits a below-explode size estimate → shuffle_hash,
    // strategy from runtime sizes (see bruteInter).
    bands.as("a").hint("shuffle_hash")
      .join(bands.as("b"), col("a.band") === col("b.band") &&
        col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  private def bandCandidates(sh: DataFrame): DataFrame =
    bandCandidatesAt(sh, 4)

  // ---- Operator trees. All LAZY and CACHE-FREE by design, measured
  // against the persist-the-shingles and checkpoint-the-result
  // alternatives at sf0.1: the shingle pipeline is a fused codegen scan
  // (re-evaluating it costs ~0.3 s where persisting its string pairs
  // costs a columnar cache write + non-fused reads), identical
  // self-join subtrees land on ReusedExchange anyway, and an eager
  // localCheckpoint adds ~2 s of RDD-materialization overhead per
  // query. Lazy-no-persist won every comparison — and leaks nothing,
  // whoever the caller is. ----

  /** Brute Jaccard over an (optionally capped) shingle set. */
  private def jaccardTree(sh: DataFrame, thr: Double): DataFrame =
    jaccardFinish(bruteInter(sh), sh, thr).orderBy("d1", "d2")

  /** Frequency cap: drop shingles with df above the cap. The hot set is
    * tiny (distinct hot shingles) — auto-broadcast into the anti join;
    * the corpus side never shuffles for it. */
  private def cappedShingles(shAll: DataFrame): DataFrame = {
    val hot = shAll.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df")).filter(col("df") > 5)
      .select(col("shingle"))
    shAll.join(hot, Seq("shingle"), "left_anti")
  }

  /** MinHash+LSH: band candidates, Jaccard-verified at ≥ 0.7. */
  private def minhashTree(sh: DataFrame): DataFrame =
    jaccardFinishSized(candIntersections(bandCandidates(sh), sh), 0.7)
      .orderBy("d1", "d2")

  /** Banding recall vs the true Jaccard ≥ 0.8 pair set (one row). */
  private def lshRecallTree(sh: DataFrame): DataFrame = {
    val truePairs = jaccardFinish(bruteInter(sh), sh, 0.8)
      .select(col("d1"), col("d2"))
    val cand = bandCandidates(sh)
      .select(col("d1").as("c1"), col("d2").as("c2"))
    truePairs.join(cand,
        col("d1") === col("c1") && col("d2") === col("c2"), "left")
      .agg(count(lit(1)).as("n_true"),
        count(col("c1")).as("n_found"),
        round(count(col("c1")).cast("double") /
          count(lit(1)).cast("double"), 4).as("recall"))
  }

  /** The bands × rows S-curve over ONE 16-slot signature — recall AND
    * candidate volume at every grid point (16×1, 8×2, 4×4, 2×8), next
    * to the true Jaccard ≥ 0.8 pair count. The LSH analog of
    * q_hll_tuning's m-curve and q_knn_recall's nprobe loop: banding
    * theory says the candidate threshold sits near (1/b)^(1/r) (≈ .06,
    * .35, .71, .92 here), so recall falls and precision rises with r —
    * this row is the measured curve a pipeline picks its operating
    * point from. All four configs fold the SAME signature aggregate,
    * only the band-key slicing differs. */
  private def lshTuningTree(sh: DataFrame): DataFrame = {
    val configs = Seq(1, 2, 4, 8)
    // The expensive brute-truth subtree is evaluated ONCE and
    // replicated per config by a 4-row explode — NOT once per union
    // arm (the r6 sq8 double-eval lesson: arms re-plan shared subtrees
    // under fresh attribute IDs with no exchange reuse). One full-outer
    // join then yields volume, truth and intersection per config from
    // a single pass over each side. The four candidate arms still
    // re-aggregate the 16-min signature each (a union cannot share it);
    // at corpus scale the signature table is a materialized index
    // artifact and all four configs would read it, not recompute it.
    val truthX = jaccardFinish(bruteInter(sh), sh, 0.8)
      .select(col("d1"), col("d2"))
      .withColumn("r", explode(array(configs.map(lit): _*)))
      .withColumn("tr", lit(1))
    // The 16-min signature aggregate (a full shingle scan + groupBy)
    // is materialized ONCE — |docs| rows of 16 longs — and all four
    // band slicings read it; as a lazy subtree each union arm
    // re-planned and re-ran it under fresh attribute IDs (the same
    // no-reuse behavior the truthX explode dodges). Measured at sf0.1:
    // four 32-task signature stages collapse to one.
    val sig = signatures(sh).localCheckpoint(true)
    val allCands = configs.map(r =>
        bandCandidatesFrom(sig, r).withColumn("r", lit(r)))
      .reduce(_ unionByName _)
      .withColumn("hit", lit(1))
    allCands.join(truthX, Seq("r", "d1", "d2"), "full_outer")
      .groupBy(col("r"))
      .agg(count(col("hit")).as("n_candidates"),
        count(col("tr")).as("n_true"),
        count(when(col("hit") === 1 && col("tr") === 1, 1)).as("n_found"),
        round(count(when(col("hit") === 1 && col("tr") === 1, 1)).cast("double") /
          count(col("tr")).cast("double"), 4).as("recall"))
      .select(expr("cast(16 div r as int)").as("bands"),
        col("r").as("rows_per_band"),
        col("n_candidates"), col("n_true"), col("n_found"), col("recall"))
      .orderBy("rows_per_band")
  }

  /** SimHash screen precision vs Jaccard ≥ 0.7 truth (one row). */
  private def simhashPrecisionTree(sh: DataFrame, cand: DataFrame): DataFrame = {
    val near = jaccardFinishSized(candIntersections(cand, sh), 0.7)
      .select(col("d1").as("j1"), col("d2").as("j2"))
    cand.join(near,
        col("d1") === col("j1") && col("d2") === col("j2"), "left")
      .agg(count(lit(1)).as("n_pairs"),
        count(col("j1")).as("n_near"),
        round(count(col("j1")).cast("double") /
          count(lit(1)).cast("double"), 4).as("precision"))
  }

  /** Content-defined chunks of a (doc_id, text) frame at word grain —
    * the LBFS/backup-CAS chunking (Muthitacharoen et al., SOSP'01)
    * every content-addressed store and sub-document dedup tier runs:
    * a boundary lands after word i whenever the 4-word window ending
    * at i hashes to 0 mod 16 (avg chunk ≈ 16 words), plus the forced
    * final cut. Boundaries depend only on LOCAL window content, so an
    * insertion re-chunks O(1) chunks instead of shifting every block —
    * the property q_dedup_cdc_shift measures against fixed blocks.
    * Map-only single scan (higher-order array ops per doc, no
    * exchange); the md5-window hash is the engine-wide conv idiom so
    * the DuckDB twin recomputes boundaries exactly. */
  private[graft] def cdcChunks(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("t"), expr(
        s"concat($CdcBoundaryExpr, array(size(t)))").as("cuts"))
      .select(col("doc_id"), explode(expr(CdcSliceExpr)).as("chunk"))

  /** Content-defined boundary positions of a word array `t` (the cut
    * list WITHOUT the forced final cut) — shared by [[cdcChunks]] and
    * the derived-shift form below so both legs hash identical windows. */
  private val CdcBoundaryExpr =
    "case when size(t) >= 5 then filter(transform(" +
      "sequence(3, size(t) - 2), i -> if(cast(conv(substring(md5(" +
      "concat_ws(' ', t[i-3], t[i-2], t[i-1], t[i])), 1, 8), 16, 10)" +
      " as bigint) % 16 = 0, i + 1, -1)), x -> x != -1) " +
      "else cast(array() as array<int>) end"

  /** Slice a word array `t` into chunks at positions `cuts`. */
  private val CdcSliceExpr =
    "transform(sequence(0, size(cuts) - 1), j -> concat_ws(' ', " +
      "slice(t, if(j = 0, 0, cuts[j-1]) + 1, " +
      "cuts[j] - if(j = 0, 0, cuts[j-1]))))"

  /** Both chunkings q_dedup_cdc_shift compares — the base corpus and
    * its PAD-prefixed shift — from ONE window-hash pass (guide §1.2:
    * the md5-per-word-position scan is the query's entire task-time
    * bill, and the shifted text's windows ARE the base text's windows:
    * the window ending at shifted position j covers base words
    * [j−4, j−1], so for j ≥ 4 it is exactly the base window ending at
    * j−1, and the shifted window range [3, n_s−2] = [3, n−1] maps
    * 1-to-1 onto the base range [3, n−2]. Hence
    *   shifted cuts = {4 | the one new PAD window hashes ≡ 0}
    *                ∪ {c+1 | c ∈ base cuts} ∪ {n+1 (forced)}
    * — ONE extra md5 per doc instead of a full second pass. CDC's
    * whole point is that boundaries are local window functions; this
    * derivation is that property written as algebra, and CdcSpec pins
    * derived == direct on corpus and adversarial inputs. The hash
    * frame is checkpoint-materialized because both legs consume it
    * (plan references do not share subtrees). */
  private[llm] def cdcBaseAndShift(docs: DataFrame): (DataFrame, DataFrame) = {
    val hashed = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .withColumn("bcuts", expr(CdcBoundaryExpr))
      // the ONE window the shift adds: PAD + the first three words
      // (exists only when the shifted array has ≥ 5 words, i.e. n ≥ 4)
      .withColumn("padcut", expr(
        "size(t) >= 4 and cast(conv(substring(md5(" +
          "concat_ws(' ', 'PAD', t[0], t[1], t[2])), 1, 8), 16, 10)" +
          " as bigint) % 16 = 0"))
      .localCheckpoint(true)
    val base = hashed
      .withColumn("cuts", expr("concat(bcuts, array(size(t)))"))
      .select(col("doc_id"), explode(expr(CdcSliceExpr)).as("chunk"))
    val shift = hashed
      .withColumn("t", expr("concat(array('PAD'), t)"))
      .withColumn("cuts", expr(
        "concat(if(padcut, array(4), cast(array() as array<int>)), " +
          "transform(bcuts, c -> c + 1), array(size(t)))"))
      .select(col("doc_id"), explode(expr(CdcSliceExpr)).as("chunk"))
    (base, shift)
  }

  val queries: Map[String, Q] = Map(
    // Content-defined-chunking census — the storage-level dedup tier
    // (CAS shards, WARC stores, checkpoint dedup) below the document
    // tiers above: chunk every doc at content-defined boundaries,
    // group chunks by content, and report per copy-count the distinct
    // chunk count plus stored (unique) vs logical bytes — the dedup
    // ratio a storage planner reads. Scale shape: map-only chunking
    // fused into the scan, ONE chunk-keyed exchange with map-side
    // partial aggregation, then a copies-bounded census.
    "q_dedup_cdc" -> ((s, dir) =>
      cdcChunks(Tables.fan(Tables(s, dir, "documents")))
        .groupBy(col("chunk"))
        .agg(count(lit(1)).as("copies"))
        // octet_length, not length: the metric is BYTES (what the
        // storage layer actually holds), so multibyte text must count
        // octets — both engines use the byte-counting form.
        .select(col("copies"), octet_length(col("chunk")).as("bytes"))
        .groupBy(col("copies"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("bytes")).as("stored_bytes"),
          sum(col("bytes") * col("copies")).as("logical_bytes"))
        .orderBy("copies")),

    // WHY content-defined: prepend one word to every doc and re-chunk.
    // CDC boundaries are local-window functions, so only the chunks
    // overlapping the insertion change and the rest of each doc's
    // chunk set survives byte-identically; fixed 16-word blocks all
    // shift by one word and survive only by coincidence. The row pair
    // (surviving, total, survival basis points) is the measured form
    // of that argument — the reason every CAS dedup uses CDC. Scale
    // shape: two map-only chunk scans per method and one chunk-keyed
    // equi join; survival is exact integer bp (the Num discipline).
    "q_dedup_cdc_shift" -> ((s, dir) => {
      val docs = Tables.fan(Tables(s, dir, "documents"))
      val shifted = docs.select(col("doc_id"),
        concat(lit("PAD "), col("text")).as("text"))
      def fixedChunks(d: DataFrame): DataFrame = d
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, (size(t) - 1) div 16), " +
            "j -> concat_ws(' ', slice(t, j * 16 + 1, 16)))")).as("chunk"))
      def survival(method: String, base: DataFrame, shift: DataFrame) = {
        val b = base.distinct()
        b.join(shift.distinct(), Seq("doc_id", "chunk"), "left_semi")
          .agg(count(lit(1)).as("surviving"))
          .crossJoin(b.agg(count(lit(1)).as("total_chunks")))
          .select(lit(method).as("method"), col("total_chunks"),
            col("surviving"),
            expr("case when total_chunks = 0 then cast(0 as bigint) " +
              "else (surviving * 10000) div total_chunks end")
              .as("survival_bp"))
      }
      // one window-hash pass for both CDC legs (see cdcBaseAndShift);
      // identical chunk frames to cdcChunks(docs)/cdcChunks(shifted)
      val (cdcBase, cdcShift) = cdcBaseAndShift(docs)
      survival("cdc", cdcBase, cdcShift)
        .unionAll(
          survival("fixed16", fixedChunks(docs), fixedChunks(shifted)))
        .orderBy("method")
    }),

    // Exact dedup: group by content digest, elect min-id keeper.
    // One hash-aggregate; at 100 TB the digest is computed in the scan
    // projection and the exchange carries (digest, id) only.
    "q_dedup_exact" -> ((s, dir) => {
      // no fan: one md5 per doc straight into a hash aggregate — the
      // exchange costs more than the single-pass hash saves (measured)
      Tables(s, dir, "documents")
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy("content_hash")
    }),

    // Bag-of-words dedup: same, on an order-insensitive canonical form
    // (sorted token multiset) — catches shuffled near-copies exactly.
    "q_dedup_bag" -> ((s, dir) => {
      Tables.fan(Tables(s, dir, "documents"))
        .groupBy(md5(concat_ws(" ", sort_array(split(col("text"), " "))))
          .as("bag_hash"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy("bag_hash")
    }),

    // URL-canonicalization dedup — the crawl-frontier/WARC dedup step
    // every web corpus runs BEFORE content dedup (CCNet/RefinedWeb
    // shape): the same page fetched as `HTTP://EX3.COM:80/p7/?utm_src=x
    // &b=1&a=2#sec` and `http://ex3.com/p7?a=2&b=1` is ONE document.
    // The fixture tables carry no URLs, so a messy URL is synthesized
    // per doc from its md5 hex digits (casing, default-port, tracking-
    // param, param-order, trailing-slash, fragment arms — the
    // established md5-driven synthesis pattern, Multimodal.scala:85);
    // the OPERATOR then parses the URL STRING with regexp/array
    // built-ins only: lowercase scheme+host, strip :80/http and
    // :443/https default ports (non-default ports survive), strip the
    // trailing slash, drop utm_* params, sort the survivors, drop the
    // fragment. Canonicalization is all codegen'd string ops in the
    // scan projection; the dedup itself is ONE hash-aggregate on the
    // canonical string — q_dedup_exact's 100 TB shape exactly.
    // Split-hygiene guard — the check a training pipeline runs AFTER
    // assigning train/valid/test and BEFORE training: near-duplicate
    // pairs that STRADDLE a split boundary are evaluation leakage
    // (Lee et al. 2021 found C4 eval contaminated this way). The
    // deterministic hash split (12/2/2 sixteenths by md5 first hex
    // digit — retry- and engine-stable like q_sample_hash) joins
    // against the SAME LSH band candidates the minhash dedup uses,
    // Jaccard-verified at ≥ 0.7, and reports the split×split leak
    // matrix with worst-pair severity. Scale shape: identical to
    // q_dedup_minhash (band-key equality join, never all-pairs) plus
    // two doc-keyed attach joins and a 6-row aggregate.
    "q_split_leakage" -> ((s, dir) => {
      val sh = shingles(s, dir)
      val verified =
        jaccardFinishSized(candIntersections(bandCandidates(sh), sh), 0.7)
      val firstHex = "substring(md5(cast(doc_id as string)), 1, 1)"
      val split = Tables.fan(Tables(s, dir, "documents")).select(col("doc_id"), expr(
        s"""CASE WHEN $firstHex < 'c' THEN 'train'
           |     WHEN $firstHex < 'e' THEN 'valid'
           |     ELSE 'test' END""".stripMargin).as("split"))
      verified
        .join(split.select(col("doc_id").as("d1"), col("split").as("sp1")), "d1")
        .join(split.select(col("doc_id").as("d2"), col("split").as("sp2")), "d2")
        .groupBy(least(col("sp1"), col("sp2")).as("split_a"),
          greatest(col("sp1"), col("sp2")).as("split_b"))
        .agg(count(lit(1)).as("n_leak_pairs"),
          max(col("jaccard")).as("max_jaccard"))
        .orderBy("split_a", "split_b")
    }),

    "q_dedup_url" -> ((s, dir) => {
      canonicalizeUrl(Tables.fan(Tables(s, dir, "documents"))
        .withColumn("h", md5(col("text")))
        .withColumn("url", expr(urlSynthSql)))
        .groupBy(col("canon").as("canon_url"))
        .agg(min(col("doc_id")).as("keeper"),
          count(lit(1)).as("n_copies"),
          countDistinct(col("url")).as("n_raw_forms"))
        .orderBy("canon_url")
    }),

    // URL FILTER gate — the crawl-frontier stage UPSTREAM of even the
    // URL dedup (CCNet/RefinedWeb run it first; UT1-style lists are
    // static operator config): every candidate URL is canonicalized
    // and routed to the FIRST matching rule — deny-listed domain,
    // non-default port (the classic trap/mirror signal a crawler
    // skips), over-parameterized query string (session/trap URLs) —
    // or kept. Output is the per-reason census with distinct-URL
    // counts, the number a crawl op reads to see what each rule
    // costs. Scale shape: the synth + canonicalizer + rule CASE are
    // one codegen scan projection feeding a 4-row aggregate — zero
    // joins (the deny list is a literal IN; a file-fed list would be
    // a broadcast semi join, same plan class).
    "q_url_filter" -> ((s, dir) =>
      urlFilterDecisionsOn(Tables.fan(Tables(s, dir, "documents")))
        .groupBy(col("reason"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("canon")).as("n_urls"))
        .orderBy("reason")),

    // ROBOTS.TXT gate — the crawl-politeness stage between the URL
    // filter and the fetch: each domain's robots.txt is PARSED for
    // real (sectioned, order-sensitive: a `User-agent: *` section
    // opens collection, any other User-agent line closes it, Disallow
    // values accumulate only inside the open section — the aggregate
    // lambda is a genuine line-state machine, not a regexp grep), and
    // every URL's canonical path prefix-matches the collected
    // disallow set (robots prefix semantics: /p1 blocks /p1 AND
    // /p10../p15). The fixture robots carries a DECOY section
    // (`User-agent: GoodBot` with its own Disallow) that must NOT
    // leak into the `*` rules — the disallow column in the output is
    // the parsed rule list, so the hash gate fails on any section
    // bleed. Twin discipline = the decoders': DuckDB recomputes the
    // rules from the md5 model and never parses. Scale shape: the
    // robots synth + parser + prefix match are scan-side projections;
    // ONE domain-keyed aggregate ends the plan (at deployment robots
    // bodies come from a fetched side table — a broadcast join by
    // domain, same plan class).
    "q_robots_filter" -> ((s, dir) =>
      robotsDecisionsOn(Tables.fan(Tables(s, dir, "documents")))
        .groupBy(col("domain"), col("disallow"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("blocked"), 1L).otherwise(0L)).as("n_blocked"),
          sum(when(!col("blocked"), 1L).otherwise(0L)).as("n_allowed"))
        .orderBy("domain")),

    // CRAWL-POLITENESS schedule — the planning row between the robots
    // gate and the fetcher: per domain, the ACTIVE section's
    // Crawl-delay (the decoy section plants its own delay, so the
    // parsed value also gates section scoping), the allowed-URL count
    // after the disallow prefix match, and the serialized fetch
    // makespan n_allowed · delay — the number that sizes per-host
    // queues and names the domains that bound the crawl's wall clock.
    // Scale shape: the same scan-side synth+parse projection as
    // q_robots_filter into ONE domain-keyed aggregate.
    "q_crawl_schedule" -> ((s, dir) =>
      robotsDecisionsOn(Tables.fan(Tables(s, dir, "documents")))
        .groupBy(col("domain"))
        .agg(max(col("delay")).as("crawl_delay"),
          sum(when(!col("blocked"), 1L).otherwise(0L)).as("n_allowed"))
        .withColumn("makespan_s",
          col("crawl_delay").cast("long") * col("n_allowed"))
        .orderBy(col("makespan_s").desc, col("domain"))),

    // Per-DOMAIN crawl census — the blocklist-candidate artifact crawl
    // ops maintain (a domain with high dup_rate is boilerplate/mirror
    // farm; high gopher-drop share is template spam): URL canonical-
    // ization AND the Gopher quality gate composed at a NEW grain.
    // Scale shape: everything is a scan-side codegen projection (URL
    // synth + canonicalizer regexp chain + the per-doc higher-order
    // array ratios) feeding ONE domain-keyed aggregate — zero Spark
    // joins; domains are a bounded dimension so the exchange is tiny
    // and countDistinct's expand stays per-domain. The DuckDB twin
    // reuses urlCanonCtes + gopherCtes joined on doc_id (the oracle
    // may join; the plan does not).
    "q_domain_stats" -> ((s, dir) => {
      val canon = canonicalizeUrl(Tables.fan(Tables(s, dir, "documents"))
        .withColumn("h", md5(col("text")))
        .withColumn("url", expr(urlSynthSql)))
      graft.ops.TextOps.gopherFlagsOn(canon
          .withColumn("t", expr("filter(split(text, ' '), x -> x <> '')"))
          .filter(size(col("t")) > 0))
        .groupBy(col("host_l").as("domain"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("canon")).as("n_pages"),
          round((count(lit(1)) - countDistinct(col("canon"))).cast("double")
            / count(lit(1)).cast("double"), 4).cast("double").as("dup_rate"),
          sum(when(!col("keep"), 1L).otherwise(0L)).as("n_gopher_drop"),
          sum(col("n_tokens").cast("long")).as("n_tokens"))
        .orderBy("domain")
    }),

    // The OPERATING CURVE behind q_dedup_shard_loss: missed-removal
    // fraction at 2/4/8/16 rendezvous shards, all four placements from
    // ONE 16-way generate (restricting the argmax to s < S re-derives
    // the S-shard placement — rendezvous stability means smaller
    // grids are exact prefixes of the decision). The curve is what a
    // deployment consults when trading dedup completeness against
    // shard-local parallelism: more shards, more straddled groups.
    // One scan, one doc-keyed exchange, one aggregate, a 4-row result.
    "q_dedup_shard_loss_grid" -> ((s, dir) => {
      val grid = Seq(2, 4, 8, 16)
      val canon = canonicalizeUrl(Tables.fan(Tables(s, dir, "documents"))
        .withColumn("h", md5(col("text")))
        .withColumn("url", expr(urlSynthSql)))
        .select(col("doc_id"), col("canon"))
      val shardAggs = grid.map(n =>
        max_by(col("sh"), when(col("sh") < n, col("w"))).as(s"shard$n"))
      val sharded = canon
        .select(col("doc_id"), col("canon"),
          explode(expr("sequence(0, 15)")).as("sh"))
        .withColumn("w", md5(concat(col("doc_id").cast("string"),
          lit(":"), col("sh").cast("string"))))
        .groupBy(col("doc_id"), col("canon"))
        .agg(shardAggs.head, shardAggs.tail: _*)
      val cdAggs = grid.map(n =>
        countDistinct(col(s"shard$n"), col("canon")).as(s"nc$n"))
      sharded
        .agg(count(lit(1)).as("n_docs"),
          (countDistinct(col("canon")).as("n_canon") +: cdAggs): _*)
        .select(explode(array(grid.map(n =>
          struct(lit(n).as("n_shards"),
            (col(s"nc$n") - col("n_canon")).as("missed"),
            round((col(s"nc$n") - col("n_canon")).cast("double") /
              (col("n_docs") - col("n_canon")).cast("double"), 4)
              .as("missed_frac"))): _*)).as("g"))
        .select(col("g.n_shards"), col("g.missed"), col("g.missed_frac"))
        .orderBy("n_shards")
    }),

    // Shard-local vs GLOBAL dedup loss (see the oracle comment): the
    // rendezvous 4-way placement of q_shard_rendezvous composed with
    // the canonical-URL dedup key, reduced to one row of exact counts.
    // Scale shape: scan-side canonicalization, a 4-way generate +
    // per-doc max_by (map-side partials, one doc-keyed exchange), and
    // ONE aggregate whose count-distincts are the only other shuffle.
    "q_dedup_shard_loss" -> ((s, dir) => {
      val canon = canonicalizeUrl(Tables.fan(Tables(s, dir, "documents"))
        .withColumn("h", md5(col("text")))
        .withColumn("url", expr(urlSynthSql)))
        .select(col("doc_id"), col("canon"))
      canon
        .select(col("doc_id"), col("canon"),
          explode(expr("sequence(0, 3)")).as("sh"))
        .withColumn("w", md5(concat(col("doc_id").cast("string"),
          lit(":"), col("sh").cast("string"))))
        .groupBy(col("doc_id"), col("canon"))
        .agg(expr("max_by(sh, w)").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("canon")).as("n_canon"),
          countDistinct(col("shard"), col("canon")).as("n_shard_canon"))
        .select(col("n_docs"), col("n_canon"),
          (col("n_docs") - col("n_canon")).as("global_removable"),
          (col("n_docs") - col("n_shard_canon")).as("local_removable"),
          (col("n_shard_canon") - col("n_canon")).as("missed"),
          round((col("n_shard_canon") - col("n_canon")).cast("double") /
            (col("n_docs") - col("n_canon")).cast("double"), 4)
            .as("missed_frac"))
    }),

    // Brute-force n-gram Jaccard near-dup: distinct-shingle self-join →
    // pair intersection counts → |A∩B| / |A∪B| ≥ 0.8. The verify
    // baseline for LSH; the join shuffles on the shingle string.
    "q_dedup_jaccard" -> ((s, dir) => jaccardTree(shingles(s, dir), 0.8)),

    // CONTAINMENT (Broder 1997's asymmetric companion to resemblance):
    // C(A,B) = |A∩B| / |A| — the metric that catches a SHORT doc
    // quoted wholesale inside a long one, where Jaccard stays low
    // because the union is dominated by the long doc (the
    // boilerplate/quotation/partial-duplicate case every production
    // dedup screens separately from near-identity). Same shingle
    // intersection as q_dedup_jaccard; the finish divides by each
    // side's OWN size and keeps pairs where either direction ≥ 0.9.
    "q_dedup_containment" -> ((s, dir) => {
      val sh = shingles(s, dir)
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      bruteInter(sh)
        .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
        .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
        .withColumn("c1", col("inter").cast("double") / col("n1").cast("double"))
        .withColumn("c2", col("inter").cast("double") / col("n2").cast("double"))
        .filter(greatest(col("c1"), col("c2")) >= 0.9)
        .select(col("d1"), col("d2"), round(col("c1"), 4).as("cont1"),
          round(col("c2"), 4).as("cont2"))
        .orderBy("d1", "d2")
    }),

    // PREFIX-FILTERED exact similarity join (Chaudhuri/Ganti/Kaushik
    // ICDE'06 SSJoin; Bayardo/Ma/Srikant WWW'07 AllPairs; Xiao et al.
    // WWW'08 PPJoin): the LOSSLESS alternative to the df-cap — under a
    // global rarest-first shingle order, any pair with Jaccard ≥ τ
    // must share a shingle inside both docs' first
    // s − ⌈τ·s⌉ + 1 shingles, so the candidate join runs on PREFIXES
    // only and still misses nothing (DedupSpec pins result-set
    // equality with the unfiltered q_dedup_jaccard). The prefix is
    // the algorithm's skew guard too: it keeps each doc's RAREST
    // shingles, so per-key fan-out in the candidate join is small by
    // construction — where q_dedup_jaccard_capped buys the same bound
    // by discarding hot shingles from the metric itself. ⌈τ·s⌉ is
    // integer-exact ((4s + 4) div 5 — never a float ceil, whose
    // 0.8·5 = 4.000000000000000222 would silently shrink the prefix
    // and break losslessness). Verification reuses the shared
    // candidate-intersection + Jaccard tail, so the metric is
    // bit-identical to the plain query's.
    "q_dedup_ppjoin" -> ((s, dir) => {
      val sh = shingles(s, dir)
      jaccardFinishSized(candIntersections(prefixCandidates(sh, 4, 5), sh), 0.8)
        .orderBy("d1", "d2")
    }),

    // Frequency-capped Jaccard: drop hot shingles (df > 5 here — at
    // production scale the cap is a corpus fraction, e.g. df > 0.1%·N)
    // BEFORE the self-join. Hot shingles (stopword n-grams, boilerplate)
    // are the skew bomb in the shingle shuffle: one shingle shared by k
    // docs emits k²/2 join rows. The cap bounds per-key fan-out, and
    // Jaccard is computed over the capped shingle space on BOTH axes
    // (intersections and sizes) so the metric stays a true Jaccard.
    "q_dedup_jaccard_capped" -> ((s, dir) =>
      jaccardTree(cappedShingles(shingles(s, dir)), 0.8)),

    // Near-dup CLUSTERS: Jaccard ≥ 0.8 pairs → connected components →
    // min-id keeper per component ([[keepers]]). Oracle: recursive-CTE
    // transitive closure over the same pair set. r17: the pair list
    // loads from the persisted artifact ([[jaccardPairsDurable]]).
    "q_dedup_cluster" -> ((s, dir) =>
      keepers(jaccardPairsDurable(s, dir)).orderBy("doc_id")),

    // DELETION PROPAGATION (right-to-be-forgotten) — the compliance
    // op every production corpus store needs: tombstone a doc set
    // (doc_id % 17 = 0 — at deployment the list arrives as a table)
    // and PROPAGATE through the near-dup cluster layer: pairs
    // touching a tombstone drop, keepers re-elect over the surviving
    // graph, and the census classifies every before-cluster by what
    // the deletion did to it — gone (no survivors), dissolved
    // (survivors but no surviving pairs), split (the forgotten doc
    // was a bridge), keeper_reelected (the old keeper was
    // tombstoned), shrunk, unchanged. n_docs_before/after make the
    // doc-level cost visible. Index artifacts need no explicit
    // invalidation: the post-delete corpus has a NEW IndexStore
    // content fingerprint, so every dependent artifact is
    // structurally missing and rebuilds (IndexStoreSpec pins this).
    // Scale shape: the pair list loads from the persisted artifact,
    // both keeper elections are the CC loop over pair-sized frames, and
    // the census is two keeper-keyed aggregates.
    "q_forget_docs" -> ((s, dir) => {
      val pairs = jaccardPairsDurable(s, dir)
      val before = keepers(pairs).withColumnRenamed("keeper", "kb")
      val after = keepers(pairs
          .filter(col("d1") % 17 =!= 0 && col("d2") % 17 =!= 0))
        .withColumnRenamed("keeper", "ka")
      forgetCensus(before, after)
    }),

    // Same clusters via large-star/small-star contraction — the
    // diameter-proof path, oracle-gated against the SAME recursive-CTE
    // transitive closure as q_dedup_cluster (both must agree exactly).
    "q_dedup_cluster_bigstar" -> ((s, dir) =>
      keepersBigStar(jaccardPairsDurable(s, dir)).orderBy("doc_id")),

    // MinHash + LSH banding (Broder, "On the resemblance and
    // containment of documents", 1997; banding per Leskovec/Rajaraman/
    // Ullman ch. 3): 16 signatures = 4 bands × 4 rows. Band g
    // hashes each shingle once (md5(g + ':' + shingle)) and slices the
    // digest into 4 independent 8-hex-char rows; per-doc signature =
    // column-wise min — a single partial-agg shuffle, no fan-out.
    // Docs sharing any band's 4-row signature become candidates;
    // candidates alone are Jaccard-verified at ≥ 0.7. THE scale path:
    // the only shuffles are one groupBy(doc) and an equality join on
    // the band key — no cross join at any SF.
    "q_dedup_minhash" -> ((s, dir) => minhashTree(shingles(s, dir))),

    // LSH banding recall: what fraction of the TRUE Jaccard ≥ 0.8 pairs
    // does the 4×4 banding surface as candidates? The dedup analog of
    // q_knn_recall — the number that tunes bands × rows against the
    // candidate-volume budget. One row; both sides deterministic.
    "q_dedup_lsh_recall" -> ((s, dir) => lshRecallTree(shingles(s, dir))),

    // The full bands × rows grid behind that single recall number —
    // see [[lshTuningTree]].
    "q_dedup_lsh_tuning" -> ((s, dir) => lshTuningTree(shingles(s, dir))),

    // MinHash ESTIMATOR quality: for each banding candidate pair, the
    // signature-agreement estimate of Jaccard (fraction of the 16
    // minhash slots that agree — the unbiased MinHash estimator,
    // std ≈ √(J(1−J)/16)) next to the TRUE Jaccard of the shingle
    // sets. The number that sizes the signature: more rows per band
    // tightens the estimate, at one extra md5-slice column each. The
    // cand subtree appears in both branches and plans once
    // (ReusedExchange).
    "q_dedup_minhash_est" -> ((s, dir) => {
      val sh = shingles(s, dir)
      val sig = signatures(sh)
      val agree = (for { g <- 0 to 3; j <- 0 to 3 }
        yield when(col(s"a.m$g$j") === col(s"b.m$g$j"), 1).otherwise(0))
        .reduce(_ + _)
      // Signatures join onto the VERIFIED pair output (1:1 per pair),
      // so the band-candidate tree evaluates once — and sig's
      // groupBy(doc_id) exchange is identical to the one inside
      // bandCandidates, so it plans once too (ReusedExchange).
      val truth = jaccardFinishSized(
        candIntersections(bandCandidates(sh), sh), 0.0)
      truth
        .join(sig.as("a"), col("d1") === col("a.doc_id"))
        .join(sig.as("b"), col("d2") === col("b.doc_id"))
        .select(col("d1"), col("d2"),
          round(agree.cast("double") / 16.0, 4).as("est_jaccard"),
          col("jaccard"))
        .orderBy("d1", "d2")
    }),

    // SimHash-16 (Charikar, "Similarity estimation techniques from
    // rounding algorithms", 2002) over shingles: per-bit majority vote of feature-hash
    // bits (bit j = high bit of md5 nibble j); identical fingerprints
    // are near-dup candidate pairs. ONE groupBy(doc) with 16
    // conditional-sum columns (no row fan-out) + an equality self-join
    // on the 16-bit fingerprint — the cheapest near-dup screen, with
    // simhash's false +/- semantics by design.
    "q_dedup_simhash" -> ((s, dir) =>
      simhashPairs(shingles(s, dir)).orderBy("d1", "d2")),

    // SimHash screen PRECISION: of the identical-fingerprint candidate
    // pairs, what fraction are TRUE near-dups (Jaccard ≥ 0.7)? The
    // simhash Scaladoc promises "false +/- semantics by design" — this
    // makes the false-positive side quantitative, the way
    // q_dedup_lsh_recall quantifies banding's false negatives. One
    // deterministic row (n_pairs, n_near, precision).
    "q_dedup_simhash_precision" -> ((s, dir) => {
      // cand appears in BOTH the verify join and the final precision
      // join — as identical subtrees, so its exchanges plan once
      // (ReusedExchange); measured faster than persisting it.
      val sh = shingles(s, dir)
      simhashPrecisionTree(sh, simhashPairs(sh).select(col("d1"), col("d2")))
    }),

    // Embedding-cosine near-dup, blocked by `label` (IVF-style coarse
    // cell): top-3 most-similar pairs per block. Blocking bounds the
    // pair count to Σ|cell|² instead of n² — the 100 TB pattern.
    "q_dedup_cosine" -> ((s, dir) => {
      val qe = quantized(s, dir)
      val a = qe.select(col("label"), col("vec_id").as("v1"),
        col("q").as("qa"), col("norm").as("na"))
      val b = qe.select(col("label").as("lb"), col("vec_id").as("v2"),
        col("q").as("qb"), col("norm").as("nb"))
      val w = Window.partitionBy(col("label"))
        .orderBy(col("cosine").desc, col("v1").asc, col("v2").asc)
      a.join(b, col("label") === col("lb") && col("v1") < col("v2"))
        .withColumn("dot", expr(dotExpr))
        .withColumn("cosine", cosine())
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("label"), col("v1"), col("v2"), col("cosine"))
        .orderBy(col("label"), col("cosine").desc, col("v1"), col("v2"))
    }),

    // SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    // web-scale through semantic deduplication", 2023): k-means the
    // EMBEDDINGS (the trained IVF coarse quantizer — the same index
    // [[Similarity]] probes), then prune within-cluster cosine ≥ τ
    // pairs keeping the CENTROID-NEAREST doc. Candidates are bounded
    // to Σ|cell|² by the cluster — never all-pairs (the paper's whole
    // point: at web scale the n² similarity matrix exists only inside
    // a cell). A doc is pruned iff SOME centroid-nearer (tie: lower
    // id) doc in its cell is ≥ τ-similar to it — one keyed self-join +
    // one window, no iteration; `pruned_by` reports the nearest such
    // eliminator. τ = 0.35 is fixture-scaled (the synthetic embeddings
    // are near-orthogonal — within-label max cosine is 0.47 where the
    // paper's web corpus used ~0.95); the published shape is the
    // threshold's POSITION in the pipeline, not its value.
    // Distance-to-centroid is exact: n²·d = n²·‖q‖² − 2n·⟨q, Σv⟩ +
    // ‖Σv‖² in decimal(38,0) — no integer division of the centroid,
    // so the keeper election is bit-stable across engines UP TO the
    // Long range of the inner ⟨q, Σv⟩: dot_long computes in Long, and
    // sv elements scale with the cell count n — with the ×10⁴
    // fixed-point quantization (|q_i| ≲ 2·10⁴ for unit-ish embeddings)
    // |⟨q, Σv⟩| ≲ 64·(2·10⁴)²·n, which wraps silently past n ≈ 3.6e8
    // rows per cell (the DuckDB twin's BIGINT products RAISE on
    // overflow instead, so past the bound the engines diverge
    // loudly-vs-silently, not just drift). Past that, cast sv inside
    // the product (`cast(x as decimal(38,0)) * …`, as s2 already does)
    // or renormalize sv by a shared shift, exactly as the n⁴ note on
    // the IVF comparison prescribes (Similarity.ivfCellsFrom).
    "q_dedup_semantic" -> ((s, dir) => {
      // r16: reads the PERSISTED canonical IVF assignment (IndexStore)
      // instead of retraining per query — same exact integers.
      val cells = Similarity.ivfCells(s, dir)
        .select(col("vec_id"), col("q"), col("norm"), col("cell"))
      // K-row per-cell stats (K = trained cell count ≤ 4): broadcast is
      // size-safe at ANY corpus scale — the frame is K rows by
      // construction, not by estimate. vec_sum keeps the generated
      // aggregate class small (see ivfCellsAndCentroids).
      val stats = cells.groupBy(col("cell"))
        .agg(count(lit(1)).as("n0"), expr("vec_sum(q, 64)").as("sv"))
        .select(col("cell"), col("n0").cast("decimal(38,0)").as("n"),
          col("sv"))
        .withColumn("s2", expr(
          "aggregate(sv, cast(0 as decimal(38,0)), (a, x) -> a + cast(x as decimal(38,0)) * x)"))
      val scored = cells.join(broadcast(stats), "cell")
        .withColumn("n2d", expr(
          "n * n * cast(norm as decimal(38,0)) - 2 * n * cast(dot_long(q, sv) as decimal(38,0)) + s2"))
        .select(col("cell"), col("vec_id"), col("q"), col("norm"), col("n2d"))
      val x = scored.select(col("cell"), col("vec_id"), col("q").as("qa"),
        col("norm").as("na"), col("n2d"))
      val y = scored.select(col("cell").as("cellb"), col("vec_id").as("vb"),
        col("q").as("qb"), col("norm").as("nb"), col("n2d").as("n2db"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("n2db").asc, col("vb").asc)
      val eliminated = x.join(y, col("cell") === col("cellb") &&
          col("vec_id") =!= col("vb") &&
          (col("n2db") < col("n2d") ||
            (col("n2db") === col("n2d") && col("vb") < col("vec_id"))))
        .withColumn("dot", expr(dotExpr))
        .filter(cosine() >= 0.35)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("vb").as("pruned_by"))
      scored.join(eliminated, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          when(col("pruned_by").isNull, "kept").otherwise("pruned").as("status"),
          col("pruned_by"))
        .orderBy("vec_id")
    }),

    // SEMANTIC DECONTAMINATION — the eval-leakage screen run before
    // every serious training run: flag TRAIN documents whose embedding
    // is ≥ τ-cosine-similar to any BENCHMARK document (the
    // embedding-space complement of the 13-gram token screen
    // `q_contamination` — paraphrased eval items share no n-grams but
    // sit next to the benchmark in embedding space). Fixture split:
    // vec_id % 10 == 0 plays the benchmark. Candidates are bounded by
    // the trained coarse quantizer exactly as SemDeDup above: the
    // benchmark index is keyed by its primary cell; each train vector
    // probes its nprobe=2 nearest cells (recall insurance at the cell
    // boundary), so cost is Σ|train_cell|·|bench_cell| — never
    // train×bench. At 100 TB the bench side is tiny (eval suites are
    // thousands of rows) and the probe is a shuffle-hash join against
    // it; the train side streams. Output: per train vector, the
    // verdict + the closest matching benchmark id.
    "q_decontaminate_semantic" -> ((s, dir) => {
      val cells = Similarity.ivfCells(s, dir)
        .select(col("vec_id"), col("q"), col("norm"),
          col("cell"), col("cell2"))
      val bench = cells.filter(col("vec_id") % 10 === 0)
        .select(col("cell").as("bcell"), col("vec_id").as("bid"),
          col("q").as("qb"), col("norm").as("nb"))
      val train = cells.filter(col("vec_id") % 10 =!= 0)
      val probes = train.select(col("vec_id"), col("q").as("qa"),
        col("norm").as("na"),
        explode(array(col("cell"), col("cell2"))).as("pcell"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cos").desc, col("bid").asc)
      val hits = probes
        .join(bench.hint("shuffle_hash"), col("pcell") === col("bcell"))
        .withColumn("dot", expr(dotExpr))
        .withColumn("cos", cosine())
        .filter(col("cos") >= 0.35)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("bid").as("matched_bench"),
          col("cos").as("max_cos"))
      train.select("vec_id").join(hits, Seq("vec_id"), "left")
        .select(col("vec_id"),
          when(col("matched_bench").isNull, "clean")
            .otherwise("contaminated").as("status"),
          col("matched_bench"), col("max_cos"))
        .orderBy("vec_id")
    }),

    // INCREMENTAL dedup — the nightly-ingest shape: the DELTA (here
    // source = 'src1') is screened AGAINST the standing corpus without
    // ever self-joining the corpus. Two asymmetric probes: an exact
    // content-hash left join (corpus side = the distinct hash set) and
    // an LSH band join (corpus side = the banding table, the
    // materialized index artifact [[bandsAt]] builds). Output is the
    // ingest decision per delta doc: exact_dup / near_dup / new, plus
    // the matched corpus doc. At 100 TB both corpus sides are standing
    // indexes the delta streams against — cost scales with |delta|,
    // not |corpus|, which is the entire point of the shape (the batch
    // queries above rebuild corpus-wide structures every run).
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = Tables.fan(Tables(s, dir, "documents"))
      val delta = docs.filter(col("source") === "src1")
      val corpus = docs.filter(col("source") =!= "src1")
      val exactIdx = corpus
        .groupBy(md5(col("text")).as("chash"))
        .agg(min(col("doc_id")).as("exact_match"))
      val near = bandsAt(shinglesOf(delta), 4).as("a")
        .join(bandsAt(shinglesOf(corpus), 4)
            .withColumnRenamed("doc_id", "cdoc").as("b").hint("shuffle_hash"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
        .groupBy(col("a.doc_id").as("doc_id"))
        .agg(min(col("cdoc")).as("near_match"))
      delta.select(col("doc_id"), md5(col("text")).as("chash"))
        .join(exactIdx.hint("shuffle_hash"), Seq("chash"), "left")
        .join(near.hint("shuffle_hash"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("exact_match").isNotNull, "exact_dup")
            .when(col("near_match").isNotNull, "near_dup")
            .otherwise("new").as("status"),
          coalesce(col("exact_match"), col("near_match")).as("match_id"))
        .orderBy("doc_id")
    }),

    // Exact-SUBSTRING dedup (Lee et al. 2021, "Deduplicating Training
    // Data Makes Language Models Better"): find duplicated ≥8-token
    // spans shared ACROSS documents. NOTE: this is the cross-document
    // restriction of their suffix-array signal — a span repeated only
    // WITHIN one doc (nd counts distinct docs, not occurrences) is not
    // flagged here, whereas the suffix-array pass also catches
    // within-doc repeats. Mechanics: every 8-token
    // sliding window (positions kept — unlike [[shingles]] this is NOT
    // per-doc distinct, a doc's repeated boilerplate occupies several
    // positions) is hashed, and a window is "duplicated" iff its hash
    // occurs in ≥2 distinct docs. Output = per-doc duplicated-window
    // count and ratio — the per-document fraction a pipeline thresholds
    // on ("drop docs that are >50% shared boilerplate").
    //
    // Scale shape: ONE pass over the exploded windows (no self-join, no
    // |block|² anywhere). (whash, doc_id) pre-aggregate runs partial
    // map-side, so a hot boilerplate window crosses the exchange once
    // per doc, not once per position; the cross-doc test is a count
    // window over whash on rows already ≤ #docs per hash. Total-window
    // denominators come straight off the documents scan (size(t)−7 —
    // no second pass over the explode).
    "q_dedup_substring" -> ((s, dir) => {
      val W = 8
      // Docs shorter than W tokens have no window: guard BEFORE the
      // explode (mirrors the shingles guard) — sequence(0, size(t)-W)
      // with a negative stop is a DESCENDING sequence in Spark, and
      // slice(t, i+1, W) at i = -1 throws, it does not return empty.
      val win = Tables.fan(Tables(s, dir, "documents"))
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= W)
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(0, size(t) - $W), " +
            s"i -> concat_ws(' ', slice(t, i + 1, $W)))")).as("win"))
        .select(col("doc_id"), md5(col("win")).as("whash"))
      val dupPerDoc = win
        .groupBy(col("whash"), col("doc_id")).agg(count(lit(1)).as("k"))
        .withColumn("nd",
          count(lit(1)).over(Window.partitionBy(col("whash"))))
        .filter(col("nd") >= 2)
        .groupBy(col("doc_id")).agg(sum(col("k")).as("n_dup_win"))
      val perDoc = Tables.fan(Tables(s, dir, "documents"))
        .select(col("doc_id"),
          (size(split(col("text"), " ")) - (W - 1)).as("n_win"))
        .filter(col("n_win") >= 1)
      // dupPerDoc sits under the explode → size estimates are junk;
      // shuffle_hash and let AQE broadcast from actual bytes.
      perDoc.join(dupPerDoc.hint("shuffle_hash"), Seq("doc_id"), "left")
        .withColumn("n_dup_win", coalesce(col("n_dup_win"), lit(0L)))
        .select(col("doc_id"), col("n_win"), col("n_dup_win"),
          round(col("n_dup_win").cast("double") /
            col("n_win").cast("double"), 4).as("dup_ratio"))
        .orderBy("doc_id")
    }),

    // MAXIMAL duplicated spans — the second half of Lee et al. 2021's
    // pass: [[q_dedup_substring]] counts duplicated windows; this one
    // coalesces ADJACENT duplicated window positions into one maximal
    // interval per doc, producing the removable byte-ranges their
    // suffix-array tool emits: (doc_id, span_start, span_len) in token
    // units. A run of duplicated windows at positions [a..b] covers
    // tokens [a, b + W - 1] → span_len = b − a + W. Coalescing is the
    // gaps-and-islands pattern (q_sessionize's): pos − row_number() is
    // constant exactly on a run of consecutive positions.
    //
    // Scale shape: positions must be KEPT (unlike the count query there
    // is no per-(whash, doc) pre-agg — a position is the payload), so
    // the cross-doc test is a groupBy(whash) on distinct docs + a
    // LEFT-SEMI join back on whash: same key both sides → the exchange
    // from the explode is reused, and the semi join carries no payload
    // fan-out. The islands window shuffles once on doc_id — rows at
    // that point are only the duplicated positions, ≤ corpus windows
    // and in practice a small fraction.
    "q_dedup_substring_spans" -> ((s, dir) =>
      substringSpans(s, dir).orderBy("doc_id", "span_start")),

    // The FULL Lee et al. duplicated-window test: a window counts iff
    // its TOTAL occurrences across the corpus ≥ 2 — including repeats
    // WITHIN one document (a doc's own repeated boilerplate), which
    // [[q_dedup_substring]]'s cross-document nd ≥ 2 deliberately
    // excludes. Same per-doc output shape; read the two side by side
    // and the difference column is exactly the self-repetition signal
    // (cf. q_repetition's bigram view of the same phenomenon). Plan
    // shape identical: only the window predicate changes — sum(k)
    // over whash instead of a row count.
    "q_dedup_substring_rep" -> ((s, dir) => {
      val W = 8
      val win = Tables.fan(Tables(s, dir, "documents"))
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= W)
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(0, size(t) - $W), " +
            s"i -> concat_ws(' ', slice(t, i + 1, $W)))")).as("win"))
        .select(col("doc_id"), md5(col("win")).as("whash"))
      val dupPerDoc = win
        .groupBy(col("whash"), col("doc_id")).agg(count(lit(1)).as("k"))
        .withColumn("occ",
          sum(col("k")).over(Window.partitionBy(col("whash"))))
        .filter(col("occ") >= 2)
        .groupBy(col("doc_id")).agg(sum(col("k")).as("n_dup_win"))
      val perDoc = Tables.fan(Tables(s, dir, "documents"))
        .select(col("doc_id"),
          (size(split(col("text"), " ")) - (W - 1)).as("n_win"))
        .filter(col("n_win") >= 1)
      perDoc.join(dupPerDoc.hint("shuffle_hash"), Seq("doc_id"), "left")
        .withColumn("n_dup_win", coalesce(col("n_dup_win"), lit(0L)))
        .select(col("doc_id"), col("n_win"), col("n_dup_win"),
          round(col("n_dup_win").cast("double") /
            col("n_win").cast("double"), 4).as("dup_ratio"))
        .orderBy("doc_id")
    }),

    // SUFFIX-AUTOMATON substring census — the all-lengths view the
    // fixed-W window family cannot give: exact distinct-substring
    // count, repeated-substring count, and the longest repeated
    // substring per document, from ONE linear pass (Blumer et al.
    // 1985's suffix automaton: n_distinct = Σ_v len(v) − len(link(v));
    // a state's substrings repeat iff its endpos count ≥ 2, clone
    // states seeded 0 so counts are exact). The automaton is O(n) per
    // doc and scan-fused — at 100 TB it runs uncapped; the 64-char cap
    // here exists ONLY because the DuckDB twin must enumerate all
    // O(n²) substrings to cross-check it, and 64 chars keeps that
    // honest oracle tractable while still exercising clones, nested
    // repeats, and the full arm surface of real text.
    "q_dedup_substring_sam" -> ((s, dir) => {
      import s.implicits._
      Tables.fan(Tables(s, dir, "documents"))
        .select(col("doc_id"), substring(col("text"), 1, 64).as("t"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) => samCensus(id, t) })
        .toDF().orderBy("doc_id")
    }),

    // Span EXCISION — the artifact the whole substring-dedup chain
    // exists to produce: every token covered by a duplicated span
    // ([[substringSpans]]) is removed and the survivors reassembled,
    // per document. Output pins content exactly while keeping the
    // compare surface small: (doc_id, n_tok, n_kept, clean_hash =
    // md5 of the space-joined kept tokens); a fully-duplicated doc
    // (e.g. an exact copy) keeps 0 tokens and hashes the empty
    // string. Scale shape: token stream and span list co-partition on
    // doc_id (hinted SHJ — spans sit under the islands window, so
    // estimates are junk), the range predicate is the join residual,
    // and the ordered reassembly is one sort_array over each doc's
    // kept (pos, tok) pairs inside the final doc_id aggregate — one
    // shuffle each for the anti join and the aggregate, both on the
    // same key.
    "q_dedup_substring_clean" -> ((s, dir) =>
      substringCleanFrom(Tables.fan(Tables(s, dir, "documents"))).orderBy("doc_id")),

    // PARAGRAPH-grain dedup — the production corpus shape (dedup the
    // paragraphs, reassemble the documents; cf. Penedo et al. 2023
    // RefinedWeb §3.3's line-wise variant): each distinct paragraph
    // keeps its FIRST occurrence in (doc_id, pno) order, every later
    // copy — across docs or within one — is excised, and survivors
    // reassemble in document order with the content md5-pinned like
    // q_dedup_substring_clean. The fixture corpus carries no '\n\n',
    // so a paragraph here is a fixed-width P=16-token block (ragged
    // tail kept) — the grain, keeper election, and reassembly are the
    // production pipeline's; only the splitter differs.
    //
    // Scale shape: the keeper election is ONE row_number window keyed
    // by the paragraph hash (no join back — an instance survives iff
    // rn = 1), the reassembly ONE doc_id aggregate over the ordered
    // survivor structs, and n_par is computed scan-side from the token
    // count (never a third shuffle). Paragraph rows ≈ tokens/P, so
    // the exploded frame is SMALLER than the substring-chain's
    // window frame by a factor of P; never all-pairs.
    "q_dedup_paragraph" -> ((s, dir) => {
      val P = 16
      val toks = Tables.fan(Tables(s, dir, "documents"))
        .select(col("doc_id"), split(col("text"), " ").as("t"))
      val par = toks
        .select(col("doc_id"), posexplode(expr(
          s"transform(sequence(0, cast(ceil(size(t) / cast($P as double)) as int) - 1), " +
            s"i -> concat_ws(' ', slice(t, i * $P + 1, $P)))")))
        .select(col("doc_id"), col("pos").as("pno"), col("col").as("ptext"))
      val w = Window.partitionBy(md5(col("ptext")))
        .orderBy(col("doc_id"), col("pno"))
      val reasm = par
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          md5(concat_ws(" ", expr(
            "transform(sort_array(collect_list(struct(pno, ptext))), x -> x.ptext)")))
            .as("clean_hash"))
      toks
        .select(col("doc_id"),
          expr(s"cast(ceil(size(t) / cast($P as double)) as bigint)").as("n_par"))
        .join(reasm.hint("shuffle_hash"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_par"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("clean_hash"), md5(lit(""))).as("clean_hash"))
        .orderBy("doc_id")
    }))

  /** Frame-taking span-excision body (unordered) — shared by the
    * registered query and ScaleProbe's replicated-corpus rows. */
  private[graft] def substringCleanFrom(docs: DataFrame): DataFrame = {
    val spans = substringSpansFrom(docs)
      .select(col("doc_id").as("sd"), col("span_start"), col("span_len"))
    val toks = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    val pos = toks
      .select(col("doc_id"), size(col("t")).as("n_tok"),
        posexplode(col("t")))
      .withColumnRenamed("col", "tok")
    val kept = pos.join(spans.hint("shuffle_hash"),
      col("doc_id") === col("sd") &&
        col("pos") >= col("span_start") &&
        col("pos") < col("span_start") + col("span_len"),
      "left_anti")
    val agg = kept.groupBy(col("doc_id"), col("n_tok"))
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(" ", expr(
          "transform(sort_array(collect_list(struct(pos, tok))), x -> x.tok)")))
          .as("clean_hash"))
    toks.select(col("doc_id"), size(col("t")).as("n_tok"))
      .join(agg.hint("shuffle_hash"), Seq("doc_id", "n_tok"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_hash"), md5(lit(""))).as("clean_hash"))
  }

  /** Shared spans frame of q_dedup_substring_spans /
    * q_dedup_substring_clean (unordered; queries add presentation
    * sorts). See the q_dedup_substring_spans registration comment for
    * the plan-shape argument. */
  private def substringSpans(s: SparkSession, dir: String): DataFrame =
    substringSpansFrom(Tables.fan(Tables(s, dir, "documents")))

  /** Frame-taking form — ScaleProbe drives this on replicated
    * corpora. */
  private[graft] def substringSpansFrom(docs: DataFrame): DataFrame = {
    val W = 8
    val win = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= W)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(t) - $W), " +
          s"i -> concat_ws(' ', slice(t, i + 1, $W)))")))
      .select(col("doc_id"), col("pos"), md5(col("col")).as("whash"))
    val dupHashes = win
      .groupBy(col("whash"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("whash"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    win.join(dupHashes.hint("shuffle_hash"), Seq("whash"), "left_semi")
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) - min(col("pos")) + lit(W)).as("span_len"))
      .select(col("doc_id"), col("span_start"), col("span_len"))
  }

  /** DuckDB minhash signature/band CTEs (twin of the Spark columns). */
  private val minhashSql: String = {
    val mins = (for { g <- 0 to 3; j <- 0 to 3 }
      yield s"min(substr(md5('$g:' || shingle), ${j * 8 + 1}, 8)) AS m$g$j").mkString(", ")
    val bandRows = (0 to 3).map(g =>
      s"SELECT doc_id, $g AS band, " +
        (0 to 3).map(j => s"m$g$j").mkString(" || ',' || ") + " AS bkey FROM sig")
      .mkString(" UNION ALL ")
    s""",
      sig AS (SELECT doc_id, $mins FROM sh GROUP BY 1),
      bands AS ($bandRows),
      cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
               FROM bands a JOIN bands b
               ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)"""
  }

  /** Twin of [[lshTuningTree]]: one `sig` CTE (hex-string mins —
    * order-isomorphic to the Spark longs, same elements chosen), four
    * generated band/cand CTE pairs sliced with the SAME slot
    * arithmetic, the brute ≥ 0.8 truth once. */
  private lazy val lshTuningSql: String = {
    val mins = (for { g <- 0 to 3; j <- 0 to 3 }
      yield s"min(substr(md5('$g:' || shingle), ${j * 8 + 1}, 8)) AS m$g$j")
      .mkString(", ")
    def block(r: Int): String = {
      val bandRows = (0 until 16 / r).map(i =>
        s"SELECT doc_id, $i AS band, " +
          sigSlots.slice(i * r, (i + 1) * r).mkString(" || ',' || ") +
          " AS bkey FROM sig").mkString(" UNION ALL ")
      s""",
      bands$r AS ($bandRows),
      cand$r AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                 FROM bands$r a JOIN bands$r b
                 ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      row$r AS (SELECT ${16 / r} AS bands, $r AS rows_per_band,
                  (SELECT count(*) FROM cand$r) AS n_candidates,
                  count(*) AS n_true, count(c.d1) AS n_found,
                  round(CAST(count(c.d1) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS recall
                FROM tp LEFT JOIN cand$r c ON tp.d1 = c.d1 AND tp.d2 = c.d2)"""
    }
    SH + s""",
      sig AS (SELECT doc_id, $mins FROM sh GROUP BY 1),
      inter AS (SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS inter
                FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                GROUP BY 1, 2),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      tp AS (SELECT d1, d2 FROM inter
             JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
             WHERE CAST(inter AS DOUBLE) / CAST(s1.n + s2.n - inter AS DOUBLE) >= 0.8)""" +
      block(1) + block(2) + block(4) + block(8) + """
      SELECT * FROM row1 UNION ALL SELECT * FROM row2
      UNION ALL SELECT * FROM row4 UNION ALL SELECT * FROM row8
      ORDER BY rows_per_band"""
  }

  /** SimHash vote/fingerprint CTEs (twin of [[simhashPairs]]'s agg). */
  private lazy val simhashCtes: String = """,
      votes AS (SELECT doc_id, j,
                  sum(CASE WHEN substr(md5(shingle), j, 1) IN ('8','9','a','b','c','d','e','f')
                      THEN 1 ELSE -1 END) AS vote
                FROM sh, UNNEST(generate_series(1, 16)) AS g(j) GROUP BY 1, 2),
      fp AS (SELECT doc_id,
               CAST(sum(CASE WHEN vote >= 0 THEN CAST(pow(2, j - 1) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
             FROM votes GROUP BY 1)"""

  /** Recursive-CTE transitive closure — the twin for BOTH CC paths. */
  private lazy val clusterSql: String =
    "WITH RECURSIVE " + SH.stripPrefix("WITH ") + """,
      inter AS (SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS inter
                FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                GROUP BY 1, 2),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      pairs AS (SELECT d1, d2 FROM inter
                JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
                WHERE CAST(inter AS DOUBLE) / CAST(s1.n + s2.n - inter AS DOUBLE) >= 0.8),
      sym AS (SELECT d1 AS a, d2 AS b FROM pairs
              UNION SELECT d2, d1 FROM pairs),
      r(a, b) AS (SELECT DISTINCT a, a FROM sym
                  UNION
                  SELECT r.a, s.b FROM r JOIN sym s ON r.b = s.a)
      SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS keeper
      FROM r GROUP BY a ORDER BY doc_id"""

  /** Classification census of [[queries]]' q_forget_docs given the
    * before (doc_id, kb) and after (doc_id, ka) keeper frames — split
    * out so DedupClusterSpec can drive ALL SIX change classes through
    * synthetic keeper tables (the real fixtures' near-dup clusters
    * are mostly pairs, which can never split or re-elect). */
  private[graft] def forgetCensus(before: DataFrame,
      after: DataFrame): DataFrame =
    before.join(after, Seq("doc_id"), "left")
      .groupBy(col("kb"))
      .agg(count(lit(1)).as("n_b"),
        sum(when(col("doc_id") % 17 =!= 0, 1L).otherwise(0L))
          .as("n_surv"),
        count(col("ka")).as("n_after"),
        countDistinct(col("ka")).as("n_ka"),
        min(col("ka")).as("new_k"))
      .withColumn("change_class", expr(
        "case when n_surv = 0 then 'gone' " +
          "when n_after = 0 then 'dissolved' " +
          "when n_ka >= 2 then 'split' " +
          "when new_k <> kb then 'keeper_reelected' " +
          "when n_after < n_b then 'shrunk' " +
          "else 'unchanged' end"))
      .groupBy(col("change_class"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("n_b")).as("n_docs_before"),
        sum(col("n_after")).as("n_docs_after"))
      .orderBy("change_class")

  /** Deletion-propagation twin ([[clusterSql]]'s recursive transitive
    * closure run TWICE — full pair set and survivor-filtered pair
    * set), then the per-before-cluster classification census. */
  private lazy val forgetSql: String =
    "WITH RECURSIVE " + SH.stripPrefix("WITH ") + """,
      inter AS (SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS inter
                FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                GROUP BY 1, 2),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      pairs AS (SELECT d1, d2 FROM inter
                JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
                WHERE CAST(inter AS DOUBLE) / CAST(s1.n + s2.n - inter AS DOUBLE) >= 0.8),
      sym AS (SELECT d1 AS a, d2 AS b FROM pairs
              UNION SELECT d2, d1 FROM pairs),
      r(a, b) AS (SELECT DISTINCT a, a FROM sym
                  UNION
                  SELECT r.a, s.b FROM r JOIN sym s ON r.b = s.a),
      bk AS (SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS kb
             FROM r GROUP BY a),
      pairs2 AS (SELECT d1, d2 FROM pairs
                 WHERE d1 % 17 <> 0 AND d2 % 17 <> 0),
      sym2 AS (SELECT d1 AS a, d2 AS b FROM pairs2
               UNION SELECT d2, d1 FROM pairs2),
      r2(a, b) AS (SELECT DISTINCT a, a FROM sym2
                   UNION
                   SELECT r2.a, s.b FROM r2 JOIN sym2 s ON r2.b = s.a),
      ak AS (SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS ka
             FROM r2 GROUP BY a),
      cl AS (SELECT kb, count(*) AS n_b,
               sum(CASE WHEN doc_id % 17 <> 0 THEN 1 ELSE 0 END) AS n_surv,
               count(ka) AS n_after, count(DISTINCT ka) AS n_ka,
               min(ka) AS new_k
             FROM bk LEFT JOIN ak USING (doc_id) GROUP BY kb),
      cls AS (SELECT CASE WHEN n_surv = 0 THEN 'gone'
                   WHEN n_after = 0 THEN 'dissolved'
                   WHEN n_ka >= 2 THEN 'split'
                   WHEN new_k <> kb THEN 'keeper_reelected'
                   WHEN n_after < n_b THEN 'shrunk'
                   ELSE 'unchanged' END AS change_class, n_b, n_after
             FROM cl)
      SELECT change_class, count(*) AS n_clusters,
             CAST(sum(n_b) AS BIGINT) AS n_docs_before,
             CAST(sum(n_after) AS BIGINT) AS n_docs_after
      FROM cls GROUP BY 1 ORDER BY change_class"""

  /** The CDC chunker twin over a (doc_id, text) source — identical
    * window hash (the '0x'||md5 idiom), identical boundary rule, 1-
    * based DuckDB list ops mirroring the 0-based Spark arrays. */
  private def cdcChunksSql(src: String): String = s"""
      (SELECT doc_id,
         unnest(list_transform(generate_series(1, len(cuts)), j ->
           array_to_string(t[(CASE WHEN j = 1 THEN 1
                              ELSE cuts[j-1] + 1 END):cuts[j]], ' ')))
           AS chunk
       FROM (SELECT doc_id, t, list_concat(
               list_filter(list_transform(generate_series(4, len(t) - 1),
                 i -> CASE WHEN ('0x' || substr(md5(
                        array_to_string(t[i-3:i], ' ')), 1, 8))::BIGINT
                        % 16 = 0 THEN i ELSE NULL END),
                 x -> x IS NOT NULL),
               [len(t)]) AS cuts
             FROM (SELECT doc_id, string_split(text, ' ') AS t
                   FROM $src)))"""

  /** Fixed 16-word blocks twin (the q_dedup_cdc_shift strawman). */
  private def fixedChunksSql(src: String): String = s"""
      (SELECT doc_id,
         unnest(list_transform(generate_series(0, greatest(len(t) - 1, 0) // 16),
           j -> array_to_string(t[(j * 16 + 1):((j + 1) * 16)], ' ')))
           AS chunk
       FROM (SELECT doc_id, string_split(text, ' ') AS t FROM $src))"""

  val oracles: Map[String, String] = Map(
    "q_dedup_cdc" -> s"""
      WITH ch AS ${cdcChunksSql("documents")},
      per AS (SELECT chunk, count(*) AS copies FROM ch GROUP BY 1)
      SELECT copies, count(*) AS n_chunks,
             CAST(sum(strlen(chunk)) AS BIGINT) AS stored_bytes,
             CAST(sum(strlen(chunk) * copies) AS BIGINT)
               AS logical_bytes
      FROM per GROUP BY 1 ORDER BY copies""",
    "q_dedup_cdc_shift" -> s"""
      WITH shifted AS (SELECT doc_id, 'PAD ' || text AS text
                       FROM documents),
      bc AS (SELECT DISTINCT doc_id, chunk
             FROM ${cdcChunksSql("documents")} x),
      sc AS (SELECT DISTINCT doc_id, chunk
             FROM ${cdcChunksSql("shifted")} x),
      fb AS (SELECT DISTINCT doc_id, chunk
             FROM ${fixedChunksSql("documents")} x),
      fs AS (SELECT DISTINCT doc_id, chunk
             FROM ${fixedChunksSql("shifted")} x)
      SELECT method, total_chunks, surviving,
             CAST(CASE WHEN total_chunks = 0 THEN 0
                  ELSE (surviving * 10000) // total_chunks END AS BIGINT)
               AS survival_bp
      FROM (
        SELECT 'cdc' AS method,
               (SELECT count(*) FROM bc) AS total_chunks,
               (SELECT count(*) FROM bc JOIN sc USING (doc_id, chunk))
                 AS surviving
        UNION ALL
        SELECT 'fixed16',
               (SELECT count(*) FROM fb),
               (SELECT count(*) FROM fb JOIN fs USING (doc_id, chunk)))
      ORDER BY method""",
    "q_dedup_exact" -> """
      SELECT md5(text) AS content_hash, min(doc_id) AS keeper,
             count(*) AS n_copies
      FROM documents GROUP BY 1 ORDER BY content_hash""",
    "q_dedup_bag" -> """
      SELECT md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS bag_hash,
             min(doc_id) AS keeper, count(*) AS n_copies
      FROM documents GROUP BY 1 ORDER BY bag_hash""",
    // Same synthesis expression verbatim; the canonicalization chain
    // mirrors the Spark columns 1:1 (DuckDB list_* names for the
    // param sort/filter, instr/substr/regexp_extract otherwise
    // identical).
    "q_split_leakage" -> (SH + minhashSql + candInterSql + """,
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      ver AS (SELECT d1, d2,
                round(CAST(inter AS DOUBLE) / CAST(s1.n + s2.n - inter AS DOUBLE), 4) AS jaccard
              FROM inter JOIN sizes s1 ON d1 = s1.doc_id
              JOIN sizes s2 ON d2 = s2.doc_id
              WHERE CAST(inter AS DOUBLE) / CAST(s1.n + s2.n - inter AS DOUBLE) >= 0.7),
      sp AS (SELECT doc_id,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
                    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'valid'
                    ELSE 'test' END AS split
             FROM documents)
      SELECT least(a.split, b.split) AS split_a,
             greatest(a.split, b.split) AS split_b,
             count(*) AS n_leak_pairs, max(jaccard) AS max_jaccard
      FROM ver JOIN sp a ON ver.d1 = a.doc_id JOIN sp b ON ver.d2 = b.doc_id
      GROUP BY 1, 2 ORDER BY 1, 2"""),

    "q_dedup_url" -> s"""
      WITH hx AS (SELECT doc_id, md5(text) AS h FROM documents),
      u AS (SELECT doc_id, $urlSynthSql AS url FROM hx),
      ${urlCanonCtes()}
      SELECT canon AS canon_url, min(doc_id) AS keeper,
             count(*) AS n_copies, count(DISTINCT url) AS n_raw_forms
      FROM c GROUP BY 1 ORDER BY canon_url""",
    // Robots twin: the rules are recomputed from the md5 MODEL (first
    // two hex digits of md5(host)), never parsed — the decoder-twin
    // discipline; the Spark side's real sectioned parse must land on
    // exactly these rules or the disallow column hash-fails.
    "q_robots_filter" -> s"""
      WITH hx AS (SELECT doc_id, md5(text) AS h FROM documents),
      u AS (SELECT doc_id, $urlSynthSql AS url FROM hx),
      ${urlCanonCtes()},
      rb AS (SELECT c.doc_id, p3.host_l, p3.path,
               ('0x' || substr(md5(p3.host_l), 1, 1))::BIGINT AS d1,
               ('0x' || substr(md5(p3.host_l), 2, 1))::BIGINT AS d2
             FROM c JOIN p3 USING (doc_id)),
      rr AS (SELECT doc_id, host_l, path,
               concat('/p', d1, ',/p', d2) AS disallow,
               (starts_with(path, concat('/p', d1))
                OR starts_with(path, concat('/p', d2))) AS blocked
             FROM rb)
      SELECT host_l AS domain, disallow, count(*) AS n_docs,
             CAST(sum(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT)
               AS n_blocked,
             CAST(sum(CASE WHEN blocked THEN 0 ELSE 1 END) AS BIGINT)
               AS n_allowed
      FROM rr GROUP BY 1, 2 ORDER BY domain""",
    "q_crawl_schedule" -> s"""
      WITH hx AS (SELECT doc_id, md5(text) AS h FROM documents),
      u AS (SELECT doc_id, $urlSynthSql AS url FROM hx),
      ${urlCanonCtes()},
      sb AS (SELECT c.doc_id, p3.host_l, p3.path,
               ('0x' || substr(md5(p3.host_l), 1, 1))::BIGINT AS d1,
               ('0x' || substr(md5(p3.host_l), 2, 1))::BIGINT AS d2,
               ('0x' || substr(md5(p3.host_l), 4, 1))::BIGINT % 5 + 1
                 AS delay
             FROM c JOIN p3 USING (doc_id)),
      sr AS (SELECT doc_id, host_l, delay,
               (starts_with(path, concat('/p', d1))
                OR starts_with(path, concat('/p', d2))) AS blocked
             FROM sb),
      sg AS (SELECT host_l AS domain,
               CAST(max(delay) AS INT) AS crawl_delay,
               CAST(sum(CASE WHEN blocked THEN 0 ELSE 1 END) AS BIGINT)
                 AS n_allowed
             FROM sr GROUP BY 1)
      SELECT domain, crawl_delay, n_allowed,
             CAST(crawl_delay * n_allowed AS BIGINT) AS makespan_s
      FROM sg ORDER BY makespan_s DESC, domain""",
    "q_url_filter" -> s"""
      WITH hx AS (SELECT doc_id, md5(text) AS h FROM documents),
      u AS (SELECT doc_id, $urlSynthSql AS url FROM hx),
      ${urlCanonCtes()},
      f AS (SELECT c.doc_id, c.canon, p3.host_l, p3.port, p3.params
            FROM c JOIN p3 USING (doc_id)),
      r AS (SELECT canon,
              CASE WHEN host_l IN ($urlBlocklistSql) THEN 'blocked_domain'
                   WHEN port NOT IN ('', '80', '443') THEN 'trap_port'
                   WHEN (CASE WHEN params = '' THEN 0
                         ELSE len(string_split(params, '&')) END) >= 2
                     THEN 'trap_params'
                   ELSE 'kept' END AS reason
            FROM f)
      SELECT reason, count(*) AS n_docs,
             count(DISTINCT canon) AS n_urls
      FROM r GROUP BY 1 ORDER BY reason""",
    "q_domain_stats" -> s"""
      WITH hx AS (SELECT doc_id, md5(text) AS h FROM documents),
      u AS (SELECT doc_id, $urlSynthSql AS url FROM hx),
      ${urlCanonCtes()},
      ${graft.ops.TextOps.gopherCtes},
      dj AS (SELECT regexp_extract(canon, '^[a-z]+://([^/:?#]+)', 1) AS domain,
               c.canon, g.n_tokens, g.keep
             FROM c JOIN gkp g ON c.doc_id = g.doc_id)
      SELECT domain, count(*) AS n_docs,
             count(DISTINCT canon) AS n_pages,
             CAST(round(CAST(count(*) - count(DISTINCT canon) AS DOUBLE)
               / CAST(count(*) AS DOUBLE), 4) AS DOUBLE) AS dup_rate,
             CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT)
               AS n_gopher_drop,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      FROM dj GROUP BY domain ORDER BY domain""",
    // Shard-local vs global dedup loss — THE practical 100 TB dedup
    // design question: a shard-local pass is embarrassingly parallel
    // (no cross-shard shuffle) but misses every duplicate group that
    // straddles shards. Rendezvous-shard the corpus 4 ways, dedup on
    // the canonical URL both globally and within shards, and report
    // the missed-removal fraction — the number that decides whether
    // the corpus pays for the global shuffle.
    "q_dedup_shard_loss_grid" -> s"""
      WITH hx AS (SELECT doc_id, md5(text) AS h FROM documents),
      u AS (SELECT doc_id, $urlSynthSql AS url FROM hx),
      ${urlCanonCtes()},
      e2 AS (SELECT doc_id, canon, s
             FROM c, UNNEST(generate_series(0, 15)) g(s)),
      w2 AS (SELECT doc_id, canon, s,
               md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)) AS w
             FROM e2),
      a2 AS (SELECT doc_id, canon,
               ${Seq(2, 4, 8, 16).map(n =>
                 s"arg_max(CASE WHEN s < $n THEN s END, " +
                 s"CASE WHEN s < $n THEN w END) AS shard$n").mkString(",\n               ")}
             FROM w2 GROUP BY 1, 2),
      m AS (SELECT count(*) AS n_docs, count(DISTINCT canon) AS n_canon,
              ${Seq(2, 4, 8, 16).map(n =>
                s"count(DISTINCT (shard$n, canon)) AS nc$n").mkString(",\n              ")}
            FROM a2)
      ${Seq(2, 4, 8, 16).map(n => s"""
      SELECT CAST($n AS INT) AS n_shards, nc$n - n_canon AS missed,
             CAST(round(CAST(nc$n - n_canon AS DOUBLE) /
               CAST(n_docs - n_canon AS DOUBLE), 4) AS DOUBLE) AS missed_frac
      FROM m""").mkString(" UNION ALL ")}
      ORDER BY n_shards""",
    "q_dedup_shard_loss" -> s"""
      WITH hx AS (SELECT doc_id, md5(text) AS h FROM documents),
      u AS (SELECT doc_id, $urlSynthSql AS url FROM hx),
      ${urlCanonCtes()},
      e2 AS (SELECT doc_id, canon, s
             FROM c, UNNEST(generate_series(0, 3)) g(s)),
      w2 AS (SELECT doc_id, canon, s,
               md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)) AS w
             FROM e2),
      a2 AS (SELECT doc_id, canon, CAST(arg_max(s, w) AS INT) AS shard
             FROM w2 GROUP BY 1, 2),
      m AS (SELECT count(*) AS n_docs, count(DISTINCT canon) AS n_canon,
              count(DISTINCT (shard, canon)) AS n_shard_canon
            FROM a2)
      SELECT n_docs, n_canon,
             n_docs - n_canon AS global_removable,
             n_docs - n_shard_canon AS local_removable,
             n_shard_canon - n_canon AS missed,
             CAST(round(CAST(n_shard_canon - n_canon AS DOUBLE) /
               CAST(n_docs - n_canon AS DOUBLE), 4) AS DOUBLE) AS missed_frac
      FROM m""",
    "q_dedup_jaccard" -> (SH + """,
      inter AS (SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS inter
                FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                GROUP BY 1, 2)"""
      + jaccardFinishSql("0.8")),
    "q_dedup_containment" -> (SH + """,
      inter AS (SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS inter
                FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                GROUP BY 1, 2),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
      SELECT d1, d2,
             round(CAST(inter AS DOUBLE) / CAST(s1.n AS DOUBLE), 4) AS cont1,
             round(CAST(inter AS DOUBLE) / CAST(s2.n AS DOUBLE), 4) AS cont2
      FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
      WHERE greatest(CAST(inter AS DOUBLE) / CAST(s1.n AS DOUBLE),
                     CAST(inter AS DOUBLE) / CAST(s2.n AS DOUBLE)) >= 0.9
      ORDER BY d1, d2"""),
    "q_dedup_ppjoin" -> (SH + """,
      dfq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
      rkd AS (SELECT s.doc_id, s.shingle,
                row_number() OVER (PARTITION BY s.doc_id
                                   ORDER BY d.df ASC, s.shingle ASC) AS pos,
                count(*) OVER (PARTITION BY s.doc_id) AS sz
              FROM sh s JOIN dfq d USING (shingle)),
      pfx AS (SELECT doc_id, shingle FROM rkd
              WHERE pos <= sz - ((4 * sz + 4) // 5) + 1),
      cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
               FROM pfx a JOIN pfx b
                 ON a.shingle = b.shingle AND a.doc_id < b.doc_id)"""
      + candInterSql + jaccardFinishSql("0.8")),
    "q_dedup_jaccard_capped" -> (SH + """,
      hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 5),
      shc AS (SELECT doc_id, shingle FROM sh
              WHERE shingle NOT IN (SELECT shingle FROM hot)),
      inter AS (SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS inter
                FROM shc x JOIN shc y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                GROUP BY 1, 2),
      sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1)
      SELECT d1, d2,
             round(CAST(inter AS DOUBLE) / CAST(s1.n + s2.n - inter AS DOUBLE), 4) AS jaccard
      FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
      WHERE CAST(inter AS DOUBLE) / CAST(s1.n + s2.n - inter AS DOUBLE) >= 0.8
      ORDER BY d1, d2"""),
    "q_dedup_minhash" -> (SH + minhashSql + candInterSql + jaccardFinishSql("0.7")),
    "q_dedup_minhash_est" -> (SH + minhashSql + candInterSql + s""",
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      est AS (SELECT c.d1, c.d2,
                round(CAST(${(for { g <- 0 to 3; j <- 0 to 3 }
                  yield s"(CASE WHEN a.m$g$j = b.m$g$j THEN 1 ELSE 0 END)")
                  .mkString(" + ")} AS DOUBLE) / 16.0, 4) AS est_jaccard
              FROM cand c JOIN sig a ON c.d1 = a.doc_id
                          JOIN sig b ON c.d2 = b.doc_id)
      SELECT i.d1, i.d2, est_jaccard,
             round(CAST(inter AS DOUBLE) / CAST(s1.n + s2.n - inter AS DOUBLE), 4) AS jaccard
      FROM inter i JOIN sizes s1 ON i.d1 = s1.doc_id
                   JOIN sizes s2 ON i.d2 = s2.doc_id
                   JOIN est ON i.d1 = est.d1 AND i.d2 = est.d2
      ORDER BY i.d1, i.d2"""),
    "q_dedup_lsh_recall" -> (SH + minhashSql + """,
      inter AS (SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS inter
                FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                GROUP BY 1, 2),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      tp AS (SELECT d1, d2 FROM inter
             JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
             WHERE CAST(inter AS DOUBLE) / CAST(s1.n + s2.n - inter AS DOUBLE) >= 0.8)
      SELECT count(*) AS n_true, count(c.d1) AS n_found,
             round(CAST(count(c.d1) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS recall
      FROM tp LEFT JOIN cand c ON tp.d1 = c.d1 AND tp.d2 = c.d2"""),
    "q_dedup_lsh_tuning" -> lshTuningSql,
    "q_dedup_cluster" -> clusterSql,
    "q_forget_docs" -> forgetSql,
    // identical expected output — the two CC algorithms must agree
    "q_dedup_cluster_bigstar" -> clusterSql,
    "q_dedup_simhash" -> (SH + simhashCtes + """
      SELECT a.doc_id AS d1, b.doc_id AS d2, a.simhash AS simhash
      FROM fp a JOIN fp b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
      ORDER BY d1, d2"""),
    "q_dedup_simhash_precision" -> (SH + simhashCtes + """,
      cand AS (SELECT a.doc_id AS d1, b.doc_id AS d2
               FROM fp a JOIN fp b ON a.simhash = b.simhash AND a.doc_id < b.doc_id)"""
      + candInterSql + """,
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      near AS (SELECT d1, d2 FROM inter
               JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
               WHERE CAST(inter AS DOUBLE) / CAST(s1.n + s2.n - inter AS DOUBLE) >= 0.7)
      SELECT count(*) AS n_pairs, count(n.d1) AS n_near,
             round(CAST(count(n.d1) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS precision
      FROM cand c LEFT JOIN near n ON c.d1 = n.d1 AND c.d2 = n.d2"""),
    "q_dedup_cosine" -> ("WITH " + QE + s""",
      pairs AS (SELECT a.label, a.vec_id AS v1, b.vec_id AS v2,
                  a.q AS qa, b.q AS qb, a.norm AS na, b.norm AS nb
                FROM qn a JOIN qn b ON a.label = b.label AND a.vec_id < b.vec_id),
      cos AS (SELECT label, v1, v2,
                round(CAST($dotOracle AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) AS cosine
              FROM pairs),
      rk AS (SELECT *, row_number() OVER (PARTITION BY label ORDER BY cosine DESC, v1 ASC, v2 ASC) AS rn
             FROM cos)
      SELECT label, v1, v2, cosine FROM rk WHERE rn <= 3
      ORDER BY label, cosine DESC, v1, v2"""),
    // Twin of SemDeDup: the SAME trained coarse cells (assignCtes +
    // ivfCte literal seeds → one refinement), per-cell (n, Σv, ‖Σv‖²)
    // stats in HUGEINT, the identical divisionless n²·d
    // distance-to-centroid, the identical (n2d, id) keeper election,
    // and the identical rounded-cosine τ gate.
    "q_dedup_semantic" -> ("WITH " + QE + "," +
      graft.llm.Clustering.assignCtes + "," + Similarity.ivfCte + s""",
      sdn AS (SELECT cell, count(*) AS n FROM ivcell GROUP BY 1),
      sds AS (SELECT cell, i, CAST(sum(q[i]) AS BIGINT) AS si
              FROM ivcell, UNNEST(generate_series(1, 64)) AS u(i)
              GROUP BY 1, 2),
      sdv AS (SELECT cell, list(si ORDER BY i) AS sv FROM sds GROUP BY 1),
      sdc AS (SELECT sdn.cell, CAST(sdn.n AS HUGEINT) AS n, sdv.sv,
                CAST(list_sum(list_transform(generate_series(1, 64),
                  i -> CAST(sv[i] AS HUGEINT) * sv[i])) AS HUGEINT) AS s2
              FROM sdn JOIN sdv ON sdn.cell = sdv.cell),
      sdd AS (SELECT v.vec_id, v.cell, v.q, v.norm,
                c.n * c.n * v.norm - 2 * c.n * CAST(list_sum(list_transform(
                  generate_series(1, 64), i -> v.q[i] * c.sv[i])) AS HUGEINT) + c.s2 AS n2d
              FROM ivcell v JOIN sdc c ON v.cell = c.cell),
      sdp AS (SELECT x.vec_id, y.vec_id AS vb,
                row_number() OVER (PARTITION BY x.vec_id
                  ORDER BY y.n2d ASC, y.vec_id ASC) AS rn
              FROM (SELECT vec_id, cell, q AS qa, norm AS na, n2d FROM sdd) x
              JOIN (SELECT vec_id, cell, q AS qb, norm AS nb, n2d FROM sdd) y
                ON x.cell = y.cell AND x.vec_id <> y.vec_id
                AND (y.n2d < x.n2d OR (y.n2d = x.n2d AND y.vec_id < x.vec_id))
              WHERE round(CAST($dotOracle AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)), 4) >= 0.35)
      SELECT d.vec_id, CAST(d.cell AS INT) AS cell,
             CASE WHEN e.vb IS NULL THEN 'kept' ELSE 'pruned' END AS status,
             e.vb AS pruned_by
      FROM sdd d LEFT JOIN (SELECT vec_id, vb FROM sdp WHERE rn = 1) e
        ON d.vec_id = e.vec_id
      ORDER BY d.vec_id"""),
    // Twin of the semantic decontamination screen: same trained cells
    // (assignCtes + ivfCte), same % 10 bench/train split, probes =
    // UNION ALL of the two probed cells (Spark's explode), same
    // rounded-cosine τ gate and (cos DESC, bid ASC) best-match
    // election.
    "q_decontaminate_semantic" -> ("WITH " + QE + "," +
      graft.llm.Clustering.assignCtes + "," + Similarity.ivfCte + s""",
      bench AS (SELECT cell AS bcell, vec_id AS bid, q AS qb, norm AS nb
                FROM ivcell WHERE vec_id % 10 = 0),
      train AS (SELECT vec_id, q, norm, cell, cell2 FROM ivcell
                WHERE vec_id % 10 <> 0),
      probes AS (SELECT vec_id, q AS qa, norm AS na, cell AS pcell FROM train
                 UNION ALL
                 SELECT vec_id, q AS qa, norm AS na, cell2 AS pcell FROM train),
      hits AS (SELECT p.vec_id, b.bid,
                 round(CAST($dotOracle AS DOUBLE) / sqrt(CAST(na AS DOUBLE))
                   / sqrt(CAST(nb AS DOUBLE)), 4) AS cos
               FROM probes p JOIN bench b ON p.pcell = b.bcell),
      best AS (SELECT vec_id, bid, cos,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos DESC, bid ASC) AS rn
               FROM hits WHERE cos >= 0.35)
      SELECT t.vec_id,
             CASE WHEN e.bid IS NULL THEN 'clean'
                  ELSE 'contaminated' END AS status,
             e.bid AS matched_bench, e.cos AS max_cos
      FROM train t LEFT JOIN (SELECT vec_id, bid, cos FROM best
        WHERE rn = 1) e ON t.vec_id = e.vec_id
      ORDER BY t.vec_id"""),
    // Twin of the incremental screen: bands over ALL docs once (same
    // hex-min slots as minhashSql — order-isomorphic to Spark's
    // numeric mins, same elements chosen), sides restricted by source
    // in the join; exact arm is a grouped min over corpus hashes.
    "q_dedup_incremental" -> {
      val mins = (for { g <- 0 to 3; j <- 0 to 3 }
        yield s"min(substr(md5('$g:' || shingle), ${j * 8 + 1}, 8)) AS m$g$j")
        .mkString(", ")
      val bandRows = (0 until 4).map(i =>
        s"SELECT doc_id, $i AS band, " +
          sigSlots.slice(i * 4, (i + 1) * 4).mkString(" || ',' || ") +
          " AS bkey FROM sig").mkString(" UNION ALL ")
      SH + s""",
      sig AS (SELECT doc_id, $mins FROM sh GROUP BY 1),
      bands AS ($bandRows),
      del AS (SELECT doc_id, md5(text) AS chash FROM documents WHERE source = 'src1'),
      corp AS (SELECT md5(text) AS chash, min(doc_id) AS exact_match
               FROM documents WHERE source <> 'src1' GROUP BY 1),
      nearc AS (SELECT a.doc_id AS doc_id, min(b.doc_id) AS near_match
                FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                JOIN documents da ON a.doc_id = da.doc_id AND da.source = 'src1'
                JOIN documents db ON b.doc_id = db.doc_id AND db.source <> 'src1'
                GROUP BY 1)
      SELECT d.doc_id,
             CASE WHEN c.exact_match IS NOT NULL THEN 'exact_dup'
                  WHEN n.near_match IS NOT NULL THEN 'near_dup'
                  ELSE 'new' END AS status,
             coalesce(c.exact_match, n.near_match) AS match_id
      FROM del d LEFT JOIN corp c ON d.chash = c.chash
                 LEFT JOIN nearc n ON d.doc_id = n.doc_id
      ORDER BY d.doc_id"""
    },
    // Windows keep positions (no DISTINCT); t[i : i + 7] is the 1-based
    // inclusive 8-token slice twin of Spark's slice(t, i + 1, 8).
    // generate_series(1, len - 7) is empty when len < 8, matching the
    // Spark side's explicit size(t) >= 8 filter (Spark's sequence() with
    // a negative stop would DESCEND, not return empty — hence the guard
    // there). DuckDB sum() is HUGEINT → CAST to BIGINT.
    "q_dedup_substring" -> """
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      win AS (SELECT doc_id, md5(array_to_string(t[i : i + 7], ' ')) AS whash
              FROM toks, UNNEST(generate_series(1, len(t) - 7)) AS u(i)),
      g AS (SELECT whash, doc_id, count(*) AS k FROM win GROUP BY 1, 2),
      d AS (SELECT doc_id, sum(k) AS n_dup_win
            FROM (SELECT g.*, count(*) OVER (PARTITION BY whash) AS nd FROM g)
            WHERE nd >= 2 GROUP BY 1),
      per AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) - 7 AS n_win
              FROM documents WHERE len(string_split(text, ' ')) >= 8)
      SELECT p.doc_id, p.n_win,
             CAST(coalesce(d.n_dup_win, 0) AS BIGINT) AS n_dup_win,
             round(CAST(coalesce(d.n_dup_win, 0) AS DOUBLE) /
                   CAST(p.n_win AS DOUBLE), 4) AS dup_ratio
      FROM per p LEFT JOIN d ON p.doc_id = d.doc_id
      ORDER BY p.doc_id""",
    // Twin of the islands coalescing: pos is the 0-based window start
    // (i − 1 under DuckDB's 1-based series); HAVING count(DISTINCT
    // doc_id) >= 2 is the cross-doc test; pos − row_number() groups
    // consecutive positions; INT casts match Spark's IntegerType pos.
    "q_dedup_substring_spans" -> """
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      win AS (SELECT doc_id, i - 1 AS pos,
                     md5(array_to_string(t[i : i + 7], ' ')) AS whash
              FROM toks, UNNEST(generate_series(1, len(t) - 7)) AS u(i)),
      dup AS (SELECT whash FROM win GROUP BY 1
              HAVING count(DISTINCT doc_id) >= 2),
      dp AS (SELECT w.doc_id, w.pos FROM win w JOIN dup d ON w.whash = d.whash),
      isl AS (SELECT doc_id, pos,
                     pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
              FROM dp)
      SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
             CAST(max(pos) - min(pos) + 8 AS INT) AS span_len
      FROM isl GROUP BY doc_id, grp
      ORDER BY doc_id, span_start""",
    // SAM-census twin: BRUTE-FORCE substring enumeration — all
    // O(n²) (i, l) substrings of the capped text, grouped to
    // occurrence counts. count(*) of the groups is the distinct-
    // substring count, the cnt ≥ 2 groups are the repeated ones, and
    // their max l is the LRS. Independent algorithm, same answer —
    // exactly what a from-scratch suffix automaton needs as its gate.
    "q_dedup_substring_sam" -> """
      WITH d AS (SELECT doc_id, substr(text, 1, 64) AS t FROM documents),
      pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
              FROM d),
      subs AS (SELECT doc_id, l, substr(t, i, l) AS s
               FROM (SELECT doc_id, t, i,
                       unnest(generate_series(1, len(t) - i + 1)) AS l
                     FROM pos)),
      g AS (SELECT doc_id, l, s, count(*) AS c FROM subs GROUP BY 1, 2, 3),
      a AS (SELECT doc_id, count(*) AS n_distinct,
                   sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS n_rep_distinct,
                   max(CASE WHEN c >= 2 THEN l END) AS lrs_len
            FROM g GROUP BY doc_id)
      SELECT d.doc_id, CAST(len(d.t) AS INT) AS n_chars,
             CAST(a.n_distinct AS BIGINT) AS n_distinct,
             CAST(a.n_rep_distinct AS BIGINT) AS n_rep_distinct,
             CAST(coalesce(a.lrs_len, 0) AS INT) AS lrs_len
      FROM d JOIN a ON d.doc_id = a.doc_id
      ORDER BY d.doc_id""",
    // Total-occurrence variant: sum(k) OVER whash (all occurrences,
    // incl. within-doc) replaces the cross-doc row count.
    "q_dedup_substring_rep" -> """
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      win AS (SELECT doc_id, md5(array_to_string(t[i : i + 7], ' ')) AS whash
              FROM toks, UNNEST(generate_series(1, len(t) - 7)) AS u(i)),
      g AS (SELECT whash, doc_id, count(*) AS k FROM win GROUP BY 1, 2),
      d AS (SELECT doc_id, sum(k) AS n_dup_win
            FROM (SELECT g.*, sum(k) OVER (PARTITION BY whash) AS occ FROM g)
            WHERE occ >= 2 GROUP BY 1),
      per AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) - 7 AS n_win
              FROM documents WHERE len(string_split(text, ' ')) >= 8)
      SELECT p.doc_id, p.n_win,
             CAST(coalesce(d.n_dup_win, 0) AS BIGINT) AS n_dup_win,
             round(CAST(coalesce(d.n_dup_win, 0) AS DOUBLE) /
                   CAST(p.n_win AS DOUBLE), 4) AS dup_ratio
      FROM per p LEFT JOIN d ON p.doc_id = d.doc_id
      ORDER BY p.doc_id""",
    // Excision twin: NOT EXISTS against the span list is the anti
    // range-join; string_agg(tok ORDER BY pos) is the ordered
    // reassembly twin of sort_array(collect_list(struct(pos, tok))).
    "q_dedup_substring_clean" -> """
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      win AS (SELECT doc_id, i - 1 AS pos,
                     md5(array_to_string(t[i : i + 7], ' ')) AS whash
              FROM toks, UNNEST(generate_series(1, len(t) - 7)) AS u(i)),
      dup AS (SELECT whash FROM win GROUP BY 1
              HAVING count(DISTINCT doc_id) >= 2),
      dp AS (SELECT w.doc_id, w.pos FROM win w JOIN dup d ON w.whash = d.whash),
      isl AS (SELECT doc_id, pos,
                     pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
              FROM dp),
      spans AS (SELECT doc_id, min(pos) AS s, max(pos) - min(pos) + 8 AS l
                FROM isl GROUP BY doc_id, grp),
      ptok AS (SELECT doc_id, CAST(len(t) AS INT) AS n_tok, i - 1 AS pos, t[i] AS tok
               FROM toks, UNNEST(generate_series(1, len(t))) AS u(i)),
      kept AS (SELECT p.* FROM ptok p
               WHERE NOT EXISTS (SELECT 1 FROM spans sp
                                 WHERE sp.doc_id = p.doc_id
                                   AND p.pos >= sp.s AND p.pos < sp.s + sp.l)),
      agg AS (SELECT doc_id, n_tok, count(*) AS n_kept,
                     md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_hash
              FROM kept GROUP BY doc_id, n_tok)
      SELECT t.doc_id, CAST(len(t.t) AS INT) AS n_tok,
             CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
             coalesce(a.clean_hash, md5('')) AS clean_hash
      FROM toks t LEFT JOIN agg a ON t.doc_id = a.doc_id
      ORDER BY t.doc_id""",
    // Paragraph twin: the same fixed-width blocks via 1-based
    // inclusive list slicing, first-occurrence keeper as row_number
    // over the paragraph hash, string_agg(ORDER BY pno) reassembly.
    "q_dedup_paragraph" -> """
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      par AS (SELECT doc_id, i AS pno,
                     array_to_string(t[(i * 16) + 1 : (i + 1) * 16], ' ') AS ptext
              FROM toks,
                   UNNEST(generate_series(0, CAST(ceil(len(t) / 16.0) AS INT) - 1)) AS u(i)),
      kept AS (SELECT doc_id, pno, ptext FROM (
                 SELECT par.*,
                        row_number() OVER (PARTITION BY md5(ptext)
                                           ORDER BY doc_id, pno) AS rn
                 FROM par) WHERE rn = 1),
      reasm AS (SELECT doc_id, count(*) AS n_kept,
                       md5(string_agg(ptext, ' ' ORDER BY pno)) AS clean_hash
                FROM kept GROUP BY 1)
      SELECT t.doc_id, CAST(ceil(len(t.t) / 16.0) AS BIGINT) AS n_par,
             CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
             coalesce(r.clean_hash, md5('')) AS clean_hash
      FROM toks t LEFT JOIN reasm r ON t.doc_id = r.doc_id
      ORDER BY t.doc_id""")
}
