package graft.llm

import graft.SparkSuite
import org.apache.spark.sql.functions.{col, md5}

/** Protocol tests for the persisted-index store: build-once-load-many
  * semantics, content round-trip, and the content-fingerprint key
  * (identical corpora share one artifact; a changed corpus misses the
  * store structurally — the staleness-by-construction property). */
class IndexStoreSpec extends SparkSuite {
  import spark.implicits._

  /** Minimal corpus with parameterized doc content — two dirs written
    * with the same salt are byte-different paths holding identical
    * logical content (same fingerprint); a different salt changes the
    * fingerprint. The per-RUN salt component keeps this spec's
    * corpora from colliding with artifacts a previous test run left
    * in the (content-addressed, run-spanning) store. */
  private val runSalt = java.util.UUID.randomUUID().toString

  private def writeCorpus(salt: String): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_idx").toString
    Seq((0L, s"alpha doc text $runSalt$salt", "en", "s", 5L),
        (1L, "beta doc text", "en", "s", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    Seq((0L, Seq.fill(64)(0.25f), 0),
        (1L, Seq.fill(64)(0.5f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("durableFrame builds once, loads thereafter, content round-trips") {
    val dir = writeCorpus("probe")
    var builds = 0
    val a = IndexStore.durableFrame(spark, dir, "spec_probe") {
      builds += 1
      Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    }.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // the second call must LOAD — its build thunk must never run
    val b = IndexStore.durableFrame(spark, dir, "spec_probe") {
      builds += 1
      sys.error("artifact exists — build must not re-run")
    }.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(builds == 1, "build thunk must run exactly once")
    assert(a.toSeq == Seq((1L, "x"), (2L, "y")),
      s"content must round-trip, got ${a.toSeq}")
    assert(b.toSeq == a.toSeq, "loaded content must equal built content")
  }

  test("fingerprint: identical content shares one artifact, changed content misses") {
    val d1 = writeCorpus("same")
    val d2 = writeCorpus("same") // different path, SAME logical content
    val d3 = writeCorpus("changed") // different content
    IndexStore.durableFrame(spark, d1, "fp_probe") {
      Seq(41L).toDF("a")
    }.collect()
    var built2 = false
    val shared = IndexStore.durableFrame(spark, d2, "fp_probe") {
      built2 = true; Seq(42L).toDF("a")
    }.collect().map(_.getLong(0))
    assert(!built2, "same corpus content must hit the existing artifact")
    assert(shared.toSeq == Seq(41L),
      "the shared artifact must carry the FIRST build's content")
    var built3 = false
    IndexStore.durableFrame(spark, d3, "fp_probe") {
      built3 = true; Seq(43L).toDF("a")
    }.collect()
    assert(built3, "changed corpus content must MISS the store and rebuild")
  }

  test("deletion propagation: a post-delete corpus misses the old artifact and rebuilds") {
    // right-to-be-forgotten at the index layer (the q_forget_docs
    // companion): artifacts are keyed by the corpus CONTENT
    // fingerprint, so deleting documents changes the key — every
    // dependent artifact is structurally missing for the post-delete
    // corpus (no invalidation step to forget) and a rebuild over the
    // survivors can never serve the deleted content. The pre-delete
    // artifact stays published under its own fingerprint (audit
    // trail; an actual purge is one directory delete).
    val full = writeCorpus("forget-full")
    val tag = "forget_probe"
    var builds = 0
    IndexStore.durableFrame(spark, full, tag) {
      builds += 1
      spark.read.parquet(s"$full/documents.parquet")
        .select(col("doc_id"), md5(col("text")).as("h"))
    }.collect()
    assert(builds == 1 && IndexStore.has(spark, full, tag))
    // tombstone doc 1 — the SALTED doc 0 survives, so the post-delete
    // corpus content (hence its fingerprint) is unique to this run and
    // a previous test run's rebuild artifact can't alias it
    val deleted = java.nio.file.Files
      .createTempDirectory("graft_idx_del").toString
    spark.read.parquet(s"$full/documents.parquet")
      .filter(col("doc_id") =!= 1L)
      .write.mode("overwrite").parquet(s"$deleted/documents.parquet")
    spark.read.parquet(s"$full/embeddings.parquet")
      .filter(col("vec_id") =!= 1L)
      .write.mode("overwrite").parquet(s"$deleted/embeddings.parquet")
    assert(!IndexStore.has(spark, deleted, tag),
      "post-delete corpus must structurally MISS the old artifact")
    val rebuilt = IndexStore.durableFrame(spark, deleted, tag) {
      builds += 1
      spark.read.parquet(s"$deleted/documents.parquet")
        .select(col("doc_id"), md5(col("text")).as("h"))
    }.collect()
    assert(builds == 2, "the survivor corpus must REBUILD, not load")
    assert(rebuilt.map(_.getLong(0)).toSet == Set(0L),
      "the rebuilt artifact must carry survivors only")
    assert(IndexStore.has(spark, full, tag),
      "the pre-delete artifact stays under its own fingerprint")
    // IN PLACE: tombstoning doc 1 by rewriting `full` itself (its
    // embeddings kept, so the content differs from `deleted`) must miss
    // within this same session — the fingerprint follows the dir's
    // input version, never its path
    spark.read.parquet(s"$deleted/documents.parquet")
      .write.mode("overwrite").parquet(s"$full/documents.parquet")
    assert(!IndexStore.has(spark, full, tag),
      "a corpus rewritten in place must MISS its pre-delete artifact")
  }
}
