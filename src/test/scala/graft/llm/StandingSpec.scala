package graft.llm

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.{SparkEntry, SparkSuite}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The standing-state registry ([[Similarity.standing]]): every
  * in-session artifact derived from a corpus dir is keyed on the dir's
  * input version, builds nest, and one release drops everything. */
class StandingSpec extends SparkSuite {
  private val Fixture = Paths.get("/root/testdata/sf0.001")

  /** One consumer per kind of standing state, with the entries it must
    * build on a dir the registry has not seen. */
  private val consumers: Seq[(String, Set[String])] = Seq(
    "q_knn_ivf" -> Set("fingerprint"),
    "q_knn_sq8_adc" -> Set("sq8_stats"),
    "q_knn_pq_rerank" -> Set("pq_books", "pq_codes"),
    "q_knn_ivf_pq_res" -> Set("ivf_stats", "pq_res_books"),
    "q_knn_opq_pq_recall" -> Set("opq", "opq_codes"),
    "q_knn_graph_search" -> Set("graph8", "graph8_vec", "corpus"),
    "q_maxsim" -> Set("maxsim_scored"),
    "q_pagerank" -> Set("click_edges", "click_nodes", "click_outw"),
    "q_embed_pca2" -> Set("pca_v1", "pca_defl2"),
    "q_nb_classify" -> Set("nb_model"))

  private def fixtureCopy(): Path = {
    val d = Files.createTempDirectory("graft_standing")
    Files.list(Fixture).forEach(f => Files.copy(f, d.resolve(f.getFileName)))
    d
  }

  private def run(q: String, dir: Path): Seq[String] =
    SparkEntry.queries(q)(spark, dir.toString).collect().map(_.toString)
      .sorted.toSeq

  test("each consumer builds its own standing entries") {
    // a fresh copy per consumer: an earlier consumer's IndexStore build
    // may already have made a later one's entries on a shared dir
    for ((q, tags) <- consumers) {
      val dir = fixtureCopy()
      val before = Similarity.standingTags(spark, dir.toString)
      run(q, dir)
      val built = Similarity.standingTags(spark, dir.toString) -- before
      assert(tags.subsetOf(built), s"$q built $built, expected $tags")
    }
  }

  test("a dir rewritten in place is served its new content, not stale state") {
    val dir = fixtureCopy()
    val old = consumers.map { case (q, _) => q -> run(q, dir) }.toMap
    // the same filtered subset of three tables, written once and copied
    // over the used dir in place and into a fresh one
    val fresh = fixtureCopy()
    val stage = Files.createTempDirectory("graft_standing_subset")
    for ((t, key) <- Seq("embeddings" -> "vec_id", "documents" -> "doc_id",
        "events" -> "event_id")) {
      val out = stage.resolve(t)
      spark.read.parquet(dir.resolve(s"$t.parquet").toString)
        .filter(col(key) % 5 =!= 1).coalesce(1)
        .write.parquet(out.toString)
      val part = Files.list(out)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
      for (d <- Seq(dir, fresh))
        Files.copy(part, d.resolve(s"$t.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
    }
    val changed = consumers.filter { case (q, _) =>
      val now = run(q, dir)
      val matchesFresh = now == run(q, fresh)
      assert(matchesFresh, s"$q served stale state after the rewrite")
      now != old(q)
    }
    assert(changed.nonEmpty, "the subset must change some consumer's result")
  }

  test("standing builds nest 256 deep") {
    val dir = Files.createTempDirectory("graft_standing_chain").toString
    def chain(i: Int): DataFrame =
      if (i == 256) spark.range(1).toDF()
      else Similarity.standing(spark, dir, s"chain$i")(chain(i + 1))
    assert(chain(0).count() == 1)
  }

  test("a changed input version rebuilds; a release drops every entry") {
    val dir = Files.createTempDirectory("graft_standing_count")
    var builds = 0
    def get(): DataFrame = Similarity.standing(spark, dir.toString, "counted") {
      builds += 1
      spark.range(1).toDF()
    }
    get(); get()
    assert(builds == 1, "an unchanged dir must hit")
    Files.write(dir.resolve("new.parquet"), Array[Byte](1))
    get(); get()
    assert(builds == 2, "a file added under the dir must rebuild once")
    Similarity.releaseStandingIndexes()
    get()
    assert(builds == 3, "a release must drop the entry")
  }
}
