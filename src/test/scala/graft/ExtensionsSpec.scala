package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The cluster wiring path: `graft.GraftExtensions` must register
  * every native function without any imperative
  * `GraftFunctions.register` call. `spark.sql.extensions` is a STATIC
  * conf (only honored at SparkContext startup), so the test drives the
  * same extension class through the programmatic
  * `builder().withExtensions` seam on a fresh session over the shared
  * context — the default session is cleared first and restored
  * after. */
class ExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions registers dot_long, max_k, cms_sketch, bloom_agg") {
    SparkSuite.session // ensure the shared context exists first
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions())
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      assert(s2.sql("SELECT dot_long(array(1L,2L), array(3L,4L))")
        .head.getLong(0) === 11L)
      assert(s2.sql(
        "SELECT max_k(cast(x as double), 2) FROM VALUES (1.0),(3.0),(2.0) t(x)")
        .head.getSeq[Double](0) === Seq(3.0, 2.0))
      assert(s2.sql(
        "SELECT cms_sketch(w, 2, 16) FROM VALUES ('a'),('b') t(w)")
        .head.getSeq[Long](0).sum === 4L)
      val bl = s2.sql(
        "SELECT bloom_agg(k, 128, 2) FROM VALUES (1L),(2L) t(k)")
        .head.getSeq[Long](0)
      assert(bl.map(java.lang.Long.bitCount).sum > 0 &&
        bl.map(java.lang.Long.bitCount).sum <= 4)
      // v = (1,2) against the 2×2 codebook rows (1,2) and (3,5).
      assert(s2.sql("SELECT pq_dists(array(1L,2L), array(1L,2L,3L,5L))")
        .head.getSeq[Long](0) === Seq(0L, 13L))
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
