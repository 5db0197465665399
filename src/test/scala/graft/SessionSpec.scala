package graft

/** The shared session factory's config, as [[SparkSuite]] gets it, and
  * the one `SPARK_GRAFT_ONLY` filter Bench and Verify share. */
class SessionSpec extends SparkSuite {

  test("Session.local carries the shared config") {
    val conf = spark.conf
    assert(spark.sparkContext.master === "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") === "4000")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
    // in the context's conf, so a session reads parquet the same way from
    // its first query, before any Tables.events call sets it at runtime
    assert(spark.sparkContext.getConf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.newSession().conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
  }

  private val all = SparkEntry.queries.keys.toSeq.sorted

  test("SPARK_GRAFT_ONLY unset keeps every registered query, sorted") {
    assert(SparkEntry.selected("test", None).map(_._1) === all)
  }

  test("SPARK_GRAFT_ONLY keeps only the registered names it lists") {
    val Seq(a, b) = all.take(2)
    assert(SparkEntry.selected("test", Some(s"$b, no_such_query,$a"))
      .map(_._1) === Seq(a, b))
  }

  test("SPARK_GRAFT_ONLY naming no registered query fails") {
    intercept[RuntimeException] {
      SparkEntry.selected("test", Some("no_such_query,nor_this"))
    }
  }
}
