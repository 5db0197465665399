package graft

/** Pins [[ScaleProbe]]'s one replication path (row count, strides read
  * from the data, ids distinct across replicas, the empty-input
  * failure) and its `SPARK_GRAFT_PROBES` name check. */
class ScaleProbeSpec extends SparkSuite {
  import spark.implicits._

  private val sections = Seq("cc", "range", "bigstar", "cms", "quantile",
    "outlier", "ivf", "pq", "graph", "bpe", "incr", "substr", "fuzzy", "png",
    "warc", "shardloss", "crawlpipe", "ulm", "c4", "gid", "pca", "hotkey",
    "ivfincr")

  test("N× the rows, ids distinct across replicas, ids not starting at 0") {
    val in = Seq((5L, "a"), (7L, "b"), (9L, "c")).toDF("id", "v")
    val reps = ScaleProbe.replicas(in, "ids5", Seq("id"))
    assert(reps.rows === 3)
    assert(reps.strides === Map("id" -> 10L))
    assert(reps.times(4).columns.toSeq === Seq("id", "v"))
    val out = reps.times(4, withIndex = true).as[(Long, String, Int)].collect()
    assert(out.length === 12)
    assert(out.map(_._1).distinct.length === 12)
    assert(out.map(_._3).toSet === (0 until 4).toSet)
    // replica i is the input with every id shifted by i strides
    for (i <- 0 until 4)
      assert(out.filter(_._3 == i).map(r => (r._1 - 10L * i, r._2)).toSet ===
        Set((5L, "a"), (7L, "b"), (9L, "c")))
  }

  test("columns of one id space share a stride; each space has its own") {
    val in = Seq((3L, 8L, 100L), (8L, 12L, 40L)).toDF("d1", "d2", "e")
    val reps = ScaleProbe.replicas(in, "pairs", Seq("d1", "d2"), Seq("e"))
    assert(reps.strides === Map("d1" -> 13L, "d2" -> 13L, "e" -> 101L))
    val out = reps.times(3, withIndex = true)
      .as[(Long, Long, Long, Int)].collect()
    assert(out.length === 6)
    // a pair's endpoints stay in their replica's band, so no edge
    // joins two replicas and the node sets are disjoint across them
    val nodes = out.groupBy(_._4).view.mapValues(_.flatMap(r => Seq(r._1, r._2)).toSet)
    for ((i, ns) <- nodes) assert(ns.forall(n => n / 13 == i))
    assert(nodes.values.flatten.toSet.size === 3 * 3)
    assert(out.map(_._3).distinct.length === 6)
  }

  test("an empty input fails with a message that names it") {
    val e = intercept[IllegalArgumentException](
      ScaleProbe.replicas(Seq.empty[Long].toDF("id"), "sf/empty.parquet", Seq("id")))
    assert(e.getMessage.contains("empty probe input: sf/empty.parquet has no rows"))
  }

  test("SPARK_GRAFT_PROBES selects known sections in run order") {
    assert(ScaleProbe.selected(None) === Right(sections))
    assert(ScaleProbe.selected(Some("range,cc")) === Right(Seq("cc", "range")))
    assert(ScaleProbe.selected(Some(" fuzzy ")) === Right(Seq("fuzzy")))
  }

  test("unknown section names are rejected with the known names") {
    def rejected(probes: String): String = ScaleProbe.selected(Some(probes)) match {
      case Left(msg) => msg
      case ok => fail(s"'$probes' was accepted: $ok")
    }
    val msg = rejected("cc,jpeg,rnage")
    assert(msg.contains("'jpeg', 'rnage'"))
    assert(!msg.contains("'cc'"))
    assert(msg.contains(s"known: ${sections.mkString(",")}"))
    assert(rejected("").contains("''"))
  }
}
