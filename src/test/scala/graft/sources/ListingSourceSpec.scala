package graft.sources

import java.nio.file.Files

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DSv2 listing source: correctness vs DirListing, filter pushdown
  * (predicate evaluated inside the scan, visible as PushedFilters in
  * the physical plan), column pruning, one partition per core over more
  * paths than cores, Spark's own path options and the pushed min/max
  * string order. */
class ListingSourceSpec extends SparkSuite {

  private lazy val dirs = {
    val root = Files.createTempDirectory("graft_dsv2")
    val d1 = Files.createDirectory(root.resolve("d1"))
    val d2 = Files.createDirectory(root.resolve("d2"))
    Seq("alpha_needle", "beta", "gamma").foreach(f => Files.createFile(d1.resolve(f)))
    Seq("alpha_needle", "delta_needle").foreach(f => Files.createFile(d2.resolve(f)))
    Seq(d1.toString, d2.toString)
  }

  private def read() = spark.read
    .format(classOf[ListingSource].getName)
    .option("paths", dirs.mkString(","))
    .load()

  test("reads (dir, name) rows with reference semantics") {
    val got = read().collect().map(r => (r.getString(0), r.getString(1))).toSet
    val want = DirListing(spark, dirs).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === want && got.size === 5)
  }

  test("contains filter is pushed into the scan") {
    val q = read().filter(col("name").contains("needle")).select("name")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("StringContains"), s"filter not pushed:\n$plan")
    val names = q.collect().map(_.getString(0)).sorted.toSeq
    assert(names === Seq("alpha_needle", "alpha_needle", "delta_needle"))
  }

  test("column pruning reaches the source") {
    val q = read().select("name")
    assert(q.schema.fieldNames.toSeq === Seq("name"))
    assert(q.count() === 5)
  }

  test("pushdown lands in the SCAN NODE and the reader filters, not a post-scan Filter") {
    // Two pins that fail if pushdown silently stops:
    //  1. the pushed filter must appear in the scan node's own
    //     description (ListingScan prints `pushed=…` — a generic
    //     "StringContains somewhere in the plan" would also match a
    //     leftover post-scan Filter node and miss the regression);
    //  2. behaviorally, the scan must EMIT only the matching rows
    //     (numOutputRows == 3 of 5) — the PartitionPruningSpec trick:
    //     if the predicate were re-evaluated above the scan instead,
    //     the scan's own output count reverts to 5.
    val q = read().filter(col("name").contains("needle")).select("name")
    q.collect()
    val scanLine = q.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("ListingScan")).getOrElse(fail("no ListingScan node"))
    assert(scanLine.contains("pushed=") && scanLine.contains("StringContains"),
      s"pushed-filters string missing from the scan node: $scanLine")
    val scan = q.queryExecution.executedPlan.collectLeaves()
      .find(_.toString.contains("ListingScan"))
      .getOrElse(fail("no BatchScan leaf"))
    assert(scan.metrics("numOutputRows").value === 3,
      "scan emitted unfiltered rows — the reader is not applying the pushed filter")
  }

  test("pruned read schema reaches the scan node (name only, no dir)") {
    val q = read().filter(col("name").contains("needle")).select("name")
    val scanLine = q.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("ListingScan")).getOrElse(fail("no ListingScan node"))
    // DSv2 prints the scan's output attribute list: dir must be gone
    assert(!scanLine.contains("dir#"),
      s"dir survived pruning in the scan node: $scanLine")
  }

  test("count(*) is absorbed into the scan — no listing rows surface") {
    // the engine-native depth step past filter pushdown: the scan node
    // must be the AGGREGATE scan (one partial row per directory, the
    // pushed functions in its description) and its numOutputRows must
    // be the PARTITION count (2 dirs), never the entry count (5) —
    // while the value matches the unpushed plan exactly
    val q = read().agg(count(lit(1)))
    val got = q.collect().head.getLong(0)
    assert(got === 5L, "pushed count disagrees with the listing")
    // the agg plan carries an exchange, so AQE wraps it and the
    // executed tree's leaves are QueryStageExec wrappers — unwrap
    // recursively to reach the BatchScanExec and its metric
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case qs: QueryStageExec => qs +: nodes(qs.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val all = nodes(q.queryExecution.executedPlan)
    val scanLine = q.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("ListingAggScan")).getOrElse(
        fail("no ListingAggScan node — aggregate not pushed:\n" +
          q.queryExecution.executedPlan.toString))
    assert(scanLine.contains("PushedAggregates=[count_star()]"), scanLine)
    val scan = all.find(p =>
        p.isInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] &&
        p.toString.contains("ListingAggScan"))
      .getOrElse(fail("no BatchScan leaf"))
    assert(scan.metrics("numOutputRows").value === 2,
      "scan surfaced listing rows instead of per-partition partials")
  }

  test("pushed min/max/count match the unpushed values, filters compose") {
    val q = read().filter(col("name").contains("needle"))
      .agg(count(lit(1)).as("n"), min(col("name")).as("mn"),
        max(col("name")).as("mx"))
    val r = q.collect().head
    assert((r.getLong(0), r.getString(1), r.getString(2)) ===
      ((3L, "alpha_needle", "delta_needle")))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ListingAggScan") && plan.contains("min(name)") &&
      plan.contains("max(name)") && plan.contains("StringContains"),
      s"aggregate + filter must both reach the scan:\n$plan")
  }

  test("limit is pushed into the scan and bounds each partition's walk") {
    // plan pin: the scan node itself must print PushedLimit — and the
    // scan's own output must be bounded per PARTITION (2 dirs × ≤3),
    // never the full 5-row listing, while the global limit still
    // produces exactly 3 rows from the 5-entry listing
    val q = read().limit(3)
    val rows = q.collect()
    assert(rows.length === 3)
    val full = read().collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows.map(r => (r.getString(0), r.getString(1))).forall(full.contains))
    val scanLine = q.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("ListingScan")).getOrElse(fail("no ListingScan node"))
    assert(scanLine.contains("PushedLimit=3"),
      s"limit missing from the scan node: $scanLine")
    val scan = q.queryExecution.executedPlan.collectLeaves()
      .find(_.toString.contains("ListingScan"))
      .getOrElse(fail("no BatchScan leaf"))
    assert(scan.metrics("numOutputRows").value <= 6,
      "scan ignored the pushed per-partition bound")
  }

  test("limit composes with a pushed filter: first-k MATCHES, not k entries") {
    // the filter runs before the take inside the reader — with only 3
    // matching entries across both dirs, limit(2) must return 2
    // genuine matches
    val q = read().filter(col("name").contains("needle")).limit(2)
    val names = q.collect().map(_.getString(1))
    assert(names.length === 2 && names.forall(_.contains("needle")))
    val scanLine = q.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("ListingScan")).getOrElse(fail("no ListingScan node"))
    assert(scanLine.contains("PushedLimit=2") &&
      scanLine.contains("StringContains"), scanLine)
  }

  test("a group-by or distinct count falls back to the row scan") {
    // groupBy(dir) and count(DISTINCT) are NOT pushable — the source
    // must refuse and the plain row scan must carry the query
    val q = read().groupBy(col("dir")).agg(count(lit(1)).as("n"))
    assert(q.collect().map(_.getLong(1)).sorted.toSeq === Seq(2L, 3L))
    assert(!q.queryExecution.executedPlan.toString.contains("ListingAggScan"))
    val qd = read().agg(countDistinct(col("name")).as("n"))
    assert(qd.collect().head.getLong(0) === 4L)
    assert(!qd.queryExecution.executedPlan.toString.contains("ListingAggScan"))
  }

  // The wide fixture: more paths than the suite's four cores, so the
  // scan plans min(#paths, defaultParallelism) = 4 partitions, each
  // walking its dealt directories in order. Ten paths in a deliberate
  // order: seven populated dirs (a name shared by all of them), an empty
  // dir, a missing path and a plain file.
  private lazy val (wideRoot, wide) = {
    val root = Files.createTempDirectory("graft_dsv2_wide")
    val full = (0 until 7).map { i =>
      val d = Files.createDirectory(root.resolve(s"d$i"))
      (Seq("shared_needle") ++ (0 to i).map(k => s"only_${i}_$k") ++
        (if (i % 2 == 0) Seq(s"needle_$i") else Nil))
        .foreach(f => Files.createFile(d.resolve(f)))
      d.toString
    }
    val empty = Files.createDirectory(root.resolve("empty")).toString
    val file = Files.createFile(root.resolve("plain.txt")).toString
    val missing = root.resolve("missing").toString
    (root, Seq(full(0), empty, full(1), missing, full(2), file) ++ full.drop(3))
  }

  private def readWide(): DataFrame = spark.read
    .format(classOf[ListingSource].getName)
    .option("paths", wide.mkString(","))
    .load()

  private def rows(df: DataFrame): Seq[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted

  /** The executed BatchScanExec, through AQE's wrappers. */
  private def scanOf(df: DataFrame): BatchScanExec = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case qs: QueryStageExec => qs +: nodes(qs.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    nodes(df.queryExecution.executedPlan).collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail("no BatchScan leaf"))
  }

  test("ten paths on four cores: four partitions, DirListing's rows") {
    val q = readWide()
    val got = rows(q)
    assert(scanOf(q).inputPartitions.length === 4)
    assert(got === rows(DirListing(spark, wide)))
    assert(got.size === 7 + (1 to 7).sum + 4)
  }

  test("pushed count, min, max and limit equal the unpushed results") {
    val aggs = Seq(count(lit(1)), count(col("name")), min(col("name")),
      max(col("name")), min(col("dir")), max(col("dir")))
    def agg(df: DataFrame) = df.agg(aggs.head, aggs.tail: _*)
    for (needle <- Seq("needle", "only_6", "no_such_entry")) {
      val pushed = agg(readWide().filter(col("name").contains(needle)))
      val unpushed = agg(DirListing(spark, wide).filter(col("name").contains(needle)))
      assert(pushed.collect().toSeq === unpushed.collect().toSeq, needle)
      assert(pushed.queryExecution.executedPlan.toString.contains("ListingAggScan"))
    }
    val all = rows(readWide())
    for (k <- Seq(1, 3, 50)) {
      val limited = readWide().limit(k)
      val got = rows(limited)
      assert(got.size === rows(DirListing(spark, wide).limit(k)).size, s"limit $k")
      assert(got.diff(all).isEmpty, s"limit $k returned rows the listing lacks")
      assert(scanOf(limited).metrics("numOutputRows").value <= 4L * k)
      val matches = rows(readWide().filter(col("name").contains("needle")).limit(k))
      assert(matches.size === math.min(k, 11) && matches.forall(_._2.contains("needle")))
    }
  }

  test("count(*)'s scan emits one partial row per partition") {
    val q = readWide().agg(count(lit(1)))
    assert(q.collect().head.getLong(0) === rows(readWide()).size.toLong)
    val scan = scanOf(q)
    assert(scan.toString.contains("ListingAggScan"))
    assert(scan.metrics("numOutputRows").value === 4)
  }

  test("load reads Spark's path option and its JSON-array paths option") {
    val Seq(d0, _, d1) = wide.take(3)
    val comma = Files.createDirectory(wideRoot.resolve("a,b"))
    Files.createFile(comma.resolve("in_comma_dir"))
    val fmt = spark.read.format(classOf[ListingSource].getName)
    assert(rows(fmt.load(d0)) === rows(DirListing(spark, Seq(d0))))
    assert(rows(fmt.load(d0, d1)) === rows(DirListing(spark, Seq(d0, d1))))
    assert(rows(fmt.load(comma.toString, d1)) ===
      rows(DirListing(spark, Seq(comma.toString, d1))))
    assert(rows(fmt.load(comma.toString)) === Seq((comma.toString, "in_comma_dir")))
    // option values that parse as JSON but name no array list as plain paths
    def paths(v: String) = ListingSource.paths(
      new CaseInsensitiveStringMap(java.util.Map.of("paths", v))).toSeq
    assert(paths("null") === Seq("null"))
    assert(paths("[null, \"/a\"]") === Seq("/a"))
    assert(paths(" /a , /b ") === Seq("/a", "/b"))
  }

  test("pushed min/max fold in Spark's UTF-8 byte order") {
    // U+FF61 is EF BD A1 in UTF-8 and U+1F600 is F0 9F 98 80, so Spark
    // orders U+FF61 first; Java's UTF-16 order puts U+1F600's high
    // surrogate (D83D) first
    import spark.implicits._
    val (ff61, smile) = ("\uFF61", "\uD83D\uDE00")
    val listing = Seq(("d", ff61), ("d", smile))
    val spec = Array(("min", "name"), ("max", "name"), ("count_star", ""))
    val row = ListingSource.partial(spec,
      listing.iterator.map { case (d, n) => (UTF8String.fromString(d), n) })
    val want = listing.toDF("dir", "name").agg(min("name"), max("name")).collect().head
    assert((row.getUTF8String(0).toString, row.getUTF8String(1).toString, row.getLong(2)) ===
      ((want.getString(0), want.getString(1), 2L)))
    assert(want.getString(0) === ff61)
  }
}
