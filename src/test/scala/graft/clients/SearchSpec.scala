package graft.clients

import java.nio.file.Files

import graft.SparkSuite
import graft.sources.{DirListing, ListingSource}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Search-parity fixture (FIXTURES.md §B): pins the reference client's
  * semantics — case-sensitive bytewise contains (SearchMRC.cpp:87),
  * duplicates preserved across dirs, output sorted by name
  * (MRFCore.cpp:417-420). Both the MapReduce path and the idiomatic
  * DataFrame path must agree with each other and the expectation.
  */
class SearchSpec extends SparkSuite {
  import spark.implicits._

  private val listing = Seq(
    ("/d1", "report_os.txt"), ("/d1", "notes.md"), ("/d1", "OS_upper.txt"),
    ("/d2", "report_os.txt"), // duplicate name in another dir — kept twice
    ("/d2", "the_os_book.pdf"), ("/d2", "misc.bin"),
    ("/d3", "osaka.jpg"), ("/d3", "x"), ("/empty-dir-sentinel", "zzz_no_match"))

  private val expected = Seq(
    "osaka.jpg", "report_os.txt", "report_os.txt", "the_os_book.pdf")

  test("DataFrame path: case-sensitive, duplicates kept, sorted") {
    val got = Search
      .dataframe(listing.toDF("dir", "name"), "dir", "name", "os")
      .as[String].collect().toSeq
    assert(got == expected) // "OS_upper" excluded: match is case-sensitive
  }

  test("MapReduce path agrees with DataFrame path") {
    val got = Search.viaMapReduce(listing.toDS(), "os").collect().toSeq
    assert(got == expected)
  }

  test("no matches yields empty, not error") {
    assert(Search.viaMapReduce(listing.toDS(), "ZZZZ").collect().isEmpty)
  }

  test("MapReduce plan: one hash shuffle by dir, one range shuffle for the sort") {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case qs: QueryStageExec => qs +: nodes(qs.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val q = Search.viaMapReduce(listing.toDS(), "os")
    assert(q.collect().toSeq == expected)
    val exchanges = nodes(q.queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeExec => e.outputPartitioning }
    assert(exchanges.count(_.isInstanceOf[HashPartitioning]) === 1, exchanges)
    assert(exchanges.count(_.isInstanceOf[RangePartitioning]) === 1, exchanges)
    assert(exchanges.size === 2, exchanges)
  }

  test("live tree of more dirs than cores: all three paths agree") {
    // ten dirs on the suite's four cores, a matching name repeated
    // across dirs, an empty dir and a missing path
    val root = Files.createTempDirectory("graft_search_live")
    val dirs = (0 until 10).map(i => root.resolve(s"d$i"))
    dirs.zipWithIndex.foreach { case (d, i) =>
      Files.createDirectory(d)
      (0 until i).foreach { k =>
        Files.createFile(d.resolve(if (k % 3 == 0) s"os_$k" else s"x_${i}_$k"))
      }
    }
    val paths = dirs.map(_.toString) :+ root.resolve("missing").toString
    val want = (0 until 10).flatMap(i => (0 until i).filter(_ % 3 == 0).map(k => s"os_$k")).sorted
    val viaMr = Search.viaMapReduce(DirListing.listed(paths.toDS()), "os").collect().toSeq
    val viaDirListing = Search.dataframe(DirListing(spark, paths), "dir", "name", "os")
      .as[String].collect().toSeq
    val viaSource = Search.dataframe(spark.read.format(classOf[ListingSource].getName)
        .option("paths", paths.mkString(",")).load(), "dir", "name", "os")
      .as[String].collect().toSeq
    assert(want.distinct.size < want.size, "fixture has no duplicate names")
    assert(viaMr == want)
    assert(viaDirListing == want)
    assert(viaSource == want)
  }
}
