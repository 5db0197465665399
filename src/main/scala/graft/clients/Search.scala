package graft.clients

import graft.core.MapReduce
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The reference's only shipped client: find names containing a substring
  * across a set of directories (reference Search.cpp:17-50,
  * SearchMRC.cpp:46-98).
  *
  * Semantics pinned from the reference:
  *  - substring match is case-sensitive and bytewise (`std::string::find`,
  *    SearchMRC.cpp:87);
  *  - duplicates are preserved — the same name under two dirs appears
  *    twice (grouping by dir then per-value filtering never dedups);
  *  - output is globally sorted by name (MRFCore.cpp:417-420).
  *
  * The input is modeled as a listing table of (dir, name) rows rather
  * than a live filesystem: the reference's `opendir`/`readdir` Map stage
  * (SearchMRC.cpp:55-73) is a 1→N generator, which at scale is a source
  * scan, not compute.
  */
object Search {

  /** The reference pipeline expressed on the generic MapReduce runner:
    * k1=dir, v1=entry; k2=dir, v2=entry; k3=matching name. Map passes
    * each listed (dir, entry) pair through — the listing already is the
    * reference Map's `readdir` output (SearchMRC.cpp:55-73) — and Reduce
    * keeps the reference's substring filter (SearchMRC.cpp:87).
    * Exercises the full map → shuffle → reduce → sort path. */
  case class Job(needle: String)
      extends MapReduce[String, String, String, String, String, Int] {
    def map(dir: String, entry: String): Iterator[(String, String)] =
      Iterator.single((dir, entry))
    def reduce(dir: String, names: Iterator[String]): Iterator[(String, Int)] =
      names.filter(_.contains(needle)).map(n => (n, 0)) // re-key, drop dir
  }

  /** MapReduce-path search over a (dir, name) listing: the listing goes
    * straight to [[MapReduce.run]], whose one group-by-dir shuffle is
    * the reference's shuffle (MRFCore.cpp:252-446), then the global
    * name sort. */
  def viaMapReduce(listing: Dataset[(String, String)], needle: String): Dataset[String] = {
    val spark = listing.sparkSession
    import spark.implicits._
    MapReduce.run(listing, Job(needle)).map(_._1)
  }

  /** Idiomatic form — what the engine actually plans at scale: a pushed
    * `Contains` filter + projection + range-partitioned sort. No
    * group-by shuffle at all (the reference's dir-grouping was an
    * execution artifact, not semantics). */
  def dataframe(listing: DataFrame, dirCol: String, nameCol: String,
      needle: String): DataFrame =
    listing
      .filter(col(nameCol).contains(needle))
      .select(col(nameCol))
      .orderBy(col(nameCol))
}

/** CLI parity with the reference binary: `Search <substring> <dir>...`
  * over the live filesystem, printing the sorted matching names
  * space-separated with a trailing space + newline — byte-identical
  * output format to reference Search.cpp:44-49 (argv parsing :59-64). */
object SearchMain {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: Search <substring> <dir> [<dir> ...]")
      sys.exit(1)
    }
    graft.Session.run { spark =>
      val listing = graft.sources.DirListing(spark, args.drop(1).toSeq)
      val names = Search.dataframe(listing, "dir", "name", args(0))
        .collect().map(_.getString(0))
      println(names.map(_ + " ").mkString)
    }
  }
}
