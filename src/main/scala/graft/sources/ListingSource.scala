package graft.sources

import java.io.File
import java.util.{Map => JMap}

import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import graft.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The reference Search client's directory scan (SearchMRC.cpp:46-75)
  * as a DataSource V2 connector — the modern Spark shape for a custom
  * source, with the two capabilities that matter at scale implemented
  * for real:
  *
  *  - **filter pushdown** (`SupportsPushDownFilters`): equality /
  *    contains / prefix / suffix predicates on `dir`/`name` are
  *    evaluated inside the scan while listing — the Search query's
  *    substring filter never materializes non-matching rows (the
  *    reference evaluated it post-shuffle in Reduce, SearchMRC.cpp:87);
  *  - **column pruning** (`SupportsPushDownRequiredColumns`): a
  *    `select(name)` reads no dir column;
  *  - **aggregate pushdown** (`SupportsPushDownAggregates`):
  *    COUNT/MIN/MAX absorb into the walk, one partial row per
  *    partition;
  *  - **limit pushdown** (`SupportsPushDownLimit`): `limit k` bounds
  *    each partition's walk at k matching entries;
  *  - **one input partition per core**: `min(#paths, defaultParallelism)`
  *    partitions, the directories dealt round-robin in path order, each
  *    reader walking its own in order — the reference's map threads
  *    likewise take the input list in chunks from a shared cursor
  *    (MRFCore.cpp:46-53) instead of dispatching once per directory.
  *
  * Usage: `spark.read.format("graft.sources.ListingSource").load("/a", "/b")`,
  * or `.option("paths", "/a,/b").load()` → rows of (dir, name). Spark's
  * own `path` option and its JSON-array `paths` are read as such; any
  * other `paths` value is split on commas.
  * Reference semantics preserved: non-directories silently dropped,
  * dot entries skipped, duplicates across dirs kept.
  */
class ListingSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ListingSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new ListingTable(ListingSource.paths(new CaseInsensitiveStringMap(properties)))
}

object ListingSource {
  val Schema: StructType = StructType(Seq(
    StructField("dir", StringType, nullable = false),
    StructField("name", StringType, nullable = false)))

  /** The listed paths: Spark's `path` option (one `load` argument), then
    * `paths`, a JSON array when `load` got several arguments and
    * otherwise a comma-separated list. */
  private[sources] def paths(options: CaseInsensitiveStringMap): Array[String] = {
    val listed = Option(options.get("paths")).getOrElse("")
    // the JSON literal `null` parses to a null array: a plain path too
    val many = Try(new ObjectMapper().readValue(listed, classOf[Array[String]])).toOption
      .filter(_ != null).getOrElse(listed.split(",").map(_.trim))
    (Option(options.get("path")).toArray ++ many).filter(p => p != null && p.nonEmpty)
  }

  /** Deal `paths` round-robin, in path order, over
    * `min(#paths, defaultParallelism)` partitions — the session's width,
    * as [[Tables.fanWidth]] reads it. */
  private[sources] def partitions(paths: Array[String]): Array[InputPartition] = {
    val n = math.min(paths.length, Tables.fanWidth(SparkSession.active))
    Array.tabulate(n)(i => ListingPartition(paths.indices.drop(i).by(n).map(paths(_)).toArray))
  }

  /** The entries of one partition's directories, in order, passing
    * every filter, as (dir, name); the dir is encoded once per
    * directory. Not a listable dir → no entries. */
  private[sources] def walk(dirs: Array[String], filters: Array[Filter])
      : Iterator[(UTF8String, String)] = {
    val preds = filters.flatMap(compile)
    dirs.iterator.flatMap { d =>
      val u = UTF8String.fromString(d)
      Option(new File(d).list()).getOrElse(Array.empty[String]).iterator
        .filter(n => preds.forall(_(d, n))).map(n => (u, n))
    }
  }

  /** One partial row for `aggSpec` over `entries`, in a single pass.
    * min/max compare as `UTF8String`, Spark's own string order (UTF-8
    * bytes), which differs from Java's UTF-16 `String` order beyond
    * the BMP. */
  private[sources] def partial(aggSpec: Array[(String, String)],
      entries: Iterator[(UTF8String, String)]): InternalRow = {
    var n = 0L
    var minD: UTF8String = null; var maxD: UTF8String = null
    var minN: UTF8String = null; var maxN: UTF8String = null
    while (entries.hasNext) {
      val (d, nm) = entries.next()
      n += 1
      if (minD == null || d.compareTo(minD) < 0) minD = d
      if (maxD == null || d.compareTo(maxD) > 0) maxD = d
      val u = UTF8String.fromString(nm)
      if (minN == null || u.compareTo(minN) < 0) minN = u
      if (maxN == null || u.compareTo(maxN) > 0) maxN = u
    }
    InternalRow.fromSeq(aggSpec.toSeq.map {
      case ("count_star", _) | ("count", _) => n
      case ("min", "dir") => minD
      case ("max", "dir") => maxD
      case ("min", "name") => minN
      case ("max", "name") => maxN
      case other => sys.error(s"unreachable agg spec $other")
    })
  }

  /** Compile the pushable subset of Spark filters to a row predicate. */
  private[sources] def compile(f: Filter): Option[(String, String) => Boolean] = {
    def colVal(col: String)(dir: String, name: String): Option[String] =
      col match {
        case "dir" => Some(dir)
        case "name" => Some(name)
        case _ => None
      }
    f match {
      case EqualTo(c, v: String) =>
        Some((d, n) => colVal(c)(d, n).contains(v))
      case StringContains(c, v) =>
        Some((d, n) => colVal(c)(d, n).exists(_.contains(v)))
      case StringStartsWith(c, v) =>
        Some((d, n) => colVal(c)(d, n).exists(_.startsWith(v)))
      case StringEndsWith(c, v) =>
        Some((d, n) => colVal(c)(d, n).exists(_.endsWith(v)))
      case _ => None
    }
  }
}

private class ListingTable(paths: Array[String]) extends Table with SupportsRead {
  override def name(): String = paths.mkString("listing(", ",", ")")
  override def schema(): StructType = ListingSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ListingScanBuilder(paths)
}

private class ListingScanBuilder(paths: Array[String])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = ListingSource.Schema
  // pushed aggregate functions as a serializable spec: (op, column),
  // op ∈ count_star / count / min / max — the AggregateFunc objects
  // themselves never cross the driver boundary
  private var aggSpec: Array[(String, String)] = Array.empty
  private var limit: Int = -1

  /** LIMIT stops the listing walk itself: each partition emits at
    * most `limit` entries and lists no further directory past that
    * point — a `limit 10` over a 10⁹-file listing reads 10 names per
    * partition, not the listing. PARTIAL pushdown (isPartiallyPushed
    * stays true): every partition honors the bound locally and Spark's
    * own GlobalLimit still merges across partitions — correct at any
    * partition count. */
  override def pushLimit(l: Int): Boolean = { limit = l; true }
  // explicit, though it is the interface default: each partition only
  // bounds its OWN walk, so Spark must keep its GlobalLimit — claiming
  // complete pushdown with >1 partition would return up to partitions×k rows
  override def isPartiallyPushed(): Boolean = true

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, rest) =
      filters.partition(f => ListingSource.compile(f).isDefined)
    pushed = supported
    rest // Spark keeps a Filter node only for these
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** COUNT/MIN/MAX absorb into the listing walk itself — the directory
    * census never materializes one row per entry (the engine-native
    * depth step past filter pushdown + column pruning: a `count(*)`
    * over a 10⁹-file listing returns one partial row PER PARTITION).
    * Partial pushdown contract (`supportCompletePushDown` stays
    * false): each input partition emits its own partial count /
    * min / max and Spark's final merge sums / folds them — correct at
    * any partition count, no global state in the source. */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (aggregation.groupByExpressions.nonEmpty) return false
    // NON-NULL INVARIANT: count(col) below reuses the same partial row
    // count as count(*), which is correct ONLY because every column in
    // this accept-list is non-nullable by construction (a filesystem
    // entry always has a dir and a name). Any column added here must
    // either keep that invariant or make the reader count only its
    // non-null values — otherwise the pushed count(col) over-counts.
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 &&
          (nr.fieldNames()(0) == "dir" || nr.fieldNames()(0) == "name") =>
        Some(nr.fieldNames()(0))
      case _ => None
    }
    val specs = aggregation.aggregateExpressions.map {
      case _: CountStar => Some(("count_star", ""))
      case c: Count if !c.isDistinct =>
        colOf(c.column).map(("count", _))
      case m: Min => colOf(m.column).map(("min", _))
      case m: Max => colOf(m.column).map(("max", _))
      case _ => None
    }
    if (specs.exists(_.isEmpty)) return false
    aggSpec = specs.map(_.get)
    true
  }

  override def build(): Scan =
    if (aggSpec.nonEmpty) new ListingAggScan(paths, pushed, aggSpec)
    else new ListingScan(paths, pushed, required, limit)
}

private case class ListingPartition(dirs: Array[String]) extends InputPartition

private class ListingScan(paths: Array[String], filters: Array[Filter],
    required: StructType, limit: Int) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"ListingScan(paths=${paths.length}, pushed=${filters.mkString(",")}" +
      (if (limit >= 0) s", PushedLimit=$limit" else "") + ")"

  override def planInputPartitions(): Array[InputPartition] =
    ListingSource.partitions(paths)

  override def createReaderFactory(): PartitionReaderFactory =
    new ListingReaderFactory(filters, required.fieldNames, limit)
}

/** Aggregate-pushdown scan: one PARTIAL row per partition,
  * schema = one field per pushed function (count → long, min/max →
  * string, matching V2ScanRelationPushDown's partial-agg contract). */
private class ListingAggScan(paths: Array[String], filters: Array[Filter],
    aggSpec: Array[(String, String)]) extends Scan with Batch {
  override def readSchema(): StructType = StructType(aggSpec.zipWithIndex.map {
    case ((op, c), i) => op match {
      case "count_star" | "count" => StructField(s"agg$i", LongType, nullable = false)
      case _ => StructField(s"agg$i", StringType, nullable = true)
    }
  })
  override def toBatch: Batch = this
  override def description(): String =
    s"ListingAggScan(paths=${paths.length}, pushed=${filters.mkString(",")}, " +
      s"PushedAggregates=[${aggSpec.map { case (o, c) => s"$o($c)" }.mkString(",")}])"

  override def planInputPartitions(): Array[InputPartition] =
    ListingSource.partitions(paths)

  override def createReaderFactory(): PartitionReaderFactory =
    new ListingAggReaderFactory(filters, aggSpec)
}

private class ListingAggReaderFactory(filters: Array[Filter],
    aggSpec: Array[(String, String)]) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val dirs = p.asInstanceOf[ListingPartition].dirs
    new PartitionReader[InternalRow] {
      private var done = false
      override def next(): Boolean = !done
      override def get(): InternalRow = {
        done = true
        ListingSource.partial(aggSpec, ListingSource.walk(dirs, filters))
      }
      override def close(): Unit = ()
    }
  }
}

private class ListingReaderFactory(filters: Array[Filter],
    columns: Array[String], limit: Int) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val base = ListingSource.walk(p.asInstanceOf[ListingPartition].dirs, filters)
    // partial limit: stop the walk after `limit` matching entries —
    // the filter runs BEFORE the take, so a pushed predicate + limit
    // returns the first `limit` MATCHES, not matches within the
    // first `limit` entries
    val entries = if (limit >= 0) base.take(limit) else base
    new PartitionReader[InternalRow] {
      private var cur: (UTF8String, String) = _
      override def next(): Boolean =
        if (entries.hasNext) { cur = entries.next(); true } else false
      override def get(): InternalRow =
        InternalRow.fromSeq(columns.toSeq.map {
          case "dir" => cur._1
          case "name" => UTF8String.fromString(cur._2)
        })
      override def close(): Unit = ()
    }
  }
}
