package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StructType,
  TimestampNTZType, TimestampType}

/** Parquet table loader for the driver-generated fixture schema
  * (TESTDATA.md / FIXTURES.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** The session confs whose values change the schema Spark infers for
    * one and the same parquet input. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** The one parquet reader: a fresh relation over `path` (a file or a
    * dir) on every call, so two calls self-join with distinct exprIds.
    * Only the inferred schema is shared. Inference is a Spark job of
    * its own, so it runs once per (session, path, input version,
    * inference confs) as a standing entry, and a rewritten input or a
    * flipped conf infers afresh. */
  def parquet(s: SparkSession, path: String): DataFrame = {
    val tag = inferenceConfs.map(k => s.conf.getOption(k).getOrElse(""))
      .mkString("parquet_schema:", ",", "")
    val schema = graft.llm.Similarity.standing(s, path, tag)(
      s.read.parquet(path).schema)
    s.read.schema(schema).parquet(path)
  }

  /** The input version of `path`: each file's (relative path, length,
    * mtime), recursively, in path order; a plain file is its own one
    * entry. Equal versions mean no file was added, removed or rewritten
    * in between — state derived from `path` is valid exactly as long as
    * its version is unchanged. An absent path has the empty version. */
  def version(path: String): Seq[(String, Long, Long)] = {
    def walk(f: java.io.File, rel: String): Seq[(String, Long, Long)] =
      if (f.isFile) Seq((rel, f.length, f.lastModified))
      else Option(f.listFiles()).toSeq.flatten
        .flatMap(c => walk(c, rel + "/" + c.getName))
    walk(new java.io.File(path), "").sortBy(_._1)
  }

  /** Spread a scan-side-heavy pipeline's input across the session's
    * cores (guide §2.5 "input skew": the fixture tables are single
    * row-group parquet files, so Spark's byte-range splitting yields
    * ONE populated scan task no matter the core count, and every
    * expensive projection fused into that scan — shingle explodes,
    * per-shingle md5 banks, tokenizer regexes, codec decodes — runs
    * single-threaded). A round-robin repartition right after the read
    * moves only the tiny base rows once and lets the heavy projection
    * run at full parallelism. Deterministic under retries
    * (sortBeforeRepartition is on) and row-preserving, so results are
    * unchanged.
    *
    * Scale-adaptive, not a local[32] constant: the width is
    * [[fanWidth]], and a one-core session skips the exchange. An input
    * that already spans many row groups scans wide natively; there the
    * exchange moves it once for nothing. */
  def fan(df: DataFrame): DataFrame = {
    val n = fanWidth(df.sparkSession)
    if (n <= 1) df else df.repartition(n)
  }

  /** The fan-out width: the session's default parallelism. A width of
    * 1 disables fan/salting. */
  def fanWidth(s: SparkSession): Int = s.sparkContext.defaultParallelism

  /** Driver rows as a lazily checkpointed one-partition frame: it plans
    * as `Scan ExistingRDD` with LocalRelation-sized statistics and a
    * single-partition output, so its consumers aggregate, union and
    * sort it without an exchange, and building it runs no job. */
  def driverRows(s: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    s.createDataFrame(rows.asJava, schema).coalesce(1).localCheckpoint(eager = false)

  /** Normalize `events.ts` to a session-zoned microsecond TIMESTAMP
    * regardless of how the fixture generation wrote it. Two layouts
    * exist in the wild: parquet TIMESTAMP(NANOS), which Spark only
    * reads as a long (`nanosAsLong` — normalize by flooring to micros,
    * exactly what DuckDB does on the same file), and plain
    * TIMESTAMP(MICROS) with isAdjustedToUTC=false, which Spark 4 infers
    * as TIMESTAMP_NTZ (cast to LTZ — identity under the UTC session
    * timezone every entrypoint pins). Either way downstream event-time
    * queries see one `ts` type and hash-match the oracle. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // already set by Session.local; this covers sessions built elsewhere
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = apply(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
}

/** Cross-engine-exact numeric helpers.
  *
  * The DuckDB oracle hash-compares values, so floating-point aggregates
  * must be bit-identical despite different partial-aggregation orders.
  * Strategy (SURVEY.md §7.3): route every double sum through
  * DECIMAL(38,6) (exact, order-independent), round, and cast back to
  * DOUBLE so the output schema stays `double` in both engines.
  *
  * SIGNED-ZERO TRAP: Spark's `round` (BigDecimal-based) normalizes a
  * tiny-negative double to +0.0, but DuckDB's C `round` preserves the
  * sign (-0.00003 -> -0.0). The driver hash-compares BITS, so the two
  * zeros mismatch even though they compare `==` everywhere else. Any
  * ORACLE twin whose rounded double can be slightly negative must
  * canonicalize with `round(...) + 0.0` (IEEE: -0.0 + 0.0 = +0.0;
  * identity for every other value). The Spark side needs nothing —
  * these helpers can never emit -0.0. scripts/check.py fails on any
  * signed-zero divergence so the trap can't pass pre-flight silently.
  */
object Num {
  private val Dec = DecimalType(38, 6)

  /** Exact sum of a double column; emits DOUBLE rounded to 4 dp.
    * Oracle twin: `CAST(round(sum(CAST(x AS DECIMAL(38,6))), 4) AS DOUBLE)` */
  def dsum(c: Column): Column = round(sum(c.cast(Dec)), 4).cast(DoubleType)

  /** Exact-numerator average: exact decimal sum → double → double
    * division (matching DuckDB, whose `/` on decimal yields double);
    * emits DOUBLE rounded to 4 dp. Oracle twin:
    * `CAST(round(CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / count(x), 4) AS DOUBLE)` */
  def davg(c: Column): Column =
    round(sum(c.cast(Dec)).cast(DoubleType) / count(c), 4).cast(DoubleType)

  /** Round a scalar double expression to `s` dp (post-arithmetic). */
  def r(c: Column, s: Int = 4): Column = round(c, s).cast(DoubleType)
}
