package graft

import org.apache.spark.sql.SparkSession

/** The one session factory and teardown behind every entry point. The
  * reference's only execution setting is its thread count
  * (MapReduceFramework.h:13-14); here that is `local[n]` with n shuffle
  * partitions, and every other setting is the same for every main. */
object Session {

  /** `SPARK_GRAFT_CPUS` if set, else the host's processor count. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with the shared config. */
  def local(cpus: Int = defaultCpus): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // The query suite generates far more codegen classes than the
      // default 100-entry cache holds, so interleaved reps were
      // re-paying each heavy plan's janino compile (measured: the
      // SemDeDup family 8.6 s cold vs 2.2 s warm at sf0.1 — compile,
      // not data). Sized to hold every plan in the suite once.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.ui.enabled", "false")
      // TIMESTAMP(NANOS) parquet reads as a long (Tables.events normalizes
      // it) from the first query on, not only after the first events call
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()

  /** Run a main's body on a [[local]] session; every standing entry is
    * released and the session stopped even when the body throws. */
  def run(body: SparkSession => Unit): Unit = {
    val spark = local()
    try body(spark)
    finally {
      graft.llm.Similarity.releaseStandingIndexes()
      spark.stop()
    }
  }
}
