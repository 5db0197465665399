package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // The 168-query suite generates far more codegen classes than
      // the default 100-entry cache holds, so interleaved reps were
      // re-paying each heavy plan's janino compile (measured: the
      // SemDeDup family 8.6 s cold vs 2.2 s warm at sf0.1 — compile,
      // not data). Sized to hold every plan in the suite once.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev-only subset knob (comma-separated names); driver never sets it.
    // Misspelling every name would otherwise run ZERO queries and let a
    // dev verification pass vacuously — fail hard on an empty match,
    // warn per unknown name on a partial one.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        System.err.println("[verify] WARNING: SPARK_GRAFT_ONLY names not " +
          s"registered: ${unknown.toSeq.sorted.mkString(",")}")
      if ((names -- unknown).isEmpty)
        sys.error("SPARK_GRAFT_ONLY matched zero registered queries — " +
          "nothing would be verified")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
      // Per-query cache hygiene — mirrors Bench: no dead persisted
      // frames carried into the next query's run.
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Explicit release of every standing entry before shutdown.
    graft.llm.Similarity.releaseStandingIndexes()
    spark.stop()
  }
}
