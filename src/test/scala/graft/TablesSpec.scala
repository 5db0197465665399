package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BinaryType, StringType}

/** The parquet resolver ([[Tables.parquet]]): a table's schema is
  * inferred once per session and input version, and every call still
  * yields a fresh relation. */
class TablesSpec extends SparkSuite {
  import spark.implicits._

  /** Write `df` as the one file `dir/name.parquet`, the fixture layout,
    * replacing whatever is there. */
  private def writeTable(df: DataFrame, dir: Path, name: String): Unit = {
    val stage = Files.createTempDirectory("graft_tables_stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = Files.list(stage)
      .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
    Files.copy(part, dir.resolve(s"$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  test("a second resolve of the same table in one session starts no Spark job") {
    val dir = Files.createTempDirectory("graft_tables_jobs")
    writeTable(spark.range(100).toDF("id"), dir, "t")
    val (first, _) = jobsOf(Tables(spark, dir.toString, "t"))
    assert(first.nonEmpty, "the first resolve infers the schema")
    val (second, _) = jobsOf(Tables(spark, dir.toString, "t"))
    assert(second.isEmpty, s"the second resolve started ${second.size} job(s)")
  }

  test("a single-file table rewritten in place resolves to its new schema") {
    val dir = Files.createTempDirectory("graft_tables_rewrite")
    writeTable(spark.range(5).toDF("id"), dir, "t")
    assert(Tables(spark, dir.toString, "t").columns.toSeq == Seq("id"))
    writeTable(spark.range(5).select(col("id"), (col("id") * 2).as("twice")),
      dir, "t")
    val t = Tables(spark, dir.toString, "t")
    assert(t.columns.toSeq == Seq("id", "twice"))
    assert(t.as[(Long, Long)].collect().sorted.toSeq ==
      (0L until 5L).map(i => (i, 2 * i)))
  }

  test("a plain file's version is its own length and mtime") {
    val dir = Files.createTempDirectory("graft_tables_version")
    writeTable(spark.range(5).toDF("id"), dir, "t")
    val file = dir.resolve("t.parquet")
    val before = Tables.version(file.toString)
    assert(before == Seq(("", Files.size(file),
      file.toFile.lastModified)))
    writeTable(spark.range(500).toDF("id"), dir, "t")
    assert(Tables.version(file.toString) != before)
    assert(Tables.version(dir.resolve("absent.parquet").toString).isEmpty)
  }

  test("an inference conf flipped mid-session resolves the schema a plain read does") {
    // binaryAsString acts only on a file without Spark's own schema in
    // its footer, so write one through the plain parquet API
    val dir = Files.createTempDirectory("graft_tables_conf")
    val path = dir.resolve("t.parquet").toString
    val pq = MessageTypeParser.parseMessageType(
      "message t { required int64 id; required binary payload; }")
    val w = ExampleParquetWriter.builder(new HPath(path)).withType(pq).build()
    try w.write(new SimpleGroupFactory(pq).newGroup()
      .append("id", 1L).append("payload", Binary.fromString("hi")))
    finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    val old = spark.conf.getOption(key)
    try {
      for ((v, want) <- Seq("false" -> BinaryType, "true" -> StringType,
          "false" -> BinaryType)) {
        spark.conf.set(key, v)
        val resolved = Tables(spark, dir.toString, "t").schema
        assert(resolved == spark.read.parquet(path).schema)
        assert(resolved("payload").dataType == want, s"$key=$v")
      }
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a self-join of two resolves selects each side by df(col)") {
    val dir = Files.createTempDirectory("graft_tables_selfjoin")
    writeTable(spark.range(12).select(col("id"), (col("id") % 3).as("grp")),
      dir, "t")
    def pairs(a: DataFrame, b: DataFrame): Seq[(Long, Long)] =
      a.join(b, a("grp") === b("grp") && a("id") < b("id"))
        .select(a("id"), b("id")).as[(Long, Long)].collect().sorted.toSeq
    val plain = spark.read.parquet(dir.resolve("t.parquet").toString)
    val want = pairs(plain, spark.read.parquet(dir.resolve("t.parquet").toString))
    assert(want.size == 3 * 6) // three groups of four ids, C(4,2) each
    assert(pairs(Tables(spark, dir.toString, "t"),
      Tables(spark, dir.toString, "t")) == want)
  }
}
