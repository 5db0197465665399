package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class ChecksumSpec extends AnyFunSuite {
  private val schema = StructType(Seq(StructField("k", LongType), StructField("s", StringType),
    StructField("d", DoubleType)))
  private def row(k: Long, s: String, d: Double): InternalRow =
    InternalRow(k, UTF8String.fromString(s), d)
  private val rows = (0 until 200).map(i => row(i.toLong, s"name$i", i * 0.25))

  test("one flipped value changes the digest") {
    val base = Checksum.of(schema, rows)
    val flipped = rows.updated(137, row(137L, "name137", 137 * 0.25 + 1e-9))
    assert(Checksum.of(schema, flipped).sum != base.sum)
    val renamed = rows.updated(3, row(3L, "name3x", 0.75))
    assert(Checksum.of(schema, renamed).sum != base.sum)
  }

  test("the sum ignores row order; the ordered chain does not") {
    val a = Checksum.of(schema, rows)
    val b = Checksum.of(schema, rows.reverse)
    assert(a.key == b.key)
    assert(a.ordered != b.ordered)
  }

  test("partitioning does not change the digest, ordered part included") {
    val whole = Checksum.of(schema, rows)
    val splits = Seq(0, 1, 50, 50, 199, 200)
    val parts = splits.zip(splits.tail).zipWithIndex.map { case ((from, to), i) =>
      Checksum.partition(i, schema, rows.slice(from, to).iterator) }
    assert(Checksum.combine(scala.util.Random.shuffle(parts)) == whole)
  }

  test("a query's digest is the same at any parallelism and sees every column") {
    val spark = TestSession.spark
    def digest(parts: Int, bump: Double): Digest = {
      val df = spark.range(0, 5000, 1, parts)
        .select(col("id"), (col("id") % 7).as("g"), (col("id") * 0.5 + bump).as("v"))
        .groupBy("g").agg(sum("v").as("s"), max("id").as("m"))
        .orderBy("g")
      Checksum.execute(df, Checksum.plan(df))
    }
    val one = digest(1, 0.0)
    assert(one.rows == 7)
    assert(digest(4, 0.0) == one)
    assert(digest(4, 0.001).key != one.key) // a non-key aggregate column moved
  }
}
