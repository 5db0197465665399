package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.types.StructType

/** The full result of a query, reduced to a few numbers.
  *
  * `sum` adds one 64-bit hash per output row, so it does not depend on
  * row order or on how rows fall into partitions: the same result gives
  * the same digest at any core count. `ordered` chains the same row
  * hashes in output order (partition index, then position); it is
  * checked only where the result is totally ordered, as in Search. */
final case class Digest(rows: Long, sum: Long, ordered: Long) {
  /** The order-independent part, as stored in goldens.json. */
  def key: String = f"$rows:$sum%016x"
}

/** The benchmark's timed action.
  *
  * It executes the query's own physical plan (every output column and
  * the final sort) and hashes every row. `count()` is never used: under
  * `count()` Catalyst prunes what it does not need, e.g. `q1_agg` keeps
  * only `Aggregate [l_returnflag, l_linestatus]`, dropping all five sums
  * and averages and the final Sort (0.40 s under `count()` against 1.87 s
  * with every column computed, sf0.1 on 4 cores). */
object Checksum {
  private val Seed = 0x5eed5eedL
  private val Mul = 0x9e3779b97f4a7c15L // odd, so the chain never collapses

  /** Catalyst planning of the timed action: the layer `plan_ms` times. */
  def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  /** Run `plan` (from [[plan]] on the same `df`) and digest its rows. */
  def execute(df: DataFrame, plan: SparkPlan): Digest = {
    val schema = plan.schema
    SQLExecution.withNewExecutionId(df.queryExecution, Some("perfbench")) {
      combine(plan.execute().mapPartitionsWithIndex { (i, rows) =>
        Iterator(partition(i, schema, rows))
      }.collect().toSeq)
    }
  }

  /** (partition index, rows, sum, ordered) for one partition. */
  private[perfbench] def partition(index: Int, schema: StructType,
      rows: Iterator[InternalRow]): (Int, Long, Long, Long) = {
    val proj = UnsafeProjection.create(schema)
    var n = 0L
    var sum = 0L
    var ordered = 0L
    while (rows.hasNext) {
      val h = rowHash(proj(rows.next()))
      n += 1
      sum += h
      ordered = ordered * Mul + h
    }
    (index, n, sum, ordered)
  }

  private def rowHash(u: org.apache.spark.sql.catalyst.expressions.UnsafeRow): Long =
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, Seed)

  /** Chain partitions in index order: the result equals the single-
    * partition chain of the concatenated rows, however they were split. */
  private[perfbench] def combine(parts: Seq[(Int, Long, Long, Long)]): Digest =
    parts.sortBy(_._1).foldLeft(Digest(0L, 0L, 0L)) {
      case (d, (_, n, s, o)) =>
        Digest(d.rows + n, d.sum + s, d.ordered * pow(Mul, n) + o)
    }

  /** Digest of rows held in memory, in the given order. */
  def of(schema: StructType, rows: Seq[InternalRow]): Digest =
    combine(Seq(partition(0, schema, rows.iterator)))

  private def pow(b: Long, e: Long): Long = {
    var r = 1L
    var x = b
    var k = e
    while (k > 0) {
      if ((k & 1L) == 1L) r *= x
      x *= x
      k >>= 1
    }
    r
  }
}
