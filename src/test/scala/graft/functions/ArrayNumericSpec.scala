package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Contract tests for the native array expressions, in BOTH execution
  * paths: the DataFrame route (whole-stage codegen) and direct
  * `Expression.eval` (the interpreted fallback Spark drops to when a
  * stage fails codegen) — a guard divergence between the two would be
  * an inconsistency Catalyst can surface nondeterministically. */
class ArrayNumericSpec extends SparkSuite {

  private def lit(xs: Seq[Long]) =
    Literal.create(ArrayData.toArrayData(xs.toArray),
      ArrayType(LongType, containsNull = false))

  private def viaDf(sql: String): Any = {
    GraftFunctions.register(spark)
    spark.range(1).select(expr(sql).as("r")).collect()(0).get(0)
  }

  test("dot_long: value, length mismatch -> null, both paths agree") {
    assert(viaDf("dot_long(array(1L,2L,3L), array(4L,5L,6L))") == 32L)
    assert(viaDf("dot_long(array(1L,2L), array(1L,2L,3L))") == null)
    assert(DotLong(lit(Seq(1L, 2L, 3L)), lit(Seq(4L, 5L, 6L))).eval() == 32L)
    assert(DotLong(lit(Seq(1L, 2L)), lit(Seq(1L, 2L, 3L))).eval() == null)
  }

  test("pq_dists: K distances from a flattened codebook") {
    // v = [1,2], cb = [[1,2],[3,4]] flattened -> [|v-c0|², |v-c1|²]
    val got = viaDf("pq_dists(array(1L,2L), array(1L,2L,3L,4L))")
    assert(got.asInstanceOf[scala.collection.Seq[Any]].toSeq == Seq(0L, 8L))
    val ev = PqDists(lit(Seq(1L, 2L)), lit(Seq(1L, 2L, 3L, 4L)))
      .eval().asInstanceOf[ArrayData].toLongArray.toSeq
    assert(ev == Seq(0L, 8L))
  }

  test("pq_dists: degenerate shapes -> null per the documented contract") {
    // not a multiple, empty vector, and — the ADVICE r9 guard — an
    // EMPTY CODEBOOK (m=0, n>0), which previously slipped the
    // m % n != 0 check and returned [] instead of null.
    for (s <- Seq(
        "pq_dists(array(1L,2L), array(1L,2L,3L))",
        "pq_dists(cast(array() as array<bigint>), array(1L,2L))",
        "pq_dists(array(1L,2L), cast(array() as array<bigint>))"))
      assert(viaDf(s) == null, s)
    assert(PqDists(lit(Seq(1L, 2L)), lit(Seq.empty[Long])).eval() == null)
    assert(PqDists(lit(Seq.empty[Long]), lit(Seq(1L, 2L))).eval() == null)
    assert(PqDists(lit(Seq(1L, 2L)), lit(Seq(1L, 2L, 3L))).eval() == null)
  }

  test("a second register replaces no function and logs no warning") {
    GraftFunctions.register(spark)
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("register-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(capture, Level.ALL, null)
    ctx.updateLoggers()
    try GraftFunctions.register(spark)
    finally {
      root.removeAppender(capture.getName)
      ctx.updateLoggers()
      capture.stop()
    }
    val replaced = seen.toArray.map(_.toString)
      .filter(_.contains("replaced a previously registered function"))
    assert(replaced.isEmpty, replaced.mkString("; "))
    assert(spark.sql("SELECT dot_long(array(1L,2L), array(3L,4L))")
      .head.getLong(0) === 11L)
  }
}
