package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Exact int64 dot product of two `array<bigint>` columns, as a native
  * Catalyst expression with whole-stage codegen.
  *
  * Why a custom expression (SURVEY.md §2c north-star rows): the
  * composed built-in `aggregate(zip_with(a, b, (x,y) -> x*y), ...)`
  * allocates an intermediate array and walks two lambda interpreters
  * per row — on the knn/cosine hot paths that is the entire query
  * cost. This fuses the loop into generated Java inside the enclosing
  * WholeStageCodegen stage: no allocation, no virtual calls.
  *
  * Semantics: `dot_long(a, b) = Σ a[i]*b[i]`; null if either array is
  * null OR lengths differ — the exact behavior of the portable
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0L, (acc,v) -> acc+v)`
  * form (zip_with null-pads the shorter side, which nulls the sum), so
  * [[DotProductRewrite]] is semantics-preserving on every input.
  * Elements are assumed non-null (the quantized-embedding producers
  * guarantee it). Identical to the DuckDB oracle's
  * `list_sum(list_transform(...))` on the fixture domain (fixed-length
  * vectors; values ≤ 1e4-scaled floats: no 64-bit overflow).
  */
case class DotLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_long requires two array<bigint> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true // also null on length mismatch
  override def prettyName: String = "dot_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var acc = 0L
      var i = 0
      while (i < n) { acc += x.getLong(i) * y.getLong(i); i += 1 }
      acc
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $x.getLong($i) * $y.getLong($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Exact int64 squared distances of one vector against a K-row literal
  * codebook, as a native codegen expression: `pq_dists(v, cb)` with
  * `cb` the row-major FLATTENED K×d codebook (K inferred as
  * `len(cb) / len(v)`) returns `array<bigint>` of `|v − cb[k]|²`.
  *
  * Why a custom expression: the PQ encode/LUT stage
  * (llm/Similarity.scala) needs m=16 such arrays per row; written as
  * unrolled per-centroid arithmetic that is 256 dot products of
  * literals whose generated Java blew janino's method limits and
  * dropped the whole stage to interpreted. This emits one TIGHT loop
  * per subspace inside WholeStageCodegen — the generated code size is
  * O(1) in K and d.
  *
  * Null if either side is null or `len(cb)` is not a positive multiple
  * of `len(v)`; elements assumed non-null (quantized-embedding
  * producers guarantee it). DuckDB twin: per-centroid
  * `list_sum(list_transform(...))` squared-difference sums — same
  * exact BIGINT arithmetic. */
case class PqDists(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pq_dists requires two array<bigint> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // also null on length mismatch
  override def prettyName: String = "pq_dists"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val cb = b.asInstanceOf[ArrayData]
    val n = v.numElements()
    val m = cb.numElements()
    if (n == 0 || m == 0 || m % n != 0) null
    else {
      val k = m / n
      val out = new Array[Long](k)
      var c = 0
      while (c < k) {
        var acc = 0L
        var i = 0
        while (i < n) {
          val d = v.getLong(i) - cb.getLong(c * n + i)
          acc += d * d
          i += 1
        }
        out(c) = acc
        c += 1
      }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cb) => {
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val k = ctx.freshName("k")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val out = ctx.freshName("out")
      s"""
         |final int $n = $v.numElements();
         |final int $m = $cb.numElements();
         |if ($n == 0 || $m == 0 || $m % $n != 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  final int $k = $m / $n;
         |  final long[] $out = new long[$k];
         |  for (int $c = 0; $c < $k; $c++) {
         |    long $acc = 0L;
         |    for (int $i = 0; $i < $n; $i++) {
         |      final long $d = $v.getLong($i) - $cb.getLong($c * $n + $i);
         |      $acc += $d * $d;
         |    }
         |    $out[$c] = $acc;
         |  }
         |  ${ev.value} =
         |    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {
  /** Every native expression by SQL name with its builder: the one
    * table both [[register]] and [[graft.GraftExtensions]] install. */
  val natives: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "dot_long" -> (c => DotLong(c(0), c(1))),
    "pq_dists" -> (c => PqDists(c(0), c(1))),
    "max_k" -> (c => MaxK(c(0), c(1))),
    "vec_sum" -> (c => VecSum(c(0), c(1))),
    "cms_sketch" -> (c => CmsSketch(c(0), c(1), c(2))),
    "bloom_agg" -> (c => BloomAgg(c(0), c(1), c(2))))

  /** Register graft's native expressions and UDAFs on a session so they
    * are usable from `expr(...)`/SQL text. Idempotent; called by every
    * query builder that needs them (works under any session the
    * driver hands us, no `spark.sql.extensions` config required). A
    * name the session already has is left alone, so repeated builds
    * register nothing and log no "replaced" warning. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    def absent(name: String) = !registry.functionExists(FunctionIdentifier(name))
    for ((name, build) <- natives if absent(name))
      registry.createOrReplaceTempFunction(name, build, "built-in")
    if (absent("wmean"))
      spark.udf.register("wmean",
        org.apache.spark.sql.functions.udaf(WeightedMean, WeightedMean.inputEncoder))
    if (!spark.experimental.extraOptimizations.contains(DotProductRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ DotProductRewrite
  }
}
