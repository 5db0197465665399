package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session extension that installs graft's native expressions
  * permanently (usable as `--conf spark.sql.extensions=graft.GraftExtensions`
  * on a real cluster). Local entry points also register imperatively
  * via [[graft.functions.GraftFunctions.register]] so queries work
  * under any driver-provided session; both read
  * [[graft.functions.GraftFunctions.natives]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    for ((name, build) <- GraftFunctions.natives)
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(build.getClass.getName, name), build))
    e.injectOptimizerRule(_ => graft.functions.DotProductRewrite)
  }
}
