package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (getOrCreate — one session
  * per forked test JVM). A fixed 4 cores, so test plans do not depend
  * on the host. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
}

object SparkSuite {
  lazy val session: SparkSession = Session.local(4)
}
