package graft

/** Dev-only microbench: raw per-task and per-job overhead of this
  * host/session config (guide §1.1). Runs trivial jobs at several
  * partition counts and prints wall times. */
object DevTaskOverhead {
  def main(args: Array[String]): Unit = Session.run { spark =>
    val sc = spark.sparkContext
    // warm
    sc.parallelize(1 to 32, 32).count()
    for (p <- Seq(1, 8, 32, 192); _ <- 1 to 3) {
      val t0 = System.nanoTime()
      sc.parallelize(1 to p, p).count()
      println(f"rdd  parts=$p%4d  ${(System.nanoTime() - t0) / 1e6}%8.1f ms")
    }
    // dataframe with one shuffle
    import spark.implicits._
    spark.range(1000).toDF("x").groupBy($"x" % 7).count().count()
    for (_ <- 1 to 3) {
      val t0 = System.nanoTime()
      spark.range(1000).toDF("x").groupBy($"x" % 7).count().count()
      println(f"df 1-shuffle  ${(System.nanoTime() - t0) / 1e6}%8.1f ms")
    }
  }
}
