package graft

import org.apache.spark.sql.SparkSession

/** Dev-only scratch timer: time named [[SparkEntry.queries]] in one JVM.
  * Usage: runMain graft.DevTimer <sfDir> <name> ... */
object DevTimer {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (name <- args.drop(1)) {
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      println(f"[devtimer] $name rows=$n sec=$dt%.2f")
    }
    spark.stop()
  }
}
