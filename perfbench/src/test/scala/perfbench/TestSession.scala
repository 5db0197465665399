package perfbench

import org.apache.spark.sql.SparkSession

object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]").appName("perfbench-test")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
