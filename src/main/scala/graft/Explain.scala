package graft

/** Plan-inspection tool: print the formatted physical plan of
  * registered queries (dev/judge aid — `.explain("formatted")` shows
  * PushedFilters, ReadSchema pruning, join strategies, and
  * WholeStageCodegen spans, the 100 TB design checks in SURVEY.md §7.3).
  *
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  * (no names → all queries, alphabetical).
  *
  * `SPARK_GRAFT_EXECUTED=1` runs each query first and prints the FINAL
  * adaptive plan (isFinalPlan=true) — the only way to see AQE's
  * runtime join/coalesce choices and whether stage reuse actually
  * fired (it does NOT dedupe union arms re-planned under fresh
  * attribute IDs — the q_hll_tuning lesson). */
object Explain {
  def main(args: Array[String]): Unit = Session.run { spark =>
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val executed = sys.env.get("SPARK_GRAFT_EXECUTED").contains("1")
    for (n <- names) {
      println(s"\n========== $n ==========")
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        if (executed) df.collect() // collect(), not count(): count builds a NEW QueryExecution
        df.explain("formatted")
      } catch { case e: Throwable => println(s"explain failed: $e") }
    }
  }
}
