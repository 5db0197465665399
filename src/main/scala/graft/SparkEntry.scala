package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._
import graft.llm.{Clustering, Dedup, Multimodal, Similarity, TextAnalysis}
import graft.streaming.Streams

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 registers one query in
  * [[queries]] and (when ANSI-SQL-expressible) a DuckDB twin in
  * [[oracleSql]] with identical output column names, total ordering,
  * and cross-engine-exact numerics (see [[Num]]).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Aggregates.queries("q1_agg")(spark, "/root/testdata/sf0.001")

  private val modules: Seq[(Map[String, Q], Map[String, String])] = Seq(
    (Aggregates.queries, Aggregates.oracles),
    (Analytics.queries, Analytics.oracles),
    (Joins.queries, Joins.oracles),
    (WindowOps.queries, WindowOps.oracles),
    (SetOps.queries, SetOps.oracles),
    (Scalars.queries, Scalars.oracles),
    (TextOps.queries, TextOps.oracles),
    (Dedup.queries, Dedup.oracles),
    (Similarity.queries, Similarity.oracles),
    (Clustering.queries, Clustering.oracles),
    (TextAnalysis.queries, TextAnalysis.oracles),
    (Multimodal.queries, Multimodal.oracles),
    (Streams.queries, Streams.oracles))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.iterator.flatMap(_._1).toMap

  /** The registered queries sorted by name, kept to the comma-separated
    * names of `only` (`SPARK_GRAFT_ONLY`) when it is set. Unknown names
    * are warned about under `[tag]`; a filter that matches nothing
    * fails, so a typo cannot pass as a real (empty) run. */
  def selected(tag: String,
      only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Seq[(String, Q)] = {
    val all = queries.toSeq.sortBy(_._1)
    only.fold(all) { f =>
      val keep = f.split(",").map(_.trim).toSet
      val unknown = keep -- all.map(_._1)
      if (unknown.nonEmpty)
        System.err.println(s"[$tag] WARNING: SPARK_GRAFT_ONLY names not " +
          s"registered: ${unknown.toSeq.sorted.mkString(",")}")
      val kept = all.filter(q => keep(q._1))
      if (kept.isEmpty)
        sys.error(s"[$tag] SPARK_GRAFT_ONLY matched zero registered queries")
      kept
    }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    *
    * Every oracle passes through [[materializeShared]]: DuckDB (1.0)
    * INLINES each CTE reference, re-evaluating its whole upstream
    * chain per use — the 16-subspace PQ encode chain references its
    * residual frame ~30×, which turned the q_knn_ivf_pq_res twin into
    * a 339 s query at sf0.01 (measured; 7 s materialized) and timed
    * out the r10 correctness gate. Rewriting multiply-referenced CTEs
    * to `AS MATERIALIZED` is semantically neutral and evaluates each
    * shared frame once. */
  def oracleSql: Map[String, String] =
    modules.iterator.flatMap(_._2).toMap
      .map { case (k, v) => k -> materializeShared(v) }

  /** A definition site is rewritten only when its body starts with
    * SELECT — every CTE body here does, while the other `name AS (`
    * sites (named windows, possibly several per WINDOW clause) open
    * with PARTITION BY / ORDER BY, and derived-table aliases are
    * `) AS t(cols)`. A CTE referenced once stays inline — inlining
    * preserves filter pushdown into its body. */
  private def materializeShared(sql: String): String = {
    val cteDef = """(?<![A-Za-z0-9_])([A-Za-z_][A-Za-z0-9_]*) AS \(\s*SELECT""".r
    val names = cteDef.findAllMatchIn(sql).map(_.group(1)).toSet
    names.foldLeft(sql) { (acc, n) =>
      val uses = s"""(?<![A-Za-z0-9_])$n(?![A-Za-z0-9_])""".r
        .findAllIn(sql).size
      if (uses > 2) // definition + at least two references
        acc.replaceAll(s"""(?<![A-Za-z0-9_])$n AS \\((\\s*)SELECT""",
          s"$n AS MATERIALIZED ($$1SELECT")
      else acc
    }
  }
}
