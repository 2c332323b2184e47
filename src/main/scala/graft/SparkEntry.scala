package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are contributed by one module per operator family (§2 of
  * SURVEY.md); this object only merges them. Query ids are the scoreboard
  * identifiers and must stay stable across rounds.
  */
object SparkEntry {
  private val modules: Seq[QueryModule] = Seq(
    operators.ScanOps,
    operators.ProjectFilterOps,
    operators.AggOps,
    operators.JoinOps,
    operators.WindowOps,
    operators.SortSetOps,
    operators.TextOps,
    operators.BpeOps,
    operators.VectorOps,
    operators.CurationOps,
    operators.QualityOps,
    operators.AnalyticsOps,
    operators.StatsOps,
    operators.MergeOps,
    operators.LakeOps,
    functions.FnOps,
    streaming.StreamOps
  )

  /** Merge module maps, failing fast on duplicate ids — a silent
    * last-entry-wins merge would make a scoreboard query vanish. */
  private def merged[A](maps: Seq[Map[String, A]], what: String): Map[String, A] = {
    val all = maps.flatten
    val dups = all.groupBy(_._1).filter(_._2.sizeIs > 1).keys
    require(dups.isEmpty, s"duplicate $what ids: ${dups.mkString(", ")}")
    all.toMap
  }

  /** Flagship query (TPC-H Q1 shape) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("agg_hash")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Every id
    * first installs [[plans.TerminalSorts]] into its session, so each
    * terminal sort plans without a sampling job. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    merged(modules.map(_.queries), "query").map { case (id, fn) =>
      id -> { (s: SparkSession, d: String) =>
        plans.TerminalSorts.install(s)
        fn(s, d)
      }
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    merged(modules.map(_.oracles), "oracle")
}
