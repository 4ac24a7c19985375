package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full SURVEY §2 operator inventory, one entry per
  * operator family, grouped by module under graft.queries. `oracleSql`
  * holds DuckDB-equivalent SQL for every deterministic query (identical
  * column names and ORDER BY — the driver hash-compares after sorting
  * columns by name).
  */
object SparkEntry {

  private val groups: Seq[QueryGroup] = Seq(
    RelationalQueries, AnalyticQueries, EventQueries,
    TextQueries, DedupQueries, SimilarityQueries,
    MultimodalQueries, ApproxQueries, ExtraQueries, VariantQueries,
    WebQueries, StatsQueries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    groups.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for approximate (sketch-based) ops.
    */
  def oracleSql: Map[String, String] =
    groups.flatMap(_.oracle).toMap

  /** `queries` by name, filtered by Verify's and Bench's `SPARK_GRAFT_ONLY` value, if set:
    * each query whose name contains one of its comma-separated entries. */
  def selected(only: Option[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val subs = only.map(_.split(",").map(_.trim).filter(_.nonEmpty))
    queries.toSeq.sortBy(_._1).filter { case (name, _) => subs.forall(_.exists(name.contains)) }
  }
}
