package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * Queries are contributed by the per-domain modules under
  * `graft.queries`; each [[QueryDef]] pairs the Spark implementation
  * with its DuckDB oracle SQL.
  */
object SparkEntry {

  private def modules: Seq[QueryDef] =
    queries_.Registry.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    _root_.graft.queries.Events.q_anomaly_zscore.fn(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  def oracleSql: Map[String, String] =
    modules.map(q => q.name -> q.oracle).toMap
}

package queries_ {
  /** Central registry of all query modules. Kept in a sub-package object
    * to avoid a name clash with `SparkEntry.queries`.
    */
  object Registry {
    def all: Seq[graft.QueryDef] = {
      val defs = graft.queries.Relational.all ++ graft.queries.Events.all ++
        graft.queries.EventsMore.all ++ graft.queries.TextQueries.all ++
        graft.queries.DedupQueries.all ++ graft.queries.VectorQueries.all ++
        graft.queries.ForecastQueries.all ++ graft.queries.ClusterQueries.all ++
        graft.queries.StreamQueries.all ++ graft.queries.MultimodalQueries.all ++
        graft.queries.RelevanceQueries.all ++ graft.queries.CurationQueries.all ++
        graft.queries.ScaleQueries.all ++ graft.queries.GraphQueries.all ++
        graft.queries.DqQueries.all ++ graft.queries.FormatQueries.all
      require(defs.map(_.name).distinct.size == defs.size,
        "duplicate query names: " +
          defs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }.mkString(","))
      defs
    }
  }
}
