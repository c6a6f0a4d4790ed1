package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine query: a Spark implementation plus an equivalent
  * DuckDB oracle SQL over the same parquet tables. Every registered
  * query carries its oracle, so every one is oracle-checked.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: String)

object QueryDef {
  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    new QueryDef(name, fn, oracle)
}
