package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All engine queries read through here so that scan-level concerns
  * (nanosecond-timestamp normalization, future partition layouts) live
  * in one place. Filters/projections applied by callers are pushed into
  * the parquet scan by Catalyst — at 100 TB the event/lineitem tables
  * would additionally be laid out partitioned-by-date so the same
  * predicates prune partitions.
  */
object Tables {

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Memo of the ANALYZED base relations, keyed on the session and the
    * fixture: `spark.read.parquet` re-lists the path and re-reads the
    * footer schema on every call, which cost ~0.02-0.05 s of driver
    * time per query. The value is a lazy plan over immutable files, so
    * no row is materialized by the memo. No query is named as its
    * consumer: every query reads through it.
    */
  private val relations = new ops.Memos.Memo[(SparkSession, ops.Memos.Fixture), DataFrame]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    relations.get((spark, ops.Memos.fixture(path)))(_ => spark.read.parquet(path))
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Normalize a timestamp column of ANY physical encoding the testdata
    * generations have carried to a plain session-zone TIMESTAMP, with
    * the session zone pinned to UTC so wall-clock is preserved exactly:
    *
    *  - INT64 TIMESTAMP(NANOS): unsupported by the vectorized reader;
    *    with `nanosAsLong` it surfaces as `long` — rescale with integer
    *    `DIV 1000` (double division loses microseconds).
    *  - INT64 TIMESTAMP_MICROS isAdjustedToUTC=0: surfaces as
    *    TIMESTAMP_NTZ — cast is an exact wall-clock reinterpretation
    *    under a UTC session zone.
    *  - ISO-8601 strings (the reference's own wire encoding — it lets
    *    Postgres cast on insert, `psql_db_client.py:290-306`).
    *  - plain TIMESTAMP: already native.
    *
    * Every reader of an event-time column must route through here so the
    * next encoding drift is a one-line fix (or none) instead of a
    * 12-query analysis failure.
    *
    * PURE: validates the session contract ([[GraftSession.requireContract]]
    * — UTC session zone, pinned at session build by every entry point)
    * and throws if it is missing, but never mutates session state.
    */
  def normalizeTs(spark: SparkSession, df: DataFrame, colName: String = "ts"): DataFrame = {
    GraftSession.requireContract(spark)
    df.schema(colName).dataType.typeName match {
      case "long" =>
        df.withColumn(colName, timestamp_micros(expr(s"`$colName` DIV 1000")))
      case "timestamp_ntz" | "string" =>
        df.withColumn(colName, col(colName).cast("timestamp"))
      case "timestamp" => df
      case other =>
        throw new IllegalArgumentException(
          s"unsupported timestamp encoding for column `$colName`: $other")
    }
  }

  /** `events.parquet` with its `ts` column normalized via
    * [[normalizeTs]] so every downstream query sees a plain `timestamp`.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(spark, load(spark, dir, "events"))
}
