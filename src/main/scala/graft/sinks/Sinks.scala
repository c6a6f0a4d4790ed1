package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch sinks (SURVEY.md §2.1 S5–S10).
  *
  * The event table is laid out partitioned by `event_date` — the Spark
  * analogue of the reference's Timescale hypertable chunking
  * (`psql_db_client.py:154-161`): date-range predicates prune
  * partitions at the scan, which is the load-bearing access path at
  * 100 TB.
  */
object Sinks {

  /** MV-freshness hook: every sink that lands
    * bytes at a path must drop any [[graft.plans.MvRewrite]]
    * registration covering that path BEFORE writing — otherwise a write
    * through the engine's own sinks leaves a registered stale rollup
    * silently answering aggregates over the just-changed base. Called
    * pre-write so even a failed half-write cannot be served from the MV.
    */
  private def invalidateMv(path: String): Unit =
    graft.plans.MvRewrite.invalidate(path)

  /** Write the canonical event table partitioned by day (S9 layout). */
  def writeEventTable(events: DataFrame, path: String): Unit = {
    invalidateMv(path)
    events
      .withColumn("event_date", to_date(col("ts")))
      .write
      .partitionBy("event_date")
      .mode("overwrite")
      .parquet(path)
  }

  /** Upsert semantics of the reference's `INSERT ... ON CONFLICT
    * (id, timestamp) DO UPDATE` with keep-last-in-batch
    * (`psql_db_client.py:369-417`): combine existing rows and updates,
    * keep the winner per key by `versionCol` (ties: updates win via the
    * source rank). Returns the merged frame for (re)writing.
    */
  def upsertByKey(
      existing: DataFrame, updates: DataFrame,
      keys: Seq[String], versionCol: String): DataFrame = {
    val tagged = existing.withColumn("_src", lit(0))
      .unionByName(updates.withColumn("_src", lit(1)))
    // final value-hash tiebreak: two update rows with the SAME key and
    // version (an at-least-once replay) would otherwise resolve in
    // shuffle order — different merged tables run to run. Hash only the
    // hashable columns: xxhash64 fails analysis on MapType (and
    // VariantType), so such columns are excluded from the tiebreak
    // rather than failing schemas that the pre-tiebreak version accepted.
    def hashable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => false
      case _: org.apache.spark.sql.types.VariantType => false
      case s: org.apache.spark.sql.types.StructType => s.fields.forall(f => hashable(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hashable(a.elementType)
      case _ => true
    }
    val hashCols = tagged.schema.fields.filter(f => hashable(f.dataType)).map(f => col(f.name))
    val tiebreak = if (hashCols.isEmpty) lit(0L) else xxhash64(struct(hashCols.toIndexedSeq: _*))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(versionCol).desc, col("_src").desc, tiebreak)
    tagged
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_src")
  }

  /** Append-only vector-store semantics (S10, `chromadb_client.py:
    * 87-104`): only ids not already present are added.
    */
  def appendNewIds(existing: DataFrame, incoming: DataFrame, idCol: String): DataFrame =
    incoming.join(existing.select(col(idCol)), Seq(idCol), "left_anti")

  /** Split JSON sink (S7): accepted/rejected rows to two directories.
    * A NULL predicate rejects: `filter(p)` and `filter(!p)` would BOTH
    * drop the row (NOT NULL is NULL) — every input row must land in
    * exactly one side.
    */
  def splitJson(
      df: DataFrame, predicate: org.apache.spark.sql.Column,
      acceptDir: String, rejectDir: String): Unit = {
    invalidateMv(acceptDir)
    invalidateMv(rejectDir)
    val accept = coalesce(predicate, lit(false))
    val cached = df.persist()
    cached.filter(accept).write.mode("overwrite").json(acceptDir)
    cached.filter(!accept).write.mode("overwrite").json(rejectDir)
    cached.unpersist()
    ()
  }

  /** CSV report sink with header (S8). */
  def writeCsv(df: DataFrame, path: String): Unit = {
    invalidateMv(path)
    df.write.option("header", "true").mode("overwrite").csv(path)
  }

  /** Bucketed table write: pre-shuffles data into `nBuckets` by
    * `keys` at write time so later equi-joins/aggregations on those
    * keys run with NO exchange — the co-located-join layout for fact
    * tables that join repeatedly on the same key at 100 TB. Requires a
    * catalog table (bucket metadata lives in the metastore).
    */
  def writeBucketed(
      df: DataFrame, table: String, keys: Seq[String], nBuckets: Int): Unit = {
    // overwriting a catalog table invalidates EVERY MV registration
    // served from it, whichever base dir registered it (a prior SF
    // dir's registration over a table rebuilt with another
    // dir's data is a silent wrong answer)
    graft.plans.MvRewrite.deregisterTable(table)
    df.write
      .bucketBy(nBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .mode("overwrite")
      .saveAsTable(table)
  }

  /** [[writeBucketed]] preceded by a FULL drop of the managed table
    * AND its warehouse directory — the rebuild entry point every
    * bucketed-table builder shares. The directory clear is load-
    * bearing: a managed table's LOCATION from an earlier JVM outlives
    * the in-memory catalog, so after a restart `DROP TABLE IF EXISTS`
    * is a no-op while `spark-warehouse/<table>` still exists and
    * `saveAsTable` fails location validation (LOCATION_ALREADY_EXISTS)
    * even in overwrite mode.
    */
  /** Replace an UNBUCKETED managed catalog table — drop + clear any
    * stale warehouse location first (a leftover directory from a
    * previous JVM fails CTAS with LOCATION_ALREADY_EXISTS even in
    * overwrite mode, because the fresh in-memory catalog has no table
    * to overwrite).
    */
  def replaceTable(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    // see writeBucketed: a rebuilt table must not be served through any
    // surviving registration (including another SF dir's). Deregister
    // BEFORE executing df: were a mapping onto this very table still
    // live, the rebuild aggregate itself would rewrite into a read of
    // the table it is about to overwrite.
    graft.plans.MvRewrite.deregisterTable(table)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.conf.warehousePath, table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.saveAsTable(table)
  }

  def replaceBucketedTable(
      df: DataFrame, table: String, keys: Seq[String], nBuckets: Int): Unit = {
    val spark = df.sparkSession
    graft.plans.MvRewrite.deregisterTable(table)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.conf.warehousePath, table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    writeBucketed(df, table, keys, nBuckets)
  }

  /** Small-file compaction — the table-maintenance operator every
    * streaming/append layout eventually needs (each micro-batch or
    * delta append lands ≥1 file per partition; a year of 1-minute
    * batches is ~500k files whose open/footer costs dominate scans
    * long before data volume does). Rewrites `srcPath` into
    * `destPath` with ~`targetBytes` per output file, sized from the
    * MEASURED input bytes rather than a guessed file count, preserving
    * every row (spec-certified count + checksum). Two-phase
    * (write-new-then-swap stays with the caller/metastore) because an
    * in-place rewrite that fails mid-job loses data.
    */
  def compactParquet(
      spark: org.apache.spark.sql.SparkSession,
      srcPath: String, destPath: String,
      targetBytes: Long = 128L << 20): Unit = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val src = new org.apache.hadoop.fs.Path(srcPath)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(src).getLength
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    invalidateMv(destPath)
    spark.read.parquet(srcPath)
      // repartition (round-robin), not coalesce: coalesce glues input
      // splits task-locally and inherits their skew — compaction's
      // whole point is evenly-sized output files
      .repartition(nFiles)
      .write.mode("overwrite").parquet(destPath)
  }

  /** Materialized-aggregate-view parity (`psql_db_client.py:194-222`,
    * refresh `:451-459`): a precomputed daily summary table a batch
    * job overwrites on refresh; dashboards read the parquet instead of
    * re-aggregating the fact table.
    */
  def refreshDailySummary(events: DataFrame, path: String): Unit = {
    invalidateMv(path)
    events
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("value")), 4).as("avg_value"))
      .write.mode("overwrite").parquet(path)
  }
}
