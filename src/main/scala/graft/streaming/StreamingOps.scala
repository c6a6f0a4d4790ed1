package graft.streaming

import java.util.UUID

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface (SURVEY.md §2.9).
  *
  * The reference consumes Kafka topics with micro-batch polling and a
  * manual "3 empty batches → stop" loop (`relevance_consumer.py:
  * 364-370,388-406,482-495`). The engine expresses the same semantics
  * idiomatically: a streaming source (file-based here — the Kafka
  * connector is a `format("kafka")` config swap on the same API, its
  * jar is not in this environment), `Trigger.AvailableNow` instead of
  * the polling loop (ST3), watermarked event-time aggregation instead
  * of post-hoc DB aggregation (ST6), and `flatMapGroupsWithState` for
  * the cross-batch dedup state (ST5) with bounded per-key state +
  * processing-time timeout instead of an unbounded driver-side seen-set.
  */
object StreamingOps {

  /** Streaming scan of a parquet table path (S1 stand-in: swap
    * `.format("kafka").option("subscribe", ...)` on a cluster). A
    * single-file path works too — `basePath` is pinned to its parent
    * directory (the file source requires a directory basePath).
    */
  /** The events table as a stream with its `ts` column normalized via
    * [[graft.Tables.normalizeTs]] — the streaming mirror of
    * `Tables.events`, tolerant of every physical timestamp encoding the
    * testdata generations have carried (INT64 nanos, TIMESTAMP_NTZ,
    * strings, native TIMESTAMP).
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val raw = parquetStream(spark, path, spark.read.parquet(path).schema)
    graft.Tables.normalizeTs(spark, raw)
  }

  def parquetStream(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    if (!path.endsWith(".parquet")) spark.readStream.schema(schema).parquet(path)
    else {
      // FileStreamSource force-sets basePath to the source path unless it
      // is a glob, and a file basePath is rejected. Turn the file path
      // into an equivalent one-character-class glob so the explicit
      // directory basePath survives.
      // a bare relative filename has no '/' — its base is the cwd
      val slash = path.lastIndexOf('/')
      val base = if (slash >= 0) path.substring(0, slash) else "."
      val glob = path.dropRight(1) + s"[${path.last}]"
      spark.readStream.schema(schema).option("basePath", base).parquet(glob)
    }
  }

  /** Watermarked event-time hourly aggregation of an event stream. */
  def hourlyCounts(events: DataFrame, watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("win.start").as("hour"), col("event_type"), col("n"),
        col("total_value"))

  /** Scoped shuffle-partition override, restored after the body. */
  private def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** State partitions of every bounded drain. A stateful query makes
    * one state store per shuffle partition per stateful operator, and
    * the count is fixed at the query's FIRST start (it is the state
    * layout, recorded in the checkpoint), so it is sized to the drained
    * state volume, not to the session's batch default.
    */
  private val StatePartitions = 8

  /** RocksDB state store class name (bundled with Spark 4), which
    * [[graft.GraftSession.builder]] sets as the session's provider. The
    * default HDFS-backed provider keeps every version of every store IN
    * EXECUTOR HEAP — fine at bench scale, an OOM ceiling at 100 TB
    * drained volume. RocksDB keeps state off-heap and spills to local
    * disk, so state capacity scales with disk, not heap.
    */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The one bounded-drain funnel: with [[StatePartitions]] shuffle
    * partitions for the whole start→stop scope, run
    * `sink(stream.writeStream)` under `Trigger.AvailableNow` to
    * completion, stop it, and return its per-batch progress — the
    * bounded-drain pattern replacing the reference's
    * empty-batch-counting stop loop.
    */
  private def drain(stream: DataFrame)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row])
      : Seq[StreamingQueryProgress] = {
    val spark = stream.sparkSession
    withShufflePartitions(spark, StatePartitions) {
      val q = sink(stream.writeStream).trigger(Trigger.AvailableNow()).start()
      try { q.awaitTermination(); q.recentProgress.toSeq }
      finally q.stop()
    }
  }

  /** Drain a streaming DataFrame through a memory sink and return the
    * materialized result.
    */
  def drainToBatch(stream: DataFrame, outputMode: OutputMode = OutputMode.Append): DataFrame = {
    val name = "drain_" + UUID.randomUUID().toString.replace("-", "")
    drain(stream)(_.format("memory").queryName(name).outputMode(outputMode))
    stream.sparkSession.table(name)
  }

  /** Drain a streaming DataFrame through a real PARQUET FILE SINK
    * (append-mode only — the file sink's contract) and read the
    * committed files back via the sink's `_spark_metadata` log. This
    * is the scale-real certification path: drained rows land in
    * executor-written files, never on the driver, and the exactly-once
    * story is the file sink's atomic metadata commit — unlike the
    * memory sink, whose drained rows live in driver memory under the
    * harness's bounded-drain contract.
    * [[graft.queries.StreamQueries.q_stream_hourly_append]] certifies
    * through this path (same oracle as the memory-sink drain — the
    * sink swap must not change the answer).
    */
  def drainToParquetSink(stream: DataFrame, dir: String): DataFrame =
    drainToParquetSinkWithProgress(stream, dir)._1

  /** [[drainToParquetSink]] that ALSO returns the per-batch progress
    * events — the engine's own accounting (input rows, rows dropped by
    * the watermark late-filter) that
    * [[graft.queries.StreamQueries.q_stream_late_audit]] certifies
    * against a pure-SQL replay of the watermark protocol.
    */
  def drainToParquetSinkWithProgress(stream: DataFrame, dir: String)
      : (DataFrame, Seq[StreamingQueryProgress]) = {
    val progress = drain(stream)(_.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Append))
    (stream.sparkSession.read
      .schema(stream.schema) // zero-row drains still have a readable schema
      .parquet(s"$dir/out"), progress)
  }

  /** Drain a streaming DataFrame through `foreachBatch`, append mode,
    * checkpointed under `checkpointDir`. `fn` gets each micro-batch
    * and its id; an exception from it fails the drain and is rethrown.
    */
  def drainForeachBatch(stream: DataFrame, checkpointDir: String)(
      fn: (DataFrame, Long) => Unit): Unit = {
    drain(stream)(_.outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(fn))
  }

  /** Every [[tempSinkDir]] tree this JVM created, deleted best-effort
    * at JVM exit: sink/fixture dirs are only ever read back within the
    * process that wrote them, so at exit they are garbage — without
    * the hook a bench run leaves ~50 orphaned trees (one per
    * dir-creating query per pass) for the machine's tmpdir lifetime.
    * Trees a memo fill owns ([[graft.ops.Memos.Fill.tempDir]]) also go
    * when the memo clears.
    */
  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private lazy val exitCleanup: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var d = tempDirs.poll()
      while (d != null) {
        try deleteRecursively(d) catch { case _: Throwable => () }
        d = tempDirs.poll()
      }
    }, "graft-temp-sink-cleanup"))
    ()
  }

  /** Fresh working directory for a sink drain under java.io.tmpdir,
    * registered for best-effort deletion at JVM exit. */
  def tempSinkDir(prefix: String): String = {
    exitCleanup
    val d = java.nio.file.Files
      .createTempDirectory(prefix)
      .toAbsolutePath.toString
    tempDirs.add(d)
    d
  }

  /** Recursively delete a [[tempSinkDir]] working tree. Best-effort:
    * a failed delete leaves the orphan but never fails the caller.
    */
  def deleteRecursively(path: String): Unit = {
    def del(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(del)
      f.delete()
      ()
    }
    del(new java.io.File(path))
  }

  /** Replay-idempotent foreachBatch parquet sink: batch N's output
    * lands in its own `batch_<id>` subdirectory with OVERWRITE
    * semantics. foreachBatch is at-least-once — after a crash between
    * the sink write and the checkpoint commit the same micro-batch
    * re-runs — so a blind `mode("append")` duplicates exactly the
    * batch that straddled the failure; the per-batch directory makes
    * the replay replace its own output instead. Read the accumulated
    * result back with [[readBatchDirs]]. (The state-log sibling for
    * aggregate STATE rather than result rows is
    * `graft.ops.MvOps.writeBatchState`.)
    */
  def writeBatchDir(df: DataFrame, outDir: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$outDir/batch_$batchId")

  /** All batches written by [[writeBatchDir]] as one frame. Pass the
    * schema when the first batches can be empty (schema inference
    * fails on a directory of empty files). The `batch_<n>` children
    * are listed and passed explicitly: a glob path makes the reader's
    * streaming-metadata probe log a WARN with a stack trace on every
    * read. With no batch dir the glob stays, and so does the reader's
    * path-not-found error.
    */
  def readBatchDirs(spark: SparkSession, outDir: String,
      schema: Option[StructType] = None): DataFrame = {
    val reader = schema.fold(spark.read)(s => spark.read.schema(s))
    val batches = batchSuffixes(spark, outDir, "batch_").sorted
    if (batches.isEmpty) reader.parquet(s"$outDir/batch_*")
    else reader.parquet(batches.map(n => s"$outDir/batch_$n"): _*)
  }

  /** Largest numeric suffix among `<dir>/<prefix><n>` children — the
    * portable readoff for per-batch state directories.
    */
  def maxBatchSuffix(spark: SparkSession, dir: String, prefix: String): Long = {
    val ids = batchSuffixes(spark, dir, prefix)
    require(ids.nonEmpty, s"no $prefix<n> children under $dir")
    ids.max
  }

  /** Numeric suffixes of the `<dir>/<prefix><n>` children (none when
    * `dir` is missing), via the Hadoop FileSystem API (`java.io.File`
    * listing couples the reader to the local FS; on a cluster the dir
    * is HDFS/object storage).
    */
  private def batchSuffixes(spark: SparkSession, dir: String, prefix: String): Seq[Long] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Nil
    else fs.listStatus(path).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith(prefix) && n.length > prefix.length &&
        n.drop(prefix.length).forall(_.isDigit))
      .map(_.drop(prefix.length).toLong)
  }

  /** Cross-batch streaming exact-dedup state: key = content hash,
    * state = smallest id seen. Emits each hash once, on first sight,
    * with the minimal id within that first batch (deterministic for a
    * single-batch drain; order-dependence across batches is inherent to
    * streaming dedup and documented in SURVEY.md §7.4).
    */
  case class Keyed(hash: String, id: Long)

  def streamingDedupFirstSeen(
      spark: SparkSession, keyed: DataFrame): DataFrame =
    streamingDedupFirstSeenTtl(spark, keyed, ttlMs = 0L)

  /** As [[streamingDedupFirstSeen]] but with BOUNDED per-key state:
    * each hash's state carries a processing-time TTL and is dropped on
    * timeout — the engine-native version of the reference's capped
    * seen-set/trailing caches (`deduplication_consumer.py:107-110,
    * 283-286`, caps 1000/500). After expiry the same content counts as
    * new again — the documented semantics of any TTL'd dedup.
    * `ttlMs <= 0` keeps state forever.
    */
  def streamingDedupFirstSeenTtl(
      spark: SparkSession, keyed: DataFrame, ttlMs: Long): DataFrame = {
    import spark.implicits._
    val timeoutConf =
      if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    keyed.select(col("hash"), col("id").cast("long"))
      .as[Keyed]
      .groupByKey(_.hash)
      .flatMapGroupsWithState[Long, Keyed](OutputMode.Append, timeoutConf)(
        dedupStep(ttlMs))
      .toDF("content_hash", "keep_id")
  }

  /** Per-key state transition for the streaming dedup — factored out so
    * the timeout/first-sight branches are unit-testable without the
    * micro-batch engine.
    */
  private[graft] def dedupStep(ttlMs: Long)(
      hash: String, rows: Iterator[Keyed], state: GroupState[Long]): Iterator[Keyed] =
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else if (state.exists) {
      if (ttlMs > 0) state.setTimeoutDuration(ttlMs) // sliding TTL
      Iterator.empty
    } else {
      val minId = rows.map(_.id).min
      state.update(minId)
      if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
      Iterator.single(Keyed(hash, minId))
    }

  /** Event-time alert THROTTLING (refractory dedup): per key, emit an
    * event only if it is at least `ttlUs` event-time microseconds
    * after the LAST EMITTED event of that key — the rate-limit every
    * alerting pipeline puts in front of a pager (the reference's
    * alert extraction M7 has no such guard; its consumers re-emit
    * every batch). State = last emitted event time per key, expired
    * through `GroupStateTimeout.EventTimeTimeout` when the watermark
    * passes last + ttl — so state is bounded by the watermark, not by
    * key cardinality history.
    *
    * Batch rows of a key are processed in (event time, id) order, so
    * a bounded drain is deterministic and equals the greedy
    * recursive-scan semantics the oracle's RECURSIVE CTE replays.
    * Per-group sort cost is bounded by rows-per-key-per-micro-batch
    * (small in any real trigger interval).
    */
  case class ThrottleRow(
      user_id: Long, event_type: String, event_id: Long,
      ts: java.sql.Timestamp, ts_us: Long)

  def streamingThrottle(
      spark: SparkSession, events: DataFrame, ttlUs: Long,
      watermark: String = "1 hour"): DataFrame = {
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), unix_micros(col("ts")).as("ts_us"))
      .as[ThrottleRow]
      .groupByKey(r => (r.user_id, r.event_type))
      .flatMapGroupsWithState[Long, ThrottleRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        throttleStep(ttlUs))
      .toDF()
  }

  /** Per-key transition, factored out for unit tests. State: last
    * emitted event-time micros. */
  private[graft] def throttleStep(ttlUs: Long)(
      key: (Long, String), rows: Iterator[ThrottleRow],
      state: GroupState[Long]): Iterator[ThrottleRow] =
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val sorted = rows.toIndexedSeq.sortBy(r => (r.ts_us, r.event_id))
      var last = state.getOption.getOrElse(Long.MinValue)
      val out = sorted.filter { r =>
        val emit = last == Long.MinValue || r.ts_us >= last + ttlUs
        if (emit) last = r.ts_us
        emit
      }
      if (last != Long.MinValue) {
        state.update(last)
        // expire once no future event can be throttled against this
        // state: watermark past last + ttl. CEILING to the next ms —
        // floor division would expire state up to ~2 ms early, letting
        // a within-TTL event find no state and re-emit (diverging from
        // the oracle's exact `us >= last + ttl`), and for ttl < 1 ms
        // could equal the current watermark, which throws
        state.setTimeoutTimestamp((last + ttlUs + 999L) / 1000L)
      }
      out.iterator
    }

  /** Stream–stream interval inner join: each `left` row matches
    * `right` rows with the same key whose event time falls in
    * [leftTime - before, leftTime]. Watermarks on BOTH sides bound the
    * join state (rows older than watermark + interval are evicted) —
    * the canonical click-attribution shape, impossible in the
    * reference's per-topic consumer loops without a database detour.
    */
  def intervalJoin(
      left: DataFrame, right: DataFrame,
      leftTimeCol: String, rightTimeCol: String,
      joinKeyLeft: String, joinKeyRight: String,
      before: String, watermark: String,
      joinType: String = "inner"): DataFrame =
    left.withWatermark(leftTimeCol, watermark)
      .join(right.withWatermark(rightTimeCol, watermark),
        expr(s"""$joinKeyLeft = $joinKeyRight AND
                |$rightTimeCol BETWEEN $leftTimeCol - INTERVAL $before
                |               AND $leftTimeCol""".stripMargin),
        joinType)

  /** Per-batch progress capture (ST8, `relevance_consumer.py:388-444`):
    * a StreamingQueryListener accumulating input-row counts — the
    * engine-native replacement for the reference's driver-side
    * foreachBatch counters.
    */
  class ProgressCapture extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val batchRows = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    override def onQueryStarted(event: QueryStartedEvent): Unit = ()
    override def onQueryProgress(event: QueryProgressEvent): Unit = {
      batchRows.add(event.progress.numInputRows)
      ()
    }
    override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
    def totalRows: Long = {
      var s = 0L
      batchRows.forEach(r => s += r)
      s
    }
  }

  /** foreachBatch fan-out (ST2/S6/S7): one pass over each micro-batch,
    * split on a predicate into two JSON sink directories — the
    * reference runs three separate streaming queries re-reading the
    * source for this (`relevance_consumer.py:451-474`); a single
    * foreachBatch halves the source reads.
    */
  def splitSinkQuery(
      stream: DataFrame, predicate: org.apache.spark.sql.Column,
      acceptDir: String, rejectDir: String, checkpointDir: String) = {
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // NULL predicate rejects (see Sinks.splitJson): p/!p alone
        // would drop the row from BOTH sides
        val accept = org.apache.spark.sql.functions.coalesce(
          predicate, org.apache.spark.sql.functions.lit(false))
        val cached = batch.persist()
        cached.filter(accept).write.mode("append").json(acceptDir)
        cached.filter(!accept).write.mode("append").json(rejectDir)
        cached.unpersist()
        ()
      }
      .start()
  }
}
