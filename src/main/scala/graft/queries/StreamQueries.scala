package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.Memos
import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming-path queries (SURVEY.md §2.9), runnable inside the batch
  * Verify/Bench harness by draining with `Trigger.AvailableNow` into a
  * memory sink — the same code ships against a Kafka source with a
  * format swap. Results are oracle-checked against plain SQL over the
  * same data, proving the streaming and batch paths agree.
  */
object StreamQueries {

  /** Watermarked streaming hourly aggregation ≡ batch hourly counts.
    * Complete output mode so the final (un-closed) windows are emitted
    * in the bounded drain.
    */
  val q_stream_hourly = QueryDef(
    "q_stream_hourly",
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
      |  COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin) { (spark, dir) =>
    val stream = StreamingOps.eventsStream(spark, dir)
    val agg = StreamingOps.hourlyCounts(stream)
    StreamingOps.drainToBatch(agg, OutputMode.Complete())
      .select(col("hour"), col("event_type"), col("n"),
        round(col("total_value"), 2).as("total_value"))
      .orderBy(col("hour"), col("event_type"))
  }

  /** Append-mode + watermark-close variant of the hourly aggregation —
    * the UNBOUNDED-stream shape (Complete mode re-emits the whole
    * result every batch; append emits each window exactly once, when
    * the watermark passes its end). In the AvailableNow drain the
    * watermark settles at max(ts) - 1 hour, so exactly the windows
    * whose end precedes that instant are emitted — which is what the
    * oracle computes from the batch table.
    *
    * This query certifies through the PARQUET FILE SINK
    * ([[StreamingOps.drainToParquetSink]]) rather than the memory
    * sink: emitted windows are committed to executor-written files
    * (with the sink's atomic `_spark_metadata` exactly-once log) and
    * read back — the 100 TB sink path, proven on the certified result,
    * not just in a plumbing spec.
    */
  val q_stream_hourly_append = QueryDef(
    "q_stream_hourly_append",
    """WITH mx AS (
      |  SELECT make_timestamp(
      |    (epoch_us(MAX(CAST(ts AS TIMESTAMP))) // 1000) * 1000) AS wm_base
      |  FROM events)
      |SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
      |  COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
      |FROM events, mx
      |WHERE date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR
      |      <= wm_base - INTERVAL 1 HOUR
      |GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin) { (spark, dir) =>
    val stream = StreamingOps.eventsStream(spark, dir)
    val agg = StreamingOps.hourlyCounts(stream, watermark = "1 hour")
    StreamingOps.drainToParquetSink(
      agg, StreamingOps.tempSinkDir("graft_hourly_append_"))
      .select(col("hour"), col("event_type"), col("n"),
        round(col("total_value"), 2).as("total_value"))
      .orderBy(col("hour"), col("event_type"))
  }

  /** Cross-batch stateful streaming dedup (ST5) ≡ batch exact dedup. */
  val q_stream_dedup = QueryDef(
    "q_stream_dedup",
    """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id
      |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin) { (spark, dir) =>
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val stream = StreamingOps.parquetStream(spark, s"$dir/documents.parquet", schema)
      .select(md5(col("text")).as("hash"), col("doc_id").as("id"))
    StreamingOps.drainToBatch(StreamingOps.streamingDedupFirstSeen(spark, stream))
      .orderBy(col("keep_id"))
  }

  /** Stream–static enrichment join — the canonical streaming-enrich
    * shape (events stream joined to a static dimension table, then
    * aggregated). The static side is a plain batch DataFrame: Spark
    * plans the join STATELESS (no watermark, no state store; at scale
    * the dim side broadcasts), which is exactly why this shape is the
    * first choice over stream–stream joins when one side is slowly
    * changing. Certified: drained result ≡ the batch join+agg oracle.
    */
  val q_stream_enrich = QueryDef(
    "q_stream_enrich",
    """SELECT c.c_mktsegment AS segment, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |    AS value_cents
      |FROM events e JOIN customer c ON c.c_custkey = e.user_id
      |GROUP BY 1 ORDER BY segment""".stripMargin) { (spark, dir) =>
    val stream = StreamingOps.eventsStream(spark, dir)
    val dim = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val enriched = stream
      .join(dim, col("c_custkey") === col("user_id"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("value_cents"))
    StreamingOps.drainToBatch(enriched, OutputMode.Complete())
      .select(col("segment"), col("n"), col("value_cents"))
      .orderBy(col("segment"))
  }

  /** Stream–stream interval join (click attribution): purchases joined
    * with same-user clicks from the preceding 30 minutes, both sides
    * watermarked. AvailableNow drains every match (inner-join rows emit
    * on match, not on watermark close), so the batch interval join is
    * the exact oracle.
    */
  val q_stream_join = QueryDef(
    "q_stream_join",
    """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
      |FROM events c JOIN events p ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND CAST(c.ts AS TIMESTAMP)
      |     BETWEEN CAST(p.ts AS TIMESTAMP) - INTERVAL 30 MINUTE
      |         AND CAST(p.ts AS TIMESTAMP)
      |ORDER BY click_id, purchase_id""".stripMargin) { (spark, dir) =>
    val stream = StreamingOps.eventsStream(spark, dir)
    val clicks = stream.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
    val purchases = stream.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    val joined = StreamingOps.intervalJoin(
      purchases, clicks, "purchase_ts", "click_ts",
      "user_id", "c_user", before = "30 MINUTES", watermark = "1 hour")
    StreamingOps.drainToBatch(joined, OutputMode.Append())
      .select(col("click_id"), col("purchase_id"), col("user_id"))
      .orderBy(col("click_id"), col("purchase_id"))
  }

  /** LEFT-OUTER stream–stream interval join: every purchase emits —
    * matched rows on match (as the inner join), and purchases with NO
    * same-user click in the preceding 30 minutes emit a null-click row
    * once the watermark proves no matching click can still arrive
    * (left time < watermark). PROBED, not assumed (PERF.md, cross-engine
    * float determinism, outer-join emission boundary):
    * each `withWatermark` sits on an already-FILTERED branch, so its
    * node only sees its own event subset and the global watermark is
    * min(max click ts, max purchase ts, ms-floored) - 1h — a branch
    * with no recent events holds back every outer emission, the real
    * production caveat of per-branch watermarks. The AvailableNow
    * drain's trailing no-data micro-batch performs the final state
    * eviction at exactly that watermark (no extra join-interval
    * delay on the purchase side: a purchase's last matchable click
    * arrives at its own event time).
    * Null click_id is surfaced as -1: a sentinel both engines ORDER BY
    * identically (Spark sorts nulls first, DuckDB last — a raw NULL
    * would be a false hash mismatch on identical results).
    */
  val q_stream_join_outer = QueryDef(
    "q_stream_join_outer",
    """WITH wm AS (
      |  SELECT make_timestamp((LEAST(
      |      epoch_us(MAX(CASE WHEN event_type = 'click'
      |        THEN CAST(ts AS TIMESTAMP) END)),
      |      epoch_us(MAX(CASE WHEN event_type = 'purchase'
      |        THEN CAST(ts AS TIMESTAMP) END))) // 1000) * 1000)
      |    - INTERVAL 1 HOUR AS w
      |  FROM events),
      |clicks AS (
      |  SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS cts
      |  FROM events WHERE event_type = 'click'),
      |purch AS (
      |  SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS pts
      |  FROM events WHERE event_type = 'purchase')
      |SELECT c.click_id, p.purchase_id, p.user_id
      |FROM purch p JOIN clicks c ON c.user_id = p.user_id
      |  AND c.cts BETWEEN p.pts - INTERVAL 30 MINUTE AND p.pts
      |UNION ALL
      |SELECT -1 AS click_id, p.purchase_id, p.user_id
      |FROM purch p, wm
      |WHERE p.pts < wm.w AND NOT EXISTS (
      |  SELECT 1 FROM clicks c WHERE c.user_id = p.user_id
      |    AND c.cts BETWEEN p.pts - INTERVAL 30 MINUTE AND p.pts)
      |ORDER BY purchase_id, click_id""".stripMargin) { (spark, dir) =>
    val stream = StreamingOps.eventsStream(spark, dir)
    val clicks = stream.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
    val purchases = stream.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    val joined = StreamingOps.intervalJoin(
      purchases, clicks, "purchase_ts", "click_ts",
      "user_id", "c_user", before = "30 MINUTES", watermark = "1 hour",
      joinType = "leftOuter")
    StreamingOps.drainToBatch(joined, OutputMode.Append())
      .select(coalesce(col("click_id"), lit(-1L)).as("click_id"),
        col("purchase_id"), col("user_id"))
      .orderBy(col("purchase_id"), col("click_id"))
  }

  /** FULL-OUTER stream–stream interval join — both unmatched sides
    * emit: purchases with no click in their preceding 30 minutes
    * (evictable at `pts < wm`, as the left-outer query), and clicks
    * followed by no purchase within 30 minutes — whose state lives
    * 30 minutes LONGER: a click can still match a future purchase
    * until `cts + 30min` passes the watermark, so its null row emits
    * only when `cts < wm - 30min`. The two sides' different eviction
    * horizons are exactly the join-interval asymmetry, and the oracle
    * encodes both.
    */
  val q_stream_join_full = QueryDef(
    "q_stream_join_full",
    """WITH wm AS (
      |  SELECT make_timestamp((LEAST(
      |      epoch_us(MAX(CASE WHEN event_type = 'click'
      |        THEN CAST(ts AS TIMESTAMP) END)),
      |      epoch_us(MAX(CASE WHEN event_type = 'purchase'
      |        THEN CAST(ts AS TIMESTAMP) END))) // 1000) * 1000)
      |    - INTERVAL 1 HOUR AS w
      |  FROM events),
      |clicks AS (
      |  SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS cts
      |  FROM events WHERE event_type = 'click'),
      |purch AS (
      |  SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS pts
      |  FROM events WHERE event_type = 'purchase')
      |SELECT c.click_id, p.purchase_id, p.user_id
      |FROM purch p JOIN clicks c ON c.user_id = p.user_id
      |  AND c.cts BETWEEN p.pts - INTERVAL 30 MINUTE AND p.pts
      |UNION ALL
      |SELECT -1 AS click_id, p.purchase_id, p.user_id
      |FROM purch p, wm
      |WHERE p.pts < wm.w AND NOT EXISTS (
      |  SELECT 1 FROM clicks c WHERE c.user_id = p.user_id
      |    AND c.cts BETWEEN p.pts - INTERVAL 30 MINUTE AND p.pts)
      |UNION ALL
      |SELECT c.click_id, -1 AS purchase_id, c.user_id
      |FROM clicks c, wm
      |WHERE c.cts < wm.w - INTERVAL 30 MINUTE AND NOT EXISTS (
      |  SELECT 1 FROM purch p WHERE p.user_id = c.user_id
      |    AND c.cts BETWEEN p.pts - INTERVAL 30 MINUTE AND p.pts)
      |ORDER BY purchase_id, click_id""".stripMargin) { (spark, dir) =>
    val stream = StreamingOps.eventsStream(spark, dir)
    val clicks = stream.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
    val purchases = stream.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    val joined = StreamingOps.intervalJoin(
      purchases, clicks, "purchase_ts", "click_ts",
      "user_id", "c_user", before = "30 MINUTES", watermark = "1 hour",
      joinType = "fullOuter")
    StreamingOps.drainToBatch(joined, OutputMode.Append())
      .select(coalesce(col("click_id"), lit(-1L)).as("click_id"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        coalesce(col("user_id"), col("c_user")).as("user_id"))
      .orderBy(col("purchase_id"), col("click_id"))
  }

  /** Event-time alert throttling (refractory dedup): per
    * (user, event_type), emit only events >= 6 event-time hours after
    * the last EMITTED one — greedy, order-sensitive semantics that no
    * plain window expresses (each emission resets the clock), so the
    * oracle replays it with a RECURSIVE CTE stepping the per-key
    * event sequence. Engine side: flatMapGroupsWithState with
    * EventTimeTimeout — the state expires by watermark, the
    * processing-time-TTL sibling of q_stream_dedup completed with the
    * event-time variant.
    */
  val q_stream_throttle = QueryDef(
    "q_stream_throttle",
    """WITH RECURSIVE ranked AS (
      |  SELECT user_id, event_type, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS rn
      |  FROM events),
      |rec AS (
      |  SELECT user_id, event_type, event_id, us, rn, us AS last_emit,
      |    TRUE AS emitted
      |  FROM ranked WHERE rn = 1
      |  UNION ALL
      |  SELECT x.user_id, x.event_type, x.event_id, x.us, x.rn,
      |    CASE WHEN x.us >= r.last_emit + 21600000000 THEN x.us
      |         ELSE r.last_emit END,
      |    x.us >= r.last_emit + 21600000000
      |  FROM ranked x JOIN rec r ON x.user_id = r.user_id
      |    AND x.event_type = r.event_type AND x.rn = r.rn + 1)
      |SELECT user_id, event_type, event_id, us AS ts_us
      |FROM rec WHERE emitted
      |ORDER BY user_id, event_type, ts_us, event_id""".stripMargin) { (spark, dir) =>
    val stream = StreamingOps.eventsStream(spark, dir)
    val throttled = StreamingOps.streamingThrottle(
      spark, stream, ttlUs = 6L * 3600 * 1000000)
    StreamingOps.drainToBatch(throttled, OutputMode.Append())
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts_us"))
      .orderBy(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
  }

  /** Native streaming sessionization: `session_window` with a
    * 30-minute gap per user, append mode — sessions emit when the
    * watermark passes their end (last event + gap). Oracle: the batch
    * gap-sessionization (new session when gap >= 30 min — session
    * windows are half-open, an exact-gap event starts a new one)
    * filtered to sessions closed at the final watermark
    * (ms-floored max event time - 1 hour).
    */
  val q_stream_sessions = QueryDef(
    "q_stream_sessions",
    """WITH ev AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
      |  FROM events),
      |marked AS (
      |  SELECT user_id, us,
      |    CASE WHEN LAG(us) OVER w IS NULL
      |           OR us - LAG(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |sess AS (
      |  SELECT user_id, us,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM marked),
      |agg AS (
      |  SELECT user_id, MIN(us) AS session_start_us,
      |    MAX(us) + 1800000000 AS session_end_us, COUNT(*) AS n_events
      |  FROM sess GROUP BY user_id, sid),
      |wm AS (
      |  SELECT (MAX(epoch_us(CAST(ts AS TIMESTAMP))) // 1000) * 1000
      |         - 3600000000 AS wm_us
      |  FROM events)
      |SELECT user_id, session_start_us, session_end_us, n_events
      |FROM agg, wm WHERE session_end_us <= wm_us
      |ORDER BY user_id, session_start_us""".stripMargin) { (spark, dir) =>
    val stream = StreamingOps.eventsStream(spark, dir)
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    StreamingOps.drainToBatch(agg, OutputMode.Append())
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("session_start_us"),
        unix_micros(col("sw.end")).as("session_end_us"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start_us"))
  }

  /** Streaming quantile sketch: the mergeable log-lattice bins
    * ([[graft.ops.SketchOps.quantileSketchBins]]) accumulate as stateful streaming
    * counts across micro-batches; the drained final state feeds the
    * same batch read-off. Result ≡ batch q_quantile_sketch (same
    * oracle) — certifying that the sketch
    * MERGES: partials from any batch split add up to the same lattice,
    * which is the property that lets 1000 executors each keep a
    * constant-size sketch at 100 TB.
    */
  val q_stream_quantile = QueryDef(
    "q_stream_quantile",
    graft.ops.SketchOps.quantileSketchOracleSql) { (spark, dir) =>
    val stream = StreamingOps.eventsStream(spark, dir)
      .select(col("event_type"), col("value"))
    val bins = graft.ops.SketchOps.quantileSketchBins(stream)
    val drained = StreamingOps.drainToBatch(bins, OutputMode.Complete())
    graft.ops.SketchOps.quantileSketchRead(spark, drained)
  }

  /** Streaming HLL: the per-(group, register) max-rank table runs as
    * a stateful streaming max across micro-batches (max is idempotent
    * + commutative — the HLL merge operation IS register-wise max),
    * drains, and feeds the same batch read-off and exact-count join.
    * Certified against q_hll_distinct's own oracle: the sketch built
    * from any micro-batch cut of the stream equals the sketch built
    * in one pass.
    */
  val q_stream_hll = QueryDef(
    "q_stream_hll",
    graft.ops.SketchOps.hllDistinctOracleSql("events", "event_type", "event_id")) {
    (spark, dir) =>
      val regs = graft.ops.SketchOps.hllRegisters(
        StreamingOps.eventsStream(spark, dir), "event_type", "event_id")
      val drained = StreamingOps.drainToBatch(regs, OutputMode.Complete())
      val exact = Tables.events(spark, dir)
        .groupBy(col("event_type").as("grp"))
        .agg(count_distinct(col("event_id")).as("n_exact"))
      graft.ops.SketchOps.hllEstimate(drained, exact, "event_type")
        .orderBy(col("event_type"))
  }

  /** Streaming count-min sketch: the d×w counter table accumulates as
    * stateful streaming counts over the tokenized document stream,
    * drains, and the batch read-back probes the exact top-20 words
    * against it — q_cms_topwords' oracle, unchanged. Integer counter
    * sums are the CMS merge operation, so this is the sketch's
    * mergeability certificate.
    */
  val q_stream_cms = QueryDef(
    "q_stream_cms",
    graft.ops.SketchOps.cmsTopWordsOracleSql(20)) { (spark, dir) =>
    val path = s"$dir/documents.parquet"
    val docsStream = StreamingOps.parquetStream(
      spark, path, spark.read.parquet(path).schema)
    val hashStream = docsStream.select(
      explode(graft.ops.TextOps.wordHashes(col("text"))).as("wh"))
    val sketch = graft.ops.SketchOps.cmsSketchFromHashes(hashStream)
    val drained = StreamingOps.drainToBatch(sketch, OutputMode.Complete())
    val wordsBatch = Tables.documents(spark, dir)
      .select(explode(graft.ops.TextOps.words(col("text"))).as("w"))
    graft.ops.SketchOps.cmsReadback(drained, wordsBatch, 20)
      .orderBy(col("n_exact").desc, col("w"))
  }

  /** Streaming incremental dedup — the crawl-ingest shape end to end:
    * NEW documents arrive as micro-batches and are probed against a
    * STATIC LSH index ([[graft.ops.DedupOps.buildIncrementalIndex]])
    * built once from the historical corpus; each batch's matches
    * append to a parquet sink (foreachBatch — the per-batch probe is
    * a full batch plan: band-bucket join, shingle-intersection
    * verification, best-match window, which no single streaming plan
    * expresses). Per-new-doc results are independent of the batch
    * cut — exactly why the batch q_incremental_dedup oracle certifies
    * the streamed union unchanged. At 100 TB the index artifacts are
    * the persisted daily state; each day's crawl is one probe.
    */
  val q_stream_incremental_dedup = QueryDef(
    "q_stream_incremental_dedup",
    graft.ops.DedupOps.incrementalOracleSql("doc_id % 5 = 4", 0.8)) { (spark, dir) =>
    import graft.ops.DedupOps
    val docs = Tables.documents(spark, dir)
    val index = DedupOps.buildIncrementalIndex(
      docs.filter(col("doc_id") % 5 =!= 4), "doc_id", "text")
    val outSchema = DedupOps.probeIncremental(
      index, docs.limit(0), "doc_id", "text", 0.8).schema
    val path = s"$dir/documents.parquet"
    val stream = StreamingOps.parquetStream(
      spark, path, spark.read.parquet(path).schema)
      .filter(col("doc_id") % 5 === 4)
    val work = StreamingOps.tempSinkDir("graft_inc_dedup_")
    StreamingOps.drainForeachBatch(stream, s"$work/ckpt") { (batch, id) =>
      StreamingOps.writeBatchDir(
        DedupOps.probeIncremental(index, batch, "doc_id", "text", 0.8),
        s"$work/out", id)
    }
    StreamingOps.readBatchDirs(spark, s"$work/out", Some(outSchema))
      .orderBy(col("new_id"))
  }

  /** HOPPING (sliding) event-time windows — the overlapping-window
    * kind the tumbling q_stream_hourly doesn't cover: 2-hour windows
    * sliding every hour, so each event contributes to exactly two
    * windows. The oracle replays the window assignment arithmetic
    * (starts = floor_hour(ts) − {0,1} hours) and re-aggregates in SQL.
    * Complete-mode bounded drain, same posture as q_stream_hourly;
    * state is windows×types-bounded, independent of event volume.
    */
  val q_stream_hopping = QueryDef(
    "q_stream_hopping",
    """SELECT win_start, event_type, COUNT(*) AS n,
      |  ROUND(SUM(value), 2) AS total_value
      |FROM (
      |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)
      |      - o * INTERVAL 1 HOUR AS win_start,
      |    event_type, value
      |  FROM events CROSS JOIN UNNEST([0, 1]) t(o))
      |GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin) { (spark, dir) =>
    val stream = StreamingOps.eventsStream(spark, dir)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("win"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("win.start").as("win_start"), col("event_type"),
        col("n"), round(col("total_value"), 2).as("total_value"))
    StreamingOps.drainToBatch(stream, OutputMode.Complete())
      .orderBy(col("win_start"), col("event_type"))
  }

  /** STREAMING bounded-heap top-k: the custom TopKRows aggregate runs
    * as the stateful streaming aggregation — its per-group ≤k-row heap
    * buffer serializes into the state store each micro-batch and
    * MERGES with the next batch's partials, so a green run is the
    * heap's cross-batch mergeability certificate (the TopKRows
    * analogue of q_stream_hll / q_stream_cms). Top-20 highest-value
    * events per type, certified against the plain window-rank oracle.
    * State is k·types-bounded regardless of stream volume — the
    * streaming leaderboard shape at any scale.
    */
  val q_stream_topk = QueryDef(
    "q_stream_topk",
    """SELECT event_type, rank, event_id, ROUND(value, 2) AS value FROM (
      |  SELECT event_type, event_id, value,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY value DESC, event_id) AS rank
      |  FROM events) t WHERE rank <= 20
      |ORDER BY event_type, rank""".stripMargin) { (spark, dir) =>
    val heap = StreamingOps.eventsStream(spark, dir)
      .groupBy(col("event_type"))
      .agg(graft.functions.TopKRows.topK(
        struct((-col("value")).as("nv"), col("event_id").as("event_id")), 20)
        .as("top"))
    StreamingOps.drainToBatch(heap, OutputMode.Complete())
      .select(col("event_type"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("event_type"), (col("pos") + 1).cast("long").as("rank"),
        col("t.event_id").as("event_id"), round(-col("t.nv"), 2).as("value"))
      .orderBy(col("event_type"), col("rank"))
  }

  /** STREAMING CDC apply: the event changelog arrives in micro-batches
    * and a keyed parquet state (user → last op) is MERGE-maintained in
    * foreachBatch — upserts replace, `error` tombstones shadow, and
    * the winner per key is the (us, event_id)-argmax over state ∪
    * batch, which is ASSOCIATIVE — so the final state is independent
    * of where the stream cuts batches. That batch-cut invariance is
    * exactly what the batch oracle (last op per user over the whole
    * log, tombstones filtered at readout) certifies. State versions
    * by batch id (read vN-1, write vN) — never read-and-overwrite the
    * same files; at 100 TB this is the compacted-upsert table shape
    * (Hudi/Delta MERGE) with the state bucketed by key. The previous
    * version is discovered from the FILESYSTEM, not a driver variable:
    * after a checkpoint restart (fresh driver, batch ids continue) the
    * listing still finds the pre-restart state, and a replayed batch
    * reads `max(version) < id` — never its own possibly-half-written
    * attempt — then overwrites it (idempotent because the per-key
    * argmax over state ∪ batch is associative and absorbs re-applied
    * rows).
    */
  val q_stream_cdc = QueryDef(
    "q_stream_cdc",
    """WITH ev AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
      |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |last AS (
      |  SELECT user_id, us, op, cents, ROW_NUMBER() OVER (
      |    PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
      |  FROM ev)
      |SELECT user_id, cents AS value_cents, us AS last_us
      |FROM last WHERE rn = 1 AND op = 'U'
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    val work = StreamingOps.tempSinkDir("graft_stream_cdc_")
    val stateCols = Seq("user_id", "us", "event_id", "op", "cents")
    val stream = StreamingOps.eventsStream(spark, dir).select(
      col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"),
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    // versioned state: read v(n-1), write v(n); versions discovered
    // from the filesystem (restart- and replay-safe, see scaladoc)
    val StateName = "state_(\\d+)".r
    def versions(): Seq[Long] = {
      val p = new org.apache.hadoop.fs.Path(work)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath.getName).collect {
        case StateName(n) => n.toLong
      }
    }
    StreamingOps.drainForeachBatch(stream, s"$work/ckpt") { (batch, id) =>
      val prev = versions().filter(_ < id).sorted.lastOption
      val incoming = prev match {
        case None => batch
        case Some(v) =>
          batch.unionByName(spark.read.parquet(s"$work/state_$v"))
      }
      // (us, event_id)-argmax per key: associative, so state ∪
      // batch compaction equals whole-log compaction
      incoming
        .groupBy(col("user_id"))
        .agg(max_by(struct(stateCols.map(col): _*),
          struct(col("us"), col("event_id"))).as("w"))
        .select(col("w.*"))
        .write.mode("overwrite").parquet(s"$work/state_$id")
    }
    spark.read.parquet(s"$work/state_${versions().max}")
      .filter(col("op") === "U")
      .select(col("user_id"), col("cents").as("value_cents"),
        col("us").as("last_us"))
      .orderBy(col("user_id"))
  }

  /** STREAMING as-of enrichment through the NATIVE custom operator
    * ([[graft.ops.JoinOps.asofJoinNative]] inside foreachBatch):
    * purchases arrive in micro-batches and each batch as-of joins the
    * STATIC click index — per-left-row results are independent of the
    * batch cut (each purchase's match depends only on the static
    * right side), which is exactly why the batch oracle (the same
    * DuckDB native ASOF JOIN that certifies q_asof_join/q_asof_native)
    * certifies the streamed union unchanged. This is the feature-store
    * point-in-time-correct enrichment shape: events stream in, each
    * picks the latest feature row at-or-before its timestamp.
    */
  val q_stream_asof = QueryDef(
    "q_stream_asof",
    """WITH clicks AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS click_us,
      |    MAX(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |purchases AS (
      |  SELECT event_id AS purchase_id, user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS purchase_us
      |  FROM events WHERE event_type = 'purchase')
      |SELECT p.purchase_id, p.user_id, p.purchase_us,
      |  c.click_id AS last_click_id
      |FROM purchases p ASOF LEFT JOIN clicks c
      |  ON p.user_id = c.user_id AND p.purchase_us >= c.click_us
      |ORDER BY purchase_id""".stripMargin) { (spark, dir) =>
    import graft.ops.JoinOps
    val clicks = Tables.events(spark, dir)
      .filter(col("event_type") === "click")
      .withColumn("us", unix_micros(col("ts")))
      .groupBy(col("user_id"), col("us").as("click_us"))
      .agg(max(col("event_id")).as("click_id"))
    val work = StreamingOps.tempSinkDir("graft_stream_asof_")
    val stream = StreamingOps.eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_micros(col("ts")).as("purchase_us"))
    StreamingOps.drainForeachBatch(stream, s"$work/ckpt") { (batch, id) =>
      StreamingOps.writeBatchDir(
        JoinOps.asofJoinNative(batch, clicks,
          keyCol = "user_id", leftTsCol = "purchase_us",
          rightTsCol = "click_us", rightValCols = Seq("click_id"))
          .select(col("purchase_id"), col("user_id"), col("purchase_us"),
            col("click_id").as("last_click_id")),
        s"$work/out", id)
    }
    StreamingOps.readBatchDirs(spark, s"$work/out").orderBy(col("purchase_id"))
  }

  /** STREAMING retrieval probe over the Hamming-sketch ANN index
    * ([[graft.ops.SimilarityOps.sketchTopK]] inside foreachBatch):
    * query embeddings arrive in micro-batches and each batch searches
    * the STATIC corpus index. Per-query results depend only on the
    * corpus, never on co-batched queries, so the streamed union is
    * batch-cut invariant and the SAME DuckDB oracle that certifies
    * q_ann_sketch (literal hyperplane table → signs → Hamming radius →
    * exact rerank) certifies the stream. This is the online-serving
    * shape of the ANN path: the index is materialized once, queries
    * flow through it continuously.
    */
  val q_stream_ann = QueryDef(
    "q_stream_ann",
    graft.queries.VectorQueries.q_ann_sketch.oracle) { (spark, dir) =>
    import graft.ops.SimilarityOps
    val emb = Tables.embeddings(spark, dir)
    val corpus = emb.filter(col("vec_id") >= 50)
    val work = StreamingOps.tempSinkDir("graft_stream_ann_")
    val stream = StreamingOps
      .parquetStream(spark, s"$dir/embeddings.parquet", emb.schema)
      .filter(col("vec_id") < 50)
    StreamingOps.drainForeachBatch(stream, s"$work/ckpt") { (batch, id) =>
      StreamingOps.writeBatchDir(
        SimilarityOps.sketchTopK(batch, corpus, "vec_id", "embedding", 10,
          bits = 256, dim = 64, maxHamming = 115),
        s"$work/out", id)
    }
    StreamingOps.readBatchDirs(spark, s"$work/out")
      .orderBy(col("query_id"), col("rank"))
  }

  /** STREAMING serve over the WIDE multi-probe index — the online path
    * matched to the batch frontier: where [[q_stream_ann]] probes the
    * 256-bit Hamming-sketch index, this serves each query micro-batch
    * through the full-strength wide kernel
    * ([[graft.ops.SimilarityOps.lshKnn]] at `VectorQueries.MpwLsh`: 10×8
    * wide banding, 2 probes/band query-side, occupancy-capped corpus
    * buckets — the capped bucket table IS the stored index and never grows
    * with probes). Per-query results depend only on the static corpus,
    * never on co-batched queries, so the streamed union is batch-cut
    * invariant and the SAME oracle that certifies the batch serve
    * (q_ann_mpw) certifies the stream.
    */
  val q_stream_ann_wide = QueryDef(
    "q_stream_ann_wide",
    graft.queries.VectorQueries.q_ann_mpw.oracle) { (spark, dir) =>
    import graft.ops.SimilarityOps
    val emb = Tables.embeddings(spark, dir)
    val corpus = emb.filter(col("vec_id") >= 50)
    val work = StreamingOps.tempSinkDir("graft_stream_ann_wide_")
    val stream = StreamingOps
      .parquetStream(spark, s"$dir/embeddings.parquet", emb.schema)
      .filter(col("vec_id") < 50)
    StreamingOps.drainForeachBatch(stream, s"$work/ckpt") { (batch, id) =>
      StreamingOps.writeBatchDir(
        SimilarityOps.roundCos(SimilarityOps.lshKnn(
          batch, corpus, "vec_id", "embedding", 10, VectorQueries.MpwLsh)),
        s"$work/out", id)
    }
    StreamingOps.readBatchDirs(spark, s"$work/out")
      .orderBy(col("query_id"), col("rank"))
  }

  /** STREAMING index maintenance — the ingest side of the persisted
    * sketch index ([[graft.ops.SimilarityOps.appendSketchIndex]] inside
    * foreachBatch): corpus vectors arrive in micro-batches, each batch
    * is sketched ALONE (O(batch) work) and appended into the bucketed
    * index table; after the bounded drain, searching the accumulated
    * index must equal the full-rebuild search — the SAME DuckDB oracle
    * as q_ann_sketch. Together with q_ann_index_delta this certifies
    * both halves of index upkeep: batch deltas and continuous ingest.
    *
    * Replay semantics: a bucketed-table append cannot overwrite
    * per-batch, so the batch is first id-anti-joined against the
    * table (the `Sinks.appendNewIds` skip-existing contract, S10) —
    * an at-least-once replay finds all its ids already present and
    * appends nothing, making the ingest idempotent at the cost of one
    * index probe per batch (the alternative is staging per-batch
    * files, the q_stream_mv pattern, folded at compaction — T143).
    */
  val q_stream_index_append = QueryDef(
    "q_stream_index_append",
    graft.queries.VectorQueries.q_ann_sketch.oracle) { (spark, dir) =>
    import graft.ops.SimilarityOps
    val emb = Tables.embeddings(spark, dir)
    val tbl = "graft_ann_index_stream"
    // seed the table with an EMPTY build so the streamed appends land
    // in a fresh bucketed layout (and stale state from a prior JVM is
    // cleared — same contract as the batch index)
    SimilarityOps.buildSketchIndex(emb.filter(col("vec_id") < 0),
      "vec_id", "embedding", bits = 256, dim = 64, table = tbl)
    val work = StreamingOps.tempSinkDir("graft_stream_idx_")
    val stream = StreamingOps
      .parquetStream(spark, s"$dir/embeddings.parquet", emb.schema)
      .filter(col("vec_id") >= 50)
    StreamingOps.drainForeachBatch(stream, s"$work/ckpt") { (batch, _) =>
      // skip-existing anti-join makes the append replay-idempotent.
      // refreshTable first: the appends run under foreachBatch's
      // CLONED session, whose insert-refresh invalidates only its
      // own catalog's relation cache — this session's cached file
      // listing of the table would otherwise go stale after the
      // first read and hide every subsequent append
      spark.catalog.refreshTable(tbl)
      val fresh = graft.sinks.Sinks.appendNewIds(
        spark.table(tbl).select(col("neighbor_id").as("vec_id")),
        batch, "vec_id")
      SimilarityOps.appendSketchIndex(fresh, "vec_id", "embedding",
        bits = 256, dim = 64, table = tbl)
    }
    spark.catalog.refreshTable(tbl)
    SimilarityOps.sketchTopKIndexed(
      emb.filter(col("vec_id") < 50), spark.table(tbl),
      "vec_id", "embedding", 10, bits = 256, dim = 64, maxHamming = 115)
      .orderBy(col("query_id"), col("rank"))
  }

  /** STREAMING materialized-view maintenance — the continuous-ingest
    * half of T145 (q_mv_incremental, [[graft.ops.MvOps]]): events are
    * drained in four genuine micro-batches (`maxFilesPerTrigger=1`
    * over a 4-file split), each batch aggregated ALONE to mergeable
    * moments state and APPENDED to a state log — O(batch) work per
    * trigger, no read-modify-write in the hot path (the delta-log
    * layout whose periodic fold-down is T143's compaction job). The
    * view read merges the log key-wise and derives mean/variance from
    * the merged moments. After the drain the view must be
    * value-identical to the batch full recompute — the SAME DuckDB
    * oracle as q_mv_incremental, now certifying that NO batch boundary
    * leaks into the maintained state.
    */
  val q_stream_mv = QueryDef(
    "q_stream_mv",
    graft.queries.ScaleQueries.q_mv_incremental.oracle) { (spark, dir) =>
    import graft.ops.MvOps
    val keys = Seq("day", "event_type")
    val work = StreamingOps.tempSinkDir("graft_stream_mv_")
    val src = s"$work/src"
    // 4-file split so AvailableNow + maxFilesPerTrigger=1 yields four
    // real micro-batches (a single parquet file is one batch — which
    // would certify the plumbing but not the cross-batch merge)
    Tables.events(spark, dir).repartition(4).write.parquet(src)
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    def prep(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("day", date_trunc("day", col("ts")).cast("date"))
      .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
    StreamingOps.drainForeachBatch(stream, s"$work/ckpt") { (batch, batchId) =>
      // per-batch overwrite directory, NOT a blind append: a
      // replayed micro-batch (at-least-once foreachBatch after a
      // crash) replaces its own state instead of double-counting
      MvOps.writeBatchState(prep(batch), keys, col("cents"),
        s"$work/state", batchId)
    }
    MvOps.finalizeState(
      MvOps.mergeStates(keys, MvOps.readStateLog(spark, s"$work/state")))
      .select(col("day"), col("event_type"),
        col("mv_n").as("n_events"), col("mv_s").as("sum_cents"),
        col("mv_s2").as("sumsq_cents"), col("mv_mn").as("min_cents"),
        col("mv_mx").as("max_cents"), col("mv_avg").as("avg_cents"),
        col("mv_var").as("var_cents"))
      .orderBy(col("day"), col("event_type"))
  }

  /** STREAMING kNN-graph maintenance — the continuous-ingest composition of
    * q_knn_graph_delta (O(Δ) outgoing edges) and q_knn_graph_merge
    * (incoming-edge top-k merge): the graph state starts as the full LSH
    * graph over the BASE corpus (vec_id % 10 ≠ 0), delta vectors (every
    * 10th) arrive in three genuine micro-batches (`maxFilesPerTrigger=1`
    * over a 3-file split), and per batch foreachBatch does the O(Δ) upkeep:
    *
    *   out = lshKnn(Δ, corpus-so-far)        — Δ's new edges
    *   in  = lshKnn(corpus-so-far ∪ Δ, Δ)    — everyone absorbs Δ
    *   state' = per-node top-k of (state ∪ out ∪ in) — RAW-cosine merge
    *
    * Both kernels equi-join band buckets, so per-trigger work is
    * |Δ|·bucket-occupancy, never a rebuild. Correctness is the
    * k-bounded merge theorem applied inductively over batches — LSH
    * candidates are bucket-collision pairs, a property of the VECTORS,
    * not of arrival order, so every pair is scored in exactly the
    * batch where its later side lands and the maintained top-k equals
    * the full rebuild's. Certified against the IDENTICAL DuckDB oracle
    * as q_knn_graph_wide (the full-corpus rebuild at the 128-plane
    * wide config — the maintained graph inherits the recall fix): no batch boundary
    * may leak into the final graph — batch-cut invariance as a
    * cross-engine certificate, not a spec assertion. State is written
    * per-batch to an overwrite directory keyed by batch id (replayed
    * micro-batches replace their own state — the q_stream_mv replay
    * contract), raw cosines ride the merge end to end, rounding
    * happens once at the output boundary.
    */
  val q_stream_knn_graph = QueryDef(
    "q_stream_knn_graph",
    graft.queries.VectorQueries.q_knn_graph_wide.oracle) { (spark, dir) =>
    import graft.ops.SimilarityOps
    val k = 5
    val emb = Tables.embeddings(spark, dir)
    val base = emb.filter(pmod(col("vec_id"), lit(10)) =!= 0)
    val delta = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
    val work = StreamingOps.tempSinkDir("graft_stream_knng_")
    // the TWO-PHASE kernel (bit-identical to single-phase, certified
    // via the shared oracle): per-trigger maintenance inherits the
    // candidate-payload collapse too
    def graph(q: org.apache.spark.sql.DataFrame,
        c: org.apache.spark.sql.DataFrame) =
      SimilarityOps.lshKnn(q, c, "vec_id", "embedding", k,
        VectorQueries.WideLsh.copy(twoPhase = true))
    // seed: the certified full graph over the base corpus, raw cosines
    graph(base, base).write.parquet(s"$work/state/seed")
    base.write.parquet(s"$work/corpus/seed")
    val src = s"$work/src"
    delta.repartition(3).write.parquet(src)
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    StreamingOps.drainForeachBatch(stream, s"$work/ckpt") { (batch, id) =>
      val prevState = spark.read.parquet(
        if (id == 0L) s"$work/state/seed" else s"$work/state/b${id - 1}")
      // corpus BEFORE this batch: explicit path list (never "list
      // the dir" — a replayed batch must not see its own vectors
      // from the failed attempt)
      val corpusPrev = spark.read.parquet(
        (s"$work/corpus/seed" +: (0L until id).map(i => s"$work/corpus/b$i")): _*)
      val out = graph(batch, corpusPrev).drop("rank")
      val in = graph(corpusPrev.unionByName(batch), batch).drop("rank")
      SimilarityOps.topK(prevState.drop("rank").unionByName(out).unionByName(in), k)
        .write.mode("overwrite").parquet(s"$work/state/b$id")
      batch.write.mode("overwrite").parquet(s"$work/corpus/b$id")
    }
    val lastBatch = StreamingOps.maxBatchSuffix(spark, s"$work/state", "b")
    require(lastBatch >= 1,
      s"need >= 2 delta micro-batches for cross-batch maintenance evidence, got ${lastBatch + 1}")
    spark.read.parquet(s"$work/state/b$lastBatch")
      .select(col("query_id").as("node_id"), col("rank"),
        col("neighbor_id"), round(col("cos"), 6).as("cos_sim"))
      .orderBy(col("node_id"), col("rank"))
  }

  /** Streaming KS drift monitor: the per-cents (a, b) distribution
    * accumulates as a stateful streaming count over micro-batches
    * (plain SUMs — the mergeable state), drains, and the SAME
    * [[DqQueries.ksReadoff]] as the batch q_ks_test computes the
    * statistic — certified against q_ks_test's own oracle, so this is
    * the drift monitor's batch-cut invariance certificate: the KS
    * value must not depend on how the stream was micro-batched. The
    * production shape is this aggregation per window + a threshold
    * alert; the grid-bounded distribution is the only state.
    */
  val q_stream_ks = QueryDef(
    "q_stream_ks", DqQueries.q_ks_test.oracle) { (spark, dir) =>
    val stream = StreamingOps.eventsStream(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    val counts = stream.groupBy(col("cents"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("a"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("b"))
    val drained = StreamingOps.drainToBatch(counts, OutputMode.Complete())
    DqQueries.ksReadoff(drained)
  }

  /** Streaming split-conformal intervals — [[graft.queries
    * .ForecastQueries.q_forecast_conformal]]'s continuous-ingest half:
    * the per-(type, day) count distribution accumulates as mergeable
    * streaming SUM state across micro-batches, drains, and the SAME
    * `conformalReadoff` computes the backtest intervals against the
    * batch query's own oracle. Batch-cut invariance certified: the
    * calibration quantile and every interval bound cannot depend on
    * how the stream was chopped — the same contract as
    * [[q_stream_ks]], here for an order-statistic readoff rather than
    * an ECDF max.
    */
  val q_stream_conformal = QueryDef(
    "q_stream_conformal", ForecastQueries.q_forecast_conformal.oracle) {
    (spark, dir) =>
      val stream = StreamingOps.eventsStream(spark, dir)
        .select(col("event_type"),
          date_trunc("day", col("ts")).cast("date").as("day"))
      val counts = stream.groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("cnt"))
      val drained = StreamingOps.drainToBatch(counts, OutputMode.Complete())
      ForecastQueries.conformalReadoff(drained)
  }

  /** Shared CTE prefix for the late-data pair: assigns every event a
    * deterministic ARRIVAL batch (4 day-slices; `user_id % 7` rows
    * arrive one batch late, `user_id % 11` two batches late) and
    * replays Spark's watermark protocol in pure SQL:
    *
    *  - the watermark is the max seen event time floored to
    *    MILLISECONDS (EventTimeStats accumulates micros/1000), delay 0;
    *  - the late-event FILTER of batch b uses the EVICTION watermark of
    *    batch b-1 — i.e. max event time through batch b-2
    *    (SPARK-42376's two-watermark protocol; one-batch-late rows
    *    always survive) — with an INCLUSIVE boundary
    *    (`window.end <= wm` drops; probed empirically (SURVEY.md T177):
    *    a window ending exactly AT the filter watermark was dropped);
    *  - a window EMITS once `window.end <= eviction wm`, and the
    *    trailing AvailableNow no-data batch advances the watermark to
    *    the global max, flushing every closed window.
    */
  private def lateCtes: String =
    """ev AS MATERIALIZED (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |bnd AS (SELECT MIN(CAST(ts AS DATE)) AS d0,
      |  DATEDIFF('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE))) + 1 AS nd
      |  FROM ev),
      |r AS MATERIALIZED (
      |  SELECT ts, cents,
      |    CAST(ts AS DATE) AS d,
      |    epoch_us(CAST(CAST(ts AS DATE) AS TIMESTAMP) + INTERVAL 1 DAY) AS wend,
      |    LEAST(LEAST((DATEDIFF('day', d0, CAST(ts AS DATE)) * 4) // nd, 3)
      |      + CASE WHEN user_id % 11 = 0 THEN 2
      |             WHEN user_id % 7 = 0 THEN 1 ELSE 0 END, 3) AS arrival
      |  FROM ev CROSS JOIN bnd),
      |fmax AS MATERIALIZED (
      |  SELECT arrival, MAX(epoch_us(ts)) AS mx FROM r GROUP BY arrival),
      |fw AS MATERIALIZED (
      |  SELECT a.arrival, (MAX(b.mx) // 1000) * 1000 AS fwm
      |  FROM fmax a LEFT JOIN fmax b ON b.arrival <= a.arrival - 2
      |  GROUP BY a.arrival),
      |gwm AS (SELECT (MAX(mx) // 1000) * 1000 AS wm FROM fmax)""".stripMargin

  /** Builds the 4-file arrival layout on disk (one partitioned write,
    * files renamed into place with explicitly spaced mtimes so
    * FileStreamSource's modification-time order IS the arrival order)
    * under `work` and returns the source dir. The
    * fixture is test scaffolding standing in for an out-of-order
    * transport; the OPERATOR under certification is the watermarked
    * windowed aggregation and its late-drop protocol.
    */
  private def lateFixture(spark: org.apache.spark.sql.SparkSession,
      dir: String, work: String): String = {
    val src = s"$work/src"
    val ev = Tables.events(spark, dir).select(col("user_id"), col("ts"),
      floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val b = ev.agg(min(to_date(col("ts"))).as("d0"),
      (datediff(max(to_date(col("ts"))), min(to_date(col("ts")))) + 1).as("nd"))
      .head()
    val d0 = b.getDate(0)
    val nd = b.getInt(1)
    val rows = ev
      .withColumn("slice",
        expr(s"least((datediff(to_date(ts), date'$d0') * 4) div $nd, 3)"))
      .withColumn("arrival", least(col("slice")
        + when(pmod(col("user_id"), lit(11)) === 0, 2)
          .when(pmod(col("user_id"), lit(7)) === 0, 1).otherwise(0), lit(3L)))
    // ONE partitioned write builds all 4 slices (four
    // sequential coalesce(1) write jobs were ~1 s of pure fixture
    // mechanics per drain). repartition(4, arrival) puts each arrival's
    // rows in exactly one task, so each arrival=<a> directory holds
    // exactly one part file; the files are then RENAMED into the flat
    // source dir with the same spaced mtimes as before, so
    // FileStreamSource's modification-time ordering — the
    // arrival→batch-id contract the oracle replays — is unchanged.
    // (Row order inside a slice file may differ from the 4-job form;
    // the aggregation under certification is order-free within a
    // micro-batch and the watermark is the batch MAX event time.)
    val staged = s"$work/staged"
    rows.select(col("user_id"), col("ts"), col("cents"), col("arrival"))
      .repartition(4, col("arrival"))
      .write.partitionBy("arrival").mode("overwrite").parquet(staged)
    val srcDir = new java.io.File(src)
    require(srcDir.mkdirs() || srcDir.isDirectory,
      s"lateFixture: cannot create source dir $src")
    val base = System.currentTimeMillis()
    for (a <- 0 to 3) {
      // the oracle's arrival→batch-id correspondence needs every slice
      // non-empty and exactly one part file per slice with a
      // successfully spaced mtime; a silent violation would shift
      // Spark's batch numbering vs the oracle nondeterministically, so
      // fail LOUDLY here instead
      val parts = Option(new java.io.File(staged, s"arrival=$a").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.startsWith("part-"))
      require(parts.length == 1,
        s"lateFixture: arrival slice $a produced ${parts.length} part " +
          "files, expected exactly 1 non-empty (single-task-per-arrival " +
          "contract)")
      val dst = new java.io.File(srcDir, s"arrival-$a-${parts(0).getName}")
      require(parts(0).renameTo(dst),
        s"lateFixture: rename of arrival slice $a failed — " +
          "FileStreamSource order would not match arrival order")
      require(dst.setLastModified(base + a * 2000),
        s"lateFixture: setLastModified failed for ${dst.getName} — " +
          "FileStreamSource order would not match arrival order")
    }
    src
  }

  private def lateAgg(spark: org.apache.spark.sql.SparkSession,
      src: String): org.apache.spark.sql.DataFrame =
    spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
      .select(col("window.start").cast("date").as("day"),
        col("n_events"), col("sum_cents"))

  /** Memo of the 4-batch late-data drain, keyed on the events fixture:
    * [[q_stream_late]] certifies the SURVIVING OUTPUT and
    * [[q_stream_late_audit]] the engine's internal drop counters of the
    * SAME drain, so the first caller drains and the second reads the
    * memo. The value is plain data (sink path + schema DDL + progress
    * events), valid for any session in this JVM; the fixture and sink
    * trees are the fill's and go when the memo clears.
    */
  private val lateDrains = new Memos.Memo[Memos.Fixture,
    (String, String, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])](
    "q_stream_late", "q_stream_late_audit")

  private def drainedLate(spark: org.apache.spark.sql.SparkSession, dir: String)
      : (String, String, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) =
    lateDrains.get(Memos.fixture(s"$dir/events.parquet")) { fill =>
      val src = lateFixture(spark, dir, fill.tempDir("graft_stream_late_"))
      val sink = fill.tempDir("graft_stream_late_sink_")
      val agg = lateAgg(spark, src)
      val (out, progress) = StreamingOps.drainToParquetSinkWithProgress(agg, sink)
      out.count() // force the read path once so a broken drain fails HERE
      (s"$sink/out", agg.schema.toDDL, progress)
    }

  /** Late-data accounting, output side: daily counts from an
    * Append-mode watermarked aggregation over a deliberately
    * out-of-order stream — the certified result is exactly the rows
    * that SURVIVE Spark's two-watermark late-filter, in windows the
    * final watermark closed. This is the question every event-time
    * pipeline must answer before a downstream trusts a "complete"
    * window: which late arrivals made it in, which were dropped, and
    * which windows never sealed.
    */
  val q_stream_late = QueryDef(
    "q_stream_late",
    s"""WITH $lateCtes,
       |kept AS (
       |  SELECT r.* FROM r JOIN fw USING (arrival)
       |  WHERE fw.fwm IS NULL OR r.wend > fw.fwm)
       |SELECT d AS day, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  CAST(SUM(cents) AS BIGINT) AS sum_cents
       |FROM kept WHERE wend <= (SELECT wm FROM gwm)
       |GROUP BY d ORDER BY day""".stripMargin) { (spark, dir) =>
    val (out, schemaDdl, _) = drainedLate(spark, dir)
    spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))
      .parquet(out)
      .orderBy(col("day"))
  }

  /** Late-data accounting, engine-internals side: per micro-batch
    * (input rows, `numRowsDroppedByWatermark`) read from Spark's OWN
    * StreamingQueryProgress, certified against the same pure-SQL
    * watermark replay — the engine's internal drop counters must match
    * the protocol document batch by batch, not just the surviving
    * output. Measured internal (this certificate pins it): the drop
    * filter runs at the STATE operator, downstream of the partial
    * aggregation and its shuffle-merge, so the counter counts dropped
    * per-WINDOW aggregate rows — i.e. the number of distinct late
    * windows in the batch, not raw late input rows (within one batch a
    * window's rows are late all-or-nothing, so window-level dropping
    * is row-exact for the OUTPUT — q_stream_late certifies that side).
    */
  val q_stream_late_audit = QueryDef(
    "q_stream_late_audit",
    s"""WITH $lateCtes
       |SELECT r.arrival AS batch_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_input,
       |  CAST(COUNT(DISTINCT CASE WHEN fw.fwm IS NOT NULL
       |    AND r.wend <= fw.fwm THEN r.wend END) AS BIGINT) AS n_dropped
       |FROM r JOIN fw USING (arrival)
       |GROUP BY r.arrival ORDER BY batch_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val (_, _, progress) = drainedLate(spark, dir)
    progress.filter(_.numInputRows > 0)
      .map(p => (p.batchId, p.numInputRows,
        p.stateOperators.headOption.map(_.numRowsDroppedByWatermark).getOrElse(0L)))
      .toDF("batch_id", "n_input", "n_dropped")
      .orderBy(col("batch_id"))
  }

  /** STREAMING PCA maintenance — the continuous-ingest half of the
    * q_pca_project trajectory ([[graft.ops.PcaOps]]): each micro-batch
    * contributes its raw moments (n, Σx, Σxxᵀ) — a d²+d+1-value MONOID,
    * the bounded mergeable state that makes a basis maintainable under
    * ingest without re-scanning history — written replay-idempotently
    * per batch, merged key-wise at read time, and the SAME quantized
    * power trajectory re-derived from the merged moments
    * ([[graft.ops.PcaOps.componentFromMoments]]: the batch path's
    * `Σ_rows c·(c·v)` regrouped as `C'·v`, a float-association change
    * the per-round 1e-6 quantization absorbs). Certified against the
    * IDENTICAL DuckDB oracle as batch q_pca_project — no batch
    * boundary, and no data-vs-moments association change, may leak
    * into the certified projections. Per batch the accumulation is ONE
    * [[graft.functions.VectorMoments]] TypedImperativeAggregate pass
    * (each row folds d² FMAs into a (1+d+d²)-double buffer in place —
    * no explode, no row amplification; the shuffle carries one partial
    * buffer per map partition), spec-certified equal to the explode +
    * pair-join formulation in VectorMomentsSpec.
    */
  /** Memo of the streamed raw-moments drain, keyed on the embeddings
    * fixture and dim: the (n, Σx, Σxxᵀ) monoid is ITERATION-INDEPENDENT —
    * [[q_stream_pca]] (1 component, 8 iters) and
    * [[q_stream_outliers_pca]] (4 components, 6 iters) re-derive
    * different bases from the SAME merged state, exactly as a deployed
    * maintenance job would serve every downstream consumer from one
    * moments table.
    */
  private val momentDrains = new Memos.Memo[(Memos.Fixture, Int),
    (Long, Array[Double], Array[Array[Double]])]("q_stream_pca", "q_stream_outliers_pca")

  private def streamedMoments(
      spark: org.apache.spark.sql.SparkSession, dir: String, dim: Int)
      : (Long, Array[Double], Array[Array[Double]]) =
    momentDrains.get((Memos.fixture(s"$dir/embeddings.parquet"), dim)) { _ =>
      val emb = Tables.embeddings(spark, dir)
      val work = StreamingOps.tempSinkDir("graft_stream_pca_")
      val src = s"$work/src"
      emb.repartition(4).write.parquet(src)
      val schema = spark.read.parquet(src).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      StreamingOps.drainForeachBatch(stream, s"$work/ckpt") { (batch, batchId) =>
        val ss = batch.sparkSession
        import ss.implicits._
        val m = batch
          .agg(graft.functions.VectorMoments(col("embedding"), dim).as("m"))
          .head().getSeq[Double](0)
        // flat buffer -> (j,k,s) state rows: count (-1,-1),
        // first moments (j,-1), second moments (j,k)
        val rows = Seq((-1, -1, m(0))) ++
          (0 until dim).map(j => (j, -1, m(1 + j))) ++
          (for (j <- 0 until dim; k <- 0 until dim)
            yield (j, k, m(1 + dim + j * dim + k)))
        StreamingOps.writeBatchDir(
          rows.toDF("j", "k", "s"), s"$work/state", batchId)
      }
      // key-wise monoid merge of the batch moments, then a bounded
      // (d²+d+1)-value collect feeds the driver-side trajectory
      val merged = StreamingOps.readBatchDirs(spark, s"$work/state")
        .groupBy(col("j"), col("k")).agg(sum(col("s")).as("s"))
        .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
      val n = merged((-1, -1)).toLong
      val sx = Array.tabulate(dim)(j => merged((j, -1)))
      val sxx = Array.tabulate(dim, dim)((j, k) => merged((j, k)))
      // the memoized value is driver arrays — the fixture/state tree is
      // consumed entirely by the collect above, so drop it here rather
      // than orphan one tmpdir per memo fill
      StreamingOps.deleteRecursively(work)
      (n, sx, sxx)
    }

  val q_stream_pca = QueryDef(
    "q_stream_pca",
    graft.ops.PcaOps.projectOracleSql(64, 8)) { (spark, dir) =>
    val dim = 64
    val (n, sx, sxx) = streamedMoments(spark, dir, dim)
    val (mu, v) = graft.ops.PcaOps.componentFromMoments(n, sx, sxx, dim, iters = 8)
    graft.ops.PcaOps.projectWith(
      Tables.embeddings(spark, dir), "vec_id", "embedding", dim, mu, v)
      .orderBy(col("vec_id"))
  }

  /** STREAMING subspace outlier scoring — the continuous-ingest form
    * of q_embed_outliers_pca: the top-4 deflated basis is re-derived
    * from the SAME merged micro-batch moments as [[q_stream_pca]]
    * ([[graft.ops.PcaOps.componentsFromMoments]] — `C'·v` per round
    * with the parallel Gram–Schmidt correction in the batch path's
    * exact driver arithmetic), then the shared integer-lattice scorer
    * ([[graft.ops.PcaOps.scoreSubspace]]) runs map-only. Certified
    * against the IDENTICAL DuckDB oracle as the batch query — the
    * whole outlier surface (basis + eigenvalues + scores) is
    * maintainable under ingest without re-scanning history, and no
    * batch boundary may leak into the certified scores.
    */
  val q_stream_outliers_pca = QueryDef(
    "q_stream_outliers_pca",
    graft.ops.PcaOps.outlierOracleSql(64, 6, 4)) { (spark, dir) =>
    val dim = 64
    val (n, sx, sxx) = streamedMoments(spark, dir, dim)
    val (mu, comps) = graft.ops.PcaOps.componentsFromMoments(
      n, sx, sxx, dim, iters = 6, m = 4)
    graft.ops.PcaOps.scoreSubspace(
      Tables.embeddings(spark, dir), "vec_id", "embedding", dim, mu, comps)
      .orderBy(col("vec_id"))
  }

  val all: Seq[QueryDef] = Seq(
    q_stream_ks, q_stream_conformal, q_stream_late, q_stream_late_audit,
    q_stream_pca, q_stream_outliers_pca,
    q_stream_hourly, q_stream_hourly_append, q_stream_dedup, q_stream_enrich,
    q_stream_join, q_stream_join_outer, q_stream_join_full,
    q_stream_sessions, q_stream_throttle, q_stream_quantile,
    q_stream_hll, q_stream_cms, q_stream_incremental_dedup, q_stream_hopping,
    q_stream_topk, q_stream_cdc, q_stream_asof, q_stream_ann,
    q_stream_ann_wide,
    q_stream_index_append, q_stream_mv, q_stream_knn_graph)
}
