package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.JoinOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second batch of event analytics: multi-dimensional cube rollups,
  * gap-based sessionization, cross-series correlation, and the
  * early-detection spike-lag analysis (A17/A20 and the optional
  * cube/rollup convenience noted in SURVEY.md §2.4).
  */
object EventsMore {

  /** CUBE over (event_type, weekday): every aggregation level in one
    * pass — the dashboard "all distributions at once" shape. */
  val q_cube_counts = QueryDef(
    "q_cube_counts",
    """SELECT event_type, isodow(CAST(date_trunc('day', ts) AS DATE)) - 1 AS dow,
      |  COUNT(*) AS n
      |FROM events GROUP BY CUBE (1, 2)
      |ORDER BY event_type NULLS FIRST, dow NULLS FIRST""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .withColumn("dow", weekday(date_trunc("day", col("ts")).cast("date")).cast("long"))
      .cube(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type").asc_nulls_first, col("dow").asc_nulls_first)
  }

  /** As-of join (the operator Spark lacks natively; DuckDB certifies
    * with its native ASOF JOIN): each purchase picks the user's most
    * recent click at-or-before the purchase instant. Clicks are
    * pre-aggregated to one row per (user, μs) with `max_by` — as-of
    * matches at tied timestamps are nondeterministic in any engine
    * otherwise. The engine-side plan is the union + running
    * last(ignoreNulls) window: one shuffle, no range self-join.
    */
  val q_asof_join = QueryDef(
    "q_asof_join",
    """WITH clicks AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS click_us,
      |    MAX(event_id) AS click_id,
      |    arg_max(value, event_id) AS click_value
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |purchases AS (
      |  SELECT event_id AS purchase_id, user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS purchase_us
      |  FROM events WHERE event_type = 'purchase')
      |SELECT p.purchase_id, p.user_id, p.purchase_us,
      |  c.click_id AS last_click_id,
      |  ROUND(c.click_value, 2) AS last_click_value,
      |  CAST((p.purchase_us - c.click_us) // 1000000 AS BIGINT) AS gap_sec
      |FROM purchases p ASOF LEFT JOIN clicks c
      |  ON p.user_id = c.user_id AND p.purchase_us >= c.click_us
      |ORDER BY purchase_id""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir).withColumn("us", unix_micros(col("ts")))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("us").as("click_us"))
      .agg(max(col("event_id")).as("click_id"),
        max_by(col("value"), col("event_id")).as("click_value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("us").as("purchase_us"))
    JoinOps.asofJoin(purchases, clicks,
      keyCol = "user_id", leftTsCol = "purchase_us", rightTsCol = "click_us",
      rightValCols = Seq("click_us", "click_id", "click_value"))
      .select(col("purchase_id"), col("user_id"), col("purchase_us"),
        col("click_id").as("last_click_id"),
        round(col("click_value"), 2).as("last_click_value"),
        floor((col("purchase_us") - col("click_us")) / 1000000L).cast("long")
          .as("gap_sec"))
      .orderBy(col("purchase_id"))
  }

  /** q_asof_join through the NATIVE whole-operator path
    * ([[graft.plans.AsofJoinExec]] via [[JoinOps.asofJoinNative]]):
    * IDENTICAL oracle (DuckDB native ASOF LEFT JOIN), different
    * physical plan — a custom logical node + planner strategy +
    * streaming-merge exec instead of the union+running-last window.
    * Green here certifies the custom operator end-to-end against an
    * independent engine; the plan shape (AsofJoinExec present, no
    * Window) is asserted in JoinOpsSpec.
    */
  val q_asof_native = QueryDef(
    "q_asof_native",
    """WITH clicks AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS click_us,
      |    MAX(event_id) AS click_id,
      |    arg_max(value, event_id) AS click_value
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |purchases AS (
      |  SELECT event_id AS purchase_id, user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS purchase_us
      |  FROM events WHERE event_type = 'purchase')
      |SELECT p.purchase_id, p.user_id, p.purchase_us,
      |  c.click_id AS last_click_id,
      |  ROUND(c.click_value, 2) AS last_click_value,
      |  CAST((p.purchase_us - c.click_us) // 1000000 AS BIGINT) AS gap_sec
      |FROM purchases p ASOF LEFT JOIN clicks c
      |  ON p.user_id = c.user_id AND p.purchase_us >= c.click_us
      |ORDER BY purchase_id""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir).withColumn("us", unix_micros(col("ts")))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("us").as("click_us"))
      .agg(max(col("event_id")).as("click_id"),
        max_by(col("value"), col("event_id")).as("click_value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("us").as("purchase_us"))
    JoinOps.asofJoinNative(purchases, clicks,
      keyCol = "user_id", leftTsCol = "purchase_us", rightTsCol = "click_us",
      rightValCols = Seq("click_us", "click_id", "click_value"))
      .select(col("purchase_id"), col("user_id"), col("purchase_us"),
        col("click_id").as("last_click_id"),
        round(col("click_value"), 2).as("last_click_value"),
        floor((col("purchase_us") - col("click_us")) / 1000000L).cast("long")
          .as("gap_sec"))
      .orderBy(col("purchase_id"))
  }

  /** [[q_asof_native]] over the FEATURE-STORE layout: both sides
    * persisted as key-bucketed tables first, then joined through the
    * native exec — AsofJoinExec's ClusteredDistribution is satisfied
    * by the co-bucketed scans, so the plan has NO shuffle exchange
    * (only per-partition sorts, which spill). At 100 TB the history
    * side is written bucketed once and every probe batch joins against
    * it exchange-free; this query certifies that path end to end
    * against the SAME DuckDB ASOF oracle. Exchange-freedom itself is
    * plan-asserted in StorageSpec.
    */
  val q_asof_bucketed = QueryDef(
    "q_asof_bucketed", q_asof_native.oracle) { (spark, dir) =>
    val ev = Tables.events(spark, dir).withColumn("us", unix_micros(col("ts")))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("us").as("click_us"))
      .agg(max(col("event_id")).as("click_id"),
        max_by(col("value"), col("event_id")).as("click_value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("us").as("purchase_us"))
    graft.sinks.Sinks.replaceBucketedTable(
      purchases, "graft_asof_probe_b", Seq("user_id"), 8)
    graft.sinks.Sinks.replaceBucketedTable(
      clicks, "graft_asof_hist_b", Seq("user_id"), 8)
    JoinOps.asofJoinNative(
      spark.table("graft_asof_probe_b"), spark.table("graft_asof_hist_b"),
      keyCol = "user_id", leftTsCol = "purchase_us", rightTsCol = "click_us",
      rightValCols = Seq("click_us", "click_id", "click_value"))
      .select(col("purchase_id"), col("user_id"), col("purchase_us"),
        col("click_id").as("last_click_id"),
        round(col("click_value"), 2).as("last_click_value"),
        floor((col("purchase_us") - col("click_us")) / 1000000L).cast("long")
          .as("gap_sec"))
      .orderBy(col("purchase_id"))
  }

  /** Native as-of join with the click-history side RUNTIME-pruned by a
    * Bloom filter of the purchase-side user keys
    * ([[JoinOps.asofJoinNativeBloom]]) — certified against the SAME
    * DuckDB ASOF oracle as q_asof_native: pruning is result-invariant
    * (equality-keyed match; absent-key right rows can never surface,
    * false positives die in the merge). The plan shape — bitmap
    * filter reaching the right side below the exec — is asserted in
    * JoinOpsSpec.
    */
  val q_asof_bloom: QueryDef = QueryDef(
    "q_asof_bloom", q_asof_native.oracle) { (spark, dir) =>
    val ev = Tables.events(spark, dir).withColumn("us", unix_micros(col("ts")))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("us").as("click_us"))
      .agg(max(col("event_id")).as("click_id"),
        max_by(col("value"), col("event_id")).as("click_value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("us").as("purchase_us"))
    JoinOps.asofJoinNativeBloom(purchases, clicks,
      keyCol = "user_id", leftTsCol = "purchase_us", rightTsCol = "click_us",
      rightValCols = Seq("click_us", "click_id", "click_value"))
      .select(col("purchase_id"), col("user_id"), col("purchase_us"),
        col("click_id").as("last_click_id"),
        round(col("click_value"), 2).as("last_click_value"),
        floor((col("purchase_us") - col("click_us")) / 1000000L).cast("long")
          .as("gap_sec"))
      .orderBy(col("purchase_id"))
  }

  /** STRING-keyed native as-of join — the common feature-store case
    * (entity keys are opaque strings in production, not longs). Same
    * custom exec ([[graft.plans.AsofJoinExec]]); the generalized merge
    * compares projected key rows under a natural ordering instead of a
    * primitive long, so string/composite keys keep the identical
    * one-buffered-row state. Certified against the same DuckDB ASOF
    * LEFT JOIN oracle family, with VARCHAR keys.
    */
  val q_asof_native_str = QueryDef(
    "q_asof_native_str",
    """WITH clicks AS (
      |  SELECT 'u' || CAST(user_id AS VARCHAR) AS uid,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS click_us,
      |    MAX(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |purchases AS (
      |  SELECT event_id AS purchase_id, 'u' || CAST(user_id AS VARCHAR) AS uid,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS purchase_us
      |  FROM events WHERE event_type = 'purchase')
      |SELECT p.purchase_id, p.uid, c.click_id AS last_click_id
      |FROM purchases p ASOF LEFT JOIN clicks c
      |  ON p.uid = c.uid AND p.purchase_us >= c.click_us
      |ORDER BY purchase_id""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
      .withColumn("uid", concat(lit("u"), col("user_id").cast("string")))
      .withColumn("us", unix_micros(col("ts")))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("uid"), col("us").as("click_us"))
      .agg(max(col("event_id")).as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("uid"),
        col("us").as("purchase_us"))
    JoinOps.asofJoinNative(purchases, clicks,
      keyCol = "uid", leftTsCol = "purchase_us", rightTsCol = "click_us",
      rightValCols = Seq("click_id"))
      .select(col("purchase_id"), col("uid"),
        col("click_id").as("last_click_id"))
      .orderBy(col("purchase_id"))
  }

  /** COMPOSITE-key native as-of join (long × string key): each order
    * joined to the customer's latest STRICTLY EARLIER order total with
    * the same order status — "previous state of this exact entity
    * slice", the SCD-lookup shape. Strictly-earlier is expressed
    * inside the inclusive operator by lagging the probe timestamp one
    * day (`pday = day - 1`), so the exec itself stays one code path.
    * Day numbers ride as epoch-day longs; right side pre-aggregated
    * unique per (key, day) per the as-of contract.
    */
  val q_asof_native_multi = QueryDef(
    "q_asof_native_multi",
    """WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day,
      |    o_totalprice FROM orders),
      |r AS (SELECT o_custkey, o_orderstatus, day, MAX(o_totalprice) AS prev_total
      |      FROM o GROUP BY 1,2,3)
      |SELECT l.o_orderkey, l.o_custkey, l.o_orderstatus,
      |  r.prev_total, r.day AS prev_day
      |FROM (SELECT *, day - 1 AS pday FROM o) l
      |ASOF LEFT JOIN r ON l.o_custkey = r.o_custkey
      |  AND l.o_orderstatus = r.o_orderstatus AND l.pday >= r.day
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    val o = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      unix_date(col("o_orderdate").cast("date")).cast("long").as("day"),
      col("o_totalprice"))
    val r = o.groupBy(col("o_custkey"), col("o_orderstatus"), col("day"))
      .agg(max(col("o_totalprice")).as("prev_total"))
    val l = o.withColumn("pday", col("day") - 1L)
    JoinOps.asofJoinNativeKeys(
      l, r.withColumnRenamed("day", "rday"),
      keyCols = Seq("o_custkey", "o_orderstatus"),
      leftTsCol = "pday", rightTsCol = "rday",
      rightValCols = Seq("prev_total", "rday"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("prev_total"), col("rday").as("prev_day"))
      .orderBy(col("o_orderkey"))
  }

  /** Native as-of join over raw TIMESTAMP columns — no epoch-micros
    * prep: the exec reads TIMESTAMP/TIMESTAMP_NTZ through their
    * Tungsten micros representation directly, so the common "join on
    * the event-time column as-is" call needs no conversion pass on
    * either side.
    */
  val q_asof_native_ts = QueryDef(
    "q_asof_native_ts",
    """WITH clicks AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts,
      |    MAX(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |purchases AS (
      |  SELECT event_id AS purchase_id, user_id,
      |    CAST(ts AS TIMESTAMP) AS purchase_ts
      |  FROM events WHERE event_type = 'purchase')
      |SELECT p.purchase_id, p.user_id, p.purchase_ts,
      |  c.click_ts AS last_click_ts, c.click_id AS last_click_id
      |FROM purchases p ASOF LEFT JOIN clicks c
      |  ON p.user_id = c.user_id AND p.purchase_ts >= c.click_ts
      |ORDER BY purchase_id""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts").as("click_ts"))
      .agg(max(col("event_id")).as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    JoinOps.asofJoinNative(purchases, clicks,
      keyCol = "user_id", leftTsCol = "purchase_ts", rightTsCol = "click_ts",
      rightValCols = Seq("click_ts", "click_id"))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("click_ts").as("last_click_ts"),
        col("click_id").as("last_click_id"))
      .orderBy(col("purchase_id"))
  }

  /** Time-grid resampling with forward fill — the feature-engineering
    * shape that turns irregular events into a regular hourly series
    * ("value as of each hour"): per cohort user, an hourly grid spans
    * first→last event and each grid instant picks the LATEST event
    * value at-or-before it. Composition, not a new operator: the grid
    * is a `sequence`+`explode` fan-out (zero extra shuffles — the
    * per-user span agg is the only exchange) feeding the NATIVE as-of
    * exec, which is exactly the "left side is synthetic" case where
    * the one-buffered-row merge shines (grid rows outnumber events
    * ~10×, and the window path would union+sort all of them). Grid
    * hours before a user's first event forward-fill to NULL (LEFT
    * semantics) — visible in the first grid row of every user.
    */
  val q_resample_ffill = QueryDef(
    "q_resample_ffill",
    """WITH ev AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    arg_max(value, event_id) AS v
      |  FROM events WHERE user_id < 50 GROUP BY 1, 2),
      |span AS (
      |  SELECT user_id,
      |    (MIN(us) // 3600000000) * 3600000000 AS h0,
      |    (MAX(us) // 3600000000) * 3600000000 AS h1
      |  FROM ev GROUP BY 1),
      |grid AS (
      |  SELECT user_id, CAST(g AS BIGINT) AS hour_us
      |  FROM span CROSS JOIN UNNEST(range(h0, h1 + 1, 3600000000)) t(g))
      |SELECT g.user_id AS user_id, g.hour_us, ROUND(e.v, 2) AS last_value
      |FROM grid g ASOF LEFT JOIN ev e
      |  ON g.user_id = e.user_id AND g.hour_us >= e.us
      |ORDER BY g.user_id, g.hour_us""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
      .filter(col("user_id") < 50)
      .withColumn("us", unix_micros(col("ts")))
      .groupBy(col("user_id"), col("us"))
      .agg(max_by(col("value"), col("event_id")).as("v"))
    val grid = ev.groupBy(col("user_id"))
      .agg(expr("(MIN(us) DIV 3600000000) * 3600000000").as("h0"),
        expr("(MAX(us) DIV 3600000000) * 3600000000").as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), lit(3600000000L))).as("hour_us"))
    JoinOps.asofJoinNative(grid, ev,
      keyCol = "user_id", leftTsCol = "hour_us", rightTsCol = "us",
      rightValCols = Seq("v"))
      .select(col("user_id"), col("hour_us"),
        round(col("v"), 2).as("last_value"))
      .orderBy(col("user_id"), col("hour_us"))
  }

  /** Backward-fill resampling — [[q_resample_ffill]]'s mirror through
    * the FORWARD as-of direction (T144): each grid instant picks the
    * EARLIEST event value at-or-after it ("next reading", the
    * interpolation anchor / lead-label shape in feature pipelines).
    * Same sequence+explode grid extended ONE hour past the span (so
    * the trailing grid instant sits after the user's last event unless
    * that event lands exactly on the hour), same native exec — only
    * the merge direction flips, and forward is the cheaper branch (the
    * candidate is the lookahead row; nothing is buffered). The
    * extension makes the forward NO-MATCH path a certified part of the
    * result: those trailing instants back-fill to NULL in both
    * engines, not just in the spec's synthetic orphan-key case.
    */
  val q_resample_bfill = QueryDef(
    "q_resample_bfill",
    """WITH ev AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    arg_max(value, event_id) AS v
      |  FROM events WHERE user_id < 50 GROUP BY 1, 2),
      |span AS (
      |  SELECT user_id,
      |    (MIN(us) // 3600000000) * 3600000000 AS h0,
      |    (MAX(us) // 3600000000) * 3600000000 AS h1
      |  FROM ev GROUP BY 1),
      |grid AS (
      |  SELECT user_id, CAST(g AS BIGINT) AS hour_us
      |  FROM span CROSS JOIN UNNEST(
      |    range(h0, h1 + 3600000000 + 1, 3600000000)) t(g))
      |SELECT g.user_id AS user_id, g.hour_us, ROUND(e.v, 2) AS next_value
      |FROM grid g ASOF LEFT JOIN ev e
      |  ON g.user_id = e.user_id AND g.hour_us <= e.us
      |ORDER BY g.user_id, g.hour_us""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
      .filter(col("user_id") < 50)
      .withColumn("us", unix_micros(col("ts")))
      .groupBy(col("user_id"), col("us"))
      .agg(max_by(col("value"), col("event_id")).as("v"))
    val grid = ev.groupBy(col("user_id"))
      .agg(expr("(MIN(us) DIV 3600000000) * 3600000000").as("h0"),
        expr("(MAX(us) DIV 3600000000) * 3600000000").as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1") + 3600000000L,
          lit(3600000000L))).as("hour_us"))
    JoinOps.asofJoinNative(grid, ev,
      keyCol = "user_id", leftTsCol = "hour_us", rightTsCol = "us",
      rightValCols = Seq("v"), direction = "forward")
      .select(col("user_id"), col("hour_us"),
        round(col("v"), 2).as("next_value"))
      .orderBy(col("user_id"), col("hour_us"))
  }

  /** As-of join WITH TOLERANCE — the feature-store freshness contract:
    * a match staler than 1 hour is as good as no match, so its value
    * columns are masked NULL while the left row survives (LEFT-join
    * semantics). Same one-shuffle union+running-last plan as
    * q_asof_join; the staleness mask is a post-join column expression,
    * so tolerance changes per consumer without re-running the join.
    */
  val q_asof_tolerance = QueryDef(
    "q_asof_tolerance",
    """WITH clicks AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS click_us,
      |    MAX(event_id) AS click_id,
      |    arg_max(value, event_id) AS click_value
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |purchases AS (
      |  SELECT event_id AS purchase_id, user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS purchase_us
      |  FROM events WHERE event_type = 'purchase')
      |SELECT p.purchase_id, p.user_id, p.purchase_us,
      |  CASE WHEN p.purchase_us - c.click_us <= 3600000000
      |    THEN c.click_id END AS recent_click_id,
      |  CASE WHEN p.purchase_us - c.click_us <= 3600000000
      |    THEN ROUND(c.click_value, 2) END AS recent_click_value,
      |  CASE WHEN p.purchase_us - c.click_us <= 3600000000
      |    THEN CAST((p.purchase_us - c.click_us) // 1000000 AS BIGINT)
      |    END AS gap_sec
      |FROM purchases p ASOF LEFT JOIN clicks c
      |  ON p.user_id = c.user_id AND p.purchase_us >= c.click_us
      |ORDER BY purchase_id""".stripMargin) { (spark, dir) =>
    val tolUs = 3600000000L
    val ev = Tables.events(spark, dir).withColumn("us", unix_micros(col("ts")))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("us").as("click_us"))
      .agg(max(col("event_id")).as("click_id"),
        max_by(col("value"), col("event_id")).as("click_value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("us").as("purchase_us"))
    val fresh = col("purchase_us") - col("click_us") <= tolUs
    JoinOps.asofJoin(purchases, clicks,
      keyCol = "user_id", leftTsCol = "purchase_us", rightTsCol = "click_us",
      rightValCols = Seq("click_us", "click_id", "click_value"))
      .select(col("purchase_id"), col("user_id"), col("purchase_us"),
        when(fresh, col("click_id")).as("recent_click_id"),
        when(fresh, round(col("click_value"), 2)).as("recent_click_value"),
        when(fresh,
          floor((col("purchase_us") - col("click_us")) / 1000000L).cast("long"))
          .as("gap_sec"))
      .orderBy(col("purchase_id"))
  }

  /** [[q_asof_tolerance]] through the NATIVE as-of exec
    * ([[graft.plans.AsofJoinExec]] via [[JoinOps.asofJoinNative]]):
    * the tolerance stays a POST-JOIN mask (per-consumer freshness
    * without re-running the join), so
    * the exec needs no tolerance parameter; only the join plan under
    * the mask changes from union+window to the streaming merge.
    * Certified against the SAME DuckDB ASOF + CASE oracle, and
    * plan-asserted AsofJoinExec in JoinOpsSpec.
    */
  val q_asof_tolerance_native = QueryDef(
    "q_asof_tolerance_native", q_asof_tolerance.oracle) { (spark, dir) =>
    val tolUs = 3600000000L
    val ev = Tables.events(spark, dir).withColumn("us", unix_micros(col("ts")))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("us").as("click_us"))
      .agg(max(col("event_id")).as("click_id"),
        max_by(col("value"), col("event_id")).as("click_value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("us").as("purchase_us"))
    val fresh = col("purchase_us") - col("click_us") <= tolUs
    JoinOps.asofJoinNative(purchases, clicks,
      keyCol = "user_id", leftTsCol = "purchase_us", rightTsCol = "click_us",
      rightValCols = Seq("click_us", "click_id", "click_value"))
      .select(col("purchase_id"), col("user_id"), col("purchase_us"),
        when(fresh, col("click_id")).as("recent_click_id"),
        when(fresh, round(col("click_value"), 2)).as("recent_click_value"),
        when(fresh,
          floor((col("purchase_us") - col("click_us")) / 1000000L).cast("long"))
          .as("gap_sec"))
      .orderBy(col("purchase_id"))
  }

  /** FORWARD native as-of join (pandas `merge_asof`
    * direction='forward'; DuckDB certifies with its
    * `ASOF ... ON l.ts <= r.ts` form): each purchase picks the user's
    * EARLIEST click at-or-after the purchase instant — the
    * "next reading after the probe" shape (next sensor sample after a
    * fault, next session after a campaign touch). In the exec this
    * direction is strictly cheaper than backward: the candidate IS the
    * merge's right-side lookahead row, so nothing is ever buffered or
    * copied (`AsofJoinPlan.scala` forward branch).
    */
  val q_asof_forward = QueryDef(
    "q_asof_forward",
    """WITH clicks AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS click_us,
      |    MAX(event_id) AS click_id,
      |    arg_max(value, event_id) AS click_value
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |purchases AS (
      |  SELECT event_id AS purchase_id, user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS purchase_us
      |  FROM events WHERE event_type = 'purchase')
      |SELECT p.purchase_id, p.user_id, p.purchase_us,
      |  c.click_id AS next_click_id,
      |  ROUND(c.click_value, 2) AS next_click_value,
      |  CAST((c.click_us - p.purchase_us) // 1000000 AS BIGINT) AS lead_sec
      |FROM purchases p ASOF LEFT JOIN clicks c
      |  ON p.user_id = c.user_id AND p.purchase_us <= c.click_us
      |ORDER BY purchase_id""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir).withColumn("us", unix_micros(col("ts")))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("us").as("click_us"))
      .agg(max(col("event_id")).as("click_id"),
        max_by(col("value"), col("event_id")).as("click_value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("us").as("purchase_us"))
    JoinOps.asofJoinNative(purchases, clicks,
      keyCol = "user_id", leftTsCol = "purchase_us", rightTsCol = "click_us",
      rightValCols = Seq("click_us", "click_id", "click_value"),
      direction = "forward")
      .select(col("purchase_id"), col("user_id"), col("purchase_us"),
        col("click_id").as("next_click_id"),
        round(col("click_value"), 2).as("next_click_value"),
        // lead is non-negative by the forward bound, so floor ==
        // DuckDB's truncating `//`
        floor((col("click_us") - col("purchase_us")) / 1000000L).cast("long")
          .as("lead_sec"))
      .orderBy(col("purchase_id"))
  }

  /** NEAREST native as-of join (pandas direction='nearest'): each
    * purchase picks whichever click minimizes `|click_us −
    * purchase_us|`, ties to the EARLIER (backward) click — matching
    * the exec's deterministic tie rule under the unique-(key, ts)
    * right contract. The oracle has no native nearest form, so it
    * composes DuckDB's own backward and forward ASOF joins and picks
    * per row with the same tie rule — an independent engine agreeing
    * on BOTH candidates and the selection. The exec does it in one
    * merge pass: the backward candidate is the one buffered row, the
    * forward candidate is the current lookahead — O(1) state either
    * way.
    */
  val q_asof_nearest = QueryDef(
    "q_asof_nearest",
    """WITH clicks AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS click_us,
      |    MAX(event_id) AS click_id,
      |    arg_max(value, event_id) AS click_value
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |purchases AS (
      |  SELECT event_id AS purchase_id, user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS purchase_us
      |  FROM events WHERE event_type = 'purchase'),
      |bwd AS (
      |  SELECT p.purchase_id, c.click_us, c.click_id, c.click_value
      |  FROM purchases p ASOF LEFT JOIN clicks c
      |    ON p.user_id = c.user_id AND p.purchase_us >= c.click_us),
      |fw AS (
      |  SELECT p.purchase_id, c.click_us, c.click_id, c.click_value
      |  FROM purchases p ASOF LEFT JOIN clicks c
      |    ON p.user_id = c.user_id AND p.purchase_us <= c.click_us)
      |SELECT p.purchase_id, p.user_id, p.purchase_us,
      |  CASE WHEN use_b THEN b.click_id ELSE f.click_id END AS near_click_id,
      |  ROUND(CASE WHEN use_b THEN b.click_value ELSE f.click_value END, 2)
      |    AS near_click_value,
      |  CASE WHEN use_b THEN p.purchase_us - b.click_us
      |       ELSE f.click_us - p.purchase_us END AS dist_us
      |FROM purchases p
      |LEFT JOIN bwd b USING (purchase_id)
      |LEFT JOIN fw f USING (purchase_id)
      |CROSS JOIN LATERAL (SELECT b.click_us IS NOT NULL AND (f.click_us IS NULL
      |  OR p.purchase_us - b.click_us <= f.click_us - p.purchase_us) AS use_b)
      |ORDER BY purchase_id""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir).withColumn("us", unix_micros(col("ts")))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("us").as("click_us"))
      .agg(max(col("event_id")).as("click_id"),
        max_by(col("value"), col("event_id")).as("click_value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("us").as("purchase_us"))
    JoinOps.asofJoinNative(purchases, clicks,
      keyCol = "user_id", leftTsCol = "purchase_us", rightTsCol = "click_us",
      rightValCols = Seq("click_us", "click_id", "click_value"),
      direction = "nearest")
      .select(col("purchase_id"), col("user_id"), col("purchase_us"),
        col("click_id").as("near_click_id"),
        round(col("click_value"), 2).as("near_click_value"),
        abs(col("purchase_us") - col("click_us")).cast("long").as("dist_us"))
      .orderBy(col("purchase_id"))
  }

  /** INTERPOLATION as-of join (the kdb/QuestDB `aj`+interp shape,
    * pandas `merge_asof` + `interpolate` fused): each probe reads the
    * user's click-value series at the probe instant by LINEAR
    * interpolation between the bracketing samples — prev-only edges
    * forward-fill, next-only edges back-fill. Built by CHAINING the
    * native exec: backward pass, then a forward pass whose LEFT side
    * is the backward output. [[graft.plans.AsofJoinExec]] declares
    * `outputPartitioning`/`outputOrdering` = its left child's, so the
    * second merge's required hash-distribution and (key, ts) sort are
    * ALREADY satisfied — Catalyst plans NO exchange and NO sort
    * between the two execs (plan-asserted in JoinOpsSpec): at 100 TB
    * the whole bracketing probe costs one shuffle per base input,
    * same as a single as-of.
    *
    * Exactness contract: samples quantize to cents once
    * (`FLOOR(v*100+0.5)` — the house lattice); the interpolated value
    * is `prev + FLOOR(dv * gap / span)` computed in DOUBLE with this
    * exact association — one correctly-rounded multiply and divide,
    * so both engines produce the identical double and the identical
    * floor (the products exceed BIGINT range at micro-second gaps,
    * which is why the lattice detours through DOUBLE here rather than
    * integer cross-multiplication). Degenerate spans (`next == prev
    * == probe ts`) fall to the forward-fill arm.
    * Ref: analysis/disease_analysis.py (trend interpolation between
    * sparse observations).
    */
  val q_asof_interp = QueryDef(
    "q_asof_interp",
    """WITH clicks AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS click_us,
      |    CAST(FLOOR(arg_max(value, event_id) * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |purchases AS (
      |  SELECT event_id AS purchase_id, user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS purchase_us
      |  FROM events WHERE event_type = 'purchase'),
      |bwd AS (
      |  SELECT p.purchase_id, c.click_us, c.cents
      |  FROM purchases p ASOF LEFT JOIN clicks c
      |    ON p.user_id = c.user_id AND p.purchase_us >= c.click_us),
      |fw AS (
      |  SELECT p.purchase_id, c.click_us, c.cents
      |  FROM purchases p ASOF LEFT JOIN clicks c
      |    ON p.user_id = c.user_id AND p.purchase_us <= c.click_us)
      |SELECT p.purchase_id, p.user_id, p.purchase_us,
      |  b.click_us AS prev_us, f.click_us AS next_us,
      |  CASE
      |    WHEN b.click_us IS NOT NULL AND f.click_us IS NOT NULL
      |         AND f.click_us > b.click_us THEN
      |      b.cents + CAST(FLOOR(
      |        CAST(f.cents - b.cents AS DOUBLE)
      |        * CAST(p.purchase_us - b.click_us AS DOUBLE)
      |        / CAST(f.click_us - b.click_us AS DOUBLE)) AS BIGINT)
      |    WHEN b.click_us IS NOT NULL THEN b.cents
      |    ELSE f.cents
      |  END AS interp_cents
      |FROM purchases p
      |LEFT JOIN bwd b USING (purchase_id)
      |LEFT JOIN fw f USING (purchase_id)
      |ORDER BY purchase_id""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir).withColumn("us", unix_micros(col("ts")))
    // both bracketing passes read the SAME sample series; aliased
    // branches get fresh expr-ids so exchange reuse can't dedupe them —
    // materialize once (Reuse scaladoc) instead of scanning and
    // aggregating the history twice
    val clicks = graft.ops.Reuse.materialized(
      ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("us").as("click_us"))
        .agg(floor(max_by(col("value"), col("event_id")) * 100 + 0.5)
          .cast("long").as("cents")))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("us").as("purchase_us"))
    val prev = clicks.select(col("user_id"), col("click_us").as("prev_us"),
      col("cents").as("prev_cents"))
    val next = clicks.select(col("user_id"), col("click_us").as("next_us"),
      col("cents").as("next_cents"))
    val bracketed = JoinOps.asofJoinNative(
      JoinOps.asofJoinNative(purchases, prev,
        keyCol = "user_id", leftTsCol = "purchase_us", rightTsCol = "prev_us",
        rightValCols = Seq("prev_us", "prev_cents")),
      next,
      keyCol = "user_id", leftTsCol = "purchase_us", rightTsCol = "next_us",
      rightValCols = Seq("next_us", "next_cents"), direction = "forward")
    val span = col("next_us") - col("prev_us")
    bracketed.select(
      col("purchase_id"), col("user_id"), col("purchase_us"),
      col("prev_us"), col("next_us"),
      when(col("prev_us").isNotNull && col("next_us").isNotNull && span > 0,
        col("prev_cents") + floor(
          (col("next_cents") - col("prev_cents")).cast("double")
            * (col("purchase_us") - col("prev_us")).cast("double")
            / span.cast("double")).cast("long"))
        .when(col("prev_us").isNotNull, col("prev_cents"))
        .otherwise(col("next_cents"))
        .as("interp_cents"))
      .orderBy(col("purchase_id"))
  }

  /** Explicit GROUPING SETS — the custom subtotal lattice CUBE/ROLLUP
    * can't express: just the two independent marginals
    * (per-type, per-day-of-week) plus the grand total, with
    * GROUPING() flags disambiguating subtotal NULLs from data NULLs.
    * Declared through `spark.sql` over a temp view (the DataFrame API
    * has cube/rollup only); Catalyst plans the same single Expand +
    * hash aggregate as CUBE, pruned to the three requested sets.
    */
  val q_grouping_sets = QueryDef(
    "q_grouping_sets",
    """SELECT event_type,
      |  isodow(CAST(date_trunc('day', ts) AS DATE)) - 1 AS dow,
      |  CAST(GROUPING(event_type) AS BIGINT) AS g_type,
      |  CAST(GROUPING(isodow(CAST(date_trunc('day', ts) AS DATE)) - 1)
      |    AS BIGINT) AS g_dow,
      |  COUNT(*) AS n
      |FROM events
      |GROUP BY GROUPING SETS ((1), (2), ())
      |ORDER BY g_type, g_dow, event_type NULLS FIRST, dow NULLS FIRST"""
      .stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .withColumn("dow",
        weekday(date_trunc("day", col("ts")).cast("date")).cast("long"))
      .createOrReplaceTempView("graft_events_gs")
    spark.sql(
      """SELECT event_type, dow,
        |  CAST(grouping(event_type) AS BIGINT) AS g_type,
        |  CAST(grouping(dow) AS BIGINT) AS g_dow,
        |  COUNT(*) AS n
        |FROM graft_events_gs
        |GROUP BY GROUPING SETS ((event_type), (dow), ())
        |ORDER BY g_type, g_dow, event_type NULLS FIRST, dow NULLS FIRST"""
        .stripMargin)
  }

  /** Time-weighted average of event values per user — the
    * metrics/feature-engineering aggregate where each observation
    * holds until the next one (meter readings, prices, state
    * levels): weight = interval to the next event in µs. All
    * arithmetic integer (cent-quantized values × µs durations;
    * products bounded ≪ 2^63), so sums are order-free and the final
    * ratio is exact floor division on both engines. One window + one
    * aggregate over the same user partitioning = one shuffle.
    */
  val q_time_weighted = QueryDef(
    "q_time_weighted",
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc, event_id
      |  FROM events),
      |d AS (
      |  SELECT user_id, vc,
      |    LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us
      |      AS dur
      |  FROM e)
      |SELECT user_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_intervals,
      |  CAST(SUM(vc * dur) AS BIGINT) AS weighted_sum,
      |  CAST(SUM(dur) AS BIGINT) AS total_dur,
      |  CASE WHEN SUM(dur) > 0
      |    THEN CAST(SUM(vc * dur) // SUM(dur) AS BIGINT) END AS twa_cents
      |FROM d WHERE dur IS NOT NULL
      |GROUP BY 1 ORDER BY user_id""".stripMargin) { (spark, dir) =>
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        floor(col("value") * 100 + 0.5).cast("long").as("vc"), col("event_id"))
      .withColumn("dur", lead(col("us"), 1).over(ord) - col("us"))
      .filter(col("dur").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("vc") * col("dur")).as("weighted_sum"),
        sum(col("dur")).as("total_dur"))
      .select(col("user_id"), col("n_intervals"), col("weighted_sum"),
        col("total_dur"),
        when(col("total_dur") > 0,
          expr("weighted_sum div total_dur")).as("twa_cents"))
      .orderBy(col("user_id"))
  }

  /** ROLLUP over (event_type, day-of-week): the hierarchical subtotal
    * companion to q_cube_counts' full CUBE — grand total, per-type,
    * per-(type, dow). */
  val q_rollup_counts = QueryDef(
    "q_rollup_counts",
    // cent-quantize BEFORE summing: the grand-total row sums the whole
    // table's doubles, where engine summation order diverges in the
    // last ulps — integer cent sums are order-free (PERF.md policy)
    """SELECT event_type, isodow(CAST(date_trunc('day', ts) AS DATE)) - 1 AS dow,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
      |    AS total_value
      |FROM events GROUP BY ROLLUP (1, 2)
      |ORDER BY event_type NULLS FIRST, dow NULLS FIRST""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .withColumn("dow", weekday(date_trunc("day", col("ts")).cast("date")).cast("long"))
      .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      .rollup(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n"),
        (sum(col("cents")) / lit(100.0)).as("total_value"))
      .orderBy(col("event_type").asc_nulls_first, col("dow").asc_nulls_first)
  }

  /** Gap-based sessionization (30-minute inactivity threshold): session
    * boundaries via lag + cumulative sum, then per-user session stats.
    * The canonical event-stream operator the reference's Kafka surface
    * implies but never materializes.
    */
  val q_sessions = QueryDef(
    "q_sessions",
    """WITH ordered AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    CASE WHEN LAG(event_id) OVER
      |        (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL
      |        OR epoch_us(CAST(ts AS TIMESTAMP))
      |          - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER
      |            (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
      |          > 1800000000 THEN 1 ELSE 0 END AS new_session,
      |    event_id
      |  FROM events),
      |sess AS (
      |  SELECT user_id, us,
      |    SUM(new_session) OVER (PARTITION BY user_id
      |      ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM ordered),
      |per_session AS (
      |  SELECT user_id, session_id, COUNT(*) AS n_events,
      |    (MAX(us) - MIN(us)) / 1000000.0 AS duration_sec
      |  FROM sess GROUP BY 1, 2)
      |SELECT user_id, COUNT(*) AS n_sessions,
      |  CAST(SUM(n_events) AS BIGINT) AS total_events,
      |  ROUND(AVG(n_events), 4) AS avg_events_per_session,
      |  ROUND(AVG(duration_sec), 4) AS avg_session_sec
      |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin) { (spark, dir) =>
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = col("us") - lag(col("us"), 1).over(byUser)
    val sessions = Tables.events(spark, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("new_session",
        when(lag(col("us"), 1).over(byUser).isNull || gapUs > 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(
          Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
            .rowsBetween(Window.unboundedPreceding, 0)))
    sessions
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        ((max(col("us")) - min(col("us"))) / 1000000.0).as("duration_sec"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("total_events"),
        round(avg(col("n_events")), 4).as("avg_events_per_session"),
        round(avg(col("duration_sec")), 4).as("avg_session_sec"))
      .orderBy(col("user_id"))
  }

  /** Cross-series correlation — official-vs-informal metric A17
    * (`app_upgraded.py:614-615`) over per-day type counts. */
  val q_daily_corr = QueryDef(
    "q_daily_corr",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
      |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
      |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views
      |  FROM events GROUP BY 1)
      |SELECT ROUND(CORR(clicks, purchases), 4) AS click_purchase_corr,
      |  ROUND(CORR(errors, views), 4) AS error_view_corr,
      |  COUNT(*) AS n_days
      |FROM daily""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(
        sum(when(col("event_type") === "click", 1).otherwise(0)).as("clicks"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("purchases"),
        sum(when(col("event_type") === "error", 1).otherwise(0)).as("errors"),
        sum(when(col("event_type") === "view", 1).otherwise(0)).as("views"))
      .agg(round(corr(col("clicks"), col("purchases")), 4).as("click_purchase_corr"),
        round(corr(col("errors"), col("views")), 4).as("error_view_corr"),
        count(lit(1)).as("n_days"))
  }

  /** Serial autocorrelation of the per-type daily series at lags 1 and
    * 7 — the persistence/weekly-seasonality read a forecasting pipeline
    * checks before picking model structure (high lag-7 → weekly terms
    * earn their keep; near-zero lag-1 → yesterday predicts nothing).
    * Day pairs come from an equi-join on `day + lag` (gap days simply
    * produce no pair — defined, not NaN), so no single-partition
    * window touches raw events; CORR runs over the tiny daily rollup
    * with exact integer inputs, same contract as q_daily_corr.
    */
  val q_autocorr = QueryDef(
    "q_autocorr",
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2)
      |SELECT a.event_type, CAST(l.lag AS BIGINT) AS lag,
      |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  ROUND(CORR(a.cnt, b.cnt), 4) AS autocorr
      |FROM daily a
      |JOIN (VALUES (1), (7)) l(lag) ON TRUE
      |JOIN daily b ON b.event_type = a.event_type
      |  AND b.day = a.day + l.lag
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val a = daily.crossJoin(broadcast(Seq(1, 7).toDF("lag")))
    a.as("a").join(daily.as("b"),
        col("b.event_type") === col("a.event_type") &&
          col("b.day") === date_add(col("a.day"), col("a.lag")))
      .groupBy(col("a.event_type").as("event_type"),
        col("a.lag").cast("long").as("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        round(corr(col("a.cnt"), col("b.cnt")), 4).as("autocorr"))
      .orderBy(col("event_type"), col("lag"))
  }

  /** Early-detection spike analysis A20 (`app_upgraded.py:631-652`):
    * per type, days above 1.5× the series mean, and the first such day.
    */
  val q_early_detection = QueryDef(
    "q_early_detection",
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |with_mean AS (
      |  SELECT *, AVG(cnt) OVER (PARTITION BY event_type) AS mean_cnt
      |  FROM daily)
      |SELECT event_type, ROUND(MAX(mean_cnt), 4) AS series_mean,
      |  CAST(SUM(CASE WHEN cnt > 1.5 * mean_cnt THEN 1 ELSE 0 END) AS BIGINT) AS n_spike_days,
      |  MIN(CASE WHEN cnt > 1.5 * mean_cnt THEN day END) AS first_spike_day
      |FROM with_mean GROUP BY event_type ORDER BY event_type""".stripMargin) { (spark, dir) =>
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val withMean = daily.withColumn("mean_cnt",
      avg(col("cnt")).over(Window.partitionBy(col("event_type"))))
    withMean
      .groupBy(col("event_type"))
      .agg(round(max(col("mean_cnt")), 4).as("series_mean"),
        sum(when(col("cnt") > lit(1.5) * col("mean_cnt"), 1).otherwise(0)).as("n_spike_days"),
        min(when(col("cnt") > lit(1.5) * col("mean_cnt"), col("day"))).as("first_spike_day"))
      .orderBy(col("event_type"))
  }

  /** Cross-source detection lag — the reference dashboard's headline
    * "informal signals lead official ones by N days" metric
    * (`app_upgraded.py:631-652`): per (informal, official) series pair,
    * the datediff between their first spike days. Informal proxies:
    * click/view; official: purchase/signup/error.
    */
  val q_detection_lag = QueryDef(
    "q_detection_lag",
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |wm AS (
      |  SELECT *, AVG(cnt) OVER (PARTITION BY event_type) AS mean_cnt
      |  FROM daily),
      |fs AS (
      |  SELECT event_type,
      |    MIN(CASE WHEN cnt > 1.5 * mean_cnt THEN day END) AS first_spike
      |  FROM wm GROUP BY event_type)
      |SELECT i.event_type AS informal_type, o.event_type AS official_type,
      |  i.first_spike AS informal_first, o.first_spike AS official_first,
      |  CAST(date_diff('day', i.first_spike, o.first_spike) AS BIGINT) AS lead_days
      |FROM fs i JOIN fs o
      |  ON i.event_type IN ('click', 'view')
      | AND o.event_type IN ('purchase', 'signup', 'error')
      |ORDER BY informal_type, official_type""".stripMargin) { (spark, dir) =>
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val withMean = daily.withColumn("mean_cnt",
      avg(col("cnt")).over(Window.partitionBy(col("event_type"))))
    val firstSpike = withMean
      .groupBy(col("event_type"))
      .agg(min(when(col("cnt") > lit(1.5) * col("mean_cnt"), col("day")))
        .as("first_spike"))
    val informal = firstSpike
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type").as("informal_type"),
        col("first_spike").as("informal_first"))
    val official = firstSpike
      .filter(col("event_type").isin("purchase", "signup", "error"))
      .select(col("event_type").as("official_type"),
        col("first_spike").as("official_first"))
    informal.crossJoin(broadcast(official))
      .withColumn("lead_days",
        datediff(col("official_first"), col("informal_first")).cast("long"))
      .select(col("informal_type"), col("official_type"),
        col("informal_first"), col("official_first"), col("lead_days"))
      .orderBy(col("informal_type"), col("official_type"))
  }

  /** Exact interpolated percentiles per group (the latency/size
    * distribution panel every dashboard needs; at 100 TB the same
    * query ships as approx_percentile — t-digest sketch, one pass).
    */
  val q_percentiles = QueryDef(
    "q_percentiles",
    """SELECT event_type,
      |  ROUND(quantile_cont(value, 0.5), 4) AS p50,
      |  ROUND(quantile_cont(value, 0.9), 4) AS p90,
      |  ROUND(quantile_cont(value, 0.99), 4) AS p99
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        round(percentile(col("value"), lit(0.5)), 4).as("p50"),
        round(percentile(col("value"), lit(0.9)), 4).as("p90"),
        round(percentile(col("value"), lit(0.99)), 4).as("p99"))
      .orderBy(col("event_type"))
  }

  /** Ranking-function family (rank / dense_rank / ntile) over per-user
    * spend — beyond reference parity (the reference imports but never
    * uses them); ranks computed over ROUNDED totals so cross-engine
    * float summation order cannot flip near-ties.
    */
  val q_value_ranks = QueryDef(
    "q_value_ranks",
    """WITH spend AS (
      |  SELECT user_id, event_type, ROUND(SUM(value), 2) AS total
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, user_id, total,
      |  RANK() OVER (PARTITION BY event_type ORDER BY total DESC) AS rnk,
      |  DENSE_RANK() OVER (PARTITION BY event_type ORDER BY total DESC) AS drnk,
      |  CAST(NTILE(4) OVER (PARTITION BY event_type
      |    ORDER BY total DESC, user_id) AS BIGINT) AS quartile
      |FROM spend ORDER BY event_type, rnk, user_id""".stripMargin) { (spark, dir) =>
    val spend = Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(round(sum("value"), 2).as("total"))
    val byTotal = Window.partitionBy(col("event_type")).orderBy(col("total").desc)
    val stable = Window.partitionBy(col("event_type"))
      .orderBy(col("total").desc, col("user_id"))
    spend.select(col("event_type"), col("user_id"), col("total"),
      rank().over(byTotal).cast("long").as("rnk"),
      dense_rank().over(byTotal).cast("long").as("drnk"),
      ntile(4).over(stable).cast("long").as("quartile"))
      .orderBy(col("event_type"), col("rnk"), col("user_id"))
  }

  /** Pivot: daily counts spread into one column per event type (the
    * dashboard wide-table shape; Spark's native pivot operator, oracle
    * as conditional aggregation — identical results).
    */
  val q_pivot_daily = QueryDef(
    "q_pivot_daily",
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
      |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .withColumn("day", date_trunc("day", col("ts")).cast("date"))
      .groupBy(col("day"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy(col("day"))
  }

  /** VALUE-RANGE window frame — "activity in the trailing 24 h of
    * event time", the frame family every ROWS-based rolling window
    * (W2) gets WRONG on a gappy axis: ROWS n PRECEDING counts
    * neighbors, RANGE counts an interval, and per-user event streams
    * are nothing but gaps. The frame is anchored on epoch-micros
    * (`RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW`), and —
    * unlike ROWS — tied timestamps are ALL peers of the frame, so the
    * result is deterministic without a tie-breaking sort column.
    */
  val q_range_window = QueryDef(
    "q_range_window",
    """WITH ev AS (
      |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events)
      |SELECT event_id, user_id,
      |  CAST(COUNT(*) OVER w AS BIGINT) AS n_24h,
      |  CAST(SUM(cents) OVER w AS BIGINT) AS cents_24h
      |FROM ev
      |WINDOW w AS (PARTITION BY user_id ORDER BY us
      |  RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-86400000000L, 0)
    Tables.events(spark, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_24h"),
        sum(col("cents")).over(w).as("cents_24h"))
      .orderBy(col("event_id"))
  }

  /** UNPIVOT (melt) — the inverse reshaping of [[q_pivot_daily]]:
    * the wide per-type count matrix back to long (day, event_type, n)
    * form via `DataFrame.unpivot`, which Catalyst plans as a single
    * Expand (one pass, rows×types output, no join). The round-trip
    * matters operationally: wide is the dashboard/report layout, long
    * is the layout every aggregation and ML pipeline wants back.
    * Zero-filled combinations survive the round trip (the pivot
    * materializes absent (day, type) cells as 0), so the oracle is
    * the days × types frame left-joined to the actual counts — NOT a
    * plain GROUP BY, which would lack the explicit zeros.
    */
  val q_unpivot_daily = QueryDef(
    "q_unpivot_daily",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |days AS (SELECT DISTINCT day FROM daily),
      |types(event_type) AS (VALUES ('click'), ('error'), ('purchase'),
      |  ('signup'), ('view'))
      |SELECT d.day, t.event_type, CAST(COALESCE(x.n, 0) AS BIGINT) AS n
      |FROM days d CROSS JOIN types t
      |LEFT JOIN daily x ON x.day = d.day AND x.event_type = t.event_type
      |ORDER BY d.day, t.event_type""".stripMargin) { (spark, dir) =>
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(spark, dir)
      .withColumn("day", date_trunc("day", col("ts")).cast("date"))
      .groupBy(col("day"))
      .pivot("event_type", types)
      .count()
      .na.fill(0L)
      .unpivot(Array(col("day")), types.map(col).toArray, "event_type", "n")
      .orderBy(col("day"), col("event_type"))
  }

  /** Histogram binning of the value distribution (width_bucket — the
    * SQL-standard equi-width histogram both engines implement
    * identically).
    */
  val q_value_histogram = QueryDef(
    "q_value_histogram",
    """SELECT CASE WHEN value < 0 THEN 0 WHEN value >= 500 THEN 11
      |       ELSE CAST(FLOOR(value / 50.0) AS BIGINT) + 1 END AS bucket,
      |  COUNT(*) AS n, ROUND(SUM(value), 2) AS bucket_total
      |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(width_bucket(col("value"), lit(0.0), lit(500.0), lit(10)).as("bucket"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("bucket_total"))
      .orderBy(col("bucket"))
  }

  /** Hot-key-safe aggregation: event counts via explicit salted
    * two-phase aggregation (`SkewOps.twoPhaseCount`, 8 salts) and
    * exact distinct users via dedupe-then-count — the two shapes that
    * keep a skewed key off a single reducer at 100 TB. The oracle is
    * the PLAIN aggregation: salting must be result-invariant, and the
    * hash check proves it every round.
    */
  val q_salted_agg = QueryDef(
    "q_salted_agg",
    """SELECT event_type, COUNT(*) AS n,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val counts = graft.ops.SkewOps.twoPhaseCount(ev, Seq("event_type"), saltFactor = 8)
    val users = ev.select(col("event_type"), col("user_id")).distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
    counts.join(users, "event_type")
      .select(col("event_type"), col("n"), col("n_users"))
      .orderBy(col("event_type"))
  }

  /** HyperLogLog distinct sketch per event type, next to the exact
    * count — the repo's certified approximate-count-distinct
    * ([[graft.ops.SketchOps]]): portable hash, integer-exact
    * order-free register sums, `bin()`-based ranks, raw-estimator
    * arithmetic identical in both engines, so a SKETCH is
    * hash-certified, not rows-only. Keyed on event_id (the
    * high-cardinality regime where the raw estimator operates).
    */
  val q_hll_distinct = QueryDef(
    "q_hll_distinct",
    graft.ops.SketchOps.hllDistinctOracleSql("events", "event_type", "event_id")) {
    (spark, dir) =>
      graft.ops.SketchOps.hllDistinct(
        Tables.events(spark, dir), "event_type", "event_id")
        .orderBy(col("event_type"))
  }

  /** Distribution-position window functions (PERCENT_RANK/CUME_DIST)
    * over daily spend per event type — the remaining §2.5 ranking
    * family members beyond rank/dense_rank/ntile (q_value_ranks).
    * Both are exact small-integer ratios, so the doubles are
    * bit-identical across engines. */
  val q_rank_dist = QueryDef(
    "q_rank_dist",
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |    ROUND(SUM(value), 2) AS total
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, day, total,
      |  ROUND(PERCENT_RANK() OVER (PARTITION BY event_type ORDER BY total), 6)
      |    AS pct_rank,
      |  ROUND(CUME_DIST() OVER (PARTITION BY event_type ORDER BY total), 6)
      |    AS cdist
      |FROM daily ORDER BY event_type, day""".stripMargin) { (spark, dir) =>
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(round(sum(col("value")), 2).as("total"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("total"))
    daily.select(col("event_type"), col("day"), col("total"),
      round(percent_rank().over(w), 6).as("pct_rank"),
      round(cume_dist().over(w), 6).as("cdist"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Robust statistics per event type: median, MAD (median absolute
    * deviation) and the p05/p95-winsorized mean — the outlier-immune
    * profile a data-quality monitor keys on where plain mean/stddev
    * are skew-hostage. MAD needs the median joined back (two
    * aggregation passes, the unavoidable shape); the winsorized mean
    * follows the repo float policy (clip, micro-quantize per term,
    * order-free integer SUM, floor-quantized ratio).
    */
  val q_robust_stats = QueryDef(
    "q_robust_stats",
    """WITH q AS (
      |  SELECT event_type,
      |    quantile_cont(value, 0.5) AS med,
      |    quantile_cont(value, 0.05) AS p05,
      |    quantile_cont(value, 0.95) AS p95
      |  FROM events GROUP BY 1),
      |d AS (
      |  SELECT e.event_type, q.med,
      |    ABS(e.value - q.med) AS adev,
      |    LEAST(GREATEST(e.value, q.p05), q.p95) AS wv
      |  FROM events e JOIN q USING (event_type))
      |SELECT event_type,
      |  ROUND(MAX(med), 4) AS p50,
      |  ROUND(quantile_cont(adev, 0.5), 4) AS mad,
      |  FLOOR((CAST(SUM(CAST(FLOOR(wv * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
      |    / COUNT(*)) / 100 + 0.5) / 10000 AS wins_mean
      |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val q = ev.groupBy(col("event_type")).agg(
      percentile(col("value"), lit(0.5)).as("med"),
      percentile(col("value"), lit(0.05)).as("p05"),
      percentile(col("value"), lit(0.95)).as("p95"))
    val d = ev.join(q, "event_type")
      .select(col("event_type"), col("med"),
        abs(col("value") - col("med")).as("adev"),
        least(greatest(col("value"), col("p05")), col("p95")).as("wv"))
    d.groupBy(col("event_type")).agg(
      round(max(col("med")), 4).as("p50"),
      round(percentile(col("adev"), lit(0.5)), 4).as("mad"),
      (floor((sum(floor(col("wv") * 1000000 + 0.5).cast("long")).cast("double")
        / count(lit(1))) / 100 + 0.5) / 10000).as("wins_mean"))
      .orderBy(col("event_type"))
  }

  /** Ordered-sequence funnel (signup → view → click → purchase): each
    * step counts users whose earliest qualifying event strictly
    * follows their previous step's time — the dashboard's conversion
    * view (`app_upgraded.py` event-sequence analog) and the standard
    * product-analytics operator the reference computes per borough.
    * Only COUNTS leave the engine (pure integers), so the nanosecond
    * source timestamps never cross the engine/oracle boundary. Scale
    * shape: four shuffle-on-user aggregations, each strictly smaller
    * than the last; no window over the full event log.
    */
  val q_funnel = QueryDef(
    "q_funnel",
    """WITH s1 AS (
      |  SELECT user_id, MIN(ts) AS t FROM events
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
      |  JOIN s1 ON s1.user_id = e.user_id
      |  WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
      |  JOIN s2 ON s2.user_id = e.user_id
      |  WHERE e.event_type = 'click' AND e.ts > s2.t GROUP BY e.user_id),
      |s4 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
      |  JOIN s3 ON s3.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY e.user_id)
      |SELECT CAST(1 AS BIGINT) AS step, 'signup' AS event_type,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_users
      |UNION ALL SELECT 2, 'view', (SELECT CAST(COUNT(*) AS BIGINT) FROM s2)
      |UNION ALL SELECT 3, 'click', (SELECT CAST(COUNT(*) AS BIGINT) FROM s3)
      |UNION ALL SELECT 4, 'purchase', (SELECT CAST(COUNT(*) AS BIGINT) FROM s4)
      |ORDER BY step""".stripMargin) { (spark, dir) =>
    // four passes over events → materialize the 3-column projection once
    val ev = graft.ops.Reuse.materialized(
      Tables.events(spark, dir).select(col("user_id"), col("event_type"), col("ts")))
    def nextStep(prev: org.apache.spark.sql.DataFrame, typ: String) =
      ev.filter(col("event_type") === typ)
        .join(prev.select(col("user_id"), col("t").as("tprev")), "user_id")
        .filter(col("ts") > col("tprev"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
    val s2 = nextStep(s1, "view")
    val s3 = nextStep(s2, "click")
    val s4 = nextStep(s3, "purchase")
    def row(step: Int, typ: String, df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(step.toLong).as("step"), lit(typ).as("event_type"),
          col("n_users"))
    row(1, "signup", s1).union(row(2, "view", s2))
      .union(row(3, "click", s3)).union(row(4, "purchase", s4))
      .orderBy(col("step"))
  }

  /** Weekly cohort retention: users bucketed by the week of their
    * first event; each later active week increments that cohort's
    * (week_n) cell — the reference dashboard's "recurring users" view
    * as the standard triangular retention matrix. All-integer date
    * arithmetic (`date_trunc('week')`, day-diff DIV 7) so both engines
    * agree exactly. Scale: one groupBy(user) for cohorts + one
    * distinct-count aggregation — no windows over the raw log.
    */
  val q_retention = QueryDef(
    "q_retention",
    """WITH ev AS (
      |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events),
      |f AS (
      |  SELECT user_id, CAST(date_trunc('week', MIN(d)) AS DATE) AS cw
      |  FROM ev GROUP BY 1)
      |SELECT f.cw AS cohort_week, date_diff('day', f.cw, e.d) // 7 AS week_n,
      |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
      |FROM ev e JOIN f ON f.user_id = e.user_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    val ev = graft.ops.Reuse.materialized(
      Tables.events(spark, dir)
        .select(col("user_id"), to_date(col("ts")).as("d")))
    val firsts = ev.groupBy(col("user_id"))
      .agg(to_date(date_trunc("week", min(col("d")))).as("cw"))
    ev.join(firsts, "user_id")
      .groupBy(col("cw").as("cohort_week"),
        expr("datediff(d, cw) DIV 7").as("week_n"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_n"))
  }

  /** First-order Markov transition matrix over each user's event
    * sequence (the funnel's generalization): counts and quantized
    * row-normalized probabilities for every (src → next) event-type
    * pair. LEAD over (ts, event_id) with the microsecond-truncated
    * timestamp on both engines (the established ordering contract).
    */
  val q_markov = QueryDef(
    "q_markov",
    """WITH seq AS (
      |  SELECT user_id, event_type AS src,
      |    LEAD(event_type) OVER (
      |      PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS dst
      |  FROM events),
      |c AS (
      |  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT src, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY 1)
      |SELECT c.src, c.dst, c.n,
      |  FLOOR(CAST(c.n AS DOUBLE) / t.tot * 1000000 + 0.5) / 1000000.0 AS p
      |FROM c JOIN t ON t.src = c.src
      |ORDER BY c.src, c.dst""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val seq = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type").as("src"), col("ts"), col("event_id"))
      .withColumn("dst", lead(col("src"), 1).over(w))
      .filter(col("dst").isNotNull)
    // c feeds t and the join, but both references share one analyzed
    // subplan: exchange reuse computes the window+aggregate shuffles
    // once, and only the 25-row final aggregate re-runs per branch —
    // cheaper than an eager persist job + row copies
    val c = seq.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
    val t = c.groupBy(col("src")).agg(sum(col("n")).as("tot"))
    c.join(t, "src")
      .select(col("src"), col("dst"), col("n"),
        (floor(col("n").cast("double") / col("tot") * 1000000 + 0.5) / 1000000.0)
          .as("p"))
      .orderBy(col("src"), col("dst"))
  }

  /** GROUPED top-k through the bounded-heap aggregate: the top-3
    * spend days per event type, certified against the classic
    * window-rank oracle (`ROW_NUMBER() OVER (PARTITION BY …) <= 3`).
    * The window shape shuffles and SORTS every daily row of every
    * group; [[graft.functions.TopKRows]] shuffles only ≤ k-row partial
    * heaps per (partition, group) — the top-N-per-group plan that
    * survives a group with a billion rows at 100 TB. Spend is
    * cents-quantized before summing (order-free integer adds, repo
    * float policy).
    */
  val q_topk_daily = QueryDef(
    "q_topk_daily",
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
      |    CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY event_type ORDER BY cents DESC, day) AS rn
      |  FROM daily)
      |SELECT event_type, day, cents FROM r WHERE rn <= 3
      |ORDER BY event_type, cents DESC, day""".stripMargin) { (spark, dir) =>
    graft.Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      .groupBy(col("event_type"))
      .agg(graft.functions.TopKRows.topK(
        struct((-col("cents")).as("nc"), col("day").as("day")), 3).as("top"))
      .select(col("event_type"), explode(col("top")).as("t"))
      .select(col("event_type"), col("t.day").as("day"),
        (-col("t.nc")).as("cents"))
      .orderBy(col("event_type"), col("cents").desc, col("day"))
  }

  /** SCD2 (slowly-changing-dimension type 2) interval build from an
    * event log: per user, compress consecutive same-type events into
    * change rows, then derive each version's validity interval
    * [valid_from, valid_to) with LEAD — the open current version
    * carries NULL valid_to. The dimension-history construction every
    * warehouse load performs (reference analogue: keep-latest upsert
    * `psql_db_client.py:240-268`, generalized to full history). Two
    * windows over the SAME (user_id, ts, event_id) ordering contract →
    * one shuffle; at 100 TB this partitions by user with no skew
    * (bounded per-user history).
    */
  val q_scd2 = QueryDef(
    "q_scd2",
    """WITH e AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
      |    LAG(event_type) OVER (
      |      PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
      |      AS prev
      |  FROM events),
      |ch AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS valid_to
      |  FROM e WHERE prev IS NULL OR prev <> event_type)
      |SELECT user_id, event_type,
      |  epoch_us(ts) AS valid_from_us, epoch_us(valid_to) AS valid_to_us
      |FROM ch ORDER BY user_id, valid_from_us""".stripMargin) { (spark, dir) =>
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val changes = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("event_type"), 1).over(ord))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
    changes
      .withColumn("valid_to", lead(col("ts"), 1).over(ord))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("valid_from_us"),
        unix_micros(col("valid_to")).as("valid_to_us"))
      .orderBy(col("user_id"), col("valid_from_us"))
  }

  /** CDC changelog apply (MERGE semantics): a keyed snapshot (latest
    * state per user before the cutoff) has a changelog (events at/after
    * the cutoff) applied to it — upserts replace the row, deletes
    * (`error` events as tombstones) remove it, last writer wins under
    * the total (ts, event_id) order. The warehouse `MERGE INTO` /
    * Debezium-apply operator the reference's keep-latest upsert
    * (`psql_db_client.py:240-268`) is the degenerate no-delete case of.
    * Both the snapshot compaction and the merge are one row_number
    * window over the SAME user partitioning; at 100 TB the changelog
    * side is far smaller than the snapshot, so the union shuffles
    * changelog-bounded extra bytes only.
    */
  val q_cdc_apply = QueryDef(
    "q_cdc_apply",
    """WITH ev AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
      |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |snap AS (
      |  SELECT user_id, op, cents,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY us DESC, event_id DESC) AS rn
      |  FROM ev WHERE us < epoch_us(TIMESTAMP '2024-01-16 00:00:00')),
      |base AS (
      |  SELECT user_id, CAST(-1 AS BIGINT) AS us, CAST(0 AS BIGINT) AS event_id,
      |    op, cents
      |  FROM snap WHERE rn = 1 AND op = 'U'),
      |chg AS (
      |  SELECT user_id, us, event_id, op, cents FROM ev
      |  WHERE us >= epoch_us(TIMESTAMP '2024-01-16 00:00:00')),
      |merged AS (
      |  SELECT user_id, us, op, cents,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY us DESC, event_id DESC) AS rn
      |  FROM (SELECT * FROM base UNION ALL SELECT * FROM chg))
      |SELECT user_id, cents AS value_cents,
      |  CASE WHEN us = -1 THEN 'base' ELSE 'chg' END AS src
      |FROM merged WHERE rn = 1 AND op = 'U'
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    val cutoffUs = java.time.Instant.parse("2024-01-16T00:00:00Z")
      .getEpochSecond * 1000000L
    val ev = Tables.events(spark, dir).select(
      col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"),
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val wDesc = Window.partitionBy(col("user_id"))
      .orderBy(col("us").desc, col("event_id").desc)
    val base = ev.filter(col("us") < cutoffUs)
      .withColumn("rn", row_number().over(wDesc))
      .filter(col("rn") === 1 && col("op") === "U")
      .select(col("user_id"), lit(-1L).as("us"), lit(0L).as("event_id"),
        col("op"), col("cents"))
    val chg = ev.filter(col("us") >= cutoffUs)
      .select("user_id", "us", "event_id", "op", "cents")
    base.unionByName(chg)
      .withColumn("rn", row_number().over(wDesc))
      .filter(col("rn") === 1 && col("op") === "U")
      .select(col("user_id"), col("cents").as("value_cents"),
        when(col("us") === -1L, lit("base")).otherwise(lit("chg")).as("src"))
      .orderBy(col("user_id"))
  }

  /** Exact rolling 7-day median of per-user daily spend — the robust
    * rolling statistic W2's mean/std can't give. The frame is bounded
    * (ROWS 6 PRECEDING), so the engine materializes the ≤7-element
    * window as a sorted array and takes the middle — constant work per
    * row, no per-frame re-sort at scale, and the daily pre-aggregation
    * means the window input is days, not raw events. Cents are integer
    * so the even-count midpoint average (x.5) is exact in double on
    * both engines.
    */
  val q_rolling_median = QueryDef(
    "q_rolling_median",
    """WITH daily AS (
      |  SELECT user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2)
      |SELECT user_id, day, cents,
      |  median(cents) OVER (PARTITION BY user_id ORDER BY day
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7
      |FROM daily ORDER BY user_id, day""".stripMargin) { (spark, dir) =>
    val daily = Tables.events(spark, dir)
      .groupBy(col("user_id"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(-6, 0)
    daily
      .withColumn("arr", sort_array(collect_list(col("cents")).over(w)))
      .withColumn("n", size(col("arr")))
      .select(col("user_id"), col("day"), col("cents"),
        when(col("n") % 2 === 1,
          element_at(col("arr"), expr("cast((n + 1) div 2 as int)")).cast("double"))
          .otherwise((element_at(col("arr"), expr("cast(n div 2 as int)")) +
            element_at(col("arr"), expr("cast(n div 2 + 1 as int)"))) / 2.0)
          .as("med7"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Per-stratum equi-depth binning (NTILE deciles over a TOTAL
    * (cents, event_id) order, so tie placement is deterministic) — the
    * feature-engineering discretizer. The window partitions by
    * event_type, so strata sort independently in parallel; a GLOBAL
    * equi-depth bin at 100 TB would instead compute decile boundaries
    * with the mergeable quantile sketch (q_quantile_sketch) and assign
    * by range lookup — this query is the per-group shape where the
    * stratum fits a partition's sort.
    */
  val q_equidepth_bins = QueryDef(
    "q_equidepth_bins",
    """WITH t AS (
      |  SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
      |    ntile(10) OVER (PARTITION BY event_type
      |      ORDER BY CAST(FLOOR(value * 100 + 0.5) AS BIGINT), event_id) AS bin
      |  FROM events)
      |SELECT event_type, bin, COUNT(*) AS n,
      |  MIN(cents) AS lo, MAX(cents) AS hi
      |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("cents"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .withColumn("bin", ntile(10).over(w).cast("long"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n"), min(col("cents")).as("lo"),
        max(col("cents")).as("hi"))
      .orderBy(col("event_type"), col("bin"))
  }

  /** Exact integer EWMA (α = 1/2) over each user's last ≤32 events:
    * s₁ = x₁, sᵢ = (sᵢ₋₁ + xᵢ)/2, published as the exact integer
    * fraction sₙ·2ⁿ⁻¹ / 2ⁿ⁻¹ — the closed form Σ xᵢ·wᵢ with w₁ = 1,
    * wᵢ = 2ⁱ⁻² needs no recursion, so the "inherently sequential"
    * smoother becomes one window (tail selection + index) plus one
    * order-free integer aggregate. The 32-event tail bounds the weights
    * at 2³⁰ (no overflow: cents·2³⁰ ≪ 2⁶³) and is also the right
    * semantics — weights below 2⁻³² are noise.
    */
  val q_ewma = QueryDef(
    "q_ewma",
    """WITH ev AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |recent AS (
      |  SELECT user_id, cents,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY us DESC, event_id DESC) AS rdesc
      |  FROM ev),
      |win AS (
      |  SELECT user_id, cents,
      |    (COUNT(*) OVER (PARTITION BY user_id)) - rdesc + 1 AS i,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n
      |  FROM recent WHERE rdesc <= 32),
      |agg AS (
      |  SELECT user_id, CAST(MAX(n) AS BIGINT) AS n_used,
      |    CAST(SUM(CASE WHEN i = 1 THEN cents
      |      ELSE cents * (CAST(1 AS BIGINT) << CAST(i - 2 AS INT)) END)
      |      AS BIGINT) AS ewma_num
      |  FROM win GROUP BY 1)
      |SELECT user_id, n_used, ewma_num,
      |  CAST(CAST(1 AS BIGINT) << CAST(n_used - 1 AS INT) AS BIGINT)
      |    AS ewma_denom,
      |  CAST(ewma_num // (CAST(1 AS BIGINT) << CAST(n_used - 1 AS INT))
      |    AS BIGINT) AS ewma_cents
      |FROM agg ORDER BY user_id""".stripMargin) { (spark, dir) =>
    val wDesc = Window.partitionBy(col("user_id"))
      .orderBy(col("us").desc, col("event_id").desc)
    val wUser = Window.partitionBy(col("user_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .withColumn("rdesc", row_number().over(wDesc))
      .filter(col("rdesc") <= 32)
      .withColumn("n", count(lit(1)).over(wUser))
      .withColumn("i", col("n") - col("rdesc") + 1)
      .groupBy(col("user_id"))
      .agg(max(col("n")).as("n_used"),
        sum(when(col("i") === 1, col("cents"))
          .otherwise(col("cents") *
            expr("shiftleft(cast(1 as bigint), cast(i - 2 as int))")))
          .as("ewma_num"))
      .select(col("user_id"), col("n_used"), col("ewma_num"),
        expr("shiftleft(cast(1 as bigint), cast(n_used - 1 as int))")
          .as("ewma_denom"),
        expr("ewma_num div shiftleft(cast(1 as bigint), cast(n_used - 1 as int))")
          .as("ewma_cents"))
      .orderBy(col("user_id"))
  }

  /** Linear multi-touch attribution with a 7-day lookback: each
    * purchase splits its cent value equally across the user's clicks in
    * the preceding week (floor share, remainder to the LAST touch so
    * per-purchase credit sums exactly to the purchase). The
    * marketing-analytics operator last-touch as-of join (q_asof_join)
    * generalizes to. The click×purchase pairing is a user-keyed
    * equi-join with a time-band filter — never all-pairs; at 100 TB a
    * hot user (bot traffic) would be capped or salted exactly like
    * q_salted_agg.
    */
  val q_attribution = QueryDef(
    "q_attribution",
    """WITH ev AS (
      |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |p AS (SELECT event_id AS pid, user_id, us AS pus, cents
      |  FROM ev WHERE event_type = 'purchase'),
      |c AS (SELECT event_id AS cid, user_id, us AS cus
      |  FROM ev WHERE event_type = 'click'),
      |pairs AS (
      |  SELECT p.pid, p.user_id, p.cents, c.cid, c.cus,
      |    COUNT(*) OVER (PARTITION BY p.pid) AS n_touch,
      |    ROW_NUMBER() OVER (PARTITION BY p.pid
      |      ORDER BY c.cus DESC, c.cid DESC) AS touch_rank
      |  FROM p JOIN c ON p.user_id = c.user_id
      |    AND c.cus <= p.pus AND c.cus > p.pus - 604800000000),
      |credits AS (
      |  SELECT user_id, pid,
      |    cents // n_touch
      |      + CASE WHEN touch_rank = 1 THEN cents % n_touch ELSE 0 END AS credit
      |  FROM pairs),
      |agg AS (
      |  SELECT user_id, COUNT(DISTINCT pid) AS n_attributed,
      |    COUNT(*) AS n_credits, CAST(SUM(credit) AS BIGINT) AS attributed_cents
      |  FROM credits GROUP BY 1),
      |pp AS (SELECT user_id, COUNT(*) AS n_purchases FROM p GROUP BY 1)
      |SELECT pp.user_id, pp.n_purchases,
      |  COALESCE(agg.n_attributed, 0) AS n_attributed,
      |  pp.n_purchases - COALESCE(agg.n_attributed, 0) AS n_orphans,
      |  COALESCE(agg.n_credits, 0) AS n_credits,
      |  COALESCE(agg.attributed_cents, 0) AS attributed_cents
      |FROM pp LEFT JOIN agg ON pp.user_id = agg.user_id
      |ORDER BY pp.user_id""".stripMargin) { (spark, dir) =>
    val lookbackUs = 604800000000L
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"),
        col("us").as("pus"), col("cents"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("cid"), col("user_id").as("cuser"),
        col("us").as("cus"))
    val wTouch = Window.partitionBy(col("pid"))
    val wRank = Window.partitionBy(col("pid"))
      .orderBy(col("cus").desc, col("cid").desc)
    val credits = p.join(c, col("user_id") === col("cuser") &&
        col("cus") <= col("pus") && col("cus") > col("pus") - lookbackUs)
      .withColumn("n_touch", count(lit(1)).over(wTouch))
      .withColumn("touch_rank", row_number().over(wRank))
      .select(col("user_id"), col("pid"),
        (expr("cents div n_touch") +
          when(col("touch_rank") === 1, pmod(col("cents"), col("n_touch")))
            .otherwise(lit(0L))).as("credit"))
    val agg = credits.groupBy(col("user_id"))
      .agg(countDistinct(col("pid")).as("n_attributed"),
        count(lit(1)).as("n_credits"),
        sum(col("credit")).as("attributed_cents"))
    p.groupBy(col("user_id")).agg(count(lit(1)).as("n_purchases"))
      .join(agg, Seq("user_id"), "left")
      .select(col("user_id"), col("n_purchases"),
        coalesce(col("n_attributed"), lit(0L)).as("n_attributed"),
        (col("n_purchases") - coalesce(col("n_attributed"), lit(0L)))
          .as("n_orphans"),
        coalesce(col("n_credits"), lit(0L)).as("n_credits"),
        coalesce(col("attributed_cents"), lit(0L)).as("attributed_cents"))
      .orderBy(col("user_id"))
  }

  /** Full pairwise correlation matrix of the per-type daily count
    * series (upper triangle): q_daily_corr's single pair generalized to
    * every pair in ONE pass over the daily rollup — the series table is
    * tiny after aggregation (days × types), so the self-join broadcasts
    * and the quadratic blowup is over types, never rows.
    */
  val q_corr_matrix = QueryDef(
    "q_corr_matrix",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    event_type, CAST(COUNT(*) AS DOUBLE) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT a.event_type AS type_a, b.event_type AS type_b,
      |  ROUND(CORR(a.n, b.n), 4) AS corr_n, COUNT(*) AS n_days
      |FROM daily a JOIN daily b
      |  ON a.day = b.day AND a.event_type < b.event_type
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    val daily = Tables.events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"),
        col("event_type"))
      .agg(count(lit(1)).cast("double").as("n"))
    val a = daily.select(col("day"), col("event_type").as("type_a"),
      col("n").as("na"))
    val b = daily.select(col("day").as("day_b"), col("event_type").as("type_b"),
      col("n").as("nb"))
    a.join(b, col("day") === col("day_b") && col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(round(corr(col("na"), col("nb")), 4).as("corr_n"),
        count(lit(1)).as("n_days"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** Daily audience growth decomposition: active users, first-touch
    * new users, returning = active − new, and the cumulative
    * distinct-user curve — computed EXACTLY without any distinct-over-
    * window blowup, because "cumulative distinct users through day d"
    * ≡ "users whose FIRST day ≤ d": one groupBy(user).min(day) +
    * a running sum over the (bounded) day spine. The shape that keeps
    * working at 100 TB where a COUNT(DISTINCT) OVER (ORDER BY day)
    * window would re-scan history per day.
    */
  /** Kaplan–Meier survival curve for time-to-first-failure — the
    * product-limit estimator with RIGHT-CENSORING done properly: a
    * user's duration runs from their first event to their FIRST
    * `error` event; users who never error are CENSORED at the end of
    * the observation window (they leave the risk set without counting
    * as failures — dropping them, or counting them as failed, are the
    * two classic lifetime-analysis mistakes this operator exists to
    * avoid). Exactness: the survival product Π(1 − dᵢ/nᵢ) is
    * quantized STEPWISE on the ppm lattice — S ← ⌊S·(n−d)/n⌋ — as an
    * ordered fold, which both engines replay identically (Spark
    * `aggregate` HOF with the sentinel-first accumulator; DuckDB
    * `list_reduce` over the same sentinel-prepended list — the house
    * foldLeft equivalence). Scale posture: events reduce to per-user
    * (first, last) with one hash agg, then to the ≤|window|-day step
    * table; the fold runs over that bounded list, never over users.
    */
  val q_survival = QueryDef(
    "q_survival",
    """WITH ev AS (
      |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type
      |  FROM events),
      |b AS (SELECT MAX(day) AS tmax FROM ev),
      |per AS (
      |  SELECT user_id, MIN(day) AS f,
      |    MIN(CASE WHEN event_type = 'error' THEN day END) AS e
      |  FROM ev GROUP BY 1),
      |u AS (
      |  SELECT CAST(date_diff('day', f,
      |      CASE WHEN e IS NULL THEN tmax ELSE e END) AS BIGINT) AS t,
      |    CASE WHEN e IS NULL THEN 0 ELSE 1 END AS ob
      |  FROM per CROSS JOIN b),
      |g AS (
      |  SELECT t, CAST(SUM(ob) AS BIGINT) AS d,
      |    CAST(SUM(1 - ob) AS BIGINT) AS c,
      |    CAST(COUNT(*) AS BIGINT) AS m
      |  FROM u GROUP BY 1),
      |cum AS (
      |  SELECT t, d, c,
      |    CAST((SELECT SUM(m) FROM g)
      |      - (SUM(m) OVER (ORDER BY t) - m) AS BIGINT) AS n_risk
      |  FROM g),
      |arr AS (
      |  SELECT list_prepend([CAST(1000000 AS BIGINT)],
      |    list([t, n_risk, d, c]::BIGINT[] ORDER BY t)) AS fl
      |  FROM cum),
      |sl AS (
      |  SELECT fl, list_reduce(fl, (acc, x) ->
      |    list_append(acc, (acc[len(acc)] * (x[2] - x[3])) // x[2])) AS s
      |  FROM arr)
      |SELECT fl[i + 1][1] AS duration_days, fl[i + 1][2] AS n_risk,
      |  fl[i + 1][3] AS n_churn, fl[i + 1][4] AS n_censored,
      |  s[i + 1] AS surv_ppm
      |FROM sl CROSS JOIN UNNEST(range(1, len(fl))) gs(i)
      |ORDER BY duration_days""".stripMargin) { (spark, dir) =>
    val ev = graft.ops.Reuse.materialized(
      Tables.events(spark, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("event_type")))
    val b = ev.agg(max(col("day")).as("tmax"))
    val per = ev.groupBy(col("user_id"))
      .agg(min(col("day")).as("f"),
        min(when(col("event_type") === "error", col("day"))).as("e"))
    val u = per.crossJoin(broadcast(b))
      .select(datediff(coalesce(col("e"), col("tmax")), col("f"))
          .cast("long").as("t"),
        when(col("e").isNull, 0L).otherwise(1L).as("ob"))
    val g = u.groupBy(col("t"))
      .agg(sum(col("ob")).as("d"), sum(lit(1L) - col("ob")).as("c"),
        count(lit(1)).as("m"))
    // bounded single-partition window: runs over the day-difference
    // grid (calendar-span cardinality), never per-user rows
    val wc = org.apache.spark.sql.expressions.Window.orderBy(col("t"))
    val wa = org.apache.spark.sql.expressions.Window.partitionBy()
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    // step table is bounded by the day window (≤ ~91 rows) — the
    // single-partition window and the fold below are over THAT, never
    // over users
    val cum = g.select(col("t"), col("d"), col("c"),
      (sum(col("m")).over(wa)
        - (sum(col("m")).over(wc) - col("m"))).as("n_risk"))
    cum
      .agg(array_sort(collect_list(
        array(col("t"), col("n_risk"), col("d"), col("c")))).as("steps"))
      .select(expr(
        "aggregate(steps, array(CAST(1000000 AS BIGINT)), (acc, x) -> " +
          "concat(acc, array((element_at(acc, -1) * (x[1] - x[2])) " +
          "DIV x[1])))").as("s"),
        col("steps"))
      .select(posexplode(col("steps")).as(Seq("i", "x")), col("s"))
      .select(element_at(col("x"), 1).as("duration_days"),
        element_at(col("x"), 2).as("n_risk"),
        element_at(col("x"), 3).as("n_churn"),
        element_at(col("x"), 4).as("n_censored"),
        element_at(col("s"), col("i") + 2).as("surv_ppm"))
      .orderBy(col("duration_days"))
  }

  val q_user_growth = QueryDef(
    "q_user_growth",
    """WITH act AS (
      |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
      |  FROM events GROUP BY 1),
      |fst AS (
      |  SELECT user_id,
      |    MIN(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) AS day
      |  FROM events GROUP BY 1),
      |nu AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users
      |  FROM fst GROUP BY 1)
      |SELECT a.day, a.active_users,
      |  COALESCE(n.new_users, 0) AS new_users,
      |  a.active_users - COALESCE(n.new_users, 0) AS returning_users,
      |  CAST(SUM(COALESCE(n.new_users, 0)) OVER (ORDER BY a.day
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
      |FROM act a LEFT JOIN nu n ON a.day = n.day
      |ORDER BY a.day""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"))
    val act = ev.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("active_users"))
    val nu = ev.groupBy(col("user_id")).agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    // day spine is calendar-bounded, so the global running sum is a
    // single tiny-partition window by construction
    val wCum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    act.join(nu, Seq("day"), "left")
      .select(col("day"), col("active_users"),
        coalesce(col("new_users"), lit(0L)).as("new_users"),
        (col("active_users") - coalesce(col("new_users"), lit(0L)))
          .as("returning_users"))
      .withColumn("cum_users", sum(col("new_users")).over(wCum))
      .orderBy(col("day"))
  }

  /** Keyed-state snapshot diff with change classification — the
    * reconciliation operator for comparing a warehouse state before
    * and after a load window: per user, the CDC state (last op wins,
    * `error` = tombstone, same contract as q_cdc_apply) at the cutoff
    * vs at end-of-log, FULL OUTER joined and classified
    * added/removed/changed/unchanged. Two window compactions over the
    * same user partitioning + one key-aligned join; at 100 TB both
    * snapshots partition by the key, so the diff is co-located.
    */
  val q_snapshot_diff = QueryDef(
    "q_snapshot_diff",
    """WITH ev AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
      |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |s1 AS (
      |  SELECT user_id, cents FROM (
      |    SELECT user_id, op, cents, ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY us DESC, event_id DESC) AS rn
      |    FROM ev
      |    WHERE us < epoch_us(TIMESTAMP '2024-01-16 00:00:00')) t
      |  WHERE rn = 1 AND op = 'U'),
      |s2 AS (
      |  SELECT user_id, cents FROM (
      |    SELECT user_id, op, cents, ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY us DESC, event_id DESC) AS rn
      |    FROM ev) t
      |  WHERE rn = 1 AND op = 'U'),
      |d AS (
      |  SELECT COALESCE(s1.user_id, s2.user_id) AS user_id,
      |    CASE WHEN s1.user_id IS NULL THEN 'added'
      |         WHEN s2.user_id IS NULL THEN 'removed'
      |         WHEN s1.cents <> s2.cents THEN 'changed'
      |         ELSE 'unchanged' END AS class
      |  FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id)
      |SELECT class, CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(user_id) AS BIGINT) AS id_checksum
      |FROM d GROUP BY 1 ORDER BY class""".stripMargin) { (spark, dir) =>
    val cutoffUs = java.time.Instant.parse("2024-01-16T00:00:00Z")
      .getEpochSecond * 1000000L
    val ev = Tables.events(spark, dir).select(
      col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"),
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val wDesc = Window.partitionBy(col("user_id"))
      .orderBy(col("us").desc, col("event_id").desc)
    def state(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("rn", row_number().over(wDesc))
      .filter(col("rn") === 1 && col("op") === "U")
      .select(col("user_id"), col("cents"))
    val s1 = state(ev.filter(col("us") < cutoffUs))
      .select(col("user_id").as("u1"), col("cents").as("c1"))
    val s2 = state(ev)
      .select(col("user_id").as("u2"), col("cents").as("c2"))
    s1.join(s2, col("u1") === col("u2"), "full_outer")
      .select(coalesce(col("u1"), col("u2")).as("user_id"),
        when(col("u1").isNull, lit("added"))
          .when(col("u2").isNull, lit("removed"))
          .when(col("c1") =!= col("c2"), lit("changed"))
          .otherwise(lit("unchanged")).as("class"))
      .groupBy(col("class"))
      .agg(count(lit(1)).as("n_users"), sum(col("user_id")).as("id_checksum"))
      .orderBy(col("class"))
  }

  /** Week-over-week change in basis points: each (type, day) count
    * against the same weekday last week (LAG 7 within the type's day
    * series — the seasonality-respecting comparison), integer
    * floor-division bp so both engines agree exactly, NULL for the
    * first week (no baseline).
    */
  val q_wow_change = QueryDef(
    "q_wow_change",
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |l AS (
      |  SELECT event_type, day, n,
      |    LAG(n, 7) OVER (PARTITION BY event_type ORDER BY day) AS n7
      |  FROM daily)
      |SELECT event_type, day, n, n7,
      |  CASE WHEN n7 > 0 THEN ((n - n7) * 10000) // n7 END AS wow_bp
      |FROM l ORDER BY event_type, day""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n7", lag(col("n"), 7).over(w))
      .select(col("event_type"), col("day"), col("n"), col("n7"),
        when(col("n7") > 0, expr("((n - n7) * 10000) div n7")).as("wow_bp"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Burst detection: maximal runs of CONSECUTIVE hours where a
    * type's hourly count exceeds 2× its own average over present
    * hours (self-calibrating integer threshold — scale-free across
    * SFs). Islands-and-gaps on the hour grid: group key =
    * hour_index − row_number, so a sub-threshold or silent hour
    * breaks the run naturally. The alerting primitive behind the
    * reference's outbreak spike detection (`disease_outbreak_
    * forecaster.py` risk ladder), without the forecast model.
    */
  val q_bursts = QueryDef(
    "q_bursts",
    """WITH hourly AS (
      |  SELECT event_type,
      |    CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hr,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |thr AS (
      |  SELECT event_type, (2 * CAST(SUM(n) AS BIGINT)) // COUNT(*) AS t
      |  FROM hourly GROUP BY 1),
      |q AS (
      |  SELECT h.event_type, h.hr, h.n,
      |    epoch_us(h.hr) // 3600000000 - ROW_NUMBER() OVER (
      |      PARTITION BY h.event_type ORDER BY h.hr) AS grp
      |  FROM hourly h JOIN thr ON h.event_type = thr.event_type
      |    AND h.n > thr.t)
      |SELECT event_type, MIN(hr) AS burst_start, MAX(hr) AS burst_end,
      |  CAST(COUNT(*) AS BIGINT) AS n_hours,
      |  CAST(SUM(n) AS BIGINT) AS total_events
      |FROM q GROUP BY event_type, grp
      |ORDER BY event_type, burst_start""".stripMargin) { (spark, dir) =>
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"))
    val thr = hourly.groupBy(col("event_type"))
      .agg(expr("(2 * sum(n)) div count(*)").as("t"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
    hourly.join(broadcast(thr), Seq("event_type"))
      .filter(col("n") > col("t"))
      .withColumn("grp",
        expr("unix_micros(hr) div 3600000000") - row_number().over(w))
      .groupBy(col("event_type"), col("grp"))
      .agg(min(col("hr")).as("burst_start"), max(col("hr")).as("burst_end"),
        count(lit(1)).as("n_hours"), sum(col("n")).as("total_events"))
      .drop("grp")
      .orderBy(col("event_type"), col("burst_start"))
  }

  /** Ordered LISTAGG — the user-journey string: each user's first 10
    * event types concatenated in time order. The ORDER-BY-inside-
    * aggregate shape (`string_agg(x, sep ORDER BY k)`) Spark expresses
    * as collect_list(struct(k, x)) → array_sort → transform →
    * array_join: sort keys travel WITH the values, so partial
    * aggregation stays order-free and the sort happens once per group
    * on ≤10 elements.
    */
  val q_event_paths = QueryDef(
    "q_event_paths",
    """WITH o AS (
      |  SELECT user_id, event_type, ROW_NUMBER() OVER (
      |    PARTITION BY user_id
      |    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      |  FROM events)
      |SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path,
      |  CAST(SUM(1) AS BIGINT) AS n_steps
      |FROM o WHERE rn <= 10 GROUP BY user_id ORDER BY user_id"""
      .stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .groupBy(col("user_id"))
      .agg(collect_list(struct(col("rn"), col("event_type"))).as("steps"),
        count(lit(1)).as("n_steps"))
      .select(col("user_id"),
        array_join(transform(array_sort(col("steps")),
          s => s.getField("event_type")), ">").as("path"),
        col("n_steps"))
      .orderBy(col("user_id"))
  }

  /** Repeat-purchase cadence: gaps between each user's consecutive
    * purchases, summarized with count / exact median / min / max —
    * the retention-cadence statistic. Median of integer gap seconds
    * is exact on both engines (avg of two middles = .5-exact); no
    * interpolated quantiles cross the engine boundary.
    */
  val q_repeat_purchase = QueryDef(
    "q_repeat_purchase",
    """WITH p AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
      |      PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
      |  FROM events WHERE event_type = 'purchase'),
      |g AS (SELECT (us - prev) // 1000000 AS gap_sec FROM p
      |  WHERE prev IS NOT NULL)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
      |  median(gap_sec) AS median_gap_sec,
      |  CAST(MIN(gap_sec) AS BIGINT) AS min_gap_sec,
      |  CAST(MAX(gap_sec) AS BIGINT) AS max_gap_sec
      |FROM g""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("ts"),
        col("event_id"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(expr("(us - prev) div 1000000").as("gap_sec"))
      .agg(count(lit(1)).as("n_gaps"),
        expr("percentile(gap_sec, 0.5)").as("median_gap_sec"),
        min(col("gap_sec")).as("min_gap_sec"),
        max(col("gap_sec")).as("max_gap_sec"))
  }

  /** Weekday×hour seasonality heatmap with exact integer traffic
    * shares — the load-profile matrix behind capacity planning and
    * the reference dashboard's time-of-day charts. One grouping pass;
    * the share denominator is a broadcast 1-row total, not a window.
    */
  val q_seasonality = QueryDef(
    "q_seasonality",
    """WITH g AS (
      |  SELECT isodow(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE))
      |      - 1 AS dow,
      |    hour(CAST(ts AS TIMESTAMP)) AS hr, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM g)
      |SELECT g.dow, g.hr, g.n, (g.n * 1000000) // tot.t AS share_micro
      |FROM g CROSS JOIN tot ORDER BY dow, hr""".stripMargin) { (spark, dir) =>
    val g = Tables.events(spark, dir)
      .groupBy(
        weekday(date_trunc("day", col("ts")).cast("date")).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hr"))
      .agg(count(lit(1)).as("n"))
    val tot = g.agg(sum(col("n")).as("t"))
    g.crossJoin(broadcast(tot))
      .select(col("dow"), col("hr"), col("n"),
        expr("(n * 1000000) div t").as("share_micro"))
      .orderBy(col("dow"), col("hr"))
  }

  /** DAU / 7-day rolling WAU / stickiness per day — the engagement
    * triple. Rolling COUNT(DISTINCT) can't reuse the first-touch
    * trick (q_user_growth) because users re-enter windows, so the
    * exact shape is a day-spine band join: the (day, user) activity
    * table joins a ≤|days|-row broadcast spine with a 7-day band —
    * work is 7× the activity table, linear, no distinct-over-window
    * rescans. Stickiness in exact integer basis points.
    */
  val q_rolling_distinct = QueryDef(
    "q_rolling_distinct",
    """WITH act AS (
      |  SELECT DISTINCT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
      |    AS day, user_id
      |  FROM events),
      |days AS (SELECT DISTINCT day FROM act),
      |wau AS (
      |  SELECT d.day, CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS wau
      |  FROM days d JOIN act a ON a.day BETWEEN d.day - 6 AND d.day
      |  GROUP BY 1),
      |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM act GROUP BY 1)
      |SELECT d.day, dau.dau, wau.wau,
      |  (dau.dau * 10000) // wau.wau AS stickiness_bp
      |FROM days d JOIN dau ON dau.day = d.day JOIN wau ON wau.day = d.day
      |ORDER BY d.day""".stripMargin) { (spark, dir) =>
    val act = Tables.events(spark, dir)
      .select(date_trunc("day", col("ts")).cast("date").as("day"),
        col("user_id")).distinct()
    // every branch references ONE analyzed act subplan: exchange reuse
    // computes the distinct shuffle once, only the (day,user)-sized
    // final distinct re-runs per branch
    val actM = act
    val days = actM.select(col("day")).distinct()
    val wau = broadcast(days.select(col("day").as("d")))
      .join(actM, col("day").between(date_sub(col("d"), 6), col("d")))
      .groupBy(col("d"))
      .agg(countDistinct(col("user_id")).as("wau"))
    val dau = actM.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    days.join(dau, Seq("day")).join(wau, col("day") === col("d"))
      .select(col("day"), col("dau"), col("wau"),
        expr("(dau * 10000) div wau").as("stickiness_bp"))
      .orderBy(col("day"))
  }

  /** Sequential pattern mining: the top-20 most frequent 3-step
    * event-type sequences across all user timelines — consecutive
    * trigrams via two LEADs over the per-user total order (one
    * shuffle; NO self-joins on rn), counted globally with both
    * occurrence and distinct-user support.
    */
  val q_frequent_paths = QueryDef(
    "q_frequent_paths",
    """WITH t AS (
      |  SELECT user_id,
      |    event_type || '>' || LEAD(event_type, 1) OVER w
      |      || '>' || LEAD(event_type, 2) OVER w AS path
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id
      |    ORDER BY CAST(ts AS TIMESTAMP), event_id))
      |SELECT path, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM t WHERE path IS NOT NULL
      |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"),
        concat_ws(">", col("event_type"), lead(col("event_type"), 1).over(w),
          lead(col("event_type"), 2).over(w)).as("path"),
        lead(col("event_type"), 2).over(w).as("third"))
      .filter(col("third").isNotNull)
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n").desc, col("path"))
      .limit(20)
  }

  /** Windowless MODE: the most frequent cent value per event type,
    * ties to the SMALLEST value — count then `min_by` over the
    * (−count, value) struct, a map-side-combinable hash-aggregate
    * argmin instead of a rank window over every distinct value.
    */
  val q_mode_value = QueryDef(
    "q_mode_value",
    """WITH c AS (
      |  SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type, cents, n, ROW_NUMBER() OVER (
      |    PARTITION BY event_type ORDER BY n DESC, cents) AS rn
      |  FROM c)
      |SELECT event_type, cents AS mode_cents, n AS mode_count
      |FROM m WHERE rn = 1 ORDER BY event_type""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("event_type"))
      .agg(min_by(struct(col("cents"), col("n")),
        struct((-col("n")).as("nn"), col("cents").as("c"))).as("w"))
      .select(col("event_type"), col("w.cents").as("mode_cents"),
        col("w.n").as("mode_count"))
      .orderBy(col("event_type"))
  }

  /** RFM segmentation: each purchasing user scored 1–5 on Recency,
    * Frequency, Monetary via NTILE quintiles under TOTAL tie orders
    * (metric, then user_id — deterministic on any engine), composed into
    * the classic 3-digit segment, then the segment census. The quintiles
    * order USERS (one row each after the pre-aggregate) — |users| scales
    * with the data, so a partition-less NTILE window would serialize every
    * user onto one reducer at 100 TB. The engine runs each quintile through
    * [[graft.ops.RankOps.withNtile]] — range-partitioned sort + bounded
    * per-partition offsets, exact NTILE allocation — while the oracle
    * replays the plain window form (same total tie order, so the
    * assignments are identical by construction).
    */
  val q_rfm = QueryDef(
    "q_rfm",
    """WITH p AS (
      |  SELECT user_id, MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
      |    CAST(COUNT(*) AS BIGINT) AS freq,
      |    CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      AS monetary
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |s AS (
      |  SELECT user_id,
      |    ntile(5) OVER (ORDER BY last_us DESC, user_id) AS r,
      |    ntile(5) OVER (ORDER BY freq DESC, user_id) AS f,
      |    ntile(5) OVER (ORDER BY monetary DESC, user_id) AS m
      |  FROM p)
      |SELECT CAST(r * 100 + f * 10 + m AS BIGINT) AS segment,
      |  CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(MIN(user_id) AS BIGINT) AS example_user
      |FROM s GROUP BY 1 ORDER BY segment""".stripMargin) { (spark, dir) =>
    val p = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("freq"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("monetary"))
    val par = spark.sparkContext.defaultParallelism
    // one distributed quintile per metric, chained (each needs its own
    // total order; each is one range exchange over per-user rows, never
    // a single-partition window)
    val s = Seq(
      ("r", Seq(col("last_us").desc, col("user_id").asc)),
      ("f", Seq(col("freq").desc, col("user_id").asc)),
      ("m", Seq(col("monetary").desc, col("user_id").asc)))
      .foldLeft(p) { case (acc, (name, ord)) =>
        graft.ops.RankOps.withNtile(acc, 5, name, par, ord: _*)
      }
    s.groupBy((col("r") * 100 + col("f") * 10 + col("m")).cast("long")
        .as("segment"))
      .agg(count(lit(1)).as("n_users"), min(col("user_id")).as("example_user"))
      .orderBy(col("segment"))
  }

  /** Behavioral diversity per user as Gini impurity over the
    * event-type distribution — the no-logarithm diversity index
    * (1 − Σ pᵢ², a rational number), micro-quantized by ONE exact
    * integer floor division so both engines agree bit-for-bit where an
    * entropy would drown in libm divergence. Two grouping passes on
    * the same user partitioning.
    */
  val q_type_gini = QueryDef(
    "q_type_gini",
    """WITH c AS (
      |  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |u AS (
      |  SELECT user_id, CAST(SUM(c) AS BIGINT) AS n,
      |    CAST(SUM(c * c) AS BIGINT) AS ss
      |  FROM c GROUP BY 1)
      |SELECT user_id, n,
      |  CAST(1000000 - (ss * 1000000) // (n * n) AS BIGINT) AS gini_micro
      |FROM u ORDER BY user_id""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("user_id"))
      .agg(sum(col("c")).as("n"), sum(col("c") * col("c")).as("ss"))
      .select(col("user_id"), col("n"),
        (lit(1000000L) - expr("(ss * 1000000) div (n * n)")).as("gini_micro"))
      .orderBy(col("user_id"))
  }

  /** Running-max drawdown per user: the largest peak-to-current drop
    * of the event-value series (cents, exact integers) — the
    * financial-series window shape (expanding MAX) the rolling/
    * expanding mean-std family (W2–W4) doesn't cover. One user
    * partition carries both the window and the final aggregate — a
    * single shuffle.
    */
  val q_drawdown = QueryDef(
    "q_drawdown",
    """WITH s AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |r AS (
      |  SELECT user_id, cents,
      |    MAX(cents) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS UNBOUNDED PRECEDING) AS peak
      |  FROM s)
      |SELECT user_id,
      |  CAST(MAX(peak - cents) AS BIGINT) AS max_drawdown_cents,
      |  CAST(MAX(peak) AS BIGINT) AS peak_cents
      |FROM r GROUP BY 1 ORDER BY user_id""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .withColumn("peak", max(col("cents")).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("peak") - col("cents")).as("max_drawdown_cents"),
        max(col("peak")).as("peak_cents"))
      .orderBy(col("user_id"))
  }

  /** Theil–Sen robust trend slope per event type: the MEDIAN of all
    * pairwise day-to-day slopes of the daily count series — the
    * outlier-proof trend estimator (one spike day corrupts an OLS
    * slope; it's just one vote here), the statistic behind
    * "is this disease's volume actually trending up" in the
    * reference's surveillance framing. Slopes micro-quantized by
    * integer floor division (cross-engine exact), median = exact
    * midpoint (.5 halves exact in double). The pair stage is
    * O(days²) per type — CALENDAR-bounded, never row-bounded, because
    * events pre-aggregate to the day grain first.
    */
  val q_trend_slope = QueryDef(
    "q_trend_slope",
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |d AS (SELECT event_type,
      |  CAST(day - DATE '1970-01-01' AS BIGINT) AS x, n FROM daily),
      |p AS (
      |  SELECT a.event_type,
      |    ((b.n - a.n) * 1000000) // (b.x - a.x) AS slope
      |  FROM d a JOIN d b ON a.event_type = b.event_type AND b.x > a.x)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  median(slope) AS sen_slope_micro
      |FROM p GROUP BY 1 ORDER BY event_type""".stripMargin) { (spark, dir) =>
    val d = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"),
        datediff(col("day"), lit("1970-01-01")).cast("long").as("x"),
        col("n"))
    val a = d.select(col("event_type"), col("x").as("xa"), col("n").as("na"))
    val b = d.select(col("event_type").as("tb"), col("x").as("xb"),
      col("n").as("nb"))
    a.join(b, col("event_type") === col("tb") && col("xb") > col("xa"))
      .select(col("event_type"),
        expr("((nb - na) * 1000000) div (xb - xa)").as("slope"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("percentile(slope, 0.5)").as("sen_slope_micro"))
      .orderBy(col("event_type"))
  }

  /** One-sided CUSUM change-point detection on the per-type daily
    * count series — the classic surveillance drift alarm (did this
    * event type's volume shift above its baseline, and when?): the
    * reference's outbreak-detection analyses threshold per-day counts
    * directly; CUSUM accumulates small sustained excesses a per-day
    * threshold misses. The textbook recursion S_t = max(0, S_{t-1} +
    * (x_t − k)) is not a window function, but its closed form IS:
    * S_t = C_t − min(0, min_{j≤t} C_j) for prefix sums C of the
    * deviations — two cumulative windows partitioned by type, no
    * recursion, no UDAF, exact BIGINT lattice. Baseline k is the
    * per-type integer mean daily count; alarm fires above 2k. The
    * grid is observed days (a dense-grid resample is q_resample_ffill
    * composed upstream).
    */
  val q_cusum = QueryDef(
    "q_cusum",
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |base AS (
      |  SELECT event_type, day, n,
      |    CAST(SUM(n) OVER (PARTITION BY event_type)
      |      // COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS k
      |  FROM daily),
      |pre AS (
      |  SELECT event_type, day, n, k,
      |    CAST(SUM(n - k) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ct
      |  FROM base)
      |SELECT event_type, day, n, k,
      |  CAST(ct - LEAST(CAST(0 AS BIGINT), MIN(ct) OVER (
      |    PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING))
      |    AS BIGINT) AS cusum,
      |  (ct - LEAST(CAST(0 AS BIGINT), MIN(ct) OVER (
      |    PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING)))
      |    > 2 * k AS alarm
      |FROM pre ORDER BY event_type, day""".stripMargin) { (spark, dir) =>
    val wType = Window.partitionBy(col("event_type"))
    val wSeq = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("tot", sum(col("n")).over(wType))
      .withColumn("days", count(lit(1)).over(wType))
      .withColumn("k", expr("tot DIV days"))
      .withColumn("ct", sum(col("n") - col("k")).over(wSeq))
      .withColumn("mn", least(lit(0L), min(col("ct")).over(wSeq)))
      .select(col("event_type"), col("day"), col("n"), col("k"),
        (col("ct") - col("mn")).as("cusum"),
        ((col("ct") - col("mn")) > lit(2) * col("k")).as("alarm"))
      .orderBy(col("event_type"), col("day"))
  }

  val all: Seq[QueryDef] = Seq(
    q_cusum,
    q_user_growth, q_snapshot_diff, q_wow_change, q_bursts, q_trend_slope,
    q_drawdown, q_rfm, q_type_gini, q_event_paths, q_mode_value,
    q_frequent_paths, q_rolling_distinct, q_seasonality, q_repeat_purchase,
    q_cube_counts, q_sessions, q_daily_corr, q_autocorr, q_early_detection,
    q_detection_lag,
    q_percentiles, q_value_ranks, q_pivot_daily, q_unpivot_daily, q_range_window,
    q_value_histogram, q_salted_agg,
    q_rollup_counts, q_asof_join, q_asof_native, q_asof_bloom, q_asof_native_str,
    q_asof_native_multi, q_asof_native_ts, q_asof_tolerance,
    q_asof_tolerance_native, q_asof_forward, q_asof_nearest, q_asof_interp,
    q_asof_bucketed, q_resample_ffill, q_resample_bfill,
    q_hll_distinct,
    q_rank_dist, q_robust_stats,
    q_funnel, q_retention, q_survival, q_markov, q_topk_daily, q_scd2,
    q_time_weighted, q_grouping_sets, q_cdc_apply, q_rolling_median,
    q_equidepth_bins, q_ewma, q_attribution, q_corr_matrix)
}
