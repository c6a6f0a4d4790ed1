package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics (SURVEY.md §2.4 aggregations, §2.5 windows,
  * §2.8 scalar/JSON/date functions) over the `events` table — the batch
  * face of the reference's time-series surface.
  *
  * Timestamps: `Tables.events` normalizes the nanosecond parquet
  * timestamps to Spark-native microseconds; oracle SQL casts to
  * microsecond TIMESTAMP before emitting/ordering so both engines see
  * identical instants.
  */
object Events {

  /** Hourly time series — `time_bucket('1 hour')` (`app_upgraded.py:156-164`). */
  val q_hourly_events = QueryDef(
    "q_hourly_events",
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
      |  COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
      |FROM events GROUP BY 1 ORDER BY hour""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .orderBy(col("hour"))
  }

  /** Daily counts + conditional sum — the neighborhood-daily aggregate
    * with severe-case conditional (`disease_outbreak_forecaster.py:297-313`). */
  val q_daily_by_type = QueryDef(
    "q_daily_by_type",
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |  COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  ROUND(SUM(value), 2) AS total_value
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("event_type") === "error", 1).otherwise(0)).as("n_errors"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum("value"), 2).as("total_value"))
      .orderBy(col("day"))
  }

  /** Group counts by type — severity/source distribution A4
    * (`app_upgraded.py:129-144,198-209`). */
  val q_event_type_stats = QueryDef(
    "q_event_type_stats",
    """SELECT event_type, COUNT(*) AS n, ROUND(AVG(value), 4) AS avg_value
      |FROM events GROUP BY event_type ORDER BY n DESC, event_type""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value"))
      .orderBy(col("n").desc, col("event_type"))
  }

  /** Scalar range stats — min/max timestamp + totals A6/A7
    * (`psql_db_client.py:466-503`). Timestamps emitted as epoch
    * microseconds so ns-vs-us parquet precision cannot skew the compare. */
  val q_ts_range = QueryDef(
    "q_ts_range",
    """SELECT epoch_us(CAST(MIN(ts) AS TIMESTAMP)) AS min_ts_us,
      |  epoch_us(CAST(MAX(ts) AS TIMESTAMP)) AS max_ts_us,
      |  COUNT(*) AS n
      |FROM events""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .agg(unix_micros(min(col("ts"))).as("min_ts_us"),
        unix_micros(max(col("ts"))).as("max_ts_us"),
        count(lit(1)).as("n"))
  }

  /** Latest-per-group via row_number — W5 (`nyc_covid_rsv_flu_official_
    * scraper.py:53-56`, keep-last upsert `psql_db_client.py:369-380`). */
  val q_user_latest_event = QueryDef(
    "q_user_latest_event",
    """SELECT user_id, event_id, event_type,
      |  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |        ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      |      FROM events) WHERE rn = 1
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .orderBy(col("user_id"))
  }

  /** Per-user lag deltas — W1 lag features (`disease_outbreak_
    * forecaster.py:318-321`). Gap to previous event in microseconds;
    * first event per user keeps NULL. */
  val q_event_deltas = QueryDef(
    "q_event_deltas",
    """SELECT event_id, user_id,
      |  epoch_us(CAST(ts AS TIMESTAMP))
      |    - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER
      |      (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap_us
      |FROM events ORDER BY event_id""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
      .select(col("event_id"), col("user_id"), col("gap_us"))
      .orderBy(col("event_id"))
  }

  /** Rolling 7-day average + running total per type — W2
    * (`disease_outbreak_forecaster.py:323-325`). */
  val q_rolling_daily = QueryDef(
    "q_rolling_daily",
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, day, cnt,
      |  ROUND(AVG(cnt) OVER (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7,
      |  CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_total
      |FROM daily ORDER BY event_type, day""".stripMargin) { (spark, dir) =>
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily
      .withColumn("ma7", round(avg(col("cnt")).over(w.rowsBetween(-6, 0)), 4))
      .withColumn("running_total",
        sum(col("cnt")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .orderBy(col("event_type"), col("day"))
  }

  /** Expanding leave-current-out z-score anomaly detection — the
    * reference's anomaly job verbatim semantics (`anomaly_detection.py:
    * 39-64`): baseline mean/std over all PRIOR days per group
    * (shift(1).expanding()), z = (cnt-mean)/std with a pct-change
    * fallback when std == 0, NaN→0, anomaly flag z > 1.5. */
  val q_anomaly_zscore = QueryDef(
    "q_anomaly_zscore",
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |base AS (
      |  SELECT event_type, day, cnt,
      |    AVG(cnt) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mean_prior,
      |    STDDEV_SAMP(cnt) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS sd_prior
      |  FROM daily)
      |SELECT event_type, day, cnt,
      |  ROUND(COALESCE(mean_prior, 0), 4) AS mean_prior,
      |  ROUND(z, 4) AS z_score,
      |  (z > 1.5) AS is_anomaly
      |FROM (
      |  SELECT *, CASE
      |    WHEN mean_prior IS NULL OR sd_prior IS NULL THEN 0.0
      |    WHEN sd_prior = 0 THEN
      |      (CASE WHEN mean_prior > 0 AND abs((cnt - mean_prior) / mean_prior) > 1
      |            THEN abs((cnt - mean_prior) / mean_prior) ELSE 0.0 END)
      |    ELSE (cnt - mean_prior) / sd_prior END AS z
      |  FROM base)
      |ORDER BY event_type, day""".stripMargin) { (spark, dir) =>
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val prior = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val pct = abs((col("cnt") - col("mean_prior")) / col("mean_prior"))
    // reference parity (`anomaly_detection.py:39-56`): NaN baseline
    // (no/one prior row) -> 0; std exactly 0 -> |pct-change| fallback
    // when it exceeds 100%; otherwise the plain z-score
    val z = when(col("mean_prior").isNull || col("sd_prior").isNull, 0.0)
      .when(col("sd_prior") === 0,
        when(col("mean_prior") > 0 && pct > 1, pct).otherwise(0.0))
      .otherwise((col("cnt") - col("mean_prior")) / col("sd_prior"))
    daily
      .withColumn("mean_prior", avg(col("cnt")).over(prior))
      .withColumn("sd_prior", stddev_samp(col("cnt")).over(prior))
      .withColumn("z", z)
      .select(col("event_type"), col("day"), col("cnt"),
        round(coalesce(col("mean_prior"), lit(0)), 4).as("mean_prior"),
        round(col("z"), 4).as("z_score"),
        (col("z") > 1.5).as("is_anomaly"))
      .orderBy(col("event_type"), col("day"))
  }

  /** JSON field extraction + bucketed aggregate — the raw_data/props JSON
    * surface (`relevance_consumer.py:155`, `psql_db_client.py:146`). */
  val q_json_props = QueryDef(
    "q_json_props",
    """SELECT CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS BIGINT)
      |    AS k_bucket,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum
      |FROM events GROUP BY 1 ORDER BY k_bucket""".stripMargin) { (spark, dir) =>
    val k = get_json_object(col("props"), "$.k").cast("int")
    Tables.events(spark, dir)
      .groupBy((k % 10).cast("long").as("k_bucket"))
      .agg(count(lit(1)).as("n"), sum(k).as("k_sum"))
      .orderBy(col("k_bucket"))
  }

  /** [[q_json_props]] through Spark 4's VARIANT type — `parse_json`
    * decodes the JSON string ONCE into the binary variant encoding and
    * `variant_get` does typed path extraction from it, the modern
    * lakehouse semi-structured path (at 100 TB the variant column is
    * stored shredded and re-parsing strings per access — what the
    * string-path `get_json_object` twin does — is the scan cost).
    * Certified against the SAME DuckDB JSON oracle, proving the
    * binary-variant route is value-identical to string-path
    * extraction end to end.
    */
  val q_variant_props = QueryDef(
    "q_variant_props", q_json_props.oracle) { (spark, dir) =>
    val k = variant_get(parse_json(col("props")), "$.k", "int")
    Tables.events(spark, dir)
      .groupBy((k % 10).cast("long").as("k_bucket"))
      .agg(count(lit(1)).as("n"), sum(k).as("k_sum"))
      .orderBy(col("k_bucket"))
  }

  /** Full-outer join of two per-day series with null→0 fill — the
    * official-vs-informal merge J1 (`app_upgraded.py:599-604`). */
  val q_clicks_vs_purchases = QueryDef(
    "q_clicks_vs_purchases",
    """WITH c AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS clicks
      |           FROM events WHERE event_type = 'click' GROUP BY 1),
      |     p AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS purchases
      |           FROM events WHERE event_type = 'purchase' GROUP BY 1)
      |SELECT COALESCE(c.day, p.day) AS day,
      |  COALESCE(clicks, 0) AS clicks, COALESCE(purchases, 0) AS purchases
      |FROM c FULL OUTER JOIN p ON c.day = p.day
      |ORDER BY day""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
      .withColumn("day", date_trunc("day", col("ts")).cast("date"))
    val c = ev.filter(col("event_type") === "click").groupBy("day")
      .agg(count(lit(1)).as("clicks"))
    val p = ev.filter(col("event_type") === "purchase").groupBy("day")
      .agg(count(lit(1)).as("purchases"))
    c.withColumnRenamed("day", "c_day")
      .join(p.withColumnRenamed("day", "p_day"),
        col("c_day") === col("p_day"), "full_outer")
      .select(coalesce(col("c_day"), col("p_day")).as("day"),
        coalesce(col("clicks"), lit(0L)).as("clicks"),
        coalesce(col("purchases"), lit(0L)).as("purchases"))
      .orderBy(col("day"))
  }

  /** Interval/date arithmetic — recent-window filter + day index
    * (`app_upgraded.py:64-68`, `spatial_clustering.py:171-173`). */
  val q_first_week = QueryDef(
    "q_first_week",
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |  datediff('day', DATE '2024-01-01', CAST(date_trunc('day', ts) AS DATE)) AS day_idx,
      |  COUNT(*) AS n
      |FROM events
      |WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-01 00:00:00' + INTERVAL 7 DAY
      |GROUP BY 1, 2 ORDER BY day""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .filter(col("ts") < lit("2024-01-08 00:00:00").cast("timestamp"))
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
      .select(col("day"),
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("long").as("day_idx"),
        col("n"))
      .orderBy(col("day"))
  }

  /** Composite risk score + level ladder — A19/M6 (`app_upgraded.py:
    * 658-724`, `disease_outbreak_forecaster.py:128-145`): capped
    * arithmetic composite, then a when-ladder classification. */
  val q_user_risk = QueryDef(
    "q_user_risk",
    """SELECT user_id,
      |  ROUND(LEAST(100.0, total_value / 100 + n_errors * 10), 4) AS risk_score,
      |  CASE WHEN LEAST(100.0, total_value / 100 + n_errors * 10) > 75 THEN 'CRITICAL'
      |       WHEN LEAST(100.0, total_value / 100 + n_errors * 10) > 50 THEN 'HIGH'
      |       WHEN LEAST(100.0, total_value / 100 + n_errors * 10) > 25 THEN 'MODERATE'
      |       ELSE 'LOW' END AS risk_level
      |FROM (
      |  SELECT user_id, SUM(value) AS total_value,
      |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
      |  FROM events GROUP BY user_id)
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    val score = least(lit(100.0), col("total_value") / 100 + col("n_errors") * 10)
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(sum("value").as("total_value"),
        sum(when(col("event_type") === "error", 1).otherwise(0)).as("n_errors"))
      .select(col("user_id"),
        round(score, 4).as("risk_score"),
        when(score > 75, "CRITICAL").when(score > 50, "HIGH")
          .when(score > 25, "MODERATE").otherwise("LOW").as("risk_level"))
      .orderBy(col("user_id"))
  }

  val all: Seq[QueryDef] = Seq(
    q_hourly_events, q_daily_by_type, q_event_type_stats, q_ts_range,
    q_user_latest_event, q_event_deltas, q_rolling_daily, q_anomaly_zscore,
    q_json_props, q_variant_props, q_clicks_vs_purchases, q_first_week,
    q_user_risk)
}
