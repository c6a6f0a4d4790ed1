package graft.queries

import graft.QueryDef

/** SURVEY.md §7.5 certification map: the reference dashboard's fetch
  * functions (`app_upgraded.py` / `psql_db_client.py` /
  * `anomaly_detection.py`) by name → the engine query that carries
  * each one's semantics. Every entry is a certified [[QueryDef]]
  * (oracle-checked unless noted).
  */
object DashboardQueries {

  val byReferenceName: Map[String, QueryDef] = Map(
    // app_upgraded.py:51 — total event count (+ range, A6/A7)
    "totalEvents" -> Events.q_ts_range,
    // :64-68 — recent-window count (interval filter)
    "recentEvents" -> Events.q_first_week,
    // :80-90 — top-N distribution (explode + count + limit)
    "diseaseDist" -> TextQueries.q_top_words,
    // :102-111 — group distribution
    "boroughDist" -> Events.q_event_type_stats,
    // :129-144 — distribution with custom severity ordering
    "severityDist" -> Relational.q_order_size_classes,
    // :156-164 — hourly time series
    "timeSeries" -> Events.q_hourly_events,
    // :175-187 — second top-N panel
    "topSymptoms" -> Relational.q_top_parts,
    // :198-209 — source distribution (CASE relabel + counts)
    "sourceDist" -> Relational.q_priority_counts,
    // :541-566 — informal daily counts
    "informalDailyCounts" -> Events.q_daily_by_type,
    // :580-629 — official-vs-informal outer join + fill + corr
    "officialVsInformal" -> Events.q_clicks_vs_purchases,
    "officialVsInformalCorr" -> EventsMore.q_daily_corr,
    // :631-652 — early-detection lag
    "earlyDetection" -> EventsMore.q_early_detection,
    // :658-772 — risk assessment composite
    "riskAssessment" -> Events.q_user_risk,
    // psql_db_client.py:461-509 — db stats panel
    "dbStats" -> Events.q_ts_range,
    // psql_db_client.py:194-209 — daily counts matview
    "dailyDiseaseCounts" -> Events.q_daily_by_type,
    // :211-222 — borough/severity summary
    "boroughSeveritySummary" -> EventsMore.q_cube_counts,
    // anomaly_detection.py:12-64 — expanding z-score anomalies
    "anomalyZScores" -> Events.q_anomaly_zscore,
    // disease_outbreak_forecaster.py:297-313 — daily neighborhood agg
    "dailyNeighborhoodAgg" -> Events.q_daily_by_type,
    // :315-326 — lag features
    "lagFeatures" -> Events.q_event_deltas,
    // spatial_clustering.py:380-462 — cluster profiles
    "clusterProfiles" -> ClusterQueries.q_dbscan_profile,
    // chromadb_client.py:194-306 — filtered semantic search
    "semanticSearch" -> RelevanceQueries.q_semantic_search)
}
