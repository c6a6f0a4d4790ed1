package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.ClusterOps
import org.apache.spark.sql.functions._

/** Clustering query surface (M1/M2) over the first two embedding
  * dimensions as a 2-D point cloud. Every query, iterative/seeded ones
  * included, carries a DuckDB oracle that replays the deterministic
  * algorithm; DBSCAN is also verified against an independent in-memory
  * implementation in ClusterOpsSpec.
  */
object ClusterQueries {

  private def points(spark: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.embeddings(spark, dir).select(
      col("vec_id"),
      element_at(col("embedding"), 1).cast("double").as("x"),
      element_at(col("embedding"), 2).cast("double").as("y"))

  /** Grid-DBSCAN cluster profile (M1 + A11). DBSCAN with a min-id
    * component label is fully deterministic, so even this iterative
    * operator gets a REAL oracle: DuckDB rebuilds the eps-graph with a
    * quadratic join (fine at oracle scale) and resolves components
    * with a recursive-CTE transitive closure — MIN(reachable id) is
    * exactly the engine's min-label propagation fixpoint. The grid
    * bucketing is invisible to the result (any pair within eps lies in
    * adjacent cells), which this oracle proves every round.
    */
  val q_dbscan_profile = QueryDef(
    "q_dbscan_profile",
    """WITH RECURSIVE pts AS (
      |  SELECT vec_id AS pid, CAST(embedding[1] AS DOUBLE) AS x,
      |    CAST(embedding[2] AS DOUBLE) AS y
      |  FROM embeddings),
      |pairs AS (
      |  SELECT a.pid AS pid, b.pid AS qid
      |  FROM pts a JOIN pts b ON a.pid <> b.pid
      |   AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
      |       <= 0.02 * 0.02),
      |deg AS (SELECT pid, COUNT(*) AS deg FROM pairs GROUP BY pid),
      |core AS (SELECT pid FROM deg WHERE deg >= 3),
      |edges AS (
      |  SELECT p.pid, p.qid FROM pairs p
      |  JOIN core a ON a.pid = p.pid JOIN core b ON b.pid = p.qid),
      |reach AS (
      |  SELECT pid, pid AS rid FROM core
      |  UNION
      |  SELECT r.pid, e.qid AS rid FROM reach r JOIN edges e ON e.pid = r.rid),
      |labels AS (SELECT pid, MIN(rid) AS label FROM reach GROUP BY pid),
      |border AS (
      |  SELECT p.pid, MIN(l.label) AS blabel
      |  FROM pairs p JOIN labels l ON l.pid = p.qid
      |  GROUP BY p.pid),
      |asg AS (
      |  SELECT pts.pid, pts.x, pts.y,
      |    COALESCE(l.label, b.blabel, -1) AS cluster_id
      |  FROM pts LEFT JOIN labels l ON l.pid = pts.pid
      |           LEFT JOIN border b ON b.pid = pts.pid)
      |SELECT cluster_id, COUNT(*) AS size, ROUND(AVG(x), 6) AS centroid_x,
      |  ROUND(AVG(y), 6) AS centroid_y, ROUND(MIN(x), 6) AS min_x,
      |  ROUND(MAX(x), 6) AS max_x
      |FROM asg GROUP BY cluster_id
      |ORDER BY size DESC, cluster_id""".stripMargin) { (spark, dir) =>
    ClusterOps.clusterProfile(
      ClusterOps.dbscan(points(spark, dir), "vec_id", "x", "y",
        eps = 0.02, minPts = 4), "x", "y")
  }

  /** FULL cluster profile A11 over a deterministic labeling (the
    * `label` column — profile is downstream of clustering, so feeding
    * it known labels makes the whole profile oracle-checkable): size,
    * centroid, avg value, id range, top-1 categorical per dimension
    * (`spatial_clustering.py:380-462` parity). */
  val q_cluster_profile = QueryDef(
    "q_cluster_profile",
    """WITH j AS (
      |  SELECT CAST(e.label AS BIGINT) AS cluster_id,
      |    CAST(e.embedding[1] AS DOUBLE) AS x, CAST(e.embedding[2] AS DOUBLE) AS y,
      |    d.n_chars, d.doc_id, d.lang, d.source
      |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
      |base AS (
      |  SELECT cluster_id, COUNT(*) AS n_points,
      |    ROUND(AVG(x), 6) AS centroid_x, ROUND(AVG(y), 6) AS centroid_y,
      |    ROUND(AVG(CAST(n_chars AS DOUBLE)), 4) AS avg_value,
      |    MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      |  FROM j GROUP BY 1),
      |dims AS (
      |  SELECT cluster_id, dim, v, COUNT(*) AS n FROM (
      |    SELECT cluster_id, 'lang' AS dim, lang AS v FROM j
      |    UNION ALL SELECT cluster_id, 'source' AS dim, source AS v FROM j) u
      |  GROUP BY 1, 2, 3),
      |top AS (
      |  SELECT * FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id, dim
      |      ORDER BY n DESC, v) AS rn FROM dims) t WHERE rn = 1),
      |wide AS (
      |  SELECT cluster_id,
      |    MAX(CASE WHEN dim = 'lang' THEN v END) AS top_lang,
      |    MAX(CASE WHEN dim = 'lang' THEN n END) AS top_lang_n,
      |    MAX(CASE WHEN dim = 'source' THEN v END) AS top_source,
      |    MAX(CASE WHEN dim = 'source' THEN n END) AS top_source_n
      |  FROM top GROUP BY 1)
      |SELECT b.cluster_id, b.n_points, b.centroid_x, b.centroid_y, b.avg_value,
      |  b.min_id, b.max_id, w.top_lang, w.top_lang_n, w.top_source, w.top_source_n
      |FROM base b LEFT JOIN wide w USING (cluster_id)
      |ORDER BY n_points DESC, cluster_id""".stripMargin) { (spark, dir) =>
    val joined = Tables.embeddings(spark, dir)
      .select(col("label").cast("long").as("cluster_id"),
        element_at(col("embedding"), 1).cast("double").as("x"),
        element_at(col("embedding"), 2).cast("double").as("y"),
        col("vec_id"))
      .join(Tables.documents(spark, dir)
        .select(col("doc_id"), col("n_chars"), col("lang"), col("source")),
        col("vec_id") === col("doc_id"))
    ClusterOps.clusterProfileFull(joined, "cluster_id", "x", "y",
      "n_chars", "doc_id", Seq("lang", "source"))
  }

  /** KMeans cluster sizes + centroids (M2), deterministic fixed-
    * iteration Lloyd's: lowest-id seeds, 6 rounds, quantized centroid
    * updates — every round of the iterative fit is replayed by the
    * oracle's unrolled CTE chain, so even this ML operator is
    * hash-certified (the seeded-MLlib variant stays as a spec
    * cross-check, ClusterOpsSpec).
    */
  val q_kmeans_sizes = QueryDef(
    "q_kmeans_sizes",
    ClusterOps.kmeansLloydOracleSql(k = 5, iters = 6)) { (spark, dir) =>
    ClusterOps.kmeansLloyd(points(spark, dir), "vec_id", "x", "y",
      k = 5, iters = 6)
  }

  val all: Seq[QueryDef] = Seq(q_dbscan_profile, q_cluster_profile, q_kmeans_sizes)
}
