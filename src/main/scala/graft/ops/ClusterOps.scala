package graft.ops

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Clustering operators (SURVEY.md §2.11 M1/M2/M3).
  *
  * DBSCAN has no MLlib implementation; this is the grid-bucket
  * formulation: bucket points into eps-sized cells, find neighbor pairs
  * only across the 3×3 adjacent cells (an equi-join on cell keys — the
  * quadratic all-pairs scan never happens), classify core points, then
  * resolve cluster ids as connected components via iterative min-label
  * propagation (loop count bounded by component diameter; at 100 TB
  * the same edge list feeds GraphX connected components instead —
  * identical semantics, already in one edge-DataFrame form).
  *
  * Reference: DBSCAN eps-km conversion + fit `spatial_clustering.py:
  * 299-340`; KMeans with standardized coords + fixed seed `:342-378`.
  */
object ClusterOps {

  /** KMeans on two feature columns with standardization, fixed seed —
    * M2 parity (`spatial_clustering.py:342-378`).
    */
  def kmeans2d(
      points: DataFrame, xCol: String, yCol: String,
      k: Int, seed: Long): DataFrame = {
    val va = new VectorAssembler()
      .setInputCols(Array(xCol, yCol)).setOutputCol("features_raw")
    val sc = new StandardScaler()
      .setInputCol("features_raw").setOutputCol("features")
      .setWithMean(true).setWithStd(true)
    val assembled = va.transform(points.na.drop(Seq(xCol, yCol)))
    val scaled = sc.fit(assembled).transform(assembled)
    val model = new KMeans().setK(k).setSeed(seed).setFeaturesCol("features")
      .setPredictionCol("cluster_id")
    model.fit(scaled).transform(scaled).drop("features_raw", "features")
  }

  /** Fully deterministic fixed-iteration Lloyd's KMeans over
    * standardized 2-D points — the cross-engine-certifiable variant of
    * [[kmeans2d]] (MLlib's seeded init is deterministic per JVM but not
    * SQL-expressible; this one is, so the driver's DuckDB oracle can
    * replay it CTE-by-CTE):
    *
    *  - standardization mean/std and every per-iteration centroid are
    *    floor-quantized to the 1e-6 grid (the repo's float-determinism
    *    policy) so cross-engine summation-order noise in AVG/STDDEV
    *    (~1e-12 relative) never changes a downstream comparison;
    *  - seeds = the k lowest-id points (no RNG);
    *  - exactly `iters` assignment→update rounds, ties on distance break
    *    to the lowest centroid index, empty clusters keep their
    *    previous centroid.
    *
    * Scale posture: per iteration ONE map-side pass over the points
    * (assignment against k broadcast-as-literals centroids — the same
    * bounded driver fetch as the IVF centroid table) + one k-row
    * aggregate; no per-point shuffle, no driver materialization beyond
    * k rows. Output: one row per centroid (cluster_id, n, cx, cy).
    */
  def kmeansLloyd(
      points: DataFrame, idCol: String, xCol: String, yCol: String,
      k: Int, iters: Int): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    def quant(v: Double): Double = Reuse.quantMicro(v)

    val pts = points.na.drop(Seq(xCol, yCol)).select(
      col(idCol).cast("long").as("pid"),
      col(xCol).cast("double").as("x"),
      col(yCol).cast("double").as("y"))
    val st = pts.agg(
      avg(col("x")), stddev_samp(col("x")),
      avg(col("y")), stddev_samp(col("y"))).head()
    // a constant column (or a single point) has stddev 0/NaN/NULL —
    // substitute 1.0 so z-scores stay finite; the oracle applies the
    // same CASE, keeping the engine/oracle identity on degenerate input
    def safeStd(v: Double): Double = { val q = quant(v); if (q > 0) q else 1.0 }
    def num(i: Int): Double =
      if (st.isNullAt(i)) Double.NaN else st.getDouble(i)
    val (mx, sx, my, sy) =
      (quant(num(0)), safeStd(num(1)), quant(num(2)), safeStd(num(3)))
    // UnsafeRow-layer cache (see Reuse): consumed by the seed fetch,
    // every assignment round, and the final sizes pass; released before
    // return — this function owns the whole cache lifecycle
    val (z, zCache) = Reuse.materializedHandle(pts.select(col("pid"),
      ((col("x") - lit(mx)) / lit(sx)).as("zx"),
      ((col("y") - lit(my)) / lit(sy)).as("zy")))

    // seeds: the k lowest-id standardized points (bounded k-row fetch)
    var cents: Array[(Double, Double)] = z.orderBy(col("pid")).limit(k)
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))

    def assigned = {
      val dists = cents.zipWithIndex.map { case ((cx, cy), j) =>
        struct(
          ((col("zx") - lit(cx)) * (col("zx") - lit(cx)) +
            (col("zy") - lit(cy)) * (col("zy") - lit(cy))).as("d"),
          lit(j.toLong).as("j"))
      }
      z.withColumn("cid", array_min(array(dists.toIndexedSeq: _*)).getField("j"))
    }

    for (_ <- 1 to iters) {
      val upd = assigned.groupBy(col("cid"))
        .agg(avg(col("zx")).as("nx"), avg(col("zy")).as("ny"))
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
        .toMap
      cents = cents.zipWithIndex.map { case (old, j) =>
        upd.get(j.toLong).map { case (nx, ny) => (quant(nx), quant(ny)) }
          .getOrElse(old)
      }
    }

    // final sizes are k rows — collect them now (same bounded driver
    // fetch as every update round) so z can be unpersisted HERE and the
    // function leaves no pinned blocks behind: the returned DataFrame
    // is k local rows, fully decoupled from the cache lifecycle
    val sizes = assigned.groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    zCache.close()
    cents.zipWithIndex
      .map { case ((cx, cy), j) =>
        (j.toLong, sizes.getOrElse(j.toLong, 0L), cx, cy)
      }
      .toSeq.toDF("cluster_id", "n", "cx", "cy")
      .orderBy(col("cluster_id"))
  }

  /** DuckDB oracle for [[kmeansLloyd]] over the first two embedding
    * dims: the fixed iteration count unrolls into a plain (non-
    * recursive) CTE chain — c0 = seeds, then per round an assignment
    * window (min distance, tie to lowest j) and a LEFT-JOIN centroid
    * update that keeps empty clusters — quantizing exactly where the
    * engine quantizes.
    */
  def kmeansLloydOracleSql(k: Int, iters: Int): String = {
    import Reuse.quantMicroSql
    // same degenerate-input guard as the engine: stddev NULL/0 -> 1.0
    val qs = (e: String) =>
      s"CASE WHEN COALESCE(${quantMicroSql(e)}, 0) > 0 THEN ${quantMicroSql(e)} ELSE 1.0 END"
    val rounds = (1 to iters).map { i =>
      s"""a$i AS (
         |  SELECT pid, zx, zy, j AS cid FROM (
         |    SELECT z.pid, z.zx, z.zy, c.j,
         |      ROW_NUMBER() OVER (PARTITION BY z.pid ORDER BY
         |        (z.zx-c.cx)*(z.zx-c.cx)+(z.zy-c.cy)*(z.zy-c.cy), c.j) AS rn
         |    FROM z CROSS JOIN c${i - 1} c) t WHERE rn = 1),
         |c$i AS (
         |  SELECT c.j, COALESCE(m.nx, c.cx) AS cx, COALESCE(m.ny, c.cy) AS cy
         |  FROM c${i - 1} c LEFT JOIN (
         |    SELECT cid, ${quantMicroSql("AVG(zx)")} AS nx, ${quantMicroSql("AVG(zy)")} AS ny
         |    FROM a$i GROUP BY cid) m ON m.cid = c.j)""".stripMargin
    }.mkString(",\n")
    s"""WITH pts AS (
       |  SELECT vec_id AS pid, CAST(embedding[1] AS DOUBLE) AS x,
       |    CAST(embedding[2] AS DOUBLE) AS y
       |  FROM embeddings),
       |st AS (
       |  SELECT ${quantMicroSql("AVG(x)")} AS mx, ${qs("STDDEV_SAMP(x)")} AS sx,
       |         ${quantMicroSql("AVG(y)")} AS my, ${qs("STDDEV_SAMP(y)")} AS sy
       |  FROM pts),
       |z AS (
       |  SELECT pid, (x - mx)/sx AS zx, (y - my)/sy AS zy
       |  FROM pts CROSS JOIN st),
       |c0 AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY pid) - 1 AS BIGINT) AS j,
       |    zx AS cx, zy AS cy
       |  FROM (SELECT pid, zx, zy FROM z ORDER BY pid LIMIT $k) s),
       |$rounds,
       |fin AS (
       |  SELECT pid, j AS cid FROM (
       |    SELECT z.pid, c.j,
       |      ROW_NUMBER() OVER (PARTITION BY z.pid ORDER BY
       |        (z.zx-c.cx)*(z.zx-c.cx)+(z.zy-c.cy)*(z.zy-c.cy), c.j) AS rn
       |    FROM z CROSS JOIN c$iters c) t WHERE rn = 1),
       |sizes AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n FROM fin GROUP BY cid)
       |SELECT c.j AS cluster_id, COALESCE(s.n, 0) AS n, c.cx, c.cy
       |FROM c$iters c LEFT JOIN sizes s ON s.cid = c.j
       |ORDER BY cluster_id""".stripMargin
  }

  /** Grid-based distributed DBSCAN over 2-D points.
    * Input: (idCol, xCol, yCol). Output: input columns + `cluster_id`
    * (long; -1 = noise). Deterministic: cluster id is the min point id
    * in the component.
    *
    * Cache contract: the returned plan reads an eagerly-persisted pair
    * table (evictable, recomputable). Long-lived sessions should call
    * [[Reuse.releaseAllCaches]] between jobs.
    */
  def dbscan(
      points: DataFrame, idCol: String, xCol: String, yCol: String,
      eps: Double, minPts: Int,
      localCcMaxEdges: Long = GraphOps.LocalMaxEdges): DataFrame = {
    val pts = points.select(
      col(idCol).cast("long").as("pid"),
      col(xCol).cast("double").as("x"),
      col(yCol).cast("double").as("y")).na.drop()

    val withCell = pts
      .withColumn("cx", floor(col("x") / eps).cast("long"))
      .withColumn("cy", floor(col("y") / eps).cast("long"))

    // replicate each point to its 3x3 neighborhood cells; join against
    // points bucketed by home cell -> candidate pairs, then true
    // eps-distance filter. Shuffle key = cell, never all-pairs.
    val offsets = Seq(-1L, 0L, 1L)
    val repl = withCell.select(
      col("pid"), col("x"), col("y"),
      explode(array(offsets.flatMap(dx => offsets.map(dy =>
        struct((col("cx") + dx).as("gx"), (col("cy") + dy).as("gy")))): _*)).as("g"))
      .select(col("pid"), col("x"), col("y"), col("g.gx"), col("g.gy"))
    val home = withCell.select(
      col("pid").as("qid"), col("x").as("qx"), col("y").as("qy"),
      col("cx").as("gx"), col("cy").as("gy"))
    // materialized once: pairs feeds the degree count, the core-core
    // edge list AND the border-point labeling — without reuse the
    // 9x-replicate join would recompute three times (evictable eager
    // persist, not pinned localCheckpoint: see graft.ops.Reuse)
    val pairs = Reuse.materialized(
      repl.join(home, Seq("gx", "gy"))
        .filter(col("pid") =!= col("qid"))
        .filter(pow(col("x") - col("qx"), 2) + pow(col("y") - col("qy"), 2)
          <= lit(eps * eps))
        .select(col("pid"), col("qid")).distinct())

    val degrees = pairs.groupBy(col("pid")).agg(count(lit(1)).as("deg"))
    // core: >= minPts neighbors (point itself included per classic defn)
    val core = degrees.filter(col("deg") >= minPts - 1).select(col("pid"))

    // connected components over core-core edges (shared CC kernel —
    // local union-find fast path / pointer-jumping propagation at
    // scale, see GraphOps). Isolated core points (no core neighbor)
    // never reach the edge list: they label themselves.
    val coreEdges = pairs
      .join(core, "pid")
      .join(core.withColumnRenamed("pid", "qid"), "qid")
      .select(col("pid").as("src"), col("qid").as("dst"))
    val ccLabels = GraphOps.minLabelComponents(coreEdges, localCcMaxEdges)
    val labels = core
      .join(ccLabels.withColumnRenamed("id", "pid"), Seq("pid"), "left")
      .select(col("pid"), coalesce(col("label"), col("pid")).as("label"))

    // border points: non-core with a core neighbor -> min core label
    val borderLabels = pairs
      .join(labels.withColumnRenamed("pid", "qid")
        .withColumnRenamed("label", "qlabel"), "qid")
      .groupBy(col("pid")).agg(min(col("qlabel")).as("blabel"))

    val assigned = pts
      .join(labels.withColumnRenamed("label", "coreLabel"), Seq("pid"), "left")
      .join(borderLabels, Seq("pid"), "left")
      .withColumn("cluster_id",
        coalesce(col("coreLabel"), col("blabel"), lit(-1L)))
      .select(col("pid").as(idCol), col("x").as(xCol), col("y").as(yCol),
        col("cluster_id"))
    assigned
  }

  /** Per-cluster profile A11 (`spatial_clustering.py:380-462`) in one
    * distributed pass: size, centroid, bounding stats.
    */
  def clusterProfile(clustered: DataFrame, xCol: String, yCol: String): DataFrame =
    clustered
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("size"),
        round(avg(col(xCol)), 6).as("centroid_x"),
        round(avg(col(yCol)), 6).as("centroid_y"),
        round(min(col(xCol)), 6).as("min_x"),
        round(max(col(xCol)), 6).as("max_x"))
      .orderBy(desc("size"), col("cluster_id"))

  /** FULL per-cluster profile matching the reference's cluster
    * summaries (`spatial_clustering.py:380-462`): size, centroid, mean
    * of a value column, id range, and the top-1 value (with its count)
    * of each categorical dimension. The categorical tops come from ONE
    * explode → (cluster, dim, value) count → per-(cluster, dim) window
    * top-1 → conditional-agg pivot; no per-dimension passes, so the
    * cost is one shuffle regardless of how many dimensions profile.
    * Ties break by value for cross-engine determinism.
    */
  def clusterProfileFull(
      df: DataFrame, clusterCol: String, xCol: String, yCol: String,
      valueCol: String, idCol: String, catCols: Seq[String]): DataFrame = {
    require(catCols.nonEmpty,
      "clusterProfileFull needs at least one categorical column " +
        "(use the base profile aggregation for none)")
    import org.apache.spark.sql.expressions.Window
    val base = df.groupBy(col(clusterCol).as("cluster_id")).agg(
      count(lit(1)).as("n_points"),
      round(avg(col(xCol)), 6).as("centroid_x"),
      round(avg(col(yCol)), 6).as("centroid_y"),
      round(avg(col(valueCol).cast("double")), 4).as("avg_value"),
      min(col(idCol)).as("min_id"),
      max(col(idCol)).as("max_id"))
    val dimVals = df.select(col(clusterCol).as("cluster_id"),
      explode(array(catCols.map(c =>
        struct(lit(c).as("dim"), col(c).cast("string").as("v"))): _*)).as("dv"))
      .groupBy(col("cluster_id"), col("dv.dim").as("dim"), col("dv.v").as("v"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("cluster_id"), col("dim"))
      .orderBy(col("n").desc, col("v"))
    val top = dimVals.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    val aggCols = catCols.flatMap(c => Seq(
      max(when(col("dim") === c, col("v"))).as(s"top_$c"),
      max(when(col("dim") === c, col("n"))).as(s"top_${c}_n")))
    val wide = top.groupBy(col("cluster_id")).agg(aggCols.head, aggCols.tail: _*)
    base.join(wide, Seq("cluster_id"), "left")
      .orderBy(desc("n_points"), col("cluster_id"))
  }
}
