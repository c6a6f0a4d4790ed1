package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.floor
import org.apache.spark.storage.StorageLevel

/** Shared-subplan materialization for DataFrames consumed by several
  * independent downstream branches (aliased self-joins get fresh
  * expression ids, so Catalyst's exchange reuse cannot dedupe them).
  *
  * `materialized` = persist + eager count. Eager, because a lazy
  * persist lets the downstream branches' stages race: each computes the
  * cached partitions before the first has populated the block store,
  * re-running the shared subplan up to fan-out times (measured: 2.5×
  * on the dedup-group pipeline).
  *
  * persist(MEMORY_AND_DISK), NOT `localCheckpoint`: checkpoint blocks
  * are pinned — non-evictable, and the query FAILS on executor loss
  * instead of recomputing — so at 100 TB a checkpointed intermediate
  * must fit cluster storage and survive every executor. Cache blocks
  * evict under pressure and recompute from lineage. Callers that loop
  * (iterative kernels needing lineage truncation) still use
  * localCheckpoint; harness code (Bench/Verify) unpersists everything
  * between queries.
  */
object Reuse {

  /** Drop every cached/persisted block — cached DataFrames, persisted
    * RDDs from [[materialized]], and any still-pinned localCheckpoint
    * RDDs from iterative kernels. Harness code (Bench/Verify/probes)
    * calls this between queries for a deterministic memory baseline.
    */
  def releaseAllCaches(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    // memory-sink temp views from StreamingOps.drainToBatch pin their
    // drained rows on the driver; dropping them here (NOT per-drain —
    // an eager per-drain copy-out measured 1.5-5× on the whole stream
    // family) bounds their lifetime to one query under the same
    // release-between-jobs contract as the caches above
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("drain_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
  }

  def materialized(df: DataFrame): DataFrame =
    if (isCheapRescan(df)) df else materializedHandle(df)._1

  /** True when `df` is a deterministic scan + TRIVIAL narrow plan
    * (small project/filter expressions over leaves only — no join/
    * aggregate/window/generate/repartition): re-scanning such a plan
    * once per consumer branch is cheaper than an eager persist (one
    * extra job + an UnsafeRow copy of every row), and at 100 TB
    * caching a full-table projection is exactly the §5 anti-pattern
    * (cache pressure vs a cheap columnar re-scan). Recompute is safe:
    * every allowed node is deterministic, so branches see identical
    * rows. The EXPRESSION-SIZE bound is load-bearing: a narrow plan
    * whose projection carries an expensive expression (the CDC
    * chunker's hash→transform→filter bounds, PlanSpec's re-evaluation
    * trap — measured 11 s → 1 s WITH the barrier) must stay
    * materialized, or CollapseProject re-inlines the chain into every
    * downstream reference.
    */
  private def isCheapRescan(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.plans.logical._
    def nodes(e: Expression): Int = 1 + e.children.map(nodes).sum
    def trivial(e: Expression): Boolean = e.deterministic && nodes(e) <= 16
    var cheap = true
    df.queryExecution.logical.foreach {
      case _: LeafNode => ()
      case p: Project if p.projectList.forall(trivial) => ()
      case f: Filter if trivial(f.condition) => ()
      case _: SubqueryAlias => ()
      case _ => cheap = false
    }
    cheap
  }

  /** Round-robin a small scan across the cores BEFORE heavy per-row
    * work (tokenization, shingle hashing, explode fan-out, broadcast
    * probes): cert-scale inputs are single-row-group parquet files, so
    * everything fused above the first exchange otherwise runs on ONE
    * task (input skew). A no-op at scale — a real
    * table's scan already yields >= parallelism splits — and a no-op
    * for streaming frames (micro-batch sources partition by file; .rdd
    * is unavailable). Row order is not changed semantically: callers
    * are aggregations/joins, which are order-free.
    */
  def spreadToCores(df: DataFrame): DataFrame = {
    if (df.isStreaming) df
    else {
      val par = df.sparkSession.sparkContext.defaultParallelism
      if (scanParallelism(df) < par) df.repartition(par) else df
    }
  }

  /** Estimated task count of `df`'s scan, from FILE METADATA instead of
    * `df.rdd.getNumPartitions` — the rdd guard forced physical planning
    * of the subplan a second time per query. Every
    * call site feeds a scan + narrow projection, so the scan's split
    * count IS the stage's parallelism; parquet packs splits at
    * maxPartitionBytes with openCostInBytes charged per file, hence
    * splits ≈ ceil(Σ(size + openCost) / maxSplit). Falls back to the
    * physical partition count when the plan has no resolvable local
    * files (in-memory fixtures, exotic schemes).
    */
  private def scanParallelism(df: DataFrame): Long = {
    val est =
      try {
        val files = df.inputFiles
        if (files.isEmpty) -1L
        else {
          val conf = org.apache.spark.sql.internal.SQLConf.get
          val maxSplit = math.max(conf.filesMaxPartitionBytes, 1L)
          val openCost = conf.filesOpenCostInBytes
          var weighted = 0L
          var ok = true
          files.foreach { f =>
            val uri = new java.net.URI(f)
            val local = uri.getScheme == null || uri.getScheme == "file"
            val len = if (local) new java.io.File(uri.getPath).length() else -1L
            if (len < 0) ok = false else weighted += len + openCost
          }
          if (ok) math.max(1L, (weighted + maxSplit - 1) / maxSplit) else -1L
        }
      } catch { case _: Throwable => -1L }
    if (est >= 0) est else df.rdd.getNumPartitions.toLong
  }

  /** The repo's float-determinism grid (PERF.md): floor-quantize to
    * 1e-6 with +0.5 — the SAME IEEE op sequence the oracle SQL renders
    * (`FLOOR(x * 1000000 + 0.5) / 1000000.0`). Single source for every
    * kernel that feeds quantized doubles into cross-engine-certified
    * output (Lloyd's centroids, IVF seeds, PQ codebooks).
    */
  def quantMicro(v: Double): Double = math.floor(v * 1000000 + 0.5) / 1000000.0

  /** [[quantMicro]] as a Column expression. */
  def quantMicroCol(c: Column): Column = floor(c * 1000000 + 0.5) / 1000000.0

  /** [[quantMicro]] rendered into oracle SQL over the expression `e`. */
  def quantMicroSql(e: String): String = s"FLOOR(($e)*1000000+0.5)/1000000.0"

  /** As [[materialized]], plus a release handle for callers that OWN
    * the cache lifecycle (their last action over the materialized plan
    * happens before they return — e.g. kmeansLloyd's k-row collects).
    * Ops that return a LAZY plan reading the cache cannot release
    * eagerly; their scaladoc documents the
    * [[releaseAllCaches]]-between-jobs contract instead.
    */
  def materializedHandle(df: DataFrame): (DataFrame, AutoCloseable) = {
    import org.apache.spark.sql.GraftColumnBridge
    // UnsafeRow-layer cache: persist the physical RDD (rows copied —
    // toRdd iterators reuse row buffers) instead of Dataset.persist's
    // InMemoryRelation, whose per-column encode/decode measured ~2×
    // slower end-to-end on the dedup/DBSCAN kernels. Identical block
    // layout to localCheckpoint, but lineage is KEPT: blocks evict
    // under pressure and recompute, and executor loss recomputes
    // instead of failing the query.
    val rdd = GraftColumnBridge.toRdd(df)
      .map(_.copy())
      .persist(StorageLevel.MEMORY_AND_DISK)
    rdd.count() // eager: downstream branches race to fill a lazy cache
    val out = GraftColumnBridge.internalCreateDataFrame(df.sparkSession, rdd, df.schema)
    (out, () => { rdd.unpersist(blocking = false); () })
  }
}
