package graft.ops

import org.apache.spark.TaskContext
import org.apache.spark.rdd.UnionRDD
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Iterative graph kernels over edge lists: connected components,
  * PageRank, personalized PageRank, k-core peeling, label propagation,
  * BFS hops and weighted hops (plus the one-pass triangle count).
  *
  * Every iterative kernel has two physical paths, chosen at run time
  * from the measured input size:
  *  - driver-local: when the edges, plus the nodes or seeds the kernel
  *    reads, total at most [[LocalMaxEdges]] rows and hold no null,
  *    one job copies them to the driver ([[collectLocal]]), the rounds
  *    run over dense `Long` arrays, and the result comes back as an
  *    RDD-backed frame;
  *  - distributed: otherwise, each round is a set of key equi-joins
  *    and aggregates over the cluster, re-materialized per round with
  *    a two-generation release window (lineage truncated by
  *    `localCheckpoint` where the loop needs it).
  * Both paths compute the same function of the input, row for row:
  * the same round counts, the same integer `DIV` arithmetic, parallel
  * edges counted once per copy, edges to or from ids outside `nodes`
  * handled as the distributed joins handle them. The distributed
  * kernels are `private[graft]` so specs can run them directly at any
  * size; at deploy scale the gate routes to them on its own.
  */
object GraphOps {

  /** Row gate for the driver-local paths: 2 M edges as a few `Long`
    * arrays (16–24 B per edge) plus the per-node state stay in the tens
    * of MB of driver heap; above it the distributed kernels run.
    */
  val LocalMaxEdges: Long = 2000000L

  /** The frames' rows on the driver, column-major (`result(f)(c)(r)`
    * is frame f's column c at row r), when every column is BIGINT, no
    * value is null and the frames total at most `maxRows` rows;
    * otherwise None.
    *
    * One job scans every partition of every frame, counting rows and
    * buffering at most `maxRows / partitions` of them per partition,
    * so the driver never receives more than `maxRows` rows. Partitions
    * that held more than their share (skew) are re-read by a second
    * job only when the total is under the gate. Over the gate the scan
    * is wasted work the distributed kernel then repeats — one extra
    * pass over its input, against the 4–10 rounds it runs.
    */
  private def collectLocal(maxRows: Long, frames: DataFrame*)
      : Option[Seq[Array[Array[Long]]]] = {
    if (!frames.forall(_.schema.fields.forall(_.dataType == LongType))) return None
    val rdds = frames.map(GraftColumnBridge.toRdd)
    val all = new UnionRDD(frames.head.sparkSession.sparkContext, rdds)
    val owner = rdds.zipWithIndex.flatMap { case (r, f) =>
      Seq.fill(r.getNumPartitions)(f) }.toArray
    val widths = frames.map(_.schema.length).toArray
    // per partition: (rows seen, any null, row-major values when rows ≤ limit)
    def scan(limit: Long) = (ctx: TaskContext, it: Iterator[InternalRow]) => {
      val w = widths(owner(ctx.partitionId()))
      val buf = new scala.collection.mutable.ArrayBuilder.ofLong
      var n = 0L
      var nulls = false
      while (it.hasNext && n <= maxRows && !nulls) {
        val row = it.next()
        n += 1
        var c = 0
        while (c < w) {
          if (row.isNullAt(c)) nulls = true
          else if (n <= limit) buf += row.getLong(c)
          c += 1
        }
      }
      (n, nulls, if (n <= limit) buf.result() else null)
    }
    val sc = all.sparkContext
    val first = sc.runJob(all, scan(math.max(1L, maxRows / math.max(1, owner.length))))
    if (first.exists(_._2) || first.map(_._1).sum > maxRows) return None
    val refill = first.indices.filter(first(_)._3 == null)
    val reread = if (refill.isEmpty) Map.empty[Int, Array[Long]]
      else refill.zip(sc.runJob(all, scan(maxRows), refill).map(_._3)).toMap
    Some(frames.indices.map { f =>
      val parts = owner.indices.filter(owner(_) == f)
        .map(p => reread.getOrElse(p, first(p)._3))
      val w = widths(f)
      val flat = Array.concat(parts: _*)
      Array.tabulate(w)(c => Array.tabulate(flat.length / w)(r => flat(r * w + c)))
    })
  }

  /** A driver-local result as an RDD-backed frame of BIGINT columns. */
  private def localFrame(spark: SparkSession, names: Seq[String],
      cols: Array[Long]*): DataFrame = {
    val n = cols.head.length
    val rows: Seq[InternalRow] = (0 until n).map(r =>
      new GenericInternalRow(cols.map(c => c(r): Any).toArray))
    val slices = math.max(1, math.min(spark.sparkContext.defaultParallelism, n))
    GraftColumnBridge.internalCreateDataFrame(spark,
      spark.sparkContext.parallelize(rows, slices),
      StructType(names.map(StructField(_, LongType))))
  }

  /** Sorted distinct ids: the dense index behind [[keyOf]]. */
  private def denseKeys(ids: Array[Long]*): Array[Long] = {
    val k = Array.concat(ids: _*)
    java.util.Arrays.sort(k)
    var m = 0
    for (i <- k.indices) if (i == 0 || k(i) != k(i - 1)) { k(m) = k(i); m += 1 }
    java.util.Arrays.copyOf(k, m)
  }

  /** Dense index of `id` in `keys`, or -1 when absent. */
  private def keyOf(keys: Array[Long], id: Long): Int = {
    val i = java.util.Arrays.binarySearch(keys, id)
    if (i >= 0) i else -1
  }

  /** Connected components by minimum label. Input: a symmetric edge
    * list (`src`, `dst`). Output: (`id`, `label`) for every node
    * appearing in an edge, `label` = the component's minimum node id —
    * the shared resolution kernel behind DBSCAN cluster ids and
    * near-duplicate groups.
    *
    * Up to `localMaxEdges` edges: a driver union-find over the
    * collected edges. Above it: [[distributedComponents]]. GraphX
    * `connectedComponents` is the drop-in unbounded-scale replacement;
    * the edge list is already in its shape.
    *
    * @param localMaxEdges the gate; 0 forces the distributed path for
    *   any non-empty edge list
    */
  def minLabelComponents(
      edges: DataFrame, localMaxEdges: Long = LocalMaxEdges): DataFrame =
    collectLocal(localMaxEdges, edges.select(col("src"), col("dst"))) match {
      case Some(Seq(Array(src, dst))) =>
        val spark = edges.sparkSession
        import spark.implicits._
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        for (i <- src.indices) {
          val (a, b) = (find(src(i)), find(dst(i)))
          if (a != b) parent(math.max(a, b)) = math.min(a, b)
        }
        // the edge list is symmetric, so src covers every node
        src.distinct.map(id => (id, find(id))).toSeq.toDF("id", "label")
          .repartition(col("id")).localCheckpoint()
      case _ => distributedComponents(edges)._1
    }

  /** The distributed components kernel, and the rounds it took.
    * Iterative neighbor-min propagation plus pointer jumping
    * (label ← label(label)), which contracts convergence from
    * O(diameter) to O(log n) rounds: each round at least halves the
    * label-chain length, so rounds ≤ log₂(largest component) + 2.
    * Convergence is the label-sum fixpoint (labels only decrease),
    * folded into each round's materialization job.
    */
  private[graft] def distributedComponents(edges: DataFrame): (DataFrame, Int) = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val nodes = e.select(col("src").as("id")).distinct()
    var (labels, release, labelSum) = materializeWithSum(
      nodes.withColumn("label", col("id")))(_.getLong(1))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 50) {
      val prop = e
        .join(labels.select(col("id").as("dst"), col("label").as("dlabel")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("dlabel")).as("nbrMin"))
      val viaNbr = labels.join(prop, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbrMin"), col("label"))).as("label"))
      val (next, nextRelease, newSum) = materializeWithSum(viaNbr.as("l1")
        .join(viaNbr.select(col("id").as("jid"), col("label").as("jlabel")).as("l2"),
          col("l1.label") === col("jid"), "left")
        .select(col("l1.id").as("id"),
          least(col("l1.label"), coalesce(col("jlabel"), col("l1.label"))).as("label")))(
        _.getLong(1))
      release.close()
      // labels only DECREASE, so an unchanged sum is the fixpoint —
      // the initial sum Σ id equals the first round's sum only if
      // nothing propagated (every node already its own component min)
      changed = if (newSum == labelSum) 0L else 1L
      labelSum = newSum
      labels = next
      release = nextRelease
      iter += 1
    }
    (labels, iter)
  }

  /** Total-mass micro-units for an `n`-node graph: at least 1000
    * micro per node, so integer ranks never collapse to all-zero on
    * large graphs (a fixed 10^6 total would underflow past 10^6
    * nodes, and its teleport term already at 150k).
    */
  def pageRankScale(n: Long): Long = math.max(1000000L, 1000L * n)

  /** [[Reuse.materializedHandle]] with a per-row LONG statistic folded
    * into the materialization action itself via an accumulator: ONE
    * job per distributed round carries both the cache fill and the
    * round's scalar (dangling mass, convergence label-sum).
    * Accumulator updates inside a foreach ACTION are applied
    * exactly-once by Spark's guarantee, so the scalar is exact; it
    * feeds the next round as a driver literal.
    */
  private def materializeWithSum(df: DataFrame)(
      stat: InternalRow => Long): (DataFrame, AutoCloseable, Long) = {
    val spark = df.sparkSession
    val rdd = GraftColumnBridge.toRdd(df)
      .map(_.copy())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val acc = spark.sparkContext.longAccumulator("graft.materializeWithSum")
    rdd.foreach { row => // eager materialization + the statistic, one job
      acc.add(stat(row))
    }
    val out = GraftColumnBridge.internalCreateDataFrame(spark, rdd, df.schema)
    (out, () => { rdd.unpersist(blocking = false); () }, acc.value)
  }

  /** [[materializeWithSum]] specialised to a rank table: the dangling
    * mass Σ rank WHERE outdeg = 0 of the table being materialized.
    */
  private def materializeRanks(df: DataFrame, outdegOrd: Int, rankOrd: Int)
      : (DataFrame, AutoCloseable, Long) =
    materializeWithSum(df) { row =>
      if (row.getLong(outdegOrd) == 0L) row.getLong(rankOrd) else 0L
    }

  /** Deterministic PageRank in integer micro-units (total mass
    * S = [[pageRankScale]](n) = max(10^6, 1000·n) — per-node
    * resolution ≥ 1000 micro at ANY graph size), damping 0.85, a
    * fixed iteration count — every operation is exact 64-bit integer
    * arithmetic, so the result is order-free and bit-identical to the
    * unrolled-CTE SQL replay regardless of partitioning or path:
    *
    *   r₀(v)    = S DIV n
    *   rₜ₊₁(v)  = ((S DIV n)·15 DIV 100)
    *            + (85·(Σ_{u→v} rₜ(u) DIV outdeg(u) + Dₜ DIV n)) DIV 100
    *
    * where Dₜ = Σ rₜ over dangling (no-out-edge) nodes. Integer
    * division sheds ≤1 micro per term — deterministic truncation, the
    * price of cross-engine bit-equality. n counts `nodes` rows;
    * out-degree counts every edge, and contributions to a `dst` outside
    * `nodes` are dropped.
    *
    * @param nodes  one `id` column, every vertex (dangling included)
    * @param edges  directed `src`,`dst` (pass both directions for an
    *               undirected graph); parallel edges contribute twice
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, iterations: Int = 10): DataFrame =
    collectLocal(LocalMaxEdges, nodes.select(col("id")),
      edges.select(col("src"), col("dst"))) match {
      case Some(Seq(Array(ids), Array(src, dst))) =>
        require(ids.nonEmpty, "pageRank: empty node set")
        localFrame(nodes.sparkSession, Seq("id", "rank"), ids,
          localRanks(ids, Array.fill(ids.length)(1L), src, dst, iterations))
      case _ => distributedPageRank(nodes, edges, iterations)
    }

  /** PERSONALIZED PageRank: [[pageRank]] with the teleport vector
    * concentrated on a seed set instead of uniform — the
    * proximity-to-trusted-anchors score (seed a few vetted documents,
    * rank the rest by how tightly the similarity graph ties them to
    * the seeds; random-walk-with-restart semantics). Same exact
    * integer micro-unit contract as [[pageRank]], with two deltas the
    * oracle replays term for term: r₀ and the 15% restart mass go
    * only to seeds (S DIV |seeds| each, 0 elsewhere), and dangling
    * mass restarts to the SEEDS (Dₜ DIV |seeds|), not to all nodes —
    * the standard RWR formulation, which keeps non-seed mass strictly
    * walk-derived. With every node a seed it IS [[pageRank]], which is
    * how the two share one local kernel.
    *
    * @param nodes `id` + boolean `is_seed` (at least one seed)
    * @param edges directed `src`,`dst`; pass both directions for an
    *              undirected graph
    */
  def personalizedPageRank(
      nodes: DataFrame, edges: DataFrame, iterations: Int = 10): DataFrame =
    collectLocal(LocalMaxEdges, nodes.select(col("id"), col("is_seed").cast("long")),
      edges.select(col("src"), col("dst"))) match {
      case Some(Seq(Array(ids, seed), Array(src, dst))) =>
        require(seed.contains(1L), "personalizedPageRank: empty seed set")
        localFrame(nodes.sparkSession, Seq("id", "rank"), ids,
          localRanks(ids, seed, src, dst, iterations))
      case _ => distributedPersonalizedPageRank(nodes, edges, iterations)
    }

  /** The rank rounds of [[personalizedPageRank]] on the driver, one
    * rank per `nodes` row (`seed(r)` = 1 for a seed row). Rows sharing
    * an id each hold their own rank and each contribute along that
    * id's out-edges, as the rank ⋈ edges join does.
    */
  private def localRanks(ids: Array[Long], seed: Array[Long],
      src: Array[Long], dst: Array[Long], iterations: Int): Array[Long] = {
    val keys = denseKeys(ids)
    val rowKey = ids.map(keyOf(keys, _))
    val srcKey = src.map(keyOf(keys, _))
    val dstKey = dst.map(keyOf(keys, _))
    val outdeg = new Array[Long](keys.length)
    srcKey.foreach(k => if (k >= 0) outdeg(k) += 1)
    val nSeeds = seed.count(_ == 1L).toLong
    val seedR0 = pageRankScale(ids.length.toLong) / nSeeds
    val teleport = seedR0 * 15L / 100L
    var rank = seed.map(s => if (s == 1L) seedR0 else 0L)
    for (_ <- 0 until iterations) {
      var dm = 0L
      val perKey = new Array[Long](keys.length) // Σ rank DIV outdeg per id
      for (r <- rank.indices) {
        val k = rowKey(r)
        if (outdeg(k) == 0L) dm += rank(r) else perKey(k) += rank(r) / outdeg(k)
      }
      val s = new Array[Long](keys.length)
      for (e <- srcKey.indices)
        if (srcKey(e) >= 0 && dstKey(e) >= 0) s(dstKey(e)) += perKey(srcKey(e))
      val dmShare = dm / nSeeds
      rank = Array.tabulate(rank.length) { r =>
        if (seed(r) == 1L) teleport + 85L * (s(rowKey(r)) + dmShare) / 100L
        else 85L * s(rowKey(r)) / 100L
      }
    }
    rank
  }

  /** The distributed [[pageRank]]: ranks and contributions stay
    * distributed (one edges ⋈ ranks join and one aggregate per round),
    * and the per-round driver traffic is ONE scalar, the dangling mass
    * accumulated on the rank-materialization job
    * ([[materializeRanks]]). outdeg is constant per node, so it rides
    * the rank table. Storage holds ≤ 2 rank generations; the final
    * table stays cached under the releaseAllCaches-between-jobs
    * contract.
    */
  private[graft] def distributedPageRank(
      nodes: DataFrame, edges: DataFrame, iterations: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("outdeg"))
    val n = nodes.count()
    require(n > 0, "pageRank: empty node set")
    val scale = pageRankScale(n)
    val r0 = scale / n // ≥ 1000 micro by construction
    val teleport = r0 * 15L / 100L

    var (ranks, release, dm) = materializeRanks(nodes
      .join(deg, Seq("id"), "left")
      .select(col("id"), coalesce(col("outdeg"), lit(0L)).as("outdeg"),
        lit(r0).as("rank")), outdegOrd = 1, rankOrd = 2)
    for (_ <- 0 until iterations) {
      val contribs = ranks.filter(col("outdeg") > 0L)
        .join(e, col("id") === col("src"))
        .select(col("dst"), expr("rank DIV outdeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      // dm DIV n precomputed on the driver: Scala Long division
      // truncates toward zero exactly like SQL DIV for these
      // non-negative operands — same integer arithmetic the
      // unrolled-CTE oracle replays
      val dmShare = dm / n
      val (next, nextRelease, nextDm) = materializeRanks(ranks
        .join(contribs.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .select(col("id"), col("outdeg"),
          (lit(teleport) +
            expr(s"(85 * (coalesce(s, 0L) + ${dmShare}L)) DIV 100").cast("long"))
            .as("rank")), outdegOrd = 1, rankOrd = 2)
      release.close()
      ranks = next
      release = nextRelease
      dm = nextDm
    }
    ranks.select(col("id"), col("rank"))
  }

  /** The distributed [[personalizedPageRank]]: [[distributedPageRank]]'s
    * plan shape, with the constant is_seed flag riding the rank table
    * like outdeg.
    */
  private[graft] def distributedPersonalizedPageRank(
      nodes: DataFrame, edges: DataFrame, iterations: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("outdeg"))
    val n = nodes.count()
    val nSeeds = nodes.filter(col("is_seed")).count()
    require(nSeeds > 0, "personalizedPageRank: empty seed set")
    val scale = pageRankScale(n)
    val seedR0 = scale / nSeeds
    val teleport = seedR0 * 15L / 100L

    var (ranks, release, dm) = materializeRanks(nodes
      .join(deg, Seq("id"), "left")
      .select(col("id"), col("is_seed"),
        coalesce(col("outdeg"), lit(0L)).as("outdeg"),
        when(col("is_seed"), seedR0).otherwise(0L).as("rank")),
      outdegOrd = 2, rankOrd = 3)
    for (_ <- 0 until iterations) {
      val contribs = ranks.filter(col("outdeg") > 0L)
        .join(e, col("id") === col("src"))
        .select(col("dst"), expr("rank DIV outdeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      // dm DIV nSeeds on the driver (truncating division, non-negative
      // operands — identical to the oracle's DIV), fed to the seed
      // branch as a literal; see distributedPageRank
      val dmShare = dm / nSeeds
      val (next, nextRelease, nextDm) = materializeRanks(ranks
        .join(contribs.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .select(col("id"), col("is_seed"), col("outdeg"),
          (when(col("is_seed"), teleport).otherwise(0L) +
            expr("(85 * (coalesce(s, 0L) + " +
              s"(CASE WHEN is_seed THEN ${dmShare}L ELSE 0L END))) DIV 100")
              .cast("long"))
            .as("rank")), outdegOrd = 2, rankOrd = 3)
      release.close()
      ranks = next
      release = nextRelease
      dm = nextDm
    }
    ranks.select(col("id"), col("rank"))
  }

  /** Exact per-node triangle counts on an undirected simple graph,
    * by degree-ordered edge orientation (the "node-iterator++" /
    * compact-forward scheme): orient every edge toward its higher
    * (degree, id) endpoint, generate each node's out-neighbor pairs
    * (wedges), and close each wedge against the oriented edge list.
    * Orientation makes every out-degree O(√m), so wedge volume is
    * O(m^1.5) worst case — the optimal bound for exact triangle
    * enumeration — instead of Σ deg² of the naive neighbor join,
    * which a few crawl-hub nodes would blow up at 100 TB. Every
    * stage is an equi-join on node keys (degree join, wedge
    * self-join on `src`, closing join on the (u,v) pair); each
    * triangle is found exactly once, at its lowest-ranked vertex.
    *
    * Cross-engine determinism is structural: counts are integers and
    * the triangle SET is orientation-invariant, so an oracle may
    * enumerate by id order (a<b<c over DISTINCT pairs) and still
    * count identically.
    *
    * Reference computes no graph metrics beyond grouping
    * (deduplication_consumer.py's pairwise union only); this extends
    * the near-dup similarity graph family (q_pagerank, q_dedup_groups)
    * with the standard density/cohesion measure over dup clusters.
    *
    * @param nodes one `id` column, every vertex (isolated included)
    * @param pairs undirected unique edges (`a`, `b`), a < b, no
    *              self-loops — the near-dup `pairs` shape
    * @return (`id`, `degree`, `n_triangles`) for every node
    */
  def triangleCounts(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    val p = pairs.select(col("a"), col("b"))
    val deg = p.select(col("a").as("id")).union(p.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // rank = (degree, id): a total order, so orientation is acyclic
    // and ties between equal-degree endpoints break deterministically
    val ranked = p
      .join(deg.select(col("id").as("a"), col("deg").as("dega")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("degb")), "b")
    val aLower = struct(col("dega"), col("a")) < struct(col("degb"), col("b"))
    val oriented = Reuse.materialized(ranked.select(
      when(aLower, col("a")).otherwise(col("b")).as("src"),
      when(aLower, struct(col("degb").as("d"), col("b").as("i")))
        .otherwise(struct(col("dega").as("d"), col("a").as("i"))).as("dst")))
    // wedges at the lowest-ranked vertex w; the closing (u,v) edge,
    // if present, is oriented u→v because rank(u) < rank(v) by the
    // wedge ordering — one equi-join probe, no direction cases
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("w"), col("e1.dst.i").as("u"), col("e2.dst.i").as("v"))
    val tris = wedges.join(
      oriented.select(col("src").as("u"), col("dst.i").as("v")), Seq("u", "v"))
    val perNode = tris
      .select(explode(array(col("w"), col("u"), col("v"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("tri"))
    nodes.join(deg, Seq("id"), "left").join(perNode, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("deg"), lit(0L)).as("degree"),
        coalesce(col("tri"), lit(0L)).as("n_triangles"))
  }

  /** Bounded k-core peeling: `rounds` synchronous rounds of "drop
    * every vertex whose degree among SURVIVORS is < k" — the
    * density-core extractor (spam-farm / template-cluster detector on
    * the near-dup graph). True k-core iterates to a data-dependent
    * fixpoint; the FIXED round count keeps the computation a pure
    * function of the graph (same reasoning as [[labelPropagation]]),
    * so an unrolled-CTE oracle replays it exactly — peel chains
    * longer than `rounds` are documented residue, not nondeterminism.
    * The survivors start as every pair endpoint; a survivor needs at
    * least one edge to another survivor as well as degree ≥ k.
    *
    * @param pairs undirected unique edges (`a`, `b`)
    * @return (`id`, `in_core` ∈ {0,1}) for every node in `nodes`
    */
  def kCorePeel(nodes: DataFrame, pairs: DataFrame, k: Int, rounds: Int): DataFrame =
    collectLocal(LocalMaxEdges, nodes.select(col("id")),
      pairs.select(col("a"), col("b"))) match {
      case Some(Seq(Array(ids), Array(a, b))) =>
        val keys = denseKeys(a, b)
        val (ka, kb) = (a.map(keyOf(keys, _)), b.map(keyOf(keys, _)))
        var alive = Array.fill(keys.length)(true)
        for (_ <- 0 until rounds) {
          val deg = new Array[Long](keys.length) // survivor degree
          for (e <- ka.indices) if (alive(ka(e)) && alive(kb(e))) {
            deg(ka(e)) += 1
            deg(kb(e)) += 1
          }
          alive = deg.map(d => d > 0 && d >= k)
        }
        localFrame(nodes.sparkSession, Seq("id", "in_core"), ids, ids.map { id =>
          val kk = keyOf(keys, id)
          if (kk >= 0 && alive(kk)) 1L else 0L
        })
      case _ => distributedKCorePeel(nodes, pairs, k, rounds)
    }

  /** The distributed [[kCorePeel]]: per round two semi-joins against
    * the survivor set and one degree aggregate — all key equi-joins;
    * two-generation cache via [[Reuse.materializedHandle]].
    */
  private[graft] def distributedKCorePeel(
      nodes: DataFrame, pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint()
    var (alive, release) = Reuse.materializedHandle(
      edges.select(col("src").as("id")).distinct())
    for (_ <- 0 until rounds) {
      val (next, nextRelease) = Reuse.materializedHandle(
        edges.join(alive.select(col("id").as("src")), "src")
          .join(alive.select(col("id").as("dst")), "dst")
          .groupBy(col("src")).agg(count(lit(1)).as("d"))
          .filter(col("d") >= k).select(col("src").as("id")))
      release.close()
      alive = next
      release = nextRelease
    }
    nodes.join(alive.withColumn("in_core", lit(1L)), Seq("id"), "left")
      .select(col("id"), coalesce(col("in_core"), lit(0L)).as("in_core"))
  }

  /** Deterministic synchronous label-propagation communities (LPA,
    * Raghavan et al. 2007): every node starts as its own label; each
    * round, every node adopts the most frequent label among its
    * neighbors, ties broken by the SMALLEST label, all nodes updating
    * simultaneously from the previous round's labels; a node with no
    * in-edge from a node keeps its label. Synchronous updates + total
    * tie order make the algorithm a pure function of the graph —
    * bit-identical on any engine, certified by an unrolled-CTE oracle
    * replaying the same `rounds` steps.
    *
    * Unlike min-label components (which merge everything reachable),
    * LPA splits a connected graph into DENSITY communities — on the
    * near-dup graph that separates distinct boilerplate families that
    * happen to share a borderline pair. Fixed round count, no
    * convergence detection: LPA on bipartite-ish structures can
    * oscillate, so a fixed horizon is both the standard practice and
    * the determinism guarantee.
    *
    * @param nodes one `id` column, every vertex (isolated included)
    * @param edges symmetric (`src`,`dst`) — pass both directions
    */
  def labelPropagation(nodes: DataFrame, edges: DataFrame, rounds: Int): DataFrame =
    collectLocal(LocalMaxEdges, nodes.select(col("id")),
      edges.select(col("src"), col("dst"))) match {
      case Some(Seq(Array(ids), Array(src, dst))) =>
        val keys = denseKeys(ids)
        val mult = new Array[Int](keys.length) // `nodes` rows per id
        ids.foreach(id => mult(keyOf(keys, id)) += 1)
        // in-neighbours per node, each source repeated once per row of
        // its id: the label histogram the labels ⋈ edges join counts
        val inNbrs = Array.fill(keys.length)(new scala.collection.mutable.ArrayBuilder.ofInt)
        for (e <- src.indices) {
          val (ks, kd) = (keyOf(keys, src(e)), keyOf(keys, dst(e)))
          if (ks >= 0 && kd >= 0) for (_ <- 0 until mult(ks)) inNbrs(kd) += ks
        }
        val nbrs = inNbrs.map(_.result())
        var lbl = keys.clone()
        for (_ <- 0 until rounds) {
          lbl = Array.tabulate(keys.length) { kd =>
            if (nbrs(kd).isEmpty) lbl(kd)
            else {
              val ls = nbrs(kd).map(lbl(_))
              java.util.Arrays.sort(ls)
              // most frequent label, the smallest among ties
              var (best, bestCnt, i) = (ls(0), 0, 0)
              while (i < ls.length) {
                var j = i
                while (j < ls.length && ls(j) == ls(i)) j += 1
                if (j - i > bestCnt) { best = ls(i); bestCnt = j - i }
                i = j
              }
              best
            }
          }
        }
        localFrame(nodes.sparkSession, Seq("id", "lbl"), ids,
          ids.map(id => lbl(keyOf(keys, id))))
      case _ => distributedLabelPropagation(nodes, edges, rounds)
    }

  /** The distributed [[labelPropagation]]: per round one labels ⋈
    * edges equi-join + two hash aggregates (label histogram, then the
    * (count DESC, label ASC) argmin via `min_by` — map-side
    * combinable, no window/sort). Two-generation cache via
    * [[Reuse.materializedHandle]].
    */
  private[graft] def distributedLabelPropagation(
      nodes: DataFrame, edges: DataFrame, rounds: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    var (labels, release) = Reuse.materializedHandle(
      nodes.select(col("id"), col("id").as("lbl")))
    for (_ <- 0 until rounds) {
      val best = labels.join(e, col("id") === col("src"))
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(min_by(col("lbl"),
          struct((-col("cnt")).as("nc"), col("lbl").as("l"))).as("newlbl"))
      val (next, nextRelease) = Reuse.materializedHandle(
        labels.join(best.withColumnRenamed("dst", "id"), Seq("id"), "left")
          .select(col("id"), coalesce(col("newlbl"), col("lbl")).as("lbl")))
      release.close()
      labels = next
      release = nextRelease
    }
    labels
  }

  /** Bounded-depth multi-source BFS: exact shortest hop count from the
    * nearest seed, for every node reached within `rounds` hops.
    * Level-synchronous frontier relaxation: each round relaxes every
    * edge out of the previous round's reached set and keeps the min.
    * Monotone convergence makes the result independent of join order
    * or partitioning: hop(id) = min over all ≤rounds-length seed paths
    * — an unrolled-CTE oracle replays it exactly. With `rounds` ≤ 0
    * the result is the seed rows themselves, duplicates included.
    *
    * @param seeds one `id` column (hop-0 sources)
    * @param edges directed (`src`, `dst`); pass both directions for an
    *              undirected graph
    */
  def bfsHops(seeds: DataFrame, edges: DataFrame, rounds: Int): DataFrame =
    collectLocal(LocalMaxEdges, seeds.select(col("id")),
      edges.select(col("src"), col("dst"))) match {
      case Some(Seq(Array(ids), Array(src, dst))) =>
        localHops(seeds.sparkSession, "hop", ids, src, dst, null, rounds)
      case _ => distributedBfsHops(seeds, edges, rounds)
    }

  /** Bounded-round WEIGHTED shortest paths from a seed set —
    * [[bfsHops]] with integer edge weights (Bellman-Ford: each round
    * relaxes every edge once, so after R rounds every path of ≤ R
    * edges is optimal; like the BFS, the round bound is the scale
    * contract — distances through longer paths stay upper bounds,
    * never wrong values, and dup-graph diameters are small).
    * All-integer arithmetic (min over sums of BIGINT weights), so the
    * unrolled-CTE oracle replays bit-exactly.
    *
    * @param seeds  `id` rows, distance 0
    * @param edges  directed weighted `src`,`dst`,`w` (w ≥ 0 BIGINT;
    *               pass both directions for an undirected graph)
    */
  def weightedHops(seeds: DataFrame, edges: DataFrame, rounds: Int): DataFrame =
    collectLocal(LocalMaxEdges, seeds.select(col("id")),
      edges.select(col("src"), col("dst"), col("w"))) match {
      case Some(Seq(Array(ids), Array(src, dst, w))) =>
        localHops(seeds.sparkSession, "dist", ids, src, dst, w, rounds)
      case _ => distributedWeightedHops(seeds, edges, rounds)
    }

  /** The rounds of [[bfsHops]] (`w` null: every edge costs 1) and
    * [[weightedHops]] on the driver, as (`id`, `distCol`).
    */
  private def localHops(spark: SparkSession, distCol: String, seeds: Array[Long],
      src: Array[Long], dst: Array[Long], w: Array[Long], rounds: Int): DataFrame =
    if (rounds <= 0) localFrame(spark, Seq("id", distCol), seeds, seeds.map(_ => 0L))
    else {
      val keys = denseKeys(seeds, src, dst)
      val (ks, kd) = (src.map(keyOf(keys, _)), dst.map(keyOf(keys, _)))
      var reached = new Array[Boolean](keys.length)
      var dist = new Array[Long](keys.length)
      seeds.foreach(id => reached(keyOf(keys, id)) = true)
      for (_ <- 0 until rounds) {
        val (nr, nd) = (reached.clone(), dist.clone())
        for (e <- ks.indices) if (reached(ks(e))) {
          val d = Math.addExact(dist(ks(e)), if (w == null) 1L else w(e))
          if (!nr(kd(e)) || d < nd(kd(e))) { nr(kd(e)) = true; nd(kd(e)) = d }
        }
        reached = nr
        dist = nd
      }
      val out = keys.indices.filter(reached(_)).toArray
      localFrame(spark, Seq("id", distCol), out.map(keys(_)), out.map(dist(_)))
    }

  /** The distributed [[bfsHops]]: each round is ONE edge equi-join
    * plus a min-merge aggregate — at 100 TB both sides shuffle on the
    * node key and the reached set only grows, so round cost is bounded
    * by |reached ⋈ edges|, never |V|². The merged table is
    * re-materialized per round with a two-generation release window;
    * lineage stays intact for executor-loss recompute.
    */
  private[graft] def distributedBfsHops(
      seeds: DataFrame, edges: DataFrame, rounds: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    var (dist, release) = Reuse.materializedHandle(
      seeds.select(col("id"), lit(0L).as("hop")))
    for (_ <- 0 until rounds) {
      val next = dist.join(e, col("id") === col("src"))
        .select(col("dst").as("id"), (col("hop") + 1L).as("hop"))
      val (merged, nextRelease) = Reuse.materializedHandle(
        dist.select(col("id"), col("hop")).union(next)
          .groupBy(col("id")).agg(min(col("hop")).as("hop")))
      release.close()
      dist = merged
      release = nextRelease
    }
    dist
  }

  /** The distributed [[weightedHops]]: [[distributedBfsHops]]' shape,
    * one edges ⋈ dist shuffle + one min-aggregate per round.
    */
  private[graft] def distributedWeightedHops(
      seeds: DataFrame, edges: DataFrame, rounds: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("w")).localCheckpoint()
    var (dist, release) = Reuse.materializedHandle(
      seeds.select(col("id"), lit(0L).as("dist")))
    for (_ <- 0 until rounds) {
      val next = dist.join(e, col("id") === col("src"))
        .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
      val (merged, nextRelease) = Reuse.materializedHandle(
        dist.select(col("id"), col("dist")).union(next)
          .groupBy(col("id")).agg(min(col("dist")).as("dist")))
      release.close()
      dist = merged
      release = nextRelease
    }
    dist
  }
}
