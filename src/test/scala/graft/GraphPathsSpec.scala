package graft

import graft.ops.{DedupOps, GraphOps}
import org.apache.spark.GraftTestJobs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The driver-local and distributed paths of every iterative graph
  * kernel return the same rows: on the real MinHash near-dup graph at
  * the test SF, and on hand-built graphs holding the corner cases the
  * fixtures lack (empty edge set, isolated and dangling nodes, edges
  * leaving `nodes`, parallel edges, a self-loop, duplicate seeds and
  * node rows, zero rounds). The public kernels take the local path
  * here (every input is far under [[GraphOps.LocalMaxEdges]]); the
  * `distributed*` kernels are called directly.
  */
class GraphPathsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString(",")).toSeq.sorted

  private def same(what: String, local: DataFrame, dist: DataFrame): Unit = {
    assert(local.columns.toSeq === dist.columns.toSeq, what)
    assert(rows(local) === rows(dist), what)
  }

  /** Both paths of all six kernels over one graph. `pairs` (`a`,`b`)
    * feeds k-core; the other kernels get its symmetric edge list
    * plus `extra` directed edges, weighted by `w`.
    */
  private def allKernels(tag: String, nodes: DataFrame, seeds: DataFrame,
      pairs: DataFrame, extra: DataFrame, rounds: Seq[Int]): Unit = {
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      .union(extra)
    val weighted = edges.withColumn("w", abs(col("src") * 7 - col("dst") * 3) % 11)
    val seeded = nodes.join(seeds.distinct().withColumn("is_seed", lit(true)),
      Seq("id"), "left").select(col("id"), coalesce(col("is_seed"), lit(false)).as("is_seed"))
    for (r <- rounds) {
      val t = s"$tag rounds=$r"
      same(s"pageRank $t", GraphOps.pageRank(nodes, edges, r),
        GraphOps.distributedPageRank(nodes, edges, r))
      same(s"personalizedPageRank $t", GraphOps.personalizedPageRank(seeded, edges, r),
        GraphOps.distributedPersonalizedPageRank(seeded, edges, r))
      same(s"kCorePeel $t", GraphOps.kCorePeel(nodes, pairs, 2, r),
        GraphOps.distributedKCorePeel(nodes, pairs, 2, r))
      same(s"labelPropagation $t", GraphOps.labelPropagation(nodes, edges, r),
        GraphOps.distributedLabelPropagation(nodes, edges, r))
      same(s"bfsHops $t", GraphOps.bfsHops(seeds, edges, r),
        GraphOps.distributedBfsHops(seeds, edges, r))
      same(s"weightedHops $t", GraphOps.weightedHops(seeds, weighted, r),
        GraphOps.distributedWeightedHops(seeds, weighted, r))
      graft.ops.Reuse.releaseAllCaches(spark)
    }
  }

  test("local ≡ distributed on the real minhash edge set") {
    val docs = Tables.documents(spark, sf)
    val pairs = DedupOps.minhashNearDuplicates(docs, "doc_id", "text", 0.8)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.toDF("a", "b")
    assert(pairs.count() > 0)
    val ids = docs.select(col("doc_id").as("id"))
      .collect().map(_.getLong(0)).toSeq.toDF("id")
    allKernels("sf", ids, ids.filter(col("id") % 97 === 0), pairs,
      Seq.empty[(Long, Long)].toDF("src", "dst"), Seq(4, 10))
  }

  test("local ≡ distributed on hand-built corner cases") {
    // 1-2-3 triangle with a parallel 1-2 pair, a 4-4 self-loop, 5-9
    // leaving `nodes`, 8-1 entering from outside, 3-7 making 7 a leaf,
    // 6 isolated; node 2 listed twice
    val nodes = Seq(1L, 2L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 2L), (4L, 4L),
      (5L, 9L), (8L, 1L), (3L, 7L)).toDF("a", "b")
    // one-way edges: 7 -> 10 leaves `nodes`, 6 dangles into 5
    val extra = Seq((7L, 10L), (6L, 5L)).toDF("src", "dst")
    // duplicate seed 1, seed 11 outside every edge
    val seeds = Seq(1L, 1L, 5L, 11L).toDF("id")
    allKernels("corners", nodes, seeds, pairs, extra, Seq(0, 1, 3, 10))
  }

  test("local ≡ distributed on an empty edge set") {
    val nodes = (1L to 4L).toDF("id")
    val none = Seq.empty[(Long, Long)]
    allKernels("empty", nodes, Seq(2L, 2L).toDF("id"), none.toDF("a", "b"),
      none.toDF("src", "dst"), Seq(0, 2))
  }

  test("a null endpoint or weight takes the distributed path") {
    val seeds = Seq(1L).toDF("id")
    val ok = Seq((1L, 2L, 3L), (2L, 3L, 4L)).toDF("src", "dst", "w")
    val nullDst = Seq[(Long, Option[Long], Long)]((1L, Some(2L), 3L), (2L, None, 4L))
      .toDF("src", "dst", "w")
    val nullW = Seq[(Long, Long, Option[Long])]((1L, 2L, Some(3L)), (2L, 3L, None))
      .toDF("src", "dst", "w")
    def jobs(body: => DataFrame): (Int, Seq[String]) = {
      var out: Seq[String] = Nil
      val n = GraftTestJobs.count(spark.sparkContext, "graph-path") {
        out = rows(body)
      }
      graft.ops.Reuse.releaseAllCaches(spark)
      (n, out)
    }
    val rounds = 3
    // local: one collect job plus the result read
    val (localJobs, _) = jobs(GraphOps.weightedHops(seeds, ok, rounds))
    assert(localJobs <= 2, s"local path ran $localJobs jobs")
    // null: at least one materialization job per distributed round
    val (bfsJobs, bfsRows) = jobs(GraphOps.bfsHops(seeds, nullDst.drop("w"), rounds))
    assert(bfsJobs > rounds, s"null dst ran only $bfsJobs jobs")
    assert(bfsRows === rows(GraphOps.distributedBfsHops(seeds, nullDst.drop("w"), rounds)))
    val (wJobs, wRows) = jobs(GraphOps.weightedHops(seeds, nullW, rounds))
    assert(wJobs > rounds, s"null weight ran only $wJobs jobs")
    assert(wRows === rows(GraphOps.distributedWeightedHops(seeds, nullW, rounds)))
    graft.ops.Reuse.releaseAllCaches(spark)
  }
}
