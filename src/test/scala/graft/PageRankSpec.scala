package graft

import graft.ops.GraphOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic specs for deterministic integer PageRank: mass behavior,
  * ordering on known graphs, dangling handling, and determinism
  * across partitionings (the property the micro-unit integer
  * arithmetic exists to guarantee).
  */
class PageRankSpec extends AnyFunSuite {
  import TestSpark._

  private def df2(rows: Seq[(Long, Long)], a: String, b: String) = {
    import spark.implicits._
    rows.toDF(a, b)
  }

  test("star graph: hub outranks leaves, leaves tie") {
    // undirected star 1-{2,3,4,5}: hub collects 4 contributions
    val leaves = Seq(2L, 3L, 4L, 5L)
    val edges = df2(
      leaves.map(l => (1L, l)) ++ leaves.map(l => (l, 1L)), "src", "dst")
    val nodes = df2((1L to 5L).map(i => (i, 0L)), "id", "x").select("id")
    val r = GraphOps.pageRank(nodes, edges, 10)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(1L) > r(2L))
    assert(leaves.map(r).distinct.size === 1)
    // total mass stays within integer-truncation loss of 10^6
    assert(r.values.sum <= 1000000L && r.values.sum > 900000L)
  }

  test("disconnected + dangling nodes keep teleport-level mass") {
    val edges = df2(Seq((1L, 2L), (2L, 1L)), "src", "dst")
    val nodes = df2((1L to 4L).map(i => (i, 0L)), "id", "x").select("id")
    val r = GraphOps.pageRank(nodes, edges, 10)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // 3 and 4 are dangling: identical rank, below the connected pair
    assert(r(3L) === r(4L))
    assert(r(1L) > r(3L))
  }

  test("ranks stay nonzero on a 2M-node graph (adaptive mass scale)") {
    // a fixed 10^6-micro total mass would truncate r0 (and teleport)
    // to zero past 10^6 nodes; pageRankScale keeps ≥1000 micro/node
    import spark.implicits._
    val nodes = spark.range(2000000).toDF("id")
    val edges = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    val r = GraphOps.pageRank(nodes, edges, 2)
    val mn = r.agg(org.apache.spark.sql.functions.min("rank")).head().getLong(0)
    assert(mn > 0L, s"min rank $mn — integer mass underflow")
  }

  test("rank is invariant under input partitioning") {
    val docs = Tables.documents(spark, sf)
    val pairs = graft.ops.DedupOps
      .minhashNearDuplicates(docs, "doc_id", "text", 0.8)
      .select(col("doc_a"), col("doc_b"))
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val nodes = docs.select(col("doc_id").as("id"))
    // the public kernel takes the driver-local path at this size; the
    // distributed kernel must agree under both partitionings too
    val a = GraphOps.pageRank(nodes, edges, 5).orderBy("id").collect().toSeq
    val b = GraphOps.pageRank(
      nodes.repartition(7), edges.repartition(3), 5).orderBy("id").collect().toSeq
    val c = GraphOps.distributedPageRank(nodes, edges, 5).orderBy("id").collect().toSeq
    val d = GraphOps.distributedPageRank(
      nodes.repartition(7), edges.repartition(3), 5).orderBy("id").collect().toSeq
    assert(a === b)
    assert(c === a)
    assert(d === a)
  }
}
