package graft

import graft.ops.{DedupOps, GraphOps}
import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The connected-components kernel, pinned three ways:
  *  - distributed pointer-jumping ≡ driver union-find on real edge
  *    sets AND adversarial topologies;
  *  - convergence in ≤ log₂(n) + 2 rounds even on a path graph
  *    (diameter n — plain neighbor-min propagation would need n
  *    rounds; pointer jumping is the reason it doesn't);
  *  - ≡ GraphX `connectedComponents` (the documented unbounded-scale
  *    drop-in), so the "drop-in" claim is an executed equivalence, not
  *    a comment.
  */
class GraphOpsSpec extends AnyFunSuite {
  import TestSpark._

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def edgesDf(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    val sym = pairs ++ pairs.map { case (a, b) => (b, a) }
    sym.toDF("src", "dst")
  }

  private def log2(n: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1, n - 1))

  test("distributed path matches union-find on the real minhash edge set") {
    val pairs = DedupOps.minhashNearDuplicates(
      Tables.documents(spark, sf), "doc_id", "text", 0.8)
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.nonEmpty)
    val e = edgesDf(pairs)
    val local = labelsOf(GraphOps.minLabelComponents(e, Long.MaxValue))
    val (distLabels, rounds) = GraphOps.distributedComponents(e)
    val dist = labelsOf(distLabels)
    assert(dist === local)
    val n = local.size.toLong
    assert(rounds <= log2(n) + 2, s"rounds=$rounds for n=$n nodes")
  }

  test("path graph (max diameter) converges in <= log2(n)+2 rounds") {
    // 257-node path 0-1-2-...-256: neighbor-min alone needs 256 rounds
    val n = 257L
    val e = edgesDf((0L until n - 1).map(i => (i, i + 1)))
    val (distLabels, rounds) = GraphOps.distributedComponents(e)
    val dist = labelsOf(distLabels)
    assert(dist.size === n.toInt)
    assert(dist.values.forall(_ == 0L)) // one component, min id 0
    assert(rounds <= log2(n) + 2, s"rounds=$rounds for a $n-node path")
  }

  test("kernel matches GraphX connectedComponents (scale drop-in)") {
    val pairs = DedupOps.minhashNearDuplicates(
      Tables.documents(spark, sf), "doc_id", "text", 0.8)
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val e = edgesDf(pairs)
    val mine = labelsOf(GraphOps.minLabelComponents(e, 0L))
    val gx = Graph.fromEdges(
      spark.sparkContext.parallelize(pairs.map { case (a, b) => Edge(a, b, ()) }),
      defaultValue = ())
      .connectedComponents().vertices.collect().toMap
    // GraphX labels components by min vertex id too
    assert(mine === gx.map { case (k, v) => (k: Long) -> (v: Long) })
  }

  test("triangleCounts: clique, path, and isolated nodes by hand") {
    import spark.implicits._
    // 4-clique {1,2,3,4} (4 triangles, each node in 3 of them, all
    // coefficients 1), a path 5–6–7 (wedge, no triangle), isolated 8
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (5L, 6L), (6L, 7L)).toDF("a", "b")
    val nodes = (1L to 8L).toDF("id")
    val got = GraphOps.triangleCounts(nodes, pairs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(
      1L -> ((3L, 3L)), 2L -> ((3L, 3L)), 3L -> ((3L, 3L)), 4L -> ((3L, 3L)),
      5L -> ((1L, 0L)), 6L -> ((2L, 0L)), 7L -> ((1L, 0L)), 8L -> ((0L, 0L))))
  }

  test("triangleCounts: global count is orientation-invariant vs brute force") {
    import spark.implicits._
    // deterministic pseudo-random sparse graph: every triangle the
    // brute-force id-ordered enumeration finds, the degree-ordered
    // orientation must find exactly once (sum of per-node counts = 3×)
    val n = 60
    val pairs = (for {
      a <- 0 until n; b <- (a + 1) until n
      if ((a * 2654435761L + b * 40503L) % 7) == 0
    } yield (a.toLong, b.toLong)).toSeq
    val eset = pairs.toSet
    val brute = (for {
      (a, b) <- pairs; c <- (b + 1) until n.toLong
      if eset.contains((a, c)) && eset.contains((b, c))
    } yield 1).size
    val perNodeSum = GraphOps.triangleCounts(
      (0L until n.toLong).toDF("id"), pairs.toDF("a", "b"))
      .agg(sum(col("n_triangles"))).head().getLong(0)
    assert(brute > 0)
    assert(perNodeSum === 3L * brute)
  }

  test("label propagation splits bridged triangles that CC would merge") {
    import spark.implicits._
    // two triangles {1,2,3} and {4,5,6} joined by the single bridge
    // 3–4: one connected component, but two LPA density communities
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val nodes = (1L to 6L).toDF("id")
    val got = GraphOps.labelPropagation(nodes, edges, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hand-replayed synchronous rounds with min-label tie-break
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
    // isolated node keeps its own label
    val iso = GraphOps.labelPropagation(
      (1L to 3L).toDF("id"), Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"), 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(iso(3L) === 3L)
  }

  test("personalized PageRank: mass stays in the seed's reachable set") {
    import TestSpark._
    import spark.implicits._
    // two components: {1,2,3} path seeded at 1; {4,5} pair unseeded.
    // RWR restarts at seeds only, so component {4,5} must hold ZERO
    // mass, and within the seeded component the seed outranks its
    // 1-hop neighbor, which outranks the 2-hop one.
    val nodes = Seq((1L, true), (2L, false), (3L, false),
      (4L, false), (5L, false)).toDF("id", "is_seed")
    val und = Seq((1L, 2L), (2L, 3L), (4L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val r = GraphOps.personalizedPageRank(nodes, edges, 10)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(4L) === 0L && r(5L) === 0L)
    assert(r(1L) > r(2L) && r(2L) > r(3L) && r(3L) > 0L)
    // total mass bounded by the scale (integer truncation only sheds)
    assert(r.values.sum <= GraphOps.pageRankScale(5))
  }

  test("weightedHops: a cheap 2-edge path beats an expensive direct edge") {
    import TestSpark._
    import spark.implicits._
    // 1 -> 3 direct costs 10; 1 -> 2 -> 3 costs 2+3 = 5. Node 4 is
    // reachable only past the round budget → absent from the result.
    val seeds = Seq(1L).toDF("id")
    val edges = Seq((1L, 3L, 10L), (1L, 2L, 2L), (2L, 3L, 3L),
      (3L, 4L, 1L)).toDF("src", "dst", "w")
    val d2 = GraphOps.weightedHops(seeds, edges, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d2 === Map(1L -> 0L, 2L -> 2L, 3L -> 5L, 4L -> 11L))
    val d1 = GraphOps.weightedHops(seeds, edges, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // after ONE round the 2-edge shortcut is not yet relaxed: the
    // direct edge's 10 stands, and 4 is unreached
    assert(d1 === Map(1L -> 0L, 2L -> 2L, 3L -> 10L))
  }
}
