package graft

import graft.ops.SimilarityOps
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The edge cases every top-k ANN kernel must share: zero-norm vectors
  * never rank, equal cosines tie-break by neighbor id, and a k larger
  * than the candidate set returns exactly the candidates ranked 1…n.
  *
  * One hand-built frame, every kernel configured so its candidate set
  * is the whole non-zero corpus (radius = all bits, all IVF cells
  * probed, a full PQ codebook, a shortlist past the corpus size, one
  * 1-bit LSH band probed both ways) — so every kernel must return the
  * SAME rows as exact brute force.
  */
class AnnEdgeCaseSpec extends AnyFunSuite {
  import TestSpark._

  private val dim = 4

  /** Queries: id 1 is an ordinary vector, id 2 the zero vector.
    * Corpus: id 10 is the zero vector; 11 and 12 sit at the identical
    * cosine 1/√2 to query 1 (bit-identical dot and norms); 13 and 14
    * rank below and above them. Every corpus vector is on the 1e-6
    * grid and has no zero 2-dim slice, so a 2-sub-space PQ codebook
    * seeded from the corpus reconstructs each one exactly. */
  private lazy val (queries, corpus) = {
    import spark.implicits._
    def frame(rows: Seq[(Long, Array[Float])]): DataFrame =
      rows.toDF("vec_id", "embedding")
    (frame(Seq(1L -> Array(1f, 0f, 1f, 0f), 2L -> Array(0f, 0f, 0f, 0f))),
      frame(Seq(
        10L -> Array(0f, 0f, 0f, 0f),
        11L -> Array(1f, 1f, 1f, 1f),
        12L -> Array(1f, -1f, 1f, -1f),
        13L -> Array(2f, 1f, 0f, 1f),
        14L -> Array(1f, 0f, 2f, 0f))))
  }

  private val k = 10 // > the 4 non-zero corpus vectors

  /** (query_id, rank, neighbor_id, cos_sim): 14 first (3/√10), then the
    * 11/12 tie in id order, then 13 (2/√12); nothing for query 2 and
    * never corpus id 10. */
  private val expected = Seq(
    (1L, 1L, 14L, 0.948683), (1L, 2L, 11L, 0.707107),
    (1L, 3L, 12L, 0.707107), (1L, 4L, 13L, 0.57735))

  private val kernels: Seq[(String, () => DataFrame)] = Seq(
    "bruteForceTopK" -> (() =>
      SimilarityOps.bruteForceTopK(queries, corpus, "vec_id", "embedding", k)),
    "sketchTopK" -> (() =>
      SimilarityOps.sketchTopK(queries, corpus, "vec_id", "embedding", k,
        bits = 64, dim = dim, maxHamming = 64)),
    "sketchTopKIndexed" -> { () =>
      SimilarityOps.buildSketchIndex(corpus, "vec_id", "embedding",
        bits = 64, dim = dim, table = "graft_ann_edge_index", nBuckets = 2)
      SimilarityOps.sketchTopKIndexed(queries, spark.table("graft_ann_edge_index"),
        "vec_id", "embedding", k, bits = 64, dim = dim, maxHamming = 64)
    },
    "ivfTopK" -> (() =>
      SimilarityOps.ivfTopK(queries, corpus, "vec_id", "embedding", k,
        nCentroids = 3, nProbe = 3, learnIters = 1)),
    "pqTopK" -> (() =>
      SimilarityOps.pqTopK(queries, corpus, "vec_id", "embedding", k,
        subspaces = 2, codebookSize = 5, learnIters = 1, dim = dim)),
    "jlShortlistTopK" -> (() =>
      SimilarityOps.jlShortlistTopK(queries, corpus, "vec_id", "embedding", k,
        shortlist = k, outDim = 8, dim = dim)),
    "ivfPqTopK" -> (() =>
      SimilarityOps.ivfPqTopK(queries, corpus, "vec_id", "embedding", k,
        nCentroids = 3, nProbe = 3, ivfIters = 1,
        subspaces = 2, codebookSize = 5, pqIters = 1, dim = dim)),
    "lshKnn" -> (() =>
      SimilarityOps.roundCos(SimilarityOps.lshKnn(queries, corpus,
        "vec_id", "embedding", k,
        SimilarityOps.LshConfig(bands = 1, bandBits = 1, dim = dim, probes = 2)))))

  for ((name, run) <- kernels)
    test(s"$name: zero-norm vectors never rank, ties break by id, k past the candidates") {
      val got = run().select("query_id", "rank", "neighbor_id", "cos_sim")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(got === expected)
    }
}
