package graft

import graft.ops.EmbeddingOps
import org.scalatest.funsuite.AnyFunSuite

class EmbeddingOpsSpec extends AnyFunSuite {

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    dot // inputs are unit-normalized
  }

  test("embedding is deterministic, fixed-dim, unit-norm") {
    val e1 = EmbeddingOps.embed("fast join query on big table")
    val e2 = EmbeddingOps.embed("fast join query on big table")
    assert(e1.toSeq === e2.toSeq)
    assert(e1.length === EmbeddingOps.Dim)
    val nrm = math.sqrt(e1.map(v => v.toDouble * v).sum)
    assert(math.abs(nrm - 1.0) < 1e-5)
  }

  test("identical text -> cosine 1, unrelated -> lower") {
    val a = EmbeddingOps.embed("stream batch window aggregation")
    val b = EmbeddingOps.embed("stream batch window aggregation")
    val c = EmbeddingOps.embed("customer order line part supplier")
    assert(math.abs(cos(a, b) - 1.0) < 1e-5)
    assert(cos(a, c) < 0.9)
  }

  test("empty/null-ish text embeds to the zero vector") {
    val z = EmbeddingOps.embed("")
    assert(z.forall(_ == 0.0f))
  }

  test("shared vocabulary raises cosine monotonically") {
    val base = EmbeddingOps.embed("join merge hash table scan")
    val near = EmbeddingOps.embed("join merge hash table row")
    val far = EmbeddingOps.embed("alpha beta gamma delta epsilon")
    assert(cos(base, near) > cos(base, far))
  }

  // --- learned TermVectorEmbedder through the Embedder plug point ---

  private lazy val fixtureDocs = {
    val spark = TestSpark.spark
    import spark.implicits._
    Seq(
      (1L, "cat purrs softly"), (2L, "cat meows loudly"),
      (3L, "kitten purrs softly"), (4L, "kitten meows loudly"),
      (5L, "dog barks loudly"), (6L, "dog growls fiercely"))
      .toDF("doc_id", "text")
  }

  private lazy val learned =
    graft.ops.TermVectorEmbedder.fit(fixtureDocs, "doc_id", "text",
      dim = 8, vocabSize = 20)

  test("learned embedder: training is deterministic and vectors unit-norm") {
    val again = graft.ops.TermVectorEmbedder.fit(fixtureDocs, "doc_id", "text",
      dim = 8, vocabSize = 20)
    for (w <- Seq("cat", "kitten", "dog", "purrs")) {
      assert(learned.embed(w).toSeq === again.embed(w).toSeq)
      val nrm = math.sqrt(learned.embed(w).map(v => v.toDouble * v).sum)
      assert(math.abs(nrm - 1.0) < 1e-5)
    }
    assert(learned.embed("zyxwv unknown terms").forall(_ == 0.0f))
  }

  test("learned embedder captures distributional similarity the hash cannot") {
    // cat and kitten share CONTEXTS (purrs/meows/softly/loudly), not
    // characters; dog's contexts differ. The learned space must rank
    // kitten closer to cat than dog is — while the hashed embedder
    // scores both single-word pairs at ~0 (no shared grams).
    val catKitten = cos(learned.embed("cat"), learned.embed("kitten"))
    val catDog = cos(learned.embed("cat"), learned.embed("dog"))
    assert(catKitten > catDog + 0.2,
      s"learned: cos(cat,kitten)=$catKitten vs cos(cat,dog)=$catDog")
    val h = (a: String, b: String) =>
      cos(EmbeddingOps.embed(a), EmbeddingOps.embed(b))
    assert(math.abs(h("cat", "kitten")) < 0.01 && math.abs(h("cat", "dog")) < 0.01)
  }

  test("learned embedder swaps through semanticTopK (q_semantic_search path)") {
    val res = graft.ops.SimilarityOps.semanticTopK(
      fixtureDocs, "doc_id", "text", queryText = "kitten", k = 3,
      embedder = learned)
      .collect()
    assert(res.length === 3)
    // kitten-context docs (cat/kitten ones) outrank the dog docs
    val topIds = res.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("neighbor_id"))
    assert(Set(1L, 2L, 3L, 4L).contains(topIds.head),
      s"top neighbor should be a cat/kitten doc, got ${topIds.toSeq}")
  }

  /** The U5 plug point is an interface, not a comment: a trivial
    * alternative [[graft.ops.Embedder]] swaps through the
    * q_semantic_search path (SimilarityOps.semanticTopK) and changes
    * the ranking, while the default HashedEmbedder reproduces the
    * certified query's results.
    */
  test("alternative Embedder swaps through the semantic-search path") {
    import TestSpark._
    import org.apache.spark.sql.functions.col
    // toy 4-dim encoder: char-class counts (deterministic, model-free)
    object CharClassEmbedder extends graft.ops.Embedder {
      val dim = 4
      def embed(text: String): Array[Float] = {
        val t = if (text == null) "" else text
        Array(
          t.count(_.isLetter).toFloat,
          t.count(_.isDigit).toFloat,
          t.count(_ == ' ').toFloat,
          t.length.toFloat)
      }
    }
    val docs = Tables.documents(spark, sf).filter(col("lang") === "en")
    val viaDefault = graft.ops.SimilarityOps
      .semanticTopK(docs, "doc_id", "text", "fast join query on big table", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val viaAlt = graft.ops.SimilarityOps
      .semanticTopK(docs, "doc_id", "text", "fast join query on big table", 10,
        CharClassEmbedder)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(viaDefault.length === 10)
    assert(viaAlt.length === 10)
    // same contract, different geometry: both rank 1..10, orders differ
    assert(viaDefault.map(_._2).toSeq === (1 to 10))
    assert(viaAlt.map(_._2).toSeq === (1 to 10))
    assert(viaDefault.map(_._3).toSeq !== viaAlt.map(_._3).toSeq)
  }

  test("codegen HashedEmbed expression == the UDF form, corpus-wide") {
    import TestSpark._
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val both = docs.select(
      EmbeddingOps.embedCol(col("text")).as("viaExpr"),
      EmbeddingOps.embedUdf(col("text")).as("viaUdf"))
    val mismatches = both
      .filter(col("viaExpr") =!= col("viaUdf"))
      .count()
    assert(mismatches === 0L)
    // null text: the UDF contract is embed("") = zero vector
    val z = docs.limit(1)
      .select(EmbeddingOps.embedCol(org.apache.spark.sql.functions.lit(null)
        .cast("string")).as("e"))
      .collect().head.getSeq[Float](0)
    assert(z.length === EmbeddingOps.Dim && z.forall(_ == 0.0f))
  }

  test("MIPS augmentation: augmented-cosine order equals inner-product order") {
    // the reduction that lets the hyperplane-LSH cosine index serve
    // max-inner-product queries at scale (SimilarityOps.mipsAugment)
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 10)
    val corpus = emb.filter(col("vec_id") >= 10)
    // direct MIPS ranking
    val direct = graft.ops.SimilarityOps
      .mipsTopK(queries, corpus, "vec_id", "embedding", 5)
      .select("query_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // augmented-cosine ranking: M = max corpus norm
    val maxNorm = corpus
      .select(sqrt(expr(
        "dot_product(cast(embedding as array<double>), cast(embedding as array<double>))"))
        .as("n"))
      .agg(max(col("n"))).collect().head.getDouble(0)
    val qa = graft.ops.SimilarityOps.mipsAugment(queries, "embedding", maxNorm, isQuery = true)
    val ca = graft.ops.SimilarityOps.mipsAugment(corpus, "embedding", maxNorm, isQuery = false)
    val viaCos = graft.ops.SimilarityOps
      .bruteForceTopK(qa, ca, "vec_id", "embedding", 5)
      .select("query_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(direct === viaCos)
  }

  test("sketchTopK: input-order invariant, recall >= 0.9 at the certified config") {
    import TestSpark._
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 50)
    val corpus = emb.filter(col("vec_id") >= 50)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "neighbor_id", "cos_sim")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val base = norm(graft.ops.SimilarityOps.sketchTopK(
      queries, corpus, "vec_id", "embedding", 10,
      bits = 256, dim = 64, maxHamming = 115))
    // ORDERING INVARIANCE: shuffled partitioning and reversed row order
    // must produce the identical ranked result (ties break by id, the
    // radius is a pure per-pair predicate — no state to perturb)
    val shuffled = norm(graft.ops.SimilarityOps.sketchTopK(
      queries.orderBy(col("vec_id").desc).repartition(7),
      corpus.orderBy(col("vec_id").desc).repartition(5),
      "vec_id", "embedding", 10,
      bits = 256, dim = 64, maxHamming = 115))
    assert(shuffled === base)
    // RECALL vs exact brute force at the certified (256, 115) config
    val truth = graft.ops.SimilarityOps.bruteForceTopK(
      queries, corpus, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = base.map(t => (t._1, t._3)).toSet
    val recall = (got & truth).size.toDouble / truth.size
    assert(recall >= 0.9, f"sketch recall $recall%.3f < 0.9")
  }

  test("calibrateHammingRadius: monotone in targetFrac, lands in the working band") {
    import TestSpark._
    import org.apache.spark.sql.functions._
    val corpus = graft.Tables.embeddings(spark, sf).filter(col("vec_id") >= 50)
    def cal(frac: Double) = graft.ops.SimilarityOps.calibrateHammingRadius(
      corpus, "vec_id", "embedding", bits = 256, dim = 64,
      sampleN = 100, targetFrac = frac)
    val r01 = cal(0.01)
    val r05 = cal(0.05)
    val r20 = cal(0.20)
    assert(r01 <= r05 && r05 <= r20, s"not monotone: $r01 / $r05 / $r20")
    // near-isotropic corpus: the 5% quantile of pairwise distances sits
    // left of the 256-bit noise mean (128) but nowhere near 0
    assert(r05 > 64 && r05 < 128, s"5% radius out of band: $r05")
  }

  test("calibrateHammingRadius ignores zero-norm vectors in the sample window") {
    // the round-7 ADVICE case: an empty doc embeds to the zero vector;
    // if one lands inside the lowest-sampleN ids the engine and the
    // oracle (whose sample CTE is norm>0-filtered) would calibrate
    // DIFFERENT radii. The calibration must sample as if the zero
    // vector were not there.
    import TestSpark._
    import org.apache.spark.sql.functions._
    val corpus = graft.Tables.embeddings(spark, sf).filter(col("vec_id") >= 50)
    val zeroRow = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") === 50)
      // id 49 sorts FIRST in the corpus window; 64-dim zero vector
      .select(lit(49L).as("vec_id"),
        expr("transform(sequence(1, 64), x -> CAST(0.0 AS FLOAT))").as("embedding"))
    val withZero = corpus.select(col("vec_id"), col("embedding"))
      .unionByName(zeroRow)
    def cal(df: org.apache.spark.sql.DataFrame) =
      graft.ops.SimilarityOps.calibrateHammingRadius(
        df, "vec_id", "embedding", bits = 256, dim = 64,
        sampleN = 100, targetFrac = 0.05)
    assert(cal(withZero) === cal(corpus.select(col("vec_id"), col("embedding"))))
  }
}
