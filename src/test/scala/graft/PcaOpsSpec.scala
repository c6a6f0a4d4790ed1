package graft

import graft.ops.PcaOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Power-iteration PCA checked against geometry it must recover: a
  * corpus whose variance is overwhelmingly along one planted axis must
  * project onto (±) that axis, and the one-row spectrum summary must
  * attribute that variance share to the leading eigenvalue.
  */
class PcaOpsSpec extends AnyFunSuite {
  import TestSpark._

  private val dim = 8

  /** Points mu + t*u + tiny orthogonal wiggle, u = the planted axis. */
  private lazy val planted = {
    import spark.implicits._
    val u = Array(0.6, 0.8, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    (0 until 200).map { i =>
      val t = (i - 100) / 10.0 // spread along u dominates
      val w = ((i * 37) % 11 - 5) / 1000.0 // deterministic wiggle on dim 3
      val v = Array.tabulate(dim)(j =>
        (0.5 + t * u(j) + (if (j == 2) w else 0.0)).toFloat)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  test("planted dominant axis is recovered up to sign") {
    val (_, v) = PcaOps.topComponent(planted, "vec_id", "embedding", dim, 8)
    val dot = v(0) * 0.6 + v(1) * 0.8
    assert(math.abs(math.abs(dot) - 1.0) < 1e-3,
      s"component ${v.mkString(",")} not aligned with planted axis (|dot|=${math.abs(dot)})")
    assert(v.drop(2).forall(x => math.abs(x) < 2e-2),
      s"off-axis leakage: ${v.mkString(",")}")
  }

  test("variance summary attributes the planted share to lambda1") {
    val row = PcaOps.varianceSummary(planted, "vec_id", "embedding", dim, 8).head()
    assert(row.getLong(0) === 200L)
    val ratio = row.getDouble(3)
    assert(ratio > 0.999, s"var_ratio $ratio — the planted axis carries ~all variance")
    val lambda = row.getDouble(1)
    val total = row.getDouble(2)
    assert(lambda <= total + 1e-9)
  }

  test("projection scores are centered and trajectory is rerun-stable") {
    val p1 = PcaOps.project(planted, "vec_id", "embedding", dim, 8)
      .orderBy(col("vec_id")).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val p2 = PcaOps.project(planted, "vec_id", "embedding", dim, 8)
      .orderBy(col("vec_id")).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(p1.sameElements(p2), "power iteration must be bit-stable across runs")
    val mean = p1.map(_._2).sum / p1.length
    assert(math.abs(mean) < 1e-3, s"projections of centered data must center at 0, got $mean")
  }

  test("vectors of the wrong dimension are excluded, not mis-read") {
    import spark.implicits._
    val ragged = planted.union(
      Seq((999L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding"))
    val n = PcaOps.project(ragged, "vec_id", "embedding", dim, 2).count()
    assert(n === 200L)
  }

  /** ADVICE round-8: componentFromMoments' float re-association vs the
    * batch per-row fold is absorbed by the 1e-6 quantization only while
    * no iterate component lands within ~1e-13 of a .5 grid boundary —
    * a probabilistic, not structural, guarantee. This pins the merged-
    * moments trajectory EXACTLY equal to the batch trajectory on the
    * bench corpus, so the certified fixture is known-safe (the caveat
    * stays documented in PcaOps for arbitrary corpora).
    */
  test("moments-derived trajectory equals the batch trajectory on the bench corpus") {
    val d = 64
    val emb = Tables.embeddings(spark, sf)
    val (muB, vB) = PcaOps.topComponent(emb, "vec_id", "embedding", d, 8)
    val m = emb
      .filter(col("embedding").isNotNull && size(col("embedding")) === d)
      .select(col("embedding").cast("array<double>").as("x"))
      .agg(graft.functions.VectorMoments(col("x"), d).as("m"))
      .head().getSeq[Double](0)
    val n = m(0).toLong
    val sx = Array.tabulate(d)(j => m(1 + j))
    val sxx = Array.tabulate(d, d)((j, k) => m(1 + d + j * d + k))
    val (muM, vM) = PcaOps.componentFromMoments(n, sx, sxx, d, 8)
    assert(muM.sameElements(muB), "quantized means diverge between paths")
    assert(vM.sameElements(vB),
      "merged-moments trajectory diverged from the batch trajectory — " +
        "an iterate landed on a 1e-6 grid boundary (see PcaOps scaladoc)")
    // the deflated multi-component basis rides the same absorption
    // class — pin the full m=4 basis too (q_stream_outliers_pca's
    // certified fixture)
    val (muB4, compsB) = PcaOps.topComponents(emb, "vec_id", "embedding", d, 6, 4)
    val (muM4, compsM) = PcaOps.componentsFromMoments(n, sx, sxx, d, 6, 4)
    assert(muM4.sameElements(muB4))
    compsB.zip(compsM).zipWithIndex.foreach { case ((b, mm), t) =>
      assert(mm.sameElements(b), s"deflated component ${t + 1} diverged")
    }
    // round-13: VectorQueries.fittedBasis now derives EVERY consumer's
    // basis from the single-pass moments (guide §1.2 — the m·iters
    // distributed-pass fit removed). Pin the remaining config in use:
    // OPQ's (iters=2, m=8) rotation basis.
    val (muB8, compsB8) = PcaOps.topComponents(emb, "vec_id", "embedding", d, 2, 8)
    val (muM8, compsM8) = PcaOps.componentsFromMoments(n, sx, sxx, d, 2, 8)
    assert(muM8.sameElements(muB8))
    compsB8.zip(compsM8).zipWithIndex.foreach { case ((b, mm), t) =>
      assert(mm.sameElements(b), s"OPQ-config component ${t + 1} diverged")
    }
  }

  /** The WHY of q_embed_outliers_pca: a correlation-breaking outlier —
    * per-dim deviations all inside the marginal ranges, but moving
    * ORTHOGONALLY to the planted axis in the correlated 0-1 plane — is
    * invisible to diagonal z-scores (every dim looks ordinary) while
    * the subspace scorer's residual energy flags it decisively.
    */
  test("subspace scorer catches a correlated outlier the diagonal scorer misses") {
    import spark.implicits._
    // outlier: mu + 5·(0.8, −0.6) — orthogonal to u in the 0-1 plane;
    // dim-0 dev 4.0 vs marginal sd ≈ 6.0, dim-1 dev 3.0 vs sd ≈ 8.0
    val out = Array.tabulate(dim)(j =>
      (0.5 + (if (j == 0) 4.0 else if (j == 1) -3.0 else 0.0)).toFloat)
    val corpus = planted.union(Seq((999L, out)).toDF("vec_id", "embedding"))

    // diagonal scorer (the q_embed_outliers construction, inline)
    def quant(v: Double): Double = graft.ops.Reuse.quantMicro(v)
    val x = corpus.select(col("vec_id").cast("long").as("id"),
      col("embedding").cast("array<double>").as("x"))
    val st = x.agg(avg(element_at(col("x"), 1)),
      ((2 to dim).map(j => avg(element_at(col("x"), j))) ++
        (1 to dim).map(j => stddev_samp(element_at(col("x"), j)))): _*).head()
    val mu = Array.tabulate(dim)(j => quant(st.getDouble(j)))
    val sd = Array.tabulate(dim) { j =>
      val q = quant(st.getDouble(dim + j)); if (q > 0) q else 1.0
    }
    val diag = x.withColumn("z", zip_with(
        zip_with(col("x"), array(mu.map(lit).toIndexedSeq: _*), (a, b) => a - b),
        array(sd.map(lit).toIndexedSeq: _*), (c, s) => c / s))
      .select(col("id"), expr("dot_product(z, z)").as("m2"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val diagRank = diag.values.count(_ > diag(999L))
    assert(diagRank > 20,
      s"diagonal score should NOT flag the correlated outlier decisively " +
        s"(score ${diag(999L)}, only $diagRank points above it)")

    val sub = PcaOps.subspaceOutliers(corpus, "vec_id", "embedding", dim, 8, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val subMax = sub.removed(999L).values.max
    assert(sub(999L) > 5 * subMax,
      s"subspace score must flag it decisively: ${sub(999L)} vs max-other $subMax")
  }

  test("degenerate inputs fail loudly, not with NaN/Infinity") {
    import spark.implicits._
    val constant = (0 until 10).map(i =>
      (i.toLong, Array.fill(dim)(0.5f))).toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      PcaOps.topComponent(constant, "vec_id", "embedding", dim, 2)
    }
    assert(e1.getMessage.contains("zero norm"))
    // a single vector centers to zero, so the trajectory guard fires
    // before the variance n>1 guard can — either way it's loud
    val single = Seq((1L, Array.fill(dim)(0.5f))).toDF("vec_id", "embedding")
    val e2 = intercept[IllegalArgumentException] {
      PcaOps.varianceSummary(single, "vec_id", "embedding", dim, 1)
    }
    assert(e2.getMessage.contains("zero norm") ||
      e2.getMessage.contains("at least 2"))
    val e3 = intercept[IllegalArgumentException] {
      PcaOps.componentFromMoments(1L, Array.fill(dim)(0.0),
        Array.fill(dim, dim)(0.0), dim, 1)
    }
    assert(e3.getMessage.contains("n > 1"))
  }
}
