package graft.tools

import graft.Tables
import graft.ops.SimilarityOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANN quality/cost frontier: recall@k vs [[SimilarityOps.bruteForceTopK]]
  * and wall time for each approximate path (IVF with its nProbe sweep,
  * PQ-ADC, hyperplane-LSH bucketing) under Bench-identical conditions.
  * Emits the markdown table committed to PERF.md (provenance: this
  * tool, re-runnable with `runMain graft.tools.ProbeAnn [sfDir]`).
  */
object ProbeAnn {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local("32", "ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()

    val k = 10
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 50)
    val corpus = emb.filter(col("vec_id") >= 50)
    val nQ = queries.count()

    def run(name: String, f: () => DataFrame): (String, Double, Set[(Long, Long)]) = {
      // warm once (centroid learning JIT etc.), then time
      f().count()
      val t0 = System.nanoTime()
      val pairs = f().select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val dt = (System.nanoTime() - t0) / 1e9
      graft.ops.Reuse.releaseAllCaches(spark)
      (name, dt, pairs)
    }

    val (_, tBrute, truth) = run("brute", () =>
      SimilarityOps.bruteForceTopK(queries, corpus, "vec_id", "embedding", k))

    val rows = Seq(
      ("exact brute-force (baseline)", tBrute, 1.0) +: (
        Seq(1, 2, 4, 8).map { nProbe =>
          val (_, t, got) = run(s"ivf p$nProbe", () =>
            SimilarityOps.ivfTopK(queries, corpus, "vec_id", "embedding", k,
              nCentroids = 16, nProbe = nProbe, learnIters = 2))
          (s"IVF 16 cells, Lloyd's x2, nProbe=$nProbe", t,
            (got & truth).size.toDouble / (nQ * k))
        } ++ Seq({
          val (_, t, got) = run("pq", () =>
            SimilarityOps.pqTopK(queries, corpus, "vec_id", "embedding", k,
              subspaces = 8, codebookSize = 16, learnIters = 1, dim = 64))
          ("PQ-ADC M=8 K=16 (8x compression)", t,
            (got & truth).size.toDouble / (nQ * k))
        }, {
          // OPQ lift (round-12): FULL-RANK rotation into the deflated-
          // PCA basis (orthonormal by construction — parallel Gram-
          // Schmidt each iterate), then the IDENTICAL PQ config. The
          // rotation is applied WITHOUT centering: a pure orthonormal
          // rotation preserves raw-space cosine exactly (so any recall
          // delta vs the unrotated row above is pure decorrelation
          // gain at equal bytes), whereas rotating CENTERED vectors
          // ranks in a different metric when the corpus mean is
          // non-zero — measured at 0.032 recall vs raw-space truth,
          // the classic mean-shift trap (the basis itself is still
          // fitted on centered data, as decorrelation wants).
          val (_, compsO) = graft.ops.PcaOps.topComponents(
            emb, "vec_id", "embedding", 64, 2, 64)
          // BALANCED EIGENVALUE ALLOCATION (the OPQ-paper detail that
          // makes or breaks the rotation): PCA orders components by
          // variance, so a CONTIGUOUS sub-space split gives sub-space 0
          // nearly all the energy and K=16 centroids cannot code it —
          // measured 0.028 recall (worse than unrotated!). Round-robin
          // of the variance-sorted components across the M sub-spaces
          // equalizes per-sub-space energy, which is the actual OPQ
          // contract ("parametric OPQ", Ge et al.).
          val perm = (0 until 8).flatMap(s => (0 until 8).map(r => s + r * 8 + 1))
          val projAll = graft.ops.PcaOps.transformWith(
            emb, "vec_id", "embedding", 64, Array.fill(64)(0.0), compsO)
            .select(col("vec_id"),
              array(perm.map(i => col(s"pc$i")): _*).as("embedding"))
          val pq2 = projAll.filter(col("vec_id") < 50)
          val pc2 = projAll.filter(col("vec_id") >= 50)
          val (_, t, got) = run("opq", () =>
            SimilarityOps.pqTopK(pq2, pc2, "vec_id", "embedding", k,
              subspaces = 8, codebookSize = 16, learnIters = 1, dim = 64))
          ("OPQ: full-rank PCA rotation -> PQ M=8 K=16 (equal bytes)", t,
            (got & truth).size.toDouble / (nQ * k))
        }, {
          // L2-ASSIGNMENT grid rows (round-12 verdict item 4): the OPQ
          // rotation measured NEGATIVE under spherical (cosine-cell)
          // codebooks — rotation skews per-coordinate variance and
          // cosine cells collapse the radial coordinate that skew
          // lives in. Textbook PQ/OPQ assumes L2 cells. Together with
          // the two rows above ("PQ-ADC" = unrotated×cosine, "OPQ" =
          // rotated×cosine) these complete the
          // {unrotated, rotated} × {cosine, L2} grid at equal bytes.
          val (_, t, got) = run("pq-l2", () =>
            SimilarityOps.pqTopK(queries, corpus, "vec_id", "embedding", k,
              subspaces = 8, codebookSize = 16, learnIters = 1, dim = 64,
              metric = "l2"))
          ("PQ-ADC M=8 K=16, L2-assignment codebooks (unrotated)", t,
            (got & truth).size.toDouble / (nQ * k))
        }, {
          val (_, compsO) = graft.ops.PcaOps.topComponents(
            emb, "vec_id", "embedding", 64, 2, 64)
          val perm = (0 until 8).flatMap(s => (0 until 8).map(r => s + r * 8 + 1))
          val projAll = graft.ops.PcaOps.transformWith(
            emb, "vec_id", "embedding", 64, Array.fill(64)(0.0), compsO)
            .select(col("vec_id"),
              array(perm.map(i => col(s"pc$i")): _*).as("embedding"))
          val pq2 = projAll.filter(col("vec_id") < 50)
          val pc2 = projAll.filter(col("vec_id") >= 50)
          val (_, t, got) = run("opq-l2", () =>
            SimilarityOps.pqTopK(pq2, pc2, "vec_id", "embedding", k,
              subspaces = 8, codebookSize = 16, learnIters = 1, dim = 64,
              metric = "l2"))
          ("OPQ rotation -> PQ M=8 K=16, L2-assignment codebooks", t,
            (got & truth).size.toDouble / (nQ * k))
        }, {
          // rotation SANITY row: exact brute-force on the ROTATED
          // vectors. A full-rank orthonormal rotation preserves cosine
          // exactly, so this row must read 1.000 against raw-space
          // truth — if it does, the rotated-PQ collapse above is pure
          // codebook geometry (quantization in the rotated basis), not
          // a broken rotation; if it doesn't, the basis isn't the
          // orthonormal map the OPQ rows assume and their recalls are
          // measuring the wrong thing.
          val (_, compsO) = graft.ops.PcaOps.topComponents(
            emb, "vec_id", "embedding", 64, 2, 64)
          val perm = (0 until 8).flatMap(s => (0 until 8).map(r => s + r * 8 + 1))
          val projAll = graft.ops.PcaOps.transformWith(
            emb, "vec_id", "embedding", 64, Array.fill(64)(0.0), compsO)
            .select(col("vec_id"),
              array(perm.map(i => col(s"pc$i")): _*).as("embedding"))
          val pq2 = projAll.filter(col("vec_id") < 50)
          val pc2 = projAll.filter(col("vec_id") >= 50)
          val (_, t, got) = run("rot-brute", () =>
            SimilarityOps.bruteForceTopK(pq2, pc2, "vec_id", "embedding", k))
          ("SANITY exact brute on rotated vectors (must be ~1.0)", t,
            (got & truth).size.toDouble / (nQ * k))
        }, {
          val (_, t, got) = run("ivfpq", () =>
            SimilarityOps.ivfPqTopK(queries, corpus, "vec_id", "embedding", k,
              nCentroids = 16, nProbe = 4, ivfIters = 2,
              subspaces = 8, codebookSize = 16, pqIters = 1, dim = 64))
          ("IVFPQ (IVFADC) 16 cells nProbe=4 × M=8 K=16", t,
            (got & truth).size.toDouble / (nQ * k))
        }, {
          val (_, t, got) = run("jl", () =>
            SimilarityOps.jlShortlistTopK(queries, corpus, "vec_id", "embedding",
              k, shortlist = 50, outDim = 16, dim = 64))
          ("JL 64→16 shortlist-50 + exact rerank", t,
            (got & truth).size.toDouble / (nQ * k))
        }) ++ Seq((4, 4), (8, 4), (8, 6)).map { case (bands, bits) =>
          val (_, t, got) = run(s"lsh $bands x$bits", () =>
            SimilarityOps.lshKnn(queries, corpus, "vec_id", "embedding", k,
              SimilarityOps.LshConfig(bands, bits, dim = 64)))
          (s"LSH $bands bands x $bits bits", t,
            (got & truth).size.toDouble / (nQ * k))
        } ++ Seq((256, 110), (256, 115), (256, 120)).map { case (bits, r) =>
          val (_, t, got) = run(s"sketch $bits/$r", () =>
            SimilarityOps.sketchTopK(queries, corpus, "vec_id", "embedding", k,
              bits = bits, dim = 64, maxHamming = r))
          (s"Hamming sketch $bits bits, radius $r", t,
            (got & truth).size.toDouble / (nQ * k))
        }): _*)

    println(s"| ANN path | wall (s) | recall@$k |")
    println("|---|---|---|")
    rows.foreach { case (name, t, r) =>
      println(f"| $name | $t%.2f | $r%.3f |")
    }

    // ---- scaled section: the regime where arithmetic (not stage
    // constants) decides the wall. At the 2k-vector bench corpus every
    // multi-stage method pays more in fixed per-stage cost than brute's
    // single fused stage costs end to end — walls there measure Spark
    // constants, not the algorithm. 50k deterministic synthetic vectors
    // with PLANTED neighbor structure (25-sibling groups at cos≈0.31,
    // everything else noise — the realistic retrieval regime and the
    // same margin as the bench corpus's true neighbors) × 100 queries
    // = 5M pairs: brute pays 5M 64-FMA dots plus a 5M-row sort
    // exchange; the sketch path pays 5M 4-word POPCNTs and exact-scores
    // + sorts only the radius survivors (~5%).
    graft.functions.GraftFunctions.register(spark)
    // corpus size for the scaled section: second CLI arg (default 50k)
    val nSynth = args.drop(1).headOption.map(_.toLong).getOrElse(50100L)
    val synth = spark.range(nSynth).select(col("id").as("vec_id"),
      expr("zip_with(hashed_embed(CAST(id % 2000 AS STRING)), " +
        "hashed_embed(CAST(id AS STRING)), " +
        "(a, b) -> a + CAST(1.5 AS FLOAT) * b)").as("embedding"))
    val sq = synth.filter(col("vec_id") < 100)
    val sc = synth.filter(col("vec_id") >= 100)
    val nSq = sq.count()
    def runS(f: () => DataFrame): (Double, Set[(Long, Long)]) = {
      f().count()
      val t0 = System.nanoTime()
      val pairs = f().select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      ((System.nanoTime() - t0) / 1e9, pairs)
    }
    val (tB, truthS) = runS(() =>
      SimilarityOps.bruteForceTopK(sq, sc, "vec_id", "embedding", k))
    println(s"| ANN path @${nSynth / 1000}k corpus | wall (s) | recall@$k |")
    println("|---|---|---|")
    println(f"| exact brute-force (baseline) | $tB%.2f | 1.000 |")
    Seq((256, 110), (256, 115), (256, 120)).foreach { case (bits, r) =>
      val (t, got) = runS(() =>
        SimilarityOps.sketchTopK(sq, sc, "vec_id", "embedding", k,
          bits = bits, dim = 64, maxHamming = r))
      println(f"| Hamming sketch $bits bits, radius $r | $t%.2f | ${(got & truthS).size.toDouble / (nSq * k)}%.3f |")
    }

    // ---- self-calibration validation (round 8): the q_ann_autoradius
    // loop certifies the calibration ALGORITHM against DuckDB at bench
    // scale; this section load-tests it at the scaled regime — the
    // calibrated radius must land in the hand-tuned band (115 ± a few)
    // and hold the ≥0.9 recall of the fixed-radius rows, or the
    // "data-calibrated dial" claim is only certified, not validated.
    //
    // A separate DENSE 64-d synthetic is required here: the hashed
    // n-gram corpus above is 384-d truncated to the sketch's 64 dims,
    // so ~5/6 of its one-hot-ish vectors restrict to the ZERO vector —
    // a lowest-100-id sample then has hundreds of identical (all-zero)
    // sketches and the 5% pair-distance quantile collapses to radius 0
    // (measured; the bias case documented in PERF.md). Dense vectors
    // with the same planted 25-sibling structure (shared group
    // component + 1.5x per-id noise, sibling cos ~= 0.31) make the
    // lowest-100 sample representative, which is the calibration
    // contract.
    def densePart(seed: String, key: String) =
      s"(CAST(pmod(hash($key, j, $seed), 1000) AS DOUBLE) / 500.0 - 1.0)"
    val dense = spark.range(nSynth).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), j -> " +
        s"${densePart("1", "CAST(id % 2000 AS INT)")} + " +
        s"1.5 * ${densePart("7", "CAST(id AS INT)")})").as("embedding"))
    val qd = dense.filter(col("vec_id") < 100)
    val cd = dense.filter(col("vec_id") >= 100)
    val nQd = qd.count()
    val (tBd, truthD) = runS(() =>
      SimilarityOps.bruteForceTopK(qd, cd, "vec_id", "embedding", k))
    val calibrated = SimilarityOps.calibrateHammingRadius(
      cd, "vec_id", "embedding",
      bits = 256, dim = 64, sampleN = 100, targetFrac = 0.05)
    val (tCal, gotCal) = runS(() =>
      SimilarityOps.sketchTopK(qd, cd, "vec_id", "embedding", k,
        bits = 256, dim = 64, maxHamming = calibrated))
    val (tFix, gotFix) = runS(() =>
      SimilarityOps.sketchTopK(qd, cd, "vec_id", "embedding", k,
        bits = 256, dim = 64, maxHamming = 115))
    println(s"| calibration validation @${nSynth / 1000}k dense corpus | wall (s) | recall@$k |")
    println("|---|---|---|")
    println(f"| exact brute-force (baseline) | $tBd%.2f | 1.000 |")
    println(f"| hand-tuned radius 115 | $tFix%.2f | ${(gotFix & truthD).size.toDouble / (nQd * k)}%.3f |")
    println(f"| auto-calibrated radius (targetFrac=0.05) -> $calibrated | $tCal%.2f | ${(gotCal & truthD).size.toDouble / (nQd * k)}%.3f |")
    spark.stop()
  }
}
