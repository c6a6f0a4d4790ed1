package graft.tools

import graft.ops.SimilarityOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-N wall evidence for the hyperplane-LSH vector family
  * (round-9 verdict item 2: ProbeDedup covers text MinHash at 1M/5M
  * docs; the vector kernels behind q_knn_graph_lsh / q_knn_graph_capped
  * had no equivalent). Three experiments, numbers land in PERF.md:
  *
  *  1. BANDBITS SWEEP at N vectors: candidate volume per (bands,
  *     bandBits) config — the Σ_buckets |bucket|² law made concrete:
  *     with 2^bandBits buckets per band, candidates grow ~N²/2^bandBits
  *     per band, so bucket count must SCALE WITH N (bandBits ≈
  *     log2(N/occupancy)); the sweep shows the knee where a config
  *     stops being runnable. Feasible configs also time the full graph
  *     build and measure recall@5 against brute-force cosine on a
  *     100-query slice (planted 8-vector clusters give recall real
  *     signal to find).
  *  2. CAP RESCUE: the config the sweep proved infeasible uncapped is
  *     re-run with capBandBuckets — candidate volume drops to
  *     ≤ N·cap·bands (linear) and the graph build completes; recall is
  *     measured against the same brute slice, pricing the cap's
  *     recall trade honestly.
  *  3. PLANTED MEGA-BUCKET (round-9 verdict item 1's "done" evidence):
  *     a block of B identical vectors plus random mass — uncapped
  *     candidates grow as C(B,2)·bands (quadratic in B, bandBits
  *     can't help: identical vectors share every band bucket), capped
  *     as ≤ B·cap·bands (linear). Counted at two block sizes so the
  *     4×-block → 16×-vs-4× growth split is in the numbers, not argued.
  *
  * Round-11: configs may exceed 64 total bits (the wide
  * [[graft.functions.HyperplaneBuckets]] banding), and every graph
  * build runs the TWO-PHASE rerank ([[SimilarityOps.LshConfig]]
  * `twoPhase`) — the ~1 KB/candidate payload that
  * walled the round-10 5M build at 150 GB of projected spill is now a
  * 24 B/candidate shuffle plus bands·N vector copies.
  *
  * Re-runnable: `runMain graft.tools.ProbeKnn [nVectors] [bandsxbits,...]`.
  */
object ProbeKnn {
  private val M = 2147483647L
  private val Dim = 64

  /** Deterministic uniform in [-1, 1] from (seed, j). The mix MUST be
    * NONLINEAR in (seed, j): any affine scramble `(a·seed + b·j) mod M`
    * — however the constants are arranged — leaves the corpus a
    * one-parameter affine/Weyl family in R^dim (vectors differ only by
    * an offset along a shared curve), which collapses every LSH band
    * onto a few dozen sign-pattern buckets. Two earlier drafts of this
    * probe did exactly that and accidentally manufactured corpus-wide
    * mega-buckets (measured: Σ|bucket|² ≈ N²/65 per band at (4,16) on
    * 1M vectors — 6.1e10 candidates where a spread corpus yields ~1e7).
    * The square term breaks the affine structure: t² mod M decorrelates
    * coordinates across both j and id (verified by the (4,16) candidate
    * count dropping 4 orders of magnitude).
    */
  private def u(seed: Column, j: Column): Column = {
    val t = pmod(pmod(seed, lit(M)) * lit(2654435761L) + j * lit(40503L), lit(M))
    (pmod(t * t + t, lit(M)).cast("double") / M) * 2 - 1
  }

  /** Corpus: first 20% in planted clusters of 8 (shared base direction
    * + 5% noise — near-neighbors an ANN structure must find), rest
    * hash-random mass.
    */
  private def corpus(spark: org.apache.spark.sql.SparkSession, n: Long): DataFrame = {
    val nClustered = n / 5
    val g = (col("id") / 8).cast("long")
    val vec = transform(sequence(lit(1), lit(Dim)), j => {
      val base = u(g * lit(1000003L) + lit(7L), j)
      val noise = u(col("id") * lit(31L) + lit(13L), j)
      when(col("id") < nClustered, base + noise * 0.05).otherwise(noise)
    })
    spark.range(n).select(col("id").as("vec_id"), vec.as("embedding"))
  }

  /** Config token: `BANDSxBITS[pPROBES][cCAP]` — e.g. `12x20p2c16` =
    * 12 bands × 20 bits, 2 probes per band, corpus occupancy cap 16.
    */
  private[tools] case class Config(bands: Int, bits: Int, probes: Int, cap: Int) {
    /** The two-phase kernel config; constructing it range-checks the token. */
    val lsh: SimilarityOps.LshConfig = SimilarityOps.LshConfig(bands, bits, Dim,
      probes = probes, bucketCap = cap, twoPhase = true)
    override def toString: String =
      s"${bands}x$bits" + (if (probes > 1) s"p$probes" else "") +
        (if (cap > 0) s"c$cap" else "")
  }
  private val ConfigRe = """(\d+)x(\d+)(?:p(\d+))?(?:c(\d+))?""".r
  private[tools] def parseConfig(s: String): Config = s match {
    case ConfigRe(b, k, p, c) => Config(b.toInt, k.toInt,
      Option(p).map(_.toInt).getOrElse(1), Option(c).map(_.toInt).getOrElse(0))
    case other => throw new IllegalArgumentException(s"bad config: $other")
  }

  /** Candidate volume for a banding config — the bucket join count
    * BEFORE rerank (the number the Σ|bucket|² law governs). `cap = 0`
    * counts unordered pairs (x.id < y.id). `cap > 0` counts what the
    * GRAPH kernel actually generates: uncapped QUERY buckets against
    * capped CORPUS buckets, both directions (Σ|b_q|·min(|b_c|,cap) per
    * band) — a both-sides-capped count looked 10× smaller than the
    * kernel's real fan-out and let a 90 GB build through a 20 GB gate.
    */
  private def candidateCount(vecs: DataFrame, bands: Int, bandBits: Int,
      cap: Int): Long = {
    // round-11: buckets via the wide-capable kernel — configs past
    // bands*bandBits = 64 (the round-10 ceiling) count the same way
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    val raw = vecs.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vd"))
      .select(col("id"),
        posexplode(expr(s"hyperplane_buckets(vd, $bands, $bandBits, $Dim)"))
          .as(Seq("band", "bucket")))
    if (cap > 0)
      raw.as("x").join(SimilarityOps.capBandBuckets(raw, cap).as("y"),
          col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
            col("x.id") =!= col("y.id"))
        .count()
    else
      raw.as("x").join(raw.as("y"),
          col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
            col("x.id") < col("y.id"))
        .count()
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    // configs as "bandsxbits[pP][cC]" csv, e.g. "4x16,12x20p2c16"
    val argConfigs = args.drop(1).headOption.map(_.split(",").toSeq)
    val spark = graft.GraftSession.local("32", "ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()

    val vecs = graft.ops.Reuse.materialized(corpus(spark, n))
    println(s"knn probe: N=$n dim=$Dim (20% in planted 8-clusters)")

    // brute-force top-5 on a ~100-query slice (broadcast queries, one
    // corpus scan, per-query window): the recall oracle
    val step = math.max(1L, n / 100L)
    val queries = vecs.filter(pmod(col("vec_id"), lit(step)) === 0)
    graft.functions.GraftFunctions.register(spark)
    val q = broadcast(queries.select(col("vec_id").as("qid"),
      col("embedding").as("qv"))
      .withColumn("qn", sqrt(expr("dot_product(qv, qv)"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    val t0 = System.nanoTime()
    val brute = vecs
      .withColumn("cn", sqrt(expr("dot_product(embedding, embedding)")))
      .crossJoin(q)
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", expr("dot_product(qv, embedding)") / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("vec_id").as("nid"))
    val bruteSet = brute.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    println(f"  brute top-5 over ${queries.count()} queries: ${(System.nanoTime() - t0) / 1e9}%.1fs")

    def recallOf(edges: DataFrame): Double = {
      val got = edges.select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.count(bruteSet.contains).toDouble / bruteSet.size
    }

    // 1. config sweep — round-12: configs carry probes (query-side
    // multi-probe, zero index growth) and a corpus occupancy cap, and
    // full builds can run STAGED (bands in groups, partial top-k
    // graphs checkpointed and merged — peak in-flight shuffle divides
    // by the group count; exact by the subset-top-k argument). Knobs:
    //   SPARK_GRAFT_BUILD=0        recall-only sweep (query slice)
    //   SPARK_GRAFT_COUNT=0        skip the candidate count
    //   SPARK_GRAFT_STAGE_BANDS=G  staged build, G bands per group
    //   SPARK_GRAFT_REFINE=1       one NN-descent round on the built
    //                              graph, recall re-measured
    //   SPARK_GRAFT_FEASIBLE=N     candidate budget for unstaged builds
    val configs = argConfigs.getOrElse(Seq("4x16", "4x12", "4x10"))
      .map(parseConfig)
    val doBuild = sys.env.getOrElse("SPARK_GRAFT_BUILD", "1") != "0"
    val doCount = sys.env.getOrElse("SPARK_GRAFT_COUNT", "1") != "0"
    val stageBands = sys.env.getOrElse("SPARK_GRAFT_STAGE_BANDS", "0").toInt
    val doRefine = sys.env.getOrElse("SPARK_GRAFT_REFINE", "0") == "1"
    val feasible = sys.env.getOrElse("SPARK_GRAFT_FEASIBLE", "700000000").toLong
    for (cfg <- configs) {
      import cfg.{bands, bits, probes, cap}
      val tc = System.nanoTime()
      val cand = if (doCount) candidateCount(vecs, bands, bits, cap) else -1L
      val candWall = (System.nanoTime() - tc) / 1e9
      // query-slice recall: cheap at any config (100 queries vs corpus)
      val rec = recallOf(SimilarityOps.lshKnn(
        queries, vecs, "vec_id", "embedding", 5, cfg.lsh))
      println(f"  $cfg: candidates=$cand%,d (count wall $candWall%.1fs) slice recall@5=$rec%.3f")
      val buildable = doBuild &&
        (stageBands > 0 || cand < 0 || cand * probes <= feasible)
      if (buildable) {
        val work = java.nio.file.Files
          .createTempDirectory(s"graft_probeknn_$cfg").toString
        val tg = System.nanoTime()
        val graph =
          if (stageBands > 0)
            SimilarityOps.lshKnnStaged(vecs, "vec_id", "embedding", 5,
              cfg.lsh, stageBands, s"$work/stages")
          else
            SimilarityOps.lshKnn(vecs, vecs, "vec_id", "embedding", 5, cfg.lsh)
        graph.write.mode("overwrite").parquet(s"$work/graph")
        val built = spark.read.parquet(s"$work/graph")
        val edges = built.count()
        val wall = (System.nanoTime() - tg) / 1e9
        // recall measured FROM THE BUILT GRAPH (never a separate
        // query-slice run): the number that may carry the 'built' label
        val builtRec = recallOf(built.filter(pmod(col("query_id"), lit(step)) === 0))
        val staged = if (stageBands > 0) s" staged($stageBands/group)" else ""
        println(f"    $cfg BUILT$staged: graph=$edges%,d edges in $wall%.1fs built recall@5=$builtRec%.3f")
        if (doRefine) {
          val tr = System.nanoTime()
          SimilarityOps.knnGraphRefine(vecs, "vec_id", "embedding", 5, built)
            .write.mode("overwrite").parquet(s"$work/refined")
          val refined = spark.read.parquet(s"$work/refined")
          val redges = refined.count()
          val rwall = (System.nanoTime() - tr) / 1e9
          val refRec = recallOf(refined.filter(pmod(col("query_id"), lit(step)) === 0))
          println(f"    $cfg REFINED: graph=$redges%,d edges in $rwall%.1fs built recall@5=$refRec%.3f (one NN-descent round)")
        }
      } else if (doBuild) {
        println(f"    $cfg build skipped (candidates over budget; set SPARK_GRAFT_STAGE_BANDS to stage)")
      }
      // drop the finished config's shuffle files before the next one
      // (the ContextCleaner only reclaims after a GC cycle; a 5M
      // corpus-side vector ride is ~20-40 GB of shuffle per config and
      // three configs filled this box's disk before the fix)
      System.gc()
      Thread.sleep(2000)
    }

    // 3. planted mega-bucket: B identical vectors + 100k random mass.
    // identical vectors share EVERY band bucket — bandBits is powerless;
    // only the cap bounds the fan-out. Two block sizes pin the growth
    // law (4x block: uncapped ~16x, capped ~4x).
    val fixed = transform(sequence(lit(1), lit(Dim)), j => u(lit(99L), j))
    for (block <- Seq(5000L, 20000L)) {
      val mega = spark.range(block + 100000L).select(col("id").as("vec_id"),
        when(col("id") < block, fixed)
          .otherwise(transform(sequence(lit(1), lit(Dim)),
            j => u(col("id") * lit(31L) + lit(13L), j))).as("embedding"))
      val mv = graft.ops.Reuse.materialized(mega)
      val un = candidateCount(mv, 4, 16, cap = 0)
      val cp = candidateCount(mv, 4, 16, cap = 16)
      println(f"  mega-bucket block=$block%,d (+100k random): uncapped candidates=$un%,d capped(16)=$cp%,d")
      graft.ops.Reuse.releaseAllCaches(spark)
    }
    spark.stop()
  }
}
