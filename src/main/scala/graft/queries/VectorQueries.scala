package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.VectorOps.{dot, norm, randomProject}
import graft.ops.{Memos, SimilarityOps}
import graft.ops.SimilarityOps.LshConfig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity-search query surface over the `embeddings` table —
  * the engine's semantic-search/vector-store parity layer (J9/M8,
  * `chromadb_client.py:194-306`) plus embedding-cosine near-dedup
  * (A13, `deduplication_consumer.py:198-222`).
  *
  * The DuckDB oracles compute the identical double-precision
  * left-to-right dot products (`list_dot_product` over DOUBLE[]), so
  * similarity values compare bit-exactly after rounding.
  */
object VectorQueries {

  private val vd = "list_transform(embedding, x -> CAST(x AS DOUBLE))"

  /** Exact brute-force cosine top-k: the first 10 vectors are the query
    * batch, the rest the corpus; query side broadcast. */
  val q_ann_topk = QueryDef(
    "q_ann_topk",
    s"""WITH n AS (
       |  SELECT vec_id, vd, sqrt(list_dot_product(vd, vd)) AS nrm
       |  FROM (SELECT vec_id, $vd AS vd FROM embeddings)),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    list_dot_product(q.vd, c.vd) / (q.nrm * c.nrm) AS cos
       |  FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id >= 10)
       |SELECT query_id, rank, neighbor_id, ROUND(cos, 6) AS cos_sim FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored) t WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    SimilarityOps.bruteForceTopK(
      emb.filter(col("vec_id") < 10),
      emb.filter(col("vec_id") >= 10),
      "vec_id", "embedding", 5)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Embedding-cosine near-duplicate pairs (threshold 0.4 — the
    * synthetic corpus has no planted vector dups; this surfaces the
    * most-similar tail deterministically). */
  val q_embed_neardup = QueryDef(
    "q_embed_neardup",
    s"""WITH n AS (
       |  SELECT vec_id, vd, sqrt(list_dot_product(vd, vd)) AS nrm
       |  FROM (SELECT vec_id, $vd AS vd FROM embeddings))
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ROUND(list_dot_product(a.vd, b.vd) / (a.nrm * b.nrm), 6) AS cos_sim
       |FROM n a JOIN n b ON a.vec_id < b.vec_id
       |WHERE list_dot_product(a.vd, b.vd) / (a.nrm * b.nrm) >= 0.4
       |ORDER BY vec_a, vec_b""".stripMargin) { (spark, dir) =>
    SimilarityOps.cosineNearDupPairs(
      Tables.embeddings(spark, dir), "vec_id", "embedding", 0.4)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Label-centroid profile: per label, count + mean vector norm —
    * cluster-profile shape A11 (`spatial_clustering.py:380-462`) on the
    * vector table. */
  val q_label_profile = QueryDef(
    "q_label_profile",
    s"""SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n,
       |  ROUND(AVG(sqrt(list_dot_product($vd, $vd))), 6) AS avg_norm
       |FROM embeddings GROUP BY label ORDER BY label""".stripMargin) { (spark, dir) =>
    Tables.embeddings(spark, dir)
      .withColumn("vd", col("embedding").cast("array<double>"))
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n"),
        round(avg(norm(col("vd"))), 6).as("avg_norm"))
      .orderBy(col("label"))
  }

  /** Near-dup banding config — PLANNED, not hand-picked:
    * [[SimilarityOps.planLshConfig]] derives the
    * certified 6×6 grid from the near-dup deployment contract (the
    * ~500-row cert corpus at 8-occupancy buckets, single-probe, the
    * 0.36 candidate-coverage target the toy corpus's weak neighbor
    * cosines support — same reasoning as [[WidePlan]]'s 0.45). The
    * require makes planner drift LOUD: every near-dup oracle bakes
    * 6×6 hyperplane literals, so a silently moved grid would fail
    * every hash compare instead of this one line.
    */
  private[queries] val NearDupPlan = SimilarityOps.planLshConfig(
    nVectors = 500, dim = 64, targetRecall = 0.36, maxProbes = 1)
  require(NearDupPlan.bands == 6 && NearDupPlan.bandBits == 6,
    s"planLshConfig drifted off the certified near-dup grid: $NearDupPlan")
  private[queries] val LshBands = NearDupPlan.bands
  private[queries] val LshBandBits = NearDupPlan.bandBits
  private[queries] val LshDim = 64
  /** The certified 6×6 grid as a kernel config (single-phase, uncapped). */
  private val NarrowLsh = LshConfig(LshBands, LshBandBits, LshDim)

  /** Full-corpus LSH kNN graph over `embeddings` in the certified
    * output form: (node_id, rank, neighbor_id, cos_sim), top-5. */
  private def lshGraph(spark: SparkSession, dir: String, cfg: LshConfig): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    SimilarityOps.roundCos(
      SimilarityOps.lshKnn(emb, emb, "vec_id", "embedding", 5, cfg))
      .withColumnRenamed("query_id", "node_id")
      .orderBy(col("node_id"), col("rank"))
  }

  /** Shared oracle CTE block for the hyperplane-LSH family: the ±1
    * hyperplane table materialized at SQL-generation time from the
    * same mix function as the engine's codegen signature, then
    * signatures → band buckets — `v(id, vd)`, `sig`, `buckets`, and
    * norms `n(id, vd, nrm)` land in scope for the caller's candidate
    * join.
    */
  private def lshOracleCtes(bands: Int, bandBits: Int): String = {
    val bandRows = (0 until bands).map { j =>
      s"SELECT id, $j AS band, (sig >> ${j * bandBits}) & ${(1L << bandBits) - 1} AS bucket FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""v AS (
       |  SELECT vec_id AS id, $vd AS vd FROM embeddings),
       |hp(i, hv) AS (VALUES
       |    ${hpValues(bands * bandBits)}),
       |sig AS (
       |  SELECT id, CAST(SUM(CASE WHEN list_dot_product(vd, hv) > 0
       |    THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS BIGINT) AS sig
       |  FROM v CROSS JOIN hp GROUP BY id),
       |buckets AS (
       |  $bandRows),
       |n AS (SELECT id, vd, sqrt(list_dot_product(vd, vd)) AS nrm FROM v)""".stripMargin
  }

  /** WIDE-signature banding config: 16 bands × 8 bits = 128 planes —
    * past the retired one-word ceiling (`bands·bandBits ≤ 64`, weak
    * at 100× scale). Per the measured LSH law #1 (PERF.md,
    * hyperplane-LSH wall at large N),
    * per-band bucket count must scale with N; the certified grid keeps
    * 2⁸ buckets per band (binding collisions at sf corpus sizes) while
    * the SAME kernel serves 16×16 = 65536-bucket bands at the 1M+
    * probe scale.
    *
    * The grid is PLANNED, not hand-picked —
    * [[SimilarityOps.planLshConfig]] derives it from the cert-corpus
    * deployment contract (n ≈ 2048 vectors at 8-occupancy buckets;
    * single-probe; the 0.45 candidate-coverage target the toy corpus
    * supports — at cert SF neighbor cosines are weak by construction,
    * so full recall there would cost 10× the bands the probe scale
    * needs). The require makes planner drift a LOUD failure (every
    * wide oracle bakes 16×8 hyperplane literals); the spec pins the
    * planner's laws against the measured PERF.md rows.
    */
  private[queries] val WidePlan = SimilarityOps.planLshConfig(
    nVectors = 2048, dim = 64, targetRecall = 0.45, maxProbes = 1)
  require(WidePlan.bands == 16 && WidePlan.bandBits == 8,
    s"planLshConfig drifted off the certified wide grid: $WidePlan")
  private[queries] val WideBands = WidePlan.bands
  private[queries] val WideBandBits = WidePlan.bandBits
  private[queries] val WideLsh = LshConfig(WideBands, WideBandBits, LshDim)

  /** [[lshOracleCtes]] for configs past one 64-bit word: no packed
    * signature anywhere — band j's bucket is summed DIRECTLY from that
    * band's planes (global plane i = j·bandBits + r contributes bit
    * r = i % bandBits), mirroring the engine's
    * [[graft.functions.MultiProbeBucketsN]] bucket kernel. Same hyperplane
    * VALUES table, same `v`/`buckets`/`n` CTE names, so every caller
    * of the narrow block composes on this one unchanged.
    */
  private[queries] def lshOracleCtesWide(bands: Int, bandBits: Int): String =
    s"""v AS (
       |  SELECT vec_id AS id, $vd AS vd FROM embeddings),
       |hp(i, hv) AS (VALUES
       |    ${hpValues(bands * bandBits)}),
       |buckets AS (
       |  SELECT id, i // $bandBits AS band,
       |    CAST(SUM(CASE WHEN list_dot_product(vd, hv) > 0
       |      THEN CAST(1 AS BIGINT) << (i % $bandBits) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM v CROSS JOIN hp GROUP BY id, i // $bandBits),
       |n AS (SELECT id, vd, sqrt(list_dot_product(vd, vd)) AS nrm FROM v)""".stripMargin

  /** LSH-bucketed near-dup variant — the 100 TB path (deterministic
    * hyperplane signatures with banded OR-amplification). Oracle: the
    * ±1 hyperplane table is materialized at SQL-generation time from
    * the same mix function, so DuckDB reproduces signatures → banding
    * → candidate pairs → exact-cosine verify end to end; the recall
    * tradeoff vs brute force is additionally asserted in DedupOpsSpec.
    */
  val q_embed_neardup_lsh = QueryDef(
    "q_embed_neardup_lsh", {
      s"""WITH ${lshOracleCtes(LshBands, LshBandBits)},
         |cand AS (
         |  SELECT DISTINCT x.id AS ida, y.id AS idb
         |  FROM buckets x JOIN buckets y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id)
         |SELECT c.ida AS vec_a, c.idb AS vec_b,
         |  ROUND(list_dot_product(a.vd, b.vd) / (a.nrm * b.nrm), 6) AS cos_sim
         |FROM cand c
         |JOIN n a ON a.id = c.ida JOIN n b ON b.id = c.idb
         |WHERE list_dot_product(a.vd, b.vd) / (a.nrm * b.nrm) >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin
    }) { (spark, dir) =>
    SimilarityOps.lshNearDupPairs(
      Tables.embeddings(spark, dir), "vec_id", "embedding", NarrowLsh,
      threshold = 0.4)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** [[q_embed_neardup_lsh]] served by the two-phase near-dup kernel
    * ([[SimilarityOps.lshNearDupPairs]] with `twoPhase`): the verify
    * stage's ~0.5 KB/pair vector payload collapses to 24 B/pair (vectors ride
    * the bucket self-join once per band). Oracle VERBATIM — the
    * result-invariance certificate, plus the spec equality assertion.
    */
  val q_embed_neardup_2p = QueryDef(
    "q_embed_neardup_2p", q_embed_neardup_lsh.oracle) { (spark, dir) =>
    SimilarityOps.lshNearDupPairs(
      Tables.embeddings(spark, dir), "vec_id", "embedding",
      NarrowLsh.copy(twoPhase = true), threshold = 0.4)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Full-corpus kNN graph by LSH-band blocking ([[SimilarityOps.lshKnn]]
    * over corpus × corpus) — the 100 TB kNN-graph story run as ONE
    * certified query over the WHOLE embeddings table instead of the
    * 300-node query-broadcast slice [[q_knn_graph]] rides. Candidates are
    * banded hyperplane buckets (equi-join, both directions), exact cosine
    * reranks, a per-node window keeps the top-5 — no crossJoin and no
    * corpus broadcast anywhere in the plan (PlanSpec-asserted). The oracle
    * replays signatures → banding → candidates → rerank end to end, so the
    * LSH recall contract itself is certified: nodes keep exactly the top-k
    * OF THEIR CANDIDATE SET, not of the corpus (the gap vs exact is
    * measured honestly in DedupOpsSpec for the shared banding algebra).
    * [[q_knn_mutual]]/[[q_knn_clusters]] compose on top of this edge list
    * unchanged.
    */
  val q_knn_graph_lsh = QueryDef(
    "q_knn_graph_lsh", {
      s"""WITH ${lshOracleCtes(LshBands, LshBandBits)},
         |cand AS (
         |  SELECT DISTINCT x.id AS query_id, y.id AS neighbor_id
         |  FROM buckets x JOIN buckets y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.id <> y.id),
         |scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    list_dot_product(a.vd, b.vd) / (a.nrm * b.nrm) AS cos
         |  FROM cand c
         |  JOIN n a ON a.id = c.query_id JOIN n b ON b.id = c.neighbor_id
         |  WHERE a.nrm > 0 AND b.nrm > 0)
         |SELECT query_id AS node_id, rank, neighbor_id,
         |  ROUND(cos, 6) AS cos_sim
         |FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored) t WHERE rank <= 5
         |ORDER BY node_id, rank""".stripMargin
    }) { (spark, dir) => lshGraph(spark, dir, NarrowLsh) }

  /** Occupancy cap on the certification grid. With 2⁶ buckets per band
    * the sf corpora concentrate well past 16 per bucket, so the cap
    * BINDS here — the certificate covers the capped path's survivor
    * selection, not just a no-op passthrough. */
  private val LshBucketCap = 16
  private val CappedLsh = NarrowLsh.copy(bucketCap = LshBucketCap)

  /** [[q_knn_graph_lsh]] under the per-(band,bucket) occupancy cap
    * ([[SimilarityOps.capBandBuckets]]): the
    * corpus side of every band bucket keeps only the `cap = 16`
    * members with the smallest scrambled id-hash, so candidate volume
    * per band is Σ|bucket|·min(|bucket|, cap) — LINEAR in the corpus
    * regardless of how degenerate it is, where the uncapped kernel
    * goes Σ|bucket|² quadratic on one mega-bucket. The DuckDB oracle
    * replays the identical cap rule (same Mersenne-mod hash, same
    * ROW_NUMBER tie-break), so the recall contract "top-k OF THE
    * CAPPED CANDIDATE SET" is itself certified; the recall delta and
    * the mega-bucket wall numbers are measured in PERF.md
    * (hyperplane-LSH wall at large N).
    */
  val q_knn_graph_capped = QueryDef(
    "q_knn_graph_capped", {
      s"""WITH ${lshOracleCtes(LshBands, LshBandBits)},
         |capped AS (
         |  ${SimilarityOps.capBandBucketsSqlCte(LshBucketCap)}),
         |cand AS (
         |  SELECT DISTINCT x.id AS query_id, y.id AS neighbor_id
         |  FROM buckets x JOIN capped y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.id <> y.id),
         |scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    list_dot_product(a.vd, b.vd) / (a.nrm * b.nrm) AS cos
         |  FROM cand c
         |  JOIN n a ON a.id = c.query_id JOIN n b ON b.id = c.neighbor_id
         |  WHERE a.nrm > 0 AND b.nrm > 0)
         |SELECT query_id AS node_id, rank, neighbor_id,
         |  ROUND(cos, 6) AS cos_sim
         |FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored) t WHERE rank <= 5
         |ORDER BY node_id, rank""".stripMargin
    }) { (spark, dir) => lshGraph(spark, dir, CappedLsh) }

  /** [[q_knn_graph_lsh]] at the WIDE 128-plane config (16 bands × 8
    * bits) — the certificate that the banding kernel is no longer
    * bounded by one 64-bit signature word:
    * same oracle family, but band buckets replayed DIRECTLY from the
    * 128-row hyperplane table ([[lshOracleCtesWide]]) instead of a
    * packed BIGINT, exactly as the engine's
    * [[graft.functions.HyperplaneBuckets]] computes them. 16-band
    * OR-amplification over 2⁸-bucket bands: more, finer bands than the
    * 6×6 grid — the direction the measured 1M/5M walls demand (bucket
    * count scaling with N needs total bits well past 64).
    */
  val q_knn_graph_wide = QueryDef(
    "q_knn_graph_wide", {
      s"""WITH ${lshOracleCtesWide(WideBands, WideBandBits)},
         |cand AS (
         |  SELECT DISTINCT x.id AS query_id, y.id AS neighbor_id
         |  FROM buckets x JOIN buckets y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.id <> y.id),
         |scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    list_dot_product(a.vd, b.vd) / (a.nrm * b.nrm) AS cos
         |  FROM cand c
         |  JOIN n a ON a.id = c.query_id JOIN n b ON b.id = c.neighbor_id
         |  WHERE a.nrm > 0 AND b.nrm > 0)
         |SELECT query_id AS node_id, rank, neighbor_id,
         |  ROUND(cos, 6) AS cos_sim
         |FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored) t WHERE rank <= 5
         |ORDER BY node_id, rank""".stripMargin
    }) { (spark, dir) => lshGraph(spark, dir, WideLsh) }

  /** [[q_knn_graph_capped]] served by the TWO-PHASE rerank kernel
    * ([[SimilarityOps.LshConfig]] `twoPhase`): vectors ride the bucket join
    * once per band — bands·|corpus| vector copies, independent of candidate
    * volume — instead of once per candidate (~1 KB × 150M candidates ≈ 150
    * GB projected spill at the 5M probe). The oracle is VERBATIM
    * q_knn_graph_capped's: result-invariance of the two-phase plan vs the
    * single-phase kernel is itself the certificate (plus the
    * DataFrame-level equality assertion in SimilarityOpsSpec).
    */
  val q_knn_graph_twophase = QueryDef(
    "q_knn_graph_twophase", q_knn_graph_capped.oracle) { (spark, dir) =>
    lshGraph(spark, dir, CappedLsh.copy(twoPhase = true))
  }

  /** Multi-probe LSH graph at HALF the band count
    * ([[SimilarityOps.lshKnn]] at probes = 2): 3 bands × 6 bits, each
    * query node probing its bucket AND the least-confident-bit flip
    * per band — index stays one bucket per band, so at 100 TB this is
    * ~q_knn_graph_lsh recall at half the stored index and half the
    * build scan. The oracle replays margins → bucket → flip →
    * candidates → rerank end-to-end from the literal hyperplane table,
    * so the probe-choice rule itself is certified cross-engine.
    */
  val q_knn_graph_multiprobe = QueryDef(
    "q_knn_graph_multiprobe", {
      val bands = 3; val bandBits = 6
      s"""WITH v AS (
         |  SELECT vec_id AS id, $vd AS vd FROM embeddings),
         |hp(i, hv) AS (VALUES
         |    ${hpValues(bands * bandBits)}),
         |sums AS (
         |  SELECT id, i // $bandBits AS band, i % $bandBits AS r,
         |    list_dot_product(vd, hv) AS s
         |  FROM v CROSS JOIN hp),
         |bmain AS (
         |  SELECT id, band, CAST(SUM(CASE WHEN s > 0
         |    THEN CAST(1 AS BIGINT) << r ELSE 0 END) AS BIGINT) AS bucket
         |  FROM sums GROUP BY id, band),
         |bflip AS (
         |  SELECT id, band, r FROM (
         |    SELECT id, band, r, ROW_NUMBER() OVER (
         |      PARTITION BY id, band ORDER BY ABS(s), r) AS rn
         |    FROM sums) t WHERE rn = 1),
         |qbuckets AS (
         |  SELECT id, band, bucket FROM bmain
         |  UNION ALL
         |  SELECT m.id, m.band, xor(m.bucket, CAST(1 AS BIGINT) << f.r)
         |  FROM bmain m JOIN bflip f ON f.id = m.id AND f.band = m.band),
         |n AS (SELECT id, vd, sqrt(list_dot_product(vd, vd)) AS nrm FROM v),
         |cand AS (
         |  SELECT DISTINCT x.id AS query_id, y.id AS neighbor_id
         |  FROM qbuckets x JOIN bmain y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.id <> y.id),
         |scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    list_dot_product(a.vd, b.vd) / (a.nrm * b.nrm) AS cos
         |  FROM cand c
         |  JOIN n a ON a.id = c.query_id JOIN n b ON b.id = c.neighbor_id
         |  WHERE a.nrm > 0 AND b.nrm > 0)
         |SELECT query_id AS node_id, rank, neighbor_id,
         |  ROUND(cos, 6) AS cos_sim
         |FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored) t WHERE rank <= 5
         |ORDER BY node_id, rank""".stripMargin
    }) { (spark, dir) =>
    lshGraph(spark, dir,
      LshConfig(3, 6, LshDim, probes = 2, twoPhase = true))
  }

  /** Multi-probe × wide × cap certification grid: 10 bands × 8 bits =
    * 80 planes (past one 64-bit word), 2 probes per band, occupancy
    * cap 16 — every axis of the full-strength 5M-frontier kernel
    * ([[SimilarityOps.lshKnn]]) binding in one config. */
  private val MpwBands = 10
  private val MpwBandBits = 8
  private val MpwProbes = 2
  private val MpwCap = 16
  /** The Mpw grid as a kernel config: two-phase, query-side probes,
    * capped corpus — shared by the batch graph, the staged build, the
    * split serve and the streaming serve. */
  private[graft] val MpwLsh = LshConfig(MpwBands, MpwBandBits, LshDim,
    probes = MpwProbes, bucketCap = MpwCap, twoPhase = true)

  /** Oracle CTE block for the N-PROBE wide banding family: per-plane
    * sums from the literal hyperplane table → per-band buckets (bmain)
    * → the probes−1 least-confident-bit flips (bflip, |margin|-ranked
    * exactly as [[graft.functions.MultiProbeBucketsN]] picks them) →
    * the query-side probe set (qbuckets = bmain ∪ flipped). Leaves
    * `v`, `bmain`, `qbuckets`, `n` in scope; the corpus side joins
    * bmain (one bucket per band — the stored index never grows with
    * probes, the whole point).
    */
  private def multiProbeOracleCtes(bands: Int, bandBits: Int,
      probes: Int): String =
    s"""v AS (
       |  SELECT vec_id AS id, $vd AS vd FROM embeddings),
       |hp(i, hv) AS (VALUES
       |    ${hpValues(bands * bandBits)}),
       |sums AS (
       |  SELECT id, i // $bandBits AS band, i % $bandBits AS r,
       |    list_dot_product(vd, hv) AS s
       |  FROM v CROSS JOIN hp),
       |bmain AS (
       |  SELECT id, band, CAST(SUM(CASE WHEN s > 0
       |    THEN CAST(1 AS BIGINT) << r ELSE 0 END) AS BIGINT) AS bucket
       |  FROM sums GROUP BY id, band),
       |bflip AS (
       |  SELECT id, band, r FROM (
       |    SELECT id, band, r, ROW_NUMBER() OVER (
       |      PARTITION BY id, band ORDER BY ABS(s), r) AS rn
       |    FROM sums) t WHERE rn <= ${probes - 1}),
       |qbuckets AS (
       |  SELECT id, band, bucket FROM bmain
       |  UNION ALL
       |  SELECT m.id, m.band, xor(m.bucket, CAST(1 AS BIGINT) << f.r)
       |  FROM bmain m JOIN bflip f ON f.id = m.id AND f.band = m.band),
       |n AS (SELECT id, vd, sqrt(list_dot_product(vd, vd)) AS nrm FROM v)""".stripMargin

  /** Shared oracle tail for the multi-probe wide capped graph family —
    * capped corpus buckets, probe-set candidate join, exact rerank —
    * parameterized on the query-side id filter so the full-graph and
    * the query/corpus-split serve compose on one block. */
  private def mpwOracleSql(queryFilter: String, corpusFilter: String,
      k: Int): String =
    s"""WITH ${multiProbeOracleCtes(MpwBands, MpwBandBits, MpwProbes)},
       |capped AS (
       |  ${SimilarityOps.capBandBucketsSqlCte(MpwCap,
            s"(SELECT id, band, bucket FROM bmain $corpusFilter) cb")}),
       |cand AS (
       |  SELECT DISTINCT x.id AS query_id, y.id AS neighbor_id
       |  FROM qbuckets x JOIN capped y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.id <> y.id
       |  $queryFilter),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    list_dot_product(a.vd, b.vd) / (a.nrm * b.nrm) AS cos
       |  FROM cand c
       |  JOIN n a ON a.id = c.query_id JOIN n b ON b.id = c.neighbor_id
       |  WHERE a.nrm > 0 AND b.nrm > 0)
       |SELECT query_id AS node_id, rank, neighbor_id,
       |  ROUND(cos, 6) AS cos_sim
       |FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored) t WHERE rank <= $k
       |ORDER BY node_id, rank""".stripMargin

  /** The FULL-STRENGTH graph kernel certified: multi-probe (T208) composed
    * INTO the wide capped two-phase path — 10×8 wide banding, 2 probes/band
    * on the query side only, occupancy cap 16 on the corpus side, 24 B
    * candidate payload. The oracle replays margins → buckets → flips → cap
    * survivors → candidates → rerank end-to-end from the 80-row literal
    * hyperplane table. This is the exact kernel the 5M ≥0.9-recall build
    * runs (PERF.md, 5M high-recall build); certifying it at cert SF pins
    * every rule the big build relies on.
    */
  val q_knn_graph_mpw = QueryDef(
    "q_knn_graph_mpw", mpwOracleSql("", "", k = 5)) { (spark, dir) =>
    lshGraph(spark, dir, MpwLsh)
  }

  /** [[q_knn_graph_mpw]] built STAGED — bands processed 5 at a time
    * ([[SimilarityOps.lshKnnStaged]]), each band-group's
    * partial top-k checkpointed to parquet and merged by max(cos) +
    * re-rank. The oracle is VERBATIM q_knn_graph_mpw's: staged ≡
    * unstaged is the certificate (exactness argument in the op's
    * Scaladoc — a group's candidates are a subset, so global top-k
    * edges survive their own group's top-k; cos values are bit-equal
    * across groups). This is the peak-disk dial that fits the 5M
    * build's in-flight shuffle under executor-local disk.
    */
  val q_knn_graph_staged = QueryDef(
    "q_knn_graph_staged", q_knn_graph_mpw.oracle) { (spark, dir) =>
    val work = graft.streaming.StreamingOps.tempSinkDir("graft_staged_knn_")
    SimilarityOps.roundCos(SimilarityOps.lshKnnStaged(
        Tables.embeddings(spark, dir), "vec_id", "embedding", 5, MpwLsh,
        groupBands = 5, workDir = work))
      .withColumnRenamed("query_id", "node_id")
      .orderBy(col("node_id"), col("rank"))
  }

  /** Query/corpus-split SERVE through the same full-strength kernel —
    * the batch shape [[graft.queries.StreamQueries.q_stream_ann_wide]]
    * runs per micro-batch: the first 50
    * vectors are the query batch, the rest the indexed corpus; corpus
    * buckets are capped once (the stored index), each query probes 2
    * buckets per band. Per-query results depend only on the corpus —
    * the batch-cut-invariance contract the streaming variant reuses
    * this oracle under.
    */
  val q_ann_mpw = QueryDef(
    "q_ann_mpw",
    mpwOracleSql("WHERE x.id < 50", "WHERE id >= 50", k = 10)
      .replace("query_id AS node_id", "query_id")
      .replace("ORDER BY node_id, rank", "ORDER BY query_id, rank")) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    SimilarityOps.roundCos(SimilarityOps.lshKnn(
        emb.filter(col("vec_id") < 50), emb.filter(col("vec_id") >= 50),
        "vec_id", "embedding", 10, MpwLsh))
      .orderBy(col("query_id"), col("rank"))
  }

  /** One NN-DESCENT refinement round over the certified capped graph
    * ([[SimilarityOps.knnGraphRefine]]):
    * candidates = the graph's edges ∪ neighbors-of-neighbors, exact
    * cosine reranks, top-5 kept. The oracle UNROLLS the round — the
    * full capped-graph chain, the 2-hop expansion, the set-union, the
    * rerank — so "refinement only ever improves the graph toward
    * exact" is certified, not asserted. The measured recall delta at
    * probe scale lands in PERF.md.
    */
  val q_knn_graph_refine = QueryDef(
    "q_knn_graph_refine", {
      s"""WITH ${lshOracleCtes(LshBands, LshBandBits)},
         |capped AS (
         |  ${SimilarityOps.capBandBucketsSqlCte(LshBucketCap)}),
         |cand AS (
         |  SELECT DISTINCT x.id AS query_id, y.id AS neighbor_id
         |  FROM buckets x JOIN capped y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.id <> y.id),
         |scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    list_dot_product(a.vd, b.vd) / (a.nrm * b.nrm) AS cos
         |  FROM cand c
         |  JOIN n a ON a.id = c.query_id JOIN n b ON b.id = c.neighbor_id
         |  WHERE a.nrm > 0 AND b.nrm > 0),
         |base AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rank
         |    FROM scored) t WHERE rank <= 5),
         |hops AS (
         |  SELECT e1.query_id, e2.neighbor_id
         |  FROM base e1 JOIN base e2
         |    ON e1.neighbor_id = e2.query_id
         |      AND e1.query_id <> e2.neighbor_id),
         |cand2 AS (
         |  SELECT query_id, neighbor_id FROM base
         |  UNION
         |  SELECT query_id, neighbor_id FROM hops),
         |rescored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    list_dot_product(a.vd, b.vd) / (a.nrm * b.nrm) AS cos
         |  FROM cand2 c
         |  JOIN n a ON a.id = c.query_id JOIN n b ON b.id = c.neighbor_id
         |  WHERE a.nrm > 0 AND b.nrm > 0)
         |SELECT query_id AS node_id, rank, neighbor_id,
         |  ROUND(cos, 6) AS cos_sim
         |FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM rescored) t WHERE rank <= 5
         |ORDER BY node_id, rank""".stripMargin
    }) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val base = SimilarityOps.lshKnn(emb, emb, "vec_id", "embedding", 5, CappedLsh)
    SimilarityOps.roundCos(
        SimilarityOps.knnGraphRefine(emb, "vec_id", "embedding", 5, base))
      .withColumnRenamed("query_id", "node_id")
      .orderBy(col("node_id"), col("rank"))
  }

  /** Unrolled deterministic Lloyd's rounds for the IVF centroid table
    * (mirror of [[SimilarityOps.learnedCentroids]]): assignment by
    * cosine (ROW_NUMBER, ties to lowest cell), update = element-wise
    * mean under the repo's float-determinism policy (per-term integer
    * micro-units before the order-free SUM, floor-quantized mean),
    * empty cells keep their previous centroid via LEFT JOIN COALESCE.
    * Expects CTEs `$src` (corpus: vec_id, vd) in scope; emits
    * `${tag}c0..${tag}c$iters` (and per-round helpers `${tag}a/u/m$i`)
    * — the tag keeps several instantiations composable in one WITH
    * (one per PQ sub-space).
    */
  /** Assignment-rank ORDER BY fragment shared by the Lloyd's and
    * encode CTEs — cosine DESC or the L2 dot-product identity ASC,
    * written in EXACTLY the engine kernel's association
    * (`(|v|² − 2·v·c) + |c|²`, [[graft.functions.NearestCentroids]])
    * so both engines rank bit-identical doubles. */
  private[queries] def assignRank(v: String, c: String, metric: String): String =
    metric match {
      case "cosine" =>
        s"""list_dot_product($v, $c)
           |          / (sqrt(list_dot_product($v, $v))
           |             * sqrt(list_dot_product($c, $c))) DESC""".stripMargin
      case "l2" =>
        s"""(list_dot_product($v, $v) - 2 * list_dot_product($v, $c))
           |          + list_dot_product($c, $c) ASC""".stripMargin
      case m => throw new IllegalArgumentException(s"unknown metric: $m")
    }

  private def lloydCentroidCtes(
      nCentroids: Int, iters: Int, src: String = "c", tag: String = "",
      metric: String = "cosine"): String = {
    val rounds = (1 to iters).map { i =>
      s"""${tag}a$i AS (
         |  SELECT vd, j AS cell FROM (
         |    SELECT c.vec_id, c.vd, p.j,
         |      ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
         |        ${assignRank("c.vd", "p.cv", metric)},
         |        p.j) AS r
         |    FROM $src c CROSS JOIN ${tag}c${i - 1} p) t WHERE r = 1),
         |${tag}u$i AS (
         |  SELECT cell, i AS idx,
         |    CAST(SUM(CAST(FLOOR(vd[CAST(i AS INT)] * 1000000 + 0.5) AS BIGINT))
         |      AS DOUBLE) AS s,
         |    COUNT(*) AS n
         |  FROM ${tag}a$i CROSS JOIN UNNEST(range(1, len(vd) + 1)) t(i)
         |  GROUP BY 1, 2),
         |${tag}m$i AS (
         |  SELECT cell, list(FLOOR(s / n + 0.5) / 1000000.0 ORDER BY idx) AS mv
         |  FROM ${tag}u$i GROUP BY 1),
         |${tag}c$i AS (
         |  SELECT p.j, COALESCE(m.mv, p.cv) AS cv
         |  FROM ${tag}c${i - 1} p LEFT JOIN ${tag}m$i m ON m.cell = p.j)""".stripMargin
    }.mkString(",\n")
    s"""${tag}c0 AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS j,
       |    list_transform(vd, x -> FLOOR(x * 1000000 + 0.5) / 1000000.0) AS cv
       |  FROM (SELECT vec_id, vd FROM $src ORDER BY vec_id LIMIT $nCentroids) s),
       |$rounds""".stripMargin
  }

  private val IvfLearnIters = 2

  /** IVF approximate top-k — the 100 TB ANN path (probe a few Voronoi
    * cells instead of the whole corpus). Centroids are LEARNED with the
    * deterministic d-dim Lloyd's refinement (seeds = lowest-id vectors,
    * micro-quantized mean updates), so the WHOLE approximate pipeline —
    * learning, assignment, ranking — stays SQL-expressible and the ANN
    * query is oracle-checked, not rows-only; the recall uplift vs the
    * first-k-by-id seeds is asserted in DedupOpsSpec. */
  val q_ann_ivf = QueryDef(
    "q_ann_ivf",
    s"""WITH v AS (SELECT vec_id, $vd AS vd FROM embeddings),
       |q AS (SELECT * FROM v WHERE vec_id < 10),
       |c AS (SELECT * FROM v WHERE vec_id >= 10),
       |${lloydCentroidCtes(nCentroids = 16, iters = IvfLearnIters)},
       |cents AS (
       |  SELECT j AS cent_id, cv,
       |    sqrt(list_dot_product(cv, cv)) AS cnorm
       |  FROM c$IvfLearnIters),
       |ca AS (
       |  SELECT vec_id AS neighbor_id, vd AS cv2,
       |    sqrt(list_dot_product(vd, vd)) AS cn, cell FROM (
       |    SELECT c.vec_id, c.vd, cents.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
       |        list_dot_product(c.vd, cents.cv)
       |          / (sqrt(list_dot_product(c.vd, c.vd)) * cents.cnorm) DESC,
       |        cents.cent_id) AS r
       |    FROM c CROSS JOIN cents) t WHERE r = 1),
       |qa AS (
       |  SELECT vec_id AS query_id, vd AS qv,
       |    sqrt(list_dot_product(vd, vd)) AS qn, cell FROM (
       |    SELECT q.vec_id, q.vd, cents.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_dot_product(q.vd, cents.cv)
       |          / (sqrt(list_dot_product(q.vd, q.vd)) * cents.cnorm) DESC,
       |        cents.cent_id) AS r
       |    FROM q CROSS JOIN cents) t WHERE r <= 4),
       |scored AS (
       |  SELECT qa.query_id, ca.neighbor_id,
       |    list_dot_product(qa.qv, ca.cv2) / (qa.qn * ca.cn) AS cos
       |  FROM qa JOIN ca USING (cell)
       |  WHERE qa.query_id <> ca.neighbor_id)
       |SELECT query_id, rank, neighbor_id, ROUND(cos, 6) AS cos_sim FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored) t WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    SimilarityOps.ivfTopK(
      emb.filter(col("vec_id") < 10),
      emb.filter(col("vec_id") >= 10),
      "vec_id", "embedding", k = 5, nCentroids = 16, nProbe = 4,
      learnIters = IvfLearnIters)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  // M=8/K=16 probed as the recall/cost knee on this corpus (measured:
  // 4/8 → 0.06, 8/16 → 0.28, 16/32 → 0.48 recall@5 at rising cost) —
  // near-isotropic synthetic vectors are PQ's worst case, so the
  // probe, not a textbook default, picked the config
  private val PqM = 8 // sub-spaces
  private val PqK = 16 // centroids per sub-space codebook
  private val PqIters = 1
  private val PqDim = 64

  /** Product-quantization ANN (ADC, spherical) — the MEMORY-bound
    * scale path next to IVF's compute-bound one: corpus stored as
    * [[PqM]] one-byte codes (64× compression), queries exact, ranking
    * against the reconstructed corpus. Codebooks, encoding,
    * reconstruction and ranking all replay CTE-by-CTE in the oracle
    * (per-sub-space deterministic Lloyd's via the tagged
    * [[lloydCentroidCtes]]); recall vs brute force is asserted in
    * DedupOpsSpec.
    */
  val q_ann_pq = QueryDef(
    "q_ann_pq", {
      val subDim = PqDim / PqM
      val subs = (0 until PqM).map { s =>
        s"""sub$s AS (
           |  SELECT vec_id, vd[${s * subDim + 1}:${(s + 1) * subDim}] AS vd
           |  FROM c)""".stripMargin
      }.mkString(",\n")
      val lloyds = (0 until PqM)
        .map(s => lloydCentroidCtes(PqK, PqIters, src = s"sub$s", tag = s"s$s"))
        .mkString(",\n")
      val encs = (0 until PqM).map { s =>
        s"""cb$s AS (
           |  SELECT j, cv, sqrt(list_dot_product(cv, cv)) AS cn
           |  FROM s${s}c$PqIters),
           |enc$s AS (
           |  SELECT vec_id, j AS code FROM (
           |    SELECT v.vec_id, b.j,
           |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
           |        list_dot_product(v.vd, b.cv)
           |          / (sqrt(list_dot_product(v.vd, v.vd)) * b.cn) DESC,
           |        b.j) AS r
           |    FROM sub$s v CROSS JOIN cb$s b) t WHERE r = 1)""".stripMargin
      }.mkString(",\n")
      val reconJoin = (0 until PqM).map(s =>
        s"JOIN enc$s e$s ON e$s.vec_id = c.vec_id " +
          s"JOIN s${s}c$PqIters r$s ON r$s.j = e$s.code").mkString("\n  ")
      val reconList = (1 until PqM).foldLeft("r0.cv")((acc, s) =>
        s"list_concat($acc, r$s.cv)")
      s"""WITH v AS (SELECT vec_id, $vd AS vd FROM embeddings),
         |q AS (SELECT * FROM v WHERE vec_id < 10),
         |c AS (SELECT * FROM v WHERE vec_id >= 10),
         |$subs,
         |$lloyds,
         |$encs,
         |recon AS (
         |  SELECT c.vec_id, $reconList AS rv
         |  FROM c
         |  $reconJoin),
         |nq AS (SELECT vec_id, vd, sqrt(list_dot_product(vd, vd)) AS nrm FROM q),
         |nc AS (SELECT vec_id, rv, sqrt(list_dot_product(rv, rv)) AS nrm
         |       FROM recon),
         |scored AS (
         |  SELECT nq.vec_id AS query_id, nc.vec_id AS neighbor_id,
         |    list_dot_product(nq.vd, nc.rv) / (nq.nrm * nc.nrm) AS cos
         |  FROM nq JOIN nc ON nq.vec_id <> nc.vec_id)
         |SELECT query_id, rank, neighbor_id, ROUND(cos, 6) AS cos_sim FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored) t WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    }) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    SimilarityOps.pqTopK(
      emb.filter(col("vec_id") < 10),
      emb.filter(col("vec_id") >= 10),
      "vec_id", "embedding", k = 5,
      subspaces = PqM, codebookSize = PqK, learnIters = PqIters, dim = PqDim)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** [[q_ann_pq]] with L2-ASSIGNMENT codebooks (the follow-up to the
    * measured OPQ rotation negative):
    * sub-space Lloyd's assignment and corpus encoding rank centroids
    * by squared Euclidean distance instead of cosine, via the
    * dot-product identity `(|v|² − 2·v·c) + |c|²` so the oracle
    * replays the ranking with the SAME `list_dot_product` primitive
    * the cosine chain certifies with. L2 cells partition by position
    * AND magnitude (cosine cells are rays through the origin — they
    * collapse the radial coordinate, which is exactly the structure a
    * variance-skewing rotation creates), so this is the mode textbook
    * PQ/OPQ (Jégou et al., Ge et al.) assumes. The serve metric is
    * UNCHANGED (cosine against the reconstruction — the engine's
    * output contract); only the quantizer's cell geometry switches.
    * Measured against the cosine chain ({unrotated, rotated} ×
    * {cosine, L2} grid; the cosine half is PERF.md's OPQ rotation
    * table).
    */
  val q_ann_pq_l2 = QueryDef(
    "q_ann_pq_l2", {
      val subDim = PqDim / PqM
      val subs = (0 until PqM).map { s =>
        s"""sub$s AS (
           |  SELECT vec_id, vd[${s * subDim + 1}:${(s + 1) * subDim}] AS vd
           |  FROM c)""".stripMargin
      }.mkString(",\n")
      val lloyds = (0 until PqM)
        .map(s => lloydCentroidCtes(PqK, PqIters, src = s"sub$s", tag = s"s$s",
          metric = "l2"))
        .mkString(",\n")
      val encs = (0 until PqM).map { s =>
        s"""enc$s AS (
           |  SELECT vec_id, j AS code FROM (
           |    SELECT v.vec_id, b.j,
           |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
           |        ${assignRank("v.vd", "b.cv", "l2")},
           |        b.j) AS r
           |    FROM sub$s v CROSS JOIN s${s}c$PqIters b) t WHERE r = 1)""".stripMargin
      }.mkString(",\n")
      val reconJoin = (0 until PqM).map(s =>
        s"JOIN enc$s e$s ON e$s.vec_id = c.vec_id " +
          s"JOIN s${s}c$PqIters r$s ON r$s.j = e$s.code").mkString("\n  ")
      val reconList = (1 until PqM).foldLeft("r0.cv")((acc, s) =>
        s"list_concat($acc, r$s.cv)")
      s"""WITH v AS (SELECT vec_id, $vd AS vd FROM embeddings),
         |q AS (SELECT * FROM v WHERE vec_id < 10),
         |c AS (SELECT * FROM v WHERE vec_id >= 10),
         |$subs,
         |$lloyds,
         |$encs,
         |recon AS (
         |  SELECT c.vec_id, $reconList AS rv
         |  FROM c
         |  $reconJoin),
         |nq AS (SELECT vec_id, vd, sqrt(list_dot_product(vd, vd)) AS nrm FROM q),
         |nc AS (SELECT vec_id, rv, sqrt(list_dot_product(rv, rv)) AS nrm
         |       FROM recon),
         |scored AS (
         |  SELECT nq.vec_id AS query_id, nc.vec_id AS neighbor_id,
         |    list_dot_product(nq.vd, nc.rv) / (nq.nrm * nc.nrm) AS cos
         |  FROM nq JOIN nc ON nq.vec_id <> nc.vec_id)
         |SELECT query_id, rank, neighbor_id, ROUND(cos, 6) AS cos_sim FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored) t WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    }) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    SimilarityOps.pqTopK(
      emb.filter(col("vec_id") < 10),
      emb.filter(col("vec_id") >= 10),
      "vec_id", "embedding", k = 5,
      subspaces = PqM, codebookSize = PqK, learnIters = PqIters, dim = PqDim,
      metric = "l2")
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF × PQ composition ([[SimilarityOps.ivfPqTopK]], the FAISS
    * IVFADC shape): learned IVF centroids
    * prune the search to `nProbe = 4` of 16 cells while PQ codebooks
    * (M=8, K=16) compress the corpus to one-byte codes; ranking is
    * asymmetric (exact query × reconstructed corpus). The oracle is
    * the LITERAL composition of q_ann_ivf's cell CTEs and q_ann_pq's
    * codebook/encode/reconstruct CTEs — both already certified alone —
    * with the scored join filtered to probed cells, so the composed
    * pipeline (two learned quantizers + cell-pruned ADC serve)
    * replays end-to-end in DuckDB. Recall vs both parents measured in
    * DedupOpsSpec.
    */
  val q_ann_ivfpq = QueryDef(
    "q_ann_ivfpq", {
      val subDim = PqDim / PqM
      val subs = (0 until PqM).map { s =>
        s"""sub$s AS (
           |  SELECT vec_id, vd[${s * subDim + 1}:${(s + 1) * subDim}] AS vd
           |  FROM c)""".stripMargin
      }.mkString(",\n")
      val lloyds = (0 until PqM)
        .map(s => lloydCentroidCtes(PqK, PqIters, src = s"sub$s", tag = s"s$s"))
        .mkString(",\n")
      val encs = (0 until PqM).map { s =>
        s"""cb$s AS (
           |  SELECT j, cv, sqrt(list_dot_product(cv, cv)) AS cn
           |  FROM s${s}c$PqIters),
           |enc$s AS (
           |  SELECT vec_id, j AS code FROM (
           |    SELECT v.vec_id, b.j,
           |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
           |        list_dot_product(v.vd, b.cv)
           |          / (sqrt(list_dot_product(v.vd, v.vd)) * b.cn) DESC,
           |        b.j) AS r
           |    FROM sub$s v CROSS JOIN cb$s b) t WHERE r = 1)""".stripMargin
      }.mkString(",\n")
      val reconJoin = (0 until PqM).map(s =>
        s"JOIN enc$s e$s ON e$s.vec_id = c.vec_id " +
          s"JOIN s${s}c$PqIters r$s ON r$s.j = e$s.code").mkString("\n  ")
      val reconList = (1 until PqM).foldLeft("r0.cv")((acc, s) =>
        s"list_concat($acc, r$s.cv)")
      s"""WITH v AS (SELECT vec_id, $vd AS vd FROM embeddings),
         |q AS (SELECT * FROM v WHERE vec_id < 10),
         |c AS (SELECT * FROM v WHERE vec_id >= 10),
         |${lloydCentroidCtes(nCentroids = 16, iters = IvfLearnIters)},
         |cents AS (
         |  SELECT j AS cent_id, cv,
         |    sqrt(list_dot_product(cv, cv)) AS cnorm
         |  FROM c$IvfLearnIters),
         |ca AS (
         |  SELECT vec_id AS neighbor_id, cell FROM (
         |    SELECT c.vec_id, cents.cent_id AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
         |        list_dot_product(c.vd, cents.cv)
         |          / (sqrt(list_dot_product(c.vd, c.vd)) * cents.cnorm) DESC,
         |        cents.cent_id) AS r
         |    FROM c CROSS JOIN cents) t WHERE r = 1),
         |qa AS (
         |  SELECT vec_id AS query_id, vd AS qv,
         |    sqrt(list_dot_product(vd, vd)) AS qn, cell FROM (
         |    SELECT q.vec_id, q.vd, cents.cent_id AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        list_dot_product(q.vd, cents.cv)
         |          / (sqrt(list_dot_product(q.vd, q.vd)) * cents.cnorm) DESC,
         |        cents.cent_id) AS r
         |    FROM q CROSS JOIN cents) t WHERE r <= 4),
         |$subs,
         |$lloyds,
         |$encs,
         |recon AS (
         |  SELECT c.vec_id, $reconList AS rv
         |  FROM c
         |  $reconJoin),
         |nc AS (SELECT vec_id, rv, sqrt(list_dot_product(rv, rv)) AS nrm
         |       FROM recon),
         |scored AS (
         |  SELECT qa.query_id, ca.neighbor_id,
         |    list_dot_product(qa.qv, nc.rv) / (qa.qn * nc.nrm) AS cos
         |  FROM qa JOIN ca USING (cell) JOIN nc ON nc.vec_id = ca.neighbor_id
         |  WHERE qa.query_id <> ca.neighbor_id AND qa.qn > 0 AND nc.nrm > 0)
         |SELECT query_id, rank, neighbor_id, ROUND(cos, 6) AS cos_sim FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored) t WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    }) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    SimilarityOps.ivfPqTopK(
      emb.filter(col("vec_id") < 10),
      emb.filter(col("vec_id") >= 10),
      "vec_id", "embedding", k = 5,
      nCentroids = 16, nProbe = 4, ivfIters = IvfLearnIters,
      subspaces = PqM, codebookSize = PqK, pqIters = PqIters, dim = PqDim)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** OPQ-style ROTATED product quantization:
    * vectors first rotate into the certified deflated-PCA basis
    * (T179's [[graft.ops.PcaOps.topComponents]], m=8 energy-compacted
    * coordinates — the rotation is UNCENTERED, so raw-space cosine is
    * preserved up to the truncation; the basis is still fitted on
    * centered data, which is what decorrelation wants) and PQ
    * codebooks are learned on the DECORRELATED projections (M=4
    * sub-spaces × 2 dims, K=8) — the standard fix for PQ's
    * independence assumption: classical PQ splits raw coordinates
    * whose sub-spaces share variance, so codebook cells waste entropy
    * encoding correlations. Two-stage serve (the q_ann_jl discipline):
    * the rotated-ADC score ranks a per-query top-50 SHORTLIST, exact
    * original-space cosine reranks it to top-5 — the output metric is
    * the raw cosine, the recall contract "exact top-k OF THE CERTIFIED
    * SHORTLIST". Oracle: the deflated-trajectory rotation CTEs
    * ([[graft.ops.PcaOps.rotateOracleSql]] as a subquery) feed the
    * certified per-sub-space Lloyd's + ADC chain (the q_ann_pq
    * blocks), then the shortlist and the raw-space rerank — the full
    * rotate→learn→encode→shortlist→rerank pipeline replays end-to-end
    * in DuckDB. HONEST STATUS (PERF.md, OPQ rotation table): measured at equal
    * bytes, the rotation does NOT lift recall under the engine's
    * spherical (cosine) codebook assignment — textbook OPQ pairs
    * rotation with L2 k-means, and on variance-skewed rotated slices
    * cosine cells degenerate (0.174 unrotated vs 0.026-0.032 across
    * centering/allocation variants). The two-stage exact rerank is
    * what keeps the operator's output metric sound regardless; an
    * L2-assignment codebook mode is the named follow-up.
    */
  private val OpqPcaM = 8
  private val OpqPcaIters = 2
  private val OpqM = 4 // PQ sub-spaces over the 8 rotated coords
  private val OpqK = 8
  private val OpqIters = 1
  /** Balanced eigenvalue allocation: variance-sorted components
    * round-robined across the M sub-spaces — sub-space s codes
    * components (s, s+M, …), so each carries comparable energy (a
    * contiguous split would hand sub-space 0 nearly all of it and ADC
    * collapses — PERF.md's OPQ rotation table). 1-based pc column indices,
    * grouped by sub-space: [pc1, pc5, pc2, pc6, pc3, pc7, pc4, pc8]. */
  private val OpqPerm: Seq[Int] =
    (0 until OpqM).flatMap(s => (0 until OpqPcaM / OpqM).map(r => s + r * OpqM + 1))

  val q_ann_opq = QueryDef(
    "q_ann_opq", {
      val subDim = OpqPcaM / OpqM
      val pcs = OpqPerm.map(i => s"pc$i").mkString("[", ", ", "]")
      val subs = (0 until OpqM).map { s =>
        s"""sub$s AS (
           |  SELECT vec_id, vd[${s * subDim + 1}:${(s + 1) * subDim}] AS vd
           |  FROM c)""".stripMargin
      }.mkString(",\n")
      val lloyds = (0 until OpqM)
        .map(s => lloydCentroidCtes(OpqK, OpqIters, src = s"sub$s", tag = s"o$s"))
        .mkString(",\n")
      val encs = (0 until OpqM).map { s =>
        s"""cb$s AS (
           |  SELECT j, cv, sqrt(list_dot_product(cv, cv)) AS cn
           |  FROM o${s}c$OpqIters),
           |enc$s AS (
           |  SELECT vec_id, j AS code FROM (
           |    SELECT v.vec_id, b.j,
           |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
           |        list_dot_product(v.vd, b.cv)
           |          / (sqrt(list_dot_product(v.vd, v.vd)) * b.cn) DESC,
           |        b.j) AS r
           |    FROM sub$s v CROSS JOIN cb$s b) t WHERE r = 1)""".stripMargin
      }.mkString(",\n")
      val reconJoin = (0 until OpqM).map(s =>
        s"JOIN enc$s e$s ON e$s.vec_id = c.vec_id " +
          s"JOIN o${s}c$OpqIters r$s ON r$s.j = e$s.code").mkString("\n  ")
      val reconList = (1 until OpqM).foldLeft("r0.cv")((acc, s) =>
        s"list_concat($acc, r$s.cv)")
      s"""WITH projv AS (
         |  SELECT vec_id, $pcs AS vd
         |  FROM (${graft.ops.PcaOps.rotateOracleSql(64, OpqPcaIters, OpqPcaM)}) tp),
         |q AS (SELECT * FROM projv WHERE vec_id < 10),
         |c AS (SELECT * FROM projv WHERE vec_id >= 10),
         |$subs,
         |$lloyds,
         |$encs,
         |recon AS (
         |  SELECT c.vec_id, $reconList AS rv
         |  FROM c
         |  $reconJoin),
         |nq AS (SELECT vec_id, vd, sqrt(list_dot_product(vd, vd)) AS nrm FROM q),
         |nc AS (SELECT vec_id, rv, sqrt(list_dot_product(rv, rv)) AS nrm
         |       FROM recon),
         |short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT nq.vec_id AS query_id, nc.vec_id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY nq.vec_id ORDER BY
         |        list_dot_product(nq.vd, nc.rv) / (nq.nrm * nc.nrm) DESC,
         |        nc.vec_id) AS srank
         |    FROM nq JOIN nc ON nq.vec_id <> nc.vec_id) t WHERE srank <= 50),
         |raw AS (
         |  SELECT vec_id, vd, sqrt(list_dot_product(vd, vd)) AS nrm
         |  FROM (SELECT vec_id, $vd AS vd FROM embeddings)),
         |scored AS (
         |  SELECT s.query_id, s.neighbor_id,
         |    list_dot_product(a.vd, b.vd) / (a.nrm * b.nrm) AS cos
         |  FROM short s JOIN raw a ON a.vec_id = s.query_id
         |  JOIN raw b ON b.vec_id = s.neighbor_id)
         |SELECT query_id, rank, neighbor_id, ROUND(cos, 6) AS cos_sim FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored) t WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    }) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val (_, comps) = fittedBasis(spark, dir, 64, OpqPcaIters, OpqPcaM)
    // UNCENTERED rotation (zero mean): pure orthonormal projection, so
    // the stage-1 ADC score approximates the raw cosine it shortlists
    // for — a centered projection ranks a different metric when the
    // corpus mean is non-zero. Components are round-robined across the
    // M sub-spaces (balanced eigenvalue allocation): PCA orders them
    // by variance, and a contiguous split would give sub-space 0 all
    // the energy (the OPQ-paper caveat, measured in PERF.md).
    val proj = graft.ops.PcaOps.transformWith(
      emb, "vec_id", "embedding", 64, Array.fill(64)(0.0), comps)
      .select(col("vec_id"),
        array(OpqPerm.map(i => col(s"pc$i")): _*).as("proj"))
    val short = SimilarityOps.pqTopK(
      proj.filter(col("vec_id") < 10), proj.filter(col("vec_id") >= 10),
      "vec_id", "proj", k = 50,
      subspaces = OpqM, codebookSize = OpqK, learnIters = OpqIters,
      dim = OpqPcaM)
      .select(col("query_id"), col("neighbor_id"))
    SimilarityOps.roundCos(SimilarityOps.topK(SimilarityOps.scorePairs(
      short, emb, emb, "vec_id", "embedding"), 5))
      .orderBy(col("query_id"), col("rank"))
  }

  private val JlDim = 16

  /** Johnson–Lindenstrauss distortion readout
    * ([[graft.functions.RandomProject]]): for every consecutive-id
    * vector pair, the ratio of projected to original squared distance,
    * normalized by `outDim` (±1-entry projections satisfy
    * E[‖P(x−y)‖²] = outDim·‖x−y‖²) and floor-quantized to 1e-4. This
    * is the measured JL guarantee behind the q_ann_jl shortlist — the
    * distortion concentration (≈1 ± √(2/outDim)) is what makes a
    * 16-dim stage-1 scan trustworthy — and the oracle replays the
    * projection from the literal ±1 matrix, so the kernel itself is
    * certified value-exact. Distances via the algebraic identity
    * aa − 2ab + bb in BOTH engines (bit-identical fold order).
    */
  val q_jl_distortion = QueryDef(
    "q_jl_distortion",
    s"""WITH v AS (SELECT vec_id, $vd AS vd FROM embeddings),
       |hp(i, hv) AS (VALUES
       |    ${hpValues(JlDim)}),
       |pr AS (
       |  SELECT id, list(list_dot_product(vd, hv) ORDER BY i) AS pv FROM (
       |    SELECT vec_id AS id, vd FROM v) s CROSS JOIN hp GROUP BY id),
       |j AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    list_dot_product(a.vd, a.vd) - 2 * list_dot_product(a.vd, b.vd)
       |      + list_dot_product(b.vd, b.vd) AS d2,
       |    list_dot_product(pa.pv, pa.pv) - 2 * list_dot_product(pa.pv, pb.pv)
       |      + list_dot_product(pb.pv, pb.pv) AS d2p
       |  FROM v a JOIN v b ON b.vec_id = a.vec_id + 1
       |  JOIN pr pa ON pa.id = a.vec_id JOIN pr pb ON pb.id = b.vec_id)
       |SELECT vec_a, vec_b,
       |  FLOOR(d2p / (CAST($JlDim AS DOUBLE) * d2) * 10000 + 0.5) / 10000.0
       |    AS ratio_q
       |FROM j WHERE d2 > 0
       |ORDER BY vec_a""".stripMargin) { (spark, dir) =>
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vd"))
      .withColumn("pv", randomProject(col("vd"), JlDim, LshDim))
    val a = v.select(col("vec_id").as("vec_a"), col("vd").as("va"),
      col("pv").as("pa"))
    val b = v.select(col("vec_id").as("vec_b"), col("vd").as("vb"),
      col("pv").as("pb"))
    a.join(b, col("vec_b") === col("vec_a") + 1)
      .withColumn("d2",
        dot(col("va"), col("va")) - lit(2.0) * dot(col("va"), col("vb"))
          + dot(col("vb"), col("vb")))
      .withColumn("d2p",
        dot(col("pa"), col("pa")) - lit(2.0) * dot(col("pa"), col("pb"))
          + dot(col("pb"), col("pb")))
      .filter(col("d2") > 0)
      .select(col("vec_a"), col("vec_b"),
        (floor(col("d2p") / (lit(JlDim.toDouble) * col("d2")) * 10000 + 0.5)
          / 10000.0).as("ratio_q"))
      .orderBy(col("vec_a"))
  }

  /** Two-stage ANN through the JL shortlist
    * ([[SimilarityOps.jlShortlistTopK]]): stage 1 ranks the full sweep
    * in 16-dim projected space (4× fewer FMAs and a 4× smaller stored
    * stage-1 index at dim 64), stage 2 reranks the per-query top-50
    * shortlist exactly. Projection → shortlist → rerank replay
    * end-to-end in the oracle from the literal ±1 matrix, so the
    * recall contract is "exact top-k OF THE CERTIFIED SHORTLIST";
    * shortlist recall vs brute is measured in DedupOpsSpec.
    */
  val q_ann_jl = QueryDef(
    "q_ann_jl",
    s"""WITH v AS (SELECT vec_id AS id, $vd AS vd FROM embeddings),
       |hp(i, hv) AS (VALUES
       |    ${hpValues(JlDim)}),
       |pr AS (
       |  SELECT id, list(list_dot_product(vd, hv) ORDER BY i) AS pv
       |  FROM v CROSS JOIN hp GROUP BY id),
       |n AS (
       |  SELECT v.id, v.vd, sqrt(list_dot_product(v.vd, v.vd)) AS vn,
       |    pr.pv, sqrt(list_dot_product(pr.pv, pr.pv)) AS pn
       |  FROM v JOIN pr ON pr.id = v.id),
       |q AS (SELECT * FROM n WHERE id < 10 AND vn > 0 AND pn > 0),
       |c AS (SELECT * FROM n WHERE id >= 10 AND vn > 0 AND pn > 0),
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.id AS query_id, c.id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.id ORDER BY
       |        list_dot_product(q.pv, c.pv) / (q.pn * c.pn) DESC, c.id) AS srank
       |    FROM q JOIN c ON q.id <> c.id) t WHERE srank <= 50),
       |scored AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    list_dot_product(a.vd, b.vd) / (a.vn * b.vn) AS cos
       |  FROM short s JOIN q a ON a.id = s.query_id
       |  JOIN c b ON b.id = s.neighbor_id)
       |SELECT query_id, rank, neighbor_id, ROUND(cos, 6) AS cos_sim FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored) t WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    SimilarityOps.jlShortlistTopK(
      emb.filter(col("vec_id") < 10),
      emb.filter(col("vec_id") >= 10),
      "vec_id", "embedding", k = 5, shortlist = 50,
      outDim = JlDim, dim = LshDim)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Symmetric per-dimension INT8 embedding quantization with corpus
    * calibration — the 4× vector-store compression step every serving
    * stack applies before ANN (PQ's scalar sibling; reference analogue:
    * the embedding consumer's vector-store write,
    * `embedding_consumer.py:244-268`). Two passes: (1) calibrate
    * per-dim scale = maxabs/127 (one 64-row aggregate, collected
    * bounded like the KMeans centroids and broadcast as a LITERAL
    * array, so the corpus pass that follows never shuffles);
    * (2) quantize + measure reconstruction error in pure codegen
    * column algebra (`zip_with`/`aggregate`). All outputs integer:
    * q-sums exactly certify the quantized vectors, and the per-term
    * micro-quantized error sum is order-free (PERF.md summation
    * policy). floor(x+0.5) not ROUND — half-boundary portability.
    */
  val q_embed_int8 = QueryDef(
    "q_embed_int8",
    s"""WITH vd AS (SELECT vec_id, $vd AS v FROM embeddings),
       |px AS (
       |  SELECT vec_id, i, v[CAST(i + 1 AS INT)] AS x
       |  FROM vd CROSS JOIN UNNEST(range(0, len(v))) t(i)),
       |ma AS (
       |  SELECT i, GREATEST(MAX(ABS(x)), 1e-30) / 127 AS scale
       |  FROM px GROUP BY i),
       |q AS (
       |  SELECT vec_id, x, scale,
       |    GREATEST(LEAST(FLOOR(x / scale + 0.5), 127), -127) AS qv
       |  FROM px JOIN ma ON ma.i = px.i)
       |SELECT vec_id,
       |  CAST(SUM(qv) AS BIGINT) AS q_sum,
       |  CAST(SUM(qv * qv) AS BIGINT) AS q_sqsum,
       |  CAST(SUM(CAST(FLOOR((x - qv * scale) * (x - qv * scale) * 1e12 + 0.5)
       |    AS BIGINT)) AS BIGINT) AS err_micro
       |FROM q GROUP BY 1 ORDER BY vec_id""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    // calibration: 64 doubles to the driver (bounded, centroid-style),
    // then a literal array — the quantization pass is join-free
    val scales: Array[Double] = emb
      .select(posexplode(col("embedding").cast("array<double>"))
        .as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(greatest(max(abs(col("x"))), lit(1e-30)).as("ma"))
      .orderBy(col("i"))
      .collect()
      .map(_.getDouble(1) / 127)
    val scaleArr = array(scales.map(lit): _*)
    val vdbl = col("embedding").cast("array<double>")
    val qArr = zip_with(vdbl, scaleArr, (v, s) =>
      least(greatest(floor(v / s + lit(0.5)), lit(-127.0)), lit(127.0))
        .cast("long"))
    val recArr = zip_with(qArr, scaleArr, (q, s) => q.cast("double") * s)
    val errArr = zip_with(vdbl, recArr, (v, r) =>
      floor((v - r) * (v - r) * lit(1e12) + lit(0.5)).cast("long"))
    emb.select(col("vec_id"),
      aggregate(qArr, lit(0L), (a, x) => a + x).as("q_sum"),
      aggregate(qArr, lit(0L), (a, x) => a + x * x).as("q_sqsum"),
      aggregate(errArr, lit(0L), (a, x) => a + x).as("err_micro"))
      .orderBy(col("vec_id"))
  }

  /** Exact maximum-inner-product top-k (MIPS): the retrieval metric
    * for un-normalized embeddings, where the highest dot product is
    * NOT the nearest cosine neighbor. Query batch broadcast, corpus
    * never shuffles; per-query selection is the bounded-heap TopKRows
    * aggregate (no window sort of the scored stream). The
    * MIPS→cosine augmentation that plugs this into the hyperplane-LSH
    * index at 100 TB is [[graft.ops.SimilarityOps.mipsAugment]],
    * order-equivalence asserted in EmbeddingOpsSpec.
    */
  val q_ann_mips = QueryDef(
    "q_ann_mips",
    s"""WITH n AS (SELECT vec_id, $vd AS vd FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    list_dot_product(q.vd, c.vd) AS ip
       |  FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id >= 10)
       |SELECT query_id, rank, neighbor_id, ROUND(ip, 6) AS inner_product
       |FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY ip DESC, neighbor_id) AS rank
       |  FROM scored) t WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    SimilarityOps.mipsTopK(
      emb.filter(col("vec_id") < 10),
      emb.filter(col("vec_id") >= 10),
      "vec_id", "embedding", 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Hard-negative mining for contrastive training: per query, the
    * most-similar corpus vectors BELOW the near-duplicate threshold —
    * "hard" because they're close, "negative" because they're not
    * dups. Same query-broadcast / corpus-never-shuffles scoring as
    * q_ann_topk, with the threshold filter BEFORE the bounded-heap
    * top-k (TopKRows ≤k-row partials, no sort exchange).
    */
  val q_hard_negatives = QueryDef(
    "q_hard_negatives",
    s"""WITH n AS (
       |  SELECT vec_id, vd, sqrt(list_dot_product(vd, vd)) AS nrm
       |  FROM (SELECT vec_id, $vd AS vd FROM embeddings)),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    list_dot_product(q.vd, c.vd) / (q.nrm * c.nrm) AS cos
       |  FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id >= 10),
       |negs AS (SELECT * FROM scored WHERE cos < CAST(0.4 AS DOUBLE))
       |SELECT query_id, rank, neighbor_id, ROUND(cos, 6) AS cos_sim
       |FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM negs) t WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
      .withColumn("vd", col("embedding").cast("array<double>"))
      .withColumn("nrm", norm(col("vd")))
    val q = broadcast(emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("vd").as("qv"),
        col("nrm").as("qn")))
    val c = emb.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("neighbor_id"), col("vd").as("cv"),
        col("nrm").as("cn"))
      .filter(col("cn") > 0)
    c.crossJoin(q).filter(col("qn") > 0)
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      .filter(col("cos") < 0.4)
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKRows.topK(
        struct((-col("cos")).as("nc"), col("neighbor_id").as("nid")), 5)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.nid").as("neighbor_id"), round(-col("col.nc"), 6).as("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val SketchBits = 256
  private val SketchRadius = 115

  /** ±1 hyperplane table rendered as SQL literal rows from the same
    * coefficient mix the codegen'd expressions use — the oracle's
    * replay substrate for every LSH, sketch and JL-projection query. */
  private def hpValues(bits: Int): String = (0 until bits).map { i =>
    val cs = (0 until LshDim).map(d =>
      graft.functions.HyperplaneSig.coeff(i, d, LshDim)).mkString("[", ", ", "]")
    s"($i, $cs)"
  }.mkString(",\n    ")

  /** Shared oracle CTE chain for the sketch-ANN pipeline: signs →
    * per-pair Hamming → radius → exact-cosine rank. Expects nothing;
    * defines v/hp/n/sig/ham/scored/sk (sk = the final ranked rows). */
  private def sketchCtes(corpusPred: String = "cs.id >= 50",
      queryPred: String = "qs.id < 50", k: Int = 10): String =
    s"""v AS (SELECT vec_id AS id, $vd AS vd FROM embeddings),
       |hp(i, hv) AS (VALUES
       |    ${hpValues(SketchBits)}),
       |n AS (SELECT id, vd, sqrt(list_dot_product(vd, vd)) AS nrm FROM v
       |      WHERE sqrt(list_dot_product(vd, vd)) > 0),
       |sig AS (SELECT id, i, (list_dot_product(vd, hv) > 0) AS b
       |        FROM n CROSS JOIN hp),
       |ham AS (
       |  SELECT qs.id AS query_id, cs.id AS neighbor_id,
       |    SUM(CASE WHEN qs.b <> cs.b THEN 1 ELSE 0 END) AS ham
       |  FROM sig qs JOIN sig cs ON qs.i = cs.i AND ($queryPred) AND ($corpusPred)
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT h.query_id, h.neighbor_id,
       |    list_dot_product(q.vd, c.vd) / (q.nrm * c.nrm) AS cos
       |  FROM ham h JOIN n q ON q.id = h.query_id JOIN n c ON c.id = h.neighbor_id
       |  WHERE h.ham <= $SketchRadius),
       |sk AS (
       |  SELECT query_id, rank, neighbor_id, cos FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM scored) t WHERE rank <= $k)""".stripMargin

  /** Hamming-sketch radius-prefiltered ANN
    * ([[SimilarityOps.sketchTopK]]) — the ≥0.9-recall-below-brute-wall
    * config from PERF.md's ANN frontier (256-bit sketch, radius 115:
    * recall 0.976 on the bench corpus at ~0.05× exact-scoring cost).
    * Oracle: the ±1 hyperplane table is rendered as literals from the
    * same mix function; DuckDB replays per-plane signs → per-pair
    * disagreement count (≡ POPCNT of the packed XOR) → radius filter →
    * exact cosine rerank. Deterministic ties (neighbor id) at both the
    * radius boundary (none — radius is a pure predicate) and the final
    * rank.
    */
  val q_ann_sketch = QueryDef(
    "q_ann_sketch", {
      s"""WITH ${sketchCtes()}
         |SELECT query_id, rank, neighbor_id, ROUND(cos, 6) AS cos_sim
         |FROM sk ORDER BY query_id, rank""".stripMargin
    }) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    SimilarityOps.sketchTopK(
      emb.filter(col("vec_id") < 50),
      emb.filter(col("vec_id") >= 50),
      "vec_id", "embedding", 10,
      bits = SketchBits, dim = LshDim, maxHamming = SketchRadius)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Sketch ANN over the PERSISTED index (T126 as a stored index):
    * [[SimilarityOps.buildSketchIndex]] writes the (id, vector, norm,
    * sketch) tuple once as a bucketed catalog table, then
    * [[SimilarityOps.sketchTopKIndexed]] searches it — certified to
    * match the SAME oracle as q_ann_sketch, proving build→store→search
    * loses nothing vs compute-on-read. The timed surface includes the
    * build (worst case for this query's bench number); at deploy scale
    * the build amortizes over every query until the next corpus
    * rebuild. Plan shape (corpus side is a columnar SCAN of csk, not a
    * re-sketch; no repartition barrier) is asserted in PlanSpec.
    */
  val q_ann_index = QueryDef(
    "q_ann_index", q_ann_sketch.oracle) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    SimilarityOps.buildSketchIndex(emb.filter(col("vec_id") >= 50),
      "vec_id", "embedding", bits = SketchBits, dim = LshDim,
      table = "graft_ann_index")
    SimilarityOps.sketchTopKIndexed(
      emb.filter(col("vec_id") < 50), spark.table("graft_ann_index"),
      "vec_id", "embedding", 10,
      bits = SketchBits, dim = LshDim, maxHamming = SketchRadius)
      .orderBy(col("query_id"), col("rank"))
  }

  /** METADATA-FILTERED search over the persisted index (M8's filtered
    * semantic search re-expressed on the stored-index path): the index
    * carries the label column alongside the sketch tuple, the filter
    * is an ordinary predicate on the index DataFrame, and Catalyst
    * pushes it into the parquet scan (`PushedFilters: EqualTo(label,…)`
    * — asserted in PlanSpec), so non-matching corpus rows never reach
    * the Hamming prefilter at all. The DuckDB oracle applies the same
    * label predicate inside the pair generation.
    */
  val q_ann_index_filtered = QueryDef(
    "q_ann_index_filtered", {
      s"""WITH ${sketchCtes("cs.id >= 50 AND cs.id IN " +
          "(SELECT vec_id FROM embeddings WHERE label = 2)")}
         |SELECT query_id, rank, neighbor_id, ROUND(cos, 6) AS cos_sim
         |FROM sk ORDER BY query_id, rank""".stripMargin
    }) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    SimilarityOps.buildSketchIndex(emb.filter(col("vec_id") >= 50),
      "vec_id", "embedding", bits = SketchBits, dim = LshDim,
      table = "graft_ann_index_meta", metaCols = Seq("label"))
    SimilarityOps.sketchTopKIndexed(
      emb.filter(col("vec_id") < 50),
      spark.table("graft_ann_index_meta").filter(col("label") === 2),
      "vec_id", "embedding", 10,
      bits = SketchBits, dim = LshDim, maxHamming = SketchRadius)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Incremental maintenance of the persisted sketch index: the base
    * build covers 90% of the corpus, the remaining 10% arrives as a
    * delta batch that is sketched ALONE and appended into the bucketed
    * table ([[SimilarityOps.appendSketchIndex]] — O(|delta|) work, no
    * corpus re-sketch). Certified against the SAME full-corpus oracle
    * as q_ann_sketch: search over base+delta must be indistinguishable
    * from a full rebuild, which is exactly the invariant an ingest
    * pipeline needs before it can skip rebuilds between compactions.
    */
  val q_ann_index_delta = QueryDef(
    "q_ann_index_delta", q_ann_sketch.oracle) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val corpus = emb.filter(col("vec_id") >= 50)
    val tbl = "graft_ann_index_delta"
    SimilarityOps.buildSketchIndex(corpus.filter(pmod(col("vec_id"), lit(10)) =!= 0),
      "vec_id", "embedding", bits = SketchBits, dim = LshDim, table = tbl)
    SimilarityOps.appendSketchIndex(corpus.filter(pmod(col("vec_id"), lit(10)) === 0),
      "vec_id", "embedding", bits = SketchBits, dim = LshDim, table = tbl)
    SimilarityOps.sketchTopKIndexed(
      emb.filter(col("vec_id") < 50), spark.table(tbl),
      "vec_id", "embedding", 10,
      bits = SketchBits, dim = LshDim, maxHamming = SketchRadius)
      .orderBy(col("query_id"), col("rank"))
  }

  /** kNN-GRAPH construction — per-node top-k nearest neighbors over a
    * node set joined to ITSELF (self-pairs excluded), the input shape
    * for graph clustering, label propagation over similarity edges,
    * and HNSW-style index builds. Engine: the same Hamming-radius
    * prefilter + exact cosine rerank as q_ann_sketch with the node set
    * on both sides ([[SimilarityOps.sketchTopK]] excludes
    * `query_id = neighbor_id` pairs structurally), k=5 degree. Here
    * the 300-node slice rides the query-broadcast plan; at full-corpus
    * scale the same edge list is produced by LSH-band blocking (the
    * q_embed_neardup_lsh pattern: bucket equi-join, never all-pairs)
    * feeding the identical rerank + per-node top-k — the blocking
    * half is certified there, the ranked-graph half here.
    */
  val q_knn_graph = QueryDef(
    "q_knn_graph", {
      s"""WITH ${sketchCtes(
          corpusPred = "cs.id >= 50 AND cs.id < 350 AND cs.id <> qs.id",
          queryPred = "qs.id >= 50 AND qs.id < 350", k = 5)}
         |SELECT query_id AS node_id, rank, neighbor_id, ROUND(cos, 6) AS cos_sim
         |FROM sk ORDER BY node_id, rank""".stripMargin
    }) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val nodes = emb.filter(col("vec_id") >= 50 && col("vec_id") < 350)
    SimilarityOps.sketchTopK(nodes, nodes, "vec_id", "embedding", 5,
      bits = SketchBits, dim = LshDim, maxHamming = SketchRadius)
      .withColumnRenamed("query_id", "node_id")
      .orderBy(col("node_id"), col("rank"))
  }

  /** MUTUAL-kNN edge filter over [[q_knn_graph]] — keep an edge only
    * when BOTH endpoints rank each other in their top-5 (the standard
    * robustness step before density/graph clustering: one-directional
    * edges are usually hub artifacts). Pure composition: the ranked
    * edge list self-joined on the reversed pair, canonicalized
    * `node_a < node_b`; cosine is symmetric so either direction's
    * score is THE pair score (both engines compute the identical
    * dot/(n·n) expression). Scale shape: an equi-join of the edge
    * list with itself on (node, neighbor) — |edges| = k·|nodes| rows,
    * never pairs².
    */
  val q_knn_mutual = QueryDef(
    "q_knn_mutual", {
      s"""WITH ${sketchCtes(
          corpusPred = "cs.id >= 50 AND cs.id < 350 AND cs.id <> qs.id",
          queryPred = "qs.id >= 50 AND qs.id < 350", k = 5)}
         |SELECT a.query_id AS node_a, a.neighbor_id AS node_b,
         |  ROUND(a.cos, 6) AS cos_sim,
         |  a.rank AS rank_ab, b.rank AS rank_ba
         |FROM sk a JOIN sk b
         |  ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
         |WHERE a.query_id < a.neighbor_id
         |ORDER BY node_a, node_b""".stripMargin
    }) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val nodes = emb.filter(col("vec_id") >= 50 && col("vec_id") < 350)
    val e = SimilarityOps.sketchTopK(nodes, nodes, "vec_id", "embedding", 5,
      bits = SketchBits, dim = LshDim, maxHamming = SketchRadius)
    val a = e.select(col("query_id").as("node_a"),
      col("neighbor_id").as("node_b"), col("cos_sim"),
      col("rank").as("rank_ab"))
    val b = e.select(col("query_id").as("b_q"),
      col("neighbor_id").as("b_n"), col("rank").as("rank_ba"))
    a.join(b, a("node_a") === b("b_n") && a("node_b") === b("b_q"))
      .filter(col("node_a") < col("node_b"))
      .select(col("node_a"), col("node_b"), col("cos_sim"),
        col("rank_ab"), col("rank_ba"))
      .orderBy(col("node_a"), col("node_b"))
  }

  /** Semantic clusters from the mutual-kNN graph — connected
    * components over [[q_knn_mutual]]'s edges, labeled by min node id
    * (the deterministic convention every CC surface here shares),
    * profiled as (cluster_id, n_nodes). This is the classic
    * embedding-clustering recipe that needs NO centroid count chosen
    * up front: kNN edges → mutual filter → components. The engine
    * rides [[graft.ops.GraphOps.minLabelComponents]] (union-find under
    * the gate, pointer-jumping min-label propagation at scale); the
    * oracle resolves the same components with a recursive-CTE
    * transitive closure over the same mutual-edge CTE — chained
    * clusters (a~b~c with no a~c edge) certified identical, which
    * pairwise checks cannot do.
    */
  val q_knn_clusters = QueryDef(
    "q_knn_clusters", {
      s"""WITH RECURSIVE ${sketchCtes(
          corpusPred = "cs.id >= 50 AND cs.id < 350 AND cs.id <> qs.id",
          queryPred = "qs.id >= 50 AND qs.id < 350", k = 5)},
         |mut AS (
         |  SELECT a.query_id AS src, a.neighbor_id AS dst
         |  FROM sk a JOIN sk b
         |    ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
         |  WHERE ROUND(a.cos, 6) >= 0.4),
         |cnodes AS (SELECT DISTINCT src AS id FROM mut),
         |reach AS (
         |  SELECT id, id AS rid FROM cnodes
         |  UNION
         |  SELECT r.id, e.dst AS rid FROM reach r JOIN mut e ON e.src = r.rid),
         |lbl AS (SELECT id, MIN(rid) AS grp FROM reach GROUP BY id)
         |SELECT CAST(grp AS BIGINT) AS cluster_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_nodes
         |FROM lbl GROUP BY 1 ORDER BY 1""".stripMargin
    }) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val nodes = emb.filter(col("vec_id") >= 50 && col("vec_id") < 350)
    // the similarity mask keeps only confident edges (cos is
    // symmetric, so masking either direction is the same pair set) —
    // without it the mutual graph at this corpus is one giant
    // component and the query certifies nothing interesting
    val e = SimilarityOps.sketchTopK(nodes, nodes, "vec_id", "embedding", 5,
      bits = SketchBits, dim = LshDim, maxHamming = SketchRadius)
      .filter(col("cos_sim") >= 0.4)
    val a = e.select(col("query_id").cast("long").as("src"),
      col("neighbor_id").cast("long").as("dst"))
    val b = e.select(col("query_id").cast("long").as("b_q"),
      col("neighbor_id").cast("long").as("b_n"))
    // both ordered directions survive the mutual join, so the edge
    // list is symmetric — exactly minLabelComponents' input contract
    val mutual = a.join(b, a("src") === b("b_n") && a("dst") === b("b_q"))
      .select(col("src"), col("dst"))
    graft.ops.GraphOps.minLabelComponents(mutual)
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("cluster_id"))
  }

  /** Link prediction over the kNN similarity graph — every NON-edge
    * pair at distance 2 scored by common-neighbor count and
    * neighborhood Jaccard |N(a)∩N(b)| / |N(a)∪N(b)| in basis points:
    * "these two vectors share top-5 neighbors but never ranked each
    * other", which is the candidate queue for edge densification
    * before clustering (and, on an entity graph, the classic
    * friend-of-friend recommender read). The graph is
    * [[q_knn_graph]]'s certified edge list, UNDIRECTED (canonical
    * LEAST/GREATEST + distinct — a∈top5(b) or b∈top5(a) links them);
    * candidates come from WEDGE enumeration (sym ⋈ sym on the middle
    * node, a < b once) — O(Σ deg²) with deg ≤ 2k by construction,
    * never |V|²; existing edges drop by an anti-join. Integer floor
    * division keeps both engines on one lattice; counts are
    * structural, so no float enters at all.
    */
  val q_link_predict = QueryDef(
    "q_link_predict", {
      s"""WITH ${sketchCtes(
          corpusPred = "cs.id >= 50 AND cs.id < 350 AND cs.id <> qs.id",
          queryPred = "qs.id >= 50 AND qs.id < 350", k = 5)},
         |und AS MATERIALIZED (
         |  SELECT DISTINCT LEAST(query_id, neighbor_id) AS a,
         |    GREATEST(query_id, neighbor_id) AS b
         |  FROM sk),
         |sym AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM und UNION ALL SELECT b, a FROM und),
         |deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS d
         |        FROM sym GROUP BY 1),
         |wedge AS (
         |  SELECT e1.src AS a, e2.dst AS b, CAST(COUNT(*) AS BIGINT) AS cn
         |  FROM sym e1 JOIN sym e2 ON e2.src = e1.dst AND e1.src < e2.dst
         |  GROUP BY 1, 2)
         |SELECT c.a AS node_a, c.b AS node_b, c.cn AS common_neighbors,
         |  (c.cn * 10000) // (da.d + db.d - c.cn) AS jaccard_bp
         |FROM wedge c
         |JOIN deg da ON da.id = c.a
         |JOIN deg db ON db.id = c.b
         |WHERE NOT EXISTS (SELECT 1 FROM und u WHERE u.a = c.a AND u.b = c.b)
         |ORDER BY node_a, node_b""".stripMargin
    }) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val nodes = emb.filter(col("vec_id") >= 50 && col("vec_id") < 350)
    val e = SimilarityOps.sketchTopK(nodes, nodes, "vec_id", "embedding", 5,
      bits = SketchBits, dim = LshDim, maxHamming = SketchRadius)
    val und = graft.ops.Reuse.materialized(
      e.select(least(col("query_id"), col("neighbor_id")).cast("long").as("a"),
          greatest(col("query_id"), col("neighbor_id")).cast("long").as("b"))
        .distinct())
    val sym = und.select(col("a").as("src"), col("b").as("dst"))
      .union(und.select(col("b").as("src"), col("a").as("dst")))
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    val e1 = sym.select(col("src").as("a"), col("dst").as("mid"))
    val e2 = sym.select(col("src").as("mid"), col("dst").as("b"))
    val wedge = e1.join(e2, Seq("mid")).filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cn"))
    wedge
      .join(und, Seq("a", "b"), "left_anti")
      .join(deg.select(col("id").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("d").as("db")), "b")
      .select(col("a").as("node_a"), col("b").as("node_b"),
        col("cn").as("common_neighbors"),
        expr("(cn * 10000) DIV (da + db - cn)").as("jaccard_bp"))
      .orderBy(col("node_a"), col("node_b"))
  }

  /** Binary-relevance DCG discounts in integer micro-units:
    * floor(1e6/log2(r+1) + 0.5) for rank r in 1..10, rendered from ONE
    * Scala math.log run into BOTH the engine literals and the oracle
    * VALUES table — libm log is not bit-portable across engines
    * (verify-skill gotcha), identical integer constants are.
    */
  private val DiscU: Seq[Long] =
    (1 to 10).map(r => math.floor(1e6 / (math.log(r + 1.0) / math.log(2.0)) + 0.5).toLong)

  /** Ranking-quality evaluation AS A QUERY (the T133 eval surface
    * widened from set recall to ORDER-aware metrics): per-query MRR@10
    * and binary-relevance nDCG@10 of the sketch-ANN ranking against
    * exact brute force, computed in-engine and replayed end to end by
    * DuckDB. DCG terms are quantized to integer micro-units BEFORE the
    * sum (order-free), the final ratios floor-quantized to 6dp; the
    * discount table ships as identical integer literals to both
    * engines, so even the log2-based metric is hash-certifiable.
    */
  val q_rank_metrics = QueryDef(
    "q_rank_metrics", {
      val discRows = DiscU.zipWithIndex
        .map { case (d, i) => s"(${i + 1}, $d)" }.mkString(", ")
      val idcg = DiscU.sum
      s"""WITH ${sketchCtes()},
         |br AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.id AS query_id, c.id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.id ORDER BY
         |        list_dot_product(q.vd, c.vd) / (q.nrm * c.nrm) DESC, c.id) AS r
         |    FROM n q JOIN n c ON q.id < 50 AND c.id >= 50) t WHERE r <= 10),
         |disc(r, du) AS (VALUES $discRows),
         |relt AS (
         |  SELECT s.query_id, s.rank,
         |    CASE WHEN b.neighbor_id IS NULL THEN 0 ELSE 1 END AS rel
         |  FROM sk s LEFT JOIN br b ON b.query_id = s.query_id
         |    AND b.neighbor_id = s.neighbor_id),
         |m AS (
         |  SELECT query_id, CAST(SUM(rel) AS BIGINT) AS n_hits,
         |    CAST(SUM(rel * d.du) AS BIGINT) AS dcg_u,
         |    MIN(CASE WHEN rel = 1 THEN rank END) AS fr
         |  FROM relt JOIN disc d ON d.r = relt.rank GROUP BY 1),
         |qs AS (SELECT DISTINCT query_id FROM br)
         |SELECT q.query_id, COALESCE(m.n_hits, 0) AS n_hits,
         |  CASE WHEN m.fr IS NULL THEN 0.0
         |       ELSE FLOOR(1000000.0 / m.fr + 0.5) / 1000000.0 END AS mrr,
         |  FLOOR(CAST(COALESCE(m.dcg_u, 0) AS DOUBLE) / $idcg
         |        * 1000000 + 0.5) / 1000000.0 AS ndcg
         |FROM qs q LEFT JOIN m ON m.query_id = q.query_id
         |ORDER BY q.query_id""".stripMargin
    }) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 50)
    val corpus = emb.filter(col("vec_id") >= 50)
    val brute = SimilarityOps.bruteForceTopK(
        queries, corpus, "vec_id", "embedding", 10)
      .select(col("query_id"), col("neighbor_id"))
    val sk = SimilarityOps.sketchTopK(queries, corpus, "vec_id", "embedding", 10,
        bits = SketchBits, dim = LshDim, maxHamming = SketchRadius)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
    val discArr = array(DiscU.map(lit): _*)
    val rel = sk.join(brute.withColumn("hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("rank"),
        coalesce(col("hit"), lit(0L)).as("rel"))
    val m = rel
      .withColumn("du", element_at(discArr, col("rank").cast("int")))
      .groupBy(col("query_id"))
      .agg(sum(col("rel")).as("n_hits"),
        sum(col("rel") * col("du")).as("dcg_u"),
        min(when(col("rel") === 1, col("rank"))).as("fr"))
    val idcg = lit(DiscU.sum.toDouble)
    brute.select(col("query_id")).distinct()
      .join(m, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(col("fr").isNull, lit(0.0))
          .otherwise(floor(lit(1000000.0) / col("fr") + 0.5) / lit(1000000.0))
          .as("mrr"),
        (floor(coalesce(col("dcg_u"), lit(0L)).cast("double") / idcg
          * 1000000 + 0.5) / lit(1000000.0)).as("ndcg"))
      .orderBy(col("query_id"))
  }

  /** Retrieval-quality evaluation AS A QUERY: per-query recall@10 of
    * the sketch-ANN path against exact brute force, computed in-engine
    * (both pipelines are deterministic, so the recall itself is a
    * deterministic value DuckDB replays end to end — the eval harness
    * needs no special tooling, it is one more certified query). The
    * continuous-deployment use: run this after every index rebuild;
    * a recall drop is a data-drift signal (the radius is calibrated to
    * the corpus's neighbor-margin distribution).
    */
  val q_ann_recall = QueryDef(
    "q_ann_recall", {
      s"""WITH ${sketchCtes()},
         |br AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.id AS query_id, c.id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.id ORDER BY
         |        list_dot_product(q.vd, c.vd) / (q.nrm * c.nrm) DESC, c.id) AS r
         |    FROM n q JOIN n c ON q.id < 50 AND c.id >= 50) t WHERE r <= 10),
         |hits AS (
         |  SELECT b.query_id, COUNT(*) AS n_hits
         |  FROM br b JOIN sk s ON s.query_id = b.query_id
         |    AND s.neighbor_id = b.neighbor_id
         |  GROUP BY 1),
         |tot AS (SELECT query_id, COUNT(*) AS n_true FROM br GROUP BY 1)
         |SELECT t.query_id AS query_id, t.n_true, COALESCE(h.n_hits, 0) AS n_hits,
         |  FLOOR(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / t.n_true
         |        * 1000000 + 0.5) / 1000000.0 AS recall
         |FROM tot t LEFT JOIN hits h ON h.query_id = t.query_id
         |ORDER BY t.query_id""".stripMargin
    }) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 50)
    val corpus = emb.filter(col("vec_id") >= 50)
    val brute = SimilarityOps.bruteForceTopK(
        queries, corpus, "vec_id", "embedding", 10)
      .select(col("query_id"), col("neighbor_id"))
    val sk = SimilarityOps.sketchTopK(queries, corpus, "vec_id", "embedding", 10,
        bits = SketchBits, dim = LshDim, maxHamming = SketchRadius)
      .select(col("query_id"), col("neighbor_id"))
    val tot = brute.groupBy(col("query_id")).agg(count(lit(1)).as("n_true"))
    val hits = brute.join(sk, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    val recall =
      coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_true")
    tot.join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_true"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (floor(recall * 1000000 + 0.5) / lit(1000000.0)).as("recall"))
      .orderBy(col("query_id"))
  }

  /** Dimension-truncation recall eval ("matryoshka" trade): recall@10
    * of brute-force search over the FIRST 16 of 64 embedding dims
    * against the full-dimension ground truth — the measurement that
    * decides whether a 4×-cheaper dot product (and a 4×-smaller
    * vector store / shuffle payload) is worth the ranking loss, the
    * same decision the sketch frontier (q_ann_recall) answers for the
    * Hamming path. Both searches are the certified
    * [[SimilarityOps.bruteForceTopK]]; only the vector column differs,
    * so the eval isolates exactly the truncation. Same zero-norm
    * guards on the TRUNCATED vectors (a prefix can be zero when the
    * full vector is not), replicated in the oracle.
    */
  val q_ann_dim_recall = QueryDef(
    "q_ann_dim_recall", {
      s"""WITH v AS (
         |  SELECT vec_id AS id, $vd AS vd,
         |    list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS vt
         |  FROM embeddings),
         |n AS (
         |  SELECT id, vd, sqrt(list_dot_product(vd, vd)) AS nrm,
         |    vt, sqrt(list_dot_product(vt, vt)) AS nt
         |  FROM v),
         |br AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.id AS query_id, c.id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.id ORDER BY
         |        list_dot_product(q.vd, c.vd) / (q.nrm * c.nrm) DESC, c.id) AS r
         |    FROM n q JOIN n c ON q.id < 50 AND c.id >= 50
         |    WHERE q.nrm > 0 AND c.nrm > 0) t WHERE r <= 10),
         |tr AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.id AS query_id, c.id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.id ORDER BY
         |        list_dot_product(q.vt, c.vt) / (q.nt * c.nt) DESC, c.id) AS r
         |    FROM n q JOIN n c ON q.id < 50 AND c.id >= 50
         |    WHERE q.nt > 0 AND c.nt > 0) t WHERE r <= 10),
         |hits AS (
         |  SELECT b.query_id, COUNT(*) AS n_hits
         |  FROM br b JOIN tr s ON s.query_id = b.query_id
         |    AND s.neighbor_id = b.neighbor_id
         |  GROUP BY 1),
         |tot AS (SELECT query_id, COUNT(*) AS n_true FROM br GROUP BY 1)
         |SELECT t.query_id AS query_id, t.n_true, COALESCE(h.n_hits, 0) AS n_hits,
         |  FLOOR(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / t.n_true
         |        * 1000000 + 0.5) / 1000000.0 AS recall
         |FROM tot t LEFT JOIN hits h ON h.query_id = t.query_id
         |ORDER BY t.query_id""".stripMargin
    }) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 50)
    val corpus = emb.filter(col("vec_id") >= 50)
    val full = SimilarityOps.bruteForceTopK(
        queries, corpus, "vec_id", "embedding", 10)
      .select(col("query_id"), col("neighbor_id"))
    val tq = queries.withColumn("emb16", slice(col("embedding"), 1, 16))
    val tc = corpus.withColumn("emb16", slice(col("embedding"), 1, 16))
    val trunc = SimilarityOps.bruteForceTopK(tq, tc, "vec_id", "emb16", 10)
      .select(col("query_id"), col("neighbor_id"))
    val tot = full.groupBy(col("query_id")).agg(count(lit(1)).as("n_true"))
    val hits = full.join(trunc, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    val recall =
      coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_true")
    tot.join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_true"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (floor(recall * 1000000 + 0.5) / lit(1000000.0)).as("recall"))
      .orderBy(col("query_id"))
  }

  /** Self-calibrating sketch ANN: the Hamming radius is not a magic
    * constant but the 5% quantile of pairwise sketch distances over a
    * bounded deterministic sample
    * ([[SimilarityOps.calibrateHammingRadius]] — one integer of driver
    * state), then the search runs at that radius. Certifies the WHOLE
    * loop — sample → exact quantile → radius → search — against
    * DuckDB, radius value included in every output row; corpus drift
    * moves the radius instead of silently collapsing recall.
    */
  val q_ann_autoradius = QueryDef(
    "q_ann_autoradius", {
      s"""WITH ${sketchCtes()},
         |samp AS (SELECT id FROM n WHERE id >= 50 ORDER BY id LIMIT 100),
         |ssig AS (SELECT s.* FROM sig s JOIN samp USING (id)),
         |ph AS (
         |  SELECT a.id AS ia, b.id AS ib,
         |    SUM(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) AS ham
         |  FROM ssig a JOIN ssig b ON a.i = b.i AND a.id < b.id
         |  GROUP BY 1, 2),
         |rad AS (
         |  SELECT ham AS radius FROM (
         |    SELECT ham, ROW_NUMBER() OVER (ORDER BY ham) AS rn,
         |      COUNT(*) OVER () AS np
         |    FROM ph) t
         |  WHERE rn = CAST(CEIL(0.05 * np) AS BIGINT)),
         |auto AS (
         |  SELECT h.query_id, h.neighbor_id,
         |    list_dot_product(q.vd, c.vd) / (q.nrm * c.nrm) AS cos
         |  FROM ham h JOIN n q ON q.id = h.query_id JOIN n c ON c.id = h.neighbor_id
         |  CROSS JOIN rad WHERE h.ham <= rad.radius)
         |SELECT query_id, rank, neighbor_id, ROUND(cos, 6) AS cos_sim,
         |  CAST((SELECT radius FROM rad) AS BIGINT) AS radius
         |FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM auto) t WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin
    }) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 50)
    val corpus = emb.filter(col("vec_id") >= 50)
    val radius = SimilarityOps.calibrateHammingRadius(
      corpus, "vec_id", "embedding",
      bits = SketchBits, dim = LshDim, sampleN = 100, targetFrac = 0.05)
    SimilarityOps.sketchTopK(queries, corpus, "vec_id", "embedding", 10,
      bits = SketchBits, dim = LshDim, maxHamming = radius)
      .withColumn("radius", lit(radius.toLong))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Higher-order array-function surface certified end-to-end:
    * per-vector statistics computed ENTIRELY with codegen'd lambda
    * column algebra — `transform` (map), `filter` (predicate keep),
    * `aggregate` (left fold) — never an explode, never a UDF. The
    * explode-free shape matters at 100 TB: a 384-dim explode is a
    * 384× row amplification through a shuffle; the lambda pipeline
    * stays inside one WholeStageCodegen over the original rows.
    * Components are floor-quantized to integer micro-units BEFORE the
    * fold (the repo's summation-determinism grid), so DuckDB's
    * list_transform/list_filter/list_sum replay is exact.
    */
  val q_array_hof = QueryDef(
    "q_array_hof",
    """SELECT vec_id,
      |  CAST(len(embedding) AS BIGINT) AS n_dims,
      |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
      |  CAST(list_sum(list_transform(embedding,
      |    x -> CAST(FLOOR(ABS(CAST(x AS DOUBLE)) * 1000000 + 0.5)
      |      AS BIGINT))) AS BIGINT) AS l1_micro,
      |  CAST(list_sum(list_transform(embedding,
      |    x -> CAST(FLOOR(ABS(CAST(x AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      |      * CAST(FLOOR(ABS(CAST(x AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)))
      |    AS BIGINT) AS l2sq_micro
      |FROM embeddings ORDER BY vec_id""".stripMargin) { (spark, dir) =>
    val micro = (x: org.apache.spark.sql.Column) =>
      floor(abs(x.cast("double")) * 1000000 + 0.5).cast("long")
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        size(col("embedding")).cast("long").as("n_dims"),
        size(filter(col("embedding"), x => x > 0)).cast("long").as("n_pos"),
        aggregate(transform(col("embedding"), micro), lit(0L),
          (acc, m) => acc + m).as("l1_micro"),
        aggregate(transform(col("embedding"), micro), lit(0L),
          (acc, m) => acc + m * m).as("l2sq_micro"))
      .orderBy(col("vec_id"))
  }

  /** Top principal component by the fixed-iteration power method
    * ([[graft.ops.PcaOps]]) — per-vector PC1 score. The energy-
    * compacting preprocessing step for OPQ/whitening/dim-truncation
    * over a stored vector corpus; per iteration one map-only pass +
    * a dim-bounded single-row aggregate, driver state O(dim) (the
    * PageRank bounded-collect class). Oracle replays the identical
    * quantized trajectory as an unrolled CTE chain.
    */
  /** Memo of the corpus RAW MOMENTS (n, Σx, Σxxᵀ), keyed on the
    * embeddings fixture and dim — "scan once, serve every consumer":
    * the moments are ITERATION-INDEPENDENT, so the project/variance pair (m=1, 8
    * iters), the transform/outlier pair (m=4, 6 iters) and the OPQ
    * rotation (m=8, 2 iters) all derive their bases from the SAME
    * single-pass aggregate, exactly as a deployed pipeline materializes
    * one moments table for all downstream transforms.
    *
    * One pass, not m·iters: running the power trajectory AS
    * DISTRIBUTED PASSES would cost m·iters scans of the cached corpus
    * (24 jobs for the outlier/transform basis, 16 for OPQ's), while the
    * identical quantized trajectory is derivable from one
    * [[graft.functions.VectorMoments]] pass (d²+d+1 doubles of driver
    * state) followed by O(m·iters·d²) driver flops
    * ([[graft.ops.PcaOps.componentsFromMoments]]: the batch path's
    * `Σ_rows c·(c·v)` regrouped as `C'·v`, a float-association change
    * the per-round 1e-6 quantization absorbs). Equality with the batch
    * trajectory is pinned bit-exact for every (iters, m) config used
    * here (PcaOpsSpec "moments-derived trajectory equals ..."), and the
    * streaming twins (q_stream_pca / q_stream_outliers_pca) have
    * certified the moments-derived basis against the IDENTICAL DuckDB
    * oracles. The oracles replay the batch trajectory
    * unchanged.
    */
  private val moments =
    new Memos.Memo[(Memos.Fixture, Int), (Long, Array[Double], Array[Array[Double]])](
      "q_pca_project", "q_pca_variance", "q_pca_transform",
      "q_embed_outliers_pca", "q_ann_opq")

  private def rawMoments(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      dim: Int): (Long, Array[Double], Array[Array[Double]]) =
    moments.get((Memos.fixture(s"$dir/embeddings.parquet"), dim)) { _ =>
      // VectorMoments skips NULL / wrong-dim rows like the PCA scan
      // filter, and ADDITIONALLY drops rows containing any null
      // ELEMENT, where the batch scan's avg/element_at would skip the
      // null per column. On this corpus no vector
      // carries null elements (PcaOpsSpec pins the moments-derived
      // basis bit-equal to the batch trajectory for every config used
      // here), so n matches the batch fit; a corpus with null elements
      // would need the batch filter and the oracle to adopt the same
      // any-null-element drop before trusting the moments path.
      val m = Tables.embeddings(spark, dir)
        .agg(graft.functions.VectorMoments(col("embedding"), dim).as("m"))
        .head().getSeq[Double](0)
      val n = m(0).toLong
      val sx = Array.tabulate(dim)(j => m(1 + j))
      val sxx = Array.tabulate(dim, dim)((j, k) => m(1 + dim + j * dim + k))
      (n, sx, sxx)
    }

  private def fittedBasis(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      dim: Int, iters: Int, m: Int): (Array[Double], Array[Array[Double]]) = {
    val (n, sx, sxx) = rawMoments(spark, dir, dim)
    graft.ops.PcaOps.componentsFromMoments(n, sx, sxx, dim, iters, m)
  }

  val q_pca_project = QueryDef(
    "q_pca_project", graft.ops.PcaOps.projectOracleSql(64, 8)) { (spark, dir) =>
    val (mu, comps) = fittedBasis(spark, dir, 64, 8, 1)
    graft.ops.PcaOps.projectWith(
      Tables.embeddings(spark, dir), "vec_id", "embedding", 64, mu, comps(0))
      .orderBy(col("vec_id"))
  }

  /** Spectrum summary of the same trajectory: leading eigenvalue
    * (Rayleigh quotient), total variance (covariance trace), and the
    * explained-variance ratio — the one-row readoff that decides how
    * many components a truncation/whitening pass keeps.
    */
  val q_pca_variance = QueryDef(
    "q_pca_variance", graft.ops.PcaOps.varianceOracleSql(64, 8)) { (spark, dir) =>
    val (mu, comps) = fittedBasis(spark, dir, 64, 8, 1)
    graft.ops.PcaOps.varianceWith(
      Tables.embeddings(spark, dir), "vec_id", "embedding", 64, mu, comps(0))
  }

  /** Top-4 basis transform by deflated power iteration
    * ([[graft.ops.PcaOps.topComponents]]): per-vector (pc1..pc4)
    * projections — the dimensionality-reduction map an index build
    * applies corpus-wide after fitting the basis. Each later component
    * is parallel-Gram–Schmidt-corrected against the found ones every
    * round, so the oracle's per-round correction CTE replays the exact
    * driver arithmetic. The 4× energy-compacted columns are what
    * PERF.md's PCA truncation section measures for recall against
    * naive truncation.
    */
  val q_pca_transform = QueryDef(
    "q_pca_transform",
    graft.ops.PcaOps.transformOracleSql(64, 6, 4)) { (spark, dir) =>
    val (mu, comps) = fittedBasis(spark, dir, 64, 6, 4)
    graft.ops.PcaOps.transformWith(
      Tables.embeddings(spark, dir), "vec_id", "embedding", 64, mu, comps)
      .orderBy(col("vec_id"))
  }

  /** Embedding-space outlier scoring — diagonal Mahalanobis distance²
    * per vector (Σ_j ((x_j−mu_j)/sd_j)²), the curation filter that
    * flags corrupt/degenerate embeddings before they poison an index
    * or a training mix. Per-dim mean and sample-stddev are
    * 1e-6-quantized (the kmeans standardization contract, zero-variance
    * dims pinned to sd=1), the z-vector is built with two `zip_with`
    * passes against literal arrays, and the score is one codegen
    * `dot_product(z, z)` — a single stats pass plus a map-only scoring
    * pass, both O(dim) driver state. The oracle replays the identical
    * quantized standardization per (id, idx).
    */
  val q_embed_outliers = QueryDef(
    "q_embed_outliers",
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id AS id,
       |    unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS val,
       |    unnest(range(1, len(embedding)+1)) AS idx
       |  FROM embeddings
       |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
       |st AS (SELECT idx,
       |    FLOOR(AVG(val)*1000000+0.5)/1000000.0 AS m,
       |    CASE WHEN FLOOR(STDDEV_SAMP(val)*1000000+0.5)/1000000.0 > 0
       |      THEN FLOOR(STDDEV_SAMP(val)*1000000+0.5)/1000000.0
       |      ELSE 1.0 END AS sd
       |  FROM e GROUP BY idx)
       |SELECT id AS vec_id,
       |  FLOOR(SUM(((val - m) / sd) * ((val - m) / sd))*1000000+0.5)/1000000.0
       |    AS m2
       |FROM e JOIN st USING (idx)
       |GROUP BY id ORDER BY vec_id""".stripMargin) { (spark, dir) =>
    val dim = 64
    def quant(v: Double): Double = graft.ops.Reuse.quantMicro(v)
    val x = Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull && size(col("embedding")) === dim)
      .select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("x"))
    val st = x.agg(
      avg(element_at(col("x"), 1)),
      ((2 to dim).map(j => avg(element_at(col("x"), j))) ++
        (1 to dim).map(j => stddev_samp(element_at(col("x"), j)))): _*).head()
    val mu = Array.tabulate(dim)(j => quant(st.getDouble(j)))
    val sd = Array.tabulate(dim) { j =>
      val q = if (st.isNullAt(dim + j)) Double.NaN else quant(st.getDouble(dim + j))
      if (q > 0) q else 1.0
    }
    x.withColumn("z", zip_with(
        zip_with(col("x"), array(mu.map(lit).toIndexedSeq: _*), (a, b) => a - b),
        array(sd.map(lit).toIndexedSeq: _*), (c, s) => c / s))
      .withColumn("m2raw", dot(col("z"), col("z")))
      .select(col("id").as("vec_id"),
        (floor(col("m2raw") * 1000000 + 0.5) / 1000000.0).as("m2"))
      .orderBy(col("vec_id"))
  }

  /** O(Δ) kNN-graph MAINTENANCE — the ingest story for
    * [[q_knn_graph_lsh]], mirroring what q_ann_index_delta certifies
    * for the stored search index: a delta batch (every 10th vector)
    * arrives and ONLY its outgoing edges are computed
    * ([[SimilarityOps.lshKnn]] of the delta against the corpus: the delta's band buckets
    * equi-join the full corpus's buckets — work is |Δ|·bucket-occupancy,
    * never a graph rebuild). Certified invariant: the delta edges are
    * INDISTINGUISHABLE from the full-rebuild graph restricted to delta
    * sources — the oracle is the full LSH-graph oracle with the source
    * filter pushed into candidate generation. (Incoming edges to Δ are
    * the same computation with sides swapped plus a bounded per-node
    * top-k merge — same plan shape, so certifying the outgoing side
    * pins the machinery.)
    */
  val q_knn_graph_delta = QueryDef(
    "q_knn_graph_delta", {
      s"""WITH ${lshOracleCtesWide(WideBands, WideBandBits)},
         |cand AS (
         |  SELECT DISTINCT x.id AS query_id, y.id AS neighbor_id
         |  FROM buckets x JOIN buckets y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.id <> y.id
         |  WHERE x.id % 10 = 0),
         |scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    list_dot_product(a.vd, b.vd) / (a.nrm * b.nrm) AS cos
         |  FROM cand c
         |  JOIN n a ON a.id = c.query_id JOIN n b ON b.id = c.neighbor_id
         |  WHERE a.nrm > 0 AND b.nrm > 0)
         |SELECT query_id AS node_id, rank, neighbor_id,
         |  ROUND(cos, 6) AS cos_sim
         |FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored) t WHERE rank <= 5
         |ORDER BY node_id, rank""".stripMargin
    }) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    SimilarityOps.roundCos(SimilarityOps.lshKnn(
        emb.filter(pmod(col("vec_id"), lit(10)) === 0), emb,
        "vec_id", "embedding", 5, WideLsh))
      .withColumnRenamed("query_id", "node_id")
      .orderBy(col("node_id"), col("rank"))
  }

  /** INCREMENTAL top-k MERGE for kNN-graph maintenance — the other
    * half of [[q_knn_graph_delta]]: when a delta batch lands, EXISTING
    * nodes' neighbor lists must absorb the new vectors without a
    * rebuild. The engine merges the OLD top-5 edge list (built on the
    * base corpus only) with the base→delta candidate edges and
    * re-ranks per node — correct by the k-bounded merge property:
    * every edge of top-k(A ∪ B) is in top-k(A) ∪ B, so merging the
    * kept top-k with the delta edges loses nothing. The certified
    * invariant is exactly that theorem: the merged list is
    * INDISTINGUISHABLE from the full rebuild over base ∪ delta
    * restricted to base sources (the oracle — the full-corpus LSH
    * graph oracle with the source filter). Work: O(Δ) candidate
    * generation + a re-rank over k·|base| + |Δ-edges| rows.
    */
  val q_knn_graph_merge = QueryDef(
    "q_knn_graph_merge", {
      s"""WITH ${lshOracleCtesWide(WideBands, WideBandBits)},
         |cand AS (
         |  SELECT DISTINCT x.id AS query_id, y.id AS neighbor_id
         |  FROM buckets x JOIN buckets y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.id <> y.id
         |  WHERE x.id % 10 <> 0),
         |scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    list_dot_product(a.vd, b.vd) / (a.nrm * b.nrm) AS cos
         |  FROM cand c
         |  JOIN n a ON a.id = c.query_id JOIN n b ON b.id = c.neighbor_id
         |  WHERE a.nrm > 0 AND b.nrm > 0)
         |SELECT query_id AS node_id, rank, neighbor_id,
         |  ROUND(cos, 6) AS cos_sim
         |FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored) t WHERE rank <= 5
         |ORDER BY node_id, rank""".stripMargin
    }) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val base = emb.filter(pmod(col("vec_id"), lit(10)) =!= 0)
    val delta = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
    // RAW scores through the merge: re-ranking on the rounded score
    // could reorder near-ties differently from the full rebuild (which
    // ranks on raw cos); round only at the output boundary
    val old = SimilarityOps.lshKnn(base, base, "vec_id", "embedding", 5, WideLsh)
      .drop("rank")
    val fresh = SimilarityOps.lshKnn(base, delta, "vec_id", "embedding", 5, WideLsh)
      .drop("rank")
    SimilarityOps.roundCos(SimilarityOps.topK(old.unionByName(fresh), 5))
      .withColumnRenamed("query_id", "node_id")
      .orderBy(col("node_id"), col("rank"))
  }

  /** Semantic clusters over the FULL-corpus LSH kNN graph — the
    * [[q_knn_clusters]] recipe (mutual-kNN filter → min-label connected
    * components → cluster profile) composed on [[q_knn_graph_lsh]]'s
    * certified edge list instead of the 300-node slice: with this row
    * green, the whole clustering pipeline (candidate blocking → rerank
    * → top-k → mutual filter → components) is certified corpus-wide as
    * ONE query, no composition argument left. Oracle: the shared
    * hyperplane/banding CTEs, the ranked candidate rerank, the mutual
    * join, and a recursive-CTE transitive closure — chained clusters
    * certified identical, which pairwise checks cannot do.
    */
  val q_knn_clusters_lsh = QueryDef(
    "q_knn_clusters_lsh", {
      s"""WITH RECURSIVE ${lshOracleCtes(LshBands, LshBandBits)},
         |cand AS (
         |  SELECT DISTINCT x.id AS query_id, y.id AS neighbor_id
         |  FROM buckets x JOIN buckets y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.id <> y.id),
         |scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    list_dot_product(a.vd, b.vd) / (a.nrm * b.nrm) AS cos
         |  FROM cand c
         |  JOIN n a ON a.id = c.query_id JOIN n b ON b.id = c.neighbor_id
         |  WHERE a.nrm > 0 AND b.nrm > 0),
         |sk AS (
         |  SELECT * FROM (
         |    SELECT query_id, neighbor_id, cos,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, neighbor_id) AS rank
         |    FROM scored) t WHERE rank <= 5),
         |mut AS (
         |  SELECT a.query_id AS src, a.neighbor_id AS dst
         |  FROM sk a JOIN sk b
         |    ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
         |  WHERE ROUND(a.cos, 6) >= 0.4),
         |cnodes AS (SELECT DISTINCT src AS id FROM mut),
         |reach AS (
         |  SELECT id, id AS rid FROM cnodes
         |  UNION
         |  SELECT r.id, e.dst AS rid FROM reach r JOIN mut e ON e.src = r.rid),
         |lbl AS (SELECT id, MIN(rid) AS grp FROM reach GROUP BY id)
         |SELECT CAST(grp AS BIGINT) AS cluster_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_nodes
         |FROM lbl GROUP BY 1 ORDER BY 1""".stripMargin
    }) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val e = SimilarityOps.roundCos(
        SimilarityOps.lshKnn(emb, emb, "vec_id", "embedding", 5, NarrowLsh))
      .filter(col("cos_sim") >= 0.4)
    val a = e.select(col("query_id").cast("long").as("src"),
      col("neighbor_id").cast("long").as("dst"))
    val b = e.select(col("query_id").cast("long").as("b_q"),
      col("neighbor_id").cast("long").as("b_n"))
    // both ordered directions survive the mutual join (cos is
    // symmetric, so masking either direction selects the same pairs) —
    // minLabelComponents' symmetric-edge-list contract
    val mutual = a.join(b, a("src") === b("b_n") && a("dst") === b("b_q"))
      .select(col("src"), col("dst"))
    graft.ops.GraphOps.minLabelComponents(mutual)
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("cluster_id"))
  }

  /** Hubness audit of the full-corpus kNN graph — the embedding-QA
    * diagnostic run before trusting any kNN-derived structure: in
    * high-dimensional or degenerate embedding spaces a few "hub"
    * vectors appear in everyone's top-k while many "anti-hubs" appear
    * in nobody's, and clustering/retrieval quality collapses along
    * that skew. Output is the IN-DEGREE histogram of
    * [[q_knn_graph_lsh]]'s edge list, including the in_degree=0 row
    * (corpus vectors never retrieved — an anti-join against the
    * neighbor set). One groupBy over k·|corpus| edges plus one
    * id-level anti-join; the histogram itself is ≤ k·|nodes| rows of
    * bounded domain.
    */
  val q_knn_hubness = QueryDef(
    "q_knn_hubness", {
      s"""WITH ${lshOracleCtes(LshBands, LshBandBits)},
         |cand AS (
         |  SELECT DISTINCT x.id AS query_id, y.id AS neighbor_id
         |  FROM buckets x JOIN buckets y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.id <> y.id),
         |scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    list_dot_product(a.vd, b.vd) / (a.nrm * b.nrm) AS cos
         |  FROM cand c
         |  JOIN n a ON a.id = c.query_id JOIN n b ON b.id = c.neighbor_id
         |  WHERE a.nrm > 0 AND b.nrm > 0),
         |sk AS (
         |  SELECT * FROM (
         |    SELECT query_id, neighbor_id, cos,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, neighbor_id) AS rank
         |    FROM scored) t WHERE rank <= 5),
         |indeg AS (
         |  SELECT neighbor_id, CAST(COUNT(*) AS BIGINT) AS d
         |  FROM sk GROUP BY neighbor_id),
         |alldeg AS (
         |  SELECT COALESCE(i.d, 0) AS in_degree
         |  FROM (SELECT vec_id AS id FROM embeddings) v
         |  LEFT JOIN indeg i ON i.neighbor_id = v.id)
         |SELECT in_degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
         |FROM alldeg GROUP BY in_degree ORDER BY in_degree""".stripMargin
    }) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val e = SimilarityOps.lshKnn(emb, emb, "vec_id", "embedding", 5, NarrowLsh)
    val indeg = e.groupBy(col("neighbor_id")).agg(count(lit(1)).as("d"))
    emb.select(col("vec_id").as("id"))
      .join(indeg, col("id") === col("neighbor_id"), "left")
      .select(coalesce(col("d"), lit(0L)).as("in_degree"))
      .groupBy(col("in_degree")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("in_degree"))
  }

  /** Subspace Mahalanobis outlier scoring over the certified deflated
    * PCA basis ([[graft.ops.PcaOps.subspaceOutliers]]):
    * [[q_embed_outliers]]' diagonal z-scores cannot
    * see CORRELATED corruption (the common degenerate-embedding mode);
    * this standardizes the top-4 principal projections by their
    * eigenvalues and adds the off-subspace residual energy. Same basis
    * parameters as [[q_pca_transform]] (dim 64, 6 iters, m=4), so the
    * oracle reuses the identical unrolled deflated-trajectory CTE
    * chain, then scores on an exact integer micro lattice (all
    * divisions nonnegative `div`/`//` — no float leaves the certified
    * projections).
    */
  val q_embed_outliers_pca = QueryDef(
    "q_embed_outliers_pca",
    graft.ops.PcaOps.outlierOracleSql(64, 6, 4)) { (spark, dir) =>
    val (mu, comps) = fittedBasis(spark, dir, 64, 6, 4)
    graft.ops.PcaOps.scoreSubspace(
      Tables.embeddings(spark, dir), "vec_id", "embedding", 64, mu, comps)
      .orderBy(col("vec_id"))
  }

  val all: Seq[QueryDef] = Seq(
    q_ann_topk, q_embed_neardup, q_label_profile, q_embed_neardup_lsh,
    q_embed_neardup_2p, q_ann_ivf,
    q_ann_pq, q_ann_pq_l2, q_ann_ivfpq, q_jl_distortion, q_ann_jl,
    q_embed_int8, q_ann_mips, q_hard_negatives, q_ann_sketch,
    q_ann_recall, q_ann_autoradius, q_ann_index, q_ann_index_delta,
    q_ann_index_filtered, q_rank_metrics, q_knn_graph, q_knn_graph_lsh,
    q_knn_graph_capped, q_knn_graph_wide, q_knn_graph_twophase,
    q_knn_graph_multiprobe, q_knn_graph_mpw, q_knn_graph_staged,
    q_ann_mpw, q_knn_graph_refine, q_ann_opq,
    q_knn_mutual, q_link_predict,
    q_knn_clusters, q_array_hof, q_ann_dim_recall, q_pca_project, q_pca_variance,
    q_pca_transform, q_embed_outliers, q_embed_outliers_pca,
    q_knn_clusters_lsh, q_knn_graph_delta, q_knn_graph_merge,
    q_knn_hubness)
}
