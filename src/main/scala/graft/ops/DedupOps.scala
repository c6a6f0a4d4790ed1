package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline, batch
  * semantics (SURVEY.md §7.4: symmetric candidate generation with a
  * deterministic winner, replacing the reference's order-dependent
  * trailing-cache tiers at `deduplication_consumer.py:224-288`):
  *
  *  - exact: content-hash groupBy (tier-1, `deduplication_consumer.py:138-166`)
  *  - MinHash + LSH banding: shingle → K min-hashes → band buckets →
  *    bucket-join candidates → exact-Jaccard verify (tier-2 analogue,
  *    never O(n²) — candidate generation is an equi-join on band buckets)
  *  - SimHash: weighted word-hash bit votes → fingerprint → pigeonhole
  *    chunk blocking → Hamming filter (exact at the given radius: with
  *    `SimChunks` chunks and radius < SimChunks, matching pairs must
  *    collide on ≥1 chunk, so blocking loses nothing)
  *
  * Every hash here is the portable [[TextOps.polyHash]] so each
  * operator has a bit-exact DuckDB oracle rendered by the *OracleSql
  * methods from the SAME constants — the oracle is the operator's
  * specification, not an approximation.
  *
  * Scale posture: all stages are shuffle-on-key joins/aggregations over
  * (doc, shingle)-shaped exploded tables; no driver-side state, no
  * cross-product. Skewed shingles (ultra-common 5-grams) would salt or
  * cap via a document-frequency filter at 100 TB.
  */
object DedupOps {

  val P: Long = 2147483647L // 2^31 - 1, Mersenne prime
  val K: Int = 16 // minhash functions
  val Bands: Int = 4
  val RowsPerBand: Int = 4
  require(Bands * RowsPerBand == K)

  /** Deterministic hash-family params, a_i in [1,P), b_i in [0,P). */
  val hashA: Seq[Long] = (1 to K).map(i => (2654435761L * i) % P match {
    case 0 => 1L; case a => a
  })
  val hashB: Seq[Long] = (1 to K).map(i => (2246822519L * i + 12345L) % P)

  val ShingleN = 5
  val SimBits = 40 // polyHash(8 chars) covers ~2^41; use low 40 bits
  val SimChunks = 4 // 4 x 10-bit chunks → exact blocking for radius <= 3
  val SimChunkBits: Int = SimBits / SimChunks

  // ---------------------------------------------------------------- exact

  /** Exact dedup survivors: one row per distinct content hash with the
    * minimal id as the deterministic winner plus the duplicate count.
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Keep-first variant returning full surviving rows (the reference's
    * keep-last upsert A15 `psql_db_client.py:369-380`, with min-id
    * winner for batch determinism).
    */
  def dedupRows(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    docs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  // ------------------------------------------------------------- shingles

  /** Exploded distinct-shingle-HASH table: (id, h). Shingles travel as
    * their 8-byte polynomial hashes from the first explode on — every
    * downstream shuffle/join/aggregate moves longs instead of strings
    * (~30% less shuffle payload, cheaper comparisons). A hash collision
    * merges two shingles into one set element; the oracle computes the
    * identical hash, so both engines see the same merged sets.
    */
  def shingleTable(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // one codegen'd rolling-hash pass per row (ShingleHashes) instead
    // of the interpreted transform(substr)+array_distinct chain — the
    // hash values are identical (TextOps.polyHash algebra), only the
    // evaluation strategy changes
    // input skew: cert-scale documents arrive as
    // ONE unsplittable row group, so the rolling-hash + explode + the
    // df-count partial aggregate fused above them all ran on a single
    // task. Fan the compact (id, text) rows across the cores first — a
    // no-op at scale, where the scan already yields >= parallelism
    // splits. Skipped for streaming frames (no .rdd; micro-batch
    // sources partition by file).
    val spread = Reuse.spreadToCores(
      docs.select(col(idCol).as("id"), col(textCol).as("t")))
    spread.select(col("id"),
      explode(TextOps.shingleHashes(col("t"), ShingleN)).as("h"))
  }

  def shingleTableSql(table: String, idCol: String, textCol: String): String = {
    val h = TextOps.polyHashSql(s"substr($textCol, CAST(g AS INT), $ShingleN)", ShingleN)
    // lateral range bound derived from each text's own length — matches
    // Spark's sequence(1, len - n + 1) at ANY document length (a fixed
    // cap would silently drop shingles of long documents)
    s"""SELECT DISTINCT $idCol AS id, $h AS h
       |  FROM $table CROSS JOIN
       |    UNNEST(range(1, GREATEST(len($textCol) - ${ShingleN - 1}, 0) + 1)) t(g)""".stripMargin
  }

  /** Document-frequency cap for shingles entering similarity indexes.
    * Ultra-common shingles carry no discrimination signal but quadratic
    * join cost (a shingle in c docs meets itself c² times), so both the
    * MinHash and direct-Jaccard paths drop shingles with df > MaxDf —
    * the classic stop-shingle removal that keeps the inverted-index
    * join linear at 100 TB. Jaccard is then defined over the
    * discriminative shingle sets; the oracles replicate the same cap.
    */
  val MaxDf = 200

  /** [[shingleTable]] restricted to shingles with df <= [[MaxDf]],
    * via partial-aggregated per-shingle counts joined back on `h`.
    * Cheaper than the window-count formulation at every scale: the
    * groupBy shuffles only map-side-combined (h, count) rows — tiny
    * next to the full shingle table the window must shuffle AND sort —
    * and AQE picks broadcast vs shuffle for the join-back at runtime
    * (measured 1.6× faster locally; at 100 TB the join-back is a plain
    * equi-join on h either way, never worse than the window's full
    * sort-shuffle).
    */
  def discriminativeShingles(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val st = shingleTable(docs, idCol, textCol)
    val rareKeys = st.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxDf)
      .select(col("h"))
    st.join(rareKeys, "h").select(col("id"), col("h"))
  }

  /** CTE text (sh0/rare/sh) for [[discriminativeShingles]]. */
  def discriminativeShinglesSqlCtes(table: String, idCol: String, textCol: String): String =
    s"""sh0 AS (
       |  ${shingleTableSql(table, idCol, textCol)}),
       |rare AS (SELECT h FROM sh0 GROUP BY h HAVING COUNT(*) <= $MaxDf),
       |sh AS (SELECT sh0.id, sh0.h FROM sh0 JOIN rare USING (h))""".stripMargin

  /** Window length for span-level (exact-substring) duplication — the
    * Lee et al. granularity: long enough that a match is real shared
    * text, short enough to catch partial boilerplate.
    */
  val SpanN = 20

  /** MAXIMAL cross-document duplicated spans: for every doc, merge the
    * [[SpanN]]-char windows whose content also appears in at least one
    * OTHER document into maximal character intervals (gaps-and-islands
    * over window start positions), and report the per-doc span count,
    * covered chars, longest span, and duplicated fraction.
    *
    * This is the substring-level member of the dedup ladder (document
    * → segment → span): [[q_dup_ngram_rate]]-style df counting says
    * HOW MUCH of a doc is duplicated; this says WHERE, in directly
    * removable character intervals — the output a span-trimming
    * curation pass consumes (reference scope: the dedup stage of
    * `dedup_consumer.py`, extended to sub-document granularity).
    *
    * Scale shape: the position table is linear in corpus chars (one
    * codegen'd rolling-hash pass per doc, [[graft.functions.ShinglePosHashes]]);
    * the duplicated-window set is one partial-aggregated df count (NO
    * df cap — high-df windows are the signal here, and the join back
    * is a 1:1 semi-join, so there is no quadratic fan-out); span
    * merging is a per-doc window sort. Three linear shuffles, no
    * pairwise anything, at any corpus size.
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = SpanN): DataFrame = {
    require(n >= 1, s"span window must be >= 1, got $n")
    val pos = docs.select(col(idCol).as("id"),
      posexplode(TextOps.shinglePosHashes(col(textCol), n)))
      .select(col("id"), (col("pos") + 1).as("pos"), col("col").as("h"))
    val dupH = pos.groupBy(col("h"))
      .agg(count_distinct(col("id")).as("ndocs"))
      .filter(col("ndocs") >= 2).select(col("h"))
    val dupPos = pos.join(dupH, Seq("h"), "left_semi")
    val wOrd = Window.partitionBy(col("id")).orderBy(col("pos"))
    val prevEnd = max(col("pos") + n)
      .over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    val islanded = dupPos
      .withColumn("ni",
        when(prevEnd.isNull || col("pos") > prevEnd, 1L).otherwise(0L))
      .withColumn("island",
        sum(col("ni")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
    val spans = islanded.groupBy(col("id"), col("island"))
      .agg(min(col("pos")).as("s"), max(col("pos") + n).as("e"))
    val per = spans.groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s")).cast("long").as("dup_chars"),
        max(col("e") - col("s")).cast("long").as("longest_span"))
    docs.select(col(idCol).as("doc_id"), length(col(textCol)).as("nc"))
      .join(per.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        coalesce(col("longest_span"), lit(0L)).as("longest_span"),
        (floor(coalesce(col("dup_chars"), lit(0L)).cast("double")
          / greatest(col("nc"), lit(1)).cast("double") * 1000000 + 0.5)
          / 1000000.0).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB oracle for [[duplicatedSpans]] — the positional shingle
    * SQL (= [[shingleTableSql]] minus DISTINCT, plus the start
    * position) through the same df-count, semi-join, and
    * gaps-and-islands chain. Integer arithmetic end to end; only the
    * final fraction is floor-quantized.
    */
  def duplicatedSpansOracleSql(table: String, idCol: String, textCol: String,
      n: Int = SpanN): String = {
    // 31^(n-1) exceeds BIGINT for n=20, so the hash goes through the
    // wrap-exact HUGEINT path: exact sum, mod-2^64 residue staged once
    // in pw0, signed mapping in pw (TextOps.polyHashRawHugeSql rationale)
    val raw = TextOps.polyHashRawHugeSql(
      s"substr($textCol, CAST(g AS INT), $n)", n)
    s"""WITH pw0 AS (
       |  SELECT $idCol AS id, g AS pos, ($raw % ${TextOps.Two64Sql}) AS m
       |  FROM $table CROSS JOIN
       |    UNNEST(range(1, GREATEST(len($textCol) - ${n - 1}, 0) + 1)) t(g)),
       |pw AS (
       |  SELECT id, pos, ${TextOps.polyHashWrapFromResidueSql("m")} AS h
       |  FROM pw0),
       |dup AS (SELECT h FROM pw GROUP BY h HAVING COUNT(DISTINCT id) >= 2),
       |dp AS (SELECT pw.id, pw.pos FROM pw JOIN dup USING (h)),
       |fl AS (
       |  SELECT id, pos,
       |    CASE WHEN MAX(pos + $n) OVER (PARTITION BY id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
       |      OR pos > MAX(pos + $n) OVER (PARTITION BY id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      THEN 1 ELSE 0 END AS ni
       |  FROM dp),
       |isl AS (
       |  SELECT id, pos, SUM(ni) OVER (PARTITION BY id ORDER BY pos
       |    ROWS UNBOUNDED PRECEDING) AS island
       |  FROM fl),
       |spans AS (
       |  SELECT id, island, MIN(pos) AS s, MAX(pos + $n) AS e
       |  FROM isl GROUP BY id, island),
       |per AS (
       |  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_spans,
       |    CAST(SUM(e - s) AS BIGINT) AS dup_chars,
       |    CAST(MAX(e - s) AS BIGINT) AS longest_span
       |  FROM spans GROUP BY id)
       |SELECT d.$idCol AS doc_id,
       |  COALESCE(p.n_spans, 0) AS n_spans,
       |  COALESCE(p.dup_chars, 0) AS dup_chars,
       |  COALESCE(p.longest_span, 0) AS longest_span,
       |  FLOOR(CAST(COALESCE(p.dup_chars, 0) AS DOUBLE)
       |    / CAST(GREATEST(len(d.$textCol), 1) AS DOUBLE) * 1000000 + 0.5)
       |    / 1000000.0 AS dup_frac
       |FROM $table d LEFT JOIN per p ON p.id = d.$idCol
       |ORDER BY d.$idCol""".stripMargin
  }

  // -------------------------------------------------------------- minhash

  /** Per-id K-column signature of an exploded (id, h) shingle table. */
  private def sigFromShingles(sh: DataFrame): DataFrame = {
    val h = col("h") % P
    val aggs = (0 until K).map(i =>
      min((lit(hashA(i)) * h + lit(hashB(i))) % P).as(s"m$i"))
    sh.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  private val bandKeys: Seq[String] =
    Seq("band") ++ (0 until RowsPerBand).map(r => s"b$r")

  /** Exploded (id, band, bucket-keys…) table of a signature table.
    * Band bucket = the band's raw minhash longs as join keys (no
    * string concat: equality of the longs ⇔ equality of the
    * concatenated bucket string the oracle renders, and long-tuple
    * hashing shuffles less than decimal strings).
    */
  private def bandBuckets(sig: DataFrame): DataFrame = {
    val bandCols = (0 until Bands).map { j =>
      val ms = (j * RowsPerBand until (j + 1) * RowsPerBand).zipWithIndex
        .map { case (i, r) => col(s"m$i").as(s"b$r") }
      struct((lit(j).as("band") +: ms): _*)
    }
    sig
      .select(col("id"), explode(array(bandCols: _*)).as("bb"))
      .select((col("id") +: bandKeys.map(k => col(s"bb.$k"))): _*)
  }

  /** LSH banding over a signature table → distinct candidate pairs
    * (doc_a < doc_b). */
  private def lshCandidatePairs(sig: DataFrame): DataFrame = {
    val buckets = bandBuckets(sig)
    buckets.as("x").join(buckets.as("y"),
        bandKeys.map(k => col(s"x.$k") === col(s"y.$k"))
          .reduce(_ && _) && col("x.id") < col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"))
      .distinct()
  }

  /** LSH candidate pairs → exact-Jaccard verified near-duplicates.
    * Output: (doc_a, doc_b, jaccard) for pairs with jaccard >= threshold
    * among pairs sharing at least one band bucket.
    *
    * Cache contract: the returned plan reads an eagerly-persisted
    * shingle table (evictable, recomputable). Long-lived sessions that
    * call this repeatedly should call [[Reuse.releaseAllCaches]]
    * between jobs — the blocks are not pinned, but disk-resident ones
    * only vanish on release or session end.
    */
  def minhashNearDuplicates(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    // materialize the discriminative shingle table once: it feeds the
    // signature AND both sides of the verify join (see Reuse for why
    // eager-persist rather than localCheckpoint or nothing)
    val sh = Reuse.materialized(discriminativeShingles(docs, idCol, textCol))
    val cand = lshCandidatePairs(sigFromShingles(sh))

    // candidate-DRIVEN exact-Jaccard verify: explode each candidate
    // pair against its two shingle sets (two equi-joins) instead of
    // self-joining the inverted index and filtering to candidates
    // after — the self-join's per-shingle df² fan-out covers every
    // co-occurring pair whether or not LSH proposed it, which is most
    // of the all-pairs cost the LSH existed to avoid. Work here is
    // Σ_pairs |shingles(doc_a)| — linear in candidates.
    val inter = cand
      .join(sh.select(col("id").as("doc_a"), col("h")), "doc_a")
      .join(sh.select(col("id").as("doc_b"), col("h")), Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val sz = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    inter
      .join(sz.withColumnRenamed("id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sz.withColumnRenamed("id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Shared CTE chain of the MinHash oracle pipeline up to the
    * candidate/verification relations (`sh`, `sig`, `buckets`, `cand`,
    * `sz`, `inter`) — the single source both [[minhashOracleSql]] and
    * [[minhashPairsSqlCtes]] compose on (CTE-only builder + final
    * SELECT, so composition never string-strips a query tail).
    */
  private def minhashBaseCtes: String = {
    val mins = (0 until K).map(i =>
      s"MIN((${hashA(i)} * (h % $P) + ${hashB(i)}) % $P) AS m$i").mkString(",\n    ")
    val bucketRows = (0 until Bands).map { j =>
      val ms = (j * RowsPerBand until (j + 1) * RowsPerBand).map(i => s"CAST(m$i AS VARCHAR)")
      s"SELECT id, $j AS band, concat_ws('_', ${ms.mkString(", ")}) AS bucket FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""${discriminativeShinglesSqlCtes("documents", "doc_id", "text")},
       |sig AS (
       |  SELECT id, $mins
       |  FROM sh GROUP BY id),
       |buckets AS (
       |  $bucketRows),
       |cand AS (
       |  SELECT DISTINCT x.id AS doc_a, y.id AS doc_b
       |  FROM buckets x JOIN buckets y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id),
       |sz AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
       |inter AS (
       |  SELECT a.id AS doc_a, b.id AS doc_b, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.h = b.h AND a.id < b.id
       |  WHERE EXISTS (SELECT 1 FROM cand c WHERE c.doc_a = a.id AND c.doc_b = b.id)
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** DuckDB oracle for [[minhashNearDuplicates]] over `documents` —
    * generated from the same hash constants, including the banding.
    */
  def minhashOracleSql(threshold: Double): String =
    s"""WITH $minhashBaseCtes
       |SELECT c.doc_a, c.doc_b,
       |  ROUND(CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter), 4) AS jaccard
       |FROM cand c
       |JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |JOIN sz sa ON sa.id = c.doc_a
       |JOIN sz sb ON sb.id = c.doc_b
       |WHERE CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) >= $threshold
       |ORDER BY 1, 2""".stripMargin

  /** CTE text rendering the MinHash pipeline up to a
    * `pairs(doc_a, doc_b)` relation of verified near-duplicates —
    * the shared building block for every oracle that composes on top
    * of the certified pair set (groups, decisions, clean corpus,
    * per-source rates). Callers prepend `WITH ` (or `WITH RECURSIVE `)
    * and add their own consuming CTEs/SELECT.
    */
  def minhashPairsSqlCtes(threshold: Double): String =
    s"""$minhashBaseCtes,
       |pairs AS (
       |  SELECT c.doc_a, c.doc_b
       |  FROM cand c
       |  JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |  JOIN sz sa ON sa.id = c.doc_a
       |  JOIN sz sb ON sb.id = c.doc_b
       |  WHERE CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) >= $threshold)""".stripMargin

  /** [[minhashPairsSqlCtes]] with the verified pairs CARRYING their
    * rounded jaccard — for oracles whose downstream arithmetic derives
    * edge weights from the certified similarity (round-to-4 first, so
    * both engines start from the SAME double).
    */
  def minhashScoredPairsSqlCtes(threshold: Double): String =
    s"""$minhashBaseCtes,
       |pairs AS (
       |  SELECT c.doc_a, c.doc_b,
       |    ROUND(CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter), 4)
       |      AS jaccard
       |  FROM cand c
       |  JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |  JOIN sz sa ON sa.id = c.doc_a
       |  JOIN sz sb ON sb.id = c.doc_b
       |  WHERE CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) >= $threshold)""".stripMargin

  /** Near-duplicate GROUP formation: verified MinHash pairs resolved
    * into connected components ([[GraphOps.minLabelComponents]]) with
    * the minimum doc id as the canonical representative — the operator
    * a dedup pipeline actually keys on (pairwise output alone cannot
    * decide a winner when duplicates chain a~b~c). Every document gets
    * a row; singletons are their own canonical group.
    *
    * Cache contract: as [[minhashNearDuplicates]] — call
    * [[Reuse.releaseAllCaches]] between jobs in long-lived sessions.
    */
  def dedupGroups(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double,
      localCcMaxEdges: Long = GraphOps.LocalMaxEdges): DataFrame = {
    // materialize once: the symmetric edge union consumes `pairs`
    // twice, which would re-run the whole MinHash pipeline per branch
    val pairs = Reuse.materialized(
      minhashNearDuplicates(docs, idCol, textCol, threshold)
        .select(col("doc_a"), col("doc_b")))
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val labels = GraphOps.minLabelComponents(edges, localCcMaxEdges)
    docs.select(col(idCol).as("doc_id"))
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("group_id"))
      .withColumn("is_canonical", col("group_id") === col("doc_id"))
  }

  // -------------------------------------------------------------- simhash

  /** Per-doc SimHash fingerprint over weighted word hashes — a pure
    * map-side PROJECTION (codegen'd [[graft.functions.SimHashFp]]
    * one-pass vote loop). The algebraic formulation (explode →
    * per-word counts → 40 conditional sums) shuffles the exploded word
    * table twice for bit-identical output; at 100 TB the signature
    * stage now costs zero shuffles.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val fp = GraftColumnBridge.column(graft.functions.SimHashFp(
      GraftColumnBridge.expression(col("t")), SimBits))
    // spread first: the per-doc fingerprint vote loop
    // otherwise runs on the single-row-group scan's one task
    Reuse.spreadToCores(docs
      // token-less docs are outside the fingerprint domain (the
      // algebraic form and the oracle's unnest-based CTEs both drop
      // them); trim != '' is the codegen'd equivalent of words > 0
      .filter(trim(col(textCol)) =!= "")
      .select(col(idCol).as("id"), col(textCol).as("t")))
      .select(col("id"), fp.as("simhash"))
  }

  /** Near-duplicate pairs with Hamming distance <= maxHamming, found by
    * pigeonhole chunk blocking (exact for maxHamming < SimChunks).
    */
  def simhashNearDuplicates(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming < SimChunks, "pigeonhole blocking needs radius < chunks")
    val sh = simhash(docs, idCol, textCol)
    val chunkCols = (0 until SimChunks).map { k =>
      struct(lit(k).as("k"),
        shiftright(col("simhash"), k * SimChunkBits)
          .bitwiseAND(lit((1L << SimChunkBits) - 1)).as("c"))
    }
    val chunks = sh
      .select(col("id"), col("simhash"), explode(array(chunkCols: _*)).as("kc"))
      .select(col("id"), col("simhash"), col("kc.k"), col("kc.c"))
    chunks.as("x").join(chunks.as("y"),
        col("x.k") === col("y.k") && col("x.c") === col("y.c") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** DuckDB oracle for [[simhashNearDuplicates]] over `documents`. */
  def simhashOracleSql(maxHamming: Int): String = {
    val wh = TextOps.wordHashSql("w")
    val sums = (0 until SimBits).map(j =>
      s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN cnt ELSE -cnt END) AS s$j")
      .mkString(",\n    ")
    val fp = (0 until SimBits).map(j =>
      s"CASE WHEN s$j > 0 THEN CAST(1 AS BIGINT) << $j ELSE 0 END")
      .mkString(" + ")
    val chunkRows = (0 until SimChunks).map { k =>
      s"SELECT id, simhash, $k AS k, (simhash >> ${k * SimChunkBits}) & ${(1L << SimChunkBits) - 1} AS c FROM fp"
    }.mkString("\n  UNION ALL ")
    s"""WITH wc AS (
       |  SELECT id, w, cnt, $wh AS h FROM (
       |    SELECT doc_id AS id, w, COUNT(*) AS cnt
       |    FROM (SELECT doc_id, unnest(${TextOps.wordsSql("text")}) AS w FROM documents)
       |    GROUP BY 1, 2)),
       |sums AS (
       |  SELECT id, $sums
       |  FROM wc GROUP BY id),
       |fp AS (SELECT id, $fp AS simhash FROM sums),
       |chunks AS (
       |  $chunkRows)
       |SELECT DISTINCT x.id AS doc_a, y.id AS doc_b,
       |  CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
       |FROM chunks x JOIN chunks y
       |  ON x.k = y.k AND x.c = y.c AND x.id < y.id
       |WHERE bit_count(xor(x.simhash, y.simhash)) <= $maxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // -------------------------------------- direct n-gram Jaccard (no LSH)

  /** All-pairs n-gram Jaccard >= threshold over the discriminative
    * shingle sets via the inverted index (pairs sharing no rare shingle
    * never meet; per-shingle fan-out bounded by MaxDf² — linear-ish at
    * scale, though the MinHash-LSH path above is still the cheaper one
    * on a 100 TB corpus).
    *
    * Cache contract: as [[minhashNearDuplicates]] — call
    * [[Reuse.releaseAllCaches]] between jobs in long-lived sessions.
    */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    val sh = Reuse.materialized(discriminativeShingles(docs, idCol, textCol))
    val sz = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sz.withColumnRenamed("id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sz.withColumnRenamed("id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  def ngramJaccardOracleSql(threshold: Double): String =
    s"""WITH ${discriminativeShinglesSqlCtes("documents", "doc_id", "text")},
       |sz AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
       |inter AS (
       |  SELECT a.id AS doc_a, b.id AS doc_b, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.h = b.h AND a.id < b.id
       |  GROUP BY 1, 2)
       |SELECT i.doc_a, i.doc_b,
       |  ROUND(CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter), 4) AS jaccard
       |FROM inter i JOIN sz sa ON sa.id = i.doc_a JOIN sz sb ON sb.id = i.doc_b
       |WHERE CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Asymmetric shingle CONTAINMENT near-duplicates: containment =
    * |shingles(small) ∩ shingles(big)| / |shingles(small)| — the
    * partial-duplication detector Jaccard structurally misses (a
    * paragraph fully embedded in a much longer document has high
    * containment but low Jaccard, because the union is dominated by
    * the big doc). Output is DIRECTED: (contained_doc, container_doc)
    * where the contained side is the smaller shingle set (ties → the
    * lower id, which the `a.id < b.id` join order makes exact).
    * Same inverted-index candidate shape as [[ngramJaccardPairs]] —
    * per-shingle fan-out bounded by the MaxDf df-cap, never all-pairs.
    *
    * Cache contract: as [[minhashNearDuplicates]] — call
    * [[Reuse.releaseAllCaches]] between jobs in long-lived sessions.
    */
  def containmentPairs(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    val sh = Reuse.materialized(discriminativeShingles(docs, idCol, textCol))
    val sz = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sz.withColumnRenamed("id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sz.withColumnRenamed("id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .withColumn("containment",
        col("inter").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= threshold)
      .select(
        when(col("na") <= col("nb"), col("doc_a")).otherwise(col("doc_b"))
          .as("contained_doc"),
        when(col("na") <= col("nb"), col("doc_b")).otherwise(col("doc_a"))
          .as("container_doc"),
        round(col("containment"), 4).as("containment"))
  }

  // --------------------------------------- signature-accuracy estimate

  /** MinHash signature-accuracy audit: for every LSH candidate pair,
    * the signature-ESTIMATED Jaccard (fraction of the K minhash
    * components that agree — the unbiased estimator the sketch is
    * built on) next to the EXACT shingle Jaccard and the absolute
    * error. This is the measurement a pipeline operator tunes K /
    * banding against: at 100 TB nobody re-verifies every candidate
    * with exact set intersection, so the estimator's observed error
    * distribution on a sample IS the dedup quality bound. Estimates
    * are exact multiples of 1/K (binary-exact in double for K=16), so
    * engine and oracle agree bit-for-bit.
    *
    * Candidates with zero common shingles (possible: a band of K/4
    * hash agreements does not imply set overlap) surface with
    * jaccard = 0 — the estimator's false-positive tail, kept visible
    * on purpose.
    *
    * Cache contract: as [[minhashNearDuplicates]] — call
    * [[Reuse.releaseAllCaches]] between jobs in long-lived sessions.
    */
  def minhashEstimatePairs(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sh = Reuse.materialized(discriminativeShingles(docs, idCol, textCol))
    val sig = Reuse.materialized(sigFromShingles(sh))
    // cand feeds the exact-intersection join AND the final select
    val cand = Reuse.materialized(lshCandidatePairs(sig))
    val inter = cand
      .join(sh.select(col("id").as("doc_a"), col("h")), "doc_a")
      .join(sh.select(col("id").as("doc_b"), col("h")), Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val sz = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val eq = (0 until K).map(i =>
      when(col(s"a.m$i") === col(s"b.m$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(sig.as("a"), col("doc_a") === col("a.id"))
      .join(sig.as("b"), col("doc_b") === col("b.id"))
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sz.withColumnRenamed("id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sz.withColumnRenamed("id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .withColumn("i0", coalesce(col("inter"), lit(0L)))
      .withColumn("est_jaccard", eq.cast("double") / K)
      .withColumn("jaccard",
        col("i0").cast("double") / (col("na") + col("nb") - col("i0")))
      .select(col("doc_a"), col("doc_b"),
        round(col("est_jaccard"), 4).as("est_jaccard"),
        round(col("jaccard"), 4).as("jaccard"),
        round(abs(col("est_jaccard") - col("jaccard")), 4).as("abs_err"))
  }

  /** DuckDB oracle for [[minhashEstimatePairs]] over `documents`. */
  def minhashEstimateOracleSql: String = {
    val eq = (0 until K).map(i =>
      s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $minhashBaseCtes
       |SELECT c.doc_a, c.doc_b,
       |  ROUND(CAST($eq AS DOUBLE) / $K, 4) AS est_jaccard,
       |  ROUND(CAST(COALESCE(i.inter, 0) AS DOUBLE)
       |    / (za.n + zb.n - COALESCE(i.inter, 0)), 4) AS jaccard,
       |  ROUND(ABS(CAST($eq AS DOUBLE) / $K
       |    - CAST(COALESCE(i.inter, 0) AS DOUBLE)
       |      / (za.n + zb.n - COALESCE(i.inter, 0))), 4) AS abs_err
       |FROM cand c
       |JOIN sig sa ON sa.id = c.doc_a
       |JOIN sig sb ON sb.id = c.doc_b
       |LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |JOIN sz za ON za.id = c.doc_a
       |JOIN sz zb ON zb.id = c.doc_b
       |ORDER BY 1, 2""".stripMargin
  }

  // ------------------------------------------------ incremental dedup

  /** INCREMENTAL near-dup check of a new batch against an existing
    * index corpus — the production shape of dedup at 100 TB (a daily
    * crawl is checked against the historical index; the index is
    * never self-joined again). `isNew` splits the corpus; semantics:
    *
    *  - the df-cap (discriminative shingles) is computed on the INDEX
    *    side only — the index defines what is discriminative, a new
    *    batch must not shift it;
    *  - candidates are the ASYMMETRIC band-bucket join new × index
    *    (never new × new or index × index — exactly the saved work);
    *  - each new doc reports its single BEST index match (highest
    *    verified Jaccard, ties to the lowest index id) at or above
    *    the threshold.
    *
    * Output: (new_id, match_id, jaccard). Work is linear in the batch
    * at a fixed index: batch shingles + bucket probes + per-candidate
    * verification.
    *
    * Cache contract: as [[minhashNearDuplicates]] — call
    * [[Reuse.releaseAllCaches]] between jobs in long-lived sessions.
    */
  def incrementalNearDuplicates(
      docs: DataFrame, idCol: String, textCol: String,
      isNew: Column, threshold: Double): DataFrame = {
    val index = buildIncrementalIndex(
      docs.filter(!isNew), idCol, textCol)
    probeIncremental(index, docs.filter(isNew), idCol, textCol, threshold)
  }

  /** The STATIC index-side artifacts of the incremental dedup,
    * computed once and probed by any number of new batches (the
    * streaming twin [[graft.queries.StreamQueries.q_stream_incremental_dedup]]
    * probes micro-batches against one of these): the index-defined
    * discriminative-shingle set, the index's rare-filtered shingle
    * table, its band buckets, and its per-doc shingle sizes — all
    * materialized, since every probe reuses them.
    */
  final case class IncrementalIndex(
      rare: DataFrame, shIdx: DataFrame, bucketsIdx: DataFrame, sizesIdx: DataFrame)

  def buildIncrementalIndex(
      indexDocs: DataFrame, idCol: String, textCol: String): IncrementalIndex = {
    val stI = shingleTable(indexDocs, idCol, textCol)
    val rare = Reuse.materialized(
      stI.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= MaxDf)
        .select(col("h")))
    val shIdx = Reuse.materialized(stI.join(rare, "h").select(col("id"), col("h")))
    val bucketsIdx = Reuse.materialized(bandBuckets(sigFromShingles(shIdx)))
    val sizesIdx = Reuse.materialized(
      shIdx.groupBy(col("id")).agg(count(lit(1)).as("n")))
    IncrementalIndex(rare, shIdx, bucketsIdx, sizesIdx)
  }

  /** Probe a batch of NEW docs against a static [[IncrementalIndex]]:
    * asymmetric band-bucket candidates (new × index only), exact
    * Jaccard verification against the index shingle table, best index
    * match per new doc. Work is linear in the batch at a fixed index.
    */
  def probeIncremental(
      index: IncrementalIndex, newDocs: DataFrame,
      idCol: String, textCol: String, threshold: Double): DataFrame = {
    // the batch's shingles filtered by the INDEX-defined rare set (a
    // new batch must not shift what is discriminative)
    val shN = Reuse.materialized(
      shingleTable(newDocs, idCol, textCol)
        .join(index.rare, "h").select(col("id"), col("h")))
    val bN = bandBuckets(sigFromShingles(shN))
    val cand = bN.as("n").join(index.bucketsIdx.as("i"),
        bandKeys.map(k => col(s"n.$k") === col(s"i.$k")).reduce(_ && _))
      .select(col("n.id").as("new_id"), col("i.id").as("match_id"))
      .distinct()
    val inter = cand
      .join(shN.select(col("id").as("new_id"), col("h")), "new_id")
      .join(index.shIdx.select(col("id").as("match_id"), col("h")),
        Seq("match_id", "h"))
      .groupBy(col("new_id"), col("match_id"))
      .agg(count(lit(1)).as("inter"))
    val szN = shN.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val verified = inter
      .join(szN.withColumnRenamed("id", "new_id").withColumnRenamed("n", "na"), "new_id")
      .join(index.sizesIdx
        .withColumnRenamed("id", "match_id").withColumnRenamed("n", "nb"), "match_id")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
    val w = Window.partitionBy(col("new_id"))
      .orderBy(col("jaccard").desc, col("match_id"))
    verified
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("new_id"), col("match_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** DuckDB oracle for [[incrementalNearDuplicates]] over `documents`
    * with `isNewSql` as the split predicate on `doc_id`.
    */
  def incrementalOracleSql(isNewSql: String, threshold: Double): String = {
    val mins = (0 until K).map(i =>
      s"MIN((${hashA(i)} * (h % $P) + ${hashB(i)}) % $P) AS m$i").mkString(",\n    ")
    def bucketRows(src: String) = (0 until Bands).map { j =>
      val ms = (j * RowsPerBand until (j + 1) * RowsPerBand).map(i => s"CAST(m$i AS VARCHAR)")
      s"SELECT id, $j AS band, concat_ws('_', ${ms.mkString(", ")}) AS bucket FROM $src"
    }.mkString("\n  UNION ALL ")
    s"""WITH sh0 AS (
       |  ${shingleTableSql("documents", "doc_id", "text")}),
       |ids AS (SELECT doc_id AS id, ($isNewSql) AS is_new FROM documents),
       |rare AS (
       |  SELECT h FROM sh0 JOIN ids USING (id)
       |  WHERE NOT is_new GROUP BY h HAVING COUNT(*) <= $MaxDf),
       |sh AS (SELECT sh0.id, sh0.h FROM sh0 JOIN rare USING (h)),
       |sig AS (
       |  SELECT id, $mins
       |  FROM sh GROUP BY id),
       |sigN AS (SELECT sig.* FROM sig JOIN ids USING (id) WHERE is_new),
       |sigI AS (SELECT sig.* FROM sig JOIN ids USING (id) WHERE NOT is_new),
       |bN AS (
       |  ${bucketRows("sigN")}),
       |bI AS (
       |  ${bucketRows("sigI")}),
       |cand AS (
       |  SELECT DISTINCT n.id AS new_id, i.id AS match_id
       |  FROM bN n JOIN bI i ON n.band = i.band AND n.bucket = i.bucket),
       |inter AS (
       |  SELECT a.id AS new_id, b.id AS match_id, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.h = b.h
       |  WHERE EXISTS (SELECT 1 FROM cand c
       |    WHERE c.new_id = a.id AND c.match_id = b.id)
       |  GROUP BY 1, 2),
       |sz AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
       |verified AS (
       |  SELECT i.new_id, i.match_id,
       |    CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) AS jaccard
       |  FROM inter i
       |  JOIN sz sa ON sa.id = i.new_id
       |  JOIN sz sb ON sb.id = i.match_id
       |  WHERE CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) >= $threshold)
       |SELECT new_id, match_id, ROUND(jaccard, 4) AS jaccard FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY new_id
       |    ORDER BY jaccard DESC, match_id) AS rn
       |  FROM verified) t WHERE rn = 1
       |ORDER BY new_id""".stripMargin
  }

  // ------------------------------------ segment-level ("line") dedup

  val SegWords = 10

  /** CCNet-style line-level dedup, delimiter-free: each document is
    * cut into consecutive [[SegWords]]-word segments (the fixed-width
    * analogue of "lines" for corpora without newline structure), a
    * segment occurring in more than one document is kept only in the
    * lowest-id document, and each doc reports its segment counts plus
    * the md5 of its CLEANED text (kept segments re-joined in order) —
    * the per-doc artifact a curation pipeline writes back. Two
    * shuffles (segment groupBy + per-doc re-aggregation), linear in
    * corpus size — the same inverted-index shape as exact dedup, one
    * granularity finer.
    */
  def segmentDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = SegWords
    // spread first: tokenize + segment explode otherwise
    // run on the single-row-group scan's one task
    val segs = Reuse.spreadToCores(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("t")))
      .select(col("doc_id"), TextOps.words(col("t")).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, cast(ceil(size(ws) / $w.0) as int) - 1),
           |  i -> array_join(slice(ws, i * $w + 1, $w), ' '))""".stripMargin))
        .as(Seq("seg_idx", "seg")))
    val dup = segs.groupBy(col("seg"))
      .agg(count_distinct(col("doc_id")).as("ndocs"),
        min(col("doc_id")).as("first_doc"))
    segs.join(dup, "seg")
      .withColumn("keep",
        col("ndocs") === 1 || col("doc_id") === col("first_doc"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("kept_segs"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("seg_idx"), col("seg"))))),
          x => x.getField("seg")), " ")).as("clean_hash"))
  }

  /** DuckDB oracle for [[segmentDedup]] over `documents`. */
  def segmentDedupOracleSql: String = {
    val w = SegWords
    s"""WITH wt AS (
       |  SELECT doc_id, ${TextOps.wordsSql("text")} AS ws FROM documents),
       |segs AS (
       |  SELECT doc_id, t.i AS seg_idx,
       |    array_to_string(ws[(t.i * $w + 1):(t.i * $w + $w)], ' ') AS seg
       |  FROM wt CROSS JOIN
       |    UNNEST(range(CAST(ceil(len(ws) / $w.0) AS BIGINT))) t(i)
       |  WHERE len(ws) > 0),
       |dup AS (
       |  SELECT seg, COUNT(DISTINCT doc_id) AS ndocs, MIN(doc_id) AS first_doc
       |  FROM segs GROUP BY seg),
       |k AS (
       |  SELECT s.doc_id, s.seg_idx, s.seg,
       |    (d.ndocs = 1 OR s.doc_id = d.first_doc) AS keep
       |  FROM segs s JOIN dup d USING (seg))
       |SELECT doc_id, COUNT(*) AS n_segs,
       |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept_segs,
       |  md5(COALESCE(
       |    string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE keep),
       |    '')) AS clean_hash
       |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  def containmentOracleSql(threshold: Double): String =
    s"""WITH ${discriminativeShinglesSqlCtes("documents", "doc_id", "text")},
       |sz AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
       |inter AS (
       |  SELECT a.id AS doc_a, b.id AS doc_b, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.h = b.h AND a.id < b.id
       |  GROUP BY 1, 2)
       |SELECT
       |  CASE WHEN sa.n <= sb.n THEN i.doc_a ELSE i.doc_b END AS contained_doc,
       |  CASE WHEN sa.n <= sb.n THEN i.doc_b ELSE i.doc_a END AS container_doc,
       |  ROUND(CAST(i.inter AS DOUBLE) / LEAST(sa.n, sb.n), 4) AS containment
       |FROM inter i JOIN sz sa ON sa.id = i.doc_a JOIN sz sb ON sb.id = i.doc_b
       |WHERE CAST(i.inter AS DOUBLE) / LEAST(sa.n, sb.n) >= $threshold
       |ORDER BY contained_doc, container_doc""".stripMargin

  // ------------------------------------------ bag (multiset) Jaccard

  /** Multiset ("bag") Jaccard near-duplicates: Σ min(tf_a, tf_b) /
    * Σ max(tf_a, tf_b) over word-token frequencies — the weighted
    * similarity that SET Jaccard flattens (a doc that repeats one
    * paragraph five times set-matches a single copy perfectly; bag
    * similarity sees the frequency gap). Candidates come from the SAME
    * certified shingle-LSH banding as [[minhashNearDuplicates]]
    * (generation and verification measures are independent concerns —
    * the banding bounds candidate volume, the bag measure re-scores
    * them), verification joins only SHARED tokens per candidate
    * (Σ max = tot_a + tot_b − Σ min, so unshared tokens never travel).
    * Token identity is the portable [[TextOps.wordHash]], replayed
    * exactly by the oracle.
    *
    * Cache contract: as [[minhashNearDuplicates]] — call
    * [[Reuse.releaseAllCaches]] between jobs in long-lived sessions.
    */
  def bagJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    val sh = Reuse.materialized(discriminativeShingles(docs, idCol, textCol))
    val cand = lshCandidatePairs(sigFromShingles(sh))
    // spread first: the word-hash explode + partial tf
    // count otherwise run on the single-row-group scan's one task
    val tf = Reuse.materialized(Reuse.spreadToCores(
        docs.select(col(idCol).as("id"), col(textCol).as("t")))
      .select(col("id"), explode(TextOps.wordHashes(col("t"))).as("w"))
      .groupBy(col("id"), col("w")).agg(count(lit(1)).as("tf")))
    val tot = tf.groupBy(col("id")).agg(sum(col("tf")).as("t"))
    cand
      .join(tf.select(col("id").as("doc_a"), col("w"), col("tf").as("tfa")),
        "doc_a")
      .join(tf.select(col("id").as("doc_b"), col("w"), col("tf").as("tfb")),
        Seq("doc_b", "w"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(least(col("tfa"), col("tfb"))).as("inter"))
      .join(tot.withColumnRenamed("id", "doc_a").withColumnRenamed("t", "ta"), "doc_a")
      .join(tot.withColumnRenamed("id", "doc_b").withColumnRenamed("t", "tb"), "doc_b")
      .withColumn("bag_jaccard",
        col("inter").cast("double") / (col("ta") + col("tb") - col("inter")))
      .filter(col("bag_jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("bag_jaccard"), 4).as("bag_jaccard"))
  }

  def bagJaccardOracleSql(threshold: Double): String =
    s"""WITH $minhashBaseCtes,
       |tf AS (
       |  SELECT id, ${TextOps.wordHashSql("w")} AS w, COUNT(*) AS tf
       |  FROM (SELECT doc_id AS id, UNNEST(${TextOps.wordsSql("text")}) AS w
       |        FROM documents)
       |  GROUP BY 1, 2),
       |tot AS (SELECT id, CAST(SUM(tf) AS BIGINT) AS t FROM tf GROUP BY id),
       |binter AS (
       |  SELECT c.doc_a, c.doc_b, CAST(SUM(LEAST(a.tf, b.tf)) AS BIGINT) AS i
       |  FROM cand c JOIN tf a ON a.id = c.doc_a
       |  JOIN tf b ON b.id = c.doc_b AND b.w = a.w
       |  GROUP BY 1, 2)
       |SELECT b.doc_a, b.doc_b,
       |  ROUND(CAST(b.i AS DOUBLE) / (ta.t + tb.t - b.i), 4) AS bag_jaccard
       |FROM binter b JOIN tot ta ON ta.id = b.doc_a
       |JOIN tot tb ON tb.id = b.doc_b
       |WHERE CAST(b.i AS DOUBLE) / (ta.t + tb.t - b.i) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------ sorted-neighborhood blocking

  /** Sorted-key prefix length and neighbor-window width for
    * [[sortedNeighborhoodPairs]]. Prefix 4 keeps blocks small enough
    * to window cheaply while still co-locating mutated copies (the
    * corpus's near-dups share long prefixes); window 2 follows the
    * classic SNM default (compare each record with its w-1 sorted
    * successors).
    */
  val SnPrefix = 4
  val SnWindow = 2

  /** Sorted-Neighborhood Method candidates + exact-Jaccard verify —
    * the third classic candidate-generation strategy next to LSH
    * banding ([[minhashNearDuplicates]]) and the inverted index
    * ([[ngramJaccardPairs]]): sort by a derived key, compare each
    * record only with its [[SnWindow]] sorted successors. Sorting is
    * PARTITIONED by the [[SnPrefix]]-char lowercase prefix (the
    * classic single global sort would funnel everything through one
    * partition in Spark — blocked SNM keeps every window computation
    * parallel and is how multi-pass SNM is deployed anyway), then
    * candidates are verified with the same df-capped discriminative-
    * shingle Jaccard the other dedup paths certify against. Recall is
    * bounded by the sort key (dups differing in their first 4 chars
    * never meet) — the documented SNM trade; production runs multiple
    * passes with different keys and unions the pairs.
    */
  def sortedNeighborhoodPairs(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    val key = docs.select(col(idCol).as("id"), col(textCol).as("txt"),
      substring(lower(col(textCol)), 1, SnPrefix).as("pre"))
    val w = Window.partitionBy(col("pre")).orderBy(col("txt"), col("id"))
    val nb = key.select(
      col("id") +: (1 to SnWindow).map(d =>
        lead(col("id"), d).over(w).as(s"n$d")): _*)
    val cand = (1 to SnWindow).map { d =>
      nb.filter(col(s"n$d").isNotNull)
        .select(least(col("id"), col(s"n$d")).as("doc_a"),
          greatest(col("id"), col(s"n$d")).as("doc_b"))
    }.reduce(_ union _).distinct()
    val sh = Reuse.materialized(discriminativeShingles(docs, idCol, textCol))
    val sz = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    cand
      .join(sh.select(col("id").as("doc_a"), col("h")), "doc_a")
      .join(sh.select(col("id").as("doc_b"), col("h")), Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sz.withColumnRenamed("id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sz.withColumnRenamed("id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  def sortedNeighborhoodOracleSql(threshold: Double): String = {
    // leads and the candidate UNION are rendered from SnWindow so the
    // oracle tracks the engine constant by construction
    val leads = (1 to SnWindow)
      .map(d => s"LEAD(id, $d) OVER w AS n$d").mkString(",\n    ")
    val cands = (1 to SnWindow)
      .map(d => s"SELECT LEAST(id, n$d) AS doc_a, GREATEST(id, n$d) AS doc_b" +
        s" FROM nb WHERE n$d IS NOT NULL")
      .mkString("\n  UNION\n  ")
    s"""WITH ${discriminativeShinglesSqlCtes("documents", "doc_id", "text")},
       |key AS (SELECT doc_id AS id, text AS txt,
       |    SUBSTR(LOWER(text), 1, $SnPrefix) AS pre FROM documents),
       |nb AS (SELECT id,
       |    $leads
       |  FROM key WINDOW w AS (PARTITION BY pre ORDER BY txt, id)),
       |cand AS (
       |  $cands),
       |sz AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
       |  FROM cand c JOIN sh a ON a.id = c.doc_a
       |  JOIN sh b ON b.id = c.doc_b AND b.h = a.h
       |  GROUP BY 1, 2)
       |SELECT i.doc_a, i.doc_b,
       |  ROUND(CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter), 4) AS jaccard
       |FROM inter i JOIN sz sa ON sa.id = i.doc_a JOIN sz sb ON sb.id = i.doc_b
       |WHERE CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin
  }
}
