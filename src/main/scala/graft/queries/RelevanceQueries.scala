package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.VectorOps.{dot, norm}
import graft.ops.{EmbeddingOps, RelevanceOps, SimilarityOps, TextOps}
import org.apache.spark.sql.functions._

/** The reference-parity enrichment pipeline surface: relevance keyword
  * analysis (U1), gazetteer extraction (U4), hashed embeddings +
  * semantic search (U5/J9/M8), distinct-set collection (A9), in-group
  * coherence (A18), and centroid imputation with deterministic jitter
  * (M3).
  */
object RelevanceQueries {

  /** U1 relevance bundle as pure column algebra, oracle generated from
    * the same keyword/threshold constants. */
  val q_relevance = QueryDef(
    "q_relevance", {
      val cols = RelevanceOps.analysisSql("ws")
        .map { case (n, e) => s"  $e AS $n" }.mkString(",\n")
      s"""SELECT doc_id,
         |$cols
         |FROM (SELECT doc_id, ${TextOps.wordsSql("text")} AS ws FROM documents)
         |ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    val ws = TextOps.words(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id") +: RelevanceOps.analysisColumns(ws): _*)
      .orderBy(col("doc_id"))
  }

  private val Gazetteer: Seq[String] =
    Seq("customer", "supplier", "order", "line", "part", "region", "nation")

  /** U4 gazetteer extraction: vocabulary-constrained entity mentions
    * (the deterministic NER stand-in, `location_consumer.py:133-156`).
    */
  val q_gazetteer = QueryDef(
    "q_gazetteer", {
      val arr = Gazetteer.map(g => s"'$g'").mkString("[", ", ", "]")
      s"""SELECT doc_id,
         |  COALESCE(array_to_string(list_sort(list_distinct(
         |    list_filter(ws, w -> list_contains($arr, w)))), ','), '') AS mentions,
         |  len(list_filter(ws, w -> list_contains($arr, w))) AS n_mentions
         |FROM (SELECT doc_id, ${TextOps.wordsSql("text")} AS ws FROM documents)
         |ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    val ws = TextOps.words(col("text"))
    val vocab = array(Gazetteer.map(lit): _*)
    val found = filter(ws, w => array_contains(vocab, w))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        array_join(array_sort(array_distinct(found)), ",").as("mentions"),
        size(found).cast("long").as("n_mentions"))
      .orderBy(col("doc_id"))
  }

  /** A9 distinct-set collection per group (`embedding_consumer.py:
    * 297-301`): sorted set serialized for stable comparison. */
  val q_distinct_sets = QueryDef(
    "q_distinct_sets",
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |  array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_seen,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(array_join(array_sort(collect_set(col("event_type"))), ",").as("types_seen"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("day"))
  }

  /** A18 in-group pairwise mean cosine (cluster semantic coherence,
    * `spatial_clustering.py:499-519`) per label.
    *
    * The mean is computed over MICRO-QUANTIZED pair cosines
    * (floor(cos·10⁶ + 0.5) as integers): a plain AVG over tens of
    * thousands of doubles is summation-order-dependent, and Spark's
    * partial aggregation vs DuckDB's sequential sum diverged at a
    * rounding boundary at sf0.1. Integer sums are order-free, so both
    * engines derive the identical double before the final
    * quantization.
    */
  val q_label_coherence = QueryDef(
    "q_label_coherence",
    """WITH n AS (
      |  SELECT vec_id, label, vd, sqrt(list_dot_product(vd, vd)) AS nrm
      |  FROM (SELECT vec_id, label,
      |          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
      |        FROM embeddings)),
      |p AS (
      |  SELECT a.label,
      |    CAST(FLOOR(list_dot_product(a.vd, b.vd) / (a.nrm * b.nrm)
      |         * 1000000 + 0.5) AS BIGINT) AS ci
      |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
      |SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n_pairs,
      |  FLOOR(CAST(SUM(ci) AS DOUBLE) / (COUNT(*) * 1000000.0) * 10000 + 0.5)
      |    / 10000.0 AS avg_cos
      |FROM p GROUP BY label ORDER BY label""".stripMargin) { (spark, dir) =>
    val v = Tables.embeddings(spark, dir).select(
      col("vec_id"), col("label"), col("embedding").cast("array<double>").as("vd"))
      .withColumn("nrm", norm(col("vd")))
    v.as("a").join(v.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.label").cast("long").as("label"),
        floor(dot(col("a.vd"), col("b.vd")) / (col("a.nrm") * col("b.nrm"))
          * 1000000 + 0.5).cast("long").as("ci"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_pairs"),
        (floor(sum(col("ci")).cast("double") / (count(lit(1)) * lit(1000000.0))
          * 10000 + 0.5) / lit(10000.0)).as("avg_cos"))
      .orderBy(col("label"))
  }

  private val CoherenceCap = 30

  /** A18 coherence, bounded: the exact variant above is O(g²) within
    * each label — correct but a quadratic blowup on one hot key at
    * 100 TB. This is the documented scale path: a DETERMINISTIC
    * per-label sample (lowest `CoherenceCap` vec_ids via window top-N)
    * bounds every group's pair count at cap²/2 while preserving an
    * unbiased-enough coherence estimate; the oracle reproduces the same
    * cap, so the bound itself is certified.
    */
  val q_label_coherence_capped = QueryDef(
    "q_label_coherence_capped", {
      val cap = CoherenceCap
      s"""WITH capped AS (
         |  SELECT vec_id, label, vd FROM (
         |    SELECT vec_id, label,
         |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd,
         |      ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS rn
         |    FROM embeddings) t WHERE rn <= $cap),
         |n AS (
         |  SELECT vec_id, label, vd, sqrt(list_dot_product(vd, vd)) AS nrm
         |  FROM capped),
         |p AS (
         |  SELECT a.label,
         |    CAST(FLOOR(list_dot_product(a.vd, b.vd) / (a.nrm * b.nrm)
         |         * 1000000 + 0.5) AS BIGINT) AS ci
         |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
         |SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n_pairs,
         |  FLOOR(CAST(SUM(ci) AS DOUBLE) / (COUNT(*) * 1000000.0) * 10000 + 0.5)
         |    / 10000.0 AS avg_cos
         |FROM p GROUP BY label ORDER BY label""".stripMargin
    }) { (spark, dir) =>
    val byLabel = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label")).orderBy(col("vec_id"))
    val v = Tables.embeddings(spark, dir).select(
      col("vec_id"), col("label"), col("embedding").cast("array<double>").as("vd"))
      .withColumn("rn", row_number().over(byLabel))
      .filter(col("rn") <= CoherenceCap).drop("rn")
      .withColumn("nrm", norm(col("vd")))
    v.as("a").join(v.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.label").cast("long").as("label"),
        floor(dot(col("a.vd"), col("b.vd")) / (col("a.nrm") * col("b.nrm"))
          * 1000000 + 0.5).cast("long").as("ci"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_pairs"),
        (floor(sum(col("ci")).cast("double") / (count(lit(1)) * lit(1000000.0))
          * 10000 + 0.5) / lit(10000.0)).as("avg_cos"))
      .orderBy(col("label"))
  }

  /** M3 centroid imputation + deterministic jitter
    * (`spatial_clustering.py:238-263`): nulls (synthesized on
    * vec_id % 10 = 0) are filled with the label centroid plus an
    * id-hash jitter in ±0.02 — seedable `rand(42)` in the reference,
    * id-hash here so the oracle can reproduce it exactly. */
  val q_impute_coords = QueryDef(
    "q_impute_coords",
    """WITH pts AS (
      |  SELECT vec_id, label,
      |    CASE WHEN vec_id % 10 = 0 THEN NULL
      |         ELSE CAST(embedding[1] AS DOUBLE) END AS x
      |  FROM embeddings),
      |cent AS (
      |  SELECT *, AVG(x) OVER (PARTITION BY label) AS cx
      |  FROM pts)
      |SELECT vec_id, CAST(label AS BIGINT) AS label,
      |  ROUND(COALESCE(x, cx + (((vec_id % 1000) * 2654435761) % 1000) / 1000.0 * 0.04 - 0.02), 6) AS x_imputed,
      |  (x IS NULL) AS was_imputed
      |FROM cent ORDER BY vec_id""".stripMargin) { (spark, dir) =>
    val pts = Tables.embeddings(spark, dir).select(
      col("vec_id"), col("label"),
      when(col("vec_id") % 10 === 0, lit(null))
        .otherwise(element_at(col("embedding"), 1).cast("double")).as("x"))
    val byLabel = org.apache.spark.sql.expressions.Window.partitionBy(col("label"))
    // (id % m) * C % m == (id * C) % m without int64 overflow at scale
    val jitter = (col("vec_id") % 1000L * lit(2654435761L)) % 1000 / lit(1000.0) * 0.04 - 0.02
    pts
      .withColumn("cx", avg(col("x")).over(byLabel))
      .select(col("vec_id"), col("label").cast("long").as("label"),
        round(coalesce(col("x"), col("cx") + jitter), 6).as("x_imputed"),
        col("x").isNull.as("was_imputed"))
      .orderBy(col("vec_id"))
  }

  /** U5 hashed embedding materialization, certified through a scalar
    * digest: the raw `array<float>` stays an internal column (driver
    * checkers can't hash arrays) and the query emits active-bucket
    * count, first-4 components, and extrema — all reproduced exactly by
    * the DuckDB oracle from [[EmbeddingOps.gramAccSqlCtes]] (the
    * portable-hash construction makes the UDF SQL-specifiable). */
  val q_hashed_embedding = QueryDef(
    "q_hashed_embedding", {
      val cs = (0 until 4).map(b =>
        s"    MAX(CASE WHEN b = $b THEN v END) AS c$b").mkString(",\n")
      val csOut = (0 until 4).map(b =>
        s"  ROUND(COALESCE(dig.c$b, 0.0), 6) AS c$b").mkString(",\n")
      s"""WITH ${EmbeddingOps.gramAccSqlCtes("documents", "doc_id", "text")},
         |dig AS (
         |  SELECT id, COUNT(*) AS n_active,
         |    MAX(v) AS mx, MIN(v) AS mn,
         |$cs
         |  FROM comp GROUP BY id)
         |SELECT d.doc_id,
         |  COALESCE(dig.n_active, 0) AS n_active,
         |$csOut,
         |  ROUND(CASE WHEN COALESCE(dig.n_active, 0) < ${EmbeddingOps.Dim}
         |        THEN GREATEST(COALESCE(dig.mx, 0.0), 0.0) ELSE dig.mx END, 6) AS max_comp,
         |  ROUND(CASE WHEN COALESCE(dig.n_active, 0) < ${EmbeddingOps.Dim}
         |        THEN LEAST(COALESCE(dig.mn, 0.0), 0.0) ELSE dig.mn END, 6) AS min_comp
         |FROM documents d LEFT JOIN dig ON dig.id = d.doc_id
         |ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    val e = col("e")
    Tables.documents(spark, dir)
      .select(col("doc_id"), EmbeddingOps.embedCol(col("text")).as("e"))
      .select(
        Seq(
          col("doc_id"),
          size(filter(e, x => x =!= lit(0f))).cast("long").as("n_active")) ++
        (0 until 4).map(b =>
          round(element_at(e, b + 1).cast("double"), 6).as(s"c$b")) ++
        Seq(
          round(array_max(e).cast("double"), 6).as("max_comp"),
          round(array_min(e).cast("double"), 6).as("min_comp")): _*)
      .orderBy(col("doc_id"))
  }

  private val SearchQueryText = "fast join query on big table"

  /** J9/M8 semantic search builder: embed a query string with the
    * hashed encoder, metadata-filter the corpus, exact cosine top-10.
    * Oracle: the query vector's sparse (bucket, value) pairs and its
    * norm are computed at SQL-generation time from the same pure
    * [[EmbeddingOps.embed]]; corpus components come from
    * [[EmbeddingOps.gramAccSqlCtes]]; the metadata filter is passed in
    * both renderings (`chromadb_client.py:221-306` filter combos).
    */
  private def semanticSearch(
      name: String, filterSql: String,
      filterCol: org.apache.spark.sql.Column): QueryDef = QueryDef(
    name, {
      val qe = EmbeddingOps.embed(SearchQueryText).map(_.toDouble)
      // query norm exactly as Spark computes it: left fold over the
      // double-cast float components in index order
      val qn = math.sqrt(qe.foldLeft(0.0)((a, v) => a + v * v))
      val qvRows = qe.zipWithIndex
        .collect { case (v, b) if v != 0.0 => s"($b, CAST($v AS DOUBLE))" }
        .mkString(",\n    ")
      s"""WITH corp AS (SELECT doc_id, text FROM documents WHERE $filterSql),
         |${EmbeddingOps.gramAccSqlCtes("corp", "doc_id", "text")},
         |cn AS (
         |  SELECT id, sqrt(list_reduce(list(v * v ORDER BY b), (a, c) -> a + c))
         |    AS cn
         |  FROM comp GROUP BY id),
         |qv(b, v) AS (VALUES
         |    $qvRows),
         |dt AS (
         |  SELECT comp.id,
         |    list_reduce(list(comp.v * qv.v ORDER BY comp.b), (a, c) -> a + c) AS dot
         |  FROM comp JOIN qv USING (b) GROUP BY comp.id)
         |SELECT CAST(-1 AS BIGINT) AS query_id, rank, id AS neighbor_id,
         |  ROUND(cos, 6) AS cos_sim
         |FROM (
         |  SELECT id, cos, ROW_NUMBER() OVER (ORDER BY cos DESC, id) AS rank
         |  FROM (
         |    SELECT cn.id, COALESCE(dt.dot, 0.0) / (CAST($qn AS DOUBLE) * cn.cn) AS cos
         |    FROM cn LEFT JOIN dt ON dt.id = cn.id) s) t
         |WHERE rank <= 10 ORDER BY rank""".stripMargin
    }) { (spark, dir) =>
    semanticPipeline(Tables.documents(spark, dir), filterCol)
  }

  /** The semantic-search physical pipeline over a given corpus frame —
    * shared between the standalone queries and the hybrid fusion (which
    * passes a materialized scan both branches reuse). The zero-norm
    * exclusion inside semanticTopK drops token-less docs (NaN cosine
    * would sort FIRST) exactly like the oracle's gram CTEs implicitly
    * do; the embedder stays pluggable (HashedEmbedder default).
    */
  private def semanticPipeline(
      docs: org.apache.spark.sql.DataFrame,
      filterCol: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame =
    SimilarityOps.semanticTopK(
      docs.filter(filterCol), "doc_id", "text", SearchQueryText, 10)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos_sim"))
      .orderBy(col("rank"))

  /** Single-filter semantic search (lang metadata filter). */
  val q_semantic_search =
    semanticSearch("q_semantic_search", "lang = 'en'", col("lang") === "en")

  /** Multi-filter semantic search M8: metadata equality + set + text
    * `contains` combined, mirroring the reference's borough/severity/
    * disease-contains filter combos (`chromadb_client.py:221-306`). */
  val q_semantic_search_multi = semanticSearch(
    "q_semantic_search_multi",
    "lang = 'en' AND source IN ('src3', 'src7', 'src12') AND contains(text, 'join')",
    col("lang") === "en" && col("source").isin("src3", "src7", "src12") &&
      col("text").contains("join"))

  /** BM25 lexical retrieval for the same query string the semantic
    * search uses — the keyword side of a hybrid retrieval stack
    * (k1=1.2, b=0.75, Lucene-style idf). Per-(doc, term) contributions
    * are floor-quantized to integer micro-units BEFORE the per-doc
    * sum, so the score is summation-order-free across engines; the df
    * table is broadcast-sized by construction (one row per query
    * term).
    */
  val q_bm25 = QueryDef(
    "q_bm25", {
      val terms = SearchQueryText.split(" ").toSeq.distinct
      val termsArr = terms.map(t => s"'$t'").mkString("[", ", ", "]")
      val ws = TextOps.wordsSql("text")
      s"""WITH docs_ws AS (
         |  SELECT doc_id, $ws AS ws FROM documents),
         |dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM docs_ws),
         |stats AS (
         |  SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
         |tf AS (
         |  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM (
         |    SELECT doc_id, unnest(ws) AS w FROM docs_ws) u
         |  WHERE list_contains($termsArr, w) GROUP BY 1, 2),
         |df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w),
         |contrib AS (
         |  SELECT tf.doc_id,
         |    CAST(FLOOR(
         |      ln((n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE))
         |         + CAST(1.0 AS DOUBLE))
         |      * (tf * (CAST(1.2 AS DOUBLE) + 1))
         |      / (tf + CAST(1.2 AS DOUBLE) * (1 - CAST(0.75 AS DOUBLE)
         |         + CAST(0.75 AS DOUBLE) * dl.dl / avgdl))
         |      * 1000000 + 0.5) AS BIGINT) AS ci
         |  FROM tf JOIN df USING (w) JOIN dl ON dl.doc_id = tf.doc_id
         |  CROSS JOIN stats)
         |SELECT doc_id, CAST(SUM(ci) AS BIGINT) AS score_micro,
         |  CAST(SUM(ci) AS DOUBLE) / 1000000.0 AS score
         |FROM contrib GROUP BY doc_id
         |ORDER BY score_micro DESC, doc_id LIMIT 10""".stripMargin
    }) { (spark, dir) =>
    bm25Pipeline(Tables.documents(spark, dir))
  }

  /** The BM25 physical pipeline over a given corpus frame — shared
    * between the standalone query and the hybrid fusion. */
  private def bm25Pipeline(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val terms = SearchQueryText.split(" ").toSeq.distinct
    // materialized once: feeds tf, dl and the corpus stats (the
    // higher-order tokenizer is the expensive part of all three).
    // Evictable eager persist, NOT localCheckpoint: checkpoint blocks
    // pin to executor storage (query fails on executor loss; the
    // tokenized corpus cannot be required to fit storage at 100 TB)
    // while cache blocks evict and recompute — see graft.ops.Reuse.
    val docsWs = graft.ops.Reuse.materialized(
      docs.select(col("doc_id"), TextOps.words(col("text")).as("ws")))
    val dl = docsWs.select(col("doc_id"), size(col("ws")).cast("long").as("dl"))
    val stats = broadcast(dl.agg(count(lit(1)).as("n_docs"),
      avg(col("dl").cast("double")).as("avgdl")))
    val tf = docsWs
      .select(col("doc_id"), explode(col("ws")).as("w"))
      .filter(col("w").isin(terms: _*))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val df = broadcast(tf.groupBy(col("w")).agg(count(lit(1)).as("df")))
    val k1 = lit(1.2)
    val b = lit(0.75)
    val contrib = tf.join(df, "w").join(dl, "doc_id").crossJoin(stats)
      .select(col("doc_id"),
        floor(
          log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
            * (col("tf") * (k1 + 1))
            / (col("tf") + k1 * (lit(1) - b + b * col("dl") / col("avgdl")))
            * 1000000 + 0.5).cast("long").as("ci"))
    contrib.groupBy(col("doc_id"))
      .agg(sum(col("ci")).as("score_micro"))
      .select(col("doc_id"), col("score_micro"),
        (col("score_micro").cast("double") / lit(1000000.0)).as("score"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(10)
  }

  /** Hybrid retrieval: reciprocal-rank fusion (k=60) of the BM25 and
    * semantic top-10 lists for the same query string — the standard
    * two-tower + keyword fusion. The oracle composes the two certified
    * sub-pipeline oracles as subqueries, so the fusion is verified on
    * top of verified inputs. RRF terms are a two-element sum of
    * identical doubles in both engines; the fused score is
    * floor-quantized to micro-units.
    */
  val q_hybrid_search = QueryDef(
    "q_hybrid_search", {
      val bm25Sql = q_bm25.oracle
      val semSql = q_semantic_search.oracle
      s"""WITH b AS (
         |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id)
         |    AS brank
         |  FROM ($bm25Sql) bt),
         |s AS (
         |  SELECT neighbor_id AS doc_id, rank AS srank FROM ($semSql) st)
         |SELECT COALESCE(b.doc_id, s.doc_id) AS doc_id, b.brank, s.srank,
         |  CAST(FLOOR((COALESCE(CAST(1.0 AS DOUBLE) / (60 + b.brank), 0)
         |            + COALESCE(CAST(1.0 AS DOUBLE) / (60 + s.srank), 0))
         |       * 1000000 + 0.5) AS BIGINT) AS rrf_micro
         |FROM b FULL JOIN s ON s.doc_id = b.doc_id
         |ORDER BY rrf_micro DESC, doc_id LIMIT 10""".stripMargin
    }) { (spark, dir) =>
    // ONE materialized corpus scan feeds both retrieval branches — the
    // standalone queries each scan documents themselves, but fusing
    // them must not pay (or re-tokenize) the scan twice.
    val docs = graft.ops.Reuse.materialized(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("lang")))
    val b = bm25Pipeline(docs)
      .select(col("doc_id"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("score_micro").desc, col("doc_id"))).cast("long").as("brank"))
    val s = semanticPipeline(docs, col("lang") === "en")
      .select(col("neighbor_id").as("doc_id"), col("rank").as("srank"))
    val rrf = coalesce(lit(1.0) / (lit(60) + col("brank")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(60) + col("srank")), lit(0.0))
    b.join(s, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("brank"), col("srank"),
        floor(rrf * 1000000 + 0.5).cast("long").as("rrf_micro"))
      .orderBy(col("rrf_micro").desc, col("doc_id"))
      .limit(10)
  }

  /** Entity co-mention graph with independence lift: for every pair of
    * gazetteer entities, the number of documents mentioning BOTH and
    * the micro-quantized lift n_ab·N / (n_a·n_b) — the document-level
    * co-occurrence companion to q_collocations' adjacency PMI (the
    * reference's location co-mention question, `location_consumer.py`
    * downstream joins, answered corpus-wide). The pair fan-out is per
    * doc over its DISTINCT mentions — gazetteer-vocabulary-bounded,
    * never text-length-bounded; marginals broadcast.
    */
  val q_entity_pairs = QueryDef(
    "q_entity_pairs", {
      val arr = Gazetteer.map(g => s"'$g'").mkString("[", ", ", "]")
      s"""WITH m AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    list_filter(ws, w -> list_contains($arr, w)))) AS e
         |  FROM (SELECT doc_id, ${graft.ops.TextOps.wordsSql("text")} AS ws
         |        FROM documents)),
         |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
         |ec AS (SELECT e, CAST(COUNT(*) AS BIGINT) AS c FROM m GROUP BY 1),
         |p AS (
         |  SELECT a.e AS ent_a, b.e AS ent_b, CAST(COUNT(*) AS BIGINT) AS n_docs
         |  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.e < b.e
         |  GROUP BY 1, 2)
         |SELECT p.ent_a, p.ent_b, p.n_docs,
         |  (p.n_docs * nd.n * 1000000) // (ca.c * cb.c) AS lift_micro
         |FROM p CROSS JOIN nd
         |JOIN ec ca ON ca.e = p.ent_a JOIN ec cb ON cb.e = p.ent_b
         |ORDER BY ent_a, ent_b""".stripMargin
    }) { (spark, dir) =>
    val vocab = array(Gazetteer.map(lit): _*)
    val found = filter(graft.ops.TextOps.words(col("text")),
      w => array_contains(vocab, w))
    val m = graft.ops.Reuse.materialized(Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(found)).as("e")))
    val nd = Tables.documents(spark, dir).agg(count(lit(1)).as("n"))
    val ec = m.groupBy(col("e")).agg(count(lit(1)).as("c"))
    val a = m.select(col("doc_id"), col("e").as("ent_a"))
    val b = m.select(col("doc_id").as("db"), col("e").as("ent_b"))
    a.join(b, col("doc_id") === col("db") && col("ent_a") < col("ent_b"))
      .groupBy(col("ent_a"), col("ent_b"))
      .agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(nd))
      .join(broadcast(ec.select(col("e").as("ent_a"), col("c").as("ca"))),
        Seq("ent_a"))
      .join(broadcast(ec.select(col("e").as("ent_b"), col("c").as("cb"))),
        Seq("ent_b"))
      .select(col("ent_a"), col("ent_b"), col("n_docs"),
        expr("(n_docs * n * 1000000) div (ca * cb)").as("lift_micro"))
      .orderBy(col("ent_a"), col("ent_b"))
  }

  val all: Seq[QueryDef] = Seq(
    q_relevance, q_gazetteer, q_distinct_sets, q_label_coherence,
    q_label_coherence_capped, q_impute_coords, q_hashed_embedding,
    q_semantic_search, q_semantic_search_multi, q_bm25, q_hybrid_search,
    q_entity_pairs)
}
