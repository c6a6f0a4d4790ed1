package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.{Memos, TextOps}
import org.apache.spark.sql.functions._

/** Text-analysis surface for the training-data pipeline over the
  * `documents` table: token statistics, quality scoring, marker-based
  * language ID, hashing/fingerprinting. All pure column algebra
  * (SURVEY.md §2.8 scalar-function inventory; reference text assembly
  * and keyword scans `relevance_consumer.py:177-233`,
  * `deduplication_consumer.py:123-136`).
  */
object TextQueries {

  /** Explode-then-top-N word frequency (the unnest+count+limit shape of
    * `app_upgraded.py:80-90`). */
  val q_top_words = QueryDef(
    "q_top_words",
    s"""SELECT w AS word, COUNT(*) AS n
       |FROM (SELECT unnest(${TextOps.wordsSql("text")}) AS w FROM documents)
       |GROUP BY w ORDER BY n DESC, word LIMIT 20""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(explode(TextOps.words(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(20)
  }

  /** q_top_words re-shaped through the single-pass bounded-heap
    * aggregate ([[graft.functions.TopKRows]]) — SAME oracle, different
    * plan: one ObjectHashAggregate pass whose partial buffers carry at
    * most k rows each, instead of a sort/limit stage after the count
    * aggregate. Descending count order is expressed by negating the
    * count in the sort struct; the aggregate emits the array already
    * in (n DESC, word ASC) order, so the explode IS the final order.
    */
  val q_topk_words = QueryDef(
    "q_topk_words",
    s"""SELECT w AS word, COUNT(*) AS n
       |FROM (SELECT unnest(${TextOps.wordsSql("text")}) AS w FROM documents)
       |GROUP BY w ORDER BY n DESC, word LIMIT 20""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(explode(TextOps.words(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .agg(graft.functions.TopKRows.topK(
        struct((-col("n")).as("nn"), col("word").as("word")), 20).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.word").as("word"), (-col("t.nn")).as("n"))
  }

  /** Per-document quality metrics: token count, mean token length,
    * stopword ratio, punctuation ratio, composite quality score —
    * the P6-style length/quality guards as first-class columns.
    */
  val q_text_quality = QueryDef(
    "q_text_quality", {
      val ws = TextOps.wordsSql("text")
      val hits = TextOps.tokenHitsSql("ws", TextOps.Stopwords)
      s"""SELECT doc_id, n_tokens,
         |  ROUND(avg_token_len, 6) AS avg_token_len,
         |  ROUND(stop_ratio, 6) AS stopword_ratio,
         |  ROUND(punct_ratio, 6) AS punct_ratio,
         |  ROUND(LEAST(1.0, n_tokens / 100.0) * (1 - punct_ratio)
         |        * (1 - LEAST(0.5, stop_ratio)), 6) AS quality_score
         |FROM (
         |  SELECT doc_id,
         |    len(ws) AS n_tokens,
         |    CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / len(ws) AS avg_token_len,
         |    CAST($hits AS DOUBLE) / len(ws) AS stop_ratio,
         |    CAST(len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
         |      / len(text) AS punct_ratio
         |  FROM (SELECT doc_id, text, $ws AS ws FROM documents)
         |  WHERE len(ws) > 0)
         |ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    val ws = TextOps.words(col("text"))
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), ws.as("ws"))
      .filter(size(col("ws")) > 0)
      .select(
        col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        (aggregate(transform(col("ws"), w => length(w)), lit(0),
          (acc, v) => acc + v).cast("double") / size(col("ws"))).as("avg_token_len"),
        (TextOps.tokenHits(col("ws"), TextOps.Stopwords).cast("double") /
          size(col("ws"))).as("stop_ratio"),
        (length(regexp_replace(lower(col("text")), "[a-z0-9 ]", "")).cast("double") /
          length(col("text"))).as("punct_ratio"))
    base.select(
      col("doc_id"), col("n_tokens"),
      round(col("avg_token_len"), 6).as("avg_token_len"),
      round(col("stop_ratio"), 6).as("stopword_ratio"),
      round(col("punct_ratio"), 6).as("punct_ratio"),
      round(least(lit(1.0), col("n_tokens") / 100.0) * (lit(1) - col("punct_ratio"))
        * (lit(1) - least(lit(0.5), col("stop_ratio"))), 6).as("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** Token-count statistics per source (the per-stage throughput
    * accounting surface, token counting for pipeline budgeting). */
  val q_token_stats = QueryDef(
    "q_token_stats",
    s"""SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(len(${TextOps.wordsSql("text")})) AS BIGINT) AS total_tokens,
       |  ROUND(AVG(len(${TextOps.wordsSql("text")})), 4) AS avg_tokens
       |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    val ntok = size(TextOps.words(col("text")))
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(ntok.cast("long")).as("total_tokens"),
        round(avg(ntok), 4).as("avg_tokens"))
      .orderBy(col("source"))
  }

  /** Language-column profile (A4-style group distribution). */
  val q_lang_stats = QueryDef(
    "q_lang_stats",
    """SELECT lang, COUNT(*) AS n, ROUND(AVG(n_chars), 4) AS avg_chars,
      |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), round(avg("n_chars"), 4).as("avg_chars"),
        min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
      .orderBy(col("lang"))
  }

  /** Content hashing — sha256/md5 id surface (`deduplication_consumer.py:
    * 148`, `psql_db_client.py:286-288`). */
  val q_doc_hashes = QueryDef(
    "q_doc_hashes",
    """SELECT doc_id, md5(text) AS md5_hash, sha256(text) AS sha256_hash
      |FROM documents ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("md5_hash"),
        sha2(col("text"), 256).as("sha256_hash"))
      .orderBy(col("doc_id"))
  }

  /** Marker-word language identification — deterministic n-gram/marker
    * heuristic standing in for model-based language ID; ties break by
    * marker-table order, zero hits → 'unknown'.
    */
  val q_langid = QueryDef(
    "q_langid", {
      val ws = TextOps.wordsSql("text")
      val hitCols = TextOps.LangMarkers.map { case (l, vocab) =>
        s"${TextOps.tokenHitsSql("ws", vocab)} AS hits_$l"
      }.mkString(",\n    ")
      val best = TextOps.LangMarkers.map { case (l, _) => s"hits_$l" }
        .mkString("GREATEST(", ", ", ")")
      val ladder = TextOps.LangMarkers.map { case (l, _) =>
        s"WHEN hits_$l = $best THEN '$l'"
      }.mkString(" ")
      s"""SELECT doc_id, pred_lang, lang AS labeled_lang,
         |  (pred_lang = lang) AS agrees
         |FROM (
         |  SELECT doc_id, lang,
         |    CASE WHEN $best = 0 THEN 'unknown' $ladder END AS pred_lang
         |  FROM (SELECT doc_id, lang, $hitCols
         |        FROM (SELECT doc_id, lang, $ws AS ws FROM documents)))
         |ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    val ws = TextOps.words(col("text"))
    val withHits = Tables.documents(spark, dir)
      .select(Seq(col("doc_id"), col("lang")) ++
        TextOps.LangMarkers.map { case (l, vocab) =>
          TextOps.tokenHits(ws, vocab).as(s"hits_$l")
        }: _*)
    val best = greatest(TextOps.LangMarkers.map { case (l, _) => col(s"hits_$l") }: _*)
    val pred = TextOps.LangMarkers.foldLeft(when(best === 0, "unknown")) {
      case (acc, (l, _)) => acc.when(col(s"hits_$l") === best, l)
    }
    withHits
      .select(col("doc_id"), pred.as("pred_lang"), col("lang").as("labeled_lang"),
        (pred === col("lang")).as("agrees"))
      .orderBy(col("doc_id"))
  }

  /** Document fingerprint from the shingle rolling-hash set: min/max
    * hash + distinct-shingle cardinality (cheap sketch for containment
    * screening).
    */
  val q_doc_fingerprint = QueryDef(
    "q_doc_fingerprint", {
      import graft.ops.DedupOps
      s"""WITH sh AS (
         |  ${DedupOps.shingleTableSql("documents", "doc_id", "text")})
         |SELECT id AS doc_id, MIN(h) AS min_hash, MAX(h) AS max_hash,
         |  COUNT(*) AS n_shingles
         |FROM sh GROUP BY id ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    import graft.ops.DedupOps
    DedupOps.shingleTable(Tables.documents(spark, dir), "doc_id", "text")
      .groupBy(col("id").as("doc_id"))
      .agg(min(col("h")).as("min_hash"), max(col("h")).as("max_hash"),
        count(lit(1)).as("n_shingles"))
      .orderBy(col("doc_id"))
  }

  /** BPE-ish regex tokenization (letter runs / digit runs / single
    * punctuation — the GPT-2-style pre-tokenizer shape) next to
    * whitespace tokens: the two token-count bases a training-data
    * pipeline budgets with.
    */
  val q_bpe_tokens = QueryDef(
    "q_bpe_tokens",
    s"""SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT)
       |    AS bpe_tokens,
       |  CAST(SUM(len(${TextOps.wordsSql("text")})) AS BIGINT) AS ws_tokens,
       |  ROUND(AVG(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))), 4)
       |    AS avg_bpe_tokens
       |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    val bpe = size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
    val ws = size(TextOps.words(col("text")))
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(bpe.cast("long")).as("bpe_tokens"),
        sum(ws.cast("long")).as("ws_tokens"),
        round(avg(bpe), 4).as("avg_bpe_tokens"))
      .orderBy(col("source"))
  }

  /** TF-IDF keyword extraction: top-3 terms per document ranked by
    * tf · ln(N/df), ties by term (A12's vectorizer surface as a
    * first-class query; at scale the df table is a broadcast join).
    */
  val q_tfidf_keywords = QueryDef(
    "q_tfidf_keywords", {
      val ws = TextOps.wordsSql("text")
      s"""WITH tf AS (
         |  SELECT doc_id, w, COUNT(*) AS tf FROM (
         |    SELECT doc_id, unnest($ws) AS w FROM documents)
         |  GROUP BY 1, 2),
         |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT doc_id, w, ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score
         |  FROM tf JOIN df USING (w) CROSS JOIN n)
         |SELECT doc_id, rank, w AS term, score FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, w) AS rank
         |  FROM scored) t WHERE rank <= 3
         |ORDER BY doc_id, rank""".stripMargin
    }) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    // corpus size as a broadcast 1-row cross join (exactly the oracle's
    // `CROSS JOIN n` shape) — no driver-side count() action, one job
    val nDocs = broadcast(docs.agg(count(lit(1)).as("n_docs")))
    // spread first: tokenize + explode + partial tf count otherwise run
    // on the single-row-group scan's one task
    val tf = graft.ops.Reuse.spreadToCores(
        docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(TextOps.words(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df), "w").crossJoin(nDocs)
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("w"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("w").as("term"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Fixed-weight logistic quality model over the q_text_quality
    * features — "model inference as columns": the linear term and
    * sigmoid run inside whole-stage codegen, no UDF, and the keep
    * decision gates on the raw margin (z >= 0), which is float-exact
    * across engines. Swapping learned weights in changes literals
    * only.
    */
  val q_quality_model = QueryDef(
    "q_quality_model", {
      val ws = TextOps.wordsSql("text")
      val hits = TextOps.tokenHitsSql("ws", TextOps.Stopwords)
      // explicit floor-quantization instead of ROUND: Spark rounds via
      // the double's exact decimal expansion, DuckDB via float
      // arithmetic — they disagree on half-boundary values, while
      // floor(x·10⁴ + 0.5) is the same IEEE op sequence in both
      s"""SELECT doc_id,
         |  FLOOR(z * 10000 + 0.5) / 10000.0 AS margin,
         |  FLOOR((1.0 / (1.0 + exp(-z))) * 10000 + 0.5) / 10000.0 AS score,
         |  (z >= 0) AS keep
         |FROM (
         |  SELECT doc_id,
         |    CAST(-1.0 AS DOUBLE) + CAST(0.02 AS DOUBLE) * n_tokens
         |      + CAST(0.3 AS DOUBLE) * avg_token_len
         |      - CAST(2.0 AS DOUBLE) * stop_ratio
         |      - CAST(4.0 AS DOUBLE) * punct_ratio AS z
         |  FROM (
         |    SELECT doc_id,
         |      len(ws) AS n_tokens,
         |      CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / len(ws) AS avg_token_len,
         |      CAST($hits AS DOUBLE) / len(ws) AS stop_ratio,
         |      CAST(len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
         |        / len(text) AS punct_ratio
         |    FROM (SELECT doc_id, text, $ws AS ws FROM documents)
         |    WHERE len(ws) > 0))
         |ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    val ws = TextOps.words(col("text"))
    val feats = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), ws.as("ws"))
      .filter(size(col("ws")) > 0)
      .select(
        col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        (aggregate(transform(col("ws"), w => length(w)), lit(0),
          (acc, v) => acc + v).cast("double") / size(col("ws"))).as("avg_token_len"),
        (TextOps.tokenHits(col("ws"), TextOps.Stopwords).cast("double") /
          size(col("ws"))).as("stop_ratio"),
        (length(regexp_replace(lower(col("text")), "[a-z0-9 ]", "")).cast("double") /
          length(col("text"))).as("punct_ratio"))
    val z = lit(-1.0) + lit(0.02) * col("n_tokens") + lit(0.3) * col("avg_token_len") -
      lit(2.0) * col("stop_ratio") - lit(4.0) * col("punct_ratio")
    feats
      .withColumn("z", z)
      .select(col("doc_id"),
        (floor(col("z") * 10000 + 0.5) / lit(10000.0)).as("margin"),
        (floor((lit(1.0) / (lit(1.0) + exp(-col("z")))) * 10000 + 0.5) / lit(10000.0))
          .as("score"),
        (col("z") >= 0).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Repetition signals: type/token ratio, top-word concentration and
    * max immediate-repeat run length — the degenerate-text detectors
    * (boilerplate, keyword stuffing, decode loops) every quality
    * filter stacks next to length/stopword checks.
    */
  val q_repetition = QueryDef(
    "q_repetition", {
      val ws = TextOps.wordsSql("text")
      s"""WITH wsd AS (
         |  SELECT doc_id, ws FROM (SELECT doc_id, $ws AS ws FROM documents)
         |  WHERE len(ws) > 0),
         |expl AS (
         |  SELECT doc_id, CAST(i AS INT) AS i, ws[CAST(i AS INT)] AS w
         |  FROM wsd CROSS JOIN UNNEST(range(1, len(ws) + 1)) t(i)),
         |runs AS (
         |  SELECT doc_id, MAX(run_len) AS max_run FROM (
         |    SELECT doc_id, COUNT(*) AS run_len FROM (
         |      SELECT doc_id, w,
         |        i - ROW_NUMBER() OVER (PARTITION BY doc_id, w ORDER BY i) AS grp
         |      FROM expl) g
         |    GROUP BY doc_id, w, grp) r GROUP BY doc_id),
         |counts AS (
         |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |    COUNT(*) AS n_types, MAX(c) AS top_n
         |  FROM (SELECT doc_id, w, COUNT(*) AS c FROM expl GROUP BY 1, 2) cc
         |  GROUP BY doc_id)
         |SELECT c.doc_id AS doc_id, c.n_tokens, c.n_types,
         |  FLOOR(CAST(c.n_types AS DOUBLE) / c.n_tokens * 1000000 + 0.5) / 1000000.0
         |    AS type_token_ratio,
         |  FLOOR(CAST(c.top_n AS DOUBLE) / c.n_tokens * 1000000 + 0.5) / 1000000.0
         |    AS top_word_share,
         |  r.max_run
         |FROM counts c JOIN runs r ON r.doc_id = c.doc_id
         |ORDER BY c.doc_id""".stripMargin
    }) { (spark, dir) =>
    val ws = TextOps.words(col("text"))
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), ws.as("ws"))
      .filter(size(col("ws")) > 0)
    val exploded = base.select(col("doc_id"),
      posexplode(col("ws")).as(Seq("i", "w")))
    val byWord = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("w")).orderBy(col("i"))
    val runs = exploded
      .withColumn("grp", col("i") - row_number().over(byWord))
      .groupBy(col("doc_id"), col("w"), col("grp"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("doc_id"))
      .agg(max(col("run_len")).as("max_run"))
    val counts = exploded.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        max(col("c")).as("top_n"))
    counts.join(runs, "doc_id")
      .select(col("doc_id"),
        col("n_tokens"), col("n_types"),
        (floor(col("n_types").cast("double") / col("n_tokens") * 1000000 + 0.5)
          / lit(1000000.0)).as("type_token_ratio"),
        (floor(col("top_n").cast("double") / col("n_tokens") * 1000000 + 0.5)
          / lit(1000000.0)).as("top_word_share"),
        col("max_run"))
      .orderBy(col("doc_id"))
  }

  /** Count-min-sketch heavy hitters: the exact top-20 words read back
    * through the d×w counter sketch ([[graft.ops.SketchOps]]) — a
    * bounded-memory frequency layer whose one-sided guarantee
    * (estimate >= truth) and collision overestimate are both part of
    * the certified output. Sketch size is d·w rows at ANY corpus
    * size. */
  val q_cms_topwords = QueryDef(
    "q_cms_topwords",
    graft.ops.SketchOps.cmsTopWordsOracleSql(20)) { (spark, dir) =>
    graft.ops.SketchOps.cmsTopWords(Tables.documents(spark, dir), "text", 20)
      .orderBy(col("n_exact").desc, col("w"))
  }

  /** Collocation extraction: top bigrams by PMI-lift
    * `P(w1,w2) / (P(w1)·P(w2))` with a min-support gate — the
    * phrase-mining operator a tokenizer/vocab pipeline runs before
    * merging multiword units. Lift (the ratio itself) is reported
    * instead of log-PMI: identical ranking, and the score stays in
    * exact IEEE arithmetic (two divides, one multiply — no libm).
    * Scale: two broadcast count tables + one scalar cross join; the
    * corpus is never shuffled twice.
    */
  /** Distributed BPE tokenizer training ([[graft.ops.BpeOps]]): the
    * first 10 learned merges over the corpus word-frequency table,
    * certified against a 10-stage unrolled-CTE DuckDB replay of the
    * same count→argmax→replace round. Per round the cluster does one
    * explode + hash aggregate over DISTINCT words and the driver
    * holds one 3-field row — the learned artifact itself. */
  /** Memo of the learned BPE merge table, keyed on the documents
    * fixture and the round count: [[q_bpe_merges]] publishes the
    * learned artifact and [[q_bpe_fertility]] re-encodes the vocab with
    * it, so the 10-round distributed learn (~20 jobs) runs once per
    * memo clear.
    */
  private val bpeMerges =
    new Memos.Memo[(Memos.Fixture, Int), Seq[graft.ops.BpeOps.Merge]](
      "q_bpe_merges", "q_bpe_fertility")

  private def learnedMerges(
      spark: org.apache.spark.sql.SparkSession, dir: String): Seq[graft.ops.BpeOps.Merge] =
    bpeMerges.get((Memos.fixture(s"$dir/documents.parquet"), 10)) { _ =>
      graft.ops.BpeOps.learnMerges(Tables.documents(spark, dir), "text", rounds = 10)
    }

  val q_bpe_merges = QueryDef(
    "q_bpe_merges",
    graft.ops.BpeOps.bpeOracleSql("text", rounds = 10)) { (spark, dir) =>
    val merges = learnedMerges(spark, dir)
    spark.createDataFrame(merges).toDF("rank", "s1", "s2", "cnt")
      .withColumn("rank", col("rank").cast("long"))
      .orderBy(col("rank"))
  }

  /** Tokenizer fertility after the 10 learned merges: re-encode the
    * vocab with [[graft.ops.BpeOps.applyMerges]] (one projection of 10
    * chained codegen replaces — the merge table ships as broadcast
    * literals, the 100 TB shape for a trained tokenizer) and histogram
    * words by their token count, distinct and frequency-weighted. The
    * oracle reads the same histogram off its training chain's final
    * CTE — certifying that driver-collected merges + executor re-apply
    * equals the oracle's in-chain rendering. */
  val q_bpe_fertility = QueryDef(
    "q_bpe_fertility",
    graft.ops.BpeOps.bpeFertilityOracleSql("text", rounds = 10)) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val merges = learnedMerges(spark, dir)
    val rendered = graft.ops.BpeOps.wordFreqs(docs, "text")
      .select(regexp_replace(col("word"), "(.)", "$1|").as("s"), col("freq"))
    graft.ops.BpeOps.applyMerges(rendered, merges)
      .select((size(split(col("s"), "\\|")) - 1).cast("long").as("n_tokens"),
        col("freq"))
      .groupBy(col("n_tokens"))
      .agg(count(lit(1)).as("n_words"), sum(col("freq")).as("n_occurrences"))
      .orderBy(col("n_tokens"))
  }

  val q_collocations = QueryDef(
    "q_collocations", {
      val ws = graft.ops.TextOps.wordsSql("text")
      s"""WITH docs_ws AS (SELECT doc_id, $ws AS ws FROM documents),
         |toks AS (SELECT unnest(ws) AS w FROM docs_ws),
         |cu AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cu FROM toks GROUP BY w),
         |nu AS (SELECT CAST(COUNT(*) AS BIGINT) AS nu FROM toks),
         |bg AS (
         |  SELECT ws[CAST(i AS INT)] AS w1, ws[CAST(i AS INT) + 1] AS w2
         |  FROM docs_ws CROSS JOIN UNNEST(range(1, len(ws))) t(i)),
         |c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_ab
         |       FROM bg GROUP BY 1, 2),
         |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM bg)
         |SELECT w1, w2, c_ab,
         |  FLOOR(((CAST(c_ab AS DOUBLE) / nb)
         |    / ((CAST(a.cu AS DOUBLE) / nu) * (CAST(b.cu AS DOUBLE) / nu)))
         |    * 10000 + 0.5) / 10000 AS lift
         |FROM c2 JOIN cu a ON a.w = c2.w1 JOIN cu b ON b.w = c2.w2
         |CROSS JOIN nu CROSS JOIN nb
         |WHERE c_ab >= 5
         |ORDER BY lift DESC, w1, w2 LIMIT 20""".stripMargin
    }) { (spark, dir) =>
    // spread first: tokenization feeds TWO materialized explodes
    // (unigram + bigram), both otherwise single-task
    val docsWs = graft.ops.Reuse.spreadToCores(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), graft.ops.TextOps.words(col("text")).as("ws"))
    val toks = graft.ops.Reuse.materialized(
      docsWs.select(explode(col("ws")).as("w")))
    val cu = toks.groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val nu = toks.agg(count(lit(1)).as("nu"))
    val bg = graft.ops.Reuse.materialized(
      docsWs.filter(size(col("ws")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(ws) - 1), " +
            "i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))"))
          .as("g"))
        .select(col("g.w1").as("w1"), col("g.w2").as("w2")))
    val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
    val nb = bg.agg(count(lit(1)).as("nb"))
    // no broadcast hint on the unigram table: it is vocabulary-sized
    // (unbounded at 100 TB) — let AQE pick broadcast only when it fits
    c2.filter(col("c_ab") >= 5)
      .join(cu.withColumnRenamed("w", "w1").withColumnRenamed("cu", "cua"), "w1")
      .join(cu.withColumnRenamed("w", "w2").withColumnRenamed("cu", "cub"), "w2")
      .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
      .select(col("w1"), col("w2"), col("c_ab"),
        (floor(((col("c_ab").cast("double") / col("nb"))
          / ((col("cua").cast("double") / col("nu"))
            * (col("cub").cast("double") / col("nu"))))
          * 10000 + 0.5) / 10000).as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(20)
  }

  /** Flesch-style readability per document, ALL-INTEGER: words from
    * the portable tokenizer, sentences as runs of terminal
    * punctuation, syllables as vowel-group runs (the standard
    * heuristic), and the score in milli-units by exact floor
    * division — 206.835 − 1.015·W/S − 84.6·Syl/W becomes
    * 206835 − (1015·W)//S − (84600·Syl)//W, so no float ever crosses
    * the engine boundary. Pure column algebra, linear scan.
    */
  val q_readability = QueryDef(
    "q_readability", {
      val ws = TextOps.wordsSql("text")
      s"""SELECT doc_id,
         |  CAST(len($ws) AS BIGINT) AS n_words,
         |  CAST(GREATEST(1, len(regexp_extract_all(text, '[.!?]+')))
         |    AS BIGINT) AS n_sentences,
         |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
         |    AS BIGINT) AS n_syllables,
         |  CASE WHEN len($ws) > 0 THEN
         |    CAST(206835
         |      - (1015 * len($ws))
         |        // GREATEST(1, len(regexp_extract_all(text, '[.!?]+')))
         |      - (84600 * len(regexp_extract_all(lower(text), '[aeiouy]+')))
         |        // len($ws) AS BIGINT)
         |  END AS flesch_milli
         |FROM documents ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    val w = size(TextOps.words(col("text"))).cast("long")
    val s = greatest(lit(1L),
      size(expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long"))
    val syl = size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
      .cast("long")
    Tables.documents(spark, dir)
      .select(col("doc_id"), w.as("n_words"), s.as("n_sentences"),
        syl.as("n_syllables"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        when(col("n_words") > 0,
          lit(206835L) - expr("(1015 * n_words) div n_sentences") -
            expr("(84600 * n_syllables) div n_words")).as("flesch_milli"))
      .orderBy(col("doc_id"))
  }

  /** Per-source vocabulary drift: total-variation distance between
    * each source's word distribution and the rest of the corpus — the
    * corpus-monitoring statistic that flags a crawl source whose
    * language shifted (spam influx, template change) WITHOUT any
    * libm: probabilities are micro-quantized by integer floor
    * division (exactly reproducible on any engine, unlike a KL
    * divergence's logs), and TV = Σ|p−q|/2 over the shared vocab.
    * The source×vocab expansion is vocab-bounded, not row-bounded —
    * word counts aggregate first, so document volume never reaches
    * the quadratic stage.
    */
  val q_vocab_drift = QueryDef(
    "q_vocab_drift", {
      val ws = TextOps.wordsSql("text")
      s"""WITH words AS (
         |  SELECT source, unnest($ws) AS w FROM documents),
         |sc AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM words GROUP BY 1, 2),
         |st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM sc GROUP BY 1),
         |gt AS (SELECT w, CAST(SUM(c) AS BIGINT) AS g FROM sc GROUP BY 1),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nt FROM sc),
         |pairs AS (
         |  SELECT st.source, gt.w, COALESCE(sc.c, 0) AS c,
         |    (COALESCE(sc.c, 0) * 1000000) // st.ns AS p_micro,
         |    CASE WHEN t.nt - st.ns = 0 THEN 0
         |      ELSE ((gt.g - COALESCE(sc.c, 0)) * 1000000) // (t.nt - st.ns)
         |      END AS q_micro
         |  FROM st CROSS JOIN gt CROSS JOIN tot t
         |  LEFT JOIN sc ON sc.source = st.source AND sc.w = gt.w)
         |SELECT source,
         |  CAST(SUM(ABS(p_micro - q_micro)) // 2 AS BIGINT) AS tv_micro,
         |  CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_src_terms
         |FROM pairs GROUP BY 1 ORDER BY source""".stripMargin
    }) { (spark, dir) =>
    val sc = Tables.documents(spark, dir)
      .select(col("source"), explode(TextOps.words(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    val scM = graft.ops.Reuse.materialized(sc)
    val st = scM.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val gt = scM.groupBy(col("w")).agg(sum(col("c")).as("g"))
    val tot = scM.agg(sum(col("c")).as("nt"))
    // vocab table streams; the 1-row total and the per-source totals
    // broadcast — each crossJoin is a BroadcastNestedLoopJoin, never a
    // CartesianProduct (PlanSpec-swept)
    val pairs = gt.crossJoin(broadcast(tot)).crossJoin(broadcast(st))
      .join(scM, Seq("source", "w"), "left")
      .select(col("source"),
        coalesce(col("c"), lit(0L)).as("c"),
        expr("(coalesce(c, 0L) * 1000000) div ns").as("p_micro"),
        when(col("nt") - col("ns") === 0, lit(0L))
          .otherwise(expr("((g - coalesce(c, 0L)) * 1000000) div (nt - ns)"))
          .as("q_micro"))
    pairs.groupBy(col("source"))
      .agg(expr("sum(abs(p_micro - q_micro)) div 2").as("tv_micro"),
        sum(when(col("c") > 0, 1L).otherwise(0L)).as("n_src_terms"))
      .orderBy(col("source"))
  }

  /** Duplicated-5-gram fraction — the Gopher/RefinedWeb repetition
    * filter [[q_repetition]] (runs, type-token ratio) doesn't cover:
    * boilerplate that repeats PHRASES with benign word variety scores
    * clean on token stats but lights up here. Per doc:
    * `1 − distinct_5grams / total_5grams` — 0 for non-repetitive
    * prose, → 1 for template spam. Sliding n-grams are pure column
    * algebra (`sequence` + `slice` + `concat_ws`, no explode: the
    * per-doc array never leaves the row), so the scan stays one
    * codegen'd projection — at 100 TB this is a map-only pass.
    */
  val q_ngram_repeat = QueryDef(
    "q_ngram_repeat", {
      val ws = TextOps.wordsSql("text")
      s"""WITH wsd AS (
         |  SELECT doc_id, ws FROM (SELECT doc_id, $ws AS ws FROM documents)
         |  WHERE len(ws) >= 5),
         |grams AS (
         |  SELECT doc_id,
         |    list_transform(range(1, len(ws) - 3),
         |      i -> array_to_string(ws[CAST(i AS INT):CAST(i + 4 AS INT)], ' ')) AS gs
         |  FROM wsd)
         |SELECT doc_id,
         |  CAST(len(gs) AS BIGINT) AS n_grams,
         |  CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct,
         |  ROUND(1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs), 6)
         |    AS dup_gram_ratio
         |FROM grams ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    val ws = TextOps.words(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), ws.as("ws"))
      .filter(size(col("ws")) >= 5)
      .select(col("doc_id"),
        transform(sequence(lit(1), size(col("ws")) - 4),
          i => concat_ws(" ", slice(col("ws"), i, lit(5)))).as("gs"))
      .select(col("doc_id"),
        size(col("gs")).cast("long").as("n_grams"),
        size(array_distinct(col("gs"))).cast("long").as("n_distinct"),
        round(lit(1.0) -
          size(array_distinct(col("gs"))).cast("double") / size(col("gs")), 6)
          .as("dup_gram_ratio"))
      .orderBy(col("doc_id"))
  }

  val all: Seq[QueryDef] = Seq(
    q_top_words, q_topk_words, q_text_quality, q_token_stats, q_lang_stats,
    q_doc_hashes, q_langid, q_doc_fingerprint, q_bpe_tokens, q_tfidf_keywords,
    q_quality_model, q_repetition, q_cms_topwords, q_collocations,
    q_bpe_merges, q_bpe_fertility, q_vocab_drift, q_readability,
    q_ngram_repeat)
}
