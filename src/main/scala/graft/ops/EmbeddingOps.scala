package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Pluggable text-embedding interface (SURVEY.md §2.10 U5): every
  * embedding consumer (semantic search, near-dup, hybrid retrieval)
  * goes through an `Embedder`, so swapping the deterministic hashed
  * default for a model-backed encoder (ONNX runtime session per
  * partition, batched `Array[String] => Array[Array[Float]]`) is a
  * constructor argument, not a rewrite — the "pluggable later" claim
  * as an interface. Implementations must be serializable (the column
  * form ships to executors) and deterministic per text for the
  * engine's certification story.
  */
trait Embedder extends Serializable {
  def dim: Int
  def embed(text: String): Array[Float]

  /** Column form; default wraps [[embed]] in a UDF (the SURVEY §7.3
    * sanctioned place for one — the per-row model call IS the
    * operator). Model-backed implementations should override with a
    * mapInPandas/mapPartitions batch path.
    */
  def embedCol(text: Column): Column = {
    val self = this
    udf((s: String) => self.embed(if (s == null) "" else s)).apply(text)
  }
}

/** The default engine embedder: [[EmbeddingOps.embed]]'s hashed n-gram
  * construction, SQL-specifiable and therefore oracle-certifiable.
  * The column form overrides the trait's UDF default with the codegen
  * expression ([[graft.functions.HashedEmbed]]).
  */
object HashedEmbedder extends Embedder {
  val dim: Int = EmbeddingOps.Dim
  def embed(text: String): Array[Float] = EmbeddingOps.embed(text)
  override def embedCol(text: Column): Column = EmbeddingOps.embedCol(text)
}

/** A minimal LEARNED embedder proving the [[Embedder]] plug point with
  * semantics the hashed construction cannot produce: term vectors are
  * distributional — dimension j of term t counts how often t co-occurs
  * (same document) with the j-th most frequent corpus term — so terms
  * sharing contexts embed similarly even with ZERO literal overlap
  * (the hash embedder scores unrelated single words at cosine 0
  * unless their grams collide). Text embedding = L2-normalized sum of
  * known-term vectors; unknown-only text embeds to the zero vector.
  *
  * Training ([[TermVectorEmbedder.fit]]) is one distributed pass:
  * tokenize ([[TextOps.words]]), two frequency top-k's (vocab and
  * context terms — both bounded driver fetches), then a same-document
  * word×context-word co-occurrence count where the context side is
  * broadcast-filtered to `dim` terms, so per-document fan-out is
  * bounded by min(docLen, dim) — never docLen². Driver state =
  * vocabSize × dim counts, bounded by construction.
  */
final class TermVectorEmbedder private (
    val dim: Int, table: Map[String, Array[Float]]) extends Embedder {

  def embed(text: String): Array[Float] = {
    // lowercase through UTF8String.toLowerCase — the routine Spark's
    // lower() (and TextOps.words) runs
    val words = org.apache.spark.unsafe.types.UTF8String.fromString(
      if (text == null) "" else text)
      .toLowerCase.toString.split(" ").filter(_.nonEmpty)
    val acc = new Array[Double](dim)
    words.foreach(w => table.get(w).foreach { v =>
      var i = 0
      while (i < dim) { acc(i) += v(i); i += 1 }
    })
    val nrm = math.sqrt(acc.map(v => v * v).sum)
    if (nrm == 0) new Array[Float](dim)
    else acc.map(v => (v / nrm).toFloat)
  }
}

object TermVectorEmbedder {

  /** Learn term vectors from a document corpus. Deterministic: all
    * ties break lexicographically.
    */
  def fit(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      dim: Int, vocabSize: Int): TermVectorEmbedder = {
    import org.apache.spark.sql.functions.{broadcast, col, count, desc, explode, lit}
    // the tokenize+explode subplan feeds the top-k AND both sides of
    // the co-occurrence self-join — materialize once (Catalyst cannot
    // dedupe the aliased self-join; see Reuse scaladoc)
    val words = Reuse.materialized(docs.select(col(idCol).as("id"),
      explode(TextOps.words(col(textCol))).as("w")))
    // one top-k fetch covers both lists: ctx terms are a prefix of the
    // same (count desc, word) ordering the vocab uses
    val top = words
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("w")).limit(math.max(dim, vocabSize))
      .collect().map(_.getString(0))
    val ctxTerms = top.take(dim) // dimension j = co-occurrence with ctxTerms(j)
    val vocab = top.take(vocabSize)
    val ctxIdx = ctxTerms.zipWithIndex.toMap
    val spark = docs.sparkSession
    import spark.implicits._
    val ctxDf = broadcast(ctxTerms.toSeq.toDF("cw"))
    val vocabDf = broadcast(vocab.toSeq.toDF("vw"))
    val cooc = words.join(vocabDf, col("w") === col("vw")).select(col("id"), col("w"))
      .join(words.toDF("id2", "cw2").join(ctxDf, col("cw2") === col("cw"))
        .select(col("id2"), col("cw2")), col("id") === col("id2"))
      .filter(col("w") =!= col("cw2"))
      .groupBy(col("w"), col("cw2")).agg(count(lit(1)).as("n"))
      .collect() // bounded: at most vocabSize × dim rows
    val table = cooc.groupBy(_.getString(0)).map { case (w, rows) =>
      val v = new Array[Float](dim)
      rows.foreach(r => v(ctxIdx(r.getString(1))) = r.getLong(2).toFloat)
      w -> v
    }
    new TermVectorEmbedder(dim, table)
  }
}

/** Deterministic hashed n-gram text embedding (SURVEY.md §2.10 U5):
  * the engine's stand-in for the reference's MiniLM sentence encoder
  * (`embedding_consumer.py:94-153`, 384-dim at `:54`). Preserves the
  * operator semantics the pipeline needs — fixed-dim float vector,
  * L2-normalized, identical text ⇒ identical vector, cosine-comparable
  * — without model/network dependencies; an ONNX encoder is a drop-in
  * replacement for [[embed]].
  *
  * Feature hashing: word unigrams + bigrams → signed buckets
  * (hash-sign trick), then L2 normalization. The gram hash is the
  * portable [[TextOps.polyHash]] over the first 8 chars (space-padded),
  * so the WHOLE construction — bucket, sign, accumulator, norm — has an
  * exact DuckDB rendering ([[gramAccSqlCtes]]) and embedding queries
  * get real oracles instead of rows-only checks. Grams sharing an
  * 8-char prefix collide (same tradeoff as [[TextOps.wordHash]]);
  * ASCII corpus assumed (`ascii()` = codepoint = UTF-16 unit).
  */
object EmbeddingOps {

  val Dim = 384

  /** First-8-chars polynomial hash, the pure-Scala mirror of
    * `TextOps.wordHash` (polyHash of rpad(gram, 8, ' ')).
    */
  def gramHash(g: String): Long = {
    var h = 0L
    var k = 0
    while (k < 8) {
      val c = if (k < g.length) g.charAt(k).toInt else 32
      h = h * 31 + c
      k += 1
    }
    h
  }

  /** Embed one text (pure function, exposed for tests). */
  def embed(text: String): Array[Float] = {
    val acc = new Array[Double](Dim)
    // Locale.ROOT: default-locale toLowerCase is locale-sensitive
    // (tr_TR maps I→ı) while Spark's lower() — which the oracle's
    // rendering mirrors — is not
    val words = text.toLowerCase(java.util.Locale.ROOT).split(" ").filter(_.nonEmpty)
    def add(gram: String): Unit = {
      val h = gramHash(gram)
      val idx = (h % Dim).toInt
      val sign = if (((h >> 17) & 1L) == 0L) 1.0 else -1.0
      acc(idx) += sign
    }
    words.foreach(add)
    words.sliding(2).filter(_.length == 2).foreach(p => add(p(0) + "_" + p(1)))
    val nrm = math.sqrt(acc.map(v => v * v).sum)
    if (nrm == 0) new Array[Float](Dim)
    else acc.map(v => (v / nrm).toFloat)
  }

  /** The pre-codegen UDF form (spec reference: the expression must
    * reproduce it bit for bit).
    */
  val embedUdf = udf((text: String) => embed(if (text == null) "" else text))

  /** Column form: the codegen'd [[graft.functions.HashedEmbed]]
    * expression (was the UDF — SURVEY §4 optional item (b)). NULL text
    * embeds like empty text (the UDF's contract), hence the coalesce.
    */
  def embedCol(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.functions.{coalesce, lit}
    GraftColumnBridge.column(graft.functions.HashedEmbed(
      GraftColumnBridge.expression(coalesce(text, lit("")))))
  }

  /** DuckDB CTEs reproducing the embedding accumulator exactly:
    * `acc(id, b, acc)` = signed gram votes per bucket,
    * `nz` = non-zero buckets, `nrm(id, nrm)` = pre-normalization L2
    * norm (exact: integer squares), `comp(id, b, v)` = normalized
    * component as float32-rounded double — the same value Spark sees
    * after `cast(embedding as array<double>)`.
    */
  def gramAccSqlCtes(docsRel: String, idCol: String, textCol: String): String = {
    val wh = TextOps.wordHashSql("g")
    s"""ws_t AS (
       |  SELECT $idCol AS id,
       |    list_filter(string_split(lower($textCol), ' '), w -> w <> '') AS ws
       |  FROM $docsRel),
       |grams AS (
       |  SELECT id, unnest(list_concat(ws,
       |    list_transform(range(1, len(ws)), i -> ws[i] || '_' || ws[i+1]))) AS g
       |  FROM ws_t),
       |hg AS (SELECT id, $wh AS h FROM grams),
       |acc AS (
       |  SELECT id, h % $Dim AS b,
       |    CAST(SUM(CASE WHEN (h >> 17) & 1 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS acc
       |  FROM hg GROUP BY 1, 2),
       |nz AS (SELECT id, b, acc FROM acc WHERE acc <> 0),
       |nrm AS (SELECT id, sqrt(CAST(SUM(acc * acc) AS DOUBLE)) AS nrm FROM nz GROUP BY id),
       |comp AS (
       |  SELECT nz.id, nz.b,
       |    CAST(CAST(nz.acc / nrm.nrm AS REAL) AS DOUBLE) AS v
       |  FROM nz JOIN nrm ON nz.id = nrm.id)""".stripMargin
  }
}
