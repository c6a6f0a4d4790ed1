package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the training-data pipeline: whitespace
  * tokenization, character shingles, a portable polynomial hash,
  * stopword/quality metrics, and a marker-word language heuristic.
  *
  * Everything here is pure `org.apache.spark.sql.functions` column
  * algebra (codegen'd, no UDFs), and every primitive has an exact ANSI
  * SQL rendering used by the DuckDB oracles — the polynomial hash
  * exists precisely because engine-native hashes (xxhash64 vs DuckDB's
  * murmur) are not portable across engines.
  *
  * Reference surface: text assembly/keyword matching
  * `relevance_consumer.py:177-233`, tokenize+TF-IDF dedup
  * `deduplication_consumer.py:168-196`.
  */
object TextOps {

  /** Non-empty whitespace tokens of the lowercased text — codegen'd
    * one-pass [[graft.functions.TokenizeWs]] (the builtin
    * `filter(split(lower(..)))` pays an interpreted lambda per token;
    * this primitive feeds 18 call sites). Bit-identical tokens
    * (a KernelProperties property and a corpus-wide spec assert the
    * equivalence against [[wordsBuiltin]]).
    */
  def words(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.TokenizeWs(
      GraftColumnBridge.expression(text)))
  }

  /** The builtin-function formulation of [[words]] (spec reference). */
  def wordsBuiltin(text: Column): Column =
    filter(split(lower(text), " "), w => length(w) > 0)

  /** SQL rendering of [[words]] for the DuckDB oracle. */
  def wordsSql(text: String): String =
    s"list_filter(string_split(lower($text), ' '), w -> w <> '')"

  /** Distinct character n-grams (shingles) of the raw text. Texts
    * shorter than `n` yield an empty array (guard needed: Spark's
    * `sequence(1, 0)` would count DOWN, not produce an empty range).
    */
  def charShingles(text: Column, n: Int): Column =
    when(length(text) >= n,
      array_distinct(transform(
        sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Portable polynomial hash of a fixed-width-`n` string column:
    * sum of codepoint(char_k) * 31^(n-k). Identical in Spark (`ascii` +
    * arithmetic) and DuckDB — used as the shingle/word hash everywhere
    * an oracle needs to reproduce hashing.
    */
  def polyHash(s: Column, n: Int): Column =
    (0 until n).map { k =>
      ascii(substring(s, k + 1, 1)).cast("long") * math.pow(31, n - 1 - k).toLong
    }.reduce(_ + _)

  /** SQL rendering of [[polyHash]] over expression `s`. */
  def polyHashSql(s: String, n: Int): String =
    (0 until n).map { k =>
      s"CAST(ascii(substr($s, ${k + 1}, 1)) AS BIGINT) * ${math.pow(31, n - 1 - k).toLong}"
    }.mkString("(", " + ", ")")

  /** SQL rendering of the polynomial hash for window lengths where
    * 31^(n-1) no longer fits a BIGINT (n ≥ 14): Java long arithmetic
    * WRAPS mod 2^64 while DuckDB ERRORS on BIGINT overflow (and
    * [[polyHashSql]]'s `math.pow(...).toLong` constants would saturate
    * rather than wrap) — so the oracle computes the EXACT sum in
    * HUGEINT with exact BigInt power constants, reduces mod 2^64
    * ([[Two64Sql]]), and maps the unsigned residue to the signed BIGINT
    * Java produces ([[polyHashWrapFromResidueSql]]). Congruence makes
    * this identical to the rolling wrapped kernel
    * ([[graft.functions.ShinglePosHashes]]) at any n. Stage the raw sum
    * in its own CTE when the hash feeds several expressions.
    */
  def polyHashRawHugeSql(s: String, n: Int): String =
    (0 until n).map { k =>
      val p = BigInt(31).pow(n - 1 - k)
      s"CAST(ascii(substr($s, ${k + 1}, 1)) AS HUGEINT) * CAST('$p' AS HUGEINT)"
    }.mkString("(", " + ", ")")

  val Two64Sql = "CAST('18446744073709551616' AS HUGEINT)"
  val Two63Sql = "CAST('9223372036854775808' AS HUGEINT)"

  /** Unsigned mod-2^64 residue (a HUGEINT expression in [0, 2^64)) →
    * the signed BIGINT Java's wrapping long arithmetic produces.
    */
  def polyHashWrapFromResidueSql(m: String): String =
    s"CAST(CASE WHEN $m >= $Two63Sql THEN $m - $Two64Sql ELSE $m END AS BIGINT)"

  /** Hash of a variable-length word: poly hash of the word truncated /
    * space-padded to 8 chars (documented collision tradeoff: words
    * sharing an 8-char prefix collide — acceptable for SimHash-style
    * fingerprints).
    */
  def wordHash(w: Column): Column = polyHash(rpad(w, 8, " "), 8)

  def wordHashSql(w: String): String = polyHashSql(s"rpad($w, 8, ' ')", 8)

  /** All tokens' [[wordHash]]es of a TEXT column in one codegen'd pass
    * ([[graft.functions.WordHashes]]) — `transform(words(text),
    * wordHash)` without materializing the tokens. For pipelines that
    * consume only the hashes (sketch builds), explode THIS instead of
    * [[words]].
    */
  def wordHashes(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.WordHashes(
      GraftColumnBridge.expression(text)))
  }

  /** Distinct polynomial hashes of the `n`-char shingles, in
    * first-occurrence order, in one codegen'd pass
    * ([[graft.functions.ShingleHashes]]). */
  def shingleHashes(text: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.ShingleHashes(
      GraftColumnBridge.expression(text), n))
  }

  /** Every `n`-char shingle's hash in text order, duplicates kept
    * ([[graft.functions.ShinglePosHashes]]). */
  def shinglePosHashes(text: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.ShinglePosHashes(
      GraftColumnBridge.expression(text), n))
  }

  /** Shared stopword list (subset of English function words that appear
    * in the synthetic corpus).
    */
  val Stopwords: Seq[String] = Seq("the", "a", "is", "of", "and", "to", "in")

  /** Language marker words for the n-gram/marker language-ID heuristic
    * (stands in for the reference's model-based classifiers with a
    * deterministic, distributable rule).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "of", "and"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "les", "des", "et", "une"))

  /** Count of tokens (with multiplicity) that fall in `vocab`. */
  def tokenHits(ws: Column, vocab: Seq[String]): Column = {
    val arr = array(vocab.map(lit): _*)
    size(filter(ws, w => array_contains(arr, w)))
  }

  def tokenHitsSql(wsExpr: String, vocab: Seq[String]): String = {
    val arr = vocab.map(v => s"'$v'").mkString("[", ", ", "]")
    s"len(list_filter($wsExpr, w -> list_contains($arr, w)))"
  }
}
