package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE merge learning — the tokenizer-TRAINING side of the
  * pipeline (q_bpe_tokens only counts with a fixed pre-trained regex;
  * reference analog: the vectorizer fit in `dedup_consumer.py`'s
  * TF-IDF path is the only "learned text model" the reference trains,
  * and a real 100 TB curation stack trains its tokenizer the same
  * way: count on the cluster, keep the tiny learned table on the
  * driver).
  *
  * Classic byte-pair encoding over the word-frequency table: `rounds`
  * times, count adjacent symbol pairs weighted by word frequency,
  * merge the globally most frequent pair (ties: lexicographically
  * smallest) in every word. Scale shape per round: one explode +
  * partial/final hash aggregate over the DISTINCT-WORD table (already
  * ≪ corpus; pair counting never touches raw documents after the
  * initial word count), then ONE 3-field row collected to the driver
  * — the learned state, like Lloyd's k centroids or PageRank's two
  * scalars. The vocab re-rendering is a codegen `replace` projection.
  *
  * Words are rendered with a TRAILING separator after every symbol
  * (`hello` → `h|e|l|l|o|`), so a merge is a plain leftmost
  * non-overlapping string replace of `A|B|` with `AB|` — each
  * occurrence owns its separators, making `replace` semantics
  * identical in Spark, DuckDB, and Python's tokenizers for the
  * overlap case (`l|l|l|` + (l,l) → `ll|l|`, greedy-leftmost). The
  * separator cannot collide: symbols are `[a-z]+` by the word filter.
  */
object BpeOps {

  /** One learned merge: 1-based rank, the two symbols, and the
    * frequency-weighted pair count that won the round. */
  final case class Merge(rank: Int, s1: String, s2: String, cnt: Long)

  /** The `[a-z]+`-word frequency table a BPE fit consumes. Input rows
    * are spread across cores first ([[Reuse.spreadToCores]]): the
    * tokenize + explode + regex filter + partial count otherwise run
    * on the single-row-group scan's one task. */
  def wordFreqs(docs: DataFrame, textCol: String): DataFrame =
    Reuse.spreadToCores(docs.select(col(textCol).as("t")))
      .select(explode(TextOps.words(col("t"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  private def pairCounts(words: DataFrame): DataFrame = {
    // split keeps the trailing empty element ("h|e|" -> [h, e, ""]), so
    // adjacent pairs live at 1-based (i, i+1) for i in [1, size-2];
    // single-symbol words (size 2) must skip the sequence — Spark's
    // sequence(1, 0) counts DOWN instead of yielding empty
    val syms = split(col("s"), "\\|")
    words
      .select(col("freq"), syms.as("syms"))
      .filter(size(col("syms")) >= 3)
      .select(col("freq"), explode(transform(
        sequence(lit(1), size(col("syms")) - 2),
        i => struct(element_at(col("syms"), i).as("s1"),
          element_at(col("syms"), i + 1).as("s2")))).as("p"))
      .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .agg(sum(col("freq")).as("cnt"))
  }

  /** Fit `rounds` merges over `docs(textCol)`. Driver state: one
    * (s1, s2, cnt) row per round. Stops early only if the vocabulary
    * runs out of pairs (micro-corpora). */
  def learnMerges(docs: DataFrame, textCol: String, rounds: Int): Seq[Merge] = {
    require(rounds >= 1, s"rounds must be >= 1 (got $rounds)")
    var (words, handle) = Reuse.materializedHandle(
      wordFreqs(docs, textCol).select(
        regexp_replace(col("word"), "(.)", "$1|").as("s"), col("freq")))
    val merges = Seq.newBuilder[Merge]
    var r = 0
    var dry = false
    while (r < rounds && !dry) {
      val top = pairCounts(words)
        .orderBy(col("cnt").desc, col("s1"), col("s2"))
        .limit(1).collect()
      if (top.isEmpty) dry = true
      else {
        val (s1, s2, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Merge(r + 1, s1, s2, cnt)
        val (next, nextHandle) = Reuse.materializedHandle(
          words.select(
            replace(col("s"), lit(s"$s1|$s2|"), lit(s"$s1$s2|")).as("s"),
            col("freq")))
        handle.close() // ≤ 2 vocab generations cached, like PageRank's ranks
        words = next; handle = nextHandle
      }
      r += 1
    }
    handle.close()
    merges.result()
  }

  /** ENCODE side: re-render `words(s, freq)` with the learned merges
    * applied in rank order — one projection of `merges.length` chained
    * codegen `replace`s (the merge table is driver state, exactly how
    * a trained tokenizer ships to executors at 100 TB: as a broadcast
    * constant, not a join). */
  def applyMerges(words: DataFrame, merges: Seq[Merge]): DataFrame =
    words.withColumn("s",
      merges.sortBy(_.rank).foldLeft(col("s")) { (s, m) =>
        replace(s, lit(s"${m.s1}|${m.s2}|"), lit(s"${m.s1}${m.s2}|"))
      })

  /** DuckDB replay of [[learnMerges]]: `rounds` unrolled CTE stages,
    * each = pair count + LIMIT-1 argmax + scalar-subquery replace —
    * the same per-round algebra the engine runs distributed. */
  def bpeOracleSql(textCol: String, rounds: Int): String = {
    val union = (0 until rounds)
      .map(r => s"SELECT ${r + 1} AS rank, s1, s2, cnt FROM m$r")
      .mkString("\nUNION ALL ")
    s"""${oraclePrefix(textCol, rounds)}
       |$union
       |ORDER BY rank""".stripMargin
  }

  /** DuckDB replay of the ENCODE side: the training chain's final
    * vocab rendering `w(rounds)` IS the merged form, so the fertility
    * histogram (words per token count, frequency-weighted) reads
    * straight off it. */
  def bpeFertilityOracleSql(textCol: String, rounds: Int): String =
    s"""${oraclePrefix(textCol, rounds)}
       |SELECT CAST(len(string_split(s, '|')) - 1 AS INT) AS n_tokens,
       |  CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(freq) AS BIGINT) AS n_occurrences
       |FROM w$rounds GROUP BY 1 ORDER BY 1""".stripMargin

  /** Shared CTE chain: word freqs → char rendering → `rounds` stages
    * of (pair count, argmax, merge). MATERIALIZED is load-bearing —
    * each stage references its predecessors more than once, and
    * DuckDB's default CTE inlining re-evaluates the whole chain
    * exponentially (~3^rounds document scans). */
  private def oraclePrefix(textCol: String, rounds: Int): String = {
    val stages = (0 until rounds).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT syms[i] AS s1, syms[i+1] AS s2, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM (SELECT string_split(s, '|') AS syms, freq FROM w$r),
         |       UNNEST(generate_series(1, len(syms)-2)) AS u(i)
         |  GROUP BY 1, 2),
         |m$r AS MATERIALIZED (SELECT s1, s2, cnt FROM p$r ORDER BY cnt DESC, s1, s2 LIMIT 1),
         |w${r + 1} AS MATERIALIZED (
         |  SELECT replace(s, (SELECT s1||'|'||s2||'|' FROM m$r),
         |                    (SELECT s1||s2||'|' FROM m$r)) AS s, freq
         |  FROM w$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH wf AS MATERIALIZED (
       |  SELECT word, COUNT(*) AS freq FROM (
       |    SELECT unnest(${TextOps.wordsSql(textCol)}) AS word FROM documents)
       |  WHERE regexp_matches(word, '^[a-z]+$$') GROUP BY word),
       |w0 AS MATERIALIZED (SELECT regexp_replace(word, '(.)', '\\1|', 'g') AS s, freq FROM wf),
       |$stages""".stripMargin
  }
}
