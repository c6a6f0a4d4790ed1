package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.{DedupOps, GraphOps}
import org.apache.spark.sql.functions._

/** Whole-graph analytics over the near-duplicate similarity graph —
  * the iterative-algorithm family (beyond connected components) that a
  * 100 TB curation pipeline runs on its candidate-pair output:
  * centrality tells you which documents sit at the center of large
  * duplication clusters (crawl hubs, boilerplate templates).
  */
object GraphQueries {

  private val Iterations = 10

  /** Deterministic PageRank ([[GraphOps.pageRank]]) on the symmetric
    * MinHash near-dup graph (threshold 0.8) over ALL documents —
    * dangling (unduplicated) docs keep the teleport+dangling-share
    * mass; hub docs of chained duplicate clusters rank highest. The
    * certified SFs' graphs are far under [[GraphOps.LocalMaxEdges]], so
    * the rounds run on the driver after one collect of edges and ids. The
    * oracle replays all `Iterations` rounds as unrolled CTEs in exact
    * integer micro-unit arithmetic on top of the certified MinHash
    * pair CTEs — bit-equality across engines, no float in sight.
    */
  val q_pagerank = QueryDef(
    "q_pagerank", {
      // AS MATERIALIZED: each iteration references its predecessor
      // more than once (dangling mass + contributions) — DuckDB's
      // default CTE inlining would otherwise expand the chain
      // exponentially (2^Iterations copies of the MinHash pipeline).
      val iters = (0 until Iterations).map { t =>
        s"""d$t AS MATERIALIZED (
           |  SELECT COALESCE(CAST(SUM(r.rank) AS BIGINT), 0) AS dm
           |  FROM r$t r LEFT JOIN deg g ON g.id = r.id WHERE g.id IS NULL),
           |c$t AS MATERIALIZED (
           |  SELECT e.dst AS id, CAST(SUM(r.rank // g.outdeg) AS BIGINT) AS s
           |  FROM r$t r JOIN deg g ON g.id = r.id JOIN edges e ON e.src = r.id
           |  GROUP BY e.dst),
           |r${t + 1} AS MATERIALIZED (
           |  SELECT n.id, CAST(((sc.s // sc.n) * 15) // 100
           |    + (85 * (COALESCE(c.s, 0) + d.dm // sc.n)) // 100 AS BIGINT) AS rank
           |  FROM nodes n CROSS JOIN sc CROSS JOIN d$t d
           |  LEFT JOIN c$t c ON c.id = n.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${DedupOps.minhashPairsSqlCtes(0.8)},
         |edges AS MATERIALIZED (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |nodes AS MATERIALIZED (SELECT doc_id AS id FROM documents),
         |sc AS MATERIALIZED (
         |  SELECT GREATEST(1000000, 1000 * COUNT(*)) AS s, COUNT(*) AS n
         |  FROM nodes),
         |deg AS MATERIALIZED (
         |  SELECT src AS id, COUNT(*) AS outdeg FROM edges GROUP BY src),
         |r0 AS MATERIALIZED (
         |  SELECT n.id, CAST(sc.s // sc.n AS BIGINT) AS rank
         |  FROM nodes n CROSS JOIN sc),
         |$iters
         |SELECT r.id AS doc_id, r.rank AS rank_micro
         |FROM r$Iterations r ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val pairs = graft.ops.Reuse.materialized(
      DedupOps.minhashNearDuplicates(docs, "doc_id", "text", 0.8)
        .select(col("doc_a"), col("doc_b")))
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val nodes = docs.select(col("doc_id").as("id"))
    GraphOps.pageRank(nodes, edges, Iterations)
      .select(col("id").as("doc_id"), col("rank").as("rank_micro"))
      .orderBy(col("doc_id"))
  }

  /** Per-document triangle count + local clustering coefficient on
    * the same near-dup graph ([[GraphOps.triangleCounts]]): dup
    * clusters are near-cliques, so triangle density separates true
    * template/boilerplate clusters (coefficient → 10000 bp) from
    * chained borderline matches (long paths, coefficient → 0) — the
    * standard graph-cohesion read on a dedup candidate graph. The
    * engine enumerates by degree-ordered orientation (O(m^1.5)
    * wedges); the oracle enumerates by id order over the same pair
    * set — the triangle SET is orientation-invariant, so integer
    * counts agree structurally. Coefficient in basis points via
    * integer floor division (`DIV` = DuckDB `//`), the repo-standard
    * cross-engine-exact ratio policy.
    */
  val q_triangles = QueryDef(
    "q_triangles",
    s"""WITH ${DedupOps.minhashPairsSqlCtes(0.8)},
       |und AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM pairs),
       |deg AS MATERIALIZED (
       |  SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
       |    SELECT a AS id FROM und UNION ALL SELECT b FROM und) GROUP BY id),
       |tri AS MATERIALIZED (
       |  SELECT p1.a AS x, p1.b AS y, p2.b AS z
       |  FROM und p1 JOIN und p2 ON p2.a = p1.b
       |  JOIN und p3 ON p3.a = p1.a AND p3.b = p2.b),
       |tn AS (
       |  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
       |    SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
       |    UNION ALL SELECT z FROM tri) GROUP BY id)
       |SELECT d.doc_id, COALESCE(g.deg, 0) AS degree,
       |  COALESCE(t.n_triangles, 0) AS n_triangles,
       |  CASE WHEN COALESCE(g.deg, 0) >= 2
       |    THEN (20000 * COALESCE(t.n_triangles, 0)) // (g.deg * (g.deg - 1))
       |    ELSE CAST(0 AS BIGINT) END AS clustering_bp
       |FROM documents d
       |LEFT JOIN deg g ON g.id = d.doc_id
       |LEFT JOIN tn t ON t.id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val pairs = graft.ops.Reuse.materialized(
      DedupOps.minhashNearDuplicates(docs, "doc_id", "text", 0.8)
        .select(col("doc_a").as("a"), col("doc_b").as("b")))
    GraphOps.triangleCounts(docs.select(col("doc_id").as("id")), pairs)
      .select(col("id").as("doc_id"), col("degree"), col("n_triangles"),
        when(col("degree") >= 2,
          expr("(20000 * n_triangles) DIV (degree * (degree - 1))"))
          .otherwise(lit(0L)).as("clustering_bp"))
      .orderBy(col("doc_id"))
  }

  private val LpaRounds = 4

  /** Deterministic label-propagation communities
    * ([[GraphOps.labelPropagation]]) on the near-dup graph: where
    * connected components (q_dedup_groups) merge everything
    * reachable, LPA's density criterion splits chained borderline
    * matches into distinct boilerplate families. Synchronous rounds +
    * smallest-label tie-break = a pure function of the graph, so the
    * oracle replays all `LpaRounds` rounds as unrolled CTEs over the
    * same certified MinHash pair CTEs — exact integer equality, like
    * q_pagerank.
    */
  val q_communities = QueryDef(
    "q_communities", {
      val iters = (0 until LpaRounds).map { t =>
        s"""cnt$t AS MATERIALIZED (
           |  SELECT e.dst AS id, l.lbl, CAST(COUNT(*) AS BIGINT) AS cnt
           |  FROM lab$t l JOIN edges e ON e.src = l.id GROUP BY 1, 2),
           |best$t AS MATERIALIZED (
           |  SELECT id, lbl AS newlbl FROM (
           |    SELECT id, lbl, ROW_NUMBER() OVER (PARTITION BY id
           |      ORDER BY cnt DESC, lbl) AS rn FROM cnt$t) t WHERE rn = 1),
           |lab${t + 1} AS MATERIALIZED (
           |  SELECT n.id, COALESCE(b.newlbl, n.lbl) AS lbl
           |  FROM lab$t n LEFT JOIN best$t b ON b.id = n.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${DedupOps.minhashPairsSqlCtes(0.8)},
         |edges AS MATERIALIZED (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |nodes AS MATERIALIZED (SELECT doc_id AS id FROM documents),
         |lab0 AS MATERIALIZED (SELECT id, id AS lbl FROM nodes),
         |$iters
         |SELECT l.id AS doc_id, l.lbl AS community,
         |  CAST(COUNT(*) OVER (PARTITION BY l.lbl) AS BIGINT)
         |    AS community_size
         |FROM lab$LpaRounds l ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val pairs = graft.ops.Reuse.materialized(
      DedupOps.minhashNearDuplicates(docs, "doc_id", "text", 0.8)
        .select(col("doc_a"), col("doc_b")))
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lbl"))
    GraphOps.labelPropagation(docs.select(col("doc_id").as("id")), edges, LpaRounds)
      .withColumn("community_size", count(lit(1)).over(w))
      .select(col("id").as("doc_id"), col("lbl").as("community"),
        col("community_size"))
      .orderBy(col("doc_id"))
  }

  private val CoreRounds = 4

  /** Bounded 2-core peeling ([[GraphOps.kCorePeel]]) on the near-dup
    * graph: vertices surviving `CoreRounds` rounds of degree-<2
    * removal — chained borderline matches peel away, true dup
    * clusters (cycles/cliques) survive. Fixed rounds → pure function
    * of the graph → unrolled-CTE oracle, like q_pagerank and
    * q_communities.
    */
  val q_kcore = QueryDef(
    "q_kcore", {
      val iters = (0 until CoreRounds).map { t =>
        s"""d$t AS MATERIALIZED (
           |  SELECT e.src AS id, CAST(COUNT(*) AS BIGINT) AS d
           |  FROM edges e JOIN al$t x ON e.src = x.id
           |  JOIN al$t y ON e.dst = y.id
           |  GROUP BY 1),
           |al${t + 1} AS MATERIALIZED (SELECT id FROM d$t WHERE d >= 2)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH ${DedupOps.minhashPairsSqlCtes(0.8)},
         |edges AS MATERIALIZED (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |al0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
         |$iters
         |SELECT d.doc_id,
         |  CAST(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         |    AS in_core
         |FROM documents d LEFT JOIN al$CoreRounds a ON a.id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin
    }) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val pairs = graft.ops.Reuse.materialized(
      DedupOps.minhashNearDuplicates(docs, "doc_id", "text", 0.8)
        .select(col("doc_a").as("a"), col("doc_b").as("b")))
    GraphOps.kCorePeel(docs.select(col("doc_id").as("id")), pairs,
      k = 2, rounds = CoreRounds)
      .select(col("id").as("doc_id"), col("in_core"))
      .orderBy(col("doc_id"))
  }

  private val BfsRounds = 6

  /** Bounded-depth multi-source BFS over the near-dup graph
    * ([[GraphOps.bfsHops]]): hop distance from the nearest seed
    * document (every 97th doc id — a deterministic spread standing in
    * for "known-bad boilerplate" seeds) for every document, NULL when
    * unreached within 6 hops. The contamination-blast-radius read on a
    * dedup graph: how many hops of near-duplication separate the
    * corpus from a flagged seed set. Level-synchronous frontier
    * relaxation: on the driver while the graph is under
    * [[GraphOps.LocalMaxEdges]], else one edge join + min-merge per
    * distributed round; the oracle unrolls all 6 rounds as
    * MATERIALIZED CTEs over the same certified MinHash pair pipeline —
    * exact integer hops, engine-identical.
    */
  val q_bfs_hops = QueryDef(
    "q_bfs_hops", {
      val iters = (0 until BfsRounds).map { t =>
        s"""d${t + 1} AS MATERIALIZED (
           |  SELECT id, CAST(MIN(hop) AS BIGINT) AS hop FROM (
           |    SELECT id, hop FROM d$t
           |    UNION ALL
           |    SELECT e.dst AS id, x.hop + 1 AS hop
           |    FROM d$t x JOIN edges e ON e.src = x.id)
           |  GROUP BY id)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${DedupOps.minhashPairsSqlCtes(0.8)},
         |edges AS MATERIALIZED (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |d0 AS MATERIALIZED (
         |  SELECT doc_id AS id, CAST(0 AS BIGINT) AS hop
         |  FROM documents WHERE doc_id % 97 = 0),
         |$iters
         |SELECT d.doc_id, x.hop AS hops
         |FROM documents d LEFT JOIN d$BfsRounds x ON x.id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin
    }) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val pairs = graft.ops.Reuse.materialized(
      DedupOps.minhashNearDuplicates(docs, "doc_id", "text", 0.8)
        .select(col("doc_a"), col("doc_b")))
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val seeds = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("id"))
    docs.join(
      GraphOps.bfsHops(seeds, edges, BfsRounds)
        .withColumnRenamed("id", "doc_id").withColumnRenamed("hop", "hops"),
      Seq("doc_id"), "left")
      .select(col("doc_id"), col("hops"))
      .orderBy(col("doc_id"))
  }

  /** Bounded-round WEIGHTED shortest paths ([[GraphOps.weightedHops]])
    * from the same seed anchors as q_bfs_hops, with edge cost
    * 10000 − jaccard_bp — dissimilarity in basis points, derived from
    * the CERTIFIED rounded jaccard (both engines start from the same
    * .4-rounded double, so `10000 − ⌊j·10⁴+0.5⌋` is the same BIGINT).
    * Where BFS answers "how many dup links away", this answers "how
    * much cumulative dissimilarity away" — chained borderline matches
    * now cost more than chains of exact copies, which is the right
    * triage metric for contamination spread. Bounded-round
    * Bellman-Ford (driver-local under the gate, like q_bfs_hops),
    * ≤-R-edge paths optimal after R rounds; unrolled-CTE oracle.
    */
  val q_weighted_hops = QueryDef(
    "q_weighted_hops", {
      val iters = (0 until BfsRounds).map { t =>
        s"""d${t + 1} AS MATERIALIZED (
           |  SELECT id, CAST(MIN(dist) AS BIGINT) AS dist FROM (
           |    SELECT id, dist FROM d$t
           |    UNION ALL
           |    SELECT e.dst AS id, x.dist + e.w AS dist
           |    FROM d$t x JOIN wed e ON e.src = x.id)
           |  GROUP BY id)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${DedupOps.minhashScoredPairsSqlCtes(0.8)},
         |wed AS MATERIALIZED (
         |  SELECT doc_a AS src, doc_b AS dst,
         |    CAST(10000 - FLOOR(jaccard * 10000 + 0.5) AS BIGINT) AS w
         |  FROM pairs
         |  UNION ALL
         |  SELECT doc_b, doc_a,
         |    CAST(10000 - FLOOR(jaccard * 10000 + 0.5) AS BIGINT)
         |  FROM pairs),
         |d0 AS MATERIALIZED (
         |  SELECT doc_id AS id, CAST(0 AS BIGINT) AS dist
         |  FROM documents WHERE doc_id % 97 = 0),
         |$iters
         |SELECT d.doc_id, x.dist AS dist_bp
         |FROM documents d LEFT JOIN d$BfsRounds x ON x.id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin
    }) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val pairs = graft.ops.Reuse.materialized(
      DedupOps.minhashNearDuplicates(docs, "doc_id", "text", 0.8))
    val w = (lit(10000L) - floor(col("jaccard") * 10000 + 0.5).cast("long"))
      .as("w")
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"), w)
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"), w))
    val seeds = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("id"))
    docs.join(
      GraphOps.weightedHops(seeds, edges, BfsRounds)
        .withColumnRenamed("id", "doc_id").withColumnRenamed("dist", "dist_bp"),
      Seq("doc_id"), "left")
      .select(col("doc_id"), col("dist_bp"))
      .orderBy(col("doc_id"))
  }

  /** Personalized PageRank ([[GraphOps.personalizedPageRank]]) seeded
    * at one trusted source's documents (`source = 'src0'`): the
    * random-walk-with-restart proximity score over the near-dup graph
    * — "how tightly does each document's duplication neighborhood tie
    * it to the vetted set?", the trust-propagation read a curation
    * pipeline uses to triage unvetted docs next to known-good ones.
    * Non-seed docs score 0 unless the walk actually reaches them, so
    * the output doubles as a reachability-weighted audit. The oracle
    * unrolls all rounds as exact integer micro-unit CTEs like
    * q_pagerank, with the restart and dangling mass going ONLY to
    * seeds (`dm DIV |seeds|` through a LEFT JOIN seed flag).
    */
  val q_ppr = QueryDef(
    "q_ppr", {
      val iters = (0 until Iterations).map { t =>
        s"""d$t AS MATERIALIZED (
           |  SELECT COALESCE(CAST(SUM(r.rank) AS BIGINT), 0) AS dm
           |  FROM r$t r LEFT JOIN deg g ON g.id = r.id WHERE g.id IS NULL),
           |c$t AS MATERIALIZED (
           |  SELECT e.dst AS id, CAST(SUM(r.rank // g.outdeg) AS BIGINT) AS s
           |  FROM r$t r JOIN deg g ON g.id = r.id JOIN edges e ON e.src = r.id
           |  GROUP BY e.dst),
           |r${t + 1} AS MATERIALIZED (
           |  SELECT n.id, CAST(
           |    (CASE WHEN sd.id IS NOT NULL
           |      THEN ((sc.s // ns.k) * 15) // 100 ELSE 0 END)
           |    + (85 * (COALESCE(c.s, 0)
           |        + CASE WHEN sd.id IS NOT NULL THEN d.dm // ns.k ELSE 0 END))
           |      // 100 AS BIGINT) AS rank
           |  FROM nodes n CROSS JOIN sc CROSS JOIN ns CROSS JOIN d$t d
           |  LEFT JOIN c$t c ON c.id = n.id
           |  LEFT JOIN seeds sd ON sd.id = n.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${DedupOps.minhashPairsSqlCtes(0.8)},
         |edges AS MATERIALIZED (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |nodes AS MATERIALIZED (SELECT doc_id AS id FROM documents),
         |seeds AS MATERIALIZED (
         |  SELECT doc_id AS id FROM documents WHERE source = 'src0'),
         |sc AS MATERIALIZED (
         |  SELECT GREATEST(1000000, 1000 * COUNT(*)) AS s FROM nodes),
         |ns AS MATERIALIZED (SELECT COUNT(*) AS k FROM seeds),
         |deg AS MATERIALIZED (
         |  SELECT src AS id, COUNT(*) AS outdeg FROM edges GROUP BY src),
         |r0 AS MATERIALIZED (
         |  SELECT n.id, CAST(CASE WHEN sd.id IS NOT NULL
         |    THEN sc.s // ns.k ELSE 0 END AS BIGINT) AS rank
         |  FROM nodes n CROSS JOIN sc CROSS JOIN ns
         |  LEFT JOIN seeds sd ON sd.id = n.id),
         |$iters
         |SELECT r.id AS doc_id, r.rank AS rank_micro
         |FROM r$Iterations r ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val pairs = graft.ops.Reuse.materialized(
      DedupOps.minhashNearDuplicates(docs, "doc_id", "text", 0.8)
        .select(col("doc_a"), col("doc_b")))
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val nodes = docs.select(col("doc_id").as("id"),
      (col("source") === "src0").as("is_seed"))
    GraphOps.personalizedPageRank(nodes, edges, Iterations)
      .select(col("id").as("doc_id"), col("rank").as("rank_micro"))
      .orderBy(col("doc_id"))
  }

  val all: Seq[QueryDef] =
    Seq(q_pagerank, q_triangles, q_communities, q_kcore, q_bfs_hops, q_ppr,
      q_weighted_hops)
}
