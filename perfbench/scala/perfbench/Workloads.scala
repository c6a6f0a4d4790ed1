package perfbench

import graft.queries.DashboardQueries

/** The three named workloads: which registered queries a pass calls,
  * whether a pass starts by clearing the engine's memos, and the
  * seeded call order within a pass.
  */
final case class Workload(
    name: String,
    queries: Seq[String],
    clearMemosPerPass: Boolean,
    family: Map[String, String])

object Workloads {

  /** Curation kernels grouped by the `graft.ops` family they exercise:
    * per family a memo's filler and a consumer that hits it, or the
    * family's cheapest kernels, sized so that one pass fits the
    * benchmark's run length (perfbench/README.md lists the rest). The
    * lsh family's query runs the `SimilarityOps` LSH kNN kernel; the
    * MinHash banding of `q_minhash_lsh` is already timed under dedup,
    * inside `q_dedup_groups`.
    */
  val curationFamilies: Seq[(String, Seq[String])] = Seq(
    "graph" -> Seq("q_pagerank", "q_kcore"),
    "lsh" -> Seq("q_knn_graph_merge"),
    "dedup" -> Seq("q_dedup_groups", "q_canonical_docs"),
    "pca" -> Seq("q_pca_project", "q_pca_variance"),
    "bpe" -> Seq("q_bpe_merges", "q_bpe_fertility"))

  /** Streaming drains covering watermarked aggregation, the parquet
    * file sink, dedup state, late-row drops and both streaming memos.
    */
  val streamingQueries: Seq[String] = Seq(
    "q_stream_hourly", "q_stream_hourly_append", "q_stream_dedup",
    "q_stream_late", "q_stream_late_audit", "q_stream_pca", "q_stream_outliers_pca")

  /** Curation and streaming queries left out of the workloads to fit
    * the run length; they are pinned too, so a workload can take them
    * back without re-pinning.
    */
  val leftOut: Seq[String] = Seq("q_ppr", "q_weighted_hops", "q_bfs_hops",
    "q_communities", "q_knn_graph_staged", "q_minhash_lsh", "q_knn_clusters_lsh",
    "q_ann_opq", "q_dup_cluster_sizes", "q_soft_dedup_sample", "q_dedup_groups_dist",
    "q_pca_transform", "q_embed_outliers_pca")

  /** Every query with a pinned result. */
  def pinned: Seq[String] = (names.flatMap(n => byName(n).queries) ++ leftOut ++
    graft.SparkEntry.queries.keys.filter(_.startsWith("q_stream_"))).distinct.sorted

  /** Memo groups, one per `graft.ops.Memos.register` site that names
    * consumers, each listed filler first: the first consumer of a group
    * in a pass fills it, the later ones hit it. The `Tables` relation
    * cache registers without consumers, so it has no group here.
    */
  val memoGroups: Map[String, Seq[String]] = Map(
    "dedup_groups" -> Seq("q_dedup_groups", "q_canonical_docs",
      "q_dup_cluster_sizes", "q_soft_dedup_sample"),
    "pca_moments" -> Seq("q_pca_project", "q_pca_variance", "q_pca_transform",
      "q_embed_outliers_pca", "q_ann_opq"),
    "bpe_merges" -> Seq("q_bpe_merges", "q_bpe_fertility"),
    "stream_late" -> Seq("q_stream_late", "q_stream_late_audit"),
    "stream_moments" -> Seq("q_stream_pca", "q_stream_outliers_pca"))

  def dashboard: Workload = Workload("dashboard",
    DashboardQueries.byReferenceName.values.map(_.name).toSeq.distinct.sorted,
    clearMemosPerPass = false, Map.empty)

  def curation: Workload = Workload("curation",
    curationFamilies.flatMap(_._2),
    clearMemosPerPass = true,
    curationFamilies.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap)

  def streaming: Workload = Workload("streaming", streamingQueries,
    clearMemosPerPass = true, Map.empty)

  def byName(name: String): Workload = name match {
    case "dashboard" => dashboard
    case "curation" => curation
    case "streaming" => streaming
    case other => throw new IllegalArgumentException(
      s"unknown workload `$other` (dashboard, curation, streaming)")
  }

  val names: Seq[String] = Seq("dashboard", "curation", "streaming")

  /** Call order of pass `pass`: a shuffle seeded by (seed, pass), so a
    * seed fixes every pass's order and passes differ from each other.
    * A memo group's consumers then take the group's slots in the
    * group's own order, so the same query fills a memo in every pass.
    */
  def order(queries: Seq[String], seed: Long, pass: Int): Seq[String] = {
    val groupOf = memoGroupOf(queries)
    val next = memoGroups.map { case (g, qs) => g -> qs.filter(queries.contains).iterator }
    new scala.util.Random(seed * 1000003L + pass).shuffle(queries.sorted)
      .map(q => groupOf.get(q).map(g => next(g).next()).getOrElse(q))
  }

  /** Memo group of each consumer query in `queries`. */
  def memoGroupOf(queries: Seq[String]): Map[String, String] =
    memoGroups.toSeq.flatMap { case (g, qs) => qs.filter(queries.contains).map(_ -> g) }.toMap
}
