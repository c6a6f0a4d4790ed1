package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression tests: the scale posture (pushdown,
  * pruning, broadcast, top-k) must be visible in the executed plan, not
  * assumed. A plan that silently regresses to a global sort or a
  * shuffled dimension join is a perf bug even while results stay
  * correct.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("filters push into the parquet scan") {
    val p = plan("q_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"missing pushed filter:\n$p")
  }

  test("scans prune to the referenced columns only") {
    val p = plan("q_top_parts")
    assert(p.contains("ReadSchema: struct<l_partkey:bigint,l_quantity:double>"),
      s"column pruning regressed:\n$p")
  }

  test("dimension joins broadcast") {
    val p = plan("q_customer_by_region")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dimension join should not SMJ:\n$p")
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan("q_top_parts")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("ANN query broadcasts the query side") {
    val p = plan("q_ann_topk")
    assert(p.contains("BroadcastNestedLoopJoin"), s"expected BNLJ:\n$p")
  }

  test("bbox range join broadcasts the box dimension (points never shuffle)") {
    val p = plan("q_bbox_lookup")
    assert(p.contains("BroadcastNestedLoopJoin"), s"expected BNLJ:\n$p")
    assert(!p.contains("CartesianProduct"), s"range join must not go cartesian:\n$p")
  }

  test("prefix-key lookup join broadcasts the dimension") {
    val p = plan("q_brand_prefix_join")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast hash join:\n$p")
  }

  test("no lazily-planned batch query compiles to a CartesianProduct") {
    // sweep over the queries whose DataFrame construction does NOT
    // execute jobs: a cross product that isn't a broadcast nested loop
    // is always a scale bug. Excluded: streaming drains, and pipelines
    // with eager localCheckpoint()/collect()/ML fits inside — their
    // executedPlan starts from a checkpointed scan (upstream subplans
    // invisible) and building them runs the heavy pipeline; those
    // assert their plan shapes in dedicated tests instead.
    val eager = Set(
      "q_dedup_groups", "q_bm25", "q_hybrid_search", "q_contamination",
      "q_dbscan_profile", "q_minhash_lsh", "q_ngram_jaccard",
      "q_clean_corpus", "q_dedup_decisions", "q_ann_ivf", "q_kmeans_sizes",
      "q_forecast_hw", "q_forecast_alerts",
      // eager staged-build parquet writes / PCA basis fit at frame
      // construction (round 12)
      "q_knn_graph_staged", "q_ann_opq",
      // building the frame writes + registers the MV (eager catalog
      // work); their plan shapes are asserted in dedicated tests below
      "q_mv_rewrite", "q_mv_rewrite_grain", "q_mv_rewrite_avg",
      // eager range shuffle + bounded offsets collect at build time;
      // deploy shape asserted in its dedicated test below
      "q_epoch_shuffle_dist")
    // Collect per-query analysis errors separately from the cartesian
    // list: a data-encoding drift that breaks analysis should name
    // every broken query ("q_asof_join: DATATYPE_MISMATCH…"), not die
    // with one stack trace on an unrelated assertion.
    val errors = scala.collection.mutable.ListBuffer[String]()
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("q_stream"))
      .filterNot(eager)
      .flatMap { name =>
        try {
          val p = SparkEntry.queries(name)(spark, sf)
            .queryExecution.executedPlan.toString
          if (p.contains("CartesianProduct")) Some(name) else None
        } catch { case e: Throwable =>
          errors += s"$name: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" ")}"
          None
        }
      }
    assert(errors.isEmpty, s"queries failing analysis/planning:\n  ${errors.mkString("\n  ")}")
    assert(offenders.isEmpty, s"cartesian plans: $offenders")
  }

  test("aggregations run partial+final hash aggregate") {
    val p = plan("q_event_type_stats")
    assert(p.contains("HashAggregate"), s"expected hash agg:\n$p")
  }

  test("bucketed tables join without a shuffle") {
    import org.apache.spark.sql.functions._
    for (t <- Seq("ev_bucketed", "user_stats_bucketed")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(loc)
      }
    }
    graft.sinks.Sinks.writeBucketed(
      Tables.events(spark, sf).select(col("event_id"), col("user_id"), col("value")),
      "ev_bucketed", Seq("user_id"), 8)
    graft.sinks.Sinks.writeBucketed(
      Tables.events(spark, sf).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events")),
      "user_stats_bucketed", Seq("user_id"), 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a sort-merge join so the bucket layout (not a broadcast)
      // is what eliminates the shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("ev_bucketed")
        .join(spark.table("user_stats_bucketed"), "user_id")
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$p")
      assert(joined.count() === Tables.events(spark, sf).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bounded-heap top-k plans as one aggregate — no window, no sort exchange") {
    val pg = plan("q_topk_daily")
    assert(pg.contains("ObjectHashAggregate"), s"expected object hash agg:\n$pg")
    assert(!pg.contains("Window"), s"grouped top-k must not plan a window:\n$pg")
    val pw = plan("q_topk_words")
    assert(pw.contains("ObjectHashAggregate"), s"expected object hash agg:\n$pw")
    assert(!pw.contains("Window") && !pw.contains("TakeOrderedAndProject"),
      s"global top-k must come from the aggregate, not a sort stage:\n$pw")
  }

  test("whole-stage codegen covers the hot expressions") {
    // AQE plans only materialize stage-by-stage; execute first, then
    // inspect the final plan for codegen spans.
    val df = SparkEntry.queries("q_pricing_summary")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // whole-stage-codegen stages print as "*(n) Operator" in this format
    assert(p.contains("*(1)"), s"expected codegen stages:\n$p")
  }

  test("sketch profiler plans without the exact profiler's multi-distinct Expand") {
    val exact = plan("q_table_profile")
    assert(exact.contains("Expand"),
      s"exact multi-distinct should plan an Expand (ground-truth shape):\n$exact")
    val sketch = plan("q_table_profile_sketch")
    assert(!sketch.contains("Expand"),
      s"sketch profiler must not need the multi-distinct Expand:\n$sketch")
  }

  test("hashed embedding runs as a codegen expression, not a UDF") {
    val df = SparkEntry.queries("q_hashed_embedding")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"embedding must not plan a UDF:\n$p")
    assert(p.contains("hashed_embed"), s"expected the native expression:\n$p")
    assert(p.contains("*(1)"), s"expected codegen stages:\n$p")
  }

  test("interval join blocks to an equi-join — no nested-loop theta join") {
    val p = plan("q_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"bucketed blocking must avoid the theta-join plan:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), // AQE may demote the small sf side
      s"expected a hash/merge equi-join on the bucket id:\n$p")
  }

  test("fuzzy-match best-match is an aggregate, not a window sort") {
    val p = plan("q_fuzzy_match")
    assert(!p.contains("Window"),
      s"argmin must be the encoded-min aggregate, not row_number:\n$p")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      s"expected partial+final hash aggregate:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"),
      s"blocking-key candidate generation must be an equi-join:\n$p")
  }

  test("document chunking fans out with zero exchanges before the sort") {
    val p = plan("q_doc_chunks")
    // exactly the output ORDER BY's range exchange — the sequence/
    // explode/substr fan-out itself must add no shuffle
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"chunk fan-out must not shuffle:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("MapPartitions"),
      s"chunker must stay in codegen column algebra:\n$p")
  }

  test("CDC chunking keeps the cache barrier against projection re-collapse") {
    // q_cdc_chunks materializes the bounds stage so the chunks
    // transform reads a plain attribute; without the barrier,
    // CollapseProject inlines the hash→transform→filter chain into
    // EVERY element_at (measured 11 s → 0.42 s at sf0.1). The barrier
    // must survive as an InMemoryTableScan feeding the generator, and
    // the rolling hash must appear ONCE, below it.
    val p = plan("q_cdc_chunks")
    assert("Scan ExistingRDD\\[doc_id[^\\]]*bounds".r.findFirstIn(p).nonEmpty,
      s"bounds-stage materialization barrier lost — re-evaluation trap is back:\n$p")
    val hashEvals = "shinglepos".r.findAllIn(p.toLowerCase).size
    assert(hashEvals == 0,
      s"rolling hash leaked above the barrier ($hashEvals evals):\n$p")
  }

  test("sketch ANN plans as brute's shape plus a stateless radius conjunct") {
    val p = plan("q_ann_sketch")
    // the prefilter is a FILTER in the nested-loop stage, not an
    // aggregate shortlist: no ObjectHashAggregate, exactly one rank
    // window, and the POPCNT distance sits in a condition
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert(p.toLowerCase.contains("hammingdist"), p.take(1200))
    assert(!p.contains("ObjectHashAggregate"),
      "radius prefilter regressed to a heap shortlist:\n" + p.take(1200))
    assert("Window".r.findAllIn(p).size >= 1, p.take(1200))
  }

  test("indexed sketch ANN scans the persisted sketch — no corpus re-sketch, no barrier") {
    val p = plan("q_ann_index") // building the frame also (re)builds the index table
    // corpus side: a bucketed-table columnar scan carrying the stored
    // sketch column, NOT a projection recomputing it
    assert(p.contains("FileScan parquet spark_catalog.default.graft_ann_index") &&
      p.contains("Bucketed: true") && p.contains("csk:array<bigint>"), p.take(1500))
    val resketches = "hyperplanesketch".r.findAllIn(p.toLowerCase).size
    assert(resketches <= 1, // exactly the broadcast QUERY side's sketch
      s"corpus side re-sketched ($resketches hyperplane_sketch nodes):\n${p.take(1500)}")
    // and the compute-path's materialization barrier is gone: the only
    // shuffles are the rank window's hash partition + the output sort
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(p).size
    assert(exchanges <= 2,
      s"indexed search should need no repartition barrier:\n${p.take(1500)}")
    assert(p.contains("BroadcastNestedLoopJoin") &&
      p.toLowerCase.contains("hammingdist"), p.take(1200))
  }

  test("filtered index search pushes the metadata predicate into the index scan") {
    val p = plan("q_ann_index_filtered")
    assert(p.contains("IsNotNull(label)") && p.contains("EqualTo(label,2)") &&
      p.contains("PushedFilters"),
      s"label filter not pushed into the index scan:\n${p.take(1500)}")
    // still the index path: bucketed scan carries the stored sketch
    assert(p.contains("graft_ann_index_meta") && p.contains("csk"), p.take(1200))
  }

  test("MV rewrite answers the certified query from the stored rollup") {
    val p = plan("q_mv_rewrite")
    assert(p.contains("graft_mv_lineitem_rollup"),
      s"q_mv_rewrite must scan the MV, not the base:\n${p.take(1500)}")
    assert(!p.contains("lineitem.parquet"),
      s"base lineitem scan survived the MV rewrite:\n${p.take(1500)}")
  }

  test("coarser-grain MV rewrite re-aggregates the rollup, never the base") {
    val p = plan("q_mv_rewrite_grain")
    assert(p.contains("graft_mv_lineitem_rollup"),
      s"q_mv_rewrite_grain must scan the MV:\n${p.take(1500)}")
    assert(!p.contains("lineitem.parquet"),
      s"base lineitem scan survived the coarser-grain rewrite:\n${p.take(1500)}")
    assert(p.contains("HashAggregate"),
      s"coarser grain must RE-AGGREGATE the rollup (sum-of-sums):\n${p.take(1500)}")
  }

  test("AVG over the MV rewrite derives from the rollup, never the base") {
    val p = plan("q_mv_rewrite_avg")
    assert(p.contains("graft_mv_lineitem_rollup"),
      s"q_mv_rewrite_avg must scan the MV:\n${p.take(1500)}")
    assert(!p.contains("lineitem.parquet"),
      s"base lineitem scan survived the AVG derivation:\n${p.take(1500)}")
  }

  test("full-corpus kNN graph blocks by LSH bands: no crossJoin, no corpus broadcast") {
    // the whole point of q_knn_graph_lsh vs the query-broadcast
    // q_knn_graph: candidate generation must be an EQUI-join on
    // (band, bucket) so the shape survives corpus-sized query sets —
    // a BroadcastNestedLoopJoin or CartesianProduct here means the
    // plan degenerated to all-pairs
    val p = plan("q_knn_graph_lsh")
    assert(!p.contains("CartesianProduct"),
      s"LSH kNN graph went cartesian:\n${p.take(1500)}")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"LSH kNN graph broadcasts a side through a non-equi join:\n${p.take(1500)}")
    // banding rides the codegen'd N-probe bucket kernel (one per-band
    // bucket array, no packed signature) that every LSH kNN side builds on
    assert(p.toLowerCase.contains("multiprobebucketsn"),
      s"candidate generation should ride the codegen bucket kernel:\n${p.take(1200)}")
  }

  test("bloom-pruned as-of: bitmap filter sits BELOW the exec on the history side") {
    // Spark's own runtime bloom injection can't see custom nodes, so
    // the prune must be graft's BitsetContains conjunct under the
    // AsofJoinExec — if it drifts above the exec (or vanishes) the
    // history side shuffles unpruned
    val p = plan("q_asof_bloom")
    val iExec = p.indexOf("AsofJoin")
    assert(iExec >= 0, p.take(800))
    assert(p.substring(iExec).toLowerCase.contains("bitsetcontains"),
      s"bitmap filter not below the as-of exec:\n${p.take(1500)}")
  }

  test("deploy-scale epoch shuffle: range-partitioned sort, no per-epoch window") {
    // the deploy form must shuffle by RANGE on the full (epoch, hv, id)
    // sort key and splice positions via partition offsets — a Window
    // node anywhere means the single-partition-per-epoch rank the
    // distributed formulation exists to eliminate snuck back in
    val runs = graft.ops.EpochOps.orderedRuns(
      spark,
      Tables.documents(spark, sf).select(org.apache.spark.sql.functions.col("doc_id")),
      "doc_id", Seq(0L, 1L, 2L), numPartitions = 8)
    val rp = runs.queryExecution.executedPlan.toString
    assert(rp.contains("rangepartitioning"),
      s"epoch-shuffle runs must RANGE-partition on the sort key:\n${rp.take(1200)}")
    assert(!rp.contains("Window"),
      s"no window in the partitioned runs:\n${rp.take(1200)}")
    val p = plan("q_epoch_shuffle_dist")
    assert(!p.contains("Window"),
      s"deploy-scale epoch shuffle must not rank through a window:\n${p.take(1200)}")
    assert(p.contains("MapPartitions"),
      s"positions should come from the partition-offset mapPartitions pass:\n${p.take(1200)}")
  }

  // ---- golden plan-shape snapshots -----------------------------------

  /** Normalized plan fingerprint: preorder walk of the physical plan,
    * keeping only the LOAD-BEARING node kinds (joins with their
    * strategy, exchanges, aggregates, sorts, windows, generates,
    * scans, custom execs) and dropping ids, codegen wrappers, and
    * cosmetic projections/filters. A lost broadcast shows up as
    * BroadcastHashJoin→SortMergeJoin + a new Exchange; a new shuffle
    * as an extra Exchange — exactly the regressions that otherwise
    * surface only as bench noise.
    */
  private def fingerprint(name: String): String = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.initialPlan)
      case w: WholeStageCodegenExec => walk(w.child)
      case i: InputAdapter => walk(i.child)
      case other =>
        val n = other.getClass.getSimpleName.stripSuffix("Exec")
        val keep = n.contains("Join") || n.contains("Exchange") ||
          n.contains("Aggregate") || n.contains("Scan") ||
          n == "Sort" || n == "Window" || n == "Generate" || n == "Expand" ||
          n == "CartesianProduct" || n == "TakeOrderedAndProject" ||
          n.contains("Limit") || n == "Union" || n.startsWith("Asof")
        (if (keep) Seq(n) else Nil) ++ other.children.flatMap(walk)
    }
    walk(SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)
      .mkString(">")
  }

  /** Pinned shapes for the 10 most expensive BATCH queries of the
    * current bench (BENCH_DETAIL.json; q_stream_* excluded — building
    * their frame runs the drain, and streaming plans are per-batch).
    *
    * UPDATE FLOW when a shape change is INTENTIONAL: run
    * `sbt "testOnly graft.PlanSpec -- -z golden"` — the failure
    * message prints the actual fingerprint; review the diff (is the
    * new exchange/join strategy deliberate?), then paste it here with
    * a line in the commit message saying why the shape moved.
    */
  private val goldenShapes: Map[String, String] = Map(
    // round-8: the 5-way star join must keep every dimension broadcast
    // (one fact shuffle for the orders join, zero for the dims)
    "q_market_share" -> "Sort>ShuffleExchange>HashAggregate>ShuffleExchange>HashAggregate>BroadcastHashJoin>BroadcastHashJoin>BroadcastHashJoin>BroadcastHashJoin>FileSourceScan>BroadcastExchange>FileSourceScan>BroadcastExchange>FileSourceScan>BroadcastExchange>BroadcastHashJoin>FileSourceScan>BroadcastExchange>FileSourceScan>BroadcastExchange>FileSourceScan",
    // round-7 flagships: the custom-exec and sketch plans, drift-pinned
    // like the expensive ones (q_ann_sketch's static plan IS the shape
    // q_stream_ann executes per micro-batch — same sketchTopK call)
    // round-14: the probe side reads the parquet scan directly instead
    // of a persisted RDD — Reuse.materialized now skips trivial
    // scan+narrow plans (re-scan beats an eager persist job + row
    // copies; the bitmap build recomputes the same deterministic scan)
    "q_asof_bloom" -> "Sort>ShuffleExchange>AsofJoin>Sort>ShuffleExchange>FileSourceScan>Sort>ShuffleExchange>HashAggregate>ShuffleExchange>HashAggregate>FileSourceScan",
    "q_ann_sketch" -> "Sort>ShuffleExchange>Window>WindowGroupLimit>Sort>ShuffleExchange>WindowGroupLimit>Sort>BroadcastNestedLoopJoin>ShuffleExchange>FileSourceScan>BroadcastExchange>FileSourceScan",
    "q_ann_index" -> "Sort>ShuffleExchange>Window>WindowGroupLimit>Sort>ShuffleExchange>WindowGroupLimit>Sort>BroadcastNestedLoopJoin>FileSourceScan>BroadcastExchange>FileSourceScan",
    "q_asof_tolerance_native" -> "Sort>ShuffleExchange>AsofJoin>Sort>ShuffleExchange>FileSourceScan>Sort>ShuffleExchange>HashAggregate>ShuffleExchange>HashAggregate>FileSourceScan",
    "q_basket_pairs" -> "TakeOrderedAndProject>BroadcastHashJoin>BroadcastHashJoin>BroadcastNestedLoopJoin>HashAggregate>ShuffleExchange>HashAggregate>SortMergeJoin>Sort>ShuffleExchange>RDDScan>Sort>ShuffleExchange>RDDScan>BroadcastExchange>HashAggregate>ShuffleExchange>HashAggregate>HashAggregate>ShuffleExchange>HashAggregate>RDDScan>BroadcastExchange>HashAggregate>ShuffleExchange>HashAggregate>RDDScan>BroadcastExchange>HashAggregate>ShuffleExchange>HashAggregate>RDDScan",
    // round-13: RoundRobin Exchange below the tokenize+explode — the
    // single-row-group scan ran it all on one task (BpeOps.wordFreqs
    // spreadToCores; no-op at scale)
    "q_bpe_fertility" -> "Sort>ShuffleExchange>HashAggregate>ShuffleExchange>HashAggregate>HashAggregate>ShuffleExchange>HashAggregate>Generate>ShuffleExchange>FileSourceScan",
    "q_bpe_merges" -> "Sort>ShuffleExchange>LocalTableScan",
    "q_communities" -> "Sort>ShuffleExchange>Window>Sort>ShuffleExchange>RDDScan",
    "q_dedup_groups_dist" -> "Sort>ShuffleExchange>SortMergeJoin>Sort>ShuffleExchange>FileSourceScan>Sort>ShuffleExchange>RDDScan",
    // round-13: RoundRobin Exchange on the point side — the
    // single-row-group scan ran the broadcast probe + partial aggregate
    // on one task (see ScaleQueries.q_interval_join; no-op at scale)
    "q_interval_join" -> "Sort>ShuffleExchange>HashAggregate>ShuffleExchange>HashAggregate>BroadcastHashJoin>ShuffleExchange>FileSourceScan>BroadcastExchange>Generate>FileSourceScan",
    "q_pagerank" -> "Sort>ShuffleExchange>RDDScan",
    "q_table_checksum" -> "Sort>Union>HashAggregate>ShuffleExchange>HashAggregate>FileSourceScan>HashAggregate>ShuffleExchange>HashAggregate>FileSourceScan>HashAggregate>ShuffleExchange>HashAggregate>FileSourceScan",
    // round-13: RoundRobin Exchange below the Expand — the single-file
    // scan serialized the 11-replica partial aggregate on one task
    // (see ScaleQueries.q_table_profile; a no-op at scale)
    "q_table_profile" -> "Sort>Generate>HashAggregate>ShuffleExchange>HashAggregate>HashAggregate>ShuffleExchange>HashAggregate>Expand>ShuffleExchange>FileSourceScan",
    "q_table_profile_sketch" -> "Sort>ShuffleExchange>SortMergeJoin>Sort>ShuffleExchange>RDDScan>Sort>HashAggregate>ShuffleExchange>HashAggregate>Generate>RDDScan",
    // round-8 interpolation join: the DEFINING property is that the
    // second AsofJoin sits DIRECTLY on the first (no exchange, no
    // sort between them — the chained merge reuses the backward
    // pass's partitioning and ordering); one exchange per base input
    "q_asof_interp" -> "Sort>ShuffleExchange>AsofJoin>AsofJoin>Sort>ShuffleExchange>FileSourceScan>Sort>ShuffleExchange>RDDScan>Sort>ShuffleExchange>RDDScan",
    // round-9 flagship pins (verdict item 5): a lost cache / re-shuffle
    // in the PCA projection, a re-sketch in the stored-index search, a
    // full-rescan in the O(Δ) MV delta, or a lost equi-join in the two
    // kNN-graph paths would be invisible in bench noise — pin them
    // q_pca_project's fingerprint is the TRANSFORM only (the iterative
    // fit runs eagerly at build time, driver-side O(dim) state): the
    // returned plan must stay one map-only scan + the output sort —
    // any exchange/aggregate appearing here means projection work
    // leaked out of the fitted-literals map
    "q_pca_project" -> "Sort>ShuffleExchange>FileSourceScan",
    // O(Δ) contract: delta aggregate UNION stored-MV scan, merged by
    // ONE re-aggregate — a second FileSourceScan of the BASE table
    // (rather than the small stored MV) would mean full recompute
    "q_mv_incremental" -> "Sort>ShuffleExchange>HashAggregate>ShuffleExchange>HashAggregate>Union>FileSourceScan>HashAggregate>ShuffleExchange>HashAggregate>FileSourceScan",
    // query-broadcast slice path: BNLJ on the Hamming prefilter
    "q_knn_graph" -> "Sort>ShuffleExchange>Window>WindowGroupLimit>Sort>ShuffleExchange>WindowGroupLimit>Sort>BroadcastNestedLoopJoin>ShuffleExchange>FileSourceScan>BroadcastExchange>FileSourceScan",
    // full-corpus path: every join an EQUI-join (BHJ here only because
    // sf0.001 stats sit under the auto-broadcast threshold — at scale
    // the same logical plan SMJs; the load-bearing absence is
    // BNLJ/CartesianProduct, separately asserted above)
    "q_knn_graph_lsh" -> "Sort>ShuffleExchange>Window>WindowGroupLimit>Sort>ShuffleExchange>WindowGroupLimit>Sort>BroadcastHashJoin>BroadcastHashJoin>HashAggregate>ShuffleExchange>HashAggregate>BroadcastHashJoin>Generate>FileSourceScan>BroadcastExchange>Generate>FileSourceScan>BroadcastExchange>FileSourceScan>BroadcastExchange>FileSourceScan",
    // round-10 flagship pins (verdict item 8). q_knn_clusters_lsh's
    // edge/candidate stages run eagerly (component iteration
    // localCheckpoints), so the visible shape is the cluster-profile
    // re-aggregation over the checkpointed labels — a FileSourceScan or
    // extra exchange appearing here means the components result stopped
    // being served from the truncated lineage. q_mv_rewrite MUST stay
    // one scan of the rollup file + output sort (any aggregate/base
    // scan = the rewrite stopped firing). q_embed_outliers_pca is the
    // map-only scorer over fitted literals (eigen fit eager at build):
    // an aggregate/exchange beyond the output sort means scoring work
    // leaked out of the projection map.
    "q_knn_clusters_lsh" -> "Sort>ShuffleExchange>HashAggregate>ShuffleExchange>HashAggregate>RDDScan",
    "q_mv_rewrite" -> "Sort>ShuffleExchange>FileSourceScan",
    "q_embed_outliers_pca" -> "Sort>ShuffleExchange>RDDScan",
    // round-11 flagship pins (round-10 verdict item 3).
    // q_knn_graph_capped is pinned by the strategy-normalized test
    // below, not here: its BHJ choices flip with size estimates/AQE
    // thresholds, so a full-strategy pin fails on stats drift with no
    // real regression (round-11 advice).
    // q_epoch_shuffle_dist: the deploy-scale permutation must stay
    // range-partition + sort + mapPartitions — ZERO Window nodes (the
    // single-reducer sort is exactly what the operator exists to
    // avoid; MapPartitions asserted separately above).
    // q_mv_rewrite_avg: the AVG derivation must keep serving from the
    // rollup scan — re-aggregation of the MV file, never a lineitem
    // scan (the base table would appear as a second FileSourceScan).
    "q_epoch_shuffle_dist" -> "Sort>ShuffleExchange>RDDScan",
    "q_mv_rewrite_avg" -> "Sort>ShuffleExchange>HashAggregate>ShuffleExchange>HashAggregate>FileSourceScan",
    // round-13 (round-12 verdict item 5): the filter-subsumed rewrite
    // must stay a single MV-file scan + output sort, exactly like its
    // siblings — the structural test below additionally asserts the
    // rebased predicate is PUSHED into that scan
    // (the rewrite serves from the MV file and RE-AGGREGATES to the
    // query's coarser grain after the rebased filter — same derivation
    // shape as q_mv_rewrite_avg; the single FileSourceScan is the MV)
    "q_mv_rewrite_filter" -> "Sort>ShuffleExchange>HashAggregate>ShuffleExchange>HashAggregate>FileSourceScan")

  test("golden plan shapes: top-10 most expensive batch queries don't drift") {
    val drifted = goldenShapes.toSeq.sortBy(_._1).flatMap { case (name, want) =>
      val got = fingerprint(name)
      if (got == want) None else Some(s""""$name" -> "$got",""")
    }
    assert(drifted.isEmpty,
      "plan shapes drifted — if intentional, paste the new fingerprints " +
        "into goldenShapes (see update flow above):\n" + drifted.mkString("\n"))
  }

  /** Strategy-NORMALIZED fingerprint for shapes whose equi-join
    * strategies flip with size estimates (BHJ ↔ SMJ under stats / AQE
    * thresholds — round-11 advice on the q_knn_graph_capped pin):
    * every equi-join renders as `EquiJoin` and the strategy-dependent
    * plumbing (exchanges, sorts, broadcast sides) is dropped, so the
    * pin asserts the INVARIANT structure — windows + group-limits,
    * aggregates, generates, scan count, and (via the kept node names)
    * the absence of CartesianProduct / BroadcastNestedLoopJoin —
    * without failing on a stats-driven strategy flip.
    */
  private def fingerprintInvariantOf(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val equi = Set("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.initialPlan)
      case w: WholeStageCodegenExec => walk(w.child)
      case i: InputAdapter => walk(i.child)
      case other =>
        val n = other.getClass.getSimpleName.stripSuffix("Exec")
        val keep =
          if (equi(n)) Seq("EquiJoin")
          else if (n.contains("Exchange") || n == "Sort") Nil
          else if (n.contains("Join") || n.contains("Aggregate") ||
            n.contains("Scan") || n == "Window" || n == "WindowGroupLimit" ||
            n == "Generate" || n == "Expand" || n == "CartesianProduct" ||
            n == "TakeOrderedAndProject" || n.contains("Limit") ||
            n == "Union" || n.startsWith("Asof")) Seq(n)
          else Nil
        keep ++ other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).mkString(">")
  }

  private def fingerprintInvariant(name: String): String =
    fingerprintInvariantOf(SparkEntry.queries(name)(spark, sf))

  /** Round-11/12 flagship pins (round-11 verdict item 7), strategy-
    * normalized: the LSH-graph family's joins are stats-elected BHJs at
    * this sf, so the invariant form pins the windows / aggregates /
    * generates / scans instead. Update flow as goldenShapes. */
  private val goldenInvariantShapes: Map[String, String] = Map(
    "q_knn_graph_capped" -> "Window>WindowGroupLimit>WindowGroupLimit>EquiJoin>EquiJoin>HashAggregate>HashAggregate>EquiJoin>Generate>FileSourceScan>Window>WindowGroupLimit>WindowGroupLimit>Generate>FileSourceScan>FileSourceScan>FileSourceScan",
    "q_knn_graph_wide" -> "Window>WindowGroupLimit>WindowGroupLimit>EquiJoin>EquiJoin>HashAggregate>HashAggregate>EquiJoin>Generate>FileSourceScan>Generate>FileSourceScan>FileSourceScan>FileSourceScan",
    "q_knn_graph_twophase" -> "Window>WindowGroupLimit>WindowGroupLimit>HashAggregate>HashAggregate>EquiJoin>Generate>FileSourceScan>Window>WindowGroupLimit>WindowGroupLimit>Generate>FileSourceScan",
    "q_knn_graph_multiprobe" -> "Window>WindowGroupLimit>WindowGroupLimit>HashAggregate>HashAggregate>EquiJoin>Generate>FileSourceScan>Generate>FileSourceScan",
    "q_ann_ivfpq" -> "Window>WindowGroupLimit>WindowGroupLimit>EquiJoin>Generate>FileSourceScan>Generate>FileSourceScan",
    "q_ann_jl" -> "Window>WindowGroupLimit>EquiJoin>EquiJoin>Window>WindowGroupLimit>WindowGroupLimit>BroadcastNestedLoopJoin>FileSourceScan>FileSourceScan>FileSourceScan>FileSourceScan",
    // round-12 flagships: the multi-probe wide capped graph + its
    // query/corpus-split serve (two-phase: one equi-join of two
    // generates, occupancy window on the corpus side, agg dedup, rank
    // window) and the NN-descent refine (base graph -> 2-hop self-join
    // -> set-union -> exact rerank; every join equi)
    "q_knn_graph_mpw" -> "Window>WindowGroupLimit>WindowGroupLimit>HashAggregate>HashAggregate>EquiJoin>Generate>FileSourceScan>Window>WindowGroupLimit>WindowGroupLimit>Generate>FileSourceScan",
    "q_ann_mpw" -> "Window>WindowGroupLimit>WindowGroupLimit>HashAggregate>HashAggregate>EquiJoin>Generate>FileSourceScan>Window>WindowGroupLimit>WindowGroupLimit>Generate>FileSourceScan",
    // round-13 (round-12 verdict item 5): the staged build's RETURNED
    // plan is the merge — a union of the band-group partials' parquet
    // scans deduped by max(cos) + re-ranked; a base-table FileSourceScan
    // count change here means a group stopped being checkpointed.
    // q_ann_opq pins the two-stage serve (rotated-ADC shortlist + exact
    // rerank) built over the fitted-literal projection maps.
    "q_knn_graph_staged" -> "Window>WindowGroupLimit>WindowGroupLimit>HashAggregate>HashAggregate>Union>FileSourceScan>FileSourceScan",
    "q_ann_opq" -> "Window>WindowGroupLimit>EquiJoin>EquiJoin>Window>WindowGroupLimit>WindowGroupLimit>BroadcastNestedLoopJoin>FileSourceScan>FileSourceScan>FileSourceScan>FileSourceScan",
    "q_knn_graph_refine" -> "Window>WindowGroupLimit>WindowGroupLimit>EquiJoin>EquiJoin>HashAggregate>HashAggregate>Union>Window>WindowGroupLimit>WindowGroupLimit>EquiJoin>EquiJoin>HashAggregate>HashAggregate>EquiJoin>Generate>FileSourceScan>Window>WindowGroupLimit>WindowGroupLimit>Generate>FileSourceScan>FileSourceScan>FileSourceScan>EquiJoin>Window>WindowGroupLimit>WindowGroupLimit>EquiJoin>EquiJoin>HashAggregate>HashAggregate>EquiJoin>Generate>FileSourceScan>Window>WindowGroupLimit>WindowGroupLimit>Generate>FileSourceScan>FileSourceScan>FileSourceScan>Window>WindowGroupLimit>WindowGroupLimit>EquiJoin>EquiJoin>HashAggregate>HashAggregate>EquiJoin>Generate>FileSourceScan>Window>WindowGroupLimit>WindowGroupLimit>Generate>FileSourceScan>FileSourceScan>FileSourceScan>FileSourceScan>FileSourceScan")

  test("golden invariant shapes: LSH/ANN flagships keep their structure") {
    val drifted = goldenInvariantShapes.toSeq.sortBy(_._1).flatMap {
      case (name, want) =>
        val got = fingerprintInvariant(name)
        if (got == want) None else Some(s""""$name" -> "$got",""")
    }
    assert(drifted.isEmpty,
      "invariant plan shapes drifted — if intentional, paste into " +
        "goldenInvariantShapes:\n" + drifted.mkString("\n"))
  }

  test("q_stream_ann_wide batch kernel keeps q_ann_mpw's invariant shape") {
    // the streaming serve's foreachBatch body IS q_ann_mpw's kernel
    // (same lshKnn call, same MpwLsh config) — pin the
    // per-batch plan by building the kernel on the batch-equivalent
    // static frame; the streaming query itself can't be fingerprinted
    // (its returned frame is the sink read-back, and per-batch plans
    // are planned inside the stream runner)
    val emb = graft.Tables.embeddings(spark, sf)
    val kernel = graft.ops.SimilarityOps.lshKnn(
      emb.filter(org.apache.spark.sql.functions.col("vec_id") < 50),
      emb.filter(org.apache.spark.sql.functions.col("vec_id") >= 50),
      "vec_id", "embedding", 10, graft.queries.VectorQueries.MpwLsh)
    assert(fingerprintInvariantOf(kernel) ===
      goldenInvariantShapes("q_ann_mpw"),
      "the streaming ANN serve's batch kernel drifted off q_ann_mpw's shape")
  }

  test("filter-subsumed MV rewrite: rebased filter over the MV scan, never the base") {
    val p = plan("q_mv_rewrite_filter")
    assert(p.contains("graft_mv_lineitem_rollup"),
      s"q_mv_rewrite_filter must scan the MV:\n${p.take(1500)}")
    assert(!p.contains("lineitem.parquet"),
      s"base lineitem scan survived the filter subsumption:\n${p.take(1500)}")
    // the rebased predicate pushes into the MV file scan
    assert(p.contains("PushedFilters") && p.contains("l_returnflag"),
      s"rebased filter not pushed into the MV scan:\n${p.take(1500)}")
  }
}
