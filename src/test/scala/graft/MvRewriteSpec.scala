package graft

import graft.plans.MvRewrite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The aggregate-over-MV rewrite's two obligations: it FIRES on the
  * provable patterns (exact grain → MV projection; coarser grain →
  * re-aggregation of the rollup; plan scans the MV, not the base;
  * answer identical to the direct aggregate), and it REFUSES everything
  * it cannot prove (non-subset keys, global aggregates, extra
  * aggregate functions, filters, DISTINCT) — a rewrite firing on an
  * unproven pattern is a wrong-answer bug, not a missed optimization.
  * Round-10 adds the freshness integration: a write through the
  * engine's own sinks must deregister the covering MV.
  */
class MvRewriteSpec extends AnyFunSuite {
  import TestSpark._

  private val basePath = s"$sf/lineitem.parquet"

  private def userAgg = Tables.lineitem(spark, sf)
    .groupBy(col("l_returnflag"), col("l_linestatus"))
    .agg(sum("l_quantity").as("sum_qty"),
      sum("l_extendedprice").as("sum_price"),
      count(lit(1)).as("cnt"))

  private def withMv[A](f: String => A): A = {
    // other suites (EngineSpec running q_mv_rewrite) may have left a
    // registration for this dir — start from a clean slate
    MvRewrite.deregister(basePath)
    val mv = "graft_mv_spec_rollup"
    graft.sinks.Sinks.replaceTable(userAgg, mv)
    MvRewrite.register(basePath, MvRewrite.MvDef(
      mv, Seq("l_returnflag", "l_linestatus"),
      Map("l_quantity" -> "sum_qty", "l_extendedprice" -> "sum_price"),
      Some("cnt")))
    try f(mv) finally MvRewrite.deregister(basePath)
  }

  test("registered aggregate is answered from the MV, result-identical") {
    MvRewrite.deregister(basePath)
    val direct = userAgg.orderBy(col("l_returnflag"), col("l_linestatus"))
      .collect().toSeq
    withMv { mv =>
      val plan = userAgg.queryExecution.executedPlan.toString
      assert(plan.contains(mv),
        s"rewrite did not fire — no MV scan in:\n${plan.take(1500)}")
      assert(!plan.contains("lineitem.parquet"),
        s"base scan survived the rewrite:\n${plan.take(1500)}")
      val rewritten = userAgg.orderBy(col("l_returnflag"), col("l_linestatus"))
        .collect().toSeq
      assert(rewritten == direct,
        "MV-answered aggregate must be bit-identical to the direct one")
    }
  }

  test("coarser grain re-aggregates the rollup, result-identical") {
    MvRewrite.deregister(basePath)
    def coarser = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("cnt"))
    val direct = coarser.orderBy(col("l_returnflag")).collect().toSeq
    withMv { mv =>
      val plan = coarser.queryExecution.executedPlan.toString
      assert(plan.contains(mv),
        s"coarser-grain rewrite did not fire:\n${plan.take(1500)}")
      assert(!plan.contains("lineitem.parquet"),
        s"base scan survived the coarser-grain rewrite:\n${plan.take(1500)}")
      val rewritten = coarser.orderBy(col("l_returnflag")).collect().toSeq
      assert(rewritten == direct,
        "re-aggregated rollup must be bit-identical to the base aggregate")
    }
  }

  test("case-insensitive names and file: URI registrations still fire") {
    MvRewrite.deregister(basePath)
    withMv { mv =>
      // re-register under the scheme-qualified form of the same path —
      // normalize must collapse it onto the scan's root
      MvRewrite.deregister(basePath)
      MvRewrite.register(s"file://$sf/lineitem.parquet", MvRewrite.MvDef(
        mv, Seq("l_returnflag", "l_linestatus"),
        Map("l_quantity" -> "sum_qty", "l_extendedprice" -> "sum_price"),
        Some("cnt")))
      val upper = Tables.lineitem(spark, sf)
        .groupBy(col("L_RETURNFLAG"), col("L_LINESTATUS"))
        .agg(sum("L_QUANTITY").as("sum_qty"))
      val plan = upper.queryExecution.executedPlan.toString
      assert(plan.contains(mv),
        s"file:// registration + upper-case names must still rewrite:\n${plan.take(1500)}")
    }
  }

  test("unprovable shapes refuse to rewrite") {
    withMv { mv =>
      val cases = Seq(
        "non-subset key (l_suppkey not in MV keys)" -> Tables.lineitem(spark, sf)
          .groupBy(col("l_returnflag"), col("l_suppkey"))
          .agg(sum("l_quantity").as("sum_qty")),
        "global aggregate (empty grouping — COUNT(*) over an empty base is 0, SUM(cnt) NULL)" ->
          Tables.lineitem(spark, sf)
            .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("cnt")),
        "unregistered aggregate (avg)" -> Tables.lineitem(spark, sf)
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(avg("l_quantity").as("avg_qty")),
        "unregistered aggregate at coarser grain (avg)" -> Tables.lineitem(spark, sf)
          .groupBy(col("l_returnflag"))
          .agg(avg("l_quantity").as("avg_qty")),
        "filter on a MEASURE below the aggregate (selects rows within groups)" ->
          Tables.lineitem(spark, sf)
            .filter(col("l_quantity") > 10)
            .groupBy(col("l_returnflag"), col("l_linestatus"))
            .agg(sum("l_quantity").as("sum_qty")),
        "filter mixing a key and a measure (one conjunct unprovable bails all)" ->
          Tables.lineitem(spark, sf)
            .filter(col("l_returnflag") === "A" && col("l_quantity") > 10)
            .groupBy(col("l_returnflag"), col("l_linestatus"))
            .agg(sum("l_quantity").as("sum_qty")),
        "filter on an unregistered non-key column (l_shipdate)" ->
          Tables.lineitem(spark, sf)
            .filter(col("l_shipdate") > "1995-01-01")
            .groupBy(col("l_returnflag"), col("l_linestatus"))
            .agg(sum("l_quantity").as("sum_qty")),
        // rand() bound must be reachable: the optimizer folds an
        // impossible `rand() > 2` to false and the remaining
        // deterministic key filter legitimately rewrites
        "nondeterministic filter on a key" -> Tables.lineitem(spark, sf)
          .filter(col("l_returnflag") === "A" || rand() > 0.5)
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(sum("l_quantity").as("sum_qty")),
        "distinct sum" -> Tables.lineitem(spark, sf)
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(sum_distinct(col("l_quantity")).as("sum_qty")),
        "distinct sum at coarser grain" -> Tables.lineitem(spark, sf)
          .groupBy(col("l_returnflag"))
          .agg(sum_distinct(col("l_quantity")).as("sum_qty")))
      cases.foreach { case (label, df) =>
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains(mv),
          s"$label must NOT rewrite:\n${plan.take(1200)}")
        assert(plan.contains("lineitem"),
          s"$label should still scan the base:\n${plan.take(1200)}")
      }
    }
  }

  test("key-only filters are subsumed: predicate rebased onto the rollup, result-identical") {
    MvRewrite.deregister(basePath)
    // exact grain + equality/IN/inequality/disjunction over KEY columns
    def exactF = Tables.lineitem(spark, sf)
      .filter(col("l_returnflag") =!= "N" &&
        (col("l_linestatus").isin("F", "O") || col("l_returnflag") === "A"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("cnt"))
    // coarser grain + predicate on a key NOT in the grouping set
    def coarserF = Tables.lineitem(spark, sf)
      .filter(col("l_linestatus") === "F")
      .groupBy(col("l_returnflag"))
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("cnt"))
    val directExact = exactF
      .orderBy(col("l_returnflag"), col("l_linestatus")).collect().toSeq
    val directCoarser = coarserF.orderBy(col("l_returnflag")).collect().toSeq
    withMv { mv =>
      for ((df, direct, order) <- Seq(
          (exactF, directExact, Seq(col("l_returnflag"), col("l_linestatus"))),
          (coarserF, directCoarser, Seq(col("l_returnflag"))))) {
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains(mv),
          s"filter-subsumed rewrite did not fire:\n${plan.take(1500)}")
        assert(!plan.contains("lineitem.parquet"),
          s"base scan survived the filtered rewrite:\n${plan.take(1500)}")
        assert(df.orderBy(order: _*).collect().toSeq == direct,
          "filtered MV answer must be bit-identical to the base aggregate")
      }
    }
  }

  test("AVG and COUNT(measure) derive from the rollup when a per-measure count is registered") {
    MvRewrite.deregister(basePath)
    def exactQ = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(avg("l_quantity").as("avg_qty"),
        count(col("l_quantity")).as("cnt_q"))
    def coarseQ = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(avg("l_quantity").as("avg_qty"))
    // direct answers first, with no registration live (l_quantity is
    // integer-valued, so partial sums are exact and the derived
    // division must be BIT-identical, both grains)
    val directExact = exactQ.orderBy(col("l_returnflag"), col("l_linestatus"))
      .collect().toSeq
    val directCoarse = coarseQ.orderBy(col("l_returnflag")).collect().toSeq
    val mv = "graft_mv_spec_avg"
    val rollup = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("cnt"),
        count(col("l_quantity")).as("cnt_qty"))
    graft.sinks.Sinks.replaceTable(rollup, mv)
    MvRewrite.register(basePath, MvRewrite.MvDef(
      mv, Seq("l_returnflag", "l_linestatus"),
      Map("l_quantity" -> "sum_qty"), Some("cnt"),
      avgCounts = Map("l_quantity" -> "cnt_qty")))
    try {
      val pe = exactQ.queryExecution.executedPlan.toString
      assert(pe.contains(mv) && !pe.contains("lineitem.parquet"),
        s"exact-grain AVG must answer from the MV:\n${pe.take(1200)}")
      assert(exactQ.orderBy(col("l_returnflag"), col("l_linestatus"))
        .collect().toSeq == directExact,
        "derived exact-grain AVG must be bit-identical")
      val pc = coarseQ.queryExecution.executedPlan.toString
      assert(pc.contains(mv) && !pc.contains("lineitem.parquet"),
        s"coarser-grain AVG must re-aggregate the MV:\n${pc.take(1200)}")
      assert(coarseQ.orderBy(col("l_returnflag")).collect().toSeq == directCoarse,
        "derived coarser-grain AVG must be bit-identical")
      // refusals hold even WITH avgCounts registered: a measure without
      // a count column, and DISTINCT
      Seq(
        "avg of a measure with no registered count" -> Tables.lineitem(spark, sf)
          .groupBy(col("l_returnflag"))
          .agg(avg("l_extendedprice").as("a")),
        "distinct avg" -> Tables.lineitem(spark, sf)
          .groupBy(col("l_returnflag"))
          .agg(expr("avg(DISTINCT l_quantity)").as("a"))
      ).foreach { case (label, df) =>
        val p = df.queryExecution.executedPlan.toString
        assert(!p.contains(mv), s"$label must NOT rewrite:\n${p.take(1200)}")
      }
    } finally MvRewrite.deregister(basePath)
  }

  test("deregistration restores the base scan") {
    withMv { _ => () } // registers then deregisters
    val plan = userAgg.queryExecution.executedPlan.toString
    assert(plan.contains("lineitem"),
      s"after deregister the base scan must return:\n${plan.take(1200)}")
  }

  test("a sink write to the base path deregisters the MV (freshness)") {
    withMv { mv =>
      // stand-in base under tmp: register an MV over it, prove the
      // rewrite fires, then write to the base THROUGH a graft sink and
      // prove the very same query scans the base again
      val baseDir = graft.streaming.StreamingOps.tempSinkDir("graft_mv_fresh_")
      Tables.lineitem(spark, sf).limit(500)
        .write.mode("overwrite").parquet(baseDir)
      def agg = spark.read.parquet(baseDir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum("l_quantity").as("sum_qty"),
          sum("l_extendedprice").as("sum_price"),
          count(lit(1)).as("cnt"))
      MvRewrite.register(baseDir, MvRewrite.MvDef(
        mv, Seq("l_returnflag", "l_linestatus"),
        Map("l_quantity" -> "sum_qty", "l_extendedprice" -> "sum_price"),
        Some("cnt")))
      try {
        val before = agg.queryExecution.executedPlan.toString
        assert(before.contains(mv), s"precondition — rewrite fires:\n${before.take(1200)}")
        // the write: compaction INTO the registered base directory
        graft.sinks.Sinks.compactParquet(spark, baseDir, s"$baseDir/part_out")
        val after = agg.queryExecution.executedPlan.toString
        assert(!after.contains(mv),
          s"stale MV still answers after a sink write to its base:\n${after.take(1200)}")
      } finally MvRewrite.deregister(baseDir)
    }
  }

  test("overwriting the MV table drops every registration served from it") {
    MvRewrite.deregister(basePath)
    val mv = "graft_mv_spec_rollup2"
    graft.sinks.Sinks.replaceTable(userAgg, mv)
    MvRewrite.register(basePath, MvRewrite.MvDef(
      mv, Seq("l_returnflag", "l_linestatus"),
      Map("l_quantity" -> "sum_qty"), Some("cnt")))
    // ANOTHER dir's registration onto the same table (the round-9
    // advice scenario: Bench warms at sf0.001 then times at sf0.1)
    MvRewrite.register("/some/other/dir/lineitem.parquet", MvRewrite.MvDef(
      mv, Seq("l_returnflag", "l_linestatus"),
      Map("l_quantity" -> "sum_qty"), Some("cnt")))
    // rebuilding the table must clear BOTH
    graft.sinks.Sinks.replaceTable(userAgg, mv)
    val plan = userAgg.queryExecution.executedPlan.toString
    assert(plan.contains("lineitem"),
      s"registration survived the table overwrite:\n${plan.take(1200)}")
    assert(MvRewrite.registered("/some/other/dir/lineitem.parquet").isEmpty,
      "the OTHER dir's registration onto the overwritten table survived")
  }
}
