package graft

import graft.ops.JoinOps
import org.scalatest.funsuite.AnyFunSuite

/** Edge semantics of the as-of join that the data-driven oracle may
  * never exercise: equal-timestamp inclusivity, no-prior-match nulls,
  * and non-interference between keys.
  */
class JoinOpsSpec extends AnyFunSuite {
  import TestSpark._

  test("asofJoin: inclusive bound, no-prior nulls, per-key isolation") {
    import spark.implicits._
    val left = Seq(
      (1L, 100L, "p1"), // exact tie with right at 100 -> matches r100
      (1L, 50L, "p2"),  // before any right row -> nulls
      (1L, 250L, "p3"), // after both -> latest (200)
      (2L, 300L, "p4")  // other key: only right at 150
    ).toDF("k", "lts", "pid")
    val right = Seq(
      (1L, 100L, "r100"),
      (1L, 200L, "r200"),
      (2L, 150L, "r150")
    ).toDF("k", "rts", "rid")

    val got = JoinOps.asofJoin(left, right,
      keyCol = "k", leftTsCol = "lts", rightTsCol = "rts",
      rightValCols = Seq("rts", "rid"))
      .select("pid", "rid", "rts")
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toMap

    assert(got("p1") === Some("r100")) // ties are inclusive
    assert(got("p2") === None)         // nothing at-or-before
    assert(got("p3") === Some("r200")) // latest wins
    assert(got("p4") === Some("r150")) // keys don't leak
  }

  test("asofJoin takes the latest right ROW atomically when value columns hold nulls") {
    import TestSpark._
    import spark.implicits._
    import graft.ops.JoinOps
    // right rows: (ts=1, a=5, b=null) then (ts=2, a=null, b=7); a left
    // row at ts=3 must see the ts=2 ROW (a=null, b=7) — per-column
    // ignoreNulls lasts would stitch the frankenrow (a=5, b=7), a row
    // that never existed (DuckDB's native ASOF JOIN is row-atomic)
    val left = Seq(("k", 3L, "p")).toDF("k", "lts", "pid")
    val right = Seq(
      ("k", 1L, Some(5L), Option.empty[Long]),
      ("k", 2L, Option.empty[Long], Some(7L))
    ).toDF("k", "rts", "a", "b")
    val row = JoinOps.asofJoin(left, right,
      keyCol = "k", leftTsCol = "lts", rightTsCol = "rts",
      rightValCols = Seq("a", "b")).select("a", "b").head()
    assert(row.isNullAt(0), s"expected a=null from the ts=2 row, got ${row.get(0)}")
    assert(row.getLong(1) === 7L)
  }

  test("intervalJoin: half-open bounds, bucket-straddling intervals, no dup pairs") {
    import spark.implicits._
    // width 10; interval A [5, 25) covers buckets 0,10,20; B [20, 21)
    // exactly one unit; C [30, 30) empty (must match nothing, not throw);
    // D [-15, -4) exercises negative units (floor-, not truncate-,
    // aligned buckets)
    val points = Seq(4L, 5L, 20L, 24L, 25L, -10L, -4L).toDF("p")
    val ivals = Seq(
      ("A", 5L, 25L), ("B", 20L, 21L), ("C", 30L, 30L), ("D", -15L, -4L)
    ).toDF("iv", "s", "e")
    val got = JoinOps.intervalJoin(points, "p", ivals, "s", "e", bucketWidth = 10L)
      .select("iv", "p").collect().map(r => (r.getString(0), r.getLong(1)))
    val expected = Seq( // brute-force semantics: s <= p < e
      ("A", 5L), ("A", 20L), ("A", 24L), ("B", 20L), ("D", -10L))
    assert(got.sorted === expected.sorted) // exactly once per pair — no dedup needed
  }

  test("intervalJoin matches the brute-force theta join on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val points = Seq.fill(300)(rnd.nextLong() % 1000L).toDF("p")
    val ivals = (0 until 80).map { i =>
      val s = rnd.nextLong() % 1000L
      (i.toLong, s, s + rnd.nextInt(50))
    }.toDF("iv", "s", "e")
    for (w <- Seq(1L, 7L, 64L)) {
      val got = JoinOps.intervalJoin(points, "p", ivals, "s", "e", w)
        .groupBy("iv").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val brute = points.join(ivals, $"p" >= $"s" && $"p" < $"e")
        .groupBy("iv").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === brute, s"width=$w")
    }
  }

  test("native asof exec ≡ union+window asof on adversarial data; plans AsofJoinExec") {
    import spark.implicits._
    // deterministic pseudo-random series: multiple keys, tie
    // timestamps, keys with no right rows, right rows after all lefts
    def series(tag: Int, n: Int) = (0 until n).map { i =>
      val h = i * 2654435761L + tag * 97L
      (math.abs(h) % 7, math.abs(h / 11) % 50, s"v$tag-$i")
    }
    val left = series(1, 80).toDF("k", "ts", "pid")
      .selectExpr("k", "ts", "pid")
    // rid is nullable (string); rnum is a NON-NULLABLE long — a left
    // row with no match must still read NULL for it, not a garbage 0
    // (regression: the output projection must bind right values as
    // nullable because unmatched rows read from the all-null row)
    val right = series(2, 60).toDF("k", "ts", "rid")
      // unique per (key, ts): the as-of contract both paths require
      .groupBy("k", "ts").agg(org.apache.spark.sql.functions.max("rid").as("rid"))
      .withColumn("rnum", org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("rid")),
        org.apache.spark.sql.functions.lit(0)).cast("long"))
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "ts", "pid", "rid", "rnum")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        Option(r.getString(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
      .sortBy(t => (t._1, t._2, t._3))
    val viaWindow = norm(JoinOps.asofJoin(left, right,
      keyCol = "k", leftTsCol = "ts", rightTsCol = "ts",
      rightValCols = Seq("rid", "rnum")))
    val native = JoinOps.asofJoinNative(left, right,
      keyCol = "k", leftTsCol = "ts", rightTsCol = "ts",
      rightValCols = Seq("rid", "rnum"))
    val gotNative = norm(native)
    assert(gotNative === viaWindow)
    // some rows must be genuine no-matches or the null path went untested
    assert(gotNative.exists(_._4.isEmpty))
    assert(gotNative.exists(_._4.nonEmpty))
    // the physical plan is the custom operator, not a window
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("AsofJoin"), plan.take(800))
    assert(!plan.contains("Window"), plan.take(800))
  }

  test("directional native asof (forward/nearest) ≡ brute force; ties go backward") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, max}
    def series(tag: Int, n: Int) = (0 until n).map { i =>
      val h = i * 2654435761L + tag * 97L
      (math.abs(h) % 7, math.abs(h / 11) % 50, s"v$tag-$i")
    }
    // the orphan key has no right rows at all — the only way a NEAREST
    // probe can come up empty (forward also misses when a left ts sits
    // after its key's last right row)
    val left = (series(1, 80) :+ ((99L, 1L, "orphan")))
      .toDF("k", "ts", "pid")
    val right = series(2, 60).toDF("k", "ts", "rid")
      .groupBy("k", "ts").agg(max("rid").as("rid"))
    val rRows = right.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    def brute(dir: String) = left.collect().map { r =>
      val (k, ts, pid) = (r.getLong(0), r.getLong(1), r.getString(2))
      val cands = rRows.filter(_._1 == k)
      val bwd = cands.filter(_._2 <= ts).sortBy(_._2).lastOption
      val fwd = cands.filter(_._2 >= ts).sortBy(_._2).headOption
      val pick = dir match {
        case "forward" => fwd
        case "nearest" => (bwd, fwd) match {
          case (Some(b), Some(f)) =>
            if (ts - b._2 <= f._2 - ts) Some(b) else Some(f)
          case (b, f) => b.orElse(f)
        }
      }
      (k, ts, pid, pick.map(_._3))
    }.sortBy(t => (t._1, t._2, t._3)).toSeq
    for (d <- Seq("forward", "nearest")) {
      val native = JoinOps.asofJoinNative(left, right,
        keyCol = "k", leftTsCol = "ts", rightTsCol = "ts",
        rightValCols = Seq("rid"), direction = d)
      val got = native.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          Option(r.getString(3))))
        .sortBy(t => (t._1, t._2, t._3)).toSeq
      assert(got === brute(d), s"direction=$d")
      // genuine matches AND genuine no-matches both occur
      assert(got.exists(_._4.isEmpty) && got.exists(_._4.nonEmpty), s"direction=$d")
      val plan = native.queryExecution.executedPlan.toString
      assert(plan.contains("AsofJoin") && !plan.contains("Window"), plan.take(800))
    }
    // exact-tie: equidistant candidates resolve to the BACKWARD row,
    // and an equal timestamp matches inclusively in BOTH directions
    val l2 = Seq((1L, 10L, "p"), (1L, 15L, "q")).toDF("k", "ts", "pid")
    val r2 = Seq((1L, 5L, "early"), (1L, 15L, "late")).toDF("k", "ts", "rid")
    def one(dir: String) = JoinOps.asofJoinNative(l2, r2,
        "k", "ts", "ts", Seq("rid"), direction = dir)
      .collect().map(r => r.getString(2) -> r.getString(3)).toMap
    assert(one("nearest") === Map("p" -> "early", "q" -> "late"))
    assert(one("forward") === Map("p" -> "late", "q" -> "late"))
    // SQL null semantics carry over: a null-ts left row survives
    // unmatched under the new directions too; an empty right side
    // yields all-null matches
    val lNull = Seq((Some(1L), Option.empty[Long], "n")).toDF("k", "ts", "pid")
    for (d <- Seq("forward", "nearest")) {
      val r = JoinOps.asofJoinNative(lNull, r2, "k", "ts", "ts", Seq("rid"),
        direction = d).collect()
      assert(r.length == 1 && r(0).isNullAt(3), s"direction=$d")
      val e = JoinOps.asofJoinNative(l2, r2.filter(col("ts") < 0), "k", "ts",
        "ts", Seq("rid"), direction = d).collect()
      assert(e.length == 2 && e.forall(_.isNullAt(3)), s"direction=$d")
    }
    // unknown directions fail loudly at construction
    val ex = intercept[IllegalArgumentException] {
      JoinOps.asofJoinNative(l2, r2, "k", "ts", "ts", Seq("rid"),
        direction = "sideways")
    }
    assert(ex.getMessage.contains("direction"))
  }

  test("tolerance as-of through the native exec ≡ union+window path; plans AsofJoinExec") {
    // the tolerance is a POST-JOIN mask, so the two registry queries
    // share the exact oracle; here the engine sides are cross-checked
    // against each other and the native one is plan-asserted
    val sf = TestSpark.sf
    val viaWindow = graft.queries.EventsMore.q_asof_tolerance.fn(spark, sf)
    val native = graft.queries.EventsMore.q_asof_tolerance_native.fn(spark, sf)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
    assert(norm(native) === norm(viaWindow))
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("AsofJoin"), plan.take(800))
    assert(!plan.contains("Window"), plan.take(800))
    // masked (stale) and unmasked (fresh) matches both occur, or the
    // tolerance mask went untested
    val rows = native.collect()
    val iClick = native.columns.indexOf("recent_click_id")
    assert(rows.exists(_.isNullAt(iClick)) && rows.exists(!_.isNullAt(iClick)))
  }

  test("native asof with STRING keys ≡ union+window asof; plans AsofJoinExec") {
    import spark.implicits._
    def series(tag: Int, n: Int) = (0 until n).map { i =>
      val h = i * 2654435761L + tag * 97L
      (s"key-${math.abs(h) % 7}", math.abs(h / 11) % 50, s"v$tag-$i")
    }
    val left = series(1, 80).toDF("k", "ts", "pid")
    val right = series(2, 60).toDF("k", "ts", "rid")
      .groupBy("k", "ts").agg(org.apache.spark.sql.functions.max("rid").as("rid"))
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "ts", "pid", "rid")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        Option(r.getString(3))))
      .sortBy(t => (t._1, t._2, t._3))
    val viaWindow = norm(JoinOps.asofJoin(left, right,
      keyCol = "k", leftTsCol = "ts", rightTsCol = "ts",
      rightValCols = Seq("rid")))
    val native = JoinOps.asofJoinNative(left, right,
      keyCol = "k", leftTsCol = "ts", rightTsCol = "ts",
      rightValCols = Seq("rid"))
    val gotNative = norm(native)
    assert(gotNative === viaWindow)
    assert(gotNative.exists(_._4.isEmpty) && gotNative.exists(_._4.nonEmpty))
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("AsofJoin") && !plan.contains("Window"), plan.take(800))
  }

  test("native asof with COMPOSITE (long, string) keys ≡ brute force; plans AsofJoinExec") {
    import spark.implicits._
    def series(tag: Int, n: Int) = (0 until n).map { i =>
      val h = i * 2654435761L + tag * 131L
      (math.abs(h) % 4, s"t${math.abs(h / 5) % 3}", math.abs(h / 11) % 40,
        tag * 1000L + i)
    }
    val ls = series(1, 90)
    val rs = series(2, 70)
      // unique per (keys, ts): keep the max id per slot
      .groupBy(t => (t._1, t._2, t._3)).values.map(_.maxBy(_._4)).toSeq
    val left = ls.toDF("k1", "k2", "ts", "lid")
    val right = rs.toDF("k1", "k2", "ts", "rid")
    val native = JoinOps.asofJoinNativeKeys(left, right,
      keyCols = Seq("k1", "k2"), leftTsCol = "ts", rightTsCol = "ts",
      rightValCols = Seq("rid"))
    val got = native.select("lid", "rid")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val expected = ls.map { case (k1, k2, ts, lid) =>
      val cands = rs.filter(r => r._1 == k1 && r._2 == k2 && r._3 <= ts)
      lid -> (if (cands.isEmpty) None else Some(cands.maxBy(_._3)._4))
    }.toMap
    assert(got === expected)
    assert(expected.values.exists(_.isEmpty) && expected.values.exists(_.nonEmpty))
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("AsofJoin"), plan.take(800))
  }

  test("native asof NULL semantics: null keys/ts never match, left rows survive") {
    import spark.implicits._
    val left = Seq(
      (Option(1L), Option(100L), "match"),     // normal match
      (Option.empty[Long], Option(100L), "nullkey"), // NULL key: no match
      (Option(1L), Option.empty[Long], "nullts"),    // NULL ts: no match
      (Option(3L), Option(100L), "nulldata")   // key whose right rows are all null-ts
    ).toDF("k", "ts", "pid")
    val right = Seq(
      (Option(1L), Option(50L), "r1"),
      // null-keyed / null-ts right rows must be skipped, not matched
      (Option.empty[Long], Option(50L), "rNullKey"),
      (Option(3L), Option.empty[Long], "rNullTs")
    ).toDF("k", "rts", "rid")
    val got = JoinOps.asofJoinNative(left, right, "k", "ts", "rts", Seq("rid"))
      .select("pid", "rid").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got === Map(
      "match" -> Some("r1"), "nullkey" -> None,
      "nullts" -> None, "nulldata" -> None))
  }

  test("AsofJoinPushdown leaves non-deterministic predicates above the node") {
    import org.apache.spark.sql.functions._
    // parquet-backed inputs: over a LocalRelation, Catalyst evaluates
    // filters at plan time and this test would observe nothing
    val ev = Tables.events(spark, sf).withColumn("us", unix_micros(col("ts")))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("us").as("click_us"))
      .agg(max(col("event_id")).as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("us").as("purchase_us"))
    val joined = JoinOps.asofJoinNative(purchases, clicks,
      "user_id", "purchase_us", "click_us", Seq("click_id"))
    // a rand()-based conjunct must NOT be pushed below the join
    // (Catalyst's own PushDownPredicates refuses the same move); the
    // deterministic conjunct still goes down
    // NOT a tautology — Spark 4 constant-folds rand() range tautologies
    // (rand >= 0.0) clean out of the plan before any pushdown runs
    val filtered = joined.filter(rand(7L) < 0.999 && col("user_id") < 7L)
    val optimized = filtered.queryExecution.optimizedPlan.toString
    val randIdx = optimized.indexOf("rand(")
    val nodeIdx = optimized.indexOf("AsofJoinNode")
    assert(randIdx >= 0 && nodeIdx >= 0 && randIdx < nodeIdx,
      "rand() predicate was pushed below the as-of node:\n" + optimized.take(1500))
    // the deterministic conjunct DID get pushed below the node
    val pushedIdx = optimized.indexOf("user_id", nodeIdx)
    assert(pushedIdx > nodeIdx, optimized.take(1500))
    // sampling above the join can only ever REMOVE output rows
    assert(filtered.count() <= joined.filter(col("user_id") < 7L).count())
  }

  test("intervalOverlapJoin ≡ brute theta join for every bucket width, no dup pairs") {
    import spark.implicits._
    // deterministic scattered intervals, spans from 0 (dropped) to
    // far beyond any bucket width
    def ivs(tag: Int, n: Int) = (0 until n).map { i =>
      val h = i * 2654435761L + tag * 131L
      val s = math.abs(h) % 1000
      (tag * 1000L + i, s, s + math.abs(h / 7) % 90)
    }
    val a = ivs(1, 120).toDF("aid", "sa", "ea")
    val b = ivs(2, 150).toDF("bid", "sb", "eb")
    val brute = (for {
      (ai, as_, ae) <- ivs(1, 120); (bi, bs, be) <- ivs(2, 150)
      if as_ < ae && bs < be && as_ < be && bs < ae
    } yield (ai, bi)).toSet
    assert(brute.nonEmpty)
    for (w <- Seq(1L, 7L, 64L, 1000L, 100000L)) {
      val got = JoinOps.intervalOverlapJoin(
        a, "aid", "sa", "ea", b, "bid", "sb", "eb", w)
        .select("aid", "bid")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length === got.toSet.size, s"dup pairs at width=$w")
      assert(got.toSet === brute, s"width=$w")
    }
  }

  test("intervalOverlapJoin: shared column names and pre-existing _bkt don't collide") {
    import spark.implicits._
    // SELF-overlap-join shape: both sides carry identical column names
    // (s, e) plus a column literally named _bkt — the internal aliasing
    // must keep the join condition unambiguous
    val df = Seq((1L, 0L, 10L, 99L), (2L, 5L, 15L, 98L), (3L, 20L, 30L, 97L))
      .toDF("id", "s", "e", "_bkt")
    val got = JoinOps.intervalOverlapJoin(
      df, "id", "s", "e",
      df.withColumnRenamed("id", "id2"), "id2", "s", "e", 7L)
      .select("id", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute: [0,10)x[0,10) overlap, [0,10)x[5,15), [5,15)x[5,15), [20,30) self
    val brute = Set((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 3L))
    assert(got === brute)
    // same output id name on both sides is rejected loudly, not silently wrong
    val err = intercept[IllegalArgumentException] {
      JoinOps.intervalOverlapJoin(df, "id", "s", "e", df, "id", "s", "e", 7L)
    }
    assert(err.getMessage.contains("distinct"))
  }

  test("concurrent native-asof use installs the strategy/rules exactly once") {
    import spark.implicits._
    val left = Seq((1L, 10L, "p")).toDF("k", "ts", "pid")
    val right = Seq((1L, 5L, "r")).toDF("k", "rts", "rid")
    // the session build installed the strategy and rules once; 8
    // threads planning native as-of joins at once must all succeed and
    // append nothing to the session's experimental lists
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Seq[org.apache.spark.sql.Row]]()
    val threads = (1 to 8).map { _ =>
      new Thread(() =>
        try rows.add(JoinOps.asofJoinNative(left, right, "k", "ts", "rts", Seq("rid"))
          .collect().toSeq)
        catch { case t: Throwable => errs.add(t); () })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent asof failed: ${errs.peek()}")
    import scala.jdk.CollectionConverters._
    assert(rows.asScala.toSeq.map(_.map(_.toSeq)) ===
      Seq.fill(8)(Seq(Seq(1L, 10L, "p", "r"))))
    assert(spark.sessionState.planner.strategies
      .count(_ eq graft.plans.AsofJoinStrategy) === 1)
    val exp = spark.experimental
    assert(exp.extraStrategies.isEmpty && exp.extraOptimizations.isEmpty,
      s"library code mutated the session: ${exp.extraStrategies} ${exp.extraOptimizations}")
  }

  test("native asof rejects mismatched/unsupported key and ts types loudly") {
    import spark.implicits._
    val left = Seq((1L, 10L, "p")).toDF("k", "ts", "pid")
    // key type mismatch long vs string
    val rightStr = Seq(("1", 5L, "r")).toDF("k", "rts", "rid")
    val e1 = intercept[IllegalArgumentException] {
      JoinOps.asofJoinNative(left, rightStr, "k", "ts", "rts", Seq("rid"))
    }
    assert(e1.getMessage.contains("key type mismatch"))
    // unsupported ts type (string)
    val rightBadTs = Seq((1L, "5", "r")).toDF("k", "rts", "rid")
    val e2 = intercept[IllegalArgumentException] {
      JoinOps.asofJoinNative(left, rightBadTs, "k", "ts", "rts", Seq("rid"))
    }
    assert(e2.getMessage.contains("ts columns"))
    // missing column named in the API
    val e3 = intercept[IllegalArgumentException] {
      JoinOps.asofJoinNative(left, rightStr, "nope", "ts", "rts", Seq("rid"))
    }
    assert(e3.getMessage.contains("nope"))
  }

  test("degenerate inputs: empty right side, empty graph, empty corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // native asof with an EMPTY right side: every left row survives
    // with null right values
    val left = Seq((1L, 10L, "p1"), (2L, 20L, "p2")).toDF("k", "ts", "pid")
    val emptyRight = Seq.empty[(Long, Long, String)].toDF("k", "rts", "rid")
    val asof = JoinOps.asofJoinNative(left, emptyRight,
      "k", "ts", "rts", Seq("rid")).collect()
    assert(asof.length === 2 && asof.forall(_.isNullAt(3)))
    // LPA with an empty edge list: every node keeps its own label
    val lpa = graft.ops.GraphOps.labelPropagation(
      (1L to 4L).toDF("id"),
      Seq.empty[(Long, Long)].toDF("src", "dst"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lpa === (1L to 4L).map(i => i -> i).toMap)
    // MIPS top-k over an empty corpus: no rows, not an error
    val q = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val emptyC = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(graft.ops.SimilarityOps.mipsTopK(q, emptyC, "vec_id", "embedding", 3)
      .count() === 0L)
    // interval overlap with all-empty intervals: dropped, no rows
    val z = Seq((1L, 5L, 5L)).toDF("aid", "sa", "ea")
    assert(JoinOps.intervalOverlapJoin(z, "aid", "sa", "ea",
      Seq((2L, 0L, 100L)).toDF("bid", "sb", "eb"), "bid", "sb", "eb", 10L)
      .count() === 0L)
  }

  test("bloom-pruned native asof ≡ unpruned; bitmap filter reaches the right side") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // right keys 0..199, left keys only 0..19 — 90% of the right side
    // is prunable; several left rows must still match and several not
    def series(tag: Int, n: Int, keyMod: Long) = (0 until n).map { i =>
      val h = i * 2654435761L + tag * 97L
      (math.abs(h) % keyMod, math.abs(h / 11) % 50, tag * 1000L + i)
    }
    val left = series(1, 60, 20L).toDF("k", "ts", "lid")
    // parquet-backed right side: over a LocalRelation Catalyst evaluates
    // the (deterministic) bitmap filter at plan time and the probe
    // would be invisible in the plan text
    val rightDir = java.nio.file.Files.createTempDirectory("asof_bloom").toString
    series(2, 400, 200L)
      .groupBy(t => (t._1, t._2)).values.map(_.maxBy(_._3)).toSeq
      .toDF("k", "ts", "rid").write.mode("overwrite").parquet(rightDir)
    val right = spark.read.parquet(rightDir)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select("lid", "rid").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .sortBy(_._1).toSeq
    val plain = norm(JoinOps.asofJoinNative(left, right, "k", "ts", "ts", Seq("rid")))
    val bloom = JoinOps.asofJoinNativeBloom(left, right, "k", "ts", "ts", Seq("rid"))
    assert(norm(bloom) === plain)
    assert(plain.exists(_._2.nonEmpty) && plain.exists(_._2.isEmpty))
    // the bitmap probe sits on the right side BELOW the as-of exec
    val p = bloom.queryExecution.executedPlan.toString
    assert(p.contains("AsofJoin"), p.take(800))
    assert(p.contains("xxhash64"), "bloom probe missing from the plan:\n" + p.take(1200))
    graft.ops.Reuse.releaseAllCaches(spark)
  }

  test("AsofJoinNode stats: one-row-per-left-row cardinality lets the result broadcast") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a SMALL as-of-enriched dimension joined to a LARGE fact: with the
    // default product-of-children estimate the enriched side would look
    // enormous and plan a sort-merge join; the exact one-row-per-left-
    // row stats keep it broadcastable
    val dimLeft = (1L to 100L).map(i => (i, i * 10L, s"d$i")).toDF("k", "ts", "name")
    val dimRight = (1L to 100L).map(i => (i, i * 5L, i * 100L)).toDF("k", "rts", "feat")
    val enriched = JoinOps.asofJoinNative(dimLeft, dimRight,
      "k", "ts", "rts", Seq("feat"))
    val stats = org.apache.spark.sql.GraftPlanBridge
      .analyzed(enriched).stats
    // sanity on the model itself: not a product blow-up
    assert(stats.sizeInBytes < BigInt(1000000),
      s"as-of stats look like a product estimate: ${stats.sizeInBytes}")
    val fact = spark.range(200000).select(
      (col("id") % 100L + 1L).as("k"), col("id").as("payload"))
    val joined = fact.join(enriched, "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "enriched as-of dimension did not broadcast:\n" + plan.take(1500))
    assert(joined.count() === 200000L)
  }

  test("AsofJoinExec publishes output/matched SQL metrics") {
    import spark.implicits._
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"))
      .toDF("k", "ts", "pid")
    val right = Seq((1L, 15L, "r")).toDF("k", "rts", "rid")
    val joined = JoinOps.asofJoinNative(left, right, "k", "ts", "rts", Seq("rid"))
    joined.collect()
    // AQE wraps the final plan in leaf nodes (AdaptiveSparkPlanExec,
    // then a ResultQueryStage) — unwrap both before searching
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan):
        org.apache.spark.sql.execution.SparkPlan = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        unwrap(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        unwrap(s.plan)
      case other => other
    }
    val plan = unwrap(joined.queryExecution.executedPlan)
    val exec = plan.collectFirst {
      case e: graft.plans.AsofJoinExec => e
    }.getOrElse(fail("no AsofJoinExec in the executed plan:\n" + plan))
    assert(exec.metrics("numOutputRows").value === 3L)
    assert(exec.metrics("matchedRows").value === 1L) // only (1, 20) matches
  }

  test("AsofJoinPruning narrows both scans through the custom node") {
    import org.apache.spark.sql.functions._
    // left = orders (9 columns... actually 6), right = orders aggregated;
    // project ONLY (o_orderkey, prev_total) above the join — the left
    // scan must then read just the key/ts/orderkey columns and the
    // right values must shrink to the one consumed column
    val o = Tables.orders(spark, sf).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      unix_date(col("o_orderdate").cast("date")).cast("long").as("day"),
      col("o_totalprice"), col("o_orderpriority"))
    val r = o.groupBy(col("o_custkey"), col("day"))
      .agg(max(col("o_totalprice")).as("prev_total"),
        max(col("o_orderpriority")).as("prev_prio"))
      .withColumnRenamed("day", "rday")
    val joined = JoinOps.asofJoinNative(o, r,
      keyCol = "o_custkey", leftTsCol = "day", rightTsCol = "rday",
      rightValCols = Seq("prev_total", "prev_prio"))
    val narrow = joined.select("o_orderkey", "prev_total")
    val plan = narrow.queryExecution.executedPlan.toString
    // the LEFT parquet scan must not read the unused wide columns
    val readSchemas = "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toSeq
    assert(readSchemas.exists(s =>
      s.contains("o_orderkey") && !s.contains("o_orderpriority") &&
        !s.contains("o_totalprice")),
      "left scan still reads pruned columns:\n" + plan.take(1800))
    // the unused right value column is gone from the exec
    assert(!plan.contains("prev_prio"),
      "unused right value survived pruning:\n" + plan.take(1800))
    // and the result is unchanged vs post-hoc projection of the full join
    val viaFull = joined.collect()
      .map(row => (row.getLong(0), Option(row.get(6)))).sortBy(_._1).toSeq
    val viaNarrow = narrow.collect()
      .map(row => (row.getLong(0), Option(row.get(1)))).sortBy(_._1).toSeq
    assert(viaNarrow === viaFull)
  }

  test("AsofJoinPushdown carries left-side predicates through the custom node to the scan") {
    import org.apache.spark.sql.functions._
    // both sides read the events parquet; a left-only predicate written
    // ABOVE the native as-of join must reach the left scan's
    // PushedFilters (the built-in pushdown can't see through a custom
    // node — graft.plans.AsofJoinPushdown does this)
    val ev = Tables.events(spark, sf).withColumn("us", unix_micros(col("ts")))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("us").as("click_us"))
      .agg(max(col("event_id")).as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("us").as("purchase_us"))
    val joined = JoinOps.asofJoinNative(purchases, clicks,
      keyCol = "user_id", leftTsCol = "purchase_us", rightTsCol = "click_us",
      rightValCols = Seq("click_id"))
    val filtered = joined.filter(col("user_id") < 7)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("LessThan(user_id,7)"),
      "left predicate did not reach a scan's PushedFilters:\n" + plan.take(1500))
    // and the result equals post-hoc filtering
    val viaPost = joined.collect().filter(_.getLong(1) < 7)
      .map(_.toString).sorted.toSeq
    val viaPush = filtered.collect().map(_.toString).sorted.toSeq
    assert(viaPush === viaPost)
  }
}
