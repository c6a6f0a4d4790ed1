package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators Spark lacks natively, composed from built-ins with
  * the scale-correct shuffle shape (SURVEY.md §7.3 ladder step (a)).
  */
object JoinOps {

  /** As-of join: each left row picks the LATEST right row with
    * `right.ts <= left.ts` within the same key (inclusive), or nulls
    * when none precedes. Implemented as the union + last(ignoreNulls)
    * running window — ONE shuffle on (key), no range self-join, no
    * per-key collect: the classic distributed as-of plan. At equal
    * timestamps the right row wins (inclusive bound) via the tag sort.
    *
    * Inputs must carry unique column names apart from `keyCol`;
    * right rows must be unique per (key, ts) — pre-aggregate ties
    * upstream (`max_by`) or the match is nondeterministic in ANY
    * engine.
    */
  def asofJoin(
      left: DataFrame, right: DataFrame,
      keyCol: String, leftTsCol: String, rightTsCol: String,
      rightValCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.filterNot(c => c == keyCol || c == leftTsCol)
    // internal working columns must not collide with user columns: pick
    // the first suffix level that makes every generated name fresh
    // (deterministic — no UUIDs in the plan, which would defeat plan
    // caching and make EXPLAIN diffs noisy)
    val taken = (left.columns ++ right.columns).toSet
    val sfx = Iterator.from(0).map(i => if (i == 0) "" else "_" + i)
      .find(s => Seq("_ts", "_isRight", "_rvals", "_rv").forall(b => !taken(b + s)))
      .get
    val (cTs, cIsRight, cRvals, cRv) =
      ("_ts" + sfx, "_isRight" + sfx, "_rvals" + sfx, "_rv" + sfx)
    // the right row's value columns travel as ONE struct, so the
    // running `last` picks a whole row atomically — per-column lasts
    // with ignoreNulls would stitch fields from DIFFERENT right rows
    // whenever a right value column contains nulls (DuckDB's native
    // ASOF JOIN, the oracle, is row-atomic)
    val rvType = org.apache.spark.sql.types.StructType(
      rightValCols.map(c => right.schema(c).copy(name = c)))
    val l = left.select(
      Seq(col(keyCol), col(leftTsCol).as(cTs), lit(0).as(cIsRight)) ++
        leftCols.map(col) :+
        lit(null).cast(rvType).as(cRvals): _*)
    val r = right.select(
      Seq(col(keyCol), col(rightTsCol).as(cTs), lit(1).as(cIsRight)) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(rightValCols.map(col): _*).as(cRvals): _*)
    // right rows sort BEFORE left rows at the same ts -> inclusive bound
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(cTs), col(cIsRight).desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    l.unionByName(r)
      .withColumn(cRv, last(col(cRvals), ignoreNulls = true).over(w))
      .filter(col(cIsRight) === 0)
      .select(
        Seq(col(keyCol), col(cTs).as(leftTsCol)) ++
          leftCols.map(col) ++
          rightValCols.map(c => col(s"$cRv.$c").as(c)): _*)
  }

  /** [[asofJoin]] through the NATIVE whole-operator path
    * ([[graft.plans.AsofJoinNode]] → [[graft.plans.AsofJoinExec]]):
    * same semantics and same certified oracle, but the physical plan
    * is two co-partitioned exchanges + per-partition sorts feeding a
    * single streaming merge — no union blow-up, no window pass, no
    * right-row filter. The strategy and the pushdown/pruning rules come
    * with the session ([[graft.GraftSession.builder]], or
    * `spark.sql.extensions=graft.GraftExtensions` on a cluster deploy);
    * a session without them is refused with that guidance.
    *
    * Keys: one or more columns of any orderable atomic type (long,
    * string, date, …); ts: LongType epoch-micros, TIMESTAMP, or
    * TIMESTAMP_NTZ. NULL keys/timestamps follow SQL semantics (never
    * match; left rows survive with null right values). The right side
    * is re-aliased internally so a self-join (both sides derived from
    * one table — the common case) never presents duplicate attribute
    * ids to the custom node.
    */
  def asofJoinNative(
      left: DataFrame, right: DataFrame,
      keyCol: String, leftTsCol: String, rightTsCol: String,
      rightValCols: Seq[String], direction: String = "backward"): DataFrame =
    asofJoinNativeKeys(left, right, Seq(keyCol), leftTsCol, rightTsCol,
      rightValCols, direction)

  /** [[asofJoinNative]] with a COMPOSITE key — the feature-store shape
    * (entity × feature-group, user × event-type, …). Both sides must
    * carry every key column under the same name.
    *
    * `direction` ∈ backward/forward/nearest selects the probe side of
    * the merge (pandas `merge_asof` surface; see
    * [[graft.plans.AsofJoinNode]] for the exact inclusive semantics
    * and the nearest tie rule).
    */
  def asofJoinNativeKeys(
      left: DataFrame, right: DataFrame,
      keyCols: Seq[String], leftTsCol: String, rightTsCol: String,
      rightValCols: Seq[String], direction: String = "backward"): DataFrame = {
    import org.apache.spark.sql.{GraftPlanBridge => B}
    val spark = left.sparkSession
    graft.GraftSession.requireContract(spark)
    val r = right.select(right.columns.map(c => col(c).as(c)).toSeq: _*)
    val lPlan = B.analyzed(left)
    val rPlan = B.analyzed(r)
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        name: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"asofJoinNative: no column `$name`"))
    B.ofRows(spark, graft.plans.AsofJoinNode(
      lPlan, rPlan,
      keyCols.map(attr(lPlan, _)), keyCols.map(attr(rPlan, _)),
      attr(lPlan, leftTsCol), attr(rPlan, rightTsCol),
      rightValCols.map(attr(rPlan, _)), direction))
  }

  /** [[asofJoinNative]] with the RIGHT (history/feature) side
    * runtime-pruned through a Bloom filter of the LEFT keys — the
    * custom-operator counterpart of Spark's own runtime bloom-filter
    * injection, which only rewrites built-in joins. Exact-composable:
    * the as-of match is keyed on EQUALITY, so a right row whose key is
    * absent from the left can never be buffered into any output row —
    * dropping it cannot change results, and Bloom false positives
    * merely survive to the merge where they match nothing. At 100 TB
    * this is the difference between shuffling the full feature history
    * and shuffling only the keys today's event batch actually touches
    * (a few KB of bitmap shipped in the plan vs ~|history| shuffle
    * I/O for a selective batch). Result-invariance is certified by
    * running the SAME DuckDB ASOF oracle as the unpruned path
    * (q_asof_bloom).
    */
  def asofJoinNativeBloom(
      left: DataFrame, right: DataFrame,
      keyCol: String, leftTsCol: String, rightTsCol: String,
      rightValCols: Seq[String],
      mBits: Int = 1 << 16, numHashes: Int = 3): DataFrame = {
    require(left.schema(keyCol).dataType == right.schema(keyCol).dataType,
      "asofJoinNativeBloom: key types must match exactly for hash equality")
    // the left side feeds both the bitmap build and the join probe —
    // materialize once (evictable, releaseAllCaches contract)
    val l = Reuse.materialized(left)
    val words = BloomOps.buildBitmap(
      l.select(col(keyCol)), keyCol, mBits, numHashes)
    asofJoinNativeKeys(
      l,
      right.filter(BloomOps.mightContain(words, col(keyCol), mBits, numHashes)),
      Seq(keyCol), leftTsCol, rightTsCol, rightValCols)
  }

  /** Interval join: every (left, right) pair with
    * `start <= point < end` (half-open), when NEITHER side is small
    * enough to broadcast — the case the J2 broadcast range join can't
    * cover. A naive theta-join is a cartesian product; this is the
    * bucketed-blocking plan: both sides map to fixed-width buckets of
    * the point domain (an interval covers `span/width + 1` buckets, a
    * point exactly one), the pair-up is a plain EQUI-join on the
    * bucket id, and the exact range predicate runs as the join's
    * residual condition. Each matching pair meets in exactly one
    * bucket (the point's), so no post-join dedup is needed.
    *
    * Scale shape: one shuffle keyed on a value-derived bucket id —
    * co-partitioned, AQE-splittable when event-time is skewed. The
    * only tunable is `bucketWidth`: replication of the interval side
    * is `avg_span/width + 1` rows, while residual-filter waste grows
    * as `width` exceeds the typical span. Set it near the median
    * interval span so replication is O(1) per interval — then cost is
    * `O(|left| + |right|)` shuffled rows vs the theta-join's
    * `O(|left| · |right|)` compares.
    *
    * Both `pointCol` (left) and `startCol`/`endCol` (right) must be
    * LongType in the same unit (day number, epoch-micros, …); empty
    * intervals (`end <= start`) match nothing and are dropped before
    * the explode (a reversed `sequence` would throw).
    */
  def intervalJoin(
      left: DataFrame, pointCol: String,
      right: DataFrame, startCol: String, endCol: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1L, s"bucketWidth must be >= 1 (got $bucketWidth)")
    val taken = (left.columns ++ right.columns).toSet
    val bkt = Iterator.from(0).map(i => if (i == 0) "_bkt" else s"_bkt_$i")
      .find(!taken(_)).get
    // bucket id = the bucket's START unit (x - pmod(x, w)): pure long
    // arithmetic, exact for negative units too — `/` on long columns
    // is DOUBLE division in Spark and silently loses precision for
    // epoch-micro magnitudes
    def bstart(x: org.apache.spark.sql.Column) = x - pmod(x, lit(bucketWidth))
    val l = left.withColumn(bkt, bstart(col(pointCol)))
    val r = right
      .filter(col(endCol) > col(startCol))
      .withColumn(bkt, explode(sequence(
        bstart(col(startCol)), bstart(col(endCol) - lit(1L)),
        lit(bucketWidth))))
    l.join(r, l(bkt) === r(bkt) &&
        col(pointCol) >= col(startCol) && col(pointCol) < col(endCol))
      .drop(bkt)
  }

  /** INTERVAL×INTERVAL overlap join (half-open [start, end)): every
    * (a, b) pair with `a.start < b.end AND b.start < a.end` — the
    * harder sibling of [[intervalJoin]] where BOTH sides span buckets.
    * Same blocking idea, one extra rule: a pair now meets in every
    * bucket their spans share, so each pair is COUNTED ONCE by keeping
    * it only in the canonical bucket `bstart(max(a.start, b.start))` —
    * the first bucket where both are live. No post-join dedup, no
    * theta join: one equi-join shuffle on the bucket id, replication
    * `span/width + 1` per row, AQE-splittable under time skew.
    *
    * Inputs: (`aId`, `aStart`, `aEnd`) / (`bId`, `bStart`, `bEnd`),
    * all LongType units; empty intervals dropped. Output: the id
    * pairs (named `aId`/`bId`, which must therefore differ — alias
    * one side for a self-overlap-join) plus overlap bounds
    * (`ov_start`, `ov_end`). Both sides are internally re-aliased to
    * disjoint fresh names before the join, so the two inputs may
    * freely share column names (the common self-join case) or already
    * carry a `_bkt` column — neither makes the join condition
    * ambiguous.
    */
  def intervalOverlapJoin(
      a: DataFrame, aId: String, aStart: String, aEnd: String,
      b: DataFrame, bId: String, bStart: String, bEnd: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1L, s"bucketWidth must be >= 1 (got $bucketWidth)")
    require(aId != bId,
      s"intervalOverlapJoin: output id columns must be distinct (both `$aId`)" +
        " — alias one side's id before joining")
    def bstart(x: org.apache.spark.sql.Column) = x - pmod(x, lit(bucketWidth))
    // collision-proof internal names (same deterministic-suffix pattern
    // as intervalJoin): the join condition references ONLY these, so
    // identical input column names / a pre-existing _bkt cannot bind
    // ambiguously
    val taken = (a.columns ++ b.columns).toSet
    val sfx = Iterator.from(0).map(i => if (i == 0) "" else "_" + i)
      .find(s => Seq("_bkt", "_as", "_ae", "_bs", "_be").forall(c => !taken(c + s)))
      .get
    val (cBkt, cAs, cAe, cBs, cBe) =
      ("_bkt" + sfx, "_as" + sfx, "_ae" + sfx, "_bs" + sfx, "_be" + sfx)
    def spread(df: DataFrame, s: String, e: String) = df
      .filter(col(e) > col(s))
      .withColumn(cBkt, explode(sequence(
        bstart(col(s)), bstart(col(e) - lit(1L)), lit(bucketWidth))))
    val la = spread(
      a.select(col(aId), col(aStart).as(cAs), col(aEnd).as(cAe)), cAs, cAe)
    val lb = spread(
      b.select(col(bId), col(bStart).as(cBs), col(bEnd).as(cBe)), cBs, cBe)
    la.join(lb, la(cBkt) === lb(cBkt) &&
        col(cAs) < col(cBe) && col(cBs) < col(cAe) &&
        // canonical-bucket rule: exactly one surviving copy per pair
        la(cBkt) === bstart(greatest(col(cAs), col(cBs))))
      .select(la(aId), lb(bId),
        greatest(col(cAs), col(cBs)).as("ov_start"),
        least(col(cAe), col(cBe)).as("ov_end"))
  }
}
