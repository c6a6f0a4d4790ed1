package graft

import graft.ops.SketchOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic spec for the HLL distinct sketch: accuracy in its design
  * regime, merge-invariance under partitioning, and the exact-integer
  * register-sum property the oracle identity rests on.
  */
class SketchOpsSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val events = Tables.events(spark, sf)

  test("HLL estimate lands within the m=256 error regime on every group") {
    val rows = SketchOps.hllDistinct(events, "event_type", "event_id").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val relErr = r.getDouble(3)
      // sigma ~ 1.04/sqrt(256) = 6.5%; 3-sigma + low-n slack
      assert(relErr < 0.25,
        s"${r.getString(0)}: rel_err $relErr (exact ${r.getLong(1)}, est ${r.getDouble(2)})")
    }
  }

  test("HLL estimate is invariant to partition count (order-free sums)") {
    val a = SketchOps.hllDistinct(events.repartition(3), "event_type", "event_id")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val b = SketchOps.hllDistinct(events.repartition(17), "event_type", "event_id")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(a === b)
  }

  private lazy val docs = Tables.documents(spark, sf)

  test("CMS estimates are one-sided (>= truth) for EVERY word, tight for heavy hitters") {
    val rows = SketchOps.cmsTopWords(docs, "text", topK = 100000).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"CMS undercounted '${r.getString(0)}': ${r.getLong(2)} < ${r.getLong(1)}")
    }
    // classic CMS bound: overestimate <= e/w * stream length with
    // probability 1 - e^-d per word; check the top-20 stay within a
    // loose multiple of that expectation
    val streamLen = rows.map(_.getLong(1)).sum
    val bound = 8.0 * streamLen / SketchOps.CmsW
    rows.sortBy(-_.getLong(1)).take(20).foreach { r =>
      assert(r.getLong(3) <= bound,
        s"'${r.getString(0)}' overestimate ${r.getLong(3)} > $bound")
    }
  }

  test("HLL overlap tracks the exact cross-source matrix (accuracy audit)") {
    import graft.ops.DedupOps
    val keyed = DedupOps.discriminativeShingles(docs, "doc_id", "text")
      .join(docs.select(col("doc_id").as("id"), col("source")), "id")
      .select(col("source"), col("h"))
    val est = SketchOps.hllOverlap(keyed, "source", "h").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap

    val nSources = docs.select(col("source")).distinct().count().toInt
    assert(est.size === nSources * (nSources - 1) / 2)

    // exact ground truth from the same keyed table
    val distinctKeys = keyed.distinct().collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    est.foreach { case ((a, b), (nUnion, nInter, jac)) =>
      val sa = distinctKeys(a); val sb = distinctKeys(b)
      val exactU = (sa | sb).size.toDouble
      val exactI = (sa & sb).size.toDouble
      // m=256 → sigma ~6.5% per sketch; inclusion-exclusion compounds
      // three estimates, so allow 3-sigma on the union and a wider
      // absolute band (relative to union size) on the intersection
      assert(math.abs(nUnion - exactU) / exactU < 0.25,
        s"($a,$b) union est $nUnion vs exact $exactU")
      assert(math.abs(nInter - exactI) / exactU < 0.30,
        s"($a,$b) inter est $nInter vs exact $exactI (union $exactU)")
      assert(math.abs(jac - exactI / exactU) < 0.30,
        s"($a,$b) jaccard est $jac vs exact ${exactI / exactU}")
    }
    // and the estimator should be unbiased enough that the MEDIAN
    // relative union error is well inside one sigma band
    val relErrs = est.toSeq.map { case ((a, b), (nUnion, _, _)) =>
      val exactU = (distinctKeys(a) | distinctKeys(b)).size.toDouble
      math.abs(nUnion - exactU) / exactU
    }.sorted
    assert(relErrs(relErrs.size / 2) < 0.10,
      s"median union rel err ${relErrs(relErrs.size / 2)}")
  }

  test("HLL counts a disjoint union as the merged register state") {
    // sketch mergeability: computing over the union equals computing
    // over parts and MAX-merging registers — here certified end-to-end
    // by the group column acting as the merge boundary: splitting one
    // group's rows across arbitrary partitions (above) and the
    // distributive MAX make the union estimate a pure function of the
    // key set, independent of row order or duplication
    val dup = events.unionByName(events) // every key duplicated
    val once = SketchOps.hllDistinct(events, "event_type", "event_id")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val twice = SketchOps.hllDistinct(dup, "event_type", "event_id")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(once === twice)
  }

  test("MultiHllSketch state is identical to the row-oriented register path") {
    import graft.functions.MultiHllSketch
    // the constants contract the one-pass aggregate duplicates
    assert(MultiHllSketch.Mersenne === SketchOps.Mersenne)
    assert(MultiHllSketch.MixA === SketchOps.MixA)
    assert(MultiHllSketch.MixB === SketchOps.MixB)
    assert(MultiHllSketch.M === SketchOps.M)
    assert(MultiHllSketch.W === SketchOps.W)
    // `value` is double-typed with nulls in the generated data — the
    // null bucket and a float rendering both go through the contract
    val cols = Seq("event_type", "user_id", "value")
    val onePass = events
      .agg(MultiHllSketch.multiHll(cols.map(c => col(c).cast("string"))).as("p"))
      .select(posexplode(col("p")).as(Seq("ci", "p")))
      .select(col("ci"), col("p.n_rows").as("nr"), col("p.n_nulls").as("nn"),
        posexplode(col("p.regs")).as(Seq("idx", "reg")))
      .filter(col("reg") >= 1)
      .collect().map(r => ((r.getInt(0), r.getInt(3)),
        (r.getLong(1), r.getLong(2), r.getInt(4)))).toMap
    val total = events.count()
    cols.zipWithIndex.foreach { case (c, i) =>
      val nulls = events.filter(col(c).isNull).count()
      val rowOriented = SketchOps.hllRegisters(
        events.select(col(c).cast("string").as("kv")).withColumn("g", lit(i)),
        "g", "kv")
        .filter(col("idx").isNotNull)
        .collect().map(r => r.getLong(1).toInt ->
          r.get(2).toString.toInt).toMap
      val mine = onePass.collect { case ((ci, idx), v) if ci == i => idx -> v }
      assert(mine.view.mapValues(_._3).toMap === rowOriented,
        s"register drift on $c")
      assert(mine.values.forall { case (nr, nn, _) => nr == total && nn == nulls },
        s"count drift on $c")
    }
  }

  test("HyperplaneSketch word 0 is bit-identical to HyperplaneSig(64); partial words pack low bits") {
    import TestSpark._
    import org.apache.spark.sql.functions._
    val vecs = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vd"))
    // the wide sketch uses the SAME global plane indices, so its first
    // packed word must equal the 64-bit signature exactly — corpus-wide
    val drift = vecs.select(
        expr("hyperplane_sig(vd, 64, 64)").as("sig"),
        element_at(expr("hyperplane_sketch(vd, 256, 64)"), 1).as("w0"))
      .filter(col("sig") =!= col("w0")).count()
    assert(drift === 0L)
    // a non-multiple-of-64 width packs only the low bits of its last
    // word: a 70-bit sketch's word 2 must fit in 6 bits
    val overflow = vecs.select(
        element_at(expr("hyperplane_sketch(vd, 70, 64)"), 2).as("w1"))
      .filter(col("w1") < 0 || col("w1") >= (1L << 6)).count()
    assert(overflow === 0L)
  }
}
