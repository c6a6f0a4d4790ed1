package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Codegen'd IVF cell assignment: the `nProbe` centroid ids nearest
  * to an `array<double>` vector, nearest first, ties by centroid id.
  *
  * This is the MAP-SIDE formulation of Voronoi assignment: the
  * centroid table rides inside the expression (it is `nCentroids ×
  * dim` doubles — broadcast-sized by construction), so assigning a
  * 100 TB corpus to cells is a shuffle-free projection. The
  * corpus×centroids crossJoin + per-row window top-k it replaces
  * shuffles the whole corpus twice for the same answer.
  *
  * Two assignment metrics (the second is the OPQ follow-up to the
  * measured rotation negative under spherical cells):
  *
  *  - `"cosine"` (default): full cosine (dot/(|v|·|c|)) DESC. Zero
  *    INPUT vectors (all cosines NaN) return an empty assignment —
  *    explicitly unassigned, where a window formulation would rank
  *    NaN first; zero-norm CENTROIDS are skipped (their cosine is NaN
  *    and would otherwise beat every real centroid during buffer
  *    fill, since all NaN comparisons are false).
  *  - `"l2"`: squared Euclidean distance ASC, computed via the
  *    dot-product identity `(|v|² − 2·v·c) + |c|²` in exactly that
  *    association — the SAME `list_dot_product` primitive the cosine
  *    oracles replay, so DuckDB reproduces the ranking bit-for-bit
  *    with `(list_dot_product(v,v) - 2*list_dot_product(v,c)) +
  *    list_dot_product(c,c)`. Zero vectors and zero-norm centroids
  *    are both legitimate L2 points (distance is finite), so neither
  *    guard applies — textbook Lloyd's cells keep the magnitude
  *    structure a rotation creates, which is the whole reason this
  *    mode exists.
  *
  * Ranking matches the algebraic version exactly (`ORDER BY cos DESC
  * | dist2 ASC, cent_id` tie-break), so SQL oracles reproduce the
  * assignment with `list_dot_product` + ROW_NUMBER.
  */
case class NearestCentroids(
    child: Expression, centIds: Array[Long], cents: Array[Array[Double]],
    nProbe: Int, metric: String = "cosine") extends UnaryExpression {

  require(metric == "cosine" || metric == "l2", s"unknown metric: $metric")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private lazy val l2 = metric == "l2"

  private lazy val centNorms: Array[Double] = cents.map { c =>
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    math.sqrt(s)
  }

  /** |c|² per centroid for the L2 identity — summed left-to-right,
    * the same fold order `list_dot_product(c, c)` runs. */
  private lazy val centNorms2: Array[Double] = cents.map { c =>
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    s
  }

  override def nullSafeEval(input: Any): Any =
    select(input.asInstanceOf[ArrayData])

  /** Public for the generated-code callback. */
  def select(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var vn2 = 0.0
    var i = 0
    while (i < n) { val x = a.getDouble(i); vn2 += x * x; i += 1 }
    val vn = math.sqrt(vn2)
    // zero vector under cosine: every cosine is NaN — genuinely
    // unassigned (a NaN would otherwise fall through the comparisons
    // and silently take the first centroids). Under L2 it is an
    // ordinary point.
    if (!l2 && vn == 0.0) return new GenericArrayData(Array.empty[Long])
    val k = math.min(nProbe, cents.length)
    val topIds = new Array[Long](k)
    // ranking score, sign-normalized so "bigger is better" for both
    // metrics: cosine as-is, L2 as −dist²
    val topScore = new Array[Double](k)
    var filled = 0
    var c = 0
    while (c < cents.length) {
      // a zero-norm centroid (e.g. an emptied k-means cell averaged to
      // zero) has no cosine: cos = NaN would pass `pos == filled < k`
      // during buffer fill and then beat every real centroid (all NaN
      // comparisons are false) — skip it instead of trusting upstream.
      // Under L2 its distance is finite (= |v|²): keep it.
      if (!l2 && centNorms(c) == 0.0) { c += 1 }
      else {
      val cv = cents(c)
      val m = math.min(n, cv.length)
      var dot = 0.0
      var d = 0
      while (d < m) { dot += a.getDouble(d) * cv(d); d += 1 }
      val score =
        if (l2) -((vn2 - 2.0 * dot) + centNorms2(c))
        else dot / (vn * centNorms(c))
      val id = centIds(c)
      // insertion into the small top-k, ordered by (score desc, id asc)
      var pos = filled
      while (pos > 0 && (score > topScore(pos - 1) ||
          (score == topScore(pos - 1) && id < topIds(pos - 1)))) pos -= 1
      if (pos < k) {
        val last = math.min(filled, k - 1)
        var j = last
        while (j > pos) { topIds(j) = topIds(j - 1); topScore(j) = topScore(j - 1); j -= 1 }
        topIds(pos) = id
        topScore(pos) = score
        if (filled < k) filled += 1
      }
      c += 1
      }
    }
    new GenericArrayData(java.util.Arrays.copyOf(topIds, filled))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroids", this,
      classOf[NearestCentroids].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.select($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
