package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Codegen'd dot product over two `array<double>` columns.
  *
  * The pure-builtin formulation (`aggregate(zip_with(a, b, _*_), ...)`)
  * is semantically identical but `ArrayAggregate`/`ZipWith` are
  * CodegenFallback expressions — interpreted per element, with a lambda
  * call and boxing per multiply. On the similarity-join hot path
  * (millions of pairs × vector dim) that interpretation dominates the
  * query, so this is exactly the case SURVEY.md §7.3 reserves for a
  * custom Catalyst `Expression`: a tight primitive loop inside
  * whole-stage codegen, no boxing, no virtual calls.
  *
  * Accumulation is the same left-to-right double fold as the builtin
  * path and DuckDB's `list_dot_product`, so oracle results stay
  * bit-identical.
  *
  * Contract: both arrays are expected to have EQUAL length and no
  * null elements (fixed-dim embedding columns). On a length mismatch
  * this truncates to the shorter side — unlike the builtin
  * `aggregate(zip_with(...))` formulation, which returns NULL there —
  * so corrupt variable-length input should be filtered upstream.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
