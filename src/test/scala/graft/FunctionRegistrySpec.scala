package graft

import graft.functions.DotProduct
import graft.ops.SimilarityOps
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, Literal}
import org.scalatest.funsuite.AnyFunSuite

/** A FOREIGN binding squatting one of graft's names (silently
  * inheriting an alien `dot_product` would corrupt every certified
  * similarity query) changes what `spark.sql` resolves in its own
  * session only: the next session build injects graft's binding again,
  * and kernels build graft's native expressions through typed `Column`
  * builders, never by SQL name, so the squatter cannot reach one.
  */
class FunctionRegistrySpec extends AnyFunSuite {
  import TestSpark._

  test("a poisoned foreign dot_product binding is replaced by graft's") {
    // isolated session state so the poison cannot leak into other specs
    val s = spark.newSession()
    val ident = FunctionIdentifier("dot_product")
    s.sessionState.functionRegistry.registerFunction(ident,
      new ExpressionInfo("alien.Squatter", "dot_product"),
      _ => Literal(-1.0))
    assert(s.sql("SELECT dot_product(array(2.0d), array(4.0d)) AS v")
      .head().getDouble(0) === -1.0, "poison binding not in effect")

    // a session built after the poisoning gets graft's binding back
    val fresh = s.newSession()
    assert(fresh.sql("SELECT dot_product(array(2.0d, 3.0d), array(4.0d, 5.0d)) AS v")
      .head().getDouble(0) === 23.0, "graft's semantics must win over a squatter")
    assert(fresh.sessionState.functionRegistry.lookupFunction(ident)
      .exists(_.getClassName == classOf[DotProduct].getName),
      "the rebuilt binding must be graft's DotProduct")
  }

  test("a squatted dot_product binding cannot reach a kernel built on the typed dot") {
    // isolated session state so the poison cannot leak into other specs
    val s = spark.newSession()
    s.sessionState.functionRegistry.registerFunction(FunctionIdentifier("dot_product"),
      new ExpressionInfo("alien.Squatter", "dot_product"),
      _ => Literal(-1.0))
    assert(s.sql("SELECT dot_product(array(2.0d), array(4.0d)) AS v")
      .head().getDouble(0) === -1.0, "poison binding not in effect")

    import s.implicits._
    val queries = Seq(1L -> Array(1f, 0f)).toDF("vec_id", "embedding")
    val corpus = Seq(2L -> Array(1f, 0f), 3L -> Array(3f, 4f), 4L -> Array(0f, 1f))
      .toDF("vec_id", "embedding")
    val got = SimilarityOps.bruteForceTopK(queries, corpus, "vec_id", "embedding", 3)
      .orderBy("rank").collect().map(r => (r.getLong(2), r.getDouble(3))).toSeq
    assert(got === Seq(2L -> 1.0, 3L -> 0.6, 4L -> 0.0))
  }
}
