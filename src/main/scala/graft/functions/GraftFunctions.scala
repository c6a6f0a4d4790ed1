package graft.functions

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.catalyst.expressions.Expression

/** The engine's SQL function surface: one table of the native Catalyst
  * expressions, each with its name, arity and builder.
  * [[graft.GraftExtensions]] injects every entry at session build, so
  * `spark.sql` / `expr` resolve them in any session built by
  * [[graft.GraftSession.builder]] or with
  * `spark.sql.extensions=graft.GraftExtensions`. Kernels do not look
  * the names up: they build the expressions through typed `Column`
  * builders ([[VectorOps]], `TextOps`, `MultimodalOps`), so a
  * foreign binding under one of these names cannot reach them.
  */
object GraftFunctions {

  /** One SQL function: `build` sees exactly `arity` arguments. */
  final case class Fn(name: String, arity: Int, className: String,
      build: Args => Expression) {
    def builder(exprs: Seq[Expression]): Expression = {
      require(exprs.length == arity,
        s"$name expects $arity argument(s), got ${exprs.length}")
      build(Args(name, exprs))
    }
  }

  /** A call's arguments; `int(i)` is a constant-int parameter, with a
    * real error instead of an opaque eval crash when a column sneaks
    * into a parameter slot. */
  final case class Args(fn: String, exprs: Seq[Expression]) {
    def apply(i: Int): Expression = exprs(i)
    def int(i: Int): Int = {
      val e = exprs(i)
      require(e.foldable, s"$fn: argument $i must be a constant literal, got: $e")
      e.eval().asInstanceOf[Number].intValue
    }
  }

  private def fn[T <: Expression: ClassTag](name: String, arity: Int)(
      build: Args => Expression): Fn =
    Fn(name, arity, classTag[T].runtimeClass.getName, build)

  val table: Seq[Fn] = Seq(
    fn[DotProduct]("dot_product", 2)(a => DotProduct(a(0), a(1))),
    fn[ShingleHashes]("shingle_hashes", 2)(a => ShingleHashes(a(0), a.int(1))),
    fn[ShinglePosHashes]("shingle_pos_hashes", 2)(a =>
      ShinglePosHashes(a(0), a.int(1))),
    fn[HyperplaneSig]("hyperplane_sig", 3)(a =>
      HyperplaneSig(a(0), a.int(1), a.int(2))),
    fn[HyperplaneSketch]("hyperplane_sketch", 3)(a =>
      HyperplaneSketch(a(0), a.int(1), a.int(2))),
    fn[HyperplaneBuckets]("hyperplane_buckets", 4)(a =>
      HyperplaneBuckets(a(0), a.int(1), a.int(2), a.int(3))),
    fn[MultiProbeBuckets]("multiprobe_buckets", 4)(a =>
      MultiProbeBuckets(a(0), a.int(1), a.int(2), a.int(3))),
    fn[MultiProbeBucketsN]("multiprobe_buckets_n", 6)(a =>
      MultiProbeBucketsN(a(0), a.int(1), a.int(2), a.int(3), a.int(4), a.int(5))),
    fn[RandomProject]("random_project", 3)(a =>
      RandomProject(a(0), a.int(1), a.int(2))),
    fn[HammingDist]("hamming_dist", 2)(a => HammingDist(a(0), a(1))),
    fn[ByteStats]("byte_stats", 1)(a => ByteStats(a(0))),
    fn[SimHashFp]("simhash_fp", 2)(a => SimHashFp(a(0), a.int(1))),
    fn[TokenizeWs]("tokenize_ws", 1)(a => TokenizeWs(a(0))),
    fn[HashedEmbed]("hashed_embed", 1)(a => HashedEmbed(a(0))),
    fn[WordHashes]("word_hashes", 1)(a => WordHashes(a(0))),
    fn[Md5Poly8]("md5_poly8", 1)(a => Md5Poly8(a(0))))
}
