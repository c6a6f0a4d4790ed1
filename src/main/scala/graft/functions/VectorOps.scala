package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.functions._

/** Column-level vector math over embedding columns (reference vector
  * ops: `chromadb_client.py:194-219`, cosine at
  * `deduplication_consumer.py:198-222`): typed builders for graft's
  * native codegen'd expressions, the same way [[graft.ops.TextOps.words]]
  * builds `TokenizeWs`. Kernels call these instead of resolving the
  * SQL names of [[GraftFunctions.table]], so no function-registry
  * binding can stand in for them.
  *
  * All arithmetic is double-precision left-to-right folds, which is
  * also what DuckDB's `list_dot_product` computes — the oracle compare
  * is bit-exact.
  */
object VectorOps {
  import GraftColumnBridge.{column, expression}

  /** Cast a float vector to double for stable arithmetic. */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Left-fold dot product of two `array<double>` vectors ([[DotProduct]]). */
  def dot(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  /** L2 norm: `sqrt(dot(a, a))`. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Packed sign bits against `bits` fixed hyperplanes ([[HyperplaneSig]]). */
  def hyperplaneSig(v: Column, bits: Int, dim: Int): Column =
    column(HyperplaneSig(expression(v), bits, dim))

  /** Multi-word hyperplane sketch ([[HyperplaneSketch]]). */
  def hyperplaneSketch(v: Column, bits: Int, dim: Int): Column =
    column(HyperplaneSketch(expression(v), bits, dim))

  /** Band buckets plus multi-probe flips ([[MultiProbeBucketsN]]). */
  def multiprobeBucketsN(v: Column, bands: Int, bandBits: Int, dim: Int,
      probes: Int, offset: Int): Column =
    column(MultiProbeBucketsN(expression(v), bands, bandBits, dim, probes, offset))

  /** JL random projection to `outDim` components ([[RandomProject]]). */
  def randomProject(v: Column, outDim: Int, dim: Int): Column =
    column(RandomProject(expression(v), outDim, dim))

  /** Hamming distance of two packed sketches ([[HammingDist]]). */
  def hammingDist(a: Column, b: Column): Column =
    column(HammingDist(expression(a), expression(b)))
}
