package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Single-pass raw-moment accumulator for a `array<double>` vector
  * column: buffer = [n, Σx (d), Σxxᵀ (d², row-major)] — the bounded
  * mergeable state behind PCA/whitening/covariance maintenance
  * ([[graft.ops.PcaOps.componentsFromMoments]]). This is the
  * deploy-scale replacement for the explode + self-join + hash-agg
  * moment accumulation (which blows each row up into d² join rows):
  * here each input row folds into the buffer in-place (d² FMAs, no row
  * amplification, no shuffle beyond the (1+d+d²)-double partial
  * buffers), planned via ObjectHashAggregate with standard
  * serialize/merge partials — the MultiHllSketch/TopKRows pattern.
  *
  * Rows that are NULL, of the wrong dimension, or containing ANY null
  * element are skipped (the one PCA input contract: PcaOps' apply side
  * filters the same rows — `ArrayData.getDouble` on a null slot would
  * silently read 0.0). Evaluates to
  * the flat `array<double>` buffer; callers slice (n, Σx, Σxxᵀ) out.
  */
case class VectorMoments(
    child: Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Double]] with UnaryLike[Expression] {

  require(dim >= 1, s"dim must be >= 1, got $dim")
  private val len = 1 + dim + dim * dim

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Double] = new Array[Double](len)

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      var anyNull = false
      if (arr.numElements() == dim) {
        var i = 0
        while (i < dim && !anyNull) { anyNull = arr.isNullAt(i); i += 1 }
      }
      if (arr.numElements() == dim && !anyNull) {
        buf(0) += 1.0
        var j = 0
        while (j < dim) {
          val xj = arr.getDouble(j)
          buf(1 + j) += xj
          val base = 1 + dim + j * dim
          var k = 0
          while (k < dim) { buf(base + k) += xj * arr.getDouble(k); k += 1 }
          j += 1
        }
      }
    }
    buf
  }

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < len) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Double]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(len * 8)
    bb.asDoubleBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val out = new Array[Double](len)
    java.nio.ByteBuffer.wrap(bytes).asDoubleBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(o: Int): VectorMoments =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VectorMoments =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): VectorMoments =
    copy(child = newChild)
  override def prettyName: String = "vector_moments"
}

object VectorMoments {
  import org.apache.spark.sql.{Column, GraftColumnBridge}

  /** `vector_moments(vec, dim)` as a Column aggregate. */
  def apply(vec: Column, dim: Int): Column =
    GraftColumnBridge.column(
      VectorMoments(GraftColumnBridge.expression(vec.cast("array<double>")), dim)
        .toAggregateExpression())
}
