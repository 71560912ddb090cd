package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._

/** The buffer contract of the dense `array<double>` sum aggregates
  * ([[VecSumAgg]], [[GramianAgg]], [[OuterSumAgg]], [[ProjOuterAgg]]):
  * an EMPTY buffer means "no rows yet" (evaluates to null, loses every
  * merge), the wire format is the length followed by the doubles, and
  * partials merge by one daxpy over the data part. The first
  * `headerWidth` doubles are a self-describing header (OuterSumAgg's
  * [nl, nr]) that both partials must carry verbatim. Subclasses supply
  * `update`, the header width and the `copy` overrides. */
private[graft] abstract class DenseSumAgg extends TypedImperativeAggregate[Array[Double]] {

  /** Leading header doubles excluded from the merge sum. */
  protected def headerWidth: Int = 0

  // netlib's pure-JVM BLAS, the dependency Spark MLlib uses
  @transient protected lazy val blas = dev.ludovic.netlib.blas.BLAS.getInstance()

  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  // empty = "no rows seen yet"; sized lazily by the first vector
  override def createAggregationBuffer(): Array[Double] = Array.emptyDoubleArray

  override def merge(x: Array[Double], y: Array[Double]): Array[Double] = {
    if (x.isEmpty) return y
    if (y.isEmpty) return x
    require(x.length == y.length, s"$prettyName: buffer ${y.length} != ${x.length}")
    val h = headerWidth
    // total length alone admits TRANSPOSED shapes (2x3 and 3x2 both
    // carry 8 doubles) — merging them element-wise would silently
    // corrupt the block; the header must match too
    require(java.util.Arrays.equals(x, 0, h, y, 0, h),
      s"$prettyName: block shape (${y.take(h).map(_.toInt).mkString(",")}) != " +
        s"established (${x.take(h).map(_.toInt).mkString(",")})")
    blas.daxpy(x.length - h, 1.0, y, h, 1, x, h, 1)
    x
  }

  override def eval(b: Array[Double]): Any =
    if (b.isEmpty) null else new GenericArrayData(b)

  override def serialize(b: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * b.length)
    bb.putInt(b.length)
    b.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val b = new Array[Double](n)
    var i = 0
    while (i < n) { b(i) = bb.getDouble(); i += 1 }
    b
  }
}

/** Elementwise sum of `array<double>` rows — the vector reduction Spark
  * lacks natively (per-element explode + groupBy would shuffle
  * rows × dim instead of one fixed buffer per partition). First
  * non-null row fixes the length, null rows are skipped. Used for PCA
  * projection (summing per-variant coordinate contributions), burden
  * matrices and the k-means centroid means of `Ivf.train`. */
case class VecSumAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends DenseSumAgg {

  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "vec_sum"

  override def update(b: Array[Double], input: InternalRow): Array[Double] = {
    val raw = child.eval(input)
    if (raw == null) return b
    val v = raw.asInstanceOf[ArrayData].toDoubleArray()
    if (b.isEmpty) return v.clone()
    require(b.length == v.length, s"vec_sum: length ${v.length} != ${b.length}")
    blas.daxpy(b.length, 1.0, v, 1, b, 1)
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecSumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecSumAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): VecSumAgg =
    copy(child = newChildren.head)
}

object VecSumAgg {
  def of(vec: Column): Column =
    bridge.column(VecSumAgg(bridge.expression(vec)).toAggregateExpression())
}
