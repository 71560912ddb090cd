package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge

/** Σ over rows of the OUTER PRODUCT left·rightᵀ — the off-diagonal
  * block kernel of the blocked gramian ([[graft.operators.Kinship]]
  * past the driver-triangle cap): each input row carries two slices of
  * one variant's centered-dosage vector, and the aggregate reduces
  * billions of rank-1 updates to ONE nl×nr block that never exceeds
  * blockSize² doubles.
  *
  * Same contract family as [[GramianAgg]] (which stays the DIAGONAL
  * block kernel — its packed triangle is the i==j case): tasks
  * accumulate locally with one BLAS dger per row, partials merge by
  * daxpy, vectors never shuffle. Buffer layout: [nl, nr, data…] with
  * data COLUMN-major (entry (i,j) at j·nl + i) — the header makes
  * ragged tail blocks self-describing. Null rows are skipped (both
  * slices come from one source row, so either both are present or the
  * row carries no call data); lengths are fixed by the first row. */
case class OuterSumAgg(
    left: Expression,
    right: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends DenseSumAgg {

  override def children: Seq[Expression] = Seq(left, right)
  override def prettyName: String = "outer_sum"
  override protected def headerWidth: Int = 2

  override def update(b: Array[Double], input: InternalRow): Array[Double] = {
    val lRaw = left.eval(input)
    val rRaw = right.eval(input)
    if (lRaw == null || rRaw == null) return b
    val l = lRaw.asInstanceOf[ArrayData].toDoubleArray()
    val r = rRaw.asInstanceOf[ArrayData].toDoubleArray()
    val buf =
      if (b.isEmpty) {
        val nb = new Array[Double](2 + l.length * r.length)
        nb(0) = l.length.toDouble; nb(1) = r.length.toDouble
        nb
      } else b
    require(buf(0).toInt == l.length && buf(1).toInt == r.length,
      s"outer_sum: (${l.length},${r.length}) != established (${buf(0).toInt},${buf(1).toInt})")
    blas.dger(l.length, r.length, 1.0, l, 0, 1, r, 0, 1, buf, 2, l.length)
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): OuterSumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): OuterSumAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): OuterSumAgg =
    copy(left = newChildren(0), right = newChildren(1))
}

object OuterSumAgg {
  /** Aggregate Column over two `array<double>` columns: header [nl, nr]
    * followed by the column-major nl×nr block of Σ left·rightᵀ. */
  def of(left: Column, right: Column): Column =
    bridge.column(
      OuterSumAgg(bridge.expression(left), bridge.expression(right)).toAggregateExpression())

  /** (nl, nr) from a buffer's header. */
  def shape(buf: Array[Double]): (Int, Int) = (buf(0).toInt, buf(1).toInt)

  /** Entry (r, c) of the column-major nl×nr block behind the header. */
  def entry(buf: Array[Double], r: Int, c: Int): Double = buf(2 + c * buf(0).toInt + r)
}

/** Σ over rows of z·(zᵀQ) for a CONSTANT projection matrix Q — one
  * distributed pass of the gramian-free subspace iteration behind
  * [[graft.operators.Kinship.pcaRandomized]]: K·Q = (1/den)·Σ z·(zᵀQ)
  * without ever materializing the S×S kinship matrix, so the only
  * driver/executor state is S×m doubles (m = k + oversample ≈ 20 —
  * 16 MB at 100k samples, vs 40 GB for the full triangle).
  *
  * Q ships INSIDE the aggregate as a plain col-major array (the
  * physical plan is broadcast once per stage, so every task reads one
  * copy — the same mechanism that ships literal arrays). Per row: one
  * dgemv (w = Qᵀz) + one dger (buf += z·wᵀ); partials merge by daxpy.
  * Buffer: col-major S×m, fixed size known up front. Null rows skip;
  * vector length must equal `s`. */
case class ProjOuterAgg(
    child: Expression,
    q: Array[Double],
    s: Int,
    m: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends DenseSumAgg {

  require(q.length == s * m, s"proj_outer: |Q|=${q.length} != s*m=${s * m}")

  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "proj_outer"

  @transient private lazy val w = new Array[Double](m)

  override def update(b: Array[Double], input: InternalRow): Array[Double] = {
    val raw = child.eval(input)
    if (raw == null) return b
    val v = raw.asInstanceOf[ArrayData].toDoubleArray()
    require(v.length == s, s"proj_outer: vector length ${v.length} != $s")
    val buf = if (b.isEmpty) new Array[Double](s * m) else b
    blas.dgemv("T", s, m, 1.0, q, 0, s, v, 0, 1, 0.0, w, 0, 1)
    blas.dger(s, m, 1.0, v, 0, 1, w, 0, 1, buf, 0, s)
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ProjOuterAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ProjOuterAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): ProjOuterAgg =
    copy(child = newChildren.head)
}

object ProjOuterAgg {
  /** Aggregate Column: col-major S×m array of Σ z·(zᵀQ); `q` is the
    * col-major flattened S×m projection matrix. */
  def of(vec: Column, q: Array[Double], s: Int, m: Int): Column =
    bridge.column(
      ProjOuterAgg(bridge.expression(vec), q, s, m).toAggregateExpression())
}
