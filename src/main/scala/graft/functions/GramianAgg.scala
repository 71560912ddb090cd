package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge

/** Upper-triangular gramian accumulator (Σ over rows of v·vᵀ) as a
  * [[DenseSumAgg]] — the tall-skinny matrix product behind
  * kinship/GRM and sample-covariance estimation: billions of variant
  * rows, each carrying one length-S vector, reduced to ONE S(S+1)/2
  * buffer.
  *
  * Scale shape: this is the textbook one-pass gramian (same contract
  * as MLlib RowMatrix.computeGramianMatrix, reimplemented here as a
  * typed aggregate so it composes inside a single `agg()` with other
  * accumulators and never leaves Dataset-land): each task accumulates
  * into its own flat `Array[Double]` (update is a tight i≤j loop, no
  * allocation), partials merge pairwise by vector addition, and only
  * the S(S+1)/2 buffer crosses the wire — the input vectors never
  * shuffle. Driver memory bounds the method at S ≈ tens of thousands
  * of samples (50k samples → 10 GB buffer); beyond that a blocked
  * matrix product is required (SURVEY §2.3 wide/long switchover — out
  * of this operator's contract).
  *
  * Float caveat: addition order depends on partitioning, so the result
  * is reproducible only to ~1 ulp per merge — this aggregate is
  * deliberately NOT in the oracle contract; `Kinship.grmPairs` is the
  * integer-exact oracle twin and KinshipSpec proves them equal on
  * missing-free data.
  *
  * Null / length contract: null input rows are skipped; all non-null
  * vectors must share one length (the first row fixes S; a mismatch
  * fails fast). Null ELEMENTS are rejected — encode "missing" as 0.0
  * upstream (a centered-imputed value contributes exactly nothing to
  * any product, which is the mean-imputation convention GRM wants). */
case class GramianAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends DenseSumAgg {

  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "gramian"

  // the accumulate is a packed symmetric rank-1 update — our row-major
  // upper triangle of a symmetric matrix IS BLAS 'L'-packed storage
  // (GramianAgg.index)
  override def update(b: Array[Double], input: InternalRow): Array[Double] = {
    val raw = child.eval(input)
    if (raw == null) return b
    // one bulk copy to a primitive array; dspr then runs the s²/2
    // multiply-adds over flat doubles
    val v = raw.asInstanceOf[ArrayData].toDoubleArray()
    val s = v.length
    val buf = if (b.isEmpty) new Array[Double](s * (s + 1) / 2) else b
    val established = GramianAgg.width(buf.length)
    require(established == s, s"gramian: vector length $s != established $established")
    blas.dspr("L", s, 1.0, v, 1, buf)
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): GramianAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GramianAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): GramianAgg =
    copy(child = newChildren.head)
}

object GramianAgg {
  /** Aggregate Column over an `array<double>` column: the flattened
    * upper triangle (row-major, diagonal included) of Σ v·vᵀ. */
  def of(vec: Column): Column =
    bridge.column(GramianAgg(bridge.expression(vec)).toAggregateExpression())

  /** Matrix width S of a packed triangle of S(S+1)/2 doubles. */
  def width(len: Int): Int = ((math.sqrt(8.0 * len + 1) - 1) / 2).round.toInt

  /** Offset of entry (i, j≥i) in the packed triangle of an S-wide
    * matrix: i·S − i(i−1)/2 + (j−i). */
  def index(s: Int, i: Int, j: Int): Int =
    (i.toLong * s - i.toLong * (i - 1) / 2 + (j - i)).toInt
}
