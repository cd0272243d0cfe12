package org.apache.spark.sql.graftvec

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, LongType}

/** KMV (k-minimum-values) distinct-count sketch as a native partial
  * aggregate.
  *
  * The buffer keeps the k smallest DISTINCT hash values seen; the
  * estimate is (k-1)·P / (h_k + 1) when full (σ ≈ 1/√k), or the exact
  * distinct count when fewer than k values were seen. The hash is an
  * affine permutation of the key mod P = 1e9+7, so a SQL oracle can
  * replay the sketch bit-for-bit (see Analytics.q8ApproxDistinctSql) —
  * unlike HLL, whose register layout is engine-specific.
  *
  * Scale design: this is a TypedImperativeAggregate, so Spark runs it
  * with map-side partial aggregation — every partition reduces to a
  * ≤k-element buffer before the shuffle, and merge unions two buffers
  * (the k smallest of the union of two k-sets is exact). The
  * window-function formulation of the same estimator (`row_number over
  * (partition by g order by h) = k`) sorts every group on one
  * partition — a non-starter for a 100 TB group.
  *
  * The buffer is a sorted long set capped at k: O(log k) insert via
  * binary search + arraycopy; duplicates are dropped (KMV is a sketch
  * over the DISTINCT hash set, and with an injective-on-keyspace affine
  * hash, over the distinct keys).
  */
case class KmvDistinct(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KmvBuffer] with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_distinct"
  override def children: Seq[Expression] = Seq(child)

  override def createAggregationBuffer(): KmvBuffer = new KmvBuffer(k)

  override def update(buf: KmvBuffer, input: org.apache.spark.sql.catalyst.InternalRow): KmvBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: KmvBuffer, other: KmvBuffer): KmvBuffer = {
    buf.addAll(other); buf
  }

  override def eval(buf: KmvBuffer): Any =
    if (buf.size < k) buf.size.toLong
    else (k - 1).toLong * SketchPerms.P / (buf.kth + 1L)

  override def serialize(buf: KmvBuffer): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): KmvBuffer = KmvBuffer.fromBytes(k, bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvDistinct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

/** Sorted distinct longs, capped at the k smallest. */
final class KmvBuffer(k: Int) {
  private var arr = new Array[Long](math.min(k, 16))
  private var n = 0

  def size: Int = n
  def kth: Long = arr(k - 1) // defined only when size == k

  def add(v: Long): Unit = {
    if (n == k && v >= arr(n - 1)) return
    var idx = java.util.Arrays.binarySearch(arr, 0, n, v)
    if (idx >= 0) return // duplicate
    idx = -idx - 1
    if (n == arr.length && n < k) { // grow
      arr = java.util.Arrays.copyOf(arr, math.min(k, arr.length * 2))
    }
    val lastKept = math.min(n, k - 1)
    System.arraycopy(arr, idx, arr, idx + 1, lastKept - idx)
    arr(idx) = v
    if (n < k) n += 1
  }

  def addAll(other: KmvBuffer): Unit = {
    var i = 0
    while (i < other.n) { add(other.arr(i)); i += 1 }
  }

  def toBytes: Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * n)
    bb.putInt(n)
    var i = 0
    while (i < n) { bb.putLong(arr(i)); i += 1 }
    bb.array()
  }
}

object KmvBuffer {
  def fromBytes(k: Int, bytes: Array[Byte]): KmvBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new KmvBuffer(k)
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }
}

object SketchExpressions {
  /** Column surface: KMV distinct estimate over a long hash column. */
  def kmvDistinct(h: Column, k: Int): Column =
    ExpressionUtils.column(KmvDistinct(ExpressionUtils.expression(h), k)
      .toAggregateExpression())
}
