package org.apache.spark.sql.graftvec

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared portable-sketch permutation family (SURVEY.md §6): affine
  * params (a, b) for permutation j, derived split-mix-style so every
  * engine (Spark kernel, generated DuckDB SQL) computes the identical
  * constants. MinHash uses j = 0..63; SimHash decorrelates with a +100
  * salt. */
object SketchPerms {
  /** A literal `final val`, so scalac inlines it and the kernels' `% P`
    * divides by a compile-time constant the JIT can strength-reduce. */
  final val P = 1000000007L

  def perm(j: Int): (Long, Long) = {
    val x = (j * 2654435761L + 104729L) % P
    ((x * 2 + 1) % P, (x * 48611L + 15485863L) % P)
  }

  /** (a₀..a_{n-1}, b₀..b_{n-1}) for perms salt..salt+n-1. */
  def permArrays(n: Int, salt: Int): (Array[Long], Array[Long]) = {
    val as = new Array[Long](n)
    val bs = new Array[Long](n)
    var j = 0
    while (j < n) {
      val (a, b) = perm(j + salt)
      as(j) = a; bs(j) = b
      j += 1
    }
    (as, bs)
  }
}

/** All LSH band hashes of a document's shingle-hash set in ONE node:
  *
  *   m_j  = min over h of (h·a_j + b_j) mod P          (64 minhashes)
  *   band_b = fold over its rows: acc·1000003 + m mod P (32 band keys)
  *
  * Bit-for-bit what the exploded formulation computes — groupBy(doc_id)
  * with 64 `min(pmod(h*a+b, P))` aggregate columns, then 32 fold
  * expressions — but that formulation explodes every shingle into a row
  * and runs a 64-column aggregate (an extra full shuffle of the shingle
  * rows, plus a wide codegen'd HashAggregate), when the per-doc shingle
  * array is already in hand. Here the whole sketch is one tight loop in
  * whole-stage codegen: the minhash family is computed per document with
  * no shuffle at all. The DuckDB oracle replays the exploded form
  * (Dedup.dedupMinhashSql), which is arithmetic-identical.
  *
  * Empty in, empty out: an array with no (non-null) hash has no bands,
  * so `posexplode` drops a shingle-less doc exactly as the oracle's
  * per-doc aggregate never sees one, with no filter on the array.
  */
case class MinHashBands(child: Expression, numHashes: Int, numBands: Int, salt: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_bands"

  private lazy val perms: (Array[Long], Array[Long]) =
    SketchPerms.permArrays(numHashes, salt)

  override def nullSafeEval(v: Any): Any =
    MinHashOps.bands(v.asInstanceOf[ArrayData], perms._1, perms._2, numBands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, hs => {
      val aRef = ctx.addReferenceObj("minhashA", perms._1, "long[]")
      val bRef = ctx.addReferenceObj("minhashB", perms._2, "long[]")
      val ops = "org.apache.spark.sql.graftvec.MinHashOps$.MODULE$"
      s"${ev.value} = $ops.bands($hs, $aRef, $bRef, $numBands);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashOps {
  import SketchPerms.P
  private val Empty = new GenericArrayData(Array.empty[Any])

  def bands(hs: ArrayData, a: Array[Long], b: Array[Long], numBands: Int): ArrayData = {
    val nH = a.length
    val rows = nH / numBands
    val mins = new Array[Long](nH)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = hs.numElements()
    var seen = false
    var i = 0
    while (i < n) {
      if (!hs.isNullAt(i)) {
        seen = true
        val h = hs.getLong(i)
        var j = 0
        while (j < nH) {
          val t = (h * a(j) + b(j)) % P
          if (t < mins(j)) mins(j) = t
          j += 1
        }
      }
      i += 1
    }
    if (!seen) return Empty
    val bands = new Array[Long](numBands)
    var bi = 0
    while (bi < numBands) {
      var acc = mins(bi * rows)
      var k = 1
      while (k < rows) {
        acc = (acc * 1000003L + mins(bi * rows + k)) % P
        k += 1
      }
      bands(bi) = acc
      bi += 1
    }
    new GenericArrayData(bands)
  }
}

/** 64-bit SimHash of a words array in ONE node: per word instance the
  * portable polyhash h votes ±1 on each bit j by the parity of
  * (h·a_j + b_j) mod P; bit j of the output is set iff its vote total is
  * positive. Arithmetic-identical to the exploded form (explode words →
  * 64 conditional-sum aggregate columns → pack), which costs a full
  * shuffle of the word rows and a 64-column aggregate; and to the DuckDB
  * oracle (Dedup.dedupSimhashSql), which replays the same bit sums.
  * A null word element votes -1 on every bit — exactly what the
  * declarative `when(pmod(null·a+b) = 1, 1).otherwise(-1)` evaluates to.
  */
case class SimHash64(child: Expression, salt: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"

  private lazy val perms: (Array[Long], Array[Long]) =
    SketchPerms.permArrays(64, salt)

  override def nullSafeEval(v: Any): Any =
    SimHashOps.compute(v.asInstanceOf[ArrayData], perms._1, perms._2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, ws => {
      val aRef = ctx.addReferenceObj("simhashA", perms._1, "long[]")
      val bRef = ctx.addReferenceObj("simhashB", perms._2, "long[]")
      val ops = "org.apache.spark.sql.graftvec.SimHashOps$.MODULE$"
      s"${ev.value} = $ops.compute($ws, $aRef, $bRef);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashOps {
  import SketchPerms.P
  private final val B = 131L

  private def polyHash(w: UTF8String): Long = {
    val bytes = w.getBytes
    var acc = 0L
    var i = 0
    while (i < bytes.length) {
      acc = (acc * B + (bytes(i) & 0xFF)) % P
      i += 1
    }
    acc
  }

  def compute(ws: ArrayData, a: Array[Long], b: Array[Long]): Long = {
    val votes = new Array[Int](64)
    val n = ws.numElements()
    var i = 0
    while (i < n) {
      if (ws.isNullAt(i)) {
        var j = 0
        while (j < 64) { votes(j) -= 1; j += 1 }
      } else {
        val h = polyHash(ws.getUTF8String(i))
        var j = 0
        while (j < 64) {
          val t = (h * a(j) + b(j)) % P
          votes(j) += (if ((t & 1L) == 1L) 1 else -1)
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }
}

/** All unordered pairs (a < b) over the DISTINCT elements of a long
  * array — the per-bucket pair expansion of LSH / shingle candidate
  * generation. `explode(sorted_pairs(ds))` after a grouped collect
  * replaces the bucket SELF-JOIN formulation: same pairs, but one
  * aggregation instead of a two-sided join on the cached bucket rows
  * (one fewer shuffle + no sort-merge pass). The input is sorted and
  * deduped inside the kernel, so the output is deterministic regardless
  * of collect order. Caller guarantees bounded group size (the bucket
  * cap); output is O(cap²) per row.
  */
case class SortedPairs(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("doc_a", LongType, nullable = false),
      StructField("doc_b", LongType, nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_pairs"

  override def nullSafeEval(v: Any): Any =
    PairOps.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, ds => {
      val ops = "org.apache.spark.sql.graftvec.PairOps$.MODULE$"
      s"${ev.value} = $ops.compute($ds);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PairOps {
  private val Empty = new GenericArrayData(Array.empty[Any])

  def compute(ds: ArrayData): ArrayData = {
    val n = ds.numElements()
    if (n < 2) return Empty
    val vals = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!ds.isNullAt(i)) { vals(m) = ds.getLong(i); m += 1 }
      i += 1
    }
    java.util.Arrays.sort(vals, 0, m)
    // dedupe in place (sorted)
    var d = 0
    i = 0
    while (i < m) {
      if (d == 0 || vals(i) != vals(d - 1)) { vals(d) = vals(i); d += 1 }
      i += 1
    }
    if (d < 2) return Empty
    val out = new Array[Any](d * (d - 1) / 2)
    var k = 0
    i = 0
    while (i < d) {
      var j = i + 1
      while (j < d) {
        out(k) = new GenericInternalRow(Array[Any](vals(i), vals(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** The pair expansion of LSH buckets as sorted runs: one pass over a
  * partition sorted by (key, id), in which each maximal run of one key
  * is a bucket. A run whose true size (every row, repeated and null ids
  * included) lies in [minSz, maxSz] yields every pair (a < b) of its
  * distinct ids; any other run yields nothing. The pass holds at most
  * maxSz ids however hot a key is: an oversized run is counted, never
  * buffered past the cap. The pairs are those of a capped collect per
  * key (`collect_capped(id, maxSz + 1)` beside `count(*)`, sized, then
  * `sorted_pairs`), without an aggregation buffer per bucket.
  */
object RunPairs {
  def apply(rows: Iterator[(Long, java.lang.Long)], minSz: Int, maxSz: Int): Iterator[(Long, Long)] =
    new Iterator[(Long, Long)] {
      private val in = rows.buffered
      private val ids = new Array[Long](maxSz)
      private var d = 0 // distinct ids of the current run
      private var a = 0 // next pair: (ids(a), ids(b))
      private var b = 1

      def hasNext: Boolean = {
        while (b >= d && in.hasNext) nextRun()
        b < d
      }

      def next(): (Long, Long) = {
        if (!hasNext) throw new NoSuchElementException("no pair left")
        val p = (ids(a), ids(b))
        b += 1
        if (b == d) { a += 1; b = a + 1 }
        p
      }

      private def nextRun(): Unit = {
        val key = in.head._1
        var n = 0L
        d = 0
        while (in.hasNext && in.head._1 == key) {
          val id = in.next()._2
          n += 1
          // ids arrive sorted, so a repeat is the previous distinct id
          if (id != null && n <= maxSz && (d == 0 || ids(d - 1) != id.longValue)) {
            ids(d) = id
            d += 1
          }
        }
        if (n < minSz || n > maxSz) d = 0
        a = 0
        b = 1
      }
    }
}

/** Count of the most frequent word bigram in a words array — the core
  * of the Gopher-style repetition filter. A per-document value, so
  * computing it via explode-bigrams → groupBy(doc, bigram) → max is two
  * full shuffles of the corpus token stream for something one row-local
  * hash count answers; this kernel keeps the whole metric map-side.
  * Bigrams join adjacent elements with a single space, nulls skipped
  * pairwise exactly as the `zip_with(concat_ws)` form. Returns 0 for
  * arrays shorter than 2. */
case class TopBigramCount(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "top_bigram_count"

  override def nullSafeEval(v: Any): Any =
    BigramOps.topCount(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, ws => {
      val ops = "org.apache.spark.sql.graftvec.BigramOps$.MODULE$"
      s"${ev.value} = $ops.topCount($ws);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BigramOps {
  private val Space = UTF8String.fromString(" ")

  def topCount(ws: ArrayData): Long = {
    val n = ws.numElements()
    if (n < 2) return 0L
    val counts = new java.util.HashMap[UTF8String, Integer](n * 2)
    var best = 0
    var i = 0
    while (i < n - 1) {
      val a = if (ws.isNullAt(i)) null else ws.getUTF8String(i)
      val b = if (ws.isNullAt(i + 1)) null else ws.getUTF8String(i + 1)
      val bg = UTF8String.concatWs(Space, a, b)
      val prev = counts.get(bg)
      val c = if (prev == null) 1 else prev.intValue() + 1
      counts.put(bg, Integer.valueOf(c))
      if (c > best) best = c
      i += 1
    }
    best.toLong
  }
}

/** collect_list capped at `cap` elements — the scale-safe collect for
  * bucket-join candidate generation: a group larger than the bucket cap
  * is dropped by the caller anyway (boilerplate bucket), so elements
  * past cap never matter; keeping at most cap bounds aggregation-buffer
  * memory per group at 8·cap bytes no matter how hot the key is (a
  * plain collect_list of a 10⁹-doc boilerplate shingle at 100 TB is an
  * executor OOM). Pair with `count(*)` in the same aggregate to learn
  * the TRUE group size: if count ≤ cap the list is complete (exact),
  * if count > cap the group is discarded before the list is read.
  * Which elements survive past-cap truncation is partition-order
  * dependent — only the ≤cap (complete) case is deterministic.
  * TypedImperativeAggregate → map-side partial aggregation, like
  * [[KmvDistinct]]. */
case class CollectCapped(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[LongListBuffer] with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "collect_capped"
  override def children: Seq[Expression] = Seq(child)

  override def createAggregationBuffer(): LongListBuffer = new LongListBuffer(cap)

  override def update(buf: LongListBuffer, input: InternalRow): LongListBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: LongListBuffer, other: LongListBuffer): LongListBuffer = {
    buf.addAll(other); buf
  }

  override def eval(buf: LongListBuffer): Any = buf.toArrayData

  override def serialize(buf: LongListBuffer): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): LongListBuffer =
    LongListBuffer.fromBytes(cap, bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): CollectCapped =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CollectCapped =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

/** Append-only long list capped at `cap` elements. */
final class LongListBuffer(cap: Int) {
  private var arr = new Array[Long](math.min(cap, 16))
  private[graftvec] var n = 0

  def add(v: Long): Unit = {
    if (n >= cap) return
    if (n == arr.length) arr = java.util.Arrays.copyOf(arr, math.min(cap, arr.length * 2))
    arr(n) = v
    n += 1
  }

  def addAll(other: LongListBuffer): Unit = {
    var i = 0
    while (i < other.n && n < cap) { add(other.arr(i)); i += 1 }
  }

  private[graftvec] def values: Array[Long] = arr

  def toArrayData: ArrayData = new GenericArrayData(java.util.Arrays.copyOf(arr, n))

  def toBytes: Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * n)
    bb.putInt(n)
    var i = 0
    while (i < n) { bb.putLong(arr(i)); i += 1 }
    bb.array()
  }
}

object LongListBuffer {
  def fromBytes(cap: Int, bytes: Array[Byte]): LongListBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new LongListBuffer(cap)
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }
}

/** Column-API surface for the sketch expressions. */
object MinHashExpressions {
  def minhashBands(hs: Column, numHashes: Int, numBands: Int, salt: Int = 0): Column =
    ExpressionUtils.column(MinHashBands(ExpressionUtils.expression(hs), numHashes, numBands, salt))

  def simhash64(ws: Column, salt: Int): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(ws), salt))

  def sortedPairs(ds: Column): Column =
    ExpressionUtils.column(SortedPairs(ExpressionUtils.expression(ds)))

  def topBigramCount(ws: Column): Column =
    ExpressionUtils.column(TopBigramCount(ExpressionUtils.expression(ws)))

  def collectCapped(c: Column, cap: Int): Column =
    ExpressionUtils.column(CollectCapped(ExpressionUtils.expression(c), cap)
      .toAggregateExpression())
}
