package org.apache.spark.sql.graftvec

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
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

/** The bucket pass of LSH and rare-shingle candidate generation, over a
  * partition sorted by key: each maximal run of one key is a bucket, its
  * ids in any order. [[runs]] yields the sorted distinct ids of each run
  * whose true size (every row, repeated and null ids included) lies in
  * [minSz, maxSz]; any other run yields nothing. The pass holds at most
  * maxSz ids however hot a key is: an oversized run is counted, never
  * buffered past the cap. [[pairs]] expands each yielded run into every
  * pair (a < b) of its ids, so a run of d distinct ids gives C(d, 2)
  * pairs and a singleton or empty run gives none.
  */
object RunPairs {
  def runs(rows: Iterator[(Long, java.lang.Long)], minSz: Int, maxSz: Int): Iterator[Array[Long]] =
    new Iterator[Array[Long]] {
      private val in = rows.buffered
      private val ids = new Array[Long](maxSz)
      private var run: Array[Long] = null // the next run to yield

      def hasNext: Boolean = {
        while (run == null && in.hasNext) run = nextRun()
        run != null
      }

      def next(): Array[Long] = {
        if (!hasNext) throw new NoSuchElementException("no run left")
        val r = run
        run = null
        r
      }

      /** The current run's distinct ids, or null when its size is out of range. */
      private def nextRun(): Array[Long] = {
        val key = in.head._1
        var n = 0L
        var m = 0 // ids held
        while (in.hasNext && in.head._1 == key) {
          val id = in.next()._2
          n += 1
          if (id != null && n <= maxSz) {
            ids(m) = id
            m += 1
          }
        }
        if (n < minSz || n > maxSz) return null
        java.util.Arrays.sort(ids, 0, m)
        var d = 0 // distinct ids, compacted in place
        var i = 0
        while (i < m) {
          if (d == 0 || ids(d - 1) != ids(i)) { ids(d) = ids(i); d += 1 }
          i += 1
        }
        java.util.Arrays.copyOf(ids, d)
      }
    }

  /** Every pair (ds(i), ds(j)), i < j, of each run in turn; the ids of a
    * run are sorted and distinct, so each pair has a < b. */
  def pairs(runs: Iterator[Array[Long]]): Iterator[(Long, Long)] =
    new Iterator[(Long, Long)] {
      private var ds = Array.emptyLongArray
      private var a = 0 // next pair: (ds(a), ds(b))
      private var b = 1

      def hasNext: Boolean = {
        while (b >= ds.length && runs.hasNext) {
          ds = runs.next()
          a = 0
          b = 1
        }
        b < ds.length
      }

      def next(): (Long, Long) = {
        if (!hasNext) throw new NoSuchElementException("no pair left")
        val p = (ds(a), ds(b))
        b += 1
        if (b == ds.length) { a += 1; b = a + 1 }
        p
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

/** Column-API surface for the sketch expressions. */
object MinHashExpressions {
  def minhashBands(hs: Column, numHashes: Int, numBands: Int, salt: Int = 0): Column =
    ExpressionUtils.column(MinHashBands(ExpressionUtils.expression(hs), numHashes, numBands, salt))

  def simhash64(ws: Column, salt: Int): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(ws), salt))

  def topBigramCount(ws: Column): Column =
    ExpressionUtils.column(TopBigramCount(ExpressionUtils.expression(ws)))
}
