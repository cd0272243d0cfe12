package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Prefix

/** Prefix (two-pass distributed running computations) vs the
  * single-partition window ground truth it replaces. */
class PrefixSpec extends SparkSpec {
  import spark.implicits._

  // deterministic pseudo-random rows: (group, id, value)
  private lazy val rows = (1 to 4001).map { i =>
    val h = (i * 2654435761L) % 1000000007L
    (s"g${h % 7}", i.toLong, (h % 100L) - 50L)
  }
  private lazy val df = rows.toDF("g", "id", "v")

  test("runningSum grouped ≡ per-group window cumsum") {
    val got = Prefix.runningSum(df, Seq("g"), Seq(col("id")), col("v"), "cum", ranges = 16)
      .orderBy("g", "id").select("g", "id", "cum").collect()
    val w = Window.partitionBy("g").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("cum", sum(col("v")).over(w))
      .orderBy("g", "id").select("g", "id", "cum").collect()
    assert(got.toSeq === want.toSeq)
  }

  test("runningSum global with mixed-direction order ≡ global window cumsum") {
    val ord = Seq(col("v").desc, col("id"))
    // the primary order is DESC, so the ascending-monotone slice key is
    // its negation
    val got = Prefix.runningSum(df, Seq.empty, ord, col("v"), "cum", ranges = 16,
        sliceKey = Some(-col("v")))
      .orderBy(col("v").desc, col("id")).select("id", "cum").collect()
    val w = Window.orderBy(col("v").desc, col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("cum", sum(col("v")).over(w))
      .orderBy(col("v").desc, col("id")).select("id", "cum").collect()
    assert(got.toSeq === want.toSeq)
  }

  test("runningSum degenerate slice key: constant key collapses to one slice, still exact") {
    // all boundaries equal → dedupe to one value → every row compares
    // <= boundary → slice 0 holds everything; ordering falls back to
    // the secondary key and the result must still be exact
    val const = (1 to 500).map(i => (1L, i.toLong, (i % 13).toLong)).toDF("k", "id", "v")
    val got = Prefix.runningSum(const, Seq.empty, Seq(col("k"), col("id")), col("v"),
        "cum", ranges = 8, sliceKey = Some(col("k")))
      .orderBy("id").select("id", "cum").collect()
    val w = Window.orderBy(col("k"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = const.withColumn("cum", sum(col("v")).over(w))
      .orderBy("id").select("id", "cum").collect()
    assert(got.toSeq === want.toSeq)
  }

  test("runningSum with nullable values ≡ window semantics (null until first non-null)") {
    // window sum skips nulls but stays null until the first non-null —
    // including across slice boundaries (a leading slice of only nulls
    // must not turn the next slice's prefix into 0)
    val nv = (1 to 400).map { i =>
      (i.toLong, if (i <= 50 || i % 3 == 0) None else Some(i.toLong))
    }.toDF("id", "v")
    val got = Prefix.runningSum(nv, Seq.empty, Seq(col("id")), col("v"), "cum", ranges = 8)
      .orderBy("id").select("id", "cum").collect()
    val w = Window.orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = nv.withColumn("cum", sum(col("v")).over(w))
      .orderBy("id").select("id", "cum").collect()
    assert(got.toSeq === want.toSeq)
  }

  test("default ranges tracks spark.sql.shuffle.partitions") {
    // explicit argument wins
    assert(Prefix.resolveRanges(df, 16) === 16)
    // AutoRanges falls back to the session's shuffle partitions
    assert(Prefix.resolveRanges(df, Prefix.AutoRanges)
      === spark.sessionState.conf.numShufflePartitions)
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "48")
      assert(Prefix.resolveRanges(df, Prefix.AutoRanges) === 48)
      // and a full run under 48 shuffle partitions is still exact
      val got = Prefix.runningSum(df, Seq("g"), Seq(col("id")), col("v"), "cum")
        .orderBy("g", "id").select("g", "id", "cum").collect()
      val w = Window.partitionBy("g").orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = df.withColumn("cum", sum(col("v")).over(w))
        .orderBy("g", "id").select("g", "id", "cum").collect()
      assert(got.toSeq === want.toSeq)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", saved)
    }
  }

  test("cluster-sized ranges (512 ≫ 32) and ranges > distinct keys stay exact") {
    // 512 requested boundaries over 4001 ids exercises the binary-search
    // slice kernel; 512 boundaries over 9 distinct keys exercises the
    // boundary-dedup degeneracy (most slices empty or merged)
    val got = Prefix.runningSum(df, Seq("g"), Seq(col("id")), col("v"), "cum",
        ranges = 512)
      .orderBy("g", "id").select("g", "id", "cum").collect()
    val w = Window.partitionBy("g").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("cum", sum(col("v")).over(w))
      .orderBy("g", "id").select("g", "id", "cum").collect()
    assert(got.toSeq === want.toSeq)

    val nine = (1 to 9).map(i => (i.toLong, i.toLong)).toDF("id", "v")
    val gotNine = Prefix.runningSum(nine, Seq.empty, Seq(col("id")), col("v"), "cum",
        ranges = 512)
      .orderBy("id").select("id", "cum").collect()
    val wNine = Window.orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wantNine = nine.withColumn("cum", sum(col("v")).over(wNine))
      .orderBy("id").select("id", "cum").collect()
    assert(gotNine.toSeq === wantNine.toSeq)
  }

  test("runningSum rejects float/double values (reassociation is not exact)") {
    val fl = Seq((1L, 1.5), (2L, 2.5)).toDF("id", "v")
    val ex = intercept[IllegalArgumentException] {
      Prefix.runningSum(fl, Seq.empty, Seq(col("id")), col("v"), "cum", ranges = 2)
    }
    assert(ex.getMessage.contains("integral or decimal"))
    // decimal is carry-free and accepted
    val dec = fl.withColumn("v", col("v").cast("decimal(10,2)"))
    val got = Prefix.runningSum(dec, Seq.empty, Seq(col("id")), col("v"), "cum", ranges = 2)
      .orderBy("id").select("cum").collect().map(_.getDecimal(0).doubleValue())
    assert(got.toSeq === Seq(1.5, 4.0))
  }

  test("order keys beyond 2^53 (64-bit LSNs): double cast merges slices, results exact") {
    // adjacent longs near Long.MaxValue collapse to the same double, so
    // slice assignment cannot separate them — correctness must come from
    // the in-slice window ordering by the true long column
    val base = Long.MaxValue - 4096
    val big = (0 until 300).map(i => (base + i * 3L, 1L)).toDF("id", "v")
    val got = Prefix.runningSum(big, Seq.empty, Seq(col("id")), col("v"), "cum", ranges = 8)
      .orderBy("id").select("id", "cum").collect()
    val w = Window.orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = big.withColumn("cum", sum(col("v")).over(w))
      .orderBy("id").select("id", "cum").collect()
    assert(got.toSeq === want.toSeq)

    val ids = big.select("id")
    val gotLag = Prefix.lag1(ids, "id", "prev", ranges = 8)
      .orderBy("id").select("id", "prev").collect()
    val wantLag = ids.withColumn("prev", lag(col("id"), 1).over(Window.orderBy("id")))
      .orderBy("id").select("id", "prev").collect()
    assert(gotLag.toSeq === wantLag.toSeq)
  }

  test("lag1 ≡ global-order lag, robust to empty range slices") {
    // 10 rows over 64 requested ranges: most slices are empty, so the
    // boundary handoff must skip over them
    val tiny = (1 to 10).map(i => i * 7L).toDF("id")
    val got = Prefix.lag1(tiny, "id", "prev", ranges = 64)
      .orderBy("id").select("id", "prev").collect()
    val want = tiny.withColumn("prev", lag(col("id"), 1).over(Window.orderBy("id")))
      .orderBy("id").select("id", "prev").collect()
    assert(got.toSeq === want.toSeq)
    val big = Prefix.lag1(df.select(col("id")), "id", "prev", ranges = 8)
      .orderBy("id").select("prev").collect()
    val bigWant = df.select(col("id"))
      .withColumn("prev", lag(col("id"), 1).over(Window.orderBy("id")))
      .orderBy("id").select("prev").collect()
    assert(big.toSeq === bigWant.toSeq)
  }
}
