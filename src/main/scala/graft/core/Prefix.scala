package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed running computations over a global (or per-group) order.
  *
  * A window with an empty `partitionBy` funnels the whole relation
  * through ONE task (`Exchange SinglePartition`) — fine on a 60k-row
  * test table, fatal on a 100 TB change log. These helpers implement
  * the classic two-pass prefix discipline instead:
  *
  *   1. slice the order-key domain into `ranges` contiguous intervals
  *      (boundaries from one approxQuantile pass over the pruned key
  *      column), so the slice id is a pure function of the row;
  *   2. a bounded per-slice window — each window partition is one
  *      slice of one group, never a whole group;
  *   3. compose slice offsets from the per-slice totals (a table of
  *      ≤ `ranges` rows per group) and broadcast them back.
  *
  * The offset composition is a broadcast theta-join over the tiny
  * totals table rather than a global window, so the final plan contains
  * NO `Exchange SinglePartition` at all (PlanSpec asserts this), and
  * the data stream crosses exactly one shuffle (the per-slice window's
  * hash exchange).
  *
  * Why explicit boundaries instead of `repartitionByRange` +
  * `spark_partition_id()`: the local pass and the totals pass consume
  * the sliced frame through differently-pruned subtrees, so Spark sees
  * two canonically-different range exchanges and samples range bounds
  * independently for each (seeded by RDD id). On small data the sampler
  * retains every row and the bounds agree; at real scale they need not,
  * and the two passes would disagree about slice membership — a silent
  * corruption. A boundary array computed once on the driver (the "tiny
  * collect of P boundary rows" discipline) makes slice assignment
  * branch-consistent by construction. The quantile pass reads only the
  * key column and costs one scan; boundaries are approximate, which
  * skews slice sizes, never results.
  */
object Prefix {

  /** Sentinel: resolve `ranges` from the session's
    * `spark.sql.shuffle.partitions` at call time. This is the default,
    * so the slice count tracks cluster scale instead of freezing at a
    * constant: a 1000-executor session with 2000 shuffle partitions
    * gets 2000-way prefix parallelism, not 32-way (~3 TB/slice at
    * 100 TB). */
  val AutoRanges: Int = 0

  /** Explicit `ranges` wins; otherwise the session's
    * `spark.sql.shuffle.partitions` (floored at 2 — the slicing
    * degenerates gracefully but requires ≥ 2 requested). */
  private[graft] def resolveRanges(df: DataFrame, ranges: Int): Int =
    if (ranges > 0) ranges
    else math.max(2, df.sparkSession.sessionState.conf.numShufflePartitions)

  /** Slice boundaries for `key` (cast to double): the 1/n .. (n-1)/n
    * approximate quantiles, deduplicated. Rows compare strictly against
    * each boundary, so a row equal to a boundary lands in the lower
    * slice — on every branch, because the comparison is pure.
    *
    * The quantile error tightens with `ranges` (¼ of a slice width) so
    * cluster-sized slice counts don't collapse adjacent boundaries;
    * GK-sketch memory grows only as 1/err.
    *
    * Keys beyond 2⁵³ (e.g. full-width 64-bit LSNs) lose precision in
    * the double cast, but long→double rounding is monotone
    * NON-DECREASING, and slice membership is a pure function of the
    * cast value — so slice assignment stays deterministic and
    * order-consistent (near-boundary keys merge into one slice), and
    * results stay exact because the in-slice window orders by the TRUE
    * uncast columns. Only slice balance degrades. PrefixSpec pins this
    * with keys near Long.MaxValue. */
  private def sliceBoundaries(df: DataFrame, key: Column, ranges: Int): Array[Double] = {
    require(ranges > 1, "need at least 2 ranges")
    val probs = (1 until ranges).map(_.toDouble / ranges).toArray
    df.select(key.cast("double").as("_ps_k"))
      .na.drop("all", Seq("_ps_k"))
      .stat.approxQuantile("_ps_k", probs, math.min(0.01, 1.0 / (4.0 * ranges)))
      .distinct.sorted
  }

  /** slice id = number of boundaries strictly below the row's key —
    * one O(log B) binary search per row (native codegen
    * [[org.apache.spark.sql.graftvec.SearchSortedDouble]]), not the
    * O(B) `when`-chain a fold would build; B is now cluster-sized.
    * A null key lands in slice 0 (nulls sort first in every consumer's
    * order). */
  private def sliceOf(key: Column, bounds: Array[Double]): Column =
    coalesce(
      org.apache.spark.sql.graftvec.SearchSortedExpressions
        .searchSorted(key.cast("double"), bounds),
      lit(0L))

  /** Running sum of `value` over `order` within each `groupCols` group
    * (global when `groupCols` is empty), appended as column `out`.
    * Equivalent to `sum(value).over(Window.partitionBy(groupCols)
    * .orderBy(order).rowsBetween(unboundedPreceding, currentRow))`
    * but with per-group work spread across ≤ `ranges` order-key slices.
    *
    * `sliceKey` must be ascending-monotone in the total order (default:
    * the first `order` column) and castable to double; ties on it stay
    * within one slice, which is always order-correct. Note the helper
    * runs the quantile action at call time.
    *
    * `value` must be an integral or decimal type (REQUIRED at plan
    * time): the two-pass composition reassociates the addition
    * (per-slice partials, then offsets), which is exact for integers
    * and decimals but changes float/double results vs the
    * left-to-right window ground truth. Callers that accept
    * approximate sums may cast to double AFTER summing, or scale to
    * fixed-point before. */
  def runningSum(df: DataFrame, groupCols: Seq[String], order: Seq[Column],
                 value: Column, out: String, ranges: Int = AutoRanges,
                 sliceKey: Option[Column] = None): DataFrame = {
    val k = sliceKey.getOrElse(order.head)
    val valued = df.withColumn("_ps_v", value)
    import org.apache.spark.sql.types._
    valued.schema("_ps_v").dataType match {
      case ByteType | ShortType | IntegerType | LongType | _: DecimalType => ()
      case t => throw new IllegalArgumentException(
        s"Prefix.runningSum value must be integral or decimal (got $t): " +
          "slice composition reassociates the addition, which is only " +
          "exact for carry-free types")
    }
    val bounds = sliceBoundaries(df, k, resolveRanges(df, ranges))
    val sliced = valued.withColumn("_ps_slice", sliceOf(k, bounds))
    val sliceKeys = groupCols.map(col) :+ col("_ps_slice")
    val wLocal = Window.partitionBy(sliceKeys: _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // null discipline mirrors the window ground truth exactly: sum-over-
    // window skips nulls but stays null until the first non-null value.
    // The local pass therefore carries a null-coalesced running sum AND
    // a running non-null count; the composed result reverts to null
    // when no non-null value precedes the row in the whole group.
    val local = sliced
      .withColumn("_ps_local", sum(coalesce(col("_ps_v"), lit(0L))).over(wLocal))
      .withColumn("_ps_seen", count(col("_ps_v")).over(wLocal))
    // per-slice totals (≤ ranges rows per group): slice offset = sum of
    // all strictly-earlier slices' totals within the group
    val totals = sliced.groupBy(sliceKeys: _*)
      .agg(sum(coalesce(col("_ps_v"), lit(0L))).as("_ps_total"),
        count(col("_ps_v")).as("_ps_n"))
    val prior = totals.select(
      groupCols.map(c => col(c).as(s"${c}_ps_r")) ++
        Seq(col("_ps_slice").as("_ps_slice_r"), col("_ps_total").as("_ps_total_r"),
          col("_ps_n").as("_ps_n_r")): _*)
    val cond = groupCols.map(c => col(c) === col(s"${c}_ps_r"))
      .foldLeft(col("_ps_slice_r") < col("_ps_slice"))(_ && _)
    val offsets = totals.join(prior, cond, "left")
      .groupBy(sliceKeys: _*)
      .agg(sum(col("_ps_total_r")).as("_ps_off"),
        sum(col("_ps_n_r")).as("_ps_n_off"))
    local.join(broadcast(offsets), groupCols :+ "_ps_slice")
      .withColumn(out,
        when(col("_ps_seen") + coalesce(col("_ps_n_off"), lit(0L)) > 0L,
          col("_ps_local") + coalesce(col("_ps_off"), lit(0L))))
      .drop("_ps_v", "_ps_slice", "_ps_local", "_ps_seen", "_ps_off", "_ps_n_off")
  }

  /** Previous value of `orderCol` in the global `orderCol` order,
    * appended as column `out` (null for the globally-first row).
    * Equivalent to `lag(orderCol, 1).over(Window.orderBy(orderCol))`
    * with the same slicing: a per-slice lag plus a boundary handoff —
    * each slice's first row takes the max of all earlier slices (= the
    * previous non-empty slice's max, robust to empty slices). */
  def lag1(df: DataFrame, orderCol: String, out: String, ranges: Int = AutoRanges): DataFrame = {
    val bounds = sliceBoundaries(df, col(orderCol), resolveRanges(df, ranges))
    val sliced = df.withColumn("_ps_slice", sliceOf(col(orderCol), bounds))
    val wLocal = Window.partitionBy(col("_ps_slice")).orderBy(col(orderCol))
    val local = sliced.withColumn(out, lag(col(orderCol), 1).over(wLocal))
    val maxes = sliced.groupBy(col("_ps_slice")).agg(max(col(orderCol)).as("_ps_max"))
    val prior = maxes.select(col("_ps_slice").as("_ps_slice_r"), col("_ps_max"))
    val handoff = maxes.select(col("_ps_slice"))
      .join(prior, col("_ps_slice_r") < col("_ps_slice"), "left")
      .groupBy(col("_ps_slice")).agg(max(col("_ps_max")).as("_ps_prev"))
    local.join(broadcast(handoff), Seq("_ps_slice"))
      .withColumn(out, coalesce(col(out), col("_ps_prev")))
      .drop("_ps_slice", "_ps_prev")
  }
}
