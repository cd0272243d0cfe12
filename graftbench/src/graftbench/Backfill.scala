package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.cdc.{CdcOps, Reconcile}
import graft.sources.Sinks

/** Bulk initial load followed by a full re-verify. The input is a
  * parquet change log of `events` events over a key space of `keys`
  * with Zipf(1)-skewed key popularity and `deleteRate` deletes. Each
  * operation applies the whole log (CdcOps.applyLogOf), writes the
  * snapshot to the bucketed lake (Sinks.writeSnapshot), and reconciles
  * the lake against a target copy carrying `planted` sparse divergences,
  * once through the bucket digest and drill-down and once through the
  * full row diff. Both must return exactly the planted set. */
final class Backfill(spark: SparkSession, dir: String, seed: Long,
                     p: Backfill.Params = Backfill.Params()) extends Workload {
  import Backfill._
  import spark.implicits._

  private val logPath = s"$dir/log"
  private val targetPath = s"$dir/target"
  private val lakePath = s"$dir/lake"
  private val planned = plan(seed, p)

  def setup(): Unit = {
    val (seedL, params) = (seed, p) // keep the closures free of `this`
    spark.range(0, p.events.toLong, 1, Workload.inputPartitions(spark)).as[Long]
      .map(j => logRow(seedL, params, j))
      .write.parquet(logPath)
    val tgtCents = spark.sparkContext.broadcast(planned.targetCents)
    spark.range(0, planned.targetCents.length.toLong, 1, Workload.inputPartitions(spark)).as[Long]
      .flatMap(k => { val c = tgtCents.value(k.toInt); if (c < 0) None else Some((k, c / 100.0)) })
      .toDF("key", "amount")
      .write.parquet(targetPath)
    tgtCents.destroy()
  }

  def op(i: Int, t: Tracer): OpOutcome = {
    val t0 = System.nanoTime()
    val log = spark.read.parquet(logPath)
    val snapshot = t.span("cdc.apply_log")(
      t.mat(CdcOps.applyLogOf(log, "key", "lsn", "op", Seq("amount"))))
    t.span("sources.write_snapshot")(
      Sinks.writeSnapshot(snapshot.select(col("key"), col("last_amount").as("amount")),
        "key", lakePath, p.lakeBuckets))
    val src = spark.read.parquet(lakePath).select("key", "amount")
    val tgt = spark.read.parquet(targetPath)
    val digest = t.span("recon.bucket_digest")(
      t.mat(Reconcile.hashBucketDiffOf(src, tgt, "key", Digest.row, p.digestBuckets)))
    if (t.on) Digest.record(t, digest)
    val drilled = t.span("recon.drill_down")(
      Reconcile.drillDownOf(src, tgt, "key", "amount", digest.filter(!col("bucket_match")),
        p.digestBuckets).select("key", "diff_type").as[(Long, String)].collect().toSeq)
    val expected = planned.expected
    val bad1 = Truth.sameSet("drill-down", expected, drilled)
    val t1 = System.nanoTime()
    val diffed = t.span("recon.row_diff")(
      Reconcile.rowDiffOf(src, tgt, "key", "amount")
        .select("key", "diff_type").as[(Long, String)].collect().toSeq)
    val bad2 = Truth.sameSet("row diff", expected, diffed)
    t.release()
    t.gauge("events", p.events.toDouble)
    val t2 = System.nanoTime()
    OpOutcome((t1 - t0) / 1e9, (t2 - t0) / 1e9, p.events,
      drilled.toSet.intersect(expected).size.toDouble / expected.size, bad1 ++ bad2)
  }
}

object Backfill {
  final case class Params(events: Int = 2000000, keys: Int = 500000, deleteRate: Double = 0.05,
                          plantedPerKind: Int = 333, lakeBuckets: Int = 16,
                          digestBuckets: Int = 16384)

  final case class LogRow(key: Long, lsn: Long, op: String, amount: Double)

  /** Event j of the log. Key popularity is Zipf(1) over the key space
    * (log-uniform rank), scattered by a bijection so hot keys spread
    * over buckets. */
  def logRow(seed: Long, p: Params, j: Long): LogRow = {
    val rank = math.min(p.keys - 1L, math.exp(Gen.u01(Gen.h(seed, 21, j)) * math.log(p.keys.toDouble)).toLong - 1L)
    val key = java.lang.Math.floorMod(rank * 2654435761L + 7L, p.keys.toLong)
    val op = if (Gen.u01(Gen.h(seed, 22, j)) < p.deleteRate) "D" else "U"
    LogRow(key, j + 1, op, cents(seed, j) / 100.0)
  }

  private def cents(seed: Long, j: Long): Long = 100L + Gen.below(Gen.h(seed, 23, j), 10000000L)

  /** The target copy (cents per key, -1 when absent) and the divergences
    * it plants against the log's true latest state: live keys dropped
    * (missing_in_target), live keys with a changed amount
    * (value_mismatch) and keys outside the log (missing_in_source). */
  final case class Plan(targetCents: Array[Long], expected: Set[(Long, String)])

  def plan(seed: Long, p: Params): Plan = {
    val lastCents = Array.fill(p.keys + p.plantedPerKind)(-1L)
    var j = 0L
    while (j < p.events) {
      val r = logRow(seed, p, j)
      lastCents(r.key.toInt) = if (r.op == "D") -1L else cents(seed, j)
      j += 1
    }
    val live = (0 until p.keys).filter(k => lastCents(k) >= 0).toArray
    val order = Gen.permutation(seed, 24, live.length)
    val missing = order.take(p.plantedPerKind).map(live(_).toLong)
    val changed = order.slice(p.plantedPerKind, 2 * p.plantedPerKind).map(live(_).toLong)
    val extra = Array.tabulate(p.plantedPerKind)(e => p.keys.toLong + e)
    missing.foreach(k => lastCents(k.toInt) = -1L)
    changed.foreach(k => lastCents(k.toInt) += 100L)
    extra.foreach(k => lastCents(k.toInt) = 100L + Gen.below(Gen.h(seed, 25, k), 10000000L))
    Plan(lastCents,
      missing.map(k => (k, "missing_in_target")).toSet ++
        changed.map(k => (k, "value_mismatch")) ++
        extra.map(k => (k, "missing_in_source")))
  }
}
