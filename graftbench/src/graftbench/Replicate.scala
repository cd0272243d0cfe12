package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.Reconcile
import graft.sources.DebeziumJson
import graft.streaming.CdcStream

/** The reference's catch-up replication loop. Setup loads an initial
  * lake of `initialKeys` orders through the streaming apply with a
  * durable checkpoint. Each cycle publishes one file of Debezium
  * envelopes (a few events withheld as lost in transit), parses and
  * applies it with one AvailableNow run on the same checkpoint,
  * reconciles the touched keys against the generator's source truth
  * (which must report exactly the withheld keys) and polls the health
  * report.
  *
  * Cycle i is a pure function of (seed, i): it deletes the `churn`
  * oldest live keys, creates `churn` new ones and updates `updates`
  * others, so the live key set is the sliding window
  * [i·churn, initialKeys + i·churn) and the lake keeps its size. Each
  * key appears at most once per cycle, so the touched keys' truth needs
  * no history: a key withheld earlier is healed by its next event. */
final class Replicate(spark: SparkSession, dir: String, seed: Long,
                      p: Replicate.Params = Replicate.Params()) extends Workload {
  import Replicate._
  import spark.implicits._

  private val feed = s"$dir/feed"
  private val lakePath = s"$dir/lake"
  private val checkpoint = s"$dir/checkpoint"

  private def publish(name: String, events: Iterator[Ev]): Unit = {
    val tmp = Paths.get(dir, "staging", name)
    Files.createDirectories(tmp.getParent)
    Files.createDirectories(Paths.get(feed))
    val w = Files.newBufferedWriter(tmp, UTF_8)
    try events.foreach { e => w.write(envelope(e)); w.write('\n') } finally w.close()
    Files.move(tmp, Paths.get(feed, name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Drain everything published so far into the lake. */
  private def apply(t: Tracer): DataFrame = {
    val raw = spark.readStream.text(feed)
    val parsed = t.span("sources.parse")(
      DebeziumJson.parseEnvelope(raw, "value", DebeziumJson.ordersRow, "order_id"))
    val events = parsed.select(
      col("lsn").as("event_id"), col("key").as("user_id"), col("op"),
      coalesce(col("payload.amount"), lit(0.0)).as("value"),
      (col("ts_ms") * 1000L).as("ts_us"))
    t.span("streaming.apply")(
      CdcStream.streamApplyToLakeOf(spark, events, lakePath, p.lakeBuckets, Some(checkpoint), _ => ()))
  }

  def setup(): Unit = {
    publish("initial.json", Iterator.range(0, p.initialKeys).map(k => initialEvent(seed, k.toLong)))
    apply(new Tracer(false, spark, null, "replicate"))
  }

  def op(i: Int, t: Tracer): OpOutcome = {
    val t0 = System.nanoTime()
    val (published, withheld) = cycle(seed, p, i)
    t.span("bench.publish")(publish(f"cycle-$i%06d.json", published.iterator))
    val lake = apply(t)

    val touched = published ++ withheld
    val srcRows = touched.filter(_.op != 'd').map(e => (e.key, amount(e))).toSeq
    val src = srcRows.toDF("key", "amount")
    val keys = touched.map(_.key).toSeq.toDF("key")
    val tgt = lake.join(broadcast(keys), lake("user_id") === keys("key"), "left_semi")
      .select(col("user_id").as("key"), col("last_value").as("amount"))
    val digest = t.span("recon.bucket_digest")(
      t.mat(Reconcile.hashBucketDiffOf(src, tgt, "key", Digest.row, p.digestBuckets)))
    if (t.on) Digest.record(t, digest)
    val bad = digest.filter(!col("bucket_match"))
    val drilled = t.span("recon.drill_down")(
      Reconcile.drillDownOf(src, tgt, "key", "amount", bad, p.digestBuckets)
        .select("key", "diff_type").as[(Long, String)].collect().toSeq)
    val expected = withheld.map(e => (e.key, diffOf(e))).toSet
    val bad1 = Truth.sameSet(s"cycle $i drill-down", expected, drilled)
    val t1 = System.nanoTime()

    val health = t.span("recon.health")(
      Reconcile.multiTableHealthOf(Seq(("orders", lake, "last_event_id")))
        .select("table_name", "completion_lsn").as[(String, Long)].collect().toSeq)
    val lastLsn = published.filter(_.op != 'd').map(_.lsn).max
    val bad2 = Truth.sameSet(s"cycle $i health", Set(("orders", lastLsn)), health)
    t.release()
    if (t.on) {
      t.gauge("events", published.length.toDouble)
      t.gauge("buckets_touched_ratio",
        published.map(e => Gen.lakeBucket(e.key, p.lakeBuckets)).distinct.length.toDouble / p.lakeBuckets)
    }
    val t2 = System.nanoTime()
    OpOutcome((t1 - t0) / 1e9, (t2 - t0) / 1e9, published.length,
      drilled.toSet.intersect(expected).size.toDouble / expected.size, bad1 ++ bad2)
  }
}

object Replicate {
  final case class Params(initialKeys: Int = 100000, churn: Int = 2000, updates: Int = 6000,
                          withheldPerOp: Int = 2, lakeBuckets: Int = 16, digestBuckets: Int = 64)

  /** One source change: op is r (snapshot read), c, u or d. */
  final case class Ev(key: Long, op: Char, lsn: Long, cents: Long)

  def amount(e: Ev): Double = e.cents / 100.0

  private def cents(seed: Long, lsn: Long): Long = 100L + Gen.below(Gen.h(seed, 14, lsn), 10000000L)

  def initialEvent(seed: Long, key: Long): Ev = Ev(key, 'r', key + 1, cents(seed, key + 1))

  /** The diff the reconcile must report for a withheld event. */
  def diffOf(e: Ev): String = e.op match {
    case 'c' => "missing_in_target"
    case 'u' => "value_mismatch"
    case _   => "missing_in_source"
  }

  /** Cycle i's events in LSN order: (published, withheld). The withheld
    * events, `withheldPerOp` each of c, u and d, fall in distinct digest
    * buckets. */
  def cycle(seed: Long, p: Params, i: Int): (Array[Ev], Array[Ev]) = {
    val n0 = p.initialKeys.toLong
    val c = p.churn.toLong
    val perCycle = 2 * p.churn + p.updates
    val range = n0 - c // live keys that survive this cycle's deletes
    val off = Gen.below(Gen.h(seed, 11, i), range)
    var step = 1 + 2 * Gen.below(Gen.h(seed, 12, i), range / 2)
    while (BigInt(step).gcd(BigInt(range)) != 1) step += 2
    val planned: Array[(Long, Char)] =
      Array.tabulate(p.churn)(j => (n0 + i * c + j, 'c')) ++
        Array.tabulate(p.churn)(j => (i * c + j, 'd')) ++
        Array.tabulate(p.updates)(j => (i * c + c + (off + j * step) % range, 'u'))
    val order = Gen.permutation(seed, (13L << 32) | i, perCycle)
    val lsn0 = n0 + i.toLong * perCycle + 1
    val events = Array.tabulate(perCycle) { idx =>
      val (k, op) = planned(order(idx))
      Ev(k, op, lsn0 + idx, cents(seed, lsn0 + idx))
    }
    val pick = Gen.permutation(seed, (17L << 32) | i, perCycle)
    val usedBuckets = scala.collection.mutable.Set.empty[Long]
    val quota = scala.collection.mutable.Map('c' -> p.withheldPerOp, 'u' -> p.withheldPerOp,
      'd' -> p.withheldPerOp)
    val withheld = scala.collection.mutable.Set.empty[Int]
    pick.foreach { idx =>
      val e = events(idx)
      val b = java.lang.Math.floorMod(e.key, p.digestBuckets.toLong)
      if (quota(e.op) > 0 && !usedBuckets(b)) {
        quota(e.op) -= 1; usedBuckets += b; withheld += idx
      }
    }
    val (w, pub) = events.indices.partition(withheld)
    (pub.map(events).toArray, w.map(events).toArray)
  }

  /** One Debezium JsonConverter envelope. Deletes carry only the key in
    * their before-image, as with the default replica identity. */
  def envelope(e: Ev): String = {
    val ts = 1700000000000L + e.lsn
    val row =
      if (e.op == 'd')
        s"""{"order_id":${e.key},"customer_id":null,"amount":null,"timestamp":null,"batch_id":null}"""
      else
        s"""{"order_id":${e.key},"customer_id":${e.key % 10007},"amount":${java.lang.Double.toString(amount(e))},""" +
          s""""timestamp":"${java.time.Instant.ofEpochMilli(ts)}","batch_id":"b${e.lsn / 100000}"}"""
    val (before, after) = if (e.op == 'd') (row, "null") else ("null", row)
    s"""{"before":$before,"after":$after,"source":{"lsn":${e.lsn},"ts_ms":$ts,""" +
      s""""db":"source","schema":"public","table":"orders"},"op":"${e.op}","ts_ms":$ts}"""
  }
}
