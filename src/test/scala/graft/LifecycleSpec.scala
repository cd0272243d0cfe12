package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.fixtures.{FeedSink, FeedSource, Poll}
import graft.streaming.CdcStream
import graft.cdc.Reconcile

/** End-to-end reference lifecycle, composed from the already-tested
  * pieces (reference: manage.sh drives data_generator.py →
  * COPY-load → CDC replication → verify_replication.py:71-169 polls
  * and ladders count→digest→row, then the operator repairs):
  *
  *   FeedSink.genBatch/writeBatch → FeedSource.readFeedsStream →
  *   CdcStream.streamApplyToLakeOf → Poll.waitFor → count→digest→
  *   bucket→row ladder → repair plan applied → re-verify clean.
  *
  * The feed generator and reader (FeedSink, FeedSource) and the poll
  * loop (Poll.waitFor) are test fixtures in graft.fixtures: they stand
  * in for the reference's CSV generator and verifier loop around the
  * library's apply and reconcile.
  *
  * The replicated state is per-customer latest order (LWW upsert keyed
  * by customer_id, ordered by feed position) — the same apply semantics
  * the CDC sink runs, driven here from the CSV feed instead of the
  * events log. One test, full loop, no mocks: real CSV files on disk,
  * a real file-source stream, a real bucket-partitioned parquet lake.
  */
class LifecycleSpec extends SparkSpec {

  /** Feed rows → change events: event_id = ts_us is a strictly
    * increasing global feed position (batches are hours apart, row
    * timestamps advance one second per row), so LWW by event_id IS
    * feed order. */
  private def toChanges(feeds: DataFrame): DataFrame =
    feeds.select(
      unix_micros(col("timestamp")).as("event_id"),
      col("customer_id").as("user_id"),
      lit("U").as("op"),
      col("amount").as("value"),
      unix_micros(col("timestamp")).as("ts_us"))

  /** Expected per-customer latest state straight from the feed files —
    * what the target lake must converge to. */
  private def expected(feedDir: String): DataFrame =
    FeedSource.readFeeds(spark, feedDir)
      .groupBy(col("customer_id").as("user_id"))
      .agg(max_by(col("amount"), unix_micros(col("timestamp"))).as("amount"))

  test("full lifecycle: generate → stream-apply → poll → ladder → repair → re-verify") {
    val feedDir = tempDir("graft-e2e-feed")
    val lakePath = tempDir("graft-e2e-lake") + "/lake"
    val rows = 200

    def publish(b: Long): Unit =
      FeedSink.writeBatch(FeedSink.genBatch(spark, b, rows), feedDir, b)

    // One replication cycle: drain everything currently in the feed
    // directory into the lake (AvailableNow; LWW merge is idempotent, so
    // reprocessing already-applied batches is harmless).
    def cycle(): Unit = {
      CdcStream.streamApplyToLakeOf(spark,
        toChanges(FeedSource.readFeedsStream(spark, feedDir)), lakePath, 16)
      ()
    }

    def lakeState(): DataFrame =
      CdcStream.readLake(spark, lakePath)
        .select(col("user_id"), col("last_value").as("amount"))

    def ladderDiff(): Array[org.apache.spark.sql.Row] =
      Reconcile.rowDiffOf(expected(feedDir), lakeState(), "user_id", "amount")
        .collect()

    // ---- phase A: initial load replicates clean --------------------------
    (1L to 3L).foreach(publish)
    cycle()
    // batch_control view: every published batch landed COMPLETED
    val ledger = FeedSource.feedLedger(FeedSource.readFeeds(spark, feedDir))
      .collect().map(r => r.getAs[Long]("batch_id") ->
        ((r.getAs[Long]("row_count"), r.getAs[String]("status")))).toMap
    assert(ledger.keySet === Set(1L, 2L, 3L))
    assert(ledger.values.forall(_ === ((rows.toLong, "COMPLETED"))))
    assert(ladderDiff().isEmpty, "target must match source after initial load")

    // ---- phase B: source runs ahead; poll drives catch-up ----------------
    (4L to 6L).foreach(publish)
    val behind = ladderDiff()
    assert(behind.nonEmpty, "ladder must detect the un-replicated batches")
    // verify_replication's loop: re-check until replication completes; the
    // replicator (cycle) runs between polls. First poll sees the lag and
    // kicks a cycle; second poll observes convergence.
    val res = Poll.waitFor(
      () => if (ladderDiff().isEmpty) Some(true) else { cycle(); None },
      timeoutMs = 600000L, intervalMs = 1L)
    assert(res.isComplete)
    assert(res.asInstanceOf[Poll.Complete[Boolean]].polls === 2)

    // ---- phase C: corrupt the target; ladder localizes; repair closes ----
    val src = expected(feedDir).cache()
    val clean = lakeState().cache()
    val allKeys = clean.select("user_id").orderBy("user_id")
      .collect().map(_.getLong(0))
    val lost = allKeys.take(5)            // rows the target lost
    val drifted = allKeys.slice(5, 10)    // rows whose amount diverged
    val invented = Array(9000001L, 9000002L) // rows the target invented
    val corrupted = clean
      .filter(!col("user_id").isin(lost: _*))
      .withColumn("amount",
        when(col("user_id").isin(drifted: _*), col("amount") + 7.0)
          .otherwise(col("amount")))
      .unionByName(spark.range(2).select(
        (col("id") + 9000001L).as("user_id"), lit(1.0).as("amount")))

    // rung 1: count compare (cheapest alarm)
    assert(corrupted.count() !== src.count())
    // rung 2: bucketed digest compare — only some buckets implicated
    val digest = Reconcile.rowDigest(col("user_id"), col("amount"))
    val buckets = Reconcile.hashBucketDiffOf(src, corrupted, "user_id", digest, 16)
      .cache()
    val bad = buckets.filter(!col("bucket_match"))
    val nBad = bad.count()
    assert(nBad > 0 && nBad < 16, "corruption must implicate a strict subset of buckets")
    // rung 3: row drill-down restricted to the bad buckets finds exactly
    // the planted divergence
    val drill = Reconcile.drillDownOf(src, corrupted, "user_id", "amount", bad, 16)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(lost.forall(k => drill.get(k).contains("missing_in_target")))
    assert(drifted.forall(k => drill.get(k).contains("value_mismatch")))
    assert(invented.forall(k => drill.get(k).contains("missing_in_source")))
    assert(drill.size === lost.length + drifted.length + invented.length)

    // rung 4: repair plan from the full row diff (reconRepair's shape),
    // applied to the corrupted target
    val plan = Reconcile.rowDiffOf(src, corrupted, "user_id", "amount")
      .withColumn("repair_op",
        when(col("diff_type") === "missing_in_target", "INSERT")
          .when(col("diff_type") === "missing_in_source", "DELETE")
          .otherwise("UPDATE"))
      .select(col("key"), col("repair_op"),
        when(col("repair_op") =!= "DELETE", col("src_amount")).as("set_amount"))
      .cache()
    val deletes = plan.filter(col("repair_op") === "DELETE").select(col("key"))
    val upserts = plan.filter(col("repair_op") =!= "DELETE")
      .select(col("key").as("user_id"), col("set_amount").as("amount"))
    val repaired = corrupted
      .join(deletes.withColumnRenamed("key", "user_id"), Seq("user_id"), "left_anti")
      .join(upserts.withColumnRenamed("amount", "set_amount"), Seq("user_id"), "left")
      .select(col("user_id"), coalesce(col("set_amount"), col("amount")).as("amount"))
      .unionByName(upserts.join(corrupted.select("user_id"), Seq("user_id"), "left_anti"))

    // ---- re-verify: every rung green -------------------------------------
    assert(repaired.count() === src.count())
    val recheck = Reconcile.hashBucketDiffOf(src, repaired, "user_id", digest, 16)
    assert(recheck.filter(!col("bucket_match")).count() === 0)
    assert(Reconcile.rowDiffOf(src, repaired, "user_id", "amount").collect().isEmpty)
    Seq(src, clean, buckets, plan).foreach(_.unpersist())
  }
}
