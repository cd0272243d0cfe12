package graft

import org.apache.spark.sql.functions._
import graft.sources.{DebeziumJson, KafkaSource}
import graft.fixtures.{FeedSink, FeedSource}
import graft.cdc.CdcOps

class SourcesSpec extends SparkSpec {

  private def env(op: String, before: String, after: String, lsn: Long): String =
    s"""{"before":$before,"after":$after,
       |"source":{"lsn":$lsn,"ts_ms":1700000000000,"db":"sourcedb","schema":"public","table":"orders"},
       |"op":"$op","ts_ms":${1700000000000L + lsn}}""".stripMargin.replace("\n", "")

  private def row(id: Long, cust: Long, amt: Double): String =
    s"""{"order_id":$id,"customer_id":$cust,"amount":$amt,"timestamp":"2024-01-01 00:00:00","batch_id":"b1"}"""

  test("parseEnvelope: c/u/d/r ops, key from after or before, LSN order feeds latestStateOf") {
    import spark.implicits._
    val events = Seq(
      env("c", "null", row(1, 10, 5.0), 100),
      env("u", row(1, 10, 5.0), row(1, 10, 7.5), 200),
      env("r", "null", row(2, 20, 9.0), 50),   // snapshot read
      env("d", row(2, 20, 9.0), "null", 300)   // delete: key from before
    ).toDF("value")
    val parsed = DebeziumJson.parseEnvelope(events, "value", DebeziumJson.ordersRow, "order_id")
    val byKey = parsed.collect().groupBy(_.getAs[Long]("key"))
    assert(byKey(1L).map(_.getAs[String]("op")).toSet === Set("I", "U"))
    assert(byKey(2L).map(_.getAs[String]("op")).toSet === Set("I", "D"))

    // last-writer-wins by LSN then drop deleted keys = applied snapshot
    val snapshot = CdcOps.applyLogOf(
      parsed.withColumn("amount", col("payload.amount")), "key", "lsn", "op", Seq("amount"))
      .collect().map(r => r.getAs[Long]("key") -> r.getAs[Double]("last_amount")).toMap
    assert(snapshot === Map(1L -> 7.5)) // key 2 deleted at lsn 300
  }

  test("Sinks.writeSnapshot: bucket-partitioned, idempotent overwrite, readable") {
    import spark.implicits._
    val out = tempDir("graft-sink")
    val snap = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    graft.sources.Sinks.writeSnapshot(snap, "k", out, 4)
    graft.sources.Sinks.writeSnapshot(snap, "k", out, 4) // idempotent rerun
    val back = spark.read.parquet(out)
    assert(back.count() === 3)
    assert(back.columns.contains("_bucket"))
    assert(back.select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("FeedSource: reads batch feed files, ledger counts + corrupt quarantine") {
    val dir = java.nio.file.Paths.get(tempDir("graft-feeds"))
    java.nio.file.Files.writeString(dir.resolve("orders_batch_1.csv"),
      "customer_id,amount,timestamp\n10,5.5,2024-01-01 00:00:00\n11,6.5,2024-01-01 00:01:00\n")
    java.nio.file.Files.writeString(dir.resolve("orders_batch_2.csv"),
      "customer_id,amount,timestamp\n12,7.5,2024-01-02 00:00:00\nBADROW,not_a_number\n")
    val feeds = FeedSource.readFeeds(spark, dir.toString)
    val ledger = FeedSource.feedLedger(feeds).collect()
      .map(r => r.getAs[Long]("batch_id") ->
        ((r.getAs[Long]("row_count"), r.getAs[Long]("corrupt_rows"), r.getAs[String]("status")))).toMap
    assert(ledger(1L) === ((2L, 0L, "COMPLETED")))
    assert(ledger(2L)._2 >= 1L)
    assert(ledger(2L)._3 === "FAILED")
  }

  test("FeedSink: generated batches round-trip through FeedSource with a clean ledger") {
    val dir = tempDir("graft-feedsink")
    val b1 = FeedSink.genBatch(spark, 1L, 100)
    val b2 = FeedSink.genBatch(spark, 2L, 50)
    val p1 = FeedSink.writeBatch(b1, dir, 1L)
    FeedSink.writeBatch(b2, dir, 2L)
    assert(p1.endsWith("orders_batch_1.csv"))
    // determinism: regenerating and republishing is byte-identical
    FeedSink.writeBatch(FeedSink.genBatch(spark, 1L, 100), dir, 1L)
    val ledger = FeedSource.feedLedger(FeedSource.readFeeds(spark, dir)).collect()
      .map(r => r.getAs[Long]("batch_id") ->
        ((r.getAs[Long]("row_count"), r.getAs[Long]("corrupt_rows"), r.getAs[String]("status")))).toMap
    assert(ledger(1L) === ((100L, 0L, "COMPLETED")))
    assert(ledger(2L) === ((50L, 0L, "COMPLETED")))
    // generated values honor the reference generator's domains
    val rng = b1.agg(min(col("customer_id")), max(col("customer_id")),
      min(col("amount")), max(col("amount"))).collect()(0)
    assert(rng.getLong(0) >= 1L && rng.getLong(1) <= 1000L)
    assert(rng.getDouble(2) >= 10.0 && rng.getDouble(3) <= 1000.0)
    // an empty batch publishes the header-only file (not a crash); the
    // row-derived ledger reads zero rows from it, so the batch simply
    // contributes nothing — and the other ledgers stay intact
    val p3 = FeedSink.writeBatch(FeedSink.genBatch(spark, 3L, 0), dir, 3L)
    assert(p3.endsWith("orders_batch_3.csv"))
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(p3))
      === "customer_id,amount,timestamp\n")
    val after = FeedSource.feedLedger(FeedSource.readFeeds(spark, dir)).collect()
      .map(r => r.getAs[Long]("batch_id") -> r.getAs[Long]("row_count")).toMap
    assert(after === Map(1L -> 100L, 2L -> 50L))
  }

  test("readFeedsStream: streamed feed ledger equals the batch ledger") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val dir = tempDir("graft-feedstream")
    (1L to 3L).foreach(b =>
      FeedSink.writeBatch(FeedSink.genBatch(spark, b, 40 + 10 * b.toInt), dir, b))
    val q = FeedSource.feedLedger(FeedSource.readFeedsStream(spark, dir))
      .writeStream.format("memory").queryName("t_feed_ledger")
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("t_feed_ledger").collect()
      .map(r => r.getAs[Long]("batch_id") ->
        ((r.getAs[Long]("row_count"), r.getAs[String]("status")))).toMap
    val batch = FeedSource.feedLedger(FeedSource.readFeeds(spark, dir)).collect()
      .map(r => r.getAs[Long]("batch_id") ->
        ((r.getAs[Long]("row_count"), r.getAs[String]("status")))).toMap
    assert(streamed === batch)
    assert(streamed(2L) === ((60L, "COMPLETED")))
  }

  test("KafkaSource: option assembly + binary frame decode feeds the Debezium parse") {
    import spark.implicits._
    val opts = KafkaSource.options("broker:9092", "dbserver1\\.public\\..*")
    assert(opts("subscribePattern") === "dbserver1\\.public\\..*")
    assert(opts("startingOffsets") === "earliest")
    assert(opts("maxOffsetsPerTrigger") === "1000000")
    // raw frame shaped like the kafka source's output (binary key/value)
    val payload = """{"op":"c","after":{"user_id":7,"value":1.5},"source":{"lsn":42},"ts_ms":1700000000000}"""
    val raw = Seq(("dbserver1.public.orders", 0, 5L,
      """{"user_id":7}""".getBytes("UTF-8"), payload.getBytes("UTF-8")))
      .toDF("topic", "partition", "offset", "key", "value")
    val dec = KafkaSource.decoded(raw).collect().head
    assert(dec.getAs[String]("value_json") === payload)
    assert(dec.getAs[Long]("offset") === 5L)
    // and the decoded value parses through the standard envelope path
    val row = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    val parsed = DebeziumJson.parseEnvelope(
      KafkaSource.decoded(raw), "value_json", row, "user_id").collect().head
    assert(parsed.getAs[String]("op") === "I") // create normalizes to insert
    assert(parsed.getAs[Long]("key") === 7L)
  }
}
