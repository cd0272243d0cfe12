package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.streaming.{CdcStream, ChangeEvent}
import graft.cdc.CdcOps

class StreamingSpec extends SparkSpec {

  test("applyLatest over MemoryStream: per-key last-writer-wins across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[ChangeEvent]
    val q = CdcStream.applyLatest(spark, input.toDF())
      .writeStream.format("memory").queryName("t_apply")
      .outputMode(OutputMode.Update).start()
    // batch 1: key 1 insert + update; key 2 insert
    input.addData(ChangeEvent(1, 1, "I", 1.0, 0), ChangeEvent(3, 1, "U", 3.0, 2),
      ChangeEvent(2, 2, "I", 2.0, 1))
    q.processAllAvailable()
    // batch 2: key 2 delete; key 1 stale event (lower offset — must not win)
    input.addData(ChangeEvent(5, 2, "D", 0.0, 4), ChangeEvent(0, 1, "U", 9.0, 0))
    q.processAllAvailable()
    q.stop()
    val latest = spark.table("t_apply")
      .groupBy("user_id")
      .agg(max_by(struct(col("last_event_id"), col("last_op"), col("last_value")),
        col("last_event_id")).as("s"))
      .select(col("user_id"), col("s.last_event_id"), col("s.last_op"), col("s.last_value"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getDouble(3)))).toMap
    assert(latest(1L) === ((3L, "U", 3.0)))  // stale offset-0 event ignored
    assert(latest(2L) === ((5L, "D", 0.0)))  // tombstone emitted
  }

  test("attributeStream over MemoryStream: touch state carries across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.CdcStream.TouchEvent
    val input = MemoryStream[TouchEvent]
    val q = CdcStream.attributeStream(spark, input.toDF())
      .writeStream.format("memory").queryName("t_attr")
      .outputMode(OutputMode.Append).start()
    // batch 1: user 1 clicks then views; user 2 buys cold (DIRECT)
    input.addData(TouchEvent(1, 1, "click", 0.0), TouchEvent(2, 1, "view", 0.0),
      TouchEvent(3, 2, "purchase", 9.0))
    q.processAllAvailable()
    // batch 2: user 1 buys — first touch is batch-1's click, last is
    // batch-1's view (state crossed the batch boundary)
    input.addData(TouchEvent(4, 1, "purchase", 5.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t_attr").collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[String]("first_touch"), r.getAs[String]("last_touch")))).toMap
    assert(rows(3L) === (("DIRECT", "DIRECT")))
    assert(rows(4L) === (("click", "view")))
  }

  test("attributeStream out-of-order delivery: in-batch disorder repaired, cross-batch is seen-so-far") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.CdcStream.TouchEvent
    val input = MemoryStream[TouchEvent]
    val q = CdcStream.attributeStream(spark, input.toDF())
      .writeStream.format("memory").queryName("t_attr_ooo")
      .outputMode(OutputMode.Append).start()
    // batch 1 arrives SCRAMBLED (purchase first): the per-batch sort by
    // event_id must repair it — the purchase (id 7) attributes against
    // the click (2) and view (5) delivered after it in the same batch
    input.addData(TouchEvent(7, 1, "purchase", 5.0), TouchEvent(5, 1, "view", 0.0),
      TouchEvent(2, 1, "click", 0.0))
    q.processAllAvailable()
    // batch 2: a LATE touch (id 1, lower than everything already seen)
    // crosses the batch boundary out of order
    input.addData(TouchEvent(1, 1, "signup", 0.0))
    q.processAllAvailable()
    // batch 3: the next purchase sees the late touch as first-touch
    input.addData(TouchEvent(9, 1, "purchase", 3.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t_attr_ooo").collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[String]("first_touch"), r.getAs[String]("last_touch")))).toMap
    // in-batch disorder repaired by the sort
    assert(rows(7L) === (("click", "view")))
    // emissions are append-only: the late touch does NOT rewrite the
    // already-emitted attribution (seen-so-far semantics, same as the
    // CDC apply discipline) ...
    assert(rows.size === 2)
    // ... but it DOES update state for future purchases: min over touch
    // codes makes the late signup the first touch from here on
    assert(rows(9L) === (("signup", "view")))
  }

  test("stream_attribution replay matches the batch attribution matrix") {
    val streamed = CdcStream.streamAttribution(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n_conversions"), r.getAs[Double]("attributed_value")))).toMap
    val batch = graft.operators.Analytics.eventsAttribution(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n_conversions"), r.getAs[Double]("attributed_value")))).toMap
    assert(streamed === batch)
  }

  test("stream_recon_digest: incrementally maintained digest equals batch full-table compare") {
    val streamed = CdcStream.streamReconDigest(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("src_count"), r.getAs[Long]("src_digest"),
        r.getAs[Boolean]("bucket_match")))).toMap
    val batch = graft.cdc.Reconcile.reconHashBucket(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("src_count"), r.getAs[Long]("src_digest"),
        r.getAs[Boolean]("bucket_match")))).toMap
    assert(streamed === batch)
    // the planted drift is visible through the streamed state too
    assert(streamed.values.exists(!_._3))
  }

  test("stream_recon_incremental: watermark-sliced streaming fold equals batch incremental verify") {
    val streamed = CdcStream.streamReconIncremental(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("src_count"), r.getAs[Long]("src_digest"),
        r.getAs[Boolean]("bucket_match")))).toMap
    val batch = graft.cdc.Reconcile.reconIncremental(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("src_count"), r.getAs[Long]("src_digest"),
        r.getAs[Boolean]("bucket_match")))).toMap
    assert(streamed === batch)
    // the recent slice covers only the top key deciles: strictly fewer
    // rows than the full table flowed through the fold
    val sliceRows = streamed.values.map(_._1).sum
    val fullRows = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(sliceRows > 0 && sliceRows < fullRows)
  }

  test("stream_cdc_apply replay matches batch latest-state") {
    val streamed = CdcStream.streamCdcApply(spark, sf)
      .select("user_id", "last_event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = CdcOps.latestState(spark, sf)
      .select("user_id", "last_event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
  }

  test("stream_sessionize replay matches batch q12 sessionization") {
    val streamed = CdcStream.streamSessionize(spark, sf)
    val batch = graft.operators.Analytics.q12Sessionize(spark, sf)
    assert(streamed.count() === batch.count())
    val sTotal = streamed.agg(sum("n_events")).collect()(0).getLong(0)
    val bTotal = batch.agg(sum("n_events")).collect()(0).getLong(0)
    assert(sTotal === bTotal)
  }

  test("dropDuplicatesWithinWatermark: duplicate offsets dropped across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[ChangeEvent]
    // bypass dedupDeliveries' planted-dup union — feed explicit duplicates
    val deduped = input.toDF()
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream.format("memory").queryName("t_dedup")
      .outputMode(OutputMode.Append).start()
    // ts well past epoch 0 — a row at the initial watermark (0) would be
    // treated as late and dropped outright
    val h = 3600L * 1000000L
    input.addData(ChangeEvent(1, 1, "I", 1.0, 10 * h), ChangeEvent(2, 2, "I", 2.0, 10 * h + 1))
    q.processAllAvailable()
    // second delivery of offset 1 in a later micro-batch, within watermark
    input.addData(ChangeEvent(1, 1, "I", 1.0, 10 * h), ChangeEvent(3, 3, "I", 3.0, 10 * h + 2))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("t_dedup").select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L))
  }

  test("stream_dedup replay: per-op counts equal the unduplicated log") {
    val res = CdcStream.streamDedup(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = graft.core.Tables.events(spark, sf)
      .withColumn("op", CdcOps.opCode(col("event_type")))
      .groupBy("op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(res === batch)
  }

  test("stream_window_agg replay: per-op totals match batch counts") {
    val streamed = CdcStream.streamWindowAgg(spark, sf)
    // each event lands in exactly 2 sliding windows (1 day / 12 h hop)
    val totals = streamed.groupBy("op").agg(sum("n_changes").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = graft.core.Tables.events(spark, sf)
      .withColumn("op", CdcOps.opCode(col("event_type")))
      .groupBy("op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    batch.foreach { case (op, n) => assert(totals(op) === 2 * n, s"op $op") }
  }
  test("stream_enrich: stream-static join equals the batch join after replay") {
    val streamed = CdcStream.streamEnrich(spark, sf)
    val batch = CdcStream.enrichCounts(spark, sf)(
      CdcStream.toChangeEvents(graft.core.Tables.events(spark, sf)
        .withColumn("ts", expr("unix_micros(ts) * 1000"))))
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("streamApplyToLake: lake snapshot equals batch apply after full replay") {
    val out = java.nio.file.Files.createTempDirectory("graft-lake").toString + "/snap"
    val lake = CdcStream.streamApplyToLake(spark, sf, out)
      .select(col("user_id"), col("last_event_id"))
    val batch = CdcOps.applyUpsertDelete(spark, sf)
      .select(col("user_id"), col("last_event_id"))
    assert(lake.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(lake).count() === 0)
    // idempotent retry: re-running against the existing snapshot is a no-op
    val again = CdcStream.streamApplyToLake(spark, sf, out)
      .select(col("user_id"), col("last_event_id"))
    assert(again.exceptAll(batch).count() === 0 && batch.exceptAll(again).count() === 0)
  }

  test("streamApplyToLakeOf: tombstones delete lone keys, survive stale updates, seed a fresh lake") {
    import spark.implicits._
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    // one feed directory per call: every call drains exactly its events
    def applyTo(lake: String, events: ChangeEvent*): Set[(Long, Long, String)] = {
      val feed = tmp("graft-tomb-feed") + "/f"
      events.toDF().coalesce(1).write.parquet(feed)
      val stream = spark.readStream.schema(events.toDF().schema).parquet(feed)
      CdcStream.streamApplyToLakeOf(spark, stream, lake).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("last_event_id"),
          r.getAs[String]("last_op"))).toSet
    }
    // precondition: key 1 is the only one of {1, 2, 3} in its bucket
    val bucketOf = Seq(1L, 2L, 3L).toDF("k")
      .select(col("k"), pmod(xxhash64(col("k")), lit(16L))).as[(Long, Long)]
      .collect().toMap
    assert(bucketOf(1L) != bucketOf(2L) && bucketOf(1L) != bucketOf(3L))

    // (b) an empty and then a delete-only first micro-batch on a fresh
    // lake both succeed
    val fresh = tmp("graft-tomb-fresh") + "/lake"
    assert(applyTo(fresh).isEmpty)
    assert(applyTo(fresh, ChangeEvent(7, 1, "D", 0.0, 7)).isEmpty)

    val lake = tmp("graft-tomb-lake") + "/lake"
    assert(applyTo(lake, ChangeEvent(1, 1, "I", 1.0, 1), ChangeEvent(2, 2, "I", 2.0, 2),
      ChangeEvent(3, 3, "I", 3.0, 3)) === Set((1L, 1L, "I"), (2L, 2L, "I"), (3L, 3L, "I")))
    // (a) deleting the lone key of a bucket removes it
    assert(applyTo(lake, ChangeEvent(10, 1, "D", 0.0, 10)) === Set((2L, 2L, "I"), (3L, 3L, "I")))
    // (c) a later-arriving update with a lower offset than the delete
    // must not resurrect the key
    assert(applyTo(lake, ChangeEvent(5, 1, "U", 5.0, 5)) === Set((2L, 2L, "I"), (3L, 3L, "I")))
    // the lake keeps the tombstone; direct readers filter it
    assert(spark.read.parquet(lake).filter(col("user_id") === 1L)
      .select("last_event_id", "last_op").as[(Long, String)].collect().toSeq === Seq((10L, "D")))
  }

  test("stream_scd2: replayed live history equals the batch SCD2 bit-for-bit") {
    val streamed = CdcStream.streamScd2(spark, sf)
    val batch = CdcOps.scd2History(spark, sf)
      .select(col("user_id"), col("version").cast("long").as("version"),
        col("valid_from_id"), col("valid_to_id"), col("op"), col("value"),
        col("is_current"))
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("stream_funnel: replayed live funnel equals the batch funnel bit-for-bit") {
    val streamed = CdcStream.streamFunnel(spark, sf)
    val batch = graft.operators.Analytics.eventsFunnel(spark, sf)
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("funnelCounts over MemoryStream: stage gating respects event-time order within a batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.CdcStream.FunnelEvent
    val input = MemoryStream[FunnelEvent]
    // feed `ts` as a session-zone timestamp to exercise that decoding arm
    val q = CdcStream.funnelCounts(spark,
        input.toDF().withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us"))
      .writeStream.format("memory").queryName("funnel_mem_sink")
      .outputMode(OutputMode.Update).trigger(Trigger.AvailableNow())
    // user 1 arrives DISORDERED: purchase before click before signup in
    // arrival order — the in-batch event-time sort must still convert;
    // user 2's purchase has no prior click and must NOT convert
    input.addData(
      FunnelEvent(3L, 1L, "purchase", 3000000L),
      FunnelEvent(2L, 1L, "click", 2000000L),
      FunnelEvent(1L, 1L, "signup", 1000000L),
      FunnelEvent(10L, 2L, "signup", 1000000L),
      FunnelEvent(11L, 2L, "purchase", 2000000L))
    val run = q.start(); run.awaitTermination()
    val out = spark.table("funnel_mem_sink")
      .groupBy(col("user_id"))
      .agg(max_by(col("funnel_stage"), col("n_events")).as("stage"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 3L, "disordered batch must fully convert after the sort")
    assert(out(2L) == 1L, "purchase without a prior click must not convert")
    spark.catalog.dropTempView("funnel_mem_sink")
  }


  test("stream_near_dedup: streamed pair set equals the batch dedup_minhash at sub-cap scale") {
    import graft.operators.Dedup
    import graft.streaming.CdcStream
    val streamed = CdcStream.streamNearDedup(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Long]("n_shared_bands")))
      .toSet
    val batch = Dedup.dedupMinhash(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Long]("n_shared_bands")))
      .toSet
    // below StreamBucketCap the index-cap and drop-whole semantics
    // coincide, so the streaming detector must reproduce the batch op
    // exactly, shared-band counts included
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // the planted exact copies (doc_id%17 -> +1_000_000) must be caught
    val pairKeys = streamed.map(t => (t._1, t._2))
    val planted = graft.core.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id")).collect()
      .map(_.getLong(0)).filter(_ % 17 == 0)
      .map(id => (id, id + 1000000L))
    planted.foreach(p => assert(pairKeys.contains(p), s"planted exact copy $p missed"))
  }

  test("stream_knn: streamed retrieval equals batch knn_brute bit-for-bit") {
    import graft.operators.Similarity
    import graft.streaming.CdcStream
    val streamed = CdcStream.streamKnn(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("knn_rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim")))
      .toSet
    val batch = Similarity.knnBrute(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("knn_rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim")))
      .toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("stream_knn_lsh: index-backed serving equals batch knn_lsh and is batching-invariant") {
    import graft.operators.Similarity
    import graft.streaming.CdcStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("knn_rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"))).toSet
    val batch = keyed(Similarity.knnLsh(spark, sf).collect())
    // full replay (single AvailableNow batch) reproduces the batch index
    val streamed = keyed(CdcStream.streamKnnLsh(spark, sf).collect())
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // batching invariance: the same queries split across two
    // micro-batches produce the identical pair set
    val queries = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") % 100 === 0 && col("vec_id") < 10000L)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    assert(queries.length >= 3)
    val input = MemoryStream[(Long, Seq[Float])]
    val q = Similarity.knnLshServe(spark, sf)(
      input.toDS().toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("t_knn_lsh")
      .outputMode(OutputMode.Append).start()
    val (b1, b2) = queries.splitAt(queries.length / 2)
    input.addData(b1.toSeq); q.processAllAvailable()
    input.addData(b2.toSeq); q.processAllAvailable()
    q.stop()
    val split = keyed(spark.table("t_knn_lsh").collect())
    spark.catalog.dropTempView("t_knn_lsh")
    assert(split === batch)
  }

  test("stream_knn_ivfpq: IVF+PQ serving equals batch knn_ivfpq and is batching-invariant") {
    import graft.operators.Similarity
    import graft.streaming.CdcStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("knn_rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"))).toSet
    val batch = keyed(Similarity.knnIvfPq(spark, sf).collect())
    // full replay (single AvailableNow batch) reproduces the batch index
    val streamed = keyed(CdcStream.streamKnnIvfPq(spark, sf).collect())
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // batching invariance: the same queries split across two
    // micro-batches produce the identical result set
    val queries = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") % 100 === 0 && col("vec_id") < 10000L)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    assert(queries.length >= 3)
    val input = MemoryStream[(Long, Seq[Float])]
    val q = Similarity.knnIvfPqServe(spark, sf)(
      input.toDS().toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("t_knn_ivfpq")
      .outputMode(OutputMode.Append).start()
    val (b1, b2) = queries.splitAt(queries.length / 2)
    input.addData(b1.toSeq); q.processAllAvailable()
    input.addData(b2.toSeq); q.processAllAvailable()
    q.stop()
    val split = keyed(spark.table("t_knn_ivfpq").collect())
    spark.catalog.dropTempView("t_knn_ivfpq")
    assert(split === batch)
  }

  test("stream_knn_ivfpq: probed-cell index join is code-width (no exact vectors pre-shortlist)") {
    // the serving contract the operator exists for: the static side of
    // the cent_id equi-join — the per-query candidate scan — carries
    // ONLY (cent_id, neighbor_id, code_pack); exact vectors (v, nrm)
    // may join in only after the ADC shortlist, the batch knnIvfPq's
    // own post-shortlist discipline
    import graft.operators.Similarity
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val input = MemoryStream[(Long, Seq[Float])]
    val df = Similarity.knnIvfPqServe(spark, sf)(
      input.toDS().toDF("vec_id", "embedding"))
    val cellJoins = df.queryExecution.analyzed.collect {
      case j: Join if j.condition.exists(_.references.exists(_.name == "cent_id")) => j
    }
    assert(cellJoins.nonEmpty)
    cellJoins.foreach { j =>
      val static = if (j.left.isStreaming) j.right else j.left
      assert(static.output.map(_.name).toSet === Set("cent_id", "neighbor_id", "code_pack"))
    }
  }

  test("stream_quality_gate: streamed gate equals the batch quality rules") {
    import graft.streaming.CdcStream
    val streamed = CdcStream.streamQualityGate(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("quality_class"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_words")))
      .toSet
    val batch = CdcStream.qualityGateCounts(
      spark.read.parquet(s"$sf/documents.parquet")).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("quality_class"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_words")))
      .toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // all three classes must be exercised by the gate corpus or the
    // thresholds aren't doing anything at this SF
    assert(streamed.map(_._2).subsetOf(Set("TOO_SHORT", "BOILERPLATE", "OK")))
  }

  test("stream_sample: arrival-order-invariant reservoir equals the batch hash rank") {
    import graft.streaming.CdcStream
    val streamed = CdcStream.streamSample(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("hk")))
    // independent batch recompute: bottom-K (hash, id) per source
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val expected = docs.groupBy(_._1).toSeq.flatMap { case (src, ds) =>
      ds.map { case (_, id) => (id * 2654435741L % 1000000007L, id) }
        .sorted.take(CdcStream.StreamSampleK).zipWithIndex
        .map { case ((hk, id), i) => (src, i + 1L, id, hk) }
    }.toSet
    assert(streamed.toSet === expected)
    // every source is represented with at most K rows, ranks contiguous
    streamed.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.length <= CdcStream.StreamSampleK)
      assert(rs.map(_._2).sorted.toSeq === (1L to rs.length).toSeq)
    }
  }

  test("stream_chunk_index: ingest-time chunks equal batch text_chunks bit-for-bit") {
    import graft.streaming.CdcStream
    import graft.operators.TextAnalysis
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"),
        r.getAs[Long]("tok_start"), r.getAs[Long]("n_toks"), r.getAs[Long]("chunk_fp")))
      .toSet
    val streamed = rows(CdcStream.streamChunkIndex(spark, sf))
    val batch = rows(TextAnalysis.textChunks(spark, sf))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }
}
