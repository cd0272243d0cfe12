package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.CdcStream

/** Streaming crash-recovery proofs (the round-9 directive): the
  * reference's core promise is trustworthy replication under failure
  * (verify_replication.py exists to re-verify after crashes); graft's
  * streaming ops were oracle-equivalent under CLEAN runs, and these
  * specs prove the failure path too.
  *
  * 1. streamApplyToLake: a run is KILLED mid-stream in the worst-case
  *    window (bucket snapshot written, micro-batch offset NOT
  *    committed), restarted from the same checkpoint, and must (a)
  *    resume instead of reprocessing committed batches, and (b)
  *    converge to the bit-identical lake of an uninterrupted run —
  *    exactly-once semantics built from at-least-once foreachBatch +
  *    idempotent bucket overwrite + durable source offsets. The lake
  *    is the only apply state: the checkpoint holds no state store.
  *
  * 2. foldVersionedState: the versioned-swap digest state replayed
  *    under the crash-retry schedule that broke the round-8
  *    formulation (delete v(k-1) before commit): retry of an
  *    uncommitted batch must find an intact predecessor and rewrite
  *    the identical successor, keeping the accumulated digest exact.
  *
  * 3. dropDuplicatesWithinWatermark: Spark's OWN state store (the
  *    third recovery mechanism, distinct from the idempotent sink of
  *    #1 and the hand-rolled versioned parquet of #2) must come back
  *    from the checkpoint on restart. Duplicates are planted ACROSS
  *    the crash boundary — batch 2 re-delivers batch-0 event_ids — so
  *    a restart that lost the dedup state would visibly re-emit them.
  */
class RecoverySpec extends SparkSpec {

  /** A 4-file change-event feed (maxFilesPerTrigger=1 → 4 micro-
    * batches): overlapping keys across files, globally increasing
    * event_id, a few deletes, so LWW state genuinely spans batches. */
  private def writeFeed(): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-recovery-feed").toString
    (0 until 4).foreach { f =>
      (0 until 100).map { i =>
        val id = f * 1000L + i
        val key = (id * 7 % 50) + 1
        val op = if (id % 13 == 0) "D" else if (key % 5 == 0 && f == 0) "I" else "U"
        (id, key, op, (id % 997).toDouble / 10d, 1700000000000000L + id * 1000L)
      }.toDF("event_id", "user_id", "op", "value", "ts_us")
        .coalesce(1).write.parquet(s"$dir/f$f")
    }
    // one flat dir of files for the stream source
    val flat = java.nio.file.Files.createTempDirectory("graft-recovery-flat").toString
    val src = new java.io.File(dir)
    src.listFiles().foreach { d =>
      d.listFiles().filter(_.getName.endsWith(".parquet")).foreach { p =>
        java.nio.file.Files.copy(p.toPath,
          java.nio.file.Paths.get(flat, s"${d.getName}.parquet"))
      }
    }
    flat
  }

  private def feedStream(flat: String): DataFrame = {
    val schema = spark.read.parquet(flat).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(flat)
  }

  private def lakeRows(df: DataFrame): Set[(Long, Long, String, Double)] =
    df.collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("last_event_id"),
      r.getAs[String]("last_op"), r.getAs[Double]("last_value"))).toSet

  test("streamApplyToLake: kill after sink write pre-commit, restart from checkpoint == uninterrupted run") {
    val flat = writeFeed()
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

    // run A: uninterrupted reference
    val lakeA = tmp("graft-lakeA") + "/lake"
    val cleanRun = CdcStream.streamApplyToLakeOf(spark, feedStream(flat), lakeA, 16,
      Some(tmp("graft-ckA")), _ => ())

    // run B: crash in the worst-case window of batch 1 — the bucket
    // snapshot for batch 1 is already durable, its offset is not
    val lakeB = tmp("graft-lakeB") + "/lake"
    val ckB = tmp("graft-ckB")
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val thrown = intercept[Exception] {
      CdcStream.streamApplyToLakeOf(spark, feedStream(flat), lakeB, 16, Some(ckB),
        bid => if (bid == 1L) { crashed.set(true); sys.error("injected crash: after sink write, before offset commit") })
    }
    assert(crashed.get(), "the injected crash must have fired")
    assert(thrown.getMessage != null)

    // restart from the same checkpoint: must RESUME (batch 0 committed,
    // never reprocessed; batch 1 retried), and converge to run A's lake
    val seen = scala.collection.mutable.Set[Long]()
    val recovered = CdcStream.streamApplyToLakeOf(spark, feedStream(flat), lakeB, 16,
      Some(ckB), bid => { seen.synchronized { seen += bid }; () })
    assert(!seen.contains(0L),
      s"restart must resume from the checkpoint, not reprocess committed batch 0 (ran: $seen)")
    assert(seen.contains(1L), s"the uncommitted batch must be retried (ran: $seen)")
    assert(lakeRows(recovered) === lakeRows(cleanRun),
      "recovered lake must equal the uninterrupted run bit-for-bit")

    // and the lake equals the batch LWW ground truth computed directly
    val truth = spark.read.parquet(flat)
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("event_id"), col("op"), col("value")), col("event_id")).as("s"))
      .filter(col("s.op") =!= "D")
      .select(col("user_id"), col("s.event_id").as("last_event_id"),
        col("s.op").as("last_op"), col("s.value").as("last_value"))
    assert(lakeRows(recovered) === lakeRows(truth))
    // no stateful operator on the apply path: the checkpoint holds
    // offsets and commits only
    assert(!new java.io.File(ckB, "state").exists(),
      "streamApplyToLakeOf must not keep a state store in its checkpoint")
  }

  test("foldVersionedState: crash-retry schedule keeps the accumulated digest exact, GC stays bounded") {
    import spark.implicits._
    val stateBase = java.nio.file.Files.createTempDirectory("graft-fold-state").toString
    def partial(seed: Int): DataFrame =
      (0 until 8).map(b => (b, (seed * 10 + b).toLong, (seed * 1000 + b * 7).toLong))
        .toDF("bucket", "src_count", "src_digest")
    val cols = Seq("src_count", "src_digest")

    CdcStream.foldVersionedState(spark, stateBase, partial(1), 0L, cols)
    CdcStream.foldVersionedState(spark, stateBase, partial(2), 1L, cols)
    // batch 2 runs fully (fold + GC of v0) but its offset never commits…
    CdcStream.foldVersionedState(spark, stateBase, partial(3), 2L, cols)
    // …so the stream retries batch 2 after restart: the round-8
    // formulation had deleted v1 here and the retry silently reset the
    // state to partial(3) alone
    CdcStream.foldVersionedState(spark, stateBase, partial(3), 2L, cols)
    CdcStream.foldVersionedState(spark, stateBase, partial(4), 3L, cols)

    val got = CdcStream.latestVersionedState(spark, stateBase)
      .collect().map(r => r.getAs[Int]("bucket") ->
        ((r.getAs[Long]("src_count"), r.getAs[Long]("src_digest")))).toMap
    (0 until 8).foreach { b =>
      val expCount = (1 to 4).map(s => s * 10L + b).sum
      val expDigest = (1 to 4).map(s => s * 1000L + b * 7L).sum
      assert(got(b) === ((expCount, expDigest)), s"bucket $b")
    }
    // GC keeps at most the two newest versions
    val versions = new java.io.File(stateBase).listFiles()
      .map(_.getName).filter(_.startsWith("state_v")).sorted.toSeq
    assert(versions === Seq("state_v2", "state_v3"))
  }

  /** 4-file feed with duplicates planted ACROSS micro-batch
    * boundaries: file 2 re-delivers file 0's first 20 event_ids, file
    * 3 re-delivers file 1's first 20 — exact row copies, the
    * at-least-once redelivery shape dropDuplicatesWithinWatermark
    * exists to repair. All timestamps sit within ~1.1 s, far inside
    * the 1-hour watermark, so no dedup state is evicted mid-test. */
  private def writeDupFeed(): String = {
    import spark.implicits._
    def rows(ids: Seq[Long]) = ids.map { id =>
      (id, id * 7 % 50 + 1, if (id % 13 == 0) "D" else "U",
        (id % 997).toDouble / 10d, 1700000000000000L + id * 1000L)
    }
    val flat = java.nio.file.Files.createTempDirectory("graft-dup-feed").toString
    val files = Seq(
      rows(0L until 100L),
      rows(1000L until 1100L),
      rows(2000L until 2100L) ++ rows(0L until 20L),
      rows(3000L until 3100L) ++ rows(1000L until 1020L))
    files.zipWithIndex.foreach { case (rs, f) =>
      rs.toDF("event_id", "user_id", "op", "value", "ts_us")
        .coalesce(1).write.parquet(s"$flat/stage$f")
      val d = new java.io.File(s"$flat/stage$f")
      d.listFiles().filter(_.getName.endsWith(".parquet")).foreach { p =>
        java.nio.file.Files.move(p.toPath, java.nio.file.Paths.get(flat, s"f$f.parquet"))
      }
      d.listFiles().foreach(_.delete()); d.delete()
    }
    flat
  }

  /** One exactly-once dedup run: file source (1 file per micro-batch)
    * → watermark → dropDuplicatesWithinWatermark(event_id) →
    * idempotent per-batch partition overwrite (batch=<id> dirs, the
    * same retry discipline as the lake sink). `crashOn` throws after
    * the batch's output is durable but before its offset commits. */
  private def runDedupStream(flat: String, out: String, ck: String,
                             crashOn: Long => Unit): Seq[Long] = {
    val ran = scala.collection.mutable.ArrayBuffer[Long]()
    val schema = spark.read.parquet(flat).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(flat)
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.toDF().drop("ts").write.mode("overwrite")
          .parquet(s"$out/batch=$batchId")
        ran.synchronized { ran += batchId }
        crashOn(batchId)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    ran.toSeq
  }

  private def outIds(out: String): Seq[Long] = {
    val df = spark.read.parquet(out)
    val ids = df.select("event_id").collect().map(_.getLong(0)).toSeq
    assert(ids.distinct.size === ids.size, "output must carry no duplicate event_ids")
    ids.sorted
  }

  test("dropDuplicatesWithinWatermark: dedup state survives kill/restart — cross-crash duplicates still filtered") {
    val flat = writeDupFeed()
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

    // run A: uninterrupted reference
    val outA = tmp("graft-dedupA") + "/out"
    runDedupStream(flat, outA, tmp("graft-dedup-ckA"), _ => ())

    // run B: crash in the worst-case window of batch 1 (output durable,
    // offset not), restart from the same checkpoint
    val outB = tmp("graft-dedupB") + "/out"
    val ckB = tmp("graft-dedup-ckB")
    val thrown = intercept[Exception] {
      runDedupStream(flat, outB, ckB,
        bid => if (bid == 1L) sys.error("injected crash: after dedup output, before offset commit"))
    }
    assert(thrown.getMessage != null)
    val resumed = runDedupStream(flat, outB, ckB, _ => ())
    assert(!resumed.contains(0L),
      s"restart must resume from the checkpoint, not reprocess committed batch 0 (ran: $resumed)")
    assert(resumed.contains(1L), s"the uncommitted batch must be retried (ran: $resumed)")

    // recovered output == uninterrupted output == the feed's distinct
    // event_ids: batch 2's re-delivery of batch-0 ids (emitted BEFORE
    // the crash) is still filtered AFTER the restart, which is only
    // possible if the dedup state store came back from the checkpoint
    val truth = spark.read.parquet(flat)
      .select("event_id").distinct().collect().map(_.getLong(0)).toSeq.sorted
    assert(outIds(outB) === outIds(outA),
      "recovered output must equal the uninterrupted run's")
    assert(outIds(outB) === truth,
      "every planted duplicate must be dropped, every original kept")
  }
}
