package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** One change event off the stream (ts in epoch micros). */
case class ChangeEvent(event_id: Long, user_id: Long, op: String, value: Double, ts_us: Long)

/** A CDC lake row: a key's latest change (tombstone when `last_op = 'D'`). */
case class KeyState(user_id: Long, last_event_id: Long, last_op: String, last_value: Double)

/** One MinHash band-bucket row of a streaming document. */
case class BandRow(doc_id: Long, band_id: Int, band_hash: Long)

/** Per-(band, hash) bucket memory for streaming near-dup: the first
  * [[graft.operators.Dedup.StreamBucketCap]] arrivals. */
case class BandBucketState(members: List[Long])

/** A same-bucket candidate hit emitted when the later doc arrives.
  * Carries no band column: a doc has exactly one hash per band, so a
  * pair meets in at most one bucket per band and emits AT MOST ONCE
  * per shared band — the confirm rule's countDistinct(band) is
  * therefore a plain count of these rows, and dropping the column
  * cuts a third of the sink bytes at sf10's 36M-hit volume. */
case class BandPairHit(doc_a: Long, doc_b: Long)

/** Per-key churn counters maintained across micro-batches. */
case class ChurnState(user_id: Long, n_changes: Long, n_inserts: Long,
                      n_updates: Long, n_deletes: Long,
                      first_offset: Long, last_offset: Long)

/** Per-key inter-event-gap accumulators maintained across micro-batches
  * (stream_burstiness): exact integral-second gap sums + the last seen
  * event-time so the next batch's first gap bridges the batch boundary. */
case class BurstState(user_id: Long, n_gaps: Long, sx: Long, sxx: Long,
                      last_ms: Long, n_events: Long)

/** Structured-streaming CDC (SURVEY.md §2.A): the reference's
  * Debezium→Kafka→target apply loop, re-expressed as
  * readStream → foreachBatch → lake.
  *
  * CDC apply has one mechanism: `streamApplyToLakeOf`, the Debezium
  * sink. It is a stateless foreachBatch whose target holds the state.
  * Each micro-batch folds its raw events with the lake's newest version
  * (`CdcOps.opFoldOf`, batch `applyLogOf`'s fold) over one key
  * exchange and publishes the next whole version, flat parquet sized by
  * adaptive execution, through [[publishVersion]], as every replay's
  * sink does. Deleted keys stay as tombstones
  * (`last_op = 'D'`); [[readLake]] returns them, live readers filter
  * `last_op <> 'D'`. stream_cdc_apply replays the events table into a
  * scratch lake and returns it tombstones included.
  *
  * `windowCounts` is the operational monitor: watermarked sliding-window
  * op counts (the Kafka-topic-monitoring shape). The other `stream_*`
  * operators keep keyed GroupState for their own per-key aggregates,
  * except the three kNN serves, which hold no state and run each
  * micro-batch as a batch plan.
  *
  * Tests drive the lake sink and `windowCounts` through MemoryStream
  * and feed directories (StreamingSpec). The SparkEntry `stream_*`
  * operators stream a table's parquet through a file source with
  * Trigger.AvailableNow. All but the lake run through [[replay]], whose
  * one sink publishes each micro-batch's output as version <batch id>
  * through the same [[publishVersion]].
  */
object CdcStream {

  private def rmTreeQuietly(p: java.nio.file.Path): Unit =
    try {
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Per-call scratch whose contents may be LAZILY scanned after the
    * call returns (versioned parquet state, replay output, symlink feed
    * stages) — in-call deletion would break the returned frame, but
    * leaving them accumulates /tmp residue across sessions (measured:
    * 164 stale recon-state dirs before round 13). Reclaimed at JVM exit. */
  private val exitScratch =
    java.util.Collections.synchronizedList(new java.util.ArrayList[java.nio.file.Path]())
  Runtime.getRuntime.addShutdownHook(new Thread(() => exitScratch.forEach(rmTreeQuietly(_))))

  private def scratchDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    exitScratch.add(p); p
  }

  /** Epoch-micros column for the `ts` field under any of the three
    * parquet encodings the generator has shipped (long nanos,
    * TIMESTAMP_NTZ micros, session-zone timestamp). */
  private def tsUsCol(events: DataFrame): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    events.schema("ts").dataType match {
      case LongType => expr("ts div 1000")
      case TimestampNTZType => unix_micros(col("ts").cast(TimestampType))
      case _ => unix_micros(col("ts"))
    }
  }

  /** Normalize the raw events table into the typed change-event stream.
    * `ts` arrives as long nanos (generator versions writing
    * TIMESTAMP(NANOS), read raw under nanosAsLong), as TIMESTAMP_NTZ
    * (micros, isAdjustedToUTC=false), or as a session-zone timestamp —
    * the same three encodings Tables.events absorbs for batch reads;
    * all collapse to the identical micros epoch under the pinned-UTC
    * session. */
  def toChangeEvents(events: DataFrame): DataFrame = {
    val tsUs = tsUsCol(events)
    events.select(
      col("event_id"), col("user_id"),
      when(col("event_type") === "signup", "I")
        .when(col("event_type") === "error", "D")
        .otherwise("U").as("op"),
      col("value"),
      tsUs.as("ts_us"))
  }

  /** Native session_window sessionization over the change stream —
    * the streaming twin of Analytics.q12Sessionize (same 30-minute gap):
    * state-backed session merging instead of a lag/cumsum window, so
    * sessions close incrementally as the watermark advances. */
  def sessionCounts(changeEvents: DataFrame): DataFrame =
    changeEvents
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))

  /** Watermarked sliding-window per-op counts over the change stream. */
  def windowCounts(changeEvents: DataFrame): DataFrame =
    changeEvents
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day", "12 hours"), col("op"))
      .agg(count(lit(1)).as("n_changes"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("op"), col("n_changes"))

  /** Stage `$dir/$table.parquet` as a streaming file source: returns the
    * stream, its stage directory and the staged bytes. The file stream
    * source wants a directory of data FILES, so the table sits behind
    * symlinks (at deployment the source would already be a directory of
    * log segments). A single-file table links as-is; a directory table
    * (the ScaleGen outputs) links each part file — the source does NOT
    * descend into subdirectories and would silently stream zero rows.
    * Link targets are absolute: a relative `dir` would otherwise leave
    * the links dangling relative to the stage directory. The stream is
    * read through `session`; the table's schema comes from `spark`'s
    * relation memo, which a fresh session would miss (one schema job per
    * call) and then keep alive. */
  private def stageFeed(spark: SparkSession, session: SparkSession, dir: String,
                        table: String): (DataFrame, java.nio.file.Path, Long) = {
    val schema = graft.core.Tables.load(spark, dir, table).schema
    val stage = scratchDir("graft-stream")
    val src = java.nio.file.Paths.get(s"$dir/$table.parquet").toAbsolutePath
    var stagedBytes = 0L
    if (java.nio.file.Files.isDirectory(src)) {
      val parts = java.nio.file.Files.list(src).iterator()
      var i = 0
      while (parts.hasNext) {
        val f = parts.next().toAbsolutePath
        if (f.getFileName.toString.endsWith(".parquet")) {
          java.nio.file.Files.createSymbolicLink(
            stage.resolve(f"part-$i%05d.parquet"), f)
          stagedBytes += java.nio.file.Files.size(f)
          i += 1
        }
      }
    } else {
      java.nio.file.Files.createSymbolicLink(stage.resolve(s"$table.parquet"), src)
      stagedBytes = java.nio.file.Files.size(src)
    }
    (session.readStream.schema(schema).parquet(stage.toString), stage, stagedBytes)
  }

  /** Replay `table` through a real file stream source and run `transform`
    * to completion (Trigger.AvailableNow), then `perBatch` on each
    * micro-batch as a batch plan. Each micro-batch publishes its output
    * as version <batch id> of a scratch sink through [[publishVersion]],
    * so a retried batch replaces its own output and every output mode is
    * exactly-once. Returns the newest version in Complete mode, every
    * version in Append and Update mode, and an empty frame of the output
    * schema when no batch ran. The stream runs on a child session of
    * `spark`: it shares the SparkContext, the cache and the caller's
    * frames but has its own SQL conf, so the settings below never reach
    * the caller's queries. */
  private[graft] def replay(spark: SparkSession, dir: String,
                     outputMode: OutputMode,
                     transform: DataFrame => DataFrame,
                     normalize: Boolean = true,
                     table: String = "events",
                     perBatch: DataFrame => DataFrame = identity): DataFrame = {
    val session = spark.newSession()
    val (stream, stage, stagedBytes) = stageFeed(spark, session, dir, table)
    // A stateful query instantiates one state store per shuffle partition
    // per stateful operator, and the right parallelism is a function of
    // INGEST VOLUME, not CPU count: per-partition store init (dir +
    // version files) dominates a short replay's wall time (hence the
    // floor of 8), while per-key state work dominates at scale (measured:
    // stream_near_dedup at sf10 falls 310 → 141 s going 8 → 32
    // partitions). Staged bytes are the replay's proxy for volume — one
    // partition per ~2 MB of compressed input, capped at the session's
    // parallelism. A real deployment sizes this to live-key volume; the
    // setting is sticky per query via its (fresh) checkpoint.
    val autoParts = math.max(8, math.min(spark.sparkContext.defaultParallelism,
      (stagedBytes / (2L << 20)).toInt))
    session.conf.set("spark.sql.shuffle.partitions", autoParts.toString)
    // Keyed state must NOT live as JVM objects at scale: the in-memory
    // provider holds every (key → state) entry of every retained version
    // on-heap, and at sf10 the band-bucket state of stream_near_dedup
    // alone exceeds the 24g driver heap (measured: full-GC heartbeat
    // timeouts, then a dead context poisoning the rest of the bench).
    // RocksDB keeps state off-heap with native spill — the choice a
    // 100 TB deployment makes, where live-key volume always dwarfs any
    // executor's heap. But the backend is a function of STATE VOLUME,
    // the same way the partition count above is a function of ingest
    // volume: below ~8 MB of staged input even the worst observed state
    // amplification (stream_near_dedup's ~32 band entries/doc) stays in
    // the low hundreds of MB, where RocksDB's per-partition native store
    // open/commit/compaction round-trips cost more than the state they
    // manage (measured at sf0.1: the 8-query stateful stream subset runs
    // 0.75× under the in-memory provider — 15.2 s → 11.4 s — while sf1+
    // inputs stay on RocksDB, whose sf10 necessity is measured above).
    val inMemoryStore = stagedBytes <= (8L << 20)
    val autoStore =
      if (inMemoryStore)
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
      else
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    session.conf.set("spark.sql.streaming.stateStore.providerClass", autoStore)
    // RocksDB's row-count metric does a READ BEFORE EVERY WRITE to
    // detect insert-vs-update; with millions of fresh bucket keys per
    // replay (stream_near_dedup at sf10) that doubles state-store work
    // for a metric nothing here consumes. A deployment that wants the
    // numRowsTotal gauge pays for it; the engine does not require it.
    session.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false")
    // Offset/commit logs and state-store versions fsync per micro-batch;
    // for an ephemeral replay put the checkpoint on tmpfs when present
    // (a durable deployment points this at reliable storage instead).
    val ckBase = if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm")))
      "/dev/shm" else System.getProperty("java.io.tmpdir")
    val ck = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(ckBase), "graft-ck")
    // in-call rmTreeQuietly below covers the success path; the exit hook
    // covers a replay that THROWS (on /dev/shm the leak would be RAM)
    exitScratch.add(ck)
    // Output goes to disk and is read back on the executors, so neither
    // the driver heap nor spark.driver.maxResultSize bounds it (measured
    // at sf10: stream_near_dedup's candidate pairs exhaust a 24g heap,
    // stream_scd2's history overflows a 1 GiB maxResultSize).
    val transformed = transform(if (normalize) toChangeEvents(stream) else stream)
    // planning the per-batch step on an empty frame runs no job
    val schema = perBatch(
      session.createDataFrame(java.util.Collections.emptyList[Row](), transformed.schema)).schema
    val sink = new Path(scratchDir("graft-sink").toString)
    val fs = sink.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val q = transformed.writeStream.outputMode(outputMode)
      .option("checkpointLocation", ck.toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        publishVersion(fs, sink, id)(perBatch(batch).write.parquet(_))
      }
      .start()
    q.awaitTermination()
    // Guard on the auto in-memory state-store choice (it trusts staged
    // bytes as a STATE proxy): assert the realized keyed state actually
    // stayed small, so a future operator with a larger key-state
    // amplification than anything measured (~32×) fails LOUDLY here
    // instead of silently building multi-GB heap state. 2 GiB is ~8×
    // the worst legitimate state observed under the 8 MB input
    // threshold and ~1/12 of the replay heap.
    if (inMemoryStore) {
      val maxStateBytes = q.recentProgress
        .map(_.stateOperators.map(_.memoryUsedBytes).sum)
        .foldLeft(0L)(math.max)
      require(maxStateBytes < (2L << 30),
        s"in-memory state store grew to $maxStateBytes bytes on ${stagedBytes}B " +
          "of staged input — state amplification exceeds the volume heuristic's " +
          "assumptions; lower replay's 8 MB in-memory store threshold")
    }
    rmTreeQuietly(ck)
    rmTreeQuietly(stage)
    val written = versions(fs, sink)
    val read = if (outputMode == OutputMode.Complete) written.maxOption.toSeq else written
    if (read.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.schema(schema)
      .parquet(read.map(v => new Path(sink, s"state_v$v").toString): _*)
  }

  /** stream_cdc_apply — the latest state per key after replaying the
    * full log through [[streamApplyToLake]] into a scratch lake, read
    * back WITH its tombstones (deleted keys stay as `last_op = 'D'`
    * rows). The lake holds one row per key by construction.
    * Oracle-checked: the streamed lake must equal the batch arg-max. */
  def streamCdcApply(spark: SparkSession, dir: String): DataFrame = {
    val lake = scratchDir("graft-cdc-apply").toString
    streamApplyToLake(spark, dir, lake)
    readLake(spark, lake).orderBy(col("user_id"))
  }

  val streamCdcApplySql: String =
    """SELECT user_id,
      |  MAX(event_id) AS last_event_id,
      |  arg_max(CASE WHEN event_type = 'signup' THEN 'I'
      |               WHEN event_type = 'error' THEN 'D' ELSE 'U' END, event_id) AS last_op,
      |  arg_max(value, event_id) AS last_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Per-key churn counters as a stateful stream transform — the LIVE
    * twin of CdcOps.keyChurn: op-mix counts and offset bounds fold into
    * GroupState additively (commutative/associative over any batch
    * split), so the counters are exact under arbitrary micro-batch
    * boundaries. Emits each touched key's updated counters per batch;
    * state is O(live keys), partitioned by key hash. */
  def churnCounters(spark: SparkSession, changeEvents: DataFrame): DataFrame = {
    import spark.implicits._
    changeEvents.as[ChangeEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ChurnState, ChurnState](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Long, events: Iterator[ChangeEvent], state: GroupState[ChurnState]) =>
          val next = events.foldLeft(state.getOption.orNull) { (s, e) =>
            val base = if (s == null)
              ChurnState(key, 0L, 0L, 0L, 0L, e.event_id, e.event_id) else s
            ChurnState(key,
              base.n_changes + 1,
              base.n_inserts + (if (e.op == "I") 1 else 0),
              base.n_updates + (if (e.op == "U") 1 else 0),
              base.n_deletes + (if (e.op == "D") 1 else 0),
              math.min(base.first_offset, e.event_id),
              math.max(base.last_offset, e.event_id))
          }
          if (next == null) Iterator.empty
          else { state.update(next); Iterator.single(next) }
      }
      .toDF()
  }

  /** stream_key_churn — final churn counters per key after replaying the
    * full log (defensively deduped by the monotone n_changes), with the
    * derived span and class columns matching the batch op exactly.
    * Oracle: CdcOps.keyChurnSql — the stateful stream's final counters
    * must equal the batch group-by bit-for-bit. */
  def streamKeyChurn(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, OutputMode.Update, df => churnCounters(spark, df))
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("n_changes"), col("n_inserts"), col("n_updates"),
        col("n_deletes"), col("first_offset"), col("last_offset")),
        col("n_changes")).as("s"))
      .select(col("user_id"), col("s.n_changes").as("n_changes"),
        col("s.n_inserts").as("n_inserts"), col("s.n_updates").as("n_updates"),
        col("s.n_deletes").as("n_deletes"),
        col("s.first_offset").as("first_offset"),
        col("s.last_offset").as("last_offset"))
      .withColumn("offset_span", col("last_offset") - col("first_offset"))
      .withColumn("churn_class",
        when(col("n_changes") >= 20, "HOT")
          .when(col("n_changes") >= 5, "WARM")
          .otherwise("COLD"))
      .orderBy(col("user_id"))

  /** stream_window_agg — watermarked sliding-window op counts after full
    * replay (Complete mode: every window emitted). Oracle-checked: Spark
    * aligns windows to the epoch, so each event lands in the two 12-hour
    * slides covering it — reproduced with integer epoch-µs arithmetic. */
  def streamWindowAgg(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, OutputMode.Complete, windowCounts)
      .orderBy(col("win_start"), col("op"))

  val streamWindowAggSql: String =
    """WITH ev AS (
      |  SELECT CASE WHEN event_type = 'signup' THEN 'I'
      |              WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus
      |  FROM events
      |), w AS (
      |  SELECT op, make_timestamp((tus // 43200000000 - o) * 43200000000) AS win_start
      |  FROM ev CROSS JOIN (SELECT unnest([0, 1]) AS o) offs
      |)
      |SELECT win_start, win_start + INTERVAL 24 HOUR AS win_end, op,
      |  COUNT(*) AS n_changes
      |FROM w GROUP BY 1, 3 ORDER BY win_start, op""".stripMargin

  /** stream_sessionize — native session_window gap sessions after full
    * replay (Complete mode — session_window aggregations don't support
    * Update). Oracle-checked: session_window merges an event into the
    * open session iff it falls strictly inside [start, last + gap), so
    * the batch mirror breaks on gap >= 30 min (vs q12's > 30 min) and
    * ends sessions at last_ts + gap. */
  def streamSessionize(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, OutputMode.Complete, sessionCounts)
      .orderBy(col("user_id"), col("session_start"))

  val streamSessionizeSql: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
      |), flagged AS (
      |  SELECT user_id, ts,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |), sess AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      |  FROM flagged
      |)
      |SELECT user_id, MIN(ts) AS session_start,
      |  MAX(ts) + INTERVAL 30 MINUTE AS session_end, COUNT(*) AS n_events
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** Exactly-once repair under streaming: at-least-once delivery (the
    * reference streams changes through Kafka, architecture.md:66 — every
    * 97th offset delivered twice as the same planted pattern as the batch
    * cdc_dedup_events) repaired with `dropDuplicatesWithinWatermark`:
    * per-offset dedup state is evicted as the watermark advances, so
    * state is bounded by the watermark horizon, not by stream history. */
  def dedupDeliveries(changeEvents: DataFrame): DataFrame = {
    val delivered = changeEvents
      .unionByName(changeEvents.filter(col("event_id") % 97 === 0))
    delivered
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
  }

  /** stream_dedup — oracle-checked (the one streaming op with a SQL
    * oracle): after exactly-once repair the delivered stream collapses
    * back to the original log, so per-op counts must equal the plain
    * events table's. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, OutputMode.Append, dedupDeliveries)
      .groupBy(col("op"))
      .agg(count(lit(1)).as("n_events"),
           countDistinct(col("user_id")).as("n_keys"))
      .orderBy(col("op"))

  val streamDedupSql: String =
    """SELECT CASE WHEN event_type = 'signup' THEN 'I'
      |            WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |  COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_keys
      |FROM events GROUP BY 1 ORDER BY op""".stripMargin

  /** Streaming near-dup candidate detection over a DOCUMENT stream —
    * near-dedup at ingest, the streaming twin of dedup_minhash /
    * dedup_incremental: each arriving document's 32 MinHash band hashes
    * key it into LSH buckets; a stateful per-bucket memory
    * (flatMapGroupsWithState) holds each bucket's first
    * [[graft.operators.Dedup.StreamBucketCap]] members, and every later
    * arrival emits a candidate hit against each remembered member.
    * This is an INDEX cap (an append stream cannot retract pairs), so
    * oversize buckets degrade to "first cap members index the bucket"
    * instead of the batch drop-whole rule — identical below the cap.
    * State per bucket is bounded by the cap; hit volume per arrival is
    * bounded by tables × cap. Within a group the iterator is sorted by
    * doc_id so the replay's arrival order is deterministic (a live
    * deployment's order is its ingest order — the kernel, banding, and
    * state discipline are unchanged). */
  def nearDupBandHits(spark: SparkSession)(docs: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.graftvec.MinHashExpressions.minhashBands
    import graft.functions.TextFunctions.{shingles3HashedFromWords, words}
    import graft.operators.Dedup
    Dedup.corpusOf(docs) // stateless plant expansion — same corpus as the batch family
      .withColumn("hs", shingles3HashedFromWords(words(col("text"))))
      .select(col("doc_id"),
        posexplode(minhashBands(col("hs"), Dedup.NumHashes, Dedup.NumBands))
          .as(Seq("band_id", "band_hash")))
      .as[BandRow]
      .groupByKey(r => (r.band_id, r.band_hash))
      .flatMapGroupsWithState[BandBucketState, BandPairHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Int, Long), rows: Iterator[BandRow], state: GroupState[BandBucketState]) =>
          var mem = state.getOption.map(_.members).getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[BandPairHit]
          rows.map(_.doc_id).toArray.sorted.foreach { id =>
            mem.foreach { m =>
              if (m != id)
                out += BandPairHit(math.min(m, id), math.max(m, id))
            }
            if (mem.size < Dedup.StreamBucketCap) mem = id :: mem
          }
          state.update(BandBucketState(mem))
          out.iterator
      }
      .toDF()
  }

  /** stream_knn — streaming retrieval serving: query vectors arriving
    * on a stream retrieve their exact top-K against the static corpus,
    * each micro-batch through [[graft.operators.Similarity.knnServe]].
    * Oracle-checked against knn_brute verbatim — the stream must
    * reproduce the batch retrieval bit-for-bit. */
  def streamKnn(spark: SparkSession, dir: String): DataFrame =
    serveReplay(spark, dir, graft.operators.Similarity.knnServe(spark, dir))

  /** stream_knn_lsh — index-backed streaming ANN serving: arriving
    * query vectors look themselves up in the prebuilt adaptive-LSH
    * bucket index ([[graft.operators.Similarity.knnLshServe]]) instead
    * of scoring the whole corpus per batch — the serving shape that
    * survives a 100 TB corpus. Oracle-checked against the batch knn_lsh
    * SQL verbatim. */
  def streamKnnLsh(spark: SparkSession, dir: String): DataFrame =
    serveReplay(spark, dir, graft.operators.Similarity.knnLshServe(spark, dir))

  /** stream_knn_ivfpq — the streaming twin of the production ANN
    * composite: arriving query vectors probe the prebuilt IVF+PQ index
    * ([[graft.operators.Similarity.knnIvfPqServe]]) — Nprobe cells
    * against the centroid roster, ADC over the probed cells' PQ codes,
    * exact re-rank of the shortlist — the layout a billion-vector
    * deployment serves from. Oracle-checked against the batch knn_ivfpq
    * SQL verbatim. */
  def streamKnnIvfPq(spark: SparkSession, dir: String): DataFrame =
    serveReplay(spark, dir, graft.operators.Similarity.knnIvfPqServe(spark, dir))

  /** Replay the embeddings table as arriving queries, each micro-batch
    * served by `serve` as a batch plan; rows in (query_id, knn_rank)
    * order. */
  private def serveReplay(spark: SparkSession, dir: String,
                          serve: DataFrame => DataFrame): DataFrame =
    replay(spark, dir, OutputMode.Append, identity, normalize = false,
      table = "embeddings", perBatch = serve)
      .orderBy(col("query_id"), col("knn_rank"))

  /** stream_near_dedup — the candidate hits of [[nearDupBandHits]]
    * confirmed at ≥ 2 shared bands (the dedup_minhash confirm rule),
    * after full replay. Oracle-checked against the rank-capped batch
    * replay (Dedup.streamNearDedupSql); at gate SFs no bucket exceeds
    * the cap, so this equals dedup_minhash's pair set exactly. */
  def streamNearDedup(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, OutputMode.Append,
      nearDupBandHits(spark), normalize = false, table = "documents")
      .groupBy(col("doc_a"), col("doc_b"))
      // one emission per shared band (see BandPairHit), and each batch
      // id publishes once, so count ≡ countDistinct(band) — a
      // single-shuffle partial-agg count instead of a distinct agg
      .agg(count(lit(1)).as("n_shared_bands"))
      .filter(col("n_shared_bands") >= 2)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Stream-static enrichment: each change event joined to the static
    * customer→nation dimension (user_id = c_custkey in the test data's
    * key mapping), rolled up per (nation, op) with exact-cent value
    * sums. Stream-static joins are STATELESS in Structured Streaming —
    * the static side is just re-read (and here broadcast) per
    * micro-batch, no watermark or state store involved — which makes
    * this the canonical CDC enrichment shape: a 100 TB change stream
    * joins reference dimensions at broadcast cost, with dimension
    * updates picked up on the next micro-batch. */
  def enrichCounts(spark: SparkSession, dir: String)(changeEvents: DataFrame): DataFrame = {
    val dim = graft.core.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(graft.core.Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    changeEvents
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("n_name"), col("op"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * lit(100d) + lit(0.5d)).cast("long")).as("value_cents"))
  }

  /** stream_enrich — per-(nation, op) rollup of the enriched change
    * stream after full replay (Complete mode). Oracle-checked: the
    * stateless stream-static join must equal the batch join. */
  def streamEnrich(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, OutputMode.Complete, enrichCounts(spark, dir))
      .orderBy(col("n_name"), col("op"))

  val streamEnrichSql: String =
    """SELECT n.n_name, CASE WHEN e.event_type = 'signup' THEN 'I'
      |            WHEN e.event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(FLOOR(e.value*100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events e
      |JOIN customer c ON e.user_id = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY 1, 2 ORDER BY n_name, op""".stripMargin

  /** End-to-end streaming pipeline: change events → foreachBatch →
    * versioned parquet lake; see [[streamApplyToLakeOf]].
    * Returns the live snapshot read back from the lake. StreamingSpec
    * asserts it equals the batch latest-state. */
  def streamApplyToLake(spark: SparkSession, dir: String, path: String): DataFrame = {
    val (stream, _, _) = stageFeed(spark, spark, dir, "events")
    streamApplyToLakeOf(spark, toChangeEvents(stream), path)
  }

  /** [[streamApplyToLake]] over ANY streaming change-event frame
    * (event_id, user_id, op, value, ts_us — typed through [[ChangeEvent]]).
    * Draining is AvailableNow: each call applies everything currently
    * readable and returns the live snapshot; re-running after more input
    * arrives is the reference's catch-up replication cycle.
    *
    * The lake is the apply state; no state store. Each micro-batch, an
    * empty one included, folds its raw events with the lake's newest
    * version once per key (last-writer-wins, `CdcOps.opFoldOf`) and
    * publishes the fold as version newest + 1 ([[publishVersion]]): a
    * whole lake of [[KeyState]]s, written flat into `path/state_v<n>`.
    * The fold and the write share one exchange, a hash partition on the
    * key sized by `spark.sql.shuffle.partitions` that adaptive execution
    * coalesces by bytes, so a version holds as many files as its data
    * needs write tasks. `buckets` is ignored: the lake has no bucket
    * directories. A version written `_bucket=`-partitioned by older code
    * reads the same ([[readLake]] drops `_bucket`) and the next publish
    * rewrites it flat. An op outside I/U/D fails the batch and leaves the
    * lake at its previous version. Batch ids restart at 0 without a
    * checkpoint, so they are not version numbers. A retry re-folds the
    * same events into an identical version (the reference's jdbc upsert
    * sink as an idempotent lake sink). A `path` holding anything but
    * versions fails the batch instead of being overwritten.
    * Deleted keys stay as (never collected) tombstones, `last_op = 'D'`,
    * so a stale update cannot resurrect them; the returned frame filters
    * them and stays readable until two more versions are published.
    *
    * `checkpoint` persists the source offsets. `onBatchApplied(batchId)`
    * runs after the publish and before the offset commit: a hook that
    * throws there is the worst-case crash window (RecoverySpec). */
  def streamApplyToLakeOf(spark: SparkSession, changeEvents: DataFrame,
                          path: String, buckets: Int = 16,
                          checkpoint: Option[String] = None,
                          onBatchApplied: Long => Unit = _ => ()): DataFrame = {
    import spark.implicits._
    val base = new Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val writer = changeEvents.as[ChangeEvent].writeStream
      .foreachBatch { (batch: Dataset[ChangeEvent], batchId: Long) =>
        // one listing per micro-batch: the version to fold, its successor
        // and the versions to drop after the publish
        val listed = versions(fs, base)
        val newest = listed.maxOption
        // partitioned on the key, so fold and write share one exchange
        val log = batch.select(col("user_id").cast("long"), col("event_id").cast("long"),
            col("op"), col("value").cast("double"))
          .unionByName(readVersion(spark, base, newest).select(col("user_id"),
            col("last_event_id").as("event_id"), col("last_op").as("op"), col("last_value").as("value")))
          .repartition(col("user_id"))
        val v = newest.fold(0L)(_ + 1)
        publishVersion(fs, base, v)(graft.cdc.CdcOps.opFoldOf(
          log, "user_id", "event_id", "op", Seq("value")).write.parquet(_))
        dropVersionsBelow(fs, base, v - 1, listed)
        onBatchApplied(batchId)
      }
    val q = checkpoint.fold(writer)(ck => writer.option("checkpointLocation", ck))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    readLake(spark, path).filter(col("last_op") =!= "D")
  }

  /** The CDC lake at `path` as [[KeyState]] rows, tombstones included:
    * its newest version, read lazily (readable until two more versions
    * are published), or an empty frame before the first one. */
  def readLake(spark: SparkSession, path: String): DataFrame = {
    val base = new Path(path)
    readVersion(spark, base,
      versions(base.getFileSystem(spark.sparkContext.hadoopConfiguration), base).maxOption)
  }

  /** Lake version `n` under `base` as [[KeyState]] rows (an empty frame
    * for none). `_bucket`, the partition column of versions written by
    * older code, is dropped. */
  private def readVersion(spark: SparkSession, base: Path, n: Option[Long]): DataFrame = {
    val schema = org.apache.spark.sql.Encoders.product[KeyState].schema
    n.fold(spark.createDataFrame(java.util.Collections.emptyList[Row](), schema))(n =>
      spark.read.schema(schema).parquet(new Path(base, s"state_v$n").toString).drop("_bucket"))
  }

  private val Version = "(state|_tmp)_v(\\d+)".r

  /** The n of every `state_v<n>` under `base` (none if it does not
    * exist). Anything there but `state_v<n>` / `_tmp_v<n>` throws: such a
    * path is not versioned state, and reading it as empty would
    * overwrite it. */
  private def versions(fs: FileSystem, base: Path): Seq[Long] =
    (try fs.listStatus(base).toSeq catch { case _: java.io.FileNotFoundException => Nil })
      .flatMap(e => e.getPath.getName match {
        case Version(kind, n) if e.isDirectory => Option.when(kind == "state")(n.toLong)
        case _ => throw new IllegalStateException(s"$base is not a versioned lake: found ${e.getPath}")
      })

  /** Publish version `v` of the parquet state under `base` — the one way
    * [[streamApplyToLakeOf]] and [[replay]] keep parquet across
    * micro-batches. `write` fills a fresh `_tmp_v<v>` and
    * one rename makes it `state_v<v>`, so a crash or failed rename at any
    * step leaves the earlier versions whole for the retry (a
    * dynamic-partition commit in place deletes each bucket before renaming
    * its successor in). A retried batch that finds its own `state_v<v>`
    * replaces it. Deleting old versions is the caller's choice. */
  private def publishVersion(fs: FileSystem, base: Path, v: Long)(write: String => Unit): Unit = {
    val tmp = new Path(base, s"_tmp_v$v")
    val dst = new Path(base, s"state_v$v")
    fs.delete(tmp, true)
    write(tmp.toString)
    fs.delete(dst, true)
    if (!fs.rename(tmp, dst)) throw new java.io.IOException(s"could not rename $tmp to $dst")
  }

  /** Delete every `state_v<m>` with m < `keep` among `listed`, the
    * versions under `base`. */
  private def dropVersionsBelow(fs: FileSystem, base: Path, keep: Long, listed: Seq[Long]): Unit =
    listed.filter(_ < keep).foreach(m => fs.delete(new Path(base, s"state_v$m"), true))

  /** Streaming digest shared by stream_recon_digest and
    * stream_recon_incremental: [[replay]] streams `orders` and each
    * micro-batch publishes the per-bucket (row count, digest sum)
    * partial of its `slice`. The digest is an additive sum of longs, so
    * summing the partials per bucket gives the full-table digest under
    * any batching, and a retried batch replaces its own partial instead
    * of adding it twice. The sums join the `slice` of the drifted
    * target's digests into recon_hash_bucket's output shape. */
  private def streamDigestFold(spark: SparkSession, dir: String,
                               slice: DataFrame => DataFrame,
                               buckets: Int): DataFrame = {
    import graft.cdc.Reconcile
    val digest = Reconcile.rowDigest(col("o_orderkey"), col("o_totalprice"))
    val partials = replay(spark, dir, OutputMode.Append, identity,
      normalize = false, table = "orders",
      perBatch = b => Reconcile.bucketDigestsOf(slice(b), "o_orderkey",
        digest, buckets, "src_count", "src_digest"))
    Reconcile.digestJoin(
      partials.groupBy(col("bucket"))
        .agg(sum(col("src_count")).as("src_count"), sum(col("src_digest")).as("src_digest")),
      Reconcile.bucketDigestsOf(slice(Reconcile.driftedTarget(spark, dir)),
        "o_orderkey", digest, buckets, "tgt_count", "tgt_digest"))
      .orderBy(col("bucket"))
  }

  /** stream_recon_digest — the reconciliation digest maintained
    * INCREMENTALLY under streaming ingest (recon_incremental's
    * foreachBatch twin): [[streamDigestFold]] over every row into 64
    * buckets. Per-batch cost is ∝ the batch's rows — the table is never
    * re-scanned — because the row digest is an order-independent
    * additive sum, the same additivity recon_merkle's ladder exploits:
    * digest(all rows) = Σ digest(batch). recon_hash_bucket IS the
    * oracle: the incrementally maintained digest must equal the
    * full-table batch compare bit-for-bit. */
  def streamReconDigest(spark: SparkSession, dir: String): DataFrame =
    streamDigestFold(spark, dir, identity, 64)

  /** stream_recon_incremental — recon_incremental maintained under
    * streaming ingest: the watermark ("key deciles 0-7 were verified
    * last run") restricts re-verification to the RECENT slice, and the
    * slice's digest is summed from per-micro-batch partials instead of
    * being recomputed from the full table. Each arriving batch filters
    * to keys above the watermark AT SCAN SPEED (the watermark is one
    * driver-side scalar from the ledger, captured before the replay —
    * never a per-batch re-aggregation) and reduces to ≤16 (count,
    * digest) partials with map-side combine, through the same
    * [[streamDigestFold]] stream_recon_digest uses (per-batch cost ∝
    * the batch's recent rows, partial rows ∝ buckets). Rows below the
    * watermark cost a codegen'd comparison and nothing else — exactly
    * the "daily verify proportional to the day's churn" contract of
    * the batch op, now paid as the churn ARRIVES.
    *
    * Oracle ≡ batch recon_incremental (Reconcile.reconIncremental): after
    * replay the summed slice digests join the target's recent digests
    * into the identical 16-bucket compare, bit-for-bit. */
  def streamReconIncremental(spark: SparkSession, dir: String): DataFrame = {
    // Verified watermark from the ledger: one scalar, captured once.
    val mxKey = graft.core.Tables.load(spark, dir, "orders")
      .agg(max(col("o_orderkey"))).collect()(0).getLong(0)
    streamDigestFold(spark, dir,
      _.filter(floor(col("o_orderkey") * 10 / lit(mxKey + 1)) >= 8), 16)
  }

  /** Per-purchase attribution emitted by the stateful stream. */
  case class TouchEvent(event_id: Long, user_id: Long, event_type: String, value: Double)
  case class TouchState(first_code: Long, last_code: Long)
  case class Attribution(user_id: Long, event_id: Long,
                         first_touch: String, last_touch: String, value: Double)

  private val ChannelCodes =
    Map("click" -> 1L, "signup" -> 2L, "error" -> 3L, "view" -> 4L)
  private def decodeChannel(code: Long): String = (code % 8) match {
    case 0L => "DIRECT"
    case 1L => "click"
    case 2L => "signup"
    case 3L => "error"
    case _  => "view"
  }

  /** First/last-touch state per user as a stateful stream transform —
    * the streaming twin of Analytics.eventsAttribution: each purchase
    * emits its attribution against the touches seen SO FAR (the live
    * marketing-attribution feed), non-purchase events only update the
    * per-user (first_code, last_code) pair. Touch codes are the same
    * `event_id*8 + channel` longs as the batch op, so min/max ARE
    * first/last. State is two longs per user — O(live users). Events
    * sort by event_id within each micro-batch (the log order); across
    * batches the offset-ordered source delivers segments in order.
    *
    * Order contract (StreamingSpec pins both sides): disorder WITHIN a
    * micro-batch is fully repaired by the sort; a touch that crosses a
    * batch boundary late updates state for FUTURE purchases only —
    * emissions are append-only and never rewritten (seen-so-far
    * semantics, matching the batch op's running window, not a
    * retroactive recompute). */
  def attributeStream(spark: SparkSession, raw: DataFrame): DataFrame = {
    import spark.implicits._
    raw.select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .as[TouchEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, Attribution](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, events: Iterator[TouchEvent], state: GroupState[TouchState]) =>
          val sorted = events.toArray.sortBy(_.event_id)
          var st = state.getOption.getOrElse(TouchState(0L, 0L))
          val out = Array.newBuilder[Attribution]
          sorted.foreach { e =>
            if (e.event_type == "purchase")
              out += Attribution(key, e.event_id,
                decodeChannel(st.first_code), decodeChannel(st.last_code), e.value)
            else ChannelCodes.get(e.event_type).foreach { ch =>
              // unknown event types are not touches — same as the batch
              // op, whose channel CASE yields null and the window min/max
              // skip it
              val code = e.event_id * 8L + ch
              st = TouchState(
                if (st.first_code == 0L) code else math.min(st.first_code, code),
                math.max(st.last_code, code))
            }
          }
          state.update(st)
          out.result().iterator
      }
      .toDF()
  }

  /** stream_attribution — the (first_touch, last_touch) matrix rolled up
    * from the streamed per-purchase attributions after full replay.
    * Oracle-checked against the BATCH attribution SQL: the stateful
    * stream must land on exactly the batch matrix. */
  def streamAttribution(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, OutputMode.Append,
      df => attributeStream(spark, df), normalize = false)
      .groupBy(col("first_touch"), col("last_touch"))
      .agg(count(lit(1)).as("n_conversions"),
        countDistinct(col("user_id")).as("n_users"),
        (sum(floor(col("value") * lit(100d) + lit(0.5d)).cast("long")) / lit(100d))
          .as("attributed_value"))
      .orderBy(col("first_touch"), col("last_touch"))

  /** Per-key gap accumulators as a stateful stream transform: each
    * micro-batch's events for a key are folded IN EVENT-TIME ORDER
    * (sorted within the batch — the iterator order is not guaranteed),
    * with the state carrying last_ms so the first gap of a batch bridges
    * the boundary. Gap quantization (integral seconds via floor-div of
    * epoch millis) matches Analytics.eventsBurstiness exactly. Same
    * cross-batch order contract as attributeStream: arrivals must
    * respect event-time order ACROSS micro-batches (a log replay does);
    * within a batch any order is handled. */
  def burstCounters(spark: SparkSession, changeEvents: DataFrame): DataFrame = {
    import spark.implicits._
    changeEvents.as[ChangeEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[BurstState, BurstState](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Long, events: Iterator[ChangeEvent], state: GroupState[BurstState]) =>
          val ordered = events.toSeq.sortBy(e => (e.ts_us, e.event_id))
          val next = ordered.foldLeft(state.getOption.orNull) { (s, e) =>
            val ms = Math.floorDiv(e.ts_us, 1000L)
            if (s == null) BurstState(key, 0L, 0L, 0L, ms, 1L)
            else {
              val gap = Math.floorDiv(ms - s.last_ms, 1000L)
              BurstState(key, s.n_gaps + 1, s.sx + gap, s.sxx + gap * gap,
                ms, s.n_events + 1)
            }
          }
          if (next == null) Iterator.empty
          else { state.update(next); Iterator.single(next) }
      }
      .toDF()
  }

  /** stream_burstiness — the user temporal-regularity census
    * (Analytics.eventsBurstiness) maintained incrementally under
    * streaming ingest: the stateful gap accumulators above, then the
    * batch op's exact CV/class/rollup tail over each key's FINAL
    * counters (defensively deduped by the monotone n_events). Oracle:
    * Analytics.eventsBurstinessSql — the streamed census must equal the
    * batch one bit-for-bit. */
  def streamBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val finalStates =
      replay(spark, dir, OutputMode.Update, df => burstCounters(spark, df))
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("n_gaps"), col("sx"), col("sxx")),
        col("n_events")).as("s"))
      .select(col("s.n_gaps").as("n"), col("s.sx").as("sx"), col("s.sxx").as("sxx"))
      .filter(col("n") >= 1L)
    finalStates
      .withColumn("cv", when(col("sx") === 0L, lit(null)).otherwise(
        sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) /
          col("sx").cast("double")))
      .withColumn("cvq", when(col("sx") === 0L, lit(null))
        .otherwise(floor(col("cv") * lit(1000d) + lit(0.5d)).cast("long")))
      .withColumn("burst_class",
        when(col("sx") === 0L, "INSTANT")
          .when(col("cvq") < 900L, "REGULAR")
          .when(col("cvq") >= 1100L, "BURSTY")
          .otherwise("POISSON"))
      .groupBy(col("burst_class"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("n")).as("n_gaps"),
        (sum(col("sx")).cast("double") / sum(col("n")).cast("double"))
          .as("mean_gap_s"),
        (sum(col("cvq")).cast("double") / count(lit(1)).cast("double") / lit(1000d))
          .as("mean_cv"))
      .orderBy(col("burst_class"))
  }

  /** Hash-priority reservoir rows (stream_sample): one candidate per
    * arriving doc, per-source member/state shapes for the keyed fold. */
  case class SampleCand(source: String, doc_id: Long, hk: Long)
  case class SampleMember(hk: Long, doc_id: Long)
  case class SampleState(ver: Long, members: List[SampleMember])
  case class SampleEmit(source: String, ver: Long, members: List[SampleMember])

  /** One raw event for funnel folding (ts in epoch micros). */
  case class FunnelEvent(event_id: Long, user_id: Long, event_type: String, ts_us: Long)
  /** Per-user funnel flags + event count; flags only ever turn on. */
  case class FunnelState(n_events: Long, s: Int, c: Int, p: Int)
  case class FunnelRow(user_id: Long, n_events: Long, funnel_stage: Long)

  /** Stateful per-user funnel fold — the streaming twin of
    * Analytics.eventsFunnel (signup → click-after-signup →
    * purchase-after-click): three monotone flags per user, updated in
    * (ts, event_id) order. State is 3 bits + a counter per live user.
    * Order contract (same as attributeStream, pinned by StreamingSpec):
    * disorder WITHIN a micro-batch is repaired by the sort; a stage
    * event crossing a batch boundary late gates only FUTURE downstream
    * events — flags never un-set, so replaying the log in offset order
    * (the file source's contract) reproduces the batch fold exactly. */
  def funnelCounts(spark: SparkSession, raw: DataFrame): DataFrame = {
    import spark.implicits._
    raw.select(col("event_id"), col("user_id"), col("event_type"),
        tsUsCol(raw).as("ts_us"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Long, events: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          val ordered = events.toArray.sortBy(e => (e.ts_us, e.event_id))
          if (ordered.isEmpty) Iterator.empty
          else {
            var st = state.getOption.getOrElse(FunnelState(0L, 0, 0, 0))
            ordered.foreach { e =>
              var (s, c, p) = (st.s, st.c, st.p)
              if (e.event_type == "signup") s = 1
              else if (e.event_type == "click" && s == 1) c = 1
              else if (e.event_type == "purchase" && c == 1) p = 1
              st = FunnelState(st.n_events + 1L, s, c, p)
            }
            state.update(st)
            Iterator.single(FunnelRow(key, st.n_events, (st.s + st.c + st.p).toLong))
          }
      }
      .toDF()
  }

  /** Open-version state per key for the streaming SCD2 fold. */
  case class Scd2State(version: Long, valid_from_id: Long, op: String, value: Double)
  /** One SCD2 emission: the closed form of a version (valid_to set) or
    * its open form (valid_to None) — the closed form supersedes. */
  case class Scd2Emit(user_id: Long, version: Long, valid_from_id: Long,
                      valid_to_id: Option[Long], op: String, value: Double,
                      is_current: Boolean)

  /** Stateful SCD2 history maintenance — the streaming twin of
    * CdcOps.scd2History: each change CLOSES the key's open version
    * (valid_to = the new change's offset) and opens the next one. State
    * is one open-version row per live key. Every change emits the
    * closed predecessor in its FINAL form plus the new open version;
    * the sink assembles the history by preferring the closed form per
    * (key, version) — max(valid_to) ignores the open form's null, and
    * the remaining fields are fixed at open time, so the assembly is
    * order-free. Within-batch disorder is repaired by the event-id
    * sort (the log-order discipline shared with attributeStream). */
  def scd2Fold(spark: SparkSession, changeEvents: DataFrame): DataFrame = {
    import spark.implicits._
    changeEvents.as[ChangeEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, Scd2Emit](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Long, events: Iterator[ChangeEvent], state: GroupState[Scd2State]) =>
          val ordered = events.toArray.sortBy(_.event_id)
          if (ordered.isEmpty) Iterator.empty
          else {
            val out = Array.newBuilder[Scd2Emit]
            var open = state.getOption.orNull
            ordered.foreach { e =>
              if (open != null)
                out += Scd2Emit(key, open.version, open.valid_from_id,
                  Some(e.event_id), open.op, open.value, is_current = false)
              val v = if (open == null) 1L else open.version + 1L
              open = Scd2State(v, e.event_id, e.op, e.value)
              out += Scd2Emit(key, v, e.event_id, None, e.op, e.value,
                is_current = true)
            }
            state.update(open)
            out.result().iterator
          }
      }
      .toDF()
  }

  /** stream_scd2 — SCD2 history maintained live under streaming ingest;
    * after full replay the assembled history equals the batch
    * cdc_scd2 bit-for-bit. */
  def streamScd2(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, OutputMode.Update, df => scd2Fold(spark, df))
      .groupBy(col("user_id"), col("version"))
      .agg(min(col("valid_from_id")).as("valid_from_id"),
        max(col("valid_to_id")).as("valid_to_id"),
        min(col("op")).as("op"),
        min(col("value")).as("value"))
      .withColumn("is_current", col("valid_to_id").isNull)
      .select(col("user_id"), col("version"), col("valid_from_id"),
        col("valid_to_id"), col("op"), col("value"), col("is_current"))
      .orderBy(col("user_id"), col("version"))

  /** stream_funnel — the funnel maintained live under streaming ingest;
    * after full replay the per-user final states equal the batch
    * events_funnel bit-for-bit (n_events is monotone, so max_by picks
    * each user's last emission from the Update-mode sink). */
  def streamFunnel(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, OutputMode.Update,
        df => funnelCounts(spark, df), normalize = false)
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("n_events"), col("funnel_stage")),
        col("n_events")).as("f"))
      .select(col("user_id"), col("f.n_events").as("n_events"),
        col("f.funnel_stage").as("funnel_stage"))
      .orderBy(col("user_id"))

  /** Stateless per-(source, class) quality rollup — text_quality's CASE
    * rules applied at the ingest boundary. Stateless classification +
    * Complete-mode bounded aggregate: the state is sources × 3 rows
    * regardless of ingest volume. */
  def qualityGateCounts(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.{markerHits, words}
    val en = Seq("the", "a", "of", "and", "to", "is")
    docs
      .select(col("source"),
        size(words(col("text"))).cast("long").as("n_words"),
        markerHits(col("text"), en).cast("long").as("stop_hits"))
      .withColumn("quality_class",
        when(col("n_words") < 40L, "TOO_SHORT")
          .when(col("stop_hits").cast("double") / col("n_words") > 0.12, "BOILERPLATE")
          .otherwise("OK"))
      .groupBy(col("source"), col("quality_class"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"))
  }

  /** Per-source deterministic reservoir size for [[streamSample]]. */
  val StreamSampleK = 8

  /** stream_sample — deterministic reservoir sampling AT INGEST: each
    * arriving doc competes for its source's [[StreamSampleK]] sample
    * slots by Knuth-hash priority (the sample_quota_by_source
    * discipline: smallest (hash, doc_id) win), held in bounded
    * per-source keyed state — K longs per source, regardless of ingest
    * volume. Because the priority is a pure function of doc_id, the
    * final sample is ARRIVAL-ORDER-INVARIANT and equals the batch
    * hash-rank sample exactly (the oracle): a live crawl can keep a
    * statistically fixed per-source eyeball set without ever re-scanning.
    * Each micro-batch emits a key's current sample with a version
    * counter; the Update fold keeps each key's max-version emission
    * (idempotent under retries). */
  def streamSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def transform(docs: DataFrame): DataFrame = {
      docs
        .select(col("source"), col("doc_id"),
          pmod(col("doc_id") * 2654435741L, lit(1000000007L)).as("hk"))
        .as[SampleCand]
        .groupByKey(_.source)
        .mapGroupsWithState[SampleState, SampleEmit](GroupStateTimeout.NoTimeout) {
          (src: String, rows: Iterator[SampleCand], state: GroupState[SampleState]) =>
            val st = state.getOption.getOrElse(SampleState(0L, Nil))
            val merged = (st.members ++ rows.map(r => SampleMember(r.hk, r.doc_id)))
              .distinct
              .sortBy(m => (m.hk, m.doc_id))
              .take(StreamSampleK)
            val next = SampleState(st.ver + 1L, merged)
            state.update(next)
            SampleEmit(src, next.ver, merged)
        }
        .toDF()
    }
    replay(spark, dir, OutputMode.Update,
      transform, normalize = false, table = "documents")
      .groupBy(col("source"))
      .agg(max_by(col("members"), col("ver")).as("members"))
      .select(col("source"), posexplode(col("members")).as(Seq("i", "m")))
      .select(col("source"), (col("i") + 1L).as("rank"),
        col("m.doc_id").as("doc_id"), col("m.hk").as("hk"))
      .orderBy(col("source"), col("rank"))
  }

  val streamSampleSql: String =
    s"""WITH h AS (
      |  SELECT source, doc_id,
      |    (doc_id * 2654435741 % 1000000007) AS hk
      |  FROM documents
      |), r AS (
      |  SELECT source, doc_id, hk,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY hk, doc_id) AS rank
      |  FROM h
      |)
      |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, hk
      |FROM r WHERE rank <= $StreamSampleK
      |ORDER BY source, rank""".stripMargin

  /** Per-doc STATELESS chunk derivation — text_chunks' row-local fold
    * ([[graft.operators.TextAnalysis.chunkRowsOf]]): chunking a stream
    * needs no aggregation state at all because every chunk row is
    * derivable inside its document's own row. */
  def chunkRows(docs: DataFrame): DataFrame =
    graft.operators.TextAnalysis.chunkRowsOf(docs)

  /** stream_chunk_index — the retrieval chunk table built AT INGEST:
    * each arriving document emits its 256/224-token chunk rows
    * ([[chunkRows]]) into an Append parquet sink — exactly how a streaming
    * corpus keeps its RAG index current. Stateless (no watermark, no
    * keyed state, no shuffle before the sink), so ingest cost is one
    * map pass per doc and the sink is the only I/O; oracle-checked
    * against the batch text_chunks SQL, and spec-pinned bit-equal to
    * the batch operator's explode + groupBy formulation. */
  def streamChunkIndex(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, OutputMode.Append,
      chunkRows, normalize = false, table = "documents")
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** stream_quality_gate — the pretraining quality filter AT INGEST:
    * documents arriving on a stream classify TOO_SHORT / BOILERPLATE /
    * OK by the same stateless rules the batch text_quality op applies,
    * rolled up per (source, class) in Complete mode. A production crawl
    * ingests through exactly this gate — the rollup is the live
    * drop-rate dashboard, and the oracle pins it to the batch rules so
    * the gate cannot drift from the offline filter. Stateless
    * classification means no watermark and no keyed state beyond the
    * sources × 3 aggregate rows. */
  def streamQualityGate(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, OutputMode.Complete,
      qualityGateCounts, normalize = false, table = "documents")
      .orderBy(col("source"), col("quality_class"))

  val streamQualityGateSql: String = {
    import graft.functions.TextFunctions.wordsSql
    val w = wordsSql("text")
    val stops = "('the','a','of','and','to','is')"
    s"""WITH d AS (
      |  SELECT source,
      |    CAST(len($w) AS BIGINT) AS n_words,
      |    CAST(len(list_filter($w, x -> x IN $stops)) AS BIGINT) AS stop_hits
      |  FROM documents
      |)
      |SELECT source,
      |  CASE WHEN n_words < 40 THEN 'TOO_SHORT'
      |       WHEN CAST(stop_hits AS DOUBLE) / n_words > 0.12 THEN 'BOILERPLATE'
      |       ELSE 'OK' END AS quality_class,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_words) AS BIGINT) AS n_words
      |FROM d GROUP BY 1, 2
      |ORDER BY source, quality_class""".stripMargin
  }
}
