package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** A multimodal record: opaque payload bytes + typed metadata. */
case class MmRecord(doc_id: Long, payload: Array[Byte], width: Int, height: Int, fmt: String)

/** Extracted features for one record. The vectors are emitted as
  * quantized fingerprint strings (1e-9 grid, comma-joined) rather than
  * raw arrays: bit-deterministic, and sortable by any downstream tool —
  * the driver's pandas-based compare cannot sort ndarray cells.
  * feature_norm is the RAW histogram's L2 magnitude on the 1e-9 grid:
  * the squared-count sum is an exact integer in double, so
  * sqrt → quantize is bit-identical across engines (the normalized
  * vector's norm is trivially 1 and would only test FP noise). */
case class MmFeatures(doc_id: Long, width: Int, height: Int, n_bytes: Int,
                      feature_fp: String, feature_norm: Double,
                      resized_fp: String, n_frames: Int)

/** Multimodal column plumbing (SURVEY.md §2.D).
  *
  * Images/audio/video are opaque `binary` columns with typed metadata;
  * decode / feature-extraction runs batch-wise per partition — the Scala
  * analog of `mapInPandas` (partition-local, no shuffle, arbitrary
  * library calls inside). The decode step itself is a deterministic STUB
  * (byte-bucket histogram standing in for a real image decode — codec
  * libs aren't in this container); the Spark-side plumbing — schema,
  * binary column, typed Dataset boundary, per-partition batching — is
  * real and tested (MultimodalSpec).
  */
object Multimodal {

  /** Raw 16-bin byte histogram (integer counts in doubles). */
  private[graft] def rawHistogram(payload: Array[Byte]): Array[Double] = {
    val hist = new Array[Double](16)
    var i = 0
    while (i < payload.length) { hist((payload(i) & 0xFF) % 16) += 1.0; i += 1 }
    hist
  }

  /** Stub "resize": 2× average-pool of a feature map (the image-resize
    * analog on the extracted representation). */
  private[graft] def resizeStub(feature: Array[Double]): Array[Double] =
    feature.grouped(2).map(g => g.sum / g.length).toArray

  /** Quantized fingerprint of a feature vector: each element snapped to
    * the 1e-9 grid as a long, comma-joined. Exact across JVMs/engines. */
  private[graft] def fingerprint(v: Array[Double]): String =
    v.map(x => math.floor(x * 1e9 + 0.5).toLong).mkString(",")

  /** Stub "frame sampling": the payload is treated as 256-byte frames
    * (a video's GOP analog); every 4th frame is selected, as in
    * mm_frames. Returns the sampled frame count — a real pipeline would
    * emit the frame byte slices for per-frame decode. */
  private[graft] def frameSample(payload: Array[Byte]): Int = {
    val frames = (payload.length + 255) / 256
    (frames + 3) / 4
  }

  /** The multimodal table: documents' text bytes standing in for an
    * image payload, with typed metadata derived deterministically. */
  def mmTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      ((col("n_chars") % 64) + 8).cast("int").as("width"),
      ((col("doc_id") % 48) + 8).cast("int").as("height"),
      lit("fake-rgb8").as("fmt"))

  /** mm_features — decode + feature-extract over the binary column,
    * partition-local (mapPartitions over a typed Dataset; each partition
    * is one batch, so a real decoder could amortize codec init exactly
    * like a Pandas UDF batch). Rows-only. */
  def mmFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mmTable(spark, dir).as[MmRecord]
      .mapPartitions { it =>
        it.map { r =>
          val hist = rawHistogram(r.payload)
          val magnitude = math.sqrt(hist.map(x => x * x).sum) // exact-int sum
          val f = if (magnitude == 0) hist else hist.map(_ / magnitude)
          MmFeatures(r.doc_id, r.width, r.height, r.payload.length,
            fingerprint(f), math.floor(magnitude * 1e9 + 0.5) / 1e9,
            fingerprint(resizeStub(f)), frameSample(r.payload))
        }
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** mm_frames — per-frame processing of a video-like payload: the
    * binary column splits into fixed-size frames (GOP analog), every
    * `stride`-th frame is sampled and fingerprinted, and the per-doc
    * rollup reports frame counts plus sampled-frame fingerprints
    * (distinct count, min/max — duplicate-frame detection at the frame
    * level). mm_features reports only the sampled-frame COUNT; this is
    * the real per-frame fan-out a video pipeline runs (explode →
    * per-frame decode → rollup).
    *
    * Scale shape: the explode multiplies rows, not bytes scanned — each
    * frame row carries one 256-byte slice of the already-read payload;
    * the rollup re-aggregates on doc_id with map-side combine. A real
    * decoder would sit where md5 sits, batched per partition. */
  /** Generic frame fan-out over any (id, payload) relation — the
    * testable core of mm_frames. Frame slicing + sampling + hashing is
    * the same ChunkHashes codegen kernel as chunk dedup, with the
    * stride applied INSIDE the kernel — skipped frames are never
    * materialized, and the exploded stream carries fingerprints, not
    * payload copies. Slicing is byte-true (payload cast to binary);
    * on the ASCII corpus this is identical to the oracle's character
    * slicing, and an empty payload contributes no frames. */
  def mmFramesOf(df: DataFrame, idCol: String,
                 payload: org.apache.spark.sql.Column,
                 frameChars: Int, stride: Int): DataFrame = {
    import org.apache.spark.sql.graftvec.ChunkExpressions.chunkHashes
    df.select(col(idCol), payload.cast("binary").as("p"))
      .withColumn("n_frames",
        ceil(octet_length(col("p")).cast("double") / frameChars).cast("long"))
      .select(col(idCol), col("n_frames"),
        explode(chunkHashes(col("p"), frameChars, stride)).as("c"))
      .groupBy(col(idCol))
      .agg(max(col("n_frames")).as("n_frames"),
        count(lit(1)).as("n_sampled"),
        count_distinct(col("c.chunk_fp")).as("n_distinct_sampled"),
        min(col("c.chunk_fp")).as("first_fp"),
        max(col("c.chunk_fp")).as("last_fp"))
  }

  def mmFrames(spark: SparkSession, dir: String): DataFrame =
    mmFramesOf(Tables.documents(spark, dir), "doc_id", col("text"),
        frameChars = 256, stride = 4)
      .orderBy(col("doc_id"))

  /** DuckDB oracle for mm_frames: the payload is the (ASCII) text
    * bytes, so frame slicing is substring arithmetic — generate frame
    * indices per doc, slice, hash, roll up. Spark's `substring(pos >
    * len)` and DuckDB's both yield '' for the tail guard; indices stay
    * in-range by construction. */
  val mmFramesSql: String =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS n_bytes,
      |    CAST(CEIL(CAST(length(text) AS DOUBLE) / 256) AS BIGINT) AS n_frames
      |  FROM documents
      |), fr AS (
      |  SELECT doc_id, n_frames,
      |    md5(substring(text, CAST(f * 256 + 1 AS INTEGER), 256)) AS frame_fp
      |  FROM d, LATERAL (SELECT unnest(range(0, n_frames)) AS f)
      |  WHERE f % 4 = 0
      |)
      |SELECT doc_id, MAX(n_frames) AS n_frames, COUNT(*) AS n_sampled,
      |  COUNT(DISTINCT frame_fp) AS n_distinct_sampled,
      |  MIN(frame_fp) AS first_fp, MAX(frame_fp) AS last_fp
      |FROM fr GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** mm_chunk_dedup — storage-layer deduplication of binary payloads,
    * the content-addressed-store question at 100 TB ("how much of this
    * corpus is literally the same bytes"): each payload splits into
    * fixed 128-byte chunks, chunks are hashed corpus-wide, and the
    * per-source rollup reports logical vs stored bytes (dedup ratio as
    * one IEEE divide of exact longs), distinct-chunk counts, and the
    * hottest chunk's reference count. Planted duplicate docs make some
    * sources genuinely dedup-able.
    *
    * Scale shape: the explode multiplies rows, not bytes scanned (each
    * chunk row is one slice of the already-read payload); only chunk
    * HASHES shuffle, once, with map-side combine — the blob store never
    * moves payload bytes to answer the question. */
  /** Generic chunk-level dedup accounting over any (group, payload)
    * relation: the payload column splits into fixed `chunkBytes`
    * chunks, chunk hashes count corpus-wide per group, and the rollup
    * reports logical vs stored bytes with the dedup ratio. Only chunk
    * hashes ever shuffle.
    *
    * Accounting is byte-true: the payload is sliced as BINARY with
    * octet_length sizes, so a multi-byte UTF-8 text payload chunks on
    * real byte boundaries, same as any opaque blob. (The DuckDB oracle
    * slices VARCHAR — its 1.0 build has no BLOB substring — which is
    * byte-identical on the ASCII test corpus.) Empty payloads carry no
    * chunks.
    *
    * Chunking + hashing is ONE native codegen node
    * (graftvec.ChunkHashes, SketchKernelSpec asserts ≡ the declarative
    * explode→substring→md5 it replaced): the payload is scanned once
    * and only 32-char fingerprints enter the exploded stream — the
    * declarative shape duplicated the full payload per chunk row
    * between the Generate and the projection. */
  def chunkDedupOf(df: DataFrame, groupCol: String,
                   payload: org.apache.spark.sql.Column, chunkBytes: Int): DataFrame = {
    import org.apache.spark.sql.graftvec.ChunkExpressions.chunkHashes
    val perChunk = df
      .select(col(groupCol),
        explode(chunkHashes(payload.cast("binary"), chunkBytes)).as("c"))
      .select(col(groupCol), col("c.chunk_fp").as("chunk_fp"),
        col("c.chunk_bytes").as("chunk_bytes"))
      .groupBy(col(groupCol), col("chunk_fp"))
      .agg(count(lit(1)).as("n_refs"), max(col("chunk_bytes")).as("chunk_bytes"))
    perChunk.groupBy(col(groupCol))
      .agg(sum(col("n_refs")).as("n_chunks"),
        count(lit(1)).as("n_distinct_chunks"),
        sum(col("n_refs") * col("chunk_bytes")).as("logical_bytes"),
        sum(col("chunk_bytes")).as("stored_bytes"),
        max(col("n_refs")).as("max_chunk_refs"))
      .withColumn("dedup_ratio",
        col("logical_bytes").cast("double") / col("stored_bytes"))
  }

  def mmChunkDedup(spark: SparkSession, dir: String): DataFrame =
    chunkDedupOf(
      Tables.documents(spark, dir).select(col("doc_id"), col("source"), col("text")),
      "source", col("text"), 128)
      .orderBy(col("source"))

  val mmChunkDedupSql: String =
    """WITH d AS (
      |  SELECT doc_id, source, text, length(text) AS nb,
      |    CAST(CEIL(CAST(length(text) AS DOUBLE) / 128) AS BIGINT) AS n_chunks
      |  FROM documents
      |), ch AS (
      |  SELECT source,
      |    md5(substring(text, CAST(ci * 128 + 1 AS INTEGER), 128)) AS chunk_fp,
      |    length(substring(text, CAST(ci * 128 + 1 AS INTEGER), 128)) AS chunk_bytes
      |  FROM d, LATERAL (SELECT unnest(range(0, n_chunks)) AS ci)
      |), pc AS (
      |  SELECT source, chunk_fp, COUNT(*) AS n_refs, MAX(chunk_bytes) AS chunk_bytes
      |  FROM ch GROUP BY 1, 2
      |)
      |SELECT source, CAST(SUM(n_refs) AS BIGINT) AS n_chunks,
      |  COUNT(*) AS n_distinct_chunks,
      |  CAST(SUM(n_refs * chunk_bytes) AS BIGINT) AS logical_bytes,
      |  CAST(SUM(chunk_bytes) AS BIGINT) AS stored_bytes,
      |  CAST(MAX(n_refs) AS BIGINT) AS max_chunk_refs,
      |  CAST(SUM(n_refs * chunk_bytes) AS DOUBLE) / SUM(chunk_bytes) AS dedup_ratio
      |FROM pc GROUP BY source
      |ORDER BY source""".stripMargin

  /** DuckDB oracle for mm_features: the stub decode is arithmetic over
    * the text's (ASCII) bytes, so the whole pipeline is replayable in
    * SQL — per-bucket char counts, exact-integer squared-sum magnitude,
    * IEEE-identical normalize/average ops, 1e-9-grid fingerprints.
    * Generated programmatically (16 histogram bins). */
  lazy val mmFeaturesSql: String = {
    val hists = (0 until 16).map(i =>
      s"CAST(len(list_filter(string_split(text, ''), c -> unicode(c) % 16 = $i)) AS DOUBLE) AS h$i")
      .mkString(",\n    ")
    val normSq = (0 until 16).map(i => s"h$i*h$i").mkString(" + ")
    val fs = (0 until 16).map(i =>
      s"CASE WHEN mag = 0 THEN h$i ELSE h$i / mag END AS f$i").mkString(",\n    ")
    def fpList(exprs: Seq[String]): String =
      exprs.map(e => s"CAST(CAST(FLOOR(($e) * 1e9 + 0.5) AS BIGINT) AS VARCHAR)")
        .mkString("array_to_string([", ",\n      ", "], ',')")
    val featureFp = fpList((0 until 16).map(i => s"f$i"))
    val resizedFp = fpList((0 until 8).map(j => s"(f${2 * j} + f${2 * j + 1}) / 2"))
    s"""WITH h AS (
      |  SELECT doc_id, n_chars, length(text) AS n_bytes,
      |    $hists
      |  FROM documents
      |), m AS (
      |  SELECT *, sqrt($normSq) AS mag FROM h
      |), f AS (
      |  SELECT *, $fs FROM m
      |)
      |SELECT doc_id,
      |  (n_chars % 64) + 8 AS width,
      |  (doc_id % 48) + 8 AS height,
      |  n_bytes,
      |  $featureFp AS feature_fp,
      |  FLOOR(mag * 1e9 + 0.5) / 1e9 AS feature_norm,
      |  $resizedFp AS resized_fp,
      |  ((n_bytes + 255) // 256 + 3) // 4 AS n_frames
      |FROM f
      |ORDER BY doc_id""".stripMargin
  }

  /** mm_bytes_histogram — blob-size census of the binary column in
    * power-of-two byte bands (explicit CASE ladder): blob count, exact
    * total bytes, mean size (one divide), and the frame-sample budget
    * each band implies (the integer (len+255) div 256 → (frames+3)
    * div 4 arithmetic of [[frameSample]], summed exactly). The storage/
    * shard-planning view of a 100 TB blob store: which size class
    * dominates bytes decides block size, and the frame budget is the
    * decode bill. Map-side census, ≤6-row rollup. */
  def mmBytesHistogram(spark: SparkSession, dir: String): DataFrame = {
    val sized = mmTable(spark, dir)
      .select(length(col("payload")).cast("long").as("n_bytes"))
      .withColumn("frames", expr("(n_bytes + 255) div 256"))
      .withColumn("sampled_frames", expr("(frames + 3) div 4"))
      .withColumn("size_band",
        when(col("n_bytes") <= 256, "01_le256")
          .when(col("n_bytes") <= 512, "02_le512")
          .when(col("n_bytes") <= 1024, "03_le1k")
          .when(col("n_bytes") <= 2048, "04_le2k")
          .when(col("n_bytes") <= 4096, "05_le4k")
          .otherwise("06_gt4k"))
    sized.groupBy(col("size_band"))
      .agg(count(lit(1)).as("n_blobs"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(col("sampled_frames")).as("frame_budget"))
      .withColumn("mean_bytes",
        col("total_bytes").cast("double") / col("n_blobs").cast("double"))
      .select(col("size_band"), col("n_blobs"), col("total_bytes"),
        col("frame_budget"), col("mean_bytes"))
      .orderBy(col("size_band"))
  }

  val mmBytesHistogramSql: String =
    """WITH sized AS (
      |  SELECT CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |    ((CAST(octet_length(encode(text)) AS BIGINT) + 255) // 256 + 3) // 4
      |      AS sampled_frames
      |  FROM documents
      |),
      |banded AS (
      |  SELECT n_bytes, sampled_frames,
      |    CASE WHEN n_bytes <= 256 THEN '01_le256'
      |         WHEN n_bytes <= 512 THEN '02_le512'
      |         WHEN n_bytes <= 1024 THEN '03_le1k'
      |         WHEN n_bytes <= 2048 THEN '04_le2k'
      |         WHEN n_bytes <= 4096 THEN '05_le4k'
      |         ELSE '06_gt4k' END AS size_band
      |  FROM sized
      |)
      |SELECT size_band, COUNT(*) AS n_blobs,
      |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
      |  CAST(SUM(sampled_frames) AS BIGINT) AS frame_budget,
      |  CAST(CAST(SUM(n_bytes) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
      |    AS mean_bytes
      |FROM banded GROUP BY size_band
      |ORDER BY size_band""".stripMargin

  /** mm_chunk_popularity — chunk-sharing census across the whole blob
    * store: every distinct 128-byte chunk fingerprint bucketed by its
    * reference count in power-of-two bands (1, 2, 3-4, 5-8, 9+), with
    * stored vs logical byte mass per band. This is the evidence behind
    * a content-addressed store's dedup ratio: refs=1 mass is
    * incompressible by CAS, the 9+ tail is the hot-chunk cache working
    * set, and the band boundary movement between snapshots is the
    * "did enabling CAS pay" answer — mm_chunk_dedup reports the ratio
    * per source, this shows WHERE it comes from.
    *
    * Scale shape: one ChunkHashes kernel pass (payload scanned once,
    * only 32-char fingerprints exploded), one fingerprint shuffle for
    * the global DF, a ≤5-row band rollup. Explicit CASE band ladder —
    * no libm log2 near a boundary. */
  def mmChunkPopularity(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftvec.ChunkExpressions.chunkHashes
    val perFp = Tables.documents(spark, dir)
      .select(explode(chunkHashes(col("text").cast("binary"), 128)).as("c"))
      .select(col("c.chunk_fp").as("chunk_fp"), col("c.chunk_bytes").as("chunk_bytes"))
      .groupBy(col("chunk_fp"))
      .agg(count(lit(1)).as("n_refs"), max(col("chunk_bytes")).as("chunk_bytes"))
    perFp
      .withColumn("ref_band",
        when(col("n_refs") === 1L, "1")
          .when(col("n_refs") === 2L, "2")
          .when(col("n_refs") <= 4L, "3-4")
          .when(col("n_refs") <= 8L, "5-8")
          .otherwise("9+"))
      .groupBy(col("ref_band"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_refs")).as("total_refs"),
        sum(col("chunk_bytes")).as("stored_bytes"),
        sum(col("n_refs") * col("chunk_bytes")).as("logical_bytes"))
      .withColumn("cas_savings_bytes", col("logical_bytes") - col("stored_bytes"))
      .orderBy(col("ref_band"))
  }

  val mmChunkPopularitySql: String =
    """WITH d AS (
      |  SELECT doc_id, text,
      |    CAST(CEIL(CAST(length(text) AS DOUBLE) / 128) AS BIGINT) AS n_chunks
      |  FROM documents
      |), ch AS (
      |  SELECT md5(substring(text, CAST(ci * 128 + 1 AS INTEGER), 128)) AS chunk_fp,
      |    length(substring(text, CAST(ci * 128 + 1 AS INTEGER), 128)) AS chunk_bytes
      |  FROM d, LATERAL (SELECT unnest(range(0, n_chunks)) AS ci)
      |), pf AS (
      |  SELECT chunk_fp, COUNT(*) AS n_refs, MAX(chunk_bytes) AS chunk_bytes
      |  FROM ch GROUP BY 1
      |)
      |SELECT CASE WHEN n_refs = 1 THEN '1' WHEN n_refs = 2 THEN '2'
      |            WHEN n_refs <= 4 THEN '3-4' WHEN n_refs <= 8 THEN '5-8'
      |            ELSE '9+' END AS ref_band,
      |  COUNT(*) AS n_chunks,
      |  CAST(SUM(n_refs) AS BIGINT) AS total_refs,
      |  CAST(SUM(chunk_bytes) AS BIGINT) AS stored_bytes,
      |  CAST(SUM(n_refs * chunk_bytes) AS BIGINT) AS logical_bytes,
      |  CAST(SUM(n_refs * chunk_bytes) AS BIGINT) - CAST(SUM(chunk_bytes) AS BIGINT)
      |    AS cas_savings_bytes
      |FROM pf
      |GROUP BY 1
      |ORDER BY ref_band""".stripMargin

  /** mm_scene_changes — adjacent-frame change rate per source, the
    * scene-cut proxy a video pipeline computes before deciding frame
    * sampling density: consecutive 256-byte frame fingerprints compared
    * per doc (stride 1 — every transition), transitions with a
    * fingerprint change counted against total transitions. High change
    * rate → dense sampling needed (every frame distinct); low → stride
    * sampling is lossless-ish (mm_stride_coverage says what it costs).
    * The per-doc lag window is bounded by frames-per-payload, never
    * corpus-sized; the exploded stream carries 32-char fingerprints
    * (ChunkHashes kernel), not payload copies. */
  def mmSceneChanges(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftvec.ChunkExpressions.chunkHashes
    import org.apache.spark.sql.expressions.Window
    val fr = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(chunkHashes(col("text").cast("binary"), 256, 1)).as("c"))
      .select(col("doc_id"), col("source"),
        col("c.chunk_i").as("ci"), col("c.chunk_fp").as("fp"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("ci"))
    fr.withColumn("prev", lag(col("fp"), 1).over(w))
      .withColumn("is_transition",
        when(col("prev").isNotNull, 1L).otherwise(0L))
      .withColumn("is_change",
        when(col("prev").isNotNull && col("prev") =!= col("fp"), 1L).otherwise(0L))
      .groupBy(col("source"))
      .agg(count_distinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_frames"),
        sum(col("is_transition")).as("n_transitions"),
        sum(col("is_change")).as("scene_changes"))
      .withColumn("change_bp",
        expr("(scene_changes * 10000L) DIV greatest(n_transitions, 1L)"))
      .orderBy(col("source"))
  }

  /** DuckDB oracle for mm_scene_changes: frame fingerprints via the
    * same character-slicing arithmetic as the mm_frames oracle (ASCII
    * corpus — byte slicing ≡ char slicing), LAG per doc. */
  val mmSceneChangesSql: String =
    """WITH d AS (
      |  SELECT doc_id, source, text,
      |    CAST(CEIL(CAST(length(text) AS DOUBLE) / 256) AS BIGINT) AS n_frames
      |  FROM documents
      |), fr AS (
      |  SELECT doc_id, source, f,
      |    md5(substring(text, CAST(f * 256 + 1 AS INTEGER), 256)) AS fp
      |  FROM d, LATERAL (SELECT unnest(range(0, n_frames)) AS f)
      |), lagged AS (
      |  SELECT source, doc_id, fp,
      |    LAG(fp) OVER (PARTITION BY doc_id ORDER BY f) AS prev
      |  FROM fr
      |)
      |SELECT source,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  COUNT(*) AS n_frames,
      |  CAST(SUM(CASE WHEN prev IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_transitions,
      |  CAST(SUM(CASE WHEN prev IS NOT NULL AND prev <> fp THEN 1 ELSE 0 END) AS BIGINT) AS scene_changes,
      |  CAST((CAST(SUM(CASE WHEN prev IS NOT NULL AND prev <> fp THEN 1 ELSE 0 END) AS BIGINT) * 10000)
      |    // GREATEST(CAST(SUM(CASE WHEN prev IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT), 1) AS BIGINT) AS change_bp
      |FROM lagged
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** mm_stride_coverage — frame-sampling coverage audit: per (source,
    * stride ∈ {1,2,4,8}), what fraction of payload bytes the sampled
    * frames actually touch — the budget question BEFORE running a frame
    * pipeline ("stride 4 sees 25 % of frames, but how many BYTES given
    * ragged tails?"). Pure closed-form integer arithmetic on payload
    * lengths — no frame materialization, no kernel, no explode of
    * chunks: sampled = ⌈frames/stride⌉ and the tail frame's short bytes
    * subtract only when the stride lands on it. The ×4 stride explode
    * carries (source, len) longs into one map-combined aggregation;
    * contrast with mm_frames, which pays the fan-out because it needs
    * per-frame fingerprints. coverage_bp divides non-negative longs. */
  def mmStrideCoverage(spark: SparkSession, dir: String): DataFrame = {
    val strides = Seq(1L, 2L, 4L, 8L)
    Tables.documents(spark, dir)
      .select(col("source"),
        octet_length(col("text").cast("binary")).cast("long").as("len"))
      .withColumn("n_frames", expr("(len + 255L) DIV 256L"))
      .withColumn("stride", explode(array(strides.map(lit): _*)))
      .withColumn("sampled", expr("(n_frames + stride - 1L) DIV stride"))
      .withColumn("tail_short",
        expr("""CASE WHEN n_frames > 0 AND (n_frames - 1L) % stride = 0
               |       AND len % 256L <> 0
               |     THEN 256L - (len % 256L) ELSE 0L END""".stripMargin))
      .withColumn("covered", col("sampled") * 256L - col("tail_short"))
      .groupBy(col("source"), col("stride"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("len")).as("payload_bytes"),
        sum(col("sampled")).as("frames_sampled"),
        sum(col("covered")).as("bytes_covered"))
      .withColumn("coverage_bp",
        expr("(bytes_covered * 10000L) DIV greatest(payload_bytes, 1L)"))
      .orderBy(col("source"), col("stride"))
  }

  val mmStrideCoverageSql: String =
    """WITH d AS (
      |  SELECT source, CAST(length(text) AS BIGINT) AS len,
      |    (CAST(length(text) AS BIGINT) + 255) // 256 AS n_frames
      |  FROM documents
      |), s AS (SELECT CAST(UNNEST([1, 2, 4, 8]) AS BIGINT) AS stride),
      |y AS (
      |  SELECT source, stride, len,
      |    (n_frames + stride - 1) // stride AS sampled,
      |    CASE WHEN n_frames > 0 AND (n_frames - 1) % stride = 0
      |           AND len % 256 <> 0
      |         THEN 256 - (len % 256) ELSE 0 END AS tail_short
      |  FROM d, s
      |)
      |SELECT source, stride,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(len) AS BIGINT) AS payload_bytes,
      |  CAST(SUM(sampled) AS BIGINT) AS frames_sampled,
      |  CAST(SUM(sampled * 256 - tail_short) AS BIGINT) AS bytes_covered,
      |  CAST((CAST(SUM(sampled * 256 - tail_short) AS BIGINT) * 10000)
      |    // GREATEST(CAST(SUM(len) AS BIGINT), 1) AS BIGINT) AS coverage_bp
      |FROM y
      |GROUP BY source, stride
      |ORDER BY source, stride""".stripMargin

  /** mm_dup_manifest — the PER-ASSET dedup manifest of the blob store,
    * the multimodal twin of text_dup_coverage: for every document
    * payload, how many of its 128-byte content chunks also occur in at
    * least one OTHER document (cross-asset sharing — within-asset
    * repeats deliberately don't count), as an exact basis-point share,
    * with assets ≥ 50 % cross-shared flagged drop candidates. The
    * chunk-level census ops say how much a CAS store saves
    * (mm_chunk_dedup per source, mm_chunk_popularity globally); this
    * names WHICH assets are the redundant ones — the row a curation
    * pipeline filters on.
    *
    * Scale shape: one ChunkHashes kernel pass (payload bytes never
    * shuffle — only 16-byte fingerprints), one fp-keyed
    * distinct-doc-count shuffle, one fp→chunk join back, one per-doc
    * rollup. Output ∝ assets.
    *
    * Oracle note (the chunkDedupOf assumption, restated): the Spark
    * side chunks the UTF-8 BYTES (text cast to binary, 128-byte
    * windows) while the DuckDB twin slices by CHARACTER — identical
    * only on an ASCII corpus, which the synthetic documents table is.
    * A multi-byte corpus would need a BLOB-slicing oracle. */
  def mmDupManifest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftvec.ChunkExpressions.chunkHashes
    val ch = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(chunkHashes(col("text").cast("binary"), 128)).as("c"))
      .select(col("doc_id"), col("c.chunk_fp").as("fp"))
    // n_docs_with (distinct docs per fp) via dense_rank+max over one
    // window instead of distinct→groupBy(fp)→join-back: the old shape
    // ran the ChunkHashes kernel over the payload bytes TWICE and
    // exchanged the fingerprint rows twice; dense_rank over (fp, doc_id)
    // numbers a group's distinct docs 1..K and its unordered max is K —
    // one kernel pass, one exchange, identical values and identical
    // hot-fp exposure.
    import org.apache.spark.sql.expressions.Window
    ch
      .withColumn("dr", dense_rank()
        .over(Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      .withColumn("n_docs_with",
        max(col("dr")).over(Window.partitionBy(col("fp"))).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_docs_with") >= 2L, 1L).otherwise(0L)).as("shared_chunks"))
      .withColumn("shared_bp",
        expr("(shared_chunks * 10000L) DIV greatest(n_chunks, 1L)"))
      .withColumn("drop_candidate", col("shared_bp") >= 5000L)
      .select(col("doc_id"), col("n_chunks"), col("shared_chunks"),
        col("shared_bp"), col("drop_candidate"))
      .orderBy(col("doc_id"))
  }

  val mmDupManifestSql: String =
    """WITH d AS (
      |  SELECT doc_id, text,
      |    CAST(CEIL(CAST(length(text) AS DOUBLE) / 128) AS BIGINT) AS n_chunks
      |  FROM documents
      |), ch AS (
      |  SELECT doc_id,
      |    md5(substring(text, CAST(ci * 128 + 1 AS INTEGER), 128)) AS fp
      |  FROM d, LATERAL (SELECT unnest(range(0, n_chunks)) AS ci)
      |), fpd AS (
      |  SELECT fp, COUNT(*) AS n_docs_with
      |  FROM (SELECT DISTINCT doc_id, fp FROM ch) GROUP BY fp
      |)
      |SELECT ch.doc_id, COUNT(*) AS n_chunks,
      |  CAST(SUM(CASE WHEN f.n_docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS shared_chunks,
      |  CAST((CAST(SUM(CASE WHEN f.n_docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    * 10000) // GREATEST(COUNT(*), 1) AS BIGINT) AS shared_bp,
      |  (CAST((CAST(SUM(CASE WHEN f.n_docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    * 10000) // GREATEST(COUNT(*), 1) AS BIGINT)) >= 5000 AS drop_candidate
      |FROM ch JOIN fpd f USING (fp)
      |GROUP BY ch.doc_id
      |ORDER BY doc_id""".stripMargin
}
