package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Prefix, Tables}

/** Source↔target reconciliation (SURVEY.md §2.B).
  *
  * Re-expresses the reference's verification surface:
  *  - count compare             (verify_replication.py:54-70)
  *  - row-by-row consistency    (verify_replication.py:99-146)
  *  - batch replication status  (check_batch_replication_status.sql)
  *  - latest batch status       (check_latest_batch_replication_status.sql)
  *  - multi-table health        (check_multiple_tables_replication_status.sql)
  * plus the scale-path `recon_hash_bucket` two-phase compare.
  *
  * The "target" side is the source with a deterministic simulated drift so
  * diffs are non-empty and exactly checkable (SURVEY.md §2.B):
  *  - rows dropped where key % 1000 = 7     (missing_in_target)
  *  - extra rows where key % 1000 = 13, re-keyed +100000000 (missing_in_source)
  *  - o_totalprice += 1.0 where key % 500 = 3   (value_mismatch)
  */
object Reconcile {

  /** The demo replication topology, shared by slot_pub_match and
    * latest_batch_status so the reported slot/publication can never
    * drift from what the matcher derives. (Declared first: object vals
    * initialize in source order, and the SQL strings below interpolate
    * these.) */
  val DemoSlot = "cdc_orders_pub_slot"
  val DemoPublication = "orders_pub"

  /** The deterministic drifted copy of `orders` standing in for the target
    * database table. */
  def driftedTarget(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val kept = o.filter(col("o_orderkey") % 1000 =!= 7)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 500 === 3, col("o_totalprice") + 1.0d)
          .otherwise(col("o_totalprice")))
    val extra = o.filter(col("o_orderkey") % 1000 === 13)
      .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
    kept.unionAll(extra)
  }

  private val driftedTargetSql =
    """SELECT o_orderkey,
      |       o_custkey,
      |       CASE WHEN o_orderkey % 500 = 3 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
      |FROM orders WHERE o_orderkey % 1000 <> 7
      |UNION ALL
      |SELECT o_orderkey + 100000000, o_custkey, o_totalprice
      |FROM orders WHERE o_orderkey % 1000 = 13""".stripMargin

  /** recon_count — source vs target row counts (the verifier's first,
    * cheapest check). One row per logical table. */
  def reconCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = Tables.orders(spark, dir).count()
    val tgt = driftedTarget(spark, dir).count()
    Seq(("orders", src, tgt, src == tgt))
      .toDF("table_name", "source_count", "target_count", "counts_match")
  }

  val reconCountSql: String =
    s"""SELECT 'orders' AS table_name,
      |  (SELECT COUNT(*) FROM orders) AS source_count,
      |  (SELECT COUNT(*) FROM ($driftedTargetSql)) AS target_count,
      |  (SELECT COUNT(*) FROM orders) = (SELECT COUNT(*) FROM ($driftedTargetSql)) AS counts_match""".stripMargin

  /** Generic row-by-row consistency diff between any two relations keyed
    * by `keyCol`, comparing `valueCol`: full outer join on the key,
    * emitting only divergent rows classified as missing_in_target /
    * missing_in_source / value_mismatch (the verifier's
    * compare_table_consistency, verify_replication.py:99-146). */
  def rowDiffOf(src: DataFrame, tgt: DataFrame,
                keyCol: String, valueCol: String): DataFrame = {
    val s = src.select(col(keyCol).as("key"), col(valueCol).as("src_amount"))
    val t = tgt.select(col(keyCol).as("key"), col(valueCol).as("tgt_amount"))
    s.join(t, Seq("key"), "full_outer")
      .withColumn("diff_type",
        when(col("tgt_amount").isNull, "missing_in_target")
          .when(col("src_amount").isNull, "missing_in_source")
          .when(col("src_amount") =!= col("tgt_amount"), "value_mismatch"))
      .filter(col("diff_type").isNotNull)
      .select(col("key"), col("diff_type"), col("src_amount"), col("tgt_amount"))
  }

  /** recon_row_diff — row diff of orders vs the drift-simulated target. */
  def reconRowDiff(spark: SparkSession, dir: String): DataFrame =
    rowDiffOf(Tables.orders(spark, dir), driftedTarget(spark, dir),
      "o_orderkey", "o_totalprice")
      .orderBy(col("key"))

  val reconRowDiffSql: String =
    s"""WITH tgt AS ($driftedTargetSql),
      |src AS (SELECT o_orderkey AS key, o_totalprice AS src_amount FROM orders),
      |t2  AS (SELECT o_orderkey AS key, o_totalprice AS tgt_amount FROM tgt)
      |SELECT COALESCE(src.key, t2.key) AS key,
      |  CASE WHEN t2.key IS NULL THEN 'missing_in_target'
      |       WHEN src.key IS NULL THEN 'missing_in_source'
      |       WHEN src.src_amount <> t2.tgt_amount THEN 'value_mismatch' END AS diff_type,
      |  src.src_amount, t2.tgt_amount
      |FROM src FULL OUTER JOIN t2 ON src.key = t2.key
      |WHERE (t2.key IS NULL OR src.key IS NULL OR src.src_amount <> t2.tgt_amount)
      |ORDER BY key""".stripMargin

  /** recon_bucketed_diff — recon_row_diff over the CO-BUCKETED lake
    * layout, the actual 100 TB deployment shape: both sides are
    * materialized bucketed+sorted on the key (Sinks.writeBucketed — the
    * layout the ingest sink writes anyway), so the full-outer compare
    * join runs with ZERO exchange on either side (PlanSpec pins this).
    * The one shuffle each side ever pays is at write time, amortized
    * over every subsequent verify cycle — a daily re-verify of a
    * 100 TB pair becomes pure co-located scan work, no network. Here
    * the materialization cost is INCLUDED in the query (the tables are
    * rebuilt per run), so the bench number is the worst case; steady
    * state pays only the join. Output ≡ recon_row_diff, same oracle. */
  def reconBucketedDiff(spark: SparkSession, dir: String): DataFrame = {
    val buckets = 16
    graft.sources.Sinks.writeBucketed(
      Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice")),
      "graft_bk_recon_src", "o_orderkey", buckets)
    graft.sources.Sinks.writeBucketed(
      driftedTarget(spark, dir), "graft_bk_recon_tgt", "o_orderkey", buckets)
    rowDiffOf(spark.table("graft_bk_recon_src"), spark.table("graft_bk_recon_tgt"),
      "o_orderkey", "o_totalprice")
      .orderBy(col("key"))
  }

  /** Portable per-row digest used by the bucketed compare: engine-agnostic
    * modular arithmetic over (key, exact cents). The library-facing variant
    * would use xxhash64; the oracle needs a hash both engines compute
    * identically. */
  private[graft] def rowDigest(key: Column, amount: Column): Column =
    (key * 2654435761L % 1000000007L +
      floor(amount * 100d + 0.5d).cast("long") % 1000000007L) % 1000000007L

  /** Generic bucketed digest compare: aggregate each side to `buckets`
    * (count, sum-of-row-digests) pairs; only buckets whose digests differ
    * need row-level drill-down. The digest column expression must be an
    * order-independent exact value (long). Near scan-speed via map-side
    * combine; the shuffle is `buckets` rows per side. */
  def hashBucketDiffOf(src: DataFrame, tgt: DataFrame, keyCol: String,
                       digestOf: Column, buckets: Int): DataFrame =
    digestJoin(
      bucketDigestsOf(src, keyCol, digestOf, buckets, "src_count", "src_digest"),
      bucketDigestsOf(tgt, keyCol, digestOf, buckets, "tgt_count", "tgt_digest"))

  /** One side's per-bucket (count, sum-of-row-digests) rollup. Additive:
    * the streaming digests (CdcStream.streamReconDigest) apply it to each
    * micro-batch and sum the partials per bucket. */
  private[graft] def bucketDigestsOf(df: DataFrame, keyCol: String, digestOf: Column,
                                     buckets: Int, cnt: String, dig: String): DataFrame =
    df.withColumn("bucket", pmod(col(keyCol), lit(buckets.toLong)))
      .withColumn("rd", digestOf)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as(cnt), sum(col("rd")).as(dig))

  /** Full-outer digest compare of two per-bucket rollups. */
  private[graft] def digestJoin(srcd: DataFrame, tgtd: DataFrame): DataFrame =
    srcd.join(tgtd, Seq("bucket"), "full_outer")
      .withColumn("bucket_match",
        coalesce(col("src_count"), lit(-1L)) === coalesce(col("tgt_count"), lit(-2L)) &&
        coalesce(col("src_digest"), lit(-1L)) === coalesce(col("tgt_digest"), lit(-2L)))
      .select(col("bucket"), col("src_count"), col("tgt_count"),
              col("src_digest"), col("tgt_digest"), col("bucket_match"))

  /** The rows whose buckets mismatched, ready for row-level drill-down —
    * phase 2 of the two-phase compare: row_diff cost is paid only on the
    * (tiny) divergent fraction of the key space. */
  def drillDownOf(src: DataFrame, tgt: DataFrame, keyCol: String,
                  valueCol: String, badBuckets: DataFrame, buckets: Int): DataFrame = {
    def restrict(df: DataFrame) =
      df.withColumn("bucket", pmod(col(keyCol), lit(buckets.toLong)))
        .join(broadcast(badBuckets.select("bucket")), Seq("bucket"))
    rowDiffOf(restrict(src), restrict(tgt), keyCol, valueCol)
  }

  /** recon_hash_bucket — the 100 TB reconciliation path: aggregate each
    * side to B bucket digests (count + sum of row digests); only buckets
    * whose digests differ need row-level drill-down. Map-side combine makes
    * this near scan-speed; the shuffle is B rows per side. */
  def reconHashBucket(spark: SparkSession, dir: String): DataFrame =
    hashBucketDiffOf(
      Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice")),
      driftedTarget(spark, dir),
      "o_orderkey",
      rowDigest(col("o_orderkey"), col("o_totalprice")),
      64)
      .orderBy(col("bucket"))

  val reconHashBucketSql: String =
    s"""WITH tgt AS ($driftedTargetSql),
      |srcd AS (
      |  SELECT o_orderkey % 64 AS bucket, COUNT(*) AS src_count,
      |    CAST(SUM((o_orderkey * 2654435761 % 1000000007 + CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT) % 1000000007) % 1000000007) AS BIGINT) AS src_digest
      |  FROM orders GROUP BY 1),
      |tgtd AS (
      |  SELECT o_orderkey % 64 AS bucket, COUNT(*) AS tgt_count,
      |    CAST(SUM((o_orderkey * 2654435761 % 1000000007 + CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT) % 1000000007) % 1000000007) AS BIGINT) AS tgt_digest
      |  FROM tgt GROUP BY 1)
      |SELECT COALESCE(srcd.bucket, tgtd.bucket) AS bucket,
      |  src_count, tgt_count, src_digest, tgt_digest,
      |  COALESCE(src_count, -1) = COALESCE(tgt_count, -2)
      |    AND COALESCE(src_digest, -1) = COALESCE(tgt_digest, -2) AS bucket_match
      |FROM srcd FULL OUTER JOIN tgtd ON srcd.bucket = tgtd.bucket
      |ORDER BY bucket""".stripMargin

  /** recon_incremental — CDC-driven re-verification: instead of
    * re-comparing the whole table after every sync, only the key ranges
    * of batches completed AFTER the last verified watermark are
    * re-checked (batch = key-range decile, as in cdc_batch_ledger; the
    * watermark here says deciles 0-7 were verified last run). Each side
    * filters to the recent slice at scan speed — the batch id is
    * arithmetic on the key against a 1-row broadcast max — then the
    * standard bucketed digest compare runs on that slice alone. At
    * 100 TB this is the difference between a daily full-table verify
    * and one proportional to the day's churn; combined with the ladder
    * it is the reference's whole workflow made incremental. */
  def reconIncremental(spark: SparkSession, dir: String): DataFrame = {
    val mx = Tables.orders(spark, dir).agg(max(col("o_orderkey")).as("mx"))
    def recent(df: DataFrame) =
      df.crossJoin(broadcast(mx))
        .filter(floor(col("o_orderkey") * 10 / (col("mx") + 1)) >= 8)
        .drop("mx")
    hashBucketDiffOf(
      recent(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))),
      recent(driftedTarget(spark, dir)),
      "o_orderkey",
      rowDigest(col("o_orderkey"), col("o_totalprice")),
      16)
      .orderBy(col("bucket"))
  }

  val reconIncrementalSql: String =
    s"""WITH tgt AS ($driftedTargetSql),
      |mx AS (SELECT MAX(o_orderkey) + 1 AS m FROM orders),
      |rsrc AS (SELECT o_orderkey, o_totalprice FROM orders, mx
      |         WHERE FLOOR(o_orderkey * 10 / m) >= 8),
      |rtgt AS (SELECT o_orderkey, o_totalprice FROM tgt, mx
      |         WHERE FLOOR(o_orderkey * 10 / m) >= 8),
      |srcd AS (
      |  SELECT o_orderkey % 16 AS bucket, COUNT(*) AS src_count,
      |    CAST(SUM((o_orderkey * 2654435761 % 1000000007 + CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT) % 1000000007) % 1000000007) AS BIGINT) AS src_digest
      |  FROM rsrc GROUP BY 1),
      |tgtd AS (
      |  SELECT o_orderkey % 16 AS bucket, COUNT(*) AS tgt_count,
      |    CAST(SUM((o_orderkey * 2654435761 % 1000000007 + CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT) % 1000000007) % 1000000007) AS BIGINT) AS tgt_digest
      |  FROM rtgt GROUP BY 1)
      |SELECT COALESCE(srcd.bucket, tgtd.bucket) AS bucket,
      |  src_count, tgt_count, src_digest, tgt_digest,
      |  COALESCE(src_count, -1) = COALESCE(tgt_count, -2)
      |    AND COALESCE(src_digest, -1) = COALESCE(tgt_digest, -2) AS bucket_match
      |FROM srcd FULL OUTER JOIN tgtd ON srcd.bucket = tgtd.bucket
      |ORDER BY bucket""".stripMargin

  /** recon_merkle — hierarchical digest ladder (a two-level Merkle tree
    * over the key space): 8 super-buckets, each covering 8 of the 64
    * leaf buckets. The output is the probe transcript a divergence
    * search would read: every super-bucket's digest pair, plus leaf
    * digests ONLY under mismatched super-buckets. At 100 TB this is how
    * divergence is LOCATED in O(log) probes instead of O(buckets):
    * each level costs one tiny aggregate of the level below, and the
    * leaf digests roll up from the SAME single scan per side (a
    * digest-of-sums is a sum of digests — no second pass). */
  def reconMerkle(spark: SparkSession, dir: String): DataFrame = {
    val B = 64L // leaf buckets
    val F = 8L // fanout: leaves per super-bucket
    def leaves(df: DataFrame, cnt: String, dig: String): DataFrame =
      df.withColumn("bucket", pmod(col("o_orderkey"), lit(B)))
        .withColumn("rd", rowDigest(col("o_orderkey"), col("o_totalprice")))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as(cnt), sum(col("rd")).as(dig))
    val leaf = leaves(
        Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice")),
        "src_count", "src_digest")
      .join(leaves(driftedTarget(spark, dir), "tgt_count", "tgt_digest"),
        Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("src_count"), lit(0L)).as("src_count"),
        coalesce(col("tgt_count"), lit(0L)).as("tgt_count"),
        coalesce(col("src_digest"), lit(0L)).as("src_digest"),
        coalesce(col("tgt_digest"), lit(0L)).as("tgt_digest"))
      .persist() // feeds the rollup and the drill-down
    val isMatch = col("src_count") === col("tgt_count") &&
      col("src_digest") === col("tgt_digest")
    val sup = leaf.groupBy(expr(s"bucket div $F").as("bucket"))
      .agg(sum(col("src_count")).as("src_count"), sum(col("tgt_count")).as("tgt_count"),
        sum(col("src_digest")).as("src_digest"), sum(col("tgt_digest")).as("tgt_digest"))
    val badSup = sup.filter(!isMatch).select(col("bucket").as("sup"))
    val drill = leaf.withColumn("sup", expr(s"bucket div $F"))
      .join(broadcast(badSup), Seq("sup"))
      .drop("sup")
    sup.withColumn("level", lit(0))
      .unionByName(drill.withColumn("level", lit(1)))
      .withColumn("node_match", isMatch)
      .select(col("level"), col("bucket"), col("src_count"), col("tgt_count"),
        col("src_digest"), col("tgt_digest"), col("node_match"))
      .orderBy(col("level"), col("bucket"))
  }

  lazy val reconMerkleSql: String = {
    val rd = """(o_orderkey * 2654435761 % 1000000007 + CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT) % 1000000007) % 1000000007"""
    s"""WITH tgt AS ($driftedTargetSql),
      |srcd AS (
      |  SELECT o_orderkey % 64 AS bucket, COUNT(*) AS c, CAST(SUM($rd) AS BIGINT) AS d
      |  FROM orders GROUP BY 1),
      |tgtd AS (
      |  SELECT o_orderkey % 64 AS bucket, COUNT(*) AS c, CAST(SUM($rd) AS BIGINT) AS d
      |  FROM tgt GROUP BY 1),
      |leaf AS (
      |  SELECT COALESCE(srcd.bucket, tgtd.bucket) AS bucket,
      |    COALESCE(srcd.c, 0) AS src_count, COALESCE(tgtd.c, 0) AS tgt_count,
      |    COALESCE(srcd.d, 0) AS src_digest, COALESCE(tgtd.d, 0) AS tgt_digest
      |  FROM srcd FULL OUTER JOIN tgtd ON srcd.bucket = tgtd.bucket),
      |sup AS (
      |  SELECT bucket // 8 AS bucket,
      |    CAST(SUM(src_count) AS BIGINT) AS src_count, CAST(SUM(tgt_count) AS BIGINT) AS tgt_count,
      |    CAST(SUM(src_digest) AS BIGINT) AS src_digest, CAST(SUM(tgt_digest) AS BIGINT) AS tgt_digest
      |  FROM leaf GROUP BY 1),
      |bad AS (SELECT bucket FROM sup
      |  WHERE NOT (src_count = tgt_count AND src_digest = tgt_digest))
      |SELECT 0 AS level, bucket, src_count, tgt_count, src_digest, tgt_digest,
      |  src_count = tgt_count AND src_digest = tgt_digest AS node_match
      |FROM sup
      |UNION ALL
      |SELECT 1, leaf.bucket, src_count, tgt_count, src_digest, tgt_digest,
      |  src_count = tgt_count AND src_digest = tgt_digest
      |FROM leaf JOIN bad ON leaf.bucket // 8 = bad.bucket
      |ORDER BY level, bucket""".stripMargin
  }

  // ---- batch replication status family ----------------------------------
  // Ledger batches = key-space deciles (CdcOps.batchLedger); the slot's
  // confirmed_flush_lsn analog is a deterministic watermark at 75% of the
  // max key, so some batches are complete and some lag — mirroring
  // check_batch_replication_status.sql:74-82 (replication_complete,
  // lag_bytes).

  private def ledgerWithSlot(spark: SparkSession, dir: String): DataFrame = {
    // The slot watermark is 3/4 of the global max key — and the global
    // max is exactly max(completion_lsn) over the (≤10-row) ledger, so
    // derive it with a window over the aggregate instead of a third
    // full scan of orders. The ledger (incl. completion_ts, the
    // batch_control completion_timestamp analog) comes from
    // CdcOps.controlLedger — the FULL status-domain control table —
    // restricted to COMPLETED exactly like every reference monitoring
    // function (check_latest_batch_replication_status.sql:31). The
    // planted IN_PROGRESS/FAILED batches (ids 10/11, above every real
    // decile) make this filter non-vacuous: drop it and the latest-
    // batch pick downstream selects a planted row.
    val ledger = CdcOps.controlLedger(spark, dir)
      .filter(col("status") === "COMPLETED")
      .select(col("batch_id"), col("row_count"), col("completion_lsn"),
        col("completion_ts"))
    val w = Window.partitionBy(lit(1))
    ledger
      .withColumn("max_lsn", max(col("completion_lsn")).over(w))
      .withColumn("slot_lsn", floor(col("max_lsn") * 3 / 4).cast("long"))
      .withColumn("now_ts", max(col("completion_ts")).over(w))
  }

  private val ledgerWithSlotSql =
    s"""SELECT batch_id, row_count, completion_lsn, completion_ts,
      |  (SELECT MAX(o_orderkey) FROM orders) AS max_lsn,
      |  (SELECT CAST(FLOOR(MAX(o_orderkey) * 3 / 4) AS BIGINT) FROM orders) AS slot_lsn,
      |  (SELECT MAX(o_orderdate) FROM orders) AS now_ts
      |FROM (${CdcOps.controlLedgerSql})
      |WHERE status = 'COMPLETED'""".stripMargin

  /** batch_status — per-batch replication_complete + lag vs the slot
    * watermark (check_batch_replication_status.sql). Lag is in key units
    * (the LSN analog of pg_wal_lsn_diff bytes). Mirrors the reference's
    * slot_info CTE columns: `slot_active` (an attached consumer still
    * has WAL outstanding — slot watermark strictly behind the ledger
    * head) and the 24-hour recency discipline
    * (check_batch_replication_status.sql's completion_timestamp >=
    * NOW() - INTERVAL '24 hours'), with "now" pinned deterministically
    * to the newest completion in the data — the same discipline as the
    * slot watermark itself. */
  def batchStatus(spark: SparkSession, dir: String): DataFrame =
    ledgerWithSlot(spark, dir)
      .withColumn("replication_complete", col("slot_lsn") >= col("completion_lsn"))
      .withColumn("lag_bytes",
        when(col("slot_lsn") < col("completion_lsn"),
             col("completion_lsn") - col("slot_lsn")).otherwise(0L))
      .withColumn("slot_active", col("slot_lsn") < col("max_lsn"))
      .withColumn("minutes_since_completion",
        ((unix_timestamp(col("now_ts")) - unix_timestamp(col("completion_ts"))) / 60L).cast("long"))
      .withColumn("recent_24h", col("minutes_since_completion") <= 1440L)
      .drop("max_lsn", "now_ts")
      .orderBy(col("batch_id").desc)

  val batchStatusSql: String =
    s"""SELECT batch_id, row_count, completion_lsn, completion_ts, slot_lsn,
      |  slot_lsn >= completion_lsn AS replication_complete,
      |  CASE WHEN slot_lsn < completion_lsn THEN completion_lsn - slot_lsn ELSE 0 END AS lag_bytes,
      |  slot_lsn < max_lsn AS slot_active,
      |  date_diff('minute', completion_ts, now_ts) AS minutes_since_completion,
      |  date_diff('minute', completion_ts, now_ts) <= 1440 AS recent_24h
      |FROM ($ledgerWithSlotSql)
      |ORDER BY batch_id DESC""".stripMargin

  /** latest_batch_status — the most recent batch only
    * (check_latest_batch_replication_status.sql: ROW_NUMBER ... DESC,
    * rn = 1). Staleness is measured in LSN units (max_lsn − completion_lsn)
    * rather than wall-clock minutes so the result is deterministic. */
  def latestBatchStatus(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("batch_id").desc)
    ledgerWithSlot(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .withColumn("replication_complete", col("slot_lsn") >= col("completion_lsn"))
      // the reference function also reports WHICH slot/publication serves
      // the table (check_latest_batch_replication_status.sql:139-171):
      // the table's first publication, then the best-ranked matching
      // slot — DERIVED through the naming convention over the demo
      // roster (one metadata row, broadcast), not hardcoded
      .crossJoin(broadcast(relevantSlot(spark, "orders")))
      .select(col("batch_id").as("latest_batch_id"), col("row_count"),
              col("completion_lsn"), col("slot_lsn"), col("replication_complete"),
              col("slot_name"), col("publication_name"))
  }

  val latestBatchStatusSql: String =
    s"""WITH tp AS (
      |  SELECT * FROM (VALUES (1, '$DemoPublication', 'orders'), (2, 'lineitem_pub', 'lineitem'))
      |    AS t(pub_order, pubname, tablename)
      |  WHERE tablename = 'orders' ORDER BY pub_order LIMIT 1
      |), rs AS (
      |  SELECT slot_name, pubname AS publication_name,
      |    CASE WHEN slot_name LIKE '%' || pubname || '%' THEN 1
      |         WHEN slot_name LIKE '%' || tablename || '%' THEN 2
      |         WHEN pubname LIKE '%' || replace(slot_name, '_slot', '') || '%' THEN 3
      |    END AS match_rank
      |  FROM (VALUES ('$DemoSlot'), ('lineitem_slot'), ('misc_slot')) AS s(slot_name)
      |  CROSS JOIN tp
      |  WHERE slot_name LIKE '%' || pubname || '%'
      |     OR slot_name LIKE '%' || tablename || '%'
      |     OR pubname LIKE '%' || replace(slot_name, '_slot', '') || '%'
      |  ORDER BY match_rank, slot_name LIMIT 1
      |)
      |SELECT batch_id AS latest_batch_id, row_count, completion_lsn, slot_lsn,
      |  slot_lsn >= completion_lsn AS replication_complete,
      |  rs.slot_name, rs.publication_name
      |FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY batch_id DESC) AS rn FROM ($ledgerWithSlotSql))
      |CROSS JOIN rs
      |WHERE rn = 1""".stripMargin

  /** The slot serving a monitored table, derived through the
    * reference's naming convention
    * (check_latest_batch_replication_status.sql:139-171): take the
    * table's FIRST publication (pg_publication_tables ... LIMIT 1),
    * then rank candidate slots — slot-name-contains-publication (1)
    * beats slot-name-contains-table (2) beats
    * publication-contains-stripped-slot (3) — and keep the best,
    * breaking rank ties by slot_name for determinism (the reference's
    * bare LIMIT 1 is underdetermined on ties). Generic over the
    * roster: `slots` is one `slot_name` column,
    * `pubs` is (pub_order, pubname, tablename) — publication
    * membership in declaration order. Both are metadata-sized; the
    * result is ONE row, broadcast wherever it joins. */
  def relevantSlotOf(slots: DataFrame, pubs: DataFrame, tableName: String): DataFrame = {
    val tp = pubs.filter(col("tablename") === tableName)
      .orderBy(col("pub_order")).limit(1)
    slots.crossJoin(broadcast(tp))
      .withColumn("match_rank",
        when(col("slot_name").contains(col("pubname")), 1)
          .when(col("slot_name").contains(lit(tableName)), 2)
          .when(col("pubname").contains(
            regexp_replace(col("slot_name"), lit("_slot"), lit(""))), 3))
      .filter(col("match_rank").isNotNull)
      .orderBy(col("match_rank"), col("slot_name"))
      .limit(1)
      .select(col("slot_name"), col("pubname").as("publication_name"))
  }

  /** [[relevantSlotOf]] over the demo roster (the slot_pub_match
    * slots and publications, annotated with table membership under
    * the `<table>_pub` convention). */
  def relevantSlot(spark: SparkSession, tableName: String): DataFrame = {
    import spark.implicits._
    val slots = Seq(DemoSlot, "lineitem_slot", "misc_slot").toDF("slot_name")
    val pubs = Seq((1L, DemoPublication, "orders"), (2L, "lineitem_pub", "lineitem"))
      .toDF("pub_order", "pubname", "tablename")
    relevantSlotOf(slots, pubs, tableName)
  }

  /** multi_table_health — health classification across an ARBITRARY
    * list of monitored tables, like the reference's `TEXT[]` parameter
    * (check_multiple_tables_replication_status.sql:1-2,34-37): READY
    * when complete, else STUCK / SLOW / REPLICATING by staleness,
    * priority-ordered STUCK < SLOW < REPLICATING < READY.
    *
    * Each spec is (tableName, relation, monotonicKeyCol) — the key is
    * the table's LSN analog. Per table: one scan for the max key
    * (broadcast back), one decile rollup; tables evaluate
    * independently, so N tables = N cheap aggregations unioned into a
    * ≤N-row health report — the monitoring query a fleet dashboard
    * polls. */
  def multiTableHealthOf(tables: Seq[(String, DataFrame, String)],
                         control: Option[DataFrame] = None): DataFrame = {
    require(tables.nonEmpty, "multiTableHealthOf: need at least one (name, df, key) spec")
    def side(name: String, df: DataFrame, key: String): DataFrame = {
      val mx = df.agg(max(col(key)).as("mx"))
      df.crossJoin(broadcast(mx))
        .withColumn("batch_id", floor(col(key) * 10 / (col("mx") + 1)).cast("long"))
        .groupBy(col("batch_id"))
        .agg(count(lit(1)).as("row_count"), max(col(key)).as("completion_lsn"),
             max(col("mx")).as("max_lsn"))
        .withColumn("table_name", lit(name))
        .withColumn("status", lit("COMPLETED"))
    }
    val w = Window.partitionBy(col("table_name")).orderBy(col("batch_id").desc)
    val sides = tables.map { case (name, df, key) => side(name, df, key) }
      .reduce(_ unionByName _)
    // Extra control-ledger rows (schema: table_name, batch_id, row_count,
    // completion_lsn, max_lsn, status). The reference inner function only
    // returns COMPLETED batches (check_latest_batch_replication_status
    // .sql:31), so a monitored table whose batches are all open/failed
    // contributes NO row to the fleet report — the filter below mirrors
    // that, and the oracle checks it against a planted all-FAILED table.
    control.fold(sides)(c => sides.unionByName(c))
      .filter(col("status") === "COMPLETED")
      .withColumn("slot_lsn", floor(col("max_lsn") * 3 / 4).cast("long"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .withColumn("replication_complete", col("slot_lsn") >= col("completion_lsn"))
      .withColumn("staleness", col("completion_lsn") - col("slot_lsn"))
      .withColumn("health_status",
        when(col("replication_complete"), "READY")
          .when(col("staleness") > col("max_lsn") / 5, "STUCK")
          .when(col("staleness") > col("max_lsn") / 10, "SLOW")
          .otherwise("REPLICATING"))
      .withColumn("health_rank",
        when(col("health_status") === "STUCK", 1)
          .when(col("health_status") === "SLOW", 2)
          .when(col("health_status") === "REPLICATING", 3).otherwise(4))
      .select(col("table_name"), col("batch_id").as("latest_batch_id"),
              col("row_count"), col("completion_lsn"), col("slot_lsn"),
              col("replication_complete"), col("health_status"), col("health_rank"))
      .orderBy(col("health_rank"), col("table_name"))
  }

  /** The oracle-checked default: the reference demo's two monitored
    * tables (`orders` by o_orderkey, `lineitem` by l_orderkey), driven
    * through the generic [[multiTableHealthOf]]. */
  def multiTableHealth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // a monitored table with NO completed batches (both stuck mid-load):
    // must be absent from the health report, like the reference's loop
    // over check_latest_batch_replication_status (which yields no row
    // for it) — not shown as READY/STUCK with stale numbers
    val planted = Seq(
      ("shipments", 0L, 99L, 0L, 0L, "IN_PROGRESS"),
      ("shipments", 1L, 42L, 0L, 0L, "FAILED"))
      .toDF("table_name", "batch_id", "row_count", "completion_lsn",
        "max_lsn", "status")
    multiTableHealthOf(Seq(
      ("orders", Tables.orders(spark, dir).select(col("o_orderkey")), "o_orderkey"),
      ("lineitem", Tables.lineitem(spark, dir).select(col("l_orderkey")), "l_orderkey")),
      control = Some(planted))
  }

  val multiTableHealthSql: String =
    """WITH sides AS (
      |  SELECT 'orders' AS table_name, CAST(FLOOR(o_orderkey * 10 / ((SELECT MAX(o_orderkey) FROM orders) + 1)) AS BIGINT) AS batch_id,
      |    COUNT(*) AS row_count, MAX(o_orderkey) AS completion_lsn,
      |    (SELECT MAX(o_orderkey) FROM orders) AS max_lsn,
      |    'COMPLETED' AS status
      |  FROM orders GROUP BY 2
      |  UNION ALL
      |  SELECT 'lineitem', CAST(FLOOR(l_orderkey * 10 / ((SELECT MAX(l_orderkey) FROM lineitem) + 1)) AS BIGINT),
      |    COUNT(*), MAX(l_orderkey), (SELECT MAX(l_orderkey) FROM lineitem), 'COMPLETED'
      |  FROM lineitem GROUP BY 2
      |  UNION ALL
      |  SELECT * FROM (VALUES
      |    ('shipments', CAST(0 AS BIGINT), CAST(99 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), 'IN_PROGRESS'),
      |    ('shipments', CAST(1 AS BIGINT), CAST(42 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), 'FAILED'))
      |    AS t(table_name, batch_id, row_count, completion_lsn, max_lsn, status)
      |), latest AS (
      |  SELECT *, CAST(FLOOR(max_lsn * 3 / 4) AS BIGINT) AS slot_lsn,
      |    ROW_NUMBER() OVER (PARTITION BY table_name ORDER BY batch_id DESC) AS rn
      |  FROM sides
      |  WHERE status = 'COMPLETED'
      |), h AS (
      |  SELECT table_name, batch_id AS latest_batch_id, row_count, completion_lsn, slot_lsn,
      |    slot_lsn >= completion_lsn AS replication_complete,
      |    CASE WHEN slot_lsn >= completion_lsn THEN 'READY'
      |         WHEN completion_lsn - slot_lsn > max_lsn / 5 THEN 'STUCK'
      |         WHEN completion_lsn - slot_lsn > max_lsn / 10 THEN 'SLOW'
      |         ELSE 'REPLICATING' END AS health_status
      |  FROM latest WHERE rn = 1
      |)
      |SELECT *, CASE health_status WHEN 'STUCK' THEN 1 WHEN 'SLOW' THEN 2
      |          WHEN 'REPLICATING' THEN 3 ELSE 4 END AS health_rank
      |FROM h ORDER BY health_rank, table_name""".stripMargin
  /** recon_table_digest — whole-table checksum compare: each side reduced
    * to ONE (count, digest) row (the degenerate single-bucket case of
    * recon_hash_bucket). The cheapest possible "are the tables identical"
    * probe — two scans with map-side combine, a 1-row exchange, no join of
    * row data. The ladder is: count → table digest → bucket digests →
    * row-level drill-down, each step touching less data than the next. */
  def reconTableDigest(spark: SparkSession, dir: String): DataFrame = {
    def digest(df: DataFrame, cnt: String, dig: String): DataFrame =
      df.withColumn("rd", rowDigest(col("o_orderkey"), col("o_totalprice")))
        .agg(count(lit(1)).as(cnt), sum(col("rd")).as(dig))
    val s = digest(Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice")), "src_count", "src_digest")
    val t = digest(driftedTarget(spark, dir), "tgt_count", "tgt_digest")
    s.crossJoin(t)
      .withColumn("tables_match",
        col("src_count") === col("tgt_count") && col("src_digest") === col("tgt_digest"))
      .select(lit("orders").as("table_name"), col("src_count"), col("tgt_count"),
        col("src_digest"), col("tgt_digest"), col("tables_match"))
  }

  // ---- Bloom-filter divergence probe --------------------------------------

  /** Bloom sizing: 65536 words × 63 usable bits ≈ 4.1 M bits (bit 63 is
    * skipped so masks never touch the sign bit — both engines shift
    * signed longs), K=4 affine position hashes. At sf0.1 (~150 k rows)
    * the miss probability per divergent row is ≈ 3e-4; the filter itself
    * is ~0.5 MB — broadcastable at any scale. */
  private[graft] val BloomWords = 65536
  private[graft] val BloomBits = BloomWords.toLong * 63L
  private[graft] val BloomPerms: Seq[(Long, Long)] =
    Seq((131L, 7L), (1009L, 97L), (10007L, 257L), (100003L, 1031L))

  /** Row-content base hash shared by both sides: key and exact cents
    * folded mod P — same portable-arithmetic discipline as rowDigest. */
  private def bloomBase(key: Column, amount: Column): Column =
    (key * 2654435761L % 1000000007L +
      floor(amount * 100d + 0.5d).cast("long") * 98765431L % 1000000007L) % 1000000007L

  private val bloomBaseSql =
    """(o_orderkey * 2654435761 % 1000000007 +
      | CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT) * 98765431 % 1000000007) % 1000000007""".stripMargin.replace("\n", "")

  /** recon_bloom — Bloom-filter divergence probe, the cheapest row-level
    * screen in the reconciliation ladder: build a ~0.5 MB Bloom filter of
    * the target's row CONTENT (key + exact cents, so both dropped keys
    * and perturbed values flip bits), then test every source row against
    * it. A row with any unset bit is DEFINITELY absent from the target —
    * Bloom false positives only mean a divergent row can slip through
    * (P ≈ 3e-4 at sf0.1), never a false alarm.
    *
    * Scale shape (100 TB): the build side aggregates to ≤ 65536 words
    * with map-side `bit_or` combine (a near-scan-speed reduction to a
    * fixed 0.5 MB regardless of input size); the probe side is K=4
    * BROADCAST joins — the big table is never shuffled at all, unlike
    * the full-outer row diff. This is the declarative form of Spark's
    * own runtime bloom-filter join pruning
    * (spark.sql.optimizer.runtime.bloomFilter.enabled). Every hash is
    * portable affine arithmetic, so the DuckDB oracle replays the filter
    * bit-for-bit. */
  def reconBloom(spark: SparkSession, dir: String): DataFrame = {
    val tgt = driftedTarget(spark, dir)
      .withColumn("base", bloomBase(col("o_orderkey"), col("o_totalprice")))
    val positions = BloomPerms.map { case (a, b) =>
      pmod(pmod(col("base") * a + b, lit(1000000007L)), lit(BloomBits))
    }
    // persisted: the K probe joins each broadcast a projection of this
    // relation — without the cache each broadcast would rebuild the
    // filter from a fresh scan of the target (K full passes)
    val bloom = tgt
      .select(explode(array(positions: _*)).as("pos"))
      .select((col("pos") / 63L).cast("long").as("word"),
        expr("shiftleft(1L, CAST(pos % 63 AS INT))").as("mask"))
      .groupBy(col("word"))
      .agg(expr("bit_or(mask)").as("bits"))
      .persist()
    var probe = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
      .withColumn("base", bloomBase(col("o_orderkey"), col("o_totalprice")))
    BloomPerms.zipWithIndex.foreach { case ((a, b), i) =>
      probe = probe
        .withColumn(s"pos$i", pmod(pmod(col("base") * a + b, lit(1000000007L)), lit(BloomBits)))
        .withColumn(s"word$i", (col(s"pos$i") / 63L).cast("long"))
        .withColumn(s"mask$i", expr(s"shiftleft(1L, CAST(pos$i % 63 AS INT))"))
        .join(broadcast(bloom.select(col("word").as(s"word$i"), col("bits").as(s"bits$i"))),
          Seq(s"word$i"), "left")
    }
    val divergent = BloomPerms.indices.map { i =>
      col(s"bits$i").isNull || col(s"bits$i").bitwiseAND(col(s"mask$i")) =!= col(s"mask$i")
    }.reduce(_ || _)
    probe.filter(divergent)
      .select(col("o_orderkey"), col("o_totalprice").as("src_amount"))
      .orderBy(col("o_orderkey"))
  }

  lazy val reconBloomSql: String = {
    val posExprs = BloomPerms
      .map { case (a, b) => s"(base * $a + $b) % 1000000007 % $BloomBits" }
    val probeCols = posExprs.zipWithIndex.map { case (p, i) =>
      s"($p) // 63 AS word$i, (1::BIGINT << CAST(($p) % 63 AS INT)) AS mask$i"
    }.mkString(",\n    ")
    val joins = BloomPerms.indices
      .map(i => s"LEFT JOIN bloom b$i ON b$i.word = p.word$i")
      .mkString("\n")
    val divergent = BloomPerms.indices
      .map(i => s"b$i.bits IS NULL OR (b$i.bits & p.mask$i) <> p.mask$i")
      .mkString(" OR ")
    s"""WITH tgt AS ($driftedTargetSql),
      |tb AS (SELECT $bloomBaseSql AS base FROM tgt),
      |pos AS (SELECT unnest([${posExprs.mkString(", ")}]) AS pos FROM tb),
      |bloom AS (SELECT pos // 63 AS word, bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS bits
      |          FROM pos GROUP BY 1),
      |src AS (SELECT o_orderkey, o_totalprice, $bloomBaseSql AS base FROM orders),
      |probe AS (
      |  SELECT o_orderkey, o_totalprice,
      |    $probeCols
      |  FROM src
      |)
      |SELECT p.o_orderkey, p.o_totalprice AS src_amount
      |FROM probe p
      |$joins
      |WHERE $divergent
      |ORDER BY p.o_orderkey""".stripMargin
  }

  // ---- Column profiling ---------------------------------------------------

  /** stats_profile — per-column data-quality profile of `orders`: null
    * count, exact distinct count, and min/max normalized to a portable
    * BIGINT domain (keys raw, money as exact cents, timestamps as epoch
    * micros; the varchar columns profile nulls/distinct only). ONE pass
    * over the table — all metrics are aggregates of a single scan
    * (Spark plans the multi-distinct via Expand), then the 6-column
    * result row is unpivoted with `stack` into the (column_name, …)
    * profile relation. This is the schema-drift / data-quality probe a
    * reconciliation pipeline runs before trusting a diff: type changes,
    * null floods, and range drift all surface here at scan cost. */
  def statsProfile(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def nulls(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls")
    def dist(c: String) = count_distinct(col(c)).as(s"${c}_distinct")
    val agg = o.agg(
      count(lit(1)).as("n_rows"),
      nulls("o_orderkey"), dist("o_orderkey"),
      min(col("o_orderkey")).as("o_orderkey_min"), max(col("o_orderkey")).as("o_orderkey_max"),
      nulls("o_custkey"), dist("o_custkey"),
      min(col("o_custkey")).as("o_custkey_min"), max(col("o_custkey")).as("o_custkey_max"),
      nulls("o_totalprice"), dist("o_totalprice"),
      min(floor(col("o_totalprice") * 100d + 0.5d).cast("long")).as("o_totalprice_min"),
      max(floor(col("o_totalprice") * 100d + 0.5d).cast("long")).as("o_totalprice_max"),
      nulls("o_orderdate"), dist("o_orderdate"),
      // parquet o_orderdate is TIMESTAMP_NTZ; the cast is identity under
      // the session's pinned UTC and unix_micros only accepts LTZ
      min(unix_micros(col("o_orderdate").cast("timestamp"))).as("o_orderdate_min"),
      max(unix_micros(col("o_orderdate").cast("timestamp"))).as("o_orderdate_max"),
      nulls("o_orderstatus"), dist("o_orderstatus"),
      nulls("o_orderpriority"), dist("o_orderpriority"))
    agg.selectExpr("n_rows",
      """stack(6,
        |  'o_orderkey',      o_orderkey_nulls,      o_orderkey_distinct,      o_orderkey_min,   o_orderkey_max,
        |  'o_custkey',       o_custkey_nulls,       o_custkey_distinct,       o_custkey_min,    o_custkey_max,
        |  'o_totalprice',    o_totalprice_nulls,    o_totalprice_distinct,    o_totalprice_min, o_totalprice_max,
        |  'o_orderdate',     o_orderdate_nulls,     o_orderdate_distinct,     o_orderdate_min,  o_orderdate_max,
        |  'o_orderstatus',   o_orderstatus_nulls,   o_orderstatus_distinct,   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |  'o_orderpriority', o_orderpriority_nulls, o_orderpriority_distinct, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
        |) AS (column_name, n_nulls, n_distinct, min_v, max_v)""".stripMargin)
      .select(col("column_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_v"), col("max_v"))
      .orderBy(col("column_name"))
  }

  val statsProfileSql: String =
    """WITH a AS (
      |  SELECT COUNT(*) AS n_rows,
      |    SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS k_n, COUNT(DISTINCT o_orderkey) AS k_d,
      |      MIN(o_orderkey) AS k_mn, MAX(o_orderkey) AS k_mx,
      |    SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS c_n, COUNT(DISTINCT o_custkey) AS c_d,
      |      MIN(o_custkey) AS c_mn, MAX(o_custkey) AS c_mx,
      |    SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS p_n, COUNT(DISTINCT o_totalprice) AS p_d,
      |      MIN(CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT)) AS p_mn, MAX(CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT)) AS p_mx,
      |    SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS d_n, COUNT(DISTINCT o_orderdate) AS d_d,
      |      MIN(epoch_us(o_orderdate)) AS d_mn, MAX(epoch_us(o_orderdate)) AS d_mx,
      |    SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS s_n, COUNT(DISTINCT o_orderstatus) AS s_d,
      |    SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS pr_n, COUNT(DISTINCT o_orderpriority) AS pr_d
      |  FROM orders
      |)
      |SELECT column_name, n_rows, CAST(n_nulls AS BIGINT) AS n_nulls,
      |  n_distinct, min_v, max_v
      |FROM (
      |  SELECT 'o_orderkey' AS column_name, n_rows, k_n AS n_nulls, k_d AS n_distinct, k_mn AS min_v, k_mx AS max_v FROM a
      |  UNION ALL SELECT 'o_custkey', n_rows, c_n, c_d, c_mn, c_mx FROM a
      |  UNION ALL SELECT 'o_totalprice', n_rows, p_n, p_d, p_mn, p_mx FROM a
      |  UNION ALL SELECT 'o_orderdate', n_rows, d_n, d_d, d_mn, d_mx FROM a
      |  UNION ALL SELECT 'o_orderstatus', n_rows, s_n, s_d, NULL, NULL FROM a
      |  UNION ALL SELECT 'o_orderpriority', n_rows, pr_n, pr_d, NULL, NULL FROM a
      |)
      |ORDER BY column_name""".stripMargin

  // ---- Sampled reconciliation ---------------------------------------------

  /** Keys kept by the deterministic reconciliation sample: an affine hash
    * of the key mod `SampleMod` — each side filters independently at scan
    * speed (no coordination, no shuffle), yet both sides keep the SAME
    * keys, so missing-row detection works inside the sample. */
  val SampleMod = 5L // 20% key sample

  /** recon_sample — statistical reconciliation: run the row-by-row
    * compare on a deterministic ~1/SampleMod key sample of BOTH sides and
    * extrapolate the divergence rate. The cheap middle rung of the
    * count → digest → sample → bucket → full-diff ladder: at 100 TB a
    * full row diff shuffles the whole table, while the sampled diff
    * shuffles 1/SampleMod of it for an unbiased divergence estimate
    * (key-hash sampling is uncorrelated with the drift pattern).
    * One summary row — always non-empty, cheap to alert on. */
  /** Generic sampled row-by-row compare of any two relations keyed by
    * `keyCol`, comparing `valueCol`: both sides filtered independently to
    * the same deterministic ~1/mod key-hash sample, diffed, and reduced
    * to one summary row with the extrapolated divergence estimate. */
  def sampledDiffOf(src: DataFrame, tgt: DataFrame, keyCol: String,
                    valueCol: String, mod: Long): DataFrame = {
    def sampled(df: DataFrame) =
      df.filter(col(keyCol) * 2654435761L % 1000000007L % mod === 0L)
    val s = sampled(src).select(col(keyCol).as("key"), col(valueCol).as("src_amount"))
    val t = sampled(tgt).select(col(keyCol).as("key"), col(valueCol).as("tgt_amount"))
    def diffIs(d: String) = sum(when(col("diff_type") === d, 1L).otherwise(0L))
    s.join(t, Seq("key"), "full_outer")
      .withColumn("diff_type",
        when(col("tgt_amount").isNull, "missing_in_target")
          .when(col("src_amount").isNull, "missing_in_source")
          .when(col("src_amount") =!= col("tgt_amount"), "value_mismatch"))
      .agg(
        count(col("src_amount")).as("src_sampled"),
        count(col("tgt_amount")).as("tgt_sampled"),
        diffIs("missing_in_target").as("n_missing_in_target"),
        diffIs("missing_in_source").as("n_missing_in_source"),
        diffIs("value_mismatch").as("n_value_mismatch"))
      .select(lit(mod).as("sample_mod"),
        col("src_sampled"), col("tgt_sampled"),
        col("n_missing_in_target"), col("n_missing_in_source"), col("n_value_mismatch"),
        ((col("n_missing_in_target") + col("n_missing_in_source") + col("n_value_mismatch"))
          * mod).as("est_divergent_rows"))
  }

  def reconSample(spark: SparkSession, dir: String): DataFrame =
    sampledDiffOf(Tables.orders(spark, dir), driftedTarget(spark, dir),
      "o_orderkey", "o_totalprice", SampleMod)
      .select(lit("orders").as("table_name"), col("*"))

  val reconSampleSql: String =
    s"""WITH tgt AS ($driftedTargetSql),
      |s AS (SELECT o_orderkey AS key, o_totalprice AS src_amount FROM orders
      |      WHERE o_orderkey * 2654435761 % 1000000007 % $SampleMod = 0),
      |t AS (SELECT o_orderkey AS key, o_totalprice AS tgt_amount FROM tgt
      |      WHERE o_orderkey * 2654435761 % 1000000007 % $SampleMod = 0),
      |j AS (
      |  SELECT s.src_amount, t.tgt_amount,
      |    CASE WHEN t.key IS NULL THEN 'missing_in_target'
      |         WHEN s.key IS NULL THEN 'missing_in_source'
      |         WHEN s.src_amount <> t.tgt_amount THEN 'value_mismatch' END AS diff_type
      |  FROM s FULL OUTER JOIN t ON s.key = t.key
      |)
      |SELECT 'orders' AS table_name, $SampleMod AS sample_mod,
      |  COUNT(src_amount) AS src_sampled, COUNT(tgt_amount) AS tgt_sampled,
      |  CAST(SUM(CASE WHEN diff_type = 'missing_in_target' THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_in_target,
      |  CAST(SUM(CASE WHEN diff_type = 'missing_in_source' THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_in_source,
      |  CAST(SUM(CASE WHEN diff_type = 'value_mismatch' THEN 1 ELSE 0 END) AS BIGINT) AS n_value_mismatch,
      |  CAST(SUM(CASE WHEN diff_type IS NOT NULL THEN 1 ELSE 0 END) * $SampleMod AS BIGINT) AS est_divergent_rows
      |FROM j""".stripMargin

  /** recon_repair — close the verify→repair loop: turn the row diff into
    * an executable repair plan for the target — INSERT rows the target
    * lost, DELETE rows it invented, UPDATE rows whose values diverged
    * (set_amount carries the source truth; NULL for deletes). This is
    * the reference workflow's missing last step: `verify_replication.py`
    * reports; a production pipeline emits the fix batch. Same single
    * full-outer join as recon_row_diff — the plan is a projection of the
    * diff, not a second compare. */
  def reconRepair(spark: SparkSession, dir: String): DataFrame =
    rowDiffOf(Tables.orders(spark, dir), driftedTarget(spark, dir),
      "o_orderkey", "o_totalprice")
      .withColumn("repair_op",
        when(col("diff_type") === "missing_in_target", "INSERT")
          .when(col("diff_type") === "missing_in_source", "DELETE")
          .otherwise("UPDATE"))
      .select(col("key"), col("repair_op"),
        when(col("repair_op") =!= "DELETE", col("src_amount")).as("set_amount"))
      .orderBy(col("key"))

  val reconRepairSql: String =
    s"""WITH tgt AS ($driftedTargetSql),
      |src AS (SELECT o_orderkey AS key, o_totalprice AS src_amount FROM orders),
      |t2  AS (SELECT o_orderkey AS key, o_totalprice AS tgt_amount FROM tgt),
      |diff AS (
      |  SELECT COALESCE(src.key, t2.key) AS key, src.src_amount,
      |    CASE WHEN t2.key IS NULL THEN 'INSERT'
      |         WHEN src.key IS NULL THEN 'DELETE'
      |         WHEN src.src_amount <> t2.tgt_amount THEN 'UPDATE' END AS repair_op
      |  FROM src FULL OUTER JOIN t2 ON src.key = t2.key
      |)
      |SELECT key, repair_op,
      |  CASE WHEN repair_op <> 'DELETE' THEN src_amount END AS set_amount
      |FROM diff WHERE repair_op IS NOT NULL
      |ORDER BY key""".stripMargin

  // ---- Schema drift -------------------------------------------------------

  /** recon_schema_drift — two-sided column-profile compare: profile every
    * column of source and target in ONE scan per side (null count, exact
    * distinct, min/max in a portable BIGINT domain — the stats_profile
    * machinery), then full-outer join the profiles by column name and
    * classify: MISSING_IN_TARGET / MISSING_IN_SOURCE (column-set drift —
    * the target here materializes only the replicated 3-column
    * projection) or VALUES_DRIFT / MATCH (per-column stats compare).
    * This is the pre-diff probe a reconciliation pipeline runs on every
    * sync: schema changes and value drift surface at scan cost, before
    * any row-level work is scheduled. */
  def reconSchemaDrift(spark: SparkSession, dir: String): DataFrame = {
    def nulls(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L))
    def dist(c: String) = count_distinct(col(c))
    // src: 5 profiled columns; tgt: the 3 replicated ones
    val src = Tables.orders(spark, dir).agg(
      count(lit(1)).as("rows"),
      nulls("o_orderkey").as("k_n"), dist("o_orderkey").as("k_d"),
      min(col("o_orderkey")).as("k_mn"), max(col("o_orderkey")).as("k_mx"),
      nulls("o_custkey").as("c_n"), dist("o_custkey").as("c_d"),
      min(col("o_custkey")).as("c_mn"), max(col("o_custkey")).as("c_mx"),
      nulls("o_totalprice").as("p_n"), dist("o_totalprice").as("p_d"),
      min(floor(col("o_totalprice") * 100d + 0.5d).cast("long")).as("p_mn"),
      max(floor(col("o_totalprice") * 100d + 0.5d).cast("long")).as("p_mx"),
      nulls("o_orderdate").as("d_n"), dist("o_orderdate").as("d_d"),
      min(unix_micros(col("o_orderdate").cast("timestamp"))).as("d_mn"),
      max(unix_micros(col("o_orderdate").cast("timestamp"))).as("d_mx"),
      nulls("o_orderstatus").as("s_n"), dist("o_orderstatus").as("s_d"))
      .selectExpr(
        """stack(5,
          |  'o_orderkey',    rows, k_n, k_d, k_mn, k_mx,
          |  'o_custkey',     rows, c_n, c_d, c_mn, c_mx,
          |  'o_totalprice',  rows, p_n, p_d, p_mn, p_mx,
          |  'o_orderdate',   rows, d_n, d_d, d_mn, d_mx,
          |  'o_orderstatus', rows, s_n, s_d, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
          |) AS (column_name, src_rows, src_nulls, src_distinct, src_min, src_max)""".stripMargin)
    val tgt = driftedTarget(spark, dir).agg(
      count(lit(1)).as("rows"),
      nulls("o_orderkey").as("k_n"), dist("o_orderkey").as("k_d"),
      min(col("o_orderkey")).as("k_mn"), max(col("o_orderkey")).as("k_mx"),
      nulls("o_custkey").as("c_n"), dist("o_custkey").as("c_d"),
      min(col("o_custkey")).as("c_mn"), max(col("o_custkey")).as("c_mx"),
      nulls("o_totalprice").as("p_n"), dist("o_totalprice").as("p_d"),
      min(floor(col("o_totalprice") * 100d + 0.5d).cast("long")).as("p_mn"),
      max(floor(col("o_totalprice") * 100d + 0.5d).cast("long")).as("p_mx"))
      .selectExpr(
        """stack(3,
          |  'o_orderkey',   rows, k_n, k_d, k_mn, k_mx,
          |  'o_custkey',    rows, c_n, c_d, c_mn, c_mx,
          |  'o_totalprice', rows, p_n, p_d, p_mn, p_mx
          |) AS (column_name, tgt_rows, tgt_nulls, tgt_distinct, tgt_min, tgt_max)""".stripMargin)
    src.join(tgt, Seq("column_name"), "full_outer")
      .withColumn("status",
        when(col("tgt_rows").isNull, "MISSING_IN_TARGET")
          .when(col("src_rows").isNull, "MISSING_IN_SOURCE")
          .when(col("src_rows") <=> col("tgt_rows") &&
            col("src_nulls") <=> col("tgt_nulls") &&
            col("src_distinct") <=> col("tgt_distinct") &&
            col("src_min") <=> col("tgt_min") &&
            col("src_max") <=> col("tgt_max"), "MATCH")
          .otherwise("VALUES_DRIFT"))
      .orderBy(col("column_name"))
  }

  lazy val reconSchemaDriftSql: String = {
    def side(rel: String, cols: Seq[String], pfx: String): String = {
      val profiled = cols.map {
        case c @ ("o_orderkey" | "o_custkey") =>
          s"SELECT '$c' AS column_name, COUNT(*) AS ${pfx}_rows, SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS ${pfx}_nulls, COUNT(DISTINCT $c) AS ${pfx}_distinct, MIN($c) AS ${pfx}_min, MAX($c) AS ${pfx}_max FROM $rel"
        case c @ "o_totalprice" =>
          s"SELECT '$c', COUNT(*), SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END), COUNT(DISTINCT $c), MIN(CAST(FLOOR($c*100 + 0.5) AS BIGINT)), MAX(CAST(FLOOR($c*100 + 0.5) AS BIGINT)) FROM $rel"
        case c @ "o_orderdate" =>
          s"SELECT '$c', COUNT(*), SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END), COUNT(DISTINCT $c), MIN(epoch_us($c)), MAX(epoch_us($c)) FROM $rel"
        case c =>
          s"SELECT '$c', COUNT(*), SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END), COUNT(DISTINCT $c), NULL, NULL FROM $rel"
      }
      profiled.mkString("\nUNION ALL ")
    }
    s"""WITH tgtrel AS ($driftedTargetSql),
      |src AS (${side("orders", Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderstatus"), "src")}),
      |tgt AS (${side("tgtrel", Seq("o_orderkey", "o_custkey", "o_totalprice"), "tgt")})
      |SELECT COALESCE(src.column_name, tgt.column_name) AS column_name,
      |  src_rows, CAST(src_nulls AS BIGINT) AS src_nulls, src_distinct,
      |  CAST(src_min AS BIGINT) AS src_min, CAST(src_max AS BIGINT) AS src_max,
      |  tgt_rows, CAST(tgt_nulls AS BIGINT) AS tgt_nulls, tgt_distinct,
      |  CAST(tgt_min AS BIGINT) AS tgt_min, CAST(tgt_max AS BIGINT) AS tgt_max,
      |  CASE WHEN tgt_rows IS NULL THEN 'MISSING_IN_TARGET'
      |       WHEN src_rows IS NULL THEN 'MISSING_IN_SOURCE'
      |       WHEN src_rows IS NOT DISTINCT FROM tgt_rows
      |        AND src_nulls IS NOT DISTINCT FROM tgt_nulls
      |        AND src_distinct IS NOT DISTINCT FROM tgt_distinct
      |        AND src_min IS NOT DISTINCT FROM tgt_min
      |        AND src_max IS NOT DISTINCT FROM tgt_max THEN 'MATCH'
      |       ELSE 'VALUES_DRIFT' END AS status
      |FROM src FULL OUTER JOIN tgt ON src.column_name = tgt.column_name
      |ORDER BY column_name""".stripMargin
  }

  /** quality_gate — declarative data-quality rules evaluated in ONE scan
    * (the Deequ-style pre-load gate): completeness (key nulls),
    * uniqueness (key dupes), range (non-negative amounts), domain
    * (status ⊆ accepted set), and volume (minimum row count), all as
    * aggregate expressions of the same pass, unpivoted to one
    * rule / measured / threshold / passed row each. A batch pipeline
    * runs this before accepting a load; only `passed = false` rows need
    * attention. At 100 TB: strictly one scan, every rule a map-side
    * combinable aggregate (the uniqueness rule's count_distinct is the
    * one Expand — drop it and the gate is pure scan speed). */
  def qualityGate(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("key_nulls"),
      (count(lit(1)) - count_distinct(col("o_orderkey"))).as("key_dupes"),
      sum(when(col("o_totalprice") < 0d, 1L).otherwise(0L)).as("neg_amounts"),
      sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)).as("bad_status"))
      .selectExpr(
        """stack(5,
          |  'volume_min_rows',      n_rows,      CAST(100 AS BIGINT), n_rows >= 100,
          |  'key_completeness',     key_nulls,   CAST(0 AS BIGINT),   key_nulls = 0,
          |  'key_uniqueness',       key_dupes,   CAST(0 AS BIGINT),   key_dupes = 0,
          |  'amount_non_negative',  neg_amounts, CAST(0 AS BIGINT),   neg_amounts = 0,
          |  'status_in_domain',     bad_status,  CAST(0 AS BIGINT),   bad_status = 0
          |) AS (rule_name, measured, threshold, passed)""".stripMargin)
      .orderBy(col("rule_name"))
  }

  val qualityGateSql: String =
    """WITH a AS (
      |  SELECT COUNT(*) AS n_rows,
      |    SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS key_nulls,
      |    COUNT(*) - COUNT(DISTINCT o_orderkey) AS key_dupes,
      |    SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS neg_amounts,
      |    SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS bad_status
      |  FROM orders
      |)
      |SELECT rule_name, CAST(measured AS BIGINT) AS measured,
      |  CAST(threshold AS BIGINT) AS threshold, passed
      |FROM (
      |  SELECT 'volume_min_rows' AS rule_name, n_rows AS measured, 100 AS threshold, n_rows >= 100 AS passed FROM a
      |  UNION ALL SELECT 'key_completeness', key_nulls, 0, key_nulls = 0 FROM a
      |  UNION ALL SELECT 'key_uniqueness', key_dupes, 0, key_dupes = 0 FROM a
      |  UNION ALL SELECT 'amount_non_negative', neg_amounts, 0, neg_amounts = 0 FROM a
      |  UNION ALL SELECT 'status_in_domain', bad_status, 0, bad_status = 0 FROM a
      |)
      |ORDER BY rule_name""".stripMargin

  val reconTableDigestSql: String =
    s"""WITH tgt AS ($driftedTargetSql),
      |srcd AS (
      |  SELECT COUNT(*) AS src_count,
      |    CAST(SUM((o_orderkey * 2654435761 % 1000000007 + CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT) % 1000000007) % 1000000007) AS BIGINT) AS src_digest
      |  FROM orders),
      |tgtd AS (
      |  SELECT COUNT(*) AS tgt_count,
      |    CAST(SUM((o_orderkey * 2654435761 % 1000000007 + CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT) % 1000000007) % 1000000007) AS BIGINT) AS tgt_digest
      |  FROM tgt)
      |SELECT 'orders' AS table_name, src_count, tgt_count, src_digest, tgt_digest,
      |  src_count = tgt_count AND src_digest = tgt_digest AS tables_match
      |FROM srcd CROSS JOIN tgtd""".stripMargin

  /** slot_pub_match — the reference's slot↔publication matching
    * convention (sql.sql:48-71, slot_info CTE): a logical replication
    * slot pairs with a publication when either name contains the other
    * (after stripping the slot's `_slot` suffix) — bidirectional LIKE,
    * first match in publication order. Replayed over a deterministic
    * slot/publication roster that plants all three cases: slot-contains-
    * pub, pub-contains-stripped-slot, and no match.
    *
    * Scale shape: the roster is metadata (rows ∝ slots × publications,
    * both tiny) — a broadcast nested-loop over literals, nothing data-
    * sized. */
  def slotPubMatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val slots = Seq(DemoSlot, "lineitem_slot", "misc_slot").toDF("slot_name")
    // pub_order = declaration order: the reference takes the FIRST
    // matching publication (LIMIT 1 over the publication list), which
    // need not be alphabetical — carry the order explicitly
    val pubs = Seq((1L, DemoPublication), (2L, "lineitem_pub"))
      .toDF("pub_order", "pubname")
    val firstMatch = slots.crossJoin(broadcast(pubs))
      .withColumn("matched",
        expr("slot_name LIKE '%' || pubname || '%' " +
          "OR pubname LIKE '%' || replace(slot_name, '_slot', '') || '%'"))
      .groupBy(col("slot_name"))
      .agg(min(when(col("matched"), col("pub_order"))).as("pub_order"))
    firstMatch.join(broadcast(pubs), Seq("pub_order"), "left")
      .select(col("slot_name"), col("pubname").as("matched_publication"),
        col("pubname").isNotNull.as("is_matched"))
      .orderBy(col("slot_name"))
  }

  val slotPubMatchSql: String =
    s"""WITH slots AS (
      |  SELECT * FROM (VALUES ('$DemoSlot'), ('lineitem_slot'), ('misc_slot'))
      |    AS t(slot_name)
      |), pubs AS (
      |  SELECT * FROM (VALUES (1, '$DemoPublication'), (2, 'lineitem_pub'))
      |    AS t(pub_order, pubname)
      |), fm AS (
      |  SELECT slot_name,
      |    MIN(CASE WHEN slot_name LIKE '%' || pubname || '%'
      |          OR pubname LIKE '%' || replace(slot_name, '_slot', '') || '%'
      |        THEN pub_order END) AS pub_order
      |  FROM slots CROSS JOIN pubs
      |  GROUP BY slot_name
      |)
      |SELECT fm.slot_name, p.pubname AS matched_publication,
      |  p.pubname IS NOT NULL AS is_matched
      |FROM fm LEFT JOIN pubs p ON fm.pub_order = p.pub_order
      |ORDER BY slot_name""".stripMargin

  /** batch_settle_ready — the reference's settle-time consumption gate
    * (sql.sql:288-300): batches whose replication is complete AND whose
    * completion has settled for at least the settle window are safe to
    * consume downstream, stalest first. Deterministic "now" = newest
    * completion, settle = 24 h — the latest batch never qualifies, the
    * settled tail does. */
  def batchSettleReady(spark: SparkSession, dir: String): DataFrame =
    batchStatus(spark, dir)
      .filter(col("replication_complete") &&
        col("minutes_since_completion") >= 1440L)
      .select(col("batch_id"), col("completion_lsn"), col("completion_ts"),
        col("minutes_since_completion"))
      .orderBy(col("minutes_since_completion").desc, col("batch_id"))

  val batchSettleReadySql: String =
    s"""SELECT batch_id, completion_lsn, completion_ts, minutes_since_completion
      |FROM ($batchStatusSql)
      |WHERE replication_complete AND minutes_since_completion >= 1440
      |ORDER BY minutes_since_completion DESC, batch_id""".stripMargin

  /** recon_lsn_gap — offset-continuity check of the change log: holes in
    * the LSN sequence are the failure the two-sided compare ladder can
    * NOT see, because a slot that silently skipped records leaves both
    * sides agreeing. Planted: event_ids divisible by 101 are dropped
    * before the check, and the detector must recover exactly those
    * offsets as gap ranges. The lag over the global offset order runs
    * as a two-pass distributed prefix ([[graft.core.Prefix.lag1]]):
    * range-partition on event_id, per-slice lag, boundary handoff of
    * each slice's max to the next — no single task ever sees the whole
    * log, and the output stays ∝ holes, not log volume (PlanSpec
    * asserts the plan has no Exchange SinglePartition). */
  def reconLsnGap(spark: SparkSession, dir: String): DataFrame = {
    val kept = Tables.events(spark, dir)
      .select(col("event_id"))
      .filter(col("event_id") % 101 =!= 0)
    Prefix.lag1(kept, "event_id", "prev_id")
      .filter(col("prev_id").isNotNull && col("event_id") - col("prev_id") > 1)
      .select((col("prev_id") + 1).as("gap_start"),
        (col("event_id") - 1).as("gap_end"),
        (col("event_id") - col("prev_id") - 1).as("gap_width"))
      .orderBy(col("gap_start"))
  }

  val reconLsnGapSql: String =
    """WITH kept AS (
      |  SELECT event_id FROM events WHERE event_id % 101 <> 0
      |), lagged AS (
      |  SELECT event_id, LAG(event_id) OVER (ORDER BY event_id) AS prev_id FROM kept
      |)
      |SELECT prev_id + 1 AS gap_start, event_id - 1 AS gap_end,
      |  event_id - prev_id - 1 AS gap_width
      |FROM lagged
      |WHERE prev_id IS NOT NULL AND event_id - prev_id > 1
      |ORDER BY gap_start""".stripMargin

  /** stats_corr — exact-carrier Pearson correlation between quantity and
    * extended price per return flag: the sufficient statistics (n, Σx,
    * Σy, Σxy, Σx², Σy²) are exact integer sums — x on the unit grid,
    * y on the whole-dollar grid — and r derives from them by a fixed
    * IEEE sequence replayed in the oracle (the events_anomaly
    * discipline applied to correlation; aggregating doubles directly
    * would be summation-order dependent and could never hash-match).
    * One scan with map-side combine. Carrier ranges: Σy² stays under
    * 2^53 (double-exact) through sf0.1's ~200k rows/group; a larger
    * deployment widens the grid or moves carriers to DECIMAL(38). */
  def statsCorr(spark: SparkSession, dir: String): DataFrame = {
    val xq = floor(col("l_quantity") + 0.5d).cast("long")
    val yq = floor(col("l_extendedprice") + 0.5d).cast("long")
    def d(c: Column) = c.cast("double")
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), xq.as("xq"), yq.as("yq"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("xq")).as("sx"), sum(col("yq")).as("sy"),
        sum(col("xq") * col("yq")).as("sxy"),
        sum(col("xq") * col("xq")).as("sxx"),
        sum(col("yq") * col("yq")).as("syy"))
      .withColumn("corr_xy",
        (d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
          (sqrt(d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
           sqrt(d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy")))))
      .orderBy(col("l_returnflag"))
  }

  /** recon_flush_lag — per-batch replication-lag report: how far the
    * target's confirmed high-water mark trails the source, per batch
    * decile (the `pg_stat_replication.confirmed_flush_lsn` distance the
    * reference's operators watch, made a queryable table). Per batch:
    * source rows + max LSN, target rows + confirmed (max present) LSN,
    * the LSN and row lags, and a class separating the two failure
    * smells — LAGGING (target has not reached the source's high-water
    * mark) vs HOLES (high-water marks agree but rows are missing
    * behind them: the silent-skip case a pure lag monitor never sees).
    * Invented target rows (keys above the source max) are excluded:
    * they are missing_in_source drift, not replication progress.
    * Scale: two scans aggregating straight to ≤10 batch rows each
    * (map-side combine), one broadcast of the 1-row max — no
    * data-sized shuffle. */
  def reconFlushLag(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_orderkey"))
    val mx = o.agg(max(col("o_orderkey")).as("mx"))
    def batched(df: DataFrame) = df.crossJoin(broadcast(mx))
      .withColumn("batch_id",
        floor(col("o_orderkey") * 10 / (col("mx") + 1)).cast("long"))
    val src = batched(o).groupBy(col("batch_id"))
      .agg(count(lit(1)).as("src_rows"), max(col("o_orderkey")).as("src_max_lsn"))
    val tgt = batched(driftedTarget(spark, dir).select(col("o_orderkey")))
      .filter(col("o_orderkey") <= col("mx"))
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("tgt_rows"), max(col("o_orderkey")).as("confirmed_lsn"))
    src.join(tgt, Seq("batch_id"), "left")
      .withColumn("lag_lsn", col("src_max_lsn") - col("confirmed_lsn"))
      .withColumn("lag_rows", col("src_rows") - col("tgt_rows"))
      .withColumn("lag_status",
        when(col("lag_lsn") === 0 && col("lag_rows") === 0, "CURRENT")
          .when(col("lag_lsn") === 0, "HOLES")
          .otherwise("LAGGING"))
      .select(col("batch_id"), col("src_rows"), col("tgt_rows"),
        col("src_max_lsn"), col("confirmed_lsn"),
        col("lag_lsn"), col("lag_rows"), col("lag_status"))
      .orderBy(col("batch_id"))
  }

  val reconFlushLagSql: String =
    s"""WITH mx AS (SELECT MAX(o_orderkey) AS mx FROM orders),
      |src AS (
      |  SELECT CAST(FLOOR(o_orderkey * 10 / (mx + 1)) AS BIGINT) AS batch_id,
      |         COUNT(*) AS src_rows, MAX(o_orderkey) AS src_max_lsn
      |  FROM orders, mx GROUP BY 1
      |),
      |tgt AS (
      |  SELECT CAST(FLOOR(o_orderkey * 10 / (mx + 1)) AS BIGINT) AS batch_id,
      |         COUNT(*) AS tgt_rows, MAX(o_orderkey) AS confirmed_lsn
      |  FROM ($driftedTargetSql) t, mx
      |  WHERE o_orderkey <= mx GROUP BY 1
      |)
      |SELECT s.batch_id, s.src_rows, t.tgt_rows, s.src_max_lsn, t.confirmed_lsn,
      |  s.src_max_lsn - t.confirmed_lsn AS lag_lsn,
      |  s.src_rows - t.tgt_rows AS lag_rows,
      |  CASE WHEN s.src_max_lsn - t.confirmed_lsn = 0 AND s.src_rows - t.tgt_rows = 0 THEN 'CURRENT'
      |       WHEN s.src_max_lsn - t.confirmed_lsn = 0 THEN 'HOLES'
      |       ELSE 'LAGGING' END AS lag_status
      |FROM src s LEFT JOIN tgt t ON s.batch_id = t.batch_id
      |ORDER BY s.batch_id""".stripMargin

  /** recon_amount_parity — money-denominated drift per batch: each side
    * aggregates to exact cent totals per batch decile (one scan, 10
    * rows), and the report says WHERE the books diverge and by how many
    * dollars — the first number a financial reconciliation dashboard
    * shows. Complements recon_flush_lag (row presence) with value
    * parity: a batch can be row-complete yet dollars off (the planted
    * %500 perturbation) or row-short with the remainder agreeing.
    * Exact-cents discipline throughout; the dollar delta is one IEEE
    * divide of an exact long. Invented target rows (keys above the
    * source max) are excluded as missing_in_source drift, matching
    * flush_lag's framing. */
  def reconAmountParity(spark: SparkSession, dir: String): DataFrame = {
    val cents = (c: Column) => floor(c * 100d + 0.5d).cast("long")
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    val mx = o.agg(max(col("o_orderkey")).as("mx"))
    def batched(df: DataFrame) = df.crossJoin(broadcast(mx))
      .withColumn("batch_id",
        floor(col("o_orderkey") * 10 / (col("mx") + 1)).cast("long"))
    val src = batched(o).groupBy(col("batch_id"))
      .agg(count(lit(1)).as("src_rows"),
        sum(cents(col("o_totalprice"))).as("src_cents"))
    val tgt = batched(driftedTarget(spark, dir))
      .filter(col("o_orderkey") <= col("mx"))
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("tgt_rows"),
        sum(cents(col("o_totalprice"))).as("tgt_cents"))
    src.join(tgt, Seq("batch_id"), "left")
      .withColumn("delta_cents", col("tgt_cents") - col("src_cents"))
      .withColumn("delta_amount", col("delta_cents").cast("double") / lit(100d))
      .withColumn("parity_class",
        when(col("src_rows") === col("tgt_rows") && col("delta_cents") === 0, "MATCH")
          .when(col("src_rows") === col("tgt_rows"), "AMOUNT_DRIFT")
          .otherwise("ROW_DRIFT"))
      .select(col("batch_id"), col("src_rows"), col("tgt_rows"),
        col("src_cents"), col("tgt_cents"), col("delta_cents"),
        col("delta_amount"), col("parity_class"))
      .orderBy(col("batch_id"))
  }

  val reconAmountParitySql: String =
    s"""WITH mx AS (SELECT MAX(o_orderkey) AS mx FROM orders),
      |src AS (
      |  SELECT CAST(FLOOR(o_orderkey * 10 / (mx + 1)) AS BIGINT) AS batch_id,
      |         COUNT(*) AS src_rows,
      |         CAST(SUM(CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS src_cents
      |  FROM orders, mx GROUP BY 1
      |),
      |tgt AS (
      |  SELECT CAST(FLOOR(o_orderkey * 10 / (mx + 1)) AS BIGINT) AS batch_id,
      |         COUNT(*) AS tgt_rows,
      |         CAST(SUM(CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS tgt_cents
      |  FROM ($driftedTargetSql) t, mx
      |  WHERE o_orderkey <= mx GROUP BY 1
      |)
      |SELECT s.batch_id, s.src_rows, t.tgt_rows, s.src_cents, t.tgt_cents,
      |  t.tgt_cents - s.src_cents AS delta_cents,
      |  CAST(t.tgt_cents - s.src_cents AS DOUBLE) / 100.0 AS delta_amount,
      |  CASE WHEN s.src_rows = t.tgt_rows AND t.tgt_cents - s.src_cents = 0 THEN 'MATCH'
      |       WHEN s.src_rows = t.tgt_rows THEN 'AMOUNT_DRIFT'
      |       ELSE 'ROW_DRIFT' END AS parity_class
      |FROM src s LEFT JOIN tgt t ON s.batch_id = t.batch_id
      |ORDER BY s.batch_id""".stripMargin

  /** stats_moments — exact-carrier distribution-shape profile per group:
    * population skewness and excess kurtosis of quantity per return
    * flag. The sufficient statistics (n, Σx, Σx², Σx³, Σx⁴) are exact
    * integer sums on the unit grid (one scan, map-side combine); the
    * central moments and shape ratios derive from them by a fixed IEEE
    * sequence replayed verbatim in the oracle — the stats_corr
    * discipline extended to 3rd/4th moments. Shape asymmetry is the
    * drift signal a mean/variance profile misses (two sides can agree
    * on μ and σ² while one grew a tail). Carrier range: Σx⁴ ≤ 50⁴·n
    * stays double-exact (< 2^53) past sf10; a larger deployment moves
    * carriers to DECIMAL(38). */
  def statsMoments(spark: SparkSession, dir: String): DataFrame = {
    val xq = floor(col("l_quantity") + 0.5d).cast("long")
    def d(c: Column) = c.cast("double")
    val dn   = d(col("n"))
    val mean = d(col("s1")) / dn
    val ex2  = d(col("s2")) / dn
    val ex3  = d(col("s3")) / dn
    val ex4  = d(col("s4")) / dn
    val m2 = ex2 - mean * mean
    val m3 = ex3 - lit(3.0d) * mean * ex2 + lit(2.0d) * mean * mean * mean
    val m4 = ex4 - lit(4.0d) * mean * ex3 + lit(6.0d) * mean * mean * ex2 -
      lit(3.0d) * mean * mean * mean * mean
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), xq.as("xq"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("xq")).as("s1"),
        sum(col("xq") * col("xq")).as("s2"),
        sum(col("xq") * col("xq") * col("xq")).as("s3"),
        sum(col("xq") * col("xq") * col("xq") * col("xq")).as("s4"))
      .withColumn("mean_q", mean)
      .withColumn("var_q", m2)
      .withColumn("skew_q", m3 / (m2 * sqrt(m2)))
      .withColumn("kurt_q", m4 / (m2 * m2) - lit(3.0d))
      .orderBy(col("l_returnflag"))
  }

  val statsMomentsSql: String =
    """WITH q AS (
      |  SELECT l_returnflag, CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS xq
      |  FROM lineitem
      |), s AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    CAST(SUM(xq) AS BIGINT) AS s1,
      |    CAST(SUM(xq * xq) AS BIGINT) AS s2,
      |    CAST(SUM(xq * xq * xq) AS BIGINT) AS s3,
      |    CAST(SUM(xq * xq * xq * xq) AS BIGINT) AS s4
      |  FROM q GROUP BY 1
      |), m AS (
      |  SELECT l_returnflag, n, s1, s2, s3, s4,
      |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
      |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS ex2,
      |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS ex3,
      |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS ex4
      |  FROM s
      |), c AS (
      |  SELECT l_returnflag, n, s1, s2, s3, s4, mean,
      |    ex2 - mean * mean AS m2,
      |    ex3 - 3.0 * mean * ex2 + 2.0 * mean * mean * mean AS m3,
      |    ex4 - 4.0 * mean * ex3 + 6.0 * mean * mean * ex2 - 3.0 * mean * mean * mean * mean AS m4
      |  FROM m
      |)
      |SELECT l_returnflag, n, s1, s2, s3, s4,
      |  mean AS mean_q,
      |  m2 AS var_q,
      |  m3 / (m2 * sqrt(m2)) AS skew_q,
      |  m4 / (m2 * m2) - 3.0 AS kurt_q
      |FROM c
      |ORDER BY l_returnflag""".stripMargin

  val statsCorrSql: String =
    """WITH q AS (
      |  SELECT l_returnflag,
      |    CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS xq,
      |    CAST(FLOOR(l_extendedprice + 0.5) AS BIGINT) AS yq
      |  FROM lineitem
      |), s AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    CAST(SUM(xq) AS BIGINT) AS sx, CAST(SUM(yq) AS BIGINT) AS sy,
      |    CAST(SUM(xq * yq) AS BIGINT) AS sxy,
      |    CAST(SUM(xq * xq) AS BIGINT) AS sxx,
      |    CAST(SUM(yq * yq) AS BIGINT) AS syy
      |  FROM q GROUP BY 1
      |)
      |SELECT l_returnflag, n, sx, sy, sxy, sxx, syy,
      |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |    (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |     sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      |    AS corr_xy
      |FROM s
      |ORDER BY l_returnflag""".stripMargin

  /** recon_key_skew — join-key skew diagnostic for a prospective shuffle
    * key (events.user_id): the rows-per-key distribution (min/max/mean/
    * p50/p99) and the max/mean skew ratio, finished with the shuffle
    * strategy a planner would act on (SALT the hot keys vs plain HASH).
    * This is the audit you run BEFORE a 100 TB join picks its
    * partitioning — AQE's skew handling only triggers at runtime; this
    * surfaces the skew while the pipeline is still on the whiteboard.
    * One data-sized shuffle (groupBy key); the distribution aggregate
    * runs over one row per key. Skew ratio is exact-integer max·n_keys
    * over n_rows — ONE IEEE divide; both engines take the same branch
    * of the strategy CASE because the double is bit-identical. */
  def reconKeySkew(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    counts.agg(
      count(lit(1)).as("n_keys"),
      sum(col("n")).as("n_rows"),
      min(col("n")).as("min_rows"),
      max(col("n")).as("max_rows"),
      expr("percentile(CAST(n AS DOUBLE), 0.5)").as("p50_rows"),
      expr("percentile(CAST(n AS DOUBLE), 0.99)").as("p99_rows"))
      .withColumn("mean_rows",
        col("n_rows").cast("double") / col("n_keys").cast("double"))
      .withColumn("skew_ratio",
        (col("max_rows") * col("n_keys")).cast("double") /
          col("n_rows").cast("double"))
      .withColumn("strategy",
        when(col("skew_ratio") >= 4d, "SALT").otherwise("HASH"))
      .select(lit("user_id").as("key_col"), col("n_keys"), col("n_rows"),
        col("min_rows"), col("max_rows"), col("p50_rows"), col("p99_rows"),
        col("mean_rows"), col("skew_ratio"), col("strategy"))
  }

  val reconKeySkewSql: String =
    """WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1)
      |SELECT 'user_id' AS key_col,
      |  COUNT(*) AS n_keys,
      |  CAST(SUM(n) AS BIGINT) AS n_rows,
      |  MIN(n) AS min_rows,
      |  MAX(n) AS max_rows,
      |  quantile_cont(CAST(n AS DOUBLE), 0.5) AS p50_rows,
      |  quantile_cont(CAST(n AS DOUBLE), 0.99) AS p99_rows,
      |  CAST(CAST(SUM(n) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_rows,
      |  CAST(MAX(n) * COUNT(*) AS DOUBLE) / CAST(CAST(SUM(n) AS BIGINT) AS DOUBLE) AS skew_ratio,
      |  CASE WHEN CAST(MAX(n) * COUNT(*) AS DOUBLE) / CAST(CAST(SUM(n) AS BIGINT) AS DOUBLE) >= 4
      |       THEN 'SALT' ELSE 'HASH' END AS strategy
      |FROM c""".stripMargin

  /** recon_column_drift — value-DISTRIBUTION drift between source and
    * target: a 20-bucket exact-cents histogram of o_totalprice on both
    * sides (bucket grid derived from the SOURCE min/max and broadcast,
    * so both sides bin identically; integer `div` binning, top bucket
    * clamped) with per-bucket absolute divergence. This catches the
    * corruption class count/row-diff checks structurally can't: same
    * row count, same keys, values shifted — the +1.00-price drift rows
    * light up exactly the buckets they left and entered. Two
    * histogram-sized aggregates, a 20-row join; nothing else moves. */
  def reconColumnDrift(spark: SparkSession, dir: String): DataFrame = {
    val srcC = Tables.orders(spark, dir)
      .select(floor(col("o_totalprice") * 100d + 0.5d).cast("long").as("c"))
    val tgtC = driftedTarget(spark, dir)
      .select(floor(col("o_totalprice") * 100d + 0.5d).cast("long").as("c"))
    val bounds = srcC.agg(min(col("c")).as("min_c"), max(col("c")).as("max_c"))
    def hist(df: DataFrame, out: String): DataFrame =
      df.crossJoin(broadcast(bounds))
        .withColumn("bucket", least(lit(19L),
          expr("(c - min_c) * 20 div (max_c - min_c + 1)")))
        .groupBy(col("bucket")).agg(count(lit(1)).as(out))
    hist(srcC, "n_src").join(hist(tgtC, "n_tgt"), Seq("bucket"), "full")
      .select(col("bucket"),
        coalesce(col("n_src"), lit(0L)).as("n_src"),
        coalesce(col("n_tgt"), lit(0L)).as("n_tgt"))
      .withColumn("abs_diff", abs(col("n_src") - col("n_tgt")))
      .withColumn("drifted", col("abs_diff") > 0L)
      .orderBy(col("bucket"))
  }

  val reconColumnDriftSql: String =
    s"""WITH tgt AS ($driftedTargetSql),
      |srcc AS (SELECT CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT) AS c FROM orders),
      |tgtc AS (SELECT CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT) AS c FROM tgt),
      |bounds AS (SELECT MIN(c) AS min_c, MAX(c) AS max_c FROM srcc),
      |hs AS (
      |  SELECT least(19, (c - (SELECT min_c FROM bounds)) * 20 //
      |    ((SELECT max_c FROM bounds) - (SELECT min_c FROM bounds) + 1)) AS bucket,
      |    COUNT(*) AS n_src
      |  FROM srcc GROUP BY 1
      |),
      |ht AS (
      |  SELECT least(19, (c - (SELECT min_c FROM bounds)) * 20 //
      |    ((SELECT max_c FROM bounds) - (SELECT min_c FROM bounds) + 1)) AS bucket,
      |    COUNT(*) AS n_tgt
      |  FROM tgtc GROUP BY 1
      |)
      |SELECT COALESCE(hs.bucket, ht.bucket) AS bucket,
      |  COALESCE(n_src, 0) AS n_src,
      |  COALESCE(n_tgt, 0) AS n_tgt,
      |  abs(COALESCE(n_src, 0) - COALESCE(n_tgt, 0)) AS abs_diff,
      |  abs(COALESCE(n_src, 0) - COALESCE(n_tgt, 0)) > 0 AS drifted
      |FROM hs FULL OUTER JOIN ht ON hs.bucket = ht.bucket
      |ORDER BY bucket""".stripMargin

  /** recon_pk_violations — primary-key uniqueness audit of the target:
    * keys appearing more than once (count, first/last claimant, the
    * exact-cents value spread across claimants — identical-copy dups
    * and conflicting-write dups are different failures). The planted
    * scenario doubles keys % 777 == 5 verbatim (IDENTICAL_COPY) and
    * keys % 777 == 9 with a +1.00 skew (CONFLICTING_VALUES) so both
    * failure classes are exercised. One
    * groupBy(key); only violating keys (a vanishing fraction) leave
    * the aggregate. The check replication itself can't make: a target
    * that APPLIED everything can still have doubled rows from a
    * non-idempotent writer. */
  def reconPkViolations(spark: SparkSession, dir: String): DataFrame = {
    // The planted duplicates are emitted per-row from ONE pass over the
    // target (conditional struct array → filter → explode, the
    // Dedup.corpusOf pattern) instead of unioning three map-only copies
    // of the driftedTarget subtree — that union planned the target scan
    // three times (6 scan nodes) for per-row arithmetic (r16; guide
    // §2.4). Structs keep a row with a NULL price emittable (the keep
    // flag lives in the struct, so a null field never drops the
    // element), and the conflict copy carries the ORIGINAL +1.0d
    // expression so the cents value is bit-identical to the old branch.
    val base = driftedTarget(spark, dir)
    base
      .select(col("o_orderkey"), explode(filter(array(
        struct(lit(true).as("k"), col("o_totalprice").as("p")),
        struct((col("o_orderkey") % 777 === 5).as("k"),
          col("o_totalprice").as("p")),
        struct((col("o_orderkey") % 777 === 9).as("k"),
          (col("o_totalprice") + 1.0d).as("p"))), x => x.getField("k"))).as("e"))
      .select(col("o_orderkey"), floor(col("e.p") * 100d + 0.5d)
        .cast("long").as("c"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("c")).as("min_cents"),
        max(col("c")).as("max_cents"))
      .filter(col("n_rows") >= 2)
      .withColumn("conflict_kind",
        when(col("min_cents") === col("max_cents"), "IDENTICAL_COPY")
          .otherwise("CONFLICTING_VALUES"))
      .select(col("o_orderkey"), col("n_rows"), col("min_cents"),
        col("max_cents"), col("conflict_kind"))
      .orderBy(col("o_orderkey"))
  }

  val reconPkViolationsSql: String =
    s"""WITH tgt AS ($driftedTargetSql),
      |planted AS (
      |  SELECT o_orderkey, o_totalprice FROM tgt
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice FROM tgt WHERE o_orderkey % 777 = 5
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice + 1.0 FROM tgt WHERE o_orderkey % 777 = 9
      |),
      |g AS (
      |  SELECT o_orderkey, COUNT(*) AS n_rows,
      |    MIN(CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT)) AS min_cents,
      |    MAX(CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT)) AS max_cents
      |  FROM planted GROUP BY 1
      |  HAVING COUNT(*) >= 2
      |)
      |SELECT o_orderkey, n_rows, min_cents, max_cents,
      |  CASE WHEN min_cents = max_cents THEN 'IDENTICAL_COPY'
      |       ELSE 'CONFLICTING_VALUES' END AS conflict_kind
      |FROM g
      |ORDER BY o_orderkey""".stripMargin

  /** recon_bucket_drilldown — the adaptive narrowing step between
    * recon_hash_bucket and recon_repair: level-1 compares 64 bucket
    * digests; ONLY rows whose bucket mismatched are re-digested at
    * level-2 granularity (key % 4096), emitting the mismatched
    * sub-buckets with each side's key range. At 100 TB this is how a
    * digest mismatch narrows to fetchable key ranges with two
    * scan-speed digest passes and ZERO row movement — recon_repair then
    * ships only the rows inside the emitted ranges (vs recon_merkle's
    * full fixed-depth tree built in one pass; the drilldown builds only
    * the branch it needs).
    *
    * Scale shape: pass 1 is recon_hash_bucket (B-row shuffle); the ≤B
    * mismatched bucket ids broadcast back as a semi-join filter, so
    * pass 2 scans both sides once more but aggregates ONLY the
    * offending slice (∝ mismatch locality, 1/64 here) into 64
    * sub-digests per bad bucket. Output ∝ mismatched sub-buckets. */
  def reconBucketDrilldown(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    val tgt = driftedTarget(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    val dig = rowDigest(col("o_orderkey"), col("o_totalprice"))
    val bad = hashBucketDiffOf(src, tgt, "o_orderkey", dig, 64)
      .filter(!col("bucket_match")).select(col("bucket"))
    def subDigests(df: DataFrame, cnt: String, dg: String, kmin: String, kmax: String) =
      df.withColumn("bucket", pmod(col("o_orderkey"), lit(64L)))
        .join(broadcast(bad), Seq("bucket"), "left_semi")
        .withColumn("sub_bucket", pmod(col("o_orderkey"), lit(4096L)))
        .withColumn("rd", dig)
        .groupBy(col("bucket"), col("sub_bucket"))
        .agg(count(lit(1)).as(cnt), sum(col("rd")).as(dg),
          min(col("o_orderkey")).as(kmin), max(col("o_orderkey")).as(kmax))
    subDigests(src, "src_count", "src_digest", "src_min_key", "src_max_key")
      .join(subDigests(tgt, "tgt_count", "tgt_digest", "tgt_min_key", "tgt_max_key"),
        Seq("bucket", "sub_bucket"), "full_outer")
      .filter(coalesce(col("src_count"), lit(-1L)) =!= coalesce(col("tgt_count"), lit(-2L)) ||
        coalesce(col("src_digest"), lit(-1L)) =!= coalesce(col("tgt_digest"), lit(-2L)))
      .select(col("bucket"), col("sub_bucket"),
        col("src_count"), col("tgt_count"), col("src_digest"), col("tgt_digest"),
        col("src_min_key"), col("src_max_key"),
        col("tgt_min_key"), col("tgt_max_key"))
      .orderBy(col("bucket"), col("sub_bucket"))
  }

  val reconBucketDrilldownSql: String =
    s"""WITH tgt AS ($driftedTargetSql),
      |srcd AS (
      |  SELECT o_orderkey % 64 AS bucket, COUNT(*) AS c,
      |    CAST(SUM((o_orderkey * 2654435761 % 1000000007 + CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT) % 1000000007) % 1000000007) AS BIGINT) AS d
      |  FROM orders GROUP BY 1),
      |tgtd AS (
      |  SELECT o_orderkey % 64 AS bucket, COUNT(*) AS c,
      |    CAST(SUM((o_orderkey * 2654435761 % 1000000007 + CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT) % 1000000007) % 1000000007) AS BIGINT) AS d
      |  FROM tgt GROUP BY 1),
      |bad AS (
      |  SELECT COALESCE(srcd.bucket, tgtd.bucket) AS bucket
      |  FROM srcd FULL OUTER JOIN tgtd ON srcd.bucket = tgtd.bucket
      |  WHERE COALESCE(srcd.c, -1) <> COALESCE(tgtd.c, -2)
      |     OR COALESCE(srcd.d, -1) <> COALESCE(tgtd.d, -2)),
      |srcs AS (
      |  SELECT o_orderkey % 64 AS bucket, o_orderkey % 4096 AS sub_bucket,
      |    COUNT(*) AS src_count,
      |    CAST(SUM((o_orderkey * 2654435761 % 1000000007 + CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT) % 1000000007) % 1000000007) AS BIGINT) AS src_digest,
      |    MIN(o_orderkey) AS src_min_key, MAX(o_orderkey) AS src_max_key
      |  FROM orders WHERE o_orderkey % 64 IN (SELECT bucket FROM bad)
      |  GROUP BY 1, 2),
      |tgts AS (
      |  SELECT o_orderkey % 64 AS bucket, o_orderkey % 4096 AS sub_bucket,
      |    COUNT(*) AS tgt_count,
      |    CAST(SUM((o_orderkey * 2654435761 % 1000000007 + CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT) % 1000000007) % 1000000007) AS BIGINT) AS tgt_digest,
      |    MIN(o_orderkey) AS tgt_min_key, MAX(o_orderkey) AS tgt_max_key
      |  FROM tgt WHERE o_orderkey % 64 IN (SELECT bucket FROM bad)
      |  GROUP BY 1, 2)
      |SELECT COALESCE(srcs.bucket, tgts.bucket) AS bucket,
      |  COALESCE(srcs.sub_bucket, tgts.sub_bucket) AS sub_bucket,
      |  src_count, tgt_count, src_digest, tgt_digest,
      |  src_min_key, src_max_key, tgt_min_key, tgt_max_key
      |FROM srcs FULL OUTER JOIN tgts
      |  ON srcs.bucket = tgts.bucket AND srcs.sub_bucket = tgts.sub_bucket
      |WHERE COALESCE(src_count, -1) <> COALESCE(tgt_count, -2)
      |   OR COALESCE(src_digest, -1) <> COALESCE(tgt_digest, -2)
      |ORDER BY bucket, sub_bucket""".stripMargin

  /** recon_day_drill — TEMPORAL drift drill-down: the bucketed-digest
    * compare keyed by order DAY instead of a hash bucket, so a mismatch
    * localizes in time ("drift started on the 14th") rather than in key
    * space — the first question an operator actually asks. Same
    * (count, Σ row-digest) discipline as recon_hash_bucket over a
    * date-preserving drifted target; map-side combine makes each side
    * near scan-speed, the shuffle is days-sized, and only divergent
    * days leave the full-outer compare. Complements
    * recon_bucket_drilldown: time-axis first, then key-axis inside the
    * bad window. */
  def reconDayDrill(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
    // the driftedTarget drift rules, with the date column carried through
    val tgt = o.filter(col("o_orderkey") % 1000 =!= 7)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 500 === 3, col("o_totalprice") + 1.0d)
          .otherwise(col("o_totalprice")))
      .unionAll(o.filter(col("o_orderkey") % 1000 === 13)
        .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
    def byDay(df: DataFrame, cnt: String, dg: String) =
      df.withColumn("day", date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .withColumn("rd", rowDigest(col("o_orderkey"), col("o_totalprice")))
        .groupBy(col("day"))
        .agg(count(lit(1)).as(cnt), sum(col("rd")).as(dg))
    byDay(o, "src_count", "src_digest")
      .join(byDay(tgt, "tgt_count", "tgt_digest"), Seq("day"), "full_outer")
      .filter(coalesce(col("src_count"), lit(-1L)) =!= coalesce(col("tgt_count"), lit(-2L)) ||
        coalesce(col("src_digest"), lit(-1L)) =!= coalesce(col("tgt_digest"), lit(-2L)))
      .select(col("day"), col("src_count"), col("tgt_count"),
        col("src_digest"), col("tgt_digest"))
      .orderBy(col("day"))
  }

  val reconDayDrillSql: String =
    """WITH tgt AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 500 = 3 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
      |    o_orderdate
      |  FROM orders WHERE o_orderkey % 1000 <> 7
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, o_totalprice, o_orderdate
      |  FROM orders WHERE o_orderkey % 1000 = 13
      |),
      |srcd AS (
      |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day, COUNT(*) AS src_count,
      |    CAST(SUM((o_orderkey * 2654435761 % 1000000007 + CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT) % 1000000007) % 1000000007) AS BIGINT) AS src_digest
      |  FROM orders GROUP BY 1),
      |tgtd AS (
      |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day, COUNT(*) AS tgt_count,
      |    CAST(SUM((o_orderkey * 2654435761 % 1000000007 + CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT) % 1000000007) % 1000000007) AS BIGINT) AS tgt_digest
      |  FROM tgt GROUP BY 1)
      |SELECT COALESCE(srcd.day, tgtd.day) AS day,
      |  src_count, tgt_count, src_digest, tgt_digest
      |FROM srcd FULL OUTER JOIN tgtd ON srcd.day = tgtd.day
      |WHERE COALESCE(src_count, -1) <> COALESCE(tgt_count, -2)
      |   OR COALESCE(src_digest, -1) <> COALESCE(tgt_digest, -2)
      |ORDER BY day""".stripMargin

  /** recon_column_drill — WHICH-COLUMN drift localization, the third
    * drill axis after key space (recon_bucket_drilldown) and time
    * (recon_day_drill): inner-join source and target on the key
    * (row presence differences are the OTHER reports' job — this one
    * isolates value drift on common keys), then per column count exact
    * mismatches with first/last offending key. One key-partitioned
    * shuffle join + a map-combined aggregate; output is one row per
    * compared column. Money compares exact cents; the planted drift
    * (+1.00 on o_orderkey % 500 == 3) must surface ONLY in
    * o_totalprice, proving the isolation. */
  def reconColumnDrill(spark: SparkSession, dir: String): DataFrame = {
    val cents = (c: Column) => floor(c * 100d + 0.5d).cast("long")
    val src = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k"), col("o_custkey").as("s_ck"),
        cents(col("o_totalprice")).as("s_tp"))
    val tgt = driftedTarget(spark, dir)
      .select(col("o_orderkey").as("k"), col("o_custkey").as("t_ck"),
        cents(col("o_totalprice")).as("t_tp"))
    val j = src.join(tgt, Seq("k"))
    // both columns' mismatch stats come out of ONE aggregate over the
    // join, unpivoted to per-column rows with stack — the per-column
    // colReport formulation planned the whole compare join TWICE (r16;
    // guide §2.4, the reconSchemaDrift stack pattern)
    def mm(s: Column, t: Column) = s =!= t
    j.agg(count(lit(1)).as("common_rows"),
        sum(when(mm(col("s_ck"), col("t_ck")), 1L).otherwise(0L)).as("ck_mm"),
        min(when(mm(col("s_ck"), col("t_ck")), col("k"))).as("ck_first"),
        max(when(mm(col("s_ck"), col("t_ck")), col("k"))).as("ck_last"),
        sum(when(mm(col("s_tp"), col("t_tp")), 1L).otherwise(0L)).as("tp_mm"),
        min(when(mm(col("s_tp"), col("t_tp")), col("k"))).as("tp_first"),
        max(when(mm(col("s_tp"), col("t_tp")), col("k"))).as("tp_last"))
      .selectExpr(
        """stack(2,
          |  'o_custkey',    common_rows, ck_mm, ck_first, ck_last,
          |  'o_totalprice', common_rows, tp_mm, tp_first, tp_last
          |) AS (column_name, common_rows, mismatch_rows, first_bad_key, last_bad_key)""".stripMargin)
      .select(col("column_name"), col("common_rows"), col("mismatch_rows"),
        expr("(mismatch_rows * 10000L) DIV greatest(common_rows, 1L)")
          .as("mismatch_bp"),
        col("first_bad_key"), col("last_bad_key"))
      .orderBy(col("column_name"))
  }

  val reconColumnDrillSql: String =
    s"""WITH tgt AS ($driftedTargetSql),
      |j AS (
      |  SELECT s.o_orderkey AS k,
      |    s.o_custkey AS s_ck, t.o_custkey AS t_ck,
      |    CAST(FLOOR(s.o_totalprice*100 + 0.5) AS BIGINT) AS s_tp,
      |    CAST(FLOOR(t.o_totalprice*100 + 0.5) AS BIGINT) AS t_tp
      |  FROM orders s JOIN tgt t ON s.o_orderkey = t.o_orderkey
      |)
      |SELECT * FROM (
      |SELECT 'o_custkey' AS column_name, COUNT(*) AS common_rows,
      |  CAST(SUM(CASE WHEN s_ck <> t_ck THEN 1 ELSE 0 END) AS BIGINT) AS mismatch_rows,
      |  CAST((CAST(SUM(CASE WHEN s_ck <> t_ck THEN 1 ELSE 0 END) AS BIGINT) * 10000)
      |    // GREATEST(COUNT(*), 1) AS BIGINT) AS mismatch_bp,
      |  MIN(CASE WHEN s_ck <> t_ck THEN k END) AS first_bad_key,
      |  MAX(CASE WHEN s_ck <> t_ck THEN k END) AS last_bad_key
      |FROM j
      |UNION ALL
      |SELECT 'o_totalprice' AS column_name, COUNT(*) AS common_rows,
      |  CAST(SUM(CASE WHEN s_tp <> t_tp THEN 1 ELSE 0 END) AS BIGINT) AS mismatch_rows,
      |  CAST((CAST(SUM(CASE WHEN s_tp <> t_tp THEN 1 ELSE 0 END) AS BIGINT) * 10000)
      |    // GREATEST(COUNT(*), 1) AS BIGINT) AS mismatch_bp,
      |  MIN(CASE WHEN s_tp <> t_tp THEN k END) AS first_bad_key,
      |  MAX(CASE WHEN s_tp <> t_tp THEN k END) AS last_bad_key
      |FROM j
      |)
      |ORDER BY column_name""".stripMargin

  /** recon_null_audit — per-column null census of the replicated
    * target, against the source's (null-free) baseline: replication
    * layers that mis-map types or lose fields usually degrade to NULL,
    * not to wrong values, so the null rate per column is the cheapest
    * column-fidelity alarm there is — and the planted null stripe
    * (o_custkey NULLed where o_orderkey % 777 == 0 in the simulated
    * target) proves the audit detects what it claims. One map-combined
    * aggregate per side, no join; output one row per (side, column). */
  def reconNullAudit(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val tgt = src.withColumn("o_custkey",
      when(col("o_orderkey") % 777 === 0, lit(null).cast("long"))
        .otherwise(col("o_custkey")))
    def audit(df: DataFrame, side: String) = {
      val cols = Seq("o_orderkey", "o_custkey", "o_totalprice")
      // one scan per side: the census aggregate is unpivoted to
      // per-column rows with stack instead of selecting the same 1-row
      // aggregate once per column, which planned the scan+aggregate
      // subtree three times per side (r16; guide §2.4)
      df.agg(count(lit(1)).as("n_rows"),
          cols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"n_$c")): _*)
        .selectExpr(
          s"""stack(${cols.size},
            |  ${cols.map(c => s"'$c', n_rows, n_$c").mkString(",\n  ")}
            |) AS (column_name, n_rows, n_nulls)""".stripMargin)
        .select(lit(side).as("side"), col("column_name"), col("n_rows"),
          col("n_nulls"),
          expr("(n_nulls * 10000L) DIV greatest(n_rows, 1L)").as("null_bp"))
    }
    audit(src, "source").unionAll(audit(tgt, "target"))
      .orderBy(col("side"), col("column_name"))
  }

  val reconNullAuditSql: String = {
    def sideSql(rel: String, side: String): String =
      Seq("o_orderkey", "o_custkey", "o_totalprice").map { c =>
        s"""SELECT '$side' AS side, '$c' AS column_name,
          |  COUNT(*) AS n_rows,
          |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
          |  CAST((CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) * 10000)
          |    // GREATEST(COUNT(*), 1) AS BIGINT) AS null_bp
          |FROM $rel""".stripMargin
      }.mkString("\nUNION ALL\n")
    s"""WITH tgt AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 777 = 0 THEN NULL ELSE o_custkey END AS o_custkey,
      |    o_totalprice
      |  FROM orders
      |)
      |SELECT * FROM (
      |${sideSql("orders", "source")}
      |UNION ALL
      |${sideSql("tgt", "target")}
      |)
      |ORDER BY side, column_name""".stripMargin
  }

  /** recon_fk_orphans — referential-integrity audit over the star
    * schema's FK edges, plus the drift-simulated target as one parent
    * (the planted-deletion case MUST surface orphans, proving the audit
    * detects what it claims to). Each edge is one keyed left-outer join
    * + map-combined aggregate; dimension parents broadcast, fact-sized
    * parents shuffle on the key. Parents are PK relations (unique
    * keys), so the left join never duplicates child rows. Output: one
    * row per edge — child_rows, orphan_rows, distinct orphan_keys. */
  def reconFkOrphans(spark: SparkSession, dir: String): DataFrame = {
    def edge(rel: String, child: DataFrame, ck: String,
             parent: DataFrame, pk: String, bcast: Boolean): DataFrame = {
      val p0 = parent.select(col(pk).as("__pk"))
      val p = if (bcast) broadcast(p0) else p0
      child.select(col(ck).as("__ck"))
        .join(p, col("__ck") === col("__pk"), "left_outer")
        .agg(count(lit(1)).as("child_rows"),
          sum(when(col("__pk").isNull, 1L).otherwise(0L)).as("orphan_rows"),
          count_distinct(when(col("__pk").isNull, col("__ck"))).as("orphan_keys"))
        .select(lit(rel).as("relationship"),
          col("child_rows"), col("orphan_rows"), col("orphan_keys"))
    }
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    val c  = Tables.customer(spark, dir)
    val s  = Tables.supplier(spark, dir)
    val n  = Tables.nation(spark, dir)
    edge("customer->nation", c, "c_nationkey", n, "n_nationkey", bcast = true)
      .unionAll(edge("lineitem->orders", li, "l_orderkey", o, "o_orderkey", bcast = false))
      .unionAll(edge("lineitem->orders_drifted", li, "l_orderkey",
        driftedTarget(spark, dir), "o_orderkey", bcast = false))
      .unionAll(edge("lineitem->part", li, "l_partkey",
        Tables.part(spark, dir), "p_partkey", bcast = true))
      .unionAll(edge("lineitem->supplier", li, "l_suppkey", s, "s_suppkey", bcast = true))
      .unionAll(edge("orders->customer", o, "o_custkey", c, "c_custkey", bcast = false))
      .unionAll(edge("supplier->nation", s, "s_nationkey", n, "n_nationkey", bcast = true))
      .orderBy(col("relationship"))
  }

  val reconFkOrphansSql: String = {
    def edgeSql(rel: String, childRel: String, ck: String,
                parentRel: String, pk: String): String =
      s"""SELECT '$rel' AS relationship,
        |  COUNT(*) AS child_rows,
        |  CAST(SUM(CASE WHEN p.$pk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphan_rows,
        |  CAST(COUNT(DISTINCT CASE WHEN p.$pk IS NULL THEN ch.$ck END) AS BIGINT) AS orphan_keys
        |FROM $childRel ch LEFT JOIN $parentRel p ON ch.$ck = p.$pk""".stripMargin
    s"""WITH tgt AS ($driftedTargetSql)
      |SELECT * FROM (
      |${edgeSql("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey")}
      |UNION ALL
      |${edgeSql("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey")}
      |UNION ALL
      |${edgeSql("lineitem->orders_drifted", "lineitem", "l_orderkey", "tgt", "o_orderkey")}
      |UNION ALL
      |${edgeSql("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey")}
      |UNION ALL
      |${edgeSql("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey")}
      |UNION ALL
      |${edgeSql("orders->customer", "orders", "o_custkey", "customer", "c_custkey")}
      |UNION ALL
      |${edgeSql("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey")}
      |)
      |ORDER BY relationship""".stripMargin
  }

  /** Per-batch row budget for [[reconBackfillPlan]] — small enough that
    * the gate corpus needs several batches, the knob a production
    * backfill sizes to its write-throughput SLA. */
  val RepairBatchRows = 50L

  /** recon_backfill_plan — the repair EXECUTION PLAN as data (the
    * embed_index_plan discipline applied to reconciliation): the row
    * diff rolls up per hash bucket, buckets order by severity
    * (repair-row count desc, bucket asc — worst divergence first, the
    * order that shrinks residual risk fastest), and a running row sum
    * assigns each bucket to a [[RepairBatchRows]]-budget backfill batch.
    * recon_repair says WHAT to write; this says in WHICH ORDER and
    * BATCH — the throttled-backfill shape every production repair runs
    * as, and oracle-checked so a planner drift between engines fails
    * the gate.
    *
    * Scale shape: the diff join is the recon ladder's (key-partitioned,
    * never broadcast-fact); the plan window runs over ≤ 64 bucket rows
    * — bounded-constant, the SURVEY §5 small-window discipline. */
  def reconBackfillPlan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perBucket = rowDiffOf(Tables.orders(spark, dir), driftedTarget(spark, dir),
      "o_orderkey", "o_totalprice")
      .withColumn("bucket", pmod(col("key"), lit(64L)))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_repairs"),
        sum(when(col("diff_type") === "missing_in_target", 1L).otherwise(0L))
          .as("n_inserts"),
        sum(when(col("diff_type") === "missing_in_source", 1L).otherwise(0L))
          .as("n_deletes"),
        sum(when(col("diff_type") === "value_mismatch", 1L).otherwise(0L))
          .as("n_updates"))
    val w = Window.orderBy(col("n_repairs").desc, col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    perBucket
      .withColumn("cum_repairs", sum(col("n_repairs")).over(w))
      .withColumn("batch_no",
        expr(s"(cum_repairs - n_repairs) DIV $RepairBatchRows"))
      .select(col("bucket"), col("n_repairs"), col("n_inserts"),
        col("n_updates"), col("n_deletes"), col("cum_repairs"), col("batch_no"))
      .orderBy(col("batch_no"), col("n_repairs").desc, col("bucket"))
  }

  val reconBackfillPlanSql: String =
    s"""WITH tgt AS ($driftedTargetSql),
      |src AS (SELECT o_orderkey AS key, o_totalprice AS src_amount FROM orders),
      |t2  AS (SELECT o_orderkey AS key, o_totalprice AS tgt_amount FROM tgt),
      |diff AS (
      |  SELECT COALESCE(src.key, t2.key) AS key,
      |    CASE WHEN t2.key IS NULL THEN 'missing_in_target'
      |         WHEN src.key IS NULL THEN 'missing_in_source'
      |         WHEN src.src_amount <> t2.tgt_amount THEN 'value_mismatch' END AS diff_type
      |  FROM src FULL OUTER JOIN t2 ON src.key = t2.key
      |), d AS (SELECT * FROM diff WHERE diff_type IS NOT NULL),
      |pb AS (
      |  SELECT key % 64 AS bucket, COUNT(*) AS n_repairs,
      |    CAST(SUM(CASE WHEN diff_type = 'missing_in_target' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserts,
      |    CAST(SUM(CASE WHEN diff_type = 'missing_in_source' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
      |    CAST(SUM(CASE WHEN diff_type = 'value_mismatch' THEN 1 ELSE 0 END) AS BIGINT) AS n_updates
      |  FROM d GROUP BY 1
      |), c AS (
      |  SELECT *, CAST(SUM(n_repairs) OVER (ORDER BY n_repairs DESC, bucket
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_repairs
      |  FROM pb
      |)
      |SELECT bucket, n_repairs, n_inserts, n_updates, n_deletes, cum_repairs,
      |  (cum_repairs - n_repairs) // $RepairBatchRows AS batch_no
      |FROM c
      |ORDER BY batch_no, n_repairs DESC, bucket""".stripMargin
}
