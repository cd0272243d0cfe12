package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** CDC change-log operators (SURVEY.md §2.A).
  *
  * The reference replicates a Postgres WAL through Debezium: a totally
  * ordered log of insert/update/delete events per key, applied to a target
  * (reference: architecture.md:39-70, debezium-connector-config.json).
  * Here the `events` table plays the change log: `event_id` is the
  * monotonic offset (LSN analog), `user_id` the primary key, and
  * `event_type` maps onto the Debezium op codes:
  * signup → insert, click/view/purchase → update, error → delete.
  *
  * Scale notes: latest-state uses `max_by`-style aggregation (one shuffle
  * on the key, map-side partial aggregation) rather than a sort window —
  * at 100 TB a `row_number` window sorts every partition while the
  * aggregate form combines locally first. The aggregate is a hash
  * aggregate only when every payload is fixed-width: the I/U/D folds
  * code their op as an int ([[opFoldOf]]), while `cdc_latest_state`'s
  * string `event_type` still plans a sort aggregate.
  */
object CdcOps {

  /** Debezium-style op code from the event type. */
  def opCode(eventType: Column): Column =
    when(eventType === "signup", "I")
      .when(eventType === "error", "D")
      .otherwise("U")

  private val opSql =
    "CASE WHEN event_type = 'signup' THEN 'I' WHEN event_type = 'error' THEN 'D' ELSE 'U' END"

  /** Generic last-writer-wins materialization over any change log: for
    * each key, the payload columns of the record with the highest offset.
    * One shuffle on the key with map-side partial aggregation (max_by) —
    * at 100 TB this beats a row_number window, which sorts every
    * partition and cannot partially aggregate. It is a hash aggregate
    * only when every payload is fixed-width: a string payload has no
    * fixed-width `max_by` buffer and plans a sort aggregate. Output
    * columns are named `last_<payload>` plus `last_<offset>`. */
  def latestStateOf(log: DataFrame, keyCol: String, offsetCol: String,
                    payloadCols: Seq[String]): DataFrame = {
    val aggs = max(col(offsetCol)).as(s"last_$offsetCol") +:
      payloadCols.map(c => max_by(col(c), col(offsetCol)).as(s"last_$c"))
    log.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** [[latestStateOf]] over an I/U/D change log, with the op folded as an
    * int code (I=0, U=1, D=2) and `last_<op>` decoded back to its letter,
    * so every fold buffer is fixed-width and the fold is a hash aggregate.
    * An op outside I/U/D fails the query with a message naming it, in the
    * fold's own pass (no extra job); a null op stays null. The fold behind
    * [[applyLogOf]], [[tombstoneGcOf]] and the streaming lake apply. */
  private[graft] def opFoldOf(log: DataFrame, keyCol: String, offsetCol: String,
                              opCol: String, payloadCols: Seq[String]): DataFrame = {
    val op = col(opCol)
    val code = when(op === "I", 0).when(op === "U", 1).when(op === "D", 2)
      .when(op.isNotNull,
        raise_error(concat(lit(s"unsupported CDC op in $opCol (expected I, U or D): "), op)))
    val last = col(s"last_$opCol")
    latestStateOf(log.withColumn(opCol, code), keyCol, offsetCol, opCol +: payloadCols)
      .withColumn(s"last_$opCol", when(last === 0, "I").when(last === 1, "U").when(last === 2, "D"))
  }

  /** cdc_latest_state — last-writer-wins materialization: for each key the
    * payload of the change record with the highest offset. */
  def latestState(spark: SparkSession, dir: String): DataFrame =
    latestStateOf(Tables.events(spark, dir), "user_id", "event_id",
      Seq("event_type", "value"))
      .withColumnsRenamed(Map("last_event_type" -> "last_type", "last_value" -> "last_value"))
      .select(col("user_id"), col("last_event_id"), col("last_type"), col("last_value"))
      .orderBy(col("user_id"))

  val latestStateSql: String =
    """SELECT user_id, event_id AS last_event_id, event_type AS last_type,
      |       value AS last_value
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** Generic Debezium-sink apply over any change log with an I/U/D op
    * column: the latest op per key wins; keys whose latest op is a delete
    * are absent from the snapshot (tombstone semantics). An op outside
    * I/U/D fails the query; a key whose latest op is null is dropped. */
  def applyLogOf(log: DataFrame, keyCol: String, offsetCol: String,
                 opCol: String, payloadCols: Seq[String]): DataFrame =
    opFoldOf(log, keyCol, offsetCol, opCol, payloadCols)
      .filter(col(s"last_$opCol") =!= "D")

  /** cdc_apply_upsert_delete — apply the log to an (empty) target with
    * Debezium sink semantics: the latest op per key wins; a key whose
    * latest op is a delete is absent from the snapshot. */
  def applyUpsertDelete(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).withColumn("op", opCode(col("event_type")))
    applyLogOf(ev, "user_id", "event_id", "op", Seq("value"))
      .select(col("user_id"), col("last_event_id"), col("last_value").as("value"))
      .orderBy(col("user_id"))
  }

  val applyUpsertDeleteSql: String =
    s"""SELECT user_id, last_event_id, value
      |FROM (SELECT user_id, event_id AS last_event_id, $opSql AS last_op, value,
      |             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1 AND last_op <> 'D'
      |ORDER BY user_id""".stripMargin

  /** cdc_changelog_stats — operational view of the change stream: per-day,
    * per-op record counts, distinct keys touched, and exact payload volume. */
  def changelogStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).withColumn("op", opCode(col("event_type")))
    ev.groupBy(to_date(col("ts")).as("day"), col("op"))
      .agg(
        count(lit(1)).as("n_changes"),
        countDistinct(col("user_id")).as("n_keys"),
        (sum(floor(col("value") * 100d + 0.5d).cast("long")) / 100d).as("sum_value"))
      .orderBy(col("day"), col("op"))
  }

  val changelogStatsSql: String =
    s"""SELECT CAST(ts AS DATE) AS day, $opSql AS op,
      |  COUNT(*) AS n_changes,
      |  COUNT(DISTINCT user_id) AS n_keys,
      |  SUM(CAST(FLOOR(value*100 + 0.5) AS BIGINT)) / 100.0 AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY day, op""".stripMargin

  /** cdc_batch_ledger — derive a batch_control-shaped ledger from loaded
    * data (reference: data_generator.py:72-94 records batch_id, row_count,
    * completion LSN). Batches are deciles of the key space; the batch's
    * completion LSN is its max key (LSN analog). */
  def batchLedger(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val maxKey = o.agg(max(col("o_orderkey")).as("mx"))
    o.crossJoin(broadcast(maxKey))
      .withColumn("batch_id", floor(col("o_orderkey") * 10 / (col("mx") + 1)).cast("long"))
      .groupBy(col("batch_id"))
      .agg(
        count(lit(1)).as("row_count"),
        min(col("o_orderkey")).as("start_lsn"),
        max(col("o_orderkey")).as("completion_lsn"),
        max(col("o_orderdate")).cast("timestamp").as("completion_ts"),
        (sum(floor(col("o_totalprice") * 100d + 0.5d).cast("long")) / 100d).as("batch_amount"),
        lit("COMPLETED").as("status"))
      .orderBy(col("batch_id"))
  }

  val batchLedgerSql: String =
    """SELECT CAST(FLOOR(o_orderkey * 10 / ((SELECT MAX(o_orderkey) FROM orders) + 1)) AS BIGINT) AS batch_id,
      |  COUNT(*) AS row_count,
      |  MIN(o_orderkey) AS start_lsn,
      |  MAX(o_orderkey) AS completion_lsn,
      |  MAX(o_orderdate) AS completion_ts,
      |  SUM(CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT)) / 100.0 AS batch_amount,
      |  'COMPLETED' AS status
      |FROM orders
      |GROUP BY 1
      |ORDER BY batch_id""".stripMargin

  /** cdc_control_ledger — the `batch_control` table with its FULL status
    * domain. The reference constrains `status IN ('IN_PROGRESS',
    * 'COMPLETED', 'FAILED')` and carries `error_message`
    * (init-scripts/source/01-init.sql:16,21); the generator INSERTs a
    * batch as IN_PROGRESS and only flips it to COMPLETED with LSN +
    * timestamp once the COPY lands (data_generator.py:72-94). A live
    * control table therefore always holds open and failed batches, and
    * every monitoring function filters them out
    * (check_latest_batch_replication_status.sql:31 `bc.status =
    * 'COMPLETED'`).
    *
    * The derived ledger is COMPLETED by construction, which would make
    * that filter vacuous — so this op plants a deterministic
    * non-COMPLETED roster (the slot_pub_match roster technique): batch
    * 10 open (IN_PROGRESS, row_count known, no completion LSN/ts yet)
    * and batch 11 failed mid-COPY (FAILED + error_message). Their ids
    * sit ABOVE the data-derived deciles 0-9, so any downstream latest-
    * batch pick that forgets the status filter selects a planted row
    * and hash-mismatches its oracle — the filter is now provably
    * exercised. Roster rows are metadata literals: nothing data-sized. */
  def controlLedger(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val planted = Seq(
      (10L, 1234L, Option.empty[Long], Option.empty[Long],
        Option.empty[java.sql.Timestamp], Option.empty[Double],
        "IN_PROGRESS", Option.empty[String]),
      (11L, 567L, Option.empty[Long], Option.empty[Long],
        Option.empty[java.sql.Timestamp], Option.empty[Double],
        "FAILED", Some("ERROR: deadlock detected during COPY (planted)")))
      .toDF("batch_id", "row_count", "start_lsn", "completion_lsn",
        "completion_ts", "batch_amount", "status", "error_message")
    batchLedger(spark, dir)
      .withColumn("error_message", lit(null).cast("string"))
      .unionByName(planted)
      .orderBy(col("batch_id"))
  }

  val controlLedgerSql: String =
    s"""SELECT batch_id, row_count, start_lsn, completion_lsn, completion_ts,
      |  batch_amount, status, CAST(NULL AS VARCHAR) AS error_message
      |FROM ($batchLedgerSql)
      |UNION ALL
      |SELECT * FROM (VALUES
      |  (CAST(10 AS BIGINT), CAST(1234 AS BIGINT), CAST(NULL AS BIGINT),
      |   CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE),
      |   'IN_PROGRESS', CAST(NULL AS VARCHAR)),
      |  (CAST(11 AS BIGINT), CAST(567 AS BIGINT), CAST(NULL AS BIGINT),
      |   CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE),
      |   'FAILED', 'ERROR: deadlock detected during COPY (planted)'))
      |  AS t(batch_id, row_count, start_lsn, completion_lsn, completion_ts,
      |       batch_amount, status, error_message)
      |ORDER BY batch_id""".stripMargin

  /** batch_failed_audit — the failure-surfacing view of the control
    * ledger: every non-COMPLETED batch with its status and
    * error_message (init-scripts/source/01-init.sql:21), oldest first.
    * This is the operator's daily page: open batches that should have
    * settled and failed batches carrying their COPY error. Output is
    * ∝ incidents, never data-sized. */
  def batchFailedAudit(spark: SparkSession, dir: String): DataFrame =
    controlLedger(spark, dir)
      .filter(col("status") =!= "COMPLETED")
      .select(col("batch_id"), col("status"), col("row_count"),
        col("error_message"), col("error_message").isNotNull.as("has_error"))
      .orderBy(col("batch_id"))

  val batchFailedAuditSql: String =
    s"""SELECT batch_id, status, row_count, error_message,
      |  error_message IS NOT NULL AS has_error
      |FROM ($controlLedgerSql)
      |WHERE status <> 'COMPLETED'
      |ORDER BY batch_id""".stripMargin

  /** cdc_log_compaction — Kafka-style log compaction, windowed: within
    * each 12-hour epoch-aligned window keep only the latest record per
    * key, and report the per-window compaction audit (records in,
    * survivors out, exact survivor-offset checksum). This is the
    * changelog-retention planner's view: how much history a compacted
    * topic actually retains per window.
    *
    * Scale shape: first aggregation shuffles on (window, key) with
    * map-side combine — the same single-shuffle discipline as
    * latest-state; the per-window rollup then reduces ≤ windows rows. */
  def logCompaction(spark: SparkSession, dir: String): DataFrame = {
    val WinUs = 43200000000L // 12 h in epoch micros
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        // True floor division (pmod is non-negative): `x div n` truncates
        // toward zero, which would disagree with the oracle's `//` floor
        // for pre-epoch timestamps. A double divide could round across a
        // window edge, so stay in exact integer arithmetic.
        expr(s"(unix_micros(ts) - pmod(unix_micros(ts), $WinUs)) div $WinUs").as("win"))
      .groupBy(col("win"), col("user_id"))
      .agg(max(col("event_id")).as("last_event_id"), count(lit(1)).as("n"))
      .groupBy(col("win"))
      .agg(sum(col("n")).as("n_events"),
        count(lit(1)).as("n_compacted"),
        sum(col("last_event_id")).as("survivor_checksum"))
      .withColumn("win_start", timestamp_micros(col("win") * WinUs))
      .withColumn("compaction_ratio",
        col("n_compacted").cast("double") / col("n_events"))
      .select(col("win_start"), col("n_events"), col("n_compacted"),
        col("survivor_checksum"), col("compaction_ratio"))
      .orderBy(col("win_start"))
  }

  val logCompactionSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 43200000000 AS win
      |  FROM events
      |), latest AS (
      |  SELECT win, user_id, MAX(event_id) AS last_event_id, COUNT(*) AS n
      |  FROM ev GROUP BY 1, 2
      |)
      |SELECT make_timestamp(win * 43200000000) AS win_start,
      |  CAST(SUM(n) AS BIGINT) AS n_events,
      |  COUNT(*) AS n_compacted,
      |  CAST(SUM(last_event_id) AS BIGINT) AS survivor_checksum,
      |  CAST(COUNT(*) AS DOUBLE) / SUM(n) AS compaction_ratio
      |FROM latest GROUP BY win
      |ORDER BY win_start""".stripMargin

  /** cdc_partial_update_merge — Debezium partial-payload apply: update
    * events carry only the fields that changed (the others are absent),
    * so merged state per key takes EACH FIELD from the latest event
    * where that field was present. Simulated sparsity: `value` is
    * present on offsets with event_id % 3 ≠ 0, the type field on
    * event_id % 2 ≠ 0 — replayed identically in the oracle.
    *
    * Still ONE aggregation, one shuffle on the key: per-field merge is
    * max_by with a FILTER clause (partial aggregation preserved), not a
    * per-field window or self-join — at 100 TB, F sparse fields cost F
    * aggregate expressions in the same pass, not F extra shuffles. */
  def partialUpdateMerge(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        max(col("event_id")).as("last_event_id"),
        expr("max_by(value, event_id) FILTER (WHERE event_id % 3 <> 0)").as("merged_value"),
        expr("max_by(event_type, event_id) FILTER (WHERE event_id % 2 <> 0)").as("merged_type"),
        expr("count(*) FILTER (WHERE event_id % 3 <> 0)").as("n_value_patches"),
        expr("count(*) FILTER (WHERE event_id % 2 <> 0)").as("n_type_patches"))
      .orderBy(col("user_id"))

  val partialUpdateMergeSql: String =
    """SELECT user_id,
      |  MAX(event_id) AS last_event_id,
      |  arg_max(value, event_id) FILTER (WHERE event_id % 3 <> 0) AS merged_value,
      |  arg_max(event_type, event_id) FILTER (WHERE event_id % 2 <> 0) AS merged_type,
      |  COUNT(*) FILTER (WHERE event_id % 3 <> 0) AS n_value_patches,
      |  COUNT(*) FILTER (WHERE event_id % 2 <> 0) AS n_type_patches
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** cdc_tombstone_gc — compacted-topic tombstone retention: a delete
    * marker must survive long enough for every consumer to observe it,
    * then is garbage-collected; keys whose latest op is a delete older
    * than the GC watermark vanish from the compacted log entirely.
    * Watermark here: the last 20% of the offset range is "too young to
    * GC". Per key: latest offset/op and ACTIVE / TOMBSTONE_RETAINED /
    * TOMBSTONE_PURGED.
    *
    * Scale shape: the same single-shuffle latest-state aggregate as
    * cdc_apply; the watermark is a 1-row broadcast from the ledger-style
    * max, not a second pass over the log. */
  /** Generic tombstone GC classification over any I/U/D change log: the
    * GC watermark keeps the newest `keepNum/keepDen` fraction of the
    * offset range un-collected. */
  def tombstoneGcOf(log: DataFrame, keyCol: String, offsetCol: String,
                    opCol: String, keepNum: Int = 8, keepDen: Int = 10): DataFrame = {
    // integer floor-div (all-positive offsets): Column./ would go double
    val wm = log.agg(expr(s"max($offsetCol) * $keepNum div $keepDen").as("gc_watermark"))
    opFoldOf(log, keyCol, offsetCol, opCol, Nil)
      .crossJoin(broadcast(wm))
      .withColumn("gc_class",
        when(col(s"last_$opCol") =!= "D", "ACTIVE")
          .when(col(s"last_$offsetCol") >= col("gc_watermark"), "TOMBSTONE_RETAINED")
          .otherwise("TOMBSTONE_PURGED"))
  }

  def tombstoneGc(spark: SparkSession, dir: String): DataFrame =
    tombstoneGcOf(
      Tables.events(spark, dir).withColumn("op", opCode(col("event_type"))),
      "user_id", "event_id", "op")
      .select(col("user_id"), col("last_event_id"), col("last_op"), col("gc_class"))
      .orderBy(col("user_id"))

  val tombstoneGcSql: String =
    s"""WITH latest AS (
      |  SELECT user_id, event_id AS last_event_id, $opSql AS last_op,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      |  FROM events
      |), wm AS (SELECT MAX(event_id) * 8 // 10 AS gc_watermark FROM events)
      |SELECT user_id, last_event_id, last_op,
      |  CASE WHEN last_op <> 'D' THEN 'ACTIVE'
      |       WHEN last_event_id >= gc_watermark THEN 'TOMBSTONE_RETAINED'
      |       ELSE 'TOMBSTONE_PURGED' END AS gc_class
      |FROM latest CROSS JOIN wm
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** cdc_dedup_events — exactly-once repair for at-least-once delivery:
    * the same change record may be delivered more than once (same offset);
    * keep exactly one copy per offset. Duplicate deliveries are simulated
    * deterministically (every 97th offset is delivered twice). */
  def dedupEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    // duplicate deliveries via ONE conditional-array explode (the
    // corpus() discipline) instead of a union whose second branch
    // re-scanned events — identical row multiset, 2 scans -> 1.
    val delivered = ev
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        explode(when(col("event_id") % 97 === 0, array(lit(1), lit(2)))
          .otherwise(array(lit(1)))).as("_copy"))
      .drop("_copy")
    delivered
      .groupBy(col("event_id"))
      .agg(
        first(col("user_id")).as("user_id"),
        first(col("event_type")).as("event_type"),
        first(col("value")).as("value"),
        count(lit(1)).as("deliveries"))
      .groupBy(col("deliveries"))
      .agg(count(lit(1)).as("n_events"),
           countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("deliveries"))
  }

  val dedupEventsSql: String =
    """WITH delivered AS (
      |  SELECT event_id, user_id, event_type, value FROM events
      |  UNION ALL
      |  SELECT event_id, user_id, event_type, value FROM events WHERE event_id % 97 = 0
      |), per_event AS (
      |  SELECT event_id, MIN(user_id) AS user_id, COUNT(*) AS deliveries
      |  FROM delivered GROUP BY event_id
      |)
      |SELECT deliveries, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
      |FROM per_event GROUP BY deliveries ORDER BY deliveries""".stripMargin

  /** Generic SCD Type-2 materialization over any change log: adds
    * `version`, `valid_from_id`, `valid_to_id` (null = current) and
    * `is_current` per key, ordered by the monotonic offset.
    *
    * Scale: one shuffle + per-key sort — inherent, since every version row
    * is emitted (unlike latest-state there is no partial-aggregation
    * shortcut); the window sort is the canonical plan at any scale. */
  def scd2Of(log: DataFrame, keyCol: String, offsetCol: String,
             payloadCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(offsetCol))
    log.select((keyCol +: offsetCol +: payloadCols).map(col): _*)
      .withColumn("version", row_number().over(w))
      .withColumn("valid_from_id", col(offsetCol))
      .withColumn("valid_to_id", lead(col(offsetCol), 1).over(w))
      .withColumn("is_current", col("valid_to_id").isNull)
  }

  /** cdc_scd2 — Slowly-Changing-Dimension Type-2 history materialization
    * from the change log: every change becomes a version row with
    * [valid_from_id, valid_to_id) offset validity (null valid_to = current
    * version). The standard history-table sink pattern for a Debezium
    * stream (keep every state, not just the latest — the reference keeps
    * delete records for this purpose: tombstones.on.delete +
    * delete.handling.mode=rewrite, debezium-connector-config.json:17,25). */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      .withColumn("op", opCode(col("event_type")))
    scd2Of(ev, "user_id", "event_id", Seq("op", "value"))
      .select(col("user_id"), col("version"), col("valid_from_id"),
              col("valid_to_id"), col("op"), col("value"), col("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  val scd2HistorySql: String =
    s"""SELECT user_id,
      |  ROW_NUMBER() OVER w AS version,
      |  event_id AS valid_from_id,
      |  LEAD(event_id) OVER w AS valid_to_id,
      |  $opSql AS op, value,
      |  LEAD(event_id) OVER w IS NULL AS is_current
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
      |ORDER BY user_id, version""".stripMargin

  /** cdc_snapshot_merge — Debezium initial-snapshot + streaming-tail
    * semantics: state is materialized as of a watermark offset (the
    * consistent snapshot; the reference's connector tails a persistent
    * replication slot from a known LSN — debezium-connector-config.json:16,
    * architecture.md:62-70), then the change-log tail past the watermark is
    * merged on top. Because snapshot offsets are all ≤ watermark < tail
    * offsets, the merge is just the same last-writer-wins apply over the
    * union — snapshot rows re-enter as upserts at their original offset.
    * One shuffle on the key, map-side combined. */
  def snapshotMerge(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      .withColumn("op", opCode(col("event_type")))
    val wm = ev.agg(floor(max(col("event_id")) * 0.8d).cast("long").as("wm"))
    val tagged = ev.crossJoin(broadcast(wm))
    val snap = applyLogOf(
        tagged.filter(col("event_id") <= col("wm")),
        "user_id", "event_id", "op", Seq("value"))
      .select(col("user_id"), col("last_event_id").as("event_id"),
              lit("U").as("op"), col("last_value").as("value"))
    val tail = tagged.filter(col("event_id") > col("wm"))
      .select(col("user_id"), col("event_id"), col("op"), col("value"))
    applyLogOf(snap.unionByName(tail), "user_id", "event_id", "op", Seq("value"))
      .crossJoin(broadcast(wm))
      .select(col("user_id"), col("last_event_id"),
              col("last_value").as("value"),
              (col("last_event_id") > col("wm")).as("from_tail"))
      .orderBy(col("user_id"))
  }

  val snapshotMergeSql: String =
    s"""WITH w AS (SELECT CAST(FLOOR(MAX(event_id) * 0.8) AS BIGINT) AS wm FROM events),
      |snap AS (
      |  SELECT user_id, event_id, value FROM (
      |    SELECT user_id, event_id, value, $opSql AS op,
      |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      |    FROM events, w WHERE event_id <= w.wm)
      |  WHERE rn = 1 AND op <> 'D'
      |), unioned AS (
      |  SELECT user_id, event_id, 'U' AS op, value FROM snap
      |  UNION ALL
      |  SELECT user_id, event_id, $opSql AS op, value FROM events, w WHERE event_id > w.wm
      |)
      |SELECT user_id, event_id AS last_event_id, value,
      |  event_id > (SELECT wm FROM w) AS from_tail
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      |      FROM unioned)
      |WHERE rn = 1 AND op <> 'D'
      |ORDER BY user_id""".stripMargin

  /** cdc_txn_apply — transaction-atomic apply (Debezium transaction-
    * metadata semantics): change events carry a transaction id
    * (event_id div 50, the generator's batch analog), and a transaction
    * is COMMITTED only when its last event sits at or below the stream
    * watermark (the same slot-progress analog batch_status uses). The
    * apply materializes latest-state from committed transactions ONLY —
    * no partial transaction is ever visible (the atomicity a naive
    * per-event apply violates whenever the watermark lands mid-txn).
    * Per key: the latest committed state, its transaction, and how many
    * events are held back awaiting their txn's commit.
    *
    * Scale shape: txn spans aggregate to one tiny (txn, end) table —
    * broadcast; the commit tag is then a scan-speed comparison and the
    * apply is the usual one keyed max_by shuffle. */
  def txnApply(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("value"))
      .withColumn("txn", expr("event_id div 50"))
    val wm = ev.agg(floor(max(col("event_id")) * 0.8d).cast("long").as("wm"))
    val txnEnd = ev.groupBy(col("txn")).agg(max(col("event_id")).as("txn_end"))
    ev.join(broadcast(txnEnd), Seq("txn")).crossJoin(broadcast(wm))
      .withColumn("committed", col("txn_end") <= col("wm"))
      .groupBy(col("user_id"))
      .agg(max(when(col("committed"), struct(col("event_id"), col("value")))).as("m"),
        max(when(col("committed"), col("txn"))).as("last_committed_txn"),
        sum(when(!col("committed"), 1L).otherwise(0L)).as("n_held_events"))
      .filter(col("m").isNotNull)
      .select(col("user_id"), col("m.event_id").as("last_committed_id"),
        col("m.value").as("last_value"), col("last_committed_txn"),
        col("n_held_events"))
      .orderBy(col("user_id"))
  }

  val txnApplySql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, value, event_id // 50 AS txn FROM events
      |), w AS (
      |  SELECT CAST(FLOOR(MAX(event_id) * 0.8) AS BIGINT) AS wm FROM ev
      |), t AS (
      |  SELECT txn, MAX(event_id) AS txn_end FROM ev GROUP BY txn
      |), tagged AS (
      |  SELECT e.user_id, e.event_id, e.value, e.txn,
      |    t.txn_end <= (SELECT wm FROM w) AS committed
      |  FROM ev e JOIN t USING (txn)
      |)
      |SELECT user_id,
      |  MAX(CASE WHEN committed THEN event_id END) AS last_committed_id,
      |  arg_max(value, event_id) FILTER (WHERE committed) AS last_value,
      |  MAX(CASE WHEN committed THEN txn END) AS last_committed_txn,
      |  CAST(SUM(CASE WHEN NOT committed THEN 1 ELSE 0 END) AS BIGINT) AS n_held_events
      |FROM tagged
      |GROUP BY user_id
      |HAVING MAX(CASE WHEN committed THEN event_id END) IS NOT NULL
      |ORDER BY user_id""".stripMargin

  /** Generic out-of-order audit over any change log: per key, how many
    * records carry an event time earlier than a prior (by offset)
    * record's event time, and the worst such lateness in exact integer
    * micros. This measurement SIZES streaming watermarks — a
    * `withWatermark` horizon shorter than observed disorder silently
    * drops late state updates, so a 100 TB deployment audits disorder
    * continuously. One window over (key, offset order) riding the same
    * shuffle as the final keyed rollup. */
  def outOfOrderAuditOf(log: DataFrame, keyCol: String, offsetCol: String,
                        tsUsCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(offsetCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    log
      .withColumn("prev_max_us", max(col(tsUsCol)).over(w))
      .withColumn("late_us",
        when(col("prev_max_us") > col(tsUsCol), col("prev_max_us") - col(tsUsCol))
          .otherwise(0L))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_us") > 0, 1L).otherwise(0L)).as("n_late"),
        max(col("late_us")).as("max_late_us"))
      .withColumn("late_frac", col("n_late").cast("double") / col("n_events"))
  }

  /** cdc_out_of_order — disorder audit of the events change log keyed by
    * user, offset-ordered by event_id: the per-key late-event counts,
    * worst lateness, and a watermark-sizing class (a day of disorder is
    * MINOR; beyond that SEVERE — the class a deployment alerts on
    * before state eviction starts dropping updates). */
  def outOfOrder(spark: SparkSession, dir: String): DataFrame =
    outOfOrderAuditOf(
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us")),
      "user_id", "event_id", "ts_us")
      .withColumn("disorder_class",
        when(col("n_late") === 0, "ORDERED")
          .when(col("max_late_us") <= 86400000000L, "MINOR")
          .otherwise("SEVERE"))
      .orderBy(col("user_id"))

  val outOfOrderSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events
      |), lagged AS (
      |  SELECT user_id, ts_us,
      |    MAX(ts_us) OVER (PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_us
      |  FROM ev
      |), late AS (
      |  SELECT user_id,
      |    CASE WHEN prev_max_us > ts_us THEN prev_max_us - ts_us ELSE 0 END AS late_us
      |  FROM lagged
      |), rolled AS (
      |  SELECT user_id, COUNT(*) AS n_events,
      |    CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
      |    CAST(MAX(late_us) AS BIGINT) AS max_late_us
      |  FROM late GROUP BY user_id
      |)
      |SELECT user_id, n_events, n_late, max_late_us,
      |  CAST(n_late AS DOUBLE) / n_events AS late_frac,
      |  CASE WHEN n_late = 0 THEN 'ORDERED'
      |       WHEN max_late_us <= 86400000000 THEN 'MINOR'
      |       ELSE 'SEVERE' END AS disorder_class
      |FROM rolled
      |ORDER BY user_id""".stripMargin

  /** cdc_key_churn — per-key change-frequency profile of the log: op-mix
    * counts, first/last offsets, offset span, and a HOT/WARM/COLD churn
    * class. This is the measurement that sizes log compaction
    * (`cdc_log_compaction` reclaims space ∝ churn), partial-update
    * merge batches, and key-salting decisions — a hot key here is the
    * skew you salt in the apply join at 100 TB. One shuffle on the key
    * with map-side partial aggregation; output ∝ distinct keys. */
  def keyChurn(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).withColumn("op", opCode(col("event_type")))
    ev.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_changes"),
        sum(when(col("op") === "I", 1L).otherwise(0L)).as("n_inserts"),
        sum(when(col("op") === "U", 1L).otherwise(0L)).as("n_updates"),
        sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_deletes"),
        min(col("event_id")).as("first_offset"),
        max(col("event_id")).as("last_offset"))
      .withColumn("offset_span", col("last_offset") - col("first_offset"))
      .withColumn("churn_class",
        when(col("n_changes") >= 20, "HOT")
          .when(col("n_changes") >= 5, "WARM")
          .otherwise("COLD"))
      .orderBy(col("user_id"))
  }

  val keyChurnSql: String =
    s"""WITH ev AS (SELECT user_id, event_id, $opSql AS op FROM events),
      |r AS (
      |  SELECT user_id, COUNT(*) AS n_changes,
      |    CAST(SUM(CASE WHEN op = 'I' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserts,
      |    CAST(SUM(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_updates,
      |    CAST(SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
      |    MIN(event_id) AS first_offset,
      |    MAX(event_id) AS last_offset
      |  FROM ev GROUP BY user_id
      |)
      |SELECT user_id, n_changes, n_inserts, n_updates, n_deletes,
      |  first_offset, last_offset,
      |  last_offset - first_offset AS offset_span,
      |  CASE WHEN n_changes >= 20 THEN 'HOT'
      |       WHEN n_changes >= 5 THEN 'WARM'
      |       ELSE 'COLD' END AS churn_class
      |FROM r
      |ORDER BY user_id""".stripMargin

  /** cdc_conflict_audit — intra-batch write-conflict census: per
    * replication batch (event_id deciles — the batchLedger convention
    * on the event stream), how many keys received MULTIPLE changes
    * inside the batch, the worst per-key fan-in, and how many of those
    * conflicted keys mix a DELETE with other ops. A key with several
    * changes in one batch is exactly where apply-order and
    * last-writer-wins semantics can diverge (cdc_apply vs cdc_txn_apply)
    * — and a delete+upsert mix is where they diverge DESTRUCTIVELY, so
    * this census is the risk gate an operator reads before trusting
    * batch-granular apply.
    *
    * Scale shape: one shuffle to (batch, key) — map-side combined; the
    * per-batch rollup runs on one row per touched key; 10-row output.
    * The max-LSN scalar broadcasts (batchLedger discipline). */
  def conflictAudit(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("op", opCode(col("event_type")))
    val mx = ev.agg(max(col("event_id")).as("mx"))
    val perKey = ev.crossJoin(broadcast(mx))
      .withColumn("batch_id",
        floor(col("event_id") * 10 / (col("mx") + 1)).cast("long"))
      .groupBy(col("batch_id"), col("user_id"))
      .agg(count(lit(1)).as("n_ops"),
        sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_deletes"))
    perKey.groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("n_ops") >= 2, 1L).otherwise(0L)).as("n_conflicted_keys"),
        max(col("n_ops")).as("max_ops_per_key"),
        sum(when(col("n_ops") >= 2 && col("n_deletes") > 0 &&
          col("n_ops") > col("n_deletes"), 1L).otherwise(0L))
          .as("n_mixed_delete_keys"))
      .withColumn("conflict_rate", col("n_conflicted_keys").cast("double") /
        col("n_keys").cast("double"))
      .orderBy(col("batch_id"))
  }

  val conflictAuditSql: String =
    s"""WITH ev AS (
      |  SELECT user_id, event_id, $opSql AS op,
      |    CAST(FLOOR(event_id * 10 / ((SELECT MAX(event_id) FROM events) + 1))
      |      AS BIGINT) AS batch_id
      |  FROM events
      |), per_key AS (
      |  SELECT batch_id, user_id, COUNT(*) AS n_ops,
      |    CAST(SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes
      |  FROM ev GROUP BY 1, 2
      |)
      |SELECT batch_id, COUNT(*) AS n_keys,
      |  CAST(SUM(CASE WHEN n_ops >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_conflicted_keys,
      |  MAX(n_ops) AS max_ops_per_key,
      |  CAST(SUM(CASE WHEN n_ops >= 2 AND n_deletes > 0 AND n_ops > n_deletes
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed_delete_keys,
      |  CAST(SUM(CASE WHEN n_ops >= 2 THEN 1 ELSE 0 END) AS DOUBLE) /
      |    CAST(COUNT(*) AS DOUBLE) AS conflict_rate
      |FROM per_key
      |GROUP BY batch_id
      |ORDER BY batch_id""".stripMargin
}
