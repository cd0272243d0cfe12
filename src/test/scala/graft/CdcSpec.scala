package graft

import org.apache.spark.sql.functions._
import graft.cdc.{CdcOps, Reconcile}
import graft.core.Tables

class CdcSpec extends SparkSpec {

  test("cdc_latest_state: one row per key, offset is the key's max") {
    val res = CdcOps.latestState(spark, sf)
    val keys = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(res.count() === keys)
    val manual = Tables.events(spark, sf).groupBy("user_id")
      .agg(max("event_id").as("mx"))
    val joined = res.join(manual, "user_id")
      .filter(col("last_event_id") =!= col("mx"))
    assert(joined.count() === 0)
  }

  test("cdc_apply_upsert_delete: deleted keys absent, no key whose last op is D") {
    val snap = CdcOps.applyUpsertDelete(spark, sf)
    val lastOps = Tables.events(spark, sf)
      .withColumn("op", CdcOps.opCode(col("event_type")))
      .groupBy("user_id").agg(max_by(col("op"), col("event_id")).as("last_op"))
    val deleted = lastOps.filter(col("last_op") === "D")
    assert(snap.join(deleted, "user_id").count() === 0)
    assert(snap.count() === lastOps.filter(col("last_op") =!= "D").count())
  }

  test("cdc_dedup_events: planted duplicates are exactly the event_id % 97 == 0 set") {
    val res = CdcOps.dedupEvents(spark, sf).collect()
      .map(r => r.getAs[Long]("deliveries") -> r.getAs[Long]("n_events")).toMap
    val planted = Tables.events(spark, sf).filter(col("event_id") % 97 === 0).count()
    val total = Tables.events(spark, sf).count()
    assert(res(2L) === planted)
    assert(res(1L) === total - planted)
  }

  test("recon_bloom: probe finds exactly the divergent source rows (no false alarms)") {
    val res = Reconcile.reconBloom(spark, sf)
    val o = Tables.orders(spark, sf)
    // divergent source rows = dropped keys + perturbed-value keys
    val expected = o.filter(col("o_orderkey") % 1000 === 7 ||
        (col("o_orderkey") % 500 === 3 && col("o_orderkey") % 1000 =!= 7))
      .select("o_orderkey")
    // every flagged key is truly divergent (bloom can miss, never lie)
    assert(res.join(expected, Seq("o_orderkey"), "left_anti").count() === 0)
    // at this scale (n << bits) the miss probability is ~0: full recall
    assert(res.count() === expected.count())
  }

  test("stats_profile: one row per column, orderkey profile exact") {
    val res = Reconcile.statsProfile(spark, sf).collect()
    assert(res.length === 6)
    val o = Tables.orders(spark, sf)
    val k = res.find(_.getString(0) == "o_orderkey").get
    assert(k.getAs[Long]("n_rows") === o.count())
    assert(k.getAs[Long]("n_nulls") === 0L)
    assert(k.getAs[Long]("n_distinct") === o.select("o_orderkey").distinct().count())
    assert(k.getAs[Long]("max_v") === o.agg(max("o_orderkey")).first().getLong(0))
    val s = res.find(_.getString(0) == "o_orderstatus").get
    assert(s.isNullAt(s.fieldIndex("min_v")) && s.isNullAt(s.fieldIndex("max_v")))
  }

  test("recon_row_diff: diff classes match the planted drift exactly") {
    val diffs = Reconcile.reconRowDiff(spark, sf)
    val byType = diffs.groupBy("diff_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val o = Tables.orders(spark, sf)
    assert(byType.getOrElse("missing_in_target", 0L) ===
      o.filter(col("o_orderkey") % 1000 === 7).count())
    assert(byType.getOrElse("missing_in_source", 0L) ===
      o.filter(col("o_orderkey") % 1000 === 13).count())
    assert(byType.getOrElse("value_mismatch", 0L) ===
      o.filter(col("o_orderkey") % 500 === 3 && col("o_orderkey") % 1000 =!= 7).count())
  }

  test("recon_hash_bucket: mismatched buckets cover all drifted keys, clean buckets match") {
    val buckets = Reconcile.reconHashBucket(spark, sf)
    val bad = buckets.filter(!col("bucket_match")).select("bucket")
      .collect().map(_.getLong(0)).toSet
    // every drifted key's bucket must be flagged
    val driftKeys = Tables.orders(spark, sf)
      .filter(col("o_orderkey") % 1000 === 7 || col("o_orderkey") % 500 === 3)
      .select((col("o_orderkey") % 64).as("b")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(driftKeys.subsetOf(bad))
  }

  test("multi_table_health: one row per table with a valid status") {
    val res = Reconcile.multiTableHealth(spark, sf).collect()
    // the planted 'shipments' table has NO completed batch, so — like the
    // reference loop over check_latest_batch_replication_status — it
    // contributes no health row at all
    assert(res.map(_.getAs[String]("table_name")).toSet === Set("orders", "lineitem"))
    val valid = Set("READY", "REPLICATING", "SLOW", "STUCK")
    assert(res.forall(r => valid.contains(r.getAs[String]("health_status"))))
  }

  test("cdc_control_ledger: full batch_control status domain with planted non-COMPLETED rows") {
    val led = CdcOps.controlLedger(spark, sf).collect()
    val byStatus = led.groupBy(_.getAs[String]("status"))
    // derived deciles are COMPLETED with LSN + ts and no error
    val done = byStatus("COMPLETED")
    assert(done.length === 10)
    assert(done.forall(r => !r.isNullAt(r.fieldIndex("completion_lsn"))
      && !r.isNullAt(r.fieldIndex("completion_ts"))
      && r.isNullAt(r.fieldIndex("error_message"))))
    // planted: one open batch (no completion yet), one failed with message
    val open = byStatus("IN_PROGRESS")
    assert(open.map(_.getAs[Long]("batch_id")).toSeq === Seq(10L))
    assert(open.forall(r => r.isNullAt(r.fieldIndex("completion_lsn"))
      && r.isNullAt(r.fieldIndex("error_message"))))
    val failed = byStatus("FAILED")
    assert(failed.map(_.getAs[Long]("batch_id")).toSeq === Seq(11L))
    assert(failed.head.getAs[String]("error_message").contains("deadlock"))
  }

  test("batch_failed_audit surfaces exactly the non-COMPLETED batches") {
    val audit = CdcOps.batchFailedAudit(spark, sf).collect()
    assert(audit.map(r => (r.getAs[Long]("batch_id"), r.getAs[String]("status"),
      r.getAs[Boolean]("has_error"))).toSeq ===
      Seq((10L, "IN_PROGRESS", false), (11L, "FAILED", true)))
  }

  test("monitoring filters status='COMPLETED': planted batches never become the latest") {
    // planted ids 10/11 sit above every real decile — if the status
    // filter were dropped, ROW_NUMBER ... DESC would pick them
    val latest = Reconcile.latestBatchStatus(spark, sf).collect()
    assert(latest.length === 1)
    assert(latest.head.getAs[Long]("latest_batch_id") === 9L)
    val status = Reconcile.batchStatus(spark, sf).collect()
    assert(status.map(_.getAs[Long]("batch_id")).toSet === (0L to 9L).toSet)
  }
  test("cdc_scd2: full history, one current version per key, contiguous validity") {
    val h = CdcOps.scd2History(spark, sf)
    val ev = Tables.events(spark, sf)
    assert(h.count() === ev.count())
    assert(h.filter(col("is_current")).count() ===
      ev.select("user_id").distinct().count())
    val a = h.select(col("user_id"), col("version"), col("valid_to_id"))
    val b = h.select(col("user_id"), (col("version") - 1).as("version"),
      col("valid_from_id"))
    val broken = a.join(b, Seq("user_id", "version"))
      .filter(col("valid_to_id") =!= col("valid_from_id"))
    assert(broken.count() === 0)
  }

  test("cdc_snapshot_merge: snapshot+tail merge equals full-log apply") {
    val merged = CdcOps.snapshotMerge(spark, sf)
      .select("user_id", "last_event_id", "value")
    val full = CdcOps.applyUpsertDelete(spark, sf)
      .select("user_id", "last_event_id", "value")
    assert(merged.exceptAll(full).count() === 0)
    assert(full.exceptAll(merged).count() === 0)
    // from_tail flag must equal (last_event_id > watermark) row-by-row
    val ev = Tables.events(spark, sf)
    val wm = ev.agg(floor(max(col("event_id")) * 0.8d).cast("long")).first().getLong(0)
    val wrong = CdcOps.snapshotMerge(spark, sf)
      .filter(col("from_tail") =!= (col("last_event_id") > wm))
    assert(wrong.count() === 0)
  }

  test("applyLogOf: an op outside I/U/D fails naming it; a null op drops the key") {
    import spark.implicits._
    val bad = Seq((1L, 1L, "I", 1.0), (1L, 2L, "X", 2.0), (2L, 3L, "U", 3.0))
      .toDF("k", "lsn", "op", "v")
    val e = intercept[Exception] {
      CdcOps.applyLogOf(bad, "k", "lsn", "op", Seq("v")).collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("unsupported CDC op in op (expected I, U or D): X")),
      "the failure must name the op")
    // a null latest op: the key is neither live nor a delete, and is dropped
    val withNull = Seq[(Long, Long, String, Double)]((1L, 1L, "I", 1.0), (1L, 2L, null, 2.0),
      (2L, 3L, "U", 3.0), (3L, 4L, null, 4.0), (3L, 5L, "D", 0.0))
      .toDF("k", "lsn", "op", "v")
    val applied = CdcOps.applyLogOf(withNull, "k", "lsn", "op", Seq("v"))
      .select("k", "last_lsn", "last_op", "last_v").as[(Long, Long, String, Double)].collect()
    assert(applied.toSeq === Seq((2L, 3L, "U", 3.0)))
    val gc = CdcOps.tombstoneGcOf(withNull, "k", "lsn", "op")
      .select("k", "last_op").as[(Long, String)].collect().toMap
    assert(gc === Map(1L -> null, 2L -> "U", 3L -> "D"))
  }

  test("cdc_out_of_order: ordered log audits clean, planted disorder is caught") {
    import spark.implicits._
    // ordered log: offsets and event times agree
    val ordered = Seq((1L, 1L, 100L), (1L, 2L, 200L), (2L, 3L, 300L))
      .toDF("k", "off", "ts_us")
    val a1 = CdcOps.outOfOrderAuditOf(ordered, "k", "off", "ts_us").collect()
    assert(a1.forall(_.getAs[Long]("n_late") === 0L))
    // key 1's third event arrives 150us behind the running max
    val disordered = Seq((1L, 1L, 100L), (1L, 2L, 400L), (1L, 3L, 250L))
      .toDF("k", "off", "ts_us")
    val a2 = CdcOps.outOfOrderAuditOf(disordered, "k", "off", "ts_us").collect()(0)
    assert(a2.getAs[Long]("n_late") === 1L)
    assert(a2.getAs[Long]("max_late_us") === 150L)
  }

  test("recon_table_digest: drifted table flagged, identical table matches") {
    val r = Reconcile.reconTableDigest(spark, sf).collect()(0)
    assert(r.getAs[Boolean]("tables_match") === false)
    // the digest must detect value-only drift that count-compare misses:
    // src/tgt counts differ only by the %1000 patterns, digests must differ too
    assert(r.getAs[Long]("src_digest") !== r.getAs[Long]("tgt_digest"))
  }


  test("recon_lsn_gap: planted holes recovered exactly") {
    val ids = graft.core.Tables.events(spark, sf).select(col("event_id"))
      .collect().map(_.getLong(0)).sorted
    val kept = ids.filter(_ % 101 != 0)
    // planted holes strictly inside the kept range, restricted to ids
    // that exist in this log (the id space may itself be sparse)
    val planted = ids.filter(i => i % 101 == 0 && i > kept.head && i < kept.last)
    val gaps = Reconcile.reconLsnGap(spark, sf).collect()
    planted.foreach { i =>
      assert(gaps.exists(g => g.getAs[Long]("gap_start") <= i && i <= g.getAs[Long]("gap_end")),
        s"planted hole $i not covered")
    }
  }

  test("stats_corr: exact carriers agree with Spark's built-in corr") {
    val res = Reconcile.statsCorr(spark, sf).collect()
    assert(res.length >= 2)
    val li = graft.core.Tables.lineitem(spark, sf)
    res.foreach { r =>
      val rf = r.getAs[String]("l_returnflag")
      val c = r.getAs[Double]("corr_xy")
      assert(math.abs(c) <= 1.0)
      val builtin = li.filter(col("l_returnflag") === rf)
        .agg(corr(floor(col("l_quantity") + 0.5), floor(col("l_extendedprice") + 0.5)))
        .collect()(0).getDouble(0)
      assert(math.abs(c - builtin) < 1e-6, s"$rf: $c vs $builtin")
    }
  }

  test("cdc_txn_apply: no partial transaction visible, held counts exact") {
    val res = CdcOps.txnApply(spark, sf).collect()
    val ev = Tables.events(spark, sf)
    val wm = ev.agg(floor(max(col("event_id")) * 0.8d).cast("long"))
      .first().getLong(0)
    // a committed txn ends at or below the watermark, so no applied
    // state may reference an offset above it
    res.foreach(r => assert(r.getAs[Long]("last_committed_id") <= wm))
    // held = events of txns ending above the watermark, recomputed
    val txnEnd = ev.withColumn("txn", expr("event_id div 50"))
      .groupBy("txn").agg(max("event_id").as("e"))
    val held = ev.withColumn("txn", expr("event_id div 50"))
      .join(txnEnd, "txn").filter(col("e") > wm)
      .groupBy("user_id").count().collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("count")).toMap
    res.foreach { r =>
      assert(r.getAs[Long]("n_held_events") ===
        held.getOrElse(r.getAs[Long]("user_id"), 0L))
    }
  }

  test("Poll.waitFor: completes when the probe flips, times out on a fake clock") {
    import graft.fixtures.Poll
    var t = 0L
    val clock = () => t
    val sleep = (ms: Long) => t += ms
    var probes = 0
    val ok = Poll.waitFor(() => { probes += 1; if (probes >= 3) Some("done") else None },
      timeoutMs = 10000, intervalMs = 1000, clock = clock, sleep = sleep)
    assert(ok === Poll.Complete("done", 3))
    // deadline checked before each sleep: polls at t=0..5000 → 6 probes
    val t0 = t
    val timedOut = Poll.waitFor(() => None, 5000, 1000, clock, sleep)
    assert(timedOut === Poll.TimedOut(6) && t - t0 === 5000L)
  }

  test("recon_backfill_plan: batches cover the full repair set in severity order") {
    import graft.cdc.Reconcile
    val plan = Reconcile.reconBackfillPlan(spark, sf).collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("n_repairs"),
        r.getAs[Long]("n_inserts") + r.getAs[Long]("n_updates") + r.getAs[Long]("n_deletes"),
        r.getAs[Long]("cum_repairs"), r.getAs[Long]("batch_no")))
    assert(plan.nonEmpty)
    // op-type split accounts for every repair row; totals match recon_repair
    plan.foreach { case (_, n, split, _, _) => assert(n === split) }
    assert(plan.map(_._2).sum === Reconcile.reconRepair(spark, sf).count())
    // severity order: cum_repairs decomposes exactly, batch = prior-rows DIV budget
    val bySeverity = plan.sortBy(p => (-p._2, p._1))
    var cum = 0L
    bySeverity.foreach { case (_, n, _, c, b) =>
      assert(c === cum + n)
      assert(b === cum / Reconcile.RepairBatchRows)
      cum = c
    }
  }
}
