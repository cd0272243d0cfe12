package graft

import org.apache.spark.sql.functions._
import graft.cdc.{CdcOps, Reconcile}
import graft.operators.Dedup

/** The generic DataFrame-in/DataFrame-out library surface, exercised on
  * hand-built inputs (independent of the driver test tables). */
class LibraryApiSpec extends SparkSpec {

  test("latestStateOf: arbitrary key/offset/payload columns") {
    import spark.implicits._
    val log = Seq(
      (1L, 10L, "a", 1.0), (1L, 30L, "c", 3.0), (1L, 20L, "b", 2.0),
      (2L, 5L, "x", 9.0)
    ).toDF("k", "off", "p1", "p2")
    val res = CdcOps.latestStateOf(log, "k", "off", Seq("p1", "p2"))
      .collect().map(r => r.getAs[Long]("k") ->
        ((r.getAs[Long]("last_off"), r.getAs[String]("last_p1"), r.getAs[Double]("last_p2")))).toMap
    assert(res(1L) === ((30L, "c", 3.0)))
    assert(res(2L) === ((5L, "x", 9.0)))
  }

  test("applyLogOf: delete tombstones drop keys") {
    import spark.implicits._
    val log = Seq(
      (1L, 1L, "I", 1.0), (1L, 2L, "D", 0.0),
      (2L, 3L, "I", 2.0), (2L, 4L, "U", 5.0)
    ).toDF("k", "off", "op", "v")
    val res = CdcOps.applyLogOf(log, "k", "off", "op", Seq("v"))
    assert(res.collect().map(_.getAs[Long]("k")).toSet === Set(2L))
  }

  test("rowDiffOf + hashBucketDiffOf + drillDownOf: two-phase compare finds exactly the planted drift") {
    import spark.implicits._
    val src = (1L to 1000L).map(i => (i, i * 1.5)).toDF("id", "amt")
    val tgt = (1L to 1000L).filterNot(_ == 507L) // one missing
      .map(i => (i, if (i == 13L) 99.9 else i * 1.5)) // one mismatched
      .toDF("id", "amt")
    val full = Reconcile.rowDiffOf(src, tgt, "id", "amt").collect()
    assert(full.map(r => (r.getAs[Long]("key"), r.getAs[String]("diff_type"))).toSet ===
      Set((507L, "missing_in_target"), (13L, "value_mismatch")))

    val digest = (col("id") * 31L + floor(col("amt") * 100 + 0.5).cast("long")) % 1000000007L
    val bucketReport = Reconcile.hashBucketDiffOf(src, tgt, "id", digest, 16)
    val bad = bucketReport.filter(!col("bucket_match"))
    assert(bad.count() === 2) // 507 % 16 = 11, 13 % 16 = 13 — two distinct buckets
    val drill = Reconcile.drillDownOf(src, tgt, "id", "amt", bad, 16).collect()
    assert(drill.map(r => (r.getAs[Long]("key"), r.getAs[String]("diff_type"))).toSet ===
      full.map(r => (r.getAs[Long]("key"), r.getAs[String]("diff_type"))).toSet)
  }

  test("exactDuplicatesOf / minhashPairsOf / simhashPairsOf on a tiny planted corpus") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight " * 4
    val docs = Seq(
      (1L, base),
      (2L, base),                                  // exact dup of 1
      (3L, base.replace("lazy", "sleepy")),        // near dup of 1
      (4L, "completely different words entirely unrelated content here nothing shared at all with others")
    ).toDF("doc_id", "text")
    val exact = Dedup.exactDuplicatesOf(docs, "doc_id", "text").collect()
    assert(exact.length === 1 && exact(0).getAs[Long]("n_docs") === 2L)
    val mh = Dedup.minhashPairsOf(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(mh.contains((1L, 2L)) && mh.contains((1L, 3L)) && mh.contains((2L, 3L)))
    assert(!mh.exists(p => p._1 == 4L || p._2 == 4L))
    val sh = Dedup.simhashPairsOf(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(sh.contains((1L, 2L)))
    assert(!sh.exists(p => p._1 == 4L || p._2 == 4L))
  }
  test("scd2Of: versions ordered by offset, contiguous validity, one current") {
    import spark.implicits._
    val log = Seq(
      (1L, 10L, "a"), (1L, 30L, "c"), (1L, 20L, "b"), (2L, 5L, "x")
    ).toDF("k", "off", "p")
    val h = CdcOps.scd2Of(log, "k", "off", Seq("p")).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Int]("version")) ->
        ((r.getAs[Long]("valid_from_id"), Option(r.getAs[Any]("valid_to_id")), r.getAs[Boolean]("is_current")))).toMap
    assert(h((1L, 1)) === ((10L, Some(20L), false)))
    assert(h((1L, 2)) === ((20L, Some(30L), false)))
    assert(h((1L, 3)) === ((30L, None, true)))
    assert(h((2L, 1)) === ((5L, None, true)))
  }

  test("multiTableHealthOf: arbitrary table list, one health row per table") {
    import spark.implicits._
    // N monitored tables → N health rows, like the reference's TEXT[]
    // parameter; mixes synthetic relations with a real loaded table.
    // (Under the synthetic 3/4-of-max slot watermark the latest batch
    // always completes AT the max key, so staleness = max/4 > max/5 —
    // every table reads STUCK; the reference's variety comes from live
    // slot positions, not the deterministic replay.)
    val specs = Seq(
      ("t_a", (1L to 100L).map(i => (i, i)).toDF("k", "x"), "k"),
      ("t_b", (1L to 500L).map(i => (i, i)).toDF("k", "x"), "k"),
      ("customer", graft.core.Tables.customer(spark, sf).select(col("c_custkey")), "c_custkey"))
    val res = Reconcile.multiTableHealthOf(specs).collect()
    assert(res.length === 3)
    assert(res.map(_.getAs[String]("table_name")).toSet === Set("t_a", "t_b", "customer"))
    val byName = res.map(r => r.getAs[String]("table_name") -> r).toMap
    assert(byName("t_a").getAs[Long]("completion_lsn") === 100L)
    assert(byName("t_a").getAs[Long]("slot_lsn") === 75L)
    assert(!byName("t_a").getAs[Boolean]("replication_complete"))
    assert(byName("t_a").getAs[String]("health_status") === "STUCK")
    assert(byName("t_b").getAs[Long]("slot_lsn") === 375L)
    // the oracle-checked two-table default is the same generic form
    assert(Reconcile.multiTableHealth(spark, sf).collect().length === 2)
  }

  test("relevantSlotOf: slot derivation follows the reference ranking, not a constant") {
    import spark.implicits._
    // demo roster, monitored table 'orders': DemoSlot contains the
    // publication name → rank 1
    val o = Reconcile.relevantSlot(spark, "orders").collect()
    assert(o.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("cdc_orders_pub_slot", "orders_pub")))
    // 'lineitem' resolves through the NON-first publication (pub_order
    // 2) via rank 2 (slot contains the table name)
    val l = Reconcile.relevantSlot(spark, "lineitem").collect()
    assert(l.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("lineitem_slot", "lineitem_pub")))
    // custom roster hitting rank 3: the publication contains the
    // stripped slot name while the slot contains neither pub nor table
    val slots = Seq("misc_slot", "unrelated_slot").toDF("slot_name")
    val pubs = Seq((1L, "all_misc_data", "blob")).toDF("pub_order", "pubname", "tablename")
    val b = Reconcile.relevantSlotOf(slots, pubs, "blob").collect()
    assert(b.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("misc_slot", "all_misc_data")))
    // rank 1 beats rank 2 when both match
    val slots2 = Seq("orders_tbl_slot", "cdc_orders_pub_slot").toDF("slot_name")
    val pubs2 = Seq((1L, "orders_pub", "orders")).toDF("pub_order", "pubname", "tablename")
    val r12 = Reconcile.relevantSlotOf(slots2, pubs2, "orders").collect()
    assert(r12.head.getString(0) === "cdc_orders_pub_slot")
    // and latest_batch_status carries the DERIVED pair
    val latest = Reconcile.latestBatchStatus(spark, sf).collect().head
    assert(latest.getAs[String]("slot_name") === "cdc_orders_pub_slot")
    assert(latest.getAs[String]("publication_name") === "orders_pub")
  }

  test("sampledDiffOf: counts equal the full diff restricted to the sample") {
    import spark.implicits._
    val src = (1L to 2000L).map(i => (i, i * 1.5)).toDF("id", "amt")
    val tgt = (1L to 2000L).filterNot(_ % 100 == 7)
      .map(i => (i, if (i % 50 == 3) 99.9 else i * 1.5)).toDF("id", "amt")
    val mod = 3L
    val r = Reconcile.sampledDiffOf(src, tgt, "id", "amt", mod).collect().head
    val inSample = col("key") * 2654435761L % 1000000007L % mod === 0L
    val expected = Reconcile.rowDiffOf(src, tgt, "id", "amt").filter(inSample)
      .groupBy(col("diff_type")).count()
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r.getAs[Long]("n_missing_in_target") === expected.getOrElse("missing_in_target", 0L))
    assert(r.getAs[Long]("n_value_mismatch") === expected.getOrElse("value_mismatch", 0L))
    assert(r.getAs[Long]("est_divergent_rows") ===
      (r.getAs[Long]("n_missing_in_target") + r.getAs[Long]("n_missing_in_source") +
        r.getAs[Long]("n_value_mismatch")) * mod)
  }

  test("dupCoverageOf: a full copy scores 1.0, a disjoint doc scores 0.0") {
    import spark.implicits._
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "one two three four five six seven eight nine ten"
    val docs = Seq((1L, a), (2L, a), (3L, b)).toDF("doc_id", "text")
    val cov = Dedup.dupCoverageOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("dup_frac"), r.getAs[String]("dup_class")))).toMap
    assert(cov(1L) === ((1.0, "NEAR_DUP")))
    assert(cov(2L) === ((1.0, "NEAR_DUP")))
    assert(cov(3L) === ((0.0, "UNIQUE")))
  }

  test("piiScrubOf: counts, redaction, and clean docs untouched") {
    import spark.implicits._
    val docs = Seq(
      (1L, "reach me at jane.doe@corp.io or 555-0199 from 192.168.1.1"),
      (2L, "no sensitive content here")
    ).toDF("id", "t")
    val r = graft.operators.TextAnalysis.piiScrubOf(docs, "id", "t")
      .collect().map(x => x.getAs[Long]("id") -> x).toMap
    assert(r(1L).getAs[Int]("n_emails") === 1)
    assert(r(1L).getAs[Int]("n_ips") === 1)
    assert(r(1L).getAs[Int]("n_phones") === 1)
    assert(r(1L).getAs[String]("redacted") === "reach me at <EMAIL> or <PHONE> from <IP>")
    assert(r(2L).getAs[String]("redacted") === "no sensitive content here")
    assert(!r(2L).getAs[Boolean]("pii_found"))
  }

  test("retentionOf: hand-built cohorts produce exact retention fractions") {
    import spark.implicits._
    val d0 = java.sql.Date.valueOf("2026-01-01")
    val d1 = java.sql.Date.valueOf("2026-01-02")
    val act = Seq((1L, d0), (2L, d0), (1L, d1), (3L, d1)).toDF("u", "day")
    val rows = graft.operators.Analytics.retentionOf(act, "u", "day").collect()
      .map(r => (r.getAs[java.sql.Date]("cohort_day").toString, r.getAs[Int]("age_days")) ->
        ((r.getAs[Long]("active_users"), r.getAs[Long]("cohort_size"),
          r.getAs[Double]("retention_pct")))).toMap
    assert(rows(("2026-01-01", 0)) === ((2L, 2L, 1.0)))
    assert(rows(("2026-01-01", 1)) === ((1L, 2L, 0.5))) // user 1 returned
    assert(rows(("2026-01-02", 0)) === ((1L, 1L, 1.0))) // user 3's own cohort
  }

  test("tombstoneGcOf: watermark splits tombstones, actives never classified") {
    import spark.implicits._
    val log = Seq(
      (1L, 100L, "U"), // active
      (2L, 10L, "D"),  // old tombstone -> purged (wm = 80)
      (3L, 90L, "D")   // young tombstone -> retained
    ).toDF("k", "off", "op")
    val r = CdcOps.tombstoneGcOf(log, "k", "off", "op")
      .collect().map(x => x.getAs[Long]("k") -> x.getAs[String]("gc_class")).toMap
    assert(r(1L) === "ACTIVE")
    assert(r(2L) === "TOMBSTONE_PURGED")
    assert(r(3L) === "TOMBSTONE_RETAINED")
  }


  test("shardPackOf: hand-built byte layout produces the expected shard boundaries") {
    import spark.implicits._
    // group g: ids 1..4 with 60-byte rows, 100-byte shards:
    // offsets 0,60,120,180 -> shards 0,0,1,1
    val df = Seq((1L, "g", 60), (2L, "g", 60), (3L, "g", 60), (4L, "g", 60))
      .toDF("id", "grp", "nb")
    val res = graft.operators.TextAnalysis
      .shardPackOf(df, "grp", "id", col("nb"), 100L)
      .orderBy("shard_id").collect()
    assert(res.map(r => (r.getAs[Long]("shard_id"), r.getAs[Long]("n_docs"))).toSeq
      === Seq((0L, 2L), (1L, 2L)))
    assert(res.map(_.getAs[Long]("shard_bytes")).toSeq === Seq(120L, 120L))
    assert(res.head.getAs[Long]("first_doc") === 1L)
    assert(res.last.getAs[Long]("last_doc") === 4L)
  }

  test("chunkDedupOf: identical payloads dedup to one chunk set") {
    import spark.implicits._
    val payload = "a" * 64 + "b" * 64 // exactly two 64-byte chunks
    val df = Seq(("g", payload), ("g", payload), ("g", "c" * 64))
      .toDF("grp", "p")
    val r = graft.operators.Multimodal
      .chunkDedupOf(df, "grp", col("p"), 64).collect()(0)
    assert(r.getAs[Long]("n_chunks") === 5L)         // 2+2+1 references
    assert(r.getAs[Long]("n_distinct_chunks") === 3L) // a-block, b-block, c-block
    assert(r.getAs[Long]("logical_bytes") === 320L)
    assert(r.getAs[Long]("stored_bytes") === 192L)
    assert(r.getAs[Long]("max_chunk_refs") === 2L)
  }

  test("markovOf: hand-built sequence yields exact transition probabilities") {
    import spark.implicits._
    // key 1: A B A B ; key 2: A B -> transitions A>B x3, B>A x1
    val df = Seq((1L, 1L, "A"), (1L, 2L, "B"), (1L, 3L, "A"), (1L, 4L, "B"),
      (2L, 1L, "A"), (2L, 2L, "B")).toDF("k", "off", "s")
    val res = graft.operators.Analytics.markovOf(df, "k", "off", "s")
      .orderBy("prev_type", "next_type").collect()
    val cells = res.map(r => (r.getAs[String]("prev_type"), r.getAs[String]("next_type"),
      r.getAs[Long]("n"), r.getAs[Double]("p"))).toSeq
    assert(cells === Seq(("A", "B", 3L, 1.0), ("B", "A", 1L, 1.0)))
  }

  test("Tables.load: a table rewritten in place is re-read, not served from the memo") {
    val sfDir = tempDir("graft-memo")
    val path = s"$sfDir/t.parquet"
    spark.range(10).write.parquet(path)
    assert(graft.core.Tables.load(spark, sfDir, "t").count() === 10L)
    spark.range(25).write.mode("overwrite").parquet(path)
    assert(graft.core.Tables.load(spark, sfDir, "t").count() === 25L)
  }
}
