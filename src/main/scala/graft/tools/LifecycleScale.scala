package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{FeedSink, FeedSource}
import graft.streaming.CdcStream
import graft.cdc.{Poll, Reconcile}

/** The reference lifecycle loop (generate → stream-apply → poll →
  * ladder → repair → re-verify; LifecycleSpec's one green test) run
  * ONCE at sf1 scale, timing every stage — the round-9 directive:
  * prove the workflow COMPOSES at 10× the bench scale, not just at
  * test SF.
  *
  * Scale anchors match target/sf1: the customer key space is 150k
  * (sf1's customer cardinality) and the feed carries 1.5M initial
  * rows + 0.5M catch-up rows (sf1's orders cardinality), published as
  * hourly CSV batches exactly as the reference's data_generator would.
  * All stages are the SAME library calls the spec drives at test SF;
  * nothing is re-implemented here.
  *
  * Two verify/repair shapes, selected by argv(1):
  *  - (default) lake-to-lake: the target side is the parquet lake the
  *    stream maintains, read directly.
  *  - `jdbc`: the DB-to-DB loop of the reference's verifier
  *    (verify_replication.py:54-70 reads source AND target Postgres
  *    over psycopg2) — both converged states are published into an
  *    embedded Derby database, the target is corrupted IN the DB with
  *    SQL DML, and every verify/ladder/drill/re-verify read goes
  *    through `JdbcSource.readPartitioned` (Spark's real JDBC scan:
  *    stripe generation, pushdown, type mapping). Repair applies the
  *    reconciliation plan back to the DB as row DML, exactly the shape
  *    a production repairer takes against the target database. The
  *    plan collect is bounded by construction (~32 planted diffs).
  *
  * Prints one JSON line of per-stage wall seconds and writes it to
  * LIFECYCLE_SF1.json / LIFECYCLE_JDBC_SF1.json (or argv(0)).
  *
  * Usage: runMain graft.tools.LifecycleScale [out] [jdbc]
  */
object LifecycleScale {

  private def toChanges(feeds: DataFrame): DataFrame =
    feeds.select(
      unix_micros(col("timestamp")).as("event_id"),
      col("customer_id").as("user_id"),
      lit("U").as("op"),
      col("amount").as("value"),
      unix_micros(col("timestamp")).as("ts_us"))

  def main(args: Array[String]): Unit = {
    val jdbcMode = args.contains("jdbc")
    val out = args.filterNot(_ == "jdbc").headOption
      .getOrElse(if (jdbcMode) "LIFECYCLE_JDBC_SF1.json" else "LIFECYCLE_SF1.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val keySpace = 150000L   // sf1 customer cardinality
    val rowsPerBatch = 250000
    val feedDir = java.nio.file.Files.createTempDirectory("graft-sf1-feed").toString
    val lakePath = java.nio.file.Files.createTempDirectory("graft-sf1-lake")
      .resolve("lake").toString

    val times = scala.collection.mutable.LinkedHashMap[String, Double]()
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      times(name) = (System.nanoTime() - t0) / 1e9
      r
    }

    def publish(b: Long): Unit =
      FeedSink.writeBatch(
        FeedSink.genBatch(spark, b, rowsPerBatch, keySpace, 0.001d), feedDir, b)
    def cycle(): Unit = {
      CdcStream.streamApplyToLakeOf(spark,
        toChanges(FeedSource.readFeedsStream(spark, feedDir)), lakePath, 16)
      ()
    }
    def expected(): DataFrame =
      FeedSource.readFeeds(spark, feedDir)
        .groupBy(col("customer_id").as("user_id"))
        .agg(max_by(col("amount"), unix_micros(col("timestamp"))).as("amount"))
    def lakeState(): DataFrame =
      spark.read.parquet(lakePath).drop("_bucket").filter(col("last_op") =!= "D")
        .select(col("user_id"), col("last_value").as("amount"))

    // ---- generate: 6 hourly batches, 1.5M rows -----------------------------
    timed("generate_1500k_rows")((1L to 6L).foreach(publish))

    // ---- stream-apply: initial replication ---------------------------------
    timed("stream_apply_initial")(cycle())
    val diff0 = timed("ladder_verify_clean")(
      Reconcile.rowDiffOf(expected(), lakeState(), "user_id", "amount").count())
    require(diff0 == 0, s"initial load must replicate clean, got $diff0 diffs")

    // ---- poll-driven catch-up: source runs 0.5M rows ahead -----------------
    timed("generate_catchup_500k")((7L to 8L).foreach(publish))
    val polls = timed("poll_catchup") {
      val res = Poll.waitFor(
        () => if (Reconcile.rowDiffOf(expected(), lakeState(), "user_id", "amount")
          .isEmpty) Some(true) else { cycle(); None },
        timeoutMs = 3600000L, intervalMs = 1L)
      require(res.isComplete, "catch-up must converge")
      res.asInstanceOf[Poll.Complete[Boolean]].polls
    }

    // ---- corrupt, ladder-localize, repair, re-verify -----------------------
    val digest = Reconcile.rowDigest(col("user_id"), col("amount"))
    val (drillRows, repairedDiff) = if (jdbcMode) {
      // DB-to-DB: both converged states live in embedded Derby; every
      // verify read below is a partitioned JDBC scan, and corruption +
      // repair are SQL DML against the target table — the reference
      // verifier's exact workflow shape (verify_replication.py:54-70).
      val dbDir = java.nio.file.Files.createTempDirectory("graft-sf1-derby")
      val url = s"jdbc:derby:${dbDir.toAbsolutePath}/recon;create=true"
      def withConn[A](f: java.sql.Connection => A): A = {
        val c = java.sql.DriverManager.getConnection(url)
        try f(c) finally c.close()
      }
      timed("jdbc_publish_states") {
        expected().write.mode("overwrite").jdbc(url, "state_src", new java.util.Properties())
        lakeState().write.mode("overwrite").jdbc(url, "state_tgt", new java.util.Properties())
      }
      def readSide(t: String) = graft.sources.JdbcSource.readPartitioned(
        spark, url, t, "user_id", 0L, keySpace, 16)
      // Spark's JDBC writer creates Derby columns with QUOTED lowercase
      // names ("user_id"), so every raw DML identifier below must be
      // quoted too — unquoted names fold to uppercase (42X04).
      timed("jdbc_corrupt_target")(withConn { c =>
        val st = c.createStatement()
        st.executeUpdate("""DELETE FROM state_tgt WHERE MOD("user_id", 10000) = 7""")
        st.executeUpdate(
          """UPDATE state_tgt SET "amount" = "amount" + 7.0 WHERE MOD("user_id", 10000) = 3""")
        st.executeUpdate(
          "INSERT INTO state_tgt VALUES (900000001, 1.0), (900000002, 1.0)")
        st.close()
      })
      val srcDb = readSide("state_src")
      val tgtDb = readSide("state_tgt")
      val badBuckets = timed("ladder_bucket_digest") {
        val b = Reconcile.hashBucketDiffOf(srcDb, tgtDb, "user_id", digest, 64)
          .filter(!col("bucket_match")).persist()
        b.count()
        b
      }
      val drill = timed("ladder_row_drilldown")(
        Reconcile.drillDownOf(srcDb, tgtDb, "user_id", "amount", badBuckets, 64).count())
      val repaired = timed("repair_and_reverify") {
        // The plan is the planted diff set (~32 rows) — a bounded
        // collect; a production repairer applies exactly this DML.
        val plan = Reconcile.rowDiffOf(srcDb, tgtDb, "user_id", "amount").collect()
        withConn { c =>
          val del = c.prepareStatement("""DELETE FROM state_tgt WHERE "user_id" = ?""")
          val upd = c.prepareStatement("""UPDATE state_tgt SET "amount" = ? WHERE "user_id" = ?""")
          val ins = c.prepareStatement("INSERT INTO state_tgt VALUES (?, ?)")
          plan.foreach { r =>
            val key = r.getLong(r.fieldIndex("key"))
            r.getString(r.fieldIndex("diff_type")) match {
              case "missing_in_source" =>
                del.setLong(1, key); del.addBatch()
              case "missing_in_target" =>
                ins.setLong(1, key)
                ins.setDouble(2, r.getDouble(r.fieldIndex("src_amount")))
                ins.addBatch()
              case _ =>
                upd.setDouble(1, r.getDouble(r.fieldIndex("src_amount")))
                upd.setLong(2, key); upd.addBatch()
            }
          }
          del.executeBatch(); upd.executeBatch(); ins.executeBatch()
          del.close(); upd.close(); ins.close()
        }
        Reconcile.rowDiffOf(readSide("state_src"), readSide("state_tgt"),
          "user_id", "amount").count()
      }
      (drill, repaired)
    } else {
    val src = expected().persist()
    val clean = lakeState().persist()
    val corrupted = clean
      .filter(col("user_id") % 10000 =!= 7)    // ~15 lost keys
      .withColumn("amount",
        when(col("user_id") % 10000 === 3, col("amount") + 7.0) // ~15 drifted
          .otherwise(col("amount")))
      .unionByName(spark.range(2).select(
        (col("id") + 900000001L).as("user_id"), lit(1.0).as("amount")))
      .persist()
    val badBuckets = timed("ladder_bucket_digest") {
      val b = Reconcile.hashBucketDiffOf(src, corrupted, "user_id", digest, 64)
        .filter(!col("bucket_match")).persist()
      b.count()
      b
    }
    val drillRows0 = timed("ladder_row_drilldown")(
      Reconcile.drillDownOf(src, corrupted, "user_id", "amount", badBuckets, 64).count())
    val repairedDiff0 = timed("repair_and_reverify") {
      val plan = Reconcile.rowDiffOf(src, corrupted, "user_id", "amount")
        .withColumn("repair_op",
          when(col("diff_type") === "missing_in_target", "INSERT")
            .when(col("diff_type") === "missing_in_source", "DELETE")
            .otherwise("UPDATE"))
        .select(col("key"), col("repair_op"),
          when(col("repair_op") =!= "DELETE", col("src_amount")).as("set_amount"))
        .persist()
      val deletes = plan.filter(col("repair_op") === "DELETE")
        .select(col("key").as("user_id"))
      val upserts = plan.filter(col("repair_op") =!= "DELETE")
        .select(col("key").as("user_id"), col("set_amount").as("amount"))
      val repaired = corrupted
        .join(deletes, Seq("user_id"), "left_anti")
        .join(upserts.withColumnRenamed("amount", "set_amount"), Seq("user_id"), "left")
        .select(col("user_id"), coalesce(col("set_amount"), col("amount")).as("amount"))
        .unionByName(upserts.join(corrupted.select("user_id"), Seq("user_id"), "left_anti"))
      Reconcile.rowDiffOf(src, repaired, "user_id", "amount").count()
    }
    (drillRows0, repairedDiff0)
    }
    require(repairedDiff == 0, s"repair must close every diff, got $repairedDiff")

    def num(v: Double) = "%.1f".formatLocal(java.util.Locale.ROOT, v)
    val mode = if (jdbcMode) "sf1_jdbc" else "sf1"
    val json =
      s"""{"lifecycle":"$mode","key_space":$keySpace,"feed_rows":2000000,""" +
      s""""polls":$polls,"drill_rows":$drillRows,"stages_sec":{""" +
      times.map { case (k, v) => s""""$k":${num(v)}""" }.mkString(",") +
      s"""},"total_sec":${num(times.values.sum)}}"""
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    spark.stop()
  }
}
