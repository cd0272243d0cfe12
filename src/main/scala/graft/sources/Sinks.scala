package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sinks (reference: jdbc-sink-connector-config.json — upsert-mode sink
  * applying the change stream to the target DB).
  *
  * Without a database in this environment, the idempotent-apply shape
  * is expressed against the lake: a latest-state snapshot is written as
  * parquet partitioned by a stable key bucket, so (a) re-running a batch
  * apply overwrites only the partitions it recomputes (dynamic
  * partition overwrite = idempotent retries), and (b) a downstream
  * reconciliation read of one bucket touches one directory (partition
  * pruning as an index). The bucket is Spark's own hash partition of
  * the key, `pmod(hash(key), buckets)` (Murmur3, as `HashPartitioning`
  * and `bucketBy` use). CdcStream's streaming lake is not written here:
  * it publishes whole flat versions into fresh directories. */
object Sinks {

  /** Write a keyed snapshot partitioned by hash-bucket of the key.
    * `buckets` should be sized so one bucket ≈ one comfortable task
    * (at 100 TB: thousands). `_bucket = pmod(hash(key), buckets)` is the
    * partition id of `repartition(buckets, key)`, so each write task
    * holds one bucket and writes one file, with no second exchange after
    * a fold already partitioned that way. */
  def writeSnapshot(snapshot: DataFrame, keyCol: String, path: String,
                    buckets: Int): Unit =
    snapshot
      .withColumn("_bucket", pmod(hash(col(keyCol)), lit(buckets)))
      .repartition(buckets, col(keyCol))
      .write
      .partitionBy("_bucket")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)

  /** Write a catalog table bucketed + sorted on the join key — the
    * co-located-join layout: two tables bucketed the same way join with
    * NO exchange on either side (the shuffle was paid once at write
    * time and is amortized over every subsequent join/aggregation on
    * that key). This is the layout both reconciliation sides should be
    * stored in at 100 TB: recon_row_diff's full-outer join and
    * recon_hash_bucket's drill-down become scan-speed, shuffle-free.
    * PlanSpec asserts the exchange-free plan. */
  def writeBucketed(df: DataFrame, table: String, keyCol: String,
                    buckets: Int): Unit = {
    // Idempotent across sessions: a fresh in-memory catalog doesn't know
    // a previous session's managed table, but its warehouse directory
    // survives on disk and CREATE TABLE AS refuses the stale location —
    // drop both the entry and the directory before writing.
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write
      .mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, keyCol)
      .sortBy(keyCol)
      .saveAsTable(table)
  }
}
