package graft.fixtures

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Test fixture: CSV feed-file WRITE side — the round-trip twin of
  * [[FeedSource]] (reference: data_generator.py:45-128 generates random
  * order batches, writes `orders_batch_<id>.csv` with header
  * `customer_id,amount,timestamp`, COPY-loads, and records the batch in
  * batch_control).
  *
  * The Spark analog generates the batch deterministically (an affine
  * hash replaces random.uniform — reruns and retries must produce the
  * byte-identical feed) and publishes it as ONE named CSV file, exactly
  * the artifact FeedSource.readFeeds globs. A feed file is a per-batch
  * delivery artifact (the reference's batch_size default is 100), so a
  * single file per batch is the contract, not a scale compromise — the
  * 100 TB path is the parquet lake, fed from these batches. */
object FeedSink {

  /** Deterministic twin of data_generator.generate_batch: `rows` orders
    * with customer_id in [1,1000], amount in [10.00, 1000.00] on the
    * cent grid, timestamps advancing one second per row from a per-batch
    * base — the same shape as random.randint/uniform/now() with the
    * randomness replaced by the repo-standard affine hash. Each batch
    * owns the hour slot starting `batchId` hours past the base, so for
    * batches of at most 3600 rows feed position (= timestamp) stays
    * globally monotone across batches. */
  def genBatch(spark: SparkSession, batchId: Long, rows: Int): DataFrame =
    spark.range(rows).select(
      (pmod((col("id") + lit(batchId) * 100000L) * 2654435761L, lit(1000000007L)))
        .as("h"), col("id"))
      .select(
        (pmod(col("h"), lit(1000L)) + 1L).as("customer_id"),
        ((pmod(col("h"), lit(99001L)) + 1000L).cast("double") / 100.0d).as("amount"),
        (to_timestamp(lit("2024-01-01 00:00:00"))
          + make_interval(lit(0), lit(0), lit(0), lit(0), lit(batchId),
              lit(0), col("id").cast("double")))
          .as("timestamp"))

  /** Publish `df` (customer_id, amount, timestamp) as
    * `dir/orders_batch_<batchId>.csv` with header — the exact file name
    * and layout FeedSource.readFeeds expects. Returns the published
    * path. Works on any Hadoop filesystem: Spark writes the CSV into a
    * scratch directory, then the single part file is renamed into
    * place (idempotent: an existing file for the batch is replaced). */
  def writeBatch(df: DataFrame, dir: String, batchId: Long): String = {
    val spark = df.sparkSession
    val scratch = s"$dir/_scratch_batch_$batchId"
    val conf = spark.sparkContext.hadoopConfiguration
    val scratchPath = new Path(scratch)
    val fs = scratchPath.getFileSystem(conf)
    try {
      df.select(col("customer_id"), col("amount"), col("timestamp"))
        .coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(scratch)
      val dest = new Path(dir, s"orders_batch_$batchId.csv")
      if (fs.exists(dest)) fs.delete(dest, false)
      // an empty batch writes no part file — publish the header-only
      // CSV the reference generator would (csv.DictWriter.writeheader
      // runs before writerows even for zero orders)
      val parts = Option(fs.globStatus(new Path(scratch, "part-*.csv")))
        .getOrElse(Array.empty)
      if (parts.isEmpty) {
        val out = fs.create(dest, true)
        try out.write("customer_id,amount,timestamp\n".getBytes("UTF-8"))
        finally out.close()
      } else if (!fs.rename(parts(0).getPath, dest)) {
        // HDFS-style filesystems report failure via the boolean, not an
        // exception — swallowing it would silently lose the batch
        throw new java.io.IOException(
          s"FeedSink.writeBatch: rename ${parts(0).getPath} -> $dest failed")
      }
      dest.toString
    } finally fs.delete(scratchPath, true)
  }
}
