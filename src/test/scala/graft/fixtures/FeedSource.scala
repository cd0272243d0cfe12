package graft.fixtures

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Test fixture: CSV feed-file ingestion (reference:
  * data_generator.py:57-63 writes `orders_batch_<id>.csv` with header
  * `customer_id,amount,timestamp`, then COPY-loads it and records the
  * batch in batch_control).
  *
  * The Spark analog: read the feed directory with an explicit schema
  * (never inferSchema — a second full pass at 100 TB), extract the
  * batch id from the file name, and derive the batch_control-shaped
  * ledger with one aggregation. Corrupt rows are quarantined into
  * `_corrupt` (PERMISSIVE mode) instead of failing the load — the COPY
  * equivalent of the reference's per-batch error handling. */
object FeedSource {

  val feedSchema: StructType = StructType(Seq(
    StructField("customer_id", LongType),
    StructField("amount", DoubleType),
    StructField("timestamp", TimestampType),
    StructField("_corrupt", StringType)))

  /** Read every `orders_batch_*.csv` under `dir`, tagging each row with
    * its batch id (from the file name) and delivery file. */
  def readFeeds(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .schema(feedSchema)
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(s"$dir/orders_batch_*.csv")
      .withColumn("feed_file", input_file_name())
      .withColumn("batch_id",
        regexp_extract(col("feed_file"), "orders_batch_(\\d+)\\.csv", 1).cast("long"))

  /** Streaming twin of [[readFeeds]]: watch the feed directory as a
    * file-source stream — each newly published `orders_batch_*.csv`
    * (e.g. from [[FeedSink.writeBatch]]) arrives as a micro-batch with
    * the same schema, quarantine column, and batch-id tagging, so
    * [[feedLedger]] over it (complete output mode) IS the live
    * batch_control view. `maxFilesPerTrigger` bounds a micro-batch the
    * way maxOffsetsPerTrigger bounds the Kafka source. */
  def readFeedsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(feedSchema)
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("maxFilesPerTrigger", "4")
      .csv(s"$dir/orders_batch_*.csv")
      .withColumn("feed_file", input_file_name())
      .withColumn("batch_id",
        regexp_extract(col("feed_file"), "orders_batch_(\\d+)\\.csv", 1).cast("long"))

  /** batch_control-shaped ledger from loaded feeds
    * (data_generator.py:72-94: batch_id, row_count, status).
    *
    * Every data column is aggregated (non-null counts): besides being
    * useful ledger detail, this defeats CSV column pruning — a pruned
    * column is never parsed, so its type errors would not reach
    * `_corrupt` and a FAILED batch would read COMPLETED. */
  def feedLedger(feeds: DataFrame): DataFrame =
    feeds.groupBy(col("batch_id"))
      .agg(
        count(lit(1)).as("row_count"),
        count(col("customer_id")).as("customer_id_rows"),
        count(col("amount")).as("amount_rows"),
        count(col("_corrupt")).as("corrupt_rows"),
        min(col("timestamp")).as("start_timestamp"),
        max(col("timestamp")).as("completion_timestamp"))
      .withColumn("status",
        when(col("corrupt_rows") > 0, "FAILED").otherwise("COMPLETED"))
}
