package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Debezium JSON change-event parsing (SURVEY.md §2.A; reference:
  * debezium-connector-config.json — JsonConverter envelopes). Only the
  * full envelope carries the source LSN the loop's fold orders by.
  *
  * Works identically on a batch DataFrame and a streaming DataFrame
  * (e.g. a Kafka `value` column) — `from_json` is a pure projection, so
  * the parse keeps whole-stage codegen and imposes no shuffle. The
  * output shape plugs straight into CdcOps.latestStateOf /
  * applyLogOf, and, renamed to the
  * `ChangeEvent` columns, into the streaming lake sink
  * CdcStream.streamApplyToLakeOf.
  */
object DebeziumJson {

  /** Spark schema for a Debezium envelope whose row payload has schema
    * `row` (reference table: orders(order_id, customer_id, amount,
    * timestamp, batch_id), init-scripts/source/01-init.sql:1-9). */
  def envelopeSchema(row: StructType): StructType = StructType(Seq(
    StructField("before", row),
    StructField("after", row),
    StructField("source", StructType(Seq(
      StructField("lsn", LongType),
      StructField("ts_ms", LongType),
      StructField("db", StringType),
      StructField("schema", StringType),
      StructField("table", StringType)))),
    StructField("op", StringType), // c / u / d / r (snapshot read)
    StructField("ts_ms", LongType)))

  /** The reference's orders-row schema. */
  val ordersRow: StructType = StructType(Seq(
    StructField("order_id", LongType),
    StructField("customer_id", LongType),
    StructField("amount", DoubleType),
    StructField("timestamp", StringType),
    StructField("batch_id", StringType)))

  /** Parse raw Debezium envelopes from a JSON string column into a
    * normalized change-event frame:
    * (key, op, lsn, ts_ms, payload struct — after-image, or
    * before-image for deletes). Creates ('c') and snapshot reads ('r')
    * normalize to I, updates ('u') to U and deletes ('d') to D; any other
    * op passes through unchanged, so the I/U/D fold downstream rejects it
    * by name instead of applying it as an insert. Records without a key
    * (truncates, messages) are dropped. */
  def parseEnvelope(df: DataFrame, jsonCol: String, row: StructType,
                    keyField: String): DataFrame = {
    val env = from_json(col(jsonCol), envelopeSchema(row))
    val op = col("_e.op")
    df.withColumn("_e", env)
      .select(
        coalesce(col(s"_e.after.$keyField"), col(s"_e.before.$keyField")).as("key"),
        when(op === "c" || op === "r", "I")
          .when(op === "u", "U")
          .when(op === "d", "D")
          .otherwise(op).as("op"),
        col("_e.source.lsn").as("lsn"),
        col("_e.ts_ms").as("ts_ms"),
        coalesce(col("_e.after"), col("_e.before")).as("payload"))
      .filter(col("key").isNotNull)
  }
}
