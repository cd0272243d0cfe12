package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Kafka change-topic ingestion — the deployment path the reference
  * actually runs (Debezium → Kafka topic → sink connector;
  * debezium-connector-config.json routes `dbserver1.public.*`).
  * A deployment subscribes with Spark's Kafka source and decodes the
  * raw frame before the envelope parse:
  * {{{
  * val raw = spark.readStream.format("kafka")
  *   .options(KafkaSource.options(bootstrap, "dbserver1\\.public\\..*")).load()
  * DebeziumJson.parseEnvelope(KafkaSource.decoded(raw), "value_json", row, key)
  * }}}
  *
  * Discipline encoded here rather than left to callers:
  *  - `startingOffsets=earliest` + a bounded `maxOffsetsPerTrigger`:
  *    an unbounded first micro-batch on a 100 TB backlog is one giant
  *    task set; bounding it turns backfill into steady-state batches.
  *  - `failOnDataLoss=false` left to the CALLER to decide — silently
  *    skipping compacted-away offsets is a correctness choice, not a
  *    default.
  *  - key/value arrive as binary; `decoded()` casts to string and keeps
  *    (topic, partition, offset) — the offset triple is the monotonic
  *    LSN analog every downstream CDC operator keys on.
  *
  * The Spark distribution ships no Kafka connector, so the `load()`
  * above cannot run in a broker-less build. `options` is plain option
  * assembly and `decoded` pure column logic; both are ScalaTest-covered
  * on hand-built frames feeding DebeziumJson.parseEnvelope, so only the
  * socket between a live broker and `load()` is untested. */
object KafkaSource {

  /** Standard option set for a Debezium change topic subscription. */
  def options(bootstrap: String, topicPattern: String,
              maxOffsetsPerTrigger: Long = 1000000L): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrap,
    "subscribePattern" -> topicPattern,
    "startingOffsets" -> "earliest",
    "maxOffsetsPerTrigger" -> maxOffsetsPerTrigger.toString)

  /** Decode the raw Kafka frame: binary key/value to strings plus the
    * (topic, partition, offset) coordinates. Works identically on a
    * batch frame (tests) and a streaming frame (deployment). */
  def decoded(raw: DataFrame): DataFrame =
    raw.select(
      col("topic"), col("partition"), col("offset"),
      col("key").cast("string").as("key_json"),
      col("value").cast("string").as("value_json"))
}
