package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Kafka edges of the serve loop (SURVEY.md §2.1 S8/S9).
  *
  * Reference: ALSKafkaConsumer.java:67-70 consumes a topic as a string
  * stream; ALSKafkaProducer.java:29-37 / SGD.java:73-81 publish with
  * `setFlushOnCheckpoint(true)` — at-least-once. Spark's Kafka source/sink
  * give the same guarantee: at-least-once on the sink. Downstream, a
  * replay is harmless only for [[ModelConsumer]], whose store upsert keeps
  * the seq-ordered latest value. It is NOT harmless for [[SgdUpdater]]: a
  * replayed rating batch takes a second SGD step on the store it already
  * updated.
  *
  * NOTE: requires the `spark-sql-kafka-0-10` connector on the classpath;
  * this container ships without it (verified against the offline coursier
  * cache — see BASELINE.md "Kafka edge"), so the pieces are factored to be
  * checkable WITHOUT the jar and KafkaIOSpec pins each one at the analyzer
  * level: [[projectRecords]] / [[encodeForSink]] build their plans against
  * a MemoryStream twin of the exact Kafka wire schema ([[wireSchema]]),
  * the option spellings are plain data ([[sourceOptions]] /
  * [[sinkOptions]]), and the absence of the connector itself is asserted
  * as the specific `Failed to find data source: kafka` analyzer error.
  * The serve/SGD chain downstream takes any lines DataFrame, so the
  * MemoryStream twins in StreamingServeSpec exercise identical wiring.
  */
object KafkaIO {

  /** The Kafka source's fixed output schema (the connector's public
    * contract) — what [[projectRecords]] consumes and what the analyzer
    * twin in KafkaIOSpec replays. */
  val wireSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key",
        org.apache.spark.sql.types.BinaryType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.BinaryType),
      org.apache.spark.sql.types.StructField("topic",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("partition",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("offset",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("timestamp",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("timestampType",
        org.apache.spark.sql.types.IntegerType)))

  /** Source option spellings — data, so the spec can pin them without a
    * broker or the connector jar. */
  def sourceOptions(bootstrap: String, topic: String,
                    startingOffsets: String): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrap,
    "subscribe" -> topic,
    "startingOffsets" -> startingOffsets)

  /** Sink option spellings (checkpointLocation is what turns on the
    * at-least-once flush-on-checkpoint contract). */
  def sinkOptions(bootstrap: String, topic: String,
                  checkpointDir: String): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrap,
    "topic" -> topic,
    "checkpointLocation" -> checkpointDir)

  /** Wire → record projection: (value STRING, offset LONG, partition
    * INT). Factored from [[readRecords]] so the plan is analyzer-checked
    * against the [[wireSchema]] twin even without the connector. */
  def projectRecords(raw: DataFrame): DataFrame =
    raw.select(col("value").cast("string").as("value"),
      col("offset").cast("long").as("offset"),
      col("partition").cast("int").as("partition"))

  /** S8: subscribe to a topic as (value STRING, offset LONG, partition
    * INT).
    *
    * ORDERING CONTRACT: the offset is monotonic only WITHIN a partition, so
    * using it as the per-key seq (ModelConsumer.parse(seqCol)) is correct
    * only when the producer keys records by state key — every record of a
    * key then lands in one partition (the standard layout for a compacted
    * model topic, and the same per-partition-FIFO guarantee the reference
    * consumer relies on). With an unkeyed producer a key's records span
    * partitions with incomparable offsets — pass seqCol=None and accept
    * batch-order semantics instead. */
  def readRecords(spark: SparkSession, bootstrap: String, topic: String,
                  startingOffsets: String = "earliest"): DataFrame =
    projectRecords(spark.readStream
      .format("kafka")
      .options(sourceOptions(bootstrap, topic, startingOffsets))
      .load())

  /** Record → wire encoding (single `value` STRING column), factored from
    * [[writeRecords]] for the same analyzer-level reason. */
  def encodeForSink(records: DataFrame): DataFrame =
    records.select(col("record").cast("string").as("value"))

  /** S9: publish encoded records to a topic, at-least-once, checkpointed —
    * the Spark face of writeToKafkaWithTimestamps + flush-on-checkpoint. */
  def writeRecords(records: DataFrame, bootstrap: String, topic: String,
                   checkpointDir: String): StreamingQuery =
    encodeForSink(records)
      .writeStream
      .format("kafka")
      .options(sinkOptions(bootstrap, topic, checkpointDir))
      .start()

  /** End-to-end serve wiring: topic → latest-per-key state → store.
    * The Kafka offset is the per-key seq, so a replayed older record loses
    * to newer state. KafkaIOSpec drives the same [[ModelConsumer.serveTo]]
    * call on the wire-schema twin. */
  def serveFromKafka(spark: SparkSession, bootstrap: String, topic: String,
                     store: ServingStore.FactorStore,
                     checkpointDir: String): StreamingQuery =
    ModelConsumer.serveTo(spark, readRecords(spark, bootstrap, topic), store,
      Some(checkpointDir), seqCol = Some("offset"))
}
