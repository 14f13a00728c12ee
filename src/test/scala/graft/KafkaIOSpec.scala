package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

import graft.streaming.{KafkaIO, ModelConsumer, ServingStore}

/** Analyzer-level coverage of the Kafka edges (SURVEY.md §2.1 S8/S9).
  *
  * The `spark-sql-kafka-0-10` connector jar does not exist in this
  * container or its offline dependency cache, so the live source/sink
  * cannot execute here. These tests pin everything the jar does NOT own:
  * the wire→record projection against the connector's exact output schema,
  * the record→wire encoding, the public option spellings, the end-to-end
  * serve chain on a wire-schema twin stream, and the precise analyzer
  * error proving absence of the connector is the ONLY missing piece. */
class KafkaIOSpec extends SparkSpec {
  import spark.implicits._

  /** One wire-schema row as the connector would emit it. */
  private def wireRow(value: String, partition: Int, offset: Long): Row =
    Row("k".getBytes(UTF_8), value.getBytes(UTF_8), "models", partition,
      offset, new Timestamp(1700000000000L), 0)

  test("projectRecords: wire schema → (value STRING, offset LONG, partition INT)") {
    val raw = spark.createDataFrame(
      java.util.List.of(wireRow("7,U,0.5;0.25", 0, 42L)), KafkaIO.wireSchema)
    val rec = KafkaIO.projectRecords(raw)
    assert(rec.schema.map(f => (f.name, f.dataType)) ===
      Seq(("value", StringType), ("offset", LongType),
        ("partition", IntegerType)))
    val r = rec.collect().head
    assert(r.getString(0) === "7,U,0.5;0.25")
    assert(r.getLong(1) === 42L)
    assert(r.getInt(2) === 0)
  }

  test("option spellings match the connector's public contract") {
    assert(KafkaIO.sourceOptions("b:9092", "models", "earliest") === Map(
      "kafka.bootstrap.servers" -> "b:9092",
      "subscribe" -> "models",
      "startingOffsets" -> "earliest"))
    assert(KafkaIO.sinkOptions("b:9092", "models", "/tmp/ck") === Map(
      "kafka.bootstrap.servers" -> "b:9092",
      "topic" -> "models",
      "checkpointLocation" -> "/tmp/ck"))
  }

  test("encodeForSink: single value STRING column from record rows") {
    val out = KafkaIO.encodeForSink(Seq("1,U,0.5").toDF("record"))
    assert(out.schema.map(f => (f.name, f.dataType)) ===
      Seq(("value", StringType)))
    assert(out.collect().head.getString(0) === "1,U,0.5")
  }

  private type WireTuple =
    (Array[Byte], Array[Byte], String, Int, Long, Timestamp, Int)

  /** One twin-stream record: `value` at `offset` of partition 0. */
  private def twinRec(value: String, offset: Long): WireTuple =
    ("k".getBytes(UTF_8), value.getBytes(UTF_8), "models", 0, offset,
      new Timestamp(1700000000000L), 0)

  /** serveFromKafka's ModelConsumer.serveTo call, driven by a MemoryStream
    * carrying the SAME wire shape, offsets used as per-key seq. */
  private def serveTwin(in: MemoryStream[WireTuple],
                        store: ServingStore.FactorStore, dir: String) = {
    val raw = in.toDF().toDF("key", "value", "topic", "partition", "offset",
      "timestamp", "timestampType")
    assert(raw.isStreaming)
    ModelConsumer.serveTo(spark, KafkaIO.projectRecords(raw), store,
      Some(dir), seqCol = Some("offset"))
  }

  test("serve chain runs end-to-end on a wire-schema twin stream") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[WireTuple]
    val store = ServingStore.factorStore()
    val dir = java.nio.file.Files.createTempDirectory("kafka-twin").toString
    val q = serveTwin(in, store, dir)
    try {
      in.addData(twinRec("7,U,0.5;0.25", 10L))
      q.processAllAvailable()
      assert(store.get("7-U").get.toSeq === Seq(0.5, 0.25))
      // an older offset (at-least-once replay) must not clobber newer state
      in.addData(twinRec("7,U,0.9;0.9", 5L))
      q.processAllAvailable()
      assert(store.get("7-U").get.toSeq === Seq(0.5, 0.25))
    } finally q.stop()
  }

  test("an older offset loses to the checkpointed seq after a restart") {
    // the second query knows offset 10 only from the checkpointed state
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[WireTuple]
    val store = ServingStore.factorStore()
    val dir = java.nio.file.Files.createTempDirectory("kafka-restart").toString
    val q1 = serveTwin(in, store, dir)
    try {
      in.addData(twinRec("7,U,0.5;0.25", 10L))
      q1.processAllAvailable()
    } finally q1.stop()

    val q2 = serveTwin(in, store, dir)
    try {
      in.addData(twinRec("7,U,0.9;0.9", 5L), twinRec("8,U,0.3;0.3", 6L))
      q2.processAllAvailable()
      assert(store.get("7-U").get.toSeq === Seq(0.5, 0.25))
      assert(store.get("8-U").get.toSeq === Seq(0.3, 0.3))
      // a newer offset still wins after the restart
      in.addData(twinRec("7,U,0.1;0.2", 11L))
      q2.processAllAvailable()
      assert(store.get("7-U").get.toSeq === Seq(0.1, 0.2))
    } finally q2.stop()
  }

  test("live source fails ONLY for the missing connector artifact") {
    val e = intercept[Throwable] {
      KafkaIO.readRecords(spark, "localhost:9092", "models")
    }
    val msg = Option(e.getMessage).getOrElse("") + e.getClass.getName
    assert(msg.toLowerCase.contains("kafka"),
      s"expected the missing-connector analyzer error, got: $e")
  }
}
