package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.functions.Portable
import graft.operators.Dedup
import graft.sources.Tables
import graft.streaming.StreamingNearDup

class StreamingNearDupSpec extends SparkSpec {
  import spark.implicits._

  test("stateless per-row signature is bit-identical to the batch groupBy signature") {
    // the groupBy side is a reference written here: explode, then one MIN
    // per hash function, grouped per document
    val docs = Tables.table(spark, sf0, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 50)
      .unionAll(Seq((-1L, "too short")).toDF("doc_id", "text"))
    val rowLocal = Dedup.signatures(Dedup.shingleSets(docs, 3), 16)
      .as[(Long, Array[Long])].collect().toMap
    val h = Portable.hash32m(col("sh"))
    val reference = Dedup.shingles(docs, 3).groupBy(col("doc_id"))
      .agg(array((1 to 16).map(i => min(Portable.permute(h, i))): _*).as("sig"))
      .as[(Long, Array[Long])].collect().toMap
    assert(reference.size > 1 && !reference.contains(-1L))
    assert(rowLocal.keySet === reference.keySet)
    reference.foreach { case (id, sig) =>
      assert(rowLocal(id).toSeq === sig.toSeq, s"signature diverges for doc $id")
    }
  }

  test("signature/band pipeline shuffles nothing: no Exchange in the per-row plan") {
    // VERDICT r19 task 8: the streaming path must INHERIT the batch
    // shingle optimization's no-dedup-shuffle property. The kernel is
    // row-local by construction (array_min over the shingle array), so
    // the whole doc → signature → band-rows prefix must plan without a
    // single Exchange — this pins that, so a future edit that reintroduces
    // a (doc_id, shingle) explode + groupBy fails loudly here.
    val docs = Tables.table(spark, sf0, "documents")
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 50) // NOT limit(): GlobalLimit plans its own
      //                             SinglePartition exchange — test noise
    val bandRows = StreamingNearDup.bandRows(docs, shingleN = 3, numHashes = 16,
      bands = 4)
    val physical = bandRows.queryExecution.executedPlan.toString
    assert(!physical.contains("Exchange"),
      s"streaming near-dup prefix gained a shuffle:\n$physical")
    assert(bandRows.count() > 0)
  }

  test("planted duplicate is caught as a candidate pair with estimate 1.0; disjoint doc is not") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val cands = StreamingNearDup.lshCandidates(
      in.toDF().toDF("doc_id", "text"), shingleN = 3, numHashes = 16, bands = 4,
      idleTimeout = None)
    val q = cands.writeStream.format("memory").queryName("neardup_cand").start()
    try {
      val text = "the quick brown fox jumps over the lazy dog again and again"
      in.addData((1L, text), (3L, "completely different words with no shared shingles at all"))
      q.processAllAvailable()
      in.addData((2L, text)) // the re-crawl
      q.processAllAvailable()
      val pairs = spark.table("neardup_cand")
        .select("doc_a", "doc_b", "est_jaccard")
        .as[(Long, Long, Double)].collect().toSet
      assert(pairs.exists { case (a, b, e) => a == 1L && b == 2L && e == 1.0 },
        s"planted dup not found in $pairs")
      assert(!pairs.exists { case (a, b, _) => a == 3L || b == 3L },
        s"disjoint doc paired in $pairs")
    } finally q.stop()
  }

  test("too-short docs pass unscreened instead of meeting in a null-key bucket") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val cands = StreamingNearDup.lshCandidates(
      in.toDF().toDF("doc_id", "text"), shingleN = 3, idleTimeout = None)
    val q = cands.writeStream.format("memory").queryName("neardup_short").start()
    try {
      in.addData((1L, "too short"), (2L, "also short"))
      q.processAllAvailable()
      assert(spark.table("neardup_short").isEmpty)
    } finally q.stop()
  }

  test("a capped bucket keeps screening but marks its candidates") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val cands = StreamingNearDup.lshCandidates(
      in.toDF().toDF("doc_id", "text"), maxBucketSize = 1, idleTimeout = None)
    val q = cands.writeStream.format("memory").queryName("neardup_cap").start()
    try {
      val text = "one two three four five six seven eight nine ten"
      in.addData((1L, text))
      q.processAllAvailable()
      in.addData((2L, text))
      q.processAllAvailable()
      in.addData((3L, text))
      q.processAllAvailable()
      val rows = spark.table("neardup_cap")
        .select("doc_a", "doc_b", "bucket_capped")
        .as[(Long, Long, Boolean)].collect().toSet
      assert(rows.contains((1L, 2L, false)), s"pre-cap pair missing in $rows")
      assert(rows.contains((1L, 3L, true)), s"capped-bucket pair missing in $rows")
      // doc 2 was never admitted to the capped bucket, so (2,3) is the
      // documented screening loss
      assert(!rows.exists { case (a, b, _) => a == 2L && b == 3L })
    } finally q.stop()
  }
}
