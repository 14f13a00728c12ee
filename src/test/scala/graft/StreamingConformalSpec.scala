package graft

import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreSaveExec
import org.apache.spark.sql.execution.streaming.operators.stateful.flatmapgroupswithstate.FlatMapGroupsWithStateExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._

import graft.operators.Governance
import graft.streaming.StreamingConformal

/** Batch≡stream parity for the conformal coverage monitor: streaming the
  * q227 test half through [[StreamingConformal.coverage]] under any
  * micro-batch split reproduces the contract's (n_test, n_covered)
  * exactly, including the q̂ = ∞ (null threshold) convention, and the
  * rows of the first micro-batch equal q227's coverage count over the
  * rows added so far. */
class StreamingConformalSpec extends SparkSpec {
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  private def hash32(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).take(8), 16)

  // the q227 contract at sf0.001: thresholds + expected coverage
  private lazy val contract = SparkEntry
    .queries("q227_conformal_threshold")(spark, sf0)
    .select("source", "qhat", "n_test", "n_covered")
    .as[(String, Option[Double], Long, Long)].collect()

  // test-half scores recomputed locally (the Round6bOpsSpec derivation)
  private lazy val testScores: Seq[(String, Long, Long)] = {
    val docs = graft.sources.Tables.table(spark, sf0, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .as[(Long, String, Long)].collect()
    docs.groupBy(_._2).toSeq.flatMap { case (src, rows) =>
      val (cal, tst) = rows.partition(r => hash32(s"cf:${r._1}") % 2 == 0)
      if (cal.isEmpty) Seq.empty
      else {
        val mean = cal.map(_._3).sum.toDouble / cal.length
        tst.map(r => (src, r._1,
          math.floor(math.abs(r._3.toDouble - mean) * 1e6).toLong))
      }
    }
  }

  test("streamed coverage equals the q227 contract under any split") {
    val thresholds = contract.toSeq
      .map(c => (c._1, c._2.map(q => math.round(q * 1e6))))
      .toDF("grp", "qv")
    val expect = contract.map(c => c._1 -> ((c._3, c._4))).toMap
    assert(expect.values.map(_._1).sum === testScores.length.toLong)
    for (cut <- Seq(1, testScores.length / 3, testScores.length)) {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(String, Long, Long)]
      val out = StreamingConformal.coverage(spark,
        in.toDF().toDF("grp", "id", "v"), thresholds)
      val name = s"conf_cov_$cut"
      val q = out.writeStream.format("memory").outputMode("update")
        .queryName(name).start()
      try {
        in.addData(testScores.take(cut))
        q.processAllAvailable()
        // per-batch emission: Update mode emits q227's coverage count over
        // the rows added so far, one row per group touched
        val firstBatch = spark.table(name)
          .as[(String, Long, Long)].collect().toSet
        val batchSoFar = Governance.coverageCounts(
            testScores.take(cut).toDF("grp", "id", "v")
              .join(thresholds, Seq("grp")), "grp")
          .as[(String, Long, Long)].collect().toSet
        assert(firstBatch === batchSoFar, s"cut=$cut first batch")
        val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
          .lastExecution.executedPlan
        assert(plan.collect { case a: StateStoreSaveExec => a }.nonEmpty,
          s"no stateful aggregate:\n$plan")
        assert(plan.collect { case f: FlatMapGroupsWithStateExec => f }.isEmpty,
          s"a hand fold is planned:\n$plan")
        in.addData(testScores.drop(cut))
        q.processAllAvailable()
        val frontier = spark.table(name)
          .groupBy("grp")
          .agg(max(struct(col("n_test"), col("n_covered"))).as("m"))
          .select(col("grp"), col("m.n_test"), col("m.n_covered"))
          .as[(String, Long, Long)].collect()
          .map(r => r._1 -> ((r._2, r._3))).toMap
        // groups whose test half is empty never appear on the stream;
        // the contract reports them as (0, 0)
        val expectNonEmpty = expect.filter(_._2._1 > 0)
        assert(frontier === expectNonEmpty, s"cut=$cut")
      } finally q.stop()
    }
  }

  test("an infinite (null) threshold covers every streamed row") {
    implicit val sqlCtx = spark.sqlContext
    val thresholds = Seq(("inf", None: Option[Long]), ("fin", Some(100L)))
      .toDF("grp", "qv")
    val in = MemoryStream[(String, Long, Long)]
    val out = StreamingConformal.coverage(spark,
      in.toDF().toDF("grp", "id", "v"), thresholds)
    val q = out.writeStream.format("memory").outputMode("update")
      .queryName("conf_inf").start()
    try {
      in.addData(Seq(("inf", 1L, 999999L), ("inf", 2L, 0L),
        ("fin", 3L, 100L), ("fin", 4L, 101L), ("gone", 5L, 0L)))
      q.processAllAvailable()
      val rows = spark.table("conf_inf")
        .groupBy("grp")
        .agg(max(struct(col("n_test"), col("n_covered"))).as("m"))
        .select(col("grp"), col("m.n_test"), col("m.n_covered"))
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(rows("inf") === ((2L, 2L)), "null q̂ = +∞ covers everything")
      assert(rows("fin") === ((2L, 1L)), "boundary: v <= q̂ covers, v > misses")
      assert(!rows.contains("gone"), "uncalibrated groups are not monitored")
    } finally q.stop()
  }
}
