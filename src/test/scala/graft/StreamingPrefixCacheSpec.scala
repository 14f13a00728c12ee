package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.StreamingPrefixCache

/** Batch≡stream parity for the prefix-cache accounting: under any
  * micro-batch split, per-block-size hit/miss TOTALS equal the q215 batch
  * formula (docs − distinct blocks), and within one batch the smallest
  * doc_id of an unseen block is the miss. */
class StreamingPrefixCacheSpec extends SparkSpec {
  import spark.implicits._

  private val sizes = Seq(2, 4)
  private val docs = Seq(
    (1L, "a b c d"), (2L, "a b x y"), (3L, "a b c d"),
    (4L, "q r"), (5L, "q r"), (6L, "z"))

  // expected per-B totals from the batch accounting
  private def batchTotals(b: Int): (Long, Long) = {
    val pref = docs.map(_._2.split("\\s+").toSeq).filter(_.length >= b)
      .map(_.take(b).mkString(" "))
    (pref.length.toLong, pref.distinct.length.toLong)
  }

  test("stream hit totals equal batch accounting under any split") {
    for (cut <- Seq(1, 3, docs.length)) {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, String)]
      val out = StreamingPrefixCache.hits(spark,
        Dedup.prefixBlocks(
          in.toDF().toDF("doc_id", "text"), sizes))
      val name = s"pc_$cut"
      val q = out.writeStream.format("memory").outputMode("append")
        .queryName(name).start()
      try {
        in.addData(docs.take(cut))
        q.processAllAvailable()
        in.addData(docs.drop(cut))
        q.processAllAvailable()
        val rows = spark.table(name)
          .select("block_len", "doc_id", "hit")
          .as[(Int, Long, Boolean)].collect()
        for (b <- sizes) {
          val (nDocs, nBlocks) = batchTotals(b)
          val mine = rows.filter(_._1 == b)
          assert(mine.length.toLong === nDocs, s"cut=$cut B=$b")
          assert(mine.count(_._3).toLong === nDocs - nBlocks,
            s"cut=$cut B=$b hits")
          assert(mine.count(!_._3).toLong === nBlocks, s"cut=$cut B=$b misses")
        }
      } finally q.stop()
    }
  }

  test("single batch: the smallest doc_id of each block is the miss") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val out = StreamingPrefixCache.hits(spark,
      Dedup.prefixBlocks(in.toDF().toDF("doc_id", "text"), Seq(2)))
    val q = out.writeStream.format("memory").outputMode("append")
      .queryName("pc_one").start()
    try {
      in.addData(docs)
      q.processAllAvailable()
      val misses = spark.table("pc_one").filter(!col("hit"))
        .select("doc_id").as[Long].collect().sorted.toSeq
      // blocks at B=2: "a b"->docs 1,2,3 (miss 1), "q r"->4,5 (miss 4);
      // doc 6 is too short for B=2
      assert(misses === Seq(1L, 4L))
    } finally q.stop()
  }

  test("blocks() matches the q215 hashing (same md5 over first B tokens)") {
    val b = Dedup.prefixBlocks(
      docs.toDF("doc_id", "text"), Seq(2))
      .filter(col("doc_id") === 1L).select("h").as[String].head()
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("a b".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(b === md)
  }
}
