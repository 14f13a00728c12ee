package graft

import org.apache.spark.sql.functions._

import graft.operators.{PQ, Selection}

/** Unit behavior of product quantization + the q82/q83 selection ops;
  * cross-engine exactness is covered by the q81-q83 oracles. */
class PQSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 4 // 2 subspaces of 2

  test("encode picks the nearest codeword per subspace, smallest code on ties") {
    val codebook = Seq(
      (0, Seq(0.0, 0.0, 0.0, 0.0)),
      (1, Seq(1.0, 1.0, 1.0, 1.0)),
      (2, Seq(0.0, 0.0, 1.0, 1.0))).toDF("code", "cvec")
    val corpus = Seq(
      (10L, Seq(0.1, 0.1, 0.9, 0.9)), // sub0 -> 0, sub1 -> 1 or 2 (tie) -> 1
      (11L, Seq(0.9, 0.9, 0.1, 0.1))  // sub0 -> 1, sub1 -> 0 or 2 (tie) -> 0
    ).toDF("id", "vec")
    val enc = PQ.encode(corpus, codebook, m = 2, dim = dim)
      .orderBy("id").as[(Long, Int, Int)].collect().toSeq
    assert(enc === Seq((10L, 0, 1), (11L, 1, 0)))
  }

  test("adcTopKBucketed only scores same-bucket candidates and agrees with in-bucket ADC") {
    val codebook = Seq(
      (0, Seq(0.0, 0.0, 0.0, 0.0)),
      (1, Seq(1.0, 1.0, 1.0, 1.0)),
      (2, Seq(5.0, 5.0, 5.0, 5.0))).toDF("code", "cvec")
    val corpus = Seq(
      (10L, Seq(0.1, 0.1, 0.1, 0.1)), (11L, Seq(0.9, 0.9, 0.9, 0.9)),
      (20L, Seq(5.1, 5.1, 5.1, 5.1)), (21L, Seq(4.9, 4.9, 4.9, 4.9))
    ).toDF("id", "vec")
    val queries = Seq((100L, Seq(0.0, 0.0, 0.0, 0.0))).toDF("qid", "qvec")
    // bucket ids ride on the corpus (through encode) and on the queries
    val corpB = corpus.withColumn("cid", when(col("id") < 20L, 1L).otherwise(2L))
    val enc = PQ.encode(corpus, codebook, m = 2, dim = dim)
    val got = PQ.adcTopKBucketed(PQ.encode(corpB, codebook, m = 2, dim = dim),
        codebook, queries.withColumn("cid", lit(1L)), m = 2, dim = dim, k = 4)
      .select("qid", "rank", "id").as[(Long, Int, Long)].collect().toSeq.sorted
    // bucket 2's candidates (20, 21) must never appear, even with k=4
    assert(got === Seq((100L, 1, 10L), (100L, 2, 11L)))
    // and the in-bucket ranking equals plain ADC over only that bucket
    val plain = PQ.adcTopK(enc.filter(col("id") < 20L), codebook, queries,
        m = 2, dim = dim, k = 4)
      .select("qid", "rank", "id").as[(Long, Int, Long)].collect().toSeq.sorted
    assert(got === plain)
  }

  test("adcTopK: a query equal to an uncorrupted codeword retrieves it at distance 0") {
    val codebook = (0 until 4).map(c =>
      (c, (0 until dim).map(j => (c * 10 + j).toDouble))).toDF("code", "cvec")
    // corpus = the codewords themselves -> each encodes exactly to itself
    val corpus = (0 until 4).map(c =>
      (100L + c, (0 until dim).map(j => (c * 10 + j).toDouble))).toDF("id", "vec")
    val enc = PQ.encode(corpus, codebook, m = 2, dim = dim)
    val queries = Seq((7L, (0 until dim).map(j => (20 + j).toDouble)))
      .toDF("qid", "qvec") // == codeword 2
    val top = PQ.adcTopK(enc, codebook, queries, m = 2, dim = dim, k = 2)
      .orderBy("rank")
      .select(col("rank"), col("id"), col("adc_dist").cast("double"))
      .as[(Int, Long, Double)].collect().toSeq
    assert(top.head === ((1, 102L, 0.0)))
    assert(top(1)._3 > 0.0)
  }

  test("encode + adc are layout-independent") {
    val codebook = (0 until 8).map(c =>
      (c, (0 until dim).map(j => ((c * 7 + j * 3) % 5).toDouble))).toDF("code", "cvec")
    val corpus = (0L until 60L).map(i =>
      (i, (0 until dim).map(j => ((i * 13 + j) % 9).toDouble))).toDF("id", "vec")
    val queries = (0L until 5L).map(i =>
      (i, (0 until dim).map(j => ((i * 5 + j) % 7).toDouble))).toDF("qid", "qvec")
    def run(c: org.apache.spark.sql.DataFrame) = {
      val enc = PQ.encode(c, codebook, m = 2, dim = dim)
      PQ.adcTopK(enc, codebook, queries, m = 2, dim = dim, k = 3)
        .select(col("qid"), col("rank"), col("id"), col("adc_dist").cast("string"))
        .orderBy("qid", "rank").as[(Long, Int, Long, String)].collect().toSeq
    }
    assert(run(corpus) === run(corpus.repartition(11)))
  }

  test("weightedSample: heavy weights dominate the draw; deterministic across layouts") {
    val df = spark.range(400).select(col("id"),
      when(col("id") < 40, 5.0).otherwise(0.05).as("w"))
    val drawn = Selection.weightedSample(df, "id", col("w"), k = 30)
      .select("id").as[Long].collect().toSet
    assert(drawn.size === 30)
    val heavy = drawn.count(_ < 40)
    assert(heavy >= 25, s"100x-weighted ids must dominate the sample, got $heavy/30")
    val again = Selection.weightedSample(df.repartition(13), "id", col("w"), k = 30)
      .select("id").as[Long].collect().toSet
    assert(drawn === again)
  }

  test("snapshotDelta classifies added/removed/changed/unchanged") {
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val nw = Seq((2L, "b"), (3L, "C  "), (4L, "d")).toDF("doc_id", "text")
    val out = Selection.snapshotDelta(old, nw, "doc_id", "text")
      .orderBy("id").as[(Long, String)].collect().toSeq
    // "C  " normalizes to "c" -> unchanged despite the raw-text diff
    assert(out === Seq(
      (1L, "removed"), (2L, "unchanged"), (3L, "unchanged"), (4L, "added")))
  }

  test("snapshotDelta flags real content change") {
    val old = Seq((1L, "alpha")).toDF("doc_id", "text")
    val nw = Seq((1L, "beta")).toDF("doc_id", "text")
    val out = Selection.snapshotDelta(old, nw, "doc_id", "text")
      .as[(Long, String)].head()
    assert(out === ((1L, "changed")))
  }
}
