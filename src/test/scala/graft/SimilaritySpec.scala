package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.sources.Tables

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = Tables.table(spark, sf1, "embeddings")
    .select(col("vec_id").as("id"), col("embedding").as("vec"))
  private lazy val queries = Tables.table(spark, sf1, "embeddings")
    .filter(col("vec_id") % 50 === 0)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
  private lazy val centroids = Tables.table(spark, sf1, "embeddings")
    .filter(col("vec_id") < 8)
    .select(col("vec_id").as("cid"), col("embedding").as("cvec"))

  test("brute force top-k: k rows per query, sims descending") {
    val res = Similarity.bruteForceTopK(corpus, queries, k = 5)
      .collect().groupBy(_.getAs[Long]("qid"))
    assert(res.nonEmpty)
    res.foreach { case (_, rows) =>
      assert(rows.length === 5)
      val sims = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("IVF results are a subset-quality approximation: rank-1 recall vs brute force") {
    val bf = Similarity.bruteForceTopK(corpus, queries, k = 1)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(corpus, queries, centroids, k = 1)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // IVF with 8 random centroids on near-orthogonal data is approximate;
    // just require it returns a result per query and overlaps brute force at all.
    assert(ivf.map(_._1) === bf.map(_._1), "every query answered")
  }

  test("row-local assign equals the crossJoin + max_by reference, zero-norm row and exact ties included") {
    import graft.functions.VectorFunctions.{cosineRound4, sqNorm, toDoubleArray}
    import org.apache.spark.sql.DataFrame
    // the corpus-sized form assign replaced: every (row, centroid) pair
    // scored, argmax per row by max_by over (sim, -cid) after a groupBy(id)
    def reference(data: DataFrame, cents: DataFrame, idCol: String,
                  vecCol: String): DataFrame = {
      def prep(df: DataFrame, i: String, v: String, sfx: String) =
        df.select(col(i).as(s"id$sfx"), toDoubleArray(col(v)).as(s"vec$sfx"),
          sqNorm(toDoubleArray(col(v))).as(s"n2$sfx"))
      prep(data, idCol, vecCol, "_d").crossJoin(broadcast(prep(cents, "cid", "cvec", "_k")))
        .groupBy(col("id_d"))
        .agg(max_by(
          struct(col("vec_d"), col("n2_d"), col("id_k")),
          struct(coalesce(cosineRound4(col("vec_d"), col("n2_d"), col("vec_k"),
            col("n2_k")), lit(-2.0)).as("s"), (-col("id_k")).as("nid"))).as("best"))
        .select(col("id_d").as(idCol), col("best.vec_d").as(vecCol),
          col("best.n2_d").as("n2"), col("best.id_k").as("cid"))
    }
    def rows(df: DataFrame) = df.select(col("id"), col("vec"), col("n2"), col("cid"))
      .as[(Long, Seq[Double], Double, Long)].collect().toSet
    // cids 5 and 2 point the same way (an exact tie for every row near
    // (1, 0)); (1, 1) ties 2 against 7 at the rounded sim; (0, 0) has no
    // cosine at all and must fall to the smallest cid
    val cents = Seq((5L, Seq(2.0, 0.0)), (2L, Seq(1.0, 0.0)), (7L, Seq(0.0, 1.0)),
      (9L, Seq(-1.0, -1.0))).toDF("cid", "cvec")
    val data = Seq((1L, Seq(1.0, 0.1), "a"), (2L, Seq(1.0, 1.0), "b"),
      (3L, Seq(0.0, 0.0), "c"), (4L, Seq(0.1, 3.0), "d"),
      (5L, Seq(-2.0, -1.5), "e")).toDF("id", "vec", "label")
    val got = Similarity.assign(data, cents, "id", "vec")
    assert(rows(got) === rows(reference(data, cents, "id", "vec")))
    assert(got.select("id", "cid").as[(Long, Long)].collect().toMap ===
      Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 7L, 5L -> 9L))
    // row-local: one row per input row, carried columns ride along
    assert(got.select("id", "label").as[(Long, String)].collect().toSet ===
      Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 5L -> "e"))
    // and on the real FLOAT embeddings against the 8-centroid codebook
    assert(rows(Similarity.assign(corpus, centroids, "id", "vec")) ===
      rows(reference(corpus, centroids, "id", "vec")))
  }

  test("LSH ANN achieves high rank-1 recall vs brute force") {
    val corpus = Tables.table(spark, sf0, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = Tables.table(spark, sf0, "embeddings")
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(corpus, queries, 1)
      .select("qid", "id").as[(Long, Long)].collect().toMap
    val lsh = Similarity.lshTopK(corpus, queries, 1)
      .select("qid", "id").as[(Long, Long)].collect().toMap
    val hits = exact.count { case (q, n) => lsh.get(q).contains(n) }
    assert(hits >= exact.size / 2,
      s"rank-1 recall too low: $hits/${exact.size}")
  }

  test("materialized IVF index: search matches in-memory IVF and prunes partitions") {
    val path = java.nio.file.Files.createTempDirectory("ivf").toFile.getAbsolutePath
    val c0 = Tables.table(spark, sf0, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q0 = Tables.table(spark, sf0, "embeddings")
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val cents = Tables.table(spark, sf0, "embeddings")
      .filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    Similarity.ivfWrite(c0, cents, path)
    val indexed = Similarity.ivfSearchIndexed(spark, path, q0, cents, k = 3)
    val inMem = Similarity.ivfTopK(c0, q0, cents, k = 3)
    val a = indexed.select("qid", "rank", "id").as[(Long, Int, Long)].collect().toSet
    val b = inMem.select("qid", "rank", "id").as[(Long, Int, Long)].collect().toSet
    assert(a === b, "indexed search must equal in-memory IVF")
    // the scan of the index must carry a dynamic partition-pruning filter
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"index scan should be dynamically pruned:\n${plan.take(2000)}")
  }

  test("ivfAppend: incremental batch lands only in its partitions; search equals a full rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("ivfapp").toFile.getAbsolutePath
    val full = Tables.table(spark, sf0, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cents = Tables.table(spark, sf0, "embeddings")
      .filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val batch = full.filter(col("id") % 17 === 0)
    val base = full.filter(col("id") % 17 =!= 0)
    Similarity.ivfWrite(base, cents, s"$dir/inc")
    val filesBefore = new java.io.File(s"$dir/inc").listFiles()
      .filter(_.getName.startsWith("cid="))
      .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
    Similarity.ivfAppend(batch, cents, s"$dir/inc")
    val filesAfter = new java.io.File(s"$dir/inc").listFiles()
      .filter(_.getName.startsWith("cid="))
      .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
    val batchCids = graft.operators.Similarity
      .assign(batch, cents, "id", "vec")
      .select("cid").distinct().as[Long].collect().map(c => s"cid=$c").toSet
    filesBefore.foreach { case (cid, files) =>
      if (!batchCids.contains(cid))
        assert(filesAfter(cid) === files,
          s"partition $cid untouched by the batch must keep its exact files")
      else
        assert(files.subsetOf(filesAfter(cid)),
          s"append must not rewrite $cid's existing files")
    }
    // search over the incrementally-built index == a from-scratch rebuild
    Similarity.ivfWrite(full, cents, s"$dir/rebuild")
    val q0 = Tables.table(spark, sf0, "embeddings")
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val inc = Similarity.ivfSearchIndexed(spark, s"$dir/inc", q0, cents, 3)
      .select("qid", "rank", "id").as[(Long, Int, Long)].collect().toSet
    val reb = Similarity.ivfSearchIndexed(spark, s"$dir/rebuild", q0, cents, 3)
      .select("qid", "rank", "id").as[(Long, Int, Long)].collect().toSet
    assert(inc === reb)
  }

  test("streaming ANN serve over the materialized index equals batch indexed search") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("annserve").toFile.getAbsolutePath
    val c0 = Tables.table(spark, sf0, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cents = Tables.table(spark, sf0, "embeddings")
      .filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    Similarity.ivfWrite(c0, cents, dir)
    val centsLocal = cents
      .select(col("cid"), graft.functions.VectorFunctions.toDoubleArray(col("cvec")))
      .as[(Long, Array[Double])].collect().toSeq
    val qRows = Tables.table(spark, sf0, "embeddings")
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDoubleArray(col("embedding")))
      .as[(Long, Array[Double])].collect().toSeq
    val in = MemoryStream[(Long, Array[Double])]
    val served = graft.streaming.AnnServe.serve(spark,
      in.toDF().toDF("qid", "qvec"), centsLocal, dir, k = 3)
    val q = served.writeStream.format("memory").queryName("annserve").start()
    try {
      in.addData(qRows.take(3))
      q.processAllAvailable()
      in.addData(qRows.drop(3)) // second batch: same path, no state carried
      q.processAllAvailable()
      val got = spark.table("annserve")
        .as[(Long, Int, Long, Double)].collect().toSet
      val batch = Similarity.ivfSearchIndexed(spark, dir,
          Tables.table(spark, sf0, "embeddings")
            .filter(col("vec_id") % 50 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          cents, k = 3)
        .select(col("qid"), col("rank"), col("id"), col("sim"))
        .as[(Long, Int, Long, Double)].collect().toSet
      assert(got === batch)
    } finally q.stop()
  }

  test("streaming ANN serve: zero-norm index vector gets NULL sim, ranks last, equals batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("annserve0").toFile.getAbsolutePath
    val corpus = Seq(
      (1L, Array(1.0, 0.0)),
      (2L, Array(0.0, 1.0)),
      (99L, Array(0.0, 0.0))). // degenerate: cosine undefined -> NULL sim
      toDF("id", "vec")
    val cents = Seq((0L, Array(1.0, 1.0))).toDF("cid", "cvec")
    Similarity.ivfWrite(corpus, cents, dir)
    val in = MemoryStream[(Long, Array[Double])]
    val served = graft.streaming.AnnServe.serve(spark,
      in.toDF().toDF("qid", "qvec"), Seq((0L, Array(1.0, 1.0))), dir, k = 3)
    val q = served.writeStream.format("memory").queryName("annserve0").start()
    try {
      in.addData((1000L, Array(1.0, 0.0)))
      q.processAllAvailable()
      val got = spark.table("annserve0")
        .as[(Long, Int, Long, Option[Double])].collect().toSet
      val batch = Similarity.ivfSearchIndexed(spark, dir,
          Seq((1000L, Array(1.0, 0.0))).toDF("qid", "qvec"), cents, k = 3)
        .select(col("qid"), col("rank"), col("id"), col("sim"))
        .as[(Long, Int, Long, Option[Double])].collect().toSet
      assert(got === batch)
      assert(got.exists(r => r._3 == 99L && r._4.isEmpty && r._2 == 3),
        s"zero-norm vector must surface as (rank 3, sim null); got $got")
    } finally q.stop()
  }

  test("k-means centroids: IVF recall at least matches arbitrary centroids") {
    val c0 = Tables.table(spark, sf0, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q0 = Tables.table(spark, sf0, "embeddings")
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val naive = Tables.table(spark, sf0, "embeddings")
      .filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val trained = Similarity.trainCentroids(c0, k = 8)
    assert(trained.count() === 8)
    val exact = Similarity.bruteForceTopK(c0, q0, 1)
      .select("qid", "id").as[(Long, Long)].collect().toMap
    def recall(cents: org.apache.spark.sql.DataFrame): Int = {
      val got = Similarity.ivfTopK(c0, q0, cents, 1)
        .select("qid", "id").as[(Long, Long)].collect().toMap
      exact.count { case (q, n) => got.get(q).contains(n) }
    }
    val (rTrained, rNaive) = (recall(trained), recall(naive))
    assert(rTrained >= rNaive,
      s"k-means IVF recall $rTrained should be >= arbitrary-centroid recall $rNaive")
  }

  // The q34 corpus shape: embeddings ∪ a perturbed copy of every 5th vector,
  // so there are planted near-dup pairs just under cosine 1.0.
  private lazy val plantedCorpus = {
    val base = Tables.table(spark, sf1, "embeddings")
      .select(col("vec_id").as("id"),
        graft.functions.VectorFunctions.toDoubleArray(col("embedding")).as("vec"))
    base.unionAll(base.filter(col("id") % 5 === 0)
      .select((col("id") + 100000L).as("id"),
        transform(col("vec"), (x, i) =>
          when(i === 0, x + 0.1).otherwise(x)).as("vec")))
  }

  test("cosineNearDup (LSH-blocked) returns exactly the all-pairs baseline's pairs") {
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("cos_sim"))).toSet
    val blocked = asSet(Similarity.cosineNearDup(plantedCorpus, 0.98, dim = 64))
    val exact = asSet(Similarity.cosineNearDupExact(plantedCorpus, 0.98))
    assert(blocked.nonEmpty)
    assert(blocked === exact)
    blocked.foreach { case (a, b, s) => assert(a < b && s >= 0.98) }
  }

  test("cosineNearDup plan is blocked: no cartesian product, no nested-loop join") {
    val plan = Similarity.cosineNearDup(plantedCorpus, 0.98, dim = 64)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("native SignBands equals the composed per-plane form") {
    import graft.functions.VectorFunctions.dot
    // the composed reference the fused expression replaced: one dot-product
    // expression per (band, bit), same seeded plane-draw order
    def composed(vec: org.apache.spark.sql.Column, dim: Int, bands: Int,
                 bits: Int, seed: Long): org.apache.spark.sql.Column = {
      val rnd = new scala.util.Random(seed)
      val planes = Array.fill(bands * bits)(Seq.fill(dim)(rnd.nextGaussian()))
      array((0 until bands).map { b =>
        (0 until bits).map { j =>
          val bit = when(dot(vec, typedLit(planes(b * bits + j))) >= 0,
            lit(1)).otherwise(lit(0))
          bit * lit(1 << j)
        }.reduce(_ + _)
      }: _*)
    }
    val rows = plantedCorpus.limit(50)
      .select(col("id"),
        Similarity.signBitBands(col("vec"), 64, 4, 6, seed = 7L).as("native"),
        composed(col("vec"), 64, 4, 6, seed = 7L).as("ref"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Int](1).toList === r.getSeq[Int](2).toList,
        s"band keys diverge for id ${r.get(0)}")
    }
  }
}
