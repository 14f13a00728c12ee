package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Decontaminate, Dedup, DedupPack, DupGroups}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup clusters identical normalized texts") {
    val docs = Seq(
      (1L, "Hello   world"), (2L, "hello world"), (3L, "something else")
    ).toDF("doc_id", "text")
    val out = Dedup.exact(docs).collect()
    assert(out.length === 2)
    val cluster = out.find(_.getAs[Long]("n_copies") == 2L).get
    assert(cluster.getAs[Long]("keeper") === 1L)
  }

  test("minhash LSH finds every injected exact copy") {
    val docs = DedupPack.withCopies(spark, sf0, mod = 2)
    val nDocs = docs.count() / 2
    val pairs = Dedup.minhashLsh(docs, shingleN = 3, numHashes = 16,
      bands = 4, threshold = 0.99)
    // every (d, d+offset) pair must be found with jaccard 1.0
    val copies = pairs
      .filter(col("doc_b") === col("doc_a") + DedupPack.CopyOffset)
      .count()
    assert(copies === nDocs, s"expected $nDocs copy pairs, found $copies")
  }

  test("a doc shorter than shingleN gets no band row and no candidate, batch or stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingNearDup
    val text = "the quick brown fox jumps over the lazy dog"
    val rows = Seq((1L, text), (2L, text), (3L, "too short"), (4L, "too short"))
    val docs = rows.toDF("doc_id", "text")
    // two identical short docs: with a null signature they would share the
    // empty band key and pair up
    val batchBands = Dedup.lshBands(Dedup.signatures(Dedup.shingleSets(docs, 3), 16), 16, 4)
    assert(batchBands.select("doc_id").as[Long].collect().toSet === Set(1L, 2L))
    assert(StreamingNearDup.bandRows(docs, 3, 16, 4)
      .select("doc_id").as[Long].collect().toSet === Set(1L, 2L))
    val pairs = Dedup.minhashLsh(docs, shingleN = 3, numHashes = 16, bands = 4,
      threshold = 0.0).select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = StreamingNearDup.lshCandidates(in.toDF().toDF("doc_id", "text"),
        shingleN = 3, idleTimeout = None)
      .writeStream.format("memory").queryName("neardup_short_batch").start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      assert(spark.table("neardup_short_batch").select("doc_a", "doc_b")
        .as[(Long, Long)].collect().toSet === Set((1L, 2L)))
    } finally q.stop()
  }

  test("simhash of identical docs is identical, hamming 0") {
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "x y z q w e"))
      .toDF("doc_id", "text")
    val sh = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) === sh(2L))
    val d = Seq((sh(1L), sh(3L))).toDF("a", "b")
      .select(Dedup.hamming(col("a"), col("b"))).head().getInt(0)
    assert(d >= 0)
  }

  test("connected components: transitive chains merge, islands stay apart") {
    // chain 1-2-3-4-5 (diameter > 2 exercises multiple propagation rounds),
    // island {10, 11}, and a triangle reached only through one bridge
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L), (22L, 23L))
      .toDF("doc_a", "doc_b")
    val comps = DupGroups.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert((1L to 5L).map(comps) === Seq.fill(5)(1L))
    assert(Seq(10L, 11L).map(comps) === Seq(10L, 10L))
    assert(Seq(20L, 21L, 22L, 23L).map(comps) === Seq.fill(4)(20L))
    val sizes = DupGroups.groupSizes(
      DupGroups.connectedComponents(edges))
      .as[(Long, Long)].collect().toMap
    assert(sizes === Map(1L -> 5L, 10L -> 2L, 20L -> 4L))
  }

  test("decontamination flags n-gram overlap with train, not disjoint eval docs") {
    val train = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val eval = Seq(
      (100L, "watch the quick brown fox jumps today"), // shares one 5-gram
      (101L, "completely disjoint words only here now"),
      (102L, "the quick brown fox jumps over the lazy dog"), // verbatim
      (103L, "too short")) // shorter than one 5-gram
      .toDF("doc_id", "text")
    val out = Decontaminate.overlap(train, eval, n = 5, threshold = 0.5)
      .select("doc_id", "n_hit", "contaminated")
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(100L)._1 === 1 && !out(100L)._2, "one shared 5-gram of three is below 0.5")
    assert(out(101L) === ((0L, false)))
    assert(out(102L)._1 === 5 && out(102L)._2, "verbatim copy is contaminated")
    assert(out(103L) === ((0L, false)))
  }

  test("bloom sketch: no false negatives, bounded false positives, layout-independent") {
    import org.apache.spark.sql.functions._
    val members = (1 to 400).map(i => s"member-$i")
    val nonMembers = (1 to 2000).map(i => s"other-$i")
    val build = members.toDF("h")
    def sketchOf(df: org.apache.spark.sql.DataFrame) =
      df.agg(expr("graft_bloom_agg(h, 65536, 0.01d)").as("bloom"))
    val sketch = sketchOf(build)
    val probes = (members ++ nonMembers).toDF("item")
      .crossJoin(sketch)
      .select(col("item"), expr("graft_bloom_probe(bloom, item)").as("hit"))
      .as[(String, Boolean)].collect().toMap
    members.foreach(m => assert(probes(m), s"false negative on $m breaks the Bloom contract"))
    val fp = nonMembers.count(probes(_))
    assert(fp <= 40, s"$fp false positives of 2000 exceeds 2x the 1% design fpp")
    // partial-buffer merge (repartition forces multi-partition build) must
    // produce the identical bitmap: merging is a bitwise OR
    val merged = sketchOf(build.repartition(7)).head().getAs[Array[Byte]](0)
    val single = sketch.head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(merged, single),
      "bloom bitmap must be independent of partitioning")
    // bad parameters fail at ANALYSIS with the function's name, not deep
    // inside executor buffer creation
    val bad = intercept[Exception] {
      build.agg(expr("graft_bloom_agg(h, 0, 0.01d)")).head()
    }
    assert(bad.getMessage.contains("capacity must be positive"), bad.getMessage)
    val badFpp = intercept[Exception] {
      build.agg(expr("graft_bloom_agg(h, 100, 1.5d)")).head()
    }
    assert(badFpp.getMessage.contains("fpp must be in (0, 1)"), badFpp.getMessage)
  }

  test("jaccard is exact on a hand-checked pair") {
    val docs = Seq(
      (1L, "a b c d"),   // shingles: "a b c", "b c d"
      (2L, "a b c e")    // shingles: "a b c", "b c e"
    ).toDF("doc_id", "text")
    val sets = Dedup.shingleSets(docs, 3)
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val j = Dedup.jaccard(pairs, sets).head().getAs[Double]("jaccard")
    assert(math.abs(j - 1.0 / 3.0) < 1e-12) // 1 shared of 3 distinct
  }

  /** The candidate verify in its join form: explode the sets, join each
    * pair's (doc_b, sh) rows, count per pair, then join both set sizes.
    * The reference that the row-local [[Dedup.jaccard]] must equal. */
  private def joinFormJaccard(pairs: DataFrame, sets: DataFrame): DataFrame = {
    val sh = Dedup.shingleRows(sets)
    val shared = pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("sh")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    Dedup.withSetSizes(shared, Dedup.setSizes(sh))
      .withColumn("jaccard", Dedup.jaccardRatio)
  }

  test("row-local jaccard equals the join form on seeded random sets") {
    val rnd = new scala.util.Random(42)
    val vocab = (1 to 24).map(i => s"s$i")
    // doc 0 has an empty set; docs 1 and 2 are disjoint; the rest draw
    // distinct random subsets of a small vocabulary, so most pairs overlap
    val sets = (Seq(0L -> Seq.empty[String], 1L -> Seq("s1", "s2", "s3"),
        2L -> Seq("s4", "s5")) ++
      (3L until 60L).map(id =>
        id -> rnd.shuffle(vocab).take(1 + rnd.nextInt(10))))
      .toDF("doc_id", "shs")
    val ids = 0L until 60L
    val pairs = (for (a <- ids; b <- ids if a < b && rnd.nextInt(3) > 0)
      yield (a, b)) ++ Seq((0L, 5L), (1L, 2L))
    val pairDf = pairs.distinct.toDF("doc_a", "doc_b")
    def rows(df: DataFrame) =
      df.select("doc_a", "doc_b", "n_shared", "n_a", "n_b", "jaccard")
        .as[(Long, Long, Long, Long, Long, Double)].collect()
        .sortBy(r => (r._1, r._2)).toSeq
    val rowLocal = rows(Dedup.jaccard(pairDf, sets))
    assert(rowLocal === rows(joinFormJaccard(pairDf, sets)))
    assert(rowLocal.size > 100, "the random sets must give many overlapping pairs")
    val keys = rowLocal.map(r => (r._1, r._2)).toSet
    assert(!keys.contains((1L, 2L)), "a pair with no shared shingle is absent")
    assert(!keys.exists(k => k._1 == 0L), "a document with an empty set pairs with nothing")
  }

  test("prefixFilterJaccard equals the exact all-pairs threshold join") {
    // near-dup pair, a partial overlap below threshold, and an unrelated
    // doc sharing a STOP-shingle with everyone (the prefix should skip it)
    val docs = Seq(
      (1L, "the common run alpha beta gamma delta"),
      (2L, "the common run alpha beta gamma echo"),
      (3L, "the common run zulu yankee xray whiskey"),
      (4L, "the common run only")
    ).toDF("doc_id", "text")
    val sh = Dedup.shingles(docs, 3)
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val fast = Dedup.prefixFilterJaccard(sh, t)
        .select("doc_a", "doc_b", "jaccard")
        .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2)).toSeq
      val exact = Dedup.allPairsJaccard(sh)
        .filter(col("jaccard") >= t)
        .select("doc_a", "doc_b", "jaccard")
        .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2)).toSeq
      assert(fast === exact, s"threshold $t")
    }
  }

  test("prefix filtering actually prunes: fewer candidates than shared-shingle pairs") {
    // 10 docs all sharing one hot shingle; only 2 are near-dups
    val docs = ((1L to 8L).map(i =>
      (i, s"zz hot shingle unique$i tail$i more$i")) ++
      Seq((20L, "aa bb cc dd ee ff"), (21L, "aa bb cc dd ee gg")))
      .toDF("doc_id", "text")
    val sh = Dedup.shingles(docs, 3)
    val out = Dedup.prefixFilterJaccard(sh, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(out === Set((20L, 21L)))
  }
}
