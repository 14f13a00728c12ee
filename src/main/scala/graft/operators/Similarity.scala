package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two strategies:
  *  - [[bruteForceTopK]]: exact top-k by cosine — the correctness baseline.
  *    Query side broadcast; corpus side never shuffles until the final
  *    per-query rank (rows = |corpus| × |queries|, partitioned by query).
  *  - [[ivfTopK]]: IVF-style bucketing — corpus and queries are assigned to
  *    their nearest centroid, and search only touches the query's bucket.
  *    At 100 TB this turns full scans into bucket-pruned scans; with the
  *    corpus written partitioned-by-centroid the pruning happens at the
  *    file-scan level.
  *
  * Pair-scan cost discipline: the FLOAT→DOUBLE cast and the squared norm of
  * every vector are computed ONCE per row before any pair join; the
  * per-pair work is a single codegen dot product + one divide. The
  * arithmetic (dot/(sqrt(n2a)·sqrt(n2b))) is exactly the composed cosine the
  * oracles compute — only hoisted.
  *
  * Ranking ties are broken on (rounded sim DESC, id ASC) so results are
  * deterministic and stable across engines (1-ulp float differences can't
  * reorder ranks).
  *
  * Input contracts: corpus(id LONG, vec ARRAY<FLOAT|DOUBLE>),
  * queries(qid LONG, qvec), centroids(cid LONG, cvec).
  */
object Similarity {

  /** Project (id, vec, …) → (id, vec cast to ARRAY<DOUBLE>, n2 = Σv², …),
    * renaming the three to `<name><suffix>` to avoid collisions after
    * self-joins. Every other column rides along unchanged (a label, say). */
  private def prepped(df: DataFrame, idCol: String, vecCol: String,
                      suffix: String): DataFrame = {
    val v = toDoubleArray(col(vecCol))
    df.select(Seq(col(idCol).as(s"id$suffix"), v.as(s"vec$suffix"),
        sqNorm(v).as(s"n2$suffix")) ++
      df.columns.filterNot(c => c == idCol || c == vecCol).map(col): _*)
  }

  /** Spread a narrow scan across the session's cores before a FLOP-bound
    * broadcast cross join — BroadcastNestedLoopJoin inherits the STREAM
    * side's partitioning (measured: q240's two kNN passes each ran as a
    * 1-task 1.8–2.1 s stage on a 32-core session). See
    * [[graft.plans.Spread]] for the guard's full rationale. */
  private def spread(df: DataFrame): DataFrame = graft.plans.Spread(df)

  /** Cosine from precomputed sides — one dot per pair. A zero-norm vector
    * has no defined cosine: null (ranked last, never "similar") instead of
    * an ANSI division error killing the scan. */
  private def pairSim(sa: String, sb: String) =
    cosineRound4(col(s"vec$sa"), col(s"n2$sa"), col(s"vec$sb"), col(s"n2$sb"))

  /** THE candidate scorer of every search operator here: paired corpus
    * (`_c`) and query (`_q`) [[prepped]] rows → (qid, id, sim, extra…),
    * dropping self-pairs and pairs failing `keep` (hard negatives pass
    * their label mismatch). */
  private def score(pairs: DataFrame, keep: Column = lit(true),
                    extra: Seq[Column] = Nil): DataFrame =
    pairs.filter(col("id_c") =!= col("id_q") && keep)
      .select(Seq(col("id_q").as("qid"), col("id_c").as("id"),
        pairSim("_c", "_q").as("sim")) ++ extra: _*)

  /** Per-query top-k of scored (qid, id, sim, …) rows, ranked (sim DESC,
    * id ASC) into a 1-based `rank` column — the one ranking window every
    * search operator here ends in. */
  def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Exact top-k neighbors per query by cosine similarity. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = spread(prepped(corpus, "id", "vec", "_c"))
    val q = prepped(queries, "qid", "qvec", "_q")
    topK(score(c.crossJoin(broadcast(q))), k)
  }

  /** Hard-negative mining for contrastive training: per query, the top-k
    * highest-cosine corpus vectors with a DIFFERENT label — the "closest
    * wrong answers" a retrieval/embedding model trains against (in-batch
    * random negatives are too easy; these are the pairs that move the
    * loss). Inputs carry labels: corpus (id, vec, label), queries (qid,
    * qvec, qlabel). Exact form — query side broadcast, corpus scanned
    * once, top-k per query via rank window over only the label-mismatched
    * pairs. At 100 TB the corpus side swaps to the IVF index (q36's
    * operator) exactly like the ANN queries; this exact form is also the
    * recall oracle for that swap. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = spread(prepped(corpus, "id", "vec", "_c"))
    val q = prepped(queries, "qid", "qvec", "_q")
    topK(score(c.crossJoin(broadcast(q)), col("label") =!= col("qlabel")), k)
  }

  /** The K centroids (cid, cvec) folded into ONE row, `cs` =
    * ARRAY<STRUCT<cid, cvec ARRAY<DOUBLE>, n2>>: the broadcast operand of
    * [[nearestCentroid]], shared by [[assign]] and the k-means Lloyd
    * round. */
  def centroidRow(centroids: DataFrame): DataFrame = {
    val v = toDoubleArray(col("cvec"))
    centroids.agg(collect_list(
      struct(col("cid"), v.as("cvec"), sqNorm(v).as("n2"))).as("cs"))
  }

  /** The nearest centroid's `cid` for one row (vec, n2 = Σv²), scanning an
    * ARRAY<STRUCT<cid, cvec, n2>>: `array_max` over per-centroid
    * (sim, -cid, cid) structs — no aggregation, no shuffle. Ties break on
    * (rounded sim DESC, cid ASC); a zero-norm or null vector has sim null
    * for every centroid and falls to the smallest cid via the -2.0 floor
    * (never "closest"). An empty array gives a null cid. */
  def nearestCentroid(vec: Column, n2: Column, centroids: Column): Column =
    array_max(transform(centroids, c => struct(
      coalesce(cosineRound4(vec, n2, c.getField("cvec"), c.getField("n2")),
        lit(-2.0)).as("s"),
      negate(c.getField("cid")).as("nid"), c.getField("cid").as("cid"))))
      .getField("cid")

  /** [[prepped]] rows bucketed: each row of `df` gains its nearest
    * centroid's `cid`. Row-local — the centroids ride as ONE broadcast
    * [[centroidRow]], so no corpus-sized exchange, and every carried
    * column (a label) travels through the assignment. */
  private def buckets(df: DataFrame, centroids: DataFrame, idCol: String,
                      vecCol: String, suffix: String): DataFrame =
    spread(prepped(df, idCol, vecCol, suffix))
      .crossJoin(broadcast(centroidRow(centroids)))
      .withColumn("cid", nearestCentroid(col(s"vec$suffix"),
        col(s"n2$suffix"), col("cs")))
      .drop("cs")

  private def unsuffixed(df: DataFrame, idCol: String, vecCol: String) =
    df.withColumnsRenamed(
      Map("id_d" -> idCol, "vec_d" -> vecCol, "n2_d" -> "n2"))

  /** Assign each row to its highest-cosine centroid: (id, vec ARRAY<DOUBLE>,
    * n2, …, cid), one output row per input row, every other input column
    * carried between n2 and cid. Tie and null semantics are
    * [[nearestCentroid]]'s. */
  def assign(data: DataFrame, centroids: DataFrame,
             idCol: String, vecCol: String): DataFrame =
    unsuffixed(buckets(data, centroids, idCol, vecCol, "_d"), idCol, vecCol)

  /** Scan-stage centroid assignment for STREAMING/serve paths: the same
    * row-local [[nearestCentroid]] as [[assign]], with the centroids riding
    * the plan as a literal array (there are few — the IVF codebook), so
    * no join at all — legal in any streaming plan. */
  def assignScan(data: DataFrame, centroidsLocal: Seq[(Long, Array[Double])],
                 idCol: String, vecCol: String): DataFrame = {
    require(centroidsLocal.nonEmpty, "need at least one centroid")
    val cs = array(centroidsLocal.map { case (cid, cvec) =>
      struct(lit(cid).as("cid"), lit(cvec).as("cvec"),
        lit(cvec.map(x => x * x).sum).as("n2"))
    }: _*)
    unsuffixed(prepped(data, idCol, vecCol, "_d").withColumn("cid",
      nearestCentroid(col("vec_d"), col("n2_d"), cs)), idCol, vecCol)
  }

  /** IVF top-k: search only the query's centroid bucket. Trades recall for
    * a |corpus|/|buckets| reduction in scored pairs. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
              k: Int): DataFrame = {
    val corpusB = buckets(corpus, centroids, "id", "vec", "_c")
    val queriesB = buckets(queries, centroids, "qid", "qvec", "_q")
    // query side is always ≪ corpus: broadcast it so the corpus never
    // shuffles on cid (the assigned side's stats are unknown to Catalyst,
    // which would otherwise pick a sort-merge join)
    topK(score(broadcast(queriesB).join(corpusB, "cid")), k)
  }

  /** Multi-probe IVF search — THE recall/latency knob of an IVF index:
    * each query probes its top-`nprobe` centroids instead of one, so
    * recall climbs toward exact while cost grows only with the probe
    * count (the corpus layout is untouched: every vector still lives in
    * exactly one rank-1 bucket, so probed candidate sets are disjoint
    * and need no dedup). nprobe = 1 degenerates to [[ivfTopK]] exactly;
    * tie semantics ((sim desc, cid) on probes, (sim desc, id) on
    * results) match the single-probe path. */
  def ivfTopKMultiProbe(corpus: DataFrame, queries: DataFrame,
                        centroids: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val scored = ivfMultiProbeScored(corpus, queries, centroids, nprobe)
    topK(scored.select(col("qid"), col("id"), col("sim")), k)
  }

  /** Multi-probe IVF scoring WITHOUT the final top-k cut: every candidate
    * in the query's `nprobe` nearest buckets, scored, tagged with the
    * bucket's probe rank. Because probe sets NEST (the np nearest buckets
    * are the first np of the nprobe nearest), one corpus assignment + one
    * scoring join serve every probe level ≤ nprobe: level np's exact
    * [[ivfTopKMultiProbe]] result is `probe_rank <= np` + the same
    * (sim desc, id) rank window. q223's sweep composes all its levels
    * from one pass instead of re-assigning and re-scoring the corpus per
    * level (guide §1.2: remove duplicate passes). */
  def ivfMultiProbeScored(corpus: DataFrame, queries: DataFrame,
                          centroids: DataFrame, nprobe: Int): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val corpusB = buckets(corpus, centroids, "id", "vec", "_c")
    val q = prepped(queries, "qid", "qvec", "_q")
    val c = prepped(centroids, "cid", "cvec", "_k")
    // the probe ranking window partitions by query id over a broadcast-
    // sized frame (queries × centroids) — request-sized, never corpus
    val wProbe = Window.partitionBy(col("id_q"))
      .orderBy(coalesce(pairSim("_q", "_k"), lit(-2.0)).desc, col("id_k"))
    val probes = q.crossJoin(broadcast(c))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("id_q"), col("vec_q"), col("n2_q"),
        col("id_k").as("cid"), col("rn").as("probe_rank"))
    score(broadcast(probes).join(corpusB, "cid"),
      extra = Seq(col("probe_rank")))
  }

  /** The 100 TB path for [[hardNegatives]]: search only the query's IVF
    * bucket (the q36 layout) and exclude same-label members there — the
    * label column simply travels with the index rows, so the bucket scan
    * costs the same as plain IVF search. Inputs: corpus (id, vec, label),
    * queries (qid, qvec, qlabel), centroids (cid, cvec). Assignment is
    * row-local, so the labels ride through it beside cid — exactly what
    * an [[ivfWrite]] index of a labeled corpus stores. */
  def ivfHardNegatives(corpus: DataFrame, queries: DataFrame,
                       centroids: DataFrame, k: Int): DataFrame = {
    val corpusB = buckets(corpus, centroids, "id", "vec", "_c")
    val queriesB = buckets(queries, centroids, "qid", "qvec", "_q")
    topK(score(broadcast(queriesB).join(corpusB, "cid"),
      col("label") =!= col("qlabel")), k)
  }

  /** Train IVF centroids with k-means (seeded) — real centroids instead of
    * arbitrary sample vectors; returns (cid, cvec) in the [[assign]]
    * contract. At 100 TB the fit runs on a sample; assignment of the full
    * corpus stays row-local against the broadcast centroid row. */
  def trainCentroids(corpus: DataFrame, k: Int, seed: Long = 42L,
                     maxIter: Int = 20): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val feats = corpus.select(
      array_to_vector(toDoubleArray(col("vec"))).as("features"))
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
      .fit(feats)
    val spark = corpus.sparkSession
    import spark.implicits._
    model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i.toLong, c.toArray) }
      .toDF("cid", "cvec")
  }

  /** Materialize the IVF index: corpus assigned to centroids, written
    * partitioned by centroid id. At 100 TB this is the layout that turns
    * ANN search into a file-pruned scan — a query touches only its
    * bucket's files, enforced by the scan, not the executor. */
  def ivfWrite(corpus: DataFrame, centroids: DataFrame, path: String): Unit =
    assign(corpus, centroids, "id", "vec")
      .write.mode("overwrite").partitionBy("cid").parquet(path)

  /** Incrementally add vectors to a materialized IVF index: assign ONLY
    * the new batch (the existing index is untouched data-wise) and append
    * its rows into their centroid partitions. At 100 TB this is the
    * difference between re-writing the whole index per ingest batch and
    * touching just the partitions the batch lands in — the appended files
    * join the per-cid directories, so [[ivfSearchIndexed]]'s partition
    * pruning keeps working unchanged. Centroids must be the ones the
    * index was built with (a drifted codebook needs a rebuild, not an
    * append — same contract as every IVF implementation). */
  def ivfAppend(newVecs: DataFrame, centroids: DataFrame, path: String): Unit =
    assign(newVecs, centroids, "id", "vec")
      .write.mode("append").partitionBy("cid").parquet(path)

  /** Search a materialized IVF index: queries are assigned to centroids,
    * then joined against the index on the PARTITION column — dynamic
    * partition pruning limits the scan to the queried buckets. */
  def ivfSearchIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                       queries: DataFrame, centroids: DataFrame, k: Int): DataFrame = {
    val corpusB = spark.read.parquet(path)
      .select(col("cid"), col("id").as("id_c"),
        toDoubleArray(col("vec")).as("vec_c"), col("n2").as("n2_c"))
    val queriesB = buckets(queries, centroids, "qid", "qvec", "_q")
    topK(score(corpusB.join(broadcast(queriesB), "cid")), k)
  }

  /** ANN via spark.ml BucketedRandomProjectionLSH: hash vectors into
    * random-hyperplane buckets, join within buckets. The third strategy
    * next to brute force (exact) and IVF (centroid-pruned); seeded, so
    * deterministic, but not SQL-expressible → rows-only check + recall
    * assertion in SimilaritySpec. Euclidean-bucketed: candidates are
    * re-scored with exact cosine and re-ranked.
    *
    * The spark.ml MODEL supplies the hash tables, but the candidate join
    * is declarative rather than `approxSimilarityJoin`: that helper
    * row-deduplicates pairs WITH both vector structs in the shuffle key
    * and charges an interpreted euclidean-distance UDF this operator then
    * discards. Here each side explodes its (table, bucket) keys, the
    * equi-join collides them, the codegen cosine runs map-side, and the
    * per-(query, candidate) dedup shuffles only (qid, id, sim). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              bucketLength: Double = 2.0, numTables: Int = 3,
              seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val c = prepped(corpus, "id", "vec", "_c")
      .withColumn("features", array_to_vector(col("vec_c")))
    val q = prepped(queries, "qid", "qvec", "_q")
      .withColumn("features", array_to_vector(col("vec_q")))
    val model = new BucketedRandomProjectionLSH()
      .setBucketLength(bucketLength).setNumHashTables(numTables).setSeed(seed)
      .setInputCol("features").setOutputCol("hashes")
      .fit(c)
    // (table index, bucket id) per row per hash table; BRP emits one hash
    // value per table as a length-1 vector
    def banded(df: DataFrame, suffix: String) =
      model.transform(df)
        .select(col(s"id$suffix"), col(s"vec$suffix"), col(s"n2$suffix"),
          posexplode(col("hashes")).as(Seq("table", "_h")))
        .withColumn("bucket", vector_to_array(col("_h")).getItem(0))
        .drop("_h")
    val pairs = score(banded(c, "_c").join(banded(q, "_q"), Seq("table", "bucket")))
      // a pair colliding in several tables appears once per table; partial
      // aggregation dedups map-side, and the exchange carries 3 scalars
      .groupBy(col("qid"), col("id")).agg(first(col("sim")).as("sim"))
    topK(pairs, k)
  }

  /** All pairs (a < b) with cosine ≥ threshold by brute force — the O(n²)
    * exact baseline, kept ONLY as the recall reference for
    * [[cosineNearDup]] (SimilaritySpec asserts the blocked operator
    * returns identical pairs). Not wired to any driver query: a cartesian
    * product is exactly what a 100 TB dedup must never run. */
  def cosineNearDupExact(corpus: DataFrame, threshold: Double): DataFrame = {
    val l = prepped(corpus, "id", "vec", "_a")
    val r = prepped(corpus, "id", "vec", "_b")
    l.crossJoin(r)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), pairSim("_a", "_b").as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Per-row random-hyperplane band keys: `bands` keys, each packing
    * `bitsPerBand` sign bits of seeded Gaussian projections. Two vectors at
    * angle θ agree on one bit with probability 1−θ/π, so near-dup pairs
    * collide in at least one band w.h.p. — at cosine ≥ 0.98 (θ ≤ 0.2 rad,
    * 16 bands × 8 bits) the miss probability per true pair is < 1e-6, and
    * for the ~1.0-cosine pairs an embedding dedup actually targets it is
    * < 1e-20. Deterministic: hyperplanes derive from `seed` only.
    *
    * One fused native expression (see
    * [[graft.functions.expressions.SignBands]]): the previous composed form
    * built 128 separate dot-product expressions in a single Project, which
    * fell out of whole-stage codegen on size and re-read the vector once
    * per plane — it alone made q34 the slowest bench query. */
  def signBitBands(vec: Column, dim: Int, bands: Int = 16,
                   bitsPerBand: Int = 8, seed: Long = 42L): Column = {
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    column(graft.functions.expressions.SignBands(
      Cast(expression(vec), ArrayType(DoubleType)), dim, bands, bitsPerBand, seed))
  }

  /** All pairs (a < b) with cosine ≥ threshold — embedding near-dup, the
    * 100 TB shape: LSH band-bucket candidate generation (an EQUI-join on
    * (band, key), never a cartesian product) + exact cosine verification
    * of candidates only. Same output as [[cosineNearDupExact]] (w.h.p. per
    * [[signBitBands]]; SimilaritySpec compares them exactly), cost bounded
    * by band-bucket collisions instead of n². At real scale the signature
    * projection would be materialized once; here the corpus re-scan is
    * three cheap columnar reads. */
  def cosineNearDup(corpus: DataFrame, threshold: Double, dim: Int,
                    bands: Int = 16, bitsPerBand: Int = 8,
                    seed: Long = 42L): DataFrame = {
    val p = spread(prepped(corpus, "id", "vec", ""))
    val bandRows = p
      .select(col("id"), posexplode(
        signBitBands(col("vec"), dim, bands, bitsPerBand, seed))
        .as(Seq("band", "bkey")))
    val l = bandRows.select(col("band"), col("bkey"), col("id").as("id_a"))
    val r = bandRows.select(col("band"), col("bkey"), col("id").as("id_b"))
    val cand = l.join(r, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val a = p.select(col("id").as("id_a"), col("vec").as("vec_a"), col("n2").as("n2_a"))
    val b = p.select(col("id").as("id_b"), col("vec").as("vec_b"), col("n2").as("n2_b"))
    cand.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"), pairSim("_a", "_b").as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }
}
