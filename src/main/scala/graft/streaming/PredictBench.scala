package graft.streaming

import java.io.{BufferedWriter, FileWriter}

import scala.util.Random

/** Random-workload latency benches over the served model — the Spark twin
  * of the reference's query clients (SURVEY.md §5):
  *
  *  - [[alsRandom]]: N random (user, item) pair predictions
  *    (ALSPredictRandom.java:55-107)
  *  - [[svmRandom]]: N random sparse vectors, ≥10% feature density
  *    (SVMPredictRandom.java:54-99)
  *  - [[svmBucketed]]: same workload issued per `featureId/range` bucket
  *    through [[PredictService.predictBucketed]]
  *    (RangePartitionSVMPredict.java:55-124)
  *  - [[writeCsv]]: the per-query latency CSV the reference clients emit
  *    (S12; ALSPredictRandom.java:94-97)
  *
  * These only generate the workload, time [[PredictService]]'s calls and
  * write the CSV; they measure the SERVING path (in-process store reads).
  * The batch path — the same predictions as joins — is benched by
  * Bench.scala's q09/q10.
  */
object PredictBench {

  case class QueryStat(queryId: Int, lookups: Int, found: Boolean,
                       prediction: Double, latencyMicros: Double)

  /** N random ALS pair predictions; missing pairs count as not-found
    * (the reference's decrement-and-retry is workload shaping, not
    * semantics — we record the miss instead). */
  def alsRandom(store: ServingStore.FactorStore, n: Int,
                numUsers: Int, numItems: Int, seed: Long = 42L): Seq[QueryStat] = {
    val svc = new PredictService(store)
    val rnd = new Random(seed)
    (1 to n).map { i =>
      val u = rnd.nextInt(numUsers) + 1L
      val it = rnd.nextInt(numItems) + 1L
      val t0 = System.nanoTime()
      val p = svc.predictPair(u, it)
      QueryStat(i, 2, p.isDefined, p.getOrElse(Double.NaN),
        (System.nanoTime() - t0) / 1e3)
    }
  }

  /** N random sparse SVM predictions, one store lookup per feature. */
  def svmRandom(store: ServingStore.FactorStore, n: Int,
                maxFeatures: Int, numFeatures: Int,
                seed: Long = 42L): Seq[QueryStat] =
    sparse(n, maxFeatures, numFeatures, seed, _.size)(
      new PredictService(store).predictSparse)

  /** The bucketed variant: the same sparse workload, predicted by
    * [[PredictService.predictBucketed]] against a bucket-keyed store. */
  def svmBucketed(bucketStore: ServingStore.FactorStore, n: Int,
                  maxFeatures: Int, numFeatures: Int, range: Int,
                  seed: Long = 42L): Seq[QueryStat] =
    sparse(n, maxFeatures, numFeatures, seed, _.keySet.map(_ / range).size)(
      new PredictService(bucketStore).predictBucketed(_, range))

  /** `n` seeded random sparse vectors — feature count uniform in [10% of
    * max, max], ids in [1, numFeatures], values in [-1, 1) — each timed
    * through `predict`. */
  private def sparse(n: Int, maxFeatures: Int, numFeatures: Int, seed: Long,
                     lookups: Map[Long, Double] => Int)(
      predict: Map[Long, Double] => Double): Seq[QueryStat] = {
    val rnd = new Random(seed)
    val minFeatures = math.max(1, maxFeatures / 10)
    (1 to n).map { i =>
      val feats = Seq.fill(minFeatures + rnd.nextInt(maxFeatures - minFeatures + 1))(
        (rnd.nextInt(numFeatures) + 1L, rnd.nextDouble() * 2 - 1)).toMap
      val t0 = System.nanoTime()
      val p = predict(feats)
      val micros = (System.nanoTime() - t0) / 1e3
      QueryStat(i, lookups(feats), found = true, p, micros)
    }
  }

  /** S12: the reference clients' per-query latency CSV. Locale.ROOT keeps
    * the decimal separator a dot regardless of the JVM default (a
    * comma-decimal locale would corrupt the CSV). */
  def writeCsv(path: String, stats: Seq[QueryStat]): Unit = {
    val w = new BufferedWriter(new FileWriter(path))
    try {
      w.write("query_id,lookups,found,prediction,latency_micros\n")
      stats.foreach { s =>
        w.write(String.format(java.util.Locale.ROOT, "%d,%d,%b,%.6f,%.1f%n",
          Int.box(s.queryId), Int.box(s.lookups), Boolean.box(s.found),
          Double.box(s.prediction), Double.box(s.latencyMicros)))
      }
    } finally w.close()
  }

  def summary(stats: Seq[QueryStat]): String = {
    if (stats.isEmpty) return """{"queries":0,"found":0,"p50_us":0.0,"p99_us":0.0}"""
    val l = stats.map(_.latencyMicros).sorted
    val p = (q: Double) => l(math.min(l.size - 1, (q * l.size).toInt))
    String.format(java.util.Locale.ROOT,
      """{"queries":%d,"found":%d,"p50_us":%.1f,"p99_us":%.1f}""",
      Int.box(l.size), Int.box(stats.count(_.found)),
      Double.box(p(0.5)), Double.box(p(0.99)))
  }
}
