package graft.streaming

import graft.operators.ModelCodec.{Bucket, Item, MeanI, MeanU, User, Weight, key}

/** Point-prediction against the served model — the Spark analog of the
  * reference's query clients (SURVEY.md §2.3 J1/J4/J5).
  *
  * Reference: ALSPredict.java:65-83 fetches `"user-U"` and `"item-I"` state
  * and dot-products; SVMPredict.java:63-85 fetches one weight per feature
  * and accumulates; RangePartitionSVMPredict.java:56-106 amortizes lookups
  * per `featureId/range` bucket. Missing keys are `Optional.empty`
  * (QueryClientHelper.java:135-137); an absent user or item falls back to
  * that side's served MEAN row (SGD.java:144-147), the same per-side rule
  * as [[graft.operators.AlsScoring.predictions]] in the SGD and MSE loops.
  *
  * Here the store is in-process, so a "point query" is a map read; the
  * *batch* form of the same semantics is a broadcast join
  * (graft.operators.AlsScoring) — at scale the joins are the hot path and
  * this class is the interactive/serving face.
  */
final class PredictService(store: ServingStore.FactorStore) {

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** J5: ALS pair prediction. None iff a side is absent and that side's
    * MEAN row is not served. The MEAN row is read only on a miss. */
  def predictPair(userId: Long, itemId: Long): Option[Double] = {
    val u = store.get(key(userId, User)).orElse(store.get(MeanU))
    val i = store.get(key(itemId, Item)).orElse(store.get(MeanI))
    for (uv <- u; iv <- i) yield dot(uv, iv)
  }

  /** A6: SVM sparse prediction Σ w_f * x_f over (featureId -> value) pairs;
    * absent features contribute 0 (the reference skips them too). Weights
    * live under key "fid-W" with a 1-element factor array. */
  def predictSparse(features: Map[Long, Double]): Double =
    features.iterator.map { case (fid, x) =>
      store.get(key(fid, Weight)).map(_.head * x).getOrElse(0.0)
    }.sum

  /** J4: [[predictSparse]] over a bucket-keyed store
    * ([[graft.operators.SvmPack.bucketedStore]]), one lookup per
    * `featureId / range` bucket (RangePartitionSVMPredict.java:56-106).
    * Absent buckets and offsets contribute 0. */
  def predictBucketed(features: Map[Long, Double], range: Int): Double =
    features.groupBy { case (fid, _) => fid / range }.iterator.map {
      case (bucket, fs) => store.get(key(bucket, Bucket)).fold(0.0) { w =>
        fs.iterator.map { case (fid, x) =>
          val off = (fid % range).toInt
          if (off < w.length) w(off) * x else 0.0
        }.sum
      }
    }.sum

  /** Signed class decision, threshold 0 (SVMPredict.java:80-85). */
  def classify(features: Map[Long, Double]): Int =
    if (predictSparse(features) >= 0) 1 else -1
}
