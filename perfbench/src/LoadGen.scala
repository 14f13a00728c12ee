package perfbench

import java.util.concurrent.locks.LockSupport

import graft.streaming.PredictService

/** A pool of prediction requests drawn from the run's seed before any timing
  * starts: 80% ALS pairs (user, item), 20% sparse SVM vectors. The program
  * only ever receives these requests. */
final class Requests(val isPair: Array[Boolean], val user: Array[Long],
                     val item: Array[Long], val sparse: Array[Map[Long, Double]]) {
  def size: Int = isPair.length
}

object Requests {
  def draw(seed: Long, n: Int, pairs: IndexedSeq[(Long, Long)],
           vectors: IndexedSeq[Map[Long, Double]]): Requests = {
    val rnd = new scala.util.Random(seed)
    val isPair = Array.fill(n)(rnd.nextDouble() < 0.8)
    val user, item = new Array[Long](n)
    val sparse = new Array[Map[Long, Double]](n)
    for (i <- 0 until n) {
      if (isPair(i)) {
        val (u, it) = pairs(rnd.nextInt(pairs.size))
        user(i) = u; item(i) = it
      } else sparse(i) = vectors(rnd.nextInt(vectors.size))
    }
    new Requests(isPair, user, item, sparse)
  }
}

/** What one generator run saw. Latency counts from each request's due
  * time, so a stall also delays the requests queued behind it. */
final class LoadResult(val latencyNs: Array[Long], val serviceNs: Array[Long],
                       val schedLateNs: Array[Long], val sent: Int,
                       val failed: Int, val mismatches: Int, val lookups: Long,
                       val notFound: Long, val firstMismatch: String)

/** Open-loop load generator: request i is due at start + i / rate. It parks
  * until ~100 µs before the due time, then spins, sends, and measures. A
  * late generator sends at once; it never waits for the program. */
final class LoadGen(svc: PredictService, view: ReadView, req: Requests,
                    rate: Double, tracer: Tracer) {
  private val periodNs = (1e9 / rate).toLong
  @volatile var stopRequested = false

  /** Send `limit` requests (or until [[stopRequested]]); every prediction
    * is checked against the vectors its own call read, and every 100th is
    * a span when tracing. */
  def run(limit: Int): LoadResult = {
    val lat, svcNs, late = new Array[Long](limit)
    var failed, mismatches = 0
    var lookups, notFound = 0L
    var firstMismatch = ""
    val start = System.nanoTime() + 1000000L
    var i = 0
    while (i < limit && !stopRequested) {
      val due = start + i * periodNs
      val wait = due - System.nanoTime()
      if (wait > 150000L) LockSupport.parkNanos(wait - 100000L)
      while (System.nanoTime() < due) Thread.onSpinWait()
      val k = i % req.size
      view.reset()
      val t0 = System.nanoTime()
      var ok = true
      var got = 0.0
      try {
        if (req.isPair(k)) {
          val p = svc.predictPair(req.user(k), req.item(k))
          if (p.isEmpty) ok = false else got = p.get
        } else got = svc.predictSparse(req.sparse(k))
      } catch { case _: Exception => ok = false }
      val t1 = System.nanoTime()
      lat(i) = t1 - due; svcNs(i) = t1 - t0; late(i) = t0 - due
      lookups += view.n
      var j = 0
      while (j < view.n) { if (view.seen(j) == null) notFound += 1; j += 1 }
      if (!ok) failed += 1
      else if (got != expected(k)) {
        mismatches += 1
        if (firstMismatch.isEmpty) firstMismatch = s"request $i: got $got, expected ${expected(k)}"
      }
      if (tracer.on && i % 100 == 0)
        tracer.add(tracer.newId(), 0L, "predict", s"req$i", t0, t1)
      i += 1
    }
    new LoadResult(java.util.Arrays.copyOf(lat, i), java.util.Arrays.copyOf(svcNs, i),
      java.util.Arrays.copyOf(late, i), i, failed, mismatches, lookups, notFound,
      firstMismatch)
  }

  /** The prediction recomputed from the exact arrays the call read, in the
    * order PredictService reads and sums them. */
  private def expected(k: Int): Double =
    if (req.isPair(k)) {
      val u = view.seen(0); val v = view.seen(1)
      var acc = 0.0
      var j = 0
      while (j < math.min(u.length, v.length)) { acc += u(j) * v(j); j += 1 }
      acc
    } else {
      var acc = 0.0
      var j = 0
      req.sparse(k).foreach { case (_, x) =>
        val w = view.seen(j)
        acc += (if (w == null) 0.0 else w(0) * x)
        j += 1
      }
      acc
    }
}
