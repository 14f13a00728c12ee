package graft.streaming

import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.streaming.StreamingQuery

/** Fixed-delay restart supervision for streaming queries — the Spark face
  * of the reference's restart strategy (als-ms/ALSKafkaConsumer.java:48-51:
  * `fixedDelayRestart(3 attempts, 10 s delay)`).
  *
  * Spark Structured Streaming restarts *tasks* within a query but never
  * the query itself: a poison micro-batch or sink failure terminates the
  * `StreamingQuery` and recovery is left to the driver program. This
  * supervisor owns that loop: (re)start the query via the caller's
  * factory, await termination, and on failure restart after a fixed delay
  * up to `maxRetries` times. State survives restarts exactly as in the
  * reference because the factory starts from the same
  * `checkpointLocation` — offsets and keyed state recover, and the
  * restarted query replays the failed micro-batch (the at-least-once
  * envelope of SURVEY.md §2.9). That replay is harmless for
  * [[ModelConsumer]]: its store upsert keeps the seq-ordered latest value,
  * so applying a batch twice gives the same store. It is NOT harmless for
  * [[SgdUpdater]]: its step reads the store it writes and ignores the
  * batch id, so keys already updated by the failed attempt take a second
  * step.
  *
  * The retry budget is TOTAL, matching Flink's fixed-delay semantics; a
  * clean `stop()` never consumes it.
  */
object Supervision {

  final class Handle private[Supervision] (name: String, maxRetries: Int,
                                           delayMs: Long,
                                           start: () => StreamingQuery) {
    @volatile private var query: StreamingQuery = _
    @volatile private var stopping = false
    @volatile private var restartCount = 0
    @volatile private var failure: Option[Throwable] = None
    private val terminated = new CountDownLatch(1)

    /** Completed restarts (successful re-starts after a failure). */
    def restarts: Int = restartCount

    /** The terminal failure, once the retry budget is exhausted. */
    def lastFailure: Option[Throwable] = failure

    /** Stop supervision AND the active query; never counts as a retry. */
    def stop(): Unit = {
      stopping = true
      Option(query).foreach(q => try q.stop() catch { case _: Exception => () })
    }

    /** Await the supervisor loop's exit (clean stop or budget exhausted). */
    def awaitStopped(timeoutMs: Long): Boolean = {
      terminated.await(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    }

    private[Supervision] def run(): Unit = {
      var attempts = 0
      try {
        while (!stopping) {
          val failed: Option[Throwable] =
            try {
              query = start()
              if (attempts > 0) restartCount += 1
              query.awaitTermination()
              None // clean termination (stop() or source exhausted)
            } catch { case e: Exception => Some(e) }
          failed match {
            case None => return
            case Some(e) if stopping => failure = Some(e); return
            case Some(e) =>
              attempts += 1
              if (attempts > maxRetries) { failure = Some(e); return }
              Thread.sleep(delayMs)
          }
        }
      } finally terminated.countDown()
    }
  }

  /** Start `factory`'s query under supervision on a daemon thread:
    * restarted after `delayMs` on failure, at most `maxRetries` times
    * total. The factory MUST pass a stable `checkpointLocation` for
    * restarts to recover state — same contract as the reference's
    * checkpointed environment (ALSKafkaConsumer.java:44-47). */
  def supervise(name: String, maxRetries: Int = 3, delayMs: Long = 10000L)
               (factory: () => StreamingQuery): Handle = {
    val h = new Handle(name, maxRetries, delayMs, factory)
    val t = new Thread(() => h.run(), s"graft-supervisor-$name")
    t.setDaemon(true)
    t.start()
    h
  }
}
