package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Dedup

/** Streaming MinHash+LSH near-duplicate detection — the online face of
  * `Dedup.minhashLsh` for continuous crawl ingestion, where each arriving
  * document must be screened against everything already admitted without
  * re-scanning the corpus.
  *
  * Scale design:
  *  - Signatures and band keys are computed STATELESSLY per row by the
  *    batch kernels (`Dedup.minhash`, `Dedup.lshBands`), so a document
  *    gets the same bands here as in `Dedup.minhashLsh` — with zero
  *    shuffle and no state (StreamingNearDupSpec pins both).
  *  - Only the band-bucket grouping is stateful: docs sharing a band key
  *    meet in a `flatMapGroupsWithState` group whose state holds the
  *    (doc_id, signature) pairs seen in that bucket. An arriving doc
  *    emits one candidate per bucket-mate, scored by signature agreement
  *    (the MinHash estimate of Jaccard) — the exact-verify step stays a
  *    downstream batch join, as in the reference pipeline split between
  *    candidate generation and verification.
  *  - State is bounded two ways: a processing-time timeout evicts idle
  *    buckets, and a per-bucket cap stops a degenerate band key (the
  *    stop-shingle pathology) from accumulating unbounded members — the
  *    cap is a documented screening trade, not a silent one (capped
  *    buckets stop emitting, and `bucket_capped` marks their candidates).
  */
object StreamingNearDup {

  case class BandRow(band: Int, bkey: String, doc_id: Long, sig: Array[Long])
  case class Candidate(doc_a: Long, doc_b: Long, est_jaccard: Double,
                       bucket_capped: Boolean)
  case class BucketState(members: List[(Long, Array[Long])], capped: Boolean)

  /** docs (doc_id, text) → (doc_id, sig, band, bkey), row-local. Documents
    * too short for one shingle have no signature and get no band row. */
  def bandRows(docs: DataFrame, shingleN: Int, numHashes: Int,
               bands: Int): DataFrame =
    Dedup.lshBands(Dedup.signatures(docs.select(col("doc_id"),
      Dedup.shingleSet(col("text"), shingleN).as("shs")), numHashes),
      numHashes, bands)

  /** docs stream (doc_id LONG, text STRING) → candidate pairs
    * (doc_a, doc_b, est_jaccard, bucket_capped), ordered numerically:
    * doc_a < doc_b by id, regardless of arrival order (matching the batch
    * lshCandidates' pair convention — keep-first policies must use their
    * own arrival ordering, not this pair order). Documents too short for
    * one shingle produce no bands and pass unscreened (nothing to collide
    * on). */
  def lshCandidates(docs: DataFrame, shingleN: Int = 3, numHashes: Int = 16,
                    bands: Int = 4, maxBucketSize: Int = 64,
                    idleTimeout: Option[String] = Some("1 hour")): Dataset[Candidate] = {
    val spark = docs.sparkSession
    import spark.implicits._

    // the processing-time timeout keeps the engine scheduling wake-up
    // batches; tests that drive with processAllAvailable() pass None
    // (NoTimeout) — production ingest keeps the default eviction
    val timeoutConf = idleTimeout.map(_ => GroupStateTimeout.ProcessingTimeTimeout())
      .getOrElse(GroupStateTimeout.NoTimeout())
    bandRows(docs, shingleN, numHashes, bands).as[BandRow]
      .groupByKey(row => (row.band, row.bkey))
      .flatMapGroupsWithState[BucketState, Candidate](
        OutputMode.Append(), timeoutConf) {
        case (_, rows, state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var s = state.getOption.getOrElse(BucketState(Nil, capped = false))
            val out = scala.collection.mutable.ListBuffer.empty[Candidate]
            rows.foreach { row =>
              if (!s.members.exists(_._1 == row.doc_id)) {
                s.members.foreach { case (prevId, prevSig) =>
                  val matches = prevSig.zip(row.sig).count { case (x, y) => x == y }
                  val (a, b) = if (prevId < row.doc_id) (prevId, row.doc_id)
                               else (row.doc_id, prevId)
                  out += Candidate(a, b, matches.toDouble / prevSig.length, s.capped)
                }
                if (!s.capped) {
                  if (s.members.length < maxBucketSize)
                    s = s.copy(members = (row.doc_id, row.sig) :: s.members)
                  else s = s.copy(capped = true)
                }
              }
            }
            state.update(s)
            idleTimeout.foreach(state.setTimeoutDuration)
            // one candidate per pair per BATCH can still repeat across
            // bands — downstream dedups on (doc_a, doc_b) exactly like the
            // batch lshCandidates' distinct()
            out.distinct.iterator
          }
      }(Encoders.product[BucketState], Encoders.product[Candidate])
  }
}
