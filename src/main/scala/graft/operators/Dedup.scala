package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Portable, TextFunctions => T}

/** Document deduplication operators for large-scale corpus curation:
  * exact (hash-groupBy), MinHash+LSH (shingle → signature → band →
  * bucket-join), SimHash, and exact n-gram Jaccard.
  *
  * Scale design (the part that matters at 100 TB):
  *  - exact dedup is one shuffle on a 128-bit content hash — never on the
  *    raw text;
  *  - a minhash signature is ROW-LOCAL: one expression over the
  *    document's distinct shingle set hashes each shingle once and takes
  *    all H minima (no groupBy, no shuffle) — the same kernel serves the
  *    batch operators and the streaming screen;
  *  - LSH band-bucket join touches only candidate pairs, so the quadratic
  *    verification work is bounded by bucket collisions, not n²;
  *  - everything is expressions + relational ops — no driver-side state.
  *
  * Input contract: a DataFrame with (id LONG, text STRING) columns.
  */
object Dedup {

  /** THE canonical content hash for exact dedup — every exact-dup stage
    * (batch, streaming, curation pipeline, oracles via
    * DedupPack.contentHashSql) must use this one definition. */
  def contentHash(text: Column): Column = md5(T.normalize(text))

  /** Exact dedup: group by content hash of the normalized text; keep the
    * smallest id as the cluster representative. */
  def exact(docs: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame =
    docs
      .select(col(id), contentHash(col(text)).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col(id)).as("keeper"), count(lit(1)).as("n_copies"))

  /** (doc_id, text) → one (block_len, h, doc_id) row per size the doc has
    * that many tokens for; h = md5 of its first block_len tokens joined by
    * ' '. Sizes ride one exploded literal, one pass over the tokens. Used
    * by q215 and [[graft.streaming.StreamingPrefixCache]]. */
  def prefixBlocks(docs: DataFrame, sizes: Seq[Int]): DataFrame =
    docs.select(col("doc_id"), T.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(array(sizes.map(lit): _*)).as("block_len"))
      .filter(size(col("toks")) >= col("block_len"))
      .select(col("block_len"),
        md5(array_join(slice(col("toks"), lit(1), col("block_len")), " "))
          .as("h"),
        col("doc_id"))

  /** Distinct word-`n`-gram shingles per document: (id, sh). Tokenize +
    * n-gram explode is the heavy map of the whole MinHash family — a
    * narrow single-row-group input would serialize it on one core, so
    * the scan is spread when narrower than the session's parallelism
    * (no-op on an already-wide scan, see [[graft.plans.Spread]]).
    *
    * Dedup runs PER ROW (`array_distinct` before the explode), never as a
    * global `.distinct()`: a document's shingle multiset lives entirely in
    * its own row, so row-local dedup is set-identical when `id` is unique
    * per row — and it removes a full (id, shingle) Exchange + two
    * HashAggregates from every MinHash/Jaccard-family plan (the widest
    * table in those pipelines never shuffles for dedup; at 100 TB that
    * shuffle is corpus × n-grams sized). CALLER CONTRACT: `id` unique per
    * input row. The two source-keyed callers (q117/q185, many rows per
    * source) add their own `.distinct()` on top — still cheaper, because
    * the global dedup then shuffles only row-locally-deduped rows. */
  def shingles(docs: DataFrame, n: Int,
               id: String = "doc_id", text: String = "text"): DataFrame =
    shingleRows(shingleSets(docs, n, id, text), id)

  /** The distinct word-`n`-gram shingle set of one text, ARRAY<STRING>. */
  def shingleSet(text: Column, n: Int): Column =
    array_distinct(T.wordNgrams(T.tokens(text), n))

  /** One row per document: (id, shs = [[shingleSet]]). The MinHash
    * pipelines checkpoint THIS table once — the signature and the
    * candidate Jaccard verify ([[jaccard]]) both read the array. */
  def shingleSets(docs: DataFrame, n: Int,
                  id: String = "doc_id", text: String = "text"): DataFrame =
    graft.plans.Spread(docs).select(col(id), shingleSet(col(text), n).as("shs"))

  /** (id, shs) → the exploded (id, sh) table. */
  def shingleRows(sets: DataFrame, id: String = "doc_id"): DataFrame =
    sets.select(col(id), explode(col("shs")).as("sh"))

  /** Shared-item counts for every (a < b) pair of id values — the
    * source-overlap matrix shape. Semantically the item self-join
    * (join on item, filter a < b, count per pair), but pair rows never
    * SHUFFLE: after the one groupBy on the item, the sorted id set
    * expands to ordered pairs IN MEMORY and the per-pair counts combine
    * map-side down to ≤ K² partials per task. Use when the id domain K
    * is vocabulary-small (sources, langs, shards): per-item sets are
    * ≤ K elements, so neither the collect_set nor the K²/2 expansion
    * can skew. Doc-level pair counting keeps the join form — a common
    * shingle's doc set is corpus-sized and would OOM a collected set. */
  def sharedPairCounts(items: DataFrame, idCol: String = "source",
                       itemCol: String = "sh"): DataFrame =
    items.groupBy(col(itemCol))
      .agg(sort_array(collect_set(col(idCol))).as("_ids"))
      .select(explode(flatten(transform(col("_ids"), (a, i) =>
        transform(slice(col("_ids"), i + lit(2), size(col("_ids"))),
          b => struct(a.as("a"), b.as("b")))))).as("_p"))
      .groupBy(col("_p.a").as("src_a"), col("_p.b").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))

  /** THE MinHash kernel, row-local (batch and streaming share it): the
    * ARRAY<BIGINT> signature of a distinct shingle set over the hash family
    * Portable.permute, null for an empty set. Each shingle's md5 hash runs
    * ONCE — a one-element `transform` binds the hashed array (the Column
    * API's let) and the `numHashes` minima permute ready LONGs. */
  def minhash(shingleSet: Column, numHashes: Int): Column = {
    val hashed = transform(shingleSet, s => Portable.hash32m(s))
    element_at(transform(array(hashed), hs => when(size(hs) > 0,
      array((1 to numHashes).map(i =>
        array_min(transform(hs, h => Portable.permute(h, i)))): _*))), 1)
  }

  /** (id, shs) → (id, sig), dropping documents with no shingle — they have
    * nothing to collide on, and null signatures would all meet in one
    * empty-key band bucket. */
  def signatures(sets: DataFrame, numHashes: Int, id: String = "doc_id"): DataFrame =
    sets.select(col(id), minhash(col("shs"), numHashes).as("sig"))
      .filter(col("sig").isNotNull)

  /** Aggregate: element-wise min of signatures — the sketch of the union
    * of their shingle sets (min is associative, so sketches merge). */
  def minhashMerge(sig: Column, numHashes: Int): Column =
    array((0 until numHashes).map(i => min(sig(i))): _*)

  /** Number of positions where two signatures agree (BIGINT) — `/ H` is
    * the MinHash estimate of their Jaccard. */
  def sigAgreement(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), m => m)).cast("long")

  /** LSH band keys: `bands` rows per signature, (id, sig, band, bkey) with
    * key = the band's `numHashes / bands` minima joined by ':'. Docs
    * sharing any band key are candidate duplicates. One posexplode, not one
    * scan per band — a union of per-band selects would recompute the whole
    * signature pipeline `bands` times. */
  def lshBands(sigs: DataFrame, numHashes: Int, bands: Int,
               id: String = "doc_id"): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    val bandKeys = (0 until bands).map { b =>
      concat_ws(":", (0 until r).map(j => col("sig")(b * r + j)): _*)
    }
    sigs.select(col(id), col("sig"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "bkey")))
  }

  /** Candidate pairs (a < b) sharing at least one LSH band bucket. */
  def lshCandidates(bands: DataFrame, id: String = "doc_id"): DataFrame = {
    val l = bands.select(col("band"), col("bkey"), col(id).as("doc_a"))
    val r = bands.select(col("band"), col("bkey"), col(id).as("doc_b"))
    l.join(r, Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** Per-set sizes (id, n_sh) of an exploded (id, sh) table. */
  def setSizes(sh: DataFrame, id: String = "doc_id"): DataFrame =
    sh.groupBy(col(id)).agg(count(lit(1)).as("n_sh"))

  /** THE set-size join of the all-pairs forms: pair rows (a, b, n_shared,
    * …) ⋈ the per-side set sizes, appending n_a and n_b from `sizes`
    * (id, n_sh). Every all-pairs Jaccard, containment and overlap ratio
    * here is n_shared read against these two columns; the candidate
    * verify ([[jaccard]]) reads all three from its two set rows. */
  def withSetSizes(shared: DataFrame, sizes: DataFrame, id: String = "doc_id",
                   a: String = "doc_a", b: String = "doc_b"): DataFrame =
    shared
      .join(sizes.select(col(id).as(a), col("n_sh").as("n_a")), a)
      .join(sizes.select(col(id).as(b), col("n_sh").as("n_b")), b)

  /** |A∩B| / |A∪B| over n_shared, n_a, n_b (DOUBLE). */
  def jaccardRatio: Column =
    col("n_shared").cast("double") / (col("n_a") + col("n_b") - col("n_shared"))

  /** Shared-item counts (doc_a < doc_b, n_shared) of every pair of sets
    * that share at least one item: the self-equi-join on the shingle. */
  private def sharedCounts(sh: DataFrame, id: String): DataFrame =
    sh.select(col(id).as("doc_a"), col("sh"))
      .join(sh.select(col(id).as("doc_b"), col("sh")), "sh")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))

  /** THE candidate verify: exact Jaccard of KNOWN (doc_a, doc_b) pairs
    * over the (id, shs) set table ([[shingleSets]]), ROW-LOCAL. Each pair
    * joins its two set rows once per side and reads n_shared =
    * |sa ∩ sb|, n_a = |sa|, n_b = |sb| (BIGINT) and the ratio from the
    * two arrays in place — no shingle explode, no (doc, shingle) join, no
    * groupBy over pairs, no set-size joins. Pairs that share no shingle
    * (an empty set included) are absent, as in the all-pairs join form.
    * Any other column c of `sets` arrives per side as c_a and c_b (q180
    * reads both signatures from the same two joins).
    *
    * Contract: `pairs` distinct, the arrays of `sets` distinct per row
    * (as [[shingleSet]] builds them), `id` unique in `sets`. */
  def jaccard(pairs: DataFrame, sets: DataFrame, id: String = "doc_id"): DataFrame = {
    val extra = sets.columns.filterNot(Set(id, "shs"))
    def side(s: String): DataFrame = sets.select(
      col(id).as(s"doc_$s") +: col("shs").as(s"_s$s") +:
        extra.map(c => col(c).as(s"${c}_$s")).toSeq: _*)
    pairs.join(side("a"), "doc_a").join(side("b"), "doc_b")
      .withColumn("n_shared",
        size(array_intersect(col("_sa"), col("_sb"))).cast("long"))
      .filter(col("n_shared") > 0)
      .withColumn("n_a", size(col("_sa")).cast("long"))
      .withColumn("n_b", size(col("_sb")).cast("long"))
      .withColumn("jaccard", jaccardRatio)
      .drop("_sa", "_sb")
  }

  /** Threshold Jaccard self-join via PREFIX FILTERING (Chaudhuri et al.
    * ICDE'06 / Bayardo All-Pairs) — LOSSLESS candidate pruning, unlike
    * MinHash/LSH: order every document's shingles by global rarity
    * (document frequency, ties by the shingle text — any consistent
    * total order preserves correctness; rarity minimizes candidates);
    * any pair with J ≥ t must share at least one shingle inside each
    * side's (n − ⌈t·n⌉ + 1)-prefix, so the candidate join runs on the
    * rare prefix shingles only and exact verification runs on candidates
    * only. The result set EQUALS the exact all-pairs threshold join —
    * the q141 oracle is that exact join.
    *
    * Scale shape: candidate cost is Σ over PREFIX shingles of df², and
    * prefixes are the rarest shingles, so hot shingles (stop-phrases)
    * that blow up [[allPairsJaccard]]'s Σ df² are exactly the ones the
    * prefix excludes for high-n documents. */
  def prefixFilterJaccard(shIn: DataFrame, threshold: Double,
                          id: String = "doc_id"): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    val sh = shIn.localCheckpoint()
    val dfreq = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val doc = Window.partitionBy(col(id))
    val prefixes = sh.join(dfreq, "sh")
      .withColumn("rn", row_number().over(doc.orderBy(col("df"), col("sh"))))
      .withColumn("n_sh", count(lit(1)).over(doc))
      .filter(col("rn") <=
        col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 1)
      .select(col(id), col("sh"))
    val cand = prefixes.select(col(id).as("doc_a"), col("sh"))
      .join(prefixes.select(col(id).as("doc_b"), col("sh")), "sh")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val sets = sh.groupBy(col(id)).agg(collect_set(col("sh")).as("shs"))
    jaccard(cand, sets, id).filter(col("jaccard") >= threshold)
  }

  /** All-pairs exact Jaccard WITHOUT materializing the pair cross product:
    * the shared-shingle counts come from a self-equi-join on the shingle —
    * only pairs that share at least one shingle ever exist, so the cost is
    * Σ_shingle df(shingle)² instead of |docs|². Pairs with zero shared
    * shingles (jaccard 0) are absent, which any threshold > 0 filters
    * anyway. */
  def allPairsJaccard(shIn: DataFrame, id: String = "doc_id"): DataFrame = {
    // three references below (counts + both join sides) — cache, don't
    // recompute the upstream shingle pipeline per branch
    allPairsJaccardOn(shIn.localCheckpoint(), id)
  }

  /** [[allPairsJaccard]] over a shingle table the CALLER already
    * materialized (checkpoint/cache): no second checkpoint. q116 shares
    * one shingle-set checkpoint across this, the MinHash signatures, and
    * the audit's count aggregates — re-checkpointing it here cost one full
    * extra pass over the shingle blocks. */
  def allPairsJaccardOn(sh: DataFrame, id: String = "doc_id"): DataFrame =
    withSetSizes(sharedCounts(sh, id), setSizes(sh, id), id)
      .withColumn("jaccard", jaccardRatio)

  /** All-pairs asymmetric shingle CONTAINMENT — |A∩B| / |A| and / |B| —
    * the excerpt/quote detector Jaccard misses: a 13-token excerpt of a
    * 400-token source has Jaccard ≈ 0.03 but containment 1.0 on the
    * excerpt side. Same shared-shingle self-join shape as
    * [[allPairsJaccard]] (cost Σ_shingle df², never |docs|²); pairs with
    * no shared shingle (containment 0) are absent, which any threshold
    * > 0 filters anyway. */
  def allPairsContainment(shIn: DataFrame, id: String = "doc_id"): DataFrame = {
    val sh = shIn.localCheckpoint()
    withSetSizes(sharedCounts(sh, id), setSizes(sh, id), id)
      .withColumn("containment_a", col("n_shared").cast("double") / col("n_a"))
      .withColumn("containment_b", col("n_shared").cast("double") / col("n_b"))
  }

  /** INCREMENTAL MinHash+LSH near-dup: today's `delta` ingest screened
    * against the already-deduped `base` corpus AND itself, without ever
    * pairing base×base — the maintenance shape that makes dedup
    * affordable on a continuously-ingesting 100 TB corpus (re-running
    * [[minhashLsh]] on base ∪ delta re-enumerates the whole history's
    * collisions every day; this touches only buckets a delta doc lands
    * in). Candidates = delta bands ⋈ (base ∪ delta) bands, so cost is
    * bounded by the DELTA's collisions; the Jaccard verify reads only
    * candidate docs' shingle sets. In production the base signatures/bands
    * are a persisted index (written once by the full run, appended by
    * each delta run) — recomputing them here stands in for one index
    * scan. Output matches [[minhashLsh]] restricted to pairs with ≥1
    * delta endpoint (DedupSpec pins that equality), so correctness of
    * the incremental path is DEFINED BY the batch path. */
  def deltaMinhashLsh(base: DataFrame, delta: DataFrame, shingleN: Int = 3,
                      numHashes: Int = 16, bands: Int = 4,
                      threshold: Double = 0.5, id: String = "doc_id",
                      text: String = "text"): DataFrame = {
    val sets = shingleSets(base, shingleN, id, text).localCheckpoint()
      .unionAll(shingleSets(delta, shingleN, id, text).localCheckpoint())
    val bandsAll = lshBands(signatures(sets, numHashes, id), numHashes, bands, id)
      .drop("sig").localCheckpoint()
    // no broadcast hint: a day's delta can itself be huge — AQE picks
    val deltaIds = delta.select(col(id)).localCheckpoint()
    val bandsD = bandsAll.join(deltaIds, Seq(id), "left_semi")
    val l = bandsD.select(col("band"), col("bkey"), col(id).as("doc_x"))
    val r = bandsAll.select(col("band"), col("bkey"), col(id).as("doc_y"))
    val cand = l.join(r, Seq("band", "bkey"))
      .filter(col("doc_x") =!= col("doc_y"))
      .select(least(col("doc_x"), col("doc_y")).as("doc_a"),
        greatest(col("doc_x"), col("doc_y")).as("doc_b"))
      .distinct()
    jaccard(cand, sets, id).filter(col("jaccard") >= threshold)
  }

  /** Full MinHash+LSH near-dup pipeline: candidates from LSH buckets,
    * verified with exact Jaccard ≥ threshold. */
  def minhashLsh(docs: DataFrame, shingleN: Int = 3, numHashes: Int = 16,
                 bands: Int = 4, threshold: Double = 0.5,
                 id: String = "doc_id", text: String = "text"): DataFrame = {
    // EAGER local checkpoint: the shingle-set table (the heavy tokenize +
    // n-gram map) feeds the signatures AND both sides of the jaccard
    // verify; eager, so those stages read blocks instead of racing to
    // compute the shared RDD concurrently.
    val sets = shingleSets(docs, shingleN, id, text).localCheckpoint()
    val cand = lshCandidates(lshBands(signatures(sets, numHashes, id), numHashes, bands, id), id)
    jaccard(cand, sets, id).filter(col("jaccard") >= threshold)
  }

  /** Per-document SimHash over `bits` bits of the token hashes (with
    * multiplicity): bit b is set iff Σ_tokens ±1 (by hash bit b) > 0. */
  def simhash(docs: DataFrame, bits: Int = 16,
              id: String = "doc_id", text: String = "text"): DataFrame = {
    val toks = docs.select(col(id), explode(T.tokens(col(text))).as("tok"))
      .withColumn("h", Portable.hash32m(col("tok")))
    val bitSums = toks.groupBy(col(id))
      .agg(
        sum(shiftright(col("h"), 0).bitwiseAND(lit(1L)) * 2 - 1).as("s0"),
        (1 until bits).map(b =>
          sum(shiftright(col("h"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"s$b")): _*)
    val sig = (0 until bits)
      .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    bitSums.select(col(id), sig.as("simhash"))
  }

  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("int")

  /** SimHash near-dup pairs by banded Hamming search (the Google-crawl
    * dedup shape, Manku et al. 2007): signatures split into `bands`
    * equal bit chunks; by pigeonhole, two signatures within Hamming
    * distance `bands - 1` agree EXACTLY on at least one chunk, so
    * candidates come from an equi-join on (band, chunk) — never an
    * all-pairs scan — and only candidates pay the popcount verify.
    *
    * Scale note: maxHamming must stay ≤ bands - 1 or recall silently
    * drops (enforced); at corpus scale use wider signatures (64-bit,
    * `bits`) and more bands so chunk buckets stay sparse. */
  def simhashNearDup(docs: DataFrame, maxHamming: Int = 3, bands: Int = 4,
                     bits: Int = 16, id: String = "doc_id",
                     text: String = "text"): DataFrame = {
    // parameter guards live in hammingNearDup (the delegate)
    // EAGER local checkpoint: the signature pipeline (tokenize + explode +
    // `bits` conditional sums) is the expensive part, and the self-join
    // inside hammingNearDup references it from two branches — without the
    // checkpoint each branch recomputes it (and with a lazy one the two
    // branches race to compute it concurrently).
    val sig = simhash(docs, bits, id, text).localCheckpoint()
      .select(col(id), col("simhash").as("sig"))
    hammingNearDup(sig, maxHamming, bands, bits, id)
  }

  /** Banded Hamming search over ANY signature table (id, sig BIGINT) —
    * the candidate engine shared by [[simhashNearDup]] (text) and the
    * block-hash media near-dup: signatures split into `bands` chunks, a
    * pigeonhole equi-join on (band, chunk) generates candidates, popcount
    * verifies. Same guarantee: complete for Hamming ≤ bands - 1. */
  def hammingNearDup(sigs: DataFrame, maxHamming: Int, bands: Int,
                     bits: Int, id: String = "doc_id"): DataFrame = {
    require(bits % bands == 0, "bands must divide bits")
    require(maxHamming <= bands - 1,
      s"pigeonhole guarantee needs maxHamming <= bands - 1 " +
        s"(got $maxHamming vs ${bands - 1})")
    val chunkW = bits / bands
    val mask = (1L << chunkW) - 1L
    // carry the full signature through the band explode: the Hamming verify
    // then needs NO extra joins back to sigs — each candidate row already
    // holds both signatures
    val bandRows = sigs.select(col(id), col("sig"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("sig"), b * chunkW).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "ckey")))
    bandRows.select(col("band"), col("ckey"),
        col(id).as("doc_a"), col("sig").as("_sa"))
      .join(bandRows.select(col("band"), col("ckey"),
        col(id).as("doc_b"), col("sig").as("_sb")), Seq("band", "ckey"))
      .filter(col("doc_a") < col("doc_b"))
      // popcount verify BEFORE the distinct: a pair colliding in several
      // bands is filtered once per collision but deduplicated only after
      // the cheap Hamming cut shrinks the set
      .withColumn("hamming", hamming(col("_sa"), col("_sb")))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .distinct()
  }

  /** Maximal duplicated SPANS per document — the exact-substring dedup
    * signal at run granularity (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better"): a `w`-token sliding window is
    * "shared" when its text occurs in at least one OTHER document; maximal
    * runs of consecutive shared window starts are merged into spans, so a
    * verbatim L-token quote shows up as ONE run of length L-w+1 covering
    * L tokens, not L-w+1 independent hits (which is all the fixed-window
    * coverage metric sees). Returns one row per document that has at least
    * one shared window: (id, n_runs, n_shared_windows, max_run,
    * max_span_toks = max_run + w - 1).
    *
    * Scale shape: windows shuffle as md5 hashes, never window text; doc
    * frequency is a distinct-pair count (no expand); the run merge is one
    * window function over ONLY the shared positions (a small fraction of
    * the corpus after the df >= 2 cut). The positional window pipeline is
    * pinned with localCheckpoint because the frequency pass and the run
    * pass both consume it. */
  def dupRuns(docs: DataFrame, w: Int,
              id: String = "doc_id", text: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = docs
      .select(col(id), posexplode(T.wordNgrams(T.tokens(col(text)), w))
        .as(Seq("pos", "win")))
      .select(col(id), col("pos"), md5(col("win")).as("wh"))
      // pinned: measured FASTER than relying on exchange reuse here (the
      // positional explode is heavy and the df-filtered join side defeats
      // reuse), unlike q205's distinct-gram pipeline where the pin lost
      .localCheckpoint()
    val docFreq = wins.select(col("wh"), col(id)).distinct()
      .groupBy(col("wh")).agg(count(lit(1)).as("nd"))
    val shared = wins.join(docFreq.filter(col("nd") >= 2), "wh")
      .select(col(id), col("pos"))
    val byPos = Window.partitionBy(col(id)).orderBy(col("pos"))
    val runs = shared
      .withColumn("grp", col("pos") - row_number().over(byPos))
      .groupBy(col(id), col("grp"))
      .agg(count(lit(1)).as("len"))
    runs.groupBy(col(id))
      .agg(count(lit(1)).as("n_runs"),
        sum(col("len")).as("n_shared_windows"),
        max(col("len")).as("max_run"),
        (max(col("len")) + lit(w - 1)).cast("long").as("max_span_toks"))
  }
}
