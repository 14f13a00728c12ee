package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series completion and event-time sliding aggregates.
  *
  * The reference's only notion of time is Kafka ingestion order
  * (als-ms/src/main/java/de/tub/it4bi/modelserving/qs/ALSKafkaProducer.java:29
  * attaches timestamps nobody consumes); a serving/analytics engine needs
  * real event-time operators: filling a metric series onto a regular grid
  * (dashboards, drift monitors over training-data ingestion) and trailing
  * time-window aggregates (rate limits, freshness SLOs).
  *
  * Scale shape: both operators shuffle once on the series key. The grid in
  * [[gapFill]] is built from a 1-row global bounds aggregate cross-joined
  * with the distinct key set — the explode produces |keys| × |buckets|
  * rows, which is the OUTPUT size, not an intermediate blow-up. The
  * forward-fill window partitions by key, so parallelism is the key
  * cardinality; a single series spanning years at second granularity would
  * serialize — pick the bucket unit so |buckets| stays ~1e6 per key.
  */
object Temporal {

  /** Aggregate `centsCol` (an exact fixed-point long) onto a `unit`
    * (e.g. "hour") grid per `keyCol`, one row per (key, bucket) over the
    * GLOBAL [min, max] bucket range, forward-filling each key's last
    * observed bucket sum across its gaps. Emits
    * (key, bucket, n, v_filled, is_gap); `n` is 0 on gap rows and
    * `v_filled` carries the previous bucket's sum (0 before the first
    * observation). Integer sums keep the fill value exact regardless of
    * partitioning or accumulation order. */
  def gapFill(events: DataFrame, keyCol: String, tsCol: String,
              centsCol: Column, unit: String): DataFrame = {
    val b = events.select(col(keyCol), date_trunc(unit, col(tsCol)).as("bucket"),
      centsCol.cast("long").as("_c"))
    val agg = b.groupBy(keyCol, "bucket")
      .agg(count(lit(1)).as("n"), sum("_c").as("_v"))
    val bounds = b.agg(min("bucket").as("_b0"), max("bucket").as("_b1"))
    val grid = b.select(keyCol).distinct().crossJoin(bounds)
      .select(col(keyCol),
        explode(sequence(col("_b0"), col("_b1"), expr(s"interval 1 $unit")))
          .as("bucket"))
    val w = Window.partitionBy(keyCol).orderBy("bucket")
    grid.join(agg, Seq(keyCol, "bucket"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("v_filled",
        coalesce(last(col("_v"), ignoreNulls = true).over(w), lit(0L)))
      .withColumn("is_gap", col("n") === 0L)
      .drop("_v")
  }

  /** SAX-style coarse signature of a zero-filled daily series array:
    * split the nd days into `segments` equal spans and emit one bit per
    * span (0-based j) — 1 iff span j's sum × segments ≥ the series total
    * (above-average activity), evaluated as a per-row array fold.
    * Segment j covers indices [⌈j·nd/segments⌉, ⌈(j+1)·nd/segments⌉),
    * the exact inverse of the q136 oracle's day grouping
    * (i·segments) div nd; boundary arithmetic stays ≪ 2^53 so the double
    * floor is exact. Pure integer compares → engine-exact. */
  private def saxSigOfArray(arr: Column, segments: Int): Column = {
    val nd = size(arr).cast("long")
    def bound(j: Column): Column =
      floor((j * nd + lit(segments - 1)) / lit(segments)).cast("int")
    val sums = transform(sequence(lit(0), lit(segments - 1)), j =>
      aggregate(
        slice(arr, bound(j) + lit(1), bound(j + lit(1)) - bound(j)),
        lit(0L), (a, x) => a + x))
    val tot = aggregate(arr, lit(0L), (a, x) => a + x)
    array_join(transform(sums, s =>
      when(s * segments >= tot, lit("1")).otherwise(lit("0"))), "")
  }

  /** Top-k most correlated key pairs — time-series similarity search
    * with SAX blocking (REPOSE/EDBT-style: coarse signature prunes the
    * pair space; exact scoring runs only inside blocks, never all-pairs).
    * Pearson over the complete zero-filled daily grid; every moment
    * (n, Σx, Σy, Σxy, Σx², Σy²) is an exact BIGINT in both engines, cast
    * to double only for the final ratio — so the snapped correlation is
    * engine-exact. Zero-variance series drop (NULL correlation).
    * DOMAIN: |cents|·√days must stay under ~3e9 so n·Σx² fits int64 —
    * Spark wraps silently on overflow where DuckDB errors; rescale the
    * fixed-point unit for series hotter than that.
    *
    * Shape (reworked r8, VERDICT r7 task 5 — was 18 shuffles): ONE
    * events scan, one (key, day) aggregation, then each key's series
    * rides as ONE zero-filled day-ordered ARRAY row (scattered from the
    * observed days via a map lookup, never a grid join) carrying its
    * self-moments (n, Σx, Σx²) and its SAX signature — all computed
    * once per KEY as array folds. The block join therefore matches pair
    * rows (Σ_sig |block|², never × D) and only the cross moment Σxy
    * runs per pair — a fused zip_with/aggregate integer fold over the
    * two arrays. Same exact BIGINT math as the unrolled form (the grid
    * is complete, so n = |days| for every pair and the arrays align
    * positionally). The per-key table is pinned EAGERLY (fleet rule:
    * multi-consumer checkpoint — it feeds both sides of the self-join).
    *
    * Scale shape: the pair join is an equi-join on the signature —
    * cost Σ_sig |block|², bounded by the largest block; a skewed block
    * salts like any hot join key. Array width is |days| (a year at
    * daily grain is 2.9 KB/row); for minute-grain series segment the
    * time axis first. DOMAIN: needs segments ≤ |days| (below that the
    * trailing segments are empty; the reference grouping emits no bit
    * for them) — trivially true for any real daily corpus. */
  def correlatedPairs(events: DataFrame, keyCol: String, tsCol: String,
                      centsCol: Column, segments: Int, k: Int): DataFrame = {
    require(k >= 1)
    require(segments >= 1 && segments <= 32)
    val b = events.select(col(keyCol).as("k"),
      (unix_timestamp(date_trunc("day", col(tsCol))) / lit(86400L))
        .cast("long").as("d"),
      centsCol.cast("long").as("c"))
    val agg = b.groupBy("k", "d").agg(sum("c").as("c"))
    // 1-row global bounds, broadcast; ReuseExchange shares agg's shuffle
    // between the bounds build and the series build
    val bounds = agg.agg(min(col("d")).as("d0"),
      (max(col("d")) - min(col("d")) + lit(1L)).as("nd"))
    val ser = agg.crossJoin(broadcast(bounds))
      .select(col("k").as("key"), (col("d") - col("d0")).as("i"),
        col("c"), col("nd"))
      .groupBy("key", "nd")
      .agg(map_from_entries(collect_list(struct(col("i"), col("c"))))
        .as("m"))
      .select(col("key"),
        transform(sequence(lit(0L), col("nd") - 1), i =>
          coalesce(element_at(col("m"), i), lit(0L))).as("arr"))
    val d = ser
      .withColumn("n", size(col("arr")).cast("long"))
      .withColumn("sx", aggregate(col("arr"), lit(0L), (a, x) => a + x))
      .withColumn("sxx", aggregate(col("arr"), lit(0L), (a, x) => a + x * x))
      .withColumn("sig", saxSigOfArray(col("arr"), segments))
      .localCheckpoint()
    val l = d.select(col("sig"), col("key").as("ka"), col("arr").as("xa"),
      col("n"), col("sx"), col("sxx"))
    val r = d.select(col("sig"), col("key").as("kb"), col("arr").as("xb"),
      col("sx").as("sy"), col("sxx").as("syy"))
    val mom = l.join(r, Seq("sig"))
      .filter(col("ka") < col("kb"))
      .withColumn("sxy", aggregate(
        zip_with(col("xa"), col("xb"), (x, y) => x * y), lit(0L),
        (a, x) => a + x))
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val vx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val vy = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    val corr = graft.functions.Portable.snap6(
      num / sqrt(vx * vy))
    mom.withColumn("corr", when(vx > 0 && vy > 0, corr))
      .filter(col("corr").isNotNull)
      // project the arrays away BEFORE the top-k sort: only the scored
      // pair identity crosses the final exchange
      .select(col("ka"), col("kb"), col("n"), col("sx"), col("sy"),
        col("sxy"), col("sxx"), col("syy"), col("corr"))
      .orderBy(desc("corr"), col("ka"), col("kb"))
      .limit(k)
  }

  /** Trailing event-time window per row: for every event, the count and
    * exact cents-sum of all events of the same `keyCol` within the last
    * `windowSec` seconds (inclusive of the current second's peers — a
    * RANGE frame, so rows sharing a truncated second see the identical
    * window in any engine). One shuffle on the key; frames are evaluated
    * per key partition. */
  def slidingByTime(events: DataFrame, keyCol: String, tsCol: String,
                    centsCol: Column, windowSec: Long): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col("_ep"))
      .rangeBetween(-windowSec, 0)
    events
      .withColumn("_ep", unix_timestamp(col(tsCol)))
      .withColumn("_c", centsCol.cast("long"))
      .withColumn("w_n", count(lit(1)).over(w))
      .withColumn("w_cents", sum(col("_c")).over(w))
      .drop("_c", "_ep")
  }

  /** Per-key ordinary-least-squares trend of an integer metric over time:
    * drift detection as a model fit, not a threshold ("error cents are
    * climbing 3.2/hour"), the per-source companion of the level-shift
    * monitors (q112/q145). Emits slope (cents per hour bucket) and
    * intercept (cents at the corpus's first hour) from the closed-form
    * normal equations.
    *
    * Exactness: x is whole hours since the GLOBAL min timestamp (a 1-row
    * aggregate cross-joined in-plan — no driver action), y the caller's
    * integer cents, so every moment (n, Σx, Σy, Σxy, Σx²) is an exact
    * BIGINT; slope/intercept go through double only in the final ratios,
    * with the identical expression tree on the DuckDB side. Floats never
    * enter a sum, so the result is partitioning-independent.
    *
    * Scale shape: one shuffle on the key with map-side partial moments
    * (the five sums are classic algebraic aggregates); the hour-offset
    * join is a broadcast of one row. Moment magnitude bounds the reach:
    * |Σxy| ≤ n·maxHours·maxCents must stay inside int64 — at 1e12 rows
    * per key × 1e4 hours × 1e6 cents it would not; at that scale switch
    * the moments to DECIMAL(38,0) (same plan, wider lanes). A per-key
    * den = 0 (all events in one hour bucket) yields NULL slope/intercept
    * rather than a division error. */
  def trendFit(events: DataFrame, keyCol: String, tsCol: String,
               centsCol: Column, bucketSec: Long = 3600L): DataFrame = {
    val ep = events.select(col(keyCol),
      expr(s"unix_micros($tsCol) DIV 1000000").as("_ep"), centsCol.as("_y"))
    val origin = ep.agg(min(col("_ep")).as("_ep0"))
    val xy = ep.crossJoin(broadcast(origin))
      .withColumn("_x", expr(s"(_ep - _ep0) DIV $bucketSec"))
    val m = xy.groupBy(keyCol).agg(
      count(lit(1)).as("n"),
      sum(col("_x")).as("sx"), sum(col("_y")).as("sy"),
      sum(col("_x") * col("_y")).as("sxy"),
      sum(col("_x") * col("_x")).as("sxx"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    val slopeRaw = num.cast("double") / den.cast("double")
    m.withColumn("_slope_raw", when(den =!= 0L, slopeRaw))
      .withColumn("slope", graft.functions.Portable.snap6(col("_slope_raw")))
      .withColumn("intercept", graft.functions.Portable.snap6(
        (col("sy").cast("double") - col("_slope_raw") * col("sx").cast("double"))
          / col("n").cast("double")))
      .select(col(keyCol), col("n"), col("slope"), col("intercept"))
  }
}
