package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization for embedding compression + ADC search — the
  * memory side of billion-scale ANN (an IVF-PQ index is IVF bucketing,
  * q36, composed with THIS operator inside each bucket).
  *
  * A `dim`-dim vector splits into `m` subvectors of `dim/m` components;
  * each subvector is replaced by the index of its nearest codeword in that
  * subspace's `k`-entry codebook — `m` small ints (codes) instead of `dim`
  * floats (16x compression at dim=64, m=8, float32). Search never
  * reconstructs: for a query, a lookup table of query→codeword subspace
  * distances is built once (m×k entries), and each candidate's approximate
  * distance is m table lookups summed (Asymmetric Distance Computation,
  * Jégou et al. 2011).
  *
  * Scale shape: the codebook is m×k rows — always broadcast; encoding is
  * corpus ⋈ broadcast(codebook) with ONE aggregation computing all m
  * argmins (no per-subspace pass); ADC is an equi-join of exploded codes
  * against the exploded LUT on (subspace, code) — never a join on raw
  * vectors — followed by a partial-aggregable per-(query, candidate) sum.
  *
  * Determinism (oracle contract): per-subspace distances accumulate in
  * component order; the ADC sum is over per-subspace distances ROUNDED to
  * 6 places and summed as DECIMAL(18,6) — exact, order-independent, and
  * reproduced verbatim by the DuckDB twin. Argmin ties take the smallest
  * code.
  */
object PQ {

  /** Squared L2 distance between the `mi`-th `sub`-wide slices of two
    * DOUBLE array columns, accumulated in component order. */
  def subDist(x: Column, c: Column, mi: Int, sub: Int): Column =
    aggregate(
      zip_with(slice(x, mi * sub + 1, sub), slice(c, mi * sub + 1, sub),
        (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, v) => acc + v)

  /** All m subspace distances in ONE fused native pass (ARRAY<DOUBLE>,
    * entry mi = [[subDist]](x, c, mi, dim/m) bit-for-bit) — the encode
    * and LUT joins evaluate |corpus|×|codebook| rows, where m separate
    * interpreted `aggregate(zip_with(slice…))` chains dominated the
    * bench (q81 cold ~12 s → the join is the whole query). */
  private def subDists(x: Column, c: Column, m: Int): Column =
    graft.functions.VectorFunctions.pqSubDists(x, c, m)

  /** The columns of `df` other than `except`: per-row values (an IVF
    * bucket `cid`) that ride through encode, LUT and code explode. */
  private def carried(df: DataFrame, except: Set[String]): Seq[Column] =
    df.columns.toSeq.filterNot(except).map(col)

  /** Encode a corpus (id, vec ARRAY<DOUBLE>, …) against a codebook
    * (code INT, cvec ARRAY<DOUBLE>): one row per id with code columns
    * c0..c{m-1}, plus every other corpus column (a per-id value such as
    * the IVF `cid`), carried as a grouping key. One broadcast join + one
    * aggregation. */
  def encode(corpus: DataFrame, codebook: DataFrame, m: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val keys = carried(corpus, Set("vec"))
    val joined = corpus.crossJoin(broadcast(codebook))
    val argmins = (0 until m).map(mi =>
      min_by(col("code"), struct(col(s"_d$mi"), col("code"))).as(s"c$mi"))
    joined
      .select(keys ++ Seq(col("code"),
        subDists(col("vec"), col("cvec"), m).as("_pd")): _*)
      .select(keys ++ (col("code") +:
        (0 until m).map(mi => col("_pd").getItem(mi).as(s"_d$mi"))): _*)
      .groupBy(keys: _*)
      .agg(argmins.head, argmins.tail: _*)
  }

  /** LUT rows (qid, …, mi, code, d): per-subspace query→codeword
    * distance, rounded to 6 and fixed-point so the m-way ADC sum is exact
    * in any order; the query's other columns ride along. */
  private def lutOf(queries: DataFrame, codebook: DataFrame,
                    m: Int): DataFrame = {
    val keys = carried(queries, Set("qvec"))
    val lutCols = (0 until m).map(mi =>
      struct(lit(mi).as("mi"),
        round(col("_pd").getItem(mi), 6)
          .cast("decimal(18,6)").as("d")).as(s"_s$mi"))
    queries.crossJoin(broadcast(codebook))
      .select(keys ++ Seq(col("code"),
        subDists(col("qvec"), col("cvec"), m).as("_pd")): _*)
      .select(keys ++ (col("code") +: lutCols): _*)
      .select(keys ++ Seq(col("code"),
        explode(array((0 until m).map(mi => col(s"_s$mi")): _*)).as("_e")): _*)
      .select(keys ++ Seq(col("_e.mi").as("mi"), col("code"),
        col("_e.d").as("d")): _*)
  }

  /** Exploded code rows (id, …, mi, code) from an [[encode]] output. */
  private def codesOf(encoded: DataFrame, m: Int): DataFrame = {
    val keys = carried(encoded, (0 until m).map(mi => s"c$mi").toSet)
    encoded.select(keys :+
        explode(array((0 until m).map(mi =>
          struct(lit(mi).as("mi"), col(s"c$mi").as("code"))): _*)).as("_e"): _*)
      .select(keys ++ Seq(col("_e.mi").as("mi"), col("_e.code").as("code")): _*)
  }

  /** Per-(query, candidate) ADC sum over the codes ⋈ LUT join on `on`,
    * ranked to the top k. */
  private def adcRanked(encoded: DataFrame, codebook: DataFrame,
                        queries: DataFrame, m: Int, dim: Int, k: Int,
                        on: Seq[String]): DataFrame = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    require(k >= 1, "k must be >= 1")
    val adc = codesOf(encoded, m).join(lutOf(queries, codebook, m), on)
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("d")).as("adc_dist"))
    rankTopK(adc, k)
  }

  private def rankTopK(adc: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("adc_dist"), col("id"))
    adc.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("adc_dist"))
  }

  /** ADC top-k: queries (qid, qvec ARRAY<DOUBLE>) against an encoded
    * corpus. Returns (qid, rank, id, adc_dist) with rank 1..k by
    * (distance, id). */
  def adcTopK(encoded: DataFrame, codebook: DataFrame, queries: DataFrame,
              m: Int, dim: Int, k: Int): DataFrame =
    adcRanked(encoded, codebook, queries, m, dim, k, Seq("mi", "code"))

  /** The full IVF-PQ search: ADC restricted to each query's IVF bucket.
    * `encoded` is the [[encode]] of an assigned corpus (id, vec, cid) and
    * `queries` are assigned (qid, qvec, cid), both via
    * [[Similarity.assign]] projected to those columns — the bucket id rides
    * through encode and the LUT, so no bucket table is joined back. The
    * candidate join carries it as an EXTRA equi-key, so only same-bucket
    * (query, candidate) pairs are ever scored AND the join shards by
    * bucket — at billion scale this is the |corpus|/|buckets| candidate
    * reduction of q36 stacked on q81's 16x memory compression, the
    * standard IVF-PQ layout (Jégou et al.). Buckets may use a different
    * metric than ADC (cosine assignment over normalized vectors pairs
    * fine with L2 scoring). */
  def adcTopKBucketed(encoded: DataFrame, codebook: DataFrame,
                      queries: DataFrame, m: Int, dim: Int, k: Int): DataFrame =
    adcRanked(encoded, codebook, queries, m, dim, k, Seq("mi", "code", "cid"))
}
