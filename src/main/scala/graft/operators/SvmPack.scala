package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.functions.Portable

/** SVM model layout + sparse prediction operators (SURVEY.md §2.2 P6/P7,
  * §2.4 A2/A6, §2.3 J4).
  *
  * The reference exports a flat `(featureId, weight)` model plus a
  * range-partitioned layout `"bucket,idx:w;idx:w;…"` with
  * bucket = featureId / range (flink-svm/SVMImpl.scala:33-44,63-71), then
  * amortizes client lookups per bucket
  * (RangePartitionSVMPredict.java:56-106). In Spark the bucketed layout is a
  * grouped sorted aggregation, and the "N lookups per query vector" becomes
  * one equi-join of the exploded query vectors against the weight table.
  */
object SvmPack extends QueryPack {

  val Range = 1000

  /** Weight fixture: one weight per part key, uniform(-10, 10) via LCG —
    * mirrors SVMModelGenerator.scala:30-52's distributional role. */
  def weights(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.table(spark, dir, "part")
      .select(
        col("p_partkey").as("feature_id"),
        (Portable.lcgUnit(col("p_partkey"), 1) * 20.0 - 10.0).as("w"))

  def weightsSql: String =
    s"SELECT p_partkey AS feature_id, (${Portable.lcgUnitSql("p_partkey", 1)} * 20.0 - 10.0) AS w FROM part"

  /** P7 bucket assignment: featureId / range, true integer division (the
    * `div` operator — a double-division round trip would lose exactness
    * past 2^53, mis-bucketing hashed feature ids at the 100 TB scale).
    * Feature ids are 1-based positive per the reference's layout. */
  def bucketOf(featureId: Column): Column =
    call_function("div", featureId.cast("long"), lit(Range.toLong))

  /** A2 payload: "idx:w;idx:w;…" sorted by feature id, %.6f weights —
    * shared by the q05 layout and the q19 generated-model layout. */
  def payloadExpr: Column =
    concat_ws(";",
      transform(
        array_sort(collect_list(struct(col("feature_id"), col("w")))),
        e => concat_ws(":",
          e.getField("feature_id"),
          format_string("%.6f", e.getField("w")))))

  /** Load the range-partitioned export ("bucket,idx:w;…" payload rows,
    * the q05 layout) into a bucket-keyed serving store: key "bucket-B",
    * value = range-sized array with weights at `idx % range` offsets —
    * the layout RangePartitionSVMPredict.java:63-70 amortizes lookups
    * against, read by PredictService.predictBucketed. */
  def bucketedStore(layout: DataFrame,
                    range: Int = Range): graft.streaming.ServingStore.FactorStore = {
    val store = graft.streaming.ServingStore.factorStore()
    layout.select(col("bucket").cast("long"), col("payload")).collect().foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val packed = new Array[Double](range)
        r.getString(1).split(";").filter(_.nonEmpty).foreach { kv =>
          // tolerate malformed entries — the model bootstrap gets the same
          // poison-record policy as the wire codecs (skip, don't die)
          kv.split(":") match {
            case Array(idx, w) =>
              try packed((idx.toLong % range).toInt) = w.toDouble
              catch { case _: NumberFormatException =>
                System.err.println(s"[bucketedStore] skipping bad entry '$kv'")
              }
            case _ =>
              System.err.println(s"[bucketedStore] skipping bad entry '$kv'")
          }
        }
        store.put(ModelCodec.key(r.getLong(0), ModelCodec.Bucket), packed)
      }
    }
    store
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // P7 + A2: range-partitioned model export "bucket,idx:w;…" — grouped
    // sorted string aggregation (SVMImpl.scala:40-44,63-71). sort_array
    // makes the within-bucket order deterministic (the reference relies on
    // implicit order; SURVEY.md §7.4).
    "q05_range_partition" -> ((s, dir) => {
      weights(s, dir)
        .groupBy(bucketOf(col("feature_id")).as("bucket"))
        .agg(payloadExpr.as("payload"), count(lit(1)).as("n_features"))
        .orderBy("bucket")
    }),

    // J4 + A6: sparse dot product — query vectors are each order's
    // (partkey: quantity) pairs; prediction = Σ w_f * x_f. One shuffle on
    // the group key; weight side broadcast.
    "q09_sparse_predict" -> ((s, dir) => {
      graft.sources.Tables.table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey").as("feature_id"),
          col("l_quantity").as("x"))
        .join(broadcast(weights(s, dir)), "feature_id")
        .groupBy(col("l_orderkey"))
        .agg(round(sum(col("w") * col("x")), 6).as("prediction"),
          count(lit(1)).as("n_features"))
        .orderBy("l_orderkey")
    })
  )

  def oracles: Map[String, String] = Map(
    "q05_range_partition" ->
      s"""WITH w AS ($weightsSql)
         |SELECT CAST(feature_id // $Range AS BIGINT) AS bucket,
         |       string_agg(printf('%d:%.6f', CAST(feature_id AS BIGINT), w), ';' ORDER BY feature_id) AS payload,
         |       CAST(COUNT(*) AS BIGINT) AS n_features
         |FROM w GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q09_sparse_predict" ->
      s"""WITH w AS ($weightsSql)
         |SELECT l_orderkey,
         |       ROUND(SUM(w * l_quantity), 6) AS prediction,
         |       CAST(COUNT(*) AS BIGINT) AS n_features
         |FROM lineitem JOIN w ON l_partkey = feature_id
         |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin
  )
}
