package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.functions.Portable

/** The reference's wire codecs as column expressions (SURVEY.md §2.2 P1-P5).
  *
  * Model rows travel as `"id,KIND,f1;f2;…;fk"` strings
  * (flink-als/ALSImpl.scala:83-85); consumers re-derive the state key
  * `"id-KIND"` and the factor payload (als-ms/ALSKafkaConsumer.java:73-82).
  * Here both directions are pure Catalyst expressions, so encode/parse live
  * inside whole-stage codegen instead of per-record Java string churn.
  *
  * Doubles are printf-formatted to 6 decimals on encode so the
  * representation is cross-engine deterministic (JVM vs C double-to-string
  * default formatting differs; %.6f does not).
  */
object ModelCodec extends QueryPack {

  /** P1: (id, kind, factors ARRAY<DOUBLE>) -> "id,KIND,f1;f2;…" */
  def encodeRecord(id: Column, kind: Column, factors: Column): Column =
    concat_ws(",", id, kind,
      concat_ws(";", transform(factors, f => format_string("%.6f", f))))

  /** P2/P3: record string -> (id, kind, factors). try_element_at/try_cast
    * throughout: a truncated or non-numeric wire record parses to nulls
    * (dropped downstream) instead of throwing under ANSI mode — one poison
    * record must not kill a streaming consumer. */
  def parseId(rec: Column): Column =
    try_element_at(split(rec, ","), lit(1)).try_cast("long")
  def parseKind(rec: Column): Column =
    try_element_at(split(rec, ","), lit(2))
  def parseFactors(rec: Column): Column =
    transform(split(try_element_at(split(rec, ","), lit(3)), ";"),
      s => s.try_cast("double"))

  /** P4: state key "id-KIND" (ALSKafkaConsumer.java:78-80). Uses the RAW
    * id field, not the numeric parse — the mean rows are keyed "MEAN-U" /
    * "MEAN-I" (ALSMeanVector.scala:35, SGD.java:142-147) and must survive. */
  def stateKey(rec: Column): Column =
    concat_ws("-", try_element_at(split(rec, ","), lit(1)), parseKind(rec))

  /** State-key kinds: ALS user/item factors, SVM weights, the weight
    * buckets of [[SvmPack.bucketedStore]]; and the id of the served mean
    * vectors (ALSMeanVector.scala:35), whose keys [[MeanU]] / [[MeanI]]
    * are the per-side fallback for a key absent from the model. */
  val User = "U"
  val Item = "I"
  val Weight = "W"
  val Bucket = "B"
  val MeanId = "MEAN"
  val MeanU: String = key(MeanId, User)
  val MeanI: String = key(MeanId, Item)

  /** The one spelling of the state key "id-KIND": a Scala string for point
    * reads, a Column for writes, and the parse of (key, factors) rows into
    * one kind's (`idCol`, `vecCol`) table — non-numeric ids (the MEAN rows)
    * are dropped. */
  def key(id: Long, kind: String): String = s"$id-$kind"
  def key(id: String, kind: String): String = s"$id-$kind"
  def keyCol(id: Column, kind: String): Column = concat(id, lit(s"-$kind"))
  def keyedFactors(kv: DataFrame, kind: String, idCol: String,
                   vecCol: String): DataFrame =
    kv.filter(col("key").endsWith(s"-$kind"))
      .select(split(col("key"), "-").getItem(0).try_cast("long").as(idCol),
        col("factors").as(vecCol))
      .filter(col(idCol).isNotNull)

  /** P5: the SVM kv wire codec (svm-ms/SVMKafkaConsumer.java:74-82).
    * Weights travel as `"featureId,weight"`; the consumer derives state
    * key `"fid-W"` and the double payload. Same poison-record policy as
    * the ALS codec: malformed fields parse to null, never throw. */
  def encodeSvmRecord(featureId: Column, w: Column): Column =
    concat_ws(",", featureId, format_string("%.6f", w))
  def parseSvmWeight(rec: Column): Column =
    try_element_at(split(rec, ","), lit(2)).try_cast("double")
  def svmStateKey(rec: Column): Column =
    concat_ws("-", try_element_at(split(rec, ","), lit(1)), lit(Weight))

  /** "user,item,rating" lines in a `value` column (the SGD/MSE wire input,
    * SGD.java:96-110) -> (user_id, item_id, rating). Null-safe: a malformed
    * field parses to null and its row is dropped — a poison record must not
    * kill a streaming query, nor produce a null state key downstream. */
  def parseRatings(lines: DataFrame): DataFrame = {
    def field(i: Int, tpe: String) =
      try_element_at(split(col("value"), ","), lit(i)).try_cast(tpe)
    lines.select(field(1, "long").as("user_id"), field(2, "long").as("item_id"),
        field(3, "double").as("rating"))
      .filter(col("user_id").isNotNull && col("item_id").isNotNull
        && col("rating").isNotNull)
  }

  // ---- driver-contract queries -------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P1 + P2 round-trip: encode user factors, parse back, project a component.
    "q02_codec_roundtrip" -> ((s, dir) => {
      val rec = encodeRecord(col("user_id"), lit("U"), col("uf")).as("record")
      Ratings.userFactors(s, dir).select(col("user_id"), rec)
        .select(
          parseId(col("record")).as("user_id"),
          parseKind(col("record")).as("kind"),
          col("record"),
          element_at(parseFactors(col("record")), 1).as("f1"))
        .orderBy("user_id")
    }),
    // P4 + union: records from both factor tables -> state keys.
    "q03_state_keys" -> ((s, dir) => {
      val u = Ratings.userFactors(s, dir)
        .select(encodeRecord(col("user_id"), lit("U"), col("uf")).as("record"))
      val i = Ratings.itemFactors(s, dir)
        .select(encodeRecord(col("item_id"), lit("I"), col("itf")).as("record"))
      u.union(i)
        .select(stateKey(col("record")).as("key"),
          element_at(parseFactors(col("record")), 2).as("f2"))
        .orderBy("key")
    }),
    // P5 round-trip: SVM weights over the wire and back to "fid-W" store
    // keys (SVMKafkaConsumer.java:74-82) — plus a poison record unioned in
    // to pin the parse-to-null policy (it must survive as a null weight,
    // not kill the query).
    "q49_svm_wire_codec" -> ((s, dir) => {
      val recs = SvmPack.weights(s, dir)
        .select(encodeSvmRecord(col("feature_id"), col("w")).as("record"))
        .union(s.range(1).select(lit("not-a-feature").as("record")))
      recs.select(
          svmStateKey(col("record")).as("key"),
          parseSvmWeight(col("record")).as("weight"),
          parseSvmWeight(col("record")).isNull.as("poison"))
        .orderBy("key")
    })
  )

  private def recordSql(id: String, kind: String, k: Int): String = {
    val parts = (1 to k).map(j => s"printf('%.6f', ${Portable.factorSql(id, j)})")
    s"concat_ws(',', $id, '$kind', concat_ws(';', ${parts.mkString(", ")}))"
  }

  def oracles: Map[String, String] = {
    val k = Ratings.DefaultK
    Map(
      "q02_codec_roundtrip" ->
        s"""WITH recs AS (SELECT c_custkey, ${recordSql("c_custkey", "U", k)} AS record FROM customer)
           |SELECT CAST(string_split(record, ',')[1] AS BIGINT) AS user_id,
           |       string_split(record, ',')[2] AS kind,
           |       record,
           |       CAST(string_split(string_split(record, ',')[3], ';')[1] AS DOUBLE) AS f1
           |FROM recs ORDER BY user_id""".stripMargin,
      "q03_state_keys" ->
        s"""WITH recs AS (
           |  SELECT ${recordSql("c_custkey", "U", k)} AS record FROM customer
           |  UNION ALL
           |  SELECT ${recordSql("p_partkey", "I", k)} AS record FROM part)
           |SELECT concat_ws('-', string_split(record, ',')[1], string_split(record, ',')[2]) AS key,
           |       CAST(string_split(string_split(record, ',')[3], ';')[2] AS DOUBLE) AS f2
           |FROM recs ORDER BY key""".stripMargin,
      "q49_svm_wire_codec" ->
        s"""WITH w AS (${SvmPack.weightsSql}),
           |recs AS (
           |  SELECT concat_ws(',', feature_id, printf('%.6f', w)) AS record FROM w
           |  UNION ALL
           |  SELECT 'not-a-feature' AS record)
           |SELECT concat_ws('-', string_split(record, ',')[1], 'W') AS key,
           |       TRY_CAST(string_split(record, ',')[2] AS DOUBLE) AS weight,
           |       TRY_CAST(string_split(record, ',')[2] AS DOUBLE) IS NULL AS poison
           |FROM recs ORDER BY key""".stripMargin
    )
  }
}
