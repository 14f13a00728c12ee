package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

class VectorFunctionsSpec extends SparkSpec {

  test("graft_dot with non-nullable literal arrays: correct result, null on null element") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions.dot
    // non-nullable children (CreateArray of literals) — the case where a
    // wrong nullability declaration broke whole-stage codegen compilation
    val df = spark.range(1, 1000)
      .select(dot(array(col("id").cast("double"), lit(2.0)),
        array(lit(3.0), lit(4.0))).as("d"))
    assert(df.as[Double].collect().take(3).toSeq === Seq(11.0, 14.0, 17.0))
    // null element -> null result (composed-form semantics)
    val withNull = spark.sql(
      "SELECT graft_dot(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D))")
    assert(withNull.collect()(0).isNullAt(0))
  }

  test("vecSum aggregates element-wise across partitions (partial merge)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = (1 to 100).map(i => (i % 3, Array(i.toDouble, 1.0)))
      .toDF("k", "v").repartition(8)
    val got = df.groupBy($"k")
      .agg(graft.functions.VectorFunctions.vecSum($"v").as("s"))
      .as[(Int, Array[Double])].collect().toMap
    (0 to 2).foreach { k =>
      val members = (1 to 100).filter(_ % 3 == k)
      assert(got(k).toSeq === Seq(members.map(_.toDouble).sum, members.size.toDouble))
    }
    // SQL surface + null/empty behavior
    df.createOrReplaceTempView("vecs")
    val viaSql = spark.sql(
      "SELECT graft_vecsum(v) FROM vecs WHERE k = 0").collect()(0)
    assert(viaSql.getSeq[Double](0).head > 0)
    val empty = spark.sql(
      "SELECT graft_vecsum(v) FROM vecs WHERE k = 99").collect()(0)
    assert(empty.isNullAt(0))
  }
  test("vecSumLong aggregates element-wise, exactly, across partitions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = (1 to 100).map(i => (i % 3, Array(i.toLong, 1L)))
      .toDF("k", "v").repartition(8)
    val got = df.groupBy($"k")
      .agg(graft.functions.VectorFunctions.vecSumLong($"v").as("s"))
      .as[(Int, Array[Long])].collect().toMap
    (0 to 2).foreach { k =>
      val members = (1 to 100).filter(_ % 3 == k)
      assert(got(k).toSeq === Seq(members.map(_.toLong).sum, members.size.toLong))
    }
    // a row with any null element is skipped whole; empty groups are null
    val withNull = Seq(
      (0, Array[java.lang.Long](1L, 2L)),
      (0, Array[java.lang.Long](10L, null))).toDF("k", "v")
    val s = withNull.groupBy($"k")
      .agg(graft.functions.VectorFunctions.vecSumLong($"v").as("s"))
      .select($"s").as[Array[Long]].collect()
    assert(s.head.toSeq === Seq(1L, 2L))
    val empty = withNull.filter($"k" === 9).groupBy($"k")
      .agg(graft.functions.VectorFunctions.vecSumLong($"v").as("s"))
      .collect()
    assert(empty.isEmpty)
  }

  test("vecSumLong raises on BIGINT overflow in update and in merge, never wraps") {
    import spark.implicits._
    val near = spark.sparkContext
      .parallelize(Seq((0, Array(Long.MaxValue - 1L)), (0, Array(2L))), 2).toDF("k", "v")
    def sumOf(df: org.apache.spark.sql.DataFrame) = df.groupBy($"k")
      .agg(graft.functions.VectorFunctions.vecSumLong($"v").as("s")).collect()
    // one partition: both rows meet in update; two: two partials meet in merge
    Seq(near.coalesce(1), near).foreach { df =>
      val e = intercept[Exception](sumOf(df))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]), e.toString)
    }
  }

  test("vecSumLong rejects ARRAY<DOUBLE> instead of truncating it") {
    import spark.implicits._
    val df = Seq((0, Array(1.5, 2.5))).toDF("k", "v")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.groupBy($"k")
        .agg(graft.functions.VectorFunctions.vecSumLong($"v").as("s"))
        .collect()
    }
    assert(e.getMessage.contains("ARRAY<BIGINT>"), e.getMessage)
  }

  import spark.implicits._

  private def arr(xs: Double*) = array(xs.map(lit): _*)

  test("dot product matches hand computation") {
    val got = Seq(1).toDF("x")
      .select(dot(arr(1.0, 2.0, 3.0), arr(4.0, 5.0, 6.0)).as("d"))
      .head().getDouble(0)
    assert(got === 1 * 4 + 2 * 5 + 3 * 6.0)
  }

  test("axpy: y + alpha*x") {
    val got = Seq(1).toDF("x")
      .select(axpy(lit(0.5), arr(2.0, 4.0), arr(1.0, 1.0)).as("v"))
      .head().getSeq[Double](0)
    assert(got === Seq(2.0, 3.0))
  }

  test("cosine of identical vectors is 1") {
    val got = Seq(1).toDF("x")
      .select(cosine(arr(1.0, 2.0), arr(1.0, 2.0)).as("c"))
      .head().getDouble(0)
    assert(math.abs(got - 1.0) < 1e-12)
  }

  test("anyNaN flags NaN components") {
    val got = Seq(1).toDF("x").select(
      anyNaN(arr(1.0, Double.NaN)).as("a"),
      anyNaN(arr(1.0, 2.0)).as("b")).head()
    assert(got.getBoolean(0) && !got.getBoolean(1))
  }

  test("pqSubDists matches the composed per-subspace aggregate bit-for-bit") {
    import spark.implicits._
    val dim = 8
    val m = 4
    val sub = dim / m
    // pseudo-random but deterministic vectors, including negatives
    val rows = (0 until 50).map { i =>
      (i.toLong,
        Array.tabulate(dim)(j => math.sin(i * 31 + j) * 10),
        Array.tabulate(dim)(j => math.cos(i * 17 + j) * 10))
    }
    val df = rows.toDF("id", "x", "c")
    val composed = (0 until m).map(mi =>
      graft.operators.PQ.subDist(col("x"), col("c"), mi, sub).as(s"d$mi"))
    val got = df.select(
      pqSubDists(col("x"), col("c"), m).as("pd") +: composed: _*)
      .collect()
    got.foreach { r =>
      val pd = r.getSeq[Double](0)
      (0 until m).foreach { mi =>
        // exact ==: both accumulate in component order, so the doubles
        // must be bit-identical, not just close
        assert(pd(mi) == r.getDouble(1 + mi), s"subspace $mi")
      }
    }
    // SQL registration surface + float input cast
    val viaSql = spark.sql(
      "SELECT graft_pq_subdists(array(1.0D, 2.0D, 3.0D, 4.0D)," +
        " array(0.0D, 0.0D, 0.0D, 0.0D), 2) AS pd").head().getSeq[Double](0)
    assert(viaSql === Seq(5.0, 25.0))
    // NULL array null-propagates
    assert(spark.sql(
      "SELECT graft_pq_subdists(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D), 1)")
      .head().isNullAt(0))
  }
}
