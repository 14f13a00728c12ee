package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over ARRAY<DOUBLE> columns via Catalyst higher-order
  * functions — codegen-friendly, no UDFs (SURVEY.md §2.2 P12).
  *
  * Reference semantics: dot product + axpy-style factor updates computed
  * with per-element Java loops (als-ms/SGD.java:182-207,
  * flink-queryable-client/ALSPredict.java:74-82, als-ms/MSE.java:150-154).
  * Here they are column expressions so Catalyst can pipeline them inside
  * whole-stage codegen.
  *
  * Fold order note: `dot` accumulates left-to-right from 0.0, which matches
  * a left-associated `a1*b1 + a2*b2 + …` in ANSI SQL bit-for-bit — relied on
  * by the DuckDB oracles.
  */
object VectorFunctions {

  /** Σ a_i * b_i — a native codegen expression (see
    * [[graft.functions.expressions.DotProduct]]); bit-identical to the
    * composed `aggregate(zip_with(...))` form it replaced, minus the
    * interpreted-lambda and allocation cost that dominated all-pairs
    * similarity scans. */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    // direct expression construction: no function-registry lookup, so the
    // column can be built on any thread regardless of active session
    // (SQL users still get graft_dot via GraftExtensions)
    column(graft.functions.expressions.DotProduct(
      Cast(expression(a), ArrayType(DoubleType)),
      Cast(expression(b), ArrayType(DoubleType))))
  }

  /** Σ a_i² (no sqrt — exact-compare friendly); same fused loop as [[dot]]. */
  def sqNorm(a: Column): Column = dot(a, a)

  /** All `m` PQ subspace squared-L2 distances in one fused pass — an
    * ARRAY<DOUBLE> of length m (see
    * [[graft.functions.expressions.PqSubDists]]); replaces m separate
    * `aggregate(zip_with(slice, slice))` chains on the PQ encode join. */
  def pqSubDists(a: Column, b: Column, m: Int): Column = {
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    column(graft.functions.expressions.PqSubDists(
      Cast(expression(a), ArrayType(DoubleType)),
      Cast(expression(b), ArrayType(DoubleType)), m))
  }

  /** Element-wise sum AGGREGATE over ARRAY<DOUBLE> rows — one mutable
    * buffer per group with map-side combine (see
    * [[graft.functions.expressions.VectorSumAgg]]); replaces
    * posexplode→per-pos-sum→re-assemble and its extra shuffle. Callers:
    * the SGD gradient ([[graft.streaming.SgdUpdater]]) and
    * [[graft.operators.Training.meanVector]] (the MEAN rows, q04). */
  def vecSum(a: Column): Column = {
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    column(graft.functions.expressions.VectorSumAgg(
      Cast(expression(a), ArrayType(DoubleType)))
      .toAggregateExpression())
  }

  /** [[vecSum]]'s exact-integer twin over ARRAY<BIGINT> rows (see
    * [[graft.functions.expressions.VectorSumLongAgg]]): BIGINT adds are
    * associative, so fixed-point vector sums reproduce bit-for-bit under
    * any partitioning. Callers: the q241 Lloyd round, q109's pooled means,
    * q214's per-dimension sums and the q166/q228 label centroids
    * ([[graft.operators.VectorPack.labelCentroids]]). The argument must
    * already be ARRAY<BIGINT>: an ARRAY<DOUBLE> fails analysis rather than
    * being silently truncated to integers. */
  def vecSumLong(a: Column): Column = {
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    column(graft.functions.expressions.VectorSumLongAgg(expression(a))
      .toAggregateExpression())
  }

  def l2Norm(a: Column): Column = sqrt(sqNorm(a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Cosine with the zero-norm guard: x/0 is NaN in Spark (and NaN sorts
    * ABOVE every real under max), while SQL twins yield NULL — emitting
    * NULL here keeps both engines skipping degenerate vectors identically.
    * ONE definition shared by the retrieval packs; [[cosineOrNullSql]] is
    * its DuckDB twin so the guard convention cannot drift. */
  def cosineOrNull(a: Column, b: Column): Column = {
    val den = l2Norm(a) * l2Norm(b)
    when(den === 0.0, lit(null)).otherwise(dot(a, b) / den)
  }

  /** [[cosineOrNull]] from precomputed squared norms (`n2a`, `n2b`: one dot
    * per pair), rounded to 4 places — the similarity lattice shared by the
    * retrieval packs, IVF assignment and [[graft.streaming.AnnServe]], so
    * every score they compare is computed the same way. */
  def cosineRound4(va: Column, n2a: Column, vb: Column, n2b: Column): Column = {
    val denom = sqrt(n2a) * sqrt(n2b)
    round(when(denom === 0.0, lit(null).cast("double"))
      .otherwise(dot(va, vb) / denom), 4)
  }

  /** DuckDB twin of [[cosineOrNull]] over ALREADY-DOUBLE list columns of
    * length `dim` (callers cast FLOAT[] once in a CTE; list_transform +
    * list_sum preserves the same sequential fold order as the engine's
    * array aggregate). */
  def cosineOrNullSql(a: String, b: String, dim: Int): String = cosineSql(a, b, dim, identity)

  /** DuckDB twin of [[cosineRound4]] over FLOAT[] or DOUBLE[] list columns
    * of length `dim`: each element is cast to DOUBLE (a no-op on DOUBLE
    * lists) before the products, and the cosine is rounded to 4 places. */
  def cosineRound4Sql(a: String, b: String, dim: Int): String =
    s"ROUND(${cosineSql(a, b, dim, e => s"CAST($e AS DOUBLE)")}, 4)"

  private def cosineSql(a: String, b: String, dim: Int,
                        elem: String => String): String = {
    def dotS(x: String, y: String) =
      s"list_sum(list_transform(generate_series(1, $dim), i -> ${elem(s"$x[i]")} * ${elem(s"$y[i]")}))"
    val den = s"(sqrt(${dotS(a, a)}) * sqrt(${dotS(b, b)}))"
    s"CASE WHEN $den = 0.0 THEN NULL ELSE ${dotS(a, b)} / $den END"
  }

  /** y + alpha * x, elementwise (the SGD update kernel, SGD.java:193-206). */
  def axpy(alpha: Column, x: Column, y: Column): Column =
    zip_with(x, y, (xi, yi) => yi + alpha * xi)

  def scale(a: Column, s: Column): Column = transform(a, x => x * s)

  def add(a: Column, b: Column): Column = zip_with(a, b, (x, y) => x + y)

  def sub(a: Column, b: Column): Column = zip_with(a, b, (x, y) => x - y)

  /** True iff any component is NaN (P11 NaN guard, SGDV0.java:207-226). */
  def anyNaN(a: Column): Column =
    exists(a, x => isnan(x))

  /** Cast an ARRAY<FLOAT> column (e.g. embeddings) to ARRAY<DOUBLE>. */
  def toDoubleArray(a: Column): Column = a.cast("array<double>")
}
