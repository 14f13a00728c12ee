package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Upper bounds on the generated classes one collect of a query compiles.
  * Spark's codegen cache holds 100 classes by default (a static, JVM-wide
  * conf), so a pass of queries that generates more than that evicts and
  * recompiles on every warm run; the class count is what decides it.
  *
  * The count is the number of compilations `CodegenMetrics` records
  * while the query is built (its eager checkpoints included) and
  * collected once. Classes that
  * earlier suites compiled are cache hits and are not counted, so running
  * after other suites can only lower the count: an upper bound is stable
  * under any suite order. Each bound is the count measured on a fresh JVM
  * plus a margin of about a quarter for Spark-version and plan drift. */
class CompileCountSpec extends SparkSpec {

  private def compiles(q: String): Long = {
    graft.plans.Checkpoints.sweep(spark)
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    SparkEntry.queries(q)(spark, sf0).collect()
    val n = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    graft.plans.Checkpoints.sweep(spark)
    n
  }

  test("q153 and q180 stay under their generated-class bounds") {
    // first collect in a fresh JVM: q153 35 classes, q180 33 (the
    // one-scan-per-table audit and the row-local Jaccard verify; the
    // broadcast anti-join audit compiled 89, the join-form verify 43+)
    val n153 = compiles("q153_ref_integrity")
    val n180 = compiles("q180_minhash_estimate")
    info(s"generated classes: q153 $n153, q180 $n180")
    assert(n153 <= 44L, s"q153 compiled $n153 classes")
    assert(n180 <= 42L, s"q180 compiled $n180 classes")
  }
}
