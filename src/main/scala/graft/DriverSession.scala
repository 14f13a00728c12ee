package graft

import org.apache.spark.sql.SparkSession

/** The one local session of the driver tools ([[Bench]], [[Verify]],
  * [[PlanDump]]), so a captured plan, a verified result and a timed run
  * all come from the same session shape. `SPARK_GRAFT_CPUS` (default 4)
  * sets the local cores and the shuffle partitions; nothing else is
  * settable. */
object DriverSession {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // AQE's default 1 MB coalesce floor is sized for cluster-scale
      // shuffles; at sf0.1 it coalesced CPU-dense post-shuffle stages
      // (BM25 weighting, shingle joins) to 1-2 tasks. Results are
      // partitioning-independent, so this only widens those stages.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
