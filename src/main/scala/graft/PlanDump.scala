package graft
import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Paths}

/** Measurement tool (optimization rounds): dump `explain("formatted")` for
  * the named declared queries to one text file each — the plan evidence
  * read against plans/rNN/<query>_{before,after}.txt. The session is
  * [[DriverSession]], shared with [[Bench]]/[[Verify]], so the captured
  * plan is the one the bench runs (AQE final plans can still differ at
  * runtime; this is the static plan: join strategy, Exchange count,
  * PushedFilters/ReadSchema, codegen spans). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, namesCsv) = args
    val spark = DriverSession()
    new java.io.File(outDir).mkdirs()
    val names = namesCsv.split(",").map(_.trim).filter(_.nonEmpty)
    names.foreach { prefix =>
      SparkEntry.queries.filter(_._1.startsWith(prefix)).foreach {
        case (name, fn) =>
          val df = fn(spark, sfDir)
          Files.writeString(Paths.get(s"$outDir/$name.txt"),
            df.queryExecution.explainString(FormattedMode))
          graft.plans.Checkpoints.sweep(spark)
      }
    }
    spark.stop()
  }
}
