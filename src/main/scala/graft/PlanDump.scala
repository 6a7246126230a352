package graft
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Plan-evidence dump: writes `.explain("formatted")` output for each
  * named registry query to `<outDir>/<name>_<suffix>.txt`, under the
  * exact Bench session config ([[Bench.settings]], same SPARK_GRAFT_*
  * envs), so optimization rounds can commit before/after plan shapes a
  * reader can diff without running Spark.
  * Usage: runMain graft.PlanDump <outDir> <suffix> [name...]
  * (no names = all of Tpch.benchOrder). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: runMain graft.PlanDump <outDir> <suffix> [name...]")
      sys.exit(2)
    }
    val (Array(outDir, suffix), only) = args.splitAt(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (settings, parts) = Bench.settings(sys.env)
    val spark = GraftSession.local(settings)
    // SPARK_GRAFT_BENCH_UNCACHED=true mirrors Bench's uncached lane:
    // plans then show the parquet scans (PushedFilters / ReadSchema)
    // instead of InMemoryRelation.
    if (sys.env.get("SPARK_GRAFT_BENCH_UNCACHED").contains("true"))
      Q.registerAll(spark, sfDir)
    else Q.cacheTables(spark, sfDir, parts)
    new java.io.File(outDir).mkdirs()
    val names = if (only.nonEmpty) only.toSeq else Tpch.benchOrder
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), txt)
        println(s"[plandump] wrote $n")
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[plandump] $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
