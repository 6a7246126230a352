package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** `SPARK_GRAFT_CPUS` cores (default 4), as many shuffle partitions,
    * AQE on. */
  def settings(env: Map[String, String]): GraftSession.Local = {
    val cpus = GraftSession.cpus(env, 4)
    GraftSession.Local(cpus, cpus, aqe = true)
  }

  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), only) = args.splitAt(2)
    val spark = GraftSession.local(settings(sys.env))
    new java.io.File(outDir).mkdirs()
    // Stale-dump guard (r19 verdict item 7): stamp the run's start BEFORE
    // any dump is written. tools/selfcheck.py refuses any query dump older
    // than this marker, so a query that THROWS here (leaving a previous
    // run's dump in place) can no longer pass the gate silently.
    Files.writeString(Paths.get(s"$outDir/run_started"),
      java.time.Instant.now().toString)
    // NonFatal only: a fatal error (OOM, stack overflow) kills the run
    // instead of being logged as one more failed query
    val failed = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .toSeq.flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // exit non-zero after both are written, naming every query that threw
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} queries failed: ${failed.mkString(" ")}")
      sys.exit(1)
    }
  }
}
