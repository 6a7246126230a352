package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every main builds its session through [[GraftSession.local]]; these
  * pins fix each caller's settings (master, shuffle, AQE, broadcast
  * threshold, table partitions) for a given env. They evaluate the
  * settings functions only, so no second SparkContext starts. */
class SessionFactorySpec extends AnyFunSuite {
  import GraftSession.Local

  private def cpus(n: Int) = Map("SPARK_GRAFT_CPUS" -> n.toString)
  private val Broadcast64 = Some("64MB")

  test("Bench derives parts and shuffle from cpus") {
    assert(Bench.settings(cpus(4)) == (Local(4, 4, aqe = false, Broadcast64), 8))
    assert(Bench.settings(cpus(8)) == (Local(8, 4, aqe = false, Broadcast64), 8))
    assert(Bench.settings(cpus(32)) == (Local(32, 8, aqe = false, Broadcast64), 32))
    assert(Bench.settings(Map.empty) == Bench.settings(cpus(32)))
  }

  test("Bench env overrides win; a malformed value falls back to the default") {
    val env = cpus(4) ++ Map("SPARK_GRAFT_BENCH_PARTS" -> "16",
      "SPARK_GRAFT_BENCH_SHUFFLE" -> "6", "SPARK_GRAFT_AQE" -> "true")
    assert(Bench.settings(env) == (Local(4, 6, aqe = true, Broadcast64), 16))
    assert(Bench.settings(Map("SPARK_GRAFT_CPUS" -> "many")) ==
      Bench.settings(cpus(32)))
    assert(Bench.settings(cpus(4) + ("SPARK_GRAFT_AQE" -> "yes"))._1.aqe == false)
  }

  test("PipeBench, Verify, H2oBench and ScaleBench keep their sessions") {
    assert(PipeBench.settings(Map.empty) == Local(32, 32, aqe = true))
    assert(PipeBench.settings(cpus(4)) == Local(4, 32, aqe = true))
    assert(Verify.settings(Map.empty) == Local(4, 4, aqe = true))
    assert(Verify.settings(cpus(8)) == Local(8, 8, aqe = true))
    assert(H2oBench.settings(Map.empty) ==
      (Local(32, 32, aqe = true, Broadcast64), 32))
    assert(H2oBench.settings(cpus(4) ++ Map("SPARK_GRAFT_AQE" -> "false",
      "SPARK_GRAFT_BENCH_SHUFFLE" -> "16", "SPARK_GRAFT_BENCH_PARTS" -> "64")) ==
      (Local(4, 16, aqe = false, Broadcast64), 64))
    assert(ScaleBench.settings == Local(32, 32, aqe = true))
    assert(SparkSpec.settings == Local(8, 8, aqe = true))
  }

  test("Local carries the constants every session shares") {
    val l = Local(4, 4, aqe = false)
    assert(l.master == "local[4]")
    assert(l.conf == Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false"))
    assert(l.copy(broadcastThreshold = Broadcast64).conf ==
      l.conf + ("spark.sql.autoBroadcastJoinThreshold" -> "64MB"))
  }

  test("the shared spec session runs its factory settings") {
    val spark = SparkSpec.spark
    assert(spark.sparkContext.master == SparkSpec.settings.master)
    // a fresh session sees the start-up conf, not what other specs set
    val fresh = spark.newSession()
    SparkSpec.settings.conf.foreach { case (k, v) =>
      assert(fresh.conf.get(k) == v, k)
    }
  }
}
