package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** db-benchmark (h2oai) analog — the reference ships the harness without
  * published numbers (`/root/reference/benchmarks/db-benchmark/
  * groupby-datafusion.py:89-100`, `join-datafusion.py`), so the comparison
  * partner here is DuckDB on the SAME derived data (tools/h2o_duckdb.py
  * runs the identical derivation + queries; BENCH_H2O.md records both).
  *
  * The h2o shape: one wide fact `x` with low/medium/high-cardinality
  * string keys (id1-id3), int keys (id4-id6) and numeric payloads
  * (v1-v3), 10 groupby questions + 3 joins (small / medium dims by key
  * cardinality, and a big-big self-shaped join). The fact is derived
  * deterministically from the driver corpus's `events` table inflated
  * REP× (default 100 → 10M rows at sf0.1) — no synthetic RNG, both
  * engines compute byte-identical inputs from the same parquet.
  *
  * Scale notes (the point of the exercise, not the absolute numbers):
  * every question is a single hash-shuffle keyed aggregation or a keyed
  * equi-join — the shapes that scale linearly with executors. g6's
  * median is the exact-percentile sort-based aggregate; g8's top-2 is a
  * ranked window per key (no global sort); the joins broadcast the
  * small/medium dims and shuffle only the big-big case.
  */
object H2oBench {

  /** Deterministic h2o-shaped fact from events × range(REP). */
  def buildX(s: SparkSession, sfDir: String, rep: Int): DataFrame = {
    val ev = s.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("user_id"), col("value"))
    val n = ev.count() * rep
    val hi = math.max(n / 10, 1L)
    ev.crossJoin(s.range(rep.toLong).toDF("r"))
      .select(
        concat(lit("id"), (col("user_id") % 10).cast("string")).as("id1"),
        concat(lit("id"), ((col("user_id") + col("r")) % 100).cast("string")).as("id2"),
        concat(lit("id"),
          ((col("event_id") * rep + col("r")) % hi).cast("string")).as("id3"),
        (col("user_id") % 7).cast("int").as("id4"),
        ((col("user_id") + col("r")) % 77).cast("int").as("id5"),
        ((col("event_id") * rep + col("r")) % hi).cast("long").as("id6"),
        ((col("event_id") + col("r")) % 5 + 1).cast("int").as("v1"),
        // v2 must not be a function of any single key column, or corr()
        // degenerates to a constant within groups (g9)
        ((col("event_id") * 3 + col("user_id")) % 5 + 1).cast("int").as("v2"),
        round(col("value") * (col("r") + 1) / rep, 6).as("v3"))
  }

  def queries(x: DataFrame): Seq[(String, () => DataFrame)] = {
    val s = x.sparkSession
    import org.apache.spark.sql.expressions.Window
    // join dims, h2o-style: one per key cardinality, payload column each —
    // cached like db-benchmark's pre-loaded RHS tables (the first, untimed
    // warmup pass materializes them)
    lazy val dimSmall = x.select("id1").distinct()
      .withColumn("w1", length(col("id1")).cast("double")).cache()
    lazy val dimMedium = x.select("id2").distinct()
      .withColumn("w2", length(col("id2")).cast("double")).cache()
    lazy val dimBig = x.select("id3").distinct()
      .withColumn("w3", length(col("id3")).cast("double")).cache()
    Seq(
      "g1_sum_by_id1" -> (() =>
        x.groupBy("id1").agg(sum("v1").as("v1"))),
      "g2_sum_by_id1_id2" -> (() =>
        x.groupBy("id1", "id2").agg(sum("v1").as("v1"))),
      "g3_sum_mean_by_id3" -> (() =>
        x.groupBy("id3").agg(sum("v1").as("v1"), avg("v3").as("v3"))),
      "g4_mean_by_id4" -> (() =>
        x.groupBy("id4").agg(avg("v1").as("v1"), avg("v2").as("v2"),
          avg("v3").as("v3"))),
      "g5_sum_by_id6" -> (() =>
        x.groupBy("id6").agg(sum("v1").as("v1"), sum("v2").as("v2"),
          sum("v3").as("v3"))),
      "g6_median_sd_by_id4_id5" -> (() =>
        // Spark's native median story is the mergeable approx sketch
        // (DuckDB's median is exact); accuracy 2500 ≈ 0.04% rank error
        x.groupBy("id4", "id5").agg(
          percentile_approx(col("v3"), lit(0.5), lit(2500)).as("median_v3"),
          stddev(col("v3")).as("sd_v3"))),
      "g7_range_by_id3" -> (() =>
        x.groupBy("id3").agg((max("v1") - min("v2")).as("range_v1_v2"))),
      "g8_top2_by_id6" -> (() => {
        val w = Window.partitionBy("id6").orderBy(col("v3").desc)
        x.select(col("id6"), col("v3"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2).drop("rn")
      }),
      "g9_r2_by_id2_id4" -> (() =>
        x.groupBy("id2", "id4").agg(pow(corr("v1", "v2"), 2).as("r2"))),
      "g10_sum_count_by_id1_6" -> (() =>
        x.groupBy("id1", "id2", "id3", "id4", "id5", "id6")
          .agg(sum("v3").as("v3"), count(lit(1)).as("n"))),
      "j_small_on_id1" -> (() =>
        x.join(broadcast(dimSmall), "id1")
          .groupBy("id1").agg(sum(col("v1") * col("w1")).as("s"))),
      "j_medium_on_id2" -> (() =>
        x.join(broadcast(dimMedium), "id2")
          .groupBy("id2").agg(sum(col("v1") * col("w2")).as("s"))),
      "j_big_on_id3" -> (() =>
        // high-cardinality RHS: a genuine shuffle join (no broadcast)
        x.join(dimBig, "id3")
          .groupBy("id4").agg(sum(col("v3") * col("w3")).as("s"))))
  }

  /** Session and fact partition count for `env`: `SPARK_GRAFT_CPUS` cores,
    * `SPARK_GRAFT_BENCH_SHUFFLE` / `SPARK_GRAFT_BENCH_PARTS` (32 each), AQE
    * on unless `SPARK_GRAFT_AQE=false`, 64MB broadcast threshold. */
  def settings(env: Map[String, String]): (GraftSession.Local, Int) = {
    import GraftSession._
    (Local(cpus(env, 32), envInt(env, "SPARK_GRAFT_BENCH_SHUFFLE", 32),
      envBool(env, "SPARK_GRAFT_AQE", true), Some("64MB")),
      envInt(env, "SPARK_GRAFT_BENCH_PARTS", 32))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rep = sys.env.getOrElse("SPARK_GRAFT_H2O_REP", "100").toInt
    val (settings, parts) = H2oBench.settings(sys.env)
    val spark = GraftSession.local(settings)

    // setup (untimed, mirrors db-benchmark loading the fact into memory).
    // MEMORY_AND_DISK, not MEMORY_ONLY: when the inflated fact outgrows
    // the storage pool (REP=1000 at the default 8g heap), evicted
    // partitions must spill to disk, not silently re-run the crossJoin
    // derivation inside every timed query.
    val x = buildX(spark, sfDir, rep)
      .repartition(parts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rows = x.count()

    val qs = queries(x)
    def run(name: String, f: () => DataFrame): Double = {
      val t0 = System.nanoTime()
      try f().write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[h2o] $name failed: ${e.getMessage}"); return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }
    qs.foreach { case (n, f) => run(n, f) } // warmup: JIT + codegen + dims
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "5").toInt
    val results = qs.map { case (n, f) =>
      n -> Seq.fill(iters)(run(n, f)).filter(_ >= 0).sorted
    }
    val body = results.map { case (k, ok) =>
      val med = if (ok.isEmpty) -1.0 else ok(ok.size / 2)
      "\"" + k + "\":" + f"$med%.3f"
    }.mkString("{", ",", "}")
    val total = results.map { case (_, ok) =>
      if (ok.isEmpty) 0.0 else ok(ok.size / 2) }.sum
    println(f"""{"metric":"h2o_total","value":$total%.3f,"unit":"sec","rows":$rows,"queries":$body}""")
    spark.stop()
  }
}
