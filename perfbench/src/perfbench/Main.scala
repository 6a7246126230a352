package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.graftcol.NativeFrame
import org.apache.spark.sql.types.StructType

import graft.{Q, SparkEntry, Tpch}

/** One workload run of the engine benchmark; `perfbench/run.py` launches
  * it and turns the run record it writes into metrics.
  *
  * Closed loop, one op at a time, on one `local[cpus]` session:
  *  1. set up `setup-reps` times: start the session, register or cache the
  *     tables (every rep but the last is torn down again);
  *  2. prepared workloads build and plan every op once;
  *  3. a cold first pass runs every op once and keeps its rows for the
  *     oracle; workloads whose ops keep compiling for several passes then
  *     run untimed warm-up passes;
  *  4. the timed region runs passes over the ops, each in a seeded order,
  *     until `seconds` have passed (at least one full pass); with
  *     `--trace 1` every op runs twice in a row, once with the [[Tracer]]
  *     attached and once without, the order alternating from op to op;
  *  5. the first pass's rows are written out for the oracle comparison.
  *
  * Arguments: --workload --seed --seconds --trace --data --out --setup-reps
  * --passes (0 = run by time; n = exactly n timed passes). */
object Main {
  final case class Lane(name: String, ops: Seq[String], cached: Boolean,
      prepared: Boolean, aqe: Boolean, shuffle: Int,
      broadcastThreshold: Option[String], warmupPasses: Int)

  /** LLM-pipeline registry ops: eager construction (graph_pagerank's
    * checkpoint loop), a distributed rank primitive (event_rfm's ntile
    * buckets) and a bucketed table written to the warehouse and read back. */
  val PipelineOps: Seq[String] = Seq("graph_pagerank", "event_rfm", "join_bucketed")

  def lane(name: String, cpus: Int): Lane = name match {
    // the session graft.Bench runs: parts and shuffle derived from cpus.
    // A prepared query's second pass already runs as fast as its fifth.
    case "tpch_prepared" => Lane(name, Tpch.benchOrder, cached = true,
      prepared = true, aqe = false, math.max(4, cpus / 4), Some("64MB"), 0)
    case "tpch_adhoc" => Lane(name, Tpch.benchOrder, cached = false,
      prepared = false, aqe = false, math.max(4, cpus / 4), Some("64MB"), 0)
    // the session graft.PipeBench runs. Its ops still get faster from the
    // second pass to the fifth (graph_pagerank 2.9 s, 2.4, 2.4, 2.2, 1.8 on
    // 4 cores), so one untimed pass follows the first.
    case "pipeline_mix" => Lane(name, PipelineOps, cached = false,
      prepared = false, aqe = true, 32, None, 1)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def jobGroup(sample: Long, op: String, phase: String): String =
    s"perfbench/$sample/$op/$phase"

  /** One op sample: phase wall times and, when traced, what each phase did. */
  final class Sample(val op: String, val id: Long, val pass: Int) {
    val phases = mutable.LinkedHashMap[String, (Long, Long)]()
    val counters = mutable.LinkedHashMap[String, Counters]()
    var startNs, endNs = 0L
    var error: String = null
    var plan: PlanStats = null
    var pinnedBytes = 0L
    def ms(ns: Long): Double = ns / 1e6
    def toMap: Map[String, Any] = Map(
      "op" -> op, "sample" -> id, "pass" -> pass, "ok" -> (error == null),
      "error" -> Option(error), "wall_ms" -> ms(endNs - startNs),
      "phases_ms" -> phases.map { case (k, (s, e)) => k -> ms(e - s) },
      "counters" -> counters.map { case (k, c) => k -> c.toMap },
      "plan" -> Option(plan).map(_.toMap), "pinned_bytes" -> pinnedBytes)
  }

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val opt = parseArgs(args)
    val cpus = Runtime.getRuntime.availableProcessors()
    val ln = lane(opt("workload"), cpus)
    val parts = math.max(8, cpus)
    val dir = opt("data")
    val out = opt("out")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val reps = opt.getOrElse("setup-reps", "3").toInt
    val fixedPasses = opt.getOrElse("passes", "0").toInt
    // Clock: nanoTime for durations, anchored to the epoch so the harness's
    // spans line up with the listener's millisecond event times.
    val anchorNs = System.nanoTime()
    val anchorMs = System.currentTimeMillis().toDouble
    def epochMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6

    val tracer = new Tracer
    // wall time of each step of the run, to show where a run's time goes
    val steps = mutable.LinkedHashMap[String, Double]()
    def step[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally steps(name) = (System.nanoTime() - t0) / 1e9
    }
    var nextId = 0L
    def newId(): Long = { nextId += 1; nextId }

    def startSession(): SparkSession = {
      val b = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", ln.shuffle.toString)
        .config("spark.sql.adaptive.enabled", ln.aqe.toString)
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.extensions", "graft.functions.GraftExtensions")
        .config("spark.sql.warehouse.dir", s"$out/warehouse")
        .config("spark.local.dir", s"$out/local")
        .config("spark.ui.enabled", "false")
      ln.broadcastThreshold.foreach(b.config("spark.sql.autoBroadcastJoinThreshold", _))
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    // ---- 1. set-up reps ----
    var spark: SparkSession = null
    def sc: SparkContext = spark.sparkContext
    def storageBytes(): Long = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val setups = step("setup")((1 to reps).map { rep =>
      if (spark != null) { spark.catalog.clearCache(); spark.stop() }
      val t0 = System.nanoTime()
      spark = startSession()
      val t1 = System.nanoTime()
      if (trace) tracer.attach(sc)
      val c = if (trace) tracer.enter(-rep, "", "register") else null
      sc.setJobGroup(jobGroup(-rep, "", "register"), "perfbench register")
      if (ln.cached) Q.cacheTables(spark, dir, parts) else Q.registerAll(spark, dir)
      val t2 = System.nanoTime()
      sc.clearJobGroup()
      if (trace) tracer.exit(sc)
      val cacheMb = storageBytes() / 1e6
      if (trace) tracer.detach(sc)
      Map("session_ms" -> (t1 - t0) / 1e6, "register_ms" -> (t2 - t1) / 1e6,
        "total_s" -> (t2 - t0) / 1e9, "jobs" -> Option(c).map(_.jobs),
        "cache_mb" -> cacheMb)
    })

    // ---- one op sample ----
    val prepared = mutable.Map[String, SparkPlan]()
    val results = mutable.LinkedHashMap[String, (Array[InternalRow], StructType)]()
    // drain every row of every partition, as the noop sink does; the first
    // pass keeps the rows instead
    def run(plan: SparkPlan, keep: Boolean): Array[InternalRow] =
      if (keep) sc.runJob(plan.execute(),
        (it: Iterator[InternalRow]) => it.map(_.copy()).toArray).flatten
      else {
        sc.runJob(plan.execute(), (it: Iterator[InternalRow]) => {
          var n = 0L; while (it.hasNext) { it.next(); n += 1 }; n
        })
        null
      }

    def sample(op: String, pass: Int, traced: Boolean, prepareOnly: Boolean = false,
        keep: Boolean = false): Sample = {
      val s = new Sample(op, newId(), pass)
      def phase[T](name: String)(body: => T): T = {
        sc.setJobGroup(jobGroup(s.id, op, name), s"perfbench $op $name")
        if (traced) s.counters(name) = tracer.enter(s.id, op, name)
        val t0 = System.nanoTime()
        try body finally {
          s.phases(name) = (t0, System.nanoTime())
          sc.clearJobGroup()
          if (traced) tracer.exit(sc)
        }
      }
      s.startNs = System.nanoTime()
      try {
        val (plan, qe) =
          if (ln.prepared && !prepareOnly) (prepared(op).clone(), null: QueryExecution)
          else {
            val before = if (traced) storageBytes() else 0L
            val df: DataFrame = phase("construct")(SparkEntry.queries(op)(spark, dir))
            if (traced) s.pinnedBytes = storageBytes() - before
            val p = phase("plan")(df.queryExecution.executedPlan)
            if (prepareOnly) prepared(op) = p
            (p, df.queryExecution)
          }
        if (!prepareOnly) {
          val rows = phase("execute") {
            if (qe == null) run(plan, keep)
            else SQLExecution.withNewExecutionId(qe, Some(s"perfbench $op"))(run(plan, keep))
          }
          if (keep) results(op) = (rows, plan.schema)
        }
        if (traced) s.plan = PlanStats.of(plan)
      } catch {
        case NonFatal(e) =>
          s.error = s"${e.getClass.getName}: ${e.getMessage}".take(500)
          System.err.println(s"[perfbench] $op failed: ${s.error}")
      }
      s.endNs = System.nanoTime()
      if (traced) {
        tracer.addSpan(Span(s"S${s.id}", null, s.id, "sample", op,
          epochMs(s.startNs), epochMs(s.endNs)))
        s.phases.foreach { case (name, (a, b)) =>
          tracer.addSpan(Span(s"S${s.id}.$name", s"S${s.id}", s.id, name, op,
            epochMs(a), epochMs(b)))
        }
      }
      s
    }

    // ---- 2. prepare ----
    val prepareSamples = step("prepare") {
      if (!ln.prepared) Nil
      else {
        if (trace) tracer.attach(sc)
        val r = ln.ops.map(op => sample(op, -1, trace, prepareOnly = true))
        if (trace) tracer.detach(sc)
        r
      }
    }
    val ops = ln.ops.filter(op => !ln.prepared || prepared.contains(op))

    // ---- 3./4. passes ----
    val rnd = new java.util.Random(seed)
    def order(): Seq[String] = {
      val l = new java.util.ArrayList[String](ops.asJava)
      java.util.Collections.shuffle(l, rnd)
      l.asScala.toSeq
    }
    val firstPass = step("first_pass")(order().map(op =>
      sample(op, 0, traced = false, keep = true)))
    val warmup = step("warmup")((1 to ln.warmupPasses).flatMap(_ =>
      order().map(sample(_, 0, traced = false))))
    val (timed, traced) = (mutable.ArrayBuffer[Sample](), mutable.ArrayBuffer[Sample]())
    def tracedSample(op: String, pass: Int): Unit = {
      tracer.attach(sc)
      try traced += sample(op, pass, traced = true) finally tracer.detach(sc)
    }
    def region(): Double = {
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      def over(pass: Int) =
        if (fixedPasses > 0) pass > fixedPasses else System.nanoTime() >= deadline
      var pass = 1
      while (!(pass > 1 && over(pass))) {
        val it = order().iterator
        while (it.hasNext && !(pass > 1 && over(pass))) {
          val op = it.next()
          if (!trace) timed += sample(op, pass, traced = false)
          else if (timed.size % 2 == 0) {
            timed += sample(op, pass, traced = false); tracedSample(op, pass)
          } else {
            tracedSample(op, pass); timed += sample(op, pass, traced = false)
          }
        }
        pass += 1
      }
      (System.nanoTime() - t0) / 1e9
    }
    val gcBefore = gcMs()
    val timedWall = step("timed")(region())
    val regionGc = gcMs() - gcBefore

    // ---- 5. first-pass rows for the oracle ----
    step("write_results") {
      import scala.concurrent.{Await, Future, duration}
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(Future.traverse(results.toSeq) { case (op, (rows, schema)) =>
        Future {
          val toRow = NativeFrame.toScalaRow(schema)
          spark.createDataFrame(rows.toSeq.map(toRow).asJava, schema)
            .coalesce(1).write.mode("overwrite").parquet(s"$out/results/$op")
        }
      }, duration.Duration.Inf)
    }
    val oracle = ln.ops.flatMap(op => SparkEntry.oracleSql.get(op).map(op -> _)).toMap

    val record = Map(
      "workload" -> ln.name,
      "stamp" -> Map(
        "cpus" -> cpus, "master" -> s"local[$cpus]",
        "table_partitions" -> (if (ln.cached) Some(parts) else None),
        "shuffle_partitions" -> ln.shuffle, "aqe" -> ln.aqe,
        "lane" -> (if (ln.cached) "cached" else "parquet"),
        "prepared" -> ln.prepared, "data_dir" -> dir, "seed" -> seed,
        "spark_version" -> spark.version,
        "jdk" -> System.getProperty("java.version")),
      "ops" -> ln.ops,
      "setup" -> setups,
      "prepare" -> prepareSamples.map(_.toMap),
      "first_pass" -> firstPass.map(_.toMap), "warmup" -> warmup.map(_.toMap),
      "timed" -> timed.map(_.toMap), "traced" -> traced.map(_.toMap),
      "timed_wall_s" -> timedWall,
      "jvm" -> Map("timed_gc_ms" -> regionGc, "peak_rss_mb" -> peakRssMb()),
      "mismatched_job_groups" -> tracer.mismatchedJobs,
      "oracle_sql" -> oracle, "steps_s" -> steps)
    Files.writeString(Paths.get(s"$out/record.json"), json(record))
    if (trace) Files.writeString(Paths.get(s"$out/spans.json"),
      json(tracer.allSpans.map(_.toMap)))
    spark.stop()
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def json(v: Any): String = mapper.writeValueAsString(v)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** High-water resident set size of this JVM (Linux `VmHWM`), in MB. */
  private def peakRssMb(): Double =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    } catch { case NonFatal(_) => 0.0 }
}


/** Writes the DuckDB oracle SQL of every workload's ops as one JSON object,
  * so the oracle's answers can be computed once per build. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val ops = Seq("tpch_prepared", "tpch_adhoc", "pipeline_mix")
      .flatMap(Main.lane(_, cpus).ops).distinct
    Files.writeString(Paths.get(args(0)),
      Main.json(ops.flatMap(op => SparkEntry.oracleSql.get(op).map(op -> _)).toMap))
  }
}
