package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming over the events table: file source → watermark →
  * tumbling-window aggregation → memory sink, checked against the batch
  * equivalent. (The reference has no event-time streaming — SURVEY.md
  * §2.11 — this is part of the additive pipeline surface.) */
class StreamingSpec extends AnyFunSuite {
  import SparkSpec._

  test("events ts normalizer is encoding-independent (LONG-nanos, TIMESTAMP, NTZ)") {
    // the corpus has shipped all three encodings across generations; every
    // spec below must pass against whichever is on disk, so the shared
    // normalizer is asserted to map each encoding to the same micros value
    import spark.implicits._
    val us = 1700000000123456L // µs, sub-millisecond precision on purpose
    val asLong = Seq(us * 1000L).toDF("ts") // LONG nanoseconds
    val asTs = Seq(us).toDF("us")
      .select(timestamp_micros(col("us")).as("ts")) // TimestampType
    val asNtz = asTs.select(col("ts").cast("timestamp_ntz")) // NTZ (UTC session)
    val normed = Seq(asLong, asTs, asNtz).map { df =>
      val n = Q.normalizeEventsTs(df)
      assert(n.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType)
      n.select(expr("unix_micros(ts)")).head().getLong(0)
    }
    assert(normed.forall(_ == us), normed.toString)
  }

  test("streaming windowed counts equal the batch computation") {
    val batchEvents = Q.t(spark, sf, "events")
    // file stream sources read directories: stage the single file into one
    val dir = java.nio.file.Files.createTempDirectory("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = Q.eventsRaw(spark, sf).schema
    val stream = Q.normalizeEventsTs(
        spark.readStream.schema(schema).parquet(dir.toString))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = stream.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("ev_counts")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("ev_counts")
      .select(col("window.start").as("w"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = batchEvents
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("stateful streaming: flatMapGroupsWithState emits running per-type counts") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val dir = java.nio.file.Files.createTempDirectory("graft_fmgws")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = Q.eventsRaw(spark, sf).schema
    // custom state emitting MULTIPLE rows per group per trigger (the
    // flatMap variant's defining capability vs mapGroupsWithState):
    // one (user, event_type, running count) row per distinct type seen
    val out = spark.readStream.schema(schema).parquet(dir.toString)
      .select(col("user_id"), col("event_type"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (uid: Long, events: Iterator[(Long, String)],
            state: GroupState[Map[String, Long]]) => {
          val cur = state.getOption.getOrElse(Map.empty)
          val upd = events.foldLeft(cur) { case (m, (_, t)) =>
            m.updated(t, m.getOrElse(t, 0L) + 1L)
          }
          state.update(upd)
          upd.iterator.map { case (t, n) => (uid, t, n) }
        })
    val q = out.writeStream
      .outputMode("update").format("memory").queryName("fmgws")
      .trigger(Trigger.AvailableNow()).start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("fmgws")
      .groupBy("_1", "_2").agg(max("_3").as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = Q.t(spark, sf, "events")
      .groupBy("user_id", "event_type").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
  }

  test("session_window equals the gap-based sessionize rewrite") {
    // Spark's native session_window(ts, gap) and the window-function
    // sessionization in Pipeline.eventSessionize implement the same
    // 30-minute-gap semantics — their per-user session counts must agree
    val native = Q.t(spark, sf, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rewritten = Pipeline.eventSessionize(spark, sf)
      .groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native.nonEmpty && native == rewritten)
  }

  test("streaming dedup: watermarked dropDuplicates matches batch distinct") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = Q.eventsRaw(spark, sf).schema
    // dropDuplicatesWithinWatermark (not plain dropDuplicates): with the
    // event-time column absent from the keys, plain dropDuplicates never
    // evicts state; the WithinWatermark variant expires keys past the
    // watermark — the bounded-state streaming dedup recipe at scale
    val deduped = Q.normalizeEventsTs(
        spark.readStream.schema(schema).parquet(dir.toString))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    val q = deduped.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("ev_dedup")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("ev_dedup").count()
    val batch = Q.t(spark, sf, "events")
      .select("user_id", "event_type").distinct().count()
    assert(streamed == batch && streamed > 0)
  }

  test("streaming incremental dedup over AvailableNow matches the batch operator") {
    // the 100 TB ingest posture end-to-end: precomputed reference band
    // table + per-file micro-batches through foreachBatch — the result
    // must equal the batch reference-vs-new operator row for row
    val streamed = streaming.DedupStream
      .dedupIncrementalStream(spark, sf, files = 3).collect()
    val batch = Pipeline.dedupIncremental(spark, sf).collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    val key = (r: org.apache.spark.sql.Row) => r.getAs[Long]("new_id")
    val sm = streamed.map(r => key(r) -> r.toString).toMap
    batch.foreach { r =>
      assert(sm(key(r)) == r.toString, s"mismatch at new_id ${key(r)}")
    }
  }

  test("streaming-maintained IVF index matches the batch-built index") {
    // the ANN ingest posture: centroids frozen after training on the
    // ingested half, appends assigned map-side per micro-batch into the
    // cluster-partitioned lists — the maintained index must equal a batch
    // assignment of the full corpus over the same centroids, so a probe
    // search sees identical inverted lists either way
    val (index, cents) = streaming.IvfStream
      .ivfAppendStream(spark, sf, files = 3)
    val streamed = index.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cid")).toMap
    val batch = Q.t(spark, sf, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("cid", Pipeline.ivfCidExpr(cents))
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cid")).toMap
    assert(streamed.size == batch.size && streamed.nonEmpty)
    assert(streamed == batch)
    // every cluster id is a live inverted list within 1..k
    assert(streamed.values.toSet.subsetOf((1L to 16L).toSet))
    // and the arrivals actually landed across several micro-batches:
    // the new half (vec_id > cut) is present in full
    val cut = batch.keys.max / 2
    assert(streamed.keys.count(_ > cut) > 0)
  }

  test("stateful streaming: mapGroupsWithState per-user counts match batch") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_state_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = Q.eventsRaw(spark, sf).schema
    val counts = spark.readStream.schema(schema).parquet(dir.toString)
      .select(col("user_id"), col("event_id"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, events: Iterator[(Long, Long)], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + events.size
          state.update(n)
          (uid, n)
      }
    val q = counts.writeStream
      .outputMode("update")
      .format("memory")
      .queryName("user_counts")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("user_counts")
      .groupBy("_1").agg(max("_2").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Q.t(spark, sf, "events")
      .groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }

  test("streaming as-of join with cross-batch state matches the batch operator") {
    import spark.implicits._
    // split events at the median ts into two files so clicks in the later
    // micro-batch must match errors carried in state from the earlier one;
    // the halves are staged pre-normalized (TimestampType µs), so the cut
    // and every downstream comparison live in the µs domain regardless of
    // the corpus's on-disk ts encoding
    val ev = Q.normalizeEventsTs(Q.eventsRaw(spark, sf))
    val cut = ev.select(expr("unix_micros(ts)").as("us"))
      .stat.approxQuantile("us", Array(0.5), 0.0).head.toLong // µs
    val dir = java.nio.file.Files.createTempDirectory("graft_asof_stream")
    val stage = java.nio.file.Files.createTempDirectory("graft_asof_stage")
    def writeHalf(cond: org.apache.spark.sql.Column, name: String): Unit = {
      val out = stage.resolve(name)
      ev.filter(cond).coalesce(1).write.parquet(out.toString)
      val part = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(out).iterator().asScala
          .find(_.toString.endsWith(".parquet")).get
      }
      java.nio.file.Files.copy(part, dir.resolve(s"$name.parquet"))
    }
    writeHalf(expr("unix_micros(ts)") <= cut, "b1")
    Thread.sleep(1100) // distinct mtimes: the file source orders batches by them
    writeHalf(expr("unix_micros(ts)") > cut, "b2")
    val schema = ev.schema

    val out = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
      .select(col("event_id"), col("user_id"),
        expr("unix_micros(ts)").as("us"), col("event_type"), col("value"))
      .as[(Long, Long, Long, String, Double)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long, Long, String, Double)],
         state: GroupState[AsofMatchState]) =>
          // a micro-batch's group iterator is unordered: sort by event time
          // (errors before clicks at equal ts — the inclusive >= semantics)
          val evs = it.toSeq.sortBy(e => (e._3, if (e._4 == "error") 0 else 1, e._1))
          var cur = state.getOption
          val res = Seq.newBuilder[(Long, Long, Long, Double,
            Option[Long], Option[Long], Option[Double])]
          evs.foreach {
            case (id, _, us, "error", v) =>
              if (cur.forall(c => us > c.us || (us == c.us && id > c.id)))
                cur = Some(AsofMatchState(id, us, v))
            case (id, u, us, "click", v) =>
              res += ((id, u, us, v, cur.map(_.id), cur.map(_.us), cur.map(_.value)))
            case _ => ()
          }
          cur.foreach(state.update)
          res.result().iterator
      }
    val q = out.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("asof_stream")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("asof_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        if (r.isNullAt(6)) None else Some(r.getDouble(6))))
      .sortBy(_._1)
    def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000 + t.getNanos / 1000 % 1000
    val batch = Pipeline.joinAsof(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), micros(r.getTimestamp(2)),
        r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(micros(r.getTimestamp(5))),
        if (r.isNullAt(6)) None else Some(r.getDouble(6))))
      .sortBy(_._1)
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s == b, s"stream=$s batch=$b")
    }
    // the split must actually exercise cross-batch state: some click after
    // the cut matches an error from before it (all values in µs)
    assert(streamed.exists(s => s._3 > cut && s._6.exists(_ <= cut)),
      "no as-of match crossed the micro-batch boundary")
  }

  test("streaming attribution with cross-batch last-click state matches batch") {
    import spark.implicits._
    // split at the median ts so purchases in the later micro-batch must
    // attribute to clicks held in state from the earlier one; staged halves
    // are pre-normalized to TimestampType µs (encoding-independent)
    val ev = Q.normalizeEventsTs(Q.eventsRaw(spark, sf))
    val cut = ev.select(expr("unix_micros(ts)").as("us"))
      .stat.approxQuantile("us", Array(0.5), 0.0).head.toLong // µs
    val dir = java.nio.file.Files.createTempDirectory("graft_attr_stream")
    val stage = java.nio.file.Files.createTempDirectory("graft_attr_stage")
    def writeHalf(cond: org.apache.spark.sql.Column, name: String): Unit = {
      val out = stage.resolve(name)
      ev.filter(cond).coalesce(1).write.parquet(out.toString)
      val part = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(out).iterator().asScala
          .find(_.toString.endsWith(".parquet")).get
      }
      java.nio.file.Files.copy(part, dir.resolve(s"$name.parquet"))
    }
    writeHalf(expr("unix_micros(ts)") <= cut, "b1")
    Thread.sleep(1100) // distinct mtimes: the file source orders batches by them
    writeHalf(expr("unix_micros(ts)") > cut, "b2")

    val out = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
      .select(col("event_id"), col("user_id"),
        expr("unix_micros(ts)").as("us"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long, Long, String)],
         state: GroupState[AttrClickState]) =>
          // group iterators are unordered within a micro-batch: replay in
          // (ts, event_id) order so a same-ts click counts only for larger
          // event ids — the batch window's strictly-preceding-row frame
          val evs = it.toSeq.sortBy(e => (e._3, e._1))
          var cur = state.getOption
          val res = Seq.newBuilder[(Long, Long, Option[Long], Option[Long], Boolean)]
          evs.foreach {
            case (id, _, us, "purchase") =>
              val gap = cur.map(c => us / 1000000L - c.us / 1000000L)
              val in = gap.exists(_ <= Pipeline.AttrWindowS)
              res += ((id, uid,
                if (in) cur.map(_.id) else None,
                if (in) gap else None, in))
            case (id, _, us, "click") =>
              cur = Some(AttrClickState(id, us))
            case _ => ()
          }
          cur.foreach(state.update)
          res.result().iterator
      }
    val q = out.writeStream
      .outputMode("append").format("memory").queryName("attr_stream")
      .trigger(Trigger.AvailableNow()).start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("attr_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getBoolean(4)))
      .sortBy(_._1)
    val batch = Pipeline.eventAttribution(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getBoolean(4)))
      .sortBy(_._1)
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s == b, s"stream=$s batch=$b")
    }
    // the split must exercise cross-batch state: some purchase after the
    // cut attributes to a click from before it
    val cutS = cut / 1000000L
    assert(streamed.exists(s => s._5 &&
      s._4.exists(g => purchaseTs(s._1) > cutS && purchaseTs(s._1) - g <= cutS)),
      "no attribution crossed the micro-batch boundary")
  }

  /** Purchase event-time (epoch seconds) looked up from the normalized
    * events table, for the cross-batch assertion. */
  private lazy val purchaseTs: Map[Long, Long] =
    Q.normalizeEventsTs(Q.eventsRaw(spark, sf))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), expr("unix_micros(ts) div 1000000").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("stream-stream interval join equals the batch join") {
    // Two independent file streams joined on user_id with an event-time
    // range (error within the 6 hours before each click) — Spark's
    // stream-stream join, where BOTH sides are watermarked so the join
    // state is bounded: a buffered error can be evicted once the click
    // watermark passes its ts + 6h. The batch twin is the identical join
    // on the static frame.
    val dir = java.nio.file.Files.createTempDirectory("graft_ssj")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = Q.eventsRaw(spark, sf).schema
    def src() = Q.normalizeEventsTs(
      spark.readStream.schema(schema).parquet(dir.toString))
    val clicks = src().filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), col("event_id").as("c_id"))
      .withWatermark("c_ts", "1 hour")
    val errors = src().filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
        col("event_id").as("e_id"))
      .withWatermark("e_ts", "1 hour")
    val joined = clicks.join(errors,
      expr("""user_id = e_user AND
              e_ts BETWEEN c_ts - INTERVAL 6 HOURS AND c_ts"""))
      .select(col("c_id"), col("e_id"))
    val q = joined.writeStream
      .outputMode("append").format("memory").queryName("ssj")
      .trigger(Trigger.AvailableNow()).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ssj").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val ev = Q.t(spark, sf, "events")
    val bc = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), col("event_id").as("c_id"))
    val be = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
        col("event_id").as("e_id"))
    val batch = bc.join(be,
      expr("""user_id = e_user AND
              e_ts BETWEEN c_ts - INTERVAL 6 HOURS AND c_ts"""))
      .select(col("c_id"), col("e_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "batch interval join found no pairs")
    assert(streamed == batch)
  }
}

/** Latest-right-event state for the streaming as-of join (top-level so
  * the product encoder derives cleanly). */
case class AsofMatchState(id: Long, us: Long, value: Double)

/** Last-click state for the streaming attribution twin (µs event time). */
case class AttrClickState(id: Long, us: Long)

/** Plan audits across the whole headline suite: no accidental cartesian
  * products, lineitem filters reach the scan. */
class PlanAuditSpec extends AnyFunSuite {
  import SparkSpec._

  test("TPC-H queries run no Spark job while they are built") {
    // the graft.Bench lane: cached tables, each query built once and
    // timed by draining clones of its plan — a job run at construction
    // would escape the timer. A separate session keeps the cached views
    // and `graft.cached.dir` away from every other spec.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.graftspec.ListenerBus
    val bench = spark.newSession()
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    Q.cacheTables(bench, sf, 4)
    sc.addSparkListener(listener)
    try {
      val eager = Tpch.benchOrder.flatMap { q =>
        ListenerBus.drain(sc); started.set(0)
        Tpch.queries(q)(bench, sf)
        ListenerBus.drain(sc)
        Some(started.get).filter(_ > 0).map(n => s"$q: $n")
      }
      assert(eager.isEmpty, s"jobs at construction: $eager")
    } finally {
      sc.removeSparkListener(listener)
      Q.tableNames.foreach(bench.catalog.uncacheTable)
    }
  }

  test("no TPC-H query plans a CartesianProduct") {
    val offenders = Tpch.benchOrder.filter { q =>
      Tpch.queries(q)(spark, sf).queryExecution.executedPlan
        .toString.contains("CartesianProduct")
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("runtime bloom-filter join pruning activates on selective joins") {
    // the 100 TB row-pruning path: a selective dim filter induces a bloom
    // filter on the fact side's join key before the shuffle
    val conf = spark.conf
    val saved = (conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled", "false"),
      conf.get("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB"),
      conf.get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "10GB"),
      conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB"))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      val plan = Q.t(spark, sf, "lineitem")
        .join(Q.t(spark, sf, "orders")
            .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT"),
          org.apache.spark.sql.functions.col("l_orderkey") ===
            org.apache.spark.sql.functions.col("o_orderkey"))
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter") || plan.contains("BloomFilter"), plan)
    } finally {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", saved._1)
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", saved._2)
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", saved._3)
      conf.set("spark.sql.autoBroadcastJoinThreshold", saved._4)
    }
  }

  test("round-13 reworked plans keep their single-explode, no-distinct shape") {
    // join_interval_overlap: ONE Generate (the widened session explode —
    // the incident side buckets without exploding) and no distinct
    // aggregate over the join output (the single-bucket meet made it
    // redundant)
    val jio = Pipeline.joinIntervalOverlap(spark, sf)
      .queryExecution.executedPlan.toString
    assert(jio.split("Generate").length - 1 == 1,
      s"interval overlap should explode exactly once:\n$jio")
    assert(!jio.contains("CartesianProduct") &&
      !jio.contains("BroadcastNestedLoopJoin"), "interval overlap NLJ")
    // dedup_substring: ONE Generate (the gram explode evaluates once —
    // the old self-join planned it on both sides) and no join of the
    // span stream at all
    val ds = Pipeline.dedupSubstring(spark, sf)
      .queryExecution.executedPlan.toString
    assert(ds.split("Generate").length - 1 == 1,
      s"dedup_substring should explode exactly once:\n$ds")
    // text_rake_keywords: scan-shaped — no join, no Window, the only
    // aggregation-free shuffle is the final ordering
    val rk = Polish.textRakeKeywords(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!rk.contains("Join") && !rk.contains("Window"),
      s"rake should be scan-shaped:\n$rk")
  }

  test("date-filtered queries push predicates into the parquet scan") {
    for (q <- Seq("q1", "q6", "q14")) {
      val plan = Tpch.queries(q)(spark, sf).queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"),
        s"$q scan lacks pushed l_shipdate filter")
    }
  }
}
