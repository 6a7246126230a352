package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{InsertIntoStatement, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.logical.Command

/** SQL execution gate (reference `SQLOptions`,
  * `/root/reference/python/datafusion/context.py:469-530`): allow/deny
  * DDL, DML and statements before execution. */
case class SQLOptions(
    allowDDL: Boolean = true,
    allowDML: Boolean = true,
    allowStatements: Boolean = true) {
  def withDDL(allow: Boolean): SQLOptions = copy(allowDDL = allow)
  def withDML(allow: Boolean): SQLOptions = copy(allowDML = allow)
  def withStatements(allow: Boolean): SQLOptions = copy(allowStatements = allow)
}

/** Session facade mirroring the reference's `SessionContext`
  * (`/root/reference/python/datafusion/context.py:532`): table
  * registration per format, SQL with named parameters and a DDL/DML gate,
  * and in-memory frame construction — all thin wrappers over
  * `SparkSession`, which supplies catalog, optimizer and execution. */
class GraftSession(val spark: SparkSession) {

  /** ctx.sql(query, options, param_values, param_strings) — typed
    * parameters use Spark's `:name` binding; `paramStrings` splices
    * IDENTIFIERS (table/column names — things value binding cannot
    * parameterize) into `$name` placeholders BEFORE parsing, the
    * reference's `replace_placeholders_with_strings`
    * (`/root/reference/src/context.rs:541`, `context.py:692-756`). Each
    * value must be a bare (optionally dotted) identifier — anything else
    * (quotes, spaces, semicolons) is rejected, so the splice cannot smuggle
    * SQL past the gate. The gate classifies the spliced, parsed plan. */
  def sql(query: String, params: Map[String, Any] = Map.empty,
      options: SQLOptions = SQLOptions(),
      paramStrings: Map[String, String] = Map.empty): DataFrame = {
    val spliced = GraftSession.spliceIdentifiers(query, paramStrings)
    val plan = spark.sessionState.sqlParser.parsePlan(spliced)
    classify(plan) match {
      case "ddl" if !options.allowDDL =>
        throw new IllegalStateException(s"DDL not allowed by SQLOptions: $query")
      case "dml" if !options.allowDML =>
        throw new IllegalStateException(s"DML not allowed by SQLOptions: $query")
      case "statement" if !options.allowStatements =>
        throw new IllegalStateException(s"statement not allowed by SQLOptions: $query")
      case _ =>
    }
    if (params.isEmpty) spark.sql(spliced) else spark.sql(spliced, params)
  }

  private def classify(plan: LogicalPlan): String = plan match {
    case _: InsertIntoStatement => "dml"
    case c: Command =>
      val n = c.nodeName
      if (n.contains("Insert") || n.contains("Delete") || n.contains("Update")
        || n.contains("Merge")) "dml"
      else if (n.contains("Set") || n.contains("Reset")) "statement"
      else "ddl"
    case _ => "query"
  }

  // --- registration surface (reference register_*, context.py:1062-1297) ---
  def registerParquet(name: String, path: String): Unit =
    spark.read.parquet(path).createOrReplaceTempView(name)
  def registerCsv(name: String, path: String,
      options: Map[String, String] = Map("header" -> "true")): Unit =
    spark.read.options(options).csv(path).createOrReplaceTempView(name)
  def registerJson(name: String, path: String): Unit =
    spark.read.json(path).createOrReplaceTempView(name)
  /** read_avro/register_avro (context.py:1994, 1266) — AvroIO-backed. */
  def readAvro(dir: String): DataFrame =
    graft.sources.AvroIO.readAvro(spark, dir)
  def registerAvro(name: String, dir: String): Unit =
    readAvro(dir).createOrReplaceTempView(name)
  /** read_arrow/from_arrow (context.py:2025, 839) — Arrow IPC directory. */
  def readArrow(dir: String): DataFrame =
    org.apache.spark.sql.graftarrow.ArrowBridge.readArrowFiles(spark, dir)
  def registerArrow(name: String, dir: String): Unit =
    readArrow(dir).createOrReplaceTempView(name)
  /** register_record_batches (context.py:1002-1060). */
  def registerBatches(name: String,
      batches: Seq[Seq[org.apache.spark.sql.Row]],
      schema: org.apache.spark.sql.types.StructType): Unit =
    Q.fromBatches(spark, batches, schema).createOrReplaceTempView(name)
  def registerView(name: String, df: DataFrame): Unit =
    df.createOrReplaceTempView(name)
  def deregister(name: String): Unit =
    spark.catalog.dropTempView(name)

  /** with_information_schema(True) (reference context.py:193-203):
    * expose `information_schema.tables/columns/schemata` to SQL. */
  def enableInformationSchema(): Unit =
    graft.sources.InfoSchema.enable(spark)

  def table(name: String): DataFrame = spark.table(name)
  def tableNames: Seq[String] =
    spark.catalog.listTables().collect().map(_.name).toSeq

  /** from_pydict/from_pylist analog (context.py:783-887). */
  def fromSeq[T <: Product : reflect.runtime.universe.TypeTag](
      rows: Seq[T], name: Option[String] = None): DataFrame = {
    val df = spark.createDataFrame(rows)
    name.foreach(df.createOrReplaceTempView)
    df
  }
}

object GraftSession {
  /** Settings of a local-mode session: the one place the engine's mains
    * and specs decide their session config. Only what callers vary is a
    * field; the rest is fixed — UTC session time zone (the oracle compares
    * wall-clock timestamps), parquet TIMESTAMP(NANOS) surfaced as LONG
    * (see [[Q.eventsRaw]]), AQE partition coalescing on, UI off.
    * `broadcastThreshold = None` keeps Spark's default (10MB). */
  final case class Local(cpus: Int, shuffle: Int, aqe: Boolean,
      broadcastThreshold: Option[String] = None) {
    def master: String = s"local[$cpus]"
    def conf: Map[String, String] = Map(
      "spark.sql.shuffle.partitions" -> shuffle.toString,
      "spark.sql.adaptive.enabled" -> aqe.toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false") ++
      broadcastThreshold.map("spark.sql.autoBroadcastJoinThreshold" -> _)
  }

  /** Start (or join) the JVM's local session with `s`'s settings, logging
    * at WARN. */
  def local(s: Local): SparkSession = {
    val spark = s.conf.foldLeft(SparkSession.builder().master(s.master)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `env(name)` parsed by `parse`. Parses loudly: a malformed value falls
    * back to `default` with a stderr line naming the variable, instead of
    * crashing a run before any output is emitted. */
  def envOr[T](env: Map[String, String], name: String, default: T)(
      parse: String => T): T =
    env.get(name).map { v =>
      try parse(v.trim) catch { case _: IllegalArgumentException =>
        System.err.println(s"[graft] $name='$v' is not valid; using $default")
        default }
    }.getOrElse(default)

  def envInt(env: Map[String, String], name: String, default: Int): Int =
    envOr(env, name, default)(_.toInt)

  def envBool(env: Map[String, String], name: String, default: Boolean): Boolean =
    envOr(env, name, default)(_.toBoolean)

  /** Local cores: `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(env: Map[String, String], default: Int): Int =
    envInt(env, "SPARK_GRAFT_CPUS", default)

  /** Headline-bench parallelism ([[Bench]], [[PlanDump]]): cached-table
    * partitions = cpus, shuffle partitions = cpus/4, floors 8/4, so a
    * lower-core run genuinely exposes less parallelism (a fixed 8/4 capped
    * every stage at 8 tasks and made 8-vs-32-core ratios read ≈1 by
    * construction). Measured at 32 cores, sf0.1:
    *   8/4 (old pin)  8.95 / 8.58 s   — but caps every stage at 8 tasks
    *   32/16          11.14 / 10.55 s — post-shuffle task launch dominates
    *   32/4           13.07 s         — 32 map tasks feeding 4 reducers
    *   32/8           9.21 s          — scan parallelism follows cores
    * At cpus=8 this reproduces the old 8/4 exactly. */
  def protocolParts(cpus: Int): Int = math.max(8, cpus)
  def protocolShuffle(cpus: Int): Int = math.max(4, cpus / 4)

  /** One identifier part, optionally dotted (`db.table`). Deliberately
    * narrower than what quoting would allow: a spliced value can only ever
    * name a relation or column, never extend the statement. */
  private val IdentRe = "[A-Za-z_][A-Za-z0-9_]*(\\.[A-Za-z_][A-Za-z0-9_]*)*".r

  /** Pre-parse `$name` → identifier substitution (reference
    * `replace_placeholders_with_strings`, context.rs:541, which rewrites
    * whole Placeholder TOKENS only). A single left-to-right scan replaces
    * each complete `$name` token — so a bound `tab` can never corrupt an
    * unbound `$table` by prefix — and skips the regions a tokenizer
    * would: single-quoted strings (with `''` escapes), double-quoted and
    * backtick-quoted identifiers, `--` line comments and bracketed
    * comments. A `$name` placeholder outside those regions with no
    * binding is an error, not a silent pass-through. No-op when no
    * identifiers are supplied (plain `ctx.sql` path). */
  def spliceIdentifiers(query: String, idents: Map[String, String]): String = {
    if (idents.isEmpty) return query
    idents.foreach { case (name, value) =>
      require(IdentRe.pattern.matcher(value).matches(),
        s"param_strings value for $$$name is not a bare identifier: '$value'")
    }
    val sb = new StringBuilder(query.length + 16)
    val len = query.length
    var i = 0
    // copy verbatim through a region closed by `end` (handles '' / "" / ``
    // escape-by-doubling for the quote forms)
    def copyQuoted(quote: Char): Unit = {
      sb.append(query.charAt(i)); i += 1
      while (i < len) {
        val ch = query.charAt(i); sb.append(ch); i += 1
        if (ch == quote) {
          if (i < len && query.charAt(i) == quote) { sb.append(quote); i += 1 }
          else return
        }
      }
    }
    def isIdentChar(ch: Char): Boolean =
      ch == '_' || Character.isLetterOrDigit(ch)
    while (i < len) {
      val ch = query.charAt(i)
      if (ch == '\'' || ch == '"' || ch == '`') copyQuoted(ch)
      else if (ch == '-' && i + 1 < len && query.charAt(i + 1) == '-') {
        while (i < len && query.charAt(i) != '\n') { sb.append(query.charAt(i)); i += 1 }
      } else if (ch == '/' && i + 1 < len && query.charAt(i + 1) == '*') {
        sb.append("/*"); i += 2
        while (i < len &&
          !(query.charAt(i) == '*' && i + 1 < len && query.charAt(i + 1) == '/')) {
          sb.append(query.charAt(i)); i += 1
        }
        if (i < len) { sb.append("*/"); i += 2 }
      } else if (ch == '$') {
        var j = i + 1
        while (j < len && isIdentChar(query.charAt(j))) j += 1
        val name = query.substring(i + 1, j)
        if (name.isEmpty) { sb.append(ch); i += 1 }
        else idents.get(name) match {
          case Some(value) => sb.append(value); i = j
          case None => throw new IllegalArgumentException(
            s"unbound identifier placeholder $$$name " +
              s"(bound: ${idents.keys.toSeq.sorted.mkString(", ")})")
        }
      } else { sb.append(ch); i += 1 }
    }
    sb.toString
  }
}
