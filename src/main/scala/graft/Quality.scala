package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Q._

/** Distribution-drift tests and robust anomaly scoring — the statistical
  * gates a training-data pipeline runs when a new corpus snapshot or
  * source lands: "does source A's length distribution differ from B's?"
  * (two-sample Kolmogorov–Smirnov, Mann–Whitney U) and "which raw events
  * are outliers under a heavy-tailed value distribution?" (median/MAD
  * robust z-scores, which unlike mean/stddev z-scores are not dragged by
  * the outliers they are meant to find).
  *
  * Scale design: both rank tests first reduce the corpus to per-(source,
  * value) counts — a vocab-sized table — and run every cumulative/rank
  * computation there, so the only corpus-sized stage is one keyed
  * aggregation. The MAD pass uses per-type ranked windows (parallel
  * across types) exactly like event_winsorize, with the #types-sized
  * bound table broadcast back over the stream.
  *
  * Determinism: CDF distances compare integer-count cross-products
  * (exact in double far past test scale and consistent cross-engine);
  * midranks are exact half-integers; interpolated medians are built
  * explicitly from neighboring order statistics with one fixed
  * expression tree in both engines (the event_winsorize recipe).
  */
object Quality {

  // ---------- two-sample Kolmogorov–Smirnov ----------

  /** KS statistic between every pair of document sources over the
    * `n_chars` length distribution: D = max_v |F_a(v) - F_b(v)|, with the
    * max located at the smallest attaining value (`at_value`). The
    * comparison runs on count cross-products c_a(v)·n_b vs c_b(v)·n_a —
    * integers, exact in double below 2^53 (≈9e15, i.e. up to ~95M docs
    * per source pair even at 100 TB corpus scale) — and divides once at
    * the end, so Spark and DuckDB agree bit-for-bit. */
  def statKsTest(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val cnt = docs.groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("c"))
    val srcN = docs.groupBy("source").agg(count(lit(1)).as("n"))
    // CDF of every source at every distinct value (zero-filled grid so a
    // value absent from one source still carries its running total)
    val grid = cnt.select("n_chars").distinct()
      .crossJoin(broadcast(srcN.select("source")))
    val cdf = grid.join(cnt, Seq("source", "n_chars"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("cum", sum(col("c"))
        .over(Window.partitionBy("source").orderBy("n_chars")))
    val a = cdf.select(col("source").as("source_a"), col("n_chars"),
      col("cum").as("ca"))
    val b = cdf.select(col("source").as("source_b"),
      col("n_chars").as("ncb"), col("cum").as("cb"))
    val rankW = Window.partitionBy("source_a", "source_b")
      .orderBy(col("dnum").desc, col("n_chars").asc)
    a.join(b, col("n_chars") === col("ncb") &&
        col("source_a") < col("source_b"))
      .join(broadcast(srcN.select(col("source").as("source_a"),
        col("n").as("n_a"))), "source_a")
      .join(broadcast(srcN.select(col("source").as("source_b"),
        col("n").as("n_b"))), "source_b")
      .withColumn("dnum",
        abs(col("ca").cast("double") * col("n_b") -
          col("cb").cast("double") * col("n_a")))
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") === 1)
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        round(col("dnum") / (col("n_a").cast("double") * col("n_b")), 6)
          .as("ks_stat"),
        col("n_chars").cast("long").as("at_value"))
      .orderBy("source_a", "source_b")
  }
  val statKsTestSql: String =
    """WITH cnt AS (SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
      |  FROM documents GROUP BY source, n_chars),
      |srcn AS (SELECT source, CAST(count(*) AS BIGINT) AS n
      |  FROM documents GROUP BY source),
      |grid AS (SELECT v.n_chars, s.source
      |  FROM (SELECT DISTINCT n_chars FROM cnt) v CROSS JOIN srcn s),
      |cdf AS (SELECT g.source, g.n_chars,
      |    CAST(sum(COALESCE(c.c, 0)) OVER (PARTITION BY g.source
      |      ORDER BY g.n_chars) AS BIGINT) AS cum
      |  FROM grid g LEFT JOIN cnt c
      |    ON c.source = g.source AND c.n_chars = g.n_chars),
      |joined AS (SELECT a.source AS source_a, b.source AS source_b,
      |    a.n_chars, na.n AS n_a, nb.n AS n_b,
      |    abs(CAST(a.cum AS DOUBLE) * nb.n - CAST(b.cum AS DOUBLE) * na.n)
      |      AS dnum
      |  FROM cdf a JOIN cdf b
      |    ON a.n_chars = b.n_chars AND a.source < b.source
      |  JOIN srcn na ON na.source = a.source
      |  JOIN srcn nb ON nb.source = b.source),
      |ranked AS (SELECT *, row_number() OVER (
      |    PARTITION BY source_a, source_b
      |    ORDER BY dnum DESC, n_chars ASC) AS rn FROM joined)
      |SELECT source_a, source_b, n_a, n_b,
      |  round(dnum / (CAST(n_a AS DOUBLE) * n_b), 6) AS ks_stat,
      |  CAST(n_chars AS BIGINT) AS at_value
      |FROM ranked WHERE rn = 1 ORDER BY source_a, source_b""".stripMargin

  // ---------- Mann–Whitney U (rank-sum) ----------

  /** Mann–Whitney U between every source pair over `n_chars`, with
    * midrank tie handling and the tie-corrected normal approximation:
    * U_a = R_a − n_a(n_a+1)/2 where R_a sums source A's midranks in the
    * pooled ordering, z = (U_a − n_a·n_b/2) / sqrt(var_ties). Midranks
    * are exact half-integers (cum_before + (m+1)/2) and their weighted
    * sums stay below 2^53, so every pre-`sqrt` quantity is exact in both
    * engines; z is one fixed expression tree rounded to 6. */
  def statMannWhitney(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val cnt = docs.groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("c"))
    val srcN = docs.groupBy("source").agg(count(lit(1)).as("n"))
    val pairs = srcN.select(col("source").as("source_a"), col("n").as("n_a"))
      .crossJoin(srcN.select(col("source").as("source_b"), col("n").as("n_b")))
      .filter(col("source_a") < col("source_b"))
    val ca = cnt.select(col("source").as("source_a"),
      col("n_chars"), col("c").as("c_a"))
    val cb = cnt.select(col("source").as("source_b"),
      col("n_chars").as("ncb"), col("c").as("c_b"))
    // pooled per-pair counts from the value grid (pairs × distinct values
    // is drift-table-sized — the corpus only ever feeds the cnt rollup)
    val grid = cnt.select("n_chars").distinct().crossJoin(broadcast(pairs))
    val m = grid
      .join(ca, Seq("source_a", "n_chars"), "left")
      .join(cb.withColumnRenamed("ncb", "n_chars"),
        Seq("source_b", "n_chars"), "left")
      .withColumn("c_a", coalesce(col("c_a"), lit(0L)))
      .withColumn("c_b", coalesce(col("c_b"), lit(0L)))
      .withColumn("m", col("c_a") + col("c_b"))
      .filter(col("m") > 0)
    val w = Window.partitionBy("source_a", "source_b").orderBy("n_chars")
    val ranked = m
      .withColumn("cum_excl",
        coalesce(sum(col("m")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn("midrank",
        col("cum_excl").cast("double") + (col("m").cast("double") + 1.0) / 2.0)
    ranked.groupBy("source_a", "source_b", "n_a", "n_b")
      .agg(sum(col("c_a").cast("double") * col("midrank")).as("r_a"),
        sum(col("m").cast("double") * col("m") * col("m") -
          col("m").cast("double")).as("ties"))
      .withColumn("nn", (col("n_a") + col("n_b")).cast("double"))
      .withColumn("u_a",
        col("r_a") - col("n_a").cast("double") * (col("n_a") + 1.0) / 2.0)
      .withColumn("var_u",
        col("n_a").cast("double") * col("n_b") / 12.0 *
          ((col("nn") + 1.0) - col("ties") / (col("nn") * (col("nn") - 1.0))))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("u_a").as("u_stat"),
        round((col("u_a") - col("n_a").cast("double") * col("n_b") / 2.0) /
          sqrt(col("var_u")), 6).as("z"))
      .orderBy("source_a", "source_b")
  }
  val statMannWhitneySql: String =
    """WITH cnt AS (SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
      |  FROM documents GROUP BY source, n_chars),
      |srcn AS (SELECT source, CAST(count(*) AS BIGINT) AS n
      |  FROM documents GROUP BY source),
      |pairs AS (SELECT a.source AS source_a, a.n AS n_a,
      |    b.source AS source_b, b.n AS n_b
      |  FROM srcn a JOIN srcn b ON a.source < b.source),
      |grid AS (SELECT p.source_a, p.source_b, p.n_a, p.n_b, v.n_chars
      |  FROM pairs p CROSS JOIN (SELECT DISTINCT n_chars FROM cnt) v),
      |m AS (SELECT g.*, COALESCE(ca.c, 0) AS c_a, COALESCE(cb.c, 0) AS c_b,
      |    COALESCE(ca.c, 0) + COALESCE(cb.c, 0) AS m
      |  FROM grid g
      |  LEFT JOIN cnt ca ON ca.source = g.source_a AND ca.n_chars = g.n_chars
      |  LEFT JOIN cnt cb ON cb.source = g.source_b AND cb.n_chars = g.n_chars),
      |ranked AS (SELECT *,
      |    CAST(COALESCE(sum(m) OVER (PARTITION BY source_a, source_b
      |      ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      0) AS DOUBLE) + (CAST(m AS DOUBLE) + 1.0) / 2.0 AS midrank
      |  FROM m WHERE m > 0),
      |agg AS (SELECT source_a, source_b, n_a, n_b,
      |    sum(CAST(c_a AS DOUBLE) * midrank) AS r_a,
      |    sum(CAST(m AS DOUBLE) * m * m - CAST(m AS DOUBLE)) AS ties
      |  FROM ranked GROUP BY source_a, source_b, n_a, n_b),
      |stat AS (SELECT source_a, source_b, n_a, n_b,
      |    r_a - CAST(n_a AS DOUBLE) * (n_a + 1.0) / 2.0 AS u_a,
      |    CAST(n_a AS DOUBLE) + n_b AS nn, ties
      |  FROM agg)
      |SELECT source_a, source_b, n_a, n_b, u_a AS u_stat,
      |  round((u_a - CAST(n_a AS DOUBLE) * n_b / 2.0) /
      |    sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0 *
      |      ((nn + 1.0) - ties / (nn * (nn - 1.0)))), 6) AS z
      |FROM stat ORDER BY source_a, source_b""".stripMargin

  // ---------- median/MAD robust anomaly scores ----------

  /** Robust per-event anomaly scores: per event type, the interpolated
    * median `med` of value and the median absolute deviation `mad` bound
    * a modified z-score rz = 0.6745·(value − med)/mad (Iglewicz–Hoaglin),
    * flagged at |rz| > 3.5. Both medians are built explicitly from
    * neighboring order statistics (the event_winsorize recipe — no
    * engine-internal quantile), the deviation pass reuses the exact
    * unrounded `med`, and rz rounds once at the end. Types with mad = 0
    * (over half the values identical) emit null rz / false flag rather
    * than dividing by zero. */
  def eventAnomalyMad(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    def medOf(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val cntT = df.groupBy("event_type").agg(count(lit(1)).as("n"))
      val ranked = df.select(col("event_type"), col(valueCol).as("x"))
        .withColumn("rn",
          row_number().over(Window.partitionBy("event_type").orderBy("x")) - 1)
      ranked.join(broadcast(cntT), "event_type")
        .withColumn("k", expr("CAST(floor(CAST(0.5 AS DOUBLE) * (n - 1)) AS BIGINT)"))
        .filter(col("rn") === col("k") || col("rn") === col("k") + 1)
        .groupBy("event_type")
        .agg(max(col("n")).as("n"),
          max(when(col("rn") === col("k"), col("x"))).as("x0"),
          max(when(col("rn") === col("k") + 1, col("x"))).as("x1"))
        .select(col("event_type"),
          expr("x0 + (CAST(0.5 AS DOUBLE) * (n - 1) " +
            "- floor(CAST(0.5 AS DOUBLE) * (n - 1))) * (coalesce(x1, x0) - x0)")
            .as(out))
    }
    val med = medOf(ev, "value", "med")
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = medOf(dev, "dev", "mad")
    ev.join(broadcast(med), "event_type").join(broadcast(mad), "event_type")
      .withColumn("rz",
        round(lit(0.6745) * (col("value") - col("med")) /
          when(col("mad") =!= 0.0, col("mad")), 6))
      .select(col("event_id"), col("event_type"),
        round(col("med"), 6).as("med"), round(col("mad"), 6).as("mad"),
        col("rz"),
        coalesce(abs(col("rz")) > 3.5, lit(false)).as("is_outlier"))
      .orderBy("event_id")
  }
  val eventAnomalyMadSql: String = {
    def medCte(src: String, valueCol: String, cte: String): String =
      s"""${cte}_cnt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
         |  FROM $src GROUP BY event_type),
         |${cte}_rk AS (SELECT event_type, $valueCol AS x,
         |    row_number() OVER (PARTITION BY event_type ORDER BY $valueCol) - 1 AS rn
         |  FROM $src),
         |$cte AS (SELECT r.event_type,
         |    max(CASE WHEN rn = k THEN x END)
         |      + (CAST(0.5 AS DOUBLE) * (max(c.n) - 1)
         |         - floor(CAST(0.5 AS DOUBLE) * (max(c.n) - 1)))
         |      * (COALESCE(max(CASE WHEN rn = k + 1 THEN x END),
         |           max(CASE WHEN rn = k THEN x END))
         |         - max(CASE WHEN rn = k THEN x END)) AS m
         |  FROM (SELECT *, CAST(floor(CAST(0.5 AS DOUBLE) * (n - 1)) AS BIGINT) AS k
         |        FROM ${cte}_rk JOIN ${cte}_cnt USING (event_type)) r
         |  JOIN ${cte}_cnt c USING (event_type)
         |  WHERE rn = k OR rn = k + 1
         |  GROUP BY r.event_type)""".stripMargin
    s"""WITH ${medCte("events", "value", "med")},
       |devs AS (SELECT e.event_id, e.event_type, e.value,
       |    abs(e.value - med.m) AS dev
       |  FROM events e JOIN med USING (event_type)),
       |${medCte("devs", "dev", "mad")}
       |SELECT e.event_id, e.event_type,
       |  round(med.m, 6) AS med, round(mad.m, 6) AS mad,
       |  round(0.6745 * (e.value - med.m)
       |    / (CASE WHEN mad.m <> 0.0 THEN mad.m END), 6) AS rz,
       |  COALESCE(abs(round(0.6745 * (e.value - med.m)
       |    / (CASE WHEN mad.m <> 0.0 THEN mad.m END), 6)) > 3.5, FALSE)
       |    AS is_outlier
       |FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)
       |ORDER BY e.event_id""".stripMargin
  }

  // ---------- population stability index ----------

  /** Population Stability Index between every source pair over the
    * document length distribution, binned at width [[PsiBinW]] chars with
    * Laplace (+1) smoothing over the union bin grid — the production
    * drift metric scored against fixed thresholds (<0.1 stable, >0.25
    * shifted). Smoothing makes every bin probability strictly positive,
    * so the log term is always defined without dropping bins one side
    * never saw.
    *
    * Scale: the corpus reduces to a (#sources × #bins) count table
    * before any pairing; the pair join runs on that drift-table-sized
    * relation with the bin census broadcast. Each (p_a−p_b)·ln(p_a/p_b)
    * term is decimal-quantized before the exact sum (the chi-square
    * recipe), so the statistic is cross-engine reproducible. */
  val PsiBinW = 200L
  def statPsi(s: SparkSession, d: String): DataFrame = {
    val b = t(s, d, "documents")
      .select(col("source"), expr(s"n_chars div $PsiBinW").as("bin"))
    val cnt = b.groupBy("source", "bin").agg(count(lit(1)).as("c"))
    val srcN = b.groupBy("source").agg(count(lit(1)).as("n"))
    val bins = cnt.select("bin").distinct()
    val nb = bins.agg(count(lit(1)).as("n_bins"))
    val p = srcN.crossJoin(broadcast(bins))
      .join(cnt, Seq("source", "bin"), "left")
      .crossJoin(broadcast(nb))
      .select(col("source"), col("bin"),
        ((coalesce(col("c"), lit(0L)) + lit(1L)).cast("double") /
          (col("n") + col("n_bins"))).as("p"))
    val a = p.select(col("source").as("source_a"), col("bin"), col("p").as("pa"))
    val bb = p.select(col("source").as("source_b"), col("bin").as("bin_b"),
      col("p").as("pb"))
    a.join(bb, col("bin") === col("bin_b") && col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        ddec((col("pa") - col("pb")) * log(col("pa") / col("pb")),
          precision = 38, scale = 12).as("term"))
      .groupBy("source_a", "source_b")
      .agg(round(sum("term").cast("double"), 6).as("psi"))
      .orderBy("source_a", "source_b")
  }
  val statPsiSql: String =
    s"""WITH b AS (SELECT source, n_chars // $PsiBinW AS bin FROM documents),
       |cnt AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS c
       |  FROM b GROUP BY source, bin),
       |srcn AS (SELECT source, CAST(count(*) AS BIGINT) AS n
       |  FROM b GROUP BY source),
       |bins AS (SELECT DISTINCT bin FROM cnt),
       |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bins FROM bins),
       |p AS (SELECT g.source, g.bin,
       |    CAST(COALESCE(c.c, 0) + 1 AS DOUBLE) / (g.n + nb.n_bins) AS p
       |  FROM (SELECT s.source, s.n, v.bin FROM srcn s CROSS JOIN bins v) g
       |  LEFT JOIN cnt c ON c.source = g.source AND c.bin = g.bin
       |  CROSS JOIN nb),
       |terms AS (SELECT a.source AS source_a, b.source AS source_b,
       |    CAST((a.p - b.p) * ln(a.p / b.p) AS DECIMAL(38,12)) AS term
       |  FROM p a JOIN p b ON a.bin = b.bin AND a.source < b.source)
       |SELECT source_a, source_b, round(CAST(sum(term) AS DOUBLE), 6) AS psi
       |FROM terms GROUP BY source_a, source_b
       |ORDER BY source_a, source_b""".stripMargin

  // ---------- Jensen–Shannon divergence ----------

  /** Jensen–Shannon divergence (nats) between every source pair's word
    * distributions: JSD = ½·KL(p‖m) + ½·KL(q‖m) with m = (p+q)/2 — the
    * symmetric, bounded ([0, ln 2]) vocabulary-drift measure; zero-count
    * terms contribute exactly 0 by the p·ln p → 0 convention rather than
    * through smoothing, so the statistic is the textbook one.
    *
    * Scale: the corpus reduces to (source, word) counts once; pairs meet
    * on the word key over that vocab-sized table, and each KL term is
    * decimal-quantized before the exact sum. */
  def statJsDivergence(s: SparkSession, d: String): DataFrame = {
    val cnt = t(s, d, "documents")
      .select(col("source"), explode(expr(wordsExpr)).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val srcN = cnt.groupBy("source").agg(sum("c").as("n"))
    val a = cnt.join(srcN, "source")
      .select(col("source").as("source_a"), col("w"),
        col("c").as("c_a"), col("n").as("n_a"))
    val b = cnt.join(srcN, "source")
      .select(col("source").as("source_b"), col("w").as("wb"),
        col("c").as("c_b"), col("n").as("n_b"))
    // full-outer on the word key per pair via union-grid: a word absent
    // from one side still contributes the other side's KL term
    val pairs = srcN.select(col("source").as("source_a"), col("n").as("n_a"))
      .join(srcN.select(col("source").as("source_b"), col("n").as("n_b")),
        col("source_a") < col("source_b"))
    val grid = cnt.select("w").distinct()
      .crossJoin(broadcast(pairs))
    val m = grid
      .join(a, Seq("source_a", "w", "n_a"), "left")
      .join(b.withColumnRenamed("wb", "w"), Seq("source_b", "w", "n_b"), "left")
      .withColumn("c_a", coalesce(col("c_a"), lit(0L)))
      .withColumn("c_b", coalesce(col("c_b"), lit(0L)))
      .filter(col("c_a") + col("c_b") > 0)
    val pa = col("c_a").cast("double") / col("n_a")
    val pb = col("c_b").cast("double") / col("n_b")
    val mid = (pa + pb) * 0.5
    m.select(col("source_a"), col("source_b"),
        ddec(when(col("c_a") > 0, pa * log(pa / mid)).otherwise(lit(0.0)) * 0.5 +
          when(col("c_b") > 0, pb * log(pb / mid)).otherwise(lit(0.0)) * 0.5,
          precision = 38, scale = 12).as("term"))
      .groupBy("source_a", "source_b")
      .agg(round(sum("term").cast("double"), 6).as("jsd"))
      .orderBy("source_a", "source_b")
  }
  val statJsDivergenceSql: String =
    raw"""WITH w AS (SELECT source,
         |    unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
         |cnt AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
         |  FROM w GROUP BY source, w),
         |srcn AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
         |  FROM cnt GROUP BY source),
         |pairs AS (SELECT a.source AS source_a, a.n AS n_a,
         |    b.source AS source_b, b.n AS n_b
         |  FROM srcn a JOIN srcn b ON a.source < b.source),
         |m AS (SELECT p.source_a, p.source_b, p.n_a, p.n_b,
         |    COALESCE(ca.c, 0) AS c_a, COALESCE(cb.c, 0) AS c_b
         |  FROM pairs p
         |  JOIN (SELECT DISTINCT w FROM cnt) v ON TRUE
         |  LEFT JOIN cnt ca ON ca.source = p.source_a AND ca.w = v.w
         |  LEFT JOIN cnt cb ON cb.source = p.source_b AND cb.w = v.w
         |  WHERE COALESCE(ca.c, 0) + COALESCE(cb.c, 0) > 0),
         |terms AS (SELECT source_a, source_b,
         |    CAST(0.5 * (CASE WHEN c_a > 0
         |        THEN (CAST(c_a AS DOUBLE)/n_a) * ln((CAST(c_a AS DOUBLE)/n_a)
         |          / (0.5*(CAST(c_a AS DOUBLE)/n_a + CAST(c_b AS DOUBLE)/n_b)))
         |        ELSE 0.0 END)
         |      + 0.5 * (CASE WHEN c_b > 0
         |        THEN (CAST(c_b AS DOUBLE)/n_b) * ln((CAST(c_b AS DOUBLE)/n_b)
         |          / (0.5*(CAST(c_a AS DOUBLE)/n_a + CAST(c_b AS DOUBLE)/n_b)))
         |        ELSE 0.0 END) AS DECIMAL(38,12)) AS term
         |  FROM m)
         |SELECT source_a, source_b, round(CAST(sum(term) AS DOUBLE), 6) AS jsd
         |FROM terms GROUP BY source_a, source_b
         |ORDER BY source_a, source_b""".stripMargin

  // ---------- Welch's t-test ----------

  /** Welch's unequal-variance t-test between every source pair over
    * `n_chars`, with the Welch–Satterthwaite effective degrees of
    * freedom. Per-source (n, Σx, Σx²) are exact BIGINT sums (n_chars ≈
    * 10³ squares to ~10⁶; the sums stay far below 2⁶³ even at 100 TB),
    * so mean and variance derive from exact integers and t/dof are each
    * one fixed double expression tree — cross-engine identical.
    *
    * Scale: one corpus-sized keyed aggregation to a #sources-sized
    * moment table; everything downstream is pair-table arithmetic. */
  def statWelchT(s: SparkSession, d: String): DataFrame = {
    val m = t(s, d, "documents").groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum("n_chars").as("s1"),
        sum(col("n_chars") * col("n_chars")).as("s2"))
    val st = m.select(col("source"), col("n"),
      (col("s1").cast("double") / col("n")).as("mean"),
      ((col("s2").cast("double") - col("s1").cast("double") * col("s1") / col("n"))
        / (col("n") - 1)).as("v"))
    val a = st.select(col("source").as("source_a"), col("n").as("n_a"),
      col("mean").as("mean_a"), col("v").as("va"))
    val b = st.select(col("source").as("source_b"), col("n").as("n_b"),
      col("mean").as("mean_b"), col("v").as("vb"))
    val se2 = col("va") / col("n_a") + col("vb") / col("n_b")
    a.join(b, col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        round(col("mean_a"), 6).as("mean_a"),
        round(col("mean_b"), 6).as("mean_b"),
        round((col("mean_a") - col("mean_b")) / sqrt(se2), 6).as("t_stat"),
        round(se2 * se2 /
          ((col("va") / col("n_a")) * (col("va") / col("n_a")) / (col("n_a") - 1) +
            (col("vb") / col("n_b")) * (col("vb") / col("n_b")) / (col("n_b") - 1)),
          6).as("dof"))
      .orderBy("source_a", "source_b")
  }
  val statWelchTSql: String =
    """WITH m AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(n_chars) AS BIGINT) AS s1,
      |    CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
      |  FROM documents GROUP BY source),
      |st AS (SELECT source, n, CAST(s1 AS DOUBLE) / n AS mean,
      |    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1) AS v
      |  FROM m),
      |pr AS (SELECT a.source AS source_a, b.source AS source_b,
      |    a.n AS n_a, b.n AS n_b, a.mean AS mean_a, b.mean AS mean_b,
      |    a.v / a.n + b.v / b.n AS se2, a.v AS va, b.v AS vb
      |  FROM st a JOIN st b ON a.source < b.source)
      |SELECT source_a, source_b, n_a, n_b,
      |  round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
      |  round((mean_a - mean_b) / sqrt(se2), 6) AS t_stat,
      |  round(se2 * se2 / ((va/n_a)*(va/n_a)/(n_a-1)
      |    + (vb/n_b)*(vb/n_b)/(n_b-1)), 6) AS dof
      |FROM pr ORDER BY source_a, source_b""".stripMargin

  // ---------- Gini inequality ----------

  /** Gini coefficient of the document-length distribution per source —
    * the inequality summary (0 = uniform lengths, →1 = a few giant docs
    * dominate) used to compare corpus shapes before mixing. Computed by
    * the rank formula G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending
    * (n_chars, doc_id) ranks: every sum is an exact BIGINT, the final
    * expression is one fixed double tree.
    *
    * Scale: the rank window partitions by source (parallel across
    * sources); the rollup emits one row per source. */
  def statGini(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("n_chars"), col("doc_id"))
    t(s, d, "documents")
      .select(col("source"), col("n_chars"), col("doc_id"))
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("sx"),
        sum(col("i") * col("n_chars")).as("six"))
      .select(col("source"), col("n"),
        round(lit(2.0) * col("six") / (col("n") * col("sx").cast("double")) -
          (col("n") + lit(1.0)) / col("n"), 6).as("gini"))
      .orderBy("source")
  }
  val statGiniSql: String =
    """WITH rk AS (SELECT source, n_chars,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars, doc_id) AS BIGINT) AS i
      |  FROM documents),
      |agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(n_chars) AS BIGINT) AS sx,
      |    CAST(sum(i * n_chars) AS BIGINT) AS six
      |  FROM rk GROUP BY source)
      |SELECT source, n,
      |  round(2.0 * six / (n * CAST(sx AS DOUBLE)) - (n + 1.0) / n, 6) AS gini
      |FROM agg ORDER BY source""".stripMargin

  // ---------- registry ----------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stat_ks_test" -> (statKsTest _),
    "stat_mann_whitney" -> (statMannWhitney _),
    "event_anomaly_mad" -> (eventAnomalyMad _),
    "stat_psi" -> (statPsi _),
    "stat_js_divergence" -> (statJsDivergence _),
    "stat_welch_t" -> (statWelchT _),
    "stat_gini" -> (statGini _))

  val oracle: Map[String, String] = Map(
    "stat_ks_test" -> statKsTestSql,
    "stat_mann_whitney" -> statMannWhitneySql,
    "event_anomaly_mad" -> eventAnomalyMadSql,
    "stat_psi" -> statPsiSql,
    "stat_js_divergence" -> statJsDivergenceSql,
    "stat_welch_t" -> statWelchTSql,
    "stat_gini" -> statGiniSql)
}
