package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Q._

/** Association / effect-size statistics and corpus-hygiene operators a
  * training-data pipeline runs when deciding whether two metadata columns
  * are redundant (mutual information, Cramér's V, Kendall's τ-b), whether
  * a source shift is practically significant (Cohen's d, Brown–Forsythe),
  * where PII lives before release (regex detect + redact), and whether
  * class centroids of an embedding space are drifting apart.
  *
  * Scale design: every statistic reduces the corpus to a bounded table
  * first — a contingency grid (|lang|×|source|, |type|×7), a quantized
  * rank grid, or per-group moment triples — and runs all pairwise /
  * cumulative math there, so the only corpus-sized stage is one keyed
  * aggregation (plus, for the median-centered test, a per-group ranked
  * window that parallelizes across groups). The PII pass is map-only
  * ahead of one reduce.
  *
  * Determinism: counts and doubled medians stay integral (exact in both
  * engines); irrational per-cell terms are cast to DECIMAL(38,12) before
  * summation (order-independent) and every final statistic is one fixed
  * double expression tree rounded at 6 — the repo-wide recipe.
  */
object Insight {

  // ---------- mutual information (lang × source) ----------

  /** Mutual information and normalized MI between `lang` and `source`:
    * MI = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))), NMI = MI/√(H(x)H(y)).
    * The corpus reduces to a |lang|×|source| contingency table; marginals
    * and entropies derive from it, so nothing after the first groupBy
    * touches corpus-sized data. Near-zero MI ⇒ the columns are
    * independent (safe to stratify on either alone). */
  def statMutualInfo(s: SparkSession, d: String): DataFrame = {
    val cnt = t(s, d, "documents")
      .groupBy("lang", "source").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val cl = cnt.groupBy("lang").agg(sum("c").as("cl"))
    val cs = cnt.groupBy("source").agg(sum("c").as("cs"))
    val nDf = cnt.agg(sum("c").as("n"))
    val mi = cnt.join(broadcast(cl), "lang").join(broadcast(cs), "source")
      .crossJoin(broadcast(nDf))
      .select(ddec((col("c").cast("double") / col("n")) *
        log(col("c").cast("double") * col("n") /
          (col("cl").cast("double") * col("cs"))),
        precision = 38, scale = 12).as("t"))
      .agg(sum("t").cast("double").as("mi"))
    def entropy(m: DataFrame, cc: String, out: String): DataFrame =
      m.crossJoin(broadcast(nDf))
        .select(ddec(-(col(cc).cast("double") / col("n")) *
          log(col(cc).cast("double") / col("n")),
          precision = 38, scale = 12).as("t"))
        .agg(sum("t").cast("double").as(out))
    mi.crossJoin(entropy(cl, "cl", "hx")).crossJoin(entropy(cs, "cs", "hy"))
      .crossJoin(nDf)
      .select(col("n").cast("long").as("n"),
        round(col("mi"), 6).as("mi"),
        round(col("mi") / sqrt(col("hx") * col("hy")), 6).as("nmi"))
  }
  val statMutualInfoSql: String =
    """WITH cnt AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS c
      |  FROM documents GROUP BY lang, source),
      |cl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS cl FROM cnt GROUP BY lang),
      |cs AS (SELECT source, CAST(sum(c) AS BIGINT) AS cs FROM cnt GROUP BY source),
      |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
      |mi AS (SELECT CAST(sum(CAST((CAST(c.c AS DOUBLE) / n.n) *
      |      ln(CAST(c.c AS DOUBLE) * n.n /
      |        (CAST(cl.cl AS DOUBLE) * cs.cs)) AS DECIMAL(38,12)))
      |    AS DOUBLE) AS mi
      |  FROM cnt c JOIN cl USING (lang) JOIN cs USING (source) CROSS JOIN n),
      |hx AS (SELECT CAST(sum(CAST(-(CAST(cl AS DOUBLE) / n.n) *
      |      ln(CAST(cl AS DOUBLE) / n.n) AS DECIMAL(38,12))) AS DOUBLE) AS hx
      |  FROM cl CROSS JOIN n),
      |hy AS (SELECT CAST(sum(CAST(-(CAST(cs AS DOUBLE) / n.n) *
      |      ln(CAST(cs AS DOUBLE) / n.n) AS DECIMAL(38,12))) AS DOUBLE) AS hy
      |  FROM cs CROSS JOIN n)
      |SELECT n.n AS n, round(mi.mi, 6) AS mi,
      |  round(mi.mi / sqrt(hx.hx * hy.hy), 6) AS nmi
      |FROM mi CROSS JOIN hx CROSS JOIN hy CROSS JOIN n""".stripMargin

  // ---------- Cramér's V (event_type × day-of-week) ----------

  /** χ² independence test + Cramér's V effect size between `event_type`
    * and day-of-week, on the zero-filled dense contingency grid (absent
    * cells still carry expected counts). dow is 0=Sunday in both engines
    * (Spark `dayofweek` is 1-based, shifted here). Bounded after the
    * first groupBy: |types|×7 cells. */
  def statCramersV(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .select(col("event_type"), (dayofweek(col("ts")) - 1).as("dow"))
    val cnt = ev.groupBy("event_type", "dow").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val rn = cnt.groupBy("event_type").agg(sum("c").as("rn"))
    val cn = cnt.groupBy("dow").agg(sum("c").as("cn"))
    val nDf = cnt.agg(sum("c").as("n"))
    val dims = rn.agg(count(lit(1)).as("r"))
      .crossJoin(cn.agg(count(lit(1)).as("cc")))
    val grid = rn.select("event_type").crossJoin(broadcast(cn.select("dow")))
      .join(cnt, Seq("event_type", "dow"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .join(broadcast(rn), "event_type").join(broadcast(cn), "dow")
      .crossJoin(broadcast(nDf))
    val e = col("rn").cast("double") * col("cn") / col("n")
    val chi2 = grid
      .select(ddec(((col("c") - e) * (col("c") - e)) / e,
        precision = 38, scale = 12).as("t"))
      .agg(sum("t").cast("double").as("chi2"))
    chi2.crossJoin(broadcast(dims)).crossJoin(nDf)
      .select(col("n").cast("long").as("n"),
        ((col("r") - 1) * (col("cc") - 1)).cast("long").as("dof"),
        round(col("chi2"), 6).as("chi2"),
        round(sqrt(col("chi2") / col("n") /
          least(col("r") - 1, col("cc") - 1)), 6).as("cramers_v"))
  }
  val statCramersVSql: String =
    """WITH ev AS (SELECT event_type, CAST(dayofweek(ts) AS BIGINT) AS dow
      |  FROM events),
      |cnt AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS c
      |  FROM ev GROUP BY event_type, dow),
      |rn AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS rn
      |  FROM cnt GROUP BY event_type),
      |cn AS (SELECT dow, CAST(sum(c) AS BIGINT) AS cn FROM cnt GROUP BY dow),
      |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
      |dims AS (SELECT (SELECT count(*) FROM rn) AS r,
      |  (SELECT count(*) FROM cn) AS cc),
      |grid AS (SELECT r.event_type, c2.dow, COALESCE(ct.c, 0) AS c,
      |    r.rn, c2.cn, n.n
      |  FROM (SELECT event_type, rn FROM rn) r
      |  CROSS JOIN (SELECT dow, cn FROM cn) c2
      |  LEFT JOIN cnt ct ON ct.event_type = r.event_type AND ct.dow = c2.dow
      |  CROSS JOIN n),
      |chi AS (SELECT CAST(sum(CAST(
      |      (c - CAST(rn AS DOUBLE) * cn / n) * (c - CAST(rn AS DOUBLE) * cn / n)
      |        / (CAST(rn AS DOUBLE) * cn / n) AS DECIMAL(38,12))) AS DOUBLE)
      |    AS chi2 FROM grid)
      |SELECT n.n AS n, CAST((dims.r - 1) * (dims.cc - 1) AS BIGINT) AS dof,
      |  round(chi.chi2, 6) AS chi2,
      |  round(sqrt(chi.chi2 / n.n / least(dims.r - 1, dims.cc - 1)), 6)
      |    AS cramers_v
      |FROM chi CROSS JOIN dims CROSS JOIN n""".stripMargin

  // ---------- Kendall's τ-b on a quantized grid ----------

  /** Kendall's τ-b rank correlation between document length (`n_chars`)
    * and whitespace token count, computed exactly on quantized scales
    * (len div 64, tokens div 8 — the quantization is part of the operator
    * contract: it bounds the rank grid at any corpus size). Concordant /
    * discordant pair counts come from 2-D prefix sums over the dense
    * zero-filled grid via partitioned windows — no grid self-join, every
    * stage after the first groupBy is O(cells). Tie corrections are the
    * standard τ-b marginal terms; everything stays integral until the
    * final √. */
  def statKendallTau(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .select((col("n_chars") / 64).cast("long").as("x"),
        (size(split(trim(col("text")), "\\s+")) / 8).cast("long").as("y"))
    val cnt = docs.groupBy("x", "y").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val mx = cnt.groupBy("x").agg(sum("c").as("mx"))
    val my = cnt.groupBy("y").agg(sum("c").as("my"))
    val nDf = cnt.agg(sum("c").as("n"))
    // dense grid (absent cells carry c=0 so 2-D prefixes are defined)
    val grid = mx.select("x").crossJoin(broadcast(my.select("y")))
      .join(cnt, Seq("x", "y"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val wY = Window.partitionBy("x").orderBy("y")
    val wX = Window.partitionBy("y").orderBy("x")
    val pre = grid
      .withColumn("cyLe", sum("c").over(wY))
      .withColumn("cyLt", col("cyLe") - col("c"))
      .withColumn("f2Le", sum("cyLe").over(wX))   // Σ_{x'≤x, y'≤y}
      .withColumn("f2LeLt", sum("cyLt").over(wX)) // Σ_{x'≤x, y'<y}
    // bounded marginal cumulatives (≤ |distinct x| rows — driver-trivial,
    // still computed distributed via 1-partition windows on tiny tables)
    val fx = mx.withColumn("fxLe",
      sum("mx").over(Window.orderBy("x")))
    val fy = my.withColumn("fyLe", sum("my").over(Window.orderBy("y")))
      .withColumn("fyLt", col("fyLe") - col("my"))
    val cd = pre.join(broadcast(fx), "x").join(broadcast(fy), "y")
      .crossJoin(broadcast(nDf))
      .withColumn("gtgt",
        col("n") - col("fxLe") - col("fyLe") + col("f2Le"))
      .withColumn("gtlt", col("fyLt") - col("f2LeLt"))
      .agg(sum(col("c") * col("gtgt")).as("cc"),
        sum(col("c") * col("gtlt")).as("dd"))
    val t1 = mx.select(sum(col("mx") * (col("mx") - 1) / 2).as("n1"))
    val t2 = my.select(sum(col("my") * (col("my") - 1) / 2).as("n2"))
    cd.crossJoin(nDf).crossJoin(t1).crossJoin(t2)
      .withColumn("n0", col("n") * (col("n") - 1) / 2)
      .select(col("n").cast("long").as("n"),
        col("cc").cast("long").as("concordant"),
        col("dd").cast("long").as("discordant"),
        round((col("cc") - col("dd")).cast("double") /
          sqrt((col("n0") - col("n1")).cast("double") *
            (col("n0") - col("n2")).cast("double")), 6).as("tau_b"))
  }
  val statKendallTauSql: String =
    raw"""WITH docs AS (SELECT n_chars // 64 AS x,
         |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) // 8 AS y
         |  FROM documents),
         |cnt AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c
         |  FROM docs GROUP BY x, y),
         |mx AS (SELECT x, CAST(sum(c) AS BIGINT) AS mx FROM cnt GROUP BY x),
         |my AS (SELECT y, CAST(sum(c) AS BIGINT) AS my FROM cnt GROUP BY y),
         |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
         |grid AS (SELECT mx.x, my.y, COALESCE(cnt.c, 0) AS c
         |  FROM (SELECT x FROM mx) mx CROSS JOIN (SELECT y FROM my) my
         |  LEFT JOIN cnt ON cnt.x = mx.x AND cnt.y = my.y),
         |pre AS (SELECT x, y, c,
         |    CAST(sum(c) OVER (PARTITION BY x ORDER BY y) AS BIGINT) AS cyLe,
         |    CAST(sum(c) OVER (PARTITION BY x ORDER BY y) - c AS BIGINT) AS cyLt
         |  FROM grid),
         |pre2 AS (SELECT x, y, c,
         |    CAST(sum(cyLe) OVER (PARTITION BY y ORDER BY x) AS BIGINT) AS f2Le,
         |    CAST(sum(cyLt) OVER (PARTITION BY y ORDER BY x) AS BIGINT) AS f2LeLt
         |  FROM pre),
         |fx AS (SELECT x, CAST(sum(mx) OVER (ORDER BY x) AS BIGINT) AS fxLe
         |  FROM mx),
         |fy AS (SELECT y, CAST(sum(my) OVER (ORDER BY y) AS BIGINT) AS fyLe,
         |    CAST(sum(my) OVER (ORDER BY y) - my AS BIGINT) AS fyLt FROM my),
         |cd AS (SELECT
         |    CAST(sum(c * (n.n - fx.fxLe - fy.fyLe + f2Le)) AS BIGINT) AS cc,
         |    CAST(sum(c * (fy.fyLt - f2LeLt)) AS BIGINT) AS dd
         |  FROM pre2 JOIN fx USING (x) JOIN fy USING (y) CROSS JOIN n),
         |t1 AS (SELECT CAST(sum(mx * (mx - 1) / 2) AS BIGINT) AS n1 FROM mx),
         |t2 AS (SELECT CAST(sum(my * (my - 1) / 2) AS BIGINT) AS n2 FROM my)
         |SELECT n.n AS n, cd.cc AS concordant, cd.dd AS discordant,
         |  round(CAST(cd.cc - cd.dd AS DOUBLE) /
         |    sqrt(CAST(n.n * (n.n - 1) / 2 - t1.n1 AS DOUBLE) *
         |      CAST(n.n * (n.n - 1) / 2 - t2.n2 AS DOUBLE)), 6) AS tau_b
         |FROM cd CROSS JOIN n CROSS JOIN t1 CROSS JOIN t2""".stripMargin

  // ---------- Cohen's d / Hedges' g (source pairs) ----------

  /** Pooled-stddev Cohen's d (and small-sample Hedges' g) for `n_chars`
    * between every source pair — "the KS test says the distributions
    * differ; is the difference big enough to care?". Per-source
    * (n, Σx, Σx²) are exact BIGINTs; d/g are one fixed double tree per
    * pair over the 20-row moment table. */
  def statCohensD(s: SparkSession, d: String): DataFrame = {
    val m = t(s, d, "documents").groupBy("source")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("sx"),
        sum(col("n_chars") * col("n_chars")).as("sxx"))
    val a = m.select(col("source").as("source_a"), col("n").as("n_a"),
      col("sx").as("sx_a"), col("sxx").as("sxx_a"))
    val b = m.select(col("source").as("source_b"), col("n").as("n_b"),
      col("sx").as("sx_b"), col("sxx").as("sxx_b"))
    def vr(n: org.apache.spark.sql.Column, sx: org.apache.spark.sql.Column,
        sxx: org.apache.spark.sql.Column) =
      (n * sxx - sx * sx).cast("double") / (n * (n - 1)).cast("double")
    val va = vr(col("n_a"), col("sx_a"), col("sxx_a"))
    val vb = vr(col("n_b"), col("sx_b"), col("sxx_b"))
    val pooled = sqrt(((col("n_a") - 1) * va + (col("n_b") - 1) * vb) /
      (col("n_a") + col("n_b") - 2).cast("double"))
    val dEff = (col("sx_a").cast("double") / col("n_a") -
      col("sx_b").cast("double") / col("n_b")) / pooled
    a.join(b, col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
        round(dEff, 6).as("cohens_d"),
        round(dEff * (lit(1.0) -
          lit(3.0) / (lit(4.0) * (col("n_a") + col("n_b")) - 9)), 6)
          .as("hedges_g"))
      .orderBy("source_a", "source_b")
  }
  val statCohensDSql: String =
    """WITH m AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(n_chars) AS BIGINT) AS sx,
      |    CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
      |  FROM documents GROUP BY source)
      |SELECT a.source AS source_a, b.source AS source_b,
      |  a.n AS n_a, b.n AS n_b,
      |  round((CAST(a.sx AS DOUBLE) / a.n - CAST(b.sx AS DOUBLE) / b.n) /
      |    sqrt(((a.n - 1) * (CAST(a.n * a.sxx - a.sx * a.sx AS DOUBLE)
      |          / CAST(a.n * (a.n - 1) AS DOUBLE))
      |        + (b.n - 1) * (CAST(b.n * b.sxx - b.sx * b.sx AS DOUBLE)
      |          / CAST(b.n * (b.n - 1) AS DOUBLE)))
      |      / CAST(a.n + b.n - 2 AS DOUBLE)), 6) AS cohens_d,
      |  round(((CAST(a.sx AS DOUBLE) / a.n - CAST(b.sx AS DOUBLE) / b.n) /
      |    sqrt(((a.n - 1) * (CAST(a.n * a.sxx - a.sx * a.sx AS DOUBLE)
      |          / CAST(a.n * (a.n - 1) AS DOUBLE))
      |        + (b.n - 1) * (CAST(b.n * b.sxx - b.sx * b.sx AS DOUBLE)
      |          / CAST(b.n * (b.n - 1) AS DOUBLE)))
      |      / CAST(a.n + b.n - 2 AS DOUBLE)))
      |    * (1.0 - 3.0 / (4.0 * (a.n + b.n) - 9)), 6) AS hedges_g
      |FROM m a JOIN m b ON a.source < b.source
      |ORDER BY source_a, source_b""".stripMargin

  // ---------- Brown–Forsythe (median-centered Levene) ----------

  /** Brown–Forsythe homogeneity-of-variance test across sources over
    * `n_chars`: one-way ANOVA F on |x − median_group|. Median-centering
    * (vs mean) keeps the test robust under the heavy-tailed length
    * distributions real corpora have. Doubled medians keep |2x − med2|
    * integral, so the per-group moment triples (n, Σz, Σz²) are exact
    * BIGINTs and F is one fixed double tree; the only per-row window is
    * the per-source rank (parallel across sources, the event_winsorize
    * topology). */
  def statLevene(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select("source", "doc_id", "n_chars")
    val w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    val rk = docs
      .withColumn("rn", row_number().over(w))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy("source")))
    val med = rk.groupBy("source")
      .agg((sum(when(col("rn") === floor((col("nn") + 1) / 2), col("n_chars"))
          .otherwise(0L)) +
        sum(when(col("rn") === floor((col("nn") + 2) / 2), col("n_chars"))
          .otherwise(0L))).as("med2"))
    val z = docs.join(broadcast(med), "source")
      .select(col("source"), abs(lit(2) * col("n_chars") - col("med2")).as("z2"))
    val g = z.groupBy("source").agg(count(lit(1)).as("nj"),
      sum("z2").as("s1"), sum(col("z2") * col("z2")).as("s2"))
    val tot = g.agg(sum("nj").as("nn"), sum("s1").as("ss1"),
      count(lit(1)).as("k"))
    val parts = g.crossJoin(broadcast(tot))
      .select(
        ddec((col("nj").cast("double")) *
          (col("s1").cast("double") / col("nj") -
            col("ss1").cast("double") / col("nn")) *
          (col("s1").cast("double") / col("nj") -
            col("ss1").cast("double") / col("nn")),
          precision = 38, scale = 12).as("ssb"),
        ddec(col("s2").cast("double") -
          col("s1").cast("double") * col("s1") / col("nj"),
          precision = 38, scale = 12).as("ssw"))
      .agg(sum("ssb").cast("double").as("ssb"),
        sum("ssw").cast("double").as("ssw"))
    parts.crossJoin(tot)
      .select(col("nn").cast("long").as("n"), col("k").cast("long").as("k"),
        round(((col("nn") - col("k")).cast("double") / (col("k") - 1)) *
          col("ssb") / col("ssw"), 6).as("f_stat"))
  }
  val statLeveneSql: String =
    """WITH rk AS (SELECT source, n_chars,
      |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
      |      AS rn,
      |    count(*) OVER (PARTITION BY source) AS nn
      |  FROM documents),
      |med AS (SELECT source,
      |    CAST(sum(CASE WHEN rn = (nn + 1) // 2 THEN n_chars ELSE 0 END) +
      |      sum(CASE WHEN rn = (nn + 2) // 2 THEN n_chars ELSE 0 END)
      |      AS BIGINT) AS med2
      |  FROM rk GROUP BY source),
      |z AS (SELECT d.source, abs(2 * d.n_chars - m.med2) AS z2
      |  FROM documents d JOIN med m ON d.source = m.source),
      |g AS (SELECT source, CAST(count(*) AS BIGINT) AS nj,
      |    CAST(sum(z2) AS BIGINT) AS s1,
      |    CAST(sum(z2 * z2) AS BIGINT) AS s2
      |  FROM z GROUP BY source),
      |tot AS (SELECT CAST(sum(nj) AS BIGINT) AS nn,
      |    CAST(sum(s1) AS BIGINT) AS ss1, CAST(count(*) AS BIGINT) AS k
      |  FROM g),
      |parts AS (SELECT
      |    CAST(sum(CAST(CAST(nj AS DOUBLE) *
      |      (CAST(s1 AS DOUBLE) / nj - CAST(ss1 AS DOUBLE) / nn) *
      |      (CAST(s1 AS DOUBLE) / nj - CAST(ss1 AS DOUBLE) / nn)
      |      AS DECIMAL(38,12))) AS DOUBLE) AS ssb,
      |    CAST(sum(CAST(CAST(s2 AS DOUBLE) -
      |      CAST(s1 AS DOUBLE) * s1 / nj AS DECIMAL(38,12))) AS DOUBLE) AS ssw
      |  FROM g CROSS JOIN tot)
      |SELECT tot.nn AS n, tot.k AS k,
      |  round((CAST(tot.nn - tot.k AS DOUBLE) / (tot.k - 1))
      |    * parts.ssb / parts.ssw, 6) AS f_stat
      |FROM parts CROSS JOIN tot""".stripMargin

  // ---------- PII detect + redact ----------

  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val urlRe = "https?://[^\\s]+"
  private val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII scrubbing gate: count emails / IPv4s / URLs per document with
    * engine-regex (RE2- and Java-compatible patterns: no backrefs or
    * lookaround), redact them (URL→EMAIL→IP order, fixed in both
    * engines), and report per-source totals plus characters removed. The
    * synthetic corpus carries no organic PII, so a deterministic
    * doc_id-keyed payload is appended first — the operator under test is
    * the detect/redact machinery, and the payload makes every count
    * nonzero and doc-dependent. Map-only ahead of one reduce. */
  def textPiiRedact(s: SparkSession, d: String): DataFrame = {
    val aug = t(s, d, "documents").withColumn("aug",
      concat(col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com now")))
          .when(pmod(col("doc_id"), lit(3)) === 1,
            concat(lit(" host 10.0."), pmod(col("doc_id"), lit(256)),
              lit(".1 up")))
          .otherwise(concat(lit(" see https://example.org/d/"),
            col("doc_id"), lit(" page"))),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" cc admin"), col("doc_id"), lit("@example.net")))
          .otherwise(lit(""))))
    val red = regexp_replace(
      regexp_replace(
        regexp_replace(col("aug"), urlRe, "<URL>"),
        emailRe, "<EMAIL>"),
      ipRe, "<IP>")
    aug.select(col("source"),
        regexp_count(col("aug"), lit(emailRe)).as("ne"),
        regexp_count(col("aug"), lit(ipRe)).as("ni"),
        regexp_count(col("aug"), lit(urlRe)).as("nu"),
        (length(col("aug")) - length(red)).as("removed"))
      .groupBy("source")
      .agg(count(lit(1)).as("docs"), sum("ne").as("n_email"),
        sum("ni").as("n_ip"), sum("nu").as("n_url"),
        sum("removed").as("chars_redacted"))
      .orderBy("source")
  }
  val textPiiRedactSql: String =
    raw"""WITH aug AS (SELECT source, text ||
         |    (CASE doc_id % 3
         |      WHEN 0 THEN ' contact user' || doc_id || '@example.com now'
         |      WHEN 1 THEN ' host 10.0.' || (doc_id % 256) || '.1 up'
         |      ELSE ' see https://example.org/d/' || doc_id || ' page' END) ||
         |    (CASE WHEN doc_id % 7 = 0
         |      THEN ' cc admin' || doc_id || '@example.net' ELSE '' END)
         |    AS aug
         |  FROM documents),
         |cnt AS (SELECT source,
         |    CAST(len(regexp_extract_all(aug,
         |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
         |      AS ne,
         |    CAST(len(regexp_extract_all(aug,
         |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS ni,
         |    CAST(len(regexp_extract_all(aug, 'https?://[^\s]+')) AS BIGINT)
         |      AS nu,
         |    CAST(length(aug) - length(
         |      regexp_replace(
         |        regexp_replace(
         |          regexp_replace(aug, 'https?://[^\s]+', '<URL>', 'g'),
         |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
         |          '<EMAIL>', 'g'),
         |        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'))
         |      AS BIGINT) AS removed
         |  FROM aug)
         |SELECT source, CAST(count(*) AS BIGINT) AS docs,
         |  CAST(sum(ne) AS BIGINT) AS n_email,
         |  CAST(sum(ni) AS BIGINT) AS n_ip,
         |  CAST(sum(nu) AS BIGINT) AS n_url,
         |  CAST(sum(removed) AS BIGINT) AS chars_redacted
         |FROM cnt GROUP BY source ORDER BY source""".stripMargin

  // ---------- pairwise label-centroid drift ----------

  /** Pairwise L2 distance and cosine between class centroids of the
    * embedding table — the drift monitor for "are my label clusters
    * collapsing / separating between corpus snapshots?". One corpus pass
    * reduces to |labels|×dim centroid cells (davg per cell, the repo's
    * order-independent float mean); everything pairwise runs on that
    * bounded table. */
  def embCentroidDrift(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("i", "xf")))
      .select(col("label"), col("i"), col("xf").cast("double").as("x"))
    val c = e.groupBy("label", "i").agg(davg(col("x")).as("cx"))
      .localCheckpoint()
    val a = c.select(col("label").as("label_a"), col("i"),
      col("cx").as("cxa"))
    val b = c.select(col("label").as("label_b"), col("i").as("ib"),
      col("cx").as("cxb"))
    a.join(b, col("i") === col("ib") && col("label_a") < col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(
        sqrt(sum(ddec((col("cxa") - col("cxb")) * (col("cxa") - col("cxb")),
          precision = 38, scale = 12)).cast("double")).as("l2"),
        (sum(ddec(col("cxa") * col("cxb"), precision = 38, scale = 12))
          .cast("double") /
          sqrt(sum(ddec(col("cxa") * col("cxa"), precision = 38, scale = 12))
            .cast("double") *
            sum(ddec(col("cxb") * col("cxb"), precision = 38, scale = 12))
              .cast("double"))).as("cos"))
      .select(col("label_a").cast("long").as("label_a"),
        col("label_b").cast("long").as("label_b"),
        round(col("l2"), 6).as("l2"), round(col("cos"), 6).as("cos"))
      .orderBy("label_a", "label_b")
  }
  val embCentroidDriftSql: String =
    """WITH e AS (SELECT label, i, CAST(embedding[i] AS DOUBLE) AS x
      |  FROM embeddings,
      |    unnest(generate_series(1, len(embedding))) AS t(i)),
      |c AS (SELECT label, i,
      |    CAST(sum(CAST(x AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS cx
      |  FROM e GROUP BY label, i)
      |SELECT CAST(a.label AS BIGINT) AS label_a,
      |  CAST(b.label AS BIGINT) AS label_b,
      |  round(sqrt(CAST(sum(CAST((a.cx - b.cx) * (a.cx - b.cx)
      |    AS DECIMAL(38,12))) AS DOUBLE)), 6) AS l2,
      |  round(CAST(sum(CAST(a.cx * b.cx AS DECIMAL(38,12))) AS DOUBLE) /
      |    sqrt(CAST(sum(CAST(a.cx * a.cx AS DECIMAL(38,12))) AS DOUBLE) *
      |      CAST(sum(CAST(b.cx * b.cx AS DECIMAL(38,12))) AS DOUBLE)), 6)
      |    AS cos
      |FROM c a JOIN c b ON a.i = b.i AND a.label < b.label
      |GROUP BY a.label, b.label ORDER BY label_a, label_b""".stripMargin

  // ---------- corpus snapshot diff ----------

  /** Snapshot diff between two corpus versions — the audit a pipeline
    * runs when a new crawl lands: per-status document counts plus
    * column-level change tallies, from one full-outer keyed join (the
    * canonical distributed diff shape; no driver-side comparison). v2 is
    * derived deterministically from v1 inside the query (every 17th doc
    * deleted, every 10th edited, every 13th re-added under a fresh id),
    * so the operator under test is the diff machinery itself. */
  def tableDiff(s: SparkSession, d: String): DataFrame = {
    val v1 = t(s, d, "documents").select("doc_id", "text", "n_chars", "source")
    val mx = v1.agg(max("doc_id").as("mx"))
    val kept = v1.filter(pmod(col("doc_id"), lit(17)) =!= 0)
      .withColumn("text", when(pmod(col("doc_id"), lit(10)) === 0,
        concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
      .withColumn("n_chars", when(pmod(col("doc_id"), lit(10)) === 0,
        col("n_chars") + 7).otherwise(col("n_chars")))
    val added = v1.filter(pmod(col("doc_id"), lit(13)) === 0)
      .crossJoin(broadcast(mx))
      .select((col("doc_id") + col("mx") + 1).as("doc_id"), col("text"),
        col("n_chars"), col("source"))
    val v2 = kept.unionByName(added)
    v1.select(col("doc_id"), col("text").as("t1"), col("n_chars").as("n1"))
      .join(v2.select(col("doc_id"), col("text").as("t2"),
        col("n_chars").as("n2")), Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("t1").isNull, lit("added"))
          .when(col("t2").isNull, lit("removed"))
          .when(col("t1") =!= col("t2") || col("n1") =!= col("n2"),
            lit("changed"))
          .otherwise(lit("unchanged")))
      .groupBy("status")
      .agg(count(lit(1)).as("docs"),
        sum(when(col("t1").isNotNull && col("t2").isNotNull &&
          col("t1") =!= col("t2"), 1L).otherwise(0L)).as("text_changes"),
        sum(when(col("n1").isNotNull && col("n2").isNotNull &&
          col("n1") =!= col("n2"), 1L).otherwise(0L)).as("nchars_changes"))
      .orderBy("status")
  }
  val tableDiffSql: String =
    """WITH v1 AS (SELECT doc_id, text, n_chars, source FROM documents),
      |mx AS (SELECT max(doc_id) AS mx FROM v1),
      |kept AS (SELECT doc_id,
      |    CASE WHEN doc_id % 10 = 0 THEN text || ' [rev2]' ELSE text END
      |      AS text,
      |    CASE WHEN doc_id % 10 = 0 THEN n_chars + 7 ELSE n_chars END
      |      AS n_chars, source
      |  FROM v1 WHERE doc_id % 17 <> 0),
      |added AS (SELECT v1.doc_id + mx.mx + 1 AS doc_id, text, n_chars, source
      |  FROM v1 CROSS JOIN mx WHERE v1.doc_id % 13 = 0),
      |v2 AS (SELECT * FROM kept UNION ALL SELECT * FROM added),
      |j AS (SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
      |    a.text AS t1, a.n_chars AS n1, b.text AS t2, b.n_chars AS n2
      |  FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id),
      |st AS (SELECT *, CASE
      |    WHEN t1 IS NULL THEN 'added'
      |    WHEN t2 IS NULL THEN 'removed'
      |    WHEN t1 <> t2 OR n1 <> n2 THEN 'changed'
      |    ELSE 'unchanged' END AS status
      |  FROM j)
      |SELECT status, CAST(count(*) AS BIGINT) AS docs,
      |  CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL AND t1 <> t2
      |    THEN 1 ELSE 0 END) AS BIGINT) AS text_changes,
      |  CAST(sum(CASE WHEN n1 IS NOT NULL AND n2 IS NOT NULL AND n1 <> n2
      |    THEN 1 ELSE 0 END) AS BIGINT) AS nchars_changes
      |FROM st GROUP BY status ORDER BY status""".stripMargin

  // ---------- Benjamini–Hochberg FDR over the KS battery ----------

  /** Multiple-testing control for the drift-test battery: asymptotic
    * two-sample KS p-values (p = min(1, 2·exp(−2D²·n_a·n_b/(n_a+n_b))))
    * for every source pair, Benjamini–Hochberg adjusted (step-up: p_adj
    * at rank i is the running min of p·m/rank from the largest rank
    * down). A pipeline running C(sources,2) simultaneous drift tests
    * without FDR control would flag spurious shifts every snapshot. All
    * windows run on the bounded pair table; the corpus-sized work is
    * [[Quality.statKsTest]]'s one keyed aggregation. */
  def statBhFdr(s: SparkSession, d: String): DataFrame = {
    val ks = Quality.statKsTest(s, d)
    val p = least(lit(1.0), lit(2.0) * exp(lit(-2.0) * col("ks_stat") *
      col("ks_stat") * col("n_a") * col("n_b") / (col("n_a") + col("n_b"))))
    val wRank = Window.orderBy("p", "source_a", "source_b")
    val base = ks.withColumn("p", p)
      .withColumn("rn", row_number().over(wRank))
      .withColumn("m", count(lit(1)).over(Window.partitionBy(lit(0))))
    val wRev = Window.orderBy(col("rn").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("padj", min(col("p") * col("m") / col("rn")).over(wRev))
      .select(col("source_a"), col("source_b"), col("ks_stat"),
        round(col("p"), 8).as("p"), round(col("padj"), 8).as("p_adj"),
        (round(col("padj"), 8) <= 0.1).as("reject"))
      .orderBy("source_a", "source_b")
  }
  val statBhFdrSql: String = {
    val ks = Quality.statKsTestSql
    s"""WITH base AS (SELECT * FROM ($ks) ks),
       |p AS (SELECT *, least(1.0, 2.0 * exp(-2.0 * ks_stat * ks_stat
       |    * n_a * n_b / (n_a + n_b))) AS p FROM base),
       |r AS (SELECT *, row_number() OVER (ORDER BY p, source_a, source_b)
       |    AS rn, CAST(count(*) OVER () AS BIGINT) AS m FROM p),
       |adj AS (SELECT *, min(p * m / rn) OVER (ORDER BY rn DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS padj
       |  FROM r)
       |SELECT source_a, source_b, ks_stat, round(p, 8) AS p,
       |  round(padj, 8) AS p_adj, round(padj, 8) <= 0.1 AS reject
       |FROM adj ORDER BY source_a, source_b""".stripMargin
  }

  // ---------- Johnson–Lindenstrauss random projection ----------

  /** Deterministic ±1 random projection of the embedding space (64 → 16
    * dims, Achlioptas-style signs derived from md5 so both engines build
    * the identical matrix), audited by the distortion ratio
    * d_proj/d_orig over sampled vector pairs — the JL dimension-reduction
    * front-end an ANN index runs before bucketing. The projection itself
    * is map-side (one pass, each vector independent, sign matrix is a
    * 16×64 broadcast); only the bounded audit sample is pairwise. */
  def embRandomProjection(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings").filter(col("vec_id") < 30)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i0", "xf")))
      .select(col("vec_id"), (col("i0") + 1).as("i"),
        col("xf").cast("double").as("x"))
    val jdf = broadcast(s.range(1, 17).toDF("j"))
    val sgn = expr("case when pmod(" + md5Lane("cast(" +
      "concat(cast(j as string), '_', cast(i as string)) as binary)") +
      ", 2) = 0 then 1.0 else -1.0 end")
    val proj = e.crossJoin(jdf)
      .groupBy("vec_id", "j")
      .agg((sum(ddec(sgn * col("x"), precision = 38, scale = 12))
        .cast("double") / 4.0).as("p"))
    def pair(df: DataFrame, dim: String, v: String, out: String) = {
      val a = df.select(col("vec_id").as("va"), col(dim).as("da"),
        col(v).as("xa"))
      val b = df.select(col("vec_id").as("vb"), col(dim).as("db"),
        col(v).as("xb"))
      a.join(b, col("da") === col("db") && col("va") < col("vb"))
        .groupBy("va", "vb")
        .agg(sqrt(sum(ddec((col("xa") - col("xb")) * (col("xa") - col("xb")),
          precision = 38, scale = 12)).cast("double")).as(out))
    }
    pair(e, "i", "x", "d_orig")
      .join(pair(proj, "j", "p", "d_proj"), Seq("va", "vb"))
      .select(col("va").as("vec_a"), col("vb").as("vec_b"),
        round(col("d_orig"), 6).as("d_orig"),
        round(col("d_proj"), 6).as("d_proj"),
        round(col("d_proj") / col("d_orig"), 6).as("distortion"))
      .orderBy("vec_a", "vec_b")
  }
  val embRandomProjectionSql: String =
    """WITH e AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
      |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
      |  WHERE vec_id < 30),
      |proj AS (SELECT vec_id, j,
      |    CAST(sum(CAST((CASE WHEN ('0x' || substr(md5(j || '_' || i), 1, 15))
      |        ::BIGINT % 2 = 0 THEN 1.0 ELSE -1.0 END) * x
      |      AS DECIMAL(38,12))) AS DOUBLE) / 4.0 AS p
      |  FROM e CROSS JOIN unnest(generate_series(1, 16)) AS s(j)
      |  GROUP BY vec_id, j),
      |po AS (SELECT a.vec_id AS va, b.vec_id AS vb,
      |    sqrt(CAST(sum(CAST((a.x - b.x) * (a.x - b.x) AS DECIMAL(38,12)))
      |      AS DOUBLE)) AS d_orig
      |  FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
      |  GROUP BY a.vec_id, b.vec_id),
      |pp AS (SELECT a.vec_id AS va, b.vec_id AS vb,
      |    sqrt(CAST(sum(CAST((a.p - b.p) * (a.p - b.p) AS DECIMAL(38,12)))
      |      AS DOUBLE)) AS d_proj
      |  FROM proj a JOIN proj b ON a.j = b.j AND a.vec_id < b.vec_id
      |  GROUP BY a.vec_id, b.vec_id)
      |SELECT po.va AS vec_a, po.vb AS vec_b,
      |  round(po.d_orig, 6) AS d_orig, round(pp.d_proj, 6) AS d_proj,
      |  round(pp.d_proj / po.d_orig, 6) AS distortion
      |FROM po JOIN pp ON po.va = pp.va AND po.vb = pp.vb
      |ORDER BY vec_a, vec_b""".stripMargin

  // ---------- registry ----------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stat_mutual_info" -> (statMutualInfo _),
    "stat_cramers_v" -> (statCramersV _),
    "stat_kendall_tau" -> (statKendallTau _),
    "stat_cohens_d" -> (statCohensD _),
    "stat_levene" -> (statLevene _),
    "text_pii_redact" -> (textPiiRedact _),
    "emb_centroid_drift" -> (embCentroidDrift _),
    "table_diff" -> (tableDiff _),
    "stat_bh_fdr" -> (statBhFdr _),
    "emb_random_projection" -> (embRandomProjection _))

  val oracle: Map[String, String] = Map(
    "stat_mutual_info" -> statMutualInfoSql,
    "stat_cramers_v" -> statCramersVSql,
    "stat_kendall_tau" -> statKendallTauSql,
    "stat_cohens_d" -> statCohensDSql,
    "stat_levene" -> statLeveneSql,
    "text_pii_redact" -> textPiiRedactSql,
    "emb_centroid_drift" -> embCentroidDriftSql,
    "table_diff" -> tableDiffSql,
    "stat_bh_fdr" -> statBhFdrSql,
    "emb_random_projection" -> embRandomProjectionSql)
}
