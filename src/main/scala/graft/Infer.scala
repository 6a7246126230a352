package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Q._

/** Inferential statistics and training-curriculum operators: one-way
  * ANOVA with effect size (is source a real driver of document length?),
  * tie-aware ROC AUC (does spend predict conversion?), the Theil–Sen
  * robust trend estimator (is daily volume drifting, outlier-proof?),
  * a Poisson-bootstrap confidence interval (the resampling scheme that
  * actually runs at 100 TB — per-row independent Poisson(1) weights
  * instead of a global multinomial draw, so the "resample" is one
  * map-side expression ahead of a B-keyed reduce), and curriculum
  * staging on the engine's distributed exact-ntile primitive.
  *
  * Scale design, per the repo recipe: every statistic reduces the corpus
  * to a bounded table first — per-group BIGINT moment triples (ANOVA),
  * the distinct cents-grid of scores (AUC: bounded by the price grid,
  * not the event count), the daily count series (Theil–Sen: pairs are
  * days², not rows²), or B replicate aggregates (bootstrap) — and runs
  * all remaining math there. Unpartitioned windows appear only on those
  * bounded tables. Counts and weighted sums stay integral (exact in both
  * engines); each final statistic is one fixed double expression tree
  * rounded at 6.
  */
object Infer {

  // ---------- one-way ANOVA (n_chars across sources) ----------

  /** One-way ANOVA F and eta² for `n_chars` across `source` groups —
    * the "is this metadata column worth stratifying on?" screen that
    * precedes [[Insight.statCohensD]]'s pairwise effect sizes. One
    * corpus pass reduces to per-source (n, Σx, Σx²) BIGINT triples;
    * SSB/SSW come from those exactly (per-group s1²/n terms summed as
    * DECIMAL(38,12), order-independent), so F and eta² are one fixed
    * double tree over a |sources|-row table. */
  def statAnova(s: SparkSession, d: String): DataFrame = {
    val m = t(s, d, "documents").groupBy("source")
      .agg(count(lit(1)).as("nj"), sum("n_chars").as("s1"),
        sum(col("n_chars") * col("n_chars")).as("s2"))
      .localCheckpoint()
    val tot = m.agg(sum("nj").as("n"), sum("s1").as("gs1"),
      sum("s2").as("gs2"), count(lit(1)).as("k"))
    val parts = m
      .select(ddec(col("s1").cast("double") * col("s1") / col("nj"),
        precision = 38, scale = 12).as("t"))
      .agg(sum("t").cast("double").as("sb"))
    parts.crossJoin(tot)
      .withColumn("ssb",
        col("sb") - col("gs1").cast("double") * col("gs1") / col("n"))
      .withColumn("ssw", col("gs2").cast("double") - col("sb"))
      .withColumn("sst",
        col("gs2").cast("double") -
          col("gs1").cast("double") * col("gs1") / col("n"))
      .select(col("n").cast("long").as("n"), col("k").cast("long").as("k"),
        round(((col("n") - col("k")).cast("double") / (col("k") - 1)) *
          col("ssb") / col("ssw"), 6).as("f_stat"),
        round(col("ssb") / col("sst"), 6).as("eta_sq"))
  }
  val statAnovaSql: String =
    """WITH m AS (SELECT source, CAST(count(*) AS BIGINT) AS nj,
      |    CAST(sum(n_chars) AS BIGINT) AS s1,
      |    CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(sum(nj) AS BIGINT) AS n,
      |    CAST(sum(s1) AS BIGINT) AS gs1, CAST(sum(s2) AS BIGINT) AS gs2,
      |    CAST(count(*) AS BIGINT) AS k FROM m),
      |parts AS (SELECT CAST(sum(CAST(
      |    CAST(s1 AS DOUBLE) * s1 / nj AS DECIMAL(38,12))) AS DOUBLE) AS sb
      |  FROM m)
      |SELECT tot.n AS n, tot.k AS k,
      |  round((CAST(tot.n - tot.k AS DOUBLE) / (tot.k - 1)) *
      |    (parts.sb - CAST(tot.gs1 AS DOUBLE) * tot.gs1 / tot.n) /
      |    (CAST(tot.gs2 AS DOUBLE) - parts.sb), 6) AS f_stat,
      |  round((parts.sb - CAST(tot.gs1 AS DOUBLE) * tot.gs1 / tot.n) /
      |    (CAST(tot.gs2 AS DOUBLE) -
      |      CAST(tot.gs1 AS DOUBLE) * tot.gs1 / tot.n), 6) AS eta_sq
      |FROM parts CROSS JOIN tot""".stripMargin

  // ---------- tie-aware ROC AUC (value → purchase) ----------

  /** ROC AUC of `value` as a score for the purchase label, computed
    * exactly with the tie-aware rank formulation on the cents grid:
    * AUC = Σ_bins (negBelow·pos + neg·pos/2) / (Npos·Nneg), where one
    * keyed aggregation reduces the event stream to per-cent
    * (pos, neg) counts. The numerator is kept doubled so everything
    * stays BIGINT until the final division. The cumulative window runs
    * unpartitioned on the cents grid — bounded by the price range
    * (|distinct cents|), not the corpus, the same vocab-window posture
    * as [[Pipeline.vocabCoverage]]. Rounding cents via round() keeps
    * both engines on the same bin at double ulp boundaries. */
  def statAuc(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .select(round(col("value") * 100).cast("long").as("bin"),
        (col("event_type") === "purchase").as("lab"))
    val c = ev.groupBy("bin").agg(
      sum(when(col("lab"), 1L).otherwise(0L)).as("pos"),
      sum(when(col("lab"), 0L).otherwise(1L)).as("neg"))
    val w = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, -1)
    c.withColumn("negBelow", coalesce(sum("neg").over(w), lit(0L)))
      .agg(
        sum(col("pos") * (lit(2) * col("negBelow") + col("neg"))).as("num2"),
        sum("pos").as("np"), sum("neg").as("nn"))
      .select(col("np").cast("long").as("n_pos"),
        col("nn").cast("long").as("n_neg"),
        round(col("num2").cast("double") /
          (lit(2.0) * col("np") * col("nn")), 6).as("auc"))
  }
  val statAucSql: String =
    """WITH ev AS (SELECT CAST(round(value * 100, 0) AS BIGINT) AS bin,
      |    (event_type = 'purchase') AS lab FROM events),
      |c AS (SELECT bin,
      |    CAST(sum(CASE WHEN lab THEN 1 ELSE 0 END) AS BIGINT) AS pos,
      |    CAST(sum(CASE WHEN lab THEN 0 ELSE 1 END) AS BIGINT) AS neg
      |  FROM ev GROUP BY bin),
      |cum AS (SELECT pos, neg, COALESCE(CAST(sum(neg) OVER (ORDER BY bin
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
      |    AS negBelow FROM c)
      |SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
      |  CAST(sum(neg) AS BIGINT) AS n_neg,
      |  round(CAST(sum(pos * (2 * negBelow + neg)) AS DOUBLE) /
      |    (2.0 * sum(pos) * sum(neg)), 6) AS auc
      |FROM cum""".stripMargin

  // ---------- Theil–Sen robust trend (daily event volume) ----------

  /** Theil–Sen estimator of the daily-event-count trend: the median of
    * all pairwise slopes (c_j − c_i)/(j − i) over the daily series —
    * resistant to the outlier days that wreck an OLS slope on real
    * traffic. The corpus reduces to one count per day; the pair table is
    * days² (bounded by the time range, not the event count) and the
    * median comes from the doubled-median rank selection over it via the
    * [[Q.distPos]] range-shuffle topology — a parallel exact global rank,
    * no single-partition window even at decade-long daily series — with a
    * (slope, day_a, day_b) total order for reproducibility. */
  def statTheilSen(s: SparkSession, d: String): DataFrame = {
    val daily = t(s, d, "events")
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("c"))
      .select(datediff(col("day"), to_date(lit("1970-01-01"))).cast("long").as("i"),
        col("c"))
      .localCheckpoint()
    val a = daily.select(col("i").as("ia"), col("c").as("ca"))
    val b = daily.select(col("i").as("ib"), col("c").as("cb"))
    val sl = a.join(b, col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        ((col("cb") - col("ca")).cast("double") /
          (col("ib") - col("ia"))).as("slope"))
      // consumed twice (pair census + rank pass): pin the pair table
      .localCheckpoint()
    val n = sl.count() // days²-bounded scalar, driver bookkeeping
    val rk = Q.distPos(sl, "pos0", col("slope"), col("ia"), col("ib"))
    rk.agg(
        sum(when(col("pos0") + 1 === lit((n + 1) / 2), col("slope"))
          .otherwise(0.0)).as("m1"),
        sum(when(col("pos0") + 1 === lit((n + 2) / 2), col("slope"))
          .otherwise(0.0)).as("m2"))
      .select(lit(n).cast("long").as("n_pairs"),
        round((col("m1") + col("m2")) / 2.0, 6).as("theil_sen_slope"))
  }
  val statTheilSenSql: String =
    """WITH daily AS (SELECT
      |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS i,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY CAST(ts AS DATE)),
      |sl AS (SELECT a.i AS ia, b.i AS ib,
      |    CAST(b.c - a.c AS DOUBLE) / (b.i - a.i) AS slope
      |  FROM daily a JOIN daily b ON a.i < b.i),
      |rk AS (SELECT slope,
      |    row_number() OVER (ORDER BY slope, ia, ib) AS rn,
      |    count(*) OVER () AS nn
      |  FROM sl)
      |SELECT CAST(max(nn) AS BIGINT) AS n_pairs,
      |  round((sum(CASE WHEN rn = (nn + 1) // 2 THEN slope ELSE 0 END) +
      |    sum(CASE WHEN rn = (nn + 2) // 2 THEN slope ELSE 0 END)) / 2.0, 6)
      |    AS theil_sen_slope
      |FROM rk""".stripMargin

  // ---------- Poisson-bootstrap confidence interval ----------

  private val PoissonCdf = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238463, 0.9963401531726563, 0.9994058151824183,
    0.999916758850712, 0.9999897508033253)

  /** 95% bootstrap CI for mean document length via the Poisson
    * bootstrap: replicate b gives each document an independent
    * Poisson(1) weight (inverse-CDF over an md5-derived uniform, so both
    * engines draw the identical weight), and mean_b = Σw·x / Σw. This is
    * the resampling scheme that works at 100 TB — no global multinomial
    * coordination, each row's weight is a map-side expression, and the
    * whole run is one B-keyed reduce with map-side combine. B = 100
    * replicates; the CI is the (3rd, 98th) order statistics of the
    * replicate means (the contract's fixed 2.5%/97.5% ranks), selected
    * on the bounded B-row table. */
  def statBootstrapCi(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select("doc_id", "n_chars")
    val bdf = broadcast(s.range(1, 101).toDF("b"))
    val u = expr(md5Lane("cast(concat(" +
      "cast(doc_id as string), '_', cast(b as string)) as binary)")) /
      lit(1152921504606846976.0)
    val w = PoissonCdf.zipWithIndex.foldRight(lit(8L): Column) {
      case ((thr, k), rest) => when(u < thr, lit(k.toLong)).otherwise(rest)
    }
    val reps = docs.crossJoin(bdf)
      .select(col("b"), (w * col("n_chars")).as("wx"), w.as("w"))
      .groupBy("b").agg(sum("wx").as("sx"), sum("w").as("sw"))
      .select(col("b"), (col("sx").cast("double") / col("sw")).as("m"))
    val wr = Window.orderBy("m", "b")
    val rk = reps.withColumn("rn", row_number().over(wr))
    val ci = rk.agg(
      count(lit(1)).as("breps"),
      max(when(col("rn") === 3, col("m"))).as("lo"),
      max(when(col("rn") === 98, col("m"))).as("hi"))
    val mean = docs.agg(
      (sum("n_chars").cast("double") / count(lit(1))).as("mean_chars"))
    ci.crossJoin(mean)
      .select(col("breps").cast("long").as("b_reps"),
        round(col("mean_chars"), 6).as("mean_chars"),
        round(col("lo"), 6).as("ci_lo"), round(col("hi"), 6).as("ci_hi"))
  }
  val statBootstrapCiSql: String = {
    val cdf = PoissonCdf.map(_.toString)
    val cases = cdf.zipWithIndex
      .map { case (thr, k) => s"WHEN u < $thr THEN $k" }
      .mkString(" ")
    s"""WITH reps AS (SELECT doc_id, n_chars, b,
       |    ('0x' || substr(md5(doc_id || '_' || b), 1, 15))::BIGINT
       |      / 1152921504606846976.0 AS u
       |  FROM documents CROSS JOIN unnest(generate_series(1, 100)) AS s(b)),
       |wts AS (SELECT b, n_chars,
       |    CAST(CASE $cases ELSE 8 END AS BIGINT) AS w
       |  FROM reps),
       |means AS (SELECT b, CAST(sum(w * n_chars) AS DOUBLE) / sum(w) AS m
       |  FROM wts GROUP BY b),
       |rk AS (SELECT m, row_number() OVER (ORDER BY m, b) AS rn FROM means),
       |ci AS (SELECT CAST(count(*) AS BIGINT) AS b_reps,
       |    max(CASE WHEN rn = 3 THEN m END) AS lo,
       |    max(CASE WHEN rn = 98 THEN m END) AS hi FROM rk),
       |mn AS (SELECT CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_chars
       |  FROM documents)
       |SELECT ci.b_reps, round(mn.mean_chars, 6) AS mean_chars,
       |  round(ci.lo, 6) AS ci_lo, round(ci.hi, 6) AS ci_hi
       |FROM ci CROSS JOIN mn""".stripMargin
  }

  // ---------- curriculum staging ----------

  /** Curriculum staging for training: order the corpus easy→hard
    * (difficulty = document length, doc_id tie-break for a total order)
    * and cut it into 5 equal stages with [[Q.ntileByBoundaries]] (round
    * 20: the boundary pass range-shuffles only (n_chars, doc_id) — the
    * text column never leaves the scan — and the stage label is a
    * map-side comparison against 4 broadcast boundary rows, so the
    * profile below aggregates map-side with no checkpoint or join-back),
    * matching the `ntile` builtin bit-for-bit with no single-partition
    * sort. Per-stage profile
    * (bounds + exact mean token count) is what a curriculum scheduler
    * consumes to pace sampling temperature across training. */
  def curriculumStages(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("n_chars"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("toks"))
    Q.ntileByBoundaries(docs, 5, "stage", col("n_chars"), col("doc_id"))
      .groupBy("stage")
      .agg(count(lit(1)).as("docs"),
        min("n_chars").as("min_chars"), max("n_chars").as("max_chars"),
        (sum("toks").cast("double") / count(lit(1))).as("avgt"))
      .select(col("stage"), col("docs"), col("min_chars"), col("max_chars"),
        round(col("avgt"), 6).as("avg_tokens"))
      .orderBy("stage")
  }
  val curriculumStagesSql: String =
    raw"""WITH staged AS (SELECT doc_id, n_chars,
         |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
         |      AS toks,
         |    CAST(ntile(5) OVER (ORDER BY n_chars, doc_id) AS BIGINT)
         |      AS stage
         |  FROM documents)
         |SELECT stage, CAST(count(*) AS BIGINT) AS docs,
         |  CAST(min(n_chars) AS BIGINT) AS min_chars,
         |  CAST(max(n_chars) AS BIGINT) AS max_chars,
         |  round(CAST(sum(toks) AS DOUBLE) / count(*), 6) AS avg_tokens
         |FROM staged GROUP BY stage ORDER BY stage""".stripMargin

  // ---------- registry ----------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stat_anova" -> (statAnova _),
    "stat_auc" -> (statAuc _),
    "stat_theil_sen" -> (statTheilSen _),
    "stat_bootstrap_ci" -> (statBootstrapCi _),
    "curriculum_stages" -> (curriculumStages _))

  val oracle: Map[String, String] = Map(
    "stat_anova" -> statAnovaSql,
    "stat_auc" -> statAucSql,
    "stat_theil_sen" -> statTheilSenSql,
    "stat_bootstrap_ci" -> statBootstrapCiSql,
    "curriculum_stages" -> curriculumStagesSql)
}
