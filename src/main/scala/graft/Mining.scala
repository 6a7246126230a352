package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Q._

/** Model-prep mining operators: closed-form multiple regression via
  * moment reduction (the only OLS shape that works at 100 TB — one pass
  * to nine exact sums, the 3×3 solve is a fixed expression), a k-fold
  * cross-validation split audit, traffic peak detection on the hourly
  * grid, hard positive/negative triplet mining for metric learning, and
  * McNemar's paired test for comparing two quality filters on the same
  * documents.
  *
  * Scale design: each operator is one corpus-sized keyed pass reduced to
  * a bounded table (moment sums, fold×source cells, the hourly grid, an
  * anchors×corpus distance table grouped per anchor) before any window
  * or pairwise math. Integral sums stay BIGINT; distances sum as
  * DECIMAL(38,12) (order-independent); every final statistic is a fixed
  * double tree rounded at 6.
  */
object Mining {

  // ---------- two-regressor OLS via normal equations ----------

  /** OLS of spend cents on (hour-of-day, day-of-week) solved in closed
    * form from nine exact BIGINT moments (n, Σx1, Σx2, Σx1², Σx1x2,
    * Σx2², Σy, Σx1y, Σx2y, Σy²) via Cramer's rule — the distributed
    * regression shape: one map-side-combinable aggregation however large
    * the corpus, then a constant-size solve. Both engines evaluate the
    * identical double expression tree over identical integers, so the
    * coefficients match bit-for-bit. */
  def statOls2(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").select(
      hour(col("ts")).cast("long").as("x1"),
      (dayofweek(col("ts")) - 1).cast("long").as("x2"),
      round(col("value") * 100).cast("long").as("y"))
    val m = ev.agg(
      count(lit(1)).as("n"), sum("x1").as("s1"), sum("x2").as("s2"),
      sum(col("x1") * col("x1")).as("s11"),
      sum(col("x1") * col("x2")).as("s12"),
      sum(col("x2") * col("x2")).as("s22"),
      sum("y").as("sy"), sum(col("x1") * col("y")).as("s1y"),
      sum(col("x2") * col("y")).as("s2y"),
      sum(col("y") * col("y")).as("syy"))
    val D = (c: String) => col(c).cast("double")
    val det = D("n") * (D("s11") * D("s22") - D("s12") * D("s12")) -
      D("s1") * (D("s1") * D("s22") - D("s12") * D("s2")) +
      D("s2") * (D("s1") * D("s12") - D("s11") * D("s2"))
    val det0 = D("sy") * (D("s11") * D("s22") - D("s12") * D("s12")) -
      D("s1") * (D("s1y") * D("s22") - D("s12") * D("s2y")) +
      D("s2") * (D("s1y") * D("s12") - D("s11") * D("s2y"))
    val det1 = D("n") * (D("s1y") * D("s22") - D("s12") * D("s2y")) -
      D("sy") * (D("s1") * D("s22") - D("s12") * D("s2")) +
      D("s2") * (D("s1") * D("s2y") - D("s1y") * D("s2"))
    val det2 = D("n") * (D("s11") * D("s2y") - D("s1y") * D("s12")) -
      D("s1") * (D("s1") * D("s2y") - D("s1y") * D("s2")) +
      D("sy") * (D("s1") * D("s12") - D("s11") * D("s2"))
    m.withColumn("b0", det0 / det)
      .withColumn("b1", det1 / det)
      .withColumn("b2", det2 / det)
      .withColumn("sse", D("syy") - col("b0") * D("sy") -
        col("b1") * D("s1y") - col("b2") * D("s2y"))
      .withColumn("sst", D("syy") - D("sy") * D("sy") / D("n"))
      .select(col("n").cast("long").as("n"),
        round(col("b0") / 100.0, 6).as("beta0"),
        round(col("b1") / 100.0, 6).as("beta1"),
        round(col("b2") / 100.0, 6).as("beta2"),
        round(lit(1.0) - col("sse") / col("sst"), 6).as("r2"))
  }
  val statOls2Sql: String =
    """WITH ev AS (SELECT CAST(hour(ts) AS BIGINT) AS x1,
      |    CAST(dayofweek(ts) AS BIGINT) AS x2,
      |    CAST(round(value * 100, 0) AS BIGINT) AS y FROM events),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
      |    CAST(sum(x1 * x1) AS BIGINT) AS s11,
      |    CAST(sum(x1 * x2) AS BIGINT) AS s12,
      |    CAST(sum(x2 * x2) AS BIGINT) AS s22,
      |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x1 * y) AS BIGINT) AS s1y,
      |    CAST(sum(x2 * y) AS BIGINT) AS s2y,
      |    CAST(sum(y * y) AS BIGINT) AS syy FROM ev),
      |sol AS (SELECT *,
      |    (CAST(sy AS DOUBLE) * (CAST(s11 AS DOUBLE) * s22
      |        - CAST(s12 AS DOUBLE) * s12)
      |      - CAST(s1 AS DOUBLE) * (CAST(s1y AS DOUBLE) * s22
      |        - CAST(s12 AS DOUBLE) * s2y)
      |      + CAST(s2 AS DOUBLE) * (CAST(s1y AS DOUBLE) * s12
      |        - CAST(s11 AS DOUBLE) * s2y)) /
      |    (CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * s22
      |        - CAST(s12 AS DOUBLE) * s12)
      |      - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s22
      |        - CAST(s12 AS DOUBLE) * s2)
      |      + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s12
      |        - CAST(s11 AS DOUBLE) * s2)) AS b0,
      |    (CAST(n AS DOUBLE) * (CAST(s1y AS DOUBLE) * s22
      |        - CAST(s12 AS DOUBLE) * s2y)
      |      - CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * s22
      |        - CAST(s12 AS DOUBLE) * s2)
      |      + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s2y
      |        - CAST(s1y AS DOUBLE) * s2)) /
      |    (CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * s22
      |        - CAST(s12 AS DOUBLE) * s12)
      |      - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s22
      |        - CAST(s12 AS DOUBLE) * s2)
      |      + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s12
      |        - CAST(s11 AS DOUBLE) * s2)) AS b1,
      |    (CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * s2y
      |        - CAST(s1y AS DOUBLE) * s12)
      |      - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s2y
      |        - CAST(s1y AS DOUBLE) * s2)
      |      + CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * s12
      |        - CAST(s11 AS DOUBLE) * s2)) /
      |    (CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * s22
      |        - CAST(s12 AS DOUBLE) * s12)
      |      - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s22
      |        - CAST(s12 AS DOUBLE) * s2)
      |      + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s12
      |        - CAST(s11 AS DOUBLE) * s2)) AS b2
      |  FROM m)
      |SELECT n,
      |  round(b0 / 100.0, 6) AS beta0, round(b1 / 100.0, 6) AS beta1,
      |  round(b2 / 100.0, 6) AS beta2,
      |  round(1.0 - (CAST(syy AS DOUBLE) - b0 * CAST(sy AS DOUBLE)
      |      - b1 * CAST(s1y AS DOUBLE) - b2 * CAST(s2y AS DOUBLE)) /
      |    (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n), 6) AS r2
      |FROM sol""".stripMargin

  // ---------- k-fold split audit ----------

  /** Deterministic 5-fold cross-validation assignment (md5-hash of
    * doc_id, the map-side split every engine can reproduce) plus the
    * audit a pipeline runs before trusting the folds: per-fold document
    * count, distinct sources covered, char mass, and the fold's χ²
    * contribution against a perfectly uniform split. Each document lands
    * in exactly one fold by construction; the audit is one keyed
    * aggregation. */
  def splitKfold(s: SparkSession, d: String): DataFrame = {
    val fold = expr("pmod(" + md5Lane("cast(concat(" +
      "cast(doc_id as string), '_fold') as binary)") + ", 5)")
    val docs = t(s, d, "documents").withColumn("fold", fold)
    val g = docs.groupBy("fold").agg(
      count(lit(1)).as("docs"),
      countDistinct("source").as("sources"),
      sum("n_chars").as("tot_chars"))
    val n = g.agg(sum("docs").as("n"))
    g.crossJoin(broadcast(n))
      .select(col("fold"), col("docs"), col("sources"), col("tot_chars"),
        round((col("docs") - col("n") / 5.0) * (col("docs") - col("n") / 5.0)
          / (col("n") / 5.0), 6).as("chi2_uniform"))
      .orderBy("fold")
  }
  val splitKfoldSql: String =
    """WITH docs AS (SELECT source, n_chars,
      |    ('0x' || substr(md5(doc_id || '_fold'), 1, 15))::BIGINT % 5
      |      AS fold
      |  FROM documents),
      |g AS (SELECT fold, CAST(count(*) AS BIGINT) AS docs,
      |    CAST(count(DISTINCT source) AS BIGINT) AS sources,
      |    CAST(sum(n_chars) AS BIGINT) AS tot_chars
      |  FROM docs GROUP BY fold),
      |n AS (SELECT CAST(sum(docs) AS BIGINT) AS n FROM g)
      |SELECT fold, docs, sources, tot_chars,
      |  round((docs - n.n / 5.0) * (docs - n.n / 5.0) / (n.n / 5.0), 6)
      |    AS chi2_uniform
      |FROM g CROSS JOIN n ORDER BY fold""".stripMargin

  // ---------- traffic peak detection (hourly grid) ----------

  /** Peak hours of event traffic: a local maximum on the hourly count
    * grid (strictly above both neighbors) that also clears mean + 2σ of
    * the grid. Mean/σ come from exact BIGINT moments; the lag/lead
    * window runs on the bounded hourly grid (time-range-sized, not
    * corpus-sized — the repo's vocab-window posture). Interior hours
    * only: the first/last grid hour have one neighbor and can't qualify. */
  def eventPeakDetect(s: SparkSession, d: String): DataFrame = {
    val hourly = t(s, d, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val m = hourly.agg(sum("c").as("s1"), sum(col("c") * col("c")).as("s2"),
      count(lit(1)).as("n"))
    val w = Window.orderBy("h")
    val x = hourly
      .withColumn("pc", lag("c", 1).over(w))
      .withColumn("nc", lead("c", 1).over(w))
    val mean = col("s1").cast("double") / col("n")
    val sd = sqrt((col("s2").cast("double") - col("s1").cast("double") *
      col("s1") / col("n")) / (col("n") - 1))
    x.crossJoin(broadcast(m))
      .filter(col("pc").isNotNull && col("nc").isNotNull &&
        col("c") > col("pc") && col("c") > col("nc") &&
        col("c") > mean + lit(2.0) * sd)
      .select(col("h").as("peak_hour"), col("c").as("events"),
        round((col("c") - mean) / sd, 6).as("z"))
      .orderBy("peak_hour")
  }
  val eventPeakDetectSql: String =
    """WITH hourly AS (SELECT date_trunc('hour', ts) AS h,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY date_trunc('hour', ts)),
      |m AS (SELECT CAST(sum(c) AS BIGINT) AS s1,
      |    CAST(sum(c * c) AS BIGINT) AS s2,
      |    CAST(count(*) AS BIGINT) AS n FROM hourly),
      |x AS (SELECT h, c, lag(c) OVER (ORDER BY h) AS pc,
      |    lead(c) OVER (ORDER BY h) AS nc FROM hourly)
      |SELECT h AS peak_hour, c AS events,
      |  round((c - CAST(s1 AS DOUBLE) / n) /
      |    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)),
      |    6) AS z
      |FROM x CROSS JOIN m
      |WHERE pc IS NOT NULL AND nc IS NOT NULL AND c > pc AND c > nc
      |  AND c > CAST(s1 AS DOUBLE) / n +
      |    2.0 * sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
      |      / (n - 1))
      |ORDER BY peak_hour""".stripMargin

  // ---------- hard triplet mining ----------

  /** Metric-learning triplet mining: for each anchor vector, the hardest
    * positive (same label, farthest) and hardest negative (different
    * label, nearest) by L2, plus the triplet margin (negative ⇒ the
    * triplet violates and is worth training on). Distances sum
    * per-dimension products as DECIMAL(38,12) so both engines rank
    * identically; (distance, vec_id) is the total order.
    *
    * Shape (round 15): the anchor sample is DRIVER state (20 × d
    * doubles — the table you'd broadcast at 100 TB), constant-folded
    * into ONE corpus pass as per-anchor [[graft.functions
    * .DecimalSqDevSum]] kernel distances; per-anchor extremes reduce
    * through a 20-group `max/min(struct(dist, bv))` aggregate whose
    * struct order replays the previous window's (dist, bv) sort —
    * including null-dist rows sorting first-asc/last-desc. The
    * dim-keyed join of a 64×-posexploded corpus against the anchors
    * (an anchors×corpus×d-row intermediate), the 4M-group hash
    * aggregate, and both per-anchor window sorts are GONE;
    * [[embTripletMiningJoin]] keeps that formulation as executable
    * documentation and MiningSpec pins the two row-equal. */
  def embTripletMining(s: SparkSession, d: String): DataFrame = {
    val vecs = t(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("v"))
    val anchors = vecs.filter(col("vec_id") < 20).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[java.lang.Integer]("label"),
        // null elements extract as NaN, not an unboxing NPE: the explode
        // formulation's null dim produced a null distance term that the
        // decimal sum skipped, and DecimalSqDevSum skips NaN terms the
        // same way — so NaN IS the null dim, bit-for-bit
        Option(r.getSeq[java.lang.Double](2))
          .map(_.map(x => if (x == null) Double.NaN else x.doubleValue).toArray)
          .orNull))
      // an empty anchor vector joined no dimension rows in the explode
      // formulation, so it never appeared — skip it here too
      .filter(a => a._3 != null && a._3.nonEmpty)
      .sortBy(_._1)
    // per-anchor kernel distance: sqrt(cast(Σ decimal terms as double)),
    // the exact arithmetic of sqrt(sum(cast((ax-x)² as decimal(38,12))))
    // — DecimalSqDevSum's min-dims fold IS the dim-equi-join semantics
    def distTo(av: Array[Double]): Column =
      sqrt(org.apache.spark.sql.graftcol.NativeColumn.column(
        graft.functions.DecimalSqDevSum(
          org.apache.spark.sql.graftcol.NativeColumn.expression(col("v")),
          av, 12)).cast("double"))
    val pairStructs = anchors.map { case (av, al, avec) =>
      // explicit int cast: a null anchor label would otherwise make this
      // struct field NullType and lean on array/struct coercion to analyze
      struct(lit(av).as("av"), lit(al).cast("int").as("al"),
        distTo(avec).as("dist"))
    }
    val pairs = vecs
      // an empty b-side vector joined no dimension rows either
      .filter(size(col("v")) >= 1)
      .select(col("vec_id").as("bv"), col("label").as("bl"),
        explode(array(pairStructs.toIndexedSeq: _*)).as("p"))
      .filter(col("p.av") =!= col("bv"))
    // hardest positive = window (dist DESC, bv ASC) head == max struct
    // (dist, -bv): a null dist field sorts smallest, matching DESC nulls
    // last; hardest negative = window (dist ASC, bv ASC) head == min
    // struct (dist, bv), null dist first. when() nulls rows whose label
    // comparison is null or false — exactly the previous filters.
    pairs.groupBy(col("p.av").as("av"))
      .agg(
        max(when(col("p.al") === col("bl"),
          struct(col("p.dist").as("dist"), (-col("bv")).as("nbv")))).as("ps"),
        min(when(col("p.al") =!= col("bl"),
          struct(col("p.dist").as("dist"), col("bv").as("bv")))).as("ns"))
      .filter(col("ps").isNotNull && col("ns").isNotNull)
      .select(col("av").as("anchor"), (-col("ps.nbv")).as("pos_id"),
        round(col("ps.dist"), 6).as("pos_dist"), col("ns.bv").as("neg_id"),
        round(col("ns.dist"), 6).as("neg_dist"),
        round(col("ns.dist") - col("ps.dist"), 6).as("margin"))
      .orderBy("anchor")
  }

  /** The pre-round-15 join formulation of [[embTripletMining]] —
    * executable documentation (broadcast anchor dims against the
    * 64×-posexploded corpus, keyed decimal reduce, per-anchor windows),
    * asserted row-equal in MiningSpec. */
  private[graft] def embTripletMiningJoin(
      s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i", "xf")))
      .select(col("vec_id"), col("label"), col("i"),
        col("xf").cast("double").as("x"))
    val anch = broadcast(e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("av"), col("label").as("al"),
        col("i").as("ai"), col("x").as("ax")))
    val dist = anch.join(e, col("ai") === col("i") &&
        col("av") =!= col("vec_id"))
      .groupBy(col("av"), col("al"), col("vec_id").as("bv"),
        col("label").as("bl"))
      .agg(sqrt(sum(ddec((col("ax") - col("x")) * (col("ax") - col("x")),
        precision = 38, scale = 12)).cast("double")).as("dist"))
    val wPos = Window.partitionBy("av")
      .orderBy(col("dist").desc, col("bv"))
    val wNeg = Window.partitionBy("av").orderBy(col("dist"), col("bv"))
    val pos = dist.filter(col("al") === col("bl"))
      .withColumn("rn", row_number().over(wPos)).filter(col("rn") === 1)
      .select(col("av"), col("bv").as("pos_id"), col("dist").as("pd"))
    val neg = dist.filter(col("al") =!= col("bl"))
      .withColumn("rn", row_number().over(wNeg)).filter(col("rn") === 1)
      .select(col("av").as("avn"), col("bv").as("neg_id"),
        col("dist").as("nd"))
    pos.join(neg, col("av") === col("avn"))
      .select(col("av").as("anchor"), col("pos_id"),
        round(col("pd"), 6).as("pos_dist"), col("neg_id"),
        round(col("nd"), 6).as("neg_dist"),
        round(col("nd") - col("pd"), 6).as("margin"))
      .orderBy("anchor")
  }
  val embTripletMiningSql: String =
    """WITH e AS (SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS x
      |  FROM embeddings,
      |    unnest(generate_series(1, len(embedding))) AS t(i)),
      |anch AS (SELECT vec_id AS av, label AS al, i AS ai, x AS ax
      |  FROM e WHERE vec_id < 20),
      |dist AS (SELECT av, al, e.vec_id AS bv, e.label AS bl,
      |    sqrt(CAST(sum(CAST((ax - x) * (ax - x) AS DECIMAL(38,12)))
      |      AS DOUBLE)) AS dist
      |  FROM anch JOIN e ON anch.ai = e.i AND anch.av <> e.vec_id
      |  GROUP BY av, al, e.vec_id, e.label),
      |pos AS (SELECT av, bv AS pos_id, dist AS pd,
      |    row_number() OVER (PARTITION BY av ORDER BY dist DESC, bv) AS rn
      |  FROM dist WHERE al = bl),
      |neg AS (SELECT av, bv AS neg_id, dist AS nd,
      |    row_number() OVER (PARTITION BY av ORDER BY dist, bv) AS rn
      |  FROM dist WHERE al <> bl)
      |SELECT CAST(pos.av AS BIGINT) AS anchor,
      |  CAST(pos_id AS BIGINT) AS pos_id, round(pd, 6) AS pos_dist,
      |  CAST(neg_id AS BIGINT) AS neg_id, round(nd, 6) AS neg_dist,
      |  round(nd - pd, 6) AS margin
      |FROM pos JOIN neg ON pos.av = neg.av
      |WHERE pos.rn = 1 AND neg.rn = 1
      |ORDER BY anchor""".stripMargin

  // ---------- McNemar's paired test (two quality filters) ----------

  /** McNemar's test comparing two document-quality filters on the same
    * corpus — a length rule (n_chars ≥ 250) vs a token rule (whitespace
    * tokens ≥ 40). The discordant cells b (only length passes) and c
    * (only tokens passes) drive χ² = (b−c)²/(b+c); concordant cells are
    * reported for the full 2×2. One map-side pass to four counters. */
  def statMcnemar(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(
      (col("n_chars") >= 250).as("a"),
      (size(split(trim(col("text")), "\\s+")) >= 40).as("b"))
    docs.agg(
        count(lit(1)).as("n"),
        sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("both_pass"),
        sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("only_len"),
        sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("only_tok"),
        sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("neither"))
      .select(col("n"), col("both_pass"), col("only_len"), col("only_tok"),
        col("neither"),
        round((col("only_len") - col("only_tok")).cast("double") *
          (col("only_len") - col("only_tok")) /
          (col("only_len") + col("only_tok")), 6).as("mcnemar_chi2"))
  }
  val statMcnemarSql: String =
    raw"""WITH docs AS (SELECT (n_chars >= 250) AS a,
         |    (len(string_split_regex(trim(text), '\s+')) >= 40) AS b
         |  FROM documents)
         |SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT)
         |    AS both_pass,
         |  CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
         |    AS only_len,
         |  CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT)
         |    AS only_tok,
         |  CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
         |    AS neither,
         |  round(CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
         |      - sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS DOUBLE) *
         |    (sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
         |      - sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)) /
         |    (sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
         |      + sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)), 6)
         |    AS mcnemar_chi2
         |FROM docs""".stripMargin

  // ---------- registry ----------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stat_ols2" -> (statOls2 _),
    "split_kfold" -> (splitKfold _),
    "event_peak_detect" -> (eventPeakDetect _),
    "emb_triplet_mining" -> (embTripletMining _),
    "stat_mcnemar" -> (statMcnemar _))

  val oracle: Map[String, String] = Map(
    "stat_ols2" -> statOls2Sql,
    "split_kfold" -> splitKfoldSql,
    "event_peak_detect" -> eventPeakDetectSql,
    "emb_triplet_mining" -> embTripletMiningSql,
    "stat_mcnemar" -> statMcnemarSql)
}
