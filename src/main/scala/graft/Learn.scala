package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import Q._

/** Round-9 learning/curation operators: connected-component resolution of
  * the dedup pair graph, a distributed Lloyd's k-means, systematic
  * importance resampling for corpus mixing, score calibration, partial
  * correlation, quantile-quantile comparison, per-user behavioral
  * entropy, the embedding covariance matrix (PCA precursor), and
  * hapax/type-token lexical statistics.
  *
  * Scale design notes (the 100 TB shapes, not just the sf0.01 ones):
  *  - `graph_components` links every bucket member to the bucket MINIMUM
  *    instead of emitting all in-bucket pairs (the "star" reduction —
  *    O(bucket) edges, not O(bucket²)) and then solves components with
  *    [[componentLabels]]: a driver union-find under the driver cap, a
  *    pointer-jumping min-label fixpoint over it, where every iteration
  *    is keyed shuffles, never a global structure.
  *  - `emb_kmeans` is the canonical distributed training loop: centroids
  *    are k×d driver state constant-folded into each assignment's plan,
  *    per-vector distances are map-side folds, the update is one keyed
  *    reduce — the corpus is scanned, never collected.
  *  - `mix_importance_resample` is a distributed prefix sum (range
  *    shuffle → per-partition weight census → one pass emitting
  *    offset + running sum), the same exact-rank core as [[Q.distPos]].
  *  - Every double statistic is either an exact-decimal sum surfaced as
  *    double or a fixed expression tree over such sums, so results are
  *    bit-identical to the single-threaded DuckDB oracle at any
  *    parallelism.
  */
object Learn {

  private val normExpr = "regexp_replace(lower(trim(text)), '\\\\s+', ' ')"

  // ---------- connected components over the dedup bucket graph ----------

  /** Resolve near-duplicate documents into transitive groups: bucket by
    * two fingerprint families (full normalized text + 60-char prefix —
    * a doc can chain groups by matching one doc exactly and another by
    * prefix), emit star edges member→bucket-min, then solve connected
    * components with [[componentLabels]]. Emits one row per
    * multi-document component. The same algorithm resolves MinHash-band
    * buckets at production scale; the fingerprint families keep the
    * oracle tractable. */
  def graphComponents(s: SparkSession, d: String): DataFrame =
    componentLabels(s, graphComponentEdges(s, d))
      .groupBy(col("c").as("comp_id"))
      .agg(count(lit(1)).as("n_docs"),
        min("node").as("min_doc"), max("node").as("max_doc"))
      .orderBy(col("n_docs").desc, col("comp_id"))

  /** [[graphComponents]]' star edges (u, v): every fingerprint-bucket
    * member → its bucket minimum. */
  private[graft] def graphComponentEdges(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val norm = expr(normExpr)
    val buckets = docs.select(col("doc_id"),
        explode(array(
          concat(lit("f#"), md5(norm.cast("binary"))),
          concat(lit("p#"), md5(substring(norm, 1, 60).cast("binary"))))).as("k"))
    val roots = buckets.groupBy("k").agg(min("doc_id").as("root"))
    buckets.join(roots, "k")
      .filter(col("doc_id") =!= col("root"))
      .select(col("doc_id").as("u"), col("root").as("v")).distinct()
  }

  /** Connected components of an undirected edge list (u, v): one
    * (node, c) row per edge endpoint, c = its component's minimum node
    * id — the one component solve behind [[graphComponents]] and
    * [[Pipeline.dedupGroups]]. Adaptive like Spark's broadcast
    * threshold: the edge list is pinned once and COUNTed (no driver
    * memory); at or under [[Pipeline.DedupFixpointDriverCap]] it is
    * collected and solved by the driver union-find
    * [[Pipeline.repComponentsDriver]], which skips the fixpoint's
    * per-round stage launches; over the cap nothing is collected and
    * [[componentLabelsDistributed]] runs against the same pinned table.
    * The pin is released before returning. */
  private[graft] def componentLabels(s: SparkSession, edges: DataFrame): DataFrame = {
    val (p, pIds) = pinnedIds(s)(edges.localCheckpoint())
    val lbl =
      if (p.count() <= Pipeline.DedupFixpointDriverCap) {
        // typed collect: no Row layer on the at-cap driver transient
        // (cf. DedupFixpointDriverCap's memory math)
        implicit val enc = org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong)
        s.createDataFrame(Pipeline.repComponentsDriver(p.as[(Long, Long)].collect()))
          .toDF("node", "c")
      } else componentLabelsDistributed(s, p)
    // dead on both paths: collected, or copied into the fixpoint's own pins
    release(s, pIds)
    lbl
  }

  /** Track which RDDs `body` pins (cache/localCheckpoint) so iterative
    * ops can release superseded snapshots explicitly. */
  private[graft] def pinnedIds(s: SparkSession)(
      body: => DataFrame): (DataFrame, Set[Int]) = {
    val pre = s.sparkContext.getPersistentRDDs.keySet.toSet
    val df = body
    (df, s.sparkContext.getPersistentRDDs.keySet.toSet -- pre)
  }
  private[graft] def release(s: SparkSession, ids: Set[Int]): Unit = ids.foreach(id =>
    s.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(false)))

  /** Distributed min-label fixpoint over a pinned edge list (u, v) — the
    * over-cap path of [[componentLabels]], with the same (node, c)
    * output. Each iteration pairs the neighbor-min step with a
    * pointer-jumping shortcut (label ← label's label — every label value
    * is itself a node id, so the self-join is total): the propagation
    * front doubles per round, so convergence is O(log diameter), not
    * O(diameter), and long chains cannot outrun the 25-iteration cap.
    * Non-convergence within the cap fails loudly (`require`) rather than
    * emitting unconverged labels; each superseded label checkpoint is
    * released once the new one is materialized, so executor storage
    * holds ≤2 label snapshots at any time. ComponentLabelsSpec pins it
    * equal to [[Pipeline.repComponentsDriver]]. */
  private[graft] def componentLabelsDistributed(
      s: SparkSession, edges: DataFrame): DataFrame = {
    val (adj, adjIds) = pinnedIds(s) {
      edges.union(edges.select(col("v").as("u"), col("u").as("v")))
        .localCheckpoint()
    }
    var (lbl, lblIds) = pinnedIds(s) {
      adj.select(col("u").as("node"), col("u").as("c")).distinct()
        .localCheckpoint()
    }
    // Σc convergence: every node's label is non-increasing under both
    // the neighbor-min and the pointer jump, so Σc strictly decreases at
    // every non-converged iteration and stalls exactly at the fixpoint;
    // the convergence probe is a d-bounded agg over the
    // already-checkpointed labels. Summed as decimal(38,0), not long:
    // a long sum overflows at node-id×count scale (ANSI throw / non-ANSI
    // wraparound would make "sum stalled ⇒ fixpoint" merely probabilistic);
    // the decimal sum keeps the monotone-stall argument exact at any scale.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("c").cast(DecimalType(38, 0))),
        lit(0).cast(DecimalType(38, 0)))).head().getDecimal(0)
    var lastSum = labelSum(lbl)
    var converged = false
    var iter = 0
    while (!converged && iter < 25) {
      val nbr = adj.join(lbl.withColumnRenamed("node", "u"), "u")
        .groupBy(col("v").as("node")).agg(min("c").as("nc"))
      // pinned because the shortcut below reads it twice (self-join)
      val (prop, propIds) = pinnedIds(s) {
        lbl.join(nbr, Seq("node"), "left")
          .select(col("node"), least(col("c"), coalesce(col("nc"), col("c"))).as("c"))
          .localCheckpoint()
      }
      // pointer jumping: follow the label one hop (c ← label(c)) so label
      // information travels 2^iter hops after iter rounds
      val (next, nextIds) = pinnedIds(s) {
        prop.join(
            prop.select(col("node").as("c"), col("c").as("cc")), Seq("c"), "left")
          .select(col("node"), least(col("c"), coalesce(col("cc"), col("c"))).as("c"))
          .localCheckpoint()
      }
      val sum = labelSum(next)
      release(s, propIds) // intermediate: `next` is materialized past it
      release(s, lblIds) // superseded snapshot: free it once `next` is pinned
      lbl = next; lblIds = nextIds
      converged = sum.compareTo(lastSum) == 0
      lastSum = sum
      iter += 1
    }
    require(converged,
      s"component label propagation did not converge in $iter iterations")
    release(s, adjIds) // result depends only on lbl's checkpoint
    lbl
  }
  val graphComponentsSql: String =
    """WITH RECURSIVE
      |d AS (SELECT doc_id,
      |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
      |  FROM documents),
      |buckets AS (
      |  SELECT doc_id, 'f#' || md5(norm) AS k FROM d
      |  UNION ALL
      |  SELECT doc_id, 'p#' || md5(substr(norm, 1, 60)) AS k FROM d),
      |roots AS (SELECT k, min(doc_id) AS root FROM buckets GROUP BY k),
      |edges AS (SELECT DISTINCT doc_id AS u, root AS v
      |  FROM buckets JOIN roots USING (k) WHERE doc_id <> root),
      |adj AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
      |reach(a, b) AS (
      |  SELECT DISTINCT u, u FROM adj
      |  UNION
      |  SELECT r.a, j.v FROM reach r JOIN adj j ON j.u = r.b),
      |comp AS (SELECT a AS node, min(b) AS c FROM reach GROUP BY a)
      |SELECT c AS comp_id, CAST(count(*) AS BIGINT) AS n_docs,
      |  min(node) AS min_doc, max(node) AS max_doc
      |FROM comp GROUP BY c ORDER BY n_docs DESC, comp_id""".stripMargin

  // ---------- distributed Lloyd's k-means ----------

  private val K = 8

  /** Two Lloyd half-iterations of k-means over the embedding table, k=8,
    * initialized from the k lowest vec_ids actually present (a bounded
    * TakeOrdered; an assertion fails loudly if the table has fewer than
    * K vectors). Round-11 shape — the [[Pipeline.simAnnIvf]] training
    * topology: the k×d centroid table is DRIVER state (the table you'd
    * broadcast at 100 TB), constant-folded into each assignment's plan,
    * so per-vector distances are map-side double folds and the argmin is
    * an expression (ties fall to the lowest cluster id because
    * array_position returns the FIRST minimum) — no corpus×k join and no
    * per-vector window sort anywhere. The single update is ONE keyed
    * (cid, dim) reduce collected as k×d driver state. Cluster ids are
    * centroid POSITIONS 1..k (ordered by seed vec_id). Final assignment
    * runs against the 6-decimal-quantized trained centroids so the
    * runtime-generated DuckDB oracle replays bit-identical arithmetic
    * from the same literals (the IVF mechanism); per-vector inertia
    * terms ride a DECIMAL(38,12) lane into the cluster reduce. */
  def embKmeans(s: SparkSession, d: String): DataFrame = {
    val vecs = t(s, d, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .localCheckpoint() // scanned once per assignment + update
    val seeds = vecs.orderBy("vec_id").limit(K).collect() // bounded TakeOrdered
    require(seeds.length == K,
      s"embedding table has fewer than $K vectors to seed k-means")
    // the single Lloyd update, shared with the IVF training loop
    val cents = Pipeline.lloydUpdate(vecs, seeds.zipWithIndex.map {
      case (r, i) => ((i + 1).toLong, r.getSeq[Double](1).toArray)
    })
    val centRows: Array[(Long, Seq[Double])] =
      cents.map { case (cid, cv) => (cid, cv.map(r6).toSeq) }
    embKmeansOracle = Some(embKmeansSqlGen(centRows))
    import s.implicits._
    val norms = broadcast(centRows.toSeq.map { case (cid, cv) =>
      (cid, math.sqrt(cv.map(x => x * x).sum))
    }.toDF("cid", "nrm"))
    vecs.withColumn("st", Pipeline.nearestCentroid(
        centRows.map { case (c, cv) => (c, cv.toArray) }))
      .select(col("st").getField("cid").as("cid"),
        col("st").getField("dist").as("dist"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n"),
        sum(ddec(col("dist"), precision = 38, scale = 12)).cast(DoubleType)
          .as("inertia"))
      .join(norms, "cid")
      .select(col("cid"), col("n"),
        round(col("inertia"), 6).as("inertia"),
        round(col("nrm"), 6).as("centroid_norm"))
      .orderBy("cid")
  }

  /** Set by [[embKmeans]] after training; read by [[oracle]] — the
    * trained quantized centroids embed as literals (the
    * [[Pipeline.simAnnIvf]] runtime-oracle mechanism). */
  @volatile private var embKmeansOracle: Option[String] = None

  private def embKmeansSqlGen(cents: Array[(Long, Seq[Double])]): String = {
    val values = cents.map { case (cid, cv) =>
      val norm = math.sqrt(cv.map(x => x * x).sum)
      cv.map(x => s"'$x'").mkString(s"($cid, [", ", ", s"], '$norm')")
    }.mkString(",\n    ")
    s"""WITH cents AS MATERIALIZED (
       |  SELECT cid, list_transform(cs, s -> CAST(s AS DOUBLE)) AS cv,
       |    CAST(ns AS DOUBLE) AS nrm
       |  FROM (VALUES
       |    $values) t(cid, cs, ns)),
       |vecs AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |asg AS (
       |  SELECT vec_id, cid, dist FROM (
       |    SELECT a.vec_id, c.cid,
       |      ${Pipeline.duckDist(Pipeline.IvfDim, "a.v", "c.cv")} AS dist,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY ${Pipeline.duckDist(Pipeline.IvfDim, "a.v", "c.cv")}
       |          ASC, c.cid ASC) AS rn
       |    FROM vecs a CROSS JOIN cents c) WHERE rn = 1)
       |SELECT asg.cid, CAST(count(*) AS BIGINT) AS n,
       |  round(CAST(sum(CAST(dist AS DECIMAL(38,12))) AS DOUBLE), 6)
       |    AS inertia,
       |  round(max(c.nrm), 6) AS centroid_norm
       |FROM asg JOIN cents c ON c.cid = asg.cid
       |GROUP BY asg.cid ORDER BY asg.cid""".stripMargin
  }

  // ---------- systematic importance resampling ----------

  private val ResampleM = 97L

  /** Deterministic systematic (low-variance) resampling of documents
    * proportional to weight (n_chars): a document is selected whenever
    * its span of the cumulative-weight axis crosses one of M evenly
    * spaced thresholds — all in exact integer arithmetic: the threshold
    * index is `(cw·M) div W` (integral long division in Spark, `//` in
    * the DuckDB oracle — a float `/` would round through double and can
    * mis-floor once cw·M passes 2^53, i.e. exactly the 100 TB regime;
    * cw·M itself stays exact up to 2^63/M ≈ 9.5e16 cumulative chars,
    * an order of magnitude past 100 TB). The cumulative sum and the
    * grand total come from [[Q.distPrefixSumWithTotal]] (range shuffle on
    * doc_id, never a single-partition window). The standard
    * corpus-mixing / importance-reweighting primitive. */
  def mixImportanceResample(s: SparkSession, d: String): DataFrame = {
    val (cum, tw) = Q.distPrefixSumWithTotal(
      t(s, d, "documents")
        .select(col("doc_id"), col("n_chars").cast("long").as("w")),
      "w", "cw", col("doc_id"))
    cum
      .withColumn("sample_idx", expr(s"(cw * ${ResampleM}L) div ${tw}L"))
      .filter(col("sample_idx") > expr(s"((cw - w) * ${ResampleM}L) div ${tw}L"))
      .select(col("doc_id"), col("w"), col("cw"), col("sample_idx"))
      .orderBy("doc_id")
  }
  val mixImportanceResampleSql: String =
    s"""WITH c AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
      |    sum(CAST(n_chars AS BIGINT)) OVER (ORDER BY doc_id) AS cw,
      |    sum(CAST(n_chars AS BIGINT)) OVER () AS tw
      |  FROM documents)
      |SELECT doc_id, w, CAST(cw AS BIGINT) AS cw,
      |  CAST((cw * $ResampleM) // tw AS BIGINT) AS sample_idx
      |FROM c
      |WHERE (cw * $ResampleM) // tw > ((cw - w) * $ResampleM) // tw
      |ORDER BY doc_id""".stripMargin

  // ---------- score calibration table ----------

  /** Calibration audit of a (fixed, deterministic) logistic score against
    * the purchase label: bin the score into 10 fixed-width bins and
    * report count, positives, mean score, and observed rate per bin —
    * the standard reliability-diagram table for any quality/filter model
    * over the corpus. One map-side pass + a 10-row reduce. */
  def statCalibration(s: SparkSession, d: String): DataFrame = {
    val z = lit(-2.0) + lit(0.3) * hour(col("ts")).cast("double") -
      lit(0.2) * (dayofweek(col("ts")) - 1).cast("double") +
      lit(0.01) * col("value")
    val score = round(lit(1.0) / (lit(1.0) + exp(-z)), 6)
    t(s, d, "events")
      .select(score.as("score"),
        (col("event_type") === "purchase").cast("long").as("pos"))
      .withColumn("bin",
        least(floor(round(col("score") * 10, 5)), lit(9.0)).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"),
        round(davg(col("score")), 6).as("mean_score"),
        round(sum("pos").cast("double") / count(lit(1)), 6).as("pos_rate"))
      .orderBy("bin")
  }
  val statCalibrationSql: String =
    """WITH sc AS (SELECT
      |    round(1.0 / (1.0 + exp(-(-2.0 + 0.3 * CAST(hour(ts) AS DOUBLE)
      |      - 0.2 * CAST(dayofweek(ts) AS DOUBLE) + 0.01 * value))), 6)
      |      AS score,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      |  FROM events)
      |SELECT CAST(least(floor(round(score * 10, 5)), 9) AS BIGINT) AS bin,
      |  CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS n_pos,
      |  round(CAST(sum(CAST(score AS DECIMAL(30,6))) AS DOUBLE)
      |    / count(*), 6) AS mean_score,
      |  round(CAST(sum(pos) AS DOUBLE) / count(*), 6) AS pos_rate
      |FROM sc GROUP BY 1 ORDER BY bin""".stripMargin

  // ---------- partial correlation ----------

  /** Partial correlation of spend (cents) and hour-of-day controlling
    * for day-of-week: all three pairwise Pearson correlations from one
    * exact moment pass, then the closed-form partial —
    * r_xy·z = (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²)).
    * Squared/cross moments accumulate as DECIMAL(38,0) (Spark) /
    * HUGEINT (DuckDB) — a raw BIGINT sum of cents² terms overflows
    * silently (non-ANSI wrap) around 4e8 typical rows, long before the
    * 100 TB event volume this pass is meant for. */
  def statPartialCorr(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(18, 0)
    val ev = t(s, d, "events").select(
      round(col("value") * 100).cast("long").as("x"),
      hour(col("ts")).cast("long").as("y"),
      (dayofweek(col("ts")) - 1).cast("long").as("z"))
    def mom(a: String, b: String) = // Decimal(18,0)² → Decimal(37,0); Σ → (38,0)
      sum(col(a).cast(dec) * col(b).cast(dec))
    val m = ev.agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"), sum("z").as("sz"),
      mom("x", "x").as("sxx"), mom("y", "y").as("syy"),
      mom("z", "z").as("szz"), mom("x", "y").as("sxy"),
      mom("x", "z").as("sxz"), mom("y", "z").as("syz"))
    val D = (c: String) => col(c).cast("double")
    def corr(sab: String, sa: String, sb: String,
        saa: String, sbb: String): Column =
      (D("n") * D(sab) - D(sa) * D(sb)) /
        (sqrt(D("n") * D(saa) - D(sa) * D(sa)) *
          sqrt(D("n") * D(sbb) - D(sb) * D(sb)))
    val rxy = corr("sxy", "sx", "sy", "sxx", "syy")
    val rxz = corr("sxz", "sx", "sz", "sxx", "szz")
    val ryz = corr("syz", "sy", "sz", "syy", "szz")
    m.select(col("n"),
      round(rxy, 6).as("r_xy"), round(rxz, 6).as("r_xz"),
      round(ryz, 6).as("r_yz"),
      round((rxy - rxz * ryz) /
        sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)), 6)
        .as("partial_r_xy_z"))
  }
  val statPartialCorrSql: String =
    """WITH ev AS (SELECT CAST(round(value * 100, 0) AS BIGINT) AS x,
      |    CAST(hour(ts) AS BIGINT) AS y,
      |    CAST(dayofweek(ts) AS BIGINT) AS z FROM events),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(z) AS BIGINT) AS sz,
      |    sum(x * x) AS sxx, sum(y * y) AS syy, sum(z * z) AS szz,
      |    sum(x * y) AS sxy, sum(x * z) AS sxz, sum(y * z) AS syz
      |  FROM ev),
      |r AS (SELECT n,
      |    (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
      |      (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
      |       sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) AS rxy,
      |    (CAST(n AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz) /
      |      (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
      |       sqrt(CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz)) AS rxz,
      |    (CAST(n AS DOUBLE) * syz - CAST(sy AS DOUBLE) * sz) /
      |      (sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) *
      |       sqrt(CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz)) AS ryz
      |  FROM m)
      |SELECT n, round(rxy, 6) AS r_xy, round(rxz, 6) AS r_xz,
      |  round(ryz, 6) AS r_yz,
      |  round((rxy - rxz * ryz) /
      |    sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6)
      |    AS partial_r_xy_z
      |FROM r""".stripMargin

  // ---------- quantile-quantile table ----------

  /** Decile QQ comparison of the spend distribution between two event
    * types: exact decile upper boundaries of each side, paired. Deciles
    * come from [[Q.ntileByBoundaries]] (round 20: the narrow projection
    * range-shuffles to find the 9 exact boundary rows, the bucket is a
    * map-side broadcast comparison, and the max-per-decile below
    * aggregates map-side off the scan — no checkpoint, no join-back),
    * bit-identical to the `ntile(10)` builtin; (value, event_id) makes
    * the order total so both engines bucket identically. */
  def statQq(s: SparkSession, d: String): DataFrame = {
    def side(typ: String, out: String): DataFrame =
      ntileByBoundaries(
        t(s, d, "events").filter(col("event_type") === typ)
          .select(col("event_id"), col("value")),
        10, "dec", col("value"), col("event_id"))
        .groupBy("dec").agg(max("value").as(out))
    side("purchase", "purchase_q").join(side("error", "error_q"), "dec")
      .select(col("dec").as("decile"), col("purchase_q"), col("error_q"),
        round(col("purchase_q") - col("error_q"), 6).as("gap"))
      .orderBy("decile")
  }
  val statQqSql: String =
    """WITH p AS (SELECT CAST(ntile(10) OVER (ORDER BY value, event_id)
      |      AS BIGINT) AS dec, value
      |  FROM events WHERE event_type = 'purchase'),
      |e AS (SELECT CAST(ntile(10) OVER (ORDER BY value, event_id)
      |      AS BIGINT) AS dec, value
      |  FROM events WHERE event_type = 'error'),
      |pq AS (SELECT dec, max(value) AS purchase_q FROM p GROUP BY dec),
      |eq AS (SELECT dec, max(value) AS error_q FROM e GROUP BY dec)
      |SELECT dec AS decile, purchase_q, error_q,
      |  round(purchase_q - error_q, 6) AS gap
      |FROM pq JOIN eq USING (dec) ORDER BY decile""".stripMargin

  // ---------- per-user behavioral entropy ----------

  /** Shannon entropy (nats) of each user's event-type distribution —
    * the behavioral-diversity feature. Per-(user, type) counts reduce
    * map-side; entropy terms accumulate as exact decimals so the
    * per-user sum is order-independent. */
  def eventUserEntropy(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
    val p = col("c").cast("double") / col("n")
    t(s, d, "events")
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
      .withColumn("n", sum("c").over(byUser))
      .withColumn("term", ddec(-p * log(p), scale = 12))
      .groupBy("user_id")
      .agg(max("n").as("n_events"), count(lit(1)).as("n_types"),
        sum("term").cast("double").as("h"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        round(col("h"), 6).as("entropy"),
        when(col("n_types") > 1,
          round(col("h") / log(col("n_types").cast("double")), 6))
          .as("norm_entropy"))
      .orderBy("user_id")
  }
  val eventUserEntropySql: String =
    """WITH c AS (SELECT user_id, event_type,
      |    CAST(count(*) AS BIGINT) AS c FROM events
      |  GROUP BY user_id, event_type),
      |w AS (SELECT user_id, c,
      |    sum(c) OVER (PARTITION BY user_id) AS n FROM c),
      |t AS (SELECT user_id, n,
      |    CAST(-(CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)
      |      AS DECIMAL(30,12)) AS term FROM w)
      |SELECT user_id, CAST(max(n) AS BIGINT) AS n_events,
      |  CAST(count(*) AS BIGINT) AS n_types,
      |  round(CAST(sum(term) AS DOUBLE), 6) AS entropy,
      |  CASE WHEN count(*) > 1 THEN
      |    round(CAST(sum(term) AS DOUBLE) / ln(CAST(count(*) AS DOUBLE)), 6)
      |  END AS norm_entropy
      |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------- embedding covariance (PCA precursor) ----------

  /** Top-20 embedding dimension pairs by |covariance| — the screening
    * view of the d×d covariance matrix that PCA/whitening starts from.
    * The distributed shape: each row expands map-side into its d(d−1)/2
    * upper-triangle products which reduce into a d²-bounded table (the
    * Σxxᵀ partial-aggregation pattern); per-dim sums ride the same pass.
    * All sums are exact decimals; the covariance is a fixed double tree.
    *
    * Scale contract (fused-Gram accumulation, round 15): the pair
    * expansion and the keyed decimal reduce fuse into ONE
    * [[graft.functions.GramDecimalSum]] aggregate — each partition folds
    * every row's d(d−1)/2 products straight into a triangular
    * (BigDecimal, seen) buffer, and the merge combines the ≤ d(d−1)/2
    * cells once per partition. Per-row transient memory is O(1) (no pair
    * array, no tile explode — strictly tighter than the round-14 tiled
    * B² bound) and the N·d²/2 pair-row stream through explode + hash
    * aggregate is GONE; what remains is per-partition state of d(d−1)/2
    * cells (~16 KB at d=64, ~20 MB at d=1024; documented ceiling
    * d ≈ 4096, beyond which the tiled explode plan below remains the
    * fallback). Cell sums are exact decimals — order-free under any
    * partitioning — so the values, and the oracle, are identical to the
    * explode plan's; LearnSpec pins the aggregate against the tiled twin
    * cell for cell. */
  private val TileB = 32

  def embCovariance(s: SparkSession, d: String): DataFrame = {
    // per-dim sums/counts in ONE VectorDecimalStats pass (the fused form
    // of posexplode + groupBy(i) — same decimal casts, same exact sums,
    // same per-position counts; LearnSpec pins the equality), then a
    // single-row explode rebuilds the d-row dims frame in-plan
    val dims = t(s, d, "embeddings")
      .select(transform(col("embedding"), _.cast("double")).as("v"))
      .agg(graft.functions.VectorDecimalStats.vector_decimal_stats(
        col("v"), lit(1.0), 30, 12).as("st"))
      .select(col("st.sums").as("sums"), col("st.counts").as("counts"))
      .select(posexplode(arrays_zip(col("sums"), col("counts")))
        .as(Seq("i0", "z")))
      .select((col("i0") + 1).as("i"),
        col("z.sums").cast(DoubleType).as("sx"), col("z.counts").as("n"))
    // Pair products and their keyed decimal reduce fuse into ONE
    // GramDecimalSum pass (the scale contract above): no per-row pair
    // array, no tile-unit explode, no N·d²/2-row stream through the hash
    // aggregate. The aggregate replays the explode plan's arithmetic
    // term for term — xy = (double)v[i]·(double)v[j], non-ANSI cast to
    // decimal(38,12), exact order-free BigDecimal sums, a cell emitted
    // iff some row produced the pair — so the DuckDB oracle is
    // untouched; [[embCovariancePairsTiled]] keeps the round-14 tiled
    // explode plan as executable documentation and LearnSpec pins the
    // two equal cell for cell.
    val pairs = t(s, d, "embeddings")
      .agg(graft.functions.GramDecimalSum.gram_decimal_sum(
        col("embedding"), 12).as("gram"))
      .select(explode(col("gram")).as("p"))
      .select(col("p.i"), col("p.j"), col("p.sxy").cast(DoubleType).as("sxy"))
    val cov = pairs
      .join(broadcast(dims.select(col("i"), col("sx").as("sxi"), col("n"))), "i")
      .join(broadcast(dims.select(col("i").as("j"), col("sx").as("sxj"))), "j")
      .select(col("i"), col("j"),
        round((col("sxy") - col("sxi") * col("sxj") / col("n")) /
          (col("n") - 1), 6).as("cov"))
    val w = Window.orderBy(abs(col("cov")).desc, col("i"), col("j"))
    cov.withColumn("rk", row_number().over(w)).filter(col("rk") <= 20)
      .select(col("rk").cast("long").as("rk"), col("i").cast("long").as("i"),
        col("j").cast("long").as("j"), col("cov"))
      .orderBy("rk")
  }
  /** The round-14 tiled explode + keyed decimal reduce — executable
    * documentation of what [[graft.functions.GramDecimalSum]] fuses
    * (bi ≤ bj tile-unit explode, PairProductsTile kernel per unit,
    * groupBy(i, j) decimal sum; the size ≥ 2 pre-filter keeps the block
    * sequence ascending — a 0-block sequence(0, -1) would DESCEND, the
    * historical phantom-tile regression LearnSpec pins). Remains the
    * fallback plan shape past the aggregate's documented d ≈ 4096
    * partition-state ceiling; asserted cell-equal to the aggregate in
    * LearnSpec. */
  private[graft] def embCovariancePairsTiled(
      s: SparkSession, d: String): DataFrame = {
    val nBlocks = s"int(ceil(size(embedding) / ${TileB}.0))"
    t(s, d, "embeddings")
      .filter(size(col("embedding")) >= 2)
      .select(col("embedding"), explode(expr(
        s"""flatten(transform(sequence(0, $nBlocks - 1),
           |  bi -> transform(sequence(bi, $nBlocks - 1),
           |    bj -> struct(bi, bj))))""".stripMargin)).as("tl"))
      .select(explode(org.apache.spark.sql.graftcol.NativeColumn.column(
        graft.functions.PairProductsTile(
          org.apache.spark.sql.graftcol.NativeColumn.expression(col("embedding")),
          org.apache.spark.sql.graftcol.NativeColumn.expression(col("tl.bi")),
          org.apache.spark.sql.graftcol.NativeColumn.expression(col("tl.bj")),
          TileB))).as("p"))
      .select(col("p.i"), col("p.j"), col("p.xy"))
      .groupBy("i", "j")
      .agg(sum(ddec(col("xy"), precision = 38, scale = 12)).as("sxy"))
  }

  val embCovarianceSql: String =
    """WITH e AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
      |  FROM embeddings,
      |    unnest(generate_series(1, len(embedding))) AS t(i)),
      |dims AS (SELECT i,
      |    CAST(sum(CAST(x AS DECIMAL(30,12))) AS DOUBLE) AS sx,
      |    CAST(count(*) AS BIGINT) AS n FROM e GROUP BY i),
      |pr AS (SELECT a.i, b.i AS j,
      |    CAST(sum(CAST(a.x * b.x AS DECIMAL(38,12))) AS DOUBLE) AS sxy
      |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i < b.i
      |  GROUP BY a.i, b.i),
      |cov AS (SELECT pr.i, pr.j,
      |    round((sxy - di.sx * dj.sx / di.n) / (di.n - 1), 6) AS cov
      |  FROM pr JOIN dims di ON di.i = pr.i JOIN dims dj ON dj.i = pr.j),
      |rk AS (SELECT *, CAST(row_number()
      |    OVER (ORDER BY abs(cov) DESC, i, j) AS BIGINT) AS rk FROM cov)
      |SELECT rk, CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, cov
      |FROM rk WHERE rk <= 20 ORDER BY rk""".stripMargin

  // ---------- hapax / type-token lexical statistics ----------

  /** Per-source lexical-diversity profile: token count, vocabulary size,
    * hapax legomena (words seen exactly once in the source), type-token
    * ratio, and hapax share — the quick corpus-health probe that flags
    * TEMPLATED (low TTR) or GARBAGE (high hapax) slices. Vocab-keyed
    * reduce; everything after is source-cardinality-bounded. */
  def textHapax(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("source"), explode(expr(wordsExpr)).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"))
      .select(col("source"), col("n_tokens"), col("vocab"), col("hapax"),
        round(col("vocab").cast("double") / col("n_tokens"), 6).as("ttr"),
        round(col("hapax").cast("double") / col("vocab"), 6)
          .as("hapax_ratio"))
      .orderBy("source")
  val textHapaxSql: String =
    """WITH w AS (SELECT source, unnest(string_split_regex(trim(text),
      |    '\s+')) AS w FROM documents),
      |c AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
      |  FROM w GROUP BY source, w)
      |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
      |  CAST(count(*) AS BIGINT) AS vocab,
      |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
      |  round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS ttr,
      |  round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*), 6) AS hapax_ratio
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  // ---------- registry ----------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_components" -> (graphComponents _),
    "emb_kmeans" -> (embKmeans _),
    "mix_importance_resample" -> (mixImportanceResample _),
    "stat_calibration" -> (statCalibration _),
    "stat_partial_corr" -> (statPartialCorr _),
    "stat_qq" -> (statQq _),
    "event_user_entropy" -> (eventUserEntropy _),
    "emb_covariance" -> (embCovariance _),
    "text_hapax" -> (textHapax _))

  /** `oracle` is a def: emb_kmeans' oracle SQL embeds the Spark-trained
    * quantized centroids, so it exists only after the query has run
    * (the [[Pipeline.oracle]] sim_ann_ivf mechanism). */
  def oracle: Map[String, String] = Map(
    "graph_components" -> graphComponentsSql,
    "mix_importance_resample" -> mixImportanceResampleSql,
    "stat_calibration" -> statCalibrationSql,
    "stat_partial_corr" -> statPartialCorrSql,
    "stat_qq" -> statQqSql,
    "event_user_entropy" -> eventUserEntropySql,
    "emb_covariance" -> embCovarianceSql,
    "text_hapax" -> textHapaxSql) ++
    embKmeansOracle.map("emb_kmeans" -> _)
}
