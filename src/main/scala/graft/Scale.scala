package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Q._

/** Round-10 scale-operations operators: distributed power iteration (top
  * principal direction — the PCA primitive that, unlike the full
  * covariance screen, never materializes d² state), shuffle-key skew
  * audits (the operational pre-flight for any 100 TB join/groupBy),
  * deterministic reservoir sampling, winnowing document fingerprints
  * (the MOSS/Schleimer-Wilkerson-Aiken local-minimum sampler — a
  * guaranteed-coverage alternative to MinHash for substring-level
  * overlap), and an ANN recall audit that scores the LSH index against
  * the brute-force baseline.
  *
  * Scale design notes:
  *  - `emb_power_iteration` keeps only O(d) state per iteration: v is a
  *    broadcast d-row table, each iteration is two keyed reduces over the
  *    exploded corpus (Σᵢ xᵢvᵢ per vector, then Σ dot·xᵢ per dim) — the
  *    canonical Krylov step, linear in corpus size, no d² blow-up.
  *  - `audit_key_skew` / `audit_shuffle_balance` are one keyed reduce
  *    plus a bounded (top-k / #buckets) tail — run them BEFORE the big
  *    join to decide salting.
  *  - `sample_reservoir` is per-partition top-k by hash priority merged
  *    on the driver (TakeOrdered) — the distributed equivalent of a
  *    k-slot reservoir, no global sort, deterministic across runs.
  *  - `text_winnow` windows are partitioned per document; candidate
  *    pairs only meet through the fingerprint-keyed equi-join.
  *  - Every reduce accumulates exact decimals (or pure longs), so all
  *    six are hash-exact against the single-threaded DuckDB oracle.
  */
object Scale {

  // ---------- distributed power iteration (top principal direction) ----------

  private val PowerIters = 3

  /** Dominant direction of the uncentered Gram matrix A = Σ x·xᵀ by
    * [[PowerIters]] power iterations from the uniform unit start
    * v₀ = 1/√d. Each iteration computes w = A·v WITHOUT forming A:
    * dot_r = ⟨x_r, v⟩ per row map-side against the broadcast-literal
    * direction, then wᵢ = Σ_r dot_r·x_rᵢ in ONE d-bounded keyed reduce;
    * v ← w/‖w‖ and the Rayleigh estimate λ = ‖w‖ (v is unit). The
    * corpus-sized keyed sum accumulates DECIMAL(38,12) (order-free) and
    * norms use the same decimal squares driver-side, so the loadings
    * are bit-identical to the single-node oracle at any parallelism.
    * Emits (dim, loading, λ). */
  def embPowerIteration(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 12)
    val vecs = t(s, d, "embeddings")
      .select(transform(col("embedding"), _.cast("double")).as("v"))
      .localCheckpoint() // scanned once per multiply
    val dim = vecs.select(size(col("v"))).head.getInt(0)
    // The round-10 A-multiply shape shared with [[Refine.embPcaTop2]]:
    // the CURRENT direction is broadcast as a d-length constant-folded
    // literal (Double.toString round-trips exactly) and the per-row dot
    // is a map-side double left-fold (DuckDB's list_inner_product folds
    // identically), so the only shuffle per multiply is the final
    // d-bounded reduce. The previous shape joined a corpus-sized
    // dot-product table back to the exploded corpus every iteration —
    // at 100 TB that join IS the job; the direction vector is the only
    // thing small enough to move, so move it. All d-length state is
    // driver-sized bookkeeping (the IVF-centroid argument).
    def mult(v: Array[Double]): Array[Double] = {
      val vArr = v.map(x => s"${x}D").mkString("array(", ",", ")")
      // constant-direction dot through the native InnerProduct kernel —
      // the identical sequential left fold, one generated loop per row —
      // and the d-bounded keyed reduce fused into ONE VectorDecimalStats
      // pass (same per-term decimal casts, same exact sums; the
      // posexplode twin is pinned in LearnSpec): the d× row expansion
      // and its d hash probes per row are gone.
      val st = vecs
        .withColumn("dv", dot(col("v"), expr(vArr)))
        .agg(graft.functions.VectorDecimalStats.vector_decimal_stats(
          col("v"), col("dv"), 38, 12).as("st"))
        .head().getStruct(0)
      val sums = st.getSeq[java.math.BigDecimal](0)
      val w = Array.fill(dim)(0.0)
      sums.zipWithIndex.foreach { case (sv, i) =>
        if (sv != null) w(i) = sv.doubleValue // sum(t).cast(double)'s own op
      }
      w
    }
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var w = v; var nw = 0.0
    for (_ <- 1 to PowerIters) {
      w = mult(v)
      nw = math.sqrt(w.map(x => d12(x * x)).sum.toDouble)
      v = w.map(_ / nw)
    }
    import s.implicits._
    (0 until dim).map(i => ((i + 1).toLong, r6(w(i) / nw), r6(nw)))
      .toDF("i", "loading", "lambda")
      .orderBy("i")
  }
  val embPowerIterationSql: String = {
    def step(n: Int, prevV: String): String =
      s"""lv$n AS MATERIALIZED (SELECT list(vi ORDER BY i) AS q FROM $prevV),
         |d$n AS MATERIALIZED (SELECT v.vec_id,
         |    list_inner_product(v.e, lv.q) AS dv FROM v, lv$n lv),
         |w$n AS MATERIALIZED (SELECT e.i,
         |    CAST(sum(CAST(e.x * d$n.dv AS DECIMAL(38,12))) AS DOUBLE) AS wi
         |  FROM e JOIN d$n USING (vec_id) GROUP BY e.i),
         |n$n AS MATERIALIZED (SELECT sqrt(CAST(sum(CAST(wi * wi
         |    AS DECIMAL(38,12))) AS DOUBLE)) AS nw FROM w$n),
         |v$n AS MATERIALIZED (SELECT i, wi / nw AS vi FROM w$n, n$n)"""
        .stripMargin
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |e AS (SELECT vec_id, i, e[i] AS x
       |  FROM v, unnest(generate_series(1, len(e))) AS t(i)),
       |dims AS (SELECT DISTINCT i FROM e),
       |dd AS (SELECT CAST(count(*) AS BIGINT) AS d FROM dims),
       |v0 AS (SELECT i, 1.0 / sqrt(CAST(d AS DOUBLE)) AS vi FROM dims, dd),
       |${step(1, "v0")},
       |${step(2, "v1")},
       |${step(3, "v2")}
       |SELECT CAST(i AS BIGINT) AS i, round(wi / nw, 6) AS loading,
       |  round(nw, 6) AS lambda
       |FROM w3, n3 ORDER BY i""".stripMargin
  }

  // ---------- shuffle-key skew audit ----------

  /** Heavy-hitter profile of the `user_id` join/groupBy key: top-10 keys
    * by row count with each key's exact parts-per-million share and its
    * ratio to the mean key load — the decision input for salting or an
    * AQE skew split. One keyed reduce; the tail is a bounded top-k
    * (per-partition heap + driver merge, never a global sort). */
  def auditKeySkew(s: SparkSession, d: String): DataFrame = {
    val counts = t(s, d, "events")
      .groupBy("user_id").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // read twice: totals + top-k
    val tot = broadcast(counts.agg(
      sum("cnt").as("tot_n"), count(lit(1)).as("n_keys")))
    counts.orderBy(col("cnt").desc, col("user_id")).limit(10)
      .crossJoin(tot)
      // 10-row bounded table: the rank window is driver-sized
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("user_id"))))
      .select(col("rank").cast("long").as("rank"), col("user_id"), col("cnt"),
        expr("(cnt * 1000000L) div tot_n").as("share_ppm"),
        round(col("cnt").cast("double") * col("n_keys") / col("tot_n"), 6)
          .as("ratio_to_mean"))
      .orderBy("rank")
  }
  val auditKeySkewSql: String =
    """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY user_id),
      |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot_n,
      |    CAST(count(*) AS BIGINT) AS n_keys FROM c),
      |r AS (SELECT user_id, cnt,
      |    row_number() OVER (ORDER BY cnt DESC, user_id) AS rank FROM c)
      |SELECT CAST(rank AS BIGINT) AS rank, user_id, cnt,
      |  CAST((cnt * 1000000) // tot_n AS BIGINT) AS share_ppm,
      |  round(CAST(cnt AS DOUBLE) * n_keys / tot_n, 6) AS ratio_to_mean
      |FROM r, t WHERE rank <= 10 ORDER BY rank""".stripMargin

  // ---------- shuffle partition balance audit ----------

  private val Buckets = 32

  /** Simulated shuffle balance: hash `user_id` into [[Buckets]] md5-lane
    * buckets (engine-independent, unlike Spark's Murmur3 partitioner, so
    * the oracle reproduces it) and report the load spread a
    * hash-partitioned exchange on this key would see — max/min/mean
    * bucket load and the imbalance factor. A pre-flight for sizing
    * `spark.sql.shuffle.partitions` and deciding salting. */
  def auditShuffleBalance(s: SparkSession, d: String): DataFrame = {
    val loads = t(s, d, "events")
      .select((expr(md5Lane("cast(user_id as string)")) % Buckets).as("b"))
      .groupBy("b").agg(count(lit(1)).as("load"))
    loads.agg(count(lit(1)).as("n_buckets"),
        max("load").as("max_load"), min("load").as("min_load"),
        sum("load").as("tot"))
      .select(col("n_buckets"), col("max_load"), col("min_load"),
        round(col("tot").cast("double") / col("n_buckets"), 6).as("mean_load"),
        round(col("max_load").cast("double") * col("n_buckets") / col("tot"), 6)
          .as("imbalance"))
  }
  val auditShuffleBalanceSql: String =
    s"""WITH l AS (SELECT ${md5LaneDuck("CAST(user_id AS VARCHAR)")} % $Buckets
      |      AS b, CAST(count(*) AS BIGINT) AS load
      |  FROM events GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_buckets,
      |  CAST(max(load) AS BIGINT) AS max_load,
      |  CAST(min(load) AS BIGINT) AS min_load,
      |  round(CAST(sum(load) AS DOUBLE) / count(*), 6) AS mean_load,
      |  round(CAST(max(load) AS DOUBLE) * count(*) / sum(load), 6)
      |    AS imbalance
      |FROM l""".stripMargin

  // ---------- deterministic reservoir sample ----------

  private val ReservoirK = 100

  /** Uniform [[ReservoirK]]-document sample without randomness state or a
    * global sort: priority = md5(doc_id), keep the k smallest
    * (TakeOrdered — per-partition top-k heaps merged on the driver, the
    * distributed equivalent of reservoir sampling, and deterministic
    * across runs/partitionings for audit reproducibility). */
  def sampleReservoir(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"),
        md5(col("doc_id").cast("string").cast("binary")).as("priority"))
      .orderBy("priority", "doc_id").limit(ReservoirK)
      .orderBy("doc_id")
  val sampleReservoirSql: String =
    s"""SELECT doc_id, priority FROM (
       |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS priority
       |  FROM documents ORDER BY priority, doc_id LIMIT $ReservoirK)
       |ORDER BY doc_id""".stripMargin

  // ---------- winnowing fingerprints ----------

  private val WinK = 4 // words per gram
  private val WinW = 4 // grams per window
  private val WinMinShared = 3

  /** Winnowing document fingerprints (Schleimer–Wilkerson–Aiken): hash
    * every [[WinK]]-word gram, keep a gram iff it is the minimum of the
    * [[WinW]]-gram window ending at its position — guaranteeing at least
    * one fingerprint per window (coverage MinHash cannot promise), with
    * expected density 2/(w+1). Pairs of documents sharing ≥
    * [[WinMinShared]] fingerprints are reported by overlap. The window
    * pass is partitioned per document (parallel); candidate pairs meet
    * only through the fingerprint-keyed equi-join — the same
    * bucket-confined quadratic as the MinHash/SimHash family. */
  def textWinnow(s: SparkSession, d: String): DataFrame = {
    // Round 13: fingerprint SELECTION is a pure per-document function,
    // so it runs in the native codegen'd WinnowFingerprints kernel (one
    // generated loop per doc, already-distinct output) — the per-doc
    // gram explode, the doc-keyed window sort, and the distinct shuffle
    // all disappear; the operator is scan-shaped until the honest
    // fingerprint-equality pair stage below. The pre-kernel formulation
    // is retained as [[textWinnowFpsShuffle]] for the equivalence spec.
    val fp = t(s, d, "documents")
      .select(col("doc_id"), explode(
        org.apache.spark.sql.graftcol.NativeColumn.column(
          graft.functions.WinnowFingerprints(
            org.apache.spark.sql.graftcol.NativeColumn.expression(
              expr(wordsExpr)), WinK, WinW))).as("h"))
      .localCheckpoint() // self-joined below
    fp.as("a").join(fp.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= WinMinShared)
      .orderBy(col("shared").desc, col("doc_a"), col("doc_b"))
      .limit(50)
  }

  /** Pre-kernel fingerprint selection of [[textWinnow]] — spec ground
    * truth only (not registered): gram explode + doc-keyed rolling-min
    * window + distinct. */
  private[graft] def textWinnowFpsShuffle(
      s: SparkSession, d: String): DataFrame = {
    val g = t(s, d, "documents")
      .select(col("doc_id"), expr(wordsExpr).as("ws"))
      .filter(size(col("ws")) >= WinK)
      .select(col("doc_id"), col("ws"),
        explode(expr(s"sequence(1, size(ws) - ${WinK - 1})")).as("p"))
      .select(col("doc_id"), col("p"),
        expr(md5Lane(s"concat_ws(' ', slice(ws, p, $WinK))")).as("h"))
    val win = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(-(WinW - 1), 0)
    g.withColumn("mh", min("h").over(win))
      .filter(col("p") >= WinW && col("h") === col("mh"))
      .select("doc_id", "h").distinct()
  }
  val textWinnowSql: String =
    raw"""WITH d AS (SELECT doc_id,
         |    string_split_regex(trim(text), '\s+') AS ws FROM documents),
         |g AS (SELECT doc_id, p,
         |    ${md5LaneDuck(s"array_to_string(list_slice(ws, p, p + ${WinK - 1}), ' ')")} AS h
         |  FROM d, unnest(range(1, len(ws) - ${WinK - 2})) AS t(p)
         |  WHERE len(ws) >= $WinK),
         |m AS (SELECT doc_id, p, h,
         |    min(h) OVER (PARTITION BY doc_id ORDER BY p
         |      ROWS BETWEEN ${WinW - 1} PRECEDING AND CURRENT ROW) AS mh
         |  FROM g),
         |fp AS (SELECT DISTINCT doc_id, h FROM m
         |  WHERE p >= $WinW AND h = mh),
         |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(count(*) AS BIGINT) AS shared
         |  FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT doc_a, doc_b, shared FROM pr
         |WHERE shared >= $WinMinShared
         |ORDER BY shared DESC, doc_a, doc_b LIMIT 50""".stripMargin

  // ---------- ANN recall audit ----------

  /** Recall@5 of the hyperplane-LSH index ([[Pipeline.simAnnLsh]])
    * against the brute-force cosine baseline
    * ([[Pipeline.simCosineTopk]]), per query — the audit that decides
    * whether an approximate index is good enough to replace the exact
    * scan before the 100 TB rollout. Both sides are the registered
    * operators themselves, so this measures exactly what ships. */
  def embAnnRecall(s: SparkSession, d: String): DataFrame = {
    val exact = Pipeline.simCosineTopk(s, d).select("q_id", "cand_id")
    val approx = Pipeline.simAnnLsh(s, d)
      .select(col("q_id"), col("cand_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("q_id", "cand_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("k"),
        sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .select(col("q_id"), col("k"), col("hits"),
        round(col("hits").cast("double") / col("k"), 6).as("recall_at_5"))
      .orderBy("q_id")
  }
  val embAnnRecallSql: String =
    s"""SELECT e.q_id AS q_id, CAST(count(*) AS BIGINT) AS k,
       |  CAST(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS hits,
       |  round(CAST(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS DOUBLE) / count(*), 6) AS recall_at_5
       |FROM (${Pipeline.simCosineTopkSql}) e
       |LEFT JOIN (${Pipeline.simAnnLshSql}) a
       |  ON e.q_id = a.q_id AND e.cand_id = a.cand_id
       |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin

  // ---------- forward as-of join ----------

  /** Forward-direction as-of join (pandas `merge_asof(direction=
    * 'forward')`): each click matches the EARLIEST error at or after its
    * timestamp per user. Same scale topology as the backward variant
    * ([[Pipeline.joinAsof]]): union-merge both sides, one window
    * partitioned by the join key carrying the next match backward through
    * `first(ignoreNulls)` over the following frame — never a per-row
    * subquery or range join. Ties at equal ts resolve to the minimum
    * event_id (the frame's trailing m_id sort key), mirrored in the
    * oracle's QUALIFY dedupe. */
  def joinAsofForward(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val lhs = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(0).as("side"),
        col("event_id"), col("value"),
        lit(null).cast("bigint").as("m_id"),
        lit(null).cast("timestamp").as("m_ts"),
        lit(null).cast("double").as("m_value"))
    val rhs = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), lit(1).as("side"),
        lit(null).cast("bigint").as("event_id"),
        lit(null).cast("double").as("value"),
        col("event_id").as("m_id"),
        col("ts").as("m_ts"),
        col("value").as("m_value"))
    val carry = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), col("m_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    lhs.unionByName(rhs)
      .withColumn("match_event_id", first(col("m_id"), ignoreNulls = true).over(carry))
      .withColumn("match_ts", first(col("m_ts"), ignoreNulls = true).over(carry))
      .withColumn("match_value", first(col("m_value"), ignoreNulls = true).over(carry))
      .filter(col("side") === 0)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("match_event_id"), col("match_ts"), col("match_value"))
      .orderBy("event_id")
  }
  val joinAsofForwardSql: String =
    """SELECT l.event_id, l.user_id, l.ts, l.value,
      |  r.event_id AS match_event_id, r.ts AS match_ts,
      |  r.value AS match_value
      |FROM (SELECT * FROM events WHERE event_type = 'click') l
      |ASOF LEFT JOIN (
      |  SELECT * FROM events WHERE event_type = 'error'
      |  QUALIFY row_number() OVER (PARTITION BY user_id, ts
      |    ORDER BY event_id ASC) = 1) r
      |  ON l.user_id = r.user_id AND l.ts <= r.ts
      |ORDER BY l.event_id""".stripMargin

  // ---------- behavioral sequence motifs ----------

  /** Top-20 per-user event-type trigrams ("behavioral motifs") —
    * the sequence features a session model trains on, and the
    * generalization of the Markov transition matrix to order 2. Per-user
    * sequences order by (ts, event_id) inside a user-partitioned window
    * (parallel — a user's history fits a partition by construction);
    * motif counting is one keyed reduce; the top-20 tail is a bounded
    * TakeOrdered. */
  def eventSequenceNgrams(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val tri = t(s, d, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("e2", lead("event_type", 1).over(w))
      .withColumn("e3", lead("event_type", 2).over(w))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("motif"))
      .groupBy("motif").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("motif")).limit(20)
    tri // 20-row bounded table: the rank window is driver-sized
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("motif"))))
      .select(col("rank").cast("long").as("rank"), col("motif"), col("cnt"))
      .orderBy("rank")
  }
  val eventSequenceNgramsSql: String =
    """WITH q AS (SELECT user_id, event_type,
      |    lead(event_type, 1) OVER w AS e2,
      |    lead(event_type, 2) OVER w AS e3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |m AS (SELECT event_type || '>' || e2 || '>' || e3 AS motif,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM q WHERE e2 IS NOT NULL AND e3 IS NOT NULL GROUP BY 1),
      |r AS (SELECT motif, cnt,
      |    row_number() OVER (ORDER BY cnt DESC, motif) AS rank FROM m)
      |SELECT CAST(rank AS BIGINT) AS rank, motif, cnt
      |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin

  // ---------- product quantization ----------

  private val PqSub = 8 // subspaces (d=64 → 8 dims each)
  private val PqK = 4 // centroids per subspace

  /** Product quantization training (one Lloyd refinement per subspace):
    * split each embedding into [[PqSub]] contiguous subvectors, run
    * k-means (K=[[PqK]], seeded from the K lowest vec_ids' subvectors,
    * one update step) independently per subspace, and report each
    * subspace's quantization MSE and assignment balance — the codebook
    * audit that sizes a PQ index before the 100 TB ANN rollout. The
    * distributed shape is [[Learn.embKmeans]]'s with a subspace key
    * riding every join/reduce: centroids stay a broadcast (S·K·d/S)-row
    * table, assignment is a keyed reduce per (vector, subspace), and
    * the corpus is scanned, never collected. Distances and means
    * accumulate as exact decimals (bit-identical argmin cross-engine). */
  def embPq(s: SparkSession, d: String): DataFrame = {
    // Round 13: the codebook is DRIVER state (S·K·(d/S) = 256 doubles),
    // so both assignment rounds are constant-folded map-side argmins over
    // the embedding ARRAY — no positional explode feeding a ×K centroid
    // join, no per-(vector, subspace) window sort. Per (vector, subspace,
    // centroid) the distance is the unrolled 8-term sum of
    // DECIMAL(20,12)-quantized squares: scale stays 12 through the
    // addition chain (precision grows 20→23), so each term and the total
    // equal the previous formulation's per-term cast + decimal SUM — and
    // the DuckDB oracle — bit for bit; the argmin rides an
    // array_min(struct(dist, cid)) with the same (dist, cid) tie order.
    // The only corpus shuffles left are the centroid-update reduce and
    // the final per-subspace rollup; seeds and the 256-row update
    // collect to the driver and fold back as literals (Double.toString
    // round-trips exactly).
    val w = 64 / PqSub
    val vecs = t(s, d, "embeddings")
      // Null embeddings drop HERE, upstream of the checkpoint, so the
      // kernel never sees a null `v`: the r18 literal-sequence explode
      // stopped dropping the null-`ac` rows that posexplode(ac) used to
      // (a null vector would emit PqSub rows with null cid/dist,
      // inflating `n` and deflating `mse`). The filter rides the scan —
      // behind the checkpoint barrier, so no optimizer pass can re-inline
      // it around the kernel (r18 ADVICE item 2).
      .where(col("embedding").isNotNull)
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .localCheckpoint() // scanned for seeds, update, and both argmins
    // Round 15: both assignment rounds ride the native [[graft.functions
    // .PqArgmin]] kernel — one generated loop per row instead of the
    // ~500-node decimal expression tree (256 CheckOverflow'd decimal
    // casts + 224 decimal Adds + 32 named_structs per vector) that
    // previously evaluated twice per vector and took most of the
    // operator's wall-clock. The kernel replays the expression's decimal
    // arithmetic term for term (cast to decimal(20,12), exact Add chain,
    // array_min's (dist, cid) struct order), so assignments, distances —
    // and the DuckDB oracle — are bit-for-bit unchanged;
    // [[pqAssignHof]] keeps the SQL formulation as executable
    // documentation and ScaleSpec pins the two equal.
    def assignCol(cents: IndexedSeq[IndexedSeq[(Long, Array[Double])]]): Column =
      pqAssignKernel(cents)
    val seedRows = vecs.orderBy("vec_id").limit(PqK).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getSeq[Double](1).toArray))
    val c0: IndexedSeq[IndexedSeq[(Long, Array[Double])]] =
      (0 until PqSub).map { g =>
        seedRows.toIndexedSeq.map { case (cid, full) =>
          (cid, full.slice(g * w, g * w + w))
        }
      }
    // one Lloyd update: per (g, cid, j) mean over the assigned vectors —
    // ONE map-side-combined reduce over the exploded subvectors, with
    // the assigned cid attached map-side from the argmin array
    val a1 = vecs.withColumn("ac", assignCol(c0))
    val updRows = a1
      .select(posexplode(col("v")).as(Seq("i0", "x")), col("ac"))
      .select((col("i0") / w).cast("long").as("g"),
        (col("i0") % w).cast("long").as("j"), col("x"),
        expr(s"element_at(ac, cast(i0 div $w as int) + 1).cid").as("cid"))
      .groupBy("g", "cid", "j")
      .agg((sum(ddec(col("x"), scale = 12)).cast("double") /
        count(lit(1))).as("cx"))
      .collect()
    val c1: IndexedSeq[IndexedSeq[(Long, Array[Double])]] =
      (0 until PqSub).map { g =>
        updRows.filter(_.getAs[Long]("g") == g)
          .groupBy(_.getAs[Long]("cid")).map { case (cid, rows) =>
            val cv = Array.fill(w)(0.0)
            rows.foreach(r => cv(r.getAs[Long]("j").toInt) =
              r.getAs[Double]("cx"))
            (cid, cv)
          }.toIndexedSeq.sortBy(_._1)
      }
    // second assignment + per-subspace rollup. Round 18: the rollup
    // explodes a LITERAL subspace sequence and indexes into `ac`, instead
    // of posexploding `ac` itself — posexplode(ac) makes the optimizer
    // infer `size(ac) > 0 AND isnotnull(ac)` below the projection
    // (InferFiltersFromGenerate), re-inlining the kernel so every vector
    // paid the 256-term decimal argmin THREE times (stage timeline/explain
    // caught `Filter (size(pq_argmin(…)) > 0) AND isnotnull(pq_argmin(…))`
    // under `Project pq_argmin(…)`). With a foldable generator child the
    // kernel folds ONCE per vector in the project below the Generate.
    // Row-for-row identical on any non-null `v`: the kernel returns
    // exactly PqSub structs, so posexplode(ac) and indexing sequence(0,
    // PqSub-1) emit the same (g, cid, dist) rows. A/B (alternating
    // min-of-3, same session): 1.084 s vs 1.612 s — the new shape won
    // every adjacent pair.
    vecs.withColumn("ac", assignCol(c1))
      .select(col("ac"), explode(expr(s"sequence(0L, ${PqSub - 1}L)")).as("g"))
      .select(col("g"),
        expr("element_at(ac, cast(g as int) + 1).cid").as("cid"),
        expr("element_at(ac, cast(g as int) + 1).dist").as("dist"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"),
        countDistinct("cid").as("codes_used"),
        (sum("dist").cast("double") / count(lit(1))).as("msed"))
      .select(col("g"), col("n"), col("codes_used"),
        round(col("msed"), 6).as("mse"))
      .orderBy("g")
  }
  /** Kernel form of the per-subspace PQ argmin (expects the vector column
    * named `v`): array over g of struct(dist decimal(19+w,12), cid). */
  private[graft] def pqAssignKernel(
      cents: IndexedSeq[IndexedSeq[(Long, Array[Double])]]): Column =
    org.apache.spark.sql.graftcol.NativeColumn.column(
      graft.functions.PqArgmin(
        org.apache.spark.sql.graftcol.NativeColumn.expression(col("v")),
        cents.map(_.map(_._2).toArray).toArray,
        cents.map(_.map(_._1).toArray).toArray))

  /** The pre-round-15 SQL formulation of [[pqAssignKernel]] — executable
    * documentation of what the kernel computes (struct-literal argmin per
    * subspace: array over cid of (dist DECIMAL, cid), min = smallest
    * dist, lowest cid), asserted bit-equal in ScaleSpec. */
  private[graft] def pqAssignHof(
      cents: IndexedSeq[IndexedSeq[(Long, Array[Double])]]): Column = {
    val sub = cents.length
    val w = cents(0)(0)._2.length
    def fmt(x: Double): String = s"${x}D"
    val perG = (0 until sub).map { g =>
      val structs = cents(g).map { case (cid, cv) =>
        val dist = (0 until w).map { j =>
          val x = s"element_at(v, ${g * w + j + 1})"
          s"cast((($x - ${fmt(cv(j))}) * ($x - ${fmt(cv(j))})) as decimal(20,12))"
        }.mkString(" + ")
        s"named_struct('dist', $dist, 'cid', ${cid}L)"
      }.mkString("array(", ", ", ")")
      s"array_min($structs)"
    }.mkString("array(", ", ", ")")
    expr(perG) // array over g of struct(dist, cid)
  }

  val embPqSql: String = {
    val w = 64 / PqSub
    s"""WITH e AS (SELECT vec_id, (i - 1) // $w AS g, (i - 1) % $w AS j,
       |    CAST(embedding[i] AS DOUBLE) AS x
       |  FROM embeddings,
       |    unnest(generate_series(1, len(embedding))) AS t(i)),
       |seeds AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $PqK),
       |c0 AS (SELECT vec_id AS cid, g, j, x AS cx
       |  FROM e JOIN seeds USING (vec_id)),
       |d1 AS (SELECT e.vec_id, e.g, c.cid,
       |    sum(CAST((e.x - c.cx) * (e.x - c.cx) AS DECIMAL(38,12))) AS dist
       |  FROM e JOIN c0 c ON e.g = c.g AND e.j = c.j
       |  GROUP BY e.vec_id, e.g, c.cid),
       |a1 AS (SELECT vec_id, g, cid, dist FROM (SELECT *,
       |    row_number() OVER (PARTITION BY vec_id, g
       |      ORDER BY dist, cid) AS rn FROM d1) WHERE rn = 1),
       |c1 AS (SELECT e.g, a.cid, e.j,
       |    CAST(sum(CAST(e.x AS DECIMAL(30,12))) AS DOUBLE) / count(*) AS cx
       |  FROM e JOIN a1 a ON e.vec_id = a.vec_id AND e.g = a.g
       |  GROUP BY e.g, a.cid, e.j),
       |d2 AS (SELECT e.vec_id, e.g, c.cid,
       |    sum(CAST((e.x - c.cx) * (e.x - c.cx) AS DECIMAL(38,12))) AS dist
       |  FROM e JOIN c1 c ON e.g = c.g AND e.j = c.j
       |  GROUP BY e.vec_id, e.g, c.cid),
       |a2 AS (SELECT vec_id, g, cid, dist FROM (SELECT *,
       |    row_number() OVER (PARTITION BY vec_id, g
       |      ORDER BY dist, cid) AS rn FROM d2) WHERE rn = 1)
       |SELECT g, CAST(count(*) AS BIGINT) AS n,
       |  CAST(count(DISTINCT cid) AS BIGINT) AS codes_used,
       |  round(CAST(sum(dist) AS DOUBLE) / count(*), 6) AS mse
       |FROM a2 GROUP BY g ORDER BY g""".stripMargin
  }

  // ---------- registry ----------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_power_iteration" -> (embPowerIteration _),
    "audit_key_skew" -> (auditKeySkew _),
    "audit_shuffle_balance" -> (auditShuffleBalance _),
    "sample_reservoir" -> (sampleReservoir _),
    "text_winnow" -> (textWinnow _),
    "emb_ann_recall" -> (embAnnRecall _),
    "join_asof_forward" -> (joinAsofForward _),
    "event_sequence_ngrams" -> (eventSequenceNgrams _),
    "emb_pq" -> (embPq _))

  val oracle: Map[String, String] = Map(
    "emb_power_iteration" -> embPowerIterationSql,
    "audit_key_skew" -> auditKeySkewSql,
    "audit_shuffle_balance" -> auditShuffleBalanceSql,
    "sample_reservoir" -> sampleReservoirSql,
    "text_winnow" -> textWinnowSql,
    "emb_ann_recall" -> embAnnRecallSql,
    "join_asof_forward" -> joinAsofForwardSql,
    "event_sequence_ngrams" -> eventSequenceNgramsSql,
    "emb_pq" -> embPqSql)
}
