package graft

import graft.operators.{AsofJoin, EntityResolution, Funnel, Rolling, SimilaritySearch, TextAnalysis}
import graft.queries.{Query, RelationalQueries, TextQueries, VectorQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the oracle-checked operator inventory (SURVEY.md §2 plus
  * the training-data-pipeline operators) and `oracleSql` holds their
  * DuckDB twins. Both are views of one registry: each query is one
  * [[graft.queries.Query]] (name, plan, twin) in its family's sequence,
  * so every query has exactly one twin.
  */
object SparkEntry {

  /** Flagship: the reference's core capability end-to-end — explode-free
    * mini entity resolution of part names against a canonical dictionary
    * with exact broadcast lookup, token-set-ratio fuzzy scoring,
    * penalties, top-k ranking and three-band routing. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    EntityResolution.resolve(
      resolveItems(spark, dir), resolveDict(spark, dir), Seq("item_id"))
  }

  /** The ONE resolution dictionary fixture (title → EXT-id) shared by
    * entry and the whole q40/q41/q59/q66 family — five hand-copied
    * builds drifted one edit away from computing different resolution
    * problems than resolveOracleSql's dict CTE, its DuckDB mirror;
    * edit the two together. */
  private def resolveDict(s: SparkSession, dir: String): DataFrame =
    graft.Tables(s, dir, "part")
      .where(col("p_partkey") % 2 === 0)
      .groupBy(col("p_name").as("title"))
      .agg(concat(lit("EXT-"), min(col("p_partkey"))).as("ext_id"))

  /** The natural item fixture (every third part) — entry/q40/q41;
    * q59/q66 perturb their own item names on top of the same base. */
  private def resolveItems(s: SparkSession, dir: String): DataFrame =
    graft.Tables(s, dir, "part")
      .where(col("p_partkey") % 3 === 0)
      .select(col("p_partkey").as("item_id"), col("p_name").as("item_name"))

  /** The conversion⋈touch attribution frame — ONE definition of the
    * touch population, the attribution-window predicate and the
    * (rn, n) windows, shared by q144 and q149 so the two models can
    * never silently diverge (their oracle twins share attrCtes the
    * same way). Columns: user_id, conv_id, conv_ts, touch_id,
    * touch_ts, channel, rn, n. */
  private def attributionFrame(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.eventsTsMicros(graft.Tables(s, dir, "events"))
    val conv = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("conv_id"),
        col("ts_us").as("conv_ts"))
    val touch = ev.where(col("event_type").isin("click", "view", "signup"))
      .select(col("user_id"), col("event_id").as("touch_id"),
        col("ts_us").as("touch_ts"), col("event_type").as("channel"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("conv_id").orderBy(col("touch_ts"), col("touch_id"))
    val wn = org.apache.spark.sql.expressions.Window.partitionBy("conv_id")
    conv.join(touch, Seq("user_id"))
      .where(col("touch_ts") < col("conv_ts") &&
        col("touch_ts") >= col("conv_ts") - lit(AttrWindowUs))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wn))
  }

  /** U-shaped credit in exact mills over (rn, n) — 40/20/40 with the
    * middle remainder to the earliest middles; q144's credit AND
    * q149's u_mills column, one definition. */
  private val uModelMills: org.apache.spark.sql.Column =
    when(col("n") === 1L, lit(1000L))
      .when(col("n") === 2L, lit(500L))
      .when(col("rn") === 1L || col("rn") === col("n"), lit(400L))
      .otherwise(expr(
        """200L div (n - 2) +
           CASE WHEN rn - 1 <= 200L % (n - 2) THEN 1L ELSE 0L END"""))

  /** DuckDB twin of [[attributionFrame]]: the ev/conv/touch/j/r CTE
    * prefix (`r` carries rn and n), shared by the q144 and q149
    * oracles exactly as the Spark sides share the frame builder. */
  private def attrCtes: String =
    s"""ev AS (
         SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
         FROM events),
       conv AS (SELECT user_id, event_id AS conv_id, ts_us AS conv_ts
                FROM ev WHERE event_type = 'purchase'),
       touch AS (SELECT user_id, event_id AS touch_id,
                   ts_us AS touch_ts, event_type AS channel
                 FROM ev
                 WHERE event_type IN ('click', 'view', 'signup')),
       j AS (
         SELECT conv.conv_id, touch.channel, touch.touch_ts,
           touch.touch_id
         FROM conv JOIN touch ON conv.user_id = touch.user_id
           AND touch.touch_ts < conv.conv_ts
           AND touch.touch_ts >= conv.conv_ts - $AttrWindowUs),
       r AS (
         SELECT *,
           CAST(row_number() OVER (PARTITION BY conv_id
             ORDER BY touch_ts, touch_id) AS BIGINT) AS rn,
           CAST(count(*) OVER (PARTITION BY conv_id) AS BIGINT) AS n
         FROM j)"""

  /** DuckDB twin of [[uModelMills]] — one CASE string for both
    * attribution oracles. */
  private val uModelSql: String =
    """CASE WHEN n = 1 THEN 1000 WHEN n = 2 THEN 500
         WHEN rn = 1 OR rn = n THEN 400
         ELSE 200 // (n - 2)
           + (CASE WHEN rn - 1 <= 200 % (n - 2) THEN 1 ELSE 0 END)
       END"""

  /** md5-bucket train/val split of doc_id — the ONE parity-critical
    * split pair (Spark column + DuckDB twin), shared by q54 and q56. */
  private val mdSplit: org.apache.spark.sql.Column =
    when(substring(md5(col("doc_id").cast("string")), 1, 1) < "c", "train")
      .otherwise("val")
  private val mdSplitSql: String =
    "CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train' ELSE 'val' END"

  /** q80's attribution window: 3 days in micros, shared with the
    * oracle SQL. Binds at every SF (per-user click gaps average ~4-5
    * days), so both the matched and the nulled-out paths are gated. */
  private val AsofMaxGapUs = 259200000000L

  /** q128's sessionization gap (q23's 1800 s rule in micros) and the
    * per-session path cap (first 8 events). */
  private val SessionPathGapUs = 1800000000L
  private val SessionPathMaxLen = 8

  /** q138's anomaly geometry: 7-day trailing baseline (current day
    * excluded), ≥ 4 baseline days before a verdict, 2σ (2000 mills)
    * threshold — at the corpus's ~Poisson daily counts a few percent
    * of days flag, so both branches are data-exercised at every SF. */
  private val AnomLookbackDays = 7L
  private val AnomMinDays = 4
  private val AnomZMills = 2000L

  /** q144's attribution lookback. 7 days exercises EVERY credit
    * branch on the fixture (sf0.01: 57 single-touch, 80 two-touch,
    * 159 n∈{3,4}, 954 conversions hitting the middle-remainder
    * distribution). */
  private val AttrWindowUs = 7L * 86400000000L

  /** q101's interval geometry (epoch micros) — 24 windows of 90 min at
    * a 60-min stride (overlapping, so edge events multi-match and the
    * duplicate-free contract is oracle-exercised), blocked at 30-min
    * buckets (<= 4 bucket rows per interval). Shared with the oracle. */
  private val IntervalWindows = 24L
  private val IntervalStrideUs = 3600000000L
  private val IntervalLenUs = 5400000000L
  private val IntervalBucketUs = 1800000000L

  /** The shared purchase⋈click attribution frame for q80/q87/q88: exact
    * epoch-micros longs keep ts parity bit-for-bit with DuckDB's
    * epoch_us; money floor-scales to cents; -1 sentinels because the
    * hash harness can't represent null ints. `join` plugs in the as-of
    * direction (one union shuffle + ordered window(s), never an
    * inequality join — Spark would nested-loop it). */
  private def asofAttribution(s: SparkSession, dir: String)(
      join: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val ev = graft.Tables.eventsTsMicros(graft.Tables(s, dir, "events"))
      .withColumn("cents", floor(col("value") * 100).cast("long"))
    val purch = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"), col("cents"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"),
        col("event_id").as("click_id"), col("cents").as("click_cents"))
    join(purch, clicks)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("cents"),
        coalesce(col("m_click_id"), lit(-1L)).as("m_click_id"),
        coalesce(col("m_click_cents"), lit(-1L)).as("m_click_cents"))
      .orderBy("event_id")
  }

  /** Shared DuckDB CTE prefix of the q80/q87/q88 as-of oracles: the
    * cents-scaled event frame, the purchase probe side, the per-
    * (user, ts) deterministically-reduced click side `c0` (arg_max by
    * click_id — the twin of the engine's max-payload-struct reduction),
    * and its negated-ts mirror `cn` for the forward direction. */
  private lazy val asofOracleCtes: String =
    s"""e AS (
         SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
           CAST(floor(value * 100) AS BIGINT) AS cents
         FROM events),
       p AS (SELECT event_id, user_id, ts_us, cents FROM e
             WHERE event_type = 'purchase'),
       c0 AS (SELECT user_id, ts_us,
                arg_max(event_id, event_id) AS click_id,
                arg_max(cents, event_id) AS click_cents
              FROM e WHERE event_type = 'click' GROUP BY 1, 2),
       cn AS (SELECT user_id, -ts_us AS nts, ts_us, click_id, click_cents
              FROM c0)"""

  /** q88's closer-of-the-two pick for one payload column: backward
    * wins valid ties (db <= df), a side is valid only when present and
    * within the gap, -1 sentinel when neither is. */
  private def asofNearestPick(payload: String): String = {
    val bOk = s"(b.m_ts IS NOT NULL AND p.ts_us - b.m_ts <= $AsofMaxGapUs)"
    val fOk = s"(f.m_ts IS NOT NULL AND f.m_ts - p.ts_us <= $AsofMaxGapUs)"
    s"""coalesce(CASE
         WHEN $bOk AND (NOT $fOk OR p.ts_us - b.m_ts <= f.m_ts - p.ts_us)
           THEN b.$payload
         WHEN $fOk THEN f.$payload END, -1)"""
  }

  /** Operator-pipeline queries assembled here rather than in the per-
    * family query modules. All are hash-checked (each with its twin) —
    * the rapidfuzz-style indel family included, via the list_reduce DP
    * twins, and q43 (HLL) via its error-bound flag against the exact
    * count (raw HLL estimates are engine-specific; the bound is not). */
  private val pipelineQueries: Seq[Query] = Seq(
    // Full resolution pipeline with the custom token_set_ratio /
    // partial_ratio Catalyst expressions + penalties + banding.
    Query("q40_entity_resolution", (s, dir) => {
      EntityResolution.resolve(
          resolveItems(s, dir), resolveDict(s, dir), Seq("item_id"))
        .withColumn("alt_digest", altDigest(col("alternatives")))
        .drop("alternatives")
        .orderBy("item_id")
    }, resolveOracleSql(
        "SELECT p_partkey AS item_id, p_name AS item_name FROM part WHERE p_partkey % 3 = 0",
        blocked = false)),
    // Token-blocked fuzzy resolution — the 100 TB shape (no cross join).
    Query("q41_blocked_resolution", (s, dir) => {
      EntityResolution.resolve(
          resolveItems(s, dir), resolveDict(s, dir), Seq("item_id"),
          blocked = true)
        .withColumn("alt_digest", altDigest(col("alternatives")))
        .drop("alternatives")
        .orderBy("item_id")
    }, resolveOracleSql(
        "SELECT p_partkey AS item_id, p_name AS item_name FROM part WHERE p_partkey % 3 = 0",
        blocked = true)),
    // Forced-fuzzy resolution: perturbed item names (a ' v<k>' suffix)
    // guarantee every item MISSES the exact phase, so the driver's
    // sf0.01 correctness run exercises the fuzzy kernels, penalties,
    // banding and alternatives end-to-end (q40/q41's natural item set
    // happens to fully exact-match at sf0.01). Blocked candidates +
    // full oracle.
    Query("q59_fuzzy_forced", (s, dir) => {
      // layered on resolveItems — ONE fixture definition (residue,
      // renames) shared with entry/q40/q41; only the perturbation and
      // the <150 cut are local
      val items = resolveItems(s, dir).where(col("item_id") < 150)
        .select(col("item_id"),
          concat(col("item_name"), lit(" v"),
            (col("item_id") % 5).cast("string")).as("item_name"))
      EntityResolution.resolve(items, resolveDict(s, dir), Seq("item_id"),
        blocked = true)
        .withColumn("alt_digest", altDigest(col("alternatives")))
        .drop("alternatives")
        .orderBy("item_id")
    }, resolveOracleSql(
        """SELECT p_partkey AS item_id,
           p_name || ' v' || CAST(p_partkey % 5 AS VARCHAR) AS item_name
           FROM part WHERE p_partkey % 3 = 0 AND p_partkey < 150""",
        blocked = true)),
    // Zero-shared-token forced resolution: item names are the dict
    // titles with all spaces removed ("navy apple" → "navyapple"), so
    // every item misses the exact phase AND shares no whitespace token
    // with its true match — reachable ONLY through the char-3-gram
    // blocking family. Gates the recall fix in
    // EntityResolution.fuzzyCandidates (round-3 verdict item 1).
    Query("q66_ngram_blocked_resolution", (s, dir) => {
      // layered on resolveItems, q59's rule
      val items = resolveItems(s, dir).where(col("item_id") < 150)
        .select(col("item_id"),
          regexp_replace(col("item_name"), " ", "").as("item_name"))
      EntityResolution.resolve(items, resolveDict(s, dir), Seq("item_id"),
        blocked = true)
        .withColumn("alt_digest", altDigest(col("alternatives")))
        .drop("alternatives")
        .orderBy("item_id")
    }, resolveOracleSql(
        """SELECT p_partkey AS item_id, replace(p_name, ' ', '') AS item_name
           FROM part WHERE p_partkey % 3 = 0 AND p_partkey < 150""",
        blocked = true)),
    // LSH-bucketed approximate nearest neighbors (scale path of q37),
    // with Rademacher md5-parity planes over quantized vectors — exact
    // integer bucketing+scoring, so this one IS hash-checked (oracle
    // twin below).
    Query("q42_lsh_ann", (s, dir) => {
      val e = graft.Tables(s, dir, "embeddings")
      SimilaritySearch.rademacherLshTopK(
        e.where(col("vec_id") % 100 === 0), e,
        "vec_id", "embedding", k = 5, nPlanes = 4, dim = 64)
        .orderBy("query_id", "rank")
    }, {
        // Rademacher sign matrix from md5 parity; integer buckets; then
        // the q37-style exact quantized-cosine top-5 within each bucket.
        val quant = graft.queries.VectorQueries.quant
        s"""WITH sgn AS (
             SELECT p.range AS p, d.range AS d,
               CASE WHEN ascii(substr(md5(p.range || '|' || d.range), 1, 1)) % 2 = 1
                 THEN 1 ELSE -1 END AS s
             FROM range(0, 4) p, range(0, 64) d),
           e AS (SELECT vec_id, $quant AS q FROM embeddings),
           bits AS (
             SELECT e.vec_id, sgn.p,
               CASE WHEN sum(e.q[CAST(sgn.d + 1 AS INT)] * sgn.s) >= 0
                 THEN 1 ELSE 0 END AS bit
             FROM e, sgn GROUP BY e.vec_id, sgn.p),
           bucketed AS (
             SELECT vec_id, CAST(sum(bit * (1 << p)) AS BIGINT) AS bucket
             FROM bits GROUP BY vec_id),
           q AS (
             SELECT e.vec_id AS query_id, e.q AS qv, b.bucket
             FROM e JOIN bucketed b USING (vec_id) WHERE e.vec_id % 100 = 0),
           c AS (
             SELECT e.vec_id AS neighbor_id, e.q AS cv, b.bucket
             FROM e JOIN bucketed b USING (vec_id)),
           scored AS (
             SELECT query_id, neighbor_id,
               ${graft.queries.VectorQueries.cossq("qv", "cv")} AS cos_sq_scaled
             FROM c JOIN q USING (bucket) WHERE query_id <> neighbor_id),
           ranked AS (
             SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cos_sq_scaled DESC, neighbor_id) AS rank FROM scored)
           SELECT query_id, neighbor_id, cos_sq_scaled, rank
           FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""
    }),
    // IVF (inverted-file) ANN: deterministic k-smallest-md5 centroid
    // seeds, shuffle-free integer-cosine assignment against the inlined
    // centroid set, probe-one-cell — hash-checked like q42.
    Query("q52_ivf_ann", (s, dir) => {
      val e = graft.Tables(s, dir, "embeddings")
      SimilaritySearch.ivfTopK(
        e.where(col("vec_id") % 100 === 0), e,
        "vec_id", "embedding", k = 5, nCells = 16, nProbe = 1)
        .orderBy("query_id", "rank")
    }, {
        val quant = graft.queries.VectorQueries.quant
        def cossq(a: String, b: String) = graft.queries.VectorQueries.cossq(a, b)
        s"""WITH e AS (SELECT vec_id, $quant AS q FROM embeddings),
           cents AS (
             SELECT vec_id AS cell_id, q AS centroid FROM e
             ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
           casgn AS (
             SELECT * FROM (
               SELECT e.vec_id AS neighbor_id, e.q AS cv, cents.cell_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${cossq("e.q", "cents.centroid")} DESC, cents.cell_id) AS r
               FROM e CROSS JOIN cents) WHERE r = 1),
           qasgn AS (
             SELECT * FROM (
               SELECT e.vec_id AS query_id, e.q AS qv, cents.cell_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${cossq("e.q", "cents.centroid")} DESC, cents.cell_id) AS r
               FROM e CROSS JOIN cents WHERE e.vec_id % 100 = 0) WHERE r = 1),
           scored AS (
             SELECT query_id, neighbor_id, ${cossq("qv", "cv")} AS cos_sq_scaled
             FROM casgn JOIN qasgn USING (cell_id)
             WHERE query_id <> neighbor_id),
           ranked AS (
             SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cos_sq_scaled DESC, neighbor_id) AS rank FROM scored)
           SELECT query_id, neighbor_id, cos_sq_scaled, rank
           FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""
    }),
    // Deterministic k-means (2 Lloyd rounds, integer centroids) — the
    // coarse-quantizer training step for IVF, hash-checked.
    Query("q58_kmeans_assign", (s, dir) => {
      val e = graft.Tables(s, dir, "embeddings")
      SimilaritySearch.kmeansAssignments(e, "vec_id", "embedding", k = 8, iters = 2)
        .orderBy("vec_id")
    },
        s"""WITH $kmeansCtes
           SELECT vec_id, cell FROM a2 ORDER BY vec_id"""),
    // PQ-ADC ANN (Jégou et al. 2011): 4 subspaces × 8-code books (2
    // Lloyd rounds each, integer L2), corpus encoded to 4 small codes,
    // queries ranked by exact integer ADC lookup tables — the
    // memory-bound ANN scan, deterministic end to end.
    Query("q111_pq_ann", (s, dir) => {
      val e = graft.Tables(s, dir, "embeddings")
      SimilaritySearch.pqTopK(
        e.where(col("vec_id") % 100 === 0), e,
        "vec_id", "embedding", k = 5, m = 4, ksub = 8, iters = 2)
        .orderBy("query_id", "rank")
    },
        s"""WITH $pqCtes
           SELECT query_id, neighbor_id, adc_l2, CAST(rank AS BIGINT) AS rank
           FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""),
    // IVFADC (Jégou et al. §5): coarse IVF cells + residual PQ — the
    // composed warehouse ANN: cells shorten the scan (2/8 probed),
    // residual codebooks compress it (4 codes/vector), both quantizers
    // exact-integer and hash-gated end to end.
    Query("q114_ivfpq_ann", (s, dir) => {
      val e = graft.Tables(s, dir, "embeddings")
      SimilaritySearch.ivfPqTopK(
        e.where(col("vec_id") % 100 === 0), e,
        "vec_id", "embedding", k = 5, nCells = 8, nProbe = 2,
        m = 4, ksub = 8, iters = 2)
        .orderBy("query_id", "rank")
    },
        s"""WITH $ivfPqCtes
           SELECT query_id, neighbor_id, adc_l2, CAST(rank AS BIGINT) AS rank
           FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""),
    // ANN recall audit — the q192-for-vectors: recall@5 of every
    // approximate method in the suite against the q37 brute-force
    // ground truth, one row per method AT ITS GATED SETTING (lsh =
    // q42's 4 Rademacher planes; ivf = q52's 16 seed cells / probe 1;
    // pq = q111's 4×8 codebooks; ivfpq = q114's 8 trained cells /
    // probe 2 + residual PQ). Every path is md5-deterministic, so the
    // recall itself is hash-gated — the oracle twin recomputes all
    // five rankings from the SAME CTE chains that gate q37/q42/q52/
    // q111/q114 (composed, not duplicated: constants drifting between
    // this query and a gated one hash-fail here). At 100 TB this is
    // the audit a pipeline runs on a sample before picking
    // nprobe/codebook settings; ground truth is brute-force over the
    // query set only — queries broadcast, ONE corpus pass, never
    // corpus×corpus.
    Query("q195_ann_recall", (s, dir) => {
      val e = graft.Tables(s, dir, "embeddings")
      val qs = e.where(col("vec_id") % 100 === 0)
      // the ground-truth pair set feeds two frames per method (hit
      // join + count) — materialize the tiny (n_queries·k)-row frame
      // once (the q153 rule) instead of re-running the corpus pass 8×
      val brute = SimilaritySearch.bruteForceTopK(
          qs, e, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(true)
      val nTrue = broadcast(brute.agg(count(lit(1)).as("n_true")))
      def recallOf(method: String, approx: DataFrame): DataFrame = {
        val hits = brute.join(
          approx.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        nTrue
          .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hits"))))
          .select(lit(method).as("method"), col("n_true"), col("n_hits"),
            expr("(1000 * n_hits) div n_true").as("recall_mills"))
          // the floor is part of the gated contract: a kernel
          // regression that guts recall flips this NAMED column on the
          // Spark side only (the oracle recomputes its own rankings),
          // so the mismatch reads as "ivf no longer meets its floor",
          // not an anonymous hash diff
          .withColumn("meets_floor",
            col("recall_mills") >= lit(AnnRecallFloorMills(method)))
      }
      recallOf("ivf", SimilaritySearch.ivfTopK(qs, e,
          "vec_id", "embedding", k = 5, nCells = 16, nProbe = 1))
        .unionByName(recallOf("ivfpq", SimilaritySearch.ivfPqTopK(qs, e,
          "vec_id", "embedding", k = 5, nCells = 8, nProbe = 2,
          m = 4, ksub = 8, iters = 2)))
        .unionByName(recallOf("lsh", SimilaritySearch.rademacherLshTopK(qs, e,
          "vec_id", "embedding", k = 5, nPlanes = 4, dim = 64)))
        .unionByName(recallOf("pq", SimilaritySearch.pqTopK(qs, e,
          "vec_id", "embedding", k = 5, m = 4, ksub = 8, iters = 2)))
        .orderBy("method")
    }, annRecallOracle),
    // SemDeDup: semantic dedup blocked by the q58 k-means cells — every
    // vector with a >= threshold cosine neighbor of smaller id in its
    // cell is marked dropped. Pairwise work never leaves a cell.
    Query("q76_semantic_dedup", (s, dir) => {
      val e = graft.Tables(s, dir, "embeddings")
      SimilaritySearch.semanticDedup(e, "vec_id", "embedding",
        k = 8, iters = 2, minCosSqScaled = SemDedupThreshold)
        .orderBy("vec_id")
    },
        // same Lloyd chain as q58, then the within-cell drop decision
        s"""WITH $kmeansCtes,
           d AS (
             SELECT DISTINCT b.vec_id
             FROM a2 a JOIN a2 b
               ON a.cell = b.cell AND a.vec_id < b.vec_id
             WHERE ${graft.queries.VectorQueries.cossq("a.q", "b.q")}
               >= $SemDedupThreshold)
           SELECT a2.vec_id, a2.cell, (d.vec_id IS NOT NULL) AS dropped
           FROM a2 LEFT JOIN d ON a2.vec_id = d.vec_id
           ORDER BY a2.vec_id"""),
    // Approximate distinct counts (HLL) — the at-scale variant of A4.
    // HLL estimates are engine-specific, so the gated surface is the
    // ERROR BOUND, not the raw estimate: the query emits the exact
    // distinct count plus a within-bound flag at 3x the configured rsd
    // (0.05), and the oracle asserts the flag by emitting literal TRUE
    // against its own exact count — an out-of-bound sketch hash-fails.
    Query("q43_approx_distinct", (s, dir) => {
      graft.Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(
          approx_count_distinct(col("user_id"), 0.05).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            col("exact_users") * 0.15).as("within_bound"))
        .orderBy("event_type")
    },
        // within_bound IS pinned TRUE here, unlike q83/q84: the flag
        // compares Spark's HLL estimate (engine-internal, not
        // recomputable in DuckDB) to the exact count under the rsd
        // bound. HLL is deterministic for fixed data, so the pin is
        // stable per fixture; if a regenerated fixture ever flips it,
        // relax THIS oracle to drop the flag (rows-only on the
        // estimate is impossible cross-engine), never widen the rsd.
        """SELECT event_type, count(DISTINCT user_id) AS exact_users,
           TRUE AS within_bound
           FROM events GROUP BY event_type ORDER BY event_type"""),
    // KMV (k-minimum-values) distinct sketch: unlike HLL, deterministic
    // given the hash — estimate = (k-1)·2^32 / kth-smallest 32-bit md5
    // prefix (exact count when fewer than k distinct hashes). The
    // rn<=k filter plans as WindowGroupLimit: partial min-k per
    // partition before the shuffle, the sketch's at-scale shape.
    Query("q51_kmv_distinct", (s, dir) => {
      val k = 64
      val h = graft.Tables(s, dir, "events")
        .where(col("user_id").isNotNull) // null ordering differs across engines
        .select(col("event_type"), md5(col("user_id").cast("string")).as("h"))
        .distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("h")
      h.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("nd"),
          max(when(col("rn") === k,
            conv(substring(col("h"), 1, 8), 16, 10).cast("long"))).as("vk"))
        .select(col("event_type"),
          when(col("nd") < k, col("nd"))
            .otherwise(floor(lit((k - 1).toLong * 4294967296L) / (col("vk") + 1))
              .cast("long")).as("kmv_users"))
        .orderBy("event_type")
    },
        """WITH h AS (
             SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h
             FROM events WHERE user_id IS NOT NULL),
           ranked AS (
             SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
             FROM h),
           st AS (
             SELECT event_type, count(*) AS nd,
               max(CASE WHEN rn = 64
                 THEN CAST(('0x' || substr(h, 1, 8)) AS BIGINT) END) AS vk
             FROM ranked WHERE rn <= 64 GROUP BY event_type)
           SELECT event_type,
             CAST(CASE WHEN nd < 64 THEN nd
               ELSE floor((63 * 4294967296) / (vk + 1)) END AS BIGINT) AS kmv_users
           FROM st ORDER BY event_type"""),
    // ST2 through the REAL streaming engine: watermarked tumbling-window
    // counts over the events file source, drained with AvailableNow into
    // a memory sink. Append mode emits exactly the windows closed by the
    // final watermark (max event time − 1h) — deterministic, so this IS
    // hash-checked against a batch DuckDB twin of that emission rule.
    Query("q44_streaming_window", (s, dir) => {
      // drain inside an ISOLATED session clone (own SQLConf + temp-view
      // catalog, shared SparkContext): the state-store sizing below must
      // not leak to concurrent queries on the caller's session, and the
      // memory-sink table dies with the clone instead of piling up
      // across bench reruns.
      val s2 = graft.streaming.Incremental.isolatedClone(s)
      val stream = graft.Tables.stream(s2, dir, "events")
      // state shuffle width = f(keyspace), not a constant: hours ×
      // event types bounds the window-count state. Set on the
      // discarded clone only; at 100 TB the same helper scales the
      // width UP with the real key cardinality.
      s2.conf.set("spark.sql.shuffle.partitions",
        graft.streaming.Incremental
          .statePartitions(s, Q44WindowKeyspace).toString)
      drainAvailableNow(s2,
        stream
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n")),
        s"q44_out_${System.nanoTime()}")
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("hour"),
          col("event_type"), col("n"))
        .orderBy("hour", "event_type")
    },
        """WITH e AS (
             SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS wstart,
               event_type, CAST(ts AS TIMESTAMP) AS tsu
             FROM events),
           wm AS (
             SELECT date_trunc('millisecond', max(tsu)) - INTERVAL 1 HOUR AS w
             FROM e)
           SELECT strftime(wstart, '%Y-%m-%d %H:%M') AS hour, event_type,
             count(*) AS n
           FROM e, wm WHERE wstart + INTERVAL 1 HOUR <= wm.w
           GROUP BY 1, 2 ORDER BY hour, event_type"""),
    // ST2/streaming sessionization through the REAL engine: the custom
    // flatMapGroupsWithState gap-sessionizer (Incremental.sessionize)
    // drained with AvailableNow. Append mode emits exactly (a) sessions
    // split by a > gap jump inside the data and (b) sessions whose
    // event-time timer (last event + gap) fired under the final
    // watermark (max event time − gap); a user's trailing session
    // within 2×gap of the stream head stays open and is NOT emitted.
    // That emission rule is deterministic, so this IS hash-checked
    // against a batch DuckDB twin of the same rule (q23 gates the
    // batch-window sessionizer; this gates the streaming state path).
    Query("q71_stream_sessions", (s, dir) => {
      val s2 = graft.streaming.Incremental.isolatedClone(s)
      import s2.implicits._
      val events = graft.Tables.stream(s2, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"))
        .as[graft.streaming.Incremental.Event]
      s2.conf.set("spark.sql.shuffle.partitions",
        graft.streaming.Incremental
          .statePartitions(s, Q71UserKeyspace).toString)
      drainAvailableNow(s2,
        graft.streaming.Incremental.sessionize(events, gapSeconds = 1800).toDF(),
        s"q71_out_${System.nanoTime()}")
        .groupBy("user_id")
        .agg(count(lit(1)).as("closed_sessions"),
          sum(col("n_events")).as("events_in_closed"))
        .orderBy("user_id")
    },
        // the streaming gap-sessionizer's emission rule, recomputed in
        // batch: ms epochs (Spark state keeps Timestamp.getTime), gap
        // splits strictly > 30 min, plus the event-time-timer rule for
        // each user's trailing session — closed iff its timer
        // (last event + gap) fired strictly under the final watermark
        // (max event time − gap). Sessions still open stay unemitted.
        """WITH e AS (
             SELECT user_id, event_id,
               epoch_ms(CAST(ts AS TIMESTAMP)) AS ms FROM events),
           wm AS (SELECT max(ms) - 1800000 AS w FROM e),
           g AS (
             SELECT user_id, event_id, ms,
               lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms
             FROM e),
           s AS (
             SELECT user_id, ms,
               sum(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000
                   THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ms, event_id
                   ROWS UNBOUNDED PRECEDING) AS sid
             FROM g),
           sess AS (
             SELECT user_id, sid, count(*) AS n_events, max(ms) AS last_ms
             FROM s GROUP BY user_id, sid),
           sess2 AS (
             SELECT *, max(sid) OVER (PARTITION BY user_id) AS max_sid FROM sess),
           closed AS (
             SELECT user_id, n_events FROM sess2, wm
             WHERE sid < max_sid OR last_ms + 1800000 < wm.w)
           SELECT user_id, count(*) AS closed_sessions,
             CAST(sum(n_events) AS BIGINT) AS events_in_closed
           FROM closed GROUP BY user_id ORDER BY user_id"""),
    // The spark.sql textual surface: temp views + ANSI SQL (oracle twin
    // in oracleSql — this one IS hash-checked). The view registers on
    // an ISOLATED session clone, not the caller's catalog: a fixed-name
    // view baked to one dir would cross-contaminate a second dir (or a
    // concurrent query) evaluated on the same shared session — the
    // same isolation discipline the streaming queries apply.
    Query("q45_sql_surface", (s, dir) => {
      val s2 = graft.streaming.Incremental.isolatedClone(s)
      graft.Tables(s2, dir, "orders").createOrReplaceTempView("orders_v")
      s2.sql(
        """SELECT o_orderpriority, count(*) AS n,
          |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
          |FROM orders_v GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    },
        """SELECT o_orderpriority, count(*) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
           FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    // SimHash Hamming<=1 near-dup pairs via probe-key explosion (bits+1
    // probe keys per doc, equi-join — never the O(N^2) pair space). The
    // oracle verifies with a direct bit_count(xor) pair scan, feasible
    // only at oracle scale.
    Query("q48_simhash_neardup", (s, dir) => {
      // 1-in-3 sample: the synthetic corpus is near-dup-heavy, so the
      // pair OUTPUT grows quadratically with the clique sizes — the
      // sample keeps the benchmark measuring the probe-join design, not
      // result materialization.
      val d = graft.Tables(s, dir, "documents")
        .where(col("doc_id") % 3 === 1)
        .repartition(s.sparkContext.defaultParallelism)
      graft.operators.Dedup.simhashNearDupPairs(d, "text", "doc_id", bits = 16)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy("id_a", "id_b")
    }, {
        val tokSet = graft.queries.TextQueries.sqlTokSet
        val sums = (0 until 16).map(i =>
          s"sum(CASE WHEN ascii(substr(md5(tok), ${i + 1}, 1)) % 2 = 1 THEN 1 ELSE -1 END) AS s$i")
          .mkString(", ")
        val pack = (0 until 16).map(i =>
          s"(CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
        s"""WITH toks AS (
             SELECT doc_id, unnest($tokSet) AS tok FROM documents
             WHERE doc_id % 3 = 1),
           bits AS (SELECT doc_id, $sums FROM toks GROUP BY doc_id),
           sig AS (SELECT doc_id, CAST($pack AS BIGINT) AS sim FROM bits)
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(CASE WHEN a.sim = b.sim THEN 0 ELSE 1 END AS BIGINT) AS hamming
           FROM sig a JOIN sig b
             ON a.doc_id < b.doc_id AND bit_count(xor(a.sim, b.sim)) <= 1
           ORDER BY id_a, id_b"""
    }),
    // Multimodal pipeline: synthetic media table (binary payload + typed
    // metadata) -> partition-wise batched feature extraction (decode
    // stub) -> video frame sampling. Output is the float-free projection
    // so it hash-checks; the mapPartitions decode path still executes.
    // Video frame-sampling gate: per-row deterministic multi-frame
    // animated GIFs ((doc_id % 5 + 1) solid-gray 4x4 frames, gray
    // g = (doc_id*37 + frame*11) % 256) decoded back by the REAL JDK
    // sequence reader inside Multimodal.sampleFrames. The oracle
    // re-derives frame indices and luminance analytically: a solid-gray
    // frame's mean luminance is exactly g/255, and round(1000*g/255) is
    // float-rounding-safe (fractional parts are multiples of 1/51, never
    // within 0.009 of a .5 boundary).
    Query("q67_video_frames", (s, dir) => {
      import s.implicits._
      val ids = graft.Tables(s, dir, "documents")
        .where(col("doc_id") % 10 === 2).select(col("doc_id")).as[Long]
      val media = ids.mapPartitions(_.map { id =>
        val frames = (0 until (id % 5 + 1).toInt).map { f =>
          val g = ((id * 37 + f * 11) % 256).toInt
          val img = new java.awt.image.BufferedImage(4, 4,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val rgb = (g << 16) | (g << 8) | g
          var y = 0
          while (y < 4) {
            var x = 0
            while (x < 4) { img.setRGB(x, y, rgb); x += 1 }
            y += 1
          }
          img
        }
        (id, graft.operators.Multimodal.encodeGif(frames))
      }).toDF("media_id", "content")
        .withColumn("kind", lit("video"))
        .withColumn("meta", struct(lit("image/gif").as("mime"),
          lit(4).as("width"), lit(4).as("height"),
          lit(null).cast("long").as("duration_ms")))
      graft.operators.Multimodal.sampleFrames(media, everyNth = 2)
        .withColumn("lum_mills", round(col("mean_lum") * 1000).cast("long"))
        .drop("mean_lum")
        .orderBy("media_id", "frame_no")
    },
        """WITH ids AS (
             SELECT doc_id AS media_id FROM documents WHERE doc_id % 10 = 2),
           fr AS (
             SELECT media_id,
               unnest(range(0, media_id % 5 + 1, 2)) AS frame_no
             FROM ids)
           SELECT media_id, frame_no, TRUE AS decoded,
             CAST(round(((media_id * 37 + frame_no * 11) % 256) / 255.0 * 1000)
               AS BIGINT) AS lum_mills
           FROM fr ORDER BY media_id, frame_no"""),
    Query("q49_multimodal_pipeline", (s, dir) => {
      // null text/n_chars rows are dropped on BOTH sides: the engines'
      // null propagation through octet_length/range differs from the
      // stub's null-guards, and a null-payload media row is not a
      // meaningful pipeline input anyway.
      val media = graft.operators.Multimodal.syntheticMediaFromDocs(s, dir)
        .where(col("content").isNotNull && col("meta.duration_ms").isNotNull)
      // decode_status rides the gate: the synthetic payloads are text
      // bytes no JDK codec claims, so the oracle pins 'stub' for every
      // row — an engine-side dispatch regression that starts silently
      // stubbing (or claiming to decode) flips the column and hash-fails.
      // The 'decoded' branch is spec-gated on real PNG/WAV/GIF payloads
      // (MultimodalSpec) and oracle-gated via q67's real frame decode.
      val feats = graft.operators.Multimodal.extractFeatures(media)
        .select(col("media_id"), col("kind"), col("n_bytes"),
          col("decode_status"))
      val frames = graft.operators.Multimodal.sampleFrames(media)
        .groupBy("media_id").agg(count(lit(1)).as("n_frames"))
      feats.join(frames, Seq("media_id"), "left")
        .withColumn("n_frames", coalesce(col("n_frames"), lit(0L)))
        .orderBy("media_id")
    },
        """WITH m AS (
             SELECT doc_id AS media_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS kind,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               n_chars * 100 AS duration_ms
             FROM documents
             WHERE text IS NOT NULL AND n_chars IS NOT NULL),
           fr AS (
             SELECT media_id, count(*) AS n_frames
             FROM (SELECT media_id,
                     unnest(range(0, duration_ms // 1000 + 1, 10)) AS f
                   FROM m WHERE kind = 'video') u
             GROUP BY media_id)
           SELECT m.media_id, m.kind, m.n_bytes,
             'stub' AS decode_status,
             coalesce(fr.n_frames, 0) AS n_frames
           FROM m LEFT JOIN fr USING (media_id) ORDER BY media_id"""),
    // Skew-mitigation path: the q06 rollup computed through a salted
    // equi-join (hot keys spread over 8 sub-keys) and a two-phase
    // (partial-on-salt, final) aggregation. Row-identical to the plain
    // join by construction — the oracle is the plain SQL.
    Query("q50_salted_rollup", (s, dir) => {
      val li = graft.Tables(s, dir, "lineitem")
      val p = graft.Tables(s, dir, "part")
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      val joined = graft.operators.SkewJoin.saltedJoin(
        li, p, Seq("l_partkey"), saltFrom = col("l_orderkey"))
        .withColumn("rc", RelationalQueries.revenueCents)
      graft.operators.SkewJoin.twoPhaseAgg(
        joined, Seq("p_brand"), saltFrom = col("l_orderkey"), nSalts = 8)(
        Seq(sum(col("rc")).as("prc"), count(lit(1)).as("pn")),
        Seq(sum(col("prc")).as("revenue_cents"), sum(col("pn")).as("n_items")))
        .orderBy("p_brand")
    },
        s"""SELECT p_brand,
           ${graft.queries.RelationalQueries.revenueCentsSumSql} AS revenue_cents,
           count(*) AS n_items
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY p_brand ORDER BY p_brand"""),
    // Deterministic train/val split: md5-bucket hashing on the document
    // id — the reproducible-split primitive (same row lands in the same
    // split on any engine, any run, any cluster size; no RNG, no seed
    // coordination).
    Query("q54_det_split", (s, dir) => {
      val d = graft.Tables(s, dir, "documents")
      // null-lang guard (q51/q57's rule, in lockstep with the twin):
      // a NULL sort key orders NULLS FIRST in Spark, NULLS LAST in
      // DuckDB — the row ORDER would diverge on a regenerated fixture
      d.where(col("lang").isNotNull)
        .withColumn("split", mdSplit)
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars_total"))
        .orderBy("split", "lang")
    },
        s"""SELECT $mdSplitSql AS split,
           lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars_total
           FROM documents WHERE lang IS NOT NULL
           GROUP BY 1, 2 ORDER BY split, lang"""),
    // Decontamination: train docs sharing >= 5 distinct word-bigram
    // shingles with any val doc (q54's split). The scale shape is the
    // shared-shingle equi-join — work ∝ shingle collisions, never the
    // train × val cross product.
    Query("q56_decontam_overlap", (s, dir) => {
      // 1-in-4 sample: the synthetic corpus's near-dup cliques make the
      // contaminated-pair OUTPUT quadratic in clique size (1.1M rows
      // unsampled at sf0.1) — the sample keeps the benchmark measuring
      // the shingle-join design, not result materialization.
      // single-row-group testdata => spread rows before the tokenizing
      // explode (many-file production layouts parallelize natively)
      val d = graft.Tables(s, dir, "documents")
        .where(col("doc_id") % 4 === 2)
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("split", mdSplit)
        .select(col("doc_id"), col("split"),
          explode(graft.queries.TextQueries.wordBigrams).as("sh"))
      val tr = d.where(col("split") === "train")
        .select(col("doc_id").as("train_id"), col("sh"))
      val va = d.where(col("split") === "val")
        .select(col("doc_id").as("val_id"), col("sh"))
      tr.join(va, "sh")
        .groupBy("train_id", "val_id").agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= 5)
        .orderBy("train_id", "val_id")
    },
        s"""WITH t AS (
             SELECT doc_id,
               ${graft.queries.TextQueries.tokenListSql} AS l,
               $mdSplitSql AS split
             FROM documents WHERE doc_id % 4 = 2),
           d AS (
             SELECT doc_id, split,
               unnest(${graft.queries.TextQueries.wordBigramsSql}) AS sh
             FROM t)
           SELECT a.doc_id AS train_id, b.doc_id AS val_id,
             count(*) AS n_shared
           FROM d a JOIN d b ON a.sh = b.sh
             AND a.split = 'train' AND b.split = 'val'
           GROUP BY 1, 2 HAVING count(*) >= 5
           ORDER BY train_id, val_id"""),
    // Bloom-prefiltered decontamination — the 100 TB shape of q56: the
    // val split's bigrams fold into a Bloom bitset (driver sees only
    // m/64 longs), each train doc is tested by a codegen'd exists()
    // over its gram array — no explode/shuffle/join for the unflagged
    // bulk — and only the flagged sliver is exact-confirmed against
    // the broadcast val gram set, so the output is exact (false
    // positives die in the confirm join; Bloom has no false negatives)
    // and hash-checked.
    Query("q78_bloom_decontam", (s, dir) => {
      val d = graft.Tables.spread(s, dir, "documents")
        .withColumn("split", mdSplit)
        .select(col("doc_id"), col("split"),
          graft.queries.TextQueries.wordBigrams.as("grams"))
      val tr = d.where(col("split") === "train").select("doc_id", "grams")
      val va = d.where(col("split") === "val").select("doc_id", "grams")
      TextAnalysis.bloomDecontam(tr, va, "doc_id", "grams",
          minShared = graft.queries.TextQueries.DecontamMinShared,
          mBits = graft.queries.TextQueries.DecontamBloomBits,
          seeds = graft.queries.TextQueries.DecontamBloomSeeds)
        .orderBy("doc_id")
    },
        s"""WITH t AS (
             SELECT doc_id,
               ${graft.queries.TextQueries.tokenListSql} AS l,
               $mdSplitSql AS split
             FROM documents),
           d AS (
             SELECT doc_id, split,
               unnest(${graft.queries.TextQueries.wordBigramsSql}) AS g
             FROM t),
           v AS (SELECT DISTINCT g FROM d WHERE split = 'val')
           SELECT a.doc_id, count(*) AS n_shared
           FROM d a JOIN v USING (g)
           WHERE a.split = 'train'
           GROUP BY 1 HAVING count(*) >= ${graft.queries.TextQueries.DecontamMinShared}
           ORDER BY doc_id"""),
    // Backward as-of join: each purchase event attributed to the same
    // user's most recent at-or-before click — one union shuffle on
    // user_id + an ordered window, never an inequality join (Spark
    // would nested-loop it). Exact epoch-micros longs keep ts parity
    // bit-for-bit with DuckDB's epoch_us; money floor-scales to cents.
    // DuckDB oracles this with its native ASOF LEFT JOIN.
    Query("q80_asof_attribution", (s, dir) =>
      asofAttribution(s, dir)(AsofJoin.asofBackward(_, _, Seq("user_id"),
        "ts_us", Seq("click_id", "click_cents"), "m_",
        maxGap = Some(AsofMaxGapUs))),
        s"""WITH $asofOracleCtes
           SELECT p.event_id, p.user_id, p.ts_us, p.cents,
             coalesce(CASE WHEN p.ts_us - c0.ts_us <= $AsofMaxGapUs
               THEN c0.click_id END, -1) AS m_click_id,
             coalesce(CASE WHEN p.ts_us - c0.ts_us <= $AsofMaxGapUs
               THEN c0.click_cents END, -1) AS m_click_cents
           FROM p ASOF LEFT JOIN c0
             ON p.user_id = c0.user_id AND p.ts_us >= c0.ts_us
           ORDER BY p.event_id"""),
    // Forward as-of twin of q80: each purchase attributed to the same
    // user's EARLIEST at-or-after click (next-touch) within the same
    // window. DuckDB has only backward ASOF, so the oracle negates the
    // timestamps — max(-ts) at-or-before ≡ min(ts) at-or-after.
    Query("q87_asof_forward", (s, dir) =>
      asofAttribution(s, dir)(AsofJoin.asofForward(_, _, Seq("user_id"),
        "ts_us", Seq("click_id", "click_cents"), "m_",
        maxGap = Some(AsofMaxGapUs))),
        // DuckDB ASOF is backward-only; ASOF on NEGATED ts gives the
        // forward match (max(-ts) at-or-before ≡ min(ts) at-or-after)
        s"""WITH $asofOracleCtes
           SELECT p.event_id, p.user_id, p.ts_us, p.cents,
             coalesce(CASE WHEN cn.ts_us - p.ts_us <= $AsofMaxGapUs
               THEN cn.click_id END, -1) AS m_click_id,
             coalesce(CASE WHEN cn.ts_us - p.ts_us <= $AsofMaxGapUs
               THEN cn.click_cents END, -1) AS m_click_cents
           FROM p ASOF LEFT JOIN cn
             ON p.user_id = cn.user_id AND -p.ts_us >= cn.nts
           ORDER BY p.event_id"""),
    // Nearest as-of: the closer of the two directions, exact ties to
    // backward, both windows over ONE exchange. Oracled by running both
    // DuckDB ASOF directions and picking the closer in SQL.
    Query("q88_asof_nearest", (s, dir) =>
      asofAttribution(s, dir)(AsofJoin.asofNearest(_, _, Seq("user_id"),
        "ts_us", Seq("click_id", "click_cents"), "m_",
        maxGap = Some(AsofMaxGapUs))),
        // both ASOF directions, then pick the closer (ties to backward)
        // with the gap applied per side — per-direction candidates are
        // already each direction's closest, so this equals the engine's
        // nearest-within-gap semantics exactly
        s"""WITH $asofOracleCtes,
           b AS (SELECT p.event_id, c0.ts_us AS m_ts, c0.click_id AS m_id,
                   c0.click_cents AS m_c
                 FROM p ASOF LEFT JOIN c0
                   ON p.user_id = c0.user_id AND p.ts_us >= c0.ts_us),
           f AS (SELECT p.event_id, cn.ts_us AS m_ts, cn.click_id AS m_id,
                   cn.click_cents AS m_c
                 FROM p ASOF LEFT JOIN cn
                   ON p.user_id = cn.user_id AND -p.ts_us >= cn.nts)
           SELECT p.event_id, p.user_id, p.ts_us, p.cents,
             ${asofNearestPick("m_id")} AS m_click_id,
             ${asofNearestPick("m_c")} AS m_click_cents
           FROM p
           LEFT JOIN b ON p.event_id = b.event_id
           LEFT JOIN f ON p.event_id = f.event_id
           ORDER BY p.event_id"""),
    // Unkeyed interval join (RangeJoin.intervalJoin): 24 hourly
    // maintenance-style windows of 90 min (OVERLAPPING — stride < len,
    // so events near window edges multi-match) against the whole event
    // stream, bucket-blocked at 30 min so the join is a plain
    // equi-shuffle + exact filter, never a nested loop.
    Query("q101_interval_join", (s, dir) => {
      val ev = graft.Tables.eventsTsMicros(graft.Tables(s, dir, "events"))
        .select(col("event_id"), col("ts_us"),
          floor(col("value") * 100).cast("long").as("cents"))
      val iv = broadcast(ev.agg(min(col("ts_us")).as("__m0")))
        .select(explode(sequence(lit(0L), lit(IntervalWindows - 1)))
          .as("win_id"), col("__m0"))
        .select(col("win_id"),
          (col("__m0") + col("win_id") * IntervalStrideUs).as("w_start"),
          (col("__m0") + col("win_id") * IntervalStrideUs + IntervalLenUs)
            .as("w_end"))
      graft.operators.RangeJoin.intervalJoin(
          ev, iv, "ts_us", "w_start", "w_end", IntervalBucketUs)
        .groupBy("win_id")
        .agg(count(lit(1)).as("n_events"),
          sum(col("cents")).as("cents_sum"),
          min(col("event_id")).as("min_event"),
          max(col("event_id")).as("max_event"))
        .orderBy("win_id")
    },
        // the NAIVE range-predicate twin — parity proves the bucket
        // blocking lossless and duplicate-free, not just self-consistent
        s"""WITH ev AS (
             SELECT event_id, epoch_us(ts) AS ts_us,
               CAST(floor(value * 100) AS BIGINT) AS cents
             FROM events),
           m AS (SELECT min(ts_us) AS m0 FROM ev),
           iv AS (
             SELECT CAST(i AS BIGINT) AS win_id,
               m0 + i * $IntervalStrideUs AS ws,
               m0 + i * $IntervalStrideUs + $IntervalLenUs AS we
             FROM m, (SELECT unnest(range($IntervalWindows)) AS i)),
           j AS (
             SELECT iv.win_id, ev.event_id, ev.cents
             FROM ev JOIN iv ON ev.ts_us >= iv.ws AND ev.ts_us < iv.we)
           SELECT win_id, CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(cents) AS BIGINT) AS cents_sum,
             min(event_id) AS min_event, max(event_id) AS max_event
           FROM j GROUP BY win_id ORDER BY win_id"""),
    // Supplier-side multiway rollup (J6/J9 shape on the one remaining
    // untouched testdata table): lineitem ⋈ supplier ⋈ nation, both
    // dims broadcast.
    Query("q55_supplier_rollup", (s, dir) => {
      val li = graft.Tables(s, dir, "lineitem")
      val sup = graft.Tables(s, dir, "supplier")
      val nat = graft.Tables(s, dir, "nation")
      li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
        .groupBy("n_name")
        .agg(
          sum(RelationalQueries.revenueCents).as("revenue_cents"),
          countDistinct(col("s_suppkey")).as("n_suppliers"))
        .orderBy("n_name")
    },
        s"""SELECT n_name,
           ${graft.queries.RelationalQueries.revenueCentsSumSql} AS revenue_cents,
           count(DISTINCT s_suppkey) AS n_suppliers
           FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           GROUP BY n_name ORDER BY n_name"""),
    // Exact distributed median by distributed selection (no approximate
    // percentile): aggregate a per-(lang, value) histogram first (one
    // partial-agg shuffle; result size = distinct values per group, not
    // rows), then find the value whose cumulative count brackets the
    // median rank. The window runs over the HISTOGRAM — at 100 TB each
    // group's window input is its value cardinality, never its row
    // count, so no multi-TB single-task sort exists anywhere. The VALUE
    // at rank (n+1)/2 is tie-invariant, so this equals the naive
    // row_number formulation on any engine.
    Query("q57_exact_median", (s, dir) => {
      val d = graft.Tables(s, dir, "documents")
        .where(col("n_chars").isNotNull) // null sort position differs across engines
      val hist = d.groupBy("lang", "n_chars").agg(count(lit(1)).as("cnt"))
      val byVal = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy("n_chars")
      hist
        .withColumn("cum", sum(col("cnt")).over(byVal))
        .withColumn("n", sum(col("cnt")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("lang")))
        .where(col("cum") - col("cnt") < expr("(n + 1) div 2")
          && expr("(n + 1) div 2") <= col("cum"))
        .select(col("lang"), col("n").as("n_docs"),
          col("n_chars").as("median_chars"))
        .orderBy("lang")
    },
        """WITH h AS (
             SELECT lang, n_chars, count(*) AS cnt
             FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
           r AS (
             SELECT lang, n_chars, cnt,
               sum(cnt) OVER (PARTITION BY lang ORDER BY n_chars
                 ROWS UNBOUNDED PRECEDING) AS cum,
               sum(cnt) OVER (PARTITION BY lang) AS n
             FROM h)
           SELECT lang, CAST(n AS BIGINT) AS n_docs, n_chars AS median_chars
           FROM r WHERE cum - cnt < (n + 1) // 2 AND (n + 1) // 2 <= cum
           ORDER BY lang"""),
    // F7/P10/F8: the semantic batch-approval guard over a deterministic
    // review-shaped set (suggested title = the next part's name, score a
    // derived 50-99 band, approved/ignored flags from key residues) —
    // category-mismatch, problematic-pair and length-ratio rules all
    // hash-checked.
    Query("q60_semantic_guard", (s, dir) => {
      val p = graft.Tables(s, dir, "part")
      val a = p.select(col("p_partkey").as("review_id"),
        col("p_name").as("item_name"))
      val b = p.select((col("p_partkey") - 1).as("review_id"),
        col("p_name").as("suggested_title"))
      val reviews = a.join(b, "review_id")
        // perturbations that trip each guard rule: a category word on
        // one side only (%5=0), a problematic pair (%5=1), a truncated
        // suggestion that fails the length-ratio floor (%5=2)
        .withColumn("item_name",
          when(col("review_id") % 5 === 1, lit("milk")).otherwise(col("item_name")))
        .withColumn("suggested_title",
          when(col("review_id") % 5 === 0, concat(col("suggested_title"), lit(" milk")))
            .when(col("review_id") % 5 === 1, lit("almond milk"))
            .when(col("review_id") % 5 === 2, substring(col("suggested_title"), 1, 5))
            .otherwise(col("suggested_title")))
        .withColumn("score", (lit(50) + col("review_id") % 50).cast("double"))
        .withColumn("approved",
          when(col("review_id") % 7 === 0, lit(true)).otherwise(lit(null).cast("boolean")))
        .withColumn("ignored", col("review_id") % 11 === 0)
      graft.operators.SemanticGuard.batchApprovable(reviews)
        .select("review_id", "item_name", "suggested_title", "score", "semantic_ok")
        .orderBy("review_id")
    }, {
        // generated FROM SemanticGuard's keyword tables — the oracle can
        // never drift from the operator's category/pair data
        def hits(x: String, ws: Seq[String]) =
          ws.map(w => s"lower($x) LIKE '%$w%'").mkString("(", " OR ", ")")
        val catMismatch = graft.operators.SemanticGuard.Categories.values
          .map(ws => s"(${hits("item_name", ws)} <> ${hits("suggested_title", ws)})")
          .mkString("(", " OR ", ")")
        val pairHit = graft.operators.SemanticGuard.ProblematicPairs
          .map { case (x, y) =>
            s"""(lower(item_name) = '$x' AND lower(suggested_title) LIKE '%$y%')
               OR (lower(suggested_title) = '$x' AND lower(item_name) LIKE '%$y%')"""
          }.mkString("(", " OR ", ")")
        s"""WITH reviews AS (
             SELECT a.p_partkey AS review_id,
               CASE WHEN a.p_partkey % 5 = 1 THEN 'milk'
                    ELSE a.p_name END AS item_name,
               CASE WHEN a.p_partkey % 5 = 0 THEN b.p_name || ' milk'
                    WHEN a.p_partkey % 5 = 1 THEN 'almond milk'
                    WHEN a.p_partkey % 5 = 2 THEN substr(b.p_name, 1, 5)
                    ELSE b.p_name END AS suggested_title,
               CAST(50 + a.p_partkey % 50 AS DOUBLE) AS score,
               CASE WHEN a.p_partkey % 7 = 0 THEN true END AS approved,
               a.p_partkey % 11 = 0 AS ignored
             FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1)
           SELECT review_id, item_name, suggested_title, score,
             (NOT $catMismatch AND NOT $pairHit
              AND CAST(least(length(item_name), length(suggested_title)) AS DOUBLE)
                / greatest(length(item_name), length(suggested_title), 1)
                >= ${graft.operators.SemanticGuard.MinLenRatio})
               AS semantic_ok
           FROM reviews
           WHERE approved IS NULL AND NOT coalesce(ignored, false)
             AND score >= ${graft.operators.SemanticGuard.HighConfidence}
             AND score < ${graft.functions.Normalize.AutoResolve}
             AND suggested_title IS NOT NULL
           ORDER BY review_id"""
    }),
    // A6: push-result summary — one-pass conditional counts over a
    // deterministic result-shaped set.
    Query("q61_push_summary", (s, dir) => {
      val o = graft.Tables(s, dir, "orders")
      val results = o.select(
        element_at(array(lit("member"), lit("product"), lit("ingredient")),
          (col("o_orderkey") % 3 + 1).cast("int")).as("entity"),
        (col("o_orderkey") % 7 =!= 0).as("ok"))
      graft.operators.Reports.pushSummary(results)
    },
        """WITH results AS (
             SELECT (['member', 'product', 'ingredient'])[CAST(o_orderkey % 3 + 1 AS INT)] AS entity,
               o_orderkey % 7 <> 0 AS ok
             FROM orders)
           SELECT
             CAST(sum(CASE WHEN entity = 'member' AND ok THEN 1 ELSE 0 END) AS BIGINT) AS members_pushed,
             CAST(sum(CASE WHEN entity = 'product' AND ok THEN 1 ELSE 0 END) AS BIGINT) AS products_created,
             CAST(sum(CASE WHEN entity = 'ingredient' AND ok THEN 1 ELSE 0 END) AS BIGINT) AS ingredients_created,
             CAST(sum(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT) AS errors
           FROM results"""),
    // F12: payload-size estimate (JSON mutation bytes) per customer —
    // to_json is format-identical across engines for null-free
    // string/int structs, so the byte count hash-checks.
    Query("q62_payload_bytes", (s, dir) => {
      graft.Tables(s, dir, "customer")
        .select(col("c_custkey"),
          graft.functions.Normalize.payloadBytes(
            struct(col("c_custkey"), col("c_name"), col("c_mktsegment")))
            .as("payload_bytes"))
        .orderBy("c_custkey")
    },
        // octet_length twin of the engine's byte count (encode -> BLOB)
        """SELECT c_custkey,
           CAST(octet_length(encode(CAST(to_json(struct_pack(
             c_custkey := c_custkey, c_name := c_name,
             c_mktsegment := c_mktsegment)) AS VARCHAR))) AS BIGINT) AS payload_bytes
           FROM customer ORDER BY c_custkey"""),
    // E3: offerings derivation over a member-shaped frame synthesized
    // from customers (service columns driven by key residues, including
    // empty/'null'/'n/a' negatives) — melt + uid-dedup all hash-checked
    // via the exploded link-table projection.
    Query("q63_offerings_links", (s, dir) => {
      val c = graft.Tables(s, dir, "customer")
      val members = c.select(
        col("c_custkey").as("member_id"),
        when(col("c_custkey") % 2 === 0, lit("we manufacture"))
          .when(col("c_custkey") % 5 === 1, lit("n/a"))
          .otherwise(lit(null).cast("string")).as("manufacturingServices"),
        when(col("c_custkey") % 3 === 0, col("c_name")).as("products"),
        when(col("c_custkey") % 5 === 0, lit("fleet")).as("logisticalServices"),
        when(col("c_custkey") % 7 === 0, lit(" boxes ")).as("suppliedPackaging"),
        when(col("c_custkey") % 7 === 3, lit("crates")).as("deliveredIn"),
        when(col("c_custkey") % 11 === 0, lit("")).otherwise(lit("shared kitchen"))
          .as("typeOfSpace"))
      graft.operators.Offerings.offeringLinks(members, Seq("member_id"))
        .orderBy("member_id", "uid")
    }, {
        // titles/uids come FROM Offerings.DefaultMapping and the dedup
        // rule mirrors withOfferings' first-in-sorted-column-order —
        // min(source_field) per (member, uid)
        val synth = Map(
          "manufacturingServices" ->
            "CASE WHEN c_custkey % 2 = 0 THEN 'we manufacture' WHEN c_custkey % 5 = 1 THEN 'n/a' END",
          "products" -> "CASE WHEN c_custkey % 3 = 0 THEN c_name END",
          "logisticalServices" -> "CASE WHEN c_custkey % 5 = 0 THEN 'fleet' END",
          "suppliedPackaging" -> "CASE WHEN c_custkey % 7 = 0 THEN ' boxes ' END",
          "deliveredIn" -> "CASE WHEN c_custkey % 7 = 3 THEN 'crates' END",
          "typeOfSpace" ->
            "CASE WHEN c_custkey % 11 = 0 THEN '' ELSE 'shared kitchen' END")
        val nullToks = graft.operators.Offerings.NullTokens
          .map(t => s"'$t'").mkString(", ")
        def nonEmpty(x: String) =
          s"""$x IS NOT NULL AND length(trim($x)) > 0
             AND lower(trim($x)) NOT IN ($nullToks)"""
        val branches = synth.keys.toSeq.sorted.map { f =>
          val (title, uid) = graft.operators.Offerings.DefaultMapping(f)
          s"""SELECT member_id, '$title' AS title, '$uid' AS uid,
              '$f' AS source_field, trim($f) AS source_value
              FROM m WHERE ${nonEmpty(f)}"""
        }.mkString("\n UNION ALL\n")
        s"""WITH m AS (
             SELECT c_custkey AS member_id,
               ${synth.toSeq.sortBy(_._1).map { case (f, e) => s"$e AS $f" }.mkString(", ")}
             FROM customer),
           cand AS ($branches)
           SELECT member_id, title, uid, source_field, source_value
           FROM cand
           QUALIFY row_number() OVER (PARTITION BY member_id, uid
             ORDER BY source_field) = 1
           ORDER BY member_id, uid"""
    }),
    // F1: the full offering-text normalization chain (whitespace
    // collapse, 34 variant rewrites, punctuation strip, smart title
    // case) over perturbed part names that exercise every stage.
    Query("q64_normalize_offering", (s, dir) => {
      val p = graft.Tables(s, dir, "part")
      val t = when(col("p_partkey") % 6 === 0, concat(lit("vit c "), col("p_name")))
        .when(col("p_partkey") % 6 === 1, concat(upper(col("p_name")), lit(", organic!!")))
        .when(col("p_partkey") % 6 === 2, concat(lit("b. lactis with "), col("p_name")))
        .when(col("p_partkey") % 6 === 3, concat(col("p_name"), lit(" co q 10")))
        .when(col("p_partkey") % 6 === 4, concat(lit("  "), col("p_name"), lit("   gelatine  ")))
        .otherwise(concat(col("p_name"), lit(" \"quoted\" [bracketed]")))
      p.select(col("p_partkey"), t.as("raw"),
          graft.functions.OfferingText.normalizeOffering(t).as("normalized"))
        .orderBy("p_partkey")
    }, {
        // the rewrite chain is generated FROM OfferingText.Variants /
        // StopWords, so oracle and operator share one variant table
        def collapse(x: String) = s"trim(regexp_replace($x, '\\s+', ' ', 'g'))"
        val rewritten = graft.functions.OfferingText.Variants
          .foldLeft(collapse("raw")) { case (acc, (pat, repl)) =>
            s"regexp_replace($acc, '$pat', '$repl', 'gi')"
          }
        val punct = graft.functions.OfferingText.PunctClass.replace("'", "''")
        val stripped = collapse(s"regexp_replace($rewritten, '$punct', '', 'g')")
        val stops = graft.functions.OfferingText.StopWords.toSeq.sorted
          .map(w => s"'$w'").mkString(", ")
        // per word, mirroring smartTitleCase's EXCLUSIVE branches: a
        // word with '-' splits on '-' only; the '.' split applies just
        // to hyphen-free words (reference if/elif order).
        val capWord =
          """CASE WHEN contains(wz[1], '-')
             THEN array_to_string(list_transform(string_split(wz[1], '-'), hp ->
               upper(substr(hp, 1, 1)) || lower(substr(hp, 2))), '-')
             ELSE array_to_string(list_transform(string_split(wz[1], '.'), dp ->
               upper(substr(dp, 1, 1)) || lower(substr(dp, 2))), '.') END"""
        val titled =
          s"""array_to_string(list_transform(
               list_zip(string_split(stripped, ' '),
                 range(1, len(string_split(stripped, ' ')) + 1)),
               wz -> CASE WHEN wz[2] > 1 AND lower(wz[1]) IN ($stops)
                          THEN lower(wz[1])
                          ELSE $capWord END), ' ')"""
        s"""WITH base AS (
             SELECT p_partkey,
               CASE WHEN p_partkey % 6 = 0 THEN 'vit c ' || p_name
                    WHEN p_partkey % 6 = 1 THEN upper(p_name) || ', organic!!'
                    WHEN p_partkey % 6 = 2 THEN 'b. lactis with ' || p_name
                    WHEN p_partkey % 6 = 3 THEN p_name || ' co q 10'
                    WHEN p_partkey % 6 = 4 THEN '  ' || p_name || '   gelatine  '
                    ELSE p_name || ' "quoted" [bracketed]' END AS raw
             FROM part),
           strip AS (SELECT p_partkey, raw, $stripped AS stripped FROM base)
           SELECT p_partkey, raw, $titled AS normalized
           FROM strip ORDER BY p_partkey"""
    }),
    // Cluster-balanced (diversity) sampling: the q58 trained cells
    // composed with the q100 exact-k md5 priority kernel — per-cluster
    // quotas instead of corpus-uniform sampling, the coreset-selection
    // pass of embedding-space curation.
    Query("q125_cluster_sample", (s, dir) => {
      val e = graft.Tables(s, dir, "embeddings")
      TextAnalysis.prioritySample(
          SimilaritySearch.kmeansAssignments(
            e, "vec_id", "embedding", k = 8, iters = 2),
          "cell", "vec_id", k = 10)
        .orderBy("cell", "sample_rank")
    },
        // shared trained-cell chain + the q100 md5-priority window
        s"""WITH $kmeansCtes,
           s AS (SELECT vec_id, cell,
             row_number() OVER (PARTITION BY cell ORDER BY
               md5(CAST(vec_id AS VARCHAR)), vec_id) AS sample_rank
             FROM a2)
           SELECT vec_id, cell, sample_rank FROM s
           WHERE sample_rank <= 10 ORDER BY cell, sample_rank"""),
    // Embedding-space outlier detection: each vector's best-centroid
    // similarity (the exact assignment metric, kept at zero extra
    // passes) winsorized per cell at [p10, max] — low-sim tails are
    // out-of-distribution/noise candidates, the far-from-every-cluster
    // complement of SemDeDup's too-close test (q76).
    Query("q126_embedding_outliers", (s, dir) => {
      val e = graft.Tables(s, dir, "embeddings")
      graft.operators.Robust.winsorize(
          SimilaritySearch.kmeansAssignmentsWithSim(
            e, "vec_id", "embedding", k = 8, iters = 2),
          "cell", "sim", loNum = 1, loDen = 10, hiNum = 1, hiDen = 1)
        .select(col("vec_id"), col("cell"), col("sim"), col("lo"),
          col("hi"), col("clipped"), col("is_outlier"))
        .orderBy("vec_id")
    },
        // best-centroid sim against the TRAINED c1 centroids + the
        // q115 exact rank-ceil winsorize twin at [p10, max]
        s"""WITH $kmeansCtes,
           sims AS (
             SELECT a2.vec_id, a2.cell,
               ${graft.queries.VectorQueries.cossq("a2.q", "c1.centroid")} AS sim
             FROM a2 JOIN c1 ON a2.cell = c1.cell),
           h AS (SELECT cell, sim, count(*) AS cnt FROM sims GROUP BY 1, 2),
           r AS (SELECT cell, sim, cnt,
               sum(cnt) OVER (PARTITION BY cell ORDER BY sim
                 ROWS UNBOUNDED PRECEDING) AS cum,
               sum(cnt) OVER (PARTITION BY cell) AS n
             FROM h),
           b AS (SELECT cell,
               min(CASE WHEN cum >= (n * 1 + 9) // 10 THEN sim END) AS lo,
               min(CASE WHEN cum >= n THEN sim END) AS hi
             FROM r GROUP BY cell)
           SELECT s.vec_id, s.cell, s.sim, b.lo, b.hi,
             least(greatest(s.sim, b.lo), b.hi) AS clipped,
             s.sim < b.lo OR s.sim > b.hi AS is_outlier
           FROM sims s JOIN b ON s.cell = b.cell
           ORDER BY s.vec_id"""),
    // Trailing-window per-user features (Rolling.trailingAgg): rolling
    // 1d and 7d event count + value sum per user via RANGE frames over
    // exact epoch-micros. Both spans share ONE exchange + sort (single
    // Window operator); value pre-quantized to cents so frame sums are
    // exact integers in any engine.
    Query("q118_rolling_features", (s, dir) => {
      val ev = graft.Tables.eventsTsMicros(graft.Tables(s, dir, "events"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          floor(col("value") * 100).cast("long").as("cents"))
      Rolling.trailingAgg(ev, "user_id", "ts_us", "cents",
          Seq("1d" -> 86400000000L, "7d" -> 604800000000L))
        .orderBy("event_id")
    },
        // the same ANSI RANGE frames, shared WINDOW clause; DuckDB sums
        // BIGINT into HUGEINT, so cast back — values are exact integers
        // (cents) well under 2^63 either way
        """WITH ev AS (
             SELECT event_id, user_id, epoch_us(ts) AS ts_us,
               CAST(floor(value * 100) AS BIGINT) AS cents
             FROM events)
           SELECT event_id, user_id, ts_us, cents,
             CAST(count(*) OVER w1 AS BIGINT) AS n_1d,
             CAST(sum(cents) OVER w1 AS BIGINT) AS sum_1d,
             CAST(count(*) OVER w7 AS BIGINT) AS n_7d,
             CAST(sum(cents) OVER w7 AS BIGINT) AS sum_7d
           FROM ev
           WINDOW
             w1 AS (PARTITION BY user_id ORDER BY ts_us
               RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW),
             w7 AS (PARTITION BY user_id ORDER BY ts_us
               RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
           ORDER BY event_id"""),
    // Ordered conversion funnel (Funnel.funnel): earliest
    // signup → strictly-later click → strictly-later purchase per user;
    // per-step min-aggregation bounded by |users|, un-hinted joins so
    // AQE broadcasts the per-user frame only while it fits.
    Query("q119_funnel", (s, dir) => {
      val ev = graft.Tables.eventsTsMicros(graft.Tables(s, dir, "events"))
        .select(col("user_id"), col("ts_us"), col("event_type"))
      Funnel.funnel(ev, "user_id", "ts_us", "event_type",
          Seq("signup", "click", "purchase"))
        .select(col("user_id"), col("t1"), col("t2"), col("t3"),
          col("stage"))
        .orderBy("user_id")
    },
        // the naive sequential-min CTE chain — independent of the
        // engine's join/aggregation order by construction
        """WITH e AS (
             SELECT user_id, epoch_us(ts) AS ts_us, event_type
             FROM events),
           s1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
                  WHERE event_type = 'signup' GROUP BY 1),
           s2 AS (SELECT e.user_id, min(e.ts_us) AS t2 FROM e
                  JOIN s1 ON e.user_id = s1.user_id
                  WHERE e.event_type = 'click' AND e.ts_us > s1.t1
                  GROUP BY 1),
           s3 AS (SELECT e.user_id, min(e.ts_us) AS t3 FROM e
                  JOIN s2 ON e.user_id = s2.user_id
                  WHERE e.event_type = 'purchase' AND e.ts_us > s2.t2
                  GROUP BY 1)
           SELECT s1.user_id, s1.t1, s2.t2, s3.t3,
             CAST(1 + (CASE WHEN s2.t2 IS NOT NULL THEN 1 ELSE 0 END)
                    + (CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS stage
           FROM s1
           LEFT JOIN s2 ON s1.user_id = s2.user_id
           LEFT JOIN s3 ON s1.user_id = s3.user_id
           ORDER BY s1.user_id"""),
    // First-order Markov transition counts over per-user event
    // sequences (lead window over ONE user-keyed exchange, ties broken
    // on event_id) — the sequence-modeling prep pass; transition
    // probability as exact integer ppm (1e6·n div row-total).
    Query("q120_event_transitions", (s, dir) => {
      val ev = graft.Tables.eventsTsMicros(graft.Tables(s, dir, "events"))
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      val trans = ev
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .where(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
      // the transition frame is bounded by |types|² — window is trivial
      trans
        .withColumn("p_ppm",
          expr("(1000000 * n) div sum(n) OVER (PARTITION BY event_type)"))
        .orderBy("event_type", "next_type")
    },
        """WITH ev AS (
             SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
             FROM events),
           nx AS (
             SELECT event_type,
               lead(event_type, 1) OVER (PARTITION BY user_id
                 ORDER BY ts_us, event_id) AS next_type
             FROM ev),
           tr AS (
             SELECT event_type, next_type, count(*) AS n
             FROM nx WHERE next_type IS NOT NULL GROUP BY 1, 2)
           SELECT event_type, next_type, n,
             (1000000 * n) // CAST(sum(n) OVER (PARTITION BY event_type)
               AS BIGINT) AS p_ppm
           FROM tr ORDER BY event_type, next_type"""),
    // Retention cohort analysis: cohort = each user's first epoch week,
    // activity = distinct (user, week); cells = users active at each
    // cohort age. Two user-keyed aggs + one equi-join, output bounded
    // by weeks² — the product-analytics rollup every event store runs.
    Query("q130_retention_cohorts", (s, dir) => {
      val ev = graft.Tables.eventsTsMicros(graft.Tables(s, dir, "events"))
        .select(col("user_id"), expr("ts_us div 604800000000").as("wk"))
      val first = ev.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
      ev.distinct()
        .join(first, Seq("user_id"))
        .groupBy(col("cohort_wk"),
          (col("wk") - col("cohort_wk")).as("age_wk"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_wk", "age_wk")
    },
        """WITH ev AS (
             SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk
             FROM events),
           f AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY 1)
           SELECT f.cohort_wk, ev.wk - f.cohort_wk AS age_wk,
             CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_users
           FROM ev JOIN f ON ev.user_id = f.user_id
           GROUP BY 1, 2 ORDER BY 1, 2"""),
    // U-shaped multi-touch attribution (the standard position-based
    // marketing model): each purchase credits the touch events in its
    // trailing 7-day window — 40% first touch, 40% last, 20% split
    // over the middles — in EXACT mills that sum to 1000 per credited
    // conversion (integer floor share + remainder to the EARLIEST
    // middles; n=1 → 1000, n=2 → 500/500). One user-keyed equi-join
    // with a range predicate (per-user frames), then conv-keyed
    // windows; every credit branch is data-exercised at every SF.
    Query("q144_attribution_umodel", (s, dir) => {
      attributionFrame(s, dir)
        .withColumn("credit_mills", uModelMills)
        .groupBy("channel")
        .agg(sum(col("credit_mills")).as("total_mills"),
          count(lit(1)).as("n_touches"),
          countDistinct(col("conv_id")).as("n_conversions"))
        .orderBy("channel")
    },
        // shared attrCtes frame + shared uModelSql credit — one
        // definition of the join/range predicate, tie-break and the
        // floor-share/earliest-middles remainder for both models
        s"""WITH $attrCtes,
           c AS (
             SELECT channel, conv_id, $uModelSql AS credit
             FROM r)
           SELECT channel, CAST(sum(credit) AS BIGINT) AS total_mills,
             CAST(count(*) AS BIGINT) AS n_touches,
             CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions
           FROM c GROUP BY 1 ORDER BY 1"""),
    // Attribution model comparison — the report marketers actually
    // run: first-touch, last-touch, linear and U-shaped credits per
    // channel SIDE BY SIDE over the SAME q144 conversion⋈touch frame
    // (one join, one pair of windows, four credit projections — no
    // re-scan per model). Every model's credits sum to exactly 1000
    // mills per credited conversion: first/last put 1000 on rn=1/rn=n,
    // linear floors 1000/n with the remainder to the EARLIEST touches,
    // U is q144's split.
    Query("q149_attribution_models", (s, dir) => {
      attributionFrame(s, dir)
        .withColumn("first_mills",
          when(col("rn") === 1L, 1000L).otherwise(0L))
        .withColumn("last_mills",
          when(col("rn") === col("n"), 1000L).otherwise(0L))
        .withColumn("linear_mills", expr(
          """1000L div n +
             CASE WHEN rn <= 1000L % n THEN 1L ELSE 0L END"""))
        .withColumn("u_mills", uModelMills)
        .groupBy("channel")
        .agg(sum(col("first_mills")).as("first_mills"),
          sum(col("last_mills")).as("last_mills"),
          sum(col("linear_mills")).as("linear_mills"),
          sum(col("u_mills")).as("u_mills"))
        .orderBy("channel")
    },
        // same frame (shared attrCtes), four credit projections
        s"""WITH $attrCtes,
           c AS (
             SELECT channel,
               CASE WHEN rn = 1 THEN 1000 ELSE 0 END AS first_m,
               CASE WHEN rn = n THEN 1000 ELSE 0 END AS last_m,
               1000 // n + (CASE WHEN rn <= 1000 % n THEN 1 ELSE 0 END)
                 AS linear_m,
               $uModelSql AS u_m
             FROM r)
           SELECT channel,
             CAST(sum(first_m) AS BIGINT) AS first_mills,
             CAST(sum(last_m) AS BIGINT) AS last_mills,
             CAST(sum(linear_m) AS BIGINT) AS linear_mills,
             CAST(sum(u_m) AS BIGINT) AS u_mills
           FROM c GROUP BY 1 ORDER BY 1"""),
    // DAU / WAU / stickiness per day. Sliding DISTINCT does not
    // decompose over a window, so WAU is computed exactly by the
    // bounded ×7 explode: each distinct (user, day) activity row
    // contributes membership to days day..day+6 (clipped at the
    // 1-row broadcast max), then one distinct + one day-keyed count.
    // Work = 7 × |distinct (user, day)|, never |events| × window;
    // stickiness = DAU/WAU in exact mills.
    Query("q139_dau_wau", (s, dir) => {
      val ud = graft.Tables.eventsTsMicros(graft.Tables(s, dir, "events"))
        .select(col("user_id"), expr("ts_us div 86400000000").as("day"))
        .distinct()
      val mx = ud.agg(max(col("day")).as("mx"))
      val wau = ud
        .select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("d"))
        .crossJoin(broadcast(mx)).where(col("d") <= col("mx"))
        .select("user_id", "d").distinct()
        .groupBy("d").agg(count(lit(1)).as("wau"))
      val dau = ud.groupBy(col("day").as("d"))
        .agg(count(lit(1)).as("dau"))
      wau.join(dau, Seq("d"), "left")
        .withColumn("dau", coalesce(col("dau"), lit(0L)))
        .withColumn("stickiness_mills", expr("(1000 * dau) div wau"))
        .select("d", "dau", "wau", "stickiness_mills")
        .orderBy("d")
    },
        // identical bounded ×7 membership explode, clipped at max(day)
        """WITH ud AS (
             SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
             FROM events),
           mx AS (SELECT max(day) AS mx FROM ud),
           m AS (
             SELECT DISTINCT user_id, day + x AS d
             FROM ud CROSS JOIN (SELECT unnest(range(7)) AS x) s
               CROSS JOIN mx
             WHERE day + x <= mx.mx),
           wau AS (SELECT d, CAST(count(*) AS BIGINT) AS wau FROM m
                   GROUP BY 1),
           dau AS (SELECT day AS d, CAST(count(*) AS BIGINT) AS dau
                   FROM ud GROUP BY 1)
           SELECT wau.d, coalesce(dau.dau, 0) AS dau, wau.wau,
             (1000 * coalesce(dau.dau, 0)) // wau.wau AS stickiness_mills
           FROM wau LEFT JOIN dau USING (d) ORDER BY wau.d"""),
    // Trailing z-score anomaly flags on the daily count series per
    // event type (Rolling.trailingZFlags): |x − μ| > 2σ against the
    // trailing-7-day baseline, evaluated as the squared INTEGER
    // inequality (m·x − s)²·10⁶ > z²·(m·q − s²) in DECIMAL(38,0) —
    // no floats, so the flag is bit-identical across engines. The
    // frame excludes the current day (a spike never dilutes its own
    // baseline); < 4 baseline days → never flagged. One daily hash
    // agg (day-bounded frame), then one type-keyed window.
    Query("q138_daily_anomaly", (s, dir) => {
      val daily = graft.Tables.eventsTsMicros(graft.Tables(s, dir, "events"))
        .groupBy(col("event_type"),
          expr("ts_us div 86400000000").as("day"))
        .agg(count(lit(1)).as("n_events"))
      graft.operators.Rolling.trailingZFlags(daily, "event_type", "day",
          "n_events", lookback = AnomLookbackDays, minPoints = AnomMinDays,
          zMills = AnomZMills)
        .orderBy("event_type", "day")
    },
        // identical squared-integer inequality over the same trailing
        // RANGE frame; HUGEINT is the twin of Spark's DECIMAL(38,0)
        s"""WITH d AS (
             SELECT event_type, epoch_us(ts) // 86400000000 AS day,
               CAST(count(*) AS BIGINT) AS n_events
             FROM events GROUP BY 1, 2),
           w AS (
             SELECT event_type, day, n_events,
               CAST(count(n_events) OVER win AS BIGINT) AS win_n,
               CAST(coalesce(sum(n_events) OVER win, 0) AS BIGINT)
                 AS win_sum,
               coalesce(sum(CAST(n_events AS HUGEINT) * n_events)
                 OVER win, 0) AS q
             FROM d WINDOW win AS (PARTITION BY event_type ORDER BY day
               RANGE BETWEEN $AnomLookbackDays PRECEDING
                 AND 1 PRECEDING))
           SELECT event_type, day, n_events, win_n, win_sum,
             (win_n >= $AnomMinDays AND
              CAST(win_n * n_events - win_sum AS HUGEINT)
                * CAST(win_n * n_events - win_sum AS HUGEINT) * 1000000
              > CAST($AnomZMills AS HUGEINT) * $AnomZMills
                * (CAST(win_n AS HUGEINT) * q
                   - CAST(win_sum AS HUGEINT) * win_sum)) AS anomalous
           FROM w ORDER BY event_type, day"""),
    // Session path mining: gap-sessionize (q23's 1800 s rule on exact
    // micros), rebuild each session's first-8 event-type path with the
    // q89 ordered-rebuild pattern, count sessions per path, keep the
    // top 50 by a rank predicate (the q52 LIMIT-free cut). The global
    // rank window runs over the BOUNDED distinct-path frame, never the
    // event stream.
    Query("q128_session_paths", (s, dir) => {
      val ev = graft.Tables.eventsTsMicros(graft.Tables(s, dir, "events"))
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      val sess = ev
        .withColumn("__prev", lag(col("ts_us"), 1).over(w))
        .withColumn("__new", (col("__prev").isNull ||
          col("ts_us") - col("__prev") > SessionPathGapUs).cast("long"))
        .withColumn("__sess", sum(col("__new")).over(w))
      val wr = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "__sess")
        .orderBy(col("ts_us"), col("event_id"))
      val paths = sess
        .withColumn("__rn", row_number().over(wr))
        .where(col("__rn") <= SessionPathMaxLen)
        .groupBy(col("user_id"), col("__sess"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("ts_us"), col("event_id"),
            col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      val counts = paths.groupBy("path")
        .agg(count(lit(1)).as("n_sessions"))
      val wt = org.apache.spark.sql.expressions.Window
        .orderBy(col("n_sessions").desc, col("path"))
      counts.withColumn("rank", row_number().over(wt).cast("long"))
        .where(col("rank") <= 50)
        .select("rank", "path", "n_sessions")
        .orderBy("rank")
    },
        s"""WITH ev AS (
             SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
             FROM events),
           g AS (
             SELECT *, CASE WHEN prev IS NULL
                 OR ts_us - prev > $SessionPathGapUs THEN 1 ELSE 0 END AS nw
             FROM (SELECT *, lag(ts_us) OVER (PARTITION BY user_id
               ORDER BY ts_us, event_id) AS prev FROM ev)),
           sg AS (
             SELECT *, sum(nw) OVER (PARTITION BY user_id
               ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS sess
             FROM g),
           sr AS (
             SELECT *, row_number() OVER (PARTITION BY user_id, sess
               ORDER BY ts_us, event_id) AS rn FROM sg),
           p AS (
             SELECT user_id, sess,
               string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path
             FROM sr WHERE rn <= $SessionPathMaxLen GROUP BY 1, 2),
           c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
                 FROM p GROUP BY 1),
           r AS (SELECT *, row_number() OVER (ORDER BY n_sessions DESC,
                   path) AS rank FROM c)
           SELECT rank, path, n_sessions FROM r WHERE rank <= 50
           ORDER BY rank"""),
    // Registered similarity functions callable from SQL text.
    Query("q46_sql_similarity", (s, dir) => {
      // isolated clone, q45's rationale — view AND function
      // registration both live in the session catalog
      val s2 = graft.streaming.Incremental.isolatedClone(s)
      graft.plans.GraftExtensions.registerInto(s2)
      graft.Tables(s2, dir, "part").createOrReplaceTempView("part_v")
      s2.sql(
        """SELECT p_partkey, p_name,
          |  token_set_ratio(p_name, 'small ring') AS tsr,
          |  partial_ratio(p_name, 'ring') AS pr,
          |  indel_ratio(p_name, 'small ring') AS ir
          |FROM part_v WHERE p_partkey < 100 ORDER BY p_partkey""".stripMargin)
    },
        // token_set_ratio('small ring') sorted token set is constant:
        // ['ring','small']; inter/diff filters replicate tokenSetRatio's
        // sorted-order combination strings s0/s1/s2.
        s"""WITH base AS (
             SELECT p_partkey, p_name, ${sqlPrep("p_name")} AS pn
             FROM part WHERE p_partkey < 100),
           tok AS (SELECT *, list_sort(list_distinct(string_split(pn, ' '))) AS ta
                   FROM base),
           sets AS (SELECT *,
              list_filter(ta, tt -> list_contains(['ring','small'], tt)) AS inter,
              list_filter(ta, tt -> NOT list_contains(['ring','small'], tt)) AS da,
              list_filter(['ring','small'], tt -> NOT list_contains(ta, tt)) AS db
            FROM tok),
           strs AS (SELECT *,
              array_to_string(inter, ' ') AS s0,
              array_to_string(list_concat(inter, da), ' ') AS s1,
              array_to_string(list_concat(inter, db), ' ') AS s2
            FROM sets)
           SELECT p_partkey, p_name,
             CASE WHEN pn = '' THEN 0.0
                  WHEN len(da) = 0 AND len(db) = 0 THEN 100.0
                  WHEN len(inter) > 0 THEN greatest(${sqlRatio("s0", "s1")},
                    ${sqlRatio("s0", "s2")}, ${sqlRatio("s1", "s2")})
                  ELSE ${sqlRatio("s1", "s2")} END AS tsr,
             ${sqlPartial("pn", "'ring'")} AS pr,
             ${sqlRatio("pn", "'small ring'")} AS ir
           FROM strs ORDER BY p_partkey"""))

  /** Every query, joined once; a name that appears twice fails here. */
  private val registry: Map[String, Query] = Query.registry(
    RelationalQueries.queries, TextQueries.queries, VectorQueries.queries,
    pipelineQueries)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) => name -> q.plan }

  def oracleSql: Map[String, String] =
    registry.map { case (name, q) => name -> q.oracle }

  // ---- DuckDB twins of the Similarity kernels (q46's oracle) ----
  // The indel DP runs as nested list_reduce lambdas; DuckDB 1.0 has no
  // reduce-with-initial-value, so the initial accumulator rides as the
  // list's first element (same element type: list<int>, chars encoded
  // as [ascii, index] pairs). Distance/ratio semantics mirror
  // Similarity.indelDistance/ratio/partialRatio/tokenSetRatio exactly,
  // including the IEEE op order of the final ratio, so doubles match
  // bit-for-bit.
  // [^\p{L}\p{Nd}] mirrors Character.isLetterOrDigit (isDigit = Nd
  // only), so non-ASCII names ('café') tokenize identically; the DP's
  // ascii() yields code points = Java chars for all of the BMP.
  private def sqlPrep(e: String): String =
    s"trim(regexp_replace(regexp_replace(lower($e), '[^\\p{L}\\p{Nd}]', ' ', 'g'), ' +', ' ', 'g'))"
  private def sqlChars(s: String): String =
    s"list_filter(string_split_regex($s,''), dpc -> dpc <> '')"
  private def sqlZ(s: String): String =
    s"list_transform(list_zip(${sqlChars(s)}, range(1, len(${sqlChars(s)})+1)), dpp -> [ascii(dpp[1]), dpp[2]])"
  private def sqlIndel(sa: String, sb: String): String =
    s"""list_reduce(
      list_concat([range(0, len($sb)+1)], ${sqlZ(sa)}),
      (dpP, dpx) -> list_reduce(
         list_concat([[dpx[2]]], ${sqlZ(sb)}),
         (dpN, dpy) -> list_append(dpN,
            CASE WHEN dpy[1] = dpx[1] THEN dpP[dpy[2]]
                 ELSE 1 + least(dpP[dpy[2]+1], dpN[len(dpN)]) END)))[len($sb)+1]"""
  private def sqlRatio(sa: String, sb: String): String =
    s"""CASE WHEN len($sa) + len($sb) = 0 THEN 100.0
       ELSE 100.0 * (1.0 - CAST(${sqlIndel(sa, sb)} AS DOUBLE) / (len($sa) + len($sb))) END"""
  private def sqlPartial(sa: String, sb: String): String = {
    def wins(s: String, t: String) =
      s"""CASE WHEN len($s) = 0 THEN (CASE WHEN len($t) = 0 THEN 100.0 ELSE 0.0 END)
        ELSE list_max(list_transform(range(0, len($t) - len($s) + 1),
               wi -> ${sqlRatio(s, s"substr($t, wi + 1, len($s))")})) END"""
    s"CASE WHEN len($sa) <= len($sb) THEN (${wins(sa, sb)}) ELSE (${wins(sb, sa)}) END"
  }

  /** Upper-bound state keyspace estimates for the streaming gates'
    * drain clones, fed to `Incremental.statePartitions` (the testdata
    * events span days, not years): q44's state key is (hour window ×
    * event type) — ≤ a few hundred at any fixture sf; q71's is the
    * user id — ≤ a few thousand. A deployment points the same helper
    * at its real cardinality estimate instead. */
  private val Q44WindowKeyspace = 1024L
  private val Q71UserKeyspace = 16384L

  /** Drain a streaming DataFrame into a memory sink with AvailableNow
    * on a throwaway checkpoint and return the sink table (the shared
    * q44/q71 real-engine harness). The checkpoint is single-use scratch
    * — reclaimed after the drain (walk streams hold directory handles
    * open until closed). */
  private def drainAvailableNow(s2: SparkSession,
      out: DataFrame, qname: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val cp = java.nio.file.Files.createTempDirectory("graft-drain-cp").toString
    try {
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName(qname)
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(
        java.nio.file.Files.walk(java.nio.file.Paths.get(cp))) { walk =>
        walk.iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
    s2.table(qname)
  }

  /** Deterministic digest of the alternatives array — structs of doubles
    * neither sort nor hash portably in the driver's compare, so the
    * resolve queries project name#ext_id#score-mills rows joined by '|'
    * (order, membership and floor-scaled scores all hash-checked). */
  private def altDigest(alts: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array_join(transform(alts, x => concat_ws("#",
      x.getField("name"), x.getField("ext_id"),
      floor(x.getField("score") * 100).cast("long").cast("string"))), "|")

  /** The complete DuckDB twin of `EntityResolution.resolve` — exact
    * broadcast phase, fuzzy token_set_ratio top-10 with the reference's
    * penalties, raw-best cross-check, three-band routing, review-band
    * alternatives — over `items(item_id, item_name)` vs the q40 dict
    * (parts with even keys). `blocked` adds the token-blocking candidate
    * constraint (a shared length>1 token). */
  private def resolveOracleSql(itemsSql: String, blocked: Boolean): String = {
    def tokset(p: String) =
      s"CASE WHEN $p = '' THEN [] ELSE list_sort(list_distinct(string_split($p, ' '))) END"
    def blockToks(x: String) =
      s"list_distinct(string_split_regex(lower(trim($x)), '[^a-z0-9]+'))"
    // char-3-gram blocking keys — mirrors EntityResolution.charGrams:
    // strip non-alphanumerics, window into 3-grams, whole string if < 3.
    def strip(x: String) = s"regexp_replace(lower(trim($x)), '[^a-z0-9]+', '', 'g')"
    def blockGrams(x: String) = {
      val s = strip(x)
      s"""CASE WHEN len($s) >= 3
           THEN list_transform(range(0, len($s) - 2), gi -> substr($s, gi + 1, 3))
           WHEN len($s) > 0 THEN [$s] ELSE [] END"""
    }
    // token-blocking predicate between a name expression and a title
    // expression — shared in the pair filter and the rescue-set probe.
    def shareTok(n: String, t: String) =
      s"""len(list_filter(${blockToks(n)},
         bt -> len(bt) > 1 AND list_contains(${blockToks(t)}, bt))) > 0"""
    // the raw token_set_ratio scoring chain over a pair CTE — the
    // blocked path needs it twice (token phase for the rescue gate,
    // then the final union), so it is factored with a CTE-name prefix.
    def rawChain(src: String, pfx: String) =
      s"""${pfx}prepped AS (SELECT *, ${sqlPrep("item_name")} AS pa,
           ${sqlPrep("cand_title")} AS pb FROM $src),
       ${pfx}toksets AS (SELECT *, ${tokset("pa")} AS ta, ${tokset("pb")} AS tb
         FROM ${pfx}prepped),
       ${pfx}tparts AS (SELECT *,
           list_filter(ta, tt -> list_contains(tb, tt)) AS inter,
           list_filter(ta, tt -> NOT list_contains(tb, tt)) AS da,
           list_filter(tb, tt -> NOT list_contains(ta, tt)) AS db
         FROM ${pfx}toksets),
       ${pfx}strs AS (SELECT *,
           array_to_string(inter, ' ') AS s0,
           array_to_string(list_concat(inter, da), ' ') AS s1,
           array_to_string(list_concat(inter, db), ' ') AS s2
         FROM ${pfx}tparts),
       ${pfx}raw AS (SELECT item_name, cand_title, cand_ext_id, pa, pb,
           CASE WHEN len(ta) = 0 AND len(tb) = 0 THEN 100.0
                WHEN len(ta) = 0 OR len(tb) = 0 THEN 0.0
                WHEN len(da) = 0 AND len(db) = 0 THEN 100.0
                WHEN len(inter) > 0 THEN greatest(${sqlRatio("s0", "s1")},
                  ${sqlRatio("s0", "s2")}, ${sqlRatio("s1", "s2")})
                ELSE ${sqlRatio("s1", "s2")} END AS raw_score
         FROM ${pfx}strs)"""
    // mirrors EntityResolution.fuzzyCandidates: token pairs raw-scored
    // first; the char-3-gram family then runs ONLY for names whose best
    // token-blocked candidate falls below the accept floor (subsumes
    // names with zero token candidates); union deduped.
    val candsSql =
      if (!blocked)
        s"""cands AS (
         SELECT n.item_name, d.title AS cand_title, d.ext_id AS cand_ext_id
         FROM names n CROSS JOIN dict d)"""
      else
        s"""tokp AS (
         SELECT n.item_name, d.title AS cand_title, d.ext_id AS cand_ext_id
         FROM names n CROSS JOIN dict d
         WHERE ${shareTok("n.item_name", "d.title")}),
       ${rawChain("tokp", "tk")},
       strong AS (SELECT DISTINCT item_name FROM tkraw
         WHERE raw_score >= ${graft.functions.Normalize.AutoResolve}),
       rescue AS (SELECT item_name FROM names
         EXCEPT SELECT item_name FROM strong),
       gramp AS (
         SELECT n.item_name, d.title AS cand_title, d.ext_id AS cand_ext_id
         FROM rescue n CROSS JOIN dict d
         WHERE len(list_filter(${blockGrams("n.item_name")},
           gg -> list_contains(${blockGrams("d.title")}, gg))) > 0),
       cands AS (SELECT DISTINCT * FROM
         (SELECT * FROM tokp UNION ALL SELECT * FROM gramp) u)"""
    // every tunable interpolates from the OPERATOR's constants (the
    // resolveDict rule: the oracle can never drift from the engine)
    import graft.operators.EntityResolution.{DefaultDietaryTerms,
      SpecialCharClass, LenPenaltyWeight, WordPenaltyWeight,
      WordPenaltyCap, DietPenalty, SpecialPenalty, DigitPenalty}
    def dietHit(x: String) =
      DefaultDietaryTerms.map(t => s"lower($x) LIKE '%$t%'")
        .mkString("(", " OR ", ")")
    def specials(x: String) =
      s"(length($x) - length(regexp_replace($x, " +
        s"'${SpecialCharClass.replace("$", "\\$")}', '', 'g')))"
    // empty-dropping, the twin of applyPenalties' wordsOf (Python
    // .split() semantics — no phantom "" on tab/newline-edged names)
    def words(x: String) =
      s"len(list_filter(string_split_regex(trim($x), '\\s+'), w -> w <> ''))"
    s"""WITH items AS ($itemsSql),
       dict AS (
         SELECT p_name AS title, 'EXT-' || CAST(min(p_partkey) AS VARCHAR) AS ext_id
         FROM part WHERE p_partkey % 2 = 0 GROUP BY p_name),
       exact_dict AS (
         -- whitespace-trimmed key, the twin of exactMatch's
         -- Normalize.WsTrimRe regex (trim() strips spaces only)
         SELECT lower(regexp_replace(title,
           '${graft.functions.Normalize.WsTrimRe}', '', 'g')) AS k,
           min(ext_id) AS exact_ext_id
         FROM dict GROUP BY 1),
       exact AS (
         SELECT i.item_id, i.item_name, e.exact_ext_id
         FROM items i LEFT JOIN exact_dict e
           ON lower(regexp_replace(i.item_name,
             '${graft.functions.Normalize.WsTrimRe}', '', 'g')) = e.k),
       hits AS (
         SELECT item_id, item_name, exact_ext_id AS ext_id, 100.0 AS score,
           'resolved' AS decision, CAST(NULL AS VARCHAR) AS alt_digest
         FROM exact WHERE exact_ext_id IS NOT NULL),
       misses AS (SELECT item_id, item_name FROM exact WHERE exact_ext_id IS NULL),
       names AS (SELECT DISTINCT item_name FROM misses),
       $candsSql,
       ${rawChain("cands", "")},
       ranked AS (SELECT *, row_number() OVER (PARTITION BY item_name
           ORDER BY raw_score DESC, cand_ext_id, cand_title) AS raw_rn FROM raw),
       pen AS (SELECT *, greatest(raw_score
           - abs(length(item_name) - length(cand_title)) * $LenPenaltyWeight
             / greatest(length(item_name), length(cand_title), 1)
           - least(abs(${words("item_name")} - ${words("cand_title")})
               * $WordPenaltyWeight, $WordPenaltyCap)
           - CASE WHEN ${dietHit("item_name")} <> ${dietHit("cand_title")}
               THEN $DietPenalty ELSE 0 END
           - CASE WHEN ${specials("item_name")} <> ${specials("cand_title")}
               THEN $SpecialPenalty ELSE 0 END
           - CASE WHEN regexp_matches(item_name, '[0-9]')
                    <> regexp_matches(cand_title, '[0-9]')
               THEN $DigitPenalty ELSE 0 END,
           0.0) AS adj
         FROM ranked WHERE raw_rn <= 10),
       crossed AS (SELECT *, CASE WHEN raw_rn = 1 AND greatest(
             abs(raw_score - ${sqlRatio("pa", "pb")}),
             abs(raw_score - ${sqlPartial("pa", "pb")})) > 20
           THEN 15.0 ELSE 0.0 END AS cross_penalty FROM pen),
       adjusted AS (SELECT *, greatest(adj - cross_penalty, 0.0) AS score
         FROM crossed),
       best AS (SELECT *, row_number() OVER (PARTITION BY item_name
           ORDER BY score DESC, raw_rn) AS best_rn FROM adjusted),
       bn AS (SELECT *, max(CASE WHEN best_rn = 1 THEN cand_title END)
           OVER (PARTITION BY item_name) AS best_name FROM best),
       altrows AS (SELECT *, row_number() OVER (PARTITION BY item_name
           ORDER BY raw_rn) AS alt_rn
         FROM bn WHERE cand_title <> best_name
           AND score >= ${graft.functions.Normalize.AutoReject}),
       alts AS (SELECT item_name, array_to_string(list(
             cand_title || '#' || cand_ext_id || '#'
               || CAST(CAST(floor(score * 100) AS BIGINT) AS VARCHAR)
             ORDER BY raw_rn), '|') AS alt_digest
         FROM altrows WHERE alt_rn <= 3 GROUP BY item_name),
       bestrow AS (SELECT item_name, cand_ext_id, score,
           CASE WHEN score >= ${graft.functions.Normalize.AutoResolve}
                  THEN 'resolved'
                WHEN score >= ${graft.functions.Normalize.AutoReject}
                  THEN 'review'
                ELSE 'rejected' END AS decision
         FROM bn WHERE best_rn = 1),
       pername AS (SELECT b.item_name,
           CASE WHEN b.decision <> 'rejected' THEN b.cand_ext_id END AS ext_id,
           b.score, b.decision,
           CASE WHEN b.decision = 'review' THEN a.alt_digest END AS alt_digest
         FROM bestrow b LEFT JOIN alts a USING (item_name)),
       fuzzy AS (SELECT m.item_id, m.item_name, p.ext_id,
           coalesce(p.score, 0.0) AS score,
           coalesce(p.decision, 'rejected') AS decision, p.alt_digest
         FROM misses m LEFT JOIN pername p USING (item_name))
       SELECT * FROM hits UNION ALL SELECT * FROM fuzzy ORDER BY item_id"""
  }

  /** q76's drop threshold on the engine-wide quantized-cosine scale
    * (sign(cos)·cos²·10⁶). Production SemDeDup uses cos ≥ 0.9 (810000
    * on this scale) on real embeddings; the synthetic fixture's
    * vectors are near-uniform (within-cell pair cosine tops out at
    * ~0.49), so the GATE runs at 150000 (cos ≈ 0.39) — above the 90th
    * percentile of within-cell pairs, below the max — so both the
    * drop and keep outcomes are oracle-exercised at every SF. Shared
    * with the oracle SQL. */
  private[graft] val SemDedupThreshold = 150000L

  /** DuckDB twin of the q58 2-round Lloyd chain (seed by k-smallest
    * md5, assign by quantized cosine argmax, integer centroid means) —
    * ends at `a2` = (vec_id, q, cell). Shared by q58 and q76: the two
    * oracles must never drift apart on the quantizer. */
  private def kmeansCtes: String = {
    val quant = graft.queries.VectorQueries.quant
    def cossq(a: String, b: String) = graft.queries.VectorQueries.cossq(a, b)
    def assign(name: String, cents: String) =
      s"""$name AS (
         SELECT * FROM (
           SELECT e.vec_id, e.q, $cents.cell,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               ${cossq("e.q", s"$cents.centroid")} DESC, $cents.cell) AS r
           FROM e CROSS JOIN $cents) WHERE r = 1)"""
    s"""e AS (SELECT vec_id, $quant AS q FROM embeddings),
       c0 AS (SELECT vec_id AS cell, q AS centroid FROM e
              ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 8),
       ${assign("a1", "c0")},
       c1 AS (
         SELECT cell, list(m ORDER BY d) AS centroid FROM (
           SELECT a1.cell, dd.range AS d,
             CAST(floor(sum(a1.q[CAST(dd.range + 1 AS INT)]) / count(*)) AS BIGINT) AS m
           FROM a1, range(0, 64) dd GROUP BY a1.cell, dd.range)
         GROUP BY cell),
       ${assign("a2", "c1")}"""
  }

  /** DuckDB twin of the q111 PQ chain: md5 seeds → per-subspace Lloyd
    * (integer L2 argmin, ties to lowest code, floor means) → encode →
    * per-query ADC tables → top-k. Every step mirrors
    * `SimilaritySearch.pqTopK` exactly; sub-distances go through the
    * shared `dotq` twin. */
  private def pqCtes: String = {
    val quant = graft.queries.VectorQueries.quant
    def dotq(a: String, b: String) = graft.queries.VectorQueries.dotq(a, b)
    def l2(a: String, b: String) =
      s"(${dotq(a, a)} + ${dotq(b, b)} - 2 * ${dotq(a, b)})"
    val (m, ksub, sd) = (4, 8, 16)
    def subSlice(v: String, sub: String) =
      s"$v[CAST($sub * $sd + 1 AS INT):CAST($sub * $sd + $sd AS INT)]"
    def assign(name: String, book: String) =
      s"""$name AS (SELECT * FROM (
           SELECT sv.vec_id, sv.sub, sv.v, $book.code,
             row_number() OVER (PARTITION BY sv.vec_id, sv.sub
               ORDER BY ${l2("sv.v", s"$book.cent")}, $book.code) AS r
           FROM sv JOIN $book ON sv.sub = $book.sub) WHERE r = 1)"""
    s"""e AS (SELECT vec_id, $quant AS q FROM embeddings),
       seeds AS (
         SELECT vec_id, q, row_number() OVER (ORDER BY vec_id) - 1 AS code
         FROM (SELECT vec_id, q FROM e
               ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT $ksub)),
       b0 AS (
         SELECT s.range AS sub, seeds.code,
           ${subSlice("seeds.q", "s.range")} AS cent
         FROM seeds, range(0, $m) s),
       sv AS (
         SELECT e.vec_id, s.range AS sub, ${subSlice("e.q", "s.range")} AS v
         FROM e, range(0, $m) s),
       ${assign("a1", "b0")},
       b1 AS (
         SELECT sub, code, list(mn ORDER BY d) AS cent FROM (
           SELECT a1.sub, a1.code, dd.range AS d,
             CAST(floor(sum(a1.v[CAST(dd.range + 1 AS INT)]) / count(*))
               AS BIGINT) AS mn
           FROM a1, range(0, $sd) dd GROUP BY a1.sub, a1.code, dd.range)
         GROUP BY sub, code),
       ${assign("a2", "b1")},
       qs AS (SELECT vec_id AS query_id, q FROM e WHERE vec_id % 100 = 0),
       lut AS (
         SELECT qs.query_id, b1.sub, b1.code,
           ${l2(subSlice("qs.q", "b1.sub"), "b1.cent")} AS d
         FROM qs CROSS JOIN b1),
       scored AS (
         SELECT l.query_id, a2.vec_id AS neighbor_id,
           CAST(sum(l.d) AS BIGINT) AS adc_l2
         FROM a2 JOIN lut l ON a2.sub = l.sub AND a2.code = l.code
         WHERE l.query_id <> a2.vec_id
         GROUP BY 1, 2),
       ranked AS (
         SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY adc_l2, neighbor_id) AS rank FROM scored)"""
  }

  /** DuckDB twin of the q114 IVFADC chain: the SHARED q58 coarse
    * kmeans chain (kmeansCtes — seed, assign, update, assign; the
    * coarse quantizer is TRAINED, unlike q52's seed-only cells),
    * per-cell residuals, then the q111-style PQ chain over RESIDUAL
    * subvectors with per-probe ADC tables. */
  private def ivfPqCtes: String = {
    val quant = graft.queries.VectorQueries.quant
    def dotq(a: String, b: String) = graft.queries.VectorQueries.dotq(a, b)
    def cossq(a: String, b: String) = graft.queries.VectorQueries.cossq(a, b)
    def l2(a: String, b: String) =
      s"(${dotq(a, a)} + ${dotq(b, b)} - 2 * ${dotq(a, b)})"
    val (nProbe, m, ksub, sd) = (2, 4, 8, 16)
    def subSlice(v: String, sub: String) =
      s"$v[CAST($sub * $sd + 1 AS INT):CAST($sub * $sd + $sd AS INT)]"
    def resid(v: String, cent: String) =
      s"[$v[CAST(i AS INT)] - $cent[CAST(i AS INT)] FOR i IN range(1, 65)]"
    def assign(name: String, book: String) =
      s"""$name AS (SELECT * FROM (
           SELECT sv.vec_id, sv.cell, sv.sub, sv.v, $book.code,
             row_number() OVER (PARTITION BY sv.vec_id, sv.sub
               ORDER BY ${l2("sv.v", s"$book.cent")}, $book.code) AS r
           FROM sv JOIN $book ON sv.sub = $book.sub) WHERE r = 1)"""
    // kmeansCtes ends at a2 = (vec_id, q, cell) against the trained c1
    s"""$kmeansCtes,
       cres AS (
         SELECT a2.vec_id, a2.cell, ${resid("a2.q", "c1.centroid")} AS rv
         FROM a2 JOIN c1 ON a2.cell = c1.cell),
       seeds AS (
         SELECT vec_id, rv, row_number() OVER (ORDER BY vec_id) - 1 AS code
         FROM (SELECT cres.vec_id, cres.rv FROM cres
               ORDER BY md5(CAST(cres.vec_id AS VARCHAR)) LIMIT $ksub)),
       b0 AS (
         SELECT s.range AS sub, seeds.code,
           ${subSlice("seeds.rv", "s.range")} AS cent
         FROM seeds, range(0, $m) s),
       sv AS (
         SELECT cres.vec_id, cres.cell, s.range AS sub,
           ${subSlice("cres.rv", "s.range")} AS v
         FROM cres, range(0, $m) s),
       ${assign("pa1", "b0")},
       b1 AS (
         SELECT sub, code, list(mn ORDER BY d) AS cent FROM (
           SELECT pa1.sub, pa1.code, dd.range AS d,
             CAST(floor(sum(pa1.v[CAST(dd.range + 1 AS INT)]) / count(*))
               AS BIGINT) AS mn
           FROM pa1, range(0, $sd) dd GROUP BY pa1.sub, pa1.code, dd.range)
         GROUP BY sub, code),
       ${assign("pa2", "b1")},
       qasgn AS (SELECT * FROM (
         SELECT e.vec_id AS query_id, e.q AS qv, c1.cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY ${cossq("e.q", "c1.centroid")} DESC, c1.cell) AS r
         FROM e CROSS JOIN c1 WHERE e.vec_id % 100 = 0)
         WHERE r <= $nProbe),
       qres AS (
         SELECT qasgn.query_id, qasgn.cell,
           ${resid("qasgn.qv", "c1.centroid")} AS rq
         FROM qasgn JOIN c1 ON qasgn.cell = c1.cell),
       lut AS (
         SELECT qres.query_id, qres.cell, b1.sub, b1.code,
           ${l2(subSlice("qres.rq", "b1.sub"), "b1.cent")} AS d
         FROM qres CROSS JOIN b1),
       scored AS (
         SELECT l.query_id, pa2.vec_id AS neighbor_id,
           CAST(sum(l.d) AS BIGINT) AS adc_l2
         FROM pa2 JOIN lut l
           ON pa2.cell = l.cell AND pa2.sub = l.sub AND pa2.code = l.code
         WHERE l.query_id <> pa2.vec_id
         GROUP BY 1, 2),
       ranked AS (
         SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY adc_l2, neighbor_id) AS rank FROM scored)"""
  }

  /** q195 per-method recall@5 floors (mills), the semantic layer on
    * the hash gate: set at 50–62.5% of the values measured at the
    * gate tier (sf0.01: ivf 320→200 = 62.5%, ivfpq 200→120 = 60%,
    * lsh 120→60 = 50%, pq 80→40 = 50% — deterministic kernels, exact
    * every run; the fraction is deliberately not uniform, each floor
    * is a round number well inside its method's band), far above zero
    * so a gutted quantizer or ranking trips them, far below
    * measurement so honest kernel changes don't. Interpolated into BOTH the Spark query and the
    * DuckDB twin (the parity rule — one constant, two engines); the
    * floors' truth at the gate tier is itself gated, since the oracle
    * derives `meets_floor` from its own independently-computed
    * rankings. */
  val AnnRecallFloorMills: Map[String, Long] =
    Map("ivf" -> 200L, "ivfpq" -> 120L, "lsh" -> 60L, "pq" -> 40L)

  /** q195's DuckDB twin, COMPOSED from the five gated ANN chains (the
    * q37 ground truth and the q42/q52/q111/q114 approximate rankings)
    * as nested-CTE derived tables — zero duplication, so a constant
    * drifting between q195's Spark side and any gated ranking
    * hash-fails here rather than silently diverging. Hit counting is
    * an EXISTS semi-join, the same shape as the Spark side's
    * `left_semi`: every topK path today emits distinct neighbors per
    * query (row_number rank), but that is an invariant, not a schema
    * constraint — a future ranking that emitted a duplicate
    * (query_id, neighbor_id) pair must fail loudly on BOTH sides
    * instead of double-counting only in the oracle. */
  private lazy val annRecallOracle: String = {
    def pairs(name: String): String =
      s"(SELECT query_id, neighbor_id FROM (\n${registry(name).oracle}\n))"
    s"""WITH brute AS ${pairs("q37_knn_bruteforce")},
       aivf AS ${pairs("q52_ivf_ann")},
       aivfpq AS ${pairs("q114_ivfpq_ann")},
       alsh AS ${pairs("q42_lsh_ann")},
       apq AS ${pairs("q111_pq_ann")},
       nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM brute),
       m AS (
         SELECT 'ivf' AS method, (SELECT count(*) FROM brute b
           WHERE EXISTS (SELECT 1 FROM aivf a
             WHERE a.query_id = b.query_id
               AND a.neighbor_id = b.neighbor_id)) AS h
         UNION ALL SELECT 'ivfpq', (SELECT count(*) FROM brute b
           WHERE EXISTS (SELECT 1 FROM aivfpq a
             WHERE a.query_id = b.query_id
               AND a.neighbor_id = b.neighbor_id))
         UNION ALL SELECT 'lsh', (SELECT count(*) FROM brute b
           WHERE EXISTS (SELECT 1 FROM alsh a
             WHERE a.query_id = b.query_id
               AND a.neighbor_id = b.neighbor_id))
         UNION ALL SELECT 'pq', (SELECT count(*) FROM brute b
           WHERE EXISTS (SELECT 1 FROM apq a
             WHERE a.query_id = b.query_id
               AND a.neighbor_id = b.neighbor_id))),
       fl AS (SELECT * FROM (VALUES
         ('ivf', CAST(${AnnRecallFloorMills("ivf")} AS BIGINT)),
         ('ivfpq', CAST(${AnnRecallFloorMills("ivfpq")} AS BIGINT)),
         ('lsh', CAST(${AnnRecallFloorMills("lsh")} AS BIGINT)),
         ('pq', CAST(${AnnRecallFloorMills("pq")} AS BIGINT)))
         t(method, floor_mills))
       SELECT m.method, nt.n_true, CAST(m.h AS BIGINT) AS n_hits,
         (1000 * CAST(m.h AS BIGINT)) // nt.n_true AS recall_mills,
         ((1000 * CAST(m.h AS BIGINT)) // nt.n_true) >= fl.floor_mills
           AS meets_floor
       FROM m, nt, fl WHERE fl.method = m.method ORDER BY m.method"""
  }
}
