package graft.queries

import graft.functions.{Normalize, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Oracle-checked relational queries over the testdata star schema.
  *
  * Every query maps one or more SURVEY.md §2 operators onto the
  * TPC-H-ish tables, is fully deterministic (explicit ORDER BY on a
  * unique key; money in floor-scaled integer cents; no engine-dependent
  * float accumulation), and its [[Query]] entry carries the ANSI-SQL
  * twin that DuckDB executes on the same parquet files.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables(s, dir, name)

  /** floor(x*100) as bigint — exact cents, identical in any IEEE engine. */
  private def cents(c: org.apache.spark.sql.Column) =
    floor(c * 100).cast("long")

  /** Discounted lineitem revenue in cents — the ONE parity-critical
    * revenue expression (q01/q06/q09 here, q50/q55 in SparkEntry) and
    * its DuckDB twin. */
  private[graft] val revenueCents: org.apache.spark.sql.Column =
    floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long")
  private[graft] val revenueCentsSumSql: String =
    "CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)"

  /** Benford's law log10(1 + 1/d), d = 1..9, as ROUNDED mills — the
    * rounding makes them sum to exactly 1000, so expected digit counts
    * partition n exactly (the floor variant sums to 995 and would
    * leak 5 mills of expectation). Shared verbatim by the q161 oracle
    * via string interpolation — never hand-copy. */
  private[graft] val BenfordMills: Seq[Int] =
    Seq(301, 176, 125, 97, 79, 67, 58, 51, 46)

  val queries: Seq[Query] = Seq(
    // A1/A2/A10 — grouped aggregate with exact integer measures (hash agg,
    // partial+final; one shuffle on the two grouping keys).
    Query("q01_pricing_summary", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("price_cents"),
          sum(revenueCents).as("revenue_cents"),
          count(lit(1)).as("n_rows"),
          countDistinct(col("l_orderkey")).as("n_orders"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      s"""SELECT l_returnflag, l_linestatus,
         CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
         CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
         ${revenueCentsSumSql} AS revenue_cents,
         count(*) AS n_rows,
         count(DISTINCT l_orderkey) AS n_orders
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"""),

    // P1 — null-token normalization over a string column.
    Query("q02_null_normalize", (s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          Normalize.normEmpty(col("source")).as("norm_source"),
          Normalize.normEmpty(col("text")).isNotNull.as("valid"))
        .orderBy("doc_id")
    },
      // whitespace trim + NullTokens interpolated from Normalize (the
      // engine's source — lockstep with normEmpty's wsTrim)
      s"""SELECT doc_id,
         CASE WHEN source IS NULL OR lower(${wst("source")}) IN ($nullTokensSql)
              THEN NULL ELSE ${wst("source")} END AS norm_source,
         (CASE WHEN text IS NULL OR lower(${wst("text")}) IN ($nullTokensSql)
              THEN NULL ELSE ${wst("text")} END) IS NOT NULL AS valid
         FROM documents ORDER BY doc_id"""),

    // P2/P3/P4 — validation predicates + error branch in one pass.
    Query("q03_validate_rows", (s, dir) => {
      t(s, dir, "customer")
        .select(
          col("c_custkey"),
          Normalize.validBusinessName(col("c_name")).as("valid_name"),
          Normalize.validEmail(
            concat(lower(regexp_replace(col("c_name"), " ", ".")), lit("@example.com")))
            .as("valid_email"),
          when(!Normalize.validBusinessName(col("c_name")), lit("invalid business name"))
            .as("err"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey,
         (c_name IS NOT NULL AND length(trim(c_name)) BETWEEN 2 AND 200
          AND NOT regexp_matches(c_name, '[<>"'']')) AS valid_name,
         -- null branch mirrors Normalize.validEmail's `c.isNull || ...`
         -- (Spark emits TRUE for a NULL input; a bare regexp_matches
         -- would emit NULL and hash-diverge on a null-name fixture)
         (c_name IS NULL OR
          regexp_matches(lower(regexp_replace(c_name, ' ', '.', 'g')) || '@example.com',
           '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$')) AS valid_email,
         CASE WHEN NOT (c_name IS NOT NULL AND length(trim(c_name)) BETWEEN 2 AND 200
          AND NOT regexp_matches(c_name, '[<>"'']')) THEN 'invalid business name' END AS err
         FROM customer ORDER BY c_custkey"""),

    // P5 — sanitize: tag-strip + entity-escape chain.
    Query("q04_sanitize", (s, dir) => {
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          Normalize.sanitize(concat(lit("<b>"), col("p_name"), lit("</b> & co")))
            .as("clean_name"))
        .orderBy("p_partkey")
    },
      """SELECT p_partkey,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           regexp_replace('<b>' || p_name || '</b> & co', '<[^>]*>', '', 'g'),
           '&', '&amp;', 'g'), '<', '&lt;', 'g'), '>', '&gt;', 'g'),
           '"', '&quot;', 'g'), '''', '&#x27;', 'g') AS clean_name
         FROM part ORDER BY p_partkey"""),

    // P7 — header→schema projection (rename/alias).
    Query("q05_project_rename", (s, dir) => {
      t(s, dir, "customer")
        .select(
          col("c_custkey").as("customer_id"),
          upper(col("c_name")).as("name_upper"),
          col("c_mktsegment").as("segment"))
        .orderBy("customer_id")
    },
      """SELECT c_custkey AS customer_id, upper(c_name) AS name_upper,
         c_mktsegment AS segment FROM customer ORDER BY customer_id"""),

    // J1 + A — broadcast dim join, revenue rollup by brand.
    Query("q06_rev_by_brand", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        .agg(
          sum(revenueCents).as("revenue_cents"),
          count(lit(1)).as("n_items"))
        .orderBy("p_brand")
    },
      s"""SELECT p_brand,
         ${revenueCentsSumSql} AS revenue_cents,
         count(*) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand ORDER BY p_brand"""),

    // J2/W1/F6 — fuzzy candidate join (broadcast nested loop) + top-3
    // window + three-band routing, with an oracle-replicable integer
    // Levenshtein ratio.
    Query("q07_fuzzy_topk_band", (s, dir) => {
      val p = t(s, dir, "part")
      val items = p.where(col("p_partkey") % 7 === 3)
        .select(col("p_partkey").as("item_id"), lower(col("p_name")).as("item_name"))
      val dict = p.where(col("p_partkey") < 50)
        .groupBy(lower(col("p_name")).as("title"))
        .agg(min(col("p_partkey")).as("ext_id"))
      // score DISTINCT names (the vocabulary is far smaller than the row
      // count), rank per name, then join back to items — identical rows
      // to the per-item form at a fraction of the similarity work.
      val names = items.select("item_name").distinct()
      val scored = names.crossJoin(broadcast(dict))
        .withColumn("score", Similarity.levRatio(col("item_name"), col("title")))
      val w = Window.partitionBy("item_name").orderBy(col("score").desc, col("ext_id"))
      val ranked = scored.withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 3)
        .withColumn("decision", Normalize.decisionBand(col("score")))
      items.join(ranked, "item_name")
        .select("item_id", "rn", "title", "ext_id", "score", "decision")
        .orderBy("item_id", "rn")
    },
      s"""WITH items AS (
           SELECT p_partkey AS item_id, lower(p_name) AS item_name
           FROM part WHERE p_partkey % 7 = 3),
         dict AS (
           SELECT lower(p_name) AS title, CAST(min(p_partkey) AS BIGINT) AS ext_id
           FROM part WHERE p_partkey < 50 GROUP BY lower(p_name)),
         scored AS (
           SELECT item_id, item_name, title, ext_id,
             CAST(floor((100 * (greatest(length(item_name), length(title), 1)
                   - levenshtein(item_name, title)))
                 / greatest(length(item_name), length(title), 1)) AS BIGINT) AS score
           FROM items CROSS JOIN dict),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY item_id
             ORDER BY score DESC, ext_id) AS rn FROM scored)
         SELECT item_id, rn, title, ext_id, score,
           CASE WHEN score >= ${Normalize.AutoResolve} THEN 'resolved'
                WHEN score >= ${Normalize.AutoReject} THEN 'review' ELSE 'rejected' END AS decision
         FROM ranked WHERE rn <= 3 ORDER BY item_id, rn"""),

    // J4 — semi/anti probe split (the upsert update-vs-insert fork,
    // Merge.splitUpsert).
    Query("q08_semi_anti_split", (s, dir) => {
      val (upd, ins) = graft.operators.Merge.splitUpsert(t(s, dir, "customer"),
        t(s, dir, "orders").select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"))
      upd.select(col("c_custkey"), lit("update").as("action"))
        .unionByName(ins.select(col("c_custkey"), lit("insert").as("action")))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, 'update' AS action FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         UNION ALL
         SELECT c_custkey, 'insert' AS action FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         ORDER BY c_custkey"""),

    // J7 — multi-way join rollup (region ⋈ nation ⋈ customer ⋈ orders).
    Query("q09_multiway_rollup", (s, dir) => {
      val r = t(s, dir, "region"); val n = t(s, dir, "nation")
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
        .orderBy("r_name", "n_name")
    },
      """SELECT r_name, n_name, count(*) AS n_orders,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name"""),

    // W1/W2 — top-3 orders per customer (rank window, full tiebreak).
    Query("q10_top3_per_customer", (s, dir) => {
      val o = t(s, dir, "orders")
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 3)
        .select(
          col("o_custkey"), col("rn"), col("o_orderkey"),
          cents(col("o_totalprice")).as("price_cents"))
        .orderBy("o_custkey", "rn")
    },
      """WITH ranked AS (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders)
         SELECT o_custkey, rn, o_orderkey,
           CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM ranked WHERE rn <= 3 ORDER BY o_custkey, rn"""),

    // W4 — latest order per customer (argmax via rank).
    Query("q11_latest_per_customer", (s, dir) => {
      val o = t(s, dir, "orders")
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      o.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(
          col("o_custkey"), col("o_orderkey").as("last_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("last_date"))
        .orderBy("o_custkey")
    },
      """WITH ranked AS (
           SELECT o_custkey, o_orderkey, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
           FROM orders)
         SELECT o_custkey, o_orderkey AS last_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS last_date
         FROM ranked WHERE rn = 1 ORDER BY o_custkey"""),

    // W6 — global top-k (TakeOrderedAndProject, no full sort at scale).
    Query("q12_top10_orders", (s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
    },
      """SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""),

    // E1/E4 — split + explode + within-row distinct.
    Query("q13_explode_tokens", (s, dir) => {
      t(s, dir, "part")
        .select(col("p_partkey"),
          explode(array_distinct(split(col("p_name"), " "))).as("token"))
        .orderBy("p_partkey", "token")
    },
      """SELECT p_partkey, unnest(list_distinct(string_split(p_name, ' '))) AS token
         FROM part ORDER BY p_partkey, token"""),

    // E2 — melt (kind unpivot) via stack.
    Query("q14_melt_attrs", (s, dir) => {
      t(s, dir, "part")
        .select(col("p_partkey"),
          expr("stack(2, 'brand', p_brand, 'type', p_type) as (attr, val)"))
        .orderBy("p_partkey", "attr")
    },
      """SELECT p_partkey, 'brand' AS attr, p_brand AS val FROM part
         UNION ALL
         SELECT p_partkey, 'type' AS attr, p_type AS val FROM part
         ORDER BY p_partkey, attr"""),

    // J1 — exact case-insensitive dictionary join (broadcast hash join).
    Query("q15_exact_dict_match", (s, dir) => {
      val p = t(s, dir, "part")
      val items = p.where(col("p_partkey") % 3 === 0)
        .select(col("p_partkey").as("item_id"), col("p_name").as("item_name"))
      val dict = p.where(col("p_partkey") % 2 === 0)
        .groupBy(upper(col("p_name")).as("title"))
        .agg(min(col("p_partkey")).as("ext_id"))
      items.join(broadcast(dict), lower(col("item_name")) === lower(col("title")), "left")
        .select(col("item_id"), col("item_name"), col("ext_id"),
          col("ext_id").isNotNull.as("matched"))
        .orderBy("item_id")
    },
      """WITH items AS (
           SELECT p_partkey AS item_id, p_name AS item_name
           FROM part WHERE p_partkey % 3 = 0),
         dict AS (
           SELECT upper(p_name) AS title, CAST(min(p_partkey) AS BIGINT) AS ext_id
           FROM part WHERE p_partkey % 2 = 0 GROUP BY upper(p_name))
         SELECT item_id, item_name, ext_id, ext_id IS NOT NULL AS matched
         FROM items LEFT JOIN dict ON lower(item_name) = lower(title)
         ORDER BY item_id"""),

    // A3/F9 — confidence-band histogram.
    Query("q16_band_histogram", (s, dir) => {
      t(s, dir, "orders")
        .withColumn("band",
          when(col("o_totalprice") >= 200000, "high")
            .when(col("o_totalprice") >= 100000, "medium")
            .otherwise("low"))
        .groupBy("band").agg(count(lit(1)).as("n"))
        .orderBy("band")
    },
      """SELECT CASE WHEN o_totalprice >= 200000 THEN 'high'
                WHEN o_totalprice >= 100000 THEN 'medium'
                ELSE 'low' END AS band, count(*) AS n
         FROM orders GROUP BY 1 ORDER BY band"""),

    // A7/F10 — daily usage rollup over the ops/event log.
    Query("q17_daily_rollup", (s, dir) => {
      t(s, dir, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
        .orderBy("day", "event_type")
    },
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, count(*) AS n,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events GROUP BY 1, 2 ORDER BY day, event_type"""),

    // A8/F11 — trailing-24h window anchored at max(ts) (deterministic).
    Query("q18_last24h_by_type", (s, dir) => {
      val e = t(s, dir, "events")
      val mx = e.agg(max(col("ts")).as("mx"))
      e.crossJoin(broadcast(mx))
        .where(col("ts") >= col("mx") - expr("INTERVAL 24 HOURS"))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(*) AS n FROM events
         WHERE ts >= (SELECT max(ts) - INTERVAL 24 HOURS FROM events)
         GROUP BY event_type ORDER BY event_type"""),

    // F15 — keyword error categorization over synthesized messages.
    Query("q19_error_categories", (s, dir) => {
      t(s, dir, "events")
        .withColumn("msg",
          when(col("value") < 40, "connection timeout to upstream")
            .when(col("value") < 80, "permission denied for user")
            .when(col("value") < 120, "duplicate key already exists")
            .when(col("value") < 160, "rate limit exceeded")
            .otherwise(concat(col("event_type"), lit(" failed unexpectedly"))))
        .groupBy(Normalize.errorCategory(col("msg")).as("category"))
        .agg(count(lit(1)).as("n"))
        .orderBy("category")
    },
      """WITH m AS (
           SELECT CASE WHEN value < 40 THEN 'connection timeout to upstream'
                  WHEN value < 80 THEN 'permission denied for user'
                  WHEN value < 120 THEN 'duplicate key already exists'
                  WHEN value < 160 THEN 'rate limit exceeded'
                  ELSE event_type || ' failed unexpectedly' END AS msg
           FROM events)
         SELECT CASE
             WHEN regexp_matches(lower(msg), 'connection|timeout|network|unreachable') THEN 'network'
             WHEN regexp_matches(lower(msg), 'auth|permission|denied|unauthorized|forbidden') THEN 'auth'
             WHEN regexp_matches(lower(msg), 'schema|column|field|type mismatch') THEN 'schema'
             WHEN regexp_matches(lower(msg), 'duplicate|conflict|already exists') THEN 'conflict'
             WHEN regexp_matches(lower(msg), 'daily limit|quota exceeded|rate limit|too many requests|throttle') THEN 'quota'
             WHEN regexp_matches(lower(msg), 'parse|decode|encoding|malformed|invalid json') THEN 'parse'
             WHEN regexp_matches(lower(msg), 'not found|missing|no such') THEN 'missing'
             WHEN regexp_matches(lower(msg), 'disk|memory|resource|oom') THEN 'resource'
             WHEN regexp_matches(lower(msg), 'error|fail|exception') THEN 'generic'
             ELSE 'unknown' END AS category,
           count(*) AS n
         FROM m GROUP BY 1 ORDER BY category"""),

    // F13 — sensitive-data masking over log values.
    Query("q20_mask_sensitive", (s, dir) => {
      t(s, dir, "events")
        .select(
          col("event_id"),
          Normalize.maskSensitive(concat(lit("tok"), md5(col("props")))).as("token_masked"),
          Normalize.maskSensitive(col("event_type")).as("type_unmasked"))
        .orderBy("event_id")
    },
      """SELECT event_id,
         CASE WHEN length('tok' || md5(props)) > 20
               AND regexp_matches('tok' || md5(props), '^[A-Za-z0-9+/=]+$')
              THEN '***MASKED***' ELSE 'tok' || md5(props) END AS token_masked,
         CASE WHEN length(event_type) > 20
               AND regexp_matches(event_type, '^[A-Za-z0-9+/=]+$')
              THEN '***MASKED***' ELSE event_type END AS type_unmasked
         FROM events ORDER BY event_id"""),

    // S4-ish — JSON value extraction from the props payload.
    Query("q21_json_extract", (s, dir) => {
      t(s, dir, "events")
        .select(
          col("event_id"),
          regexp_extract(col("props"), "([0-9]+)", 1).cast("long").as("k"))
        .orderBy("event_id")
    },
      """SELECT event_id,
           CAST(nullif(regexp_extract(props, '([0-9]+)', 1), '') AS BIGINT) AS k
         FROM events ORDER BY event_id"""),

    // ST2 batch-mirror — tumbling 1h window counts (streaming twin lives
    // in graft.streaming with a real watermark; semantics identical).
    Query("q22_hourly_window", (s, dir) => {
      t(s, dir, "events")
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
        .orderBy("hour", "event_type")
    },
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
         event_type, count(*) AS n,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events GROUP BY 1, 2 ORDER BY hour, event_type"""),

    // Gap sessionization — lag window, 30-minute inactivity break.
    Query("q23_sessionize", (s, dir) => {
      val e = t(s, dir, "events")
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      e.withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          (col("prev_ts").isNull ||
            col("ts").cast("long") - col("prev_ts").cast("long") > 1800).cast("long"))
        .groupBy("user_id")
        .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    },
      """WITH g AS (
           SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events)
         SELECT user_id,
           CAST(sum(CASE WHEN prev_ts IS NULL
             OR floor(epoch(ts)) - floor(epoch(prev_ts)) > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           count(*) AS n_events
         FROM g GROUP BY user_id ORDER BY user_id"""),

    // Session-depth histogram + engagement shares: the q23 sessionizer
    // extended with the per-user cumulative session id (the cumsum
    // rides the SAME user-keyed exchange as the lag), session lengths
    // per (user, session), then a bounded histogram with exact-mills
    // shares (bounce rate = the session_len = 1 row). Output bounded
    // by the longest session.
    Query("q147_session_depth", (s, dir) => {
      val e = t(s, dir, "events")
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val sess = e.withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("nw", (col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > 1800)
          .cast("long"))
        .withColumn("sess", sum(col("nw"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      sess.groupBy(col("user_id"), col("sess"))
        .agg(count(lit(1)).as("session_len"))
        .groupBy("session_len").agg(count(lit(1)).as("n_sessions"))
        .withColumn("share_mills",
          expr("(1000 * n_sessions) div sum(n_sessions) OVER ()"))
        .orderBy("session_len")
    },
      // the q23 lag/gap rule + the same-window cumsum session id
      """WITH g AS (
           SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_ts
           FROM events),
         s AS (
           SELECT user_id, event_id,
             sum(CASE WHEN prev_ts IS NULL
               OR floor(epoch(ts)) - floor(epoch(prev_ts)) > 1800
               THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess
           FROM g),
         l AS (SELECT user_id, sess, CAST(count(*) AS BIGINT)
                 AS session_len
               FROM s GROUP BY 1, 2),
         h AS (SELECT session_len, CAST(count(*) AS BIGINT) AS n_sessions
               FROM l GROUP BY 1)
         SELECT session_len, n_sessions,
           CAST((1000 * n_sessions) // sum(n_sessions) OVER ()
             AS BIGINT) AS share_mills
         FROM h ORDER BY session_len"""),

    // Inter-arrival latency report: per event type, EXACT median and
    // p90 of the per-user inter-event gaps (gap attributed to the
    // LATER event's type) — the q57/q115 histogram-selection kernel,
    // so no per-type sort of the gap stream: one user-keyed window,
    // one (type, gap) hash agg, then rank thresholds over the bounded
    // histogram (ceil(n/2), ceil(9n/10) in integer arithmetic).
    Query("q148_interarrival", (s, dir) => {
      val e = t(s, dir, "events")
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gaps = e.withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .where(col("prev_ts").isNotNull)
        .select(col("event_type"),
          (col("ts").cast("long") - col("prev_ts").cast("long"))
            .as("gap_s"))
      val h = gaps.groupBy("event_type", "gap_s")
        .agg(count(lit(1)).as("cnt"))
      val wt = Window.partitionBy("event_type").orderBy("gap_s")
      h.withColumn("cum", sum(col("cnt"))
          .over(wt.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("n",
          sum(col("cnt")).over(Window.partitionBy("event_type")))
        .groupBy("event_type")
        .agg(max(col("n")).as("n_gaps"),
          min(when(col("cum") >= expr("(n + 1) div 2"), col("gap_s")))
            .as("median_gap_s"),
          min(when(col("cum") >= expr("(n * 9 + 9) div 10"), col("gap_s")))
            .as("p90_gap_s"))
        .orderBy("event_type")
    },
      // identical gap derivation and rank-threshold arithmetic
      """WITH g AS (
           SELECT event_type,
             CAST(floor(epoch(ts)) - floor(epoch(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)))
               AS BIGINT) AS gap_s
           FROM events),
         h AS (
           SELECT event_type, gap_s, CAST(count(*) AS BIGINT) AS cnt
           FROM g WHERE gap_s IS NOT NULL GROUP BY 1, 2),
         r AS (
           SELECT *,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY gap_s
               ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER (PARTITION BY event_type) AS n
           FROM h)
         SELECT event_type, CAST(max(n) AS BIGINT) AS n_gaps,
           min(CASE WHEN cum >= (n + 1) // 2 THEN gap_s END)
             AS median_gap_s,
           min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN gap_s END)
             AS p90_gap_s
         FROM r GROUP BY event_type ORDER BY event_type"""),

    // RFM customer segmentation (the classic recency / frequency /
    // monetary report): per customer last-order day, order count and
    // lifetime cents; each dimension scored 1-5 by EXACT
    // value-threshold quintiles — the q57/q104 histogram kernel
    // (threshold t_k = smallest value with cum ≥ ceil(n·k/5), ties
    // share a score — no per-row global rank), all THREE dimensions
    // through ONE unpivoted histogram pass (one shuffle, per-dim
    // windows over value cardinality, never row count), thresholds
    // riding back as a 1-row broadcast. Recency is scored on the
    // NEGATED last-order day: recency = max_day − last_day is a
    // constant shift of −last_day, so quintile thresholds and every
    // `>` comparison carry over exactly — no extra orders scan for
    // the max-day anchor. Orders is scanned exactly twice (threshold
    // pass + scoring pass); output bounded by the ≤ 125 (r, f, m)
    // cells.
    Query("q151_rfm_segments", (s, dir) => {
      val lastDay =
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01') AS LONG)")
      val base = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(lastDay).as("last_day"),
          count(lit(1)).as("freq"),
          sum(cents(col("o_totalprice"))).as("cents"))
        .select(col("o_custkey"), (-col("last_day")).as("rv"),
          col("freq"), col("cents"))
      val dims = Seq("r" -> "tr", "f" -> "tf", "m" -> "tm")
      val hist = base
        .select(expr("stack(3, 'r', rv, 'f', freq, 'm', cents) AS (dim, v)"))
        .groupBy("dim", "v").agg(count(lit(1)).as("cnt"))
      val wv = Window.partitionBy("dim").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
      val perDim = hist
        .withColumn("cum", sum(col("cnt")).over(wv))
        .withColumn("n", sum(col("cnt")).over(Window.partitionBy("dim")))
        .groupBy("dim")
        .agg(
          min(when(col("cum") >= expr("(n * 1 + 4) div 5"), col("v")))
            .as("t1"),
          (2 to 4).map(k =>
            min(when(col("cum") >= expr(s"(n * $k + 4) div 5"), col("v")))
              .as(s"t$k")): _*)
      val wideCols = dims.flatMap { case (d, pfx) => (1 to 4).map(k =>
        max(when(col("dim") === d, col(s"t$k"))).as(s"$pfx$k")) }
      val thresholds = perDim.groupBy().agg(wideCols.head, wideCols.tail: _*)
      def ascScore(c: String, pfx: String) =
        lit(1L) + (1 to 4).map(k =>
          when(col(c) > col(s"$pfx$k"), 1L).otherwise(0L)).reduce(_ + _)
      base
        .crossJoin(broadcast(thresholds))
        .select(col("o_custkey"), col("cents"),
          (lit(6L) - ascScore("rv", "tr")).as("r_score"),
          ascScore("freq", "tf").as("f_score"),
          ascScore("cents", "tm").as("m_score"))
        .groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("cents")).as("cents_sum"))
        .orderBy("r_score", "f_score", "m_score")
    }, {
      // three identical histogram-quintile chains + the same
      // greater-than-threshold score sums
      def thrCte(name: String, dim: String): String = {
        val mins = (1 to 4).map(k =>
          s"min(CASE WHEN cum >= (n * $k + 4) // 5 THEN v END) AS t$k")
          .mkString(", ")
        s"""$name AS (
             SELECT $mins
             FROM (SELECT v,
                 sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                   AS cum,
                 sum(cnt) OVER () AS n
               FROM (SELECT $dim AS v, CAST(count(*) AS BIGINT) AS cnt
                     FROM base GROUP BY 1)))"""
      }
      def asc(dim: String, t: String): String =
        "1 + " + (1 to 4).map(k =>
          s"(CASE WHEN $dim > $t.t$k THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH base AS (
           SELECT o_custkey,
             (SELECT max(CAST(datediff('day', DATE '1970-01-01',
                  CAST(o_orderdate AS DATE)) AS BIGINT)) FROM orders)
               - max(CAST(datediff('day', DATE '1970-01-01',
                  CAST(o_orderdate AS DATE)) AS BIGINT)) AS recency,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS cents
           FROM orders GROUP BY o_custkey),
         ${thrCte("tr", "recency")},
         ${thrCte("tf", "freq")},
         ${thrCte("tm", "cents")},
         scored AS (
           SELECT o_custkey, cents,
             CAST(6 - (${asc("recency", "tr")}) AS BIGINT) AS r_score,
             CAST(${asc("freq", "tf")} AS BIGINT) AS f_score,
             CAST(${asc("cents", "tm")} AS BIGINT) AS m_score
           FROM base CROSS JOIN tr CROSS JOIN tf CROSS JOIN tm)
         SELECT r_score, f_score, m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(cents) AS BIGINT) AS cents_sum
         FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""
    }),

    // Revenue-inequality report: the EXACT Gini coefficient of
    // customer lifetime value per nation — the concentration metric
    // that tells a marketplace how top-heavy each geography's
    // customer base is (complements q152's global ABC banding).
    // Computed entirely from the per-nation VALUE HISTOGRAM via the
    // sorted-rank identity Σᵢ i·xᵢ = Σ_v v·(c·C_before + c(c+1)/2),
    // i.e. G = (Σ_v v·c·(2·C_b + c + 1) − (n+1)·T) / (n·T) — so the
    // only per-customer work is one custkey agg and one equi-join to
    // the customer dim (both sides corpus-sized, deliberately a
    // shuffle join); the cum windows and Gini algebra ride the
    // nation-partitioned histogram (value cardinality, never
    // customer rows) in DECIMAL(38,0). Customers with no orders are
    // out of frame (LTV undefined). Output: one row per nation.
    Query("q157_nation_gini", (s, dir) => {
      val ltv = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("v"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val byNation = ltv
        .join(cust, ltv("o_custkey") === cust("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("v"))
      val w = Window.partitionBy("nation").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
      byNation.groupBy("nation", "v").agg(count(lit(1)).as("c"))
        .withColumn("cb", sum(col("c")).over(w) - col("c"))
        .groupBy("nation")
        .agg(sum(col("c")).as("n_customers"),
          sum(col("v") * col("c")).as("total_cents"),
          sum(expr("CAST(v AS DECIMAL(38,0)) * c * (2 * cb + c + 1)"))
            .as("num"))
        .where(col("total_cents") > 0)
        .select(col("nation"), col("n_customers"), col("total_cents"),
          expr("""CAST((1000 * (num
                    - CAST(n_customers + 1 AS DECIMAL(38,0)) * total_cents))
                  div (CAST(n_customers AS DECIMAL(38,0)) * total_cents)
                  AS LONG)""").as("gini_mills"))
        .orderBy("nation")
    },
      // the same sorted-rank histogram identity; HUGEINT twins the
      // DECIMAL(38,0) products
      """WITH ltv AS (
           SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS v
           FROM orders GROUP BY 1),
         bn AS (
           SELECT n.n_name AS nation, ltv.v
           FROM ltv
           JOIN customer c ON ltv.o_custkey = c.c_custkey
           JOIN nation n ON c.c_nationkey = n.n_nationkey),
         h AS (
           SELECT nation, v, CAST(count(*) AS BIGINT) AS c
           FROM bn GROUP BY 1, 2),
         x AS (
           SELECT nation, v, c,
             sum(c) OVER (PARTITION BY nation ORDER BY v
               ROWS UNBOUNDED PRECEDING) - c AS cb
           FROM h),
         a AS (
           SELECT nation,
             CAST(sum(c) AS BIGINT) AS n_customers,
             CAST(sum(v * c) AS BIGINT) AS total_cents,
             sum(CAST(v AS HUGEINT) * c * (2 * cb + c + 1)) AS num
           FROM x GROUP BY 1 HAVING sum(v * c) > 0)
         SELECT nation, n_customers, total_cents,
           CAST((1000 * (num
                 - CAST(n_customers + 1 AS HUGEINT) * total_cents))
             // (CAST(n_customers AS HUGEINT) * total_cents) AS BIGINT)
             AS gini_mills
         FROM a ORDER BY 1"""),

    // EXACT Pareto skyline (best-customer frontier): the set of
    // customers no one else dominates on (lifetime value, last-order
    // recency) — both maximized; p dominates q iff p.v >= q.v AND
    // p.d >= q.d with at least one strict. The all-pairs NOT EXISTS
    // the oracle runs is O(n²); the engine instead uses the
    // divide-and-merge identity skyline(S) = skyline(∪_b skyline(S_b)):
    // phase 1 computes each bucket's skyline with PARALLEL windows
    // (partitioned by custkey-hash bucket — for integer v, the DESC
    // RANGE frame ending at -1 is exactly "rows with strictly larger
    // v", so survive = no higher-v row has d >= mine, and no same-v
    // row has d > mine); phase 2 re-runs the same two windows over
    // the surviving candidates only. The single-partition phase-2
    // window is safe because 2-D bucket skylines are small (each is
    // a strictly-decreasing staircase in d); at 1000-executor scale
    // the corpus-sized work is ONE custkey hash agg + one bucketed
    // window exchange. Any globally-dominated candidate is dominated
    // by a transitive chain ending at a candidate, so phase 2 is
    // exact, never approximate.
    Query("q159_customer_skyline", (s, dir) => {
      val a = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("ltv_cents"),
          max(col("o_orderdate").cast("date")).as("d"))
      def skyline(df: DataFrame, part: Seq[String]): DataFrame = {
        val higher = Window.partitionBy(part.map(col): _*)
          .orderBy(col("ltv_cents").desc)
          .rangeBetween(Window.unboundedPreceding, -1)
        val sameV = Window.partitionBy((part :+ "ltv_cents").map(col): _*)
        df.withColumn("hd", max(col("d")).over(higher))
          .withColumn("md", max(col("d")).over(sameV))
          .where((col("hd").isNull || col("hd") < col("d")) &&
            col("d") === col("md"))
          .drop("hd", "md")
      }
      val local = skyline(a.withColumn("b", pmod(col("o_custkey"), lit(32))),
        Seq("b")).drop("b")
      skyline(local, Seq.empty)
        .select(col("o_custkey"), col("ltv_cents"),
          date_format(col("d"), "yyyy-MM-dd").as("last_day"))
        .orderBy("o_custkey")
    },
      // the oracle checks dominance the O(n²) way — deliberately a
      // DIFFERENT algorithm from the engine's divide-and-merge
      // windows, so a staircase-logic bug cannot self-confirm
      """WITH a AS (
           SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS ltv_cents,
             max(CAST(o_orderdate AS DATE)) AS d
           FROM orders GROUP BY 1)
         SELECT q.o_custkey, q.ltv_cents,
           strftime(q.d, '%Y-%m-%d') AS last_day
         FROM a q
         WHERE NOT EXISTS (
           SELECT 1 FROM a p
           WHERE p.ltv_cents >= q.ltv_cents AND p.d >= q.d
             AND (p.ltv_cents > q.ltv_cents OR p.d > q.d))
         ORDER BY 1"""),

    // Incremental view maintenance: refresh a per-customer order view
    // by MERGING the stored base-snapshot aggregate with a delta-batch
    // aggregate — the algebra a materialized view / streaming refresh
    // runs instead of rescanning history. The deterministic split
    // (o_orderkey % 7) stands in for snapshot-vs-new-batch; each side
    // aggregates to its own partial state (count/sum are additive,
    // max composes via greatest), and the refresh is ONE full-outer
    // equi-join on the view key with null-safe combination — at scale
    // the delta side is tiny, so the join broadcasts and the refresh
    // cost is independent of history size. The oracle recomputes the
    // view DIRECTLY over all facts: hash equality proves the
    // partial-state merge is lossless, including customers present in
    // only one side and the derived avg recomputed post-merge (avg is
    // NOT additive — deriving it from merged sums is the contract).
    Query("q160_ivm_refresh", (s, dir) => {
      val o = t(s, dir, "orders")
      def part(df: DataFrame) = df.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("o_totalprice"))).as("c"),
          sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L))
            .as("op"),
          max(col("o_orderdate").cast("date")).as("d"))
      val base = part(o.where(pmod(col("o_orderkey"), lit(7)) =!= 0))
      val delta = part(o.where(pmod(col("o_orderkey"), lit(7)) === 0))
      base.as("b").join(delta.as("d"), Seq("o_custkey"), "full_outer")
        .select(col("o_custkey"),
          (coalesce(col("b.n"), lit(0L)) + coalesce(col("d.n"), lit(0L)))
            .as("n_orders"),
          (coalesce(col("b.c"), lit(0L)) + coalesce(col("d.c"), lit(0L)))
            .as("total_cents"),
          (coalesce(col("b.op"), lit(0L)) + coalesce(col("d.op"), lit(0L)))
            .as("n_open"),
          date_format(greatest(coalesce(col("b.d"), col("d.d")),
            coalesce(col("d.d"), col("b.d"))), "yyyy-MM-dd").as("last_day"))
        .withColumn("avg_cents", expr("total_cents div n_orders"))
        .orderBy("o_custkey")
    },
      // the oracle recomputes the view DIRECTLY over all facts — no
      // split, no merge — so parity proves the engine's partial-state
      // refresh algebra lossless
      """SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
             AS BIGINT) AS total_cents,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_open,
           strftime(max(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
             AS last_day,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
             AS BIGINT) // CAST(count(*) AS BIGINT) AS avg_cents
         FROM orders GROUP BY 1 ORDER BY 1"""),

    // Benford first-digit audit (the classic fabricated-numbers
    // screen): per order priority, the EXACT first-significant-digit
    // distribution of order money vs Benford's law, plus an integer
    // χ²-style divergence statistic. The 9 digit bins come from a
    // conditional-sum pivot inside ONE per-priority aggregate (zero
    // bins first-class — q155's precedent), so orders passes through
    // one scan and one bounded shuffle. Benford's log10(1+1/d) lives
    // as ROUNDED-MILLS constants [[BenfordMills]] that sum to exactly
    // 1000, so expected counts are n·p_d div-free in the statistic
    // Σ_d (1000·O_d − n·p_d)² div p_d div (1000·n) — every product in
    // DECIMAL(38,0)/HUGEINT ((1000·O−n·p)² ≤ 1e6·n² overflows int64
    // at real volumes). First digit is string-head of the cents
    // BIGINT — cents > 0 for all orders, so no zero-digit branch.
    Query("q161_benford_digits", (s, dir) => {
      val digits = 1 to 9
      val perP = t(s, dir, "orders")
        .select(col("o_orderpriority"),
          substring(cents(col("o_totalprice")).cast("string"), 1, 1)
            .cast("long").as("fd"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          digits.map(d => sum(when(col("fd") === d, 1L).otherwise(0L))
            .as(s"o$d")): _*)
      val terms = digits.map { d =>
        val p = BenfordMills(d - 1)
        s"""(CAST(1000 * o$d - n * $p AS DECIMAL(38,0))
            * CAST(1000 * o$d - n * $p AS DECIMAL(38,0))) div $p"""
      }.mkString(" + ")
      val stacked = digits.map(d =>
        s"${d}L, o$d, ${BenfordMills(d - 1)}L").mkString(", ")
      perP
        .withColumn("stat_mills",
          expr(s"CAST(($terms) div (1000 * CAST(n AS DECIMAL(38,0))) AS LONG)"))
        .select(Seq(col("o_orderpriority"), col("n").as("n_orders"),
          col("stat_mills"),
          expr(s"stack(9, $stacked)").as(Seq("digit", "n_digit", "exp_mills"))): _*)
        .withColumn("share_mills", expr("(1000 * n_digit) div n_orders"))
        .orderBy("o_orderpriority", "digit")
    }, {
      // same conditional-sum pivot + the same mills constants
      // (interpolated from BenfordMills, never hand-copied); HUGEINT
      // twins the DECIMAL(38,0) squares
      val os = (1 to 9).map(d =>
        s"CAST(sum(CASE WHEN fd = $d THEN 1 ELSE 0 END) AS BIGINT) AS o$d")
        .mkString(", ")
      val terms = (1 to 9).map { d =>
        val p = BenfordMills(d - 1)
        s"""(CAST(1000 * o$d - n * $p AS HUGEINT)
             * CAST(1000 * o$d - n * $p AS HUGEINT)) // $p"""
      }.mkString(" + ")
      val arms = (1 to 9).map { d =>
        s"""SELECT o_orderpriority, n AS n_orders, stat_mills,
              CAST($d AS BIGINT) AS digit, o$d AS n_digit,
              CAST(${BenfordMills(d - 1)} AS BIGINT) AS exp_mills,
              (1000 * o$d) // n AS share_mills FROM x"""
      }.mkString(" UNION ALL ")
      s"""WITH f AS (
            SELECT o_orderpriority,
              CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
                AS VARCHAR), 1, 1) AS BIGINT) AS fd
            FROM orders),
          p AS (
            SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, $os
            FROM f GROUP BY 1),
          x AS (
            SELECT *, CAST(($terms) // (1000 * CAST(n AS HUGEINT))
              AS BIGINT) AS stat_mills
            FROM p)
          $arms ORDER BY o_orderpriority, digit"""
    }),

    // CDC apply (the Delta/Hudi merge): a sequence-ordered change
    // batch — upserts plus delete tombstones — applied to the customer
    // snapshot through [[graft.operators.Merge.applyCdc]]. The change
    // stream is derived deterministically from orders (seq =
    // o_orderkey, every 13th key a tombstone, the rest upserts
    // carrying the order's cents as the new current_cents), so the
    // oracle can rebuild it verbatim. Latest-op-wins is the W4 rank
    // kernel over the BATCH (WindowGroupLimit partial top-1); the
    // apply is one full-outer key join; tombstoned customers vanish,
    // untouched ones keep snapshot values with the −1 seq sentinel.
    // The fixture's FK totality means no 'inserted' rows here — that
    // branch is pinned by DedupMergeSpec on a toy batch.
    Query("q163_cdc_apply", (s, dir) => {
      val snap = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").cast("long"),
          cents(col("c_acctbal")).as("current_cents"))
      val ops = t(s, dir, "orders").select(
        col("o_custkey").as("c_custkey"),
        col("o_orderkey").as("seq"),
        when(pmod(col("o_orderkey"), lit(13)) === 0, "D").otherwise("U")
          .as("op"),
        cents(col("o_totalprice")).as("current_cents"))
      graft.operators.Merge.applyCdc(snap, ops, "c_custkey", "seq", "op")
        .orderBy("c_custkey")
    },
      // the same derived change stream, applied the declarative way
      // (rank + left join + CASE) — parity proves the operator's
      // full-outer merge, tombstone filter and payload override
      """WITH cdc AS (
           SELECT o_custkey AS k, o_orderkey AS seq,
             CASE WHEN o_orderkey % 13 = 0 THEN 'D' ELSE 'U' END AS op,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS v
           FROM orders),
         latest AS (
           SELECT k, seq, op, v FROM (
             SELECT *, row_number() OVER (PARTITION BY k
                 ORDER BY seq DESC, op DESC, v DESC)
               AS rn FROM cdc) WHERE rn = 1)
         SELECT c.c_custkey,
           CAST(c.c_nationkey AS BIGINT) AS c_nationkey,
           CASE WHEN l.op = 'U' THEN l.v
                ELSE CAST(floor(c.c_acctbal * 100) AS BIGINT)
           END AS current_cents,
           CASE WHEN l.op IS NULL THEN 'snapshot' ELSE 'updated' END
             AS cdc_src,
           coalesce(l.seq, -1) AS last_seq
         FROM customer c LEFT JOIN latest l ON c.c_custkey = l.k
         WHERE l.op IS NULL OR l.op <> 'D'
         ORDER BY 1"""),

    // Bounded-memory quantile estimation with a DETERMINISTIC error
    // gate — the sketch the exact-percentile kernel (q57/q81) trades
    // against at 100 TB: per event type, p50/p90/p99 of value cents
    // estimated from a 128-bin EQUI-WIDTH histogram whose state is
    // types × 128 cells no matter the corpus (partial agg absorbs the
    // scan), vs the exact quantiles from the value histogram. The
    // estimate is the LOWER EDGE of the first bin whose cumulative
    // count reaches ceil(q·n/100); the exact quantile provably lives
    // in that bin, so 0 <= exact − est <= ceil(W/128) ALWAYS — an
    // error bound that needs no probability, recomputed (not pinned)
    // by the oracle. Two corpus scans: the value histogram (feeds
    // exact + the min/max frame) and the binning scan against the
    // broadcast per-type stats. All arithmetic in int64 (spans ×128
    // stay far under 2^63 at real cents magnitudes).
    Query("q164_hist_quantiles", (s, dir) => {
      val B = 128
      val pcts = Seq(50, 90, 99)
      // value IS NOT NULL on BOTH sides: a NULL histogram row sorts
      // NULLS FIRST in Spark but LAST in DuckDB, shifting every cum
      // rank (the q153 discipline)
      val ev = t(s, dir, "events").where(col("value").isNotNull)
        .select(col("event_type"),
          floor(col("value") * 100).cast("long").as("v"))
      val vh = ev.groupBy("event_type", "v").agg(count(lit(1)).as("c"))
      val stats = vh.groupBy("event_type").agg(
        sum("c").as("n"), min("v").as("mn"), max("v").as("mx"))
      def target(p: Int) = expr(s"($p * n + 99) div 100")
      val wv = Window.partitionBy("event_type").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
      val exCols = pcts.map(p =>
        min(when(col("cum") >= target(p), col("v"))).as(s"ex$p"))
      val exacts = vh.withColumn("cum", sum(col("c")).over(wv))
        .join(broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(exCols.head, exCols.tail: _*)
      val wb = Window.partitionBy("event_type").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
      val binCols = pcts.map(p =>
        min(when(col("cum") >= target(p), col("bin"))).as(s"bin$p"))
      val ests = ev.join(broadcast(stats), "event_type")
        .withColumn("bin", expr(s"((v - mn) * $B) div (mx - mn + 1)"))
        .groupBy("event_type", "bin").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wb))
        .join(broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(binCols.head, binCols.tail: _*)
      val stacked = pcts.map(p => s"${p}L, ex$p, bin$p").mkString(", ")
      exacts.join(ests, "event_type").join(broadcast(stats), "event_type")
        .select(col("event_type"), col("n"), col("mn"), col("mx"),
          expr(s"stack(${pcts.size}, $stacked)")
            .as(Seq("pct", "exact_cents", "bin")))
        .withColumn("est_cents",
          expr(s"mn + (bin * (mx - mn + 1) + ${B - 1}) div $B"))
        .withColumn("bin_w", expr(s"(mx - mn + $B) div $B"))
        .withColumn("err", col("exact_cents") - col("est_cents"))
        .withColumn("within_bin",
          col("err") >= 0 && col("err") <= col("bin_w"))
        .drop("bin")
        .orderBy("event_type", "pct")
    }, {
      // full recompute of both paths — exact from the value histogram,
      // estimate from the 128-bin equi-width histogram — with the same
      // integer lower-edge and ceil-width arithmetic; the error gate
      // is recomputed, never pinned
      val pcts = Seq(50, 90, 99)
      val exs = pcts.map(p =>
        s"min(CASE WHEN cum >= ($p * n + 99) // 100 THEN v END) AS ex$p")
        .mkString(", ")
      val bins = pcts.map(p =>
        s"min(CASE WHEN cum >= ($p * n + 99) // 100 THEN bin END) AS bin$p")
        .mkString(", ")
      val arms = pcts.map(p =>
        s"""SELECT event_type, n, mn, mx, CAST($p AS BIGINT) AS pct,
              ex$p AS exact_cents, bin$p AS bin FROM j""").mkString(" UNION ALL ")
      s"""WITH ev AS (
            SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v
            FROM events WHERE value IS NOT NULL),
          vh AS (
            SELECT event_type, v, CAST(count(*) AS BIGINT) AS c
            FROM ev GROUP BY 1, 2),
          st AS (
            SELECT event_type, CAST(sum(c) AS BIGINT) AS n,
              min(v) AS mn, max(v) AS mx
            FROM vh GROUP BY 1),
          vc AS (
            SELECT event_type, v, sum(c) OVER (PARTITION BY event_type
              ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
            FROM vh),
          ex AS (
            SELECT vc.event_type, $exs
            FROM vc JOIN st USING (event_type) GROUP BY 1),
          bh AS (
            SELECT ev.event_type,
              ((v - mn) * 128) // (mx - mn + 1) AS bin,
              CAST(count(*) AS BIGINT) AS c
            FROM ev JOIN st USING (event_type) GROUP BY 1, 2),
          bc AS (
            SELECT event_type, bin, sum(c) OVER (PARTITION BY event_type
              ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
            FROM bh),
          es AS (
            SELECT bc.event_type, $bins
            FROM bc JOIN st USING (event_type) GROUP BY 1),
          j AS (
            SELECT st.event_type, n, mn, mx, ex.*, es.*
            FROM st JOIN ex USING (event_type) JOIN es USING (event_type)),
          stacked AS ($arms)
          SELECT event_type, n, mn, mx, pct, exact_cents,
            mn + (bin * (mx - mn + 1) + 127) // 128 AS est_cents,
            (mx - mn + 128) // 128 AS bin_w,
            exact_cents - (mn + (bin * (mx - mn + 1) + 127) // 128) AS err,
            exact_cents - (mn + (bin * (mx - mn + 1) + 127) // 128) >= 0
              AND exact_cents - (mn + (bin * (mx - mn + 1) + 127) // 128)
                  <= (mx - mn + 128) // 128 AS within_bin
          FROM stacked ORDER BY event_type, pct"""
    }),

    // Day-of-week seasonality profile + EXACT chi-square uniformity
    // statistic (does this event type have a weekly rhythm, and how
    // strong?): the 7 DOW bins come from a conditional-sum pivot
    // inside ONE per-type aggregate — no densification join, zero-
    // count bins are first-class (a groupBy(dow) would silently drop
    // them and understate chi²) — so events passes through exactly
    // one scan and one bounded type-keyed shuffle. χ² against the
    // uniform null is Σ(O−n/7)²/(n/7) = Σ(7·O_d−n)²/(7n), an exact
    // integer identity computed in DECIMAL(38,0) mills ((7O−n)² ≤
    // 36n² overflows int64 at real event volumes); the 35-row
    // profile carries per-bin floor-mills shares. Spark dayofweek is
    // 1-7 (Sun=1), DuckDB's 0-6 (Sun=0) — the −1 shift is the parity
    // contract.
    Query("q155_dow_seasonality", (s, dir) => {
      val dows = 0 to 6
      val perType = t(s, dir, "events")
        .select(col("event_type"),
          (dayofweek(col("ts").cast("date")) - 1).cast("long").as("dw"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          dows.map(d => sum(when(col("dw") === d, 1L).otherwise(0L))
            .as(s"o$d")): _*)
      val sq = dows.map(d =>
        s"""CAST(7 * o$d - n AS DECIMAL(38,0))
            * CAST(7 * o$d - n AS DECIMAL(38,0))""").mkString(" + ")
      val stacked = dows.map(d => s"${d}L, o$d").mkString(", ")
      perType
        .withColumn("chi2_mills",
          expr(s"CAST((1000 * ($sq)) div (7 * CAST(n AS DECIMAL(38,0))) AS LONG)"))
        .select(Seq(col("event_type"), col("n").as("n_events"),
          col("chi2_mills"),
          expr(s"stack(7, $stacked)").as(Seq("dow", "n_dow"))): _*)
        .withColumn("share_mills", expr("(1000 * n_dow) div n_events"))
        .orderBy("event_type", "dow")
    }, {
      // same conditional-sum pivot (zero-count bins first-class) +
      // the same Σ(7O−n)²/(7n) integer identity; the 7-way UNION ALL
      // unpivot is the stack() twin
      val os = (0 to 6).map(d =>
        s"CAST(sum(CASE WHEN dw = $d THEN 1 ELSE 0 END) AS BIGINT) AS o$d")
        .mkString(", ")
      val sq = (0 to 6).map(d =>
        s"CAST(7 * o$d - n AS HUGEINT) * CAST(7 * o$d - n AS HUGEINT)")
        .mkString(" + ")
      val arms = (0 to 6).map(d =>
        s"""SELECT event_type, n AS n_events, chi2_mills,
              CAST($d AS BIGINT) AS dow, o$d AS n_dow FROM c""")
        .mkString(" UNION ALL ")
      s"""WITH p AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n, $os
           FROM (SELECT event_type, dayofweek(CAST(ts AS DATE)) AS dw
                 FROM events)
           GROUP BY 1),
         c AS (
           SELECT event_type, n,
             CAST((1000 * ($sq)) // (7 * CAST(n AS HUGEINT)) AS BIGINT)
               AS chi2_mills,
             o0, o1, o2, o3, o4, o5, o6
           FROM p)
         SELECT event_type, n_events, chi2_mills, dow,
           n_dow, (1000 * n_dow) // n_events AS share_mills
         FROM ($arms) ORDER BY event_type, dow"""
    }),

    // Daily trend regression (is this metric growing?): per event
    // type the EXACT ordinary-least-squares slope of daily counts
    // over the day index, in trunc-mills per day, plus r² fit
    // strength in mills — all in integer arithmetic. One events scan
    // → bounded (type × day) grid → per-type min-day rebase (window
    // over the GRID, so x stays small and every magnitude is
    // day-span × daily-count bounded) → one 5-sum agg; slope =
    // (n·Σxy − Σx·Σy)/(n·Σx² − Σx²) and r² = num²/(den·denY) in
    // DECIMAL(38,0) (HUGEINT twin): with x ≤ ~10⁴ days and daily
    // counts ≤ ~10¹⁰, num ≤ ~10¹⁷ so num²·1000 stays inside 38
    // digits. Both engines truncate division toward zero, so signed
    // slopes agree exactly. Types seen on a single day are excluded
    // (den = 0, no trend is defined); constant-count types report a
    // perfect flat fit (r² = 1000 by convention, both sides).
    Query("q154_daily_trend", (s, dir) => {
      val grid = t(s, dir, "events")
        .groupBy(col("event_type"),
          expr("CAST(datediff(CAST(ts AS DATE), DATE'1970-01-01') AS LONG)")
            .as("day"))
        .agg(count(lit(1)).as("y"))
      val rebased = grid.select(col("event_type"),
        (col("day") -
          min(col("day")).over(Window.partitionBy("event_type"))).as("x"),
        col("y"))
      rebased.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum(col("y")).as("n_events"),
          sum(col("x")).as("sx"),
          // products in DECIMAL(38,0) (the q193 discipline): y is a
          // daily count, so a plain long y*y silently wraps past 2^63
          // at ~3e9 events/day — inside this query's own envelope
          sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
          sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
          sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
        .where(col("n_days") >= 2)
        .select(col("event_type"), col("n_days"), col("n_events"),
          expr("""CAST(((CAST(n_days AS DECIMAL(38,0)) * sxy
                    - CAST(sx AS DECIMAL(38,0)) * n_events) * 1000)
                  div (CAST(n_days AS DECIMAL(38,0)) * sxx
                    - CAST(sx AS DECIMAL(38,0)) * sx) AS LONG)""")
            .as("slope_mills_per_day"),
          expr("""CASE WHEN CAST(n_days AS DECIMAL(38,0)) * syy
                    - CAST(n_events AS DECIMAL(38,0)) * n_events = 0
              THEN 1000
              ELSE CAST(((CAST(n_days AS DECIMAL(38,0)) * sxy
                    - CAST(sx AS DECIMAL(38,0)) * n_events)
                  * (CAST(n_days AS DECIMAL(38,0)) * sxy
                    - CAST(sx AS DECIMAL(38,0)) * n_events) * 1000)
                div ((CAST(n_days AS DECIMAL(38,0)) * sxx
                    - CAST(sx AS DECIMAL(38,0)) * sx)
                  * (CAST(n_days AS DECIMAL(38,0)) * syy
                    - CAST(n_events AS DECIMAL(38,0)) * n_events))
                AS LONG) END""").as("r2_mills"))
        .orderBy("event_type")
    },
      // same rebase + 5-sum OLS algebra; HUGEINT twins DECIMAL(38,0),
      // both divisions truncate toward zero so signed slopes agree
      """WITH g AS (
           SELECT event_type,
             CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
               AS BIGINT) AS day,
             CAST(count(*) AS BIGINT) AS y
           FROM events GROUP BY 1, 2),
         x AS (
           SELECT event_type,
             day - min(day) OVER (PARTITION BY event_type) AS x, y
           FROM g),
         a AS (
           SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(y) AS BIGINT) AS n_events,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
           FROM x GROUP BY 1 HAVING count(*) >= 2)
         SELECT event_type, n_days, n_events,
           CAST(((CAST(n_days AS HUGEINT) * sxy
                 - CAST(sx AS HUGEINT) * n_events) * 1000)
             // (CAST(n_days AS HUGEINT) * sxx
                 - CAST(sx AS HUGEINT) * sx) AS BIGINT)
             AS slope_mills_per_day,
           CASE WHEN CAST(n_days AS HUGEINT) * syy
                 - CAST(n_events AS HUGEINT) * n_events = 0
             THEN 1000
             ELSE CAST(((CAST(n_days AS HUGEINT) * sxy
                   - CAST(sx AS HUGEINT) * n_events)
                 * (CAST(n_days AS HUGEINT) * sxy
                   - CAST(sx AS HUGEINT) * n_events) * 1000)
               // ((CAST(n_days AS HUGEINT) * sxx
                   - CAST(sx AS HUGEINT) * sx)
                 * (CAST(n_days AS HUGEINT) * syy
                   - CAST(n_events AS HUGEINT) * n_events)) AS BIGINT)
             END AS r2_mills
         FROM a ORDER BY 1"""),

    // Robust outlier report (median / MAD, the outlier method that
    // survives the skewed long-tails z-scores choke on): per event
    // type the EXACT median value, the EXACT median absolute
    // deviation, and how many events sit beyond the classic 3×MAD
    // fence. Both medians ride the q57 histogram-selection kernel
    // (windows over value cardinality, never event rows); the
    // deviation HISTOGRAM answers both the MAD selection and the
    // fence count. The median table and the deviation histogram are
    // eagerly localCheckpoint-anchored (the q53/q89 bounded-anchor
    // pattern — one row per type; type × distinct deviations): each
    // is referenced twice downstream and would otherwise re-derive
    // its whole upstream per reference, so the anchors pin events to
    // exactly TWO scans. Medians broadcast back on the bounded type
    // key. Null values excluded on both sides (engine null-sort
    // order differs).
    Query("q153_mad_outliers", (s, dir) => {
      val v = t(s, dir, "events")
        .where(col("value").isNotNull)
        .select(col("event_type"), cents(col("value")).as("v"))
      val wv = Window.partitionBy("event_type").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
      val med = v.groupBy(col("event_type"), col("v"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(wv))
        .withColumn("n",
          sum(col("cnt")).over(Window.partitionBy("event_type")))
        .groupBy("event_type")
        .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col("v")))
          .as("median_cents"))
        .localCheckpoint(true)
      val hd = v.join(broadcast(med), Seq("event_type"))
        .select(col("event_type"),
          abs(col("v") - col("median_cents")).as("d"))
        .groupBy("event_type", "d").agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true)
      val wd = Window.partitionBy("event_type").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
      val mad = hd
        .withColumn("cum", sum(col("cnt")).over(wd))
        .withColumn("n",
          sum(col("cnt")).over(Window.partitionBy("event_type")))
        .groupBy("event_type")
        .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col("d")))
          .as("mad_cents"), max(col("n")).as("n_events"))
      hd.join(broadcast(mad), Seq("event_type"))
        .join(broadcast(med), Seq("event_type"))
        .groupBy("event_type")
        .agg(max(col("n_events")).as("n_events"),
          max(col("median_cents")).as("median_cents"),
          max(col("mad_cents")).as("mad_cents"),
          coalesce(sum(when(col("d") > lit(3) * col("mad_cents"),
            col("cnt"))), lit(0L)).as("n_outliers"))
        .withColumn("outlier_mills",
          expr("(1000 * n_outliers) div n_events"))
        .orderBy("event_type")
    },
      // same two histogram-selection chains + the same 3×MAD fence
      """WITH v AS (
           SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v
           FROM events WHERE value IS NOT NULL),
         h AS (
           SELECT event_type, v, CAST(count(*) AS BIGINT) AS cnt
           FROM v GROUP BY 1, 2),
         m AS (
           SELECT event_type,
             min(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS median_cents
           FROM (SELECT event_type, v, cnt,
               sum(cnt) OVER (PARTITION BY event_type ORDER BY v
                 ROWS UNBOUNDED PRECEDING) AS cum,
               sum(cnt) OVER (PARTITION BY event_type) AS n
             FROM h)
           GROUP BY 1),
         hd AS (
           SELECT v.event_type, abs(v.v - m.median_cents) AS d,
             CAST(count(*) AS BIGINT) AS cnt
           FROM v JOIN m USING (event_type) GROUP BY 1, 2),
         md AS (
           SELECT event_type,
             min(CASE WHEN cum >= (n + 1) // 2 THEN d END) AS mad_cents,
             max(n) AS n_events
           FROM (SELECT event_type, d, cnt,
               sum(cnt) OVER (PARTITION BY event_type ORDER BY d
                 ROWS UNBOUNDED PRECEDING) AS cum,
               sum(cnt) OVER (PARTITION BY event_type) AS n
             FROM hd)
           GROUP BY 1)
         SELECT hd.event_type,
           CAST(max(md.n_events) AS BIGINT) AS n_events,
           CAST(max(m.median_cents) AS BIGINT) AS median_cents,
           CAST(max(md.mad_cents) AS BIGINT) AS mad_cents,
           CAST(coalesce(sum(CASE WHEN hd.d > 3 * md.mad_cents
             THEN hd.cnt END), 0) AS BIGINT) AS n_outliers,
           CAST((1000 * coalesce(sum(CASE WHEN hd.d > 3 * md.mad_cents
             THEN hd.cnt END), 0)) // max(md.n_events) AS BIGINT)
             AS outlier_mills
         FROM hd
         JOIN md USING (event_type) JOIN m USING (event_type)
         GROUP BY 1 ORDER BY 1"""),

    // ABC / Pareto analysis (the 80/95 revenue-concentration report):
    // per-part discounted revenue, parts banded A/B/C by where the
    // revenue-DESC cumulative mass crosses 80% / 95% of total. The
    // banding is VALUE-level (every part with the same revenue gets
    // the same class — tie-invariant, no per-part global rank): one
    // partkey hash agg, one value-histogram agg, cum/total windows
    // over the HISTOGRAM (distinct revenue values, never part rows),
    // then a 3-row class rollup — bounded output end to end, lineitem
    // scanned once. Threshold compares and the share division run in
    // DECIMAL(38,0) (HUGEINT in the oracle): 1000×cum overflows int64
    // at real-warehouse revenue sums.
    Query("q152_abc_pareto", (s, dir) => {
      val pr = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(revenueCents).as("rev"))
      val h = pr.groupBy("rev")
        .agg(count(lit(1)).as("n_parts"),
          (col("rev") * count(lit(1))).as("mass"))
      val wc = Window.orderBy(col("rev").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      h
        .withColumn("cum", sum(col("mass")).over(wc))
        .withColumn("total",
          sum(col("mass")).over(Window.partitionBy(lit(1))))
        .withColumn("abc_class",
          when(expr(
            "CAST(cum AS DECIMAL(38,0)) * 1000 <= CAST(total AS DECIMAL(38,0)) * 800"),
            lit("A"))
            .when(expr(
              "CAST(cum AS DECIMAL(38,0)) * 1000 <= CAST(total AS DECIMAL(38,0)) * 950"),
              lit("B"))
            .otherwise(lit("C")))
        .groupBy("abc_class")
        .agg(sum(col("n_parts")).as("n_parts"),
          sum(col("mass")).as("revenue_cents"),
          expr("""CAST((CAST(sum(mass) AS DECIMAL(38,0)) * 1000)
                   div CAST(max(total) AS DECIMAL(38,0)) AS LONG)""")
            .as("share_mills"))
        .orderBy("abc_class")
    },
      // same value-level banding over the revenue histogram; HUGEINT
      // is the twin of Spark's DECIMAL(38,0) exact threshold/share math
      s"""WITH pr AS (
           SELECT l_partkey, $revenueCentsSumSql AS rev
           FROM lineitem GROUP BY 1),
         h AS (
           SELECT rev, CAST(count(*) AS BIGINT) AS n_parts,
             CAST(rev * count(*) AS BIGINT) AS mass
           FROM pr GROUP BY 1),
         c AS (
           SELECT n_parts, mass,
             sum(mass) OVER (ORDER BY rev DESC ROWS UNBOUNDED PRECEDING)
               AS cum,
             sum(mass) OVER () AS total
           FROM h),
         cls AS (
           SELECT CASE
               WHEN CAST(cum AS HUGEINT) * 1000
                 <= CAST(total AS HUGEINT) * 800 THEN 'A'
               WHEN CAST(cum AS HUGEINT) * 1000
                 <= CAST(total AS HUGEINT) * 950 THEN 'B'
               ELSE 'C' END AS abc_class,
             n_parts, mass, total
           FROM c)
         SELECT abc_class,
           CAST(sum(n_parts) AS BIGINT) AS n_parts,
           CAST(sum(mass) AS BIGINT) AS revenue_cents,
           CAST((CAST(sum(mass) AS HUGEINT) * 1000)
             // CAST(max(total) AS HUGEINT) AS BIGINT) AS share_mills
         FROM cls GROUP BY 1 ORDER BY 1"""),

    // U1/U2 — union distinct of two selection branches.
    Query("q24_union_orders", (s, dir) => {
      val o = t(s, dir, "orders")
      o.where(col("o_totalprice") >= 250000).select("o_orderkey")
        .union(o.where(col("o_orderpriority") === "1-URGENT").select("o_orderkey"))
        .distinct()
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey FROM orders WHERE o_totalprice >= 250000
         UNION
         SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
         ORDER BY o_orderkey"""),

    // S6/J4 — set-oriented MERGE: full-outer reconcile of two snapshots.
    Query("q25_merge_snapshots", (s, dir) => {
      val o = t(s, dir, "orders")
      val old = o.where(col("o_orderkey") % 3 <= 1)
        .select(col("o_orderkey").as("key"), cents(col("o_totalprice")).as("old_cents"))
      val neu = o.where(col("o_orderkey") % 3 >= 1)
        .select(col("o_orderkey").as("key"), (cents(col("o_totalprice")) + 100).as("new_cents"))
      old.join(neu, Seq("key"), "full_outer")
        .withColumn("action",
          when(col("old_cents").isNotNull && col("new_cents").isNotNull, "update")
            .when(col("new_cents").isNotNull, "insert")
            .otherwise("delete"))
        .withColumn("merged_cents", coalesce(col("new_cents"), col("old_cents")))
        .select("key", "action", "merged_cents")
        .orderBy("key")
    },
      """WITH old AS (
           SELECT o_orderkey AS key, CAST(floor(o_totalprice * 100) AS BIGINT) AS old_cents
           FROM orders WHERE o_orderkey % 3 <= 1),
         neu AS (
           SELECT o_orderkey AS key, CAST(floor(o_totalprice * 100) AS BIGINT) + 100 AS new_cents
           FROM orders WHERE o_orderkey % 3 >= 1)
         SELECT coalesce(old.key, neu.key) AS key,
           CASE WHEN old_cents IS NOT NULL AND new_cents IS NOT NULL THEN 'update'
                WHEN new_cents IS NOT NULL THEN 'insert' ELSE 'delete' END AS action,
           coalesce(new_cents, old_cents) AS merged_cents
         FROM old FULL OUTER JOIN neu ON old.key = neu.key
         ORDER BY key"""),

    // A9 — grouped distinct-set aggregation rendered as a stable string.
    Query("q26_segments_by_nation", (s, dir) => {
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(
          concat_ws(",", array_sort(collect_set(col("c_mktsegment")))).as("segments"),
          count(lit(1)).as("n_customers"))
        .orderBy("n_name")
    },
      """SELECT n_name,
         array_to_string(list_sort(list_distinct(list(c_mktsegment))), ',') AS segments,
         count(*) AS n_customers
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name"""),

    // A5 — distinct sorted value list.
    Query("q27_distinct_segments", (s, dir) => {
      t(s, dir, "customer").select("c_mktsegment").distinct().orderBy("c_mktsegment")
    },
      """SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment"""),

    // A4/A10 — global stats in one aggregate.
    Query("q28_global_stats", (s, dir) => {
      t(s, dir, "lineitem")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_suppliers"))
    },
      """SELECT count(*) AS n_rows, CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
         count(DISTINCT l_partkey) AS n_parts,
         count(DISTINCT l_suppkey) AS n_suppliers
         FROM lineitem"""),

    // SCD2 history build: each user's event_type change log collapsed
    // into validity-interval versions (Scd2.buildHistory — one shuffle
    // on user_id; lag/collapse/lead all reuse it). valid_* as exact
    // epoch micros; nullable valid_to coalesced to the -1 sentinel.
    Query("q82_scd2_history", (s, dir) => {
      graft.operators.Scd2.buildHistory(t(s, dir, "events"),
          keys = Seq("user_id"), attrs = Seq("event_type"),
          tsCol = "ts", tieCols = Seq("event_id"))
        .select(col("user_id"), col("version_no"), col("event_type"),
          unix_micros(col("valid_from")).as("from_us"),
          coalesce(unix_micros(col("valid_to")), lit(-1L)).as("to_us"),
          col("is_current"), col("n_rows"))
        .orderBy("user_id", "version_no")
    },
      // DuckDB reads events.ts at MICRO precision, so epoch_us(ts) is the
      // exact twin of Spark's `ts div 1000` (Tables) + unix_micros.
      // change = IS DISTINCT FROM (null-safe, like Spark's <=> negation)
      // OR first-row-of-key (lag(1) IS NULL — a first row with a null
      // attribute must still open version 1, matching Scd2.buildHistory);
      // valid_to is ordered by version_no so same-ts boundaries stay
      // deterministic; grouping by event_type directly is safe because
      // the attribute is constant within a version; is_current is the
      // structural last version (lead(1) IS NULL), not valid_to IS NULL,
      // matching the operator's null-ts contract.
      s"""WITH ${scd2HistoryCtes("events")}
         SELECT user_id, version_no, event_type,
           epoch_us(vf) AS from_us,
           coalesce(epoch_us(lead(vf) OVER
             (PARTITION BY user_id ORDER BY version_no)), -1) AS to_us,
           lead(1) OVER (PARTITION BY user_id ORDER BY version_no)
             IS NULL AS is_current,
           n_rows
         FROM hist ORDER BY user_id, version_no"""),

    // Point-in-time SCD2 lookup — "what was the user's state when they
    // purchased": history built from the non-purchase event stream
    // (q82's operator), then the as-of pick (q80's operator). For
    // SCD2's half-open partition of [first_version, ∞) the backward
    // as-of on valid_from IS the containment lookup — one ordered
    // window over one exchange, no interval explode, no range join.
    Query("q103_pit_lookup", (s, dir) => {
      val ev = t(s, dir, "events")
      val hist = graft.operators.Scd2.buildHistory(
          ev.where(col("event_type") =!= "purchase"),
          keys = Seq("user_id"), attrs = Seq("event_type"),
          tsCol = "ts", tieCols = Seq("event_id"))
        .select(col("user_id"), unix_micros(col("valid_from")).as("ts_us"),
          col("version_no"), col("event_type").as("state_type"))
      val probe = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"))
      graft.operators.AsofJoin.asofBackward(probe, hist, Seq("user_id"),
          "ts_us", Seq("version_no", "state_type"), "m_")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          coalesce(col("m_version_no"), lit(-1L)).as("m_version_no"),
          coalesce(col("m_state_type"), lit("none")).as("m_state_type"))
        .orderBy("event_id")
    },
      // the history recompute (shared scd2HistoryCtes, here over the
      // non-purchase state stream) + DuckDB's native ASOF for the
      // point-in-time pick — an independent derivation of the engine's
      // buildHistory ∘ asofBackward composition
      s"""WITH ${scd2HistoryCtes(
             "(SELECT * FROM events WHERE event_type <> 'purchase')")},
         p AS (
           SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase')
         SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
           coalesce(h.version_no, -1) AS m_version_no,
           coalesce(h.state_type, 'none') AS m_state_type
         FROM p ASOF LEFT JOIN
           (SELECT user_id, vf, version_no, event_type AS state_type
            FROM hist) h
           ON p.user_id = h.user_id AND p.ts >= h.vf
         ORDER BY p.event_id"""),

    // Grouping-set ROLLUP with subtotal provenance: one pass produces
    // the detail cells, per-flag subtotals, and the grand total, each
    // tagged by the grouping_id bitmask (first listed key = high bit —
    // the ANSI semantics both engines implement). At 100 TB this is the
    // "report all levels without N scans" shape: Spark expands the
    // grouping sets BEFORE the exchange, so partial aggregation still
    // combines map-side and the scan runs once. Rollup-null keys are
    // coalesced to a sentinel ('ALL') so subtotal rows sort and hash
    // deterministically and real NULL keys (none here) stay separable
    // via gid.
    Query("q131_rollup_totals", (s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
          grouping_id().cast("long").as("gid"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(revenueCents).as("revenue_cents"),
          count(lit(1)).as("n_rows"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("gid"), col("sum_qty"), col("revenue_cents"), col("n_rows"))
        .orderBy("gid", "rf", "ls")
    },
      // same ANSI ROLLUP + GROUPING bitmask (first key = high bit in
      // both engines), same sentinel coalesce
      s"""SELECT coalesce(l_returnflag, 'ALL') AS rf,
           coalesce(l_linestatus, 'ALL') AS ls,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           ${revenueCentsSumSql} AS revenue_cents,
           count(*) AS n_rows
         FROM lineitem
         GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY gid, rf, ls"""),

    // Market-segment × order-status pivot (wide matrix report): an
    // explicit pivot value list keeps the output schema static — the
    // only 100 TB-safe pivot (value discovery would need a pre-scan and
    // makes the schema data-dependent). Spark lowers this to a
    // (segment, status) cell agg + a pivotfirst agg on segment — two
    // exchanges, but BOTH ship post-partial-agg rows bounded by the
    // |segments|·|statuses| cell grid, so the data-sized work is one
    // scan + one map-side combine (plan contract in
    // PlanAssertionsSpec). The oracle is the manual conditional-agg
    // twin — same cells, same values.
    Query("q132_pivot_matrix", (s, dir) => {
      val oc = t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), col("o_orderstatus"),
          cents(col("o_totalprice")).as("price_cents"))
      oc.groupBy("c_mktsegment")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("cents"))
        .select(
          col("c_mktsegment"),
          // PivotFirst emits NULL for a never-seen (segment, status)
          // cell; the oracle's count(*) FILTER returns 0 — coalesce
          // counts like the cents columns
          coalesce(col("F_n"), lit(0L)).as("n_f"),
          coalesce(col("O_n"), lit(0L)).as("n_o"),
          coalesce(col("P_n"), lit(0L)).as("n_p"),
          coalesce(col("F_cents"), lit(0L)).as("cents_f"),
          coalesce(col("O_cents"), lit(0L)).as("cents_o"),
          coalesce(col("P_cents"), lit(0L)).as("cents_p"))
        .orderBy("c_mktsegment")
    },
      // manual conditional aggregation — the exact plan Spark compiles
      // the static-value pivot to
      """SELECT c_mktsegment,
           CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_f,
           CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_o,
           CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_p,
           CAST(coalesce(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
             FILTER (o_orderstatus = 'F'), 0) AS BIGINT) AS cents_f,
           CAST(coalesce(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
             FILTER (o_orderstatus = 'O'), 0) AS BIGINT) AS cents_o,
           CAST(coalesce(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
             FILTER (o_orderstatus = 'P'), 0) AS BIGINT) AS cents_p
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // Data-quality column profiler: per configured column, row count,
    // raw nulls, blank-ish tokens (the q02 normEmpty rule), distinct
    // values and length envelope — the profile a 100 TB ingest job
    // publishes before anything downstream trusts the table. ONE scan:
    // the columns unpivot via explode(array(struct..)) so Spark reads
    // the table once and hash-aggs on the tiny col_name key; the oracle
    // is a per-column UNION ALL generated from the SAME column list
    // (ProfileCols) so the twins cannot drift.
    Query("q133_column_profile", (s, dir) => {
      val cells = ProfileCols.map(c =>
        struct(lit(c).as("col_name"), col(c).cast("string").as("v")))
      t(s, dir, "documents")
        .select(explode(array(cells: _*)).as("cell"))
        .select(col("cell.col_name").as("col_name"), col("cell.v").as("v"))
        .groupBy("col_name")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
          sum(when(Normalize.normEmpty(col("v")).isNull, 1L).otherwise(0L))
            .as("n_blankish"),
          countDistinct(col("v")).as("n_distinct"),
          min(length(col("v"))).cast("long").as("min_len"),
          max(length(col("v"))).cast("long").as("max_len"),
          sum(length(col("v")).cast("long")).as("len_sum"))
        .withColumn("avg_len_mills",
          expr("(1000 * len_sum) div nullif(n_rows - n_null, 0)"))
        .orderBy("col_name")
    },
      (ProfileCols.map(profileSql).mkString(" UNION ALL ") +
        " ORDER BY col_name")),

    // Gaps-and-islands: per customer, runs of CONSECUTIVE order months
    // (month index − row_number over distinct months is constant within
    // a run — the classic islands identity). Rolled up to one row per
    // customer (longest streak, streak count, active months) so the
    // output is customer-bounded. Two exchanges by design: the month
    // dedup ships PARTIAL-AGG'D distinct (custkey, mi) pairs — cheaper
    // at scale than funnelling raw order rows through one custkey
    // exchange — then the window's custkey exchange is REUSED by both
    // the (custkey, grp) run grouping and the final per-customer rollup
    // (subset partitioning satisfies both; plan contract pins no third
    // exchange).
    Query("q134_order_streaks", (s, dir) => {
      val mi = t(s, dir, "orders")
        .select(col("o_custkey"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("mi"))
        .distinct()
      val w = Window.partitionBy("o_custkey").orderBy("mi")
      mi.withColumn("grp", col("mi") - row_number().over(w))
        .groupBy("o_custkey", "grp")
        .agg(count(lit(1)).as("len"))
        .groupBy("o_custkey")
        .agg(max(col("len")).as("max_streak"),
          count(lit(1)).as("n_streaks"),
          sum(col("len")).as("n_active_months"))
        .orderBy("o_custkey")
    },
      """WITH mi AS (
           SELECT DISTINCT o_custkey,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mi
           FROM orders),
         g AS (
           SELECT o_custkey, mi,
             mi - row_number() OVER (PARTITION BY o_custkey ORDER BY mi) AS grp
           FROM mi),
         runs AS (
           SELECT o_custkey, grp, CAST(count(*) AS BIGINT) AS len
           FROM g GROUP BY 1, 2)
         SELECT o_custkey, max(len) AS max_streak,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(sum(len) AS BIGINT) AS n_active_months
         FROM runs GROUP BY o_custkey ORDER BY o_custkey"""),

    // Market-basket co-purchase pairs: per-order part sets (bounded by
    // items/order) generate ordered pairs ARRAY-SIDE — the q129
    // pattern — so the pair mass is Σ k_o², never |lineitem|²; one
    // exchange on the order key, one on the pair key, then a
    // TakeOrdered top-K with a full deterministic tie-break. The
    // oracle is the NAIVE pair self-join twin: parity proves the
    // array-side generation lossless and duplicate-free.
    Query("q141_copurchase_pairs", (s, dir) =>
      coPairCounts(s, dir)
        .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
        .limit(CoPairTopK),
      s"""WITH $coPairSql
         SELECT part_a, part_b, n_orders FROM cp
         ORDER BY n_orders DESC, part_a, part_b LIMIT $CoPairTopK"""),

    // Triangle count on the co-purchase graph (edges = pairs with
    // support ≥ CoPairMinSupport) via the DEGREE-ORIENTED algorithm
    // (Suri & Vassilvitskii 2011): rank vertices by (degree, id),
    // orient every edge low→high rank, enumerate wedges at each
    // source (work Σ outdeg² = O(m^1.5), never Σ deg² — the hub
    // explosion a naive wedge join hits), and close them against the
    // oriented edge set, counting each triangle exactly once. The
    // vertex-rank window rides the parts-bounded frame; the rank
    // table broadcasts back. Oracle = the NAIVE 3-way self-join —
    // parity proves the orientation logic, not just the plumbing.
    Query("q142_triangle_count", (s, dir) => {
      // eager pin on the support-thinned edge frame (parts-bounded,
      // tiny): deg/oriented/closure reference it ~6 times, and without
      // the cut each reference re-runs the corpus-sized pair-generation
      // subtree when exchange reuse doesn't cover it (the q165
      // precedent: 5.0 s -> 2.7 s from the same pin)
      val edges = coPairCounts(s, dir)
        .where(col("n_orders") >= CoPairMinSupport)
        .select(col("part_a"), col("part_b"))
        .localCheckpoint(true)
      val deg = edges.select(col("part_a").as("v"))
        .unionByName(edges.select(col("part_b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      // vertex frame is parts-bounded: the global rank window is the
      // documented strata-bounded shape (q136 precedent)
      val rk = deg.withColumn("r",
        row_number().over(Window.orderBy(col("deg"), col("v"))))
        .select(col("v"), col("r"))
      val oriented = edges
        .join(broadcast(rk).withColumnRenamed("v", "part_a")
          .withColumnRenamed("r", "ra"), Seq("part_a"))
        .join(broadcast(rk).withColumnRenamed("v", "part_b")
          .withColumnRenamed("r", "rb"), Seq("part_b"))
        .select(
          when(col("ra") < col("rb"), col("part_a")).otherwise(col("part_b"))
            .as("src"),
          when(col("ra") < col("rb"), col("part_b")).otherwise(col("part_a"))
            .as("dst"),
          least(col("ra"), col("rb")).as("rs"),
          greatest(col("ra"), col("rb")).as("rd"))
      val wedges = oriented.as("e1")
        .join(oriented.as("e2"),
          col("e1.src") === col("e2.src") && col("e1.rd") < col("e2.rd"))
        .select(col("e1.dst").as("wa"), col("e2.dst").as("wb"))
      val tri = wedges.join(oriented,
        col("wa") === col("src") && col("wb") === col("dst"), "left_semi")
      edges.agg(count(lit(1)).as("n_edges"))
        .crossJoin(broadcast(tri.agg(count(lit(1)).as("n_triangles"))))
    },
      // the naive 3-way self-join counts each a<b<c triangle once —
      // an INDEPENDENT twin of the engine's degree-oriented algorithm
      s"""WITH $coPairSql,
         e AS (SELECT part_a, part_b FROM cp
               WHERE n_orders >= $CoPairMinSupport)
         SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT count(*) FROM e e1
             JOIN e e2 ON e1.part_a = e2.part_a AND e1.part_b < e2.part_b
             JOIN e e3 ON e3.part_a = e1.part_b AND e3.part_b = e2.part_b)
             AS BIGINT) AS n_triangles"""),

    // PageRank (Brin & Page 1998) on the symmetric co-purchase graph,
    // in EXACT INTEGER micro-units: p'(v) = (150·(10⁶ div N) +
    // 850·Σ_{u→v} (p(u) div outdeg(u))) div 1000 — every division is
    // integer floor in BOTH engines, so PrIters unrolled rounds are
    // bit-identical, no float accumulation order anywhere. Each round
    // is the standard message-passing shape: edges ⋈ ranks on src →
    // hash agg on dst — one keyed shuffle per round on an edge frame
    // the support floor keeps parts-bounded; N and the teleport base
    // ride a 1-row broadcast.
    Query("q143_pagerank", (s, dir) => {
      val cp = coPairCounts(s, dir)
        .where(col("n_orders") >= CoPairMinSupport)
      // Round-14 OPT (the q165 shape): the fully-lazy chain re-derived
      // the pair generation from parquet once per round — the explain
      // showed 60 parquet scans / 160 Exchanges at 6 rounds, held
      // together only by runtime exchange reuse. ONE src-partitioned,
      // src-sorted eager checkpoint of the symmetric edge frame makes
      // every round's src-keyed join (and the degree agg) exchange- and
      // sort-free on the edge side. Per-round checkpoints of p still
      // HURT (measured 2.3 s → 6.8 s — p appears once per round, the
      // chain is linear); only the shared edge frame is pinned.
      val e = cp.select(col("part_a").as("src"), col("part_b").as("dst"))
        .unionByName(
          cp.select(col("part_b").as("src"), col("part_a").as("dst")))
        .repartition(col("src")).sortWithinPartitions("src")
        .localCheckpoint(true)
      // vertex-sized, referenced by n1 + ed + p0 + the final join —
      // pinned so the rounds' lazy chain scans an RDD, not re-aggs
      val deg = e.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
        .localCheckpoint(true)
      val n1 = deg.agg(count(lit(1)).as("n"))
      // edge frame pre-joined with the source outdeg: per round only
      // the rank table changes
      val ed = e.join(deg.withColumnRenamed("v", "src"), Seq("src"))
      var p = deg.crossJoin(broadcast(n1))
        .select(col("v"), expr("1000000L div n").as("p"))
      // Round-14 OPT: the old per-round `deg.select(v) ⟕ contrib` merge
      // (2 joins + coalesce per round) is provably TOTAL on this graph:
      // e is symmetric, so every deg vertex has an in-edge whose source
      // carries a p row (p0 covers all of deg; induction per round) —
      // contrib covers every vertex and coalesce(c, 0L) never fired.
      // The teleport fold therefore rides the contribution aggregate
      // directly: one src-keyed join (edge side exchange-free off the
      // checkpoint) + one dst-keyed partial-agg exchange per round.
      (1 to PrIters).foreach { _ =>
        p = ed.join(p.withColumnRenamed("v", "src"), Seq("src"))
          .select(col("dst").as("v"), expr("p div deg").as("c"))
          .groupBy("v").agg(sum(col("c")).as("c"))
          .crossJoin(broadcast(n1))
          .select(col("v"),
            expr("(150 * (1000000L div n) + 850 * c) div 1000").as("p"))
      }
      p.join(deg, Seq("v"))
        .select(col("v").as("part"), col("p").as("pr_micros"),
          col("deg").as("degree"))
        .orderBy("part")
    }, {
      // identical unrolled integer rounds ( // is DuckDB's floor div,
      // the twin of Spark's div on non-negative longs)
      val rounds = (1 to PrIters).map { k =>
        s"""c$k AS (
             SELECT e.dst AS v, sum(p${k - 1}.p // d2.deg) AS c
             FROM e JOIN p${k - 1} ON e.src = p${k - 1}.v
               JOIN d d2 ON e.src = d2.v
             GROUP BY 1),
           p$k AS (
             SELECT d.v,
               (150 * (1000000 // nn.n) + 850 * coalesce(c$k.c, 0)) // 1000
                 AS p
             FROM d CROSS JOIN nn LEFT JOIN c$k ON d.v = c$k.v)"""
      }.mkString(",\n")
      s"""WITH $coPairSql,
         ed AS (SELECT part_a, part_b FROM cp
                WHERE n_orders >= $CoPairMinSupport),
         e AS (SELECT part_a AS src, part_b AS dst FROM ed
               UNION ALL SELECT part_b, part_a FROM ed),
         d AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS deg FROM e
               GROUP BY 1),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
         p0 AS (SELECT v, 1000000 // nn.n AS p FROM d CROSS JOIN nn),
         $rounds
         SELECT p$PrIters.v AS part,
           CAST(p$PrIters.p AS BIGINT) AS pr_micros, d.deg AS degree
         FROM p$PrIters JOIN d ON p$PrIters.v = d.v
         ORDER BY part"""
    }),

    // Multi-source BFS hop distance (the traversal member of the graph
    // family: q53 components, q142 triangles, q143 PageRank): distance
    // in hops from the [[BfsSeedK]] top-degree vertices (tie-break id)
    // over the same support-thinned co-purchase graph, computed as
    // [[BfsMaxHops]] unrolled min-label rounds — each round is ONE
    // keyed shuffle of the parts-bounded edge frame joined to the
    // current frontier (the q143 message-passing shape), merged with
    // the standing labels through a full-outer min (null-safe via the
    // coalesce-pair identity, q160's precedent — no engine-specific
    // NULL semantics in least()). Vertices unreached within the hop
    // budget report −1, the honest capped-BFS answer (and the
    // harness's null-int sentinel). The seed rank window rides the
    // parts-bounded degree frame.
    Query("q165_bfs_hops", (s, dir) => {
      val cp = coPairCounts(s, dir)
        .where(col("n_orders") >= CoPairMinSupport)
      // eager checkpoint (the q53/q153 iterative-loop contract): the
      // edge frame is referenced by all BfsMaxHops rounds AND the
      // degree frame — without the cut, every round's subtree rebuilds
      // the whole per-order pair generation (measured 5.0 s → 2.7 s
      // at sf0.1). The frame is support-thinned and parts-bounded, so
      // the materialization is small. Round-14 OPT (guide §2.4 "two
      // operations keyed the same way share one exchange"): the frame
      // is repartitioned+sorted on `src` BEFORE the checkpoint —
      // localCheckpoint preserves outputPartitioning/outputOrdering in
      // the LogicalRDD, so every round's src-keyed join (and the
      // degree aggregate) reads it exchange-free AND sort-free instead
      // of re-shuffling the edge frame once per round.
      val eReal = cp.select(col("part_a").as("src"), col("part_b").as("dst"))
        .unionByName(
          cp.select(col("part_b").as("src"), col("part_a").as("dst")))
      // Round-14 OPT: the full-outer merge referenced `dist` TWICE per
      // round (once as input, once through `next`), so the lazy plan
      // tree DOUBLED every round — 2^BfsMaxHops join subtrees (the
      // explain showed 98 Exchanges / 32 SMJ / 96 RDD scans) that only
      // runtime exchange reuse kept from exploding. The merge is
      // instead folded into the message join through SELF-LOOP edges
      // (src=dst, hop increment 0): min over the messages of
      // e ∪ self-loops is exactly min(own dist + 0, neighbor dists + 1)
      // — the old coalesce-pair least() — with dist referenced ONCE per
      // round, so the plan is linear in hops and each round is one
      // vertex-keyed partial-agg exchange.
      val e = eReal.withColumn("inc", lit(1L))
        .unionByName(eReal.select(col("src")).distinct()
          .select(col("src"), col("src").as("dst"), lit(0L).as("inc")))
        .repartition(col("src")).sortWithinPartitions("src")
        .localCheckpoint(true)
      val deg = e.where(col("inc") === 1L)
        .groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
      val seeds = deg.withColumn("rn",
          row_number().over(Window.orderBy(col("deg").desc, col("v"))))
        .where(col("rn") <= BfsSeedK)
      var dist = seeds.select(col("v"), lit(0L).as("dist"))
      (1 to BfsMaxHops).foreach { _ =>
        dist = e.join(dist.withColumnRenamed("v", "src"), Seq("src"))
          .select(col("dst").as("v"), (col("dist") + col("inc")).as("dist"))
          .groupBy("v").agg(min(col("dist")).as("dist"))
      }
      deg.join(dist, Seq("v"), "left")
        .select(col("v").as("part"),
          coalesce(col("dist"), lit(-1L)).as("dist"),
          col("deg").as("degree"))
        .orderBy("part")
    }, {
      // identical unrolled min-label rounds; the coalesce-pair least
      // sidesteps any engine-specific NULL handling in least()
      val rounds = (1 to BfsMaxHops).map { k =>
        s"""n$k AS (
             SELECT e.dst AS v, min(d${k - 1}.dist) + 1 AS nd
             FROM e JOIN d${k - 1} ON e.src = d${k - 1}.v GROUP BY 1),
           d$k AS (
             SELECT coalesce(a.v, b.v) AS v,
               least(coalesce(a.dist, b.nd), coalesce(b.nd, a.dist))
                 AS dist
             FROM d${k - 1} a FULL OUTER JOIN n$k b ON a.v = b.v)"""
      }.mkString(",\n")
      s"""WITH $coPairSql,
         ed AS (SELECT part_a, part_b FROM cp
                WHERE n_orders >= $CoPairMinSupport),
         e AS (SELECT part_a AS src, part_b AS dst FROM ed
               UNION ALL SELECT part_b, part_a FROM ed),
         d AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS deg FROM e
               GROUP BY 1),
         s AS (SELECT v FROM (
                 SELECT v, row_number() OVER (ORDER BY deg DESC, v) AS rn
                 FROM d) WHERE rn <= $BfsSeedK),
         d0 AS (SELECT v, CAST(0 AS BIGINT) AS dist FROM s),
         $rounds
         SELECT d.v AS part,
           CAST(coalesce(d$BfsMaxHops.dist, -1) AS BIGINT) AS dist,
           d.deg AS degree
         FROM d LEFT JOIN d$BfsMaxHops ON d.v = d$BfsMaxHops.v
         ORDER BY part"""
    }),

    // OHLC bars (the time-series rollup every metrics store ships):
    // per (event type, day) the opening/high/low/closing value plus
    // volume — computed in ONE hash aggregate, no window: open/close
    // are min/max over the struct (ts, event_id, v), whose
    // lexicographic ordering is associative and therefore PARTIAL-
    // AGGREGABLE (each map task folds its slice; the exchange carries
    // one struct per cell) — at 100 TB this is a single combine-
    // friendly pass where the textbook row_number-window formulation
    // (the oracle, deliberately) would shuffle every event. event_id
    // breaks ts ties deterministically.
    Query("q166_ohlc_bars", (s, dir) => {
      val ev = t(s, dir, "events").select(
        col("event_type"), col("ts"), col("event_id"),
        cents(col("value")).as("v"))
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      ev.groupBy("event_type", "day").agg(
          min(struct(col("ts"), col("event_id"), col("v")))
            .getField("v").as("open_cents"),
          max(col("v")).as("high_cents"),
          min(col("v")).as("low_cents"),
          max(struct(col("ts"), col("event_id"), col("v")))
            .getField("v").as("close_cents"),
          count(lit(1)).as("n_events"),
          sum(col("v")).as("vol_cents"))
        .orderBy("event_type", "day")
    },
      // the textbook row_number formulation — a deliberately DIFFERENT
      // algorithm from the engine's struct-min/max fold, so an
      // ordering bug in the associative form cannot self-confirm
      """WITH e AS (
           SELECT event_type, ts, event_id,
             CAST(floor(value * 100) AS BIGINT) AS v,
             strftime(ts, '%Y-%m-%d') AS day
           FROM events),
         x AS (
           SELECT *,
             row_number() OVER (PARTITION BY event_type, day
               ORDER BY ts, event_id) AS rna,
             row_number() OVER (PARTITION BY event_type, day
               ORDER BY ts DESC, event_id DESC) AS rnd
           FROM e)
         SELECT event_type, day,
           CAST(max(CASE WHEN rna = 1 THEN v END) AS BIGINT) AS open_cents,
           max(v) AS high_cents, min(v) AS low_cents,
           CAST(max(CASE WHEN rnd = 1 THEN v END) AS BIGINT) AS close_cents,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(v) AS BIGINT) AS vol_cents
         FROM x GROUP BY 1, 2 ORDER BY 1, 2"""),

    // Sorted-neighborhood dedup blocking (Hernández & Stolfo 1995 —
    // the OTHER classic blocking family, complementing the LSH/prefix/
    // SimHash blockers): sort records by a blocking key, compare each
    // record only against its next [[SnmWindow]] neighbors in rank
    // order, verify candidates with exact token-set Jaccard. The rank
    // window rides the parts-bounded dim frame (the q136/q142
    // documented shape; at fact scale SNM sorts range-partitioned and
    // windows within partitions + boundary overlap); the neighbor
    // join is an equi-join on rank+offset — W·N candidates, never N².
    // Offsets come from a tiny exploded literal array, so the pair
    // stream stays a single narrow plan.
    Query("q171_sorted_neighborhood", (s, dir) => {
      val toks = (c: org.apache.spark.sql.Column) =>
        array_distinct(split(c, " "))
      val r = t(s, dir, "part")
        .select(col("p_partkey"), col("p_name"))
        .withColumn("rn", row_number().over(
          Window.orderBy(col("p_name"), col("p_partkey"))))
      val offs = explode(array((1 to SnmWindow).map(lit): _*)).as("off")
      val left = r.select(col("rn"), col("p_partkey").as("id_a"),
        col("p_name").as("name_a"), offs)
        .withColumn("rn2", col("rn") + col("off"))
      left.join(r.select(col("rn").as("rn2"),
          col("p_partkey").as("id_b"), col("p_name").as("name_b")),
          Seq("rn2"))
        // sa/sb from the SAME toks rule as inter — one tokenization
        // definition, evaluated once per side
        .withColumn("sa", size(toks(col("name_a"))))
        .withColumn("sb", size(toks(col("name_b"))))
        .withColumn("inter",
          size(array_intersect(toks(col("name_a")), toks(col("name_b")))))
        .withColumn("j_mills",
          expr("(1000 * inter) div (sa + sb - inter)"))
        .where(col("j_mills") >= SnmMinJaccardMills)
        .select(col("id_a"), col("id_b"), col("j_mills"))
        .orderBy("id_a", "id_b")
    },
      // same rank window + offset join; intersection via
      // list_filter/list_contains (ta is distinct so the filter count
      // IS |∩|), union by inclusion-exclusion — the exact twin of
      // array_intersect/array_distinct
      s"""WITH r AS (
           SELECT p_partkey, p_name,
             row_number() OVER (ORDER BY p_name, p_partkey) AS rn
           FROM part),
         pr AS (
           SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
             list_distinct(string_split(a.p_name, ' ')) AS ta,
             list_distinct(string_split(b.p_name, ' ')) AS tb
           FROM r a JOIN r b
             ON b.rn BETWEEN a.rn + 1 AND a.rn + $SnmWindow),
         j AS (
           SELECT id_a, id_b,
             CAST(len(list_filter(ta, x -> list_contains(tb, x)))
               AS BIGINT) AS inter,
             CAST(len(ta) + len(tb) AS BIGINT) AS stot
           FROM pr)
         SELECT id_a, id_b,
           (1000 * inter) // (stot - inter) AS j_mills
         FROM j WHERE (1000 * inter) // (stot - inter)
           >= $SnmMinJaccardMills
         ORDER BY id_a, id_b"""),

    // Referential-integrity audit (the ETL data-quality gate a
    // warehouse runs after every load): orphan counts for every FK
    // edge of the star schema plus the soft events→customer edge —
    // each edge is ONE left join + conditional count (small dims
    // broadcast; the lineitem→orders edge is deliberately a shuffle
    // join — both sides corpus-sized), unioned into a bounded report.
    // The events edge exercises the orphan branch for real (user ids
    // outside the customer key range).
    Query("q172_fk_audit", (s, dir) => {
      def edge(name: String, fact: DataFrame, fk: String,
          dim: DataFrame, pk: String, bcast: Boolean): DataFrame = {
        val d0 = dim.select(col(pk).as("__pk")).distinct()
        val d = if (bcast) broadcast(d0) else d0
        fact.select(col(fk).as("__fk"))
          .join(d, col("__fk") === col("__pk"), "left")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("__pk").isNull, 1L).otherwise(0L))
              .as("n_orphans"))
          .select(lit(name).as("fk_edge"), col("n_rows"),
            col("n_orphans"), (col("n_orphans") === 0L).as("ok"))
      }
      val li = t(s, dir, "lineitem")
      Seq(
        edge("customer.c_nationkey->nation", t(s, dir, "customer"),
          "c_nationkey", t(s, dir, "nation"), "n_nationkey", bcast = true),
        edge("events.user_id->customer", t(s, dir, "events"),
          "user_id", t(s, dir, "customer"), "c_custkey", bcast = true),
        edge("lineitem.l_orderkey->orders", li, "l_orderkey",
          t(s, dir, "orders"), "o_orderkey", bcast = false),
        edge("lineitem.l_partkey->part", li, "l_partkey",
          t(s, dir, "part"), "p_partkey", bcast = true),
        edge("lineitem.l_suppkey->supplier", li, "l_suppkey",
          t(s, dir, "supplier"), "s_suppkey", bcast = true),
        edge("orders.o_custkey->customer", t(s, dir, "orders"),
          "o_custkey", t(s, dir, "customer"), "c_custkey", bcast = true),
        edge("supplier.s_nationkey->nation", t(s, dir, "supplier"),
          "s_nationkey", t(s, dir, "nation"), "n_nationkey", bcast = true)
      ).reduce(_ unionByName _)
        .orderBy("fk_edge")
    }, {
      def edgeSql(name: String, fact: String, fk: String,
          dim: String, pk: String): String =
        s"""SELECT '$name' AS fk_edge,
              CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(CASE WHEN d.$pk IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_orphans,
              sum(CASE WHEN d.$pk IS NULL THEN 1 ELSE 0 END) = 0 AS ok
            FROM $fact f
            LEFT JOIN (SELECT DISTINCT $pk FROM $dim) d
              ON f.$fk = d.$pk"""
      Seq(
        edgeSql("customer.c_nationkey->nation", "customer", "c_nationkey",
          "nation", "n_nationkey"),
        edgeSql("events.user_id->customer", "events", "user_id",
          "customer", "c_custkey"),
        edgeSql("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        edgeSql("lineitem.l_partkey->part", "lineitem", "l_partkey",
          "part", "p_partkey"),
        edgeSql("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"),
        edgeSql("orders.o_custkey->customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        edgeSql("supplier.s_nationkey->nation", "supplier", "s_nationkey",
          "nation", "n_nationkey")
      ).mkString(" UNION ALL ") + " ORDER BY fk_edge"
    }),

    // Column profiling (the Deequ/Great-Expectations analyzer a
    // warehouse runs on every new dataset): per-column row count, null
    // count, exact distinct count, string min/max, and the modal value
    // with its frequency. The scalable shape is ONE unpivot (stack) to
    // (col_name, value) rows followed by a TWO-LEVEL hash aggregate —
    // level 1 groups (col_name, value) so the per-column distinct/top
    // never needs a distinct agg or a window over the corpus; level 2
    // folds the bounded (col_name, value)-cardinality frame. Values
    // are profiled as strings (the profiler's universal domain); the
    // nullable derived column exercises the null branch for real.
    // Modal tie-break: max(struct(cnt, v)) — highest count, then
    // highest value, deterministic in both engines.
    Query("q173_column_profile", (s, dir) => {
      val long = t(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_orderpriority"),
          col("o_custkey").cast("string").as("o_custkey_s"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate_s"),
          when(col("o_orderstatus") === "F", lit(null: String))
            .otherwise(col("o_orderstatus")).as("o_status_nullable"))
        .selectExpr("""stack(5,
          'o_orderstatus', o_orderstatus,
          'o_orderpriority', o_orderpriority,
          'o_custkey', o_custkey_s,
          'o_orderdate', o_orderdate_s,
          'o_status_nullable', o_status_nullable) AS (col_name, v)""")
      long.groupBy("col_name", "v").agg(count(lit(1)).as("c"))
        .groupBy("col_name")
        .agg(
          sum(col("c")).as("n_rows"),
          sum(when(col("v").isNull, col("c")).otherwise(0L)).as("n_null"),
          count(when(col("v").isNotNull, lit(1))).as("n_distinct"),
          min(col("v")).as("min_v"),
          max(col("v")).as("max_v"),
          max(when(col("v").isNotNull, struct(col("c"), col("v"))))
            .as("top"))
        .select(col("col_name"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_v"), col("max_v"),
          col("top.v").as("top_v"), col("top.c").as("top_n"))
        .orderBy("col_name")
    },
      // same unpivot + two-level aggregate; the modal tie-break is the
      // row_number twin of max(struct(c, v))
      """WITH long AS (
           SELECT 'o_orderstatus' AS col_name, o_orderstatus AS v FROM orders
           UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
           UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
           UNION ALL SELECT 'o_orderdate', strftime(o_orderdate, '%Y-%m-%d') FROM orders
           UNION ALL SELECT 'o_status_nullable', nullif(o_orderstatus, 'F') FROM orders),
         g AS (
           SELECT col_name, v, CAST(count(*) AS BIGINT) AS c
           FROM long GROUP BY 1, 2),
         top AS (
           SELECT col_name, v, c,
             row_number() OVER (PARTITION BY col_name
               ORDER BY c DESC, v DESC) AS rn
           FROM g WHERE v IS NOT NULL),
         lvl2 AS (
           SELECT col_name,
             CAST(sum(c) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN v IS NULL THEN c ELSE 0 END) AS BIGINT)
               AS n_null,
             CAST(count(CASE WHEN v IS NOT NULL THEN 1 END) AS BIGINT)
               AS n_distinct,
             min(v) AS min_v, max(v) AS max_v
           FROM g GROUP BY 1)
         SELECT l.col_name, l.n_rows, l.n_null, l.n_distinct,
           l.min_v, l.max_v, t.v AS top_v, t.c AS top_n
         FROM lvl2 l JOIN top t ON l.col_name = t.col_name AND t.rn = 1
         ORDER BY l.col_name"""),

    // Join-key skew diagnostics (the report that sizes
    // operators/SkewJoin.scala's salting): per-key frequencies, the
    // top-[[SkewTopK]] hottest keys with their corpus share in mills,
    // and the salt factor = ceil(cnt / avg) that would flatten each
    // key to the mean partition load. One key-keyed hash agg absorbs
    // the corpus; the rank window cuts partial top-k per partition
    // (WindowGroupLimit) before the single-key exchange; the totals
    // frame is 1 row, broadcast.
    Query("q174_skew_report", (s, dir) => {
      val k = t(s, dir, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      val tot = k.agg(sum(col("cnt")).as("n_total"),
        count(lit(1)).as("n_keys"))
      k.withColumn("rk", row_number().over(
          Window.orderBy(col("cnt").desc, col("user_id"))))
        .where(col("rk") <= SkewTopK)
        .crossJoin(broadcast(tot))
        .select(col("rk"), col("user_id"), col("cnt"),
          expr("(1000 * cnt) div n_total").as("share_mills"),
          expr("(cnt * n_keys + n_total - 1) div n_total")
            .as("salt_factor"))
        .orderBy("rk")
    },
      s"""WITH k AS (
           SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
           FROM events GROUP BY 1),
         tot AS (
           SELECT CAST(sum(cnt) AS BIGINT) AS n_total,
             CAST(count(*) AS BIGINT) AS n_keys FROM k),
         r AS (
           SELECT user_id, cnt,
             CAST(row_number() OVER (ORDER BY cnt DESC, user_id)
               AS BIGINT) AS rk
           FROM k)
         SELECT rk, user_id, cnt,
           (1000 * cnt) // n_total AS share_mills,
           (cnt * n_keys + n_total - 1) // n_total AS salt_factor
         FROM r, tot WHERE rk <= $SkewTopK ORDER BY rk"""),

    // Funnel conversion-rate report: the aggregate layer over the
    // gated Funnel.funnel operator (q119's kernel, REUSED not forked
    // — a different step set, view → click → purchase, and the
    // summary the analyst actually reads). stage ≥ k counts fold the
    // one-row-per-user funnel frame to ONE row; step-to-step and
    // end-to-end conversion in exact mills.
    Query("q175_funnel_steps", (s, dir) => {
      val ev = graft.Tables.eventsTsMicros(t(s, dir, "events"))
        .select(col("user_id"), col("event_type"), col("ts_us"))
      graft.operators.Funnel
        .funnel(ev, "user_id", "ts_us", "event_type",
          Seq("view", "click", "purchase"))
        .agg(
          sum(when(col("stage") >= 1L, 1L).otherwise(0L)).as("n_view"),
          sum(when(col("stage") >= 2L, 1L).otherwise(0L)).as("n_click"),
          sum(when(col("stage") >= 3L, 1L).otherwise(0L)).as("n_purchase"))
        .select(col("n_view"), col("n_click"), col("n_purchase"),
          expr("(1000 * n_click) div n_view").as("conv_vc_mills"),
          expr("(1000 * n_purchase) div n_click").as("conv_cp_mills"),
          expr("(1000 * n_purchase) div n_view").as("conv_vp_mills"))
    },
      // the strictly-after (ts > prev) iterated-min recompute of
      // Funnel.funnel, folded to the one-row rate report
      """WITH e AS (
           SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
         v AS (
           SELECT user_id, min(ts_us) AS vts FROM e
           WHERE event_type = 'view' GROUP BY 1),
         c AS (
           SELECT e.user_id, min(e.ts_us) AS cts
           FROM e JOIN v ON e.user_id = v.user_id
           WHERE e.event_type = 'click' AND e.ts_us > v.vts GROUP BY 1),
         p AS (
           SELECT e.user_id, min(e.ts_us) AS pts
           FROM e JOIN c ON e.user_id = c.user_id
           WHERE e.event_type = 'purchase' AND e.ts_us > c.cts GROUP BY 1)
         SELECT
           (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
           (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_click,
           (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchase,
           (1000 * (SELECT count(*) FROM c))
             // (SELECT count(*) FROM v) AS conv_vc_mills,
           (1000 * (SELECT count(*) FROM p))
             // (SELECT count(*) FROM c) AS conv_cp_mills,
           (1000 * (SELECT count(*) FROM p))
             // (SELECT count(*) FROM v) AS conv_vp_mills"""),

    // Recency-decay weighted event report (the data-mixture /
    // monitoring weighting read beside q175's funnel and q177's
    // drift; round-10 backfill of the registry's one numbering gap):
    // each event's weight halves every [[DecayHalfLifeDays]] of age
    // vs the corpus max timestamp — weight_ppm = 1_000_000 >>
    // (age_days div half_life), an EXACT integer shift, never a
    // float pow, so the report is bit-reproducible across engines.
    // Age runs in the shared epoch-micros BIGINT domain (epoch_us
    // twin — q80's contract; never DuckDB's DOUBLE epoch(), the q148
    // lesson). The shift is capped at 62 (Java wraps shifts mod 64;
    // the ppm grain zeroes naturally past 2^20 ≈ 20 half-lives
    // anyway). The anchor rides a 1-row broadcast (q177 precedent).
    // Envelope: cents·ppm sums wrap int64 at real corpus sizes, so
    // the weighted lane runs in DECIMAL(38,0) (HUGEINT twin, the
    // q182 lift precedent) and only the final floored columns return
    // to BIGINT. Scale shape: one scan for the anchor + one grouped
    // scan — no window over event rows, the share window rides the
    // bounded per-type frame.
    Query("q176_decay_weights", (s, dir) => {
      val ev = graft.Tables.eventsTsMicros(t(s, dir, "events"))
        .where(col("value").isNotNull && col("ts").isNotNull)
        .select(col("event_type"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("cents"),
          col("ts_us"))
      val anchor = ev.agg(max(col("ts_us")).as("anchor_us"))
      val w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      ev.crossJoin(broadcast(anchor))
        .withColumn("age_days",
          expr("(anchor_us - ts_us) div 86400000000"))
        .withColumn("weight_ppm", expr(
          s"shiftright(1000000L, CAST(least(age_days div $DecayHalfLifeDays, 62) AS INT))"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("cents")).as("raw_sum_cents"),
          expr("""CAST(sum(CAST(cents AS DECIMAL(38,0)) * weight_ppm)
              div 1000000 AS BIGINT)""").as("decayed_cents"))
        .withColumn("tot",
          sum(col("decayed_cents").cast("decimal(38,0)")).over(w))
        .select(col("event_type"), col("n_events"), col("raw_sum_cents"),
          col("decayed_cents"),
          expr("""CAST((1000 * CAST(decayed_cents AS DECIMAL(38,0)))
              div tot AS BIGINT)""").as("decay_share_mills"))
        .orderBy("event_type")
    },
      // identical integer decay: epoch_us age, div-floored day bucket,
      // ppm weight as a capped right shift, HUGEINT weighted lane
      s"""WITH ev AS (
           SELECT event_type,
             CAST(floor(value * 100) AS BIGINT) AS cents,
             epoch_us(ts) AS ts_us
           FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
         a AS (SELECT max(ts_us) AS anchor_us FROM ev),
         wgt AS (
           SELECT event_type, cents,
             CAST(1000000 AS BIGINT) >> CAST(least(
               ((anchor_us - ts_us) // 86400000000) // $DecayHalfLifeDays,
               62) AS INTEGER) AS weight_ppm
           FROM ev, a),
         g AS (
           SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(cents) AS BIGINT) AS raw_sum_cents,
             CAST(sum(CAST(cents AS HUGEINT) * weight_ppm) // 1000000
               AS BIGINT) AS decayed_cents
           FROM wgt GROUP BY 1)
         SELECT event_type, n_events, raw_sum_cents, decayed_cents,
           CAST((1000 * CAST(decayed_cents AS HUGEINT))
             // sum(CAST(decayed_cents AS HUGEINT)) OVER ()
             AS BIGINT) AS decay_share_mills
         FROM g ORDER BY event_type"""),

    // Distribution-drift report (the ML-ops gate between two load
    // periods): orders split at the exact midpoint day of the date
    // range (1-row min/max agg, broadcast), o_totalprice histogrammed
    // into fixed [[DriftBinCents]]-wide bins, per-bin period shares in
    // exact mills and their absolute gap, plus the total-variation
    // distance (TVD = Σ|p−q| div 2) repeated per row via one window
    // over the BOUNDED bin frame. Everything is exact integer math —
    // no logs, no float shares — so the gate is reproducible across
    // engines.
    Query("q177_drift_report", (s, dir) => {
      val binned = driftBinned(s, dir)
      binned
        .crossJoin(broadcast(binned.agg(
          sum(col("n_a")).as("tot_a"), sum(col("n_b")).as("tot_b"))))
        .select(col("bin"), col("n_a"), col("n_b"),
          expr("(1000 * n_a) div tot_a").as("share_a_mills"),
          expr("(1000 * n_b) div tot_b").as("share_b_mills"))
        .withColumn("gap_mills",
          abs(col("share_a_mills") - col("share_b_mills")))
        .withColumn("tvd_mills",
          // integer div keeps the lane exact end to end (the stated
          // contract); `/` is double division whose cast-truncation
          // only coincides with div below 2^53
          expr("sum(gap_mills) OVER () div 2"))
        .orderBy("bin")
    },
      s"""WITH o AS (
           SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents,
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day FROM orders),
         anchor AS (
           SELECT (min(day) + max(day)) // 2 AS mid_day FROM o),
         b AS (
           SELECT price_cents // $DriftBinCents AS bin,
             CASE WHEN day < (SELECT mid_day FROM anchor)
               THEN 1 ELSE 0 END AS in_a
           FROM o),
         h AS (
           SELECT bin, CAST(sum(in_a) AS BIGINT) AS n_a,
             CAST(sum(1 - in_a) AS BIGINT) AS n_b
           FROM b GROUP BY 1),
         tot AS (
           SELECT CAST(sum(n_a) AS BIGINT) AS tot_a,
             CAST(sum(n_b) AS BIGINT) AS tot_b FROM h),
         sh AS (
           SELECT bin, n_a, n_b,
             (1000 * n_a) // tot_a AS share_a_mills,
             (1000 * n_b) // tot_b AS share_b_mills,
             abs((1000 * n_a) // tot_a - (1000 * n_b) // tot_b)
               AS gap_mills
           FROM h, tot)
         SELECT bin, n_a, n_b, share_a_mills, share_b_mills, gap_mills,
           CAST(sum(gap_mills) OVER () // 2 AS BIGINT) AS tvd_mills
         FROM sh ORDER BY bin"""),

    // Population Stability Index (the model-monitoring drift metric
    // read next to q177's TVD): PSI = Σ_bins (p_i − q_i)·log2(p_i/q_i)
    // in EXACT integer micro-bits via the shared Mitchell kernel —
    // per bin the term is ((na'·NB' − nb'·NA')·(L(na'·NB') −
    // L(nb'·NA'))) / (NA'·NB') with Laplace +1 per present bin (the
    // q95 smoothing precedent; zero-side bins would make PSI
    // undefined), numerators in DECIMAL(38,0)/HUGEINT. Every term is
    // PROVABLY ≥ 0 (Mitchell is monotone, so both factors share sign)
    // — no sign-split needed. Same midpoint anchor, same
    // [[DriftBinCents]] bins, same checkpointed bin frame as q177.
    // Envelope: log2Mills computes 1000·(q − 2^e) in int64, so the L
    // args are bounded at NA'·NB' ≲ 2⁵³ ≈ 9·10¹⁵ — roughly 10⁸ rows
    // per period, NOT the naive 2⁶³ product bound; rescale counts
    // past that (the q188 precedent).
    Query("q189_psi_drift", (s, dir) => {
      val binned = driftBinned(s, dir)
      val tot = binned.agg(sum(col("n_a")).as("tot_a"),
        sum(col("n_b")).as("tot_b"), count(lit(1)).as("n_bins"))
      binned.crossJoin(broadcast(tot))
        .withColumn("x", expr("(n_a + 1) * (tot_b + n_bins)"))
        .withColumn("y", expr("(n_b + 1) * (tot_a + n_bins)"))
        .select(col("tot_a"), col("tot_b"), col("n_bins"),
          ((col("x") - col("y")).cast("decimal(38,0)") *
            (graft.functions.TextFunctions.log2Mills(col("x")) -
             graft.functions.TextFunctions.log2Mills(col("y"))))
            .as("num"))
        .groupBy("tot_a", "tot_b", "n_bins")
        .agg(sum(col("num")).cast("decimal(38,0)").as("s"))
        .select(col("n_bins"), col("tot_a").as("n_a"),
          col("tot_b").as("n_b"),
          expr("""CAST((1000 * s) div
              (CAST(tot_a + n_bins AS DECIMAL(38,0)) * (tot_b + n_bins))
            AS BIGINT)""").as("psi_micros"))
    }, {
      // the same bins, anchor and Laplace smoothing; HUGEINT twins
      // DECIMAL(38,0), the Mitchell twin on the same integer args
      def mitchell(x: String) =
        s"""(1000 * (length(printf('%b', $x)) - 1)
           + (1000 * (($x) - (CAST(1 AS BIGINT)
               << CAST(length(printf('%b', $x)) - 1 AS INT))))
             // (CAST(1 AS BIGINT)
               << CAST(length(printf('%b', $x)) - 1 AS INT)))"""
      s"""WITH o AS (
           SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents,
             datediff('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE)) AS dd
           FROM orders),
         a AS (SELECT (min(dd) + max(dd)) // 2 AS mid_day FROM o),
         b AS (
           SELECT price_cents // $DriftBinCents AS bin,
             CAST(sum(CASE WHEN dd < (SELECT mid_day FROM a)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN dd < (SELECT mid_day FROM a)
               THEN 0 ELSE 1 END) AS BIGINT) AS n_b
           FROM o GROUP BY 1),
         t AS (SELECT CAST(sum(n_a) AS BIGINT) AS tot_a,
                 CAST(sum(n_b) AS BIGINT) AS tot_b,
                 CAST(count(*) AS BIGINT) AS n_bins
               FROM b),
         x AS (SELECT (n_a + 1) * (tot_b + n_bins) AS x,
                 (n_b + 1) * (tot_a + n_bins) AS y,
                 tot_a, tot_b, n_bins
               FROM b CROSS JOIN t),
         s AS (SELECT tot_a, tot_b, n_bins,
                 sum(CAST(x - y AS HUGEINT)
                   * (${mitchell("x")} - ${mitchell("y")})) AS s
               FROM x GROUP BY 1, 2, 3)
         SELECT n_bins, tot_a AS n_a, tot_b AS n_b,
           CAST((1000 * s) // (CAST(tot_a + n_bins AS HUGEINT)
             * (tot_b + n_bins)) AS BIGINT) AS psi_micros
         FROM s"""
    }),

    // Mann–Whitney U (the nonparametric two-sample location test —
    // the drift battery's rank-based member next to q177's TVD and
    // q189's PSI, immune to the long tails that break mean tests):
    // EXACT doubled-U from the joint value histogram, 2U_A =
    // Σ_v 2·na(v)·cumB(<v) + na(v)·nb(v) — ties counted half, no
    // rank midpoint floats anywhere. The cumulative window rides
    // VALUE CARDINALITY (the q57 histogram-selection kernel), never
    // row count; accumulators in DECIMAL(38,0)/HUGEINT. Report:
    // exact 2U both directions (they must sum to 2·na·nb — the
    // classic identity, spec-pinned), the common-language effect
    // size and the signed rank-biserial correlation in mills
    // (sign-split division).
    Query("q190_mannwhitney_u", (s, dir) => {
      val o = t(s, dir, "orders").select(
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("v"),
        expr("datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')").as("dd"))
      val anchor = o.agg(
        expr("(min(dd) + max(dd)) div 2").as("mid_day"))
      val hist = o.crossJoin(broadcast(anchor))
        .select(col("v"),
          when(col("dd") < col("mid_day"), lit(1L)).otherwise(lit(0L))
            .as("in_a"))
        .groupBy("v")
        .agg(sum(col("in_a")).as("na"), sum(lit(1L) - col("in_a")).as("nb"))
      val wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
      hist
        .withColumn("cum_b", coalesce(sum(col("nb")).over(wv), lit(0L)))
        .select(col("na"), col("nb"),
          expr("""CAST(2 AS DECIMAL(38,0)) * na * cum_b + CAST(na AS
            DECIMAL(38,0)) * nb""").as("t2"))
        .agg(sum(col("na")).as("n_a"), sum(col("nb")).as("n_b"),
          sum(col("t2")).cast("decimal(38,0)").as("u2_a"))
        .select(col("n_a"), col("n_b"),
          col("u2_a").cast("long").as("u2_a"),
          expr("""CAST(CAST(2 AS DECIMAL(38,0)) * n_a * n_b - u2_a
            AS BIGINT)""").as("u2_b"),
          expr("""CAST((1000 * u2_a) div
            (CAST(2 AS DECIMAL(38,0)) * n_a * n_b) AS BIGINT)""")
            .as("cles_mills"),
          expr("""CASE WHEN 2 * u2_a - CAST(2 AS DECIMAL(38,0)) * n_a * n_b >= 0
              THEN CAST((1000 * (2 * u2_a - CAST(2 AS DECIMAL(38,0)) * n_a * n_b))
                div (CAST(2 AS DECIMAL(38,0)) * n_a * n_b) AS BIGINT)
              ELSE -CAST((1000 * (CAST(2 AS DECIMAL(38,0)) * n_a * n_b - 2 * u2_a))
                div (CAST(2 AS DECIMAL(38,0)) * n_a * n_b) AS BIGINT)
            END""").as("rank_biserial_mills"))
    },
      // same joint value histogram, same cumulative-below window,
      // same doubled-U algebra; HUGEINT twins DECIMAL(38,0) and the
      // rank-biserial keeps the sign-split truncation
      """WITH o AS (
           SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS v,
             datediff('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE)) AS dd
           FROM orders),
         a AS (SELECT (min(dd) + max(dd)) // 2 AS mid_day FROM o),
         h AS (
           SELECT v,
             CAST(sum(CASE WHEN dd < (SELECT mid_day FROM a)
               THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(sum(CASE WHEN dd < (SELECT mid_day FROM a)
               THEN 0 ELSE 1 END) AS BIGINT) AS nb
           FROM o GROUP BY 1),
         c AS (SELECT na, nb,
                 coalesce(CAST(sum(nb) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS BIGINT), 0) AS cum_b
               FROM h),
         s AS (SELECT CAST(sum(na) AS BIGINT) AS n_a,
                 CAST(sum(nb) AS BIGINT) AS n_b,
                 sum(CAST(2 AS HUGEINT) * na * cum_b
                   + CAST(na AS HUGEINT) * nb) AS u2_a
               FROM c)
         SELECT n_a, n_b, CAST(u2_a AS BIGINT) AS u2_a,
           CAST(CAST(2 AS HUGEINT) * n_a * n_b - u2_a AS BIGINT) AS u2_b,
           CAST((1000 * u2_a) // (CAST(2 AS HUGEINT) * n_a * n_b)
             AS BIGINT) AS cles_mills,
           CASE WHEN 2 * u2_a - CAST(2 AS HUGEINT) * n_a * n_b >= 0
             THEN CAST((1000 * (2 * u2_a - CAST(2 AS HUGEINT) * n_a * n_b))
               // (CAST(2 AS HUGEINT) * n_a * n_b) AS BIGINT)
             ELSE -CAST((1000 * (CAST(2 AS HUGEINT) * n_a * n_b - 2 * u2_a))
               // (CAST(2 AS HUGEINT) * n_a * n_b) AS BIGINT)
           END AS rank_biserial_mills
         FROM s"""),

    // Equi-depth discretizer (the ML feature-prep staple): k-quantile
    // boundaries computed EXACTLY via the q57 histogram-selection
    // kernel (value at rank ceil(i·n/k) — the window rides value
    // cardinality, never rows), then rows are assigned bin = number of
    // boundaries strictly below the value via ONE broadcast array
    // (k−1 longs) and a codegen'd filter+size — no range join, no
    // per-row boundary shuffle. Report = per-bin counts and value
    // ranges (≈ n/k each by construction; duplicates make the
    // imbalance visible and deterministic).
    Query("q178_equidepth_bins", (s, dir) => {
      val o = t(s, dir, "orders").select(
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("v"))
      val hist = o.groupBy("v").agg(count(lit(1)).as("cnt"))
      val wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
      val wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val cum = hist.withColumn("cum", sum(col("cnt")).over(wv))
        .withColumn("n", sum(col("cnt")).over(wall))
      // boundary i (1..k-1) = smallest value whose cum ≥ ceil(i·n/k)
      val bounds = cum
        .select(explode(array((1 until EquiDepthK).map(lit): _*)).as("i"),
          col("v"), col("cum"), col("n"))
        .where(col("cum") >= expr(s"(i * n + ${EquiDepthK - 1}) div $EquiDepthK"))
        .groupBy("i").agg(min(col("v")).as("b"))
        .agg(sort_array(collect_list(col("b"))).as("bs"))
      o.crossJoin(broadcast(bounds))
        .select(col("v"),
          size(filter(col("bs"), b => b < col("v"))).cast("long").as("bin"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_rows"),
          min(col("v")).as("min_cents"), max(col("v")).as("max_cents"))
        .orderBy("bin")
    },
      // same histogram-selection boundaries; bin assignment via a
      // correlated boundary count — the twin of size(filter(bs, <))
      s"""WITH o AS (
           SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS v
           FROM orders),
         h AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM o GROUP BY 1),
         c AS (
           SELECT v, cnt,
             CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum,
             CAST(sum(cnt) OVER () AS BIGINT) AS n
           FROM h),
         bidx AS (SELECT unnest(range(1, $EquiDepthK)) AS i),
         bset AS (
           SELECT i, min(v) AS b FROM bidx, c
           WHERE cum >= (i * n + ${EquiDepthK - 1}) // $EquiDepthK
           GROUP BY i),
         a AS (
           SELECT v,
             (SELECT CAST(count(*) AS BIGINT) FROM bset WHERE bset.b < o.v)
               AS bin
           FROM o)
         SELECT bin, CAST(count(*) AS BIGINT) AS n_rows,
           min(v) AS min_cents, max(v) AS max_cents
         FROM a GROUP BY 1 ORDER BY 1"""),

    // Dimension-coverage audit (q172's complement — the OTHER
    // direction of referential quality): for each dimension, how many
    // members are actually referenced by the fact table. One distinct
    // hash agg on the fact FK (output ≤ dim cardinality), one left
    // join dim←refs (dim-sized both sides, un-hinted — AQE broadcasts
    // while it fits), a conditional-count fold per edge, unioned into
    // a bounded report.
    Query("q179_dim_coverage", (s, dir) => {
      def edge(name: String, dim: DataFrame, pk: String,
          fact: DataFrame, fk: String): DataFrame = {
        val refs = fact.select(col(fk).as("__ref")).distinct()
        dim.select(col(pk).as("__pk"))
          .join(refs, col("__pk") === col("__ref"), "left")
          .agg(count(lit(1)).as("n_members"),
            count(col("__ref")).as("n_referenced"))
          .select(lit(name).as("dim_edge"), col("n_members"),
            col("n_referenced"),
            expr("(1000 * n_referenced) div n_members")
              .as("coverage_mills"))
      }
      val li = t(s, dir, "lineitem")
      Seq(
        edge("customer<-orders", t(s, dir, "customer"), "c_custkey",
          t(s, dir, "orders"), "o_custkey"),
        edge("customer<-events", t(s, dir, "customer"), "c_custkey",
          t(s, dir, "events"), "user_id"),
        edge("nation<-customer", t(s, dir, "nation"), "n_nationkey",
          t(s, dir, "customer"), "c_nationkey"),
        edge("part<-lineitem", t(s, dir, "part"), "p_partkey",
          li, "l_partkey"),
        edge("supplier<-lineitem", t(s, dir, "supplier"), "s_suppkey",
          li, "l_suppkey")
      ).reduce(_ unionByName _)
        .orderBy("dim_edge")
    }, {
      def edgeSql(name: String, dim: String, pk: String,
          fact: String, fk: String): String =
        s"""SELECT '$name' AS dim_edge,
              CAST(count(*) AS BIGINT) AS n_members,
              CAST(count(r.$fk) AS BIGINT) AS n_referenced,
              (1000 * count(r.$fk)) // count(*) AS coverage_mills
            FROM $dim d
            LEFT JOIN (SELECT DISTINCT $fk FROM $fact) r
              ON d.$pk = r.$fk"""
      Seq(
        edgeSql("customer<-orders", "customer", "c_custkey",
          "orders", "o_custkey"),
        edgeSql("customer<-events", "customer", "c_custkey",
          "events", "user_id"),
        edgeSql("nation<-customer", "nation", "n_nationkey",
          "customer", "c_nationkey"),
        edgeSql("part<-lineitem", "part", "p_partkey",
          "lineitem", "l_partkey"),
        edgeSql("supplier<-lineitem", "supplier", "s_suppkey",
          "lineitem", "l_suppkey")
      ).mkString(" UNION ALL ") + " ORDER BY dim_edge"
    }),

    // "Also bought" recommendation table (the serving layer over
    // q141's co-purchase kernel, REUSED not forked): symmetrize the
    // ordered pair supports, keep pairs at the q141 support floor,
    // then top-[[AlsoBoughtK]] neighbors per part — the rank filter
    // cuts partial top-k per partition (WindowGroupLimit) before the
    // part-keyed exchange. Deterministic tie-break (support desc,
    // neighbor asc).
    Query("q180_also_bought", (s, dir) => {
      val pairs = coPairCounts(s, dir)
        .where(col("n_orders") >= CoPairMinSupport)
      val sym = pairs
        .select(col("part_a").as("p"), col("part_b").as("rec"),
          col("n_orders"))
        .unionByName(pairs.select(col("part_b").as("p"),
          col("part_a").as("rec"), col("n_orders")))
      sym.withColumn("rk", row_number().over(
          Window.partitionBy("p")
            .orderBy(col("n_orders").desc, col("rec"))))
        .where(col("rk") <= AlsoBoughtK)
        .select(col("p"), col("rk"), col("rec"), col("n_orders"))
        .orderBy("p", "rk")
    },
      s"""WITH $coPairSql,
         fp AS (SELECT * FROM cp WHERE n_orders >= $CoPairMinSupport),
         sym AS (
           SELECT part_a AS p, part_b AS rec, n_orders FROM fp
           UNION ALL
           SELECT part_b AS p, part_a AS rec, n_orders FROM fp),
         r AS (
           SELECT p, rec, n_orders,
             row_number() OVER (PARTITION BY p
               ORDER BY n_orders DESC, rec) AS rk
           FROM sym)
         SELECT p, rk, rec, n_orders FROM r
         WHERE rk <= $AlsoBoughtK ORDER BY p, rk"""),

    // Winsorized statistics (robust feature prep): per event type,
    // p01/p99 boundaries via the q57 histogram-selection kernel, then
    // the clipped mean computed FROM THE HISTOGRAM itself —
    // sum(clamp(v)·cnt) — so the corpus is scanned exactly once and
    // everything downstream rides the (type × value) histogram frame.
    // Mean and winsorized mean in exact floored cents.
    Query("q181_winsorized_stats", (s, dir) => {
      // value IS NOT NULL on BOTH sides (the q153 null-sort discipline)
      val ev = t(s, dir, "events").where(col("value").isNotNull)
        .select(col("event_type"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      val hist = ev.groupBy("event_type", "cents")
        .agg(count(lit(1)).as("cnt"))
      val wv = Window.partitionBy("event_type").orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wt = Window.partitionBy("event_type")
      val cum = hist.withColumn("cum", sum(col("cnt")).over(wv))
        .withColumn("n", sum(col("cnt")).over(wt))
      val lo = cum.where(col("cum") >= expr("(1 * n + 99) div 100"))
        .groupBy("event_type").agg(min(col("cents")).as("lo_cents"))
      val hi = cum.where(col("cum") >= expr("(99 * n + 99) div 100"))
        .groupBy("event_type").agg(min(col("cents")).as("hi_cents"))
      hist.join(broadcast(lo), Seq("event_type"))
        .join(broadcast(hi), Seq("event_type"))
        .withColumn("clipped",
          greatest(least(col("cents"), col("hi_cents")), col("lo_cents")))
        .groupBy("event_type")
        .agg(sum(col("cnt")).as("n_events"),
          max(col("lo_cents")).as("lo_cents"),
          max(col("hi_cents")).as("hi_cents"),
          expr("sum(cents * cnt) div sum(cnt)").as("mean_cents"),
          expr("sum(clipped * cnt) div sum(cnt)").as("wmean_cents"))
        .orderBy("event_type")
    },
      """WITH ev AS (
           SELECT event_type,
             CAST(floor(value * 100) AS BIGINT) AS cents
           FROM events WHERE value IS NOT NULL),
         h AS (
           SELECT event_type, cents, CAST(count(*) AS BIGINT) AS cnt
           FROM ev GROUP BY 1, 2),
         c AS (
           SELECT event_type, cents, cnt,
             CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY cents)
               AS BIGINT) AS cum,
             CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
           FROM h),
         lo AS (
           SELECT event_type, min(cents) AS lo_cents FROM c
           WHERE cum >= (1 * n + 99) // 100 GROUP BY 1),
         hi AS (
           SELECT event_type, min(cents) AS hi_cents FROM c
           WHERE cum >= (99 * n + 99) // 100 GROUP BY 1)
         SELECT h.event_type,
           CAST(sum(h.cnt) AS BIGINT) AS n_events,
           max(lo.lo_cents) AS lo_cents,
           max(hi.hi_cents) AS hi_cents,
           CAST(sum(h.cents * h.cnt) // sum(h.cnt) AS BIGINT)
             AS mean_cents,
           CAST(sum(greatest(least(h.cents, hi.hi_cents), lo.lo_cents)
               * h.cnt)
             // sum(h.cnt) AS BIGINT) AS wmean_cents
         FROM h
         JOIN lo ON h.event_type = lo.event_type
         JOIN hi ON h.event_type = hi.event_type
         GROUP BY 1 ORDER BY 1"""),

    // Association rules (Agrawal & Srikant 1994, the rule layer above
    // q141's pair supports, kernel REUSED not forked): every
    // support-floored pair yields both directional rules a→b / b→a
    // with confidence = supp(ab)/supp(a) and lift =
    // supp(ab)·N/(supp(a)·supp(b)), both in exact floored mills —
    // the lift product runs in DECIMAL(38,0) (HUGEINT twin) because
    // 1000·supp·N overflows int64 at real corpus sizes. Item supports
    // are one part-keyed hash agg SEMI-JOINED down to the rule
    // vertices (edges-bounded, broadcast-safe at any scale — never
    // the full part dimension); N rides a 1-row broadcast. Top-K by
    // (lift, conf, rule) with a full deterministic tie-break.
    Query("q182_assoc_rules", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      // q142's rationale: three references (verts x2, rules) on the
      // support-thinned pair frame — pin it rather than re-running the
      // pair generation per reference
      val pairs = coPairCounts(s, dir)
        .where(col("n_orders") >= CoPairMinSupport)
        .localCheckpoint(true)
      val verts = pairs.select(col("part_a").as("p"))
        .unionByName(pairs.select(col("part_b").as("p"))).distinct()
      val supp = li.groupBy(col("l_partkey").as("p"))
        .agg(count(lit(1)).as("supp"))
        .join(broadcast(verts), Seq("p"), "left_semi")
      val nOrders = li.agg(countDistinct(col("l_orderkey")).as("n"))
      val rules = pairs.select(col("part_a").as("ante"),
          col("part_b").as("cons"), col("n_orders").as("supp_pair"))
        .unionByName(pairs.select(col("part_b").as("ante"),
          col("part_a").as("cons"), col("n_orders").as("supp_pair")))
      rules
        .join(broadcast(supp.select(col("p").as("ante"),
          col("supp").as("supp_ante"))), Seq("ante"))
        .join(broadcast(supp.select(col("p").as("cons"),
          col("supp").as("supp_cons"))), Seq("cons"))
        .crossJoin(broadcast(nOrders))
        .select(col("ante"), col("cons"), col("supp_pair"),
          col("supp_ante"), col("supp_cons"),
          expr("(1000 * supp_pair) div supp_ante").as("conf_mills"),
          expr("""CAST((CAST(1000 AS DECIMAL(38,0)) * supp_pair * n)
                div (CAST(supp_ante AS DECIMAL(38,0)) * supp_cons)
                AS BIGINT)""").as("lift_mills"))
        .orderBy(col("lift_mills").desc, col("conf_mills").desc,
          col("ante"), col("cons"))
        .limit(AssocTopK)
    },
      // HUGEINT twins DECIMAL(38,0) for the lift product (q90's
      // int64-overflow precedent); li is coPairSql's distinct
      // (order, part) frame, reused for item supports and N
      s"""WITH $coPairSql,
         fp AS (SELECT * FROM cp WHERE n_orders >= $CoPairMinSupport),
         isupp AS (SELECT l_partkey AS p, CAST(count(*) AS BIGINT) AS supp
                   FROM li GROUP BY 1),
         nn AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n
                FROM li),
         rules AS (
           SELECT part_a AS ante, part_b AS cons, n_orders AS supp_pair
           FROM fp
           UNION ALL
           SELECT part_b, part_a, n_orders FROM fp)
         SELECT r.ante, r.cons, r.supp_pair,
           a.supp AS supp_ante, c.supp AS supp_cons,
           (1000 * r.supp_pair) // a.supp AS conf_mills,
           CAST((CAST(1000 AS HUGEINT) * r.supp_pair * nn.n)
             // (CAST(a.supp AS HUGEINT) * c.supp) AS BIGINT) AS lift_mills
         FROM rules r
         JOIN isupp a ON r.ante = a.p
         JOIN isupp c ON r.cons = c.p
         CROSS JOIN nn
         ORDER BY lift_mills DESC, conf_mills DESC, ante, cons
         LIMIT $AssocTopK"""),

    // Theil–Sen robust trend (Sen 1968) of weekly revenue: slope =
    // lower median over ALL pair slopes, intercept = lower median of
    // the per-week residuals at that slope. The weekly frame is
    // calendar-bounded (~340 rows at EVERY SF — [[TsWeekDays]]), so
    // the all-pairs slope mass is SF-constant ~58k, generated by a
    // bounded broadcast-nested-loop self-join, never |orders|². Both
    // medians run through the q57 histogram-selection kernel (window
    // over value cardinality). Slopes are floored mills with explicit
    // truncate-toward-zero sign handling (den > 0 always): Spark div
    // and DuckDB // agree only on non-negative operands.
    Query("q183_theil_sen", (s, dir) => {
      // calendar-bounded frame referenced three times (pairs twice +
      // residuals + count) — the q153 doubly-referenced-frame rule
      val weekly = weeklyRevenueCents(s, dir).localCheckpoint(true)
      val pairs = weekly.as("a")
        .join(broadcast(weekly.as("b")), col("a.wk") < col("b.wk"))
        .select((col("b.cents") - col("a.cents")).as("num"),
          (col("b.wk") - col("a.wk")).as("den"))
      val slopes = pairs.select(
        when(col("num") >= 0, expr("(1000 * num) div den"))
          .otherwise(-expr("(1000 * (-num)) div den")).as("m"))
      val med = lowerMedian(slopes, "m")
      val resid = weekly.crossJoin(broadcast(med))
        .select((lit(1000L) * col("cents") - col("med") * col("wk"))
          .as("ic"))
      val imed = lowerMedian(resid, "ic")
      weekly.agg(count(lit(1)).as("n_weeks"))
        .crossJoin(broadcast(med.select(col("n_vals").as("n_pairs"),
          col("med").as("slope_mills_wk"))))
        .crossJoin(broadcast(imed.select(col("med").as("icept_cents_mills"))))
    },
      // same weekly frame, naive pair self-join, same histogram-median
      // selection. NB on the sign-split CASE: DuckDB 1.0's `//`
      // TRUNCATES toward zero exactly like Spark's div (verified:
      // -7 // 2 = -3, not -4 — an earlier comment here claimed floor
      // semantics, which is wrong); the CASE normalizes the operands
      // non-negative so the twin stays correct under EITHER floor or
      // truncation semantics (a DuckDB upgrade can't silently shift
      // negative slopes by one). Same shim in q187/q190/q191/q193.
      s"""WITH wkly AS (
           SELECT datediff('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE)) // $TsWeekDays AS wk,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS cents
           FROM orders GROUP BY 1),
         p AS (
           SELECT b.cents - a.cents AS num, b.wk - a.wk AS den
           FROM wkly a JOIN wkly b ON a.wk < b.wk),
         sl AS (
           SELECT CASE WHEN num >= 0 THEN (1000 * num) // den
             ELSE -((1000 * (-num)) // den) END AS m FROM p),
         h1 AS (SELECT m, CAST(count(*) AS BIGINT) AS cnt FROM sl
                GROUP BY 1),
         c1 AS (SELECT m, CAST(sum(cnt) OVER (ORDER BY m) AS BIGINT)
                  AS cum, CAST(sum(cnt) OVER () AS BIGINT) AS n
                FROM h1),
         med AS (SELECT min(m) AS slope, max(n) AS n_pairs FROM c1
                 WHERE cum >= (n + 1) // 2),
         r AS (SELECT 1000 * w.cents - med.slope * w.wk AS ic
               FROM wkly w CROSS JOIN med),
         h2 AS (SELECT ic, CAST(count(*) AS BIGINT) AS cnt FROM r
                GROUP BY 1),
         c2 AS (SELECT ic, CAST(sum(cnt) OVER (ORDER BY ic) AS BIGINT)
                  AS cum, CAST(sum(cnt) OVER () AS BIGINT) AS n
                FROM h2),
         imed AS (SELECT min(ic) AS icept FROM c2
                  WHERE cum >= (n + 1) // 2)
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM wkly) AS n_weeks,
           med.n_pairs, med.slope AS slope_mills_wk,
           imed.icept AS icept_cents_mills
         FROM med CROSS JOIN imed"""),

    // Lead–lag cross-correlation (the Box–Jenkins CCF companion to
    // q187's ACF): does view activity LEAD purchases? Per lag L in
    // −[[CcfMaxLag]]..+[[CcfMaxLag]], the SIGNED squared Pearson
    // correlation of the paired series (view_t, purchase_{t+L}) —
    // the q154 5-sum algebra PER LAG over its own aligned pair set
    // (each lag's means are its own window's, the statistically
    // correct alignment), squaring instead of sqrt so everything
    // stays exact DECIMAL(38,0)/HUGEINT; sign restored from the
    // covariance term. Pairs ride ONE broadcast self-join of the
    // checkpointed daily (x, y) frame on a day-difference range —
    // ≤ (2·MaxLag+1)·n pairs, SF-constant. Overflow envelope: the
    // squared numerator (n·sxy − sx·sy)²·1000 is QUARTIC in the daily
    // count C and quadratic in n_days (worst case ≈ (n²C²)²·1000), so
    // q154's quadratic bound does NOT transfer — the safe joint bound
    // is n_days·C ≲ 5.6×10⁸ (≈ 2×10⁵ events/day/type on this corpus's
    // ~2,400-day grid; rescale units — count in thousands — past
    // that, or Spark's non-ANSI decimal silently NULLs where DuckDB's
    // HUGEINT errors). Events scans once.
    Query("q193_crosscorrelation", (s, dir) => {
      val grid = t(s, dir, "events")
        .where(col("event_type").isin("view", "purchase"))
        .groupBy(expr(
          "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)")
          .as("day"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
        .localCheckpoint(true)
      grid.as("a")
        .join(broadcast(grid.as("b")),
          col("b.day") - col("a.day") >= -CcfMaxLag &&
          col("b.day") - col("a.day") <= CcfMaxLag)
        .select((col("b.day") - col("a.day")).as("lag"),
          col("a.x").as("x"), col("b.y").as("y"))
        .groupBy("lag")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
          sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
        .select(col("lag"), col("n").as("n_days"),
          expr("""CASE
              WHEN (CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)
                   * (CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy) = 0
                THEN CAST(0 AS BIGINT)
              WHEN CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy >= 0
                THEN CAST(((CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy)
                    * (CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy) * 1000)
                  div ((CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)
                    * (CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy))
                  AS BIGINT)
              ELSE -CAST(((CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy)
                    * (CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy) * 1000)
                  div ((CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)
                    * (CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy))
                  AS BIGINT)
            END""").as("r2_signed_mills"))
        .orderBy("lag")
    },
      // same daily (views, purchases) grid, same ±lag range self-join,
      // same sign-split squared-Pearson integer algebra; HUGEINT twins
      // DECIMAL(38,0), quotient magnitude is always ≥0 so DuckDB's //
      // and Spark's div agree exactly
      s"""WITH g AS (
           SELECT CAST(datediff('day', DATE '1970-01-01',
               CAST(ts AS DATE)) AS BIGINT) AS day,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS BIGINT) AS x,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS y
           FROM events WHERE event_type IN ('view', 'purchase')
           GROUP BY 1),
         p AS (SELECT b.day - a.day AS lag, a.x AS x, b.y AS y
               FROM g a JOIN g b
                 ON b.day - a.day BETWEEN -$CcfMaxLag AND $CcfMaxLag),
         s AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(x AS HUGEINT)) AS sx,
                 sum(CAST(y AS HUGEINT)) AS sy,
                 sum(CAST(x AS HUGEINT) * y) AS sxy,
                 sum(CAST(x AS HUGEINT) * x) AS sxx,
                 sum(CAST(y AS HUGEINT) * y) AS syy
               FROM p GROUP BY 1)
         SELECT lag, n AS n_days,
           CASE
             WHEN (CAST(n AS HUGEINT) * sxx - sx * sx)
                  * (CAST(n AS HUGEINT) * syy - sy * sy) = 0
               THEN CAST(0 AS BIGINT)
             WHEN CAST(n AS HUGEINT) * sxy - sx * sy >= 0
               THEN CAST(((CAST(n AS HUGEINT) * sxy - sx * sy)
                   * (CAST(n AS HUGEINT) * sxy - sx * sy) * 1000)
                 // ((CAST(n AS HUGEINT) * sxx - sx * sx)
                   * (CAST(n AS HUGEINT) * syy - sy * sy)) AS BIGINT)
             ELSE -CAST(((CAST(n AS HUGEINT) * sxy - sx * sy)
                   * (CAST(n AS HUGEINT) * sxy - sx * sy) * 1000)
                 // ((CAST(n AS HUGEINT) * sxx - sx * sx)
                   * (CAST(n AS HUGEINT) * syy - sy * sy)) AS BIGINT)
           END AS r2_signed_mills
         FROM s ORDER BY lag"""),

    // Mann–Kendall trend test (Mann 1945; Kendall) — the significance
    // companion to q183's Theil–Sen slope, on the SAME calendar-bounded
    // weekly revenue frame: S = Σ_{i<j} sign(x_j − x_i) over the
    // SF-constant ~58k pair space (bounded broadcast nested loop),
    // Kendall's τ_a = S/(n(n−1)/2) in sign-split mills, and the
    // tie-corrected 18·Var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)
    // (kept ×18 so it stays an exact integer; tie groups come from one
    // value-cardinality hash agg on the weekly frame). All products in
    // DECIMAL(38,0)/HUGEINT. Orders scans once into the checkpoint.
    Query("q191_mann_kendall", (s, dir) => {
      val weekly = weeklyRevenueCents(s, dir).localCheckpoint(true)
      val sStat = weekly.as("a")
        .join(broadcast(weekly.as("b")), col("a.wk") < col("b.wk"))
        .agg(sum(signum(col("b.cents") - col("a.cents")).cast("long"))
          .as("s_stat"), count(lit(1)).as("n_pairs"))
      val ties = weekly.groupBy("cents").agg(count(lit(1)).as("tc"))
        .agg(sum(expr(
          """CAST(tc AS DECIMAL(38,0)) * (tc - 1) * (2 * tc + 5)"""))
          .cast("decimal(38,0)").as("tie_term"),
          count(lit(1)).as("n_weeks"))
      sStat.crossJoin(broadcast(ties))
        .select(col("n_weeks"), col("n_pairs"), col("s_stat"),
          expr("""CASE WHEN s_stat >= 0
              THEN CAST((1000 * CAST(s_stat AS DECIMAL(38,0))) div n_pairs AS BIGINT)
              ELSE -CAST((1000 * CAST(-s_stat AS DECIMAL(38,0))) div n_pairs AS BIGINT)
            END""").as("tau_a_mills"),
          expr("""CAST(CAST(n_weeks AS DECIMAL(38,0)) * (n_weeks - 1)
              * (2 * n_weeks + 5) - coalesce(tie_term, 0)
            AS BIGINT)""").as("var18"))
    },
      // same weekly frame, naive pair self-join, same tie-corrected
      // variance algebra; HUGEINT twins DECIMAL(38,0)
      s"""WITH wkly AS (
           SELECT datediff('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE)) // $TsWeekDays AS wk,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS cents
           FROM orders GROUP BY 1),
         p AS (SELECT CAST(sum(CASE WHEN b.cents > a.cents THEN 1
                   WHEN b.cents < a.cents THEN -1 ELSE 0 END)
                   AS BIGINT) AS s_stat,
                 CAST(count(*) AS BIGINT) AS n_pairs
               FROM wkly a JOIN wkly b ON a.wk < b.wk),
         ti AS (SELECT sum(CAST(tc AS HUGEINT) * (tc - 1)
                    * (2 * tc + 5)) AS tie_term,
                  CAST(count(*) AS BIGINT) AS n_weeks
                FROM (SELECT cents, CAST(count(*) AS BIGINT) AS tc
                      FROM wkly GROUP BY 1))
         SELECT n_weeks, n_pairs, s_stat,
           CASE WHEN s_stat >= 0
             THEN CAST((1000 * CAST(s_stat AS HUGEINT)) // n_pairs AS BIGINT)
             ELSE -CAST((1000 * CAST(-s_stat AS HUGEINT)) // n_pairs AS BIGINT)
           END AS tau_a_mills,
           CAST(CAST(n_weeks AS HUGEINT) * (n_weeks - 1)
             * (2 * n_weeks + 5) - coalesce(tie_term, 0) AS BIGINT)
             AS var18
         FROM p CROSS JOIN ti"""),

    // Kaplan–Meier survival curve (Kaplan & Meier 1958) of customer
    // lifetime: per-customer first→last order span in 30-day buckets;
    // churn is OBSERVED only [[ChurnGraceDays]] before the corpus max
    // date, later customers are right-censored (the estimator's whole
    // point — a naive churn rate over-counts recent cohorts as
    // retained). Risk sets come from ONE reverse-cumulative window
    // over the ~80-row bucket frame; the survival product S' =
    // (S·(n−d)) div n is a SEQUENTIAL integer recurrence in micros,
    // folded array-side over the bounded frame in one codegen'd
    // aggregate() — the DuckDB twin is a recursive CTE running the
    // identical recurrence, so every step is bit-equal. Orders scans
    // exactly twice (per-customer spans + the 1-row max-date anchor).
    Query("q184_kaplan_meier", (s, dir) => {
      def day(c: String) =
        s"datediff(CAST($c AS DATE), DATE '1970-01-01')"
      val cust = t(s, dir, "orders").groupBy("o_custkey")
        .agg(expr(s"min(${day("o_orderdate")})").as("fd"),
          expr(s"max(${day("o_orderdate")})").as("ld"))
      val anchor = t(s, dir, "orders")
        .agg(expr(s"max(${day("o_orderdate")})").as("md"))
      val ev = cust.crossJoin(broadcast(anchor))
        .select(expr(s"(ld - fd) div $LifetimeBucketDays").as("t"),
          when(col("ld") <= col("md") - ChurnGraceDays, lit(1L))
            .otherwise(lit(0L)).as("died"))
      val b = ev.groupBy("t")
        .agg(sum(col("died")).as("d"), sum(lit(1L) - col("died")).as("c"))
      val wr = Window.orderBy(col("t").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      b.withColumn("n", sum(col("d") + col("c")).over(wr))
        .agg(sort_array(collect_list(
          struct(col("t"), col("d"), col("c"), col("n")))).as("bs"))
        .select(explode(expr(
          """aggregate(bs,
               struct(CAST(1000000 AS BIGINT) AS s,
                 CAST(array() AS
                   ARRAY<STRUCT<t: BIGINT, n: BIGINT, d: BIGINT,
                     c: BIGINT, surv: BIGINT>>) AS out),
               (acc, x) -> struct(
                 (acc.s * (x.n - x.d)) div x.n AS s,
                 concat(acc.out, array(struct(x.t AS t, x.n AS n,
                   x.d AS d, x.c AS c,
                   (acc.s * (x.n - x.d)) div x.n AS surv))) AS out),
               acc -> acc.out)""")).as("r"))
        .select(col("r.t").as("t_months"), col("r.n").as("n_risk"),
          col("r.d").as("n_died"), col("r.c").as("n_censored"),
          col("r.surv").as("surv_micros"))
        .orderBy("t_months")
    },
      // identical risk sets and the IDENTICAL integer survival
      // recurrence, run as a recursive CTE over the bucket index —
      // each step's floor division is bit-equal to the Spark fold
      s"""WITH RECURSIVE cust AS (
           SELECT o_custkey,
             datediff('day', DATE '1970-01-01',
               CAST(min(o_orderdate) AS DATE)) AS fd,
             datediff('day', DATE '1970-01-01',
               CAST(max(o_orderdate) AS DATE)) AS ld
           FROM orders GROUP BY 1),
         mx AS (SELECT max(ld) AS md FROM cust),
         ev AS (
           SELECT (ld - fd) // $LifetimeBucketDays AS t,
             CASE WHEN ld <= (SELECT md FROM mx) - $ChurnGraceDays
               THEN 1 ELSE 0 END AS died
           FROM cust),
         b AS (SELECT t, CAST(sum(died) AS BIGINT) AS d,
                 CAST(sum(1 - died) AS BIGINT) AS c
               FROM ev GROUP BY 1),
         bn AS (SELECT t, d, c,
                  CAST(sum(d + c) OVER (ORDER BY t DESC) AS BIGINT) AS n,
                  CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS i
                FROM b),
         km AS (
           SELECT i, t, d, c, n, (1000000 * (n - d)) // n AS surv
           FROM bn WHERE i = 1
           UNION ALL
           SELECT bn.i, bn.t, bn.d, bn.c, bn.n,
             (km.surv * (bn.n - bn.d)) // bn.n
           FROM km, bn WHERE bn.i = km.i + 1)
         SELECT t AS t_months, n AS n_risk, d AS n_died,
           c AS n_censored, surv AS surv_micros
         FROM km ORDER BY t_months"""),

    // EWMA forecast (Brown's simple exponential smoothing) of daily
    // revenue: s_1 = 1000·v_1, s_t = (α·1000·v_t + (1000−α)·s_{t−1})
    // div 1000 with α = [[EwmaAlphaMills]], everything in exact
    // milli-cents; the one-step-ahead forecast for day t IS s_{t−1},
    // so err_mc = |1000·v_t − s_{t−1}| (−1 sentinel on the first day,
    // which has no forecast). The recurrence is SEQUENTIAL, so it
    // folds array-side over the calendar-bounded daily frame (~2,400
    // rows at EVERY SF — the q184 fold shape) in one codegen'd
    // aggregate(); the α·1000·v product runs in DECIMAL(38,0) (HUGEINT
    // twin) because milli-cents × mills overflows int64 at real daily
    // revenue. Orders scans exactly once. The DuckDB twin is a
    // recursive CTE running the identical integer recurrence.
    Query("q185_ewma_forecast", (s, dir) => {
      val a = EwmaAlphaMills
      val daily = dailyRevenueCents(s, dir)
      val step = s"""CAST((CAST($a AS DECIMAL(38,0)) * x.cents * 1000
            + ${1000 - a} * acc.s) div 1000 AS BIGINT)"""
      daily
        .agg(sort_array(collect_list(struct(col("day"), col("cents"))))
          .as("ds"))
        .select(explode(expr(
          s"""aggregate(ds,
               struct(CAST(-1 AS BIGINT) AS s,
                 CAST(array() AS
                   ARRAY<STRUCT<day: BIGINT, cents: BIGINT,
                     ewma_mc: BIGINT, err_mc: BIGINT>>) AS out),
               (acc, x) -> struct(
                 CASE WHEN acc.s < 0 THEN 1000 * x.cents
                      ELSE $step END AS s,
                 concat(acc.out, array(struct(x.day AS day,
                   x.cents AS cents,
                   CASE WHEN acc.s < 0 THEN 1000 * x.cents
                        ELSE $step END AS ewma_mc,
                   CASE WHEN acc.s < 0 THEN CAST(-1 AS BIGINT)
                        ELSE abs(1000 * x.cents - acc.s) END
                     AS err_mc))) AS out),
               acc -> acc.out)""")).as("r"))
        .select(col("r.day").as("day"), col("r.cents").as("cents"),
          col("r.ewma_mc").as("ewma_mc"), col("r.err_mc").as("err_mc"))
        .orderBy("day")
    },
      // the IDENTICAL integer recurrence as a recursive CTE over the
      // day index; HUGEINT twins DECIMAL(38,0) for the α·1000·v
      // product, all operands non-negative so // and div agree
      s"""WITH RECURSIVE d AS (
           SELECT CAST(datediff('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS cents
           FROM orders GROUP BY 1),
         ix AS (SELECT day, cents,
                  CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
                FROM d),
         r AS (
           SELECT i, day, cents, 1000 * cents AS s,
             CAST(-1 AS BIGINT) AS err
           FROM ix WHERE i = 1
           UNION ALL
           SELECT ix.i, ix.day, ix.cents,
             CAST((CAST($EwmaAlphaMills AS HUGEINT) * ix.cents * 1000
               + ${1000 - EwmaAlphaMills} * r.s) // 1000 AS BIGINT),
             abs(1000 * ix.cents - r.s)
           FROM r JOIN ix ON ix.i = r.i + 1)
         SELECT day, cents, s AS ewma_mc, err AS err_mc
         FROM r ORDER BY day"""),

    // CUSUM changepoint detection (Page 1954) on daily revenue: the
    // cumulative sum of deviations from the series mean needs NO
    // recurrence — it's one cumulative window over the
    // calendar-bounded daily frame; the changepoint is the day of
    // maximum |CUSUM| (min-day tie-break via the struct-max trick).
    // Mean and cumsum run in DECIMAL(38,0)/HUGEINT — Σ1000·cents over
    // thousands of days overflows int64 at real revenue — and every
    // division has non-negative operands (the mean), so Spark div and
    // DuckDB // agree. The calendar-bounded daily frame is referenced
    // twice (mean anchor + the cumsum) — the q153 doubly-referenced-
    // frame rule — so it checkpoints and orders scans exactly ONCE.
    Query("q186_cusum_changepoint", (s, dir) => {
      val daily = dailyRevenueCents(s, dir).localCheckpoint(true)
      val m = daily.agg(expr(
          """CAST((CAST(1000 AS DECIMAL(38,0)) * sum(cents))
             div count(*) AS BIGINT)""").as("mean_mc"),
        count(lit(1)).as("n_days"))
      val wc = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      daily.crossJoin(broadcast(m))
        .withColumn("dev", expr(
          "CAST(1000 AS DECIMAL(38,0)) * cents - mean_mc"))
        .withColumn("cusum",
          sum(col("dev")).over(wc).cast("decimal(38,0)"))
        .agg(max(col("n_days")).as("n_days"),
          max(col("mean_mc")).as("mean_mc"),
          max(struct(abs(col("cusum")).as("a"), (-col("day")).as("nd"),
            col("cusum").as("c"))).as("mx"))
        .select(col("n_days"), col("mean_mc"),
          (-col("mx.nd")).as("cp_day"),
          col("mx.c").cast("long").as("cusum_mc"),
          col("mx.a").cast("long").as("max_abs_cusum_mc"))
    },
      // same mean anchor, same HUGEINT cumulative window; the
      // changepoint row comes from a fully-ordered LIMIT 1 (abs DESC,
      // day ASC) — the twin of Spark's max(struct(abs, -day)) pick
      s"""WITH d AS (
           SELECT CAST(datediff('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS cents
           FROM orders GROUP BY 1),
         m AS (SELECT CAST((CAST(1000 AS HUGEINT) * sum(cents))
                   // count(*) AS BIGINT) AS mean_mc,
                 CAST(count(*) AS BIGINT) AS n_days
               FROM d),
         c AS (SELECT day,
                 CAST(sum(CAST(1000 AS HUGEINT) * cents - mean_mc)
                   OVER (ORDER BY day) AS BIGINT) AS cusum
               FROM d CROSS JOIN m),
         cp AS (SELECT day AS cp_day, cusum AS cusum_mc,
                  abs(cusum) AS max_abs_cusum_mc
                FROM c ORDER BY abs(cusum) DESC, day ASC LIMIT 1)
         SELECT n_days, mean_mc, cp_day, cusum_mc, max_abs_cusum_mc
         FROM m CROSS JOIN cp"""),

    // Autocorrelation function (Box–Jenkins diagnostics) of daily
    // revenue at lags 1..[[AcfMaxLag]]: ACF(L) = Σ(x_t−m)(x_{t−L}−m)
    // / Σ(x_t−m)², deviations in exact milli-cents against the
    // series mean, products and sums in DECIMAL(38,0)/HUGEINT. Pairs
    // come from ONE broadcast self-join of the checkpointed
    // calendar-bounded daily frame on a day-difference range predicate
    // (≤ MaxLag·n pairs, SF-constant) — day GAPS simply contribute no
    // pair at that lag, and the denominator is the full-series sum of
    // squares (the standard estimator). Sign-split division keeps
    // truncate-toward-zero identical across engines. Orders scans once.
    Query("q187_autocorrelation", (s, dir) => {
      val daily = dailyRevenueCents(s, dir).localCheckpoint(true)
      val m = daily.agg(expr(
        """CAST((CAST(1000 AS DECIMAL(38,0)) * sum(cents))
           div count(*) AS BIGINT)""").as("mean_mc"))
      val dev = daily.crossJoin(broadcast(m))
        .select(col("day"),
          expr("CAST(1000 AS DECIMAL(38,0)) * cents - mean_mc").as("d"))
        .localCheckpoint(true)
      val den = dev.agg(sum(col("d") * col("d")).cast("decimal(38,0)")
        .as("den"))
      dev.as("a")
        .join(broadcast(dev.as("b")),
          col("a.day") - col("b.day") >= 1 &&
          col("a.day") - col("b.day") <= AcfMaxLag)
        .select((col("a.day") - col("b.day")).as("lag"),
          (col("a.d") * col("b.d")).as("p"))
        .groupBy("lag")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("p")).cast("decimal(38,0)").as("num"))
        .crossJoin(broadcast(den))
        .select(col("lag"), col("n_pairs"),
          expr("""CASE WHEN num >= 0
              THEN CAST((1000 * num) div den AS BIGINT)
              ELSE -CAST((1000 * (-num)) div den AS BIGINT)
            END""").as("acf_mills"))
        .orderBy("lag")
    },
      // same deviations, same lagged self-join, same sign-split
      // division; HUGEINT twins DECIMAL(38,0) throughout
      s"""WITH d AS (
           SELECT CAST(datediff('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS cents
           FROM orders GROUP BY 1),
         m AS (SELECT CAST((CAST(1000 AS HUGEINT) * sum(cents))
                 // count(*) AS BIGINT) AS mean_mc FROM d),
         dv AS (SELECT day,
                  CAST(1000 AS HUGEINT) * cents - mean_mc AS dd
                FROM d CROSS JOIN m),
         dn AS (SELECT sum(dd * dd) AS den FROM dv),
         nm AS (SELECT a.day - b.day AS lag,
                  CAST(count(*) AS BIGINT) AS n_pairs,
                  sum(a.dd * b.dd) AS num
                FROM dv a JOIN dv b
                  ON a.day - b.day BETWEEN 1 AND $AcfMaxLag
                GROUP BY 1)
         SELECT lag, n_pairs,
           CASE WHEN num >= 0 THEN CAST((1000 * num) // den AS BIGINT)
             ELSE -CAST((1000 * (-num)) // den AS BIGINT) END
             AS acf_mills
         FROM nm CROSS JOIN dn
         ORDER BY lag"""),

    // Frequent 3-itemsets (the A-priori level above q141's pairs):
    // per-order sorted part sets generate ordered triples ARRAY-SIDE
    // — mass Σ k_o³/6 with k_o bounded by items-per-order, never a
    // 3-way row join — then one hash agg on the triple key, support
    // floor, and a TakeOrdered top-K with a full deterministic
    // tie-break. The oracle is the naive 3-way self-join twin: parity
    // proves the nested slice/transform generation emits each ordered
    // triple exactly once.
    Query("q169_frequent_triples", (s, dir) => {
      // round-14 OPT: codegen'd ordered-triple kernel replaces the
      // doubly-nested transform/slice HOF generation (interpreted,
      // O(k³) slice allocations per order) — identical triple multiset
      orderPartSets(s, dir)
        .select(explode(
          graft.functions.ArrayOps.orderedTriples(col("ps"))).as("tr"))
        .select(col("tr.part_a"), col("tr.part_b"), col("tr.part_c"))
        .groupBy("part_a", "part_b", "part_c")
        .agg(count(lit(1)).as("n_orders"))
        .where(col("n_orders") >= TripleMinSupport)
        .orderBy(col("n_orders").desc, col("part_a"), col("part_b"),
          col("part_c"))
        .limit(CoPairTopK)
    },
      // the naive 3-way self-join twin with a rank cut (LIMIT-after-
      // filter has engine-defined order; the rank predicate is the
      // deterministic form)
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         t3 AS (
           SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             c.l_partkey AS part_c, CAST(count(*) AS BIGINT) AS n_orders
           FROM li a
           JOIN li b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
           JOIN li c ON b.l_orderkey = c.l_orderkey
             AND b.l_partkey < c.l_partkey
           GROUP BY 1, 2, 3),
         f AS (SELECT * FROM t3 WHERE n_orders >= $TripleMinSupport),
         r AS (SELECT *, row_number() OVER (ORDER BY n_orders DESC,
             part_a, part_b, part_c) AS rn FROM f)
         SELECT part_a, part_b, part_c, n_orders FROM r
         WHERE rn <= $CoPairTopK
         ORDER BY n_orders DESC, part_a, part_b, part_c"""),

    // Funnel time-to-convert distribution (the product-analytics
    // latency metric): per user, first click → first purchase AT OR
    // AFTER it; the delta distribution reported as exact p50/p90/max
    // through the value-histogram selection kernel (q57's shape) in
    // epoch micros. Two user-keyed aggs + one user equi-join (the
    // purchase scan joins the broadcast-sized converting-click frame
    // only after its own user agg at scale — here the frame is
    // user-bounded either way); the histogram window rides delta
    // cardinality, never user rows.
    Query("q170_funnel_latency", (s, dir) => {
      val ev = graft.Tables.eventsTsMicros(t(s, dir, "events"))
        .select(col("user_id"), col("event_type"), col("ts_us"))
      val c = ev.where(col("event_type") === "click")
        .groupBy("user_id").agg(min(col("ts_us")).as("cts"))
      val tt = ev.where(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .where(col("ts_us") >= col("cts"))
        .groupBy("user_id")
        .agg((min(col("ts_us")) - min(col("cts"))).as("tt"))
      val n1 = tt.agg(count(lit(1)).as("n"))
      val wv = Window.orderBy("tt").rowsBetween(Window.unboundedPreceding, 0)
      tt.groupBy("tt").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wv))
        .crossJoin(broadcast(n1))
        .groupBy()
        .agg(max(col("n")).as("n_converted"),
          min(when(col("cum") >= expr("(50 * n + 99) div 100"), col("tt")))
            .as("p50_us"),
          min(when(col("cum") >= expr("(90 * n + 99) div 100"), col("tt")))
            .as("p90_us"),
          max(col("tt")).as("max_us"))
    },
      // same two-agg + histogram-selection recompute in epoch micros
      """WITH e AS (
           SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
         c AS (
           SELECT user_id, min(ts_us) AS cts FROM e
           WHERE event_type = 'click' GROUP BY 1),
         tt AS (
           SELECT e.user_id, min(e.ts_us) - min(c.cts) AS tt
           FROM e JOIN c USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts_us >= c.cts
           GROUP BY 1),
         n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tt),
         h AS (SELECT tt, CAST(count(*) AS BIGINT) AS c FROM tt GROUP BY 1),
         hc AS (SELECT tt, sum(c) OVER (ORDER BY tt
             ROWS UNBOUNDED PRECEDING) AS cum FROM h)
         SELECT max(n) AS n_converted,
           min(CASE WHEN cum >= (50 * n + 99) // 100 THEN tt END)
             AS p50_us,
           min(CASE WHEN cum >= (90 * n + 99) // 100 THEN tt END)
             AS p90_us,
           max(tt) AS max_us
         FROM hc CROSS JOIN n1"""),

    // A/B experiment lift report: users assigned to variants by the
    // deterministic split user_id % 2, conversion = any purchase
    // event; per-variant conversion rates, the rate lift, and the 2×2
    // contingency chi-square — all in EXACT integer mills: χ² =
    // N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)), products in
    // DECIMAL(38,0)/HUGEINT (valid to ~10⁷ users before 38 digits
    // saturate — past that a real deployment tests on rate deltas,
    // not raw cells; the fixture is exact). One user-keyed distinct
    // agg absorbs the corpus, then the 2×2 table is a conditional-sum
    // fold to ONE row — the whole report is two bounded aggregates.
    Query("q167_ab_lift", (s, dir) => {
      val perUser = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
        .withColumn("variant", pmod(col("user_id"), lit(2)))
      perUser.groupBy()
        .agg(
          sum(when(col("variant") === 0, 1L).otherwise(0L)).as("users_a"),
          sum(when(col("variant") === 0, col("conv")).otherwise(0L))
            .as("conv_a"),
          sum(when(col("variant") === 1, 1L).otherwise(0L)).as("users_b"),
          sum(when(col("variant") === 1, col("conv")).otherwise(0L))
            .as("conv_b"))
        .withColumn("rate_a_mills", expr("(1000 * conv_a) div users_a"))
        .withColumn("rate_b_mills", expr("(1000 * conv_b) div users_b"))
        .withColumn("lift_mills",
          col("rate_b_mills") - col("rate_a_mills"))
        .withColumn("chi2_mills", expr(
          """CAST((1000 * (users_a + users_b)
               * CAST(conv_a * (users_b - conv_b)
                      - conv_b * (users_a - conv_a) AS DECIMAL(38,0))
               * CAST(conv_a * (users_b - conv_b)
                      - conv_b * (users_a - conv_a) AS DECIMAL(38,0)))
             div nullif(CAST(users_a AS DECIMAL(38,0)) * users_b
                  * (conv_a + conv_b)
                  * (users_a + users_b - conv_a - conv_b), 0)
             AS LONG)"""))
    },
      // same per-user distinct conversion fold, same exact 2×2
      // algebra; HUGEINT twins DECIMAL(38,0), nullif twins the
      // degenerate all-converted/none-converted guard
      """WITH pu AS (
           SELECT user_id,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
           FROM events GROUP BY 1),
         t AS (
           SELECT
             CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS users_a,
             CAST(sum(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END)
               AS BIGINT) AS conv_a,
             CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS users_b,
             CAST(sum(CASE WHEN user_id % 2 = 1 THEN conv ELSE 0 END)
               AS BIGINT) AS conv_b
           FROM pu),
         r AS (
           SELECT *, (1000 * conv_a) // users_a AS rate_a_mills,
             (1000 * conv_b) // users_b AS rate_b_mills
           FROM t)
         SELECT users_a, conv_a, users_b, conv_b,
           rate_a_mills, rate_b_mills,
           rate_b_mills - rate_a_mills AS lift_mills,
           CAST((1000 * (users_a + users_b)
                 * CAST(conv_a * (users_b - conv_b)
                        - conv_b * (users_a - conv_a) AS HUGEINT)
                 * CAST(conv_a * (users_b - conv_b)
                        - conv_b * (users_a - conv_a) AS HUGEINT))
               // nullif(CAST(users_a AS HUGEINT) * users_b
                    * (conv_a + conv_b)
                    * (users_a + users_b - conv_a - conv_b), 0)
             AS BIGINT) AS chi2_mills
         FROM r"""),

    // Time-weighted average (the metrics-store kernel a plain mean
    // gets WRONG when samples arrive unevenly): treat each user's
    // value stream per event type as piecewise-constant until the
    // next sample — weight = Δt to the next event in exact epoch
    // micros (lead over the user-keyed window, the q148 exchange
    // shape) — then POOL per type: twa = Σ v·Δt div Σ Δt, products
    // in DECIMAL(38,0)/HUGEINT (cents × day-scale micros ≈ 10¹⁹
    // overflows int64 immediately). Users with a single event of a
    // type carry no interval and drop out of the pooled weights —
    // the honest piecewise-constant answer. Output: one row per
    // type, with the unweighted mean beside the TWA so the report
    // SHOWS the sampling-bias correction.
    Query("q168_time_weighted_avg", (s, dir) => {
      val ev = graft.Tables.eventsTsMicros(t(s, dir, "events"))
        .select(col("event_type"), col("user_id"), col("event_id"),
          col("ts_us"), cents(col("value")).as("v"))
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy("ts_us", "event_id")
      ev.withColumn("dt", lead(col("ts_us"), 1).over(w) - col("ts_us"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CASE WHEN dt IS NOT NULL THEN CAST(v AS DECIMAL(38,0)) * dt END"))
            .as("__wsum"),
          coalesce(sum(col("dt")), lit(0L)).as("span_us"),
          sum(col("v")).as("__vsum"))
        // −1 sentinel when no interval exists (every user sampled the
        // type at most once) — the harness's null-int convention
        .withColumn("twa_cents", expr(
          "CAST(coalesce(__wsum div nullif(CAST(span_us AS DECIMAL(38,0)), 0), -1) AS LONG)"))
        .withColumn("mean_cents", expr("__vsum div n_events"))
        .drop("__wsum", "__vsum")
        .orderBy("event_type")
    },
      // same user-keyed lead window, same pooled Σv·Δt / ΣΔt algebra;
      // HUGEINT twins DECIMAL(38,0); epoch_us(ts) is the shared exact
      // micros domain (q80's precedent)
      """WITH e AS (
           SELECT event_type, user_id, event_id, epoch_us(ts) AS ts_us,
             CAST(floor(value * 100) AS BIGINT) AS v
           FROM events),
         x AS (
           SELECT *, lead(ts_us) OVER (PARTITION BY user_id, event_type
             ORDER BY ts_us, event_id) - ts_us AS dt
           FROM e),
         a AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             sum(CASE WHEN dt IS NOT NULL
                 THEN CAST(v AS HUGEINT) * dt END) AS ws,
             CAST(coalesce(sum(dt), 0) AS BIGINT) AS span_us,
             CAST(sum(v) AS BIGINT) AS vs
           FROM x GROUP BY 1)
         SELECT event_type, n_events, span_us,
           CAST(coalesce(ws // nullif(CAST(span_us AS HUGEINT), 0), -1)
             AS BIGINT) AS twa_cents,
           vs // n_events AS mean_cents
         FROM a ORDER BY 1"""),

    // Z-order clustering key (Morton interleave, graft.functions.ZOrder):
    // quantize (l_orderkey, l_partkey) to 2^bits, interleave, and roll
    // up per top-8-bit z-bucket. The min/max envelopes per bucket SHOW
    // the locality contract (each bucket is a 2-D quadrant, both dims
    // tight) and sum/min/max of the key pin every interleaved bit of
    // every row. One hash-agg shuffle on the bucket.
    Query("q97_zorder_stats", (s, dir) => {
      val bits = ZOrderBits
      val q = t(s, dir, "lineitem").select(
        (col("l_orderkey") % (1L << bits)).as("xq"),
        (col("l_partkey") % (1L << bits)).as("yq"))
      q.select(col("xq"), col("yq"),
          graft.functions.ZOrder.interleave2(col("xq"), col("yq"), bits)
            .as("zkey"))
        .groupBy(shiftright(col("zkey"), 2 * bits - 8).as("bucket"))
        .agg(count(lit(1)).as("n"),
          min("xq").as("min_x"), max("xq").as("max_x"),
          min("yq").as("min_y"), max("yq").as("max_y"),
          sum("zkey").as("sum_z"), min("zkey").as("min_z"),
          max("zkey").as("max_z"))
        .orderBy("bucket")
    },
      // full recompute: identical quantization, the shared static
      // interleave expansion, identical bucket shift
      s"""WITH q AS (
           SELECT CAST(l_orderkey % ${1L << ZOrderBits} AS BIGINT) AS xq,
             CAST(l_partkey % ${1L << ZOrderBits} AS BIGINT) AS yq
           FROM lineitem),
         z AS (SELECT xq, yq, ${zInterleaveSql("xq", "yq", ZOrderBits)} AS zkey
               FROM q)
         SELECT zkey >> ${2 * ZOrderBits - 8} AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           min(xq) AS min_x, max(xq) AS max_x,
           min(yq) AS min_y, max(yq) AS max_y,
           CAST(sum(zkey) AS BIGINT) AS sum_z,
           min(zkey) AS min_z, max(zkey) AS max_z
         FROM z GROUP BY bucket ORDER BY bucket"""))

  /** q97's z-order quantization width (dims masked to 2^bits) — shared
    * with the oracle twin; edit HERE. */
  private[graft] val ZOrderBits = 10

  /** q133's profiled columns — ONE list drives both the Spark unpivot
    * and the generated per-column oracle UNION ALL; edit HERE. */
  private[graft] val ProfileCols = Seq("source", "lang", "text")

  /** q141's report size and q142's edge-support floor (support ≥ 2
    * keeps the co-purchase graph at 2.3-3.6k edges across the SFs,
    * with triangles at every SF: 3258/61/1). */
  private[graft] val CoPairTopK = 20
  private[graft] val CoPairMinSupport = 2L

  /** q143's unrolled PageRank rounds. */
  private[graft] val PrIters = 3

  /** q165's BFS geometry: multi-source from the top-[[BfsSeedK]]
    * degree vertices, distances capped at [[BfsMaxHops]] unrolled
    * rounds (unreached → −1). */
  private[graft] val BfsSeedK = 3
  private[graft] val BfsMaxHops = 4

  /** q169's 3-itemset support floor (2 keeps the report non-trivial at
    * sf0.01/sf0.1; an empty frontier at sf0.001 is a legitimate
    * 0-row twin). */
  private[graft] val TripleMinSupport = 2L

  /** q171's sorted-neighborhood geometry: compare each record against
    * its next [[SnmWindow]] rank neighbors; keep pairs with token-set
    * Jaccard ≥ [[SnmMinJaccardMills]] (333 = one shared token of
    * two-token names). */
  private[graft] val SnmWindow = 3
  private[graft] val SnmMinJaccardMills = 333L

  /** q174's hot-key report depth. */
  private[graft] val SkewTopK = 10

  /** q178's bin count (deciles). */
  private[graft] val EquiDepthK = 10

  /** q180's recommendations per part. */
  private[graft] val AlsoBoughtK = 3

  /** q182's rule-report size. */
  private[graft] val AssocTopK = 20

  /** q183's trend bucket: weekly revenue (day-since-epoch div 7) keeps
    * the frame calendar-bounded (~340 weeks at every SF) so the
    * all-pairs slope mass is SF-CONSTANT (~58k pairs), never |orders|². */
  private[graft] val TsWeekDays = 7

  /** q184's survival geometry: lifetimes bucketed to 30-day months;
    * churn is OBSERVED only when the last order predates the corpus
    * max date by more than [[ChurnGraceDays]] — later customers are
    * right-censored, the distinction Kaplan–Meier exists to handle. */
  private[graft] val LifetimeBucketDays = 30
  private[graft] val ChurnGraceDays = 90

  /** q185's smoothing weight α in mills: 0.3 — the classic "responsive
    * but not jumpy" simple-exponential-smoothing default. */
  private[graft] val EwmaAlphaMills = 300L

  /** q187's deepest lag: one week of daily-revenue autocorrelations
    * (the horizon q155's day-of-week seasonality makes interesting). */
  private[graft] val AcfMaxLag = 7L

  /** q193's lag window: ±one week of view→purchase cross-correlation,
    * structurally tied to [[AcfMaxLag]] so the two studies always share
    * a calendar scale (CrossQueryConsistencySpec pins the −7..7 grid).
    * The pair space is ≤ (2·lag+1)·n_days — SF-constant. */
  private[graft] val CcfMaxLag = AcfMaxLag

  /** Lower-median selection via the q57 histogram kernel: one hash agg
    * on the value, cumulative window over VALUE CARDINALITY (never row
    * count), min value with cum ≥ (n+1) div 2. Returns a 1-row frame
    * (med, n_vals) — broadcast it back. */
  private def lowerMedian(vals: DataFrame, c: String): DataFrame = {
    val hist = vals.groupBy(c).agg(count(lit(1)).as("cnt"))
    val wv = Window.orderBy(c).rowsBetween(Window.unboundedPreceding, 0)
    val wt = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    hist.withColumn("cum", sum(col("cnt")).over(wv))
      .withColumn("n", sum(col("cnt")).over(wt))
      .where(col("cum") >= expr("(n + 1) div 2"))
      .agg(min(col(c)).as("med"), max(col("n")).as("n_vals"))
  }

  /** q177's fixed histogram bin width: $25,000 in cents (~20 bins over
    * the TPC-H totalprice range). */
  private[graft] val DriftBinCents = 2500000L

  /** q176's decay half-life in days — 7 exercises five exact weight
    * buckets (1e6, 5e5, 25e4, 125e3, 625e2 ppm) over the events
    * table's 30-day span at every SF. Interpolated into BOTH twins. */
  private[graft] val DecayHalfLifeDays = 7L

  /** Calendar-bounded daily revenue frame (day-since-epoch, cents) —
    * the ONE builder behind the q185/q186/q187 time-series studies
    * (~2,400 rows at EVERY SF), so the three always analyze the same
    * series. Callers checkpoint per their own reference count. */
  private def dailyRevenueCents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(expr(
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)")
        .as("day"))
      .agg(expr("sum(CAST(floor(o_totalprice * 100) AS BIGINT))")
        .as("cents"))

  /** Calendar-bounded weekly revenue frame (wk, cents) — q183/q191
    * share it so Theil–Sen and Mann–Kendall always study the SAME
    * series (the cross-query contract their comments promise). */
  private def weeklyRevenueCents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(expr(
        s"datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') div $TsWeekDays")
        .as("wk"))
      .agg(expr("sum(CAST(floor(o_totalprice * 100) AS BIGINT))")
        .as("cents"))

  /** q177/q189's shared drift frame: orders split at the exact midpoint
    * day (1-row broadcast anchor), price histogrammed into
    * [[DriftBinCents]] bins → (bin, n_a, n_b). Eagerly checkpointed —
    * both queries reference it more than once (the q153
    * doubly-referenced-frame rule) — so TVD and PSI provably gate on
    * the SAME bins and the SAME anchor. */
  private def driftBinned(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(
      expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("price_cents"),
      expr("CAST(o_orderdate AS DATE)").as("d"))
    val anchor = o.agg(
      expr("(min(datediff(d, DATE '1970-01-01')) + max(datediff(d, DATE '1970-01-01'))) div 2")
        .as("mid_day"))
    o.crossJoin(broadcast(anchor))
      .select(
        expr(s"price_cents div $DriftBinCents").as("bin"),
        when(expr("datediff(d, DATE '1970-01-01')") < col("mid_day"), lit(1L))
          .otherwise(lit(0L)).as("in_a"))
      .groupBy("bin")
      .agg(sum(col("in_a")).as("n_a"), sum(lit(1L) - col("in_a")).as("n_b"))
      .localCheckpoint(true)
  }

  /** The distinct per-order sorted part-set frame (`l_orderkey` → `ps`,
    * bounded by items/order) — ONE definition of the set generation
    * shared by the pair (coPairCounts → q141/q142/q143/q180/q182) and
    * triple (q169) kernels, so set semantics (distinct, sort order,
    * null handling) can never drift between them. */
  private def orderPartSets(s: SparkSession, dir: String): DataFrame =
    // (round-13 OPT audit: the pre-distinct looks like a second full
    // shuffle of the pair frame, but Catalyst's RemoveRedundantAggregates
    // already folds it into the duplicate-agnostic collect_set — the
    // physical plan is ONE ObjectHashAggregate exchange either way
    // (plans/r13/q141_before.txt ≡ q141_after.txt). Left as written.)
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))

  /** q141/q142's co-purchase pair support counts: [[orderPartSets]] →
    * ordered pairs generated ARRAY-SIDE (pair mass Σ k_o², never
    * |lineitem|²) → one pair-key hash agg. */
  private def coPairCounts(s: SparkSession, dir: String): DataFrame =
    // round-14 OPT: codegen'd ordered-pair kernel replaces the nested
    // transform/slice HOF generation (interpreted, O(k²) slice allocs
    // per order) — identical pair multiset (ArrayOps.orderedPairs doc)
    orderPartSets(s, dir)
      .select(explode(
        graft.functions.ArrayOps.orderedPairs(col("ps"))).as("pr"))
      .select(col("pr.part_a"), col("pr.part_b"))
      .groupBy("part_a", "part_b").agg(count(lit(1)).as("n_orders"))

  /** The DuckDB twin of [[coPairCounts]] — the NAIVE self-join form,
    * shared by the q141 and q142 oracles. */
  private def coPairSql: String =
    """li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       cp AS (
         SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(count(*) AS BIGINT) AS n_orders
         FROM li a JOIN li b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         GROUP BY 1, 2)"""

  /** DuckDB twin of Normalize.wsTrim — whitespace trim, the
    * reference's Python strip() (plain trim() strips spaces only). */
  private def wst(c: String) =
    s"regexp_replace($c, '${graft.functions.Normalize.WsTrimRe}', '', 'g')"

  /** The NullTokens list interpolated from the engine's source. */
  private val nullTokensSql =
    graft.functions.Normalize.NullTokens.map(t => s"'$t'").mkString(",")

  /** DuckDB twin of one q133 profile row (the q02 normEmpty blank-ish
    * rule inlined). */
  private def profileSql(c: String): String =
    s"""SELECT '$c' AS col_name, count(*) AS n_rows,
        CAST(count(*) - count($c) AS BIGINT) AS n_null,
        CAST(count(*) FILTER ($c IS NULL OR lower(${wst(c)}) IN
          ($nullTokensSql)) AS BIGINT) AS n_blankish,
        count(DISTINCT $c) AS n_distinct,
        min(length($c)) AS min_len, max(length($c)) AS max_len,
        CAST(sum(length($c)) AS BIGINT) AS len_sum,
        (1000 * CAST(sum(length($c)) AS BIGINT))
          // nullif(count($c), 0) AS avg_len_mills
        FROM documents"""

  /** DuckDB twin of [[graft.functions.ZOrder.interleave2]]: the same
    * static shift/mask/or expansion over pre-masked operands. */
  private[graft] def zInterleaveSql(x: String, y: String, bits: Int): String =
    (0 until bits).map(i =>
      s"((((($x) >> $i) & 1) << ${2 * i}) | (((($y) >> $i) & 1) << ${2 * i + 1}))")
      .mkString(" | ")

  /** DuckDB CTE body recomputing the SCD2 history (q82's contract)
    * over `src` (a table name or parenthesized subquery): yields CTE
    * `hist` with (user_id, version_no, event_type, vf, n_rows) —
    * shared by q82 (full history) and q103 (point-in-time lookup) so
    * the two recomputes can never drift. */
  private[graft] def scd2HistoryCtes(src: String): String =
    s"""g AS (
         SELECT user_id, event_type, ts, event_id,
           CASE WHEN lag(1) OVER
               (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id) IS NULL
             OR event_type IS DISTINCT FROM lag(event_type) OVER
             (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
             THEN 1 ELSE 0 END AS chg
         FROM $src),
       v AS (
         SELECT user_id, event_type, ts,
           sum(chg) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
             ROWS UNBOUNDED PRECEDING) AS ver
         FROM g),
       hist AS (
         -- first-row ts, twin of buildHistory's null-propagating
         -- valid_from (a version holding a null-ts row opened on it)
         SELECT user_id, CAST(ver AS BIGINT) AS version_no, event_type,
           CASE WHEN count(ts) < count(*) THEN NULL
                ELSE min(ts) END AS vf,
           count(*) AS n_rows
         FROM v GROUP BY 1, 2, 3)"""
}
