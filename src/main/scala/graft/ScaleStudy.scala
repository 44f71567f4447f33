package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-dominant scale study — now spanning all three heavy families.
  *
  * The shipped testdata tops out at sf0.1 (5k documents / 100k events /
  * 600k lineitem), where the round-5 exponent study showed the suite is
  * still overhead-bound. This main measures each family at a
  * synthesized 10× step where data genuinely dominates:
  *
  *  - `docs`   (round 6): 50k documents via the per-replica TOKEN
  *    BIJECTION t → "t_rk" — preserves every intra-replica shingle-set
  *    relation exactly while keeping replica token spaces disjoint, so
  *    true near-dup mass scales linearly (a real crawl's shape), never
  *    the quadratic clique artifact of naive copying.
  *  - `events` (round 7): 1M events via id strides — `user_id` +
  *    k·[[UserOffset]], `event_id` + k·[[EventOffset]], timestamps and
  *    types UNTOUCHED. Disjoint user spaces replicate every per-user
  *    structure exactly: q71's session set, q80's purchase⋈click
  *    attribution, q82's version history are each 10 identical
  *    per-replica copies — linear by construction, measured for real.
  *    q44 keeps the same windows with 10× counts (state keyspace
  *    constant, state VALUES scale — the windowed-agg shape).
  *  - `rel`    (round 7): 6M lineitem via `l_orderkey` + k·[[OrderOffset]]
  *    with dimension keys (l_partkey/l_suppkey) untouched, dims copied
  *    as-is — the fact-grows-dims-fixed shape of a real warehouse.
  *    q50's salted join fans 10× facts over the same part keys; q55's
  *    two broadcast dims stay broadcast.
  *
  * A `deep` run (round 7) adds the SECOND document step — synth sf10,
  * 500k docs via 100 replicas — for the two checkpoint-write-dominated
  * plans (q53 components, q86 passage index), confirming the
  * index/label write growth stays linear at a step where the write
  * itself dominates.
  *
  * Protocol per query: one warmup pass + best-of-3 (`Bench`), at the
  * base and synth dirs; prints ONE JSON line with per-family times and
  * scale exponents log10(t_synth / t_base) — 1.0 = linear over a 10×
  * step. The q01 warm gauge rides along so a noisy window is
  * self-evident.
  */
object ScaleStudy {

  /** doc_id remap stride between replicas. Divisible by 420 =
    * lcm(3, 4, 5, 7) — every `doc_id % m` residue filter used by the
    * gated queries (m ∈ {3,4,5,7,21}, all dividing 420 evenly in the
    * modulus sense: 420 ≡ 0 mod each) selects the SAME rows in every
    * replica, so the studied input is exactly 10× the sf0.1 input. */
  val IdOffset: Long = 10000200L
  require(IdOffset % 420 == 0)

  val Replicas = 10

  /** events strides: beyond sf0.1's max user_id 1,499 / event_id
    * 99,999 with headroom for larger fixtures; no gated query filters
    * either key by residue (verified by grep, enforced by the
    * max-guard below). */
  val UserOffset: Long = 1000000L
  val EventOffset: Long = 10000000L

  /** lineitem stride: beyond sf0.1's max l_orderkey 149,999; ≡ 0 mod
    * 420 for the same residue-safety as IdOffset. */
  val OrderOffset: Long = 10000200L

  /** embeddings stride: beyond sf0.1's max vec_id 1,999. Residue
    * safety does NOT matter here — the `ann` family never selects
    * queries by `vec_id %` on the synth corpus (its query set is
    * FIXED from the base dir; see [[annStudies]]). */
  val VecOffset: Long = 100000L

  /** The heavy document-family queries. Notes on the round-6
    * additions: q78's eval gram set grows 10× past the Bloom bitset's
    * capacity, so its synth-sf1 point measures the saturated-prefilter
    * worst case (everything exact-confirmed) — the confirm equi-join's
    * collision mass is linear by replica disjointness, which is
    * exactly the claim worth measuring. q79's fixed keyword workload
    * matches only replica 0 (salted tokens are disjoint), so its
    * exponent isolates the corpus-proportional scan/explode/semi-join
    * stage; the postings-proportional stages are workload-bound.
    * q83 (two corpus scans: Space-Saving summaries + candidate
    * recount) runs its UNPROVABLE regime at synth sf1 — the token
    * bijection grows the vocab 10× past the counter budget, so
    * provably_exact flips false there (the honest answer; q83's oracle
    * pins the provable regime at the real SFs) — while the scan/
    * recount cost being measured is unaffected by the flag.
    * q84 (Count-Min) also scans the corpus twice — sketch build plus
    * the exact top-K probe agg — but both shuffles have bounded key
    * spaces (depth×width buckets; vocab capped by the probe LIMIT), so
    * its exponent isolates pure scan/explode growth.
    * q85 (chunking) is the shuffle-free floor: pure projection +
    * explode + the oracle sort — its exponent is the output-mass
    * growth itself. q86 (dup passages) adds the window-frequency
    * countDistinct shuffle and the hash-keyed join back; the token
    * bijection keeps replicas' window spaces disjoint, so the distinct-
    * window key space grows 10× and the dup mass stays linear. */
  val HeavyQueries: Seq[String] = Seq(
    "q36_jaccard_pairs", "q48_simhash_neardup",
    "q53_dedup_components", "q65_repetition_stats",
    "q78_bloom_decontam", "q79_bm25_topk", "q83_heavy_hitters",
    "q84_cms_counts", "q85_chunk_windows", "q86_dup_passages",
    // round-7 additions: q89 re-reads the anchored index TWICE (dup
    // starts + kept-token anti-join) plus the per-doc rebuild rollup —
    // the heaviest new plan; q90's weight table is bounded (only the
    // gram projection and per-doc sum grow); q91 is the projection
    // floor like q85
    "q89_dup_removal", "q90_dsir_score", "q91_gopher_flags",
    // round-8 additions: q95's cost table is vocab-bounded (the token
    // bijection grows the 'en' vocab 10×, still bounded) — only the
    // gram projection and per-doc sum grow; q96 is the (doc,term) tf
    // shuffle + reused-exchange df agg; q98's fixed blocklist matches
    // only replica 0 (salted tokens are disjoint — the q79 workload
    // precedent), isolating the corpus-proportional explode/join
    // probe; q99 is the projection floor (IdOffset ≡ 0 mod 420 keeps
    // every doc_id % {2,3,5,7} residue, so the synthetic URL mix is
    // identical per replica); q100's WindowGroupLimit cut ships k
    // rows per partition while the input grows 10×
    "q95_unigram_ce", "q96_tfidf_keywords", "q98_blocklist",
    "q99_url_canon", "q100_priority_sample",
    // q102: window zip-shifts explode the pair stream (3x token mass),
    // pair/unigram aggs are vocab-bounded — scan/explode growth
    "q102_skipgram_pmi",
    // q104 adds the per-stratum histogram cumsum over q95's scores
    // (histogram rows ∝ distinct score values); q106 rides q53's
    // iterative components plus a rank window; q107 is two hash aggs
    // + a key join; q108 joins signatures to the capped pair graph
    "q104_ccnet_split", "q106_dedup_keepers", "q107_source_report",
    "q108_minhash_estimate",
    // q109: both split sides grow 10×; the key agg, band index and
    // candidate verify are all linear in their inputs (replica
    // disjointness keeps cross-replica candidates at zero). q110: the
    // LM bigram table grows 10× under the token bijection but stays a
    // gram-space hash agg; the corpus (w1,w2) explode is token-mass
    // linear like q95's. (q111 PQ is deliberately NOT here: its query
    // set is a fixed share of the corpus, so total work is Q×N by
    // design — the per-candidate ADC cost, not end-to-end wall, is its
    // scale contract, like the other embedding-family queries.)
    "q109_dedup_against", "q110_bigram_ce",
    // q112: probe-prefix and index explodes are token-mass linear;
    // candidate mass linear by replica disjointness (as q36/q109);
    // q113 is one stratum hash agg — the pure scan floor; q115 windows
    // the value histogram (bounded) + broadcasts bounds back; q116 is
    // the q74 kernel with a broadcast budget join
    "q112_containment_pairs", "q113_mixture_plan",
    "q115_winsorize", "q116_mixture_select",
    // q121: scan-side projection + regex + codegen Luhn — the q99
    // floor shape; q122: the corpus-sized token count feeds a vocab
    // table the bijection grows 10×, so merge rounds (vocab-bounded
    // by design) grow with it while per-round driver traffic stays
    // one row
    "q121_luhn_pii", "q122_bpe_merges",
    // q123: both snapshot sides grow 10×, the diff is one id
    // equi-join on scan-computed keys; q124: the pool window is the
    // Q×N-by-design contract but with a WindowGroupLimit k-cut, so
    // only the scan grows
    "q123_snapshot_diff", "q124_hard_negatives",
    // q127: the q96 two-shuffle floor — (doc,tok) hash agg + doc agg,
    // token-mass linear
    "q127_token_entropy",
    // q129: distinct (source, prefix-key) + per-key bounded source
    // sets; the token bijection keeps replicas' keys disjoint so the
    // pair mass stays replica-0-proportional while the scan grows 10×
    "q129_source_overlap",
    // q133: the one-scan unpivot profiler — ProfileCols× explode of
    // the scan, hash agg on the 3-row col_name key; pure scan floor
    // except n_distinct on text, whose distinct-pair mass grows with
    // the corpus like q127's
    "q133_column_profile",
    // q135: zero-shuffle array-side C4 line rules — the q99/q121
    // projection floor; the replica token salt rides inside each
    // line so the line rules see the same shapes (IdOffset covers the
    // %2/%3/%7 residues exactly; only the %11 brace mix re-shuffles,
    // which doesn't change the projection's work)
    "q135_c4_filters",
    // q136: one corpus token-count hash agg, then strata-bounded
    // windows — the q113 planning floor; q137 adds the q74/q116
    // histogram-selection kernel on the water-filled budgets
    "q136_unimax_alloc", "q137_unimax_select",
    // q140: learn (q122's vocab-factorized loop — the corpus pass is
    // one token count) + encode (pure scan-side transform with the
    // merges as literals); the token bijection grows the vocab 10×
    // but the per-round pair mass stays vocab-proportional
    "q140_bpe_encode",
    // q145: the q136 planning floor with isqrt weights
    "q145_temperature_mix",
    // q150: one token-count shuffle (the bijection grows the vocab
    // 10× but the TakeOrdered cut still ships k rows per partition)
    "q150_vocab_coverage",
    // q156: the same count-shuffle growth; the head cut, rank window
    // and OLS sums ride the constant ZipfK frame
    "q156_zipf_fit",
    // q158: the bijection mints disjoint replica bigrams, so the
    // first-seen agg grows 10× in keys while the decile rollup stays
    // a ≤ 10-row frame — the gram-count shuffle is the growth
    "q158_vocab_growth",
    // q162: two bounded sketch builds (map-side combine crushes the
    // explode) + vocab-bounded exact aggs; the sketch join is depth×
    // width-sized at ANY corpus — growth is the two token scans
    "q162_cms_joinsize",
    // q188: the (source, tok) count table grows with the salted vocab
    // (10× — each replica's tokens are disjoint), so the checkpointed
    // unigram table, the per-token pair explode and the pair agg all
    // grow linearly while sources stay 20 and the totals broadcast
    // stays 20 rows; growth is the token scan + the count-table agg
    "q188_source_jsd",
    // q194 (round 12): the sampled S-curve audit AS GATED — its md5
    // sample is a fixed SHARE (rate 0.5), so sample mass grows with
    // the corpus and the exponent measures the rate²-damped q192
    // shape (star-capped bucket pairs + closure join, all replica-
    // disjoint). At production the protocol pins an ABSOLUTE sample
    // size, making the wall sample-bounded; this row documents the
    // share-bound ceiling a mis-sized sample would pay.
    "q194_lsh_scurve_sampled")
    // q192 is deliberately NOT studied: its ground truth is exact
    // all-pairs BY DESIGN (the thing LSH avoids — its exponent would
    // read ~+1 and measure the audit, not the engine); q194 above IS
    // its at-scale protocol. q195 composes the five embedding-family
    // rankings whose query set is a fixed corpus share (the q111 Q×N
    // rationale above) — its chains are studied at the CORRECT
    // protocol (fixed Q, 10× corpus) by the `ann` family below.

  /** The events/streaming family: both REAL microbatch drains, the
    * as-of attribution (backward + the two-window nearest variant) and
    * the one-exchange SCD2 build. */
  val EventQueries: Seq[String] = Seq(
    "q44_streaming_window", "q71_stream_sessions",
    "q80_asof_attribution", "q88_asof_nearest", "q82_scd2_history",
    // round 8: the bucket-blocked interval join — 10× probes against
    // the same 24 windows (ts untouched per replica), so the equi-join
    // candidate mass grows linearly
    "q101_interval_join",
    // round 8: q118's RANGE-frame trailing windows and q119's funnel
    // min-aggregations replicate exactly per disjoint user replica —
    // one keyed exchange each, linear by construction, measured for
    // real. (q117 hybrid RRF is NOT studied: its semantic side scans
    // `embeddings`, which the docs synthesis deliberately leaves
    // fixed — its growing lexical side is exactly q79, already in
    // the docs family.)
    "q118_rolling_features", "q119_funnel",
    // q120: lead window rides the same per-user exchange; the
    // transition agg is bounded by |types|²
    "q120_event_transitions",
    // q128: sessionize + per-session rebuild ride user-keyed windows
    // (replica-exact); the path rank runs over the bounded distinct-
    // path frame
    "q128_session_paths",
    // q130: two user-keyed aggs + one equi-join; cohort cells bounded
    // by weeks² while users grow with the replicas
    "q130_retention_cohorts",
    // q138: the daily hash agg absorbs the 10× events into the SAME
    // (type, day) grid (events replicas copy timestamps verbatim), so
    // the anomaly window always rides a types × days bounded frame —
    // growth is the pre-agg scan
    "q138_daily_anomaly",
    // q139: the (user, day) distinct grows with the user replicas but
    // the ×7 membership explode and both day-keyed counts stay
    // bounded-output; growth is the distinct + explode mass
    "q139_dau_wau",
    // q144: the conv⋈touch range join replicates exactly per disjoint
    // user replica; conv-keyed windows grow with conversions — linear
    // by construction, measured for real
    "q144_attribution_umodel",
    // q147: the q23/q128 session-window shape + a bounded histogram;
    // q148: the same lag window + a (type, gap) histogram agg — both
    // replicate exactly per disjoint user replica
    "q147_session_depth", "q148_interarrival",
    // q149: the q144 frame with four credit projections — same join,
    // same windows, wider aggregate
    "q149_attribution_models",
    // q153: replicas copy values verbatim, so both value histograms
    // keep the same (type × value) support with 10× counts — medians
    // and MAD are replica-invariant, the anchors stay bounded, and
    // growth is the two scans feeding them
    "q153_mad_outliers",
    // q154: replicas copy timestamps verbatim, so the (type, day)
    // grid is IDENTICAL with 10× daily counts — the rebase window
    // and OLS sums ride the same bounded grid; growth is the one
    // pre-agg scan
    "q154_daily_trend",
    // q155: the DOW pivot happens inside the type agg — partial
    // aggregation absorbs the 10× rows map-side; the profile frame
    // is a constant 35 cells
    "q155_dow_seasonality",
    // q164: replicas copy values verbatim — the (type, v) histogram
    // keeps its support with 10× counts and the 128-bin sketch is
    // types-bounded by construction; growth is the two scans (q153's
    // shape)
    "q164_hist_quantiles",
    // q166: replicas copy ts/values verbatim — the (type, day) bar
    // grid is constant with 10× counts and the struct-min/max folds
    // are partial-aggregable; growth is the one scan (q155's shape)
    "q166_ohlc_bars",
    // q167: the per-user conversion fold grows with the user replicas
    // but the 2×2 contingency fold absorbs it to ONE row; q168: the
    // lead window replicates exactly per disjoint user replica (the
    // q148 exchange shape), the type frame stays bounded
    "q167_ab_lift", "q168_time_weighted_avg",
    // q170: two user-keyed aggs + one user equi-join, all replica-
    // exact; the histogram window rides delta cardinality
    "q170_funnel_latency",
    // q174: the per-key agg absorbs the 10× rows map-side (disjoint
    // user replicas → 10× keys with the same per-key counts); the
    // top-k is a TakeOrdered cut and the totals reuse the agg exchange
    "q174_skew_report",
    // q176: replicas copy ts and value verbatim → the max-ts anchor is
    // replica-invariant and each row's shift-weight depends only on
    // its own age, so the per-type decay agg absorbs the 10× rows
    // map-side; the share window rides the bounded type frame —
    // growth is the anchor scan + the grouped scan
    "q176_decay_weights",
    // q181: replicas copy values verbatim — the (type, cents)
    // histogram keeps its support with 10× counts, boundaries are
    // replica-invariant, and the clipped fold rides the histogram
    // (one corpus scan, runtime-reused exchange — plan-contract)
    "q181_winsorized_stats",
    // q193: events replicas copy ts verbatim → the daily (views,
    // purchases) grid keeps its calendar-bounded support with 10×
    // counts; the ±7-lag broadcast self-join pair space is SF-CONSTANT
    // downstream of the checkpoint — growth is the one events scan
    "q193_crosscorrelation")

  /** The relational family: the salted skew join and the two-broadcast-
    * dim rollup — the shapes every q01-q28 aggregate shares. */
  val RelQueries: Seq[String] = Seq(
    "q50_salted_rollup", "q55_supplier_rollup",
    // round 8: the z-key scan + 256-bucket hash agg — the relational
    // projection floor (the strided l_orderkey shifts each replica's
    // mod-1024 quantization, which only re-mixes the uniform spread)
    "q97_zorder_stats",
    // q131: Expand ×3 grouping sets before ONE exchange of partial-
    // agg'd cells (output bounded by flag×status levels); q132: both
    // pivot exchanges ship cell-grid rows, customer dim broadcast —
    // scan + map-side combine is the only corpus-sized work; q134:
    // orders facts grow 10× over the SAME customers, so the month
    // dedup's partial agg absorbs the growth (distinct (custkey, mi)
    // pairs saturate at customers × months) and the window exchange
    // carries a near-constant frame
    "q131_rollup_totals", "q132_pivot_matrix", "q134_order_streaks",
    // q141/q142: the strided l_orderkey multiplies ORDERS (not items
    // per order), so the per-order pair generation stays k_o²-bounded
    // while pair instances grow 10×; the support counts concentrate
    // (same part pairs across replicas), the q142 edge graph and its
    // wedge space stay support-thinned and parts-bounded
    "q141_copurchase_pairs", "q142_triangle_count",
    // q143: same pair-graph build; the 3 message-passing rounds ride
    // the support-thinned parts-bounded edge frame — scale-flat like
    // q142's triangle half
    "q143_pagerank",
    // q151: 10× orders over the SAME customers — the custkey hash agg
    // absorbs the growth into a constant customer frame; the three
    // quintile-threshold chains ride distinct-value histograms
    // (bounded by customers), scores are broadcast-threshold
    // projections, output saturates at 125 RFM cells
    "q151_rfm_segments",
    // q152: 10× lineitem over the SAME parts — the partkey hash agg
    // absorbs the growth into a fixed part frame; banding and shares
    // ride the bounded revenue-value histogram, output is 3 rows
    "q152_abc_pareto",
    // q157: 10× orders over the SAME customers — the custkey agg
    // absorbs the growth; the dim join and the Gini histogram stay
    // customer-bounded
    "q157_nation_gini",
    // q165: same pair-graph build as q142/q143; the 4 BFS rounds ride
    // the support-thinned parts-bounded edge frame — scale-flat like
    // the PageRank rounds, the exponent is the pair-graph build
    "q165_bfs_hops",
    // q159: the same custkey-agg absorption; both skyline phases ride
    // the customer-bounded frame (bucketed windows, then a candidate
    // set bounded by the staircase sizes)
    "q159_customer_skyline",
    // q160: both partial-state aggs absorb the 10× facts map-side
    // (OrderOffset ≡ 0 mod 7 keeps the base/delta split residues);
    // the refresh join rides the customer-bounded view frames
    "q160_ivm_refresh",
    // q161: the digit pivot happens inside the priority agg — partial
    // aggregation absorbs the 10× orders map-side; the profile frame
    // is a constant 45 cells (q155's shape)
    "q161_benford_digits",
    // q169: the strided l_orderkey multiplies ORDERS, so per-order
    // triple generation stays k_o³-bounded while instances grow 10×
    // and supports concentrate on the same part grid (q141's shape)
    "q169_frequent_triples",
    // q163: the CDC batch grows 10× (strided seqs over the SAME
    // customers — the max-seq winner is replica 9's, deterministic);
    // the rank window cuts partial top-1 per key, the apply join is
    // customer-bounded — growth is the batch scan + rank exchange
    "q163_cdc_apply",
    // q173: 10× orders copy status/priority/date verbatim over the
    // SAME customers, so the level-1 (col, value) support is constant
    // with 10× counts — partial aggregation absorbs the growth
    // map-side and the struct-max level-2 rides the bounded frame
    "q173_column_profile",
    // q177: same verbatim-copy argument — the bin histogram keeps its
    // ~20-bin support with 10× counts, the midpoint anchor is
    // replica-invariant, and both corpus passes are map-side-combined
    // scans; the checkpointed bin frame bounds everything downstream
    "q177_drift_report",
    // q178: verbatim-copied prices keep the value-histogram support
    // constant with 10× counts → replica-invariant decile boundaries;
    // growth is the two scans (histogram + broadcast-probe assignment)
    "q178_equidepth_bins",
    // q182: rides q141's pair kernel (k_o²-bounded generation, supports
    // concentrate on the same part grid); item supports are a part-keyed
    // hash agg absorbed map-side, rules/vertices stay edges-bounded
    "q182_assoc_rules",
    // q183: orders replicas copy o_orderdate verbatim → the weekly frame
    // keeps its calendar-bounded ~340-week support with 10× cents sums;
    // the SF-CONSTANT pair space and both medians ride the checkpoint,
    // so growth is exactly the one corpus scan
    "q183_theil_sen",
    // q184: 10× orders over the SAME customers — the per-customer
    // min/max span agg absorbs the growth map-side into a constant
    // customer frame (replicas copy dates verbatim, so fd/ld and the
    // whole bucket geometry are replica-invariant); the survival fold
    // rides the ~80-row bucket frame
    "q184_kaplan_meier",
    // q185/q186/q187: orders replicas copy o_orderdate verbatim, so
    // the calendar-bounded daily frame keeps its ~2,400-day support
    // with 10× cents sums — the EWMA fold, the CUSUM window and the
    // ACF pair space are all SF-CONSTANT downstream of the one
    // (q185/q186) or one checkpointed (q187) corpus scan
    "q185_ewma_forecast", "q186_cusum_changepoint",
    "q187_autocorrelation",
    // q189/q190: verbatim-copied prices and dates keep the PSI bin
    // frame and the Mann-Whitney value histogram at constant support
    // with 10× counts (replica-invariant midpoint anchor) — growth is
    // the two corpus passes each; q191: the weekly checkpoint keeps
    // its calendar-bounded support, the SF-constant pair space and the
    // tie agg ride it — growth is the one scan (q183's shape)
    "q189_psi_drift", "q190_mannwhitney_u", "q191_mann_kendall")

  /** The checkpoint-write-dominated plans re-measured at the deep
    * (sf1 → sf10) step. */
  val DeepQueries: Seq[String] = Seq(
    "q53_dedup_components", "q86_dup_passages")

  /** The relational deep step (round 13, verdict r12 item 2): the five
    * WORST recorded rel ×10 exponents (q142 +0.60, q160 +0.40, q182
    * +0.39, q134 +0.37, q165 +0.33 at the round-10 re-measure),
    * re-measured at synth-rel sf1 → sf10 (6M → 60M lineitem, 1.5M →
    * 15M orders; 100 strided replicas of the sf0.1 facts over the SAME
    * dims). The claim under test: the pair-graph/wedge kernels stay
    * support-thinned and parts-bounded, and the partial-state aggs
    * keep absorbing facts map-side, at a step where the fact tables
    * genuinely dominate executor memory — sub-linear exponents must
    * HOLD, not just extrapolate, one decade further. */
  val DeepRelQueries: Seq[String] = Seq(
    "q134_order_streaks", "q142_triangle_count", "q160_ivm_refresh",
    "q165_bfs_hops", "q182_assoc_rules")

  /** One replica of `documents`: identity for k = 0, else id-shifted and
    * token-salted. Exposed for the spec that pins the bijection
    * contract (intra-replica similarity preserved, replicas disjoint). */
  def replica(docs: DataFrame, k: Int): DataFrame =
    if (k == 0) docs
    else {
      // token bijection: append a replica tag to every \S+ run
      val salted = regexp_replace(col("text"), "(\\S+)", "$1_r" + k)
      docs.select(
        (col("doc_id") + lit(k * IdOffset)).as("doc_id"),
        salted.as("text"),
        col("lang"), col("source"),
        length(salted).cast("long").as("n_chars"))
    }

  /** One replica of `events`: identity for k = 0, else user/event ids
    * strided, everything else (ts, type, value, props) untouched —
    * per-user temporal structure is copied EXACTLY into a disjoint
    * user space. Column order preserved. */
  def eventsReplica(ev: DataFrame, k: Int): DataFrame =
    if (k == 0) ev
    else ev.select(
      (col("event_id") + lit(k * EventOffset)).as("event_id"),
      col("ts"),
      (col("user_id") + lit(k * UserOffset)).as("user_id"),
      col("event_type"), col("value"), col("props"))

  /** One replica of `lineitem`: identity for k = 0, else l_orderkey
    * strided; part/supplier keys untouched so every dim join fans the
    * new facts over the SAME dimension rows. */
  def lineitemReplica(li: DataFrame, k: Int): DataFrame =
    if (k == 0) li
    else li.withColumn("l_orderkey", col("l_orderkey") + lit(k * OrderOffset))

  /** One replica of `orders`: identity for k = 0, else o_orderkey
    * strided into the same disjoint key spaces as the lineitem
    * replicas; o_custkey (and every attribute) untouched, so each
    * customer's order history grows 10× over the SAME customer dim —
    * the fact-grows-dims-fixed shape q132's segment matrix and q134's
    * per-customer streaks need. */
  def ordersReplica(ord: DataFrame, k: Int): DataFrame =
    if (k == 0) ord
    else ord.withColumn("o_orderkey", col("o_orderkey") + lit(k * OrderOffset))

  /** Stamped build-once: runs `build` unless `outDir` already holds a
    * product built from the same sources (srcPaths' sizes+mtimes +
    * `key`), recorded in a sidecar. A bare _SUCCESS check would
    * silently reuse a stale corpus after the source dir is swapped for
    * a different same-size fixture; the stamp is dropped FIRST so a
    * rebuild killed mid-write never leaves the old stamp paired with
    * the new data. */
  private def buildOnce(outDir: String, srcPaths: Seq[String], key: String,
      doneMarker: String)(build: => Unit): Unit = {
    val parts = srcPaths.flatMap { p =>
      val f = new java.io.File(p)
      if (f.isDirectory) f.listFiles().sortBy(_.getName).toSeq else Seq(f)
    }
    val sig = parts.map(f => s"${f.getName}:${f.length()}:${f.lastModified()}")
      .mkString(",")
    val stamp = s"""{"key":"$key","sig":"$sig"}"""
    val sidecar = java.nio.file.Paths.get(s"$outDir/$key.json")
    if (new java.io.File(s"$outDir/$doneMarker").exists() &&
        java.nio.file.Files.exists(sidecar) &&
        new String(java.nio.file.Files.readAllBytes(sidecar),
          java.nio.charset.StandardCharsets.UTF_8) == stamp) return
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    java.nio.file.Files.deleteIfExists(sidecar)
    build
    java.nio.file.Files.write(sidecar,
      stamp.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Builds `outDir/documents.parquet` (`replicas` × the source). */
  def synthesize(spark: SparkSession, srcDir: String, outDir: String,
      replicas: Int = Replicas): Unit =
    buildOnce(outDir, Seq(s"$srcDir/documents.parquet"),
        s"source-x$replicas", "documents.parquet/_SUCCESS") {
      val d = Tables.raw(spark, srcDir, "documents")
      require(d.count() > 0,
        s"$srcDir/documents.parquet is empty — nothing to replicate")
      // the bijection/disjointness contract holds only if the SOURCE has
      // no replica-tagged tokens and no ids at or past the remap stride —
      // srcDir is caller-overridable, so check the corpus, not just the
      // shipped fixture (ScaleStudySpec pins the toy-level contract)
      val guard = d.agg(
        max(col("doc_id")).as("max_id"),
        sum(when(col("text").rlike("_r\\d+(\\s|$)"), 1L).otherwise(0L))
          .as("tagged")).head()
      require(guard.getAs[Long]("max_id") < IdOffset,
        s"source doc_id ${guard.getAs[Long]("max_id")} >= IdOffset $IdOffset: replica id ranges would collide")
      require(guard.getAs[Long]("tagged") == 0L,
        "source text contains replica-tagged tokens (…_r<k>): cross-replica disjointness would break")
      val full = (0 until replicas).map(replica(d, _)).reduce(_ unionByName _)
        // spread across files so the scan parallelizes like a real
        // many-file corpus (the sf0.1 fixture is a single row group)
        .repartition(spark.sparkContext.defaultParallelism)
      full.write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    }

  /** Builds `outDir/events.parquet` as ONE FILE (the q44/q71 streaming
    * file source globs the literal file name, so a directory would be
    * invisible to it) — 10× the source events. The source is read raw,
    * so `ts` keeps its physical type (raw nanos round-trip as BIGINT,
    * TIMESTAMP(MICROS) as TIMESTAMP_NTZ), which `Tables.eventsTs`
    * normalizes on read exactly like the fixture's own. */
  def synthesizeEvents(spark: SparkSession, srcDir: String, outDir: String): Unit =
    buildOnce(outDir, Seq(s"$srcDir/events.parquet"),
        s"events-x$Replicas", "events.parquet") {
      val ev = Tables.raw(spark, srcDir, "events")
      val guard = ev.agg(max(col("event_id")).as("me"),
        max(col("user_id")).as("mu")).head()
      // max() over zero rows is null, and getAs[Long] would unbox it to
      // 0L — silently "passing" the offset guards and building an EMPTY
      // synth corpus whose exponents are all garbage. Fail loud instead
      // (the docs builder's require(count > 0) precedent).
      require(!guard.isNullAt(0),
        s"$srcDir/events.parquet is empty — cannot synthesize")
      require(guard.getAs[Long]("me") < EventOffset,
        s"source event_id ${guard.getAs[Long]("me")} >= EventOffset $EventOffset")
      require(guard.getAs[Long]("mu") < UserOffset,
        s"source user_id ${guard.getAs[Long]("mu")} >= UserOffset $UserOffset")
      val full = (0 until Replicas).map(eventsReplica(ev, _))
        .reduce(_ unionByName _)
      val tmp = s"$outDir/__events_tmp"
      full.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written under $tmp"))
      val dst = java.nio.file.Paths.get(s"$outDir/events.parquet")
      java.nio.file.Files.deleteIfExists(dst)
      java.nio.file.Files.move(part.toPath, dst)
      new java.io.File(tmp).listFiles().foreach(_.delete())
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(tmp))
    }

  /** Builds `outDir/embeddings.parquet` — 10× the source vectors with
    * `vec_id` offset by k·[[VecOffset]] per replica, vectors and
    * labels copied VERBATIM. Identical replicas keep the quantizer
    * geometry (centroids, codebooks, bucket structure) of the base
    * corpus while scaling scan/assignment/ranking mass 10× — exactly
    * the cost surface the `ann` family studies; brute-force ties among
    * copies break deterministically on neighbor_id like every ranking
    * in the suite. */
  def synthesizeEmbeddings(spark: SparkSession, srcDir: String,
      outDir: String): Unit =
    buildOnce(outDir, Seq(s"$srcDir/embeddings.parquet"),
        s"embeddings-x$Replicas", "embeddings.parquet/_SUCCESS") {
      val e = Tables.raw(spark, srcDir, "embeddings")
      val guard = e.agg(max(col("vec_id")).as("mv")).head()
      require(!guard.isNullAt(0),
        s"$srcDir/embeddings.parquet is empty — cannot synthesize")
      require(guard.getAs[Long]("mv") < VecOffset,
        s"source vec_id ${guard.getAs[Long]("mv")} >= VecOffset $VecOffset")
      (0 until Replicas).map { r =>
          e.select((col("vec_id") + lit(r * VecOffset)).as("vec_id"),
            col("embedding"), col("label"))
        }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    }

  /** q195's five ANN chains at the CORRECT at-scale protocol: a FIXED
    * query set (the base corpus's `vec_id % 100 = 0` rows — q37/q195's
    * own selector, read from `baseDir` on BOTH sides of the step) is
    * ranked against whatever corpus the measured dir holds, so each
    * exponent isolates corpus growth at constant Q. The gated q195
    * query itself stays out of the end-to-end study because ITS query
    * set is a fixed corpus share (Q×N by design — the q111 rationale
    * on [[HeavyQueries]]); these rows are the answer to "how do its
    * chains scale" asked the way a production audit would run them.
    * Expected shapes: brute is the one linear-in-N full scan (the
    * audit's ground truth, run on a sample at 100 TB); lsh/ivf scan a
    * bucket/cell subset; pq/ivfpq pay bounded codebook training plus a
    * compressed scan. */
  def annStudies(baseDir: String): Map[String, (SparkSession, String) => DataFrame] = {
    import graft.operators.SimilaritySearch
    def qs(s: SparkSession): DataFrame =
      Tables(s, baseDir, "embeddings").where(col("vec_id") % 100 === 0)
    def corpus(s: SparkSession, dir: String): DataFrame =
      Tables(s, dir, "embeddings")
    Map(
      "q195a_brute_chain" -> ((s: SparkSession, d: String) =>
        SimilaritySearch.bruteForceTopK(qs(s), corpus(s, d),
          "vec_id", "embedding", k = 5)),
      "q195b_lsh_chain" -> ((s: SparkSession, d: String) =>
        SimilaritySearch.rademacherLshTopK(qs(s), corpus(s, d),
          "vec_id", "embedding", k = 5, nPlanes = 4, dim = 64)),
      "q195c_ivf_chain" -> ((s: SparkSession, d: String) =>
        SimilaritySearch.ivfTopK(qs(s), corpus(s, d),
          "vec_id", "embedding", k = 5, nCells = 16, nProbe = 1)),
      "q195d_pq_chain" -> ((s: SparkSession, d: String) =>
        SimilaritySearch.pqTopK(qs(s), corpus(s, d),
          "vec_id", "embedding", k = 5, m = 4, ksub = 8, iters = 2)),
      "q195e_ivfpq_chain" -> ((s: SparkSession, d: String) =>
        SimilaritySearch.ivfPqTopK(qs(s), corpus(s, d),
          "vec_id", "embedding", k = 5, nCells = 8, nProbe = 2,
          m = 4, ksub = 8, iters = 2)))
  }

  /** Recall@k of each gated approximate ANN chain against the brute
    * chain, BOTH on the scaled corpus at the fixed-Q protocol — the
    * round-13 non-degradation gate (verdict r12 item 4): the ann
    * family's walls say the chains stay cheap at 10×; this says they
    * stay CORRECT. Floors are the published q195 constants
    * ([[SparkEntry.AnnRecallFloorMills]]) — one constant, three
    * consumers (the q195 gate, its DuckDB twin, this study check) —
    * so corpus growth silently degrading IVF cell coverage or LSH
    * bucket selectivity is a caught event, not a surprise. Hit
    * counting is the q195 left-semi shape. Returns the JSON fragment;
    * a below-floor method also prints a loud stderr line. */
  def annRecallAtScale(spark: SparkSession, dir: String,
      studies: Map[String, (SparkSession, String) => DataFrame]): String = {
    val truth = studies("q195a_brute_chain")(spark, dir)
      .select("query_id", "neighbor_id").localCheckpoint(true)
    val total = truth.count()
    val frags = Seq("lsh" -> "q195b_lsh_chain", "ivf" -> "q195c_ivf_chain",
      "pq" -> "q195d_pq_chain", "ivfpq" -> "q195e_ivfpq_chain")
      .map { case (m, qn) =>
        val hits = truth.join(
          studies(qn)(spark, dir).select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"), "left_semi").count()
        val mills = if (total == 0) -1L else 1000L * hits / total
        val floor = SparkEntry.AnnRecallFloorMills(m)
        if (mills < floor) System.err.println(
          s"[scale] ann recall DEGRADED at the scaled corpus: " +
            s"$m $mills mills < floor $floor")
        (s""""$m":{"mills":$mills,"floor":$floor,"meets_floor":${mills >= floor}}""",
          mills >= floor)
      }
    truth.unpersist()
    s"""{${frags.map(_._1).mkString(",")},"recall_ok":${frags.forall(_._2)}}"""
  }

  /** Builds `outDir/lineitem.parquet` + `outDir/orders.parquet` (10×
    * facts, shared disjoint o_orderkey stride) and copies the broadcast
    * dims (part, supplier, nation, customer) verbatim — the
    * fact-grows-dims-fixed warehouse shape. orders is written LAST so
    * its _SUCCESS doubles as the whole-build done marker. */
  def synthesizeRelational(spark: SparkSession, srcDir: String, outDir: String,
      replicas: Int = Replicas): Unit =
    // the stamp covers the DIMS too: a dims-only fixture regeneration
    // (same lineitem bytes) must invalidate the copied part/supplier/
    // nation/customer, not silently measure against stale dims
    buildOnce(outDir,
        Seq("lineitem", "orders", "part", "supplier", "nation", "customer")
          .map(t => s"$srcDir/$t.parquet"),
        s"lineitem-orders-x$replicas", "orders.parquet/_SUCCESS") {
      val li = Tables.raw(spark, srcDir, "lineitem")
      val maxOk = li.agg(max(col("l_orderkey"))).head().getLong(0)
      require(maxOk < OrderOffset,
        s"source l_orderkey $maxOk >= OrderOffset $OrderOffset")
      (0 until replicas).map(lineitemReplica(li, _))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
      Seq("part", "supplier", "nation", "customer").foreach { t =>
        // a parquet table may be a FILE (the driver's pyarrow tiers) or
        // a DIRECTORY (any Spark-written fixture behind an overridden
        // srcDir) — Files.copy on a directory copies an empty shell and
        // REPLACE_EXISTING throws on a non-empty dst; dispatch on shape
        val src = new java.io.File(s"$srcDir/$t.parquet")
        val dst = new java.io.File(s"$outDir/$t.parquet")
        org.apache.commons.io.FileUtils.deleteQuietly(dst)
        if (src.isDirectory)
          org.apache.commons.io.FileUtils.copyDirectory(src, dst)
        else org.apache.commons.io.FileUtils.copyFile(src, dst)
      }
      val ord = Tables.raw(spark, srcDir, "orders")
      val maxOrd = ord.agg(max(col("o_orderkey"))).head().getLong(0)
      require(maxOrd < OrderOffset,
        s"source o_orderkey $maxOrd >= OrderOffset $OrderOffset")
      (0 until replicas).map(ordersReplica(ord, _))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    }

  /** warm + best-of-3 at both dirs; returns the JSON fragment. One
    * failing query (OOM at the 10× dir, a synth table it can't read)
    * must NOT discard every measurement already taken — the study's
    * single output line prints only after all families complete, so an
    * uncaught throw here would lose hours of base+synth timings. The
    * failed query reports {"error": "..."} and the study continues
    * (Bench's per-query −1-sentinel precedent). */
  private def measure(spark: SparkSession, names: Seq[String],
      baseDir: String, synthDir: String,
      fns: Map[String, (SparkSession, String) => DataFrame] =
        SparkEntry.queries): String =
    names.map { name =>
      val key = "\"" + name.takeWhile(_ != '_') + "\""
      try {
        val fn = fns(name)
        fn(spark, baseDir).count() // warm: codegen + planning
        val t0 = Timing.bestOf(3)(fn(spark, baseDir).count())
        fn(spark, synthDir).count()
        val t1 = Timing.bestOf(3)(fn(spark, synthDir).count())
        // a base time rounding to 0 would format the exponent as
        // 'Infinity'/'NaN' — invalid JSON; emit null for unmeasurable
        val exp = math.log10(t1 / t0)
        val expS =
          if (t0 > 0 && java.lang.Double.isFinite(exp)) Timing.cs(exp) else "null"
        s"""$key:{"base":${Timing.cs(t0)},"synth":${Timing.cs(t1)},"exp":$expS}"""
      } catch {
        // NonFatal ONLY: a fatal JVM error (OutOfMemoryError,
        // LinkageError) must kill the study — degrading it to an
        // {"error":...} fragment would keep measuring later queries on
        // a possibly-corrupted JVM and report them as healthy
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[scale] $name FAILED: ${e.getMessage}")
          val msg = e.getClass.getSimpleName
            .replace("\\", "").replace("\"", "'")
          s"""$key:{"error":"$msg"}"""
      }
    }.mkString(",")

  def main(args: Array[String]): Unit = {
    val families = if (args.isEmpty) Seq("docs", "events", "rel") else args.toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val synthDir = sys.env.getOrElse("SPARK_GRAFT_SYNTH_DIR", "target/synth-sf1")
    val synthEvDir = sys.env.getOrElse("SPARK_GRAFT_SYNTH_EV_DIR", "target/synth-ev1")
    val synthRelDir = sys.env.getOrElse("SPARK_GRAFT_SYNTH_REL_DIR", "target/synth-rel1")
    val synthEmbDir = sys.env.getOrElse("SPARK_GRAFT_SYNTH_EMB_DIR", "target/synth-emb1")
    val deepDir = sys.env.getOrElse("SPARK_GRAFT_SYNTH_DEEP_DIR", "target/synth-sf10")
    val deepRelDir = sys.env.getOrElse("SPARK_GRAFT_SYNTH_DEEPREL_DIR", "target/synth-rel10")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.configure(SparkSession.builder(), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // load gauge on the full-table sf0.1 dir (the Bench convention)
    val q01 = SparkEntry.queries("q01_pricing_summary")
    q01(spark, sfDir).count()
    val gauge = Timing.bestOf(3)(q01(spark, sfDir).count())

    // `docs:q158_vocab_growth,q156_zipf_fit` runs only the listed
    // queries of a family (they must already be queued in the family's
    // Seq — the queue is the scale contract, the subset is just a
    // faster re-measure of part of it)
    def subset(all: Seq[String], filter: String): Seq[String] =
      if (filter.isEmpty) all
      else {
        val wanted = filter.split(',').toSeq
        val unknown = wanted.filterNot(all.contains)
        require(unknown.isEmpty,
          s"not queued in this family: ${unknown.mkString(",")}")
        all.filter(wanted.contains)
      }

    val out = families.map { fam =>
      val (name, filter) = fam.span(_ != ':') match {
        case (n, f) => (n, f.stripPrefix(":"))
      }
      // per-FAMILY resilience, matching measure()'s per-query contract:
      // a synthesis failure in the third family (disk full, unreadable
      // override dir) must not discard the hours of measurements the
      // earlier families already took — it reports as an error fragment
      // and the study's single output line still prints
      try name match {
        case "docs" =>
          synthesize(spark, sfDir, synthDir)
          s""""docs":{${measure(spark, subset(HeavyQueries, filter), sfDir, synthDir)}}"""
        case "events" =>
          synthesizeEvents(spark, sfDir, synthEvDir)
          s""""events":{${measure(spark, subset(EventQueries, filter), sfDir, synthEvDir)}}"""
        case "rel" =>
          synthesizeRelational(spark, sfDir, synthRelDir)
          s""""rel":{${measure(spark, subset(RelQueries, filter), sfDir, synthRelDir)}}"""
        case "ann" =>
          synthesizeEmbeddings(spark, sfDir, synthEmbDir)
          val studies = annStudies(sfDir)
          val walls = measure(spark,
            subset(studies.keys.toSeq.sorted, filter), sfDir, synthEmbDir,
            studies)
          // recall gate rides every ann run (cheap: one brute pass +
          // four semi-joins on the already-warm synth corpus)
          val recall = annRecallAtScale(spark, synthEmbDir, studies)
          s""""ann":{$walls,"recall_synth":$recall}"""
        case "deep" =>
          // second document step: sf1 (50k) -> sf10 (500k, 100 replicas),
          // where the checkpoint/index WRITE dominates q53/q86
          synthesize(spark, sfDir, synthDir)
          synthesize(spark, sfDir, deepDir, replicas = 100)
          s""""deep":{${measure(spark, subset(DeepQueries, filter), synthDir, deepDir)}}"""
        case "deeprel" =>
          // relational deep step: synth-rel sf1 (6M lineitem) -> sf10
          // (60M, 100 replicas) for the five worst rel exponents
          synthesizeRelational(spark, sfDir, synthRelDir)
          synthesizeRelational(spark, sfDir, deepRelDir, replicas = 100)
          s""""deeprel":{${measure(spark, subset(DeepRelQueries, filter),
            synthRelDir, deepRelDir)}}"""
        case "build" =>
          // synthesize the document corpora only (no measurements) — the
          // CorpusTimer sf1/sf10 end-to-end runs consume these directly
          synthesize(spark, sfDir, synthDir)
          synthesize(spark, sfDir, deepDir, replicas = 100)
          s""""build":{"sf1":"$synthDir","sf10":"$deepDir"}"""
        case other => sys.error(
          s"unknown family '$other' (docs|events|rel|ann|deep|deeprel|build)")
      } catch {
        // unknown-family is a USAGE error and still fails the run (it
        // was raised before any synthesis); everything else NON-FATAL
        // degrades to an error fragment (measure()'s sanitization
        // style). Fatal JVM errors propagate and kill the study — see
        // measure()'s catch for why.
        case scala.util.control.NonFatal(e)
            if Set("docs", "events", "rel", "ann", "deep", "deeprel",
              "build")(name) =>
          System.err.println(s"[study] family $name failed: ${e.getMessage}")
          val msg = e.getClass.getSimpleName
            .replace("\\", "").replace("\"", "'")
          s""""$name":{"error":"$msg"}"""
      }
    }.mkString(",")

    // gauge twice — once before synthesis, once after the LAST
    // measurement: a co-tenant load spike that lands mid-study (after a
    // clean startup gauge) would otherwise masquerade as super-linear
    // exponents with a "clean" gauge in the artifact (the round-4/5
    // misadjudication mode)
    val gaugeEnd = Timing.bestOf(3)(q01(spark, sfDir).count())
    println(s"""{"study":"10x-data-dominant","gauge_q01":${Timing.cs(gauge)},"gauge_q01_end":${Timing.cs(gaugeEnd)},$out}""")
    spark.stop()
  }
}
