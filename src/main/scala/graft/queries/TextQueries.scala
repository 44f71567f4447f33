package graft.queries

import graft.functions.{TextFunctions, UnicodeNorm}
import graft.operators.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Oracle-checked document/text-pipeline queries over `documents`:
  * exact + fuzzy dedup (hash, MinHash LSH, SimHash, Jaccard), token
  * stats, quality scoring, language-ID, fingerprinting.
  *
  * Hash determinism comes from md5 (bit-identical in every engine);
  * score determinism from integer mills arithmetic. LSH/blocking
  * shapes are the 100 TB designs: shuffles happen on band strings /
  * block keys, never on an unblocked O(N²) pair space.
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    graft.Tables(s, dir, "documents")

  private def docsSpread(s: SparkSession, dir: String): DataFrame =
    graft.Tables.spread(s, dir, "documents")

  /** Distinct sorted lowercase tokens — canonical shingle set. */
  private val tokSet = TextFunctions.tokenSetSorted(col("text"))

  /** Distinct word-bigram shingles of `text` (order-aware 2-grams) and
    * the DuckDB twin (operating on a `l` token-list alias) — the ONE
    * parity-critical bigram expression, shared by q47 and q56. */
  private[graft] val wordBigrams: org.apache.spark.sql.Column =
    array_distinct(TextFunctions.wordNGrams(col("text"), 2))
  private[graft] val wordBigramsAllSql: String =
    "[l[CAST(i AS INT)] || ' ' || l[CAST(i + 1 AS INT)] FOR i IN range(1, len(l))]"
  private[graft] val wordBigramsSql: String =
    s"list_distinct($wordBigramsAllSql)"
  private[graft] val tokenListSql: String =
    "list_filter(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g')," +
      " ' '), t -> t <> '')"

  /** q35's bucket cap: band buckets larger than this are star-reduced.
    * 32 is small enough that the star path is exercised (and so oracle-
    * verified) at sf0.01, where the hottest bucket holds ~50 docs. */
  private[graft] val LshBucketCap = 32

  /** q196's (and the processCorpus near-dedup stage's default)
    * verified-edge threshold: exact token-set Jaccard, in mills, a
    * candidate pair must reach to count as a near-duplicate edge.
    * One constant, three consumers (the q196 query, its DuckDB twin,
    * `CorpusTimer.composedRun`'s facade call) — the parity rule. */
  private[graft] val NearDedupMinJac = 800

  /** q192's ground-truth Jaccard floor: low enough that the audit
    * buckets span the banding's S-curve knee (recall ≈ 0 → ≈ 1). */
  private[graft] val LshAuditMinJac = 300

  /** q194's deterministic sample rate for the at-scale S-curve audit
    * (the q70 md5-threshold kernel): the 100 TB protocol is "sample
    * the corpus, audit the banding there, apply the measured curve"
    * (COVERAGE.md q192 row) — q194 IS that protocol, executable and
    * oracle-gated. Interpolated into the DuckDB twin via the q70
    * threshold arithmetic; edit HERE. */
  private[graft] val ScurveSampleRate = 0.5

  /** q68's candidate-bucket cap: small enough that the boilerplate
    * cluster (~24 identical docs at sf0.01) binds it, so the star path
    * of the capped PPJoin is oracle-exercised. */
  private[graft] val CappedJaccardBucket = 8

  /** q70's per-stratum keep rates (shared with its oracle SQL). */
  private[graft] val SampleRates: Map[String, Double] =
    Map("en" -> 1.0, "es" -> 0.5, "de" -> 0.1)

  /** q78's contamination threshold (distinct shared bigrams with the
    * val corpus) — interpolated into BOTH the Spark query and the
    * oracle SQL; edit HERE. */
  private[graft] val DecontamMinShared = 5

  /** q81's percentile spec as (p-mills, numerator, denominator) with
    * p = num/den, plus the percentile_approx accuracy (rank error
    * <= n/accuracy; the gate allows 2n/accuracy + 1) — interpolated
    * into the Spark query, the oracle SQL, and MiscSpec's naive
    * recompute; edit HERE. */
  private[graft] val QuantilePercentiles =
    Seq((500, 1, 2), (900, 9, 10), (990, 99, 100))
  private[graft] val QuantileSketchAccuracy = 100

  /** q78's Bloom geometry: 2²⁰ bits holds the sf0.1 val corpus's
    * ~200k distinct bigrams at ~5 bits/elem (k=3 → ~9% FPP — the
    * prefilter stays selective), and the 128 KiB bitset literal is
    * well inside [[graft.operators.TextAnalysis.MaxBloomBits]]. The
    * seeds are arbitrary distinct odd constants; they tune only the
    * false-positive rate, never the (exact) output. */
  private[graft] val DecontamBloomBits = 1 << 20
  private[graft] val DecontamBloomSeeds: Seq[Long] =
    Seq(0x9747b28cL, 0x41c64e6dL, 0x2545f491L)

  /** q79's BM25 parameters and keyword workload — interpolated into
    * BOTH the Spark query and the oracle SQL (constants via
    * Double.toString, whose shortest round-trip repr parses to the
    * identical double in any correctly-rounding reader); edit HERE.
    * Query 5 mixes a corpus term with two absent ones; absent terms
    * have no postings and contribute nothing in either engine. */
  private[graft] val Bm25K1 = 1.2
  private[graft] val Bm25B = 0.75
  private[graft] val Bm25K = 10
  /** q117's RRF dampening constant (Cormack et al.'s k=60) and the
    * qid → query-embedding mapping (vec_id = qid·20 — valid at every
    * SF: embeddings always carry vec_ids 0..499+). */
  private[graft] val RrfK0 = 60
  private[graft] val HybridVecStride = 20L

  private[graft] val Bm25Queries: Seq[(Long, String)] = Seq(
    (1L, "spark merge stream"),
    (2L, "vector hash join"),
    (3L, "customer window filter"),
    (4L, "big table scan slow"),
    (5L, "query nosuchterm zebra"))

  /** q72's boilerplate threshold: a line in more distinct docs than
    * this is dropped everywhere. 30 sits between the unique marker
    * lines (df = 1, kept), the exact-dup content clusters (df ≈ 24 at
    * 500 docs — kept; ≈ 240 at sf0.1 — dropped) and the synthetic
    * footers (df ≈ N/4, dropped at every SF), so the gate exercises
    * both outcomes, and the cluster lines flip with scale. */
  private[graft] val LineDedupMaxDf = 30

  /** q72's synthetic multi-line corpus: the fixture text is single-line,
    * so the gated query appends a per-residue boilerplate footer (shared
    * by ~N/4 docs — the drop path) and a unique marker line (the keep
    * path). The SAME construction is interpolated into the oracle. */
  private def lineDedupText = concat(
    col("text"),
    lit("\nshared footer variant "), (col("doc_id") % 4).cast("string"),
    lit("\ndoc marker "), col("doc_id").cast("string"))

  /** q127's low-diversity cut, millibits of token entropy per token.
    * 4000 (4 bits/tok) sits inside the corpus's 2.4-4.8 bits/tok range
    * at every SF, so both flag branches are exercised. */
  private[graft] val EntMinMills = 4000L

  /** q124's split: ranks 1..HnPos are positives, the rest of the
    * BM25 top-k are hard negatives, HnRand md5-ranked docs from the
    * non-retrieved pool are random negatives. */
  private[graft] val HnPos = 3
  private[graft] val HnRand = 5

  /** q135's synthetic C4 page corpus: the fixture text is a single
    * punctuation-free line (dropped by the terminal-punct rule — the
    * real-data branch), so the gated query appends deterministic lines
    * driving every rule: two always-kept sentences, a short line
    * (< C4MinWords — word-count drop), an unpunctuated long line, and
    * doc_id-residue lines for the third sentence (%2 — flips the
    * min-sentences page verdict), the javascript line drop (%3, a line
    * that passes every OTHER rule), the lorem-ipsum page drop (%7) and
    * the curly-brace page drop (%11). The SAME lists build the oracle's
    * construction, so the twins cannot drift. */
  private[graft] val C4FixedLines = Seq(
    "the quick brown fox jumps over the lazy dog today.",
    "short line here.",
    "data pipelines should filter noisy web text carefully!",
    "no terminal punctuation line with plenty of words")
  private[graft] val C4ModLines = Seq(
    2 -> "a third proper sentence appears on even documents here.",
    3 -> "this javascript line has enough words to pass otherwise.",
    7 -> "lorem ipsum dolor sit amet consectetur adipiscing elit.",
    11 -> "object config with a curly brace { inside it")

  /** q136's UniMax geometry: capacity = 2 epochs of each lang's
    * tokens, budget = 75% of total capacity. At every SF the corpus's
    * lang shares (en ≈ 40%, others ≈ 13-18%) put the small langs under
    * the waterline (capped — full capacity) and en above it
    * (waterlined), so BOTH branches are data-exercised. */
  private[graft] val UnimaxEpochs = 2
  private[graft] val UnimaxPerMille = 750L

  /** q150's coverage checkpoints — ranks that exist at every SF (the
    * fixture vocabulary is ~31 tokens at each scale). */
  private[graft] val CovKs = Seq(5L, 10L, 20L)
  private[graft] val CovMaxK = 20

  /** q145's temperature-mix budget: 100% of total tokens. √-weights
    * flatten the shares, so the low-resource langs' targets EXCEED
    * their supply (deficit branch) while en's target stays under its
    * supply — both branches data-exercised at every SF. */
  private[graft] val TempPerMille = 1000L

  /** The Spark side of the q135 page construction. */
  private def c4Text: Column = {
    val parts = col("text") +: (
      C4FixedLines.map(l => lit("\n" + l)) ++
        C4ModLines.map { case (m, l) =>
          when(col("doc_id") % m === 0, lit("\n" + l)).otherwise(lit(""))
        })
    concat(parts: _*)
  }

  /** The q122 BPE merge-LEARNING CTE chain (w → s0 → p/t/s per
    * round; round r's (weight desc, pair asc) argmax pair sits in
    * `t$r`) — shared by the q122 and q140 oracles so the learned
    * merge table can never drift between them. Each round re-derives
    * pairs from the previous segmentation and applies the literal
    * double-space-delimited replace — the exact engine-portable greedy
    * semantics of Bpe.learnMerges. */
  private def bpeLearnCtes: String = {
    val rounds = (1 to BpeRounds).map { r =>
      s"""p$r AS (
           SELECT pair, CAST(sum(freq) AS BIGINT) AS w FROM (
             SELECT freq,
               unnest([a[i] || ' ' || a[i + 1] FOR i IN range(1, len(a))]) AS pair
             FROM (SELECT freq, string_split(trim(seq), '  ') AS a
                   FROM s${r - 1}))
           GROUP BY 1),
         t$r AS (SELECT pair, w FROM p$r ORDER BY w DESC, pair LIMIT 1),
         s$r AS (SELECT freq, replace(seq,
               ' ' || replace((SELECT pair FROM t$r), ' ', '  ') || ' ',
               ' ' || replace((SELECT pair FROM t$r), ' ', '') || ' ') AS seq
             FROM s${r - 1})"""
    }.mkString(",\n")
    s"""w AS (
         SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
           SELECT unnest($tokenListSql) AS word FROM documents)
         WHERE word <> '' GROUP BY 1),
       s0 AS (SELECT freq,
           ' ' || trim(regexp_replace(word, '(.)', '\\1  ', 'g')) || ' '
             AS seq
         FROM w),
       $rounds"""
  }

  /** The q136 water-filling CTE chain (ends in `uni`: stratum,
    * n_tokens, capacity, capped, allocated) — shared by the q136 and
    * q137 oracles so the allocation algebra can never drift. */
  private def unimaxCtes: String =
    s"""caps AS (
           SELECT lang AS stratum,
             CAST(sum($sqlTokenCount) AS BIGINT) AS n_tokens
           FROM documents GROUP BY 1),
         c2 AS (
           SELECT stratum, n_tokens,
             n_tokens * $UnimaxEpochs AS capacity FROM caps),
         w0 AS (
           SELECT stratum, n_tokens, capacity,
             CAST(row_number() OVER (ORDER BY capacity, stratum)
               AS BIGINT) AS i,
             coalesce(sum(capacity) OVER (ORDER BY capacity, stratum
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS prefix,
             CAST(count(*) OVER () AS BIGINT) AS n,
             ($UnimaxPerMille * sum(capacity) OVER ()) // 1000 AS b
           FROM c2),
         f0 AS (
           SELECT *, (capacity * (n - i + 1) + prefix <= b) AS capped
           FROM w0),
         g0 AS (
           SELECT *,
             sum(CASE WHEN capped THEN capacity ELSE 0 END) OVER ()
               AS capped_sum,
             CAST(sum(CASE WHEN capped THEN 1 ELSE 0 END) OVER ()
               AS BIGINT) AS k
           FROM f0),
         uni AS (
           SELECT stratum, n_tokens, capacity, capped,
             CASE WHEN capped THEN capacity
               ELSE (b - capped_sum) // (n - k)
                 + (CASE WHEN i - k <= (b - capped_sum) % (n - k)
                    THEN 1 ELSE 0 END)
             END AS allocated
           FROM g0)"""

  /** The DuckDB side of the SAME construction. */
  private def c4TextSql: String =
    "text || " + (
      C4FixedLines.map(l => s"chr(10) || '$l'") ++
        C4ModLines.map { case (m, l) =>
          s"CASE WHEN doc_id % $m = 0 THEN chr(10) || '$l' ELSE '' END"
        }).mkString(" || ")

  /** q122's merge-round count — enough for merged symbols to become
    * pair PARTICIPANTS (round 2+ pairs contain round-1 products), the
    * part of the recurrence a one-round check can't see. */
  private[graft] val BpeRounds = 4

  /** q121's synthetic card corpus (the q73 piiText precedent): every
    * doc carries one 16-digit candidate whose final digit is
    * doc_id % 10, so ~1 in 10 has a VALID Luhn check digit — both
    * validator branches exercised at every SF. The SAME construction
    * is interpolated into the oracle. */
  private def cardText = concat(
    col("text"), lit(" card 4"),
    lpad((col("doc_id") * 7919 % 100000000000L).cast("string"), 11, "0"),
    lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
    (col("doc_id") % 10).cast("string"), lit(" end"))

  /** q73's synthetic PII corpus: every doc gains an email, every third
    * an IPv4, every fifth a phone — all derived from doc_id so the
    * oracle rebuilds the identical text. */
  private def piiText = concat(
    col("text"),
    lit(" contact user"), (col("doc_id") % 50).cast("string"),
    lit("@example.com"),
    when(col("doc_id") % 3 === 0,
      concat(lit(" from 10.0."), (col("doc_id") % 250).cast("string"), lit(".7")))
      .otherwise(lit("")),
    when(col("doc_id") % 5 === 1,
      concat(lit(" call +1-555-"), ((col("doc_id") % 9000) + 1000).cast("string")))
      .otherwise(lit("")))

  /** q77's synthetic unicode-messy corpus: every doc gains decomposed
    * accent runs (base letter + combining mark — NFC composes them),
    * every second a zero-width joiner (Cf — stripped), every third a
    * BEL control (Cc — stripped). Codepoints via \u escapes here and
    * chr() in the oracle, same construction. */
  private def unicodeMessyText = concat(
    col("text"),
    lit(" cafe\u0301 no\u0308el"), // decomposed: combining acute / diaeresis
    when(col("doc_id") % 2 === 0, lit(" zero\u200Dwidth")).otherwise(lit("")), // ZWJ (Cf)
    when(col("doc_id") % 3 === 0, lit(" bell\u0007tone")).otherwise(lit(""))) // BEL (Cc)

  /** q75's vocabulary size (shared with its oracle SQL) — below the
    * fixture's ~31-token vocabulary so the top-k actually BINDS and the
    * (cnt DESC, tok) tie-break is oracle-exercised at every SF. */
  private[graft] val VocabTopK = 20

  /** q83's Space-Saving budget (counters per partition). 32 sits just
    * above the fixture's 31-token vocabulary, so the provability bound
    * cnt_k > N/32 binds TIGHT (~5% margin at every SF — the near-uniform
    * fixture frequencies put cnt_20 ≈ N/30.5) while still passing;
    * eviction itself is exercised by HeavyHittersSpec's skewed stream,
    * where distinct items exceed the budget. Edit HERE. */
  private[graft] val HhCounters = 32

  /** DuckDB token-MULTISET subquery (one row per token occurrence) —
    * the parity twin of `explode(TextFunctions.tokens(lower(text)))`,
    * shared by the q75, q83 and q84 oracles. */
  private[graft] val sqlTokRows: String =
    s"""(SELECT unnest(list_filter(string_split(
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
             t -> t <> '')) AS tok
           FROM documents)"""

  /** `sqlTokRows` with the q162 doc_id-parity side key carried along —
    * the same lowered whitespace tokenization, one occurrence row per
    * token. */
  private[graft] val sqlTokRowsSided: String =
    s"""(SELECT doc_id % 2 AS side, unnest(list_filter(string_split(
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
             t -> t <> '')) AS tok
           FROM documents)"""

  /** q85's window geometry: 32-token windows sharing 8 tokens — over
    * the fixture's 10-99-token docs this exercises the single-chunk
    * (n <= 32), multi-chunk, and short-tail edges in one run. */
  private[graft] val ChunkTokens = 32
  private[graft] val ChunkOverlap = 8

  /** q156's fit width: top-25 head of the rank-frequency curve. Below
    * the fixture's ~31-token vocabulary so the cut BINDS (and the
    * (cnt DESC, tok) tie-break is oracle-exercised) at every SF; at
    * corpus scale the head is where Zipf fits are read anyway. */
  private[graft] val ZipfK = 25

  /** q86's passage-window geometry: 16-token windows anchored at
    * positions whose token md5-buckets to 0 mod 4 (content-defined
    * starts — alignment-invariant detection). On the sf0.01 fixture
    * this yields 190 of 4,432 distinct anchored windows shared across
    * docs (the near-dup cliques) — a non-trivial gate. */
  private[graft] val DupWindowTokens = 16
  private[graft] val DupAnchorMod = 4

  /** q84's Count-Min geometry. Width 512 over the fixture's ~31-token
    * vocab keeps collisions possible-but-rare (the estimates are gated
    * bit-for-bit either way); depth 4 is the textbook δ=e⁻⁴ row count. */
  private[graft] val CmsDepth = 4
  private[graft] val CmsWidth = 512

  /** q90's DSIR feature-hash bucket count. 1024 over the fixture's
    * ~960 distinct bigrams puts a few genuine collisions in play while
    * keeping most buckets single-gram — both the collided and the
    * smoothed-empty weight paths are oracle-exercised. */
  private[graft] val DsirBuckets = 1024

  /** q92's per-stratum selection depth — small enough that the k-cut
    * binds in every lang stratum of the 500-doc fixtures. */
  private[graft] val DsirSelectK = 10

  /** q94's collocation geometry: minCount 5 binds on the fixture's
    * dense bigram table, discount 2 exercises the rare-pair penalty
    * (and the floor-to-0 branch on pairs at/below it), top-25 keeps
    * the gate sensitive to the full (score, w1, w2) ordering. */
  private[graft] val PhraseMinCount = 5L
  private[graft] val PhraseDiscount = 2L
  private[graft] val PhraseTopK = 25

  /** q96's keywords-per-doc depth — below the fixture's ~10-token
    * minimum doc length so the k-cut and the (score DESC, term ASC)
    * tie-break bind on every document. */
  private[graft] val KeywordTopK = 3

  /** q100's per-stratum sample size — below every lang stratum's row
    * count at every SF, so the exact-k cut binds everywhere. */
  private[graft] val PrioritySampleK = 25

  /** q113's target mixture: integer weights over strata — exercises
    * over-represented (en vs 50), under-represented, zero-weight on a
    * present stratum (zh) and zero-supply on an absent one (ja). */
  private[graft] val MixtureWeights: Seq[(String, Long)] = Seq(
    ("en", 50L), ("de", 20L), ("es", 10L), ("fr", 10L), ("zh", 0L),
    ("ja", 10L))
  private[graft] val MixtureBudget = 50000L

  /** q105's Hamming-join geometry: 24 signature bits over 3 pigeonhole
    * blocks (maxHamming 2) — 8-bit blocks keep bucket sizes honest on
    * the fixture while both the exact-match and the 1/2-bit-flip
    * distances populate. */
  private[graft] val HammingBits = 24
  private[graft] val HammingMaxDist = 2

  /** q102's skip-gram geometry: window 3 over the dense fixture
    * corpus, minCount 100 binding on the ~500-pair table, top-30 by
    * the unique (pmi_mills DESC, w1, w2) order. */
  private[graft] val SkipgramWindow = 3
  private[graft] val SkipgramMinCount = 100L
  private[graft] val SkipgramTopK = 30

  /** DuckDB CTE body recomputing the q95 unigram code-length scores
    * (Laplace-smoothed Mitchell-log2 millibits over the 'en' stratum):
    * yields CTE `sc` with (doc_id, n_toks, total_bits_mills) — shared
    * by q95 (row-preserving scores) and q104 (CCNet head/middle/tail
    * split) so the two recomputes can never drift. */
  private[graft] val unigramCeCtes: String =
    s"""t AS (
         SELECT doc_id, lang, list_filter(string_split(
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
           x -> x <> '') AS l
         FROM documents),
       lmtoks AS (SELECT unnest(l) AS tok FROM t WHERE lang = 'en'),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(count(DISTINCT tok) AS BIGINT) AS v
               FROM lmtoks),
       cost AS (
         SELECT tok,
           1000 * e + (1000 * (q - p)) // p - 10000 AS cost
         FROM (
           SELECT tok, q, e, (CAST(1 AS BIGINT) << CAST(e AS INT)) AS p
           FROM (
             SELECT tok, q, length(printf('%b', q)) - 1 AS e
             FROM (
               SELECT tok, (1024 * (tot.n + tot.v)) // (cnt + 1) AS q
               FROM (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
                     FROM lmtoks GROUP BY tok)
               CROSS JOIN tot)))),
       oov AS (
         SELECT 1000 * e + (1000 * (q - p)) // p - 10000 AS oov
         FROM (
           SELECT q, e, (CAST(1 AS BIGINT) << CAST(e AS INT)) AS p
           FROM (
             SELECT q, length(printf('%b', q)) - 1 AS e
             FROM (SELECT 1024 * (n + v) AS q FROM tot)))),
       dt AS (SELECT doc_id, unnest(l) AS tok FROM t),
       sc AS (
         SELECT dt.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
           CAST(sum(coalesce(c.cost, oov.oov)) AS BIGINT)
             AS total_bits_mills
         FROM dt LEFT JOIN cost c USING (tok) CROSS JOIN oov
         GROUP BY dt.doc_id)"""

  /** q99's synthetic URL corpus (the q73 piiText precedent): every doc
    * gains a crawl-style URL derived from doc_id — mixed case, www,
    * tracking params in first/middle/last/only positions, fragments,
    * trailing slashes — so every canonicalization rule fires at every
    * SF. The SAME construction is interpolated into the oracle. */
  private def urlText = concat(
    lit("HTTPS://WWW.Example"), (col("doc_id") % 7).cast("string"),
    lit(".COM/Docs/Item"), col("doc_id").cast("string"),
    when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
    when(col("doc_id") % 3 === 0, lit("?utm_source=feed&q=1&fbclid=abc"))
      .otherwise(when(col("doc_id") % 3 === 1, lit("?gclid=xyz"))
        .otherwise(lit("?q=2&utm_campaign=c"))),
    when(col("doc_id") % 5 === 0, lit("#Section-2")).otherwise(lit("")))

  /** q98's blocklist — interpolated into BOTH the Spark query and the
    * oracle SQL; edit HERE. Mixes multi-token phrases common in the
    * fixture (both match branches exercised), one single-token phrase,
    * and one phrase absent from the corpus. */
  private[graft] val BlocklistPhrases: Seq[(Long, String)] = Seq(
    (1L, "batch batch batch"),
    (2L, "table scan"),
    (3L, "customer data group"),
    (4L, "vector"),
    (5L, "zebra stripes"))

  /** q69/q93's packing budget (tokens per sequence) — ONE constant
    * shared by the Spark entries and the interpolated oracle SQL so
    * the packing and its QA rollup can never drift. */
  private[graft] val PackBudget = 512

  /** The shared q90/q92 DuckDB scoring CTEs (ending in `scored`):
    * lowered bigram multiset → '#dsir' md5 buckets → smoothed rational
    * HUGEINT weights over all DsirBuckets → per-doc sums. ONE
    * definition so the score and the selection can never drift. */
  private lazy val sqlDsirScoredCtes: String =
    s"""base AS (
         SELECT doc_id, list_filter(string_split(
           regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
           t -> t <> '') AS l
         FROM documents),
       dg AS (
         SELECT doc_id,
           CAST(('0x' || substr(md5(g || '#dsir'), 1, 15)) AS BIGINT)
             % $DsirBuckets AS b
         FROM (SELECT doc_id, unnest($wordBigramsAllSql) AS g FROM base)),
       tg AS (SELECT b FROM dg WHERE doc_id % 7 = 0),
       sc AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM dg GROUP BY b),
       tc AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM tg GROUP BY b),
       tot AS (SELECT (SELECT count(*) FROM dg) AS ns,
                      (SELECT count(*) FROM tg) AS nt),
       bk AS (SELECT CAST(unnest(range($DsirBuckets)) AS BIGINT) AS b),
       wt AS (SELECT bk.b,
                CAST((CAST(1000 AS HUGEINT) * (coalesce(tc.c, 0) + 1)
                      * (tot.ns + $DsirBuckets))
                  // (CAST(coalesce(sc.c, 0) + 1 AS HUGEINT)
                      * (tot.nt + $DsirBuckets)) AS BIGINT) AS w
              FROM bk LEFT JOIN sc ON bk.b = sc.b
                LEFT JOIN tc ON bk.b = tc.b CROSS JOIN tot),
       scored AS (SELECT dg.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                    CAST(sum(wt.w) AS BIGINT) AS dsir_mills
                  FROM dg JOIN wt ON dg.b = wt.b GROUP BY dg.doc_id)"""

  /** q91's required-word list. The fixture's vocabulary contains 'the'
    * and 'a' but only one word from Gopher's English list — gating
    * with these two exercises BOTH gopher_ok branches for real (the
    * operator's default stays the paper's list). */
  private[graft] val GopherQStops = Seq("the", "a")

  /** DuckDB twin of `CountMin.bucket` — THE shared hash contract:
    * md5(item || '#cms' || row), first 15 hex chars as a 60-bit int,
    * mod width. `row` is a SQL expression (column or literal). */
  private[graft] def sqlCmsBucket(tokExpr: String, rowExpr: String): String =
    s"CAST(('0x' || substr(md5($tokExpr || '#cms' || CAST($rowExpr AS VARCHAR)), 1, 15)) AS BIGINT) % $CmsWidth"

  /** DuckDB twin of `TextFunctions.qualityScoreMills`, over the alias
    * triple (len, alpha, toks) — THE shared parity contract for every
    * quality-scored oracle (q31, q74): interpolate this, never
    * hand-copy the formula. */
  private[graft] val sqlQualityMills =
    """CAST(floor((least(len, 400) * 1000 / 400
       + CASE WHEN len > 0 THEN alpha * 1000 / len ELSE 0 END
       + least(toks, 50) * 1000 / 50) / 3) AS BIGINT)"""

  /** q74's per-stratum token budget (shared with its oracle SQL).
    * 2000 binds every stratum of the 500-doc fixtures (strata carry
    * ~2k-7k tokens), so the boundary-bin path runs at every SF; the
    * everything-fits path is pinned separately in the spec. */
  private[graft] val BudgetSelectTokens = 2000L

  /** q35's LSH candidate-pair graph (shared with q53's components).
    *
    * Hot-bucket guard (MMDS ch.3): a degenerate band bucket — boiler-
    * plate or heavily duplicated docs sharing one band signature — makes
    * the within-bucket join O(|bucket|²) in both work and OUTPUT (at
    * sf0.1 two buckets of 532 and 461 docs carried 95% of the join).
    * Buckets over `LshBucketCap` are star-reduced instead: each member
    * pairs with the bucket's min doc_id only — O(|bucket|) pairs whose
    * transitive closure is the same (a star and a clique have identical
    * connected components), so q53's dedup groups are unchanged while
    * the candidate graph stays linear in the corpus. The cap is part of
    * the query's contract and is encoded in the DuckDB twin. */
  private def lshPairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.minhashLshPairs(
      docsSpread(s, dir).where(col("doc_id") % 5 === 0), "text", "doc_id",
      maxBucket = LshBucketCap)

  /** The q192/q194 S-curve audit body over an arbitrary audit
    * universe: exact-Jaccard ground truth (the direct all-pairs
    * kernel at [[LshAuditMinJac]]) vs the REAL q35 banding at both
    * semantics — direct pair recall and q53-closure recall — per
    * similarity decile. One shared implementation so the full audit and its
    * at-scale sampled variant can never drift. Unordered output; the
    * caller sorts. */
  private def scurveAudit(universe: DataFrame): DataFrame = {
    // ONE scan of the audit universe computes the sorted token sets AND
    // the q35 bands, materialized once: the ground truth and the banding
    // both read it
    val d = graft.operators.Dedup.nearDupFrame(universe, "text", "doc_id")
      .localCheckpoint(true)
    // the ground truth rides the direct all-pairs kernel — at
    // LshAuditMinJac the prefix filter keeps >99.9% of pairs as
    // candidates, and the pair set (so every audit number) is identical
    // (lossless blocking). The broadcast is bounded by the audit
    // universe, which must be protocol-bounded for an exact O(N²) audit
    // to be computable.
    val truth = graft.operators.Dedup.jaccardPairsAllPairs(d,
      minJaccardMills = LshAuditMinJac)
    // the LSH pair graph feeds BOTH the direct-hit join and the
    // closure computation — checkpoint it once (the q153 rule)
    val lp = graft.operators.Dedup.bandPairs(d, LshBucketCap)
      .localCheckpoint(true)
    val lsh = lp.select(col("id_a"), col("id_b"), lit(1L).as("hit"))
    val comp = graft.operators.Dedup.connectedComponents(lp)
    truth.join(lsh, Seq("id_a", "id_b"), "left")
      .join(comp.select(col("id").as("id_a"), col("comp").as("ca")),
        Seq("id_a"), "left")
      .join(comp.select(col("id").as("id_b"), col("comp").as("cb")),
        Seq("id_b"), "left")
      .withColumn("chit",
        when(col("ca").isNotNull && col("ca") === col("cb"), lit(1L))
          .otherwise(lit(0L)))
      .groupBy(expr("jac_mills div 100").as("bucket_lo_hmills"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_pair"),
        sum(col("chit")).as("n_closure"))
      .withColumn("recall_pair_mills", expr("(1000 * n_pair) div n_true"))
      .withColumn("recall_closure_mills",
        expr("(1000 * n_closure) div n_true"))
  }

  val queries: Seq[Query] = Seq(
    // Exact dedup via content hash: one hash-agg shuffle on md5 key.
    Query("q29_dedup_exact", (s, dir) => {
      docs(s, dir)
        .groupBy(TextFunctions.contentKey(col("text")).as("content_key"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
        .orderBy("keep_id")
    },
      """SELECT md5(lower(trim(text))) AS content_key,
         min(doc_id) AS keep_id, count(*) AS dup_count
         FROM documents GROUP BY 1 ORDER BY keep_id"""),

    // Token statistics + fingerprint per document (pure projection).
    Query("q30_token_stats", (s, dir) => {
      docs(s, dir)
        .select(
          col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          size(tokSet).cast("long").as("n_distinct_tokens"),
          length(trim(col("text"))).cast("long").as("n_chars_trim"),
          TextFunctions.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    },
      s"""SELECT doc_id,
         CAST($sqlTokenCount AS BIGINT) AS n_tokens,
         CAST(len($sqlTokSet) AS BIGINT) AS n_distinct_tokens,
         CAST(length(trim(text)) AS BIGINT) AS n_chars_trim,
         md5(array_to_string($sqlTokSet, ' ')) AS fingerprint
         FROM documents ORDER BY doc_id"""),

    // Quantile sketch gate: exact DISCRETE p50/p90/p99 of n_chars per
    // lang from ONE histogram pass (the q57 selection generalized to
    // rank ceil(p*n), all-integer arithmetic), plus percentile_approx
    // — the at-scale sketch — gated the q43 way: the sketch value's
    // rank interval must overlap [rank±2n/accuracy]; the oracle emits
    // literal TRUE, so an out-of-bound sketch hash-fails. Raw sketch
    // values are NOT emitted (GK merge order is engine/run-specific);
    // the bound is the portable surface.
    Query("q81_quantile_sketch", (s, dir) => {
      // n_chars IS NOT NULL on BOTH sides (the q153 null-sort
      // discipline: Spark cumulates NULLS FIRST, DuckDB LAST)
      val d = docsSpread(s, dir).select(col("lang"), col("n_chars"))
        .where(col("n_chars").isNotNull)
      val h = d.groupBy("lang", "n_chars").agg(count(lit(1)).as("cnt"))
      val wc = Window.partitionBy("lang").orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val r = h.withColumn("cum", sum(col("cnt")).over(wc))
        .withColumn("n", sum(col("cnt")).over(Window.partitionBy("lang")))
      // ceil(p*n) = (n*num + den-1) div den — integer-exact both engines
      def rk(num: Int, den: Int) =
        expr(s"CAST((n * $num + ${den - 1}) DIV $den AS BIGINT)")
      val ps = QuantilePercentiles.map { case (pm, num, den) =>
        (pm.toLong, num, den)
      }
      val exAggs = ps.map { case (pm, num, den) =>
        min(when(col("cum") >= rk(num, den), col("n_chars"))).as(s"e$pm")
      }
      val ex = r.groupBy("lang").agg(exAggs.head, exAggs.tail: _*)
      val exactRows = ps.map { case (pm, _, _) =>
        ex.select(col("lang"), lit(pm).as("p_mills"),
          col(s"e$pm").as("exact_val"))
      }.reduce(_ unionByName _)
      val apAggs = ps.map { case (pm, num, den) =>
        percentile_approx(col("n_chars"), lit(num.toDouble / den),
          lit(QuantileSketchAccuracy)).as(s"a$pm")
      } :+ count(lit(1)).as("n")
      val ap = d.groupBy("lang").agg(apAggs.head, apAggs.tail: _*)
      val apRows = ps.map { case (pm, num, den) =>
        ap.select(col("lang"), lit(pm).as("p_mills"), col(s"a$pm").as("av"),
          rk(num, den).as("rk"),
          expr(s"CAST(2 * n DIV $QuantileSketchAccuracy + 1 AS BIGINT)")
            .as("max_err"))
      }.reduce(_ unionByName _)
      // a sketch value's true rank interval is (cum-cnt, cum]; lang
      // joins are NULL-SAFE — a NULL stratum is a legal bin, and the
      // oracle's GROUP BY lang emits it
      val inBound = apRows.join(
          r.select(col("lang").as("__lg"), col("n_chars").as("__vv"),
            col("cum"), col("cnt")),
          col("lang") <=> col("__lg") && col("av") === col("__vv"))
        .select(col("lang").as("__lg2"), col("p_mills").as("__pm2"),
          (col("cum") - col("cnt") < col("rk") + col("max_err") &&
            col("cum") >= col("rk") - col("max_err"))
            .as("sketch_in_bound"))
      exactRows.join(inBound,
          col("lang") <=> col("__lg2") && col("p_mills") === col("__pm2"))
        .select(col("lang"), col("p_mills"), col("exact_val"),
          col("sketch_in_bound"))
        .orderBy("lang", "p_mills")
    }, {
      val per = QuantilePercentiles.map {
        case (pm, num, den) =>
          s"""SELECT lang, CAST($pm AS BIGINT) AS p_mills,
             CAST(min(CASE WHEN cum >= (n * $num + ${den - 1}) // $den
               THEN n_chars END) AS BIGINT) AS exact_val,
             TRUE AS sketch_in_bound
             FROM r GROUP BY lang"""
      }.mkString(" UNION ALL ")
      s"""WITH h AS (
           SELECT lang, n_chars, count(*) AS cnt
           FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
         r AS (
           SELECT lang, n_chars, cnt,
             sum(cnt) OVER (PARTITION BY lang ORDER BY n_chars
               ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER (PARTITION BY lang) AS n
           FROM h)
         $per ORDER BY lang, p_mills"""
    }),

    // BM25 (rational-idf) keyword retrieval: top-10 docs per query over
    // the document corpus — the lexical twin of the ANN top-k family.
    Query("q79_bm25_topk", (s, dir) => {
      import s.implicits._
      val qs = Bm25Queries.toDF("qid", "qtext")
      graft.operators.Retrieval.bm25TopK(
          docsSpread(s, dir), qs, "doc_id", "text", "qid", "qtext",
          k = Bm25K, k1 = Bm25K1, b = Bm25B)
        .orderBy("qid", "rank")
    }, bm25OracleSql),
    // Hybrid retrieval (Retrieval.rrfFuse): the q79 BM25 lexical
    // ranking and a brute-cosine semantic ranking (q37 kernel; query
    // vector of qid = embedding vec_id qid·20) fused by reciprocal-rank
    // — integer contributions 1000000 div (60 + rank), missing source
    // contributes 0. Both inputs are top-k frames, so fusion is
    // bounded by |queries|·k rows whatever the corpus size.
    Query("q117_hybrid_rrf", (s, dir) => {
      import s.implicits._
      val qs = Bm25Queries.toDF("qid", "qtext")
      val lex = graft.operators.Retrieval.bm25TopK(
          docsSpread(s, dir), qs, "doc_id", "text", "qid", "qtext",
          k = Bm25K, k1 = Bm25K1, b = Bm25B)
        .select(col("qid"), col("doc_id"), col("rank"))
      val e = graft.Tables(s, dir, "embeddings")
      val qv = e.where(col("vec_id").isin(
          Bm25Queries.map(_._1 * HybridVecStride): _*))
        .select(expr(s"vec_id div $HybridVecStride").as("qid"),
          graft.functions.VectorFunctions.quantize(col("embedding")).as("qv"))
      val corpus = e.repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id").as("doc_id"),
          graft.functions.VectorFunctions.quantize(col("embedding")).as("cv"))
      val ws = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cos").desc, col("doc_id"))
      val sem = corpus.crossJoin(broadcast(qv))
        .withColumn("cos",
          graft.functions.VectorFunctions.cosineSqScaledQ(col("qv"), col("cv")))
        .withColumn("rank", row_number().over(ws).cast("long"))
        .where(col("rank") <= Bm25K)
        .select(col("qid"), col("doc_id"), col("rank"))
      graft.operators.Retrieval.rrfFuse(
          Seq("lex" -> lex, "sem" -> sem), "qid", "doc_id", "rank",
          k = Bm25K, k0 = RrfK0)
        .orderBy("qid", "rank")
    }, {
      // the SAME factored lexical SQL as q79's oracle rides as a
      // subquery; semantic side mirrors q37's quantized-cosine twin;
      // fusion is pure integer floor-division (DuckDB `//` ≡ Spark
      // `div` on positive BIGINTs)
      val vecIds = Bm25Queries.map(_._1 * HybridVecStride).mkString(", ")
      val quant = VectorQueries.quant
      s"""WITH lex AS (
           SELECT qid, doc_id, rank AS rank_lex FROM ($bm25OracleSql)),
         qv AS (SELECT vec_id // $HybridVecStride AS qid, $quant AS qv
                FROM embeddings WHERE vec_id IN ($vecIds)),
         c AS (SELECT vec_id AS doc_id, $quant AS cv FROM embeddings),
         ss AS (SELECT qid, doc_id, ${VectorQueries.cossq("qv", "cv")} AS cos
                FROM c CROSS JOIN qv),
         sr AS (SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
                  ORDER BY cos DESC, doc_id) AS rank_sem FROM ss),
         sem AS (SELECT qid, doc_id, rank_sem FROM sr
                 WHERE rank_sem <= $Bm25K),
         u AS (SELECT coalesce(l.qid, s.qid) AS qid,
                 coalesce(l.doc_id, s.doc_id) AS doc_id,
                 l.rank_lex, s.rank_sem
               FROM lex l FULL OUTER JOIN sem s
                 ON l.qid = s.qid AND l.doc_id = s.doc_id),
         f AS (SELECT qid, doc_id, rank_lex, rank_sem,
                 CAST(coalesce(1000000 // ($RrfK0 + rank_lex), 0)
                    + coalesce(1000000 // ($RrfK0 + rank_sem), 0)
                   AS BIGINT) AS rrf_mills
               FROM u),
         rr AS (SELECT *, row_number() OVER (PARTITION BY qid
                  ORDER BY rrf_mills DESC, doc_id) AS rank FROM f)
         SELECT qid, rank, doc_id, rrf_mills, rank_lex, rank_sem
         FROM rr WHERE rank <= $Bm25K ORDER BY qid, rank"""
    }),

    // Quality scoring in integer mills + stopword hits.
    Query("q31_quality_score", (s, dir) => {
      docs(s, dir)
        .select(
          col("doc_id"),
          TextFunctions.qualityScoreMills(col("text")).as("quality_mills"),
          TextFunctions.stopwordHits(
            TextFunctions.tokens(col("text")), TextAnalysis.DefaultStopwords)
            .cast("long").as("stopword_hits"))
        .orderBy("doc_id")
    },
      ("""WITH m AS (
           SELECT doc_id, length(text) AS len,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
             CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(list_filter(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' '), t -> t <> '')) END AS toks
           FROM documents),
         sw AS (
           -- stopword list interpolated from TextAnalysis.DefaultStopwords
           -- (the engine's source) -- never hand-sync it here
           SELECT doc_id, CAST(count(*) FILTER (WHERE lower(tok) IN
             (""" +
        graft.operators.TextAnalysis.DefaultStopwords
          .map(w => s"'$w'").mkString(",") +
        """)) AS BIGINT) AS hits
           FROM (SELECT doc_id,
                   unnest(list_filter(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' '), t -> t <> '')) AS tok
                 FROM documents) u
           GROUP BY doc_id)
         SELECT m.doc_id,
           """ + sqlQualityMills + """ AS quality_mills,
           coalesce(sw.hits, 0) AS stopword_hits
         FROM m LEFT JOIN sw USING (doc_id) ORDER BY doc_id""")),

    // Language-ID heuristic (marker-token argmax; ties → lexicographically
    // greatest language, no hits → 'und').
    Query("q32_lang_id", (s, dir) => {
      docs(s, dir)
        .select(
          col("doc_id"), col("lang"),
          TextFunctions.langIdHeuristic(
            TextFunctions.tokens(lower(col("text"))), TextAnalysis.DefaultMarkers)
            .as("lang_pred"))
        .orderBy("doc_id")
    }, {
      // marker tables interpolated from TextAnalysis.DefaultMarkers
      // (the engine's source) — never hand-sync them here
      def markers(l: String) = graft.operators.TextAnalysis
        .DefaultMarkers(l).map(w => s"'$w'").mkString(",")
      """WITH toks AS (
           SELECT doc_id, lang,
             unnest(list_filter(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '), t -> t <> '')) AS tok
           FROM documents),
         hits AS (
           SELECT doc_id, lang,
             CAST(sum(CASE WHEN tok IN (""" + markers("en") + """) THEN 1 ELSE 0 END) AS BIGINT) AS h_en,
             CAST(sum(CASE WHEN tok IN (""" + markers("es") + """) THEN 1 ELSE 0 END) AS BIGINT) AS h_es,
             CAST(sum(CASE WHEN tok IN (""" + markers("de") + """) THEN 1 ELSE 0 END) AS BIGINT) AS h_de,
             CAST(sum(CASE WHEN tok IN (""" + markers("fr") + """) THEN 1 ELSE 0 END) AS BIGINT) AS h_fr
           FROM toks GROUP BY doc_id, lang)
         SELECT doc_id, lang,
           CASE WHEN greatest(h_en, h_es, h_de, h_fr) = 0 THEN 'und'
                WHEN h_fr = greatest(h_en, h_es, h_de, h_fr) THEN 'fr'
                WHEN h_es = greatest(h_en, h_es, h_de, h_fr) THEN 'es'
                WHEN h_en = greatest(h_en, h_es, h_de, h_fr) THEN 'en'
                ELSE 'de' END AS lang_pred
         FROM hits ORDER BY doc_id"""
    }),

    // SimHash signature (8-bit here, parity-of-md5-hex-char bit weights).
    Query("q33_simhash", (s, dir) => {
      docsSpread(s, dir)
        .select(col("doc_id"), TextFunctions.simhash(col("text"), 8).as("simhash"))
        .orderBy("doc_id")
    }, {
      val sums = (0 until 8).map(i =>
        s"sum(CASE WHEN ascii(substr(md5(tok), ${i + 1}, 1)) % 2 = 1 THEN 1 ELSE -1 END) AS s$i")
        .mkString(", ")
      val pack = (0 until 8).map(i =>
        s"(CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
      // row-preserving like the engine's projection: a token-less doc
      // simhashes to 0 (all bit sums zero), a NULL text to NULL — the
      // bare GROUP BY would DROP such docs and row-count-diverge
      s"""WITH toks AS (
           SELECT doc_id, unnest($sqlTokSet) AS tok FROM documents),
         bits AS (SELECT doc_id, $sums FROM toks GROUP BY doc_id),
         packed AS (SELECT doc_id, CAST($pack AS BIGINT) AS simhash FROM bits)
         SELECT d.doc_id,
           CASE WHEN d.text IS NULL THEN NULL
                ELSE coalesce(p.simhash, 0) END AS simhash
         FROM documents d LEFT JOIN packed p USING (doc_id)
         ORDER BY doc_id"""
    }),

    // MinHash signature (4 salted-md5 min-hashes in one pass; codegen's
    // subexpression elimination computes the signature array once).
    Query("q34_minhash_sig", (s, dir) => {
      val sig = graft.functions.TextHash.minhashSignature(col("text"), 0 until 4)
      docsSpread(s, dir)
        .select(
          col("doc_id"),
          element_at(sig, 1).as("mh0"), element_at(sig, 2).as("mh1"),
          element_at(sig, 3).as("mh2"), element_at(sig, 4).as("mh3"))
        .orderBy("doc_id")
    },
      // row-preserving, q33's rule: empty token set min-hashes to ''
      // per seed (TextHash.minhashKernel), NULL text to NULL
      s"""WITH toks AS (
           SELECT doc_id, unnest($sqlTokSet) AS tok FROM documents),
         m AS (
           SELECT doc_id, ${sqlMinhash(0)} AS mh0, ${sqlMinhash(1)} AS mh1,
             ${sqlMinhash(2)} AS mh2, ${sqlMinhash(3)} AS mh3
           FROM toks GROUP BY doc_id)
         SELECT d.doc_id,
           CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(m.mh0, '') END AS mh0,
           CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(m.mh1, '') END AS mh1,
           CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(m.mh2, '') END AS mh2,
           CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(m.mh3, '') END AS mh3
         FROM documents d LEFT JOIN m USING (doc_id)
         ORDER BY doc_id"""),

    // MinHash-LSH candidate pairs: 2 bands × 4 rows, banded equi-join on
    // the band string (the anti-cross-product design), on a 1-in-5
    // document sample.
    Query("q35_lsh_pairs", (s, dir) =>
      lshPairs(s, dir).orderBy("id_a", "id_b"),
      s"""WITH $lshPairsCtes
         SELECT id_a, id_b FROM pairs ORDER BY id_a, id_b"""),

    // LSH S-curve audit — the measurement that tells a dedup operator
    // whether its banding is tuned: empirical recall of the REAL q35
    // pipeline (2 bands × 4 rows, star-capped buckets) against exact
    // Jaccard ground truth, bucketed by similarity decile, at BOTH
    // semantics the pipeline offers: direct pair recall (was the pair
    // itself emitted) and CLOSURE recall (did the two docs land in the
    // same q53 component — the dedup contract the star-cap actually
    // preserves). Ground truth is exact all-pairs Jaccard (the same
    // pair set as q36's PPJoin kernel) at the LOW [[LshAuditMinJac]]
    // floor so the curve spans the S-curve's knee (pairwise theory
    // p(J) = 1−(1−J⁴)²; closure recall dominates it, and the GAP
    // between the two columns is the
    // measured price of star-capping — pair-completeness traded for
    // closure, visible per bucket). The LSH side is the IDENTICAL q35
    // helper and the q53 components kernel — caps, salts and label
    // propagation are what's audited, not a re-derivation. Joins are
    // pair-keyed / id-keyed over candidate-bounded frames; recalls in
    // exact floored mills.
    Query("q192_lsh_scurve", (s, dir) =>
      scurveAudit(docsSpread(s, dir).where(col("doc_id") % 5 === 0))
        .orderBy("bucket_lo_hmills"), {
      // ground truth is the NAIVE all-pairs Jaccard twin (parity
      // proves the PPJoin prefix lossless at the audit floor); the LSH
      // side is the shared q35 CTE chain and q53's recursive-closure
      // twin, so the capped banding AND the label propagation are
      // what's audited on both engines
      val jm = "floor(1000 * len(list_intersect(a.toks, b.toks)) " +
        "/ (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))))"
      s"""WITH RECURSIVE $lshPairsCtes,
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION
           SELECT id_b AS src, id_a AS dst FROM pairs),
         reach AS (
           SELECT src AS id, src AS comp FROM edges
           UNION
           SELECT e.dst AS id, r.comp FROM reach r
           JOIN edges e ON e.src = r.id),
         cmp AS (SELECT id, min(comp) AS comp FROM reach GROUP BY 1),
         d AS (SELECT doc_id, $sqlTokSet AS toks
               FROM documents WHERE doc_id % 5 = 0),
         tr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  CAST($jm AS BIGINT) AS jac_mills
                FROM d a JOIN d b ON a.doc_id < b.doc_id
                WHERE $jm >= $LshAuditMinJac),
         au AS (SELECT tr.jac_mills // 100 AS bucket_lo_hmills,
                  CAST(count(*) AS BIGINT) AS n_true,
                  CAST(sum(CASE WHEN p.id_a IS NOT NULL THEN 1 ELSE 0
                    END) AS BIGINT) AS n_pair,
                  CAST(sum(CASE WHEN ca.comp IS NOT NULL
                    AND ca.comp = cb.comp THEN 1 ELSE 0
                    END) AS BIGINT) AS n_closure
                FROM tr
                LEFT JOIN pairs p
                  ON tr.id_a = p.id_a AND tr.id_b = p.id_b
                LEFT JOIN cmp ca ON tr.id_a = ca.id
                LEFT JOIN cmp cb ON tr.id_b = cb.id
                GROUP BY 1)
         SELECT bucket_lo_hmills, n_true, n_pair, n_closure,
           (1000 * n_pair) // n_true AS recall_pair_mills,
           (1000 * n_closure) // n_true AS recall_closure_mills
         FROM au ORDER BY bucket_lo_hmills"""
    }),

    // The q192 audit AT SCALE, executable: the reference's candidate
    // retrieval carries implicit recall expectations (`app/etl.py:1272`
    // — process.extract over the FULL pool, recall 1.0 by brute force;
    // any blocked/banded engine must MEASURE what that exhaustiveness
    // is traded for). The ground-truth side of the S-curve is
    // intrinsically all-pairs (exact Jaccard at the audit
    // floor — the thing LSH exists to avoid), so a 100 TB run audits a
    // deterministic SAMPLE and applies the measured curve to the full
    // corpus. q194 is that protocol as a gated query: the q70
    // md5-threshold kernel cuts the audit universe (reproducible in
    // any engine — the threshold IS the sample), the IDENTICAL
    // q35/q53 kernels band and close it, and the output carries the
    // sample-coverage fraction beside the curve so the applied-curve
    // caveat is part of the record. All-pairs work shrinks by rate²
    // while the per-pair band-collision probability is rate-invariant
    // (it depends on pair similarity alone). PROTOCOL NOTE (pinned by
    // CrossQueryConsistencySpec): apply the CLOSURE recall column —
    // the sample's smaller band buckets escape the q35 star cap that
    // truncates the full corpus's hot buckets, so the sampled
    // DIRECT-pair recall reads optimistic; closure recall is the
    // cap-stable statistic.
    Query("q194_lsh_scurve_sampled", (s, dir) => {
      val sample = graft.operators.TextAnalysis.stratifiedSample(
        docsSpread(s, dir).where(col("doc_id") % 5 === 0),
        "lang", "doc_id", Map.empty, defaultRate = ScurveSampleRate)
      val cov = sample.agg(count(lit(1)).as("n_sample_docs")).crossJoin(
        docsSpread(s, dir).where(col("doc_id") % 5 === 0)
          .agg(count(lit(1)).as("n_subset_docs")))
      scurveAudit(sample)
        .crossJoin(broadcast(cov))
        .withColumn("coverage_mills",
          expr("(1000 * n_sample_docs) div n_subset_docs"))
        .orderBy("bucket_lo_hmills")
    }, {
      // the q192 chain verbatim, restricted to the shared md5-threshold
      // sample filter (ground truth, banding AND closure all inside the
      // sample), plus the coverage fraction recomputed independently
      val jm = "floor(1000 * len(list_intersect(a.toks, b.toks)) " +
        "/ (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))))"
      s"""WITH RECURSIVE ${lshPairsCtesWhere(scurveSampleFilter)},
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION
           SELECT id_b AS src, id_a AS dst FROM pairs),
         reach AS (
           SELECT src AS id, src AS comp FROM edges
           UNION
           SELECT e.dst AS id, r.comp FROM reach r
           JOIN edges e ON e.src = r.id),
         cmp AS (SELECT id, min(comp) AS comp FROM reach GROUP BY 1),
         d AS (SELECT doc_id, $sqlTokSet AS toks
               FROM documents WHERE $scurveSampleFilter),
         tr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  CAST($jm AS BIGINT) AS jac_mills
                FROM d a JOIN d b ON a.doc_id < b.doc_id
                WHERE $jm >= $LshAuditMinJac),
         cov AS (SELECT
                  (SELECT count(*) FROM documents
                   WHERE $scurveSampleFilter) AS n_sample_docs,
                  (SELECT count(*) FROM documents
                   WHERE doc_id % 5 = 0) AS n_subset_docs),
         au AS (SELECT tr.jac_mills // 100 AS bucket_lo_hmills,
                  CAST(count(*) AS BIGINT) AS n_true,
                  CAST(sum(CASE WHEN p.id_a IS NOT NULL THEN 1 ELSE 0
                    END) AS BIGINT) AS n_pair,
                  CAST(sum(CASE WHEN ca.comp IS NOT NULL
                    AND ca.comp = cb.comp THEN 1 ELSE 0
                    END) AS BIGINT) AS n_closure
                FROM tr
                LEFT JOIN pairs p
                  ON tr.id_a = p.id_a AND tr.id_b = p.id_b
                LEFT JOIN cmp ca ON tr.id_a = ca.id
                LEFT JOIN cmp cb ON tr.id_b = cb.id
                GROUP BY 1)
         SELECT bucket_lo_hmills, n_true, n_pair, n_closure,
           (1000 * n_pair) // n_true AS recall_pair_mills,
           (1000 * n_closure) // n_true AS recall_closure_mills,
           CAST(cov.n_sample_docs AS BIGINT) AS n_sample_docs,
           CAST(cov.n_subset_docs AS BIGINT) AS n_subset_docs,
           (1000 * cov.n_sample_docs) // cov.n_subset_docs
             AS coverage_mills
         FROM au, cov ORDER BY bucket_lo_hmills"""
    }),

    // Dedup GROUPS: connected components over the q35 pair graph (keep
    // min id per component, drop the rest) — min-label propagation, one
    // equi-shuffle per round, converging in graph-diameter rounds.
    Query("q53_dedup_components", (s, dir) => {
      // (measured: shrinking shuffle partitions for the tiny per-round
      // frames does NOT help here — local[32] amortizes task overhead
      // and the checkpoint writes parallelize; the loop's cost is its
      // irreducible per-round materialization)
      graft.operators.Dedup.connectedComponents(lshPairs(s, dir))
        .select(col("id").as("doc_id"), col("comp").as("component"))
        .orderBy("doc_id")
    },
      // transitive closure by label propagation: every node reaches its
      // whole component through the bidirectional edge list; min over
      // reached labels = canonical component id. Feasible at oracle
      // scale; the engine side does the same by iterated min-shuffles.
      s"""WITH RECURSIVE $lshPairsCtes,
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION
           SELECT id_b AS src, id_a AS dst FROM pairs),
         reach AS (
           SELECT src AS id, src AS comp FROM edges
           UNION
           SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON e.src = r.id)
         SELECT id AS doc_id, min(comp) AS component
         FROM reach GROUP BY id ORDER BY doc_id"""),

    // Near-dedup keeper cut (round 13) — the COMPOSED within-corpus
    // fuzzy-dedup stage `Engine.processCorpus(nearDedup = ...)` runs,
    // oracle-gated end-to-end on the q53 universe: the q35 star-capped
    // banding, exact token-set Jaccard VERIFICATION of every candidate
    // pair at [[NearDedupMinJac]] (Lee et al. 2022 NearDup semantics —
    // q53 closes over raw banding pairs, this closes over verified
    // edges only), the q53 min-label closure, then the q106-style
    // min-id keeper. One row per universe doc: its verified-closure
    // component (own id for singletons) and whether the cut keeps it.
    // The composition is `Dedup.verifiedComponents`, which the facade
    // stage calls too, so processCorpus's near-dedup is oracle-gated
    // through this entry (EngineSpec pins the facade's survivor set).
    Query("q196_near_dedup", (s, dir) => {
      // one scan of the universe computes the token sets and bands,
      // materialized once: the banding, both verify joins and the final
      // universe projection all read it
      val d = graft.operators.Dedup.nearDupFrame(
          docsSpread(s, dir).where(col("doc_id") % 5 === 0), "text", "doc_id")
        .localCheckpoint(true)
      val comps = graft.operators.Dedup.verifiedComponents(
          d, NearDedupMinJac, LshBucketCap)
        .withColumnRenamed("id", "doc_id")
      d.select(col("__id").as("doc_id")).join(comps, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("component"))
        .withColumn("kept", col("component") === col("doc_id"))
        .orderBy("doc_id")
    },
      // q53's closure pattern over the VERIFIED edge set: the q35 pair
      // graph is cut to pairs whose exact token-set Jaccard (q108's
      // list_intersect arithmetic — float division then floor, the
      // engine's exact shape) reaches NearDedupMinJac, then min-label
      // closure + the keeper projection. Universe docs never reached
      // by a verified edge keep their own id (LEFT JOIN + coalesce).
      s"""WITH RECURSIVE $lshPairsCtes,
         ts AS (SELECT doc_id, $sqlTokSet AS tset
                FROM documents WHERE doc_id % 5 = 0),
         verified AS (
           SELECT p.id_a, p.id_b
           FROM pairs p
           JOIN ts x ON p.id_a = x.doc_id
           JOIN ts y ON p.id_b = y.doc_id
           WHERE floor(1000 * len(list_intersect(x.tset, y.tset))
               / (len(x.tset) + len(y.tset)
                  - len(list_intersect(x.tset, y.tset))))
             >= $NearDedupMinJac),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM verified
           UNION
           SELECT id_b AS src, id_a AS dst FROM verified),
         reach AS (
           SELECT src AS id, src AS comp FROM edges
           UNION
           SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON e.src = r.id),
         comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id)
         SELECT d.doc_id,
           CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS component,
           (coalesce(c.component, d.doc_id) = d.doc_id) AS kept
         FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
         LEFT JOIN comp c ON c.id = d.doc_id
         ORDER BY d.doc_id"""),

    // Vocabulary coverage curve — the tokenizer-planning head-mass
    // report: what share of total token MASS the top-k vocabulary
    // covers, at k ∈ CovKs. One counting shuffle (vocab-bounded
    // output), a TakeOrdered top-CovMaxK cut (the q75 shape — each
    // partition ships k rows, no global sort materialization), then
    // rank/cumsum over the BOUNDED top frame against a 1-row
    // broadcast total.
    Query("q150_vocab_coverage", (s, dir) => {
      val tc = docs(s, dir)
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      val total = tc.agg(sum(col("cnt")).as("total"))
      val w = Window.orderBy(col("cnt").desc, col("tok"))
      tc.orderBy(col("cnt").desc, col("tok")).limit(CovMaxK)
        .withColumn("k", row_number().over(w).cast("long"))
        .withColumn("mass", sum(col("cnt"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .where(col("k").isin(CovKs: _*))
        .crossJoin(broadcast(total))
        .select(col("k"), col("mass"),
          expr("(1000 * mass) div total").as("coverage_mills"))
        .orderBy("k")
    },
      // identical rank/cumsum over the full vocab (bounded at oracle
      // scale), cut to the same checkpoints
      s"""WITH tc AS (
           SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM (
             SELECT unnest($tokenListSql) AS tok FROM documents)
           WHERE tok <> '' GROUP BY 1),
         tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM tc),
         r AS (
           SELECT tok, cnt,
             CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS BIGINT)
               AS k,
             sum(cnt) OVER (ORDER BY cnt DESC, tok
               ROWS UNBOUNDED PRECEDING) AS mass
           FROM tc)
         SELECT k, CAST(mass AS BIGINT) AS mass,
           CAST((1000 * mass) // total AS BIGINT) AS coverage_mills
         FROM r CROSS JOIN tot
         WHERE k IN (${CovKs.mkString(", ")}) ORDER BY k"""),

    // Zipf-law fit of the vocabulary (the tokenizer-planning sanity
    // check "is this corpus natural language?"): OLS of log2(freq)
    // against log2(rank) over the top-[[ZipfK]] rank-frequency head —
    // slope ≈ −1000 mills for Zipfian text. Ranks and frequencies go
    // through the EXACT Mitchell log2-millibits kernel (q95/q127's),
    // the fit through the q154 integer OLS algebra in DECIMAL(38,0),
    // so the whole statistic is bit-identical cross-engine with zero
    // float math. One token-count shuffle, a TakeOrdered k-cut, the
    // rank window and all five sums over the BOUNDED top frame;
    // output is one row.
    Query("q156_zipf_fit", (s, dir) => {
      val wr = Window.orderBy(col("cnt").desc, col("tok"))
      val pts = tokStream(s, dir)
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(ZipfK)
        .withColumn("rk", row_number().over(wr).cast("long"))
        .select(TextFunctions.log2Mills(col("rk")).as("x"),
          TextFunctions.log2Mills(col("cnt")).as("y"))
      pts
        .agg(count(lit(1)).as("k_fit"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .where(col("k_fit") >= 2)
        .select(col("k_fit"),
          expr("""CAST(((CAST(k_fit AS DECIMAL(38,0)) * sxy
                    - CAST(sx AS DECIMAL(38,0)) * sy) * 1000)
                  div (CAST(k_fit AS DECIMAL(38,0)) * sxx
                    - CAST(sx AS DECIMAL(38,0)) * sx) AS LONG)""")
            .as("zipf_slope_mills"),
          expr("""CASE WHEN CAST(k_fit AS DECIMAL(38,0)) * syy
                    - CAST(sy AS DECIMAL(38,0)) * sy = 0
              THEN 1000
              ELSE CAST(((CAST(k_fit AS DECIMAL(38,0)) * sxy
                    - CAST(sx AS DECIMAL(38,0)) * sy)
                  * (CAST(k_fit AS DECIMAL(38,0)) * sxy
                    - CAST(sx AS DECIMAL(38,0)) * sy) * 1000)
                div ((CAST(k_fit AS DECIMAL(38,0)) * sxx
                    - CAST(sx AS DECIMAL(38,0)) * sx)
                  * (CAST(k_fit AS DECIMAL(38,0)) * syy
                    - CAST(sy AS DECIMAL(38,0)) * sy))
                AS LONG) END""").as("r2_mills"))
    }, {
      // the shared Mitchell twin on rank and count + the q154 OLS
      // algebra in HUGEINT — zero float math on either side
      def mitchell(x: String) =
        s"""(1000 * (length(printf('%b', $x)) - 1)
           + (1000 * ($x - (CAST(1 AS BIGINT)
               << CAST(length(printf('%b', $x)) - 1 AS INT))))
             // (CAST(1 AS BIGINT)
               << CAST(length(printf('%b', $x)) - 1 AS INT)))"""
      s"""WITH tc AS (
           SELECT tok, CAST(count(*) AS BIGINT) AS cnt
           FROM $sqlTokRows WHERE tok <> '' GROUP BY tok),
         top AS (
           SELECT cnt,
             CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS BIGINT)
               AS rk
           FROM tc ORDER BY cnt DESC, tok LIMIT $ZipfK),
         pts AS (
           SELECT CAST(${mitchell("rk")} AS BIGINT) AS x,
             CAST(${mitchell("cnt")} AS BIGINT) AS y
           FROM top),
         a AS (
           SELECT CAST(count(*) AS BIGINT) AS k_fit,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
           FROM pts HAVING count(*) >= 2)
         SELECT k_fit,
           CAST(((CAST(k_fit AS HUGEINT) * sxy
                 - CAST(sx AS HUGEINT) * sy) * 1000)
             // (CAST(k_fit AS HUGEINT) * sxx
                 - CAST(sx AS HUGEINT) * sx) AS BIGINT)
             AS zipf_slope_mills,
           CASE WHEN CAST(k_fit AS HUGEINT) * syy
                 - CAST(sy AS HUGEINT) * sy = 0
             THEN 1000
             ELSE CAST(((CAST(k_fit AS HUGEINT) * sxy
                   - CAST(sx AS HUGEINT) * sy)
                 * (CAST(k_fit AS HUGEINT) * sxy
                   - CAST(sx AS HUGEINT) * sy) * 1000)
               // ((CAST(k_fit AS HUGEINT) * sxx
                   - CAST(sx AS HUGEINT) * sx)
                 * (CAST(k_fit AS HUGEINT) * syy
                   - CAST(sy AS HUGEINT) * sy)) AS BIGINT)
             END AS r2_mills
         FROM a"""
    }),

    // Vocabulary-growth curve (the Heaps-law companion to q156's Zipf
    // fit — how fast does the corpus keep minting NEW phrases?): each
    // word BIGRAM is attributed to the decile of the corpus where it
    // FIRST appears (min doc_id through one gram-keyed agg), then
    // rolled to new grams per decile with the running vocabulary
    // size. Flat new-gram mass across deciles screams template/
    // duplicated content; natural text decays. Bigrams, not unigrams,
    // so the curve BINDS on the fixtures (the ~31-token unigram vocab
    // saturates in decile 0). One corpus gram scan + one gram-keyed
    // agg; the decile bounds ride a 1-row min/max broadcast and the
    // cumsum rides the ≤ 10-row frame.
    Query("q158_vocab_growth", (s, dir) => {
      val firstSeen = docs(s, dir)
        .select(col("doc_id"),
          explode(TextFunctions.wordNGrams(lower(col("text")), 2)).as("g"))
        .groupBy("g").agg(min(col("doc_id")).as("first_doc"))
      val bounds = docs(s, dir)
        .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      val wb = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
      firstSeen.crossJoin(broadcast(bounds))
        .withColumn("bucket", least(lit(9L),
          expr("((first_doc - mn) * 10) div (mx - mn + 1)")))
        .groupBy("bucket").agg(count(lit(1)).as("n_new_grams"))
        .withColumn("cum_vocab", sum(col("n_new_grams")).over(wb))
        .orderBy("bucket")
    },
      // same first-seen attribution + decile arithmetic on the SAME
      // lowered bigram constructor; the min/max subquery twins the
      // 1-row broadcast
      s"""WITH dt AS (
           SELECT doc_id,
             list_filter(string_split(regexp_replace(lower(trim(text)),
               '\\s+', ' ', 'g'), ' '), t -> t <> '') AS l
           FROM documents),
         fs AS (
           SELECT g, CAST(min(doc_id) AS BIGINT) AS first_doc
           FROM (SELECT doc_id, unnest($wordBigramsAllSql) AS g FROM dt)
           GROUP BY g),
         b AS (
           SELECT CAST(min(doc_id) AS BIGINT) AS mn,
             CAST(max(doc_id) AS BIGINT) AS mx
           FROM documents),
         d AS (
           SELECT least(9, ((first_doc - mn) * 10) // (mx - mn + 1))
               AS bucket
           FROM fs CROSS JOIN b)
         SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_new_grams,
           CAST(sum(count(*)) OVER (ORDER BY bucket
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
         FROM d GROUP BY bucket ORDER BY bucket"""),

    // CMS join-size estimation (Cormode & Muthukrishnan §4.2) — the
    // sketch a cost-based optimizer consults BEFORE running an
    // equi-join: |A ⋈ B| = Σ_t fA(t)·fB(t) estimated from the two
    // sides' Count-Min sketches as min_r Σ_w cA[r][w]·cB[r][w]. The
    // two sides are the doc_id-parity halves' token histograms (one
    // pinned vocab-bounded agg off a SINGLE corpus scan); each sketch
    // is a weighted (row,bucket) rollup of the histogram, the inner
    // product a (row,bucket) equi-join of two ≤ depth×width tables —
    // at 100 TB the estimate costs one corpus scan and sketch-sized
    // joins, never the join itself. The exact Σ fA·fB
    // (what the estimate predicts) rides two vocab-bounded hash aggs.
    // Guarantees, recomputed by the oracle with identical arithmetic
    // rather than pinned: est >= exact always (collisions only add);
    // est <= exact + ceil((e/w)·N_a·N_b) w.p. 1 − e^-depth, N_a/N_b
    // read from the sketches' own row-0 totals (no extra scan), the
    // N_a·N_b product in DECIMAL(38,0)/HUGEINT (overflows int64 at
    // ~3e9 tokens per side).
    Query("q162_cms_joinsize", (s, dir) => {
      import graft.operators.CountMin
      // ONE corpus scan: the per-side token histogram (vocab-bounded)
      // is pinned, then BOTH sketches (weighted build — bit-identical
      // to occurrence-stream sketching) and the exact inner product
      // ride the histogram. The old shape re-scanned the corpus per
      // sketch AND per exact agg — four scans for a two-scan claim.
      val tokCounts = docsSpread(s, dir)
        .select(pmod(col("doc_id"), lit(2)).as("side"),
          explode(TextFunctions.tokens(lower(col("text")))).as("tok"))
        .groupBy("side", "tok").agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true)
      val a = tokCounts.where(col("side") === 0).select("tok", "cnt")
      val b = tokCounts.where(col("side") === 1).select("tok", "cnt")
      val skA = CountMin.sketchWeighted(a, "tok", "cnt", CmsDepth, CmsWidth)
      val skB = CountMin.sketchWeighted(b, "tok", "cnt", CmsDepth, CmsWidth)
      val est = CountMin.joinSizeEstimate(skA, skB, CmsDepth)
      val exact = a.select(col("tok"), col("cnt").as("ca"))
        .join(b.select(col("tok"), col("cnt").as("cb")), "tok")
        .agg(coalesce(sum(expr("CAST(ca AS DECIMAL(38,0)) * cb")),
          lit(0).cast("decimal(38,0)")).cast("long").as("exact_join"))
      val totals = skA.where(col("row") === 0).agg(sum("cnt").as("n_a"))
        .crossJoin(broadcast(
          skB.where(col("row") === 0).agg(sum("cnt").as("n_b"))))
      val den = CountMin.EpsDen * CmsWidth
      est.crossJoin(broadcast(exact)).crossJoin(broadcast(totals))
        .withColumn("eps_bound",
          expr(s"""CAST((CAST(${CountMin.EpsNum} AS DECIMAL(38,0))
                   * n_a * n_b + ${den - 1}) div $den AS BIGINT)"""))
        .withColumn("ge_exact", col("est_join") >= col("exact_join"))
        .withColumn("within_eps",
          col("est_join") <= col("exact_join") + col("eps_bound"))
        .select("n_a", "n_b", "exact_join", "est_join", "eps_bound",
          "ge_exact", "within_eps")
    },
      // full bit-for-bit recompute of BOTH sketches, the min-row inner
      // product (densified over all depth rows), the exact Σ fA·fB and
      // both guarantee flags via the shared sqlCmsBucket contract —
      // the flags are RECOMPUTED with the engine's own arithmetic
      // (q84's fixture-sensitivity note applied), so parity never
      // depends on the probabilistic bound holding
      s"""WITH tokrows AS (
            SELECT side, tok FROM $sqlTokRowsSided WHERE tok <> ''),
          rows_d AS (SELECT CAST(unnest(range($CmsDepth)) AS INT) AS r),
          ska AS (
            SELECT r, ${sqlCmsBucket("tok", "r")} AS bucket,
              CAST(count(*) AS BIGINT) AS cnt
            FROM tokrows, rows_d WHERE side = 0 GROUP BY 1, 2),
          skb AS (
            SELECT r, ${sqlCmsBucket("tok", "r")} AS bucket,
              CAST(count(*) AS BIGINT) AS cnt
            FROM tokrows, rows_d WHERE side = 1 GROUP BY 1, 2),
          prod AS (
            SELECT a.r AS r, sum(CAST(a.cnt AS HUGEINT) * b.cnt) AS ip
            FROM ska a JOIN skb b ON a.r = b.r AND a.bucket = b.bucket
            GROUP BY 1),
          est AS (
            SELECT CAST(least(min(coalesce(prod.ip, 0)),
                CAST(9223372036854775807 AS HUGEINT)) AS BIGINT) AS est_join
            FROM rows_d LEFT JOIN prod ON rows_d.r = prod.r),
          ex AS (
            SELECT CAST(coalesce(sum(CAST(x.ca AS HUGEINT) * y.cb), 0)
              AS BIGINT) AS exact_join
            FROM (SELECT tok, count(*) AS ca FROM tokrows
                  WHERE side = 0 GROUP BY 1) x
            JOIN (SELECT tok, count(*) AS cb FROM tokrows
                  WHERE side = 1 GROUP BY 1) y USING (tok)),
          tot AS (
            SELECT
              (SELECT CAST(count(*) AS BIGINT) FROM tokrows WHERE side = 0)
                AS n_a,
              (SELECT CAST(count(*) AS BIGINT) FROM tokrows WHERE side = 1)
                AS n_b),
          sel AS (
            SELECT n_a, n_b, exact_join, est_join,
              CAST((${graft.operators.CountMin.EpsNum}
                    * CAST(n_a AS HUGEINT) * n_b
                    + ${graft.operators.CountMin.EpsDen * CmsWidth - 1})
                   // ${graft.operators.CountMin.EpsDen * CmsWidth}
                AS BIGINT) AS eps_bound
            FROM est, ex, tot)
          SELECT n_a, n_b, exact_join, est_join, eps_bound,
            est_join >= exact_join AS ge_exact,
            est_join <= exact_join + eps_bound AS within_eps
          FROM sel"""),

    // Duplication-mass report — the "how much of my corpus is
    // duplicated" summary every dedup run ends with: the q53
    // components rolled to a cluster-size histogram (size → clusters,
    // docs, removable dup docs). Two bounded hash aggs on top of the
    // gated components operator; output bounded by the largest
    // cluster size.
    Query("q146_dedup_mass", (s, dir) =>
      graft.operators.Dedup.connectedComponents(lshPairs(s, dir))
        .groupBy(col("comp")).agg(count(lit(1)).as("__sz"))
        .groupBy(col("__sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
        .withColumn("n_dup_docs",
          (col("cluster_size") - 1L) * col("n_clusters"))
        .orderBy("cluster_size"),
      // the SAME transitive-closure chain, rolled to the size histogram
      s"""WITH RECURSIVE $lshPairsCtes,
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION
           SELECT id_b AS src, id_a AS dst FROM pairs),
         reach AS (
           SELECT src AS id, src AS comp FROM edges
           UNION
           SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON e.src = r.id),
         comps AS (
           SELECT id, min(comp) AS comp FROM reach GROUP BY id),
         sz AS (
           SELECT comp, CAST(count(*) AS BIGINT) AS cluster_size
           FROM comps GROUP BY comp)
         SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
           cluster_size * CAST(count(*) AS BIGINT) AS n_docs,
           (cluster_size - 1) * CAST(count(*) AS BIGINT) AS n_dup_docs
         FROM sz GROUP BY cluster_size ORDER BY cluster_size"""),

    // Token-set Jaccard near-dup pairs within the `source` block, found
    // by a PPJoin-style prefix-filtered shingle join (Bayardo et al.
    // 2007, "Scaling Up All Pairs Similarity Search"; Chaudhuri et al.
    // 2006, SSJoin): a pair with J >= 0.6 must share one of each side's
    // (|x| - ceil(0.6|x|) + 1) globally-RAREST shingles, so candidates
    // come from an equi-join on prefix shingles + the block key — work
    // tracks rare-shingle collision mass, never the block×block pair
    // space — then exact sorted-array verification on candidates only.
    // Row-identical to the naive all-pairs formulation (the oracle) by
    // the prefix-filter theorem.
    Query("q36_jaccard_pairs", (s, dir) =>
      graft.operators.Dedup.jaccardPairs(
        docsSpread(s, dir).where(col("doc_id") % 3 === 0),
        "text", "doc_id", minJaccardMills = 600, blockCols = Seq("source"))
        .orderBy("id_a", "id_b"),
      s"""WITH d AS (
           SELECT doc_id, source, $sqlTokSet AS toks
           FROM documents WHERE doc_id % 3 = 0)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(floor(1000 * len(list_intersect(a.toks, b.toks))
             / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))) AS BIGINT) AS jac_mills
         FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
         WHERE floor(1000 * len(list_intersect(a.toks, b.toks))
             / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))) >= 600
         ORDER BY id_a, id_b"""),

    // Deterministic stratified sampling (corpus mixture): per-lang keep
    // rates via an md5 threshold — no RNG, reproducible in any engine,
    // filter pushes to the scan. Summarized per stratum so the gate
    // checks both membership determinism and the aggregate counts.
    Query("q70_stratified_sample", (s, dir) =>
      graft.operators.TextAnalysis.stratifiedSample(
        docs(s, dir), "lang", "doc_id", SampleRates, defaultRate = 0.25)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          min(col("doc_id")).as("min_id"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy("lang"), {
      // thresholds generated FROM SampleRates — oracle and operator
      // share one rate table (and one threshold arithmetic)
      def th(r: Double) = (r * 4294967296.0).toLong
      val whens = SampleRates.toSeq.sortBy(_._1)
        .map { case (l, r) => s"WHEN '$l' THEN ${th(r)}" }.mkString(" ")
      s"""SELECT lang, count(*) AS n_kept, min(doc_id) AS min_id,
         CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM documents
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           < CASE lang $whens ELSE ${th(0.25)} END
         GROUP BY lang ORDER BY lang"""
    }),

    // Sequence packing (concat-then-chunk): docs per source shard in
    // doc_id order, 512-token budget; each doc lands in the chunk where
    // it starts. Partitioned cumsum — no global sort (the 100 TB shape).
    Query("q69_sequence_pack", (s, dir) =>
      graft.operators.TextAnalysis.packSequences(
        docs(s, dir), "text", "doc_id", "source", budgetTokens = PackBudget)
        .orderBy("doc_id"),
      s"""WITH t AS (
           SELECT source, doc_id, CAST($sqlTokenCount AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY source
             ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) AS cum_before
           FROM t)
         SELECT source, doc_id, n_tokens,
           CAST(floor(cum_before / $PackBudget) AS BIGINT) AS seq_no,
           CAST(cum_before % $PackBudget AS BIGINT) AS seq_offset
         FROM c ORDER BY doc_id"""),

    // Packing QA rollup over q69's operator: per shard, the sequence
    // count the token stream actually needs (integer ceil), the fill
    // ratio in mills, and how many sequences carry a doc start —
    // the utilization metrics a training-batch pipeline reports.
    // Bounded agg over the packing output; no extra corpus pass.
    Query("q93_pack_stats", (s, dir) =>
      graft.operators.TextAnalysis.packSequences(
          docs(s, dir), "text", "doc_id", "source", budgetTokens = PackBudget)
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          expr(s"(sum(n_tokens) + ${PackBudget - 1}) div $PackBudget")
            .as("n_seqs"),
          countDistinct("seq_no").as("n_start_seqs"),
          max("n_tokens").as("max_doc_tokens"))
        // zero-token shard => n_seqs 0; guard the 0/0 (Spark floors
        // NaN to 0, DuckDB errors — the one place the engines differ)
        .withColumn("fill_mills",
          when(col("n_seqs") === 0, 0L)
            .otherwise(floor(lit(1000) * col("total_tokens")
              / (col("n_seqs") * PackBudget)))
            .cast("long"))
        .orderBy("source"),
      // same packing CTE as q69, rolled up: integer-ceil sequence
      // count, same-double-division fill mills (zero-token shards
      // guarded — DuckDB would error on the 0/0), distinct start chunks
      s"""WITH t AS (
           SELECT source, doc_id, CAST($sqlTokenCount AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY source
             ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) AS cum_before
           FROM t),
         g AS (
           SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             CAST((sum(n_tokens) + ${PackBudget - 1}) // $PackBudget
               AS BIGINT) AS n_seqs,
             CAST(count(DISTINCT CAST(floor(cum_before / $PackBudget)
               AS BIGINT)) AS BIGINT) AS n_start_seqs,
             CAST(max(n_tokens) AS BIGINT) AS max_doc_tokens
           FROM c GROUP BY source)
         SELECT source, n_docs, total_tokens, n_seqs, n_start_seqs,
           max_doc_tokens,
           CASE WHEN n_seqs = 0 THEN 0 ELSE
             CAST(floor(CAST(1000 AS DOUBLE) * total_tokens
               / (n_seqs * $PackBudget)) AS BIGINT) END AS fill_mills
         FROM g ORDER BY source"""),

    // The BINDING star-cap variant of q36 on a deliberately degenerate
    // corpus: every doc_id ≡ 3 (mod 21) carries identical boilerplate,
    // so its prefix-shingle buckets blow past `maxCandBucket` and the
    // capped kernel emits the closure-equivalent star instead of the
    // O(N²) clique. The DuckDB twin replicates the capped PPJoin
    // (global-df prefix + bucket star-reduction) exactly, so the cap
    // semantics — not just the happy path — are hash-gated.
    Query("q68_capped_jaccard", (s, dir) => {
      val d = docsSpread(s, dir).where(col("doc_id") % 7 === 3)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, lit("mass duplicated boilerplate row"))
            .otherwise(col("text")).as("text"))
      graft.operators.Dedup.jaccardPairs(d, "text", "doc_id",
        minJaccardMills = 600, maxCandBucket = CappedJaccardBucket)
        .orderBy("id_a", "id_b")
    }, {
      // full replica of the CAPPED PPJoin: global-df-ordered prefix
      // (identical ceil arithmetic to Dedup.jaccardPairs), per-shingle
      // bucket star-reduction at CappedJaccardBucket, then exact
      // verification — so the star semantics are what's hash-gated.
      val jm = "floor(1000 * len(list_intersect(a.toks, b.toks)) " +
        "/ (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))))"
      s"""WITH d0 AS (
           SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'mass duplicated boilerplate row'
                  ELSE text END AS text
           FROM documents WHERE doc_id % 7 = 3),
         d AS (SELECT doc_id, $sqlTokSet AS toks FROM d0),
         tk AS (SELECT doc_id, unnest(toks) AS shingle FROM d),
         dfreq AS (SELECT shingle, count(*) AS gdf FROM tk GROUP BY shingle),
         pre AS (
           SELECT doc_id, shingle FROM (
             SELECT t.doc_id, t.shingle,
               row_number() OVER (PARTITION BY t.doc_id
                 ORDER BY f.gdf, t.shingle) AS rnk,
               count(*) OVER (PARTITION BY t.doc_id) AS sz
             FROM tk t JOIN dfreq f USING (shingle))
           WHERE rnk <= sz - ceil(sz * 600 / 1000.0) + 1),
         bkt AS (SELECT shingle, count(*) AS bsz, min(doc_id) AS bmin
                 FROM pre GROUP BY shingle),
         cand AS (
           SELECT DISTINCT id_a, id_b FROM (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b
             FROM pre a JOIN pre b USING (shingle) JOIN bkt USING (shingle)
             WHERE bsz <= $CappedJaccardBucket AND a.doc_id < b.doc_id
             UNION ALL
             SELECT bmin AS id_a, doc_id AS id_b
             FROM pre JOIN bkt USING (shingle)
             WHERE bsz > $CappedJaccardBucket AND doc_id <> bmin))
         SELECT c.id_a, c.id_b, CAST($jm AS BIGINT) AS jac_mills
         FROM cand c JOIN d a ON c.id_a = a.doc_id
                     JOIN d b ON c.id_b = b.doc_id
         WHERE $jm >= 600
         ORDER BY id_a, id_b"""
    }),

    // Gopher/C4-style repetition quality filter: most-frequent-bigram
    // share + repeated-trigram mass per document (word-level, with
    // multiplicity — the standard pretraining-data repetition signals).
    Query("q65_repetition_stats", (s, dir) =>
      graft.operators.TextAnalysis.repetitionStats(
        docsSpread(s, dir), "text", "doc_id")
        .orderBy("doc_id"), {
      val triAllSql =
        "[l[CAST(i AS INT)] || ' ' || l[CAST(i + 1 AS INT)] || ' ' || l[CAST(i + 2 AS INT)] FOR i IN range(1, len(l) - 1)]"
      s"""WITH t AS (
           SELECT doc_id, $tokenListSql AS l FROM documents
           WHERE text IS NOT NULL),
         eligible AS (SELECT * FROM t WHERE len(l) >= 3),
         b AS (
           SELECT doc_id,
             CAST(floor(1000 * max(c) / sum(c)) AS BIGINT) AS top_bigram_share_mills
           FROM (SELECT doc_id, g, count(*) AS c
                 FROM (SELECT doc_id, unnest($wordBigramsAllSql) AS g FROM eligible) u
                 GROUP BY doc_id, g) gc
           GROUP BY doc_id),
         tr AS (
           SELECT doc_id,
             CAST(floor(1000 * sum(CASE WHEN c > 1 THEN c ELSE 0 END) / sum(c)) AS BIGINT)
               AS dup_trigram_mills
           FROM (SELECT doc_id, g, count(*) AS c
                 FROM (SELECT doc_id, unnest($triAllSql) AS g FROM eligible) u
                 GROUP BY doc_id, g) gc
           GROUP BY doc_id)
         SELECT b.doc_id, top_bigram_share_mills, dup_trigram_mills,
           (top_bigram_share_mills < ${graft.operators.TextAnalysis.MaxTopBigramShareMills}
            AND dup_trigram_mills < ${graft.operators.TextAnalysis.MaxDupTrigramMills})
             AS repetition_ok
         FROM b JOIN tr USING (doc_id) ORDER BY doc_id"""
    }),

    // Word-bigram (2-gram shingle) Jaccard near-dup — the order-aware
    // n-gram variant of q36 (unigram sets ignore token order; bigrams
    // catch shared phrasing). The 0.06 threshold defeats prefix
    // filtering (the prefix would be ~94% of each set), so this uses
    // the shared-shingle COUNTING join (MMDS ch.3): explode distinct
    // bigrams, equi-join on (bigram, block), count collisions per pair
    // = |A∩B| exactly, then a sizes join for the Jaccard denominator.
    // Work tracks bigram collision mass (per-source bigram df maxes at
    // 28 on this corpus — no hot key); the block×block pair space is
    // never formed. Row-identical to the naive all-pairs oracle.
    Query("q47_bigram_jaccard", (s, dir) => {
      val d = docsSpread(s, dir).where(col("doc_id") % 4 === 1)
        .select(col("doc_id"), col("source"), wordBigrams.as("sh"))
      val sizes = d.select(col("doc_id"), size(col("sh")).as("ns"))
      val ex = d.select(col("doc_id"), col("source"), explode(col("sh")).as("shg"))
      val common = ex.as("a").join(ex.as("b"), Seq("shg", "source"))
        .where(col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("common"))
      common
        .join(sizes.select(col("doc_id").as("id_a"), col("ns").as("na")), "id_a")
        .join(sizes.select(col("doc_id").as("id_b"), col("ns").as("nb")), "id_b")
        .withColumn("jac_mills", graft.operators.Dedup.jaccardMills(
          col("common"), col("na"), col("nb")))
        .where(col("jac_mills") >= 60)
        .select("id_a", "id_b", "jac_mills")
        .orderBy("id_a", "id_b")
    },
      s"""WITH t AS (
           SELECT doc_id, source, $tokenListSql AS l
           FROM documents WHERE doc_id % 4 = 1),
         d AS (
           SELECT doc_id, source, list_sort($wordBigramsSql) AS sh
           FROM t)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(floor(1000 * len(list_intersect(a.sh, b.sh))
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) AS BIGINT) AS jac_mills
         FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
         WHERE floor(1000 * len(list_intersect(a.sh, b.sh))
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) >= 60
         ORDER BY id_a, id_b"""),

    // C4/RefinedWeb-style corpus-level line dedup (boilerplate removal):
    // lines in more than LineDedupMaxDf distinct docs are dropped from
    // every doc. The fixture is single-line, so the gate synthesizes a
    // 3-line corpus (content + shared footer + unique marker) from
    // doc_id — see lineDedupText. Hashed on the rebuilt clean text.
    Query("q72_line_dedup", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), lineDedupText.as("text"))
      graft.operators.TextAnalysis.dedupLines(d, "text", "doc_id", LineDedupMaxDf)
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          md5(col("clean_text")).as("clean_key"))
        .orderBy("doc_id")
    },
      s"""WITH base AS (
           SELECT doc_id,
             text || chr(10) || 'shared footer variant ' || CAST(doc_id % 4 AS VARCHAR)
                  || chr(10) || 'doc marker ' || CAST(doc_id AS VARCHAR) AS t2
           FROM documents),
         lx AS (SELECT doc_id, string_split(t2, chr(10)) AS l FROM base),
         flat AS (
           SELECT doc_id, CAST(struct_extract(s, 'i') AS BIGINT) AS line_no,
             struct_extract(s, 'ln') AS line
           FROM (SELECT doc_id,
               unnest([{'i': i, 'ln': l[CAST(i AS INT)]} FOR i IN range(1, len(l) + 1)]) AS s
             FROM lx)),
         freq AS (
           SELECT md5(trim(line)) AS lk, count(DISTINCT doc_id) AS ndocs
           FROM flat WHERE trim(line) <> '' GROUP BY 1),
         kept AS (
           SELECT f.doc_id, f.line_no, f.line
           FROM flat f LEFT JOIN freq ON md5(trim(f.line)) = freq.lk
           WHERE freq.ndocs IS NULL OR freq.ndocs <= $LineDedupMaxDf),
         reb AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             md5(string_agg(line, chr(10) ORDER BY line_no)) AS ck
           FROM kept GROUP BY doc_id)
         SELECT b.doc_id, CAST(len(string_split(b.t2, chr(10))) AS BIGINT) AS n_lines,
           coalesce(r.n_kept, 0) AS n_kept, coalesce(r.ck, md5('')) AS clean_key
         FROM base b LEFT JOIN reb r USING (doc_id) ORDER BY b.doc_id"""),

    // PII scrub (emails -> IPv4 -> phone runs, in that order) with the
    // per-class replacement counts; gated on the scrubbed-text digest.
    // Patterns interpolate from TextFunctions (RE2-safe, codegen'd).
    // Cross-source overlap matrix (WIMBD-style corpus analytics) on
    // the OPENING-PASSAGE key (md5 of the first 8 lowercased tokens —
    // the shared-boilerplate/syndication signal; the exact content key
    // crosses sources only at the largest SF): distinct (source, key),
    // per-key sorted source set (bounded by |sources|), ordered pairs
    // generated array-side — never a key self-join, so a viral key
    // costs |sources|² pair rows, not occurrence². The oracle is the
    // NAIVE key self-join: parity proves the pair generation lossless.
    Query("q129_source_overlap", (s, dir) => {
      val ks = docsSpread(s, dir)
        .select(col("source"),
          md5(array_join(slice(
            graft.functions.TextFunctions.tokens(lower(col("text"))),
            1, 8), " ")).as("k"))
        .distinct()
      val bySrc = ks.groupBy("k")
        .agg(sort_array(collect_set(col("source"))).as("srcs"))
      bySrc
        .select(explode(flatten(transform(col("srcs"), (a, i) =>
          transform(slice(col("srcs"), i + lit(2), size(col("srcs"))),
            b => struct(a.as("source_a"), b.as("source_b"))))))
          .as("p"))
        .select(col("p.source_a"), col("p.source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_shared_keys"))
        .orderBy("source_a", "source_b")
    },
      // the naive key self-join twin — parity proves the bounded
      // array-side pair generation lossless and duplicate-free
      """WITH ks AS (
           SELECT DISTINCT source,
             md5(array_to_string(
               (list_filter(string_split(regexp_replace(trim(lower(text)),
                  '\s+', ' ', 'g'), ' '), t -> t <> ''))[1:8], ' ')) AS k
           FROM documents)
         SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared_keys
         FROM ks a JOIN ks b ON a.k = b.k AND a.source < b.source
         GROUP BY 1, 2 ORDER BY 1, 2"""),
    // Jensen–Shannon divergence between source token distributions
    // (Lin 1991 — the symmetric, bounded corpus-comparison measure a
    // mixture designer reads before blending sources): JSD(P,Q) =
    // ½KL(P‖M) + ½KL(Q‖M), M = ½(P+Q), in EXACT integer millibits via
    // the shared Mitchell log2 kernel (q95/q102/q127's). Per shared
    // token, log2(p/m) = L(2·ca·Nb) − L(ca·Nb + cb·Na) on integer
    // args; tokens private to one source contribute EXACTLY 1000·cnt
    // (L(2u) = L(u) + 1000 is exact in Mitchell), so the one-sided
    // mass needs no outer join — it's the closed-form correction
    // 1000·(N − Σ_shared c). Pair generation is the q129 array-side
    // pattern: ONE token-keyed hash agg collects the ≤|sources|
    // per-token count list, pairs explode bounded by sources²; the
    // 20-row totals broadcast. Sums ride DECIMAL(38,0)/HUGEINT with
    // sign-split division; int64 bounds the L args at Na·Nb < 2⁶³
    // (≈3·10⁹ tokens/source — rescale counts past that, the DSIR
    // precedent). Pairs sharing zero vocabulary are absent by
    // construction (their JSD is exactly 1 bit). The oracle is the
    // naive token self-join twin — parity proves the array-side
    // generation lossless.
    Query("q188_source_jsd", (s, dir) => {
      val tc = docsSpread(s, dir)
        .select(col("source"),
          explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
        // the (source, tok) count table feeds BOTH the totals and the
        // pair generation — checkpoint it (the q153 doubly-referenced
        // rule) or the corpus scans and token-shuffles twice; it's the
        // aggregated unigram table, vocab·|sources|-sized, far smaller
        // than the corpus it summarizes
        .localCheckpoint(true)
      val totals = tc.groupBy("source").agg(sum(col("cnt")).as("n"))
      val pairs = tc.groupBy("tok")
        .agg(sort_array(collect_list(struct(col("source"), col("cnt"))))
          .as("sc"))
        .select(explode(flatten(transform(col("sc"), (a, i) =>
          transform(slice(col("sc"), i + lit(2), size(col("sc"))),
            b => struct(a.getField("source").as("source_a"),
              b.getField("source").as("source_b"),
              a.getField("cnt").as("ca"), b.getField("cnt").as("cb"))))))
          .as("p"))
        .select(col("p.source_a"), col("p.source_b"),
          col("p.ca"), col("p.cb"))
      val mArg = col("ca") * col("nb") + col("cb") * col("na")
      val dLa = TextFunctions.log2Mills(lit(2L) * col("ca") * col("nb")) -
        TextFunctions.log2Mills(mArg)
      val dLb = TextFunctions.log2Mills(lit(2L) * col("cb") * col("na")) -
        TextFunctions.log2Mills(mArg)
      def signDiv(x: String, d: String) = expr(
        s"""CASE WHEN $x >= 0 THEN CAST(($x) div ($d) AS BIGINT)
            ELSE -CAST((-($x)) div ($d) AS BIGINT) END""")
      pairs
        .join(broadcast(totals.select(col("source").as("source_a"),
          col("n").as("na"))), Seq("source_a"))
        .join(broadcast(totals.select(col("source").as("source_b"),
          col("n").as("nb"))), Seq("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_shared_toks"),
          sum(col("ca")).as("sca"), sum(col("cb")).as("scb"),
          sum((col("ca") * dLa).cast("decimal(38,0)")).as("da"),
          sum((col("cb") * dLb).cast("decimal(38,0)")).as("db"),
          max(col("na")).as("na"), max(col("nb")).as("nb"))
        .withColumn("sum_a",
          expr("da + CAST(1000 AS DECIMAL(38,0)) * (na - sca)"))
        .withColumn("sum_b",
          expr("db + CAST(1000 AS DECIMAL(38,0)) * (nb - scb)"))
        .select(col("source_a"), col("source_b"), col("n_shared_toks"),
          signDiv("sum_a", "na").as("kl_a_mills"),
          signDiv("sum_b", "nb").as("kl_b_mills"),
          signDiv("sum_a * nb + sum_b * na",
            "2 * CAST(na AS DECIMAL(38,0)) * nb").as("jsd_mills"))
        .orderBy("source_a", "source_b")
    }, {
      // the naive token self-join twin of the array-side pair
      // generation; the IDENTICAL Mitchell algebra on integer args,
      // HUGEINT sums, the same closed-form one-sided correction and
      // sign-split divisions
      def mitchell(x: String) =
        s"""(1000 * (length(printf('%b', $x)) - 1)
           + (1000 * (($x) - (CAST(1 AS BIGINT)
               << CAST(length(printf('%b', $x)) - 1 AS INT))))
             // (CAST(1 AS BIGINT)
               << CAST(length(printf('%b', $x)) - 1 AS INT)))"""
      def signDiv(x: String, d: String) =
        s"""CASE WHEN $x >= 0 THEN CAST(($x) // ($d) AS BIGINT)
            ELSE -CAST((-($x)) // ($d) AS BIGINT) END"""
      s"""WITH dt AS (
           SELECT source, unnest($tokenListSql) AS tok FROM documents),
         tc AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
                FROM dt WHERE tok <> '' GROUP BY 1, 2),
         tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n
                 FROM tc GROUP BY 1),
         pr AS (SELECT a.source AS source_a, b.source AS source_b,
                  a.cnt AS ca, b.cnt AS cb
                FROM tc a JOIN tc b
                  ON a.tok = b.tok AND a.source < b.source),
         wt AS (SELECT pr.*, ta.n AS na, tb.n AS nb FROM pr
                JOIN tot ta ON pr.source_a = ta.source
                JOIN tot tb ON pr.source_b = tb.source),
         ag AS (SELECT source_a, source_b,
                  CAST(count(*) AS BIGINT) AS n_shared_toks,
                  CAST(sum(ca) AS BIGINT) AS sca,
                  CAST(sum(cb) AS BIGINT) AS scb,
                  sum(CAST(ca AS HUGEINT) * (${mitchell("2*ca*nb")}
                    - ${mitchell("ca*nb + cb*na")})) AS da,
                  sum(CAST(cb AS HUGEINT) * (${mitchell("2*cb*na")}
                    - ${mitchell("ca*nb + cb*na")})) AS db,
                  max(na) AS na, max(nb) AS nb
                FROM wt GROUP BY 1, 2),
         fin AS (SELECT source_a, source_b, n_shared_toks, na, nb,
                   da + CAST(1000 AS HUGEINT) * (na - sca) AS sum_a,
                   db + CAST(1000 AS HUGEINT) * (nb - scb) AS sum_b
                 FROM ag)
         SELECT source_a, source_b, n_shared_toks,
           ${signDiv("sum_a", "na")} AS kl_a_mills,
           ${signDiv("sum_b", "nb")} AS kl_b_mills,
           ${signDiv("sum_a * nb + sum_b * na",
             "2 * CAST(na AS HUGEINT) * nb")} AS jsd_mills
         FROM fin ORDER BY source_a, source_b"""
    }),
    // Token-entropy quality gate (TextAnalysis.tokenEntropy): Shannon
    // entropy over each doc's own token distribution in exact Mitchell
    // millibits — n·L(n) − Σ c·L(c), no window, no join; flags docs
    // under EntMinMills/token (threshold inside the corpus range, so
    // both branches are data-exercised at every SF).
    Query("q127_token_entropy", (s, dir) =>
      TextAnalysis.tokenEntropy(docsSpread(s, dir), "doc_id", "text",
          minMillsPerTok = EntMinMills)
        .orderBy("doc_id"), {
      // the shared Mitchell twin (printf('%b') / << / //) applied to
      // cnt and n; entropy re-derived through the same n·L(n) − Σ c·L(c)
      // algebra, flag as an exact integer compare
      def mitchell(x: String) =
        s"""(1000 * (length(printf('%b', $x)) - 1)
           + (1000 * ($x - (CAST(1 AS BIGINT)
               << CAST(length(printf('%b', $x)) - 1 AS INT))))
             // (CAST(1 AS BIGINT)
               << CAST(length(printf('%b', $x)) - 1 AS INT)))"""
      s"""WITH dt AS (
           SELECT doc_id, unnest($tokenListSql) AS tok FROM documents),
         tc AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS cnt
                FROM dt WHERE tok <> '' GROUP BY 1, 2),
         per AS (
           SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_toks,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(sum(cnt * ${mitchell("cnt")}) AS BIGINT) AS s
           FROM tc GROUP BY 1)
         SELECT doc_id, n_toks, n_distinct,
           n_toks * ${mitchell("n_toks")} - s AS ent_total_mills,
           n_toks * ${mitchell("n_toks")} - s < n_toks * $EntMinMills
             AS low_diversity
         FROM per ORDER BY doc_id"""
    }),
    // C4 page cleaning (Raffel et al. 2020, TextAnalysis.c4Clean):
    // line retention (terminal punct + ≥ C4MinWords words + no
    // 'javascript') applied ARRAY-SIDE over the synthetic multi-line
    // pages — ZERO shuffle, the filter runs where the bytes are; page
    // verdicts (lorem / brace / ≥ C4MinSentences sentences in the
    // retained text) flip on doc_id residues so every branch is
    // data-exercised at every SF. kept_text ships as an md5 digest —
    // the rebuilt page never crosses the compare.
    Query("q135_c4_filters", (s, dir) =>
      TextAnalysis.c4Clean(
          docs(s, dir).select(col("doc_id"), c4Text.as("text")),
          "doc_id", "text")
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          md5(col("kept_text")).as("kept_md5"), col("n_sentences"),
          col("has_lorem"), col("has_brace"), col("page_keep"))
        .orderBy("doc_id"),
      // same construction (c4TextSql interpolates the shared lists),
      // same line lambda (terminal punct incl. optional closing quote,
      // EMPTY-DROPPING word count over a \s+ split of the trimmed
      // line, no 'javascript'), same sentence proxy (terminal marks in
      // the retained text, 'g'-flagged replace), same page verdict
      s"""WITH base AS (SELECT doc_id, $c4TextSql AS t FROM documents),
         f AS (
           SELECT doc_id, t, string_split(t, chr(10)) AS ls,
             list_filter(string_split(t, chr(10)), l ->
               regexp_matches(rtrim(l), '[.!?]"?$$')
               AND len(list_filter(regexp_split_to_array(trim(l), '\\s+'),
                 w -> w <> '')) >= ${TextAnalysis.C4MinWords}
               AND NOT contains(lower(l), 'javascript')) AS ks
           FROM base),
         k AS (
           SELECT doc_id, t, ls, ks,
             array_to_string(ks, chr(10)) AS kt FROM f)
         SELECT doc_id,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(ks) AS BIGINT) AS n_kept,
           md5(kt) AS kept_md5,
           CAST(length(regexp_replace(kt, '[^.!?]', '', 'g')) AS BIGINT)
             AS n_sentences,
           contains(lower(t), 'lorem ipsum') AS has_lorem,
           contains(t, '{') AS has_brace,
           (NOT contains(lower(t), 'lorem ipsum')
             AND NOT contains(t, '{')
             AND length(regexp_replace(kt, '[^.!?]', '', 'g'))
               >= ${TextAnalysis.C4MinSentences}) AS page_keep
         FROM k ORDER BY doc_id"""),
    // UniMax budget allocation (Chung et al. 2023,
    // TextAnalysis.unimaxAllocate): exact integer water-filling over
    // per-lang token capacities (UnimaxEpochs × n_tokens) at a corpus-
    // relative budget (UnimaxPerMille of total capacity — the form a
    // fixed-constant oracle exercises at every SF). ONE corpus hash
    // agg, then every window rides the strata-bounded (≤ |langs|-row)
    // frame; allocations sum to exactly the budget, remainder to the
    // smallest uncapped strata, no floats anywhere.
    Query("q136_unimax_alloc", (s, dir) =>
      TextAnalysis.unimaxAllocate(docs(s, dir), "lang", "text",
          maxEpochs = UnimaxEpochs, budgetPerMille = Some(UnimaxPerMille))
        .orderBy("stratum"),
      // identical water-filling algebra: capacity-ascending prefix
      // inequality for the capped test, integer floor share + remainder
      // to the smallest uncapped strata (CASE keeps the // lazy when
      // every stratum is capped)
      s"""WITH $unimaxCtes
         SELECT stratum, n_tokens, capacity, capped,
           CAST(allocated AS BIGINT) AS allocated,
           CAST(coalesce((1000 * allocated) // nullif(n_tokens, 0), 0)
             AS BIGINT) AS epochs_mills
         FROM uni ORDER BY stratum"""),
    // Temperature-scaled mixture allocation at α = 1/2 (mT5 / XLM-R
    // low-resource up-weighting, TextAnalysis.temperatureAllocate):
    // strata weighted by EXACT integer isqrt(n_tokens) (float sqrt
    // ± integer correction — bit-identical in any IEEE engine),
    // floor-split targets with the remainder to the largest weights
    // so targets sum to exactly the budget; deficit vs supply
    // reported. One corpus hash agg + strata-bounded windows.
    Query("q145_temperature_mix", (s, dir) =>
      TextAnalysis.temperatureAllocate(docs(s, dir), "lang", "text",
          budgetPerMille = Some(TempPerMille))
        .orderBy("stratum"),
      // identical algebra: corrected isqrt, floor split, remainder by
      // (w desc, stratum) rank
      s"""WITH caps AS (
           SELECT lang AS stratum,
             CAST(sum($sqlTokenCount) AS BIGINT) AS n_tokens
           FROM documents GROUP BY 1),
         iw AS (
           SELECT stratum, n_tokens,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)
               - CASE WHEN CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)
                           * CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)
                           > n_tokens THEN 1 ELSE 0 END
               + CASE WHEN (CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) + 1)
                           * (CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) + 1)
                           <= n_tokens THEN 1 ELSE 0 END AS w
           FROM caps),
         g AS (
           SELECT *, sum(w) OVER () AS sw,
             ($TempPerMille * sum(n_tokens) OVER ()) // 1000 AS b,
             (($TempPerMille * sum(n_tokens) OVER ()) // 1000) * w
               // nullif(sum(w) OVER (), 0) AS fl,
             CAST(row_number() OVER (ORDER BY w DESC, stratum)
               AS BIGINT) AS rk
           FROM iw),
         h AS (
           SELECT *, b - sum(fl) OVER () AS rem FROM g),
         a AS (
           SELECT stratum, n_tokens, w,
             CAST((1000 * w) // nullif(sw, 0) AS BIGINT) AS share_mills,
             CAST(coalesce(fl, 0)
               + (CASE WHEN rk <= rem THEN 1 ELSE 0 END) AS BIGINT)
               AS target_tokens
           FROM h)
         SELECT stratum, n_tokens, w, share_mills, target_tokens,
           least(n_tokens, target_tokens) AS alloc_tokens,
           target_tokens - least(n_tokens, target_tokens)
             AS deficit_tokens
         FROM a ORDER BY stratum"""),
    // UniMax-allocated selection — the execution half of q136's plan
    // (the q116 pattern on a different allocator): water-filled
    // per-stratum allocations drive the q74 histogram-selection
    // kernel. Capped strata (allocation = 2 epochs ≥ supply) keep
    // every document; the waterlined stratum (en) is cut by quality —
    // both selection regimes data-exercised at every SF.
    Query("q137_unimax_select", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("lang"),
        TextFunctions.qualityScoreMills(col("text")).as("q_mills"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      val budgets = TextAnalysis.unimaxAllocate(docs(s, dir), "lang",
          "text", maxEpochs = UnimaxEpochs,
          budgetPerMille = Some(UnimaxPerMille))
        .select(col("stratum").as("lang"), col("allocated"))
      TextAnalysis.budgetSelectPerStratum(
          d, "lang", "q_mills", "n_tokens", "doc_id", budgets, "allocated")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tokens")).as("tok_sum"),
          min(col("q_mills")).as("min_quality"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy("lang")
    },
      // the SHARED water-filling CTE chain feeding the q74/q116 naive
      // ordered window — capped strata keep everything (alloc ≥
      // supply), the waterlined stratum cuts on quality
      s"""WITH $unimaxCtes,
         m AS (
           SELECT doc_id, lang, length(text) AS len,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
             CAST($sqlTokenCount AS BIGINT) AS toks
           FROM documents),
         t AS (
           SELECT doc_id, lang, $sqlQualityMills AS q_mills,
             toks AS n_tokens
           FROM m),
         c AS (
           SELECT t.*, uni.allocated, sum(t.n_tokens) OVER (
             PARTITION BY t.lang ORDER BY t.q_mills DESC, t.doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM t JOIN uni ON t.lang IS NOT DISTINCT FROM uni.stratum)
         SELECT lang, count(*) AS n_kept,
           CAST(sum(n_tokens) AS BIGINT) AS tok_sum,
           min(q_mills) AS min_quality, CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM c WHERE cum <= allocated GROUP BY lang ORDER BY lang"""),
    // Snapshot-to-snapshot corpus diff (CorpusDiff.diff): v2 derives
    // from v1 with removed (%17=3), changed (%13=5, content edit),
    // case-only drift (%11=2 — must read UNCHANGED through the
    // normalized content key), and added (+1e6 ids, %19=7) rows; one
    // full-outer equi-join on the id, only 32-char keys cross the wire.
    Query("q123_snapshot_diff", (s, dir) => {
      val v1 = docs(s, dir).select(col("doc_id"), col("text"))
      val kept = v1.where(col("doc_id") % 17 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 5, concat(col("text"), lit(" rev2")))
            .when(col("doc_id") % 11 === 2, upper(col("text")))
            .otherwise(col("text")).as("text"))
      val added = v1.where(col("doc_id") % 19 === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("new doc "), col("doc_id").cast("string")).as("text"))
      graft.operators.CorpusDiff.diff(
          v1, kept.unionByName(added), "doc_id", "text")
        .orderBy("doc_id")
    },
      """WITH v1 AS (SELECT doc_id, text FROM documents),
         v2 AS (
           SELECT doc_id,
             CASE WHEN doc_id % 13 = 5 THEN text || ' rev2'
                  WHEN doc_id % 11 = 2 THEN upper(text)
                  ELSE text END AS text
           FROM v1 WHERE doc_id % 17 <> 3
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id,
             'new doc ' || CAST(doc_id AS VARCHAR) AS text
           FROM v1 WHERE doc_id % 19 = 7),
         o AS (SELECT doc_id, md5(lower(trim(text))) AS old_key FROM v1),
         n AS (SELECT doc_id, md5(lower(trim(text))) AS new_key FROM v2)
         SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.old_key IS NOT DISTINCT FROM n.new_key THEN 'unchanged'
                ELSE 'changed' END AS status,
           coalesce(old_key, '') AS old_key,
           coalesce(new_key, '') AS new_key
         FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
         ORDER BY doc_id"""),
    // Hard-negative mining for retrieval training (Karpukhin et al.
    // 2020 DPR practice): per query, top-HnPos BM25 hits are
    // positives, the rest of the top-k are HARD negatives (lexically
    // close non-answers), plus HnRand deterministic md5-ranked
    // negatives from the non-retrieved pool — Q×N by design (the
    // brute-ANN contract) with a WindowGroupLimit k-cut.
    Query("q124_hard_negatives", (s, dir) => {
      import s.implicits._
      val qs = Bm25Queries.toDF("qid", "qtext")
      // Q×k rows, referenced three times (pos/hard/pool anti-join) —
      // pin it (the q153 doubly-referenced rule) so the corpus
      // tokenize + postings + ranking runs once, not per reference
      val ranked = graft.operators.Retrieval.bm25TopK(
        docsSpread(s, dir), qs, "doc_id", "text", "qid", "qtext",
        k = Bm25K, k1 = Bm25K1, b = Bm25B)
        .localCheckpoint(true)
      val pos = ranked.where(col("rank") <= HnPos)
        .select(col("qid"), col("doc_id"), lit("pos").as("role"),
          col("rank"))
      val hard = ranked.where(col("rank") > HnPos)
        .select(col("qid"), col("doc_id"), lit("hard_neg").as("role"),
          (col("rank") - HnPos).as("rank"))
      val pool = docs(s, dir).select(col("doc_id"))
        .crossJoin(broadcast(qs.select(col("qid"))))
        .join(ranked.select(col("qid"), col("doc_id")),
          Seq("qid", "doc_id"), "left_anti")
      val wr = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("h").asc, col("doc_id").asc)
      val rand = pool
        .withColumn("h", md5(concat(col("qid").cast("string"), lit("#"),
          col("doc_id").cast("string"))))
        .withColumn("rank", row_number().over(wr).cast("long"))
        .where(col("rank") <= HnRand)
        .select(col("qid"), col("doc_id"), lit("rand_neg").as("role"),
          col("rank"))
      pos.unionByName(hard).unionByName(rand)
        .orderBy("qid", "role", "rank")
    }, {
      val qids = Bm25Queries.map { case (id, _) =>
        s"(CAST($id AS BIGINT))" }.mkString(", ")
      s"""WITH lex AS (SELECT qid, doc_id, rank FROM ($bm25OracleSql)),
         qd AS (SELECT * FROM (VALUES $qids) AS t(qid)),
         pool AS (
           SELECT qd.qid, d.doc_id
           FROM qd CROSS JOIN (SELECT doc_id FROM documents) d
           WHERE NOT EXISTS (SELECT 1 FROM lex
             WHERE lex.qid = qd.qid AND lex.doc_id = d.doc_id)),
         rnd AS (
           SELECT qid, doc_id, 'rand_neg' AS role,
             row_number() OVER (PARTITION BY qid ORDER BY
               md5(CAST(qid AS VARCHAR) || '#' || CAST(doc_id AS VARCHAR)),
               doc_id) AS rank
           FROM pool)
         SELECT qid, doc_id, role, rank FROM (
           SELECT qid, doc_id, 'pos' AS role, rank FROM lex
           WHERE rank <= $HnPos
           UNION ALL
           SELECT qid, doc_id, 'hard_neg' AS role, rank - $HnPos AS rank
           FROM lex WHERE rank > $HnPos
           UNION ALL
           SELECT qid, doc_id, role, rank FROM rnd WHERE rank <= $HnRand)
         ORDER BY qid, role, rank"""
    }),
    // BPE merge learning (Bpe.learnMerges — Sennrich et al. 2016): the
    // first rounds of subword-tokenizer training. One corpus-sized
    // token count, then every merge round works the vocab-bounded
    // word-frequency table; per round exactly one argmax row reaches
    // the driver (k-means anchor precedent).
    Query("q122_bpe_merges", (s, dir) =>
      graft.operators.Bpe.learnMerges(docs(s, dir), "text", BpeRounds)
        .orderBy("round"), {
      // the shared merge-learning chain; each round's argmax pair sits
      // in t$r
      val out = (1 to BpeRounds).map { r =>
        s"""SELECT CAST($r AS BIGINT) AS round,
              string_split(pair, ' ')[1] AS "left",
              string_split(pair, ' ')[2] AS "right",
              replace(pair, ' ', '') AS merged, w AS weight FROM t$r"""
      }.mkString(" UNION ALL ")
      s"""WITH $bpeLearnCtes
         SELECT * FROM ($out) ORDER BY round"""
    }),
    // BPE ENCODE (Bpe.encode): the trained tokenizer applied back to
    // the corpus — q122's learned merges (a bounded driver-side table,
    // the centroid-anchor precedent) ride the plan as literals inside
    // one transform lambda, so encoding any corpus size is pure scan.
    // enc_md5 pins the EXACT per-token segmentation, so a drift in
    // merge order, greedy-replace semantics, or tie-breaks hash-fails
    // — not just the counts.
    Query("q140_bpe_encode", (s, dir) => {
      val m = graft.operators.Bpe.learnMerges(docs(s, dir), "text",
          BpeRounds).orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.Bpe.encode(docs(s, dir), "text", "doc_id", m)
        .orderBy("doc_id")
    }, {
      // the SAME learning chain derives the merge table, then every
      // document token is char-segmented and pushed through the k
      // replaces in rank order — identical greedy literal-replace
      // semantics, rebuilt per token and rejoined in token order for
      // the md5
      val encRounds = (1 to BpeRounds).map { r =>
        s"""d$r AS (SELECT doc_id, i, tok, replace(seq,
               ' ' || replace((SELECT pair FROM t$r), ' ', '  ') || ' ',
               ' ' || replace((SELECT pair FROM t$r), ' ', '') || ' ')
               AS seq
             FROM d${r - 1})"""
      }.mkString(",\n")
      s"""WITH $bpeLearnCtes,
         tl AS (SELECT doc_id, $tokenListSql AS l FROM documents),
         tk AS (SELECT doc_id, i, l[i] AS tok
                FROM (SELECT doc_id, l,
                  CAST(unnest(range(1, len(l) + 1)) AS BIGINT) AS i
                  FROM tl)
                WHERE l[i] <> ''),
         d0 AS (SELECT doc_id, i, tok,
             ' ' || trim(regexp_replace(tok, '(.)', '\\1  ', 'g')) || ' '
               AS seq
           FROM tk),
         $encRounds,
         per AS (SELECT doc_id, i, tok, trim(seq) AS enc,
             CAST(len(string_split(trim(seq), '  ')) AS BIGINT) AS ns
           FROM d$BpeRounds)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
           CAST(sum(len(tok)) AS BIGINT) AS n_chars,
           CAST(sum(ns) AS BIGINT) AS n_subwords,
           md5(array_to_string(list(enc ORDER BY i), ' | ')) AS enc_md5
         FROM per GROUP BY doc_id ORDER BY doc_id"""
    }),
    // Luhn-validated card-number detection (Checksum.luhnValid, one
    // codegen'd scan-side check): regex candidates become findings only
    // when the check digit verifies — the false-positive cut a PII
    // redaction pass needs before rewriting text. Last digit of the
    // synthetic candidate is doc_id % 10, so ~10% verify (both
    // branches at every SF).
    Query("q121_luhn_pii", (s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), col("source"), cardText.as("t2"))
        .withColumn("candidate",
          regexp_extract(col("t2"), "[0-9]{13,19}", 0))
        .withColumn("luhn_ok",
          graft.functions.Checksum.luhnValid(col("candidate")))
        .select("doc_id", "source", "candidate", "luhn_ok")
        .orderBy("doc_id")
    },
      // full Luhn recompute in SQL over the extracted candidate: digit
      // at 1-based position i is doubled iff (len - i) is odd (every
      // second from the RIGHT), minus 9 on overflow, sum % 10 = 0
      """WITH base AS (
           SELECT doc_id, source,
             text || ' card 4'
               || lpad(CAST((doc_id * 7919) % 100000000000 AS VARCHAR), 11, '0')
               || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
               || CAST(doc_id % 10 AS VARCHAR) || ' end' AS t2
           FROM documents),
         c AS (SELECT doc_id, source,
                 regexp_extract(t2, '[0-9]{13,19}') AS candidate
               FROM base)
         SELECT doc_id, source, candidate,
           len(candidate) > 0 AND
           list_sum([CASE WHEN (len(candidate) - i) % 2 = 1 THEN
               CASE WHEN 2 * CAST(candidate[i] AS INT) > 9
                    THEN 2 * CAST(candidate[i] AS INT) - 9
                    ELSE 2 * CAST(candidate[i] AS INT) END
             ELSE CAST(candidate[i] AS INT) END
             FOR i IN range(1, len(candidate) + 1)]) % 10 = 0 AS luhn_ok
         FROM c ORDER BY doc_id"""),
    Query("q73_pii_scrub", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), piiText.as("text"))
      val counts = TextFunctions.piiCounts(col("text"))
      d.select(col("doc_id"),
          counts(0).as("n_emails"), counts(1).as("n_ips"),
          counts(2).as("n_phones"),
          md5(TextFunctions.scrubPii(col("text"))).as("scrub_key"))
        .orderBy("doc_id")
    }, {
      import graft.functions.TextFunctions.{EmailRe, Ipv4Re, PhoneRe}
      s"""WITH base AS (
           SELECT doc_id,
             text || ' contact user' || CAST(doc_id % 50 AS VARCHAR) || '@example.com'
               || CASE WHEN doc_id % 3 = 0
                    THEN ' from 10.0.' || CAST(doc_id % 250 AS VARCHAR) || '.7'
                    ELSE '' END
               || CASE WHEN doc_id % 5 = 1
                    THEN ' call +1-555-' || CAST(doc_id % 9000 + 1000 AS VARCHAR)
                    ELSE '' END AS t
           FROM documents),
         p1 AS (SELECT doc_id, t,
             regexp_replace(t, '$EmailRe', '<EMAIL>', 'g') AS t1 FROM base),
         p2 AS (SELECT doc_id, t, t1,
             regexp_replace(t1, '$Ipv4Re', '<IP>', 'g') AS t2 FROM p1)
         SELECT doc_id,
           CAST(len(regexp_extract_all(t, '$EmailRe')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t1, '$Ipv4Re')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(t2, '$PhoneRe')) AS BIGINT) AS n_phones,
           md5(regexp_replace(t2, '$PhoneRe', '<PHONE>', 'g')) AS scrub_key
         FROM p2 ORDER BY doc_id"""
    }),

    // Token-budget quality selection (data mixing): per lang, keep docs
    // in (quality DESC, doc_id) order while the running token total
    // stays within BudgetSelectTokens. Engine side is the two-phase
    // histogram design; the oracle is the naive per-stratum window —
    // row-identical by construction, which is exactly the claim gated.
    Query("q74_budget_select", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("lang"),
        TextFunctions.qualityScoreMills(col("text")).as("q_mills"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.TextAnalysis.budgetSelect(
        d, "lang", "q_mills", "n_tokens", "doc_id", BudgetSelectTokens)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tokens")).as("tok_sum"),
          min(col("q_mills")).as("min_quality"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy("lang")
    },
      // naive per-stratum ordered window — the semantic definition the
      // engine's two-phase histogram design must reproduce row-for-row.
      // Quality formula copied the q31 contract (same CTE shape).
      s"""WITH m AS (
           SELECT doc_id, lang, length(text) AS len,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
             CAST($sqlTokenCount AS BIGINT) AS toks
           FROM documents),
         t AS (
           SELECT doc_id, lang, $sqlQualityMills AS q_mills,
             toks AS n_tokens
           FROM m),
         c AS (
           SELECT *, sum(n_tokens) OVER (PARTITION BY lang
             ORDER BY q_mills DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM t)
         SELECT lang, count(*) AS n_kept, CAST(sum(n_tokens) AS BIGINT) AS tok_sum,
           min(q_mills) AS min_quality, CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM c WHERE cum <= $BudgetSelectTokens GROUP BY lang ORDER BY lang"""),

    // Unicode canonicalization: NFC (native Catalyst expression — the
    // codegen'd twin of DuckDB's nfc_normalize) + Cc/Cf strip +
    // whitespace collapse, the cleaning step that must run before
    // hash-based dedup (byte-different composed/decomposed equals hash
    // apart). The fixture is ASCII, so the gate synthesizes decomposed
    // accents, a ZWJ, and a BEL from doc_id — see unicodeMessyText.
    Query("q77_unicode_clean", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), unicodeMessyText.as("t"))
      d.select(col("doc_id"),
          length(col("t")).cast("long").as("n_raw"),
          length(UnicodeNorm.nfc_normalize(col("t"))).cast("long").as("n_nfc"),
          md5(UnicodeNorm.cleanText(col("t"))).as("clean_key"))
        .orderBy("doc_id")
    },
      // chr(769)=U+0301 combining acute, chr(776)=U+0308 combining
      // diaeresis, chr(8205)=U+200D ZWJ (Cf), chr(7)=BEL (Cc); DuckDB's
      // nfc_normalize is utf8proc NFC — same canonical composition the
      // engine's java.text.Normalizer NFC expression performs
      s"""WITH base AS (
           SELECT doc_id,
             text || ' cafe' || chr(769) || ' no' || chr(776) || 'el'
               || CASE WHEN doc_id % 2 = 0
                    THEN ' zero' || chr(8205) || 'width' ELSE '' END
               || CASE WHEN doc_id % 3 = 0
                    THEN ' bell' || chr(7) || 'tone' ELSE '' END AS t
           FROM documents)
         SELECT doc_id,
           CAST(length(t) AS BIGINT) AS n_raw,
           CAST(length(nfc_normalize(t)) AS BIGINT) AS n_nfc,
           md5(trim(regexp_replace(regexp_replace(nfc_normalize(t),
             '${UnicodeNorm.StripRe}', ' ', 'g'), '\\s+', ' ', 'g'))) AS clean_key
         FROM base ORDER BY doc_id"""),

    // Frequency-based vocabulary building: the top-K corpus tokens by
    // occurrence count (with multiplicity — a vocab reflects token
    // MASS, not document frequency), ties broken by token. ONE counting
    // shuffle + a partial top-k (plans as TakeOrderedAndProject: each
    // partition ships only its K best rows — the 100 TB shape; a global
    // sort here would be the classic vocab-building bottleneck).
    // Exact top-k vocabulary via the two-pass heavy-hitter path — the
    // same rows as q75's full groupBy, but candidates come from bounded
    // per-partition Space-Saving summaries and only THEY are recounted
    // (no full-cardinality shuffle); the provably_exact flag
    // (cnt_k > N/m) is pinned TRUE by the oracle, so an undersized
    // budget fails loud.
    Query("q83_heavy_hitters", (s, dir) => {
      import s.implicits._
      graft.operators.HeavyHitters
        .topKExact(tokStream(s, dir).as[String], VocabTopK, HhCounters)
        .withColumnRenamed("item", "tok")
        .orderBy(col("cnt").desc, col("tok"))
    },
      // the semantic definition is q75's exact top-k; provably_exact is
      // RECOMPUTED with the engine's own arithmetic (cnt_k · counters >
      // N — HeavyHitters.topKExact's gate), not pinned TRUE: a fixture
      // change that legitimately flips the provability flag must stay
      // in agreement on both sides (q84's fixture-sensitivity rule),
      // while a broken two-pass run still fails through the rows
      // themselves
      s"""WITH t AS (SELECT tok FROM $sqlTokRows WHERE tok <> ''),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t),
         k AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM t
               GROUP BY tok ORDER BY cnt DESC, tok LIMIT $VocabTopK)
         SELECT tok, cnt,
           -- HUGEINT product: the twin of the Spark side's
           -- DECIMAL(38,0) overflow-proof gate arithmetic
           CAST(min(cnt) OVER () AS HUGEINT) * $HhCounters
             > CAST(tot.n AS HUGEINT) AS provably_exact
         FROM k CROSS JOIN tot
         ORDER BY cnt DESC, tok"""),

    Query("q75_vocab_topk", (s, dir) => vocabTopK(s, dir),
      // deterministic despite the LIMIT: the tie-break (cnt DESC, tok)
      // is a total order because tok is unique after the group-by
      s"""SELECT tok, CAST(count(*) AS BIGINT) AS cnt
         FROM $sqlTokRows
         WHERE tok <> ''
         GROUP BY tok ORDER BY cnt DESC, tok LIMIT $VocabTopK"""),

    // Count-Min sketch point queries: build the depth×width sketch in
    // one bounded-key-space counting shuffle, then estimate the exact
    // top-K tokens' counts from the BROADCAST sketch. Both the sketch
    // and the estimates are bit-deterministic (shared md5 bucket
    // contract), so the oracle recomputes them exactly; over_ok pins
    // the structural estimate>=exact guarantee.
    Query("q84_cms_counts", (s, dir) => {
      val toks = tokStream(s, dir)
      val sk = graft.operators.CountMin.sketch(toks, "tok", CmsDepth, CmsWidth)
      // 1-row total-occurrence count N for the ε bound, read from the
      // SKETCH itself (every row's counters sum to N) — no third
      // corpus scan, no corpus-side shuffle on the probe path
      val totals = sk.where(col("row") === 0)
        .agg(sum(col("cnt")).as("n_tok"))
      graft.operators.CountMin
        .estimate(sk, vocabTopK(s, dir), "tok", CmsDepth, CmsWidth)
        .crossJoin(broadcast(totals))
        .withColumn("eps_bound",
          graft.operators.CountMin.epsBound("n_tok", CmsWidth))
        .withColumn("over_ok", col("cms_est") >= col("cnt"))
        .withColumn("within_eps",
          col("cms_est") <= col("cnt") + col("eps_bound"))
        .drop("n_tok")
        .orderBy(col("cnt").desc, col("tok"))
    },
      // full bit-for-bit recompute of the sketch AND the estimates via
      // the shared sqlCmsBucket hash contract — an engine-side bucket
      // drift, count drift, or min-row mistake all hash-fail; over_ok
      // pins the structural overcount guarantee, and within_eps is
      // RECOMPUTED with the engine's own derivation (est ≤ cnt +
      // ceil((e/width)·N), same rational-e integer math as
      // CountMin.epsBound) — NOT pinned TRUE, so a fixture or
      // VocabTopK change that legitimately flips a probe (violation
      // probability ≤ e^-depth ≈ 1.8% per probe at CmsDepth=4) stays
      // in agreement on both sides, while an engine-side geometry
      // regression still hash-fails through cms_est/eps_bound parity.
      // CountMinSpec's undersized-width canary keeps the flag honest.
      s"""WITH tokrows AS (SELECT tok FROM $sqlTokRows WHERE tok <> ''),
         rows_d AS (SELECT CAST(unnest(range($CmsDepth)) AS INT) AS r),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM tokrows),
         sk AS (
           SELECT r, ${sqlCmsBucket("tok", "r")} AS bucket,
             CAST(count(*) AS BIGINT) AS bcnt
           FROM tokrows, rows_d GROUP BY 1, 2),
         exact AS (
           SELECT tok, CAST(count(*) AS BIGINT) AS cnt
           FROM tokrows GROUP BY tok ORDER BY cnt DESC, tok LIMIT $VocabTopK),
         probes AS (
           SELECT e.tok, e.cnt, r, ${sqlCmsBucket("e.tok", "r")} AS bucket
           FROM exact e, rows_d),
         est AS (
           SELECT p.tok, p.cnt,
             min(coalesce(sk.bcnt, 0)) AS cms_est,
             CAST((${graft.operators.CountMin.EpsNum} * tot.n_tok
                   + ${graft.operators.CountMin.EpsDen * CmsWidth - 1})
                  // ${graft.operators.CountMin.EpsDen * CmsWidth} AS BIGINT) AS eps_bound
           FROM probes p LEFT JOIN sk ON p.r = sk.r AND p.bucket = sk.bucket
           CROSS JOIN tot
           GROUP BY p.tok, p.cnt, tot.n_tok)
         SELECT tok, cnt, cms_est, eps_bound,
           cms_est >= cnt AS over_ok,
           cms_est <= cnt + eps_bound AS within_eps
         FROM est
         ORDER BY cnt DESC, tok"""),

    // Sliding-window chunking: every document cut into ChunkTokens-token
    // windows advancing by ChunkTokens - ChunkOverlap; pure projection +
    // explode (no join/agg — pinned as a plan contract), digest-gated
    // bit-for-bit per window. Case-preserving (the digest is content-
    // faithful), so the oracle tokenizes WITHOUT lower().
    Query("q85_chunk_windows", (s, dir) =>
      graft.operators.TextAnalysis.chunkDocs(
          docsSpread(s, dir), "text", "doc_id", ChunkTokens, ChunkOverlap)
        .orderBy("doc_id", "chunk_no"),
      // full window recompute: same whitespace tokenization as
      // sqlTokRows but WITHOUT lower() (chunk digests are content-
      // faithful); integer ceil via the shifted-numerator floor
      // division, list_slice clamps the tail exactly like Spark's slice
      s"""WITH t AS (
           SELECT doc_id, list_filter(string_split(
               regexp_replace(trim(text), '\\s+', ' ', 'g'), ' '),
             x -> x <> '') AS toks
           FROM documents),
         n AS (
           SELECT doc_id, toks,
             greatest(1, (len(toks) - $ChunkOverlap + ${ChunkTokens - ChunkOverlap} - 1)
               // ${ChunkTokens - ChunkOverlap}) AS nchunks
           FROM t WHERE len(toks) > 0),
         c AS (
           SELECT doc_id, toks,
             CAST(unnest(range(nchunks)) AS BIGINT) AS chunk_no
           FROM n)
         SELECT doc_id, chunk_no,
           chunk_no * ${ChunkTokens - ChunkOverlap} AS start_tok,
           CAST(len(list_slice(toks,
             chunk_no * ${ChunkTokens - ChunkOverlap} + 1,
             chunk_no * ${ChunkTokens - ChunkOverlap} + $ChunkTokens)) AS BIGINT) AS n_toks,
           md5(array_to_string(list_slice(toks,
             chunk_no * ${ChunkTokens - ChunkOverlap} + 1,
             chunk_no * ${ChunkTokens - ChunkOverlap} + $ChunkTokens), ' ')) AS chunk_md5
         FROM c ORDER BY doc_id, chunk_no"""),

    // Cross-doc duplicated-passage stats: which fraction of each doc's
    // anchored 16-token windows exists verbatim in another document
    // (content-defined anchors — copies at different offsets still
    // collide). Text is lowered UPSTREAM of the operator (passage
    // matching is case-insensitive; the operator itself is content-
    // faithful). Docs with no anchored full window emit no row.
    Query("q86_dup_passages", (s, dir) =>
      graft.operators.TextAnalysis.dupPassageStats(
          docsSpread(s, dir)
            .select(col("doc_id"), lower(col("text")).as("text")),
          "text", "doc_id", DupWindowTokens, DupAnchorMod)
        .orderBy("doc_id"),
      // full recompute: lowered tokenization (case-insensitive passage
      // matching), content-defined anchors (md5(token) first 15 hex as
      // a 60-bit int, ≡ 0 mod anchorMod — the unsalted sibling of
      // sqlCmsBucket), full-width windows only, window doc-frequency
      // over distinct docs, dup = frequency > 1. The mills division
      // runs the same integer pair through double division in both
      // engines.
      s"""WITH t AS (
           SELECT doc_id, list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
             x -> x <> '') AS toks
           FROM documents),
         n AS (
           SELECT doc_id, toks, len(toks) AS n
           FROM t WHERE len(toks) >= $DupWindowTokens),
         pos AS (
           SELECT doc_id, toks,
             CAST(unnest(range(n - $DupWindowTokens + 1)) AS BIGINT) AS i
           FROM n),
         w AS (
           SELECT doc_id, md5(array_to_string(list_slice(toks,
             i + 1, i + $DupWindowTokens), ' ')) AS h
           FROM pos
           WHERE CAST(('0x' || substr(md5(toks[i + 1]), 1, 15)) AS BIGINT)
             % $DupAnchorMod = 0),
         f AS (SELECT h, count(DISTINCT doc_id) AS nd FROM w GROUP BY h)
         SELECT w.doc_id,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(count(*) FILTER (f.nd > 1) AS BIGINT) AS n_dup_windows,
           CAST(floor(CAST(1000 AS DOUBLE) * count(*) FILTER (f.nd > 1)
             / count(*)) AS BIGINT) AS dup_mills
         FROM w JOIN f USING (h)
         GROUP BY w.doc_id ORDER BY w.doc_id"""),

    // Gopher rule-based quality flags: every A1.1 rule metric in exact
    // integer mills plus the conjunction, a pure scan-side projection.
    // Stopword gate uses the fixture-exercising list so both
    // gopher_ok branches are hash-pinned.
    Query("q91_gopher_flags", (s, dir) =>
      graft.operators.TextAnalysis.gopherQualityFlags(
          docsSpread(s, dir), "text", "doc_id",
          stopwords = GopherQStops, minStopHits = 2)
        .orderBy("doc_id"),
      // full rule recompute: same token/line splits, char-count symbol
      // occurrences (the '...' count divides exactly, so DuckDB's
      // rounding CAST equals Spark's truncation), mills via the shared
      // same-double-division trick, distinct-stopword intersection
      s"""WITH base AS (
           SELECT doc_id, text,
             list_filter(string_split(
               regexp_replace(trim(text), '\\s+', ' ', 'g'), ' '),
               x -> x <> '') AS toks,
             string_split(text, chr(10)) AS lines
           FROM documents)
         SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           CASE WHEN len(toks) = 0 THEN 0 ELSE
             CAST(floor(CAST(1000 AS DOUBLE)
               * length(regexp_replace(text, '\\s+', '', 'g'))
               / len(toks)) AS BIGINT) END AS mean_word_len_mills,
           CASE WHEN len(toks) = 0 THEN 0 ELSE
             CAST(floor(CAST(1000 AS DOUBLE) * (
                 (length(text) - length(replace(text, '#', '')))
               + (length(text) - length(replace(text, '...', ''))) // 3
               + (length(text) - length(replace(text, '…', ''))))
               / len(toks)) AS BIGINT) END AS symbol_mills,
           CAST(floor(CAST(1000 AS DOUBLE) * len(list_filter(lines,
               x -> regexp_matches(x, '^\\s*[-*•]')))
             / len(lines)) AS BIGINT) AS bullet_mills,
           CAST(floor(CAST(1000 AS DOUBLE) * len(list_filter(lines,
               x -> regexp_matches(x, '(\\.\\.\\.|…)\\s*$$')))
             / len(lines)) AS BIGINT) AS ellipsis_mills,
           CASE WHEN len(toks) = 0 THEN 0 ELSE
             CAST(floor(CAST(1000 AS DOUBLE) * len(list_filter(toks,
               x -> regexp_matches(x, '[A-Za-z]')))
             / len(toks)) AS BIGINT) END AS alpha_word_mills,
           CAST(len(list_intersect(
             list_distinct(list_transform(toks, x -> lower(x))),
             [${GopherQStops.map(w => s"'$w'").mkString(", ")}])) AS BIGINT)
             AS stop_hits,
           (len(toks) BETWEEN 50 AND 100000)
             AND (CASE WHEN len(toks) = 0 THEN 0 ELSE
               CAST(floor(CAST(1000 AS DOUBLE)
                 * length(regexp_replace(text, '\\s+', '', 'g'))
                 / len(toks)) AS BIGINT) END BETWEEN 3000 AND 10000)
             AND (CASE WHEN len(toks) = 0 THEN 0 ELSE
               CAST(floor(CAST(1000 AS DOUBLE) * (
                   (length(text) - length(replace(text, '#', '')))
                 + (length(text) - length(replace(text, '...', ''))) // 3
                 + (length(text) - length(replace(text, '…', ''))))
                 / len(toks)) AS BIGINT) END <= 100)
             AND (CAST(floor(CAST(1000 AS DOUBLE) * len(list_filter(lines,
                 x -> regexp_matches(x, '^\\s*[-*•]')))
               / len(lines)) AS BIGINT) <= 900)
             AND (CAST(floor(CAST(1000 AS DOUBLE) * len(list_filter(lines,
                 x -> regexp_matches(x, '(\\.\\.\\.|…)\\s*$$')))
               / len(lines)) AS BIGINT) <= 300)
             AND (CASE WHEN len(toks) = 0 THEN 0 ELSE
               CAST(floor(CAST(1000 AS DOUBLE) * len(list_filter(toks,
                 x -> regexp_matches(x, '[A-Za-z]')))
               / len(toks)) AS BIGINT) END >= 800)
             AND (len(list_intersect(
               list_distinct(list_transform(toks, x -> lower(x))),
               [${GopherQStops.map(w => s"'$w'").mkString(", ")}])) >= 2)
             AS gopher_ok
         FROM base ORDER BY doc_id"""),

    // DSIR-style importance scoring: every doc scored by hashed-bigram
    // target-vs-source likeness in exact integer mills (rational
    // ratio, the BM25 determinism trade), target = the doc_id % 7
    // exemplar slice. Weight table bounded by DsirBuckets and
    // broadcast; the only corpus-sized shuffle is the per-doc sum.
    Query("q90_dsir_score", (s, dir) => {
      val src = docsSpread(s, dir)
        .select(col("doc_id"), lower(col("text")).as("text"))
      graft.operators.TextAnalysis.importanceScore(
          src, src.where(col("doc_id") % 7 === 0),
          "text", "doc_id", DsirBuckets)
        .orderBy("doc_id")
    },
      // full recompute: lowered bigram multiset, the '#dsir' salted
      // md5 bucket contract, add-one-smoothed totals-normalized
      // rational weights in HUGEINT (the DECIMAL(38,0) twin), per-doc
      // occurrence-weighted sums; target grams reuse the source gram
      // table filtered (target ⊆ source by construction)
      s"""WITH $sqlDsirScoredCtes
         SELECT d.doc_id, coalesce(s.n_grams, 0) AS n_grams,
           coalesce(s.dsir_mills, 0) AS dsir_mills,
           coalesce(CAST(s.dsir_mills // s.n_grams AS BIGINT), 0) AS dsir_avg_mills
         FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
         ORDER BY d.doc_id"""),

    // DSIR selection applied (the paper's data-selection step): the
    // K most target-like docs per stratum by the per-gram-mean key,
    // rank window with a deterministic (score DESC, doc_id) tie-break
    // — planner executes the k-cut as a partial WindowGroupLimit.
    Query("q92_dsir_select", (s, dir) => {
      val src = docsSpread(s, dir)
        .select(col("doc_id"), lower(col("text")).as("text"))
      val scored = graft.operators.TextAnalysis.importanceScore(
        src, src.where(col("doc_id") % 7 === 0),
        "text", "doc_id", DsirBuckets)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang")
        .orderBy(col("dsir_avg_mills").desc, col("doc_id"))
      // the stratum frame is a PRUNED plain scan (doc_id, lang only) —
      // going through docsSpread here would shuffle the full text
      // column just to attach a label; scored is corpus-sized, so the
      // doc_id join is a correct shuffle join at scale (never a
      // broadcast of one-row-per-doc data)
      docs(s, dir).select("doc_id", "lang").join(scored, Seq("doc_id"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= DsirSelectK)
        .select("lang", "rank", "doc_id", "dsir_avg_mills")
        .orderBy("lang", "rank")
    },
      // the q90 scoring CTEs + a per-stratum rank window on the
      // selection key with the same (avg DESC, doc_id) tie-break
      s"""WITH $sqlDsirScoredCtes,
         av AS (SELECT d.doc_id, d.lang,
                  coalesce(CAST(s.dsir_mills // s.n_grams AS BIGINT), 0)
                    AS dsir_avg_mills
                FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id),
         rk AS (SELECT lang,
                  CAST(row_number() OVER (PARTITION BY lang
                    ORDER BY dsir_avg_mills DESC, doc_id) AS BIGINT) AS rank,
                  doc_id, dsir_avg_mills
                FROM av)
         SELECT lang, rank, doc_id, dsir_avg_mills
         FROM rk WHERE rank <= $DsirSelectK
         ORDER BY lang, rank"""),

    // Duplicated-passage REMOVAL (q86 applied): every cross-doc
    // duplicated anchored window cut from every doc except its
    // min-doc_id canonical holder; gated on the full rebuilt-text md5
    // plus exact token accounting, so a single kept/cut token anywhere
    // in the corpus hash-fails. Row-preserving (one row per doc).
    Query("q89_dup_removal", (s, dir) =>
      graft.operators.TextAnalysis.removeDupPassages(
          docsSpread(s, dir)
            .select(col("doc_id"), lower(col("text")).as("text")),
          "text", "doc_id", DupWindowTokens, DupAnchorMod)
        .select("doc_id", "n_toks", "n_removed", "clean_md5")
        .orderBy("doc_id"),
      // full removal recompute: same anchored-window CTEs as q86, plus
      // the keeper rule (min doc_id per window survives), positional
      // span coverage (union of removed windows), kept-token anti-join
      // and an order-preserving rebuild — md5 of the rebuilt text must
      // match the engine's bit-for-bit
      s"""WITH t AS (
           SELECT doc_id, list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
             x -> x <> '') AS toks
           FROM documents),
         n AS (
           SELECT doc_id, toks, len(toks) AS n
           FROM t WHERE len(toks) >= $DupWindowTokens),
         pos AS (
           SELECT doc_id, toks,
             CAST(unnest(range(n - $DupWindowTokens + 1)) AS BIGINT) AS i
           FROM n),
         w AS (
           SELECT doc_id, i, md5(array_to_string(list_slice(toks,
             i + 1, i + $DupWindowTokens), ' ')) AS h
           FROM pos
           WHERE CAST(('0x' || substr(md5(toks[i + 1]), 1, 15)) AS BIGINT)
             % $DupAnchorMod = 0),
         f AS (SELECT h, count(DISTINCT doc_id) AS nd,
                 min(doc_id) AS keeper FROM w GROUP BY h),
         dup AS (SELECT w.doc_id, w.i FROM w JOIN f USING (h)
                 WHERE f.nd > 1 AND w.doc_id <> f.keeper),
         cov AS (SELECT DISTINCT doc_id,
                   i + CAST(unnest(range($DupWindowTokens)) AS BIGINT) AS cp
                 FROM dup),
         ap AS (SELECT doc_id, toks[p + 1] AS tok, p FROM (
                  SELECT doc_id, toks,
                    CAST(unnest(range(len(toks))) AS BIGINT) AS p FROM t)),
         kept AS (SELECT ap.doc_id, ap.p, ap.tok FROM ap
                  LEFT JOIN cov ON ap.doc_id = cov.doc_id AND ap.p = cov.cp
                  WHERE cov.doc_id IS NULL),
         reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept,
                   array_to_string(list(tok ORDER BY p), ' ') AS ct
                 FROM kept GROUP BY doc_id)
         SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_toks,
           CAST(len(t.toks) - coalesce(reb.kept, 0) AS BIGINT) AS n_removed,
           md5(coalesce(reb.ct, '')) AS clean_md5
         FROM t LEFT JOIN reb USING (doc_id)
         ORDER BY t.doc_id"""),

    // word2phrase collocations (Mikolov et al. 2013): top-K bigrams by
    // the discounted phrase score in exact integer mills, Dice along.
    // orderBy + limit over the unique (phrase_mills, w1, w2) total
    // order plans as a partial TakeOrdered — no global sort survives.
    Query("q94_collocations", (s, dir) =>
      graft.operators.TextAnalysis.phraseScores(
          docsSpread(s, dir)
            .select(col("doc_id"), lower(col("text")).as("text")),
          "text", minCount = PhraseMinCount, discount = PhraseDiscount)
        .orderBy(col("phrase_mills").desc, col("w1"), col("w2"))
        .limit(PhraseTopK),
      // full recompute: lowered per-doc token lists, order-aware
      // bigrams WITH multiplicity (the wordNGrams twin: l[i]||' '||
      // l[i+1] over 1-based i), minCount prefilter, then the two
      // exact-integer scores — the phrase score through HUGEINT floor
      // division (the DECIMAL(38,0) div twin), Dice in int64. The
      // (phrase_mills DESC, w1, w2) total order is unique, so the
      // LIMIT is deterministic in both engines.
      s"""WITH t AS (
           SELECT list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
             x -> x <> '') AS l
           FROM documents),
         unis AS (SELECT unnest(l) AS tok FROM t),
         u AS (SELECT tok, CAST(count(*) AS BIGINT) AS n
               FROM unis GROUP BY tok),
         n1 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM unis),
         bis AS (
           SELECT unnest($wordBigramsAllSql) AS bi FROM t),
         b AS (
           SELECT string_split(bi, ' ')[1] AS w1,
             string_split(bi, ' ')[2] AS w2,
             CAST(count(*) AS BIGINT) AS n_pair
           FROM bis GROUP BY 1, 2 HAVING count(*) >= $PhraseMinCount)
         SELECT b.w1, b.w2, b.n_pair, u1.n AS n_w1, u2.n AS n_w2,
           CAST(greatest(
             (CAST(1000 AS HUGEINT) * (b.n_pair - $PhraseDiscount) * n1.c)
               // (CAST(u1.n AS HUGEINT) * u2.n),
             CAST(0 AS HUGEINT)) AS BIGINT) AS phrase_mills,
           (2000 * b.n_pair) // (u1.n + u2.n) AS dice_mills
         FROM b
         JOIN u u1 ON b.w1 = u1.tok
         JOIN u u2 ON b.w2 = u2.tok
         CROSS JOIN n1
         ORDER BY phrase_mills DESC, w1, w2 LIMIT $PhraseTopK"""),

    // CCNet-style unigram LM quality scoring (Wenzek et al. 2020) in
    // exact integer code-length bits: the model trains on the 'en'
    // stratum, scores EVERY doc (in-target and cross-lang), and the
    // Laplace-smoothed OOV path is exercised by the non-en strata's
    // disjoint vocabulary slices. Lower avg_bits_mills = more
    // target-like.
    Query("q95_unigram_ce", (s, dir) => {
      val lowered = docsSpread(s, dir)
        .select(col("doc_id"), col("lang"), lower(col("text")).as("text"))
      graft.operators.TextAnalysis.unigramCodeLength(
          lowered, lowered.where(col("lang") === "en"), "text", "doc_id")
        .orderBy("doc_id")
    },
      // full recompute: Laplace-smoothed unigram costs over the 'en'
      // stratum in EXACT integer millibits — Mitchell's log2:
      // floor_log2 as the length of the base-2 digit string
      // (printf('%b') here, conv(_,10,2) in the engine; both exact),
      // 2^e via integer shift, linear fraction via integer floor
      // division; no float log anywhere, and the same left-join +
      // coalesce row-preserving shape as the engine
      s"""WITH $unigramCeCtes
         SELECT d.doc_id, coalesce(sc.n_toks, CAST(0 AS BIGINT)) AS n_toks,
           coalesce(sc.total_bits_mills, CAST(0 AS BIGINT))
             AS total_bits_mills,
           sc.total_bits_mills // sc.n_toks AS avg_bits_mills
         FROM documents d LEFT JOIN sc USING (doc_id)
         ORDER BY doc_id"""),

    // Interpolated bigram LM code length (Jelinek–Mercer λ=1/2, the
    // next CCNet-ladder model above q95): first token pays unigram,
    // later tokens pay the interpolated bigram-given-context cost,
    // unseen contexts back off to unigram — all exact integer
    // millibits through the shared Mitchell kernel.
    Query("q110_bigram_ce", (s, dir) => {
      val lowered = docsSpread(s, dir)
        .select(col("doc_id"), col("lang"), lower(col("text")).as("text"))
      graft.operators.TextAnalysis.bigramCodeLength(
          lowered, lowered.where(col("lang") === "en"), "text", "doc_id")
        .orderBy("doc_id")
    },
      // full recompute: LM unigram/bigram count tables over the 'en'
      // stratum, per-position interpolated rational 1/P through
      // HUGEINT floor division (the DECIMAL(38,0) twin), Mitchell's
      // log2 in exact integer millibits, unseen-context backoff to
      // the q95 unigram kernel — no float anywhere
      s"""WITH t AS (
           SELECT doc_id, lang, list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
             x -> x <> '') AS l
           FROM documents),
         lmtoks AS (SELECT unnest(l) AS tok FROM t WHERE lang = 'en'),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(count(DISTINCT tok) AS BIGINT) AS v
                 FROM lmtoks),
         uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
                 FROM lmtoks GROUP BY tok),
         lmbg AS (
           SELECT unnest($wordBigramsAllSql) AS bg FROM t WHERE lang = 'en'),
         bi AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12
                FROM lmbg GROUP BY bg),
         firstq AS (
           SELECT doc_id,
             (1024 * (tot.n + tot.v)) // (coalesce(u.c, 0) + 1) AS q
           FROM (SELECT doc_id, l[1] AS tok FROM t WHERE len(l) >= 1) f
           LEFT JOIN uni u ON f.tok = u.tok CROSS JOIN tot),
         prs AS (SELECT doc_id, unnest($wordBigramsAllSql) AS bg FROM t),
         pq AS (
           SELECT p.doc_id,
             CASE WHEN coalesce(u1.c, 0) = 0
               THEN (1024 * (tot.n + tot.v)) // (coalesce(u2.c, 0) + 1)
               ELSE CAST((CAST(2048 AS HUGEINT) * u1.c * (tot.n + tot.v))
                 // (CAST(coalesce(b.c12, 0) AS HUGEINT) * (tot.n + tot.v)
                     + (coalesce(u2.c, 0) + 1) * u1.c) AS BIGINT)
             END AS q
           FROM (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1,
                   split_part(bg, ' ', 2) AS w2 FROM prs) p
           LEFT JOIN uni u1 ON p.w1 = u1.tok
           LEFT JOIN uni u2 ON p.w2 = u2.tok
           LEFT JOIN bi b ON p.bg = b.bg
           CROSS JOIN tot),
         allq AS (SELECT doc_id, q FROM firstq
                  UNION ALL SELECT doc_id, q FROM pq),
         costs AS (
           SELECT doc_id, 1000 * e + (1000 * (q - p)) // p - 10000 AS cost
           FROM (
             SELECT doc_id, q, e, (CAST(1 AS BIGINT) << CAST(e AS INT)) AS p
             FROM (
               SELECT doc_id, q, length(printf('%b', q)) - 1 AS e
               FROM allq))),
         sc AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
             CAST(sum(cost) AS BIGINT) AS total_bits_mills
           FROM costs GROUP BY doc_id)
         SELECT d.doc_id, coalesce(sc.n_toks, CAST(0 AS BIGINT)) AS n_toks,
           coalesce(sc.total_bits_mills, CAST(0 AS BIGINT))
             AS total_bits_mills,
           sc.total_bits_mills // sc.n_toks AS avg_bits_mills
         FROM documents d LEFT JOIN sc USING (doc_id)
         ORDER BY doc_id"""),

    // tf-idf keyword extraction (rational idf, exact integer mills):
    // top-3 terms per doc with the (score DESC, term ASC) tie-break —
    // the WindowGroupLimit k-cut binds on every doc of the fixture.
    Query("q96_tfidf_keywords", (s, dir) =>
      graft.operators.Retrieval.tfidfKeywords(
          docsSpread(s, dir)
            .select(col("doc_id"), lower(col("text")).as("text")),
          "doc_id", "text", KeywordTopK)
        .orderBy("doc_id", "rank"),
      // full recompute: per-doc tf with multiplicity, df over the
      // distinct (doc, term) frame, rational idf through HUGEINT floor
      // division (the DECIMAL(38,0) div twin), and the same
      // (score DESC, term ASC) row_number cut
      s"""WITH t AS (
           SELECT doc_id, list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
             x -> x <> '') AS l
           FROM documents),
         dt AS (SELECT doc_id, unnest(l) AS term FROM t),
         tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                FROM dt GROUP BY doc_id, term),
         dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df_docs
                 FROM tf GROUP BY term),
         nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         sc AS (
           SELECT tf.doc_id, tf.term, tf.tf, dfq.df_docs,
             CAST((CAST(1000 AS HUGEINT) * tf.tf * nd.n) // dfq.df_docs
               AS BIGINT) AS tfidf_mills
           FROM tf JOIN dfq USING (term) CROSS JOIN nd),
         rk AS (
           SELECT doc_id, CAST(row_number() OVER (PARTITION BY doc_id
               ORDER BY tfidf_mills DESC, term) AS BIGINT) AS rank,
             term, tf, df_docs, tfidf_mills
           FROM sc)
         SELECT doc_id, rank, term, tf, df_docs, tfidf_mills
         FROM rk WHERE rank <= $KeywordTopK
         ORDER BY doc_id, rank"""),

    // Token-aligned blocklist filtering (C4 §2.2 / RefinedWeb): the
    // engine runs the blocked first-token candidate join; the oracle
    // runs the NAIVE phrases x docs contains scan — parity proves the
    // blocking lossless, not just self-consistent.
    Query("q98_blocklist", (s, dir) => {
      import s.implicits._
      graft.operators.TextAnalysis.blocklistMatches(
          docsSpread(s, dir)
            .select(col("doc_id"), lower(col("text")).as("text")),
          BlocklistPhrases.toDF("pid", "phrase"),
          "text", "doc_id", "pid", "phrase")
        .orderBy("doc_id")
    },
      // the NAIVE twin: every phrase against every doc's normalized
      // text via padded contains — independently proving the engine's
      // first-token blocking drops no token-aligned match
      s"""WITH p AS (
           SELECT * FROM (VALUES ${BlocklistPhrases
             .map { case (id, ph) => s"(CAST($id AS BIGINT), '$ph')" }
             .mkString(", ")}) AS v(pid, phrase)),
         n AS (
           SELECT doc_id,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
           FROM documents),
         m AS (
           SELECT n.doc_id, p.pid
           FROM n JOIN p
             ON contains(' ' || n.norm || ' ', ' ' || p.phrase || ' ')),
         agg AS (
           SELECT doc_id, CAST(count(DISTINCT pid) AS BIGINT) AS n_matched,
             array_to_string(list_sort(list(DISTINCT CAST(pid AS VARCHAR))),
               ',') AS matched_ids
           FROM m GROUP BY doc_id)
         SELECT d.doc_id,
           coalesce(agg.n_matched, CAST(0 AS BIGINT)) AS n_matched,
           coalesce(agg.n_matched, 0) > 0 AS blocked,
           coalesce(agg.matched_ids, '') AS matched_ids
         FROM documents d LEFT JOIN agg USING (doc_id)
         ORDER BY doc_id"""),

    // URL canonicalization (UrlNorm): the web-corpus dedup key.
    // Pure codegen'd regexp projection — no shuffle, no join.
    Query("q99_url_canon", (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), urlText.as("url"))
        .select(col("doc_id"),
          graft.functions.UrlNorm.canonicalizeUrl(col("url")).as("url_canon"))
        .withColumn("host", graft.functions.UrlNorm.urlHost(col("url_canon")))
        .orderBy("doc_id"),
      // the same RE2-safe, literal-replacement regex chain, step for
      // step (DuckDB needs the 'g' flag for replace-all; patterns are
      // interpolated from UrlNorm.TrackingParams so they can't drift)
      s"""WITH u AS (
           SELECT doc_id,
             'HTTPS://WWW.Example' || CAST(doc_id % 7 AS VARCHAR)
               || '.COM/Docs/Item' || CAST(doc_id AS VARCHAR)
               || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
               || CASE WHEN doc_id % 3 = 0
                    THEN '?utm_source=feed&q=1&fbclid=abc'
                  WHEN doc_id % 3 = 1 THEN '?gclid=xyz'
                  ELSE '?q=2&utm_campaign=c' END
               || CASE WHEN doc_id % 5 = 0 THEN '#Section-2' ELSE '' END
               AS url
           FROM documents),
         c1 AS (SELECT doc_id,
                  regexp_replace(lower(trim(url)), '#.*', '', 'g') AS u
                FROM u),
         -- query-scoped tracking removal, the engine's split/clean/
         -- reassemble shape: '&' is legal in path segments
         c2 AS (SELECT doc_id,
                  regexp_extract(u, '^[^?]*') AS b,
                  regexp_extract(u, '^[^?]*\\?(.*)$$', 1) AS q
                FROM c1),
         c3 AS (SELECT doc_id, b, regexp_replace(q,
                  '&${graft.functions.UrlNorm.TrackingParams}=[^&]*', '', 'g')
                  AS q FROM c2),
         c4 AS (SELECT doc_id, b, regexp_replace(q,
                  '^${graft.functions.UrlNorm.TrackingParams}=[^&]*&?', '',
                  'g') AS q FROM c3),
         c5 AS (SELECT doc_id, regexp_replace(
                  CASE WHEN q = '' THEN b ELSE b || '?' || q END,
                  '[?&]+$$', '', 'g') AS u
                FROM c4),
         c6 AS (SELECT doc_id, regexp_replace(u,
                  '^([a-z0-9+.-]+)://www\\.', '\\1://', 'g') AS u
                FROM c5),
         c7 AS (SELECT doc_id, regexp_replace(u, '/+$$', '', 'g') AS u
                FROM c6)
         SELECT doc_id, u AS url_canon,
           regexp_extract(u, '^[a-z0-9+.-]+://([^/?#]+)', 1) AS host
         FROM c7 ORDER BY doc_id"""),

    // Exact-k priority sampling (Duffield et al. 2007, md5 priority):
    // exactly 25 docs per lang stratum, rank cut by WindowGroupLimit.
    Query("q100_priority_sample", (s, dir) =>
      graft.operators.TextAnalysis.prioritySample(
          docs(s, dir).select("doc_id", "lang"), "lang", "doc_id",
          PrioritySampleK)
        .select("lang", "sample_rank", "doc_id")
        .orderBy("lang", "sample_rank"),
      // identical (md5, id) priority order and rank cut
      s"""WITH rk AS (
           SELECT lang,
             CAST(row_number() OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
               AS sample_rank,
             doc_id
           FROM documents)
         SELECT lang, sample_rank, doc_id
         FROM rk WHERE sample_rank <= $PrioritySampleK
         ORDER BY lang, sample_rank"""),

    // Skip-gram PMI (Church & Hanks 1990 over a Mikolov-style window):
    // top-30 associated pairs in exact Mitchell-log2 millibits.
    Query("q102_skipgram_pmi", (s, dir) =>
      graft.operators.TextAnalysis.skipgramPmi(
          docsSpread(s, dir)
            .select(col("doc_id"), lower(col("text")).as("text")),
          "text", window = SkipgramWindow, minCount = SkipgramMinCount)
        .orderBy(col("pmi_mills").desc, col("w1"), col("w2"))
        .limit(SkipgramTopK),
      // full recompute: positional pairs at every distance 1..window
      // (least/greatest canonical order — binary string compare in
      // both engines), HUGEINT 1024-scaled ratio, Mitchell log2 via
      // printf('%b') + shift + floor division — the q95 kernel twin
      s"""WITH t AS (
           SELECT list_filter(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
             x -> x <> '') AS l
           FROM documents),
         pos AS (
           SELECT l, CAST(unnest(range(1, len(l) + 1)) AS INT) AS i
           FROM t),
         prs AS (
           SELECT least(l[i], l[i + d]) AS w1,
             greatest(l[i], l[i + d]) AS w2
           FROM pos, (SELECT CAST(unnest(range(1, $SkipgramWindow + 1))
                        AS INT) AS d)
           WHERE i + d <= len(l)),
         uni AS (
           SELECT tok, CAST(count(*) AS BIGINT) AS n
           FROM (SELECT unnest(l) AS tok FROM t) GROUP BY tok),
         tot AS (
           SELECT
             (SELECT CAST(count(*) AS BIGINT)
              FROM (SELECT unnest(l) AS x FROM t)) AS nt,
             (SELECT CAST(count(*) AS BIGINT) FROM prs) AS np),
         p AS (
           SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
           FROM prs GROUP BY 1, 2 HAVING count(*) >= $SkipgramMinCount),
         qv AS (
           SELECT p.w1, p.w2, p.n_pair, u1.n AS n_w1, u2.n AS n_w2,
             CAST((CAST(1024 AS HUGEINT) * p.n_pair * tot.nt * tot.nt)
               // (CAST(tot.np AS HUGEINT) * u1.n * u2.n) AS BIGINT) AS q
           FROM p
           JOIN uni u1 ON p.w1 = u1.tok
           JOIN uni u2 ON p.w2 = u2.tok
           CROSS JOIN tot),
         sc AS (
           SELECT w1, w2, n_pair, n_w1, n_w2,
             1000 * e + (1000 * (q - pw)) // pw - 10000 AS pmi_mills
           FROM (
             SELECT *, (CAST(1 AS BIGINT) << CAST(e AS INT)) AS pw
             FROM (SELECT *, length(printf('%b', q)) - 1 AS e FROM qv)))
         SELECT w1, w2, n_pair, n_w1, n_w2, pmi_mills
         FROM sc ORDER BY pmi_mills DESC, w1, w2 LIMIT $SkipgramTopK"""),

    // MinHash Jaccard ESTIMATE vs exact — the estimator the whole LSH
    // family banks on, pinned per candidate pair: est = 125·(matching
    // components of the 8-hash signature), exact = floored set
    // Jaccard; both deterministic given the md5 signature contract,
    // so the error column itself is oracle-checkable.
    Query("q108_minhash_estimate", (s, dir) => {
      val d = docsSpread(s, dir).where(col("doc_id") % 5 === 0)
        .select(col("doc_id"),
          TextFunctions.tokenSetSorted(col("text")).as("toks"),
          graft.functions.TextHash.minhashSignature(col("text"), 0 until 8)
            .as("sig"))
      lshPairs(s, dir)
        .join(d.select(col("doc_id").as("id_a"), col("toks").as("ta"),
          col("sig").as("sa")), "id_a")
        .join(d.select(col("doc_id").as("id_b"), col("toks").as("tb"),
          col("sig").as("sb")), "id_b")
        .withColumn("est_mills",
          (lit(125) * size(filter(
            zip_with(col("sa"), col("sb"), (a, b) => a === b),
            x => x))).cast("long"))
        .withColumn("__i", size(array_intersect(col("ta"), col("tb"))))
        .withColumn("jac_mills", graft.operators.Dedup.jaccardMills(
          col("__i"), size(col("ta")), size(col("tb"))))
        .select(col("id_a"), col("id_b"), col("est_mills"), col("jac_mills"),
          abs(col("est_mills") - col("jac_mills")).as("abs_err"))
        .orderBy("id_a", "id_b")
    }, {
      val matches = (0 until 8).map(i =>
        s"(CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH $lshPairsCtes,
         ts AS (SELECT doc_id, $sqlTokSet AS tset
                FROM documents WHERE doc_id % 5 = 0),
         j AS (
           SELECT p.id_a, p.id_b,
             CAST(125 * ($matches) AS BIGINT) AS est_mills,
             CAST(floor(1000 * len(list_intersect(x.tset, y.tset))
               / (len(x.tset) + len(y.tset)
                  - len(list_intersect(x.tset, y.tset)))) AS BIGINT)
               AS jac_mills
           FROM pairs p
           JOIN sig a ON p.id_a = a.doc_id
           JOIN sig b ON p.id_b = b.doc_id
           JOIN ts x ON p.id_a = x.doc_id
           JOIN ts y ON p.id_b = y.doc_id)
         SELECT id_a, id_b, est_mills, jac_mills,
           abs(est_mills - jac_mills) AS abs_err
         FROM j ORDER BY id_a, id_b"""
    }),

    // Mixture-budget selection — the execution half of q113's plan:
    // per-stratum alloc_tokens drive the q74 histogram-selection
    // kernel (zh's zero weight → zero budget → nothing kept from a
    // populated stratum — exercised on the real data).
    Query("q116_mixture_select", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("lang"),
        TextFunctions.qualityScoreMills(col("text")).as("q_mills"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      val budgets = graft.operators.TextAnalysis.mixturePlan(
          docs(s, dir).select(col("lang"), col("text")),
          "lang", "text", MixtureWeights, MixtureBudget)
        .select("lang", "alloc_tokens")
      graft.operators.TextAnalysis.budgetSelectPerStratum(
          d, "lang", "q_mills", "n_tokens", "doc_id", budgets, "alloc_tokens")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tokens")).as("tok_sum"),
          min(col("q_mills")).as("min_quality"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy("lang")
    }, {
      val totalW = MixtureWeights.map(_._2).sum
      val vals = MixtureWeights
        .map { case (l, w) => s"('$l', CAST($w AS BIGINT))" }.mkString(", ")
      // the q74 naive ordered window, budget-joined per stratum from an
      // independent recompute of q113's allocation
      s"""WITH m AS (
           SELECT doc_id, lang, length(text) AS len,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
             CAST($sqlTokenCount AS BIGINT) AS toks
           FROM documents),
         t AS (
           SELECT doc_id, lang, $sqlQualityMills AS q_mills,
             toks AS n_tokens
           FROM m),
         w AS (SELECT * FROM (VALUES $vals) AS v(lang, w)),
         av AS (SELECT lang, CAST(sum(toks) AS BIGINT) AS avail FROM m
                GROUP BY lang),
         b AS (
           SELECT av.lang,
             least(av.avail,
               CAST((CAST($MixtureBudget AS HUGEINT) * coalesce(w.w, 0))
                 // $totalW AS BIGINT)) AS alloc
           FROM av LEFT JOIN w ON av.lang = w.lang),
         c AS (
           SELECT t.*, b.alloc, sum(n_tokens) OVER (PARTITION BY t.lang
             ORDER BY q_mills DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM t JOIN b ON t.lang IS NOT DISTINCT FROM b.lang)
         SELECT lang, count(*) AS n_kept,
           CAST(sum(n_tokens) AS BIGINT) AS tok_sum,
           min(q_mills) AS min_quality, CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM c WHERE cum <= alloc GROUP BY lang ORDER BY lang"""
    }),

    // Robust winsorization: per-lang exact [p05, p95] clipping of
    // n_chars with outlier flags — the q57/q81 histogram-selection
    // kernel plus a broadcast bounds join back onto the rows.
    Query("q115_winsorize", (s, dir) =>
      graft.operators.Robust.winsorize(
          docs(s, dir).select("doc_id", "lang", "n_chars")
            .where(col("n_chars").isNotNull),
          "lang", "n_chars", loNum = 1, loDen = 20, hiNum = 19, hiDen = 20)
        .select("doc_id", "lang", "n_chars", "lo", "hi", "clipped",
          "is_outlier")
        .orderBy("doc_id"),
      // independent recompute of the exact rank-(n·p ceil) bounds
      // (the q81 arithmetic) and the clip/flag application
      """WITH h AS (
           SELECT lang, n_chars, count(*) AS cnt
           FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
         r AS (
           SELECT lang, n_chars, cnt,
             sum(cnt) OVER (PARTITION BY lang ORDER BY n_chars
               ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER (PARTITION BY lang) AS n
           FROM h),
         b AS (
           SELECT lang,
             CAST(min(CASE WHEN cum >= (n * 1 + 19) // 20
               THEN n_chars END) AS BIGINT) AS lo,
             CAST(min(CASE WHEN cum >= (n * 19 + 19) // 20
               THEN n_chars END) AS BIGINT) AS hi
           FROM r GROUP BY lang)
         SELECT d.doc_id, d.lang, d.n_chars, b.lo, b.hi,
           least(greatest(d.n_chars, b.lo), b.hi) AS clipped,
           (d.n_chars < b.lo OR d.n_chars > b.hi) AS is_outlier
         FROM documents d LEFT JOIN b ON d.lang IS NOT DISTINCT FROM b.lang
         WHERE d.n_chars IS NOT NULL
         ORDER BY d.doc_id"""),

    // Mixture planning: per-stratum token supply vs a target-weight
    // recipe — available / target / allocatable / deficit plus the
    // signed Mitchell log2 of (observed share / target share). One
    // corpus hash agg; the weight table is a broadcast dimension.
    Query("q113_mixture_plan", (s, dir) =>
      graft.operators.TextAnalysis.mixturePlan(
          docsSpread(s, dir).select(col("lang"), col("text")),
          "lang", "text", MixtureWeights, MixtureBudget)
        .orderBy("lang"), {
      val totalW = MixtureWeights.map(_._2).sum
      val vals = MixtureWeights
        .map { case (l, w) => s"('$l', CAST($w AS BIGINT))" }.mkString(", ")
      // full recompute: token supply per stratum, HUGEINT target split,
      // and the signed Mitchell log2 of the share ratio — the q95
      // kernel twin, with the zero-supply/zero-weight pins
      s"""WITH w AS (SELECT * FROM (VALUES $vals) AS v(lang, w)),
         a AS (SELECT lang, CAST(sum($sqlTokenCount) AS BIGINT)
                 AS avail_tokens
               FROM documents GROUP BY lang),
         nn AS (SELECT CAST(coalesce(sum(avail_tokens), 0) AS BIGINT) AS n
                FROM a),
         j AS (
           SELECT coalesce(a.lang, w.lang) AS lang,
             coalesce(a.avail_tokens, 0) AS avail_tokens,
             coalesce(w.w, 0) AS w
           FROM a FULL OUTER JOIN w ON a.lang = w.lang),
         t AS (
           SELECT j.*, nn.n,
             CAST((CAST($MixtureBudget AS HUGEINT) * w) // $totalW
               AS BIGINT) AS target_tokens
           FROM j CROSS JOIN nn),
         r AS (
           SELECT *,
             CASE WHEN avail_tokens > 0 AND w > 0
                   AND CAST(avail_tokens AS HUGEINT) * $totalW
                       >= CAST(n AS HUGEINT) * w
               THEN CAST((CAST(1024 AS HUGEINT) * avail_tokens * $totalW)
                 // (CAST(n AS HUGEINT) * w) AS BIGINT)
             WHEN avail_tokens > 0 AND w > 0
               THEN CAST((CAST(1024 AS HUGEINT) * n * w)
                 // (CAST(avail_tokens AS HUGEINT) * $totalW) AS BIGINT)
             ELSE NULL END AS q,
             CASE WHEN CAST(avail_tokens AS HUGEINT) * $totalW
                       >= CAST(n AS HUGEINT) * w
               THEN 1 ELSE -1 END AS sgn
           FROM t),
         m AS (
           SELECT *, 1000 * e + (1000 * (q - p)) // p - 10000 AS lm
           FROM (
             SELECT *, (CAST(1 AS BIGINT) << CAST(e AS INT)) AS p
             FROM (SELECT *, length(printf('%b', q)) - 1 AS e FROM r)))
         SELECT lang, avail_tokens, target_tokens,
           least(avail_tokens, target_tokens) AS alloc_tokens,
           target_tokens - least(avail_tokens, target_tokens)
             AS deficit_tokens,
           CAST(CASE WHEN avail_tokens = 0 AND w = 0 THEN 0
             WHEN avail_tokens = 0 THEN -10000 * $totalW
             WHEN w = 0 THEN 10000 * $totalW
             ELSE sgn * lm END AS BIGINT) AS log2_ratio_mills
         FROM m ORDER BY lang"""
    }),

    // Ordered containment pairs (overlap coefficient toward the
    // contained side): the asymmetric near-dup pass that catches a
    // short doc quoted inside a long one — high containment, low
    // Jaccard. Engine runs the lossless asymmetric prefix filter; the
    // oracle is the NAIVE within-block ordered-pair scan, so parity
    // proves the blocking lossless on the real corpus.
    Query("q112_containment_pairs", (s, dir) =>
      graft.operators.Dedup.containmentPairs(
          docsSpread(s, dir).where(col("doc_id") % 3 === 0),
          "text", "doc_id", minContainMills = 700,
          blockCols = Seq("source"))
        .orderBy("id_a", "id_b"),
      // the NAIVE ordered-pair twin within (subset, source) blocks —
      // parity proves the engine's asymmetric prefix filter lossless
      s"""WITH d AS (
           SELECT doc_id, source, $sqlTokSet AS toks
           FROM documents WHERE doc_id % 3 = 0)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(floor(1000 * len(list_intersect(a.toks, b.toks))
             / len(a.toks)) AS BIGINT) AS contain_mills
         FROM d a JOIN d b ON a.source = b.source AND a.doc_id <> b.doc_id
         WHERE floor(1000 * len(list_intersect(a.toks, b.toks))
             / len(a.toks)) >= 700
         ORDER BY id_a, id_b"""),

    // Incremental cross-corpus dedup: classify the incoming batch
    // (doc_id % 3 = 0) against the standing corpus (doc_id % 3 <> 0) —
    // exact content-key match, LSH-banded near-dup (2 bands × 4
    // hashes, exhaustive Jaccard verify ≥ 0.5), or new. The corpus
    // side is the 100 TB side: one key aggregate + one band index
    // scan, equi-joined; text is only compared on LSH candidates.
    Query("q109_dedup_against", (s, dir) => {
      // the corpus index is built in one scan (Dedup.buildDedupIndex:
      // one md5 key, one minhash, one tokenization per doc) and
      // materialized, the steady-state shape; the batch is checkpointed
      // too, since the exact-probe, band and verify branches each read it
      val d = docsSpread(s, dir)
      val corpusIdx = graft.operators.Dedup.buildDedupIndex(
          d.where(col("doc_id") % 3 =!= 0), "text", "doc_id")
        .localCheckpoint(true)
      graft.operators.Dedup.dedupAgainstIndex(
          d.where(col("doc_id") % 3 === 0).select("doc_id", "text")
            .localCheckpoint(true),
          corpusIdx, "text", "doc_id",
          minJaccardMills = 500, maxCandidates = Int.MaxValue)
        .orderBy("doc_id")
    }, {
      val sig = (0 until 8).map(i => s"${sqlMinhash(i)} AS mh$i").mkString(", ")
      // independent recompute of the split, the key match, the 2×4
      // band index, and the exhaustive candidate verify
      s"""WITH toks AS (
           SELECT doc_id, unnest($sqlTokSet) AS tok FROM documents),
         sig AS (SELECT doc_id, $sig FROM toks GROUP BY doc_id),
         bands AS (
           SELECT doc_id, 0 AS band_no,
             mh0 || '|' || mh1 || '|' || mh2 || '|' || mh3 AS sig_s FROM sig
           UNION ALL
           SELECT doc_id, 1,
             mh4 || '|' || mh5 || '|' || mh6 || '|' || mh7 FROM sig),
         ck AS (SELECT doc_id, md5(lower(trim(text))) AS k FROM documents),
         exact AS (
           SELECT b.doc_id AS bid, min(c.doc_id) AS exact_id
           FROM ck b JOIN ck c ON b.k = c.k AND c.doc_id % 3 <> 0
           WHERE b.doc_id % 3 = 0 GROUP BY 1),
         cand AS (
           SELECT b.doc_id AS bid, c.doc_id AS cid
           FROM bands b JOIN bands c
             ON b.band_no = c.band_no AND b.sig_s = c.sig_s
           WHERE b.doc_id % 3 = 0 AND c.doc_id % 3 <> 0
             AND b.doc_id NOT IN (SELECT bid FROM exact)
           GROUP BY 1, 2),
         ts AS (SELECT doc_id, $sqlTokSet AS t FROM documents),
         ver AS (
           SELECT bid, cid,
             CAST(floor(1000 * len(list_intersect(x.t, y.t))
               / (len(x.t) + len(y.t) - len(list_intersect(x.t, y.t))))
               AS BIGINT) AS jm
           FROM cand JOIN ts x ON bid = x.doc_id JOIN ts y ON cid = y.doc_id),
         best AS (
           SELECT bid, cid, jm,
             row_number() OVER (PARTITION BY bid ORDER BY jm DESC, cid) AS rn
           FROM ver WHERE jm >= 500)
         SELECT d.doc_id,
           CASE WHEN e.exact_id IS NOT NULL THEN 'exact_dup'
                WHEN b.cid IS NOT NULL THEN 'near_dup'
                ELSE 'new' END AS verdict,
           CAST(coalesce(e.exact_id, b.cid, -1) AS BIGINT) AS matched_id,
           CAST(CASE WHEN e.exact_id IS NOT NULL THEN 1000
                ELSE coalesce(b.jm, -1) END AS BIGINT) AS jaccard_mills,
           -- q109 runs LOSSLESS (maxCandidates = Int.MaxValue): the
           -- operator's capped observability flag must be false on
           -- EVERY row — the q43 literal-flag pattern: a spuriously
           -- capped engine row hash-fails here
           FALSE AS capped
         FROM documents d
         LEFT JOIN exact e ON d.doc_id = e.bid
         LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.bid
         WHERE d.doc_id % 3 = 0 ORDER BY d.doc_id"""
    }),

    // Per-source corpus health report — the ANALYZE surface a curation
    // run ships: docs, exact-dup mass (min-id keeper rule over the
    // cleaned content key), distinct content, token/quality sums, lang
    // spread. Two hash-agg shuffles (content key, source) + one
    // equi-join back on the key.
    Query("q107_source_report", (s, dir) => {
      val d = docsSpread(s, dir)
        .select(col("doc_id"), col("source"), col("lang"),
          lower(col("text")).as("text"))
        .withColumn("q", TextFunctions.qualityScoreMills(col("text")))
        .withColumn("toks", TextFunctions.tokenCount(col("text")))
        // the ONE exact-dup key contract (q29/q109/q123): contentKey
        // trims — a second, untrimmed key definition would silently
        // disagree with the rest of the dedup family
        .withColumn("ck", TextFunctions.contentKey(col("text")))
      val keys = d.groupBy("ck").agg(min("doc_id").as("keep_id"))
      d.join(keys, Seq("ck"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L))
            .as("n_dup_docs"),
          countDistinct("ck").as("n_distinct"),
          sum("toks").as("tok_sum"),
          sum("q").as("q_sum"),
          countDistinct("lang").as("n_langs"))
        .orderBy("source")
    },
      // same keeper rule, quality contract (over LOWERED text — len
      // and alpha are case-invariant, so the m-triple carries over),
      // and rollup recomputed independently
      s"""WITH d AS (
           SELECT doc_id, source, lang,
             lower(text) AS text, md5(lower(trim(text))) AS ck
           FROM documents),
         m AS (
           SELECT doc_id, length(text) AS len,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
             CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(list_filter(string_split(
                 regexp_replace(trim(text), '\\s+', ' ', 'g'), ' '),
                 t -> t <> '')) END
               AS toks
           FROM d),
         qq AS (SELECT doc_id, toks, $sqlQualityMills AS q FROM m),
         k AS (SELECT ck, min(doc_id) AS keep_id FROM d GROUP BY ck)
         SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN d.doc_id <> k.keep_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_dup_docs,
           CAST(count(DISTINCT d.ck) AS BIGINT) AS n_distinct,
           CAST(sum(qq.toks) AS BIGINT) AS tok_sum,
           CAST(sum(qq.q) AS BIGINT) AS q_sum,
           CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs
         FROM d JOIN k USING (ck) JOIN qq ON d.doc_id = qq.doc_id
         GROUP BY d.source ORDER BY d.source"""),

    // Dedup GROUP RESOLUTION — the step after q53's components that a
    // real pipeline actually ships: per near-dup component keep the
    // best-quality member (argmax quality_mills, ties to min id);
    // singleton docs are their own keepers. One rank window per
    // component over the (component, quality) frame.
    Query("q106_dedup_keepers", (s, dir) => {
      val slice = docsSpread(s, dir).where(col("doc_id") % 5 === 0)
        .select(col("doc_id"),
          TextFunctions.qualityScoreMills(col("text")).as("q"))
      val comps = graft.operators.Dedup.connectedComponents(lshPairs(s, dir))
        .select(col("id").as("doc_id"), col("comp"))
      val labeled = slice.join(comps, Seq("doc_id"), "left")
        .withColumn("component", coalesce(col("comp"), col("doc_id")))
        .drop("comp")
      val w = Window.partitionBy("component")
        .orderBy(col("q").desc, col("doc_id"))
      labeled.withColumn("rk", row_number().over(w))
        .groupBy("component")
        .agg(count(lit(1)).as("n_members"),
          min(when(col("rk") === 1, col("doc_id"))).as("keeper"),
          min(when(col("rk") === 1, col("q"))).as("keeper_quality"),
          sum("q").as("quality_sum"))
        .orderBy("component")
    },
      // q53's transitive closure + the q31-contract quality formula +
      // an independent argmax derivation; singletons self-keep
      s"""WITH RECURSIVE $lshPairsCtes,
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION
           SELECT id_b AS src, id_a AS dst FROM pairs),
         reach AS (
           SELECT src AS id, src AS comp FROM edges
           UNION
           SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON e.src = r.id),
         compo AS (SELECT id AS doc_id, min(comp) AS component
                   FROM reach GROUP BY id),
         m AS (
           SELECT doc_id, length(text) AS len,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
             CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(list_filter(string_split(
                 regexp_replace(trim(text), '\\s+', ' ', 'g'), ' '),
                 t -> t <> '')) END
               AS toks
           FROM documents WHERE doc_id % 5 = 0),
         qq AS (SELECT doc_id, $sqlQualityMills AS q FROM m),
         lab AS (
           SELECT qq.doc_id, coalesce(c.component, qq.doc_id) AS component,
             qq.q
           FROM qq LEFT JOIN compo c USING (doc_id)),
         rk AS (
           SELECT *, row_number() OVER (PARTITION BY component
             ORDER BY q DESC, doc_id) AS rk
           FROM lab)
         SELECT component, CAST(count(*) AS BIGINT) AS n_members,
           min(CASE WHEN rk = 1 THEN doc_id END) AS keeper,
           min(CASE WHEN rk = 1 THEN q END) AS keeper_quality,
           CAST(sum(q) AS BIGINT) AS quality_sum
         FROM rk GROUP BY component ORDER BY component"""),

    // Multi-index Hamming join (Norouzi et al. 2012): near-dup pairs
    // at Hamming <= 2 over a 24-bit simhash via pigeonhole block
    // equi-joins — the distance regime the single-bit-flip probe
    // expansion (q48) cannot reach. Summary form: per-distance pair
    // counts + id checksums pin the full pair set.
    Query("q105_hamming2_pairs", (s, dir) =>
      graft.operators.Dedup.hammingNearDupPairs(
          docsSpread(s, dir).select(col("doc_id"),
            TextFunctions.simhash(col("text"), HammingBits).as("h")),
          "doc_id", "h", HammingBits, HammingMaxDist)
        .groupBy("hamming")
        .agg(count(lit(1)).as("n_pairs"),
          sum("id_a").as("sum_a"), sum("id_b").as("sum_b"),
          min("id_a").as("min_a"), max("id_b").as("max_b"))
        .orderBy("hamming"), {
      // the NAIVE all-pairs twin over the q33-contract simhash at 24
      // bits — parity proves the pigeonhole blocking lossless and
      // duplicate-free
      val sums = (0 until HammingBits).map(i =>
        s"sum(CASE WHEN ascii(substr(md5(tok), ${i + 1}, 1)) % 2 = 1 THEN 1 ELSE -1 END) AS s$i")
        .mkString(", ")
      val pack = (0 until HammingBits).map(i =>
        s"(CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
      s"""WITH toks AS (
           SELECT doc_id, unnest($sqlTokSet) AS tok FROM documents),
         bits AS (SELECT doc_id, $sums FROM toks GROUP BY doc_id),
         h AS (SELECT doc_id, CAST($pack AS BIGINT) AS hh FROM bits),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.hh, b.hh)) AS BIGINT) AS hamming
           FROM h a JOIN h b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.hh, b.hh)) <= $HammingMaxDist)
         SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(id_a) AS BIGINT) AS sum_a,
           CAST(sum(id_b) AS BIGINT) AS sum_b,
           min(id_a) AS min_a, max(id_b) AS max_b
         FROM p GROUP BY hamming ORDER BY hamming"""
    }),

    // CCNet's head/middle/tail split (Wenzek et al. 2020 §4.3): the
    // q95 scores cut at EXACT per-stratum terciles — boundary b_k =
    // smallest score whose cumulative count reaches ceil(kN/3),
    // computed over the (stratum, score) HISTOGRAM (the q74/q57
    // pattern: the cumsum window runs over distinct integer scores,
    // never the corpus). Lower bits = more target-like = head.
    Query("q104_ccnet_split", (s, dir) => {
      val lowered = docsSpread(s, dir)
        .select(col("doc_id"), col("lang"), lower(col("text")).as("text"))
      // round-13 OPT: `scored` feeds three consumers (per-lang totals,
      // the cumulative histogram, the final bucket join) — each used to
      // re-execute the corpus token explode + LM cost join. The frame
      // is slim (one (id, lang, score) row per doc), so materialize it
      // once; values unchanged.
      val scored = graft.operators.TextAnalysis.unigramCodeLength(
          lowered, lowered.where(col("lang") === "en"), "text", "doc_id")
        .where(col("n_toks") > 0)
        .join(lowered.select("doc_id", "lang"), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("avg_bits_mills").as("s"))
        .localCheckpoint(true)
      val tot = scored.groupBy("lang").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("lang").orderBy("s")
      val cum = scored.groupBy("lang", "s").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum("c").over(w))
      val bounds = cum.join(tot, Seq("lang"))
        .groupBy("lang")
        .agg(min(when(col("cum") >= expr("(n + 2) div 3"), col("s"))).as("b1"),
          min(when(col("cum") >= expr("(2 * n + 2) div 3"), col("s"))).as("b2"))
      scored.join(broadcast(bounds), Seq("lang"))
        .withColumn("bucket", when(col("s") <= col("b1"), "head")
          .when(col("s") <= col("b2"), "middle").otherwise("tail"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"), min("s").as("min_mills"),
          max("s").as("max_mills"), sum("s").as("sum_mills"))
        .orderBy("lang", "bucket")
    },
      // the shared q95 score recompute + an independent exact-tercile
      // derivation over the (lang, score) histogram
      s"""WITH $unigramCeCtes,
         scored AS (
           SELECT t.doc_id, t.lang,
             sc.total_bits_mills // sc.n_toks AS s
           FROM t JOIN sc USING (doc_id) WHERE sc.n_toks > 0),
         tot2 AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
                  FROM scored GROUP BY lang),
         h AS (SELECT lang, s, CAST(count(*) AS BIGINT) AS c
               FROM scored GROUP BY 1, 2),
         cum AS (SELECT lang, s,
                   sum(c) OVER (PARTITION BY lang ORDER BY s) AS cum
                 FROM h),
         b AS (SELECT cum.lang,
                 min(CASE WHEN cum >= (n + 2) // 3 THEN s END) AS b1,
                 min(CASE WHEN cum >= (2 * n + 2) // 3 THEN s END) AS b2
               FROM cum JOIN tot2 USING (lang) GROUP BY cum.lang),
         a AS (SELECT scored.lang,
                 CASE WHEN s <= b1 THEN 'head'
                   WHEN s <= b2 THEN 'middle' ELSE 'tail' END AS bucket, s
               FROM scored JOIN b USING (lang))
         SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
           min(s) AS min_mills, max(s) AS max_mills,
           CAST(sum(s) AS BIGINT) AS sum_mills
         FROM a GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** The corpus token MULTISET (one `tok` row per occurrence; tokens()
    * never emits empties post-migration) — the Spark side of the
    * `sqlTokRows` parity contract, shared by q75, q83 and q84. Edit
    * both together or neither. */
  private def tokStream(s: SparkSession, dir: String): DataFrame =
    docsSpread(s, dir)
      .select(explode(TextFunctions.tokens(lower(col("text")))).as("tok"))

  /** The exact top-K vocabulary (tie-break cnt DESC, tok ASC) — q75's
    * result AND q84's probe set; one definition so the two can never
    * drift. */
  private def vocabTopK(s: SparkSession, dir: String): DataFrame =
    tokStream(s, dir)
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(VocabTopK)

  /** DuckDB twin of the canonical token set — the single shared parity
    * contract with `TextHash.tokensOf`; every oracle over token sets
    * (q29-q36 here, q48 in SparkEntry) must reference THIS value. */
  private[graft] val sqlTokSet =
    "list_sort(list_filter(list_distinct(string_split(regexp_replace(" +
      "lower(trim(text)), '\\s+', ' ', 'g'), ' ')), t -> t <> ''))"

  private def sqlMinhash(seed: Int, tokExpr: String = "tok"): String =
    s"min(md5($tokExpr || '#$seed'))"

  /** q194's sampled audit universe: the q192 subset cut by the q70
    * md5-threshold kernel at [[ScurveSampleRate]] — the one filter
    * BOTH the sampled-audit CTE chain and its ground-truth/coverage
    * subqueries must share (q70's threshold arithmetic verbatim). */
  private lazy val scurveSampleFilter: String = {
    val th = (ScurveSampleRate * 4294967296.0).toLong
    "doc_id % 5 = 0 AND CAST(('0x' || substr(md5(CAST(doc_id AS " +
      s"VARCHAR)), 1, 8)) AS BIGINT) < $th"
  }

  /** DuckDB CTEs producing q35's LSH candidate-pair graph as `pairs`. */
  private val lshPairsCtes: String = lshPairsCtesWhere("doc_id % 5 = 0")

  /** As [[lshPairsCtes]] over an arbitrary document filter — q194's
    * sampled audit twin bands its sample with the IDENTICAL chain. */
  private def lshPairsCtesWhere(docFilter: String): String = {
    val sig = (0 until 8).map(i => s"${sqlMinhash(i)} AS mh$i").mkString(", ")
    s"""toks AS (
         SELECT doc_id, unnest($sqlTokSet) AS tok
         FROM documents WHERE $docFilter),
       sig AS (SELECT doc_id, $sig FROM toks GROUP BY doc_id),
       bands AS (
         SELECT doc_id, 0 AS band_no,
           mh0 || '|' || mh1 || '|' || mh2 || '|' || mh3 AS sig_s FROM sig
         UNION ALL
         SELECT doc_id, 1 AS band_no,
           mh4 || '|' || mh5 || '|' || mh6 || '|' || mh7 AS sig_s FROM sig),
       bstat AS (
         SELECT doc_id, band_no, sig_s,
           count(*) OVER (PARTITION BY band_no, sig_s) AS bsz,
           min(doc_id) OVER (PARTITION BY band_no, sig_s) AS bmin
         FROM bands),
       pairs AS (
         SELECT DISTINCT id_a, id_b FROM (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bstat a JOIN bstat b
             ON a.band_no = b.band_no AND a.sig_s = b.sig_s
             AND a.doc_id < b.doc_id
           WHERE a.bsz <= $LshBucketCap
           UNION ALL
           SELECT bmin AS id_a, doc_id AS id_b FROM bstat
           WHERE bsz > $LshBucketCap AND doc_id <> bmin))"""
  }

  /** DuckDB twin of `TextFunctions.tokenCount` — shared wherever an
    * oracle needs the whitespace token count (q30, q69). */
  private[graft] val sqlTokenCount =
    """CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
       ELSE len(list_filter(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' '), t -> t <> '')) END"""

  /** q79's full DuckDB twin, factored to a val so q117's hybrid-RRF
    * oracle can embed the IDENTICAL lexical ranking as a subquery.
    * Constants via Double.toString: the shortest round-trip repr parses
    * back to the IDENTICAL double under DuckDB's correctly-rounding
    * reader. EVERY numeric literal is CAST to DOUBLE — DuckDB types
    * bare decimal literals as DECIMAL and computes mixed BIGINT*DECIMAL
    * exactly in decimal, a different double than Spark's double
    * multiply (1-ulp flips at floor bins). */
  private[graft] lazy val bm25OracleSql: String = {
    val k1 = s"CAST(${Bm25K1} AS DOUBLE)"
    val k1p1 = s"CAST(${Bm25K1 + 1.0} AS DOUBLE)"
    val b = s"CAST(${Bm25B} AS DOUBLE)"
    val oneMinusB = s"CAST(${1.0 - Bm25B} AS DOUBLE)"
    val half = "CAST(0.5 AS DOUBLE)"
    val vals = Bm25Queries
      .map { case (id, t) => s"(CAST($id AS BIGINT), '$t')" }
      .mkString(", ")
    s"""WITH d0 AS (
         SELECT doc_id, $tokenListSql AS l,
           CAST($sqlTokenCount AS BIGINT) AS dl
         FROM documents),
       st AS (SELECT count(*) AS n,
              CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM d0),
       q AS (SELECT * FROM (VALUES $vals) AS t(qid, qtext)),
       qt AS (SELECT DISTINCT qid, term FROM
               (SELECT qid, unnest(list_filter(string_split(
                  regexp_replace(trim(qtext), '\\s+', ' ', 'g'), ' '),
                  t -> t <> '')) AS term FROM q)),
       vocab AS (SELECT DISTINCT term FROM qt),
       post AS (
         SELECT term, doc_id, dl, count(*) AS tf
         FROM (SELECT doc_id, dl, unnest(l) AS term FROM d0)
         JOIN vocab USING (term)
         GROUP BY 1, 2, 3),
       dfq AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
       sc AS (
         SELECT qid, doc_id,
           CAST(sum(CAST(floor(
             CAST(1000.0 AS DOUBLE) * ((n - df + $half) / (df + $half))
               * (tf * $k1p1) /
             (tf + $k1 * ($oneMinusB + $b * (dl / avgdl)))) AS BIGINT))
             AS BIGINT) AS score_mills
         FROM post JOIN dfq USING (term) JOIN qt USING (term) CROSS JOIN st
         GROUP BY 1, 2),
       r AS (SELECT qid, doc_id, score_mills,
               row_number() OVER (PARTITION BY qid
                 ORDER BY score_mills DESC, doc_id) AS rank FROM sc)
       SELECT qid, rank, doc_id, score_mills FROM r WHERE rank <= $Bm25K
       ORDER BY qid, rank"""
  }
}
