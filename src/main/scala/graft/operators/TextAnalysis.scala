package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document-level text analysis: token counting, quality scoring,
  * language ID, fingerprinting — one narrow projection per document,
  * fully codegen'd (no UDFs), so the scan stays the only cost at scale.
  */
object TextAnalysis {

  /** Marker lists for the language-ID heuristic. For real corpora these
    * are per-language stopword n-gram tables (broadcast-sized); the
    * mechanism (token-hit argmax) is the operator. */
  val DefaultMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"))

  val DefaultStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "for")

  /** Repetition-filter thresholds (Gopher-style; shared with q65's
    * oracle SQL — edit HERE). Docs whose single most frequent word
    * bigram covers ≥ 20% of all bigrams, or whose repeated trigrams
    * cover ≥ 30% of all trigrams, fail the filter. */
  val MaxTopBigramShareMills: Long = 200L
  val MaxDupTrigramMills: Long = 300L

  /** Gopher/C4-style repetition quality signals per document (the
    * standard pretraining-data repetition filters, word-level): the
    * most-frequent-bigram share and the repeated-trigram mass, in
    * mills, plus the combined pass flag. Only docs with ≥ 3 tokens
    * (a non-empty trigram set) are scored. Shape: one explode of the
    * order-tagged n-gram union through a single counting shuffle and a
    * per-doc conditional rollup — work linear in corpus token count. */
  def repetitionStats(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val base = df.where(col(textCol).isNotNull)
      .select(col(idCol),
        TextFunctions.wordNGrams(col(textCol), 2).as("bi"),
        TextFunctions.wordNGrams(col(textCol), 3).as("tri"))
      .where(size(col("tri")) > 0)
    // ONE explode of the order-tagged n-gram union -> one (id, n, gram)
    // counting shuffle -> one per-doc rollup. Conditional aggregates
    // split the orders back out; no second shuffle tree, no join.
    val tagged = base.select(col(idCol), explode(concat(
        transform(col("bi"), g => struct(lit(2).as("n"), g.as("g"))),
        transform(col("tri"), g => struct(lit(3).as("n"), g.as("g"))))).as("t"))
      .select(col(idCol), col("t.n").as("n"), col("t.g").as("g"))
    tagged.groupBy(col(idCol), col("n"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(
        floor(lit(1000) * max(when(col("n") === 2, col("c")))
          / sum(when(col("n") === 2, col("c")))).cast("long")
          .as("top_bigram_share_mills"),
        floor(lit(1000) * sum(when(col("n") === 3 && col("c") > 1, col("c")).otherwise(0L))
          / sum(when(col("n") === 3, col("c")))).cast("long")
          .as("dup_trigram_mills"))
      .withColumn("repetition_ok",
        col("top_bigram_share_mills") < MaxTopBigramShareMills &&
          col("dup_trigram_mills") < MaxDupTrigramMills)
  }

  /** Sequence packing — the pretraining "concat then chunk" step:
    * documents in deterministic `idCol` order are laid head-to-tail on
    * a token stream per shard; a sequence is one `budgetTokens`-sized
    * chunk of that stream, and a document belongs to the chunk where it
    * STARTS (`seq_no`), at `seq_offset` tokens into it. A doc longer
    * than the budget simply spans into later chunks (standard packing
    * semantics — the consumer slices by token range).
    *
    * Scale shape: the running sum is a window partitioned by
    * `shardCol`, NOT a global ordered window — a global cumsum would
    * funnel 100 TB through one sorted partition. Real pipelines pack
    * per shard (per worker/file-group) for exactly this reason; shard
    * boundaries waste at most one partial sequence each. */
  def packSequences(df: DataFrame, textCol: String, idCol: String,
      shardCol: String, budgetTokens: Int): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens=$budgetTokens must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.select(col(shardCol), col(idCol),
        TextFunctions.tokenCount(col(textCol)).as("n_tokens"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("seq_no", floor(col("cum_before") / budgetTokens).cast("long"))
      .withColumn("seq_offset", (col("cum_before") % budgetTokens).cast("long"))
      .drop("cum_before")
  }

  /** Sliding-window document chunking — the context-window step of a
    * pretraining pipeline (and the retrieval-index unit of a RAG one):
    * each document's token list is cut into windows of `chunkTokens`
    * tokens advancing by `chunkTokens - overlap` (so consecutive
    * windows share `overlap` tokens); the final window may be shorter
    * (it is the tail, never re-aligned), and a document shorter than
    * one window yields exactly one chunk. Documents with no tokens
    * yield no chunks. Output per chunk: `chunk_no` (0-based),
    * `start_tok`, `n_toks`, and `chunk_md5` (md5 of the space-joined
    * window — the cross-engine digest of the chunk's content).
    *
    * Complements [[packSequences]]: packing lays documents head-to-
    * tail into fixed budgets; chunking cuts EACH document into
    * overlapping windows. Scale shape: a pure per-row projection +
    * explode — no join, no aggregate, no window function, so the scan
    * is the only cost and the operator composes with partition
    * pruning. Chunk count per doc is ceil((n - overlap) / stride), so
    * output token mass is at most n · chunkTokens/stride — a fixed
    * small multiple chosen by the caller, linear in corpus size. */
  def chunkDocs(df: DataFrame, textCol: String, idCol: String,
      chunkTokens: Int, overlap: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens=$chunkTokens must be >= 1")
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap=$overlap must be in [0, chunkTokens)")
    val reserved = Seq("chunk_no", "start_tok", "n_toks", "chunk_md5",
      "__toks", "__win")
    Seq(idCol, textCol).foreach(c =>
      require(!reserved.contains(c), s"column '$c' is reserved"))
    val stride = chunkTokens - overlap
    val toks = TextFunctions.tokens(col(textCol))
    // integer ceil((n - overlap) / stride) — via floor on the shifted
    // numerator (Spark's `/` on ints is double division; floor makes
    // the intended integer semantics explicit and exact). The lower
    // bound of 1 covers n <= overlap (a sub-window doc is one chunk)
    val nChunks = greatest(lit(1L),
      floor((size(col("__toks")) - overlap + (stride - 1))
        .cast("double") / stride).cast("long"))
    df.select(col(idCol), toks.as("__toks"))
      .where(size(col("__toks")) > 0)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_no"))
      .withColumn("start_tok", col("chunk_no") * stride)
      .withColumn("__win",
        slice(col("__toks"), col("start_tok").cast("int") + 1, lit(chunkTokens)))
      .select(col(idCol), col("chunk_no"), col("start_tok"),
        size(col("__win")).cast("long").as("n_toks"),
        md5(array_join(col("__win"), " ")).as("chunk_md5"))
  }

  /** Cross-document duplicated-passage detection — the exact-substring
    * dedup signal of a pretraining pipeline (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022, at token-
    * window granularity): a document's window is "duplicated" when the
    * SAME `windowTokens`-token run (window md5) occurs in at least one
    * OTHER document.
    *
    * Window starts are CONTENT-DEFINED (winnowing-style, Schleimer,
    * Wilkerson, Aiken, "Winnowing: local algorithms for document
    * fingerprinting", SIGMOD 2003): position i starts a window iff the
    * md5 bucket of token i is ≡ 0 mod `anchorMod` (and a full-width
    * window fits). Because the anchor depends on the TOKEN, not the
    * offset, two copies of the same run anchor at the same content
    * positions regardless of where each copy sits in its document —
    * a fixed-stride grid would miss copies at different alignments
    * (only ~1/stride of independently-placed pairs line up).
    * `anchorMod = 1` anchors every position: exhaustive stride-1
    * detection, window mass × windowTokens. `anchorMod = p` samples
    * ~1/p of positions: a shared run of R ≥ windowTokens tokens is
    * detected unless NONE of its first R − windowTokens + 1 tokens
    * anchor (miss probability ≈ (1 − 1/p)^(R−windowTokens+1), and
    * identical docs are always detected in full).
    *
    * Docs shorter than one window, or with no anchored full-width
    * window, emit no row. Output per emitted doc: `n_windows`
    * (anchored windows), `n_dup_windows`, `dup_mills` =
    * floor(1000·dup/total) — the passage-contamination signal.
    * Intra-document repetition deliberately does NOT count (frequency
    * is per distinct doc): that signal is [[repetitionStats]]'s job.
    *
    * Scale shape — ONE corpus scan: the scan/tokenize/anchor/md5
    * lineage reduces to the per-(window, doc) index (one row per
    * distinct window hash per doc, intra-doc repeats crushed by the
    * map-side partial agg) which is EAGERLY localCheckpoint'ed — the
    * materialized index is the price of not rescanning the corpus for
    * the two consumers (the same trade [[bloomDecontam]] documents).
    * The window doc-frequency is an agg over THAT index (one row per
    * distinct hash), and the join back is equi-keyed — AQE skew
    * handling applies to a boilerplate passage shared by millions of
    * docs, where an unsplittable count-over-window partition would
    * not. No doc×doc pair space anywhere. */
  def dupPassageStats(df: DataFrame, textCol: String, idCol: String,
      windowTokens: Int, anchorMod: Int): DataFrame = {
    require(windowTokens >= 1, s"windowTokens=$windowTokens must be >= 1")
    require(anchorMod >= 1, s"anchorMod=$anchorMod must be >= 1")
    val reserved = Seq("n_windows", "n_dup_windows", "dup_mills",
      "__toks", "__pos", "__tok", "__h", "__c", "__nd")
    Seq(idCol, textCol).foreach(c =>
      require(!reserved.contains(c), s"column '$c' is reserved"))
    val toks = TextFunctions.tokens(col(textCol))
    // anchor contract: md5(token), first 15 hex chars as a 60-bit int,
    // mod anchorMod — the UNSALTED sibling of CountMin.bucket, and the
    // DuckDB twin of q86 (TextQueries) recomputes it verbatim
    val anchored = df.select(col(idCol), toks.as("__toks"))
      .where(size(col("__toks")) >= windowTokens)
      .select(col(idCol), col("__toks"),
        posexplode(col("__toks")).as(Seq("__pos", "__tok")))
      .where(col("__pos") <= size(col("__toks")) - windowTokens &&
        conv(substring(md5(col("__tok")), 1, 15), 16, 10)
          .cast("long") % anchorMod === 0)
      .select(col(idCol),
        md5(array_join(
          slice(col("__toks"), col("__pos") + 1, lit(windowTokens)),
          " ")).as("__h"))
    val index = anchored
      .groupBy(col("__h"), col(idCol)).agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)
    val freq = index.groupBy(col("__h"))
      .agg(count(lit(1)).as("__nd"))
    index.join(freq, Seq("__h"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_windows"),
        sum(when(col("__nd") > 1, col("__c")).otherwise(0L)).as("n_dup_windows"))
      .withColumn("dup_mills",
        floor(lit(1000) * col("n_dup_windows") / col("n_windows")).cast("long"))
  }

  /** Cross-document duplicated-passage REMOVAL — [[dupPassageStats]]
    * actually applied (Lee et al. 2022 §4.2's ExactSubstr dedup, at
    * the same anchored token-window granularity): every anchored
    * `windowTokens`-token window that occurs in 2+ documents is CUT
    * from every document EXCEPT the window's canonical holder (the
    * minimum `idCol` containing it) — deterministic PER-WINDOW keeper
    * selection. Coverage is positional: a removed window blanks its
    * `windowTokens` token positions; overlapping removed windows union
    * their spans. NOTE the survival guarantee is per window, not per
    * passage: when two duplicated windows with DIFFERENT keepers
    * overlap inside one document, a keeper's copy can be partially
    * blanked by the OTHER window's removal, so an intact copy of that
    * exact run may survive nowhere — the price of positional union
    * semantics (Lee et al.'s span cutting behaves the same way).
    * The cleaned text is the
    * surviving tokens rejoined with single spaces (the operator works
    * in token space, like the rest of the q85/q86 family — callers
    * wanting case-insensitive matching lower the text upstream).
    *
    * Row-preserving: one output row per input document —
    * (idCol, n_toks, n_removed, clean_md5, clean_text); an untouched
    * doc has n_removed = 0 and clean_text = the space-rejoined tokens.
    *
    * Scale shape, mirroring [[dupPassageStats]]: ONE scan builds the
    * (window, doc, start) anchor index, eagerly checkpointed — it
    * feeds both the frequency/keeper agg (key space = distinct
    * windows) and the dup-start join back. Covered positions explode
    * ×windowTokens from DUP STARTS ONLY (output bounded by true dup
    * mass, not corpus mass), the kept-token anti-join is equi-keyed on
    * (doc, position), and the rebuild is one per-doc rollup. No
    * doc×doc pair space anywhere. */
  def removeDupPassages(df: DataFrame, textCol: String, idCol: String,
      windowTokens: Int, anchorMod: Int): DataFrame = {
    require(windowTokens >= 1, s"windowTokens=$windowTokens must be >= 1")
    require(anchorMod >= 1, s"anchorMod=$anchorMod must be >= 1")
    val reserved = Seq("n_toks", "n_removed", "clean_md5", "clean_text",
      "__toks", "__p", "__tok", "__h", "__nd", "__keep", "__cp", "__kept")
    Seq(idCol, textCol).foreach(c =>
      require(!reserved.contains(c), s"column '$c' is reserved"))
    // null text must read as the empty token list: size(null) = -1
    // would otherwise emit n_toks = -1 / n_removed = -1 for direct
    // callers (processCorpus guarantees non-null upstream, but the
    // operator's own contract is row-preserving over ANY input)
    val toks = coalesce(
      TextFunctions.tokens(col(textCol)),
      typedLit(Seq.empty[String]))
    val base = df.select(col(idCol), toks.as("__toks"))
    // anchored (window hash, doc, start) index — same md5-bucket anchor
    // contract as dupPassageStats; checkpointed once, read twice
    val anchors = base
      .where(size(col("__toks")) >= windowTokens)
      .select(col(idCol), col("__toks"),
        posexplode(col("__toks")).as(Seq("__p", "__tok")))
      .where(col("__p") <= size(col("__toks")) - windowTokens &&
        conv(substring(md5(col("__tok")), 1, 15), 16, 10)
          .cast("long") % anchorMod === 0)
      .select(col(idCol), col("__p"),
        md5(array_join(
          slice(col("__toks"), col("__p") + 1, lit(windowTokens)),
          " ")).as("__h"))
      .localCheckpoint(true)
    val freq = anchors.groupBy(col("__h")).agg(
      countDistinct(col(idCol)).as("__nd"), min(col(idCol)).as("__keep"))
    // starts to cut: duplicated windows in every non-canonical holder
    val dupStarts = anchors.join(freq, Seq("__h"))
      .where(col("__nd") > 1 && col(idCol) =!= col("__keep"))
    val covered = dupStarts
      .select(col(idCol),
        explode(sequence(col("__p"), col("__p") + (windowTokens - 1))).as("__p"))
      .distinct()
    val tokRows = base
      .select(col(idCol), posexplode(col("__toks")).as(Seq("__p", "__tok")))
    val rebuilt = tokRows.join(covered, Seq(idCol, "__p"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("__p"), col("__tok")))),
            s => s.getField("__tok")), " ").as("clean_text"))
    df.select(col(idCol), size(toks).cast("long").as("n_toks"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_toks"),
        (col("n_toks") - coalesce(col("__kept"), lit(0L))).as("n_removed"),
        md5(coalesce(col("clean_text"), lit(""))).as("clean_md5"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** DSIR-style importance scoring (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * every source document by how much its hashed-bigram distribution
    * looks like a TARGET exemplar set versus the source corpus itself —
    * the data-selection step that upweights target-domain-like raw
    * data. Features are word bigrams hashed into `buckets` buckets
    * (md5 salted with '#dsir', first 15 hex chars mod buckets — the
    * CMS-family cross-engine hash contract), so the model size is
    * BOUNDED by the caller regardless of corpus vocabulary.
    *
    * Scoring is a RATIONAL importance ratio in exact integer mills,
    * not the paper's log-likelihood ratio: per bucket,
    *   w = floor(1000 · (tgt+1)(Nsrc+B) / ((src+1)(Ntgt+B)))
    * (add-one smoothing, totals-normalized). `ln` is the one op that
    * is not bit-portable across engines (the BM25 rational-idf trade,
    * documented there); the rational ratio preserves the per-bucket
    * target-likeness ordering exactly and keeps every score
    * bit-identical in DuckDB via the same DECIMAL/HUGEINT integer
    * pipeline.
    *
    * The SELECTION key is `dsir_avg_mills` = floor(sum w / n_grams) —
    * the mean importance ratio per gram. The raw sum (`dsir_mills`,
    * also emitted, for budget-weighted uses) is length-dominated:
    * weights center at 1000 (ratio 1), so a sum ranks long documents
    * first regardless of target-likeness — measured at 0.22 top-50
    * agreement with the paper's log-ratio ranking on the fixture,
    * versus 0.96 for the per-gram mean (the spec's rank-agreement
    * canary pins the floor).
    *
    * Scale shape: gram→bucket is a pure projection; both count tables
    * and the weight table are bounded by `buckets` rows (broadcast);
    * totals are 1-row broadcasts; the only corpus-sized shuffle is the
    * per-doc sum. Row-preserving: docs with no bigrams score 0. */
  def importanceScore(source: DataFrame, target: DataFrame, textCol: String,
      idCol: String, buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets=$buckets must be >= 1")
    val reserved = Seq("n_grams", "dsir_mills", "dsir_avg_mills",
      "__g", "__b", "__sc", "__tc", "__ns", "__nt", "__w")
    Seq(idCol, textCol).foreach(c =>
      require(!reserved.contains(c), s"column '$c' is reserved"))
    // round-13 OPT: the gram totals derive from the bucket-count aggs
    // (Σ__sc = __ns, Σ__tc = __nt — the skipgramPmi rule: never a
    // second gram-sized scan just for a total). That removes one
    // full source gram pass and one target gram pass; when AQE
    // ReusedExchange fires on the shared bucket-agg exchange the
    // remaining duplicate collapses too. NOTE a rejected variant,
    // measured: pre-aggregating to a (id, bucket) count frame and
    // routing sc/scored through it ADDED a corpus-sized exchange where
    // this operator deliberately has none (its only corpus-sized
    // shuffle is the partial-agg'd per-doc sum) — q92 went 1.7 s →
    // 3.2 s warm and the variant was dropped.
    //
    // round-14 OPT (guide §1.2 step 2): the gram→bucket projection now
    // rides TextHash.gramBuckets — a codegen'd single-pass kernel (one
    // tokenization per row, one md5 per gram, bucket read from the raw
    // digest bytes) that is provably value-identical to the old
    // explode(wordNGrams) + conv(substring(md5(concat(g, salt))))
    // chain but skips building the gram string, the 32-char hex
    // format, and the conv parse per gram (TextVectorSpec pins the
    // parity). NOTE a second rejected variant, measured (this round):
    // checkpointing a compact (id, array<bucket>) frame so the source
    // side's two consumers share ONE gram pass LOST to the plain
    // re-scan at bench scale — the eager checkpoint job costs more
    // than the second (cheap, codegen'd) pass; interleaved same-JVM
    // A/B read old 0.25–0.34 s vs checkpointed 0.35–0.46 s.
    def gramBuckets(df: DataFrame, keep: Seq[Column]): DataFrame =
      df.select(keep :+ explode(graft.functions.TextHash.gramBuckets(
        col(textCol), 2, "#dsir", buckets)).as("__b"): _*)
    val sg = gramBuckets(source, Seq(col(idCol)))
    val tg = gramBuckets(target, Seq.empty)
    val sc = sg.groupBy("__b").agg(count(lit(1)).as("__sc"))
    val tc = tg.groupBy("__b").agg(count(lit(1)).as("__tc"))
    // both sides are 1-row aggs; the explicit hint makes the
    // bounded-side contract uniform instead of relying on AQE to
    // notice the 1-row estimate at runtime
    // coalesce: sum() over an EMPTY bucket-agg frame is NULL where the
    // pre-r13 count(*) totals were 0 — without it an empty source or
    // target corpus NULLs every smoothed weight and the scores collapse
    // to coalesced 0 instead of the smoothed defaults (ADVICE r13)
    val totals = sc.agg(coalesce(sum(col("__sc")), lit(0L)).as("__ns"))
      .crossJoin(broadcast(
        tc.agg(coalesce(sum(col("__tc")), lit(0L)).as("__nt"))))
    // weight table over ALL buckets (absent buckets still carry the
    // smoothed default weight) — bounded by `buckets`, broadcast
    val wt = source.sparkSession.range(buckets).toDF("__b")
      .join(sc, Seq("__b"), "left").join(tc, Seq("__b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("__b"), expr(
        // DECIMAL(38,0) on BOTH sides: int64 products overflow past
        // ~3e9 grams per side, a size a real corpus reaches
        s"""CAST((CAST(1000 AS DECIMAL(38,0)) * (coalesce(__tc, 0) + 1) * (__ns + $buckets))
            div (CAST(coalesce(__sc, 0) + 1 AS DECIMAL(38,0)) * (__nt + $buckets)) AS BIGINT)""").as("__w"))
    val scored = sg.join(broadcast(wt), Seq("__b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"), sum(col("__w")).as("dsir_mills"))
    source.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("dsir_mills"), lit(0L)).as("dsir_mills"),
        coalesce(expr("dsir_mills div n_grams"), lit(0L)).as("dsir_avg_mills"))
  }

  /** Gopher quality-rule document flags (Rae et al., "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher", 2021,
    * Appendix A1.1) — the rule-based quality filter every major
    * pretraining pipeline applies before model-based scoring. Emits
    * the rule METRICS in exact integer mills plus per-rule booleans
    * and the conjunction `gopher_ok`:
    *
    *  - word count in [50, 100,000];
    *  - mean word length in [3, 10] characters;
    *  - symbol-to-word ratio ('#', '...', '…') ≤ 0.1;
    *  - lines starting with a bullet ('-', '*', '•') ≤ 90%;
    *  - lines ending in an ellipsis ≤ 30%;
    *  - words with at least one alphabetic character ≥ 80%;
    *  - at least `minStopHits` DISTINCT words from `stopwords` present
    *    (the paper's list is [[GopherStopwords]]; callers gate corpora
    *    in other languages/domains with their own list).
    *
    * All ratios are floor(1000·a/b) integer mills over integer counts
    * (zero-word/zero-line docs emit 0 and fail the word-count rule),
    * so every column is bit-identical cross-engine. Scale shape: a
    * pure per-row projection — no shuffle, no join; composes with
    * partition pruning like the other scan-side scorers (q30/q31). */
  def gopherQualityFlags(df: DataFrame, textCol: String, idCol: String,
      stopwords: Seq[String] = GopherStopwords,
      minStopHits: Int = 2,
      keepColumns: Seq[String] = Nil): DataFrame = {
    require(stopwords.nonEmpty, "stopwords must be non-empty")
    require(minStopHits >= 0, s"minStopHits=$minStopHits must be >= 0")
    // the sibling-operator discipline: an idCol/keepColumns entry named
    // like an output column would be silently overwritten by withColumn
    val reserved = Seq("n_words", "mean_word_len_mills", "symbol_mills",
      "bullet_mills", "ellipsis_mills", "alpha_word_mills", "stop_hits",
      "gopher_ok")
    (Seq(idCol) ++ keepColumns).foreach(c =>
      require(!reserved.contains(c), s"column '$c' is reserved"))
    // NULL text normalizes to "" up front: size(split(NULL)) is -1, and
    // mills(-1, -1) would report a phantom 1000 (100% bullet/ellipsis
    // lines) for null docs into any per-rule metric rollup
    val safeText = coalesce(col(textCol), lit(""))
    val toks = TextFunctions.tokens(safeText)
    val lines = split(safeText, "\n")
    def mills(num: Column, den: Column): Column =
      when(den === 0, 0L).otherwise(floor(lit(1000) * num / den)).cast("long")
    def occurrences(pat: String): Column =
      ((length(safeText) - length(regexp_replace(safeText,
        java.util.regex.Pattern.quote(pat), ""))) / pat.length).cast("long")
    val nW = col("n_words")
    // keepColumns ride the projection untouched — the streaming gate
    // (a stream cannot join flags back on the id) carries its payload
    // through here; the default stays the slim q91 frame
    df.select((Seq(idCol, textCol) ++ keepColumns).map(col): _*)
      .withColumn("n_words", size(toks).cast("long"))
      .withColumn("mean_word_len_mills",
        mills(length(regexp_replace(safeText, "\\s+", "")), nW))
      .withColumn("symbol_mills",
        mills(occurrences("#") + occurrences("...") + occurrences("…"), nW))
      .withColumn("bullet_mills",
        mills(size(filter(lines, l => l.rlike("^\\s*[-*•]"))).cast("long"),
          size(lines).cast("long")))
      .withColumn("ellipsis_mills",
        mills(size(filter(lines,
            l => l.rlike("(\\.\\.\\.|…)\\s*$"))).cast("long"),
          size(lines).cast("long")))
      .withColumn("alpha_word_mills",
        mills(size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long"), nW))
      .withColumn("stop_hits",
        size(array_intersect(array_distinct(transform(toks, lower(_))),
          typedLit(stopwords.map(_.toLowerCase)))).cast("long"))
      .withColumn("gopher_ok",
        nW.between(50L, 100000L) &&
          col("mean_word_len_mills").between(3000L, 10000L) &&
          col("symbol_mills") <= 100L &&
          col("bullet_mills") <= 900L &&
          col("ellipsis_mills") <= 300L &&
          col("alpha_word_mills") >= 800L &&
          col("stop_hits") >= minStopHits)
      .drop(textCol)
  }

  /** The Gopher A1.1 required-word list. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** word2phrase collocation scoring (Mikolov et al., "Distributed
    * Representations of Words and Phrases and their Compositionality",
    * NeurIPS 2013, §4) — the phrase-detection pass a training pipeline
    * runs before tokenization so "new york" becomes one unit. For
    * every word bigram (a, b) seen at least `minCount` times:
    *
    *   phrase_mills = max(0, ⌊1000·(c_ab − discount)·N₁ / (c_a·c_b)⌋)
    *   dice_mills   = ⌊2000·c_ab / (c_a + c_b)⌋
    *
    * both in EXACT integer mills — the phrase score through
    * DECIMAL(38,0) floor division (c_ab·N₁ reaches 10²⁸ at real corpus
    * sizes, far past int64; same HUGEINT-twin contract as the DSIR
    * weights), Dice in plain int64 (2000·c_ab tops out at ~2·10¹⁷).
    * `discount` is the paper's rare-pair penalty; pairs at or below it
    * floor to 0 rather than going negative.
    *
    * Scale shape: unigram and bigram counting are vocab-bounded hash
    * aggs with map-side partials; the `minCount` filter prunes the
    * bigram table BEFORE the two unigram equi-joins (work ∝ surviving
    * candidates, and the joins are plain equi-shuffles — the unigram
    * table is vocab-sized, broadcastable only on small corpora, so no
    * hint is forced); totals are a 1-row broadcast. No pair space, no
    * global sort — top-K is the caller's orderBy().limit() which plans
    * as a partial TakeOrdered. */
  def phraseScores(df: DataFrame, textCol: String,
      minCount: Long = 5L, discount: Long = 0L): DataFrame = {
    require(minCount >= 1, s"minCount=$minCount must be >= 1")
    require(discount >= 0, s"discount=$discount must be >= 0")
    val reserved = Seq("w1", "w2", "n_pair", "n_w1", "n_w2",
      "phrase_mills", "dice_mills", "__tok", "__bi", "__n", "__n1")
    require(!reserved.contains(textCol), s"column '$textCol' is reserved")
    val uniStream = df.select(explode(
      TextFunctions.tokens(col(textCol))).as("__tok"))
    // pinned vocab histogram; the stream total derives from it (the
    // skipgramPmi rule — no second corpus-sized scan just for a count)
    val uni = uniStream.groupBy("__tok").agg(count(lit(1)).as("__n"))
      .localCheckpoint(true)
    val n1 = uni.agg(sum(col("__n")).as("__n1"))
    val bi = df
      .select(explode(TextFunctions.wordNGrams(col(textCol), 2)).as("__bi"))
      .groupBy("__bi").agg(count(lit(1)).as("n_pair"))
      .where(col("n_pair") >= minCount)
      .select(substring_index(col("__bi"), " ", 1).as("w1"),
        substring_index(col("__bi"), " ", -1).as("w2"), col("n_pair"))
    bi
      .join(uni.select(col("__tok").as("w1"), col("__n").as("n_w1")), Seq("w1"))
      .join(uni.select(col("__tok").as("w2"), col("__n").as("n_w2")), Seq("w2"))
      .crossJoin(broadcast(n1))
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"), col("n_w2"),
        expr(
          s"""CAST(greatest(
                (CAST(1000 AS DECIMAL(38,0)) * (n_pair - $discount) * __n1)
                  div (CAST(n_w1 AS DECIMAL(38,0)) * n_w2),
                CAST(0 AS DECIMAL(38,0))) AS BIGINT)""").as("phrase_mills"),
        expr("(2000 * n_pair) div (n_w1 + n_w2)").as("dice_mills"))
  }

  /** CCNet-style unigram LM quality scoring (Wenzek et al., "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data", LREC 2020 — the perplexity-filter stage) in EXACT integer
    * code-length arithmetic. Instead of float log-probs, every token
    * costs its Shannon code length in whole BITS under the
    * Laplace-smoothed unigram model of `lm` (the target corpus):
    *
    *   q(tok)    = (1024·(N + V)) div (cnt(tok) + 1)
    *   cost(tok) = 1000·e + (1000·(q − 2ᵉ)) div 2ᵉ − 10000,
    *               e = floor_log2(q)
    *
    * with N = total token occurrences in `lm`, V = its distinct
    * vocabulary, cnt = 0 for OOV — i.e. −log2 of the smoothed
    * probability in integer MILLIBITS via Mitchell's piecewise-linear
    * log2 (Mitchell 1962): floor_log2 is the length of the base-2
    * digit string and the fraction is linear between powers of two,
    * so the whole cost is integer ops only — no transcendental, no
    * float, bit-identical in any engine. Approximation error ≤ 0.086
    * bits per token (+ the ≤ 2⁻¹⁰ pre-scale quantization); the 1024
    * pre-scale keeps even the most common token's q above 2¹⁰ (its
    * exact log2, 10000 mills, is subtracted back out). Per document:
    * `n_toks`, `total_bits_mills` = Σ cost, and the selection key
    * `avg_bits_mills` = floor(total_bits_mills / n_toks) — LOWER is
    * more target-like (CCNet's "head" split). The ranking's agreement
    * with the float cross-entropy ranking is spec-measured on the
    * real corpus, the same precedent as BM25's rational idf and
    * DSIR's mean-ratio score. 1024·(N+V) bounds the corpus at 2⁵³
    * tokens — ~1000× past a 100 TB text corpus.
    *
    * Scale shape: the cost table is vocab-bounded (one hash agg over
    * `lm`) and reaches the corpus token stream via a plain equi-shuffle
    * — NOT broadcast-forced, real vocabularies are 10⁷⁺; N/V are a
    * 1-row broadcast; the only corpus-sized shuffle is the per-doc
    * sum. Row-preserving: empty/null text scores n_toks = 0,
    * total_bits = 0, NULL avg_bits_mills (no tokens, no evidence). */
  def unigramCodeLength(corpus: DataFrame, lm: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val reserved = Seq("n_toks", "total_bits_mills", "avg_bits_mills",
      "__tok", "__cnt", "__n", "__v", "__q", "__e", "__p", "__cost", "__oov")
    Seq(idCol, textCol).foreach(c =>
      require(!reserved.contains(c), s"column '$c' is reserved"))
    // Mitchell's log2 in millibits ([[TextFunctions.log2Mills]], the
    // kernel shared with skip-gram PMI), minus the exact 10-bit
    // pre-scale
    def withLog2Mills(df: DataFrame, out: String): DataFrame =
      df.withColumn(out, TextFunctions.log2Mills(col("__q")) - lit(10000L))
    val lmToks = lm.select(explode(
      TextFunctions.tokens(col(textCol))).as("__tok"))
    // pinned vocab histogram; N and V derive from it (the skipgramPmi
    // rule — never a second corpus-sized scan just for the totals)
    val uniHist = lmToks.groupBy("__tok").agg(count(lit(1)).as("__cnt"))
      .localCheckpoint(true)
    val totals = uniHist.agg(sum(col("__cnt")).as("__n"),
      count(lit(1)).as("__v"))
    val costs = withLog2Mills(
        uniHist
          .crossJoin(broadcast(totals))
          .withColumn("__q", expr("(1024 * (__n + __v)) div (__cnt + 1)")),
        "__cost")
      .select(col("__tok"), col("__cost"))
    val oov = broadcast(withLog2Mills(
        totals.withColumn("__q", lit(1024L) * (col("__n") + col("__v"))),
        "__oov")
      .select(col("__oov")))
    val perDoc = corpus
      .select(col(idCol), explode(
        TextFunctions.tokens(col(textCol))).as("__tok"))
      .join(costs, Seq("__tok"), "left")
      .crossJoin(oov)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_toks"),
        sum(coalesce(col("__cost"), col("__oov"))).as("total_bits_mills"))
    corpus.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("total_bits_mills"), lit(0L)).as("total_bits_mills"),
        expr("total_bits_mills div n_toks").as("avg_bits_mills"))
  }

  /** Interpolated bigram LM code length — the next model up from
    * [[unigramCodeLength]] on the CCNet quality-filter ladder (Wenzek
    * et al. 2020 score with a wiki-side LM; Jelinek–Mercer interpolation
    * with λ = 1/2, Chen & Goodman 1999 §2.3). Per document position:
    * the FIRST token pays its Laplace unigram cost; each later token w₂
    * after context w₁ pays
    *
    *   P(w₂|w₁) = ½·c₁₂/c₁ + ½·(c₂+1)/(N+V)        (c₁ > 0)
    *
    * backing off to the plain unigram cost when the context w₁ is
    * unseen in the LM (c₁ = 0; the unigram term's +1 Laplace floor also
    * covers OOV w₂, so the whole cost surface is total and positive).
    * Costs are EXACT integer millibits: the rational 1/P is one
    * DECIMAL(38,0) floor division (c₁·(N+V) alone reaches 10²⁴ at real
    * corpus sizes — int64 dies) through [[TextFunctions.log2Mills]],
    * the same Mitchell kernel as q95/q102, so the score is
    * bit-identical in any engine.
    *
    * Returns one row per corpus doc: (idCol, n_toks, total_bits_mills,
    * avg_bits_mills). Lower = more LM-like; a doc of in-vocab text in
    * familiar collocations scores under the unigram model, which is the
    * entire point of the bigram term.
    *
    * Scale shape: the LM's unigram and bigram count tables are two
    * hash aggregates over the (bounded-vocab) gram space; the corpus
    * side explodes each doc into its (w₁, w₂) positions — token-mass
    * linear, like every scoring scan here — and equi-joins the count
    * tables on the gram key. No O(vocab²) table is ever materialized:
    * only OBSERVED bigrams have rows, everything else falls through the
    * left joins to the backoff/floor terms. */
  def bigramCodeLength(corpus: DataFrame, lm: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val reserved = Seq("n_toks", "total_bits_mills", "avg_bits_mills",
      "__tok", "__w1", "__w2", "__bg", "__c1", "__c2", "__c12", "__n",
      "__v", "__q", "__cost", "__first")
    Seq(idCol, textCol).foreach(c =>
      require(!reserved.contains(c), s"column '$c' is reserved"))
    val lmToks = lm.select(explode(
      TextFunctions.tokens(col(textCol))).as("__tok"))
    // pinned vocab histogram; N and V derive from it (q95's rule)
    val uniCnt = lmToks.groupBy("__tok").agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)
    val totals = uniCnt.agg(sum(col("__c")).as("__n"),
      count(lit(1)).as("__v"))
    val biCnt = lm.select(explode(
        TextFunctions.wordNGrams(col(textCol), 2)).as("__bg"))
      .groupBy("__bg").agg(count(lit(1)).as("__c12"))
    // unigram cost of a token whose LM count sits (0-coalesced) in the
    // named column: log2((1024·(N+V)) div (c+1)) − 10 bits — the q95
    // kernel verbatim
    def uniCost(cntCol: String): Column =
      TextFunctions.log2Mills(
        expr(s"(1024 * (__n + __v)) div (coalesce($cntCol, 0) + 1)")) -
        lit(10000L)

    val toks = TextFunctions.tokens(col(textCol))
    val base = corpus.select(col(idCol), toks.as("__toks"))
      .where(size(col("__toks")) > 0)
    // first position: plain unigram cost
    val firstCost = base
      .select(col(idCol), element_at(col("__toks"), 1).as("__tok"))
      .join(uniCnt, Seq("__tok"), "left")
      .crossJoin(broadcast(totals))
      .select(col(idCol), uniCost("__c").as("__cost"))
    // positions 2..n: (w1, w2) pairs with multiplicity
    val pairs = base.select(col(idCol), explode(zip_with(
        slice(col("__toks"), lit(1), size(col("__toks")) - 1),
        slice(col("__toks"), lit(2), size(col("__toks")) - 1),
        (a, b) => struct(a.as("__w1"), b.as("__w2")))).as("__p"))
      .select(col(idCol), col("__p.__w1").as("__w1"), col("__p.__w2").as("__w2"))
    val pairCost = pairs
      .join(uniCnt.select(col("__tok").as("__w1"), col("__c").as("__c1")),
        Seq("__w1"), "left")
      .join(uniCnt.select(col("__tok").as("__w2"), col("__c").as("__c2")),
        Seq("__w2"), "left")
      .withColumn("__bg", concat(col("__w1"), lit(" "), col("__w2")))
      .join(biCnt, Seq("__bg"), "left")
      .crossJoin(broadcast(totals))
      .select(col(idCol),
        when(coalesce(col("__c1"), lit(0L)) === 0L, uniCost("__c2"))
          .otherwise(TextFunctions.log2Mills(expr(
            """CAST((CAST(2048 AS DECIMAL(38,0)) * __c1 * (__n + __v))
               div (CAST(coalesce(__c12, 0) AS DECIMAL(38,0)) * (__n + __v)
                    + CAST(coalesce(__c2, 0) + 1 AS DECIMAL(38,0)) * __c1)
               AS BIGINT)"""))
            - lit(10000L))
          .as("__cost"))
    val perDoc = firstCost.union(pairCost)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_toks"),
        sum(col("__cost")).as("total_bits_mills"))
    corpus.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("total_bits_mills"), lit(0L)).as("total_bits_mills"),
        expr("total_bits_mills div n_toks").as("avg_bits_mills"))
  }

  /** Token-aligned blocklist phrase matching — the C4/RefinedWeb-style
    * banned-phrase filter of a pretraining pipeline (Raffel et al.
    * 2020 §2.2's "bad words" pass; RefinedWeb's URL/phrase blocklists).
    * A phrase MATCHES a document iff it appears as consecutive whole
    * tokens (token-aligned, single-space-normalized) — the
    * linguistically-correct semantics, and the one that makes blocking
    * lossless. Returns one row per input document: `blocked`,
    * `n_matched`, and `matched_ids` (sorted, comma-joined — the
    * hash-stable digest form).
    *
    * Scale shape: a naive contains-chain is O(|phrases| · doc length)
    * per doc — dead at 10⁴ phrases. Here candidates come from an
    * equi-join between the doc's DISTINCT tokens and the phrases'
    * FIRST tokens (broadcast — a blocklist is a dimension, bounded,
    * curated), then only candidates run the padded-contains verify.
    * Work ∝ docs whose token set intersects phrase heads, never
    * phrases × corpus. The blocking is lossless FOR the token-aligned
    * semantics: a consecutive-token match implies the phrase's first
    * token is one of the doc's tokens. Row-preserving via the final
    * left join on the id frame. */
  def blocklistMatches(docs: DataFrame, phrases: DataFrame,
      textCol: String, idCol: String,
      phraseIdCol: String, phraseCol: String): DataFrame = {
    val reserved = Seq("blocked", "n_matched", "matched_ids",
      "__norm", "__tok", "__head", "__p")
    Seq(idCol, textCol, phraseIdCol, phraseCol).foreach(c =>
      require(!reserved.contains(c), s"column '$c' is reserved"))
    val phraseDim = broadcast(phrases.select(
      col(phraseIdCol),
      array_join(TextFunctions.tokens(col(phraseCol)), " ").as("__p"))
      .where(col("__p") =!= "")
      .withColumn("__head", substring_index(col("__p"), " ", 1)))
    val norm = docs.select(col(idCol),
      array_join(TextFunctions.tokens(col(textCol)),
        " ").as("__norm"))
    val hits = norm
      .select(col(idCol), col("__norm"),
        explode(array_distinct(split(col("__norm"), " "))).as("__tok"))
      .join(phraseDim, col("__tok") === col("__head"))
      .where(contains(concat(lit(" "), col("__norm"), lit(" ")),
        concat(lit(" "), col("__p"), lit(" "))))
      .groupBy(col(idCol))
      .agg(countDistinct(col(phraseIdCol)).as("n_matched"),
        array_join(array_sort(collect_set(col(phraseIdCol).cast("string"))),
          ",").as("matched_ids"))
    docs.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        (coalesce(col("n_matched"), lit(0L)) > 0).as("blocked"),
        coalesce(col("matched_ids"), lit("")).as("matched_ids"))
  }

  /** Deterministic stratified sampling — the corpus-mixture step of a
    * training-data pipeline (e.g. keep 100% of high-quality strata,
    * 10% of boilerplate): a row survives iff the first 8 hex digits of
    * md5(id), read as a 32-bit integer, fall under rate·2³². Pure
    * projection + filter: no RNG (reproducible across engines and
    * re-runs — the md5 threshold IS the sample), no shuffle, no sort;
    * sampling composes with partition pruning and pushes to the scan.
    * Strata absent from `rates` keep `defaultRate`. */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
      rates: Map[String, Double], defaultRate: Double = 0.0): DataFrame = {
    // NULL-id contract (matches the q70 DuckDB twin bit-for-bit): a
    // NULL id hashes to NULL, NULL < thresh is NULL, and the row is
    // DROPPED at every rate — including 1.0. Callers sampling a
    // nullable-id frame must coalesce to a sentinel first; a silent
    // row loss at "keep 100%" is otherwise invisible.
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0 && r <= 1),
      "rates must be in [0, 1]")
    def thresh(rate: Double) = lit((rate * 4294967296.0).toLong)
    val rateCol = rates.toSeq.sortBy(_._1)
      .foldLeft(thresh(defaultRate)) { case (acc, (stratum, rate)) =>
        when(col(strataCol) === stratum, thresh(rate)).otherwise(acc)
      }
    df.where(conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long") < rateCol)
  }

  /** Windowed skip-gram co-occurrence with pointwise mutual
    * information in EXACT integer millibits — the word-association
    * statistics an embedding pipeline computes before training (PMI:
    * Church & Hanks 1990; the skip-gram window: Mikolov et al. 2013).
    * For every position i and distance d in 1..`window`, the UNORDERED
    * pair {tokᵢ, tokᵢ₊d} canonicalized as (w1 <= w2); then
    *
    *   PMI(a,b) = log2( (c_ab·N_tok²) / (N_pairs·c_a·c_b) )
    *
    * computed as a 1024-scaled exact integer ratio through
    * DECIMAL(38,0) floor division and [[TextFunctions.log2Mills]]
    * (Mitchell log2, no float anywhere) minus the exact 10-bit
    * pre-scale — so `pmi_mills` is bit-identical in any engine and
    * NEGATIVE for anti-associated pairs. Ratios under 2⁻¹⁰ floor at
    * q = 0 → −11000 (the kernel's documented 0-input degeneracy,
    * identical in the oracle twin). The 38-digit lane bounds the corpus at
    * ~2·10¹¹ tokens (c_ab·N_tok²·1024 ≤ 10³⁸).
    *
    * Scale shape: the pair stream is `window` zip-shifts of the token
    * list (no self-join, no position explode); pair and unigram
    * counts are vocab²-/vocab-bounded hash aggs with map-side
    * partials; `minCount` prunes the pair table BEFORE its two
    * unigram equi-joins; totals are a 1-row broadcast. */
  def skipgramPmi(df: DataFrame, textCol: String,
      window: Int = 3, minCount: Long = 5L): DataFrame = {
    require(window >= 1, s"window=$window must be >= 1")
    require(minCount >= 1, s"minCount=$minCount must be >= 1")
    val reserved = Seq("w1", "w2", "n_pair", "n_w1", "n_w2", "pmi_mills",
      "__toks", "__pr", "__tok", "__n", "__nt", "__np", "__q")
    require(!reserved.contains(textCol), s"column '$textCol' is reserved")
    val toks = TextFunctions.tokens(col(textCol))
    def pairsAt(d: Int): Column = {
      val len = greatest(size(col("__toks")) - d, lit(0))
      zip_with(slice(col("__toks"), lit(1), len),
        slice(col("__toks"), lit(1 + d), len),
        (a, b) => concat(least(a, b), lit(" "), greatest(a, b)))
    }
    val pairStream = df.select(toks.as("__toks"))
      .select(explode(concat((1 to window).map(pairsAt): _*)).as("__pr"))
    val uniStream = df.select(explode(toks).as("__tok"))
    // one corpus scan per stream: the token and pair HISTOGRAMS are
    // pinned and every consumer (the w1/w2 joins, the stream totals,
    // the minCount cut) rides them — the previous shape re-ran the
    // corpus-sized explode a second time just to count __nt/__np
    // (the ungrouped agg's exchange is not reusable against the
    // groupBy exchange)
    val uni = uniStream.groupBy("__tok").agg(count(lit(1)).as("__n"))
      .localCheckpoint(true)
    val pairCounts = pairStream.groupBy("__pr").agg(count(lit(1)).as("n_pair"))
      .localCheckpoint(true)
    val totals = broadcast(
      uni.agg(sum(col("__n")).as("__nt"))
        .crossJoin(broadcast(pairCounts.agg(sum(col("n_pair")).as("__np")))))
    pairCounts
      .where(col("n_pair") >= minCount)
      .select(substring_index(col("__pr"), " ", 1).as("w1"),
        substring_index(col("__pr"), " ", -1).as("w2"), col("n_pair"))
      .join(uni.select(col("__tok").as("w1"), col("__n").as("n_w1")), Seq("w1"))
      .join(uni.select(col("__tok").as("w2"), col("__n").as("n_w2")), Seq("w2"))
      .crossJoin(totals)
      .withColumn("__q", expr(
        """CAST((CAST(1024 AS DECIMAL(38,0)) * n_pair * __nt * __nt)
             div (CAST(__np AS DECIMAL(38,0)) * n_w1 * n_w2) AS BIGINT)"""))
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"), col("n_w2"),
        (TextFunctions.log2Mills(col("__q")) - lit(10000L)).as("pmi_mills"))
  }

  /** Deterministic per-stratum EXACT-k sampling — priority sampling
    * (Duffield, Lund & Thorup, JACM 2007) with md5 as the uniform
    * priority: rank rows by hash within each stratum, keep the k
    * smallest. No RNG (the hash IS the sample — reproducible across
    * runs, engines and partitionings), and the complement of
    * [[stratifiedSample]]: that one keeps a RATE (size ∝ stratum),
    * this one keeps an exact count (eval-set carving, per-stratum
    * probes). Appends `sample_rank` (1..k, the deterministic
    * (md5, id) order).
    *
    * Scale shape: one rank window per stratum that the planner cuts
    * with WindowGroupLimit — partial top-k per partition BEFORE the
    * single stratum exchange, so a billion-row stratum ships k rows
    * per input partition, never itself. */
  def prioritySample(df: DataFrame, strataCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    require(strataCol != "sample_rank" && idCol != "sample_rank",
      "column 'sample_rank' is reserved")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(strataCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("sample_rank", row_number().over(w).cast("long"))
      .where(col("sample_rank") <= k)
  }

  /** Corpus-level line deduplication — the C4/RefinedWeb-style
    * boilerplate-removal step of a pretraining pipeline: a LINE
    * (newline-delimited) whose trimmed content occurs in more than
    * `maxDocFreq` distinct documents is dropped from EVERY document
    * (nav bars, cookie banners, license footers); blank lines are
    * structural and always kept. Returns one row per input document:
    * the cleaned text (surviving lines rejoined in original order),
    * the total and kept line counts.
    *
    * Scale shape: explode to (doc, line_no, line) is shuffle-free; the
    * document frequency is ONE hash-agg shuffle on the trimmed-line
    * key; the join back is equi-keyed against a frame with one row per
    * DISTINCT line, so a hyper-frequent boilerplate line is a single
    * row there — no hot key, join output exactly the line count; the
    * reassembly is one per-doc rollup. No sort, no pair space.
    *
    * `keepColumns` (round 13): passthrough columns carried on the
    * final per-doc projection — that projection scans the input
    * ANYWAY (to resurrect all-boilerplate docs and count total
    * lines), so the passthrough is FREE, where a caller-side rejoin
    * costs one extra corpus scan plus an id-keyed shuffle. At 100 TB
    * that is the difference between 3 and 4 corpus passes for the
    * composed pipeline's cleaned boundary. */
  def dedupLines(df: DataFrame, textCol: String, idCol: String,
      maxDocFreq: Int, keepColumns: Seq[String] = Nil): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq=$maxDocFreq must be >= 1")
    val reserved = Seq("n_lines", "n_kept", "clean_text", "__id")
    require(keepColumns.intersect(reserved).isEmpty,
      s"keepColumns may not use reserved names ${reserved.mkString(", ")}")
    // coalesce: a NULL-text doc behaves exactly like an empty-text doc
    // (one blank line, kept) — posexplode(NULL) would drop it from the
    // line side entirely while the final projection still emits it
    val lines = df.select(col(idCol).as("__id"),
        posexplode(split(coalesce(col(textCol), lit("")), "\n"))
          .as(Seq("line_no", "line")))
      .withColumn("lk", md5(trim(col("line"))))
    val freq = lines.where(trim(col("line")) =!= "")
      .groupBy("lk").agg(countDistinct(col("__id")).as("ndocs"))
    // left join: blank lines never enter freq -> null ndocs -> kept
    val kept = lines.join(freq, Seq("lk"), "left")
      .where(col("ndocs").isNull || col("ndocs") <= maxDocFreq)
    val rebuilt = kept.groupBy("__id").agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(
          array_sort(collect_list(struct(col("line_no"), col("line")))),
          s => s.getField("line")),
        "\n").as("clean_text"))
    // docs whose every line was boilerplate still come back (empty
    // text); coalesce matches the line side — size(split(NULL)) would
    // report n_lines = -1 for a NULL-text doc
    df.select(col(idCol).as("__id") +:
        size(split(coalesce(col(textCol), lit("")), "\n"))
          .cast("long").as("n_lines") +:
        keepColumns.map(col): _*)
      .join(rebuilt, Seq("__id"), "left")
      .select(col("__id").as(idCol) +: col("n_lines") +:
        coalesce(col("n_kept"), lit(0L)).as("n_kept") +:
        coalesce(col("clean_text"), lit("")).as("clean_text") +:
        keepColumns.map(col): _*)
  }

  /** Mixture planning — the data-recipe step of a pretraining run
    * (domain weighting per Gopher table A2 / Llama-style data recipes;
    * target shares chosen upstream, e.g. by DoReMi, Xie et al. 2023b):
    * given integer target WEIGHTS per stratum and a total token
    * budget, report per stratum what is available, what the target
    * asks for, what can actually be allocated, and how far off-mix the
    * corpus sits.
    *
    * Output, one row per stratum appearing in EITHER the corpus or the
    * weight table: `avail_tokens` (Σ tokenCount), `target_tokens`
    * (⌊budget·w⌋/W), `alloc_tokens` (min of the two — single-pass, no
    * deficit redistribution: a planner that silently rebalances hides
    * the under-supply this report exists to surface), `deficit_tokens`
    * (target − alloc), and `log2_ratio_mills` — the SIGNED Mitchell
    * log₂ of (observed share / target share) in millibits, the
    * per-stratum term a KL-style mix-divergence sums (0 = on-mix,
    * positive = over-represented, negative = under-represented;
    * strata with zero weight or zero supply pin to the sign of what's
    * present). All arithmetic is integer (DECIMAL(38,0) where products
    * exceed int64 at real corpus sizes) through the shared
    * [[TextFunctions.log2Mills]] kernel — bit-identical in any engine.
    *
    * Scale shape: one hash aggregate over the corpus (stratum → token
    * sum); the weight table is a broadcast dimension; everything after
    * the aggregate is per-stratum arithmetic on a bounded frame. */
  def mixturePlan(df: DataFrame, strataCol: String, textCol: String,
      weights: Seq[(String, Long)], budgetTokens: Long): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 >= 0),
      "weights must be non-negative")
    require(weights.map(_._2).sum > 0,
      "weights must not all be zero (the target shares divide by their sum)")
    require(budgetTokens >= 0, s"budgetTokens=$budgetTokens")
    val spark = df.sparkSession
    import spark.implicits._
    val w = weights.toDF(strataCol, "__w")
    val totalW = weights.map(_._2).sum
    val avail = df
      .groupBy(strataCol)
      .agg(sum(TextFunctions.tokenCount(col(textCol))).as("avail_tokens"))
    val joined = avail.join(broadcast(w), Seq(strataCol), "full_outer")
      .select(col(strataCol),
        coalesce(col("avail_tokens"), lit(0L)).as("avail_tokens"),
        coalesce(col("__w"), lit(0L)).as("__w"))
      .crossJoin(broadcast(avail.agg(
        coalesce(sum("avail_tokens"), lit(0L)).as("__n"))))
    // signed log2(p/q) with p = avail/N, q = w/W: ratio = avail·W/(N·w);
    // zero-supply or zero-weight strata pin to ∓(a sentinel-free) sign
    // via the defined branch (the other side of the ratio is 0)
    joined
      .withColumn("target_tokens",
        expr(s"""CAST((CAST($budgetTokens AS DECIMAL(38,0)) * __w)
                 div $totalW AS BIGINT)"""))
      .withColumn("alloc_tokens", least(col("avail_tokens"), col("target_tokens")))
      .withColumn("deficit_tokens", col("target_tokens") - col("alloc_tokens"))
      .withColumn("log2_ratio_mills",
        when(col("avail_tokens") === 0L && col("__w") === 0L, lit(0L))
          .when(col("avail_tokens") === 0L, lit(-10000L) * lit(totalW))
          .when(col("__w") === 0L, lit(10000L) * lit(totalW))
          .otherwise {
            val up = expr(s"""CAST((CAST(1024 AS DECIMAL(38,0)) * avail_tokens
              * $totalW) div (CAST(__n AS DECIMAL(38,0)) * __w) AS BIGINT)""")
            val dn = expr(s"""CAST((CAST(1024 AS DECIMAL(38,0)) * __n * __w)
              div (CAST(avail_tokens AS DECIMAL(38,0)) * $totalW) AS BIGINT)""")
            when(expr(s"""CAST(avail_tokens AS DECIMAL(38,0)) * $totalW >=
                CAST(__n AS DECIMAL(38,0)) * __w"""),
              TextFunctions.log2Mills(up) - lit(10000L))
              .otherwise(lit(-1L) * (TextFunctions.log2Mills(dn) - lit(10000L)))
          })
      .select(col(strataCol), col("avail_tokens"), col("target_tokens"),
        col("alloc_tokens"), col("deficit_tokens"), col("log2_ratio_mills"))
  }

  /** UniMax budget allocation (Chung et al. 2023: uniform sampling
    * over strata subject to a per-stratum epoch cap, solved by exact
    * integer water-filling): each stratum's capacity is
    * `maxEpochs × n_tokens`; strata whose capacity fits under the
    * waterline are allocated their full capacity ("capped"), the rest
    * share the remaining budget equally, with the integer remainder
    * going to the smallest-capacity uncapped strata first (so the
    * allocations sum to EXACTLY min(budget, total capacity),
    * deterministically). No floats anywhere — the capped test is the
    * closed-form prefix inequality c·(n−i+1) + prefix ≤ B over the
    * capacity-ascending order.
    *
    * Scale shape: ONE corpus-sized hash agg (token counts per
    * stratum), then every window runs over the strata-bounded frame —
    * |strata| rows total, the q113 mixturePlan contract. Output:
    * (stratum, n_tokens, capacity, capped, allocated, epochs_mills).
    *
    * `budgetPerMille`, when Some, overrides `budgetTokens` with
    * `(total capacity × perMille) div 1000` computed column-side —
    * the corpus-relative form a fixed-constant oracle can exercise at
    * every scale factor. */
  def unimaxAllocate(df: DataFrame, strataCol: String, textCol: String,
      maxEpochs: Int, budgetTokens: Long = 0L,
      budgetPerMille: Option[Long] = None): DataFrame = {
    require(maxEpochs >= 1, s"maxEpochs=$maxEpochs < 1")
    require(budgetTokens >= 0, s"budgetTokens=$budgetTokens < 0")
    budgetPerMille.foreach(p => require(p >= 0, s"budgetPerMille=$p < 0"))
    val reserved = Seq("stratum", "n_tokens", "capacity", "capped",
      "allocated", "epochs_mills")
    require(!reserved.contains(textCol), s"column '$textCol' is reserved")
    val W = org.apache.spark.sql.expressions.Window
    val wAsc = W.orderBy(col("capacity").asc, col("stratum").asc)
    val wAll = W.partitionBy(lit(1))
    df.groupBy(col(strataCol).as("stratum"))
      .agg(sum(TextFunctions.tokenCount(col(textCol))).as("n_tokens"))
      .withColumn("capacity", col("n_tokens") * lit(maxEpochs.toLong))
      .withColumn("__i", row_number().over(wAsc).cast("long"))
      .withColumn("__prefix", coalesce(
        sum(col("capacity")).over(wAsc.rowsBetween(W.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__B", budgetPerMille match {
        case Some(p) =>
          expr(s"(${p}L * sum(capacity) OVER ()) div 1000L")
        case None => lit(budgetTokens)
      })
      .withColumn("capped",
        col("capacity") * (col("__n") - col("__i") + 1L) + col("__prefix")
          <= col("__B"))
      .withColumn("__cappedSum",
        sum(when(col("capped"), col("capacity")).otherwise(0L)).over(wAll))
      .withColumn("__K", sum(when(col("capped"), 1L).otherwise(0L)).over(wAll))
      .withColumn("__U", col("__n") - col("__K"))
      .withColumn("__rest", col("__B") - col("__cappedSum"))
      .withColumn("allocated", when(col("capped"), col("capacity"))
        .otherwise(expr("__rest div __U") +
          when(col("__i") - col("__K") <= expr("__rest % __U"), 1L)
            .otherwise(0L)))
      .withColumn("epochs_mills",
        expr("coalesce((1000L * allocated) div nullif(n_tokens, 0L), 0L)"))
      .select(col("stratum"), col("n_tokens"), col("capacity"),
        col("capped"), col("allocated"), col("epochs_mills"))
  }

  /** Temperature-scaled mixture allocation at α = 1/2 (the mT5 /
    * XLM-R multilingual sampling recipe, Xue et al. 2021 / Conneau et
    * al. 2020: sample strata ∝ n^α to up-weight low-resource strata) —
    * in EXACT integer arithmetic: the weight is the integer square
    * root isqrt(n_tokens), computed as float sqrt + a ±1 integer
    * correction (floor(√x) is within 1 ulp in any IEEE engine; the
    * correction makes it exact, so both engines agree bit-for-bit).
    * Targets are the floor split (B·w) div Σw with the integer
    * remainder to the LARGEST-weight strata first — targets sum to
    * EXACTLY the budget; `alloc_tokens` caps each target at the
    * stratum's supply (deficit reported).
    *
    * Scale shape: one corpus token-count hash agg, then strata-bounded
    * windows — the q113/q136 planning floor. */
  def temperatureAllocate(df: DataFrame, strataCol: String,
      textCol: String, budgetTokens: Long = 0L,
      budgetPerMille: Option[Long] = None): DataFrame = {
    require(budgetTokens >= 0, s"budgetTokens=$budgetTokens < 0")
    budgetPerMille.foreach(p => require(p >= 0, s"budgetPerMille=$p < 0"))
    val reserved = Seq("stratum", "n_tokens", "w", "share_mills",
      "target_tokens", "alloc_tokens", "deficit_tokens")
    require(!reserved.contains(textCol), s"column '$textCol' is reserved")
    val W = org.apache.spark.sql.expressions.Window
    val wAll = W.partitionBy(lit(1))
    val wDesc = W.orderBy(col("w").desc, col("stratum").asc)
    df.groupBy(col(strataCol).as("stratum"))
      .agg(sum(TextFunctions.tokenCount(col(textCol))).as("n_tokens"))
      // exact isqrt: float estimate ± integer correction
      .withColumn("w", expr(
        """CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)
           - CASE WHEN CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)
                       * CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)
                       > n_tokens THEN 1L ELSE 0L END
           + CASE WHEN (CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) + 1L)
                       * (CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) + 1L)
                       <= n_tokens THEN 1L ELSE 0L END"""))
      .withColumn("__sw", sum(col("w")).over(wAll))
      .withColumn("__B", budgetPerMille match {
        case Some(p) => expr(s"(${p}L * sum(n_tokens) OVER ()) div 1000L")
        case None => lit(budgetTokens)
      })
      .withColumn("share_mills", expr("(1000L * w) div nullif(__sw, 0L)"))
      .withColumn("__floor", expr("(__B * w) div nullif(__sw, 0L)"))
      .withColumn("__rem", col("__B") - sum(col("__floor")).over(wAll))
      .withColumn("__rk", row_number().over(wDesc).cast("long"))
      .withColumn("target_tokens",
        coalesce(col("__floor"), lit(0L)) +
          when(col("__rk") <= col("__rem"), 1L).otherwise(0L))
      .withColumn("alloc_tokens", least(col("n_tokens"), col("target_tokens")))
      .withColumn("deficit_tokens", col("target_tokens") - col("alloc_tokens"))
      .select(col("stratum"), col("n_tokens"), col("w"),
        col("share_mills"), col("target_tokens"), col("alloc_tokens"),
        col("deficit_tokens"))
  }

  /** Token-budget corpus selection under a quality ordering — the data
    * mixing step that fills a per-stratum token budget with the best
    * documents: walk each stratum in (quality DESC, id ASC) order and
    * keep documents while the running token total stays within
    * `budgetTokens`; the first document that would overflow (and
    * everything after it in that order) is dropped. Prefix-greedy and
    * deterministic — rerunning on the same corpus picks the same set.
    *
    * Scale shape (the histogram trick, same as the q57 exact median):
    * a direct per-stratum ordered window would sort each stratum's
    * full document set through one partition. Instead phase 1
    * aggregates token totals per (stratum, quality) bin — a frame
    * bounded by strata × quality levels (mills: ≤ 1001 rows per
    * stratum) — and runs the cumulative sum over THAT; phase 2 joins
    * the bin boundaries back and only the single BOUNDARY bin per
    * stratum (where the budget line lands) needs a within-bin
    * document-order cumsum, so the expensive window touches one
    * quality-tie group per stratum, never the corpus. Row-identical to
    * the naive per-stratum window. */
  def budgetSelect(df: DataFrame, strataCol: String, qualityCol: String,
      tokensCol: String, idCol: String, budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0, s"budgetTokens=$budgetTokens must be >= 0")
    budgetSelectKernel(df, strataCol, qualityCol, tokensCol, idCol,
      _.withColumn("__budget", lit(budgetTokens)))
  }

  /** [[budgetSelect]] with a PER-STRATUM budget frame — the execution
    * half of mixture curation: [[mixturePlan]]'s `alloc_tokens` (or any
    * (stratum, budget) table) drives how many tokens each stratum may
    * keep, filled in (quality DESC, id ASC) order by the same
    * histogram kernel. Strata missing from `budgets` get budget 0 —
    * absent from the plan means not in the mix, and silence would hide
    * it. `budgets` must be one row per stratum (bounded — it rides a
    * broadcast). */
  def budgetSelectPerStratum(df: DataFrame, strataCol: String,
      qualityCol: String, tokensCol: String, idCol: String,
      budgets: DataFrame, budgetCol: String): DataFrame =
    budgetSelectKernel(df, strataCol, qualityCol, tokensCol, idCol, { j =>
      val b = budgets.select(col(strataCol).as("__bs"),
        col(budgetCol).as("__b"))
      j.join(broadcast(b), col(strataCol) <=> col("__bs"), "left")
        .withColumn("__budget", coalesce(col("__b"), lit(0L)))
        .drop("__bs", "__b")
    })

  /** The one histogram-selection kernel behind [[budgetSelect]] and
    * [[budgetSelectPerStratum]] — `attachBudget` adds the `__budget`
    * column (a literal or a broadcast per-stratum join) to the binned
    * frame; everything else is shared so the two can never drift. */
  private def budgetSelectKernel(df: DataFrame, strataCol: String,
      qualityCol: String, tokensCol: String, idCol: String,
      attachBudget: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = df.groupBy(col(strataCol), col(qualityCol))
      .agg(sum(col(tokensCol)).as("__qt"))
    val wq = Window.partitionBy(col(strataCol)).orderBy(col(qualityCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bins = hist
      .withColumn("__cum_incl", sum(col("__qt")).over(wq))
      .withColumn("__cum_before", col("__cum_incl") - col("__qt"))
      .drop("__qt")
    // null-SAFE join back: a NULL stratum or quality is a legal bin
    // (the naive window ranks NULL quality last under DESC — same
    // place the cumsum puts its bin); a plain equi-join would silently
    // drop those rows and break the row-identical contract
    val j = attachBudget(df.as("__d").join(bins.as("__h"),
        col(s"__d.`$strataCol`") <=> col(s"__h.`$strataCol`") &&
          col(s"__d.`$qualityCol`") <=> col(s"__h.`$qualityCol`"))
      .select((df.columns.map(c => col(s"__d.`$c`")) :+
        col("__h.__cum_incl") :+ col("__h.__cum_before")): _*))
    val fullKeep = j.where(col("__cum_incl") <= col("__budget"))
    val wd = Window.partitionBy(col(strataCol), col(qualityCol))
      .orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // <= (not <) on cum_before: a zero-token doc heading a bin that
    // starts exactly ON the budget line is kept, as the naive order does
    val boundary = j
      .where(col("__cum_before") <= col("__budget") &&
        col("__cum_incl") > col("__budget"))
      .withColumn("__cum_doc", col("__cum_before") + sum(col(tokensCol)).over(wd))
      .where(col("__cum_doc") <= col("__budget"))
      .drop("__cum_doc")
    fullKeep.unionByName(boundary)
      .drop("__cum_incl", "__cum_before", "__budget")
  }

  /** Bit-length cap for [[bloomDecontam]]'s inline bitset: 2²² bits =
    * 2²²/64 longs × 8 B = 512 KiB as ONE array<bigint> literal (the
    * per-seed probes reference the same buffer) — inside plan-size /
    * task-serialization budgets, same reasoning as the IVF inline
    * centroid budget. A benchmark suite needing a larger filter should
    * shard the eval set and union the per-shard outputs. */
  val MaxBloomBits: Int = 1 << 22

  /** Bloom-prefiltered n-gram decontamination — the corpus-scale shape
    * of the exact shingle-join (q56): find training documents sharing
    * at least `minShared` distinct `gramsCol` shingles with a small
    * eval/benchmark corpus, WITHOUT exploding or shuffling the training
    * side.
    *
    * Phase 1 folds the eval corpus's distinct grams into an `mBits`-bit
    * Bloom bitset, built distributively (one eval-sized dedup plus a
    * ≤ mBits/64-row bit_or rollup; only the packed longs reach the
    * driver). Phase 2 tests every training document with a codegen'd
    * `exists()` over its gram array against the bitset literal — a pure
    * scan-side projection+filter: zero shuffle, zero join, zero explode
    * for the unflagged bulk of a 100 TB corpus. Phase 3 exact-confirms
    * ONLY the flagged sliver via an equi-join against the broadcast
    * eval gram set, which removes every Bloom false positive (the
    * filter has no false negatives, so no contaminated doc is lost) —
    * the output is therefore EXACT, independent of `mBits`/`seeds`:
    * (idCol, n_shared) for train docs with n_shared >= minShared.
    *
    * Reference behavior: app/etl.py's validation joins are exact; the
    * Bloom prefilter is the added 100 TB path (Gopher/GPT-3-style
    * benchmark decontamination). An undersized `mBits` degrades only
    * the prefilter selectivity (more rows exact-confirmed), never the
    * result. */
  def bloomDecontam(train: DataFrame, eval: DataFrame, idCol: String,
      gramsCol: String, minShared: Int, mBits: Int,
      seeds: Seq[Long]): DataFrame = {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0,
      s"mBits=$mBits must be a power of two >= 64")
    require(mBits <= MaxBloomBits,
      s"mBits=$mBits exceeds MaxBloomBits=$MaxBloomBits (inline bitset " +
        "literal budget); shard the eval corpus instead")
    require(seeds.nonEmpty, "at least one hash seed is required")
    require(minShared >= 1, s"minShared=$minShared must be >= 1")
    val m = lit(mBits.toLong)
    // per-doc dedup before any explode: grams are set-semantics.
    // EAGER localCheckpoint: the gram set feeds BOTH the bitset build
    // (an immediate collect) and the confirm join — without it the
    // whole eval lineage (scan + explode + distinct) runs twice; the
    // checkpointed blocks are reclaimed by the ContextCleaner once the
    // result frame is unreachable
    val evalGrams = eval
      .select(explode(array_distinct(col(gramsCol))).as("__g")).distinct()
      .localCheckpoint(true)
    // distributed bitset build; the driver sees only mBits/64 longs
    val masks = evalGrams
      .select(explode(array(
        seeds.map(sd => pmod(xxhash64(col("__g"), lit(sd)), m)): _*)).as("__i"))
      .select(shiftright(col("__i"), 6).cast("int").as("__w"),
        call_function("shiftleft", lit(1L),
          col("__i").bitwiseAND(lit(63L)).cast("int")).as("__m"))
      .groupBy("__w").agg(call_function("bit_or", col("__m")).as("__m"))
      .collect()
    val bits = new Array[Long](mBits / 64)
    masks.foreach(r => bits(r.getInt(0)) = r.getLong(1))
    val bitsLit = typedLit(bits.toIndexedSeq)
    def mightContain(g: Column): Column = seeds.map { sd =>
      val idx = pmod(xxhash64(g, lit(sd)), m)
      call_function("getbit",
        element_at(bitsLit, shiftright(idx, 6).cast("int") + 1),
        idx.bitwiseAND(lit(63L)).cast("int")) === 1
    }.reduce(_ && _)
    val flagged = train.where(exists(col(gramsCol), mightContain))
    flagged.select(col(idCol), explode(array_distinct(col(gramsCol))).as("__g"))
      .join(broadcast(evalGrams), "__g")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Per-document token-entropy scoring — the information-diversity
    * quality gate (a gibberish/boilerplate filter: keyboard mash,
    * repeated-phrase spam and template pages all score low-entropy
    * relative to natural text; cf. the entropy heuristics in web-corpus
    * cleaning alongside Gopher's repetition rules, q65/q91).
    *
    * Shannon entropy over the doc's own token distribution, in exact
    * integer MILLIBITS via the shared Mitchell log2 kernel
    * ([[graft.functions.TextFunctions.log2Mills]]) — no float log:
    * total = n·L(n) − Σ c_t·L(c_t), the algebraic form that needs no
    * per-term n/c_t division (Σ c_t(L(n)−L(c_t)) re-grouped). Flags
    * `low_diversity` when total < n·minMillsPerTok.
    *
    * Scale shape: one (doc, token) hash-agg shuffle (token-mass input,
    * distinct-pair output) + one doc-keyed agg — no window, no join;
    * the same two-shuffle floor as the tf pass of q96.
    */
  def tokenEntropy(docs: DataFrame, idCol: String, textCol: String,
      minMillsPerTok: Long): DataFrame = {
    require(minMillsPerTok >= 0, s"minMillsPerTok=$minMillsPerTok < 0")
    val reserved = Seq("tok", "cnt", "n_toks", "n_distinct",
      "ent_total_mills", "low_diversity", "__s")
    Seq(idCol, textCol).foreach(c =>
      require(!reserved.contains(c), s"column '$c' is reserved"))
    val tc = docs
      .select(col(idCol),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("cnt"))
    tc.groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_toks"),
        count(lit(1)).as("n_distinct"),
        sum(col("cnt") * TextFunctions.log2Mills(col("cnt"))).as("__s"))
      .select(col(idCol), col("n_toks"), col("n_distinct"),
        (col("n_toks") * TextFunctions.log2Mills(col("n_toks")) - col("__s"))
          .as("ent_total_mills"))
      .withColumn("low_diversity",
        col("ent_total_mills") < col("n_toks") * minMillsPerTok)
  }

  /** C4 line-rule defaults (Raffel et al. 2020 §2.2, the public
    * "Colossal Clean Crawled Corpus" recipe; shared with q135's oracle
    * SQL — edit HERE): a line is retained iff it ends in a terminal
    * punctuation mark (optionally a closing quote), has at least
    * [[C4MinWords]] words, and does not mention "javascript"; a page is
    * dropped if it contains "lorem ipsum" or a curly brace, or its
    * retained text has fewer than [[C4MinSentences]] sentences. */
  val C4MinWords: Int = 5
  val C4MinSentences: Int = 3

  /** C4-style page cleaning (Raffel et al. 2020): apply the line
    * retention rules array-side — split, `filter` lambda, rejoin — so
    * the WHOLE operator is a scan-side projection with ZERO shuffle;
    * page-level verdicts (lorem-ipsum / brace / min-sentences) are
    * plain column predicates over the same scan. Sentence count is the
    * deterministic proxy C4's nltk splitter reduces to on this shape:
    * terminal-punctuation marks in the retained text. Output per doc:
    * n_lines, n_kept, kept_text, n_sentences, has_lorem, has_brace,
    * page_keep. At 100 TB this is the shape you want: the filter runs
    * where the bytes already are, nothing crosses the wire. */
  def c4Clean(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = C4MinWords,
      minSentences: Int = C4MinSentences): DataFrame = {
    require(minWords >= 1, s"minWords=$minWords < 1")
    require(minSentences >= 0, s"minSentences=$minSentences < 0")
    val reserved = Seq("n_lines", "n_kept", "kept_text", "n_sentences",
      "has_lorem", "has_brace", "page_keep", "__lines", "__kept")
    Seq(idCol, textCol).foreach(c =>
      require(!reserved.contains(c), s"column '$c' is reserved"))
    val lines = split(coalesce(col(textCol), lit("")), "\n")
    // empty-dropping word count (the tokens() migration rule): a raw
    // \s+ split keeps a trailing "" on CRLF / tab-padded lines (trim
    // strips spaces only), counting a phantom word against minWords —
    // the q135 twin filters empties identically, in lockstep
    val keptArr = filter(lines, l =>
      rtrim(l).rlike("[.!?]\"?$") &&
        size(filter(split(trim(l), "\\s+"), t => t =!= "")) >= minWords &&
        !lower(l).contains("javascript"))
    df.withColumn("__lines", lines)
      .withColumn("__kept", keptArr)
      .withColumn("n_lines", size(col("__lines")).cast("long"))
      .withColumn("n_kept", size(col("__kept")).cast("long"))
      .withColumn("kept_text", array_join(col("__kept"), "\n"))
      .withColumn("n_sentences",
        length(regexp_replace(col("kept_text"), "[^.!?]", "")).cast("long"))
      .withColumn("has_lorem",
        lower(coalesce(col(textCol), lit(""))).contains("lorem ipsum"))
      .withColumn("has_brace",
        // Raffel et al. 2020 §2.2 removes pages with "the curly
        // bracket '{'" — the OPENING brace only, because '{' marks
        // code in the languages the paper names; canonical
        // tensorflow c4_utils filters on '{' alone, and a page with
        // a bare '}' is kept there. Twins changed in lockstep.
        coalesce(col(textCol), lit("")).contains("{"))
      .withColumn("page_keep",
        !col("has_lorem") && !col("has_brace") &&
          col("n_sentences") >= minSentences)
      .drop("__lines", "__kept")
  }

  /** Full per-document analysis projection. */
  def analyze(df: DataFrame, textCol: String): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    df.withColumn("n_tokens", TextFunctions.tokenCount(col(textCol)))
      .withColumn("n_subwords", TextFunctions.subwordCount(col(textCol)))
      .withColumn("quality_mills", TextFunctions.qualityScoreMills(col(textCol)))
      .withColumn("stopword_hits",
        TextFunctions.stopwordHits(toks, DefaultStopwords).cast("long"))
      .withColumn("lang_pred", TextFunctions.langIdHeuristic(toks, DefaultMarkers))
      .withColumn("fingerprint", TextFunctions.fingerprint(col(textCol)))
  }
}
