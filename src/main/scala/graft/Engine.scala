package graft

import graft.functions.{Normalize, OfferingText, Similarity}
import graft.operators._
import graft.sources.{BiffReader, ExcelReader, Ingest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine facade: session wiring + the reference's whole submission
  * pipeline as one call (SURVEY.md §3.1 — upload → header map →
  * normalize → validate → offerings → explode → resolve), returning
  * every intermediate a reviewer or report needs.
  *
  * A user of the reference runs: ingest a CSV/Excel member submission,
  * resolve its items against canonical dictionaries, review the middle
  * band, push approved data, download reports. Each of those maps to
  * one method here. They return lazy DataFrame plans, except that
  * [[processSubmission]] resolves the submission eagerly, once, so the
  * review, push and report steps read stored rows.
  */
object Engine {

  /** A session with the graft configuration + SQL similarity functions. */
  def session(appName: String = "graft", cpus: String = "32"): SparkSession = {
    val s = Tables.configure(SparkSession.builder().appName(appName), cpus)
      .getOrCreate()
    Similarity.register(s)
    s
  }

  case class SubmissionResult(
      mapping: HeaderMapper.MappingResult,
      valid: DataFrame,        // accepted member rows (member_id added)
      errors: DataFrame,       // rejected rows + error_message
      offerings: DataFrame,    // (member_id, title, uid, source_field, …)
      items: DataFrame,        // exploded (member_id, kind, item_name)
      resolved: DataFrame)     // items + ext_id/score/decision/alternatives

  /** Ingest + process one submission file (CSV or xlsx) end-to-end
    * against a canonical dictionary `dict(title, ext_id)`.
    *
    * Eager: the call reads the submission once and resolves its items
    * once. The validated rows, the valid members and the resolved items
    * are eager local checkpoints, so every action on the result (band
    * tally, [[reviewQueue]], [[pushPlan]], reports) reads stored rows;
    * none re-reads the file or re-scores a candidate pair. `offerings`
    * and `items` stay lazy plans over the stored valid rows.
    *
    * A nonexistent submission is rejected with [[Ingest.MissingInput]]
    * before any read.
    *
    * P11 is ENFORCED here, not just offered: the extension whitelist
    * always applies; when `uploadRoot` is given, `path` is treated as
    * the submitted filename relative to that root and must resolve
    * inside it (path-traversal guard) — absolute or `..`-escaping
    * submissions are rejected with a typed error. */
  def processSubmission(
      spark: SparkSession,
      path: String,
      dict: DataFrame,
      thresholds: EntityResolution.Thresholds = EntityResolution.Thresholds(),
      blocked: Boolean = false,
      uploadRoot: Option[String] = None): SubmissionResult = {
    if (!Ingest.allowedFile(path))
      throw Ingest.UnsupportedFormat(path,
        s"extension not allowed (expected one of: ${Ingest.AllowedExtensions.toSeq.sorted.mkString(", ")})")
    val srcPath = uploadRoot match {
      case Some(root) =>
        if (!Ingest.isSafeFilename(root, path))
          throw Ingest.UnsupportedFormat(path,
            "unsafe submission filename: escapes the upload root")
        java.nio.file.Paths.get(root).resolve(path).normalize.toString
      case None => path
    }
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(srcPath)))
      throw Ingest.MissingInput(path)
    // routing must share the whitelist's case folding: an accepted
    // "DATA.XLS" would otherwise fall through to the CSV reader
    val extLower = srcPath.toLowerCase
    val raw =
      if (extLower.endsWith(".xlsx") || extLower.endsWith(".xls")) {
        // legacy BIFF .xls is an OLE2 compound file, not a zip: route it
        // to the BIFF reader (the reference accepts both via pandas,
        // app/etl.py:612-632); zip containers go to the xlsx scan.
        if (Ingest.isLegacyBiff(srcPath)) BiffReader.readXls(spark, srcPath)
        else ExcelReader.readXlsx(spark, srcPath)
      } else Ingest.readCsv(spark, srcPath)

    val mapping = HeaderMapper.mapHeaders(raw.columns.toIndexedSeq)
    require(mapping.missingRequired.isEmpty,
      s"missing required columns: ${mapping.missingRequired.mkString(", ")}")
    val projected = HeaderMapper.projection(raw, mapping)

    val normed = projected.columns.foldLeft(projected) { (df, c) =>
      df.withColumn(c, Normalize.normEmpty(col(c)))
    }

    // contactEmail is a RequiredField and missingRequired was checked
    // empty above, so the column is guaranteed present — no fallback.
    // Eager: the one read of the submission; valid and errors both
    // derive from these stored rows.
    val flagged = normed.withColumn("__valid",
      Normalize.validBusinessName(col("businessName")) &&
        col("country1").isNotNull &&
        Normalize.validEmail(col("contactEmail")))
      .localCheckpoint(true)
    // member_id is derived from row content (xxhash64 over all columns),
    // not monotonically_increasing_id(), so the same file gets the same
    // ids on every run; a per-hash row_number gives identical duplicate
    // rows (interchangeable by construction) distinct ids. valid is an
    // eager checkpoint, so items, resolved, reviewQueue's join back to
    // valid and pushPlan all read one stored set of ids.
    val contentCols = projected.columns.toIndexedSeq.map(col)
    // orderBy the content columns, not a constant: identical rows still
    // tie, but a hash COLLISION of two distinct rows gets a total order,
    // so the suffix assignment is a function of the file alone.
    val wDup = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__h")).orderBy(contentCols: _*)
    val valid = flagged.where(col("__valid")).drop("__valid")
      .withColumn("__h", xxhash64(contentCols: _*))
      .withColumn("member_id",
        concat_ws("-", col("__h"), row_number().over(wDup)))
      .drop("__h")
      .localCheckpoint(true)
    val errors = flagged.where(!col("__valid")).drop("__valid")
      .withColumn("error_message",
        when(!Normalize.validBusinessName(col("businessName")), "invalid business name")
          .when(col("country1").isNull, "missing country")
          .otherwise("invalid email"))

    val offerings = Offerings.offeringLinks(valid, Seq("member_id"))

    val kindCols = Seq(
      "product" -> "products", "ingredient" -> "ingredients",
      "certification" -> "certifications", "allergen" -> "allergens")
      .filter { case (_, c) => valid.columns.contains(c) }
    val items = ItemExplode.explodeItems(valid, Seq("member_id"), kindCols)
      .withColumn("item_norm", OfferingText.normalizeOffering(col("item_name")))

    // Eager: the one resolution of this submission
    val resolved = EntityResolution.resolve(
      items, dict, Seq("member_id", "kind", "item_key"),
      itemCol = "item_norm", t = thresholds, blocked = blocked)
      .localCheckpoint(true)

    SubmissionResult(mapping, valid, errors, offerings, items, resolved)
  }

  case class CorpusResult(
      cleaned: DataFrame,   // id, strata, text (NFC+clean+line-dedup+PII), n_lines, n_kept_lines
      deduped: DataFrame,   // cleaned minus exact duplicates (and contaminated docs)
      selected: DataFrame,  // deduped + quality_mills/n_tokens, kept per the selection policy
      chunks: DataFrame,    // selected cut into overlapping token windows
      packed: DataFrame,    // selected laid head-to-tail into fixed token budgets
      accounting: DataFrame) // (stage_no, stage, n_rows) — counts run when actioned

  /** Which documents the quality-selection stage of [[processCorpus]]
    * keeps. Every policy reuses an already-oracle-gated operator —
    * the facade assembles, never forks, the data plane. */
  sealed trait SelectionPolicy

  /** Per-stratum token-budget prefix-greedy selection under the
    * quality ordering ([[operators.TextAnalysis.budgetSelect]], q74's
    * operator) — the default. */
  final case class BudgetSelection(budgetTokens: Long) extends SelectionPolicy

  /** DSIR data selection (Xie et al. 2023; q90 scoring + q92's rank
    * kernel): score every candidate by hashed-bigram target-likeness
    * against `target` (same `idCol`/`textCol` schema as the corpus;
    * both sides lowercased for gram statistics, the q90 convention)
    * and keep the `topK` most target-like documents per stratum with
    * the deterministic (dsir_avg_mills DESC, id) tie-break. The rank
    * runs over a slim (id, stratum, score) frame — full-text rows
    * never ride the rank exchange — and the kept set equi-joins back
    * (shuffle join: one-row-per-doc scores are never broadcastable at
    * corpus scale). `selected` gains a `dsir_avg_mills` column. */
  final case class DsirSelection(
      target: DataFrame,
      topK: Int,
      buckets: Int = graft.queries.TextQueries.DsirBuckets)
    extends SelectionPolicy

  /** Corpus-mixture selection: drop documents under `minQualityMills`
    * ([[functions.TextFunctions.qualityScoreMills]], q31's scorer),
    * then apply the deterministic per-stratum md5-threshold sample
    * ([[operators.TextAnalysis.stratifiedSample]], q70's operator) at
    * `rates` (strata absent from the map keep `defaultRate`). */
  final case class MixtureSelection(
      minQualityMills: Long,
      rates: Map[String, Double],
      defaultRate: Double = 0.0) extends SelectionPolicy

  /** Exact-count selection: drop documents under `minQualityMills`,
    * then keep EXACTLY `k` per stratum in the deterministic md5
    * priority order ([[operators.TextAnalysis.prioritySample]], q100's
    * operator) — eval-set carving and fixed-size per-stratum probes,
    * where [[MixtureSelection]]'s rate-based sample would scale with
    * the stratum instead. `selected` gains a `sample_rank` column. */
  final case class ExactKSelection(
      minQualityMills: Long,
      k: Int) extends SelectionPolicy

  /** UniMax selection (Chung et al. 2023; q136's allocator + q137's
    * execution): water-fill a token budget over the strata under a
    * `maxEpochs` capacity cap ([[operators.TextAnalysis
    * .unimaxAllocate]]), then fill each stratum's allocation with its
    * best documents through the q74 histogram kernel
    * ([[operators.TextAnalysis.budgetSelectPerStratum]]). Capped
    * strata keep every document; waterlined strata cut on quality.
    * Exactly one of `budgetTokens` (absolute) or `budgetPerMille`
    * (share of total capacity) sets the budget. */
  final case class UnimaxSelection(
      maxEpochs: Int,
      budgetTokens: Long = 0L,
      budgetPerMille: Option[Long] = None) extends SelectionPolicy {
    // "exactly one" is enforced, not just documented: omitting both
    // would water-fill a zero budget and silently select nothing
    require((budgetTokens > 0L) != budgetPerMille.isDefined,
      "set exactly one of budgetTokens (> 0) or budgetPerMille")
    budgetPerMille.foreach(p => require(p > 0L && p <= 1000L,
      s"budgetPerMille=$p must be in (0, 1000]"))
  }

  /** Temperature-scaled selection (q145's α = ½ allocator + q137's
    * execution): strata weighted by exact integer isqrt(n_tokens) —
    * the mT5/XLM-R low-resource up-weighting — then each stratum's
    * allocation (target capped at supply) is filled with its best
    * documents through the q74 histogram kernel. Exactly one of
    * `budgetTokens` or `budgetPerMille` sets the budget. */
  final case class TemperatureSelection(
      budgetTokens: Long = 0L,
      budgetPerMille: Option[Long] = None) extends SelectionPolicy {
    require((budgetTokens > 0L) != budgetPerMille.isDefined,
      "set exactly one of budgetTokens (> 0) or budgetPerMille")
    budgetPerMille.foreach(p => require(p > 0L && p <= 1000L,
      s"budgetPerMille=$p must be in (0, 1000]"))
  }

  /** The LLM-corpus counterpart of [[processSubmission]]: one composed
    * entry point for the training-data pipeline the extension family
    * implements piecewise —
    *
    *   NFC → [C4 page clean] → line dedup (boilerplate) → clean
    *   (control-char strip) → PII scrub → drop-empty → exact dedup →
    *   [LSH near-dup → components → keeper cut] →
    *   [dup-passage removal] → [benchmark decontam] →
    *   [Gopher rule gate] → quality score →
    *   per-stratum token-budget selection → chunk + pack
    *
    * Every stage is the already-oracle-gated operator (q77/q72/q73/q29/
    * q89/q78/q31/q74-q90-q92-q70/q85/q69 respectively), composed lazily
    * EXCEPT three documented eager points: `decontamEval` builds its
    * Bloom bitset (driver collect of the eval gram rollup) at call
    * time — the bloomDecontam contract; `removeDupWindows` eagerly
    * localCheckpoints its anchor index (TextAnalysis.removeDupPassages
    * reads it twice — frequency agg + dup-start join), which executes
    * the FULL upstream pipeline at facade-call time, so pair
    * `removeDupWindows` with `materializeBoundaries = true` unless a
    * per-action upstream re-execution is acceptable; `nearDedup`
    * eagerly materializes its banding + verify + components loop at
    * call time (connectedComponents localCheckpoints every round by
    * contract), which executes the upstream pipeline once — same
    * pairing advice as `removeDupWindows`; and
    * `materializeBoundaries` checkpoints by design. `accounting` is
    * the per-stage row ledger (one count job per stage when collected
    * — spec/audit surface, not a hot path).
    *
    * Scale shape: inherits each operator's documented shape (no pair
    * space, no global sort, bounded key spaces); the only cross-stage
    * addition is the keep-set semi-join after exact dedup, equi-keyed
    * on the id.
    *
    * @param docs          corpus with `idCol` (unique), `textCol`, `strataCol`
    * @param c4Rules       when Some((minWords, minSentences)), the C4
    *                      page-cleaning recipe (TextAnalysis.c4Clean,
    *                      the q135 operator) runs FIRST — while the
    *                      page's line structure is still intact, before
    *                      line dedup and the whitespace-collapsing
    *                      clean: line retention rewrites `textCol` to
    *                      the kept lines and pages failing the
    *                      lorem-ipsum / brace / min-sentences verdict
    *                      are dropped. Adds a `c4_cleaned` ledger stage
    * @param decontamEval  held-out benchmark docs (same `idCol`/`textCol`
    *                      schema); when given, training docs sharing >=
    *                      `decontamMinShared` word bigrams with ANY eval
    *                      doc are dropped (Bloom-prefiltered exact check)
    * @param removeDupWindows when Some((windowTokens, anchorMod)),
    *                      cross-doc duplicated passages are CUT from
    *                      every non-canonical holder after exact dedup
    *                      (TextAnalysis.removeDupPassages — row-
    *                      preserving, text shrinks)
    * @param nearDedup     when Some(minJaccardMills), within-corpus
    *                      FUZZY dedup runs after exact dedup: MinHash-
    *                      LSH candidate pairs (the q35 banding, star-
    *                      capped at `nearDedupMaxBucket`), exact
    *                      token-set Jaccard verification at the given
    *                      threshold, connected components over the
    *                      verified edges (the q53 kernel), then each
    *                      component keeps only its min-id canonical
    *                      (the q106 keeper cut with id priority).
    *                      Adds a `near_deduped` ledger stage
    * @param nearDedupMaxBucket star cap on degenerate LSH buckets
    *                      (default: the gated q35 cap). NOTE the
    *                      verify-after-star trade: the star reduction
    *                      preserves the RAW banding closure exactly,
    *                      but a star edge that fails verification can
    *                      split a component a full clique would have
    *                      kept whole — in a degenerate bucket (near-
    *                      identical boilerplate) star edges verify in
    *                      practice; pass `Int.MaxValue` for the
    *                      lossless all-pairs verify
    * @param againstCorpus when Some(standing corpus of the same
    *                      `idCol`/`textCol` shape, in this pipeline's
    *                      cleaned text form), batch docs the corpus
    *                      already holds — exact content key or LSH-
    *                      verified near-dup at `againstMinJaccardMills`
    *                      — are dropped after exact dedup
    *                      (Dedup.dedupAgainst, the q109 operator);
    *                      `againstMaxCandidates` is its documented
    *                      lossy hot-band cap (default exhaustive).
    *                      Adds an `incremental_new` ledger stage
    * @param gopherStops   when Some(list), documents failing the
    *                      Gopher A1.1 rule conjunction (with this
    *                      required-word list) are dropped between
    *                      decontamination and quality selection
    * @param minEntropyMillsPerTok when Some(mills), documents whose
    *                      own token-distribution entropy falls under
    *                      this many Mitchell millibits per token are
    *                      dropped after the Gopher gate
    *                      (TextAnalysis.tokenEntropy, the q127
    *                      operator — the gibberish/template filter).
    *                      Adds an `entropy_filtered` ledger stage
    * @param budgetTokens  per-stratum token budget for quality selection
    *                      (the default [[BudgetSelection]] policy;
    *                      ignored when `selection` is given)
    * @param selection     which documents the quality-selection stage
    *                      keeps: [[BudgetSelection]] (default, via
    *                      `budgetTokens`), [[DsirSelection]] (per-
    *                      stratum DSIR top-K against a target corpus),
    *                      [[MixtureSelection]] (quality threshold +
    *                      stratified mixture rates),
    *                      [[ExactKSelection]] (quality threshold +
    *                      exactly k per stratum in md5 priority
    *                      order), [[UnimaxSelection]] (epoch-capped
    *                      water-filled budgets driving per-stratum
    *                      quality selection), or
    *                      [[TemperatureSelection]] (α = ½ isqrt-
    *                      weighted budgets, same execution). The
    *                      stage-7 ledger label names the policy that
    *                      ran
    * @param packBudget    tokens per packed training sequence
    * @param materializeBoundaries when true, EAGERLY localCheckpoints
    *                      the five stage-boundary frames each consumed
    *                      by 2+ downstream actions (cleaned, exact-
    *                      deduped, passage-cleaned, decontaminated,
    *                      selected) — the
    *                      persist-at-stage-boundaries shape a real run
    *                      at scale uses (and the ledger then costs one
    *                      cheap count per stage instead of a full
    *                      upstream re-execution each). Default false
    *                      keeps the everything-lazy contract.
    */
  def processCorpus(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      strataCol: String = "lang",
      maxLineDocFreq: Int = graft.queries.TextQueries.LineDedupMaxDf,
      c4Rules: Option[(Int, Int)] = None,
      decontamEval: Option[DataFrame] = None,
      decontamMinShared: Int = graft.queries.TextQueries.DecontamMinShared,
      removeDupWindows: Option[(Int, Int)] = None,
      nearDedup: Option[Int] = None,
      nearDedupMaxBucket: Int = graft.queries.TextQueries.LshBucketCap,
      againstCorpus: Option[DataFrame] = None,
      againstMinJaccardMills: Int = 500,
      againstMaxCandidates: Int = Int.MaxValue,
      gopherStops: Option[Seq[String]] = None,
      minEntropyMillsPerTok: Option[Long] = None,
      budgetTokens: Long = 1000000L,
      selection: Option[SelectionPolicy] = None,
      chunkTokens: Int = 512,
      chunkOverlap: Int = 64,
      packBudget: Int = 2048,
      materializeBoundaries: Boolean = false): CorpusResult = {
    import graft.functions.{TextFunctions, UnicodeNorm}
    def boundary(df: DataFrame): DataFrame =
      if (materializeBoundaries) df.localCheckpoint(true) else df

    // reserved intermediate names (dedupLines / c4Clean outputs join
    // back against the passthrough columns): an input corpus carrying
    // one would surface as an opaque AMBIGUOUS_REFERENCE mid-plan —
    // fail loud at the facade boundary instead, like the operators do
    val reserved = Seq("clean_text", "n_lines", "n_kept", "n_kept_lines",
      "kept_text", "n_sentences", "has_lorem", "has_brace", "page_keep",
      // selection/dedup outputs: an input column with one of these
      // names would be silently overwritten (withColumn) or eaten
      // (Dedup.exact's drop), not surfaced
      "quality_mills", "n_tokens", "dsir_avg_mills", "sample_rank",
      "content_key", "dup_count")
    docs.columns.toSeq.intersect(reserved) match {
      case Seq() => ()
      case bad => throw new IllegalArgumentException(
        s"input corpus columns ${bad.mkString(", ")} are reserved by processCorpus")
    }

    // 1-2. NFC first (so line hashing sees canonical bytes), line dedup
    // while newlines are still intact, THEN cleanText — its control-
    // char strip + whitespace collapse would erase the very line
    // structure dedupLines keys on (NFC is idempotent, so the repeat
    // inside cleanText is free)
    val washed = docs.withColumn(textCol,
      UnicodeNorm.nfc_normalize(col(textCol)))
    // 1a. optional C4 page clean (q135's operator) while the page's
    // line structure is still intact: keep only rule-passing lines,
    // drop vetoed pages — scan-side, zero shuffle
    val c4ed = c4Rules match {
      case None => washed
      case Some((minW, minS)) =>
        TextAnalysis.c4Clean(washed, idCol, textCol, minW, minS)
          .where(col("page_keep"))
          .withColumn(textCol, col("kept_text"))
          .drop("n_lines", "n_kept", "kept_text", "n_sentences",
            "has_lorem", "has_brace", "page_keep")
    }
    // passthrough columns (strata and anything else) ride dedupLines'
    // own final projection — that scan happens anyway, so this costs
    // nothing, where the pre-round-13 rejoin-by-id paid one extra
    // corpus scan plus an id-keyed shuffle (measured: the cleaned
    // boundary dropped from 4 to 3 corpus passes)
    val passCols = docs.columns.toSeq
      .filterNot(c => c == textCol || c == idCol)
    val lineDeduped = TextAnalysis
      .dedupLines(c4ed, textCol, idCol, maxLineDocFreq, passCols)
      .withColumnRenamed("n_kept", "n_kept_lines")
    val cleaned = boundary(lineDeduped
      .withColumn(textCol,
        TextFunctions.scrubPii(UnicodeNorm.cleanText(col("clean_text"))))
      .drop("clean_text"))

    // 3. an all-boilerplate doc has no trainable content — and every
    // such doc shares the SAME empty content key, so drop before dedup
    val nonEmpty = cleaned.where(TextFunctions.tokenCount(col(textCol)) > 0)

    // 4. exact dedup: keep the min-id representative of each content key
    // (round-13 OPT: boundary-wrapped — under materializeBoundaries the
    // frame is consumed by 2+ downstream actions like the other
    // boundaries: the near-dedup banding build AND its keeper
    // anti-join, the against-corpus probe, and the ledger counts each
    // re-ran the content-key window from the cleaned checkpoint)
    val exactDeduped = boundary(Dedup.exact(nonEmpty, textCol, idCol)
      .drop("content_key", "dup_count"))

    // 4n. optional within-corpus fuzzy dedup: the q35 banding (star-
    // capped candidate pairs), q36-style exact token-set Jaccard
    // verify, the q53 closure, then the q106 keeper cut (min id per
    // component). Runs BEFORE the against-corpus gate so the standing-
    // corpus probe sees only canonical survivors. Scale shape: pair
    // mass is linear by the star cap, verification is two equi-joins
    // of sorted token sets onto the pair list, and the components loop
    // is the eager-checkpoint kernel — no all-pairs anywhere.
    val nearDeduped = nearDedup match {
      case None => exactDeduped
      case Some(minJacMills) =>
        // round-13 OPT: one pass over the exact-dedup survivors computes
        // the token sets AND both band signatures, materialized once —
        // the banding and the two verify joins each used to re-execute
        // the whole upstream pipeline (from the nearest boundary) plus a
        // re-tokenization. This stage is ALREADY documented eager (the
        // components loop checkpoints by contract), so the extra eager
        // cut changes no laziness anyone relies on. Same kernels, same
        // geometry (bands = 2 × rowsPerBand = 4 through the shared
        // star-cap kernel), identical output.
        // boundary(), not an unconditional localCheckpoint: the frame
        // persists full sorted token sets + band signatures for every
        // exact-dedup survivor, a footprint materializeBoundaries=false
        // callers opted out of (ADVICE r13). Under the flag the eager
        // cut stands exactly as before; without it the three consumers
        // share the lazy subtree (the components loop still makes the
        // stage eager through its own checkpoint contract).
        val slim = boundary(exactDeduped
          .select(col(idCol).as("__id"),
            TextFunctions.tokenSetSorted(col(textCol)).as("__tok"),
            array(
              TextFunctions.minhashBand(col(textCol), 0 until 4),
              TextFunctions.minhashBand(col(textCol), 4 until 8))
              .as("__bands")))
        val byBand = slim.select(col("__id"),
          posexplode(col("__bands")).as(Seq("band_no", "band_sig")))
        val cand = Dedup.cappedBucketPairs(
          byBand, Seq("band_no", "band_sig"), "__id", nearDedupMaxBucket)
        val verified = cand
          .join(slim.select(col("__id").as("id_a"), col("__tok").as("__ta")),
            Seq("id_a"))
          .join(slim.select(col("__id").as("id_b"), col("__tok").as("__tb")),
            Seq("id_b"))
          .withColumn("__common", graft.functions.ArrayOps
            .sortedIntersectSize(col("__ta"), col("__tb")))
          .where(floor(lit(1000) * col("__common") /
            (size(col("__ta")) + size(col("__tb")) - col("__common")))
            >= minJacMills)
          .select("id_a", "id_b")
        // components over VERIFIED edges (Lee et al. 2022 NearDup
        // semantics); non-canonical members (comp ≠ own id) drop
        val losers = Dedup.connectedComponents(verified)
          .where(col("comp") =!= col("id"))
          .select(col("id").as(idCol))
        exactDeduped.join(losers, Seq(idCol), "left_anti")
    }

    // 4a. optional incremental gate vs a standing corpus (the q109
    // operator): batch docs the corpus already holds — exact content
    // key or verified LSH near-dup — are dropped; only `new` docs
    // continue. The standing corpus is expected in the same cleaned
    // form this pipeline produces (classify raw-vs-clean text and the
    // content keys disagree for trivial whitespace reasons).
    val incremental = againstCorpus match {
      case None => nearDeduped
      case Some(corpus) =>
        nearDeduped.join(
          Dedup.dedupAgainst(
            nearDeduped.select(col(idCol), col(textCol)), corpus,
            textCol, idCol,
            minJaccardMills = againstMinJaccardMills,
            maxCandidates = againstMaxCandidates)
            .where(col("verdict") === "new").select(idCol),
          Seq(idCol), "left_semi")
    }

    // 4b. optional duplicated-passage surgery: cut cross-doc repeated
    // windows from every non-canonical holder; a doc whose every token
    // was a duplicated passage has no trainable content left (same
    // rule as stage 3) and is dropped here
    val passageClean = removeDupWindows match {
      case None => incremental
      case Some((w, m)) =>
        boundary(incremental.drop(textCol).join(
          TextAnalysis.removeDupPassages(incremental, textCol, idCol, w, m)
            .select(col(idCol), col("clean_text").as(textCol)),
          Seq(idCol))
          .where(TextFunctions.tokenCount(col(textCol)) > 0))
    }

    // 5. optional benchmark decontamination (exact result, Bloom-
    // prefiltered so the uncontaminated bulk never shuffles)
    val deduped = decontamEval match {
      case None => passageClean
      case Some(ev) =>
        val grams = (d: DataFrame) => d.select(col(idCol),
          array_distinct(TextFunctions.wordNGrams(lower(col(textCol)), 2))
            .as("__grams"))
        val contaminated = TextAnalysis.bloomDecontam(
          grams(passageClean), grams(ev), idCol, "__grams",
          minShared = decontamMinShared,
          mBits = graft.queries.TextQueries.DecontamBloomBits,
          seeds = graft.queries.TextQueries.DecontamBloomSeeds)
        passageClean.join(contaminated.select(idCol), Seq(idCol), "left_anti")
    }
    // when decontam is off but removal ran, `deduped` IS passageClean,
    // which the match above already boundary-wrapped — a second eager
    // checkpoint would write a full identical copy for nothing
    val dedupedB =
      if (decontamEval.isEmpty && removeDupWindows.isDefined) deduped
      else boundary(deduped)

    // 5b. optional Gopher rule gate: the A1.1 conjunction as a
    // scan-side semi-filter (q91's operator; equi-join on the id so
    // the full metric projection never rides downstream)
    val gopherRuled = gopherStops match {
      case None => dedupedB
      case Some(stops) =>
        dedupedB.join(
          TextAnalysis.gopherQualityFlags(dedupedB, textCol, idCol, stops)
            .where(col("gopher_ok")).select(idCol),
          Seq(idCol), "left_semi")
    }

    // 5c. optional token-entropy gate (q127's operator): the
    // information-diversity complement of the Gopher rules — drops
    // gibberish/template docs whose own token distribution carries
    // under the threshold millibits per token; same semi-join shape
    // so only ids ride back
    val ruled = minEntropyMillsPerTok match {
      case None => gopherRuled
      case Some(minMills) =>
        gopherRuled.join(
          TextAnalysis.tokenEntropy(gopherRuled, idCol, textCol, minMills)
            .where(!col("low_diversity")).select(idCol),
          Seq(idCol), "left_semi")
    }

    // 6-7. quality score + the configured selection policy
    val scored = ruled
      .withColumn("quality_mills", TextFunctions.qualityScoreMills(col(textCol)))
      .withColumn("n_tokens", TextFunctions.tokenCount(col(textCol)))
    val (selLabel, selectedRaw) =
      selection.getOrElse(BudgetSelection(budgetTokens)) match {
        case BudgetSelection(budget) =>
          ("budget_selected", TextAnalysis.budgetSelect(
            scored, strataCol, "quality_mills", "n_tokens", idCol, budget))
        case DsirSelection(target, topK, buckets) =>
          val forGrams = (d: DataFrame) =>
            d.select(col(idCol), lower(col(textCol)).as(textCol))
          val imp = TextAnalysis.importanceScore(
            forGrams(ruled), forGrams(target), textCol, idCol, buckets)
          // q92's kernel: rank the SLIM (id, stratum, score) frame —
          // text must not ride the rank exchange — then join back
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col(strataCol))
            .orderBy(col("dsir_avg_mills").desc, col(idCol))
          val kept = scored.select(col(idCol), col(strataCol))
            .join(imp.select(col(idCol), col("dsir_avg_mills")), Seq(idCol))
            .withColumn("__rk", row_number().over(w))
            .where(col("__rk") <= topK)
            .select(col(idCol), col("dsir_avg_mills"))
          ("dsir_selected", scored.join(kept, Seq(idCol)))
        case MixtureSelection(minQ, rates, defaultRate) =>
          ("mixture_selected", TextAnalysis.stratifiedSample(
            scored.where(col("quality_mills") >= minQ),
            strataCol, idCol, rates, defaultRate))
        case ExactKSelection(minQ, k) =>
          ("exact_k_selected", TextAnalysis.prioritySample(
            scored.where(col("quality_mills") >= minQ),
            strataCol, idCol, k))
        case UnimaxSelection(epochs, budget, perMille) =>
          val budgets = TextAnalysis.unimaxAllocate(
              ruled.select(col(strataCol), col(textCol)), strataCol,
              textCol, epochs, budget, perMille)
            .select(col("stratum").as(strataCol), col("allocated"))
          ("unimax_selected", TextAnalysis.budgetSelectPerStratum(
            scored, strataCol, "quality_mills", "n_tokens", idCol,
            budgets, "allocated"))
        case TemperatureSelection(budget, perMille) =>
          val budgets = TextAnalysis.temperatureAllocate(
              ruled.select(col(strataCol), col(textCol)), strataCol,
              textCol, budget, perMille)
            .select(col("stratum").as(strataCol), col("alloc_tokens"))
          ("temperature_selected", TextAnalysis.budgetSelectPerStratum(
            scored, strataCol, "quality_mills", "n_tokens", idCol,
            budgets, "alloc_tokens"))
      }
    val selected = boundary(selectedRaw)

    // 8. training-ready units: overlapping windows AND packed sequences
    val chunks = TextAnalysis.chunkDocs(
      selected, textCol, idCol, chunkTokens, chunkOverlap)
    val packed = TextAnalysis.packSequences(
      selected, textCol, idCol, strataCol, packBudget)

    // every OPTIONAL stage appears in the ledger only when it ran — an
    // audit consumer must be able to tell "ran and dropped nothing"
    // from "was off" for passage cleaning, decontamination and the
    // Gopher rule gate exactly as it can for the C4/incremental/
    // entropy gates
    val accounting = (Seq(
      ("input", docs)) ++
      (if (c4Rules.isDefined) Seq(("c4_cleaned", c4ed)) else Nil) ++ Seq(
      ("cleaned", cleaned),
      ("non_empty", nonEmpty), ("exact_deduped", exactDeduped)) ++
      (if (nearDedup.isDefined) Seq(("near_deduped", nearDeduped))
       else Nil) ++
      (if (againstCorpus.isDefined) Seq(("incremental_new", incremental))
       else Nil) ++
      (if (removeDupWindows.isDefined)
        Seq(("passage_cleaned", passageClean)) else Nil) ++
      (if (decontamEval.isDefined)
        Seq(("decontaminated", dedupedB)) else Nil) ++
      (if (gopherStops.isDefined)
        Seq(("rule_filtered", gopherRuled)) else Nil) ++
      (if (minEntropyMillsPerTok.isDefined)
        Seq(("entropy_filtered", ruled)) else Nil) ++ Seq(
      (selLabel, selected),
      ("chunks", chunks), ("packed_docs", packed)))
      .zipWithIndex
      .map { case ((name, df), i) =>
        df.agg(lit(i).as("stage_no"), lit(name).as("stage"),
          count(lit(1)).as("n_rows"))
      }.reduce(_ unionByName _)

    CorpusResult(cleaned, dedupedB, selected, chunks, packed, accounting)
  }

  /** The review queue (pending band) with dashboard aggregates. */
  def reviewQueue(r: SubmissionResult, submissionName: String): (DataFrame, DataFrame) = {
    val pending = r.resolved.where(col("decision") === "review")
      .withColumn("submission_name", lit(submissionName))
      .join(r.valid.select(col("member_id"), col("businessName").as("member_name")),
        Seq("member_id"))
    (pending, Reports.reviewDashboard(pending))
  }

  /** The push/upsert plan: reconcile resolved items into the dimension,
    * deriving the create-new set (J5) and the update/insert member fork
    * (J4). Returns (newDimRows, memberUpdates, memberInserts). */
  def pushPlan(
      r: SubmissionResult,
      dict: DataFrame,
      existingMembers: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val approvedNew = r.resolved.where(col("decision") === "review" ||
      col("decision") === "rejected")
    val newDims = Merge.missingDimRows(approvedNew, dict, "item_norm", "title", "NEW-")
    val (upd, ins) = Merge.splitUpsert(
      r.valid, existingMembers, Seq("businessName"))
    (newDims, upd, ins)
  }
}
