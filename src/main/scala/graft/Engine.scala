package graft

import graft.functions.{Normalize, OfferingText}
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

  /** A session with the graft configuration + the graft SQL functions. */
  def session(appName: String = "graft", cpus: String = "32"): SparkSession = {
    val s = Tables.configure(SparkSession.builder().appName(appName), cpus)
      .getOrCreate()
    graft.plans.GraftExtensions.registerInto(s)
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
    * against a canonical dictionary `dict(title, ext_id)`. Items
    * resolve through the unblocked (broadcast) [[EntityResolution
    * .resolve]] at the `Normalize.AutoResolve`/`AutoReject` bands.
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
    // The rejection rule: the first failed check names the row's error;
    // a row that passes every check has none. Eager: the one read of
    // the submission; valid and errors both derive from these stored
    // rows.
    val flagged = normed.withColumn("error_message",
      when(!Normalize.validBusinessName(col("businessName")), "invalid business name")
        .when(col("country1").isNull, "missing country")
        .when(!Normalize.validEmail(col("contactEmail")), "invalid email"))
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
    val valid = flagged.where(col("error_message").isNull).drop("error_message")
      .withColumn("__h", xxhash64(contentCols: _*))
      .withColumn("member_id",
        concat_ws("-", col("__h"), row_number().over(wDup)))
      .drop("__h")
      .localCheckpoint(true)
    val errors = flagged.where(col("error_message").isNotNull)

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
      itemCol = "item_norm")
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
    * keeps instead of its default per-stratum token-budget selection.
    * Every policy reuses an already-oracle-gated operator — the facade
    * assembles, never forks, the data plane. */
  sealed trait SelectionPolicy

  /** DSIR data selection (Xie et al. 2023; q90 scoring + q92's rank
    * kernel): score every candidate by hashed-bigram target-likeness
    * against `target` (same `doc_id`/`text` schema as the corpus;
    * both sides lowercased for gram statistics, the q90 convention,
    * hashed into q90's `DsirBuckets`)
    * and keep the `topK` most target-like documents per stratum with
    * the deterministic (dsir_avg_mills DESC, id) tie-break. The rank
    * runs over a slim (id, stratum, score) frame — full-text rows
    * never ride the rank exchange — and the kept set equi-joins back
    * (shuffle join: one-row-per-doc scores are never broadcastable at
    * corpus scale). `selected` gains a `dsir_avg_mills` column. */
  final case class DsirSelection(target: DataFrame, topK: Int)
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
    * The budget is `budgetPerMille` of the total capacity. */
  final case class UnimaxSelection(maxEpochs: Int, budgetPerMille: Long)
    extends SelectionPolicy {
    require(budgetPerMille > 0L && budgetPerMille <= 1000L,
      s"budgetPerMille=$budgetPerMille must be in (0, 1000]")
  }

  /** Temperature-scaled selection (q145's α = ½ allocator + q137's
    * execution): strata weighted by exact integer isqrt(n_tokens) —
    * the mT5/XLM-R low-resource up-weighting — then each stratum's
    * allocation (target capped at supply) is filled with its best
    * documents through the q74 histogram kernel. The budget is
    * `budgetPerMille` of the corpus's tokens. */
  final case class TemperatureSelection(budgetPerMille: Long)
    extends SelectionPolicy {
    require(budgetPerMille > 0L && budgetPerMille <= 1000L,
      s"budgetPerMille=$budgetPerMille must be in (0, 1000]")
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
    * Each stage runs its operator at the constants its oracle query
    * gates: line dedup at `TextQueries.LineDedupMaxDf`, decontamination
    * at `DecontamMinShared` shared bigrams, near-dedup banding at the
    * `LshBucketCap` star cap, and the against-corpus gate at
    * `Dedup.dedupAgainst`'s default Jaccard floor with an exhaustive
    * candidate verify.
    *
    * Scale shape: inherits each operator's documented shape (no pair
    * space, no global sort, bounded key spaces); the only cross-stage
    * addition is the keep-set semi-join after exact dedup, equi-keyed
    * on the id.
    *
    * @param docs          corpus with `doc_id` (unique), `text` and the
    *                      stratum column `lang`
    * @param c4Rules       when Some((minWords, minSentences)), the C4
    *                      page-cleaning recipe (TextAnalysis.c4Clean,
    *                      the q135 operator) runs FIRST — while the
    *                      page's line structure is still intact, before
    *                      line dedup and the whitespace-collapsing
    *                      clean: line retention rewrites `text` to
    *                      the kept lines and pages failing the
    *                      lorem-ipsum / brace / min-sentences verdict
    *                      are dropped. Adds a `c4_cleaned` ledger stage
    * @param decontamEval  held-out benchmark docs (same `doc_id`/`text`
    *                      schema); when given, training docs sharing >=
    *                      `TextQueries.DecontamMinShared` word bigrams
    *                      with ANY eval doc are dropped (Bloom-
    *                      prefiltered exact check)
    * @param removeDupWindows when Some((windowTokens, anchorMod)),
    *                      cross-doc duplicated passages are CUT from
    *                      every non-canonical holder after exact dedup
    *                      (TextAnalysis.removeDupPassages — row-
    *                      preserving, text shrinks)
    * @param nearDedup     when Some(minJaccardMills), within-corpus
    *                      FUZZY dedup runs after exact dedup through
    *                      `Dedup.verifiedComponents` (the q196
    *                      operator): MinHash-LSH candidate pairs (the
    *                      q35 banding, star-capped at the gated q35
    *                      cap — see the verify-after-star trade
    *                      documented on `Dedup.verifiedComponents`),
    *                      exact token-set Jaccard verification at the
    *                      given threshold, connected components over
    *                      the verified edges (the q53 kernel), then each
    *                      component keeps only its min-id canonical (the
    *                      q106 keeper cut with id priority). Adds a
    *                      `near_deduped` ledger stage
    * @param againstCorpus when Some(standing corpus of the same
    *                      `doc_id`/`text` shape, in this pipeline's
    *                      cleaned text form), batch docs the corpus
    *                      already holds — exact content key or LSH-
    *                      verified near-dup — are dropped after exact
    *                      dedup (Dedup.dedupAgainst, the q109 operator,
    *                      verifying every candidate). Adds an
    *                      `incremental_new` ledger stage
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
    * @param budgetTokens  per-stratum token budget for the default
    *                      quality selection (TextAnalysis.budgetSelect,
    *                      q74's operator; ignored when `selection` is
    *                      given)
    * @param selection     when Some(policy), which documents the
    *                      quality-selection stage keeps instead:
    *                      [[DsirSelection]] (per-stratum DSIR top-K
    *                      against a target corpus),
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
    *                      upstream re-execution each). A boundary whose
    *                      frame is already stored (an upstream boundary
    *                      passed through by the stages that are off)
    *                      is not written again. Default false keeps the
    *                      everything-lazy contract.
    */
  def processCorpus(
      docs: DataFrame,
      c4Rules: Option[(Int, Int)] = None,
      decontamEval: Option[DataFrame] = None,
      removeDupWindows: Option[(Int, Int)] = None,
      nearDedup: Option[Int] = None,
      againstCorpus: Option[DataFrame] = None,
      gopherStops: Option[Seq[String]] = None,
      minEntropyMillsPerTok: Option[Long] = None,
      budgetTokens: Long = 1000000L,
      selection: Option[SelectionPolicy] = None,
      chunkTokens: Int = 512,
      chunkOverlap: Int = 64,
      packBudget: Int = 2048,
      materializeBoundaries: Boolean = false): CorpusResult = {
    import graft.functions.{TextFunctions, UnicodeNorm}
    import graft.queries.TextQueries
    val (idCol, textCol, strataCol) = ("doc_id", "text", "lang")
    def boundary(df: DataFrame): DataFrame = df.queryExecution.logical match {
      case _: org.apache.spark.sql.execution.LogicalRDD => df
      case _ => if (materializeBoundaries) df.localCheckpoint(true) else df
    }
    // the ledger, in stage order: each stage enters it where it is
    // built, so a stage that is off never appears — an audit consumer
    // must be able to tell "ran and dropped nothing" from "was off"
    val ledger = Seq.newBuilder[(String, DataFrame)]
    def stage(name: String, df: DataFrame): DataFrame = {
      ledger += name -> df
      df
    }

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
    stage("input", docs)

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
      case Some((minW, minS)) => stage("c4_cleaned",
        TextAnalysis.c4Clean(washed, idCol, textCol, minW, minS)
          .where(col("page_keep"))
          .withColumn(textCol, col("kept_text"))
          .drop("n_lines", "n_kept", "kept_text", "n_sentences",
            "has_lorem", "has_brace", "page_keep"))
    }
    // passthrough columns (strata and anything else) ride dedupLines'
    // own final projection — that scan happens anyway, so this costs
    // nothing, where the pre-round-13 rejoin-by-id paid one extra
    // corpus scan plus an id-keyed shuffle (measured: the cleaned
    // boundary dropped from 4 to 3 corpus passes)
    val passCols = docs.columns.toSeq
      .filterNot(c => c == textCol || c == idCol)
    val lineDeduped = TextAnalysis
      .dedupLines(c4ed, textCol, idCol, TextQueries.LineDedupMaxDf, passCols)
      .withColumnRenamed("n_kept", "n_kept_lines")
    val cleaned = stage("cleaned", boundary(lineDeduped
      .withColumn(textCol,
        TextFunctions.scrubPii(UnicodeNorm.cleanText(col("clean_text"))))
      .drop("clean_text")))

    // 3. an all-boilerplate doc has no trainable content — and every
    // such doc shares the SAME empty content key, so drop before dedup
    val nonEmpty = stage("non_empty",
      cleaned.where(TextFunctions.tokenCount(col(textCol)) > 0))

    // 4. exact dedup: keep the min-id representative of each content key
    // (round-13 OPT: boundary-wrapped — under materializeBoundaries the
    // frame is consumed by 2+ downstream actions like the other
    // boundaries: the near-dedup banding build AND its keeper
    // anti-join, the against-corpus probe, and the ledger counts each
    // re-ran the content-key window from the cleaned checkpoint)
    val exactDeduped = stage("exact_deduped", boundary(
      Dedup.exact(nonEmpty, textCol, idCol).drop("content_key", "dup_count")))

    // 4n. optional within-corpus fuzzy dedup (Dedup.verifiedComponents,
    // the q196 composition): star-capped q35 banding, exact token-set
    // Jaccard verify, the q53 closure over verified edges, then the q106
    // keeper cut (min id per component). Runs BEFORE the against-corpus
    // gate so the standing-corpus probe sees only canonical survivors.
    val nearDeduped = nearDedup match {
      case None => exactDeduped
      case Some(minJacMills) =>
        // the token sets and bands of every exact-dedup survivor feed the
        // banding and both verify joins: boundary(), not an unconditional
        // localCheckpoint, because the frame holds full token sets — a
        // footprint materializeBoundaries=false callers opted out of (the
        // components loop still makes the stage eager through its own
        // checkpoint contract)
        val slim = boundary(Dedup.nearDupFrame(exactDeduped, textCol, idCol))
        // non-canonical members (comp ≠ own id) drop
        val losers = Dedup.verifiedComponents(slim, minJacMills,
            TextQueries.LshBucketCap)
          .where(col("comp") =!= col("id"))
          .select(col("id").as(idCol))
        stage("near_deduped",
          exactDeduped.join(losers, Seq(idCol), "left_anti"))
    }

    // 4a. optional incremental gate vs a standing corpus (the q109
    // operator): batch docs the corpus already holds — exact content
    // key or verified LSH near-dup — are dropped; only `new` docs
    // continue. The standing corpus is expected in the same cleaned
    // form this pipeline produces (classify raw-vs-clean text and the
    // content keys disagree for trivial whitespace reasons).
    val incremental = againstCorpus match {
      case None => nearDeduped
      case Some(corpus) => stage("incremental_new",
        nearDeduped.join(
          Dedup.dedupAgainst(
            nearDeduped.select(col(idCol), col(textCol)), corpus,
            textCol, idCol, maxCandidates = Int.MaxValue)
            .where(col("verdict") === "new").select(idCol),
          Seq(idCol), "left_semi"))
    }

    // 4b. optional duplicated-passage surgery: cut cross-doc repeated
    // windows from every non-canonical holder; a doc whose every token
    // was a duplicated passage has no trainable content left (same
    // rule as stage 3) and is dropped here
    val passageClean = removeDupWindows match {
      case None => incremental
      case Some((w, m)) => stage("passage_cleaned",
        boundary(incremental.drop(textCol).join(
          TextAnalysis.removeDupPassages(incremental, textCol, idCol, w, m)
            .select(col(idCol), col("clean_text").as(textCol)),
          Seq(idCol))
          .where(TextFunctions.tokenCount(col(textCol)) > 0)))
    }

    // 5. optional benchmark decontamination (exact result, Bloom-
    // prefiltered so the uncontaminated bulk never shuffles). The
    // outer boundary stores what the stages before it left lazy (the
    // near-dedup and incremental gates); a frame an upstream boundary
    // already stored passes through unwritten.
    val deduped = boundary(decontamEval match {
      case None => passageClean
      case Some(ev) =>
        val grams = (d: DataFrame) => d.select(col(idCol),
          array_distinct(TextFunctions.wordNGrams(lower(col(textCol)), 2))
            .as("__grams"))
        val contaminated = TextAnalysis.bloomDecontam(
          grams(passageClean), grams(ev), idCol, "__grams",
          minShared = TextQueries.DecontamMinShared,
          mBits = TextQueries.DecontamBloomBits,
          seeds = TextQueries.DecontamBloomSeeds)
        // the ledger counts the stored stage, not its lazy join
        stage("decontaminated", boundary(
          passageClean.join(contaminated.select(idCol), Seq(idCol), "left_anti")))
    })

    // 5b. optional Gopher rule gate: the A1.1 conjunction as a
    // scan-side semi-filter (q91's operator; equi-join on the id so
    // the full metric projection never rides downstream)
    val gopherRuled = gopherStops match {
      case None => deduped
      case Some(stops) => stage("rule_filtered",
        deduped.join(
          TextAnalysis.gopherQualityFlags(deduped, textCol, idCol, stops)
            .where(col("gopher_ok")).select(idCol),
          Seq(idCol), "left_semi"))
    }

    // 5c. optional token-entropy gate (q127's operator): the
    // information-diversity complement of the Gopher rules — drops
    // gibberish/template docs whose own token distribution carries
    // under the threshold millibits per token; same semi-join shape
    // so only ids ride back
    val ruled = minEntropyMillsPerTok match {
      case None => gopherRuled
      case Some(minMills) => stage("entropy_filtered",
        gopherRuled.join(
          TextAnalysis.tokenEntropy(gopherRuled, idCol, textCol, minMills)
            .where(!col("low_diversity")).select(idCol),
          Seq(idCol), "left_semi"))
    }

    // 6-7. quality score + the configured selection policy
    val scored = ruled
      .withColumn("quality_mills", TextFunctions.qualityScoreMills(col(textCol)))
      .withColumn("n_tokens", TextFunctions.tokenCount(col(textCol)))
    val (selLabel, selectedRaw) = selection match {
      case None =>
        ("budget_selected", TextAnalysis.budgetSelect(
          scored, strataCol, "quality_mills", "n_tokens", idCol, budgetTokens))
      case Some(DsirSelection(target, topK)) =>
        val forGrams = (d: DataFrame) =>
          d.select(col(idCol), lower(col(textCol)).as(textCol))
        val imp = TextAnalysis.importanceScore(
          forGrams(ruled), forGrams(target), textCol, idCol,
          TextQueries.DsirBuckets)
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
      case Some(MixtureSelection(minQ, rates, defaultRate)) =>
        ("mixture_selected", TextAnalysis.stratifiedSample(
          scored.where(col("quality_mills") >= minQ),
          strataCol, idCol, rates, defaultRate))
      case Some(ExactKSelection(minQ, k)) =>
        ("exact_k_selected", TextAnalysis.prioritySample(
          scored.where(col("quality_mills") >= minQ),
          strataCol, idCol, k))
      case Some(UnimaxSelection(epochs, perMille)) =>
        val budgets = TextAnalysis.unimaxAllocate(
            ruled.select(col(strataCol), col(textCol)), strataCol,
            textCol, epochs, budgetPerMille = Some(perMille))
          .select(col("stratum").as(strataCol), col("allocated"))
        ("unimax_selected", TextAnalysis.budgetSelectPerStratum(
          scored, strataCol, "quality_mills", "n_tokens", idCol,
          budgets, "allocated"))
      case Some(TemperatureSelection(perMille)) =>
        val budgets = TextAnalysis.temperatureAllocate(
            ruled.select(col(strataCol), col(textCol)), strataCol,
            textCol, budgetPerMille = Some(perMille))
          .select(col("stratum").as(strataCol), col("alloc_tokens"))
        ("temperature_selected", TextAnalysis.budgetSelectPerStratum(
          scored, strataCol, "quality_mills", "n_tokens", idCol,
          budgets, "alloc_tokens"))
    }
    val selected = stage(selLabel, boundary(selectedRaw))

    // 8. training-ready units: overlapping windows AND packed sequences
    val chunks = stage("chunks", TextAnalysis.chunkDocs(
      selected, textCol, idCol, chunkTokens, chunkOverlap))
    val packed = stage("packed_docs", TextAnalysis.packSequences(
      selected, textCol, idCol, strataCol, packBudget))

    val accounting = ledger.result()
      .zipWithIndex
      .map { case ((name, df), i) =>
        df.agg(lit(i).as("stage_no"), lit(name).as("stage"),
          count(lit(1)).as("n_rows"))
      }.reduce(_ unionByName _)

    CorpusResult(cleaned, deduped, selected, chunks, packed, accounting)
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
