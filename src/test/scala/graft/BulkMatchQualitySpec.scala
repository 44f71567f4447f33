package graft

import graft.operators.EntityResolution
import graft.sources.ExcelReader
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bulk match-quality regression over the reference's FULL labeled
  * corpus (SURVEY.md §5 item 5, round-9 verdict task 8): all three
  * sheets of `seed_data/Training Data + Matching IDs.xlsx` — Products
  * (~4.4k), Ingredients (~2k), Capabilities (~0.6k) — as one labeled
  * title→UID set, resolved in bulk through the production
  * [[EntityResolution.resolve]] pipeline with the reference's own
  * thresholds (97/50, `app/etl.py:40-42`).
  *
  * Beyond the per-row edge pins in [[MatchQualitySpec]], this pins the
  * AGGREGATE behavior the reference's operators rely on, because the
  * three-band decision (F6) is discontinuous in the score:
  *   - every exact title in the ~7k corpus resolves at 100;
  *   - controlled perturbation families land in their documented bands
  *     (case fold → still exact; token reorder / token drop / one-char
  *     typo → at/above the review floor with the TRUE uid as the top
  *     suggestion; token-free garbage → rejected, never auto-resolved);
  *   - no perturbation family silently crosses the auto-resolve line
  *     from below (the costly failure: a wrong id written unreviewed).
  *
  * Perturbed probes are anti-joined against the dictionary keys first,
  * so each fuzzy family measures the FUZZY path only (no accidental
  * exact hits diluting a band).
  *
  * The reference workbook is not part of the repo. Without it every pin
  * runs, thresholds unchanged, on a seeded generated workbook of the
  * same three-sheet shape ([[LabeledWorkbook.writeGenerated]]); only the
  * fact about the real corpus's size is then canceled, never passed.
  */
class BulkMatchQualitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val corpusPath = "/root/reference/seed_data/Training Data + Matching IDs.xlsx"
  lazy val referencePresent = new java.io.File(corpusPath).exists()
  lazy val workbook = LabeledWorkbook.referenceOrGenerated(corpusPath)
  val domains = Seq("products", "ingredients", "capabilities")

  /** All three sheets as (title, ext_id, domain); blank titles dropped. */
  lazy val corpus: DataFrame = {
    val parts = domains.zipWithIndex.map { case (dom, i) =>
      val raw = ExcelReader.readXlsx(spark, workbook, sheet = i + 1)
      val Seq(titleCol, uidCol) = raw.columns.take(2).toSeq
      raw.select(col(s"`$titleCol`").as("title"), col(s"`$uidCol`").as("ext_id"))
        .where(col("title").isNotNull && length(trim(col("title"))) > 0 &&
          col("ext_id").isNotNull && length(trim(col("ext_id"))) > 0)
        .withColumn("domain", lit(dom))
    }
    parts.reduce(_ unionByName _).cache()
  }

  /** Titles whose lower-trimmed key is unique across the whole corpus —
    * the only rows where "suggested uid == own uid" is well-defined. */
  lazy val uniqueTitled: DataFrame = {
    val keyed = corpus.withColumn("__key", lower(trim(col("title"))))
    val uniq = keyed.groupBy("__key").agg(count(lit(1)).as("__n"))
      .where(col("__n") === 1).select("__key")
    keyed.join(uniq, "__key").drop("__n").cache()
  }

  /** Deterministic n-row probe sample: stable order, no RNG. */
  private def probeSample(src: DataFrame, n: Int): DataFrame =
    src.orderBy(col("title"), col("ext_id")).limit(n)

  /** Keep only perturbed names that do NOT exact-hit the dictionary, so
    * the band measurement is purely the fuzzy path. The anti-join key
    * is the SAME whitespace-trimmed key EntityResolution's exact phase
    * uses (Normalize.WsTrimRe, not trim()) — a tab/newline-edged
    * perturbation must not slip past this filter yet exact-hit in
    * resolve, which would dilute the fuzzy-band measurement. */
  private def fuzzyOnly(probes: DataFrame): DataFrame = {
    def wsKey(c: org.apache.spark.sql.Column) =
      lower(regexp_replace(c, graft.functions.Normalize.WsTrimRe, ""))
    val dictKeys = corpus.select(wsKey(col("title")).as("__dk")).distinct()
    probes.join(dictKeys, wsKey(col("item_name")) === col("__dk"), "left_anti")
  }

  private def resolveProbes(probes: DataFrame): DataFrame =
    EntityResolution.resolve(
      probes.select("item_id", "item_name"), corpus, Seq("item_id"),
      blocked = true)
      .join(probes.select(col("item_id"), col("want")), Seq("item_id"))

  private def bandCounts(resolved: DataFrame): Map[String, Long] =
    resolved.groupBy("decision").count().as[(String, Long)].collect().toMap
      .withDefaultValue(0L)

  test("the three-sheet corpus loads: all domains present") {
    val byDomain = corpus.groupBy("domain").count().as[(String, Long)].collect().toMap
    assert(domains.forall(d => byDomain.getOrElse(d, 0L) > 300),
      s"domain coverage: $byDomain")
  }

  test("the reference corpus holds >5k labeled pairs") {
    assume(referencePresent, s"a fact about the reference corpus: $corpusPath is absent")
    val total = corpus.count()
    assert(total > 5000, s"expected the ~7k labeled corpus, got $total")
  }

  test("bulk exact: every corpus title resolves at score 100, decision resolved") {
    val items = corpus
      .withColumn("item_id", monotonically_increasing_id())
      .withColumn("item_name", col("title"))
    val resolved = EntityResolution.resolve(
      items.select("item_id", "item_name"), corpus, Seq("item_id"),
      blocked = true)
    val n = resolved.count()
    assert(n == corpus.count())
    val miss = resolved.where(col("score") =!= 100.0 || col("decision") =!= "resolved")
    assert(miss.count() == 0,
      s"${miss.count()} of $n corpus titles failed exact self-resolution")
  }

  test("bulk exact: globally-unique titles resolve to their OWN uid") {
    val items = uniqueTitled
      .withColumn("item_id", monotonically_increasing_id())
      .withColumn("item_name", col("title"))
    val resolved = EntityResolution.resolve(
      items.select("item_id", "item_name"), corpus, Seq("item_id"), blocked = true)
      .join(items.select(col("item_id"), col("ext_id").as("want")), Seq("item_id"))
    val n = resolved.count()
    val wrong = resolved.where(col("ext_id") =!= col("want"))
    assert(wrong.count() == 0, s"${wrong.count()} of $n unique titles got a foreign uid")
  }

  test("case-folded titles still resolve exactly (the join is case-insensitive)") {
    // The exact join normalizes with lower(trim(·)) — simple lowercasing,
    // not full Unicode case folding. The real corpus contains exactly one
    // title where upper→lower does not round-trip ("Rakı": Turkish dotless
    // ı uppercases to I, which lowercases to i → "raki" ≠ "rakı"), so that
    // class is pinned separately below and excluded from the exact probe.
    // NB: a naive lower(upper(t)) === lower(t) filter is a TAUTOLOGY under
    // Catalyst — SimplifyCaseConversionExpressions rewrites Lower(Upper(x))
    // to Lower(x) (an assumption that is itself false for exactly this
    // character class). The no-op translate() blocks the pattern match so
    // the round-trip really executes.
    val roundTrips =
      lower(translate(upper(col("title")), " ", " ")) === lower(col("title"))
    val probes = probeSample(uniqueTitled.where(roundTrips), 1500)
      .withColumn("item_id", monotonically_increasing_id())
      .select(col("item_id"), upper(col("title")).as("item_name"),
        col("ext_id").as("want"))
    val resolved = resolveProbes(probes)
    val bad = resolved.where(col("score") =!= 100.0 ||
      col("decision") =!= "resolved" || col("ext_id") =!= col("want"))
      .select("item_name", "score", "decision", "ext_id", "want")
      .collect()
    assert(bad.isEmpty,
      s"${bad.length} case-folded titles left the exact path: ${bad.take(5).mkString("; ")}")

    // the non-roundtripping remainder is a known, bounded class — if this
    // grows, the lower(...)-vs-case-fold decision needs revisiting.
    // (Same translate barrier: the naive form folds to a contradiction.)
    val nonRoundTrip = corpus.where(!roundTrips)
    assert(nonRoundTrip.count() <= 2,
      "unexpectedly many titles where lowercasing is not a case fold")
  }

  test("token-reordered titles: never rejected, top suggestion is the true uid") {
    val probes = fuzzyOnly(
      probeSample(uniqueTitled.where(size(split(col("title"), "\\s+")) >= 2), 600)
        .withColumn("item_id", monotonically_increasing_id())
        .select(col("item_id"),
          concat_ws(" ", reverse(split(col("title"), "\\s+"))).as("item_name"),
          col("ext_id").as("want")))
    val resolved = resolveProbes(probes).cache()
    val n = resolved.count()
    assert(n > 200, s"reorder family too small to be meaningful: $n")
    val bands = bandCounts(resolved)
    info(s"reorder bands over $n probes: $bands")
    assert(bands("rejected") == 0,
      s"${bands("rejected")} reordered titles fell below the reject line")
    val top1 = resolved.where(col("ext_id") === col("want")).count()
    // measured 564/600 = 0.94 on the real corpus: the misses are titles
    // whose reversal token-set-ties a sibling title (shared word bag);
    // pinned with slack as a regression floor.
    info(s"reorder top-1 accuracy: $top1/$n")
    assert(top1.toDouble / n >= 0.90, s"reorder top-1 accuracy $top1/$n")
    resolved.unpersist()
  }

  test("drop-last-token titles: band distribution and top-1 accuracy hold") {
    val multi = uniqueTitled.where(size(split(col("title"), "\\s+")) >= 3)
    val probes = fuzzyOnly(
      probeSample(multi, 600)
        .withColumn("item_id", monotonically_increasing_id())
        .select(col("item_id"),
          concat_ws(" ",
            slice(split(col("title"), "\\s+"), lit(1),
              size(split(col("title"), "\\s+")) - 1)).as("item_name"),
          col("ext_id").as("want")))
    val resolved = resolveProbes(probes).cache()
    val n = resolved.count()
    assert(n > 200, s"drop-token family too small: $n")
    val bands = bandCounts(resolved)
    info(s"drop-token bands over $n probes: $bands")
    // a truncated title loses information: most must land at/above the
    // review floor, and the winner must still be the true uid for the
    // overwhelming majority that keep a suggestion.
    val atOrAboveReview = n - bands("rejected")
    assert(atOrAboveReview.toDouble / n >= 0.80,
      s"only $atOrAboveReview/$n truncated titles stayed at/above review")
    val suggested = resolved.where(col("ext_id").isNotNull).count()
    val top1 = resolved.where(col("ext_id") === col("want")).count()
    // measured 218/393 = 0.55: truncation legitimately retargets sibling
    // titles ("X Y Z" minus Z often IS closest to the distinct product
    // "X Y ..."), and virtually everything lands in REVIEW (387/393) —
    // exactly the band the reference routes ambiguity to. The pin is a
    // regression floor on plurality-correctness, not a precision claim.
    info(s"drop-token top-1 accuracy among suggested: $top1/$suggested")
    assert(suggested > 0 && top1.toDouble / suggested >= 0.45,
      s"drop-token top-1 accuracy $top1/$suggested")
    // The costly failure mode is silent auto-resolve of a WRONG id. A
    // truncated name can legitimately BE another catalogue product
    // ("Organic X Y" minus Y ≈ the distinct product "Organic X"), so a
    // small foreign-resolve tail is inherent to the reference's scoring;
    // pin it as a bounded rate (measured 6/393 ≈ 1.5%), not zero.
    val wrongResolved = resolved.where(
      col("decision") === "resolved" && col("ext_id") =!= col("want")).count()
    info(s"drop-token foreign auto-resolves: $wrongResolved/$n")
    assert(wrongResolved.toDouble / n <= 0.03,
      s"$wrongResolved/$n truncated titles auto-resolved to a foreign uid")
    resolved.unpersist()
  }

  test("one-char-deleted titles: overwhelmingly at/above review, true uid wins") {
    val longTitles = uniqueTitled.where(length(col("title")) >= 8)
    val probes = fuzzyOnly(
      probeSample(longTitles, 600)
        .withColumn("item_id", monotonically_increasing_id())
        .select(col("item_id"),
          concat(substring(col("title"), 1, 3), expr("substring(title, 5)"))
            .as("item_name"),
          col("ext_id").as("want")))
    val resolved = resolveProbes(probes).cache()
    val n = resolved.count()
    assert(n > 200, s"typo family too small: $n")
    val bands = bandCounts(resolved)
    info(s"typo bands over $n probes: $bands")
    val atOrAboveReview = n - bands("rejected")
    assert(atOrAboveReview.toDouble / n >= 0.90,
      s"only $atOrAboveReview/$n typo'd titles stayed at/above review")
    val top1 = resolved.where(col("ext_id") === col("want")).count()
    info(s"typo top-1 accuracy: $top1/$n")
    assert(top1.toDouble / n >= 0.90, s"typo top-1 accuracy $top1/$n")
    resolved.unpersist()
  }

  test("token-free garbage never auto-resolves; virtually all is rejected") {
    // junk built from hex digests: shares no real token with any title,
    // deterministic (no RNG — md5 of the source title).
    val probes = probeSample(uniqueTitled, 300)
      .withColumn("item_id", monotonically_increasing_id())
      .select(col("item_id"),
        concat(lit("zzq"), substring(md5(col("title")), 1, 8), lit(" qvxw"),
          substring(md5(concat(col("title"), lit("x"))), 1, 6)).as("item_name"),
        col("ext_id").as("want"))
    val resolved = resolveProbes(probes).cache()
    val n = resolved.count()
    val bands = bandCounts(resolved)
    info(s"garbage bands over $n probes: $bands")
    assert(bands("resolved") == 0,
      s"${bands("resolved")} garbage probes AUTO-RESOLVED — unreviewed wrong writes")
    assert(bands("rejected").toDouble / n >= 0.95,
      s"only ${bands("rejected")}/$n garbage probes rejected")
    resolved.unpersist()
  }
}
