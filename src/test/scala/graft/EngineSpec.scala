package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The facade: one call from file to resolved items, review queue and
  * push plan — the API a reference user switches to. */
class EngineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val dict = Seq(
    ("Granola", "P-GRAN"), ("Almond Milk", "P-ALM"),
    ("Salt", "I-SALT")).toDF("title", "ext_id")

  private def csvPath: String = {
    val dir = Files.createTempDirectory("graft-engine")
    val p = dir.resolve("m.csv")
    Files.writeString(p,
      """Company Name,Country,E-Mail,Street Address,City,Products Offered,Ingredient List,About
        |Acme,USA,a@b.co,1 Main,Springfield,"granola; Almond Milk",salt,We make food
        |BadCo<,>!,x@y.z,2 Oak,Town,Tea,sugar,Invalid name
        |""".stripMargin)
    p.toString
  }

  test("processSubmission runs file -> resolution in one call") {
    val r = Engine.processSubmission(spark, csvPath, dict)
    assert(r.mapping.missingRequired.isEmpty)
    assert(r.valid.count() == 1 && r.errors.count() == 1)
    val decisions = r.resolved.select("item_norm", "decision")
      .as[(String, String)].collect().toMap
    assert(decisions("Granola") == "resolved")
    assert(decisions("Almond Milk") == "resolved")
    assert(decisions("Salt") == "resolved")
  }

  test("end-to-end on a labeled catalogue workbook (fidelity)") {
    // canonical titles from a generated labeled workbook, read through
    // the xlsx reader and fed through the FULL pipeline (csv -> headers
    // -> explode -> resolve)
    val dir = Files.createTempDirectory("graft-ref-e2e")
    val corpus = graft.sources.ExcelReader.readXlsx(
      spark, LabeledWorkbook.write(dir).toString, sheet = 1)
    val Seq(titleCol, uidCol) = corpus.columns.take(2).toSeq
    val refDict = corpus
      .select(col(s"`$titleCol`").as("title"), col(s"`$uidCol`").as("ext_id"))
      .where(col("title").isNotNull && col("ext_id").isNotNull)
    val titles = refDict.select("title").as[String].collect()
      .filter(t => !t.exists(";,\"\n".contains(_)) && t.trim.nonEmpty)
      .take(25)
    assert(titles.length == 25, "corpus too small for the fixture")
    val p = dir.resolve("ref.csv")
    Files.writeString(p,
      "Company Name,Country,E-Mail,Street Address,City,Products Offered,Ingredient List,About\n" +
        s"""RefCo,USA,r@ref.co,1 Ref Way,Reftown,"${titles.mkString("; ")}",,Reference corpus fixture\n""")
    val r = Engine.processSubmission(spark, p.toString, refDict)
    val n = r.resolved.count()
    assert(n >= 25, s"explode lost items: $n")
    val resolvedOrReview = r.resolved
      .where(col("decision") =!= "rejected").count()
    // the catalogue's own vocabulary must overwhelmingly match itself;
    // normalizeOffering rewrites a small tail into review territory
    assert(resolvedOrReview >= (n * 0.8).toLong,
      s"only $resolvedOrReview of $n corpus titles matched their own dictionary")
  }

  test("after processSubmission, review, push and report actions never re-read or re-score") {
    val src = Files.createTempDirectory("graft-once").resolve("m.csv")
    Files.copy(java.nio.file.Paths.get(csvPath), src)
    val r = Engine.processSubmission(spark, src.toString, dict)
    // the submission is gone: any action that still scans it fails
    Files.delete(src)
    val tally = r.resolved.groupBy("decision").count()
    assert(tally.collect().map(_.getLong(1)).sum == 3)
    val (pending, dash) = Engine.reviewQueue(r, "m.csv")
    dash.collect(); pending.collect()
    val existing = Seq(("Acme", "M1")).toDF("businessName", "member_ext_id")
    val (newDims, upd, ins) = Engine.pushPlan(r, dict, existing)
    assert(upd.count() == 1 && ins.count() == 0)
    newDims.collect()
    val report = r.resolved.drop("alternatives")
    graft.sources.Ingest.writeCsvReport(report,
      Files.createTempDirectory("graft-once-report").resolve("resolved").toString)
    assert(r.errors.count() == 1)
    // and the plans those actions ran hold stored rows only: no file
    // scan, and no nested-loop join (the fuzzy phase ran once, above)
    Seq("tally" -> tally, "dashboard" -> dash, "pending" -> pending,
        "new dims" -> newDims, "updates" -> upd, "inserts" -> ins,
        "report" -> report, "errors" -> r.errors).foreach { case (name, df) =>
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("FileScan") && !p.contains("Scan csv"), s"$name re-reads the file:\n$p")
      assert(!p.contains("NestedLoopJoin"), s"$name re-runs the fuzzy join:\n$p")
    }
  }

  test("a missing submission is a typed MissingInput, raised before any read") {
    Seq("csv", "xlsx", "xls").foreach { ext =>
      val gone = Files.createTempDirectory("graft-missing").resolve(s"nope.$ext").toString
      val e = intercept[graft.sources.Ingest.MissingInput] {
        Engine.processSubmission(spark, gone, dict)
      }
      assert(e.path == gone)
    }
    // under an upload root the error names the submitted name only
    val root = Files.createTempDirectory("graft-missing-root").toString
    val e = intercept[graft.sources.Ingest.MissingInput] {
      Engine.processSubmission(spark, "absent.csv", dict, uploadRoot = Some(root))
    }
    assert(e.path == "absent.csv")
  }

  test("P11 is ENFORCED by processSubmission: whitelist + traversal guard") {
    // disallowed extension -> typed rejection before any read
    val bad = intercept[graft.sources.Ingest.UnsupportedFormat] {
      Engine.processSubmission(spark, "/tmp/evil.sh", dict)
    }
    assert(bad.getMessage.contains("extension not allowed"))
    // a submission escaping the upload root -> typed rejection
    val esc = intercept[graft.sources.Ingest.UnsupportedFormat] {
      Engine.processSubmission(spark, "../outside.csv", dict,
        uploadRoot = Some("/tmp/graft-uploads"))
    }
    assert(esc.getMessage.contains("unsafe submission filename"))
    // an absolute path is also outside any root
    intercept[graft.sources.Ingest.UnsupportedFormat] {
      Engine.processSubmission(spark, "/etc/passwd.csv", dict,
        uploadRoot = Some("/tmp/graft-uploads"))
    }
    // a safe relative filename under the root still processes
    val root = Files.createTempDirectory("graft-p11")
    Files.writeString(root.resolve("ok.csv"),
      """Company Name,Country,E-Mail,Street Address,City,Products Offered,Ingredient List,About
        |Acme,USA,a@b.co,1 Main,Springfield,granola,salt,We make food
        |""".stripMargin)
    val r = Engine.processSubmission(spark, "ok.csv", dict,
      uploadRoot = Some(root.toString))
    assert(r.valid.count() == 1)
  }

  test("reviewQueue + pushPlan derive the downstream sets") {
    val r = Engine.processSubmission(spark, csvPath, dict)
    val (pending, dash) = Engine.reviewQueue(r, "m.csv")
    assert(dash.collect()(0).getAs[Long]("total_pending") == pending.count())
    val existing = Seq(("Acme", "M1")).toDF("businessName", "member_ext_id")
    val (newDims, upd, ins) = Engine.pushPlan(r, dict, existing)
    assert(upd.count() == 1 && ins.count() == 0) // Acme exists -> update fork
    assert(newDims.columns.toSeq == Seq("title", "ext_id"))
  }

  test("processCorpus runs the full training-data pipeline with a consistent ledger") {
    // the sf0.001 fixture has no exact text duplicates, so plant five:
    // re-id'd copies whose cleaned text stays identical to the source —
    // exact dedup must collapse exactly these (or more, never fewer)
    val baseDocs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
      .select("doc_id", "lang", "text")
    val planted = baseDocs.where(col("doc_id") % 100 === 3)
      .limit(5).select(col("doc_id") + 2000000L as "doc_id",
        col("lang"), col("text"))
    val docs = baseDocs.unionByName(planted)
    // "benchmark" eval set drawn FROM the corpus: its survivors (and
    // every doc sharing >= minShared bigrams) must be decontaminated out
    val evalDocs = docs.where(col("doc_id") % 97 === 0)
      .select(col("doc_id") + 1000000L as "doc_id", col("text"))
    // tiny: the fixture's 31-token vocabulary makes bigram decontam
    // legitimately aggressive (~35 survivors), so the budget must bind
    // on strata of a handful of ~50-token docs
    val budget = 100L
    val r = Engine.processCorpus(docs, decontamEval = Some(evalDocs),
      removeDupWindows = Some((8, 1)),
      budgetTokens = budget, chunkTokens = 32, chunkOverlap = 8,
      packBudget = 256)
    val ledger = r.accounting.collect()
      .map(row => row.getString(1) -> row.getLong(2)).toMap
    // stage-by-stage row accounting, each count cross-checked against
    // the stage frame it claims to describe
    assert(ledger("input") == docs.count())
    assert(ledger("cleaned") == ledger("input"), "cleaning is row-preserving")
    assert(r.cleaned.count() == ledger("cleaned"))
    assert(ledger("non_empty") <= ledger("cleaned"))
    assert(ledger("exact_deduped") <= ledger("non_empty") - 5,
      "the five planted exact duplicates must collapse")
    assert(ledger("passage_cleaned") <= ledger("exact_deduped"),
      "passage removal never adds rows (fully-cut docs drop)")
    assert(ledger("decontaminated") < ledger("passage_cleaned"),
      "eval-derived docs must be decontaminated out")
    // the passage surgery actually cut text: per doc (same id, same
    // upstream cleaning) the with-removal token count is <= the
    // no-removal one, and strictly < somewhere. Compared WITHOUT
    // decontam: the eval-driven drop removes precisely the dup-heavy
    // docs the surgery touches, so the decontaminated survivor sets
    // would hide the effect (and differ between runs anyway, since
    // removal changes the bigram sets decontam keys on)
    def tokensById(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
          graft.functions.TextFunctions.tokenCount(col("text")).as("t"))
        .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    // removal-on + decontam-off + materialized: the one config where
    // the dedupedB checkpoint-skip branch is live — deduped aliases
    // the boundary-wrapped passage-cleaned frame, so it must STILL be
    // checkpointed (its plan is a LogicalRDD scan); if a refactor ever
    // stops boundary-wrapping passageClean, this assertion fails
    // before the per-stage re-execution regression can return
    val remOnly = Engine.processCorpus(docs,
      removeDupWindows = Some((8, 1)), budgetTokens = budget,
      materializeBoundaries = true)
    assert(remOnly.deduped.queryExecution.analyzed.getClass.getSimpleName
      .contains("LogicalRDD"),
      s"deduped must be checkpoint-backed in the skip config, got " +
        remOnly.deduped.queryExecution.analyzed.getClass.getSimpleName)
    val withR = tokensById(remOnly.deduped)
    // the removal-free run exercises materializeBoundaries (eager
    // stage checkpoints must be semantically invisible — the per-doc
    // comparison below would catch any divergence) and the Gopher
    // rule gate (fixture-exercising stopword list; both branches real)
    val plain = Engine.processCorpus(docs, budgetTokens = budget,
      gopherStops = Some(graft.queries.TextQueries.GopherQStops),
      materializeBoundaries = true)
    assert(plain.deduped.select("text").distinct().count() == plain.deduped.count(),
      "deduped stage must carry no exact text duplicate")
    val plainLedger = plain.accounting.collect()
      .map(row => row.getString(1) -> row.getLong(2)).toMap
    // stages that were OFF in this run must be absent from the ledger —
    // an audit must distinguish "ran, dropped nothing" from "was off"
    assert(!plainLedger.contains("decontaminated") &&
      !plainLedger.contains("passage_cleaned"),
      s"disabled stages must not appear in the ledger: $plainLedger")
    assert(plainLedger("rule_filtered") > 0 &&
      plainLedger("rule_filtered") < plainLedger("exact_deduped"),
      s"Gopher gate must bind without emptying the corpus: $plainLedger")
    val withoutR = tokensById(plain.deduped)
    val common = withR.keySet & withoutR.keySet
    assert(common.nonEmpty)
    common.foreach(id => assert(withR(id) <= withoutR(id),
      s"removal grew doc $id: ${withR(id)} > ${withoutR(id)}"))
    assert(common.exists(id => withR(id) < withoutR(id)),
      "dup-passage removal must shrink the surviving token mass somewhere")
    assert(r.deduped.count() == ledger("decontaminated"))
    assert(ledger("budget_selected") < ledger("decontaminated"),
      s"budget $budget must bind")
    assert(r.selected.count() == ledger("budget_selected"))
    assert(ledger("packed_docs") == ledger("budget_selected"),
      "packing is row-preserving per doc")
    assert(ledger("chunks") >= ledger("budget_selected"),
      "every selected doc yields at least one chunk")
    assert(r.chunks.count() == ledger("chunks"))
    // semantic spot checks across stage boundaries. NOTE: exact dedup
    // runs BEFORE passage removal (removal handles partial overlap,
    // dedup handles whole-text identity), so the no-duplicate
    // invariant is asserted on the removal-free run below — surgery
    // can legitimately collapse two different docs to the same
    // residual text
    val perStratum = r.selected.groupBy("lang")
      .agg(sum("n_tokens").as("t")).collect()
    perStratum.foreach(row => assert(row.getLong(1) <= budget,
      s"stratum ${row.getString(0)} exceeds the token budget"))
    val badPack = r.packed.where(col("seq_offset") >= 256 || col("seq_offset") < 0)
    assert(badPack.count() == 0, "pack offsets must sit inside the sequence budget")
    // PII scrub really ran: the fixture plants emails in some docs
    assert(r.cleaned.where(col("text").rlike(
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")).count() == 0,
      "emails must be scrubbed")
  }

  test("processCorpus selection policies reuse the gated operators") {
    import graft.functions.TextFunctions
    import graft.operators.TextAnalysis
    import org.apache.spark.sql.expressions.Window
    val docs = spark.read
      .parquet(s"${SparkTestSession.sfDir}/documents.parquet")
      .select("doc_id", "lang", "text")
    val target = docs.where(col("doc_id") % 7 === 0)
      .select(col("doc_id") + 5000000L as "doc_id", col("text"))
    val topK = 5

    // DSIR per-stratum top-K
    val dsir = Engine.processCorpus(docs,
      selection = Some(Engine.DsirSelection(target, topK)),
      materializeBoundaries = true)
    val dLedger = dsir.accounting.collect()
      .map(row => row.getString(1) -> row.getLong(2)).toMap
    assert(dLedger.contains("dsir_selected"), s"ledger labels: ${dLedger.keySet}")
    assert(dsir.selected.count() == dLedger("dsir_selected"))
    assert(dsir.selected.columns.contains("dsir_avg_mills"))
    val perStratum = dsir.selected.groupBy("lang").count().collect()
      .map(row => row.getString(0) -> row.getLong(1))
    perStratum.foreach { case (l, n) =>
      assert(n <= topK, s"stratum $l kept $n > topK") }
    assert(perStratum.exists(_._2 == topK), "topK must bind somewhere")
    // the facade must agree with the gated operators composed directly
    // on the same candidate pool (deduped IS the pool: no gopher gate)
    val lower2 = (d: org.apache.spark.sql.DataFrame) =>
      d.select(col("doc_id"), lower(col("text")).as("text"))
    val imp = TextAnalysis.importanceScore(
      lower2(dsir.deduped), lower2(target), "text", "doc_id",
      graft.queries.TextQueries.DsirBuckets)
    val w = Window.partitionBy("lang")
      .orderBy(col("dsir_avg_mills").desc, col("doc_id"))
    val expect = dsir.deduped.select("doc_id", "lang")
      .join(imp.select("doc_id", "dsir_avg_mills"), Seq("doc_id"))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= topK)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = dsir.selected.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(got == expect, "facade DSIR selection must equal the direct q92 kernel")
    // downstream stages run on the DSIR-selected set
    assert(dLedger("packed_docs") == dLedger("dsir_selected"))

    // quality-threshold + stratified mixture
    val rates = Map("en" -> 1.0, "de" -> 0.5)
    val minQ = 1L
    val mix = Engine.processCorpus(docs,
      selection = Some(Engine.MixtureSelection(minQ, rates)),
      materializeBoundaries = true)
    val mLedger = mix.accounting.collect()
      .map(row => row.getString(1) -> row.getLong(2)).toMap
    assert(mLedger.contains("mixture_selected"))
    assert(mix.selected.count() == mLedger("mixture_selected"))
    // defaultRate 0: only strata in the rates map survive
    assert(mix.selected.where(!col("lang").isin("en", "de")).count() == 0)
    val pool = mix.deduped
      .withColumn("quality_mills", TextFunctions.qualityScoreMills(col("text")))
      .where(col("quality_mills") >= minQ)
    // en at 1.0 keeps every above-threshold doc; de at 0.5 strictly thins
    val enPool = pool.where(col("lang") === "en").count()
    val dePool = pool.where(col("lang") === "de").count()
    assert(enPool > 0 && dePool > 0, "fixture must exercise both strata")
    assert(mix.selected.where(col("lang") === "en").count() == enPool)
    val deKept = mix.selected.where(col("lang") === "de").count()
    assert(deKept > 0 && deKept < dePool,
      s"de rate 0.5 must thin without emptying: $deKept of $dePool")
    // facade must equal the gated operator applied to the same pool
    val expectMix = TextAnalysis
      .stratifiedSample(pool, "lang", "doc_id", rates)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val gotMix = mix.selected.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(gotMix == expectMix,
      "facade mixture selection must equal the direct q70 operator")

    // quality-threshold + exact-k per stratum (q100's operator)
    val k = 5
    val exact = Engine.processCorpus(docs,
      selection = Some(Engine.ExactKSelection(minQ, k)),
      materializeBoundaries = true)
    val eLedger = exact.accounting.collect()
      .map(row => row.getString(1) -> row.getLong(2)).toMap
    assert(eLedger.contains("exact_k_selected"))
    assert(exact.selected.count() == eLedger("exact_k_selected"))
    // every populated stratum contributes at most k, in rank order
    val exactStrata = exact.selected.groupBy("lang")
      .agg(count(lit(1)).as("n"), max("sample_rank").as("maxr"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(exactStrata.nonEmpty)
    exactStrata.foreach { case (n, maxr) =>
      assert(n <= k && maxr == n, s"stratum n=$n maxr=$maxr")
    }
    // facade must equal the gated operator applied to the same pool
    val exactPool = exact.deduped
      .withColumn("quality_mills", TextFunctions.qualityScoreMills(col("text")))
      .where(col("quality_mills") >= minQ)
    val expectExact = TextAnalysis
      .prioritySample(exactPool, "lang", "doc_id", k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val gotExact = exact.selected.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(gotExact == expectExact,
      "facade exact-k selection must equal the direct q100 operator")

    // UniMax water-filled budgets (q136's allocator + q137's kernel)
    val uni = Engine.processCorpus(docs,
      selection = Some(Engine.UnimaxSelection(
        maxEpochs = 2, budgetPerMille = Some(750L))),
      materializeBoundaries = true)
    val uLedger = uni.accounting.collect()
      .map(row => row.getString(1) -> row.getLong(2)).toMap
    assert(uLedger.contains("unimax_selected"))
    assert(uni.selected.count() == uLedger("unimax_selected"))
    // facade must equal the gated operators composed directly on the
    // same candidate pool (deduped IS the pool: no gopher gate)
    val uniPool = uni.deduped
      .withColumn("quality_mills", TextFunctions.qualityScoreMills(col("text")))
      .withColumn("n_tokens", TextFunctions.tokenCount(col("text")).cast("long"))
    val uniBudgets = TextAnalysis.unimaxAllocate(
        uni.deduped.select("lang", "text"), "lang", "text",
        maxEpochs = 2, budgetPerMille = Some(750L))
      .select(col("stratum").as("lang"), col("allocated"))
    val expectUni = TextAnalysis.budgetSelectPerStratum(
        uniPool, "lang", "quality_mills", "n_tokens", "doc_id",
        uniBudgets, "allocated")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val gotUni = uni.selected.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(gotUni == expectUni,
      "facade UniMax selection must equal the direct q136+q137 kernels")
    // both regimes on the real corpus: some stratum keeps its whole
    // pool (capped), some stratum is thinned (waterlined)
    val poolByLang = uniPool.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val keptByLang = uni.selected.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(keptByLang.exists { case (l, n) => n == poolByLang(l) },
      "a capped stratum must keep its whole pool")
    assert(keptByLang.exists { case (l, n) => n < poolByLang(l) },
      "the waterlined stratum must be thinned")

    // temperature α = ½ budgets (q145's allocator + q137's kernel);
    // 50% budget under √-flattened shares thins EVERY stratum
    val temp = Engine.processCorpus(docs,
      selection = Some(Engine.TemperatureSelection(
        budgetPerMille = Some(500L))),
      materializeBoundaries = true)
    val tLedger = temp.accounting.collect()
      .map(row => row.getString(1) -> row.getLong(2)).toMap
    assert(tLedger.contains("temperature_selected"))
    assert(temp.selected.count() == tLedger("temperature_selected"))
    val tBudgets = TextAnalysis.temperatureAllocate(
        temp.deduped.select("lang", "text"), "lang", "text",
        budgetPerMille = Some(500L))
      .select(col("stratum").as("lang"), col("alloc_tokens"))
    val expectTemp = TextAnalysis.budgetSelectPerStratum(
        uniPool, "lang", "quality_mills", "n_tokens", "doc_id",
        tBudgets, "alloc_tokens")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val gotTemp = temp.selected.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(gotTemp == expectTemp,
      "facade temperature selection must equal the direct q145+q137 kernels")
    assert(gotTemp.nonEmpty && gotTemp.size < uniPool.count(),
      "the 50% temperature budget must select a strict non-empty subset")
  }

  test("processCorpus incremental mode drops what a standing corpus already holds") {
    val docs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
      .select("doc_id", "lang", "text")
    // standing corpus in CLEANED form (what a prior processCorpus run
    // shipped): two thirds of the fixture
    val standing = Engine.processCorpus(
      docs.where(col("doc_id") % 3 =!= 0), materializeBoundaries = true)
      .deduped.select("doc_id", "text")
    val batch = docs.where(col("doc_id") % 3 === 0)
    val inc = Engine.processCorpus(batch, againstCorpus = Some(standing),
      materializeBoundaries = true)
    val ledger = inc.accounting.collect()
      .map(row => (row.getString(1), row.getInt(0), row.getLong(2)))
    val byName = ledger.map(t => t._1 -> t._3).toMap
    assert(byName.contains("incremental_new"), s"stages: ${ledger.toSeq}")
    assert(byName("incremental_new") <= byName("exact_deduped"))
    // stage order: incremental sits between exact dedup and passage clean
    val order = ledger.sortBy(_._2).map(_._1).toSeq
    assert(order.indexOf("incremental_new") == order.indexOf("exact_deduped") + 1)
    // the facade's keep set IS the q109 operator's `new` verdict set on
    // the same frames (reuse, not fork)
    val pool = Engine.processCorpus(batch, materializeBoundaries = true)
    val expected = operators.Dedup.dedupAgainst(
        pool.deduped.select("doc_id", "text"), standing, "text", "doc_id",
        maxCandidates = Int.MaxValue)
      .where(col("verdict") === "new").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // compare at the same stage: incremental_new ids
    val got = inc.deduped.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected, s"missing=${expected -- got}, extra=${got -- expected}")
    // near-dups of standing docs (the fixture's cross-split near-dup
    // mass) must actually bind: fewer survive than with no gate
    assert(byName("incremental_new") < byName("exact_deduped"),
      "the incremental gate must drop at least one held doc")
    // and without the gate there is no incremental stage
    assert(!pool.accounting.collect().map(_.getString(1))
      .contains("incremental_new"))
  }

  test("processCorpus entropy gate reuses the q127 operator") {
    val docs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
      .select("doc_id", "lang", "text")
    val minMills = 4000L
    val gated = Engine.processCorpus(docs,
      minEntropyMillsPerTok = Some(minMills), materializeBoundaries = true)
    val ledger = gated.accounting.collect()
      .map(row => (row.getString(1), row.getInt(0), row.getLong(2)))
    val byName = ledger.map(t => t._1 -> t._3).toMap
    assert(byName.contains("entropy_filtered"), s"stages: ${ledger.toSeq}")
    // gopherStops is None here, so the rule stage is OFF and absent
    // from the ledger (same option-gating as every other gate); the
    // entropy gate then sits right after exact dedup
    assert(!byName.contains("rule_filtered"), s"stages: ${ledger.toSeq}")
    val order = ledger.sortBy(_._2).map(_._1).toSeq
    assert(order.indexOf("entropy_filtered") == order.indexOf("exact_deduped") + 1)
    // reuse, not fork: the kept set IS tokenEntropy's not-low set over
    // the gopher-stage frame (pass-through here, so the cleaned corpus)
    val plain = Engine.processCorpus(docs, materializeBoundaries = true)
    val expected = operators.TextAnalysis.tokenEntropy(
        plain.deduped, "doc_id", "text", minMills)
      .where(!col("low_diversity")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // the entropy_filtered frame isn't exposed directly — check via
    // the ledger count (exact, since the gate is a semi-join)
    assert(byName("entropy_filtered") == expected.size.toLong)
    assert(byName("entropy_filtered") < byName("exact_deduped"),
      "the entropy gate must drop at least one low-diversity doc")
    // and without the gate there is no entropy stage
    assert(!plain.accounting.collect().map(_.getString(1))
      .contains("entropy_filtered"))
  }

  test("processCorpus C4 gate reuses the q135 operator, first, lines intact") {
    // pages share three boilerplate sentences (line-dedup fodder) plus
    // one unique marker line; every fifth page carries a lorem-ipsum
    // veto line — C4 must drop those PAGES before line dedup sees them
    val good = Seq(
      "first proper sentence with enough words here.",
      "second proper sentence with enough words too.",
      "third proper sentence with enough words also.").mkString("\n")
    val rows = (0L until 40L).map { i =>
      val t =
        if (i % 5 == 0) good + "\nsome lorem ipsum filler appears here."
        else good + s"\nunique marker line number $i with enough words here."
      (i, "en", t)
    }
    val docs = rows.toDF("doc_id", "lang", "text")
    val res = Engine.processCorpus(docs, c4Rules = Some((5, 3)),
      materializeBoundaries = true)
    val ledger = res.accounting.collect()
      .map(row => (row.getString(1), row.getInt(0), row.getLong(2)))
    val byName = ledger.map(t => t._1 -> t._3).toMap
    // the stage sits FIRST, right after input
    val order = ledger.sortBy(_._2).map(_._1).toSeq
    assert(order.indexOf("c4_cleaned") == order.indexOf("input") + 1)
    // reuse, not fork: the surviving pages are exactly c4Clean's
    // page_keep set (8 of 40 vetoed by lorem ipsum)
    val expected = operators.TextAnalysis.c4Clean(docs, "doc_id", "text")
      .where(col("page_keep")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(expected.size == 32)
    assert(byName("c4_cleaned") == expected.size.toLong)
    // the boilerplate sentences (df = 32 > LineDedupMaxDf) then fall to
    // line dedup; each survivor keeps its unique marker line
    val texts = res.cleaned.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(texts.keySet == expected)
    texts.foreach { case (id, t) =>
      assert(t == s"unique marker line number $id with enough words here.",
        s"doc $id kept: '$t'")
    }
    // and without the gate there is no c4 stage
    val plain = Engine.processCorpus(docs, materializeBoundaries = true)
    assert(!plain.accounting.collect().map(_.getString(1))
      .contains("c4_cleaned"))
  }

  test("processCorpus near-dedup stage collapses verified LSH components " +
    "to their min-id canonical") {
    val baseDocs = spark.read.parquet(
        s"${SparkTestSession.sfDir}/documents.parquet")
      .select("doc_id", "lang", "text")
    // plant near-duplicates that exact dedup CANNOT collapse: append a
    // token the doc already contains — the text (and so the content
    // key) changes, the token SET does not, so the MinHash bands match
    // verbatim and the verified Jaccard is exactly 1000
    val sources = baseDocs.where(col("doc_id") % 100 === 7).limit(4)
      .select("doc_id", "lang", "text").collect()
    assert(sources.length == 4, "fixture too small")
    val planted = sources.map { r =>
      val t = r.getString(2)
      (r.getLong(0) + 3000000L, r.getString(1),
        t + " " + t.trim.split("\\s+").head)
    }.toSeq.toDF("doc_id", "lang", "text")
    val docs = baseDocs.unionByName(planted)
    val r = Engine.processCorpus(docs, nearDedup = Some(800),
      materializeBoundaries = true)
    val ledger = r.accounting.collect()
      .map(row => (row.getString(1), row.getInt(0), row.getLong(2)))
    val byName = ledger.map(t => t._1 -> t._3).toMap
    assert(byName.contains("near_deduped"), s"stages: ${ledger.toSeq}")
    // stage order: near-dedup sits right after exact dedup
    val order = ledger.sortBy(_._2).map(_._1).toSeq
    assert(order.indexOf("near_deduped") == order.indexOf("exact_deduped") + 1)
    // all four planted docs survive exact dedup (distinct content keys)
    // and die in the near-dedup cut: their +3M ids are strictly larger
    // than every base id, so a planted doc can never be its component's
    // min-id canonical. (The SOURCE may legitimately drop too — the
    // fixture has natural near-dup components and a source can be a
    // non-min member of one; the parity check below pins the full set.)
    assert(byName("near_deduped") <= byName("exact_deduped") - 4,
      s"planted near-dups must collapse: ${ledger.toSeq}")
    val kept = r.deduped.select("doc_id").collect().map(_.getLong(0)).toSet
    sources.foreach { s =>
      val id = s.getLong(0)
      assert(!kept(id + 3000000L), s"planted near-dup of $id must drop")
    }
    // semantics parity: the stage's survivor set IS the composed
    // q35-band + verified-Jaccard + q53-closure keeper cut on the
    // exact-deduped frame (reuse, not fork) — derive it independently
    // from the no-near-dedup run's deduped stage
    val pool = Engine.processCorpus(docs, materializeBoundaries = true)
    val slim = pool.deduped.select(col("doc_id").as("__id"),
      col("text").as("__t"))
    val cand = operators.Dedup.minhashLshPairs(slim, "__t", "__id",
      bands = 2, rowsPerBand = 4,
      maxBucket = graft.queries.TextQueries.LshBucketCap)
    val toks = slim.select(col("__id"), graft.functions.TextFunctions
      .tokenSetSorted(col("__t")).as("__tok"))
    val verified = cand
      .join(toks.select(col("__id").as("id_a"), col("__tok").as("__ta")),
        Seq("id_a"))
      .join(toks.select(col("__id").as("id_b"), col("__tok").as("__tb")),
        Seq("id_b"))
      .withColumn("__common", graft.functions.ArrayOps
        .sortedIntersectSize(col("__ta"), col("__tb")))
      .where(floor(lit(1000) * col("__common") /
        (size(col("__ta")) + size(col("__tb")) - col("__common"))) >= 800)
      .select("id_a", "id_b")
    val losers = operators.Dedup.connectedComponents(verified)
      .where(col("comp") =!= col("id"))
      .collect().map(_.getLong(0)).toSet
    val expected = pool.deduped.select("doc_id").collect()
      .map(_.getLong(0)).toSet -- losers
    assert(kept == expected,
      s"missing=${expected -- kept}, extra=${kept -- expected}")
  }
}
