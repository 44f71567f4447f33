package perfbench

import graft.Engine
import graft.functions.OfferingText
import graft.operators.{EntityResolution, HeaderMapper, ItemExplode, Offerings}
import graft.sources.Ingest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}

/** A member submission end to end: `Engine.processSubmission` on the
  * default (broadcast, unblocked) resolver, then what a reviewer does
  * with it — the band tally, `Engine.reviewQueue`, `Engine.pushPlan`,
  * and the CSV and zip reports. Nothing is cached, so every action
  * re-executes the resolution plan, as it does for a user. */
final class SubmissionWorkload extends Workload {
  val Members = 2
  val DictSize = 5000

  private var in: SubmissionGen.Inputs = _
  private var reportDir: Path = _

  def units: Long = in.items.size.toLong

  def setup(spark: SparkSession, dir: String, seed: Long): Unit = {
    in = SubmissionGen.write(Paths.get(dir, "submission"), seed, Members, DictSize)
    reportDir = Files.createDirectories(Paths.get(dir, "submission", "reports"))
    val rows = Ingest.readCsv(spark, in.csv.toString).count()
    require(rows == Members, s"member CSV read back $rows rows, wrote $Members")
    require(dict(spark).count() == DictSize, "dictionary read back short")
  }

  private def dict(spark: SparkSession): DataFrame =
    spark.read.option("header", "true").schema("title STRING, ext_id STRING")
      .csv(in.dict.toString)
  private def existing(spark: SparkSession): DataFrame =
    spark.read.option("header", "true").schema("businessName STRING")
      .csv(in.existing.toString)

  private def tally(resolved: DataFrame): Map[String, Long] =
    resolved.groupBy("decision").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  private def tallySig(t: Map[String, Long]): String =
    Seq("resolved", "review", "rejected").map(b => s"$b=${t.getOrElse(b, 0L)}")
      .mkString(",")

  /** What a reviewer does with a processed submission. */
  private def review(spark: SparkSession, r: Engine.SubmissionResult,
      d: DataFrame, tracer: Option[Tracer]): String = {
    def span[T](name: String)(body: => T): T = Tracer.span(tracer, name)(body)
    val t = span("tally")(tally(r.resolved))
    val (pending, dash) = Engine.reviewQueue(r, "members.csv")
    val dashRow = span("review_queue")(dash.collect().head.toSeq.mkString("/"))
    val (newDims, upd, ins) = Engine.pushPlan(r, d, existing(spark))
    val plan = span("push_plan")(Seq(newDims.count(), upd.count(), ins.count()))
    span("reports") {
      Ingest.writeCsvReport(r.resolved.drop("alternatives"),
        reportDir.resolve("resolved").toString)
      Ingest.zipReports(Map(
        "review_queue" -> pending.withColumn("alternatives", to_json(col("alternatives"))),
        "errors" -> r.errors),
        reportDir.resolve("reports.zip").toString)
    }
    s"${tallySig(t)};dash=$dashRow;plan=${plan.mkString("/")}"
  }

  def pass(spark: SparkSession, tracer: Option[Tracer]): Pass = {
    val t0 = System.nanoTime()
    val d = dict(spark)
    val r = Tracer.span(tracer, "process")(
      Engine.processSubmission(spark, in.csv.toString, d))
    val sig = review(spark, r, d, tracer)
    val sec = (System.nanoTime() - t0) / 1e9
    Pass(sec, sig)
  }

  /** Gates on the first pass. The resolved rows come from the CSV
    * report that pass wrote, so the resolver does not run again here. */
  def check(spark: SparkSession, first: Pass): Seq[String] = {
    val r = Engine.processSubmission(spark, in.csv.toString, dict(spark))
    val errs = Seq.newBuilder[String]
    val nValid = r.valid.count()
    val nErrors = r.errors.count()
    if (nValid != in.validMembers || nErrors != in.invalidMembers)
      errs += s"valid/errors $nValid/$nErrors, planted ${in.validMembers}/${in.invalidMembers}"
    val rows = spark.read.option("header", "true")
      .csv(reportDir.resolve("resolved").toString)
      .join(r.valid.select("member_id", "businessName"), Seq("member_id"))
      .select("businessName", "kind", "item_name", "ext_id", "score")
      .collect()
    val nItems = r.items.count()
    if (nItems != in.items.size || rows.length != in.items.size)
      errs += s"items ${in.items.size} planted, $nItems exploded, ${rows.length} resolved"
    val got = rows.map { x =>
      (x.getString(0).split(' ')(1).toInt, x.getString(1), x.getString(2)) ->
        (Option(x.getString(3)), x.getString(4).toDouble)
    }.toMap
    val fixed = in.items.filter(i => i.cls == "exact" || i.cls == "casefold")
    val wrong = fixed.filterNot { i =>
      got.get((i.member, i.kind, i.text)).contains((Some(i.sourceId), 100.0))
    }
    if (wrong.nonEmpty)
      errs += s"${wrong.size} of ${fixed.size} exact/case-fold items not at their id " +
        s"with score 100, e.g. ${wrong.head} -> ${got.get((wrong.head.member, wrong.head.kind, wrong.head.text))}"
    val plan = first.signature.split("plan=").last.split('/').map(_.toLong)
    val knownValid = in.existingMembers.toLong
    if (plan(1) != knownValid || plan(2) != in.validMembers - knownValid)
      errs += s"push plan updates/inserts ${plan(1)}/${plan(2)}, expected " +
        s"$knownValid/${in.validMembers - knownValid}"
    errs.result()
  }

  /** The submission one public step at a time. Each step's input is an
    * eager local checkpoint, so each span holds only its own step. The
    * tally, dashboard and push plan it leads to must equal the facade's
    * (`ref`). */
  def layerPass(spark: SparkSession, tracer: Tracer, ref: Pass,
      timed: Seq[Pass]): (Map[String, Double], Seq[String]) = {
    def ck(df: DataFrame) = df.localCheckpoint(true)
    val raw = tracer.span("sources")(ck(Ingest.readCsv(spark, in.csv.toString)))
    val (mapping, projected) = tracer.span("header_mapper") {
      val m = HeaderMapper.mapHeaders(raw.columns.toIndexedSeq)
      (m, ck(HeaderMapper.projection(raw, m)))
    }
    // row validation and member ids are internal to the facade: take
    // its valid and error rows (it re-reads and re-maps the small CSV)
    val (valid, errors) = tracer.span("validate") {
      val r = Engine.processSubmission(spark, in.csv.toString, dict(spark))
      (ck(r.valid), ck(r.errors))
    }
    val items = tracer.span("item_explode") {
      ck(ItemExplode.explodeItems(valid, Seq("member_id"),
        Seq("product" -> "products", "ingredient" -> "ingredients"))
        .withColumn("item_norm", OfferingText.normalizeOffering(col("item_name"))))
    }
    val d = ck(dict(spark))
    val resolved = tracer.span("er") {
      ck(EntityResolution.resolve(items, d, Seq("member_id", "kind", "item_key"),
        itemCol = "item_norm"))
    }
    val r = Engine.SubmissionResult(mapping, valid, errors,
      Offerings.offeringLinks(valid, Seq("member_id")), items, resolved)
    val sig = review(spark, r, d, Some(tracer))

    val nItems = items.count().toDouble
    val exact = EntityResolution.exactMatch(items, d, "item_norm")
    val hits = exact.where(col("exact_ext_id").isNotNull).count()
    val fuzzyNames = exact.where(col("exact_ext_id").isNull)
      .select("item_norm").distinct().count()
    val t = tally(resolved)
    val er = tracer.get("er")
    val rep = tracer.get("reports")
    val bytes = Files.walk(reportDir).filter(Files.isRegularFile(_))
      .mapToLong(Files.size(_)).sum()
    (Map(
      "sources.read_s" -> tracer.get("sources").wallS,
      "sources.rows" -> raw.count().toDouble,
      "header_mapper.s" -> tracer.get("header_mapper").wallS,
      "validate.s" -> tracer.get("validate").wallS,
      "item_explode.s" -> tracer.get("item_explode").wallS,
      "item_explode.items" -> nItems,
      "er.resolve_s" -> er.wallS,
      "er.catalyst_s" -> er.catalystMs / 1e3,
      "er.exact_hit_ratio" -> (if (nItems > 0) hits / nItems else 0.0),
      "er.fuzzy_names" -> fuzzyNames.toDouble,
      "er.pairs_scored" -> er.nestedLoopRows.toDouble,
      "er.cpu_util" -> er.cpuUtil(Main.Cores),
      "er.task_skew" -> er.taskSkew,
      "er.band.resolved" -> t.getOrElse("resolved", 0L).toDouble,
      "er.band.review" -> t.getOrElse("review", 0L).toDouble,
      "er.band.rejected" -> t.getOrElse("rejected", 0L).toDouble,
      "review_queue.s" -> tracer.get("review_queue").wallS,
      "push_plan.s" -> tracer.get("push_plan").wallS,
      "reports.write_s" -> rep.wallS,
      "reports.bytes" -> bytes.toDouble) ++ Layers.sparkTotals(tracer.all),
      if (sig == ref.signature) Nil
      else Seq(s"step-by-step run gave $sig, the facade ${ref.signature}"))
  }
}
