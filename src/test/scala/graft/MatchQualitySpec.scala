package graft

import graft.operators.EntityResolution
import graft.sources.ExcelReader
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Match-quality regression against the reference's own canonical
  * vocabulary (SURVEY.md §5/§7.4 risk 2): the labeled title→UID corpus
  * at `/root/reference/seed_data/Training Data + Matching IDs.xlsx`
  * (sheets Products / Ingredients / Capabilities). Also the realistic
  * workout for the S2 reader — a real-world workbook, not a synthetic
  * fixture.
  *
  * Band-boundary pins: exact titles resolve at 100; case-perturbed
  * titles still resolve via the case-insensitive exact join; token
  * reorders survive fuzzy scoring at/above the review floor.
  *
  * The reference workbook is not part of the repo. Without it every pin
  * runs on a seeded generated workbook of the same shape
  * ([[LabeledWorkbook.writeGenerated]]); only the fact about the real
  * corpus's size is then canceled, never passed.
  */
class MatchQualitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val corpusPath = "/root/reference/seed_data/Training Data + Matching IDs.xlsx"
  lazy val referencePresent = new java.io.File(corpusPath).exists()
  lazy val workbook = LabeledWorkbook.referenceOrGenerated(corpusPath)

  lazy val products = {
    val raw = ExcelReader.readXlsx(spark, workbook, sheet = 1)
    // first two columns are title, uid regardless of header spelling
    val Seq(titleCol, uidCol) = raw.columns.take(2).toSeq
    raw.select(col(s"`$titleCol`").as("title"), col(s"`$uidCol`").as("ext_id"))
      .where(col("title").isNotNull && col("ext_id").isNotNull)
  }

  test("S2 reads the reference corpus (thousands of labeled pairs)") {
    assume(referencePresent, s"a fact about the reference corpus: $corpusPath is absent")
    val n = products.count()
    assert(n > 500, s"expected a real corpus, got $n rows")
  }

  test("every exact title resolves at score 100 against its own dictionary") {
    val sample = products.limit(300)
      .withColumn("item_id", monotonically_increasing_id())
      .select(col("item_id"), col("title").as("item_name"), col("ext_id").as("want"))
    val resolved = EntityResolution.resolve(
      sample.select("item_id", "item_name"), products, Seq("item_id"))
    val joined = resolved.join(sample, Seq("item_id"))
    val n = joined.count()
    val exact = joined.where(col("score") === 100.0 && col("decision") === "resolved")
    assert(exact.count() == n, s"${n - exact.count()} of $n titles missed exact")
  }

  test("S2 and S2b surface the same seed-sheet rows (xlsx ↔ xls interchangeability)") {
    // labeled pairs from the REAL Products sheet, re-serialized as a
    // genuine BIFF8 .xls (independent byte-level writer) and read back
    // through S2b: the two readers must surface the identical row set —
    // the proof that a legacy-.xls submission of the reference's own
    // seed data flows like its .xlsx twin.
    val raw = graft.sources.ExcelReader.readXlsx(spark, workbook, sheet = 1)
    val Seq(titleCol, uidCol) = raw.columns.take(2).toSeq
    val viaXlsx = raw
      .select(col(s"`$titleCol`").as("t"), col(s"`$uidCol`").as("u"))
      .where(col("t").isNotNull && col("u").isNotNull)
      .limit(150).as[(String, String)].collect().toSeq
    assert(viaXlsx.size == 150)
    val wb = graft.sources.BiffTestWriter.labelsWorkbook(
      Seq(titleCol, uidCol) +: viaXlsx.map { case (t, u) => Seq(t, u) })
    val p = java.nio.file.Files.createTempDirectory("graft-xls-roundtrip")
      .resolve("seed.xls")
    java.nio.file.Files.write(p, graft.sources.BiffTestWriter.buildCfb(wb))
    val viaXls = graft.sources.BiffReader.readXls(spark, p.toString)
    assert(viaXls.columns.take(2).toSeq == Seq(titleCol, uidCol))
    val back = viaXls
      .select(col(s"`$titleCol`").as("t"), col(s"`$uidCol`").as("u"))
      .as[(String, String)].collect().toSeq
    assert(back.size == viaXlsx.size)
    assert(back.toSet == viaXlsx.toSet)
  }

  test("case-perturbed titles resolve exactly; reordered tokens stay >= review floor") {
    val sample = products.limit(100)
      .withColumn("item_id", monotonically_increasing_id())
    val upperItems = sample.select(col("item_id"), upper(col("title")).as("item_name"))
    val resolvedUpper = EntityResolution.resolve(upperItems, products, Seq("item_id"))
    assert(resolvedUpper.where(col("decision") === "resolved").count() ==
      resolvedUpper.count())

    // reorder tokens of multi-word titles -> must stay at/above review
    val multi = sample
      .where(size(split(col("title"), " ")) >= 2)
      .limit(50)
      .select(col("item_id"),
        concat_ws(" ", reverse(split(col("title"), " "))).as("item_name"))
    val resolvedRev = EntityResolution.resolve(multi, products, Seq("item_id"))
    val below = resolvedRev.where(col("decision") === "rejected")
    assert(below.count() == 0,
      s"${below.count()} reordered titles fell below the review floor")
  }
}
