package graft.sources

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** P11 ingress validation, S8 zip bundle, and the legacy-.xls typed
  * reject — the driver-side edges of the ingest surface. */
class IngressSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark

  test("P11: extension whitelist admits csv/xlsx/xls only") {
    assert(Ingest.allowedFile("members.csv"))
    assert(Ingest.allowedFile("Members.XLSX"))
    assert(Ingest.allowedFile("legacy.xls"))
    assert(!Ingest.allowedFile("script.exe"))
    assert(!Ingest.allowedFile("noextension"))
    assert(!Ingest.allowedFile("archive.tar.gz"))
    // rsplit('.', 1)[1] parity: dot-only and trailing-dot names have an
    // EMPTY extension — rejected, never a crash (split().last used to
    // throw NoSuchElementException on "..")
    assert(!Ingest.allowedFile("."))
    assert(!Ingest.allowedFile(".."))
    assert(!Ingest.allowedFile("evil.csv."))
  }

  test("P11: traversal and absolute paths are rejected; nested names pass") {
    val up = Files.createTempDirectory("graft-up").toString
    assert(Ingest.isSafeFilename(up, "a.csv"))
    assert(Ingest.isSafeFilename(up, "batch1/a.csv"))
    assert(!Ingest.isSafeFilename(up, "../a.csv"))
    assert(!Ingest.isSafeFilename(up, "../../etc/passwd"))
    assert(!Ingest.isSafeFilename(up, "/etc/passwd"))
    assert(!Ingest.isSafeFilename(up, ""))
  }

  test("legacy BIFF magic is detected; zip containers are not BIFF") {
    val biff = Files.createTempFile("graft", ".xls")
    Files.write(biff, Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1,
      0, 0, 0, 0).map(_.toByte))
    assert(Ingest.isLegacyBiff(biff.toString))
    val zip = Files.createTempFile("graft", ".xlsx")
    val zo = new java.util.zip.ZipOutputStream(Files.newOutputStream(zip))
    zo.putNextEntry(new java.util.zip.ZipEntry("xl/workbook.xml"))
    zo.write("<x/>".getBytes); zo.closeEntry(); zo.close()
    assert(!Ingest.isLegacyBiff(zip.toString))
    // Engine routes the BIFF file to the BIFF reader (S2b), so a
    // magic-only stub fails with the reader's container error — never
    // the xlsx zip parser's crash
    import org.apache.spark.sql.functions.col
    val dict = spark.range(1).select(col("id").cast("string").as("title"),
      col("id").cast("string").as("ext_id"))
    val e = intercept[IllegalArgumentException] {
      graft.Engine.processSubmission(spark, biff.toString, dict)
    }
    assert(e.getMessage.contains("OLE2"))
  }

  test("a missing input is a typed MissingInput, never a corrupt container") {
    val gone = Files.createTempDirectory("graft-gone")
    val xlsx = gone.resolve("absent.xlsx").toString
    assert(intercept[Ingest.MissingInput](Ingest.validateXlsxContainer(xlsx)).path == xlsx)
    assert(intercept[Ingest.MissingInput](ExcelReader.readXlsx(spark, xlsx)).path == xlsx)
    val xls = gone.resolve("absent.xls").toString
    assert(intercept[Ingest.MissingInput](BiffReader.readXls(spark, xls)).path == xls)
    // a present but broken file is still the container verdict
    val bad = Files.writeString(gone.resolve("bad.xlsx"), "not a zip").toString
    assert(Ingest.validateXlsxContainer(bad).left.exists(_.startsWith("corrupt container")))
  }

  test("S8: zip bundle carries one csv entry per report, content intact") {
    import spark.implicits._
    val zipPath = Files.createTempDirectory("graft-zip").resolve("all.zip")
    Ingest.zipReports(Map(
      "processed" -> Seq((1, "a"), (2, "b")).toDF("id", "v"),
      "errors" -> Seq((9, "bad row")).toDF("id", "msg")), zipPath.toString)
    val zf = new java.util.zip.ZipFile(zipPath.toFile)
    try {
      import scala.jdk.CollectionConverters._
      val entries = zf.entries().asScala.map(_.getName).toSet
      assert(entries == Set("processed.csv", "errors.csv"))
      val body = scala.io.Source.fromInputStream(
        zf.getInputStream(zf.getEntry("errors.csv"))).mkString
      assert(body.contains("bad row") && body.startsWith("id,msg"))
    } finally zf.close()
    // the delivered bundle must not keep the 0600 staging permissions —
    // group/other readers (the reference's download consumers) need it
    val perms = Files.getPosixFilePermissions(zipPath)
    import java.nio.file.attribute.PosixFilePermission._
    assert(perms.contains(GROUP_READ) && perms.contains(OTHERS_READ), perms)
  }
}
