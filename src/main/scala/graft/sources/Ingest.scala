package graft.sources

import java.nio.charset.{Charset, CharsetDecoder, CodingErrorAction}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Ingestion sources (S1-S5).
  *
  * - CSV with encoding detection: the reference probes utf-8, utf-8-sig,
  *   latin-1, cp1252, iso-8859-1 on the head of the file and takes the
  *   first that decodes (reference `app/etl.py:15-36`). Here the probe
  *   reads the first KB driver-side and the winning charset feeds
  *   `spark.read.option("encoding", …)` — the scan itself is fully
  *   distributed.
  * - Excel (S2/S3): no zero-egress Spark Excel reader exists; the
  *   capability is modeled as a pre-flight container validation +
  *   driver-side conversion hook producing parquet/CSV for the scan.
  * - JSON dimension scan (S4) and parquet staging (S9).
  */
object Ingest {

  /** Typed ingest rejection — callers can branch on it instead of
    * pattern-matching a parser's internal crash message. */
  final case class UnsupportedFormat(path: String, detail: String)
      extends RuntimeException(s"$path: $detail")

  /** Typed missing-input rejection: the named input does not exist.
    * Kept apart from [[UnsupportedFormat]] so a missing upload is never
    * reported as a corrupt one. */
  final case class MissingInput(path: String)
      extends RuntimeException(s"$path: no such file")

  /** P11: the reference's upload whitelist (`app/routes.py:41-42`). */
  val AllowedExtensions: Set[String] = Set("csv", "xlsx", "xls")

  /** P11: extension whitelist — mirrors `allowed_file`'s
    * `rsplit('.', 1)[1]`: everything after the LAST dot, so ".."
    * (empty tail — split().last would throw) and trailing-dot names
    * like "x.csv." (empty extension) are rejected exactly as the
    * reference rejects them. */
  def allowedFile(filename: String): Boolean =
    filename.contains(".") &&
      AllowedExtensions.contains(
        filename.substring(filename.lastIndexOf('.') + 1).toLowerCase)

  /** P11: path-traversal guard — the resolved path must stay inside the
    * upload directory (mirrors `is_safe_filename`,
    * `app/routes.py:44-54`): "../../etc/passwd" and absolute paths are
    * rejected, nested subdirectories are allowed. */
  def isSafeFilename(uploadDir: String, filename: String): Boolean =
    filename.nonEmpty && {
      // a name that is not even a valid path (NUL byte, etc.) is
      // unsafe, not an exception — keep the typed-rejection contract
      try {
        val base = Paths.get(uploadDir).toAbsolutePath.normalize
        val resolved = base.resolve(filename).normalize
        resolved.startsWith(base) && resolved != base
      } catch {
        case _: java.nio.file.InvalidPathException => false
      }
    }

  /** Legacy .xls detection: BIFF workbooks live in an OLE2 compound
    * file whose 8-byte magic is D0 CF 11 E0 A1 B1 1A E1 — an xlsx (zip)
    * starts with PK. */
  def isLegacyBiff(path: String): Boolean = {
    val f = new java.io.File(path)
    if (!f.isFile || f.length < 8) return false
    val in = new java.io.FileInputStream(f)
    try {
      // readNBytes (not read): a single read() may legally return short
      // even mid-file, which would misclassify a real BIFF workbook
      val head = in.readNBytes(8)
      head.length == 8 && java.util.Arrays.equals(head, Array(
        0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1).map(_.toByte))
    } finally in.close()
  }

  /** Reference probe order (`app/etl.py:21`): utf-8, utf-8-sig,
    * latin-1, cp1252, iso-8859-1. Python's latin-1 accepts EVERY byte,
    * so in the reference any non-UTF-8 file decodes as latin-1 and the
    * cp1252 rung is unreachable — mirrored here: ISO-8859-1 (latin-1)
    * is the second rung, so 0x80–0x9F bytes decode to the same C1 code
    * points the reference produces, never the cp1252 punctuation a
    * windows-1252-first ladder would yield. */
  val EncodingLadder: Seq[String] =
    Seq("UTF-8", "ISO-8859-1")

  /** Probe the first `probeBytes` of a local file; first charset that
    * decodes without error wins (BOM-stripped UTF-8 counts as UTF-8).
    * Only the probe window is read (readNBytes — never the whole file
    * into driver memory), and a malformed sequence inside the LAST
    * four bytes of a full probe window is forgiven: the fixed-size cut
    * can split a multibyte UTF-8 character mid-sequence, and treating
    * that truncation as "not UTF-8" would silently mojibake the whole
    * file through the windows-1252 fallback. */
  def detectEncoding(path: String, probeBytes: Int = 1024): String = {
    val in = Files.newInputStream(Paths.get(path))
    val head = try in.readNBytes(probeBytes) finally in.close()
    // a partial read means EOF — the window holds the entire file and
    // a malformed tail is genuinely malformed, not truncated
    val truncated = head.length == probeBytes
    EncodingLadder.find { name =>
      val dec: CharsetDecoder = Charset.forName(name).newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
      val buf = java.nio.ByteBuffer.wrap(head)
      val out = java.nio.CharBuffer.allocate(head.length + 1)
      val res = dec.decode(buf, out, true)
      if (!res.isError) { dec.flush(out); true }
      // UTF-8 sequences are <= 4 bytes: an error starting within the
      // last 4 bytes of a truncated window is the cut, not the data —
      // a multibyte-cut rationale that only applies to UTF-8 (a
      // single-byte charset error in the tail is genuinely bad data)
      else name == "UTF-8" &&
        truncated && buf.position() >= head.length - 4
    }.getOrElse("ISO-8859-1") // latin-1 accepts any byte — final fallback
  }

  /** S1: encoding-probed CSV scan with header. */
  def readCsv(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val enc = detectEncoding(path)
    val base = spark.read
      .option("header", "true")
      .option("encoding", enc)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
    schema.fold(base.option("inferSchema", "true"))(base.schema)
      .csv(path)
  }

  /** S3: pre-flight container validation for xlsx (a real zip with an
    * `xl/` entry). Returns a typed error instead of a parser crash; a
    * file that does not exist throws [[MissingInput]], since there is no
    * container to judge. */
  def validateXlsxContainer(path: String): Either[String, Unit] = {
    try {
      val zf = new java.util.zip.ZipFile(path)
      try {
        val entries = zf.entries()
        var hasXl = false
        while (entries.hasMoreElements && !hasXl)
          hasXl = entries.nextElement().getName.startsWith("xl/")
        if (hasXl) Right(()) else Left("not an Excel workbook: missing xl/ entries")
      } finally zf.close()
    } catch {
      case _: java.io.FileNotFoundException | _: java.nio.file.NoSuchFileException =>
        throw MissingInput(path)
      case e: Exception => Left(s"corrupt container: ${e.getMessage}")
    }
  }

  /** S4: multiline JSON dimension scan (e.g. a country list). */
  def readJsonDim(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").json(path)

  /** S9: parquet staging write, partitioned when a column is given. */
  def stage(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** S7: single-file CSV report sink (driver-side post-step keeps the
    * reference's one-file-per-report contract). */
  def writeCsvReport(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  /** S8: bundle named reports into one zip of `<name>.csv` entries
    * (reference `app/routes.py:2113-2145`). Each report is written via
    * the S7 single-file sink, then its part file streams into the
    * archive — a driver-side post-step over already-reduced report
    * rows, deliberately not a distributed write. Local-filesystem sink
    * by design: part discovery via `Files.list` assumes the CSV write
    * landed on the local FS (the reference's report-download contract);
    * an object-store bundle would stream via the Hadoop FS API instead. */
  def zipReports(reports: Map[String, DataFrame], zipPath: String): Unit = {
    val tmp = Files.createTempDirectory("graft-reports")
    try {
      val target = Paths.get(zipPath).toAbsolutePath
      // stage UNIQUELY next to the target, move into place only on
      // success: a mid-loop failure must never leave a truncated archive
      // at zipPath, and two concurrent bundles targeting the same zipPath
      // must not clobber each other's staging file (unique temp name; the
      // last finished move wins the target atomically). Created INSIDE
      // the outer try: a bad zipPath (missing parent dir) must still
      // clean up the report temp directory.
      val staging = Files.createTempFile(
        target.getParent, target.getFileName.toString + ".", ".tmp")
      try {
        scala.util.Using.resource(new java.util.zip.ZipOutputStream(
          Files.newOutputStream(staging))) { out =>
          reports.toSeq.sortBy(_._1).foreach { case (name, df) =>
            val dir = tmp.resolve(name)
            writeCsvReport(df, dir.toString)
            val part = scala.util.Using.resource(Files.list(dir)) { s =>
              s.filter(p =>
                p.getFileName.toString.startsWith("part-") &&
                  p.getFileName.toString.endsWith(".csv")).findFirst().orElseThrow()
            }
            out.putNextEntry(new java.util.zip.ZipEntry(s"$name.csv"))
            Files.copy(part, out)
            out.closeEntry()
          }
        }
        Files.move(staging, target,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        // createTempFile stages at 0600 and move preserves it; the
        // delivered bundle is served to other principals (the
        // reference's download endpoint), so apply the conventional
        // 644 as a FIXED delivery policy — deliberately independent of
        // the process umask.
        try Files.setPosixFilePermissions(target,
          java.nio.file.attribute.PosixFilePermissions.fromString("rw-r--r--"))
        catch { case _: UnsupportedOperationException => () } // non-POSIX FS
      } finally Files.deleteIfExists(staging)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }
}
