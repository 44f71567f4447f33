package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Unicode text normalization for training corpora.
  *
  * A crawl mixes composed and decomposed codepoint sequences ("é" as
  * U+00E9 vs "e"+U+0301), zero-width format characters, and stray
  * controls; hash-based dedup (`contentKey`, MinHash shingles) treats
  * those byte-different equals as distinct documents unless the text is
  * canonicalized first. The standard cleaning step is NFC + control /
  * format strip + whitespace collapse (what utf8proc-based pipelines
  * do; DuckDB exposes the same NFC as `nfc_normalize`, which is the
  * oracle twin).
  *
  * NFC runs as a static kernel over `UTF8String` called through
  * `StaticInvoke` (no UDF, stays inside whole-stage codegen); the
  * already-normalized fast path — all of ASCII — returns the input
  * buffer without allocating.
  */
object UnicodeNorm {

  /** Static kernel the generated code calls. ASCII (the dominant case)
    * short-circuits on a byte-level check — numBytes == numChars holds
    * exactly for all-ASCII UTF-8 — so the hot path never decodes to a
    * java String; only genuinely multi-byte rows pay the Normalizer. */
  def nfcU(s: UTF8String): UTF8String = {
    if (s.numBytes() == s.numChars()) return s
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }

  /** SQL: `nfc_normalize(s)` — Unicode NFC canonical composition. */
  def nfcNormalizeExpr(s: Expression): Expression =
    StaticInvoke(UnicodeNorm.getClass, StringType, "nfcU", Seq(s),
      Seq(StringType), returnNullable = false)

  def nfc_normalize(c: Column): Column = column(nfcNormalizeExpr(expression(c)))

  /** Control (Cc) + format (Cf) strip pattern — shared with the q77
    * oracle SQL (RE2 supports the same two-letter categories). */
  val StripRe = "[\\p{Cc}\\p{Cf}]"

  /** The full canonicalization chain: NFC, then controls/format chars
    * to spaces, then whitespace collapse + trim. Idempotent; safe to
    * run before `contentKey`/shingling on any corpus. */
  def cleanText(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(nfc_normalize(c), StripRe, " "), "\\s+", " "))
}
