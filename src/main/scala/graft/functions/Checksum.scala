package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.types.{BooleanType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Checksum validators for PII detection — the confirmation step that
  * turns a "13-19 digit run" regex candidate into a credible payment-
  * card finding (Luhn 1960, ISO/IEC 7812-1). A digit run that fails
  * the check digit is almost always an id/timestamp, so the validator
  * cuts false positives by ~90% (only 1 in 10 random digit strings
  * pass) before a scrub or a redaction pass commits to rewriting text.
  *
  * Implemented as a codegen'd static kernel call (no UDF): the kernel
  * is one backward pass over the candidate's chars with integer ops
  * only, so it stays inside whole-stage codegen on the scan side —
  * the PII family's discipline (TextFunctions.piiCounts/scrubPii).
  */
object Checksum {

  /** Luhn mod-10 check over a digit-only string: doubles every second
    * digit from the RIGHT (subtracting 9 on overflow), sums, valid iff
    * sum % 10 == 0. Returns false for empty strings or any non-digit
    * char (the caller's regex normally guarantees digits; a stray char
    * must read as "not a card", never throw). */
  def luhnKernel(s: UTF8String): Boolean = {
    val str = s.toString
    val n = str.length
    if (n == 0) return false
    var sum = 0
    var alt = false
    var i = n - 1
    while (i >= 0) {
      val c = str.charAt(i)
      if (c < '0' || c > '9') return false
      var d = c - '0'
      if (alt) { d *= 2; if (d > 9) d -= 9 }
      sum += d
      alt = !alt
      i -= 1
    }
    sum % 10 == 0
  }

  /** SQL: `luhn_valid(s)` → boolean; an atomic argument casts to string. */
  def luhnValidExpr(s: Expression): Expression =
    StaticInvoke(Checksum.getClass, BooleanType, "luhnKernel", Seq(s),
      Seq(StringType), returnNullable = false)

  /** Luhn check-digit validity of a digit string as a boolean column. */
  def luhnValid(c: Column): Column = column(luhnValidExpr(expression(c)))
}
