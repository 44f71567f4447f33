package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Null-normalization, sanitization, validation, banding and log-hygiene
  * column functions.
  *
  * Capabilities derived from the reference's ETL/validation surface:
  * null-token normalization (reference `app/etl.py:141-158`), HTML
  * sanitization (`app/etl.py:757-765`), business-name validation
  * (`app/etl.py:885-893`), email validation (`app/etl.py:895-902`),
  * three-band match-decision routing (`app/etl.py:1318-1374`, thresholds
  * `app/etl.py:40-42`), confidence CSS bands (`app/routes.py:31-39`),
  * decision-status derivation (`app/report_utils.py:53-61`), error
  * categorization (`app/error_utils.py:58-99`), sensitive-data masking
  * (`app/logging_utils.py:38-56`).
  *
  * All functions are pure `Column` expressions (whole-stage codegen
  * friendly, no UDFs) so Catalyst can push/prune/fold around them.
  */
object Normalize {

  /** Tokens the reference treats as "empty" regardless of case. */
  val NullTokens: Seq[String] = Seq("", "null", "none", "n/a", "na", "nan")

  /** WHITESPACE trim (the reference's Python strip()): Spark/DuckDB
    * trim() strips ASCII spaces ONLY, so a CSV artifact like
    * "NULL\r\n" would survive normalization as a real value. Shared
    * by [[normEmpty]] and its DuckDB twins (same regex, 'g' flag).
    *
    * The class is spelled EXPLICITLY, not `\s`: Java's `\s` includes
    * `\x0B` (vertical tab) while DuckDB/RE2's does not, so the shared
    * literal would silently mean different things per engine on a
    * `\x0B`-edged value. Both engines parse `\t\n\r\f\x0B` escapes
    * identically, so this class IS cross-engine "same regex, same
    * semantics". DOCUMENTED reference divergence: Python `str.strip()`
    * additionally strips Unicode whitespace (e.g. `\xa0` NBSP) that
    * neither engine's class matches — an NBSP-edged value survives
    * trimming here; the reference would strip it. */
  val WsTrimRe = "^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$"
  private def wsTrim(c: Column): Column = regexp_replace(c, WsTrimRe, "")

  /** P1 — normalize empty-ish tokens to real NULL, trimming the rest. */
  def normEmpty(c: Column): Column =
    when(c.isNull || lower(wsTrim(c)).isin(NullTokens: _*), lit(null))
      .otherwise(wsTrim(c))

  /** P5 — strip HTML tags, then escape the residual special characters.
    * Ordered like the reference: tags first, then entity escapes. */
  def sanitize(c: Column): Column = {
    val noTags = regexp_replace(c, "<[^>]*>", "")
    val amp    = regexp_replace(noTags, "&", "&amp;")
    val lt     = regexp_replace(amp, "<", "&lt;")
    val gt     = regexp_replace(lt, ">", "&gt;")
    val quot   = regexp_replace(gt, "\"", "&quot;")
    regexp_replace(quot, "'", "&#x27;")
  }

  /** P3 — business-name validity: trimmed length 2..200, no <>"' chars. */
  def validBusinessName(c: Column): Column =
    c.isNotNull &&
      length(trim(c)).between(2, 200) &&
      !c.rlike("[<>\"']")

  /** P4 — optional email validity (null passes; non-null must match). */
  def validEmail(c: Column): Column =
    c.isNull || c.rlike("^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$")

  /** The reference's decision bands (`app/etl.py:40-42`): a score at
    * or above `AutoResolve` resolves automatically, one at or above
    * `AutoReject` goes to human review, anything lower is rejected.
    * Entity resolution, the batch-approve guard and the oracle twins
    * all read them from here. */
  val AutoResolve: Double = 97.0
  val AutoReject: Double = 50.0

  /** F6 — three-band decision routing on a 0-100 score. A NULL score
    * falls through both comparisons into "rejected" — deliberately the
    * same convention as EntityResolution's zero-candidate path (no
    * candidates = score 0 = auto-reject); a caller that must
    * distinguish "unscored" from "scored low" should gate on
    * `score.isNull` BEFORE banding. */
  def decisionBand(score: Column): Column =
    when(score >= AutoResolve, "resolved")
      .when(score >= AutoReject, "review")
      .otherwise("rejected")

  /** F8 — decision-status derivation from the review tri-state. */
  def decisionStatus(
      ignored: Column,
      approved: Column,
      resolved: Column): Column =
    when(ignored, "Ignored")
      .when(approved && resolved, "Matched to Existing")
      .when(approved && !resolved, "Created as New")
      .otherwise("Unknown")

  /** F15 — keyword error categorization (10 categories, first match wins). */
  def errorCategory(msg: Column): Column = {
    val m = lower(coalesce(msg, lit("")))
    when(m.rlike("connection|timeout|network|unreachable"), "network")
      .when(m.rlike("auth|permission|denied|unauthorized|forbidden"), "auth")
      .when(m.rlike("schema|column|field|type mismatch"), "schema")
      .when(m.rlike("duplicate|conflict|already exists"), "conflict")
      // multi-word PHRASES, the reference's own keyword shapes
      // (`app/error_utils.py:68`: 'daily limit', 'quota exceeded',
      // 'rate limit', 'too many requests') — bare `rate`/`limit`/`quota`
      // substrings would misfile "generate"/"delimiter"/"quotation"
      .when(m.rlike(
        "daily limit|quota exceeded|rate limit|too many requests|throttle"),
        "quota")
      .when(m.rlike("parse|decode|encoding|malformed|invalid json"), "parse")
      .when(m.rlike("not found|missing|no such"), "missing")
      .when(m.rlike("disk|memory|resource|oom"), "resource")
      .when(m.rlike("error|fail|exception"), "generic")
      .otherwise("unknown")
  }

  /** F13 — mask long base64-ish strings (token/secret shaped values). */
  def maskSensitive(c: Column): Column =
    when(
      c.isNotNull && length(c) > 20 && c.rlike("^[A-Za-z0-9+/=]+$"),
      lit("***MASKED***")).otherwise(c)

  /** F12 — payload size estimate in BYTES of the JSON form of a struct:
    * octet_length, not length — character count would under-report
    * multi-byte UTF-8 payloads (3× for CJK-heavy text) against the
    * wire/storage size the estimate exists to bound. */
  def payloadBytes(c: Column): Column =
    call_function("octet_length", to_json(c)).cast("long")
}
