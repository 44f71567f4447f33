package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fuzzy string-similarity kernels.
  *
  * The reference resolves entities with RapidFuzz `token_set_ratio`
  * scoring plus `ratio`/`partial_ratio` cross-checks (reference
  * `app/etl.py:1272-1294`). Spark has built-in `levenshtein` but no
  * token-set/partial family, so those two are implemented as static
  * kernels that Spark's `StaticInvoke` calls (F2/F3 in SURVEY.md §2.7)
  * — evaluated on `UTF8String` inputs inside the executor, no
  * Python/serialization round-trip, registered as SQL functions by
  * `graft.plans.GraftExtensions`.
  *
  * Scores are 0..100 doubles like the reference. The elementary ratio is
  * the indel ratio `100 * (1 - indel(a,b) / (|a|+|b|))` (Levenshtein with
  * substitutions disallowed), matching RapidFuzz's definition.
  */
object Similarity {

  // ---------------------------------------------------------------- kernels

  /** Indel distance (Levenshtein without substitution), O(|a|·|b|) with
    * two rolling rows; O(min) memory. */
  private[graft] def indelDistance(a: String, b: String): Int = {
    if (a.isEmpty) return b.length
    if (b.isEmpty) return a.length
    val (s, t) = if (a.length <= b.length) (a, b) else (b, a)
    val prev = new Array[Int](s.length + 1)
    val curr = new Array[Int](s.length + 1)
    var i = 0
    while (i <= s.length) { prev(i) = i; i += 1 }
    var j = 1
    while (j <= t.length) {
      curr(0) = j
      var k = 1
      while (k <= s.length) {
        curr(k) =
          if (s.charAt(k - 1) == t.charAt(j - 1)) prev(k - 1)
          else 1 + math.min(prev(k), curr(k - 1))
        k += 1
      }
      System.arraycopy(curr, 0, prev, 0, s.length + 1)
      j += 1
    }
    prev(s.length)
  }

  /** RapidFuzz-style `ratio`: 100 * (1 - indel/(|a|+|b|)). */
  private[graft] def ratio(a: String, b: String): Double = {
    val total = a.length + b.length
    if (total == 0) 100.0
    else 100.0 * (1.0 - indelDistance(a, b).toDouble / total)
  }

  /** RapidFuzz-style `partial_ratio`: best `ratio` of the shorter string
    * against every |shorter|-length window of the longer string. */
  private[graft] def partialRatio(a: String, b: String): Double = {
    val (s, t) = if (a.length <= b.length) (a, b) else (b, a)
    if (s.isEmpty) return if (t.isEmpty) 100.0 else 0.0
    if (s.length == t.length) return ratio(s, t)
    var best = 0.0
    var i = 0
    while (i <= t.length - s.length && best < 100.0) {
      val r = ratio(s, t.substring(i, i + s.length))
      if (r > best) best = r
      i += 1
    }
    best
  }

  /** Default preprocessing: lowercase, non-alphanumeric → space, trim. */
  private[graft] def preprocess(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      sb.append(if (Character.isLetterOrDigit(c)) Character.toLowerCase(c) else ' ')
      i += 1
    }
    sb.result().trim.replaceAll(" +", " ")
  }

  private[graft] def tokenSet(s: String): Array[String] = {
    val p = preprocess(s)
    if (p.isEmpty) Array.empty
    else p.split(' ').distinct.sorted
  }

  /** RapidFuzz-style `token_set_ratio` over preprocessed token sets. */
  private[graft] def tokenSetRatio(a: String, b: String): Double = {
    val ta = tokenSet(a)
    val tb = tokenSet(b)
    if (ta.isEmpty && tb.isEmpty) return 100.0
    if (ta.isEmpty || tb.isEmpty) return 0.0
    val sa = ta.toSet
    val sb = tb.toSet
    val inter = ta.filter(sb.contains)
    val diffA = ta.filterNot(sb.contains)
    val diffB = tb.filterNot(sa.contains)
    if (diffA.isEmpty && diffB.isEmpty) return 100.0
    val s0 = inter.mkString(" ")
    val s1 = (inter ++ diffA).mkString(" ")
    val s2 = (inter ++ diffB).mkString(" ")
    if (inter.nonEmpty)
      math.max(ratio(s0, s1), math.max(ratio(s0, s2), ratio(s1, s2)))
    else ratio(s1, s2)
  }

  // ------------------------------------------ codegen-callable kernels

  /** Static entry points the generated Java calls (UTF8String in, score
    * out) — keeps the calls inside whole-stage codegen instead of
    * falling back to interpreted eval. */
  def tokenSetRatioU(a: UTF8String, b: UTF8String): Double =
    tokenSetRatio(a.toString, b.toString)
  def partialRatioU(a: UTF8String, b: UTF8String): Double =
    partialRatio(preprocess(a.toString), preprocess(b.toString))
  def indelRatioU(a: UTF8String, b: UTF8String): Double =
    ratio(preprocess(a.toString), preprocess(b.toString))

  // ------------------------------------ SQL expressions and Column API

  // string-typed contract at ANALYSIS time: a castable argument (a
  // bigint, a date) is cast to string like the builtins' arguments, and
  // anything else fails with an AnalysisException, never in a task
  private def ratioExpr(kernel: String, a: Expression, b: Expression): Expression =
    StaticInvoke(Similarity.getClass, DoubleType, kernel, Seq(a, b),
      Seq(StringType, StringType), returnNullable = false)

  /** SQL: `token_set_ratio(a, b)` → double 0..100. */
  def tokenSetRatioExpr(a: Expression, b: Expression): Expression =
    ratioExpr("tokenSetRatioU", a, b)

  /** SQL: `partial_ratio(a, b)` → double 0..100. */
  def partialRatioExpr(a: Expression, b: Expression): Expression =
    ratioExpr("partialRatioU", a, b)

  /** SQL: `indel_ratio(a, b)` → double 0..100 (RapidFuzz `ratio`). */
  def indelRatioExpr(a: Expression, b: Expression): Expression =
    ratioExpr("indelRatioU", a, b)

  def token_set_ratio(a: Column, b: Column): Column =
    column(tokenSetRatioExpr(expression(a), expression(b)))

  def partial_ratio(a: Column, b: Column): Column =
    column(partialRatioExpr(expression(a), expression(b)))

  def indel_ratio(a: Column, b: Column): Column =
    column(indelRatioExpr(expression(a), expression(b)))

  /** Oracle-friendly integer Levenshtein ratio usable identically in any
    * ANSI engine: floor(100 * (maxlen - lev) / maxlen), 0..100 bigint. */
  def levRatio(a: Column, b: Column): Column =
    floor(
      (lit(100) * (greatest(length(a), length(b), lit(1)) - levenshtein(a, b)))
        / greatest(length(a), length(b), lit(1))).cast("long")
}
