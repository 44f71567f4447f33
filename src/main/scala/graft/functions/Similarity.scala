package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  ExpectsInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fuzzy string-similarity kernels.
  *
  * The reference resolves entities with RapidFuzz `token_set_ratio`
  * scoring plus `ratio`/`partial_ratio` cross-checks (reference
  * `app/etl.py:1272-1294`). Spark has built-in `levenshtein` but no
  * token-set/partial family, so those two are implemented as native
  * Catalyst expressions (F2/F3 in SURVEY.md §2.7) — evaluated on
  * `UTF8String` inputs inside the executor, no Python/serialization
  * round-trip, registered as SQL functions by `graft.plans.GraftExtensions`.
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
    * out) — keeps the expressions inside whole-stage codegen instead of
    * falling back to interpreted eval. */
  def tokenSetRatioU(a: UTF8String, b: UTF8String): Double =
    tokenSetRatio(a.toString, b.toString)
  def partialRatioU(a: UTF8String, b: UTF8String): Double =
    partialRatio(preprocess(a.toString), preprocess(b.toString))
  def indelRatioU(a: UTF8String, b: UTF8String): Double =
    ratio(preprocess(a.toString), preprocess(b.toString))

  // ---------------------------------------------- Catalyst expressions

  abstract class SimilarityExpression extends BinaryExpression
      with ExpectsInputTypes {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    // string-typed contract at ANALYSIS time: without it a non-string
    // argument from the SQL surface passes analysis and dies later in
    // codegen (int where UTF8String expected); with it Spark coerces
    // castables and rejects the rest with a clean AnalysisException,
    // like the builtins
    // (return type inferred: AbstractDataType is private[sql], so it
    // cannot be named here — the override pins it structurally)
    override def inputTypes = Seq(StringType, StringType)
    /** FQN of the static kernel: graft.functions.Similarity.<name>U. */
    protected def kernel: String
    protected def score(a: String, b: String): Double
    override protected def nullSafeEval(a: Any, b: Any): Any =
      score(a.asInstanceOf[UTF8String].toString, b.asInstanceOf[UTF8String].toString)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.Similarity.$kernel($a, $b);")
  }

  /** SQL: `token_set_ratio(a, b)` → double 0..100. */
  case class TokenSetRatio(left: Expression, right: Expression)
      extends SimilarityExpression {
    override protected val kernel = "tokenSetRatioU"
    override protected def score(a: String, b: String): Double = tokenSetRatio(a, b)
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** SQL: `partial_ratio(a, b)` → double 0..100. */
  case class PartialRatio(left: Expression, right: Expression)
      extends SimilarityExpression {
    override protected val kernel = "partialRatioU"
    override protected def score(a: String, b: String): Double =
      partialRatio(preprocess(a), preprocess(b))
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** SQL: `indel_ratio(a, b)` → double 0..100 (RapidFuzz `ratio`). */
  case class IndelRatio(left: Expression, right: Expression)
      extends SimilarityExpression {
    override protected val kernel = "indelRatioU"
    override protected def score(a: String, b: String): Double =
      ratio(preprocess(a), preprocess(b))
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  // ------------------------------------------------------- Column API

  import org.apache.spark.sql.GraftColumnBridge.{column, expression}

  def token_set_ratio(a: Column, b: Column): Column =
    column(TokenSetRatio(expression(a), expression(b)))

  def partial_ratio(a: Column, b: Column): Column =
    column(PartialRatio(expression(a), expression(b)))

  def indel_ratio(a: Column, b: Column): Column =
    column(IndelRatio(expression(a), expression(b)))

  /** Oracle-friendly integer Levenshtein ratio usable identically in any
    * ANSI engine: floor(100 * (maxlen - lev) / maxlen), 0..100 bigint. */
  def levRatio(a: Column, b: Column): Column =
    floor(
      (lit(100) * (greatest(length(a), length(b), lit(1)) - levenshtein(a, b)))
        / greatest(length(a), length(b), lit(1))).cast("long")
}
