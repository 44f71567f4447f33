package graft.plans

import graft.functions.{Checksum, Similarity, TextHash, UnicodeNorm, VectorFunctions}
import org.apache.spark.sql.{GraftColumnBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** Session-extensions entry point: registers the graft expression
  * family into any session created with
  * `spark.sql.extensions=graft.plans.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`), making
  * `token_set_ratio` / `partial_ratio` / `indel_ratio` /
  * `cosine_sq_scaled` / `minhash_sig` / `simhash` /
  * `rolling_fingerprint` / `luhn_valid` / `nfc_normalize` /
  * `url_canonicalize` / `url_host` / `content_key` / `token_count` /
  * `zorder2` available to plain SQL — including spark-sql
  * shells and JDBC/Thrift sessions where no Scala code runs.
  *
  * Argument types are checked at analysis, as for Spark's builtins:
  * each kernel call declares its input types (string for the text and
  * similarity kernels, array<bigint> for `cosine_sq_scaled`), so an
  * atomic argument is implicitly cast (`luhn_valid(4111111111111111)`
  * checks the digits of the bigint) and an argument that cannot be
  * cast fails with an `AnalysisException`, never inside a task.
  *
  * Deliberately NO custom `Rule[LogicalPlan]` or `SparkStrategy` is
  * injected: the survey's conclusion (SURVEY.md §4, §7.3) is that every
  * reference semantic is expressible at the public DataFrame/expression
  * layer, where Catalyst's own optimizer does the planning. The one
  * candidate (the fuzzy join) is handled at the API level by
  * distinct-text scoring + token blocking, which a planner rule could
  * not improve on.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "4.0.0", "", "built-in")

  // arity validation for the fixed-arity builders: without it a wrong
  // SQL call either threw a raw IndexOutOfBoundsException (missing
  // arg) or silently DROPPED extra args — inconsistent with the
  // variadic builders (simhash/minhash_sig/zorder2), which already
  // pattern-match and throw descriptive errors
  private def arity1(name: String)(f: Expression => Expression)
      : Seq[Expression] => Expression = {
    case Seq(a) => f(a)
    case es => throw new IllegalArgumentException(
      s"$name expects exactly 1 argument, got ${es.length}")
  }
  private def arity2(name: String)(f: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = {
    case Seq(a, b) => f(a, b)
    case es => throw new IllegalArgumentException(
      s"$name expects exactly 2 arguments, got ${es.length}")
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    // every builder reuses the library's Expression-level function —
    // one implementation, no SQL-surface fork to drift (a Column-bridge
    // wrapper here would inject an unanalyzed ColumnNodeExpression,
    // which the SQL path never resolves)
    e.injectFunction((
      FunctionIdentifier("token_set_ratio"),
      info("token_set_ratio", "token_set_ratio(a, b) - RapidFuzz-style token-set similarity 0..100"),
      arity2("token_set_ratio")(Similarity.tokenSetRatioExpr)))
    e.injectFunction((
      FunctionIdentifier("partial_ratio"),
      info("partial_ratio", "partial_ratio(a, b) - best-window indel similarity 0..100"),
      arity2("partial_ratio")(Similarity.partialRatioExpr)))
    e.injectFunction((
      FunctionIdentifier("indel_ratio"),
      info("indel_ratio", "indel_ratio(a, b) - whole-string indel similarity 0..100"),
      arity2("indel_ratio")(Similarity.indelRatioExpr)))
    e.injectFunction((
      FunctionIdentifier("cosine_sq_scaled"),
      info("cosine_sq_scaled", "cosine_sq_scaled(qa, qb) - sign-corrected scaled cosine^2 of quantized bigint vectors"),
      arity2("cosine_sq_scaled")(VectorFunctions.cosineSqScaledQExpr)))
    e.injectFunction((
      FunctionIdentifier("simhash"),
      info("simhash", "simhash(text[, bits]) - SimHash of the token set as bigint; bits is a literal int, default 16, max 32 (md5-hex parity bits)"),
      (es: Seq[Expression]) => es match {
        case Seq(t) => TextHash.simhashExpr(t, 16)
        case Seq(t, Literal(b: Int, IntegerType)) if b >= 1 && b <= 32 =>
          TextHash.simhashExpr(t, b)
        case _ => throw new IllegalArgumentException(
          "simhash(text[, bits]) requires a literal int bits in 1..32")
      }))
    e.injectFunction((
      FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(text[, n]) - array of n md5 min-hashes over the token set (seeds 0..n-1); n is a literal int, default 8"),
      (es: Seq[Expression]) => es match {
        case Seq(t) => TextHash.minhashSignatureExpr(t, 0 until 8)
        case Seq(t, Literal(n: Int, IntegerType)) if n >= 1 && n <= 512 =>
          TextHash.minhashSignatureExpr(t, 0 until n)
        case _ => throw new IllegalArgumentException(
          "minhash_sig(text[, n]) requires a literal int n in 1..512")
      }))
    e.injectFunction((
      FunctionIdentifier("rolling_fingerprint"),
      info("rolling_fingerprint", "rolling_fingerprint(text) - Rabin-Karp rolling hash of the trimmed text as bigint"),
      arity1("rolling_fingerprint")(TextHash.rollingFingerprintExpr)))
    e.injectFunction((
      FunctionIdentifier("luhn_valid"),
      info("luhn_valid", "luhn_valid(digits) - Luhn mod-10 check-digit validity of a digit string (false on empty/non-digit input)"),
      arity1("luhn_valid")(Checksum.luhnValidExpr)))
    e.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      info("nfc_normalize", "nfc_normalize(s) - Unicode NFC canonical composition (same semantics as DuckDB's nfc_normalize)"),
      arity1("nfc_normalize")(UnicodeNorm.nfcNormalizeExpr)))
    e.injectFunction((
      FunctionIdentifier("url_canonicalize"),
      info("url_canonicalize", "url_canonicalize(u) - web-corpus dedup-key URL canonicalization (lowercase, fragment/tracking-param strip, www/trailing-slash strip)"),
      arity1("url_canonicalize")(
        graft.functions.UrlNorm.canonicalizeUrlExpr(_))))
    e.injectFunction((
      FunctionIdentifier("url_host"),
      info("url_host", "url_host(u) - authority of a canonicalized URL, '' when absent"),
      arity1("url_host")(graft.functions.UrlNorm.urlHostExpr(_))))
    e.injectFunction((
      FunctionIdentifier("content_key"),
      info("content_key", "content_key(text) - md5 of lower(trim(text)), the engine-wide exact-dedup key (q29/q109 contract)"),
      arity1("content_key")(e0 =>
        new org.apache.spark.sql.catalyst.expressions.Md5(
          new org.apache.spark.sql.catalyst.expressions.Lower(
            org.apache.spark.sql.catalyst.expressions.StringTrim(e0))))))
    e.injectFunction((
      FunctionIdentifier("token_count"),
      info("token_count", "token_count(text) - whitespace token count, 0 for empty text (the q30/q74 contract)"),
      arity1("token_count") { e0 =>
        import org.apache.spark.sql.catalyst.expressions._
        val trimmed = StringTrim(e0)
        // NULL text counts as 0 — the TextFunctions.tokenCount
        // contract (an IsNull-less CaseWhen would fall through to the
        // else branch and emit NULL, silently corrupting running token
        // sums exactly as the library doc warns)
        CaseWhen(
          Seq((Or(IsNull(e0), EqualTo(Length(trimmed), Literal(0))),
            Literal(0L))),
          Cast(Size(StringSplit(trimmed, Literal("\\s+"), Literal(-1))),
            org.apache.spark.sql.types.LongType))
      }))
    e.injectFunction((
      FunctionIdentifier("zorder2"),
      info("zorder2", "zorder2(x, y[, bits]) - Morton-interleaved z-order key of two quantized dimensions; bits is a literal int in 1..31, default 16"),
      (es: Seq[Expression]) => es match {
        case Seq(x, y) => graft.functions.ZOrder.interleave2Expr(x, y, 16)
        case Seq(x, y, Literal(b: Int, IntegerType)) if b >= 1 && b <= 31 =>
          graft.functions.ZOrder.interleave2Expr(x, y, b)
        case _ => throw new IllegalArgumentException(
          "zorder2(x, y[, bits]) requires a literal int bits in 1..31")
      }))
  }
}

object GraftExtensions {

  /** Registers the whole function family into a live session that was
    * created without the extensions. */
  def registerInto(spark: SparkSession): Unit = {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftColumnBridge.registerInto(ext, spark)
  }
}
