package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType}

/** Text-analysis column functions for large-scale document pipelines:
  * tokenization, token counting, language-ID heuristics, quality scoring,
  * fingerprinting, SimHash/MinHash signatures.
  *
  * All are pure `Column` expression trees over built-ins (codegen'd,
  * no UDFs), so they vectorize inside whole-stage codegen and their
  * inputs benefit from parquet column pruning. Every function is
  * deterministic and ANSI-SQL-mirrorable, which is what allows the
  * DuckDB oracle in the correctness harness to replay them exactly.
  */
object TextFunctions {

  /** Whitespace tokenization: REAL tokens only, never the "" phantom.
    *
    * CONTRACT (migrated round 10, the scheduled coordinated change):
    * split on `\s+` then drop empty elements, so "a b\n" → ["a","b"]
    * and "" → []. The former rule (space-only trim, no filter) left a
    * phantom trailing "" for newline/tab-terminated text, which
    * `tokenCount` counted — off by one per newline-terminated doc on a
    * real corpus. Every DuckDB twin migrated in the same commit
    * (list_filter(..., t -> t <> '')), as did TextHash.tokensOf and
    * the hand-counted specs. `array_remove` not a lambda filter: it is
    * a codegen'd expression, HOFs are CodegenFallback — this sits in
    * scan-side projections. NULL text still yields NULL (split/remove
    * are null-propagating), matching the twins. */
  def tokens(c: Column): Column = array_remove(split(trim(c), "\\s+"), "")

  /** Mitchell's piecewise-linear log2 (Mitchell 1962) in integer
    * MILLIBITS over a non-negative long column: 1000·floor_log2(q) +
    * a linear fraction between powers of two. floor_log2 is the
    * base-2 digit-string length − 1 (exact), 2^e an integer shift
    * (exact), the fraction an integer floor division — never a float,
    * so the value is bit-identical in any engine (the DuckDB twin
    * spells printf('%b') / << / //). Approximation error ≤ 0.086 bits.
    * PRECONDITION q ≥ 1: q = 0 does NOT read as a neutral 0 — the
    * formula yields −1000 (e = 0, fraction 1000·(0−1) >> 0), and the
    * DuckDB twins compute the same −1000, so parity holds but the
    * value is meaningless; callers pre-scale/smooth so genuine inputs
    * stay ≥ 1 (every in-repo caller does). The shared kernel of the
    * unigram code-length score (q95) and skip-gram PMI (q102). */
  def log2Mills(q: Column): Column = {
    val e = (length(conv(q.cast("string"), 10, 2)) - 1).cast("long")
    val p = call_function("shiftleft", lit(1L), e.cast("int"))
    // fraction = (1000·(q − 2^e)) div 2^e — as a SHIFT, since the
    // divisor is a power of two and operands are non-negative (the
    // DSL's `/` is float division; 1000·q bounds inputs at ~2^53)
    lit(1000L) * e +
      call_function("shiftright", lit(1000L) * (q.cast("long") - p),
        e.cast("int"))
  }

  /** Order-aware word n-grams WITH multiplicity, space-joined — the one
    * n-gram constructor (TextQueries' distinct bigrams and the
    * repetition stats both derive from it).
    *
    * Round-14 OPT (guide step-2 per-task work): calls the codegen'd
    * [[wordNGramsKernel]] — the former zip_with fold was a higher-order
    * CodegenFallback interpreted per element on every DSIR / PMI /
    * repetition / cross-entropy / decontam scan. The kernel replicates
    * the old chain bit-for-bit: trim of ASCII spaces only (Spark
    * `trim`), Java-regex `\s+` split at limit −1 (Spark `split`), drop
    * of "" phantoms (`array_remove`), then the sliding space-join the
    * zip_with fold produced. NULL text still yields NULL. */
  def wordNGrams(c: Column, n: Int): Column = {
    require(n >= 1, s"n=$n must be >= 1")
    column(StaticInvoke(TextFunctions.getClass,
      ArrayType(StringType, containsNull = false), "wordNGramsKernel",
      Seq(expression(c), Literal(n)), Seq(StringType, IntegerType),
      returnNullable = false))
  }

  private val NGramWsRe = java.util.regex.Pattern.compile("\\s+")

  /** Codegen-callable kernel of [[wordNGrams]]. */
  def wordNGramsKernel(
      text: org.apache.spark.unsafe.types.UTF8String,
      n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val s0 = text.toString
    // Spark trim(): ASCII space (0x20) only — NOT java trim/strip
    var b = 0; var e = s0.length
    while (b < e && s0.charAt(b) == ' ') b += 1
    while (e > b && s0.charAt(e - 1) == ' ') e -= 1
    val toks = NGramWsRe.split(s0.substring(b, e), -1).filter(_.nonEmpty)
    val len = math.max(toks.length - (n - 1), 0)
    val out = new Array[Any](len)
    var i = 0
    while (i < len) {
      val sb = new java.lang.StringBuilder(toks(i))
      var k = 1
      while (k < n) { sb.append(' '); sb.append(toks(i + k)); k += 1 }
      out(i) = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Distinct lowercase token array (sorted — canonical form; no ""
    * phantom, same round-10 migration as [[tokens]]). `sort_array`,
    * not `array_sort`: the latter's DEFAULT comparator still desugars
    * to a lambdafunction (a higher-order CodegenFallback), while
    * sort_array is the plain codegen'd ascending sort — identical
    * order on distinct non-null strings. */
  def tokenSetSorted(c: Column): Column =
    sort_array(array_remove(array_distinct(split(lower(trim(c)), "\\s+")), ""))

  /** Whitespace token count (0 for empty text; the guard also keeps
    * the pre-migration NULL behavior byte-identical — size(NULL) is
    * conf-dependent, so don't let the migration touch that branch). */
  def tokenCount(c: Column): Column =
    // NULL text counts as 0 tokens, NOT the -1 that size(NULL) yields:
    // a -1 silently corrupts every running token sum (sequence packing,
    // mixture budgets), and the DuckDB twin's CASE mirrors the same
    // null branch — edit both together or neither.
    when(c.isNull || length(trim(c)) === 0, lit(0L))
      .otherwise(size(tokens(c)).cast("long"))

  /** BPE-ish subword count: word-pieces + digits + punctuation runs,
    * approximating a tokenizer's token count without a vocab. */
  def subwordCount(c: Column): Column =
    size(filter(
      split(c,
        "(?<=[a-z])(?=[A-Z])|(?<=[A-Za-z])(?=[0-9])|(?<=[0-9])(?=[A-Za-z])" +
          "|\\s+|(?=[^A-Za-z0-9\\s])|(?<=[^A-Za-z0-9\\s])"),
      t => length(t) > 0)).cast("long")

  /** Stopword hit count over a lowercase token array. */
  def stopwordHits(toks: Column, stopwords: Seq[String]): Column =
    size(filter(toks, t => lower(t).isin(stopwords: _*)))

  /** n-character-gram count of normalized text (rolling windows). */
  def charNgramCount(c: Column, n: Int): Column =
    greatest(length(c) - lit(n - 1), lit(0)).cast("long")

  /** Document fingerprint: md5 of the canonical token-set form — a
    * deterministic rolling-hash substitute that any engine reproduces. */
  def fingerprint(c: Column): Column =
    md5(concat_ws(" ", tokenSetSorted(c)))

  /** Exact-content key for hash dedup: md5 of lowercased trimmed text. */
  def contentKey(c: Column): Column = md5(lower(trim(c)))

  /** The one LSH geometry: [[LshBands]] bands of [[LshRowsPerBand]]
    * MinHash rows each (8 seeds). Every banding consumer (the q35
    * family, the near-dup pipeline, q109's against-corpus dedup and
    * `Incremental.corpusGate`) and every DuckDB band twin uses it. */
  val LshBands = 2
  val LshRowsPerBand = 4

  /** The LSH band signatures of `c` as one array column, position = band
    * number: band b is the `TextHash.minhashBand` string over seeds
    * [b·[[LshRowsPerBand]], (b+1)·[[LshRowsPerBand]]). Equal band string
    * at the same position => candidate duplicate pair. Every banding
    * consumer builds its bands here, so build and probe sides agree by
    * construction. */
  def minhashBands(c: Column): Column =
    array((0 until LshBands).map { b =>
      TextHash.minhashBand(c, (b * LshRowsPerBand) until ((b + 1) * LshRowsPerBand))
    }: _*)

  /** SimHash of `bits` bits as a bigint (bit i set iff weight_i > 0).
    * Backed by the single-pass TextHash expression (one md5 per token
    * instead of one per token per bit). */
  def simhash(c: Column, bits: Int = 16): Column = TextHash.simhash(c, bits)

  /** Quality score in integer mills (0..1000): rewards mid-length docs,
    * penalizes very short text and low alphabetic ratio. Deterministic
    * integer arithmetic only. */
  def qualityScoreMills(text: Column): Column = {
    // long lanes: length() is IntegerType and alpha * 1000 wraps int32
    // past ~2.1M alphabetic chars (a few-MB crawl doc) — the DuckDB
    // twin computes in BIGINT, so an int lane here would silently
    // break parity exactly on large documents
    val len      = length(text).cast("long")
    val alpha    = length(regexp_replace(text, "[^A-Za-z]", "")).cast("long")
    val toksN    = tokenCount(text)
    val lenScore = least(len, lit(400L)) * 1000L / lit(400L) // 0..1000
    val alphaScore = when(len > 0, alpha * 1000L / len).otherwise(lit(0L))
    val tokScore = least(toksN, lit(50L)) * 1000L / lit(50L)
    floor((lenScore + alphaScore + tokScore) / 3).cast("long")
  }

  /** PII patterns (shared with q73's oracle SQL — interpolate THESE,
    * never hand-copy). RE2-safe (no lookaround, no backreference) so
    * the DuckDB twin matches Spark's Java regex exactly. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\+?\\d[\\d\\- ]{6,}\\d"

  /** PII scrub for training text — replace emails, then IPv4s, then
    * phone-number runs with typed placeholder tokens. Order is part of
    * the contract: an email's local part can contain digits and an
    * IPv4 is a digit run, so each later pattern sees the earlier
    * replacements. Pure codegen'd projection (no UDF). Placeholders
    * carry no digits/@, so no pattern can re-match a replacement. */
  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Match counts for each PII class, in scrub order (the number of
    * replacements `scrubPii` performs). Group 0 = whole match. */
  def piiCounts(c: Column): Seq[Column] = {
    val afterEmail = regexp_replace(c, EmailRe, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, Ipv4Re, "<IP>")
    Seq(
      size(regexp_extract_all(c, lit(EmailRe), lit(0))).cast("long"),
      size(regexp_extract_all(afterEmail, lit(Ipv4Re), lit(0))).cast("long"),
      size(regexp_extract_all(afterIp, lit(PhoneRe), lit(0))).cast("long"))
  }

  /** Language-ID heuristic: score per language by marker-token hits,
    * highest wins (ties broken by language code). Works on any corpus as
    * a deterministic n-gram/stopword heuristic; marker lists are
    * caller-supplied (broadcast-sized). */
  def langIdHeuristic(toks: Column, markers: Map[String, Seq[String]]): Column = {
    require(markers.nonEmpty, "langIdHeuristic needs at least one language")
    // score(lang) = number of tokens that are in the lang's marker list
    val scored = markers.toSeq.sortBy(_._1).map { case (lang, words) =>
      val hits = size(filter(toks, t => t.isin(words: _*)))
      struct(hits.as("hits"), lit(lang).as("lang"))
    }
    // argmax by (hits, then lexicographically-last lang for stability).
    // greatest() demands >= 2 args — a single-language screen is valid,
    // its sole candidate IS the max
    val best = if (scored.size == 1) scored.head else greatest(scored: _*)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }
}
