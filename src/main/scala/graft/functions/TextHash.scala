package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, IntegerType, LongType,
  StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass MinHash / SimHash kernels.
  *
  * A composable column form (one MinHash per salt, one SimHash
  * bit-weight per bit) would re-tokenize and re-hash the document for
  * every salt/bit — 8 salts means 8 tokenizations and 8·|tokens| md5
  * calls, all in interpreted higher-order functions. These kernels
  * tokenize once, hash each token once per salt (minhash) or once total
  * (simhash), and stay inside whole-stage codegen: each is a static
  * method that Spark's `StaticInvoke` calls, its constant arguments
  * passed as value literals.
  *
  * Value parity is exact: identical tokenization (trim → lower →
  * `\s+`-split → drop empties → distinct, the round-10 migrated rule
  * shared with `TextFunctions.tokens` and every `list_filter`ed
  * DuckDB twin), identical md5-hex strings, so the q33-q35 oracles
  * replay these signatures verbatim.
  */
object TextHash {

  /** Per-thread reusable digest: `MessageDigest.getInstance` does a JCA
    * provider lookup + allocation per call, which dominated the kernel
    * at one-call-per-token-per-seed rates (round-13 profile). The
    * instance is stateful but `digest()` resets it, so thread-local
    * reuse is exact. */
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val HexChars = "0123456789abcdef".toCharArray

  /** Lowercase-hex of a 16-byte digest via a nibble table — the
    * previous per-byte `f"%02x"` built a java.util.Formatter PER BYTE
    * (~20µs per digest, 30-40× the md5 itself). Byte-identical output. */
  private def hex(d: Array[Byte]): String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  private def md5Hex(s: String): String = {
    val md = mdLocal.get()
    hex(md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }

  /** `\s+` compiled once — String.split("\\s+") recompiles the Pattern
    * on every call (no single-char fast path for a regex), once per ROW
    * in the tokenize kernels. */
  private val WsRe = java.util.regex.Pattern.compile("\\s+")

  /** Tokenization matching `TextFunctions.tokens` (lowercased) +
    * distinct — the round-10 migrated rule: split on \s+, DROP empty
    * elements, so a trailing `\n` or empty text contributes no ""
    * phantom (["foo"] for "foo\n", [] for ""). Must stay in lockstep
    * with the column form AND the DuckDB twins or q33-q35's
    * MinHash/SimHash signatures silently diverge. The space-only
    * manual trim is kept (cheap fast path); the filter makes the
    * broader-whitespace edge cases identical anyway. `toLowerCase()`
    * (default locale) is deliberate: Spark's UTF8String.toLowerCase
    * delegates to exactly that for non-ASCII. */
  private def tokensOf(s: String): Array[String] = {
    var b = 0; var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    WsRe.split(s.substring(b, e).toLowerCase, -1).distinct
      .filter(_.nonEmpty)
  }

  /** Kernel: min(md5(tok + "#" + seed)) per seed, one tokenization.
    *
    * Constant-factor shape (round 13): token bytes are encoded once and
    * fed to the digest via update(tok)+update(salt) — UTF-8 of a
    * concatenation equals the concatenation of UTF-8, so the digest is
    * the byte-identical md5(tok + salt); the per-seed minimum compares
    * RAW digests (unsigned bytewise — the same total order as the hex
    * strings, hex being monotone per nibble) and only the winning
    * digest is hex-formatted. Values are unchanged; the hex formatting
    * and string-concat work drops from O(tokens·seeds) to O(seeds). */
  def minhashKernel(text: UTF8String, seeds: ArrayData): ArrayData = {
    val toks = tokensOf(text.toString)
    val md = mdLocal.get()
    val tokBytes = new Array[Array[Byte]](toks.length)
    var j = 0
    while (j < toks.length) {
      tokBytes(j) = toks(j).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      j += 1
    }
    val out = new Array[AnyRef](seeds.numElements())
    var i = 0
    while (i < out.length) {
      val salt = ("#" + seeds.getInt(i))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var best: Array[Byte] = null
      var k = 0
      while (k < tokBytes.length) {
        md.update(tokBytes(k))
        md.update(salt)
        val h = md.digest()
        if (best == null || java.util.Arrays.compareUnsigned(h, best) < 0)
          best = h
        k += 1
      }
      out(i) = UTF8String.fromString(if (best == null) "" else hex(best))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Parity of the hex CHAR for each nibble value ('0'..'9','a'..'f' —
    * note 'a' (97) is odd for nibble 10): +1 where the char is odd,
    * −1 otherwise. Lets simhash read digest bytes directly instead of
    * formatting 32 hex chars per token. */
  private val NibbleCharParity: Array[Int] =
    "0123456789abcdef".toCharArray.map(c => if ((c & 1) == 1) 1 else -1)

  /** Kernel: SimHash of `bits` bits; one md5 per token, parity of hex
    * char i decides bit i's ±1 weight (computed from the raw digest
    * nibble — identical to the former hex-string form, cheaper). */
  def simhashKernel(text: UTF8String, bits: Int): Long = {
    val toks = tokensOf(text.toString)
    val md = mdLocal.get()
    val weights = new Array[Int](bits)
    var j = 0
    while (j < toks.length) {
      val h = md.digest(
        toks(j).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var i = 0
      while (i < bits) {
        // hex char i is the high nibble of byte i/2 for even i, low for odd
        val b = h(i >> 1)
        val nib = if ((i & 1) == 0) (b >> 4) & 0xf else b & 0xf
        weights(i) += NibbleCharParity(nib)
        i += 1
      }
      j += 1
    }
    var sig = 0L
    var i = 0
    while (i < bits) {
      if (weights(i) > 0) sig |= (1L << i)
      i += 1
    }
    sig
  }

  /** Codegen-callable kernel: the per-gram hash bucket of every word
    * n-gram of `text`, in order, WITH multiplicity — one tokenization
    * and one md5 per gram, no hex formatting. Replicates exactly the
    * former chain `conv(substring(md5(concat(gram, salt)), 1, 15), 16,
    * 10) % buckets` over `explode(wordNGrams(text, n))`:
    * tokenization is the wordNGrams rule (ASCII-space trim, `\s+`
    * split at limit −1, "" phantoms dropped — NOT distinct, NOT
    * lowercased), the gram is the space-join of n consecutive tokens
    * (fed to the digest piecewise — UTF-8 of a concatenation is the
    * concatenation of UTF-8), and the first 15 hex chars of the digest
    * are the high 60 bits of its first 8 bytes, i.e.
    * (big-endian long >>> 4), always non-negative, so the `%` is the
    * same truncated modulus Spark computes. */
  def gramBucketsKernel(text: UTF8String, n: Int, salt: Array[Byte],
      buckets: Int): ArrayData = {
    val s0 = text.toString
    var b = 0; var e = s0.length
    while (b < e && s0.charAt(b) == ' ') b += 1
    while (e > b && s0.charAt(e - 1) == ' ') e -= 1
    val toks = WsRe.split(s0.substring(b, e), -1).filter(_.nonEmpty)
    val len = math.max(toks.length - (n - 1), 0)
    val tokBytes = new Array[Array[Byte]](toks.length)
    var j = 0
    while (j < toks.length) {
      tokBytes(j) = toks(j).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      j += 1
    }
    val md = mdLocal.get()
    val out = new Array[Any](len)
    var i = 0
    while (i < len) {
      md.update(tokBytes(i))
      var k = 1
      while (k < n) { md.update(' '.toByte); md.update(tokBytes(i + k)); k += 1 }
      md.update(salt)
      val d = md.digest()
      var v = 0L
      var q = 0
      while (q < 8) { v = (v << 8) | (d(q) & 0xffL); q += 1 }
      out(i) = java.lang.Long.valueOf((v >>> 4) % buckets)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Per-gram hash buckets of the word n-grams of `c` (with
    * multiplicity, in order) — the DSIR feature-hash projection. */
  def gramBuckets(c: Column, n: Int, salt: String, buckets: Int): Column = {
    require(n >= 1, s"n=$n must be >= 1")
    require(buckets >= 1, s"buckets=$buckets must be >= 1")
    column(StaticInvoke(TextHash.getClass, ArrayType(LongType, containsNull = false),
      "gramBucketsKernel",
      Seq(expression(c), Literal(n),
        Literal(salt.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
        Literal(buckets)),
      Seq(StringType, IntegerType, BinaryType, IntegerType),
      returnNullable = false))
  }

  /** Kernel: Rabin-Karp polynomial rolling hash of the whole normalized
    * text (base 257 over the Mersenne prime 2^61-1). The window-shift
    * property (hash of s[1..] derivable from hash of s in O(1)) is what
    * makes the same kernel usable for streaming chunk fingerprints. */
  private final val MersenneM = (1L << 61) - 1

  /** (a*b) mod 2^61-1 for 0 <= a,b < M: 2^64 ≡ 8 (mod M), so the 128-bit
    * product hi·2^64 + lo reduces to hi·8 + (lo & M) + (lo >>> 61). */
  private def mulmodM(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    var r = (lo & MersenneM) + (lo >>> 61) + (hi << 3)
    while (r >= MersenneM) r -= MersenneM
    r
  }

  def rollingHashKernel(text: UTF8String): Long = {
    val s = text.toString.trim
    var h = 0L
    var i = 0
    while (i < s.length) {
      h = mulmodM(h, 257L) + s.charAt(i).toLong
      if (h >= MersenneM) h -= MersenneM
      i += 1
    }
    h
  }

  /** SQL: `rolling_fingerprint(text)` → Rabin-Karp rolling fingerprint
    * of the trimmed text as bigint. */
  def rollingFingerprintExpr(t: Expression): Expression =
    StaticInvoke(TextHash.getClass, LongType, "rollingHashKernel", Seq(t),
      Seq(StringType), returnNullable = false)

  def rollingFingerprint(c: Column): Column =
    column(rollingFingerprintExpr(expression(c)))

  /** SQL: `minhash_sig(text[, n])` → array of min-hashes for `seeds`,
    * in order. The seeds travel as an int-array value literal (printed
    * `[0,1,…]` in the plan), so two equal calls compare equal. */
  def minhashSignatureExpr(t: Expression, seeds: Seq[Int]): Expression = {
    // empty seeds would make every band the identical "" (the
    // element_at(sig, 1) null-band guard falls through on an empty
    // array) and bucket the ENTIRE corpus into one LSH band — the
    // classic zero-rows-per-band integer-division mistake; fail at PLAN
    // time like simhash's bits check
    require(seeds.nonEmpty, "minhash signature needs at least one seed")
    StaticInvoke(TextHash.getClass, ArrayType(StringType, containsNull = false),
      "minhashKernel",
      Seq(t, Literal(new GenericArrayData(seeds.toArray),
        ArrayType(IntegerType, containsNull = false))),
      Seq(StringType, ArrayType(IntegerType)), returnNullable = false)
  }

  /** SQL: `simhash(text[, bits])` → SimHash as a bigint of `bits` bits. */
  def simhashExpr(t: Expression, bits: Int): Expression = {
    // md5 hex has 32 chars — one parity bit each; fail at PLAN time,
    // not with an index error mid-job in generated code
    require(bits >= 1 && bits <= 32, s"bits=$bits must be in 1..32")
    StaticInvoke(TextHash.getClass, LongType, "simhashKernel",
      Seq(t, Literal(bits)), Seq(StringType, IntegerType), returnNullable = false)
  }

  /** Array of min-hashes for `seeds`, in order. */
  def minhashSignature(c: Column, seeds: Seq[Int]): Column =
    column(minhashSignatureExpr(expression(c), seeds))

  /** SimHash as a bigint of `bits` bits. */
  def simhash(c: Column, bits: Int = 16): Column =
    column(simhashExpr(expression(c), bits))

  /** One LSH band string: the `seeds` min-hashes joined with '|' —
    * NULL for a token-less document. An empty token set min-hashes to
    * "" per seed, and a literal "||…" band key would bucket every
    * token-less doc together and pair them all, while the DuckDB
    * twins (which build bands from unnested token rows) never
    * materialize such docs at all. A null key drops the doc at every
    * consumer (cappedBucketPairs' null-key guard; band equi-joins
    * never match NULL), in lockstep with the twins; exact-duplicate
    * detection of empty docs still flows through the content-key
    * path. */
  def minhashBand(c: Column, seeds: Seq[Int]): Column = {
    import org.apache.spark.sql.functions.{array_join, element_at, lit, when}
    val sig = minhashSignature(c, seeds)
    when(element_at(sig, 1) === lit(""), lit(null).cast("string"))
      .otherwise(array_join(sig, "|"))
  }
}
