package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType,
  LongType}

/** Vector (embedding) column functions for similarity search and
  * embedding-based near-dup detection over `Array[Float]` columns.
  *
  * Two families:
  *  - float/double math (`dot`, `cosine`) for production ranking — pure
  *    higher-order-function expression trees, executed inside codegen;
  *  - quantized integer math (`quantize`, `dotQ`) used by the oracle
  *    harness: floor-scaling each component to a bigint makes every
  *    downstream sum/product exact, so Spark and any ANSI engine agree
  *    bit-for-bit (IEEE double accumulation order would otherwise differ).
  *
  * At 100 TB scale the brute-force variants are the verification
  * baseline; `graft.operators.SimilaritySearch` adds the LSH/IVF-blocked
  * scale path on top of these kernels.
  */
object VectorFunctions {

  /** Sequential-order dot product of two numeric arrays (double). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  /** Squared L2 norm (double). */
  def normSq(a: Column): Column = dot(a, a)

  /** Cosine similarity in double math. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(normSq(a)) * sqrt(normSq(b)))

  /** Quantize a float array to bigints: floor(x * scale). Round-14 OPT:
    * rides the codegen'd [[QuantizeQ]] (bit-identical to the old
    * interpreted `transform(a, x => floor(x.cast(double) * scale)
    * .cast(long))` chain — see [[quantizeKernel]]). */
  def quantize(a: Column, scale: Int = 1000): Column =
    column(QuantizeQ(expression(a), scale))

  /** Exact integer dot product of two quantized (bigint) arrays. */
  def dotQ(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Exact integer squared norm of a quantized array. */
  def normSqQ(a: Column): Column = dotQ(a, a)

  /** Codegen-callable kernel: floor(1e6·sign(d)·d·d / (|a|²·|b|²)) with
    * the exact IEEE op sequence of the equivalent column expression
    * `floor(1000000 * signum(d) * d * d / den)` (left-assoc double
    * chain), so the oracle twin in any ANSI engine matches bit-for-bit. */
  def cosineSqScaledKernel(a: ArrayData, b: ArrayData): Long = {
    // a ragged pair must fail loud: UnsafeArrayData.getLong past
    // numElements has NO bounds check — it would read adjacent buffer
    // memory and silently rank garbage into a KNN top-k
    if (a.numElements() != b.numElements())
      throw new IllegalArgumentException(
        s"vector length mismatch: ${a.numElements()} vs ${b.numElements()}")
    val n = a.numElements()
    var d = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      val x = a.getLong(i); val y = b.getLong(i)
      d += x * y; na += x * x; nb += y * y
      i += 1
    }
    // den as a DOUBLE product, not na*nb in Long: the long product
    // wraps at ~9.2e18 (reachable with unnormalized embeddings —
    // na ≈ 1e12 at dim 128 with components ~100 at scale 1000) and a
    // wrapped-negative den would sign-flip the score and rank a worst
    // match into a top-k. In the non-overflow domain the two forms are
    // bit-identical (na, nb < 2^53 are exact doubles; one correctly
    // rounded multiply == the exact long product's rounding), so the
    // DuckDB twin's BIGINT-product math still matches bit-for-bit;
    // beyond it DuckDB raises on overflow while this stays finite —
    // the accumulators themselves hold to |q_i| ≲ 3e9 (component·scale),
    // far past any real embedding.
    val den = na.toDouble * nb.toDouble
    if (den == 0.0) 0L
    else math.floor(1000000.0 * math.signum(d.toDouble) * d * d / den).toLong
  }

  /** A bigint-vector kernel call: `inputTypes` casts an array<int>
    * argument to array<bigint> and rejects a non-array at analysis. */
  private def vectorKernel(dataType: DataType, kernel: String,
      args: Expression*): Expression =
    StaticInvoke(VectorFunctions.getClass, dataType, kernel, args,
      args.map(_ => ArrayType(LongType)), returnNullable = false)

  /** SQL: `cosine_sq_scaled(qa, qb)` — the kernel stays inside
    * whole-stage codegen (the higher-order-function composition would
    * be interpreted per pair, which dominates KNN/near-dup inner loops). */
  def cosineSqScaledQExpr(a: Expression, b: Expression): Expression =
    vectorKernel(LongType, "cosineSqScaledKernel", a, b)

  /** Deterministic scaled cosine over quantized vectors:
    * floor(1e6 * sign · dotQ² / (|a|² * |b|²)) — all-integer inputs to
    * one IEEE multiply chain + divide + floor, identical across engines.
    * Preserves cosine ordering (squares, sign-corrected). */
  def cosineSqScaledQ(a: Column, b: Column): Column =
    column(cosineSqScaledQExpr(expression(a), expression(b)))

  /** Codegen-callable kernel: exact integer squared L2 of two quantized
    * arrays, Σ(aᵢ−bᵢ)². Replaces the interpreted HOF composition
    * normSqQ(a) + normSqQ(b) − 2·dotQ(a, b) in the PQ hot paths
    * (round-14 OPT, guide step-2 per-task work): the three aggregate()
    * trees were evaluated INTERPRETED once per (row × codebook entry ×
    * subspace). Value-identical even under Long wrap — Σa² + Σb² − 2Σab
    * ≡ Σ(a−b)² is a ring identity, so the two forms agree mod 2⁶⁴. */
  def l2SqQKernel(a: ArrayData, b: ArrayData): Long = {
    if (a.numElements() != b.numElements())
      throw new IllegalArgumentException(
        s"vector length mismatch: ${a.numElements()} vs ${b.numElements()}")
    val n = a.numElements()
    var s = 0L
    var i = 0
    while (i < n) {
      val d = a.getLong(i) - b.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  /** Exact integer squared L2 over quantized vectors (codegen'd). */
  def l2SqQ(a: Column, b: Column): Column =
    column(vectorKernel(LongType, "l2SqQKernel", expression(a), expression(b)))

  /** Codegen-callable kernel twin of [[quantize]]'s HOF body: per
    * element floor(double(x) · scale) → long, null elements preserved.
    * The float→double widen, the single IEEE multiply, floor, and the
    * non-ANSI double→long cast (NaN→0, ±Inf→Long.Min/Max via
    * Double.toLong) replicate the transform() chain bit-for-bit. */
  def quantizeKernel(a: ArrayData, scale: Int, isFloat: Boolean): ArrayData = {
    val n = a.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val d = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        out(i) = java.lang.Long.valueOf(math.floor(d * scale).toLong)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Catalyst expression form of [[quantizeKernel]] — the quantize
    * projection sits on EVERY ANN corpus/query scan, where the
    * interpreted transform() lambda (cast, multiply, floor, cast per
    * element) was measurable per-task work (round-14 OPT). */
  case class QuantizeQ(child: Expression, scale: Int)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    // lazy: child.dataType is only legal after analysis resolves it
    private lazy val isFloat = child.dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, _) => false
      case t => throw new IllegalArgumentException(
        s"quantize expects array<float|double>, got $t")
    }
    override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
      LongType,
      child.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .containsNull)
    override def nullable: Boolean = child.nullable
    override protected def nullSafeEval(a: Any): Any =
      quantizeKernel(a.asInstanceOf[ArrayData], scale, isFloat)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a =>
        s"graft.functions.VectorFunctions.quantizeKernel($a, $scale, $isFloat)")
    override protected def withNewChildInternal(
        newChild: Expression): Expression = copy(child = newChild)
  }

  /** Rademacher (±1) hyperplane sign for plane `p`, dimension `d`:
    * parity of the first hex char of md5("p|d"). Database-friendly
    * random projections (Achlioptas 2003: ±1 entries preserve the JL
    * guarantees of Gaussian planes) with an engine-portable seed — any
    * system with md5 reproduces the exact matrix. */
  def rademacherSign(p: Int, d: Int): Int = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p|$d".getBytes("UTF-8"))
    val firstHexChar = "%02x".format(digest(0)).charAt(0)
    if (firstHexChar.toInt % 2 == 1) 1 else -1
  }

  /** Codegen-callable kernel of [[rademacherLshBucket]]: all `nPlanes`
    * ±1 projections of one vector in a single pass over a flattened
    * sign matrix (plane-major). Replicates the former per-plane
    * `aggregate(zip_with(qv, signs))` HOF trees exactly, edge cases
    * included: zip_with pads a length-mismatched pair with NULLs and
    * the fold then NULLs the projection, whose `when(proj >= 0, bit)
    * .otherwise(0)` contribution collapses to 0 — so ANY length
    * mismatch or NULL element zeroes EVERY plane's bit, i.e. bucket 0.
    * On a Long-overflow projection sum the old ANSI form raises where
    * this wraps — unreachable from quantize() outputs (dim ±1 terms of
    * |component·scale| ≲ 3e9), the only callers. */
  def rademacherBucketKernel(qv: ArrayData, signs: Array[Byte],
      nPlanes: Int, dim: Int): Long = {
    val n = qv.numElements()
    if (n != dim) return 0L
    var d = 0
    while (d < n) {
      if (qv.isNullAt(d)) return 0L
      d += 1
    }
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      val base = p * dim
      var acc = 0L
      d = 0
      while (d < dim) {
        acc += qv.getLong(d) * signs(base + d)
        d += 1
      }
      if (acc >= 0) bucket += (1L << p)
      p += 1
    }
    bucket
  }

  /** Sign-LSH bucket over a QUANTIZED (bigint) vector with Rademacher
    * planes: bit p = [sum_d qv[d]·s(p,d) >= 0]. All-integer math —
    * bit-exact in every engine, unlike float projections whose
    * accumulation order is engine-specific. Round-14 OPT: calls the
    * codegen'd [[rademacherBucketKernel]] — the per-plane interpreted
    * fold was nPlanes·dim lambda evaluations per row on every LSH ANN
    * corpus/query scan. The ±1 sign matrix travels as a binary value
    * literal, one signed byte per entry, which the kernel reads in place
    * (no per-row copy); the coalesce replicates the old column form's
    * NULL-vector edge (NULL proj → every plane's otherwise(0) → bucket
    * 0, never NULL). */
  def rademacherLshBucket(qv: Column, nPlanes: Int, dim: Int): Column = {
    require(nPlanes >= 1 && nPlanes <= 63 && dim >= 1,
      s"nPlanes=$nPlanes must be in 1..63, dim=$dim must be >= 1")
    val signs = Array.tabulate(nPlanes * dim) { i =>
      rademacherSign(i / dim, i % dim).toByte
    }
    coalesce(column(StaticInvoke(VectorFunctions.getClass, LongType,
      "rademacherBucketKernel",
      Seq(expression(qv), Literal(signs), Literal(nPlanes), Literal(dim)),
      Seq(ArrayType(LongType), BinaryType, IntegerType, IntegerType),
      returnNullable = false)), lit(0L))
  }

  /** Codegen-callable kernel: elementwise difference of two quantized
    * (bigint) arrays with `zip_with(a, b, (x, y) => x - y)` semantics —
    * output length is max(len), positions past either input or with a
    * NULL operand yield NULL. On a Long-overflow subtraction the old
    * ANSI form raises where this wraps — unreachable from quantize()
    * outputs (|component·scale| ≲ 3e9), the only callers. */
  def arraySubKernel(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements(); val nb = b.numElements()
    val n = math.max(na, nb)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (i < na && i < nb && !a.isNullAt(i) && !b.isNullAt(i))
        out(i) = java.lang.Long.valueOf(a.getLong(i) - b.getLong(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Elementwise a − b over quantized arrays (codegen'd zip_with twin). */
  def arraySubQ(a: Column, b: Column): Column =
    column(vectorKernel(ArrayType(LongType, containsNull = true), "arraySubKernel",
      expression(a), expression(b)))
}
