package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField,
  StructType}

/** Set-algebra kernels over SORTED string arrays.
  *
  * `size(array_intersect(a, b))` evaluates interpreted and pairwise
  * (O(n·m) UTF8String equality probes per row) — the dominant cost in
  * pairwise Jaccard verification. For the canonical shingle sets the
  * dedup operators produce (sorted + distinct by construction), a
  * merge-scan counts the intersection in O(n+m) inside whole-stage
  * codegen. Value parity with `size(array_intersect)` holds exactly on
  * sorted distinct inputs.
  */
object ArrayOps {

  def sortedIntersectSizeKernel(a: ArrayData, b: ArrayData): Long = {
    var i = 0; var j = 0; var n = 0L
    val la = a.numElements(); val lb = b.numElements()
    while (i < la && j < lb) {
      val x = a.getUTF8String(i); val y = b.getUTF8String(j)
      // null ELEMENTS (sort_array puts them first): a null in both
      // counts once — the same treatment array_intersect gives a null
      // member — instead of NPE-ing in x.compareTo
      if (x == null && y == null) { n += 1; i += 1; j += 1 }
      else if (x == null) i += 1
      else if (y == null) j += 1
      else {
        val c = x.compareTo(y)
        if (c == 0) { n += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
    }
    n
  }

  /** |a ∩ b| for sorted distinct string arrays (bigint). */
  def sortedIntersectSize(a: Column, b: Column): Column =
    column(StaticInvoke(ArrayOps.getClass, LongType, "sortedIntersectSizeKernel",
      Seq(expression(a), expression(b)),
      Seq(ArrayType(StringType), ArrayType(StringType)), returnNullable = false))

  /** Round-14 OPT (guide step-2 per-task work): ordered within-array
    * pair/triple generation for the co-purchase kernels. The former
    * nested transform/slice/flatten HOF trees were CodegenFallback —
    * interpreted per element, with slice() allocating a fresh array per
    * outer element (O(k²)/O(k³) allocations per order) — on a ~10⁶-pair
    * generation that sits inside ALL seven graph-family queries. These
    * kernels emit the identical multiset — every (psᵢ, psⱼ), i<j (and
    * (psᵢ, psⱼ, ps_l), i<j<l) — in one codegen'd call per row.
    * Contract: elements non-null (collect_set output), array sorted by
    * the caller (generation order is positional either way). */
  def orderedPairsKernel(ps: ArrayData): ArrayData = {
    val n = ps.numElements()
    val out = new Array[Any](n * (n - 1) / 2)
    var idx = 0; var i = 0
    while (i < n) {
      val a = ps.getLong(i)
      var j = i + 1
      while (j < n) {
        out(idx) = org.apache.spark.sql.catalyst.InternalRow(a, ps.getLong(j))
        idx += 1; j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def orderedTriplesKernel(ps: ArrayData): ArrayData = {
    val n = ps.numElements()
    val out = new Array[Any](n * (n - 1) * (n - 2) / 6)
    var idx = 0; var i = 0
    while (i < n) {
      val a = ps.getLong(i)
      var j = i + 1
      while (j < n) {
        val b = ps.getLong(j)
        var l = j + 1
        while (l < n) {
          out(idx) = org.apache.spark.sql.catalyst.InternalRow(a, b, ps.getLong(l))
          idx += 1; l += 1
        }
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  private def tuplesOf(ps: Column, kernel: String, names: String*): Column =
    column(StaticInvoke(ArrayOps.getClass,
      ArrayType(StructType(names.map(StructField(_, LongType, nullable = false))),
        containsNull = false),
      kernel, Seq(expression(ps)), Seq(ArrayType(LongType)),
      returnNullable = false))

  /** All (ps[i], ps[j]) with i < j as array<struct<part_a, part_b>>. */
  def orderedPairs(ps: Column): Column =
    tuplesOf(ps, "orderedPairsKernel", "part_a", "part_b")

  /** All i<j<l triples as array<struct<part_a, part_b, part_c>>. */
  def orderedTriples(ps: Column): Column =
    tuplesOf(ps, "orderedTriplesKernel", "part_a", "part_b", "part_c")
}
