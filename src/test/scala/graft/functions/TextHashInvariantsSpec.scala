package graft.functions

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the hash-based text kernels. All three operate on the
  * canonical TOKEN SET, so permuting or duplicating tokens must never
  * change a signature — that is exactly what makes LSH banding and
  * simhash bucketing sound as dedup block keys.
  */
class TextHashInvariantsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val texts = Seq(
    "the quick brown fox",
    "fox brown quick the",              // permutation
    "the the quick quick brown fox fox" // duplication
  )

  test("simhash and minhash are token-SET functions (permutation/duplication invariant)") {
    val df = texts.toDF("text").select(
      TextFunctions.simhash(col("text"), 16).as("sh"),
      TextHash.minhashSignature(col("text"), 0 until 8).as("mh"))
    val rows = df.collect()
    assert(rows.map(_.getLong(0)).distinct.length == 1, "simhash varied")
    assert(rows.map(_.getSeq[String](1)).distinct.length == 1, "minhash varied")
  }

  test("simhash stays within its bit range for varied inputs") {
    val probe = Seq("a", "a b c", "z y x w v", "", "  ", "Ä ö ü ß",
      "1 2 3 4 5 6 7 8 9 10", "lorem ipsum dolor sit amet")
    for (bits <- Seq(1, 8, 16, 32)) {
      val vals = probe.toDF("text")
        .select(TextFunctions.simhash(col("text"), bits).as("s"))
        .as[Long].collect()
      assert(vals.forall(v => v >= 0 && v < (1L << bits)),
        s"bits=$bits out of range: ${vals.mkString(",")}")
    }
  }

  test("minhash band equality follows signature-slice equality") {
    val df = Seq("green tea extract", "extract tea green", "black tea")
      .toDF("text").select(
        col("text"),
        TextHash.minhashBand(col("text"), 0 until 4).as("band"),
        TextHash.minhashSignature(col("text"), 0 until 4).as("sig"))
    val rows = df.collect().map(r =>
      (r.getString(0), r.getString(1), r.getSeq[String](2)))
    val byText = rows.map(r => r._1 -> (r._2, r._3)).toMap
    assert(byText("green tea extract")._1 == byText("extract tea green")._1)
    assert(byText("green tea extract")._1 != byText("black tea")._1)
    // band string is a pure function of the signature slice
    rows.groupBy(_._3).foreach { case (_, grp) =>
      assert(grp.map(_._2).distinct.length == 1)
    }
  }

  test("rolling fingerprint: trim-invariant, content-sensitive") {
    val df = Seq(("  abc  ", "abc", "abd")).toDF("a", "b", "c").select(
      TextHash.rollingFingerprint(col("a")).as("fa"),
      TextHash.rollingFingerprint(col("b")).as("fb"),
      TextHash.rollingFingerprint(col("c")).as("fc"))
    val r = df.as[(Long, Long, Long)].head()
    assert(r._1 == r._2, "trim variance")
    assert(r._2 != r._3, "distinct content collided (1-char delta)")
  }

  test("rademacher bucket: pure function of the quantized vector, in range") {
    val vecs = Seq(
      Array.fill(8)(0.5f), Array.fill(8)(0.5f),      // identical -> same bucket
      Array.tabulate(8)(i => if (i % 2 == 0) 1f else -1f))
    val df = vecs.map(Tuple1(_)).toDF("v").select(
      VectorFunctions.rademacherLshBucket(
        VectorFunctions.quantize(col("v")), nPlanes = 4, dim = 8).as("b"))
    val bs = df.as[Long].collect()
    assert(bs(0) == bs(1))
    assert(bs.forall(b => b >= 0 && b < 16))
  }
}
