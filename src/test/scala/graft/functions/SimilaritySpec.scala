package graft.functions

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {

  test("indel distance basics") {
    assert(Similarity.indelDistance("", "") == 0)
    assert(Similarity.indelDistance("abc", "abc") == 0)
    assert(Similarity.indelDistance("abc", "abd") == 2)  // no substitution
    assert(Similarity.indelDistance("abc", "ab") == 1)
  }

  test("token_set_ratio: reordered tokens score 100") {
    assert(Similarity.tokenSetRatio("organic green tea", "green tea organic") == 100.0)
  }

  test("token_set_ratio: subset relationship scores high") {
    val s = Similarity.tokenSetRatio("green tea", "organic green tea extract")
    assert(s == 100.0) // pure subset: intersection == one side
  }

  test("partial_ratio finds embedded matches") {
    assert(Similarity.partialRatio("tea", "greentea") == 100.0)
  }

  test("property: scores bounded in [0,100], reflexivity = 100, symmetry") {
    val rnd = new scala.util.Random(42)
    def phrase(): String =
      Seq.fill(1 + rnd.nextInt(4))(
        rnd.alphanumeric.filter(_.isLower).take(1 + rnd.nextInt(8)).mkString)
        .mkString(" ")
    (1 to 200).foreach { _ =>
      val a = phrase(); val b = phrase()
      val s = Similarity.tokenSetRatio(a, b)
      assert(s >= 0.0 && s <= 100.0, s"out of range for ($a, $b)")
      assert(s == Similarity.tokenSetRatio(b, a), s"asymmetric for ($a, $b)")
      assert(Similarity.tokenSetRatio(a, a) == 100.0, s"not reflexive for $a")
    }
  }

  test("expressions evaluate inside a DataFrame plan and SQL") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val df = Seq(("organic tea", "tea organic"), ("milk", "almond drink")).toDF("a", "b")
    val scores = df.select(Similarity.token_set_ratio($"a", $"b").as("s"))
      .as[Double].collect()
    assert(scores(0) == 100.0 && scores(1) < 50.0)
    graft.plans.GraftExtensions.registerInto(spark)
    val sqlScore = spark.sql(
      "SELECT token_set_ratio('organic tea', 'tea organic') s").as[Double].head()
    assert(sqlScore == 100.0)
    val pr = spark.sql("SELECT partial_ratio('tea', 'green tea co') s").as[Double].head()
    assert(pr == 100.0)
  }

  test("levRatio is an integer 0..100 consistent with levenshtein") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val r = Seq(("kitten", "sitting")).toDF("a", "b")
      .select(Similarity.levRatio($"a", $"b").as("r")).as[Long].head()
    assert(r == 100L * (7 - 3) / 7)
  }
}
