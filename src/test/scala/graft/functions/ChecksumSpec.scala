package graft.functions

import graft.SparkTestSession
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Luhn validator: known-valid/invalid card numbers, non-digit and
  * empty rejection, check-digit closure (exactly one of the ten final
  * digits validates any prefix), and the SQL surface registration. */
class ChecksumSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def luhn(s: String) = Checksum.luhnKernel(UTF8String.fromString(s))

  test("known Luhn-valid and -invalid numbers") {
    // canonical test PANs (public ISO/IEC 7812 examples)
    assert(luhn("79927398713"))
    assert(luhn("4532015112830366"))
    assert(luhn("4111111111111111"))
    assert(!luhn("79927398710"))
    assert(!luhn("4111111111111112"))
    // any non-digit or empty input reads as not-a-card, never throws
    assert(!luhn(""))
    assert(!luhn("4111-1111-1111-1111"))
    assert(!luhn("abc"))
  }

  test("exactly one check digit in 0..9 validates any prefix") {
    for (prefix <- Seq("401288888888188", "510510510510510", "12345")) {
      val valid = (0 to 9).count(d => luhn(prefix + d))
      assert(valid == 1, s"prefix $prefix validated $valid check digits")
    }
  }

  test("luhnValid column matches the kernel and stays codegen'd") {
    // repartition blocks ConvertToLocalRelation so the projection
    // actually executes (and its codegen shape is observable)
    val df = Seq("79927398713", "79927398710", "4532015112830366", "x")
      .toDF("s").repartition(1)
    val out = df.select($"s", Checksum.luhnValid($"s").as("ok"))
    assert(out.collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      == Map("79927398713" -> true, "79927398710" -> false,
        "4532015112830366" -> true, "x" -> false))
    // the `*(n)` star prefix marks the whole-stage-codegen region in
    // the AQE plan string — the luhnKernel projection must carry it
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project.*luhnKernel.*"), plan)
  }

}
