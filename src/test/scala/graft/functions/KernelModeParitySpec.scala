package graft.functions

import graft.SparkTestSession
import org.apache.spark.sql.{Column, Row}
import org.scalatest.funsuite.AnyFunSuite

/** Every static-kernel call (`StaticInvoke`) gives the same rows under
  * whole-stage codegen and under the interpreted path, where Spark
  * calls the kernel reflectively. The inputs are seeded random rows
  * over a parquet source, with null rows and, where a kernel defines
  * them, null elements. */
class KernelModeParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Dim = 8

  private lazy val input = {
    val rnd = new scala.util.Random(20261018)
    val words = Vector("tea", "Tea", "organic", "green", "café",
      "café", "日本", "4111111111111111", "79927398713", "a-b",
      "", "x\ty", "über")
    def maybe[T](v: => T): Option[T] =
      if (rnd.nextInt(10) == 0) None else Some(v)
    def text() = maybe((0 until rnd.nextInt(7))
      .map(_ => words(rnd.nextInt(words.size)))
      .mkString(if (rnd.nextBoolean()) " " else "  "))
    // sorted distinct token sets; a null element sorts first, as
    // sort_array puts it
    def tokSet() = maybe {
      val ws = Seq.fill(rnd.nextInt(6))(words(rnd.nextInt(8))).distinct.sorted
        .map(Option(_))
      if (rnd.nextInt(5) == 0) None +: ws else ws
    }
    def vec(n: Int) = Seq.fill(n)(rnd.nextLong(2001L) - 1000L)
    // ragged, with null elements: the edges rademacherBucketKernel and
    // arraySubKernel define
    def ragged() = maybe(vec(Dim - 1 + rnd.nextInt(3)).map(x =>
      if (rnd.nextInt(12) == 0) None else Some(x)))
    val rows = (0 until 300).map { i =>
      (i.toLong, text(), text(), tokSet(), tokSet(),
        maybe(Seq.fill(rnd.nextInt(6))(rnd.nextLong(50L)).distinct.sorted),
        maybe(vec(Dim)), maybe(vec(Dim)), ragged(), ragged())
    }
    val dir = java.nio.file.Files.createTempDirectory("kernel-parity").toString
    rows.toDF("id", "s1", "s2", "tok_a", "tok_b", "ps", "va", "vb", "wa", "wb")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private val calls: Seq[(String, Column)] = Seq(
    "token_set_ratio" -> Similarity.token_set_ratio($"s1", $"s2"),
    "partial_ratio" -> Similarity.partial_ratio($"s1", $"s2"),
    "indel_ratio" -> Similarity.indel_ratio($"s1", $"s2"),
    "luhnValid" -> Checksum.luhnValid($"s1"),
    "nfc_normalize" -> UnicodeNorm.nfc_normalize($"s1"),
    "wordNGrams" -> TextFunctions.wordNGrams($"s1", 2),
    "minhashSignature" -> TextHash.minhashSignature($"s1", Seq(3, 1, 4)),
    "gramBuckets" -> TextHash.gramBuckets($"s1", 2, "#p", 97),
    "rollingFingerprint" -> TextHash.rollingFingerprint($"s1"),
    "simhash" -> TextHash.simhash($"s1", 24),
    "sortedIntersectSize" -> ArrayOps.sortedIntersectSize($"tok_a", $"tok_b"),
    "orderedPairs" -> ArrayOps.orderedPairs($"ps"),
    "orderedTriples" -> ArrayOps.orderedTriples($"ps"),
    "cosineSqScaledQ" -> VectorFunctions.cosineSqScaledQ($"va", $"vb"),
    "l2SqQ" -> VectorFunctions.l2SqQ($"va", $"vb"),
    "rademacherLshBucket" -> VectorFunctions.rademacherLshBucket($"wa", 5, Dim),
    "arraySubQ" -> VectorFunctions.arraySubQ($"wa", $"wb"))

  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** (rows by id, executed plan) of one kernel call. */
  private def run(call: Column): (Seq[Row], String) = {
    val df = input.select($"id", call.as("v"))
    val rows = df.collect().sortBy(_.getLong(0)).toSeq
    (rows, df.queryExecution.executedPlan.toString)
  }

  calls.foreach { case (name, call) =>
    test(s"$name: whole-stage codegen == interpreted") {
      // no silent fallback: a kernel call that fails to compile throws
      val (compiled, plan) = withConf(
          "spark.sql.codegen.wholeStage" -> "true",
          "spark.sql.codegen.fallback" -> "false",
          "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
        run(call)
      }
      assert(plan.contains("*("), s"$name ran outside codegen:\n$plan")
      val (interpreted, _) = withConf(
          "spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        run(call)
      }
      assert(compiled.size == 300)
      assert(compiled.exists(!_.isNullAt(1)), s"$name: every value is null")
      compiled.zip(interpreted).foreach { case (c, i) =>
        assert(c == i, s"$name: codegen $c != interpreted $i")
      }
    }
  }
}
