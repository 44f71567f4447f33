package graft.functions

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextVectorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("tokenCount / fingerprint / contentKey are deterministic") {
    val df = Seq("the quick brown fox", "fox brown quick the", "").toDF("t")
      .select(
        TextFunctions.tokenCount($"t").as("n"),
        TextFunctions.fingerprint($"t").as("fp"))
    val rows = df.as[(Long, String)].collect()
    assert(rows(0)._1 == 4 && rows(2)._1 == 0)
    assert(rows(0)._2 == rows(1)._2) // order-free canonical fingerprint
  }

  test("tokens: no phantom empty token (round-10 migrated rule)") {
    // the pre-migration rule left a trailing "" for newline/tab-
    // terminated text and tokenCount counted it; pin the new rule on
    // every edge: trailing \n, leading \t, whitespace-only, empty
    val df = Seq("a b\n", "\ta b", "a b", "\n", " ", "")
      .toDF("t")
      .select(TextFunctions.tokens($"t").as("toks"),
        TextFunctions.tokenCount($"t").as("n"))
    val rows = df.as[(Seq[String], Long)].collect()
    assert(rows(0)._1 == Seq("a", "b") && rows(0)._2 == 2L)
    assert(rows(1)._1 == Seq("a", "b") && rows(1)._2 == 2L)
    assert(rows(2)._1 == Seq("a", "b") && rows(2)._2 == 2L)
    assert(rows(3)._1 == Seq.empty && rows(3)._2 == 0L)
    assert(rows(4)._1 == Seq.empty && rows(4)._2 == 0L)
    assert(rows(5)._1 == Seq.empty && rows(5)._2 == 0L)
    // TextHash (the custom-expression tokenizer) migrated in lockstep:
    // a trailing newline must not perturb MinHash signatures
    val sigs = Seq(("x", "foo bar"), ("y", "foo bar\n"))
      .toDF("id", "t")
      .select($"id", TextHash.minhashSignature($"t", Seq(1, 2)).as("sig"))
      .as[(String, Seq[String])].collect().toMap
    assert(sigs("x") == sigs("y"))
  }

  test("quality score rewards longer alphabetic text (bounded 0..1000)") {
    val rows = Seq("x", "a reasonable sentence with several words in it", "")
      .toDF("t").select(TextFunctions.qualityScoreMills($"t").as("q"))
      .as[Long].collect()
    assert(rows.forall(q => q >= 0 && q <= 1000))
    assert(rows(1) > rows(0))
  }

  test("langId heuristic picks marker language, und on no hits") {
    val markers = Map("en" -> Seq("the", "and"), "es" -> Seq("el", "la"))
    val rows = Seq("the cat and dog", "el gato la casa", "zzz qqq")
      .toDF("t")
      .select(TextFunctions.langIdHeuristic(
        TextFunctions.tokens(lower($"t")), markers).as("l"))
      .as[String].collect()
    assert(rows.toSeq == Seq("en", "es", "und"))
  }

  test("quantized cosine ranks identically to double cosine on testdata") {
    val e = spark.read.parquet(s"${graft.SparkTestSession.sfDir}/embeddings.parquet")
      .limit(50)
    val q = e.select($"vec_id".as("qid"), $"embedding".as("qv")).where($"qid" === 0)
    val scored = e.crossJoin(q).where($"vec_id" =!= $"qid")
      .select(
        $"vec_id",
        VectorFunctions.cosine($"embedding", $"qv").as("cos_d"),
        VectorFunctions.cosineSqScaledQ(
          VectorFunctions.quantize($"embedding"),
          VectorFunctions.quantize($"qv")).as("cos_q"))
      .collect()
    val byDouble = scored.sortBy(r => -r.getAs[Double]("cos_d")).map(_.getLong(0)).take(5)
    val byQuant = scored.sortBy(r => -r.getAs[Long]("cos_q")).map(_.getLong(0)).take(5)
    assert(byDouble.toSeq == byQuant.toSeq) // quantization preserves top-k order here
  }

  test("normalizeOffering: variants, punctuation, title-case, idempotent (F1)") {
    val rows = Seq("vit c  serum!!", "organic GREEN tea", "b. lactis culture",
      "b.complex-mix tonic", "d.e.f blend")
      .toDF("t").select(OfferingText.normalizeOffering($"t").as("n"))
      .as[String].collect()
    assert(rows(0) == "Vitamin C Serum")
    assert(rows(1) == "Organic Green Tea")
    assert(rows(2) == "Bifidobacterium Lactis Culture")
    // reference if/elif: the '-' branch wins — dot-parts inside a
    // hyphenated word are NOT individually capitalized...
    assert(rows(3) == "B.complex-Mix Tonic")
    // ...while hyphen-free words do split on '.'
    assert(rows(4) == "D.E.F Blend")
    // idempotence
    val again = rows.toSeq.toDF("t")
      .select(OfferingText.normalizeOffering($"t").as("n")).as[String].collect()
    assert(again.toSeq == rows.toSeq)
  }

  test("semantic guard blocks category mismatches and tiny-length ratios (F7)") {
    import graft.operators.SemanticGuard
    val rows = Seq(
      ("whole milk", "skim milk"),          // same category -> ok
      ("whole milk", "chicken breast"),     // dairy vs meat -> blocked
      ("tea", "a very long unrelated name") // length ratio -> blocked
    ).toDF("a", "b")
      .select(SemanticGuard.isSemanticallyValid($"a", $"b").as("ok"))
      .as[Boolean].collect()
    assert(rows.toSeq == Seq(true, false, false))
  }


  test("batchApprovable: a never-populated ignored flag means NOT ignored") {
    import graft.operators.SemanticGuard
    val reviews = Seq(
      (1L, "whole milk", "skim milk", 92.0, Option.empty[Boolean],
        Option.empty[Boolean]),            // NULL ignored -> still approvable
      (2L, "whole milk", "skim milk", 92.0, Option.empty[Boolean],
        Some(true)),                       // explicitly ignored -> dropped
      (3L, "whole milk", "skim milk", 99.0, Option.empty[Boolean],
        Option.empty[Boolean]))            // above AutoResolve -> dropped
      .toDF("review_id", "item_name", "suggested_title", "score",
        "approved", "ignored")
    val got = SemanticGuard.batchApprovable(reviews)
      .select("review_id").as[Long].collect().toSeq
    assert(got == Seq(1L)) // !NULL would be NULL and silently drop row 1
  }

  // ---- round-14 codegen-kernel parity: each new Catalyst kernel must
  // reproduce the interpreted higher-order column form it replaced,
  // bit-for-bit, on randomized inputs plus the edge cases the old
  // forms defined (NULL vector -> bucket 0, zip_with length padding).

  test("rademacherLshBucket == per-plane aggregate/zip_with fold (parity)") {
    val nPlanes = 12; val dim = 16
    val rnd = new scala.util.Random(42)
    val vecs = (0 until 200).map(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextLong(2000001L) - 1000000L))) ++
      Seq((200L, Seq.fill(dim - 1)(1L)),        // short vector
          (201L, Seq.fill(dim + 3)(-7L)),       // long vector
          (202L, Seq.empty[Long]))              // empty vector
    val df = vecs.toDF("id", "qv")
    // the OLD interpreted form, inlined verbatim
    val oldBucket = (0 until nPlanes).map { p =>
      val signs = (0 until dim).map(d =>
        VectorFunctions.rademacherSign(p, d).toLong)
      val proj = aggregate(
        zip_with($"qv", typedLit(signs), (x, w) => x * w),
        lit(0L), (acc, v) => acc + v)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    val rows = df.select($"id",
        VectorFunctions.rademacherLshBucket($"qv", nPlanes, dim).as("newb"),
        oldBucket.as("oldb"))
      .as[(Long, Long, Long)].collect()
    rows.foreach { case (id, n, o) => assert(n == o, s"id=$id: $n != $o") }
    // NULL vector: old form collapsed to 0 via otherwise(0) per plane
    val nullRow = Seq((0L, Option.empty[Seq[Long]])).toDF("id", "qv")
      .select(VectorFunctions.rademacherLshBucket($"qv", nPlanes, dim))
      .as[Long].head()
    assert(nullRow == 0L)
  }

  test("arraySubQ == zip_with subtraction incl. length padding (parity)") {
    // quantized-vector domain (|x| <= ~3e9, component*scale): the old
    // ANSI zip_with raises on a Long-overflow subtraction, the kernel
    // wraps — both unreachable from quantize() outputs, so parity is
    // asserted on the reachable domain
    val rnd = new scala.util.Random(7)
    def q() = rnd.nextLong(6000000001L) - 3000000000L
    val pairs = (0 until 100).map { i =>
      val la = rnd.nextInt(8); val lb = if (i % 3 == 0) la else rnd.nextInt(8)
      (Seq.fill(la)(q()), Seq.fill(lb)(q()))
    }
    val df = pairs.toDF("a", "b")
    val rows = df.select(
        VectorFunctions.arraySubQ($"a", $"b").as("newd"),
        zip_with($"a", $"b", (x, y) => x - y).as("oldd"))
      .as[(Seq[Option[Long]], Seq[Option[Long]])].collect()
    rows.foreach { case (n, o) => assert(n == o) }
  }

  test("TextHash.gramBuckets == conv(substring(md5)) chain over wordNGrams (parity)") {
    val buckets = 997
    val rnd = new scala.util.Random(99)
    val words = Seq("the", "fox", "Fox", "über", "日本", "a", "b-2", "", " ")
    val texts = (0 until 150).map(_ =>
      (0 until rnd.nextInt(12)).map(_ => words(rnd.nextInt(words.length)))
        .mkString(" ")) ++ Seq("", "  ", "one", "one two\nthree\t four ")
    val df = texts.toDF("t")
    val oldForm = transform(
      TextFunctions.wordNGrams($"t", 2),
      g => conv(substring(md5(concat(g, lit("#dsir"))), 1, 15), 16, 10)
        .cast("long") % buckets)
    val rows = df.select(
        TextHash.gramBuckets($"t", 2, "#dsir", buckets).as("newb"),
        oldForm.as("oldb"))
      .as[(Seq[Long], Seq[Long])].collect()
    rows.foreach { case (n, o) => assert(n == o) }
  }
}
