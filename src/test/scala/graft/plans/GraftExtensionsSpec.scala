package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A session built ONLY with the extensions class (no Scala-side
  * registration calls) must expose the graft functions to SQL text. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("spark.sql.extensions wires the function family into plain SQL") {
    // getOrCreate returns the shared suite session if one is alive and
    // ignores withExtensions — register into the live registry then
    // (exactly what spark.sql.extensions does at session build time).
    // Tables.configure even here: if this suite builds the forked JVM's
    // first session, the JVM-wide settings it fixes (the codegen cache
    // size) must be the ones every other suite runs under
    val spark = graft.Tables.configure(
        SparkSession.builder().appName("graft-ext-test"), "2")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    org.apache.spark.sql.GraftColumnBridge.registerInto(ext, spark)
    try {
      import spark.implicits._
      val r = spark.sql(
        """SELECT token_set_ratio('organic tea', 'tea organic') AS tsr,
          |       indel_ratio('abc', 'abc') AS ir,
          |       partial_ratio('tea', 'green tea') AS pr,
          |       cosine_sq_scaled(array(1L, 0L), array(1L, 0L)) AS cs,
          |       simhash('the quick fox') AS sh""".stripMargin)
        .as[(Double, Double, Double, Long, Long)].head()
      assert(r._1 == 100.0 && r._2 == 100.0 && r._3 == 100.0)
      assert(r._4 == 1000000L)
      assert(r._5 >= 0L && r._5 < (1L << 16))
      val r2 = spark.sql(
        """SELECT simhash('the quick fox', 24) AS sh24,
          |       size(minhash_sig('the quick fox')) AS n8,
          |       size(minhash_sig('the quick fox', 4)) AS n4,
          |       rolling_fingerprint(' abc ') = rolling_fingerprint('abc') AS rfeq""".stripMargin)
        .as[(Long, Int, Int, Boolean)].head()
      assert(r2._1 >= 0L && r2._1 < (1L << 24))
      assert(r2._2 == 8 && r2._3 == 4 && r2._4)
      // NFC from SQL text: decomposed e+U+0301 composes to U+00E9
      val nfc = spark.sql("SELECT nfc_normalize('cafe\u0301') AS n")
        .as[String].head()
      assert(nfc == "caf\u00e9")
      // the minhash_sig SQL surface must agree with the column API
      val sqlSig = spark.sql("SELECT minhash_sig('green tea', 4) AS s")
        .as[Seq[String]].head()
      val colSig = spark.range(1)
        .select(graft.functions.TextHash.minhashSignature(
          org.apache.spark.sql.functions.lit("green tea"), 0 until 4).as("s"))
        .as[Seq[String]].head()
      assert(sqlSig == colSig)
      // round-8 surface: URL canonicalization + z-order from SQL text,
      // each agreeing with the Column API it reuses
      val r3 = spark.sql(
        """SELECT url_canonicalize(' HTTPS://WWW.Ex.COM/A?utm_a=1&q=2#f ') AS u,
          |       url_host(url_canonicalize('https://www.ex.com/a/b')) AS h,
          |       zorder2(5, 3, 3) AS z3,
          |       zorder2(5, 3) AS z16""".stripMargin)
        .as[(String, String, Long, Long)].head()
      assert(r3._1 == "https://ex.com/a?q=2")
      assert(r3._2 == "ex.com")
      assert(r3._3 == 27L && r3._4 == 27L)
      intercept[Exception] {
        spark.sql("SELECT zorder2(1, 2, 99)").collect()
      }
      // round-8b surface: Luhn check-digit validation from SQL text
      val luhn = spark.sql(
        """SELECT luhn_valid('79927398713') AS a,
          |       luhn_valid('79927398710') AS b,
          |       luhn_valid('') AS c""".stripMargin)
        .as[(Boolean, Boolean, Boolean)].head()
      assert(luhn._1 && !luhn._2 && !luhn._3)
      // content_key / token_count from SQL text, agreeing with the
      // Column-API contracts (q29's md5(lower(trim)) key, q30's count)
      val r4 = spark.sql(
        """SELECT content_key('  The Quick FOX ') AS ck,
          |       content_key('the quick fox') AS ck2,
          |       token_count('  a  b   c ') AS tc,
          |       token_count('   ') AS tc0,
          |       token_count(CAST(NULL AS STRING)) AS tcn""".stripMargin)
        .as[(String, String, Long, Long, Long)].head()
      assert(r4._1 == r4._2, "content_key must normalize case/whitespace")
      assert(r4._3 == 3L && r4._4 == 0L)
      // NULL text is 0 tokens — the TextFunctions.tokenCount contract;
      // a NULL here would corrupt running token sums built in SQL
      assert(r4._5 == 0L, "token_count(NULL) must be 0, not NULL")
      val ckCol = spark.range(1)
        .select(graft.functions.TextFunctions.contentKey(
          org.apache.spark.sql.functions.lit("the quick fox")).as("k"))
        .as[String].head()
      assert(r4._2 == ckCol, "SQL content_key must equal the Column API")
      // fixed-arity builders reject wrong arity with a DESCRIPTIVE
      // error (not a raw IndexOutOfBounds) and never silently drop args
      val tooFew = intercept[Exception] {
        spark.sql("SELECT token_set_ratio('a')").collect()
      }
      assert(tooFew.getMessage.contains("token_set_ratio") ||
        tooFew.getMessage.contains("argument"), tooFew.getMessage)
      val tooMany = intercept[Exception] {
        spark.sql("SELECT nfc_normalize('a', 'b')").collect()
      }
      assert(tooMany.getMessage.contains("nfc_normalize") ||
        tooMany.getMessage.contains("argument"), tooMany.getMessage)
    } finally {
      // leave the shared session for other suites
    }
  }

  test("a wrong-typed argument casts or fails at analysis, never in a task") {
    val spark = graft.SparkTestSession.spark
    GraftExtensions.registerInto(spark)
    // Right(v): an atomic argument is implicitly cast to the declared
    // input type and the call returns v; Left: spark.sql itself throws
    // an AnalysisException, i.e. the call never reaches an executor
    val cases: Seq[(String, Either[Unit, Any])] = Seq(
      "luhn_valid(4111111111111111)" -> Right(true),
      "simhash(123) = simhash('123')" -> Right(true),
      "minhash_sig(123, 2) = minhash_sig('123', 2)" -> Right(true),
      "rolling_fingerprint(42) = rolling_fingerprint('42')" -> Right(true),
      "nfc_normalize(1.5)" -> Right("1.5"),
      "cosine_sq_scaled(array(1, 0), array(1, 0))" -> Right(1000000L),
      "cosine_sq_scaled('1,0', '1,0')" -> Left(()),
      "rolling_fingerprint(array('a'))" -> Left(()),
      "token_set_ratio(12, '12')" -> Right(100.0),
      "partial_ratio(map(1, 2), 'x')" -> Left(()),
      "indel_ratio(DATE'2024-01-02', '2024-01-02')" -> Right(100.0))
    cases.foreach { case (call, expected) =>
      expected match {
        case Right(v) =>
          val got = spark.sql(s"SELECT $call AS v").head().get(0)
          assert(got == v, s"$call returned $got, expected $v")
        case Left(_) =>
          intercept[org.apache.spark.sql.AnalysisException] {
            spark.sql(s"SELECT $call AS v")
          }
      }
    }
  }
}
