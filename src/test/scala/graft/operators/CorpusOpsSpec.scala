package graft.operators

import graft.SparkTestSession
import graft.functions.TextFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-level training-data operators: line dedup (boilerplate
  * removal), PII scrubbing, token-budget quality selection.
  */
class CorpusOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("chunkDocs windows match a driver-side recompute on every edge") {
    // 7-token doc (single chunk), 10-token (two chunks, short tail),
    // 13-token (second window lands exactly on the end — full-width
    // tail, and NO redundant third window), empty, whitespace
    val docs = Seq(
      (1L, (1 to 7).map(i => s"t$i").mkString(" ")),
      (2L, (1 to 10).map(i => s"u$i").mkString(" ")),
      (3L, (1 to 13).map(i => s"v$i").mkString("  ")),
      (4L, ""), (5L, "   ")).toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocs(docs, "text", "doc_id", 8, 3)
      .orderBy("doc_id", "chunk_no").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    def md5Of(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def win(toks: Seq[String], from: Int) = toks.slice(from, from + 8)
    val t7 = (1 to 7).map(i => s"t$i"); val u10 = (1 to 10).map(i => s"u$i")
    val v13 = (1 to 13).map(i => s"v$i")
    assert(got.toSeq == Seq(
      (1L, 0L, 0L, 7L, md5Of(t7.mkString(" "))),
      (2L, 0L, 0L, 8L, md5Of(win(u10, 0).mkString(" "))),
      (2L, 1L, 5L, 5L, md5Of(win(u10, 5).mkString(" "))),
      (3L, 0L, 0L, 8L, md5Of(win(v13, 0).mkString(" "))),
      (3L, 1L, 5L, 8L, md5Of(win(v13, 5).mkString(" ")))))
  }

  test("chunkDocs guards geometry; zero overlap tiles exactly") {
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkDocs(Seq((1L, "a")).toDF("doc_id", "text"),
        "text", "doc_id", 0, 0)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkDocs(Seq((1L, "a")).toDF("doc_id", "text"),
        "text", "doc_id", 4, 4)
    }
    val docs = Seq((1L, (1 to 9).map(_.toString).mkString(" ")))
      .toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocs(docs, "text", "doc_id", 3, 0)
      .orderBy("chunk_no").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((0L, 0L, 3L), (1L, 3L, 3L), (2L, 6L, 3L)))
  }

  test("dupPassageStats counts cross-doc windows only, vs driver recompute") {
    // W=4, anchorMod=1 (every position anchors — exhaustive stride-1
    // semantics). A, B and C share the window "a b c d"; C repeats it
    // intra-doc AND shares it cross-doc (both copies count as dup);
    // D repeats a window intra-doc ONLY (must NOT count); E is shorter
    // than one window (no output row)
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "x y a b c d z w"),
      (3L, "a b c d a b c d"),
      (4L, "p q r s p q r s"),
      (5L, "m n o")).toDF("doc_id", "text")
    val got = TextAnalysis.dupPassageStats(docs, "text", "doc_id", 4, 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 3L, 1L, 333L),
      (2L, 5L, 1L, 200L),
      (3L, 5L, 2L, 400L),
      (4L, 5L, 0L, 0L)))
  }

  test("dupPassageStats detects copies at DIFFERENT offsets (content anchors)") {
    // the fixed-stride failure mode this operator's anchoring exists
    // to prevent: the same 16-token run at offset 0 in A and offset 1
    // in B. A positional stride-8 grid would never hash the run in B;
    // content-defined anchors hash it in both. anchorMod=2 with tokens
    // CHOSEN so exactly the run's first token anchors — the detection
    // below is the anchoring at work, not exhaustive enumeration
    def bucket2(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16) % 2
    }
    val pool = (1 to 200).map(i => s"z$i")
    val anchorTok = pool.find(bucket2(_) == 0).get
    val rest = pool.filter(bucket2(_) != 0)
    val run = anchorTok +: rest.take(15)
    val pad = rest(15)
    val docs = Seq(
      (1L, run.mkString(" ")),
      (2L, (pad +: run).mkString(" "))).toDF("doc_id", "text")
    val got = TextAnalysis.dupPassageStats(docs, "text", "doc_id", 16, 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 1L, 1L, 1000L), (2L, 1L, 1L, 1000L)))
  }

  test("removeDupPassages cuts every copy except the canonical holder's") {
    // W=4, anchorMod=1 (every position anchors). Doc 1 is the minimum
    // holder of "a b c d" — its text survives untouched; docs 2 and 3
    // lose the shared window (doc 3 loses BOTH intra-doc copies: each
    // is a duplicated window and doc 3 is not the keeper); doc 4's
    // intra-doc-only repeat is NOT cross-doc duplicated -> untouched;
    // doc 5 is shorter than one window -> untouched; doc 6 is empty.
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "x y a b c d z w"),
      (3L, "a b c d a b c d"),
      (4L, "p q r s p q r s"),
      (5L, "m n o"),
      (6L, " ")).toDF("doc_id", "text")
    val got = TextAnalysis.removeDupPassages(docs, "text", "doc_id", 4, 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(4)))
    // doc 2: positions of "a b c d" are 2..5 -> "x y z w" survives;
    // doc 3: windows at 0..4 all duplicated-or-overlapping? anchored
    // starts are 0..4; dup windows: "a b c d" (cross-doc, starts 0 and
    // 4), "b c d a"/"c d a b"/"d a b c" (intra-only, nd=1) -> covered
    // spans from starts {0, 4} = positions 0..7 -> everything removed
    assert(got.toSeq == Seq(
      (1L, 6L, 0L, "a b c d e f"),
      (2L, 8L, 4L, "x y z w"),
      (3L, 8L, 8L, ""),
      (4L, 8L, 0L, "p q r s p q r s"),
      (5L, 3L, 0L, "m n o"),
      (6L, 0L, 0L, "")))
  }

  test("phraseScores matches an exact driver-side recompute") {
    val texts = Seq(
      "new york is big new york is old",
      "new york new jersey and new york",
      "big apple big apple big apple",
      "old york was old",
      " ",
      "solo")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val (minCount, discount) = (2L, 2L)
    // driver-side ground truth, BigInt floor math
    val tokLists = texts.map(_.trim.split("\\s+").toSeq.filter(_.nonEmpty))
    val uni = tokLists.flatten.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val n1 = tokLists.map(_.size).sum.toLong
    val pairs = tokLists.flatMap(l => l.sliding(2).filter(_.size == 2)
      .map(p => (p.head, p(1))).toSeq)
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      .filter(_._2 >= minCount)
    val expected = pairs.map { case ((a, b), np) =>
      val phrase = ((BigInt(1000) * (np - discount) * n1) /
        (BigInt(uni(a)) * uni(b))).max(0).toLong
      (a, b, np, uni(a), uni(b), phrase, 2000 * np / (uni(a) + uni(b)))
    }.toSet
    assert(expected.nonEmpty && expected.exists(_._6 == 0L),
      s"fixture must exercise the floor-to-0 branch: $expected")
    assert(expected.exists(_._6 > 0L))
    val got = TextAnalysis.phraseScores(docs, "text", minCount, discount)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(got == expected)
    // guards
    intercept[IllegalArgumentException] {
      TextAnalysis.phraseScores(docs, "text", minCount = 0)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.phraseScores(docs.withColumnRenamed("text", "w1"), "w1")
    }
  }

  test("removeDupPassages treats null text as empty, never n_toks = -1") {
    val docs = Seq((1L, Some("a b c d e")), (2L, None))
      .toDF("doc_id", "text")
    val got = TextAnalysis.removeDupPassages(docs, "text", "doc_id", 4, 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(4)))
    assert(got.toSeq == Seq(
      (1L, 5L, 0L, "a b c d e"),
      (2L, 0L, 0L, "")))
  }

  test("removeDupPassages guards geometry and reserved columns") {
    val df = Seq((1L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextAnalysis.removeDupPassages(df, "text", "doc_id", 0, 1)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.removeDupPassages(df, "text", "doc_id", 4, 0)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.removeDupPassages(
        Seq((1L, "a")).toDF("clean_md5", "text"), "text", "clean_md5", 4, 1)
    }
  }

  test("gopherQualityFlags computes each rule metric and trips each rule") {
    // one passing doc and one violator per rule, with exact expected
    // mills recomputed by hand
    val okText = (("the and " * 30) + ("quality content here " * 10)).trim // 80 words, stops: the+and
    val docs = Seq(
      (1L, okText),
      (2L, "too short with the and"),                       // < 50 words
      (3L, ("ab " * 60).trim),                              // mean word len 2 < 3
      (4L, (("the and " * 30) + ("x# " * 20)).trim),        // symbols 20/80 > 0.1
      (5L, (1 to 4).map(i => s"- the and bullet $i line").mkString("\n")), // bullets 100% > 90%
      (6L, "the and one two three...\nfour five six...\nseven eight nine\nten eleven twelve"), // ellipsis 2/4 > 30% but words < 50
      (7L, (("the and " * 30) + ("123 456 " * 10)).trim),   // alpha 60/80 = 75% < 80%
      (8L, ("lonely words only " * 20).trim))               // 0 stop hits
      .toDF("doc_id", "text")
    val got = TextAnalysis.gopherQualityFlags(docs, "text", "doc_id",
        stopwords = Seq("the", "and"), minStopHits = 2)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Boolean]("gopher_ok"), "doc 1 must pass every rule")
    assert(!got(2L).getAs[Boolean]("gopher_ok") && got(2L).getAs[Long]("n_words") == 5L)
    assert(got(3L).getAs[Long]("mean_word_len_mills") == 2000L &&
      !got(3L).getAs[Boolean]("gopher_ok"))
    assert(got(4L).getAs[Long]("symbol_mills") == 250L && // 20 hashes / 80 words
      !got(4L).getAs[Boolean]("gopher_ok"))
    assert(got(5L).getAs[Long]("bullet_mills") == 1000L &&
      !got(5L).getAs[Boolean]("gopher_ok"))
    assert(got(6L).getAs[Long]("ellipsis_mills") == 500L)
    assert(got(7L).getAs[Long]("alpha_word_mills") == 750L &&
      !got(7L).getAs[Boolean]("gopher_ok"))
    assert(got(8L).getAs[Long]("stop_hits") == 0L &&
      !got(8L).getAs[Boolean]("gopher_ok"))
    // the default list is the paper's eight words
    assert(TextAnalysis.GopherStopwords.size == 8)
    intercept[IllegalArgumentException] {
      TextAnalysis.gopherQualityFlags(docs, "text", "doc_id", Seq.empty)
    }
  }

  private def dsirBucket(g: String, buckets: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$g#dsir".getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16) % buckets
  }

  private def bigramsOf(text: String): Seq[String] = {
    val toks = text.trim.split("\\s+").toSeq
    if (text.trim.isEmpty || toks.size < 2) Seq.empty
    else toks.sliding(2).map(_.mkString(" ")).toSeq
  }

  test("importanceScore matches an exact driver-side recompute, scores target-like docs higher") {
    val B = 64
    val srcRows = Seq(
      (1L, "alpha beta alpha beta alpha beta"), // pure target-language
      (2L, "gamma delta gamma delta"),          // pure source-only
      (3L, "alpha beta gamma delta"),           // mixed
      (4L, "solo"),                             // no bigrams
      (5L, ""))                                 // empty
    val src = srcRows.toDF("doc_id", "text")
    val tgt = src.where(col("doc_id") === 1L) // exemplar: the alpha-beta doc
    val got = TextAnalysis.importanceScore(src, tgt, "text", "doc_id", B)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // exact integer recompute of the rational weight pipeline
    val sg = srcRows.flatMap { case (_, t) => bigramsOf(t) }.map(dsirBucket(_, B))
    val tgtGrams = bigramsOf(srcRows.head._2).map(dsirBucket(_, B))
    val scCnt = sg.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tcCnt = tgtGrams.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (ns, nt) = (sg.size.toLong, tgtGrams.size.toLong)
    def w(b: Long): Long =
      (BigInt(1000) * (tcCnt.getOrElse(b, 0L) + 1) * (ns + B) /
        (BigInt(scCnt.getOrElse(b, 0L) + 1) * (nt + B))).toLong
    val want = srcRows.map { case (id, t) =>
      val bs = bigramsOf(t).map(dsirBucket(_, B))
      val s = bs.map(w).sum
      (id, bs.size.toLong, s, if (bs.isEmpty) 0L else s / bs.size)
    }
    assert(got.toSeq == want)
    // the SELECTION key (per-gram mean) orders by target-likeness,
    // not length
    val avgById = got.map(r => r._1 -> r._4).toMap
    assert(avgById(1L) > avgById(3L) && avgById(3L) > avgById(2L),
      s"target-likeness ordering violated: $avgById")
    assert(avgById(4L) == 0L && avgById(5L) == 0L, "gram-less docs must score 0")
    intercept[IllegalArgumentException] {
      TextAnalysis.importanceScore(src, tgt, "text", "doc_id", 0)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.importanceScore(
        src.withColumnRenamed("doc_id", "__b"), tgt, "text", "__b", B)
    }
    // `__bs` is budgetSelectPerStratum's column, not this operator's:
    // an id column of that name is accepted and scores like doc_id
    val asBs = TextAnalysis.importanceScore(
        src.withColumnRenamed("doc_id", "__bs"), tgt, "text", "__bs", B)
      .orderBy("__bs").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(asBs.toSeq == want)
  }

  test("importanceScore keeps the smoothed weights on an EMPTY target corpus") {
    // ADVICE r13: the r13 totals rewrite (count(*) -> sum over the
    // bucket aggs) turned an empty side's total into NULL, nulling
    // every smoothed weight and coalescing all scores to 0. The fixed
    // coalesce restores the exact pre-r13 smoothed-default scores.
    val B = 16
    val src = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"))
      .toDF("doc_id", "text")
    val tgt = src.where(col("doc_id") < 0) // empty
    val got = TextAnalysis.importanceScore(src, tgt, "text", "doc_id", B)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // ns = 3 bigrams corpus-wide, nt = 0: every bucket's weight is the
    // smoothed default 1000*(0+1)*(ns+B) div ((sc+1)*(0+B))
    val ns = 3L
    def w(sc: Long): Long = (BigInt(1000) * 1 * (ns + B) /
      (BigInt(sc + 1) * (0 + B))).toLong
    // all 3 bigrams are distinct strings; doc 1 has 2, doc 2 has 1 —
    // each bucket holds exactly its own gram unless two md5-collide
    // into one bucket, so recompute per gram honestly
    val grams = Seq("alpha beta", "beta gamma", "delta epsilon")
      .map(dsirBucket(_, B))
    val cnt = grams.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val w1 = Seq(grams(0), grams(1)).map(b => w(cnt(b))).sum
    val w2 = w(cnt(grams(2)))
    assert(got.toSeq == Seq(
      (1L, 2L, w1, w1 / 2), (2L, 1L, w2, w2)))
    assert(got.forall(_._3 > 0L), s"empty-target scores collapsed: ${got.toSeq}")
  }

  test("rational importance ranking agrees with the paper's log-ratio twin on the real corpus") {
    // the documented deviation (ratio-sum vs log-ratio-sum), quantified
    // like the BM25 canary: engine top-k selection on the sf0.001
    // corpus vs a driver-side log-likelihood-ratio twin over the SAME
    // hashed buckets and smoothing
    val B = graft.queries.TextQueries.DsirBuckets
    val k = 50
    val docsDf = spark.read.parquet(s"${graft.SparkTestSession.sfDir}/documents.parquet")
      .select(col("doc_id"), lower(col("text")).as("text"))
    val engine = TextAnalysis.importanceScore(
        docsDf, docsDf.where(col("doc_id") % 7 === 0), "text", "doc_id", B)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val rows = docsDf.collect().map(r => (r.getLong(0), r.getString(1)))
    val sg = rows.flatMap { case (_, t) => bigramsOf(t) }.map(dsirBucket(_, B))
    val tgtGrams = rows.filter(_._1 % 7 == 0)
      .flatMap { case (_, t) => bigramsOf(t) }.map(dsirBucket(_, B))
    val scCnt = sg.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tcCnt = tgtGrams.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (ns, nt) = (sg.size.toLong, tgtGrams.size.toLong)
    def lw(b: Long): Double =
      math.log(((tcCnt.getOrElse(b, 0L) + 1.0) * (ns + B)) /
        ((scCnt.getOrElse(b, 0L) + 1.0) * (nt + B)))
    val logTop = rows.map { case (id, t) =>
      val bs = bigramsOf(t)
      id -> (if (bs.isEmpty) Double.NegativeInfinity
             else bs.map(g => lw(dsirBucket(g, B))).sum / bs.size)
    }.sortBy { case (id, s) => (-s, id) }.take(k).map(_._1).toSet
    // rank by the operator's own floored selection key, as a user would
    val engTop = engine.toSeq.filter(_._2 > 0)
      .sortBy { case (id, _, a) => (-a, id) }.take(k).map(_._1).toSet
    val overlap = (logTop & engTop).size.toDouble / k
    // observed on this fixture: 0.96 with exact per-gram means; the
    // emitted key is floor-quantized to mills, which can only tie-
    // shuffle near the cut — floor at 0.7 so a scoring regression
    // (e.g. reverting to the length-dominated raw sum, observed 0.22)
    // fails loud while fixture regeneration survives
    info(s"rational-vs-log DSIR top-$k overlap: $overlap")
    assert(overlap >= 0.7, s"top-$k overlap $overlap < 0.7")
  }

  test("anchored sampling recall vs exhaustive detection, measured on the real corpus") {
    // The q86 gate runs with anchorMod = DupAnchorMod (content-defined
    // 1-in-p sampling); its documented miss model is
    // (1 - 1/p)^(R - w + 1) per shared run of R tokens. This measures
    // the OBSERVED doc-level recall on the sf0.01 corpus: of the docs
    // the exhaustive stride-1 run (anchorMod = 1) flags as containing a
    // duplicated passage, what fraction does the sampled run still
    // flag? (Every sampled window exists in the exhaustive index, so
    // sampled-flagged ⊆ exhaustive-flagged and recall is |S|/|E|.)
    val (w, p) = (graft.queries.TextQueries.DupWindowTokens,
      graft.queries.TextQueries.DupAnchorMod)
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"), lower(col("text")).as("text"))
    def flagged(mod: Int): Set[Long] =
      TextAnalysis.dupPassageStats(docs, "text", "doc_id", w, mod)
        .where(col("n_dup_windows") > 0)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val exhaustive = flagged(1)
    val sampled = flagged(p)
    assert(exhaustive.nonEmpty, "fixture lost its duplicated passages")
    assert((sampled -- exhaustive).isEmpty,
      "sampled flags must be a subset of exhaustive flags")
    val recall = sampled.size.toDouble / exhaustive.size
    // model check: a doc whose shared runs are all MINIMAL (R = w) is
    // missed with prob (1-1/p)^1 = 0.75 at p=4 — but the fixture's
    // near-dup cliques share long runs, so observed recall sits far
    // above the minimal-run worst case: 0.956 (43/45 exhaustive-flagged
    // docs; the 2 misses carry only near-minimal shared runs, exactly
    // the model's predicted loss mode). Floor at 0.85 so an anchor-
    // contract regression (which collapses detection asymmetrically)
    // fails loud while fixture regeneration survives.
    info(s"anchored-sampling doc recall at p=$p: $recall " +
      s"(${sampled.size}/${exhaustive.size}); minimal-run model floor " +
      s"${1.0 - math.pow(1.0 - 1.0 / p, 1)}")
    assert(recall >= 0.85, s"recall $recall < 0.85")
  }

  test("new operators reject degenerate geometry and reserved columns") {
    val df = Seq((1L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextAnalysis.dupPassageStats(df, "text", "doc_id", 0, 1)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.dupPassageStats(df, "text", "doc_id", 4, 0)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.dupPassageStats(
        Seq((1L, "a")).toDF("__h", "text"), "text", "__h", 4, 1)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkDocs(
        Seq((1L, "a")).toDF("chunk_no", "text"), "text", "chunk_no", 4, 0)
    }
  }

  test("dedupLines drops frequent lines, keeps unique and blank lines in order") {
    val docs = Seq(
      (1L, "alpha one\nCOOKIE BANNER\n\nbody text 1"),
      (2L, "beta two\nCOOKIE BANNER\nbody text 2"),
      (3L, "gamma three\n  COOKIE BANNER  \nbody text 3"), // trimmed key matches
      (4L, "COOKIE BANNER")) // every line boilerplate -> empty doc survives
      .toDF("doc_id", "text")
    val out = TextAnalysis.dedupLines(docs, "text", "doc_id", maxDocFreq = 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out(0) == ((1L, 4L, 3L, "alpha one\n\nbody text 1"))) // blank kept
    assert(out(1) == ((2L, 3L, 2L, "beta two\nbody text 2")))
    assert(out(2) == ((3L, 3L, 2L, "gamma three\nbody text 3")))
    assert(out(3) == ((4L, 1L, 0L, ""))) // fully-boilerplate doc still present
  }

  test("dedupLines at df <= threshold keeps repeated lines") {
    val docs = Seq((1L, "shared\nown1"), (2L, "shared\nown2"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.dedupLines(docs, "text", "doc_id", maxDocFreq = 2)
    assert(out.agg(sum("n_kept")).head.getLong(0) == 4L)
  }

  test("dedupLines keepColumns ride the final projection; reserved names refused") {
    val docs = Seq((1L, "en", "s1", "shared\nown1"), (2L, "de", "s2", "shared\nown2"))
      .toDF("doc_id", "lang", "source", "text")
    val out = TextAnalysis.dedupLines(docs, "text", "doc_id", maxDocFreq = 1,
        keepColumns = Seq("lang", "source"))
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getAs[String]("lang"),
      r.getAs[String]("source"), r.getAs[String]("clean_text"))).toSeq ==
      Seq((1L, "en", "s1", "own1"), (2L, "de", "s2", "own2")))
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.dedupLines(docs, "text", "doc_id", 1, Seq("clean_text"))
    }
    assert(e.getMessage.contains("reserved"))
  }

  test("scrubPii replaces emails, IPs, phones and counts match") {
    val df = Seq(
      (1L, "mail bob.smith+x@corp.example.org then 192.168.0.1 and +1-555-0100 end"),
      (2L, "no pii here at all"),
      (3L, "two mails a@b.co c@d.io one ip 10.1.2.3"))
      .toDF("id", "t")
    val counts = TextFunctions.piiCounts(col("t"))
    val got = df.select(col("id"), counts(0).as("e"), counts(1).as("i"),
        counts(2).as("p"), TextFunctions.scrubPii(col("t")).as("s"))
      .orderBy("id").collect()
    assert((got(0).getLong(1), got(0).getLong(2), got(0).getLong(3)) == ((1L, 1L, 1L)))
    assert(got(0).getString(4) == "mail <EMAIL> then <IP> and <PHONE> end")
    assert((got(1).getLong(1), got(1).getLong(2), got(1).getLong(3)) == ((0L, 0L, 0L)))
    assert(got(1).getString(4) == "no pii here at all")
    assert((got(2).getLong(1), got(2).getLong(2), got(2).getLong(3)) == ((2L, 1L, 0L)))
  }

  test("bloomDecontam matches the exact shingle join incl. threshold edges") {
    // doc 1 shares exactly 3 grams (= minShared: kept), doc 2 exactly
    // 2 (= minShared-1: dropped), doc 3 none (clean), doc 4 shares 4
    // via a different eval doc (kept)
    val train = Seq(
      (1L, Seq("a b", "b c", "c d", "zz zz")),
      (2L, Seq("a b", "b c", "own gram")),
      (3L, Seq("p q", "q r")),
      (4L, Seq("w x", "x y", "y z", "z w")))
      .toDF("doc_id", "grams")
    val eval = Seq(
      (100L, Seq("a b", "b c", "c d")),
      (101L, Seq("w x", "x y", "y z", "z w", "extra gram")))
      .toDF("doc_id", "grams")
    val got = TextAnalysis.bloomDecontam(train, eval, "doc_id", "grams",
        minShared = 3, mBits = 1 << 10, seeds = Seq(1L, 2L, 3L))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 3L), (4L, 4L)))
  }

  test("bloomDecontam output is exact even with a saturated 64-bit filter") {
    // mBits=64 with 3 seeds over ~30 grams saturates the bitset, so
    // nearly every train doc is flagged — the exact-confirm join must
    // still kill every false positive: output identical to a roomy
    // filter and to the direct exact join
    val train = (1L to 40L)
      .map(i => (i, Seq(s"t$i a", s"t$i b", s"shared ${i % 4}")))
      .toDF("doc_id", "grams")
    val eval = Seq((0L, Seq("shared 0", "shared 1", "other x")))
      .toDF("doc_id", "grams")
    def run(m: Int) = TextAnalysis.bloomDecontam(train, eval, "doc_id",
        "grams", minShared = 1, mBits = m, seeds = Seq(7L, 11L, 13L))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exact = train.select(col("doc_id"), explode(col("grams")).as("g"))
      .join(eval.select(explode(col("grams")).as("g")).distinct(), "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(run(64) == exact)
    assert(run(1 << 16) == exact)
  }

  test("bloomDecontam rejects bad geometry loudly") {
    val df = Seq((1L, Seq("a b"))).toDF("doc_id", "grams")
    intercept[IllegalArgumentException] {
      TextAnalysis.bloomDecontam(df, df, "doc_id", "grams", 1, 100, Seq(1L))
    } // not a power of two
    intercept[IllegalArgumentException] {
      TextAnalysis.bloomDecontam(df, df, "doc_id", "grams", 1,
        TextAnalysis.MaxBloomBits * 2, Seq(1L))
    } // past the inline literal budget
    intercept[IllegalArgumentException] {
      TextAnalysis.bloomDecontam(df, df, "doc_id", "grams", 1, 64, Seq.empty)
    } // no seeds
  }

  test("budgetSelect is row-identical to the naive per-stratum window") {
    // deterministic pseudo-random corpus with heavy quality ties, so the
    // boundary bin holds many docs and the within-bin path is exercised
    val docs = (1L to 300L).map { i =>
      (i, s"s${i % 3}", (i * 7919 % 5) * 100L, i * 104729 % 40 + 1)
    }.toDF("id", "stratum", "q", "toks")
    val budget = 900L
    val got = TextAnalysis.budgetSelect(docs, "stratum", "q", "toks", "id", budget)
      .select("id").as[Long].collect().toSet
    val w = Window.partitionBy("stratum")
      .orderBy(col("q").desc, col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = docs.withColumn("cum", sum("toks").over(w))
      .where(col("cum") <= budget)
      .select("id").as[Long].collect().toSet
    assert(naive.nonEmpty && naive.size < 300, "budget must bind")
    assert(got == naive)
  }

  test("budgetSelect keeps everything when the budget doesn't bind") {
    val docs = Seq((1L, "a", 900L, 10L), (2L, "a", 100L, 10L))
      .toDF("id", "stratum", "q", "toks")
    assert(TextAnalysis.budgetSelect(docs, "stratum", "q", "toks", "id", 1000L)
      .count() == 2)
  }

  test("budgetSelect ranks NULL-quality rows last, identically to the naive window") {
    // NULL quality is a legal bin: desc ordering puts it last in both
    // the histogram cumsum and the naive window — a plain (non-null-safe)
    // join back would instead silently drop the row
    val docs = Seq(
      (1L, "a", Some(900L), 50L),
      (2L, "a", None, 30L),      // NULL quality — ranked last
      (3L, "a", Some(100L), 40L))
      .toDF("id", "stratum", "q", "toks")
    def kept(budget: Long) = TextAnalysis
      .budgetSelect(docs, "stratum", "q", "toks", "id", budget)
      .select("id").as[Long].collect().toSet
    assert(kept(120L) == Set(1L, 2L, 3L), "NULL bin fits inside 120")
    assert(kept(100L) == Set(1L, 3L), "NULL bin overflows 100 and is cut")
  }

  test("budgetSelect keeps a zero-token doc sitting exactly on the budget line") {
    // bin q=500 starts exactly at the budget: its zero-token doc is a
    // legal keep in (quality DESC, id) order; the first positive doc is not
    val docs = Seq(
      (1L, "a", 900L, 100L), // cum 100 <= 100 keep
      (2L, "a", 500L, 0L),   // cum 100 <= 100 keep (zero-token edge)
      (3L, "a", 500L, 5L))   // cum 105 > 100 drop
      .toDF("id", "stratum", "q", "toks")
    val kept = TextAnalysis.budgetSelect(docs, "stratum", "q", "toks", "id", 100L)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L))
  }

  test("skipgramPmi matches hand-computed millibit scores on a tiny corpus") {
    // "a b a c", window 2: pairs d=1 {a,b}x2 {a,c}; d=2 {a,a} {b,c}
    // Np=5, Nt=4, c(a)=2 c(b)=c(c)=1
    //   (a,b): q=⌊1024·2·16/10⌋=3276  → 11599−10000 = 1599
    //   (a,c): q=⌊1024·16/10⌋=1638    → 10599−10000 = 599
    //   (a,a): q=⌊1024·16/20⌋=819     →  9599−10000 = −401
    //   (b,c): q=3276                 → 1599
    val docs = Seq((1L, "a b a c")).toDF("doc_id", "text")
    val got = TextAnalysis.skipgramPmi(docs, "text", window = 2, minCount = 1)
      .orderBy("w1", "w2").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      ("a", "a", 1L, 2L, 2L, -401L), ("a", "b", 2L, 2L, 1L, 1599L),
      ("a", "c", 1L, 2L, 1L, 599L), ("b", "c", 1L, 1L, 1L, 1599L)))
    intercept[IllegalArgumentException] {
      TextAnalysis.skipgramPmi(docs, "text", window = 0)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.skipgramPmi(docs, "text", minCount = 0)
    }
  }

  test("integer PMI ranking agrees with float PMI on the real corpus") {
    // Mitchell-log2 millibits vs true float log2 PMI, q102 geometry:
    // the ~0.086-bit interpolation error can only locally reorder,
    // pinned by a Spearman floor over the full minCount-surviving
    // pair table (not just the top-k)
    val window = graft.queries.TextQueries.SkipgramWindow
    val minCount = graft.queries.TextQueries.SkipgramMinCount
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), lower(col("text")).as("text"))
    val engine = TextAnalysis.skipgramPmi(docsDf, "text", window, minCount)
      .select("w1", "w2", "pmi_mills").as[(String, String, Long)]
      .collect().map { case (a, b, m) => (a, b) -> m }.toMap
    assert(engine.size > 50, s"pair table too small to pin: ${engine.size}")
    val toks = docsDf.select("text").as[String].collect()
      .map(_.trim.split("\\s+").toSeq.filter(_.nonEmpty))
    val uni = toks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nt = toks.map(_.size).sum.toDouble
    val pairs = toks.flatMap { ts =>
      for (i <- ts.indices; d <- 1 to window if i + d < ts.size)
        yield (Seq(ts(i), ts(i + d)).min, Seq(ts(i), ts(i + d)).max)
    }
    val np = pairs.size.toDouble
    val cp = pairs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val float = cp.collect { case (pr @ (a, b), c) if c >= minCount =>
      pr -> math.log((c * nt * nt) / (np * uni(a) * uni(b))) / math.log(2.0)
    }.toMap
    assert(engine.keySet == float.keySet)
    def ranks(m: Map[(String, String), Double]): Map[(String, String), Int] =
      m.toSeq.sortBy { case (k, v) => (v, k) }
        .zipWithIndex.map { case ((k, _), r) => k -> r }.toMap
    val re = ranks(engine.map { case (k, v) => k -> v.toDouble })
    val rf = ranks(float)
    val n = re.size.toDouble
    val d2 = re.map { case (k, r) => math.pow(r - rf(k), 2.0) }.sum
    val spearman = 1.0 - 6.0 * d2 / (n * (n * n - 1.0))
    info(s"PMI rank agreement: spearman=$spearman over ${re.size} pairs")
    assert(spearman >= 0.97, s"rank agreement degraded: $spearman")
  }

  test("prioritySample keeps exactly k per stratum in driver-recomputed hash order") {
    def md5Hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = (1L to 120L).map(i => (i, if (i % 3 == 0) "a" else "b"))
    val docs = rows.toDF("id", "stratum")
    val k = 7
    val got = TextAnalysis.prioritySample(docs, "stratum", "id", k)
      .select("stratum", "sample_rank", "id")
      .as[(String, Long, Long)].collect().toSeq.sorted
    val expected = rows.groupBy(_._2).toSeq.flatMap { case (st, rs) =>
      rs.map(_._1).sortBy(id => (md5Hex(id.toString), id)).take(k)
        .zipWithIndex.map { case (id, i) => (st, i + 1L, id) }
    }.sorted
    assert(got == expected)
    // partition-layout invariance: the hash IS the sample
    val reshuffled = TextAnalysis.prioritySample(
        docs.repartition(13), "stratum", "id", k)
      .select("stratum", "sample_rank", "id")
      .as[(String, Long, Long)].collect().toSeq.sorted
    assert(reshuffled == expected)
    // k beyond the stratum keeps everything, ranks stay contiguous
    assert(TextAnalysis.prioritySample(docs, "stratum", "id", 1000)
      .count() == 120)
    intercept[IllegalArgumentException] {
      TextAnalysis.prioritySample(docs, "stratum", "id", 0)
    }
  }

  test("blocklistMatches is token-aligned, boundary-safe and row-preserving") {
    val phrases = Seq(
      (1L, "art house"), (2L, "deep learning"), (3L, "end"),
      (4L, "  spaced   phrase "), // phrase itself needs normalizing
      (5L, ""))                   // degenerate: filtered, never matches
      .toDF("pid", "phrase")
    val docs = Seq(
      (1L, "the art house review"),    // clean multi-token match
      (2L, "my cart house review"),    // substring-only: must NOT match
      (3L, "deep  learning   at the end"), // multi-space + doc-end match
      (4L, "artless house of art"),    // shares tokens, no aligned phrase
      (5L, "spaced phrase here"),      // matches the normalized phrase 4
      (6L, ""))                        // empty doc: 0 matches, row kept
      .toDF("doc_id", "text")
    val got = TextAnalysis.blocklistMatches(
        docs, phrases, "text", "doc_id", "pid", "phrase")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, 1L, true, "1"), (2L, 0L, false, ""), (3L, 2L, true, "2,3"),
      (4L, 0L, false, ""), (5L, 1L, true, "4"), (6L, 0L, false, "")))
    intercept[IllegalArgumentException] {
      TextAnalysis.blocklistMatches(
        docs.withColumnRenamed("text", "blocked"), phrases,
        "blocked", "doc_id", "pid", "phrase")
    }
  }

  test("unigramCodeLength matches hand-computed millibit costs on every edge") {
    // lm: a×4 b×2 c×1 → N=7 V=3, N+V=10, pre-scale 1024·10 = 10240
    //   a: q=10240 div 5=2048,  e=11, frac 0              → 1000
    //   b: q=10240 div 3=3413,  e=11, (1000·1365) div 2048=666 → 1666
    //   c: q=10240 div 2=5120,  e=12, (1000·1024) div 4096=250 → 2250
    //   oov: q=10240,           e=13, (1000·2048) div 8192=250 → 3250
    val lm = Seq((1L, "a a a b"), (2L, "a b c")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "a b"),    // in-vocab: 2666, avg 1333
      (11L, "zz"),     // pure OOV: 3250
      (12L, "a c zz"), // mixed: 1000+2250+3250=6500, avg 2166
      (13L, ""),       // empty: n_toks 0, NULL avg
      (14L, "   "))    // whitespace-only: same as empty
      .toDF("doc_id", "text")
    val got = TextAnalysis.unigramCodeLength(corpus, lm, "text", "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(got.toSeq == Seq(
      (10L, 2L, 2666L, 1333L), (11L, 1L, 3250L, 3250L),
      (12L, 3L, 6500L, 2166L),
      (13L, 0L, 0L, -1L), (14L, 0L, 0L, -1L)))
    intercept[IllegalArgumentException] {
      TextAnalysis.unigramCodeLength(
        corpus.withColumnRenamed("text", "n_toks"), lm, "n_toks", "doc_id")
    }
  }

  test("budgetSelectPerStratum fills each stratum to its own budget") {
    val df = Seq(
      (1L, "a", 900L, 10L), (2L, "a", 800L, 10L), (3L, "a", 700L, 10L),
      (4L, "b", 950L, 10L), (5L, "b", 600L, 3L),
      (6L, "d", 999L, 1L)) // stratum absent from the budget frame
      .toDF("doc_id", "strat", "q", "toks")
    val budgets = Seq(("a", 20L), ("b", 3L), ("c", 10L)).toDF("strat", "alloc")
    val kept = TextAnalysis.budgetSelectPerStratum(
        df, "strat", "q", "toks", "doc_id", budgets, "alloc")
      .select("doc_id").as[Long].collect().toSet
    // a: top-2 by quality fit 20; b: the 10-token top doc overflows 3
    // and blocks (prefix-greedy), so nothing fits; d: no budget row -> 0
    assert(kept == Set(1L, 2L), s"got $kept")
    // a uniform per-stratum frame equals the constant-budget kernel
    val uni = df.select("strat").distinct()
      .withColumn("alloc", org.apache.spark.sql.functions.lit(13L))
    val viaFrame = TextAnalysis.budgetSelectPerStratum(
        df, "strat", "q", "toks", "doc_id", uni, "alloc")
      .select("doc_id").as[Long].collect().toSet
    val viaConst = TextAnalysis.budgetSelect(
        df, "strat", "q", "toks", "doc_id", 13L)
      .select("doc_id").as[Long].collect().toSet
    assert(viaFrame == viaConst)
  }

  test("mixturePlan matches hand-computed allocation and signed log ratios") {
    // corpus: a=3 toks, b=1, d=2 (N=6); weights a=1 b=1 c=2 (+d absent,
    // W=4); budget 8. Exercises over-mix (a: ratio 2 -> +1000 mills),
    // under-mix (b: ratio 2/3 -> -500), zero supply (c: -10000·W) and
    // zero weight on a present stratum (d: +10000·W).
    val docs = Seq(("a", "x y z"), ("b", "x"), ("d", "x y"))
      .toDF("lang", "text")
    val got = TextAnalysis.mixturePlan(docs, "lang", "text",
        Seq(("a", 1L), ("b", 1L), ("c", 2L)), budgetTokens = 8L)
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      ("a", 3L, 2L, 2L, 0L, 1000L),
      ("b", 1L, 2L, 1L, 1L, -500L),
      ("c", 0L, 4L, 0L, 4L, -40000L),
      ("d", 2L, 0L, 0L, 0L, 40000L)))
    intercept[IllegalArgumentException] {
      TextAnalysis.mixturePlan(docs, "lang", "text",
        Seq(("a", -1L)), budgetTokens = 8L)
    }
  }

  test("bigramCodeLength matches hand-computed millibit costs on every branch") {
    // lm as the unigram fixture: a×4 b×2 c×1 → N=7 V=3, N+V=10;
    // bigrams with multiplicity: "a a"×2, "a b"×2, "b c"×1.
    // Interpolated cost q = (2048·c1·10) div (c12·10 + (c2+1)·c1):
    //   (a,b): c1=4 c2=2 c12=2 → q=81920 div 32=2560 → 1250
    //   (b,a): c1=2 c2=4 c12=0 → q=40960 div 10=4096 → 2000
    //   (a,zz): c1=4 c2=0 c12=0 → q=81920 div 4=20480 → 4250
    //   (zz,·): c1=0 → unigram backoff
    val lm = Seq((1L, "a a a b"), (2L, "a b c")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "a b"),   // first a=1000 + seen-bigram 1250 = 2250
      (11L, "b a"),   // first b=1666 + unseen-bigram 2000 = 3666
      (12L, "zz a"),  // first oov=3250 + context-backoff uni(a)=1000
      (13L, "a zz"),  // first a=1000 + oov-continuation 4250 = 5250
      (14L, "c"),     // single token: unigram only, 2250
      (15L, ""))      // empty: n_toks 0, NULL avg
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramCodeLength(corpus, lm, "text", "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(got.toSeq == Seq(
      (10L, 2L, 2250L, 1125L), (11L, 2L, 3666L, 1833L),
      (12L, 2L, 4250L, 2125L), (13L, 2L, 5250L, 2625L),
      (14L, 1L, 2250L, 2250L), (15L, 0L, 0L, -1L)))
    // the point of the bigram term: a familiar collocation costs less
    // than its unigram continuation (1250 < uni(b)=1666), an unseen
    // one costs more (2000 > 1666)
    intercept[IllegalArgumentException] {
      TextAnalysis.bigramCodeLength(
        corpus.withColumnRenamed("text", "n_toks"), lm, "n_toks", "doc_id")
    }
  }

  test("integer millibit ranking agrees with float cross-entropy on the real corpus") {
    // The documented scoring deviation, QUANTIFIED (the BM25
    // rational-idf / DSIR mean-ratio precedent): Mitchell-log2
    // millibit costs carry <= 0.086 bits/token interpolation error
    // plus the 2^-10 pre-scale quantization, so the per-doc mean can
    // locally reorder docs vs the true float cross-entropy. This
    // canary runs the real operator on the sf0.001 corpus with the
    // q95 geometry (lm = 'en' stratum) against a driver-side float
    // twin and pins the Spearman rank-correlation floor.
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("lang"), lower(col("text")).as("text"))
    val engine = TextAnalysis.unigramCodeLength(
        docsDf, docsDf.where(col("lang") === "en"), "text", "doc_id")
      .where(col("n_toks") > 0)
      .select("doc_id", "avg_bits_mills").as[(Long, Long)].collect().toMap
    val rows = docsDf.select("doc_id", "lang", "text")
      .as[(Long, String, String)].collect()
    def toks(t: String) =
      t.trim.split("\\s+").toSeq.filter(_.nonEmpty)
    val lmToks = rows.filter(_._2 == "en").flatMap(r => toks(r._3))
    val n = lmToks.length.toLong
    val cnt = lmToks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val v = cnt.size.toLong
    val float = rows.flatMap { case (id, _, t) =>
      val ts = toks(t)
      if (ts.isEmpty) None
      else Some(id -> ts.map(tok => -math.log(
        (cnt.getOrElse(tok, 0L) + 1.0) / (n + v)) / math.log(2.0)).sum / ts.size)
    }.toMap
    assert(engine.keySet == float.keySet)
    def ranks(score: Map[Long, Double]): Map[Long, Int] =
      score.toSeq.sortBy { case (id, s) => (s, id) }
        .zipWithIndex.map { case ((id, _), r) => id -> r }.toMap
    val re = ranks(engine.map { case (k, s) => k -> s.toDouble })
    val rf = ranks(float)
    val m = re.size.toDouble
    val d2 = re.map { case (id, r) => math.pow(r - rf(id), 2.0) }.sum
    val spearman = 1.0 - 6.0 * d2 / (m * (m * m - 1.0))
    assert(spearman >= 0.97, s"rank agreement degraded: spearman=$spearman")
  }

  test("c4Clean applies each line rule in isolation and rebuilds kept text in order") {
    val page = Seq(
      "first proper sentence with enough words here.", // kept
      "short line.",                                   // < 5 words
      "no terminal punctuation with plenty of words",  // no punct
      "this javascript line has enough words to pass otherwise.", // js
      "ends with a quoted terminal mark like \"this!\"", // kept (punct+quote)
      "second proper sentence with enough words too!"  // kept
    ).mkString("\n")
    val df = Seq((1L, page)).toDF("doc_id", "text")
    val r = TextAnalysis.c4Clean(df, "doc_id", "text").head()
    assert(r.getAs[Long]("n_lines") == 6L)
    assert(r.getAs[Long]("n_kept") == 3L)
    assert(r.getAs[String]("kept_text") == Seq(
      "first proper sentence with enough words here.",
      "ends with a quoted terminal mark like \"this!\"",
      "second proper sentence with enough words too!").mkString("\n"))
    // terminal marks in kept text: '.', '!' inside the quote, '!' = 3
    assert(r.getAs[Long]("n_sentences") == 3L)
    assert(!r.getAs[Boolean]("has_lorem") && !r.getAs[Boolean]("has_brace"))
    assert(r.getAs[Boolean]("page_keep"))
  }

  test("c4Clean page rules veto pages that pass every line rule") {
    val good = Seq(
      "first proper sentence with enough words here.",
      "second proper sentence with enough words too.",
      "third proper sentence with enough words also.").mkString("\n")
    val rows = Seq(
      (1L, good),                                       // keep
      (2L, good + "\nsome Lorem Ipsum filler appears."), // lorem (case-insensitive)
      (3L, good + "\nconfig block { present"),           // brace
      (4L, Seq("one good sentence with enough words here.",
               "two good sentences with enough words here.").mkString("\n")),
      (5L, null.asInstanceOf[String]),                   // null text
      // canonical c4_utils filters on '{' ALONE — a bare closing
      // brace is natural-text-adjacent (emoticons, asides) and kept
      (6L, good + "\na closing brace } alone does not veto."))
      .toDF("doc_id", "text")
    val r = TextAnalysis.c4Clean(rows, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(r.map(_.getAs[Boolean]("page_keep")).toSeq ==
      Seq(true, false, false, false, false, true))
    assert(r(1).getAs[Boolean]("has_lorem") && r(2).getAs[Boolean]("has_brace"))
    assert(!r(5).getAs[Boolean]("has_brace"))
    assert(r(3).getAs[Long]("n_sentences") == 2L) // < C4MinSentences
    // null text reads as one empty line, nothing kept, nothing thrown
    assert(r(4).getAs[Long]("n_lines") == 1L &&
      r(4).getAs[Long]("n_kept") == 0L &&
      r(4).getAs[Long]("n_sentences") == 0L)
  }

  test("unimaxAllocate water-fills exactly: caps, shares, remainder, sum") {
    def tokens(n: Int) = Seq.fill(n)("t").mkString(" ")
    // capacities at maxEpochs=1: A=10, B=20, C=40 (B split over 2 docs)
    val docs = Seq(
      (1L, "A", tokens(10)), (2L, "B", tokens(10)), (3L, "B", tokens(10)),
      (4L, "C", tokens(40))).toDF("doc_id", "lang", "text")
    def alloc(budget: Long): Map[String, (Boolean, Long, Long)] =
      TextAnalysis.unimaxAllocate(docs, "lang", "text",
          maxEpochs = 1, budgetTokens = budget)
        .collect().map(r => r.getAs[String]("stratum") ->
          ((r.getAs[Boolean]("capped"), r.getAs[Long]("allocated"),
            r.getAs[Long]("epochs_mills")))).toMap
    // waterline splits B and C; A capped at full capacity
    assert(alloc(30L) == Map(
      "A" -> ((true, 10L, 1000L)),
      "B" -> ((false, 10L, 500L)),
      "C" -> ((false, 10L, 250L))))
    // integer remainder goes to the SMALLEST uncapped stratum first
    assert(alloc(33L).view.mapValues(_._2).toMap ==
      Map("A" -> 10L, "B" -> 12L, "C" -> 11L))
    // budget above total capacity: everything capped, budget under-used
    assert(alloc(100L) == Map(
      "A" -> ((true, 10L, 1000L)),
      "B" -> ((true, 20L, 1000L)),
      "C" -> ((true, 40L, 1000L))))
    // allocations always sum to exactly min(budget, total capacity)
    Seq(0L, 1L, 7L, 30L, 33L, 69L, 70L, 100L).foreach { b =>
      val total = alloc(b).values.map(_._2).sum
      assert(total == math.min(b, 70L), s"budget $b allocated $total")
    }
  }

  test("unimaxAllocate: corpus-relative budget and zero-token strata") {
    def tokens(n: Int) = Seq.fill(n)("t").mkString(" ")
    val docs = Seq(
      (1L, "A", tokens(10)), (2L, "B", tokens(20)), (3L, "C", tokens(40)),
      (4L, "Z", "   ")).toDF("doc_id", "lang", "text")
    // perMille 500 of total capacity 70 → b = 35: A capped, B/C share
    // 25 as 13/12 (remainder to the smaller), Z is a zero-capacity cap
    val r = TextAnalysis.unimaxAllocate(docs, "lang", "text",
        maxEpochs = 1, budgetPerMille = Some(500L))
      .collect().map(row => row.getAs[String]("stratum") ->
        ((row.getAs[Boolean]("capped"), row.getAs[Long]("allocated"),
          row.getAs[Long]("epochs_mills")))).toMap
    assert(r == Map(
      "A" -> ((true, 10L, 1000L)),
      "B" -> ((false, 13L, 650L)),
      "C" -> ((false, 12L, 300L)),
      "Z" -> ((true, 0L, 0L))))
    intercept[IllegalArgumentException] {
      TextAnalysis.unimaxAllocate(docs, "lang", "text", maxEpochs = 0)
    }
  }

  test("temperatureAllocate: exact isqrt weights, exact-sum targets, supply caps") {
    def tokens(n: Int) = Seq.fill(n)("t").mkString(" ")
    // perfect-square boundaries pin the isqrt correction: 49→7,
    // 48→6, 50→7 (a raw float floor(sqrt) could be off by one ulp)
    val docs = Seq(
      (1L, "A", tokens(49)), (2L, "B", tokens(48)), (3L, "C", tokens(50)),
      (4L, "D", tokens(4)), (5L, "Z", " "))
      .toDF("doc_id", "lang", "text")
    def run(b: Long): Map[String, (Long, Long, Long, Long)] =
      TextAnalysis.temperatureAllocate(docs, "lang", "text",
          budgetTokens = b)
        .collect().map(r => r.getAs[String]("stratum") ->
          ((r.getAs[Long]("w"), r.getAs[Long]("target_tokens"),
            r.getAs[Long]("alloc_tokens"), r.getAs[Long]("deficit_tokens"))))
        .toMap
    val r = run(100L)
    assert(r.view.mapValues(_._1).toMap ==
      Map("A" -> 7L, "B" -> 6L, "C" -> 7L, "D" -> 2L, "Z" -> 0L))
    // Σw = 22; floors: A 31, B 27, C 31, D 9, Z 0 → 98; rem 2 goes to
    // the two largest weights (A before C by stratum tie-break)
    assert(r.view.mapValues(_._2).toMap ==
      Map("A" -> 32L, "B" -> 27L, "C" -> 32L, "D" -> 9L, "Z" -> 0L))
    // targets sum EXACTLY to the budget, for any budget
    Seq(0L, 1L, 7L, 100L, 151L, 1000L).foreach { b =>
      assert(run(b).values.map(_._2).sum == b, s"budget $b")
    }
    // supply caps: D's target 9 exceeds its 4-token supply
    assert(r("D") == ((2L, 9L, 4L, 5L)))
    assert(r("A")._4 == 0L)
  }

  test("c4Clean guards geometry and reserved columns") {
    val df = Seq((1L, "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextAnalysis.c4Clean(df, "doc_id", "text", minWords = 0)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.c4Clean(
        Seq((1L, "x")).toDF("page_keep", "text"), "page_keep", "text")
    }
  }
}
