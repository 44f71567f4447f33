package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupMergeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val docs = Seq(
    (1L, "the quick brown fox"),
    (2L, "The  quick Brown fox"),     // exact dup modulo case/ws? (no: ws differs)
    (3L, "the quick brown fox"),      // exact dup of 1
    (4L, "completely different text here"),
    (5L, "the quick brown wolf")      // near dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id per content key (dedup#exact)") {
    val out = Dedup.exact(docs, "text", "doc_id")
    val survivors = out.select("doc_id").as[Long].collect().toSet
    assert(survivors.contains(1L) && !survivors.contains(3L))
    assert(out.where($"doc_id" === 1).select("dup_count").as[Long].head() == 2L)
  }

  test("jaccard pairs find near-dups above threshold (dedup#ngram)") {
    val pairs = Dedup.jaccardPairs(docs, "text", "doc_id", minJaccardMills = 500)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 3L)))  // identical
    assert(pairs.contains((1L, 5L)))  // 3 of 5 tokens shared -> 600
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("PROPERTY: prefix-filtered jaccardPairs equals naive all-pairs " +
    "on randomized near-dup corpora (PPJoin losslessness)") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    (1 to 3).foreach { trial =>
      val base = Seq.fill(12)(Seq.fill(2 + rnd.nextInt(5))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "))
      // near-dups: perturb half the docs by one appended token
      val texts = base ++ base.take(6).map(_ + " " + vocab(rnd.nextInt(vocab.size)))
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = Dedup.jaccardPairs(df, "text", "doc_id", minJaccardMills = 500)
        .select("id_a", "id_b", "jac_mills").as[(Long, Long, Long)].collect().toSet
      // ground truth: pure-Scala all-pairs over the same token-set contract
      def toks(t: String) = t.trim.toLowerCase.split("\\s+").distinct.toSet
      val ts = texts.map(toks).zipWithIndex
      val want = (for {
        (ta, a) <- ts; (tb, b) <- ts if a < b
        inter = (ta & tb).size
        union = ta.size + tb.size - inter
        if union > 0
        mills = 1000L * inter / union
        if mills >= 500
      } yield (a.toLong, b.toLong, mills)).toSet
      assert(got == want, s"trial $trial: got ${got.size}, want ${want.size}: " +
        s"missing=${want -- got}, extra=${got -- want}")
    }
  }

  test("PROPERTY: star-capped bucket pairs preserve connected components " +
    "exactly vs uncapped (randomized buckets incl. degenerate ones)") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 80).map { i =>
      // key space of 6 buckets, two of them hot (half the rows)
      val k = if (i % 2 == 0) s"hot${i % 4 / 2}" else s"cold${rnd.nextInt(4)}"
      (k, i.toLong)
    }.toDF("bucket", "id")
    def components(pairs: org.apache.spark.sql.DataFrame) =
      Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    val capped = components(Dedup.cappedBucketPairs(rows, Seq("bucket"), "id", maxBucket = 3))
    val full = components(Dedup.cappedBucketPairs(rows, Seq("bucket"), "id", maxBucket = Int.MaxValue))
    assert(capped == full)
    assert(capped.nonEmpty)
  }

  test("star-capped jaccardPairs stays linear on a mass-duplicated corpus " +
    "with identical dedup groups") {
    // 40 identical docs (a true O(N²) pair clique) + 10 unrelated docs
    val texts = Seq.fill(40)("alpha beta gamma delta") ++
      (0 until 10).map(i => s"unique$i solo$i text$i never$i shared$i")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val uncapped = Dedup.jaccardPairs(df, "text", "doc_id", minJaccardMills = 600)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val capped = Dedup.jaccardPairs(df, "text", "doc_id", minJaccardMills = 600,
      maxCandBucket = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // uncapped: the full 40-clique; capped: the 39-edge star — linear
    assert(uncapped.size == 40 * 39 / 2, s"uncapped ${uncapped.size}")
    assert(capped == (1 until 40).map(i => (0L, i.toLong)).toSet,
      s"capped ${capped.size} edges")
    // identical dedup groups either way
    def comps(p: Set[(Long, Long)]) =
      Dedup.connectedComponents(p.toSeq.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
    assert(comps(capped) == comps(uncapped))
  }

  test("PROPERTY: all-pairs jaccard kernel equals the prefix-filtered kernel " +
    "(randomized corpus, several thresholds)") {
    // round-14 OPT gate: the S-curve audits' ground truth switched from
    // jaccardPairsFromTokens to the direct jaccardPairsAllPairs kernel —
    // the two must emit the identical (id_a, id_b, jac_mills) set at any
    // threshold or the audit numbers silently drift
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 30).map(i => s"w$i")
    val docs = (0 until 60).map { i =>
      val n = 3 + rnd.nextInt(10)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val d = docs.select(col("doc_id").as("__id"),
      graft.functions.TextFunctions.tokenSetSorted(col("text")).as("toks"))
    for (t <- Seq(300, 500, 800)) {
      val viaPrefix = Dedup.jaccardPairsFromTokens(d, minJaccardMills = t)
        .as[(Long, Long, Long)].collect().toSet
      val viaAll = Dedup.jaccardPairsAllPairs(d, minJaccardMills = t)
        .as[(Long, Long, Long)].collect().toSet
      assert(viaAll == viaPrefix, s"kernel drift at t=$t")
      assert(viaAll.nonEmpty || t == 800, s"degenerate fixture at t=$t")
    }
  }

  test("minhash LSH emits identical docs as candidates (dedup#minhash)") {
    val pairs = Dedup.minhashLshPairs(docs, "text", "doc_id",
      maxBucket = Int.MaxValue)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 3L)))
  }

  test("simhash of identical token sets is identical (dedup#simhash)") {
    val sh = Dedup.simhashBuckets(docs, "text")
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(3L))
    assert(sh(1L) == sh(2L)) // token-set canonicalization unifies case/ws
  }

  test("simhash near-dup pairing covers Hamming 0 and 1 (dedup#simhash-probe)") {
    val pairs = Dedup.simhashNearDupPairs(docs, "text", "doc_id", bits = 8)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect()
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    // identical token sets -> same signature -> hamming 0
    assert(byPair.get((1L, 2L)).contains(0))
    assert(byPair.get((1L, 3L)).contains(0))
    // every reported pair is within distance 1 by construction
    assert(pairs.forall(_._3 <= 1))
  }

  test("hammingNearDupPairs equals the naive all-pairs scan at every distance") {
    // random 24-bit hashes plus planted near-dup pairs at each distance
    val rnd = new scala.util.Random(41)
    val planted = Seq(
      1000L -> 0x123456L, 1001L -> 0x123456L,             // d = 0
      1002L -> (0x123456L ^ (1L << 7)),                   // d = 1 vs both
      1003L -> (0x123456L ^ (1L << 3) ^ (1L << 20)))      // d = 2
    val rows = planted ++ (1L to 300L).map(i =>
      i -> (rnd.nextLong() & ((1L << 24) - 1)))
    val df = rows.toDF("id", "h")
    for (maxD <- Seq(0, 1, 2, 3)) {
      val got = Dedup.hammingNearDupPairs(df, "id", "h", 24, maxD)
        .select("id_a", "id_b", "hamming").as[(Long, Long, Long)]
        .collect().toSeq
      assert(got.size == got.toSet.size, s"duplicates at maxD=$maxD")
      val naive = (for {
        (a, ha) <- rows; (b, hb) <- rows if a < b
        d = java.lang.Long.bitCount(ha ^ hb) if d <= maxD
      } yield (a, b, d.toLong)).toSet
      assert(got.toSet == naive, s"mismatch at maxD=$maxD")
    }
    // the planted pairs survive specifically
    val d2 = Dedup.hammingNearDupPairs(df, "id", "h", 24, 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(d2((1000L, 1001L)) && d2((1000L, 1002L)) && d2((1000L, 1003L)))
    intercept[IllegalArgumentException] {
      Dedup.hammingNearDupPairs(df, "id", "h", 24, 24)
    }
    intercept[IllegalArgumentException] {
      Dedup.hammingNearDupPairs(df, "id", "h", 0, 0)
    }
  }

  test("embedding near-dup within blocks (dedup#embedding)") {
    val vecs = Seq(
      (1L, 0, Array(1.0f, 0.0f, 0.0f)),
      (2L, 0, Array(0.99f, 0.01f, 0.0f)),
      (3L, 0, Array(0.0f, 1.0f, 0.0f)),
      (4L, 1, Array(1.0f, 0.0f, 0.0f))).toDF("id", "blk", "vec")
    val pairs = Dedup.embeddingNearDupPairs(vecs, "vec", "id", "blk", 900000L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L))) // 3 is orthogonal; 4 is another block
  }

  test("reconcile classifies insert/update/unchanged/delete-candidate (S6)") {
    val existing = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("key", "name", "v")
    val incoming = Seq((2L, "b", 21L), (3L, "c", 30L), (4L, "d", 40L))
      .toDF("key", "name", "v")
    val out = Merge.reconcile(existing, incoming, Seq("key"), Seq("name", "v"))
      .select("key", "action").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "delete-candidate", 2L -> "update",
      3L -> "unchanged", 4L -> "insert"))
  }

  test("pushPreview shows the first-n key-ordered insert/update rows") {
    val existing = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("key", "name", "v")
    val incoming = Seq((2L, "b", 21L), (4L, "d", 40L), (3L, "c", 30L))
      .toDF("key", "name", "v")
    val rec = Merge.reconcile(existing, incoming, Seq("key"), Seq("name", "v"))
    val prev = Merge.pushPreview(rec, Seq("key"), n = 2)
      .select("key", "action").as[(Long, String)].collect().toSeq
    // unchanged/delete-candidate rows never reach the push sink, so
    // they never reach the preview either; key order, capped at n
    assert(prev == Seq((2L, "update"), (3L, "insert")))
  }

  test("splitUpsert semi/anti fork (J4)") {
    val existing = Seq(Tuple1(1L), Tuple1(2L)).toDF("key")
    val incoming = Seq(Tuple1(2L), Tuple1(3L)).toDF("key")
    val (u, i) = Merge.splitUpsert(incoming, existing, Seq("key"))
    assert(u.as[Long].collect().toSeq == Seq(2L))
    assert(i.as[Long].collect().toSeq == Seq(3L))
  }

  test("connectedComponents labels every node with its component min") {
    // two components: a triangle {1,2,3} chained to 4 via 3-4, and {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    // a longer path exercises multi-round propagation (diameter 4)
    val chain = Seq((5L, 6L), (6L, 7L), (7L, 8L), (8L, 9L)).toDF("id_a", "id_b")
    val got2 = Dedup.connectedComponents(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2.values.toSet == Set(5L) && got2.size == 5)
  }

  test("connectedComponents is exact under duplicate and reversed-duplicate edges") {
    // the round-13 edge build drops the dedup exchange (min-label
    // propagation is idempotent under duplicate edges) — pin that a
    // multiset edge list with repeats and both orientations yields the
    // identical labeling, with exactly one row per node
    val noisy = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (2L, 3L),
        (10L, 11L), (11L, 10L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(noisy).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == got.map(_._1).distinct.length, "one row per node")
    assert(got.toMap == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("containmentPairs finds asymmetric quote-inclusion that Jaccard misses") {
    val corpus = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamma delta eps zeta eta theta iota kappa"),
      (3L, "totally unrelated content words here")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(corpus, "text", "doc_id",
        minContainMills = 700)
      .select("id_a", "id_b", "contain_mills")
      .as[(Long, Long, Long)].collect().toSet
    // 1's 3 tokens are all inside 2 -> C(1->2) = 1000; the reverse is
    // 300 and Jaccard is 300 — both below any dedup threshold
    assert(got == Set((1L, 2L, 1000L)))
    val jac = Dedup.jaccardPairs(corpus, "text", "doc_id", minJaccardMills = 700)
    assert(jac.count() == 0, "Jaccard must miss the quote-inclusion pair")
  }

  test("PROPERTY: prefix-filtered containmentPairs equals naive ordered " +
    "all-pairs on randomized corpora (asymmetric-prefix losslessness)") {
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    (1 to 3).foreach { trial =>
      val long = Seq.fill(8)(Seq.fill(6 + rnd.nextInt(5))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "))
      // contained fragments: subsets of the long docs' token sets
      val frags = long.take(4).map { t =>
        val ts = t.split(" ").distinct
        ts.take(2 + rnd.nextInt(ts.length - 1)).mkString(" ")
      }
      val texts = long ++ frags
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = Dedup.containmentPairs(df, "text", "doc_id",
          minContainMills = 600)
        .as[(Long, Long, Long)].collect().toSet
      def toks(t: String) = t.trim.toLowerCase.split("\\s+").distinct.toSet
      val ts = texts.map(toks).zipWithIndex
      val want = (for {
        (ta, a) <- ts; (tb, b) <- ts if a != b
        mills = 1000L * (ta & tb).size / ta.size
        if mills >= 600
      } yield (a.toLong, b.toLong, mills)).toSet
      assert(got == want, s"trial $trial: missing=${want -- got}, extra=${got -- want}")
    }
  }

  // pure-Scala twin of the md5 minhash contract (TextHash.minhashKernel)
  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(
      s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  private def toksOf(s: String): Array[String] =
    s.trim.toLowerCase.split("\\s+", -1).distinct
  private def bandsOf(text: String, bands: Int, rows: Int): Seq[String] = {
    val toks = toksOf(text)
    (0 until bands).map { b =>
      ((b * rows) until ((b + 1) * rows))
        .map(seed => toks.map(t => md5Hex(t + "#" + seed)).min)
        .mkString("|")
    }
  }

  test("dedupAgainst classifies exact/near/new against a corpus (dedup#incremental)") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (11L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (12L, "entirely unrelated corpus material about astronomy and telescopes")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "  THE quick brown fox jumps over the lazy dog near the river bank  "),
      (2L, "the quick brown fox jumps over the lazy dog near the river edge"),
      (3L, "completely novel subject matter nothing shared with anything")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupAgainst(batch, corpus, "text", "doc_id",
        minJaccardMills = 500,
        maxCandidates = Int.MaxValue)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1 normalizes to corpus text -> exact vs min corpus id 10
    assert(out(1L) == (("exact_dup", 10L, 1000L)))
    // doc 2 swaps "bank"->"edge": 10 of 12 distinct tokens shared with
    // 10/11 -> J = 833, and the md5 band contract collides on band 0;
    // best match ties to min id 10
    assert(out(2L)._1 == "near_dup" && out(2L)._2 == 10L)
    assert(out(2L)._3 == 1000L * 10 / 12)
    assert(out(3L) == (("new", -1L, -1L)))
  }

  test("PROPERTY: lossless dedupAgainst equals the naive classification " +
    "(exact key, band-collision AND exact-Jaccard) on random corpora") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    (1 to 3).foreach { trial =>
      val corpusTexts = Seq.fill(10)(Seq.fill(4 + rnd.nextInt(5))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "))
      // batch: clones, one-token perturbations, and fresh docs
      val batchTexts =
        corpusTexts.take(3) ++
        corpusTexts.slice(3, 6).map(_ + " " + vocab(rnd.nextInt(vocab.size))) ++
        Seq.fill(3)(Seq.fill(5)("zz" + rnd.nextInt(1000)).mkString(" "))
      val corpus = corpusTexts.zipWithIndex
        .map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text")
      val batch = batchTexts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = Dedup.dedupAgainst(batch, corpus, "text", "doc_id",
          minJaccardMills = 500,
          maxCandidates = Int.MaxValue)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSet
      // the prebuilt-index path must classify identically on every trial
      val viaIdx = Dedup.dedupAgainstIndex(batch,
          Dedup.buildDedupIndex(corpus, "text", "doc_id"), "text", "doc_id",
          minJaccardMills = 500,
          maxCandidates = Int.MaxValue)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(viaIdx == got, s"trial $trial: index path diverged")
      val want = batchTexts.zipWithIndex.map { case (bt, bi) =>
        val bKey = md5Hex(bt.trim.toLowerCase)
        val exact = corpusTexts.zipWithIndex.collect {
          case (ct, ci) if md5Hex(ct.trim.toLowerCase) == bKey => 100L + ci
        }
        if (exact.nonEmpty) (bi.toLong, "exact_dup", exact.min, 1000L)
        else {
          val bBands = bandsOf(bt, 2, 4)
          val cands = corpusTexts.zipWithIndex.filter { case (ct, _) =>
            bandsOf(ct, 2, 4).zip(bBands).exists { case (a, b) => a == b }
          }
          val verified = cands.flatMap { case (ct, ci) =>
            val (ta, tb) = (toksOf(bt).toSet, toksOf(ct).toSet)
            val inter = (ta & tb).size
            val jm = 1000L * inter / (ta.size + tb.size - inter)
            if (jm >= 500) Some((jm, 100L + ci)) else None
          }
          if (verified.isEmpty) (bi.toLong, "new", -1L, -1L)
          else {
            val (jm, cid) = verified.maxBy { case (j, c) => (j, -c) }
            (bi.toLong, "near_dup", cid, jm)
          }
        }
      }.toSet
      assert(got == want, s"trial $trial: missing=${want -- got}, extra=${got -- want}")
    }
  }

  test("dedupAgainstIndex over a persisted index equals the inline classification") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (12L, "entirely unrelated corpus material about astronomy and telescopes")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog near the river edge"),
      (3L, "completely novel subject matter nothing shared with anything")
    ).toDF("doc_id", "text")
    // the steady-state shape: the index is built ONCE and persisted;
    // batches probe the materialized frame, never corpus text
    val idx = Dedup.buildDedupIndex(corpus, "text", "doc_id")
      .localCheckpoint(true)
    assert(idx.columns.toSeq ==
      Seq("corpus_id", "content_key", "band_sigs", "toks"))
    val viaIndex = Dedup.dedupAgainstIndex(batch, idx, "text", "doc_id",
      maxCandidates = Int.MaxValue).collect().map(_.toString).sorted.toSeq
    val inline = Dedup.dedupAgainst(batch, corpus, "text", "doc_id",
      maxCandidates = Int.MaxValue).collect().map(_.toString).sorted.toSeq
    assert(viaIndex == inline)
  }

  test("steady-state: the dedup index round-trips through a BUCKETED " +
    "parquet table — verdicts equal the inline path, and the key-probe " +
    "aggregate is shuffle-free on the bucketed read") {
    val wh = java.nio.file.Files.createTempDirectory("graft-dedup-idx")
    spark.sql("DROP TABLE IF EXISTS dedup_index_bucketed")
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (11L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (12L, "entirely unrelated corpus material about astronomy and telescopes")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "  THE quick brown fox jumps over the lazy dog near the river bank  "),
      (2L, "the quick brown fox jumps over the lazy dog near the river edge"),
      (3L, "completely novel subject matter nothing shared with anything")
    ).toDF("doc_id", "text")
    // the documented steady state (buildDedupIndex scaladoc): persist
    // the index BUCKETED BY content_key and maintain it incrementally;
    // batches then probe the stored layout, never corpus text
    Dedup.buildDedupIndex(corpus, "text", "doc_id")
      .write.mode("overwrite")
      .bucketBy(8, "content_key").sortBy("content_key")
      .option("path", s"$wh/idx").saveAsTable("dedup_index_bucketed")
    try {
      val idx = spark.table("dedup_index_bucketed")
      val viaIndex = Dedup.dedupAgainstIndex(batch, idx, "text", "doc_id",
        maxCandidates = Int.MaxValue).collect().map(_.toString).sorted.toSeq
      val inline = Dedup.dedupAgainst(batch, corpus, "text", "doc_id",
        maxCandidates = Int.MaxValue).collect().map(_.toString).sorted.toSeq
      assert(viaIndex == inline,
        "bucketed-index classification diverged from the inline path")
      // plan contract: the exact-probe key aggregate (min corpus_id per
      // content_key — classifyAgainst's corpusKeys frame) rides the
      // bucket layout with NO exchange; the same aggregate derived
      // inline from corpus text must shuffle. (The band index and token
      // frames explode per-band/per-token and shuffle regardless —
      // bucketing targets the hot exact-probe path.)
      val keyAgg = idx
        .select(col("content_key").as("__ck"), col("corpus_id").as("__cid"))
        .groupBy("__ck").agg(min("__cid").as("__exact_id"))
      val bucketedPlan = keyAgg.queryExecution.executedPlan.toString
      assert(!bucketedPlan.contains("Exchange hashpartitioning"),
        s"bucketed key aggregate should be shuffle-free, got:\n$bucketedPlan")
      val inlineAgg = corpus
        .select(graft.functions.TextFunctions.contentKey(col("text"))
          .as("__ck"), col("doc_id").as("__cid"))
        .groupBy("__ck").agg(min("__cid").as("__exact_id"))
      assert(inlineAgg.queryExecution.executedPlan.toString
          .contains("Exchange hashpartitioning"),
        "inline key aggregate unexpectedly shuffle-free — the bucketed " +
          "comparison above proves nothing")
    } finally spark.sql("DROP TABLE IF EXISTS dedup_index_bucketed")
  }

  test("steady-state MAINTENANCE: appending a classified batch's new docs " +
    "into the bucketed index equals a from-scratch rebuild") {
    // the true daily loop at corpus scale: classify a batch against
    // the stored index, append ONLY the `new` survivors' index rows
    // (same bucketed layout), and classify the next batch against the
    // grown table — never re-deriving the standing corpus. Proven here
    // by triangulating batch 2's verdicts three ways: appended table ==
    // scratch-rebuilt index == inline corpus-text classification.
    val wh = java.nio.file.Files.createTempDirectory("graft-dedup-incr")
    spark.sql("DROP TABLE IF EXISTS dedup_index_incr")
    val corpus0 = Seq(
      (10L, "entirely unrelated corpus material about astronomy and telescopes"),
      (11L, "another corpus document describing ancient history and medieval castles")
    ).toDF("doc_id", "text")
    Dedup.buildDedupIndex(corpus0, "text", "doc_id")
      .write.mode("overwrite")
      .bucketBy(8, "content_key").sortBy("content_key")
      .option("path", s"$wh/idx").saveAsTable("dedup_index_incr")
    try {
      // batch 1: one novel doc (the 'river bank' band-contract fixture)
      // and one exact dup of corpus doc 10 — only the novel doc's
      // index rows may be appended
      val batch1 = Seq(
        (20L, "the quick brown fox jumps over the lazy dog near the river bank"),
        (21L, "entirely unrelated corpus material about astronomy and telescopes")
      ).toDF("doc_id", "text")
      val v1 = Dedup.dedupAgainstIndex(batch1, spark.table("dedup_index_incr"),
        "text", "doc_id", maxCandidates = Int.MaxValue)
      val newIds1 = v1.where(col("verdict") === "new")
        .select("doc_id").as[Long].collect().toSet
      assert(newIds1 == Set(20L), s"got $newIds1")
      // append the survivors' index rows into the SAME bucketed layout
      // (insertInto honors the table's bucket spec — each append job
      // writes its own bucket files, the exact steady-state mechanics)
      Dedup.buildDedupIndex(
          batch1.where(col("doc_id").isInCollection(newIds1)),
          "text", "doc_id")
        .write.mode("append").insertInto("dedup_index_incr")
      // batch 2 probes every appended surface: a near dup of appended
      // doc 20 ('river edge' — the FOUND band-0 collision), an exact
      // dup of 20, an exact dup of ORIGINAL corpus doc 11, one novel
      val batch2 = Seq(
        (30L, "the quick brown fox jumps over the lazy dog near the river edge"),
        (31L, "the quick brown fox jumps over the lazy dog near the river bank"),
        (32L, "another corpus document describing ancient history and medieval castles"),
        (33L, "genuinely fresh material on cooking techniques and recipes")
      ).toDF("doc_id", "text")
      def verdicts(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.toString).sorted.toSeq
      val viaAppended = verdicts(Dedup.dedupAgainstIndex(
        batch2, spark.table("dedup_index_incr"), "text", "doc_id",
        maxCandidates = Int.MaxValue))
      val grownCorpus = corpus0.unionByName(
        batch1.where(col("doc_id").isInCollection(newIds1)))
      val viaScratch = verdicts(Dedup.dedupAgainstIndex(
        batch2, Dedup.buildDedupIndex(grownCorpus, "text", "doc_id"),
        "text", "doc_id", maxCandidates = Int.MaxValue))
      val viaInline = verdicts(Dedup.dedupAgainst(
        batch2, grownCorpus, "text", "doc_id",
        maxCandidates = Int.MaxValue))
      assert(viaAppended == viaScratch,
        "appended index diverged from a from-scratch rebuild")
      assert(viaAppended == viaInline,
        "appended index diverged from the inline corpus-text path")
      // and the verdicts themselves are the expected ones
      val m = Dedup.dedupAgainstIndex(batch2,
          spark.table("dedup_index_incr"), "text", "doc_id",
          maxCandidates = Int.MaxValue)
        .select("doc_id", "verdict", "matched_id")
        .as[(Long, String, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
      assert(m(30L) == ("near_dup", 20L))
      assert(m(31L) == ("exact_dup", 20L))
      assert(m(32L) == ("exact_dup", 11L))
      assert(m(33L)._1 == "new")
      // the plan contract SURVIVES the append: the exact-probe key
      // aggregate on the grown table is still exchange-free (multiple
      // bucket files per bucket are fine — the layout is what matters)
      val keyAgg = spark.table("dedup_index_incr")
        .select(col("content_key").as("__ck"), col("corpus_id").as("__cid"))
        .groupBy("__ck").agg(min("__cid").as("__exact_id"))
      assert(!keyAgg.queryExecution.executedPlan.toString
          .contains("Exchange hashpartitioning"),
        "append broke the shuffle-free bucketed key probe")
    } finally spark.sql("DROP TABLE IF EXISTS dedup_index_incr")
  }

  test("dedupAgainst maxCandidates cap keeps the most-colliding corpus " +
    "candidates and can (contractually) miss matches beyond the cap") {
    // corpus: one true near-dup of the batch doc plus a boilerplate
    // band-collider; cap=1 must keep the candidate with MORE shared bands
    val batchText = "alpha beta gamma delta eps zeta eta theta"
    val corpus = Seq(
      (20L, "alpha beta gamma delta eps zeta eta theta iota"), // J=8/9, both bands collide
      (21L, "unrelated words only for padding here now")
    ).toDF("doc_id", "text")
    val batch = Seq((1L, batchText)).toDF("doc_id", "text")
    val capped = Dedup.dedupAgainst(batch, corpus, "text", "doc_id",
      minJaccardMills = 500, maxCandidates = 1)
    val r = capped.collect().head
    assert(r.getString(1) == "near_dup" && r.getLong(2) == 20L)
    // and the capped verdict set is never larger than the lossless one
    val lossless = Dedup.dedupAgainst(batch, corpus, "text", "doc_id",
      minJaccardMills = 500,
      maxCandidates = Int.MaxValue)
    assert(capped.where($"verdict" === "near_dup").count() <=
      lossless.where($"verdict" === "near_dup").count())
    // cap=1 with exactly one candidate: the cap did NOT bind — the
    // observability flag must stay false (flag = truncation, not
    // "a cap was configured")
    assert(capped.select("capped").as[Boolean].collect().forall(!_))
    assert(lossless.select("capped").as[Boolean].collect().forall(!_))
  }

  test("dedupAgainst reports the lossy path: `capped` is true exactly for " +
    "docs whose candidate set the cap truncated — including a missed near-dup") {
    // CONSTRUCTED miss: two corpus docs that both collide on BOTH
    // bands with the batch doc, so the rank (collision count desc,
    // ties min id) keeps the LOW-Jaccard one at cap=1 and drops the
    // true near-dup. Band signatures are computed with the spec's own
    // md5 helpers: a padding token is "non-disturbing" when adding it
    // changes no band minimum, so J drops while the bands stay equal.
    val baseToks = Seq("alpha", "beta", "gamma", "delta",
      "eps", "zeta", "eta", "theta")
    val batchText = baseToks.mkString(" ")
    val sig = bandsOf(batchText, 2, 4)
    def nonDisturbing(w: String): Boolean =
      bandsOf(batchText + " " + w, 2, 4) == sig
    // 9 paddings → J = 8/17 = 470 < 500; 1 padding → J = 8/9 = 888
    val pads = (0 until 2000).map(i => s"pad$i").filter(nonDisturbing)
    assume(pads.size >= 10, s"helper search found only ${pads.size} paddings")
    val lowJText = (baseToks ++ pads.take(9)).mkString(" ")
    val nearText = (baseToks :+ pads(9)).mkString(" ")
    assert(bandsOf(lowJText, 2, 4) == sig && bandsOf(nearText, 2, 4) == sig)
    val corpus = Seq((50L, lowJText), (51L, nearText)).toDF("doc_id", "text")
    val batch = Seq((1L, batchText),
      (2L, "wholly unrelated novel content")).toDF("doc_id", "text")
    val capped = Dedup.dedupAgainst(batch, corpus, "text", "doc_id",
        minJaccardMills = 500, maxCandidates = 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getBoolean(4)))).toMap
    // doc 1: both candidates collide twice → tie to min id 50 (J=470,
    // fails verify) → the TRUE near-dup 51 was dropped: verdict `new`
    // — and the flag says so
    assert(capped(1L) == (("new", -1L, true)), s"got ${capped(1L)}")
    // doc 2 had no candidates: never truncated, never flagged
    assert(capped(2L) == (("new", -1L, false)), s"got ${capped(2L)}")
    // lossless run on the same frames finds 51 and stays unflagged
    val lossless = Dedup.dedupAgainst(batch, corpus, "text", "doc_id",
        minJaccardMills = 500,
        maxCandidates = Int.MaxValue)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getBoolean(4)))).toMap
    assert(lossless(1L) == (("near_dup", 51L, false)), s"got ${lossless(1L)}")
    // the "how often did the lossy path fire" ledger a production run
    // would emit: one doc of two
    assert(capped.values.count(_._3) == 1)
  }

  test("missingDimRows derives deterministic create-set (J5)") {
    val dim = Seq(("Almond Milk", "P1")).toDF("title", "ext_id")
    val items = Seq(Tuple1("almond milk"), Tuple1("Oat Milk"), Tuple1("oat milk"), Tuple1(""))
      .toDF("item_name")
    val out = Merge.missingDimRows(items, dim, "item_name", "title", "NEW-")
      .collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("title") == "Oat Milk" ||
      out(0).getAs[String]("title") == "oat milk")
    assert(out(0).getAs[String]("ext_id").startsWith("NEW-"))
  }

  test("applyCdc: every branch — update, insert, tombstone, untouched, D-then-U") {
    val snap = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L),
      (4L, "d", 40L)).toDF("k", "name", "v")
    val ops = Seq(
      (1L, 100L, "U", 11L),            // update
      (2L, 101L, "D", 0L),             // tombstone
      (5L, 102L, "U", 55L),            // insert (key not in snapshot)
      (3L, 103L, "D", 0L),             // D then U: the LATER U wins
      (3L, 104L, "U", 33L)
    ).toDF("k", "seq", "op", "v")
    val out = Merge.applyCdc(snap, ops, "k", "seq", "op")
      .orderBy("k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("name"),
        r.getAs[Long]("v"), r.getAs[String]("cdc_src"),
        r.getAs[Long]("last_seq")))
    assert(out.toSeq == Seq(
      (1L, "a", 11L, "updated", 100L),
      (3L, "c", 33L, "updated", 104L), // latest seq wins over the D
      (4L, "d", 40L, "snapshot", -1L),
      (5L, null, 55L, "inserted", 102L)), out.mkString("; "))
    // reserved-column + unknown-payload guards fail loud
    intercept[IllegalArgumentException] {
      Merge.applyCdc(snap.withColumnRenamed("name", "cdc_src"), ops, "k", "seq", "op")
    }
    intercept[IllegalArgumentException] {
      Merge.applyCdc(snap, ops.withColumnRenamed("v", "nope"), "k", "seq", "op")
    }
  }

  test("applyCdc: duplicate (key, seq) ties break deterministically") {
    val snap = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "name", "v")
    // key 1: U and D share seq 100 → op desc means the U wins, every
    // run, regardless of input partition order; key 2: two Us share
    // seq 200 → the greater payload struct wins
    val ops = Seq(
      (1L, 100L, "D", 0L), (1L, 100L, "U", 11L),
      (2L, 200L, "U", 21L), (2L, 200L, "U", 22L)
    ).toDF("k", "seq", "op", "v")
    def run(o: org.apache.spark.sql.DataFrame) =
      Merge.applyCdc(snap, o, "k", "seq", "op")
        .orderBy("k").collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[Long]("v"),
          r.getAs[String]("cdc_src"))).toSeq
    val expected = Seq((1L, 11L, "updated"), (2L, 22L, "updated"))
    assert(run(ops) == expected)
    // reversed input order and a different partitioning: same answer
    assert(run(ops.orderBy(col("seq").desc, col("v").asc).repartition(7))
      == expected)
  }

  test("applyCdc: non-orderable (map) payload columns still apply") {
    // the payload-struct tie-break must skip map columns (they cannot
    // be sort keys) rather than fail analysis for callers whose seq
    // values are unique anyway
    val snap = Seq((1L, Map("a" -> "x"), 10L)).toDF("k", "attrs", "v")
    val ops = Seq((1L, 100L, "U", Map("b" -> "y"), 11L))
      .toDF("k", "seq", "op", "attrs", "v")
    val out = Merge.applyCdc(snap, ops, "k", "seq", "op").collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("v") == 11L)
    assert(out.head.getAs[Map[String, String]]("attrs") == Map("b" -> "y"))
  }


  test("reconcile: presence is a marker, not data nullability — an " +
      "incoming NULL reads unchanged, never a phantom update") {
    val existing = Seq((1L, Some("a")), (2L, Some("b"))).toDF("key", "name")
    val incoming = Seq((1L, Option.empty[String]), (3L, Option.empty[String]))
      .toDF("key", "name")
    val out = Merge.reconcile(existing, incoming, Seq("key"), Seq("name"))
    val m = out.select("key", "action").as[(Long, String)].collect().toMap
    // key 1: incoming NULL never overwrites (merged = coalesce), so the
    //        row is unchanged — a raw NULL<=>'a' compare would have
    //        emitted a spurious 'update' to the push sink
    // key 2: absent from incoming — delete-candidate, even though its
    //        compare column would be NULL after the outer join
    // key 3: a brand-new key whose ONLY compare column is NULL is still
    //        present on the incoming side — insert, not delete-candidate
    assert(m == Map(1L -> "unchanged", 2L -> "delete-candidate",
      3L -> "insert"))
    val merged = out.where($"key" === 1L).select("name").as[String].head()
    assert(merged == "a") // incoming NULL did not clobber the value
    intercept[IllegalArgumentException] {
      Merge.reconcile(existing.withColumnRenamed("name", "present"),
        incoming.withColumnRenamed("name", "present"),
        Seq("key"), Seq("present"))
    }
  }


  test("simhashNearDupPairs computes signatures at the REQUESTED width") {
    // the regression this pins: signatures were hardcoded 16-bit while
    // probes flipped `bits` bits, silently missing every pair whose
    // 16-bit signatures differ outside the probed range
    val docs = (1L to 12L).map(i => (i, s"w$i alpha beta gamma delta"))
      .toDF("id", "text")
    def sigs(bits: Int): Map[Long, Long] =
      Dedup.simhashBuckets(docs, "text", bits)
        .select("id", "simhash").as[(Long, Long)].collect().toMap
    val s4 = sigs(4); val s16 = sigs(16)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // deterministic md5-derived fixture: pairs at 4-bit Hamming <= 1
    // whose 16-bit Hamming is > 1 exist (assert, then pin them)
    val qualifying = for {
      a <- 1L to 12L; b <- (a + 1) to 12L
      if ham(s4(a), s4(b)) <= 1 && ham(s16(a), s16(b)) > 1
    } yield (a, b)
    assert(qualifying.nonEmpty, "fixture lost its qualifying pairs")
    val got = Dedup.simhashNearDupPairs(docs, "text", "id", bits = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    qualifying.foreach { p =>
      assert(got.contains(p), s"pair $p (4-bit close, 16-bit far) missed")
    }
  }

  test("exact: NULL text is never a duplicate (classifyAgainst agreement)") {
    val df = Seq((1L, Option.empty[String]), (2L, None), (3L, Some("x")),
      (4L, Some("x"))).toDF("id", "text")
    val out = Dedup.exact(df, "text", "id")
      .select("id", "dup_count").as[(Long, Long)].collect().toMap
    // both null-text docs survive as singletons; the real dup collapses
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 2L))
  }

  test("cappedBucketPairs: NULL bucket keys never pair on ANY path") {
    val byKey = Seq((Option.empty[String], 1L), (None, 2L), (None, 3L),
      (Some("k"), 4L), (Some("k"), 5L)).toDF("band", "id")
    // star path (cap 1) and join path (uncapped) must agree: the three
    // null-key rows pair on neither — only (4,5) appears
    Seq(1, Int.MaxValue).foreach { cap =>
      val got = Dedup.cappedBucketPairs(byKey, Seq("band"), "id", cap)
        .as[(Long, Long)].collect().toSet
      assert(got == Set((4L, 5L)), s"cap=$cap: $got")
    }
  }
}
