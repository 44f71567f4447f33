package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySearchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val emb = spark.read
    .parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
  lazy val queries = emb.where($"vec_id" % 20 === 0)

  test("brute force returns exactly k ordered neighbors per query") {
    val out = SimilaritySearch.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
    val counts = out.groupBy("query_id").count().select("count").as[Long].collect()
    assert(counts.forall(_ == 5))
    val firstQ = out.where($"query_id" === 0).orderBy("rank")
      .select("cos_sq_scaled").as[Long].collect()
    assert(firstQ.toSeq == firstQ.sortBy(-_).toSeq) // descending by score
  }

  test("Rademacher LSH ANN preserves exact pair scores and bucket closure") {
    val lsh = SimilaritySearch.rademacherLshTopK(queries, emb, "vec_id", "embedding",
      k = 5, nPlanes = 4, dim = 64)
    assert(lsh.count() > 0)
    val bf = SimilaritySearch.bruteForceTopK(queries, emb, "vec_id", "embedding",
      k = Int.MaxValue - 1)
    val mismatched = lsh.as("l").join(bf.as("b"), Seq("query_id", "neighbor_id"))
      .where(col("l.cos_sq_scaled") =!= col("b.cos_sq_scaled"))
    assert(mismatched.count() == 0)
    // the bucket function is pure: a query must never out-rank its own
    // bucket — every rank sequence starts at 1 and is gapless
    val ranks = lsh.groupBy("query_id")
      .agg(min("rank").as("mn"), max("rank").as("mx"), count(lit(1)).as("n"))
      .where(col("mn") =!= 1 || col("mx") =!= col("n"))
    assert(ranks.count() == 0)
  }

  test("k-means assigns every vector to an existing cell, deterministically") {
    val a = SimilaritySearch.kmeansAssignments(emb, "vec_id", "embedding",
      k = 4, iters = 2)
    val rows = a.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.length == emb.count())
    assert(rows.map(_._1).distinct.length == rows.length, "duplicate assignment")
    val cells = rows.map(_._2).distinct
    assert(cells.length > 1 && cells.length <= 4, s"got ${cells.length} cells")
    val again = SimilaritySearch.kmeansAssignments(emb, "vec_id", "embedding",
      k = 4, iters = 2).collect().map(r => r.getLong(0) -> r.getLong(1))
    // compare as maps: the ASSIGNMENT must be identical; row order out
    // of an unordered plan is incidental
    assert(rows.toMap == again.toMap, "assignment not deterministic")
  }

  test("k-means per-round cost is flat: the source is scanned once at any iters") {
    // accumulator bumps once per partition per SOURCE scan; the
    // checkpointed quantized corpus must absorb every later action
    // (seed collect, per-round centroid collects, final assignment), so
    // a 5-round run reads the source no more often than a 1-round run.
    val acc = spark.sparkContext.longAccumulator("corpus-scans")
    val base = (0L until 200L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 31 + d * 7) % 100).toFloat / 100)))
    def instrumented = base.toDF("vec_id", "embedding")
      .as[(Long, Array[Float])]
      .mapPartitions { it => acc.add(1); it }
      .toDF("vec_id", "embedding")
    acc.reset()
    SimilaritySearch.kmeansAssignments(instrumented, "vec_id", "embedding",
      k = 4, iters = 1).count()
    val oneRound = acc.value
    acc.reset()
    SimilaritySearch.kmeansAssignments(instrumented, "vec_id", "embedding",
      k = 4, iters = 5).count()
    val fiveRounds = acc.value
    assert(fiveRounds <= oneRound,
      s"iters=5 scanned the source $fiveRounds partition-reads vs $oneRound at iters=1")
  }

  test("broadcast and inline centroid deliveries produce identical assignments") {
    // same seeds, same kernel, different delivery (plan literals vs a
    // one-row broadcast relation): the (vec_id, cell) maps must be
    // equal on a shared sub-budget config — the contract that makes the
    // automatic past-budget dispatch safe.
    val cents = Array(
      (3L, Seq(90L, 10L, 5L, 0L)), (7L, Seq(0L, 80L, 40L, 2L)),
      (11L, Seq(50L, 50L, 50L, 50L)))
    val vecs = (0L until 200L).map(i =>
      (i, Seq.tabulate(4)(d => ((i * 13 + d * 29) % 100): Long)))
      .toDF("vec_id", "q")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell").as[(Long, Long)].collect().toMap
    val inline = asMap(SimilaritySearch.assignCellsInline(
      vecs, "q", cents, "cell", probes = 1))
    val bcast = asMap(SimilaritySearch.assignCellsBroadcast(
      vecs, "q", cents, "cell", probes = 1))
    assert(inline.size == 200 && inline == bcast)
    // multi-probe agrees too (probe sets, not just the argmax)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell").as[(Long, Long)].collect().toSet
    assert(
      asSet(SimilaritySearch.assignCellsInline(vecs, "q", cents, "cell", 2)) ==
      asSet(SimilaritySearch.assignCellsBroadcast(vecs, "q", cents, "cell", 2)))
  }

  test("configs past the literal budget dispatch to the broadcast path and complete") {
    // 120 cells x 701 literals/cell = 84k nodes > the 64k inline budget:
    // previously a loud reject, now an automatic broadcast-join
    // assignment — k-independent plan size, no Catalyst/Janino stall.
    val wide = (0L until 240L).map(i =>
      (i, Array.tabulate(700)(d => ((i + d) % 50).toFloat)))
      .toDF("vec_id", "embedding")
    val a = SimilaritySearch.kmeansAssignments(wide, "vec_id", "embedding",
      k = 120, iters = 1)
    val rows = a.select("vec_id", "cell").as[(Long, Long)].collect()
    assert(rows.length == 240)
    assert(rows.map(_._1).distinct.length == 240, "duplicate assignment")
  }

  test("IVF ANN probes cells and preserves exact pair scores") {
    val ivf = SimilaritySearch.ivfTopK(queries, emb, "vec_id", "embedding",
      k = 5, nCells = 4)
    assert(ivf.count() > 0)
    val counts = ivf.groupBy("query_id").count().select("count").as[Long].collect()
    assert(counts.forall(_ <= 5))
    // recall sanity on a clustered corpus: the probed cell should give a
    // decent fraction of true top-5 (not a correctness bound — recorded
    // to catch regressions in cell assignment)
    val bf = SimilaritySearch.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
    val hit = ivf.join(bf, Seq("query_id", "neighbor_id"), "left_semi").count()
    assert(hit > 0, "IVF recalled none of the true top-5")
  }

  test("IVF recall is monotone in nProbe and exhaustive probing is exact") {
    val bf = SimilaritySearch.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
    def recall(nProbe: Int): Long =
      SimilaritySearch.ivfTopK(queries, emb, "vec_id", "embedding",
        k = 5, nCells = 4, nProbe = nProbe)
        .join(bf, Seq("query_id", "neighbor_id"), "left_semi").count()
    val r1 = recall(1); val r2 = recall(2); val rAll = recall(4)
    // probing more cells can only add candidates: recall never drops
    assert(r1 <= r2 && r2 <= rAll, s"recall not monotone: $r1, $r2, $rAll")
    // probing every cell = scoring the whole corpus = exact top-5
    assert(rAll == bf.count(), s"exhaustive probe missed: $rAll of ${bf.count()}")
  }

  test("IVF recall floors at nCells=16, nProbe=4 on the sf0.01 corpus") {
    // NUMERIC floors, not just monotonicity: quantizer or assignment
    // regressions that silently gut recall must fail loudly. The sf0.01
    // embeddings are uniform on the sphere (no planted clusters), which
    // BOUNDS achievable recall: probing 4 of 16 cells covers ~25% of
    // the corpus, own-cell locality lifts measured recall@10 to a
    // deterministic 0.50 (every input is RNG-free) — so the floor is
    // 0.45: a broken assignment kernel degrades to the ~0.25 uniform
    // draw and fails, while legitimate centroid tweaks keep headroom.
    val e01 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q01 = e01.where($"vec_id" % 25 === 0)
    val bf = SimilaritySearch.bruteForceTopK(q01, e01, "vec_id", "embedding", 10)
    val ivf = SimilaritySearch.ivfTopK(q01, e01, "vec_id", "embedding",
      k = 10, nCells = 16, nProbe = 4)
    val hits = ivf.join(bf, Seq("query_id", "neighbor_id"), "left_semi").count()
    val truth = bf.count()
    val recall = hits.toDouble / truth
    assert(recall >= 0.45, f"recall@10 = $recall%.3f ($hits of $truth) < 0.45 floor")

    // the sharp gate: exact-twin queries (corpus vectors re-identified)
    // quantize identically, so any sane coarse quantizer assigns query
    // and original to the SAME cell — recall@1 must be 1.0 even at
    // nProbe=1. This is the exact regression a mis-assigned query vs
    // corpus split (e.g. diverging quantize/assign paths) breaks first.
    val twins = e01.where($"vec_id" % 25 === 3)
      .select(($"vec_id" + 100000).as("vec_id"), $"embedding")
    val nTwins = twins.count()
    val bf1 = SimilaritySearch.bruteForceTopK(twins, e01, "vec_id", "embedding", 1)
    // every twin's true top-1 is its original at cos² = 1.0 (the kernel
    // computes in IEEE doubles, so the floor can land on 999999)
    assert(bf1.where($"cos_sq_scaled" >= 999999L).count() == nTwins)
    val ivf1 = SimilaritySearch.ivfTopK(twins, e01, "vec_id", "embedding",
      k = 1, nCells = 16, nProbe = 1)
    val found = bf1.join(ivf1, Seq("query_id", "neighbor_id"), "left_semi").count()
    assert(found == nTwins, s"twin recall@1: $found of $nTwins at nProbe=1")
  }

  test("PQ-ADC ANN: shape, determinism, self-exclusion, rank order") {
    val out = SimilaritySearch.pqTopK(queries, emb, "vec_id", "embedding",
      k = 5, m = 4, ksub = 8, iters = 2).cache()
    val counts = out.groupBy("query_id").count().select("count").as[Long].collect()
    assert(counts.nonEmpty && counts.forall(_ == 5))
    assert(out.where($"query_id" === $"neighbor_id").count() == 0)
    // rank 1..5 ascending in adc_l2 per query
    val rows = out.orderBy("query_id", "rank")
      .select("query_id", "rank", "adc_l2").as[(Long, Long, Long)].collect()
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to 5L))
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sorted.toSeq)
    }
    // deterministic end to end: a second full run is row-identical
    val again = SimilaritySearch.pqTopK(queries, emb, "vec_id", "embedding",
      k = 5, m = 4, ksub = 8, iters = 2)
    assert(out.except(again).count() == 0 && again.except(out).count() == 0)
    out.unpersist()
    intercept[IllegalArgumentException] {
      SimilaritySearch.pqTopK(queries, emb, "vec_id", "embedding",
        k = 5, m = 5, ksub = 8, iters = 2) // 64 % 5 != 0
    }
  }

  test("PQ recall floor vs exact quantized L2 on the test corpus") {
    // ADC is an approximation of exact L2 by construction (Jégou et
    // al. §3): pin the measured recall@5 floor against the exact-L2
    // driver twin so a codebook/encode/LUT regression fails loudly.
    val vecs = emb.select($"vec_id",
        graft.functions.VectorFunctions.quantize($"embedding").as("q"))
      .as[(Long, Seq[Long])].collect().toMap
    def l2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val qIds = queries.select("vec_id").as[Long].collect()
    val exactTop = qIds.map { qid =>
      qid -> vecs.collect { case (id, v) if id != qid => (l2(vecs(qid), v), id) }
        .toSeq.sorted.take(5).map(_._2).toSet
    }.toMap
    def recallAt(m: Int, ksub: Int): Double = {
      val pq = SimilaritySearch.pqTopK(queries, emb, "vec_id", "embedding",
          k = 5, m = m, ksub = ksub, iters = 2)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      qIds.map(q => (pq(q) & exactTop(q)).size).sum.toDouble / (qIds.length * 5)
    }
    // the fixture's vectors are near-uniform random — the worst case
    // for PQ (no cluster structure, distance concentration), so
    // absolute recall is LOW by nature. Measured on this corpus:
    // m=4/ksub=8 → 0.088, m=16/ksub=8 → 0.184. Pin (a) a floor under
    // the measured q111 config and (b) the theory-predicted direction:
    // recall grows with total code bits (Jégou et al. §7).
    val coarse = recallAt(4, 8)
    assert(coarse >= 0.05, f"PQ recall@5 = $coarse%.3f below floor")
    val fine = recallAt(16, 8)
    assert(fine > coarse,
      f"finer quantization must not lose recall: $fine%.3f vs $coarse%.3f")
  }

  test("PQ finds planted exact twins: the original ties for minimum ADC") {
    // an exact duplicate shares every subspace code with its query, and
    // per-subspace argmin encoding makes the query's own cell the ADC
    // minimum — so the original MUST surface in its twin's top-k (up to
    // full-code-collision ties, absent on this corpus)
    val twins = emb.where($"vec_id" % 25 === 3)
      .select(($"vec_id" + 100000).as("vec_id"), $"embedding", $"label")
    val corpus = emb.unionByName(twins)
    val out = SimilaritySearch.pqTopK(twins, corpus, "vec_id", "embedding",
      k = 5, m = 4, ksub = 8, iters = 2)
    val nTwins = twins.count()
    val hit = out.where($"neighbor_id" === $"query_id" - 100000)
    assert(hit.count() == nTwins,
      s"${hit.count()} of $nTwins originals surfaced in their twins' top-5")
    // and each such hit carries the query's own quantization error —
    // the minimum ADC in its result list
    val minAdc = out.groupBy("query_id").agg(min("adc_l2").as("mn"))
    val notMin = hit.join(minAdc, "query_id").where($"adc_l2" > $"mn")
    assert(notMin.count() == 0, "a twin's original must tie the ADC minimum")
  }

  test("IVFADC: shape, probed-cell containment, determinism, guards") {
    val out = SimilaritySearch.ivfPqTopK(queries, emb, "vec_id", "embedding",
      k = 5, nCells = 8, nProbe = 2, m = 4, ksub = 8, iters = 2).cache()
    assert(out.groupBy("query_id").count().select("count").as[Long]
      .collect().forall(_ <= 5))
    assert(out.where($"query_id" === $"neighbor_id").count() == 0)
    // candidates may come ONLY from the query's probed cells: at
    // nProbe = nCells every corpus row is probed and the result must
    // contain the nProbe=2 result's pairs ranked at least as well
    // (monotone candidate growth, same scoring)
    val full = SimilaritySearch.ivfPqTopK(queries, emb, "vec_id", "embedding",
      k = Int.MaxValue - 1, nCells = 8, nProbe = 8, m = 4, ksub = 8, iters = 2)
    val missing = out.select("query_id", "neighbor_id", "adc_l2").as("p")
      .join(full.select("query_id", "neighbor_id", "adc_l2").as("f"),
        Seq("query_id", "neighbor_id"), "left_anti")
    assert(missing.count() == 0,
      "every probed pair must exist in the all-cells scan with the same score")
    // and the ADC score for a shared pair is identical (probing prunes
    // candidates, never changes residual scores)
    val mismatched = out.as("p").join(full.as("f"), Seq("query_id", "neighbor_id"))
      .where(col("p.adc_l2") =!= col("f.adc_l2"))
    assert(mismatched.count() == 0)
    val again = SimilaritySearch.ivfPqTopK(queries, emb, "vec_id", "embedding",
      k = 5, nCells = 8, nProbe = 2, m = 4, ksub = 8, iters = 2)
    assert(out.except(again).count() == 0 && again.except(out).count() == 0)
    out.unpersist()
    intercept[IllegalArgumentException] {
      SimilaritySearch.ivfPqTopK(queries, emb, "vec_id", "embedding",
        k = 5, nCells = 0, nProbe = 1)
    }
  }

  test("IVFADC residual coding beats plain PQ recall on clustered data") {
    // the point of encoding residuals (Jégou et al. §5): once the
    // coarse quantizer captures the cluster, the code budget spends on
    // WITHIN-cluster detail — which plain PQ codes cannot represent
    // (they saturate on the cluster prototypes). This only operates
    // when the data HAS locality: on the near-uniform random fixture
    // residual energy ≈ 2× vector energy (centroids are arbitrary
    // far-away vectors) and residual coding measurably LOSES — so the
    // gate runs on a deterministic clustered corpus: 8 well-separated
    // centers, 25 members each = center + small structured noise,
    // where top-5 truth is decided by the noise the residual codes.
    val dim = 64
    def center(j: Int, d: Int): Double = (((j * 37 + d * 17) % 2000) - 1000) / 1000.0
    def noise(i: Int, d: Int): Double = (((i * 13 + d * 7) % 21) - 10) / 1000.0
    val rows = (0 until 200).map { i =>
      val j = i % 8
      (i.toLong, Array.tabulate(dim)(d => (center(j, d) + noise(i, d)).toFloat))
    }
    val cl = rows.toDF("vec_id", "embedding")
    val qs = cl.where($"vec_id" % 20 === 0)
    val vecs = cl.select($"vec_id",
        graft.functions.VectorFunctions.quantize($"embedding").as("q"))
      .as[(Long, Seq[Long])].collect().toMap
    def l2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val qIds = qs.select("vec_id").as[Long].collect()
    val exactTop = qIds.map { qid =>
      qid -> vecs.collect { case (id, v) if id != qid => (l2(vecs(qid), v), id) }
        .toSeq.sorted.take(5).map(_._2).toSet
    }.toMap
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("query_id", "neighbor_id").as[(Long, Long)]
        .collect().groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      qIds.map(q => (got.getOrElse(q, Set.empty) & exactTop(q)).size).sum
        .toDouble / (qIds.length * 5)
    }
    // nProbe = nCells isolates the coding difference (no probe loss)
    val ivfadc = recallOf(SimilaritySearch.ivfPqTopK(qs, cl,
      "vec_id", "embedding", k = 5, nCells = 8, nProbe = 8,
      m = 4, ksub = 8, iters = 2))
    val plain = recallOf(SimilaritySearch.pqTopK(qs, cl,
      "vec_id", "embedding", k = 5, m = 4, ksub = 8, iters = 2))
    assert(ivfadc > plain,
      f"residual coding must help on clustered data: " +
        f"ivfadc $ivfadc%.3f vs plain $plain%.3f")
  }

  test("semanticDedup drops exact duplicates, keeps originals, covers every row") {
    // exact duplicates quantize identically -> same cell, cos² = 1 ->
    // the higher ids must be dropped and the lowest kept, regardless of
    // where the learned cells land
    val twins = emb.where($"vec_id" % 25 === 3)
      .select(($"vec_id" + 100000).as("vec_id"), $"embedding", $"label")
    val corpus = emb.unionByName(twins)
    val out = SimilaritySearch.semanticDedup(
      corpus, "vec_id", "embedding", k = 4, iters = 2,
      minCosSqScaled = 999999L).cache()
    assert(out.count() == corpus.count(), "every corpus row must be decided")
    val twinIds = twins.select("vec_id").as[Long].collect().toSet
    val droppedIds = out.where($"dropped").select("vec_id").as[Long].collect().toSet
    assert(twinIds.subsetOf(droppedIds), "exact twins must be dropped")
    // a dropped ORIGINAL would have its twin at id + 100000 — this is
    // the assert that catches a regression dropping BOTH pair members
    assert(!droppedIds.exists(id => twinIds.contains(id + 100000)),
      "originals (smaller ids) must survive their twins")
    out.unpersist()
  }
}
