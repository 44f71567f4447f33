package graft

import org.scalatest.funsuite.AnyFunSuite

/** Executable plan contracts: the physical plans the scale design
  * promises (COVERAGE.md) — column pruning at the scan, broadcast for
  * small dimensions, partial top-k before the rank shuffle, no
  * cross-product anywhere in the oracle-checked inventory.
  */
class PlanAssertionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = SparkTestSession.sfDir

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("q01: scan prunes to the 6 referenced lineitem columns") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_shipdate"), "unreferenced column not pruned")
    assert(p.contains("l_returnflag"))
  }

  test("q06: dimension join is a broadcast hash join") {
    val p = plan("q06_rev_by_brand")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q09: multiway join broadcasts both small dims") {
    val p = plan("q09_multiway_rollup")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2)
  }

  test("q10: rank window applies partial top-k before the shuffle") {
    val p = plan("q10_top3_per_customer")
    assert(p.contains("WindowGroupLimit"), "expected rank-limit pushdown")
  }

  test("q37: only the query set is broadcast; corpus is never shuffled for scoring") {
    val p = plan("q37_knn_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(p.contains("WindowGroupLimit"))
  }

  test("no oracle query plans a CartesianProduct") {
    SparkEntry.oracleSql.keySet.toSeq.sorted.foreach { q =>
      assert(!plan(q).contains("CartesianProduct"), s"$q plans a cartesian product")
    }
  }

  test("q18: the max-anchored window filter broadcasts the 1-row aggregate") {
    val p = plan("q18_last24h_by_type")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
  }

  test("q42: LSH probe broadcasts only the query set and keeps top-k partial") {
    val p = plan("q42_lsh_ann")
    assert(p.contains("BroadcastHashJoin"), "bucket probe should broadcast the query side")
    assert(p.contains("WindowGroupLimit"), "rank-limit pushdown missing")
  }

  test("q48: simhash near-dup meets pairs via an equi-join on the probe key") {
    val p = plan("q48_simhash_neardup")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"), p.take(2000))
    assert(!p.contains("NestedLoop"), "probe join degenerated to a nested loop")
  }

  test("q37: the cosine kernel evaluates inside a whole-stage codegen span") {
    // AQE materializes codegen stages only in the FINAL plan — execute
    // first, then read the adaptive plan's *(n) codegen markers
    val df = SparkEntry.queries("q37_knn_bruteforce")(spark, dir)
    df.collect() // count() would execute a DIFFERENT QueryExecution
    val lines = df.queryExecution.executedPlan.toString.split("\n")
    assert(lines.exists(l => l.contains("cosineSqScaledKernel") && l.contains("*(")),
      "custom kernel fell out of codegen:\n" + lines.take(40).mkString("\n"))
  }

  test("date-partitioned log scans prune partitions at the source (S10)") {
    import spark.implicits._
    val logDir = java.nio.file.Files.createTempDirectory("graft-oplog").toString
    try {
      val logs = Seq(
        ("2024-01-01 10:00:00", "INFO", 10L),
        ("2024-01-02 10:00:00", "INFO", 20L),
        ("2024-01-03 10:00:00", "INFO", 30L))
        .toDF("ts_s", "level", "bytes")
        .withColumn("ts", org.apache.spark.sql.functions.to_timestamp($"ts_s"))
        .drop("ts_s")
      graft.streaming.OpsLog.append(logs, logDir)
      val q = spark.read.parquet(logDir)
        .where($"log_date" === "2024-01-02")
      q.collect()
      val scan = q.queryExecution.executedPlan.toString
      // the predicate must be INSIDE the PartitionFilters list — an
      // empty "PartitionFilters: []" with a post-scan Filter means
      // pruning regressed even though results stay correct
      assert("PartitionFilters: \\[[^\\]]*log_date".r.findFirstIn(scan).isDefined,
        scan.take(1500))
      assert(q.count() == 1)
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(logDir))
  }

  test("q36: candidates come from the prefix-shingle join; verify is exact") {
    // the sorted-intersect kernel runs only on candidate pairs produced
    // by the prefix-filtered shingle equi-join — never on a block×block
    // pair space (no nested-loop/cartesian join anywhere in the plan) —
    // and inside a whole-stage codegen span (read from the FINAL
    // adaptive plan, so execute first)
    val df = SparkEntry.queries("q36_jaccard_pairs")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.split("\n").exists(l =>
      l.contains("sortedIntersectSizeKernel") && l.contains("*(")),
      "sorted-intersect kernel missing or out of codegen:\n" + p.take(3000))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
  }

  test("q52/q58: no single-partition exchange (seeding is per-partition top-k)") {
    // the centroid seeds are the k smallest md5(id) rows via
    // TakeOrderedAndProject — a global Window.orderBy would instead
    // funnel the whole corpus through one task (Exchange SinglePartition)
    Seq("q52_ivf_ann", "q58_kmeans_assign", "q76_semantic_dedup").foreach { q =>
      val p = plan(q)
      assert(!p.contains("SinglePartition"), s"$q plans a single-partition exchange")
    }
  }

  test("q35: oversized LSH band buckets are star-reduced, not self-joined") {
    // the capped plan carries the bucket-size window count and the
    // bmin star column; output stays linear in degenerate buckets
    val p = plan("q35_lsh_pairs")
    assert(p.contains("bsz") && p.contains("bmin"), p.take(2000))
  }

  test("q69: the packing cumsum is shard-partitioned — no global sort") {
    // packSequences' promise is a per-shard window: a global ordered
    // cumsum would plan an Exchange SinglePartition and funnel the
    // whole corpus through one task
    val p = plan("q69_sequence_pack")
    assert(!p.contains("SinglePartition"), p.take(2000))
    assert(p.contains("Window"), "expected a windowed cumulative sum")
  }

  test("q41: the blocked fuzzy path joins on keys — no nested-loop anywhere") {
    val p = plan("q41_blocked_resolution")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      p.take(2000))
  }

  test("q72: line dedup meets the frequency table via an equi-join — no funnel") {
    // dedupLines' promise: the doc-frequency side has one row per
    // DISTINCT line, joined back on the line key — never a nested loop,
    // and no stage collapses to a single partition
    val p = plan("q72_line_dedup")
    assert(p.contains("Join"), "expected the freq equi-join")
    assert(!p.contains("NestedLoop") && !p.contains("SinglePartition"),
      p.take(2000))
  }

  test("q75: vocab top-k is a partial TakeOrdered — no global token sort") {
    val p = plan("q75_vocab_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q82: the SCD2 build reuses ONE key exchange across lag, collapse, and lead") {
    // buildHistory's promise: the change-detection window, the
    // per-version collapse (clustering on keys :+ __ver is satisfied by
    // the keys partitioning), and the valid_to lead window all share the
    // single hash exchange on the dimension keys
    val e = graft.Tables(spark, dir, "events")
    val df = graft.operators.Scd2.buildHistory(e, Seq("user_id"),
      Seq("event_type"), "ts", Seq("event_id"))
    val p = df.queryExecution.executedPlan.toString
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"expected one hash exchange, got $n:\n" + p.take(2000))
  }

  test("q88: nearest as-of adds NO exchange over the backward plan") {
    // asofNearest's promise: both direction windows (and the final
    // projection) run over the SAME key exchange as the single-direction
    // join — the second direction costs a re-sort, never a re-shuffle;
    // and no variant plans an inequality nested-loop join
    def exchanges(q: String): Int = {
      val p = plan(q)
      assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
        p.take(2000))
      "Exchange hashpartitioning".r.findAllIn(p).size
    }
    assert(exchanges("q88_asof_nearest") == exchanges("q80_asof_attribution"),
      "nearest planned more hash exchanges than backward")
    assert(exchanges("q87_asof_forward") == exchanges("q80_asof_attribution"),
      "forward planned more hash exchanges than backward")
  }

  test("q92: DSIR selection cuts per-stratum rank partially, weights stay broadcast") {
    val p = plan("q92_dsir_select")
    assert(p.contains("WindowGroupLimit"), "rank-limit pushdown missing")
    assert(p.contains("BroadcastHashJoin"), "weight table should broadcast")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q90: every join in the DSIR weight-table build stays broadcast") {
    // the bounded-side contract is explicit hints, not an AQE rescue:
    // the two 1-row totals and the <= buckets-row weight table must
    // never plan a SortMergeJoin. The one legal SMJ in the plan is the
    // final per-doc left join (both sides corpus-sized, one row per
    // doc — deliberately a shuffle join, never broadcastable at scale),
    // keyed on the doc id; anything keyed on the __b bucket is a
    // bounded side that lost its hint.
    val p = plan("q90_dsir_score")
    val smj = p.linesIterator.filter(_.contains("SortMergeJoin")).toSeq
    assert(smj.forall(l => l.contains("doc_id") && !l.contains("__b")),
      s"bounded-side join degraded to sort-merge:\n${smj.mkString("\n")}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "totals/weights should join via broadcast")
  }

  test("q83: recount joins broadcast candidates; top-k is a partial TakeOrdered") {
    // topKExact's promise: pass B touches only candidate rows via a
    // broadcast equi-join (the corpus side never shuffles for the
    // filter) and the k-cut is TakeOrderedAndProject, not a global sort
    val p = plan("q83_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q84: estimates read a broadcast sketch, never shuffle the probes") {
    // CountMin.estimate's promise: the depth×width sketch is the side
    // that moves (broadcast), so probing scales with the probe set;
    // nothing in the sketch/estimate pipeline may degenerate to a
    // cartesian
    val p = plan("q84_cms_counts")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the ε-bound total N is read from the sketch itself: its bounded
    // exchange must be REUSED by the totals branch, not recomputed
    // from a third corpus scan. Exchange reuse only materializes in
    // the FINAL adaptive plan, so execute first (the verify-skill
    // collect-then-inspect rule)
    val df = SparkEntry.queries("q84_cms_counts")(spark, dir)
    df.collect()
    val fp = df.queryExecution.executedPlan.toString
    assert(fp.contains("ReusedExchange") || fp.contains("ReusedQueryStage"),
      "sketch exchange not reused for the eps-bound total:\n" + fp.take(3000))
  }

  test("q90: DSIR totals reuse the bucket-count exchange, not a fresh gram scan") {
    // round-13 OPT contract: __ns/__nt derive from the sc/tc bucket
    // aggregates; the duplicated agg subtrees must collapse to
    // ReusedExchange in the final adaptive plan (the q84 rule) so the
    // gram explode + md5 bucketing runs once per side, not once per
    // consumer
    val df = SparkEntry.queries("q90_dsir_score")(spark, dir)
    df.collect()
    val fp = df.queryExecution.executedPlan.toString
    assert(fp.contains("ReusedExchange") || fp.contains("ReusedQueryStage"),
      "bucket-count exchange not reused for the DSIR totals:\n" + fp.take(3000))
  }

  test("q85: chunking is a pure projection — no join, no aggregate") {
    // chunkDocs' promise: scan -> project -> explode (+ the oracle's
    // deterministic sort); any join or aggregation appearing here means
    // the operator stopped composing with partition pruning
    val p = plan("q85_chunk_windows")
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("Aggregate"), p.take(2000))
  }

  test("q86: passage windows meet their frequency via an equi-join") {
    // dupPassageStats' promise: the window-frequency table (one row per
    // DISTINCT window hash) joins back on the hash key — never a pair
    // space, never a nested loop over windows
    val p = plan("q86_dup_passages")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q74: budget selection windows bins, never a stratum through one task") {
    // budgetSelect's promise: the cumulative sums run over the
    // (stratum × quality) histogram and the single boundary bin — a
    // naive global/per-stratum ordered cumsum would plan an Exchange
    // SinglePartition at corpus width
    val p = plan("q74_budget_select")
    assert(p.contains("Window"), "expected the histogram cumsum windows")
    assert(!p.contains("SinglePartition"), p.take(2000))
  }

  test("q96: rank is a partial top-k and the tf stage feeds df via exchange reuse") {
    // tfidfKeywords' promise: the (doc, term) tf aggregation is ONE
    // corpus pass — the df branch consumes the SAME tf frame, so at
    // runtime AQE must reuse the tf shuffle stage, not re-explode the
    // corpus (static planning shows two subtrees; reuse only
    // materializes in the final adaptive plan — execute first). The
    // per-doc rank must cut with WindowGroupLimit before the final
    // window, never a global sort.
    val df = SparkEntry.queries("q96_tfidf_keywords")(spark, dir)
    df.collect()
    val fp = df.queryExecution.executedPlan.toString
    assert(fp.contains("WindowGroupLimit"), fp.take(3000))
    assert(fp.contains("ReusedExchange") || fp.contains("ReusedQueryStage"),
      "tf exchange not reused by the df branch:\n" + fp.take(3000))
    assert(!fp.contains("CartesianProduct"), fp.take(2000))
  }

  test("q98: blocklist candidates come from a broadcast equi-join, never a phrase scan") {
    // blocklistMatches' promise: the naive phrases x docs contains
    // chain (a BroadcastNestedLoopJoin) never appears — candidates
    // come from the first-token equi-join (BroadcastHashJoin), and
    // the padded-contains verify runs only on candidates
    val p = plan("q98_blocklist")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q100: the exact-k sample cut is a partial WindowGroupLimit, no global sort") {
    // prioritySample's promise: a billion-row stratum ships k rows per
    // input partition to the single stratum exchange, never itself
    val p = plan("q100_priority_sample")
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("q101: the interval join is bucket-blocked equi, never a nested loop") {
    // intervalJoin's promise: the raw range predicate would plan a
    // BroadcastNestedLoopJoin; the bucket key turns it into a plain
    // (broadcastable) hash equi-join + exact filter
    val p = plan("q101_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q104: tercile cumsum windows the histogram, never a stratum through one task") {
    // the q74/q57 pattern carried to the CCNet split: the boundary
    // cumsum runs over (lang, score) HISTOGRAM rows, partitioned by
    // the stratum — never a global (unpartitioned) ordered window.
    // (Bounded 1-row scalar aggs — q95's N/V totals — legitimately
    // plan Exchange SinglePartition; only WINDOWS are constrained.)
    val p = plan("q104_ccnet_split")
    assert(p.contains("windowspecdefinition(lang"),
      "expected the lang-partitioned histogram cumsum window:\n" + p.take(2000))
    assert(!p.contains("windowspecdefinition(s#"),
      "found an unpartitioned ordered window:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q109: incremental dedup meets the corpus only through equi-joins") {
    // dedupAgainst's promise: the batch probes the corpus key set and
    // band index via plain equi-shuffles — nothing nested-loops over
    // the 100 TB side, and exact Jaccard runs only on LSH candidates
    val p = plan("q109_dedup_against")
    assert(!p.contains("NestedLoop"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("dedupAgainst: the routed corpus index keeps the inline text-kernel count") {
    // dedupAgainst reads its three corpus frames off one unmaterialized
    // buildDedupIndex; column pruning must leave each frame only its own
    // text kernel, so the optimized plan holds 8 minhash signature calls
    // (one band array per side, two calls per band) and 6 md5 content
    // keys (the keyed exact-probe join, both sides' key, is read by the
    // verdict, candidate and verify branches) — the counts of deriving
    // each frame straight from the corpus. The fixture is repartitioned
    // so no projection folds into a local relation at optimization time.
    import org.apache.spark.sql.catalyst.expressions.{Expression, Md5}
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    val s = spark
    import s.implicits._
    val corpus = Seq((1L, "the quick brown fox"), (2L, "a slow green turtle"),
      (3L, "the quick brown dog")).toDF("doc_id", "text").repartition(2)
    val batch = Seq((10L, "the quick brown fox"), (11L, "the quick brown cat"))
      .toDF("doc_id", "text").repartition(2)
    val df = operators.Dedup.dedupAgainst(batch, corpus, "text", "doc_id",
      maxCandidates = Int.MaxValue)
    val exprs: Seq[Expression] = df.queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect { case e => e }))
    val minhash = exprs.count {
      case si: StaticInvoke => si.functionName == "minhashKernel"
      case _ => false
    }
    val md5 = exprs.count(_.isInstanceOf[Md5])
    assert((minhash, md5) == (8, 6),
      df.queryExecution.optimizedPlan.toString.take(4000))
    assert(df.collect().length == 2)
  }

  test("q111: the ADC scan broadcasts only the query LUTs; top-k stays partial") {
    // pqTopK's promise: the encoded corpus never shuffles for scoring —
    // the per-query lookup tables ride a broadcast into the scan, and
    // the rank cut ships k rows per partition
    val p = plan("q111_pq_ann")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("q112: containment candidates come from a shingle equi-join, never a doc×doc loop") {
    val p = plan("q112_containment_pairs")
    assert(!p.contains("NestedLoop"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q114: the IVFADC probe is a broadcast equi-join on the cell; top-k stays partial") {
    // ivfPqTopK's promise: the encoded corpus meets the per-probe ADC
    // tables through a broadcast hash join on `cell` — the corpus
    // never shuffles for scoring — and the rank cut ships k rows per
    // partition
    val p = plan("q114_ivfpq_ann")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("WindowGroupLimit"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q95: cost and oov tables broadcast; the corpus stream never re-sorts") {
    // unigramCodeLength's promise: the only corpus-sized shuffle in
    // the scoring branch is the per-doc sum — the vocab-bounded cost
    // table and the 1-row OOV cost reach the token stream without
    // forcing a corpus re-exchange, and nothing plans a cartesian
    // (the OOV crossJoin is an explicit 1-row broadcast)
    val p = plan("q95_unigram_ce")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q124: the random-negative pool rank cut is partial; queries broadcast") {
    // hard-negative mining's promise: the Q×N pool never survives the
    // rank shuffle whole — the md5-priority window ships k rows per
    // partition (WindowGroupLimit), and the query list reaches the
    // corpus as a broadcast, never a shuffle of the doc side
    val p = plan("q124_hard_negatives")
    assert(p.contains("WindowGroupLimit"), p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q125: the per-cell sample cut is partial top-k") {
    val p = plan("q125_cluster_sample")
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("q118: both trailing spans ride one exchange and one sort") {
    // Rolling.trailingAgg's promise, asserted on the GATED events
    // query (the operator-level twin lives in RollingFunnelSpec): one
    // user-keyed exchange, one sort, two RANGE frames
    val df = SparkEntry.queries("q118_rolling_features")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"spans must share the keyed exchange:\n${p.take(2000)}")
  }

  test("q131: rollup expands BEFORE one exchange, partial agg survives") {
    // the one-scan-all-levels promise: grouping sets become an Expand
    // feeding a partial HashAggregate, then exactly ONE hash exchange
    // ships the already-combined cells — never N scans, never raw rows
    val p = plan("q131_rollup_totals")
    assert(p.contains("Expand"), p.take(2000))
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"expected one hash exchange, got $n:\n${p.take(2000)}")
    assert("Scan parquet".r.findAllIn(p).size == 1, "lineitem scanned more than once")
  }

  test("q132: pivot exchanges carry only partial-agg'd cells; dim is broadcast") {
    // static value list ⇒ static schema; Spark lowers pivot to TWO
    // exchanges — (segment, status) cells then pivotfirst on segment —
    // but BOTH ship post-partial-aggregation rows bounded by the cell
    // grid (≤ |segments|·|statuses| per map partition), so the data-
    // sized work is one scan + one map-side combine. The contract: no
    // THIRD exchange, a partial agg before the first, and the customer
    // dim riding a broadcast, never a shuffle
    val p = plan("q132_pivot_matrix")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("partial_pivotfirst"), "pivot lost map-side combine")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 2, s"expected two bounded-cell exchanges, got $n:\n${p.take(2000)}")
  }

  test("q133: the profiler reads documents ONCE for all profiled columns") {
    // explode-of-structs unpivot: one scan fans into the tiny col_name
    // key — never one scan per column like the oracle's UNION ALL twin
    val p = plan("q133_column_profile")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"documents scanned more than once:\n${p.take(2000)}")
    assert(p.contains("Generate"), "unpivot should be a Generate (explode)")
  }

  test("q134: both island rollups reuse the window exchange; dedup combines map-side") {
    // two exchanges by design: the month-dedup's (custkey, mi) exchange
    // ships PARTIAL-AGG'D distinct pairs (cheaper at scale than funnelling
    // raw order rows through a single custkey exchange), then the window's
    // custkey exchange. The promise under test: the (custkey, grp) run
    // grouping AND the final per-customer rollup both reuse the window's
    // partitioning — a third exchange would mean the islands identity
    // reshuffled
    val p = plan("q134_order_streaks")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 2, s"expected dedup + window exchanges only, got $n:\n${p.take(2000)}")
  }

  test("q138: the anomaly window rides the bounded daily grid, 2 exchanges") {
    // one (type, day) hash agg collapses the event stream, then the
    // type-keyed window re-exchanges only the types × days grid — no
    // third exchange, nothing event-sized past the first agg
    val p = plan("q138_daily_anomaly")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 2, s"expected agg + window exchanges, got $n:\n${p.take(2000)}")
  }

  test("q139: the WAU day-clip anchor is a 1-row broadcast") {
    val p = plan("q139_dau_wau")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q141: the pair top-K is a TakeOrdered, never a global sort materialization") {
    val p = plan("q141_copurchase_pairs")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q142: the vertex-rank table broadcasts; no cartesian anywhere") {
    // the orientation joins must ride broadcasts of the parts-bounded
    // rank table — a shuffle there would move the edge list twice for
    // a dimension-sized side
    val p = plan("q142_triangle_count")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q135: C4 cleaning is a pure scan-side projection — zero shuffle") {
    // the whole line-rule filter runs array-side where the bytes are;
    // the only exchange in the plan is the output sort's range partition
    val p = plan("q135_c4_filters")
    assert(!p.contains("Exchange hashpartitioning"),
      s"C4 filter should never shuffle:\n${p.take(2000)}")
    assert(p.contains("Scan parquet"), p.take(500))
  }

  test("q151: orders scans exactly twice; all quintile thresholds ride one broadcast") {
    // one scan feeds the stack-unpivoted histogram (all THREE dims in
    // one shuffle), one feeds the scoring pass; the 1-row threshold
    // frame is the only join side — never a SortMergeJoin, never a
    // threshold chain re-scanning orders per dimension
    val p = plan("q151_rfm_segments")
    assert("Scan parquet".r.findAllIn(p).size == 2,
      s"orders should be scanned exactly twice:\n${p.take(2000)}")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1,
      "thresholds should ride exactly one 1-row broadcast")
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("q152: one pruned lineitem scan, zero joins — banding rides the histogram") {
    val p = plan("q152_abc_pareto")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"lineitem should be scanned once:\n${p.take(2000)}")
    assert(!p.contains("Join"), "ABC banding must not join anything")
    assert(p.contains("l_partkey") && !p.contains("l_shipdate"),
      "scan should prune to the 3 referenced columns")
  }

  test("q158: first-seen agg + 1-row bounds broadcast, nothing else") {
    val p = plan("q158_vocab_growth")
    assert("Scan parquet".r.findAllIn(p).size == 2,
      s"documents scanned twice (grams + bounds):\n${p.take(2000)}")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1,
      "decile bounds must ride one 1-row broadcast")
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("q157: three scans (orders, customer, nation); Gini rides the histogram") {
    // one custkey agg + one equi-join to the dim + the nation
    // broadcast — the cum window and Gini algebra touch only the
    // nation-partitioned value histogram
    val p = plan("q157_nation_gini")
    assert("Scan parquet".r.findAllIn(p).size == 3, p.take(2000))
    assert(p.contains("BroadcastHashJoin"), "nation dim should broadcast")
    assert(p.contains("Window"), "expected the histogram cum window")
  }

  test("q156: the head cut is a TakeOrdered; the fit never joins or re-scans") {
    val p = plan("q156_zipf_fit")
    assert(p.contains("TakeOrdered"),
      s"top-k head must be a partial TakeOrdered cut:\n${p.take(2000)}")
    assert("Scan parquet".r.findAllIn(p).size == 1, p.take(2000))
    assert(!p.contains("Join"), "the Zipf fit must not join anything")
  }

  test("q155: one events scan, no joins — DOW bins pivot inside the type agg") {
    // the conditional-sum pivot makes zero-count bins first-class
    // without a densification join; stack() explodes the bounded
    // per-type frame back to 35 rows
    val p = plan("q155_dow_seasonality")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"events should be scanned once:\n${p.take(2000)}")
    assert(!p.contains("Join"), "seasonality must not join anything")
    assert(p.contains("Generate"), "expected a stack() Generate")
  }

  test("q154: one events scan; the OLS sums aggregate the bounded day grid") {
    // the min-day rebase window and both aggs ride the (type × day)
    // grid — events rows pass through exactly one partial-agg scan
    val p = plan("q154_daily_trend")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"events should be scanned once:\n${p.take(2000)}")
    assert(!p.contains("Join"), "trend regression must not join anything")
  }

  test("q153: downstream of the two anchors nothing re-scans events; medians broadcast") {
    // med + deviation-histogram are eager localCheckpoint anchors: the
    // final plan must read ONLY checkpoint RDDs (each doubly-referenced
    // frame would otherwise re-derive its whole upstream per reference)
    // and join them back on the bounded type key as broadcasts
    val p = plan("q153_mad_outliers")
    assert(!p.contains("Scan parquet"),
      s"final plan must not re-scan events:\n${p.take(2000)}")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, p.take(2000))
    assert(p.contains("Scan ExistingRDD"), "expected checkpoint anchors")
  }

  test("q159: phase-1 skyline windows are bucket-PARTITIONED; one orders scan") {
    // the scale claim is that the staircase test runs in parallel per
    // bucket before the bounded global pass — a plan whose FIRST
    // window sorts on [ltv_cents DESC] without the bucket key would
    // be the single-partition O(n log n) shape the divide-and-merge
    // exists to avoid
    val p = plan("q159_customer_skyline")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"orders should be scanned once:\n${p.take(2000)}")
    assert(!p.contains("Join"), "the skyline never joins anything")
    val firstWindow = p.linesIterator.filter(_.contains("Window "))
      .toSeq.lastOption.getOrElse("")  // plan prints leaves last
    assert(firstWindow.contains("b#") || p.contains("hashpartitioning(b#"),
      s"phase-1 window must partition by the bucket key:\n$firstWindow")
  }

  test("q160: the IVM refresh is one full-outer merge over two partial aggs") {
    val p = plan("q160_ivm_refresh")
    assert("Scan parquet".r.findAllIn(p).size == 2,
      s"base and delta each scan once:\n${p.take(2000)}")
    assert(p.contains("FullOuter"), "refresh must be a full-outer merge")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "both sides must partial+final aggregate before the merge")
  }

  test("q166: OHLC is ONE hash aggregate — no window, no join, one scan") {
    // the struct-min/max fold is the whole point: partial-aggregable
    // open/close, vs the oracle's row_number-window formulation
    val p = plan("q166_ohlc_bars")
    assert("Scan parquet".r.findAllIn(p).size == 1, p.take(2000))
    assert(!p.contains("Window"), "open/close must fold in the agg, not a window")
    assert(!p.contains("Join"), p.take(2000))
  }

  test("q167: one events scan feeds the user fold; the 2x2 is a 1-row fold") {
    val p = plan("q167_ab_lift")
    assert("Scan parquet".r.findAllIn(p).size == 1, p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("q168: one events scan through one user-keyed lead window") {
    val p = plan("q168_time_weighted_avg")
    assert("Scan parquet".r.findAllIn(p).size == 1, p.take(2000))
    assert("Window".r.findAllIn(p).size >= 1 && !p.contains("Join"),
      p.take(2000))
  }

  test("q171: SNM pairs come from an explode + equi-join, never a range join") {
    // the whole point of sorted-neighborhood blocking is W·N candidate
    // pairs via an equi-join on rank+offset; a BroadcastNestedLoopJoin
    // (the `BETWEEN rn+1 AND rn+w` range shape the oracle uses) would
    // be the N² scan the blocker exists to avoid
    val p = plan("q171_sorted_neighborhood")
    assert(p.contains("Generate explode"),
      s"offsets must be an exploded literal array:\n${p.take(2000)}")
    assert(!p.contains("NestedLoop"),
      s"neighbor pairing must be an equi-join on rank+offset:\n${p.take(2000)}")
  }

  test("q172: six dim edges broadcast; lineitem->orders stays a shuffle join") {
    // each FK edge is ONE left join + conditional count; the six
    // small-dim edges must broadcast BY HINT, and the one
    // corpus-x-corpus edge (lineitem->orders) must NOT be hinted —
    // broadcasting orders at 100 TB would OOM every executor. At test
    // SF the size threshold would broadcast orders too, so disable it:
    // what survives is exactly the explicit contract.
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("q172_fk_audit")
      assert("BroadcastHashJoin".r.findAllIn(p).size == 6, p.take(3000))
      assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).nonEmpty,
        s"lineitem->orders must be a shuffle join:\n${p.take(3000)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("q173: profiling is one scan + stack, no join, no corpus window") {
    // the profiler's promise: per-column distinct and mode come from
    // the level-1 (col, value) hash aggregate — never a distinct agg
    // or a window over the corpus. The struct-max level-2 runs as a
    // partial+final SortAggregate over the value-bounded frame.
    val p = plan("q173_column_profile")
    assert("Scan parquet".r.findAllIn(p).size == 1, p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("Window"), "no corpus-wide window in a profiler")
    assert(p.contains("Generate"), "expected the stack unpivot")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "level-1 must partial+final hash aggregate")
    assert("SortAggregate".r.findAllIn(p).size >= 2,
      "level-2 struct-max must partial-aggregate before its exchange")
  }

  test("q174: top-k is a TakeOrdered cut and the totals reuse the key agg") {
    // skewReport's promise: the rank never globally sorts the key
    // frame (TakeOrderedAndProject caps it at k per partition), and
    // the 1-row totals fold must REUSE the per-key aggregate's
    // exchange, not re-scan events (reuse materializes only in the
    // final adaptive plan — execute first)
    val p = plan("q174_skew_report")
    assert(p.contains("TakeOrderedAndProject") || p.contains("WindowGroupLimit"),
      s"rank must cut partial top-k:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    val df = SparkEntry.queries("q174_skew_report")(spark, dir)
    df.collect()
    val fp = df.queryExecution.executedPlan.toString
    assert(fp.contains("ReusedExchange") || fp.contains("ReusedQueryStage"),
      "totals branch must reuse the per-key agg exchange:\n" + fp.take(3000))
  }

  test("q30: token-stat projections carry no lambda expressions") {
    // the round-10 contract behind the tokens() migration: the kernel
    // is array_remove (codegen'd), never a higher-order filter
    // (CodegenFallback) — a lambdafunction in this scan-side plan
    // means someone re-introduced a HOF on the hot path
    val p = plan("q30_token_stats")
    assert(!p.contains("lambdafunction"),
      s"token stats must stay lambda-free (codegen'd):\n${p.take(2000)}")
    assert(p.contains("array_remove"), p.take(2000))
  }

  test("q176: decay anchor is broadcast and events never sort-merge") {
    // the report's promise (q177's anchor pattern): events is scanned
    // for the 1-row max-ts anchor and once more for the grouped decay
    // agg; the anchor joins by broadcast, the share window rides the
    // bounded per-type frame — no sort-merge join, no cartesian blowup
    val df = SparkEntry.queries("q176_decay_weights")(spark, dir)
    df.collect()
    val fp = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!fp.contains("SortMergeJoin"), fp.take(3000))
    assert(fp.contains("BroadcastNestedLoopJoin") ||
      fp.contains("BroadcastExchange"),
      s"the 1-row anchor must broadcast:\n${fp.take(3000)}")
    assert("Scan parquet".r.findAllIn(fp).size <= 2,
      s"events must scan at most twice (anchor + decay agg):\n${fp.take(3000)}")
  }

  test("q177: drift joins are broadcast-only and the bin frame is reused") {
    // the report's promise: the corpus is scanned for the anchor and
    // the histogram — never again for totals (the bounded bin frame's
    // exchange is reused); every join carries a 1-row or bin-bounded
    // side, so nothing may sort-merge
    val df = SparkEntry.queries("q177_drift_report")(spark, dir)
    df.collect()
    val fp = df.queryExecution.executedPlan.toString
    assert(!fp.contains("SortMergeJoin"), fp.take(3000))
    assert(!fp.contains("CartesianProduct"), fp.take(3000))
    assert("Scan parquet".r.findAllIn(fp).size <= 2,
      s"orders must scan at most twice (anchor + histogram):\n${fp.take(3000)}")
  }

  test("q182: rule joins are broadcast-only and the report is a TakeOrdered cut") {
    // the rule layer's promise: item supports are semi-joined down to
    // the rule vertices (edges-bounded) and broadcast — the corpus
    // never sort-merges for a 20-row report — and the top-K is a
    // TakeOrderedAndProject, never a global sort
    val df = SparkEntry.queries("q182_assoc_rules")(spark, dir)
    df.collect()
    val fp = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!fp.contains("SortMergeJoin"), fp.take(3000))
    assert(fp.contains("TakeOrderedAndProject"),
      s"top-K must be a partial TakeOrdered cut:\n${fp.take(3000)}")
    assert("Scan parquet".r.findAllIn(fp).size <= 3,
      s"lineitem scans at most thrice (pairs + supports + N):\n${fp.take(3000)}")
  }

  test("q183: the pair space rides the checkpointed weekly frame only") {
    // Theil–Sen's promise: orders materializes ONCE into the
    // calendar-bounded weekly checkpoint; the SF-constant pair
    // self-join is a bounded broadcast nested loop; no parquet scan
    // and no sort-merge survives into the final plan
    val df = SparkEntry.queries("q183_theil_sen")(spark, dir)
    df.collect()
    val fp = df.queryExecution.executedPlan.toString
    assert(!fp.contains("SortMergeJoin"), fp.take(3000))
    assert(fp.contains("BroadcastNestedLoopJoin"),
      s"pair generation must broadcast the bounded frame:\n${fp.take(3000)}")
    assert(!fp.contains("Scan parquet"),
      s"everything must ride the weekly checkpoint:\n${fp.take(3000)}")
  }

  test("q184: survival folds over the bucket frame; orders scans at most twice") {
    // Kaplan–Meier's promise: the corpus contributes one per-customer
    // span agg and one 1-row max-date anchor; risk sets and the
    // sequential survival product live entirely on the ~80-row bucket
    // frame (array-side fold), so no sort-merge join exists
    val df = SparkEntry.queries("q184_kaplan_meier")(spark, dir)
    df.collect()
    // count the FINAL plan only — AQE's toString appends the initial
    // plan, which would double-count every scan
    val fp = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!fp.contains("SortMergeJoin"), fp.take(3000))
    assert("Scan parquet".r.findAllIn(fp).size <= 2,
      s"orders must scan at most twice (spans + anchor):\n${fp.take(3000)}")
  }

  test("q185: the EWMA fold rides one orders scan, no join at all") {
    // the smoothing recurrence is array-side over the calendar-bounded
    // daily frame: one corpus scan into the day agg, a single-partition
    // collect_list, zero joins of any kind
    val df = SparkEntry.queries("q185_ewma_forecast")(spark, dir)
    df.collect()
    val fp = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!fp.contains("Join"), s"no join belongs here:\n${fp.take(3000)}")
    assert("Scan parquet".r.findAllIn(fp).size == 1,
      s"orders must scan exactly once:\n${fp.take(3000)}")
  }

  test("q186: mean + cusum both ride the checkpointed daily frame") {
    // the doubly-referenced daily frame checkpoints (q153 rule): no
    // parquet scan survives into the final plan, the mean anchor is a
    // broadcast, and no sort-merge join exists
    val df = SparkEntry.queries("q186_cusum_changepoint")(spark, dir)
    df.collect()
    val fp = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!fp.contains("SortMergeJoin"), fp.take(3000))
    assert(!fp.contains("Scan parquet"),
      s"everything must ride the daily checkpoint:\n${fp.take(3000)}")
    assert(fp.contains("BroadcastNestedLoopJoin") ||
      fp.contains("BroadcastExchange"),
      s"the 1-row mean anchor must broadcast:\n${fp.take(3000)}")
  }

  test("q187: the lag pairs ride the checkpointed deviation frame only") {
    // ACF's promise: orders materializes once into the daily
    // checkpoint; the ≤ MaxLag·n pair space is a bounded broadcast
    // nested loop over the deviation checkpoint; no parquet scan and
    // no sort-merge join survives into the final plan
    val df = SparkEntry.queries("q187_autocorrelation")(spark, dir)
    df.collect()
    val fp = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!fp.contains("SortMergeJoin"), fp.take(3000))
    assert(fp.contains("BroadcastNestedLoopJoin"),
      s"lag pairing must broadcast the bounded frame:\n${fp.take(3000)}")
    assert(!fp.contains("Scan parquet"),
      s"everything must ride the checkpoints:\n${fp.take(3000)}")
  }

  test("q193: the ±lag pairs ride the checkpointed daily grid only") {
    // CCF's promise (q187's contract on the cross-series twin): events
    // materializes once into the daily (x, y) checkpoint; the
    // ≤ (2·lag+1)·n pair space is a bounded broadcast nested loop over
    // that checkpoint; no parquet scan and no sort-merge join survives
    val df = SparkEntry.queries("q193_crosscorrelation")(spark, dir)
    df.collect()
    val fp = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!fp.contains("SortMergeJoin"), fp.take(3000))
    assert(fp.contains("BroadcastNestedLoopJoin"),
      s"lag pairing must broadcast the bounded frame:\n${fp.take(3000)}")
    assert(!fp.contains("Scan parquet"),
      s"everything must ride the checkpoint:\n${fp.take(3000)}")
  }

  test("q188: totals and pairs both ride the checkpointed count table") {
    // JSD's promise: the corpus tokenizes and shuffles into the
    // (source, tok) count table ONCE (checkpointed — no parquet scan
    // survives), the per-source totals broadcast (and the second
    // broadcast is runtime-reused), and no sort-merge join exists —
    // pair generation is array-side per token
    val df = SparkEntry.queries("q188_source_jsd")(spark, dir)
    df.collect()
    val fp = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!fp.contains("SortMergeJoin"), fp.take(3000))
    assert(!fp.contains("Scan parquet"),
      s"everything must ride the count-table checkpoint:\n${fp.take(3000)}")
    assert(fp.contains("ReusedExchange"),
      s"the twin totals broadcast must be runtime-reused:\n${fp.take(3000)}")
  }

  test("q189: PSI rides the checkpointed bin frame; orders scans at most twice") {
    // the drift-battery shape (q177's): anchor + histogram-into-
    // checkpoint are the only corpus passes; the Mitchell fold and the
    // final division ride the ~20-row bin frame; no sort-merge join
    val df = SparkEntry.queries("q189_psi_drift")(spark, dir)
    df.collect()
    val fp = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!fp.contains("SortMergeJoin"), fp.take(3000))
    assert("Scan parquet".r.findAllIn(fp).size <= 2,
      s"orders must scan at most twice (anchor + histogram):\n${fp.take(3000)}")
  }

  test("q190: the U window rides value cardinality; orders scans at most twice") {
    // Mann–Whitney's promise: the cumulative window runs over the
    // joint VALUE histogram (q57 kernel), never over rows; anchor +
    // histogram are the only corpus passes; no sort-merge join
    val df = SparkEntry.queries("q190_mannwhitney_u")(spark, dir)
    df.collect()
    val fp = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!fp.contains("SortMergeJoin"), fp.take(3000))
    assert("Scan parquet".r.findAllIn(fp).size <= 2,
      s"orders must scan at most twice (anchor + histogram):\n${fp.take(3000)}")
  }

  test("q191: S pairs and tie groups both ride the weekly checkpoint") {
    // Mann–Kendall's promise: orders materializes once into the
    // calendar-bounded weekly checkpoint; the SF-constant pair space
    // is a bounded broadcast nested loop; the tie agg rides the same
    // checkpoint — no parquet scan, no sort-merge join in the final plan
    val df = SparkEntry.queries("q191_mann_kendall")(spark, dir)
    df.collect()
    val fp = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!fp.contains("SortMergeJoin"), fp.take(3000))
    assert(fp.contains("BroadcastNestedLoopJoin"),
      s"pair generation must broadcast the bounded frame:\n${fp.take(3000)}")
    assert(!fp.contains("Scan parquet"),
      s"everything must ride the weekly checkpoint:\n${fp.take(3000)}")
  }

  test("q178: bin assignment is a broadcast array probe, never a range join") {
    // the discretizer's promise: rows meet the k−1 boundaries through
    // ONE broadcast of a collected array (a 1-row frame) and a
    // codegen'd filter+size — a SortMergeJoin or per-row boundary
    // shuffle here would ship the corpus for 9 longs
    val df = SparkEntry.queries("q178_equidepth_bins")(spark, dir)
    df.collect()
    // adaptive toString prints Final AND Initial sections — count
    // scans in the final section only
    val fp = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!fp.contains("SortMergeJoin"), fp.take(3000))
    assert(fp.contains("BroadcastNestedLoopJoin") || fp.contains("BroadcastHashJoin"),
      s"bounds must broadcast:\n${fp.take(3000)}")
    assert("Scan parquet".r.findAllIn(fp).size <= 2,
      s"orders scans at most twice (histogram + assignment):\n${fp.take(3000)}")
  }

  test("q180: the recommendation rank cuts partial top-k per part") {
    val p = plan("q180_also_bought")
    assert(p.contains("WindowGroupLimit") || p.contains("TakeOrderedAndProject"),
      s"rank must cut before the part exchange:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q181: lo/hi/fold all reuse ONE histogram exchange at runtime") {
    // winsorize's promise: the corpus is scanned once into the
    // (type, cents) histogram; the p01 branch, p99 branch and the
    // clipped-mean fold must all consume that SAME exchange (static
    // planning shows three subtrees; reuse only materializes in the
    // final adaptive plan — execute first), and the boundary joins are
    // type-bounded broadcasts
    val df = SparkEntry.queries("q181_winsorized_stats")(spark, dir)
    df.collect()
    val fp = df.queryExecution.executedPlan.toString
    assert(!fp.contains("SortMergeJoin"), fp.take(3000))
    assert("ReusedExchange|ReusedQueryStage".r.findAllIn(fp).size >= 2,
      s"histogram exchange must be reused by both boundary branches:\n${fp.take(3000)}")
  }

  test("q162: the sketch join never touches a corpus-sized side") {
    // both sketches are ≤ depth×width rows; the inner-product join and
    // the row densification must be broadcast-sized, and the only
    // corpus-sized work is the two token-count scans
    val p = plan("q162_cms_joinsize")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "sketch-sized sides must broadcast")
  }

  test("unblocked resolve scores every candidate pair once: one nested-loop join") {
    // the best pick and the alternatives come from one aggregate over the
    // ranked pairs; a second consumer of those pairs would plan the whole
    // fuzzy subtree, broadcast nested-loop join included, a second time.
    // Read the plan before it runs: once executed, adaptive execution may
    // prune a branch whose rows came out empty, hiding the second join.
    import spark.implicits._
    val dict = Seq(("Green Tea", "G1"), ("Green Tea Extract", "G2"),
      ("Green Tea Powder", "G3"), ("Almond Milk", "A1")).toDF("title", "ext_id")
    val items = Seq((1L, "greem tea"), (2L, "almond mlk"), (3L, "almond milk"))
      .toDF("item_id", "item_name")
    val p = graft.operators.EntityResolution.resolve(items, dict, Seq("item_id"))
      .queryExecution.executedPlan.toString
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1,
      s"the fuzzy pairs must be generated exactly once:\n${p.take(4000)}")
  }
}
