package graft.operators

import graft.functions.{TextFunctions, VectorFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale document/training-data
  * pipelines: exact, MinHash+LSH, SimHash, n-gram Jaccard, and
  * embedding-cosine near-dup.
  *
  * Published designs: MinHash resemblance (Broder 1997, "On the
  * resemblance and containment of documents"); LSH banding (Leskovec/
  * Rajaraman/Ullman, "Mining of Massive Datasets" ch. 3); SimHash
  * (Charikar 2002, STOC; Manku et al. 2007, WWW, for Hamming probing);
  * min-label propagation components (Kang et al. 2009, PEGASUS).
  *
  * Scale notes (the point of each design):
  *  - exact dedup is one hash aggregate on a content key — a single
  *    shuffle on md5(text), no full-text comparison;
  *  - MinHash LSH never forms the O(N²) pair space: docs are bucketed
  *    by band signature (equi-shuffle on the band string) and only
  *    within-bucket pairs are emitted;
  *  - SimHash buckets by the 16-bit signature (and can probe Hamming-1
  *    neighborhoods by re-keying on bit-flipped signatures);
  *  - n-gram Jaccard uses shared-shingle blocking (explode + equi-join)
  *    with per-pair intersection counts computed by aggregation, not
  *    array ops on the driver;
  *  - embedding near-dup blocks on an LSH/partition key and verifies
  *    with exact cosine within blocks only.
  */
object Dedup {

  /** Exact dedup: keep the smallest `idCol` per content key. Returns the
    * survivors (same schema plus `content_key`, `dup_count`). */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keyed = df.withColumn("content_key", TextFunctions.contentKey(col(textCol)))
    // NULL text is NOT an equivalence class: contentKey(NULL) is NULL,
    // and a NULL-partitioned window would silently drop all but one
    // unrelated null-text doc — dedupAgainstIndex (same file) already
    // treats a NULL key as never-matching, so exact() must agree
    val nn = keyed.where(col("content_key").isNotNull)
    val w = Window.partitionBy(col("content_key")).orderBy(col(idCol))
    val survivors = nn
      .withColumn("rn", row_number().over(w))
      .withColumn("dup_count", count(lit(1)).over(Window.partitionBy(col("content_key"))))
      .where(col("rn") === 1)
      .drop("rn")
    survivors.unionByName(
      keyed.where(col("content_key").isNull)
        .withColumn("dup_count", lit(1L)))
  }

  /** MinHash-LSH candidate pairs: band the signature in the one
    * `TextFunctions.minhashBands` geometry (2 bands × 4 rows); docs
    * sharing any band string are candidates. Output: (id_a, id_b) with
    * id_a < id_b, distinct.
    *
    * Hot-bucket guard (MMDS ch.3), OPT-IN via `maxBucket`: a degenerate
    * band bucket (boilerplate or mass-duplicated docs collapsing onto
    * one signature) makes the within-bucket join O(|bucket|²) in work
    * AND output. Buckets larger than `maxBucket` are star-reduced: each
    * member pairs with the bucket's min id only — O(|bucket|) pairs with
    * the identical transitive closure (a star and a clique have the same
    * connected components).
    *
    * CONTRACT when the cap binds: the output is closure-equivalent, NOT
    * pair-complete — in-clique edges of hot buckets are elided. That is
    * lossless for connected-component consumers (dedup grouping) but
    * UNSAFE for callers that verify candidate pairs pairwise
    * (e.g. Jaccard-verify-then-filter): a true near-dup pair inside a
    * hot bucket may never surface as a candidate. Such callers must pass
    * `Int.MaxValue` (uncapped) or verify via the component
    * representative. There is deliberately NO default: capped
    * (closure-equivalent, linear on degenerate corpora — the 100 TB
    * dedup path) vs uncapped (pair-complete, O(|bucket|²) on degenerate
    * corpora) is a semantic choice the call site must make visibly. */
  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String,
      maxBucket: Int): DataFrame =
    bandPairs(df.select(col(idCol).as("__id"),
      TextFunctions.minhashBands(col(textCol)).as("bands")), maxBucket)

  /** [[minhashLshPairs]] over precomputed band arrays — (__id, bands),
    * bands = `TextFunctions.minhashBands` — for a caller that already
    * holds them next to its token sets ([[nearDupFrame]]). One scan: the
    * band array is posexploded to (band_no, band_sig) rows, not a
    * per-band union of re-scans. Same cap contract and output. */
  def bandPairs(d: DataFrame, maxBucket: Int): DataFrame =
    cappedBucketPairs(
      d.select(col("__id"),
        posexplode(col("bands")).as(Seq("band_no", "band_sig"))),
      Seq("band_no", "band_sig"), "__id", maxBucket)

  /** THE star-cap kernel: every LSH banding ([[bandPairs]], so the q35
    * family, the near-dup pipeline and the S-curve audits) and the
    * capped prefix-shingle candidates of [[jaccardPairsFromTokens]] ride
    * through here, so a cap or tie-break tweak changes them together.
    * Buckets of `byKey` rows sharing `keyCols`: ≤ `maxBucket` members
    * emit all within-bucket pairs; larger (degenerate) buckets emit the
    * star (bucket-min, member) — identical transitive closure, linear
    * output. Returns distinct (id_a < id_b). */
  def cappedBucketPairs(byKey0: DataFrame, keyCols: Seq[String], idCol: String,
      maxBucket: Int): DataFrame = {
    // a NULL band key never pairs: the equi-join paths drop it by join
    // semantics, and the star path (a pure filter) must agree —
    // otherwise the same call yields a different transitive closure
    // depending on maxBucket
    val byKey = byKey0.where(keyCols.map(col(_).isNotNull).reduce(_ && _))
    // uncapped fast path: no bucket-size windows, just the within-bucket
    // join — identical output (every bucket is "small"), one less
    // sort+window pass for callers that opted out of the cap
    if (maxBucket == Int.MaxValue) {
      return byKey.select(keyCols.map(col) :+ col(idCol).as("id_a"): _*)
        .join(byKey.select(keyCols.map(col) :+ col(idCol).as("id_b"): _*), keyCols)
        .where(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
    }
    val bucket = Window.partitionBy(keyCols.map(col): _*)
    val st = byKey
      .withColumn("bsz", count(lit(1)).over(bucket))
      .withColumn("bmin", min(col(idCol)).over(bucket))
    val small = st.where(col("bsz") <= maxBucket)
    val smallPairs = small.select(keyCols.map(col) :+ col(idCol).as("id_a"): _*)
      .join(small.select(keyCols.map(col) :+ col(idCol).as("id_b"): _*), keyCols)
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val starPairs = st.where(col("bsz") > maxBucket && col(idCol) =!= col("bmin"))
      .select(col("bmin").as("id_a"), col(idCol).as("id_b"))
    smallPairs.union(starPairs).distinct()
  }

  /** Appends the `bits`-bit SimHash bucket column (`simhash`). This is
    * the BUCKETING step only — survivor selection (e.g. min id per
    * bucket) is the caller's window over the result. */
  def simhashBuckets(df: DataFrame, textCol: String,
      bits: Int = 16): DataFrame =
    df.withColumn("simhash", TextFunctions.simhash(col(textCol), bits))

  /** General Hamming-distance near-dup pairing over ANY long hash
    * column (SimHash signatures, image dHashes) by the pigeonhole
    * multi-index join (Norouzi et al., "Fast Search in Hamming Space
    * with Multi-Index Hashing", CVPR 2012): split the `bits`-wide hash
    * into `maxHamming + 1` disjoint blocks — two hashes within
    * `maxHamming` must agree EXACTLY on at least one block — equi-join
    * on (block index, block value), verify with bit_count(xor), and
    * de-duplicate multi-block hits. Scales where the single-bit-flip
    * probe expansion ([[simhashNearDupPairs]]) cannot: probe count
    * grows C(bits, d) with distance, the block join stays
    * (maxHamming + 1) rows per hash at ANY distance.
    *
    * Candidate mass = hashes per block bucket squared — fine while
    * blocks are ≥ ~16 bits against corpus size (the multi-index
    * regime); a tiny bits/maxHamming ratio degrades toward all-pairs,
    * which is the caller's geometry to choose. */
  def hammingNearDupPairs(df: DataFrame, idCol: String, hashCol: String,
      bits: Int, maxHamming: Int): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bits=$bits must be in [1, 64]")
    require(maxHamming >= 0 && maxHamming < bits,
      s"maxHamming=$maxHamming must be in [0, bits)")
    val nBlocks = maxHamming + 1
    val base = bits / nBlocks
    val extra = bits % nBlocks // first `extra` blocks get one more bit
    def blockOf(h: Column, j: Int): Column = {
      val lo = j * base + math.min(j, extra)
      val w = base + (if (j < extra) 1 else 0)
      val mask = if (w >= 64) -1L else (1L << w) - 1
      call_function("shiftright", h, lit(lo)).bitwiseAND(lit(mask))
    }
    val sig = df.select(col(idCol).as("__id"), col(hashCol).as("__h"))
    val keyed = sig.select(col("__id"), col("__h"),
      explode(array((0 until nBlocks).map(j =>
        struct(lit(j).as("j"), blockOf(col("__h"), j).as("v"))): _*))
        .as("__blk"))
    keyed.select(col("__id").as("id_a"), col("__h").as("h_a"), col("__blk"))
      .join(keyed.select(col("__id").as("id_b"), col("__h").as("h_b"),
        col("__blk")), "__blk")
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long")
          .as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** SimHash near-dup pairs within Hamming distance ≤ 1: each doc is
    * re-keyed on its signature plus every one-bit flip (bits+1 probe
    * keys), pairs meet in an equi-join on the probe key. Probe-key
    * explosion is linear in `bits` — still no O(N²) pair space; exact
    * Hamming-0 pairs appear under their own signature, Hamming-1 pairs
    * under the flipped key of exactly one side. */
  def simhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
      bits: Int = 16): DataFrame = {
    // bits must reach the SIGNATURE too: flipping `bits` probe bits on
    // a differently-sized signature silently misses (or mis-ranks)
    // pairs outside the overlapping bit range.
    // Token-less docs (empty/whitespace/null text) are EXCLUDED from
    // pairing — they all simhash to 0 and would otherwise pair O(N²)
    // with each other (and falsely with any real signature-0 doc); the
    // minhash family applies the same rule (TextHash.minhashBand nulls
    // the band key) and exact-dup detection of empty docs rides the
    // content-key path.
    val sig = simhashBuckets(
        df.where(size(TextFunctions.tokens(col(textCol))) > 0), textCol, bits)
      .select(col(idCol).as("__id"), col("simhash"))
    // probe keys: the signature itself + each single-bit flip
    val probes = sig.select(
      col("__id"), col("simhash"),
      explode(array(
        col("simhash") +:
          (0 until bits).map(i => col("simhash").bitwiseXOR(lit(1L << i))): _*))
        .as("probe"))
    // original-side (key = own signature) joined to probe-side: finds
    // pairs at Hamming ≤ 1 without joining probes to probes (which
    // would surface Hamming-2).
    val own = sig.select(col("__id").as("id_a"), col("simhash").as("probe"),
      col("simhash").as("sig_a"))
    own.join(probes.select(col("__id").as("id_b"), col("probe"),
        col("simhash").as("sig_b")), "probe")
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        when(col("sig_a") === col("sig_b"), 0).otherwise(1).as("hamming"))
      .distinct()
  }

  /** n-gram (token-shingle) Jaccard near-dup pairs via a PPJoin-style
    * prefix-filtered shingle join (Bayardo et al. 2007, "Scaling Up All
    * Pairs Similarity Search"; Chaudhuri et al. 2006, SSJoin).
    *
    * A pair with J >= t must share one of each side's
    * (|x| - ceil(t·|x|) + 1) globally-RAREST shingles (prefix-filter
    * theorem, shingles ordered by corpus document frequency), so the
    * candidate join runs on prefix shingles only — a stopword shingle
    * never becomes a join key because frequent shingles sort out of
    * every prefix. Candidates are then verified with an exact sorted-
    * array intersection. Lossless at any threshold (unlike a frequency
    * cap); for thresholds below ~0.3 the prefix covers most of each
    * set and a plain counting join does the same work.
    * `blockCols` optionally restricts pairs to the same block (the
    * columns join into the candidate key; shingle document frequency
    * stays global). Returns (id_a, id_b, jac_mills), jac_mills =
    * floor(1000·J) >= `minJaccardMills`.
    *
    * `maxCandBucket` (opt-in, default uncapped) star-reduces degenerate
    * candidate buckets through the shared `cappedBucketPairs` kernel: a
    * mass-duplicated corpus (N identical docs) has a genuinely O(N²)
    * true-pair set, and the only scalable answer is emitting the
    * closure-equivalent star per hot prefix-shingle bucket. CONTRACT
    * when the cap binds: candidates (and therefore verified pairs) are
    * closure-oriented, not pair-complete — a true pair inside a hot
    * bucket surfaces only through the bucket-min representative, and
    * only if BOTH its star edges pass verification. Right for dedup-
    * group consumers (`connectedComponents` of equivalence-like
    * near-dup relations); wrong for exhaustive pair enumeration. */
  def jaccardPairs(
      df: DataFrame, textCol: String, idCol: String,
      minJaccardMills: Int = 500, blockCols: Seq[String] = Nil,
      maxCandBucket: Int = Int.MaxValue): DataFrame =
    jaccardPairsFromTokens(
      df.select(col(idCol).as("__id") +: blockCols.map(col) :+
        TextFunctions.tokenSetSorted(col(textCol)).as("toks"): _*),
      minJaccardMills, blockCols, maxCandBucket)

  /** [[jaccardPairs]] over a PRE-TOKENIZED frame (__id, blockCols…,
    * toks = the sorted distinct token set). Exists so a caller that
    * already holds (or has materialized) the token sets — e.g. the
    * q192/q194 S-curve audit, which feeds the SAME universe to this
    * kernel AND the LSH banding — doesn't pay a separate scan +
    * re-tokenization for each of this kernel's three reads of the doc
    * frame. `jaccardPairs` delegates here with the projection it always
    * made, so its plans (and the naive-parity property specs that pin
    * them) are unchanged. */
  def jaccardPairsFromTokens(
      d: DataFrame,
      minJaccardMills: Int = 500, blockCols: Seq[String] = Nil,
      maxCandBucket: Int = Int.MaxValue): DataFrame = {
    val (_, prefix) = prefixShingles(d, minJaccardMills, blockCols)
    // candidate pairs ride the shared star-cap kernel (uncapped by
    // default, in which case it reduces to the plain within-bucket join)
    verifiedPairs(
      cappedBucketPairs(prefix, "shingle" +: blockCols, "__id", maxCandBucket),
      d, minJaccardMills)
  }

  /** THE PPJoin prefix filter of [[jaccardPairsFromTokens]] and
    * [[containmentPairs]] over a token-set frame `d` (__id, blockCols…,
    * toks): a pair at similarity ≥ t (Jaccard or containment, in mills)
    * shares one of each probe doc's (|x| − ⌈t·|x|⌉ + 1) globally-rarest
    * tokens (ordered by corpus document frequency, ties by token).
    * Returns (all token rows (__id, blockCols…, shingle), prefix rows
    * (shingle, blockCols…, __id)). */
  private def prefixShingles(d: DataFrame, minMills: Int,
      blockCols: Seq[String]): (DataFrame, DataFrame) = {
    val toks = d.select(col("__id") +: blockCols.map(col) :+
      explode(col("toks")).as("shingle"): _*)
    val dfreq = toks.groupBy("shingle").agg(count(lit(1)).as("gdf"))
    val byDoc = Window.partitionBy("__id").orderBy("gdf", "shingle")
    val prefix = toks.join(dfreq, "shingle")
      .withColumn("rnk", row_number().over(byDoc))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("__id")))
      .where(col("rnk") <=
        col("sz") - ceil(col("sz") * minMills / lit(1000.0)) + 1)
      .select(("shingle" +: blockCols :+ "__id").map(col): _*)
    (toks, prefix)
  }

  /** THE token-set Jaccard in integer mills, ⌊1000·|A∩B| / |A∪B|⌋ with
    * |A∪B| = |A| + |B| − |A∩B| — the one definition every near-dup
    * verify (and every Jaccard-reporting query) evaluates, so the
    * floor-of-double shape the DuckDB twins replicate cannot fork.
    * Takes the intersection size and both set sizes as columns: callers
    * count `common` their own way (a sorted-array intersection, a
    * shingle-collision count, `array_intersect`). */
  def jaccardMills(common: Column, sizeA: Column, sizeB: Column): Column =
    floor(lit(1000) * common / (sizeA + sizeB - common)).cast("long")

  /** Exact verify of candidate pairs (id_a, id_b) against the token sets
    * of `d` (__id, toks): (id_a, id_b, jac_mills ≥ `minJaccardMills`). */
  private def verifiedPairs(cand: DataFrame, d: DataFrame,
      minJaccardMills: Int): DataFrame =
    keepJaccard(withTokenSets(cand, d), minJaccardMills)

  /** Candidate pairs (id_a, id_b) with both token sets of `d`
    * (__id, toks) joined on as (ta, tb). */
  private def withTokenSets(cand: DataFrame, d: DataFrame): DataFrame =
    cand
      .join(d.select(col("__id").as("id_a"), col("toks").as("ta")), "id_a")
      .join(d.select(col("__id").as("id_b"), col("toks").as("tb")), "id_b")

  /** Pairs carrying both token sets (ta, tb) → (id_a, id_b, jac_mills),
    * cut at `minJaccardMills`. */
  private def keepJaccard(pairs: DataFrame, minJaccardMills: Int): DataFrame =
    pairs
      .withColumn("common",
        graft.functions.ArrayOps.sortedIntersectSize(col("ta"), col("tb")))
      .withColumn("jac_mills",
        jaccardMills(col("common"), size(col("ta")), size(col("tb"))))
      .where(col("jac_mills") >= minJaccardMills)
      .select("id_a", "id_b", "jac_mills")

  /** Exact Jaccard pairs by DIRECT all-pairs enumeration over a
    * BOUNDED, pre-tokenized universe (__id, toks) — the ground-truth
    * kernel for the S-curve audits (q192/q194), which verify ~all pairs
    * anyway: at audit thresholds (300 mills) the PPJoin prefix filter
    * keeps >99.9% of pairs as candidates (measured: 499,312 of 499,500
    * on the sf0.1 universe), so its shingle join + half-million-pair
    * distinct exchange were pure overhead on top of an all-pairs
    * verify. This kernel is O(N²) BY CONSTRUCTION and says so — an
    * exact audit universe must be protocol-bounded for the verify mass
    * to be computable at all (the at-scale form is the q194 sample),
    * and that same bound makes the broadcast of one side safe. Output
    * is identical to [[jaccardPairsFromTokens]] (lossless blocking ⟹
    * same pair set): (id_a < id_b, jac_mills ≥ minJaccardMills).
    * Corpus-scale dedup paths must keep using the prefix-filtered
    * kernel — this one never prunes. */
  def jaccardPairsAllPairs(d: DataFrame, minJaccardMills: Int): DataFrame =
    keepJaccard(d.select(col("__id").as("id_a"), col("toks").as("ta"))
      .join(broadcast(d.select(col("__id").as("id_b"), col("toks").as("tb"))),
        col("id_a") < col("id_b")),
      minJaccardMills)

  /** The frame the within-corpus near-dup pipeline reads: one row per
    * doc of `df` with its sorted token set and its LSH bands —
    * (__id, toks, bands), one scan, in the one LSH geometry
    * (`TextFunctions.minhashBands`). [[verifiedComponents]] reads it
    * three times (banding and both verify joins), so callers
    * materialize it first. */
  def nearDupFrame(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("__id"),
      TextFunctions.tokenSetSorted(col(textCol)).as("toks"),
      TextFunctions.minhashBands(col(textCol)).as("bands"))

  /** Within-corpus near-dup groups (Lee et al. 2022 NearDup semantics)
    * over a [[nearDupFrame]]: star-capped LSH candidate pairs
    * ([[bandPairs]] at `maxBucket`), exact token-set Jaccard verify of
    * each candidate at `minJaccardMills`, then [[connectedComponents]]
    * over the VERIFIED edges only. Returns (id, comp) for every doc on a
    * verified edge; a doc absent from the result is a singleton. The
    * one composition behind `Engine.processCorpus(nearDedup = …)` and
    * the oracle-gated q196; each caller keeps its own materialization of
    * `d` and its own keeper projection. Scale shape: pair mass is linear
    * by the star cap, verification is two equi-joins of token sets onto
    * the pair list, and the components loop is the eager-checkpoint
    * kernel — no all-pairs anywhere. NOTE the verify-after-star trade:
    * the star preserves the RAW banding closure exactly, but a star edge
    * that fails verification can split a component a full clique would
    * have kept whole; pass `Int.MaxValue` for the lossless all-pairs
    * verify. */
  def verifiedComponents(d: DataFrame, minJaccardMills: Int,
      maxBucket: Int): DataFrame =
    connectedComponents(
      verifiedPairs(bandPairs(d, maxBucket), d, minJaccardMills)
        .select("id_a", "id_b"))

  /** Ordered containment (overlap-coefficient-toward-the-left) pairs:
    * (id_a, id_b, contain_mills) where contain_mills =
    * ⌊1000·|Tₐ∩T_b| / |Tₐ|⌋ ≥ `minContainMills` and a ≠ b. The
    * asymmetric complement to [[jaccardPairs]]: a short document quoted
    * inside a long one has high containment but low Jaccard (the union
    * is dominated by the long side), so symmetric near-dup passes miss
    * it — the common-crawl "page embeds the article" case.
    *
    * Blocking is the PPJoin-style prefix filter adapted to the
    * asymmetric bound (Chaudhuri et al. 2006 prefix filtering): if
    * C(a→b) ≥ t then b holds ≥ ⌈t·|Tₐ|⌉ of a's tokens, so at most
    * |Tₐ| − ⌈t·|Tₐ|⌉ tokens of a are missing from b — any
    * (|Tₐ| − ⌈t·|Tₐ|⌉ + 1)-subset of a's tokens must intersect T_b
    * (pigeonhole). The probe side therefore explodes only that prefix
    * (globally-rarest tokens first, for selectivity — ANY subset of
    * that size is lossless); the index side explodes its full token
    * set (token-mass linear, the candidate join is an equi-shuffle on
    * the shingle). Exact verification on distinct candidates only.
    * Lossless by construction — pinned by the randomized naive-parity
    * property spec. `blockCols` scopes both sides like
    * [[jaccardPairs]]. */
  def containmentPairs(
      df: DataFrame, textCol: String, idCol: String,
      minContainMills: Int = 700, blockCols: Seq[String] = Nil): DataFrame = {
    val d = df.select(col(idCol).as("__id") +: blockCols.map(col) :+
      TextFunctions.tokenSetSorted(col(textCol)).as("toks"): _*)
    val (toks, prefix) = prefixShingles(d, minContainMills, blockCols)
    val cand = prefix.withColumnRenamed("__id", "id_a")
      .join(toks.withColumnRenamed("__id", "id_b"), "shingle" +: blockCols)
      .where(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b").distinct()
    withTokenSets(cand, d)
      .withColumn("common",
        graft.functions.ArrayOps.sortedIntersectSize(col("ta"), col("tb")))
      .withColumn("contain_mills",
        floor(lit(1000) * col("common") / size(col("ta"))).cast("long"))
      .where(col("contain_mills") >= minContainMills)
      .select("id_a", "id_b", "contain_mills")
  }

  /** Round cap of [[connectedComponents]]: near-dup graphs converge in
    * graph-diameter rounds (2-3 on clique-ish graphs). */
  private val ComponentRounds = 20

  /** Connected components over a near-dup pair graph — the "dedup
    * groups" step that turns candidate pairs into keep/drop decisions
    * (keep the min id per component, drop the rest).
    *
    * Min-label propagation: every node starts labeled with itself; each
    * round takes the min of its own label and its neighbors' labels;
    * converges in graph-diameter rounds (near-dup graphs are clique-ish,
    * so 2-3). Each round is one equi-shuffle on the edge list — no
    * driver-side graph, no O(V²) anything; `persist` caps lineage
    * growth across rounds. Reads `pairs` (id_a, id_b); returns
    * (id, component = min reachable id) for every node that appears in
    * a pair, after at most [[ComponentRounds]] rounds. */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // iterative plans MUST cut lineage every round with an EAGER local
    // checkpoint: plain persist/unpersist chains proved unreliable here
    // (dependent-cache eviction re-exposed the full lineage, making each
    // round recompute everything before it — exponential blowup).
    // Local checkpoints trade executor-loss resilience for speed; a
    // multi-hour cluster run would point `spark.sparkContext
    // .setCheckpointDir` at reliable storage and use checkpoint()
    // instead — the loop shape is unchanged.
    //
    // Round-13 OPT: the symmetric edge list is ONE pass over `pairs`
    // (explode of the 2-struct array), not a union that executes the
    // caller's — often expensive banding/verify — subtree twice; and no
    // `.distinct()`: min-label propagation is idempotent under
    // duplicate edges (min over a multiset equals min over its set), so
    // the dedup exchange bought nothing — every in-repo caller passes a
    // distinct (id_a < id_b) pair list, and a caller that doesn't just
    // pays join width inside the rounds, never correctness.
    // Round-14 OPT (guide §2.4), three folds that make each round ONE
    // exchange instead of three:
    //  - SELF-LOOP edges ((a,a) and (b,b), emitted in the SAME explode
    //    so the caller's — often expensive banding/verify — subtree
    //    still executes exactly once) fold the old keep-own-label
    //    left-join into the message aggregate: min over the messages of
    //    edges ∪ self-loops IS least(own comp, min neighbor comp), and
    //    min-label is idempotent under the duplicate self-loops this
    //    emits. Every vertex has a self-loop, so the label set stays
    //    total.
    //  - repartition+sort on `src` BEFORE the checkpoint:
    //    localCheckpoint preserves outputPartitioning/outputOrdering in
    //    the LogicalRDD, so each round's probe join (and the label-init
    //    distinct) reads the edge frame exchange- and sort-free. The
    //    labels side is exchange-free too: each round's aggregate
    //    output is id-hash-partitioned, and the id→src rename is
    //    alias-transparent to the join's required distribution.
    //  - convergence rides an exact SUM SIGNATURE instead of an
    //    old-vs-new label compare: labels only ever decrease and the
    //    vertex set is constant, so Σcomp (exact, DECIMAL(38,0))
    //    strictly decreases iff any label changed. Same round count as
    //    the old changed-row counter, without carrying the previous
    //    label column through the round.
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")),
        struct(col("id_a").as("src"), col("id_a").as("dst")),
        struct(col("id_b").as("src"), col("id_b").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("src")).sortWithinPartitions("src")
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")).localCheckpoint(true)
    def sig(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(col("comp").cast("decimal(38,0)"))).collect()(0)
      (r.getLong(0), r.getDecimal(1))
    }
    var prevSig = sig(labels)
    var prevCkpt = labels // blocks the CURRENT labels projection reads
    var converged = false
    var i = 0
    while (!converged && i < ComponentRounds) {
      val updated = edges.join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(min("comp").as("comp"))
        .localCheckpoint(true) // eager: materialized HERE, off the old blocks
      val curSig = sig(updated)
      converged = curSig == prevSig
      prevSig = curSig
      prevCkpt.unpersist() // the new checkpoint no longer needs round i-1
      prevCkpt = updated
      labels = updated
      i += 1
    }
    if (!converged)
      System.err.println(s"[dedup] connectedComponents: NOT converged after " +
        s"$ComponentRounds rounds (label sum still decreasing) — component " +
        "ids beyond that radius are intermediate")
    edges.unpersist() // the result projection reads only the last checkpoint
    labels
  }

  /** The reusable corpus-side index [[dedupAgainst]] probes: one row
    * per corpus doc with the content key, the LSH band signatures
    * (array, position = band number) and the sorted token set — ONE
    * corpus scan. At steady state persist this (bucketed by
    * `content_key` / band signature) and maintain it incrementally;
    * every incoming batch then classifies against the stored index
    * instead of re-deriving it from corpus text (the inline
    * [[dedupAgainst]] overload scans the corpus once per derived
    * frame). Feed it to [[dedupAgainstIndex]]. */
  def buildDedupIndex(corpus: DataFrame, textCol: String,
      idCol: String): DataFrame =
    corpus.select(
      col(idCol).as("corpus_id"),
      TextFunctions.contentKey(col(textCol)).as("content_key"),
      TextFunctions.minhashBands(col(textCol)).as("band_sigs"),
      TextFunctions.tokenSetSorted(col(textCol)).as("toks"))

  /** The three corpus-side frames an against-corpus classification
    * probes, read off a [[buildDedupIndex]] frame: the content-key set
    * (__ck, __exact_id = min corpus id per key), the band rows
    * (__c, band_no, band_sig) and the token sets (__cid, __ct). Each
    * frame selects only the index columns it needs, so over an
    * unmaterialized index column pruning leaves each one its own
    * derivation and nothing more. [[dedupAgainstIndex]] (so
    * [[dedupAgainst]]) and `Incremental.corpusGate` build their corpus
    * side here. */
  private[graft] def corpusFrames(
      index: DataFrame): (DataFrame, DataFrame, DataFrame) =
    (index.select(col("content_key").as("__ck"), col("corpus_id").as("__cid"))
       .groupBy("__ck").agg(min("__cid").as("__exact_id")),
     index.select(col("corpus_id").as("__c"),
       posexplode(col("band_sigs")).as(Seq("band_no", "band_sig"))),
     index.select(col("corpus_id").as("__cid"), col("toks").as("__ct")))

  /** Incremental cross-corpus dedup — classify each incoming batch doc
    * against an existing reference corpus (the "don't re-ingest what the
    * corpus already holds" path of a continuously-fed training-data
    * pipeline; near-dup semantics per Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better").
    *
    * Verdicts, one row per batch doc:
    *  - `exact_dup`  — a corpus doc shares the content key
    *    (md5 of normalized text); `matched_id` = min such corpus id,
    *    `jaccard_mills` = 1000;
    *  - `near_dup`   — no exact match, but the doc shares a MinHash-LSH
    *    band with a corpus doc whose exact token-set Jaccard ≥
    *    `minJaccardMills`; `matched_id` = the best-match corpus id
    *    (max Jaccard, ties to min id), `jaccard_mills` = that Jaccard;
    *  - `new`        — neither; `matched_id` = -1, `jaccard_mills` = -1
    *    (sentinel, not NULL — keeps integer columns hash-comparable).
    *
    * Scale contract: the corpus side is the 100 TB side. Its content-key
    * set is one hash aggregate (min id per key) and its band index one
    * scan — at steady state both would be maintained incrementally as
    * bucketed tables; here they are derived from `corpus` through an
    * unmaterialized [[buildDedupIndex]]. The batch joins the key set by
    * content_key and the band index by (band_no, band_sig) — both plain
    * equi-shuffles; full text is never compared across the corpus, and
    * exact Jaccard runs only on distinct LSH candidates.
    *
    * Hot-band guard, OPT-IN via `maxCandidates` (same no-default
    * convention as `minhashLshPairs.maxBucket`): a degenerate band
    * (boilerplate collapsing many corpus docs onto one signature) makes
    * one batch doc verify against the whole bucket. A finite cap keeps
    * the `maxCandidates` corpus candidates with the most shared bands
    * (ties to min id) per batch doc — candidates are ranked by LSH
    * collision count, which is monotone in expected resemblance, so the
    * retained set is the most-probable-match set. CONTRACT when the cap
    * binds: verification is no longer exhaustive — a true near-dup
    * beyond the cap can be missed and its doc reported `new`. Pass
    * `Int.MaxValue` for lossless classification. OBSERVABILITY: the
    * verdict frame carries a `capped` flag — true exactly when this
    * doc's candidate set was truncated by the cap (the only rows whose
    * `new`/`near_dup` verdict can be lossy), so a 100 TB run reports
    * how often the lossy path fired with `sum(capped)`; always false
    * on the lossless path and for exact dups. */
  def dedupAgainst(
      batch: DataFrame, corpus: DataFrame, textCol: String, idCol: String,
      minJaccardMills: Int = 500,
      maxCandidates: Int): DataFrame =
    dedupAgainstIndex(batch, buildDedupIndex(corpus, textCol, idCol),
      textCol, idCol, minJaccardMills, maxCandidates)

  /** As [[dedupAgainst]], but against a PREBUILT (usually persisted)
    * [[buildDedupIndex]] frame — the steady-state shape where the
    * corpus index is maintained incrementally and only the batch is
    * derived per run. The classification kernel both share: exact key
    * probe, band-collision candidates, exhaustive-or-capped Jaccard
    * verify, verdict assembly, over the three [[corpusFrames]] of the
    * index (an index frame the caller materialized is scanned per
    * consumer). */
  def dedupAgainstIndex(
      batch: DataFrame, corpusIndex: DataFrame,
      textCol: String, idCol: String,
      minJaccardMills: Int = 500,
      maxCandidates: Int): DataFrame = {
    val (corpusKeys, corpusBands, corpusToks) = corpusFrames(corpusIndex)
    val b = batch.select(
      col(idCol).as("__bid"), col(textCol).as("__btext"),
      TextFunctions.contentKey(col(textCol)).as("__ck"))
    val keyed = b.join(corpusKeys, Seq("__ck"), "left")
    val rest = keyed.where(col("__exact_id").isNull)
      .select("__bid", "__btext")

    val cand = rest.select(
        col("__bid").as("__b"),
        posexplode(TextFunctions.minhashBands(col("__btext")))
          .as(Seq("band_no", "band_sig")))
      .join(corpusBands, Seq("band_no", "band_sig"))
      .groupBy("__b", "__c").agg(count(lit(1)).as("__nb"))
    // (capped candidates, per-doc lossy-path flags): when the cap can
    // bind, every batch doc whose candidate set was truncated gets a
    // row in `flags` — the 100 TB observability hook: a run can report
    // HOW OFTEN the documented lossy path fired (a `new` verdict with
    // `capped` true is exactly the can-have-missed-a-near-dup case).
    // The flag rides the SAME per-__b window exchange as the rank cut;
    // the lossless Int.MaxValue path keeps its plan untouched and
    // emits a constant false.
    val (capped, flags) =
      if (maxCandidates == Int.MaxValue) (cand, None)
      else {
        val w = Window.partitionBy("__b")
          .orderBy(col("__nb").desc, col("__c"))
        val counted = cand
          .withColumn("__rn", row_number().over(w))
          .withColumn("__nc",
            count(lit(1)).over(Window.partitionBy("__b")))
        val f = counted.where(col("__rn") === 1)
          .select(col("__b").as("__bid"),
            (col("__nc") > maxCandidates).as("__capped"))
        (counted.where(col("__rn") <= maxCandidates)
          .drop("__rn", "__nc"), Some(f))
      }

    val bToks = rest.select(col("__bid"),
      TextFunctions.tokenSetSorted(col("__btext")).as("__bt"))
    val best = capped
      .join(bToks, capped("__b") === bToks("__bid"))
      .join(corpusToks, capped("__c") === corpusToks("__cid"))
      .withColumn("__common",
        graft.functions.ArrayOps.sortedIntersectSize(col("__bt"), col("__ct")))
      .withColumn("__jm",
        jaccardMills(col("__common"), size(col("__bt")), size(col("__ct"))))
      .where(col("__jm") >= minJaccardMills)
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__bid").orderBy(col("__jm").desc, col("__cid"))))
      .where(col("__rn") === 1)
      .select(col("__bid"), col("__cid").as("__near_id"), col("__jm"))

    val joined = keyed.join(best, Seq("__bid"), "left")
    val flagged = flags match {
      case None    => joined.withColumn("__capped", lit(false))
      case Some(f) => joined.join(f, Seq("__bid"), "left")
    }
    flagged.select(
      col("__bid").as(idCol),
      when(col("__exact_id").isNotNull, lit("exact_dup"))
        .when(col("__near_id").isNotNull, lit("near_dup"))
        .otherwise(lit("new")).as("verdict"),
      coalesce(col("__exact_id"), col("__near_id"), lit(-1L))
        .as("matched_id"),
      when(col("__exact_id").isNotNull, lit(1000L))
        .otherwise(coalesce(col("__jm"), lit(-1L))).as("jaccard_mills"),
      // false for exact dups (never probed) and no-candidate docs
      coalesce(col("__capped"), lit(false)).as("capped"))
  }

  /** Embedding near-dup: blocks on `blockCol` (a label, LSH bucket, or
    * coarse quantizer cell), verifies by exact quantized cosine within
    * the block. Returns (id_a, id_b, cos_sq_scaled). */
  def embeddingNearDupPairs(
      df: DataFrame, vecCol: String, idCol: String, blockCol: String,
      minCosSqScaled: Long = 980100L /* 0.99² · 1e6 */): DataFrame = {
    val q = df.select(
      col(blockCol).as("__blk"), col(idCol).as("__id"),
      VectorFunctions.quantize(col(vecCol)).as("__q"))
    val l = q.select(col("__blk"), col("__id").as("id_a"), col("__q").as("qa"))
    val r = q.select(col("__blk"), col("__id").as("id_b"), col("__q").as("qb"))
    l.join(r, Seq("__blk"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cos_sq_scaled", VectorFunctions.cosineSqScaledQ(col("qa"), col("qb")))
      .where(col("cos_sq_scaled") >= minCosSqScaled)
      .select("id_a", "id_b", "cos_sq_scaled")
  }
}
