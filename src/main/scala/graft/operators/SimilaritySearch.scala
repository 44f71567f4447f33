package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (broadcast the query set, score
  * every corpus row, window top-k per query) — exact, one pass over the
  * corpus, no corpus shuffle; this is the recall oracle.
  *
  * Scale path: sign-LSH bucketing (random-hyperplane bits) — corpus is
  * pre-bucketed (one shuffle, reusable across queries), queries probe
  * only their own bucket (and optionally Hamming-1 neighbors), so the
  * per-query cost drops from O(N) to O(N / 2^bits) at a measured recall
  * trade-off. An IVF variant swaps the bucketer for k-means cells
  * without changing the probe/join shape.
  */
object SimilaritySearch {

  /** Shared rank/cut/projection tail of every top-k operator: rank per
    * query by (score direction, id asc), keep rank <= k, project the
    * canonical (query_id, neighbor_id, score, rank) shape. ONE
    * definition so a tie-break or cast change cannot desynchronize the
    * six ANN operators (and their oracle twins); Spark's
    * WindowGroupLimit applies the cut partially before the shuffle. */
  private def rankTopK(scored: DataFrame, idCol: String,
      scoreCol: String, asc: Boolean, k: Int): DataFrame = {
    val ord = if (asc) col(scoreCol).asc else col(scoreCol).desc
    val w = Window.partitionBy("query_id").orderBy(ord, col(idCol))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        col(scoreCol), col("rank"))
  }

  /** Brute-force top-k by quantized cosine (deterministic, exact-int
    * ranking; ties broken by corpus id). queries/corpus: (idCol, vecCol). */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(
      col(idCol).as("query_id"), VectorFunctions.quantize(col(vecCol)).as("qv"))
    val c = corpus.select(
      col(idCol).as("neighbor_id"), VectorFunctions.quantize(col(vecCol)).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sq_scaled", VectorFunctions.cosineSqScaledQ(col("qv"), col("cv")))
    rankTopK(scored, "neighbor_id", "cos_sq_scaled", asc = false, k)
  }

  /** The k corpus rows with the smallest md5(id), as centroid seeds —
    * deterministic (no RNG, md5 is unique per id so there are no ties)
    * and scale-safe: orderBy+limit plans as TakeOrderedAndProject
    * (per-partition top-k, then a k·P-row merge) — no global sort, no
    * single-partition exchange, unlike a row_number over an unpartitioned
    * window. The k rows are collected: k is the IVF cell count (tens to
    * a few thousand), the canonical inline-the-small-side case — the
    * centroid table then rides into every task as a plan literal instead
    * of a per-task join. Shared by the IVF quantizer and k-means init so
    * the two cannot drift. */
  private def seedCentroids(
      c: DataFrame, idCol: String, vecCol: String, k: Int): Array[(Long, Seq[Long])] = {
    // the numeric-id contract pqTopK states at its own entry, enforced
    // here for every seeded path (ivfTopK / kmeansAssignments /
    // semanticDedup): a string id would cast to NULL and surface as an
    // opaque NPE at the seed collect.
    require(c.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"idCol '$idCol' must be numeric (got ${c.schema(idCol).dataType})")
    // same contract for null ids/vectors: a null in the k seed rows
    // would otherwise die as a bare driver NPE in centroidLit — filter
    // BEFORE the hash-order cut so a null row costs coverage of itself
    // only, and fail readably if nothing valid remains.
    val seeds = c
      .where(col(idCol).isNotNull && col(vecCol).isNotNull)
      .orderBy(md5(col(idCol).cast("string")))
      .limit(k)
      .select(col(idCol).cast("long"), col(vecCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
      .sortBy(_._1)
    require(seeds.nonEmpty,
      s"no non-null ($idCol, $vecCol) rows to seed centroids from")
    seeds
  }

  /** One Lloyd centroid update over an assigned frame (`cell`, `q`):
    * partial (map-side) sums per (cell, dim) → k·dim tiny rows on the
    * driver; empty cells simply disappear. floor(sum/count) is the
    * engine-exact integer mean the DuckDB twins mirror — ONE definition
    * shared by the k-means rounds and the IVFADC coarse trainer so the
    * q58 and q114 kernels cannot drift. */
  private def lloydUpdate(assigned: DataFrame): Array[(Long, Seq[Long])] =
    assigned
      .select(col("cell"), posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy("cell", "pos")
      .agg(floor(sum(col("v")) / count(lit(1))).cast("long").as("m"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (cell, rows) =>
        (cell, rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq)
      }
      .toArray
      .sortBy(_._1)

  /** Budget on the inline centroid path: cells × dims literal nodes.
    * The inline plan embeds one literal per centroid component; past
    * ~64k nodes Catalyst analysis and Janino codegen degrade (deep
    * expression trees, oversized generated methods). Configs beyond the
    * budget dispatch to the broadcast-join assignment (centroids as a
    * one-row broadcast relation) — same kernel, data instead of plan. */
  val MaxInlineCentroidLits: Int = 65536

  /** Centroid set as a literal array<struct<cell_id, centroid>> column. */
  private def centroidLit(cents: Array[(Long, Seq[Long])]) =
    array(cents.map { case (id, v) =>
      struct(lit(id).as("cell_id"), array(v.map(lit(_)): _*).as("centroid"))
    }.toIndexedSeq: _*)

  /** The shared assignment kernel over a centroid-array column: per
    * row, score the k centroids, sort the k-element struct array (sim
    * desc, cell asc — sort_array on (neg_sim, cell_id)), keep the
    * `probes` head. Insensitive to the array's element order, so the
    * inline (literal-ordered) and broadcast (collect_list-ordered)
    * deliveries produce identical assignments by construction. */
  private def explodeBestCells(df: DataFrame, vec: String,
      centsCol: org.apache.spark.sql.Column, outCol: String, probes: Int,
      simCol: Option[String] = None): DataFrame = {
    val cands = sort_array(transform(centsCol, c =>
      struct(
        (-VectorFunctions.cosineSqScaledQ(col(vec), c.getField("centroid"))).as("neg_sim"),
        c.getField("cell_id").as("cell_id"))))
    val base = df.withColumn("__c", explode(slice(cands, 1, probes)))
      .withColumn(outCol, col("__c").getField("cell_id"))
    simCol.fold(base.drop("__c"))(s =>
      base.withColumn(s, -col("__c").getField("neg_sim")).drop("__c"))
  }

  /** Inline delivery: the centroid set rides into every task as plan
    * literals — no join, no shuffle, whole-stage codegen alongside the
    * scan. Only valid under the literal budget. */
  private[operators] def assignCellsInline(df: DataFrame, vec: String,
      cents: Array[(Long, Seq[Long])], outCol: String, probes: Int,
      simCol: Option[String] = None): DataFrame =
    explodeBestCells(df, vec, centroidLit(cents), outCol, probes, simCol)

  /** Broadcast delivery (the past-budget path): the centroid set is ONE
    * row of data — array<struct<cell_id, centroid>> — broadcast-joined
    * onto every input row (a 1-row broadcast nested loop: no fan-out,
    * no shuffle of the corpus). The plan stays k-independent (a single
    * attribute reference instead of k·dim literal nodes), so Catalyst /
    * Janino cost no longer grows with the centroid count; the array
    * itself ships once per executor via the broadcast. */
  private[operators] def assignCellsBroadcast(df: DataFrame, vec: String,
      cents: Array[(Long, Seq[Long])], outCol: String, probes: Int,
      simCol: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val centRow = cents.toSeq.toDF("cell_id", "centroid")
      .agg(collect_list(struct(col("cell_id"), col("centroid"))).as("__cents"))
    explodeBestCells(df.crossJoin(broadcast(centRow)), vec, col("__cents"),
      outCol, probes, simCol)
      .drop("__cents")
  }

  /** Argmax-cosine cell assignment (ties to the lowest cell id); keeps
    * the `probes` best cells. Dispatches on the literal budget: small
    * centroid sets inline into the plan, large ones broadcast as data —
    * identical assignments either way (same kernel, order-insensitive). */
  private def assignCells(df: DataFrame, vec: String, cents: Array[(Long, Seq[Long])],
      outCol: String, probes: Int, simCol: Option[String] = None): DataFrame = {
    val lits = cents.iterator.map(_._2.length + 1).sum
    if (lits <= MaxInlineCentroidLits) assignCellsInline(df, vec, cents, outCol, probes, simCol)
    else assignCellsBroadcast(df, vec, cents, outCol, probes, simCol)
  }

  /** IVF (inverted-file) ANN: a coarse quantizer of `nCells` centroids
    * partitions the corpus; queries probe only their nearest cell(s).
    *
    * Centroid selection is deterministic (k-smallest-md5 seeds via
    * `seedCentroids`); `kmeansAssignments` runs Lloyd iterations over
    * the same assignment kernel to train better centroids. Corpus
    * assignment is a shuffle-free projection against the inlined
    * centroid set — the reusable "index build"; each query then touches
    * ~N/nCells corpus rows instead of N. */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, nCells: Int = 16,
      nProbe: Int = 1): DataFrame = {
    require(nCells > 0 && nProbe > 0, s"nCells=$nCells, nProbe=$nProbe must be positive")
    val q = queries.select(col(idCol).as("query_id"),
      VectorFunctions.quantize(col(vecCol)).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      VectorFunctions.quantize(col(vecCol)).as("cv"))
    val cents = seedCentroids(c, "neighbor_id", "cv", nCells)

    val cAssigned = assignCells(c, "cv", cents, "cell", probes = 1)
    val qAssigned = assignCells(q, "qv", cents, "cell", probes = nProbe)
    val scored = cAssigned.join(broadcast(qAssigned), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sq_scaled", VectorFunctions.cosineSqScaledQ(col("qv"), col("cv")))
    rankTopK(scored, "neighbor_id", "cos_sq_scaled", asc = false, k)
  }

  /** Deterministic distributed k-means over quantized vectors — the
    * Lloyd iterations the IVF coarse quantizer's doc promises:
    * k-smallest-md5 init (no RNG), integer-cosine assignment (argmax,
    * ties to the lowest cell id), centroids recomputed as element-wise
    * floor-averaged integers — every step exact, so any engine
    * reproduces the identical assignment. Per iteration: one pass over
    * the corpus (assignment is a projection against the inlined
    * centroids) + one (cell, dim)-keyed partial-agg shuffle whose
    * result is k·dim rows, collected and re-inlined for the next round
    * — the corpus itself never shuffles. Returns (vec_id, cell) after
    * `iters` assignment rounds (centroids update between rounds). */
  def kmeansAssignments(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 2): DataFrame =
    kmeansAssignmentsWithVec(corpus, idCol, vecCol, k, iters)
      .select("vec_id", "cell")

  /** As `kmeansAssignments`, but keeps the winning centroid similarity
    * (the exact scaled-cosine² assignment metric itself) as `sim` —
    * the embedding-space outlier surface: a LOW best-centroid sim
    * means the vector is far from every cluster (mislabeled, noise,
    * or out-of-distribution), the complement SemDeDup's too-close
    * test. Same chain, same plans; the sim rides out of the final
    * assignment projection at zero extra passes. */
  def kmeansAssignmentsWithSim(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 2): DataFrame =
    kmeansAssignmentsWithVec(corpus, idCol, vecCol, k, iters,
      simCol = Some("sim"))
      .select("vec_id", "cell", "sim")

  /** As `kmeansAssignments`, but keeps the quantized vector: returns
    * (vec_id, q, cell[, simCol]). For consumers that need the vectors
    * alongside the cells (semanticDedup's pairwise pass) — reusing this
    * avoids a second full-corpus scan + re-quantize + reattach join. */
  private[operators] def kmeansAssignmentsWithVec(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, simCol: Option[String] = None): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    require(iters > 0, s"iters=$iters must be positive")
    // Multi-round Lloyd fires one action per round (seed collect, each
    // centroid-update collect, the caller's final assignment action):
    // without materialization every action rescans + requantizes the
    // source. Checkpoint the quantized (vec_id, q) projection ONCE —
    // eager, lineage-truncating — so per-round cost is flat in `iters`
    // (pinned by the k-means flat-cost spec); a single-round call keeps
    // the plain one-scan plan.
    val cBase = corpus.select(col(idCol).as("vec_id"),
      VectorFunctions.quantize(col(vecCol)).as("q"))
    val c = if (iters > 1) cBase.localCheckpoint(true) else cBase
    var cents = seedCentroids(c, "vec_id", "q", k)
    var assigned: DataFrame = null
    for (i <- 1 to iters) {
      // only the FINAL assignment needs the sim column
      assigned = assignCells(c, "q", cents, "cell", probes = 1,
        simCol = if (i == iters) simCol else None)
      if (i < iters) cents = lloydUpdate(assigned)
    }
    assigned
  }

  /** LSH-bucketed ANN over QUANTIZED vectors with Rademacher (±1)
    * md5-parity planes — the oracle-replicable scale path: bucketing and
    * scoring are exact integer math, so any md5-capable engine produces
    * the identical candidate set and ranking. Same output shape as
    * bruteForceTopK; recall < 1 by construction. */
  def rademacherLshTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, nPlanes: Int, dim: Int): DataFrame = {
    val q = queries.select(
      col(idCol).as("query_id"),
      VectorFunctions.quantize(col(vecCol)).as("qv"))
      .withColumn("bucket", VectorFunctions.rademacherLshBucket(col("qv"), nPlanes, dim))
    val c = corpus.select(
      col(idCol).as("neighbor_id"),
      VectorFunctions.quantize(col(vecCol)).as("cv"))
      .withColumn("bucket", VectorFunctions.rademacherLshBucket(col("cv"), nPlanes, dim))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sq_scaled", VectorFunctions.cosineSqScaledQ(col("qv"), col("cv")))
    rankTopK(scored, "neighbor_id", "cos_sq_scaled", asc = false, k)
  }

  /** Product-quantization ANN (Jégou, Douze & Schmid 2011, "Product
    * quantization for nearest neighbor search", IEEE TPAMI): the
    * quantized vector splits into `m` subspaces of dim/m components;
    * each subspace learns its own `ksub`-entry codebook (k-smallest-md5
    * seeds shared with the IVF quantizer, then `iters` Lloyd rounds
    * under exact integer squared-L2, argmin ties to the lowest code,
    * floor-averaged integer centroid updates — every step engine-exact
    * like the k-means chain); the corpus is ENCODED as m small codes
    * per vector; queries answer by ADC (asymmetric distance
    * computation): one m·ksub lookup table of exact sub-distances per
    * query, approx dist = Σ over subspaces of table[sub][code].
    *
    * Returns (query_id, neighbor_id, adc_l2, rank) — rank by ADC
    * distance ASC, ties to the lowest neighbor id, self excluded.
    *
    * Why this is THE memory-bound ANN scale path: the scan touches m
    * bytes of code per corpus vector instead of the full vector (16×
    * compression at m=4, dim=64, int32), and each candidate costs m
    * table lookups instead of a dim-length dot product. Codebooks are
    * m·ksub·(dim/m) integers — plan literals; the per-query LUT rides
    * in a broadcast; the corpus never shuffles (encode is a
    * projection, top-k is a partial-rank window). At warehouse scale
    * compose with the IVF cells (`ivfTopK`'s quantizer) to prune the
    * candidate list before the ADC scan — PQ compresses the scan, IVF
    * shortens it; they are orthogonal and multiplicative (IVFADC,
    * Jégou et al. §5). Codes that lose every member during a Lloyd
    * round drop out of the codebook, exactly like empty k-means
    * cells. */
  /** Exact integer squared L2 of two quantized vectors. Round-14 OPT:
    * the codegen'd Σ(a−b)² kernel replaces the interpreted
    * normSqQ+normSqQ−2·dotQ HOF trees evaluated once per (row ×
    * codebook entry × subspace) — a ring identity, value-identical
    * even under Long wrap. */
  private def l2q(a: Column, b: Column): Column =
    VectorFunctions.l2SqQ(a, b)

  /** PQ subspace slice s (0-based) of a dim = m·sd quantized vector. */
  private def pqSub(vec: Column, s: Int, sd: Int): Column =
    slice(vec, s * sd + 1, sd)

  /** argmin-L2 code for subspace s against its codebook entries — the
    * explodeBestCells idea, L2-ascending, ties to the lowest code,
    * inline literals. */
  private def pqCodeOf(vec: Column, s: Int, sd: Int,
      entries: Seq[(Int, Seq[Long])]): Column =
    element_at(sort_array(array(entries.map { case (code, cent) =>
      struct(
        l2q(pqSub(vec, s, sd), array(cent.map(lit(_)): _*)).as("d"),
        lit(code).as("code"))
    }: _*)), 1).getField("code")

  /** Train the m per-subspace codebooks over `c`'s ALREADY-QUANTIZED
    * vector column `q` (md5-seed init shared with the IVF quantizer,
    * `iters` integer-L2 Lloyd rounds, floor-mean updates, empty codes
    * drop) and return (books, c + `__codes`) from the FINAL round.
    * Extra columns of `c` ride through untouched. */
  private def trainPqBooks(c: DataFrame, m: Int, ksub: Int, iters: Int,
      sd: Int): (Map[Int, Seq[(Int, Seq[Long])]], DataFrame) = {
    val seeds = seedCentroids(c, "vec_id", "q", ksub)
    var books: Map[Int, Seq[(Int, Seq[Long])]] =
      (0 until m).map { s =>
        s -> seeds.zipWithIndex.map {
          case ((_, v), code) => (code, v.slice(s * sd, (s + 1) * sd))
        }.toSeq
      }.toMap
    var encoded: DataFrame = null
    for (i <- 1 to iters) {
      encoded = c.withColumn("__codes",
        array((0 until m).map(s => pqCodeOf(col("q"), s, sd, books(s))): _*))
      if (i < iters) {
        // per-(sub, code, dim) floor means — m·ksub·sd tiny rows on the
        // driver, the kmeansAssignments update shape
        books = encoded
          .select(col("q"), posexplode(col("__codes")).as(Seq("__sub", "__code")))
          .select(col("__sub"), col("__code"), posexplode(
            slice(col("q"), col("__sub") * sd + 1, lit(sd))).as(Seq("__d", "__v")))
          .groupBy("__sub", "__code", "__d")
          .agg(floor(sum(col("__v")) / count(lit(1))).cast("long").as("__mn"))
          .collect()
          .groupBy(r => (r.getInt(0), r.getInt(1)))
          .map { case ((s, code), rows) =>
            (s, code, rows.sortBy(_.getInt(2)).map(_.getLong(3)).toSeq)
          }
          .groupBy(_._1)
          .map { case (s, es) =>
            s -> es.map(e => (e._2, e._3)).toSeq.sortBy(_._1)
          }
      }
    }
    (books, encoded)
  }

  /** Per-query ADC lookup table over a quantized-vector column: flat
    * array, index sub·ksub + code, of exact sub-distances to every
    * codebook entry. Codes a Lloyd round emptied never occur in
    * `__codes` — their slots hold a poison value and are provably
    * never read. */
  private def pqLut(vec: Column, m: Int, ksub: Int, sd: Int,
      books: Map[Int, Seq[(Int, Seq[Long])]]): Column =
    array((for (s <- 0 until m; cd <- 0 until ksub) yield {
      books(s).find(_._1 == cd) match {
        case Some((_, cent)) =>
          l2q(pqSub(vec, s, sd), array(cent.map(lit(_)): _*))
        case None => lit(Long.MaxValue)
      }
    }): _*)

  /** ADC distance: Σ over subspaces of the `__lut` entry at this row's
    * `__codes`. Both lookups stay codegen'd (element_at on a Column
    * index). */
  private def pqAdc(m: Int, ksub: Int): Column =
    (0 until m).map(s =>
      element_at(col("__lut"),
        (lit(s * ksub) + element_at(col("__codes"), s + 1) + 1).cast("int")))
      .reduce(_ + _)

  /** The numeric-id contract, checked on the RAW schema — pq/ivfpq cast
    * idCol to long before seedCentroids ever sees it, so without this a
    * string id casts to NULL and dies as an opaque NPE at the seed
    * collect instead of a diagnostic. */
  private def requireNumericId(df: DataFrame, idCol: String, who: String): Unit =
    require(df.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"$who: idCol '$idCol' must be numeric (got ${df.schema(idCol).dataType})")

  def pqTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int = 4, ksub: Int = 8, iters: Int = 2, dim: Int = 64): DataFrame = {
    requireNumericId(corpus, idCol, "pqTopK")
    requireNumericId(queries, idCol, "pqTopK")
    require(m > 0 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    require(ksub > 0 && iters > 0 && k > 0,
      s"ksub=$ksub, iters=$iters, k=$k must be positive")
    val sd = dim / m
    val cBase = corpus.select(col(idCol).cast("long").as("vec_id"),
      VectorFunctions.quantize(col(vecCol)).as("q"))
    val c = if (iters > 1) cBase.localCheckpoint(true) else cBase
    val (books, encoded) = trainPqBooks(c, m, ksub, iters, sd)
    val q = queries
      .select(col(idCol).cast("long").as("query_id"),
        VectorFunctions.quantize(col(vecCol)).as("__qv"))
      .withColumn("__lut", pqLut(col("__qv"), m, ksub, sd, books))
      .select("query_id", "__lut")
    val scored = encoded.select("vec_id", "__codes")
      .crossJoin(broadcast(q))
      .where(col("query_id") =!= col("vec_id"))
      .withColumn("adc_l2", pqAdc(m, ksub))
    rankTopK(scored, "vec_id", "adc_l2", asc = true, k)
  }

  /** IVFADC — the composed warehouse-scale ANN (Jégou, Douze & Schmid
    * 2011 §5): the IVF coarse quantizer (same md5-seeded centroids and
    * argmax-cosine assignment as `ivfTopK`, q52's contract) partitions
    * the corpus into `nCells`; every vector is PQ-encoded on its
    * RESIDUAL against its cell centroid (residual energy ≪ vector
    * energy, so the same code budget quantizes far finer — the reason
    * IVFADC beats plain PQ at equal bits); queries probe their
    * `nProbe` best cells, each probe with its own residual ADC table.
    *
    * Scale shape: IVF shortens the scan (a query touches
    * ~nProbe/nCells of the corpus through a broadcast equi-join on
    * `cell`), PQ compresses what remains (m codes per row, m lookups
    * per candidate) — orthogonal and multiplicative. The codebooks are
    * trained on ALL residuals (one shared PQ codebook across cells,
    * the paper's IVFADC variant). Same output shape as `pqTopK`;
    * recall < 1 by construction (both quantizers approximate). */
  def ivfPqTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int = 8, nProbe: Int = 2,
      m: Int = 4, ksub: Int = 8, iters: Int = 2, dim: Int = 64,
      coarseIters: Int = 2): DataFrame = {
    requireNumericId(corpus, idCol, "ivfPqTopK")
    requireNumericId(queries, idCol, "ivfPqTopK")
    require(m > 0 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    require(nCells > 0 && nProbe > 0 && ksub > 0 && iters > 0 && k > 0 &&
        coarseIters > 0,
      s"nCells=$nCells, nProbe=$nProbe, ksub=$ksub, iters=$iters, k=$k, " +
        s"coarseIters=$coarseIters must be positive")
    val sd = dim / m
    val spark = corpus.sparkSession
    import spark.implicits._
    val cBase = corpus.select(col(idCol).cast("long").as("vec_id"),
      VectorFunctions.quantize(col(vecCol)).as("q"))
    val c = if (coarseIters > 1) cBase.localCheckpoint(true) else cBase
    // the coarse quantizer is TRAINED (Lloyd over the q58 kernel) —
    // unlike ivfTopK's seed-only cells: residual coding only pays off
    // when cells actually capture locality, so the paper trains the
    // coarse stage (Jégou et al. §5.1); seed-only cells leave residual
    // energy at ~2× vector energy on anything unclustered
    var cents = seedCentroids(c, "vec_id", "q", nCells)
    for (_ <- 2 to coarseIters) {
      cents = lloydUpdate(assignCells(c, "q", cents, "cell", probes = 1))
    }
    val centDf = cents.toSeq.toDF("cell", "__cent")
    // corpus: one cell each, residual against the cell centroid —
    // checkpointed ONCE so the PQ seed collect, each Lloyd update and
    // the final encode all reuse it instead of re-running the cell
    // assignment per action
    val cRes = assignCells(c, "q", cents, "cell", probes = 1)
      .join(broadcast(centDf), Seq("cell"))
      .select(col("vec_id"), col("cell"),
        VectorFunctions.arraySubQ(col("q"), col("__cent")).as("q"))
      .localCheckpoint(true)
    val (books, encodedRes) = trainPqBooks(cRes, m, ksub, iters, sd)
    // queries: nProbe cells, one residual ADC table PER probed cell
    val qLut = assignCells(
        queries.select(col(idCol).cast("long").as("query_id"),
          VectorFunctions.quantize(col(vecCol)).as("__qv")),
        "__qv", cents, "cell", probes = nProbe)
      .join(broadcast(centDf), Seq("cell"))
      .withColumn("__rq", VectorFunctions.arraySubQ(col("__qv"), col("__cent")))
      .withColumn("__lut", pqLut(col("__rq"), m, ksub, sd, books))
      .select("query_id", "cell", "__lut")
    val scored = encodedRes.select("vec_id", "cell", "__codes")
      .join(broadcast(qLut), Seq("cell"))
      .where(col("query_id") =!= col("vec_id"))
      .withColumn("adc_l2", pqAdc(m, ksub))
    rankTopK(scored, "vec_id", "adc_l2", asc = true, k)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with the deterministic
    * k-means quantizer, then mark every vector that has a cosine
    * neighbor at or above `minCosSqScaled` (sign(cos)·cos²·10⁶, the
    * engine-wide quantized-cosine scale) with a SMALLER id inside its
    * own cell. Returns (vec_id, cell, dropped) for every corpus row —
    * keep the `dropped = false` set.
    *
    * Scale shape: the pairwise pass is blocked by the learned cells —
    * an equi-join on `cell`, never corpus×corpus — and SemDeDup's k
    * grows with the corpus precisely to keep |cell| bounded, so the
    * within-cell pair space stays O(N·|cell|). The assignment frame is
    * checkpointed once so the self-join doesn't re-run Lloyd twice. */
  def semanticDedup(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, minCosSqScaled: Long): DataFrame = {
    // the WithVec variant keeps q from the Lloyd run — no second corpus
    // scan / re-quantize / reattach join
    val v = kmeansAssignmentsWithVec(corpus, idCol, vecCol, k, iters)
      .localCheckpoint(true)
    val drops = v.as("a").join(v.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .where(VectorFunctions.cosineSqScaledQ(col("a.q"), col("b.q"))
        >= minCosSqScaled)
      .select(col("b.vec_id").as("vec_id")).distinct()
    v.select("vec_id", "cell")
      .join(drops.withColumn("dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("dropped"), lit(false)).as("dropped"))
  }
}
