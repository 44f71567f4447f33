package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

/** Incremental / streaming ingestion (ST1) + stateful sessionization.
  *
  * The reference processes one file at a time with an idempotent skip of
  * already-processed submissions (`app/etl.py:904-930`; unique name
  * `app/models.py:38`). Structured Streaming's file source provides
  * exactly-once per-file semantics natively: the checkpoint's file log
  * IS the processed-submissions table, and `Trigger.AvailableNow` gives
  * batch-shaped runs that drain whatever is pending and stop.
  */
object Incremental {

  /** ST1: exactly-once file-source ingest. Every micro-batch runs
    * `transform` and appends to `outDir`; restartable from `checkpoint`. */
  def fileSourceIngest(
      spark: SparkSession,
      inDir: String,
      schema: StructType,
      checkpoint: String,
      outDir: String,
      transform: DataFrame => DataFrame = identity): Unit = {
    val q = transform(
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "32")
        .parquet(inDir))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", outDir)
      .start()
    q.awaitTermination()
  }

  /** Watermarked sliding-window event counts (the `events` surface). */
  def windowedCounts(stream: DataFrame,
      window_ : String = "1 hour", slide: String = "30 minutes",
      watermark: String = "15 minutes"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  case class Event(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  case class SessionUpdate(user_id: Long, n_events: Long, closed: Boolean)

  case class Keyed(key: String, id: Long)
  case class FirstSeen(key: String, id: Long)

  /** Streaming heavy-hitter state: one Space-Saving summary per shard
    * (bounded: at most `counters` entries), plus the shard's stream
    * position and a monotone emission version. */
  case class HhState(counts: Map[String, Long], n: Long, version: Long)

  /** One (key, tick, value) metric point for [[streamingZFlags]]. */
  case class MetricPoint(k: String, tick: Long, v: Long)
  case class ZFlag(k: String, tick: Long, v: Long, win_n: Long,
      win_sum: Long, anomalous: Boolean)
  /** Per-key trailing baseline: tick → value, pruned to the lookback
    * window behind the max tick seen — bounded state. */
  case class ZState(points: Map[Long, Long])

  /** One emitted summary row: shard's candidate item with its
    * (over-)estimated count, the shard total, and the emission version
    * — consumers keep each shard's max-version rows (the latest
    * summary; Append mode can't retract earlier ones). */
  case class HhSummary(shard: Int, version: Long, item: String,
    est: Long, shard_n: Long)

  /** Streaming exact dedup with flatMapGroupsWithState: emits each key's
    * FIRST occurrence only (smallest id within the first batch that sees
    * the key — deterministic), suppresses every later one. State is one
    * long per key with NO timeout: a processing-time timeout would pin
    * `Trigger.AvailableNow` drains alive waiting for the timer, so TTL
    * eviction belongs to a continuously-running deployment — there,
    * carry an event-time column, `withWatermark` it, and swap in
    * `EventTimeTimeout` without touching the emission logic.
    * The batch twin is q29 (groupBy content key, min id). */
  def streamingDedup(
      rows: org.apache.spark.sql.Dataset[Keyed]): org.apache.spark.sql.Dataset[FirstSeen] = {
    import rows.sparkSession.implicits._
    rows
      .groupByKey(_.key)
      .flatMapGroupsWithState[Long, FirstSeen](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, it, state: GroupState[Long]) =>
          if (state.exists) Iterator.empty
          else {
            val firstId = it.map(_.id).min
            state.update(firstId)
            Iterator.single(FirstSeen(key, firstId))
          }
      }
  }

  /** Streaming heavy hitters — the stateful half of the q83 two-pass
    * exact top-k (`HeavyHitters.topKExact`): maintain one bounded
    * Space-Saving summary (Metwally et al. 2005) per hash shard across
    * micro-batches, so the candidate superset is available CONTINUOUSLY
    * over an unbounded stream instead of per batch run.
    *
    * Sharding: md5(item) mod `nShards` — every occurrence of an item
    * lands in ONE shard, so the shard summary is exactly Space-Saving
    * over that substream, and the q83 invariant carries over verbatim:
    * any item with shard count > n_shard/counters survives its shard's
    * summary, hence any item with GLOBAL count > N/counters survives in
    * at least one emitted summary (its whole count sits in one shard —
    * tighter than the batch per-partition pigeonhole). Exact results
    * still require the recount pass on the candidates — that stays a
    * batch job over the staged store, exactly like pass B of q83.
    *
    * Emission: Append mode re-emits the shard's FULL summary each batch
    * it changes, stamped with a monotone `version`; sinks keep every
    * emission, so consumers filter to each shard's max version (the
    * spec's drain does). State is the bounded counter map itself —
    * `counters` entries per shard, independent of stream length.
    * NoTimeout for drain-style runs (the sessionizer's documented
    * eviction note applies unchanged).
    */
  /** Per-thread MD5 for the hottest per-record path — a
    * getInstance per record pays the JCE provider lookup + allocation
    * on every stream item. digest() leaves the instance reset. */
  private val Md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def streamingHeavyHitters(items: org.apache.spark.sql.Dataset[String],
      counters: Int, nShards: Int): org.apache.spark.sql.Dataset[HhSummary] = {
    require(counters >= 1, s"counters=$counters must be >= 1")
    require(nShards >= 1, s"nShards=$nShards must be >= 1")
    import items.sparkSession.implicits._
    items
      .groupByKey { t =>
        // four digest bytes: fewer silently caps effective shards at
        // 2^(8·bytes) — the two-byte version of this code left every
        // state store past 65536 permanently empty while the first 64k
        // absorbed all load. 32 bits covers any practical shard count.
        // STATE-COMPAT: the 2→4-byte change remapped items to new
        // shards, so a checkpoint written by the 2-byte build must NOT
        // be resumed by this one (an item's old count would strand in
        // its old shard while new arrivals accumulate elsewhere,
        // breaking the per-shard superset guarantee). Start a fresh
        // checkpoint on upgrade; version the shard function if a live
        // migration is ever needed.
        val h = Md5Local.get().digest(t.getBytes("UTF-8"))
        val w = ((h(0) & 0xff) << 24) | ((h(1) & 0xff) << 16) |
          ((h(2) & 0xff) << 8) | (h(3) & 0xff)
        math.floorMod(w, nShards)
      }
      .flatMapGroupsWithState[HhState, HhSummary](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (shard, it, state: GroupState[HhState]) =>
          val prev = state.getOption.getOrElse(HhState(Map.empty, 0L, 0L))
          // STATE-COMPAT, like the shard-count note above: `counters`
          // must be >= the value the checkpoint was written with — a
          // restored summary larger than the new capacity cannot be
          // seeded (fail HERE with the knob named, not per-batch with
          // SpaceSaving's opaque full-summary require)
          require(prev.counts.size <= counters,
            s"checkpoint summary holds ${prev.counts.size} entries but " +
              s"counters=$counters — restart with counters >= the " +
              "checkpointed value, or a fresh checkpoint")
          val ss = new graft.operators.HeavyHitters.SpaceSaving(counters)
          prev.counts.foreach { case (t, c) => ss.seed(t, c) }
          ss.restoreSeen(prev.n)
          it.foreach(ss.add)
          val next = HhState(ss.entries.toMap, ss.n, prev.version + 1)
          state.update(next)
          next.counts.iterator.map { case (t, c) =>
            HhSummary(shard, next.version, t, c, next.n)
          }
      }
  }

  /** Stream-stream interval join — the streaming twin of the q144
    * attribution join stage: an unbounded conversion stream joined to
    * an unbounded touch stream on the user key with the trailing
    * attribution-window range predicate. Structured Streaming's
    * stream-stream inner join with watermarks on BOTH event-time
    * columns and a range condition bounds each side's join state to
    * the window + watermark slack (without the range bound the state
    * would grow forever — the classic stream-join pitfall). Emits one
    * row per (conversion, touch) match in append mode.
    *
    * `watermarkDelay` trades state size against late-data tolerance:
    * touches older than `conv_ts − windowUs − delay` are evicted, so
    * a conversion arriving later than that finds nothing — exactly
    * the documented semantics of watermarked stream joins. With a
    * delay covering the drain's disorder, the match set equals the
    * batch range join row-for-row (StreamingSpec pins this). */
  def streamAttributionJoin(touches: DataFrame, convs: DataFrame,
      windowUs: Long, watermarkDelay: String): DataFrame = {
    require(windowUs >= 1, s"windowUs=$windowUs < 1")
    // event-time columns must be timestamps for watermarking; the
    // micros ride along for exact downstream arithmetic
    val t = touches
      .select(col("user_id"), col("touch_id"), col("touch_ts"),
        timestamp_micros(col("touch_ts")).as("touch_t"),
        col("channel"))
      .withWatermark("touch_t", watermarkDelay)
    val c = convs
      .select(col("user_id").as("c_user_id"), col("conv_id"),
        col("conv_ts"), timestamp_micros(col("conv_ts")).as("conv_t"))
      .withWatermark("conv_t", watermarkDelay)
    t.join(c,
      col("user_id") === col("c_user_id") &&
        col("touch_ts") < col("conv_ts") &&
        col("touch_ts") >= col("conv_ts") - lit(windowUs) &&
        // the TIMESTAMP twin of the micros range — this is the bound
        // the state manager can reason about for eviction. MICROSECOND
        // granularity, never seconds: a floored whole-second interval
        // would be TIGHTER than the micros predicate (sub-second
        // windows became unsatisfiable — 0 rows), silently dropping
        // matches the batch join keeps
        col("touch_t") < col("conv_t") &&
        col("touch_t") >= col("conv_t") - expr(
          s"INTERVAL $windowUs MICROSECOND"))
      .select(col("conv_id"), col("touch_id"), col("channel"),
        col("conv_ts"), col("touch_ts"))
  }

  /** Streaming trailing z-score anomaly flags — the stateful twin of
    * the batch `Rolling.trailingZFlags` (q138): each point is judged
    * against its key's trailing `[tick − lookback, tick − 1]` baseline
    * with the SAME squared-integer inequality
    * (m·x − s)²·10⁶ > zMills²·(m·q − s²), computed in BigInt (the
    * driver-side twin of the batch DECIMAL(38,0)) — so on an in-order
    * stream with UNIQUE (key, tick) pairs the drain is row-identical
    * to the batch operator. Duplicate ticks are where the two
    * legitimately differ: the batch RANGE frame keeps every duplicate
    * row in later baselines, while this state holds one value per tick
    * (last-writer-wins, see below) — metric streams (per-day rollups)
    * are unique-per-tick by construction.
    *
    * State per key is the trailing tick→value map, pruned to the
    * lookback window behind the max tick seen — `lookback + 1` entries
    * bound it regardless of stream length. Within a micro-batch points
    * are processed in (tick, v) order; a point at an already-seen tick
    * is judged against the current baseline and then overwrites it
    * (last-writer-wins, deterministic under the sort). Ticks older
    * than the retained window are judged against whatever the state
    * retains — batch parity is the IN-ORDER contract (per key
    * nondecreasing ticks across batches), which metric streams
    * (per-day rollups) satisfy by construction. */
  def streamingZFlags(points: org.apache.spark.sql.Dataset[MetricPoint],
      lookback: Long, minPoints: Int,
      zMills: Long): org.apache.spark.sql.Dataset[ZFlag] = {
    require(lookback >= 1, s"lookback=$lookback < 1")
    require(minPoints >= 2, s"minPoints=$minPoints < 2")
    require(zMills >= 0, s"zMills=$zMills < 0")
    import points.sparkSession.implicits._
    points
      .groupByKey(_.k)
      .flatMapGroupsWithState[ZState, ZFlag](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, it, state: GroupState[ZState]) =>
          var m = state.getOption.map(_.points).getOrElse(Map.empty[Long, Long])
          var mx = if (m.isEmpty) Long.MinValue else m.keysIterator.max
          val out = it.toSeq.sortBy(p => (p.tick, p.v)).map { p =>
            // one pass accumulates (n, s, q) — three filterKeys
            // traversals per point cost ~5x the needed work on dense keys
            val lo = p.tick - lookback
            var n = 0L; var s = BigInt(0); var q = BigInt(0)
            m.foreach { case (t, v) =>
              if (t >= lo && t <= p.tick - 1) { n += 1; s += v; q += BigInt(v) * v }
            }
            val dev = BigInt(n) * p.v - s
            val flag = n >= minPoints &&
              dev * dev * 1000000 > BigInt(zMills) * zMills * (n * q - s * s)
            m = m + (p.tick -> p.v)
            if (p.tick > mx) { // prune only when the window advanced
              mx = p.tick
              m = m.filter { case (t, _) => t >= mx - lookback }
            }
            ZFlag(key, p.tick, p.v, n, s.toLong, flag)
          }
          state.update(ZState(m))
          out.iterator
      }
  }

  /** Custom state: gap-based sessionization — the streaming twin of the
    * batch lag-window sessionizer (q23). EVENT-time semantics: a session
    * closes when the WATERMARK passes its last event + gap (not wall
    * clock — a processing-time timeout would both misdefine the session
    * boundary under replay and pin `Trigger.AvailableNow` drains alive).
    * Append-mode flatMap: only CLOSED sessions are emitted — split
    * sessions inside a batch immediately, watermark-expired ones via
    * EventTimeTimeout — so any append sink (parquet, Kafka) works and
    * restarts recover in-flight sessions from the state store. */
  def sessionize(events: org.apache.spark.sql.Dataset[Event],
      gapSeconds: Long = 1800): org.apache.spark.sql.Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", s"$gapSeconds seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), SessionUpdate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, _, state: GroupState[(Long, Long)]) if state.hasTimedOut =>
          val (n, _) = state.get
          state.remove()
          Iterator.single(SessionUpdate(uid, n, closed = true))
        case (uid, it, state: GroupState[(Long, Long)]) =>
          val evs = it.toSeq.sortBy(_.ts.getTime)
          var (n, lastMs) = state.getOption.getOrElse((0L, 0L))
          // the anchor is EXPLICIT, not a lastMs==0 sentinel: an event
          // at (or before) the epoch has getTime <= 0, and a sentinel
          // would skip the gap check after it — silently merging two
          // sessions that should have closed
          var hasAnchor = state.exists
          val closed = Seq.newBuilder[SessionUpdate]
          evs.foreach { e =>
            if (hasAnchor && e.ts.getTime - lastMs > gapSeconds * 1000) {
              closed += SessionUpdate(uid, n, closed = true)
              n = 0L
            }
            n += 1
            // never regress: a LATE within-watermark event from an
            // earlier micro-batch merges into the session but must not
            // pull the gap anchor (and the armed timeout) backwards —
            // that would split and close genuine sessions early
            lastMs = if (hasAnchor) math.max(lastMs, e.ts.getTime)
                     else e.ts.getTime
            hasAnchor = true
          }
          state.update((n, lastMs))
          // the timeout must sit strictly above the current watermark —
          // a user already idle for > gap relative to the stream's head
          // closes on the next watermark advance. In BATCH execution of
          // the same Dataset there is no watermark (and timeouts never
          // fire), so timeout arming is skipped there.
          try state.setTimeoutTimestamp(
            math.max(lastMs + gapSeconds * 1000, state.getCurrentWatermarkMs() + 1))
          catch { case _: UnsupportedOperationException => () }
          closed.result().iterator
      }
  }

  case class GatedDoc(doc_id: Long, lang: String, text: String,
    content_key: String)

  /** One candidate-join row of the against-corpus gate: the doc plus a
    * possible exact match (corpus min id on the content key) and a
    * possible LSH-candidate Jaccard (mills) — either absent when the
    * left joins found nothing. */
  case class CandDoc(doc_id: Long, lang: String, text: String,
    content_key: String, exact_id: Option[Long], jm: Option[Long])

  /** Per-drain accounting for [[corpusGate]]'s lossy corpus band index
    * (verdict r11): `cappedBuckets` = degenerate (band, signature)
    * buckets that exceeded `againstBucketCap`, `droppedIndexRows` =
    * corpus band rows the cap discarded. Zero/zero means the drain's
    * candidate generation was exhaustive — the batch-parity guarantee
    * holds unconditionally; nonzero means the recall trade documented
    * on `againstBucketCap` was LIVE this drain (a near-dup hiding
    * beyond the cap in one of those buckets could slip through as
    * novel), the streaming twin of `Dedup.dedupAgainstIndex`'s per-row
    * `capped` flag. Computed once per drain from the static-side
    * window pass — no per-batch cost. */
  case class CorpusGateReport(cappedBuckets: Long, droppedIndexRows: Long)

  /** Incremental corpus gate — the STREAMING twin of the per-document
    * stages of `Engine.processCorpus`: unicode cleanup + PII scrub
    * (`cleanText`/`scrubPii`, q77/q73's operators), empty-drop, the
    * optional Gopher A1.1 rule gate (q91's projection, unforked), then
    * stateful first-occurrence exact dedup on the cleaned content key
    * (the q29 batch twin: min doc_id per key — identical when ids
    * arrive in increasing batches). New crawl files land in `inDir`;
    * each AvailableNow drain appends only the gated NOVEL documents to
    * `outDir`, exactly once across restarts (file-source checkpoint +
    * key state).
    *
    * Corpus-GLOBAL stages stay batch by design — line dedup, passage
    * removal and budget/DSIR selection need the whole corpus, so a
    * training cut runs them downstream on the gated store; this gate
    * keeps the store clean and duplicate-free INCREMENTALLY, which is
    * the expensive part at crawl scale (state: one long per distinct
    * content key; size the stateful shuffle with `expectedKeys` —
    * [[statePartitions]] semantics, state-store confs copied into the
    * isolated drain session like the q44/q71 gates).
    *
    * `againstCorpus`: the streaming twin of `Dedup.dedupAgainst` (the
    * q109 operator) — with a STANDING corpus given, each drain also
    * drops documents the corpus already holds, by exact content key or
    * LSH-banded near-dup at `againstMinJaccardMills` (the one
    * `TextFunctions.minhashBands` geometry, `LshBands` ×
    * `LshRowsPerBand` = 2×4 md5 bands; exhaustive verify). The corpus
    * key set, band index and token sets (`Dedup.corpusFrames`, the
    * batch twin's) are STREAM-STATIC joins — stateless per
    * micro-batch, recomputed from the static frame each drain — and a
    * corpus-held key is remembered in the first-seen state (-1), so
    * re-submissions drop on the state path without re-probing the
    * corpus.
    *
    * `againstBucketCap`: per-(band, signature) cap on the corpus band
    * index (kept: the `againstBucketCap` lowest corpus doc_ids —
    * deterministic). A degenerate bucket of N near-identical corpus
    * docs would otherwise fan every colliding stream doc out to N
    * verifications per micro-batch with no bound; the stream side
    * cannot apply `dedupAgainstIndex`'s per-doc candidate cap (no
    * windows/groupBy before flatMapGroupsWithState). CONTRACT when the
    * cap binds (same recall trade as the batch path's
    * `maxCandidates`): verification is not exhaustive — a true
    * near-dup hiding beyond the cap in a degenerate bucket can slip
    * through as novel, diverging from batch `dedupAgainstIndex`. The
    * default is far above any honest bucket; pass `Int.MaxValue` for
    * lossless parity with the batch twin. Whether the cap BOUND this
    * drain is not silent: the returned [[CorpusGateReport]] counts the
    * capped buckets and dropped index rows from the static-side window
    * pass (zero/zero without a standing corpus, or when every bucket
    * fit). */
  def corpusGate(
      spark: SparkSession,
      inDir: String,
      schema: StructType,
      checkpoint: String,
      outDir: String,
      gopherStops: Option[Seq[String]] = None,
      expectedKeys: Long = 0L,
      againstCorpus: Option[DataFrame] = None,
      againstMinJaccardMills: Int = 500,
      againstBucketCap: Int = 1024): CorpusGateReport = {
    val session = if (expectedKeys <= 0L) spark else {
      val s2 = isolatedClone(spark)
      s2.conf.set("spark.sql.shuffle.partitions",
        statePartitions(spark, expectedKeys).toString)
      s2
    }
    import session.implicits._
    import graft.functions.{TextFunctions, UnicodeNorm}
    val stream = session.readStream.schema(schema)
      .option("maxFilesPerTrigger", "32").parquet(inDir)
    val cleaned = stream
      .withColumn("text",
        TextFunctions.scrubPii(UnicodeNorm.cleanText(col("text"))))
      .where(TextFunctions.tokenCount(col("text")) > 0)
    val ruled = gopherStops match {
      case None => cleaned
      case Some(stops) =>
        // the q91 projection drops its text column (and a stream cannot
        // join flags back on the id): carry a copy through the
        // operator's keepColumns passthrough and restore it
        graft.operators.TextAnalysis.gopherQualityFlags(
            cleaned.withColumn("__text", col("text")),
            "text", "doc_id", stops, keepColumns = Seq("lang", "__text"))
          .where(col("gopher_ok"))
          .select(col("doc_id"), col("lang"), col("__text").as("text"))
    }
    // contentKey = md5(lower(trim(text))) — the SAME key the batch twin
    // (Dedup.exact / q29) and the against-corpus exact probe below use;
    // a raw md5(text) here would admit case/whitespace duplicates the
    // batch cut is documented to remove
    val keyed = ruled.withColumn("content_key",
      TextFunctions.contentKey(col("text")))
    // the gated stream of survivors: plain first-occurrence state, or —
    // with a standing corpus — the q109 classification as STREAM-STATIC
    // joins (the static key set / band index / token sets are stateless
    // per micro-batch; only the first-seen key state is stateful), and
    // a key the corpus already holds is remembered in state (-1) so
    // later batches drop it without re-probing
    // corpus-side index frames persisted for the drain, released after
    val corpusIndexPins = scala.collection.mutable.Buffer.empty[DataFrame]
    val (survivors, report) = againstCorpus match {
      case None =>
        (keyed.select("doc_id", "lang", "text", "content_key").as[GatedDoc]
          .groupByKey(_.content_key)
          .flatMapGroupsWithState[Long, GatedDoc](
            OutputMode.Append, GroupStateTimeout.NoTimeout) {
            case (_, it, state: GroupState[Long]) =>
              if (state.exists) Iterator.empty
              else {
                val first = it.minBy(_.doc_id)
                state.update(first.doc_id)
                Iterator.single(first)
              }
          }, CorpusGateReport(0L, 0L))
      case Some(corpus) =>
        // the corpus side is the batch twin's: the three corpusFrames of
        // an unmaterialized buildDedupIndex (column pruning leaves each
        // frame its own derivation)
        val (keys, bandRows, tokSets) = graft.operators.Dedup.corpusFrames(
          graft.operators.Dedup.buildDedupIndex(corpus, "text", "doc_id"))
        // the probe key IS content_key (already on every stream row) —
        // a second md5(lower(trim(text))) column would re-evaluate the
        // digest per row and ride redundantly through the joins
        val cKeys = keys.persist()
        corpusIndexPins += cKeys
        // persist the three corpus-side index frames: a stream-static
        // join re-executes the static side EVERY micro-batch — a
        // 10-batch drain would otherwise rescan (and re-hash) the whole
        // corpus 30 times for identical results
        // Each corpus band BUCKET is capped at `againstBucketCap`
        // (batch-side window — legal here, the static side is a plain
        // DataFrame); semantics and the recall trade are documented on
        // the parameter. (A pair colliding on BOTH bands is still
        // verified twice — bounded ×2, accepted.)
        val bucketCap = againstBucketCap
        val wBucket = org.apache.spark.sql.expressions.Window
          .partitionBy("band_no", "band_sig").orderBy("__c")
        // the PRE-cap banded index stays UNPERSISTED: caching it would
        // pin exactly the over-cap rows the cap exists to discard in
        // executor memory for the whole drain — unbounded on a
        // degenerate corpus. Only the capped cut (bounded at
        // `bucketCap` rows per bucket) is pinned for the per-batch
        // stream-static joins; the price is ONE extra banding pass
        // over the corpus when the observability aggregate below runs
        val cBandsAll = bandRows.withColumn("__rn", row_number().over(wBucket))
        // verdict r11: the cap's recall trade must be observable — a
        // drain reports how many degenerate buckets were truncated
        // (computed once here on the static side; bounded collect, one
        // aggregate row, its own full pass — see the cache note above)
        val overCap = cBandsAll.where(col("__rn") > bucketCap)
          .agg(countDistinct(col("band_no"), col("band_sig")).as("b"),
            count(lit(1)).as("r"))
          .head()
        val gateReport = CorpusGateReport(overCap.getLong(0), overCap.getLong(1))
        val cBands = cBandsAll.where(col("__rn") <= bucketCap).drop("__rn")
          .persist()
        corpusIndexPins += cBands
        val cToks = tokSets.persist()
        corpusIndexPins += cToks
        val minJac = againstMinJaccardMills
        (keyed
          .withColumn("__bt", TextFunctions.tokenSetSorted(col("text")))
          .select(col("doc_id"), col("lang"), col("text"),
            col("content_key"), col("__bt"),
            posexplode(TextFunctions.minhashBands(col("text")))
              .as(Seq("band_no", "band_sig")))
          .join(cBands, Seq("band_no", "band_sig"), "left")
          .join(cToks, col("__c") === col("__cid"), "left")
          .withColumn("__common", when(col("__ct").isNull, lit(null))
            .otherwise(graft.functions.ArrayOps
              .sortedIntersectSize(col("__bt"), col("__ct"))))
          .withColumn("__jm", when(col("__common").isNull, lit(null))
            .otherwise(graft.operators.Dedup.jaccardMills(col("__common"),
              size(col("__bt")), size(col("__ct")))))
          .join(cKeys, col("content_key") === col("__ck"), "left")
          .select(col("doc_id"), col("lang"), col("text"),
            col("content_key"), col("__exact_id").as("exact_id"),
            col("__jm").as("jm")).as[CandDoc]
          .groupByKey(_.content_key)
          .flatMapGroupsWithState[Long, GatedDoc](
            OutputMode.Append, GroupStateTimeout.NoTimeout) {
            case (_, it, state: GroupState[Long]) =>
              if (state.exists) Iterator.empty
              else {
                val rows = it.toSeq
                val held = rows.exists(r =>
                  r.exact_id.isDefined || r.jm.exists(_ >= minJac))
                if (held) { state.update(-1L); Iterator.empty }
                else {
                  val f = rows.minBy(_.doc_id)
                  state.update(f.doc_id)
                  Iterator.single(
                    GatedDoc(f.doc_id, f.lang, f.text, f.content_key))
                }
              }
          }, gateReport)
    }
    // unpersist in finally: if the drain throws, the pinned corpus
    // frames must not leak in the shared SparkContext's cache
    try {
      val q = survivors
        .writeStream
        .outputMode(OutputMode.Append)
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      report
    } finally corpusIndexPins.foreach(_.unpersist())
  }

  /** Isolated session clone for drain-style streaming runs: own SQLConf
    * + temp-view catalog on the shared SparkContext, so state-store
    * sizing and memory-sink tables never leak into concurrent queries
    * on the caller's session. `newSession` starts from CONTEXT defaults,
    * so the one piece of session-level configuration a caller may
    * legitimately vary — the state-store provider class (memory vs
    * RocksDB, the 100 TB state backend) and its tuning knobs — is
    * copied through as the whole `spark.sql.streaming.stateStore.*`
    * prefix. The ONE clone rule, shared by [[corpusGate]] and
    * SparkEntry's q44/q71 bench drains (two inline copies of this logic
    * had already drifted once). */
  def isolatedClone(s: SparkSession): SparkSession = {
    val s2 = s.newSession()
    s.conf.getAll.foreach { case (k, v) =>
      if (k.startsWith("spark.sql.streaming.stateStore.")) s2.conf.set(k, v)
    }
    s2
  }

  /** Session-conf key overriding [[statePartitions]] — lets a caller
    * (or a spec) pin the stateful shuffle width without editing code;
    * the partition-count-invariance spec drives the real engine at an
    * overridden width to prove results don't depend on the knob. */
  val StatePartitionsOverrideConf = "graft.streaming.statePartitions"

  /** `spark.sql.shuffle.partitions` for a STATEFUL streaming query as a
    * function of expected key cardinality — for stateful queries this
    * conf is the number of state stores (each a per-partition store +
    * task per micro-batch, and on RocksDB a directory of SSTs), so it
    * must scale with the KEY SPACE, not default to the batch shuffle
    * width: a tiny keyspace (hours × event types) on 32 partitions is
    * 32 stores of pure overhead, while a 10⁹-user keyspace on 8 is an
    * OOM. ~`keysPerPartition` keys per store, clamped to
    * [1, maxPartitions]. NOTE: for a given checkpoint this is fixed at
    * first start (state is hash-partitioned by this width); changing it
    * requires a new checkpoint (or offline state repartitioning). */
  def partitionsForKeys(expectedKeys: Long, keysPerPartition: Long = 65536L,
      maxPartitions: Int = 2048): Int = {
    require(expectedKeys >= 0, s"expectedKeys=$expectedKeys must be >= 0")
    require(keysPerPartition >= 1,
      s"keysPerPartition=$keysPerPartition must be >= 1")
    require(maxPartitions >= 1, s"maxPartitions=$maxPartitions must be >= 1")
    val want = (expectedKeys + keysPerPartition - 1) / keysPerPartition
    math.min(math.max(want, 1L), maxPartitions.toLong).toInt
  }

  /** [[partitionsForKeys]] with the session-conf override applied —
    * the entry point the streaming gates size their drain clones with. */
  def statePartitions(s: SparkSession, expectedKeys: Long): Int =
    s.conf.getOption(StatePartitionsOverrideConf).map(_.trim.toInt)
      .getOrElse(partitionsForKeys(expectedKeys))
}
