package graft.operators

import graft.functions.{Normalize, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Entity resolution: exact broadcast lookup, blocked fuzzy top-k join,
  * penalty adjustment, and three-band decision routing.
  *
  * Reference semantics (`app/etl.py:1204-1380`): each exploded item is
  * first looked up case-insensitively in the canonical dictionary
  * (score 100, resolved); misses are fuzzy-scored against the whole
  * dictionary with `token_set_ratio`, penalty-adjusted
  * (`app/etl.py:713-755`), top-10 candidates kept, and routed:
  * score ≥ 97 auto-resolve, ≥ 50 human review with top-3 alternatives,
  * else auto-reject (`app/etl.py:40-42`, `1318-1374`).
  *
  * Spark-first plan shape:
  *  - exact phase = broadcast hash join on a lowercased key (J1);
  *  - fuzzy phase runs ONLY on the exact-miss anti side (the reference's
  *    short-circuit, expressed as a plan, `app/etl.py:1263-1271`);
  *  - small dictionaries (the reference reality, ~5k rows) use a
  *    broadcast nested-loop join; at 100 TB the token-blocked variant
  *    joins on shared tokens first (equi-join shuffle, no cross product)
  *    and dedupes candidate pairs before scoring;
  *  - top-k = one window (`row_number`) partitioned by item; the best
  *    pick and its alternatives = one aggregate over those k rows, so
  *    every candidate pair is scored once.
  */
object EntityResolution {

  /** The reference's three decision constants (`app/etl.py:40-42`).
    * NB `fuzzyFloor` mirrors FUZZY_MATCH_THRESHOLD for config-surface
    * fidelity but — exactly like the reference's own flow — nothing in
    * [[resolve]] gates on it: candidate rescue keys off `autoResolve`
    * and banding off `autoResolve`/`autoReject`. Tuning it changes
    * nothing; it is carried, not consulted. */
  case class Thresholds(
      autoResolve: Double = 97.0,
      autoReject: Double = 50.0,
      fuzzyFloor: Double = 85.0)

  /** Exact case-insensitive dictionary join. `dict(title, ext_id)`.
    * Returns items + (ext_id, exact_score) with null ext_id for misses. */
  def exactMatch(
      items: DataFrame,
      dict: DataFrame,
      itemCol: String = "item_name",
      titleCol: String = "title",
      idCol: String = "ext_id"): DataFrame = {
    // WHITESPACE-trimmed key (Normalize.WsTrimRe — the reference's
    // Python strip()): plain trim() strips spaces only, so a
    // newline/tab-edged submission name would miss the exact phase
    // the reference resolves at 100. The oracle twins' exact_dict CTE
    // trims with the same regex in lockstep.
    def key(c: org.apache.spark.sql.Column) =
      lower(regexp_replace(c, graft.functions.Normalize.WsTrimRe, ""))
    val d = dict.select(
      key(col(titleCol)).as("__dict_key"),
      col(idCol).as("exact_ext_id"))
      // a dictionary may legitimately carry duplicate titles; resolution
      // is deterministic: keep the smallest id per title.
      .groupBy("__dict_key").agg(min(col("exact_ext_id")).as("exact_ext_id"))
    items
      .join(broadcast(d), key(col(itemCol)) === col("__dict_key"), "left")
      .drop("__dict_key")
  }

  /** Char-3-gram blocking keys: the lowercased text stripped of all
    * non-alphanumerics, windowed into distinct 3-grams; strings shorter
    * than 3 chars block on the whole stripped string (empty → no keys).
    * Mirrored verbatim in the q41/q59/q66 DuckDB oracle twin. */
  private[operators] def charGrams(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val s = regexp_replace(lower(trim(c)), "[^a-z0-9]+", "")
    when(length(s) >= 3,
      array_distinct(transform(sequence(lit(0), length(s) - 3),
        i => s.substr(i + lit(1), lit(3)))))
      .when(length(s) > 0, array(s))
      .otherwise(array().cast("array<string>"))
  }

  /** Candidate generation for the fuzzy phase; every candidate carries
    * its RAW `token_set_ratio` in `raw_score` (computed once here —
    * the blocked path needs it for the rescue gate, `resolve` for
    * ranking).
    * blocked=false → broadcast cross join (small dict);
    * blocked=true  → token blocking, plus a two-phase char-3-gram
    * RESCUE pass. Each family is an explode + shuffle equi-join — no
    * O(N·D) cross product — which is the 100 TB path.
    *
    * Token blocking alone misses high-similarity pairs that share NO
    * whitespace token (`"ap ple"` vs `"apple"`, concatenations,
    * single-token typos) because indel-based scores do not imply a shared
    * token. The char-3-gram family closes that hole, but running it for
    * every miss would re-pair items token blocking already paired AND pay
    * a quadratic blowup on hot grams — a gram appearing in fraction f of
    * both sides emits f²·N·D join rows, and common trigrams ("ing",
    * "ate") make that a constant fraction of the full cross product
    * regardless of the bounded 36³ key space (AQE can split the
    * partitions but cannot shrink the output). So the gram family is
    * GATED, two-phase: token candidates are raw-scored first, and grams
    * run only for names whose BEST token-blocked candidate raw-scores
    * below `rescueFloor` (names with zero token candidates included).
    * A name token-paired only with weak candidates ("green apple" vs
    * dict "green tea") therefore still reaches a gram-only true match
    * ("greenapple inc") — gating on zero-candidates alone would not pair
    * it. Names with a confident token candidate see only their token
    * candidates, so the rescue set stays small (mangled or genuinely
    * unmatched names) and hot grams multiply a small N. A rescued name
    * keeps its weak token candidates too — the families can overlap for
    * it, hence the dedupe after the union. */
  def fuzzyCandidates(
      misses: DataFrame,
      dict: DataFrame,
      itemCol: String,
      titleCol: String,
      idCol: String,
      blocked: Boolean,
      rescueFloor: Double = 97.0): DataFrame = {
    val d = dict.select(col(titleCol).as("cand_title"), col(idCol).as("cand_ext_id"))
    def rawScored(pairs: DataFrame) = pairs.withColumn("raw_score",
      Similarity.token_set_ratio(col(itemCol), col("cand_title")))
    if (!blocked)
      // same key-dedupe as the blocked path: a dict with duplicate
      // (title, ext_id) rows would otherwise emit duplicate candidate
      // pairs that waste topK slots and duplicate alternatives — and
      // make blocked/unblocked outputs disagree on the same input
      rawScored(misses.crossJoin(broadcast(d))
        .dropDuplicates(misses.columns ++ Seq("cand_title", "cand_ext_id")))
    else {
      val itemTok = misses.withColumn(
        "__tok", explode(array_distinct(split(lower(trim(col(itemCol))), "[^a-z0-9]+"))))
        .where(length(col("__tok")) > 1)
      val dictTok = d.withColumn(
        "__tok", explode(array_distinct(split(lower(trim(col("cand_title"))), "[^a-z0-9]+"))))
        .where(length(col("__tok")) > 1)
      // eager pin: tokenPairs feeds BOTH the rescue-set derivation and
      // the final union — without it the token_set_ratio kernel (the
      // dominant fuzzy-phase cost) runs twice over every blocked pair
      val tokenPairs = rawScored(itemTok.join(dictTok, "__tok").drop("__tok")
        .dropDuplicates(misses.columns ++ Seq("cand_title", "cand_ext_id")))
        .localCheckpoint(true)
      // phase 2 — rescue set: misses with no token-blocked candidate at
      // or above the accept floor (subsumes names with zero candidates).
      val strongNames = tokenPairs.where(col("raw_score") >= rescueFloor)
        .select(col(itemCol)).distinct()
      val rescued = misses.join(strongNames, Seq(itemCol), "left_anti")
      val itemGram = rescued.withColumn("__gram", explode(charGrams(col(itemCol))))
      val dictGram = d.withColumn("__gram", explode(charGrams(col("cand_title"))))
      val gramPairs = rawScored(itemGram.join(dictGram, "__gram").drop("__gram")
        .dropDuplicates(misses.columns ++ Seq("cand_title", "cand_ext_id")))
      // a rescued name can reach the same candidate through both
      // families; duplicate rows carry equal raw_score, so key-dedupe.
      tokenPairs.unionByName(gramPairs)
        .dropDuplicates(misses.columns ++ Seq("cand_title", "cand_ext_id"))
    }
  }

  /** The reference's dietary-term list (`app/etl.py:44-49`) — ALSO
    * interpolated into the q40/q41/q59/q66 oracle twins, so the oracle
    * can never drift from the operator. */
  val DefaultDietaryTerms: Seq[String] = Seq("gluten-free", "organic",
    "natural", "raw", "extra virgin", "whole grain")

  /** Special-char class for the count-mismatch penalty — the literal
    * set `!@#$%^&*()` as a regex class, shared with the oracle twins. */
  val SpecialCharClass: String = "[!@#$%^&*()]"

  /** Penalty weights (`app/etl.py:713-755`), constant-for-constant with
    * the reference: length diff (diff/maxlen)·30, word-count diff
    * min(diff·10, 25), dietary mismatch 20, special-count mismatch 15,
    * digit-presence mismatch 15. Named so the oracle twins interpolate
    * the SAME values. */
  val LenPenaltyWeight = 30
  val WordPenaltyWeight = 10
  val WordPenaltyCap = 25
  val DietPenalty = 20
  val SpecialPenalty = 15
  val DigitPenalty = 15

  /** Penalty adjustment (`app/etl.py:713-755`): see the weight
    * constants above; floor at 0. */
  def applyPenalties(score: org.apache.spark.sql.Column,
      a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      dietaryTerms: Seq[String] = DefaultDietaryTerms): org.apache.spark.sql.Column = {
    val lenA = length(a); val lenB = length(b)
    val maxLen = greatest(lenA, lenB, lit(1))
    val lenPenalty = abs(lenA - lenB) * LenPenaltyWeight / maxLen
    // EMPTY-DROPPING word count (Python .split() semantics, the
    // reference's len(x.split()); also the repo's tokens() rule): a raw
    // \s+ split keeps a phantom "" on names edged with tabs/newlines
    // (trim strips spaces only) and would charge a spurious word
    // penalty. The oracle twins' words() filters empties in lockstep.
    def wordsOf(c: org.apache.spark.sql.Column) =
      size(filter(split(trim(c), "\\s+"), t => t =!= ""))
    val wordPenalty = least(abs(wordsOf(a) - wordsOf(b)) * WordPenaltyWeight,
      lit(WordPenaltyCap))
    val dietA = dietaryTerms.map(t => lower(a).contains(t)).reduce(_ || _)
    val dietB = dietaryTerms.map(t => lower(b).contains(t)).reduce(_ || _)
    val dietPenalty = when(dietA =!= dietB, DietPenalty).otherwise(0)
    def specialCount(c: org.apache.spark.sql.Column) =
      length(c) - length(regexp_replace(c, SpecialCharClass, ""))
    val specialPenalty =
      when(specialCount(a) =!= specialCount(b), SpecialPenalty).otherwise(0)
    val digitPenalty =
      when(a.rlike("[0-9]") =!= b.rlike("[0-9]"), DigitPenalty).otherwise(0)
    greatest(score - lenPenalty - wordPenalty - dietPenalty - specialPenalty - digitPenalty, lit(0.0))
  }

  /** Full resolution pipeline. items must carry a unique `itemKeyCols`
    * identity. Returns one row per item:
    * (item cols…, ext_id, score, decision, alternatives). */
  def resolve(
      items: DataFrame,
      dict: DataFrame,
      itemKeyCols: Seq[String],
      itemCol: String = "item_name",
      titleCol: String = "title",
      idCol: String = "ext_id",
      t: Thresholds = Thresholds(),
      topK: Int = 10,
      nAlternatives: Int = 3,
      blocked: Boolean = false): DataFrame = {
    val exact = exactMatch(items, dict, itemCol, titleCol, idCol)
    val hits = exact.where(col("exact_ext_id").isNotNull)
      .select(items.columns.toIndexedSeq.map(col) :+
        col("exact_ext_id").as("ext_id") :+
        lit(100.0).as("score") :+
        lit("resolved").as("decision") :+
        lit(null).cast("array<struct<name:string,score:double,ext_id:string>>")
          .as("alternatives"): _*)
    val misses = exact.where(col("exact_ext_id").isNull).drop("exact_ext_id")

    // Score DISTINCT item texts, not item rows: at scale many rows carry
    // the same string (the reference's corpus repeats item names across
    // members), and the O(names × dict) similarity work must not be
    // multiplied by row count. Results join back on the text.
    val names = misses.select(col(itemCol)).distinct()

    // Reference flow (`app/etl.py:1272-1314`): top-10 candidates are
    // selected by RAW token_set_ratio; every candidate is then
    // penalty-adjusted, but the algorithm-disagreement cross-check
    // (ratio/partial_ratio variance > 20 → −15) applies ONLY to the
    // raw-best candidate; the final match is the argmax of the adjusted
    // score, ties broken by raw rank (the reference's strict `>` keeps
    // the earlier candidate).
    val scored = fuzzyCandidates(names, dict, itemCol, titleCol, idCol, blocked,
      rescueFloor = t.autoResolve)

    // cand_title completes a TOTAL order: two dict rows can share an
    // ext_id (case-variant titles), and a non-total tiebreak would make
    // raw_rn — and everything gated on it — nondeterministic.
    val wRaw = Window.partitionBy(col(itemCol))
      .orderBy(col("raw_score").desc, col("cand_ext_id"), col("cand_title"))
    val ranked = scored
      .withColumn("raw_rn", row_number().over(wRaw)).where(col("raw_rn") <= topK)
      .withColumn("adj",
        applyPenalties(col("raw_score"), col(itemCol), col("cand_title")))
      // gating on raw_rn=1 also keeps the expensive partial/indel kernels
      // off the other k-1 candidates per item.
      .withColumn("cross_penalty", when(col("raw_rn") === 1 &&
        greatest(
          abs(col("raw_score") - Similarity.indel_ratio(col(itemCol), col("cand_title"))),
          abs(col("raw_score") - Similarity.partial_ratio(col(itemCol), col("cand_title"))))
          > 20, 15.0).otherwise(0.0))
      .withColumn("score", greatest(col("adj") - col("cross_penalty"), lit(0.0)))

    // Alternatives (`app/etl.py:1344-1351`): in RAW-rank order (sort_array
    // on rn; collect_list alone has no order), excluding the winner by
    // name, score ≥ reject floor, first `nAlternatives`. Only the review
    // band carries them (`app/etl.py:1336-1357`), null when none are left.
    val alts = transform(slice(filter(col("cands"), x =>
        x.getField("name") =!= col("best.title") && x.getField("score") >= t.autoReject),
      1, nAlternatives), _.dropFields("rn"))
    // One aggregate per name takes the winner and its alternatives, so
    // the scored pairs have one consumer: two window chains joined back
    // together would each re-run the whole fuzzy subtree. The winner is
    // the argmax of (score desc, raw_rn asc), total as raw_rn is unique.
    val perName = ranked.groupBy(col(itemCol)).agg(
      max_by(struct(col("cand_ext_id").as("ext_id"), col("cand_title").as("title")),
        struct(col("score"), -col("raw_rn"))).as("best"),
      max(col("score")).as("score"),
      sort_array(collect_list(struct(col("raw_rn").as("rn"), col("cand_title").as("name"),
        col("score"), col("cand_ext_id").as("ext_id")))).as("cands"))
      .withColumn("decision",
        Normalize.decisionBand(col("score"), t.autoResolve, t.autoReject))
      .select(col(itemCol),
        when(col("decision") =!= "rejected", col("best.ext_id")).as("ext_id"),
        col("score"), col("decision"),
        when(col("decision") === "review" && size(alts) > 0, alts).as("alternatives"))

    val fuzzyOut = misses.join(perName, Seq(itemCol), "left")
      // names with zero fuzzy candidates (possible under token blocking:
      // nothing shares a token) must still surface — as auto-rejects.
      .withColumn("score", coalesce(col("score"), lit(0.0)))
      .withColumn("decision", coalesce(col("decision"), lit("rejected")))
      .select(misses.columns.toIndexedSeq.map(col) :+ col("ext_id") :+ col("score") :+
        col("decision") :+ col("alternatives"): _*)
    hits.unionByName(fuzzyOut, allowMissingColumns = true)
  }
}
