package graft.operators

import graft.SparkTestSession
import graft.functions.{Normalize, Similarity}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `EntityResolution.resolve` picks the winner and its alternatives in one
  * aggregate per name. This spec keeps the earlier two-window formulation
  * (a best-pick window, an alternatives window, joined back together) as
  * the reference and checks that both give the same rows on seeded random
  * inputs, blocked and unblocked, at default and non-default
  * `topK`/`nAlternatives`. */
class EntityResolutionParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The two-window ranking, as `resolve` computed it before the fused
    * aggregate. Candidate generation, penalties and the raw top-k window
    * are the operator's own. */
  private def reference(items: DataFrame, dict: DataFrame, topK: Int,
      nAlternatives: Int, blocked: Boolean): DataFrame = {
    val itemCol = "item_name"
    val exact = EntityResolution.exactMatch(items, dict, itemCol, "title", "ext_id")
    val hits = exact.where(col("exact_ext_id").isNotNull)
      .select(items.columns.toIndexedSeq.map(col) :+
        col("exact_ext_id").as("ext_id") :+
        lit(100.0).as("score") :+
        lit("resolved").as("decision") :+
        lit(null).cast("array<struct<name:string,score:double,ext_id:string>>")
          .as("alternatives"): _*)
    val misses = exact.where(col("exact_ext_id").isNull).drop("exact_ext_id")
    val scored = EntityResolution.fuzzyCandidates(misses.select(col(itemCol)).distinct(),
      dict, itemCol, "title", "ext_id", blocked)
    val wRaw = Window.partitionBy(col(itemCol))
      .orderBy(col("raw_score").desc, col("cand_ext_id"), col("cand_title"))
    val ranked = scored
      .withColumn("raw_rn", row_number().over(wRaw)).where(col("raw_rn") <= topK)
      .withColumn("adj",
        EntityResolution.applyPenalties(col("raw_score"), col(itemCol), col("cand_title")))
      .withColumn("cross_penalty", when(col("raw_rn") === 1 &&
        greatest(
          abs(col("raw_score") - Similarity.indel_ratio(col(itemCol), col("cand_title"))),
          abs(col("raw_score") - Similarity.partial_ratio(col(itemCol), col("cand_title"))))
          > 20, 15.0).otherwise(0.0))
      .withColumn("score", greatest(col("adj") - col("cross_penalty"), lit(0.0)))

    val wBest = Window.partitionBy(col(itemCol)).orderBy(col("score").desc, col("raw_rn"))
    val flagged = ranked.withColumn("best_rn", row_number().over(wBest))
      .withColumn("best_name",
        max(when(col("best_rn") === 1, col("cand_title")))
          .over(Window.partitionBy(col(itemCol))))
    val wAlt = Window.partitionBy(col(itemCol)).orderBy(col("raw_rn"))
    val alts = flagged.where(col("cand_title") =!= col("best_name") &&
        col("score") >= Normalize.AutoReject)
      .withColumn("alt_rn", row_number().over(wAlt))
      .where(col("alt_rn") <= nAlternatives)
      .groupBy(col(itemCol))
      .agg(transform(
        sort_array(collect_list(struct(
          col("raw_rn").as("rn"), col("cand_title").as("name"),
          col("score"), col("cand_ext_id").as("ext_id")))),
        x => struct(
          x.getField("name").as("name"),
          x.getField("score").as("score"),
          x.getField("ext_id").as("ext_id"))).as("alternatives"))
    val best = flagged.where(col("best_rn") === 1)
      .withColumn("decision", Normalize.decisionBand(col("score")))
      .withColumn("ext_id", when(col("decision") =!= "rejected", col("cand_ext_id")))
      .select(col(itemCol), col("ext_id"), col("score"), col("decision"))
    val perName = best.join(alts, Seq(itemCol), "left")
      .withColumn("alternatives", when(col("decision") === "review", col("alternatives")))
    val fuzzyOut = misses.join(perName, Seq(itemCol), "left")
      .withColumn("score", coalesce(col("score"), lit(0.0)))
      .withColumn("decision", coalesce(col("decision"), lit("rejected")))
      .select(misses.columns.toIndexedSeq.map(col) :+ col("ext_id") :+ col("score") :+
        col("decision") :+ col("alternatives"): _*)
    hits.unionByName(fuzzyOut, allowMissingColumns = true)
  }

  private val Vocab = Seq("green", "tea", "almond", "milk", "oat", "flour",
    "sea", "salt", "organic", "honey", "rice", "wheat")

  /** A seeded dictionary and item set over a small vocabulary, so names
    * collide often. The dictionary always carries token permutations of
    * one title (tied raw scores), one title under two ext_ids, and a
    * duplicated (title, ext_id) row; the items mix exact titles, case
    * folds, typos, reorders and garbage. */
  private def inputs(seed: Long): (DataFrame, DataFrame) = {
    val rnd = new scala.util.Random(seed)
    def phrase(n: Int) = Seq.fill(n)(Vocab(rnd.nextInt(Vocab.size))).distinct.mkString(" ")
    val drawn = Seq.fill(18)(phrase(1 + rnd.nextInt(3))).distinct
      .zipWithIndex.map { case (title, i) => (title, f"D$i%02d") }
    val planted = Seq(
      ("green tea", "T1"), ("tea green", "T2"),   // tied raw scores
      ("almond milk", "A1"), ("almond milk", "A2"), // one title, two ids
      ("oat flour", "O1"), ("oat flour", "O1"),   // duplicate row
      ("zucchini bread", "Z1"))                   // off-vocabulary: no alternatives
    val dict = (drawn ++ planted).toDF("title", "ext_id")
    def typo(s: String) = if (s.length < 4) s else {
      val i = 1 + rnd.nextInt(s.length - 2); s.take(i) + s.drop(i + 1)
    }
    val titles = (drawn ++ planted).map(_._1)
    val names = Seq.fill(30) {
      val title = titles(rnd.nextInt(titles.size))
      rnd.nextInt(5) match {
        case 0 => title
        case 1 => title.toUpperCase
        case 2 => typo(title)
        case 3 => title.split(' ').reverse.mkString(" ") + " " + Vocab(rnd.nextInt(Vocab.size))
        case _ => phrase(1 + rnd.nextInt(2)).reverse
      }
    } ++ Seq("greem tea", "almond mlk", "oat flowr", "zucchini breadd", "quantum flux")
    (names.zipWithIndex.map { case (n, i) => (i.toLong, n) }.toDF("item_id", "item_name"), dict)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.orderBy("item_id").collect().toSeq.map(_.toString)

  private def altsOf(r: Row) = Option(r.getAs[scala.collection.Seq[Row]]("alternatives"))

  Seq((1L, 10, 3), (2L, 2, 1), (3L, 5, 4)).foreach { case (seed, topK, nAlt) =>
    Seq(false, true).foreach { blocked =>
      test(s"fused ranking matches the two-window reference " +
          s"(seed $seed, topK $topK, nAlternatives $nAlt, blocked $blocked)") {
        val (items, dict) = inputs(seed)
        val got = EntityResolution.resolve(items, dict, Seq("item_id"),
          topK = topK, nAlternatives = nAlt, blocked = blocked)
        val want = reference(items, dict, topK, nAlt, blocked)
        assert(got.schema.toDDL == want.schema.toDDL)
        val out = got.collect()
        assert(rows(got) == rows(want))
        // the draw covers every band, and review items both with and
        // without alternatives (the latter as null, never an empty array)
        val review = out.filter(_.getAs[String]("decision") == "review")
        assert(out.exists(_.getAs[String]("decision") == "resolved"))
        assert(out.exists(_.getAs[String]("decision") == "rejected"))
        assert(review.exists(r => altsOf(r).isEmpty), "no review item without alternatives")
        assert(review.exists(r => altsOf(r).nonEmpty), "no review item with alternatives")
        assert(review.forall(r => altsOf(r).forall(a => a.nonEmpty && a.size <= nAlt)))
      }
    }
  }
}
