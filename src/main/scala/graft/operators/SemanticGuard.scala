package graft.operators

import graft.functions.Normalize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Semantic-validation guard for batch approval (F7/P10).
  *
  * The reference guards batch auto-approval of high-confidence matches
  * with keyword-category mismatch checks, problematic-pattern pairs and
  * a length-ratio floor (reference `app/routes.py:117-194`, used by
  * `batch_approve_high_confidence` `app/routes.py:808-853`). Expressed
  * here as pure column predicates over broadcast-sized keyword tables.
  */
object SemanticGuard {

  /** Keyword categories: a match is suspect if exactly one side hits a
    * category. */
  val Categories: Map[String, Seq[String]] = Map(
    "dairy" -> Seq("milk", "cheese", "yogurt", "butter", "cream", "dairy"),
    "meat" -> Seq("beef", "pork", "chicken", "meat", "sausage"),
    "produce" -> Seq("fruit", "vegetable", "fresh", "produce"),
    "bakery" -> Seq("bread", "cake", "pastry", "baked", "flour"),
    "beverage" -> Seq("juice", "drink", "beverage", "water", "soda"),
    "supplement" -> Seq("vitamin", "supplement", "mineral", "protein"),
    "packaging" -> Seq("box", "container", "packaging", "wrap"),
    "equipment" -> Seq("machine", "equipment", "mixer", "oven"),
    "service" -> Seq("service", "consulting", "logistics", "delivery"))

  /** Problematic direct pairs (either direction). */
  val ProblematicPairs: Seq[(String, String)] = Seq(
    "milk" -> "almond milk", "sugar" -> "sugar free", "gluten" -> "gluten free",
    "dairy" -> "dairy free", "meat" -> "meat substitute", "butter" -> "peanut butter",
    "cream" -> "ice cream", "water" -> "watermelon", "corn" -> "corn syrup",
    "rice" -> "rice paper", "bean" -> "vanilla bean", "salt" -> "sea salt",
    "oil" -> "essential oil")

  /** Guard thresholds (shared with q60's oracle SQL — edit HERE). The
    * batch-approve band runs from `HighConfidence` up to the resolve
    * band, `Normalize.AutoResolve`. */
  val MinLenRatio: Double = 0.5
  val HighConfidence: Double = 90.0

  private def hitsCategory(c: Column, words: Seq[String]): Column =
    words.map(w => lower(c).contains(w)).reduce(_ || _)

  /** True when the (item, candidate) pair is semantically plausible. */
  def isSemanticallyValid(a: Column, b: Column): Column = {
    val categoryMismatch = Categories.values
      .map(ws => hitsCategory(a, ws) =!= hitsCategory(b, ws))
      .reduce(_ || _)
    val pairHit = ProblematicPairs.map { case (x, y) =>
      (lower(a) === x && lower(b).contains(y)) ||
        (lower(b) === x && lower(a).contains(y))
    }.reduce(_ || _)
    val lenRatio =
      least(length(a), length(b)).cast("double") / greatest(length(a), length(b), lit(1))
    !categoryMismatch && !pairHit && lenRatio >= MinLenRatio
  }

  /** P10 + F7: the batch-approve set — pending reviews
    * (`item_name`, `suggested_title`, `score`, `approved`, `ignored`)
    * scored in [`HighConfidence`, `Normalize.AutoResolve`) with a
    * suggested title, flagged `semantic_ok` when they pass the guard. */
  def batchApprovable(reviews: DataFrame): DataFrame =
    reviews
      // a never-populated ignored flag means "not ignored": !NULL would
      // be NULL and silently drop an approvable row from the set
      .where(col("approved").isNull && !coalesce(col("ignored"), lit(false)))
      .where(col("score") >= HighConfidence && col("score") < Normalize.AutoResolve)
      .where(col("suggested_title").isNotNull)
      .withColumn("semantic_ok",
        isSemanticallyValid(col("item_name"), col("suggested_title")))
}
