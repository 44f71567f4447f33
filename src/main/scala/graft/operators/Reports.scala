package graft.operators

import graft.functions.Normalize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Report generation + dashboard aggregates (A1-A10, S7/S8).
  *
  * The reference builds three CSV reports (processed rows, errors,
  * created items) and dashboard counts (reference `app/report_utils.py`,
  * `app/templates/reviews.html:98-125`). Each report is one declarative
  * plan: multi-way joins + when-chains + unions, written with
  * `Ingest.writeCsvReport`.
  */
object Reports {

  /** U1: error report — ETL validation errors ∪ push errors. */
  def errorReport(etlErrors: DataFrame, pushErrors: DataFrame): DataFrame =
    etlErrors.unionByName(pushErrors, allowMissingColumns = true)
      .withColumn("category", Normalize.errorCategory(col("error_message")))

  /** U2: created-items report — three-way union of created nodes. */
  def createdItems(products: DataFrame, ingredients: DataFrame,
      other: DataFrame): DataFrame =
    products.unionByName(ingredients, allowMissingColumns = true)
      .unionByName(other, allowMissingColumns = true)

  /** A1-A5: the review-queue dashboard in one aggregate pass. */
  def reviewDashboard(pending: DataFrame): DataFrame =
    pending.agg(
      count(lit(1)).as("total_pending"),
      sum(when(col("kind") === "product", 1).otherwise(0)).as("pending_products"),
      sum(when(col("kind") === "ingredient", 1).otherwise(0)).as("pending_ingredients"),
      sum(when(col("score") >= 90, 1).otherwise(0)).as("high_confidence"),
      sum(when(col("score") >= 60 && col("score") < 90, 1).otherwise(0)).as("medium_confidence"),
      sum(when(col("score") < 60, 1).otherwise(0)).as("low_confidence"),
      countDistinct(col("submission_name")).as("distinct_files"),
      countDistinct(col("member_name")).as("distinct_businesses"))

  /** A6: push-result summary. */
  def pushSummary(results: DataFrame): DataFrame =
    results.agg(
      sum(when(col("entity") === "member" && col("ok"), 1).otherwise(0)).as("members_pushed"),
      sum(when(col("entity") === "product" && col("ok"), 1).otherwise(0)).as("products_created"),
      sum(when(col("entity") === "ingredient" && col("ok"), 1).otherwise(0)).as("ingredients_created"),
      sum(when(!col("ok"), 1).otherwise(0)).as("errors"))
}
