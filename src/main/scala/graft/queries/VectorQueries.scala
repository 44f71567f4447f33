package graft.queries

import graft.functions.VectorFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Oracle-checked embedding queries over `embeddings`
  * (vec_id bigint, embedding array<float>, label int).
  *
  * Determinism design: every vector is quantized to bigints
  * (floor(x·1000)) first, so dot products and norms are exact integer
  * sums (< 2^53 — order-independent even in double accumulators) in any
  * engine; the single scaled-cosine division is one IEEE double op with
  * identical operand association on both sides.
  *
  * Scale design: brute-force KNN broadcasts only the query set and makes
  * one pass over the corpus (no corpus shuffle); near-dup verification
  * joins only within blocks (label here; an LSH bucket in the unlabeled
  * case — see graft.operators.SimilaritySearch.rademacherLshTopK).
  */
object VectorQueries {

  private def emb(s: SparkSession, dir: String): DataFrame =
    graft.Tables(s, dir, "embeddings")

  /** q38's near-dup floor in signed cos²·1e6 units (the
    * cosineSqScaledQ scale): 50000 ≈ |cos| ≥ 0.224 — deliberately low
    * because the synthetic embeddings are near-orthogonal (max
    * within-label cos²·1e6 ≈ 160k at sf0.001); a 0.9-cosine floor
    * (810000) would make the gate vacuous. Edit HERE only — the
    * oracle SQL interpolates this value. */
  private[graft] val NearDupCosSqScaledMin = 50000L

  val queries: Seq[Query] = Seq(
    // Brute-force cosine top-5 per query vector — THE exact ANN
    // baseline, delegated to the one shared kernel
    // (SimilaritySearch.bruteForceTopK) so the spec-verified recall
    // oracle and this gated twin can never drift.
    Query("q37_knn_bruteforce", (s, dir) => {
      graft.operators.SimilaritySearch.bruteForceTopK(
          emb(s, dir).where(col("vec_id") % 100 === 0),
          graft.Tables.spread(s, dir, "embeddings"), "vec_id", "embedding", k = 5)
        .select("query_id", "rank", "neighbor_id", "cos_sq_scaled")
        .orderBy("query_id", "rank")
    },
      s"""WITH q AS (
           SELECT vec_id AS query_id, $quant AS qv
           FROM embeddings WHERE vec_id % 100 = 0),
         c AS (SELECT vec_id AS neighbor_id, $quant AS cv FROM embeddings),
         scored AS (
           SELECT query_id, neighbor_id,
             ${cossq("qv", "cv")} AS cos_sq_scaled
           FROM c JOIN q ON query_id <> neighbor_id),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sq_scaled DESC, neighbor_id) AS rank FROM scored)
         SELECT query_id, rank, neighbor_id, cos_sq_scaled
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""),

    // Embedding near-dup pairs, blocked by label, verified by exact
    // quantized cosine: the Dedup.embeddingNearDupPairs operator (floor:
    // [[NearDupCosSqScaledMin]]).
    Query("q38_embedding_dups", (s, dir) =>
      graft.operators.Dedup.embeddingNearDupPairs(
          graft.Tables.spread(s, dir, "embeddings").where(col("vec_id") % 4 === 0),
          "embedding", "vec_id", "label", NearDupCosSqScaledMin)
        .orderBy("id_a", "id_b"),
      s"""WITH e AS (
           SELECT label, vec_id, $quant AS q
           FROM embeddings WHERE vec_id % 4 = 0)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ${cossq("a.q", "b.q")} AS cos_sq_scaled
         FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE ${cossq("a.q", "b.q")} >= $NearDupCosSqScaledMin
         ORDER BY id_a, id_b"""),

    // Per-label aggregate statistics of quantized vectors (position-free
    // integer sums — exact in every engine).
    Query("q39_label_stats", (s, dir) => {
      val e = emb(s, dir)
        .select(col("label").cast("long").as("label"),
          VectorFunctions.quantize(col("embedding")).as("q"))
      e.groupBy("label")
        .agg(
          count(lit(1)).as("n"),
          sum(aggregate(col("q"), lit(0L), (acc, v) => acc + v)).as("sum_components"),
          sum(VectorFunctions.normSqQ(col("q"))).as("sum_norm_sq"))
        .orderBy("label")
    },
      s"""SELECT CAST(label AS BIGINT) AS label, count(*) AS n,
         CAST(sum(list_sum($quant)) AS BIGINT) AS sum_components,
         CAST(sum(list_dot_product($quant, $quant)) AS BIGINT) AS sum_norm_sq
         FROM embeddings GROUP BY 1 ORDER BY label"""))

  /** DuckDB twin of `VectorFunctions.quantize` — THE shared parity
    * contract for every quantized-vector oracle (q37/q38/q39 here,
    * q42/q52 in SparkEntry). */
  private[graft] val quant =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"

  /** Exact integer dot product of two quantized lists in DuckDB. Sums of
    * products stay < 2^53, so list_dot_product's accumulator order is
    * irrelevant — the result is exact. */
  private[graft] def dotq(a: String, b: String) =
    s"CAST(list_dot_product($a, $b) AS BIGINT)"

  /** DuckDB twin of `VectorFunctions.cosineSqScaledQ` (the one IEEE
    * multiply-chain + divide + floor, identical operand order). */
  private[graft] def cossq(a: String, b: String) =
    s"""CASE WHEN ${dotq(a, a)} * ${dotq(b, b)} = 0 THEN 0
        ELSE CAST(floor(1000000.0 * sign(${dotq(a, b)})
          * ${dotq(a, b)} * ${dotq(a, b)}
          / (${dotq(a, a)} * ${dotq(b, b)})) AS BIGINT) END"""
}
