package perfbench

import graft.Engine
import org.apache.spark.sql.SparkSession

/** The training-data pipeline: `Engine.processCorpus` on an
  * sf0.1-shaped corpus (`CorpusGen`, 2,000 documents with the sf0.1
  * table's shares of exact and near copies) with near dedup,
  * duplicated-passage removal and decontamination against a seeded
  * held-out eval set, stage boundaries materialized, then the
  * per-stage ledger collected. */
final class CorpusWorkload extends Workload {
  // sf0.1's shares: 8 exact and 250 near copies in 5,000 documents
  val Plan = CorpusGen.Plan(docs = 2000, exactCopies = 3, nearCopies = 100,
    contaminated = 24, evalDocs = 24)
  // On this vocabulary near dedup's cut swings with the draw of the
  // corpus (25% to 60% over generator seeds 1 to 8), so the documents
  // without eval passages are drawn once. Seed 5 is the first whose cut
  // (42.8%) matches sf0.1's (42.9%); `--seed` draws the eval set and
  // the documents that carry its passages.
  val BaseSeed = 5L
  /** The ledger of the base corpus: every seed gives it, less the
    * planted contaminated documents from `decontaminated` on. */
  val Pinned: Seq[(String, Long)] = Seq("input" -> 2000L, "cleaned" -> 2000L,
    "non_empty" -> 2000L, "exact_deduped" -> 1997L, "near_deduped" -> 1142L,
    "passage_cleaned" -> 1141L) ++
    Seq("decontaminated", "budget_selected", "chunks", "packed_docs")
      .map(_ -> (1141L - Plan.contaminated))

  private var dir: String = _

  def units: Long = Plan.docs.toLong

  def setup(spark: SparkSession, work: String, seed: Long): Unit = {
    dir = s"$work/corpus"
    CorpusGen.write(spark, dir, seed, BaseSeed, Plan)
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    require(n == Plan.docs, s"corpus read back $n documents, wrote ${Plan.docs}")
  }

  private def signature(ledger: Seq[(String, Long)]): String =
    ledger.map { case (k, v) => s"$k=$v" }.mkString(",")

  private def run(spark: SparkSession, tracer: Option[Tracer]): (Seq[(String, Long)], Double) = {
    def span[T](name: String)(body: => T): T = Tracer.span(tracer, name)(body)
    val t0 = System.nanoTime()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang", "text")
    val eval = spark.read.parquet(s"$dir/eval.parquet")
    // the q86 passage geometry (16-token windows, anchors every 4th
    // token) and the 800-mills near-dup Jaccard the corpus queries use
    val r = span("corpus.call")(Engine.processCorpus(docs,
      decontamEval = Some(eval),
      removeDupWindows = Some((16, 4)),
      nearDedup = Some(800),
      budgetTokens = 5000000L,
      materializeBoundaries = true))
    val ledger = span("corpus.ledger")(r.accounting.collect())
      .sortBy(_.getInt(0)).map(row => row.getString(1) -> row.getLong(2)).toSeq
    (ledger, (System.nanoTime() - t0) / 1e9)
  }

  def pass(spark: SparkSession, tracer: Option[Tracer]): Pass = {
    val (ledger, sec) = run(spark, tracer)
    Pass(sec, signature(ledger))
  }

  /** The whole ledger against the pinned one. */
  def check(spark: SparkSession, first: Pass): Seq[String] = {
    val want = signature(Pinned)
    if (first.signature == want) Nil
    else Seq(s"ledger ${first.signature}, pinned $want")
  }

  def layerPass(spark: SparkSession, tracer: Tracer, ref: Pass,
      timed: Seq[Pass]): (Map[String, Double], Seq[String]) = {
    val (ledger, _) = run(spark, Some(tracer))
    val call = tracer.get("corpus.call")
    val led = tracer.get("corpus.ledger")
    val both = Seq(call, led)
    val wall = both.map(_.wallS).sum
    val sig = signature(ledger)
    (Map(
      "corpus.call_s" -> call.wallS,
      "corpus.ledger_s" -> led.wallS,
      "corpus.scans" -> both.map(_.scanRows).sum.toDouble / Plan.docs,
      "corpus.jobs" -> both.map(_.jobs).sum.toDouble,
      "corpus.catalyst_s" -> both.map(_.catalystMs).sum / 1e3,
      "corpus.cpu_util" -> both.map(_.cpuS).sum / (wall * Main.Cores),
      "corpus.shuffle_write_mb" -> Layers.mb(both.map(_.shuffleWriteB).sum),
      "corpus.spill_mb" -> Layers.mb(both.map(_.spillB).sum)) ++
      ledger.map { case (k, v) => s"corpus.rows.$k" -> v.toDouble } ++
      Layers.sparkTotals(tracer.all),
      if (sig == ref.signature) Nil
      else Seq(s"traced ledger $sig differs from ${ref.signature}"))
  }
}
