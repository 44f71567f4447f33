package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end `Engine.processCorpus` wall-clock probe:
  * runMain graft.tools.CorpusTimer <docsDir> — runs the WHOLE
  * training-data pipeline (NFC → line dedup → PII → exact dedup →
  * LSH near-dup + components keeper cut → dup-passage removal →
  * decontam → quality/budget → chunk + pack) on
  * `<docsDir>/documents.parquet` with the q86 passage geometry and
  * a corpus-derived eval slice, forcing every stage (the ledger
  * counts, then the two training outputs), and prints one JSON line:
  * the per-stage ledger plus total seconds. The facade's stages are
  * each oracle-gated individually; this measures their COMPOSITION at
  * whatever scale the caller points it at (sf0.1, target/synth-sf1…).
  *
  * Round 13 adds (a) the `nearDedup` stage (800 mills — the fuzzy
  * within-corpus cut a production pipeline runs between exact dedup
  * and passage surgery), so absolute seconds are NOT comparable to
  * the round-7/8 history rows (BASELINE.md records the protocol
  * change), and (b) the end-to-end CORPUS SCAN count: a
  * QueryExecutionListener sums `numOutputRows` over every
  * FileSourceScanExec in every executed plan of the run, so the
  * composed claim "stage scans don't multiply" is measured, not
  * argued — total parquet-scan rows ÷ corpus rows = effective
  * full-corpus storage passes, the number a 100 TB bill is written
  * in. Scan-node rows are the right meter here: localCheckpoint
  * boundaries replay as LogicalRDD scans and cache hits as
  * InMemoryTableScan — neither is a FileSourceScanExec, so boundary
  * traffic is excluded by construction. (Two rejected meters, for the
  * record: task `inputMetrics.recordsRead` counts CACHED-block reads
  * as input — it read ~48 "scans" where the plans show 6; Hadoop
  * `file`-scheme byte statistics miss the parquet reader's
  * positioned-read path entirely on the local FS and returned the
  * same ~20 KB at sf0.01 and sf0.1 — footers only.) */
object CorpusTimer {

  /** One composed run's measurements: wall seconds, the stage ledger
    * in stage order, total rows produced by parquet scan nodes across
    * every executed plan, and the corpus row count as the normalizer —
    * `scans` = effective full-corpus passes paid against storage. */
  case class Composed(sec: Double, stages: Seq[(String, Long)],
      scanRows: Long, nDocs: Long) {
    def scans: Double = if (nDocs > 0) scanRows.toDouble / nDocs else -1.0
  }

  /** Runs the composed pipeline once on `<docsDir>/documents.parquet`
    * and measures it — shared by this tool's main and `graft.Bench`'s
    * per-round composed row (ONE protocol, two consumers; single-shot
    * timing in both so the rows stay comparable). */
  def composedRun(spark: SparkSession, docsDir: String,
      policy: String = "budget"): Composed = {
    val docs = graft.Tables(spark, docsDir, "documents")
      .select("doc_id", "lang", "text")
    val eval = docs.where(col("doc_id") % 97 === 0)
      .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
    // selection policy under time (default: token budget). k = 500
    // binds per stratum at sf0.1 (~1k docs/lang) and harder at synth
    // sf1, so the policy's rank/score work is actually measured.
    val selection = policy match {
      case "budget" => None
      case "dsir" => Some(graft.Engine.DsirSelection(
        docs.where(col("lang") === "en").select(col("doc_id"), col("text")),
        topK = 500))
      case "mixture" => Some(graft.Engine.MixtureSelection(
        1L, Map("en" -> 1.0, "de" -> 0.5, "es" -> 0.5), 0.25))
      case "exactk" => Some(graft.Engine.ExactKSelection(1L, 500))
      // 2-epoch capacity at a 40% budget: every stratum waterlines at
      // sf0.1 and beyond, so the histogram kernel's selection work is
      // actually measured (the q136/q137 geometry would cap the small
      // strata and skip their cut)
      case "unimax" => Some(graft.Engine.UnimaxSelection(
        maxEpochs = 2, budgetPerMille = 400L))
      case other => sys.error(s"unknown policy '$other'")
    }
    // scan meter: sum parquet-scan-node output rows over every plan
    // this run executes. The listener bus dispatches asynchronously —
    // quiesce() polls until the sum is stable before reading it.
    val scanRows = new java.util.concurrent.atomic.AtomicLong(0L)
    def collectScans(p: org.apache.spark.sql.execution.SparkPlan): Long =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          collectScans(a.executedPlan)
        // materialized AQE stages are LEAVES (children = Nil): the real
        // subtree — where the scans live — hangs off `plan`
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          collectScans(q.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        case other => other.children.map(collectScans).sum
      }
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        scanRows.addAndGet(collectScans(qe.executedPlan))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    def quiesce(): Long = {
      var prev = -1L
      var cur = scanRows.get()
      while (cur != prev) { Thread.sleep(200); prev = cur; cur = scanRows.get() }
      cur
    }
    val nDocs = docs.count()
    spark.listenerManager.register(ql)
    try {
      val base = quiesce() // drop anything the count above contributed
      scanRows.addAndGet(-base)
      val t0 = System.nanoTime()
      val r = graft.Engine.processCorpus(docs,
        decontamEval = Some(eval),
        removeDupWindows = Some((
          graft.queries.TextQueries.DupWindowTokens,
          graft.queries.TextQueries.DupAnchorMod)),
        nearDedup = Some(graft.queries.TextQueries.NearDedupMinJac),
        budgetTokens = 5000000L,
        selection = selection,
        materializeBoundaries = true)
      // the ledger already ran count jobs for every stage INCLUDING the
      // two outputs — read them back instead of re-executing the chunk
      // explode and pack windows a second time (which would double-count
      // the tail-stage cost in `sec`)
      val rows = r.accounting.collect().sortBy(_.getInt(0))
      val sec = (System.nanoTime() - t0) / 1e9
      Composed(sec, rows.map(row => row.getString(1) -> row.getLong(2)).toSeq,
        quiesce(), nDocs)
    } finally spark.listenerManager.unregister(ql)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 1 && args.length <= 2,
      "usage: CorpusTimer <docsDir> [budget|dsir|mixture|exactk|unimax]")
    val spark = graft.Tables.configure(
      SparkSession.builder(),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val policy = if (args.length > 1) args(1) else "budget"
    val c = composedRun(spark, args(0), policy)
    val ledger = c.stages.map { case (k, v) => s""""$k":$v""" }
    val byStage = c.stages.toMap.withDefault(k => sys.error(
      s"accounting stage '$k' missing — Engine.processCorpus stage labels changed?"))
    // JSON-escape the interpolated path (quotes/backslashes in a dir
    // name must not corrupt the single-line artifact)
    val dirS = args(0).flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c0 if c0 < ' ' => f"\\u${c0.toInt}%04x"
      case c0 => c0.toString
    }
    // corpus_scans: parquet-scan rows ÷ corpus rows — effective
    // full-corpus storage passes (the eval slice rides the same
    // parquet, so the ratio is a slight upper bound on semantic
    // passes)
    println(s"""{"tool":"corpus-timer","dir":"$dirS","policy":"$policy","stages":{${ledger.mkString(",")}},"chunks":${byStage("chunks")},"packed":${byStage("packed_docs")},"scan_rows":${c.scanRows},"n_docs":${c.nDocs},"corpus_scans":${graft.Timing.cs(c.scans)},"sec":${graft.Timing.cs(c.sec)}}""")
    spark.stop()
  }
}
