package perfbench

/** The per-layer metrics of a traced run, in output order, with units.
  * BENCHMARK.json lists the same names; a layer a workload does not run
  * reads 0 there. */
object Layers {
  val CorpusStages: Seq[String] = Seq("input", "cleaned", "non_empty",
    "exact_deduped", "near_deduped", "passage_cleaned", "decontaminated",
    "budget_selected", "chunks", "packed_docs")

  val All: Seq[(String, String)] = Seq(
    "host.gauge_ms" -> "ms",
    "trace.overhead_s" -> "s",
    "jvm.peak_rss_mb" -> "MB",
    "spark.gc_s" -> "s",
    "spark.spill_mb" -> "MB",
    "spark.jobs" -> "count",
    "spark.executor_cpu_s" -> "s",
    "sources.read_s" -> "s",
    "sources.rows" -> "count",
    "header_mapper.s" -> "s",
    "validate.s" -> "s",
    "item_explode.s" -> "s",
    "item_explode.items" -> "count",
    "er.resolve_s" -> "s",
    "er.catalyst_s" -> "s",
    "er.exact_hit_ratio" -> "ratio",
    "er.fuzzy_names" -> "count",
    "er.pairs_scored" -> "count",
    "er.cpu_util" -> "ratio",
    "er.task_skew" -> "ratio",
    "er.band.resolved" -> "count",
    "er.band.review" -> "count",
    "er.band.rejected" -> "count",
    "review_queue.s" -> "s",
    "push_plan.s" -> "s",
    "reports.write_s" -> "s",
    "reports.bytes" -> "bytes",
    "corpus.call_s" -> "s",
    "corpus.ledger_s" -> "s",
    "corpus.scans" -> "ratio",
    "corpus.jobs" -> "count",
    "corpus.catalyst_s" -> "s",
    "corpus.cpu_util" -> "ratio",
    "corpus.shuffle_write_mb" -> "MB",
    "corpus.spill_mb" -> "MB") ++
    CorpusStages.map(s => s"corpus.rows.$s" -> "count") ++ Seq(
    "queries.p50_s" -> "s",
    "queries.p90_s" -> "s",
    "queries.total_s" -> "s",
    "queries.construct_s" -> "s",
    "queries.jobs_before_action" -> "count",
    "queries.light.construct_s" -> "s",
    "queries.light.jobs_before_action" -> "count",
    "queries.catalyst_s" -> "s",
    "queries.exec_s" -> "s",
    "queries.jobs" -> "count",
    "queries.tasks" -> "count",
    "queries.executor_cpu_s" -> "s",
    "queries.shuffle_mb" -> "MB",
    "queries.scan_rows" -> "count")

  private val MB = 1024.0 * 1024.0

  /** Whole-run Spark totals over the given spans. */
  def sparkTotals(spans: Seq[Span]): Map[String, Double] = Map(
    "spark.gc_s" -> spans.map(_.gcMs).sum / 1e3,
    "spark.spill_mb" -> spans.map(_.spillB).sum / MB,
    "spark.jobs" -> spans.map(_.jobs).sum.toDouble,
    "spark.executor_cpu_s" -> spans.map(_.cpuS).sum)

  def mb(bytes: Long): Double = bytes / MB
}
