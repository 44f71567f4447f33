package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

/** A pinned set of `SparkEntry.queries` entries over a seeded sf0.1-shaped
  * `documents` table (`CorpusGen`, 5,000 documents). Each query is built
  * and counted, one after another, as `graft.Bench` times the suite.
  * `root` is the repository root, where the DuckDB oracle harness
  * lives. */
final class QueriesWorkload(root: String) extends Workload {

  /** Under 0.5 s each on sf0.1: driver-side construction and parquet
    * schema inference take most of their time. */
  val Light: Seq[String] = Seq("q02_null_normalize", "q100_priority_sample",
    "q115_winsorize", "q121_luhn_pii", "q123_snapshot_diff",
    "q127_token_entropy", "q129_source_overlap", "q156_zipf_fit")
  /** From the suite's heavy tail: over a second on sf0.1. */
  val Heavy: Seq[String] = Seq("q124_hard_negatives")
  val Names: Seq[String] = Light ++ Heavy

  val Plan = CorpusGen.Plan(docs = 5000, exactCopies = 8, nearCopies = 250,
    contaminated = 0, evalDocs = 0)

  private var tables: String = _
  private var oracleDir: String = _
  // the first pass's frames, which `check` writes out for the oracle
  // without building them (and running their eager jobs) again
  private var firstFrames: Seq[(String, DataFrame)] = Nil

  def units: Long = Names.size.toLong

  def setup(spark: SparkSession, dir: String, seed: Long): Unit = {
    tables = s"$dir/queries/tables"
    oracleDir = s"$dir/queries/oracle"
    CorpusGen.write(spark, tables, seed, seed, Plan)
    val n = spark.read.parquet(s"$tables/documents.parquet").count()
    require(n == Plan.docs, s"documents read back $n rows, wrote ${Plan.docs}")
  }

  private def query(name: String) = SparkEntry.queries(name)

  /** Each query built and counted; the signature holds every query's
    * row count (its rows are checked against the oracle once, in
    * `check`). */
  def pass(spark: SparkSession, tracer: Option[Tracer]): Pass = {
    val t0 = System.nanoTime()
    val out = Names.map { name =>
      val q0 = System.nanoTime()
      val (df, n) = Tracer.span(tracer, if (Light.contains(name)) "light" else "heavy") {
        val df = query(name)(spark, tables)
        (df, df.count())
      }
      (name, (System.nanoTime() - q0) / 1e9, s"$name:$n", df)
    }
    if (firstFrames.isEmpty) firstFrames = out.map(o => o._1 -> o._4)
    Pass((System.nanoTime() - t0) / 1e9, out.map(_._3).mkString(","),
      out.map(o => o._1 -> o._2))
  }

  /** Every query's rows against its DuckDB oracle twin, through the
    * repository's own harness (`tools/compare_oracle.py`, row count and
    * order-insensitive value equality). */
  def check(spark: SparkSession, first: Pass): Seq[String] = {
    val missing = Names.filterNot(SparkEntry.oracleSql.contains)
    if (missing.nonEmpty) return Seq(s"no oracle twin for ${missing.mkString(", ")}")
    val t0 = System.nanoTime()
    firstFrames.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$oracleDir/$name")
    }
    Main.log(f"oracle dump ${(System.nanoTime() - t0) / 1e9}%.2f s")
    Files.write(Paths.get(oracleDir, "oracle_sql.json"), Names.map { n =>
      s"${Json.str(n)}: ${Json.str(SparkEntry.oracleSql(n))}"
    }.mkString("{", ",\n", "}").getBytes(StandardCharsets.UTF_8))

    val log = Paths.get(oracleDir, "compare.txt")
    val p = new ProcessBuilder(Seq("python3", s"$root/tools/compare_oracle.py",
      oracleDir, tables) ++ Names: _*)
      .directory(new java.io.File(root))
      .redirectErrorStream(true).redirectOutput(log.toFile).start()
    if (!p.waitFor(120, TimeUnit.SECONDS)) {
      p.destroyForcibly().waitFor()
      return Seq("oracle comparison timed out")
    }
    Main.log(f"oracle comparison ${(System.nanoTime() - t0) / 1e9}%.2f s after the dump began")
    val lines = scala.io.Source.fromFile(log.toFile).getLines().toSeq
    val passed = lines.filter(_.startsWith("PASS ")).map(_.split(' ')(1)).toSet
    val errs = lines.filter(_.startsWith("FAIL ")) ++
      Names.filterNot(passed).filterNot(n => lines.exists(_.startsWith(s"FAIL $n")))
        .map(n => s"oracle: no result for $n")
    if (p.exitValue() != 0 && errs.isEmpty)
      Seq(s"oracle harness exited ${p.exitValue()}: ${lines.takeRight(3).mkString(" | ")}")
    else errs
  }

  /** One query at a time: its construction (`SparkEntry.queries(name)`,
    * which may run eager jobs) and its count each in their own span,
    * split by the light and heavy sets. The latency figures come from the
    * untraced timed passes. */
  def layerPass(spark: SparkSession, tracer: Tracer, ref: Pass,
      timed: Seq[Pass]): (Map[String, Double], Seq[String]) = {
    val sig = Names.map { name =>
      val set = if (Light.contains(name)) "light" else "heavy"
      val df = tracer.span(s"construct.$set")(query(name)(spark, tables))
      s"$name:${tracer.span(s"exec.$set")(df.count())}"
    }.mkString(",")

    val perQuery = Names.map(n => Stats.median(timed.flatMap(_.ops.collect {
      case (`n`, s) => s
    })))
    val construct = Seq("construct.light", "construct.heavy").map(tracer.get)
    val exec = Seq("exec.light", "exec.heavy").map(tracer.get)
    val light = tracer.get("construct.light")
    (Map(
      "queries.p50_s" -> Stats.quantile(perQuery, 0.5),
      "queries.p90_s" -> Stats.quantile(perQuery, 0.9),
      "queries.total_s" -> Stats.median(timed.map(_.seconds)),
      "queries.construct_s" -> construct.map(_.wallS).sum,
      "queries.jobs_before_action" -> construct.map(_.jobs).sum.toDouble,
      "queries.light.construct_s" -> light.wallS,
      "queries.light.jobs_before_action" -> light.jobs.toDouble,
      "queries.catalyst_s" -> (construct ++ exec).map(_.catalystMs).sum / 1e3,
      "queries.exec_s" -> exec.map(_.wallS).sum,
      "queries.jobs" -> (construct ++ exec).map(_.jobs).sum.toDouble,
      "queries.tasks" -> (construct ++ exec).map(_.tasks).sum.toDouble,
      "queries.executor_cpu_s" -> (construct ++ exec).map(_.cpuS).sum,
      "queries.shuffle_mb" -> Layers.mb((construct ++ exec).map(_.shuffleWriteB).sum),
      "queries.scan_rows" -> (construct ++ exec).map(_.scanRows).sum.toDouble) ++
      Layers.sparkTotals(tracer.all),
      if (sig == ref.signature) Nil
      else Seq(s"traced query results $sig differ from ${ref.signature}"))
  }
}
