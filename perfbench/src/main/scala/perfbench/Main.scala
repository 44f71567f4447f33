package perfbench

import org.apache.spark.sql.SparkSession

/** One measured pass: its wall seconds, a signature of its results that
  * every pass of a run must repeat, and the seconds of each named
  * operation in it where a workload times them one by one. */
final case class Pass(seconds: Double, signature: String,
    ops: Seq[(String, Double)] = Nil)

/** A benchmark workload. `setup` writes the seeded inputs and reads them
  * back once; `pass` runs the user's operation on them; `check` holds the
  * run's correctness gates; `layerPass` is the traced, one step at a time
  * run that yields the per-layer metrics. */
trait Workload {
  def setup(spark: SparkSession, dir: String, seed: Long): Unit
  /** Units of work in one pass (items resolved, documents, queries). */
  def units: Long
  def pass(spark: SparkSession, tracer: Option[Tracer]): Pass
  /** Gates on the first pass, run outside any timed region. */
  def check(spark: SparkSession, first: Pass): Seq[String]
  /** Per-layer metrics from one traced pass, with its failures; `ref`
    * is the first untraced pass, whose results it must reproduce, and
    * `timed` the untraced timed passes. */
  def layerPass(spark: SparkSession, tracer: Tracer, ref: Pass,
      timed: Seq[Pass]): (Map[String, Double], Seq[String])
}

/** Runs one workload and prints one JSON result line on stdout:
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --work <dir> --root <repository root>
  * `run.py` builds the classpath and starts this JVM. */
object Main {

  val Cores = 4
  val SetupRepeats = 3

  /** A progress line on stderr, stamped with the JVM's uptime. */
  def log(msg: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"[perfbench $up%.1f s] $msg")
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing $k"))
    val workload = opt("--workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toDouble
    val trace = opt("--trace") == "1"
    val work = opt("--work")
    val root = opt("--root")

    val w: Workload = workload match {
      case "submission" => new SubmissionWorkload
      case "corpus" => new CorpusWorkload
      case "queries" => new QueriesWorkload(root)
      case other => sys.error(s"unknown workload '$other'")
    }

    // set-up: a fresh session plus input generation and read-back, done
    // several times; the median is the set-up time
    var spark: SparkSession = null
    val setupS = (1 to SetupRepeats).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = graft.Engine.session("perfbench", Cores.toString)
      spark.sparkContext.setLogLevel("ERROR")
      w.setup(spark, work, seed)
      val sec = (System.nanoTime() - t0) / 1e9
      log(f"set-up $sec%.2f s")
      sec
    }
    val gaugeMs = Stats.hostGaugeMs()

    // every pass (and the traced step-by-step run) is one attempted
    // operation; it failed if it threw, broke a gate or gave a result
    // other than the first pass's
    var attempted = 0
    var failed = 0
    val failures = Seq.newBuilder[String]
    def attempt[T](body: => (T, Seq[String])): Option[T] = {
      attempted += 1
      val (out, errs) =
        try { val (v, e) = body; (Some(v), e) }
        catch {
          case scala.util.control.NonFatal(e) =>
            (None, Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        }
      if (errs.nonEmpty || out.isEmpty) failed += 1
      errs.foreach(failures += _)
      out
    }

    // warm pass: JIT, codegen and file caches; its output is gated and
    // is the reference every later pass must repeat
    val warmT0 = System.nanoTime()
    val warm = attempt {
      val p = w.pass(spark, None)
      (p, w.check(spark, p))
    }
    val ref = warm.getOrElse(Pass(0, ""))
    def same(p: Pass): Seq[String] =
      if (p.signature == ref.signature) Nil
      else Seq(s"pass gave ${p.signature}, the first pass ${ref.signature}")
    val warmS = (System.nanoTime() - warmT0) / 1e9
    log(f"warm pass and checks $warmS%.2f s: ${ref.signature}")

    val plainCpu = Seq.newBuilder[Double]
    val plain = Seq.newBuilder[Pass]
    val traced = Seq.newBuilder[Pass]
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val t0 = System.nanoTime()
    var n = 0
    // untraced passes until the time is up, at least one; a traced run
    // interleaves untraced and traced passes of the same operation in
    // ABBA order, at least four, so a drift across the run cancels out of
    // the difference of their medians, the tracing overhead
    val minPasses = if (trace) 4 else 1
    while (n < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val tr = tracer.filter(_ => n % 4 == 1 || n % 4 == 2)
      tr.foreach(_.reset())
      val settleS = Stats.settle()
      val c0 = Stats.processCpuS()
      attempt { val p = w.pass(spark, tr); (p, same(p)) }.foreach { p =>
        val cpu = Stats.processCpuS() - c0
        if (tr.isEmpty) plainCpu += cpu
        val spans = tr.fold("")(_.all.map(x => f"${x.name} ${x.wallS}%.2f s")
          .mkString(" (", ", ", ")"))
        log(f"${if (tr.isDefined) "traced pass" else "pass"} ${p.seconds}%.2f s, cpu $cpu%.2f s, settled $settleS%.2f s before$spans")
        if (tr.isDefined) traced += p else plain += p
      }
      n += 1
    }
    val layers = tracer.map { t =>
      t.reset()
      val m = attempt(w.layerPass(spark, t, ref, plain.result()))
        .getOrElse(Map.empty)
      t.close()
      m
    }
    val passes = plain.result()
    val fails = failures.result()
    val passMed = Stats.median(passes.map(_.seconds))
    val rssMb = Stats.peakRssMb()

    val metrics: Seq[(String, Double, String)] = layers match {
      case None => Seq(
        ("throughput_per_s", if (passMed > 0) w.units / passMed else 0.0, "1/s"),
        ("setup_s", Stats.median(setupS), "s"))
      case Some(m) =>
        val overhead =
          Stats.median(traced.result().map(_.seconds)) - passMed
        val common = Map(
          "host.gauge_ms" -> gaugeMs,
          "trace.overhead_s" -> overhead,
          "jvm.peak_rss_mb" -> rssMb)
        Layers.All.map { case (name, unit) =>
          (name, (m ++ common).getOrElse(name, 0.0), unit)
        }
    }

    System.err.println(Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "host_gauge_ms" -> Json.num(gaugeMs),
      "setup_s" -> Json.arr(setupS), "warm_s" -> Json.num(warmS),
      "pass_s" -> Json.arr(passes.map(_.seconds)),
      "pass_cpu_s" -> Json.arr(plainCpu.result()),
      "traced_pass_s" -> Json.arr(traced.result().map(_.seconds)),
      "op_median_s" -> Json.obj(passes.flatMap(_.ops).groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(Stats.median(v.map(_._2))) }),
      "signature" -> Json.str(ref.signature),
      "failures" -> fails.map(Json.str).mkString("[", ",", "]"))))
    println(Json.obj(Seq(
      "correct" -> fails.isEmpty.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    spark.stop()
    log("done")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Linear-interpolated quantile `q` of `xs`, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val h = (s.size - 1) * q
      val lo = h.toInt
      s(lo) + (h - lo) * (s(math.min(lo + 1, s.size - 1)) - s(lo))
    }

  /** Collects garbage, then waits, at most `maxS` seconds, until this
    * process uses under a quarter of a core over 200 ms: the JIT
    * compiler threads have caught up with the code the last pass ran,
    * so the next pass times the program rather than its compilation.
    * Returns the seconds waited. */
  def settle(maxS: Double = 5.0): Double = {
    val t0 = System.nanoTime()
    System.gc()
    var busy = true
    while (busy && (System.nanoTime() - t0) / 1e9 < maxS) {
      val c0 = processCpuS()
      Thread.sleep(200)
      busy = processCpuS() - c0 > 0.05
    }
    (System.nanoTime() - t0) / 1e9
  }

  @volatile private var gaugeSink = 0L

  /** Milliseconds for a fixed single-thread integer loop (median of 5).
    * It tracks how busy the host is; no metric is scaled by it. */
  def hostGaugeMs(): Double = median((1 to 5).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    gaugeSink = x
    (System.nanoTime() - t0) / 1e6
  })

  /** CPU seconds this process has used, on all its threads. */
  def processCpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString
  def arr(vs: Seq[Double]): String = vs.map(num).mkString("[", ",", "]")
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
