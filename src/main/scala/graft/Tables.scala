package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** The one testdata table-access path: where a table lives
  * (`<dir>/<name>.parquet`) and how it is decoded.
  *
  * `events.parquet` has shipped with two physical `ts` types across
  * fixture generations: TIMESTAMP(NANOS), which Spark only reads as a
  * raw nanos long via `spark.sql.legacy.parquet.nanosAsLong=true` (set
  * in every session builder here), and TIMESTAMP(MICROS) without a
  * timezone, which Spark reads as TIMESTAMP_NTZ. `eventsTs` normalizes
  * either to a session-zone (UTC) TimestampType at exact micro
  * precision — integer `div`, never double math (an epoch in nanos
  * exceeds 2^53, so `/` would corrupt it). DuckDB reads both physical
  * types as micro-precision TIMESTAMP, so this is the shared exact
  * domain the oracles compare in.
  */
object Tables {

  /** A table, decoded (`events.ts` normalized by [[eventsTs]]). */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    decode(name, raw(spark, dir, name))

  /** The physical read with no decoding — for code that must copy a
    * table's own column types (the `ScaleStudy` replica writers). */
  def raw(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The table with its rows spread across `defaultParallelism`
    * partitions. The testdata ships one row group per file, so a bare
    * scan is a single task; hashing- and dot-heavy projections need the
    * rows spread across cores first. At production scale the many-file
    * layout provides this for free. */
  def spread(spark: SparkSession, dir: String, name: String): DataFrame =
    apply(spark, dir, name).repartition(spark.sparkContext.defaultParallelism)

  /** The table as a streaming file source, decoded like [[apply]]. The
    * file source needs a directory, so it lists `dir` and keeps only
    * this table's file; the schema comes from the batch read. */
  def stream(spark: SparkSession, dir: String, name: String): DataFrame =
    decode(name, spark.readStream.schema(raw(spark, dir, name).schema)
      .option("pathGlobFilter", s"$name.parquet")
      .parquet(dir))

  private def decode(name: String, df: DataFrame): DataFrame =
    if (name == "events") eventsTs(df) else df

  /** Normalize the events `ts` column (raw nanos long OR TIMESTAMP_NTZ)
    * to TimestampType in the UTC session zone. Works on batch and
    * streaming DataFrames alike (schema-driven, no action); a `ts`
    * that is already TimestampType passes through. */
  def eventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        requireUtc(df.sparkSession)
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** The events `ts` as an exact epoch-micros BIGINT column `ts_us` —
    * the integer ordering domain shared bit-for-bit with DuckDB's
    * `epoch_us(ts)` (q80's as-of join compares in it). Exact on both
    * physical types: `unix_micros(timestamp_micros(x div 1000))` is
    * `x div 1000`. */
  def eventsTsMicros(df: DataFrame): DataFrame =
    eventsTs(df).withColumn("ts_us", unix_micros(col("ts")))

  /** The NTZ→timestamp cast interprets the wall clock in the session
    * zone; any zone other than UTC would silently shift every epoch and
    * break oracle parity. Fail loudly instead of drifting. */
  private def requireUtc(spark: SparkSession): Unit = {
    val tz = spark.conf.get("spark.sql.session.timeZone",
      java.util.TimeZone.getDefault.getID)
    require(tz == "UTC",
      s"Tables: events NTZ normalization requires spark.sql.session.timeZone=UTC " +
        s"(got '$tz'); build the session via Tables.configure")
  }

  /** Compiled classes Spark keeps per JVM
    * (`spark.sql.codegen.cache.maxEntries`, default 100). One pass of
    * the benchmark workloads compiles 117–120 classes on `submission`,
    * 237 on `corpus` and 138–144 on `queries`, about 500 together, so at
    * 100 the cache evicted every class before the next pass asked for
    * it and each pass paid Janino and a cold JIT again. Twice the
    * measured working set leaves room for the rest of the query suite;
    * peak RSS of a 2 GB-heap benchmark JVM moved by −105 to +176 MB in
    * single traced runs. The conf is static and Spark reads it once per
    * JVM, when the first generated class is compiled, so the first
    * session every entry point builds must come from here. The cache is
    * keyed by the generated source; [[configure]] also drops the
    * whole-stage stage id from the class name, so one stage that
    * adaptive execution numbers differently from run to run is still
    * one entry. */
  val CodegenCacheEntries = 1000

  /** Session config every graft entry point applies. */
  def configure(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.master(s"local[$cpus]")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // full Java charset set for the S1 encoding-detection ladder
      // (Spark 4 otherwise limits CSV to a small allowlist)
      .config("spark.sql.legacy.javaCharsets", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // (round-13 OPT experiment, REJECTED by measurement:
      // spark.sql.join.preferSortMergeJoin=false — guide §3.1's
      // shuffled-hash preference — was run through the full 663-spec
      // suite (green; strategy never changes results) and a full
      // 196-query bench A/B at equal gauge: total +8.4 s and the
      // composed pipeline +3.8 s, with the banding/verify family the
      // biggest loser (q192 +1.2 s, q194 +1.1 s) — hash-map builds
      // over the array-carrying verify frames lose to sort-merge
      // here. Kept at the default; see OPTIMIZATION_r13.md.)
      .config("spark.ui.enabled", "false")
}
