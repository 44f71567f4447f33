package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** The session keeps every class a pass compiles: building and counting
  * the `queries` benchmark set a second time compiles nothing, because
  * its working set fits `Tables.CodegenCacheEntries`. At Spark's default
  * of 100 entries the first round's classes are evicted before the
  * second round asks for them again. */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val Names = Seq("q02_null_normalize", "q100_priority_sample",
    "q115_winsorize", "q121_luhn_pii", "q123_snapshot_diff",
    "q127_token_entropy", "q129_source_overlap", "q156_zipf_fit",
    "q124_hard_negatives")

  /** Classes Janino compiled in this JVM while `body` ran. */
  private def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  private def round(): Unit = Names.foreach { name =>
    SparkEntry.queries(name)(spark, SparkTestSession.sfDir).count()
  }

  test("a second round of the queries workload compiles no class") {
    // adaptive execution plans a stage once the stages it reads have
    // run, so which of two concurrent stages finishes first can give
    // a round a stage shape the previous round never built (q124's
    // left-anti join fuses into the cross join's stage only when the
    // ranked side's shuffle ends before the query ids' broadcast): a
    // new class, not an evicted one. With static plans, every class
    // the second round compiles is one the cache lost.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val first = compiles(round())
      val second = compiles(round())
      assert(second == 0L,
        s"the second round compiled $second classes (the first $first)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
