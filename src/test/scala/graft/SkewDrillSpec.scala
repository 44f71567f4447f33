package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Adversarial mega-key drill (verdict r12 item 3): ONE pathological
  * key carrying 50% of corpus mass, pushed through the LSH banding,
  * the components loop and the salting utilities TOGETHER — the
  * degenerate-crawl shape (a boilerplate page mirrored across half the
  * corpus) that would melt an uncapped pipeline at 100 TB.
  *
  * The assertions are PARTITION/OUTPUT-SIZE bounds, not wall time: the
  * claim is that no single task's input or output grows with the mega
  * key's mass beyond the documented linear/star terms. AQE and
  * auto-broadcast are disabled for the drill (and restored after):
  * at these toy sizes AQE coalesces every shuffle to one partition,
  * which would make layout assertions vacuous — production gets AQE's
  * runtime skew-split ON TOP of the mechanics pinned here, never
  * instead of them.
  */
class SkewDrillSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val MegaN = 2000
  private val UniqN = 2000
  private val N = MegaN + UniqN

  /** 50% of the corpus is ONE text (one content key, one token set,
    * one LSH bucket per band); the rest have disjoint per-doc tokens. */
  private lazy val docs = {
    val mega = (1L to MegaN.toLong).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again and again"))
    val uniq = ((MegaN + 1).toLong to N.toLong).map(i =>
      (i, s"unique document alpha$i beta$i gamma$i delta$i epsilon$i"))
    (mega ++ uniq).toDF("doc_id", "text")
  }

  private def withRawLayout[A](body: => A): A = {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // cluster-like width: at the test session's default 4 partitions
    // the 8 salt sub-keys inevitably co-hash and the spread assertions
    // measure partition-count starvation, not salting
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try body
    finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
      spark.conf.set("spark.sql.shuffle.partitions", sp)
    }
  }

  private def partitionSizes(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.rdd.mapPartitions(it => Iterator(it.size.toLong)).collect().toSeq

  private lazy val pairs = operators.Dedup.minhashLshPairs(
    docs, "text", "doc_id", maxBucket = 32)

  test("star cap keeps a 50%-mass LSH bucket linear: O(bucket) pairs, " +
    "hash-spread output") {
    withRawLayout {
      val p = pairs.persist()
      val n = p.count()
      // the mega bucket (2000 members, identical band signatures) must
      // emit its star — and ONLY its star: 1999 pairs, never the
      // ~2,000,000-pair clique. Unique docs may add stray collisions;
      // the 2N bound keeps the whole drill linear in the corpus.
      assert(n >= MegaN - 1, s"mega star missing: $n pairs")
      assert(n <= 2L * N, s"pair mass super-linear under the mega key: $n")
      // every star pair shares id_a = bucket-min, but the pair stream
      // is keyed by (id_a, id_b) — the distinct's hash exchange must
      // spread it across tasks instead of funneling the mega bucket's
      // output through one
      val sizes = partitionSizes(p)
      assert(sizes.sum == n)
      assert(sizes.max <= n / 2 + 64,
        s"one task carries the mega bucket's pair output: $sizes")
      p.unpersist()
    }
  }

  test("components loop absorbs the mega star: one component, min-id " +
    "label, balanced label frame") {
    withRawLayout {
      val comps = operators.Dedup.connectedComponents(pairs).persist()
      val megaLabels = comps.where(col("id") <= MegaN)
        .select("comp").distinct().collect().map(_.getLong(0))
      assert(megaLabels.toSeq == Seq(1L),
        s"mega component must collapse to min id 1: ${megaLabels.toSeq}")
      // the label frame is keyed by id: the 2000-member component must
      // not concentrate its rows on the task that owns label 1
      val sizes = partitionSizes(comps)
      assert(sizes.max <= sizes.sum / 2 + 64,
        s"label frame concentrated: $sizes")
      comps.unpersist()
    }
  }

  test("saltedJoin + twoPhaseAgg spread a 50%-mass join/group key " +
    "across tasks, result-identically") {
    withRawLayout {
      // facts: every doc labeled with its dedup component (the mega
      // component IS the hot key — 50% of fact mass); singletons keep
      // their own id (the q106 coalesce convention)
      val comps = operators.Dedup.connectedComponents(pairs)
      val facts = docs.join(comps.withColumnRenamed("id", "doc_id"),
          Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("comp"))
        .localCheckpoint(true)
      val dim = facts.select("comp").distinct()
        .withColumn("payload", concat(lit("c"), col("comp")))
        .localCheckpoint(true)

      // UNSALTED contrast (nSalts = 1 is the identity salt): the sort-
      // merge join keys on comp alone, so the task owning the mega
      // component ingests all 2000 of its fact rows — the pathology
      val plain = operators.SkewJoin.saltedJoin(
        facts, dim, Seq("comp"), col("doc_id"), nSalts = 1)
      assert(partitionSizes(plain).max >= MegaN,
        "fixture broken: the unsalted layout should concentrate the mega key")

      // salted: 8 sub-keys spread the mega component's rows; no task
      // sees more than a couple of sub-key shares
      val salted = operators.SkewJoin.saltedJoin(
        facts, dim, Seq("comp"), col("doc_id"), nSalts = 8)
      val sizes = partitionSizes(salted)
      assert(sizes.max <= MegaN / 2,
        s"salting failed to spread the mega key: $sizes")
      // result-identical to the plain join
      assert(salted.count() == facts.count())
      assert(plain.exceptAll(salted).isEmpty && salted.exceptAll(plain).isEmpty)

      // two-phase agg on the same hot key: partial (comp, salt) counts
      // then final — equal to the direct groupBy
      val twoPhase = operators.SkewJoin.twoPhaseAgg(
        facts, Seq("comp"), col("doc_id"), 8)(
        Seq(count(lit(1)).as("c")), Seq(sum("c").as("n")))
      val direct = facts.groupBy("comp").agg(count(lit(1)).as("n"))
      assert(twoPhase.exceptAll(direct).isEmpty &&
        direct.exceptAll(twoPhase).isEmpty)
      val mega = twoPhase.where(col("comp") === 1L).head().getAs[Long]("n")
      assert(mega == MegaN)
    }
  }
}
