package perfbench

import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import scala.util.Random

/** A seeded `documents` table made the way the sf0.1 one is, plus a
  * held-out eval set for decontamination.
  *
  * Like sf0.1 `documents` (doc_id, text, lang, source, n_chars): one
  * line of 10 to 100 words drawn uniformly from the same 30-word
  * vocabulary, source `src<doc_id % 20>`, 41% `en` and the rest split
  * over `zh`, `es`, `fr` and `de`; 5% of the documents are an earlier
  * document with " dup" appended and 0.16% are exact copies. With so
  * few words, long documents share most of their word set, so near
  * dedup drops about 43% of the corpus here as it does on sf0.1
  * (5,000 documents less a `doc_id % 97` eval slice: 4,948 in, 4,940
  * after exact dedup, 2,820 after near dedup, 2,817 after the passage
  * cut).
  *
  * The eval set differs from that slice on purpose. Drawn from the
  * corpus vocabulary, every eval document shares word bigrams with
  * nearly every corpus document, and decontamination keeps 47 of the
  * 2,817. Here the eval set has a vocabulary of its own, and a planted
  * number of short documents each carry a 12-word passage of a
  * different eval document, so decontamination drops exactly those and
  * the later stages still get the corpus. */
object CorpusGen {

  final case class Plan(docs: Int, exactCopies: Int, nearCopies: Int,
      contaminated: Int, evalDocs: Int)

  /** The sf0.1 `documents` vocabulary. */
  val Vocab: IndexedSeq[String] = IndexedSeq("a", "agg", "batch", "big",
    "column", "customer", "data", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")
  // its share of each language in sf0.1
  private val Langs = Seq("en" -> 0.412, "zh" -> 0.151, "es" -> 0.149,
    "fr" -> 0.148, "de" -> 0.140)
  private def vocab(consonants: String, seed: Int): IndexedSeq[String] = {
    val syl = for (c <- consonants; v <- "aeiou") yield s"$c$v"
    val rnd = new Random(seed)
    val out = scala.collection.mutable.LinkedHashSet[String]()
    while (out.size < 400)
      out += Seq.fill(3)(syl(rnd.nextInt(syl.size))).mkString
    out.toIndexedSeq
  }
  // no eval word is a corpus word
  private val EvalVocab = vocab("bdfgklmnprstvz", 11)
  // The rest of a contaminated document. It shares no word with the
  // corpus, so its MinHash bands never meet a corpus document's and the
  // near-dedup cut of the corpus is the same for every seed.
  private val FillerVocab = vocab("chjwxy", 13)
  val PassageWords = 12

  /** Writes `documents.parquet` and `eval.parquet` under `dir`. The
    * documents without eval passages come from `baseSeed`, the eval set
    * and the contaminated documents (which follow them, in doc_id
    * order) from `seed`. */
  def write(spark: SparkSession, dir: String, seed: Long, baseSeed: Long,
      plan: Plan): Unit = {
    import spark.implicits._
    require(plan.contaminated <= plan.evalDocs, "one eval document per contaminated one")
    val b = new Random(baseSeed)
    val regular = plan.docs - plan.exactCopies - plan.nearCopies - plan.contaminated
    val base = IndexedSeq.fill(regular)(
      Seq.fill(10 + b.nextInt(91))(Vocab(b.nextInt(Vocab.size))).mkString(" "))
    val sources = b.shuffle(base.indices.toList)
    val exact = sources.take(plan.exactCopies).map(base)
    val near = sources.slice(plan.exactCopies, plan.exactCopies + plan.nearCopies)
      .map(base(_) + " dup")
    val langCdf = Langs.map(_._2).scanLeft(0.0)(_ + _).tail
    def lang(u: Double) = Langs(math.max(0, langCdf.indexWhere(u < _)))._1
    val baseRows = b.shuffle(base ++ exact ++ near).map(t => (t, lang(b.nextDouble())))

    val rnd = new Random(seed)
    val evalTexts = IndexedSeq.fill(plan.evalDocs) {
      Seq.fill(20 + rnd.nextInt(21))(EvalVocab(rnd.nextInt(EvalVocab.size))).mkString(" ")
    }
    val contaminated = rnd.shuffle(evalTexts.indices.toList).take(plan.contaminated)
      .map { e =>
        val ev = evalTexts(e).split(' ')
        val at = rnd.nextInt(ev.length - PassageWords + 1)
        val filler = Seq.fill(10 + rnd.nextInt(11))(FillerVocab(rnd.nextInt(FillerVocab.size)))
        ((filler ++ ev.slice(at, at + PassageWords)).mkString(" "), lang(rnd.nextDouble()))
      }
    val rows = (baseRows ++ contaminated).zipWithIndex.map { case ((t, l), i) =>
      (i.toLong, t, l, s"src${i % 20}", t.length.toLong)
    }
    writeFile(rows.toDF("doc_id", "text", "lang", "source", "n_chars"),
      s"$dir/documents.parquet")
    writeFile(evalTexts.zipWithIndex.map { case (t, i) => (1000000000L + i, t) }
      .toDF("doc_id", "text"), s"$dir/eval.parquet")
  }

  /** Writes `df` as one parquet file at `path`, as the sf0.1 tables are
    * stored, so DuckDB reads it under the same name. */
  private def writeFile(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = s"$path.tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator()
      .asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
    Files.list(Paths.get(tmp)).iterator().asScala.foreach(Files.delete)
    Files.delete(Paths.get(tmp))
  }
}
