package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.kernel.HtmlText
import graft.schema.{Page, TruthRow}
import graft.synth.DeterministicCorpus
import graft.synth.DeterministicCorpus.CorpusSpec

/** A crawl delta: `freshFamilies` new families at a family offset disjoint
  * from the base, plus about `recrawls` edited re-crawls of base pages, all
  * drawn from `seed`.
  */
final case class DeltaShape(freshFamilies: Long, recrawls: Long, seed: Long = 0L)

/** One benchmark workload: the corpus `run()` sees, optionally the delta
  * its traced run applies with `incremental()`, and how many timed `run()`s
  * an untraced run makes at least.
  */
final case class Workload(name: String, base: CorpusSpec, delta: Option[DeltaShape],
    minReps: Int = 1) {
  /** The workload with the benchmark's `--seed` for its corpus and delta. */
  def seeded(seed: Long): Workload =
    copy(base = base.copy(seed = seed), delta = delta.map(_.copy(seed = seed)))
}

object Workloads {
  /** Fresh delta families start here, far past any base family id, so the
    * delta's url space is disjoint from the base (as in `DedupMain`).
    */
  val FreshFamilyOffset: Long = 1000000000L

  /** The measured shapes, each scaled down from the corpus it stands for so
    * that every run fits the benchmark's time budget on a 4-core box.
    */
  val all: Seq[Workload] = Seq(
    // the default corpus shape: union-find converges in a few rounds, so a
    // union-find change should not show; at ~16k pages a warm run() spends
    // about a third of its stage time in signatures, the rest in per-stage
    // scheduling and checkpoint writes. Its runs are short enough to time
    // two. Its traced run also applies a ~5% delta (fresh families plus
    // edited re-crawls) to measure adoption, the incremental apply and the
    // merge-on-read view; the base stays in the all-pairs regime, where
    // run(A) + incremental(B) must equal run(A ∪ B)
    Workload("batch_base", CorpusSpec(nFamilies = 10000),
      Some(DeltaShape(freshFamilies = 400, recrawls = 170)), minReps = 2),
    // one hot family of near-identical pages: 16 hot buckets on the chain
    // path and a long union-find fixpoint dominate, signatures get few pages
    Workload("batch_skew", CorpusSpec(nFamilies = 1000, hotFamilySize = 2000), None))

  def byName(name: String): Option[Workload] = all.find(_.name == name)
}

/** Cached pages and their ground truth (url, family_id). */
final case class Corpus(pages: Dataset[Page], truth: DataFrame, nPages: Long) {
  def unpersist(): Unit = {
    pages.unpersist(blocking = true)
    truth.unpersist(blocking = true)
  }
}

object Corpus {
  private val Level = StorageLevel.MEMORY_AND_DISK

  /** Cache pages and truth, computing `gen` once for both. */
  private def cache(spark: SparkSession, gen: Dataset[(Page, TruthRow)]): Corpus = {
    import spark.implicits._
    val both = gen.persist(Level)
    try {
      val pages = both.map(_._1).persist(Level)
      val truth = both.map(_._2).toDF().persist(Level)
      val n = pages.count()
      require(truth.count() == n, "ground truth and pages disagree in size")
      Corpus(pages, truth, n)
    } finally both.unpersist(blocking = true)
  }

  /** Generate and cache the corpus of `spec`. */
  def generate(spark: SparkSession, spec: CorpusSpec): Corpus =
    cache(spark, DeterministicCorpus.generate(spark, spec))

  /** Generate and cache an incremental delta on top of `base`: fresh families at [[Workloads.FreshFamilyOffset]],
    * plus re-crawls of a seeded sample of about `shape.recrawls` base pages.
    * A re-crawl has a new url, a `warc_ts` one day later, one appended
    * token, and the truth family of the page it re-crawls.
    */
  def delta(spark: SparkSession, base: Corpus, shape: DeltaShape): Corpus = {
    import spark.implicits._
    val fresh = DeterministicCorpus.generate(spark, CorpusSpec(
      nFamilies = shape.freshFamilies, seed = shape.seed,
      familyOffset = Workloads.FreshFamilyOffset))
    val every = math.max(1L, base.nPages / math.max(1L, shape.recrawls))
    val picked = base.pages.toDF().join(base.truth, "url")
      .filter(pmod(xxhash64(col("url"), lit(shape.seed)), lit(every)) === 0)
      .select(col("url"), col("warc_ts"), col("html"), col("lang"), col("source"),
        col("family_id"))
      .as[(String, Timestamp, Array[Byte], String, String, Long)]
    val recrawls = picked.map { case (url, ts, html, lang, source, family) =>
      val edited = new String(html, UTF_8).replace("</p>", " recrawled</p>")
        .getBytes(UTF_8)
      val newUrl = url + "?recrawl=1"
      (Page(newUrl, new Timestamp(ts.getTime + 86400000L), edited,
        HtmlText.extract(edited), lang, source), TruthRow(newUrl, family))
    }
    cache(spark, fresh.union(recrawls))
  }

  /** Cached union of two corpora (the delta's `run(A ∪ B)` check). */
  def union(a: Corpus, b: Corpus): Corpus = {
    val pages = a.pages.union(b.pages).persist(Level)
    val truth = a.truth.union(b.truth).persist(Level)
    val n = pages.count()
    truth.count()
    Corpus(pages, truth, n)
  }
}
