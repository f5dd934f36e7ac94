package graft.synth

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.kernel.HtmlText
import graft.schema.{Page, TruthRow}

/** Seeded synthetic Common-Crawl-style corpus with planted duplicate
  * families (FIXTURES.md §C).
  *
  * All randomness comes from `splitmix64(seed ^ rowKey)` chains —
  * row-independent and order-independent, so the corpus is identical at any
  * parallelism and re-runnable (generation happens in executors via a
  * range Dataset, no driver-side materialization).
  *
  * Layout: `nFamilies` base documents; family i gets `copies(i) ∈ [0,4]`
  * mutated near-dup copies with probability `pDup` (mutations mirror the
  * reference's normalization axes, /root/reference/src/dedupe.rs:144-161:
  * HTML entity spellings, `<sup>/<sub>` wrappers, greek↔latin spellings,
  * `<U+XXXX>` escapes, case/punctuation churn, small token edits).
  * One optional "hot family" of `hotFamilySize` near-identical boilerplate
  * pages exercises the skew path. Ground truth = (url, family_id).
  */
object DeterministicCorpus {

  private val Vocab: Array[String] = {
    // deterministic word list: base syllables composed into ~4k words
    val syll = Array("ka", "ro", "mi", "ta", "ne", "su", "lo", "ve", "da",
      "pi", "gu", "sha", "or", "ze", "ben", "cal", "dor", "fen")
    (for (a <- syll; b <- syll; c <- syll.take(12)) yield a + b + c)
  }

  private def mix(x: Long): Long = graft.kernel.Shingling.splitmix64(x)

  /** Deterministic base text for a family: 60-140 vocab words (the floor
    * keeps a single real-token edit above the 0.8 Jaccard verify threshold
    * at k=5: worst case (60-5)/(60+5) ≈ 0.846).
    */
  private def baseText(seed: Long, family: Long): String = {
    val r0 = mix(seed ^ (family * 0x51f3a7b9L + 17))
    val len = 60 + (Math.floorMod(r0, 81L)).toInt
    val sb = new java.lang.StringBuilder(len * 8)
    var i = 0
    var state = r0
    while (i < len) {
      state = mix(state + i)
      if (i > 0) sb.append(' ')
      sb.append(Vocab(Math.floorMod(state, Vocab.length.toLong).toInt))
      i += 1
    }
    sb.toString
  }

  /** Near-dup mutation along the reference's normalization axes
    * (/root/reference/src/dedupe.rs:144-161): ~5% of tokens get
    * normalization-INVARIANT churn (case, punctuation, `<sup>` wrappers,
    * greek↔latin spellings, `<U+XXXX>` escapes) plus at most ONE real token
    * edit — bounding normalized-shingle Jaccard ≥ ~0.84 at k=5 so every
    * planted copy passes verification against its base.
    */
  private def mutate(text: String, seed: Long, copy: Int): String = {
    val words = text.split(' ')
    val out = new Array[String](words.length)
    var state = mix(seed + copy * 7919L)
    val nChurn = math.max(1, words.length / 20)
    val churnAt = (0 until nChurn).map { e =>
      state = mix(state + e)
      Math.floorMod(state, words.length.toLong).toInt
    }.toSet
    state = mix(state + 101)
    val realEdit =
      if ((state & 1L) == 0L) Math.floorMod(mix(state), words.length.toLong).toInt
      else -1
    var i = 0
    while (i < words.length) {
      val w = words(i)
      out(i) =
        if (i == realEdit) w + "x" // one real token edit
        else if (churnAt.contains(i)) {
          state = mix(state + i)
          Math.floorMod(state, 5L).toInt match {
            case 0 => w.toUpperCase(java.util.Locale.ROOT) // case churn
            case 1 => w + "," // punctuation churn
            case 2 => "<sup>" + w + "</sup>" // sup wrapper (normalizes away)
            case 3 => w.replace("a", "alpha") // greek/latin spelling axis
            case _ => // escape the first char as <U+XXXX>, entity-encoded so the
              // HTML extractor does not strip it as a tag; extraction yields
              // "<U+XXXX>rest" which normalizeTitle converts back (invariant)
              f"&lt;U+${w.codePointAt(0)}%04X&gt;" + w.substring(Character.charCount(w.codePointAt(0)))
          }
        } else w
      i += 1
    }
    out.mkString(" ")
  }

  /** Heavy mutation (~35% of tokens replaced) — a hard negative that shares
    * vocabulary and structure but sits well below the verify threshold.
    */
  private def heavyMutate(text: String, seed: Long): String = {
    val words = text.split(' ')
    var state = mix(seed * 31 + 5)
    words.zipWithIndex.map { case (w, i) =>
      state = mix(state + i)
      if (Math.floorMod(state, 100L) < 35)
        Vocab(Math.floorMod(mix(state), Vocab.length.toLong).toInt)
      else w
    }.mkString(" ")
  }

  /** Wrap text in deterministic HTML that the extractor inverts
    * byte-identically (FIXTURES.md §B "byte-identical extraction").
    */
  def wrapHtml(text: String, title: String): Array[Byte] = {
    val html = new java.lang.StringBuilder(text.length + 256)
    html.append("<html><head><title>").append(title)
      .append("</title><style>body { margin: 0; }</style>")
      .append("<script>var x = 1 < 2;</script></head>\n<body>\n<p>")
      .append(text)
      .append("</p>\n</body></html>")
    html.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** `familyOffset` shifts the family id range (urls are pure functions of
    * the family id), so two specs with disjoint ranges generate DISJOINT
    * url spaces — the way to synthesize an incremental crawl delta that
    * cannot collide with a base corpus on (url, warc_ts).
    */
  final case class CorpusSpec(
      nFamilies: Long = 1000,
      pDup: Double = 0.2,
      maxCopies: Int = 4,
      pHardNegative: Double = 0.1,
      hotFamilySize: Int = 0,
      seed: Long = 42L,
      familyOffset: Long = 0L)

  private val Langs = Array("en", "en", "en", "en", "en", "en", "en", "en",
    "de", "fr") // 80/10/10-ish

  /** Generate pages + ground truth. Row count = nFamilies + planted copies
    * (+ hotFamilySize). Distributed: builds from a range Dataset.
    */
  def generate(spark: SparkSession, spec: CorpusSpec): Dataset[(Page, TruthRow)] = {
    import spark.implicits._
    val seed = spec.seed
    val pDupScaled = (spec.pDup * (1L << 32).toDouble).toLong
    val maxCopies = spec.maxCopies
    val hot = spec.hotFamilySize

    val pHardScaled = (spec.pHardNegative * (1L << 32).toDouble).toLong
    val families = spark.range(spec.familyOffset, spec.familyOffset + spec.nFamilies)
      .flatMap { family =>
        val text = baseText(seed, family)
        val rDup = mix(seed ^ (family * 0x9e3779b9L + 3))
        val isDup = Math.floorMod(rDup, 1L << 32) < pDupScaled
        val nCopies =
          if (isDup) 1 + Math.floorMod(mix(rDup), maxCopies.toLong).toInt else 0
        val members = (0 to nCopies).map { copy =>
          val t = if (copy == 0) text else mutate(text, seed ^ family, copy)
          makePage(seed, family, copy, t)
        }
        // hard negative: shares vocabulary/structure but must NOT cluster
        // with the family (own truth id in the negative range)
        val rNeg = mix(seed ^ (family * 0x7f4a7c15L + 9))
        val negatives =
          if (Math.floorMod(rNeg, 1L << 32) < pHardScaled)
            Seq(makePage(seed, -(family + 1000), 0, heavyMutate(text, seed ^ family)))
          else Nil
        members ++ negatives
      }

    val hotPages =
      if (hot <= 0) spark.emptyDataset[(Page, TruthRow)]
      else {
        val hotFamily = -1L // reserved family id for the hot bucket
        spark.range(0, hot).map { j =>
          val base = baseText(seed, Long.MaxValue - 7)
          // near-identical boilerplate with a unique trailing token per page:
          // all pairwise near-dups but all DISTINCT content hashes, so the
          // LSH buckets (not the exact path) absorb the skew → exercises the
          // hot-bucket chain path.
          val t = base + " tok" + j
          makePage(seed, hotFamily, j.toInt, t)
        }
      }

    families.union(hotPages)
  }

  private def makePage(seed: Long, family: Long, copy: Int, text: String): (Page, TruthRow) = {
    val url = s"https://synth.test/f$family/c$copy"
    val title = s"doc f$family"
    val html = wrapHtml(text, title)
    val ts = new Timestamp(1700000000000L + family * 1000L + copy)
    val lang = Langs(Math.floorMod(mix(seed ^ family + 41), Langs.length.toLong).toInt)
    val source = s"src${Math.floorMod(mix(seed ^ family + 43 + copy), 5L)}"
    val page = Page(url, ts, html, HtmlText.extract(html), lang, source)
    (page, TruthRow(url, family))
  }

  /** Convenience: pages only. */
  def pages(spark: SparkSession, spec: CorpusSpec): Dataset[Page] = {
    import spark.implicits._
    generate(spark, spec).map(_._1)
  }

  /** Convenience: ground truth only. */
  def truth(spark: SparkSession, spec: CorpusSpec): Dataset[TruthRow] = {
    import spark.implicits._
    generate(spark, spec).map(_._2)
  }
}
