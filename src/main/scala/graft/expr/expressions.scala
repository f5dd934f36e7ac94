package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.kernel.{Boilerplate, HtmlText, MetaExtract, Robots, Shingling, StrSim, TextNorm, UrlNorm}

/** Catalyst expressions for the normalization/signature kernel (SURVEY.md
  * §2.2, §2.6). Each is a thin, null-safe wrapper over a pure function in
  * [[graft.kernel]]; `CodegenFallback` keeps them usable inside
  * whole-stage-codegen plans (the fallback is a direct `eval` call — the
  * kernels themselves are allocation-lean imperative Scala).
  *
  * All are deterministic and null-intolerant: SQL NULL in → SQL NULL out,
  * which mirrors the reference's `Option` returns (None ⇔ NULL).
  */

private[graft] trait SimpleCodegen extends CodegenFallback { self: Expression =>
  override def nullIntolerant: Boolean = true
}

/** Reference title normalization incl. `<U+XXXX>` unescape
  * (/root/reference/src/dedupe.rs:566-590,711-740). Empty string → NULL.
  */
case class NormalizeText(child: Expression)
    extends UnaryExpression with SimpleCodegen {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    TextNorm.normalizeTitle(input.asInstanceOf[UTF8String].toString)
      .map(UTF8String.fromString).orNull
  override protected def withNewChildInternal(c: Expression): NormalizeText = copy(child = c)
}

/** Token-preserving normalization for shingling (reference chain applied
  * per whitespace token; see [[graft.kernel.TextNorm.normalizeTokens]]).
  */
case class NormalizeTokens(child: Expression)
    extends UnaryExpression with SimpleCodegen {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(TextNorm.normalizeTokens(input.asInstanceOf[UTF8String].toString))
  override protected def withNewChildInternal(c: Expression): NormalizeTokens = copy(child = c)
}

/** `<U+XXXX>` escape → code point (/root/reference/src/dedupe.rs:711-721). */
case class ConvertUnicode(child: Expression)
    extends UnaryExpression with SimpleCodegen {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(TextNorm.convertUnicode(input.asInstanceOf[UTF8String].toString))
  override protected def withNewChildInternal(c: Expression): ConvertUnicode = copy(child = c)
}

/** Journal-name normalization (/root/reference/src/dedupe.rs:786-797). */
case class FormatJournal(child: Expression)
    extends UnaryExpression with SimpleCodegen {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    TextNorm.formatJournalName(input.asInstanceOf[UTF8String].toString)
      .map(UTF8String.fromString).orNull
  override protected def withNewChildInternal(c: Expression): FormatJournal = copy(child = c)
}

/** First digit run (/root/reference/src/dedupe.rs:742-759). */
case class NormalizeVolume(child: Expression)
    extends UnaryExpression with SimpleCodegen {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(TextNorm.normalizeVolume(input.asInstanceOf[UTF8String].toString))
  override protected def withNewChildInternal(c: Expression): NormalizeVolume = copy(child = c)
}

/** Canonical ISSN or NULL (/root/reference/src/dedupe.rs:799-823). */
case class FormatIssn(child: Expression)
    extends UnaryExpression with SimpleCodegen {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    TextNorm.formatIssn(input.asInstanceOf[UTF8String].toString)
      .map(UTF8String.fromString).orNull
  override protected def withNewChildInternal(c: Expression): FormatIssn = copy(child = c)
}

/** Page-range expansion (/root/reference/src/utils.rs:16-84). */
case class FormatPages(child: Expression)
    extends UnaryExpression with SimpleCodegen {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(TextNorm.formatPageNumbers(input.asInstanceOf[UTF8String].toString))
  override protected def withNewChildInternal(c: Expression): FormatPages = copy(child = c)
}

/** Canonical DOI or NULL (/root/reference/src/utils.rs:91-113). */
case class FormatDoi(child: Expression)
    extends UnaryExpression with SimpleCodegen {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    TextNorm.formatDoi(input.asInstanceOf[UTF8String].toString)
      .map(UTF8String.fromString).orNull
  override protected def withNewChildInternal(c: Expression): FormatDoi = copy(child = c)
}

/** Multi-ISSN blob → array (/root/reference/src/utils.rs:120-142). */
case class SplitIssns(child: Expression)
    extends UnaryExpression with SimpleCodegen {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any = {
    val parts = TextNorm.splitIssns(input.asInstanceOf[UTF8String].toString)
    new GenericArrayData(parts.map(UTF8String.fromString).toArray[Any])
  }
  override protected def withNewChildInternal(c: Expression): SplitIssns = copy(child = c)
}

/** RFC 3986 percent-encoding normalization (decode unreserved escapes,
  * uppercase the rest) — see [[graft.kernel.UrlNorm.percentNormalize]].
  */
case class PercentNormalize(child: Expression)
    extends UnaryExpression with SimpleCodegen {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    UrlNorm.percentNormalize(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): PercentNormalize = copy(child = c)
}

/** Jaro similarity (threshold spec /root/reference/src/dedupe.rs:141,628).
  *
  * Full codegen (not `CodegenFallback`): this expression sits inside the
  * citation dedup's O(block²) residual comparison — the one hot path where
  * an interpreted expression would break the surrounding whole-stage span
  * and pay a per-pair virtual `eval` round trip. `doGenCode` emits a
  * static call into the [[StrSim]] kernel, so the comparison stays inside
  * the generated loop.
  */
case class JaroSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    StrSim.jaro(l.asInstanceOf[UTF8String].toString, r.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, (l, r) =>
      s"graft.kernel.StrSim.jaro($l.toString(), $r.toString())")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaroSim =
    copy(left = l, right = r)
}

/** Jaro-Winkler similarity (/root/reference/src/dedupe.rs:142,641);
  * codegen'd for the same O(block²)-path reason as [[JaroSim]].
  */
case class JaroWinklerSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    StrSim.jaroWinkler(l.asInstanceOf[UTF8String].toString, r.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, (l, r) =>
      s"graft.kernel.StrSim.jaroWinkler($l.toString(), $r.toString())")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaroWinklerSim =
    copy(left = l, right = r)
}

/** Distinct sorted xxhash64 k-word shingles of a text column (tokenized and
  * hashed directly over the UTF-8 bytes — no per-shingle allocation).
  */
case class WordShingleHashes(child: Expression, k: Int, seed: Long)
    extends UnaryExpression with SimpleCodegen {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      Shingling.wordShingles(input.asInstanceOf[UTF8String], k, seed))
  override protected def withNewChildInternal(c: Expression): WordShingleHashes = copy(child = c)
}

/** Distinct sorted xxhash64 k-char shingles of a text column. */
case class CharShingleHashes(child: Expression, k: Int, seed: Long)
    extends UnaryExpression with SimpleCodegen {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      Shingling.charShingles(input.asInstanceOf[UTF8String].toString, k, seed))
  override protected def withNewChildInternal(c: Expression): CharShingleHashes = copy(child = c)
}

/** MinHash signature over a shingle-hash array. Affine-permutation
  * coefficients are derived from `seed` once per expression instance.
  */
case class MinHashSignature(child: Expression, numHashes: Int, seed: Long)
    extends UnaryExpression with SimpleCodegen {
  @transient private lazy val coeffs = Shingling.coefficients(numHashes, seed)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(Shingling.minHash(input.asInstanceOf[ArrayData].toLongArray(), coeffs))
  override protected def withNewChildInternal(c: Expression): MinHashSignature = copy(child = c)
}

/** 64-bit SimHash over a shingle-hash array. */
case class SimHash64(child: Expression)
    extends UnaryExpression with SimpleCodegen {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    Shingling.simHash(input.asInstanceOf[ArrayData].toLongArray())
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
}

/** LSH band keys from a MinHash signature (bands × rows). */
case class BandKeys(child: Expression, bands: Int, rows: Int, seed: Long)
    extends UnaryExpression with SimpleCodegen {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      Shingling.bandKeys(input.asInstanceOf[ArrayData].toLongArray(), bands, rows, seed))
  override protected def withNewChildInternal(c: Expression): BandKeys = copy(child = c)
}

/** Fused MinHash → LSH band keys: computes the bands×rows MinHash signature
  * into a scratch array and hashes each band in one pass — the hot path of
  * the signature stage, saving one ArrayData materialization + copy per row
  * vs composing [[MinHashSignature]] and [[BandKeys]].
  */
case class MinHashBands(child: Expression, bands: Int, rows: Int, seed: Long)
    extends UnaryExpression with SimpleCodegen {
  private val numHashes = bands * rows
  @transient private lazy val coeffs = Shingling.coefficients(numHashes, seed)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any = {
    val sig = Shingling.minHash(input.asInstanceOf[ArrayData].toLongArray(), coeffs)
    new GenericArrayData(Shingling.bandKeys(sig, bands, rows, seed))
  }
  override protected def withNewChildInternal(c: Expression): MinHashBands = copy(child = c)
}

/** Fused LSH band keys + b-bit sketch from ONE MinHash pass: computes the
  * bands·rows-value signature once (same coefficient family as
  * [[MinHashBands]] / [[MinHashSignature]] — identical band keys, so
  * checkpoints and oracles are unaffected) and returns a struct of
  *   - `bands`: [[Shingling.bandKeys]] of the signature (≡ MinHashBands);
  *   - `sketch`: [[Shingling.packLowBits]] of the signature (≡ BBitMinHash
  *     at numHashes = bands·rows).
  * The point is COST: a caller that needs both gets the sketch from the
  * band pass for free (a separate n=256 BBitMinHash pass measured +17%
  * end-to-end). The dedup pipeline no longer stores a sketch, so its
  * signature stage runs [[MinHashBands]]; this expression stays for callers
  * that want both, and dedupbench's kernel microbench still times it.
  */
case class MinHashBandsSketch(child: Expression, bands: Int, rows: Int,
    b: Int, seed: Long)
    extends UnaryExpression with SimpleCodegen {
  require(b > 0 && 64 % b == 0, s"b must divide 64, got $b")
  private val numHashes = bands * rows
  @transient private lazy val coeffs = Shingling.coefficients(numHashes, seed)
  override def dataType: DataType = StructType(Seq(
    StructField("bands", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("sketch", ArrayType(LongType, containsNull = false), nullable = false)))
  override def nullSafeEval(input: Any): Any = {
    val sig = Shingling.minHash(input.asInstanceOf[ArrayData].toLongArray(), coeffs)
    org.apache.spark.sql.catalyst.InternalRow(
      new GenericArrayData(Shingling.bandKeys(sig, bands, rows, seed)),
      new GenericArrayData(Shingling.packLowBits(sig, b)))
  }
  override protected def withNewChildInternal(c: Expression): MinHashBandsSketch =
    copy(child = c)
}

/** Truncate a sorted 64-bit shingle-hash array to sorted distinct 32-bit
  * hashes — the storage/compare representation (half the bytes, negligible
  * collision mass; see [[Shingling.truncate32]]).
  */
case class TruncateHashes32(child: Expression)
    extends UnaryExpression with SimpleCodegen {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      Shingling.truncate32(input.asInstanceOf[ArrayData].toLongArray()))
  override protected def withNewChildInternal(c: Expression): TruncateHashes32 = copy(child = c)
}

/** Exact Jaccard over two sorted distinct hash arrays (64-bit long or
  * 32-bit int element type, resolved from the input schema).
  */
case class JaccardSorted(left: Expression, right: Expression)
    extends BinaryExpression with SimpleCodegen {
  override def dataType: DataType = DoubleType
  private lazy val intElements: Boolean = left.dataType match {
    case ArrayType(IntegerType, _) => true
    case _ => false
  }
  override def nullSafeEval(l: Any, r: Any): Any =
    if (intElements)
      Shingling.jaccardSortedInt(
        l.asInstanceOf[ArrayData].toIntArray(),
        r.asInstanceOf[ArrayData].toIntArray())
    else
      Shingling.jaccardSorted(
        l.asInstanceOf[ArrayData].toLongArray(),
        r.asInstanceOf[ArrayData].toLongArray())
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSorted =
    copy(left = l, right = r)
}

/** Jaccard estimate from two MinHash signatures. */
case class MinHashJaccard(left: Expression, right: Expression)
    extends BinaryExpression with SimpleCodegen {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    Shingling.minHashJaccardEstimate(
      l.asInstanceOf[ArrayData].toLongArray(),
      r.asInstanceOf[ArrayData].toLongArray())
  override protected def withNewChildrenInternal(l: Expression, r: Expression): MinHashJaccard =
    copy(left = l, right = r)
}

/** b-bit MinHash sketch (Li & König 2010) — the low `b` bits of each
  * MinHash value, bit-packed to `numHashes*b/64` longs: the `64/b`×-
  * compressed per-document verification state. Same permutation family as
  * [[MinHashSignature]] (truncation parity is test-pinned).
  */
case class BBitMinHash(child: Expression, numHashes: Int, b: Int, seed: Long)
    extends UnaryExpression with SimpleCodegen {
  require(b > 0 && 64 % b == 0, s"b must divide 64, got $b")
  @transient private lazy val coeffs = Shingling.coefficients(numHashes, seed)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any = {
    val sig = Shingling.minHash(input.asInstanceOf[ArrayData].toLongArray(), coeffs)
    new GenericArrayData(Shingling.packLowBits(sig, b))
  }
  override protected def withNewChildInternal(c: Expression): BBitMinHash = copy(child = c)
}

/** Corrected Jaccard estimate from two b-bit sketches
  * ([[Shingling.bbitJaccardEstimate]]).
  */
case class BBitJaccard(left: Expression, right: Expression, numHashes: Int, b: Int)
    extends BinaryExpression with SimpleCodegen {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    Shingling.bbitJaccardEstimate(
      l.asInstanceOf[ArrayData].toLongArray(),
      r.asInstanceOf[ArrayData].toLongArray(), numHashes, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): BBitJaccard =
    copy(left = l, right = r)
}

/** Hamming distance between two 64-bit fingerprints. */
case class HammingDist64(left: Expression, right: Expression)
    extends BinaryExpression with SimpleCodegen {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(l: Any, r: Any): Any =
    Shingling.hamming64(l.asInstanceOf[Long], r.asInstanceOf[Long])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HammingDist64 =
    copy(left = l, right = r)
}

/** Deterministic HTML→text extraction over a binary column (the graft analog
  * of the reference's parser stage; rules pinned in [[graft.kernel.HtmlText]]).
  */
case class ExtractHtmlText(child: Expression)
    extends UnaryExpression with SimpleCodegen {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(HtmlText.extract(input.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(c: Expression): ExtractHtmlText = copy(child = c)
}

/** Block segmentation with link-density metrics over an HTML string — the
  * jusText-core boilerplate classifier (rules pinned in
  * [[graft.kernel.Boilerplate]]). Returns
  * `array<struct<text, n_chars, anchor_chars, is_good>>`; `is_good` applies
  * the length + link-density keep rule with the expression's thresholds.
  */
case class BoilerplateBlocks(child: Expression, minChars: Int, maxLinkDensity: Double)
    extends UnaryExpression with SimpleCodegen {
  override def dataType: DataType = BoilerplateBlocks.Schema
  override def nullSafeEval(input: Any): Any = {
    val bs = Boilerplate.blocks(input.asInstanceOf[UTF8String].toString)
    new GenericArrayData(bs.map { b =>
      InternalRow(UTF8String.fromString(b.text), b.nChars, b.anchorChars,
        Boilerplate.isGood(b.nChars, b.anchorChars, minChars, maxLinkDensity))
    }.toArray[Any])
  }
  override protected def withNewChildInternal(c: Expression): BoilerplateBlocks = copy(child = c)
}

object BoilerplateBlocks {
  val Schema: DataType = ArrayType(StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false),
    StructField("anchor_chars", IntegerType, nullable = false),
    StructField("is_good", BooleanType, nullable = false))), containsNull = false)
}

/** Main-content extraction: good blocks (per [[BoilerplateBlocks]]'s keep
  * rule) joined with `\n`; empty string when the page is all boilerplate.
  */
case class MainContent(child: Expression, minChars: Int, maxLinkDensity: Double)
    extends UnaryExpression with SimpleCodegen {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(Boilerplate.mainContent(
      input.asInstanceOf[UTF8String].toString, minChars, maxLinkDensity))
  override protected def withNewChildInternal(c: Expression): MainContent = copy(child = c)
}

/** Outlink extraction: all `<a href=...>` values of an HTML string in
  * document order (rules pinned in [[graft.kernel.LinkExtract]]) — the edge
  * harvest for host-graph centrality priors.
  */
case class ExtractLinks(child: Expression)
    extends UnaryExpression with SimpleCodegen {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      graft.kernel.LinkExtract.links(input.asInstanceOf[UTF8String].toString)
        .map(UTF8String.fromString).toArray[Any])
  override protected def withNewChildInternal(c: Expression): ExtractLinks = copy(child = c)
}

/** Blocklist membership of a canonical host: true when the host equals a
  * listed domain or is a SUBDOMAIN of one (label-boundary suffix match —
  * `notbad.example.com` does not match `bad.example.com`). The published
  * URL/domain blocklists every curation recipe gates on (UT1 and kin) are
  * external data — a parameter here, like the C4 bad-word list. The list
  * rides the plan to every task (the CMS/Bloom pattern): ~10⁶ entries cost
  * one hash probe per label per row — a narrow scan filter, no join, no
  * shuffle.
  */
case class HostInDomainList(child: Expression, domains: Seq[String])
    extends UnaryExpression with SimpleCodegen {
  @transient private lazy val set: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](math.max(domains.size * 2, 16))
    domains.foreach(d => s.add(d.toLowerCase(java.util.Locale.ROOT)))
    s
  }
  override def dataType: DataType = BooleanType
  override def nullSafeEval(input: Any): Any = {
    val host = input.asInstanceOf[UTF8String].toString.toLowerCase(java.util.Locale.ROOT)
    var blocked = set.contains(host)
    var i = 0
    while (!blocked && i < host.length) {
      if (host.charAt(i) == '.') blocked = set.contains(host.substring(i + 1))
      i += 1
    }
    blocked
  }
  override protected def withNewChildInternal(c: Expression): HostInDomainList = copy(child = c)
}

/** RFC 3986 §5 reference resolution (fragments dropped): absolutize a
  * page's relative hrefs against the page URL — rules pinned in
  * [[graft.kernel.UrlResolve]]. NULL when the base has no scheme.
  */
case class ResolveUrl(left: Expression, right: Expression)
    extends BinaryExpression with SimpleCodegen {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullSafeEval(base: Any, ref: Any): Any =
    graft.kernel.UrlResolve.resolve(
      base.asInstanceOf[UTF8String].toString,
      ref.asInstanceOf[UTF8String].toString)
      .map(UTF8String.fromString).orNull
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ResolveUrl =
    copy(left = l, right = r)
}

/** Anchor-text harvest: `(href, anchor text)` pairs in document order —
  * rules pinned in [[graft.kernel.LinkExtract.anchors]]. Aggregated per
  * target across a crawl, link text is the classic off-page description /
  * quality signal.
  */
case class ExtractAnchors(child: Expression)
    extends UnaryExpression with SimpleCodegen {
  override def dataType: DataType = ExtractAnchors.Schema
  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      graft.kernel.LinkExtract.anchors(input.asInstanceOf[UTF8String].toString)
        .map { case (href, text) =>
          InternalRow(UTF8String.fromString(href), UTF8String.fromString(text))
        }.toArray[Any])
  override protected def withNewChildInternal(c: Expression): ExtractAnchors = copy(child = c)
}

object ExtractAnchors {
  val Schema: DataType = ArrayType(StructType(Seq(
    StructField("href", StringType, nullable = false),
    StructField("text", StringType, nullable = false))), containsNull = false)
}

/** Head-metadata extraction: canonical link, robots noindex/nofollow,
  * `<html lang>`, title, description, charset — rules pinned in
  * [[graft.kernel.MetaExtract]]. One struct per page so a single narrow
  * scan feeds canonical-URL pre-dedup, compliance gates, and the language
  * prior together.
  */
case class PageMetaExpr(child: Expression)
    extends UnaryExpression with SimpleCodegen {
  override def dataType: DataType = PageMetaExpr.Schema
  override def nullSafeEval(input: Any): Any = {
    val m = MetaExtract.meta(input.asInstanceOf[UTF8String].toString)
    def s(o: Option[String]): Any = o.map(UTF8String.fromString).orNull
    InternalRow(s(m.title), s(m.canonical), s(m.lang), s(m.description),
      m.noindex, m.nofollow, s(m.charset))
  }
  override protected def withNewChildInternal(c: Expression): PageMetaExpr = copy(child = c)
}

object PageMetaExpr {
  val Schema: DataType = StructType(Seq(
    StructField("title", StringType, nullable = true),
    StructField("canonical", StringType, nullable = true),
    StructField("lang", StringType, nullable = true),
    StructField("description", StringType, nullable = true),
    StructField("noindex", BooleanType, nullable = false),
    StructField("nofollow", BooleanType, nullable = false),
    StructField("charset", StringType, nullable = true)))
}

/** robots.txt → the merged rule list governing `userAgent` (RFC 9309 group
  * selection; rules pinned in [[graft.kernel.Robots]]). Evaluated ONCE per
  * robots.txt row — per-host, not per-page — so the page-side gate
  * ([[RobotsAllowed]]) only runs the match loop, never the parse.
  */
case class RobotsRules(child: Expression, userAgent: String)
    extends UnaryExpression with SimpleCodegen {
  override def dataType: DataType = RobotsRules.Schema
  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      Robots.rulesFor(input.asInstanceOf[UTF8String].toString, userAgent)
        .map(r => InternalRow(r.allow, UTF8String.fromString(r.pattern)))
        .toArray[Any])
  override protected def withNewChildInternal(c: Expression): RobotsRules = copy(child = c)
}

object RobotsRules {
  val Schema: DataType = ArrayType(StructType(Seq(
    StructField("allow", BooleanType, nullable = false),
    StructField("pattern", StringType, nullable = false))), containsNull = false)
}

/** robots.txt → its `Sitemap:` records (file-wide, position-independent;
  * rules pinned in [[graft.kernel.Robots.sitemaps]]) — the crawl-discovery
  * seeds harvested next to the rule groups.
  */
case class RobotsSitemaps(child: Expression)
    extends UnaryExpression with SimpleCodegen {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      Robots.sitemaps(input.asInstanceOf[UTF8String].toString)
        .map(UTF8String.fromString).toArray[Any])
  override protected def withNewChildInternal(c: Expression): RobotsSitemaps = copy(child = c)
}

/** Longest-match robots verdict of a (rules, path+query) pair — `*` / `$`
  * wildcard semantics and tie rules pinned in [[graft.kernel.Robots]].
  * Matches directly over the array rows (no per-row rule materialization).
  */
case class RobotsAllowed(left: Expression, right: Expression)
    extends BinaryExpression with SimpleCodegen {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(rulesAny: Any, pathAny: Any): Any = {
    val arr = rulesAny.asInstanceOf[ArrayData]
    val raw = pathAny.asInstanceOf[UTF8String].toString
    val path =
      if (raw.isEmpty) "/"
      else if (raw.charAt(0) == '?') "/" + raw // query-only: implicit root
      else raw
    var bestLen = -1
    var bestAllow = true
    var i = 0
    while (i < arr.numElements()) {
      val row = arr.getStruct(i, 2)
      val pattern = row.getUTF8String(1).toString
      if (Robots.patternMatches(pattern, path)) {
        val allow = row.getBoolean(0)
        if (pattern.length > bestLen) { bestLen = pattern.length; bestAllow = allow }
        else if (pattern.length == bestLen && allow) bestAllow = true
      }
      i += 1
    }
    bestAllow
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): RobotsAllowed =
    copy(left = l, right = r)
}

/** Longest-common-substring length (suffix-automaton walk; verification-side
  * structural check per SURVEY.md §2.6).
  */
case class LongestCommonSubstring(left: Expression, right: Expression)
    extends BinaryExpression with SimpleCodegen {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(l: Any, r: Any): Any =
    Shingling.longestCommonSubstring(
      l.asInstanceOf[UTF8String].toString, r.asInstanceOf[UTF8String].toString)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): LongestCommonSubstring =
    copy(left = l, right = r)
}
