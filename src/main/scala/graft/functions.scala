package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftadapter.ColumnAdapter

import graft.expr._
import graft.kernel.Shingling

/** Public Column API over the graft expression kernel (SURVEY.md §2.2/§2.6).
  *
  * Usage mirrors `org.apache.spark.sql.functions`:
  * {{{
  *   import graft.functions._
  *   df.select(minhash(word_shingles($"text", 5), 128) as "sig")
  * }}}
  * `registerAll(spark)` additionally exposes each as a SQL function
  * (`SELECT graft_normalize_text(title) ...`).
  */
object functions {

  private def col(e: Expression): Column = ColumnAdapter.column(e)
  private def ex(c: Column): Expression = ColumnAdapter.expression(c)

  // ---- normalization kernel (reference parity) ----
  def normalize_text(c: Column): Column = col(NormalizeText(ex(c)))
  def normalize_tokens(c: Column): Column = col(NormalizeTokens(ex(c)))
  def convert_unicode(c: Column): Column = col(ConvertUnicode(ex(c)))
  def format_journal(c: Column): Column = col(FormatJournal(ex(c)))
  def normalize_volume(c: Column): Column = col(NormalizeVolume(ex(c)))
  def format_issn(c: Column): Column = col(FormatIssn(ex(c)))
  def format_pages(c: Column): Column = col(FormatPages(ex(c)))
  def format_doi(c: Column): Column = col(FormatDoi(ex(c)))
  def split_issns(c: Column): Column = col(SplitIssns(ex(c)))
  def extract_html_text(c: Column): Column = col(ExtractHtmlText(ex(c)))
  def percent_normalize(c: Column): Column = col(PercentNormalize(ex(c)))

  /** jusText-core boilerplate segmentation of an HTML string column:
    * `array<struct<text, n_chars, anchor_chars, is_good>>` — see
    * [[graft.kernel.Boilerplate]] for the rules and the threshold defaults.
    */
  def boilerplate_blocks(c: Column,
                         minChars: Int = graft.kernel.Boilerplate.DefaultMinChars,
                         maxLinkDensity: Double = graft.kernel.Boilerplate.DefaultMaxLinkDensity): Column =
    col(BoilerplateBlocks(ex(c), minChars, maxLinkDensity))

  /** Outlinks of an HTML string column: all `<a href>` values in document
    * order — see [[graft.kernel.LinkExtract]] for the pinned rules.
    */
  def extract_links(c: Column): Column = col(ExtractLinks(ex(c)))

  /** Anchor-text pairs of an HTML string column:
    * `array<struct<href, text>>` in document order — see
    * [[graft.kernel.LinkExtract.anchors]] for the pinned rules.
    */
  def extract_anchors(c: Column): Column = col(ExtractAnchors(ex(c)))

  /** RFC 3986 resolution of a reference against a base URL (fragments
    * dropped); NULL when the base has no scheme — see
    * [[graft.kernel.UrlResolve]].
    */
  def resolve_url(base: Column, ref: Column): Column =
    col(ResolveUrl(ex(base), ex(ref)))

  /** True when a host column equals or is a subdomain of any listed domain
    * (label-boundary match) — see [[graft.expr.HostInDomainList]]. Pair
    * with [[graft.text.UrlOps.hostOf]] for the URL form.
    */
  def host_blocked(host: Column, domains: Seq[String]): Column =
    col(HostInDomainList(ex(host), domains))

  /** Head metadata of an HTML string column:
    * `struct<title, canonical, lang, description, noindex, nofollow,
    * charset>` — see [[graft.kernel.MetaExtract]] for the pinned rules.
    */
  def page_meta(c: Column): Column = col(PageMetaExpr(ex(c)))

  /** robots.txt body → merged rule list for `userAgent` (RFC 9309 group
    * selection): `array<struct<allow, pattern>>` — evaluate once per HOST,
    * then gate pages with [[robots_allowed]]. Rules pinned in
    * [[graft.kernel.Robots]].
    */
  def robots_rules(c: Column, userAgent: String): Column =
    col(RobotsRules(ex(c), userAgent))

  /** Longest-match robots verdict for a (rules, path+query) pair. */
  def robots_allowed(rules: Column, pathQuery: Column): Column =
    col(RobotsAllowed(ex(rules), ex(pathQuery)))

  /** `Sitemap:` records of a robots.txt body (crawl-discovery seeds). */
  def robots_sitemaps(c: Column): Column = col(RobotsSitemaps(ex(c)))

  /** Main content of an HTML string column: good blocks joined with `\n`. */
  def main_content(c: Column,
                   minChars: Int = graft.kernel.Boilerplate.DefaultMinChars,
                   maxLinkDensity: Double = graft.kernel.Boilerplate.DefaultMaxLinkDensity): Column =
    col(MainContent(ex(c), minChars, maxLinkDensity))

  // ---- string similarity ----
  def jaro(l: Column, r: Column): Column = col(JaroSim(ex(l), ex(r)))
  def jaro_winkler(l: Column, r: Column): Column = col(JaroWinklerSim(ex(l), ex(r)))
  def lcs_length(l: Column, r: Column): Column = col(LongestCommonSubstring(ex(l), ex(r)))

  // ---- signatures ----
  def word_shingles(c: Column, k: Int, seed: Long = Shingling.DefaultSeed): Column =
    col(WordShingleHashes(ex(c), k, seed))
  def char_shingles(c: Column, k: Int, seed: Long = Shingling.DefaultSeed): Column =
    col(CharShingleHashes(ex(c), k, seed))
  def minhash(c: Column, numHashes: Int, seed: Long = Shingling.DefaultSeed): Column =
    col(MinHashSignature(ex(c), numHashes, seed))
  def simhash64(c: Column): Column = col(SimHash64(ex(c)))

  /** Narrow membership probe of a long key against a serialized
    * [[org.apache.spark.util.sketch.BloomFilter]] — see
    * [[graft.expr.BloomMightContainLong]]. False positives possible
    * (callers keep an exact confirm downstream), false negatives never.
    */
  def bloom_might_contain_long(c: Column, bloomBytes: Array[Byte]): Column =
    col(BloomMightContainLong(ex(c), bloomBytes))
  /** Count-min-sketch frequency estimate of a 64-bit key; narrow codegen'd
    * probe of [[graft.expr.CmsEstimateLong]]. Never underestimates —
    * callers threshold on it and count survivors exactly.
    */
  def cms_estimate_long(c: Column, cmsBytes: Array[Byte]): Column =
    col(CmsEstimateLong(ex(c), cmsBytes))
  def band_keys(c: Column, bands: Int, rows: Int, seed: Long = Shingling.DefaultSeed): Column =
    col(BandKeys(ex(c), bands, rows, seed))
  def minhash_bands(c: Column, bands: Int, rows: Int, seed: Long = Shingling.DefaultSeed): Column =
    col(MinHashBands(ex(c), bands, rows, seed))
  def minhash_bands_sketch(c: Column, bands: Int, rows: Int, b: Int,
      seed: Long = Shingling.DefaultSeed): Column =
    col(MinHashBandsSketch(ex(c), bands, rows, b, seed))
  def truncate_hashes32(c: Column): Column = col(TruncateHashes32(ex(c)))
  def jaccard_sorted(l: Column, r: Column): Column = col(JaccardSorted(ex(l), ex(r)))
  def minhash_jaccard(l: Column, r: Column): Column = col(MinHashJaccard(ex(l), ex(r)))
  def bbit_minhash(c: Column, numHashes: Int, b: Int,
                   seed: Long = Shingling.DefaultSeed): Column =
    col(BBitMinHash(ex(c), numHashes, b, seed))
  def bbit_jaccard(l: Column, r: Column, numHashes: Int, b: Int): Column =
    col(BBitJaccard(ex(l), ex(r), numHashes, b))
  def hamming64(l: Column, r: Column): Column = col(HammingDist64(ex(l), ex(r)))

  /** xxhash64 with an explicit seed (the stock `functions.xxhash64` pins
    * seed 42). Two different-seed hashes of the same natural key give an
    * effectively independent 128-bit id at 10¹²-doc scale, where 64-bit
    * birthday math yields ~27k colliding pairs.
    */
  def xxhash64_seeded(seed: Long, cols: Column*): Column =
    col(org.apache.spark.sql.catalyst.expressions.XxHash64(cols.map(ex), seed))

  // ---- embedding similarity + fingerprinting ----
  def cosine_sim(l: Column, r: Column): Column = col(CosineSim(ex(l), ex(r)))
  def dot_product(l: Column, r: Column): Column = col(DotProduct(ex(l), ex(r)))
  def vec_norm(c: Column): Column = col(VecNorm(ex(c)))
  def rhp_signature(c: Column, bits: Int, seed: Long = Shingling.DefaultSeed): Column =
    col(RhpSignature(ex(c), bits, seed))
  def rhp_projections(c: Column, bits: Int, seed: Long = Shingling.DefaultSeed): Column =
    col(RhpProjections(ex(c), bits, seed))
  def fingerprint_set(c: Column, k: Int = 8, w: Int = 4): Column =
    col(FingerprintSet(ex(c), k, w))
  /** Bounded grouped top-k: the k smallest values of a struct column
    * (sort-key fields first, payload after), as a sorted array — the
    * skew-safe replacement for `row_number() OVER (...) <= k`; per-group
    * state is capped at k rows on the map side too. See
    * [[graft.expr.TopKAgg]].
    */
  def top_k(sortedStruct: Column, k: Int): Column =
    col(TopKAgg(ex(sortedStruct), k).toAggregateExpression())

  def fingerprint64(c: Column, k: Int = 8, w: Int = 4): Column =
    col(Fingerprint64(ex(c), k, w))

  /** DEFLATE-compressed byte length of a string (level 6, raw deflate) —
    * see [[graft.expr.DeflateLen]].
    */
  def deflate_len(c: Column): Column = col(DeflateLen(ex(c)))

  /** Largest numerator [[exact_int_div]] is exact for (exclusive): a long
    * below 2^53 converts to double without rounding.
    */
  val ExactIntDivMax: Long = 1L << 53

  /** Exact integer division of a NONNEGATIVE long column by a positive
    * long literal. `Column./` is DOUBLE division, so the numerator is
    * reduced to an exact multiple first — `(n − n mod d) / d` — and the
    * double quotient is then the exact integer. PRECONDITION (the caller
    * must guarantee or guard it): `0 ≤ n < 2^53` ([[ExactIntDivMax]]);
    * past that the long→double cast itself rounds and the quotient can
    * land one off. Shared by [[graft.io.ZOrder.bucket]] (which guards the
    * bound from its range parameters) and [[graft.text.Packing]] (whose
    * numerators are token cumsums, < 2^53 by construction).
    */
  def exact_int_div(n: Column, d: Long): Column = {
    import org.apache.spark.sql.functions.{lit, pmod}
    require(d > 0, s"exact_int_div needs a positive divisor, got $d")
    ((n - pmod(n, lit(d))) / lit(d)).cast("long")
  }

  // ---- BPE subword tokenization (kernel/Bpe.scala) ----
  def char_symbols(c: Column): Column = col(CharSymbols(ex(c)))
  /** Subword-tokenize with a learned merge list — see [[graft.expr.BpeEncode]]. */
  def bpe_encode(c: Column, merges: Seq[(String, String)]): Column =
    col(BpeEncode(ex(c), merges))

  /** Compression-ratio quality signal: deflated bytes / raw UTF-8 bytes,
    * rounded to 6 places; NULL-safe via the expression, 0-length text →
    * NULL (no meaningful ratio). Low ⇒ repetitive boilerplate, ~1 ⇒
    * incompressible noise.
    */
  def compression_ratio(c: Column): Column = {
    import org.apache.spark.sql.functions.{octet_length, round, when, lit}
    val raw = octet_length(c)
    when(raw === 0, lit(null).cast("double"))
      .otherwise(round(deflate_len(c).cast("double") / raw.cast("double"), 6))
  }

  /** Register every kernel function for SQL use (graft_* names). */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def one(name: String, builder: Seq[Expression] => Expression): Unit =
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    def intLit(e: Expression): Int =
      e.eval(null).asInstanceOf[Number].intValue()
    def longLit(e: Expression): Long =
      e.eval(null).asInstanceOf[Number].longValue()

    one("graft_normalize_text", es => NormalizeText(es.head))
    one("graft_normalize_tokens", es => NormalizeTokens(es.head))
    one("graft_convert_unicode", es => ConvertUnicode(es.head))
    one("graft_format_journal", es => FormatJournal(es.head))
    one("graft_normalize_volume", es => NormalizeVolume(es.head))
    one("graft_format_issn", es => FormatIssn(es.head))
    one("graft_format_pages", es => FormatPages(es.head))
    one("graft_format_doi", es => FormatDoi(es.head))
    one("graft_split_issns", es => SplitIssns(es.head))
    def doubleLit(e: Expression): Double =
      e.eval(null).asInstanceOf[Number].doubleValue()
    one("graft_extract_html_text", es => ExtractHtmlText(es.head))
    one("graft_percent_normalize", es => PercentNormalize(es.head))
    one("graft_boilerplate_blocks", es =>
      BoilerplateBlocks(es.head,
        if (es.length > 1) intLit(es(1)) else graft.kernel.Boilerplate.DefaultMinChars,
        if (es.length > 2) doubleLit(es(2)) else graft.kernel.Boilerplate.DefaultMaxLinkDensity))
    one("graft_main_content", es =>
      MainContent(es.head,
        if (es.length > 1) intLit(es(1)) else graft.kernel.Boilerplate.DefaultMinChars,
        if (es.length > 2) doubleLit(es(2)) else graft.kernel.Boilerplate.DefaultMaxLinkDensity))
    one("graft_extract_links", es => ExtractLinks(es.head))
    one("graft_page_meta", es => PageMetaExpr(es.head))
    one("graft_extract_anchors", es => ExtractAnchors(es.head))
    one("graft_resolve_url", es => ResolveUrl(es(0), es(1)))
    def stringLit(e: Expression): String =
      e.eval(null).asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    one("graft_robots_rules", es => RobotsRules(es.head, stringLit(es(1))))
    one("graft_robots_allowed", es => RobotsAllowed(es(0), es(1)))
    one("graft_robots_sitemaps", es => RobotsSitemaps(es.head))
    one("graft_jaro", es => JaroSim(es(0), es(1)))
    one("graft_jaro_winkler", es => JaroWinklerSim(es(0), es(1)))
    one("graft_lcs_length", es => LongestCommonSubstring(es(0), es(1)))
    one("graft_word_shingles", es =>
      WordShingleHashes(es(0), intLit(es(1)),
        if (es.length > 2) longLit(es(2)) else Shingling.DefaultSeed))
    one("graft_char_shingles", es =>
      CharShingleHashes(es(0), intLit(es(1)),
        if (es.length > 2) longLit(es(2)) else Shingling.DefaultSeed))
    one("graft_minhash", es =>
      MinHashSignature(es(0), intLit(es(1)),
        if (es.length > 2) longLit(es(2)) else Shingling.DefaultSeed))
    one("graft_simhash64", es => SimHash64(es.head))
    one("graft_band_keys", es =>
      BandKeys(es(0), intLit(es(1)), intLit(es(2)),
        if (es.length > 3) longLit(es(3)) else Shingling.DefaultSeed))
    one("graft_jaccard_sorted", es => JaccardSorted(es(0), es(1)))
    one("graft_minhash_jaccard", es => MinHashJaccard(es(0), es(1)))
    one("graft_hamming64", es => HammingDist64(es(0), es(1)))
    one("graft_cosine_sim", es => CosineSim(es(0), es(1)))
    one("graft_dot_product", es => DotProduct(es(0), es(1)))
    one("graft_vec_norm", es => VecNorm(es.head))
    one("graft_rhp_signature", es =>
      RhpSignature(es(0), intLit(es(1)),
        if (es.length > 2) longLit(es(2)) else Shingling.DefaultSeed))
    one("graft_fingerprint64", es =>
      Fingerprint64(es(0),
        if (es.length > 1) intLit(es(1)) else 8,
        if (es.length > 2) intLit(es(2)) else 4))
    one("graft_deflate_len", es => DeflateLen(es.head))
  }
}
