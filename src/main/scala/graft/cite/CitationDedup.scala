package graft.cite

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.ConnectedComponents
import graft.functions.{format_issn, format_journal, jaro, jaro_winkler, normalize_text, normalize_volume}

/** Citation-level deduplication: the reference's pairwise fuzzy-match
  * predicate (/root/reference/src/dedupe.rs:608-648) re-expressed as a
  * blocked Spark self-join.
  *
  * Plan shape: preprocess (narrow projection — normalized title/journal/
  * volume/ISSN computed ONCE per row, the reference's explicit hoist at
  * dedupe.rs:566-590) → equi-join on the year block key with the fuzzy
  * predicate as a residual filter (the reference's year blocking,
  * dedupe.rs:695-705; missing year → block 0) → connected components →
  * per-group representative selection (dedupe.rs:507-555).
  *
  * Grouping semantics: the reference uses greedy star grouping (order-
  * dependent, non-transitive, dedupe.rs:592-690); we resolve transitive
  * closure via [[ConnectedComponents]] — every reference-accepted pair stays
  * co-grouped (pair recall preserved; see SURVEY.md §2.4 for the delta).
  *
  * Scale note: within-block pair enumeration is quadratic — faithful to the
  * reference and fine at citation-corpus sizes (blocks = one publication
  * year). For web-scale near-dup use [[graft.dedup.DedupPipeline]] (LSH).
  */
object CitationDedup {

  final case class DedupOptions(
      groupByYear: Boolean = true,
      sourcePreferences: Seq[String] = Nil,
      saltFactor: Int = 4) {
    require(saltFactor >= 1, "saltFactor must be >= 1")
  }

  /** Match thresholds (/root/reference/src/dedupe.rs:141-142). */
  val DoiTitleSimilarityThreshold = 0.85
  val NoDoiTitleSimilarityThreshold = 0.93

  /** Add the derived match columns to a citation DataFrame that already
    * carries a unique `row_idx` (long, input order).
    */
  def preprocess(citations: DataFrame, opts: DedupOptions): DataFrame = {
    citations.withColumns(Map(
      "norm_title" -> coalesce(normalize_text(col("title")), lit("")),
      "norm_journal" -> format_journal(col("journal")),
      "norm_jabbr" -> format_journal(col("journal_abbr")),
      "norm_volume" -> coalesce(normalize_volume(col("volume")), lit("")),
      "norm_issns" -> filter(transform(col("issn"), i => format_issn(i)), _.isNotNull),
      "year" -> col("date.year"),
      "doi_ok" -> (col("doi").isNotNull && col("doi") =!= ""),
      "has_abstract" -> col("abstract_text").isNotNull,
      "block" -> (if (opts.groupByYear) coalesce(col("date.year"), lit(0)) else lit(0))))
  }

  /** The reference duplicate predicate over two preprocessed sides. */
  private def isDuplicate(a: String, b: String): Column = {
    def ac(c: String) = col(s"$a.$c")
    def bc(c: String) = col(s"$b.$c")
    val journalMatch =
      (ac("norm_journal") === bc("norm_journal")) ||
      (ac("norm_jabbr") === bc("norm_jabbr")) ||
      (ac("norm_journal") === bc("norm_jabbr")) ||
      (ac("norm_jabbr") === bc("norm_journal"))
    val issnsMatch = arrays_overlap(ac("norm_issns"), bc("norm_issns"))
    val volumesMatch = ac("norm_volume") =!= "" && bc("norm_volume") =!= "" &&
      ac("norm_volume") === bc("norm_volume")
    val pagesMatch = ac("pages").isNotNull && bc("pages").isNotNull &&
      ac("pages") === bc("pages")
    val yearsMatch = ac("year") <=> bc("year")
    val journalOrIssn = coalesce(journalMatch, lit(false)) || coalesce(issnsMatch, lit(false))
    val volOrPages = volumesMatch || pagesMatch

    val bothDois = ac("doi_ok") && bc("doi_ok")
    val doiEq = ac("doi") === bc("doi")
    val jaroSim = jaro(ac("norm_title"), bc("norm_title"))
    val jwSim = jaro_winkler(ac("norm_title"), bc("norm_title"))

    // Guard order: Catalyst `And` short-circuits left-to-right, so the cheap
    // field-equality guards run BEFORE the O(|title|²) similarity kernels —
    // most candidate pairs in a year block fail a field guard and never pay
    // for jaro/jaro_winkler. Same boolean value as the reference predicate
    // (conjunction is commutative), only the evaluation order changes.
    when(bothDois,
      (doiEq && journalOrIssn && jaroSim >= DoiTitleSimilarityThreshold) ||
      (doiEq && volOrPages && jaroSim >= lit(0.99)) ||
      (yearsMatch && volOrPages && journalOrIssn && jaroSim >= lit(0.99)))
    .otherwise(
      (volOrPages && journalOrIssn && jwSim >= NoDoiTitleSimilarityThreshold) ||
      (yearsMatch && volumesMatch && pagesMatch && jwSim >= lit(0.99)))
  }

  /** Duplicate pairs (a < b by row_idx): equi-join on the block key with the
    * fuzzy predicate as residual.
    *
    * Explicit salted repartition (the skew defense the webtext pipeline's
    * north rule names): a block is one publication year, and real corpora
    * concentrate — a hot year with m citations costs O(m²) pairwise work
    * that would otherwise land on ONE task. The left side gets a salt
    * `pmod(xxhash64(row_idx), S)`; the right side is replicated to every
    * salt value; the join key becomes (block, salt), splitting each hot
    * block's pair space S ways at the price of S× right-side shuffle
    * volume. Every pair (i, j) meets exactly once — at i's salt. S=1
    * degenerates to the unsalted join.
    */
  def duplicatePairs(pre: DataFrame, saltFactor: Int = 4): DataFrame = {
    val cols = Seq("row_idx", "block", "norm_title", "norm_journal",
      "norm_jabbr", "norm_volume", "norm_issns", "pages", "year", "doi",
      "doi_ok").map(col)
    val base = pre.select(cols: _*)
    val left = base.withColumn("salt", pmod(xxhash64(col("row_idx")), lit(saltFactor)))
    val right = base.withColumn("salt",
      explode(array((0 until saltFactor).map(s => lit(s.toLong)): _*)))
    left.as("a").join(right.as("b"),
        col("a.block") === col("b.block") && col("a.salt") === col("b.salt") &&
        col("a.row_idx") < col("b.row_idx"))
      .filter(isDuplicate("a", "b"))
      .select(col("a.row_idx").as("a"), col("b.row_idx").as("b"))
  }

  /** Per-row group assignment + representative flag.
    *
    * Representative order (/root/reference/src/dedupe.rs:507-555):
    *  1. first matching source preference (rank in the preference list);
    *  2. else: has abstract; among several abstracts prefer non-empty DOI;
    *  3. else: first citation by input order.
    */
  def assignGroups(pre: DataFrame, opts: DedupOptions): DataFrame = {
    val pairs = duplicatePairs(pre, opts.saltFactor)
    val comps = ConnectedComponents.run(pairs)
    val assigned = pre
      .join(comps.withColumnRenamed("id", "row_idx"), Seq("row_idx"), "left")
      .withColumn("group_id", coalesce(col("component"), col("row_idx")))

    val prefRank: Column =
      if (opts.sourcePreferences.isEmpty) lit(Int.MaxValue)
      else opts.sourcePreferences.zipWithIndex
        .foldRight(lit(Int.MaxValue): Column) { case ((src, rank), acc) =>
          when(col("source") === src, lit(rank)).otherwise(acc)
        }

    // ordering keys mirroring the reference's selection chain
    val hasAbstract = col("has_abstract")
    val absDoi = hasAbstract && col("doi_ok")
    val w = Window.partitionBy("group_id").orderBy(
      when(prefRank < Int.MaxValue, lit(0)).otherwise(lit(1)).asc,
      prefRank.asc,
      when(hasAbstract, lit(0)).otherwise(lit(1)).asc,
      when(absDoi, lit(0)).otherwise(lit(1)).asc,
      col("row_idx").asc)
    assigned
      .withColumn("rn", row_number().over(w))
      .withColumn("is_unique", col("rn") === 1)
      .drop("rn", "component")
  }

  /** Typed end-to-end API parity with the reference's
    * `find_duplicates(_with_sources)`: assigns `row_idx` by input order,
    * runs the pipeline, and reassembles [[DuplicateGroup]]s (groups ordered
    * by first member).
    *
    * Small N only: input and result both live on the driver (the group
    * assignments are collected). For a large corpus, run [[preprocess]] +
    * [[assignGroups]] on a DataFrame and keep the result distributed.
    */
  def findDuplicates(spark: SparkSession, citations: Seq[Citation],
      opts: DedupOptions = DedupOptions(),
      sources: Seq[String] = Nil): Seq[DuplicateGroup] = {
    import spark.implicits._
    require(sources.isEmpty || sources.length == citations.length,
      "sources must be empty or one per citation")
    val withIdx = citations.zipWithIndex.map { case (c, i) =>
      (i.toLong, if (sources.isEmpty) "" else sources(i), c)
    }
    val df = withIdx.toDF("row_idx", "source", "citation")
      .select(col("row_idx"), col("source"), col("citation.*"))
    val result = assignGroups(preprocess(df, opts), opts)
      .select(col("row_idx"), col("group_id"), col("is_unique"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byGroup = result.groupBy(_._2).toSeq
      .sortBy { case (_, ms) => ms.map(_._1).min }
    byGroup.map { case (_, members) =>
      val sorted = members.sortBy(_._1)
      val unique = sorted.find(_._3).getOrElse(sorted.head)
      DuplicateGroup(
        unique = citations(unique._1.toInt),
        duplicates = sorted.filter(_._1 != unique._1).map(m => citations(m._1.toInt)).toSeq)
    }
  }
}
