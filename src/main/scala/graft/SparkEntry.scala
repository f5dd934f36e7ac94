package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.cite.{CitationDedup, CsvParser, EndNoteXmlParser, FormatDetect, PubMedParser, RisParser}
import graft.dedup.{ConnectedComponents, DedupProbe, SketchVerify}
import graft.functions._
import graft.io.{CdxSource, WarcSource, ZOrder}
import graft.multimodal.{ContainerMeta, Multimodal}
import graft.graph.{AnchorCorpus, HostRank}
import graft.operators.{AsOfJoin, RangeJoin}
import graft.text.{BpeTrain, C4Gate, Chunking, Curation, Dsir, EncodingFix, GopherGate, HeavyHitters, LineDedup, LmScore, Mixing, Packing, Passages, Pii, QualityModel, Repetition, RobotsGate, TextOps, UrlOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each key in [[queries]] is one operator/capability from SURVEY.md §2 (or a
  * graft-added training-data op), expressed over the driver-provided parquet
  * tables in `sfDir`. [[oracleSql]] carries a DuckDB-runnable equivalent for
  * every SQL-expressible query; hash-based ops (MinHash/SimHash/LSH,
  * fingerprints) are present in `queries` only (driver rows-only check) and
  * are pinned by their own ScalaTest parity suites instead.
  *
  * Column names and types are aligned on both sides (the driver sorts
  * columns by name and hashes values); floating-point outputs are rounded
  * on both sides.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Deterministic CDXJ fixture: one capture per document, rendered to
    * real index lines by [[graft.io.CdxSource.formatLine]]. URLs plant the
    * SURT axes (www + sorted query params), digests repeat mod 97 so
    * [[graft.io.CdxSource.digestDedup]] sees multi-capture families, and
    * (filename, offset, length) give the fetch planner 8 containers of
    * increasing offsets. Every field is a closed form of doc_id, so the
    * DuckDB oracles replay the whole round trip.
    */
  private def cdxLines(s: SparkSession, dir: String): DataFrame = {
    val epoch = java.time.Instant.parse("2026-08-01T00:00:00Z").getEpochSecond
    val d = col("doc_id")
    val url = concat(
      lit("https://www.example-"), (d % 7).cast("string"),
      lit(".com/docs/"), d.cast("string"),
      lit("?b="), (d % 5).cast("string"), lit("&a="), (d % 3).cast("string"))
    t(s, dir, "documents").select(
      CdxSource.formatLine(
        CdxSource.surtKey(url),
        timestamp_seconds(lit(epoch) + d % 97),
        url,
        lit("text/html"), lit("200"),
        concat(lit("sha1:"), (d % 97).cast("string")),
        col("n_chars") + 200L,
        d * 1000L,
        concat(lit("crawl/seg-"), (d % 8).cast("string"), lit(".warc.gz"))
      ).as("line"))
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** Per-doc token salting for the closed-form dedup oracles: every token
    * of `text` is prefixed with "d<doc_id>x" — an injective (doc_id, token)
    * encoding (doc_id is all digits, 'x' terminates it) that survives
    * [[graft.functions.normalize_tokens]] (lowercase alphanumerics) — plus
    * three always-present pad tokens so every doc yields ≥3 tokens and a
    * non-empty 3-shingle set. Result: shingle sets are DISJOINT across
    * distinct docs (cross-doc Jaccard = 0, cross-doc SimHash independent)
    * while two rows built from the same (doc_id, text) share them exactly.
    */
  private def saltedTokens: Column = concat_ws(" ",
    concat(lit("d"), col("doc_id"), lit("xpad0")),
    concat(lit("d"), col("doc_id"), lit("xpad1")),
    concat(lit("d"), col("doc_id"), lit("xpad2")),
    transform(split(col("text"), "\\s+"),
      tok => concat(lit("d"), col("doc_id"), lit("x"), tok)))

  /** 12-word constant passage planted by q_passage_spans (> the 8-token
    * window, so plant-only spans are [0,11] / [len,len+11]) and 8-word eval
    * marker planted by q_decontaminate — tokens outside the corpus
    * vocabulary, shared verbatim between the Spark queries and the DuckDB
    * oracles.
    */
  private val PassagePlant =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
  private val EvalMarker = "nu xi omicron pi rho sigma tau upsilon"

  /** Corrupted phrase planted by q_fix_mojibake: the sloppy-cp1252 mojibake
    * image of a phrase whose non-ASCII characters are all in
    * [[EncodingFix.Table]], so the chain repairs it back exactly.
    */
  private val MojibakeCleanPhrase =
    " the café’s résumé — “naïve” costs €9… «Olé» ±5°"
  private val MojibakePlant = EncodingFix.mojibake(MojibakeCleanPhrase)

  /** Shared fixture for the two decontamination queries: eval corpus = docs
    * ≡0 (mod 37) with the 8-word eval marker appended; training corpus = the
    * rest, marker planted on docs ≡3 (mod 11) — contaminated by
    * construction, plus whatever natural 8-gram overlap exists (the oracle
    * replays the identical plant).
    */
  private def decontamInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val marker = EvalMarker.split(" ").toSeq
    val docs = t(s, dir, "documents")
    val words0 = split(lower(col("text")), " ")
    val evalDocs = docs
      .filter(col("doc_id") % 37 === 0)
      .select(col("doc_id"), concat(words0, array(marker.map(lit): _*)).as("words"))
    val train = docs
      .filter(col("doc_id") % 37 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 11 === 3, concat(words0, array(marker.map(lit): _*)))
          .otherwise(words0).as("words"))
    (train, evalDocs)
  }

  /** Constant boilerplate line planted by q_line_dedup (out-of-vocabulary
    * tokens, shared verbatim with the DuckDB oracle).
    */
  private val LineBoiler = "accept omega cookies psi continue phi"

  /** q_bm25's query — corpus-vocabulary terms with distinct document
    * frequencies (shared verbatim with the DuckDB oracle).
    */
  private val Bm25QueryTerms = Seq("spark", "merge", "vector", "window")

  /** q_script_profile's planted suffixes by doc_id residue (mod 4; residue
    * 0 plants nothing): Cyrillic+digit, CJK, Arabic+Hebrew+Hangul — shared
    * verbatim with the DuckDB oracle. Dominants of the plants alone:
    * cyrillic / cjk / arabic (5 Arabic vs 4 Hebrew vs 3 Hangul codepoints).
    */
  private val ScriptPlants = Seq(
    " привет мир 7", " 你好世界", " مرحبا שלום 한국어")

  /** q_curation's planted lines (shared verbatim with the DuckDB oracle):
    * a 5-line, 61-word shared block that passes the C4 ladder and carries
    * Gopher's word floor + required stopwords (identical across docs, so
    * line dedup strips it everywhere but the keeper), a PII line, and a
    * bad-word line that condemns its page via the parameterized C4 list.
    */
  private val CurationBlock: Seq[String] = Seq(
    "the quick shared block begins here with many good words to read.",
    "it continues with the second shared sentence and even more words of note!",
    "that third shared sentence keeps the word total moving higher with ease?",
    "have faith that the fourth sentence adds plenty of extra words here.",
    "be sure of the fifth sentence closing the block with final words.")
  private val CurationPiiLine =
    "reach our team at ops@example.com for all support matters today."
  private val CurationBadLine =
    "this line quietly mentions badwordy among its many fine words."
  private val CurationBadWords = Seq("badwordy")

  /** q_cjk_segment's planted mixed-script docs (shared verbatim with the
    * DuckDB oracle). Constraints: no single quotes (embedded in a VALUES
    * literal), single-spaced, and all 3-token windows distinct within each
    * doc under the CJK-aware segmentation — so the oracle's closed-form
    * shingle count greatest(1, t-2) is exact. Covers: pure Latin, pure Han,
    * Han+Latin mix, hiragana/katakana, a shorter-than-k doc, supplementary-
    * plane (ext B) ideographs, and Latin with 2-/3-byte non-CJK codepoints
    * (accents, the euro sign) that must stay inside their word tokens.
    */
  private val CjkSegmentDocs: Seq[String] = Seq(
    "the quick brown fox jumps over the lazy dog",
    "深度学习模型训练数据管线去重系统",
    "深度学习 spark 管道 data 管线",
    "こんにちは世界のウェブ文書",
    "短文",
    "mixed 漢字 and かな text",
    "𠀀𠀁𠀂 ext b chars",
    "café naïve résumé €100 latin stays whole")

  // mixing fixtures shared by the q_mix_* queries and their oracles
  private val MixRates = Map("src0" -> 0.9, "src1" -> 0.25, "src5" -> 0.0)
  private val MixWeights = Map("src0" -> 2.5, "src1" -> 0.5)
  private val MixBudget = 12000L
  private val MixSplits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  private val ChunkSize = 32
  private val ChunkStride = 24
  private val LmVocabSize = 300

  /** Domain phrase planted by the q_dsir_* queries (out-of-vocabulary
    * tokens, shared verbatim with the DuckDB oracles): pool docs ≡0 (mod 5)
    * carry it; the DSIR target sample is the ≡0 (mod 15) subset, so the
    * fitted model upweights phrase-bearing docs and the resample should
    * select them preferentially.
    */
  private val DsirPlant = "quantum ledger brane flux quark torus"

  /** Shared fixture for the two DSIR queries: (pool, target). */
  private def dsirInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val pool = t(s, dir, "documents").select(
      col("doc_id"),
      when(col("doc_id") % 5 === 0, concat(col("text"), lit(" " + DsirPlant)))
        .otherwise(col("text")).as("text"))
    (pool, pool.filter(col("doc_id") % 15 === 0))
  }

  /** Lazy DSIR-weights plan + the model table it pins: the queries entry
    * materializes the plan (localCheckpoint) and releases the model; this
    * pre-checkpoint form is what PlanAuditSpec inspects (a checkpointed frame
    * degenerates to `Scan ExistingRDD`, hiding the join shape).
    */
  private[graft] def dsirWeightsPlan(
      s: SparkSession, dir: String): (DataFrame, Dsir.DsirModel) = {
    val (pool, target) = dsirInputs(s, dir)
    val model = Dsir.fit(pool, target, "doc_id", "text")
    val out = Dsir.importanceWeights(pool, model, "doc_id", "text")
      .select(col("doc_id"), col("n_feats"),
        round(col("dsir_weight"), 4).as("dsir_weight"))
    (out, model)
  }

  /** Lazy DSIR-resample plan + model, same contract as [[dsirWeightsPlan]]. */
  private[graft] def dsirResamplePlan(
      s: SparkSession, dir: String): (DataFrame, Dsir.DsirModel) = {
    val (pool, target) = dsirInputs(s, dir)
    val model = Dsir.fit(pool, target, "doc_id", "text")
    val w = Dsir.importanceWeights(pool, model, "doc_id", "text")
    val out = Dsir.resample(w, "doc_id", k = 100, seed = 7, temperature = 1.0)
      .select(col("doc_id"), col("n_feats"),
        round(col("gumbel_key"), 4).as("gumbel_key"))
    (out, model)
  }

  // embeddings corpus/queries used by the ANN entries
  private def annInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val corpus = t(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = corpus.filter(col("id") < 10)
      .select(col("id").as("query_id"), col("vec").as("qvec"))
    (corpus, queries)
  }

  // twin-doubled ANN inputs for the closed-form LSH/IVF oracles: every
  // vector gets an identical twin at id + 10⁶; queries are the first 50
  // originals (their own corpus row is excluded by excludeSelf, the twin
  // is the guaranteed exact-cosine-1 top-1)
  private def annTwinInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val base = t(s, dir, "embeddings")
      .select(col("vec_id").cast("long").as("id"), col("embedding").as("vec"))
    val corpus = base.union(
      base.select((col("id") + 1000000L).as("id"), col("vec")))
    val queries = base.filter(col("id") < 50)
      .select(col("id").as("query_id"), col("vec").as("qvec"))
    (corpus, queries)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------- relational core (scan/filter/agg/join/window/sort/set/json) ----------

    // TPC-H Q1-style scan+aggregate: partial (map-side) agg + single shuffle.
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum("l_quantity").as("sum_qty"),
          sum("l_extendedprice").as("sum_base_price"),
          sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          avg("l_quantity").as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // TPC-H Q3-style 3-way join; the small filtered customer side is
    // explicitly broadcast (no shuffle for the first join).
    "q3_join" -> ((s, dir) => {
      val customer = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val orders = t(s, dir, "orders")
      val lineitem = t(s, dir, "lineitem")
      broadcast(customer.select("c_custkey"))
        .join(orders, col("c_custkey") === col("o_custkey"))
        .join(lineitem, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    // Window functions over the events stream: ranking + running aggregate +
    // lag, one shuffle on user_id.
    "q_window_events" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      t(s, dir, "events").select(
        col("event_id"), col("user_id"), col("event_type"),
        row_number().over(w).cast("long").as("rn"),
        round(sum(col("value")).over(w.rowsBetween(Window.unboundedPreceding, 0)), 6)
          .as("running_value"),
        lag(col("event_type"), 1).over(w).as("prev_type"))
    }),

    // Top-k with deterministic tie-break: global sort + limit (Spark runs
    // this as TakeOrderedAndProject — no full sort at scale).
    "q_topk_orders" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)
    }),

    // Set operators: INTERSECT / UNION (distinct) / EXCEPT.
    "q_set_ops" -> ((s, dir) => {
      val customer = t(s, dir, "customer")
      val orders = t(s, dir, "orders")
      val a = customer.filter(col("c_nationkey") < 10).select(col("c_custkey").as("custkey"))
      val b = orders.select(col("o_custkey").as("custkey"))
      val c = customer.filter(col("c_nationkey") === 20).select(col("c_custkey").as("custkey"))
      val d = orders.filter(col("o_totalprice") > 100000).select(col("o_custkey").as("custkey"))
      a.intersect(b).union(c).distinct().except(d)
    }),

    // JSON extraction from the events props column + aggregate.
    "q_json_events" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          count(lit(1)).as("n"))
    }),

    // Distinct aggregate (exact; the approx_count_distinct variant is
    // bench-only since DuckDB's sketch differs).
    "q_agg_distinct" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))
    }),

    // ROLLUP hierarchy aggregate (Catalyst Expand — one shuffle).
    "q_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
    }),

    // FULL OUTER join with null-side aggregation: customers without orders
    // and order-groups without a (filtered) customer row both survive.
    // Money is summed as floor(price*100) longs — bit-identical across
    // engines where double sums are not.
    "q_outer_join" -> ((s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_nationkey") < 5)
        .select(col("c_custkey"))
      val ords = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
      cust.join(ords, cust("c_custkey") === ords("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_custkey").isNotNull.as("has_cust"),
          col("o_custkey").isNotNull.as("has_orders"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("cents"), lit(0L)).as("sum_cents"))
    }),

    // CUBE grouping sets (all four grouping combinations in one Expand).
    "q_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
    }),

    // Left-semi + left-anti joins (EXISTS / NOT EXISTS duals).
    "q_semi_anti" -> ((s, dir) => {
      val customer = t(s, dir, "customer").select(col("c_custkey").as("custkey"))
      val orders = t(s, dir, "orders").select(col("o_custkey").as("custkey"))
      customer.join(orders, Seq("custkey"), "left_semi")
        .withColumn("status", lit("has_orders"))
        .union(customer.join(orders, Seq("custkey"), "left_anti")
          .withColumn("status", lit("no_orders")))
    }),

    // ---------- normalization kernel parity (SURVEY.md §2.2) ----------

    // Reference title-normalization chain over the documents table.
    "q_normalize_text" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), normalize_text(col("text")).as("norm_text"))
    }),

    // format_doi (utils.rs:91-113): constructed noisy DOIs → canonical form.
    "q_format_doi" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        format_doi(concat(lit(" HTTPS://DOI.ORG/10."), col("doc_id").cast("string"),
          lit("/Test [doi]"))).as("doi"))
    }),

    // format_page_numbers (utils.rs:16-84): elided end pages expanded.
    "q_format_pages" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        format_pages(concat((lit(1000) + col("doc_id") % 9000).cast("string"), lit("-"),
          (lit(10) + col("doc_id") % 90).cast("string"))).as("pages"))
    }),

    // normalize_volume (dedupe.rs:742-759): first digit run.
    "q_normalize_volume" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        normalize_volume(concat(lit("Part A. "), (col("doc_id") % 500).cast("string"),
          lit("B"))).as("volume"))
    }),

    // format_issn (dedupe.rs:799-823): 8 bare digits → hyphenated.
    "q_format_issn" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        format_issn(lpad((lit(12340000) + col("doc_id")).cast("string"), 8, "0")).as("issn"))
    }),

    // format_journal_name (dedupe.rs:786-797): conference-suffix strip +
    // lowercase + alphanumerics only.
    "q_format_journal" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        format_journal(concat(lit("Journal of Test-"), (col("doc_id") % 9).cast("string"),
          lit(". Conference Proceedings"))).as("journal"))
    }),

    // split_issns (utils.rs:120-142): regex-find all ISSNs in a blob with
    // literal escaped newlines (joined to one string for the oracle compare).
    "q_split_issns" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        array_join(split_issns(concat(
          lit("1111-"),
          lpad((col("doc_id") % 8999).cast("string"), 4, "0"),
          lit(" (Print)\\r\\n2345-678X (Electronic)"))), "|").as("issns"))
    }),

    // convert_unicode_string (dedupe.rs:711-721): <U+XXXX> escape → code
    // point; invalid escapes left as-is.
    "q_convert_unicode" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        convert_unicode(concat(lit("pre <U+0041><U+0062> mid <U+ZZZZ> "),
          substring(col("text"), 1, 20))).as("converted"))
    }),

    // Jaro + Jaro-Winkler string similarity (the reference's title-match
    // predicate kernel, dedupe.rs:138-139). Our kernel replicates the strsim
    // crate's variant (on-line transposition count); DuckDB implements the
    // textbook algorithm — the two provably coincide on prefix-truncation
    // pairs (monotone matches, zero transpositions), which is what this
    // query uses. The strsim-divergent cases are pinned in KernelSpec.
    "q_jaro_sim" -> ((s, dir) => {
      val s1 = substring(col("text"), 1, 30)
      val s2 = expr("substring(text, 1, cast(15 + doc_id % 14 AS INT))")
      t(s, dir, "documents").select(
        col("doc_id"),
        round(jaro(s1, s2), 4).as("jaro"),
        round(jaro_winkler(s1, s2), 4).as("jw"))
    }),

    // Longest-common-substring verification kernel: the second operand is a
    // contiguous slice of the first, so LCS length has a closed form.
    "q_lcs_substr" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        lcs_length(col("text"), substring(col("text"), 11, 40)).cast("long").as("lcs"))
    }),

    // 64-bit Hamming distance (SimHash comparison kernel) over arithmetic
    // longs — oracle is bit_count(xor(...)).
    "q_hamming" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        hamming64(col("doc_id").cast("long") * 1000003L + 7L,
          col("doc_id").cast("long") * 999983L).cast("long").as("hd"))
    }),

    // HTML → text extraction (the input_hint extractor; byte-identical
    // round-trip: wrapping clean text in markup and extracting recovers it).
    "q_html_extract" -> ((s, dir) => {
      val html = concat(
        lit("<html><head><script>var x = 1;</script><style>.a{b:c}</style></head><body> <h1></h1><p>"),
        col("text"),
        lit("</p><!-- hidden --></body></html>"))
      t(s, dir, "documents").select(
        col("doc_id"), extract_html_text(html.cast("binary")).as("extracted"))
    }),

    // jusText-core boilerplate removal (graft-added): each document's text
    // is planted as the content block of a page with known boilerplate — a
    // title ("Site", 4 chars: short → dropped), a pure-link nav (link
    // density 1 → dropped), and a short link footer ("Terms (c)", 8 chars:
    // short → dropped). Closed form: main content is exactly the document
    // text when it clears the 20-non-space-char gate, and the block/good
    // counts follow from whether the text is non-empty / long enough.
    "q_boilerplate" -> ((s, dir) => {
      val html = concat(
        lit("<html><head><title>Site</title><style>.x{color:red}</style></head>" +
          "<body><nav><a href=\"/\">Home</a> <a href=\"/about\">About us</a> " +
          "<a href=\"/contact\">Contact</a></nav><p>"),
        col("text"),
        lit("</p><div><a href=\"/terms\">Terms</a> (c)</div></body></html>"))
      val bb = boilerplate_blocks(html)
      t(s, dir, "documents").select(
        col("doc_id"),
        main_content(html).as("main_content"),
        size(bb).cast("long").as("n_blocks"),
        size(filter(bb, b => b.getField("is_good"))).cast("long").as("n_good"))
    }),

    // Outlink extraction (graft-added): each document's text is planted in
    // a page whose <a href> inventory is known in closed form — a script
    // body and a comment carrying decoy links (must be skipped), a double-
    // quoted href with an &amp; entity in the query string, a single-quoted
    // href behind another attribute with uppercase HREF, an href-less named
    // anchor (skipped), an unquoted href, and a relative href (extraction
    // returns it raw; host-graph filtering happens in HostRank.hostEdges).
    "q_outlinks" -> ((s, dir) => {
      val html = concat(
        lit("<html><body><script>var x = '<a href=\"https://evil.example/x\">';" +
          "</script><!-- <a href=\"https://ghost.example/\">c</a> --><p>intro " +
          "<a href=\"https://a.example/p?id="),
        col("doc_id"),
        lit("&amp;ref=1\">first</a> mid <a class='x' HREF='https://b.example/"),
        col("doc_id"),
        lit("'>second</a> <a name=\"anchor\">no href</a> "),
        col("text"),
        lit(" <A href=https://c.example/u"),
        col("doc_id"),
        lit(" >third</A> <a href=\"/relative/path\">rel</a></p></body></html>"))
      val links = extract_links(html)
      t(s, dir, "documents").select(
        col("doc_id"),
        concat_ws("|", links).as("links"),
        size(links).cast("long").as("n_links"))
    }),

    // Domain-blocklist gate (graft-added): five host shapes by residue —
    // a subdomain of a listed domain (inherits the block), the listed
    // domain exactly, an unlisted domain, a NON-match that shares the
    // listed domain's suffix without a label boundary (notbad ≠ bad), and
    // a subdomain of the second listed domain. The list is a parameter
    // (published blocklists are external data, like the C4 bad-word list).
    "q_domain_blocklist" -> ((s, dir) => {
      val r = col("doc_id") % 5
      val host = when(r === 0, lit("x.bad.example.com"))
        .when(r === 1, lit("bad.example.com"))
        .when(r === 2, lit("good.example.com"))
        .when(r === 3, lit("notbad.example.com"))
        .otherwise(lit("a.spam.net"))
      val url = concat(lit("https://"), host, lit("/p"), col("doc_id"))
      t(s, dir, "documents").select(
        col("doc_id"), url.as("url"),
        host_blocked(UrlOps.hostOf(url),
          Seq("bad.example.com", "spam.net")).as("blocked"))
    }),

    // Canonical-LINK pre-dedup (graft-added): the composition page_meta
    // exists for — even docs declare a shared rel=canonical target
    // (syntactic URL folding can't see that /alt/12 and /alt/62 are one
    // page; the publisher's declaration can), odd docs declare nothing and
    // fall back to their canonicalized capture URL. One partial-agg'd
    // groupBy on coalesce(declared, syntactic) keeps the earliest capture.
    "q_canonical_dedup" -> ((s, dir) => {
      val html = when(col("doc_id") % 2 === 0, concat(
        lit("<html><head><link rel=\"canonical\" href=\"https://s.example/page"),
        col("doc_id") % 50,
        lit("\"></head><body>x</body></html>")))
        .otherwise(lit("<html><head></head><body>no canonical</body></html>"))
      val url = concat(lit("https://s.example/alt/"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          coalesce(page_meta(html).getField("canonical"),
            UrlOps.canonicalizeUrl(url)).as("dedup_key"))
        .groupBy("dedup_key")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_captures"))
    }),

    // Sitemap harvest (graft-added): one robots.txt per 20-host residue,
    // carrying two sitemap records around a rule group (position must not
    // matter) plus a commented-out decoy; exploded to (host, sitemap) rows.
    "q_robots_sitemaps" -> ((s, dir) => {
      val robotsTxt = concat(
        lit("Sitemap: https://h"), col("hostnum"), lit(".example.com/map1.xml\n" +
          "User-agent: *\nDisallow: /private\n" +
          "# Sitemap: https://ghost.example/decoy.xml\n" +
          "sitemap: https://h"), col("hostnum"), lit(".example.com/map2.xml"))
      t(s, dir, "documents")
        .select((col("doc_id") % 20).as("hostnum")).distinct()
        .select(
          concat(lit("h"), col("hostnum"), lit(".example.com")).as("host"),
          explode(robots_sitemaps(robotsTxt)).as("sitemap"))
    }),

    // RFC 3986 reference resolution (graft-added): one base URL per doc
    // and eight reference shapes by residue — plain segment, ./ with a
    // query, ../ climb, absolute path, protocol-relative authority,
    // query-only, fragment (dropped), and the abnormal over-climb that
    // clamps at root (§5.4.2).
    "q_resolve_url" -> ((s, dir) => {
      val base = concat(lit("https://h.example.com/b"), col("doc_id"), lit("/c/d;p?q"))
      val r = col("doc_id") % 8
      val ref = when(r === 0, lit("g"))
        .when(r === 1, lit("./g?y"))
        .when(r === 2, lit("../g"))
        .when(r === 3, lit("/g"))
        .when(r === 4, lit("//o.example.com/x"))
        .when(r === 5, lit("?y"))
        .when(r === 6, lit("g#s"))
        .otherwise(lit("../../../g"))
      t(s, dir, "documents").select(
        col("doc_id"), ref.as("ref"),
        resolve_url(base, ref).as("resolved"))
    }),

    // Anchor-text corpus (graft-added): every doc links to its residue's
    // shared target with one of three labels AND to a per-doc unique
    // target — both through RELATIVE hrefs, so the aggregation exercises
    // resolution + canonical folding. Per-target top-2 texts ride the
    // bounded top_k aggregate; the DuckDB oracle IS the row_number window
    // it replaces.
    "q_anchor_corpus" -> ((s, dir) => {
      val pages = t(s, dir, "documents").select(
        concat(lit("https://h"), col("doc_id") % 10,
          lit(".example.com/dir/page"), col("doc_id")).as("url"),
        concat(
          lit("<a href=\"/shared\">L"), col("doc_id") % 3,
          lit("</a><a href=\"p/"), col("doc_id"), lit("\">Unique</a>")).as("html"))
      AnchorCorpus.build(pages, k = 2)
    }),

    // Anchor-text harvest (graft-added): each document carries three known
    // anchors — one to a shared target whose body mixes nested tags and an
    // entity (tag boundaries collapse to single spaces), an image link with
    // EMPTY text (kept: image links are real endorsements), and a trailing
    // anchor the page never closes (closed at end-of-input) — plus a script
    // decoy and an href-less named anchor that must not surface.
    "q_anchor_text" -> ((s, dir) => {
      val html = concat(
        lit("<html><body><script>var a='<a href=\"/decoy\">x</a>';</script>" +
          "<p><a href=\"https://t.example/shared"),
        col("doc_id") % 10,
        lit("\">Read <b>More</b> &amp; info</a> filler <a name=\"x\">no href</a>" +
          " <a href='/local/"),
        col("doc_id"),
        lit("'><img src=\"i.png\"></a> tail <a href=\"/dangling"),
        col("doc_id"),
        lit("\">Dangling tail"))
      val as_ = extract_anchors(html)
      t(s, dir, "documents").select(
        col("doc_id"),
        concat_ws("|", transform(as_,
          a => concat(a.getField("href"), lit("=>"), a.getField("text")))).as("anchors"),
        size(as_).cast("long").as("n_anchors"))
    }),

    // Head-metadata extraction (graft-added): each document's text is
    // planted in a page whose head metadata is known in closed form — a
    // comment and a script body carrying decoy canonical/robots tags (must
    // be skipped), an entity in the title, a stylesheet link before the
    // canonical (rel token-list matching: `alternate canonical` counts), a
    // SECOND canonical that must lose (first wins per the HTML spec's UA
    // rule), a description with an entity, a robots meta whose directive
    // rotates by doc_id residue (noindex / NOFOLLOW / none / index,follow),
    // and the http-equiv Content-Type charset form.
    "q_page_meta" -> ((s, dir) => {
      val robots = when(col("doc_id") % 4 === 0, lit("noindex"))
        .when(col("doc_id") % 4 === 1, lit("NOFOLLOW"))
        .when(col("doc_id") % 4 === 2, lit("none"))
        .otherwise(lit("index, follow"))
      val html = concat(
        lit("<html Lang=\"en-US\"><head>" +
          "<!-- <link rel=\"canonical\" href=\"https://ghost.example/\"> -->" +
          "<script>var s = '<meta name=\"robots\" content=\"noindex\">';</script>" +
          "<title>Doc &amp; "),
        col("doc_id"),
        lit("</title><link rel=\"stylesheet\" href=\"/css/x\">" +
          "<LINK REL='alternate canonical' HREF='https://a.example/c?id="),
        col("doc_id"),
        lit("&amp;v=2'><link rel=\"canonical\" href=\"https://second.example/ignored\">" +
          "<meta NAME=\"Description\" content=\"Sum &amp; mary "),
        col("doc_id"),
        lit("\"><meta name=\"robots\" content=\""),
        robots,
        lit("\"><meta http-equiv=\"Content-Type\" content=\"text/html; charset=UTF-8\">" +
          "</head><body><p>"),
        col("text"),
        lit("</p></body></html>"))
      t(s, dir, "documents")
        .select(col("doc_id"), page_meta(html).as("m"))
        .select(
          col("doc_id"),
          col("m.title").as("title"),
          col("m.canonical").as("canonical"),
          col("m.lang").as("lang"),
          col("m.description").as("description"),
          col("m.noindex").as("noindex"),
          col("m.nofollow").as("nofollow"),
          col("m.charset").as("charset"))
    }),

    // robots.txt page gate (graft-added): 20 deterministic hosts, each page
    // taking one of 5 known paths by doc_id residue. Even hosts carry a
    // three-group robots.txt where the graftbot group (selected over badbot
    // and * by RFC 9309 group matching) disallows /private and /files but
    // allows the LONGER /private/ok; odd hosts carry only a * group with
    // the same allow-beats-shorter-disallow shape; host 7 has NO robots row
    // (unavailable robots.txt = allowed). The verdict is a closed form of
    // the two residues.
    "q_robots_gate" -> ((s, dir) => {
      val r = col("doc_id") % 5
      val path = when(r === 0, lit("/"))
        .when(r === 1, concat(lit("/public/a"), col("doc_id")))
        .when(r === 2, concat(lit("/private/x"), col("doc_id")))
        .when(r === 3, concat(lit("/private/ok/y"), col("doc_id")))
        .otherwise(concat(lit("/files/doc"), col("doc_id"), lit(".pdf")))
      val pages = t(s, dir, "documents").select(
        col("doc_id"),
        concat(lit("https://h"), col("doc_id") % 20, lit(".example.com"), path).as("url"))
      val evenTxt = "User-agent: badbot\nDisallow: /\n\n" +
        "User-agent: graftbot\nDisallow: /private\nAllow: /private/ok\nDisallow: /files\n\n" +
        "User-agent: *\nDisallow: /elsewhere"
      val oddTxt = "User-agent: *\nAllow: /private/ok\nDisallow: /private"
      val robots = t(s, dir, "documents")
        .select((col("doc_id") % 20).as("hostnum")).distinct()
        .filter(col("hostnum") =!= 7)
        .select(
          concat(lit("h"), col("hostnum"), lit(".example.com")).as("host"),
          when(col("hostnum") % 2 === 0, lit(evenTxt)).otherwise(lit(oddTxt))
            .as("robots_txt"))
      RobotsGate.annotate(pages, robots, "GraftBot")
        .select(col("doc_id"), col("url"), col("robots_allowed"))
    }),

    // Host-graph PageRank (graft-added): a deterministic directed host
    // graph derived from the documents table (src = doc_id mod 49 — host 49
    // never emits, so the dangling-mass branch is exercised — dst =
    // (7·doc_id+3) mod 50, multiplicities collapsed), ranked by 5 power
    // iterations with uniform teleport + dangling redistribution. The
    // DuckDB oracle unrolls the identical iteration arithmetic; ranks are
    // rounded to 1e-6 on both sides against cross-engine sum-order drift.
    "q_hostrank" -> ((s, dir) => {
      val edges = t(s, dir, "documents").select(
        (col("doc_id") % 49).as("src"),
        ((col("doc_id") * 7 + 3) % 50).as("dst")).distinct()
      HostRank.pageRank(edges, iters = 5)
        .select(col("h").cast("long").as("host"),
          round(col("pagerank"), 6).as("pagerank"))
    }),

    // WARC ingestion round-trip: each partition of the documents table is
    // encoded into a synthetic .warc.gz blob (per-record gzip members, a
    // warcinfo record as noise — the Common Crawl layout) via the fixture
    // writer, then parsed back by the REAL record walk + HTTP strip + html
    // extraction. The oracle is the closed form of the round trip: url from
    // doc_id, the pinned timestamp, the original text (byte-identical
    // extraction), and the langId replica.
    "q_warc" -> ((s, dir) => {
      import s.implicits._
      val ts = java.sql.Timestamp.from(java.time.Instant.parse("2026-08-18T00:00:00Z"))
      val pages = t(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions { it =>
          val bos = new java.io.ByteArrayOutputStream()
          bos.write(WarcSource.gzipMemberOf(WarcSource.buildWarcinfoRecord()))
          var any = false
          it.foreach { case (id, text) =>
            any = true
            bos.write(WarcSource.buildResponseRecord(
              s"https://example.com/$id", ts,
              s"<html><head><script>var x=1;</script></head><body><p>$text</p></body></html>",
              gzipMember = true))
          }
          if (!any) Iterator.empty
          else WarcSource.parseRecords(bos.toByteArray).iterator
            .map(r => (r.url, r.ts, r.html))
        }.toDF("url", "warc_ts", "html")
      WarcSource.withExtractedText(pages, "warc")
        .select(col("url"), col("warc_ts"), col("text"), col("lang"))
    }),

    // WET ingestion round-trip (Common Crawl's pre-extracted text
    // container): conversion records — the text IS the payload, no HTTP
    // envelope, no html extraction. Same closed-form oracle shape as
    // q_warc; text must come back byte-identical through encode→parse→
    // UTF-8 decode.
    "q_wet" -> ((s, dir) => {
      import s.implicits._
      val ts = java.sql.Timestamp.from(java.time.Instant.parse("2026-08-18T00:00:00Z"))
      val pages = t(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions { it =>
          val bos = new java.io.ByteArrayOutputStream()
          bos.write(WarcSource.gzipMemberOf(WarcSource.buildWarcinfoRecord()))
          var any = false
          it.foreach { case (id, text) =>
            any = true
            bos.write(WarcSource.buildConversionRecord(
              s"https://example.com/$id", ts, text, gzipMember = true))
          }
          if (!any) Iterator.empty
          else WarcSource.parseRecords(bos.toByteArray, recordType = "conversion")
            .iterator.map(r => (r.url, r.ts, r.html))
        }.toDF("url", "warc_ts", "html")
      pages.select(col("url"), col("warc_ts"),
        decode(col("html"), "UTF-8").as("text"))
        .withColumn("lang", graft.text.TextOps.langId(col("text")))
    }),

    // CDX index round-trip: captures are rendered to CDXJ lines (SURT
    // urlkey + 14-digit ts + JSON attributes, the published Common Crawl
    // layout) and parsed back by the real line walk. The oracle is the
    // closed form of the round trip — including the SURT semantics the
    // fixture plants (www strip, host-label reversal, bytewise query-param
    // sort) and the string→long casts of the JSON numeric fields.
    "q_cdx_parse" -> ((s, dir) => {
      CdxSource.parseLines(cdxLines(s, dir))
        .select(col("urlkey"), col("ts"), col("url"), col("mime"),
          col("status"), col("digest"),
          col("length").as("rec_length"), col("offset").as("rec_offset"),
          col("filename"))
    }),

    // Index-level exact dedup: one capture kept per content digest (the
    // earliest by (ts, urlkey, offset)) with the family size carried —
    // partial-agg min(struct) + join-back on the digest, never a window.
    // The oracle IS the row_number window the plan avoids.
    "q_cdx_dedup" -> ((s, dir) => {
      CdxSource.digestDedup(CdxSource.parseLines(cdxLines(s, dir)))
        .select(col("digest"), col("urlkey"), col("ts"), col("n_captures"))
    }),

    // Index-level latest-capture collapse: newest capture per group key
    // (50 groups planted via the offset closed form) — partial-agg'd
    // max(struct) + join-back, never a window. The oracle IS the
    // row_number window the plan avoids.
    "q_cdx_latest" -> ((s, dir) => {
      val caps = CdxSource.parseLines(cdxLines(s, dir))
        .withColumn("grp", (col("offset") / 1000 % 50).cast("long"))
      CdxSource.latestPerKey(caps, "grp")
        .select(col("grp"), col("urlkey"), col("ts"), col("n_captures"))
    }),

    // Per-WARC-file fetch plan over the dedup survivors: offset-sorted
    // ranges so payload fetch is one forward scan per container. Ranges
    // are flattened to a string for the hash compare; the DuckDB oracle
    // replays the identical ordered aggregation.
    "q_cdx_fetch_plan" -> ((s, dir) => {
      val kept = CdxSource.digestDedup(CdxSource.parseLines(cdxLines(s, dir)))
      CdxSource.fetchPlan(kept)
        .select(col("filename"), col("n_records"), col("bytes"),
          array_join(
            transform(col("ranges"), r => concat_ws(":",
              r.getField("offset").cast("string"),
              r.getField("length").cast("string"))), ",").as("ranges"))
    }),

    // GET-coalesced fetch plan: near-adjacent ranges (gap ≤ 64 KiB) merge
    // into one ranged read per span — the object-store pattern (fixed
    // per-GET latency makes fetching a few gap bytes cheaper than another
    // request). One HOF fold per file over the sorted range list, no
    // window; the oracle replays it as DuckDB gaps-and-islands.
    "q_cdx_coalesce" -> ((s, dir) => {
      val kept = CdxSource.digestDedup(CdxSource.parseLines(cdxLines(s, dir)))
      CdxSource.coalescedFetchPlan(kept, maxGap = 65536L)
        .select(col("filename"), col("n_records"), col("bytes"),
          col("n_reads").cast("long").as("n_reads"), col("read_bytes"),
          array_join(
            transform(col("spans"), sp => concat_ws(":",
              sp.getField("offset").cast("string"),
              sp.getField("end").cast("string"))), ",").as("spans"))
    }),

    // ---------- deduplication ops ----------

    // Union-find (ConnectedComponents: a driver-side solve at this size)
    // over an arithmetic chain graph: nodes i—i+1 within each block of 10,
    // so components have the closed form doc_id - doc_id % 10 — this
    // oracle-checks the min-id labels.
    "q_connected_components" -> ((s, dir) => {
      val edges = t(s, dir, "documents")
        .filter(col("doc_id") % 10 =!= 9)
        .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
      ConnectedComponents.run(edges)
        .select(col("id").cast("long").as("doc_id"), col("component").cast("long"))
    }),

    // Representative selection (dedupe.rs:507-530 analog): per synthetic
    // cluster pick the row with the richest content (longest text; the
    // has-abstract preference analog), ties broken by smallest doc_id.
    // Same skew-safe shape as the pipeline's clustersPlan: min_by over a
    // packed priority struct (partial-agg'd map-side) + an equi-join back
    // to flag every member — NOT a row_number window, which would sort a
    // monster cluster in one task.
    "q_rep_select" -> ((s, dir) => {
      val slim = t(s, dir, "documents")
        .select((col("doc_id") - col("doc_id") % 10).cast("long").as("cluster_id"),
          col("doc_id").cast("long").as("doc_id"),
          length(col("text")).as("len"))
      val reps = slim.groupBy("cluster_id")
        .agg(min_by(col("doc_id"),
          struct((-col("len")).as("neg_len"), col("doc_id"))).as("rep_id"))
      slim.join(reps, "cluster_id")
        .select(col("cluster_id"), col("doc_id"),
          (col("doc_id") === col("rep_id")).as("is_representative"))
    }),


    // Pre-flight dup-rate probe (graft-added): family-preserving sample
    // keyed on the DEDUP KEY (normalized content), so a family is kept
    // whole or not at all and the sampled family-size histogram is an
    // unbiased draw of the corpus's — doc-keyed sampling would collapse
    // the dup signal quadratically. Only the sampled slice (and only a
    // 32-hex family id per row) ever shuffles: the 100-TB sizing step
    // before paying for the full dedup pipeline.
    // (key = 30-char text prefix, which actually collides at sf-scale —
    // the sf tables carry no byte-identical dup families — so the oracle
    // pins a multi-size histogram, not a degenerate all-singletons row)
    "q_dup_probe" -> ((s, dir) => {
      DedupProbe.familyHistogram(t(s, dir, "documents"),
        substring(col("text"), 1, 30), 0.5, "probe")
    }),

    // Leakage-safe split (graft-added): split assignment keyed on the
    // dedup CLUSTER id, so near-dup pairs can never straddle train/eval
    // (the memorization-contamination path per-doc splitting leaves
    // open). Clusters come from the REAL iterative union-find over the
    // planted chain edges — same closed form as q_connected_components
    // (each 10-block is one component), so the oracle pins both the
    // grouping and the per-cluster label in one hash compare.
    "q_split_leakage" -> ((s, dir) => {
      val edges = t(s, dir, "documents")
        .filter(col("doc_id") % 10 =!= 9)
        .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
      val comp = ConnectedComponents.run(edges)
        .select(col("id").cast("long").as("doc_id"),
          col("component").cast("long").as("component"))
      Mixing.splitByCluster(comp, col("component"), "leak", MixSplits)
        .select("doc_id", "component", "split")
    }),

    // Exact dedup fast path: group by normalized content, representative =
    // min doc_id. One shuffle; map-side partial agg.
    "q_dedup_exact" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(normalize_text(col("text")).as("norm_text"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("representative"))
    }),

    // Exact token-set Jaccard near-dup pairs (bounded self-join) — the
    // verification predicate of the LSH pipeline, oracle-checkable.
    // b-bit sketch verification (Li & König 2010): candidates decided from
    // 64-byte packed sketches instead of full shingle sets — the 64/b×
    // verification-state compression. Families are planted with IDENTICAL
    // text (a closed form of the family id), so every within-family pair's
    // b-bit estimate is EXACTLY 1.0 (all cells equal — no estimator noise)
    // and the whole two-shuffled-hash-join decision has a DuckDB closed
    // form. Near-threshold estimator behavior (accuracy against exact
    // Jaccard) has no closed form and is pinned by SketchVerifySpec
    // instead.
    "q_sketch_verify" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(
        col("doc_id").as("id"),
        concat(lit("fam"),
          (col("doc_id") - col("doc_id") % 5).cast("string"),
          lit(" alpha beta gamma delta epsilon zeta")).as("text"))
      val sketches = docs.select(col("id"),
        bbit_minhash(word_shingles(col("text"), 2), 128, 4).as("sketch"))
      val candidates = docs.where(col("id") % 5 < 4)
        .select(col("id").as("a"), (col("id") + 1).as("b"))
      SketchVerify.verifyPairs(candidates, sketches, 128, 4, 0.9)
        .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"),
          col("est"))
    }),

    "q_dedup_jaccard_pairs" -> ((s, dir) => {
      val toks = t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"), array_distinct(split(lower(col("text")), " ")).as("toks"))
      toks.as("x").join(toks.as("y"), col("x.doc_id") < col("y.doc_id"))
        .select(
          col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          round(size(array_intersect(col("x.toks"), col("y.toks"))).cast("double") /
            size(array_union(col("x.toks"), col("y.toks"))), 6).as("jac"))
        .filter(col("jac") >= 0.5)
    }),

    // MinHash+LSH near-dup clustering end-to-end (shingle → minhash → band
    // → skew-safe candidate emission → exact-Jaccard verify → connected
    // components), with a CLOSED-FORM oracle: the corpus is doubled
    // (planted twin at doc_id + 10⁶ with identical text) and every doc's
    // tokens are prefixed with "d<doc_id>x" — an injective (doc_id, token)
    // encoding that survives normalization — so shingle sets are DISJOINT
    // across distinct docs (cross-doc Jaccard = 0; any accidental band
    // collision dies at verification) while each twin pair shares identical
    // shingles (Jaccard 1 ⇒ identical MinHash ⇒ guaranteed candidate).
    // Clusters therefore have the closed form {i, i+10⁶} → cluster i.
    // Candidates go through PairEmission.bucketPairs — the same skew-safe
    // path as DedupPipeline.candidatePairs, not a quadratic bucket
    // self-join.
    "q_dedup_minhash_clusters" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"), saltedTokens.as("stext"))
      val doubled = base.union(
        base.select((col("id") + 1000000L).as("id"), col("stext")))
      val sigs = doubled.select(col("id"),
        word_shingles(normalize_tokens(col("stext")), 3).as("shingles"))
        .withColumn("bands", minhash_bands(col("shingles"), 16, 4))
      val bandRows = sigs.filter(size(col("shingles")) > 0)
        .select(col("id"), posexplode(col("bands")).as(Seq("band", "bucket")))
      val pairs = graft.dedup.PairEmission.bucketPairs(bandRows,
        Seq("band", "bucket"), order = Seq("id"), value = col("id"),
        maxAllPairs = 64, chainHuge = true).distinct()
      val sh = sigs.select(col("id"), col("shingles"))
      val verified = pairs
        .join(sh.withColumnsRenamed(Map("id" -> "a", "shingles" -> "sh_a")), "a")
        .join(sh.withColumnsRenamed(Map("id" -> "b", "shingles" -> "sh_b")), "b")
        .filter(jaccard_sorted(col("sh_a"), col("sh_b")) >= 0.8)
        .select("a", "b")
      val comps = graft.dedup.ConnectedComponents.run(verified)
      doubled.select(col("id"))
        .join(comps, Seq("id"), "left")
        .select(col("id").as("doc_id"),
          coalesce(col("component"), col("id")).as("cluster_id"))
    }),

    // Incremental batch dedup with a CLOSED-FORM oracle: the base batch is
    // the salted corpus, the delta batch is its exact twins (same text at a
    // later capture ts). run(base) + incremental(delta) must (a) cluster
    // every twin with its original, with the EARLIER capture as
    // representative (rep chain: text_len tie → earlier warc_ts), and
    // (b) be bit-identical to run(base ∪ delta) — the equivalence
    // contract. Twins share a content hash, so the exact path links them
    // through the group min read from the prior signatures; a twin whose id
    // undercuts its original's takes the group min (demoting the original)
    // and enters the band state, so the delta×prior LSH cross join runs
    // under the driver gate too.
    "q_dedup_incremental" -> ((s, dir) => {
      // capped input: this row buys the equivalence CONTRACT (a fixed-size
      // correctness surface, dominated by per-stage job latency, not data);
      // incremental THROUGHPUT is the bench's dedup_incremental metric
      val base = t(s, dir, "documents").filter(col("doc_id") < 1000)
        .select(col("doc_id").cast("long").as("id"), saltedTokens.as("stext"))
      def pages(df: DataFrame, ts: String) = {
        import s.implicits._
        df.select(
          concat(lit("doc://"), col("id")).as("url"),
          to_timestamp(lit(ts)).as("warc_ts"),
          typedLit(Array.empty[Byte]).as("html"),
          col("stext").as("text"),
          lit("en").as("lang"),
          lit("web").as("source")).as[graft.schema.Page]
      }
      val basePages = pages(base, "2026-01-01 00:00:00")
      val deltaPages = pages(
        base.select((col("id") + 1000000L).as("id"), col("stext")),
        "2026-01-02 00:00:00")
      val tmpDirs = Seq.fill(2)(
        java.nio.file.Files.createTempDirectory("graft-q-inc-"))
      // lean checkpointing (single chunk, state partitions sized to the
      // 1,000-doc cap — 32 dirs × 4 tables of fixed write/list cost would
      // dominate this latency-bound row): resume durability is pinned by
      // its own suite; this query buys the equivalence contract at the
      // smallest stage-write cost
      val cfg = graft.dedup.DedupConfig(resumeChunks = 1, statePartitions = 4)
      try {
        val batchRun = new graft.dedup.DedupPipeline(s, cfg,
          new graft.io.StageStore(s, tmpDirs(0).toString))
          .run(basePages.union(deltaPages))
        val pipe = new graft.dedup.DedupPipeline(s, cfg,
          new graft.io.StageStore(s, tmpDirs(1).toString))
        pipe.run(basePages).count()
        val incRun = pipe.incremental("delta", deltaPages)
        def repMap(df: DataFrame): DataFrame = {
          val reps = df.filter(col("is_representative"))
            .select(col("cluster_id"), col("url").as("rep_url"))
          df.select("url", "cluster_id").join(reps, "cluster_id")
            .select("url", "rep_url")
        }
        repMap(incRun)
          .join(repMap(batchRun).withColumnRenamed("rep_url", "rep_url_b"), "url")
          .select(col("url"), col("rep_url"),
            (col("rep_url") === col("rep_url_b")).as("matches_batch"))
          // the comparison is ~2k slim rows: pin it in executor memory so
          // the checkpoint stores it reads from can be deleted NOW instead
          // of leaking a stage tree per Verify/Bench invocation
          .localCheckpoint(true)
      } finally tmpDirs.foreach { d =>
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        scala.util.Using.resource(Files.walk(d))(
          _.sorted(Comparator.reverseOrder[Path]())
            .forEach(p => Files.deleteIfExists(p)))
      }
    }),

    // The LSH banding S-curve at the pipeline's default geometry (16×5,
    // threshold 0.8): P[candidate | similarity s] = 1 − (1 − s⁵)¹⁶,
    // evaluated on a similarity grid — the analytic recall/cost dial
    // (graft.dedup.LshTuning), oracle-checked against DuckDB's pow.
    "q_lsh_curve" -> ((s, dir) => {
      s.range(0, 101).select(
        (col("id") / 100.0).as("sim"),
        round(lit(1.0) - pow(lit(1.0) - pow(col("id") / 100.0, lit(5.0)),
          lit(16.0)), 6).as("p_candidate"))
    }),

    // Embedding-cosine near-dup pairs: bounded self-join over vectors,
    // keep pairs above a cosine threshold (the embedding analog of the
    // fuzzy-title predicate).
    "q_dedup_embed_cosine" -> ((s, dir) => {
      val vecs = t(s, dir, "embeddings").filter(col("vec_id") < 200)
        .select(col("vec_id"), col("embedding"))
      vecs.as("x").join(vecs.as("y"), col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
          round(cosine_sim(col("x.embedding"), col("y.embedding")), 6).as("cos"))
        .filter(col("cos") >= 0.2)
    }),

    // The banded (no-crossJoin) embedding near-dup path with a CLOSED FORM:
    // the corpus is doubled with identical-vector twins (+10⁶). A twin
    // shares the full RHP signature — every band collides, so candidate
    // generation cannot miss it — and its cosine is exactly 1.0, while at
    // threshold 0.999 no random non-twin pair survives. Output = exactly
    // the twin pairs.
    "q_dedup_embed_lsh" -> ((s, dir) => {
      val base = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val corpus = base.union(
        base.select((col("id") + 1000000L).as("id"), col("vec")))
      Ann.nearDupPairsLsh(corpus, 0.999)
    }),

    // SemDeDup (Abbas 2023) end-to-end with a CLOSED FORM: the corpus is
    // doubled with identical-vector twins (+10⁶). Twins share every
    // codebook score, so they land in the same cell with the same
    // centroid-rank regardless of which codebook autoCodebook picks; their
    // cosine is exactly 1.0 ≥ eps, and at eps just under 1.0 no distinct
    // pair qualifies. Every duplicate group is therefore exactly one twin
    // pair, component = min id = the original, and the (rank, id) keep-rule
    // tie-breaks to the original id.
    "q_semdedup" -> ((s, dir) => {
      val base = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val corpus = base.union(
        base.select((col("id") + 1000000L).as("id"), col("vec")))
      graft.ann.SemDeDup.semDeDup(corpus, eps = 0.9999995, nlist = 8)
    }),

    // The verification predicate incl. the LCS second chance, with a CLOSED
    // FORM: per doc build a core of a = 20 + doc_id%40 unique tokens and a
    // variant prefixed by 12 extra unique tokens. Shingle algebra (all
    // tokens distinct): |shingles(core)| = a-2, |shingles(variant)| = a+10,
    // all of core's contained in variant's ⇒ Jaccard = (a-2)/(a+10) — direct
    // (≥0.8) iff a ≥ 50. The core's normalized text is a verbatim substring
    // of the variant's ⇒ LCS = len(core) ≥ half the shorter text, so every
    // borderline pair is rescued: the exact shape the LCS check exists for.
    "q_dedup_lcs_rescue" -> ((s, dir) => {
      val a = (lit(20) + col("doc_id") % 40).cast("int")
      def tok(prefix: String) = (j: Column) =>
        concat(lit("d"), col("doc_id"), lit(prefix), j)
      val core = concat_ws(" ", transform(sequence(lit(1), a), tok("x")))
      val extra = concat_ws(" ", transform(sequence(lit(1), lit(12)), tok("xe")))
      t(s, dir, "documents")
        .select(col("doc_id"),
          normalize_tokens(core).as("nt_a"),
          normalize_tokens(concat(extra, lit(" "), core)).as("nt_b"))
        .select(col("doc_id"),
          round(jaccard_sorted(
            word_shingles(col("nt_a"), 3), word_shingles(col("nt_b"), 3)), 6)
            .as("jac"),
          (lcs_length(col("nt_a"), col("nt_b")) >=
            least(length(col("nt_a")), length(col("nt_b"))) * 0.5).as("rescued_ok"))
        .select(col("doc_id"), col("jac"), (col("jac") >= 0.8).as("direct"),
          col("rescued_ok"))
    }),

    // Containment (Broder's second resemblance measure): |A∩B| / |A| over
    // token sets — asymmetric, the quote/subsumption detector Jaccard
    // underrates when one document swallows another. Pure built-ins
    // (array_intersect/array_distinct), same formula in DuckDB.
    "q_text_containment" -> ((s, dir) => {
      val full = split(lower(col("text")), " ")
      val head = split(lower(substring(col("text"), 1, 100)), " ")
      t(s, dir, "documents").select(
        col("doc_id"),
        round(size(array_intersect(full, head)).cast("double") /
          greatest(size(array_distinct(full)).cast("double"), lit(1.0)), 6)
          .as("full_in_head"),
        round(size(array_intersect(head, full)).cast("double") /
          greatest(size(array_distinct(head)).cast("double"), lit(1.0)), 6)
          .as("head_in_full"))
    }),

    // Character-set Jaccard (char shingles at k=1 — DuckDB's jaccard()
    // uses the same character-set semantics).
    "q_dedup_char_jaccard" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        round(jaccard_sorted(
          char_shingles(col("text"), 1),
          char_shingles(substring(col("text"), 1, 50), 1)), 6).as("jac"))
    }),

    // SimHash fingerprints (rows-only: hash-based).
    "q_dedup_simhash" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        simhash64(word_shingles(normalize_tokens(col("text")), 3)).as("simhash"))
    }),

    // SimHash-Hamming near-dup pairs (Manku WWW'07 block-permuted tables)
    // with a CLOSED-FORM oracle: doubled corpus + per-doc token salting
    // (see saltedTokens) makes cross-doc fingerprints independent 64-bit
    // values (within-Hamming-3 collision odds ≈ 2.4·10⁻¹⁵ per pair — and
    // deterministic), while each twin pair shares an identical fingerprint.
    // The exact pair set is therefore {(i, i+10⁶, hamming 0)}.
    "q_dedup_simhash_pairs" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"), saltedTokens.as("stext"))
      val doubled = base.union(
        base.select((col("id") + 1000000L).as("id"), col("stext")))
      val sigs = doubled.select(col("id"),
        simhash64(word_shingles(normalize_tokens(col("stext")), 3)).as("simhash"))
      graft.dedup.SimHashDedup.nearDupPairs(sigs, maxHamming = 3)
        .select(col("a"), col("b"), col("hamming").cast("long").as("hamming"))
    }),

    // Winnowing fingerprints with a CLOSED-FORM oracle: fingerprint sets
    // are computed INDEPENDENTLY for each doc and its identical-text twin
    // (id + 10⁶), then joined back — winnowing is deterministic, so every
    // row must report matches_twin = true (and the oracle is exactly that).
    "q_dedup_fingerprint" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"), col("text"))
      val doubled = base.union(
        base.select((col("id") + 1000000L).as("id"), col("text")))
      val fp = doubled.select(col("id"), fingerprint_set(col("text")).as("fp"))
      val orig = fp.filter(col("id") < 1000000L)
      val twin = fp.filter(col("id") >= 1000000L)
        .select((col("id") - 1000000L).as("id"), col("fp").as("fp_twin"))
      orig.join(twin, "id")
        .select(col("id").as("doc_id"),
          (col("fp") === col("fp_twin")).as("matches_twin"))
    }),

    // Raw winnowing digests (rows-only / bench entry: hash values are not
    // DuckDB-expressible; determinism is pinned by the matches_twin oracle
    // above and by ExprSpec).
    "q_dedup_fingerprint_raw" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"), fingerprint64(col("text")).as("fingerprint"))
    }),

    // ---------- similarity search over embeddings ----------

    // Brute-force cosine top-3 for the first 10 vectors (exact baseline).
    "q_ann_cosine_topk" -> ((s, dir) => {
      val (corpus, queries) = annInputs(s, dir)
      Ann.bruteForceTopK(corpus, queries, 3)
        .select(col("query_id"), col("id").as("neighbor_id"), col("cos"),
          col("rank").cast("long").as("rank"))
    }),

    // Sign-LSH banded ANN with a CLOSED-FORM oracle: the corpus is doubled
    // with twin ids (+10⁶) sharing identical vectors, and each query IS a
    // corpus vector. The twin has an identical RHP signature (same buckets
    // — candidate generation cannot miss it) and cosine exactly 1.0, while
    // every other vector's cosine is strictly below 1 (random embeddings),
    // so top-1 must be (query_id, query_id+10⁶, 1.0, 1). k=3 recall vs the
    // brute-force baseline stays pinned in TrainingOpsSpec.
    "q_ann_lsh_topk" -> ((s, dir) => {
      val (corpus, queries) = annTwinInputs(s, dir)
      Ann.rhpTopK(corpus, queries, 1, bands = 16, rowsPerBand = 4)
        .select(col("query_id"), col("id").as("neighbor_id"), col("cos"),
          col("rank").cast("long").as("rank"))
    }),

    // Query-directed multi-probe sign-LSH (Lv 2007), same twin closed
    // form: the identical twin collides on every BASE band, so the result
    // is probe-invariant — the oracle pins the full probe-expansion
    // plumbing (margins → ranked flips → explode → equi-join) without
    // depending on hash interiors. Recall gains from the flips themselves
    // are pinned by the TrainingOpsSpec recall test.
    "q_ann_multiprobe" -> ((s, dir) => {
      val (corpus, queries) = annTwinInputs(s, dir)
      Ann.rhpTopKMultiProbe(corpus, queries, 1, bands = 16, rowsPerBand = 4,
        probes = 16)
        .select(col("query_id"), col("id").as("neighbor_id"), col("cos"),
          col("rank").cast("long").as("rank"))
    }),

    // IVF ANN, same closed form: identical vectors assign to the same cell
    // (deterministic argmax with id tie-break), the query probes its own
    // cell among nprobe=4, so the twin is always found at cos 1.0.
    "q_ann_ivf_topk" -> ((s, dir) => {
      val (corpus, queries) = annTwinInputs(s, dir)
      Ann.ivfTopK(corpus, queries, 1, nlist = 16, nprobe = 4)
        .select(col("query_id"), col("id").as("neighbor_id"), col("cos"),
          col("rank").cast("long").as("rank"))
    }),

    // IVF through the kmeans|| codebook, same closed form: the codebook's
    // exact centroids depend on FP reduction order, but the oracle does
    // not — identical twin vectors land in the same cell under ANY
    // codebook (deterministic argmax with id tie-break), and the query
    // probes its own cell among nprobe=4.
    "q_ann_ivf_kmeans" -> ((s, dir) => {
      val (corpus, queries) = annTwinInputs(s, dir)
      val codebook = Ann.kmeansCentroids(corpus, nlist = 16,
        rounds = 2, lloydIters = 1)
      Ann.ivfTopK(corpus, queries, 1, nlist = 16, nprobe = 4,
        codebook = Some(codebook))
        .select(col("query_id"), col("id").as("neighbor_id"), col("cos"),
          col("rank").cast("long").as("rank"))
    }),

    // Vector norms (scalar kernel parity).
    "q_embed_norms" -> ((s, dir) => {
      t(s, dir, "embeddings").select(
        col("vec_id"), round(vec_norm(col("embedding")), 6).as("norm"))
    }),

    // ---------- text analysis ----------

    // Stopword-heuristic language ID.
    "q_lang_id" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))
    }),

    // Token counts + quality score.
    "q_text_stats" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextOps.bpeTokenCount(col("text")).cast("long").as("n_bpe"),
        TextOps.qualityScore(col("text")).as("quality"))
    }),

    // Script-aware CJK segmentation (graft-added; a webtext axis the
    // Latin-only synthetic corpus can't exercise): planted mixed-script
    // docs, the CJK codepoint count, the CJK-aware token count
    // (TextOps.cjkTokenCount), and the ACTUAL kernel shingle count from
    // word_shingles. The oracle recomputes n_tokens from the same regex
    // formula and n_shingles from the closed form greatest(1, t-k+1) —
    // exact because every planted doc has all-distinct 3-token windows —
    // so a kernel that collapsed an unsegmented CJK doc to one token
    // (n_shingles = 1) fails the hash.
    "q_cjk_segment" -> ((s, dir) => {
      import s.implicits._
      CjkSegmentDocs.zipWithIndex.map { case (text, i) => (i.toLong, text) }
        .toDF("doc_id", "text")
        .select(col("doc_id"),
          (length(col("text")) -
            length(regexp_replace(col("text"), TextOps.CjkClass, "")))
            .cast("long").as("n_cjk"),
          TextOps.cjkTokenCount(col("text")).as("n_tokens"),
          size(word_shingles(col("text"), 3)).cast("long").as("n_shingles"))
        .orderBy("doc_id")
    }),

    // Adaptive per-language gate: cut each language's shortest quartile —
    // thresholds from the exact percentile aggregate, applied by a
    // groupBy + join-back (skew-safe: no window). The signal is the
    // INTEGER token count, so the p*(n-1) interpolation lands on exact
    // quarter fractions both engines represent identically.
    "q_adaptive_gate" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.langId(col("text")).as("lang"),
        TextOps.tokenCount(col("text")).cast("double").as("ntok"))
      val thresholds = docs.groupBy("lang")
        .agg(percentile(col("ntok"), lit(0.25)).as("p25"))
      docs.join(thresholds, "lang")
        .filter(col("ntok") >= col("p25"))
        .select(col("doc_id"), col("lang"), col("ntok").cast("long").as("n_tokens"))
    }),

    // BPE vocabulary training, round-1 surface: frequency-weighted
    // adjacent-symbol pair counts over the deterministic top-100k word
    // table — the exact statistic every merge round argmaxes over. The
    // oracle replays it independently (DuckDB lateral unnest over
    // character positions); multi-round training and encoding are
    // iterative (spec-pinned on the hand-derived Sennrich fixture).
    "q_bpe_pairs" -> ((s, dir) => {
      val wc = BpeTrain.wordCounts(t(s, dir, "documents"), col("text"), 100000)
      BpeTrain.pairCounts(wc.select(char_symbols(col("word")).as("syms"), col("cnt")))
        .orderBy(desc("cnt"), col("a"), col("b"))
        .limit(20)
    }),

    // End-to-end tokenizer demo (rows-only: BPE application is an
    // iterative greedy algorithm with no closed SQL form; BpeSpec pins
    // training on the hand-derived merge sequence and encoding on the
    // classic "lowest" -> [low, est] fixture plus a lossless property):
    // learn 12 merges from the corpus itself, subword-tokenize every doc.
    "q_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = BpeTrain.learnMerges(docs, col("text"), numMerges = 12,
        maxWords = 20000)
      docs.select(col("doc_id"), bpe_encode(col("text"), merges).as("_sub"))
        .select(col("doc_id"),
          size(col("_sub")).cast("long").as("n_subwords"),
          concat_ws(" ", slice(col("_sub"), 1, 12)).as("head_subwords"))
    }),

    // Z-order (Morton) clustering key: bucketed token count × source
    // residue interleaved bit-by-bit — the multi-column data-skipping sort
    // key for the curated-corpus sink (ZOrder.writeZOrdered). Pure integer
    // built-ins; the oracle replays the identical bucket + interleave
    // arithmetic.
    "q_zorder" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val x = ZOrder.bucket(TextOps.tokenCount(col("text")), 0L, 511L, 8)
      val y = col("doc_id") % 256
      docs.select(col("doc_id"), x.as("xb"), y.cast("long").as("yb"),
        ZOrder.mortonKey(Seq(x, y), 8).as("zkey"))
    }),

    // Corpus length-distribution stats: exact interpolated percentiles of
    // per-doc token counts by predicted language — the report a curation
    // run ends with (and the input to picking gate thresholds). Spark's
    // exact `percentile` aggregate partial-aggregates a value→count
    // histogram (state bounded by DISTINCT lengths, not rows), and DuckDB's
    // quantile_cont implements the identical p*(n-1) linear interpolation;
    // round(·,6) absorbs float noise on both sides.
    "q_corpus_quantiles" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(TextOps.langId(col("text")).as("lang"),
          TextOps.tokenCount(col("text")).cast("double").as("ntok"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          round(percentile(col("ntok"), lit(0.10)), 6).as("p10"),
          round(percentile(col("ntok"), lit(0.50)), 6).as("p50"),
          round(percentile(col("ntok"), lit(0.90)), 6).as("p90"),
          round(percentile(col("ntok"), lit(0.99)), 6).as("p99"),
          max(col("ntok")).cast("long").as("ntok_max"))
    }),

    // Compression-ratio quality signal (rows-only: DuckDB exposes no
    // scalar compression function, so the signal is genuinely
    // non-oracle-expressible; DeflateSpec pins the expression byte-exact
    // against direct java.util.zip output and the ratio ordering on
    // planted boilerplate/noise/prose). Repetition is planted per doc_id
    // residue so the output exercises the full signal range.
    "q_compress_ratio" -> ((s, dir) => {
      val planted = concat(col("text"),
        repeat(lit(" win a prize click here"), (col("doc_id") % 6).cast("int") * 40))
      t(s, dir, "documents").select(
        col("doc_id"),
        octet_length(planted).cast("long").as("n_bytes"),
        deflate_len(planted).cast("long").as("n_deflate"),
        compression_ratio(planted).as("ratio"))
    }),

    // DSIR importance weights (Xie 2023): target-vs-raw bag-of-ngram
    // log-likelihood ratio per pool doc, explicit-feature mode (the
    // oracle replays the identical features, smoothing, and ln arithmetic;
    // the hashed production mode is DsirSpec-pinned). Weight rounded to 4
    // decimals — a long sum of ln terms, see Dsir's float parity note.
    "q_dsir_weights" -> ((s, dir) => {
      // materialize, then release the model's persisted lr table — a
      // lazily-returned plan would re-pin one cached copy per bench run
      val (out, model) = dsirWeightsPlan(s, dir)
      try out.localCheckpoint(true) finally model.unpersist()
    }),

    // DSIR Gumbel top-k resample: selection ∝ exp(weight/τ) without
    // replacement via the Gumbel-max trick, noise from the SQL-replayable
    // MINSTD stream — TakeOrderedAndProject, never a global sort.
    "q_dsir_resample" -> ((s, dir) => {
      val (out, model) = dsirResamplePlan(s, dir)
      try out.localCheckpoint(true) finally model.unpersist()
    }),

    // Sequence packing (GPT-style concat-then-chunk assignment): which
    // 128-token training sequences each doc lands in, deterministic MINSTD
    // shuffle into 8 independent bin streams — all exact integer
    // arithmetic, replayed bit-for-bit by the oracle. The window cumsum is
    // partitioned by bin (bounded groups), never a global sort.
    "q_pack_assign" -> ((s, dir) => {
      Packing.packAssignments(t(s, dir, "documents"), "doc_id", col("text"),
        seqLen = 128, numBins = 8, seed = 5)
    }),

    // Mojibake repair (EncodingFix): corpus text is clean, so UTF-8-read-
    // as-cp1252 corruption is planted per doc_id residue with the SAME
    // sloppy-cp1252 model the chain inverts; the oracle replays the plant
    // (as chr() concatenation — the SQL stays pure ASCII) and the identical
    // replacement chain, and the hash compare pins the FULL repaired text.
    "q_fix_mojibake" -> ((s, dir) => {
      val corrupted = concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(MojibakePlant)).otherwise(lit("")))
      t(s, dir, "documents")
        .select(col("doc_id"), corrupted.as("_corrupted"),
          EncodingFix.fixMojibake(corrupted).as("fixed_text"))
        .select(col("doc_id"), col("fixed_text"),
          (length(col("_corrupted")) - length(col("fixed_text")))
            .cast("long").as("n_removed"))
    }),

    // Gopher scalar quality gate (GopherGate): corpus text is single-line
    // prose, so deterministic bullets / ellipsis lines / symbols / required
    // stopwords are planted per doc_id residue and the oracle replays the
    // identical concatenation before computing the same signals.
    "q_quality_gopher" -> ((s, dir) => {
      val ptext = concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          lit("\n- alpha bullet item\n- beta bullet item\nplain closing line"))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit("\ntrailing thought...")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(" ## # ###")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          lit(" the be to of and that have with")).otherwise(lit("")))
      t(s, dir, "documents").select(
        col("doc_id"),
        GopherGate.nWords(ptext).cast("long").as("n_words"),
        GopherGate.meanWordLen(ptext).as("mean_word_len"),
        GopherGate.symbolWordRatio(ptext).as("symbol_word_ratio"),
        GopherGate.bulletLineFrac(ptext).as("bullet_line_frac"),
        GopherGate.ellipsisLineFrac(ptext).as("ellipsis_line_frac"),
        GopherGate.alphaWordFrac(ptext).as("alpha_word_frac"),
        GopherGate.stopHits(ptext).cast("long").as("stop_hits"),
        GopherGate.pass(ptext).as("gopher_pass"))
    }),

    // C4 line/page cleaning ladder (C4Gate): corpus text is single-line
    // prose, so deterministic lines exercising each rule are planted per
    // doc_id residue — structural skip (%3), javascript skip (%4), policy
    // skip (%5), ellipsis skip (%6), lorem condemnation (%7), curly
    // condemnation (%11), citation scrub (%13), bad word (%17) — and the
    // oracle replays the identical concatenation through the SQL duals.
    "q_quality_c4" -> ((s, dir) => {
      val ptext = concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          lit("\nno punct line here\nthis added line has exactly enough words."))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          lit("\nthe javascript line with enough words is skipped here."))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          lit("\nwe use cookies and more words in this line."))
          .otherwise(lit("")),
        when(col("doc_id") % 6 === 0,
          lit("\ntrailing ellipsis line keeps going and going and going..."))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          lit("\nlorem ipsum dolor sit amet consectetur adipiscing elit."))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          lit("\nthis line holds a curly { bracket among many words."))
          .otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          lit("\nsee the cited claim [12] in context of many words."))
          .otherwise(lit("")),
        when(col("doc_id") % 17 === 0,
          lit("\nthis sentence mentions badwordx clearly within many words."))
          .otherwise(lit("")))
      val clean = C4Gate.cleanText(ptext)
      t(s, dir, "documents").select(
        col("doc_id"),
        C4Gate.nLines(ptext).cast("long").as("n_lines"),
        C4Gate.nKeptLines(ptext).cast("long").as("n_kept"),
        C4Gate.nSentences(clean).cast("long").as("n_sentences"),
        length(clean).cast("long").as("clean_len"),
        C4Gate.pageCondemned(ptext).as("condemned"),
        C4Gate.hasBadWord(clean, Seq("badwordx")).as("bad_hit"),
        C4Gate.pass(ptext, Seq("badwordx")).as("c4_pass"))
    }),

    // Frequent n-gram mining (HeavyHitters.topNgramsSketched): a 25-word
    // phrase planted on even doc_ids makes 24 known 2-grams of count ~250
    // the corpus head; the CMS-prefiltered path must return the EXACT
    // top-20 (its contract at minCount <= the k-th count), so the oracle is
    // DuckDB's exact count/top-k over the same planted tokenization.
    "q_heavy_hitters" -> ((s, dir) => {
      val phrase = (0 until 25).map(i => s"ha$i").mkString(" ")
      val ptext = concat(
        col("text"),
        when(col("doc_id") % 2 === 0, lit(" " + phrase)).otherwise(lit("")))
      val docs = t(s, dir, "documents").select(ptext.as("ptext"))
      HeavyHitters.topNgramsSketched(
        docs, split(trim(lower(col("ptext"))), "\\s+"), n = 2, k = 20, minCount = 10)
    }),

    // The full curation funnel (Curation.curate): C4 clean/gate → Gopher →
    // langId → PII redact → global line dedup → exact keep-first, verified
    // END-TO-END — the oracle replays the identical plants through every
    // stage's SQL dual and the driver hash-compares the per-doc verdicts
    // INCLUDING the final rewritten text.
    "q_curation" -> ((s, dir) => {
      val ptext = concat(
        col("text"),
        when(col("doc_id") % 2 === 0,
          lit(CurationBlock.mkString("\n", "\n", ""))).otherwise(lit("")),
        when(col("doc_id") % 10 === 0, lit("\n" + CurationPiiLine)).otherwise(lit("")),
        when(col("doc_id") % 9 === 0, lit("\n" + CurationBadLine)).otherwise(lit("")))
      Curation.curate(
        t(s, dir, "documents").select(col("doc_id"), ptext.as("text")),
        "doc_id", "text",
        Curation.Config(badWords = CurationBadWords))
    }),

    // Composed corpus-cleaning pipeline: quality gate + language gate +
    // exact-dedup keep-first — the canonical pretraining filter chain, as
    // one declarative plan (filters fused into the scan, one shuffle for
    // the dedup).
    "q_corpus_filter" -> ((s, dir) => {
      t(s, dir, "documents")
        .filter(TextOps.qualityScore(col("text")) >= 0.5)
        .filter(TextOps.langId(col("text")) === "en")
        .groupBy(normalize_text(col("text")).as("norm_text"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"))
    }),

    // Gopher-style repetition quality stats (Repetition.lineStats/ngramStats).
    // Natural corpus text has no newlines and few duplicate n-grams, so the
    // query plants deterministic repetition the oracle mirrors exactly:
    // words' = words ++ first-10-words (guarantees duplicated 5-grams), lines
    // = 5-word chunks of words' ++ a copy of the first 2 chunks (guarantees
    // duplicate lines), denominator = chars of the planted text.
    "q_repetition" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val words0 = split(lower(col("text")), " ")
      val words = concat(words0, slice(words0, 1, 10))
      val denom = length(
        concat(lower(col("text")), lit(" "), concat_ws(" ", slice(words0, 1, 10))))
      // words/chunks materialized stepwise: the chunk lambda reads the
      // outer words array per element and `lines` reads chunks twice — as
      // raw expressions each read would re-run the split (O(n²) per doc)
      val chunks = transform(
        sequence(lit(0), ceil(size(col("_w")) / 5.0).cast("int") - 1),
        i => concat_ws(" ", slice(col("_w"), i * 5 + 1, lit(5))))
      val lines = concat(col("_chunks"), slice(col("_chunks"), 1, 2))
      val lineRows = docs.select(col("doc_id"), words.as("_w"))
        .select(col("doc_id"), chunks.as("_chunks"))
        .select(col("doc_id"), explode(lines).as("line"))
      val lm = Repetition.lineStats(lineRows, "doc_id", "line")
      val m2 = Repetition
        .ngramStats(docs, "doc_id", words, denom, 2)
        .withColumnRenamed("top_ngram_char_frac", "top_2gram_char_frac")
        .drop("dup_ngram_char_frac")
      val m5 = Repetition
        .ngramStats(docs, "doc_id", words, denom, 5)
        .withColumnRenamed("dup_ngram_char_frac", "dup_5gram_char_frac")
        .drop("top_ngram_char_frac")
      // line stats cover every document (any non-empty text yields >=1
      // chunk); the n-gram legs drop docs shorter than n words, so left-join
      // + zero-fill per ngramStats' documented contract
      lm.join(m2, Seq("doc_id"), "left").join(m5, Seq("doc_id"), "left")
        .select(col("doc_id"), col("dup_line_frac"), col("dup_line_char_frac"),
          coalesce(col("top_2gram_char_frac"), lit(0.0)).as("top_2gram_char_frac"),
          coalesce(col("dup_5gram_char_frac"), lit(0.0)).as("dup_5gram_char_frac"))
    }),

    // Cross-document shared-passage spans (Passages.sharedPassageSpans,
    // n = 8 token windows, xxhash64 keys). Natural cross-doc 8-gram overlap
    // exists but is sparse, so a 12-word constant passage is planted at the
    // HEAD of docs ≡0 (mod 3) and the TAIL of docs ≡1 (mod 3); ≡2 docs carry
    // only their natural text. The oracle replays the same plant with
    // string-keyed grams — identical spans absent 64-bit collisions.
    "q_passage_spans" -> ((s, dir) => {
      val plant = PassagePlant.split(" ").toSeq
      val words0 = split(lower(col("text")), " ")
      val planted = when(col("doc_id") % 3 === 0, concat(array(plant.map(lit): _*), words0))
        .when(col("doc_id") % 3 === 1, concat(words0, array(plant.map(lit): _*)))
        .otherwise(words0)
      Passages
        .sharedPassageSpans(t(s, dir, "documents"), "doc_id", planted, 8)
        .select(col("doc_id"), col("start_tok").cast("long").as("start_tok"),
          col("end_tok").cast("long").as("end_tok"), col("n_windows"))
    }),

    // Exact-substring REMOVAL (Passages.removeSharedPassages, n = 8):
    // same plant as q_passage_spans; every duplicated-passage occurrence
    // is cut except the minimum-id owner's copy, and the oracle replays
    // the identical keeper/anti-join/rebuild over string grams — the hash
    // compare pins the full rebuilt texts, not just span counts.
    "q_passage_dedup" -> ((s, dir) => {
      val plant = PassagePlant.split(" ").toSeq
      val words0 = split(lower(col("text")), " ")
      val planted = when(col("doc_id") % 3 === 0, concat(array(plant.map(lit): _*), words0))
        .when(col("doc_id") % 3 === 1, concat(words0, array(plant.map(lit): _*)))
        .otherwise(words0)
      Passages.removeSharedPassages(t(s, dir, "documents"), "doc_id", planted, 8)
        .select(col("doc_id"), col("text"),
          col("n_kept"), col("n_dropped").cast("long").as("n_dropped"))
    }),

    // Benchmark decontamination (Passages.contaminationHits, n = 8): eval
    // corpus = docs ≡0 (mod 37) with a planted 8-word eval marker appended;
    // training corpus = the rest, with the same marker planted on docs
    // ≡3 (mod 11) — those train docs are contaminated by construction, plus
    // whatever natural 8-gram overlap exists (mirrored by the oracle).
    "q_decontaminate" -> ((s, dir) => {
      val (train, evalDocs) = decontamInputs(s, dir)
      Passages.contaminationHits(train, evalDocs, "doc_id", "words", 8)
    }),

    // Same decontamination, large-eval-set regime: bloom pre-probe + exact
    // shuffled confirm (Passages.contaminationHitsBloom). fpp = 0.3 is
    // deliberately aggressive so the pre-filter passes real false positives
    // at sf scale — the exact confirm must remove every one of them for the
    // shared oracle to hash-match.
    "q_decontam_bloom" -> ((s, dir) => {
      val (train, evalDocs) = decontamInputs(s, dir)
      Passages.contaminationHitsBloom(train, evalDocs, "doc_id", "words", 8, fpp = 0.3)
    }),

    // C4-style global line dedup (LineDedup.dropGlobalDuplicateLines):
    // lines = 5-word chunks of the doc text; a constant boilerplate line is
    // planted on docs ≡0 (mod 2) at the head and AGAIN at the tail of docs
    // ≡0 (mod 6) (within-doc repeat of a global dup), and docs ≡0 (mod 7)
    // repeat their own first chunk (within-doc dup of a natural line). The
    // oracle replays the plant string-keyed; keeper = lexicographic min
    // (doc_id, idx) on both sides.
    "q_line_dedup" -> ((s, dir) => {
      val id = col("doc_id")
      val none = array().cast("array<string>")
      val boiler = array(lit(LineBoiler))
      val words0 = split(lower(col("text")), " ")
      val chunks = transform(
        sequence(lit(0), ceil(size(words0) / 5.0).cast("int") - 1),
        i => concat_ws(" ", slice(words0, i * 5 + 1, lit(5))))
      val lines = concat(
        when(id % 2 === 0, boiler).otherwise(none),
        chunks,
        when(id % 6 === 0, boiler).otherwise(none),
        when(id % 7 === 0, slice(chunks, 1, 1)).otherwise(none))
      LineDedup
        .dropGlobalDuplicateLines(t(s, dir, "documents"), "doc_id", lines)
        .select(id, col("text"), col("n_kept"), col("n_dropped"))
    }),

    // PII scrub (Pii.piiCount/redact): the corpus text is PII-free by
    // construction, so deterministic emails / IPv4s / phones / AKIA tokens
    // are planted per doc_id residue class (classes overlap, so docs carry
    // 0-4 PII kinds); the oracle replays the plant and runs the IDENTICAL
    // regex patterns in RE2 — the hash compare pins the full redacted text.
    "q_pii" -> ((s, dir) => {
      val id = col("doc_id")
      val planted = concat(
        col("text"),
        when(id % 3 === 0, concat(lit(" contact user"), id, lit("@example"),
          id % 7, lit(".org now"))).otherwise(lit("")),
        when(id % 4 === 1, concat(lit(" from host 10."), id % 256, lit("."),
          id % 100, lit("."), id % 250)).otherwise(lit("")),
        when(id % 5 === 2, concat(lit(" call +1 555-01"), id % 10, lit("-"),
          (id % 9000) + 1000)).otherwise(lit("")),
        when(id % 37 === 5, concat(lit(" token AKIA"),
          lpad(id.cast("string"), 16, "0"), lit(" end"))).otherwise(lit("")))
      t(s, dir, "documents")
        .select(id, planted.as("pt"))
        .select(id,
          Pii.emailCount(col("pt")).cast("long").as("n_emails"),
          Pii.ipv4Count(col("pt")).cast("long").as("n_ipv4"),
          Pii.phoneCount(col("pt")).cast("long").as("n_phones"),
          Pii.keyCount(col("pt")).cast("long").as("n_keys"),
          Pii.piiCount(col("pt")).cast("long").as("n_pii"),
          Pii.redact(col("pt")).as("redacted"))
    }),

    // End-to-end crawl-funnel smoke (rows-only: the funnel composes every
    // gate + the dedup pipeline — no single SQL replay exists; the exact
    // closed-form stage counts are pinned by CrawlSmokeSpec instead): a
    // deterministic MESSY warc.gz (404s, request records, non-English,
    // lorem boilerplate, binary payloads, mirrors, near-dups, PII) driven
    // through readPages → extraction → curation → DedupPipeline.
    "q_cc_smoke" -> ((s, _) => graft.synth.CrawlSmoke.funnelReport(s, nSites = 48)),

    // ---------- multimodal ----------

    // Binary-asset metadata path: text → payload bytes → typed meta.
    "q_multimodal_meta" -> ((s, dir) => {
      Multimodal.decodeFeatures(Multimodal.syntheticAssets(s, t(s, dir, "documents")))
        .toDF()
        .select(col("asset_id"), col("kind"), col("n_bytes").cast("long").as("n_bytes"))
    }),

    // mp4/webm container-METADATA walk (no codec needed, unlike frame
    // decode): deterministic spec-valid payloads are built from doc_id
    // (even → ISO BMFF moov/mvhd/tkhd, odd → EBML Segment/Info/Tracks)
    // and the header walk must round-trip the closed form — 16.16 fixed
    // dimensions, EBML varints, timescale→ms conversion all pinned.
    "q_container_meta" -> ((s, dir) => {
      import s.implicits._
      val assets = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val durMs = 1000L + id % 9000
          val nT = 1 + (id % 3).toInt
          val w = 320 + (id % 4).toInt * 160
          val h = 240 + (id % 4).toInt * 120
          val payload =
            if (id % 2 == 0) ContainerMeta.syntheticMp4(durMs, nT, w, h)
            else ContainerMeta.syntheticWebm(durMs, nT, w, h)
          Multimodal.MediaAsset(id, payload,
            Multimodal.MediaMeta("video", w, h, durMs, 0, "none"))
        }
      ContainerMeta.containerMeta(assets)
        .select(col("asset_id"), col("container"), col("duration_ms"),
          col("n_tracks").cast("long").as("n_tracks"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"))
    }),

    // Full decode→featurize path, exploded to (asset_id, bin, n_in_bin)
    // rows: the L1-normalized float32 histogram is de-normalized back to
    // integer bin counts (round(v·n) — exact for n ≤ 4096 given float32's
    // ~1e-7 relative error), which sorts and hashes stably in the driver
    // and is closed-form in DuckDB (StubDecoder maps byte b to bin b÷16).
    "q_multimodal_features" -> ((s, dir) => {
      Multimodal.decodeFeatures(Multimodal.syntheticAssets(s, t(s, dir, "documents")))
        .toDF()
        .select(col("asset_id"), col("n_bytes"),
          posexplode(col("feature")).as(Seq("bin", "v")))
        .select(col("asset_id"), col("bin").cast("long").as("bin"),
          round(col("v").cast("double") * least(col("n_bytes"), lit(4096)))
            .cast("long").as("n_in_bin"))
    }),

    // Perceptual image hash (graft-added): dHash — 9×8 area-mean grid →
    // 64 horizontal-gradient bits; invariant to affine brightness/contrast
    // maps and to exact pixel-replication upscales. The hash column is the
    // direct input of SimHashDedup.nearDupPairs, so IMAGE near-dup pairs
    // reuse the Manku block machinery unchanged (real-image invariances
    // and the pair reuse are pinned in TrainingOpsSpec; this query drives
    // the stub closed form through the exact same grid/bit arithmetic so
    // the oracle pins the hash math bit-for-bit). Split into 32-bit halves
    // because DuckDB SUM would otherwise walk into HUGEINT.
    "q_image_phash" -> ((s, dir) => {
      Multimodal.imageDHashes(
          Multimodal.syntheticAssets(s, t(s, dir, "documents")), real = false)
        .select(col("id").as("asset_id"),
          shiftrightunsigned(col("simhash"), 32).as("hash_hi"),
          col("simhash").bitwiseAND(lit(0xffffffffL)).as("hash_lo"))
    }),

    // Frame sampling (video-shaped explode stage): 16-sample frames, keep
    // every 2nd. Closed form: n_frames = ceil(floor(n_bytes/16) / 2) per
    // asset (texts are ASCII and < 4096 bytes, so n_bytes = strlen). The
    // frame aggregate is LEFT-JOINED from the full asset list so an asset
    // too short to emit any frame (< 16 bytes) still yields a row
    // (n_frames = 0, last_idx = -2 — matching the oracle's formula at
    // strlen < 16) instead of silently depending on a min-length corpus
    // property.
    "q_multimodal_frames" -> ((s, dir) => {
      val assets = Multimodal.syntheticAssets(s, t(s, dir, "documents"))
      val perAsset = Multimodal.sampleFrames(assets, frameLen = 16, stride = 2)
        .groupBy("asset_id")
        .agg(count(lit(1)).as("cnt"), max(col("frame_idx")).cast("long").as("mx"))
      assets.toDF().select(col("asset_id"))
        .join(perAsset, Seq("asset_id"), "left")
        .select(col("asset_id"),
          coalesce(col("cnt"), lit(0L)).as("n_frames"),
          coalesce(col("mx"), lit(-2L)).as("last_idx"))
    }),

    // URL canonicalization (narrow, codegen'd — the crawl-capture analog of
    // the reference's citation field normalizers). Messy URLs are BUILT
    // from doc_id so the canonical forms have closed-form oracles:
    // scheme/host case + www + :443 + trailing slash + tracking params +
    // param order + fragment all fold away.
    "q_url_canon" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val full = concat(lit("HTTPS://WWW.Site"), col("doc_id") % 7,
        lit(".com:443/Path/"), col("doc_id"), lit("/?utm_source=x&b=2&a=1#f"))
      val port = concat(lit("http://Host"), col("doc_id"), lit(".org:80/"))
      val tracking = concat(lit("https://x.com/p"), col("doc_id"),
        lit("?utm_campaign=1&fbclid=2"))
      // percent-encoding axes: %7e decodes (unreserved), %2f keeps its
      // bytes but uppercases hex, '+' in the query folds to %20, %41%5A
      // decode to their letters
      val pct = concat(lit("https://ex.com/p%7e"), col("doc_id"),
        lit("/%2fx?q=a+b&n=%41%5A"))
      docs.select(col("doc_id"),
        UrlOps.canonicalizeUrl(full).as("canon_full"),
        UrlOps.canonicalizeUrl(port).as("canon_port"),
        UrlOps.canonicalizeUrl(tracking).as("canon_tracking"),
        UrlOps.canonicalizeUrl(pct).as("canon_pct"))
    }),

    // Canonical-URL dedup: two capture spellings of every logical page
    // (www+:443+trailing-slash+utm vs bare) collapse to one canonical key;
    // an exact groupBy keeps the earliest capture. This is the cheap
    // pre-pass that shrinks what the MinHash stages must chew.
    "q_url_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val a = docs.select(col("doc_id"),
        concat(lit("HTTPS://WWW.D"), col("doc_id") % 50,
          lit(".com:443/a/?utm_source=t")).as("url"))
      val b = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("https://d"), col("doc_id") % 50, lit(".com/a")).as("url"))
      a.union(b)
        .groupBy(UrlOps.canonicalizeUrl(col("url")).as("canon_url"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_captures"))
    }),

    // Latest-capture collapse (graft-added): 100 logical pages, ~5 captures
    // each across two URL spellings (www+:443 vs bare — canonicalization
    // folds them), capture time monotone in doc_id. The keeper per page is
    // the max-id capture; the DuckDB oracle is the TRUE dual (same grouped
    // max over the same canonical key).
    "q_latest_capture" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val spelled = when(col("doc_id") % 2 === 0,
        concat(lit("https://WWW.s"), col("doc_id") % 100, lit(".example.com:443/p")))
        .otherwise(concat(lit("https://s"), col("doc_id") % 100, lit(".example.com/p")))
      val pages = docs.select(
        col("doc_id"), spelled.as("url"),
        timestamp_seconds(lit(1700000000L) + col("doc_id")).as("warc_ts"))
      UrlOps.latestCapture(pages)
        .select(col("doc_id"), col("url"), col("warc_ts"))
    }),

    // Per-domain corpus stats (partial-agg'd shuffle on the host key —
    // the input to domain-level quality gates and contribution caps).
    // Quality is summed as exact integer millionths so the oracle compare
    // never rides on cross-engine float-sum order.
    "q_domain_stats" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val url = concat(lit("https://News-"), col("doc_id") % 20,
        lit(".example.com/a/"), col("doc_id"))
      docs.select(UrlOps.hostOf(url).as("domain"), col("text"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount(col("text")).cast("long")).as("sum_tokens"),
          sum(round(TextOps.qualityScore(col("text")) * 1000000).cast("long"))
            .as("sum_quality_ppm"))
    }),

    // Per-domain length gate: keep docs at least half as long (in tokens)
    // as their domain's longest doc. groupBy(max) + equi-join back — NOT a
    // window over the domain key: a hot domain (every crawl has one) would
    // sort in a single task, while the aggregate partial-aggregates
    // map-side and AQE can skew-split the join.
    "q_domain_filter" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val url = concat(lit("https://News-"), col("doc_id") % 20,
        lit(".example.com/a/"), col("doc_id"))
      val slim = docs.select(col("doc_id"), UrlOps.hostOf(url).as("domain"),
        TextOps.tokenCount(col("text")).cast("long").as("toks"))
      val maxes = slim.groupBy("domain").agg(max("toks").as("max_toks"))
      slim.join(maxes, "domain")
        .filter(col("toks") * 2 >= col("max_toks"))
        .select("doc_id", "domain", "toks")
    }),

    // ---------- deterministic data mixing (md5-hex-rank keyed) ----------

    // Per-source stratified Bernoulli sample: keep/drop decided by each
    // row's own md5 rank vs a per-stratum hex threshold, so the oracle
    // replicates the exact keep set, not just its statistics.
    "q_mix_stratified" -> ((s, dir) => {
      Mixing.stratifiedSample(
          t(s, dir, "documents").select("doc_id", "source"),
          col("source"), col("doc_id"), MixRates, 0.5, "mixs")
        .select("doc_id", "source")
    }),

    // Epoch-style oversampling: stratum weight 2.5 → 2 copies + a rank-
    // decided 3rd; weight 0.5 → a rank-decided single copy; weight 1 →
    // exactly one copy.
    "q_mix_oversample" -> ((s, dir) => {
      Mixing.oversample(
          t(s, dir, "documents").select("doc_id", "source"),
          col("source"), col("doc_id"), MixWeights, 1.0, "mixo")
        .select("doc_id", "source", "copy_id")
    }),

    // Per-domain cap: at most 8 docs per source, chosen by md5 rank
    // (deterministic uniform pick). Runs on the bounded TopKAgg — per-group
    // state capped at k on the map side — NOT a row_number window; the
    // oracle IS that window, so the hash compare pins the equivalence.
    "q_domain_cap" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"),
          struct(Mixing.hashRank("cap", col("doc_id")).as("r"), col("doc_id")).as("rd"))
        .groupBy("source")
        .agg(top_k(col("rd"), 8).as("kept"))
        .select(col("source"), explode(col("kept")).as("rd"))
        .select(col("source"), col("rd.doc_id").as("doc_id"))
    }),

    // Deterministic n-way split assignment: stable under re-runs,
    // repartitioning, and corpus growth (a new row never moves an old
    // row's label).
    "q_mix_split" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        Mixing.splitAssign(col("doc_id"), "split", MixSplits).as("split"))
    }),

    // Fixed-length token windowing (pretraining sequence prep): narrow
    // explode of per-doc windows, exact boundaries pinned by the oracle.
    "q_chunk_windows" -> ((s, dir) => {
      Chunking.fixedTokenWindows(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          col("text"), ChunkSize, ChunkStride)
        .select("doc_id", "chunk_id", "chunk_text", "chunk_tokens")
    }),

    // Token-budget cutoff: fill MixBudget tokens from the md5-rank order.
    // The operator finds the cut rank via bucketed histograms (no global
    // window); the oracle IS the global window — the hash compare proves
    // the two forms select the identical row set.
    "q_mix_token_budget" -> ((s, dir) => {
      val slim = t(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokenCount(col("text")).cast("long").as("toks"))
      Mixing.tokenBudget(slim, col("toks"), col("doc_id"), MixBudget, "mixb")
        .select("doc_id", "toks")
    }),

    // Bucketed range join: events matched to enclosing 30-min intervals
    // via interval binning — an EQUI-join on bin id plus an exact filter,
    // never the BroadcastNestedLoopJoin Spark picks for raw inequality
    // joins. The oracle is the raw inequality join, pinning equivalence.
    "q_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val points = ev.select(col("event_id"), unix_timestamp(col("ts")).as("pts"))
      val intervals = ev.filter(col("event_id") % 100 === 0)
        .select(col("event_id").as("interval_id"),
          unix_timestamp(col("ts")).as("lo"),
          (unix_timestamp(col("ts")) + 1800).as("hi"))
      RangeJoin.pointInInterval(points, "pts", intervals, "lo", "hi", 600L)
        .select("interval_id", "event_id")
    }),

    // Sink round trip: write documents through CorpusSink (lang-
    // partitioned, sorted, size-capped, write-group salted) and aggregate
    // what comes back — the oracle aggregates the source table directly,
    // so the hash compare proves the sink loses/duplicates nothing.
    "q_sink_roundtrip" -> ((s, dir) => {
      // per-scale path so a bench (sf0.1) overlapping a verify (sf0.01)
      // can't clobber the other's files; mode("overwrite") inside the
      // sink clears stale contents, so the leak is bounded at one dir
      // per scale factor
      val out = "/tmp/graft-sink-roundtrip-" +
        java.nio.file.Paths.get(dir).getFileName.toString
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextOps.tokenCount(col("text")).cast("long").as("toks"))
      graft.io.CorpusSink.writeSorted(docs, out, Seq("lang"),
        Seq("toks", "doc_id"), maxRecordsPerFile = 100L)
      s.read.parquet(out).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"),
          sum("toks").as("sum_toks"))
    }),

    // Trained quality scorer (rows-only: iterative float optimization has
    // no closed DuckDB form — separation semantics pinned in
    // QualityModelSpec): weak-label at the corpus's ~median quality ratio
    // (0.78 splits the synthetic corpus ≈50/50 at every sf — a 0.5
    // threshold would label EVERYTHING 1.0 and the fit would degenerate
    // to a constant model), train on the even-id half, score everything.
    "q_quality_model" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val labeled = docs.withColumn("label",
        (TextOps.qualityScore(col("text")) >= 0.78).cast("double"))
      val model = QualityModel.train(
        labeled.filter(col("doc_id") % 2 === 0), col("text"), "label")
      QualityModel.score(model, docs, col("text"))
        .select("doc_id", "quality_prob")
    }),

    // Corpus-frequency LM quality signal (CCNet idea) in integer-exact
    // form: per-token weight floor(log2(corpus count))+1 via a bounded
    // broadcast vocabulary; doc score = (n_toks, sum_w) integers.
    "q_lm_score" -> ((s, dir) => {
      val (_, scores) = LmScore.logFreqScore(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", LmVocabSize)
      scores.select("doc_id", "n_toks", "sum_w")
    }),

    // CCNet-style per-language quality terciles (Wenzek 2020 §4.3) over
    // the integer-exact LM score: per-language percentile cuts + a
    // broadcast join-back — no window/ntile. The oracle replays the
    // identical score, mean, quantile_cont cuts, and CASE on the same
    // rounded doubles.
    "q_lm_terciles" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (_, scores) = LmScore.logFreqScore(
        docs.select(col("doc_id"), col("text")),
        "doc_id", "text", LmVocabSize)
      val withLang = scores.join(
        docs.select(col("doc_id"), TextOps.langId(col("text")).as("lang")),
        "doc_id")
      LmScore.tercileBuckets(withLang)
        .select(col("doc_id"), col("lang"), col("mean_w"), col("bucket"))
    }),

    // As-of join: every event matched to the latest reference event (the
    // ~6% event_id % 17 == 0 subset) at or before it, per user — the
    // single-pass merge (one shuffle + linear scan), not a nested-loop or
    // per-key re-aggregation. The oracle is DuckDB's native ASOF JOIN.
    "q_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      // ts is TIMESTAMP_NTZ; the cast to (UTC-session) TIMESTAMP is an
      // identity relabel, matching DuckDB's epoch_us on the naive value
      val leftDf = ev.select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("pts"))
      val rightDf = ev.filter(col("event_id") % 17 === 0)
        .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("rts"),
          col("event_id").as("ref_id"))
      AsOfJoin.latestPrior(leftDf, rightDf, Seq("user_id"), "pts", "rts")
        .select("event_id", "user_id", "pts", "ref_id", "asof_ts")
    }),

    // ---------- citation parsing (reference API surface) ----------

    // RIS round-trip: build a RIS blob per document row, parse it back with
    // the distributed parser, verify the extracted fields against string ops.
    "q_cite_ris" -> ((s, dir) => {
      import s.implicits._
      val blobs = t(s, dir, "documents").select(
        concat(
          lit("TY  - JOUR\nID  - "), col("doc_id").cast("string"),
          lit("\nTI  - "), substring(col("text"), 1, 40),
          lit("\nVL  - "), (col("doc_id") % 50).cast("string"),
          lit("\nSP  - 10\nEP  - 25\nER  -")).as("blob")).as[String]
      RisParser.parse(blobs).toDF()
        .select(col("pmid").cast("long").as("doc_id"), col("title"),
          col("volume"), col("pages"))
    }),

    // PubMed .nbib round-trip: blob per document, parsed distributed;
    // exercises tag split, DP date parse, and record assembly.
    "q_cite_pubmed" -> ((s, dir) => {
      import s.implicits._
      val blobs = t(s, dir, "documents").select(
        concat(
          lit("PMID- "), col("doc_id").cast("string"),
          lit("\nTI  - "), trim(substring(col("text"), 1, 40)),
          lit("\nVI  - "), (col("doc_id") % 50).cast("string"),
          lit("\nPG  - 10-25\nDP  - "), (lit(1900) + col("doc_id") % 120).cast("string"),
          lit(" Jun 9")
        ).as("blob")).as[String]
      PubMedParser.parse(blobs).toDF()
        .select(col("pmid").cast("long").as("doc_id"), col("title"),
          col("volume"), col("pages"), col("date.year").as("year"),
          col("date.month").as("month"), col("date.day").as("day"))
    }),

    // EndNote XML round-trip: streaming StAX parse; exercises title/journal
    // element dispatch, author name algebra, page-number expansion
    // (100-9 → 100-109), and the nested dates/year walk.
    "q_cite_endnote" -> ((s, dir) => {
      import s.implicits._
      val blobs = t(s, dir, "documents").select(
        concat(
          lit("<?xml version=\"1.0\"?><records><record><titles><title>"),
          trim(substring(col("text"), 1, 40)),
          lit("</title><secondary-title>Journal of Graft</secondary-title></titles>"),
          lit("<contributors><authors><author>Smith, John</author></authors></contributors><volume>"),
          (col("doc_id") % 50).cast("string"),
          lit("</volume><pages>100-9</pages><dates><year>"),
          (lit(1900) + col("doc_id") % 120).cast("string"),
          lit("</year></dates></record></records>")).as("blob")).as[String]
      EndNoteXmlParser.parse(blobs).toDF()
        .select(col("title"), col("journal"), col("volume"), col("pages"),
          col("date.year").as("year"), col("authors")(0)("name").as("family"),
          col("authors")(0)("given_name").as("given"))
    }),

    // CSV round-trip: header mapping, quoted fields, page expansion,
    // year-only date parse.
    "q_cite_csv" -> ((s, dir) => {
      import s.implicits._
      val blobs = t(s, dir, "documents").select(
        concat(
          lit("title,volume,pages,year\n\""),
          col("doc_id").cast("string"), lit(" "), trim(substring(col("text"), 1, 30)),
          lit("\","), (col("doc_id") % 50).cast("string"),
          lit(",100-9,"), (lit(1900) + col("doc_id") % 120).cast("string")
        ).as("blob")).as[String]
      CsvParser.parse(blobs).toDF()
        .select(col("title"), col("volume"), col("pages"), col("date.year").as("year"))
    }),

    // Content-based format auto-detect + dispatch (lib.rs:328-379): one
    // blob per doc cycling RIS / PubMed / EndNote XML.
    "q_cite_detect" -> ((s, dir) => {
      import s.implicits._
      val blobs = t(s, dir, "documents").select(
        when(col("doc_id") % 3 === 0,
          concat(lit("TY  - JOUR\nID  - "), col("doc_id").cast("string"),
            lit("\nTI  - t\nER  -")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("PMID- "), col("doc_id").cast("string"), lit("\nTI  - t")))
        .otherwise(
          concat(lit("<?xml version=\"1.0\"?><records><record><titles><title>"),
            col("doc_id").cast("string"), lit("</title></titles></record></records>")))
        .as("blob")).as[String]
      FormatDetect.parse(s, blobs).toDF("format", "citation")
        .select(
          coalesce(col("citation.pmid"), col("citation.title")).cast("long").as("doc_id"),
          col("format"))
    }),

    // Parse-error surface (error.rs:35-129 parity): RIS blobs with planted
    // malformed records at known positions — per doc, record 1 carries an
    // unlexable line (line 7 of the blob) and no title, so the issue rows
    // have closed form: one ignored_line at (1, 7) and one missing_value
    // for TI at record 1.
    "q_cite_errors" -> ((s, dir) => {
      import s.implicits._
      val blobs = t(s, dir, "documents").select(
        col("doc_id").cast("long").as("doc_id"),
        concat(
          lit("TY  - JOUR\nID  - "), col("doc_id"),
          lit("\nTI  - t"), col("doc_id"),
          lit("\nER  -\nTY  - JOUR\nID  - x"), col("doc_id"),
          lit("\n!! bad "), col("doc_id"),
          lit("\nER  -")).as("blob")).as[(Long, String)]
      blobs.flatMap { case (id, blob) =>
        RisParser.parseAccounted(blob)._2.map(i =>
          (id, i.record_idx.toLong, i.line.toLong, i.kind, i.key, i.value))
      }.toDF("doc_id", "record_idx", "line", "kind", "tag", "content")
    }),

    // Reference-predicate citation dedup end-to-end (dedupe.rs:608-690):
    // two planted copies per document (identical title/journal/volume/pages/
    // year, distinct row_idx) → year blocking → fuzzy self-join → connected
    // components → representative selection. Closed-form truth: rows 2i and
    // 2i+1 form group 2i with the lower row as unique.
    "q_cite_dedup" -> ((s, dir) => {
      val base = t(s, dir, "documents").select(
        col("doc_id").cast("long").as("doc_id"),
        concat(col("doc_id").cast("string"), lit(" "),
          trim(substring(col("text"), 1, 40))).as("title"),
        concat(lit("journal "), (col("doc_id") % 7).cast("string")).as("journal"),
        (col("doc_id") % 50).cast("string").as("volume"),
        lit("10-25").as("pages"),
        (lit(1900) + col("doc_id") % 120).cast("int").as("yr"))
      def side(off: Int) = base.select(
        (col("doc_id") * 2 + off).as("row_idx"), lit("").as("source"),
        col("title"), col("journal"), lit(null).cast("string").as("journal_abbr"),
        col("volume"), col("pages"), array().cast("array<string>").as("issn"),
        lit(null).cast("string").as("doi"),
        struct(col("yr").as("year"), lit(null).cast("int").as("month"),
          lit(null).cast("int").as("day")).as("date"),
        lit(null).cast("string").as("abstract_text"))
      val citations = side(0).union(side(1))
      val opts = CitationDedup.DedupOptions(groupByYear = true)
      CitationDedup.assignGroups(CitationDedup.preprocess(citations, opts), opts)
        .select(col("row_idx"), col("group_id"), col("is_unique"))
    }),

    // BM25 retrieval (Robertson & Zaragoza 2009): score the corpus against
    // a bag-of-words query, top-20. One narrow corpus scan (arrays_overlap
    // pre-gate before the explode), partial-agg'd tf, broadcast idf join,
    // TakeOrderedAndProject. The DuckDB oracle replays the identical
    // formula term for term (idf rounded at the ln, scores rounded after
    // the sum — see Bm25's float-discipline note).
    "q_bm25" -> ((s, dir) =>
      graft.text.Bm25.topK(t(s, dir, "documents"), "doc_id", "text",
        Bm25QueryTerms, 20)),

    // BATCH BM25: every query doc retrieves its top-5 corpus docs in ONE
    // job (the contamination-audit shape). Ranking runs on the bounded
    // top_k aggregate (k rows per map task, never a 10⁶-row window
    // partition); the oracle IS the row_number window it replaces, so the
    // hash compare pins the equivalence.
    "q_bm25_batch" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Bm25.topKBatch(docs, "doc_id", "text",
        docs.filter(col("doc_id") < 5), "doc_id", "text", 5)
    }),

    // Cross-corpus near-dup pairs (fuzzy decontamination): candidates ONLY
    // across sides, verified with exact truncated-shingle Jaccard. CLOSED
    // FORM via the salted corpus: right = exact twins of docs ≡0 (mod 3)
    // at id+10⁶; left additionally carries twins of docs <10 at id+2·10⁶ —
    // the twins match the right copy (two left docs share one right bucket,
    // exercising >2-member buckets) but NEVER each other (within-side pairs
    // are excluded by construction), and cross-doc shingle sets are
    // disjoint so accidental band collisions die at verification.
    "q_cross_dedup" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"), saltedTokens.as("text"))
      val left = base.union(
        base.filter(col("id") < 10)
          .select((col("id") + 2000000L).as("id"), col("text")))
      val right = base.filter(col("id") % 3 === 0)
        .select((col("id") + 1000000L).as("id"), col("text"))
      graft.dedup.CrossCorpus.nearDupPairs(left, right,
        graft.dedup.CrossCorpus.Config(shingleK = 3))
        .orderBy("a", "b")
    }),

    // Snapshot diff: per-url verdicts between two crawl snapshots (added /
    // removed / changed / unchanged by content fingerprint) — one
    // co-partitioned full-outer join on slim projections. The oracle is a
    // TRUE SQL dual (same relations, same FULL OUTER JOIN + CASE).
    "q_snapshot_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val prev = docs.filter(col("doc_id") % 5 =!= 4)
        .select(concat(lit("doc://"), col("doc_id")).as("url"),
          md5(col("text")).as("content_hash"))
      val next = docs.filter(col("doc_id") % 5 =!= 3)
        .select(concat(lit("doc://"), col("doc_id")).as("url"),
          md5(when(col("doc_id") % 5 === 2, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))).as("content_hash"))
      graft.io.SnapshotDiff.diff(prev, next)
    }),

    // Script-mix profile: exact per-script codepoint counts + dominant
    // script of the planted (non-ASCII) suffix — integer-exact on both
    // engines, so the oracle replays the identical regex formulas with no
    // float discipline.
    "q_script_profile" -> ((s, dir) => {
      val plant = when(col("doc_id") % 4 === 1, lit(ScriptPlants(0)))
        .when(col("doc_id") % 4 === 2, lit(ScriptPlants(1)))
        .when(col("doc_id") % 4 === 3, lit(ScriptPlants(2)))
        .otherwise(lit(""))
      val full = concat(col("text"), plant)
      val countCols = TextOps.scriptCounts(full)
        .map { case (name, c) => c.as(s"n_$name") }
      t(s, dir, "documents").select(
        col("doc_id") +: countCols :+
          TextOps.dominantScript(plant).as("plant_script"): _*)
    }),

    // Soft dedup: per-doc training weight 1/|family| from a cluster table
    // (down-weight duplicate families instead of deleting them). The
    // synthetic families have VARIABLE sizes (cluster k = doc_ids in
    // [k², (k+1)²), i.e. ~2k+1 members). The oracle is a TRUE SQL dual
    // (SoftDedup.weightsSql over the identical cluster relation), not a
    // planted closed form.
    "q_soft_dedup" -> ((s, dir) =>
      graft.dedup.SoftDedup.weights(sqrtClusters(s, dir))),

    // Cluster-size histogram: the one-look dedup report (two partial-agg'd
    // aggregations over bounded key domains).
    "q_dedup_histogram" -> ((s, dir) =>
      graft.dedup.SoftDedup.sizeHistogram(sqrtClusters(s, dir))))

  /** Variable-size synthetic cluster table for the soft-dedup queries:
    * family floor(√doc_id) has ~2k+1 members. sqrt over the small integer
    * doc_id domain is IEEE-exact well past any sf, so floor lands
    * identically in Spark and DuckDB.
    */
  private def sqrtClusters(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id").cast("long").as("doc_id"),
      floor(sqrt(col("doc_id").cast("double"))).cast("long").as("cluster_id"))

  /** Exact n-gram decontamination in DuckDB — shared by `q_decontaminate`
    * and `q_decontam_bloom` (the bloom variant's exact confirm join makes
    * its output bit-identical to the broadcast path).
    */
  private val DecontamOracleSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS w0 FROM documents),
       |ev AS (SELECT doc_id, w0 || string_split('$EvalMarker', ' ') AS words
       |       FROM base WHERE doc_id % 37 = 0),
       |tr AS (SELECT doc_id, CASE WHEN doc_id % 11 = 3
       |         THEN w0 || string_split('$EvalMarker', ' ') ELSE w0 END AS words
       |       FROM base WHERE doc_id % 37 <> 0),
       |eg AS (SELECT DISTINCT array_to_string(words[i+1 : i+8], ' ') AS gram
       |       FROM ev, unnest(range(0, len(words) - 7)) t(i) WHERE len(words) >= 8),
       |tg AS (SELECT doc_id, array_to_string(words[i+1 : i+8], ' ') AS gram
       |       FROM tr, unnest(range(0, len(words) - 7)) t(i) WHERE len(words) >= 8),
       |hits AS (SELECT doc_id, COUNT(DISTINCT gram) AS n_hits
       |         FROM tg JOIN eg USING (gram) GROUP BY 1)
       |SELECT tr.doc_id, CAST(COALESCE(hits.n_hits, 0) AS BIGINT) AS n_hits
       |FROM tr LEFT JOIN hits USING (doc_id)""".stripMargin

  /** DuckDB replay of `q_hostrank`: the identical edge derivation, then
    * `iters` power iterations UNROLLED as CTE pairs (dangling mass d_i,
    * contributions c_i, ranks r_i) with the same operation structure as
    * [[graft.graph.HostRank.pageRank]] — `(1 - 0.85)` etc. are written as
    * expressions, not pre-folded literals, so both engines evaluate the
    * same IEEE ops (pre-folding `0.15` would parse to a DIFFERENT double
    * than `1 - 0.85` computes). Final ranks rounded to 1e-6 on both sides
    * (contribution sums are order-sensitive at ~1e-15 relative).
    */
  /** DuckDB closed forms of the [[cdxLines]] fixture fields — the oracle
    * side of the CDXJ round trip, including the SURT key the Spark side
    * must derive (www stripped, host labels reversed, query params
    * bytewise-sorted: the fixture plants `?b=&a=`, the key carries
    * `?a=&b=`).
    */
  private val cdxKeySql: String =
    "'com,example-' || CAST(doc_id % 7 AS VARCHAR) || ')/docs/' || " +
      "CAST(doc_id AS VARCHAR) || '?a=' || CAST(doc_id % 3 AS VARCHAR) || " +
      "'&b=' || CAST(doc_id % 5 AS VARCHAR)"
  private val cdxTsSql: String =
    "TIMESTAMP '2026-08-01 00:00:00' + to_seconds(CAST(doc_id % 97 AS BIGINT))"
  private val cdxUrlSql: String =
    "'https://www.example-' || CAST(doc_id % 7 AS VARCHAR) || '.com/docs/' || " +
      "CAST(doc_id AS VARCHAR) || '?b=' || CAST(doc_id % 5 AS VARCHAR) || " +
      "'&a=' || CAST(doc_id % 3 AS VARCHAR)"
  private val cdxDigestSql: String = "'sha1:' || CAST(doc_id % 97 AS VARCHAR)"
  private val cdxFileSql: String =
    "'crawl/seg-' || CAST(doc_id % 8 AS VARCHAR) || '.warc.gz'"
  private def cdxCapturesSql: String =
    s"""SELECT $cdxKeySql AS urlkey, $cdxTsSql AS ts,
       |    $cdxDigestSql AS digest,
       |    CAST(n_chars + 200 AS BIGINT) AS rec_length,
       |    CAST(doc_id * 1000 AS BIGINT) AS rec_offset,
       |    $cdxFileSql AS filename
       |  FROM documents""".stripMargin

  private def hostRankOracleSql(iters: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH e AS (SELECT DISTINCT doc_id % 49 AS src,
      |    (doc_id * 7 + 3) % 50 AS dst FROM documents),
      |nodes AS (SELECT src AS h FROM e UNION SELECT dst AS h FROM e),
      |deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM e GROUP BY src),
      |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
      |r0 AS (SELECT h, 1.0 / (SELECT n FROM nn) AS r FROM nodes)""".stripMargin
    for (i <- 1 to iters) {
      val p = s"r${i - 1}"
      sb ++= s""",
        |d$i AS (SELECT COALESCE(SUM(r), 0.0) AS dm FROM $p
        |  WHERE h NOT IN (SELECT src FROM deg)),
        |c$i AS (SELECT e.dst, SUM($p.r / deg.deg) AS c
        |  FROM e JOIN $p ON e.src = $p.h JOIN deg ON e.src = deg.src
        |  GROUP BY e.dst),
        |r$i AS (SELECT nodes.h,
        |  (1 - 0.85) / (SELECT n FROM nn)
        |    + 0.85 * (COALESCE(c$i.c, 0.0)
        |      + (SELECT dm FROM d$i) / (SELECT n FROM nn)) AS r
        |  FROM nodes LEFT JOIN c$i ON nodes.h = c$i.dst)""".stripMargin
    }
    sb ++= s"\nSELECT CAST(h AS BIGINT) AS host, ROUND(r, 6) AS pagerank FROM r$iters"
    sb.toString
  }

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  sum(l_extendedprice) AS sum_base_price,
        |  sum(l_extendedprice * (1.0 - l_discount)) AS sum_disc_price,
        |  avg(l_quantity) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_join" ->
      """SELECT o_orderkey,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "q_window_events" ->
      """SELECT event_id, user_id, event_type,
        |  row_number() OVER w AS rn,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING), 6) AS running_value,
        |  lag(event_type, 1) OVER w AS prev_type
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,

    "q_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin,

    "q_set_ops" ->
      """SELECT * FROM (
        |  SELECT * FROM (
        |    (SELECT c_custkey AS custkey FROM customer WHERE c_nationkey < 10)
        |    INTERSECT
        |    (SELECT o_custkey FROM orders))
        |  UNION
        |  (SELECT c_custkey FROM customer WHERE c_nationkey = 20))
        |EXCEPT
        |(SELECT o_custkey FROM orders WHERE o_totalprice > 100000)""".stripMargin,

    // outer BIGINT cast: DuckDB sum(BIGINT) returns HUGEINT, which lands in
    // the driver's pandas hash path as float64 and hash-mismatches Spark's
    // int64 even when the values are identical
    "q_json_events" ->
      """SELECT event_type,
        |  CAST(sum(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,

    "q_agg_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |  count(*) AS n_events
        |FROM events GROUP BY event_type""".stripMargin,

    "q_normalize_text" ->
      s"SELECT doc_id, $NormalizeTextSql AS norm_text FROM documents",

    "q_format_doi" ->
      "SELECT doc_id, '10.' || doc_id || '/test' AS doi FROM documents",

    "q_format_pages" ->
      """SELECT doc_id,
        |  CASE WHEN s = substr(s, 1, 2) || e THEN s
        |       ELSE s || '-' || substr(s, 1, 2) || e END AS pages
        |FROM (SELECT doc_id,
        |        CAST(1000 + doc_id % 9000 AS VARCHAR) AS s,
        |        CAST(10 + doc_id % 90 AS VARCHAR) AS e
        |      FROM documents)""".stripMargin,

    "q_normalize_volume" ->
      "SELECT doc_id, regexp_extract('Part A. ' || (doc_id % 500) || 'B', '[0-9]+') AS volume FROM documents",

    "q_format_issn" ->
      """SELECT doc_id, substr(s, 1, 4) || '-' || substr(s, 5, 4) AS issn
        |FROM (SELECT doc_id, lpad(CAST(12340000 + doc_id AS VARCHAR), 8, '0') AS s
        |      FROM documents)""".stripMargin,

    "q_format_journal" ->
      "SELECT doc_id, 'journaloftest' || (doc_id % 9) AS journal FROM documents",

    "q_split_issns" ->
      """SELECT doc_id, '1111-' || lpad(CAST(doc_id % 8999 AS VARCHAR), 4, '0')
        |  || ' (Print)|2345-678X (Electronic)' AS issns
        |FROM documents""".stripMargin,

    "q_convert_unicode" ->
      """SELECT doc_id, 'pre Ab mid <U+ZZZZ> ' || substr(text, 1, 20) AS converted
        |FROM documents""".stripMargin,

    "q_dedup_exact" ->
      s"""SELECT $NormalizeTextSql AS norm_text,
         |  count(*) AS n_docs, min(doc_id) AS representative
         |FROM documents GROUP BY 1""".stripMargin,

    // TRUE dual of the family-preserving probe: same md5 family id, same
    // sample threshold, same two-level grouping
    "q_dup_probe" ->
      DedupProbe.familyHistogramSql("documents", "substr(text, 1, 30)", 0.5, "probe"),

    // closed form of the planted chain components + the splitAssign dual
    // keyed on the component id — members of a block share the label by
    // construction in the oracle, so hash equality proves the Spark side's
    // union-find + cluster-keyed assignment never splits a family
    "q_split_leakage" ->
      s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |  CAST(doc_id - doc_id % 10 AS BIGINT) AS component,
         |  ${Mixing.splitAssignSql("CAST(doc_id - doc_id % 10 AS VARCHAR)",
              "leak", MixSplits)} AS split
         |FROM documents""".stripMargin,

    // identical family text → every within-family sketch estimate is
    // exactly 1.0; the inner sketch joins drop b-side ids that don't exist
    "q_sketch_verify" ->
      """SELECT CAST(d.doc_id AS BIGINT) AS a,
        |  CAST(d.doc_id + 1 AS BIGINT) AS b, CAST(1.0 AS DOUBLE) AS est
        |FROM documents d JOIN documents d2 ON d2.doc_id = d.doc_id + 1
        |WHERE d.doc_id % 5 < 4""".stripMargin,

    "q_dedup_jaccard_pairs" ->
      """SELECT x.doc_id AS a, y.doc_id AS b,
        |  round(CAST(len(list_intersect(x.toks, y.toks)) AS DOUBLE) /
        |        len(list_distinct(list_concat(x.toks, y.toks))), 6) AS jac
        |FROM (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS toks
        |      FROM documents WHERE doc_id < 100) x
        |JOIN (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS toks
        |      FROM documents WHERE doc_id < 100) y
        |  ON x.doc_id < y.doc_id
        |WHERE round(CAST(len(list_intersect(x.toks, y.toks)) AS DOUBLE) /
        |      len(list_distinct(list_concat(x.toks, y.toks))), 6) >= 0.5""".stripMargin,

    "q_dedup_embed_cosine" ->
      """SELECT x.vec_id AS a, y.vec_id AS b,
        |  round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
        |        CAST(y.embedding AS DOUBLE[])), 6) AS cos
        |FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
        |WHERE x.vec_id < 200 AND y.vec_id < 200
        |  AND round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
        |      CAST(y.embedding AS DOUBLE[])), 6) >= 0.2""".stripMargin,

    "q_dedup_embed_lsh" ->
      """SELECT vec_id AS a, vec_id + 1000000 AS b, 1.0 AS cos
        |FROM embeddings""".stripMargin,

    // closed form of the doubled-twin SemDeDup corpus (see the query's
    // construction comment): each group = {vec_id, vec_id + 10⁶},
    // component = the min member, keeper = the original
    "q_semdedup" ->
      """SELECT vec_id AS id, vec_id AS component, true AS kept FROM embeddings
        |UNION ALL
        |SELECT vec_id + 1000000 AS id, vec_id AS component, false AS kept
        |FROM embeddings""".stripMargin,

    "q_text_containment" ->
      """SELECT doc_id,
        |  round(CAST(len(list_intersect(string_split(lower(text), ' '),
        |      string_split(lower(substr(text, 1, 100)), ' '))) AS DOUBLE)
        |    / greatest(CAST(len(list_distinct(string_split(lower(text), ' ')))
        |      AS DOUBLE), 1.0), 6) AS full_in_head,
        |  round(CAST(len(list_intersect(string_split(lower(substr(text, 1, 100)), ' '),
        |      string_split(lower(text), ' '))) AS DOUBLE)
        |    / greatest(CAST(len(list_distinct(string_split(lower(substr(text, 1, 100)), ' ')))
        |      AS DOUBLE), 1.0), 6) AS head_in_full
        |FROM documents""".stripMargin,

    "q_dedup_char_jaccard" ->
      "SELECT doc_id, round(jaccard(text, substr(text, 1, 50)), 6) AS jac FROM documents",

    // closed form from the shingle algebra in the query's comment:
    // jac = (a-2)/(a+10) with a = 20 + doc_id%40; direct iff a >= 50;
    // the verbatim-substring LCS condition holds for every row
    "q_dedup_lcs_rescue" ->
      """SELECT doc_id,
        |  round((a - 2) / CAST(a + 10 AS DOUBLE), 6) AS jac,
        |  a >= 50 AS direct,
        |  true AS rescued_ok
        |FROM (SELECT doc_id, 20 + doc_id % 40 AS a FROM documents)""".stripMargin,

    // closed form of the doubled + token-salted corpus: every doc clusters
    // with exactly its planted twin (see the query's construction comment)
    "q_dedup_minhash_clusters" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(doc_id AS BIGINT) AS cluster_id FROM documents
        |UNION ALL
        |SELECT CAST(doc_id + 1000000 AS BIGINT) AS doc_id,
        |  CAST(doc_id AS BIGINT) AS cluster_id FROM documents""".stripMargin,

    "q_dedup_simhash_pairs" ->
      """SELECT CAST(doc_id AS BIGINT) AS a,
        |  CAST(doc_id + 1000000 AS BIGINT) AS b,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM documents""".stripMargin,

    // closed form of the incremental-vs-batch comparison: every capture
    // clusters with its twin, the earlier capture is the representative,
    // and the incremental partition equals the batch partition
    "q_dedup_incremental" ->
      """SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
        |  'doc://' || CAST(doc_id AS VARCHAR) AS rep_url,
        |  true AS matches_batch FROM documents WHERE doc_id < 1000
        |UNION ALL
        |SELECT 'doc://' || CAST(doc_id + 1000000 AS VARCHAR) AS url,
        |  'doc://' || CAST(doc_id AS VARCHAR) AS rep_url,
        |  true AS matches_batch FROM documents WHERE doc_id < 1000""".stripMargin,

    "q_ann_cosine_topk" ->
      """SELECT query_id, neighbor_id, cos, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |          CAST(q.embedding AS DOUBLE[])), 6) AS cos,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                CAST(q.embedding AS DOUBLE[])), 6) DESC, c.vec_id ASC) AS rank
        |  FROM embeddings c CROSS JOIN embeddings q
        |  WHERE q.vec_id < 10 AND c.vec_id != q.vec_id)
        |WHERE rank <= 3""".stripMargin,

    // closed form of the twin-doubled ANN inputs: top-1 is always the
    // identical twin at cosine exactly 1.0 (see the queries' comments)
    "q_ann_lsh_topk" ->
      """SELECT CAST(vec_id AS BIGINT) AS query_id,
        |  CAST(vec_id + 1000000 AS BIGINT) AS neighbor_id,
        |  CAST(1.0 AS DOUBLE) AS cos, CAST(1 AS BIGINT) AS rank
        |FROM embeddings WHERE vec_id < 50""".stripMargin,

    "q_ann_multiprobe" ->
      """SELECT CAST(vec_id AS BIGINT) AS query_id,
        |  CAST(vec_id + 1000000 AS BIGINT) AS neighbor_id,
        |  CAST(1.0 AS DOUBLE) AS cos, CAST(1 AS BIGINT) AS rank
        |FROM embeddings WHERE vec_id < 50""".stripMargin,

    "q_ann_ivf_topk" ->
      """SELECT CAST(vec_id AS BIGINT) AS query_id,
        |  CAST(vec_id + 1000000 AS BIGINT) AS neighbor_id,
        |  CAST(1.0 AS DOUBLE) AS cos, CAST(1 AS BIGINT) AS rank
        |FROM embeddings WHERE vec_id < 50""".stripMargin,

    "q_ann_ivf_kmeans" ->
      """SELECT CAST(vec_id AS BIGINT) AS query_id,
        |  CAST(vec_id + 1000000 AS BIGINT) AS neighbor_id,
        |  CAST(1.0 AS DOUBLE) AS cos, CAST(1 AS BIGINT) AS rank
        |FROM embeddings WHERE vec_id < 50""".stripMargin,

    "q_embed_norms" ->
      """SELECT vec_id,
        |  round(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
        |        CAST(embedding AS DOUBLE[]))), 6) AS norm
        |FROM embeddings""".stripMargin,

    "q_lang_id" ->
      s"SELECT doc_id, ${TextOps.langIdSql("text")} AS lang_pred FROM documents",

    "q_text_stats" ->
      s"""SELECT doc_id,
         |  ${TextOps.tokenCountSql("text")} AS n_tokens,
         |  ${TextOps.bpeTokenCountSql("text")} AS n_bpe,
         |  ${TextOps.qualityScoreSql("text")} AS quality
         |FROM documents""".stripMargin,

    // same planted docs as the Spark side (VALUES literal — the query is
    // corpus-independent); n_shingles via the closed form (see the query's
    // comment for why it is exact on these docs)
    "q_cjk_segment" -> {
      val values = CjkSegmentDocs.zipWithIndex
        .map { case (text, i) => s"($i, '$text')" }.mkString(", ")
      val ntok = TextOps.cjkTokenCountSql("text")
      s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |  CAST(len(text) - len(regexp_replace(text, '${TextOps.CjkClass}', '', 'g'))
         |    AS BIGINT) AS n_cjk,
         |  $ntok AS n_tokens,
         |  CAST(greatest(1, $ntok - 2) AS BIGINT) AS n_shingles
         |FROM (VALUES $values) AS t(doc_id, text)
         |ORDER BY doc_id""".stripMargin
    },

    // identical per-language quartile threshold + join-back gate
    "q_adaptive_gate" ->
      s"""WITH scored AS (
         |  SELECT doc_id, ${TextOps.langIdSql("text")} AS lang,
         |         CAST(${TextOps.tokenCountSql("text")} AS DOUBLE) AS ntok
         |  FROM documents),
         |th AS (SELECT lang, quantile_cont(ntok, 0.25) AS p25
         |       FROM scored GROUP BY lang)
         |SELECT doc_id, lang, CAST(ntok AS BIGINT) AS n_tokens
         |FROM scored JOIN th USING (lang)
         |WHERE ntok >= p25""".stripMargin,

    // the identical word-count cap + per-position pair explode (lateral
    // unnest over character positions; round-1 symbols are single chars so
    // the pair is the 2-char substring)
    "q_bpe_pairs" ->
      """WITH wc AS (
        |  SELECT w AS word, count(*) AS cnt
        |  FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
        |        FROM documents)
        |  WHERE len(w) > 0 GROUP BY w ORDER BY cnt DESC, word ASC LIMIT 100000
        |),
        |pairs AS (
        |  SELECT substring(word, i, 1) AS a, substring(word, i+1, 1) AS b, cnt
        |  FROM wc, unnest(generate_series(1, len(word)-1)) AS t(i)
        |  WHERE len(word) >= 2
        |)
        |SELECT a, b, CAST(sum(cnt) AS BIGINT) AS cnt FROM pairs GROUP BY a, b
        |ORDER BY cnt DESC, a, b LIMIT 20""".stripMargin,

    // the identical bucket + bit-interleave integer arithmetic
    "q_zorder" -> {
      val xb = graft.io.ZOrder.bucketSql(TextOps.tokenCountSql("text"), 0L, 511L, 8)
      val yb = "(doc_id % 256)"
      s"""SELECT doc_id,
         |  CAST($xb AS BIGINT) AS xb,
         |  CAST($yb AS BIGINT) AS yb,
         |  CAST(${graft.io.ZOrder.mortonKeySql(Seq(xb, yb), 8)} AS BIGINT) AS zkey
         |FROM documents""".stripMargin
    },

    // the identical langId/tokenCount formulas feed DuckDB's exact
    // quantile_cont — the same p*(n-1) interpolation as Spark's percentile
    "q_corpus_quantiles" ->
      s"""SELECT lang,
         |  COUNT(*) AS n_docs,
         |  round(quantile_cont(ntok, 0.10), 6) AS p10,
         |  round(quantile_cont(ntok, 0.50), 6) AS p50,
         |  round(quantile_cont(ntok, 0.90), 6) AS p90,
         |  round(quantile_cont(ntok, 0.99), 6) AS p99,
         |  CAST(max(ntok) AS BIGINT) AS ntok_max
         |FROM (SELECT ${TextOps.langIdSql("text")} AS lang,
         |        CAST(${TextOps.tokenCountSql("text")} AS DOUBLE) AS ntok
         |      FROM documents)
         |GROUP BY lang""".stripMargin,

    // the identical plant, feature extraction, smoothing arithmetic, and
    // ln ratio — target = the mod-15 subset of the planted pool
    "q_dsir_weights" ->
      s"""WITH pool AS (
         |  SELECT doc_id,
         |    text || (CASE WHEN doc_id % 5 = 0 THEN ' $DsirPlant' ELSE '' END) AS text
         |  FROM documents),
         |${Dsir.featsSql("pool", "doc_id", "text")},
         |${Dsir.weightsCtesSql("doc_id", "doc_id % 15 = 0", 1.0)}
         |SELECT doc_id, n_feats, round(dsir_weight, 4) AS dsir_weight
         |FROM weights""".stripMargin,

    // the same weights CTE, then the identical MINSTD-Gumbel key; the
    // inner query orders/limits on the FULL-precision key (as Spark does)
    // and only the projection rounds
    "q_dsir_resample" ->
      s"""WITH pool AS (
         |  SELECT doc_id,
         |    text || (CASE WHEN doc_id % 5 = 0 THEN ' $DsirPlant' ELSE '' END) AS text
         |  FROM documents),
         |${Dsir.featsSql("pool", "doc_id", "text")},
         |${Dsir.weightsCtesSql("doc_id", "doc_id % 15 = 0", 1.0)},
         |keyed AS (
         |  SELECT doc_id, n_feats,
         |    ${Dsir.gumbelKeySql("dsir_weight", "doc_id", 7L, 1.0)} AS k
         |  FROM weights)
         |SELECT doc_id, n_feats, round(k, 4) AS gumbel_key
         |FROM (SELECT * FROM keyed ORDER BY k DESC, doc_id LIMIT 100)""".stripMargin,

    // the identical MINSTD key/bin, per-bin window cumsum, and integer
    // division arithmetic
    "q_pack_assign" ->
      Packing.packAssignmentsSql("documents", "doc_id", "text",
        seqLen = 128, numBins = 8, seed = 5),

    // replants q_fix_mojibake's corruption (as ASCII-safe chr() concat),
    // then runs the IDENTICAL ordered replacement chain
    "q_fix_mojibake" -> {
      val plant = EncodingFix.chrConcat(MojibakePlant)
      s"""WITH c AS (
         |  SELECT doc_id,
         |    text || (CASE WHEN doc_id % 3 = 0 THEN $plant ELSE '' END) AS t
         |  FROM documents),
         |f AS (SELECT doc_id, t, ${EncodingFix.fixMojibakeSql("t")} AS ft FROM c)
         |SELECT doc_id, ft AS fixed_text,
         |  CAST(len(t) - len(ft) AS BIGINT) AS n_removed
         |FROM f""".stripMargin
    },

    // replants q_quality_gopher's decorations, then the same signal formulas
    "q_quality_gopher" -> {
      val p = "(text" +
        " || (CASE WHEN doc_id % 3 = 0 THEN chr(10) || '- alpha bullet item' || chr(10) || '- beta bullet item' || chr(10) || 'plain closing line' ELSE '' END)" +
        " || (CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'trailing thought...' ELSE '' END)" +
        " || (CASE WHEN doc_id % 5 = 0 THEN ' ## # ###' ELSE '' END)" +
        " || (CASE WHEN doc_id % 7 = 0 THEN ' the be to of and that have with' ELSE '' END))"
      s"""SELECT doc_id,
         |  CAST(${GopherGate.nWordsSql(p)} AS BIGINT) AS n_words,
         |  ${GopherGate.meanWordLenSql(p)} AS mean_word_len,
         |  ${GopherGate.symbolWordRatioSql(p)} AS symbol_word_ratio,
         |  ${GopherGate.bulletLineFracSql(p)} AS bullet_line_frac,
         |  ${GopherGate.ellipsisLineFracSql(p)} AS ellipsis_line_frac,
         |  ${GopherGate.alphaWordFracSql(p)} AS alpha_word_frac,
         |  CAST(${GopherGate.stopHitsSql(p)} AS BIGINT) AS stop_hits,
         |  ${GopherGate.passSql(p)} AS gopher_pass
         |FROM documents""".stripMargin
    },

    // replants q_quality_c4's rule-exercising lines, then the same ladder
    "q_quality_c4" -> {
      val p = "(text" +
        " || (CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'no punct line here' || chr(10) || 'this added line has exactly enough words.' ELSE '' END)" +
        " || (CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'the javascript line with enough words is skipped here.' ELSE '' END)" +
        " || (CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'we use cookies and more words in this line.' ELSE '' END)" +
        " || (CASE WHEN doc_id % 6 = 0 THEN chr(10) || 'trailing ellipsis line keeps going and going and going...' ELSE '' END)" +
        " || (CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet consectetur adipiscing elit.' ELSE '' END)" +
        " || (CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'this line holds a curly { bracket among many words.' ELSE '' END)" +
        " || (CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'see the cited claim [12] in context of many words.' ELSE '' END)" +
        " || (CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'this sentence mentions badwordx clearly within many words.' ELSE '' END))"
      val clean = C4Gate.cleanTextSql(p)
      s"""SELECT doc_id,
         |  CAST(${C4Gate.nLinesSql(p)} AS BIGINT) AS n_lines,
         |  CAST(${C4Gate.nKeptLinesSql(p)} AS BIGINT) AS n_kept,
         |  CAST(${C4Gate.nSentencesSql(clean)} AS BIGINT) AS n_sentences,
         |  CAST(len($clean) AS BIGINT) AS clean_len,
         |  ${C4Gate.pageCondemnedSql(p)} AS condemned,
         |  ${C4Gate.hasBadWordSql(clean, Seq("badwordx"))} AS bad_hit,
         |  ${C4Gate.passSql(p, Seq("badwordx"))} AS c4_pass
         |FROM documents""".stripMargin
    },

    // the full funnel replayed stage-by-stage in DuckDB: identical plants,
    // C4/Gopher/lang duals gate, PII dual rewrites, the q_line_dedup
    // string-keyed replica dedups lines, a window-min picks exact keepers
    "q_curation" -> {
      val block = CurationBlock.map(l => s"chr(10) || '$l'").mkString(" || ")
      val p = "(text" +
        s" || (CASE WHEN doc_id % 2 = 0 THEN $block ELSE '' END)" +
        s" || (CASE WHEN doc_id % 10 = 0 THEN chr(10) || '$CurationPiiLine' ELSE '' END)" +
        s" || (CASE WHEN doc_id % 9 = 0 THEN chr(10) || '$CurationBadLine' ELSE '' END))"
      s"""WITH base AS (SELECT doc_id, $p AS text FROM documents),
         |ann AS (SELECT doc_id, ${C4Gate.cleanTextSql("text")} AS ctext,
         |  (NOT ${C4Gate.pageCondemnedSql("text")}) AS not_cond FROM base),
         |gate AS (SELECT doc_id, ctext,
         |  (not_cond AND ${C4Gate.nSentencesSql("ctext")} >= ${C4Gate.MinSentences}
         |   AND NOT ${C4Gate.hasBadWordSql("ctext", CurationBadWords)}
         |   AND ${GopherGate.passSql("ctext")}
         |   AND ${TextOps.langIdSql("ctext")} = 'en') AS survived FROM ann),
         |surv AS (SELECT doc_id, ${Pii.redactSql("ctext")} AS rtext
         |         FROM gate WHERE survived),
         |ls AS (SELECT doc_id, string_split(rtext, chr(10)) AS ls FROM surv),
         |l AS (SELECT doc_id, i AS idx, ls[i+1] AS line
         |      FROM ls, unnest(range(0, len(ls))) t(i)),
         |cnt AS (SELECT line, COUNT(*) AS cnt, MIN(doc_id) AS kid
         |        FROM l GROUP BY 1),
         |k AS (SELECT l.line, MIN(l.idx) AS kidx
         |      FROM l JOIN cnt ON l.line = cnt.line AND l.doc_id = cnt.kid
         |      GROUP BY 1),
         |f AS (SELECT l.doc_id, l.idx, l.line,
         |        (cnt.cnt = 1 OR (l.doc_id = cnt.kid AND l.idx = k.kidx)) AS kept
         |      FROM l JOIN cnt ON l.line = cnt.line JOIN k ON l.line = k.line),
         |r AS (SELECT doc_id,
         |        COALESCE(string_agg(CASE WHEN kept THEN line END,
         |                            chr(10) ORDER BY idx), '') AS ftext
         |      FROM f GROUP BY 1),
         |x AS (SELECT doc_id, ftext,
         |        (doc_id = MIN(doc_id) OVER (PARTITION BY ftext)) AS is_kept
         |      FROM r)
         |SELECT g.doc_id, g.survived,
         |       COALESCE(x.ftext, '') AS final_text,
         |       COALESCE(x.is_kept, false) AS is_kept
         |FROM gate g LEFT JOIN x USING (doc_id)""".stripMargin
    },

    // exact top-k over the same planted gram stream — the sketched path's
    // contract is bit-equality with this at minCount <= the k-th count
    "q_heavy_hitters" -> {
      val phrase = (0 until 25).map(i => s"ha$i").mkString(" ")
      s"""WITH w AS (
         |  SELECT regexp_split_to_array(trim(lower(
         |    text || CASE WHEN doc_id % 2 = 0 THEN ' $phrase' ELSE '' END)),
         |    '\\s+') AS ws
         |  FROM documents),
         |g AS (
         |  SELECT unnest(list_transform(range(1, len(ws)),
         |    i -> ws[i] || ' ' || ws[i+1])) AS gram
         |  FROM w)
         |SELECT gram, COUNT(*) AS cnt FROM g
         |GROUP BY gram ORDER BY cnt DESC, gram LIMIT 20""".stripMargin
    },

    // closed forms of the constructed messy URLs (see the queries' comments)
    "q_url_canon" ->
      """SELECT doc_id,
        |  'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.com/Path/'
        |    || CAST(doc_id AS VARCHAR) || '?a=1&b=2' AS canon_full,
        |  'http://host' || CAST(doc_id AS VARCHAR) || '.org/' AS canon_port,
        |  'https://x.com/p' || CAST(doc_id AS VARCHAR) AS canon_tracking,
        |  'https://ex.com/p~' || CAST(doc_id AS VARCHAR)
        |    || '/%2Fx?n=AZ&q=a%20b' AS canon_pct
        |FROM documents""".stripMargin,

    "q_lsh_curve" ->
      """SELECT CAST(i AS DOUBLE) / 100.0 AS sim,
        |  round(1.0 - pow(1.0 - pow(CAST(i AS DOUBLE) / 100.0, 5.0), 16.0), 6)
        |    AS p_candidate
        |FROM range(0, 101) t(i)""".stripMargin,

    "q_url_dedup" ->
      """SELECT 'https://d' || CAST(doc_id % 50 AS VARCHAR) || '.com/a' AS canon_url,
        |  MIN(doc_id) AS keep_id,
        |  COUNT(*) * 2 AS n_captures
        |FROM documents GROUP BY 1""".stripMargin,

    // TRUE dual of the latest-capture collapse: same grouped max over the
    // same canonical key (ts monotone in doc_id, so max id = max ts)
    "q_latest_capture" ->
      """WITH k AS (
        |  SELECT doc_id % 100 AS g, MAX(doc_id) AS keep
        |  FROM documents GROUP BY 1)
        |SELECT d.doc_id AS doc_id,
        |  CASE WHEN d.doc_id % 2 = 0
        |    THEN 'https://WWW.s' || (d.doc_id % 100) || '.example.com:443/p'
        |    ELSE 'https://s' || (d.doc_id % 100) || '.example.com/p' END AS url,
        |  make_timestamp((1700000000 + d.doc_id) * 1000000) AS warc_ts
        |FROM documents d JOIN k ON d.doc_id = k.keep""".stripMargin,

    "q_domain_stats" ->
      s"""SELECT 'news-' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS domain,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(CAST(${TextOps.tokenCountSql("text")} AS BIGINT)) AS BIGINT)
         |    AS sum_tokens,
         |  CAST(SUM(CAST(round(${TextOps.qualityScoreSql("text")} * 1000000)
         |    AS BIGINT)) AS BIGINT) AS sum_quality_ppm
         |FROM documents GROUP BY 1""".stripMargin,

    "q_domain_filter" ->
      s"""SELECT doc_id, domain, toks FROM (
         |  SELECT doc_id,
         |    'news-' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS domain,
         |    CAST(${TextOps.tokenCountSql("text")} AS BIGINT) AS toks,
         |    MAX(CAST(${TextOps.tokenCountSql("text")} AS BIGINT))
         |      OVER (PARTITION BY doc_id % 20) AS max_toks
         |  FROM documents)
         |WHERE toks * 2 >= max_toks""".stripMargin,

    "q_mix_stratified" -> {
      val cases = MixRates.map { case (s, r) =>
        s"WHEN '$s' THEN '${Mixing.rateThresholdHex(r)}'"
      }.mkString(" ")
      s"""SELECT doc_id, source FROM documents
         |WHERE substr(md5('mixs|' || CAST(doc_id AS VARCHAR)), 1, 8) <
         |  CASE source $cases ELSE '${Mixing.rateThresholdHex(0.5)}' END""".stripMargin
    },

    "q_mix_oversample" -> {
      def parts(w: Double) = (math.floor(w).toInt, Mixing.rateThresholdHex(w - math.floor(w)))
      val baseCases = MixWeights.map { case (s, w) =>
        s"WHEN '$s' THEN ${parts(w)._1}"
      }.mkString(" ")
      val fracCases = MixWeights.map { case (s, w) =>
        s"WHEN '$s' THEN '${parts(w)._2}'"
      }.mkString(" ")
      s"""SELECT doc_id, source,
         |  CAST(unnest(generate_series(1, copies)) AS INT) AS copy_id
         |FROM (
         |  SELECT doc_id, source,
         |    (CASE source $baseCases ELSE ${parts(1.0)._1} END)
         |    + (CASE WHEN substr(md5('mixo|' || CAST(doc_id AS VARCHAR)), 1, 8) <
         |        CASE source $fracCases ELSE '${parts(1.0)._2}' END
         |      THEN 1 ELSE 0 END) AS copies
         |  FROM documents)
         |WHERE copies >= 1""".stripMargin
    },

    "q_lm_score" ->
      LmScore.logFreqScoreSql("documents", "doc_id", "text", LmVocabSize),

    "q_lm_terciles" ->
      s"""WITH scores AS (
         |${LmScore.logFreqScoreSql("documents", "doc_id", "text", LmVocabSize)}),
         |m AS (
         |  SELECT s.doc_id, ${TextOps.langIdSql("d.text")} AS lang,
         |    round(CAST(sum_w AS DOUBLE) / n_toks, 6) AS mean_w
         |  FROM scores s JOIN documents d USING (doc_id)),
         |cuts AS (
         |  SELECT lang,
         |    round(quantile_cont(mean_w, CAST(1 AS DOUBLE) / 3), 6) AS q33,
         |    round(quantile_cont(mean_w, CAST(2 AS DOUBLE) / 3), 6) AS q67
         |  FROM m GROUP BY lang)
         |SELECT doc_id, lang, mean_w,
         |  CASE WHEN mean_w > q67 THEN 'head'
         |       WHEN mean_w > q33 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM m JOIN cuts USING (lang)""".stripMargin,

    // aggregates the SOURCE table — equality with the Spark side (which
    // aggregates what it reads back out of the sink) is the lossless-
    // round-trip proof
    "q_sink_roundtrip" ->
      s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
         |  CAST(SUM(CAST(${TextOps.tokenCountSql("text")} AS BIGINT)) AS BIGINT) AS sum_toks
         |FROM documents GROUP BY lang""".stripMargin,

    // the oracle is DuckDB's NATIVE ASOF JOIN — an independent engine's
    // implementation of the operator, not a hand-rolled replica
    "q_asof_join" ->
      """SELECT l.event_id, l.user_id, l.pts, r.ref_id, r.rts AS asof_ts
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS pts FROM events) l
        |ASOF JOIN (SELECT user_id, epoch_us(ts) AS rts, event_id AS ref_id
        |           FROM events WHERE event_id % 17 = 0) r
        |  ON l.user_id = r.user_id AND l.pts >= r.rts""".stripMargin,

    // the oracle IS the raw inequality join the Spark side avoids
    "q_range_join" ->
      """SELECT i.interval_id, p.event_id FROM
        |  (SELECT event_id AS interval_id,
        |          CAST(floor(epoch(ts)) AS BIGINT) AS lo,
        |          CAST(floor(epoch(ts)) AS BIGINT) + 1800 AS hi
        |   FROM events WHERE event_id % 100 = 0) i
        |JOIN (SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS pts
        |      FROM events) p
        |  ON p.pts >= i.lo AND p.pts <= i.hi""".stripMargin,

    "q_mix_split" ->
      s"""SELECT doc_id,
         |  ${Mixing.splitAssignSql("CAST(doc_id AS VARCHAR)", "split", MixSplits)} AS split
         |FROM documents""".stripMargin,

    "q_chunk_windows" ->
      Chunking.fixedTokenWindowsSql("documents", "doc_id", "text", ChunkSize, ChunkStride),

    // the oracle IS the per-group row_number window the Spark side avoids
    "q_domain_cap" ->
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5('cap|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 8""".stripMargin,

    // the oracle IS the naive global running-sum window the Spark side
    // deliberately avoids — hash equality proves the bucketed cut-rank
    // descent selects the identical row set
    "q_mix_token_budget" ->
      s"""SELECT doc_id, toks FROM (
         |  SELECT doc_id,
         |    CAST(${TextOps.tokenCountSql("text")} AS BIGINT) AS toks,
         |    SUM(CAST(${TextOps.tokenCountSql("text")} AS BIGINT))
         |      OVER (ORDER BY md5('mixb|' || CAST(doc_id AS VARCHAR))
         |            ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM documents)
         |WHERE cum <= $MixBudget""".stripMargin,

    "q_corpus_filter" ->
      s"""SELECT min(doc_id) AS doc_id, count(*) AS n_copies
         |FROM documents
         |WHERE ${TextOps.qualityScoreSql("text")} >= 0.5
         |  AND ${TextOps.langIdSql("text")} = 'en'
         |GROUP BY $NormalizeTextSql""".stripMargin,

    // mirrors q_repetition's plant: words' = words ++ words[1:10], lines =
    // 5-word chunks ++ chunks[1:2], denominator = chars of the planted text
    "q_repetition" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    string_split(lower(text), ' ')
        |      || string_split(lower(text), ' ')[1:10] AS words,
        |    strlen(lower(text) || ' '
        |      || array_to_string(string_split(lower(text), ' ')[1:10], ' ')) AS n_chars
        |  FROM documents),
        |chunks AS (
        |  SELECT doc_id,
        |    list_transform(range(0, CAST(ceil(len(words) / 5.0) AS BIGINT)),
        |      i -> array_to_string(words[i*5+1 : i*5+5], ' ')) AS ls
        |  FROM w),
        |lines AS (SELECT doc_id, unnest(ls || ls[1:2]) AS line FROM chunks),
        |lc AS (SELECT doc_id, line, COUNT(*) AS cnt, strlen(line) AS len
        |       FROM lines GROUP BY 1, 2),
        |lm AS (
        |  SELECT doc_id,
        |    round(1.0 - COUNT(*) / CAST(SUM(cnt) AS DOUBLE), 6) AS dup_line_frac,
        |    round(COALESCE(SUM(CASE WHEN cnt > 1 THEN cnt * len END), 0)
        |      / CAST(SUM(cnt * len) AS DOUBLE), 6) AS dup_line_char_frac
        |  FROM lc GROUP BY 1),
        |g2 AS (SELECT doc_id, array_to_string(words[i+1 : i+2], ' ') AS gram, n_chars
        |       FROM w, unnest(range(0, len(words) - 1)) t(i) WHERE len(words) >= 2),
        |c2 AS (SELECT doc_id, n_chars, gram, COUNT(*) AS cnt FROM g2 GROUP BY 1, 2, 3),
        |m2 AS (SELECT doc_id,
        |         round(MAX(cnt * strlen(gram)) / CAST(MAX(n_chars) AS DOUBLE), 6)
        |           AS top_2gram_char_frac
        |       FROM c2 GROUP BY 1),
        |g5 AS (SELECT doc_id, array_to_string(words[i+1 : i+5], ' ') AS gram, n_chars
        |       FROM w, unnest(range(0, len(words) - 4)) t(i) WHERE len(words) >= 5),
        |c5 AS (SELECT doc_id, n_chars, gram, COUNT(*) AS cnt FROM g5 GROUP BY 1, 2, 3),
        |m5 AS (SELECT doc_id,
        |         round(least(1.0, COALESCE(SUM(CASE WHEN cnt > 1
        |             THEN cnt * strlen(gram) END), 0)
        |           / CAST(MAX(n_chars) AS DOUBLE)), 6) AS dup_5gram_char_frac
        |       FROM c5 GROUP BY 1)
        |SELECT lm.doc_id, dup_line_frac, dup_line_char_frac,
        |       COALESCE(top_2gram_char_frac, 0.0) AS top_2gram_char_frac,
        |       COALESCE(dup_5gram_char_frac, 0.0) AS dup_5gram_char_frac
        |FROM lm LEFT JOIN m2 USING (doc_id) LEFT JOIN m5 USING (doc_id)""".stripMargin,

    // string-keyed replica of q_passage_spans' hash-keyed plan (same plant)
    "q_passage_spans" ->
      s"""WITH w AS (
         |  SELECT doc_id, CASE doc_id % 3
         |    WHEN 0 THEN string_split('$PassagePlant', ' ')
         |      || string_split(lower(text), ' ')
         |    WHEN 1 THEN string_split(lower(text), ' ')
         |      || string_split('$PassagePlant', ' ')
         |    ELSE string_split(lower(text), ' ') END AS words
         |  FROM documents),
         |g AS (SELECT doc_id, i AS pos, array_to_string(words[i+1 : i+8], ' ') AS gram
         |      FROM w, unnest(range(0, len(words) - 7)) t(i) WHERE len(words) >= 8),
         |shared AS (SELECT gram FROM g GROUP BY gram HAVING MIN(doc_id) <> MAX(doc_id)),
         |m AS (SELECT doc_id, pos FROM g JOIN shared USING (gram)),
         |isl AS (SELECT doc_id, pos,
         |          CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
         |               THEN 0 ELSE 1 END AS flag
         |        FROM m),
         |grp AS (SELECT doc_id, pos,
         |          SUM(flag) OVER (PARTITION BY doc_id ORDER BY pos
         |                          ROWS UNBOUNDED PRECEDING) AS isle
         |        FROM isl)
         |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS start_tok,
         |       CAST(MAX(pos) + 7 AS BIGINT) AS end_tok, COUNT(*) AS n_windows
         |FROM grp GROUP BY doc_id, isle""".stripMargin,

    // string-gram replica of the keeper/anti-join/rebuild removal
    "q_passage_dedup" ->
      s"""WITH w AS (
         |  SELECT doc_id, CASE doc_id % 3
         |    WHEN 0 THEN string_split('$PassagePlant', ' ')
         |      || string_split(lower(text), ' ')
         |    WHEN 1 THEN string_split(lower(text), ' ')
         |      || string_split('$PassagePlant', ' ')
         |    ELSE string_split(lower(text), ' ') END AS words
         |  FROM documents),
         |g AS (SELECT doc_id, i AS pos, array_to_string(words[i+1 : i+8], ' ') AS gram
         |      FROM w, unnest(range(0, len(words) - 7)) t(i) WHERE len(words) >= 8),
         |own AS (SELECT gram, MIN(doc_id) AS keeper FROM g
         |        GROUP BY gram HAVING MIN(doc_id) <> MAX(doc_id)),
         |cov AS (SELECT DISTINCT g.doc_id, g.pos + k.k AS tok_idx,
         |               g.doc_id = own.keeper AS is_keeper
         |        FROM g JOIN own USING (gram), unnest(range(0, 8)) k(k)),
         |dropped AS (SELECT d.doc_id, d.tok_idx
         |            FROM (SELECT doc_id, tok_idx FROM cov WHERE NOT is_keeper) d
         |            ANTI JOIN (SELECT doc_id, tok_idx FROM cov WHERE is_keeper) p
         |            USING (doc_id, tok_idx)),
         |tok AS (SELECT doc_id, i AS tok_idx, words[i+1] AS token
         |        FROM w, unnest(range(0, len(words))) t(i)),
         |kept AS (SELECT tok.doc_id, tok.tok_idx, tok.token
         |         FROM tok ANTI JOIN dropped USING (doc_id, tok_idx)),
         |reb AS (SELECT doc_id, string_agg(token, ' ' ORDER BY tok_idx) AS text,
         |               COUNT(*) AS n_kept
         |        FROM kept GROUP BY doc_id)
         |SELECT w.doc_id, COALESCE(reb.text, '') AS text,
         |  CAST(COALESCE(reb.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(len(w.words) - COALESCE(reb.n_kept, 0) AS BIGINT) AS n_dropped
         |FROM w LEFT JOIN reb USING (doc_id)""".stripMargin,

    // mirrors q_decontaminate's plant; COUNT(DISTINCT gram) vs the plan's
    // count_distinct(xxhash64(gram)) — identical absent 64-bit collisions
    "q_decontaminate" -> DecontamOracleSql,

    // the bloom pre-filter + exact confirm is output-identical to the
    // broadcast path at ANY fpp — same oracle, by design
    "q_decontam_bloom" -> DecontamOracleSql,

    // string-keyed replica of q_line_dedup's xxhash64-keyed plan (same
    // plant); keeper = lexicographic min (doc_id, idx) via the two-step
    // min(doc_id) then min(idx)-among-that-doc, = Spark's min(struct)
    "q_line_dedup" ->
      s"""WITH w AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents),
         |c AS (
         |  SELECT doc_id,
         |    list_transform(range(0, CAST(ceil(len(words) / 5.0) AS BIGINT)),
         |      i -> array_to_string(words[i*5+1 : i*5+5], ' ')) AS ch
         |  FROM w),
         |la AS (
         |  SELECT doc_id,
         |    (CASE WHEN doc_id % 2 = 0 THEN ['$LineBoiler'] ELSE [] END)
         |    || ch
         |    || (CASE WHEN doc_id % 6 = 0 THEN ['$LineBoiler'] ELSE [] END)
         |    || (CASE WHEN doc_id % 7 = 0 THEN ch[1:1] ELSE [] END) AS ls
         |  FROM c),
         |l AS (SELECT doc_id, i AS idx, ls[i+1] AS line
         |      FROM la, unnest(range(0, len(ls))) t(i)),
         |cnt AS (SELECT line, COUNT(*) AS cnt, MIN(doc_id) AS kid
         |        FROM l GROUP BY 1),
         |k AS (SELECT l.line, MIN(l.idx) AS kidx
         |      FROM l JOIN cnt ON l.line = cnt.line AND l.doc_id = cnt.kid
         |      GROUP BY 1),
         |f AS (SELECT l.doc_id, l.idx, l.line,
         |        (cnt.cnt = 1 OR (l.doc_id = cnt.kid AND l.idx = k.kidx)) AS kept
         |      FROM l JOIN cnt ON l.line = cnt.line JOIN k ON l.line = k.line),
         |r AS (SELECT doc_id,
         |        COALESCE(string_agg(CASE WHEN kept THEN line END,
         |                            chr(10) ORDER BY idx), '') AS text,
         |        CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |        CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
         |      FROM f GROUP BY 1)
         |SELECT d.doc_id, COALESCE(r.text, '') AS text,
         |       COALESCE(r.n_kept, 0) AS n_kept,
         |       COALESCE(r.n_dropped, 0) AS n_dropped
         |FROM documents d LEFT JOIN r USING (doc_id)""".stripMargin,

    // identical regex patterns run in RE2 (common Java-regex/RE2 subset:
    // no lookaround, no backreferences — leftmost matches agree); the
    // redacted TEXT itself is hash-compared, not just the counts
    "q_pii" ->
      s"""WITH p AS (
         |  SELECT doc_id, text
         |    || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id
         |         || '@example' || (doc_id % 7) || '.org now' ELSE '' END
         |    || CASE WHEN doc_id % 4 = 1 THEN ' from host 10.' || (doc_id % 256)
         |         || '.' || (doc_id % 100) || '.' || (doc_id % 250) ELSE '' END
         |    || CASE WHEN doc_id % 5 = 2 THEN ' call +1 555-01' || (doc_id % 10)
         |         || '-' || (doc_id % 9000 + 1000) ELSE '' END
         |    || CASE WHEN doc_id % 37 = 5 THEN ' token AKIA'
         |         || lpad(CAST(doc_id AS VARCHAR), 16, '0') || ' end' ELSE '' END
         |      AS pt
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(${Pii.countSql("pt", Pii.EmailPattern)} AS BIGINT) AS n_emails,
         |  CAST(${Pii.countSql("pt", Pii.Ipv4Pattern)} AS BIGINT) AS n_ipv4,
         |  CAST(${Pii.countSql("pt", Pii.PhonePattern)} AS BIGINT) AS n_phones,
         |  CAST(${Pii.countSql("pt", Pii.AwsKeyPattern)} AS BIGINT) AS n_keys,
         |  CAST(${Pii.piiCountSql("pt")} AS BIGINT) AS n_pii,
         |  ${Pii.redactSql("pt")} AS redacted
         |FROM p""".stripMargin,

    // StubDecoder: sample = ((byte & 0xff) − 128)/128, bin = ((s+1)/2·16)
    // clamped to [0,15] — algebraically bin = byte ÷ 16. Texts are ASCII
    // (ascii(substr) = byte) and < 4096 bytes; the 16-bin grid zero-fills
    // bins with no members (Spark explodes all 16 array slots).
    // byte-exact replay of the stub dHash: same 36×32 virtual plane, same
    // 4×4 cell means (all sums are exact multiples of 1/128 in double, so
    // engine summation order cannot flip a comparison), same r*8+c bit
    // layout; CAST around the SUMs keeps DuckDB off HUGEINT
    "q_image_phash" ->
      """WITH s AS (
        |  SELECT doc_id, CAST(t.i AS BIGINT) AS i,
        |    CASE WHEN t.i < strlen(text)
        |      THEN (ascii(substr(text, CAST(t.i + 1 AS INT), 1)) - 128) / 128.0
        |      ELSE 0.0 END AS v
        |  FROM documents, unnest(range(0, 1152)) AS t(i)),
        |cells AS (
        |  SELECT doc_id, ((i // 36) // 4) * 9 + ((i % 36) // 4) AS cell,
        |    avg(v) AS m
        |  FROM s GROUP BY 1, 2),
        |bits AS (
        |  SELECT a.doc_id, (a.cell // 9) * 8 + (a.cell % 9) AS j
        |  FROM cells a JOIN cells b ON a.doc_id = b.doc_id AND b.cell = a.cell + 1
        |  WHERE a.cell % 9 < 8 AND a.m > b.m)
        |SELECT d.doc_id AS asset_id,
        |  CAST(COALESCE(SUM(CASE WHEN j >= 32
        |    THEN CAST(pow(2, j - 32) AS BIGINT) END), 0) AS BIGINT) AS hash_hi,
        |  CAST(COALESCE(SUM(CASE WHEN j < 32
        |    THEN CAST(pow(2, j) AS BIGINT) END), 0) AS BIGINT) AS hash_lo
        |FROM documents d LEFT JOIN bits ON bits.doc_id = d.doc_id
        |GROUP BY 1""".stripMargin,

    "q_multimodal_features" ->
      """WITH counts AS (
        |  SELECT doc_id, CAST(ascii(substr(text, CAST(t.i AS INT), 1)) // 16 AS BIGINT) AS bin,
        |    count(*) AS c
        |  FROM documents, unnest(range(1, least(strlen(text), 4096) + 1)) AS t(i)
        |  GROUP BY 1, 2),
        |grid AS (
        |  SELECT d.doc_id, g.bin FROM documents d,
        |    (SELECT CAST(unnest(range(16)) AS BIGINT) AS bin) g)
        |SELECT grid.doc_id AS asset_id, grid.bin AS bin,
        |  CAST(coalesce(counts.c, 0) AS BIGINT) AS n_in_bin
        |FROM grid LEFT JOIN counts
        |  ON grid.doc_id = counts.doc_id AND grid.bin = counts.bin""".stripMargin,

    // kept frames = indices 0,2,4,… below floor(bytes/16):
    // count = ceil(floor(n/16)/2), last kept index = 2*(count-1)
    "q_multimodal_frames" ->
      """SELECT doc_id AS asset_id,
        |  CAST((strlen(text) // 16 + 1) // 2 AS BIGINT) AS n_frames,
        |  CAST(2 * ((strlen(text) // 16 + 1) // 2 - 1) AS BIGINT) AS last_idx
        |FROM documents""".stripMargin,

    // the oracle replays the fixture's closed forms; the Spark side must
    // reproduce them THROUGH the emitted mp4/webm bytes and the header walk
    "q_container_meta" ->
      """SELECT doc_id AS asset_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'webm' END AS container,
        |  CAST(1000 + doc_id % 9000 AS BIGINT) AS duration_ms,
        |  CAST(1 + doc_id % 3 AS BIGINT) AS n_tracks,
        |  CAST(320 + (doc_id % 4) * 160 AS BIGINT) AS width,
        |  CAST(240 + (doc_id % 4) * 120 AS BIGINT) AS height
        |FROM documents""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id AS asset_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |       ELSE 'video' END AS kind,
        |  strlen(text) AS n_bytes
        |FROM documents""".stripMargin,

    "q_cite_ris" ->
      """SELECT doc_id, trim(substr(text, 1, 40)) AS title,
        |  CAST(doc_id % 50 AS VARCHAR) AS volume, '10-25' AS pages
        |FROM documents""".stripMargin,

    "q_dedup_fingerprint" ->
      """SELECT doc_id, true AS matches_twin FROM documents""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q_outer_join" ->
      """SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
        |  (c.c_custkey IS NOT NULL) AS has_cust,
        |  (o.o_custkey IS NOT NULL) AS has_orders,
        |  CAST(coalesce(o.n_orders, 0) AS BIGINT) AS n_orders,
        |  CAST(coalesce(o.cents, 0) AS BIGINT) AS sum_cents
        |FROM (SELECT c_custkey FROM customer WHERE c_nationkey < 5) c
        |FULL OUTER JOIN (
        |  SELECT o_custkey, count(*) AS n_orders,
        |    sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1) o
        |ON c.c_custkey = o.o_custkey""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "q_semi_anti" ->
      """SELECT c_custkey AS custkey, 'has_orders' AS status FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |UNION ALL
        |SELECT c_custkey AS custkey, 'no_orders' AS status FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,

    "q_jaro_sim" ->
      """SELECT doc_id,
        |  round(jaro_similarity(substr(text, 1, 30),
        |    substr(text, 1, CAST(15 + doc_id % 14 AS INT))), 4) AS jaro,
        |  round(jaro_winkler_similarity(substr(text, 1, 30),
        |    substr(text, 1, CAST(15 + doc_id % 14 AS INT))), 4) AS jw
        |FROM documents""".stripMargin,

    "q_lcs_substr" ->
      """SELECT doc_id,
        |  CAST(least(greatest(strlen(text) - 10, 0), 40) AS BIGINT) AS lcs
        |FROM documents""".stripMargin,

    "q_hamming" ->
      """SELECT doc_id,
        |  CAST(bit_count(xor(CAST(doc_id AS BIGINT) * 1000003 + 7,
        |    CAST(doc_id AS BIGINT) * 999983)) AS BIGINT) AS hd
        |FROM documents""".stripMargin,

    "q_html_extract" ->
      "SELECT doc_id, text AS extracted FROM documents",

    // closed form of the planted page (see the query comment): every
    // boilerplate block is dropped by construction, so main content is the
    // text iff it has >= 20 non-space chars; 3 boilerplate blocks + the
    // content block when the text is non-empty
    "q_boilerplate" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CASE WHEN len(replace(text, ' ', '')) >= 20 THEN text ELSE '' END
        |    AS main_content,
        |  CAST(3 + CASE WHEN len(replace(text, ' ', '')) > 0 THEN 1 ELSE 0 END
        |    AS BIGINT) AS n_blocks,
        |  CAST(CASE WHEN len(replace(text, ' ', '')) >= 20 THEN 1 ELSE 0 END
        |    AS BIGINT) AS n_good
        |FROM documents""".stripMargin,

    // closed form of the planted page (see the query comment): the script/
    // comment decoys never surface, the named anchor has no href, and the
    // four real hrefs come back entity-decoded in document order
    "q_outlinks" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  'https://a.example/p?id=' || doc_id || '&ref=1|https://b.example/'
        |    || doc_id || '|https://c.example/u' || doc_id
        |    || '|/relative/path' AS links,
        |  CAST(4 AS BIGINT) AS n_links
        |FROM documents""".stripMargin,

    // closed form of the planted blocklist verdicts (see the query comment)
    "q_domain_blocklist" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  'https://' ||
        |    CASE doc_id % 5
        |      WHEN 0 THEN 'x.bad.example.com' WHEN 1 THEN 'bad.example.com'
        |      WHEN 2 THEN 'good.example.com' WHEN 3 THEN 'notbad.example.com'
        |      ELSE 'a.spam.net' END || '/p' || doc_id AS url,
        |  doc_id % 5 IN (0, 1, 4) AS blocked
        |FROM documents""".stripMargin,

    // TRUE dual of the canonical-link pre-dedup: same coalesced key, same
    // grouped min/count
    "q_canonical_dedup" ->
      """SELECT CASE WHEN doc_id % 2 = 0
        |    THEN 'https://s.example/page' || (doc_id % 50)
        |    ELSE 'https://s.example/alt/' || doc_id END AS dedup_key,
        |  MIN(doc_id) AS keep_id,
        |  COUNT(*) AS n_captures
        |FROM documents GROUP BY 1""".stripMargin,

    // closed form of the planted sitemap records: two per host, document
    // order, the commented decoy never surfaces
    "q_robots_sitemaps" ->
      """SELECT 'h' || g || '.example.com' AS host,
        |  'https://h' || g || '.example.com/map' || m || '.xml' AS sitemap
        |FROM (SELECT DISTINCT doc_id % 20 AS g FROM documents),
        |     (SELECT 1 AS m UNION ALL SELECT 2)""".stripMargin,

    // closed form of the eight planted reference shapes (RFC 3986 §5.4)
    "q_resolve_url" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CASE doc_id % 8
        |    WHEN 0 THEN 'g' WHEN 1 THEN './g?y' WHEN 2 THEN '../g'
        |    WHEN 3 THEN '/g' WHEN 4 THEN '//o.example.com/x'
        |    WHEN 5 THEN '?y' WHEN 6 THEN 'g#s' ELSE '../../../g' END AS ref,
        |  CASE doc_id % 8
        |    WHEN 0 THEN 'https://h.example.com/b' || doc_id || '/c/g'
        |    WHEN 1 THEN 'https://h.example.com/b' || doc_id || '/c/g?y'
        |    WHEN 2 THEN 'https://h.example.com/b' || doc_id || '/g'
        |    WHEN 3 THEN 'https://h.example.com/g'
        |    WHEN 4 THEN 'https://o.example.com/x'
        |    WHEN 5 THEN 'https://h.example.com/b' || doc_id || '/c/d;p?y'
        |    WHEN 6 THEN 'https://h.example.com/b' || doc_id || '/c/g'
        |    ELSE 'https://h.example.com/g' END AS resolved
        |FROM documents""".stripMargin,

    // the oracle IS the per-target row_number window the bounded top_k
    // aggregate replaces (house rule for top-k duals)
    "q_anchor_corpus" ->
      """WITH a AS (
        |  SELECT 'https://h' || (doc_id % 10) || '.example.com/shared' AS target,
        |         'L' || (doc_id % 3) AS text FROM documents
        |  UNION ALL
        |  SELECT 'https://h' || (doc_id % 10) || '.example.com/dir/p/' || doc_id,
        |         'Unique' FROM documents
        |), c AS (SELECT target, text, COUNT(*) AS cnt FROM a GROUP BY 1, 2),
        |r AS (SELECT target, text, cnt,
        |        row_number() OVER (PARTITION BY target
        |          ORDER BY cnt DESC, text ASC) AS rn FROM c)
        |SELECT target, CAST(SUM(cnt) AS BIGINT) AS n_refs,
        |  string_agg(CASE WHEN rn <= 2 THEN text END, '|' ORDER BY rn) AS texts
        |FROM r GROUP BY target""".stripMargin,

    // closed form of the planted anchors (see the query comment)
    "q_anchor_text" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  'https://t.example/shared' || (doc_id % 10) || '=>Read More & info'
        |    || '|/local/' || doc_id || '=>'
        |    || '|/dangling' || doc_id || '=>Dangling tail' AS anchors,
        |  CAST(3 AS BIGINT) AS n_anchors
        |FROM documents""".stripMargin,

    // closed form of the planted head (see the query comment): decoys in
    // the comment/script never surface, the first canonical wins via rel
    // token-list matching, entities decode in title/description/href, the
    // robots directive follows the residue, charset comes from the
    // http-equiv form lowercased
    "q_page_meta" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  'Doc & ' || doc_id AS title,
        |  'https://a.example/c?id=' || doc_id || '&v=2' AS canonical,
        |  'en-US' AS lang,
        |  'Sum & mary ' || doc_id AS description,
        |  doc_id % 4 IN (0, 2) AS noindex,
        |  doc_id % 4 IN (1, 2) AS nofollow,
        |  'utf-8' AS charset
        |FROM documents""".stripMargin,

    // closed form of the planted robots policy (see the query comment):
    // host 7 has no robots row, even hosts deny residues 2 and 4 for
    // graftbot, odd hosts deny only residue 2 via the * group
    "q_robots_gate" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  'https://h' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' ||
        |    CASE doc_id % 5
        |      WHEN 0 THEN '/'
        |      WHEN 1 THEN '/public/a' || doc_id
        |      WHEN 2 THEN '/private/x' || doc_id
        |      WHEN 3 THEN '/private/ok/y' || doc_id
        |      ELSE '/files/doc' || doc_id || '.pdf' END AS url,
        |  CASE WHEN doc_id % 20 = 7 THEN TRUE
        |       WHEN doc_id % 20 % 2 = 0 THEN doc_id % 5 NOT IN (2, 4)
        |       ELSE doc_id % 5 <> 2 END AS robots_allowed
        |FROM documents""".stripMargin,

    "q_hostrank" -> hostRankOracleSql(5),

    // closed form of the WARC round trip (url/ts are the query's plant;
    // text must come back byte-identical through encode→parse→extract)
    "q_warc" ->
      s"""SELECT 'https://example.com/' || CAST(doc_id AS VARCHAR) AS url,
         |  TIMESTAMP '2026-08-18 00:00:00' AS warc_ts,
         |  text,
         |  ${TextOps.langIdSql("text")} AS lang
         |FROM documents""".stripMargin,

    // closed form of the WET round trip (url/ts planted; text byte-identical
    // through conversion-record encode → parse → UTF-8 decode)
    "q_wet" ->
      s"""SELECT 'https://example.com/' || CAST(doc_id AS VARCHAR) AS url,
         |  TIMESTAMP '2026-08-18 00:00:00' AS warc_ts,
         |  text,
         |  ${TextOps.langIdSql("text")} AS lang
         |FROM documents""".stripMargin,

    // closed form of the CDXJ round trip: format → parse must land on the
    // planted fields, with the SURT key's www strip, host reversal, and
    // bytewise query-param sort applied (?b=&a= → ?a=&b=)
    "q_cdx_parse" ->
      s"""SELECT $cdxKeySql AS urlkey, $cdxTsSql AS ts, $cdxUrlSql AS url,
         |  'text/html' AS mime, '200' AS status, $cdxDigestSql AS digest,
         |  CAST(n_chars + 200 AS BIGINT) AS rec_length,
         |  CAST(doc_id * 1000 AS BIGINT) AS rec_offset,
         |  $cdxFileSql AS filename
         |FROM documents""".stripMargin,

    // the oracle IS the row_number window the Spark plan avoids
    "q_cdx_dedup" ->
      s"""SELECT digest, urlkey, ts, n_captures FROM (
         |  SELECT digest, urlkey, ts,
         |    COUNT(*) OVER (PARTITION BY digest) AS n_captures,
         |    row_number() OVER (PARTITION BY digest
         |      ORDER BY ts, urlkey, rec_offset, filename) AS rn
         |  FROM ($cdxCapturesSql)) WHERE rn = 1""".stripMargin,

    "q_cdx_latest" ->
      s"""SELECT grp, urlkey, ts, n_captures FROM (
         |  SELECT grp, urlkey, ts,
         |    COUNT(*) OVER (PARTITION BY grp) AS n_captures,
         |    row_number() OVER (PARTITION BY grp
         |      ORDER BY ts DESC, rec_offset DESC, urlkey DESC,
         |        filename DESC) AS rn
         |  FROM (
         |    SELECT CAST(CAST(rec_offset / 1000 AS BIGINT) % 50 AS BIGINT) AS grp,
         |      urlkey, ts, rec_offset, filename
         |    FROM ($cdxCapturesSql))) WHERE rn = 1""".stripMargin,

    "q_cdx_fetch_plan" ->
      s"""SELECT filename, COUNT(*) AS n_records,
         |  CAST(SUM(rec_length) AS BIGINT) AS bytes,
         |  string_agg(rec_offset || ':' || rec_length, ','
         |    ORDER BY rec_offset, rec_length) AS ranges
         |FROM (
         |  SELECT * FROM (
         |    SELECT filename, rec_offset, rec_length,
         |      row_number() OVER (PARTITION BY digest
         |        ORDER BY ts, urlkey, rec_offset, filename) AS rn
         |    FROM ($cdxCapturesSql)) WHERE rn = 1)
         |GROUP BY filename""".stripMargin,

    // gaps-and-islands replica of the HOF coalescing fold: a row opens a
    // new read span iff its offset exceeds the running max end (+gap) of
    // everything before it in the file — equivalent to the fold's
    // island-local running end because a break guarantees every earlier
    // end sits > gap below all later offsets
    "q_cdx_coalesce" ->
      s"""WITH kept AS (
         |  SELECT filename, rec_offset, rec_length FROM (
         |    SELECT filename, rec_offset, rec_length,
         |      row_number() OVER (PARTITION BY digest
         |        ORDER BY ts, urlkey, rec_offset, filename) AS rn
         |    FROM ($cdxCapturesSql)) WHERE rn = 1),
         |marked AS (
         |  SELECT filename, rec_offset, rec_length,
         |    CASE WHEN rec_offset <=
         |        max(rec_offset + rec_length) OVER w + 65536
         |      THEN 0 ELSE 1 END AS brk
         |  FROM kept
         |  WINDOW w AS (PARTITION BY filename
         |    ORDER BY rec_offset, rec_length
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         |islands AS (
         |  SELECT filename, rec_offset, rec_length,
         |    SUM(brk) OVER (PARTITION BY filename
         |      ORDER BY rec_offset, rec_length) AS isl
         |  FROM marked),
         |spans AS (
         |  SELECT filename, isl, MIN(rec_offset) AS st,
         |    MAX(rec_offset + rec_length) AS e
         |  FROM islands GROUP BY filename, isl)
         |SELECT s.filename, k.n_records, k.bytes,
         |  s.n_reads, s.read_bytes, s.spans
         |FROM (
         |  SELECT filename, CAST(COUNT(*) AS BIGINT) AS n_reads,
         |    CAST(SUM(e - st) AS BIGINT) AS read_bytes,
         |    string_agg(st || ':' || e, ',' ORDER BY st) AS spans
         |  FROM spans GROUP BY filename) s
         |JOIN (
         |  SELECT filename, COUNT(*) AS n_records,
         |    CAST(SUM(rec_length) AS BIGINT) AS bytes
         |  FROM kept GROUP BY filename) k USING (filename)""".stripMargin,

    "q_connected_components" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(doc_id - doc_id % 10 AS BIGINT) AS component
        |FROM documents""".stripMargin,

    "q_rep_select" ->
      """SELECT cluster_id, doc_id, rn = 1 AS is_representative FROM (
        |  SELECT CAST(doc_id - doc_id % 10 AS BIGINT) AS cluster_id,
        |    CAST(doc_id AS BIGINT) AS doc_id,
        |    row_number() OVER (PARTITION BY doc_id - doc_id % 10
        |      ORDER BY strlen(text) DESC, doc_id ASC) AS rn
        |  FROM documents)""".stripMargin,

    "q_cite_pubmed" ->
      """SELECT doc_id, trim(substr(text, 1, 40)) AS title,
        |  CAST(doc_id % 50 AS VARCHAR) AS volume, '10-25' AS pages,
        |  CAST(1900 + doc_id % 120 AS INT) AS year,
        |  CAST(6 AS INT) AS month, CAST(9 AS INT) AS day
        |FROM documents""".stripMargin,

    "q_cite_endnote" ->
      """SELECT trim(substr(text, 1, 40)) AS title,
        |  'Journal of Graft' AS journal,
        |  CAST(doc_id % 50 AS VARCHAR) AS volume, '100-109' AS pages,
        |  CAST(1900 + doc_id % 120 AS INT) AS year,
        |  'Smith' AS family, 'John' AS given
        |FROM documents""".stripMargin,

    "q_cite_csv" ->
      """SELECT doc_id || ' ' || trim(substr(text, 1, 30)) AS title,
        |  CAST(doc_id % 50 AS VARCHAR) AS volume, '100-109' AS pages,
        |  CAST(1900 + doc_id % 120 AS INT) AS year
        |FROM documents""".stripMargin,

    "q_cite_detect" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'ris' WHEN 1 THEN 'pubmed'
        |       ELSE 'endnote_xml' END AS format
        |FROM documents""".stripMargin,

    "q_cite_errors" ->
      """SELECT doc_id, CAST(1 AS BIGINT) AS record_idx, CAST(7 AS BIGINT) AS line,
        |  'ignored_line' AS kind, '' AS tag, '!! bad ' || doc_id AS content
        |FROM documents
        |UNION ALL
        |SELECT doc_id, CAST(1 AS BIGINT), CAST(-1 AS BIGINT),
        |  'missing_value', 'TI', ''
        |FROM documents""".stripMargin,

    "q_cite_dedup" ->
      """SELECT CAST(2 * doc_id AS BIGINT) AS row_idx,
        |  CAST(2 * doc_id AS BIGINT) AS group_id, true AS is_unique
        |FROM documents
        |UNION ALL
        |SELECT CAST(2 * doc_id + 1 AS BIGINT) AS row_idx,
        |  CAST(2 * doc_id AS BIGINT) AS group_id, false AS is_unique
        |FROM documents""".stripMargin,

    "q_bm25" -> graft.text.Bm25.topKSql(
      "documents", "doc_id", "text", Bm25QueryTerms, 20),

    "q_bm25_batch" -> graft.text.Bm25.topKBatchSql(
      "documents", "doc_id", "text",
      "(SELECT * FROM documents WHERE doc_id < 5)", "doc_id", "text", 5),

    // closed form of the salted cross-corpus plant: right twins of docs
    // ≡0 (mod 3) match their left original AND (for doc_id < 10) the
    // planted left twin; within-side twins never pair
    "q_cross_dedup" ->
      """SELECT a, b, jac FROM (
        |  SELECT CAST(doc_id AS BIGINT) AS a,
        |    CAST(doc_id + 1000000 AS BIGINT) AS b,
        |    CAST(1.0 AS DOUBLE) AS jac
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT CAST(doc_id + 2000000 AS BIGINT) AS a,
        |    CAST(doc_id + 1000000 AS BIGINT) AS b,
        |    CAST(1.0 AS DOUBLE) AS jac
        |  FROM documents WHERE doc_id % 3 = 0 AND doc_id < 10)
        |ORDER BY a, b""".stripMargin,

    "q_snapshot_diff" -> graft.io.SnapshotDiff.diffSql(
      """(SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
        |   md5(text) AS content_hash
        |   FROM documents WHERE doc_id % 5 <> 4)""".stripMargin,
      """(SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
        |   md5(CASE WHEN doc_id % 5 = 2 THEN text || ' v2' ELSE text END)
        |     AS content_hash
        |   FROM documents WHERE doc_id % 5 <> 3)""".stripMargin),

    "q_script_profile" -> {
      val plantCase = ScriptPlants match {
        case Seq(cyr, cjk, rtl) =>
          s"""CASE WHEN doc_id % 4 = 1 THEN '$cyr'
             |  WHEN doc_id % 4 = 2 THEN '$cjk'
             |  WHEN doc_id % 4 = 3 THEN '$rtl'
             |  ELSE '' END""".stripMargin
      }
      val countCols = TextOps.ScriptClasses.map { case (name, _) =>
        s"  ${TextOps.scriptCountSql("(text || plant)", name)} AS n_$name"
      }.mkString(",\n")
      s"""WITH p AS (
         |  SELECT doc_id, text, $plantCase AS plant FROM documents)
         |SELECT doc_id,
         |$countCols,
         |  ${TextOps.dominantScriptSql("plant")} AS plant_script
         |FROM p""".stripMargin
    },

    "q_soft_dedup" -> graft.dedup.SoftDedup.weightsSql(SqrtClustersSql),

    "q_dedup_histogram" ->
      s"""SELECT n_members, CAST(COUNT(*) AS BIGINT) AS n_clusters FROM (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_members
         |  FROM $SqrtClustersSql GROUP BY cluster_id)
         |GROUP BY n_members""".stripMargin)

  /** DuckDB dual of [[sqrtClusters]]. */
  private val SqrtClustersSql: String =
    """(SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(floor(sqrt(CAST(doc_id AS DOUBLE))) AS BIGINT) AS cluster_id
      |  FROM documents)""".stripMargin

  /** ANSI-SQL replica of the reference normalization chain
    * (trim → lower → 13 ordered replacements → keep alphanumerics), used by
    * the DuckDB oracles above. The `<U+XXXX>` unescape stage is a no-op in
    * plain SQL only when the input contains no such escapes (true for the
    * synthetic documents table); the ScalaTest kernel suite covers it.
    */
  private val NormalizeTextSql: String = {
    val replacements = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "<sup>" -> "", "</sup>" -> "",
      "<sub>" -> "", "</sub>" -> "", "<inf>" -> "", "</inf>" -> "",
      "beta" -> "b", "alpha" -> "a", "α" -> "a", "ß" -> "b", "γ" -> "g")
    val chained = replacements.foldLeft("lower(trim(text))") {
      case (acc, (from, to)) => s"replace($acc, '$from', '$to')"
    }
    s"regexp_replace($chained, '[^a-z0-9]', '', 'g')"
  }
}
