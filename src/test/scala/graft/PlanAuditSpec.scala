package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audit: asserts the plan properties the engine is designed
  * around — filter pushdown into the parquet scan, column pruning, broadcast
  * joins for small sides, whole-stage codegen coverage, absence of cartesian
  * products where an equi-join is intended — on the `SparkEntry.queries`
  * plans over the sf0.01 tables. One test per property; a failure prints
  * the plan it inspected.
  */
class PlanAuditSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.01"

  // The whole test run shares one JVM, and getOrCreate() may hand back
  // another suite's session (and its runtime conf). A new session on the
  // shared context starts from the context's conf; the SQL settings every
  // plan below was designed under are set on it explicitly.
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
      .newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    println(s"PlanAuditSpec: master ${s.sparkContext.master}, " +
      s"shuffle partitions ${s.conf.get("spark.sql.shuffle.partitions")}")
    s
  }

  private val plans = mutable.Map.empty[String, String]

  /** The executed plan of query `q`, collected once so AQE finalizes it;
    * every test of the query reads the same string.
    */
  private def plan(q: String): String = plans.getOrElseUpdate(q, {
    val df = SparkEntry.queries(q)(spark, sfDir)
    df.collect()
    df.queryExecution.executedPlan.toString
  })

  private def documents: DataFrame = spark.read.parquet(s"$sfDir/documents.parquet")

  // q1: filter on l_shipdate must reach the parquet scan; scan must not
  // read all 16 lineitem columns for a 7-column aggregate
  test("q1_agg: shipdate filter pushed to scan") {
    val p1 = plan("q1_agg")
    assert(p1.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p1)
  }
  test("q1_agg: column pruning (no l_comment in ReadSchema)") {
    val p1 = plan("q1_agg")
    assert(!p1.contains("l_comment"), p1)
  }
  // WSCG prints as "WholeStageCodegen" in formatted mode or "*(n)" in tree mode
  test("q1_agg: whole-stage codegen") {
    val p1 = plan("q1_agg")
    assert(p1.contains("WholeStageCodegen") || p1.contains("*("), p1)
  }
  test("q1_agg: partial aggregation (map-side combine)") {
    val p1 = plan("q1_agg")
    assert(p1.contains("partial_sum"), p1)
  }

  // q3: the filtered customer side is explicitly broadcast
  test("q3_join: broadcast hash join for customer side") {
    val p3 = plan("q3_join")
    assert(p3.contains("BroadcastHashJoin"), p3)
  }
  test("q3_join: mktsegment filter pushed") {
    val p3 = plan("q3_join")
    assert(p3.contains("EqualTo(c_mktsegment,BUILDING)"), p3)
  }
  test("q3_join: top-k as TakeOrderedAndProject (no global sort)") {
    val p3 = plan("q3_join")
    assert(p3.contains("TakeOrderedAndProject"), p3)
  }

  // top-k must not be a full global sort
  test("q_topk_orders: TakeOrderedAndProject") {
    val pt = plan("q_topk_orders")
    assert(pt.contains("TakeOrderedAndProject"), pt)
  }

  // semi/anti joins stay joins (no cartesian anywhere)
  test("q_semi_anti: semi+anti joins, no cartesian") {
    val ps = plan("q_semi_anti")
    assert((ps.contains("LeftSemi") && ps.contains("LeftAnti")) &&
      !ps.contains("CartesianProduct"), ps)
  }

  // signature kernel: single evaluation of the expensive expressions
  private lazy val sig: String = graft.streaming.StreamingOps.signatures(
    documents.selectExpr("cast(doc_id as string) as url",
      "current_timestamp() as warc_ts", "text", "'en' as lang"))
    .queryExecution.executedPlan.toString
  test("signatures: wordshinglehashes evaluated once") {
    assert("wordshinglehashes".r.findAllIn(sig.toLowerCase).length == 1, sig)
  }
  test("signatures: normalizetokens evaluated once") {
    assert("normalizetokens".r.findAllIn(sig.toLowerCase).length == 1, sig)
  }

  // dedup_exact at sf: aggregate not windowed
  test("q_dedup_exact: hash aggregate") {
    val pd = plan("q_dedup_exact")
    assert(pd.contains("HashAggregate"), pd)
  }

  // IVF corpus→cell assignment must be narrow: per-row argmax over the
  // in-plan centroid array — no Exchange (shuffle), no Window. (An earlier
  // formulation shuffled n·nlist rows through a per-id window.)
  test("ivf corpus assignment: narrow (no Exchange, no Window)") {
    val ivfCorpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("vec_id as id", "embedding as vec")
    val cents = graft.ann.Ann.centroids(ivfCorpus, 16)
    val pAssign = graft.ann.Ann.withNearestCells(ivfCorpus, "vec", 1, cents)
      .queryExecution.executedPlan.toString
    assert(!pAssign.contains("Exchange") && !pAssign.contains("Window"), pAssign)
  }

  // The dedup pipeline's stage plan checks live in DedupPipelineSpec.

  // Per-domain gate: partial-agg'd max + join back — a max-over-Window on
  // the domain key would funnel a hot domain into one task.
  test("q_domain_filter: no Window (partial-agg max + join back)") {
    val pdom = plan("q_domain_filter")
    assert(!pdom.contains("Window") && pdom.contains("partial_max"), pdom)
  }

  // Representative-selection demo query: must use the same skew-safe
  // min_by + join-back shape the pipeline ships, not a row_number window.
  test("q_rep_select: no Window (min_by + join back)") {
    val prep = plan("q_rep_select")
    assert(!prep.contains("Window") && prep.contains("min_by"), prep)
  }

  // SemDeDup: the verified-edge sub-plan (candidate emission + cosine
  // verify — CC materializes eagerly, so it is audited directly) must be
  // bucketed (no cartesian), verified via shuffled-hash joins, and the
  // keep-rule stage must be min_by + join-back, not a window.
  private lazy val sem: String = {
    import org.apache.spark.sql.functions.rand
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        (col("vec_id") % 16).as("cell"), rand(7).as("rank"))
    val semDf = graft.ann.SemDeDup.candidateEdges(emb, 0.999)
    semDf.collect() // finalize AQE; audit the final section only
    semDf.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
  }
  test("semdedup edges: no cartesian/crossJoin, no Window") {
    assert(!sem.contains("Cartesian") && !sem.contains("BroadcastNestedLoop") &&
      !sem.contains("Window"), sem)
  }
  test("semdedup verify: ShuffledHashJoin x2") {
    assert("ShuffledHashJoin".r.findAllIn(sem).length == 2, sem)
  }
  test("q_semdedup keep-rule: no Window (min_by + join back)") {
    val semFull = plan("q_semdedup")
    assert(!semFull.contains("Window") && semFull.contains("min_by"), semFull)
  }

  // Repetition stats: two-level aggregation must partial-agg at BOTH
  // levels (the map-side combine is what absorbs a 10^6-copy boilerplate
  // unit) and must not use a Window or a join-per-metric cartesian.
  test("q_repetition: partial-agg'd two-level aggregation, no Window") {
    val prept = plan("q_repetition")
    assert(prept.contains("partial_count") && !prept.contains("Window") &&
      !prept.contains("Cartesian"), prept)
  }

  // Passage spans: cross-doc key detection must be the partial-agg'd
  // min/max groupBy (never count-distinct), and the only Window is the
  // per-document gaps-and-islands merge (partition key = doc id).
  test("q_passage_spans: partial-agg'd min/max cross-doc keys, no cartesian") {
    val ppass = plan("q_passage_spans")
    assert(ppass.contains("partial_min") && !ppass.contains("Cartesian"), ppass)
  }
  test("q_passage_spans: every window spec is partitioned by the doc id") {
    val ppass = plan("q_passage_spans")
    assert({
      val specs = "windowspecdefinition\\([^)]*".r.findAllIn(ppass).toList
      specs.nonEmpty && specs.forall(_.contains("doc_id"))
    }, ppass)
  }

  // Decontamination: the eval key set must broadcast — the training
  // corpus is scanned once, never shuffled against the eval side.
  test("q_decontaminate: eval keys broadcast to the training scan") {
    val pdec = plan("q_decontaminate")
    assert(pdec.contains("BroadcastHashJoin"), pdec)
  }

  // Global line dedup: occurrence counts + keeper choice must be ONE
  // partial-agg'd groupBy with a join-back (the exact_edges skew ladder),
  // never a window over the corpus-wide line key.
  test("q_line_dedup: partial-agg'd count/min + join-back, no Window/cartesian") {
    val pline = plan("q_line_dedup")
    assert(pline.contains("partial_count") && !pline.contains("Window") &&
      !pline.contains("Cartesian"), pline)
  }

  // PII scrub: a pure per-row projection — one codegen'd scan, no
  // shuffle, no join, no window.
  test("q_pii: narrow codegen'd scan (no Exchange/join/Window)") {
    val ppii = plan("q_pii")
    assert(!ppii.contains("Exchange") && !ppii.contains("Join") &&
      !ppii.contains("Window") &&
      (ppii.contains("WholeStageCodegen") || ppii.contains("*(")), ppii)
  }

  // Bloom decontamination (the broadcast-too-large regime): the bloom
  // probe must sit as a narrow Filter on the gram stream, the exact
  // confirm must be a shuffled-hash join on key, and the eval KEY set
  // must never broadcast (the tiny zero-fill spine join on id may).
  test("q_decontam_bloom: bloom filter on scan + shuffled-hash confirm, no key broadcast") {
    val pblo = plan("q_decontam_bloom")
    assert(pblo.toLowerCase.contains("bloommightcontainlong") &&
      pblo.contains("ShuffledHashJoin [key") &&
      !pblo.contains("BroadcastHashJoin [key"), pblo)
  }

  // Gopher scalar gate: per-row signals only — one codegen'd scan, no
  // shuffle, no join, no window (same contract as q_pii).
  test("q_quality_gopher: narrow codegen'd scan (no Exchange/join/Window)") {
    val pgoph = plan("q_quality_gopher")
    assert(!pgoph.contains("Exchange") && !pgoph.contains("Join") &&
      !pgoph.contains("Window") &&
      (pgoph.contains("WholeStageCodegen") || pgoph.contains("*(")), pgoph)
  }

  // C4 cleaning ladder: per-row rewrite/gate signals only — the same
  // narrow-scan contract as the Gopher gate.
  test("q_quality_c4: narrow codegen'd scan (no Exchange/join/Window)") {
    val pc4 = plan("q_quality_c4")
    assert(!pc4.contains("Exchange") && !pc4.contains("Join") &&
      !pc4.contains("Window") &&
      (pc4.contains("WholeStageCodegen") || pc4.contains("*(")), pc4)
  }

  // Heavy hitters (sketched): the CMS pre-filter is a narrow scan filter,
  // so the whole plan has exactly ONE exchange (the survivor count's
  // partial-agg shuffle) and the top-k is TakeOrderedAndProject, not a
  // global sort. (The CMS build pass is a separate collected job.)
  test("q_heavy_hitters: one exchange (pre-filtered count), TakeOrderedAndProject, partial agg") {
    val phh = plan("q_heavy_hitters").split("== Initial Plan ==")(0)
    assert("Exchange".r.findAllIn(phh).length == 1 &&
      phh.contains("TakeOrderedAndProject") && phh.contains("partial_count"), phh)
  }

  // Curation funnel: gates are narrow (no exchange/window on the annotate
  // plan); the full funnel has no window and no cartesian anywhere — line
  // dedup and exact keep-first are partial-agg + join-back shapes.
  test("curation annotate: narrow gates (no Exchange/join/Window)") {
    val pann = {
      val df = graft.text.Curation.annotate(
        documents.select(col("doc_id"), col("text")), "doc_id", "text")
      // no collect: a plan with no Exchange has nothing for AQE to
      // finalize, and collecting 2x the corpus text to read a string
      // is exactly the driver-side funnel this audit exists to catch
      df.queryExecution.executedPlan.toString
    }
    assert(!pann.contains("Exchange") && !pann.contains("Join") && !pann.contains("Window"), pann)
  }
  test("q_curation: no Window, no cartesian (partial-agg + join-back funnel)") {
    val pcur = plan("q_curation")
    assert(!pcur.contains("Window") && !pcur.toLowerCase.contains("cartesian"), pcur)
  }

  // Domain cap: the bounded top-k aggregate — per-group state capped at k
  // on the map side (partial ObjectHashAggregate), never a row_number
  // window over the hottest domain.
  test("q_domain_cap: partial top_k ObjectHashAggregate, no Window") {
    val pcap = plan("q_domain_cap")
    assert(pcap.contains("ObjectHashAggregate") &&
      pcap.toLowerCase.contains("partial_top_k") && !pcap.contains("Window"), pcap)
  }

  // Token-budget cutoff: after the bucketed cut-rank descent the output
  // plan is ONE narrow filter — no Window, no Exchange at all.
  test("q_mix_token_budget: narrow rank<=cut filter (no Window/Exchange)") {
    val pmixb = plan("q_mix_token_budget")
    assert(!pmixb.contains("Window") && !pmixb.contains("Exchange"), pmixb)
  }

  // Stratified sample: pure per-row decision — narrow codegen'd scan.
  test("q_mix_stratified: narrow codegen'd scan (no Exchange/join/Window)") {
    val pmixs = plan("q_mix_stratified")
    assert(!pmixs.contains("Exchange") && !pmixs.contains("Join") &&
      !pmixs.contains("Window") &&
      (pmixs.contains("WholeStageCodegen") || pmixs.contains("*(")), pmixs)
  }

  // Range join: the binning rewrite must plan as an EQUI-join (hash or
  // sort-merge on bin id), never the nested-loop/cartesian Spark picks
  // for a raw inequality join.
  test("q_range_join: equi-join on bin id (no BroadcastNestedLoopJoin/cartesian)") {
    val prj = plan("q_range_join")
    assert(!prj.contains("BroadcastNestedLoopJoin") &&
      !prj.toLowerCase.contains("cartesian") &&
      (prj.contains("ShuffledHashJoin") || prj.contains("SortMergeJoin") ||
        prj.contains("BroadcastHashJoin")), prj)
  }

  // As-of join: the single-pass merge — a hash repartition + in-partition
  // sort + mapPartitions scan; never a nested loop, a window, or a
  // per-key re-aggregation.
  test("q_asof_join: merge shape (no BNLJ/cartesian/Window/HashAggregate)") {
    val pao = plan("q_asof_join")
    assert(!pao.contains("BroadcastNestedLoopJoin") &&
      !pao.toLowerCase.contains("cartesian") && !pao.contains("Window") &&
      !pao.contains("HashAggregate"), pao)
  }

  // LM frequency score: the bounded vocab must broadcast (the corpus
  // side never shuffles against it) and be built as TakeOrdered, with
  // partial-agg'd counting on both passes.
  test("q_lm_score: TakeOrdered vocab broadcast to the scan, partial-agg counts") {
    val plm = plan("q_lm_score")
    assert(plm.contains("BroadcastHashJoin") && plm.contains("TakeOrderedAndProject") &&
      plm.contains("partial_count") && !plm.contains("SortMergeJoin") &&
      !plm.contains("ShuffledHashJoin"), plm)
  }

  // Passage removal: partial-agg ownership + anti-join + grouped
  // rebuild — never a window over the corpus-wide key, no cartesian.
  test("q_passage_dedup: no Window, no cartesian, partial-agg ownership") {
    val ppd = plan("q_passage_dedup")
    assert(!ppd.contains("Window") && !ppd.toLowerCase.contains("cartesian") &&
      ppd.contains("partial_min"), ppd)
  }

  // Token windowing: a narrow per-row explode — no shuffle, no window.
  test("q_chunk_windows: narrow explode (no Exchange/join/Window)") {
    val pchk = plan("q_chunk_windows")
    assert(!pchk.contains("Exchange") && !pchk.contains("Join") &&
      !pchk.contains("Window"), pchk)
  }

  // Split assignment: pure per-row label — narrow codegen'd scan.
  test("q_mix_split: narrow codegen'd scan (no Exchange/join/Window)") {
    val pspl = plan("q_mix_split")
    assert(!pspl.contains("Exchange") && !pspl.contains("Join") &&
      !pspl.contains("Window") &&
      (pspl.contains("WholeStageCodegen") || pspl.contains("*(")), pspl)
  }

  // Boilerplate removal: block segmentation + main content are per-row
  // expressions — one narrow scan, no shuffle/join/window/UDF.
  test("q_boilerplate: narrow scan (no Exchange/join/Window/UDF)") {
    val pboil = plan("q_boilerplate")
    assert(!pboil.contains("Exchange") && !pboil.contains("Join") &&
      !pboil.contains("Window") && !pboil.contains("ScalaUDF"), pboil)
  }

  // Outlink extraction: per-row expression — one narrow scan.
  test("q_outlinks: narrow scan (no Exchange/join/Window/UDF)") {
    val plinks = plan("q_outlinks")
    assert(!plinks.contains("Exchange") && !plinks.contains("Join") &&
      !plinks.contains("Window") && !plinks.contains("ScalaUDF"), plinks)
  }

  // Host-graph PageRank: the per-iteration contribution join must be a
  // shuffled-hash join of the slim rank table against the persisted
  // src-partitioned edge layout (never sort-merge — a pointless sort per
  // iteration — and never a broadcast of the ~10⁸-host rank table), with
  // a partial-agg'd inflow sum and no Window/cartesian in the loop body.
  test("hostrank iteration: ShuffledHashJoin contribution inflow, partial agg, no Window") {
    val hrEdges = documents.select((col("doc_id") % 49).as("src"),
      ((col("doc_id") * 7 + 3) % 50).as("dst")).distinct()
    val (hrNodes, hrEd, _) = graft.graph.HostRank.layout(hrEdges)
    hrEd.count()
    val ranks = hrNodes.select(col("h"),
      org.apache.spark.sql.functions.lit(0.02).as("r")).localCheckpoint(true)
    val contribDf = graft.graph.HostRank.contributions(hrEd, ranks)
    contribDf.collect()
    val pcontrib = contribDf.queryExecution.executedPlan.toString
    assert(pcontrib.contains("ShuffledHashJoin") && !pcontrib.contains("SortMergeJoin") &&
      !pcontrib.contains("BroadcastHashJoin") && pcontrib.contains("partial_sum") &&
      !pcontrib.contains("Window") && !pcontrib.contains("CartesianProduct"), pcontrib)
  }

  // Mojibake repair: the replace chain is one narrow codegen'd scan.
  test("q_fix_mojibake: narrow codegen'd scan (no Exchange/join/Window/UDF)") {
    val pmoj = plan("q_fix_mojibake")
    assert(!pmoj.contains("Exchange") && !pmoj.contains("Join") &&
      !pmoj.contains("Window") && !pmoj.contains("ScalaUDF") &&
      (pmoj.contains("WholeStageCodegen") || pmoj.contains("*(")), pmoj)
  }

  // Compression ratio: per-row expression, narrow scan.
  test("q_compress_ratio: narrow scan (no Exchange/join/Window/UDF)") {
    val pcmp = plan("q_compress_ratio")
    assert(!pcmp.contains("Exchange") && !pcmp.contains("Join") &&
      !pcmp.contains("Window") && !pcmp.contains("ScalaUDF"), pcmp)
  }

  // Z-order key: pure integer projection, narrow scan.
  test("q_zorder: narrow codegen'd scan (no Exchange/join/Window)") {
    val pzo = plan("q_zorder")
    assert(!pzo.contains("Exchange") && !pzo.contains("Join") &&
      !pzo.contains("Window") &&
      (pzo.contains("WholeStageCodegen") || pzo.contains("*(")), pzo)
  }

  // Corpus quantiles: exact percentile partial-aggregates its histogram
  // state map-side (no global sort, no window).
  test("q_corpus_quantiles: partial percentile agg, no Window/Sort") {
    val pqt = plan("q_corpus_quantiles")
    assert(pqt.contains("partial_percentile") && !pqt.contains("Window"), pqt)
  }

  // BPE round-1 pair counts: two partial-agg'd shuffles (word count,
  // pair sum) + TakeOrdered — no Window, no cartesian.
  test("q_bpe_pairs: partial-agg'd counts + TakeOrdered, no Window/cartesian") {
    val pbpe = plan("q_bpe_pairs")
    assert(pbpe.contains("partial_count") && pbpe.contains("partial_sum") &&
      pbpe.contains("TakeOrderedAndProject") && !pbpe.contains("Window") &&
      !pbpe.contains("Cartesian"), pbpe)
  }

  // DSIR scoring: one exploded scan joined to the model table, per-doc
  // reduce partial-agg'd map-side — no Window, no cartesian (the model
  // fit's scalar rows are literals, not a BNLJ). The queries entry
  // checkpoints its result (which collapses the executed plan to a
  // `Scan ExistingRDD`), so the audit inspects the pre-checkpoint plan
  // the entry materializes — same shape, minus the checkpoint cap.
  private def dsirPlan(build: (SparkSession, String) => (
      DataFrame, graft.text.Dsir.DsirModel)): String = {
    val (out, model) = build(spark, sfDir)
    try { out.collect(); out.queryExecution.executedPlan.toString }
    finally model.unpersist()
  }
  test("q_dsir_weights: partial-agg'd scoring join, no Window/cartesian/BNLJ") {
    val pdw = dsirPlan(SparkEntry.dsirWeightsPlan)
    assert(pdw.contains("partial_count") && pdw.contains("partial_sum") &&
      !pdw.contains("Window") && !pdw.contains("Cartesian") &&
      !pdw.contains("BroadcastNestedLoop"), pdw)
  }

  // DSIR resample: Gumbel top-k must be TakeOrderedAndProject, never a
  // global Sort.
  test("q_dsir_resample: Gumbel top-k as TakeOrderedAndProject, no Window") {
    val pdr = dsirPlan(SparkEntry.dsirResamplePlan)
    assert(pdr.contains("TakeOrderedAndProject") && !pdr.contains("Window"), pdr)
  }

  // Sequence packing: the cumsum window must be partitioned by the
  // bounded bin key (never an unpartitioned global-order window), and
  // there is exactly one shuffle (the bin exchange the window sorts in).
  test("q_pack_assign: cumsum window partitioned by bin, no cartesian") {
    val ppk = plan("q_pack_assign")
    assert({
      val specs = "windowspecdefinition\\([^)]*".r.findAllIn(ppk).toList
      specs.nonEmpty && specs.forall(_.contains("bin")) &&
        !ppk.contains("Cartesian")
    }, ppk)
  }

  // BM25: top-k is TakeOrderedAndProject, idf comes back broadcast, and
  // the hit stream never sort-merges (bounded by matches, not corpus).
  test("q_bm25: TakeOrdered + broadcast idf, no SMJ/Window") {
    val pbm = plan("q_bm25")
    assert(pbm.contains("TakeOrderedAndProject") && pbm.contains("BroadcastHashJoin") &&
      !pbm.contains("SortMergeJoin") && !pbm.contains("Window"), pbm)
  }

  // Batch BM25: per-query ranking on the bounded top_k aggregate (never
  // a row_number window), query vocabulary broadcast against the corpus.
  test("q_bm25_batch: bounded top_k agg + broadcast query side, no Window/SMJ") {
    val pbb = plan("q_bm25_batch")
    assert(pbb.contains("ObjectHashAggregate") && pbb.contains("BroadcastHashJoin") &&
      !pbb.contains("Window") && !pbb.contains("SortMergeJoin"), pbb)
  }

  // Cross-corpus near-dups: candidate generation is the bucketed equi-join
  // ladder and verification is shuffled-hash — never a cartesian, BNLJ,
  // window, or sort-merge over shingle arrays.
  test("q_cross_dedup: bucketed equi-join + SHJ verify, no cartesian/BNLJ/Window") {
    val pxc = plan("q_cross_dedup")
    assert(pxc.contains("ShuffledHashJoin") && !pxc.contains("Cartesian") &&
      !pxc.contains("BroadcastNestedLoop") && !pxc.contains("Window"), pxc)
  }

  // Snapshot diff: one co-partitioned equi-join — never a cartesian/BNLJ
  // (raw full-outer inequality shapes degenerate to BNLJ; this must not).
  test("q_snapshot_diff: equi full-outer join, no cartesian/BNLJ/Window") {
    val psn = plan("q_snapshot_diff")
    assert(psn.contains("FullOuter") && !psn.contains("Cartesian") &&
      !psn.contains("BroadcastNestedLoop") && !psn.contains("Window"), psn)
  }

  // Script profile: a pure narrow codegen'd scan — no shuffle at all.
  test("q_script_profile: narrow codegen'd scan (no Exchange/Join/Window)") {
    val psp = plan("q_script_profile")
    assert(!psp.contains("Exchange") && !psp.contains("Join") &&
      !psp.contains("Window") &&
      (psp.contains("WholeStageCodegen") || psp.contains("*(")), psp)
  }

  // Soft-dedup weights: family sizes via partial-agg + join-back (the
  // exact_edges skew ladder), never a Window.
  test("q_soft_dedup: partial-agg'd sizes + join-back, no Window") {
    val psd = plan("q_soft_dedup")
    assert(psd.contains("partial_count") && !psd.contains("Window"), psd)
  }

  // Head metadata: per-row struct extraction — the q_pii narrow contract.
  test("q_page_meta: narrow codegen'd scan (no Exchange/join/Window)") {
    val pmeta = plan("q_page_meta")
    assert(!pmeta.contains("Exchange") && !pmeta.contains("Join") &&
      !pmeta.contains("Window") &&
      (pmeta.contains("WholeStageCodegen") || pmeta.contains("*(")), pmeta)
  }

  // robots gate: rules parsed on the HOST side (robotsrules appears
  // exactly once, in the rule-table projection — asserted on the
  // OPTIMIZED logical plan, because tree-mode physical strings don't
  // print aggregate output expressions), pages join the rule array as a
  // shuffled-hash equi-join — no broadcast-nested-loop, no cartesian,
  // no Window.
  private lazy val robots: (String, String) = {
    val robDf = SparkEntry.queries("q_robots_gate")(spark, sfDir)
    robDf.collect()
    (robDf.queryExecution.optimizedPlan.toString.toLowerCase,
      robDf.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0))
  }
  test("q_robots_gate: robots.txt parsed once per host, not per page") {
    val robLogical = robots._1
    assert("robotsrules".r.findAllIn(robLogical).length == 1, robLogical)
  }
  test("q_robots_gate: shuffled-hash equi-join, no cartesian/BNLJ/Window") {
    val robFinal = robots._2
    assert(robFinal.contains("ShuffledHashJoin") && !robFinal.contains("Cartesian") &&
      !robFinal.contains("BroadcastNestedLoop") && !robFinal.contains("Window"),
      robFinal)
  }

  // Anchor corpus: two partial-agg'd aggregations with the bounded top_k
  // (ObjectHashAggregate) — no Window, no cartesian anywhere.
  test("q_anchor_corpus: partial-agg'd counts + bounded top_k, no Window") {
    val panc = plan("q_anchor_corpus")
    assert(panc.contains("partial_count") && panc.contains("ObjectHashAggregate") &&
      !panc.contains("Window") && !panc.contains("Cartesian"), panc)
  }

  // Latest-capture collapse: partial-agg'd max_by over the packed
  // (ts, id) struct + join-back — the rep-select skew ladder, no Window.
  test("q_latest_capture: partial-agg'd max_by + join-back, no Window") {
    val plc = plan("q_latest_capture")
    assert(plc.contains("partial_max_by") && !plc.contains("Window") &&
      !plc.contains("Cartesian"), plc)
  }

  // Canonical-link pre-dedup: ONE partial-agg'd groupBy on the coalesced
  // key — no Window, no join at all (min/count are plain aggregates).
  test("q_canonical_dedup: one partial-agg'd groupBy, no Window/join") {
    val pcd = plan("q_canonical_dedup")
    assert(pcd.contains("partial_min") && !pcd.contains("Window") &&
      !pcd.contains("Join"), pcd)
  }

  // Dup-rate probe: only partial-agg'd groupBys downstream of the sample
  // filter — no Window, no join; the shuffle carries the sampled slice.
  test("q_dup_probe: two partial-agg'd groupBys, no Window/join") {
    val pdp = plan("q_dup_probe")
    assert(pdp.contains("partial_count") && !pdp.contains("Window") &&
      !pdp.contains("Join") && !pdp.contains("Cartesian"), pdp)
  }

  // Leakage-safe split: the label is a narrow per-row function of the
  // cluster column — no Window anywhere (the union-find is a driver-side
  // solve at this size, else equi-joins + partial aggs).
  test("q_split_leakage: cluster-keyed label, no Window/cartesian") {
    val psl = plan("q_split_leakage")
    assert(!psl.contains("Window") && !psl.contains("Cartesian"), psl)
  }

  // Perceptual image hash: one narrow batched pass (mapPartitions-shaped
  // decode+hash) — no shuffle, no Window, no join.
  test("q_image_phash: narrow batched decode+hash (no Exchange/join/Window)") {
    val pip = plan("q_image_phash")
    assert(!pip.contains("Exchange") && !pip.contains("Join") &&
      !pip.contains("Window"), pip)
  }

  // Domain blocklist: the plan-carried hash set is a narrow scan filter.
  test("q_domain_blocklist: narrow codegen'd scan (no Exchange/join/Window)") {
    val pblk = plan("q_domain_blocklist")
    assert(!pblk.contains("Exchange") && !pblk.contains("Join") &&
      !pblk.contains("Window") &&
      (pblk.contains("WholeStageCodegen") || pblk.contains("*(")), pblk)
  }

  // CDX parse: one narrow codegen'd projection (regexp + json probes) —
  // no shuffle of any kind before the captures exist.
  test("q_cdx_parse: narrow codegen'd line parse (no Exchange/join/Window)") {
    val pcdx = plan("q_cdx_parse")
    assert(!pcdx.contains("Exchange") && !pcdx.contains("Join") &&
      !pcdx.contains("Window") &&
      (pcdx.contains("WholeStageCodegen") || pcdx.contains("*(")), pcdx)
  }

  // CDX digest collapse: partial-agg'd min(struct)+count on the digest +
  // hash-join-back — the exact_edges skew ladder at index cost, no Window.
  test("q_cdx_dedup: partial-agg'd keeper + join-back, no Window") {
    val pcdd = plan("q_cdx_dedup")
    assert(pcdd.contains("partial_min") && pcdd.contains("partial_count") &&
      !pcdd.contains("Window") && !pcdd.contains("Cartesian"), pcdd)
  }

  // CDX latest-capture: same ladder with max_by-shaped keeper.
  test("q_cdx_latest: partial-agg'd max keeper + join-back, no Window") {
    val pcdl = plan("q_cdx_latest")
    assert(pcdl.contains("partial_max") && !pcdl.contains("Window") &&
      !pcdl.contains("Cartesian"), pcdl)
  }

  // CCNet tercile slices: per-language percentile cuts as ONE
  // partial-agg'd aggregate + broadcast join-back — no window/ntile over
  // the corpus, no cartesian.
  test("q_lm_terciles: percentile agg + broadcast join-back, no Window") {
    val plt = plan("q_lm_terciles")
    assert(plt.contains("partial_percentile") && plt.contains("BroadcastHashJoin") &&
      !plt.contains("Window") && !plt.contains("Cartesian"), plt)
  }

  // Sketch verification: the pipeline verify stage's join shape (two
  // shuffled-hash joins co-partitioned on the id, no sort-merge, no
  // broadcast of sketch state, no Window) with the per-id payload
  // shrunk to the packed b-bit sketch.
  test("q_sketch_verify: shuffled-hash sketch joins, no SMJ/Window") {
    val psv = plan("q_sketch_verify")
    assert(psv.contains("ShuffledHashJoin") && !psv.contains("SortMergeJoin") &&
      !psv.contains("Window") && !psv.contains("Cartesian"), psv)
  }
}
