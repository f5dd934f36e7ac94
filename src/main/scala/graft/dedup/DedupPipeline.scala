package graft.dedup

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.io.StageStore
import graft.schema.Page

/** Dedup pipeline configuration (the graft analog of `DeduplicatorConfig`,
  * /root/reference/src/dedupe.rs:190-201).
  *
  * Default LSH geometry: 80 MinHash values as 16 bands × 5 rows. Collision
  * probability at Jaccard s is 1-(1-s⁵)¹⁶ ≈ 0.998 at s=0.8 (0.9999 at
  * s=0.85) — comfortably inside the ≥0.99 pair-recall budget of
  * BASELINE.json, which is spent almost entirely in the verify threshold,
  * not in LSH misses. (The original 32×4 geometry bought 1-5e-8 collision
  * at s=0.8 — recall headroom nobody needs — at the price of 2× the MinHash
  * compute and 2× the exploded band rows in the candidate stage, the
  * pipeline's largest shuffle. Keeping r=5 rather than widening to r=4
  * holds the low-similarity false-candidate rate flat.)
  *
  * `maxBucketAllPairs`: buckets up to this size emit all C(n,2) pairs;
  * larger buckets emit an id-ordered chain (n-1 pairs). A hot bucket is a
  * near-clique at verify threshold (its members agree on a full band), so
  * chaining preserves connectivity through CC while bounding join output —
  * the explicit skew defense of SURVEY.md §4.2. Buckets past
  * [[DedupPipeline.HugeBucketCutoff]] are dropped entirely (with a metrics
  * row): content that sits in a >10⁶-page bucket is boilerplate whose
  * duplicates the exact-hash path already links.
  *
  * Fixed, not configurable: the MinHash count is `bands * rows`; the
  * doc-id uniqueness check always runs; the LCS band and union-find
  * durability are the named constants beside their code. LSH banding is
  * the one candidate source: SimHash at Hamming ≤ 3 over the same distinct
  * shingle sets is a stricter set-similarity filter whose pairs the bands
  * already catch ([[SimHashDedup]] is a standalone operator).
  */
final case class DedupConfig(
    shingleK: Int = 5,
    bands: Int = 16,
    rows: Int = 5,
    seed: Long = 42L,
    jaccardThreshold: Double = 0.8,
    useLcsCheck: Boolean = false,
    maxBucketAllPairs: Int = 64,
    sourcePreferences: Seq[String] = Nil,
    resumeChunks: Int = 4,
    urlCanonicalPreDedup: Boolean = false,
    idBits: Int = 64,
    statePartitions: Int = 32,
    stateCompactEvery: Int = 8) {
  require(resumeChunks >= 1, "resumeChunks must be >= 1")
  require(idBits == 64 || idBits == 128, "idBits must be 64 or 128")
  require(statePartitions >= 1, "statePartitions must be >= 1")
  require(stateCompactEvery >= 1, "stateCompactEvery must be >= 1")
}

/** The end-to-end near-dup detection + clustering pipeline (SURVEY.md §3.3
  * "Spark graft lifecycle"). Stage graph, each checkpointed via [[StageStore]]:
  *
  *   signatures → exact_edges → candidate_pairs → verified_edges
  *             → components → clusters
  *
  * Every stage is a pure function of the previous checkpoint, so a killed
  * run resumes at the first incomplete stage (`StageStore.getOrCompute`).
  */
final class DedupPipeline(spark: SparkSession, config: DedupConfig, checkpoints: StageStore) {

  import spark.implicits._
  import DedupPipeline.{CcDurableInterval, HugeBucketCutoff, IdSeed2}

  /** The checkpoint store, config-checked once per instance: the first
    * stage read or write runs [[assertCheckpointConfig]] (a refusal re-runs
    * on the next access), so a store built one stage method at a time is
    * fingerprinted exactly as one built by [[run]].
    */
  private lazy val store: StageStore = { assertCheckpointConfig(); checkpoints }

  /** The stable doc id as a pure function of the row's natural key
    * (url, warc_ts) — identical across resume runs, partitionings, and
    * cluster sizes. `idBits = 64`: one xxhash64 long (random-collision math
    * ~n²/2⁶⁵ pairs — fine to ~10⁹ docs). `idBits = 128`: a two-long struct
    * of independent-seed xxhash64 values (~n²/2¹²⁹ — ~10⁻¹⁵ expected
    * colliding pairs at 10¹² docs). Struct ids flow through every stage
    * unchanged: Spark orders/joins/aggregates structs field-wise, so min,
    * least/greatest, equi-joins, and min_by tie-breaks all behave exactly
    * as for longs.
    */
  private def idCol: org.apache.spark.sql.Column =
    if (config.idBits == 64) xxhash64(col("url"), col("warc_ts"))
    else struct(
      xxhash64(col("url"), col("warc_ts")).as("h1"),
      xxhash64_seeded(IdSeed2, col("url"), col("warc_ts")).as("h2"))

  /** Stage 1 — signatures: extract+normalize text, shingle, MinHash→LSH
    * band keys, exact-content hash; assign the stable numeric id.
    * Narrow (no shuffle).
    *
    * The doc id is a pure function of the row's natural key (url, warc_ts)
    * — a crawl can contain the same url at several capture timestamps — so
    * ids are identical across resume runs, partitionings, and cluster
    * sizes (a monotonic id would not be). Width is `config.idBits`: 64
    * (one xxhash64; ~n²/2⁶⁵ expected collisions — fine to ~10⁹ docs) or
    * 128 (two-long struct; ~10⁻¹⁵ at 10¹² docs) — see [[idCol]].
    *
    * Partition-level resume (north_star: "a killed job resumes mid-pipeline
    * without recomputing completed partitions"): the stage is stored as
    * `resumeChunks` independent checkpoints, chunked by
    * `pmod(xxhash64(url, warc_ts), C)` (the id itself at `idBits = 64`).
    * Every chunk without a manifest is computed by ONE job over ONE scan
    * of the input ([[StageStore.writeChunks]]), filtered to those chunks
    * only when some are already committed; completed chunks load from
    * their manifests. A kill during that job loses every chunk it was
    * writing, a kill between the chunk commits only the uncommitted ones.
    * The chunk key is a pure function of the row, so chunk contents are
    * stable across runs, and a chunk no row falls in commits with no file.
    *
    * The checkpoint stores the `bands` band keys (b longs), NOT the full
    * n-value MinHash signature — bands are the only thing the candidate
    * stage consumes, which cuts the stage's write volume (the dominant cost
    * at 10⁵ rows/executor-thread) by ~4×.
    */
  def signatures(pages: Dataset[Page]): DataFrame =
    withUniqueIds("input", "signatures_idcheck", signatureStages) { missing =>
      if (missing.nonEmpty) {
        val todo = signatureStages.zipWithIndex
          .collect { case (st, i) if missing.contains(st) => i -> st }.toMap
        val chunk = pmod(xxhash64(col("url"), col("warc_ts")), lit(config.resumeChunks))
          .cast("int")
        // the signature projection never touches the raw html payload (the
        // corpus's largest column), so the scan drops it. In production the
        // chunk key is the Iceberg ingest partition, and a resume's scan
        // prunes to the missing chunks' files instead of filtering.
        val slimPages = pages.toDF().drop("html")
        val input =
          if (todo.size == config.resumeChunks) slimPages
          else slimPages.filter(chunk.isin(todo.keys.toSeq: _*))
        store.writeChunks(todo, signaturesChunkPlan(input).withColumn("chunk", chunk))
      }
      store.read(signatureStages)
    }

  /** `compute(missing)` — `missing` being the `stages` not yet
    * checkpointed — with its doc ids asserted unique. Doc ids are
    * xxhash64(url, warc_ts): duplicate natural keys (and the all-null-key
    * case, where xxhash64 skips null inputs and every such row shares one
    * id) silently merge distinct documents. One column-pruned agg over the
    * checkpointed result checks them — cheap next to the stage write. The
    * pass is recorded as the durable `marker`, not inferred from stage
    * completeness: a crash between the last commit and the check would
    * otherwise leave every manifest present, and the rerun would silently
    * adopt unchecked signatures. So the check runs when the marker is
    * absent or any stage was recomputed, and on failure the stages and the
    * marker are deleted BEFORE throwing, so a rerun recomputes and
    * re-checks.
    */
  private def withUniqueIds(what: String, marker: String, stages: Seq[String])
      (compute: Seq[String] => DataFrame): DataFrame = {
    val missing = stages.filterNot(store.has)
    val out = compute(missing)
    if (missing.nonEmpty || !store.marked(marker)) {
      val row = out.agg(count(lit(1)).as("n"), count_distinct(col("id")).as("d"))
        .collect()(0)
      if (row.getLong(0) != row.getLong(1)) {
        stages.foreach(store.invalidate)
        store.unmark(marker)
        throw new IllegalArgumentException(
          s"$what doc ids are not unique: ${row.getLong(0)} rows but " +
            s"${row.getLong(1)} distinct hash(url, warc_ts) ids — dedupe the " +
            s"$what on (url, warc_ts) or switch to idBits=128 (signature " +
            "checkpoints were removed so a rerun re-checks)")
      }
      store.mark(marker)
    }
    out
  }

  /** The signature stage's checkpoint names: `signatures` when
    * `resumeChunks == 1`, else `signatures_chunk0` … `signatures_chunk<C-1>`.
    */
  private[graft] def signatureStages: Seq[String] =
    if (config.resumeChunks == 1) Seq("signatures")
    else (0 until config.resumeChunks).map(i => s"signatures_chunk$i")

  /** The signature stage's per-chunk plan — narrow (no Exchange), one
    * MinHash pass; both pinned by DedupPipelineSpec. Extracted so the
    * physical plan can be checked without touching the checkpoint store.
    */
  private[graft] def signaturesChunkPlan(df: DataFrame): DataFrame = {
    val normalized = df
      .withColumn("norm_text", normalize_tokens(col("text")))
      .withColumn("shingles", word_shingles(col("norm_text"), config.shingleK, config.seed))
    normalized.select(
      idCol.as("id"),
      col("url"),
      col("warc_ts"),
      col("lang"),
      col("source"),
      length(col("text")).as("text_len"),
      xxhash64(col("norm_text")).as("content_hash"),
      size(col("shingles")).as("n_shingles"),
      // stored/verified representation: low 32 bits (half the bytes; the
      // MinHash below mixes from the full 64-bit hashes)
      truncate_hashes32(col("shingles")).as("shingles"),
      minhash_bands(col("shingles"), config.bands, config.rows, config.seed).as("bands"))
  }

  /** Stage 2 — exact-dup fast path (the DOI-equality analog, SURVEY.md §2.3):
    * identical normalized content ⇒ edge to the group minimum. Output is
    * linear in duplicate count.
    *
    * Shape: `groupBy(content_hash).agg(min(id))` + equi-join back — NOT
    * `min over Window.partitionBy(content_hash)`. A window has no map-side
    * partial aggregation and no AQE skew mitigation, so a 10⁸-copy
    * boilerplate family (exactly the content this stage exists to absorb)
    * would ship every copy into ONE task. The aggregate's partial min makes
    * the min side tiny (one row per distinct hash per task before the
    * shuffle), and AQE skew-join splitting can split the hot hash on the
    * join back. Same output, no single-task funnel.
    */
  def exactEdges(sigs: DataFrame): DataFrame =
    store.getOrCompute("exact_edges")(exactEdgesPlan(sigs))

  private[graft] def exactEdgesPlan(sigs: DataFrame): DataFrame = {
    val slim = sigs.select(col("id"), col("content_hash"))
    val mins = slim.groupBy("content_hash").agg(min("id").as("m"))
    slim.join(mins, "content_hash")
      .filter(col("id") =!= col("m"))
      .select(col("m").as("a"), col("id").as("b"))
  }

  /** Skew-policy observability (SURVEY.md §4.2 "no silent caps"): band
    * buckets that fell back to chain emission, and buckets/rows dropped
    * past [[DedupPipeline.HugeBucketCutoff]]. Populated by the candidate
    * stage's job — in an incremental batch by both halves: the delta×delta
    * emission counts its chained and dropped buckets (and dropped rows),
    * the delta×prior ladder the prior buckets it chains to or drops.
    */
  val hotBuckets = spark.sparkContext.longAccumulator("graft.dedup.hotBuckets")
  val droppedBuckets = spark.sparkContext.longAccumulator("graft.dedup.droppedBuckets")
  val droppedBucketRows = spark.sparkContext.longAccumulator("graft.dedup.droppedBucketRows")

  /** Stage 3 — LSH candidate pairs: explode band keys, co-locate each
    * (band, bucket), and emit pairs with a single streaming pass over
    * bucket-sorted rows via the shared [[PairEmission]] policy: all C(n,2)
    * pairs for buckets up to `maxBucketAllPairs`, an id-ordered chain for
    * hot buckets (connectivity preserved through connected components — the
    * explicit skew defense), nothing for buckets past [[HugeBucketCutoff]]
    * (boilerplate whose dups the exact-hash path already links; counted in
    * [[droppedBuckets]]/[[droppedBucketRows]], never silent).
    *
    * Exact-dup groups are collapsed to their representative BEFORE banding
    * so a 10⁶-copy boilerplate family costs one row here, not 10⁶.
    *
    * Physical shape ([[PairEmission.bucketPairs]], the id carried as-is
    * at either width): ONE shuffle (repartition by bucket key) +
    * in-partition sort + a streaming run detection, then a distinct on the
    * emitted pairs. Buffered state is one bucket's ids, capped at
    * HugeBucketCutoff (8 MB at the default) — no hash-aggregate state.
    * Earlier formulations (window counts + bucket self-join; groupBy +
    * collect_list) both anti-scaled with cores: at n pages × b bands the
    * bucket key space is ~n·b mostly-singleton groups, and a 10⁷-key hash
    * aggregate per task thrashes memory, while this pass is a pure
    * sequential scan.
    */
  def candidatePairs(sigs: DataFrame, exact: DataFrame): DataFrame =
    store.getOrCompute("candidate_pairs")(candidatePairsPlan(sigs, exact))

  /** (band, bucket, id) rows for every BANDABLE doc in `sigs`: exact-dup
    * members (b side of `exact`) are represented by their group min, so a
    * 10⁶-copy boilerplate family costs one row per band here, not 10⁶.
    * Explicit slim projection BEFORE the anti join: the join shuffles its
    * left side, and shuffling (id, n_shingles, bands) instead of the full
    * signature row (shingle arrays, url, …) is ~3× less volume.
    */
  private def bandRowsOf(sigs: DataFrame, exact: DataFrame): DataFrame =
    sigs.select("id", "n_shingles", "bands")
      .join(exact.select(col("b").as("id")), Seq("id"), "left_anti")
      .filter(col("n_shingles") > 0)
      .select(col("id"), posexplode(col("bands")).as(Seq("band", "bucket")))

  private[graft] def candidatePairsPlan(sigs: DataFrame, exact: DataFrame): DataFrame =
    bandPairs(bandRowsOf(sigs, exact))

  /** Within-bucket candidate pairs of (band, bucket, id) `bandRows`. */
  private def bandPairs(bandRows: DataFrame): DataFrame = {
    val (hot, droppedB, droppedR) = (hotBuckets, droppedBuckets, droppedBucketRows)
    PairEmission.bucketPairs(bandRows, Seq("band", "bucket"),
      order = Seq("id"), value = col("id"),
      maxAllPairs = config.maxBucketAllPairs, hugeCutoff = HugeBucketCutoff,
      onHot = () => hot.add(1L),
      onDropped = n => { droppedB.add(1L); droppedR.add(n) })
      .distinct()
  }

  /** The LCS second chance's Jaccard floor and verbatim-run share. */
  private val LcsLowJaccard = 0.4
  private val LcsMinFraction = 0.5

  /** Stage 4 — verification: exact Jaccard over the persisted shingle sets
    * (two co-keyed joins back to the signature table); optionally a
    * longest-common-substring second chance for borderline pairs.
    *
    * The LCS check (north_star: "exact Jaccard plus suffix-array
    * longest-common-substring checks") rescues pairs whose shingle Jaccard
    * falls in [LcsLowJaccard, jaccardThreshold) but that share a verbatim
    * run covering ≥ LcsMinFraction of the shorter normalized text — the
    * "quoted-in-full inside extra boilerplate" shape that set-similarity
    * underrates. Borderline pairs are few, so the text join (back to the
    * input pages by url) is a small broadcast-side join; texts are never
    * carried through the main verify shuffle.
    */
  def verifiedEdges(sigs: DataFrame, pairs: DataFrame,
      pages: Option[Dataset[Page]] = None): DataFrame =
    store.getOrCompute("verified_edges")(verifiedEdgesPlan(sigs, pairs, pages))

  private[graft] def verifiedEdgesPlan(sigs: DataFrame, pairs: DataFrame,
      pages: Option[Dataset[Page]] = None): DataFrame = {
      // Explicit shuffled-hash joins: both joins co-partition on the doc id
      // (a shuffle that is needed regardless), build the hash table on the
      // pair side, and never sort. Left unhinted, the optimizer may instead
      // broadcast the intermediate result of join #1 — which drags the sh_a
      // shingle arrays through a driver collect — or sort-merge both sides.
      val shingleSide = sigs.select(col("id"), col("shingles"))
      val scored = pairs.hint("shuffle_hash")
        .join(shingleSide.withColumnsRenamed(Map("id" -> "a", "shingles" -> "sh_a")), "a")
        .hint("shuffle_hash")
        .join(shingleSide.withColumnsRenamed(Map("id" -> "b", "shingles" -> "sh_b")), "b")
        .withColumn("jaccard", jaccard_sorted(col("sh_a"), col("sh_b")))
      val direct = scored.filter(col("jaccard") >= config.jaccardThreshold)
        .select("a", "b", "jaccard")

      (config.useLcsCheck, pages) match {
        case (true, Some(p)) =>
          val borderline = scored
            .filter(col("jaccard") >= LcsLowJaccard &&
              col("jaccard") < config.jaccardThreshold)
            .select("a", "b", "jaccard")
            .localCheckpoint(true) // small; reused below and as a semi filter
          // normalize ONLY the texts the borderline pairs touch. The text
          // lookup is keyed by the DOC ID (xxhash64(url, warc_ts)), not the
          // url: a crawl can hold the same url at several capture
          // timestamps, and a url-keyed join would fan borderline pairs out
          // across captures and LCS-verify against the wrong capture's text.
          val neededIds = borderline.select(col("a").as("id"))
            .union(borderline.select(col("b").as("id"))).distinct()
          val texts = p.toDF()
            .withColumn("id", idCol)
            .join(broadcast(neededIds), Seq("id"), "left_semi")
            .select(col("id"), normalize_tokens(col("text")).as("nt"))
            .localCheckpoint(true)
          val rescued = borderline
            .join(texts.withColumnsRenamed(Map("id" -> "a", "nt" -> "nt_a")), "a")
            .join(texts.withColumnsRenamed(Map("id" -> "b", "nt" -> "nt_b")), "b")
            .filter(lcs_length(col("nt_a"), col("nt_b")) >=
              least(length(col("nt_a")), length(col("nt_b"))) * LcsMinFraction)
            .select("a", "b", "jaccard")
            .distinct()
          direct.union(rescued)
        case _ => direct
      }
  }

  /** Stage 5 — components: union exact + verified edges and label them by
    * [[ConnectedComponents]] (union-find on the driver when the edge set
    * fits, else large-star/small-star to fixpoint). On the star path every
    * [[CcDurableInterval]]-th round is persisted through the StageStore
    * (reliable storage), so a job killed mid-fixpoint fast-forwards to the
    * last persisted round on resume — `localCheckpoint` alone is
    * executor-local and would force a full redo (or a job failure) after an
    * executor loss.
    */
  def components(exact: DataFrame, verified: DataFrame): DataFrame =
    store.getOrCompute("components") {
      val edges = exact.select("a", "b").union(verified.select("a", "b"))
      ConnectedComponents.run(edges, durable = Some((store, CcDurableInterval)),
        durablePrefix = "components_cc")
    }

  /** Stage 6 — clusters: every page gets a cluster (singletons = own id);
    * representative selection mirrors the reference's preference chain
    * (/root/reference/src/dedupe.rs:507-555): source-preference rank, then
    * richer content (longer text — the abstract-preference analog), then
    * earlier warc_ts, then smallest id. `min_by` over a packed priority
    * struct — one shuffle, no collect_list.
    */
  def clusters(sigs: DataFrame, comps: DataFrame): DataFrame =
    store.getOrCompute("clusters")(clustersPlan(sigs, comps))

  /** Representative selection as `min_by` over a packed priority struct
    * (pref_rank asc, text_len desc via negation, warc_ts asc, id asc —
    * struct comparison is field-wise, and the unique trailing id makes the
    * order total) + an equi-join to set the flag. NOT a `row_number` window:
    * a window sorts a monster cluster (the exact-path-linked boilerplate
    * family) in one task with no partial aggregation, while `min_by`
    * partial-aggregates map-side (one candidate row per cluster per task)
    * and AQE can skew-split the join back.
    */
  private[graft] def clustersPlan(sigs: DataFrame, comps: DataFrame): DataFrame = {
    val prefRank: org.apache.spark.sql.Column =
      if (config.sourcePreferences.isEmpty) lit(Int.MaxValue)
      else config.sourcePreferences.zipWithIndex.foldRight(lit(Int.MaxValue): org.apache.spark.sql.Column) {
        case ((src, rank), acc) => when(col("source") === src, lit(rank)).otherwise(acc)
      }

    val assigned = sigs
      .join(comps, Seq("id"), "left")
      .withColumn("cluster_id", coalesce(col("component"), col("id")))
      .withColumn("pref_rank", prefRank)
    val reps = assigned.groupBy("cluster_id")
      .agg(min_by(col("id"),
        struct(col("pref_rank"), (-col("text_len")).as("neg_len"),
          col("warc_ts"), col("id"))).as("rep_id"))
    assigned.join(reps, "cluster_id")
      .select(col("url"), col("cluster_id"), (col("id") === col("rep_id")).as("is_representative"),
        col("id"), col("source"), col("lang"))
  }

  /** Optional pre-stage (`urlCanonicalPreDedup`): keep ONE capture per
    * CANONICAL url ([[graft.text.UrlOps.canonicalizeUrl]] — scheme/host
    * case, `www.`, default ports, tracking params, param order, trailing
    * slash, fragment) within the input batch — the earliest `warc_ts`
    * (raw url, then content hash, as deterministic tiebreaks). A crawl
    * frontier emits the same logical page under many spellings;
    * collapsing them here costs one partial-agg'd shuffle on a short
    * string key and shrinks what the signature/banding stages must chew.
    *
    * POLICY, stated plainly: this is keep-one-capture-per-page-PER-BATCH.
    * A batch is a crawl snapshot; within one snapshot, one capture per
    * logical page is the point. A RE-crawl whose content changed is a
    * later batch's row and is NOT collapsed against earlier batches
    * (pre-dedup is per-batch by design — see the incremental contract
    * note). Pipelines that must retain multiple same-batch captures of
    * one url (web-archive history) should leave the flag off — the id
    * scheme supports that natively.
    *
    * Rows with a NULL url pass through un-deduped: they would otherwise
    * all share the null canonical key and silently collapse to one row,
    * whereas downstream the signature id-uniqueness guard rejects them
    * LOUDLY (all-null natural keys share one id) — the loud path wins.
    */
  private[graft] def urlPreDedup(pages: Dataset[Page]): Dataset[Page] =
    if (!config.urlCanonicalPreDedup) pages
    else {
      // the html payload — the corpus's largest column — is NOT carried
      // through the dedup shuffle: no pipeline stage reads it (signatures
      // drops it from its scan, LCS joins normalized text), so shuffling
      // it would multiply the stage's volume by the payload ratio for
      // nothing. The kept rows re-attach an empty payload. Production
      // ingest-time spelling-dedup keeps payloads in place by deduping
      // within host-partitioned crawl files instead.
      val slim = pages.toDF().drop("html")
      // the xxhash64(text) tiebreak makes the pick TOTAL: corrupt inputs
      // holding two different texts at one (url, warc_ts) resolve the
      // same way on every re-execution of this (uncheckpointed) plan
      val kept = slim.filter(col("url").isNotNull)
        .groupBy(graft.text.UrlOps.canonicalizeUrl(col("url")).as("canon_url"))
        .agg(min_by(struct(slim.columns.map(col): _*),
          struct(col("warc_ts"), col("url"), xxhash64(col("text")))).as("p"))
        .select("p.*")
      kept.union(slim.filter(col("url").isNull))
        .withColumn("html", typedLit(Array.empty[Byte]))
        .as[Page]
    }

  /** Run everything; returns the clusters DataFrame. */
  def run(pages: Dataset[Page]): DataFrame = {
    val input = urlPreDedup(pages)
    val sigs = signatures(input)
    val exact = exactEdges(sigs)
    val pairs = candidatePairs(sigs, exact)
    // LCS texts come from the ORIGINAL pages, not the pre-dedup'd plan:
    // the lookup is keyed by doc id (hash(url, warc_ts)), dropped captures'
    // ids never appear in borderline pairs, and driving the (tiny) text
    // fetch through `input` would re-execute the corpus-wide pre-dedup
    // shuffle for a handful of rows
    val verified = verifiedEdges(sigs, pairs, Some(pages))
    val comps = components(exact, verified)
    clusters(sigs, comps)
  }

  // ──────────────────────── incremental batches ────────────────────────

  /** Apply a NEW batch of pages on top of a completed [[run]] (and any
    * previously applied batches) WITHOUT recomputing the corpus — the
    * production mode at 10¹²-doc scale, where a daily crawl delta is
    * ~10⁻³ of the corpus and a full re-run would be a 1000× overspend.
    * Returns the UPDATED full clusters table.
    *
    * Per-batch work is bounded by the delta, not the corpus — both the
    * JOINS and the STATE maintenance:
    *   - delta signatures are computed fresh (narrow); ids already present
    *     — a re-crawl of the same (url, warc_ts) capture — are dropped;
    *   - corpus-sized state lives in pkey-PARTITIONED state tables
    *     (directory layout `pkey=N/`, pkey = hash(state key) mod
    *     `statePartitions`; production: an Iceberg bucket-transform
    *     partition spec), adopted ONCE from the base run's stages and then
    *     maintained per batch:
    *       · band rows (key (band, bucket)) are APPEND-ONLY — each batch
    *         appends its delta's rows; prior rows are never re-derived from
    *         the corpus;
    *       · clusters is a MERGE-ON-READ UPSERT table — each batch
    *         appends a layer holding only the rows it CHANGED (plus
    *         tombstones where a key's partition moved); reads resolve
    *         latest-wins per key and layers fold back into one base every
    *         `stateCompactEvery` batches, so per-batch write volume is
    *         O(changed rows) even when the touched keys hash into every
    *         partition;
    *   - exact duplicates link each delta doc to its content hash's group
    *     min id, read from the prior signature stages (which already hold
    *     every prior doc's (id, content_hash)) — no state table of its own;
    *   - LSH candidates join the delta's band rows against the band STATE
    *     pruned to delta-touched partitions (directory-level pruning) and
    *     semi-restricted to touched buckets, under the cross-bucket skew
    *     ladder [[PairEmission.crossBucketPairs]] (shared with
    *     [[CrossCorpus]]): full cross pairs for small buckets,
    *     chain-to-bucket-min above `maxBucketAllPairs` (O(delta) output),
    *     drop + metric above [[HugeBucketCutoff]];
    *   - connected components are updated INCREMENTALLY: only components
    *     touched by a new edge are re-solved. The cluster table is the one
    *     stored component mapping (a doc's `cluster_id` is its component,
    *     or its own id when no edge touches it), so prior assignments
    *     re-enter as (cluster_id, member) star edges — component ids are
    *     component minima, so merged components keep batch-identical ids;
    *     untouched partitions are never read or rewritten;
    *   - cluster rows (representative selection) are recomputed only for
    *     touched clusters and the delta; the returned full table is the
    *     latest-wins view over base + per-batch upsert layers.
    *
    * VIEW LIFETIME: the returned DataFrame is a lazy view over layer files.
    * Compaction defers deletion of superseded layers by one full compaction
    * cycle (snapshot-expiry analog), so the view stays readable across at
    * least `stateCompactEvery` further batches; a caller holding it longer
    * must re-read via [[incrementalClusters]] (the always-live view) or
    * materialize it first.
    *
    * Remaining corpus-sized terms, stated honestly: (a) the already-present
    * id anti-join, the content-hash group-min probe and the verification
    * shingle fetch scan the signature table (column-pruned, semi-filtered
    * map-side — no corpus shuffle);
    * (b) the touched-component probe scans the slim (id, cluster_id)
    * projection of the cluster state once per batch — every doc's row,
    * singletons included, where a separate (id, component) table would
    * hold linked docs only: the price of storing the mapping once (the
    * cluster-hash layout cannot prune an id lookup; production puts a
    * bloom/id-index on that probe). Both are reads of slim projections,
    * not rewrites.
    *
    * EQUIVALENCE CONTRACT: while any band bucket stays within
    * `maxBucketAllPairs` (the all-pairs regime — everything but
    * pathological boilerplate, which the exact path absorbs first), run(A) +
    * incremental(B) produces clusters BIT-IDENTICAL to run(A ∪ B) —
    * pinned by DedupPipelineSpec. In the chain/drop regimes both paths
    * degrade under the same documented policy but not edge-identically.
    * With `urlCanonicalPreDedup` the contract additionally requires that
    * no canonical url spans batches: pre-dedup is PER-BATCH (a batch is a
    * crawl snapshot), so spellings of one page split across A and B keep
    * one capture each — they still land in one cluster (exact/near-dup
    * edges link them) but the row sets differ from run(A ∪ B), whose
    * global pre-dedup keeps a single capture.
    *
    * `allPages` feeds the LCS second chance (`useLcsCheck`) and must cover
    * old AND new pages (production: the pages table itself); with None,
    * borderline pairs touching old docs get no LCS rescue.
    *
    * Batches are ordered by an append-only `_INC_LOG` under the store root
    * (appended only after the batch's last stage commits); re-applying an
    * already-logged batch returns its checkpointed result, and stages from
    * a different half-applied batch are refused rather than silently
    * ignored. A store with no completed [[run]] is refused before any
    * state is written, as is one whose batches were applied under the
    * layout that predates the state tables. A store whose signature chunks
    * still carry the retired `simhash` column takes deltas as is: the
    * signature reads merge schemas by name (the delta's rows read the
    * column as null) and no stage reads it.
    */
  def incremental(batch: String, newPages: Dataset[Page],
      allPages: Option[Dataset[Page]] = None): DataFrame = {
    require(batch.matches("[A-Za-z0-9-]+"),
      s"batch id '$batch' must match [A-Za-z0-9-]+ (stage names are '_'-delimited)")
    val applied = incBatches
    requireStateSource(applied)
    if (applied.contains(batch)) {
      val upTo = applied.indexOf(batch) + 1
      // the as-of-batch view exists only while the base layer covers no
      // MORE than this batch: once compaction folded later batches in,
      // stateStageNames(applied.take(upTo)) would silently return the
      // later-era base — refuse loudly instead of answering wrong-era
      val (covers, _) = baseInfo("cluster")
      require(covers <= upTo,
        s"batch '$batch' was already applied, but state compaction has since " +
          s"folded $covers batches into the base layer — the as-of-'$batch' " +
          "clusters view no longer exists. Read the current table via " +
          "incrementalClusters() instead.")
      return currentClusters(applied.take(upTo))
    }
    val stray = store.stages("inc_").map(_.split("_")(1)).distinct
      .filterNot(b => applied.contains(b) || b == batch)
    require(stray.isEmpty,
      s"checkpoint dir ${store.root} holds stages from unapplied batch(es) " +
        s"${stray.mkString(", ")} — finish or invalidate them before starting '$batch'")

    ensureStateTables(applied)
    val priorSigStages = signatureStages ++ applied.map(b => s"inc_${b}_signatures")
    val priorSigs = store.read(priorSigStages)

    // 1 — delta signatures (ids already present are the same capture:
    // drop); the optional canonical-url pre-dedup applies within the
    // delta, like the batch path (see urlPreDedup's scope note)
    val sigsStage = s"inc_${batch}_signatures"
    val sigsNew = withUniqueIds(s"batch '$batch'", s"inc_${batch}_idcheck",
        Seq(sigsStage)) { _ =>
      store.getOrCompute(sigsStage) {
        signaturesChunkPlan(urlPreDedup(newPages).toDF())
          .join(priorSigs.select("id"), Seq("id"), "left_anti")
      }
    }

    // 2 — exact path: each delta hash's prior group min comes from the
    // prior signatures themselves (every prior doc's (id, content_hash) is
    // stored there), semi-filtered map-side to the delta's hashes — the
    // small side, broadcast by AQE — before the min aggregate
    val exactInc = store.getOrCompute(s"inc_${batch}_exact_edges") {
      val deltaMin = sigsNew.groupBy("content_hash").agg(min("id").as("dm"))
      val priorMin = priorSigs.select("id", "content_hash")
        .join(deltaMin.select("content_hash"), Seq("content_hash"), "left_semi")
        .groupBy("content_hash").agg(min("id").as("pm"))
      // the batch's current min per delta hash — prior min if smaller
      val curMin = deltaMin.join(priorMin, Seq("content_hash"), "left")
        .select(col("content_hash"),
          least(col("dm"), coalesce(col("pm"), col("dm"))).as("cm"),
          col("pm"), col("dm"))
      // delta docs to their (possibly old) group min …
      val newDoc = sigsNew.select("id", "content_hash")
        .join(curMin.select("content_hash", "cm"), "content_hash")
        .filter(col("id") =!= col("cm"))
        .select(col("cm").as("a"), col("id").as("b"))
      // … and the demoted old min when the delta brings a smaller id
      val repChange = curMin
        .filter(col("pm").isNotNull && col("dm") < col("pm"))
        .select(col("dm").as("a"), col("pm").as("b"))
      newDoc.union(repChange).distinct()
    }

    // 3 — LSH candidates: delta×delta via the batch plan, delta×prior via
    //     the pkey-partitioned band STATE (appended per batch at ingest,
    //     never re-derived from the corpus), pruned to delta-touched
    //     partitions, under the shared cross-bucket skew ladder.
    // The delta's band rows are APPENDED to the state table as their own
    // stage FIRST — outside the candidate thunk, so a resume that skips
    // the (complete) candidate stage still guarantees the append exists
    // for every later batch.
    val bandStateStage = store.getOrComputePartitioned(s"inc_${batch}_band_state") {
      layerRows("band", bandRowsOf(sigsNew, exactInc))
    }
    val candInc = store.getOrCompute(s"inc_${batch}_candidate_pairs") {
      // the delta's band rows read back from their materialized state stage
      // (delta-sized) feed both halves: delta×delta through the batch
      // emission, delta×prior through the ladder
      val deltaBand = bandStateStage.select("id", "band", "bucket")
      val within = bandPairs(deltaBand)
      // no broadcast hint: for a small delta AQE broadcasts the bucket set
      // (prior band rows never shuffle); a corpus-sized delta would OOM the
      // driver under a forced broadcast, and shuffling is then correct
      val touchedBuckets = deltaBand.select("band", "bucket").distinct()
      val touchedBandPk = touchedPkeys("band", deltaBand)
      val oldBand = stateView("band", applied, Some(touchedBandPk))
        .join(touchedBuckets, Seq("band", "bucket"), "left_semi")
        .select("id", "band", "bucket")
        .localCheckpoint(true)
      val cross = PairEmission.crossBucketPairs(deltaBand, oldBand,
        Seq("band", "bucket"), config.maxBucketAllPairs, HugeBucketCutoff,
        Some(hotBuckets), Some(droppedBuckets))
        .select(least(col("id"), col("oid")).as("a"),
          greatest(col("id"), col("oid")).as("b"))
        .filter(col("a") =!= col("b"))
      within.union(cross).distinct()
    }

    // 4 — verification: same plan as batch, but the shingle side is
    //     semi-filtered to pair-touched ids FIRST — the batch plan shuffles
    //     the whole signature table (necessary there), which for a 5% delta
    //     would make verification cost corpus-sized instead of delta-sized.
    val allSigs = store.read(priorSigStages :+ sigsStage)
    val verifiedInc = store.getOrCompute(s"inc_${batch}_verified_edges") {
      val pairIds = candInc.select(col("a").as("id"))
        .union(candInc.select(col("b").as("id"))).distinct()
      verifiedEdgesPlan(allSigs.join(pairIds, Seq("id"), "left_semi"),
        candInc, allPages)
    }

    // 5 — incremental connected components: re-solve ONLY touched
    // components; the re-solved rows are the batch's comp_delta stage
    val newEdges = exactInc.select("a", "b").union(verifiedInc.select("a", "b"))
    val edgeIds = newEdges.select(col("a").as("id"))
      .union(newEdges.select(col("b").as("id"))).distinct()
    // prior component of every edge-touched node, read from the cluster
    // state (a doc's cluster_id is its component, or its own id when no
    // edge touches it; ids new in this batch = own id). The id probe
    // semi-filters the slim (id, cluster_id) RAW layer rows map-side
    // (edgeIds is delta-small ⇒ broadcast semi, no corpus shuffle), and
    // latest-wins resolution runs on the delta-sized survivors only. The
    // cluster-hash layout cannot prune an id lookup; production puts a
    // bloom/id index on the state files.
    val priorOfEdge = resolveState("cluster",
      stateView("cluster", applied, None).select("id", "cluster_id", SeqCol, DelCol)
        .join(edgeIds, Seq("id"), "left_semi"))
    val touched = edgeIds.join(priorOfEdge, Seq("id"), "left")
      .select(coalesce(col("cluster_id"), col("id")).as("cluster_id")).distinct()
      .localCheckpoint(true)
    // the touched clusters' CURRENT rows: a partition-pruned scan +
    // latest-wins resolve over the pruned rows (stale rows from earlier
    // moves lose to their tombstones, see resolveState). They feed the
    // re-solve as star edges and the cluster layer as the rows it
    // supersedes.
    val oldRows = resolveState("cluster",
      stateView("cluster", applied, Some(touchedPkeys("cluster", touched))))
      .join(touched, Seq("cluster_id"), "left_semi")
      .select(ClusterCols.map(col): _*)
      .localCheckpoint(true)
    val subStage = store.getOrCompute(s"inc_${batch}_comp_delta") {
      val subOld = oldRows
        .select(col("cluster_id").as("a"), col("id").as("b"))
        .filter(col("a") =!= col("b"))
      ConnectedComponents.run(subOld.union(newEdges),
        durable = Some((store, CcDurableInterval)), durablePrefix = s"inc_${batch}_cc")
        .select("id", "component")
    }

    // 6 — clusters: recompute rows only for touched clusters + the delta;
    // append only those rows (+ tombstones for ids whose cluster — hence
    // state partition — moved). Write volume is O(touched members +
    // delta); untouched rows are never read or copied.
    store.getOrComputePartitioned(s"inc_${batch}_cluster_state") {
      val affectedIds = oldRows.select("id").union(sigsNew.select("id")).distinct()
      val affectedSigs = allSigs.join(affectedIds, Seq("id"), "left_semi")
      // every affected id's component was re-solved (members of touched
      // components and delta ids all enter the sub-solve), so the
      // delta-sized comp_delta stage IS the component lookup — no scan of
      // the full mapping
      val affectedComps = subStage.join(affectedIds, Seq("id"), "left_semi")
      val newRows = clustersPlan(affectedSigs, affectedComps)
        .select(ClusterCols.map(col): _*).localCheckpoint(true)
      upsertLayer("cluster", newRows, oldRows)
    }
    appendIncLog(batch)
    // fold layers back into a single base once enough batches piled up
    maybeCompactState(applied :+ batch)
    // the full updated table is the layered view — no corpus-sized write
    // happened above
    currentClusters(applied :+ batch)
  }

  /** The current full clusters table over everything applied so far (the
    * base run plus every incremental batch): the latest-wins merge-on-read
    * view. This is the stable public read path — unlike a DataFrame held
    * from an old `incremental()` call, it always references the live
    * layers.
    */
  def incrementalClusters(): DataFrame = {
    val applied = incBatches
    requireStateSource(applied)
    // a base-run-only store has a completed `clusters` stage but no adopted
    // state tables yet — adopt them (as incremental() does) instead of
    // failing on the missing base layer
    ensureStateTables(applied)
    currentClusters(applied)
  }

  /** The current full clusters table: the latest-wins view over the base
    * layer plus every applied batch's upsert layer.
    */
  private def currentClusters(appliedNow: Seq[String]): DataFrame =
    resolveState("cluster", stateView("cluster", appliedNow, None))
      .select(ClusterCols.map(col): _*)

  /** Batches applied so far, in application order (append-only log). */
  private[graft] def incBatches: Seq[String] = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(store.root, "_INC_LOG")
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty)
    else Nil
  }

  /** Atomic log append (write the full updated log to a temp file, then
    * ATOMIC_MOVE over `_INC_LOG` — the StageStore.mark pattern): a plain
    * append crashed mid-write would leave a truncated batch id, after which
    * every later `incremental()` refuses with a misleading "stages from
    * unapplied batch" error and needs manual log surgery.
    */
  private def appendIncLog(batch: String): Unit =
    if (!incBatches.contains(batch)) {
      val p = java.nio.file.Paths.get(store.root, "_INC_LOG")
      val tmp = java.nio.file.Paths.get(store.root, "_INC_LOG.tmp")
      java.nio.file.Files.writeString(tmp,
        (incBatches :+ batch).mkString("", "\n", "\n"))
      java.nio.file.Files.move(tmp, p,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }

  // ──────────────── pkey-partitioned incremental state tables ────────────────
  //
  // Two state tables back the incremental mode, each a set of StageStore
  // stages partitioned by `pkey = hash(partition columns) mod
  // statePartitions` (production: Iceberg bucket-transform partitions),
  // declared by [[PartitionCols]]: band is append-only, cluster is an
  // UPSERT table ([[UpsertKeys]]). The cluster table doubles as the
  // component mapping of the incremental re-solve, and the signature
  // stages answer the exact path's group-min lookups. Stores written when
  // components and content-hash minima had state tables of their own
  // ([[RetiredStateTables]]) lose those stages after their next batch.
  //
  // The append-only table: each batch appends one layer of new rows; the
  // current view is the pruned union. Upsert tables are MERGE-ON-READ
  // (the Iceberg MOR / LSM analog): each batch appends a layer holding
  // ONLY the rows it changed, plus tombstones at the OLD partition for
  // keys whose partition moved; reads union the (pruned) layers and keep
  // the newest row per key ([[resolveState]]). Per-batch write volume is
  // therefore O(changed rows) even when the touched keys hash into every
  // partition — the regime every web-scale delta lives in, and exactly
  // where a copy-on-write partition rewrite would degrade to a full-table
  // rewrite per batch. Read amplification is bounded by folding layers
  // back into a single base every `stateCompactEvery` batches
  // ([[maybeCompactState]]).

  private val SeqCol = "_seq"
  private val DelCol = "_del"

  /** The cluster table's columns, in the `clusters` stage's order. */
  private val ClusterCols =
    Seq("url", "cluster_id", "is_representative", "id", "source", "lang")

  /** Each state table's partition columns. */
  private val PartitionCols: Map[String, Seq[String]] = Map(
    "band" -> Seq("band", "bucket"), "cluster" -> Seq("cluster_id"))

  /** Upsert tables and their latest-wins resolution keys; absent = append-only. */
  private val UpsertKeys: Map[String, Seq[String]] = Map("cluster" -> Seq("id"))

  /** State tables older builds kept and nothing reads any more: `comp`
    * (the cluster table is the component mapping) and `hash_min` (the
    * signature stages hold every doc's content hash).
    */
  private val RetiredStateTables: Seq[String] = Seq("comp", "hash_min")

  /** The state partition of a row of table `name`. */
  private def pkeyOf(name: String): org.apache.spark.sql.Column =
    pmod(xxhash64(PartitionCols(name).map(col): _*), lit(config.statePartitions)).cast("int")

  /** The distinct partitions of table `name` that `df`'s rows hash into —
    * one small driver collect, the prune list of a [[stateView]] read.
    */
  private def touchedPkeys(name: String, df: DataFrame): Seq[Int] =
    df.select(pkeyOf(name).as("pkey")).distinct().collect().map(_.getInt(0)).toSeq

  /** `rows` as live rows of a layer of table `name`: `pkey` attached, and
    * `_del = false` on an upsert table.
    */
  private def layerRows(name: String, rows: DataFrame): DataFrame = {
    val keyed = rows.withColumn("pkey", pkeyOf(name))
    if (UpsertKeys.contains(name)) keyed.withColumn(DelCol, lit(false)) else keyed
  }

  /** One layer of id-keyed upsert table `name`: the `fresh` rows live, plus
    * a tombstone at the OLD partition for every id of `old` whose
    * partition column changed. The tombstone payload is the superseded
    * row: resolution drops it, so only (id, old pkey, newest seq) matter.
    */
  private def upsertLayer(name: String, fresh: DataFrame, old: DataFrame): DataFrame = {
    val part = PartitionCols(name).head
    val tombs = old
      .join(fresh.select(col("id"), col(part).as("_nc")), Seq("id"))
      .filter(col(part) =!= col("_nc"))
      .select(old.columns.map(col): _*)
      .withColumn("pkey", pkeyOf(name))
      .withColumn(DelCol, lit(true))
    layerRows(name, fresh).unionByName(tombs)
  }

  /** (covers, version) of the `name` base layer: how many applied batches
    * it folds in, and which versioned stage holds it (0 = the adoption
    * base). Written as "covers version" in one marker so the pair moves
    * atomically.
    */
  private def baseInfo(name: String): (Int, Int) =
    store.markerValue(s"${name}_state_covers") match {
      case None => (0, 0)
      case Some(s) =>
        val t = s.trim.split("\\s+")
        (t(0).toInt, if (t.length > 1) t(1).toInt else 0)
    }

  private def baseStageName(name: String, ver: Int): String =
    if (ver == 0) s"${name}_state_base" else s"${name}_state_base_v$ver"

  private def stateStageNames(name: String, applied: Seq[String]): Seq[String] = {
    val (covers, ver) = baseInfo(name)
    baseStageName(name, ver) +: applied.drop(covers)
      .map(b => s"inc_${b}_${name}_state")
  }

  /** One-time adoption of a state table's base layer. The covers marker is
    * written FIRST: a crash between the two leaves a marker without a base
    * and the rerun (same `applied` — the triggering batch never completed)
    * recomputes both, whereas the reverse order could leave a base layer
    * whose batch coverage is unknown.
    */
  private def ensureStateBase(name: String, applied: Seq[String])
      (thunk: => DataFrame): Unit = {
    val (_, ver) = baseInfo(name)
    if (!store.has(baseStageName(name, ver))) {
      store.mark(s"${name}_state_covers", s"${applied.size} $ver")
      store.writePartitioned(baseStageName(name, ver), thunk): Unit
    }
  }

  /** Fold a state table's layers back into a single base once
    * `stateCompactEvery` batches piled up since the last fold — the
    * Iceberg-compaction / LSM-merge analog that bounds merge-on-read
    * amplification. The new base is written as a fresh versioned stage
    * (atomic manifest commit), THEN the covers marker moves to it (atomic
    * rename) — a crash between the two leaves the old view intact and the
    * retry adopts the already-completed stage instantly. Stages superseded
    * by this fold get a one-cycle snapshot-expiry grace; the PREVIOUS
    * cycle's cohort is deleted here, derived by scan (crash-idempotent —
    * see the inline note). Stages and markers of [[RetiredStateTables]]
    * are deleted outright: no view reads them, so they need no grace.
    */
  private def maybeCompactState(appliedNow: Seq[String]): Unit = {
    RetiredStateTables.foreach { name =>
      store.stages(s"${name}_state_base").foreach(store.invalidate)
      appliedNow.foreach(b => store.invalidate(s"inc_${b}_${name}_state"))
      store.unmark(s"${name}_state_covers")
    }
    PartitionCols.keys.foreach { name =>
      val (covers, ver) = baseInfo(name)
      val cN = appliedNow.size
      if (cN - covers >= config.stateCompactEvery) {
        store.getOrComputePartitioned(baseStageName(name, cN)) {
          val raw = stateView(name, appliedNow, None)
          if (UpsertKeys.contains(name))
            resolveState(name, raw).withColumn(DelCol, lit(false))
          else raw
        }
        // snapshot-expiry grace (the Iceberg expire-snapshots analog): the
        // stages superseded by THIS fold are NOT deleted — lazy DataFrames
        // returned by recent incremental() calls still reference their
        // files; they go at the NEXT compaction, so a held view stays
        // readable for at least `stateCompactEvery` further batches
        // (contract documented at [[incremental]]). What IS deleted here is
        // the PREVIOUS cycle's cohort, DERIVED BY SCAN rather than recorded
        // in a marker — bases older than the current one, layers already
        // folded into it — so a crash anywhere in this block retries
        // idempotently and can never leak a superseded base forever (a
        // marker written after the covers move would lose the cohort to a
        // crash between the two writes).
        val basePrefix = s"${name}_state_base"
        store.stages(basePrefix).foreach { st =>
          val v = st.stripPrefix(basePrefix) match {
            case "" => 0
            case s if s.startsWith("_v") => s.drop(2).toInt
            case _ => Int.MaxValue // unrelated stage sharing the prefix
          }
          if (v < ver) store.invalidate(st)
        }
        appliedNow.take(covers)
          .foreach(b => store.invalidate(s"inc_${b}_${name}_state"))
        // version := covers count, so a crash-orphaned stage is always
        // correct for the covers its name encodes and can be adopted later.
        // The marker moves LAST: a crash before this line leaves the old
        // view fully intact (only already-unreferenced stages were deleted).
        store.mark(s"${name}_state_covers", s"$cN $cN")
      }
    }
  }

  /** Latest-wins resolution of a layered read of upsert table `name`: per
    * [[UpsertKeys]] key keep the newest layer's row (a live row beats its
    * own batch's tombstone), then drop tombstoned keys. This is
    * merge-on-read compaction at query time, over however many rows the
    * caller's pruning left.
    */
  private def resolveState(name: String, raw: DataFrame): DataFrame = {
    val live = when(col(DelCol), lit(0)).otherwise(lit(1))
    raw.groupBy(UpsertKeys(name).map(col): _*)
      .agg(max_by(struct(raw.columns.map(col): _*),
        struct(col(SeqCol), live)).as("_w"))
      .select(col("_w.*"))
      .filter(!col(DelCol))
      .drop(SeqCol, DelCol)
  }

  /** Materialize the incremental state tables from this store's completed
    * [[run]], if absent. The production base job calls this as its FINAL
    * step (writing the tables bucket-partitioned from day one), so the
    * first delta apply pays no adoption cost; on a store whose base job
    * didn't, the first `incremental()` adopts them itself — a one-time
    * corpus-sized write, after which every batch is delta-proportional.
    */
  def materializeStateTables(): Unit = {
    val applied = incBatches
    requireStateSource(applied)
    ensureStateTables(applied)
  }

  /** Incremental state is adopted from a completed [[run]]: refuse a store
    * without one (before any state is written), and a store whose batches
    * were applied under the layout that predates the state tables (it has
    * applied batches but no cluster state table to resume from).
    */
  private def requireStateSource(applied: Seq[String]): Unit = {
    require(store.has("clusters"),
      s"checkpoint dir ${store.root} holds no completed run(): incremental " +
        "state is adopted from the base run's stages — run() the base " +
        "corpus on this store first")
    require(applied.isEmpty || store.marked("cluster_state_covers"),
      s"checkpoint dir ${store.root} has applied batches but no cluster " +
        "state table: it predates the state-table layout and can no longer " +
        "be resumed — rebuild it with run() on a fresh checkpoint dir")
  }

  /** Adopt every state table's base layer from the base run's stages, if
    * absent (see [[materializeStateTables]]). [[requireStateSource]]
    * guarantees that a store with applied batches already has them.
    */
  private def ensureStateTables(applied: Seq[String]): Unit = {
    ensureStateBase("band", applied) {
      layerRows("band", bandRowsOf(store.read(signatureStages), store.read("exact_edges")))
    }
    ensureStateBase("cluster", applied) {
      layerRows("cluster", store.read("clusters").select(ClusterCols.map(col): _*))
    }
  }

  /** RAW layered view of state table `name` as of `applied` batches.
    * `pkeys = Some(ks)` prunes every layer's scan to those partitions
    * (directory-level pruning — the delta-proportional read; an empty `ks`
    * prunes everything). Every layer reads under its schema record, so an
    * all-empty layer (e.g. a layer of a batch whose every page was
    * already present) reads as zero typed rows. Append-only tables are
    * complete as-is; upsert tables ([[UpsertKeys]]) come back with `_seq`
    * (layer index) and `_del` attached and MUST go through [[resolveState]]
    * — callers that only need a key subset semi-filter the raw rows first,
    * so resolution runs on the survivors, not the corpus.
    */
  private[graft] def stateView(name: String, applied: Seq[String],
      pkeys: Option[Seq[Int]]): DataFrame =
    stateStageNames(name, applied).zipWithIndex.map { case (s, i) =>
      val layer = pkeys.fold(store.read(s))(ks => store.read(s).filter(col("pkey").isin(ks: _*)))
      if (UpsertKeys.contains(name)) layer.withColumn(SeqCol, lit(i)) else layer
    }.reduce(_ unionByName _)

  /** Guard against resuming a checkpoint dir written under a different
    * pipeline configuration: stage contents are pure functions of (input,
    * config), so mixing configs across a resume silently corrupts results
    * (e.g. chunk membership under a different `resumeChunks`, or edges
    * from a different LSH geometry). The first pipeline to touch a store
    * records the config fingerprint; later ones must match or use a fresh
    * directory. Runs once per instance, through [[store]].
    *
    * The fingerprint is per-field (`name=value` lines), compared with
    * default-compatibility: a field MISSING from the stored fingerprint
    * (a knob added to `DedupConfig` after the store was written) is
    * accepted iff the current value equals the case-class default —
    * stored stages were computed under exactly that behavior, so adding a
    * config knob never invalidates existing state (at production scale,
    * "new knob ⇒ recompute exabytes" is not an acceptable failure mode).
    * A stored field unknown to the current config (a field since removed)
    * cannot be verified and is refused — unless it is a retired field
    * ([[DedupPipeline.RetiredFieldDefaults]]) stored at its old default,
    * the value every remaining code path still computes under.
    */
  private def assertCheckpointConfig(): Unit = {
    import java.nio.file.{Files, Paths}
    val path = Paths.get(checkpoints.root, "_PIPELINE_CONFIG.json")
    val fields: Seq[(String, String)] =
      config.productElementNames.zip(config.productIterator.map(_.toString)).toSeq
    val defaults: Map[String, String] = {
      val d = DedupConfig()
      d.productElementNames.zip(d.productIterator.map(_.toString)).toMap
    }
    val fingerprint = fields.map { case (k, v) => s"$k=$v" }.mkString("\n")
    if (Files.exists(path)) {
      val stored = Files.readString(path)
      val storedMap = stored.linesIterator.filter(_.contains('='))
        .map { l => val i = l.indexOf('='); (l.take(i), l.drop(i + 1)) }.toMap
      val mismatch = new StringBuilder
      require(stored.contains('=') || stored == fingerprint,
        s"checkpoint dir ${checkpoints.root} carries a pre-field-format config " +
          "fingerprint that cannot be verified against the current config; " +
          "use a fresh checkpoint dir.")
      fields.foreach { case (k, v) =>
        storedMap.get(k) match {
          case Some(sv) =>
            if (sv != v) mismatch ++= s"  $k: stored=$sv current=$v\n"
          case None => // knob added after the store was written
            if (v != defaults(k))
              mismatch ++= s"  $k: absent from stored fingerprint (stage " +
                s"data was computed under the default ${defaults(k)}) but " +
                s"current=$v\n"
        }
      }
      val known = fields.map(_._1).toSet
      storedMap.filterNot(kv => known(kv._1)).foreach { case (k, sv) =>
        DedupPipeline.RetiredFieldDefaults.get(k) match {
          case Some(d) if sv == d => // computed exactly as the current code does
          case Some(d) =>
            mismatch ++= s"  $k: retired field stored at $sv (only its old " +
              s"default $d is still supported)\n"
          case None =>
            mismatch ++= s"  $k: stored but unknown to the current config\n"
        }
      }
      require(mismatch.isEmpty,
        s"checkpoint dir ${checkpoints.root} was written with a different pipeline " +
          s"config:\n$mismatch" +
          "Resume with the original config or use a fresh checkpoint dir.")
    } else {
      // A dir holding stage manifests but no config fingerprint predates the
      // fingerprint guard (or lost it): its stages may have been computed
      // under ANY config, so stamping it now and resuming would silently mix
      // configs. Refuse instead of adopting it.
      val root = Paths.get(checkpoints.root)
      val hasStages = Files.exists(root) &&
        scala.util.Using.resource(Files.list(root))(
          _.toArray.map(_.asInstanceOf[java.nio.file.Path])).exists(p =>
          Files.isDirectory(p) && Files.exists(p.resolve("_MANIFEST.json")))
      require(!hasStages,
        s"checkpoint dir ${checkpoints.root} holds stage checkpoints but no " +
          "_PIPELINE_CONFIG.json — cannot verify they match the current " +
          "config; use a fresh checkpoint dir.")
      Files.createDirectories(root)
      Files.writeString(path, fingerprint)
    }
  }
}

object DedupPipeline {
  /** Seed of the second 128-bit id half (any constant ≠ 42, the stock
    * xxhash64 seed; this is the splitmix64 golden-ratio increment).
    */
  private[dedup] val IdSeed2: Long = 0x9E3779B97F4A7C15L

  /** LSH buckets larger than this are dropped, not chained (counted in
    * `droppedBuckets`): boilerplate the exact-hash path already links.
    */
  private[dedup] val HugeBucketCutoff: Long = 1000000L

  /** Every k-th union-find star round is persisted (star path only). */
  private[dedup] val CcDurableInterval: Int = 5

  /** `DedupConfig` fields since removed (retired modes, and knobs folded
    * into constants), each with the default it had. A store whose
    * fingerprint holds one of them at this value was computed exactly as
    * the current code computes, so it stays resumable; any other stored
    * value is refused (a sketch-decided store, for one, holds approximate
    * `verified_edges`).
    */
  private[dedup] val RetiredFieldDefaults: Map[String, String] = Map(
    "verifySketchBits" -> "None",
    "sketchNumHashes" -> "256",
    "sketchEps" -> "0.08",
    "emitSketch" -> "true",
    "incSketchPrefilter" -> "true",
    "incPrefilterMargin" -> "0.35",
    "incPrefilterProbePairs" -> "4096",
    "incPrefilterMinDrop" -> "0.15",
    "numHashes" -> "80",
    "verifyIdUniqueness" -> "true",
    "maxCcIterations" -> "50",
    "ccDurableInterval" -> "5",
    "lcsLowJaccard" -> "0.4",
    "lcsMinFraction" -> "0.5",
    "simHashMaxHamming" -> "3",
    "hugeBucketCutoff" -> "1000000",
    "useSimHashCandidates" -> "false",
    "simHashMaxBucket" -> "10000")
}
