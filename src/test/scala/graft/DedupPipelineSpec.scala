package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{ConnectedComponents, DedupConfig, DedupPipeline}
import graft.io.StageStore
import graft.kernel.HtmlText
import graft.synth.DeterministicCorpus
import graft.synth.DeterministicCorpus.CorpusSpec

/** End-to-end pipeline tests: corpus invariants, cluster parity vs planted
  * truth (FIXTURES.md §B scenarios), CC correctness, checkpoint resume.
  */
class DedupPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def freshStore(): StageStore =
    new StageStore(spark, Files.createTempDirectory("graft-stages-").toString)

  /** Names (`<action> at <file>:<line>`) of the Spark jobs submitted while
    * `body` runs. A marker job submitted after `body` bounds the list: the
    * listener bus delivers job starts in submission order, so every job of
    * `body` arrives before the marker's.
    */
  private def jobsRun(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val marker = "jobsSubmitted-marker"
    val starts = new java.util.concurrent.LinkedBlockingQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        starts.put((Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""),
          e.stageInfos.maxBy(_.stageId).name))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      Iterator.continually {
        val d = starts.poll(60, java.util.concurrent.TimeUnit.SECONDS)
        assert(d != null, "listener saw no marker job within 60 s")
        d
      }.takeWhile(_._1 != marker).map(_._2).toSeq
    } finally sc.removeSparkListener(listener)
  }

  private def jobsSubmitted(body: => Unit): Int = jobsRun(body).size

  /** Every completed stage of `store` reads back under its recorded schema
    * with the columns parquet inference gives; a stage with no data file
    * (an all-empty partitioned layer) has nothing to infer from and is
    * left to the caller.
    */
  private def assertRecordedSchemas(store: StageStore): Unit = {
    val stages = store.stages("")
    assert(stages.nonEmpty)
    stages.foreach { st =>
      val dir = java.nio.file.Paths.get(store.root, st)
      assert(Files.exists(dir.resolve("_SCHEMA.json")), s"stage $st has no schema record")
      val hasFile = scala.util.Using.resource(Files.walk(dir))(
        _.iterator().asScala.exists(_.getFileName.toString.endsWith(".parquet")))
      if (hasFile)
        assert(store.read(st).schema === spark.read.parquet(dir.toString).schema,
          s"stage $st reads back other columns than inference gives")
    }
  }

  test("corpus: extraction is byte-identical and deterministic") {
    import spark.implicits._
    val spec = CorpusSpec(nFamilies = 50, seed = 42)
    val pages = DeterministicCorpus.pages(spark, spec).collect()
    assert(pages.length >= 50)
    pages.foreach { p =>
      assert(p.text === HtmlText.extract(p.html), s"extract mismatch for ${p.url}")
      assert(p.text.nonEmpty)
    }
    // determinism across invocations and parallelism
    val again = DeterministicCorpus.pages(spark, spec).collect()
      .map(p => p.url -> p.text).toMap
    pages.foreach(p => assert(again(p.url) === p.text))
  }

  test("connected components: chains, stars, singletons-in-edges") {
    import spark.implicits._
    // chain 1-2-3-4, triangle 10-11-12, pair 20-21, self-contained node via
    // self-loop 30-30 (ignored => absent from output)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L), (30L, 30L)).toDF("a", "b")
    val comps = ConnectedComponents.run(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(1L) === 1L && comps(2L) === 1L && comps(3L) === 1L && comps(4L) === 1L)
    assert(comps(10L) === 10L && comps(11L) === 10L && comps(12L) === 10L)
    assert(comps(20L) === 20L && comps(21L) === 20L)
    assert(!comps.contains(30L)) // self-loop only ⇒ no real edge
  }

  test("connected components: long path converges (log-round check)") {
    import spark.implicits._
    val n = 200L
    val edges = spark.range(0, n - 1).select(col("id").as("a"), (col("id") + 1).as("b"))
    val comps = ConnectedComponents.run(edges)
    assert(comps.select(countDistinct("component")).as[Long].collect()(0) === 1L)
    assert(comps.agg(min("component")).as[Long].collect()(0) === 0L)
    assert(comps.count() === n)
  }

  test("connected components: kill mid-fixpoint, durable resume matches full run") {
    import spark.implicits._
    // a long path needs several star rounds — enough to cross the durable
    // checkpoint interval before converging
    val n = 300L
    val edges = spark.range(0, n - 1).select(col("id").as("a"), (col("id") + 1).as("b"))
    val full = ConnectedComponents.run(edges)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))

    // "killed" run: durable every 2nd round, hard iteration cap simulates
    // the job dying mid-fixpoint — round_2 must be on reliable storage.
    // The 299 edges fit the local solve, so the star path is forced.
    val store = freshStore()
    ConnectedComponents.run(edges, maxIterations = 2,
      durable = Some((store, 2)), durablePrefix = "cc", localSolveMaxEdges = 0).count()
    assert(store.has("cc_round_2"), "durable round must persist before the kill")
    val mtime = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(store.root, "cc_round_2", "_MANIFEST.json"))

    // resume: fast-forwards from cc_round_2 (not recomputed) and converges
    val resumed = ConnectedComponents.run(edges, maxIterations = 50,
      durable = Some((store, 2)), durablePrefix = "cc", localSolveMaxEdges = 0)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(resumed === full, "resumed fixpoint must equal the uninterrupted run")
    val mtimeAfter = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(store.root, "cc_round_2", "_MANIFEST.json"))
    assert(mtime === mtimeAfter, "persisted round must not be recomputed on resume")

    // a local solve touches none of the durable machinery
    val localStore = freshStore()
    ConnectedComponents.run(edges, durable = Some((localStore, 1)), durablePrefix = "cc")
      .count()
    assert(localStore.stages("cc_round_").isEmpty &&
      !Files.exists(java.nio.file.Paths.get(localStore.root, "cc_META.json")),
      "a local solve must write no durable round and no fingerprint")
  }

  /** Pair-level recall/precision of the pipeline's clusters against planted
    * truth (the BASELINE.json metric shape: dup-pair recall ≥ 0.99).
    */
  private def pairMetrics(clusters: DataFrame, truth: DataFrame): (Double, Double, Long) = {
    val assign = clusters.select(col("url"), col("cluster_id"))
      .join(truth, "url")
    // truth pairs: same family (positive family ids with >1 member)
    val fam = assign.filter(col("family_id") >= 0)
    val truthPairs = fam.as("x").join(fam.as("y"),
        col("x.family_id") === col("y.family_id") && col("x.url") < col("y.url"))
      .select(col("x.url").as("u"), col("y.url").as("v"),
        (col("x.cluster_id") === col("y.cluster_id")).as("hit"))
    val agg = truthPairs.agg(count(lit(1)).as("n"), sum(when(col("hit"), 1L).otherwise(0L)).as("h"))
      .collect()(0)
    val (nTruth, hits) = (agg.getLong(0), agg.getLong(1))
    val recall = if (nTruth == 0) 1.0 else hits.toDouble / nTruth
    // precision: co-clustered pairs that are same-family
    val cl = assign
    val coPairs = cl.as("x").join(cl.as("y"),
        col("x.cluster_id") === col("y.cluster_id") && col("x.url") < col("y.url"))
      .select((col("x.family_id") === col("y.family_id")).as("same"))
    val agg2 = coPairs.agg(count(lit(1)).as("n"), sum(when(col("same"), 1L).otherwise(0L)).as("s"))
      .collect()(0)
    val precision = if (agg2.getLong(0) == 0) 1.0 else agg2.getLong(1).toDouble / agg2.getLong(0)
    (recall, precision, nTruth)
  }

  test("e2e: planted families recovered with pair recall ≥ 0.99, hard negatives kept out") {
    val spec = CorpusSpec(nFamilies = 300, pDup = 0.3, seed = 42)
    val corpus = DeterministicCorpus.generate(spark, spec).cache()
    import spark.implicits._
    val pages = corpus.map(_._1)
    val truth = corpus.map(_._2).toDF()

    val pipeline = new DedupPipeline(spark, DedupConfig(), freshStore())
    val clusters = pipeline.run(pages)

    assert(clusters.count() === pages.count()) // every page assigned
    assert(clusters.filter(col("is_representative")).count() ===
      clusters.select(countDistinct("cluster_id")).as[Long].collect()(0))

    val (recall, precision, nTruth) = pairMetrics(clusters, truth)
    assert(nTruth > 50, s"fixture too small: $nTruth truth pairs")
    assert(recall >= 0.99, s"pair recall $recall < 0.99 over $nTruth pairs")
    assert(precision >= 0.99, s"pair precision $precision < 0.99 (hard negatives leaked)")
    corpus.unpersist()
  }

  test("e2e idBits=128: struct ids flow through all stages; partition identical to 64-bit") {
    import spark.implicits._
    val spec = CorpusSpec(nFamilies = 300, pDup = 0.3, seed = 42)
    val corpus = DeterministicCorpus.generate(spark, spec).cache()
    val pages = corpus.map(_._1)
    val truth = corpus.map(_._2).toDF()

    // the optional verify branch on, so the wide id is pushed through LSH
    // emission, LCS rescue, CC, and rep select
    val cfgWide = DedupConfig(idBits = 128, useLcsCheck = true)
    val wideStore = freshStore()
    val pipeWide = new DedupPipeline(spark, cfgWide, wideStore)
    val wide = pipeWide.run(pages)
    assert(wide.schema("cluster_id").dataType
      .isInstanceOf[org.apache.spark.sql.types.StructType])
    val (recall, precision, nTruth) = pairMetrics(wide, truth)
    assert(nTruth > 50)
    assert(recall >= 0.99, s"wide-id pair recall $recall < 0.99")
    assert(precision >= 0.99, s"wide-id pair precision $precision < 0.99")

    // same partition of urls as the 64-bit pipeline on the same input
    val pipe64 = new DedupPipeline(spark,
      cfgWide.copy(idBits = 64), freshStore())
    val narrow = pipe64.run(pages)
    def partition(df: DataFrame): Set[Set[String]] =
      df.select(col("cluster_id").cast("string").as("c"), col("url"))
        .as[(String, String)].collect()
        .groupBy(_._1).values.map(_.map(_._2).toSet).toSet
    assert(partition(wide) === partition(narrow))

    // incremental path under wide ids: least/greatest/'<' and the group-min
    // lookup all operate on struct ids — delta of disjoint families plus an
    // exact copy of an existing page (exercises the cross-batch exact path)
    val deltaSpec = CorpusSpec(nFamilies = 40, pDup = 0.3, seed = 42,
      familyOffset = 5000)
    val deltaCopy = pages.take(1).toSeq.map(p =>
      p.copy(url = p.url + "#recrawl",
        warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 1L))).toDS()
    val delta = DeterministicCorpus.pages(spark, deltaSpec).union(deltaCopy)
    val incWide = pipeWide.incremental("w1", delta, Some(pages.union(delta)))
    val fullWide = new DedupPipeline(spark, cfgWide, freshStore())
      .run(pages.union(delta))
    assert(partition(incWide) === partition(fullWide),
      "wide-id incremental must partition urls identically to the batch run")
    // every stage — struct ids, LCS on, state layers with pkey
    // and _del — reads back under its record with the inferred columns
    assertRecordedSchemas(wideStore)
    corpus.unpersist()
  }

  test("e2e scenarios from reference dedup tests (FIXTURES.md §B)") {
    import spark.implicits._
    // exact duplicate pair + distinct third (dedupe.rs:873-923)
    val t0 = "exact duplicate content body with many words to shingle properly over here"
    val pads = (1 to 60).map(i => s"w$i").mkString(" ")
    val pages = Seq(
      mkPage("u1", t0 + " " + pads, "src1"),
      mkPage("u2", t0 + " " + pads, "src2"), // exact dup of u1
      mkPage("u3", (1 to 70).map(i => s"z$i").mkString(" "), "src1"), // unrelated
      // near-dup via normalization-invariant edits (dedupe.rs:41-55 axes)
      mkPage("u4", "Alpha Study!" + " " + pads, "src1"),
      mkPage("u5", "alpha study" + " " + pads, "src2")
    ).toDS()
    val pipeline = new DedupPipeline(spark,
      DedupConfig(sourcePreferences = Seq("src2", "src1")), freshStore())
    val clusters = pipeline.run(pages)
    val byUrl = clusters.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getBoolean(2))).toMap
    assert(byUrl("u1")._1 === byUrl("u2")._1, "exact dups must co-cluster")
    assert(byUrl("u4")._1 === byUrl("u5")._1, "normalization-invariant edits must co-cluster")
    assert(byUrl("u3")._1 !== byUrl("u1")._1, "unrelated page must stay out")
    // source preference: representative of {u1,u2} must be src2 (u2);
    // mirror of dedupe.rs:1186-1228
    assert(byUrl("u2")._2 === true, "source preference should pick src2 page")
    assert(byUrl("u1")._2 === false)
  }

  test("resume: completed stages/chunks are not recomputed; killed stage recovers") {
    import spark.implicits._
    val spec = CorpusSpec(nFamilies = 80, pDup = 0.3, seed = 7)
    val pages = DeterministicCorpus.pages(spark, spec)
    val store = freshStore()
    val cfg = DedupConfig() // resumeChunks = 4 by default

    val p1 = new DedupPipeline(spark, cfg, store)
    val full = p1.run(pages).orderBy("url").collect()

    // simulate a kill mid-signature-stage on a later run: drop ONE chunk
    // plus everything downstream; the other three chunks must survive
    store.invalidate("signatures_chunk2")
    Seq("exact_edges", "candidate_pairs", "verified_edges", "components",
      "clusters").foreach(store.invalidate)
    assert(store.has("signatures_chunk0") && store.has("signatures_chunk1") &&
      store.has("signatures_chunk3") && !store.has("signatures_chunk2"))

    val sigsBefore = store.read("signatures_chunk0")
      .select("id", "url").orderBy("url").collect()
    val mtimeBefore = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(store.root, "signatures_chunk0", "_MANIFEST.json"))

    val p2 = new DedupPipeline(spark, cfg, store)
    val resumed = p2.run(pages).orderBy("url").collect()

    // untouched chunk: same manifest file (not rewritten), same rows/ids
    val mtimeAfter = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(store.root, "signatures_chunk0", "_MANIFEST.json"))
    assert(mtimeBefore === mtimeAfter, "completed chunk must not be recomputed")
    val sigsAfter = store.read("signatures_chunk0")
      .select("id", "url").orderBy("url").collect()
    assert(sigsBefore.sameElements(sigsAfter), "chunk ids must be byte-stable")
    assert(store.has("signatures_chunk2"), "killed chunk must be recomputed")
    assert(full.sameElements(resumed), "resumed output must equal full run")
    // every completed stage reads back under its schema record: no job
    val completed = store.stages("")
    assert(completed.size >= 9)
    assert(jobsSubmitted(completed.foreach(store.read)) === 0,
      "reading a completed stage back must not submit a job")
    assert(jobsSubmitted(completed.foreach(store.lineage)) === 0,
      "a stage's lineage rows are read under the manifest's fixed schema")

    // lineage rows exist for a completed stage
    val lin = store.lineage("clusters").collect()
    assert(lin.nonEmpty)
    assert(lin.map(_.getAs[Long]("rows")).sum > 0)
  }

  test("resume: a signature chunk with an extra column unions by name") {
    val pages = DeterministicCorpus.pages(spark, CorpusSpec(nFamilies = 80, pDup = 0.3, seed = 7))
    def key(df: DataFrame) =
      df.select("url", "cluster_id", "is_representative")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSet
    val fresh = key(new DedupPipeline(spark, DedupConfig(), freshStore()).run(pages))

    val store = freshStore()
    new DedupPipeline(spark, DedupConfig(), store).run(pages).count()
    // an older build wrote chunk 0 with one more column (last, as the
    // retired `sketch` was) before the run was killed; this build resumes
    // and recomputes everything downstream over the mixed-schema chunks
    val legacy = store.read("signatures_chunk0")
      .withColumn("retired", array(col("content_hash"))).localCheckpoint(true)
    store.invalidate("signatures_chunk0")
    store.write("signatures_chunk0", legacy)
    // … and, as an older build, recorded no schema: the chunk's columns
    // come from parquet inference
    Files.delete(java.nio.file.Paths.get(store.root, "signatures_chunk0", "_SCHEMA.json"))
    Seq("exact_edges", "candidate_pairs", "verified_edges", "components",
      "clusters").foreach(store.invalidate)
    assert(key(new DedupPipeline(spark, DedupConfig(), store).run(pages)) === fresh)
  }

  test("signature stage names: one owner for chunked and single-stage stores") {
    val pages = DeterministicCorpus.pages(spark, CorpusSpec(nFamilies = 40, seed = 3))
    Seq(1, 4).foreach { c =>
      val store = freshStore()
      val pipe = new DedupPipeline(spark, DedupConfig(resumeChunks = c), store)
      pipe.run(pages).count()
      assert(store.stages("signatures").sorted === pipe.signatureStages.sorted)
      assert(pipe.signatureStages.size === c)
      // every chunk is read back as ONE parquet relation, not a union
      val sigs = pipe.signatures(pages)
      sigs.collect()
      val plan = sigs.queryExecution.executedPlan.toString
      assert("FileScan parquet".r.findAllIn(plan).size === 1, plan)
      assert(!plan.contains("Union"), plan)
    }
  }

  test("a failed signature stage releases its cached input") {
    import spark.implicits._
    val pages = DeterministicCorpus.pages(spark, CorpusSpec(nFamilies = 40, seed = 3))
    val bad = pages.first().url
    val failing = pages
      .withColumn("text", when(col("url") === bad, raise_error(lit("unreadable page")))
        .otherwise(col("text")))
      .as[graft.schema.Page]
    val before = spark.sparkContext.getPersistentRDDs.size
    val store = freshStore()
    val e = intercept[Exception](
      new DedupPipeline(spark, DedupConfig(), store).run(failing))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("unreadable page")), e)
    assert(spark.sparkContext.getPersistentRDDs.size === before,
      "the cached pages must be released when a chunk write fails")
    assert(store.stages("signatures").isEmpty, "a failed write commits no chunk")
    assert(!Files.exists(java.nio.file.Paths.get(store.root, StageStore.StagingDir)),
      "a failed write leaves no staging output")
  }

  test("signatures: one stage-write job writes every chunk of a fresh store") {
    val pages = DeterministicCorpus.pages(spark, CorpusSpec(nFamilies = 40, seed = 3))
    val store = freshStore()
    val pipe = new DedupPipeline(spark, DedupConfig(resumeChunks = 4), store)
    val t0 = System.nanoTime()
    val writes = jobsRun(pipe.signatures(pages)).filter(_.contains("StageStore.scala"))
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(writes.size === 1, writes)
    assert(store.stages("signatures").sorted === pipe.signatureStages.sorted)
    // chunk membership is pmod(id, C), and the chunks hold every page once
    pipe.signatureStages.zipWithIndex.foreach { case (st, i) =>
      assert(store.read(st).filter(pmod(col("id"), lit(4)) =!= i).count() === 0, st)
    }
    assert(store.read(pipe.signatureStages).count() === pages.count())
    // each manifest holds its chunk's share of the one job's write time
    val wallMs = pipe.signatureStages.map(st =>
      store.lineage(st).select("wall_ms").head().getLong(0))
    assert(wallMs.sum <= elapsedMs, wallMs)
  }

  test("signatures: staging output a killed chunk write left is removed, never a stage") {
    val pages = DeterministicCorpus.pages(spark, CorpusSpec(nFamilies = 40, seed = 3))
    val store = freshStore()
    val staging = java.nio.file.Paths.get(store.root, StageStore.StagingDir)
    def leaveKilledWrite(): Unit = {
      Files.createDirectories(staging.resolve("chunk=2"))
      Files.writeString(staging.resolve("chunk=2").resolve("part-00000-k.parquet"), "torn")
    }
    def key(df: DataFrame) = df.select("url", "cluster_id", "is_representative")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSet
    // on a fresh store: not a stage checkpoint, so not the unfingerprinted
    // store the config guard refuses
    leaveKilledWrite()
    assert(store.stages("").isEmpty)
    val full = key(new DedupPipeline(spark, DedupConfig(), store).run(pages))
    assert(!Files.exists(staging))
    // a later run killed while writing chunk 2: the rerun computes it alone
    store.invalidate("signatures_chunk2")
    Seq("exact_edges", "candidate_pairs", "verified_edges", "components",
      "clusters").foreach(store.invalidate)
    leaveKilledWrite()
    assert(!store.stages("").contains(StageStore.StagingDir))
    assert(key(new DedupPipeline(spark, DedupConfig(), store).run(pages)) === full)
    assert(!Files.exists(staging))
    assert(store.has("signatures_chunk2"))
  }

  test("empty signature chunks: commit with no file, read back as zero rows") {
    import spark.implicits._
    // 2 pages over 4 chunks: at least two chunks get no row
    val pages = Seq(
      mkPage("e1", (1 to 30).map(i => s"ea$i").mkString(" "), "s"),
      mkPage("e2", (1 to 30).map(i => s"eb$i").mkString(" "), "s")).toDS()
    val store = freshStore()
    val pipe = new DedupPipeline(spark, DedupConfig(), store)
    assert(pipe.run(pages).count() === 2)
    val (empty, full) = pipe.signatureStages.partition(st => store.read(st).count() == 0)
    assert(empty.size >= 2 && full.nonEmpty, (empty, full))
    assert(pipe.signatureStages.forall(store.stages("").contains))
    empty.foreach { st =>
      assert(store.lineage(st).count() === 0, s"$st holds a file")
      assert(store.read(st).schema === store.read(full.head).schema)
      assert(store.read(st).select("id", "url", "bands")
        .as[(Long, String, Seq[Long])].collect().isEmpty)
    }
    assert(DedupMain.stageRows(store, pipe.signatureStages) ===
      """{"signatures":2,"exact_edges":0,"candidate_pairs":0,"verified_edges":0,""" +
        """"components":0,"clusters":2}""")
  }

  test("stage manifest: each file's rows come from its parquet footer") {
    val store = freshStore()
    // four files of unequal size
    store.write("multi",
      spark.range(0, 1000, 1, 4).toDF().filter(col("id") % 3 =!= 0 || col("id") < 250))
    val lin = store.lineage("multi").collect()
    assert(lin.length >= 3)
    lin.foreach { r =>
      val file = java.nio.file.Paths.get(store.root, "multi", r.getAs[String]("file"))
      assert(r.getAs[Long]("rows") === spark.read.parquet(file.toString).count(), file)
    }
    assert(!lin.exists(_.getAs[Long]("rows") == -1L))
    assert(lin.map(_.getAs[Long]("rows")).sum === store.read("multi").count())
  }

  test("signatures plan: narrow (no Exchange), one MinHash pass") {
    val pipe = new DedupPipeline(spark, DedupConfig(), freshStore())
    val df = pipe.signaturesChunkPlan(
      DeterministicCorpus.pages(spark, CorpusSpec(nFamilies = 200)).toDF())
    df.collect() // materialize so AQE finalizes the plan
    // AQE prints Final AND Initial plans — inspect the final one only
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // stage 1 must not shuffle before its checkpoint write
    assert(!plan.contains("Exchange"), plan)
    // the MinHash pass is evaluated once, not inlined into several consumers
    assert("minhashbands".r.findAllIn(plan.toLowerCase).length === 1, plan)
    // LSH bands are the one candidate source: no SimHash is computed
    assert(!df.columns.contains("simhash") && !plan.toLowerCase.contains("simhash"), plan)
  }

  test("stage plans: no Window or cartesian, 2 candidate shuffles, shuffled-hash verify") {
    // Each stage's physical plan is checked in isolation (inputs pinned via
    // localCheckpoint so lineage doesn't leak upstream operators into the
    // stage under check). AQE prints Final AND Initial plans — count
    // operators on the final section only.
    def finalPlan(df: DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    }
    def shuffleExchanges(p: String): Int =
      "Exchange hashpartitioning".r.findAllIn(p).length

    val pipe = new DedupPipeline(spark, DedupConfig(), freshStore())
    val pages = DeterministicCorpus.pages(spark, CorpusSpec(nFamilies = 2000))
    val sigs = pipe.signaturesChunkPlan(pages.toDF()).localCheckpoint(true)

    // Stage 2: partial-agg min + join back — a Window here would funnel a
    // hot content_hash into one task.
    val exactPlan = finalPlan(pipe.exactEdgesPlan(sigs))
    assert(!exactPlan.contains("Window") && exactPlan.contains("partial_min"), exactPlan)

    val exact = pipe.exactEdgesPlan(sigs).localCheckpoint(true)

    // Stage 3: one repartition shuffle for the bucket-sorted emission pass
    // + one for the final pair distinct; the exact-edge anti join
    // broadcasts at this scale. No Window, no cartesian.
    val candPlan = finalPlan(pipe.candidatePairsPlan(sigs, exact))
    assert(!candPlan.contains("Window") && !candPlan.contains("CartesianProduct"), candPlan)
    assert(shuffleExchanges(candPlan) === 2, candPlan)

    val pairs = pipe.candidatePairsPlan(sigs, exact).localCheckpoint(true)

    // Stage 4: both joins back to the signature table must be shuffled
    // hash joins (co-partition on the id, build on the slim pair side) —
    // never sort-merge (pointless sort of shingle arrays) and never a
    // broadcast of an intermediate carrying shingles through the driver.
    val verPlan = finalPlan(pipe.verifiedEdgesPlan(sigs, pairs))
    assert("ShuffledHashJoin".r.findAllIn(verPlan).length == 2 &&
      !verPlan.contains("SortMergeJoin") && !verPlan.contains("BroadcastHashJoin"), verPlan)

    // Stage 6: min_by partial agg + join back — a row_number Window here
    // would sort a monster cluster in one task.
    val comps = exact.select(col("b").as("id"), col("a").as("component"))
      .localCheckpoint(true)
    val cluPlan = finalPlan(pipe.clustersPlan(sigs, comps))
    assert(!cluPlan.contains("Window") && cluPlan.contains("min_by"), cluPlan)

    // (the incremental band state's partition-pruned scan is pinned by
    // "incremental state tables")
    // the incremental verify runs the same plan over a pair-semi-filtered
    // signature side: the two verify joins must stay shuffled-hash (the
    // semi filter itself may broadcast — that is the point of it)
    val pairIds = pairs.select(col("a").as("id"))
      .union(pairs.select(col("b").as("id"))).distinct()
    val verIncPlan = finalPlan(pipe.verifiedEdgesPlan(
      sigs.join(pairIds, Seq("id"), "left_semi"), pairs))
    assert("ShuffledHashJoin".r.findAllIn(verIncPlan).length == 2 &&
      !verIncPlan.contains("SortMergeJoin"), verIncPlan)
  }

  test("guards: unfingerprinted checkpoint dir refused; duplicate doc ids fail fast") {
    import spark.implicits._
    val pages = Seq(
      mkPage("g1", (1 to 30).map(i => s"ga$i").mkString(" "), "s"),
      mkPage("g2", (1 to 30).map(i => s"gb$i").mkString(" "), "s")).toDS()

    // a dir holding stage manifests but NO _PIPELINE_CONFIG.json predates
    // the fingerprint guard — adopting it could mix configs; must refuse
    val store = freshStore()
    store.write("signatures_chunk0", Seq((1L, "x")).toDF("id", "url"))
    val ex = intercept[IllegalArgumentException] {
      new DedupPipeline(spark, DedupConfig(), store).run(pages).count()
    }
    assert(ex.getMessage.contains("_PIPELINE_CONFIG.json"))

    // duplicate (url, warc_ts) natural keys collide to one xxhash64 id —
    // the signature stage must fail fast, not silently merge documents
    val dupPages = pages.union(Seq(
      mkPage("g1", (1 to 30).map(i => s"ga$i").mkString(" "), "s")).toDS())
    val ex2 = intercept[IllegalArgumentException] {
      new DedupPipeline(spark, DedupConfig(), freshStore()).run(dupPages).count()
    }
    assert(ex2.getMessage.contains("not unique"))

    // crash window: every signature chunk committed, but the job died
    // BEFORE the uniqueness check ran. Chunk completeness must not imply
    // "checked" — only the durable marker does. Fabricate the post-crash
    // state: checkpoint present (holding duplicate ids), no marker; the
    // resume must re-run the check and fail fast, not silently adopt.
    val crashCfg = DedupConfig(resumeChunks = 1)
    val crashStore = freshStore()
    val crashPipe = new DedupPipeline(spark, crashCfg, crashStore)
    // the crashed run had fingerprinted the store before its first stage
    assert(crashPipe.incBatches.isEmpty)
    crashStore.write("signatures", crashPipe.signaturesChunkPlan(dupPages.toDF()))
    assert(!crashStore.marked("signatures_idcheck"))
    val ex3 = intercept[IllegalArgumentException] {
      crashPipe.signatures(dupPages).count()
    }
    assert(ex3.getMessage.contains("not unique"))

    // happy path writes the marker, so a clean resume still skips the check
    val okStore = freshStore()
    new DedupPipeline(spark, crashCfg, okStore).signatures(pages).count()
    assert(okStore.marked("signatures_idcheck"))
  }

  test("lsh tuning: suggest reproduces the pipeline default; analytic " +
      "S-curve matches the real banding expression empirically") {
    import spark.implicits._
    import graft.dedup.LshTuning
    import graft.functions.{minhash_bands, normalize_tokens, word_shingles}

    // the pipeline default (16 bands × 5 rows) is the analytic optimum for
    // the 0.8 threshold at 80 hashes — pinned so a config drift is loud
    assert(LshTuning.suggest(0.8, 80) === ((16, 5)))
    assert(LshTuning.candidateProbability(0.0, 16, 5) === 0.0)
    assert(LshTuning.candidateProbability(1.0, 16, 5) === 1.0)
    val curve = (0 to 10).map(i => LshTuning.candidateProbability(i / 10.0, 16, 5))
    assert(curve === curve.sorted, "S-curve must be monotone in similarity")

    // empirical validation on the REAL expressions: n pairs of token sets
    // at exact Jaccard (shared/(shared+2·uniq)); fraction sharing ≥1 band
    // bucket must sit within sampling noise of the analytic curve.
    // Deterministic (fixed token strings, fixed hash seed).
    def empirical(shared: Int, uniq: Int, n: Int): Double = {
      val rows = (0 until n).map { p =>
        val base = (0 until shared).map(i => s"p${p}s$i")
        ((base ++ (0 until uniq).map(i => s"p${p}a$i")).mkString(" "),
          (base ++ (0 until uniq).map(i => s"p${p}b$i")).mkString(" "))
      }
      def bandsOf(c: org.apache.spark.sql.Column) =
        minhash_bands(word_shingles(normalize_tokens(c), 1), 16, 5)
      val hits = rows.toDF("ta", "tb")
        .select(bandsOf(col("ta")).as("ba"), bandsOf(col("tb")).as("bb"))
        .as[(Array[Long], Array[Long])].collect()
        .count { case (a, b) => a.zip(b).exists(p => p._1 == p._2) }
      hits.toDouble / n
    }
    // Jaccard 0.8 = 80/(80+2·10): analytic 0.9983
    val e08 = empirical(80, 10, 200)
    assert(math.abs(e08 - LshTuning.candidateProbability(0.8, 16, 5)) < 0.03,
      s"empirical $e08 at s=0.8")
    // Jaccard 0.4 = 40/(40+2·30): analytic 0.152; 3σ ≈ 0.076 at n=200
    val e04 = empirical(40, 30, 200)
    assert(math.abs(e04 - LshTuning.candidateProbability(0.4, 16, 5)) < 0.08,
      s"empirical $e04 at s=0.4")
  }

  test("url canonical pre-dedup: capture spellings collapse to the earliest; " +
      "off by default") {
    import spark.implicits._
    val body = (1 to 40).map(i => s"pd$i").mkString(" ")
    def cap(url: String, t: Long) = graft.schema.Page(url,
      new java.sql.Timestamp(t), Array.empty[Byte], body, "en", "s")
    val pages = Seq(
      cap("HTTPS://WWW.x.com:443/a/?utm_source=1", 2000L), // same page,
      cap("https://x.com/a", 1000L),                       // three spellings
      cap("https://x.com/a#frag", 3000L),
      mkPage("other", (1 to 40).map(i => s"zq$i").mkString(" "), "s")).toDS()

    val on = new DedupPipeline(spark,
      DedupConfig(urlCanonicalPreDedup = true), freshStore()).run(pages)
    // dropped captures never appear; the earliest capture is kept
    assert(on.count() === 2L)
    assert(on.filter(col("url").startsWith("http")).select("url")
      .as[String].collect().toSeq === Seq("https://x.com/a"))

    // default off: all captures flow through (and the exact path clusters
    // the identical-content spellings anyway)
    val off = new DedupPipeline(spark, DedupConfig(), freshStore()).run(pages)
    assert(off.count() === 4L)
    assert(off.filter(col("url").startsWith("http"))
      .select("cluster_id").distinct().count() === 1L)

    // null urls pass through UN-deduped (they must reach the loud
    // id-uniqueness guard, not silently collapse into one null group)
    val pipe = new DedupPipeline(spark,
      DedupConfig(urlCanonicalPreDedup = true), freshStore())
    val nulls = Seq(cap(null, 1L), cap(null, 2L)).toDS()
    assert(pipe.urlPreDedup(pages.union(nulls))
      .filter(col("url").isNull).count() === 2L)

    // corrupt duplicate (url, warc_ts) with different texts: the content-
    // hash tiebreak makes the surviving row identical on re-execution
    val dup = Seq(cap("https://t.com/x", 5L).copy(text = "aaa bbb"),
      cap("https://t.com/x", 5L).copy(text = "ccc ddd")).toDS()
    val pick1 = pipe.urlPreDedup(dup).collect().map(_.text).toSeq
    val pick2 = pipe.urlPreDedup(dup).collect().map(_.text).toSeq
    assert(pick1.length === 1 && pick1 === pick2)
  }

  test("config fingerprint: knob added after the store was written resumes " +
      "at its default, is refused off-default; removed knob refused") {
    import spark.implicits._
    val pages = Seq(
      mkPage("f1", (1 to 30).map(i => s"fa$i").mkString(" "), "s"),
      mkPage("f2", (1 to 30).map(i => s"fb$i").mkString(" "), "s")).toDS()
    val store = freshStore()
    new DedupPipeline(spark, DedupConfig(), store).run(pages).count()

    val fp = java.nio.file.Paths.get(store.root, "_PIPELINE_CONFIG.json")
    val full = java.nio.file.Files.readString(fp)

    // simulate a store written BEFORE stateCompactEvery existed
    java.nio.file.Files.writeString(fp, full.linesIterator
      .filterNot(_.startsWith("stateCompactEvery=")).mkString("\n"))
    // current value == default → stages are still valid, resume accepted
    assert(new DedupPipeline(spark, DedupConfig(), store)
      .run(pages).count() === 2L)
    // off-default → stage contents would differ, refused
    val exOff = intercept[IllegalArgumentException] {
      new DedupPipeline(spark, DedupConfig(stateCompactEvery = 7), store)
        .run(pages).count()
    }
    assert(exOff.getMessage.contains("stateCompactEvery"))

    // retired fields (the sketch-decide mode's, the incremental sketch
    // prefilter's, and the knobs folded into constants — a fingerprint as
    // the 23-field config wrote it — plus the SimHash candidate source's
    // two, as the 15-field config wrote them) stored at their old defaults:
    // those stages were computed exactly as today, so the store resumes
    // AND takes a delta
    val retiredAtDefault = full + "\nverifySketchBits=None\nsketchNumHashes=256" +
      "\nsketchEps=0.08\nemitSketch=true\nincSketchPrefilter=true" +
      "\nincPrefilterMargin=0.35\nincPrefilterProbePairs=4096\nincPrefilterMinDrop=0.15" +
      "\nnumHashes=80\nverifyIdUniqueness=true\nmaxCcIterations=50" +
      "\nccDurableInterval=5\nlcsLowJaccard=0.4\nlcsMinFraction=0.5" +
      "\nsimHashMaxHamming=3\nhugeBucketCutoff=1000000" +
      "\nuseSimHashCandidates=false\nsimHashMaxBucket=10000"
    java.nio.file.Files.writeString(fp, retiredAtDefault)
    assert(new DedupPipeline(spark, DedupConfig(), store)
      .run(pages).count() === 2L)
    assert(new DedupPipeline(spark, DedupConfig(), store)
      .incremental("r", Seq(mkPage("f3", (1 to 30).map(i => s"fc$i").mkString(" "),
        "s")).toDS()).count() === 3L)
    // … but a store written in sketch-decide mode holds approximate
    // verified_edges: refused, naming the retired field
    java.nio.file.Files.writeString(fp,
      retiredAtDefault.replace("verifySketchBits=None", "verifySketchBits=Some(4)"))
    val exRetired = intercept[IllegalArgumentException] {
      new DedupPipeline(spark, DedupConfig(), store).run(pages).count()
    }
    assert(exRetired.getMessage.contains("verifySketchBits") &&
      exRetired.getMessage.contains("retired"))
    // a retired prefilter knob off its old default is refused the same way
    java.nio.file.Files.writeString(fp,
      retiredAtDefault.replace("incPrefilterMargin=0.35", "incPrefilterMargin=0.2"))
    val exMargin = intercept[IllegalArgumentException] {
      new DedupPipeline(spark, DedupConfig(), store).run(pages).count()
    }
    assert(exMargin.getMessage.contains("incPrefilterMargin") &&
      exMargin.getMessage.contains("retired"))
    // … and so is a folded knob off its old default: an unchecked store
    // may hold duplicate ids, a small cutoff drops buckets today's code
    // keeps; a store written with SimHash candidates on holds edges LSH
    // alone would not have proposed
    Seq("verifyIdUniqueness=true" -> "verifyIdUniqueness=false",
        "hugeBucketCutoff=1000000" -> "hugeBucketCutoff=10",
        "useSimHashCandidates=false" -> "useSimHashCandidates=true",
        "simHashMaxBucket=10000" -> "simHashMaxBucket=7").foreach { case (from, to) =>
      java.nio.file.Files.writeString(fp, retiredAtDefault.replace(from, to))
      val ex = intercept[IllegalArgumentException] {
        new DedupPipeline(spark, DedupConfig(), store).run(pages).count()
      }
      val field = to.takeWhile(_ != '=')
      assert(ex.getMessage.contains(s"$field: retired field"), ex.getMessage)
    }

    // a stored field the current config no longer knows cannot be verified
    java.nio.file.Files.writeString(fp, full + "\nretiredKnob=3")
    val exUnknown = intercept[IllegalArgumentException] {
      new DedupPipeline(spark, DedupConfig(), store).run(pages).count()
    }
    assert(exUnknown.getMessage.contains("retiredKnob"))

    // pre-field-format (case-class toString) fingerprints are refused
    java.nio.file.Files.writeString(fp, DedupConfig().toString)
    val exLegacy = intercept[IllegalArgumentException] {
      new DedupPipeline(spark, DedupConfig(), store).run(pages).count()
    }
    assert(exLegacy.getMessage.contains("pre-field-format"))
  }

  test("stage methods fingerprint the store: built one stage at a time, it takes " +
      "a delta; a stage call under another config is refused") {
    import scala.util.hashing.MurmurHash3
    val all = DeterministicCorpus.pages(spark, CorpusSpec(nFamilies = 40, seed = 29)).cache()
    def part(p: graft.schema.Page): Int = math.floorMod(MurmurHash3.stringHash(p.url), 3)
    val aPages = all.filter(p => part(p) >= 1)
    val bPages = all.filter(p => part(p) == 0)
    def key(df: DataFrame) = df.select("url", "cluster_id", "is_representative")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSet
    val full = key(new DedupPipeline(spark, DedupConfig(), freshStore())
      .run(aPages.union(bPages)))

    // the six stage methods one by one, as a traced benchmark pass calls them
    val store = freshStore()
    val staged = new DedupPipeline(spark, DedupConfig(), store)
    val sigs = staged.signatures(aPages)
    val exact = staged.exactEdges(sigs)
    val pairs = staged.candidatePairs(sigs, exact)
    val verified = staged.verifiedEdges(sigs, pairs, Some(aPages))
    staged.clusters(sigs, staged.components(exact, verified)).count()
    val pipe = new DedupPipeline(spark, DedupConfig(), store)
    pipe.materializeStateTables()
    assert(key(pipe.incremental("b", bPages)) === full)

    val ex = intercept[IllegalArgumentException] {
      new DedupPipeline(spark, DedupConfig(maxBucketAllPairs = 32), store)
        .candidatePairs(sigs, exact)
    }
    assert(ex.getMessage.contains("maxBucketAllPairs: stored=64 current=32"), ex.getMessage)
    all.unpersist()
  }

  test("incremental batches: run(A)+inc(B)+inc(C) equals run(A∪B∪C) bit-identically") {
    import spark.implicits._
    import scala.util.hashing.MurmurHash3
    val spec = CorpusSpec(nFamilies = 80, pDup = 0.5, seed = 11)
    val all = DeterministicCorpus.generate(spark, spec).map(_._1).cache()
    def part(p: graft.schema.Page): Int = math.floorMod(MurmurHash3.stringHash(p.url), 4)
    val aPages = all.filter(p => part(p) >= 2)
    // exact copies of A content landing in batch B: newDoc edges into old
    // groups, and repChange when a copy hashes to a smaller id than its
    // old group minimum (asserted below)
    val copies = aPages.take(6).toSeq
      .map(p => p.copy(url = p.url + "#recrawl",
        warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 60000L))).toDS()
    val bPages = all.filter(p => part(p) == 1).union(copies)
    val cPages = all.filter(p => part(p) == 0)
    val (na, nb, nc) = (aPages.count(), bPages.count(), cPages.count())
    assert(na > 0 && nb > 0 && nc > 0)

    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("url", "cluster_id", "is_representative")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSet

    val full = key(new DedupPipeline(spark, DedupConfig(), freshStore())
      .run(aPages.union(bPages).union(cPages)))

    val store = freshStore()
    val pipe = new DedupPipeline(spark, DedupConfig(), store)
    pipe.run(aPages).count()
    // a literal re-crawl (same url AND warc_ts as an A page → same id) must
    // be dropped by the already-present anti-join, not double-counted
    assert(pipe.incremental("b", bPages.union(aPages.limit(1))).count() === na + nb)
    val incr = key(pipe.incremental("c", cPages))
    assert(incr === full,
      "incremental clusters must be bit-identical to the batch run")
    // the demotion edge ran: some B copy's id undercuts the min id of the A
    // docs with its content hash, and every such B group min links to (and
    // so demotes) the old min in b's exact edges
    val aMin = store.read((0 until DedupConfig().resumeChunks).map(i => s"signatures_chunk$i"))
      .groupBy("content_hash").agg(min("id").as("am"))
    val bSigs = store.read("inc_b_signatures")
    val undercutting = bSigs.filter(col("url").endsWith("#recrawl"))
      .join(aMin, "content_hash").filter(col("id") < col("am")).count()
    assert(undercutting > 0, "no B copy undercuts its A group min")
    val demotions = bSigs.groupBy("content_hash").agg(min("id").as("bm"))
      .join(aMin, "content_hash").filter(col("bm") < col("am"))
      .select(col("bm").as("a"), col("am").as("b"))
    assert(demotions.join(store.read("inc_b_exact_edges"), Seq("a", "b"), "left_anti")
      .isEmpty, "a demoted A group min is missing from b's exact edges")
    // re-applying a logged batch returns the checkpointed result
    assert(key(pipe.incremental("c", cPages)) === full)
    // stages from a half-applied OTHER batch are refused, not ignored
    store.write("inc_x_signatures", Seq((1L, 2L)).toDF("id", "content_hash"))
    val exStray = intercept[IllegalArgumentException] {
      pipe.incremental("y", cPages)
    }
    assert(exStray.getMessage.contains("unapplied batch"))
    all.unpersist()
  }

  test("incremental: a delta with a repeated (url, warc_ts) is refused, then the " +
      "corrected delta applies and equals the batch run") {
    import spark.implicits._
    import scala.util.hashing.MurmurHash3
    val all = DeterministicCorpus.pages(spark, CorpusSpec(nFamilies = 40, seed = 17)).cache()
    def part(p: graft.schema.Page): Int = math.floorMod(MurmurHash3.stringHash(p.url), 3)
    val aPages = all.filter(p => part(p) >= 1)
    val bPages = all.filter(p => part(p) == 0)
    def key(df: DataFrame) = df.select("url", "cluster_id", "is_representative")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSet
    val full = key(new DedupPipeline(spark, DedupConfig(), freshStore())
      .run(aPages.union(bPages)))

    val store = freshStore()
    val pipe = new DedupPipeline(spark, DedupConfig(), store)
    pipe.run(aPages).count()
    val dupDelta = bPages.union(bPages.limit(1))
    // a marker left by an earlier attempt does not excuse a recomputed stage
    store.mark("inc_b_idcheck")
    val ex = intercept[IllegalArgumentException](pipe.incremental("b", dupDelta))
    assert(ex.getMessage.contains("batch 'b' doc ids are not unique"))
    assert(ex.getMessage.contains("idBits=128"))
    assert(!store.has("inc_b_signatures"), "refused delta's signatures kept")
    assert(!store.marked("inc_b_idcheck"))
    assert(pipe.incBatches.isEmpty, "refused delta reached the batch log")
    assert(key(pipe.incremental("b", bPages)) === full)
    assert(store.marked("inc_b_idcheck") && pipe.incBatches === Seq("b"))
    all.unpersist()
  }

  test("incremental state needs a completed run(): refused before any state is written") {
    val pages = DeterministicCorpus.pages(spark, CorpusSpec(nFamilies = 10, seed = 19))
    def refusals(store: StageStore): Seq[String] = {
      val pipe = new DedupPipeline(spark, DedupConfig(), store)
      Seq(() => pipe.incremental("b", pages), () => pipe.incrementalClusters(),
        () => pipe.materializeStateTables())
        .map(f => intercept[IllegalArgumentException](f()).getMessage)
    }
    // an empty store, and one whose run() died after the signature stage
    val empty = freshStore()
    val partial = freshStore()
    new DedupPipeline(spark, DedupConfig(), partial).run(pages).count()
    Seq("exact_edges", "candidate_pairs", "verified_edges", "components", "clusters")
      .foreach(partial.invalidate)
    Seq(empty, partial).foreach { store =>
      refusals(store).foreach(m => assert(m.contains("no completed run()"), m))
      assert(store.stages("").forall(!_.contains("state")), store.stages(""))
      assert(!store.marked("band_state_covers"))
    }
  }

  test("incremental: a store from before the state-table layout is refused") {
    val pages = DeterministicCorpus.pages(spark, CorpusSpec(nFamilies = 10, seed = 19))
    val store = freshStore()
    val pipe = new DedupPipeline(spark, DedupConfig(), store)
    val clusters = pipe.run(pages)
    // the old layout: a logged batch that kept a full clusters stage and
    // no state tables
    store.write("inc_old_clusters", clusters)
    Files.writeString(java.nio.file.Paths.get(store.root, "_INC_LOG"), "old\n")
    Seq(() => pipe.incremental("old", pages), () => pipe.incremental("b", pages),
      () => pipe.incrementalClusters(), () => pipe.materializeStateTables())
      .foreach { f =>
        val m = intercept[IllegalArgumentException](f()).getMessage
        assert(m.contains("predates the state-table layout"), m)
      }
    assert(!store.marked("band_state_covers"))
  }

  test("incremental over legacy n=80/n=256 sketch chunks equals batch") {
    import spark.implicits._
    import scala.util.hashing.MurmurHash3
    import graft.functions.{bbit_minhash, normalize_tokens, word_shingles}
    val spec = CorpusSpec(nFamilies = 60, pDup = 0.5, seed = 23)
    val all = DeterministicCorpus.generate(spark, spec).map(_._1).cache()
    def part(p: graft.schema.Page): Int = math.floorMod(MurmurHash3.stringHash(p.url), 3)
    val aPages = all.filter(p => part(p) >= 1)
    val bPages = all.filter(p => part(p) == 0)
    assert(aPages.count() > 0 && bPages.count() > 0)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("url", "cluster_id", "is_representative")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSet
    val cfg = DedupConfig()
    val full = key(new DedupPipeline(spark, cfg, freshStore())
      .run(aPages.union(bPages)))

    val store = freshStore()
    val pipe = new DedupPipeline(spark, cfg, store)
    pipe.run(aPages).count()
    // simulate a store written by older builds: base signature chunks carry
    // a `sketch` column, n=80 in some chunks and n=256 in others; the
    // delta's layers carry none, so the layer unions must go by name
    def sketch(n: Int) = aPages.toDF().select(
      xxhash64(col("url"), col("warc_ts")).as("id"),
      bbit_minhash(word_shingles(normalize_tokens(col("text")), cfg.shingleK, cfg.seed),
        n, 4, cfg.seed).as("sketch"))
    (0 until cfg.resumeChunks).foreach { i =>
      val st = s"signatures_chunk$i"
      val legacy = store.read(st).join(sketch(if (i < 2) 80 else 256), Seq("id"))
        .localCheckpoint(true)
      store.invalidate(st)
      store.write(st, legacy)
    }
    assert(store.read("signatures_chunk0").columns.contains("sketch"))
    assert(key(pipe.incremental("b", bPages)) === full,
      "legacy-sketch base + sketch-free delta must match the batch run")
    all.unpersist()
  }

  test("incremental over signature chunks that carry a simhash column equals batch") {
    import scala.util.hashing.MurmurHash3
    import graft.functions.{normalize_tokens, simhash64, word_shingles}
    val all = DeterministicCorpus.pages(spark,
      CorpusSpec(nFamilies = 60, pDup = 0.5, seed = 31)).cache()
    def part(p: graft.schema.Page): Int = math.floorMod(MurmurHash3.stringHash(p.url), 3)
    val aPages = all.filter(p => part(p) >= 1)
    val bPages = all.filter(p => part(p) == 0)
    def key(df: DataFrame) = df.select("url", "cluster_id", "is_representative")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSet
    val cfg = DedupConfig()
    val full = key(new DedupPipeline(spark, cfg, freshStore()).run(aPages.union(bPages)))

    val store = freshStore()
    new DedupPipeline(spark, cfg, store).run(aPages).count()
    // rewrite the base as a build with the SimHash candidate source (off)
    // wrote it: every signature chunk carries `simhash` between
    // content_hash and n_shingles, and the fingerprint holds the source's
    // two fields at their defaults
    val simhash = aPages.toDF().select(
      xxhash64(col("url"), col("warc_ts")).as("id"),
      simhash64(word_shingles(normalize_tokens(col("text")), cfg.shingleK, cfg.seed))
        .as("simhash"))
    (0 until cfg.resumeChunks).foreach { i =>
      val st = s"signatures_chunk$i"
      val chunk = store.read(st)
      val (head, tail) = chunk.columns.splitAt(chunk.columns.indexOf("n_shingles"))
      val legacy = chunk.join(simhash, Seq("id"))
        .select((head.toSeq ++ ("simhash" +: tail.toSeq)).map(col): _*)
        .localCheckpoint(true)
      store.invalidate(st)
      store.write(st, legacy)
    }
    val fp = java.nio.file.Paths.get(store.root, "_PIPELINE_CONFIG.json")
    java.nio.file.Files.writeString(fp, java.nio.file.Files.readString(fp) +
      "\nuseSimHashCandidates=false\nsimHashMaxBucket=10000")
    assert(store.read("signatures_chunk0").columns.contains("simhash"))

    val pipe = new DedupPipeline(spark, cfg, store)
    assert(key(pipe.incremental("b", bPages)) === full,
      "a simhash-carrying base + simhash-free delta must match the batch run")
    // the delta's signatures are written without the column
    assert(!store.read("inc_b_signatures").columns.contains("simhash"))
    all.unpersist()
  }

  test("incremental over a store that carries the retired comp state table equals " +
      "batch; a fresh store writes no comp state") {
    import scala.util.hashing.MurmurHash3
    val all = DeterministicCorpus.pages(spark,
      CorpusSpec(nFamilies = 60, pDup = 0.5, seed = 37)).cache()
    def part(p: graft.schema.Page): Int = math.floorMod(MurmurHash3.stringHash(p.url), 3)
    val aPages = all.filter(p => part(p) == 2)
    val bPages = all.filter(p => part(p) == 1)
    val cPages = all.filter(p => part(p) == 0)
    def key(df: DataFrame) = df.select("url", "cluster_id", "is_representative")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSet
    val cfg = DedupConfig()
    val full = key(new DedupPipeline(spark, cfg, freshStore())
      .run(aPages.union(bPages).union(cPages)))

    val store = freshStore()
    val pipe = new DedupPipeline(spark, cfg, store)
    pipe.run(aPages).count()
    pipe.incremental("b", bPages).count()
    // a batch writes its signatures, exact path, candidates, verified
    // edges, union-find result and two state layers — no component or
    // hash-min layer; adoption wrote the band and cluster bases only
    assert(store.stages("inc_b_").sorted === Seq("band_state", "candidate_pairs",
      "cluster_state", "comp_delta", "exact_edges", "signatures",
      "verified_edges").map("inc_b_" + _))
    assert(store.stages("").filter(_.contains("_state_base")).sorted ===
      Seq("band_state_base", "cluster_state_base"))
    val retired = Seq("comp", "hash_min")
    def retiredLeft = retired.flatMap(t => store.stages(s"${t}_state") ++
      store.stages("inc_").filter(_.endsWith(s"_${t}_state")) ++
      Some(s"${t}_state_covers").filter(store.marked))
    assert(retiredLeft.isEmpty, retiredLeft)

    // add what builds with component and hash-min state tables wrote beside
    // them: per table an adoption base, its covers marker and b's layer,
    // partitioned by pkey(component) and pkey(content_hash)
    def layer(df: DataFrame, part: String) = df
      .withColumn("pkey", pmod(xxhash64(col(part)), lit(cfg.statePartitions)).cast("int"))
      .withColumn("_del", lit(false))
    def compLayer(df: DataFrame) = layer(df.select("id", "component"), "component")
    def hashMinLayer(df: DataFrame) =
      layer(df.groupBy("content_hash").agg(min("id").as("m")), "content_hash")
    store.mark("comp_state_covers", "0 0")
    store.writePartitioned("comp_state_base", compLayer(store.read("components")))
    store.writePartitioned("inc_b_comp_state", compLayer(store.read("inc_b_comp_delta")))
    store.mark("hash_min_state_covers", "0 0")
    store.writePartitioned("hash_min_state_base", hashMinLayer(
      store.read((0 until cfg.resumeChunks).map(i => s"signatures_chunk$i"))))
    store.writePartitioned("inc_b_hash_min_state", hashMinLayer(store.read("inc_b_signatures")))
    assert(retiredLeft.size === 6, retiredLeft)
    assert(key(pipe.incremental("c", cPages)) === full,
      "a store with retired comp and hash-min state + a new delta must match the batch run")
    // the next batch deletes the retired stages and markers; the re-solve's
    // comp_delta stages stay
    assert(retiredLeft.isEmpty, retiredLeft)
    assert(store.has("inc_b_comp_delta") && store.has("inc_c_comp_delta"))
    all.unpersist()
  }

  test("incremental state tables: partition-pruned reads, delta-proportional rewrites") {
    import spark.implicits._
    val all = DeterministicCorpus.pages(spark, CorpusSpec(nFamilies = 600, seed = 5)).cache()
    // a tiny delta: 2 brand-new families plus 5 exact re-crawls of base
    // pages — the re-crawls link into existing components, so the member
    // fetch and the cluster partition rewrites are all exercised
    val recrawls = all.take(5).toSeq
      .map(p => p.copy(url = p.url + "#recrawl",
        warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 60000L))).toDS()
    val delta = DeterministicCorpus.pages(spark,
      CorpusSpec(nFamilies = 2, familyOffset = 100000, seed = 5))
      .union(recrawls).cache()
    val store = freshStore()
    val pipe = new DedupPipeline(spark, DedupConfig(), store)
    pipe.run(all).count()
    val nAll = all.count()
    val nDelta = delta.count()
    // the always-live view works on a base-run-only store (lazily adopting
    // the state tables), not just after a batch applied
    assert(pipe.incrementalClusters().count() === nAll)
    val updated = pipe.incremental("d1", delta)
    // the layered view IS the full table: every id exactly once
    assert(updated.count() === nAll + nDelta)
    assert(updated.select("id").distinct().count() === nAll + nDelta)

    // READ path: a pkey-restricted band-state view must be a partition-
    // PRUNED scan — PartitionFilters on pkey in the executed plan, and no
    // Exchange (scan+filter+union only)
    val somePk = Seq(0, 1, 2)
    val pruned = pipe.stateView("band", Seq("d1"), Some(somePk))
    pruned.collect()
    val plan = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*pkey".r.findFirstIn(plan).isDefined,
      s"no partition filter on pkey:\n$plan")
    assert(!plan.contains("Exchange"), s"state view shuffled:\n$plan")
    // and it returns exactly the requested partitions' rows
    val wantRows = pipe.stateView("band", Seq("d1"), None)
      .filter(col("pkey").isin(somePk: _*)).count()
    assert(pruned.count() === wantRows && wantRows > 0)

    // WRITE path (merge-on-read): each upsert layer holds ONLY changed
    // rows + tombstones — O(touched members + delta), NEVER a corpus copy.
    // Bounds are corpus-independent: 4× the delta covers live rows,
    // tombstones, and the recrawled families' co-members with slack.
    val clRows = store.read("inc_d1_cluster_state").count()
    assert(clRows > 0 && clRows <= 4 * nDelta + 50,
      s"cluster layer wrote $clRows rows for a $nDelta-page delta")
    // the partitioned layer's manifest accounts for every row it wrote
    assert(store.lineage("inc_d1_cluster_state").agg(sum("rows")).as[Long].head() ===
      clRows)
    // the re-solve's durable result: touched members + delta only
    val compRows = store.read("inc_d1_comp_delta").count()
    assert(compRows <= 4 * nDelta + 50,
      s"component re-solve wrote $compRows rows for a $nDelta-page delta")
    // band state: the batch appended ONLY its own band rows
    assert(store.read("inc_d1_band_state").count() ===
      pipe.stateView("band", Seq("d1"), None).count() -
        pipe.stateView("band", Nil, None).count())

    // schema records: every stage reads back the inferred columns; a layer
    // whose every partition is empty has no file to infer from, and reads
    // back the columns of a data-bearing layer
    store.writePartitioned("empty_cluster_layer",
      store.read("inc_d1_cluster_state").limit(0))
    assertRecordedSchemas(store)
    val inferred = spark.read.parquet(
      java.nio.file.Paths.get(store.root, "inc_d1_cluster_state").toString).schema
    assert(store.read("empty_cluster_layer").schema === inferred)
    all.unpersist(); delta.unpersist()
  }

  test("state compaction: layers fold into a versioned base; view unchanged") {
    import spark.implicits._
    import scala.util.hashing.MurmurHash3
    val spec = CorpusSpec(nFamilies = 80, pDup = 0.5, seed = 11)
    val all = DeterministicCorpus.generate(spark, spec).map(_._1).cache()
    def part(p: graft.schema.Page): Int = math.floorMod(MurmurHash3.stringHash(p.url), 4)
    val aPages = all.filter(p => part(p) >= 2)
    val bPages = all.filter(p => part(p) == 1)
    val cPages = all.filter(p => part(p) == 0)

    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("url", "cluster_id", "is_representative")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSet
    val full = key(new DedupPipeline(spark, DedupConfig(), freshStore())
      .run(aPages.union(bPages).union(cPages)))

    // compact after EVERY batch — each apply folds the upsert layers +
    // tombstones back into one resolved base, and the next batch layers on
    // top of the fold
    val store = freshStore()
    val pipe = new DedupPipeline(spark, DedupConfig(stateCompactEvery = 1), store)
    pipe.run(aPages).count()
    val heldView = pipe.incremental("b", bPages)
    heldView.count()
    // after batch b's compaction: the versioned base exists; superseded
    // stages (adoption base, per-batch layer) survive ONE compaction cycle
    // (snapshot-expiry grace) so lazy views held by callers stay readable
    assert(store.has("cluster_state_base_v1"), "compacted base missing")
    assert(store.has("cluster_state_base"), "grace: adoption base deleted too early")
    assert(store.has("inc_b_cluster_state"), "grace: superseded layer deleted too early")
    val incr = key(pipe.incremental("c", cPages))
    assert(incr === full,
      "compacted incremental clusters must equal the batch run")
    // the view returned BEFORE batch c still reads (its files are in grace)
    assert(heldView.count() > 0)
    assert(store.has("cluster_state_base_v2"))
    // c's compaction expired the PREVIOUS cycle's superseded stages …
    assert(!store.has("cluster_state_base"), "expired adoption base not cleaned up")
    assert(!store.has("inc_b_cluster_state"), "expired superseded layer not cleaned up")
    // … while v1 (superseded just now) is itself in grace
    assert(store.has("cluster_state_base_v1"), "grace: v1 base deleted too early")
    // a compacted base carries no tombstones — it IS the resolved view
    val base = store.read("cluster_state_base_v2")
    assert(base.filter(col("_del")).count() === 0)
    assert(base.count() === full.size)
    // idempotent replay of the LAST batch returns the same table; a batch
    // compaction folded PAST refuses rather than answering wrong-era
    assert(key(pipe.incremental("c", cPages)) === full)
    assert(key(pipe.incrementalClusters()) === full)
    val e = intercept[IllegalArgumentException](pipe.incremental("b", bPages))
    assert(e.getMessage.contains("compaction"))
    all.unpersist()
  }

  test("incremental hot bucket: delta members chain into an oversized prior bucket") {
    import spark.implicits._
    // 210-member near-identical boilerplate family; the last 10 arrive as a
    // delta. Their band buckets hold ~200 prior rows — far over
    // maxBucketAllPairs — so the cross join must take the chain-to-bucket-
    // min path (O(delta) output), and connectivity must still land every
    // member in ONE cluster.
    val all = DeterministicCorpus.pages(spark,
      CorpusSpec(nFamilies = 30, hotFamilySize = 210, seed = 3)).cache()
    def copyIdx(u: String): Int = u.substring(u.lastIndexOf('c') + 1).toInt
    val basePages = all.filter(p => !p.url.contains("/f-1/") || copyIdx(p.url) < 200)
    val deltaPages = all.filter(p => p.url.contains("/f-1/") && copyIdx(p.url) >= 200)
    assert(deltaPages.count() === 10L)

    val pipe = new DedupPipeline(spark,
      DedupConfig(maxBucketAllPairs = 16), freshStore())
    pipe.run(basePages).count()
    val hotBefore = pipe.hotBuckets.value
    val clusters = pipe.incremental("hot", deltaPages)
    assert(clusters.count() === all.count())
    // the delta×prior ladder counts the prior buckets it chains into
    assert(pipe.hotBuckets.value > hotBefore,
      s"hotBuckets stayed at $hotBefore across a chained delta")
    val hotClusters = clusters.filter(col("url").contains("/f-1/"))
      .select("cluster_id").distinct().count()
    assert(hotClusters === 1L,
      s"hot family split across $hotClusters clusters — chain path broken")
    all.unpersist()
  }

  test("simhash block-permuted tables: finds hamming<=3, excludes hamming>3") {
    import spark.implicits._
    val v = 0x0123456789abcdefL
    val in3Close = v ^ 0x7L                    // 3 bits, one block dirty
    val in4Spread = v ^ ((1L << 1) | (1L << 17) | (1L << 33) | (1L << 49))
    val in4TwoBlocks = v ^ (0x3L | (0x3L << 16))
    val sigs = Seq((1L, v), (2L, in3Close), (3L, in4Spread), (4L, in4TwoBlocks))
      .toDF("id", "simhash")
    val pairs = graft.dedup.SimHashDedup.nearDupPairs(sigs, maxHamming = 3)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "3-bit diff must be found")
    assert(!pairs.contains((1L, 3L)), "hamming 4 must be excluded")
    assert(!pairs.contains((1L, 4L)), "hamming 4 must be excluded")
    // 2 vs 4: hamming = popcount(0x7 ^ 0x3 ^ 0x3<<16) = popcount(0x4|0x30000)
    //       = 3 → a legitimate near-dup pair (exactness of the 20-table
    //       C(6,3) construction: ≤3 dirty blocks always leave 3 clean ones)
    assert(pairs.contains((2L, 4L)))
  }

  test("simhash hot bucket: >maxBucketSize identical-fingerprint family " +
      "chains to one connected component, never silently dropped") {
    import spark.implicits._
    val family = (1L to 50L).map(i => (i, 0x5a5a5a5a5a5a5a5aL))
    val outsider = Seq((1000L, 0xa5a5a5a5a5a5a5a5L))
    val sigs = (family ++ outsider).toDF("id", "simhash")
    val acc = spark.sparkContext.longAccumulator("hotBuckets")
    val pairs = graft.dedup.SimHashDedup.nearDupPairs(
      sigs, maxHamming = 3, maxBucketSize = 10, hotBucketAcc = Some(acc))
    val edges = pairs.select(col("a"), col("b"))
    val comps = graft.dedup.ConnectedComponents.run(edges)
      .filter(col("id") <= 50L)
      .select(countDistinct("component")).as[Long].collect()(0)
    assert(comps === 1L, "hot identical-fingerprint family must stay one component")
    assert(acc.value > 0, "chain fallback must be observable via the accumulator")
    // all emitted family pairs are hamming 0 (chain runs inside the
    // identical-fingerprint run) and the outsider never pairs in
    assert(pairs.filter(col("hamming") =!= 0).count() === 0L)
    assert(pairs.filter(col("a") === 1000L || col("b") === 1000L).count() === 0L)
  }

  test("hot keys: 10^6-copy exact family and 10^6-member cluster at full throughput") {
    // The two stages that once used Window.partitionBy would funnel these
    // planted monsters into one task; the partial-agg + join-back plans
    // must both complete fast and produce the exact closed-form output.
    val pipe = new DedupPipeline(spark, DedupConfig(), freshStore())
    val n = 1000000L
    val hotN = n - 1000

    // exact edges: one content_hash shared by hotN rows + 1000 singletons
    val sigs = spark.range(n).select(
      col("id"),
      when(col("id") < hotN, lit(7L)).otherwise(col("id")).as("content_hash"))
    val edges = pipe.exactEdgesPlan(sigs)
    val edgePlan = {
      val e = pipe.exactEdgesPlan(sigs); e.collect(); e.queryExecution.executedPlan.toString
    }
    assert(!edgePlan.split("== Initial Plan ==")(0).contains("Window"))
    assert(edges.count() === hotN - 1) // every hot copy → edge to the group min
    val mm = edges.agg(min("a"), max("a"), min("b")).collect()(0)
    assert(mm.getLong(0) === 0L && mm.getLong(1) === 0L) // all edges anchor at id 0
    assert(mm.getLong(2) === 1L)

    // clusters: a single 10^6-member cluster; representative = longest text,
    // then earliest warc_ts, then smallest id ⇒ id 99 (text_len = id % 100)
    val sigs2 = spark.range(n).select(
      col("id"),
      concat(lit("https://synth.test/hot/"), col("id")).as("url"),
      to_timestamp(lit("2024-01-01 00:00:00")).as("warc_ts"),
      lit("en").as("lang"),
      lit("src0").as("source"),
      (col("id") % 100).cast("int").as("text_len"))
    val comps = spark.range(1, n).select(col("id"), lit(0L).as("component"))
    val clusters = pipe.clustersPlan(sigs2, comps)
    assert(clusters.count() === n)
    val reps = clusters.filter(col("is_representative")).collect()
    assert(reps.length === 1)
    assert(reps(0).getAs[Long]("id") === 99L)
    assert(reps(0).getAs[Long]("cluster_id") === 0L)
  }

  test("lcs second chance: long verbatim quote rescues a borderline pair") {
    import spark.implicits._
    // shared: a long verbatim run; doc B wraps it in enough extra unique
    // words that shingle Jaccard falls below 0.8 but above lcsLowJaccard
    val core = (1 to 40).map(i => s"core$i").mkString(" ")
    val extra = (1 to 12).map(i => s"extra$i").mkString(" ")
    val pages = Seq(
      mkPage("l1", core, "s"),
      mkPage("l2", s"$extra $core", "s"),
      mkPage("l3", (1 to 50).map(i => s"other$i").mkString(" "), "s")).toDS()

    def clustersOf(cfg: DedupConfig): Map[String, Long] =
      new DedupPipeline(spark, cfg, freshStore()).run(pages)
        .select("url", "cluster_id").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap

    // shingle jaccard(l1, l2) = 36/48 = 0.75: inside [lcsLowJaccard, 0.8)
    // → an LSH candidate (band-collision prob ≈ 0.99 at s=0.75) that fails
    // plain verification
    val without = clustersOf(DedupConfig(useLcsCheck = false))
    assert(without("l1") !== without("l2"), "expected borderline pair apart without LCS")
    // with LCS: the shared 40-token run covers all of l1 → rescued
    val withLcs = clustersOf(DedupConfig(useLcsCheck = true))
    assert(withLcs("l1") === withLcs("l2"), "LCS check should rescue the quoted pair")
    assert(withLcs("l3") !== withLcs("l1"))
  }

  test("skew: hot near-dup family routed through chain path stays one cluster") {
    import spark.implicits._
    val spec = CorpusSpec(nFamilies = 30, pDup = 0.1, hotFamilySize = 500, seed = 13)
    val corpus = DeterministicCorpus.generate(spark, spec).cache()
    val pages = corpus.map(_._1)
    val truth = corpus.map(_._2).toDF()
    // maxBucketAllPairs=16 forces the hot family (500 near-identical pages)
    // through the chain path
    val pipeline = new DedupPipeline(spark, DedupConfig(maxBucketAllPairs = 16), freshStore())
    val clusters = pipeline.run(pages)
    val hotClusters = clusters.join(truth, "url")
      .filter(col("family_id") === -1L)
      .select(countDistinct("cluster_id")).as[Long].collect()(0)
    assert(hotClusters === 1L, s"hot family split into $hotClusters clusters")
    corpus.unpersist()
  }

  private def mkPage(url: String, text: String, source: String): graft.schema.Page = {
    val html = DeterministicCorpus.wrapHtml(text, "t " + url)
    graft.schema.Page(url, new java.sql.Timestamp(1700000000000L), html,
      HtmlText.extract(html), "en", source)
  }
}
