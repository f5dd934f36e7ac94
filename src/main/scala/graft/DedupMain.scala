package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.dedup.{DedupConfig, DedupPipeline, DedupProbe}
import graft.io.StageStore
import graft.synth.DeterministicCorpus
import graft.synth.DeterministicCorpus.CorpusSpec

/** spark-submit entry point for the dedup pipeline (north_rule: "run via
  * spark-submit ... resumable from checkpoint").
  *
  * Usage:
  *   DedupMain <checkpointDir> [--families N] [--hot N] [--cores N]
  *             [--input <parquet pages dir>] [--seed N] [--idbits 64|128]
  *             [--urldedup true] [--adopt-state true]
  *             [--inc-batch NAME [--inc-input dir | --inc-families N]
  *              [--inc-offset N]] [--probe RATE]
  *
  * Without --input, a deterministic synthetic corpus of N families is
  * generated (same generator the tests and bench use). Re-running with the
  * same checkpointDir resumes: completed stages load from their checkpoint.
  * Prints per-stage row counts and a final cluster summary as JSON.
  *
  * With --inc-batch, applies an incremental crawl delta on top of the
  * completed run in <checkpointDir> (see [[DedupPipeline.incremental]]):
  * the delta comes from --inc-input, or is synthesized with --inc-families
  * at --inc-offset (default 10⁹ — far past any base family range, so the
  * delta's url space is disjoint).
  *
  * An unknown flag, a flag without a value, a value of the wrong type
  * (a number or true/false where the flag expects one) or `--cores` below
  * 1 is refused with a message naming the flag, before Spark starts.
  * Without `--cores`, `SPARK_GRAFT_CPUS` (validated the same way) or 8.
  */
object DedupMain {
  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val checkpointDir = opts("checkpoint")
    val cores = opts.get("cores").fold(EnvKnobs.positiveInt("SPARK_GRAFT_CPUS", 8))(_.toInt)

    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]"))
      .appName("graft-dedup")
      // 4 tasks per core: the candidate stage's big repartition+sort then
      // works on data-sized chunks (no low-core spill) and stragglers
      // load-balance; AQE coalesces where fewer partitions suffice
      .config("spark.sql.shuffle.partitions", cores * 4)
      .config("spark.sql.adaptive.enabled", "true")
      // verify/anti-join small sides (pair lists, exact-dup ids) fit well
      // under 64 MB at sandbox scale → broadcast joins keep the big
      // signature table un-shuffled; at 10^12 docs AQE's runtime stats
      // exceed the threshold and the same plan degrades to sort-merge —
      // the setting is scale-adaptive, not a hard-coded choice
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val pages = opts.get("input") match {
      case Some(dir) => spark.read.parquet(dir).as[graft.schema.Page]
      case None =>
        val spec = CorpusSpec(
          nFamilies = opts.getOrElse("families", "10000").toLong,
          hotFamilySize = opts.getOrElse("hot", "0").toInt,
          seed = opts.getOrElse("seed", "42").toLong)
        DeterministicCorpus.pages(spark, spec)
    }

    // --probe RATE: pre-flight sizing probe INSTEAD of a pipeline run —
    // family-preserving sample on the pipeline's own exact-dup key
    // (normalize_tokens, the content the hash fast path collapses on),
    // extrapolated to corpus dup stats + launch knobs, one JSON line.
    opts.get("probe").foreach { rateStr =>
      val est = DedupProbe.estimate(pages.toDF(),
        graft.functions.normalize_tokens(col("text")), rateStr.toDouble,
        s"probe${opts.getOrElse("seed", "42")}")
      val dflt = DedupConfig()
      val p = DedupProbe.plan(est, dflt.jaccardThreshold, dflt.bands * dflt.rows)
      println(f"""{"probe_rate":${est.rate}%.6f,"sampled_docs":${est.sampledDocs},""" +
        f""""sampled_families":${est.sampledFamilies},"est_docs":${est.estDocs}%.1f,""" +
        f""""est_families":${est.estFamilies}%.1f,"est_dup_fraction":${est.estDupFraction}%.6f,""" +
        f""""collapse_factor":${p.collapseFactor}%.4f,"band_shuffle_partitions":${p.bandShufflePartitions},""" +
        s""""bands":${p.bands},"rows":${p.rows}}""")
      spark.stop()
      return
    }

    val store = new StageStore(spark, checkpointDir)
    // --idbits 128 switches to the two-long struct id (10^12-doc scale;
    // see DedupPipeline.idCol). countDistinct below works on either width.
    // --urldedup true collapses capture spellings per canonical url
    // within each batch before signatures (UrlOps.canonicalizeUrl).
    val cfg = DedupConfig(idBits = opts.getOrElse("idbits", "64").toInt,
      urlCanonicalPreDedup = opts.get("urldedup").exists(_.toBoolean))
    val pipeline = new DedupPipeline(spark, cfg, store)

    val incBatch = opts.get("inc-batch")
    val t0 = System.nanoTime()
    val (clusters, deltaPages) = incBatch match {
      case Some(batch) =>
        val delta = opts.get("inc-input") match {
          case Some(dir) => spark.read.parquet(dir).as[graft.schema.Page]
          case None => DeterministicCorpus.pages(spark, CorpusSpec(
            nFamilies = opts.getOrElse("inc-families", "100000").toLong,
            seed = opts.getOrElse("seed", "42").toLong,
            familyOffset = opts.getOrElse("inc-offset", "1000000000").toLong))
        }
        (pipeline.incremental(batch, delta), Some(delta.count()))
      case None =>
        val cl = pipeline.run(pages)
        // --adopt-state true: materialize the incremental state tables as
        // the base run's final step (the production shape), so the first
        // delta apply doesn't pay the one-time corpus-sized adoption
        // inside its own timing
        if (opts.get("adopt-state").exists(_.toBoolean))
          pipeline.materializeStateTables()
        (cl, None)
    }
    // one job: total rows + distinct clusters off the final (small) table
    val summary = clusters.agg(count(lit(1)), countDistinct("cluster_id"))
      .as[(Long, Long)].collect()(0)
    val (nPages, nClusters) = summary
    val wallSec = (System.nanoTime() - t0) / 1e9
    if (incBatch.isDefined) {
      // incremental mode: docs/sec is the DELTA throughput (the work this
      // mode replaces is a full rerun — compare against the batch figure)
      val nDelta = deltaPages.get
      println(
        s"""{"mode":"incremental","batch":"${incBatch.get}","delta_pages":$nDelta,
           |"pages":$nPages,"clusters":$nClusters,"wall_sec":$wallSec,
           |"delta_docs_per_sec":${nDelta / wallSec},
           |"skew":{"hot_buckets":${pipeline.hotBuckets.value},
           |"dropped_buckets":${pipeline.droppedBuckets.value},
           |"dropped_bucket_rows":${pipeline.droppedBucketRows.value}}}"""
          .stripMargin.replace("\n", ""))
      spark.stop()
      return
    }

    val stages = stageRows(store, pipeline.signatureStages)

    // consolidated per-partition lineage + metrics table (north_rule:
    // "writes per-partition lineage and metrics to Iceberg checkpoint
    // tables"; Iceberg → parquet-dir emulation, see StageStore)
    val allStages = pipeline.signatureStages ++ RunStages
    allStages.map(store.lineage).reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$checkpointDir/_metrics")
    println(
      s"""{"pages":$nPages,"clusters":$nClusters,"dup_pages":${nPages - nClusters},
         |"wall_sec":$wallSec,"docs_per_sec":${nPages / wallSec},
         |"skew":{"hot_buckets":${pipeline.hotBuckets.value},
         |"dropped_buckets":${pipeline.droppedBuckets.value},
         |"dropped_bucket_rows":${pipeline.droppedBucketRows.value}},
         |"stage_rows":$stages}""".stripMargin.replace("\n", ""))
    spark.stop()
  }

  /** The stages of `run()` after signatures, in pipeline order. */
  private val RunStages = Seq("exact_edges", "candidate_pairs", "verified_edges",
    "components", "clusters")

  /** The rows of each `run()` stage as a JSON object, signatures summed over
    * `sigStages`. Counts come from the checkpoint manifests (parquet footer
    * metadata recorded at write time), not a re-scan of the stage tables;
    * a stage with no data file (an empty signature chunk) counts 0.
    */
  private[graft] def stageRows(store: StageStore, sigStages: Seq[String]): String = {
    def rowsOf(sts: Seq[String]): Long =
      sts.map(st => store.lineage(st).agg(coalesce(sum("rows"), lit(0L))).head().getLong(0)).sum
    (("signatures" -> sigStages) +: RunStages.map(st => st -> Seq(st)))
      .map { case (name, sts) => s""""$name":${rowsOf(sts)}""" }
      .mkString("{", ",", "}")
  }

  private val IntFlag = ("an integer", (v: String) => v.toIntOption.isDefined)
  private val LongFlag = ("an integer", (v: String) => v.toLongOption.isDefined)
  private val BoolFlag = ("true or false", (v: String) => v.toBooleanOption.isDefined)
  private val TextFlag = ("a value", (_: String) => true)

  /** The flags of the usage above, each with the kind of value it takes. */
  private val Flags: Map[String, (String, String => Boolean)] = Map(
    "families" -> LongFlag, "hot" -> IntFlag, "cores" -> IntFlag,
    "input" -> TextFlag, "seed" -> LongFlag, "idbits" -> IntFlag,
    "urldedup" -> BoolFlag, "adopt-state" -> BoolFlag,
    "inc-batch" -> TextFlag, "inc-input" -> TextFlag,
    "inc-families" -> LongFlag, "inc-offset" -> LongFlag,
    "probe" -> ("a number", (v: String) => v.toDoubleOption.isDefined))

  /** `<checkpointDir> (--flag value)*` as a map keyed by flag name (plus
    * `checkpoint`).
    */
  private[graft] def parseArgs(args: Array[String]): Map[String, String] = {
    require(args.nonEmpty && !args(0).startsWith("--"),
      "usage: DedupMain <checkpointDir> [--flag value ...]")
    val kv = scala.collection.mutable.Map("checkpoint" -> args(0))
    args.drop(1).grouped(2).foreach { pair =>
      val flag = pair(0)
      require(flag.startsWith("--"), s"unexpected argument '$flag' (flags start with --)")
      val name = flag.drop(2)
      val (kind, valid) = Flags.getOrElse(name, throw new IllegalArgumentException(
        s"unknown flag $flag; known flags: ${Flags.keys.toSeq.sorted.map("--" + _).mkString(" ")}"))
      require(pair.length == 2 && !pair(1).startsWith("--"), s"flag $flag needs a value")
      require(valid(pair(1)), s"flag $flag expects $kind, got '${pair(1)}'")
      require(!kv.contains(name), s"flag $flag given twice")
      kv(name) = pair(1)
    }
    kv.get("cores").foreach(c => require(c.toInt >= 1, s"flag --cores must be >= 1, got '$c'"))
    kv.toMap
  }
}
