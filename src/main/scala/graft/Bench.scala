package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.dedup.{DedupConfig, DedupPipeline}
import graft.io.StageStore
import graft.synth.DeterministicCorpus
import graft.synth.DeterministicCorpus.CorpusSpec

/** Benchmark main (driver contract): runs every SparkEntry query on
  * `SPARK_GRAFT_SF_DIR` plus the end-to-end near-dup pipeline on a
  * deterministic synthetic corpus, and prints ONE JSON line.
  *
  * Env knobs:
  *   SPARK_GRAFT_SF_DIR    table dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_CPUS      local[N] cores + shuffle partitions (default 32)
  *   SPARK_GRAFT_FAMILIES  dedup-bench corpus families (default 400000,
  *                         ≈1.6 pages/family ⇒ ~640k pages — big enough
  *                         that per-job constants don't dominate the
  *                         docs/sec figure; the scaling evidence runs use
  *                         a larger corpus via scripts/bench_scaling.sh)
  *   SPARK_GRAFT_AB_ROUNDS interleaved exact/LCS e2e rounds (default 3)
  *   SPARK_GRAFT_WINDOW_TRIES  clean-window probes before measuring
  *                         (default 6)
  */
object Bench {
  /** The total line's head. A crashed entry (-1) is left out of `value` and
    * named in `failed`, so a total over fewer entries never looks faster.
    */
  private[graft] def totalFields(results: Seq[(String, Double)]): String = {
    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    val total = results.map(_._2).filter(_ >= 0).sum
    f""""metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,""" +
      s""""failed":${failed.mkString("[", ",", "]")}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = EnvKnobs.positiveInt("SPARK_GRAFT_CPUS", 32)
    val families = EnvKnobs.positiveInt("SPARK_GRAFT_FAMILIES", 400000).toLong
    val abRounds = EnvKnobs.positiveInt("SPARK_GRAFT_AB_ROUNDS", 3)
    val windowTries = EnvKnobs.positiveInt("SPARK_GRAFT_WINDOW_TRIES", 6)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val tempStores = scala.collection.mutable.ArrayBuffer.empty[StageStore]
    try measure(spark, sfDir, cpus, families, abRounds, windowTries, tempStores)
    finally {
      spark.stop()
      // temp checkpoint stores: delete even when a leg fails, so bench runs
      // don't pile up multi-GB trees in /tmp (each e2e store holds the full
      // stage chain)
      tempStores.map(_.root).foreach { r =>
        def rm(p: java.nio.file.Path): Unit = {
          if (Files.isDirectory(p))
            scala.util.Using.resource(Files.list(p))(
              _.toArray.map(_.asInstanceOf[java.nio.file.Path])).foreach(rm)
          Files.deleteIfExists(p); ()
        }
        rm(java.nio.file.Paths.get(r))
      }
    }
  }

  private def measure(spark: SparkSession, sfDir: String, cpus: Int,
      families: Long, abRounds: Int, windowTries: Int,
      tempStores: scala.collection.mutable.ArrayBuffer[StageStore]): Unit = {
    def time(thunk: => Unit): Double = {
      val t0 = System.nanoTime()
      thunk
      (System.nanoTime() - t0) / 1e9
    }

    // Hypervisor-steal self-documentation: a CPU-bound sha256 burn at 1/2/
    // 4/8 threads, run INSIDE the bench so the JSON line carries the box's
    // parallel ceiling at measurement time. effective_cores_W ≈ W on an
    // idle box; a steal-capped run (effective_cores_8 ≪ 8) is then
    // distinguishable from a plan regression inside the artifact itself —
    // round-2's BENCH looked like a 26% regression until an idle-box rerun
    // showed it was tenancy noise.
    //
    // WINDOW GATE (round-4 verdict item 4): the box's two ceilings (CPU
    // steal, disk write throughput) drift independently; an official
    // artifact measured in a degraded window under-sells the code by up to
    // 1.66× with no code change. So the bench WAITS for a clean window:
    // re-probe up to SPARK_GRAFT_WINDOW_TRIES times (default 6, ~40 s
    // apart) until burn_stable && disk ≥ 420 MB/s, then measure. If no
    // clean window arrives the bench still runs — self-documented by
    // window_ok=false — because a stale artifact is worse than a flagged
    // one.
    var burn = Burn.probe()
    var diskMbs = Burn.diskWriteMBs()
    var windowAttempts = 1
    def windowOk: Boolean = burn.stable && diskMbs >= 420.0
    while (!windowOk && windowAttempts < windowTries) {
      Thread.sleep(40000)
      burn = Burn.probe()
      diskMbs = Burn.diskWriteMBs()
      windowAttempts += 1
    }
    val effCores = Seq(2, 4, 8)
      .map(w => f""""effective_cores_$w":${burn.eff(w)}%.2f""")
      .mkString(",") +
      f""","burn_r1_spread":${burn.r1Spread}%.3f,"burn_stable":${burn.stable}""" +
      f""","disk_write_mb_s":$diskMbs%.0f""" +
      s""","window_ok":$windowOk,"window_attempts":$windowAttempts"""

    // JVM/codegen warmup so the first measured query is not paying JIT cost
    spark.range(1000000).selectExpr("sum(id)").collect()

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // record INSIDE the try: a crashed query must stay -1, not be
      // overwritten by the elapsed time of its own failure
      val t0 = System.nanoTime()
      results(name) =
        try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable => -1.0 }
    }

    // end-to-end near-dup pipeline (the BASELINE.json headline metric).
    //
    // INTERLEAVED A/B (round-4 verdict item 1): exact verify and exact
    // verify + LCS rescue (useLcsCheck, off by default) alternate
    // ×SPARK_GRAFT_AB_ROUNDS within ONE process and the artifact reports
    // per-mode MEDIANS — a mode comparison from two single runs minutes
    // apart measures the box's drifting window, not the mode. Legs are
    // also emitted raw so the spread is auditable. The LCS legs price the
    // borderline text fetch + suffix-automaton join at scale; borderline
    // pairs are few on this corpus, so the expected gap is not a
    // corpus-sized term.
    val pages = DeterministicCorpus.pages(spark, CorpusSpec(nFamilies = families))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nPages = pages.count() // corpus generation outside the timed window
    def freshStore(tag: String): StageStore = {
      val s = new StageStore(spark,
        Files.createTempDirectory(s"graft-bench-$tag-").toString)
      tempStores += s
      s
    }
    def e2e(cfg: DedupConfig, tag: String): (Double, StageStore) = {
      val s = freshStore(tag)
      (time { new DedupPipeline(spark, cfg, s).run(pages).count(); () }, s)
    }
    val exactLegs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val lcsLegs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var lastExactStore: StageStore = null
    (1 to abRounds).foreach { _ =>
      val (te, se) = e2e(DedupConfig(), "exact")
      exactLegs += te
      lastExactStore = se
      lcsLegs += e2e(DedupConfig(useLcsCheck = true), "lcs")._1
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val dedupSec = median(exactLegs.toSeq)
    results("dedup_e2e") = dedupSec
    results("dedup_e2e_lcs") = median(lcsLegs.toSeq)
    val docsPerSec = nPages / dedupSec
    val store = lastExactStore // incremental entries extend the exact store

    // BPE trainer: 1000 merge rounds over the documents table — pins the
    // driver-local merge loop (one corpus scan + zero jobs/round; the
    // round-3 distributed loop priced ~10^5 scheduler round-trips at a
    // production vocab, visible here as minutes instead of seconds).
    results("bpe_train_1k") = time {
      val n = graft.text.BpeTrain.learnMerges(
        spark.read.parquet(s"$sfDir/documents.parquet"),
        org.apache.spark.sql.functions.col("text"),
        numMerges = 1000).size
      require(n > 0)
    }

    // steady-state production mode: apply a ~5% crawl delta on the SAME
    // store's checkpoints — the measurable claim is that a delta costs a
    // small fraction of the full rerun it replaces (dedup_e2e above).
    // familyOffset keeps the delta's url space disjoint from the base.
    val delta = DeterministicCorpus.pages(spark,
      CorpusSpec(nFamilies = math.max(1L, families / 20),
        familyOffset = families * 10))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDelta = delta.count()
    // one-time pkey-partitioned state-table materialization — in production
    // the BASE job's final step (tables are bucket-partitioned from day
    // one), so it's measured as its own metric, not buried in the delta
    // apply the steady-state claim is about
    results("inc_state_adoption") = time {
      new DedupPipeline(spark, DedupConfig(), store).materializeStateTables()
    }
    val incSec = time {
      new DedupPipeline(spark, DedupConfig(), store)
        .incremental("bench-delta", delta).count(); ()
    }
    results("dedup_incremental") = incSec

    def legsJson(xs: Seq[Double]): String =
      xs.map(x => f"$x%.3f").mkString("[", ",", "]")
    println(
      f"""{${totalFields(results.toSeq)},"sf":"$sfDir","dedup_pages":$nPages,"dedup_docs_per_sec":$docsPerSec%.1f,"dedup_e2e_legs":${legsJson(exactLegs.toSeq)},"dedup_e2e_lcs_legs":${legsJson(lcsLegs.toSeq)},"inc_delta_pages":$nDelta,"inc_delta_docs_per_sec":${nDelta / incSec}%.1f,"cores":$cpus,$effCores}""")
  }
}
