package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.dedup.{DedupConfig, DedupPipeline}
import graft.functions._
import graft.io.StageStore

/** Metric names and units, the same for every workload. */
object MetricNames {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "wall_s" -> "s",
    "docs_per_s" -> "docs/s",
    "store_mb" -> "MB",
    "peak_rss_mb" -> "MB",
    "pair_recall" -> "ratio",
    "pair_precision" -> "ratio")

  /** Spans around the calls into the dedup layer, named after the methods. */
  val Spans: Seq[String] = Seq("signatures", "exact_edges", "candidate_pairs",
    "verified_edges", "components", "clusters", "materialize_state",
    "incremental", "incremental_clusters").map("dedup." + _)

  /** The spans that together make up `run()`. */
  val RunSpans: Seq[String] = Spans.take(6)

  val SpanSuffixes: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "cpu_s" -> "s", "idle_s" -> "s", "jobs" -> "count",
    "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "gc_s" -> "s",
    "io_write_s" -> "s", "rows_out" -> "rows")

  val Kernels: Seq[String] =
    Seq("normalize_tokens", "word_shingles", "minhash_bands_sketch", "simhash64")

  val PerLayer: Seq[(String, String)] =
    (for (s <- Spans; (x, u) <- SpanSuffixes) yield s"$s.$x" -> u) ++
      Kernels.map(k => s"kernel.$k.ns_per_doc" -> "ns") ++ Seq(
        "kernel.jaccard_sorted.ns_per_pair" -> "ns",
        "dedup.candidate_pairs.pairs_per_doc" -> "ratio",
        "dedup.verified_edges.yield" -> "ratio",
        "dedup.candidate_pairs.hot_buckets" -> "count",
        "io.stage_store.files_out" -> "count",
        "dedup.span_coverage" -> "ratio",
        "trace_overhead_frac" -> "ratio")
}

/** The outcome of one benchmark run. `failures` names every operation that
  * threw or failed a check; each counts in `failed`.
  */
final case class Result(attempted: Long, failures: Seq[String],
    metrics: Seq[(String, Double, String)]) {
  def failed: Long = failures.size.toLong
  def correct: Boolean = failures.isEmpty && attempted > 0

  def json: String = {
    val ms = metrics.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}}}"""
  }
}

/** Runs one workload in an existing Spark session. Every store lives under
  * `workDir` and is deleted whether the step that made it succeeds or fails.
  *
  * An untraced run sets the corpus up, warms up with an untimed `run()`
  * of it (the process's first, which pays JIT compilation and Spark's code
  * generation), then times `run(pages)` on a fresh store for at least
  * `runSeconds` seconds, at least `minReps` times; `wall_s` is the median.
  * A traced run sets up and warms up the same way, times one `run()`, then
  * makes the traced pass. The warm-up's cluster digest must equal each
  * timed repetition's. With `digests`, it is also compared with the one an
  * earlier run of the same workload and seed recorded there, traced or not.
  */
final class DedupBench(spark: SparkSession, workDir: Path, digests: Option[Path] = None) {
  import DedupBench._

  private val cfg = DedupConfig()
  private var attempted = 0L
  private val failures = ArrayBuffer.empty[String]
  private var dirSeq = 0

  /** Run one named operation. A throw, a failed check included, counts the
    * operation as failed and lists it by name.
    */
  private def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val out = body
      log(f"$name%s done in ${seconds(t0)}%.2f s")
      Some(out)
    } catch {
      case NonFatal(e) =>
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  private def freshDir(tag: String): Path = {
    dirSeq += 1
    val d = workDir.resolve(f"$tag-$dirSeq%03d")
    deleteRecursively(d)
    d
  }

  private def pipelineAt(dir: Path): DedupPipeline =
    new DedupPipeline(spark, cfg, new StageStore(spark, dir.toString))

  /** `run(pages)` of `corpus` on a fresh store, timed and checked against
    * the ground truth. With `keep`, the store is moved there afterwards.
    */
  private def timedRun(corpus: Corpus, name: String, keep: Option[Path]): Rep = {
    val dir = freshDir(name)
    try {
      val (clusters, wallS) = timed(pipelineAt(dir).run(corpus.pages))
      val storeMb = dirBytes(dir) / 1e6
      val (q, digest) = Quality.of(clusters, corpus.truth, corpus.nPages)
      Checks.ensure(q.recall >= Checks.MinRecall, s"pair recall ${q.recall}")
      keep.foreach(Files.move(dir, _))
      log(f"$name wall $wallS%.2f s, ${corpus.nPages} docs")
      Rep(wallS, corpus.nPages, storeMb, q, digest)
    } finally deleteRecursively(dir)
  }

  /** Set the workload up: generate and cache its corpus `samples` times,
    * one after the other, dropping each but the last before the next, then
    * warm the JVM and Spark's code generation up with an untimed `run()` of
    * that corpus, checked like a timed one (with `keep`, its store is moved
    * there). `setup_s` is the median corpus set-up plus the warm-up.
    */
  private def setUp(w: Workload, samples: Int, keep: Option[Path]): Option[Setup] = {
    var corpus = Option.empty[Corpus]
    val out = op("setup") {
      val setupS = ArrayBuffer.empty[Double]
      for (_ <- 1 to samples) {
        corpus.foreach(_.unpersist())
        corpus = None
        val (c, s) = timed(Corpus.generate(spark, w.base))
        corpus = Some(c)
        setupS += s
      }
      log(s"corpus set up in ${setupS.map(s => f"$s%.2f").mkString(", ")} s")
      val (warm, warmS) = timed(timedRun(corpus.get, "warmup", keep))
      Setup(corpus.get, warm, median(setupS.toSeq) + warmS)
    }
    if (out.isEmpty) corpus.foreach(_.unpersist())
    out
  }

  /** Check that the repetitions' cluster digests agree with each other and
    * with the digest an earlier run of this workload and seed recorded, then
    * record it. Counts as an operation only when there is something to
    * compare.
    */
  private def checkDigests(w: Workload, reps: Seq[Rep]): Unit = {
    val file = digests.map(_.resolve(s"${w.name}-seed${w.base.seed}.digest"))
    val earlier = file.filter(Files.exists(_)).map(f => Files.readString(f).trim)
    val seen = reps.map(_.digest.toString) ++ earlier
    if (seen.size > 1) op("digest_stable") {
      Checks.ensure(seen.distinct.size == 1,
        s"cluster digests differ across repetitions and earlier runs: ${seen.distinct}")
    }
    if (earlier.isEmpty) file.foreach { f =>
      Files.createDirectories(f.getParent)
      val tmp = f.resolveSibling(f.getFileName.toString + s".${ProcessHandle.current.pid}")
      Files.writeString(tmp, reps.head.digest.toString + "\n")
      Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE)
    }
  }

  // ─────────────────────────── the run ───────────────────────────

  /** Measure `w` (already seeded). With `trace`, run the traced run and
    * report the per-layer metrics instead of the end-to-end ones.
    */
  def run(w: Workload, runSeconds: Int, trace: Boolean,
      traceOut: Option[Path]): Result = {
    val metrics = if (trace) tracedRun(w, traceOut) else untracedRun(w, runSeconds)
    Result(attempted, failures.toSeq, metrics)
  }

  private def untracedRun(w: Workload, runSeconds: Int): Seq[(String, Double, String)] =
    setUp(w, SetupSamples, None).toSeq.flatMap { set =>
      try {
        val reps = ArrayBuffer.empty[Rep]
        val m0 = System.nanoTime()
        var i = 0
        while (i < w.minReps || seconds(m0) < runSeconds) {
          op(s"rep$i")(timedRun(set.corpus, s"rep$i", None)).foreach(reps += _)
          i += 1
        }
        if (reps.isEmpty) Nil
        else {
          checkDigests(w, set.warmup +: reps.toSeq)
          endToEnd(set.setupS, reps.toSeq)
        }
      } finally set.corpus.unpersist()
    }

  private def endToEnd(setupS: Double, reps: Seq[Rep]): Seq[(String, Double, String)] = {
    val values = Map(
      "setup_s" -> setupS,
      "wall_s" -> median(reps.map(_.wallS)),
      "docs_per_s" -> median(reps.map(r => r.docs / r.wallS)),
      "store_mb" -> median(reps.map(_.storeMb)),
      "peak_rss_mb" -> peakRssMb(),
      "pair_recall" -> median(reps.map(_.quality.recall)),
      "pair_precision" -> median(reps.map(_.quality.precision)))
    MetricNames.EndToEnd.map { case (n, u) => (n, values(n), u) }
  }

  // ─────────────────────────── traced run ───────────────────────────

  /** The traced run. It sets the corpus A up once as an untraced run
    * does; the warm-up's store is the one state adoption reads. It then
    * times one untraced `run()` of A, warm as the untraced run's
    * repetitions are: its `wall_s` is the base of `dedup.span_coverage`.
    * If the workload has a delta B, it sets B and A ∪ B up. The traced pass
    * follows; with a delta it runs over A ∪ B, and its clusters are those
    * the incremental view must equal.
    */
  private def tracedRun(w: Workload, traceOut: Option[Path]): Seq[(String, Double, String)] = {
    val runStore = freshDir("run-store")
    var delta = Option.empty[Corpus]
    var all = Option.empty[Corpus]
    try setUp(w, 1, Some(runStore)).toSeq.flatMap { set =>
      try {
        val base = set.corpus
        op("rep0")(timedRun(base, "rep0", None)).toSeq.flatMap { r =>
          checkDigests(w, Seq(set.warmup, r))
          val ready = w.delta.isEmpty || op("setup_delta") {
            delta = w.delta.map(Corpus.delta(spark, base, _))
            all = delta.map(Corpus.union(base, _))
          }.isDefined
          if (ready) traced(all.getOrElse(base), delta, r, runStore, traceOut).getOrElse(Nil)
          else Nil
        }
      } finally (Seq(set.corpus) ++ delta ++ all).foreach(_.unpersist())
    } finally deleteRecursively(runStore)
  }

  /** Spans that call into the dedup layer, and the stages each created, so
    * the stage manifests can be read back per span.
    */
  private final class Traced(val tracer: Tracer) {
    val newStages = LinkedHashMap.empty[String, (StageStore, Seq[String])]

    def stage[T](name: String, store: StageStore)(body: => T): T = {
      val before = store.stages("").toSet
      val out = tracer.span(name)(body)
      newStages(name) = (store, store.stages("").filterNot(before).sorted)
      out
    }
  }

  /** The traced pass over `c`, after the untraced `run()` `r`:
    *   - the six stages called one at a time on a fresh store; each
    *     materializes through `StageStore.getOrCompute`, so its span holds
    *     the stage's full cost. Without a delta `c` is `r`'s corpus and the
    *     clusters must equal `r`'s; with one, `c` is A ∪ B;
    *   - state adoption on `runStore`, the store `r` built (a store written
    *     by single stage calls carries no pipeline config, and adoption
    *     refuses such a store);
    *   - with a delta, `incremental()` on that store;
    *   - the merge-on-read view, which must equal the per-stage clusters:
    *     with a delta, that is the equivalence contract, run(A) +
    *     incremental(B) equals run(A ∪ B);
    *   - the kernels over the pass's own text and candidate pairs.
    */
  private def traced(c: Corpus, delta: Option[Corpus], r: Rep, runStore: Path,
      traceOut: Option[Path]): Option[Seq[(String, Double, String)]] = {
    val sc = spark.sparkContext
    val t = new Traced(new Tracer(sc, java.util.UUID.randomUUID().toString))
    val layer = LinkedHashMap.empty[String, Double]
    val dir = freshDir("traced")
    sc.addSparkListener(t.tracer)
    try op("traced") {
      val pages = c.pages
      val s = new StageStore(spark, dir.toString)
      val p = new DedupPipeline(spark, cfg, s)
      val clusters = t.tracer.span(OpSpan) {
        val sigs = t.stage("dedup.signatures", s)(p.signatures(pages))
        val exact = t.stage("dedup.exact_edges", s)(p.exactEdges(sigs))
        val pairs = t.stage("dedup.candidate_pairs", s)(p.candidatePairs(sigs, exact))
        val verified = t.stage("dedup.verified_edges", s)(p.verifiedEdges(sigs, pairs, Some(pages)))
        val comps = t.stage("dedup.components", s)(p.components(exact, verified))
        t.stage("dedup.clusters", s)(p.clusters(sigs, comps))
      }
      t.tracer.drain()
      val listenerS = t.tracer.busyS
      val perStage = Digest.of(clusters)
      if (delta.isEmpty) Checks.ensure(perStage == r.digest,
        s"per-stage clusters $perStage differ from run() clusters ${r.digest}")

      val b = new StageStore(spark, runStore.toString)
      val pb = new DedupPipeline(spark, cfg, b)
      t.stage("dedup.materialize_state", b)(pb.materializeStateTables())
      delta.foreach(d => t.stage("dedup.incremental", b)(pb.incremental(DeltaBatch, d.pages)))
      val view = t.stage("dedup.incremental_clusters", b)(Digest.of(pb.incrementalClusters()))
      Checks.ensure(view == perStage,
        s"merge-on-read view $view differs from the clusters of " +
          s"${if (delta.isEmpty) "A" else "A ∪ B"} $perStage")

      t.tracer.drain()
      stageMetrics(t, layer)
      layer("dedup.incremental_clusters.rows_out") = view.rows.toDouble
      layer("dedup.candidate_pairs.hot_buckets") = p.hotBuckets.value.toDouble
      val cand = rowsOf(s, Seq("candidate_pairs"))
      layer("dedup.candidate_pairs.pairs_per_doc") = cand.toDouble / c.nPages
      layer("dedup.verified_edges.yield") = ratio(rowsOf(s, Seq("verified_edges")), cand)
      kernels(t.tracer, pages.toDF(), c.nPages, signatureShingles(s), s.read("candidate_pairs"), layer)

      val spans = t.tracer.spans.map(sp => sp.name -> sp.wallNs / 1e9).toMap
      layer("dedup.span_coverage") = MetricNames.RunSpans.map(spans).sum / r.wallS
      layer("trace_overhead_frac") = listenerS / spans(OpSpan)
      traceOut.foreach { out =>
        Files.createDirectories(out.toAbsolutePath.getParent)
        Files.writeString(out, t.tracer.toJson)
      }
      MetricNames.PerLayer.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) }
    } finally {
      sc.removeSparkListener(t.tracer)
      deleteRecursively(dir)
    }
  }

  /** Per-span suffix metrics: task costs from the listener, write time and
    * output rows from the manifests of the stages the span created.
    */
  private def stageMetrics(t: Traced, layer: LinkedHashMap[String, Double]): Unit = {
    layer("io.stage_store.files_out") = t.newStages.values.toSeq.map { case (store, stages) =>
      stages.map(st => manifestOf(store, st).files).sum
    }.sum.toDouble
    t.tracer.spans.filter(s => MetricNames.Spans.contains(s.name)).foreach { s =>
      val c = t.tracer.cost(s)
      val (store, stages) = t.newStages(s.name)
      val m = Map(
        "wall_s" -> s.wallNs / 1e9,
        "cpu_s" -> c.cpuS,
        "idle_s" -> c.idleS,
        "jobs" -> c.jobs.toDouble,
        "shuffle_write_mb" -> c.shuffleWriteMb,
        "spill_mb" -> c.spillMb,
        "gc_s" -> c.gcS,
        "io_write_s" -> stages.map(st => manifestOf(store, st).wallMs).sum / 1e3,
        "rows_out" -> rowsOf(store, stages.filter(outputOf(s.name))).toDouble)
      m.foreach { case (k, v) => layer(s"${s.name}.$k") = v }
    }
  }

  /** Signature shingles of every signature chunk in `store`. */
  private def signatureShingles(store: StageStore): DataFrame =
    store.stages("signatures").map(st => store.read(st).select("id", "shingles"))
      .reduce(_ union _)

  /** Kernel cost per document (per pair for Jaccard) from executor CPU:
    * the median CPU of three jobs that evaluate the kernel over a cached
    * input minus the CPU of a job that only scans that input.
    * The document kernels run over a url-hashed sample of about
    * `KernelDocs` of the `nPages` pages.
    */
  private def kernels(tracer: Tracer, pages: DataFrame, nPages: Long, shingleSide: DataFrame,
      pairs: DataFrame, layer: LinkedHashMap[String, Double]): Unit = {
    val level = StorageLevel.MEMORY_ONLY
    val every = math.max(1L, nPages / KernelDocs)
    val text = pages.filter(pmod(xxhash64(col("url")), lit(every)) === 0)
      .select(col("text")).persist(level)
    val norm = text.select(normalize_tokens(col("text")).as("t")).persist(level)
    val sh = norm.select(word_shingles(col("t"), cfg.shingleK, cfg.seed).as("s"))
      .persist(level)
    val pairSh = pairs.select("a", "b")
      .join(shingleSide.withColumnsRenamed(Map("id" -> "a", "shingles" -> "sa")), "a")
      .join(shingleSide.withColumnsRenamed(Map("id" -> "b", "shingles" -> "sb")), "b")
      .select("sa", "sb").persist(level)
    val cached = Seq(text, norm, sh, pairSh)
    try {
      val counts = cached.map(_.count())
      val (nDocs, nPairs) = (counts.head, counts.last)
      var seq = 0
      def cpu(name: String, df: DataFrame, agg: Column): Double = {
        seq += 1
        val span = s"kernel.$name.$seq"
        tracer.span(span)(df.agg(agg).collect())
        tracer.drain()
        tracer.cost(tracer.spans.find(_.name == span).get).cpuS
      }
      def nsPer(n: Long, name: String, df: DataFrame, kernel: Column, scan: Column): Double =
        if (n == 0) 0.0
        else (median((1 to 3).map(_ => cpu(name, df, kernel))) - cpu(s"$name.scan", df, scan)) *
          1e9 / n
      layer("kernel.normalize_tokens.ns_per_doc") = nsPer(nDocs, "normalize_tokens", text,
        sum(length(normalize_tokens(col("text")))), sum(length(col("text"))))
      layer("kernel.word_shingles.ns_per_doc") = nsPer(nDocs, "word_shingles", norm,
        sum(size(word_shingles(col("t"), cfg.shingleK, cfg.seed))), sum(length(col("t"))))
      layer("kernel.minhash_bands_sketch.ns_per_doc") = nsPer(nDocs, "minhash_bands_sketch", sh,
        sum(size(minhash_bands_sketch(col("s"), cfg.bands, cfg.rows, SketchBits, cfg.seed)
          .getField("bands"))), sum(size(col("s"))))
      layer("kernel.simhash64.ns_per_doc") = nsPer(nDocs, "simhash64", sh,
        bit_xor(simhash64(col("s"))), bit_xor(size(col("s")).cast("long")))
      layer("kernel.jaccard_sorted.ns_per_pair") = nsPer(nPairs, "jaccard_sorted", pairSh,
        sum(jaccard_sorted(col("sa"), col("sb"))), sum(size(col("sa")) + size(col("sb"))))
    } finally cached.foreach(_.unpersist(blocking = true))
  }

  /** The stages whose rows a span reports as `rows_out`. */
  private def outputOf(span: String): String => Boolean = span match {
    case "dedup.signatures" => _.startsWith("signatures_chunk")
    case "dedup.materialize_state" => _.endsWith("_state_base")
    case "dedup.incremental" => _ == s"inc_${DeltaBatch}_cluster_state"
    case s => _ == s.stripPrefix("dedup.")
  }

  private val manifests = LinkedHashMap.empty[(String, String), Manifest]

  /** A completed stage's manifest (read once): its write time and the
    * (rows, files) of its partitions, as `lineage()` reports them.
    */
  private def manifestOf(store: StageStore, stage: String): Manifest =
    manifests.getOrElseUpdate((store.root, stage),
      Manifest.parse(Files.readString(Paths.get(store.root, stage, "_MANIFEST.json"))))

  private def rowsOf(store: StageStore, stages: Seq[String]): Long =
    stages.map(st => manifestOf(store, st).rows).sum
}

object DedupBench {
  /** Batch id of the delta the traced run applies. */
  val DeltaBatch = "d1"

  /** b of the prefilter sketch `signatures` derives from its MinHash pass. */
  val SketchBits = 4

  /** The root span of the traced pass over the timed operation. */
  val OpSpan = "bench.op"

  /** Corpus set-ups per untraced run; their median is part of `setup_s`. */
  val SetupSamples = 3

  /** About this many pages feed the document kernels' measurement. */
  val KernelDocs = 16000L

  /** What a stage manifest records: write time, and rows and files over
    * its partitions.
    */
  final case class Manifest(wallMs: Long, rows: Long, files: Long)

  object Manifest {
    def parse(json: String): Manifest = {
      import org.json4s._
      implicit val formats: Formats = DefaultFormats
      val m = org.json4s.jackson.JsonMethods.parse(json)
      val parts = (m \ "partitions").children
      Manifest((m \ "wall_ms").extract[Long], parts.map(p => (p \ "rows").extract[Long]).sum,
        parts.size.toLong)
    }
  }

  /** A set-up workload: its cached corpus, the warm-up `run()` and
    * `setup_s`.
    */
  final case class Setup(corpus: Corpus, warmup: Rep, setupS: Double)

  /** One timed repetition's measurements. */
  final case class Rep(wallS: Double, docs: Long,
      storeMb: Double, quality: Quality, digest: Digest)

  /** Seconds since the JVM started. */
  def uptime: Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def log(msg: String): Unit = System.err.println(f"dedupbench [$uptime%.1f s]: $msg")

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, seconds(t0))
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def ratio(a: Long, b: Long): Double = if (b == 0) 0.0 else a.toDouble / b

  /** The process's peak resident set (VmHWM). */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toLong / 1024.0
  }

  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else scala.util.Using.resource(Files.walk(dir)) { s =>
      s.filter(p => Files.isRegularFile(p)).mapToLong(p => Files.size(p)).sum()
    }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      if (Files.isDirectory(p))
        scala.util.Using.resource(Files.list(p))(_.toArray.map(_.asInstanceOf[Path]))
          .foreach(deleteRecursively)
      Files.deleteIfExists(p)
    }

  /** The session the benchmark measures in: the settings of `DedupMain`. */
  def session(cores: Int, workDir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("dedupbench")
      .config("spark.sql.shuffle.partitions", cores * 4)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The parsed command line. dedupbench/run.py, the benchmark's entry
    * point, validates the values; this only parses them.
    */
  final case class Args(workload: Workload, seconds: Int, trace: Boolean,
      cores: Int, workDir: Path, result: Path, traceOut: Option[Path],
      digests: Option[Path])

  val Usage: String =
    "usage: DedupBench --workload <" + Workloads.all.map(_.name).mkString("|") +
      "> --seed <n> --seconds <n> --trace <0|1> --cores <n> --work <dir> " +
      "--result <file> [--trace-out <file>] [--digests <dir>]"

  def parseArgs(args: Array[String]): Either[String, Args] = {
    val kv = args.grouped(2).map(a => a(0) -> a.lift(1).getOrElse("")).toMap
    def get(k: String): Either[String, String] = kv.get(k).toRight(s"missing $k")
    def int(k: String): Either[String, Long] =
      get(k).flatMap(v => v.toLongOption.toRight(s"$k takes an integer, got '$v'"))
    for {
      _ <- Either.cond(args.length % 2 == 0, (), "every option takes one value")
      w <- get("--workload").flatMap(n => Workloads.byName(n).toRight(s"unknown workload '$n'"))
      seed <- int("--seed")
      secs <- int("--seconds")
      tr <- int("--trace")
      cores <- int("--cores")
      work <- get("--work")
      result <- get("--result")
    } yield Args(w.seeded(seed), secs.toInt, tr == 1, cores.toInt, Paths.get(work),
      Paths.get(result), kv.get("--trace-out").map(Paths.get(_)),
      kv.get("--digests").map(Paths.get(_)))
  }.left.map(m => s"$m\n$Usage")

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv) match {
      case Right(a) => a
      case Left(msg) =>
        System.err.println(msg)
        sys.exit(2)
    }
    Files.createDirectories(a.workDir)
    val result =
      try {
        val spark = session(a.cores, a.workDir)
        log("session ready")
        try new DedupBench(spark, a.workDir.resolve("stores"), a.digests).run(
          a.workload, a.seconds, a.trace, a.traceOut)
        finally spark.stop()
      } finally deleteRecursively(a.workDir)
    result.failures.foreach(f => log(s"FAILED $f"))
    log("done")
    Files.writeString(a.result, result.json + "\n")
    sys.exit(if (result.correct) 0 else 1)
  }
}
