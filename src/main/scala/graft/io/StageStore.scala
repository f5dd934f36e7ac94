package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Checkpointed stage storage with per-partition lineage + metrics
  * (SURVEY.md §7.3; resumability requirement in BASELINE.json.north_rule).
  *
  * Sandbox backend: a parquet directory per stage plus an atomically-renamed
  * `_MANIFEST.json` (write data → write manifest to temp → rename). A stage
  * is complete iff its manifest exists, so a job killed mid-write never
  * half-reads a stage. In production this maps 1:1 onto Iceberg tables
  * (atomic snapshot commit replaces the manifest rename; per-partition
  * lineage rows live in a `checkpoints` table) — no Iceberg runtime jar
  * ships in this sandbox (verified, SURVEY.md §7.5), hence the parquet-dir
  * emulation behind the same interface.
  *
  * Schema record: every commit also writes the stage's schema as
  * `_SCHEMA.json` (the Iceberg table-schema analog), and every read opens
  * the stage under it, so reading a stage back — including the re-read
  * `write` returns — submits no Spark job: Spark infers a parquet schema
  * with a one-task footer-reading job per read. A file source treats a
  * given schema as nullable, so the read-back schema is the one inference
  * would return. Stages written before the record existed have none and
  * fall back to inference. `read(stages)` opens several stages as ONE
  * parquet relation under their schemas merged by name (the columns of
  * `unionByName(allowMissingColumns = true)`), so Spark packs their small
  * files into shared splits instead of scanning each stage separately.
  *
  * Lineage: the manifest records (stage, file, rows, bytes, wall_ms,
  * status), rows from each file's parquet footer. `lineage()` exposes them
  * as a DataFrame for the metrics suite.
  */
final class StageStore(spark: SparkSession, val root: String) {

  private def stageDir(stage: String): Path = Paths.get(root, stage)
  private def manifestPath(stage: String): Path = stageDir(stage).resolve("_MANIFEST.json")

  def has(stage: String): Boolean = Files.exists(manifestPath(stage))

  def read(stage: String): DataFrame = read(Seq(stage))

  /** Completed `stages` as one parquet relation, under their schemas merged
    * by name: a column missing from some stage reads as null there.
    */
  def read(stages: Seq[String]): DataFrame = {
    stages.foreach(st =>
      require(has(st), s"stage '$st' has no complete checkpoint under $root"))
    val merged = stages.map(schemaOf).reduce((a, b) =>
      StructType(a.fields ++ b.fields.filterNot(f => a.fieldNames.contains(f.name))))
    spark.read.schema(merged).parquet(stages.map(stageDir(_).toString): _*)
  }

  /** A completed stage's recorded schema; a stage written before the
    * record existed falls back to parquet schema inference.
    */
  private def schemaOf(stage: String): StructType = {
    val p = stageDir(stage).resolve("_SCHEMA.json")
    if (Files.exists(p)) DataType.fromJson(Files.readString(p)).asInstanceOf[StructType]
    else spark.read.parquet(stageDir(stage).toString).schema
  }

  /** Write `df` as the checkpoint for `stage` and return the re-read (so
    * downstream plans read the materialized table instead of recomputing
    * the producing plan — this is also what cuts union-find lineage; the
    * re-read is under the recorded schema, so it submits no job).
    */
  def write(stage: String, df: DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    val dir = stageDir(stage)
    // clean partial output from a previous killed run (no manifest ⇒ junk)
    if (Files.exists(dir) && !has(stage)) deleteRecursively(dir)
    df.write.mode("overwrite").parquet(dir.toString)
    commit(stage, (System.nanoTime() - t0) / 1000000, parquetFilesUnder(dir), df.schema)
    read(stage)
  }

  /** Compute-or-read: the resume primitive. A completed stage is never
    * recomputed (`thunk` not invoked).
    */
  def getOrCompute(stage: String)(thunk: => DataFrame): DataFrame =
    if (has(stage)) read(stage) else write(stage, thunk)

  // ──────────── pkey-partitioned stages (incremental state tables) ────────────

  /** Write `df` — which must carry an int `pkey` column — as a
    * DIRECTORY-PARTITIONED stage (`<stage>/pkey=N/part-*.parquet`), so later
    * reads filtered on `pkey` are partition-PRUNED scans (the delta-
    * proportional read path of the incremental pipeline; the production
    * mapping is an Iceberg bucket-transform partition spec).
    *
    * Layered-state supersession is NOT directory-based: merge-on-read
    * readers resolve latest-wins per key via the layer sequence + tombstone
    * columns ([[graft.dedup.DedupPipeline]] `resolveState`), so an empty
    * partition in a newer layer simply contributes nothing. The manifest's
    * `pkeys` list is lineage metadata (which partitions this layer wrote),
    * not an ownership contract.
    */
  def writePartitioned(stage: String, df: DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    val dir = stageDir(stage)
    if (Files.exists(dir) && !has(stage)) deleteRecursively(dir)
    // cluster rows by pkey BEFORE the partitioned write (Iceberg's
    // write.distribution-mode=hash): without it every upstream task writes
    // a file into every pkey directory — N_tasks × N_pkeys tiny files per
    // layer — and every later pruned read pays thousands of footer opens
    // (measured: a 640k-page store's state adoption wrote ~1,500 files per
    // table and a 32k-page delta apply spent most of its wall time opening
    // them). One shuffle of the layer being written (delta-sized for
    // batches, corpus-sized only at adoption/compaction) buys one file per
    // partition directory.
    df.repartition(col("pkey"))
      .write.mode("overwrite").partitionBy("pkey").parquet(dir.toString)
    // the record puts pkey last, where partition discovery puts it, so a
    // stage whose every owned partition came out EMPTY (legitimate — e.g. a
    // base corpus with no duplicate edges leaves the component state empty)
    // has no pkey=N directory to discover, yet reads back the same columns
    commit(stage, (System.nanoTime() - t0) / 1000000, parquetFilesUnder(dir),
      StructType(df.schema.filterNot(_.name == "pkey") :+ df.schema("pkey")),
      s""""pkeys":[${partitionValues(dir, "pkey").distinct.sorted.mkString(",")}]""")
    read(stage)
  }

  /** Mark `stage` complete: its `schema` record, then a manifest recording
    * each data file's rows (from its parquet footer — metadata only, no
    * second scan of the stage data) and bytes, written to a temp file and
    * atomically renamed into place. `wallMs` is the data write's time;
    * `extra` adds JSON fields.
    */
  private def commit(stage: String, wallMs: Long, files: Seq[Path],
                     schema: StructType, extra: String*): Unit = {
    val dir = stageDir(stage)
    Files.writeString(dir.resolve("_SCHEMA.json"), schema.json)
    // the session's Hadoop conf, passed to the footer read: reader options
    // built without one construct a fresh `Configuration` per file, which
    // re-parses its XML resources each time
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val readOptions = HadoopReadOptions.builder(hadoopConf).build()
    val entries = files.map { f =>
      val rows =
        try {
          val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toUri), hadoopConf)
          scala.util.Using.resource(in.newStream())(stream =>
            ParquetFileReader.readFooter(in, readOptions, stream).getBlocks.asScala
              .map(_.getRowCount).sum)
        } catch { case NonFatal(_) => -1L }
      s"""{"file":"${dir.relativize(f)}","rows":$rows,"bytes":${Files.size(f)}}"""
    }
    val fields = Seq(s""""stage":"$stage","status":"complete","wall_ms":$wallMs""") ++
      extra :+ s""""partitions":[${entries.mkString(",")}]"""
    val tmp = dir.resolve("_MANIFEST.json.tmp")
    Files.writeString(tmp, fields.mkString("{", ",\n", "}"))
    Files.move(tmp, manifestPath(stage), StandardCopyOption.ATOMIC_MOVE)
  }

  def getOrComputePartitioned(stage: String)(thunk: => DataFrame): DataFrame =
    if (has(stage)) read(stage)
    else writePartitioned(stage, thunk)

  // ──────────── chunked stages (one job, several checkpoints) ────────────

  /** Write `df` — which must carry an int `chunk` column whose every value
    * is a key of `stages` — as one stage per chunk in ONE job: `stages(i)`
    * holds the rows with `chunk == i`. The job writes
    * `partitionBy("chunk")` into [[StageStore.StagingDir]] under the root;
    * each `chunk=i` directory is then renamed into place as `stages(i)`
    * and committed as [[write]] commits, its schema record without
    * `chunk`. A chunk with no rows gets no directory from the job and
    * commits as a zero-file stage that reads back as zero rows.
    *
    * Each manifest's `wall_ms` is the chunk's share of the job's write
    * time, apportioned by bytes written (evenly when nothing was written),
    * so the chunks sum to the job's time.
    *
    * Granularity: a kill during the job loses every chunk it was writing;
    * a kill between commits loses only the uncommitted ones. Whatever a
    * killed or failed call leaves in the staging directory is never listed
    * as a stage and is removed by the next call (or on failure).
    */
  def writeChunks(stages: Map[Int, String], df: DataFrame): Unit = {
    require(stages.nonEmpty, "no chunk to write")
    stages.values.foreach(st => require(!has(st), s"stage '$st' is already complete"))
    val t0 = System.nanoTime()
    val staging = Paths.get(root, StageStore.StagingDir)
    (stages.values.map(stageDir) ++ Seq(staging)).filter(Files.exists(_))
      .foreach(deleteRecursively)
    try {
      df.write.mode("overwrite").partitionBy("chunk").parquet(staging.toString)
      val wallMs = (System.nanoTime() - t0) / 1000000
      val stray = partitionValues(staging, "chunk").filterNot(stages.contains)
      require(stray.isEmpty, s"rows of chunks ${stray.sorted.mkString(", ")} have no stage")
      val chunks = stages.keys.toSeq.sorted
      val weights = chunks.map(i =>
        parquetFilesUnder(staging.resolve(s"chunk=$i")).map(Files.size).sum)
      val cum = (if (weights.sum > 0) weights else weights.map(_ => 1L)).scanLeft(0L)(_ + _)
      val ends = cum.map(b => math.round(wallMs.toDouble * b / cum.last))
      val schema = StructType(df.schema.filterNot(_.name == "chunk"))
      chunks.zipWithIndex.foreach { case (i, k) =>
        val (src, dst) = (staging.resolve(s"chunk=$i"), stageDir(stages(i)))
        if (Files.exists(src)) Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
        else Files.createDirectories(dst)
        commit(stages(i), ends(k + 1) - ends(k), parquetFilesUnder(dst), schema)
      }
    } finally if (Files.exists(staging)) deleteRecursively(staging)
  }

  /** The values of the `<column>=N` partition directories directly under `dir`. */
  private def partitionValues(dir: Path, column: String): Seq[Int] =
    if (!Files.exists(dir)) Nil
    else scala.util.Using.resource(Files.list(dir))(
      _.toArray.map(_.asInstanceOf[Path]))
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(s"$column="))
      .map(_.getFileName.toString.stripPrefix(s"$column=").toInt).toSeq

  private def parquetFilesUnder(dir: Path): Seq[Path] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Path]
    def walk(p: Path): Unit =
      if (Files.isDirectory(p))
        scala.util.Using.resource(Files.list(p))(
          _.toArray.map(_.asInstanceOf[Path])).foreach(walk)
      else if (p.getFileName.toString.endsWith(".parquet")) out += p
    walk(dir)
    out.toSeq
  }

  /** Per-partition lineage rows of a completed stage. */
  def lineage(stage: String): DataFrame = {
    val json = Files.readString(manifestPath(stage))
    import spark.implicits._
    spark.read.schema(StageStore.ManifestSchema).json(Seq(json).toDS)
      .select(col("stage"), col("status"), col("wall_ms"),
        explode(col("partitions")).as("p"))
      .select(col("stage"), col("status"), col("wall_ms"),
        col("p.file"), col("p.rows"), col("p.bytes"))
  }

  /** Tiny durable markers (atomically-renamed files under the store root)
    * for invariants that are CHECKED rather than materialized — e.g. "the
    * signature stage's id uniqueness was verified". Without one, a check
    * that runs after its stage's write commits is lost to a crash in
    * between: the rerun sees the stage complete and skips the check. The
    * caller drops the marker whenever it invalidates the stages the marker
    * vouches for. Production mapping: a snapshot property on the Iceberg
    * checkpoint table.
    */
  def marked(name: String): Boolean = Files.exists(markerPath(name))

  def mark(name: String, value: String = "ok"): Unit = {
    Files.createDirectories(Paths.get(root))
    val tmp = Paths.get(root, s"_MARKER_$name.tmp")
    Files.writeString(tmp, value)
    Files.move(tmp, markerPath(name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** The value a marker was written with (None when unset). */
  def markerValue(name: String): Option[String] =
    if (marked(name)) Some(Files.readString(markerPath(name))) else None

  def unmark(name: String): Unit = Files.deleteIfExists(markerPath(name))

  private def markerPath(name: String): Path = Paths.get(root, s"_MARKER_$name")

  def invalidate(stage: String): Unit = {
    val dir = stageDir(stage)
    if (Files.exists(dir)) deleteRecursively(dir)
  }

  /** Names of completed stages under this store whose name starts with
    * `prefix` (manifest present ⇒ complete). Lets callers discover persisted
    * work (e.g. durable union-find rounds) without knowing how many were
    * written.
    */
  def stages(prefix: String): Seq[String] = {
    val rootPath = Paths.get(root)
    if (!Files.exists(rootPath)) Nil
    else scala.util.Using.resource(Files.list(rootPath))(
      _.toArray.map(_.asInstanceOf[Path]))
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith(prefix) &&
        Files.exists(p.resolve("_MANIFEST.json")))
      .map(_.getFileName.toString).toSeq
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      scala.util.Using.resource(Files.list(p))(
        _.toArray.map(_.asInstanceOf[Path])).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}

object StageStore {
  /** The directory under the root where [[StageStore.writeChunks]] writes
    * before its chunks are renamed into place; it never holds a manifest.
    */
  private[graft] val StagingDir = "_staging"

  /** The manifest fields `lineage` reads — given, so the read infers nothing. */
  private val ManifestSchema = "stage STRING, status STRING, wall_ms BIGINT, " +
    "partitions ARRAY<STRUCT<file: STRING, rows: BIGINT, bytes: BIGINT>>"
}
