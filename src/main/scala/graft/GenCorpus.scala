package graft

import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.synth.DeterministicCorpus
import graft.synth.DeterministicCorpus.CorpusSpec

/** Materialize the deterministic synthetic corpus to parquet so the scaling
  * bench (scripts/bench_scaling.sh) can run the identical input at two
  * parallelism levels (BASELINE.md evidence protocol).
  *
  * Usage: GenCorpus <outDir> [nFamilies] [hotFamilySize] [seed]
  *
  * A missing `<outDir>`, a flag, a non-integer count and a fifth argument
  * are refused, naming the argument, before Spark starts.
  */
object GenCorpus {
  private val Usage = "usage: GenCorpus <outDir> [nFamilies] [hotFamilySize] [seed]"

  /** `(outDir, spec)`; an omitted count keeps the default below. */
  private[graft] def parseArgs(args: Array[String]): (String, CorpusSpec) = {
    args.find(_.startsWith("--")).foreach(f =>
      throw new IllegalArgumentException(s"unknown flag $f; $Usage"))
    require(args.nonEmpty, s"missing <outDir>; $Usage")
    require(args.length <= 4, s"unexpected argument '${args(4)}'; $Usage")
    def count[T](i: Int, name: String, parse: String => Option[T], default: T): T =
      if (args.length <= i) default
      else parse(args(i)).getOrElse(throw new IllegalArgumentException(
        s"<$name> must be an integer, got '${args(i)}'; $Usage"))
    (args(0), CorpusSpec(
      nFamilies = count(1, "nFamilies", _.toLongOption, 100000L),
      hotFamilySize = count(2, "hotFamilySize", _.toIntOption, 0),
      seed = count(3, "seed", _.toLongOption, 42L)))
  }

  def main(args: Array[String]): Unit = {
    val (outDir, spec) = parseArgs(args)
    val cpus = EnvKnobs.positiveInt("SPARK_GRAFT_CPUS", 32)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val pages = DeterministicCorpus.pages(spark, spec)
    pages.write.mode(SaveMode.Overwrite).parquet(outDir)
    val n = spark.read.parquet(outDir).count()
    println(s"""{"corpus":"$outDir","pages":$n,"families":${spec.nFamilies},"hot":${spec.hotFamilySize}}""")
    spark.stop()
  }
}
