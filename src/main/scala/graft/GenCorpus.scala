package graft

import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.synth.DeterministicCorpus
import graft.synth.DeterministicCorpus.CorpusSpec

/** Materialize the deterministic synthetic corpus to parquet so the scaling
  * bench (scripts/bench_scaling.sh) can run the identical input at two
  * parallelism levels (BASELINE.md evidence protocol).
  *
  * Usage: GenCorpus <outDir> [nFamilies] [hotFamilySize] [seed]
  */
object GenCorpus {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val nFamilies = if (args.length > 1) args(1).toLong else 100000L
    val hot = if (args.length > 2) args(2).toInt else 0
    val seed = if (args.length > 3) args(3).toLong else 42L
    val cpus = EnvKnobs.positiveInt("SPARK_GRAFT_CPUS", 32)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val pages = DeterministicCorpus.pages(spark,
      CorpusSpec(nFamilies = nFamilies, hotFamilySize = hot, seed = seed))
    pages.write.mode(SaveMode.Overwrite).parquet(outDir)
    val n = spark.read.parquet(outDir).count()
    println(s"""{"corpus":"$outDir","pages":$n,"families":$nFamilies,"hot":$hot}""")
    spark.stop()
  }
}
