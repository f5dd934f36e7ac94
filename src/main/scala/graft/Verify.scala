package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare
  * (scripts/check_oracle.py).
  *
  * Usage: Verify <sfDir> <outDir> [--only q1,q2]  (the filter is a local
  * iteration aid; the oracle compare needs the full sweep)
  *
  * A missing positional, an unknown flag, `--only` without names and an
  * `--only` name that is no query are refused, naming the argument,
  * before Spark starts.
  */
object Verify {
  private val Usage = "usage: Verify <sfDir> <outDir> [--only q1,q2]"

  /** `(sfDir, outDir, only)`, where `only` is the `--only` query subset. */
  private[graft] def parseArgs(args: Array[String]): (String, String, Option[Set[String]]) = {
    val (positional, flags) = args.toSeq.span(!_.startsWith("--"))
    require(positional.nonEmpty, s"missing <sfDir>; $Usage")
    require(positional.length >= 2, s"missing <outDir>; $Usage")
    require(positional.length == 2, s"unexpected argument '${positional(2)}'; $Usage")
    val only = flags match {
      case Seq() => None
      case Seq("--only", names, rest @ _*) if !names.startsWith("--") =>
        require(rest.isEmpty, s"unexpected argument '${rest.head}'; $Usage")
        val asked = names.split(",").filter(_.nonEmpty).toSet
        require(asked.nonEmpty, s"flag --only needs query names; $Usage")
        val unknown = asked -- SparkEntry.queries.keySet
        require(unknown.isEmpty,
          s"flag --only names no query: ${unknown.toSeq.sorted.mkString(", ")}")
        Some(asked)
      case Seq("--only", _*) => throw new IllegalArgumentException(
        s"flag --only needs query names; $Usage")
      case Seq(flag, _*) => throw new IllegalArgumentException(
        s"unknown flag $flag; $Usage")
    }
    (positional(0), positional(1), only)
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = parseArgs(args)
    val cpus = EnvKnobs.positiveInt("SPARK_GRAFT_CPUS", 4)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
