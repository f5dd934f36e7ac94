package graft

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.ConnectedComponents
import graft.io.StageStore

/** The driver-side union-find and the distributed star fixpoint must return
  * the same `(id, component)` rows with the same schema on every graph
  * shape: the min-id label contract does not depend on the algorithm.
  */
class ConnectedComponentsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def solve(edges: DataFrame, localSolveMaxEdges: Int): DataFrame =
    ConnectedComponents.run(edges, maxIterations = 50, durable = None,
      durablePrefix = "cc", localSolveMaxEdges = localSolveMaxEdges)

  private def assertPathsAgree(edges: DataFrame): Unit = {
    val local = solve(edges, ConnectedComponents.LocalSolveMaxEdges)
    val star = solve(edges, 0)
    assert(local.schema === star.schema)
    assert(local.orderBy("id").collect().toSeq === star.orderBy("id").collect().toSeq)
  }

  /** `m` random undirected edges over `n` random signed long ids, with
    * repeats, both orientations and self-loops.
    */
  private def randomEdges(seed: Long, n: Int, m: Int): Seq[(Long, Long)] = {
    val rnd = new Random(seed)
    val ids = Array.fill(n)(rnd.nextLong())
    Seq.fill(m)((ids(rnd.nextInt(n)), ids(rnd.nextInt(n))))
  }

  test("local and star paths agree: chains, triangle, pair, self-loop") {
    import spark.implicits._
    assertPathsAgree(Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L), (30L, 30L)).toDF("a", "b"))
  }

  test("local and star paths agree: 200-node path") {
    assertPathsAgree(
      spark.range(0, 199).select(col("id").as("a"), (col("id") + 1).as("b")))
  }

  test("local and star paths agree: id-sorted chain overlaid with shuffled chains") {
    import spark.implicits._
    // the hot-bucket shape: one id-ordered chain over a hot family plus one
    // chain per band over a shuffled subset of it
    val n = 2000
    val rnd = new Random(7)
    val sorted = (0 until n - 1).map(i => (i.toLong, i + 1L))
    val overlays = (1 to 16).flatMap { _ =>
      val subset = rnd.shuffle((0 until n).toList).take(n / 4).map(_.toLong)
      subset.zip(subset.tail)
    }
    assertPathsAgree((sorted ++ overlays).toDF("a", "b"))
  }

  test("local and star paths agree: random graphs, signed ids") {
    import spark.implicits._
    Seq(1L, 2L, 3L).foreach(seed => assertPathsAgree(randomEdges(seed, 300, 250).toDF("a", "b")))
  }

  test("local and star paths agree: narrow int ids are coerced alike") {
    import spark.implicits._
    assertPathsAgree(Seq((3, 1), (1, 2), (7, 8)).toDF("a", "b"))
  }

  test("local and star paths agree: 128-bit struct ids ordered field-wise") {
    import spark.implicits._
    // h1 in {-1, 0, 1} so components span several high words and the
    // signed field-wise order decides every min
    val rnd = new Random(11)
    val h1 = scala.collection.mutable.Map.empty[Long, Long]
    val rows = randomEdges(4, 200, 180).map { case (a, b) =>
      (h1.getOrElseUpdate(a, rnd.nextInt(3) - 1L), a,
        h1.getOrElseUpdate(b, rnd.nextInt(3) - 1L), b)
    }
    val edges = rows.toDF("a_h1", "a_h2", "b_h1", "b_h2").select(
      struct(col("a_h1").as("h1"), col("a_h2").as("h2")).as("a"),
      struct(col("b_h1").as("h1"), col("b_h2").as("h2")).as("b"))
    assertPathsAgree(edges)
  }

  test("local and star paths agree: empty edge set") {
    import spark.implicits._
    assertPathsAgree(Seq.empty[(Long, Long)].toDF("a", "b"))
    assertPathsAgree(Seq((5L, 5L)).toDF("a", "b")) // self-loops only
  }

  test("local solve limit: an edge set at the limit is solved locally, one more runs star rounds") {
    import spark.implicits._
    // 4 distinct canonical edges (the repeat and the reversed copy collapse)
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    def durableRounds(limit: Int): Seq[String] = {
      val store = new StageStore(spark, Files.createTempDirectory("graft-cc-").toString)
      ConnectedComponents.run(edges, maxIterations = 50, durable = Some((store, 1)),
        durablePrefix = "cc", localSolveMaxEdges = limit).count()
      store.stages("cc_round_") ++
        Seq("cc_META.json").filter(f => Files.exists(Paths.get(store.root, f)))
    }
    assert(durableRounds(4).isEmpty)
    val star = durableRounds(3)
    assert(star.contains("cc_META.json") && star.exists(_.startsWith("cc_round_")))
  }
}
