package graftbench

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.synth.DeterministicCorpus.CorpusSpec

/** Every workload at a tiny size, untraced and traced: each metric named in
  * BENCHMARK.json appears with its unit, and the correctness gate passes.
  */
class SmokeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory(
    Paths.get(System.getProperty("java.io.tmpdir")), "dedupbench-smoke-")
  private lazy val spark = DedupBench.session(2, work)

  override def afterAll(): Unit =
    try spark.stop() finally DedupBench.deleteRecursively(work)

  /** The workloads' shapes at a size that runs in seconds. */
  private val tiny = Seq(
    Workload("batch_base", CorpusSpec(nFamilies = 300),
      Some(DeltaShape(freshFamilies = 20, recrawls = 10)), minReps = 2),
    Workload("batch_skew", CorpusSpec(nFamilies = 100, hotFamilySize = 300), None))

  private def json(path: String): JValue = parse(Files.readString(Paths.get(path)))
  private lazy val declared = json("../BENCHMARK.json")
  private lazy val recorded = json("workloads.json")

  private def declaredMetrics(key: String): Seq[(String, String)] =
    (declared \ key).children.map { m =>
      ((m \ "name").values.toString, (m \ "unit").values.toString)
    }

  test("the harness defines exactly the metrics and workloads BENCHMARK.json declares") {
    assert(declaredMetrics("end_to_end") == MetricNames.EndToEnd)
    assert(declaredMetrics("per_layer") == MetricNames.PerLayer)
    assert((declared \ "workloads").children.map(w => (w \ "name").values) ==
      Workloads.all.map(_.name))
    assert(tiny.map(_.name) == Workloads.all.map(_.name))
  }

  test("workloads.json records the corpus and delta each workload runs") {
    val byName = (recorded \ "workloads").children
      .map(w => (w \ "name").values.toString -> w).toMap
    def num(v: JValue): Double = v.values.toString.toDouble
    for (w <- Workloads.all) {
      val c = byName(w.name) \ "corpus"
      assert(num(c \ "nFamilies") == w.base.nFamilies)
      assert(num(c \ "hotFamilySize") == w.base.hotFamilySize)
      assert(num(c \ "pDup") == w.base.pDup)
      assert(num(c \ "maxCopies") == w.base.maxCopies)
      assert(num(c \ "pHardNegative") == w.base.pHardNegative)
      assert(num(c \ "familyOffset") == w.base.familyOffset)
      assert(num(byName(w.name) \ "timed_runs") == w.minReps)
      val d = byName(w.name) \ "traced_delta"
      assert(w.delta.map(s => (s.freshFamilies.toDouble, s.recrawls.toDouble)) ==
        (if (d == JNull) None else Some((num(d \ "freshFamilies"), num(d \ "recrawls")))))
    }
  }

  for (w <- tiny; trace <- Seq(false, true))
    test(s"${w.name} (trace=$trace) reports every metric and passes the gate") {
      val r = new DedupBench(spark, work.resolve(s"${w.name}-$trace"))
        .run(w.seeded(7), runSeconds = 1, trace = trace, traceOut = None)
      assert(r.failures.isEmpty)
      assert(r.correct && r.attempted > 0 && r.failed == 0)
      val expected = if (trace) MetricNames.PerLayer else MetricNames.EndToEnd
      assert(r.metrics.map { case (n, _, u) => (n, u) } == expected)
      assert(r.metrics.forall { case (_, v, _) => !v.isNaN && !v.isInfinite })
      val m = r.metrics.map { case (n, v, _) => n -> v }.toMap
      if (trace) {
        assert(m("dedup.components.jobs") > 0 && m("dedup.materialize_state.wall_s") > 0)
        assert((m("dedup.incremental.jobs") > 0) == w.delta.isDefined)
      } else {
        assert(m("pair_recall") >= Checks.MinRecall)
        assert(m("wall_s") > 0 && m("setup_s") > 0 && m("docs_per_s") > 0)
      }
    }
}
