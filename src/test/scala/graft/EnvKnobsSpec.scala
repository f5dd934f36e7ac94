package graft

import org.scalatest.funsuite.AnyFunSuite

/** The mains' integer environment knobs: validated before Spark starts,
  * with a message naming the variable.
  */
class EnvKnobsSpec extends AnyFunSuite {

  test("positiveInt: unset gives the default; non-integers and values below 1 are refused") {
    assert(EnvKnobs.positiveInt("SPARK_GRAFT_CPUS", 8, Map.empty) === 8)
    assert(EnvKnobs.positiveInt("SPARK_GRAFT_CPUS", 8, Map("SPARK_GRAFT_CPUS" -> " 3 ")) === 3)
    Seq("x", "0", "-2", "").foreach { v =>
      val m = intercept[IllegalArgumentException](
        EnvKnobs.positiveInt("SPARK_GRAFT_CPUS", 8, Map("SPARK_GRAFT_CPUS" -> v))).getMessage
      assert(m === s"SPARK_GRAFT_CPUS must be an integer >= 1, got '$v'")
    }
  }
}
