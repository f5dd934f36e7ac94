package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.synth.DeterministicCorpus.CorpusSpec

/** The command lines of `Verify` and `GenCorpus`: the usage parses as
  * before; a missing positional, an unknown flag, `--only` without names,
  * an `--only` name that is no query and a non-integer count are refused
  * before Spark starts, with a message naming the argument.
  */
class MainArgsSpec extends AnyFunSuite {

  private def refused(parse: Array[String] => Any, args: String*): String =
    intercept[IllegalArgumentException](parse(args.toArray)).getMessage

  test("Verify.parseArgs: <sfDir> <outDir> and --only parse as before") {
    assert(Verify.parseArgs(Array("/data/sf", "/out")) === (("/data/sf", "/out", None)))
    assert(Verify.parseArgs(Array("/data/sf", "/out", "--only", "q1_agg,q3_join")) ===
      (("/data/sf", "/out", Some(Set("q1_agg", "q3_join")))))
  }

  test("Verify.parseArgs: missing positionals, stray arguments and bad flags are refused") {
    val verify = (a: Array[String]) => Verify.parseArgs(a)
    assert(refused(verify).contains("missing <sfDir>"))
    assert(refused(verify, "/data/sf").contains("missing <outDir>"))
    assert(refused(verify, "/data/sf", "--only", "q1_agg").contains("missing <outDir>"))
    assert(refused(verify, "/data/sf", "/out", "extra").contains("unexpected argument 'extra'"))
    assert(refused(verify, "/data/sf", "/out", "--onyl", "q1_agg")
      .contains("unknown flag --onyl"))
    assert(refused(verify, "/data/sf", "/out", "--only").contains("--only needs query names"))
    assert(refused(verify, "/data/sf", "/out", "--only", ",").contains("--only needs query names"))
    assert(refused(verify, "/data/sf", "/out", "--only", "--x")
      .contains("--only needs query names"))
    assert(refused(verify, "/data/sf", "/out", "--only", "q1_agg", "--only", "q3_join")
      .contains("unexpected argument '--only'"))
    val msg = refused(verify, "/data/sf", "/out", "--only", "q1_agg,q1_agg_typo")
    assert(msg.contains("--only names no query: q1_agg_typo"), msg)
    assert(refused(verify, "/data/sf").contains("usage: Verify"))
  }

  test("GenCorpus.parseArgs: defaults and counts parse as before") {
    assert(GenCorpus.parseArgs(Array("/out")) ===
      (("/out", CorpusSpec(nFamilies = 100000L, hotFamilySize = 0, seed = 42L))))
    assert(GenCorpus.parseArgs(Array("/out", "5600000", "2000", "7")) ===
      (("/out", CorpusSpec(nFamilies = 5600000L, hotFamilySize = 2000, seed = 7L))))
  }

  test("GenCorpus.parseArgs: missing <outDir>, flags, non-integer counts and extra arguments are refused") {
    val gen = (a: Array[String]) => GenCorpus.parseArgs(a)
    assert(refused(gen).contains("missing <outDir>"))
    assert(refused(gen, "--families", "10").contains("unknown flag --families"))
    assert(refused(gen, "/out", "10", "--hot").contains("unknown flag --hot"))
    assert(refused(gen, "/out", "1e5").contains("<nFamilies> must be an integer, got '1e5'"))
    assert(refused(gen, "/out", "10", "99999999999")
      .contains("<hotFamilySize> must be an integer, got '99999999999'"))
    assert(refused(gen, "/out", "10", "0", "x").contains("<seed> must be an integer, got 'x'"))
    assert(refused(gen, "/out", "10", "0", "1", "2").contains("unexpected argument '2'"))
    assert(refused(gen).contains("usage: GenCorpus"))
  }
}
