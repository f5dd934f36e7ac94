package graft

import org.scalatest.funsuite.AnyFunSuite

/** `DedupMain`'s command line: every flag of its usage is accepted with a
  * well-typed value; anything else is refused before Spark starts, with a
  * message naming the flag.
  */
class DedupMainSpec extends AnyFunSuite {

  private def refused(args: String*): String =
    intercept[IllegalArgumentException](DedupMain.parseArgs(args.toArray)).getMessage

  test("parseArgs: all 13 usage flags parse into a map keyed by flag name") {
    val opts = DedupMain.parseArgs(Array("/tmp/ckpt",
      "--families", "10", "--hot", "2", "--cores", "4", "--input", "/data/pages",
      "--seed", "7", "--idbits", "128", "--urldedup", "false",
      "--adopt-state", "TRUE", "--inc-batch", "b1", "--inc-input", "/data/delta",
      "--inc-families", "5", "--inc-offset", "1000000000", "--probe", "0.01"))
    assert(opts("checkpoint") === "/tmp/ckpt")
    assert(opts.size === 14)
    assert(opts("inc-families") === "5" && opts("probe") === "0.01")
    assert(DedupMain.parseArgs(Array("/tmp/ckpt")) === Map("checkpoint" -> "/tmp/ckpt"))
  }

  test("parseArgs: unknown flag, missing value and ill-typed values are refused") {
    assert(refused("/tmp/c", "--inc-familes", "10").contains("unknown flag --inc-familes"))
    // a flag that is not in the usage, even a map key the parser itself uses
    assert(refused("/tmp/c", "--checkpoint", "/other").contains("unknown flag --checkpoint"))
    // a trailing flag, or a flag followed by the next flag, has no value
    assert(refused("/tmp/c", "--seed", "1", "--cores").contains("flag --cores needs a value"))
    assert(refused("/tmp/c", "--families", "--cores", "4")
      .contains("flag --families needs a value"))
    assert(refused("/tmp/c", "--cores", "x").contains("flag --cores expects an integer, got 'x'"))
    assert(refused("/tmp/c", "--hot", "1e3").contains("flag --hot expects an integer"))
    assert(refused("/tmp/c", "--families", "99999999999999999999")
      .contains("flag --families expects an integer"))
    assert(refused("/tmp/c", "--urldedup", "yes").contains("flag --urldedup expects true or false"))
    // the retired SimHash candidate source's flag is no flag any more
    assert(refused("/tmp/c", "--simhash", "true").contains("unknown flag --simhash"))
    assert(refused("/tmp/c", "--probe", "half").contains("flag --probe expects a number"))
    assert(refused("/tmp/c", "--seed", "1", "--seed", "2").contains("flag --seed given twice"))
    assert(refused("/tmp/c", "stray").contains("unexpected argument 'stray'"))
    assert(refused().contains("usage"))
    assert(refused("--cores", "4").contains("usage"))
  }

  test("parseArgs: --cores below 1 is refused") {
    assert(refused("/tmp/c", "--cores", "0").contains("flag --cores must be >= 1, got '0'"))
    assert(refused("/tmp/c", "--cores", "-2").contains("flag --cores must be >= 1, got '-2'"))
    assert(DedupMain.parseArgs(Array("/tmp/c", "--cores", "1"))("cores") === "1")
  }
}
