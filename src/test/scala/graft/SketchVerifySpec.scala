package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.SketchVerify
import graft.functions.{bbit_jaccard, bbit_minhash, jaccard_sorted, minhash, word_shingles}
import graft.kernel.Shingling

/** b-bit MinHash sketches and sketch-based candidate verification:
  * truncation parity with the full signature, estimator exactness on
  * identical sets, accuracy/recall on controlled-overlap pairs, and the
  * fused bands+sketch kernel's parity with the separate ones.
  */
class SketchVerifySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val seed = 42L

  /** Deterministic token-set text: `n` tokens drawn from vocabulary
    * prefix `p` starting at index `from`.
    */
  private def toks(p: String, from: Int, n: Int): String =
    (from until from + n).map(i => s"$p$i").mkString(" ")

  test("packLowBits/bbitCell round trip for every b dividing 64") {
    val values = Array.tabulate(37)(i => Shingling.splitmix64(i.toLong))
    for (b <- Seq(1, 2, 4, 8, 16, 32, 64)) {
      val packed = Shingling.packLowBits(values, b)
      val mask = if (b == 64) -1L else (1L << b) - 1L
      values.indices.foreach { i =>
        assert(Shingling.bbitCell(packed, i, b) === (values(i) & mask),
          s"b=$b cell $i")
      }
      assert(packed.length === (values.length * b + 63) / 64)
    }
  }

  test("sketch is the truncation of the full MinHash signature") {
    import spark.implicits._
    val n = 64
    val b = 8
    val rows = Seq(toks("w", 0, 50), toks("x", 3, 80)).toDF("text")
      .select(
        minhash(word_shingles(col("text"), 3, seed), n, seed).as("sig"),
        bbit_minhash(word_shingles(col("text"), 3, seed), n, b, seed).as("sk"))
      .collect()
    rows.foreach { r =>
      val sig = r.getAs[Seq[Long]]("sig").toArray
      val sk = r.getAs[Seq[Long]]("sk").toArray
      sig.indices.foreach { i =>
        assert(Shingling.bbitCell(sk, i, b) === (sig(i) & 0xFFL))
      }
    }
  }

  test("identical shingle sets estimate exactly 1.0; estimator tracks exact J") {
    import spark.implicits._
    val n = 128
    val b = 8
    // controlled overlaps with k=1 shingles (shingle set == token set):
    // J = shared / (2*100 - shared)
    val pairs = Seq(100, 90, 80, 50, 20, 0).map { shared =>
      (toks("w", 0, 100),
        toks("w", 0, shared) + " " + toks("v", 0, 100 - shared),
        shared.toDouble / (200 - shared))
    }
    val got = pairs.toDF("ta", "tb", "j")
      .select(col("j"),
        jaccard_sorted(word_shingles(col("ta"), 1, seed),
          word_shingles(col("tb"), 1, seed)).as("exact"),
        bbit_jaccard(
          bbit_minhash(word_shingles(col("ta"), 1, seed), n, b, seed),
          bbit_minhash(word_shingles(col("tb"), 1, seed), n, b, seed),
          n, b).as("est"))
      .collect()
    got.foreach { r =>
      assert(math.abs(r.getAs[Double]("exact") - r.getAs[Double]("j")) < 1e-12)
      val (exact, est) = (r.getAs[Double]("exact"), r.getAs[Double]("est"))
      if (exact == 1.0) assert(est === 1.0) // all cells equal, exactly
      else assert(math.abs(est - exact) < 0.15,
        s"exact=$exact est=$est") // ±3σ ≈ 0.13 at n=128; seed-pinned
    }
  }

  test("verifyPairs: exact-dup families all kept at 1.0, disjoint pairs dropped") {
    import spark.implicits._
    val n = 128
    val b = 4
    // 10 families of 3 identical docs + per-family disjoint vocabulary
    val docs = (0 until 30).map { i =>
      (i.toLong, toks(s"f${i / 3}t", 0, 60))
    }.toDF("id", "text")
    val sketches = docs.select(col("id"),
      bbit_minhash(word_shingles(col("text"), 2, seed), n, b, seed).as("sketch"))
    val within = (0 until 10).flatMap { f =>
      Seq((f * 3L, f * 3L + 1), (f * 3L + 1, f * 3L + 2))
    }
    val cross = (0 until 9).map(f => (f * 3L, (f + 1) * 3L))
    val candidates = (within ++ cross).toDF("a", "b")
    val kept = SketchVerify.verifyPairs(candidates, sketches, n, b, 0.8)
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2))
    assert(kept.map(p => (p._1, p._2)).toSeq === within.sortBy(p => (p._1, p._2)))
    assert(kept.forall(_._3 === 1.0))
    // the dropped cross pairs sit far below threshold (disjoint vocab)
    val crossEst = SketchVerify.verifyPairs(candidates, sketches, n, b, 0.0)
      .as[(Long, Long, Double)].collect()
      .filter(p => cross.contains((p._1, p._2))).map(_._3)
    assert(crossEst.length === cross.length && crossEst.forall(_ < 0.5))
  }

  test("fused bands+sketch: identical band keys, sketch = truncation, n-prefix compat") {
    import spark.implicits._
    import graft.functions.{minhash_bands, minhash_bands_sketch}
    val df = Seq(toks("w", 0, 50), toks("x", 3, 80), "single").toDF("text")
      .select(
        word_shingles(col("text"), 3, seed).as("sh"))
      .select(
        minhash_bands(col("sh"), 16, 5, seed).as("bands_ref"),
        bbit_minhash(col("sh"), 80, 4, seed).as("sk80"),
        bbit_minhash(col("sh"), 256, 4, seed).as("sk256"),
        minhash_bands_sketch(col("sh"), 16, 5, 4, seed).as("bs"))
    df.collect().foreach { r =>
      val bs = r.getStruct(3)
      // fused band keys are bit-identical to MinHashBands (same coeff
      // family) — stores written by the fused signature pass and by the
      // MinHashBands one hold the same band keys
      assert(r.getSeq[Long](0) === bs.getSeq[Long](0))
      // fused sketch ≡ standalone BBitMinHash at n = bands·rows
      assert(r.getSeq[Long](1) === bs.getSeq[Long](1))
      // prefix compatibility: the first 80·4 bits of an n=256 sketch ARE
      // the n=80 sketch (shared coefficients, sequential packing) — so
      // bbit_jaccard(…, 80, 4) reads sketch-decide-era layers correctly
      assert(r.getSeq[Long](2).take(5) === r.getSeq[Long](1))
    }
  }
}
