package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.bbit_jaccard

/** Sketch-based candidate scoring (Li & König 2010, "b-Bit Minwise
  * Hashing"): score LSH candidate pairs from stored b-bit MinHash
  * sketches instead of fetching full shingle sets — per-pair shingle
  * fetches read KBs of sorted hashes per document, while a b=4, n=128
  * sketch is 64 BYTES (a 64/b× reduction vs even the 32-bit truncated
  * shingle state for typical page sizes).
  *
  * Accuracy contract (published, not invented): the estimator is unbiased
  * with variance ≈ P̂(1−P̂)/n after the 2^-b collision correction; identical
  * shingle sets estimate EXACTLY 1.0. Sketch-only decisions are therefore
  * approximate near the threshold, so the dedup pipeline never ACCEPTS a
  * pair from a sketch: its verify stage is exact, and it uses sketches
  * only through [[prefilterPairs]] to drop pairs far below the threshold.
  * [[verifyPairs]] is the sketch-only operator for callers that accept
  * estimates, with its recall pinned against exact ground truth in
  * SketchVerifySpec.
  *
  * Scale shape: identical to the pipeline's verify stage — two explicit
  * shuffled-hash joins co-partitioned on the doc id, hash tables built on
  * the pair side, no sort, no window; only the per-id payload shrinks.
  */
object SketchVerify {

  /** Sketch-only verification: `candidates` (a, b) joined to `sketches`
    * (id, sketch) on both sides; emits (a, b, est) for pairs whose
    * corrected estimate clears `threshold`.
    */
  def verifyPairs(candidates: DataFrame, sketches: DataFrame,
                  numHashes: Int, bBits: Int, threshold: Double): DataFrame = {
    val sketchSide = sketches.select(col("id"), col("sketch"))
    candidates.hint("shuffle_hash")
      .join(sketchSide.withColumnsRenamed(Map("id" -> "a", "sketch" -> "sk_a")), "a")
      .hint("shuffle_hash")
      .join(sketchSide.withColumnsRenamed(Map("id" -> "b", "sketch" -> "sk_b")), "b")
      .withColumn("est", bbit_jaccard(col("sk_a"), col("sk_b"), numHashes, bBits))
      .filter(col("est") >= threshold)
      .select("a", "b", "est")
  }

  /** Safe prefilter for an EXACT verify stage: drop candidate pairs whose
    * sketch estimate falls below `cutoff`, keep everything else (including
    * pairs with a NULL sketch on either side — layers written before the
    * sketch column existed must degrade to "verify exactly", never "drop
    * silently"). Unlike [[verifyPairs]], this never ACCEPTS from the
    * sketch — surviving pairs still face the exact Jaccard — so its only
    * failure mode is dropping a true positive, which the caller prices by
    * the margin: cutoff = threshold − m is m/σ standard errors below the
    * lowest accepted exact score (σ ≈ √(P(1−P)/n)/(1−2⁻ᵇ); the pipeline's
    * default margin is ~5.9σ at its n=80/b=4 fused sketch — see
    * `DedupPipeline.incremental` step 4).
    * Sketches may be wider than numHashes·b bits (n=256 layers from older
    * stores next to n=80 ones): both sides are sliced to that width, whose
    * cells are the n=numHashes sketch of the same coefficient family.
    * Output is the (a, b) pair set, column-compatible with the candidate
    * input.
    */
  def prefilterPairs(candidates: DataFrame, sketches: DataFrame,
                     numHashes: Int, bBits: Int, cutoff: Double): DataFrame = {
    val width = (numHashes * bBits + 63) / 64
    val sketchSide =
      sketches.select(col("id"), slice(col("sketch"), 1, width).as("sketch"))
    candidates.hint("shuffle_hash")
      .join(sketchSide.withColumnsRenamed(Map("id" -> "a", "sketch" -> "sk_a")),
        Seq("a"), "left")
      .hint("shuffle_hash")
      .join(sketchSide.withColumnsRenamed(Map("id" -> "b", "sketch" -> "sk_b")),
        Seq("b"), "left")
      .withColumn("est",
        when(col("sk_a").isNotNull && col("sk_b").isNotNull,
          bbit_jaccard(col("sk_a"), col("sk_b"), numHashes, bBits)))
      .filter(col("est").isNull || col("est") >= cutoff)
      .select("a", "b")
  }
}
