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
  * approximate near the threshold, so the dedup pipeline does not use
  * sketches at all: its batch and incremental verify stages are exact.
  * [[verifyPairs]] is the sketch-only operator for callers that accept
  * estimates (`q_sketch_verify`, streams signed by `StreamingOps` with
  * `sketchBits`), with its recall pinned
  * against exact ground truth in SketchVerifySpec.
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
}
