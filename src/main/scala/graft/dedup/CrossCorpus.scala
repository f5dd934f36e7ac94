package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.functions.{jaccard_sorted, minhash_bands, truncate_hashes32, word_shingles}

/** Near-duplicate pairs BETWEEN two corpora — never within one side.
  *
  * The fuzzy-decontamination operator: exact n-gram matching
  * ([[graft.text.Passages.contaminationHits]]) misses an eval document that
  * leaked into the training corpus with small edits (reflowed whitespace,
  * added boilerplate, a translated header), while full near-dup clustering
  * of train ∪ eval ([[DedupPipeline.run]]) wastes a corpus-sized self-join
  * on the train×train pairs nobody asked for. This operator generates LSH
  * candidates ONLY across sides and verifies them with the same exact
  * truncated-shingle Jaccard the batch pipeline uses, so thresholds are
  * directly comparable with cluster verdicts.
  *
  * Scale shape: each side is scanned once for signatures (narrow,
  * codegen'd Catalyst expressions); candidates come from an EQUI-join of
  * left band rows against right band rows on (band, bucket) under the
  * skew ladder the incremental pipeline also uses
  * ([[PairEmission.crossBucketPairs]], right side as the build side) —
  * full cross pairs for small buckets, chain-to-right-bucket-min above
  * `maxBucketAllPairs` (output linear in left rows), drop + metric above
  * `hugeBucketCutoff`; verification fetches shingles for
  * PAIR-TOUCHED ids only (left-semi first) through shuffled-hash joins.
  * No window functions, no cartesian products, no UDFs.
  *
  * Id width: the id column is passed through untouched (never cast), so
  * the batch pipeline's either-width contract holds here too — 64-bit
  * longs or the two-long struct both work (struct min/ordering is
  * lexicographic on (hi, lo), the same order the pipeline relies on).
  *
  * Inputs carry columns (`id`, `text`); output is one row per verified
  * cross pair: (a = left id, b = right id, jac), jac rounded to 1e-6.
  */
object CrossCorpus {

  /** Tuning mirrors [[DedupConfig]]'s defaults for the same knobs, except
    * `rows`: 16 bands × 4 rows, where the pipeline uses 16 × 5.
    */
  case class Config(
      shingleK: Int = 5,
      bands: Int = 16,
      rows: Int = 4,
      seed: Long = graft.kernel.Shingling.DefaultSeed,
      threshold: Double = 0.8,
      maxBucketAllPairs: Int = 64,
      hugeBucketCutoff: Long = 1000000L)

  def nearDupPairs(left: DataFrame, right: DataFrame,
      cfg: Config = Config(),
      droppedBuckets: Option[LongAccumulator] = None): DataFrame = {
    // signatures per side: shingle → truncate (verification set) + bands.
    // Both outputs derive from ONE word_shingles evaluation per row (same
    // projection), exactly like the pipeline's signaturesChunkPlan.
    def sigs(df: DataFrame): DataFrame = df
      .select(col("id"),
        word_shingles(col("text"), cfg.shingleK, cfg.seed).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"),
        truncate_hashes32(col("sh")).as("shingles"),
        minhash_bands(col("sh"), cfg.bands, cfg.rows, cfg.seed).as("bands"))

    def bandRows(s: DataFrame): DataFrame = s
      .select(col("id"), posexplode(col("bands")).as(Seq("band", "bucket")))

    val sigL = sigs(left)
    val sigR = sigs(right)
    val lb = bandRows(sigL)
    val rb = bandRows(sigR)

    // the pipeline's skew ladder, priced off the right side's bucket stats
    // BEFORE any pair is emitted
    val cand = PairEmission.crossBucketPairs(lb, rb, Seq("band", "bucket"),
      cfg.maxBucketAllPairs, cfg.hugeBucketCutoff, None, droppedBuckets)
      .select(col("id").as("a"), col("oid").as("b"))
      .distinct()

    // verification: shingles for pair-touched ids only, shuffled-hash
    // joins (shingle arrays never sort-merge or broadcast)
    val shL = sigL.select(col("id").as("a"), col("shingles").as("sh_a"))
      .join(cand.select("a").distinct(), Seq("a"), "left_semi")
    val shR = sigR.select(col("id").as("b"), col("shingles").as("sh_b"))
      .join(cand.select("b").distinct(), Seq("b"), "left_semi")
    cand
      .join(shL.hint("shuffle_hash"), "a")
      .join(shR.hint("shuffle_hash"), "b")
      .withColumn("jac", round(jaccard_sorted(col("sh_a"), col("sh_b")), 6))
      .filter(col("jac") >= cfg.threshold)
      .select("a", "b", "jac")
  }
}
