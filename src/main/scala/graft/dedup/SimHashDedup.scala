package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.functions.hamming64

/** SimHash near-duplicate detection (Charikar, STOC 2002 fingerprints;
  * candidate generation per Manku/Jain/Sarma, "Detecting Near-Duplicates
  * for Web Crawling", WWW 2007 §3 — block-permuted tables).
  *
  * Scale design. The naive pigeonhole banding (k+1 disjoint bands of
  * 64/(k+1) bits) keys on only 16 bits at k=3 — 65,536 buckets per band, so
  * at ≥10⁹ docs EVERY bucket is hot and the operator degenerates. Manku's
  * construction instead splits the fingerprint into B = k+3 blocks and
  * builds one table per 3-block combination (C(k+3,3) tables; 20 at k=3),
  * keying each table on the ~32 concatenated bits of its 3 blocks:
  * fingerprints within Hamming distance k differ in at most k blocks, so at
  * least 3 blocks are clean and some table keys them identically
  * (candidate generation stays EXACT), while the 2³²-key space keeps
  * expected bucket size ≤ n/2³² — sub-1 until ~10¹⁰ docs per table.
  *
  * Hot buckets (identical-key floods from boilerplate/planted families) go
  * through the shared [[PairEmission]] chain policy — sorted by
  * (simhash, id) so chains run inside identical-fingerprint runs, whose
  * pairs survive the Hamming filter: a >maxBucketSize family stays ONE
  * connected component at O(n) emitted pairs, never a silent drop. The only
  * degradation: pairs BETWEEN two distinct fingerprints that share a hot
  * bucket are only probed at run boundaries (counted via `hotBucketAcc`).
  *
  * A standalone operator over any (id, simhash) frame: the
  * `q_dedup_simhash_pairs` query and the image dHash near-dup path
  * ([[graft.multimodal.Multimodal.imageDHashes]]). [[DedupPipeline]] does
  * not use it: over a distinct shingle set (what `word_shingles` returns)
  * every shingle casts one vote, so SimHash at Hamming ≤ 3 is a stricter
  * set-similarity filter whose pairs the pipeline's MinHash LSH bands
  * already catch.
  */
object SimHashDedup {

  /** The default SimHash near-dup distance: Hamming ≤ 3 of 64 bits. */
  val MaxHamming: Int = 3

  /** The C(B,3) block-combination tables for 64-bit fingerprints split into
    * B = maxHamming+3 blocks. Returns (tableId, key Column) pairs; the key
    * concatenates the 3 chosen blocks' bits (≥30 bits for maxHamming ≤ 4).
    */
  private def tableKeys(simhash: Column, maxHamming: Int): Seq[(Int, Column)] = {
    val nBlocks = maxHamming + 3
    val base = 64 / nBlocks
    val widths = Array.tabulate(nBlocks)(i => if (i < 64 % nBlocks) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _).take(nBlocks)
    def block(i: Int): Column = {
      val mask = if (widths(i) == 64) -1L else (1L << widths(i)) - 1L
      shiftrightunsigned(simhash, offsets(i)).bitwiseAND(lit(mask))
    }
    val combos = (0 until nBlocks).combinations(3).toSeq
    combos.zipWithIndex.map { case (Seq(i, j, l), t) =>
      val key = shiftleft(block(i), widths(j) + widths(l))
        .bitwiseOR(shiftleft(block(j), widths(l)))
        .bitwiseOR(block(l))
      (t, key)
    }
  }

  /** (table, key, simhash, id) rows — C(maxHamming+3, 3) per doc. */
  private def tableRows(sigs: DataFrame, maxHamming: Int): DataFrame = {
    val keyCols = tableKeys(col("simhash"), maxHamming).map { case (t, key) =>
      struct(lit(t.toLong).as("table"), key.as("key"))
    }
    sigs.select(col("id"), col("simhash"), explode(array(keyCols: _*)).as("tk"))
      .select(col("tk.table").as("table"), col("tk.key").as("key"),
        col("simhash"), col("id"))
  }

  /** Candidate + verified pairs (a < b) with hamming(simhash_a, simhash_b)
    * ≤ maxHamming, from a signature frame with (id, simhash: long) — id of
    * any orderable type (a long, or the pipeline's 128-bit struct id).
    *
    * Physical shape mirrors the main pipeline's candidate stage: explode
    * C(maxHamming+3, 3) (table, key) rows per doc, then ONE
    * [[PairEmission.bucketPairs]] pass over (simhash, id) values (one
    * shuffle by table+key, in-partition sort, all pairs ≤ maxBucketSize,
    * incremental chain above — O(1) memory per hot bucket), then
    * Hamming-verify and distinct.
    *
    * `hotBucketAcc`: optional accumulator counting buckets that fell back
    * to chain emission (the skew-policy activation metric).
    */
  def nearDupPairs(sigs: DataFrame, maxHamming: Int = MaxHamming,
      maxBucketSize: Int = 10000,
      hotBucketAcc: Option[LongAccumulator] = None): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 4,
      "maxHamming in [0, 4] (table count C(maxHamming+3, 3) grows fast)")
    // sorted by (simhash, id) within the bucket: chain adjacency then runs
    // inside identical-fingerprint families, whose pairs pass the Hamming
    // filter — connectivity of a hot family is preserved
    val pairs = PairEmission.bucketPairs(tableRows(sigs, maxHamming),
      Seq("table", "key"), order = Seq("simhash", "id"),
      value = struct(col("simhash"), col("id")),
      maxAllPairs = maxBucketSize, chainHuge = true,
      onHot = () => hotBucketAcc.foreach(_.add(1L)))

    val hamming = hamming64(col("a.simhash"), col("b.simhash"))
    pairs
      .filter(hamming <= maxHamming)
      .select(
        least(col("a.id"), col("b.id")).as("a"),
        greatest(col("a.id"), col("b.id")).as("b"),
        hamming.as("hamming"))
      .distinct()
  }
}
