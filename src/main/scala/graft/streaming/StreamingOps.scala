package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions._

/** Structured Streaming surface of the dedup engine.
  *
  * The reference is strictly batch (`find_duplicates` takes a complete
  * slice, /root/reference/src/dedupe.rs:356-361), and so is the main
  * [[graft.dedup.DedupPipeline]]. These operators are the incremental-
  * ingestion path SURVEY.md §2.7 sketches: the signature stage is
  * embarrassingly per-row (stateless — identical code runs on a batch or
  * streaming DataFrame), exact-dedup becomes watermarked duplicate
  * suppression, and LSH candidate generation becomes a
  * `flatMapGroupsWithState` keyed by band bucket, whose state is the
  * bucket's member ids (bounded by the same hot-bucket cap as the batch
  * pipeline — the skew defense carries over to state size).
  */
object StreamingOps {

  /** Stateless signature projection — valid on batch and streaming frames
    * alike (no shuffle, no state). Its url, warc_ts, lang, content_hash,
    * n_shingles and bands are the batch pipeline's signature columns,
    * computed by the same expressions; the stage's id
    * (`xxhash64(url, warc_ts)`), source, text_len and stored shingles are
    * left out (streams key by content_hash). The `simhash` column is the
    * stream's own: the batch signatures do not carry it.
    * `sketchBits = Some(b)` additionally emits the packed b-bit MinHash
    * `sketch` column, so a streaming candidate feed can be sketch-verified
    * (`SketchVerify.verifyPairs`) against the stream's own signatures
    * without a batch sketch table.
    */
  def signatures(pages: DataFrame, shingleK: Int = 5,
      bands: Int = 16, rows: Int = 5, seed: Long = 42L,
      sketchBits: Option[Int] = None,
      sketchNumHashes: Int = 256): DataFrame = {
    val normalized = pages
      .withColumn("norm_text", normalize_tokens(col("text")))
      .withColumn("shingles", word_shingles(col("norm_text"), shingleK, seed))
    normalized.select(Seq(
      col("url"), col("warc_ts"), col("lang"),
      xxhash64(col("norm_text")).as("content_hash"),
      simhash64(col("shingles")).as("simhash"),
      size(col("shingles")).as("n_shingles"),
      minhash_bands(col("shingles"), bands, rows, seed).as("bands")) ++
      sketchBits.map(b =>
        bbit_minhash(col("shingles"), sketchNumHashes, b, seed)
          .as("sketch")): _*)
  }

  /** Streaming exact-dedup: keep ONE page per content hash — among
    * same-hash rows arriving in the same micro-batch the survivor is
    * unspecified (no event-time ordering inside a batch); across batches
    * the earlier batch's survivor wins. State is expired by the event-time
    * watermark (late duplicates beyond `watermarkDelay` may re-emit — the
    * documented watermark contract).
    */
  def firstSeenByContent(pages: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame =
    pages
      .withColumn("content_hash", xxhash64(normalize_tokens(col("text"))))
      .withWatermark("warc_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Watermarked sliding-window ingest metrics (pages and distinct
    * languages per window) — the streaming analog of the batch pipeline's
    * per-stage metrics table.
    */
  def pagesPerWindow(pages: DataFrame, windowLen: String = "10 minutes",
      slide: String = "5 minutes", watermarkDelay: String = "10 minutes"): DataFrame =
    pages
      .withWatermark("warc_ts", watermarkDelay)
      .groupBy(window(col("warc_ts"), windowLen, slide), col("lang"))
      .agg(count(lit(1)).as("n_pages"),
        approx_count_distinct(col("url")).as("n_urls"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("lang"), col("n_pages"), col("n_urls"))

  /** One LSH band-bucket occupancy: (band, bucket) → member ids seen so far. */
  final case class BucketState(ids: Seq[Long])

  /** A doc's row in one band bucket; `ts` is the page's event time
    * (warc_ts), which drives watermark-based bucket-state expiry.
    */
  final case class BandRow(id: Long, band: Int, bucket: Long, ts: java.sql.Timestamp)

  /** An emitted candidate pair (a < b). */
  final case class CandidatePair(a: Long, b: Long)

  /** 128-bit variants — the streaming face of the batch pipeline's
    * `idBits = 128` two-long struct ids. Ordering is field-wise
    * ((h1, h2) lexicographic), exactly how Spark orders the batch path's
    * structs, so chain adjacency and pair orientation are identical across
    * widths.
    */
  final case class BucketState128(ids: Seq[(Long, Long)])
  final case class BandRow128(h1: Long, h2: Long, band: Int, bucket: Long, ts: java.sql.Timestamp)
  final case class CandidatePair128(a1: Long, a2: Long, b1: Long, b2: Long)

  /** The width-generic bucket-pairing policy shared by both id widths
    * (single-sourced so the 64- and 128-bit surfaces cannot diverge):
    * fresh arrivals pair with every current member and with each other
    * while the bucket holds < `maxPerBucket` members; past the cap each
    * arrival chains to the most recent retained member only (bounded
    * state, connectivity preserved through connected components).
    * Returns (updated members, emitted pairs with a < b).
    */
  private def pairArrivals[K](prev: Seq[K], arrivals: Seq[K], maxPerBucket: Int)
      (implicit ord: Ordering[K]): (Seq[K], Seq[(K, K)]) = {
    val prevSet = prev.toSet
    val fresh = arrivals.distinct.filterNot(prevSet.contains).sorted
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(K, K)]
    var members = prev
    for (id <- fresh) {
      if (members.length < maxPerBucket) {
        members.foreach(m => pairs += ((ord.min(m, id), ord.max(m, id))))
        members = members :+ id
      } else {
        members.lastOption.foreach(m => pairs += ((ord.min(m, id), ord.max(m, id))))
        members = members.dropRight(1) :+ id
      }
    }
    (members, pairs.toSeq)
  }

  /** Streaming LSH candidate generation: stateful per-bucket membership.
    * Each micro-batch, a bucket's new arrivals pair with its existing
    * members and with each other — so near-dups arriving in DIFFERENT
    * micro-batches are still paired (the cross-batch property batch LSH
    * gets for free). Bucket state is capped at `maxPerBucket` ids: arrivals
    * beyond the cap pair only with the most recent retained member (the id-chain
    * degradation of the batch pipeline's hot-bucket path — connectivity is
    * preserved through connected components, state stays bounded).
    *
    * Per-bucket state EXPIRES once the event-time watermark passes the
    * bucket's newest arrival by `bucketIdleGapMs` (event-time timeout over
    * the `ts`/warc_ts watermark): without expiry the number of
    * (band, bucket) keys — and so the state store — grows without bound on
    * a continuous stream. An arrival after expiry reopens the bucket
    * empty, so pairs spanning an idle gap longer than the timeout are not
    * emitted — the same bounded-memory watermark contract as
    * [[firstSeenByContent]]. (Event-time, not processing-time, timeout:
    * processing-time timeouts make the stateful operator request a batch
    * every trigger forever — a busy loop on an idle stream — and are
    * nondeterministic under replay.)
    *
    * Delivery contract: AT-LEAST-ONCE. Bucket state and source offsets are
    * checkpointed per micro-batch, so a restart resumes with state intact
    * and committed batches are not replayed (pinned by StreamingSpec's
    * restart test) — but a failure between a sink write and its offset
    * commit replays that one batch, re-emitting its pairs to a
    * non-idempotent sink. This is the right trade here: the downstream
    * consumer (edge union → connected components) is naturally idempotent
    * to duplicate pairs, so exactly-once would buy nothing and cost a
    * second stateful dedup operator in the query.
    */
  def streamingCandidates(bandRows: Dataset[BandRow],
      maxPerBucket: Int = 64,
      watermarkDelay: String = "10 minutes",
      bucketIdleGapMs: Long = 30L * 60 * 1000): Dataset[CandidatePair] = {
    import bandRows.sparkSession.implicits._
    bandRows
      .withWatermark("ts", watermarkDelay)
      .as[BandRow]
      .groupByKey(r => (r.band, r.bucket))
      .flatMapGroupsWithState[BucketState, CandidatePair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, _, state: GroupState[BucketState]) if state.hasTimedOut =>
          state.remove()
          Iterator.empty
        case (_, rowsIt, state: GroupState[BucketState]) =>
          val rows = rowsIt.toSeq
          val (members, pairs) = pairArrivals(
            state.getOption.map(_.ids).getOrElse(Seq.empty),
            rows.map(_.id), maxPerBucket)
          state.update(BucketState(members))
          // expire when the watermark passes the newest arrival + idle gap
          // (clamped above the current watermark, as the API requires)
          val maxTs = rows.iterator.map(_.ts.getTime).max
          state.setTimeoutTimestamp(
            math.max(maxTs + bucketIdleGapMs, state.getCurrentWatermarkMs() + 1))
          pairs.iterator.map { case (a, b) => CandidatePair(a, b) }
      }
  }

  /** [[streamingCandidates]] over 128-bit (two-long struct) doc ids — the
    * same policy, state contract, expiry, and delivery semantics via the
    * shared [[pairArrivals]] core; only the id width differs. Pairs are
    * oriented by (h1, h2) lexicographic order, matching the batch
    * pipeline's struct ordering, so a 64-bit stream with h2 pinned to a
    * constant emits exactly the 64-bit operator's pairs (pinned by
    * StreamingSpec's both-widths test).
    */
  def streamingCandidates128(bandRows: Dataset[BandRow128],
      maxPerBucket: Int = 64,
      watermarkDelay: String = "10 minutes",
      bucketIdleGapMs: Long = 30L * 60 * 1000): Dataset[CandidatePair128] = {
    import bandRows.sparkSession.implicits._
    bandRows
      .withWatermark("ts", watermarkDelay)
      .as[BandRow128]
      .groupByKey(r => (r.band, r.bucket))
      .flatMapGroupsWithState[BucketState128, CandidatePair128](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, _, state: GroupState[BucketState128]) if state.hasTimedOut =>
          state.remove()
          Iterator.empty
        case (_, rowsIt, state: GroupState[BucketState128]) =>
          val rows = rowsIt.toSeq
          val (members, pairs) = pairArrivals(
            state.getOption.map(_.ids).getOrElse(Seq.empty),
            rows.map(r => (r.h1, r.h2)), maxPerBucket)
          state.update(BucketState128(members))
          val maxTs = rows.iterator.map(_.ts.getTime).max
          state.setTimeoutTimestamp(
            math.max(maxTs + bucketIdleGapMs, state.getCurrentWatermarkMs() + 1))
          pairs.iterator.map { case ((a1, a2), (b1, b2)) =>
            CandidatePair128(a1, a2, b1, b2)
          }
      }
  }
}
