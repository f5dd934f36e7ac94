package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.util.LongAccumulator

/** The single hot-bucket pair-emission policy, in its two forms — one
  * owner so the skew policy cannot drift between call sites.
  *
  * [[bucketPairs]], the within-bucket form, owns the whole pass: the
  * shuffle on the bucket key, the in-partition sort, the streaming
  * emission and the output encoding, for a value of any type (a long id,
  * the 128-bit struct id, a (fingerprint, id) struct). Its callers are the
  * batch LSH pipeline ([[DedupPipeline.candidatePairs]]), the SimHash
  * operator ([[SimHashDedup.nearDupPairs]]), the embedding LSH pairs
  * ([[graft.ann.Ann.nearDupPairsLsh]], and both tiers of
  * [[graft.ann.SemDeDup]]) and the query-level MinHash clustering
  * formulation (SparkEntry `q_dedup_minhash_clusters`).
  * [[crossBucketPairs]], the form for pairs ACROSS two sides of a bucket
  * join, is shared by the incremental delta×prior LSH join
  * ([[DedupPipeline.incremental]]) and [[CrossCorpus.nearDupPairs]].
  *
  * Within-bucket policy, for each bucket of n values in sort order:
  *   - n < 2                      → nothing;
  *   - n ≤ maxAllPairs            → all C(n,2) pairs;
  *   - n > maxAllPairs, chainHuge → the adjacent chain (n-1 pairs),
  *     emitted INCREMENTALLY: only the previous element is retained, so a
  *     10⁸-member bucket costs O(1) memory. A hot bucket is a near-clique
  *     at verify threshold, so chaining preserves connectivity through
  *     connected components while bounding output at O(n) — the explicit
  *     skew defense of SURVEY.md §4.2;
  *   - n in (maxAllPairs, hugeCutoff], !chainHuge → the adjacent chain
  *     (buffered — bounded by hugeCutoff, 8 MB at the pipeline default);
  *   - n > hugeCutoff, !chainHuge → nothing (boilerplate whose duplicates
  *     the exact-hash fast path already links).
  * Pairs come out in within-bucket sort order (earlier value first).
  *
  * `onHot` fires once per chain-emitted bucket; `onDropped` fires once per
  * fully-dropped bucket with its size — call sites feed Spark accumulators
  * so skew-policy activations are observable (no silent drops).
  */
object PairEmission {

  /** The cross-bucket skew ladder: pairs between `probe` and `build` rows
    * that share a bucket (`keys`), both sides carrying `id` and `keys`.
    * The build side's per-bucket stats (`count`, `min(id)`) are
    * checkpointed, then per bucket of n build rows:
    *   - n ≤ maxAllPairs          → every (probe, build) pair;
    *   - n in (maxAllPairs, hugeCutoff] → each probe row chained to the
    *     bucket's min build id (output linear in probe rows), counted in
    *     `hot`;
    *   - n > hugeCutoff           → nothing, counted in `dropped`.
    * Both counts come from one small job over the stats, run only when an
    * accumulator is given.
    * Returns (`id`, `oid`) = (probe id, build id), not deduplicated.
    */
  def crossBucketPairs(probe: DataFrame, build: DataFrame, keys: Seq[String],
      maxAllPairs: Int, hugeCutoff: Long,
      hot: Option[LongAccumulator], dropped: Option[LongAccumulator]): DataFrame = {
    val stats = build.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), min("id").as("bmin"))
      .localCheckpoint(true)
    val small = probe
      .join(stats.filter(col("n") <= maxAllPairs).select(keys.map(col): _*),
        keys, "left_semi")
      .join(build.withColumnRenamed("id", "oid"), keys)
      .select("id", "oid")
    val isChained = col("n") > maxAllPairs && col("n") <= hugeCutoff
    val chained = probe
      .join(stats.filter(isChained).select((keys :+ "bmin").map(col): _*), keys)
      .select(col("id"), col("bmin").as("oid"))
    if (hot.isDefined || dropped.isDefined) {
      val r = stats.agg(count(when(isChained, 1)), count(when(col("n") > hugeCutoff, 1))).head()
      hot.foreach(_.add(r.getLong(0)))
      dropped.foreach(_.add(r.getLong(1)))
    }
    small.union(chained)
  }

  /** Within-bucket pairs of `rows`: (`a`, `b`) with `value`'s data type,
    * under the policy above, per bucket of equal `keys` (two columns, cast
    * to long — a `posexplode` band is an int). Rows are shuffled on the
    * keys and sorted by the keys, then by `order` — the within-bucket
    * order chain adjacency follows (id order for MinHash buckets,
    * (fingerprint, id) order for SimHash buckets). Not deduplicated: a pair
    * sharing several buckets comes out once per bucket.
    */
  def bucketPairs(rows: DataFrame, keys: Seq[String], order: Seq[String],
      value: Column, maxAllPairs: Int, hugeCutoff: Long = Long.MaxValue,
      chainHuge: Boolean = false, onHot: () => Unit = () => (),
      onDropped: Long => Unit = _ => ()): DataFrame = {
    require(keys.size == 2, s"bucketPairs takes two key columns, got $keys")
    val k = keys.map(c => col(c).cast("long"))
    val sorted = rows.repartition(k: _*)
      .sortWithinPartitions(k ++ order.map(col): _*)
      .select(k :+ value.as("v"): _*)
    val v = sorted.schema("v")
    val out = StructType(Seq(StructField("a", v.dataType, v.nullable),
      StructField("b", v.dataType, v.nullable)))
    sorted.mapPartitions(it =>
      emit(it, maxAllPairs, hugeCutoff, chainHuge, onHot, onDropped))(Encoders.row(out))
  }

  /** The streaming pass of [[bucketPairs]] over partition rows
    * (k1: long, k2: long, value) already sorted by bucket key, then by the
    * within-bucket order; yields Row(a, b) value pairs.
    */
  private[graft] def emit(
      rows: Iterator[Row],
      maxAllPairs: Int,
      hugeCutoff: Long = Long.MaxValue,
      chainHuge: Boolean = false,
      onHot: () => Unit = () => (),
      onDropped: Long => Unit = _ => ()): Iterator[Row] =
    new Iterator[Row] {
      private val buf = scala.collection.mutable.ArrayBuffer.empty[Any]
      private var curK1 = Long.MinValue
      private var curK2 = Long.MinValue
      private var started = false
      private var chaining = false // this bucket switched to incremental chain
      private var bucketN = 0L     // true member count of the current bucket
      private var prev: Any = _
      private var out: Iterator[Row] = Iterator.empty
      private var done = false

      /** Pairs owed for `v` joining the current bucket. */
      private def push(v: Any): Iterator[Row] = {
        bucketN += 1
        if (chaining) {
          val p = Row(prev, v)
          prev = v
          Iterator.single(p)
        } else if (bucketN <= maxAllPairs) {
          buf += v
          Iterator.empty
        } else if (chainHuge) {
          // first element past the all-pairs cap: this bucket is hot — emit
          // the chain over the buffered prefix now, then stream
          onHot()
          chaining = true
          buf += v
          val vs = buf.toArray
          buf.clear()
          prev = v
          Iterator.range(0, vs.length - 1).map(i => Row(vs(i), vs(i + 1)))
        } else {
          // drop-mode caller: the all-pairs/chain/drop decision needs the
          // final size, so buffer (capped at hugeCutoff+1 — a bucket past
          // the cutoff is dropped whole, no need to hold more)
          if (buf.length <= hugeCutoff) buf += v
          Iterator.empty
        }
      }

      /** Pairs owed when the current bucket ends. */
      private def endBucket(): Iterator[Row] = {
        val res =
          if (chaining || bucketN < 2) Iterator.empty // chain already streamed
          else if (bucketN <= maxAllPairs) {
            val n = buf.length
            val vs = buf.toArray
            for {
              i <- Iterator.range(0, n)
              j <- Iterator.range(i + 1, n)
            } yield Row(vs(i), vs(j))
          } else if (bucketN <= hugeCutoff) {
            onHot()
            val n = buf.length
            val vs = buf.toArray
            Iterator.range(0, n - 1).map(i => Row(vs(i), vs(i + 1)))
          } else {
            onDropped(bucketN)
            Iterator.empty
          }
        buf.clear()
        chaining = false
        bucketN = 0L
        res
      }

      @annotation.tailrec
      private def advance(): Unit =
        if (!out.hasNext && !done) {
          if (rows.hasNext) {
            val r = rows.next()
            val k1 = r.getLong(0)
            val k2 = r.getLong(1)
            if (!started || k1 != curK1 || k2 != curK2) {
              out = endBucket()
              curK1 = k1
              curK2 = k2
              started = true
              out = out ++ push(r.get(2))
            } else {
              out = push(r.get(2))
            }
            advance()
          } else {
            done = true
            out = endBucket()
          }
        }

      override def hasNext: Boolean = { advance(); out.hasNext }
      override def next(): Row = { advance(); out.next() }
    }
}
