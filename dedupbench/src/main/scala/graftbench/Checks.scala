package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Order-independent digest of a clusters table over
  * (url, cluster_id, is_representative): row count, the sum of the low 32
  * bits of each row's hash, and the XOR of the hashes. Two tables with the
  * same rows have the same digest whatever their partitioning.
  */
final case class Digest(rows: Long, sumLow: Long, xor: Long)

object Digest {
  private[graftbench] def rowHash(clusters: DataFrame): Column =
    xxhash64(clusters("url"), clusters("cluster_id"), clusters("is_representative"))

  def of(clusters: DataFrame): Digest = {
    val h = rowHash(clusters)
    val r = clusters.agg(count(lit(1)),
      coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)),
      coalesce(bit_xor(h), lit(0L))).collect()(0)
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

/** Pair quality against the generator's ground truth. */
final case class Quality(recall: Double, precision: Double)

object Quality {
  private def pairs(n: Long): Double = n.toDouble * (n - 1) / 2

  /** Recall = planted duplicate pairs that share a cluster ÷ planted
    * duplicate pairs; precision = co-clustered pairs that share a truth
    * family ÷ co-clustered pairs. Both come from per-(cluster, family)
    * page counts, so no pair is ever enumerated. `clusters` must label
    * every one of the `nTruth` pages of `truth` exactly once. The same
    * job also yields the clusters' [[Digest]].
    */
  def of(clusters: DataFrame, truth: DataFrame, nTruth: Long): (Quality, Digest) = {
    val h = Digest.rowHash(clusters)
    val counts = clusters.select(col("url"), col("cluster_id"), h.as("h"))
      .join(truth.select("url", "family_id"), Seq("url"), "full_outer")
      .groupBy("cluster_id", "family_id")
      .agg(count(lit(1)), count(col("h")),
        coalesce(sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)),
        coalesce(bit_xor(col("h")), lit(0L)))
      .collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)), r.getLong(2),
        Digest(r.getLong(3), r.getLong(4), r.getLong(5))))
    val unmatched = counts.collect { case (c, f, n, _) if c.isEmpty || f.isEmpty => n }.sum
    val labelled = counts.map(_._3).sum
    Checks.ensure(unmatched == 0 && labelled == nTruth,
      s"clusters label $labelled rows for $nTruth pages, $unmatched of them unmatched")
    def pairsBy(key: ((Option[Any], Option[Any], Long, Digest)) => Any): Double =
      counts.groupMapReduce(key)(_._3)(_ + _).values.map(pairs).sum
    val together = counts.map(c => pairs(c._3)).sum
    val planted = pairsBy(_._2)
    val clustered = pairsBy(_._1)
    val digest = counts.map(_._4).foldLeft(Digest(0L, 0L, 0L)) { (a, b) =>
      Digest(a.rows + b.rows, a.sumLow + b.sumLow, a.xor ^ b.xor)
    }
    (Quality(
      recall = if (planted == 0) 1.0 else together / planted,
      precision = if (clustered == 0) 1.0 else together / clustered), digest)
  }
}

/** A failed correctness check. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Checks {
  val MinRecall = 0.99

  def ensure(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new CheckFailed(msg)
}
