package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.cosine_sim

/** Semantic deduplication (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
  * embedding-space near-duplicate pruning for training corpora. Documents
  * whose embeddings sit within cosine `eps` of each other are semantic
  * duplicates even when their text differs (translations, paraphrases,
  * templated rewrites); the paper's recipe — k-means the corpus, compare
  * pairs only WITHIN a cell, keep one member per duplicate group — bounds
  * the quadratic pair cost by the cell size instead of the corpus size.
  *
  * This implementation generalizes the reference pipeline's dedup shape
  * (candidate pairs → verified edges → connected components → deterministic
  * representative) to the embedding domain, reusing the battle-tested
  * pieces: [[Ann.autoCodebook]] cells, [[graft.dedup.PairEmission]] skew
  * policy, [[graft.dedup.ConnectedComponents]] grouping, and the
  * partial-agg `min_by` + join-back representative selection (never a
  * window over a hot key).
  *
  * Scale design (the part the paper leaves to the reader):
  *   - Cell assignment is a NARROW per-row argmax over the in-plan codebook
  *     (no shuffle; see [[Ann.withNearestCells]]).
  *   - Cells at or under `maxCellSize` get exact all-pairs emission — one
  *     repartition by cell + in-partition streaming emission, O(c²) per
  *     cell bounded by construction.
  *   - Cells OVER `maxCellSize` (codebook skew, duplicate floods) do NOT
  *     degrade to an O(c²) hot task: their rows re-bucket by sign-LSH bands
  *     WITHIN the cell (random-hyperplane signatures, Charikar 2002). At
  *     SemDeDup's operating point (eps ≥ 0.9) band collision probability is
  *     ≈1 for true pairs, so recall survives while the hot cell's cost
  *     drops to bucket-local. Sub-buckets that are THEMSELVES huge are
  *     near-parallel vector floods — the id-ordered chain keeps them
  *     connected at O(n) output (the [[graft.dedup.PairEmission]]
  *     contract), and `hotCellAcc` observes every activation.
  *   - Candidate pairs are verified with exact cosine via two
  *     shuffled-hash joins against the slim (id, vec) projection — the
  *     same physical shape as the MinHash verify stage.
  *   - The keep-rule is the paper's: within a duplicate group keep the
  *     member LEAST similar to its cell centroid (it carries the most
  *     signal the prototype lacks), ties broken toward the smaller id.
  *     Computed as a partial-agg `min_by` + join-back: skew-safe under
  *     10⁶-member groups.
  *
  * Reference anchor: biblib's dedupe groups-then-representative contract
  * (dedupe.rs — pairwise match → group → keep preferred member), carried
  * to the embedding domain.
  */
object SemDeDup {

  /** Core resolver over a pre-assigned corpus: `df` must carry
    * `(id: long, vec: array<float>, cell: long, rank: double)` — `rank` is
    * the keep-preference (SMALLEST kept; [[semDeDup]] passes
    * cosine-to-centroid). Returns one row per input row:
    * `(id, component, kept)` with `component` = min id of the duplicate
    * group (own id for singletons) and exactly one `kept = true` per
    * component.
    */
  def resolveWithCells(df: DataFrame, eps: Double,
      maxCellSize: Int = 4096,
      bands: Int = 8, rowsPerBand: Int = 8, seed: Long = 42L,
      hotCellAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val edges = candidateEdges(df, eps, maxCellSize, bands, rowsPerBand,
      seed, hotCellAcc)

    val comps = graft.dedup.ConnectedComponents.run(edges)

    val members = df.select(col("id"), col("rank"))
      .join(comps, Seq("id"), "left")
      .withColumn("component", coalesce(col("component"), col("id")))

    // skew-safe representative: partial-agg min_by + join-back (a window
    // over `component` would funnel a 10⁶-member duplicate flood through
    // one task — the anti-scaling shape PlanAuditSpec guards against)
    val keepers = members.groupBy("component")
      .agg(min_by(col("id"), struct(col("rank"), col("id"))).as("keeper"))
    members
      .join(keepers, "component")
      .select(col("id"), col("component"), (col("id") === col("keeper")).as("kept"))
  }

  /** The verified duplicate-edge plan (tiers 1+2 candidate emission +
    * exact-cosine verification) — the lazy sub-plan [[resolveWithCells]]
    * feeds to connected components, exposed so the physical-plan audit can
    * assert its shape (CC materializes eagerly, which hides upstream
    * operators from the final plan).
    */
  def candidateEdges(df: DataFrame, eps: Double,
      maxCellSize: Int = 4096,
      bands: Int = 8, rowsPerBand: Int = 8, seed: Long = 42L,
      hotCellAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    require(bands >= 1 && rowsPerBand >= 1 && bands * rowsPerBand <= 64)

    val slim = df.select(col("id"), col("vec"), col("cell"))

    // cell occupancy: nlist-bounded partial agg, broadcast back — splits the
    // corpus into the exact-all-pairs tier and the sub-banded tier without
    // a second full scan shape (one join against a tiny aggregate)
    val counts = slim.groupBy("cell").agg(count(lit(1)).as("cell_n"))
    val sized = slim.join(broadcast(counts), "cell")

    // tier 1: bounded cells — exact all-pairs per cell. maxAllPairs is the
    // tier bound itself, so emission never chains here.
    val smallPairs = graft.dedup.PairEmission.bucketPairs(
      sized.filter(col("cell_n") <= maxCellSize).withColumn("k2", lit(0L)),
      Seq("cell", "k2"), order = Seq("id"), value = col("id"),
      maxAllPairs = maxCellSize)

    // tier 2: oversized cells — sign-LSH sub-banding inside the cell.
    // Bucket key = (cell, key · bands + band). Cell ids may be ARBITRARY
    // 64-bit values (the hash-pick codebook uses corpus row ids; the core
    // API accepts user-assigned cells), so the cell stays its own key part;
    // the (key, band) fold is safe by the band geometry: with bands ≥ 2,
    // key < 2^(64/bands) so key·bands+band < 2^38, and with bands == 1 the
    // fold is the identity.
    val bigPairs = graft.dedup.PairEmission.bucketPairs(
      Ann.bandExplode(sized.filter(col("cell_n") > maxCellSize), "vec",
          Seq("id", "cell"), bands, rowsPerBand, seed)
        .withColumn("key", col("key") * bands + col("band")),
      Seq("cell", "key"), order = Seq("id"), value = col("id"),
      maxAllPairs = maxCellSize, chainHuge = true,
      onHot = () => hotCellAcc.foreach(_.add(1L)))

    val pairs = smallPairs.union(bigPairs).distinct()

    // exact-cosine verification on the slim vector table (shuffled-hash:
    // both sides are large and hash-joinable; sort-merge would add two sorts)
    val vecs = df.select(col("id"), col("vec"))
    pairs
      .hint("shuffle_hash")
      .join(vecs.withColumnsRenamed(Map("id" -> "a", "vec" -> "va")), "a")
      .hint("shuffle_hash")
      .join(vecs.withColumnsRenamed(Map("id" -> "b", "vec" -> "vb")), "b")
      .filter(cosine_sim(col("va"), col("vb")) >= eps)
      .select("a", "b")
  }

  /** Full SemDeDup: build (or accept) an IVF codebook, assign each row to
    * its nearest cell (narrow argmax), rank members by similarity to their
    * centroid, and resolve duplicate groups with [[resolveWithCells]].
    * `corpus`: (id: long, vec: array<float>).
    */
  def semDeDup(corpus: DataFrame, eps: Double, nlist: Int = 16,
      codebook: Option[Seq[(Long, Seq[Float])]] = None,
      maxCellSize: Int = 4096, seed: Long = 42L,
      hotCellAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val cents = codebook.getOrElse(Ann.cachedAutoCodebook(corpus, nlist, seed = seed))
    val centArr = typedLit(cents)
    def maxCos(v: Column): Column =
      aggregate(centArr, lit(-1.0d), (acc, c) => greatest(acc, cosine_sim(c.getField("_2"), v)))
    val assigned = Ann.withNearestCells(corpus, "vec", 1, cents)
      // rank = cosine to the assigned centroid (== the max over the
      // codebook, recomputed narrowly — no join, no shuffle); SemDeDup
      // keeps the LEAST-prototypical member, so min rank wins
      .withColumn("rank", maxCos(col("vec")))
    resolveWithCells(assigned, eps, maxCellSize,
      seed = seed, hotCellAcc = hotCellAcc)
  }
}
