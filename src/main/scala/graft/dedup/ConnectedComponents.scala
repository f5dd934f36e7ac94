package graft.dedup

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Connected components with min-id labels. An edge set of at most
  * [[LocalSolveMaxEdges]] canonical edges is collected and solved by
  * union-find on the driver: zero rounds, the reference's in-memory grouping
  * pass (its `src/dedupe.rs:592-690`) with transitive closure instead of
  * greedy stars. A larger one runs alternating large-star/small-star to a
  * fixpoint (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14; cf. BTS ICDE 2024 in PAPERS.md): O(log n) rounds, each a
  * groupBy + co-partitioned join — no collect_list, so a hot component (one
  * node with 10^9 neighbors) never materializes a neighbor array. The star
  * path stays because it is the only one that scales past the driver's heap.
  * The min-id labels do not depend on the algorithm, so both paths return
  * the same rows with the same schema.
  *
  * Every accepted pair stays connected (CC ⊇ greedy-star pairs ⇒ dup-pair
  * recall vs the reference is preserved; see SURVEY.md §2.4 for the
  * precision-side delta).
  */
object ConnectedComponents {

  /** 2^20 edges stay under ~100 MB of driver heap even as boxed rows. */
  val LocalSolveMaxEdges: Int = 1 << 20

  /** edges: DataFrame(a, b) with both columns either long (narrower numerics
    * are coerced) or the same struct-of-longs (the 128-bit doc id);
    * undirected, a != b (self-loops ok, ignored). Returns
    * DataFrame(id, component) covering every id present in the edge set;
    * component = min id of the component (field-wise min for structs).
    *
    * Durability (star path only, as is `maxIterations`): `localCheckpoint`
    * blocks are executor-local — an executor loss mid-fixpoint kills the job
    * on a real cluster (no lineage left to recompute). With `durable = Some((store, k))`, every k-th star round
    * is ALSO written through the [[graft.io.StageStore]] (reliable storage,
    * stages `<prefix>_round_<i>`), and a restarted run FAST-FORWARDS to the
    * latest persisted round instead of redoing the fixpoint from round 0.
    * Rounds are pure functions of the (deterministic) input edge set, so a
    * resumed fixpoint is bit-identical to an uninterrupted one. At default
    * k=5 a short fixpoint (O(log n) rounds; 3-4 on most corpora) writes
    * nothing extra; only genuinely long fixpoints pay the durable writes.
    */
  def run(edges: DataFrame, maxIterations: Int = 50,
      durable: Option[(graft.io.StageStore, Int)] = None,
      durablePrefix: String = "cc"): DataFrame =
    run(edges, maxIterations, durable, durablePrefix, LocalSolveMaxEdges)

  /** [[run]] with the local-solve limit as a parameter; 0 forces the star path. */
  private[graft] def run(edges: DataFrame, maxIterations: Int,
      durable: Option[(graft.io.StageStore, Int)], durablePrefix: String,
      localSolveMaxEdges: Int): DataFrame = {
    durable.foreach { case (_, k) => require(k >= 1, "durable interval must be >= 1") }

    // Fast-forward: resume from the latest durably-persisted round. Rounds
    // are discovered by NAME SCAN over the store (not bounded by the
    // current maxIterations), so a resume with a smaller cap still finds
    // rounds persisted beyond it.
    val latestRound = durable.flatMap { case (store, _) =>
      val prefix = s"${durablePrefix}_round_"
      store.stages(prefix).flatMap(_.stripPrefix(prefix).toIntOption).maxOption
    }

    // Ids may be longs (narrow numeric inputs coerced to long) or structs
    // (the 128-bit two-long id): every operation below — least/greatest,
    // min, >, equi-join, distinct — is field-wise orderable on structs, so
    // the fixpoint is width-agnostic.
    val canonInput = edges.schema("a").dataType match {
      case _: StructType => edges.select(col("a"), col("b"))
      case _ => edges.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
    }
    val canon = canonInput
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()

    // A bounded collect decides whether the edge set fits and, if it does,
    // is the local solve's whole input. A persisted round is resumed instead.
    if (latestRound.isEmpty && localSolveMaxEdges > 0) {
      val rows = canon.limit(localSolveMaxEdges + 1).collect()
      if (rows.length <= localSolveMaxEdges)
        return unionFind(edges.sparkSession, rows, labels(canon).schema)
    }

    // Guard the durable prefix against a different edge set: persisted
    // rounds are pure functions of the input, so fast-forwarding from
    // rounds computed on OTHER data would silently corrupt the result.
    // Fingerprint = (row count, XOR of per-edge hashes) over the RAW input
    // (one narrow agg scan, no shuffle; count disambiguates XOR
    // cancellation of repeated rows). Written on first run, verified on
    // resume, mismatch refuses.
    durable.foreach { case (store, _) =>
      import java.nio.file.{Files, Paths}
      // same (count, xor-of-edge-hashes) form as the fixpoint check — one
      // helper so the two can never silently diverge
      val (n, h) = signature(edges)
      val fingerprint = s"""{"input_count":$n,"input_xor":$h}"""
      val path = Paths.get(store.root, s"${durablePrefix}_META.json")
      if (Files.exists(path)) {
        val stored = Files.readString(path)
        require(stored == fingerprint,
          s"durable union-find prefix '$durablePrefix' under ${store.root} was " +
            s"written for a different edge set:\n  stored:  $stored\n  " +
            s"current: $fingerprint\nUse a fresh prefix or checkpoint dir.")
      } else {
        Files.createDirectories(path.getParent)
        Files.writeString(path, fingerprint)
      }
    }

    var current = (durable, latestRound) match {
      case (Some((store, _)), Some(i)) => store.read(s"${durablePrefix}_round_$i")
      case _ => canon.localCheckpoint(true)
    }

    var converged = false
    var iter = latestRound.getOrElse(0)
    var prevSig = signature(current)
    while (!converged && iter < maxIterations) {
      val round = iter + 1
      val next = smallStar(largeStar(current))
      val afterSmall = durable match {
        case Some((store, k)) if round % k == 0 =>
          store.getOrCompute(s"${durablePrefix}_round_$round")(next)
        case _ => next.localCheckpoint(true)
      }
      // probe convergence every round: the probe is one count/xor agg job,
      // far cheaper than the extra star round (two shuffles + an eager
      // checkpoint) that a skipped probe would let run
      val sig = signature(afterSmall)
      converged = sig == prevSig
      prevSig = sig
      current = afterSmall
      iter += 1
    }
    labels(current)
  }

  /** Min-id labels of a converged edge set: a forest of stars (a=center <
    * b=member) rooted at component minima. Also the local solve's schema. */
  private def labels(forest: DataFrame): DataFrame = {
    val members = forest.select(col("b").as("id"), col("a").as("component"))
    val roots = forest.select(col("a").as("id")).distinct()
      .withColumn("component", col("id"))
    members.union(roots)
      .groupBy("id").agg(min("component").as("component"))
  }

  /** Union-find over a collected canonical edge set. Ids are sorted in Spark's
    * order and a union hangs the larger-index root under the smaller, so every
    * root is its component's min id. */
  private def unionFind(spark: SparkSession, rows: Array[Row], schema: StructType): DataFrame = {
    // Spark's order: a signed long, or a struct of longs field-wise
    val order: Ordering[Any] = schema("id").dataType match {
      case _: StructType => Ordering.Implicits.seqOrdering[Seq, Long].on[Any](
        _.asInstanceOf[Row].toSeq.asInstanceOf[Seq[Long]])
      case _ => Ordering.Long.on[Any](_.asInstanceOf[Long])
    }
    val ids = rows.iterator.flatMap(r => Iterator(r.get(0), r.get(1)))
      .distinct.toArray.sorted(order)
    val parent = Array.range(0, ids.length)
    def find(x: Int): Int = { // iterative: a path can be 2^20 nodes deep
      var root = x
      while (parent(root) != root) root = parent(root)
      var c = x
      while (parent(c) != root) { val next = parent(c); parent(c) = root; c = next }
      root
    }
    def indexOf(id: Any): Int = ids.search(id)(order).insertionPoint
    rows.foreach { r =>
      val (ra, rb) = (find(indexOf(r.get(0))), find(indexOf(r.get(1))))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val out = ids.indices.map(i => Row(ids(i), ids(find(i))))
    spark.createDataFrame(java.util.Arrays.asList(out: _*), schema)
  }

  /** large-star: for each node u, connect every strictly-larger neighbor to
    * the minimum of N(u) ∪ {u}. Implemented as groupBy(min) + re-join on the
    * same key (co-partitioned, no second shuffle under AQE).
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
    val mins = sym.groupBy("a").agg(min(col("b")).as("mb"))
      .withColumn("m", least(col("a"), col("mb")))
      .select("a", "m")
    sym.join(mins, "a")
      .filter(col("b") > col("a"))
      .select(col("m").as("a"), col("b")) // m ≤ a < b ⇒ already canonical
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** small-star: orient each edge to (big, small); connect all smaller
    * neighbors (and the node itself) to the minimum.
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges.select(
      greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
    val mins = oriented.groupBy("u").agg(min(col("v")).as("m"))
    val relinked = oriented.join(mins, "u")
      .filter(col("v") =!= col("m"))
      .select(col("m").as("a"), col("v").as("b"))
    val selfLinks = mins.select(col("m").as("a"), col("u").as("b"))
    relinked.union(selfLinks)
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** Cheap fixpoint signature: (edge count, XOR of per-edge hashes) — the
    * edge set is distinct, so XOR is a valid order-independent set signature
    * and cannot overflow under ANSI mode. Equal signatures across an
    * iteration ⇒ the canonical edge set is unchanged.
    */
  private def signature(edges: DataFrame): (Long, Long) = {
    val row = edges.agg(
      count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(col("a"), col("b"))), lit(0L)).as("h")).collect()(0)
    (row.getLong(0), row.getLong(1))
  }
}
