package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col => c, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._
import graft.kernel.Shingling

/** Spark-side tests for the Catalyst expression layer: null propagation,
  * Column API, SQL registration, and agreement with the pure kernel.
  */
class ExprSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def onceRegistered(): SparkSession = { functions.registerAll(spark); spark }

  test("normalize_text column + null propagation") {
    val s = onceRegistered()
    import s.implicits._
    val df = Seq(
      Some("Machine Learning! (2<sup>nd</sup> Edition)"),
      Some("2<U+0391>-amino"), Some(""), None
    ).toDF("t")
    val got = df.select(normalize_text($"t")).as[Option[String]].collect().toSeq
    assert(got === Seq(Some("machinelearning2ndedition"), Some("2aamino"), None, None))
  }

  test("SQL registration round-trip") {
    val s = onceRegistered()
    val row = s.sql(
      """SELECT graft_format_doi('HTTPS://DOI.ORG/10.1000/TEST') AS doi,
        |       graft_format_issn('1234-567X (Electronic)') AS issn,
        |       graft_format_pages('R575-82') AS pages,
        |       graft_normalize_volume('Part A. 242') AS vol,
        |       graft_jaro('MARTHA', 'MARHTA') AS j,
        |       graft_lcs_length('banana', 'ananas') AS lcs
        |""".stripMargin).collect()(0)
    assert(row.getString(0) === "10.1000/test")
    assert(row.getString(1) === "1234-567X")
    assert(row.getString(2) === "R575-R582")
    assert(row.getString(3) === "242")
    assert(math.abs(row.getDouble(4) - 0.944444) < 1e-5)
    assert(row.getInt(5) === 5)
  }

  test("jaro/jaro_winkler: codegen path agrees with the kernel, no fallback") {
    val s = onceRegistered()
    import s.implicits._
    val cases = Seq(
      ("MARTHA", "MARHTA"), ("DWAYNE", "DUANE"), ("DIXON", "DICKSONX"),
      ("", ""), ("", "x"), ("a", "a"), ("über", "uber"), ("𝄞ab", "𝄞ab"))
    // fallback=false: a Janino compile error in doGenCode fails the query
    // instead of silently reverting to interpreted eval
    s.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val got = cases.toDF("l", "r")
        .select(jaro($"l", $"r").as("j"), jaro_winkler($"l", $"r").as("jw"))
        .collect()
      cases.zip(got).foreach { case ((l, r), row) =>
        assert(row.getDouble(0) === graft.kernel.StrSim.jaro(l, r), s"jaro($l,$r)")
        assert(row.getDouble(1) === graft.kernel.StrSim.jaroWinkler(l, r),
          s"jaroWinkler($l,$r)")
      }
      // nulls propagate through the generated null checks
      val nulls = Seq((Some("a"), None: Option[String]), (None, Some("b")))
        .toDF("l", "r").select(jaro($"l", $"r")).collect()
      assert(nulls.forall(_.isNullAt(0)))
    } finally s.conf.unset("spark.sql.codegen.fallback")
  }

  test("signature pipeline: shingles → minhash → bands, exact jaccard") {
    val s = onceRegistered()
    import s.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away"),
      (2L, "the quick brown fox jumps over the lazy dog and runs far away"), // exact dup
      (3L, "completely different words entirely unrelated content here now")
    ).toDF("id", "text")
    val sigs = docs.select(
      $"id",
      word_shingles($"text", 3).as("sh"),
      minhash(word_shingles($"text", 3), 64).as("sig"),
      simhash64(word_shingles($"text", 3)).as("sim"))
    val rows = sigs.collect().sortBy(_.getLong(0))
    assert(rows(0).getSeq[Long](1) === rows(1).getSeq[Long](1)) // same shingles
    assert(rows(0).getSeq[Long](2) === rows(1).getSeq[Long](2)) // same minhash
    assert(rows(0).getLong(3) === rows(1).getLong(3))           // same simhash
    assert(rows(0).getSeq[Long](1) !== rows(2).getSeq[Long](1))

    val pairs = sigs.as("a").join(sigs.as("b"), $"a.id" < $"b.id")
      .select($"a.id", $"b.id",
        jaccard_sorted($"a.sh", $"b.sh").as("jac"),
        hamming64($"a.sim", $"b.sim").as("ham"))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getInt(3)))).toMap
    assert(pairs((1L, 2L))._1 === 1.0)
    assert(pairs((1L, 2L))._2 === 0)
    assert(pairs((1L, 3L))._1 === 0.0)

    // the four MinHash expressions are wrappers of Shingling.minHash: equal
    // to the kernel on random and empty shingle arrays
    val rng = new scala.util.Random(7)
    val arrays = Seq.fill(20)(Array.fill(rng.nextInt(40))(rng.nextLong()).distinct.sorted) :+
      Array.empty[Long]
    val (n, bands, rws, b, seed) = (80, 16, 5, 4, 99L)
    val out = arrays.toDF("sh").select(
      minhash($"sh", n, seed), minhash_bands($"sh", bands, rws, seed),
      minhash_bands_sketch($"sh", bands, rws, b, seed), bbit_minhash($"sh", n, b, seed))
      .collect()
    arrays.zip(out).foreach { case (sh, r) =>
      val sig = Shingling.minHash(sh, n, seed)
      val bandKeys = Shingling.bandKeys(sig, bands, rws, seed).toSeq
      val sketch = Shingling.packLowBits(sig, b).toSeq
      assert(r.getSeq[Long](0) === sig.toSeq)
      assert(r.getSeq[Long](1) === bandKeys)
      assert(r.getStruct(2).getSeq[Long](0) === bandKeys)
      assert(r.getStruct(2).getSeq[Long](1) === sketch)
      assert(r.getSeq[Long](3) === sketch)
    }
    assert(Shingling.minHash(Array.empty[Long], n, seed).forall(_ == Long.MaxValue))
  }

  test("PairEmission: all-pairs below cap, chain above, drop/chain past huge cutoff") {
    import org.apache.spark.sql.{Column, Row}
    import org.apache.spark.sql.functions.struct
    import graft.dedup.PairEmission
    val s = onceRegistered()
    import s.implicits._
    def rows(buckets: (Long, Seq[Long])*): Iterator[Row] =
      buckets.iterator.flatMap { case (k, ids) => ids.map(id => Row(0L, k, id)) }
    def longPairs(out: Iterator[Row]): Vector[(Long, Long)] =
      out.map(r => (r.getLong(0), r.getLong(1))).toVector

    // bucketPairs over the same buckets (an int band key, as posexplode
    // gives), the id carried as a long, as an (h1 = id, h2 = 0) struct and
    // as a (fingerprint, id) struct: each must give the iterator's pairs
    // and fire onHot / onDropped as often, with the same dropped sizes
    def viaFrames(buckets: Seq[(Long, Seq[Long])], maxAllPairs: Int,
        hugeCutoff: Long, chainHuge: Boolean,
        pairs: Vector[(Long, Long)], hot: Long, dropped: Seq[Long]): Unit = {
      val df = buckets.flatMap { case (k, ids) => ids.map(id => (0, k, id)) }
        .toDF("band", "bucket", "id").withColumn("fp", c("bucket") * 1000L)
        .repartition(3)
      val values = Seq[(String, Column, Seq[String], Any => Long)](
        ("long", c("id"), Seq("id"), _.asInstanceOf[Long]),
        ("(h1, h2)", struct(c("id").as("h1"), lit(0L).as("h2")), Seq("id"),
          _.asInstanceOf[Row].getLong(0)),
        ("(fp, id)", struct(c("fp"), c("id")), Seq("fp", "id"),
          _.asInstanceOf[Row].getLong(1)))
      values.foreach { case (what, value, order, idOf) =>
        val hotAcc = s.sparkContext.longAccumulator
        val droppedAcc = s.sparkContext.longAccumulator
        val droppedRows = s.sparkContext.longAccumulator
        val out = PairEmission.bucketPairs(df, Seq("band", "bucket"), order, value,
            maxAllPairs, hugeCutoff, chainHuge, onHot = () => hotAcc.add(1L),
            onDropped = n => { droppedAcc.add(1L); droppedRows.add(n) })
          .collect().map(r => (idOf(r.get(0)), idOf(r.get(1)))).toVector
        assert(out.sorted === pairs.sorted, what)
        assert((hotAcc.sum, droppedAcc.sum, droppedRows.sum) ===
          ((hot, dropped.size.toLong, dropped.sum)), what)
      }
    }

    // all-pairs ≤ cap; chain above; <2 members → nothing
    val basicIn = Seq(1L -> Seq(10L, 20L, 30L), 2L -> Seq(1L, 2L, 3L, 4L, 5L),
      3L -> Seq(7L), 4L -> Seq.empty[Long])
    var basicHot = 0
    val basic = longPairs(PairEmission.emit(
      rows(basicIn: _*),
      maxAllPairs = 3, hugeCutoff = 100L, onHot = () => basicHot += 1))
    assert(basic.filter(_._1 >= 10L).toSet ===
      Set((10L, 20L), (10L, 30L), (20L, 30L)))
    assert(basic.filterNot(_._1 >= 10L).toSet ===
      Set((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    viaFrames(basicIn, 3, 100L, chainHuge = false, basic, basicHot, Nil)

    // drop-mode: bucket past hugeCutoff emits nothing, onDropped sees size
    val droppedIn = Seq(1L -> (1L to 10L), 2L -> Seq(100L, 101L))
    var dropped = List.empty[Long]
    val droppedOut = longPairs(PairEmission.emit(
      rows(droppedIn: _*),
      maxAllPairs = 2, hugeCutoff = 5L, chainHuge = false,
      onDropped = n => dropped ::= n))
    assert(droppedOut === Vector((100L, 101L)))
    assert(dropped === List(10L))
    viaFrames(droppedIn, 2, 5L, chainHuge = false, droppedOut, 0L, dropped)

    // chainHuge: same bucket chains incrementally instead, onHot fires once
    val chainedIn = Seq(1L -> (1L to 10L))
    var hot = 0
    val chained = longPairs(PairEmission.emit(
      rows(chainedIn: _*),
      maxAllPairs = 2, hugeCutoff = 5L, chainHuge = true,
      onHot = () => hot += 1))
    assert(chained === (1L to 9L).map(i => (i, i + 1)).toVector)
    assert(hot === 1)
    viaFrames(chainedIn, 2, 5L, chainHuge = true, chained, hot, Nil)
  }

  test("minhash_jaccard: exact on identical sets, tracks true jaccard on overlap") {
    val s = onceRegistered()
    import s.implicits._
    val a = (1 to 60).map(i => s"tok$i").mkString(" ")
    val b = (31 to 90).map(i => s"tok$i").mkString(" ") // true J = 30/90 = 1/3
    val z = (100 to 160).map(i => s"zzz$i").mkString(" ")
    val df = Seq((a, a, z)).toDF("a", "b", "z")
    def sig(col: String) = minhash(word_shingles(c(col), 1), 128)
    val row = df.select(
      minhash_jaccard(sig("a"), sig("b")).as("same"),
      minhash_jaccard(sig("a"), minhash(word_shingles(lit(b), 1), 128)).as("third"),
      minhash_jaccard(sig("a"), sig("z")).as("disjoint")).collect()(0)
    assert(row.getDouble(0) === 1.0)
    assert(math.abs(row.getDouble(1) - 1.0 / 3.0) < 0.15) // 128-hash estimator
    assert(row.getDouble(2) < 0.1)
  }

  test("fingerprint_set: winnowing robust to local edits; fingerprint64 digest") {
    val s = onceRegistered()
    import s.implicits._
    val base = ("the quick brown fox jumps over the lazy dog " * 8).trim
    val edited = base.replace("lazy dog", "lazy cat") // one local edit
    val df = Seq((base, base, edited)).toDF("x", "y", "e")
    val row = df.select(
      fingerprint_set(c("x")).as("fx"),
      fingerprint_set(c("y")).as("fy"),
      fingerprint_set(c("e")).as("fe"),
      fingerprint64(c("x")).as("dx"),
      fingerprint64(c("y")).as("dy"),
      fingerprint64(c("e")).as("de")).collect()(0)
    val fx = row.getSeq[Long](0)
    val fe = row.getSeq[Long](2)
    assert(fx === row.getSeq[Long](1), "identical text → identical fingerprint set")
    assert(fx === fx.sorted && fx.distinct === fx, "sorted distinct set")
    val inter = fx.toSet.intersect(fe.toSet).size.toDouble
    val union = fx.toSet.union(fe.toSet).size.toDouble
    assert(inter / union > 0.5, "local edit must preserve most fingerprints")
    assert(row.getLong(3) === row.getLong(4))
    assert(row.getLong(3) !== row.getLong(5))
  }

  test("truncate_hashes32: sorted distinct low bits; jaccard_sorted handles int arrays") {
    val s = onceRegistered()
    import s.implicits._
    // two longs sharing low 32 bits collapse to one int; output sorted
    val in = Seq((1, Seq(0x100000002L, 0x200000002L, 0x1L, -1L))).toDF("id", "h")
    val got = in.select(truncate_hashes32($"h")).as[Seq[Int]].collect()(0)
    assert(got === got.sorted && got.distinct === got)
    assert(got.toSet === Set(2, 1, -1))

    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away"),
      (2L, "the quick brown fox jumps over the lazy dog and runs far away"),
      (3L, "completely different words entirely unrelated content here now")
    ).toDF("id", "text")
    val sh32 = docs.select($"id", truncate_hashes32(word_shingles($"text", 3)).as("sh"))
    val pairs = sh32.as("a").join(sh32.as("b"), $"a.id" < $"b.id")
      .select($"a.id", $"b.id", jaccard_sorted($"a.sh", $"b.sh").as("jac"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) === 1.0)
    assert(pairs((1L, 3L)) === 0.0)
  }

  test("band_keys explode produces equi-joinable buckets") {
    val s = onceRegistered()
    import s.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("id", "text")
    val bands = docs.select($"id",
      org.apache.spark.sql.functions.posexplode(
        band_keys(minhash(word_shingles($"text", 3), 64), 16, 4)))
      .toDF("id", "band", "bucket")
    val cand = bands.as("a").join(bands.as("b"),
        c("a.band") === c("b.band") && c("a.bucket") === c("b.bucket") &&
        c("a.id") < c("b.id"))
      .select(c("a.id").as("ida"), c("b.id").as("idb")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand === Set((1L, 2L))) // dups collide; unrelated doc does not
  }
}
