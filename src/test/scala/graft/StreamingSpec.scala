package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{BandRow, BandRow128, CandidatePair, CandidatePair128}

case class StreamPage(url: String, warc_ts: Timestamp, text: String, lang: String)

/** Structured Streaming surface (SURVEY.md §2.7): stateless signature
  * transform, watermarked windowed aggregation, watermarked exact-dedup,
  * and stateful cross-batch LSH candidate generation.
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("streaming-spec")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  test("signatures transform is streaming-valid and matches batch values") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = Seq(
      StreamPage("u1", ts(0), "the quick brown fox jumps over the lazy dog today", "en"),
      StreamPage("u2", ts(1), "the quick brown fox jumps over the lazy dog today", "en"),
      StreamPage("u3", ts(2), "a completely different document body with other words", "en"))

    val stream = MemoryStream[StreamPage]
    stream.addData(rows: _*)
    val q = StreamingOps.signatures(stream.toDF())
      .writeStream.format("memory").queryName("sig_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val streamed = spark.table("sig_stream")
      .select("url", "content_hash", "simhash").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val batch = StreamingOps.signatures(rows.toDF())
      .select("url", "content_hash", "simhash").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap

    assert(streamed === batch)
    assert(streamed("u1")._1 === streamed("u2")._1) // exact dups share hash
    assert(streamed("u1")._1 !== streamed("u3")._1)

    // sketchBits emits the packed b-bit sketch (`bbit_minhash`, the
    // expression q_sketch_verify verifies with) — exact dups share it
    val sk = StreamingOps.signatures(rows.toDF(), sketchBits = Some(4))
      .select("url", "sketch").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap
    assert(sk("u1") === sk("u2"))
    assert(sk("u1") !== sk("u3"))
    assert(sk("u1").length === 256 * 4 / 64)
  }

  test("firstSeenByContent suppresses exact duplicates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[StreamPage]
    // default micro-batch trigger: AvailableNow would stop after batch 1
    // and never see the second addData
    val q = StreamingOps.firstSeenByContent(stream.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("first_seen")
      .outputMode("append").start()

    stream.addData(
      StreamPage("u1", ts(0), "identical page content body", "en"),
      StreamPage("u2", ts(1), "identical page content body", "en"), // dup, same batch
      StreamPage("u3", ts(2), "some other page entirely", "en"))
    q.processAllAvailable()
    stream.addData(
      StreamPage("u4", ts(3), "identical page content body", "en"), // dup, later batch
      StreamPage("u5", ts(4), "a third distinct page", "en"))
    q.processAllAvailable()
    q.stop()

    val urls = spark.table("first_seen").select("url").as[String].collect().toSet
    assert(urls.contains("u3") && urls.contains("u5"))
    // exactly ONE of the three identical pages survives (the same-batch
    // survivor among u1/u2 is unspecified — no event-time order within a
    // batch); u4 arrives in a LATER batch and must always be suppressed
    assert(urls.intersect(Set("u1", "u2", "u4")).size === 1)
    assert(!urls.contains("u4"))
  }

  test("pagesPerWindow watermarked sliding-window counts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[StreamPage]
    stream.addData(
      StreamPage("u1", ts(0), "t", "en"),
      StreamPage("u2", ts(1), "t", "en"),
      StreamPage("u3", ts(7), "t", "de"))
    // streaming run (append mode holds windows open until the watermark
    // passes, so only plan validity is asserted here)…
    val q = StreamingOps.pagesPerWindow(stream.toDF(), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    // …and the same transform over a batch frame pins the window math
    val batch = StreamingOps.pagesPerWindow(
      Seq(
        StreamPage("u1", ts(0), "t", "en"),
        StreamPage("u2", ts(1), "t", "en"),
        StreamPage("u3", ts(7), "t", "de")).toDF(),
      "10 minutes", "5 minutes")
    val rows = batch.collect()
    // u1,u2 fall in windows [9:55,10:05) and [10:00,10:10); u3 in
    // [10:00,10:10) and [10:05,10:15)
    val en0005 = rows.find(r => r.getString(2) == "en" &&
      r.getTimestamp(0) == Timestamp.valueOf("2026-01-01 10:00:00")).get
    assert(en0005.getLong(3) === 2L)
    val de0005 = rows.find(r => r.getString(2) == "de" &&
      r.getTimestamp(0) == Timestamp.valueOf("2026-01-01 10:05:00")).get
    assert(de0005.getLong(3) === 1L)
  }

  test("streamingCandidates pairs near-dups across micro-batches with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[BandRow]
    val q = StreamingOps.streamingCandidates(stream.toDS(), maxPerBucket = 3,
      watermarkDelay = "10 minutes", bucketIdleGapMs = 30L * 60 * 1000)
      .writeStream.format("memory").queryName("stream_cands")
      .outputMode("append").start()

    // batch 1: ids 1,2 share bucket (0, 100); id 9 alone in (1, 200)
    stream.addData(BandRow(1, 0, 100, ts(0)), BandRow(2, 0, 100, ts(0)),
      BandRow(9, 1, 200, ts(0)))
    q.processAllAvailable()
    // batch 2: id 3 joins bucket (0,100) → pairs with 1 and 2 (cross-batch);
    // ids 4,5 overflow the cap → chain
    stream.addData(BandRow(3, 0, 100, ts(1)), BandRow(4, 0, 100, ts(1)),
      BandRow(5, 0, 100, ts(1)))
    q.processAllAvailable()
    // batch 3: event time jumps 3 hours → the watermark passes every
    // bucket's (newest arrival + 30 min idle gap), expiring their state;
    // id 6 then reopens bucket (0,100) EMPTY → no pair with pre-expiry
    // members (bounded-state watermark contract)
    stream.addData(BandRow(50, 7, 900, ts(180)))
    q.processAllAvailable()
    stream.addData(BandRow(6, 0, 100, ts(181)))
    q.processAllAvailable()
    q.stop()

    val pairs = spark.table("stream_cands").as[CandidatePair].collect().toSet
    assert(pairs.contains(CandidatePair(1, 2))) // same batch
    assert(pairs.contains(CandidatePair(1, 3)) && pairs.contains(CandidatePair(2, 3))) // cross batch
    // chain connectivity for overflow arrivals
    assert(pairs.contains(CandidatePair(3, 4)) && pairs.contains(CandidatePair(4, 5)))
    // no pair for the lone member of bucket (1,200)
    assert(!pairs.exists(p => p.a == 9 || p.b == 9))
    // expired bucket: id 6 must NOT pair with the pre-expiry members
    assert(!pairs.exists(p => p.a == 6 || p.b == 6))
  }

  test("sketch verification is streaming-valid: stream-static joins match batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.functions.{bbit_minhash, word_shingles}
    // static sketch state (the 10¹²-row side); candidates arrive as a stream
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "v w x y z"))
      .toDF("id", "text")
    val sketches = docs.select(col("id"),
      bbit_minhash(word_shingles(col("text"), 1, 42L), 128, 8, 42L).as("sketch"))
      .cache()
    val expected = graft.dedup.SketchVerify
      .verifyPairs(Seq((1L, 2L), (1L, 3L)).toDF("a", "b"), sketches, 128, 8, 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(expected === Set((1L, 2L, 1.0))) // identical docs verify; disjoint don't

    val stream = MemoryStream[(Long, Long)]
    val q = graft.dedup.SketchVerify
      .verifyPairs(stream.toDS().toDF("a", "b"), sketches, 128, 8, 0.9)
      .writeStream.format("memory").queryName("sketch_stream")
      .outputMode("append").start()
    stream.addData((1L, 2L))
    stream.addData((1L, 3L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sketch_stream").as[(Long, Long, Double)].collect().toSet
    assert(got === expected)
  }

  test("streamingCandidates128: struct ids emit the same pairs as the 64-bit operator") {
    // The batch pipeline's either-width contract, carried to the streaming
    // surface: the same event sequence through the 64-bit operator and the
    // 128-bit operator (high half pinned to a constant) must emit identical
    // pairs — ordering is (h1, h2) lexicographic, which with a constant h2
    // reduces to the 64-bit order, including the hot-bucket chain adjacency.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val events = Seq(
      // bucket (0,100) overflows maxPerBucket=3 → chain regime too
      Seq((1L, 0, 100L, 0), (2L, 0, 100L, 0), (9L, 1, 200L, 0)),
      Seq((3L, 0, 100L, 1), (4L, 0, 100L, 1), (5L, 0, 100L, 1)))
    val h2 = 7L

    val s64 = MemoryStream[BandRow]
    val q64 = StreamingOps.streamingCandidates(s64.toDS(), maxPerBucket = 3)
      .writeStream.format("memory").queryName("w64")
      .outputMode("append").start()
    events.foreach { batch =>
      s64.addData(batch.map { case (id, b, k, m) => BandRow(id, b, k, ts(m)) })
      q64.processAllAvailable()
    }
    q64.stop()

    val s128 = MemoryStream[BandRow128]
    val q128 = StreamingOps.streamingCandidates128(s128.toDS(), maxPerBucket = 3)
      .writeStream.format("memory").queryName("w128")
      .outputMode("append").start()
    events.foreach { batch =>
      s128.addData(batch.map { case (id, b, k, m) => BandRow128(id, h2, b, k, ts(m)) })
      q128.processAllAvailable()
    }
    q128.stop()

    val p64 = spark.table("w64").as[CandidatePair].collect()
      .map(p => (p.a, p.b)).toSet
    val p128 = spark.table("w128").as[CandidatePair128].collect()
    assert(p128.forall(p => p.a2 == h2 && p.b2 == h2))
    assert(p128.map(p => (p.a1, p.b1)).toSet === p64)
    assert(p64.nonEmpty)
  }

  test("streamingCandidates restart: state recovers from checkpoint, committed batches not replayed") {
    // Pins the documented at-least-once contract's happy path: bucket
    // state survives a stop/restart (cross-restart pairs still emitted)
    // and committed offsets are not reprocessed (no duplicate emission of
    // earlier pairs). Replay-on-crash duplicates are absorbed by the
    // idempotent downstream (edge set → connected components).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("stream-restart-").toString
    val stream = MemoryStream[BandRow]

    // foreachBatch sink (memory sink does not support checkpoint recovery);
    // collected per run so replay vs no-replay is observable
    def startQuery(sink: scala.collection.concurrent.TrieMap[Long, Seq[CandidatePair]]) =
      StreamingOps.streamingCandidates(stream.toDS(), maxPerBucket = 8,
        watermarkDelay = "10 minutes", bucketIdleGapMs = 30L * 60 * 1000)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[CandidatePair], batchId: Long) =>
          sink(batchId) = df.collect().toSeq
        }
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()

    val sink1 = scala.collection.concurrent.TrieMap.empty[Long, Seq[CandidatePair]]
    val q1 = startQuery(sink1)
    stream.addData(BandRow(1, 0, 100, ts(0)), BandRow(2, 0, 100, ts(0)))
    q1.processAllAvailable()
    q1.stop()
    assert(sink1.values.flatten.toSet === Set(CandidatePair(1, 2)))

    // restart from the same checkpoint; new data joins the SAME bucket
    stream.addData(BandRow(3, 0, 100, ts(1)))
    val sink2 = scala.collection.concurrent.TrieMap.empty[Long, Seq[CandidatePair]]
    val q2 = startQuery(sink2)
    q2.processAllAvailable()
    q2.stop()
    val run2 = sink2.values.flatten.toSet

    // state recovered: id 3 pairs with BOTH pre-restart members
    assert(run2.contains(CandidatePair(1, 3)) && run2.contains(CandidatePair(2, 3)))
    // committed batch not replayed: (1,2) is not re-emitted
    assert(!run2.contains(CandidatePair(1, 2)))
  }
  test("curation gates, split assignment, and chunking are streaming-valid (narrow exprs)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = Seq(
      (1L, "This is a fine first sentence. It has plenty of words in it. And a third sentence closes it."),
      (2L, "short"),
      (3L, "Another good document sentence here today friends. More of the same kind follows now. The end arrives with this one."))

    val stream = MemoryStream[(Long, String)]
    stream.addData(rows: _*)
    val annotated = graft.text.Curation
      .annotate(stream.toDF().toDF("doc_id", "text"), "doc_id", "text",
        graft.text.Curation.Config(lang = None))
      .withColumn("split",
        graft.text.Mixing.splitAssign(col("doc_id"), "st", Seq("train" -> 0.5, "test" -> 0.5)))
    val chunked = graft.text.Chunking.fixedTokenWindows(annotated, col("ctext"), 8, 6)
      .select("doc_id", "survived", "split", "chunk_id", "chunk_tokens")
    val q = chunked.writeStream.format("memory").queryName("cur_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val streamed = spark.table("cur_stream").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getString(2), r.getInt(3), r.getInt(4))).toSet
    // identical rows from the batch plan over the same input
    val batchAnn = graft.text.Curation
      .annotate(rows.toDF("doc_id", "text"), "doc_id", "text",
        graft.text.Curation.Config(lang = None))
      .withColumn("split",
        graft.text.Mixing.splitAssign(col("doc_id"), "st", Seq("train" -> 0.5, "test" -> 0.5)))
    val batch = graft.text.Chunking.fixedTokenWindows(batchAnn, col("ctext"), 8, 6)
      .select("doc_id", "survived", "split", "chunk_id", "chunk_tokens").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getString(2), r.getInt(3), r.getInt(4))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("encoding repair, compression ratio, and BPE encode are streaming-valid") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = Seq(
      (1L, graft.text.EncodingFix.mojibake("the café’s naïve résumé")),
      (2L, "clean ascii body with some repetition repetition repetition"),
      (3L, "lowest newest widest"))
    val merges = Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"))

    def ops(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id"),
      graft.text.EncodingFix.fixMojibake(col("text")).as("fixed"),
      graft.functions.compression_ratio(col("text")).as("ratio"),
      concat_ws(" ", graft.functions.bpe_encode(col("text"), merges)).as("sub"))

    val stream = MemoryStream[(Long, String)]
    stream.addData(rows: _*)
    val q = ops(stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("enc_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3))
    val streamed = spark.table("enc_stream").collect().map(key).toSet
    val batch = ops(rows.toDF("doc_id", "text")).collect().map(key).toSet
    assert(streamed === batch)
    assert(streamed.map(_._2).exists(_.contains("café’s")))
  }

  test("page meta, anchors, URL resolution, robots verdicts are streaming-valid") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.functions.{extract_anchors, page_meta, resolve_url, robots_allowed, robots_rules}
    val robotsTxt = "User-agent: *\nDisallow: /private\nAllow: /private/ok"
    val rows = Seq(
      (1L, "https://a.example/private/x",
        """<html lang="en"><head><title>T</title>
          |<link rel="canonical" href="/canon"></head>
          |<body><a href="../x">Up</a><a href="/private/y">Deny</a></body>""".stripMargin),
      (2L, "https://b.example/private/ok/z", "<p>no declarations</p>"))

    def ops(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id"),
      col("m.title").as("title"),
      col("m.canonical").as("canonical"),
      concat_ws("|", org.apache.spark.sql.functions.transform(
        extract_anchors(col("html")),
        a => concat_ws("=>", a.getField("href"), a.getField("text")))).as("anchors"),
      resolve_url(col("url"), lit("../rel")).as("resolved"),
      robots_allowed(robots_rules(lit(robotsTxt), "graftbot"),
        graft.text.RobotsGate.pathQueryOf(col("url"))).as("allowed"))

    def withMeta(df: org.apache.spark.sql.DataFrame) =
      ops(df.withColumn("m", page_meta(col("html"))))

    val stream = MemoryStream[(Long, String, String)]
    stream.addData(rows: _*)
    val q = withMeta(stream.toDF().toDF("doc_id", "url", "html"))
      .writeStream.format("memory").queryName("meta_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), Option(r.getString(1)), Option(r.getString(2)),
        r.getString(3), r.getString(4), r.getBoolean(5))
    val streamed = spark.table("meta_stream").collect().map(key).toSet
    val batch = withMeta(rows.toDF("doc_id", "url", "html")).collect().map(key).toSet
    assert(streamed === batch)
    // the robots verdicts exercised both branches: /private/x denied, the
    // longer /private/ok allow rescues row 2
    assert(streamed.collect { case t if t._1 == 1L => t._6 } === Set(false))
    assert(streamed.collect { case t if t._1 == 2L => t._6 } === Set(true))
    assert(streamed.exists(t => t._2 === Some("T") && t._3 === Some("/canon")))
  }

  test("dup-probe family sample and cluster-keyed split are streaming-valid") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // ingest-time probe sampling (the decision is a pure row function, so
    // the streamed keep set equals the batch keep set) + splitByCluster
    // label (narrow projection over a cluster-id column)
    val rows = (0L until 40L).map(i => (i, s"fam ${i % 12}", i % 12))
    def ops(df: org.apache.spark.sql.DataFrame) =
      graft.text.Mixing.splitByCluster(
        graft.dedup.DedupProbe.familySample(df, col("text"), 0.5, "sp"),
        col("cluster_id"), "sp2", Seq("train" -> 0.7, "test" -> 0.3))
        .select("doc_id", "text", "split")
    val stream = MemoryStream[(Long, String, Long)]
    stream.addData(rows: _*)
    val q = ops(stream.toDF().toDF("doc_id", "text", "cluster_id"))
      .writeStream.format("memory").queryName("probe_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getString(1), r.getString(2))
    val streamed = spark.table("probe_stream").collect().map(key).toSet
    val batch = ops(rows.toDF("doc_id", "text", "cluster_id")).collect().map(key).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty && streamed.size < 40, "sample kept a strict subset")
    // families sampled whole (full true size) and labeled identically
    val trueSize = rows.groupBy(_._2).view.mapValues(_.size).toMap
    streamed.groupBy(_._2).foreach { case (fam, g) =>
      assert(g.size === trueSize(fam), s"family '$fam' thinned in stream")
      assert(g.map(_._3).size === 1, s"family '$fam' split across labels")
    }
  }
}
