package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.CdxSource

/** CDX(J) index ingestion: SURT key semantics, line framing, the digest
  * collapse's keeper determinism, and the fetch planner's range ordering.
  */
class CdxSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def surt(url: String): String = {
    import spark.implicits._
    Seq(url).toDF("u").select(CdxSource.surtKey(col("u"))).head.getString(0)
  }

  test("surtKey: host reversal, www/port/scheme/fragment drops, query sort") {
    assert(surt("https://www.Example.COM/Path/A?b=2&a=1#frag")
      === "com,example)/path/a?a=1&b=2")
    assert(surt("http://sub.example.org:80/") === "org,example,sub)/")
    assert(surt("https://example.org:443") === "org,example)/")
    // non-default port is part of the key (distinct origin)
    assert(surt("http://example.org:8080/x") === "org,example:8080)/x")
    // only the scheme's OWN default port drops: :443 on http (and :80 on
    // https) are non-default, distinct origins
    assert(surt("http://example.org:443/x") === "org,example:443)/x")
    assert(surt("https://example.org:80/x") === "org,example:80)/x")
    // schemeless input is treated as http — :80 drops, :443 stays
    assert(surt("example.org:80/x") === "org,example)/x")
    assert(surt("example.org:443/x") === "org,example:443)/x")
    // other schemes have no default port here: ftp's :80 stays
    assert(surt("ftp://example.org:80/x") === "org,example:80)/x")
    // userinfo dropped; '@' AFTER the authority is path content, kept
    assert(surt("https://user:pw@example.net/p") === "net,example)/p")
    assert(surt("https://example.net/p@q") === "net,example)/p@q")
    // a trailing bare '?' is an empty query — dropped from the key
    assert(surt("https://example.net/p?") === "net,example)/p")
  }

  test("parseLines: round trip, malformed lines dropped, numeric casts") {
    import spark.implicits._
    val ts = java.sql.Timestamp.from(java.time.Instant.parse("2026-08-01T12:34:56Z"))
    val good = Seq(("com,a)/x", ts, "https://a.com/x", "text/html", "200",
      "sha1:ABC", 1234L, 567L, "seg-0.warc.gz"))
      .toDF("k", "t", "u", "m", "s", "d", "l", "o", "f")
      .select(CdxSource.formatLine(col("k"), col("t"), col("u"), col("m"),
        col("s"), col("d"), col("l"), col("o"), col("f")).as("line"))
    val junk = Seq(
      "",                                  // empty
      "com,a)/x 2026 {\"url\": \"x\"}",    // short timestamp
      "com,a)/x 20260801123456 truncated") // payload not a JSON object
      .toDF("line")
    val rows = CdxSource.parseLines(good.union(junk)).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[String]("urlkey") === "com,a)/x")
    assert(r.getAs[java.sql.Timestamp]("ts") === ts)
    assert(r.getAs[String]("url") === "https://a.com/x")
    assert(r.getAs[String]("digest") === "sha1:ABC")
    assert(r.getAs[Long]("length") === 1234L)
    assert(r.getAs[Long]("offset") === 567L)
    assert(r.getAs[String]("filename") === "seg-0.warc.gz")
  }

  test("digestDedup: earliest (ts, urlkey, offset) kept, family size carried") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.from(java.time.Instant.parse("2026-08-01T00:00:00Z"))
    val t1 = java.sql.Timestamp.from(java.time.Instant.parse("2026-08-02T00:00:00Z"))
    val caps = Seq(
      ("com,a)/1", t1, "D1", 10L, 0L, "f0"),   // later ts loses
      ("com,a)/2", t0, "D1", 10L, 100L, "f0"), // kept: earliest ts
      ("com,b)/1", t0, "D2", 10L, 0L, "f1"),   // kept: urlkey tie-break
      ("com,b)/2", t0, "D2", 10L, 50L, "f1"),
      ("com,c)/1", t0, "D3", 10L, 0L, "f1"))   // singleton
      .toDF("urlkey", "ts", "digest", "length", "offset", "filename")
    val kept = CdxSource.digestDedup(caps)
      .select("digest", "urlkey", "n_captures").as[(String, String, Long)]
      .collect().sortBy(_._1)
    assert(kept === Array(("D1", "com,a)/2", 2L), ("D2", "com,b)/1", 2L),
      ("D3", "com,c)/1", 1L)))
  }

  test("digestDedup: republished identical lines collapse; null digests pass through") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.from(java.time.Instant.parse("2026-08-01T00:00:00Z"))
    val dupLine = ("com,a)/1", t0, "D1", 10L, 0L, "f0")
    val caps = Seq(
      dupLine, dupLine,                          // merged-shard duplicate line
      ("com,a)/2", t0, "D1", 10L, 5L, "f0"),     // same digest, later offset
      ("com,b)/1", t0, null, 7L, 0L, "f1"),      // digest-less dialect
      ("com,b)/2", t0, null, 8L, 1L, "f1"))
      .toDF("urlkey", "ts", "digest", "length", "offset", "filename")
    val kept = CdxSource.digestDedup(caps)
      .select("urlkey", "digest", "n_captures")
      .as[(String, Option[String], Long)].collect().sortBy(_._1)
    assert(kept === Array(
      ("com,a)/1", Some("D1"), 2L), // ONE keeper; family size counts distinct captures
      ("com,b)/1", None, 1L),       // null digests survive as unique
      ("com,b)/2", None, 1L)))
  }

  test("latestPerKey: newest (ts, offset) kept per key, duplicate lines collapse") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.from(java.time.Instant.parse("2026-08-01T00:00:00Z"))
    val t1 = java.sql.Timestamp.from(java.time.Instant.parse("2026-08-02T00:00:00Z"))
    val newest = ("com,a)/1", t1, "D2", 10L, 5L, "f0")
    val caps = Seq(
      ("com,a)/1", t0, "D1", 10L, 0L, "f0"),  // older capture loses
      newest, newest,                          // newest + republished line
      ("com,a)/1", t1, "D3", 10L, 3L, "f0"),  // same ts, smaller offset loses
      ("com,b)/1", t0, "D4", 7L, 0L, "f1"))   // singleton key
      .toDF("urlkey", "ts", "digest", "length", "offset", "filename")
    val kept = CdxSource.latestPerKey(caps)
      .select("urlkey", "digest", "n_captures").as[(String, String, Long)]
      .collect().sortBy(_._1)
    assert(kept === Array(("com,a)/1", "D2", 3L), ("com,b)/1", "D4", 1L)))
  }

  test("digestDedup/latestPerKey: null keeper fields don't drop the family") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.from(java.time.Instant.parse("2026-08-01T00:00:00Z"))
    // null offset (dialect without offset attributes) and null ts (invalid
    // 14-digit timestamp under non-ANSI to_timestamp) — the min/max keeper
    // struct then carries nulls, and a null-unsafe join-back would drop
    // the ENTIRE digest family
    val caps = Seq(
      ("com,a)/1", Some(t0), "D1", 10L, None: Option[Long], "f0"),
      ("com,a)/2", Some(t0), "D1", 10L, Some(5L), "f0"),
      ("com,b)/1", None: Option[java.sql.Timestamp], "D2", 7L, Some(0L), "f1"))
      .toDF("urlkey", "ts", "digest", "length", "offset", "filename")
    val kept = CdxSource.digestDedup(caps)
      .select("digest", "urlkey", "n_captures").as[(String, String, Long)]
      .collect().sortBy(_._1)
    assert(kept === Array(("D1", "com,a)/1", 2L), ("D2", "com,b)/1", 1L)))
    val latest = CdxSource.latestPerKey(caps, "digest")
      .select("digest", "urlkey", "n_captures").as[(String, String, Long)]
      .collect().sortBy(_._1)
    assert(latest === Array(("D1", "com,a)/2", 2L), ("D2", "com,b)/1", 1L)))
  }

  test("latestPerKey: coarse key with (ts, offset) collisions keeps exactly one") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.from(java.time.Instant.parse("2026-08-01T00:00:00Z"))
    // two DIFFERENT urls captured the same second at equal offsets in
    // different files, grouped under one coarse derived key — the full
    // (ts, offset, urlkey, filename) keeper must pick exactly one
    val caps = Seq(
      ("com,a)/1", t0, "D1", 10L, 0L, "f0"),
      ("com,b)/1", t0, "D2", 10L, 0L, "f1"))
      .toDF("urlkey", "ts", "digest", "length", "offset", "filename")
      .withColumn("grp", lit(0L))
    val kept = CdxSource.latestPerKey(caps, "grp").collect()
    assert(kept.length === 1)
    assert(kept.head.getAs[String]("urlkey") === "com,b)/1") // max tiebreak
    assert(kept.head.getAs[Long]("n_captures") === 2L)
  }

  test("formatLine escapes quotes/backslashes; round trip through parseLines") {
    import spark.implicits._
    val ts = java.sql.Timestamp.from(java.time.Instant.parse("2026-08-01T00:00:00Z"))
    val url = """https://a.com/x?q="quo\ted""""
    val rows = Seq((("com,a)/x"), ts, url, "text/html", "200", "sha1:Z", 1L, 2L, "f"))
      .toDF("k", "t", "u", "m", "s", "d", "l", "o", "f")
      .select(CdxSource.formatLine(col("k"), col("t"), col("u"), col("m"),
        col("s"), col("d"), col("l"), col("o"), col("f")).as("line"))
    val parsed = CdxSource.parseLines(rows).collect()
    assert(parsed.length === 1)
    assert(parsed.head.getAs[String]("url") === url)
    assert(parsed.head.getAs[String]("filename") === "f")
  }

  test("coalescedFetchPlan: gap merge, overlap/containment, per-file islands") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.from(java.time.Instant.parse("2026-08-01T00:00:00Z"))
    val caps = Seq(
      // f0: [0,100) + [150,250) merge at gap 50; [1000,1100) breaks;
      // [1050,1075) is CONTAINED in the open span (end stays 1100);
      // [1150,1200) rejoins via gap (1150 <= 1100+100)
      ("k1", t0, "D1", 100L, 0L, "f0"),
      ("k2", t0, "D2", 100L, 150L, "f0"),
      ("k3", t0, "D3", 100L, 1000L, "f0"),
      ("k4", t0, "D4", 25L, 1050L, "f0"),
      ("k5", t0, "D5", 50L, 1150L, "f0"),
      // f1: single record = single span
      ("k6", t0, "D6", 7L, 5L, "f1"))
      .toDF("urlkey", "ts", "digest", "length", "offset", "filename")
    val plan = CdxSource.coalescedFetchPlan(caps, maxGap = 100L).collect()
      .map(r => (r.getAs[String]("filename"), r.getAs[Long]("n_records"),
        r.getAs[Long]("bytes"), r.getAs[Int]("n_reads"),
        r.getAs[Long]("read_bytes"),
        r.getAs[Seq[org.apache.spark.sql.Row]]("spans")
          .map(x => (x.getLong(0), x.getLong(1)))))
      .sortBy(_._1)
    assert(plan === Array(
      ("f0", 5L, 375L, 2, 450L, Seq((0L, 250L), (1000L, 1200L))),
      ("f1", 1L, 7L, 1, 7L, Seq((5L, 12L)))))

    // maxGap = 0: only touching/overlapping ranges merge
    val strict = CdxSource.coalescedFetchPlan(caps, maxGap = 0L).collect()
      .map(r => (r.getAs[String]("filename"), r.getAs[Int]("n_reads")))
      .toMap
    assert(strict("f0") === 4) // [1000,1100)+[1050,1075) still merge (overlap)
  }

  test("fetchPlan: per-file offset-sorted ranges, byte totals") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.from(java.time.Instant.parse("2026-08-01T00:00:00Z"))
    val caps = Seq(
      ("k1", t0, "D1", 100L, 900L, "f0"),
      ("k2", t0, "D2", 50L, 200L, "f0"),
      ("k3", t0, "D3", 7L, 0L, "f1"))
      .toDF("urlkey", "ts", "digest", "length", "offset", "filename")
    val plan = CdxSource.fetchPlan(caps).collect()
      .map(r => (r.getAs[String]("filename"), r.getAs[Long]("n_records"),
        r.getAs[Long]("bytes"),
        r.getAs[Seq[org.apache.spark.sql.Row]]("ranges")
          .map(x => (x.getLong(0), x.getLong(1)))))
      .sortBy(_._1)
    assert(plan === Array(
      ("f0", 2L, 150L, Seq((200L, 50L), (900L, 100L))), // offset-sorted
      ("f1", 1L, 7L, Seq((0L, 7L)))))
  }
}
