package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CDX(J) capture-index ingestion — the index Common Crawl publishes next
  * to its WARC segments (one line per capture: SURT urlkey, 14-digit
  * timestamp, JSON attributes). Real 100-TB pipelines do their first
  * dedup/filter passes HERE, on the ~0.1% -sized index, and only then read
  * payload bytes: the index carries a content digest (exact-dup collapse
  * with zero payload I/O), MIME/status (drop non-HTML and non-200 captures
  * before fetch), and (filename, offset, length) (turn the surviving set
  * into sequential per-file read plans). This is the cheapest dedup tier
  * of the whole engine: at 10^12 captures the digest collapse runs over
  * ~100-byte index rows instead of ~100-KB pages — a 1000x I/O reduction
  * before [[WarcSource]] ever opens a container.
  *
  * Everything here is Spark built-ins (regexp/json/array functions) — one
  * narrow codegen'd projection for parsing, partial-agg'd groupBys for the
  * collapse and the read plan; no UDFs, no windows.
  *
  * Format notes (public: the Internet Archive's CDXJ / Common Crawl
  * `cdx-00000.gz` layout):
  *   - line = `<urlkey> <yyyyMMddHHmmss> <json>`;
  *   - urlkey is the SURT (Sort-friendly URI Reordering Transform) of the
  *     capture URL — host labels reversed and comma-joined so one host's
  *     captures sort contiguously (`com,example)/path?q`);
  *   - numeric attributes (`length`, `offset`) are JSON STRINGS in the
  *     published files; [[parseLines]] casts them.
  */
object CdxSource {

  /** SURT urlkey of a URL (the documented subset of the IA canonicalizer,
    * matching [[graft.text.UrlOps.canonicalizeUrl]]'s decisions where the
    * two overlap):
    *   - entire key lowercased (CDX urlkeys are; path/query case folding
    *     is part of the published key format, unlike canonical URLs);
    *   - scheme, userinfo, and fragment dropped; default ports (:80/:443)
    *     and a leading `www.` dropped;
    *   - host labels reversed and comma-joined; `)` separates host from
    *     path; empty path becomes `/`;
    *   - query parameters sorted bytewise (the IA canonicalizer's
    *     argument sort), so `?b=2&a=1` and `?a=1&b=2` share a key.
    * Percent-encoding is NOT normalized here — run
    * [[graft.text.UrlOps.canonicalizeUrl]] first if `%7E`-vs-`~` spellings
    * must collapse; the two passes compose.
    */
  def surtKey(url: Column): Column = {
    val u = lower(trim(url))
    val scheme = regexp_extract(u, "^([a-z][a-z0-9+.-]*)://", 1)
    val noScheme = regexp_replace(u, "^[a-z][a-z0-9+.-]*://", "")
    // userinfo only counts when '@' precedes any path/query/fragment byte
    val noUser = regexp_replace(noScheme, "^[^/?#@]*@", "")
    val authority = regexp_extract(noUser, "^([^/?#]*)", 1)
    // only the scheme's OWN default port is dropped (IA canonicalizer
    // semantics): :80 for http (and schemeless input, which IA treats as
    // http), :443 for https; `http://host:443` stays a distinct origin, and
    // other schemes (`ftp://host:80`) keep every port
    val defaultPort = when(scheme === "https", lit(":443"))
      .when(scheme === "http" || scheme === "", lit(":80"))
    val portStripped = when(
      regexp_extract(authority, "(:[0-9]+)$", 1) === defaultPort,
      regexp_replace(authority, ":[0-9]+$", "")).otherwise(authority)
    val host = regexp_replace(portStripped, "^www\\.", "")
    // a surviving non-default port stays OUTSIDE the label reversal
    // (`org,example:8080`), as IA keys spell it
    val port = regexp_extract(host, "(:[0-9]+)$", 1)
    val hostOnly = regexp_replace(host, ":[0-9]+$", "")
    val revHost =
      concat(array_join(reverse(split(hostOnly, "\\.")), ","), port)
    val path = regexp_extract(noUser, "^[^/?#]*([^?#]*)", 1)
    val query = regexp_extract(noUser, "^[^#?]*\\?([^#]*)", 1)
    val sortedQuery = array_join(array_sort(split(query, "&")), "&")
    concat(
      revHost, lit(")"),
      when(path === "", lit("/")).otherwise(path),
      when(query === "", lit("")).otherwise(concat(lit("?"), sortedQuery)))
  }

  /** JSON string-escape for [[formatLine]]: backslash then quote, so a
    * url carrying either survives the emit→parse round trip instead of
    * corrupting every attribute after it.
    */
  private def jsonEsc(c: Column): Column =
    replace(replace(c, lit("\\"), lit("\\\\")), lit("\""), lit("\\\""))

  /** One CDXJ index line for a capture — the inverse of [[parseLines]],
    * used by sinks and the test fixtures. Numeric fields are emitted as
    * JSON strings, matching the published files; string fields are
    * JSON-escaped.
    */
  def formatLine(urlkey: Column, ts: Column, url: Column, mime: Column,
                 status: Column, digest: Column, length: Column,
                 offset: Column, filename: Column): Column =
    concat(
      urlkey, lit(" "),
      date_format(ts, "yyyyMMddHHmmss"), lit(" "),
      lit("""{"url": """"), jsonEsc(url),
      lit("""", "mime": """"), jsonEsc(mime),
      lit("""", "status": """"), jsonEsc(status),
      lit("""", "digest": """"), jsonEsc(digest),
      lit("""", "length": """"), length.cast("string"),
      lit("""", "offset": """"), offset.cast("string"),
      lit("""", "filename": """"), jsonEsc(filename), lit(""""}"""))

  /** Parse CDXJ lines into typed capture rows:
    * (urlkey, ts, url, mime, status, digest, length, offset, filename).
    * Lines that don't match the `<key> <14-digit ts> <json>` frame are
    * DROPPED (index files end with ragged lines when truncated mid-write;
    * a malformed line carries no recoverable capture) — count them from
    * the input/output cardinality delta if lineage needs them. One narrow
    * codegen'd projection; the JSON blob is parsed once per attribute via
    * `get_json_object` (each a simple-path probe, no schema inference).
    */
  def parseLines(lines: DataFrame, lineCol: String = "line"): DataFrame = {
    val l = col(lineCol)
    val frame = "^(\\S+) (\\d{14}) (\\{.*\\})$"
    val json = regexp_extract(l, frame, 3)
    lines
      .where(l.rlike(frame))
      .select(
        regexp_extract(l, frame, 1).as("urlkey"),
        to_timestamp(regexp_extract(l, frame, 2), "yyyyMMddHHmmss").as("ts"),
        get_json_object(json, "$.url").as("url"),
        get_json_object(json, "$.mime").as("mime"),
        get_json_object(json, "$.status").as("status"),
        get_json_object(json, "$.digest").as("digest"),
        get_json_object(json, "$.length").cast("long").as("length"),
        get_json_object(json, "$.offset").cast("long").as("offset"),
        get_json_object(json, "$.filename").as("filename"))
  }

  /** Index-level exact dedup: keep ONE capture per content digest — the
    * earliest by (ts, urlkey, offset) — and carry the family size as
    * `n_captures`. Same skew ladder as the pipeline's exact_edges stage:
    * ONE partial-agg'd groupBy on the digest (`min(struct)` + `count`
    * both combine map-side, so a digest captured 10^6 times contributes
    * one row per partition) and a hash-join-back on the digest key —
    * never a window over the corpus-wide digest. Common Crawl's digest is
    * SHA-1 over the payload, so this is exact-dup collapse at index cost.
    *
    * Two edge rules: fully identical index lines (republished/merged CDX
    * shards) collapse FIRST, so the keeper key is a total order over what
    * remains and the output carries one row per digest (distinct rows
    * that still tie on the full key would surface as multiple keepers —
    * a corrupt index made visible, not silently picked from). Captures
    * with a NULL digest (dialects without content digests) pass through
    * as unique (`n_captures = 1`) instead of vanishing into the
    * null-unsafe join.
    */
  def digestDedup(captures: DataFrame): DataFrame = {
    val distinctCaps = captures.dropDuplicates()
    val withDigest = distinctCaps.where(col("digest").isNotNull)
    val keep = withDigest
      .groupBy(col("digest"))
      .agg(
        min(struct(col("ts"), col("urlkey"), col("offset"), col("filename")))
          .as("keeper"),
        count(lit(1)).as("n_captures"))
    // null-safe join-back: a keeper struct may legitimately carry null
    // fields (null offset from a dialect without offset attributes, null
    // ts from an invalid 14-digit timestamp) — a null-unsafe `===` would
    // go null for EVERY row of that family and silently drop it all
    val kept = withDigest
      .join(keep, "digest")
      .where(col("ts") <=> col("keeper.ts") &&
        col("urlkey") <=> col("keeper.urlkey") &&
        col("offset") <=> col("keeper.offset") &&
        col("filename") <=> col("keeper.filename"))
      .drop("keeper")
    kept.unionByName(
      distinctCaps.where(col("digest").isNull)
        .withColumn("n_captures", lit(1L)))
  }

  /** Newest capture per key — the index-level "one snapshot per URL"
    * collapse (the CDX analog of `UrlOps.latestCapture`, run before any
    * payload fetch; key on the SURT urlkey for per-URL, or any derived
    * column for coarser grouping). Keeper = max (ts, offset); family size
    * carried as `n_captures`. Same shape as [[digestDedup]]: identical
    * republished lines collapse first, then ONE partial-agg'd
    * `max(struct)` + `count` and a hash-join-back — never a window.
    */
  def latestPerKey(captures: DataFrame, keyCol: String = "urlkey"): DataFrame = {
    val distinctCaps = captures.dropDuplicates()
    // keeper struct carries the FULL tiebreak (urlkey, filename beyond the
    // (ts, offset) preference) so the max is unique over post-distinct
    // rows even under a coarse derived key — two different URLs captured
    // the same second at equal offsets must not both survive as "the"
    // snapshot. Join-back is null-safe for the same reason as
    // [[digestDedup]] (null ts/offset must not drop the family).
    val keep = distinctCaps
      .groupBy(col(keyCol))
      .agg(
        max(struct(col("ts"), col("offset"), col("urlkey"), col("filename")))
          .as("keeper"),
        count(lit(1)).as("n_captures"))
    distinctCaps
      .join(keep, keyCol)
      .where(col("ts") <=> col("keeper.ts") &&
        col("offset") <=> col("keeper.offset") &&
        col("urlkey") <=> col("keeper.urlkey") &&
        col("filename") <=> col("keeper.filename"))
      .drop("keeper")
  }

  /** Per-WARC-file read plan for a surviving capture set: the ranges to
    * fetch from each container, offset-sorted so a reader issues ONE
    * forward scan per file instead of random seeks (the offsets within a
    * Common Crawl segment are written in increasing order, so sorted
    * ranges coalesce into near-sequential I/O). Output per filename:
    * `n_records`, `bytes` (sum of record lengths), and `ranges` —
    * offset-ordered (offset, length) structs, bounded per file by the
    * records actually kept. One partial-agg'd groupBy on the filename;
    * fetch tasks then parallelize per file, the same unit
    * [[WarcSource.readPages]] fans out on.
    */
  def fetchPlan(captures: DataFrame): DataFrame =
    captures
      .groupBy(col("filename"))
      .agg(
        count(lit(1)).as("n_records"),
        sum(col("length")).as("bytes"),
        sort_array(collect_list(struct(col("offset"), col("length"))))
          .as("ranges"))

  /** [[fetchPlan]] with GET coalescing: per file, offset-sorted record
    * ranges whose gap to the running read is ≤ `maxGap` bytes merge into
    * ONE span — the object-store read pattern (each S3/HDFS GET carries
    * fixed latency, so fetching a few wasted gap bytes beats issuing
    * another request; readers then issue one ranged GET per span and slice
    * records out of the buffer). Overlapping ranges (republished captures
    * pointing into the same region) merge for free. Output per filename:
    * `n_records`, `bytes` (payload actually needed), `n_reads` (GETs
    * issued), `read_bytes` (bytes fetched incl. gaps — the priced
    * overhead), and `spans` — offset-ordered (offset, end) structs.
    *
    * Shape: the same single partial-agg'd groupBy as [[fetchPlan]]
    * (per-file range lists are bounded by the records kept in that
    * container — the task-sized unit), then ONE narrow higher-order
    * `aggregate` fold over the sorted array per file; no window, no
    * second shuffle, no UDF.
    */
  def coalescedFetchPlan(captures: DataFrame, maxGap: Long): DataFrame = {
    require(maxGap >= 0, s"maxGap must be >= 0, got $maxGap")
    val sortedRanges =
      sort_array(collect_list(struct(col("offset"), col("length"))))
    val emptySpans =
      array().cast("array<struct<offset:bigint,end:bigint>>")
    // fold state: (spans emitted so far, current open span [start, end))
    val zero = struct(
      emptySpans.as("spans"),
      lit(null).cast("bigint").as("start"),
      lit(null).cast("bigint").as("end"))
    def spanStruct(s: Column, e: Column) =
      struct(s.as("offset"), e.as("end"))
    val folded = aggregate(
      sortedRanges,
      zero,
      (acc, r) => {
        val rEnd = r.getField("offset") + r.getField("length")
        val open = acc.getField("start").isNotNull
        val joins = open &&
          r.getField("offset") <= acc.getField("end") + lit(maxGap)
        when(joins,
          struct(acc.getField("spans").as("spans"),
            acc.getField("start").as("start"),
            greatest(acc.getField("end"), rEnd).as("end")))
          .when(open,
            struct(
              concat(acc.getField("spans"),
                array(spanStruct(acc.getField("start"), acc.getField("end"))))
                .as("spans"),
              r.getField("offset").as("start"), rEnd.as("end")))
          .otherwise(
            struct(acc.getField("spans").as("spans"),
              r.getField("offset").as("start"), rEnd.as("end")))
      },
      acc => when(acc.getField("start").isNotNull,
        concat(acc.getField("spans"),
          array(spanStruct(acc.getField("start"), acc.getField("end")))))
        .otherwise(acc.getField("spans")))
    captures
      .groupBy(col("filename"))
      .agg(
        count(lit(1)).as("n_records"),
        sum(col("length")).as("bytes"),
        folded.as("spans"))
      .select(col("filename"), col("n_records"), col("bytes"),
        size(col("spans")).as("n_reads"),
        aggregate(col("spans"), lit(0L),
          (a, s) => a + s.getField("end") - s.getField("offset"))
          .as("read_bytes"),
        col("spans"))
  }
}
