package graft.cite

import scala.collection.mutable

import org.apache.spark.sql.Dataset

/** PubMed `.nbib` format parser.
  *
  * Behavioral specs:
  *  - blank-line record split (CRLF-aware): /root/reference/src/pubmed/split.rs:5-49
  *  - continuation-line joining (hyphen-aware): /root/reference/src/pubmed/whole_lines.rs:23-80
  *  - entry parse (split on first '-'): /root/reference/src/pubmed/parse.rs:60-76
  *  - tag dictionary (full NLM set): /root/reference/src/pubmed/tags.rs:8-382
  *  - order-dependent FAU/AU/AD author resolution: /root/reference/src/pubmed/author.rs:29-194
  *  - record assembly (" AND " joins, LID→DOI, DP date, MH): /root/reference/src/pubmed/structure.rs:18-121
  *
  * Spark shape: one .nbib blob per row → `flatMap(parseString)`; author
  * resolution is an intra-record sequential fold, so it lives inside the
  * per-row map (no window/shuffle needed — order is within-row).
  */
object PubMedParser {

  /** The recognized NLM tag set; unknown keys → ignored lines. */
  private val KnownTags: Set[String] = Set(
    "AB", "AD", "AID", "AU", "AUID", "BTI", "CI", "CIN", "CN", "COI", "CON",
    "CP", "CRDT", "CRF", "CRI", "CTDT", "CTI", "DCOM", "DDIN", "DRIN", "DEP",
    "DP", "DRDT", "ECF", "ECI", "EDAT", "EFR", "EIN", "ED", "EN", "FAU",
    "FED", "FIR", "FPS", "GN", "GR", "GS", "IP", "IR", "IRAD", "IS", "ISBN",
    "JID", "JT", "LA", "LID", "LR", "MH", "MHDA", "MID", "NM", "OAB", "OABL",
    "OCI", "OID", "ORI", "OT", "OTO", "OWN", "PB", "PG", "PHST", "PL", "PMC",
    "PMCR", "PMID", "PS", "PST", "PT", "RF", "RIN", "RN", "ROF", "RPF",
    "RPI", "RRI", "RRF", "SB", "SFM", "SI", "SO", "SPIN", "STAT", "TA",
    "TI", "TT", "UIN", "UOF", "VI", "VTI")

  // ---- author name algebra (/root/reference/src/pubmed/author.rs:29-113) ----

  /** An FAU ("Family, Given Names") or AU ("Family GN") value. */
  private[graft] final case class AuthorName(name: String, full: Boolean) {
    def lastName: String =
      if (full) name.split(", ", 2) match {
        case Array(l, _) => l
        case _ => name
      }
      else {
        val i = name.lastIndexOf(' ')
        if (i >= 0) name.substring(0, i) else name
      }

    /** FAU: first char of each given-name token; AU: the trailing initials token. */
    def firstInitials: String =
      if (full) name.split(", ", 2) match {
        case Array(_, r) => r.split(" ").flatMap(_.headOption).mkString
        case _ => ""
      }
      else {
        val i = name.lastIndexOf(' ')
        if (i >= 0) name.substring(i + 1) else ""
      }

    def givenName: Option[String] =
      if (full) name.split(", ", 2) match {
        case Array(_, r) => Some(r)
        case _ => None
      }
      else {
        val i = name.lastIndexOf(' ')
        if (i >= 0) Some(name.substring(i + 1)) else None
      }

    /** AU equivalence: same family name and AU initials are a prefix of the
      * FAU initials ("Crick FH" ≡ "Crick, Francis Harry Compton").
      */
    def auEquals(au: String): Boolean = {
      val i = au.lastIndexOf(' ')
      val (last, initials) = if (i >= 0) (au.substring(0, i), au.substring(i + 1)) else (au, "")
      lastName == last && firstInitials.startsWith(initials)
    }

    def toCiteAuthor(affiliations: Seq[String]): CiteAuthor = {
      val (givenOpt, middleOpt) = givenName
        .map(CiteUtils.splitGivenAndMiddle)
        .getOrElse((None, None))
      CiteAuthor(lastName, givenOpt, middleOpt, affiliations)
    }
  }

  private final case class ResolvedAuthor(name: AuthorName,
      affiliations: mutable.ArrayBuffer[String])

  /** Order-dependent resolution of (AU|FAU|AD) entries
    * (/root/reference/src/pubmed/author.rs:165-194). Returns (authors,
    * leading affiliations that precede any author).
    */
  private[graft] def resolveAuthors(
      entries: Seq[(String, String)]): (Seq[(AuthorName, Seq[String])], Seq[String]) = {
    val authors = mutable.ArrayBuffer.empty[ResolvedAuthor]
    val unused = mutable.ArrayBuffer.empty[String]
    for ((tag, value) <- entries) tag match {
      case "AU" =>
        val prev = authors.lastOption.map(_.name)
        if (!prev.exists(n => n.full && n.auEquals(value)))
          authors += ResolvedAuthor(AuthorName(value, full = false), mutable.ArrayBuffer.empty)
      case "FAU" =>
        authors += ResolvedAuthor(AuthorName(value, full = true), mutable.ArrayBuffer.empty)
      case "AD" =>
        if (authors.nonEmpty) authors.last.affiliations += value
        else unused += value
      case _ =>
    }
    (authors.toSeq.map(a => (a.name, a.affiliations.toSeq)), unused.toSeq)
  }

  // ---- line plumbing ----

  /** Split into records on blank lines (a chunk = consecutive non-blank
    * lines), keeping each line's 1-based number for the error surface.
    * /root/reference/src/pubmed/split.rs.
    */
  private[graft] def blankLineSplitIdx(text: String,
      lineBreak: String): Seq[Seq[(Int, String)]] =
    text.split(java.util.regex.Pattern.quote(lineBreak), -1)
      .zipWithIndex
      .foldLeft(List(mutable.ArrayBuffer.empty[(Int, String)])) { (acc, li) =>
        val (line, idx) = li
        if (line.isEmpty) {
          if (acc.head.nonEmpty) mutable.ArrayBuffer.empty[(Int, String)] :: acc else acc
        } else { acc.head += ((idx + 1, line)); acc }
      }
      .reverse
      .filter(_.nonEmpty)
      .map(_.toSeq)

  /** Join continuation lines (leading space) into whole key-value lines;
    * pieces joined with a space except after a trailing hyphen
    * (/root/reference/src/pubmed/whole_lines.rs:23-80). Each joined line
    * carries the 1-based number of its FIRST physical line.
    */
  private[graft] def wholeLinesIdx(lines: Seq[(Int, String)]): Seq[(Int, String)] = {
    val out = mutable.ArrayBuffer.empty[(Int, String)]
    val sb = new java.lang.StringBuilder
    var startLine = -1
    def flush(): Unit =
      if (sb.length > 0) { out += ((startLine, sb.toString)); sb.setLength(0) }
    var started = false
    for ((ln, line) <- lines) {
      if (started && line.startsWith(" ")) {
        val piece = line.replaceFirst("^\\s+", "")
        if (!(sb.length == 0 || sb.charAt(sb.length - 1) == '-' || sb.charAt(sb.length - 1) == ' '))
          sb.append(' ')
        sb.append(piece)
      } else {
        flush()
        startLine = ln
        sb.append(line)
        started = true
      }
    }
    flush()
    out.toSeq
  }

  /** Split on first '-', trimming around it; tag must be known. */
  private[graft] def parseEntry(line: String): Option[(String, String)] = {
    val i = line.indexOf('-')
    if (i < 0) return None
    val key = line.substring(0, i).replaceFirst("\\s+$", "")
    val value = line.substring(i + 1).replaceFirst("^\\s+", "")
    if (KnownTags.contains(key)) Some((key, value)) else None
  }

  private val ConsecutiveTags = Set("AU", "FAU", "AD")

  /** Accounted assembly of one blank-line-delimited record (numbered lines):
    * unknown-tag / unlexable joined lines → `ignored_line` issues; a bad DP
    * date or missing TI → a record-level `bad_value`/`missing_value` issue
    * and a dropped record (reference parity: error.rs + pubmed/structure.rs).
    */
  private def parseRecordAccounted(chunk: Seq[(Int, String)],
      recordIdx: Int): (Option[Citation], Seq[ParseIssue]) = {
    val issues = mutable.ArrayBuffer.empty[ParseIssue]
    val entries = mutable.ArrayBuffer.empty[(String, String)]
    var dpLine = -1
    for ((ln, line) <- wholeLinesIdx(chunk.filter(_._2.nonEmpty))) {
      parseEntry(line) match {
        case Some(e @ (k, _)) =>
          if (k == "DP" && dpLine < 0) dpLine = ln
          entries += e
        case None =>
          issues += ParseIssue("pubmed", recordIdx, ln, "ignored_line", "", line)
      }
    }
    val cit = assembleEntries(entries.toSeq, recordIdx, dpLine, issues)
    (cit, issues.toSeq)
  }

  private def assembleEntries(entries: Seq[(String, String)], recordIdx: Int,
      dpLine: Int, issues: mutable.ArrayBuffer[ParseIssue]): Option[Citation] = {
    if (entries.isEmpty) return None
    val data = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
    val consecutive = mutable.ArrayBuffer.empty[(String, String)]
    for ((k, v) <- entries) {
      if (ConsecutiveTags.contains(k)) consecutive += ((k, v))
      else data.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    }
    val (authorsRaw, _) = resolveAuthors(consecutive.toSeq)
    def take(tag: String): Seq[String] = data.remove(tag).map(_.toSeq).getOrElse(Nil)
    def takeJoined(tag: String): Option[String] = CiteUtils.joinIfSome(take(tag))

    // DP parse failure is a record-level error in the reference; drop record.
    val dpValues = take("DP")
    val date = dpValues.headOption match {
      case Some(dp) =>
        CiteUtils.parsePubmedDate(dp) match {
          case some @ Some(_) => some
          case None =>
            issues += ParseIssue("pubmed", recordIdx, dpLine, "bad_value", "DP", dp)
            return None
        }
      case None => None
    }
    val title = takeJoined("TI") match {
      case Some(t) => t
      case None =>
        issues += ParseIssue("pubmed", recordIdx, -1, "missing_value", "TI", "")
        return None
    }

    val citationType = take("PT")
    val journal = takeJoined("JT")
    val journalAbbr = takeJoined("TA")
    val volume = takeJoined("VI")
    val issue = takeJoined("IP")
    val pages = takeJoined("PG")
    val issn = take("IS")
    val doi = take("LID").iterator
      .flatMap(s => if (s.endsWith(" [doi]")) Some(s.dropRight(6)) else None)
      .nextOption()
    val pmid = takeJoined("PMID")
    val pmcId = takeJoined("PMC")
    val abstractText = takeJoined("AB")
    val language = takeJoined("LA")
    val meshTerms = take("MH")
    val publisher = takeJoined("PB")
    val extraFields = data.map { case (k, vs) => k -> vs.toSeq }.toMap

    Some(Citation(
      citation_type = citationType,
      title = title,
      authors = authorsRaw.map { case (name, affs) => name.toCiteAuthor(affs) },
      journal = journal,
      journal_abbr = journalAbbr,
      date = date,
      volume = volume,
      issue = issue,
      pages = pages,
      issn = issn,
      doi = doi,
      pmid = pmid,
      pmc_id = pmcId,
      abstract_text = abstractText,
      keywords = Nil,
      urls = Nil,
      mesh_terms = meshTerms,
      language = language,
      publisher = publisher,
      extra_fields = extraFields))
  }

  /** Parse one .nbib blob into citations AND parse issues (ignored lines
    * with line numbers, bad DP values, missing titles).
    */
  def parseAccounted(content: String): (Seq[Citation], Seq[ParseIssue]) = {
    if (content.trim.isEmpty) return (Nil, Nil)
    val lineBreak = CiteUtils.newlineDelimiterOf(content)
    val results = blankLineSplitIdx(content, lineBreak).zipWithIndex
      .map { case (chunk, idx) => parseRecordAccounted(chunk, idx) }
    (results.flatMap(_._1), results.flatMap(_._2))
  }

  /** Parse one .nbib blob (possibly many records) into citations. */
  def parseString(content: String): Seq[Citation] = parseAccounted(content)._1

  /** Distributed parse: one blob per row → citations. Narrow (no shuffle). */
  def parse(blobs: Dataset[String]): Dataset[Citation] = {
    import blobs.sparkSession.implicits._
    blobs.flatMap(parseString _)
  }

  /** Distributed error surface: one blob per row → issue rows. Narrow. */
  def parseErrors(blobs: Dataset[String]): Dataset[ParseIssue] = {
    import blobs.sparkSession.implicits._
    blobs.flatMap(b => parseAccounted(b)._2)
  }
}
