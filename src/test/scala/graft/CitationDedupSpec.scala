package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.cite._
import graft.cite.CitationDedup.DedupOptions

/** Citation-dedup parity tests — scenarios transcribed from the reference
  * dedup test suite (/root/reference/src/dedupe.rs:872-1349).
  */
class CitationDedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def cite(
      title: String,
      year: Option[Int] = None,
      doi: Option[String] = None,
      journal: Option[String] = None,
      volume: Option[String] = None,
      pages: Option[String] = None,
      abstractText: Option[String] = None): Citation =
    Citation.empty.copy(
      title = title,
      date = year.map(y => CiteDate(y, None, None)),
      doi = doi,
      journal = journal,
      volume = volume,
      pages = pages,
      abstract_text = abstractText)

  test("find_duplicates: DOI + journal match groups the pair (dedupe.rs:872-923)") {
    val citations = Seq(
      cite("Title 1", Some(2020), Some("10.1234/abc"), Some("Journal 1")),
      cite("Title 1", Some(2020), Some("10.1234/abc"), Some("Journal 1")),
      cite("Title 2", Some(2020), Some("10.1234/def"), Some("Journal 2")))
    val groups = CitationDedup.findDuplicates(spark, citations)
    assert(groups.length === 2)
    assert(groups.find(_.unique.doi === Some("10.1234/abc")).get.duplicates.length === 1)
  }

  test("missing/empty DOI falls to jaro_winkler path (dedupe.rs:926-969)") {
    val citations = Seq(
      cite("Title 1", Some(2020), Some("10.1234/abc"), Some("Journal 1"), volume = Some("24")),
      cite("Title 1", Some(2020), Some(""), Some("Journal 1"), volume = Some("24")),
      cite("Title 2", Some(2020), Some(""), Some("Journal 2")))
    val groups = CitationDedup.findDuplicates(spark, citations)
    assert(groups.length === 2)
  }

  test("year grouping on/off (dedupe.rs:1141-1183)") {
    val citations = Seq(
      cite("Title OnOff", Some(2020), Some("10.1234/abc"), Some("Journal 1"), volume = Some("7")),
      cite("Title OnOff", Some(2019), Some("10.1234/abc"), Some("Journal 1"), volume = Some("7")))
    val off = CitationDedup.findDuplicates(spark, citations,
      DedupOptions(groupByYear = false))
    assert(off.length === 1)
    assert(off.head.duplicates.length === 1)
    val on = CitationDedup.findDuplicates(spark, citations)
    assert(on.length === 2)
    assert(on.forall(_.duplicates.isEmpty))
  }

  test("source preferences pick the preferred source (dedupe.rs:1186-1228)") {
    val citations = Seq(
      cite("Title 1", Some(2020), Some("10.1234/abc"), Some("Journal 1")),
      cite("Title 1", Some(2020), Some("10.1234/abc"), Some("Journal 1")))
    val groups = CitationDedup.findDuplicates(spark, citations,
      DedupOptions(sourcePreferences = Seq("source1", "source2")),
      sources = Seq("source2", "source1"))
    assert(groups.length === 1)
    assert(groups.head.duplicates.length === 1)
    // second citation (source1) must be the unique: verify via group identity
    // by marking them distinguishable through the abstract field
    val citations2 = Seq(
      citations(0).copy(abstract_text = Some("from source2")),
      citations(1).copy(abstract_text = Some("from source1")))
    val groups2 = CitationDedup.findDuplicates(spark, citations2,
      DedupOptions(sourcePreferences = Seq("source1", "source2")),
      sources = Seq("source2", "source1"))
    assert(groups2.head.unique.abstract_text === Some("from source1"))
  }

  test("abstract preference (dedupe.rs:1231-1266)") {
    val citations = Seq(
      cite("Title 1", Some(2020), Some("10.1234/abc"), Some("Journal 1")),
      cite("Title 1", Some(2020), Some("10.1234/abc"), Some("Journal 1"),
        abstractText = Some("Abstract")))
    val groups = CitationDedup.findDuplicates(spark, citations)
    assert(groups.length === 1)
    assert(groups.head.unique.abstract_text === Some("Abstract"))
    assert(groups.head.duplicates.length === 1)
  }

  test("source preferences with year grouping (dedupe.rs:1268-1349)") {
    val citations = Seq(
      cite("Test Article 2020", Some(2020), Some("10.1234/test2020"), Some("Test Journal")),
      cite("Test Article 2020", Some(2020), Some("10.1234/test2020"), Some("Test Journal")),
      cite("Test Article 2021", Some(2021), Some("10.1234/test2021"), Some("Test Journal")),
      cite("Test Article 2021", Some(2021), Some("10.1234/test2021"), Some("Test Journal")))
    val groups = CitationDedup.findDuplicates(spark, citations,
      DedupOptions(sourcePreferences = Seq("PubMed", "Embase")),
      sources = Seq("Embase", "PubMed", "Embase", "PubMed"))
    assert(groups.length === 2)
    assert(groups.map(_.unique.title).toSet ===
      Set("Test Article 2020", "Test Article 2021"))
    assert(groups.forall(_.duplicates.length === 1))
  }

  test("no-DOI path: jw>=0.93 + volume + journal (dedupe.rs:639-647)") {
    val citations = Seq(
      cite("Deep learning for cats", Some(2021), None, Some("J Cats"), volume = Some("3")),
      cite("Deep learning for catz", Some(2021), None, Some("J Cats"), volume = Some("3")),
      cite("Completely different title", Some(2021), None, Some("J Cats"), volume = Some("3")))
    val groups = CitationDedup.findDuplicates(spark, citations)
    assert(groups.length === 2)
    assert(groups.head.duplicates.length === 1)
  }

  test("assignGroups on a DataFrame gives findDuplicates' groups") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the fixtures above, pooled; pmid tells otherwise-equal citations apart
    val citations = Seq(
      cite("Title 1", Some(2020), Some("10.1234/abc"), Some("Journal 1")),
      cite("Title 1", Some(2020), Some("10.1234/abc"), Some("Journal 1"),
        abstractText = Some("Abstract")),
      cite("Title 2", Some(2020), Some("10.1234/def"), Some("Journal 2")),
      cite("Deep learning for cats", Some(2021), None, Some("J Cats"), volume = Some("3")),
      cite("Deep learning for catz", Some(2021), None, Some("J Cats"), volume = Some("3")),
      cite("Completely different title", Some(2021), None, Some("J Cats"), volume = Some("3")),
      cite("Title OnOff", Some(2020), Some("10.1234/xyz"), Some("Journal 1"), volume = Some("7")),
      cite("Title OnOff", Some(2019), Some("10.1234/xyz"), Some("Journal 1"), volume = Some("7")))
      .zipWithIndex.map { case (c, i) => c.copy(pmid = Some(s"p$i")) }
    val expected = CitationDedup.findDuplicates(spark, citations)
      .map(g => (g.unique.pmid.get, g.duplicates.map(_.pmid.get).toSet)).toSet

    val opts = DedupOptions()
    val df = citations.zipWithIndex.map { case (c, i) => (i.toLong, "", c) }
      .toDF("row_idx", "source", "citation")
      .select(col("row_idx"), col("source"), col("citation.*"))
    val assigned = CitationDedup.assignGroups(CitationDedup.preprocess(df, opts), opts)
      .select("group_id", "pmid", "is_unique").as[(Long, String, Boolean)].collect()
    val actual = assigned.groupBy(_._1).values.map { members =>
      val unique = members.filter(_._3)
      assert(unique.length === 1, "exactly one representative per group")
      (unique.head._2, members.filterNot(_._3).map(_._2).toSet)
    }.toSet

    assert(actual === expected)
    assert(actual === Set("p1" -> Set("p0"), "p2" -> Set.empty[String],
      "p3" -> Set("p4"), "p5" -> Set.empty[String], "p6" -> Set.empty[String],
      "p7" -> Set.empty[String]))
  }

  test("distributed parse + dedup end-to-end (RIS blobs → groups)") {
    import spark.implicits._
    val blob1 =
      """TY  - JOUR
        |TI  - Spark Native Dedup
        |JF  - Journal of Engines
        |PY  - 2022
        |VL  - 5
        |DO  - 10.9999/dup
        |ER  -""".stripMargin
    val blob2 = blob1.replace("Spark Native Dedup", "Spark  Native Dedup") // normalizes equal
    val blob3 =
      """TY  - JOUR
        |TI  - Unrelated Article
        |JF  - Journal of Engines
        |PY  - 2022
        |DO  - 10.9999/other
        |ER  -""".stripMargin
    val citations = RisParser.parse(Seq(blob1, blob2, blob3).toDS).collect().toSeq
    assert(citations.length === 3)
    val groups = CitationDedup.findDuplicates(spark, citations)
    assert(groups.length === 2)
    assert(groups.map(g => 1 + g.duplicates.length).sum === 3)
  }
}
