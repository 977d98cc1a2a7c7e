package graft.osm

import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Golden end-to-end parity on the bundled `shatin.osm` + official list.
  *
  * Expected values were produced by executing the reference pipeline's exact
  * semantics over the same inputs (SURVEY.md §5): canonical hash = sha256 of
  * the sorted -joined, null→"" stringified rows, first 16 hex chars.
  */
class OsmGoldenSpec extends SparkSpec {

  val osm = OsmInputs.osm
  val psi = OsmInputs.official

  lazy val pipe: OsmPipeline = OsmPipeline(spark, osm, psi)

  def canonHash(df: DataFrame, cols: Seq[String]): (String, Long) = {
    val rows = df
      .select(cols.map(c => coalesce(col(c).cast("string"), lit(""))): _*)
      .collect()
      .map(_.toSeq.map(_.asInstanceOf[String]).mkString(""))
      .sorted
    val digest = MessageDigest.getInstance("SHA-256")
      .digest(rows.mkString("\n").getBytes("UTF-8"))
    (digest.take(8).map(b => f"$b%02x").mkString, rows.length.toLong)
  }

  test("official list: cleaned 4431 rows, corrected 4427, exact content") {
    val cleaned = OfficialList.cleaned(spark, psi)
    assert(canonHash(cleaned, Seq("eng", "chi")) ==
      ("86ce8a8978214eb8", 4431L))
    assert(canonHash(pipe.official, Seq("eng", "chi")) ==
      ("4f6c23e72ee8875a", 4427L))
  }

  test("relations / members / relation tags content parity (extension)") {
    val raw = OsmIngest.rawRelations(spark, osm)
    assert(canonHash(OsmIngest.relations(raw), Seq("id", "user", "uid",
      "version", "changeset", "timestamp")) == ("efdbdcbbfca8abeb", 242L))
    assert(canonHash(OsmIngest.relationMembers(raw), Seq("id",
      "member_type", "member_ref", "role", "position")) ==
      ("224f2ee2bbe210c7", 10094L))
    assert(canonHash(OsmIngest.tags(raw), Seq("id", "key", "value",
      "type", "tag_pos")) == ("596fc25c85db4a00", 1249L))
  }

  test("nodes relation content parity") {
    assert(canonHash(pipe.nodes, Seq("id", "lat", "lon", "user", "uid",
      "version", "changeset", "timestamp")) == ("b2dab50fe435a2bc", 13676L))
  }

  test("node_tags relation content parity (post phone fix)") {
    assert(canonHash(pipe.nodeTags, Seq("id", "key", "value", "type")) ==
      ("a59c765dc4d4921e", 1841L))
  }

  test("ways relation content parity") {
    assert(canonHash(pipe.ways, Seq("id", "user", "uid", "version",
      "changeset", "timestamp")) == ("fb0776378f6161e9", 1958L))
  }

  test("way_tags relation content parity (post phone + name fix)") {
    assert(canonHash(pipe.wayTags, Seq("id", "key", "value", "type")) ==
      ("957a0db6aab23fb5", 7040L))
  }

  test("way_nodes relation content parity") {
    assert(canonHash(pipe.wayNodes, Seq("id", "node_id", "position")) ==
      ("1b757eacc03bc1fb", 16547L))
  }

  test("update_history content parity (incl. last-writer-wins phone flag)") {
    assert(canonHash(pipe.updateHistory,
      Seq("id", "element_type", "field_updated")) ==
      ("8722fb1346422124", 8L))
  }

  test("bilingual street-name audit finds the two known dirty ways") {
    val audit = pipe.streetAudit
      .select("en_only", "reg_eng", "zh_only", "reg_chi")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3))).toSet
    assert(audit == Set(
      ("Fung Wo Lane", "Fung Wo Lane", "豐和里", "豐和里"),
      ("Sha Kok Stret", "Sha Kok Stret", "沙角街", "沙角街")))
  }

  test("phone audit: 11 rows, key histogram, char census") {
    val ordered = Audits.phoneNumbersOrdered(
      OsmIngest.tags(OsmIngest.rawNodes(spark, osm)),
      OsmIngest.tags(OsmIngest.rawWays(spark, osm))).cache()
    assert(ordered.count() == 11)
    val audit = ordered.select(col("id"), col("key"), col("value"),
      col("type"))
    val counts = Audits.phoneKeyCounts(audit)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(counts == Map("phone" -> 8L, "fax" -> 3L))
    // FIRST-SEEN order, exactly as the reference's list_chars prints it
    // (generated by a faithful python3 re-run over shatin.osm)
    val chars = Audits.phoneCharCensus(ordered)
      .collect().map(_.getString(1)).toSeq
    assert(chars == "+852 6971403".map(_.toString).toSeq)
  }

  test("explore queries run over the pipeline views") {
    pipe.registerViews()
    assert(Explore.run(spark, "ways_count").head().getLong(0) == 1958L)
    assert(Explore.run(spark, "nodes_count").head().getLong(0) == 13676L)
    assert(Explore.run(spark, "name_updates").head().getLong(0) == 2L)
    assert(Explore.run(spark, "phone_updates").head().getLong(0) == 6L)
    val vs = Explore.run(spark, "updated_users_vs_contributions").collect()
    assert(vs.nonEmpty)
    val named = Explore.run(spark, "named_buildings_amenities")
      .head().getLong(0)
    val unnamed = Explore.run(spark, "unnamed_buildings_amenities")
      .head().getLong(0)
    assert(named > 0 && unnamed > 0)
  }
}
