package graft.osm

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The whole fix chain on a hand-written OSM v0.6 document and official
  * list, with every expected row written out by hand from the reference's
  * semantics (parse_clean_and_csv.py shape_element, fix_phones_in_tags,
  * fix_street_names; audit_bilingual_street_names.py). Needs no input
  * outside the spec. */
class OsmPipelineInlineSpec extends SparkSpec {

  private val osmXml =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<osm version="0.6">
      | <node id="1" lat="22.38" lon="114.18" user="a" uid="7" version="1"
      |       changeset="9" timestamp="2017-01-01T00:00:00Z">
      |  <tag k="phone" v="+852 23456789"/>
      |  <tag k="phone" v="2345-6789"/>
      | </node>
      | <node id="2" lat="22.39" lon="114.19" user="b" uid="8" version="1"
      |       changeset="9" timestamp="2017-01-01T00:00:00Z">
      |  <tag k="phone" v="+86 138 0013 8000"/>
      |  <tag k="fax" v="+852 23456789"/>
      | </node>
      | <node id="3" lat="22.40" lon="114.20" user="a" uid="7" version="1"
      |       changeset="9" timestamp="2017-01-01T00:00:00Z">
      |  <tag k="addr:street" v="Main Street"/>
      | </node>
      | <way id="101" user="a" uid="7" version="1" changeset="9"
      |      timestamp="2017-01-01T00:00:00Z">
      |  <nd ref="1"/>
      |  <nd ref="2"/>
      |  <tag k="highway" v="residential"/>
      |  <tag k="note.fixme" v="x"/>
      |  <tag k="name:en" v="Main Street"/>
      |  <tag k="name:en" v="Wrong Street"/>
      |  <tag k="name" v="大街 Main Street"/>
      | </way>
      | <way id="102" user="b" uid="8" version="1" changeset="9"
      |      timestamp="2017-01-01T00:00:00Z">
      |  <nd ref="2"/>
      |  <nd ref="3"/>
      |  <tag k="highway" v="primary"/>
      |  <tag k="name:en" v="Main Street"/>
      |  <tag k="name:zh" v="小路"/>
      | </way>
      | <way id="103" user="a" uid="7" version="1" changeset="9"
      |      timestamp="2017-01-01T00:00:00Z">
      |  <nd ref="1"/>
      |  <nd ref="3"/>
      |  <tag k="building" v="yes"/>
      |  <tag k="name:en" v="Side Road"/>
      | </way>
      | <way id="104" user="b" uid="8" version="1" changeset="9"
      |      timestamp="2017-01-01T00:00:00Z">
      |  <nd ref="3"/>
      |  <nd ref="1"/>
      |  <tag k="highway" v="road"/>
      |  <tag k="name:en" v="McGregor Street"/>
      |  <tag k="name:zh" v="麥加力歌街"/>
      |  <tag k="name" v="麥加力歌街 McGregor Street"/>
      | </way>
      | <way id="105" user="a" uid="7" version="1" changeset="9"
      |      timestamp="2017-01-01T00:00:00Z">
      |  <nd ref="2"/>
      |  <nd ref="1"/>
      |  <tag k="amenity" v="restaurant"/>
      |  <tag k="phone" v="2345 6789"/>
      |  <tag k="phone" v="+852 23456789"/>
      | </way>
      |</osm>
      |""".stripMargin

  // capwords makes the last entry "Mcgregor Street"; only the corrected
  // list (the fix's) spells it "McGregor Street", the audit's does not
  private val officialXml =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<Root>
      |  <Row>
      |    <English_Street_Name>MAIN STREET</English_Street_Name>
      |    <Chinese_Street_Name>大街</Chinese_Street_Name>
      |    <District_Code>ST</District_Code>
      |  </Row>
      |  <Row>
      |    <English_Street_Name>side road</English_Street_Name>
      |    <Chinese_Street_Name>小路</Chinese_Street_Name>
      |    <District_Code>ST</District_Code>
      |  </Row>
      |  <Row>
      |    <English_Street_Name>mcgregor street</English_Street_Name>
      |    <Chinese_Street_Name>麥加力歌街</Chinese_Street_Name>
      |    <District_Code>WC</District_Code>
      |  </Row>
      |</Root>
      |""".stripMargin

  private lazy val pipeline = {
    val dir = Files.createTempDirectory("graft-osm-inline")
    def write(name: String, s: String): String = {
      val f = dir.resolve(name)
      Files.write(f, s.getBytes(StandardCharsets.UTF_8))
      f.toString
    }
    OsmPipeline(spark, write("map.osm", osmXml),
      write("official.xml", officialXml))
  }

  /** Rows as a sorted list of cell lists (duplicates kept). */
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("\u0001"))

  private def sorted(expected: Seq[Any]*): Seq[Seq[Any]] =
    expected.sortBy(_.mkString("\u0001"))

  test("node tags: phone and fax values canonicalized, other tags kept") {
    assert(rows(pipeline.nodeTags) == sorted(
      Seq("1", "phone", "+852 23456789", "regular"),
      Seq("1", "phone", "+852 23456789", "regular"),
      Seq("2", "phone", "+86 13800138000", "regular"),
      Seq("2", "fax", "+852 23456789", "regular"),
      Seq("3", "street", "Main Street", "addr")))
  }

  test("way tags: problem key dropped, last name:en loses, zh appended") {
    assert(rows(pipeline.wayTags) == sorted(
      // the one match (via the plain name) fixes both name:en tags and
      // appends the missing name:zh; note.fixme has a problem char
      Seq("101", "highway", "residential", "regular"),
      Seq("101", "en", "Main Street", "name"),
      Seq("101", "en", "Main Street", "name"),
      Seq("101", "name", "大街 Main Street", "regular"),
      Seq("101", "zh", "大街", "name"),
      // two distinct official entries match: untouched
      Seq("102", "highway", "primary", "regular"),
      Seq("102", "en", "Main Street", "name"),
      Seq("102", "zh", "小路", "name"),
      // not a street: untouched although its name is on the list
      Seq("103", "building", "yes", "regular"),
      Seq("103", "en", "Side Road", "name"),
      // already matches the corrected list: nothing to do
      Seq("104", "highway", "road", "regular"),
      Seq("104", "en", "McGregor Street", "name"),
      Seq("104", "zh", "麥加力歌街", "name"),
      Seq("104", "name", "麥加力歌街 McGregor Street", "regular"),
      Seq("105", "amenity", "restaurant", "regular"),
      Seq("105", "phone", "+852 23456789", "regular"),
      Seq("105", "phone", "+852 23456789", "regular")))
    // the appended name:zh goes after the last tag: max tag_pos 4 (the
    // dropped key still counts) + 1 + its order 1
    assert(rows(pipeline.wayTagsFixed.filter("name_changed")
        .select("id", "key", "tag_pos", "phone_changed")) == sorted(
      Seq("101", "en", 3, false),
      Seq("101", "zh", 6, false)))
  }

  test("update history: the last phone-key tag decides, name fix flags") {
    // node 1: the last phone tag was rewritten → flagged; node 2: phone
    // rewritten but the later fax was already canonical → not flagged;
    // way 105: first phone rewritten, last canonical → not flagged
    assert(rows(pipeline.updateHistory) == sorted(
      Seq("1", "node", "phone"),
      Seq("101", "way", "name")))
  }

  test("street audit probes the uncorrected list") {
    // 101: one match, name:en not found, no name:zh; 104: the uncorrected
    // list spells "Mcgregor Street", so both English versions miss
    assert(pipeline.streetAudit.columns.toSeq == Seq("id", "en_only",
      "reg_eng", "zh_only", "reg_chi", "official_eng", "official_chi"))
    assert(rows(pipeline.streetAudit) == sorted(
      Seq("101", "Wrong Street", "Main Street", null, "大街", "Main Street",
        "大街"),
      Seq("104", "McGregor Street", "McGregor Street", "麥加力歌街",
        "麥加力歌街", "Mcgregor Street", "麥加力歌街")))
  }
}
