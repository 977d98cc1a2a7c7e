package graft.osm

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.ops.Stage

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
      | <relation id="201" user="a" uid="7" version="2" changeset="9"
      |           timestamp="2017-01-02T00:00:00Z">
      |  <member type="way" ref="101" role="outer"/>
      |  <member type="way" ref="102" role=""/>
      |  <tag k="type" v="route"/>
      |  <member type="node" ref="3" role="stop"/>
      | </relation>
      | <relation id="202" user="b" uid="8" version="1" changeset="9"
      |           timestamp="2017-01-01T00:00:00Z">
      |  <member type="relation" ref="201" role="sub"/>
      | </relation>
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

  private lazy val inputs: (String, String) = {
    val dir = Files.createTempDirectory("graft-osm-inline")
    def write(name: String, s: String): String = {
      val f = dir.resolve(name)
      Files.write(f, s.getBytes(StandardCharsets.UTF_8))
      f.toString
    }
    (write("map.osm", osmXml), write("official.xml", officialXml))
  }
  private def newPipeline(): OsmPipeline =
    OsmPipeline(spark, inputs._1, inputs._2)
  private lazy val pipeline = newPipeline()

  /** The six sinks `writeCsvs` writes, in its order, and their relations. */
  private val sinks = Seq("nodes", "nodes_tags", "ways", "ways_nodes",
    "ways_tags", "update_history")
  private def relations(p: OsmPipeline): Seq[DataFrame] =
    Seq(p.nodes, p.nodeTags, p.ways, p.wayNodes, p.wayTags, p.updateHistory)

  /** Rows rendered as the all-string cells a CSV holds, sorted (a null and
    * an empty cell read back alike). */
  private def cells(df: DataFrame): Seq[Seq[String]] =
    df.select(df.columns.toSeq.map(c => col(c).cast("string")): _*)
      .collect().toSeq
      .map(r => (0 until r.length).map(i => Option(r.getString(i))
        .getOrElse("")))
      .sortBy(_.mkString("\u0001"))

  private def readCsv(dir: String, name: String): DataFrame =
    spark.read.option("header", "true").csv(s"$dir/$name")

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

  test("release(): rows equal before and after, relations re-stage on " +
      "touch") {
    val history = rows(pipeline.updateHistory)
    val tags = rows(pipeline.wayTags)
    assert(Stage.stagedCount(spark) >= 2)
    pipeline.release()
    assert(Stage.stagedCount(spark) == 0)
    assert(rows(pipeline.updateHistory) == history)
    assert(rows(pipeline.wayTags) == tags)
    assert(Stage.stagedCount(spark) >= 2)
    pipeline.release()
  }

  test("a released pipeline is not retained by the session registry") {
    // each pipeline is built, run and released inside this method, so
    // after it returns only the registry could still reach it
    def runAndRelease(): java.lang.ref.WeakReference[OsmPipeline] = {
      val p = newPipeline()
      assert(p.updateHistory.count() == 2)
      Stage.releaseAll(spark)
      new java.lang.ref.WeakReference(p)
    }
    val dropped = (1 to 5).map(_ => runAndRelease())
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (dropped.exists(_.get != null) && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(100)
    }
    assert(dropped.forall(_.get == null),
      "a released OsmPipeline is still reachable")
  }

  test("writeCsvs: the six CSVs read back equal the relations row for row") {
    val out = Files.createTempDirectory("graft-osm-csv").toString
    pipeline.writeCsvs(out)
    sinks.zip(relations(pipeline)).foreach { case (name, df) =>
      val back = readCsv(out, name)
      assert(back.columns.toSeq == df.columns.toSeq, name)
      val expected = cells(df)
      assert(expected.nonEmpty, name)
      assert(cells(back) == expected, name)
    }
    assert(!overlapThreadsAlive)
  }

  test("writeCsvs stages each relation once: as many staged frames as " +
      "touching the same members one by one") {
    Stage.releaseAll(spark)
    newPipeline().writeCsvs(Files.createTempDirectory("graft-osm-csv").toString)
    val concurrent = Stage.stagedCount(spark)
    Stage.releaseAll(spark)
    val p = newPipeline()
    p.officialUncorrected
    relations(p)
    val oneByOne = Stage.stagedCount(spark)
    Stage.releaseAll(spark)
    assert(oneByOne > 0)
    assert(concurrent == oneByOne)
  }

  test("writeCsvs rethrows a failed write after the other five finished") {
    // Spark's overwrite deletes a regular file at the output path, so the
    // nodes output path is made a link INTO a regular file: it can be
    // neither deleted nor created
    val out = Files.createTempDirectory("graft-osm-csv-fail")
    val blocker = Files.write(out.resolve("blocker"),
      "x".getBytes(StandardCharsets.UTF_8))
    Files.createSymbolicLink(out.resolve("nodes"), blocker.resolve("sub"))
    val e = intercept[Exception](newPipeline().writeCsvs(out.toString))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains(s"$out/nodes")),
      s"not the nodes write's error: $e")
    sinks.filterNot(_ == "nodes").foreach { name =>
      assert(Files.exists(out.resolve(name).resolve("_SUCCESS")),
        s"$name had not finished when the error arrived")
    }
    assert(!overlapThreadsAlive)
    Stage.releaseAll(spark)
  }

  test("a malformed node in a second file is quarantined; the concurrent " +
      "sink writes the clean document's rows unchanged") {
    val dirty =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<osm version="0.6">
        | <node id="9000000001" lat="22.41" lon="114.21" user="c" uid="9"
        |       version="1" changeset="9"
        |       timestamp="2017-01-01T00:00:00Z"><tag k="broken</node>
        |</osm>
        |""".stripMargin
    val dir = Files.createTempDirectory("graft-osm-glob")
    Files.write(dir.resolve("clean.osm"),
      osmXml.getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("dirty.osm"),
      dirty.getBytes(StandardCharsets.UTF_8))
    val q = Files.createTempDirectory("graft-osm-quarantine").toString
    val clean = Files.createTempDirectory("graft-osm-csv").toString
    val mixed = Files.createTempDirectory("graft-osm-csv").toString
    newPipeline().writeCsvs(clean)
    OsmPipeline(spark, s"$dir/*.osm", inputs._2, Some(q)).writeCsvs(mixed)
    sinks.foreach { name =>
      assert(cells(readCsv(mixed, name)) == cells(readCsv(clean, name)),
        name)
    }
    assert(spark.read.text(s"$q/nodes").count() >= 1,
      "the malformed node must land in quarantine")
    Stage.releaseAll(spark)
  }

  test("quarantine is per file: a malformed node mid-file drops that " +
      "file's rows of every kind it corrupts, and names the file") {
    // node 9000000002's attribute quote never closes, so the node scan
    // reads on past it; PERMISSIVE parsing keeps 9000000001 and loses
    // everything after the malformation — a half-read file. Quarantine
    // must drop the whole file instead.
    val dirty =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<osm version="0.6">
        | <node id="9000000001" lat="22.41" lon="114.21" user="c" uid="9"
        |       version="1" changeset="9"
        |       timestamp="2017-01-01T00:00:00Z"><tag k="phone"
        |       v="2345 6789"/></node>
        | <node id="9000000002" lat="22.42" lon="114.22" user="c" uid="9"
        |       version="1" changeset="9"
        |       timestamp="2017-01-01T00:00:00Z"><tag k="broken</node>
        | <node id="9000000003" lat="22.43" lon="114.23" user="c" uid="9"
        |       version="1" changeset="9" timestamp="2017-01-01T00:00:00Z"/>
        | <node id="9000000004" lat="22.44" lon="114.24" user="c" uid="9"
        |       version="1" changeset="9" timestamp="2017-01-01T00:00:00Z"/>
        | <way id="9000000101" user="c" uid="9" version="1" changeset="9"
        |      timestamp="2017-01-01T00:00:00Z">
        |  <nd ref="9000000001"/>
        |  <nd ref="9000000003"/>
        |  <tag k="highway" v="residential"/>
        |  <tag k="name:en" v="Main Street"/>
        | </way>
        | <relation id="9000000201" user="c" uid="9" version="1"
        |           changeset="9" timestamp="2017-01-01T00:00:00Z">
        |  <member type="way" ref="9000000101" role="outer"/>
        | </relation>
        |</osm>
        |""".stripMargin
    val dir = Files.createTempDirectory("graft-osm-midfile")
    Files.write(dir.resolve("clean.osm"),
      osmXml.getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("dirty.osm"),
      dirty.getBytes(StandardCharsets.UTF_8))
    val q = Files.createTempDirectory("graft-osm-quarantine").toString
    val clean = Files.createTempDirectory("graft-osm-csv").toString
    val mixed = Files.createTempDirectory("graft-osm-csv").toString
    try {
      newPipeline().writeCsvs(clean)
      val p = OsmPipeline(spark, s"$dir/*.osm", inputs._2, Some(q))
      p.writeCsvs(mixed)
      sinks.foreach { name =>
        assert(cells(readCsv(mixed, name)) == cells(readCsv(clean, name)),
          name)
      }
      assert(cells(p.relations) == cells(pipeline.relations))
      val quarantined = spark.read.json(s"$q/nodes").collect()
      assert(quarantined.nonEmpty,
        "the malformed node must land in quarantine")
      quarantined.foreach { r =>
        assert(r.getAs[String]("file").endsWith("/dirty.osm"), r)
        assert(r.getAs[String]("record").contains("9000000002"), r)
      }
    } finally Stage.releaseAll(spark)
  }

  test("relations and members: rows, member positions, one partition, " +
      "and one staged scan shared by both") {
    // the relation queries (q_osm_relations, q_osm_relation_members) are
    // these two accessors of the session's shared pipeline
    Stage.releaseAll(spark)
    val p = newPipeline()
    try {
      val before = Stage.stagedCount(spark)
      assert(rows(p.relations) == sorted(
        Seq("201", "a", "7", "2", "9", "2017-01-02T00:00:00Z"),
        Seq("202", "b", "8", "1", "9", "2017-01-01T00:00:00Z")))
      val afterRelations = Stage.stagedCount(spark)
      // position is the member's ordinal among members (a tag between
      // members does not count); an empty role stays an empty string
      assert(rows(p.relationMembers) == sorted(
        Seq("201", "way", "101", "outer", 0),
        Seq("201", "way", "102", "", 1),
        Seq("201", "node", "3", "stop", 2),
        Seq("202", "relation", "201", "sub", 0)))
      assert(afterRelations == before + 1,
        "the relation scan must stage exactly once")
      assert(Stage.stagedCount(spark) == afterRelations,
        "members must read the staged relation scan, not scan again")
      assert(p.relations.rdd.getNumPartitions == 1)
      assert(p.relationMembers.rdd.getNumPartitions == 1)
    } finally Stage.releaseAll(spark)
  }

  test("without a quarantine dir, a malformed node fails the scan instead " +
      "of becoming a NULL row") {
    // node 2's tag is truncated: a permissive scan reads it as an
    // all-NULL row and loses node 3 with no error
    val broken =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<osm version="0.6">
        | <node id="1" lat="22.41" lon="114.21" user="c" uid="9"
        |       version="1" changeset="9"
        |       timestamp="2017-01-01T00:00:00Z"><tag k="name" v="x"/></node>
        | <node id="2" lat="22.42" lon="114.22" user="c" uid="9"
        |       version="1" changeset="9"
        |       timestamp="2017-01-01T00:00:00Z"><tag k="name" v="y"</node>
        | <node id="3" lat="22.43" lon="114.23" user="c" uid="9"
        |       version="1" changeset="9"
        |       timestamp="2017-01-01T00:00:00Z"><tag k="name" v="z"/></node>
        |</osm>
        |""".stripMargin
    val f = Files.createTempDirectory("graft-osm-broken").resolve("map.osm")
    Files.write(f, broken.getBytes(StandardCharsets.UTF_8))
    try {
      intercept[org.apache.spark.SparkException] {
        OsmPipeline(spark, f.toString, inputs._2).nodes
      }
    } finally Stage.releaseAll(spark)
  }

  test("below BytesPerPartition the staged relations are one partition " +
      "each, and the report's counts, group-bys and sorts plan no " +
      "exchange") {
    val p = newPipeline()
    try {
      Seq("nodes" -> p.nodes, "ways" -> p.ways,
        "update_history" -> p.updateHistory, "phone_audit" -> p.phoneAudit)
        .foreach { case (name, df) =>
          assert(df.rdd.getNumPartitions == 1, name)
        }
      p.registerViews()
      val count = Explore.run(spark, "nodes_count")
      assert(!count.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(count.head().getLong(0) == 3L)
      val joined = Explore.run(spark, "updated_users_vs_contributions")
      assert(nShuffles(joined) == 0)
      assert(joined.collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2))).toSet == Set(("7", 2L, 5L)))
    } finally Stage.releaseAll(spark)
  }

  test("width: 1 up to BytesPerPartition, ceil(bytes / BytesPerPartition) " +
      "above it, capped at the cores") {
    val b = OsmPipeline.BytesPerPartition
    assert(OsmPipeline.width(0L, 4) == 1)
    assert(OsmPipeline.width(b, 4) == 1)
    assert(OsmPipeline.width(b + 1, 4) == 2)
    assert(OsmPipeline.width(3 * b, 4) == 3)
    assert(OsmPipeline.width(3 * b + 1, 4) == 4)
    assert(OsmPipeline.width(404L << 20, 4) == 4)
    assert(OsmPipeline.width(13 * b + 1, 32) == 14)
    assert(OsmPipeline.width(100 * b, 32) == 32)
    assert(OsmPipeline.width(b + 1, 1) == 1)
  }
}
