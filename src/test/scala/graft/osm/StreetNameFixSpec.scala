package graft.osm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Edge cases of the street-name fixer not exercised by shatin.osm,
  * checked against the reference's exact semantics
  * (parse_clean_and_csv.py:380-485). Inputs are written as shredded tag
  * rows and nested into one tag array per element, the unit the fix works
  * on. */
class StreetNameFixSpec extends SparkSpec {
  import spark.implicits._

  // official list: two entries
  val officialDf = Seq(
    ("Main Street", "大街"),
    ("Side Road", "小路")).toDF("eng", "chi")
  lazy val lookup = OfficialList.lookup(officialDf)

  def tagsDf(rows: (Long, String, String, String, Int)*) =
    rows.toDF("id", "key", "value", "type", "tag_pos")
      .withColumn("phone_changed", lit(false))

  /** Shredded rows → one (id, tags) row per element, tags in tag_pos
    * order with the fields of a phone-fixed tag array. */
  def nested(tags: DataFrame): DataFrame =
    tags.groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("tag_pos"), col("key"),
        col("value"), col("type"), col("phone_changed")))).as("t"))
      .select(col("id"), transform(col("t"), t => struct(t("key").as("key"),
        t("value").as("value"), t("type").as("type"),
        t("tag_pos").as("tag_pos"),
        t("phone_changed").as("phone_changed"))).as("tags"))

  /** The fix, shredded back into (id, key, value, type, tag_pos,
    * name_changed, phone_changed) rows. */
  def fix(tags: DataFrame): DataFrame = OsmIngest.explodeTags(
    StreetNameFix.fixStreetNames(nested(tags), lookup), col("tags"))

  test("duplicate name tags: the LAST one wins the version pivot") {
    // two name:en tags; the later (wrong) one decides the lookup — it
    // misses, the zh tag hits → exactly one match → way fixable
    val tags = tagsDf(
      (1L, "highway", "residential", "regular", 0),
      (1L, "en", "Main Street", "name", 1),
      (1L, "en", "Wrong Street", "name", 2),
      (1L, "zh", "大街", "name", 3))
    val v = StreetNameFix.probe(nested(tags), lookup).collect().head
    assert(v.getAs[String]("en_only") == "Wrong Street")

    val out = fix(tags)
    val enVals = out.filter(col("key") === "en")
      .select("value").collect().map(_.getString(0)).toSet
    assert(enVals == Set("Main Street")) // both en tags overwritten
    // regular name appended at the end with canonical chi + ' ' + eng
    val reg = out.filter(col("type") === "regular" && col("key") === "name")
      .collect().head
    assert(reg.getAs[String]("value") == "大街 Main Street")
    assert(reg.getAs[Int]("tag_pos") == 4 + 2) // max_pos+1+ord(reg)=3+1+2
  }

  test("contradicting matches (two distinct officials) → way untouched") {
    val tags = tagsDf(
      (2L, "highway", "primary", "regular", 0),
      (2L, "en", "Main Street", "name", 1),
      (2L, "zh", "小路", "name", 2))
    val out = fix(tags).collect()
    assert(out.forall(!_.getAs[Boolean]("name_changed")))
    assert(out.length == 3) // nothing appended
  }

  test("non-street ways and no-match streets are untouched") {
    val tags = tagsDf(
      (3L, "building", "yes", "regular", 0), // not a street
      (3L, "en", "Main Street", "name", 1),
      (4L, "highway", "path", "regular", 0), // street, but no name match
      (4L, "en", "Nowhere Lane", "name", 1))
    val out = fix(tags).collect()
    assert(out.forall(!_.getAs[Boolean]("name_changed")))
    assert(out.length == 4)
  }

  test("all three tags present and correct → no update, no append") {
    val tags = tagsDf(
      (5L, "highway", "road", "regular", 0),
      (5L, "en", "Side Road", "name", 1),
      (5L, "zh", "小路", "name", 2),
      (5L, "name", "小路 Side Road", "regular", 3))
    val out = fix(tags)
    assert(out.count() == 4)
    assert(out.filter(col("name_changed")).count() == 0)
  }

  test("append order is en, zh, reg after the way's last tag") {
    val tags = tagsDf(
      (6L, "highway", "road", "regular", 0),
      (6L, "name", "小路 Side Road", "regular", 1))
    val out = fix(tags).orderBy("tag_pos").collect()
    val appended = out.filter(_.getAs[Boolean]("name_changed"))
    assert(appended.map(r => (r.getAs[String]("key"),
      r.getAs[String]("type"), r.getAs[Int]("tag_pos"))).toSeq ==
      Seq(("en", "name", 2), ("zh", "name", 3)))
  }
}
