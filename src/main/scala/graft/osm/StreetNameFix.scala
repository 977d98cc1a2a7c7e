package graft.osm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bilingual street-name audit + fix (F2, X1, J1/J2, X2 in SURVEY.md §2;
  * ref: parse_clean_and_csv.py:380-485).
  *
  * Shape: each way is fixed on its own, inside its nested tag array
  * ([[OsmIngest.tagArray]]), as the reference's shape_element /
  * fix_street_names do per element. The name versions are array
  * aggregates over the way's tags, the official-list probe is four
  * broadcast left joins (one per version) against the lookup grouped by
  * name, and the fix rewrites and appends tags inside the array. OSM rows
  * never shuffle; the only data that moves is the small official list,
  * grouped once and broadcast. Because the unit is the element, the output
  * equals a per-id regrouping of shredded tags whenever element ids are
  * unique within a kind (as in an OSM extract).
  */
object StreetNameFix {

  /** highway values that make a way a government-named street
    * (STREET_VALUES, parse_clean_and_csv.py:72-76). */
  val StreetValues: Seq[String] = Seq(
    "motorway", "trunk", "primary", "secondary", "tertiary", "residential",
    "living_street", "pedestrian", "track", "road", "steps", "path")

  /** English / Chinese sub-name extraction from a combined `name` value
    * (ENG_NAME_RE / CHI_NAME_RE, parse_clean_and_csv.py:40-41). */
  val EngNameRe = "[ ]*([A-Za-z0-9'\\-,. ]{4,})"
  val ChiNameRe = "([^A-Za-z'\\-,. ]+[0-9]?[^A-Za-z'\\-,. ]+)"

  /** F2 — is a tag a street marker: key='highway' with a street value
    * (is_street, parse_clean_and_csv.py:380-388). */
  private def isStreetTag(key: Column, value: Column): Column =
    key === "highway" && value.isin(StreetValues: _*)

  /** F2 — ids of ways that are streets, over shredded tags
    * (id, key, value, …). */
  def streetIds(tags: DataFrame): DataFrame =
    tags.filter(isStreetTag(col("key"), col("value")))
      .select(col("id")).distinct()

  /** F2 — is the element whose shaped tag array this is a street. */
  private def isStreet(tags: Column): Column =
    exists(tags, t => isStreetTag(t("key"), t("value")))

  private def isEn(t: Column) = t("type") === "name" && t("key") === "en"
  private def isZh(t: Column) = t("type") === "name" && t("key") === "zh"
  private def isReg(t: Column) = t("type") === "regular" && t("key") === "name"
  private def regEng(t: Column) =
    nullif(regexp_extract(t("value"), EngNameRe, 1), lit(""))
  private def regChi(t: Column) =
    nullif(regexp_extract(t("value"), ChiNameRe, 1), lit(""))

  /** Last-writer-wins pick of a conditional value over one element's tag
    * array: max over (tag_pos, value) structs — tags failing `cond`
    * contribute NULL, which array_max skips. Mirrors the reference's
    * dict-overwrite semantics when a way carries duplicate name tags
    * (get_street_names assigns per tag in list order,
    * parse_clean_and_csv.py:397-408). */
  private def lastBy(tags: Column, cond: Column => Column,
      value: Column => Column): Column =
    array_max(transform(tags, t => when(cond(t),
      struct(t("tag_pos").as("tag_pos"), value(t).as("v"))))).getField("v")

  /** The four name versions, in probe order: en_only (name:en), zh_only
    * (name:zh), reg_eng / reg_chi (regex split of the plain `name` tag).
    * An empty regex match means "version absent" (Python re.search None →
    * our nullif(…, '')). */
  private val Versions: Seq[(String, Column => Column)] = Seq(
    "en_only" -> (tags => lastBy(tags, isEn, _("value"))),
    "zh_only" -> (tags => lastBy(tags, isZh, _("value"))),
    "reg_eng" -> (tags => lastBy(tags, t => isReg(t) && regEng(t).isNotNull,
      regEng)),
    "reg_chi" -> (tags => lastBy(tags, t => isReg(t) && regChi(t).isNotNull,
      regChi)))

  /** X1 + J1 — the street probe shared by the fix and the audit, one row
    * per element of `elements` (id, tags, …; `tags` a shaped tag array).
    * Adds, for street ways, the four name versions (X1) and their probe
    * against the official `lookup` (name, eng, chi) (name_look_up,
    * parse_clean_and_csv.py:411-424 — the entry identity is the (eng, chi)
    * pair, replacing the reference's positional index):
    *  - `n_matches`: number of DISTINCT official entries matched;
    *  - `not_found`: number of present versions no entry knows;
    *  - `c_eng` / `c_chi`: the matched entry when `n_matches` = 1;
    *  - `n_versions`: number of present versions.
    * Non-street ways get NULL versions and `n_matches` = 0. */
  def probe(elements: DataFrame, lookup: DataFrame): DataFrame = {
    val street = elements.withColumn("_street", isStreet(col("tags")))
    val versions = street.select(col("*") +: Versions.map { case (n, v) =>
      when(col("_street"), v(col("tags"))).as(n) }: _*).drop("_street")
    // one probe table row per name: every entry that name can stand for
    val byName = broadcast(lookup.groupBy(col("name"))
      .agg(collect_set(struct(col("eng"), col("chi"))).as("matches")))
    val names = Versions.map(_._1)
    val probed = names.foldLeft(versions) { (df, v) =>
      val p = byName.as(s"_p_$v")
      df.join(p, df(v) === col(s"_p_$v.name"), "left")
        .select(df("*"), col(s"_p_$v.matches").as(s"_m_$v"))
    }
    val matches = array_distinct(flatten(filter(
      array(names.map(v => col(s"_m_$v")): _*), _.isNotNull)))
    val notFound = names.map(v =>
      when(col(v).isNotNull && col(s"_m_$v").isNull, 1).otherwise(0))
      .reduce(_ + _)
    // array_max, not element_at: NULL (never an ANSI index error) on an
    // empty match list, and the single entry when n_matches = 1
    val single = when(size(col("_matches")) === 1, array_max(col("_matches")))
    probed
      .withColumn("_matches", matches)
      .withColumn("not_found", notFound)
      .withColumn("n_matches", size(col("_matches")))
      .withColumn("c_eng", single.getField("eng"))
      .withColumn("c_chi", single.getField("chi"))
      .withColumn("n_versions",
        names.map(v => col(v).isNotNull.cast("int")).reduce(_ + _))
      .drop("_matches" +: names.map(v => s"_m_$v"): _*)
  }

  /** X2 — fix each street way's name tags inside its tag array
    * (fix_street_names, parse_clean_and_csv.py:426-485). A way with
    * EXACTLY ONE distinct official match gets the three name-tag kinds
    * overwritten with the canonical values (en → eng, zh → chi, regular
    * name → "chi eng"), and any of the three that is missing appended
    * after the way's last tag, in the order en → zh → reg, at
    * `tag_pos` = max tag_pos + 1 + (0 | 1 | 2) (parse_clean_and_csv.py:
    * 469-484). Every tag gains `name_changed`; appended tags carry
    * `name_changed` = true and `phone_changed` = false.
    *
    * In: (id, tags) with `tags` a [[PhoneFix.fixPhones]] array.
    * Out: (id, tags) with
    * `tags: array<struct<key, value, type, tag_pos, name_changed,
    * phone_changed>>`. */
  def fixStreetNames(elements: DataFrame, lookup: DataFrame): DataFrame = {
    val tags = col("tags")
    val fix = col("n_matches") === 1
    val cEng = col("c_eng")
    val cChi = col("c_chi")
    val cReg = concat(cChi, lit(" "), cEng)
    val overwritten = transform(tags, t => {
      val v = when(fix && isEn(t), cEng).when(fix && isZh(t), cChi)
        .when(fix && isReg(t), cReg).otherwise(t("value"))
      struct(t("key").as("key"), v.as("value"), t("type").as("type"),
        t("tag_pos").as("tag_pos"), (v =!= t("value")).as("name_changed"),
        t("phone_changed").as("phone_changed"))
    })
    val maxPos = array_max(transform(tags, _("tag_pos")))
    def append(is: Column => Column, key: String, value: Column,
        tpe: String, ord: Int): Column =
      when(fix && !exists(tags, is), struct(lit(key).as("key"),
        value.as("value"), lit(tpe).as("type"),
        (maxPos + 1 + ord).as("tag_pos"), lit(true).as("name_changed"),
        lit(false).as("phone_changed")))
    val appended = filter(array(append(isEn, "en", cEng, "name", 0),
      append(isZh, "zh", cChi, "name", 1),
      append(isReg, "name", cReg, "regular", 2)), _.isNotNull)
    probe(elements.select(col("id"), tags), lookup)
      .select(col("id"), concat(overwritten, appended).as("tags"))
  }

  /** Per-way name-updated flag over a [[fixStreetNames]] array: any
    * overwrite changed a value, or anything was appended (ref `updated`
    * flag, parse_clean_and_csv.py:431-485). */
  def nameUpdated(fixedTags: Column): Column =
    exists(fixedTags, _("name_changed"))
}
