package graft.osm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The two audit programs (X5 / X6 in SURVEY.md §2.10) as
  * DataFrame-returning functions; `show` belongs at the CLI edge.
  */
object Audits {

  /** X5 — bilingual street-name audit
    * (audit_bilingual_street_names.py:230-278).
    *
    * NOTE the audit deliberately probes the UNCORRECTED official list (the
    * script never calls update_official_list — that is the point: it runs
    * before cleaning). Keeps street ways with exactly one official match
    * where something still disagrees: a version not found, or fewer than 4
    * versions present. Output: the 4 name versions + the matched official
    * pair. */
  def bilingualStreetNames(spark: SparkSession, osmPath: String,
      officialPath: String): DataFrame =
    bilingualStreetNames(OsmIngest.rawWays(spark, osmPath),
      OfficialList.lookup(OfficialList.cleaned(spark, officialPath)))

  /** Same audit over a prepared raw way scan (the `rowTag=way` schema) —
    * lets callers share a cached scan (OsmPipeline.streetAudit) instead of
    * re-parsing the XML. Runs the street fix's own probe
    * ([[StreetNameFix.probe]]) over each way's unfixed tag array. */
  def bilingualStreetNames(rawWays: DataFrame, lookup: DataFrame): DataFrame =
    StreetNameFix.probe(
        rawWays.select(col("_id").as("id"), OsmIngest.tagArray.as("tags")),
        lookup)
      .filter(col("n_matches") === 1 &&
        (col("not_found") > 0 || col("n_versions") < 4))
      .select(col("id"), col("en_only"), col("reg_eng"), col("zh_only"),
        col("reg_chi"), col("c_eng").as("official_eng"),
        col("c_chi").as("official_chi"))

  /** The audit's three tolerant phone-shape regexes
    * (audit_phone_numbers.py:30-55). Dialect-safe in Java regex; the
    * full-width plus U+FF0B is kept literal. */
  val HkPhoneRe = "^[＋+(]{0,2}[ ]?(852)?\\)?[- ]?([0-9]{4})[- ]?([0-9]{4})$"
  val SzLandRe =
    "^[＋+(]?(86)?\\)?[- ]?\\(?0?(755)\\)?[- ]?([0-9]{3,4})[- ]?([0-9]{3,4})$"
  val PrcCellRe =
    "^[＋+(]?(86)?\\)?[- ]?(1[3-9][0-9])[- ]?([0-9]{4})[- ]?([0-9]{4})$"

  private def isPhoneShaped(c: org.apache.spark.sql.Column) =
    c.rlike(HkPhoneRe) || c.rlike(SzLandRe) || c.rlike(PrcCellRe)

  /** X6 — phone-number audit (audit_phone_numbers.py:142-162): keep tags
    * with key phone/fax outright; for other tags, emit ONE ROW PER
    * `;`-SEGMENT whose shape matches (the reference appends the tag once
    * per matching segment — duplicates preserved deliberately). */
  def phoneNumbers(spark: SparkSession, osmPath: String): DataFrame =
    phoneNumbers(OsmIngest.tags(OsmIngest.rawNodes(spark, osmPath)),
      OsmIngest.tags(OsmIngest.rawWays(spark, osmPath)))

  /** Same audit over prepared shaped tags (OsmPipeline.phoneAudit), with
    * the DOCUMENT-ORDER metadata (`_kind`, `_tag_pos`) the char census
    * needs: the reference walks elements in file order — nodes then ways,
    * ids ascending within each (verified on the bundled extracts), tags in
    * element order — so (kind, id, tag_pos) reconstructs its iteration
    * order distributively. */
  def phoneNumbersOrdered(nodeTags: DataFrame,
      wayTags: DataFrame): DataFrame = {
    val tags = nodeTags.withColumn("_kind", lit(0))
      .unionByName(wayTags.withColumn("_kind", lit(1)))
      .select(col("_kind"), col("tag_pos").as("_tag_pos"),
        col("id"), col("key"), col("value"), col("type"))
    val direct = tags.filter(col("key") === "phone" || col("key") === "fax")
    val shaped = tags
      .filter(col("key") =!= "phone" && col("key") =!= "fax")
      .select(col("_kind"), col("_tag_pos"),
        col("id"), col("key"), col("value"), col("type"),
        explode(split(col("value"), ";", -1)).as("segment"))
      .filter(isPhoneShaped(col("segment")))
      .drop("segment")
    direct.unionByName(shaped)
  }

  /** The audit's public relation (reference row shape). */
  def phoneNumbers(nodeTags: DataFrame, wayTags: DataFrame): DataFrame =
    phoneNumbersOrdered(nodeTags, wayTags)
      .select(col("id"), col("key"), col("value"), col("type"))

  /** A4 — key histogram of the phone audit (value_counts,
    * audit_phone_numbers.py:184). */
  def phoneKeyCounts(audit: DataFrame): DataFrame =
    audit.groupBy(col("key")).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("key"))

  /** A5 — characters across audited values in FIRST-APPEARANCE order
    * (list_chars, audit_phone_numbers.py:164-174). Input is the ORDERED
    * audit ([[phoneNumbersOrdered]]); each character carries the minimum
    * (kind, id, tag_pos, char_pos) it appears at, flattened into one
    * `(kind,id,tag_pos,char_pos)` struct; the output arrives pre-sorted by
    * it, reproducing the reference's printed list exactly. Distributed
    * min-aggregation; output is bounded by the distinct-character count.
    * The min is taken over a STRUCT (field-lexicographic ordering), not a
    * fixed-width formatted string — a node id ≥ 10^12 (ids are ~1.2e10 and
    * growing) or a negative id would overflow a padded "%012d" and corrupt
    * the ordering; `first_seen` is formatted afterwards for display only. */
  def phoneCharCensus(orderedAudit: DataFrame): DataFrame =
    orderedAudit
      .select(col("_kind"), col("id").cast("long").as("_idl"),
        col("_tag_pos"),
        posexplode(split(col("value"), "")).as(Seq("_chpos", "ch")))
      // a non-numeric id casts to NULL, which sorts FIRST inside a struct
      // min (unlike the old formatted-string min, where NULL was skipped);
      // drop such rows so dirty inputs can't claim a first_seen slot
      .filter(col("_idl").isNotNull)
      .groupBy(col("ch"))
      .agg(min(struct(col("_kind"), col("_idl"), col("_tag_pos"),
        col("_chpos"))).as("_first"))
      .orderBy(col("_first"))
      .select(format_string("%d|%d|%d|%d", col("_first._kind"),
        col("_first._idl"), col("_first._tag_pos"), col("_first._chpos"))
        .as("first_seen"), col("ch"))
}
