package graft.osm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Phone-number canonicalization (C6-C9 + X3 in SURVEY.md §2.9/2.10;
  * ref: parse_clean_and_csv.py:55-59,490-534).
  *
  * Built entirely from `functions._` higher-order array functions — no UDF —
  * and applied inside each element's nested tag array, so the fix is a
  * narrow per-element projection (zero shuffle).
  */
object PhoneFix {

  /** Tag keys whose values are treated as phone numbers
    * (PHONE_KEYS, parse_clean_and_csv.py:105-107). */
  val PhoneKeys: Seq[String] =
    Seq("phone", "fax", "whatsapp", "mobile", "telephone", "operator",
      "source")

  /** Characters stripped before shape-matching, incl. the full-width plus
    * U+FF0B (NON_DIGIT_CHAR_RE, parse_clean_and_csv.py:58). */
  val StripRe = "[- +)(＋]+"

  private val HkRe = "^(852)?\\d{8}$"
  private val HkExtract = "^(?:852)?(\\d{8})$"
  private val PrcCellRe = "^(86)?1[3-9]\\d{9}$"
  private val PrcCellExtract = "^(?:86)?(1[3-9]\\d{9})$"
  private val SzLandRe = "^(86)?0?755\\d{6,8}$"
  private val SzLandExtract = "^(?:86)?0?755(\\d{6,8})$"

  /** Canonicalize one `,`/`;`-separated phone value
    * (fix_phone_value, parse_clean_and_csv.py:490-522):
    * per segment, strip separators then first-match-wins over
    * HK (`+852 NNNNNNNN`) → PRC cell (`+86 1NNNNNNNNNN`) →
    * Shenzhen landline (`+86 755 NNNNNN..`); unmatched segments are
    * dropped; matched ones are rejoined with `;`; if NO segment matched the
    * input is returned unchanged. */
  def fixPhoneValue(v: Column): Column = {
    val canon = transform(split(v, "[,;]"), seg => {
      val s = regexp_replace(seg, StripRe, "")
      when(s.rlike(HkRe),
          concat(lit("+852 "), regexp_extract(s, HkExtract, 1)))
        .when(s.rlike(PrcCellRe),
          concat(lit("+86 "), regexp_extract(s, PrcCellExtract, 1)))
        .when(s.rlike(SzLandRe),
          concat(lit("+86 755 "), regexp_extract(s, SzLandExtract, 1)))
        .otherwise(lit(null).cast("string"))
    })
    val matched = filter(canon, _.isNotNull)
    when(size(matched) > 0, array_join(matched, ";")).otherwise(v)
  }

  private def isPhoneKey(key: Column): Column = key.isin(PhoneKeys: _*)

  /** X3 — apply [[fixPhoneValue]], inside one element's shaped tag array
    * ([[OsmIngest.tagArray]]), to every tag whose key ∈ PhoneKeys
    * (fix_phones_in_tags). Each tag gains `phone_changed` (did THIS tag's
    * value change) for update-history derivation:
    * `array<struct<key, value, type, tag_pos, phone_changed>>`. */
  def fixPhones(tags: Column): Column = {
    val withNew = transform(tags, t => struct(t("key").as("key"),
      t("value").as("value"), t("type").as("type"), t("tag_pos").as("tag_pos"),
      when(isPhoneKey(t("key")), fixPhoneValue(t("value")))
        .otherwise(t("value")).as("new_value")))
    transform(withNew, t => struct(t("key").as("key"),
      t("new_value").as("value"), t("type").as("type"),
      t("tag_pos").as("tag_pos"),
      (isPhoneKey(t("key")) && t("new_value") =!= t("value"))
        .as("phone_changed")))
  }

  /** Per-element phone-updated flag over a [[fixPhones]]-fixed tag array,
    * replicating the reference's last-writer-wins quirk
    * (fix_phones_in_tags, parse_clean_and_csv.py:533: `updated` is
    * overwritten by each phone-key tag, so the LAST phone-key tag in
    * document order decides) as the max-by-tag_pos over the phone-key tags.
    * NULL when the element has no phone-key tag. */
  def phoneUpdated(fixedTags: Column): Column =
    array_max(transform(filter(fixedTags, t => isPhoneKey(t("key"))),
        t => struct(t("tag_pos").as("tag_pos"),
          t("phone_changed").as("phone_changed"))))
      .getField("phone_changed")
}
