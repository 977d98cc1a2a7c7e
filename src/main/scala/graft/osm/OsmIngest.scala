package graft.osm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** OSM XML ingestion + shaping into the reference's five output relations
  * (ref: shape_element, parse_clean_and_csv.py:115-166; streaming scan
  * get_element at 168-176).
  *
  * Spark-first design: one distributed XML read per rowTag (node / way) with
  * an explicit schema — the executor-side pull parser is the scale-out
  * equivalent of the reference's `iterparse` + `root.clear()` streaming scan,
  * and an explicit schema avoids the schema-inference extra pass over 100 TB.
  * All attribute values stay STRINGS, exactly like the reference's CSV model
  * (typed views are derived separately for SQL exploration).
  *
  * Tag shaping (an array `transform` / `filter` per element, see
  * [[tagArray]]), tag shredding (`explode`) and way-node position assignment
  * (`posexplode`) are narrow projections — no shuffle anywhere in ingest.
  */
object OsmIngest {

  private val tagStruct = ArrayType(StructType(Seq(
    StructField("_k", StringType), StructField("_v", StringType))))
  private val ndStruct = ArrayType(StructType(Seq(
    StructField("_ref", StringType))))

  /** rowTag=node schema: whitelisted attributes (NODE_FIELDS,
    * parse_clean_and_csv.py:61-63) + nested tag array. Extra XML attributes
    * (e.g. `visible`) are simply absent from the schema — the declarative
    * equivalent of the reference's attribute whitelist projection. */
  val nodeSchema: StructType = StructType(Seq(
    StructField("_id", StringType), StructField("_lat", StringType),
    StructField("_lon", StringType), StructField("_user", StringType),
    StructField("_uid", StringType), StructField("_version", StringType),
    StructField("_changeset", StringType),
    StructField("_timestamp", StringType),
    StructField("tag", tagStruct)))

  /** rowTag=way schema (WAY_FIELDS, line 65) + tag and nd arrays. */
  val waySchema: StructType = StructType(Seq(
    StructField("_id", StringType), StructField("_user", StringType),
    StructField("_uid", StringType), StructField("_version", StringType),
    StructField("_changeset", StringType),
    StructField("_timestamp", StringType),
    StructField("tag", tagStruct), StructField("nd", ndStruct)))

  /** Tag keys containing any problem char are dropped entirely
    * (PROBLEMCHARS, parse_clean_and_csv.py:37,128-131). Colon is NOT a
    * problem char. */
  val ProblemChars = "[=\\+/&<>;'\"\\?%#$@\\,\\. \t\r\n]"

  // Scan note (measured, MultiFileScanSpec): the XML source parallelizes
  // across FILES but never splits one file — and multiLine=false "splits"
  // by mis-parsing. At scale, shard the extract into many files (the
  // standard 100 TB shape); a single big file is repartitioned after the
  // scan to the pipeline's byte-sized width (OsmPipeline.width), so
  // downstream shaping/cleaning still uses every core.
  // FAILFAST: the source's default, PERMISSIVE, turns a malformed element
  // into an all-NULL row and drops the element after it, with no error.
  private def readXml(spark: SparkSession, path: String, rowTag: String,
      schema: StructType): DataFrame =
    spark.read.format("xml")
      .option("rowTag", rowTag)
      .option("mode", "FAILFAST")
      .schema(schema)
      .load(path)

  def rawNodes(spark: SparkSession, path: String): DataFrame =
    readXml(spark, path, "node", nodeSchema)

  def rawWays(spark: SparkSession, path: String): DataFrame =
    readXml(spark, path, "way", waySchema)

  /** rowTag=relation schema — an EXTENSION beyond the reference, which
    * silently skips `<relation>` elements (its shape_element handles only
    * node/way, parse_clean_and_csv.py:115-166): same attribute whitelist,
    * nested tag array, plus the member array (type/ref/role). */
  val relationSchema: StructType = StructType(Seq(
    StructField("_id", StringType), StructField("_user", StringType),
    StructField("_uid", StringType), StructField("_version", StringType),
    StructField("_changeset", StringType),
    StructField("_timestamp", StringType),
    StructField("tag", tagStruct),
    StructField("member", ArrayType(StructType(Seq(
      StructField("_type", StringType), StructField("_ref", StringType),
      StructField("_role", StringType)))))))

  def rawRelations(spark: SparkSession, path: String): DataFrame =
    readXml(spark, path, "relation", relationSchema)

  /** relations(id, user, uid, version, changeset, timestamp). */
  def relations(raw: DataFrame): DataFrame = ways(raw)

  /** relations_members(id, member_type, member_ref, role, position) —
    * position is the member's 0-based ordinal within its relation (the
    * same posexplode shape as ways_nodes). */
  def relationMembers(raw: DataFrame): DataFrame =
    raw.select(col("_id").as("id"),
        posexplode(col("member")).as(Seq("position", "m")))
      .select(col("id"), col("m._type").as("member_type"),
        col("m._ref").as("member_ref"), col("m._role").as("role"),
        col("position"))

  /** PERMISSIVE scan for dirty inputs at scale: malformed records land in
    * `_corrupt_record` instead of failing the job (the 100 TB reality —
    * a truncated shard must not kill a 1000-executor pipeline). Callers
    * split on `_corrupt_record IS NULL` and route the rest to quarantine.
    * The default readers above keep the strict schema: on the bundled
    * clean extracts a parse failure should fail loudly. */
  def rawNodesPermissive(spark: SparkSession, path: String): DataFrame =
    readPermissive(spark, path, "node", nodeSchema)

  def rawWaysPermissive(spark: SparkSession, path: String): DataFrame =
    readPermissive(spark, path, "way", waySchema)

  private def readPermissive(spark: SparkSession, path: String,
      rowTag: String, schema: StructType): DataFrame =
    spark.read.format("xml")
      .option("rowTag", rowTag)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema.add("_corrupt_record", StringType))
      .load(path)

  /** nodes(id, lat, lon, user, uid, version, changeset, timestamp) —
    * all strings (ref keeps XML attribute text verbatim). */
  def nodes(raw: DataFrame): DataFrame =
    raw.select(
      col("_id").as("id"), col("_lat").as("lat"), col("_lon").as("lon"),
      col("_user").as("user"), col("_uid").as("uid"),
      col("_version").as("version"), col("_changeset").as("changeset"),
      col("_timestamp").as("timestamp"))

  /** ways(id, user, uid, version, changeset, timestamp). */
  def ways(raw: DataFrame): DataFrame =
    raw.select(
      col("_id").as("id"), col("_user").as("user"), col("_uid").as("uid"),
      col("_version").as("version"), col("_changeset").as("changeset"),
      col("_timestamp").as("timestamp"))

  /** One element's shaped tags, still nested: the raw `tag` column as
    * `array<struct<key, value, type, tag_pos>>` (shape_element's per-element
    * tag list). The phone and street-name fixes rewrite this array inside
    * each element row, so fixing never moves OSM rows.
    *
    * `tag_pos` is the tag's ordinal inside its element — the reference's
    * implicit list order, needed downstream for last-writer-wins flag
    * semantics and append-at-end ordering. It is numbered BEFORE the
    * PROBLEMCHARS filter, so a dropped key leaves a gap. Dropped at the CSV
    * sink.
    *
    * Key split at the FIRST colon (FIRST_COLON_RE `(.*?):(.*)$`,
    * parse_clean_and_csv.py:135-141): `name:zh:pinyin` → type `name`,
    * key `zh:pinyin`; no colon → type `regular`. */
  val tagArray: Column = {
    val indexed = transform(col("tag"), (t, i) =>
      struct(t("_k").as("k"), t("_v").as("value"), i.as("tag_pos")))
    val kept = filter(indexed, t => !t("k").rlike(ProblemChars))
    transform(kept, t => {
      val k = t("k")
      val hasColon = k.contains(":")
      struct(
        when(hasColon, regexp_extract(k, "^(.*?):(.*)$", 2))
          .otherwise(k).as("key"),
        t("value").as("value"),
        when(hasColon, regexp_extract(k, "^(.*?):(.*)$", 1))
          .otherwise("regular").as("type"),
        t("tag_pos").as("tag_pos"))
    })
  }

  /** Explode shaped tag arrays into (id, key, value, type, tag_pos, extras…)
    * rows: one row per struct field of `tags`, in field order. */
  def explodeTags(elements: DataFrame, tags: Column): DataFrame =
    elements.select(col("id"), explode(tags).as("t")).select("id", "t.*")

  /** Shred the nested tag array into (id, key, value, type, tag_pos) rows
    * ([[tagArray]], exploded). */
  def tags(raw: DataFrame): DataFrame =
    explodeTags(raw.select(col("_id").as("id"), col("tag")), tagArray)

  /** ways_nodes(id, node_id, position) — position is the 0-based ordinal of
    * the `<nd>` ref within its way (parse_clean_and_csv.py:143-149), via
    * posexplode (array order == document order in Spark's XML source). */
  def wayNodes(raw: DataFrame): DataFrame =
    raw.select(col("_id").as("id"),
        posexplode(col("nd")).as(Seq("position", "n")))
      .select(col("id"), col("n._ref").as("node_id"), col("position"))
}
