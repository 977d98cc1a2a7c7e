package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.osm.{Audits, Explore, OsmPipeline}

/** SparkEntry surface for the OSM engine itself (SURVEY.md §2 rows S1-S3,
  * P1-P4, F1-F7, J1-J3, C1-C10, X1-X7) — run on the reference's bundled
  * inputs (`shatin.osm` + official street list), independent of the sfDir
  * argument.
  *
  * Correctness evidence is two-layered. The XML INGEST half (raw scans,
  * way-node/member positions, the official-list cleaning) is oracled
  * against an INDEPENDENT parser: DuckDB cannot read the XML itself, so
  * [[graft.Verify]] runs `tools/shred_osm.py` (stdlib ElementTree,
  * mirroring the reference's iterparse semantics — see [[OsmShred]]) and
  * the six raw queries compare against ITS parquet export, a true
  * two-implementation check on top of OsmGoldenSpec's reference-derived
  * hashes. Everything DOWNSTREAM of ingestion (the explore
  * joins/aggregations, update-history derivation, both audits, the
  * official-list corrections, and the full phone + street-name tag fixes)
  * is oracled relationally: [[graft.Verify]] exports the upstream
  * relations via [[OsmOracleExport]] and the [[oracle]] map below
  * restates each computation in DuckDB SQL over those exports.
  */
object OsmQueries {

  /** The inputs, from [[graft.osm.OsmInputs]] (`SPARK_GRAFT_OSM`,
    * `SPARK_GRAFT_OSM_OFFICIAL`). */
  val OsmPath: String = graft.osm.OsmInputs.osm
  val PsiPath: String = graft.osm.OsmInputs.official

  // One pipeline per session — queries share the staged relations (each
  // relation memo in OsmPipeline materializes its cache on first access
  // via Stage.barrier, so every query pays exactly for what it touches).
  // Release-scoped like those memos: Stage.releaseAll drops the pipeline
  // with them, and the next query builds a fresh one.
  private val sharedPipeline = new graft.ops.SessionScoped[OsmPipeline]
  private def pipe(s: SparkSession): OsmPipeline =
    sharedPipeline.getOrCompute(s, OsmPath)(OsmPipeline(s, OsmPath, PsiPath))

  /** The session's shared pipeline, for [[OsmOracleExport]]'s relation
    * dump — same staged scans, no extra XML parse. */
  private[queries] def pipeline(s: SparkSession): OsmPipeline = pipe(s)

  /** Force every staged relation of the shared pipeline to materialize —
    * the bench harness runs this ONCE, timed separately, before the
    * contiguous `q_osm_*` block, so the shared staging cost (XML parse,
    * phone/street fixes, audit ordering) is an artifact line of its own
    * instead of being charged to whichever query touches it first (the
    * attribution defect adjudicated in rounds 3/6/11/12/13). Touching the
    * accessors is sufficient: each memo's Stage.barrier materializes on
    * first access. */
  def stageAll(s: SparkSession): Unit = {
    val p = pipe(s)
    p.officialUncorrected; p.nodes; p.ways
    p.nodeTagsFixed; p.wayTagsFixed; p.updateHistory; p.phoneAudit
    p.relations
    ()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // relation ingestion is an extension beyond the reference (its
    // shape_element skips <relation> elements); both read the pipeline's
    // one staged relation scan
    "q_osm_relations" -> ((s, _) => pipe(s).relations),
    "q_osm_relation_members" -> ((s, _) => pipe(s).relationMembers),
    "q_osm_nodes" -> ((s, _) => pipe(s).nodes),
    "q_osm_node_tags" -> ((s, _) => pipe(s).nodeTags),
    "q_osm_ways" -> ((s, _) => pipe(s).ways),
    "q_osm_way_tags" -> ((s, _) => pipe(s).wayTags),
    "q_osm_way_nodes" -> ((s, _) => pipe(s).wayNodes),
    "q_osm_update_history" -> ((s, _) => pipe(s).updateHistory),
    "q_osm_official_list" -> ((s, _) => pipe(s).official),
    "q_osm_official_raw" -> ((s, _) => pipe(s).officialUncorrected),
    "q_osm_audit_streets" -> ((s, _) => pipe(s).streetAudit),
    "q_osm_audit_phones" -> ((s, _) => pipe(s).phoneAuditRows),
    "q_osm_audit_phone_keys" ->
      ((s, _) => Audits.phoneKeyCounts(pipe(s).phoneAuditRows)),
    "q_osm_audit_phone_chars" ->
      ((s, _) => Audits.phoneCharCensus(pipe(s).phoneAudit)),
    "q_osm_explore_summary" -> ((s, _) => {
      pipe(s).registerViews()
      Explore.summary(s)
    }),
    // the typed-DataFrame explore variant (equality with the SQL form is
    // asserted in ExploreSpec) — both forms stay driver-exercised
    "q_osm_explore_contributions" -> ((s, _) =>
      Explore.df.updatedUsersVsContributions(pipe(s))),
  )

  // ---- DuckDB oracle SQL over the relations [[OsmOracleExport]] dumps ----
  //
  // Each entry RESTATES the downstream relational logic over exported
  // upstream inputs — never `SELECT *` of a query's own result. The ingest
  // half (XML scans, tag shaping) remains golden-pinned by OsmGoldenSpec;
  // these give the join/aggregate half a real cross-engine check.

  /** An exported relation, via the placeholder [[graft.Verify]] rewrites
    * to the actual export directory when writing oracle_sql.json. */
  private def rel(name: String): String =
    s"read_parquet('${OsmOracleExport.Placeholder}/$name/*.parquet')"

  /** A relation written by the INDEPENDENT ElementTree shredder
    * ([[OsmShred]]). `SELECT *` over these is a real check — the parquet
    * on the oracle side was produced by a second parser implementation,
    * never by the engine under test. */
  private def shredRel(name: String): String =
    s"SELECT * FROM read_parquet('${OsmShred.Placeholder}/$name/*.parquet')"

  /** Single-quoted SQL string literal (DuckDB standard strings treat
    * backslash literally, so Java regexes embed verbatim). */
  private def lit(s: String): String = "'" + s.replace("'", "''") + "'"

  private def phoneKeyList: String =
    graft.osm.PhoneFix.PhoneKeys.map(lit).mkString(", ")

  /** The audit's three tolerant phone-shape regexes, as a DuckDB filter
    * over one exploded `;`-segment (audit_phone_numbers.py:30-55 — the
    * same constants the engine compiles, so engine and oracle agree by
    * construction on the DATA while the explode/filter/union LOGIC is
    * computed independently). */
  private def segmentIsPhoneShaped: String = {
    import graft.osm.Audits
    Seq(Audits.HkPhoneRe, Audits.SzLandRe, Audits.PrcCellRe)
      .map(r => s"regexp_matches(segment, ${lit(r)})").mkString(" OR ")
  }

  /** X6 — the phone audit restated: keep phone/fax tags outright; other
    * tags emit one row PER `;`-segment whose shape matches (duplicates
    * preserved deliberately, matching the reference's append-per-segment).
    * `cols` lets the three audit queries share the derivation. */
  private def auditSql(cols: String): String =
    s"WITH t AS (SELECT * FROM ${rel("raw_tags")}), " +
      s"seg AS (SELECT _kind, _tag_pos, id, key, value, type, " +
      "unnest(string_split(value, ';')) AS segment FROM t " +
      "WHERE key <> 'phone' AND key <> 'fax') " +
      s"SELECT $cols FROM t WHERE key = 'phone' OR key = 'fax' " +
      s"UNION ALL SELECT $cols FROM seg WHERE $segmentIsPhoneShaped"

  /** X3 as CTEs: phone-fix the shaped tags in `src` → `out` (same rows,
    * phone-key values canonicalized; the matched-segment list shares
    * q_phone_canon's rendering via [[OracleSql.phoneMatchedList]]). */
  private def duckPhoneFixedCtes(src: String, out: String): String =
    s"${out}_m AS (SELECT id, key, value, type, tag_pos, " +
      s"${graft.queries.OracleSql.phoneMatchedList("value")} AS m " +
      s"FROM $src), " +
      s"$out AS (SELECT id, key, CASE WHEN key IN ($phoneKeyList) " +
      "AND len(m) > 0 THEN array_to_string(m, ';') ELSE value END " +
      s"AS value, type, tag_pos FROM ${out}_m)"

  /** F2 + X1 as CTEs over shaped tags CTE `base`: street-way selection,
    * then per way the up-to-4 name versions — last-writer-wins by
    * tag_pos (arg_max), regex sub-name extraction (C3/C4, RE2 side) —
    * plus presence flags. Emits CTEs `streets`, `st`, `ver`. */
  private def duckVersionsCtes(base: String): String = {
    import graft.osm.StreetNameFix
    val streetVals = StreetNameFix.StreetValues.map(lit).mkString(", ")
    val engEx = s"nullif(regexp_extract(value, " +
      s"${lit(StreetNameFix.EngNameRe)}, 1), '')"
    val chiEx = s"nullif(regexp_extract(value, " +
      s"${lit(StreetNameFix.ChiNameRe)}, 1), '')"
    def lastBy(cond: String, value: String, as: String) =
      s"arg_max(CASE WHEN $cond THEN $value END, " +
        s"CASE WHEN $cond THEN tag_pos END) AS $as"
    s"streets AS (SELECT DISTINCT id FROM $base WHERE key = 'highway' " +
      s"AND value IN ($streetVals)), " +
      s"st AS (SELECT $base.* FROM $base JOIN streets USING (id)), " +
      "ver AS (SELECT id, " +
      lastBy("type = 'name' AND key = 'en'", "value", "en_only") + ", " +
      lastBy("type = 'name' AND key = 'zh'", "value", "zh_only") + ", " +
      lastBy(s"type = 'regular' AND key = 'name' AND $engEx IS NOT NULL",
        engEx, "reg_eng") + ", " +
      lastBy(s"type = 'regular' AND key = 'name' AND $chiEx IS NOT NULL",
        chiEx, "reg_chi") + ", " +
      "max(CASE WHEN type = 'name' AND key = 'en' THEN 1 ELSE 0 END) " +
      "AS has_en, " +
      "max(CASE WHEN type = 'name' AND key = 'zh' THEN 1 ELSE 0 END) " +
      "AS has_zh, " +
      "max(CASE WHEN type = 'regular' AND key = 'name' THEN 1 ELSE 0 END) " +
      "AS has_reg " +
      "FROM st GROUP BY id)"
  }

  /** J1/J3 as CTEs: probe `ver`'s four versions against lookup CTE `lk`
    * (name → (eng, chi)): distinct-match count, not-found count, and the
    * matched canonical pair. Emits CTEs `pr`, `prf`, `res`. */
  private def duckLookupResCtes: String =
    "pr AS (SELECT id, unnest([en_only, zh_only, reg_eng, reg_chi]) " +
      "AS name FROM ver), " +
      "prf AS (SELECT id, name FROM pr WHERE name IS NOT NULL), " +
      "res AS (SELECT p.id, count(DISTINCT CASE WHEN l.eng IS NOT NULL " +
      "THEN (l.eng, l.chi) END) AS n_matches, " +
      "sum(CASE WHEN l.eng IS NULL THEN 1 ELSE 0 END) AS not_found, " +
      "max(l.eng) FILTER (WHERE l.eng IS NOT NULL) AS c_eng, " +
      "max(l.chi) FILTER (WHERE l.eng IS NOT NULL) AS c_chi " +
      "FROM prf p LEFT JOIN lk l ON l.name = p.name GROUP BY p.id)"

  /** C2 + F4 as CTEs over `oc` (the exported uncorrected list): the
    * 14-entry corrections lookup, the Shenzhen exclusion, and the
    * bidirectional probe table. Emits CTEs `m`, `corr`, `official`,
    * `lk`. */
  private def duckCorrectedLookupCtes: String = {
    val pairs = graft.osm.OfficialList.Corrections.toSeq.sorted
      .map { case (k, v) => s"(${lit(k)}, ${lit(v)})" }.mkString(", ")
    val sz = graft.osm.OfficialList.SzStreetNames.map(lit).mkString(", ")
    s"m AS (SELECT * FROM (VALUES $pairs) AS m(k, v)), " +
      "corr AS (SELECT coalesce(me.v, c.eng) AS eng, " +
      "coalesce(mc.v, c.chi) AS chi FROM oc c " +
      "LEFT JOIN m me ON c.eng = me.k LEFT JOIN m mc ON c.chi = mc.k), " +
      s"official AS (SELECT eng, chi FROM corr WHERE chi NOT IN ($sz)), " +
      "lk AS (SELECT eng AS name, eng, chi FROM official " +
      "UNION SELECT chi, eng, chi FROM official)"
  }

  val oracle: Map[String, String] = Map(
    // S1/S3/P2 raw ingest vs the independent ElementTree shredder —
    // closes the last `no_oracle` rows (cross-engine since round 10)
    "q_osm_nodes" -> shredRel("nodes"),
    "q_osm_ways" -> shredRel("ways"),
    "q_osm_way_nodes" -> shredRel("way_nodes"),
    "q_osm_relations" -> shredRel("relations"),
    "q_osm_relation_members" -> shredRel("relation_members"),
    "q_osm_official_raw" -> shredRel("official_raw"),
    // p.8 scalar explore metrics, one row per metric (counts, the
    // distinct-contributors UNION ALL, the IN / NOT IN subqueries)
    "q_osm_explore_summary" ->
      (s"WITH nodes AS (SELECT * FROM ${rel("nodes")}), " +
        s"ways AS (SELECT * FROM ${rel("ways")}), " +
        s"ways_tags AS (SELECT * FROM ${rel("ways_tags")}), " +
        s"uh AS (SELECT * FROM ${rel("update_history")}) " +
        "SELECT 'distinct_users' AS metric, (SELECT COUNT(DISTINCT uid) " +
        "FROM (SELECT uid FROM nodes UNION ALL SELECT uid FROM ways)) " +
        "AS value " +
        "UNION ALL SELECT 'name_updates', (SELECT COUNT(*) FROM uh " +
        "WHERE field_updated = 'name') " +
        "UNION ALL SELECT 'named_buildings_amenities', " +
        "(SELECT COUNT(DISTINCT id) FROM ways_tags " +
        "WHERE (key = 'amenity' OR key = 'building') AND id IN " +
        "(SELECT DISTINCT id FROM ways_tags WHERE key = 'name')) " +
        "UNION ALL SELECT 'nodes_count', (SELECT COUNT(*) FROM nodes) " +
        "UNION ALL SELECT 'phone_updates', (SELECT COUNT(*) FROM uh " +
        "WHERE field_updated = 'phone') " +
        "UNION ALL SELECT 'unnamed_buildings_amenities', " +
        "(SELECT COUNT(DISTINCT id) FROM ways_tags " +
        "WHERE (key = 'amenity' OR key = 'building') AND id NOT IN " +
        "(SELECT DISTINCT id FROM ways_tags WHERE key = 'name')) " +
        "UNION ALL SELECT 'ways_count', (SELECT COUNT(*) FROM ways)"),
    // p.10 — JOIN + UNION ALL + GROUP BY + LEFT JOIN
    "q_osm_explore_contributions" ->
      (s"WITH nodes AS (SELECT * FROM ${rel("nodes")}), " +
        s"ways AS (SELECT * FROM ${rel("ways")}), " +
        s"uh AS (SELECT * FROM ${rel("update_history")}), " +
        "updated AS (SELECT w.uid AS uid FROM uh JOIN ways w " +
        "ON w.id = uh.id WHERE uh.element_type = 'way' " +
        "UNION ALL SELECT n.uid AS uid FROM uh JOIN nodes n " +
        "ON n.id = uh.id WHERE uh.element_type = 'node'), " +
        "b AS (SELECT uid, COUNT(*) AS updates FROM updated GROUP BY uid), " +
        "a AS (SELECT uid, COUNT(*) AS contributions FROM " +
        "(SELECT uid FROM nodes UNION ALL SELECT uid FROM ways) " +
        "GROUP BY uid) " +
        "SELECT b.uid AS uid, b.updates AS updates, " +
        "a.contributions AS contributions FROM b " +
        "LEFT JOIN a ON b.uid = a.uid"),
    // K2 — update_history re-DERIVED end-to-end from the RAW tags (no
    // engine-computed flags cross the oracle boundary): per-tag
    // phone_changed is "canonicalized value differs", the per-element
    // flag is the reference's last-writer-wins quirk (the LAST phone-key
    // tag in document order decides → arg_max by tag_pos); the way name
    // flag is "any overwrite changed a value, or anything was appended",
    // both re-derived through the same fix-plan CTEs as q_osm_way_tags
    "q_osm_update_history" ->
      (s"WITH nt AS (SELECT id, key, value, type, _tag_pos AS tag_pos " +
        s"FROM ${rel("raw_tags")} WHERE _kind = 0), " +
        s"wt AS (SELECT id, key, value, type, _tag_pos AS tag_pos " +
        s"FROM ${rel("raw_tags")} WHERE _kind = 1), " +
        duckPhoneFixedCtes("nt", "nfx") + ", " +
        duckPhoneFixedCtes("wt", "wfx") + ", " +
        duckVersionsCtes("wfx") + ", " +
        s"oc AS (SELECT * FROM ${rel("official_cleaned")}), " +
        duckCorrectedLookupCtes + ", " +
        duckLookupResCtes + ", " +
        "plan AS (SELECT r.id, r.c_eng, r.c_chi, " +
        "r.c_chi || ' ' || r.c_eng AS c_reg, " +
        "v.has_en, v.has_zh, v.has_reg " +
        "FROM res r JOIN ver v USING (id) WHERE r.n_matches = 1), " +
        // the *_m CTEs carry the raw value AND the matched-segment list,
        // so per-tag phone_changed is computable without a join back
        "np AS (SELECT id FROM nfx_m " +
        s"WHERE key IN ($phoneKeyList) GROUP BY id " +
        "HAVING arg_max(len(m) > 0 AND array_to_string(m, ';') <> value, " +
        "tag_pos)), " +
        "wp AS (SELECT id FROM wfx_m " +
        s"WHERE key IN ($phoneKeyList) GROUP BY id " +
        "HAVING arg_max(len(m) > 0 AND array_to_string(m, ';') <> value, " +
        "tag_pos)), " +
        "wn AS (SELECT DISTINCT id FROM (" +
        "SELECT p.id FROM wfx w JOIN plan p USING (id) " +
        "WHERE (w.type = 'name' AND w.key = 'en' AND w.value <> p.c_eng) " +
        "OR (w.type = 'name' AND w.key = 'zh' AND w.value <> p.c_chi) " +
        "OR (w.type = 'regular' AND w.key = 'name' " +
        "AND w.value <> p.c_reg) " +
        "UNION ALL SELECT id FROM plan " +
        "WHERE has_en = 0 OR has_zh = 0 OR has_reg = 0)) " +
        "SELECT id, 'node' AS element_type, 'phone' AS field_updated " +
        "FROM np " +
        "UNION ALL SELECT id, 'way', 'phone' FROM wp " +
        "UNION ALL SELECT id, 'way', 'name' FROM wn"),
    // X6 — the audit relation itself (explode + regex filter + union)
    "q_osm_audit_phones" -> auditSql("id, key, value, type"),
    // A4 — key histogram over the same re-derived audit
    "q_osm_audit_phone_keys" ->
      (s"WITH audit AS (${auditSql("key")}) " +
        "SELECT key, COUNT(*) AS cnt FROM audit GROUP BY key"),
    // A5 — first-appearance character census over the re-derived ordered
    // audit: explode each value's characters with positions, take each
    // character's minimal (kind, id, tag_pos, char_pos) via a rank window
    "q_osm_audit_phone_chars" ->
      (s"WITH audit AS (${auditSql("_kind, _tag_pos, id, value")}), " +
        "ex AS (SELECT _kind, TRY_CAST(id AS BIGINT) AS idl, _tag_pos, " +
        "unnest(string_split(value, '')) AS ch, " +
        "generate_subscripts(string_split(value, ''), 1) - 1 AS chpos " +
        "FROM audit), " +
        "r AS (SELECT _kind, idl, _tag_pos, ch, chpos, " +
        "row_number() OVER (PARTITION BY ch " +
        "ORDER BY _kind, idl, _tag_pos, chpos) AS rn " +
        "FROM ex WHERE idl IS NOT NULL) " +
        "SELECT format('{}|{}|{}|{}', _kind, idl, _tag_pos, chpos) " +
        "AS first_seen, ch FROM r WHERE rn = 1"),
    // X5 — the bilingual street audit re-derived end-to-end: street-way
    // selection (F2), the up-to-4-version name pivot with last-writer-
    // wins per tag kind (X1, as arg_max by tag_pos), the regex sub-name
    // extraction (C3/C4 — same patterns, RE2 side), the official-list
    // probe with distinct-match counting (J1/J3), and the audit's
    // disagreement filter — over the exported raw way tags and the
    // UNCORRECTED official list (the audit runs before cleaning by
    // design, audit_bilingual_street_names.py:230-278)
    "q_osm_audit_streets" ->
      (s"WITH wt AS (SELECT id, key, value, type, _tag_pos AS tag_pos " +
        s"FROM ${rel("raw_tags")} WHERE _kind = 1), " +
        duckVersionsCtes("wt") + ", " +
        // the audit probes the UNCORRECTED list (it runs before cleaning
        // by design, audit_bilingual_street_names.py:230-278)
        s"oc AS (SELECT * FROM ${rel("official_cleaned")}), " +
        "lk AS (SELECT eng AS name, eng, chi FROM oc " +
        "UNION SELECT chi AS name, eng, chi FROM oc), " +
        duckLookupResCtes + " " +
        "SELECT v.id, v.en_only, v.reg_eng, v.zh_only, v.reg_chi, " +
        "r.c_eng AS official_eng, r.c_chi AS official_chi " +
        "FROM ver v JOIN res r USING (id) " +
        "WHERE r.n_matches = 1 AND (r.not_found > 0 OR " +
        "CAST(v.en_only IS NOT NULL AS INT) + " +
        "CAST(v.zh_only IS NOT NULL AS INT) + " +
        "CAST(v.reg_eng IS NOT NULL AS INT) + " +
        "CAST(v.reg_chi IS NOT NULL AS INT) < 4)"),
    // X3 alone — the node tags ARE the phone-fixed raw tags (nodes see
    // no street fix), re-derived from the raw export
    "q_osm_node_tags" ->
      (s"WITH nt AS (SELECT id, key, value, type, _tag_pos AS tag_pos " +
        s"FROM ${rel("raw_tags")} WHERE _kind = 0), " +
        duckPhoneFixedCtes("nt", "nfx") + " " +
        "SELECT id, key, value, type FROM nfx"),
    // X2+X3 — the way tags re-derived END-TO-END: phone fix, then the
    // street-name fix (versions pivot → corrected-list probe → exactly-
    // one-match plan → overwrite the three name kinds → append the
    // missing ones), exactly process_map's order
    // (parse_clean_and_csv.py:260,272-273)
    "q_osm_way_tags" ->
      (s"WITH wt AS (SELECT id, key, value, type, _tag_pos AS tag_pos " +
        s"FROM ${rel("raw_tags")} WHERE _kind = 1), " +
        duckPhoneFixedCtes("wt", "wfx") + ", " +
        duckVersionsCtes("wfx") + ", " +
        s"oc AS (SELECT * FROM ${rel("official_cleaned")}), " +
        duckCorrectedLookupCtes + ", " +
        duckLookupResCtes + ", " +
        "plan AS (SELECT r.id, r.c_eng, r.c_chi, " +
        "r.c_chi || ' ' || r.c_eng AS c_reg, " +
        "v.has_en, v.has_zh, v.has_reg " +
        "FROM res r JOIN ver v USING (id) WHERE r.n_matches = 1), " +
        "ow AS (SELECT w.id, w.key, " +
        "CASE WHEN p.c_eng IS NOT NULL AND w.type = 'name' " +
        "AND w.key = 'en' THEN p.c_eng " +
        "WHEN p.c_eng IS NOT NULL AND w.type = 'name' " +
        "AND w.key = 'zh' THEN p.c_chi " +
        "WHEN p.c_eng IS NOT NULL AND w.type = 'regular' " +
        "AND w.key = 'name' THEN p.c_reg " +
        "ELSE w.value END AS value, w.type " +
        "FROM wfx w LEFT JOIN plan p USING (id)) " +
        "SELECT id, key, value, type FROM ow " +
        "UNION ALL SELECT id, 'en', c_eng, 'name' FROM plan " +
        "WHERE has_en = 0 " +
        "UNION ALL SELECT id, 'zh', c_chi, 'name' FROM plan " +
        "WHERE has_zh = 0 " +
        "UNION ALL SELECT id, 'name', c_reg, 'regular' FROM plan " +
        "WHERE has_reg = 0"),
    // C2 + F4 — literal corrections (as a lookup join over the same
    // 14-entry map, parse_clean_and_csv.py:81-100) then the Shenzhen
    // exclusion, over the exported UNCORRECTED list
    "q_osm_official_list" ->
      (s"WITH oc AS (SELECT * FROM ${rel("official_cleaned")}), " +
        duckCorrectedLookupCtes + " " +
        "SELECT eng, chi FROM official"))
}
