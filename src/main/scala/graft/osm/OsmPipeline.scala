package graft.osm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** X7 — the orchestrating pipeline (process_map, parse_clean_and_csv.py:
  * 206-290): read OSM XML once per element kind, shape, fix phones (nodes +
  * ways), fix street names (ways only), derive update_history, expose the
  * six output relations.
  *
  * Each element is fixed on its own, inside its nested tag array, as the
  * reference's shape_element does: the staged per-element relations
  * (id, tags, phone_updated[, name_updated]) feed the tag tables (an
  * explode) and update_history (a narrow union of flag filters), so OSM
  * rows never shuffle — only the small official list is grouped and
  * broadcast. The result equals a per-id regrouping of the shredded tags
  * whenever element ids are unique within a kind, as in an OSM extract.
  *
  * The ETL is a DAG, not a line: the node scan, the way scan and the
  * official list do not depend on each other, nor do the node phone fix
  * and the way street-name fix, nor the six CSV writes. [[writeCsvs]]
  * runs them side by side through `Stage.overlap`; the relation memos
  * (one per staged relation, compute serialised per key) resolve the
  * dependencies, so each relation stages exactly once.
  */
final case class OsmPipeline(spark: SparkSession, osmPath: String,
    officialPath: String, quarantineDir: Option[String] = None) {

  // Relation memos: release-scoped registry entries keyed by THIS
  // instance (see Stage LIFECYCLE), so `Stage.releaseAll` drops them and
  // the NEXT access rebuilds — and re-stages — the relation instead of
  // handing out a frame whose cache was unpersisted (which would silently
  // recompute from source on every action).
  private val staged = new graft.ops.SessionScoped[DataFrame]
  private def memo(name: String)(f: => DataFrame): () => DataFrame =
    () => staged.getOrCompute(spark, name)(f)

  /** Drop every relation this session has staged (wired to
    * `Stage.releaseAll`, so it is SESSION-wide: other staged queries in
    * the same session release too — the notebook "free the ~15 pinned
    * relations" hook). The pipeline stays usable: the next relation
    * touched re-stages from the XML (rebuild-on-touch). */
  def release(): Unit = graft.ops.Stage.releaseAll(spark)

  /** The audit scripts probe the UNCORRECTED list (SURVEY.md §3.2).
    * Cached: the corrected list derives from it, so the PSI XML parses
    * once for both pipelines. */
  private val officialUncorrectedM = memo("officialUncorrected")(
    graft.ops.Stage.barrier(OfficialList.cleaned(spark, officialPath)))
  def officialUncorrected: DataFrame = officialUncorrectedM()

  def official: DataFrame = OfficialList.corrected(officialUncorrected)
  def lookup: DataFrame = OfficialList.lookup(official)

  // The raw XML reads are the caches that matter: a single OSM file parses
  // on one task, and every shaped relation (nodes, ways, tags ×2, way
  // nodes) re-parses it otherwise — five single-threaded passes.
  //
  // Every staged relation has ONE width, sized by the extract's INPUT
  // BYTES ([[OsmPipeline.width]]: one partition per
  // [[OsmPipeline.BytesPerPartition]] of raw XML, capped at the cluster's
  // parallelism). The XML source never splits one file (OsmIngest scan
  // notes), so an unsharded 306 MB extract arrives as ONE partition and
  // is repartitioned to every core before the staging cache. A few-MB
  // extract stays ONE partition end to end: the raw scans and the two
  // union-built relations are coalesced to one, their cached leaves
  // carry `SinglePartition`, and every count, group-by and sort the
  // report runs over them plans with no exchange — at that size a shuffle
  // costs more than the cores it would occupy. A well-sharded input above
  // the bound keeps its layout (no gratuitous shuffle).
  private lazy val inputBytes: Long = {
    val hPath = new org.apache.hadoop.fs.Path(osmPath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(hPath)).map(_.map(_.getLen).sum).getOrElse(0L)
  }
  private lazy val width: Int =
    OsmPipeline.width(inputBytes, spark.sparkContext.defaultParallelism)

  /** `df` at the pipeline's width, ahead of its staging barrier: the one
    * place OSM relations are repartitioned or coalesced
    * (tools/tripwire.sh). Width 1 coalesces, so the staged leaf reports
    * `SinglePartition`; a wider input that arrives in fewer partitions
    * than the width is spread, and one that arrives in more keeps its
    * layout. */
  private def fitted(df: DataFrame): DataFrame =
    if (width == 1) df.coalesce(1)
    else if (df.rdd.getNumPartitions < width) df.repartition(width)
    else df

  /** Strict scan by default; with [[quarantineDir]] set, a PERMISSIVE scan
    * whose malformed records are written to `<dir>/<kind>` as text while
    * clean rows flow on — the 100 TB posture where one truncated shard
    * must neither kill the job nor silently vanish. The write happens at
    * staging time (the raw read is cached first: Spark disallows querying
    * only the corrupt column off a raw scan). */
  private def stagedRaw(kind: String, strict: => DataFrame,
      permissive: => DataFrame): DataFrame =
    quarantineDir match {
      case None => graft.ops.Stage.barrier(fitted(strict))
      case Some(q) =>
        val raw = graft.ops.Stage.barrier(fitted(permissive))
        raw.filter(col("_corrupt_record").isNotNull)
          .select(col("_corrupt_record"))
          .write.mode("overwrite").text(s"$q/$kind")
        raw.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
    }

  private val rawNodesM = memo("rawNodes")(stagedRaw("nodes",
    OsmIngest.rawNodes(spark, osmPath),
    OsmIngest.rawNodesPermissive(spark, osmPath)))
  private def rawNodes = rawNodesM()
  private val rawWaysM = memo("rawWays")(stagedRaw("ways",
    OsmIngest.rawWays(spark, osmPath),
    OsmIngest.rawWaysPermissive(spark, osmPath)))
  private def rawWays = rawWaysM()

  // nodes/ways appear in several branches of one exploration job
  // (counts + distinct_users + contribution joins) — barrier, not cache
  private val nodesM =
    memo("nodes")(graft.ops.Stage.barrier(OsmIngest.nodes(rawNodes)))
  def nodes: DataFrame = nodesM()
  private val waysM =
    memo("ways")(graft.ops.Stage.barrier(OsmIngest.ways(rawWays)))
  def ways: DataFrame = waysM()
  def wayNodes: DataFrame = OsmIngest.wayNodes(rawWays)

  /** Shaped tags BEFORE any cleaning — the audit scripts' input (they run
    * against the uncleaned data by design, SURVEY.md §3.2-3.3). Cheap
    * projections of the cached raw reads. */
  def rawNodeTags: DataFrame = OsmIngest.tags(rawNodes)
  def rawWayTags: DataFrame = OsmIngest.tags(rawWays)

  /** One row per element with its shaped tag array phone-fixed in place. */
  private def phoneFixed(raw: DataFrame): DataFrame =
    raw.select(col("_id").as("id"),
      PhoneFix.fixPhones(OsmIngest.tagArray).as("tags"))

  /** Nodes fixed per element: (id, tags, phone_updated). */
  private val nodesFixedM = memo("nodesFixed")(graft.ops.Stage.barrier(
    phoneFixed(rawNodes).select(col("id"), col("tags"),
      PhoneFix.phoneUpdated(col("tags")).as("phone_updated"))))

  /** Ways fixed per element, phone fix THEN street-name fix (process_map
    * order, parse_clean_and_csv.py:260,272-273):
    * (id, tags, phone_updated, name_updated). The official lookup is the
    * only relation that moves (grouped by name, broadcast). */
  private val waysFixedM = memo("waysFixed") {
    val fixed = StreetNameFix.fixStreetNames(phoneFixed(rawWays), lookup)
    graft.ops.Stage.barrier(fixed.select(col("id"), col("tags"),
      PhoneFix.phoneUpdated(col("tags")).as("phone_updated"),
      StreetNameFix.nameUpdated(col("tags")).as("name_updated")))
  }

  /** node tags after phone fix (with tag_pos + phone_changed). */
  def nodeTagsFixed: DataFrame =
    OsmIngest.explodeTags(nodesFixedM(), col("tags"))

  /** way tags after phone fix THEN street-name fix (with tag_pos +
    * name_changed + phone_changed). */
  def wayTagsFixed: DataFrame =
    OsmIngest.explodeTags(waysFixedM(), col("tags"))

  /** Output projections (drop the internal tag_pos / flag columns). */
  def nodeTags: DataFrame =
    nodeTagsFixed.select(col("id"), col("key"), col("value"), col("type"))
  def wayTags: DataFrame =
    wayTagsFixed.select(col("id"), col("key"), col("value"), col("type"))

  /** update_history(id, element_type, field_updated) — K2
    * (parse_clean_and_csv.py:263-290): a narrow union of the per-element
    * flags. Phone flags replicate the reference's last-writer-wins quirk
    * exactly (see PhoneFix). */
  private val updateHistoryM = memo("updateHistory") {
    def flagged(elements: DataFrame, flag: String, kind: String,
        field: String): DataFrame =
      elements.filter(col(flag)).select(col("id"),
        lit(kind).as("element_type"), lit(field).as("field_updated"))
    // referenced twice (way + node branches) by the contributions query
    graft.ops.Stage.barrier(fitted(
      flagged(nodesFixedM(), "phone_updated", "node", "phone")
        .unionByName(flagged(waysFixedM(), "phone_updated", "way", "phone"))
        .unionByName(flagged(waysFixedM(), "name_updated", "way", "name"))))
  }
  def updateHistory: DataFrame = updateHistoryM()

  /** X6 — the phone audit over the uncleaned tags, shared (cached) by the
    * three audit outputs: full table, key histogram, char census. Staged
    * in ORDERED form (document-order metadata) so the census can replay
    * the reference's first-seen character order; [[phoneAuditRows]] is the
    * public reference row shape. */
  private val phoneAuditM = memo("phoneAudit")(graft.ops.Stage.barrier(
    fitted(Audits.phoneNumbersOrdered(rawNodeTags, rawWayTags))))
  def phoneAudit: DataFrame = phoneAuditM()

  def phoneAuditRows: DataFrame =
    phoneAudit.select(col("id"), col("key"), col("value"), col("type"))

  /** X5 — the bilingual street-name audit (uncorrected official list). */
  def streetAudit: DataFrame =
    Audits.bilingualStreetNames(rawWays,
      OfficialList.lookup(officialUncorrected))

  /** Register the reference's five SQL tables + update_history as temp
    * views with typed id columns for exploration (SURVEY.md §3.4). */
  def registerViews(): Unit = {
    nodes.createOrReplaceTempView("nodes")
    ways.createOrReplaceTempView("ways")
    nodeTags.createOrReplaceTempView("nodes_tags")
    wayTags.createOrReplaceTempView("ways_tags")
    wayNodes.createOrReplaceTempView("ways_nodes")
    updateHistory.createOrReplaceTempView("update_history")
  }

  /** K1 — write the six relations as headered UTF-8 CSVs under outDir
    * (UnicodeDictWriter equivalent; parse_clean_and_csv.py:189-246).
    *
    * One `Stage.overlap` over the six writes plus the staging of
    * [[officialUncorrected]]: the official list parses alongside the two
    * single-task XML scans instead of behind the way scan, and the fixes
    * and writes back-fill the cores as their inputs land. It is safe
    * because every relation is a per-key memo whose compute is serialised:
    * the first thread to touch a relation stages it, every other consumer
    * blocks on its holder, and the memo graph (raw scans → shaped and
    * fixed relations → update_history) has no cycle. A failed write is
    * rethrown after the other writes have finished. */
  def writeCsvs(outDir: String): Unit = {
    def w(df: => DataFrame, name: String): () => Unit = () =>
      df.write.mode("overwrite").option("header", "true")
        .csv(s"$outDir/$name")
    graft.ops.Stage.overlap(Seq(() => { officialUncorrected; () },
      w(nodes, "nodes"), w(nodeTags, "nodes_tags"), w(ways, "ways"),
      w(wayNodes, "ways_nodes"), w(wayTags, "ways_tags"),
      w(updateHistory, "update_history")))
  }
}

object OsmPipeline {

  /** Raw XML per staged partition (32 MiB). Below it an extract stages as
    * one partition; the calibration behind the value is in BENCH_NOTES
    * (2026-10-20). */
  val BytesPerPartition: Long = 32L << 20

  /** The width of every staged OSM relation for an extract of
    * `inputBytes`: ceil(inputBytes / [[BytesPerPartition]]), clamped to
    * [1, cores]. */
  def width(inputBytes: Long, cores: Int): Int = {
    val byBytes = (inputBytes + BytesPerPartition - 1) / BytesPerPartition
    math.max(1L, math.min(cores.toLong, byBytes)).toInt
  }
}

/** CLI entry point:
  * ProcessMap <osm.xml> <official.xml> <outDir> [quarantineDir]. */
object ProcessMap {
  def main(args: Array[String]): Unit = {
    val (osm, officialPath, out, quarantine) = args match {
      case Array(a, b, c) => (a, b, c, None)
      case Array(a, b, c, q) => (a, b, c, Some(q))
      case _ =>
        System.err.println("usage: ProcessMap <osm.xml> <official.xml> " +
          "<outDir> [quarantineDir]")
        sys.exit(2)
    }
    val spark = graft.Tables.session("graft-process-map")
    OsmPipeline(spark, osm, officialPath, quarantine).writeCsvs(out)
    spark.stop()
  }
}
