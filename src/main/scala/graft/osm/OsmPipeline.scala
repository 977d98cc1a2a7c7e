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
  */
final case class OsmPipeline(spark: SparkSession, osmPath: String,
    officialPath: String, quarantineDir: Option[String] = None) {

  /** Resettable per-relation memo: like a `lazy val`, but [[release]] (or
    * a session-wide `Stage.releaseAll`) invalidates it so the NEXT access
    * rebuilds — and re-stages — the relation instead of handing out a
    * frame whose cache was unpersisted (which would silently recompute
    * from source on every action). */
  private final class Memo[T](compute: () => T) {
    private var v: Option[T] = None
    def apply(): T = synchronized {
      if (v.isEmpty) v = Some(compute())
      v.get
    }
    def invalidate(): Unit = synchronized { v = None }
  }
  private val memos =
    new java.util.concurrent.CopyOnWriteArrayList[Memo[_]]()
  private def memo[T](f: => T): Memo[T] = {
    val m = new Memo(() => f)
    memos.add(m)
    m
  }
  // a session-wide release must also invalidate this pipeline's memos —
  // see Stage LIFECYCLE
  graft.ops.Stage.onReleaseAll(spark, () => memos.forEach(_.invalidate()))

  /** Drop every relation this session has staged (wired to
    * `Stage.releaseAll`, so it is SESSION-wide: other staged queries in
    * the same session release too — the notebook "free the ~15 pinned
    * relations" hook). The pipeline stays usable: the next relation
    * touched re-stages from the XML (rebuild-on-touch). */
  def release(): Unit = graft.ops.Stage.releaseAll(spark)

  /** The audit scripts probe the UNCORRECTED list (SURVEY.md §3.2).
    * Cached: the corrected list derives from it, so the PSI XML parses
    * once for both pipelines. */
  private val officialUncorrectedM = memo(
    graft.ops.Stage.barrier(OfficialList.cleaned(spark, officialPath)))
  def officialUncorrected: DataFrame = officialUncorrectedM()

  def official: DataFrame = OfficialList.corrected(officialUncorrected)
  def lookup: DataFrame = OfficialList.lookup(official)

  // The raw XML reads are the caches that matter: a single OSM file parses
  // on one task, and every shaped relation (nodes, ways, tags ×2, way
  // nodes) re-parses it otherwise — five single-threaded passes.
  //
  // The XML source never splits one file (OsmIngest scan notes), so an
  // unsharded 306 MB+ extract arrives as ONE partition: repartition before
  // the staging cache so every downstream pass — shaping, regex cleaning,
  // joins — runs on all cores, not one. Partitions are sized by INPUT
  // BYTES (~1 MB of raw XML each), capped at the cluster's parallelism —
  // a 306 MB extract fans out to every core, while a few-MB sample stays
  // at a handful of partitions instead of paying per-task overhead ×32
  // on every one of the pipeline's jobs (measured via OsmProfile). A
  // well-sharded input keeps its layout (no gratuitous shuffle).
  private val SpreadBytesPerPartition = 1L << 20
  private lazy val inputBytes: Long = {
    val hPath = new org.apache.hadoop.fs.Path(osmPath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(hPath)).map(_.map(_.getLen).sum).getOrElse(0L)
  }
  private def spread(df: DataFrame): DataFrame = {
    val byBytes = (inputBytes + SpreadBytesPerPartition - 1) /
      SpreadBytesPerPartition
    val target = math.min(spark.sparkContext.defaultParallelism.toLong,
      math.max(1L, byBytes)).toInt
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Strict scan by default; with [[quarantineDir]] set, a PERMISSIVE scan
    * whose malformed records are written to `<dir>/<kind>` as text while
    * clean rows flow on — the 100 TB posture where one truncated shard
    * must neither kill the job nor silently vanish. The write happens at
    * staging time (the raw read is cached first: Spark disallows querying
    * only the corrupt column off a raw scan). */
  private def stagedRaw(kind: String, strict: => DataFrame,
      permissive: => DataFrame): DataFrame =
    quarantineDir match {
      case None => graft.ops.Stage.barrier(spread(strict))
      case Some(q) =>
        val raw = graft.ops.Stage.barrier(spread(permissive))
        raw.filter(col("_corrupt_record").isNotNull)
          .select(col("_corrupt_record"))
          .write.mode("overwrite").text(s"$q/$kind")
        raw.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
    }

  private val rawNodesM = memo(stagedRaw("nodes",
    OsmIngest.rawNodes(spark, osmPath),
    OsmIngest.rawNodesPermissive(spark, osmPath)))
  private def rawNodes = rawNodesM()
  private val rawWaysM = memo(stagedRaw("ways",
    OsmIngest.rawWays(spark, osmPath),
    OsmIngest.rawWaysPermissive(spark, osmPath)))
  private def rawWays = rawWaysM()

  // nodes/ways appear in several branches of one exploration job
  // (counts + distinct_users + contribution joins) — barrier, not cache
  private val nodesM = memo(graft.ops.Stage.barrier(OsmIngest.nodes(rawNodes)))
  def nodes: DataFrame = nodesM()
  private val waysM = memo(graft.ops.Stage.barrier(OsmIngest.ways(rawWays)))
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
  private val nodesFixedM = memo(graft.ops.Stage.barrier(
    phoneFixed(rawNodes).select(col("id"), col("tags"),
      PhoneFix.phoneUpdated(col("tags")).as("phone_updated"))))

  /** Ways fixed per element, phone fix THEN street-name fix (process_map
    * order, parse_clean_and_csv.py:260,272-273):
    * (id, tags, phone_updated, name_updated). The official lookup is the
    * only relation that moves (grouped by name, broadcast). */
  private val waysFixedM = memo {
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
  private val updateHistoryM = memo {
    def flagged(elements: DataFrame, flag: String, kind: String,
        field: String): DataFrame =
      elements.filter(col(flag)).select(col("id"),
        lit(kind).as("element_type"), lit(field).as("field_updated"))
    // referenced twice (way + node branches) by the contributions query
    graft.ops.Stage.barrier(
      flagged(nodesFixedM(), "phone_updated", "node", "phone")
        .unionByName(flagged(waysFixedM(), "phone_updated", "way", "phone"))
        .unionByName(flagged(waysFixedM(), "name_updated", "way", "name")))
  }
  def updateHistory: DataFrame = updateHistoryM()

  /** X6 — the phone audit over the uncleaned tags, shared (cached) by the
    * three audit outputs: full table, key histogram, char census. Staged
    * in ORDERED form (document-order metadata) so the census can replay
    * the reference's first-seen character order; [[phoneAuditRows]] is the
    * public reference row shape. */
  private val phoneAuditM = memo(graft.ops.Stage.barrier(
    Audits.phoneNumbersOrdered(rawNodeTags, rawWayTags)))
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
    * (UnicodeDictWriter equivalent; parse_clean_and_csv.py:189-246). */
  def writeCsvs(outDir: String): Unit = {
    def w(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").option("header", "true")
        .csv(s"$outDir/$name")
    w(nodes, "nodes")
    w(nodeTags, "nodes_tags")
    w(ways, "ways")
    w(wayNodes, "ways_nodes")
    w(wayTags, "ways_tags")
    w(updateHistory, "update_history")
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
    val spark = graft.Tables.configure(SparkSession.builder())
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-process-map")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    OsmPipeline(spark, osm, officialPath, quarantine).writeCsvs(out)
    spark.stop()
  }
}
