package graft.osm

import org.apache.spark.sql.SparkSession

/** Diagnostic: time each OSM pipeline stage in dependency order, so bench
  * attribution (whichever query first touches a shared barrier pays for
  * everything beneath it) can be decomposed into per-stage costs. Run:
  * `sbt "runMain graft.osm.OsmProfile"`. */
object OsmProfile {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Tables.configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect() // session warmup

    // optional [osm.xml] [official.xml] args (e.g. a scale_osm.py tile)
    val (osm, official) = Cli.pathsOrDefault(args)
    val p = OsmPipeline(spark, osm, official)
    def t(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"""  ${name}%-24s ${(System.nanoTime() - t0) / 1e9}%7.2fs  rows=$n""")
    }
    t("officialUncorrected")(p.officialUncorrected.count())
    t("official")(p.official.count())
    t("rawNodes (via nodes)")(p.nodes.count())
    t("rawWays (via ways)")(p.ways.count())
    t("wayNodes")(p.wayNodes.count())
    t("phoneAudit")(p.phoneAudit.count())
    t("nodeTagsFixed")(p.nodeTags.count())
    t("wayTagsFixed")(p.wayTags.count())
    t("updateHistory")(p.updateHistory.count())
    t("streetAudit")(p.streetAudit.count())
    t("explore.contributions")(
      Explore.df.updatedUsersVsContributions(p).count())
    t("explore.summary")({ p.registerViews(); Explore.summary(spark).count() })
    spark.stop()
  }
}

/** The OSM input paths, the one configuration point every OSM entry point
  * reads (queries.OsmQueries, the Cli mains, OsmProfile):
  * `SPARK_GRAFT_OSM` names the extract and `SPARK_GRAFT_OSM_OFFICIAL` the
  * official street list; unset, each defaults to the reference's bundled
  * input below. */
object OsmInputs {
  val OsmPath = "/root/reference/shatin.osm"
  val PsiPath = "/root/reference/PSI_Street Name_062017.xml"

  def osm: String = sys.env.getOrElse("SPARK_GRAFT_OSM", OsmPath)
  def official: String =
    sys.env.getOrElse("SPARK_GRAFT_OSM_OFFICIAL", PsiPath)
}
