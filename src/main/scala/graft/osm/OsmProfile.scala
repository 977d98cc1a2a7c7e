package graft.osm

/** Diagnostic: time each OSM pipeline stage in dependency order, so bench
  * attribution (whichever query first touches a shared barrier pays for
  * everything beneath it) can be decomposed into per-stage costs. Run:
  * `sbt "runMain graft.osm.OsmProfile"`. */
object OsmProfile {
  def main(args: Array[String]): Unit = {
    val spark = graft.Tables.session("graft-osm-profile")
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
