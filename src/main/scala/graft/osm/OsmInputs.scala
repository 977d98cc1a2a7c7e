package graft.osm

/** The OSM input paths, the one configuration point every OSM entry point
  * reads (queries.OsmQueries, the Cli mains, the shatin specs):
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
