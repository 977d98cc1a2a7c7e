package graft.osm

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The eight SQL exploration queries from the reference's report
  * (case_study_osm.pdf p.8-12; SURVEY.md §3.4), run verbatim through
  * `spark.sql` over the pipeline's temp views. The PDF's prose describes the
  * query shapes; published result numbers (ways=161,676 … missing-name=
  * 3,224) were computed on the non-bundled 306 MB Hong_Kong.osm.
  *
  * Catalyst handles what SQLite's planner did: IN→left-semi rewrite,
  * NOT IN→null-aware anti join, subquery decorrelation, join reordering.
  */
object Explore {

  val queries: Map[String, String] = Map(
    // p.8 — table counts
    "ways_count" -> "SELECT COUNT(*) AS cnt FROM ways",
    "nodes_count" -> "SELECT COUNT(*) AS cnt FROM nodes",
    // p.8 — distinct contributors over both element kinds
    "distinct_users" ->
      ("SELECT COUNT(DISTINCT uid) AS n_users FROM " +
        "(SELECT uid FROM nodes UNION ALL SELECT uid FROM ways)"),
    // p.8 — cleaning action counts
    "name_updates" ->
      ("SELECT COUNT(*) AS cnt FROM update_history " +
        "WHERE field_updated = 'name'"),
    "phone_updates" ->
      ("SELECT COUNT(*) AS cnt FROM update_history " +
        "WHERE field_updated = 'phone'"),
    // p.10 — users whose entries were updated vs their total contributions:
    // JOIN + UNION ALL + GROUP BY + LEFT JOIN + ORDER BY DESC
    "updated_users_vs_contributions" ->
      ("SELECT b.uid AS uid, b.updates AS updates, " +
        "a.contributions AS contributions FROM " +
        "(SELECT uid, COUNT(*) AS updates FROM (" +
        "SELECT w.uid AS uid FROM update_history uh " +
        "JOIN ways w ON w.id = uh.id WHERE uh.element_type = 'way' " +
        "UNION ALL " +
        "SELECT n.uid AS uid FROM update_history uh " +
        "JOIN nodes n ON n.id = uh.id WHERE uh.element_type = 'node'" +
        ") GROUP BY uid) b LEFT JOIN " +
        "(SELECT uid, COUNT(*) AS contributions FROM (" +
        "SELECT uid FROM nodes UNION ALL SELECT uid FROM ways" +
        ") GROUP BY uid) a ON b.uid = a.uid " +
        "ORDER BY contributions DESC"),
    // p.12 — buildings/amenities that have a name tag (IN-subquery)
    "named_buildings_amenities" ->
      ("SELECT COUNT(DISTINCT id) AS cnt FROM ways_tags " +
        "WHERE (key = 'amenity' OR key = 'building') AND id IN " +
        "(SELECT DISTINCT id FROM ways_tags WHERE key = 'name')"),
    // p.12 — buildings/amenities missing any name tag (NOT IN + the triple
    // self-join finding ids that have all 3 name tags, re-expressed)
    "unnamed_buildings_amenities" ->
      ("SELECT COUNT(DISTINCT id) AS cnt FROM ways_tags " +
        "WHERE (key = 'amenity' OR key = 'building') AND id NOT IN " +
        "(SELECT DISTINCT id FROM ways_tags WHERE key = 'name')"))

  def run(spark: SparkSession, name: String): DataFrame =
    spark.sql(queries(name))

  /** The typed DataFrame form of the report's join query, composed from
    * the pipeline's DataFrames instead of SQL text — identical semantics
    * (ExploreSpec asserts equality, and holds the other seven queries'
    * DataFrame forms as its reference). */
  object df {
    import org.apache.spark.sql.functions._

    def updatedUsersVsContributions(p: OsmPipeline): DataFrame = {
      val uh = p.updateHistory
      val updatedUids = uh.filter(col("element_type") === "way")
        .join(p.ways, Seq("id")).select(col("uid"))
        .union(uh.filter(col("element_type") === "node")
          .join(p.nodes, Seq("id")).select(col("uid")))
      val updates = updatedUids.groupBy(col("uid"))
        .agg(count(lit(1)).as("updates"))
      val contribs = p.nodes.select(col("uid"))
        .union(p.ways.select(col("uid")))
        .groupBy(col("uid")).agg(count(lit(1)).as("contributions"))
      updates.join(contribs, Seq("uid"), "left")
        .orderBy(desc("contributions"))
    }
  }

  /** One-stop: all scalar exploration counts as (metric, value) rows —
    * a single lazy union, one Spark job when consumed (no driver-side
    * per-metric actions). */
  def summary(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    queries.keys.toSeq.sorted
      .filter(_ != "updated_users_vs_contributions")
      .map { name =>
        val df = run(spark, name) // each scalar query has one output column
        df.select(lit(name).as("metric"),
          col(df.columns.head).cast("long").as("value"))
      }.reduce(_ unionByName _)
  }
}
