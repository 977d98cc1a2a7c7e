package graft.osm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The typed DataFrame explore variants must agree with the spark.sql
  * forms run over the same pipeline views. */
class ExploreSpec extends SparkSpec {
  import ExploreSpec._

  lazy val pipe: OsmPipeline = OsmPipeline(spark,
    OsmInputs.osm, OsmInputs.official)

  test("DataFrame explore variants equal the SQL forms") {
    pipe.registerViews()
    def one(df: DataFrame): Long =
      df.head().getLong(0)
    assert(one(waysCount(pipe)) ==
      one(Explore.run(spark, "ways_count")))
    assert(one(nodesCount(pipe)) ==
      one(Explore.run(spark, "nodes_count")))
    assert(one(distinctUsers(pipe)) ==
      one(Explore.run(spark, "distinct_users")))
    assert(one(updateCounts(pipe, "name")) ==
      one(Explore.run(spark, "name_updates")))
    assert(one(updateCounts(pipe, "phone")) ==
      one(Explore.run(spark, "phone_updates")))
    assert(one(namedBuildingsAmenities(pipe)) ==
      one(Explore.run(spark, "named_buildings_amenities")))
    assert(one(unnamedBuildingsAmenities(pipe)) ==
      one(Explore.run(spark, "unnamed_buildings_amenities")))

    val sqlRows = Explore.run(spark, "updated_users_vs_contributions")
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2))).toSet
    val dfRows = Explore.df.updatedUsersVsContributions(pipe)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2))).toSet
    assert(sqlRows == dfRows)
  }
}

/** The reference: the report's seven scalar queries as typed DataFrames
  * composed from the pipeline's relations, independent of the SQL text
  * they are compared with. */
object ExploreSpec {

  def waysCount(p: OsmPipeline): DataFrame =
    p.ways.agg(count(lit(1)).as("cnt"))

  def nodesCount(p: OsmPipeline): DataFrame =
    p.nodes.agg(count(lit(1)).as("cnt"))

  def distinctUsers(p: OsmPipeline): DataFrame =
    p.nodes.select(col("uid"))
      .union(p.ways.select(col("uid")))
      .agg(countDistinct(col("uid")).as("n_users"))

  def updateCounts(p: OsmPipeline, field: String): DataFrame =
    p.updateHistory.filter(col("field_updated") === field)
      .agg(count(lit(1)).as("cnt"))

  def namedBuildingsAmenities(p: OsmPipeline): DataFrame = {
    val wt = p.wayTags
    val named = wt.filter(col("key") === "name").select(col("id")).distinct()
    wt.filter(col("key") === "amenity" || col("key") === "building")
      .join(named, Seq("id"), "left_semi")
      .agg(countDistinct(col("id")).as("cnt"))
  }

  def unnamedBuildingsAmenities(p: OsmPipeline): DataFrame = {
    val wt = p.wayTags
    val named = wt.filter(col("key") === "name").select(col("id")).distinct()
    wt.filter(col("key") === "amenity" || col("key") === "building")
      .join(named, Seq("id"), "left_anti")
      .agg(countDistinct(col("id")).as("cnt"))
  }
}
