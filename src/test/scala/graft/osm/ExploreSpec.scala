package graft.osm

import graft.SparkSpec

/** The typed DataFrame explore variants must agree with the spark.sql
  * forms run over the same pipeline views. */
class ExploreSpec extends SparkSpec {

  lazy val pipe: OsmPipeline = OsmPipeline(spark,
    OsmInputs.osm, OsmInputs.official)

  test("DataFrame explore variants equal the SQL forms") {
    pipe.registerViews()
    def one(df: org.apache.spark.sql.DataFrame): Long =
      df.head().getLong(0)
    assert(one(Explore.df.waysCount(pipe)) ==
      one(Explore.run(spark, "ways_count")))
    assert(one(Explore.df.nodesCount(pipe)) ==
      one(Explore.run(spark, "nodes_count")))
    assert(one(Explore.df.distinctUsers(pipe)) ==
      one(Explore.run(spark, "distinct_users")))
    assert(one(Explore.df.updateCounts(pipe, "name")) ==
      one(Explore.run(spark, "name_updates")))
    assert(one(Explore.df.updateCounts(pipe, "phone")) ==
      one(Explore.run(spark, "phone_updates")))
    assert(one(Explore.df.namedBuildingsAmenities(pipe)) ==
      one(Explore.run(spark, "named_buildings_amenities")))
    assert(one(Explore.df.unnamedBuildingsAmenities(pipe)) ==
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
