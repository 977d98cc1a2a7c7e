package graft.osm

import graft.SparkSpec

class ValidateSpec extends SparkSpec {

  test("shatin pipeline passes every declared constraint") {
    val pipe = OsmPipeline(spark, OsmInputs.osm, OsmInputs.official)
    val report = Validate.report(spark, pipe).collect()
    assert(report.isEmpty,
      report.map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", "))
  }
}
