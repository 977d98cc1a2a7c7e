package graft.osm

import java.nio.file.Files

import graft.SparkSpec

/** K1 — the CSV sink round-trips: write the six relations, read them back
  * with headers, and get identical row counts (values stay strings, as in
  * the reference's all-text CSV model). */
class CsvSinkSpec extends SparkSpec {

  test("writeCsvs round-trips all six relations") {
    val pipe = OsmPipeline(spark, OsmInputs.osm, OsmInputs.official)
    val out = Files.createTempDirectory("graft-csv").toString
    pipe.writeCsvs(out)
    def readBack(name: String) =
      spark.read.option("header", "true").csv(s"$out/$name")
    assert(readBack("nodes").count() == 13676)
    assert(readBack("nodes_tags").count() == 1841)
    assert(readBack("ways").count() == 1958)
    assert(readBack("ways_nodes").count() == 16547)
    assert(readBack("ways_tags").count() == 7040)
    assert(readBack("update_history").count() == 8)
    val cols = readBack("nodes").columns.toSeq
    assert(cols == Seq("id", "lat", "lon", "user", "uid", "version",
      "changeset", "timestamp"))

    // content parity, not just counts — the reference IMPORTS these CSVs
    // into SQLite, so values (Chinese names, quotes, the canonicalized
    // phones) must survive quoting/encoding byte-for-byte. Compared as
    // sorted multisets over the all-string rendering both sides share.
    import org.apache.spark.sql.functions.col
    def key(vals: Seq[String]): String = vals.mkString("\u0000")
    val back = readBack("ways_tags").collect()
      .map(r => key((0 to 3).map(i =>
        Option(r.getString(i)).getOrElse("")))).sorted
    val orig = pipe.wayTags
      .select(col("id").cast("string"), col("key"), col("value"),
        col("type"))
      .collect()
      .map(r => key((0 to 3).map(i =>
        Option(r.getString(i)).getOrElse("")))).sorted
    assert(back.length == orig.length)
    assert(back.sameElements(orig),
      back.zip(orig).collectFirst {
        case (b, o) if b != o => s"first diff:\ncsv=$b\norig=$o"
      }.getOrElse(""))
  }
}
