package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tables.configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter: SPARK_GRAFT_ONLY=q_a,q_b runs a subset.
    // The driver never sets it, so the gate always sees every query.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // An export runs only when a selected query's oracle SQL reads it
    // (every full run); a skipped export counts as not exported, so the
    // entries that reference it are dropped below.
    val oracleSql = SparkEntry.oracleSql
    def wanted(placeholder: String): Boolean = selected.keys.exists(
      oracleSql.get(_).exists(_.contains(placeholder)))
    // OSM oracle support: dump the shaped relations so the driver's DuckDB
    // can re-run the relational half of the OSM surface (OsmOracleExport).
    // On export failure the OSM entries are DROPPED from oracle_sql.json
    // (falling back to the rows-only check) rather than shipping SQL that
    // is guaranteed to error against a missing path.
    val osmDir = queries.OsmOracleExport.dirFor(outDir)
    val osmExported = wanted(queries.OsmOracleExport.Placeholder) &&
      (try { queries.OsmOracleExport.export(spark, osmDir); true }
      catch { case e: Throwable =>
        System.err.println(s"[verify] osm oracle export failed: ${e.getMessage}")
        false
      })
    // Independent-parser oracle for the raw XML ingest (OsmShred): a
    // python3/ElementTree subprocess, so its failure likewise degrades the
    // six ingest rows to rows-only instead of shipping broken SQL.
    val shredDir = queries.OsmShred.dirFor(outDir)
    val shredded = wanted(queries.OsmShred.Placeholder) &&
      (try { queries.OsmShred.run(shredDir); true }
      catch { case e: Throwable =>
        System.err.println(s"[verify] osm shred failed: ${e.getMessage}")
        false
      })
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Each placeholder rewrites to its export dir when that export
    // succeeded; an entry referencing a failed or skipped export is
    // dropped (driver falls back to the rows-only check for that query).
    val rewrites = Seq(
      (queries.OsmOracleExport.Placeholder, osmDir, osmExported),
      (queries.OsmShred.Placeholder, shredDir, shredded))
    val json = oracleSql
      .flatMap { case (k, v) =>
        val bad = rewrites.exists { case (ph, _, ok) =>
          v.contains(ph) && !ok }
        if (bad) None
        else Some(k -> rewrites.foldLeft(v) { case (s, (ph, dir, _)) =>
          s.replace(ph, dir) })
      }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
