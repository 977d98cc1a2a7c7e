package graft.osm

/** CLI entry points mirroring the reference's three scripts (SURVEY.md §7
  * module 7). `show(5000, truncate = 35)` matches the audit scripts'
  * pandas display options (max_rows 5000, max_colwidth 35 —
  * audit_bilingual_street_names.py:272-277, audit_phone_numbers.py:
  * 177-179): the K3 console-report sink. */
private[osm] object Cli {
  /** `[osm.xml] [official.xml]` arguments, each defaulting to
    * [[OsmInputs]]. */
  def pathsOrDefault(args: Array[String]): (String, String) = (
    args.lift(0).getOrElse(OsmInputs.osm),
    args.lift(1).getOrElse(OsmInputs.official))

  /** Runs a CLI's `main` body with `Console.out`, where `Dataset.show`
    * prints, as a UTF-8 stream: the JVM's stdout encodes with the default
    * charset, which is ASCII when `LANG` is unset, and would print every
    * Chinese street name as `?`. */
  def utf8Out(body: => Unit): Unit = Console.withOut(new java.io.PrintStream(
    System.out, true, java.nio.charset.StandardCharsets.UTF_8))(body)
}

/** `AuditStreets [osm.xml] [official.xml]` — the bilingual street-name
  * audit table (audit_bilingual_street_names.py equivalent). */
object AuditStreets {
  def main(args: Array[String]): Unit = Cli.utf8Out {
    val (osm, official) = Cli.pathsOrDefault(args)
    val spark = graft.Tables.session("graft-audit-streets")
    OsmPipeline(spark, osm, official).streetAudit
      .show(5000, truncate = 35)
    spark.stop()
  }
}

/** `AuditPhones [osm.xml]` — the phone-number audit: full table, key
  * histogram, character census (audit_phone_numbers.py equivalent). */
object AuditPhones {
  def main(args: Array[String]): Unit = Cli.utf8Out {
    val (osm, official) = Cli.pathsOrDefault(args)
    val spark = graft.Tables.session("graft-audit-phones")
    val p = OsmPipeline(spark, osm, official)
    p.phoneAuditRows.show(5000, truncate = 35)
    Audits.phoneKeyCounts(p.phoneAuditRows).show(5000, truncate = 35)
    Audits.phoneCharCensus(p.phoneAudit).show(5000, truncate = 35)
    spark.stop()
  }
}

/** `ExploreCli [osm.xml] [official.xml]` — the report's SQL exploration:
  * every scalar metric plus the users-vs-contributions table
  * (case_study_osm.pdf p.8-12 equivalent). */
object ExploreCli {
  def main(args: Array[String]): Unit = Cli.utf8Out {
    val (osm, official) = Cli.pathsOrDefault(args)
    val spark = graft.Tables.session("graft-explore")
    val p = OsmPipeline(spark, osm, official)
    p.registerViews()
    Explore.summary(spark).show(100, truncate = false)
    Explore.run(spark, "updated_users_vs_contributions")
      .show(5000, truncate = 35)
    spark.stop()
  }
}
