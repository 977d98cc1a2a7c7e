package graft

/** Diagnostic: print formatted physical plans for selected queries.
  * Usage: runMain graft.PlanDump [queryName ...] (default: headline set).
  * Review checklist per the scale design notes: PushedFilters reach the
  * parquet scan, ReadSchema is pruned, small dims broadcast, WholeStage
  * Codegen spans are wide, no unexpected shuffles. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_join_agg", "q_token_stats", "q_semi_join", "q_sessionize",
        "q_minhash_neardup", "q_knn_brute", "q_filter_in")
    val spark = Tables.session("graft-plan-dump")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
