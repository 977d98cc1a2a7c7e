package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The production epoch screen (q_epoch_refresh_prod): the refreshed
  * corpus digest set is a DIGEST-BUCKETED published store and epoch 2's
  * exact screen anti-joins it in place — asserted on the PLAN (one
  * exchange, bucketed corpus scan) and on the ROWS (identical verdict to
  * the recompute path inside q_epoch_refresh). */
class EpochProdSpec extends SparkSpec {

  test("epoch-2 exact screen joins the bucketed digest store in place") {
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    // the store is written with 32 buckets (the production session's
    // shuffle width); the session must agg at the same width or the
    // join legitimately re-exchanges the batch from the agg's width to
    // the bucket count — the spec pins the matched-width deployment
    spark.conf.set("spark.sql.shuffle.partitions", 32)
    try {
      val tbl = DedupSim.epochDigestStore(spark, sf)
      // plan shape over a clean leaf batch (any (doc_id, text) source —
      // the gate upstream is its own staged plan in the prod query):
      // exactly TWO exchanges, BOTH on the batch side and both hashed
      // on the digest — firstPerDigest's keep-set aggregation plus the
      // probe join back over the batch (the shared exact-dedup keep
      // rule, NULL digests kept); the corpus digest side reads its
      // bucket layout with no shuffle at any corpus size
      val batch = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), col("text"))
      val kept = graft.ops.Dedup.incrementalDedupFrom(spark, batch, tbl)
        .select(col("doc_id"))
      assert(nShuffles(kept) == 2,
        kept.queryExecution.executedPlan.toString)
      assert(kept.queryExecution.executedPlan.toString
        .contains("Bucketed: true"), "corpus scan must read its buckets")
      // every base doc's digest is in the refreshed store by
      // construction — the in-place anti join must drop them all
      assert(kept.count() == 0L, "base docs must all be store hits")

      // row identity with the recompute path: q_epoch_refresh's epoch-2
      // verdict (gopher survivors only; kept_exact ⇔ status advanced
      // past dup_exact)
      val prod = DedupSim.epochRefreshProd(spark, sf)
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
      val recompute = DedupSim.epochRefresh(spark, sf)
        .filter(col("epoch") === 2 && col("status") =!= "screened")
        .select(col("doc_id"),
          (col("status") =!= "dup_exact").as("kept_exact"))
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
      assert(prod == recompute,
        s"prod/recompute diverged: only-prod=${(prod -- recompute).take(5)}" +
          s" only-recompute=${(recompute -- prod).take(5)}")
      assert(prod.exists(_._2) && prod.exists(!_._2),
        "fixture must exercise both verdicts")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.conf.set("spark.sql.shuffle.partitions", parts)
    }
  }

  test("epoch chain composed with the near-dup index matches the inline " +
      "chain") {
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    spark.conf.set("spark.sql.shuffle.partitions", 32)
    try {
      // row identity across BOTH epochs: build-on-base → screen →
      // append-publishes → screen must reproduce the inline
      // per-epoch corpus recompute exactly (same statuses, same splits)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getString(2), Option(r.getString(3)))).toSet
      val idx = rows(DedupSim.epochRefreshIdx(spark, sf))
      val inline = rows(DedupSim.epochRefresh(spark, sf))
      assert(idx == inline,
        s"idx/inline diverged: only-idx=${(idx -- inline).take(5)} " +
          s"only-inline=${(inline -- idx).take(5)}")
      // the fixture exercises every status in both epochs' unions
      assert(idx.map(_._3) ==
        Set("screened", "dup_exact", "dup_near", "published"))

      // and the screens really read the index: the appended band table
      // probes in place (batch-side-only exchange, bucketed scan)
      import spark.implicits._
      val (bt, _, _, _) = DedupSim.epochNdArtifacts(spark, sf)
      val batchBands = Seq((1L, "0_42_7")).toDF("doc_id", "bkey")
      val probe = graft.ops.Dedup.nearDupBandProbe(spark, batchBands, bt)
      assert(nShuffles(probe) == 1,
        probe.queryExecution.executedPlan.toString)
      assert(probe.queryExecution.executedPlan.toString
        .contains("Bucketed: true"),
        "epoch index must read its buckets in place")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.conf.set("spark.sql.shuffle.partitions", parts)
    }
  }

  test("the landing pipeline is epoch 1 of the epoch chain") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val landing = rows(DedupSim.landingPipeline(spark, sf))
    val epoch1 = rows(DedupSim.epochRefresh(spark, sf)
      .filter(col("epoch") === 1).select(col("doc_id"), col("status")))
    assert(landing == epoch1,
      s"landing/epoch-1 diverged: only-landing=${(landing -- epoch1)
        .take(5)} only-epoch1=${(epoch1 -- landing).take(5)}")
    assert(landing.map(_._2) ==
      Set("screened", "dup_exact", "dup_near", "published"))
  }
}
