package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persisted near-dup screen index (Dedup.buildNearDupIndex /
  * incrementalNearDedupFrom): the corpus's band rows and shingle sets
  * live in bucketed external tables every later increment reads IN
  * PLACE — asserted on the PLAN (one-exchange band probe, bucketed
  * scans, bucket-PRUNED scans for the small-probe screen) and on the
  * ROWS (identical verdicts to the inline recompute screen, across the
  * whole lifecycle: build → append → retried append → compaction). */
class NearDupIndexSpec extends SparkSpec {

  private def verdicts(df: org.apache.spark.sql.DataFrame)
      : Set[(Long, Long, Boolean)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet

  test("band probe reads the index in place; screen equals the recompute") {
    import spark.implicits._
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    spark.conf.set("spark.sql.shuffle.partitions", 32)
    val dir = java.nio.file.Files.createTempDirectory("graft_ndidx")
      .toString
    try {
      val corpus = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), col("text"))
      Dedup.buildNearDupIndex(corpus, "nd_bands_t", s"$dir/bands",
        "nd_shingles_t", s"$dir/shingles")

      // plan shape: a leaf batch-band relation probing the band table —
      // ONE exchange (the batch side onto the fused-bkey layout); the
      // index side scans its buckets in place at any corpus size.
      // bkey is the STRING "band_subsignature" fusion (Dedup.withBkey) —
      // a mistyped leaf would cast the table column and silently
      // disable bucket reuse, which is exactly what this pins against
      val batchBands = Seq((1L, "0_42_7"), (2L, "3_99_1"))
        .toDF("doc_id", "bkey")
      val probe = Dedup.nearDupBandProbe(spark, batchBands, "nd_bands_t")
      assert(nShuffles(probe) == 1,
        probe.queryExecution.executedPlan.toString)
      assert(probe.queryExecution.executedPlan.toString
        .contains("Bucketed: true"), "band index must read its buckets")

      // the verification side too: a candidate join keyed on the
      // shingle table's bucket column scans it in place
      val candLeaf = Seq((1000001L, 1L)).toDF("doc_id", "corpus_id")
      val ver = candLeaf.join(spark.table("nd_shingles_t")
          .select(col("doc_id").as("corpus_id"), col("sh")),
        Seq("corpus_id"))
      assert(nShuffles(ver) == 1,
        ver.queryExecution.executedPlan.toString)
      assert(ver.queryExecution.executedPlan.toString
        .contains("Bucketed: true"), "shingle table must read its buckets")

      // row identity with the inline recompute screen on the suite's
      // SHARED fixture batch (even ids near-dup, odd ids fresh) — the
      // same definition q_incremental_neardup{,_prod} run, so this
      // assertion covers exactly the oracle-shared rows
      val batch = graft.queries.DedupSim.recrawlBatch(corpus)
      val prod = verdicts(Dedup.incrementalNearDedupFrom(spark, batch,
        "nd_bands_t", "nd_shingles_t"))
      val inline = verdicts(Dedup.incrementalNearDedup(batch, corpus))
      assert(prod == inline,
        s"index/recompute diverged: only-prod=${(prod -- inline).take(5)} " +
          s"only-inline=${(inline -- prod).take(5)}")
      assert(prod.exists(_._3) && prod.exists(!_._3),
        "fixture must exercise both verdicts")
      // the full batch (500 docs × 16 bands > 2·maxLits) routes in
      // place by its count: the same rows as the forced in-place route
      assert(verdicts(Dedup.incrementalNearDedupFrom(spark, batch,
        "nd_bands_t", "nd_shingles_t", maxLits = 0)) == prod,
        "count-routed screen diverged from the forced in-place screen")

      // the PRUNED small-probe screen on a TRICKLE slice (its rail
      // caps at ~128 docs × 16 bands; past it the operator falls back
      // to the unpruned in-place scan, which the full fixture batch
      // exercises implicitly): identical verdicts, and — r19 — the
      // index sides are FILE-SUBSET path reads chosen with the write's
      // own driver-side bucket hash (replacing genBucketSet's
      // interpreted per-value planning walk), so the plan shows the
      // broadcast probe and NO table-side exchange; per-trigger I/O is
      // candidate-proportional, not corpus-proportional (VERDICT r17
      // #2 / r18 #5). The hash-vs-file parity itself is pinned in
      // PartitionedStoreSpec.
      val trickle = batch.orderBy(col("doc_id")).limit(60)
      val pruned = Dedup.incrementalNearDedupFrom(spark, trickle,
        "nd_bands_t", "nd_shingles_t")
      assert(verdicts(pruned) ==
        verdicts(Dedup.incrementalNearDedupFrom(spark, trickle,
          "nd_bands_t", "nd_shingles_t", maxLits = 0)),
        "pruned screen diverged from the in-place screen")
      // a 60-doc trickle's 960 band keys touch all 32 buckets, so the
      // band side correctly routes to the catalog in-place plan
      // (probePrunes=false — a collect-probe would buy no pruning); a
      // TINY probe's keys miss buckets, and THERE the index sides must
      // be file-subset path reads (no catalog bucketed scan, no
      // genBucketSet) probed via the broadcast local band relation —
      // the r19 fast path, verdict-identical
      val tiny = batch.orderBy(col("doc_id")).limit(2)
      val tinyPruned = Dedup.incrementalNearDedupFrom(spark, tiny,
        "nd_bands_t", "nd_shingles_t")
      assert(verdicts(tinyPruned) ==
        verdicts(Dedup.incrementalNearDedupFrom(spark, tiny,
          "nd_bands_t", "nd_shingles_t", maxLits = 0)),
        "tiny pruned screen diverged from the in-place screen")
      val tinyPlan = tinyPruned.queryExecution.executedPlan.toString
      assert(!tinyPlan.contains("Bucketed: true"),
        s"tiny probe must path-read pruned file subsets:\n$tinyPlan")
      assert(tinyPlan.contains("BroadcastHashJoin"),
        s"tiny probe must join via broadcast:\n$tinyPlan")
      // and the rail: a probe past maxLits must still be CORRECT
      // (falls back to the unpruned plan, never truncates the key set)
      assert(verdicts(Dedup.incrementalNearDedupFrom(spark, batch,
        "nd_bands_t", "nd_shingles_t", maxLits = 10)) == prod,
        "rail fallback diverged")

      // banding-parameter mismatch fails LOUDLY: a screen probed with
      // different (n, k, bands) than the index was built with would
      // otherwise return an empty candidate set — every batch doc
      // silently "kept" (review r17)
      val e = intercept[IllegalArgumentException] {
        Dedup.incrementalNearDedupFrom(spark, batch,
          "nd_bands_t", "nd_shingles_t", bands = 8)
      }
      assert(e.getMessage.contains("mismatched banding"), e.getMessage)

      // lifecycle: an index BUILT on half the corpus then APPENDED with
      // the other half screens identically to the whole-build index —
      // and the probe still reads the (now multi-file-per-bucket)
      // layout in place
      val dir2 = java.nio.file.Files.createTempDirectory("graft_ndidx2")
        .toString
      Dedup.buildNearDupIndex(corpus.filter(col("doc_id") % 2 === 0),
        "nd_bands_a", s"$dir2/bands", "nd_shingles_a", s"$dir2/shingles")
      Dedup.appendNearDupIndex(corpus.filter(col("doc_id") % 2 === 1),
        "nd_bands_a", "nd_shingles_a")
      assert(Dedup.reconcileNearDupIndex(spark, "nd_bands_a",
        "nd_shingles_a").isEmpty, "clean append must reconcile empty")
      val appended = verdicts(Dedup.incrementalNearDedupFrom(spark, batch,
        "nd_bands_a", "nd_shingles_a"))
      assert(appended == prod, "appended index diverged from whole-build")
      val probe2 = Dedup.nearDupBandProbe(spark, batchBands, "nd_bands_a")
      assert(nShuffles(probe2) == 1 &&
        probe2.queryExecution.executedPlan.toString
          .contains("Bucketed: true"),
        "appended index must still read in place")

      // a blindly RETRIED append (crash-after-commit, redelivered
      // increment) duplicates rows in both tables — and changes NO
      // verdict: the candidate set distincts and n_corpus_dups counts
      // DISTINCT corpus docs (VERDICT r17 #1: retried append leaves
      // n_corpus_dups unchanged)
      Dedup.appendNearDupIndex(corpus.filter(col("doc_id") % 2 === 1),
        "nd_bands_a", "nd_shingles_a")
      assert(verdicts(Dedup.incrementalNearDedupFrom(spark, batch,
        "nd_bands_a", "nd_shingles_a")) == prod,
        "retried append changed verdicts")

      // bucket-preserving COMPACTION of the appended+retried index:
      // dedupRows reclaims the retry's duplicate rows, the parameter
      // stamps survive (catalog entry untouched), the probe still
      // reads a bucketed layout in place, and the screen verdicts are
      // unchanged (VERDICT r17 #1 done-criteria)
      for (t <- Seq("nd_bands_a", "nd_shingles_a"))
        graft.sources.PartitionedStore.compactBucketed(spark, t,
          dedupRows = true)
      val probe3 = Dedup.nearDupBandProbe(spark, batchBands, "nd_bands_a")
      assert(nShuffles(probe3) == 1 &&
        probe3.queryExecution.executedPlan.toString
          .contains("Bucketed: true"),
        "compacted index must still read in place")
      assert(verdicts(Dedup.incrementalNearDedupFrom(spark, batch,
        "nd_bands_a", "nd_shingles_a")) == prod,
        "compacted index diverged")
      // compaction restored the build-state row counts (dup rows gone)
      assert(spark.table("nd_bands_a").count() ==
        spark.table("nd_bands_t").count(), "band dup rows not reclaimed")
      assert(spark.table("nd_shingles_a").count() ==
        spark.table("nd_shingles_t").count(),
        "shingle dup rows not reclaimed")

      // a TORN append (crash between the two table appends) surfaces in
      // the reconcile check as missing_from='band' — the inert,
      // shingles-first crash state (ADVICE r17: previously silent)
      graft.sources.PartitionedStore.appendBucketed(
        Seq((777777L, Array(1L, 2L, 3L))).toDF("doc_id", "sh"),
        "nd_shingles_a")
      val torn = Dedup.reconcileNearDupIndex(spark, "nd_bands_a",
          "nd_shingles_a")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(torn.toSeq == Seq((777777L, "band")), torn.mkString(","))

      // appending with mismatched banding is refused BEFORE any write
      val e2 = intercept[IllegalArgumentException] {
        Dedup.appendNearDupIndex(corpus, "nd_bands_a", "nd_shingles_a",
          k = 32, bands = 8)
      }
      assert(e2.getMessage.contains("mismatched banding"), e2.getMessage)
    } finally {
      spark.sql("DROP TABLE IF EXISTS nd_bands_a")
      spark.sql("DROP TABLE IF EXISTS nd_shingles_a")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      spark.sql("DROP TABLE IF EXISTS nd_bands_t")
      spark.sql("DROP TABLE IF EXISTS nd_shingles_t")
    }
  }

  test("overflow-probe barriers track the probe's session, so a " +
      "trigger scope can release them") {
    // the mid-rail overflow branch (keys <= maxLits but verified
    // candidates > 4*maxLits) keeps its candidate relation lazy and
    // stages nothing: barriers track under their frame's session, and
    // in a foreachBatch trigger that is the stream's cloned session —
    // the one Stage.scoped releases. A barrier rooted at the
    // driver-local probe relation (caller session) would escape every
    // trigger scope and pin one cache per overflow trigger forever
    // (round-close review r19).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ovf")
      .toString
    val (bt, st) = ("ovf_bands_t", "ovf_shingles_t")
    try {
      // 250 distinct ids sharing ONE text: a probe with that text
      // collides with all of them -> 250 candidate pairs from <= 16
      // band keys
      val text = "the quick brown fox jumps over the lazy dog again " +
        "and again and again for this fixture"
      val corpus = (0L until 250L).map(i => (i, text))
        .toDF("doc_id", "text")
      Dedup.buildNearDupIndex(corpus, bt, s"$dir/bands", st,
        s"$dir/shingles")
      val clone = spark.newSession()
      import org.apache.spark.sql.functions.col
      val probe = {
        import clone.implicits._
        Seq((9000L, text)).toDF("doc_id", "text")
      }
      val cloneBefore = Stage.stagedCount(clone)
      val outerBefore = Stage.stagedCount(spark)
      // maxLits = 40: 16 keys pass the key rail, 250 candidates blow
      // past candCap = 160 -> the overflow branch runs
      var n = -1L
      Stage.scoped(clone) {
        n = Dedup.incrementalNearDedupFrom(spark, probe, bt, st,
          maxLits = 40).filter(col("kept") === false).count()
      }
      assert(n == 1L, s"probe must be flagged against all copies: $n")
      assert(Stage.stagedCount(clone) == cloneBefore,
        "overflow barriers escaped the probe-session scope")
      assert(Stage.stagedCount(spark) == outerBefore,
        "overflow barriers leaked onto the caller session")
      // and the overflow route's verdicts are the in-place route's
      def screen(maxLits: Int) = Stage.scoped(clone) {
        verdicts(Dedup.incrementalNearDedupFrom(spark, probe, bt, st,
          maxLits = maxLits))
      }
      assert(screen(40) == screen(0), "overflow route diverged")
    } finally {
      for (t <- Seq(bt, st)) spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }
}
