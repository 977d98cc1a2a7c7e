package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr
object Bench {

  /** Previous committed per-query minima plus that run's calibration
    * probe time, read from the artifact this run is about to overwrite.
    * Only trusted when the prior run measured the SAME sf dir — a sf2
    * artifact is no baseline for a sf0.1 run. */
  private def priorState(path: String, sfDir: String)
      : (Map[String, Double], Option[Double]) = {
    try {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(p)) return (Map.empty, None)
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = om.readTree(java.nio.file.Files.readString(p))
      if (root.path("sf").asText("") != sfDir) return (Map.empty, None)
      val qs = root.path("queries")
      val it = qs.fields()
      val b = Map.newBuilder[String, Double]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble() }
      val cal = root.path("calibration_sec")
      (b.result(), if (cal.isNumber && cal.asDouble() > 0)
        Some(cal.asDouble()) else None)
    } catch { case _: Throwable => (Map.empty, None) }
  }

  // A query is "contended" when its min sits 3× above the last committed
  // min AND the absolute excess is >0.5s — the floor keeps 20ms→70ms jitter
  // on trivial queries from triggering re-runs. Both knobs documented in
  // BENCH_NOTES ("bench protocol").
  private def contended(cur: Double, prev: Double): Boolean =
    cur > 3.0 * prev && cur - prev > 0.5

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Tables.session("graft-bench")
    // JMH-style warmup: initialize the session state, codegen framework,
    // and shuffle machinery on data-free plans so the first measured query
    // isn't charged for one-time JVM setup. Touches NO test data.
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(1000).groupBy(expr("id % 7")).count().collect()
    // CPU-bound CALIBRATION PROBE (VERDICT r18 #6): this box runs in
    // multi-hour speed WINDOWS (~25% uniform inflation across unrelated
    // queries — r18 burned two full three-scale takes adjudicating it by
    // hand). A fixed data-free probe — 128M xxhash64 folds across all
    // cores, the same whole-stage-codegen arithmetic real queries spend
    // their time in — measures the window once per artifact, and the
    // contention guard compares CALIBRATION-NORMALIZED minima, so a
    // slow-window run no longer mass-flags healthy queries (or vice
    // versa). Min of 3 after one warm rep; ~1 s in the fast window.
    def calProbe(): Double = {
      val t0 = System.nanoTime()
      // max, not sum: summing 128M arbitrary longs overflows under ANSI
      spark.range(0, 1L << 27, 1, spark.sparkContext.defaultParallelism)
        .selectExpr("xxhash64(id) AS h").agg(expr("max(h)")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    calProbe()
    val calibration = (1 to 3).map(_ => calProbe()).min
    // SPARK_GRAFT_ONLY=q_a,q_b reruns a subset while profiling a hotspot
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // The adjudicated OUTPUT-QUADRATIC family: their deliverable is a
    // pair list over a self-similar corpus, so their cost grows with the
    // square of the near-dup density, not the plan — at sf ≥ 1 they are
    // 80–88% of the suite total and bury the trend of the other ~156
    // queries. SPARK_GRAFT_QUAD_SAMPLE_DIR=<dir> runs JUST these against
    // that fixed-size sample dir in-suite (constant work across scales,
    // so suite totals track the linear families); their full-size
    // numbers belong in a separate SPARK_GRAFT_ONLY artifact. The
    // artifact records the substitution (`quad_sample_dir`/`quad_sampled`)
    // so a sampled total is never mistaken for a full-size one.
    // q_split_leakage aggregates to ONE row but is pair-list-bound (it
    // joins the full verified near-dup pair relation twice) — cost-wise
    // it is q_dedup_eval's class, so it samples with the family.
    val quadFamily = Set("q_dedup_eval", "q_simhash_neardup",
      "q_jaccard_pairs", "q_containment_pairs", "q_split_leakage")
    val quadSampleDir = sys.env.get("SPARK_GRAFT_QUAD_SAMPLE_DIR")
    // each query runs SPARK_GRAFT_REPS times (default 2) and reports the
    // MIN: one contended pass on a noisy box can no longer masquerade as a
    // regression (the r6 record was a 10× box-noise artifact), and the min
    // is the steady-state number — rep 1 absorbs staging + codegen.
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/root/repo/bench_results.json")
    // read the artifact we are about to overwrite BEFORE running: its
    // per-query minima are the contention baseline (VERDICT r9 #5 — the
    // committed 82.1s headline was a contended run 1.7× above same-day
    // steady state; min-of-2 can't recover when BOTH reps are contended).
    val (prior, priorCal) = priorState(outPath, sfDir)
    // normalize the guard by the box-window ratio: a current min is
    // compared against prior × (thisCal / priorCal), clamped to [0.5, 2]
    // so a broken probe can never scale a real regression away by more
    // than the windows themselves move. No prior calibration → ratio 1
    // (the pre-r19 behavior).
    val calRatio = priorCal.map(pc =>
      math.max(0.5, math.min(2.0, calibration / pc))).getOrElse(1.0)
    def contendedNorm(cur: Double, prev: Double): Boolean =
      contended(cur, prev * calRatio)

    // queries with at least one failed rep this run — surfaced in the
    // artifact so a failure can never masquerade as a timing (a thrown
    // rep returns in milliseconds; recording that as a rep time let a
    // failed sf2 run publish a 0.03 s "min" for a 40 s query)
    val failedReps = scala.collection.mutable.Set[String]()
    def timeQuery(name: String,
                  fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                  n: Int, release: Boolean = true): Seq[Double] = {
      val dir = if (quadFamily(name)) quadSampleDir.getOrElse(sfDir)
                else sfDir
      var best = Double.MaxValue
      val times = (1 to n).flatMap { i =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, dir).count(); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name rep $i FAILED after " +
              f"${(System.nanoTime() - t0) / 1e9}%.2fs: $e")
            failedReps += name
            false
        }
        if (ok) {
          val t = (System.nanoTime() - t0) / 1e9
          // spread self-diagnosis (VERDICT r18 #2): when a LATE rep
          // blows past the min (the r18 q_curation_chain 30→164 s rep),
          // snapshot the storage/staging state so the mechanism —
          // eviction churn vs box window — is readable from the bench
          // stderr without a re-run
          if (i > 1 && t > 3.0 * best && t - best > 0.5) {
            val mem = spark.sparkContext.getExecutorMemoryStatus.values
              .map { case (max, free) => s"${(max - free) >> 20}MB used/" +
                s"${max >> 20}MB max" }.mkString(";")
            val rdds = spark.sparkContext.getPersistentRDDs.size
            System.err.println(f"[bench] SPREAD $name rep $i $t%.1fs " +
              f"vs min $best%.1fs — storage[$mem] persistentRdds=$rdds " +
              s"staged=${graft.ops.Stage.stagedCount(spark)}")
          }
          best = math.min(best, t)
          Some(t)
        } else None
      }
      // per Stage's lifecycle: caches pinned by this query's staging
      // must not accumulate across the suite (144 queries' worth of
      // pinned blocks would evict each other unpredictably at larger
      // sf). Memoized holders rebuild-on-touch, so the release is safe.
      // EXCEPT inside the contiguous q_osm_* block (release=false): a
      // release invalidates the shared OsmPipeline memos, so every OSM
      // query's rep 1 would re-pay the whole staging — the attribution
      // defect that produced five rounds of false "regressions". The OSM
      // relations are a few MB, so pinning them across the block is free.
      if (release) graft.ops.Stage.releaseAll(spark)
      times
    }

    def isOsm(name: String): Boolean = name.startsWith("q_osm_")
    // The shared OSM staging, measured ONCE as its own artifact line
    // (never charged to a query). Re-run untimed before any OSM re-run,
    // since intervening releases invalidate the pipeline memos.
    var osmStagingSec = -1.0d
    def preStageOsm(): Unit = {
      val t0 = System.nanoTime()
      graft.queries.OsmQueries.stageAll(spark)
      val dt = (System.nanoTime() - t0) / 1e9
      if (osmStagingSec < 0) osmStagingSec = dt
    }

    // sorted for a stable, comparable per-query breakdown across rounds
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val firstPass = ordered.zipWithIndex.map {
      case ((name, fn), i) =>
        val nextOsm = i + 1 < ordered.size && isOsm(ordered(i + 1)._1)
        if (isOsm(name) && (i == 0 || !isOsm(ordered(i - 1)._1)))
          preStageOsm()
        (name, fn, timeQuery(name, fn, reps,
          release = !(isOsm(name) && nextOsm)))
    }
    // second chance for contended queries: after the whole suite has run
    // (peak memory pressure and first-touch staging are behind us), re-run
    // any query whose min still sits 3× above its committed baseline, and
    // keep the best of all reps. A genuine regression survives the re-run;
    // a contended artifact doesn't get committed as the headline.
    val results0 = firstPass.map { case (name, fn, times) =>
      val rerun =
        if (times.isEmpty ||
            prior.get(name).exists(p => contendedNorm(times.min, p))) {
          System.err.println(if (times.isEmpty)
            s"[bench] $name: every rep failed — re-running"
          else
            s"[bench] $name min ${times.min} vs prior ${prior(name)} — re-running")
          // intervening releases dropped the shared OSM staging — rebuild
          // it OUTSIDE the timer so the re-run measures the query alone
          if (isOsm(name)) preStageOsm()
          timeQuery(name, fn, math.max(reps, 3))
        } else Nil
      (name, times, rerun)
    }
    // a query whose every rep (incl. re-runs) threw has NO timing — it is
    // excluded from queries/total and listed in failed_queries instead of
    // publishing a time-to-exception as a min
    val failedOut = results0.collect {
      case (n, ts, rr) if ts.isEmpty && rr.isEmpty => n }
    val results = results0.collect {
      case (n, ts, rr) if (ts ++ rr).nonEmpty => n -> (ts ++ rr) }
    // steady_state=false marks a headline that STILL exceeds its baseline
    // 3× after re-runs — i.e. either a real regression or a fully-contended
    // box; either way the artifact says "don't trust this as the trend".
    val unsteady = results.collect {
      case (n, ts) if prior.get(n).exists(p => contendedNorm(ts.min, p)) => n
    }
    // rep-spread flag: the min can look healthy while a LATER rep ran 3×
    // slower — the r13 artifact carried a 37.3 s rep 2 inside
    // `steady_state: true`. Rep 1 is exempt: it absorbs staging + codegen
    // BY DESIGN (the documented first-touch pattern — flagging it marked
    // 22 healthy queries in the first r14 run), so only reps after the
    // first trigger. The flag makes a noisy query diagnosable from the
    // artifact alone (the min is still the steady-state number; a flagged
    // query just shouldn't anchor a round-over-round comparison without
    // looking at rep_times). Same 3×-and->0.5s band as `contended`.
    // the rerun segment's OWN rep 1 is exempt for the same reason the
    // suite's rep 1 is: the re-run starts after releaseAll dropped every
    // staged frame, so its first rep re-pays staging BY DESIGN — without
    // the exemption a healthy re-run query is falsely flagged as spread
    val spread = results0.flatMap { case (n, ts, rr) =>
      val late = ts.drop(1) ++ rr.drop(1) // first-touch reps exempt
      val all = ts ++ rr
      if (late.nonEmpty && late.max > 3.0 * all.min &&
        late.max - all.min > 0.5) Some(n) else None
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v.min }
      .mkString("{", ",", "}")
    // per-rep times alongside the min: a fully contended run (both reps
    // slow, as in the r8 record) is diagnosable from the artifact alone —
    // uniform inflation across reps says box noise, one bad rep says warmup
    val repJson = results.map { case (k, v) =>
      s"\"" + k + "\":[" + v.mkString(",") + "]" }.mkString("{", ",", "}")
    val total = results.map(_._2.min).sum
    val unsteadyJson = unsteady.map("\"" + _ + "\"").mkString("[", ",", "]")
    // any failed rep (even when another rep succeeded) is flagged: the
    // surviving min is trustworthy, but the run was not clean
    val failedJson = (failedOut ++ failedReps.toSeq.sorted).distinct
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val quadJson = quadSampleDir.map { d =>
      val sampled = results.map(_._1).filter(quadFamily)
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      s""","quad_sample_dir":"$d","quad_sampled":$sampled"""
    }.getOrElse("")
    val spreadJson = spread.map("\"" + _ + "\"").mkString("[", ",", "]")
    // osm_staging: the shared pipeline materialization, measured once
    // outside every per-query timer (absent when no q_osm_* query ran)
    val osmJson = if (osmStagingSec >= 0) s""","osm_staging":$osmStagingSec"""
                  else ""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"rep_times":$repJson,"sf":"$sfDir","reps":$reps,"calibration_sec":$calibration,"calibration_ratio_vs_prior":$calRatio,"steady_state":${unsteady.isEmpty && failedReps.isEmpty},"unsteady_queries":$unsteadyJson,"spread_queries":$spreadJson,"failed_queries":$failedJson$osmJson$quadJson}"""
    println(line)
    // Self-contained record: the driver captures stdout with a bounded
    // tail, and a 144-query JSON line can exceed it (round 7's BENCH_r07
    // arrived truncated, `parsed: null`, losing ~50 queries' numbers). The
    // file in the repo is the durable copy; stdout stays the contract.
    // Guard: a SPARK_GRAFT_ONLY subset must not clobber the full-suite
    // artifact (which is also the contention baseline) unless the caller
    // explicitly pointed SPARK_GRAFT_BENCH_OUT somewhere.
    val skipWrite = only.isDefined && !sys.env.contains("SPARK_GRAFT_BENCH_OUT")
    if (skipWrite)
      System.err.println("[bench] subset run: not overwriting " + outPath)
    else try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write bench_results.json: $e") }
    spark.stop()
  }
}
