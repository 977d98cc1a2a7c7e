package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

class StageSpec extends SparkSpec {

  test("barrier materializes + tracks; release unpersists + untracks") {
    val before = Stage.stagedCount(spark)
    val src = spark.range(100).toDF("n")
    val c = Stage.barrier(src)
    // r20: barrier returns a PLAN-TRUNCATED leaf over the materialized
    // cache entry (its own plan matches no CacheManager entry, so its
    // storageLevel reads NONE); the ORIGINAL plan is the cached one
    assert(org.apache.spark.sql.graftbridge.Bridge.isCachedLeaf(c))
    assert(src.storageLevel != StorageLevel.NONE)
    assert(Stage.stagedCount(spark) == before + 1)
    Stage.release(c) // release accepts the leaf and unpersists through it
    assert(src.storageLevel == StorageLevel.NONE)
    assert(Stage.stagedCount(spark) == before)
  }

  test("SessionScoped computes once per key and evicts per session") {
    val scoped = new SessionScoped[java.lang.Integer]
    var calls = 0
    def v = scoped.getOrCompute(spark, "k") { calls += 1; calls }
    assert(v == 1 && v == 1 && calls == 1)
    assert(scoped.getOrCompute(spark, "k2") { calls += 1; calls } == 2)
    assert(scoped.allValues.toSet == Set(1, 2))
    Stage.releaseAll(spark) // evicts every release-scoped entry of spark
    assert(scoped.size == 0)
    assert(v == 3) // recomputed after eviction
  }

  test("releaseAll unpersists everything and memoized holders " +
      "rebuild-on-touch") {
    // a SessionScoped memo over a staged frame — the pattern OsmQueries
    // and the ANN centroid cache use
    val scoped = new SessionScoped[org.apache.spark.sql.DataFrame]
    var computes = 0
    def staged = scoped.getOrCompute(spark, "frame") {
      computes += 1
      Stage.barrier(spark.range(50).toDF("n"))
    }
    val first = staged
    assert(computes == 1 && Stage.stagedCount(spark) >= 1)
    // r20 leaf contract: the staged frame is a cache-leaf over the
    // pinned entry (the count below reads it without recompute)
    assert(org.apache.spark.sql.graftbridge.Bridge.isCachedLeaf(first))

    Stage.releaseAll(spark)
    assert(Stage.stagedCount(spark) == 0) // between-queries invariant
    // the memo was evicted with the cache: next touch re-computes AND
    // re-stages, rather than handing back the unpersisted frame
    val second = staged
    assert(computes == 2)
    assert(org.apache.spark.sql.graftbridge.Bridge.isCachedLeaf(second))
    assert(second.count() == 50)
    Stage.releaseAll(spark)
  }

  test("scoped drops the leaf bookkeeping of the frames it releases") {
    val leavesBefore = Stage.leafEntries(spark)
    val stagedBefore = Stage.stagedCount(spark)
    Stage.scoped(spark) {
      val leaf = Stage.barrier(
        spark.range(25).toDF("n").withColumn("k", col("n") % 3))
      assert(org.apache.spark.sql.graftbridge.Bridge.isCachedLeaf(leaf))
      assert(Stage.leafEntries(spark) > leavesBefore)
    }
    assert(Stage.leafEntries(spark) == leavesBefore)
    assert(Stage.stagedCount(spark) == stagedBefore)
  }

  test("a barrier whose materializing count throws rethrows, tracks " +
      "nothing and leaves no cache entry") {
    import org.apache.spark.sql.functions.{lit, raise_error, when}
    val stagedBefore = Stage.stagedCount(spark)
    val failing = spark.range(20).toDF("n").withColumn("m",
      when(col("n") === 13, raise_error(lit("injected barrier failure")))
        .otherwise(col("n")))
    val e = intercept[Exception](Stage.barrier(failing))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage)
        .contains("injected barrier failure")))
    assert(Stage.stagedCount(spark) == stagedBefore)
    assert(org.apache.spark.sql.graftbridge.Bridge.cachedEntry(failing)
      .isEmpty)
  }

  test("a fresh session that stages, resolves a table and fills two " +
      "memos adds no listener beyond the registry's one per context") {
    val sc = spark.sparkContext
    val path = java.nio.file.Files.createTempDirectory("graft-listeners")
      .resolve("t").toString
    spark.range(3).write.parquet(path)
    val fresh = spark.newSession()
    val before = org.apache.spark.ListenerBusListeners(sc).size
    assert(Stage.barrier(fresh.range(5).toDF("n")).count() == 5)
    assert(graft.Tables.resolved(fresh, path).count() == 3)
    val a = new SessionScoped[java.lang.Integer]
    val b = new SessionScoped[java.lang.Integer]
    assert(a.getOrCompute(fresh, "k")(1) == 1)
    assert(b.getOrCompute(fresh, "k")(2) == 2)
    val after = org.apache.spark.ListenerBusListeners(sc)
    assert(after.size <= before + 1, s"${after.size - before} listeners added")
    assert(after.count(_.getClass.getName ==
      "graft.ops.SessionScoped$ContextEnd") == 1)
    Stage.releaseAll(fresh)
  }

  test("SessionScoped serializes racing computes: one winner, no discard") {
    import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
    val scoped = new SessionScoped[java.lang.Integer]
    val calls = new java.util.concurrent.atomic.AtomicInteger
    val start = new CyclicBarrier(8)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map(_ => pool.submit(new Callable[Integer] {
        override def call(): Integer = {
          start.await(5, TimeUnit.SECONDS) // all 8 enter simultaneously
          scoped.getOrCompute(spark, "race") {
            Thread.sleep(100) // widen the window a lost race would need
            Integer.valueOf(calls.incrementAndGet())
          }
        }
      }))
      // the per-key holder runs compute exactly once; before this fix,
      // racers double-staged and the loser's discard could unpersist the
      // winner's shared cache entry
      assert(futures.map(_.get(30, TimeUnit.SECONDS)).toSet == Set(1))
      assert(calls.get() == 1)
    } finally pool.shutdown()
  }

  test("a leaf retained across releaseAll re-reads correctly and leaves " +
      "the storage registry clean (VERDICT r20 #1)") {
    // the LIFECYCLE caveat, pinned: a caller that holds a barrier leaf
    // past releaseAll gets a frame whose cache entry is gone. The
    // contract asserted here: (a) the re-read still returns the right
    // rows (the leaf's RDD recomputes from the entry's child plan like
    // any cache miss), (b) the recompute does NOT silently re-pin
    // storage — unpersist dropped the cached RDD's storage level, so no
    // untracked persistent blocks accumulate across release cycles.
    val leaf = Stage.barrier(
      spark.range(40).toDF("n").withColumn("m", col("n") * 2))
    assert(leaf.count() == 40)
    Stage.releaseAll(spark)
    assert(Stage.stagedCount(spark) == 0)
    val persisted = spark.sparkContext.getPersistentRDDs.size
    // re-read AFTER release: correct rows, no new pinned RDDs
    assert(leaf.count() == 40)
    assert(leaf.agg(org.apache.spark.sql.functions.sum("m")).head.getLong(0)
      == (0L until 40L).map(_ * 2).sum)
    assert(spark.sparkContext.getPersistentRDDs.size == persisted,
      "retained-leaf re-read must not re-pin storage untracked")
  }

  test("defer + seal: one materializing action covers the chain; sealed " +
      "leaf reads the cache (r21 fused barriers)") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler
          .SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val base = Stage.defer(spark.range(30).toDF("n")
        .withColumn("h", col("n") % 7))
      assert(Stage.stagedCount(spark) >= 1) // tracked without an action
      // the downstream barrier's count is the ONE materializing action
      val (agg, nAgg) = Stage.barrierCounted(
        base.groupBy(col("h")).agg(org.apache.spark.sql.functions
          .count(org.apache.spark.sql.functions.lit(1)).as("c")))
      assert(nAgg == 7)
      Thread.sleep(300) // listener bus is async
      val afterChain = jobs.get()
      // sealing after materialization runs NO job and hands out the
      // size-gated leaf; reading it hits the materialized cache
      val leafed = Stage.seal(base)
      Thread.sleep(300) // listener bus is async
      assert(jobs.get() == afterChain, "seal must not run a job")
      assert(org.apache.spark.sql.graftbridge.Bridge.isCachedLeaf(leafed))
      assert(leafed.count() == 30)
      assert(agg.count() == 7)
      Stage.releaseAll(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("overlap runs each thunk under the caller's job group and active " +
      "session and returns the results in thunk order") {
    val sc = spark.sparkContext
    val fresh = spark.newSession()
    val prevActive = SparkSession.getActiveSession
    sc.setJobGroup("stage-spec-overlap", "overlap spec")
    SparkSession.setActiveSession(fresh)
    try {
      val out = Stage.overlap((0 until 4).map { i => () =>
        Thread.sleep(60L * (3 - i)) // later thunks finish first
        (i, sc.getLocalProperty("spark.jobGroup.id"),
          SparkSession.active eq fresh, fresh.range(10 + i).count(),
          Thread.currentThread().getName)
      })
      assert(out.map(_._1) == (0 until 4))
      assert(out.forall(_._2 == "stage-spec-overlap"))
      assert(out.forall(_._3), "a thunk lost the caller's active session")
      assert(out.map(_._4) == (10L to 13L))
      assert(out.map(_._5).distinct.size == 4) // one thread per thunk
      assert(!out.map(_._5).contains(Thread.currentThread().getName))
    } finally {
      sc.clearJobGroup()
      prevActive match {
        case Some(s) => SparkSession.setActiveSession(s)
        case None => SparkSession.clearActiveSession()
      }
    }
    assert(!overlapThreadsAlive)
  }

  test("overlap rethrows the first failure only after every thunk has " +
      "finished, the others suppressed, and leaves no thread behind") {
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException](Stage.overlap(Seq(
      () => throw new IllegalStateException("first"),
      () => { Thread.sleep(500); slowDone.set(true); 1 },
      () => throw new IllegalArgumentException("second"))))
    assert(slowDone.get, "rethrown before the slow sibling finished")
    assert(e.getMessage == "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
    assert(!overlapThreadsAlive)
  }
}
