package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Staging barrier for self-joined intermediates.
  *
  * A lazily-cached DataFrame referenced from BOTH sides of a self-join is
  * computed concurrently by every branch of the first job that touches it
  * (blocks dedupe only on write — the "Block rdd_N already exists" race),
  * so the whole upstream pipeline runs once per branch. Materializing the
  * cache with a cheap action first makes the upstream run exactly once;
  * the self-join then reads memory. This is the staged-pipeline pattern
  * (persist + count) used by iterative ML workloads, and it matters at any
  * scale — on a 1000-executor cluster a duplicated upstream is a duplicated
  * shuffle.
  *
  * LIFECYCLE — read before calling from a long-lived session:
  *  - `barrier` is EAGER: it runs one Spark job (the materializing count)
  *    inside what would otherwise be pure plan construction. Library ops
  *    that stage therefore trigger work at call time, not first action —
  *    the authoritative list of such ops is `grep -rl Stage.barrier
  *    src/main/scala` (it has grown every round; a prose list here kept
  *    drifting stale).
  *  - the cached blocks stay pinned until released. Every staged frame is
  *    a RELEASE-SCOPED entry of the session registry ([[SessionScoped]]'s
  *    companion, which writes the contract down): call [[releaseAll]] when
  *    a batch of staged queries is done, [[release]] for one frame, or wrap
  *    a loop iteration in [[scoped]]. All three go through one per-frame
  *    release (unpersist, untrack, drop the leaves handed out over the
  *    frame). The registry's one per-context listener drops what is left
  *    when the application ends.
  *  - holders that MEMOIZE staged frames do so in the same registry
  *    (OsmPipeline's relation memos and every [[SessionScoped]] memo are
  *    release-scoped entries), so [[releaseAll]] drops the memo with the
  *    cache — otherwise the memo would keep handing out an unpersisted
  *    frame that silently recomputes from source on every action instead
  *    of re-staging. Rebuild-on-touch is the contract: the first access
  *    after a release re-runs the barrier.
  *
  * CONCURRENCY: [[overlap]] is the engine's one way to run eager work side
  * by side (tools/tripwire.sh fails on another thread or a global
  * execution context under src/main/scala).
  */
object Stage {
  // release-scoped registry keys (disjoint from every other owner's):
  // a tracked staged frame; a handed-out leaf → (original cached frame,
  // cache-entry key), since release(leaf) must unpersist through the
  // ORIGINAL (the leaf's own plan matches no CacheManager entry); a cache
  // entry (InMemoryRelation) → its ONE opaque base leaf, since repeated
  // barriers over plan-equal inputs must return PLAN-EQUAL frames (same
  // LogicalRDD), or every downstream re-barrier would be a cache miss on
  // the second rep
  private final case class Tracked(cached: DataFrame)
  private final case class Leaf(leaf: DataFrame)
  private final case class EntryLeaf(entry: AnyRef)

  private def registry(s: SparkSession) = SessionScoped.releaseScoped(s)

  def barrier(df: DataFrame): DataFrame = barrierCounted(df)._1

  /** [[barrier]] plus the materializing count's VALUE — for callers that
    * need the staged frame's row count anyway (components' rail sizing):
    * the barrier already ran the count job, so a separate `.count()`
    * action over the fresh cache is a pure job-round-trip duplicate
    * (measured ~30–50 ms per action at bench scale, r21). */
  def barrierCounted(df: DataFrame): (DataFrame, Long) = {
    val cached = df.cache()
    // unpersist on a FAILED materialization: cache() registers the plan
    // in the CacheManager immediately, so a count() that throws
    // (executor loss, ANSI overflow inside the staged plan) would
    // otherwise leave a registered-but-untracked entry — plus any
    // partially materialized blocks — that releaseAll (which only walks
    // the tracked set) could never release
    val n = try cached.count()
    catch {
      case t: Throwable =>
        try cached.unpersist(blocking = false) catch { case _: Throwable => }
        throw t
    }
    track(cached)
    // PLAN-SIZE TRUNCATION (r20): hand consumers an OPAQUE leaf over the
    // materialized cache entry instead of the original plan. cache()
    // alone truncates nothing — composed staged pipelines multiply
    // upstream trees into every downstream plan (the curation chain's
    // description reached ~200k lines) and AQE re-renders that
    // description per stage (~70% of the chain's driver wall measured in
    // generateTreeString). The leaf is one LogicalRDD line carrying the
    // entry's actual size stats + partitioning (Bridge.opaqueLeafOver);
    // it is memoized PER ENTRY so rep-over-rep barriers stay plan-equal,
    // with the caller's column names restored per call (cache lookup
    // ignores names). Lifecycle caveat: a caller that retains a leaf
    // across releaseAll and re-reads it will re-materialize the cache
    // untracked — memoized holders are registry entries that releaseAll
    // drops, which is the documented holder contract.
    (leafed(cached), n)
  }

  /** The size-gated opaque-leaf handle over an already-MATERIALIZED
    * cached frame — the shared tail of [[barrier]] and [[seal]]. */
  private def leafed(cached: DataFrame): DataFrame = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    bridge.cachedEntry(cached) match {
      // SIZE GATE: the leaf pays for its plan-size win by consuming the
      // cache through a row-RDD scan, losing InMemoryTableScan's
      // vectorized columnar decode and batch pruning for every
      // downstream read. For the KB–MB staged frames that drive the
      // composition blowup that is noise; for the few-hundred-MB edge/
      // pair caches the simhash family stages at sf ≥ 1 it measured
      // ~+40% on the iterative consumers (each round re-decodes the
      // cache). Entries above the threshold keep classic IMR
      // consumption — their render contribution stays bounded because
      // their own cached plans are built over (small) leaves. The
      // threshold is conf-tunable (`graft.stage.leafMaxBytes`); the
      // default comfortably covers every sf0.1 staged frame and excludes
      // the big sf ≥ 1 caches.
      case Some(entry) if bridge.entrySizeBytes(entry) <=
          BigInt(cached.sparkSession.conf
            .get("graft.stage.leafMaxBytes", (64L << 20).toString).toLong) =>
        val m = registry(cached.sparkSession)
        val base = m.computeIfAbsent(EntryLeaf(entry),
          _ => bridge.opaqueLeafOver(entry, cached.sparkSession))
          .asInstanceOf[DataFrame]
        val named =
          base.toDF(cached.queryExecution.analyzed.output.map(_.name): _*)
        m.put(Leaf(named), (cached, entry))
        named
      case _ => cached
    }
  }

  /** Cache + track `df` WITHOUT materializing it — the fused-chain form
    * of [[barrier]] (guide §1.2: fewer actions): when a staged frame's
    * FIRST consumer is a later barrier in the same composition, that
    * barrier's own materializing count computes this entry as a side
    * effect (its plan reads through the registered cache), so an eager
    * count here would be a duplicate action round-trip. Returns the
    * CACHED frame (classic IMR consumption — downstream chain plans are
    * built over it); call [[seal]] AFTER the materializing barrier to
    * get the size-gated opaque leaf for the fan-out consumers.
    *
    * SAFETY CONTRACT (the reason [[barrier]] stays the default): the
    * materializing downstream plan must reference this frame exactly
    * ONCE. A plan referencing an UNMATERIALIZED cache entry from two
    * branches lets AQE submit both branches' leaf stages concurrently,
    * and each computes the entry's partitions (blocks dedupe only on
    * write) — the duplicated upstream run the barrier exists to
    * prevent. Single-reference chains have no concurrent reader, so the
    * entry materializes exactly once, inside the downstream action. */
  def defer(df: DataFrame): DataFrame = {
    val cached = df.cache()
    track(cached)
    cached
  }

  /** The opaque-leaf handle for a [[defer]]red frame, AFTER a downstream
    * barrier/action materialized it. Same size gate and release
    * bookkeeping as [[barrier]]'s returned frame. Calling it on an
    * entry that was never materialized is safe but mis-sizes the gate
    * (the entry's stats are still the optimizer estimate) — the defer/
    * seal pair is an intra-op pattern, not a public lifecycle. */
  def seal(cached: DataFrame): DataFrame = leafed(cached)

  private def track(df: DataFrame): Unit =
    registry(df.sparkSession).put(Tracked(df), df)

  private def tracked(s: SparkSession): Seq[DataFrame] =
    registry(s).keySet().asScala.toSeq.collect { case Tracked(df) => df }

  /** The one per-frame release behind [[release]], [[scoped]] and
    * [[releaseAll]]: unpersist a tracked (or any cached) frame and drop its
    * registry entries — the frame itself, every leaf handed out over it
    * and their cache entry's base leaf. */
  private def unstage(cached: DataFrame): Unit = {
    val m = registry(cached.sparkSession)
    m.remove(Tracked(cached))
    m.entrySet().removeIf { e =>
      (e.getKey, e.getValue) match {
        case (Leaf(_), (orig: AnyRef, entry: AnyRef)) if orig eq cached =>
          m.remove(EntryLeaf(entry))
          true
        case _ => false
      }
    }
    cached.unpersist(blocking = false)
  }

  /** Unpersist one staged frame and stop tracking it. Consumers that read
    * it afterwards recompute from source — release only after the staged
    * results are no longer needed. */
  def release(df: DataFrame): Unit =
    // a barrier-returned LEAF unpersists through its original frame (the
    // leaf's plan matches no CacheManager entry); anything else as is
    registry(df.sparkSession).get(Leaf(df)) match {
      case (orig, _) => unstage(orig.asInstanceOf[DataFrame])
      case _ => unstage(df)
    }

  /** Unpersist every frame staged in `s` and drop every release-scoped
    * registry entry of `s`, memos included, so holders re-stage on next
    * touch rather than silently recomputing from source. */
  def releaseAll(s: SparkSession): Unit = {
    tracked(s).foreach(unstage)
    SessionScoped.dropReleaseScoped(s)
  }

  /** Currently-tracked barrier count for `s` (diagnostics / specs). */
  def stagedCount(s: SparkSession): Int = tracked(s).size

  /** Leaf bookkeeping entries `s` holds (handed-out leaves and base
    * leaves) — specs check that a release drops them. */
  private[ops] def leafEntries(s: SparkSession): Int =
    registry(s).keySet().asScala.count {
      case Leaf(_) | EntryLeaf(_) => true
      case _ => false
    }

  /** Run `body`, then release every barrier it staged — the bounded
    * per-iteration lifecycle a LONG-RUNNING loop needs (a foreachBatch
    * trigger, a maintenance sweep): each iteration's staged frames are
    * consumed inside `body`, and without a scope nothing could release
    * them (the frames are internal to the callee), so a stream pinning
    * 3 caches per trigger would fill executor storage and churn
    * eviction forever. Barriers staged BEFORE the scope are untouched.
    * Concurrency caveat: a barrier staged by ANOTHER thread during the
    * scope is released with it — harmless for correctness
    * (rebuild-on-touch) but it forfeits that frame's staging; keep
    * scopes to single-threaded loops. */
  def scoped[A](s: SparkSession)(body: => A): A = {
    val before = tracked(s).toSet
    try body
    finally tracked(s).filterNot(before).foreach { df =>
      try unstage(df)
      catch { case _: Throwable => }
    }
  }

  /** Run independent EAGER thunks (barriers, writes) side by side and
    * return their results in thunk order. Each thunk runs on its own
    * thread, created per call by the calling thread, so every thunk
    * inherits the caller's Spark local properties (job group, job
    * description, scheduler pool) and active session: its jobs are the
    * caller's jobs to a listener or a `cancelJobGroup`.
    *
    * Every thunk runs to completion before `overlap` returns or throws.
    * On failure it rethrows the first failed thunk's error (thunk order),
    * with the other thunks' errors attached as suppressed. An interrupt
    * of the caller is passed on to the thunks' threads, still waited for,
    * and rethrown first.
    *
    * Thunks must not depend on each other except through memos that
    * serialise compute per key ([[SessionScoped]]): a thunk that needs a
    * relation another thunk is staging then blocks on its holder, and a
    * dependency graph without cycles cannot deadlock. */
  def overlap[A](thunks: Seq[() => A]): Seq[A] = {
    val results = new Array[Any](thunks.size)
    val failures = new Array[Throwable](thunks.size)
    val threads = thunks.zipWithIndex.map { case (f, i) =>
      val t = new Thread(() =>
        try results(i) = f()
        catch { case e: Throwable => failures(i) = e },
        s"graft-overlap-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    var interrupted: Option[InterruptedException] = None
    threads.foreach { t =>
      while (t.isAlive) try t.join() catch {
        case e: InterruptedException if interrupted.isEmpty =>
          interrupted = Some(e)
          threads.foreach(_.interrupt())
        case _: InterruptedException =>
      }
    }
    interrupted.toSeq ++ failures.filter(_ != null) match {
      case Seq() => results.toSeq.map(_.asInstanceOf[A])
      case first +: rest =>
        rest.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
    }
  }
}
