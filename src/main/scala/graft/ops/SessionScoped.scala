package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** A per-(SparkSession, key) memo for staged DataFrames and driver-side
  * metadata: a typed view over the session registry (the companion, which
  * holds the lifecycle contract). Its entries are RELEASE-SCOPED:
  * `Stage.releaseAll(session)` drops them, and the next access recomputes
  * — and re-stages — fresh (rebuild-on-touch).
  *
  * Compute is SERIALIZED per key via a lazy holder: `computeIfAbsent` only
  * allocates the (cheap) holder under the map's bin lock; the multi-job
  * `Stage.barrier` materialization runs when the holder is first forced,
  * outside that lock, and a concurrent caller blocks on the holder instead
  * of double-staging (Spark's CacheManager keys entries by analyzed plan,
  * so two racers' barriers would usually land on ONE cache entry, and a
  * loser's discard could unpersist the winner's blocks).
  *
  * An instance is compared by identity, so a memo that is a field of an
  * object (OsmPipeline's relation memos) is keyed by that object's
  * instance.
  */
final class SessionScoped[V] {
  private final class Holder(compute: () => V) { lazy val value: V = compute() }

  def getOrCompute(s: SparkSession, key: String)(compute: => V): V =
    SessionScoped.releaseScoped(s)
      .computeIfAbsent((this, key), _ => new Holder(() => compute))
      .asInstanceOf[Holder].value

  private def isMine(k: AnyRef): Boolean = k match {
    case (owner: AnyRef, _) => owner eq this
    case _ => false
  }

  /** All live values across sessions (e.g. oracle generation, which runs
    * after the queries and has no session handle of its own). */
  def allValues: Seq[V] =
    SessionScoped.releaseScopedValues(isMine).map(_.asInstanceOf[Holder].value)

  def size: Int = SessionScoped.releaseScopedValues(isMine).size
}

/** The session registry: every session-lifetime entry the engine keeps
  * lives here, under ONE written contract.
  *
  *  - Entries are keyed by session, and each has one of two lifetimes:
  *    - RELEASE-SCOPED ([[releaseScoped]]): the frames `Stage` tracks and
  *      the leaves it handed out over them, [[SessionScoped]] memos
  *      (OsmPipeline's relation memos, OsmQueries' shared pipeline, the
  *      query objects' caches). `Stage.releaseAll(session)` unpersists the
  *      tracked frames and drops every release-scoped entry of the
  *      session. A memo that outlived its staged frame's cache would hand
  *      out an unpersisted DataFrame that recomputes from source on every
  *      action; dropping it instead makes the first access after a release
  *      recompute and re-stage (REBUILD-ON-TOUCH). Dropping also frees
  *      whatever the entries held, so a released pipeline can be collected.
  *    - SESSION-SCOPED ([[sessionScoped]]): `Tables`' metadata memo (the
  *      resolved plan of a parquet or JSONL path, re-checked against a
  *      path snapshot on every access). It survives `releaseAll`: it pins
  *      no cache, and the bench harness releases after every query while
  *      re-resolving a table costs 60–110 ms.
  *  - Both lifetimes end with the application: ONE `SparkListener` per
  *    `SparkContext`, registered when the context's first session touches
  *    the registry, drops every entry of that context's sessions at
  *    `onApplicationEnd`. It closes over the context, never a session.
  *    This is the engine's only application-end listener (tools/tripwire.sh
  *    fails on another one under src/main/scala).
  */
object SessionScoped {
  private final class Entries {
    val release = new ConcurrentHashMap[AnyRef, AnyRef]()
    val session = new ConcurrentHashMap[AnyRef, AnyRef]()
  }
  private val sessions = new ConcurrentHashMap[SparkSession, Entries]()
  private val hooked = ConcurrentHashMap.newKeySet[SparkContext]()

  private final class ContextEnd(sc: SparkContext) extends SparkListener {
    override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
      sessions.keySet().removeIf(_.sparkContext eq sc)
      hooked.remove(sc)
    }
  }

  private def entries(s: SparkSession): Entries = {
    val sc = s.sparkContext
    if (hooked.add(sc)) sc.addSparkListener(new ContextEnd(sc))
    sessions.computeIfAbsent(s, _ => new Entries)
  }

  /** `s`'s release-scoped entries. Keys must not collide across owners:
    * key by the owner (an instance or object) plus the owner's own key. */
  private[ops] def releaseScoped(s: SparkSession)
      : ConcurrentHashMap[AnyRef, AnyRef] = entries(s).release

  /** `s`'s session-scoped entries (same keying rule). */
  private[graft] def sessionScoped(s: SparkSession)
      : ConcurrentHashMap[AnyRef, AnyRef] = entries(s).session

  /** Drop every release-scoped entry of `s` (Stage.releaseAll's last step,
    * after it unpersisted the tracked frames). */
  private[ops] def dropReleaseScoped(s: SparkSession): Unit = {
    val e = sessions.get(s)
    if (e != null) e.release.clear()
  }

  /** Release-scoped values, across sessions, whose key passes `p`. */
  private[ops] def releaseScopedValues(p: AnyRef => Boolean): Seq[AnyRef] = {
    val out = Seq.newBuilder[AnyRef]
    sessions.values().forEach(_.release.forEach((k, v) => if (p(k)) out += v))
    out.result()
  }
}
