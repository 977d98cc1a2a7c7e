package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: spans of one run share `runId`. */
final case class Span(id: Int, name: String, parent: Int, runId: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans nest by call order; a layer's self time
  * is its duration minus the time its child spans cover. */
final class Tracer(sc: SparkContext, runId: Int) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  /** Time `body` as span `name`; its Spark jobs run under job group
    * `name` so the listener can attribute their tasks. */
  def span[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val outerGroup = sc.getLocalProperty("spark.jobGroup.id")
    stack = id :: stack
    sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, name, parent, runId, t0, System.nanoTime())
      stack = stack.tail
      if (outerGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(outerGroup, outerGroup)
    }
  }

  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  /** Self seconds summed over every span of `name`. */
  def selfSeconds(name: String): Double =
    spans.filter(_.name == name).map(selfSeconds).sum

  def toJsonLines: Seq[String] = spans.toSeq.map(s => Json(Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.runId,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
}

/** Task counters per job group, from Spark's own listener events. */
final class GroupCounters extends SparkListener {
  final class C {
    var jobs = 0L; var tasks = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var spill = 0L
  }
  private val byGroup = mutable.Map.empty[String, C]
  private val stageGroup = mutable.Map.empty[Int, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
    byGroup.getOrElseUpdate(g, new C).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = byGroup.getOrElseUpdate(stageGroup.getOrElse(e.stageId, "none"),
      new C)
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def group(g: String): C = synchronized(byGroup.getOrElse(g, new C))
  def all: Seq[C] = synchronized(byGroup.values.toSeq)
}

/** Sums the rails' observed drop counts (`graft.rail.*` observe metrics)
  * over every query the session completes. */
final class RailDrops extends QueryExecutionListener {
  @volatile var drops = 0L
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    qe.observedMetrics.foreach { case (name, row) =>
      if (name.startsWith("graft.rail.") && !row.isNullAt(0))
        synchronized { drops += row.getLong(0) }
    }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    ()
}

object RailDrops {
  def register(s: SparkSession): RailDrops = {
    val l = new RailDrops
    s.listenerManager.register(l)
    l
  }
}

/** Minimal JSON rendering for the harness's own output. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" +
      apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
