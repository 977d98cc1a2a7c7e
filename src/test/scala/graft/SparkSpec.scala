package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM; `Test / fork := true`). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Tables.configure(SparkSession.builder())
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf

  /** Shuffle count of a plan: "Exchange hashpartitioning(...)" nodes
    * minus broadcast builds ("BroadcastExchange", not a shuffle).
    * String-matched because TreeNode.collect does not descend into
    * AdaptiveSparkPlanExec — ONE definition for every plan-shape
    * assertion (a Spark rename of the node would otherwise have to be
    * fixed in each spec's private copy). */
  protected def nShuffles(df: org.apache.spark.sql.DataFrame): Int = {
    val p = df.queryExecution.executedPlan.toString
    "Exchange ".r.findAllIn(p).size -
      "BroadcastExchange ".r.findAllIn(p).size
  }

  /** Whether a `Stage.overlap` thread is still running. */
  protected def overlapThreadsAlive: Boolean = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala
      .exists(t => t.getName.startsWith("graft-overlap-") && t.isAlive)
  }
}
