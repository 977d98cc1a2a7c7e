package graft.tools

/** Self-sampling driver profiler (guide §7.3, in-process): runs a query
  * once warm, then during a second rep samples the rep's thread's stack
  * every ~10 ms from a sampler thread and prints the hottest frames.
  * The driver gap JobCountDiag exposes (wall ≫ job-covered wall) is
  * single-threaded planning/analysis on this thread — the aggregate
  * tells which phase.
  *
  * Usage: runMain graft.tools.DriverProfDiag q_name [topN]
  */
object DriverProfDiag {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_curation_chain")
    val topN = args.lift(1).map(_.toInt).getOrElse(40)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Tables.session("graft-driver-prof-diag")
    val fn = graft.SparkEntry.queries(name)
    fn(spark, sfDir).count() // warm: staging + codegen
    graft.ops.Stage.releaseAll(spark)
    fn(spark, sfDir).count() // second warm rep against rebuilt staging
    graft.ops.Stage.releaseAll(spark)

    // the timed rep and the sampler run side by side (Stage.overlap); the
    // sampler waits for the rep's thread to announce itself
    @volatile var target: Thread = null
    val counts = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicInteger]()
    // SPARK_GRAFT_PROF_STACKS=1: aggregate FULL stacks (top 14 frames)
    // instead of single frames — tells WHAT runs under a hot wrapper
    // frame like AQE's withFinalPlanUpdate
    val fullStacks = sys.env.contains("SPARK_GRAFT_PROF_STACKS")
    // SPARK_GRAFT_PROF_ALL=1: sample EVERY RUNNABLE thread (not just the
    // calling one) — attributes work done on AQE/broadcast/task pools
    // while the main thread waits on the stage-events queue
    val allThreads = sys.env.contains("SPARK_GRAFT_PROF_ALL")
    @volatile var run = true
    @volatile var nSamples = 0
    val sampler = () => {
      while (run) {
        if (allThreads) {
          nSamples += 1
          val stacks = Thread.getAllStackTraces
          stacks.forEach { (t, st) =>
            if ((t ne Thread.currentThread()) &&
                t.getState == Thread.State.RUNNABLE && st.nonEmpty) {
              val key = (t.getName.replaceAll("\\d+", "N")) + " @ " +
                st.take(4).map(e => e.getClassName + "." + e.getMethodName)
                  .mkString(" <- ")
              counts.computeIfAbsent(key,
                _ => new java.util.concurrent.atomic.AtomicInteger(0))
                .incrementAndGet()
            }
          }
          Thread.sleep(10)
        } else if (target != null) samplerBody()
        else Thread.sleep(1)
      }
      def samplerBody(): Unit = {
        val st = target.getStackTrace
        nSamples += 1
        if (fullStacks) {
          val key = st.take(18).map(e =>
            e.getClassName + "." + e.getMethodName + ":" + e.getLineNumber)
            .mkString(" <- ")
          counts.computeIfAbsent(key,
            _ => new java.util.concurrent.atomic.AtomicInteger(0))
            .incrementAndGet()
        } else {
          // charge the TOP interesting frame (skip JVM internals)
          val top = st.find { e =>
            val c = e.getClassName
            !c.startsWith("java.") && !c.startsWith("jdk.") &&
              !c.startsWith("scala.collection") && !c.startsWith("sun.")
          }
          top.foreach { e =>
            val key = e.getClassName + "." + e.getMethodName
            counts.computeIfAbsent(key,
              _ => new java.util.concurrent.atomic.AtomicInteger(0))
              .incrementAndGet()
          }
        }
        Thread.sleep(10)
      }
      0.0
    }
    val timed = () => {
      target = Thread.currentThread()
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count()
      finally run = false
      (System.nanoTime() - t0) / 1e9
    }
    val wall = graft.ops.Stage.overlap(Seq(timed, sampler)).head
    import scala.jdk.CollectionConverters._
    println(f"""{"query":"$name","wall_sec":$wall%.2f,"samples":$nSamples}""")
    counts.asScala.toSeq.sortBy(-_._2.get).take(topN).foreach {
      case (k, v) => println(f"  ${v.get}%5d  $k")
    }
    graft.ops.Stage.releaseAll(spark)
    spark.stop()
  }
}
