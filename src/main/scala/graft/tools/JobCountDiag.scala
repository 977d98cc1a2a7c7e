package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Measurement instrument for the FIXED-OVERHEAD regime (guide §1): at the
  * driver's bench scale (sf0.1 = 5,000 docs) the hot queries are bound by
  * Spark job round-trips — scheduler latency, 32-task stages over a few
  * hundred rows, eager staging barriers — not by data. This diag runs each
  * named query twice (rep 1 absorbs staging + codegen), then reports for
  * the WARM rep: wall seconds, job count, stage count, task count, and
  * summed executor task time. A query whose wall time is several times its
  * summed task time is paying round-trip constants, and the fix is fewer
  * jobs/stages (guide §1.2 step 1), not faster per-task code.
  *
  * Usage: runMain graft.tools.JobCountDiag q_name [q_name ...]
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
  */
object JobCountDiag {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Tables.session("graft-job-count-diag")

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskTimeMs = new AtomicLong(0L)
    // per-job attribution (SPARK_GRAFT_DIAG_JOBS=1): job id → (callsite,
    // submit ns, tasks, task ms) printed after each warm rep
    val perJob = new java.util.concurrent.ConcurrentHashMap[
      Int, (String, Long, AtomicInteger, AtomicLong)]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    // job wall spans: (start ns, end ns) — the GAPS between jobs are
    // driver-side think time (planning, analysis, collects)
    val jobSpan = new java.util.concurrent.ConcurrentHashMap[
      Int, (Long, Long)]()
    val detail = sys.env.contains("SPARK_GRAFT_DIAG_JOBS")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        jobSpan.put(j.jobId, (System.nanoTime(), 0L))
        if (detail) {
          val site = Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short")))
            .getOrElse("?")
          perJob.put(j.jobId,
            (site, System.nanoTime(), new AtomicInteger(0), new AtomicLong(0)))
          j.stageIds.foreach(sid => stageToJob.put(sid, j.jobId))
        }
      }
      override def onJobEnd(j: org.apache.spark.scheduler
          .SparkListenerJobEnd): Unit = {
        val e = jobSpan.get(j.jobId)
        if (e != null) jobSpan.put(j.jobId, (e._1, System.nanoTime()))
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        if (detail) {
          val jid = stageToJob.get(s.stageInfo.stageId)
          val e = perJob.get(jid)
          if (e != null && e._1 == "?")
            perJob.put(jid, (s.stageInfo.name, e._2, e._3, e._4))
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) {
          taskTimeMs.addAndGet(t.taskInfo.duration)
          if (detail) {
            val jid = stageToJob.get(t.stageId)
            val e = perJob.get(jid)
            if (e != null) { e._3.incrementAndGet(); e._4.addAndGet(t.taskInfo.duration) }
          }
        }
      }
    })

    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_simhash_canonical", "q_split_safe", "q_split_leakage",
        "q_curation_chain")
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // rep 1: staging + codegen (untimed for the report)
      fn(spark, sfDir).count()
      graft.ops.Stage.releaseAll(spark)
      // warm rep, counted
      jobs.set(0); stages.set(0); tasks.set(0); taskTimeMs.set(0L)
      perJob.clear(); stageToJob.clear(); jobSpan.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener bus is async — give it a beat before reading the counters
      Thread.sleep(300)
      println(f"""{"query":"$name","wall_sec":$wall%.3f,""" +
        s""""jobs":${jobs.get},"stages":${stages.get},""" +
        s""""tasks":${tasks.get},"task_time_sec":${taskTimeMs.get / 1e3},""" +
        {
          // in-job wall vs between-job (driver think) wall over the rep
          import scala.jdk.CollectionConverters._
          val spans = jobSpan.asScala.values.filter(_._2 > 0).toSeq.sorted
          val inJob = spans.map(s => (s._2 - s._1) / 1e9).sum
          // merge overlaps crudely: driver gap = wall − union-of-spans
          var covered = 0.0; var cursor = 0L
          spans.foreach { case (s, e) =>
            val s2 = math.max(s, cursor)
            if (e > s2) { covered += (e - s2) / 1e9; cursor = e }
            else cursor = math.max(cursor, e)
          }
          f""""job_wall_sec":$inJob%.3f,"job_cover_sec":$covered%.3f}"""
        })
      if (detail) {
        import scala.jdk.CollectionConverters._
        perJob.asScala.toSeq.sortBy(_._1).foreach { case (jid, (site, _, t, ms)) =>
          println(f"  job $jid%3d tasks=${t.get}%4d taskTime=${ms.get / 1e3}%7.2fs  $site")
        }
      }
      graft.ops.Stage.releaseAll(spark)
    }
    spark.stop()
  }
}
