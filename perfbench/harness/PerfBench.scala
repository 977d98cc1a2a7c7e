// In graft's namespace so the harness can call the package-private entry
// points the benchmarked queries are built from (DedupSim.docsWithMutants).
package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Packing, Sampling, Stage, TextAnalysis}
import graft.osm._
import graft.queries.DedupSim

/** The JVM half of the benchmark (driven by perfbench/run.py).
  *
  *   PerfBench <workload> <inputDir> <outDir> <seconds> <trace 0|1> <seed>
  *             <cpus>
  *
  * Untraced (trace 0): set up a session, time one cold run and one
  * warm-up run, then warm runs until `seconds` have passed and the
  * workload's `warmIterations` have run; after the last one, the
  * workload's report rounds (one closed-loop client, its report queries
  * in a seeded order). Traced
  * (trace 1): one cold and two warm untraced runs, then the traced form
  * — each layer's public function called in pipeline order, its output
  * materialized, the call timed as a span — plus Spark's task counters
  * per layer. Every run ends with `Stage.releaseAll`, so no run reuses
  * what the run before it staged. Writes `<outDir>/result.json`; the
  * outputs the Python side checks go next to it.
  */
object PerfBench {
  final case class Args(workload: String, input: String, out: String,
      seconds: Double, trace: Boolean, seed: Long, cpus: Int)

  def main(argv: Array[String]): Unit = {
    val a = argv match {
      case Array(w, in, out, secs, tr, seed, cpus) =>
        Args(w, in, out, secs.toDouble, tr == "1", seed.toLong, cpus.toInt)
      case _ =>
        System.err.println("usage: PerfBench <workload> <inputDir> " +
          "<outDir> <seconds> <trace 0|1> <seed> <cpus>")
        sys.exit(2)
    }
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    warmUp(spark, a.cpus)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    System.err.println(s"perfbench: session ready at $sessionS s, " +
      s"warm at $setupS s")
    val w: Workload = a.workload match {
      case "osm_wrangle" => new OsmWrangle(spark, a)
      case "curation_chain" => new CurationChain(spark, a)
    }
    val result = new Runner(spark, w, a).run()
    val out = result ++ Map(
      "setup_s" -> setupS,
      "peak_rss_mb" -> peakRssMb(),
      "context" -> (result("context").asInstanceOf[Map[String, Any]] ++
        context(spark, a)))
    Files.writeString(Paths.get(a.out, "result.json"), Json(out))
    spark.stop()
  }

  def session(a: Args): SparkSession = {
    val s = graft.Tables.configure(SparkSession.builder())
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.default.parallelism", a.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", Paths.get(a.out, "spark-local").toString)
      .config("spark.sql.warehouse.dir",
        Paths.get(a.out, "warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Data-free plans that load the classes and code paths every workload
    * needs (aggregate, join, cache, sort), so set-up ends warm. */
  def warmUp(s: SparkSession, cpus: Int): Unit = {
    val r = s.range(0, 200000, 1, cpus).selectExpr("id", "id % 97 AS k")
    r.groupBy("k").agg(count(lit(1)), max(col("id"))).collect()
    r.join(s.range(0, 97).withColumnRenamed("id", "k"), "k").count()
    val c = r.filter(col("k") === 3).cache()
    c.count()
    c.orderBy(col("id").desc).limit(5).collect()
    c.unpersist(blocking = true)
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)

  /** Context only, never a gate: the box, the JVM, storage, and Bench's
    * data-free xxhash64 probe (the same plan as graft.Bench's calibration)
    * so a slow box window can be told apart from a code change. */
  def context(s: SparkSession, a: Args): Map[String, Any] = {
    val t0 = System.nanoTime()
    s.range(0, 1L << 27, 1, a.cpus)
      .selectExpr("xxhash64(id) AS h").agg(expr("max(h)")).collect()
    val probe = (System.nanoTime() - t0) / 1e9
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "jvm" -> System.getProperty("java.version"),
      "spark" -> s.version,
      "storage_memory_bytes" -> s.sparkContext.getExecutorMemoryStatus
        .values.map(_._1).sum,
      "calibration_probe_s" -> probe,
      "workload" -> a.workload, "seed" -> a.seed, "cpus" -> a.cpus)
  }

  def secondsOf[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** One workload: an untraced run, its report phase, its traced form and
  * the outputs the Python side checks. */
abstract class Workload(val spark: SparkSession, val args: PerfBench.Args) {
  /** One end-to-end run (the timed call). */
  def run(): Unit
  /** A summary of the last run's output, taken outside the timer; every
    * run of a result must give the same one. */
  def fingerprint(): String
  /** The report phase's queries over what the last run staged. */
  def reportQueries: Seq[(String, () => Any)]
  /** The traced form of `run` (plus, where it has one, the report). */
  def traced(t: Tracer, c: GroupCounters): Map[String, Any]
  /** Write what the Python check reads; called before the last release. */
  def exportForCheck(outDir: Path): Map[String, Any]
  /** Outputs of the traced form that only it produces, to check too. */
  def tracedExport(outDir: Path): Map[String, Any] = Map.empty
  /** Warm runs every result holds after the warm-up run (their median is
    * `run_s`). */
  def warmIterations: Int
  /** Report rounds after the last warm run (their median is `report_s`). */
  def reportRounds: Int
  /** Untimed report rounds before those, while the report queries' code
    * is still being generated. */
  def reportWarmUpRounds: Int
  def inputContext: Map[String, Any]
  /** Does the traced form's output equal the untraced run's? */
  def tracedMatches(untraced: Option[String]): Boolean

  /** Stage a layer's output (cache + count) and return it with its rows. */
  protected def staged(df: DataFrame): (DataFrame, Long) =
    Stage.barrierCounted(df)
}

final class Runner(spark: SparkSession, w: Workload, a: PerfBench.Args) {
  import PerfBench._

  private var attempted = 0
  private var threw = 0
  private val errors = scala.collection.mutable.ArrayBuffer.empty[String]
  private val fingerprints = scala.collection.mutable.ArrayBuffer.empty[String]
  // what the program staged in the last run, read before its release
  private var stagedAfterRun = 0
  private var stagedBytesAfterRun = 0L

  private def storedBytes(): Long = spark.sparkContext.getRDDStorageInfo
    .map(i => i.memSize + i.diskSize).sum

  /** `body`, or `fallback` with the error recorded; `fails` counts it as
    * a failed run. */
  private def recorded[A](label: String, fallback: A, fails: Boolean = true)(
      body: => A): A =
    try body
    catch {
      case e: Throwable =>
        if (fails) threw += 1
        errors += s"$label: ${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(500)
        fallback
    }

  /** Run once, timed; a run that throws counts as failed. */
  private def attempt(): Option[Double] = {
    attempted += 1
    recorded("run", Option.empty[Double]) {
      val (_, s) = secondsOf(w.run())
      stagedAfterRun = Stage.stagedCount(spark)
      stagedBytesAfterRun = storedBytes()
      fingerprints += w.fingerprint()
      Some(s)
    }
  }

  private def release(): Double = secondsOf(Stage.releaseAll(spark))._2

  def run(): Map[String, Any] =
    if (a.trace) tracedRun() else timedRun()

  private def reportRound(rng: Random): Seq[(String, Double)] =
    rng.shuffle(w.reportQueries).map { case (name, q) =>
      val (_, s) = secondsOf(q())
      (name, s * 1e3)
    }

  private def timedRun(): Map[String, Any] = {
    val rng = new Random(a.seed)
    val first = attempt()
    release()
    // the JIT is still compiling the hot paths in the first warm run (it
    // ran 5-30 % slower than the next on both workloads): a warm-up, not
    // a sample
    val warmUp = attempt()
    release()
    val runs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Double]
    val report = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var check = Map.empty[String, Any]
    var maxStaged = 0
    var maxAfterRelease = 0
    val t0 = System.nanoTime()
    var iter = 0
    while (iter < w.warmIterations ||
        (System.nanoTime() - t0) / 1e9 < a.seconds) {
      iter += 1
      attempt().foreach { s =>
        runs += s
        // after the last warm run: the report rounds, then the export of
        // the output the Python side checks
        val last = iter >= w.warmIterations &&
          (System.nanoTime() - t0) / 1e9 >= a.seconds
        if (last) recorded("report", ()) {
          for (_ <- 1 to w.reportWarmUpRounds) reportRound(rng)
          for (_ <- 1 to w.reportRounds) {
            val (round, roundS) = secondsOf(reportRound(rng))
            report ++= round
            rounds += roundS
          }
          check = w.exportForCheck(Paths.get(a.out))
        }
      }
      maxStaged = math.max(maxStaged, Stage.stagedCount(spark))
      release()
      maxAfterRelease = math.max(maxAfterRelease, Stage.stagedCount(spark))
    }
    Map(
      "first_run_s" -> first.getOrElse(Double.NaN),
      "warm_up_run_s" -> warmUp.getOrElse(Double.NaN),
      "run_s_samples" -> runs.toSeq,
      "report_round_s_samples" -> rounds.toSeq,
      "report_ms_samples" -> report.map(_._2).toSeq,
      "report_names" -> report.map(_._1).toSeq,
      "attempted" -> attempted, "threw" -> threw, "errors" -> errors.toSeq,
      "fingerprints" -> fingerprints.toSeq,
      "check" -> check,
      "context" -> (w.inputContext ++ Map(
        "staged_relations" -> stagedAfterRun,
        "staged_bytes" -> stagedBytesAfterRun,
        "staged_relations_max" -> maxStaged,
        "staged_relations_after_release_max" -> maxAfterRelease)))
  }

  private def tracedRun(): Map[String, Any] = {
    val first = attempt()
    release()
    // two warm untraced runs: the second, with the JIT warm, is the
    // baseline the traced run is compared with
    attempt()
    release()
    val untraced = attempt()
    val (staged, stagedBytes) = (stagedAfterRun, stagedBytesAfterRun)
    val check = recorded("export", Map.empty[String, Any], fails = false)(
      w.exportForCheck(Paths.get(a.out)))
    release()
    val counters = new GroupCounters
    spark.sparkContext.addSparkListener(counters)
    val rails = RailDrops.register(spark)
    val tracer = new Tracer(spark.sparkContext, runId = 1)
    attempted += 1
    val layer = recorded("traced", Map.empty[String, Any])(
      w.traced(tracer, counters))
    if (layer.nonEmpty && !w.tracedMatches(fingerprints.lastOption)) {
      threw += 1
      errors += "traced form's output differs from the untraced run's"
    }
    val tracedCheck = recorded("export", Map.empty[String, Any],
      fails = false)(w.tracedExport(Paths.get(a.out)))
    // the traced form stages every layer's output: context, not the
    // program's staging
    val tracedStaged = Stage.stagedCount(spark)
    val tracedBytes = storedBytes()
    val releaseS = release()
    val stagedAfter = Stage.stagedCount(spark)
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    val all = counters.all
    val top = tracer.spans.find(s => s.name == "run" && s.parent == -1)
    val tracedS = top.map(_.seconds).getOrElse(Double.NaN)
    val attributed = top.map(r =>
      tracer.spans.filter(_.parent == r.id).map(_.seconds).sum)
      .getOrElse(0.0)
    val perLayer = layer ++ Map(
      "stage.staged_relations" -> staged.toDouble,
      "stage.staged_after_release" -> stagedAfter.toDouble,
      "stage.cached_bytes" -> stagedBytes.toDouble,
      "stage.release_s" -> releaseS,
      "rail.drops" -> rails.drops.toDouble,
      "spark.jobs" -> all.map(_.jobs).sum.toDouble,
      "spark.tasks" -> all.map(_.tasks).sum.toDouble,
      "spark.sigma_task_s" -> all.map(_.runMs).sum / 1e3,
      "spark.shuffle_write_bytes" -> all.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> all.map(_.spill).sum.toDouble,
      "spark.gc_s" -> all.map(_.gcMs).sum / 1e3,
      "trace.overhead_s" -> (tracedS - untraced.getOrElse(Double.NaN)),
      "trace.unattributed_s" -> (tracedS - attributed))
    Files.write(Paths.get(a.out, "spans.jsonl"),
      tracer.toJsonLines.asJava)
    Map(
      "first_run_s" -> first.getOrElse(Double.NaN),
      "run_s_samples" -> untraced.toSeq,
      "traced_run_s" -> tracedS,
      "per_layer" -> perLayer,
      "attempted" -> attempted, "threw" -> threw, "errors" -> errors.toSeq,
      "fingerprints" -> fingerprints.toSeq,
      "check" -> (check ++ tracedCheck),
      "context" -> (w.inputContext ++ Map(
        "staged_relations" -> staged, "staged_bytes" -> stagedBytes,
        "traced_form_staged_relations" -> tracedStaged,
        "traced_form_staged_bytes" -> tracedBytes)))
  }
}

/** XML extract → six CSVs (the ProcessMap path), then the report half. */
final class OsmWrangle(spark: SparkSession, args: PerfBench.Args)
    extends Workload(spark, args) {
  private val osm = Paths.get(args.input, "map.osm").toString
  private val official = Paths.get(args.input, "official.xml").toString
  private val csvDir = Paths.get(args.out, "csv").toString
  private val inputBytes = Files.size(Paths.get(osm))
  private var p: OsmPipeline = _
  val warmIterations = 2
  // one round of ~7 s; a warm-up round would add as much to every result
  val reportRounds = 1
  val reportWarmUpRounds = 0
  private val scalars = scala.collection.mutable.Map.empty[String, Long]

  def run(): Unit = {
    p = OsmPipeline(spark, osm, official)
    p.writeCsvs(csvDir)
  }

  /** Data rows and data bytes per CSV table (header lines excluded). */
  private def csvStats(dir: String): Seq[(String, Long, Long)] =
    Seq("nodes", "nodes_tags", "ways", "ways_nodes", "ways_tags",
      "update_history").map { t =>
      val parts = Files.list(Paths.get(dir, t)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
      var rows = 0L
      var bytes = 0L
      parts.foreach { f =>
        val lines = Files.readAllLines(f).asScala
        rows += math.max(0, lines.size - 1)
        bytes += lines.drop(1).map(_.getBytes("UTF-8").length + 1L).sum
      }
      (t, rows, bytes)
    }

  def fingerprint(): String = csvStats(csvDir).mkString(";")

  private def scalar(name: String)(): Long = {
    val v = Explore.run(spark, name).collect().head.getLong(0)
    scalars(name) = v
    v
  }

  /** The paper's exploration queries over the registered views. */
  private def exploreQueries: Seq[(String, () => Any)] = {
    p.registerViews()
    Explore.queries.keys.toSeq.sorted.map { q =>
      q -> (if (q == "updated_users_vs_contributions")
              () => Explore.run(spark, q).collect().length
            else scalar(q) _)
    } :+ ("df.updated_users_vs_contributions" -> (() =>
      Explore.df.updatedUsersVsContributions(p).collect().length))
  }

  /** The two audits: street names, phone numbers. */
  private def auditQueries: Seq[(String, () => Any)] = Seq(
    "street_audit" -> (() => p.streetAudit.collect().length),
    "phone_audit_rows" -> (() => p.phoneAuditRows.collect().length),
    "phone_key_counts" -> (() =>
      Audits.phoneKeyCounts(p.phoneAuditRows).collect().length),
    "phone_char_census" -> (() =>
      Audits.phoneCharCensus(p.phoneAudit).collect().length))

  def reportQueries: Seq[(String, () => Any)] = exploreQueries ++ auditQueries

  def exportForCheck(outDir: Path): Map[String, Any] = {
    if (scalars.isEmpty) {
      p.registerViews()
      Explore.queries.keys.filter(_ != "updated_users_vs_contributions")
        .foreach(q => scalar(q)())
    }
    val eng = outDir.resolve("engine").toString
    Seq("nodes" -> p.nodes, "ways" -> p.ways, "way_nodes" -> p.wayNodes,
      "official_raw" -> p.officialUncorrected).foreach { case (n, df) =>
      df.write.mode("overwrite").parquet(s"$eng/$n")
    }
    val stats = csvStats(csvDir)
    val csvBytes = Files.walk(Paths.get(csvDir)).iterator().asScala
      .filter(f => f.getFileName.toString.startsWith("part-"))
      .map(f => Files.size(f)).sum
    Map("explore" -> scalars.toMap,
      "csv_rows" -> stats.map(s => s._1 -> s._2).toMap,
      "csv_bytes" -> csvBytes,
      "csv_bytes_per_input_byte" -> csvBytes.toDouble / inputBytes)
  }

  def inputContext: Map[String, Any] =
    Map("input_bytes" -> inputBytes, "input" -> "map.osm + official.xml")

  /** The run on a fresh pipeline, one span per public member in the
    * order `writeCsvs` first touches them; each member stages its own
    * relations (the pipeline's memos), so a span times that layer's
    * work. The street-name fix's member, `wayTagsFixed`, also runs the
    * phone fix of the way tags (one memo in the pipeline). */
  def traced(t: Tracer, c: GroupCounters): Map[String, Any] = {
    val tracedCsv = Paths.get(args.out, "csv_traced").toString
    p = OsmPipeline(spark, osm, official)
    val officialRows = t.span("run") {
      val n = t.span("osm.official") {
        p.officialUncorrected
        p.lookup.count()
      }
      t.span("osm.ingest") { p.nodes; p.ways }
      t.span("osm.phone_fix") { p.nodeTagsFixed }
      t.span("osm.street_fix") { p.wayTagsFixed }
      t.span("osm.update_history") { p.updateHistory }
      t.span("osm.csv_sink") { p.writeCsvs(tracedCsv) }
      n
    }
    t.span("report") {
      t.span("osm.explore") { exploreQueries.foreach(_._2()) }
      t.span("osm.audits") { auditQueries.foreach(_._2()) }
    }
    // counters, outside every span, over the staged relations
    val phoneTags = p.nodeTagsFixed.select("key", "phone_changed")
      .unionByName(p.wayTagsFixed.select("key", "phone_changed"))
      .filter(col("key").isin(PhoneFix.PhoneKeys: _*))
    val rewritten = phoneTags.filter(col("phone_changed")).count()
    val fixed = p.updateHistory.filter(col("field_updated") === "name")
      .count()
    val streets = StreetNameFix.streetIds(p.wayTags).count()
    val ingestRows = p.nodes.count() + p.ways.count()
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    val ingest = c.group("osm.ingest")
    val ingestSelf = t.selfSeconds("osm.ingest")
    val reportJobs = Seq("osm.explore", "osm.audits").map(c.group(_).jobs).sum
    val csvBytes = Files.walk(Paths.get(tracedCsv)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .map(Files.size(_)).sum
    tracedFingerprint = csvStats(tracedCsv).mkString(";")
    Map(
      "osm.ingest.self_s" -> ingestSelf,
      "osm.ingest.sigma_task_s" -> ingest.runMs / 1e3,
      "osm.ingest.tasks" -> ingest.tasks.toDouble,
      "osm.ingest.rows" -> ingestRows.toDouble,
      "osm.ingest.input_mb_per_s" -> inputBytes / 1e6 / ingestSelf,
      "osm.official.self_s" -> t.selfSeconds("osm.official"),
      "osm.official.rows" -> officialRows.toDouble,
      "osm.phone_fix.self_s" -> t.selfSeconds("osm.phone_fix"),
      "osm.phone_fix.changed_ratio" ->
        rewritten.toDouble / math.max(1L, phoneTags.count()),
      "osm.street_fix.self_s" -> t.selfSeconds("osm.street_fix"),
      "osm.street_fix.shuffle_bytes" ->
        c.group("osm.street_fix").shuffleWrite.toDouble,
      "osm.street_fix.fix_ratio" -> fixed.toDouble / math.max(1L, streets),
      "osm.update_history.self_s" -> t.selfSeconds("osm.update_history"),
      "osm.csv_sink.self_s" -> t.selfSeconds("osm.csv_sink"),
      "osm.csv_sink.bytes_written" -> csvBytes.toDouble,
      "osm.csv_bytes_per_input_byte" -> csvBytes.toDouble / inputBytes,
      "osm.explore.self_s" -> t.selfSeconds("osm.explore"),
      "osm.audits.self_s" -> t.selfSeconds("osm.audits"),
      "osm.report.jobs_per_query" ->
        reportJobs.toDouble / reportQueries.size)
  }

  private var tracedFingerprint: String = ""
  def tracedMatches(untraced: Option[String]): Boolean =
    untraced.contains(tracedFingerprint)
}

/** `q_curation_chain` (`DedupSim.curationChain`): gate → digest dedup →
  * cluster map → decontamination → split → mix → pack → manifest, over
  * `<input>/chain/documents.parquet`.
  *
  * Its traced run also times the `q_dedup_eval` layers (SimHash pairs,
  * MinHash truth, pair metrics) over `<input>/pairs/documents.parquet`, a
  * dense corpus on which pair generation is output-quadratic, so those
  * layers are measured where they dominate. */
final class CurationChain(spark: SparkSession, args: PerfBench.Args)
    extends Workload(spark, args) {
  private val dir = Paths.get(args.input, "chain").toString
  private val pairsDir = Paths.get(args.input, "pairs").toString
  private var result: DataFrame = _
  private var rows: Array[Row] = Array.empty
  private var tracedRows: Array[Row] = Array.empty
  private var pairs: Option[(Seq[String], Array[Row])] = None
  val warmIterations = 2
  // a round is ~1.6 s, the first ~30 % slower while the report queries'
  // code is generated: one warm-up round, then three timed
  val reportRounds = 3
  val reportWarmUpRounds = 1

  def run(): Unit = {
    result = DedupSim.curationChain(spark, dir)
    rows = result.collect()
  }

  private def key(rs: Array[Row]): String =
    rs.map(_.toString).sorted.mkString(";")

  def fingerprint(): String = key(rows)

  def tracedMatches(untraced: Option[String]): Boolean =
    untraced.contains(key(tracedRows))

  /** A user reading the published manifest, which is built over the
    * run's staged mixture. */
  def reportQueries: Seq[(String, () => Any)] = Seq(
    "manifest" -> (() => result.collect().length),
    "totals" -> (() => result.agg(sum("n_docs"), sum("n_tokens"),
      sum("n_bins")).collect().length),
    "top_sources" -> (() =>
      result.orderBy(col("n_tokens").desc).limit(3).collect().length),
    "multi_bin_sources" -> (() => result.filter(col("n_bins") > 1).count()))

  private def export(outDir: Path, query: String, cols: Seq[String],
      rs: Array[Row]): Map[String, Any] = {
    val file = s"oracle_$query.sql"
    Files.writeString(outDir.resolve(file), graft.SparkEntry.oracleSql(query))
    Map("query" -> query, "oracle" -> file, "columns" -> cols,
      "rows" -> rs.map(_.toSeq).toSeq)
  }

  def exportForCheck(outDir: Path): Map[String, Any] =
    Map("chain" -> export(outDir, "q_curation_chain", result.columns.toSeq,
      rows))

  override def tracedExport(outDir: Path): Map[String, Any] =
    pairs.map { case (cols, rs) =>
      "pairs" -> export(outDir, "q_dedup_eval", cols, rs)
    }.toMap

  def inputContext: Map[String, Any] = Map(
    "input_bytes" -> Files.size(Paths.get(dir, "documents.parquet")),
    "documents" -> graft.Tables(spark, dir).documents.count())

  def traced(t: Tracer, c: GroupCounters): Map[String, Any] =
    tracedChain(t, c) ++ tracedPairs(t, c)

  private def tracedChain(t: Tracer, c: GroupCounters): Map[String, Any] = {
    val d = graft.Tables(spark, dir).documents
    val docs = d.select(col("doc_id"), col("source"), col("text"))
      .union(d.select((col("doc_id") + 1000000L).as("doc_id"),
        col("source"), regexp_replace(col("text"), "^[^ ]* ", "")
          .as("text")))
    val evalDocs = d.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id"), col("text"))
    val idSrcText = Seq("doc_id", "source", "text").map(col)
    val out = t.span("run") {
      val (gated, nGated) = t.span("chain.gate") {
        staged(TextAnalysis.gopherRules(docs, 20L, 100000L, "text",
          carry = Seq("source", "text")).filter(col("gopher_pass"))
          .select(idSrcText: _*))
      }
      val (deduped, nDeduped) = t.span("chain.digest_dedup") {
        staged(Dedup.firstPerDigest(gated.withColumn("_dig",
          sha2(lower(col("text")), 256))).select(idSrcText: _*))
      }
      val (cmap, canonical, nCanonical) = t.span("chain.cluster_map") {
        val cmap = staged(Dedup.simhashCanonical(deduped, 6))._1
        val (canon, n) = staged(deduped.join(
          cmap.filter(col("doc_id") === col("canonical_id"))
            .select(col("doc_id")), Seq("doc_id"), "left_semi"))
        (cmap, canon, n)
      }
      val decon = t.span("chain.decontaminate") {
        staged(Dedup.decontaminateSegments(canonical, evalDocs, 8)
          .select(col("doc_id"), col("clean_text").as("text"))
          .join(canonical.select(col("doc_id"), col("source")),
            Seq("doc_id")))._1
      }
      val (train, nTrain) = t.span("chain.split") {
        staged(decon.join(Sampling.leakageSafeSplitsFrom(cmap)
          .filter(col("split") === "train").select(col("doc_id")),
          Seq("doc_id"), "left_semi"))
      }
      val (mixed, nMixed) = t.span("chain.mix") {
        staged(Sampling.temperatureMix(train, "source", "doc_id", 0.5, 300L))
      }
      val packed = t.span("chain.pack") {
        staged(Packing.packSequences(mixed, 2048L, 32))._1
      }
      val manifest = t.span("chain.manifest") {
        TextAnalysis.manifest(mixed, "source")
          .join(packed.join(mixed.select(col("doc_id"), col("source")),
              Seq("doc_id"))
            .groupBy(col("source"))
            .agg(sum(col("n_tokens")).cast("long").as("n_tokens"),
              countDistinct(col("bin")).cast("long").as("n_bins")),
            Seq("source")).collect()
      }
      (nGated, nDeduped, nCanonical, decon, nTrain, nMixed, manifest)
    }
    val (nGated, nDeduped, nCanonical, decon, nTrain, nMixed, manifest) = out
    val nDocs = docs.count()
    val kept = decon.filter(length(col("text")) > 0).count()
    tracedRows = manifest
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    val cm = c.group("chain.cluster_map")
    val dc = c.group("chain.decontaminate")
    Map(
      "chain.gate.self_s" -> t.selfSeconds("chain.gate"),
      "chain.gate.pass_ratio" -> nGated.toDouble / nDocs,
      "chain.digest_dedup.self_s" -> t.selfSeconds("chain.digest_dedup"),
      "chain.digest_dedup.keep_ratio" -> nDeduped.toDouble / nGated,
      "chain.cluster_map.self_s" -> t.selfSeconds("chain.cluster_map"),
      "chain.cluster_map.shuffle_bytes" -> cm.shuffleWrite.toDouble,
      "chain.cluster_map.canonical_ratio" -> nCanonical.toDouble / nDeduped,
      "chain.decontaminate.self_s" ->
        t.selfSeconds("chain.decontaminate"),
      "chain.decontaminate.shuffle_bytes" -> dc.shuffleWrite.toDouble,
      "chain.decontaminate.spill_bytes" -> dc.spill.toDouble,
      "chain.decontaminate.kept_ratio" -> kept.toDouble / nCanonical,
      "chain.split.self_s" -> t.selfSeconds("chain.split"),
      "chain.mix.self_s" -> t.selfSeconds("chain.mix"),
      "chain.mix.sample_ratio" -> nMixed.toDouble / nTrain,
      "chain.pack.self_s" -> t.selfSeconds("chain.pack"),
      "chain.manifest.self_s" -> t.selfSeconds("chain.manifest"))
  }

  /** The `q_dedup_eval` composition (`DedupSim.dedupEval`) over the
    * dense corpus with its mutant copies (id + 1,000,000, first token
    * dropped): the query's own input and its own staged MinHash truth
    * (`DedupSim.minhashNearDups`), with the SimHash side staged so each
    * span times one layer. Its own top-level span: it is not part of the
    * chain run that `trace.overhead_s` compares. */
  private def tracedPairs(t: Tracer, c: GroupCounters): Map[String, Any] = {
    val docs = DedupSim.docsWithMutants(spark, pairsDir)
    val (nFound, nTruth, metrics) = t.span("pairs") {
      val (found, nFound) = t.span("dedup.simhash_pairs") {
        staged(Dedup.simhashNearDupPairs(docs))
      }
      val (truth, nTruth) = t.span("dedup.minhash_truth") {
        val truth = DedupSim.minhashNearDups(spark, pairsDir)
        (truth, truth.count())
      }
      val m = t.span("dedup.pair_metrics") {
        val df = Dedup.pairMetrics(found, truth, assumeCanonical = true)
        (df.columns.toSeq, df.collect())
      }
      (nFound, nTruth, m)
    }
    pairs = Some(metrics)
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    val sp = c.group("dedup.simhash_pairs")
    Map(
      "dedup.simhash_pairs.self_s" -> t.selfSeconds("dedup.simhash_pairs"),
      "dedup.simhash_pairs.sigma_task_s" -> sp.runMs / 1e3,
      "dedup.simhash_pairs.shuffle_bytes" -> sp.shuffleWrite.toDouble,
      "dedup.simhash_pairs.pairs" -> nFound.toDouble,
      "dedup.minhash_truth.self_s" -> t.selfSeconds("dedup.minhash_truth"),
      "dedup.pair_metrics.self_s" -> t.selfSeconds("dedup.pair_metrics"),
      "dedup.true_pairs" -> nTruth.toDouble)
  }
}
