package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Handles on the driver-provided synthetic parquet tables (TESTDATA.md /
  * FIXTURES.md §5). One directory per scale factor; each table is a single
  * parquet file. Reads are plain `spark.read.parquet` so Catalyst gets full
  * predicate pushdown / column pruning into the scan — at cluster scale the
  * same loader works unchanged over a partitioned directory of files.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame =
    Tables.resolved(spark, s"$dir/$name.parquet")

  def region: DataFrame = table("region")
  def nation: DataFrame = table("nation")
  def customer: DataFrame = table("customer")
  def supplier: DataFrame = table("supplier")
  def part: DataFrame = table("part")
  def orders: DataFrame = table("orders")
  def lineitem: DataFrame = table("lineitem")

  /** `events.ts` has varied across driver testdata generations — see
    * [[Tables.normalizeEventTs]], the ONE place the footer branch lives
    * (shared with the streaming read path so a testdata flip cannot split
    * batch and stream again, the round-8 failure mode). */
  def events: DataFrame = Tables.normalizeEventTs(table("events"))
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")

  /** Register all tables as temp views for `spark.sql` exploration
    * (mirrors the reference's CSV→SQLite→SQL flow, SURVEY.md §3.4).
    * `events` goes through the normalizing accessor so either footer
    * variant (nanos or micros) surfaces as one UTC micro timestamp. */
  def registerViews(): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(n => table(n).createOrReplaceTempView(n))
    events.createOrReplaceTempView("events")
  }
}

object Tables {
  /** Snapshot of what a parquet path contained when it was resolved:
    * (entry name, length, mtime) for the file itself or, for a
    * directory (multi-file tables like the ScaleData outputs), its
    * immediate children. Microsecond-cheap to take, and any rewrite —
    * new part files, truncation, regeneration — changes it. */
  private def pathSnapshot(path: String): Seq[(String, Long, Long)] = {
    val f = new java.io.File(path)
    if (f.isDirectory) {
      val kids = f.listFiles()
      if (kids == null) Seq((path, -1L, -1L))
      else kids.sortBy(_.getName).toSeq
        .map(k => (k.getName, k.length(), k.lastModified()))
    } else Seq((path, f.length(), f.lastModified()))
  }

  // path key → (snapshot at resolution, resolved frame), a SESSION-SCOPED
  // entry of the session registry (graft.ops.SessionScoped's companion):
  // it survives Stage.releaseAll and ends with the session's context.
  // METADATA memo only (guide §6 — repeated file listing / footer
  // inference is driver-side fixed cost): `spark.read.parquet` re-lists
  // the path and re-reads parquet footers on EVERY call (~60–110 ms per
  // table on the 32-core box, BENCH_NOTES r21), and every query
  // resolves its tables per invocation — at 176 queries × 2 bench reps
  // that re-resolution was the single largest per-query fixed cost. The
  // memoized value is the resolved LOGICAL PLAN (schema + file index);
  // no rows, no results — every action still scans the parquet files,
  // exactly like Spark's own catalog relation cache for `spark.table`.
  // Entries are validated against a fresh path snapshot on EVERY access.

  /** `spark.read.parquet(path)` through the session-scoped metadata memo:
    * resolution (file listing + footer schema inference) happens once per
    * (session, path, content snapshot) instead of once per call. */
  def resolved(spark: SparkSession, path: String): DataFrame =
    memoized(spark, path, path)(spark.read.parquet(path))

  /** The explicit-schema FAILFAST JSONL read (JsonlStore's contract)
    * through the same memo — no footer to infer, but the per-call file
    * listing still costs tens of ms on the landing-zone reads the epoch
    * chains repeat. Keyed by path + schema so two schemas over one path
    * cannot collide. */
  def resolvedJson(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    memoized(spark, path, path + "#json#" + schema.catalogString)(
      spark.read.schema(schema).option("mode", "FAILFAST").json(path))

  private def memoized(spark: SparkSession, path: String, key: String)(
      resolve: => DataFrame): DataFrame = {
    val memo = graft.ops.SessionScoped.sessionScoped(spark)
    val k = (Tables, key)
    val snap = pathSnapshot(path)
    memo.get(k) match {
      case (`snap`, df) => df.asInstanceOf[DataFrame]
      case _ =>
        val df = resolve
        memo.put(k, (snap, df))
        df
    }
  }

  /** SQL confs the engine requires at SESSION CONSTRUCTION. Readers never
    * mutate session state (a reader that flips a session-wide flag is a
    * trap for co-resident reads) — every `main` and the shared test
    * session apply these at build time via [[configure]].
    *
    * `nanosAsLong` only changes how a TIMESTAMP(NANOS) parquet footer
    * SURFACES — as a bigint of nanos, which [[normalizeEventTs]] then
    * converts; without it Spark 4 refuses such footers outright. It is a
    * no-op for micros-footer data, so setting it unconditionally is safe.
    *
    * `codegen.cache.maxEntries` sizes Spark's generated-class cache
    * (default 100) above the engine's working set, so a class generated
    * by one run is still cached when the next run asks for it instead of
    * being LRU-evicted and recompiled by Janino. Distinct generated
    * classes per process, measured on the benchmark's seed-1 inputs
    * (CodegenMetrics compile counts, 4-core box): curation chain 181,
    * OSM ETL 85, one cold OSM report round 125. At 100, every warm chain
    * run recompiled 185–188 classes and the OSM report round compiled
    * 168 (43 recompiles of its own evictions); at 1000, warm chain runs
    * compile 0–4. 1000 is > 4× the largest working set: Guava splits
    * the cap over 4 segments of 250, and an unlucky hash spread must not
    * fill one early. Metaspace stayed flat (chain peak 163 MB at 1000 vs
    * 167 MB at 100). Caveat: the cache is STATIC to the JVM —
    * `CodeGenerator$` builds it once, from the conf of the session
    * active when codegen first runs — so the value holds only because
    * every `main` builds its session through [[session]], which applies
    * [[configure]] (tools/tripwire.sh refuses a session builder outside
    * this file under src/main/scala). */
  val SessionConfigs: Map[String, String] =
    Map("spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // Let AQE re-optimize (and in particular COALESCE) the plan under
      // a cache() instead of pinning the cache to the session's raw
      // shuffle-partition count (Spark default: false). The engine
      // stages many narrow intermediates (Stage.barrier); with the
      // default, a KB-sized staged frame materializes as
      // spark.sql.shuffle.partitions cached partitions and EVERY
      // downstream job over it schedules that many tasks — measured
      // r20: 32-task stages over few-hundred-row cached frames
      // throughout the simhash/components family. With AQE sizing, the
      // cached layout follows the data (1 partition at bench scale,
      // advisory-sized partitions at 100 TB) — scale-adaptive, not a
      // local[32] constant. Trade (documented upstream): the cached
      // plan's output partitioning may no longer match a downstream
      // join/groupBy key, costing an exchange some plans previously
      // elided — acceptable here because the staged frames are small by
      // design, and the one hot case that relied on partition
      // preservation (components' cached edge relation) re-asserts its
      // layout explicitly.
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "1000")

  /** Apply [[SessionConfigs]] to a session builder (chainable). */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    SessionConfigs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** The one session recipe of every `main`: [[configure]] applied,
    * master `SPARK_MASTER` or else `local[n]`, n shuffle partitions — n
    * is `SPARK_GRAFT_CPUS` or else the machine's core count — session
    * zone UTC (the zone [[normalizeEventTs]] reads TIMESTAMP_NTZ in), UI
    * off, log level WARN. */
  def session(app: String): SparkSession = {
    val n = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val s = configure(SparkSession.builder())
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$n]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Normalize `events.ts` to a session-zone (UTC) timestamp with
    * microsecond values, whatever the parquet footer said. Driver testdata
    * generations have alternated between TIMESTAMP(NANOS) footers (which
    * Spark's vectorized reader only accepts as a bigint of nanos under
    * `spark.sql.legacy.parquet.nanosAsLong`) and plain TIMESTAMP(MICROS)
    * (read natively as TIMESTAMP_NTZ). Branching on the OBSERVED column
    * type — not an assumption about the footer — makes both the batch
    * accessor ([[Tables.events]]) and the streaming source
    * ([[graft.streaming.EventStream.readEvents]]) robust to the next
    * flip; `ts div 1000` is the same floor truncation DuckDB applies. */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.LongType
    val ts = raw.schema("ts").dataType match {
      case LongType => expr("timestamp_micros(ts div 1000)") // nanos footer
      case _        => col("ts").cast("timestamp")           // micros footer
    }
    raw.withColumn("ts", ts)
  }
}
