package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Dedup, Sampling, Sketches, TextAnalysis}

/** Corpus-composition queries: deterministic sampling/quotas, portable
  * sketches (HLL cardinality, histogram quantiles), corpus-level segment
  * dedup, and unigram-frequency scoring — the data-mixing and profiling
  * stages of a training pipeline, each restated 1:1 in DuckDB SQL.
  */
object CorpusOps {

  /** The portable polynomial hash rendering (shared via [[OracleSql]]). */
  private def pHash(e: String): String = OracleSql.pHash(e)

  /** Downsample the dominant language to rebalance the corpus mix:
    * en kept at 40%, everything else at 80% — all hash-deterministic. */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(Tables(s, dir).documents,
        stratumCol = "lang", idCol = "doc_id",
        rates = Map("en" -> 40), default = 80)
      .select(col("doc_id"), col("lang"))

  /** Cap every source at 10 documents, drawn by hash order. */
  def sourceQuota(s: SparkSession, dir: String): DataFrame =
    Sampling.sourceQuota(Tables(s, dir).documents,
        keyCol = "source", idCol = "doc_id", quota = 10)
      .select(col("doc_id"), col("source"))

  /** Temperature-flatten the source mix (α = 0.5) to a 300-row budget. */
  def temperatureMix(s: SparkSession, dir: String): DataFrame =
    Sampling.temperatureMix(Tables(s, dir).documents,
        keyCol = "source", idCol = "doc_id", alpha = 0.5, targetRows = 300L)
      .select(col("doc_id"), col("source"))

  /** Token-budget mixing plan (α = 0.5, 100k-token budget). */
  def mixPlan(s: SparkSession, dir: String): DataFrame =
    Sampling.mixPlan(Tables(s, dir).documents, keyCol = "source",
      textCol = "text", alpha = 0.5, tokenBudget = 100000L)

  /** The materialized training mixture for the same plan. */
  def materializeMix(s: SparkSession, dir: String): DataFrame =
    Sampling.materializeMix(Tables(s, dir).documents, keyCol = "source",
      idCol = "doc_id", textCol = "text", alpha = 0.5,
      tokenBudget = 100000L)

  /** The mixture sharded into 16 deterministic training-order shards. */
  def trainingOrder(s: SparkSession, dir: String): DataFrame =
    Sampling.trainingOrder(materializeMix(s, dir), idCol = "doc_id",
      copyCol = "copy", nShards = 16)

  /** ANALYZE-style per-column profile of the documents table (row/null/
    * exact-distinct counts, lexicographic min/max over one canonical
    * string rendering per column). */
  def profileDocs(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.profile(Tables(s, dir).documents, Seq(
      "doc_id" -> col("doc_id"), "lang" -> col("lang"),
      "n_chars" -> col("n_chars"), "source" -> col("source"),
      "text" -> col("text")))

  /** 64-register portable HLL over the orders' customer key (10× dup
    * factor: 15k orders over 1.5k customers at sf0.01). */
  def hllDistinct(s: SparkSession, dir: String): DataFrame =
    Sketches.hllDistinct(Tables(s, dir).orders, "o_custkey")

  /** p50/p90/p99 of document length from a 64-char-wide histogram. */
  def quantileHist(s: SparkSession, dir: String): DataFrame =
    Sketches.histogramQuantiles(Tables(s, dir).documents,
      valueCol = "n_chars", binWidth = 64L, qs = Seq(50, 90, 99))

  /** The same quantile sketch per language — the per-group length
    * profile of a corpus audit. */
  def quantileByLang(s: SparkSession, dir: String): DataFrame =
    Sketches.histogramQuantilesBy(Tables(s, dir).documents,
      groupCol = "lang", valueCol = "n_chars", binWidth = 64L,
      qs = Seq(50, 90, 99))

  /** Keep each language's ≥-p75-length documents via the sketch
    * threshold — the 100 TB form of q_ntile_gate's exact-ntile top
    * quartile (see [[graft.ops.Sketches.quantileThresholdGate]]: no
    * per-group sort, no window; threshold precision = one 64-char bin). */
  def ntileGateSketch(s: SparkSession, dir: String): DataFrame =
    Sketches.quantileThresholdGate(Tables(s, dir).documents,
      groupCol = "lang", valueCol = "n_chars", binWidth = 64L, q = 75)
      .select(col("doc_id"), col("lang"), col("n_chars"))

  /** Corpus-wide 8-token segment dedup with document reassembly. */
  def segDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.segmentDedup(Tables(s, dir).documents, segTokens = 8)

  /** Sliding-window duplicate-span removal (ExactSubstr posture). */
  def dupSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicateSpans(Tables(s, dir).documents, windowTokens = 8)

  /** Incremental span screen: every 5th doc plays the incoming batch,
    * screened against the window bank of the other four fifths. */
  def spanScreen(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir).documents
    Dedup.spanScreen(
      d.filter(col("doc_id") % 5 === 0),
      Dedup.spanBank(d.filter(col("doc_id") % 5 =!= 0)),
      windowTokens = 8)
  }

  /** Integer unigram-LM score (sum/mean corpus token frequency). */
  def freqScore(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.freqScore(Tables(s, dir).documents)

  /** The composed gate→dedup→split curation pipeline (ops.Curation). */
  def curation(s: SparkSession, dir: String): DataFrame =
    graft.ops.Curation.curate(Tables(s, dir).documents)

  /** Distinct users per event type via per-group 64-register HLLs. */
  def hllBySegment(s: SparkSession, dir: String): DataFrame =
    Sketches.hllDistinctBy(Tables(s, dir).events,
      keyCol = "user_id", groupCol = "event_type")

  /** Sketch-union reaggregability: per-event-type register files merged
    * into the UNION distinct-user estimate (users appear under several
    * event types, so summing per-segment counts would double-count;
    * the merged sketch equals the direct one exactly). */
  def hllMerge(s: SparkSession, dir: String): DataFrame =
    Sketches.hllMergeAcross(Tables(s, dir).events,
      keyCol = "user_id", segmentCol = "event_type")

  /** An 8-token header planted on every document so the df-threshold rule
    * has a true positive to remove (the synthetic corpus carries no
    * natural cross-document boilerplate); replayed verbatim in the
    * oracle. Tokens are outside the corpus vocabulary, so the header
    * never fuses with document text across the segment boundary. */
  private[graft] val Header =
    "hdr0 hdr1 hdr2 hdr3 hdr4 hdr5 hdr6 hdr7"

  /** Boilerplate removal: segments appearing in ≥ 100 distinct docs are
    * dropped from every document (the planted header plus whatever
    * short tail segments the small vocabulary repeats naturally). */
  def boilerplate(s: SparkSession, dir: String): DataFrame =
    Dedup.boilerplateRemoval(
      Tables(s, dir).documents
        .select(col("doc_id"),
          concat(lit(Header + " "), col("text")).as("text")),
      segTokens = 8, maxDf = 100)

  /** Span-level benchmark decontamination: every 20th doc plays the
    * benchmark — its spans vanish from the whole corpus (including from
    * itself: clean_text = "" marks "this doc IS benchmark text"). */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    Dedup.decontaminateSegments(docs,
      docs.filter(col("doc_id") % 20 === 0), segTokens = 8)
  }

  /** Snapshot diff: v2 removes every 5th doc (mod 3), rewrites every 5th
    * (mod 1), adds a fresh id per 5th (mod 0), keeps the rest. */
  def corpusDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
    val curr = docs.filter(col("doc_id") % 5 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 1, concat(lit("v2 "), col("text")))
          .otherwise(col("text")).as("text"))
      .union(docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id") + 1000000L, col("text")))
    Dedup.corpusDiff(docs, curr)
  }

  /** Count-min heavy hitters over the corpus token stream (≥ 2% share). */
  def heavyHitters(s: SparkSession, dir: String): DataFrame =
    Sketches.countMinHeavyHitters(
      Tables(s, dir).documents
        .select(explode(split(col("text"), " ")).as("token")),
      keyCol = "token", sharePermille = 20)

  /** The exact screen's shared fixture batch — a synthetic "new
    * increment" against the corpus-as-seen-set: even-id docs re-arrive
    * verbatim (dups of the corpus), odd-id docs arrive freshened; every
    * 7th row also re-arrives WITHIN the batch under a higher id,
    * exercising the within-batch first-occurrence rule. ONE definition
    * so q_incremental_dedup and q_incremental_dedup_prod stay
    * fixture-identical and share one oracle verbatim. */
  private def dedupBatch(docs: DataFrame): DataFrame = {
    val newText = when(col("doc_id") % 2 === 0, col("text"))
      .otherwise(concat(lit("fresh "), col("text")))
    docs.select((col("doc_id") + 1000000L).as("doc_id"),
        newText.as("text"))
      .union(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          newText.as("text")))
  }

  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    val seen = docs.select(sha2(lower(col("text")), 256).as("digest"))
    Dedup.incrementalDedup(dedupBatch(docs), seen)
  }

  // the persisted digest index / span bank, built once per
  // (session, dir) like DedupSim's stores
  private val digestIndexTable = new graft.ops.SessionScoped[String]
  private val spanBankTable = new graft.ops.SessionScoped[String]

  /** [[incrementalDedup]] against the PERSISTED digest index
    * ([[graft.ops.Dedup.buildDigestIndex]]): identical fixture and
    * output — same oracle SQL — but the corpus digest side is a
    * bucketed external table anti-joined IN PLACE, the steady-state
    * shape where the digest store is an append-per-increment
    * deliverable (DigestSpanStoreSpec plan-asserts batch-side-only
    * exchanges). */
  def incrementalDedupProd(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    val t = digestIndexTable.getOrCompute(s, dir) {
      val (tbl, path) =
        graft.sources.PartitionedStore.storeNames("digidx", dir)
      Dedup.buildDigestIndex(docs, tbl, path)
      tbl
    }
    Dedup.incrementalDedupFrom(s, dedupBatch(docs), t)
  }

  /** [[spanScreen]] against the PERSISTED span bank
    * ([[graft.ops.Dedup.buildSpanBank]]): identical fixture and output
    * — same oracle SQL — but the bank is an h-bucketed external table
    * whose LEFT SEMI probe reads it in place. */
  def spanScreenProd(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir).documents
    val t = spanBankTable.getOrCompute(s, dir) {
      val (tbl, path) =
        graft.sources.PartitionedStore.storeNames("spanbank", dir)
      Dedup.buildSpanBank(d.filter(col("doc_id") % 5 =!= 0), tbl, path,
        windowTokens = 8)
      tbl
    }
    Dedup.spanScreenFrom(s, d.filter(col("doc_id") % 5 === 0), t,
      windowTokens = 8)
  }

  /** Capped posting lists (df + 20 lowest doc ids per token). */
  def postings(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.postingLists(Tables(s, dir).documents, cap = 20)

  /** Sequence packing into 2048-token bins (distributed prefix sum). */
  def packing(s: SparkSession, dir: String): DataFrame =
    graft.ops.Packing.packSequences(Tables(s, dir).documents,
      capacity = 2048L, nShards = 32)

  /** Per-source integrity manifest (order-independent checksums). */
  def manifest(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.manifest(Tables(s, dir).documents)

  /** JSONL round-trip (sources.JsonlStore — the format corpora arrive
    * in): documents are written once per (session, dir) as JSON lines,
    * read back under the explicit schema, and aggregated per source. The
    * oracle aggregates the parquet directly, so the round-trip must be
    * content-lossless (quotes, backslashes, unicode) to hash-match. */
  private val jsonlCache = new graft.ops.SessionScoped[String]
  def jsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = jsonlCache.getOrCompute(s, dir) {
      // sanitized dir + hash, collision-free for distinct dirs (see
      // DedupSim's landing path)
      val tag = dir.replaceAll("[^A-Za-z0-9._-]", "_") +
        f"-${dir.hashCode & 0xffffffffL}%08x"
      val p = s"/tmp/graft_jsonl/$tag"
      graft.sources.JsonlStore.writeJsonl(
        Tables(s, dir).documents
          .select(col("doc_id"), col("source"), col("text")), p)
      p
    }
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("source", "string").add("text", "string")
    graft.sources.JsonlStore.readJsonl(s, path, schema)
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("doc_id")).cast("long").as("sum_id"),
        sum(length(col("text"))).cast("long").as("sum_chars"))
  }

  /** The composed pre-training pipeline end-to-end: reason-coded gate →
    * digest dedup (keep lowest id) → sequence packing of the survivors.
    * Every stage is the library's own operator; the oracle restates the
    * whole chain in one DuckDB query, so the COMPOSITION is cross-engine
    * verified, not just the parts. */
  def pipelineFull(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    val kept = TextAnalysis.documentGate(docs)
      .filter(col("kept")).select(col("doc_id"))
    val gated = docs.join(kept, Seq("doc_id"))
      .select(col("doc_id"), col("text"),
        sha2(lower(col("text")), 256).as("_dig"))
    val survivors = Dedup.firstPerDigest(gated)
      .select(col("doc_id"), col("text"))
    graft.ops.Packing.packSequences(survivors, capacity = 2048L,
      nShards = 32)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_incremental_dedup" -> incrementalDedup,
    "q_incremental_dedup_prod" -> incrementalDedupProd,
    "q_span_screen_prod" -> spanScreenProd,
    "q_postings" -> postings,
    "q_packing" -> packing,
    "q_manifest" -> manifest,
    "q_jsonl_roundtrip" -> jsonlRoundtrip,
    "q_pipeline_full" -> pipelineFull,
    "q_boilerplate" -> boilerplate,
    "q_heavy_hitters" -> heavyHitters,
    "q_quantile_by_lang" -> quantileByLang,
    "q_ntile_gate_sketch" -> ntileGateSketch,
    "q_hll_by_segment" -> hllBySegment,
    "q_hll_merge" -> hllMerge,
    "q_curation" -> curation,
    "q_stratified_sample" -> stratifiedSample,
    "q_source_quota" -> sourceQuota,
    "q_temperature_mix" -> temperatureMix,
    "q_mix_plan" -> mixPlan,
    "q_materialize_mix" -> materializeMix,
    "q_training_order" -> trainingOrder,
    "q_profile" -> profileDocs,
    "q_hll_distinct" -> hllDistinct,
    "q_quantile_hist" -> quantileHist,
    "q_seg_dedup" -> segDedup,
    "q_dup_spans" -> dupSpans,
    "q_span_screen" -> spanScreen,
    "q_freq_score" -> freqScore,
    "q_decontaminate" -> decontaminate,
    "q_corpus_diff" -> corpusDiff,
  )

  /** The mix-plan epochs + copy rule, shared by the materialize oracle
    * and the training-order oracle layered on top of it. */
  private lazy val duckMaterializeMixSql: String =
    "WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(coalesce(len(string_split(text, ' ')), 0)) AS BIGINT) " +
      "AS n_tokens FROM documents GROUP BY source), " +
      "w AS (SELECT source, n_tokens, " +
      "pow(CAST(n_tokens AS DOUBLE), 0.5) AS w FROM c), " +
      "t AS (SELECT sum(w) AS wsum FROM w), " +
      "e AS (SELECT source, CAST(floor(CAST(100000 AS DOUBLE) * w * " +
      "1000.0 / (wsum * CAST(n_tokens AS DOUBLE))) AS BIGINT) AS e " +
      "FROM w CROSS JOIN t), " +
      "n AS (SELECT d.doc_id, d.source, e.e // 1000 + CASE WHEN " +
      s"${pHash("'mmix:' || d.doc_id")} * 2654435761 % 1000 < e.e % 1000 " +
      "THEN 1 ELSE 0 END AS n_copies FROM documents d " +
      "JOIN e ON d.source IS NOT DISTINCT FROM e.source) " +
      "SELECT doc_id, source, CAST(unnest(range(1, n_copies + 1)) " +
      "AS INT) AS copy FROM n WHERE n_copies >= 1"

  /** The identical CM construction rendered from the same (aᵣ, bᵣ)
    * literals [[Sketches.cmCoeffs]] uses — one hash family, two engines. */
  private def duckCmSql: String = {
    val coefs = Sketches.cmCoeffs.zipWithIndex
    val w = Sketches.CmW
    val buildCells = coefs.map { case ((a, b), r) =>
      s"SELECT $r AS r, ((h * $a + $b) % 2147483647) % $w AS cell FROM h"
    }.mkString(" UNION ALL ")
    val probeCells = coefs.map { case ((a, b), r) =>
      s"SELECT token, n_exact, $r AS r, " +
        s"((h * $a + $b) % 2147483647) % $w AS cell FROM ph"
    }.mkString(" UNION ALL ")
    "WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token " +
      "FROM documents), " +
      s"h AS (SELECT ${pHash("token")} AS h FROM tok), " +
      s"cells AS ($buildCells), " +
      "counters AS (SELECT r, cell, count(*) AS cnt FROM cells " +
      "GROUP BY r, cell), " +
      "exact AS (SELECT token, count(*) AS n_exact FROM tok " +
      "GROUP BY token), " +
      "tot AS (SELECT CAST(sum(n_exact) AS BIGINT) AS n_total FROM exact), " +
      s"ph AS (SELECT token, n_exact, ${pHash("token")} AS h FROM exact), " +
      s"probe AS ($probeCells), " +
      "est AS (SELECT token, n_exact, CAST(min(cnt) AS BIGINT) AS cm_est " +
      "FROM probe JOIN counters USING (r, cell) GROUP BY token, n_exact) " +
      "SELECT token, n_exact, cm_est, n_total FROM est, tot " +
      "WHERE cm_est * 1000 >= n_total * 20"
  }

  /** The exact-screen oracle, shared verbatim by q_incremental_dedup
    * (inline seen-set) and q_incremental_dedup_prod (persisted bucketed
    * digest index): NULL digests (sha256 of NULL text) pass through as
    * trivially unique — the engine's firstPerDigest semantics — and the
    * seen-set must exclude NULLs (one NULL in a NOT IN list nulls every
    * verdict; the engine's anti join has no such hazard). */
  private lazy val duckIncrementalDedupSql: String =
    "WITH base AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN text " +
      "ELSE 'fresh ' || text END AS text FROM documents), " +
      "batch AS (SELECT doc_id + 1000000 AS doc_id, text FROM base " +
      "UNION ALL SELECT doc_id + 2000000, text FROM base " +
      "WHERE doc_id % 7 = 0), " +
      "dig AS (SELECT doc_id, sha256(lower(text)) AS dig FROM batch), " +
      "firstb AS (SELECT doc_id, dig FROM (SELECT doc_id, dig, " +
      "min(doc_id) OVER (PARTITION BY dig) AS k FROM dig) " +
      "WHERE dig IS NULL OR doc_id = k) " +
      "SELECT doc_id, dig AS digest FROM firstb " +
      "WHERE dig IS NULL OR dig NOT IN (" +
      "SELECT sha256(lower(text)) FROM documents " +
      "WHERE text IS NOT NULL)"

  /** The span-screen oracle, shared verbatim by q_span_screen (inline
    * bank) and q_span_screen_prod (persisted h-bucketed bank). */
  private lazy val duckSpanScreenSql: String =
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS l " +
      "FROM documents WHERE doc_id % 5 = 0), " +
      "bank AS (SELECT DISTINCT u.h AS h FROM (" +
      "SELECT unnest(list_transform(" +
      "range(0, greatest(len(l) - 7, 0)), " +
      s"i -> {'h': ${OracleSql.pHash2(
        "array_to_string(l[(i+1):(i+8)], ' ')")}})) AS u " +
      "FROM (SELECT string_split(text, ' ') AS l FROM documents " +
      "WHERE doc_id % 5 != 0))), " +
      "occ AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM (" +
      "SELECT doc_id, unnest(list_transform(" +
      "range(0, greatest(len(l) - 7, 0)), " +
      s"i -> {'pos': i, 'h': ${OracleSql.pHash2(
        "array_to_string(l[(i+1):(i+8)], ' ')")}})) AS u FROM t)), " +
      "cov AS (SELECT DISTINCT doc_id, pos + off AS tokpos FROM occ " +
      "JOIN bank USING (h) " +
      "CROSS JOIN (SELECT unnest(range(0, 8)) AS off)), " +
      "tok AS (SELECT doc_id, u.pos AS pos FROM (" +
      "SELECT doc_id, unnest(list_transform(range(0, len(l)), " +
      "i -> {'pos': i})) AS u FROM t)) " +
      "SELECT tok.doc_id AS doc_id, CAST(count(*) AS BIGINT) " +
      "AS n_tokens, " +
      "CAST(sum(CASE WHEN tokpos IS NOT NULL THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n_dup_tokens, " +
      "CAST(sum(CASE WHEN tokpos IS NOT NULL THEN 1 ELSE 0 END) " +
      "* 1000000 // count(*) AS BIGINT) AS dup_x1e6 " +
      "FROM tok LEFT JOIN cov " +
      "ON tok.doc_id = cov.doc_id AND tok.pos = cov.tokpos " +
      "GROUP BY tok.doc_id"

  val oracle: Map[String, String] = Map(
    // same segmentation as q_seg_dedup, but the keep rule is the
    // document-frequency threshold, counted over distinct docs per segment
    "q_boilerplate" ->
      (s"WITH t AS (SELECT doc_id, string_split('$Header ' || text, ' ') " +
        "AS l FROM documents), " +
        "seg AS (SELECT doc_id, u.pos AS pos, u.seg AS seg FROM (" +
        "SELECT doc_id, unnest(list_transform(range(0, (len(l)+7)//8), " +
        "i -> {'pos': i, 'seg': array_to_string(" +
        "l[(i*8+1):(i*8+8)], ' ')})) AS u FROM t)), " +
        "dfq AS (SELECT seg, count(DISTINCT doc_id) AS df FROM seg " +
        "GROUP BY seg) " +
        "SELECT doc_id, count(*) AS n_segs, " +
        "CAST(sum(CASE WHEN df >= 100 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_dropped, " +
        "coalesce(array_to_string(list_transform(list_sort(" +
        "list({'pos': pos, 'seg': seg}) FILTER (WHERE df < 100)), " +
        "x -> x.seg), ' '), '') AS clean_text " +
        "FROM seg JOIN dfq USING (seg) GROUP BY doc_id"),
    // the same segmentation CTE as q_boilerplate (without the planted
    // header); the ban set is the %20 subset's segments, matched on text
    "q_decontaminate" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS l " +
        "FROM documents), " +
        "seg AS (SELECT doc_id, u.pos AS pos, u.seg AS seg FROM (" +
        "SELECT doc_id, unnest(list_transform(range(0, (len(l)+7)//8), " +
        "i -> {'pos': i, 'seg': array_to_string(" +
        "l[(i*8+1):(i*8+8)], ' ')})) AS u FROM t)), " +
        "ban AS (SELECT DISTINCT seg FROM seg WHERE doc_id % 20 = 0), " +
        "j AS (SELECT s.doc_id, s.pos, s.seg, " +
        "b.seg IS NOT NULL AS banned FROM seg s " +
        "LEFT JOIN ban b ON b.seg = s.seg) " +
        "SELECT doc_id, count(*) AS n_segs, " +
        "CAST(sum(CASE WHEN banned THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_dropped, " +
        "coalesce(array_to_string(list_transform(list_sort(" +
        "list({'pos': pos, 'seg': seg}) FILTER (WHERE NOT banned)), " +
        "x -> x.seg), ' '), '') AS clean_text " +
        "FROM j GROUP BY doc_id"),
    // digests never leave SQL either: the diff is a full outer join of
    // two sha256 projections, statuses derived identically
    "q_corpus_diff" ->
      ("WITH prev AS (SELECT doc_id, 1 AS in_p, " +
        "sha256(lower(text)) AS dg FROM documents), " +
        "curr AS (SELECT doc_id, 1 AS in_c, " +
        "sha256(lower(CASE WHEN doc_id % 5 = 1 " +
        "THEN 'v2 ' || text ELSE text END)) AS dg FROM documents " +
        "WHERE doc_id % 5 != 3 " +
        "UNION ALL SELECT doc_id + 1000000, 1, sha256(lower(text)) " +
        "FROM documents WHERE doc_id % 5 = 0) " +
        // presence via MARKER columns, never join-key nullity (the
        // engine's own rule: a NULL doc_id row on one side would read
        // as 'added'/'removed' through p.doc_id IS NULL even though the
        // side CONTAINS it); digest comparison stays null-safe
        "SELECT coalesce(p.doc_id, c.doc_id) AS doc_id, " +
        "CASE WHEN p.in_p IS NULL THEN 'added' " +
        "WHEN c.in_c IS NULL THEN 'removed' " +
        "WHEN p.dg IS NOT DISTINCT FROM c.dg THEN 'unchanged' " +
        "ELSE 'modified' END AS status " +
        "FROM prev p FULL OUTER JOIN curr c ON p.doc_id = c.doc_id"),
    "q_heavy_hitters" -> duckCmSql,
    // the oracle never sees the JSONL — it aggregates the parquet, so a
    // lossy round-trip (escaping, unicode, nulls) hash-mismatches
    "q_jsonl_roundtrip" ->
      ("SELECT source, count(*) AS n_docs, " +
        "CAST(sum(doc_id) AS BIGINT) AS sum_id, " +
        "CAST(sum(length(text)) AS BIGINT) AS sum_chars " +
        "FROM documents GROUP BY source"),
    // same planted increment, same window-min first-occurrence, same
    // NOT-IN-digests anti join (sha256 hex parity proven by q_dedup_hash)
    "q_incremental_dedup" -> duckIncrementalDedupSql,
    // identical fixture and output contract — the persisted-index path
    // must be row-identical to the recompute, so it shares the oracle
    // verbatim (a lossy digest-store round-trip hash-mismatches here)
    "q_incremental_dedup_prod" -> duckIncrementalDedupSql,
    // the same canonical string renderings, unpivoted via UNION ALL
    "q_profile" ->
      ("WITH p AS (" +
        "SELECT 'doc_id' AS col_name, CAST(doc_id AS VARCHAR) AS value " +
        "FROM documents " +
        "UNION ALL SELECT 'lang', lang FROM documents " +
        "UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) " +
        "FROM documents " +
        "UNION ALL SELECT 'source', source FROM documents " +
        "UNION ALL SELECT 'text', text FROM documents), " +
        "a AS (SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_nulls, " +
        "CAST(count(DISTINCT value) AS BIGINT) AS n_distinct, " +
        "min(value) AS min_value, max(value) AS max_value " +
        "FROM p GROUP BY col_name) " +
        // empty-input lockstep with the engine: every profiled column
        // keeps a (col, 0, 0, 0, null, null) row
        "SELECT n.col_name, coalesce(a.n_rows, 0) AS n_rows, " +
        "coalesce(a.n_nulls, 0) AS n_nulls, " +
        "coalesce(a.n_distinct, 0) AS n_distinct, " +
        "a.min_value, a.max_value FROM (VALUES ('doc_id'), ('lang'), " +
        "('n_chars'), ('source'), ('text')) n(col_name) " +
        "LEFT JOIN a USING (col_name)"),
    "q_manifest" ->
      ("SELECT source, count(*) AS n_docs, " +
        "CAST(sum(length(text)) AS BIGINT) AS n_chars_total, " +
        "min(doc_id) AS min_id, max(doc_id) AS max_id, " +
        "CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(string_split(text, ''), " +
        "ch -> CAST(ord(ch) AS BIGINT))), " +
        "(acc, x) -> (acc * 31 + x) % 1000000007)) AS BIGINT) " +
        "AS checksum_sum FROM documents GROUP BY source"),
    // gate → digest dedup → packing, restated as one chained query (the
    // gate stage reuses TextOps' oracle SQL verbatim)
    "q_pipeline_full" ->
      (s"WITH g AS (SELECT doc_id FROM (${graft.queries.TextOps
          .oracle("q_doc_gate")}) WHERE kept), " +
        "s0 AS (SELECT d.doc_id, d.text FROM documents d " +
        "JOIN g USING (doc_id)), " +
        // NULL digests pass through (engine firstPerDigest r13 semantics)
        "k AS (SELECT doc_id FROM (SELECT doc_id, sha256(lower(text)) " +
        "AS dig, min(doc_id) OVER (" +
        "PARTITION BY sha256(lower(text))) AS keep FROM s0) " +
        "WHERE dig IS NULL OR doc_id = keep), " +
        "s AS (SELECT d.doc_id, d.text FROM documents d " +
        "JOIN k USING (doc_id)), " +
        "d2 AS (SELECT doc_id, " +
        "CAST(coalesce(len(string_split(text, ' ')), 0) " +
        s"AS BIGINT) AS n_tokens, ${pHash("doc_id")} AS h FROM s), " +
        "o AS (SELECT doc_id, n_tokens, CAST(sum(n_tokens) OVER (" +
        "ORDER BY h % 32, h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND CURRENT ROW) AS BIGINT) - n_tokens AS global_start FROM d2) " +
        "SELECT doc_id, n_tokens, global_start, " +
        "global_start // 2048 AS bin, global_start % 2048 AS bin_offset " +
        "FROM o"),
    // the oracle computes the same (shard, hash, doc_id)-ordered prefix
    // sum as ONE window — single-node SQL can afford what the engine
    // decomposes into parallel per-shard sums + broadcast shard bases
    "q_packing" ->
      (s"WITH d AS (SELECT doc_id, " +
        "CAST(coalesce(len(string_split(text, ' ')), 0) " +
        s"AS BIGINT) AS n_tokens, ${pHash("doc_id")} AS h FROM documents), " +
        "o AS (SELECT doc_id, n_tokens, CAST(sum(n_tokens) OVER (" +
        "ORDER BY h % 32, h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND CURRENT ROW) AS BIGINT) - n_tokens AS global_start FROM d) " +
        "SELECT doc_id, n_tokens, global_start, " +
        "global_start // 2048 AS bin, global_start % 2048 AS bin_offset " +
        "FROM o"),
    "q_postings" ->
      ("WITH tok AS (SELECT doc_id, unnest(list_distinct(" +
        "string_split(text, ' '))) AS token FROM documents), " +
        "p AS (SELECT token, doc_id, row_number() OVER (" +
        "PARTITION BY token ORDER BY doc_id) AS rk FROM tok) " +
        "SELECT token, CAST(count(*) AS BIGINT) AS df, " +
        "array_to_string(list_sort(list(doc_id) FILTER (WHERE rk <= 20)), " +
        "',') AS postings_csv FROM p GROUP BY token"),
    "q_quantile_by_lang" ->
      ("WITH hist AS (SELECT lang, (n_chars - ((n_chars % 64) + 64) " +
        "% 64) // 64 AS bin, count(*) AS cnt FROM documents " +
        "GROUP BY 1, 2), " +
        "c AS (SELECT lang, bin, CAST(sum(cnt) OVER (PARTITION BY lang " +
        "ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS BIGINT) AS cum, CAST(sum(cnt) OVER (PARTITION BY lang) " +
        "AS BIGINT) AS n_total FROM hist) " +
        "SELECT lang, CAST(q AS BIGINT) AS q, min(bin) AS bin, " +
        "min(bin) * 64 AS value_lo " +
        "FROM c, (VALUES (50), (90), (99)) AS qs(q) " +
        "WHERE cum * 100 >= n_total * q GROUP BY lang, q"),
    "q_ntile_gate_sketch" ->
      ("WITH hist AS (SELECT lang, (n_chars - ((n_chars % 64) + 64) " +
        "% 64) // 64 AS bin, count(*) AS cnt FROM documents " +
        "GROUP BY 1, 2), " +
        "c AS (SELECT lang, bin, CAST(sum(cnt) OVER (PARTITION BY lang " +
        "ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS BIGINT) AS cum, CAST(sum(cnt) OVER (PARTITION BY lang) " +
        "AS BIGINT) AS n_total FROM hist), " +
        "th AS (SELECT lang, min(bin) * 64 AS th FROM c " +
        "WHERE cum * 100 >= n_total * 75 GROUP BY lang) " +
        // null-safe group join — the engine's <=> keeps NULL-lang docs
        // gated against their own group's threshold
        "SELECT d.doc_id, d.lang, d.n_chars FROM documents d " +
        "JOIN th ON d.lang IS NOT DISTINCT FROM th.lang " +
        "WHERE d.n_chars >= th.th"),
    // every stage restated: BETWEEN gate, sha256 window-min dedup,
    // polynomial-hash split, rollup — one recipe, two engines
    "q_curation" ->
      ("WITH gated AS (SELECT doc_id, lang, sha256(lower(text)) AS dig " +
        "FROM documents WHERE n_chars BETWEEN 100 AND 400), " +
        // NULL digests pass through (engine firstPerDigest r13 semantics)
        "kept AS (SELECT doc_id, lang FROM (SELECT doc_id, lang, dig, " +
        "min(doc_id) OVER (PARTITION BY dig) AS keep FROM gated) " +
        "WHERE dig IS NULL OR doc_id = keep) " +
        "SELECT split, lang, count(*) AS n_docs, " +
        "CAST(sum(doc_id) AS BIGINT) AS sum_id FROM (" +
        "SELECT lang, doc_id, CASE WHEN b < 80 THEN 'train' " +
        "WHEN b < 90 THEN 'valid' ELSE 'test' END AS split FROM (" +
        s"SELECT lang, doc_id, ${pHash("doc_id")} % 100 AS b " +
        "FROM kept)) GROUP BY split, lang"),
    "q_stratified_sample" ->
      (s"SELECT doc_id, lang FROM documents WHERE ${pHash("doc_id")} " +
        "% 100 < CASE WHEN lang = 'en' THEN 40 ELSE 80 END"),
    // identical expression shapes as Sampling.temperatureMix — same pow,
    // same multiply/divide order — so the only cross-engine float hazard
    // is a last-ulp libm difference landing a rate·10⁶ within ~1e-10 of
    // an integer hash bucket (probability ≈ |docs|·1e-13; accepted, same
    // class as the ANN round(·,6) oracles)
    "q_temperature_mix" ->
      ("WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS c " +
        "FROM documents GROUP BY source), " +
        "w AS (SELECT source, c, pow(CAST(c AS DOUBLE), 0.5) AS w FROM c), " +
        "t AS (SELECT sum(w) AS wsum FROM w), " +
        "r AS (SELECT source, least(CAST(1 AS DOUBLE), " +
        "CAST(300 AS DOUBLE) * w / (wsum * CAST(c AS DOUBLE))) AS rate " +
        "FROM w CROSS JOIN t) " +
        "SELECT d.doc_id, d.source FROM documents d " +
        "JOIN r ON d.source IS NOT DISTINCT FROM r.source " +
        s"WHERE CAST(${pHash("'tmix:' || d.doc_id")} * 2654435761 " +
        "% 1000000 AS DOUBLE) < rate * CAST(1000000 AS DOUBLE)"),
    // same expression shapes as Sampling.mixPlan (pow, multiply/divide
    // order); the floor sits at least ~1e-7 relative distance from any
    // boundary on these counts — same accepted class as q_temperature_mix
    "q_mix_plan" ->
      ("WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(coalesce(len(string_split(text, ' ')), 0)) AS BIGINT) " +
        "AS n_tokens FROM documents GROUP BY source), " +
        "w AS (SELECT source, n_docs, n_tokens, " +
        "pow(CAST(n_tokens AS DOUBLE), 0.5) AS w FROM c), " +
        "t AS (SELECT sum(w) AS wsum FROM w) " +
        "SELECT source, n_docs, n_tokens, " +
        "CAST(floor(CAST(100000 AS DOUBLE) * w * 1000.0 / " +
        "(wsum * CAST(n_tokens AS DOUBLE))) AS BIGINT) AS epochs_x1000 " +
        "FROM w CROSS JOIN t"),
    // the plan re-derived as above, then materialized with the identical
    // ⌊e⌋ + hash-Bernoulli(e mod 1000) copy rule
    "q_materialize_mix" -> duckMaterializeMixSql,
    // the same mixture, then the identical decorrelated hash →
    // (shard, row_number) order restated over it
    "q_training_order" ->
      (s"WITH m AS ($duckMaterializeMixSql), " +
        s"h AS (SELECT doc_id, source, copy, " +
        s"${pHash("'ord:' || doc_id || ':' || copy")} * 2654435761 " +
        "% 1000000007 AS h FROM m) " +
        "SELECT doc_id, source, copy, CAST(h % 16 AS INT) AS shard, " +
        "CAST(row_number() OVER (PARTITION BY h % 16 " +
        "ORDER BY h, doc_id, copy) - 1 AS BIGINT) AS pos FROM h"),
    "q_source_quota" ->
      ("SELECT doc_id, source FROM (SELECT doc_id, source, " +
        s"row_number() OVER (PARTITION BY source ORDER BY " +
        s"${pHash("doc_id")}, doc_id) AS rk FROM documents) WHERE rk <= 10"),
    // the identical register construction: bucket = h mod 64, ρ from the
    // binary length of the remaining 25 bits, harmonic sum as an exact
    // 2²⁶-scaled integer — estimator drift is impossible by construction
    // r14 lockstep with the engine's NULL posture: NULL keys carry no
    // register, NULL groups are groups (null-safe left join), a group
    // with no register file estimates 0
    "q_hll_by_segment" ->
      (s"WITH h AS (SELECT event_type, (${pHash("user_id")} " +
        "* 1103515245 + 12345) % 2147483647 AS h FROM events " +
        "WHERE user_id IS NOT NULL), " +
        "r AS (SELECT event_type, h % 64 AS b, " +
        "CASE WHEN h // 64 = 0 THEN 26 " +
        "ELSE 26 - length(bin(h // 64)) END AS rho FROM h), " +
        "regs AS (SELECT event_type, b, max(rho) AS r FROM r " +
        "GROUP BY event_type, b), " +
        "agg AS (SELECT event_type, " +
        "CAST(sum(1::BIGINT << CAST(26 - r AS INTEGER)) AS BIGINT) " +
        "AS s_present, count(*) AS n_regs FROM regs GROUP BY event_type), " +
        "ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact " +
        "FROM events GROUP BY event_type) " +
        "SELECT ex.event_type, n_exact, " +
        "coalesce(CAST((709 * 64 * 64 * (1::BIGINT << 26)) // " +
        "(s_present + (64 - n_regs) * (1::BIGINT << 26)) AS BIGINT), " +
        "CAST(0 AS BIGINT)) AS hll_est_x1000 FROM ex LEFT JOIN agg " +
        "ON ex.event_type IS NOT DISTINCT FROM agg.event_type"),
    // per-segment register files merged by per-bucket max, estimated with
    // the same exact-rational arithmetic — and the direct single-pass
    // sketch alongside; DuckDB re-derives BOTH, so the merge≡direct
    // union property is cross-engine-checked, not just spec-asserted
    "q_hll_merge" ->
      (s"WITH h AS (SELECT event_type, (${pHash("user_id")} " +
        "* 1103515245 + 12345) % 2147483647 AS h FROM events " +
        "WHERE user_id IS NOT NULL), " +
        "r AS (SELECT event_type, h % 64 AS b, " +
        "CASE WHEN h // 64 = 0 THEN 26 " +
        "ELSE 26 - length(bin(h // 64)) END AS rho FROM h), " +
        "seg AS (SELECT event_type, b, max(rho) AS r FROM r " +
        "GROUP BY event_type, b), " +
        "mreg AS (SELECT b, max(r) AS r FROM seg GROUP BY b), " +
        "dreg AS (SELECT b, max(rho) AS r FROM r GROUP BY b), " +
        "ma AS (SELECT coalesce(CAST(sum(1::BIGINT << " +
        "CAST(26 - r AS INTEGER)) AS BIGINT), CAST(0 AS BIGINT)) " +
        "AS s_present, count(*) AS n_regs FROM mreg), " +
        "da AS (SELECT coalesce(CAST(sum(1::BIGINT << " +
        "CAST(26 - r AS INTEGER)) AS BIGINT), CAST(0 AS BIGINT)) " +
        "AS s_present, count(*) AS n_regs FROM dreg) " +
        "SELECT (SELECT count(DISTINCT user_id) FROM events) AS n_exact, " +
        "CAST((709 * 64 * 64 * (1::BIGINT << 26)) // " +
        "(ma.s_present + (64 - ma.n_regs) * (1::BIGINT << 26)) " +
        "AS BIGINT) AS merged_est_x1000, " +
        "CAST((709 * 64 * 64 * (1::BIGINT << 26)) // " +
        "(da.s_present + (64 - da.n_regs) * (1::BIGINT << 26)) " +
        "AS BIGINT) AS direct_est_x1000 FROM ma, da"),
    "q_hll_distinct" ->
      (s"WITH h AS (SELECT (${pHash("o_custkey")} * 1103515245 + 12345) " +
        "% 2147483647 AS h FROM orders WHERE o_custkey IS NOT NULL), " +
        "r AS (SELECT h % 64 AS b, CASE WHEN h // 64 = 0 THEN 26 " +
        "ELSE 26 - length(bin(h // 64)) END AS rho FROM h), " +
        "regs AS (SELECT b, max(rho) AS r FROM r GROUP BY b), " +
        "agg AS (SELECT coalesce(CAST(sum(1::BIGINT << " +
        "CAST(26 - r AS INTEGER)) AS BIGINT), CAST(0 AS BIGINT)) " +
        "AS s_present, count(*) AS n_regs FROM regs) " +
        "SELECT (SELECT count(DISTINCT o_custkey) FROM orders) AS n_exact, " +
        "CAST((709 * 64 * 64 * (1::BIGINT << 26)) // " +
        "(s_present + (64 - n_regs) * (1::BIGINT << 26)) AS BIGINT) " +
        "AS hll_est_x1000 FROM agg"),
    "q_quantile_hist" ->
      ("WITH hist AS (SELECT (n_chars - ((n_chars % 64) + 64) % 64) " +
        "// 64 AS bin, count(*) AS cnt FROM documents GROUP BY 1), " +
        "c AS (SELECT bin, CAST(sum(cnt) OVER (ORDER BY bin " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) " +
        "AS cum, CAST(sum(cnt) OVER () AS BIGINT) AS n_total FROM hist) " +
        "SELECT CAST(q AS BIGINT) AS q, min(bin) AS bin, " +
        "min(bin) * 64 AS value_lo " +
        "FROM c, (VALUES (50), (90), (99)) AS qs(q) " +
        "WHERE cum * 100 >= n_total * q GROUP BY q"),
    // same segmentation (1-based 8-wide slices), same first-occurrence
    // rule, same ordered reassembly; FILTERed list() is NULL when a doc
    // keeps nothing — coalesced to match Spark's empty concat_ws
    "q_seg_dedup" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS l " +
        "FROM documents), " +
        "seg AS (SELECT doc_id, u.pos AS pos, u.seg AS seg FROM (" +
        "SELECT doc_id, unnest(list_transform(range(0, (len(l)+7)//8), " +
        "i -> {'pos': i, 'seg': array_to_string(" +
        "l[(i*8+1):(i*8+8)], ' ')})) AS u FROM t)), " +
        "rk AS (SELECT doc_id, pos, seg, row_number() OVER (" +
        "PARTITION BY seg ORDER BY doc_id, pos) AS rn FROM seg) " +
        "SELECT doc_id, count(*) AS n_segs, " +
        "CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_kept, " +
        "coalesce(array_to_string(list_transform(list_sort(" +
        "list({'pos': pos, 'seg': seg}) FILTER (WHERE rn = 1)), " +
        "x -> x.seg), ' '), '') AS dedup_text " +
        "FROM rk GROUP BY doc_id"),
    // the sliding-window dual of q_seg_dedup: same first-occurrence keep
    // rule (row_number replay of Spark's min(struct)), but windows at
    // every position and duplicate ranges unioned via a ×8 offset
    // cross-join before the token-level anti-flagging
    "q_dup_spans" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS l " +
        "FROM documents), " +
        "occ AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM (" +
        "SELECT doc_id, unnest(list_transform(" +
        "range(0, greatest(len(l) - 7, 0)), " +
        s"i -> {'pos': i, 'h': ${OracleSql.pHash2(
          "array_to_string(l[(i+1):(i+8)], ' ')")}})) AS u FROM t)), " +
        "rk AS (SELECT doc_id, pos, row_number() OVER (" +
        "PARTITION BY h ORDER BY doc_id, pos) AS rn FROM occ), " +
        "cov AS (SELECT DISTINCT doc_id, pos + off AS tokpos FROM rk " +
        "CROSS JOIN (SELECT unnest(range(0, 8)) AS off) WHERE rn > 1), " +
        "tok AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (" +
        "SELECT doc_id, unnest(list_transform(range(0, len(l)), " +
        "i -> {'pos': i, 'tok': l[i+1]})) AS u FROM t)), " +
        "f AS (SELECT tok.doc_id AS doc_id, tok.pos AS pos, " +
        "tok.tok AS tok, cov.tokpos AS tokpos FROM tok LEFT JOIN cov " +
        "ON tok.doc_id = cov.doc_id AND tok.pos = cov.tokpos) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, " +
        "CAST(sum(CASE WHEN tokpos IS NOT NULL THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_dup_tokens, " +
        "coalesce(array_to_string(list_transform(list_sort(" +
        "list({'pos': pos, 'tok': tok}) FILTER (WHERE tokpos IS NULL)), " +
        "x -> x.tok), ' '), '') AS clean_text " +
        "FROM f GROUP BY doc_id"),
    // batch = doc_id % 5 = 0, bank = distinct window hashes of the rest;
    // coverage = batch windows found in the bank, exploded x8
    "q_span_screen" -> duckSpanScreenSql,
    // identical fixture and output — the persisted-bank path must be
    // row-identical to the inline bank, so it shares the oracle
    // verbatim (a lossy bank round-trip hash-mismatches here)
    "q_span_screen_prod" -> duckSpanScreenSql,
    "q_freq_score" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) " +
        "AS token FROM documents), " +
        "v AS (SELECT token, count(*) AS freq FROM tok GROUP BY token) " +
        "SELECT doc_id, count(*) AS n_tokens, " +
        "CAST(sum(freq) AS BIGINT) AS sum_freq, " +
        "CAST(sum(freq) AS BIGINT) // count(*) AS mean_freq " +
        "FROM tok JOIN v USING (token) GROUP BY doc_id"),
  )
}
