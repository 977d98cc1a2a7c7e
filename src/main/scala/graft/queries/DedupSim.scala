package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Dedup, Similarity}

/** SparkEntry surface for the dedup + similarity-search operators.
  *
  * Near-dup queries union the corpus with deterministically MUTATED copies
  * (offset ids) so the operators demonstrably find true positives on the
  * synthetic data (which contains no natural near-duplicates — documents
  * are unique and embeddings are isotropic noise).
  */
object DedupSim {

  /** documents ∪ near-dup copies: id + 1_000_000, first token dropped.
    * (private[graft]: the benchmark harness in perfbench/harness times
    * the q_dedup_eval layers over it.) */
  private[graft] def docsWithMutants(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
    docs.union(docs.select(col("doc_id") + 1000000L,
      regexp_replace(col("text"), "^[^ ]* ", "")))
  }

  /** embeddings ∪ near-identical copies: id + 1_000_000, first component
    * scaled ×1.2 (cosine vs original ≈ 0.99+). */
  private def embsWithMutants(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
    e.union(e.select(col("vec_id") + 1000000L,
      transform(col("embedding"),
        (x, i) => when(i === 0, x * 1.2f).otherwise(x))))
  }

  def exactDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables(s, dir).documents)

  /** Digest-keyed exact dedup — the 100 TB shuffle shape. */
  def exactDedupHash(s: SparkSession, dir: String): DataFrame =
    Dedup.exactByDigest(Tables(s, dir).documents)

  /** Pairwise Jaccard baseline, blocked on (source, lang) — blocking
    * granularity is the scale knob for the quadratic baseline; the LSH
    * pipeline below is the unblocked scale path. */
  def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(
      Tables(s, dir).documents
        .withColumn("blk", concat_ws("|", col("source"), col("lang"))),
      "blk", n = 1, numer = 3, denom = 4)

  /** Asymmetric containment pairs over the same (source, lang) blocking
    * — quote/excerpt duplication the symmetric Jaccard baseline misses. */
  def containmentPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(
      Tables(s, dir).documents
        .withColumn("blk", concat_ws("|", col("source"), col("lang"))),
      "blk", n = 1, numer = 9, denom = 10)

  def minhashSigs(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashSignatures(Tables(s, dir).documents)
      .select(col("doc_id"), concat_ws(",", col("sig")).as("sig_csv"))

  // The near-dup pair relation feeds two queries (the pair listing and
  // the component clustering) — share one staged instance per session,
  // the same shared-lineage pattern as OsmQueries.pipe. SessionScoped:
  // materialization runs outside the map lock; entries evict with the
  // session (see ops.SessionScoped).
  private val pairCache = new graft.ops.SessionScoped[DataFrame]
  private def mutantPairs(s: SparkSession, dir: String): DataFrame =
    pairCache.getOrCompute(s, dir)(
      graft.ops.Stage.barrier(
        Dedup.minhashDedupPairs(docsWithMutants(s, dir))))

  def minhashNearDups(s: SparkSession, dir: String): DataFrame =
    mutantPairs(s, dir)

  /** Triangle / clustering-coefficient audit of the near-dup pair graph
    * (reuses the session's staged pair relation): coefficients near
    * 1000 = coherent duplicate cliques; low = chain-shaped clusters
    * whose transitive closure risks over-merging. */
  def dedupTriangles(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.triangleStats(mutantPairs(s, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b")))

  /** Per-source near-dup incidence over the corpus plus the mutant batch
    * labeled as its own 'recrawl' source: every base↔mutant match is
    * then CROSS-source, so both audit columns are exercised. Reuses the
    * session's staged pair relation. */
  def dupRateBySource(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir).documents
    // only every third doc was "recrawled": the meta projection admits a
    // third of the mutant ids, and the inner joins inside nearDupRateBy
    // drop pair rows whose partner is absent — the staged pair relation
    // is reused untouched while the profile shows partial duplication
    // (~1/3 per real source, 100% inside the recrawl batch)
    val meta = d.select(col("doc_id"), col("source"))
      .union(d.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          lit("recrawl").as("source")))
    Dedup.nearDupRateBy(meta, mutantPairs(s, dir), "source")
  }

  // the clustering result likewise feeds two queries (the component map
  // and the keep-set) — one staged instance per session
  private val componentCache = new graft.ops.SessionScoped[DataFrame]

  /** Near-dup pairs → canonical clusters (keep min doc per component). */
  def dedupComponents(s: SparkSession, dir: String): DataFrame =
    componentCache.getOrCompute(s, dir)(
      graft.ops.Stage.barrier(Dedup.components(mutantPairs(s, dir),
        // minhashDedupPairs emits each pair once, doc_a < doc_b
        // (first-matching-band structural dedup, spec-pinned)
        assumeCanonical = true)))

  /** The cleaned corpus: drop every non-canonical cluster member (keep a
    * doc iff it is its component's min — untouched docs have no component
    * row and survive). Pairs → clusters → keep-set: the full near-dup
    * dedup arc ending in an anti join on the drop list. */
  def dedupKeep(s: SparkSession, dir: String): DataFrame = {
    val drop = dedupComponents(s, dir)
      .filter(col("doc_id") =!= col("component"))
      .select(col("doc_id"))
    docsWithMutants(s, dir)
      .join(drop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
  }

  /** Quality-ranked canonical selection: within each near-dup component,
    * keep the copy with the highest integer quality score
    * (mean_tok_len_x100 — the mutants drop a token, so winner choice is
    * content-driven, not id-driven). Untouched docs map to themselves.
    * Shares the staged component labels with q_dedup_components. */
  def dedupCanonical(s: SparkSession, dir: String): DataFrame = {
    val scores = graft.ops.TextAnalysis.qualityScore(docsWithMutants(s, dir))
      .select(col("doc_id"), col("mean_tok_len_x100").as("score"))
    val canon = Dedup.canonicalByScore(dedupComponents(s, dir), scores)
    docsWithMutants(s, dir).select(col("doc_id"))
      .join(canon, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("canonical_id"), col("doc_id")).as("canonical_id"))
  }

  def simhashes(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashes(Tables(s, dir).documents)

  def simhashNearDups(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDupPairs(docsWithMutants(s, dir))

  /** Dense-corpus cluster map: every doc → smallest doc_id of its
    * transitive simhash near-dup cluster, O(docs) output (the pair list
    * stays transient — see Dedup.simhashCanonical). */
  def simhashCanonical(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashCanonical(docsWithMutants(s, dir))

  /** Leakage-safe split sizes over the mutant corpus: the cluster-keyed
    * split ([[graft.ops.Sampling.leakageSafeSplits]]) aggregated per
    * split — docs and distinct near-dup clusters per bucket. */
  def splitSafe(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.leakageSafeSplits(docsWithMutants(s, dir))
      .groupBy(col("split"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        countDistinct(col("canonical_id")).cast("long").as("n_clusters"))

  /** Split-leakage audit on the mutant corpus: verified near-dup pairs
    * straddling split boundaries under the naive per-doc hash split vs
    * the cluster-keyed safe split (which must measure 0). */
  def splitLeakage(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.splitLeakage(docsWithMutants(s, dir))

  /** The PRODUCTION split shape in the suite: the dedup stage's cluster
    * map is materialized ONCE per (session, dir) as a doc_id-bucketed
    * external table ([[graft.sources.PartitionedStore.writeBucketed]] —
    * the dedup deliverable a 100 TB pipeline publishes anyway), and the
    * split RE-READS it: [[graft.ops.Sampling.leakageSafeSplitsFrom]]
    * over the bucketed scan, aggregated exactly like [[splitSafe]].
    * Identical result to q_split_safe (same oracle); the suite cost is
    * the ~0.6 s map-read + rollup instead of ~11 s of re-clustering
    * (BENCH_NOTES r14) — q_split_safe stays as the
    * recompute diagnostic. Rep 1 pays the map write (SessionScoped —
    * rebuilt on release, the bench's documented first-touch pattern). */
  private val splitMapTable = new graft.ops.SessionScoped[String]
  def splitSafeProd(s: SparkSession, dir: String): DataFrame = {
    val tbl = splitMapTable.getOrCompute(s, dir) {
      val (t, path) =
        graft.sources.PartitionedStore.storeNames("splitmap", dir)
      graft.sources.PartitionedStore.writeBucketed(
        Dedup.simhashCanonical(docsWithMutants(s, dir)), t,
        path, "doc_id", 32, Seq("doc_id"))
      t
    }
    graft.ops.Sampling.leakageSafeSplitsFrom(s.table(tbl))
      .groupBy(col("split"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        countDistinct(col("canonical_id")).cast("long").as("n_clusters"))
  }

  /** The FULL curation chain ([[graft.ops.Curation.curationChain]]) over
    * the mutant corpus (sources carried through the mutants): gate →
    * digest dedup → canonical collapse (the cluster map reused for the
    * split) → segment decontamination against the `doc_id % 20 = 0` eval
    * slice → leakage-safe train split → temperature mix (α=0.5, target
    * 300) → packing → per-source manifest. The oracle restates the WHOLE
    * chain in one DuckDB query, so the COMPOSITION — not just the stages
    * — is cross-engine verified. */
  def curationChain(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir).documents
    val docs = d.select(col("doc_id"), col("source"), col("text"))
      .union(d.select((col("doc_id") + 1000000L).as("doc_id"),
        col("source"),
        regexp_replace(col("text"), "^[^ ]* ", "").as("text")))
    val evalDocs = d.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id"), col("text"))
    graft.ops.Curation.curationChain(docs, evalDocs, targetRows = 300L)
  }

  /** SimHash (hamming ≤ 6) evaluated against the MinHash-verified
    * (jaccard ≥ 0.7) pair set on the same mutant corpus — how well the
    * cheap bit signature tracks set-overlap truth. */
  def dedupEval(s: SparkSession, dir: String): DataFrame =
    Dedup.pairMetrics(
      found = Dedup.simhashNearDupPairs(docsWithMutants(s, dir)),
      truth = mutantPairs(s, dir),
      // both producers emit (doc_a < doc_b) exactly once (structural
      // first-clean-block / first-matching-band dedup, spec-pinned) —
      // skip pairMetrics' contract-enforcing distinct over the two
      // multi-million-row pair relations
      assumeCanonical = true)

  def knnBrute(s: SparkSession, dir: String): DataFrame =
    Similarity.knnBrute(Tables(s, dir).embeddings, nQueries = 10, k = 5)

  def knnLsh(s: SparkSession, dir: String): DataFrame =
    Similarity.knnLsh(Tables(s, dir).embeddings, nQueries = 10, k = 5)

  // Trained centroids are memoized per (session, dir) and used by BOTH the
  // Spark query and the generated DuckDB oracle (rendered as SQL literals
  // after the query ran — Verify dumps oracle_sql.json last), so the two
  // engines share the exact same quantizer doubles regardless of any
  // nondeterminism in the distributed mean. Decimal rendering round-trips
  // (shortest-repr Double.toString → nearest-double parse).
  private val centroidCache =
    new graft.ops.SessionScoped[Seq[(Int, Seq[Double])]]
  private def trainedCentroids(s: SparkSession, dir: String)
      : Seq[(Int, Seq[Double])] =
    centroidCache.getOrCompute(s, dir)(
      graft.ops.Ivf.trainCentroids(Tables(s, dir).embeddings, nlist = 16,
        iters = 1))

  def knnIvf(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ivf.knnIvfWith(Tables(s, dir).embeddings,
      trainedCentroids(s, dir), nQueries = 10, k = 5, nprobe = 4)

  def knnIvfStatic(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ivf.knnIvfStatic(Tables(s, dir).embeddings, nQueries = 10,
      k = 5)

  // the persisted IVF index is built once per (session, dir) — reps
  // re-probe the store, as production would
  private val ivfIndexTable = new graft.ops.SessionScoped[String]

  /** q_knn_ivf_static's probe served from the PERSISTED IVF index
    * ([[graft.ops.Ivf.buildIvfIndex]]) — the vector store lifecycle:
    * the index is built from the EVEN vec_ids and the odd half
    * APPENDED ([[graft.ops.Ivf.appendIvfIndex]], quantizer derived
    * from the stamp), then probed with the same 10 queries. Output is
    * row-identical to q_knn_ivf_static and shares its DuckDB oracle
    * VERBATIM — which certifies build + append + stamped-quantizer
    * parity cross-engine. The probe reads only the probed lists'
    * bucket files (prunedBucketScan) with a broadcast probe join —
    * the candidate-proportional 100 TB shape, vs the in-memory
    * variant's per-plan corpus re-assignment. */
  def knnIvfProd(s: SparkSession, dir: String): DataFrame = {
    val embs = Tables(s, dir).embeddings
    val t = ivfIndexTable.getOrCompute(s, dir) {
      val (tbl, path) =
        graft.sources.PartitionedStore.storeNames("ivf_idx", dir)
      graft.ops.Ivf.buildIvfIndex(
        embs.filter(col("vec_id") % 2 === 0), tbl, path)
      graft.ops.Ivf.appendIvfIndex(
        embs.filter(col("vec_id") % 2 =!= 0), tbl)
      tbl
    }
    graft.ops.Ivf.knnIvfFrom(s, t, embs.filter(col("vec_id") < 10),
      k = 5)
  }

  /** 12 bits/table (4096 buckets): for ~10k isotropic vectors this keeps
    * random bucket collisions ~16× rarer than the 8-bit default while
    * near-identical pairs (cosine ≥ .99) still collide in ≥1 of 4 tables
    * w.p. ~.97 — candidate volume, not the exact verify, is the cost. */
  def embedNearDups(s: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairs(embsWithMutants(s, dir), minCosine = 0.95,
      bitsPerTable = 12)

  /** Semantic dedup over the mutant embedding corpus: IVF-cell blocking
    * (the 16 static centroids knnIvfStatic uses), greedy smallest-id keep
    * at cosine ≥ 0.9 — every mutant (cosine ≈ 0.99 to its source, same
    * Voronoi cell) is dropped; isotropic noise pairs survive. */
  def semanticDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(embsWithMutants(s, dir),
      graft.ops.Ivf.staticCentroids(nlist = 16, dim = 64), minCosine = 0.9)

  /** Near-dup INCREMENTAL ingestion screen: the corpus is `documents`;
    * the batch is a synthetic recrawl — even source ids arrive as
    * lightly-edited copies (first token dropped: near-dup, caught by the
    * LSH screen despite a new digest), odd ids as genuinely new text
    * (vowels digit-substituted: no shingle overlap, kept). */
  def incrementalNearDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
    Dedup.incrementalNearDedup(recrawlBatch(docs), docs)
  }

  /** The incremental screens' shared fixture batch: every doc re-arrives
    * under a fresh id — even ids lightly edited (first token dropped:
    * near-dup), odd ids genuinely new (vowels digit-substituted). ONE
    * definition (like [[landingBatch]]): q_incremental_neardup and
    * q_incremental_neardup_prod share one oracle on the premise their
    * fixtures are identical, and NearDupIndexSpec pins prod == inline
    * over the same rows. */
  private[graft] def recrawlBatch(docs: DataFrame): DataFrame =
    docs.select((col("doc_id") + 1000000L).as("doc_id"),
      when(col("doc_id") % 2 === 0,
          regexp_replace(col("text"), "^[^ ]* ", ""))
        .otherwise(translate(col("text"), "aeiou", "01234")).as("text"))

  // the persisted near-dup index (band + shingle tables), built once per
  // (session, dir) like the digest store
  private val nearDupIndexTables =
    new graft.ops.SessionScoped[(String, String)]

  /** [[incrementalNearDedup]]'s batch↔corpus screen against the
    * PERSISTED index ([[graft.ops.Dedup.buildNearDupIndex]]): identical
    * fixture and output to q_incremental_neardup — same oracle SQL —
    * but the corpus side is two bucketed external tables read in place
    * (band probe + shingle verification), the steady-state shape where
    * the index is an append-per-increment deliverable and the corpus
    * chain is never re-derived per batch. NearDupIndexSpec plan-asserts
    * the one-exchange band probe and the in-place scans. */
  def incrementalNearDupProd(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
    val (bt, st) = nearDupIndexTables.getOrCompute(s, dir) {
      val (b, bPath) =
        graft.sources.PartitionedStore.storeNames("nd_bands", dir)
      val (sh, shPath) =
        graft.sources.PartitionedStore.storeNames("nd_shingles", dir)
      Dedup.buildNearDupIndex(docs, b, bPath, sh, shPath)
      (b, sh)
    }
    Dedup.incrementalNearDedupFrom(s, recrawlBatch(docs), bt, st)
  }

  /** The landed recrawl batch for the end-to-end landing pipeline: every
    * doc re-arrives under a fresh id — id ≡ 0 (mod 3) verbatim (exact
    * duplicate of the corpus), ≡ 1 with the first token dropped (near
    * duplicate: new digest, high shingle overlap), ≡ 2 with s/r
    * digit-substituted (genuinely fresh text: ~57% of corpus tokens
    * carry an s or r, so shingle Jaccard vs the source collapses — but
    * the stopwords `the a of to in` contain neither letter, so the
    * quality gate still judges the rewrite on its merits; a vowel
    * substitution would zero the stopword count and every fresh doc
    * would die at the screen, leaving the publish path vacuous).
    * Shared with the streaming chain-equality spec so batch and stream
    * screen the same landing. */
  private[graft] def landingBatch(docs: DataFrame): DataFrame =
    docs.select((col("doc_id") + 1000000L).as("doc_id"),
      when(col("doc_id") % 3 === 0, col("text"))
        .when(col("doc_id") % 3 === 1,
          regexp_replace(col("text"), "^[^ ]* ", ""))
        .otherwise(translate(col("text"), "sr", "59")).as("text"))

  /** The landing-zone chain END-TO-END, every stage the library's own
    * operator: JSONL landing scan ([[graft.sources.JsonlStore]]) →
    * Gopher quality screen → exact digest dedup (within-batch first
    * occurrence + corpus anti-join) → MinHash-LSH near-dup screen against
    * the corpus → write–audit–publish of the survivors
    * ([[graft.sources.Publish]], staged write, row-count audit, atomic
    * rename). This is epoch 1 of [[epochRefresh]], projected to
    * (doc_id, status): one row per LANDED doc with its terminal status —
    * screened / dup_exact / dup_near / published — the audit relation a
    * landing zone keeps; the published set is read back from the
    * PUBLISHED STORE, not the in-memory frame, so the query verifies
    * what downstream actually sees. The oracle restates the whole chain
    * (gate conjunction, sha-256 window-min, banding, integer Jaccard) in
    * one DuckDB query over `documents`, so the COMPOSITION is
    * cross-engine-verified, and — reading the parquet directly where the
    * engine read its own JSONL — re-proves the landing scan lossless.
    *
    * Scale shape: each stage keeps its own audited plan (per-row gate;
    * digest-keyed shuffles; banded candidates, never all-pairs); the
    * status assembly is three left joins on bare 8-byte ids. */
  def landingPipeline(s: SparkSession, dir: String): DataFrame =
    epoch1Status(s, dir).select(col("doc_id"), col("status"))

  // each epoch's landing and published store, written once per (session,
  // dir); the batch is read back from the landed files, as a real landing
  // zone would, and staged once with its screens
  private val epoch1Cache = new graft.ops.SessionScoped[EpochLanding]
  private val epoch2Cache = new graft.ops.SessionScoped[EpochLanding]

  /** One epoch's landing path and published store, with the screens its
    * publish step staged: the landed batch, its gopher-passed ids, the
    * screened rows and the exact-kept ids. The status cascade and the
    * near-dup index screen read these frames instead of staging them
    * again; they sit in the release-scoped memo with the paths, so a
    * release drops both together. */
  private final case class EpochLanding(landPath: String, pubPath: String,
      landed: DataFrame, passed: DataFrame, screened: DataFrame,
      exactKept: DataFrame)

  /** The INCREMENTAL EPOCH CHAIN end-to-end (VERDICT r15 #7): epoch 1
    * lands the recrawl batch (JSONL), screens (gopher), exact-dedups and
    * near-dup-screens AGAINST THE BASE CORPUS, split-assigns the
    * survivors, and publishes them via write–audit–publish; epoch 2 then
    * lands a CHANGED-DOC batch derived from epoch 1's PUBLISHED docs
    * (verbatim re-delivery / first-token-dropped near-dup / fresh
    * rewrite, keyed on the published id) and runs the same chain against
    * the REFRESHED corpus (base ∪ epoch-1 publishes). A verbatim
    * re-delivery is dup_exact and a near-dup is dup_near ONLY IF the
    * corpus actually grew between epochs — the batch twin of the
    * streaming landing-chain and epoch-posture split specs
    * (EventStreamSpec). Output: (epoch, doc_id, status, split) per
    * landed doc, split non-null on published rows only; both published
    * sets are read back from the PUBLISHED STORES, not in-memory frames.
    * The oracle replays BOTH epochs in one DuckDB query over
    * `documents` — deriving epoch 2's batch from its own epoch-1
    * publish decision — so the composition is cross-engine verified,
    * including that the engine's two stores round-tripped losslessly.
    *
    * Scale shape: each epoch is the landing chain's plan (per-row gate,
    * digest-keyed shuffles, banded candidates); the refreshed corpus
    * enters as a UNION the near-dup screen re-bands per epoch — at
    * production scale that side is the published store's bucketed table,
    * not a recompute. */
  private val epochSchema = new org.apache.spark.sql.types.StructType()
    .add("doc_id", "long").add("text", "string")

  // epoch-2 class of a published id p: pmod((p − 1000002) div 3, 3)
  // — p ≡ orig + 10⁶ with orig ≡ 2 (mod 3) for the dominant fresh
  // class, so a plain p % 3 would be CONSTANT; the div-3 quotient
  // cycles. Total for any positive id; the oracle renders Spark's
  // TRUNCATING div explicitly ([[duckCls]] — DuckDB `//` floors).
  private def epochCls: Column = expr("pmod((doc_id - 1000002) div 3, 3)")

  /** Epoch 2's landing batch derived from epoch 1's published docs —
    * ONE definition shared by the inline chain ([[epochArtifacts]]) and
    * the full-store chain ([[epochFullArtifacts]]), so the two
    * fixtures cannot drift from each other or from the oracle's b2
    * CTE. */
  private def epoch2BatchOf(pub1: DataFrame): DataFrame =
    pub1.select((col("doc_id") + 1000000L).as("doc_id"),
      when(epochCls === 0, col("text"))
        .when(epochCls === 1,
          regexp_replace(col("text"), "^[^ ]* ", ""))
        .otherwise(translate(col("text"), "td", "78")).as("text"))

  /** Screens `landPath`'s batch against `corpus` (gopher gate, exact
    * screen, near-dup screen) and publishes the survivors to `pubPath`;
    * returns the epoch with its staged screens. */
  private def epochPublish(s: SparkSession, landPath: String,
      corpus: DataFrame, pubPath: String): EpochLanding = {
    import graft.ops.{Stage, TextAnalysis}
    val landed = Stage.barrier(
      graft.sources.JsonlStore.readJsonl(s, landPath, epochSchema))
    val passed = TextAnalysis.gopherRules(landed)
      .filter(col("gopher_pass")).select(col("doc_id"))
    val screened = Stage.barrier(
      landed.join(passed, Seq("doc_id"), "left_semi"))
    val seen = corpus.select(sha2(lower(col("text")), 256).as("digest"))
    val exactKept = Stage.barrier(
      Dedup.incrementalDedup(screened, seen).select(col("doc_id")))
    val survivors = Stage.barrier(
      screened.join(exactKept, Seq("doc_id"), "left_semi"))
    val near = Dedup.incrementalNearDedup(survivors, corpus)
    val (toPublish, expected) = Stage.barrierCounted(survivors
      .join(near.filter(col("kept")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      .withColumn("split", TextAnalysis.splitAssign(col("doc_id"))))
    graft.sources.Publish.parquet(toPublish, pubPath,
      rowAudit = _ == expected)
    EpochLanding(landPath, pubPath, landed, passed, screened, exactKept)
  }

  /** Lands + publishes epoch 1 once per (session, dir) — the landing
    * zone's, shared by [[landingPipeline]] and every epoch chain built
    * on it. */
  private def epoch1Artifacts(s: SparkSession, dir: String)
      : EpochLanding = {
    val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
    epoch1Cache.getOrCompute(s, dir) {
      // sanitized dir + hash: two DISTINCT sf dirs can never share a
      // landing path (a bare hashCode could collide and silently serve
      // one dir's published store to the other)
      val land1 = "/tmp/graft_landing/" +
        dir.replaceAll("[^A-Za-z0-9._-]", "_") +
        f"-${dir.hashCode & 0xffffffffL}%08x"
      graft.sources.JsonlStore.writeJsonl(landingBatch(docs), land1)
      epochPublish(s, land1, docs, s"$land1.published")
    }
  }

  /** [[epoch1Artifacts]] plus epoch 2 landed + published on top of them
    * once per (session, dir). */
  private def epochArtifacts(s: SparkSession, dir: String)
      : (EpochLanding, EpochLanding) = {
    val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
    val e1 = epoch1Artifacts(s, dir)
    val e2 = epoch2Cache.getOrCompute(s, dir) {
      val base = graft.sources.PartitionedStore.storePath("epochs", dir)
      val pub1 = pub1Of(s, e1)
      val land2 = s"$base/land2"
      graft.sources.JsonlStore.writeJsonl(epoch2BatchOf(pub1), land2)
      epochPublish(s, land2, docs.unionByName(pub1), s"$base/pub2")
    }
    (e1, e2)
  }

  /** Epoch 1's published docs, read back from its store. */
  private def pub1Of(s: SparkSession, e1: EpochLanding): DataFrame =
    graft.sources.Publish.readPublished(s, e1.pubPath)
      .select(col("doc_id"), col("text"))

  /** One epoch's per-landed-doc verdict frame — the ONE status cascade
    * shared by [[epochRefresh]] (publish-store marker, stored split)
    * and [[epochRefreshIdx]] (materialized index verdicts, recomputed
    * split), so the four-way status rule cannot drift between the two
    * chains (review r18). `published` carries (doc_id, split) for
    * exactly the epoch's published docs, however the caller derives
    * it; the screens are the ones the epoch's publish step staged. */
  private def epochStatusOf(epoch: Int, e: EpochLanding,
      published: DataFrame): DataFrame =
    statusCascadeOf(epoch, e.landed, e.passed, e.exactKept, published)

  /** The cascade join itself, over however the caller derived each
    * screen's survivors — [[epochStatusOf]] feeds it the publish step's
    * staged screens;
    * [[epochFullArtifacts]] feeds it the persisted-STORE screens. ONE
    * join/when definition either way. */
  private def statusCascadeOf(epoch: Int, landed: DataFrame,
      passed: DataFrame, exactKept: DataFrame,
      published: DataFrame): DataFrame = {
    landed.select(col("doc_id"))
      .join(passed.withColumn("_s", lit(true)), Seq("doc_id"), "left")
      .join(exactKept.withColumn("_e", lit(true)), Seq("doc_id"), "left")
      .join(published.select(col("doc_id"), col("split"))
        .withColumn("_p", lit(true)), Seq("doc_id"), "left")
      .select(lit(epoch.toLong).as("epoch"), col("doc_id"),
        when(col("_s").isNull, lit("screened"))
          .when(col("_e").isNull, lit("dup_exact"))
          .when(col("_p").isNull, lit("dup_near"))
          .otherwise(lit("published")).as("status"),
        when(col("_p").isNotNull, col("split")).as("split"))
  }

  /** Epoch 1's status cascade against the base corpus. */
  private def epoch1Status(s: SparkSession, dir: String): DataFrame = {
    val e1 = epoch1Artifacts(s, dir)
    epochStatusOf(1, e1, graft.sources.Publish.readPublished(s, e1.pubPath))
  }

  def epochRefresh(s: SparkSession, dir: String): DataFrame = {
    val (_, e2) = epochArtifacts(s, dir)
    epoch1Status(s, dir)
      .unionByName(epochStatusOf(2, e2,
        graft.sources.Publish.readPublished(s, e2.pubPath)))
  }

  // the refreshed-corpus digest store, published once per (session, dir)
  private val epochDigestTable = new graft.ops.SessionScoped[String]

  /** Epoch 2's EXACT screen against the refreshed corpus as a
    * DIGEST-BUCKETED published store (VERDICT r16 #7 — the production
    * shape the [[epochRefresh]] scaladoc promises): the pipeline
    * maintains the corpus digest table as a bucketed deliverable
    * (base ∪ epoch-1 publishes, bucketed by digest), and each new
    * epoch's batch anti-joins it IN PLACE — the corpus side scans its
    * bucket layout with zero exchanges; only the (small) batch
    * shuffles. [[epochRefreshProd]] wraps this with the per-landed-doc
    * verdict; EpochProdSpec plan-asserts the single exchange, the
    * bucketed scan, and row-identity with the recompute path. */
  private[graft] def epochDigestStore(s: SparkSession, dir: String)
      : String = {
    val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
    val e1 = epoch1Artifacts(s, dir)
    epochDigestTable.getOrCompute(s, dir) {
      val (t, path) =
        graft.sources.PartitionedStore.storeNames("epochdig", dir)
      graft.sources.PartitionedStore.writeBucketed(
        docs.unionByName(pub1Of(s, e1))
          .select(sha2(lower(col("text")), 256).as("digest")),
        t, path, "digest", 32, Seq("digest"))
      t
    }
  }

  /** Epoch 2's exact screen against the bucketed digest store as a
    * suite entry: per gopher-surviving landed doc — (doc_id,
    * kept_exact), kept_exact = first in-batch occurrence of its content
    * AND unseen in the refreshed corpus digest store. Row-identical to
    * the recompute inside q_epoch_refresh (the oracle re-derives the
    * store relationally, so a lossy bucketed write would
    * hash-mismatch). The gate runs ONCE; the screen join consumes its
    * barriered output (the sibling chains' staging pattern). */
  def epochRefreshProd(s: SparkSession, dir: String): DataFrame = {
    val (_, e2) = epochArtifacts(s, dir)
    val tbl = epochDigestStore(s, dir)
    val landed = graft.sources.JsonlStore.readJsonl(s, e2.landPath,
      epochSchema)
    val passed = graft.ops.TextAnalysis.gopherRules(landed)
      .filter(col("gopher_pass")).select(col("doc_id"))
    val screened = graft.ops.Stage.barrier(
      landed.join(passed, Seq("doc_id"), "left_semi"))
    val kept = Dedup.incrementalDedupFrom(s, screened, tbl)
      .select(col("doc_id"))
    screened.select(col("doc_id"))
      .join(kept.withColumn("_k", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("_k").isNotNull.as("kept_exact"))
  }

  // the epoch chain's near-dup index lifecycle artifacts: ONE index,
  // built on the base corpus, epoch-1 verdicts screened against it,
  // epoch-1 publishes APPENDED, epoch-2 verdicts screened against the
  // refreshed tables — run once per (session, dir). The per-epoch
  // verdicts are MATERIALIZED (write–audit–publish) because the index
  // mutates at the epoch boundary: re-running epoch 1's screen against
  // the appended index would match its own publishes — in production,
  // too, an epoch's verdicts are an immutable artifact of the index
  // state they were screened against, not a recomputable view.
  private val epochNdCache =
    new graft.ops.SessionScoped[(String, String, String, String)]

  /** Builds/screens/appends the epoch near-dup index chain once;
    * returns (bandTable, shingleTable, near1Path, near2Path). */
  private[graft] def epochNdArtifacts(s: SparkSession, dir: String)
      : (String, String, String, String) = {
    import graft.ops.Stage
    val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
    val (e1, e2) = epochArtifacts(s, dir)
    epochNdCache.getOrCompute(s, dir) {
      val (bt, btPath) =
        graft.sources.PartitionedStore.storeNames("epochnd_bands", dir)
      val (st, stPath) =
        graft.sources.PartitionedStore.storeNames("epochnd_shingles", dir)
      Dedup.buildNearDupIndex(docs, bt, btPath, st, stPath)
      // an epoch's near-screen input is its exact-surviving landed docs
      // (the relation epochPublish staged)
      def survivorsOf(e: EpochLanding): DataFrame =
        e.screened.join(e.exactKept, Seq("doc_id"), "left_semi")
      def publishVerdicts(sv: DataFrame, path: String): Unit = {
        val (svb, expected) = Stage.barrierCounted(sv)
        graft.sources.Publish.parquet(
          Dedup.incrementalNearDedupFrom(s, svb, bt, st), path,
          rowAudit = _ == expected)
      }
      val near1 =
        graft.sources.PartitionedStore.storePath("epochnd_near1", dir)
      publishVerdicts(survivorsOf(e1), near1)
      // the epoch boundary: the ONE index is refreshed by appending
      // epoch 1's publishes; epoch 2 screens the appended tables in
      // place — no rebuild, no per-epoch corpus chain re-derivation
      Dedup.appendNearDupIndex(pub1Of(s, e1), bt, st)
      val near2 =
        graft.sources.PartitionedStore.storePath("epochnd_near2", dir)
      publishVerdicts(survivorsOf(e2), near2)
      (bt, st, near1, near2)
    }
  }

  /** [[epochRefresh]] with its near-dup screens wired through the
    * PERSISTED index lifecycle (VERDICT r17 #4 — the steady-state
    * pipeline, where the epoch story and the index story compose):
    * epoch 1 screens against the index BUILT on the base corpus, the
    * epoch-1 publishes are APPENDED to that same index
    * ([[graft.ops.Dedup.appendNearDupIndex]]), and epoch 2 screens the
    * refreshed tables IN PLACE — the corpus-side chain is derived
    * exactly once per corpus state, instead of once per epoch as in
    * the inline [[epochRefresh]]. Output is row-identical ((epoch,
    * doc_id, status, split) per landed doc — EpochProdSpec pins it
    * against [[epochRefresh]]) and shares q_epoch_refresh's DuckDB
    * oracle verbatim, so a drifted append or a lossy index round-trip
    * hash-mismatches cross-engine. Splits are [[graft.ops.TextAnalysis
    * .splitAssign]] on published rows — the same deterministic rule the
    * publish path stamps into the store. */
  def epochRefreshIdx(s: SparkSession, dir: String): DataFrame = {
    val (e1, e2) = epochArtifacts(s, dir)
    val (_, _, near1, near2) = epochNdArtifacts(s, dir)
    // published = near-kept survivors of the MATERIALIZED index screen;
    // split is the same deterministic rule the publish path stamps (a
    // near-kept doc is a gate+exact survivor by construction, so the
    // _p marker implies _s and _e in the shared cascade)
    def keptOf(nearPath: String): DataFrame =
      graft.sources.Publish.readPublished(s, nearPath)
        .filter(col("kept"))
        .select(col("doc_id"),
          graft.ops.TextAnalysis.splitAssign(col("doc_id")).as("split"))
    epochStatusOf(1, e1, keptOf(near1))
      .unionByName(epochStatusOf(2, e2, keptOf(near2)))
  }

  // the FULL steady-state production chain's artifacts: all three
  // persisted stores (digest index + near-dup index + span bank) built
  // on the base corpus; per epoch: gate → exact screen (digest store)
  // → near screen (nd index) → span screen (span bank) → publish →
  // append ALL THREE stores; the stats-driven maintenance trigger
  // (compactIfNeeded, boundary threshold 1 → a bucket-preserving
  // compaction with dedupRows when a backlog exists) interleaved
  // between epoch 1's appends and epoch 2's screens. Per-epoch status
  // AND span verdicts are MATERIALIZED (write–audit–publish) — each is
  // an immutable artifact of the store state it screened against.
  private val epochFullCache =
    new graft.ops.SessionScoped[(String, String, String, String)]

  /** Runs the composed nightly job once per (session, dir); returns
    * (status1, status2, span1, span2) published-artifact paths.
    *
    * This is VERDICT r18 #1 — the three store lifecycles were each
    * oracled in isolation; this chain is their INTERACTION: an append
    * racing a compaction, a stamp lost in the swap, or a dedupRows
    * pass that changes a verdict would surface exactly here (the
    * status output shares q_epoch_refresh's DuckDB oracle verbatim,
    * and the span output is oracled against a relational replay over
    * the same epoch CTEs — so the whole composition, including the
    * mid-chain compaction being a no-op on verdicts, is cross-engine
    * verified). Self-contained after land1: epoch 2's batch derives
    * from THIS chain's own published store ([[epoch2BatchOf]]), as in
    * production, not from the inline chain's. */
  private[graft] def epochFullArtifacts(s: SparkSession, dir: String)
      : (String, String, String, String) = {
    import graft.ops.{Stage, TextAnalysis}
    import graft.sources.{JsonlStore, PartitionedStore, Publish}
    val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
    epochFullCache.getOrCompute(s, dir) {
      val (dt, dtPath) = PartitionedStore.storeNames("epochfull_dig", dir)
      val (bt, btPath) = PartitionedStore.storeNames("epochfull_bands", dir)
      val (sht, shtPath) =
        PartitionedStore.storeNames("epochfull_shingles", dir)
      val (kt, ktPath) = PartitionedStore.storeNames("epochfull_spans", dir)
      Dedup.buildDigestIndex(docs, dt, dtPath)
      Dedup.buildNearDupIndex(docs, bt, btPath, sht, shtPath)
      Dedup.buildSpanBank(docs, kt, ktPath)
      val base = PartitionedStore.storePath("epochfull", dir)

      // one epoch through the three store screens, with EVERY result
      // the boundary needs — published docs, status cascade, span
      // coverage — MATERIALIZED before the scope releases the epoch's
      // staged frames. The scope is load-bearing, not hygiene: the
      // barriers reference the store tables' CURRENT file listing, and
      // the epoch boundary COMPACTS those tables — a cached frame
      // touched after the swap would recompute from the retired
      // listing and die on FILE_NOT_EXIST (observed; this is the
      // append-racing-compaction interaction class this chain exists
      // to pin down). After the scope, downstream only reads the
      // epoch's own published artifacts.
      def runEpoch(epoch: Int, landPath: String, statusPath: String,
          spanPath: String, pubPath: String): Unit = Stage.scoped(s) {
        val (landed, nLanded) = Stage.barrierCounted(
          JsonlStore.readJsonl(s, landPath, epochSchema))
        val passed = TextAnalysis.gopherRules(landed)
          .filter(col("gopher_pass")).select(col("doc_id"))
        val screened = Stage.barrier(
          landed.join(passed, Seq("doc_id"), "left_semi"))
        val exactKept = Stage.barrier(
          Dedup.incrementalDedupFrom(s, screened, dt)
            .select(col("doc_id")))
        val survivors = Stage.barrier(
          screened.join(exactKept, Seq("doc_id"), "left_semi"))
        val near = Dedup.incrementalNearDedupFrom(s, survivors, bt, sht)
        val (published, nPub) = Stage.barrierCounted(survivors
          .join(near.filter(col("kept")).select(col("doc_id")),
            Seq("doc_id"), "left_semi")
          .withColumn("split", TextAnalysis.splitAssign(col("doc_id"))))
        Publish.parquet(published
          .select(col("doc_id"), col("text"), col("split")),
          pubPath, rowAudit = _ == nPub)
        // the span RUNG: a landing screen drops or FLAGS — this chain
        // flags (coverage materialized per published doc; the status
        // cascade is untouched, which is what lets the status output
        // share the inline chain's oracle verbatim)
        Publish.parquet(
          Dedup.spanScreenFrom(s, published, kt)
            .withColumn("epoch", lit(epoch.toLong)),
          spanPath, rowAudit = _ == nPub)
        val status = statusCascadeOf(epoch, landed, passed, exactKept,
          published.select(col("doc_id"), col("split")))
        Publish.parquet(status, statusPath,
          rowAudit = _ == nLanded)
      }

      val land1 = s"$base/land1"
      JsonlStore.writeJsonl(landingBatch(docs), land1)
      val (st1, sp1, pb1) = (s"$base/status1", s"$base/span1",
        s"$base/pub1")
      runEpoch(1, land1, st1, sp1, pb1)

      // the epoch boundary: append epoch 1's publishes — READ BACK
      // from the published store, the appends' production input — to
      // ALL THREE stores, then compact each one MID-CHAIN. Epoch 2's
      // screens run against the compacted files, so a compaction that
      // moved a row across buckets, dropped a stamp, or (dedupRows)
      // collapsed a row a screen still needed would flip an epoch-2
      // verdict and hash-mismatch against the oracle, which knows no
      // compaction.
      val pub1 = Publish.readPublished(s, pb1)
        .select(col("doc_id"), col("text"))
      Dedup.appendDigestIndex(pub1, dt)
      Dedup.appendNearDupIndex(pub1, bt, sht)
      Dedup.appendSpanBank(pub1, kt)
      // the maintenance sweep runs in production order — audit, THEN
      // compact, then serve: a torn append or a lost parameter stamp
      // must stop the nightly job HERE, before a compaction launders
      // the evidence and epoch 2 screens against a silently poisoned
      // store (auditStores is the one entry point over all three
      // store kinds — StoreAuditSpec pins its detections)
      val audit = Dedup.auditStores(s, Seq(Dedup.DigestStoreRef(dt),
        Dedup.SpanBankRef(kt), Dedup.NearDupIndexRef(bt, sht)))
        .collect()
      require(audit.forall(r => r.getAs[Boolean]("stamp_ok") &&
          r.getAs[Long]("torn_docs") == 0L),
        s"epoch-boundary store audit failed: ${audit.mkString("; ")}")
      // maintenance through the SAME stats-driven trigger the
      // background sweep uses (compactIfNeeded — StoreAuditSpec pins
      // it), not an unconditional rewrite (VERDICT r19 #3). The epoch
      // boundary's threshold is 1: an epoch's append always leaves
      // multi-file buckets, and the next epoch's screens should read
      // one file per bucket — so the boundary compacts after every
      // appending epoch, but through the audited stats path, with the
      // consulted stats logged (stderr: Bench's stdout JSON contract).
      for (t <- Seq(dt, bt, sht, kt)) {
        val (stats, fired) =
          PartitionedStore.compactIfNeeded(s, t, maxFilesPerBucket = 1L)
        System.err.println(f"epoch-boundary maintenance: fired=$fired " +
          f"files/bucket max=${stats.filesPerBucketMax} " +
          f"mean=${stats.filesPerBucketMean}%.1f " +
          f"dupBacklog=${stats.dupBacklog} table=$t")
      }

      val land2 = s"$base/land2"
      JsonlStore.writeJsonl(epoch2BatchOf(pub1), land2)
      val (st2, sp2, pb2) = (s"$base/status2", s"$base/span2",
        s"$base/pub2")
      runEpoch(2, land2, st2, sp2, pb2)
      (st1, st2, sp1, sp2)
    }
  }

  /** [[epochRefresh]] through the FULL three-store production chain
    * ([[epochFullArtifacts]]): both epochs' materialized status
    * artifacts read back and unioned — hash-green against
    * q_epoch_refresh's DuckDB oracle verbatim, which is what certifies
    * the whole composition (three store screens, three appends, four
    * mid-chain compactions) changed no verdict. */
  def epochRefreshFull(s: SparkSession, dir: String): DataFrame = {
    val (st1, st2, _, _) = epochFullArtifacts(s, dir)
    graft.sources.Publish.readPublished(s, st1)
      .unionByName(graft.sources.Publish.readPublished(s, st2))
      .select(col("epoch"), col("doc_id"), col("status"), col("split"))
  }

  /** The full chain's span RUNG as its own gate entry: per published
    * doc of each epoch — window-coverage against the span bank AS OF
    * that epoch's screen (epoch 1 vs the base bank; epoch 2 vs the
    * appended-then-compacted bank). The oracle replays both banks
    * relationally over the same epoch CTEs, so the bank's append and
    * mid-chain compaction are cross-engine verified at the
    * sub-document rung too. */
  def epochSpanFull(s: SparkSession, dir: String): DataFrame = {
    val (_, _, sp1, sp2) = epochFullArtifacts(s, dir)
    graft.sources.Publish.readPublished(s, sp1)
      .unionByName(graft.sources.Publish.readPublished(s, sp2))
      .select(col("epoch"), col("doc_id"), col("n_tokens"),
        col("n_dup_tokens"), col("dup_x1e6"))
  }

  /** Per-vector int8 scalar quantization of the embedding table. */
  def quantize(s: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(Tables(s, dir).embeddings)

  /** Quantized-scan ANN: int8 shortlist, exact re-rank. */
  def knnSq8(s: SparkSession, dir: String): DataFrame =
    Similarity.knnQuantized(Tables(s, dir).embeddings, nQueries = 10,
      k = 5, shortlist = 32)

  /** Recall@5 of every approximate ANN path against the brute-force
    * truth — the measured answer to "which index do I ship". */
  def annEval(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir).embeddings
    // the truth barrier and the arms' internal staging barriers (LSH
    // buckets, IVF assignment) are INDEPENDENT eager jobs — build them
    // side by side (Stage.overlap) so their materializations overlap
    // (guide §2.6: concurrent independent jobs back-fill the scheduler
    // instead of paying four sequential action round-trips). Plan
    // construction and Stage's tracking are thread-safe; the combined
    // result below is identical to the sequential build.
    // staged: the brute-force truth is the most expensive sub-plan and
    // feeds all three arms plus the total — one execution, not four
    val Seq(truth, lsh, ivfStatic, sq8) = graft.ops.Stage.overlap(Seq(
      () => graft.ops.Stage.barrier(Similarity.knnBrute(e, nQueries = 10,
        k = 5).select(col("query_id"), col("neighbor_id"))),
      () => Similarity.knnLsh(e, nQueries = 10, k = 5),
      () => graft.ops.Ivf.knnIvfStatic(e, nQueries = 10, k = 5),
      () => Similarity.knnQuantized(e, nQueries = 10, k = 5,
        shortlist = 32)))
    def arm(name: String, df: DataFrame): DataFrame =
      df.select(col("query_id"), col("neighbor_id"))
        .join(truth, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).cast("long").as("n_common"))
        .select(lit(name).as("method"), col("n_common"))
    val truthN = truth.agg(count(lit(1)).cast("long").as("n_truth"))
    Seq(arm("lsh", lsh), arm("ivf_static", ivfStatic), arm("sq8", sq8))
      .reduce(_ unionByName _)
      .crossJoin(broadcast(truthN))
      .select(col("method"), col("n_truth"), col("n_common"),
        expr("n_common * 1000 div n_truth").as("recall_x1000"))
  }

  /** Cluster-size histogram of the minhash near-dup components — shares
    * the staged labels with q_dedup_components. */
  def dupProfile(s: SparkSession, dir: String): DataFrame =
    Dedup.dupProfile(dedupComponents(s, dir))

  /** IVF index-health stats over the static quantizer (the
    * cross-engine-replayable one, as in q_knn_ivf_static). */
  def clusterStats(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ivf.clusterStats(Tables(s, dir).embeddings,
      graft.ops.Ivf.staticCentroids(16, 64))

  /** Hybrid retrieval: BM25 shortlist (20) → exact-cosine rerank against
    * the embedding of vec_id 0 → top 5. */
  def hybridSearch(s: SparkSession, dir: String): DataFrame =
    graft.ops.Retrieval.hybridSearch(Tables(s, dir).documents,
      Tables(s, dir).embeddings, graft.ops.Retrieval.DefaultTerms,
      queryVecId = 0L, shortlist = 20, k = 5)

  /** Cluster-balanced diversity subsample: ≤ 8 vectors per static IVF
    * cell, deterministic-hash selection. */
  def clusterCap(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ivf.clusterCap(Tables(s, dir).embeddings,
      graft.ops.Ivf.staticCentroids(16, 64), cap = 8)

  /** JL random projection of the embeddings to 8 dense coordinates
    * (deterministic LCG plane matrix, ×10⁶-rounded longs). */
  def randProj(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.randomProjection(Tables(s, dir).embeddings)

  /** Per-document bigram novelty vs the whole corpus. */
  def novelty(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.ngramNovelty(Tables(s, dir).documents, n = 2)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_rand_proj" -> randProj,
    "q_novelty" -> novelty,
    "q_dup_profile" -> dupProfile,
    "q_cluster_stats" -> clusterStats,
    "q_hybrid_search" -> hybridSearch,
    "q_cluster_cap" -> clusterCap,
    "q_quantize" -> quantize,
    "q_knn_sq8" -> knnSq8,
    "q_dedup_eval" -> dedupEval,
    "q_ann_eval" -> annEval,
    "q_dedup_docs" -> exactDedup,
    "q_dedup_hash" -> exactDedupHash,
    "q_jaccard_pairs" -> jaccardPairs,
    "q_containment_pairs" -> containmentPairs,
    "q_minhash_sigs" -> minhashSigs,
    "q_minhash_neardup" -> minhashNearDups,
    "q_dedup_triangles" -> dedupTriangles,
    "q_dup_rate_by_source" -> dupRateBySource,
    "q_dedup_components" -> dedupComponents,
    "q_dedup_keep" -> dedupKeep,
    "q_dedup_canonical" -> dedupCanonical,
    "q_simhash" -> simhashes,
    "q_simhash_neardup" -> simhashNearDups,
    "q_simhash_canonical" -> simhashCanonical,
    "q_split_safe" -> splitSafe,
    "q_split_safe_prod" -> splitSafeProd,
    "q_split_leakage" -> splitLeakage,
    "q_curation_chain" -> curationChain,
    "q_knn_brute" -> knnBrute,
    "q_knn_lsh" -> knnLsh,
    "q_knn_ivf" -> knnIvf,
    "q_knn_ivf_static" -> knnIvfStatic,
    "q_knn_ivf_prod" -> knnIvfProd,
    "q_embed_neardup" -> embedNearDups,
    "q_semantic_dedup" -> semanticDedup,
    "q_incremental_neardup" -> incrementalNearDedup,
    "q_landing_pipeline" -> landingPipeline,
    "q_epoch_refresh" -> epochRefresh,
    "q_epoch_refresh_prod" -> epochRefreshProd,
    "q_epoch_refresh_idx" -> epochRefreshIdx,
    "q_epoch_refresh_full" -> epochRefreshFull,
    "q_epoch_span_full" -> epochSpanFull,
    "q_incremental_neardup_prod" -> incrementalNearDupProd,
  )

  /** DuckDB dot product with the same left-to-right double accumulation as
    * Similarity.dot (list_reduce over the zipped products). */
  private def duckDot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(list_zip($a, $b), " +
      "z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))), " +
      "(acc, x) -> acc + x)"

  /** Machine-generated oracle for the hyperplane-LSH signatures: the same
    * plane constants as Similarity.knnLsh/nearDupPairs rendered as SQL
    * literals. Dot products accumulate in the same order on both engines,
    * so signs — and therefore buckets and candidate sets — match
    * bit-for-bit. */
  private def duckLshSignatureSql(bitsPerTable: Int): String = {
    val tables = (0 until 4).map { t =>
      val planes = graft.ops.Similarity
        .hyperplanes(bitsPerTable, 64, seed = 1000L + t)
      val bits = planes.zipWithIndex.map { case (p, i) =>
        val lit = p.mkString("[", ", ", "]")
        s"(CASE WHEN ${duckDot("e", lit)} >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, e, $t AS tbl, $bits AS bucket FROM v"
    }
    tables.mkString(" UNION ALL ")
  }

  /** The portable polynomial codepoint hash (functions.StringAlgos.polyHash)
    * restated in DuckDB SQL — ord(ch) is the codepoint of each 1-char
    * split element, so the fold is digit-for-digit the Spark expression. */
  private def duckPolyHash(e: String, base: Long): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($e, ''), ch -> CAST(ord(ch) AS BIGINT))), " +
      s"(acc, cp) -> (acc * $base + cp) % ${Dedup.P})"

  /** Word-bigram shingles of token list `t` (Dedup.shingles, n = 2): one
    * shingle per position; a short (<2 token) doc yields its whole span. */
  private val duckShingle2: String =
    "list_distinct(list_transform(range(1, greatest(len(t)-1,1)+1), " +
      "i -> CASE WHEN i < len(t) THEN t[i] || ' ' || t[i+1] ELSE t[i] END))"

  /** The k MinHash minima with the identical (aᵢ, bᵢ) family rendered as
    * literals: min((aᵢ·h + bᵢ) mod P) per coefficient pair. */
  private def duckMinhashMins: String =
    Dedup.minhashCoeffs(64).map { case (a, b) =>
      s"min((h*$a+$b)%${Dedup.P})"
    }.mkString(", ")

  /** Machine-generated oracle for the IVF plan given its quantizer: the
    * centroid literals, the identical −2·q·c + c·c ranking metric,
    * first-match argmin (== array_min over (d, id) structs), sorted-probe
    * slice, and exact cosine re-rank. Works for any centroid source — the
    * LCG static quantizer or a trained one rendered post-run. */
  private def duckIvfSql(cents: Seq[(Int, Seq[Double])]): String = {
    val n = cents.size
    val dcols = cents.map { case (i, c) =>
      val lit = c.mkString("[", ", ", "]")
      s"(${duckDot("e", lit)} * -2.0 + ${c.map(x => x * x).sum}) AS d$i"
    }.mkString(", ")
    val m = (0 until n).map(i => s"d$i").mkString("least(", ", ", ")")
    val argmin = "CASE " +
      (0 until n).map(i => s"WHEN d$i = m THEN $i").mkString(" ") + " END"
    val probeStructs = (0 until n)
      .map(i => s"{'d': d$i, 'id': $i}").mkString(", ")
    "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e " +
      "FROM embeddings), " +
      s"scored AS (SELECT vec_id, e, $dcols FROM v), " +
      s"withm AS (SELECT *, $m AS m FROM scored), " +
      s"assigned AS (SELECT vec_id, e, $argmin AS cluster FROM withm), " +
      "probes AS (SELECT vec_id AS query_id, e AS eq, " +
      s"unnest(list_transform(list_sort([$probeStructs])[1:4], " +
      "s -> s.id)) AS cluster FROM withm WHERE vec_id < 10), " +
      "cand AS (SELECT p.query_id, p.eq, a.vec_id AS neighbor_id, " +
      "a.e AS en FROM probes p JOIN assigned a ON a.cluster = p.cluster " +
      "WHERE a.vec_id != p.query_id), " +
      "sims AS (SELECT query_id, neighbor_id, " +
      duckDot("eq", "en") + " / (sqrt(" + duckDot("eq", "eq") +
      ") * sqrt(" + duckDot("en", "en") + ")) AS sim FROM cand) " +
      "SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim_r FROM (" +
      "SELECT query_id, neighbor_id, sim, CAST(row_number() OVER (" +
      "PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) " +
      "AS rank FROM sims) WHERE rank <= 5"
  }

  /** docsWithMutants restated in DuckDB (anchored regex → single match on
    * both engines despite Spark's replace-all default). */
  private val duckDocsWithMutants: String =
    "SELECT doc_id, text FROM documents UNION ALL " +
      "SELECT doc_id + 1000000, regexp_replace(text, '^[^ ]* ', '') " +
      "FROM documents"

  /** The 62 SimHash lanes: sign of Σ(±1) per bit of the dual polynomial
    * hash (functions.StringAlgos.polyHash2 = h37·2³¹ + h31). */
  private def duckSimhashLanes: String =
    (0 until Dedup.SimHashBits).map { j =>
      s"(CASE WHEN sum(((h >> $j) & 1) * 2 - 1) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  private def duckSimhashOf(docsCte: String): String =
    s"WITH docs AS ($docsCte), " +
      "tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS s FROM docs), " +
      s"h AS (SELECT doc_id, (${duckPolyHash("s", 37L)} * 2147483648 + " +
      s"${duckPolyHash("s", 31L)}) AS h FROM tok), " +
      s"sim AS (SELECT doc_id, CAST($duckSimhashLanes AS BIGINT) AS sh " +
      "FROM h GROUP BY doc_id)"

  /** 16 bands × 4 rows of the signature as '_'-joined keys (0-based
    * getItem → 1-based DuckDB list index). */
  private def duckBandSelects: String = duckBandSelectsOf("sig")

  /** [[duckBandSelects]] over an arbitrary signature CTE — the incremental
    * screen band-joins batch and corpus band rows from two CTEs. */
  private def duckBandSelectsOf(sigCte: String): String =
    (0 until 16).map { j =>
      val key = (0 until 4)
        .map(r => s"CAST(sig[${j * 4 + r + 1}] AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $j AS band, $key AS key FROM $sigCte"
    }.mkString(" UNION ALL ")

  /** Oracles; a `def` because the trained-IVF entry is rendered from the
    * centroids the query run actually trained (Verify dumps oracle SQL
    * AFTER running the queries). When no training ran in this process —
    * or several distinct trainings make the choice ambiguous — the entry
    * is omitted and the driver records a rows-only check, never a bogus
    * compare. */
  def oracle: Map[String, String] = {
    val trainedIvf = centroidCache.allValues.distinct match {
      case Seq(cents) => Map("q_knn_ivf" -> duckIvfSql(cents))
      case _ => Map.empty[String, String]
    }
    staticOracle ++ oracleVectorPart ++ trainedIvf ++ annEvalOracle
  }

  /** Every method's pair set re-derived through its OWN oracle SQL (the
    * same strings verifying q_knn_lsh / q_knn_ivf_static / q_knn_sq8),
    * joined against the brute-force truth with the same integer recall
    * arithmetic the engine uses. */
  private lazy val annEvalOracle: Map[String, String] = {
    val arms = Seq(
      "lsh" -> oracleVectorPart("q_knn_lsh"),
      "ivf_static" -> staticOracle("q_knn_ivf_static"),
      "sq8" -> oracleVectorPart("q_knn_sq8")).map { case (name, sql) =>
      s"SELECT '$name' AS method, CAST(count(*) AS BIGINT) AS n_common " +
        s"FROM (SELECT query_id, neighbor_id FROM ($sql)) m " +
        "JOIN t USING (query_id, neighbor_id)"
    }.mkString(" UNION ALL ")
    Map("q_ann_eval" ->
      (s"WITH t AS (SELECT query_id, neighbor_id FROM " +
        s"(${staticOracle("q_knn_brute")})), " +
        s"arms AS ($arms), " +
        "nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM t) " +
        "SELECT method, n_truth, n_common, " +
        "n_common * 1000 // n_truth AS recall_x1000 FROM arms, nt"))
  }

  private lazy val staticOracle: Map[String, String] = Map(
    "q_knn_ivf_static" -> duckIvfSql(graft.ops.Ivf.staticCentroids(16, 64)),
    // the SAME oracle verbatim: the persisted build+append lifecycle
    // must reproduce the one-shot static plan's rows exactly
    "q_knn_ivf_prod" -> duckIvfSql(graft.ops.Ivf.staticCentroids(16, 64)),
    // the identical LCG plane matrix rendered as literals; same fixed
    // fold order as every other oracled dot product
    "q_rand_proj" -> {
      val planes = graft.ops.Similarity.hyperplanes(8, 64, seed = 123L)
      val cols = planes.zipWithIndex.map { case (p, i) =>
        val lit = p.mkString("[", ", ", "]")
        s"CAST(round(${duckDot("e", lit)} * 1000000.0, 0) AS BIGINT) " +
          s"AS p$i"
      }.mkString(", ")
      "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e " +
        s"FROM embeddings) SELECT vec_id, $cols FROM v"
    },
    // same bigram shingles → same portable hash → df>1 share per doc
    "q_novelty" ->
      ("WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS t " +
        "FROM documents), " +
        s"sh AS (SELECT doc_id, unnest(list_transform($duckShingle2, " +
        s"s -> ${graft.queries.OracleSql.pHash("s")})) AS h FROM t0), " +
        "df AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM sh " +
        "GROUP BY h) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams, " +
        "CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_shared, " +
        "(CAST(count(*) AS BIGINT) - CAST(sum(CASE WHEN df > 1 THEN 1 " +
        "ELSE 0 END) AS BIGINT)) * 1000000 // " +
        "CAST(count(*) AS BIGINT) AS novelty_x1e6 " +
        "FROM sh JOIN df USING (h) GROUP BY doc_id"),
    "q_cluster_stats" -> duckClusterStatsSql,
    // the shared BM25 rendering shortlists, then the identical
    // fixed-order cosine reranks against vec 0 — scores from both stages
    // carried through
    "q_hybrid_search" ->
      ("WITH s AS (SELECT * FROM (" +
        OracleSql.duckBm25(graft.ops.Retrieval.DefaultTerms, 20) + ")), " +
        "v AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) " +
        "AS e FROM embeddings), " +
        "q AS (SELECT e AS qe FROM v WHERE doc_id = 0), " +
        "j AS (SELECT s.doc_id, s.score, " +
        s"round(${duckDot("qe", "e")} / (sqrt(${duckDot("qe", "qe")}) * " +
        s"sqrt(${duckDot("e", "e")})), 6) AS sim_r " +
        "FROM s JOIN v USING (doc_id) CROSS JOIN q) " +
        "SELECT doc_id, score, sim_r FROM j " +
        "ORDER BY sim_r DESC, doc_id LIMIT 5"),
    "q_cluster_cap" -> duckClusterCapSql,
    // same recursive-CTE components as q_dedup_components, then the
    // two-level size histogram over the labels
    "q_dup_profile" ->
      ("WITH RECURSIVE " +
        s"pairs AS (SELECT doc_a, doc_b FROM ($duckMinhashNearDupSql)), " +
        "edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs " +
        "UNION SELECT doc_b, doc_a FROM pairs), " +
        "nodes AS (SELECT DISTINCT s AS id FROM edges), " +
        "reach(id, r) AS (SELECT id, id FROM nodes UNION " +
        "SELECT reach.id, edges.d FROM reach JOIN edges " +
        "ON edges.s = reach.r), " +
        "comp AS (SELECT id AS doc_id, min(r) AS component " +
        "FROM reach GROUP BY id), " +
        "cs AS (SELECT component, CAST(count(*) AS BIGINT) " +
        "AS cluster_size FROM comp GROUP BY component) " +
        "SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters, " +
        "cluster_size * CAST(count(*) AS BIGINT) AS n_docs " +
        "FROM cs GROUP BY cluster_size"),
    "q_dedup_docs" ->
      ("SELECT lower(text) AS text_norm, min(doc_id) AS keep_id, " +
        "count(*) AS n_copies FROM documents GROUP BY 1"),
    "q_dedup_hash" ->
      ("SELECT sha256(lower(text)) AS digest, min(doc_id) AS keep_id, " +
        "count(*) AS n_copies FROM documents GROUP BY 1"),
    // same blocked pair space as q_jaccard_pairs; the filter and flags
    // are per-SIDE thresholds (denom*inter >= numer*|side|), asymmetric
    "q_containment_pairs" ->
      ("WITH sh AS (SELECT doc_id, source, lang, " +
        "list_distinct(string_split(text, ' ')) AS s FROM documents), " +
        "p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "len(list_intersect(a.s, b.s)) AS n_inter, " +
        "CAST(len(a.s) AS BIGINT) AS sz_a, " +
        "CAST(len(b.s) AS BIGINT) AS sz_b " +
        "FROM sh a JOIN sh b ON a.source = b.source AND a.lang = b.lang " +
        "AND a.doc_id < b.doc_id) " +
        "SELECT doc_a, doc_b, n_inter, sz_a, sz_b, " +
        "CAST(CASE WHEN n_inter * 10 >= sz_a * 9 THEN 1 ELSE 0 END " +
        "AS BIGINT) AS a_in_b, " +
        "CAST(CASE WHEN n_inter * 10 >= sz_b * 9 THEN 1 ELSE 0 END " +
        "AS BIGINT) AS b_in_a " +
        "FROM p WHERE n_inter * 10 >= sz_a * 9 " +
        "OR n_inter * 10 >= sz_b * 9"),
    "q_jaccard_pairs" ->
      ("WITH sh AS (SELECT doc_id, source, lang, " +
        "list_distinct(string_split(text, ' ')) AS s FROM documents) " +
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "len(list_intersect(a.s, b.s)) AS n_inter, " +
        "len(list_distinct(list_concat(a.s, b.s))) AS n_union " +
        "FROM sh a JOIN sh b ON a.source = b.source AND a.lang = b.lang " +
        "AND a.doc_id < b.doc_id " +
        "WHERE len(list_intersect(a.s, b.s)) * 4 >= " +
        "len(list_distinct(list_concat(a.s, b.s))) * 3"),
    "q_knn_brute" ->
      ("WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e " +
        "FROM embeddings), " +
        "scored AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, " +
        duckDot("q.e", "n.e") + " / (sqrt(" + duckDot("q.e", "q.e") +
        ") * sqrt(" + duckDot("n.e", "n.e") + ")) AS sim " +
        "FROM v q JOIN v n ON q.vec_id < 10 AND q.vec_id != n.vec_id) " +
        "SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim_r FROM (" +
        "SELECT query_id, neighbor_id, sim, CAST(row_number() OVER (" +
        "PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) " +
        "AS rank FROM scored) WHERE rank <= 5"),
    "q_minhash_sigs" ->
      ("WITH toks AS (SELECT doc_id, string_split(text,' ') AS t " +
        "FROM documents), " +
        s"sh AS (SELECT doc_id, unnest($duckShingle2) AS s FROM toks), " +
        s"h AS (SELECT doc_id, ${duckPolyHash("s", 31L)} AS h FROM sh) " +
        s"SELECT doc_id, array_to_string([$duckMinhashMins], ',') " +
        "AS sig_csv FROM h GROUP BY doc_id"),
    "q_minhash_neardup" -> duckMinhashNearDupSql,
    // triangle census of the same pair graph: ordered-triple closure
    // (each triangle found once at its smallest vertex) — equivalent to
    // the engine's degree-oriented enumeration by symmetry of the count
    "q_dedup_triangles" ->
      (s"WITH e AS (SELECT doc_a AS a, doc_b AS b " +
        s"FROM ($duckMinhashNearDupSql)), " +
        "deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (" +
        "SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v), " +
        "tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z " +
        "FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b " +
        "JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b), " +
        "pv AS (SELECT v, CAST(count(*) AS BIGINT) AS n_tri FROM (" +
        "SELECT x AS v FROM tri UNION ALL SELECT y FROM tri " +
        "UNION ALL SELECT z FROM tri) GROUP BY v) " +
        "SELECT deg.v, deg.deg, coalesce(pv.n_tri, 0) AS n_tri, " +
        "CAST(CASE WHEN deg.deg >= 2 THEN " +
        "coalesce(pv.n_tri, 0) * 2000 // (deg.deg * (deg.deg - 1)) " +
        "ELSE 0 END AS BIGINT) AS clustering_x1000 " +
        "FROM deg LEFT JOIN pv USING (v)"),
    // pair relation shared with q_minhash_neardup; mutants labeled
    // 'recrawl' so base<->mutant matches count as cross-source
    "q_dup_rate_by_source" ->
      (s"WITH pr AS (SELECT doc_a, doc_b FROM ($duckMinhashNearDupSql)), " +
        "meta AS (SELECT doc_id, source FROM documents UNION ALL " +
        "SELECT doc_id + 1000000, 'recrawl' FROM documents " +
        "WHERE doc_id % 3 = 0), " +
        "sym AS (SELECT doc_a AS doc_id, doc_b AS partner FROM pr " +
        "UNION ALL SELECT doc_b, doc_a FROM pr), " +
        // null-safe group comparison, matching the engine's <=> cross test
        "fl AS (SELECT sym.doc_id AS doc_id, " +
        "max(CASE WHEN m2.source IS DISTINCT FROM m1.source " +
        "THEN 1 ELSE 0 END) AS cr " +
        "FROM sym JOIN meta m1 ON sym.doc_id = m1.doc_id " +
        "JOIN meta m2 ON sym.partner = m2.doc_id GROUP BY sym.doc_id) " +
        "SELECT m.source AS source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(CASE WHEN fl.doc_id IS NOT NULL THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_dup_docs, " +
        "CAST(sum(coalesce(cr, 0)) AS BIGINT) AS n_cross_dup_docs, " +
        "CAST(sum(CASE WHEN fl.doc_id IS NOT NULL THEN 1 ELSE 0 END) " +
        "* 1000000 // count(*) AS BIGINT) AS dup_x1e6 " +
        "FROM meta m LEFT JOIN fl ON m.doc_id = fl.doc_id " +
        "GROUP BY m.source"),
    // CC over the near-dup pairs: min reachable node per node, computed by
    // a recursive CTE — a genuinely different algorithm than the engine's
    // iterative label propagation, so convergence itself is cross-checked
    "q_dedup_components" ->
      ("WITH RECURSIVE " +
        s"pairs AS (SELECT doc_a, doc_b FROM ($duckMinhashNearDupSql)), " +
        "edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs " +
        "UNION SELECT doc_b, doc_a FROM pairs), " +
        "nodes AS (SELECT DISTINCT s AS id FROM edges), " +
        "reach(id, r) AS (SELECT id, id FROM nodes UNION " +
        "SELECT reach.id, edges.d FROM reach JOIN edges " +
        "ON edges.s = reach.r) " +
        "SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id"),
    "q_dedup_keep" ->
      ("WITH RECURSIVE " +
        s"pairs AS (SELECT doc_a, doc_b FROM ($duckMinhashNearDupSql)), " +
        "edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs " +
        "UNION SELECT doc_b, doc_a FROM pairs), " +
        "nodes AS (SELECT DISTINCT s AS id FROM edges), " +
        "reach(id, r) AS (SELECT id, id FROM nodes UNION " +
        "SELECT reach.id, edges.d FROM reach JOIN edges " +
        "ON edges.s = reach.r), " +
        "dropped AS (SELECT id FROM (SELECT id, min(r) AS component " +
        "FROM reach GROUP BY id) WHERE id != component), " +
        s"corpus AS ($duckDocsWithMutants) " +
        "SELECT doc_id FROM corpus WHERE doc_id NOT IN " +
        "(SELECT id FROM dropped)"),
    // same recursive-CTE components as q_dedup_components, then the
    // winner per component re-derived with a row_number ranking (score
    // DESC, doc_id ASC) — a different mechanism than the engine's
    // max(struct) aggregate, cross-checking the tie-break too
    "q_dedup_canonical" ->
      ("WITH RECURSIVE " +
        s"pairs AS (SELECT doc_a, doc_b FROM ($duckMinhashNearDupSql)), " +
        "edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs " +
        "UNION SELECT doc_b, doc_a FROM pairs), " +
        "nodes AS (SELECT DISTINCT s AS id FROM edges), " +
        "reach(id, r) AS (SELECT id, id FROM nodes UNION " +
        "SELECT reach.id, edges.d FROM reach JOIN edges " +
        "ON edges.s = reach.r), " +
        "comp AS (SELECT id AS doc_id, min(r) AS component " +
        "FROM reach GROUP BY id), " +
        s"corpus AS ($duckDocsWithMutants), " +
        "q AS (SELECT doc_id, " +
        "CAST(list_sum(list_transform(string_split(text, ' '), " +
        "x -> length(x))) AS BIGINT) * 100 " +
        "// len(string_split(text, ' ')) AS score FROM corpus), " +
        "member AS (SELECT c.doc_id, c.component, q.score " +
        "FROM comp c JOIN q USING (doc_id)), " +
        "best AS (SELECT component, doc_id AS canonical_id FROM (" +
        "SELECT component, doc_id, row_number() OVER (" +
        "PARTITION BY component ORDER BY score DESC, doc_id) AS rn " +
        "FROM member) WHERE rn = 1), " +
        "mapped AS (SELECT m.doc_id, b.canonical_id FROM member m " +
        "JOIN best b USING (component)) " +
        "SELECT d.doc_id, coalesce(mp.canonical_id, d.doc_id) " +
        "AS canonical_id FROM corpus d LEFT JOIN mapped mp " +
        "USING (doc_id)"),
    "q_semantic_dedup" -> duckSemanticDedupSql,
    "q_incremental_neardup" -> duckIncrementalNearDupSql,
    // same fixture, same output contract — the prod path must be
    // row-identical to the recompute, so it shares the oracle verbatim
    "q_incremental_neardup_prod" -> duckIncrementalNearDupSql,
    "q_landing_pipeline" -> duckLandingPipelineSql,
    "q_epoch_refresh" -> duckEpochRefreshSql,
    "q_epoch_refresh_prod" -> duckEpochRefreshProdSql,
    // the index-composed chain must be row-identical to the inline one
    // (same statuses, same splits), so it shares the oracle verbatim —
    // a drifted append or lossy index round-trip hash-mismatches here
    "q_epoch_refresh_idx" -> duckEpochRefreshSql,
    // the FULL three-store chain (digest + nd index + span bank,
    // compaction interleaved mid-chain) must also be row-identical —
    // the oracle knows no stores and no compaction, so hash-green here
    // certifies the composed lifecycle changed no verdict
    "q_epoch_refresh_full" -> duckEpochRefreshSql,
    "q_epoch_span_full" -> duckEpochSpanFullSql,
  )

  /** Ivf.clusterStats replayed: the same static-centroid argmin (fixed
    * fold order, first-index tie-break) plus the full |v−c|² = v·v + m
    * per row; ×10⁶-rounded distances are integer-valued doubles, so the
    * BIGINT cast truncation/rounding difference between engines is moot
    * and min/max are order-insensitive. */
  private lazy val duckClusterStatsSql: String = {
    val cents = graft.ops.Ivf.staticCentroids(16, 64)
    val dcols = cents.map { case (i, c) =>
      val lit = c.mkString("[", ", ", "]")
      s"(${duckDot("e", lit)} * -2.0 + ${c.map(x => x * x).sum}) AS d$i"
    }.mkString(", ")
    val m = cents.indices.map(i => s"d$i").mkString("least(", ", ", ")")
    val argmin = "CASE " +
      cents.indices.map(i => s"WHEN d$i = m THEN $i").mkString(" ") + " END"
    "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e " +
      "FROM embeddings), " +
      s"scored AS (SELECT vec_id, e, $dcols FROM v), " +
      s"withm AS (SELECT *, $m AS m FROM scored), " +
      s"a AS (SELECT $argmin AS cluster, " +
      s"CAST(round((${duckDot("e", "e")} + m) * 1000000.0, 0) " +
      "AS BIGINT) AS d2 FROM withm) " +
      "SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs, " +
      "min(d2) AS min_d2_x1e6, max(d2) AS max_d2_x1e6 " +
      "FROM a GROUP BY cluster"
  }

  /** Ivf.clusterCap replayed with a row_number window (a different
    * mechanism than the engine's bounded TopKAgg buffers — the ranking
    * semantics are cross-checked, not just the survivor set): same
    * static-centroid argmin, same ascending (portable hash, vec_id)
    * order, keep rank ≤ 8. */
  private lazy val duckClusterCapSql: String = {
    val cents = graft.ops.Ivf.staticCentroids(16, 64)
    val dcols = cents.map { case (i, c) =>
      val lit = c.mkString("[", ", ", "]")
      s"(${duckDot("e", lit)} * -2.0 + ${c.map(x => x * x).sum}) AS d$i"
    }.mkString(", ")
    val m = cents.indices.map(i => s"d$i").mkString("least(", ", ", ")")
    val argmin = "CASE " +
      cents.indices.map(i => s"WHEN d$i = m THEN $i").mkString(" ") + " END"
    "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e " +
      "FROM embeddings), " +
      s"scored AS (SELECT vec_id, e, $dcols FROM v), " +
      s"withm AS (SELECT *, $m AS m FROM scored), " +
      s"a AS (SELECT vec_id, $argmin AS cluster FROM withm), " +
      "r AS (SELECT cluster, vec_id, row_number() OVER (" +
      "PARTITION BY cluster ORDER BY " +
      OracleSql.pHash("'cap:' || vec_id") + ", vec_id) AS rk FROM a) " +
      "SELECT cluster, CAST(rk AS INT) AS rk, vec_id FROM r WHERE rk <= 8"
  }

  /** SemDeDup replayed exactly: the same static-centroid argmin assignment
    * as q_knn_ivf_static's oracle, then an EXHAUSTIVE within-cluster pair
    * scan with the identical fixed-order cosine — re-proving the engine's
    * cluster-blocked self-join finds precisely the ≥-threshold pairs. */
  private lazy val duckSemanticDedupSql: String = {
    val cents = graft.ops.Ivf.staticCentroids(16, 64)
    val dcols = cents.map { case (i, c) =>
      val lit = c.mkString("[", ", ", "]")
      s"(${duckDot("e", lit)} * -2.0 + ${c.map(x => x * x).sum}) AS d$i"
    }.mkString(", ")
    val m = cents.indices.map(i => s"d$i").mkString("least(", ", ", ")")
    val argmin = "CASE " +
      cents.indices.map(i => s"WHEN d$i = m THEN $i").mkString(" ") + " END"
    "WITH base AS (SELECT vec_id, embedding FROM embeddings " +
      "UNION ALL SELECT vec_id + 1000000, " +
      "list_transform(embedding, (x, i) -> CASE WHEN i = 1 " +
      "THEN CAST(CAST(x AS DOUBLE) * 1.2000000476837158 AS FLOAT) " +
      "ELSE x END) FROM embeddings), " +
      "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM base), " +
      s"scored AS (SELECT vec_id, e, $dcols FROM v), " +
      s"withm AS (SELECT *, $m AS m FROM scored), " +
      s"assigned AS (SELECT vec_id, e, $argmin AS cluster FROM withm), " +
      "dropped AS (SELECT DISTINCT b.vec_id FROM assigned a " +
      "JOIN assigned b ON a.cluster = b.cluster AND a.vec_id < b.vec_id " +
      "WHERE " + duckDot("a.e", "b.e") + " / (sqrt(" +
      duckDot("a.e", "a.e") + ") * sqrt(" + duckDot("b.e", "b.e") +
      ")) >= 0.9) " +
      "SELECT a.vec_id, a.cluster, d.vec_id IS NULL AS kept " +
      "FROM assigned a LEFT JOIN dropped d ON d.vec_id = a.vec_id"
  }

  /** The incremental near-dup screen replayed end to end: batch and corpus
    * each get the full shingle→minhash→band chain (same literals as the
    * self-join oracle), the cross-relation (band, key) join, and the
    * integer-Jaccard verification. */
  /** The MinHash screen's CTE chain over an arbitrary (doc_id, text) CTE:
    * tokens → hashed 2-shingles → exploded hashes → k=64 signature →
    * band rows, all prefixed `p` so two chains coexist in one query.
    * Shared by the incremental screen and the landing pipeline oracles. */
  private def duckNearDupChain(docsCte: String, p: String): String =
    s"${p}toks AS (SELECT doc_id, string_split(text,' ') AS t " +
      s"FROM $docsCte), " +
      s"${p}shs AS (SELECT doc_id, list_distinct(list_transform(" +
      s"$duckShingle2, s -> ${duckPolyHash("s", 31L)})) AS sh " +
      s"FROM ${p}toks), " +
      s"${p}hx AS (SELECT doc_id, unnest(sh) AS h FROM ${p}shs), " +
      s"${p}sig AS (SELECT doc_id, [$duckMinhashMins] AS sig " +
      s"FROM ${p}hx GROUP BY doc_id), " +
      s"${p}band AS (${duckBandSelectsOf(p + "sig")})"

  /** The landing chain restated end-to-end: the same recrawl batch
    * construction, the gopher-gate conjunction (as in q_gopher_rules'
    * oracle), sha-256 window-min within-batch dedup + corpus NOT IN,
    * then the full MinHash band/verify chain of the near-dup screen —
    * terminal status per landed doc. The oracle reads `documents`
    * directly where the engine read its own landing JSONL and published
    * parquet, so a lossy store would hash-mismatch here. */
  /** The gopher-gate conjunction over a split-token list alias `t` —
    * shared by the landing-pipeline and epoch-refresh oracles. */
  private val duckGopherPass: String =
    "len(t) >= 20 AND len(t) <= 100000 AND " +
      "list_sum(list_transform(t, x -> length(x))) * 100 // len(t) " +
      "BETWEEN 300 AND 1000 AND " +
      "len(list_filter(t, x -> regexp_matches(x, '^[^A-Za-z0-9]+$'))) " +
      "* 10 <= len(t) AND " +
      "len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) * 5 >= " +
      "len(t) * 4 AND " +
      "len(list_filter(t, x -> x IN ('the', 'a', 'of', 'to', 'in'))) >= 2"

  private lazy val duckLandingPipelineSql: String = {
    val gopherPass = duckGopherPass
    "WITH corpus AS (SELECT doc_id, text FROM documents), " +
      "batch AS (SELECT orig + 1000000 AS doc_id, " +
      "CASE WHEN orig % 3 = 0 THEN text " +
      "WHEN orig % 3 = 1 THEN regexp_replace(text, '^[^ ]* ', '') " +
      "ELSE translate(text, 'sr', '59') END AS text FROM " +
      "(SELECT doc_id AS orig, text FROM documents)), " +
      "g AS (SELECT doc_id, text FROM (SELECT doc_id, text, " +
      s"string_split(text, ' ') AS t FROM batch) WHERE $gopherPass), " +
      "dg AS (SELECT doc_id, text, sha256(lower(text)) AS d FROM g), " +
      "ek AS (SELECT doc_id, text FROM (SELECT doc_id, text, d, " +
      "min(doc_id) OVER (PARTITION BY d) AS k FROM dg) " +
      "WHERE doc_id = k AND d NOT IN " +
      "(SELECT sha256(lower(text)) FROM corpus)), " +
      duckNearDupChain("ek", "b") + ", " +
      duckNearDupChain("corpus", "c") + ", " +
      "cand AS (SELECT DISTINCT b.doc_id AS doc_id, c.doc_id " +
      "AS corpus_id FROM bband b JOIN cband c " +
      "ON b.band = c.band AND b.key = c.key), " +
      "ver AS (SELECT cand.doc_id, CAST(count(*) AS BIGINT) AS n " +
      "FROM cand JOIN bshs x ON x.doc_id = cand.doc_id " +
      "JOIN cshs y ON y.doc_id = cand.corpus_id " +
      "WHERE len(list_intersect(x.sh, y.sh)) * 10 >= " +
      "(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) * 7 " +
      "GROUP BY cand.doc_id) " +
      "SELECT b.doc_id, CASE WHEN g.doc_id IS NULL THEN 'screened' " +
      "WHEN e.doc_id IS NULL THEN 'dup_exact' " +
      "WHEN coalesce(v.n, 0) > 0 THEN 'dup_near' " +
      "ELSE 'published' END AS status " +
      "FROM batch b LEFT JOIN g ON g.doc_id = b.doc_id " +
      "LEFT JOIN ek e ON e.doc_id = b.doc_id " +
      "LEFT JOIN ver v ON v.doc_id = b.doc_id"
  }

  /** Spark's integer `div` (truncation toward ZERO) + pmod, rendered
    * portably: DuckDB's `//` FLOORS, which diverges for negative
    * numerators — exactly the published ids < 1000002 that the epoch-2
    * class expression can see (p = orig + 10⁶ with orig ∈ {0, 1}). For
    * a ≥ 0, floor = trunc, so trunc(-a/3) = -(a // 3). */
  private def duckCls(p: String): String = {
    val a = s"(($p) - 1000002)"
    val q = s"(CASE WHEN $a >= 0 THEN $a // 3 ELSE -((-$a) // 3) END)"
    s"((($q % 3) + 3) % 3)"
  }

  /** The epoch-refresh chain (q_epoch_refresh) replayed END TO END in
    * one DuckDB query over `documents`: epoch 1's full landing chain
    * (gopher gate → window-min + corpus-NOT-IN exact dedup → banded
    * MinHash near-dup screen → publish + split), then epoch 2's batch
    * DERIVED FROM THE ORACLE'S OWN epoch-1 publish decision (verbatim /
    * first-token-dropped / td→78 rewrite keyed on [[duckCls]]) screened
    * against the REFRESHED corpus (base ∪ epoch-1 publishes). Because
    * the engine reads its epoch-1 publishes back from the PUBLISHED
    * STORE while the oracle re-derives them relationally, a lossy store
    * round-trip, a wrong refresh union, or a cls divergence all
    * hash-mismatch here. */
  // ---- the epoch oracles' shared CTE builders. MATERIALIZED on every
  // multi-referenced CTE: DuckDB 1.0 INLINES CTEs at each reference, and
  // epoch 2's corpus embeds epoch 1's ENTIRE chain (pub1), so plain
  // CTEs re-expand the epoch-1 subplan at every epoch-2 reference —
  // measured minutes at sf0.001 vs seconds materialized. (The landing
  // oracle tolerates inlining only because its chain is one epoch deep.)
  // ONE definition each: duckEpochRefreshSql and duckEpochCtesThroughG2
  // both embed these, and duckMatChain's string surgery must track
  // duckNearDupChain's exact formatting — a second copy drifting would
  // re-open the re-expansion cliff in just one oracle.

  private def duckEpochGate(batch: String, g: String) =
    s"$g AS MATERIALIZED (SELECT doc_id, text FROM (SELECT doc_id, " +
      s"text, string_split(text, ' ') AS t FROM $batch) " +
      s"WHERE $duckGopherPass)"

  private def duckEpochExactKept(g: String, corpus: String, ek: String) =
    s"$ek AS MATERIALIZED (SELECT doc_id, text FROM (SELECT doc_id, " +
      "text, d, min(doc_id) OVER (PARTITION BY d) AS k FROM " +
      s"(SELECT doc_id, text, sha256(lower(text)) AS d FROM $g)) " +
      "WHERE doc_id = k AND d NOT IN " +
      s"(SELECT sha256(lower(text)) FROM $corpus))"

  // the shared chain's shs/sig/band CTEs are each referenced twice
  // (hx + verify; sig + band) — materialize them too. Each replace must
  // actually FIRE: if duckNearDupChain's generated formatting drifted,
  // a silent no-op here would reopen the measured minutes-long CTE
  // re-expansion cliff with zero signal (ADVICE r17).
  private def duckMatChain(docsCte: String, p: String): String =
    Seq(s"${p}shs AS (", s"${p}sig AS (", s"${p}band AS (")
      .foldLeft(duckNearDupChain(docsCte, p)) { (sql, cte) =>
        val out = sql.replace(cte, cte.dropRight(1) + "MATERIALIZED (")
        require(out != sql,
          s"duckMatChain: '$cte' not found in duckNearDupChain output — " +
            "formatting drifted; the MATERIALIZED patch would silently " +
            "no-op and re-expand the epoch CTEs")
        out
      }

  private def duckEpochVerify(pb: String, pc: String, cand: String,
      ver: String) =
    s"$cand AS MATERIALIZED (SELECT DISTINCT b.doc_id AS doc_id, " +
      s"c.doc_id AS corpus_id FROM ${pb}band b JOIN ${pc}band c " +
      "ON b.band = c.band AND b.key = c.key), " +
      s"$ver AS MATERIALIZED (SELECT $cand.doc_id, " +
      "CAST(count(*) AS BIGINT) AS n " +
      s"FROM $cand JOIN ${pb}shs x ON x.doc_id = $cand.doc_id " +
      s"JOIN ${pc}shs y ON y.doc_id = $cand.corpus_id " +
      "WHERE len(list_intersect(x.sh, y.sh)) * 10 >= " +
      "(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) * 7 " +
      s"GROUP BY $cand.doc_id)"

  private lazy val duckEpochRefreshSql: String = {
    def status(epoch: Int, batch: String, g: String, ek: String,
        ver: String, st: String) =
      s"$st AS (SELECT CAST($epoch AS BIGINT) AS epoch, b.doc_id, " +
        "CASE WHEN g.doc_id IS NULL THEN 'screened' " +
        "WHEN e.doc_id IS NULL THEN 'dup_exact' " +
        "WHEN coalesce(v.n, 0) > 0 THEN 'dup_near' " +
        "ELSE 'published' END AS status, " +
        "CASE WHEN g.doc_id IS NOT NULL AND e.doc_id IS NOT NULL " +
        "AND coalesce(v.n, 0) = 0 THEN " +
        duckSplitCase(duckSplitBucket("b.doc_id")) + " END AS split " +
        s"FROM $batch b LEFT JOIN $g g ON g.doc_id = b.doc_id " +
        s"LEFT JOIN $ek e ON e.doc_id = b.doc_id " +
        s"LEFT JOIN $ver v ON v.doc_id = b.doc_id)"
    "WITH " + duckEpochCtesThroughG2 + ", " +
      duckEpochExactKept("g2", "corpus2", "ek2") + ", " +
      duckMatChain("ek2", "e2") + ", " +
      duckMatChain("corpus2", "c2") + ", " +
      duckEpochVerify("e2", "c2", "cand2", "ver2") + ", " +
      status(1, "b1", "g1", "ek1", "ver1", "st1") + ", " +
      status(2, "b2", "g2", "ek2", "ver2", "st2") + " " +
      "SELECT epoch, doc_id, status, split FROM st1 " +
      "UNION ALL SELECT epoch, doc_id, status, split FROM st2"
  }

  /** The full chain's span-rung oracle: both epochs' published docs'
    * window coverage, each against the span bank AS OF its screen —
    * epoch 1 vs the base corpus's windows, epoch 2 vs the refreshed
    * corpus's (base ∪ pub1, which is exactly what the engine's
    * append-then-compact left in the persisted bank). The span replay
    * is q_span_screen's (windowTokens = 8: pHash2 over the joined
    * 8-token window, ×8 coverage explosion, DISTINCT interval union),
    * re-based onto the epoch CTEs' pub1/pub2 instead of the %5
    * fixture. */
  private lazy val duckEpochSpanFullSql: String = {
    def spanChain(p: String, batchCte: String, corpusCte: String) =
      s"${p}t AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') " +
        s"AS l FROM $batchCte), " +
        s"${p}bank AS MATERIALIZED (SELECT DISTINCT u.h AS h FROM (" +
        "SELECT unnest(list_transform(" +
        "range(0, greatest(len(l) - 7, 0)), " +
        s"i -> {'h': ${OracleSql.pHash2(
          "array_to_string(l[(i+1):(i+8)], ' ')")}})) AS u " +
        s"FROM (SELECT string_split(text, ' ') AS l FROM $corpusCte))), " +
        s"${p}occ AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM (" +
        "SELECT doc_id, unnest(list_transform(" +
        "range(0, greatest(len(l) - 7, 0)), " +
        s"i -> {'pos': i, 'h': ${OracleSql.pHash2(
          "array_to_string(l[(i+1):(i+8)], ' ')")}})) AS u " +
        s"FROM ${p}t)), " +
        s"${p}cov AS (SELECT DISTINCT doc_id, pos + off AS tokpos " +
        s"FROM ${p}occ JOIN ${p}bank USING (h) " +
        "CROSS JOIN (SELECT unnest(range(0, 8)) AS off)), " +
        s"${p}tok AS (SELECT doc_id, u.pos AS pos FROM (" +
        "SELECT doc_id, unnest(list_transform(range(0, len(l)), " +
        s"i -> {'pos': i})) AS u FROM ${p}t))"
    def spanSelect(p: String, epoch: Int) =
      s"SELECT CAST($epoch AS BIGINT) AS epoch, " +
        s"${p}tok.doc_id AS doc_id, " +
        "CAST(count(*) AS BIGINT) AS n_tokens, " +
        "CAST(sum(CASE WHEN tokpos IS NOT NULL THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_dup_tokens, " +
        "CAST(sum(CASE WHEN tokpos IS NOT NULL THEN 1 ELSE 0 END) " +
        "* 1000000 // count(*) AS BIGINT) AS dup_x1e6 " +
        s"FROM ${p}tok LEFT JOIN ${p}cov " +
        s"ON ${p}tok.doc_id = ${p}cov.doc_id " +
        s"AND ${p}tok.pos = ${p}cov.tokpos " +
        s"GROUP BY ${p}tok.doc_id"
    "WITH " + duckEpochCtesThroughG2 + ", " +
      duckEpochExactKept("g2", "corpus2", "ek2") + ", " +
      duckMatChain("ek2", "e2") + ", " +
      duckMatChain("corpus2", "c2") + ", " +
      duckEpochVerify("e2", "c2", "cand2", "ver2") + ", " +
      "pub2 AS MATERIALIZED (SELECT ek2.doc_id, ek2.text FROM ek2 " +
      "LEFT JOIN ver2 ON ver2.doc_id = ek2.doc_id " +
      "WHERE coalesce(ver2.n, 0) = 0), " +
      spanChain("s1", "pub1", "corpus") + ", " +
      spanChain("s2", "pub2", "corpus2") + " " +
      spanSelect("s1", 1) + " UNION ALL " + spanSelect("s2", 2)
  }

  /** The epoch chain's shared CTE prefix — epoch 1 end-to-end through
    * its publish decision (pub1), the refreshed corpus (corpus2), and
    * epoch 2's derived batch through the gopher gate (g2). Embedded by
    * [[duckEpochRefreshSql]] (full both-epoch statuses) and the
    * production-shape exact-screen oracle (q_epoch_refresh_prod). */
  private lazy val duckEpochCtesThroughG2: String = {
    "corpus AS MATERIALIZED (SELECT doc_id, text FROM documents), " +
      "b1 AS MATERIALIZED (SELECT orig + 1000000 AS doc_id, " +
      "CASE WHEN orig % 3 = 0 THEN text " +
      "WHEN orig % 3 = 1 THEN regexp_replace(text, '^[^ ]* ', '') " +
      "ELSE translate(text, 'sr', '59') END AS text FROM " +
      "(SELECT doc_id AS orig, text FROM documents)), " +
      duckEpochGate("b1", "g1") + ", " +
      duckEpochExactKept("g1", "corpus", "ek1") + ", " +
      duckMatChain("ek1", "e1") + ", " +
      duckMatChain("corpus", "c1") + ", " +
      duckEpochVerify("e1", "c1", "cand1", "ver1") + ", " +
      "pub1 AS MATERIALIZED (SELECT ek1.doc_id, ek1.text FROM ek1 " +
      "LEFT JOIN ver1 ON ver1.doc_id = ek1.doc_id " +
      "WHERE coalesce(ver1.n, 0) = 0), " +
      "corpus2 AS MATERIALIZED (SELECT doc_id, text FROM corpus " +
      "UNION ALL SELECT doc_id, text FROM pub1), " +
      "b2 AS MATERIALIZED (SELECT p + 1000000 AS doc_id, " +
      "CASE WHEN cls = 0 THEN text " +
      "WHEN cls = 1 THEN regexp_replace(text, '^[^ ]* ', '') " +
      "ELSE translate(text, 'td', '78') END AS text FROM " +
      s"(SELECT doc_id AS p, ${duckCls("doc_id")} AS cls, text " +
      "FROM pub1)), " +
      duckEpochGate("b2", "g2")
  }

  /** q_epoch_refresh_prod restated: epoch 2's per-gopher-survivor exact
    * verdict — first in-batch occurrence of the digest AND unseen in
    * the refreshed corpus (re-derived relationally where the engine
    * reads its bucketed digest store, so a lossy bucketed write
    * hash-mismatches here). */
  private lazy val duckEpochRefreshProdSql: String =
    "WITH " + duckEpochCtesThroughG2 + ", " +
      "dg2 AS (SELECT doc_id, d, min(doc_id) OVER (PARTITION BY d) " +
      "AS k FROM (SELECT doc_id, sha256(lower(text)) AS d FROM g2)) " +
      "SELECT doc_id, (doc_id = k AND d NOT IN " +
      "(SELECT sha256(lower(text)) FROM corpus2)) AS kept_exact FROM dg2"

  private lazy val duckIncrementalNearDupSql: String = {
    def chain(docsCte: String, p: String) = duckNearDupChain(docsCte, p)
    "WITH corpus AS (SELECT doc_id, text FROM documents), " +
      // subquery isolates the ORIGINAL id: DuckDB lateral aliases would
      // otherwise bind doc_id % 2 to the shifted output column
      "batch AS (SELECT orig + 1000000 AS doc_id, " +
      "CASE WHEN orig % 2 = 0 THEN regexp_replace(text, '^[^ ]* ', '') " +
      "ELSE translate(text, 'aeiou', '01234') END AS text FROM " +
      "(SELECT doc_id AS orig, text FROM documents)), " +
      chain("batch", "b") + ", " + chain("corpus", "c") + ", " +
      "cand AS (SELECT DISTINCT b.doc_id AS doc_id, c.doc_id AS corpus_id " +
      "FROM bband b JOIN cband c ON b.band = c.band AND b.key = c.key), " +
      "ver AS (SELECT cand.doc_id, CAST(count(*) AS BIGINT) AS n " +
      "FROM cand JOIN bshs x ON x.doc_id = cand.doc_id " +
      "JOIN cshs y ON y.doc_id = cand.corpus_id " +
      "WHERE len(list_intersect(x.sh, y.sh)) * 10 >= " +
      "(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) * 7 " +
      "GROUP BY cand.doc_id) " +
      "SELECT b.doc_id, coalesce(v.n, 0) AS n_corpus_dups, " +
      "coalesce(v.n, 0) = 0 AS kept " +
      "FROM batch b LEFT JOIN ver v USING (doc_id)"
  }

  private lazy val duckMinhashNearDupSql: String =
      (s"WITH docs AS ($duckDocsWithMutants), " +
        "toks AS (SELECT doc_id, string_split(text,' ') AS t FROM docs), " +
        "shs AS (SELECT doc_id, list_distinct(list_transform(" +
        s"$duckShingle2, s -> ${duckPolyHash("s", 31L)})) AS sh FROM toks), " +
        "hx AS (SELECT doc_id, unnest(sh) AS h FROM shs), " +
        s"sig AS (SELECT doc_id, [$duckMinhashMins] AS sig " +
        "FROM hx GROUP BY doc_id), " +
        s"bands AS ($duckBandSelects), " +
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
        "FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key " +
        "AND a.doc_id < b.doc_id) " +
        "SELECT doc_a, doc_b, " +
        "CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) AS n_inter, " +
        "CAST(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) " +
        "AS BIGINT) AS n_union " +
        "FROM cand JOIN shs x ON x.doc_id = cand.doc_a " +
        "JOIN shs y ON y.doc_id = cand.doc_b " +
        "WHERE len(list_intersect(x.sh, y.sh)) * 10 >= " +
        "(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) * 7")

  /** Recursive-CTE canonical-cluster chain over an arbitrary docs CTE —
    * exhaustive pairs over DISTINCT signatures + transitive reach, a
    * different algorithm than the engine's rep-collapse + label
    * propagation. Emits the CTE BODY (no WITH prefix — callers embed it
    * after "WITH RECURSIVE"; `reach` is the recursive member); CTE names
    * used: docs, tok, h, sim, rep, edges, nodes, reach, comp. Finish
    * with [[duckCanonSelect]] (or wrap it as a CTE). */
  private def duckCanonicalCtesBodyOf(docsCte: String): String =
    duckSimhashOf(docsCte).stripPrefix("WITH ") +
      ", rep AS (SELECT sh, min(doc_id) AS rep_id FROM sim " +
      "WHERE sh IS NOT NULL GROUP BY sh), " +
      "edges AS (SELECT a.rep_id AS s, b.rep_id AS d FROM rep a " +
      "JOIN rep b ON a.rep_id <> b.rep_id " +
      "AND bit_count(xor(a.sh, b.sh)) <= 6), " +
      "nodes AS (SELECT DISTINCT s AS id FROM edges), " +
      "reach(id, r) AS (SELECT id, id FROM nodes UNION " +
      "SELECT reach.id, edges.d FROM reach JOIN edges " +
      "ON edges.s = reach.r), " +
      "comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)"

  /** [[duckCanonicalCtesBodyOf]] over the mutant corpus, with the WITH
    * prefix — shared by the cluster-map oracle and the two split
    * oracles. */
  private lazy val duckSimhashCanonicalCtes: String =
    "WITH RECURSIVE " + duckCanonicalCtesBodyOf(duckDocsWithMutants)

  /** (doc_id, canonical_id) off [[duckSimhashCanonicalCtes]]. NULL-text
    * docs carry a NULL sh and self-label — the engine's r13 semantics
    * (Dedup.simhashCanonical), restated so a NULL-text corpus would
    * diverge loudly rather than silently drop rows on one side only. */
  private val duckCanonSelect: String =
    "SELECT sim.doc_id AS doc_id, " +
      "coalesce(comp.component, rep.rep_id) AS canonical_id " +
      "FROM sim JOIN rep ON sim.sh = rep.sh " +
      "LEFT JOIN comp ON rep.rep_id = comp.id " +
      "UNION ALL SELECT doc_id, doc_id FROM sim WHERE sh IS NULL"

  /** polyHash(id) % 100 — the q_train_split bucket, rendered through the
    * ONE shared [[OracleSql.pHash]] string (no divergent copies). */
  private def duckSplitBucket(idExpr: String): String =
    OracleSql.pHash(idExpr) + " % 100"

  /** q_manifest's rolling-hash checksum with the EMPTY-TEXT guard: the
    * engine's `ascii('')` is 0 (fingerprint('') = 0) while DuckDB's
    * `ord('')` is −1 — invisible on corpora with no empty texts, but the
    * curation chain's fully-decontaminated docs have `clean_text = ''`. */
  private def duckFingerprint(textExpr: String): String =
    s"CASE WHEN length($textExpr) = 0 THEN CAST(0 AS BIGINT) ELSE " +
      "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($textExpr, ''), " +
      "ch -> CAST(ord(ch) AS BIGINT))), " +
      "(acc, x) -> (acc * 31 + x) % 1000000007) END"

  /** The q_decontaminate segmentation rendering over a (doc_id, l) CTE
    * (l = the token list): one row per non-overlapping 8-token segment
    * with its position. */
  private def duckSegmentsOf(srcCte: String): String =
    "SELECT doc_id, u.pos AS pos, u.seg AS seg FROM (" +
      "SELECT doc_id, unnest(list_transform(range(0, (len(l)+7)//8), " +
      "i -> {'pos': i, 'seg': array_to_string(l[(i*8+1):(i*8+8)], ' ')}" +
      s")) AS u FROM $srcCte)"

  /** The composed curation-chain oracle — see the q_curation_chain map
    * entry for the stage list. Parameters mirror
    * [[graft.ops.Curation.curationChain]]'s defaults exactly (minTokens
    * 20, maxHamming 6, segTokens 8, α 0.5, target 300, capacity 2048,
    * 32 shards). */
  private lazy val duckCurationChainSql: String = {
    import OracleSql.pHash
    "WITH RECURSIVE " +
      // the mutant corpus WITH sources (mutants inherit their base's)
      "corpus AS (SELECT doc_id, source, text FROM documents UNION ALL " +
      "SELECT doc_id + 1000000, source, " +
      "regexp_replace(text, '^[^ ]* ', '') FROM documents), " +
      // stage 1: gopher gate (q_gopher_rules' rule rendering)
      "gt AS (SELECT doc_id, string_split(text, ' ') AS toks " +
      "FROM corpus), " +
      "gsig AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, " +
      "CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) " +
      "* 100 AS chars100, " +
      "CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) " +
      "AS BIGINT) AS n_alpha, " +
      "CAST(len(list_filter(toks, x -> " +
      "regexp_matches(x, '^[^A-Za-z0-9]+$'))) AS BIGINT) AS n_sym, " +
      "CAST(len(list_filter(toks, x -> " +
      "x IN ('the', 'a', 'of', 'to', 'in'))) AS BIGINT) AS n_stop " +
      "FROM gt), " +
      "g AS (SELECT doc_id FROM gsig WHERE n_tokens >= 20 " +
      "AND n_tokens <= 100000 AND chars100 // n_tokens >= 300 " +
      "AND chars100 // n_tokens <= 1000 AND n_sym * 10 <= n_tokens " +
      "AND n_alpha * 5 >= n_tokens * 4 AND n_stop >= 2), " +
      "s0 AS (SELECT c.* FROM corpus c JOIN g USING (doc_id)), " +
      // stage 2: digest dedup, NULL digests pass through
      "kd AS (SELECT doc_id FROM (SELECT doc_id, " +
      "sha256(lower(text)) AS dig, min(doc_id) OVER (" +
      "PARTITION BY sha256(lower(text))) AS keep FROM s0) " +
      "WHERE dig IS NULL OR doc_id = keep), " +
      "s1 AS (SELECT s0.* FROM s0 JOIN kd USING (doc_id)), " +
      // stage 3: canonical clusters over the survivors (recursive CTEs)
      duckCanonicalCtesBodyOf("SELECT doc_id, text FROM s1") + ", " +
      s"canon AS ($duckCanonSelect), " +
      "s2 AS (SELECT s1.* FROM s1 JOIN canon ON canon.doc_id = s1.doc_id " +
      "AND canon.canonical_id = s1.doc_id), " +
      // stage 4: segment decontamination vs the doc_id % 20 eval slice
      "t2 AS (SELECT doc_id, string_split(text, ' ') AS l FROM s2), " +
      s"seg AS (${duckSegmentsOf("t2")}), " +
      "ev AS (SELECT doc_id, string_split(text, ' ') AS l " +
      "FROM documents WHERE doc_id % 20 = 0), " +
      s"ban AS (SELECT DISTINCT seg FROM (${duckSegmentsOf("ev")})), " +
      "dj AS (SELECT s.doc_id, s.pos, s.seg, b.seg IS NOT NULL AS banned " +
      "FROM seg s LEFT JOIN ban b ON b.seg = s.seg), " +
      "dc AS (SELECT doc_id, coalesce(array_to_string(list_transform(" +
      "list_sort(list({'pos': pos, 'seg': seg}) " +
      "FILTER (WHERE NOT banned)), x -> x.seg), ' '), '') AS text " +
      "FROM dj GROUP BY doc_id), " +
      "s3 AS (SELECT dc.doc_id, s2.source, dc.text FROM dc " +
      "JOIN s2 ON s2.doc_id = dc.doc_id), " +
      // stage 5: leakage-safe TRAIN split keyed on the SAME cluster map
      "s4 AS (SELECT s3.* FROM s3 JOIN canon ON canon.doc_id = s3.doc_id " +
      s"WHERE ${duckSplitBucket("canonical_id")} < 80), " +
      // stage 6: temperature mix (q_temperature_mix's rendering, α=0.5,
      // target 300)
      "mc AS (SELECT source, CAST(count(*) AS BIGINT) AS c FROM s4 " +
      "GROUP BY source), " +
      "mw AS (SELECT source, c, pow(CAST(c AS DOUBLE), 0.5) AS w " +
      "FROM mc), " +
      "mt AS (SELECT sum(w) AS wsum FROM mw), " +
      "mr AS (SELECT source, least(CAST(1 AS DOUBLE), " +
      "CAST(300 AS DOUBLE) * w / (wsum * CAST(c AS DOUBLE))) AS rate " +
      "FROM mw CROSS JOIN mt), " +
      "s5 AS (SELECT s4.* FROM s4 JOIN mr USING (source) " +
      s"WHERE CAST(${pHash("'tmix:' || s4.doc_id")} * 2654435761 " +
      "% 1000000 AS DOUBLE) < rate * CAST(1000000 AS DOUBLE)), " +
      // stage 7: packing (q_packing's global-window prefix sum)
      "pd AS (SELECT doc_id, CAST(len(string_split(text, ' ')) " +
      s"AS BIGINT) AS n_tokens, ${pHash("doc_id")} AS h FROM s5), " +
      "po AS (SELECT doc_id, n_tokens, CAST(sum(n_tokens) OVER (" +
      "ORDER BY h % 32, h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING " +
      "AND CURRENT ROW) AS BIGINT) - n_tokens AS gstart FROM pd), " +
      "pa AS (SELECT s5.source, CAST(sum(po.n_tokens) AS BIGINT) " +
      "AS n_tokens, CAST(count(DISTINCT po.gstart // 2048) AS BIGINT) " +
      "AS n_bins FROM po JOIN s5 USING (doc_id) GROUP BY s5.source), " +
      // stage 8: manifest of the mixture (empty-text checksum guarded)
      "mf AS (SELECT source, count(*) AS n_docs, " +
      "CAST(sum(length(text)) AS BIGINT) AS n_chars_total, " +
      "min(doc_id) AS min_id, max(doc_id) AS max_id, " +
      s"CAST(sum(${duckFingerprint("text")}) AS BIGINT) " +
      "AS checksum_sum FROM s5 GROUP BY source) " +
      "SELECT mf.source AS source, mf.n_docs AS n_docs, " +
      "mf.n_chars_total AS n_chars_total, mf.min_id AS min_id, " +
      "mf.max_id AS max_id, mf.checksum_sum AS checksum_sum, " +
      "pa.n_tokens AS n_tokens, pa.n_bins AS n_bins " +
      "FROM mf JOIN pa USING (source)"
  }

  /** 80/10/10 bucket boundaries (TextAnalysis.splitAssign). */
  private def duckSplitCase(bucketExpr: String): String =
    s"CASE WHEN $bucketExpr < 80 THEN 'train' " +
      s"WHEN $bucketExpr < 90 THEN 'valid' ELSE 'test' END"

  /** Exhaustive all-pairs simhash scan (shared by the near-dup oracle and
    * the pair-metrics oracle). */
  private lazy val duckSimhashNearDupSql: String =
    duckSimhashOf(duckDocsWithMutants) +
      " SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
      "CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming " +
      "FROM sim a JOIN sim b ON a.doc_id < b.doc_id " +
      "WHERE bit_count(xor(a.sh, b.sh)) <= 6"

  private lazy val oracleVectorPart: Map[String, String] = Map(
    // per-vector min/max scaling in double (float→double widening exact);
    // floor sidesteps the engines' round-half conventions, and the fixed
    // ((x−mn)·255)/(mx−mn) operation order makes every code bit-identical
    "q_quantize" ->
      ("WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e " +
        "FROM embeddings), " +
        "m AS (SELECT vec_id, e, list_min(e) AS mn, list_max(e) AS mx " +
        "FROM v), " +
        "q AS (SELECT vec_id, len(e) AS n_dims, list_transform(e, " +
        "x -> CASE WHEN mx = mn THEN CAST(0 AS BIGINT) " +
        "ELSE CAST(floor((x - mn) * 255.0 / (mx - mn)) AS BIGINT) END) " +
        "AS codes FROM m) " +
        "SELECT vec_id, CAST(n_dims AS BIGINT) AS n_dims, " +
        "array_to_string(codes, ',') AS codes_csv, " +
        "CAST(list_sum(codes) AS BIGINT) AS checksum FROM q"),
    // the quantized-scan plan replayed stage-for-stage: identical codes
    // (see q_quantize), the same reconstructed-dot shortlist with the
    // (approx DESC, neighbor_id) tie-break, exact cosine on the shortlist
    "q_knn_sq8" ->
      ("WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e " +
        "FROM embeddings), " +
        "m AS (SELECT vec_id, e, list_min(e) AS mn, list_max(e) AS mx " +
        "FROM v), " +
        "qz AS (SELECT vec_id, e, mn, (mx - mn) / 255.0 AS delta, " +
        "list_transform(e, x -> CASE WHEN mx = mn THEN CAST(0 AS BIGINT) " +
        "ELSE CAST(floor((x - mn) * 255.0 / (mx - mn)) AS BIGINT) END) " +
        "AS codes FROM m), " +
        "qz2 AS (SELECT vec_id, e, mn, delta, codes, " +
        "CAST(list_sum(codes) AS BIGINT) AS sq FROM qz), " +
        "pairs AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, " +
        "a.e AS eq, b.e AS en, " +
        "CAST(len(a.codes) AS DOUBLE) * a.mn * b.mn " +
        "+ a.mn * b.delta * CAST(b.sq AS DOUBLE) " +
        "+ b.mn * a.delta * CAST(a.sq AS DOUBLE) " +
        "+ a.delta * b.delta * CAST(list_reduce(" +
        "list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(list_zip(a.codes, b.codes), z -> z[1] * z[2])), " +
        "(acc, x) -> acc + x) AS DOUBLE) AS approx " +
        "FROM qz2 a JOIN qz2 b ON a.vec_id < 10 " +
        "AND a.vec_id != b.vec_id), " +
        "short AS (SELECT query_id, neighbor_id, eq, en FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY approx DESC, neighbor_id) AS srk FROM pairs) " +
        "WHERE srk <= 32), " +
        "sims AS (SELECT query_id, neighbor_id, " +
        duckDot("eq", "en") + " / (sqrt(" + duckDot("eq", "eq") +
        ") * sqrt(" + duckDot("en", "en") + ")) AS sim FROM short) " +
        "SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim_r FROM (" +
        "SELECT query_id, neighbor_id, sim, CAST(row_number() OVER (" +
        "PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) " +
        "AS rank FROM sims) WHERE rank <= 5"),
    "q_simhash" ->
      (duckSimhashOf("SELECT doc_id, text FROM documents") +
        " SELECT doc_id, sh AS simhash FROM sim"),
    // the oracle is the EXHAUSTIVE quadratic scan — independently proving
    // the chunk-pair blocking's pigeonhole recall guarantee, not replaying
    // the blocked plan
    "q_simhash_neardup" -> duckSimhashNearDupSql,
    // exhaustive pairs over DISTINCT signatures + recursive-CTE reach —
    // a different algorithm than the engine's rep-collapse + label
    // propagation, cross-checking both the signature collapse and the
    // transitive closure
    "q_simhash_canonical" ->
      (duckSimhashCanonicalCtes + " " + duckCanonSelect),
    // cluster-keyed split: the same recursive-CTE cluster map, split by
    // the q_train_split hash rendering applied to canonical_id
    "q_split_safe" ->
      (duckSimhashCanonicalCtes +
        s", canon AS ($duckCanonSelect), " +
        "spl AS (SELECT doc_id, canonical_id, " +
        duckSplitCase(duckSplitBucket("canonical_id")) +
        " AS split FROM canon) " +
        "SELECT split, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(count(DISTINCT canonical_id) AS BIGINT) AS n_clusters " +
        "FROM spl GROUP BY split"),
    // the production shape reads the SAME cluster map back from its
    // bucketed table, so the independent recursive-CTE replay of
    // q_split_safe is the oracle for it too — a stronger check than
    // reading the engine's own map parquet
    "q_split_safe_prod" ->
      (duckSimhashCanonicalCtes +
        s", canon AS ($duckCanonSelect), " +
        "spl AS (SELECT doc_id, canonical_id, " +
        duckSplitCase(duckSplitBucket("canonical_id")) +
        " AS split FROM canon) " +
        "SELECT split, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(count(DISTINCT canonical_id) AS BIGINT) AS n_clusters " +
        "FROM spl GROUP BY split"),
    // leakage audit: exhaustive near-dup pairs (the `sim` CTE is shared
    // with the cluster chain) joined to both sides' naive and safe splits
    "q_split_leakage" ->
      (duckSimhashCanonicalCtes +
        s", canon AS ($duckCanonSelect), " +
        "spl AS (SELECT doc_id, " +
        duckSplitCase(duckSplitBucket("doc_id")) + " AS naive, " +
        duckSplitCase(duckSplitBucket("canonical_id")) +
        " AS safe FROM canon), " +
        "pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b " +
        "FROM sim a JOIN sim b ON a.doc_id < b.doc_id " +
        "WHERE bit_count(xor(a.sh, b.sh)) <= 6) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_pairs, " +
        "CAST(coalesce(sum(CASE WHEN pa.naive <> pb.naive " +
        "THEN 1 ELSE 0 END), 0) AS BIGINT) AS naive_leaked, " +
        "CAST(coalesce(sum(CASE WHEN pa.safe <> pb.safe " +
        "THEN 1 ELSE 0 END), 0) AS BIGINT) AS safe_leaked " +
        "FROM pairs JOIN spl pa ON pairs.doc_a = pa.doc_id " +
        "JOIN spl pb ON pairs.doc_b = pb.doc_id"),
    // the WHOLE curation chain restated: every stage's established
    // rendering (gopher gate, sha-256 window-min dedup, recursive-CTE
    // canonical clusters, q_decontaminate's segmentation, the split
    // hash on canonical_id, q_temperature_mix's rates, q_packing's
    // global-window prefix sum, q_manifest's rolling-hash checksum)
    // chained through one WITH list — verifying the COMPOSITION
    "q_curation_chain" -> duckCurationChainSql,
    // both pair sets re-derived through their own oracles (exhaustive
    // simhash scan vs the replayed minhash pipeline), then the same
    // integer precision/recall arithmetic
    "q_dedup_eval" ->
      (s"WITH f AS (SELECT doc_a, doc_b FROM ($duckSimhashNearDupSql)), " +
        s"t AS (SELECT doc_a, doc_b FROM ($duckMinhashNearDupSql)), " +
        "c AS (SELECT CAST(count(*) AS BIGINT) AS n_common FROM f " +
        "JOIN t USING (doc_a, doc_b)), " +
        "nf AS (SELECT CAST(count(*) AS BIGINT) AS n_found FROM f), " +
        "nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM t) " +
        "SELECT n_found, n_truth, n_common, " +
        "CASE WHEN n_found > 0 THEN n_common * 1000 // n_found " +
        "ELSE 0 END AS precision_x1000, " +
        "CASE WHEN n_truth > 0 THEN n_common * 1000 // n_truth " +
        "ELSE 0 END AS recall_x1000 FROM nf, nt, c"),
    // float-mutation parity: x·1.2f on the JVM is the exact double product
    // rounded to FLOAT, which is what CAST(CAST(x AS DOUBLE)·lit AS FLOAT)
    // computes regardless of DuckDB's promotion rules
    "q_embed_neardup" ->
      ("WITH base AS (SELECT vec_id, embedding FROM embeddings " +
        "UNION ALL SELECT vec_id + 1000000, " +
        "list_transform(embedding, (x, i) -> CASE WHEN i = 1 " +
        "THEN CAST(CAST(x AS DOUBLE) * 1.2000000476837158 AS FLOAT) " +
        "ELSE x END) FROM embeddings), " +
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM base), " +
        "buckets AS (" + duckLshSignatureSql(12) + "), " +
        "cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b " +
        "FROM buckets a JOIN buckets b ON a.tbl = b.tbl " +
        "AND a.bucket = b.bucket AND a.vec_id < b.vec_id), " +
        "scored AS (SELECT id_a, id_b, " +
        duckDot("x.e", "y.e") + " / (sqrt(" + duckDot("x.e", "x.e") +
        ") * sqrt(" + duckDot("y.e", "y.e") + ")) AS sim " +
        "FROM cand JOIN v x ON x.vec_id = cand.id_a " +
        "JOIN v y ON y.vec_id = cand.id_b) " +
        "SELECT id_a, id_b, round(sim, 6) AS sim_r FROM scored " +
        "WHERE sim >= 0.95"),
    "q_knn_lsh" ->
      ("WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e " +
        "FROM embeddings), " +
        "buckets AS (" + duckLshSignatureSql(8) + "), " +
        "cand AS (SELECT DISTINCT q.vec_id AS query_id, " +
        "n.vec_id AS neighbor_id FROM buckets q JOIN buckets n " +
        "ON q.tbl = n.tbl AND q.bucket = n.bucket " +
        "WHERE q.vec_id < 10 AND q.vec_id != n.vec_id), " +
        "scored AS (SELECT c.query_id, c.neighbor_id, " +
        duckDot("q.e", "n.e") + " / (sqrt(" + duckDot("q.e", "q.e") +
        ") * sqrt(" + duckDot("n.e", "n.e") + ")) AS sim " +
        "FROM cand c JOIN v q ON q.vec_id = c.query_id " +
        "JOIN v n ON n.vec_id = c.neighbor_id) " +
        "SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim_r FROM (" +
        "SELECT query_id, neighbor_id, sim, CAST(row_number() OVER (" +
        "PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) " +
        "AS rank FROM scored) WHERE rank <= 5"),
  )
}
