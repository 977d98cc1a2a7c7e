package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, types}
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines: exact, n-gram
  * Jaccard, MinHash + LSH banding, and SimHash.
  *
  * Scale design: exact dedup is one hash aggregation; MinHash signatures
  * are one aggregation (k min-columns with map-side partial aggregation —
  * no k-fold row explosion); LSH banding shuffles on (band, signature)
  * buckets only; SimHash is a pure per-row fold. The only quadratic path is
  * the in-bucket pair join, bounded by bucket size (guard + salt skewed
  * buckets at real scale).
  */
object Dedup {

  /** Exact dedup via hash aggregation on (normalized) content: canonical =
    * min doc_id per group (the reference's "keep one copy" A6 semantics,
    * parse_clean_and_csv.py:321-326, hash-based instead of O(n²)).
    *
    * NULL-text posture — this is a CENSUS with SQL GROUP BY semantics
    * (matching its DuckDB oracle): NULL texts form one group, so the
    * census reports them as one row with their count. Do NOT use the
    * census's keep_id to DELETE rows on a NULL-bearing corpus — that
    * would treat unknown content as mutual duplicates. The keep RULE for
    * actual dedup is [[firstPerDigest]], which passes NULL digests
    * through as trivially unique (and the ops composing it —
    * [[incrementalDedup]], Curation.curate — inherit that). */
  def exact(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.groupBy(lower(col(textCol)).as("text_norm"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** [[exact]] at 100 TB: group on the content DIGEST so the shuffle
    * carries 64-char keys instead of whole documents (collision odds
    * 2⁻²⁵⁶ — the standard exact-dedup key for web-scale corpora). Same
    * census NULL posture as [[exact]] (NULL digests group together in
    * the report; the keep rule lives in [[firstPerDigest]]). */
  def exactByDigest(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.groupBy(sha2(lower(col(textCol)), 256).as("digest"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distinct word-level n-gram shingles of a document. For size < n the
    * whole (shorter) token span becomes one shingle.
    *
    * Built from zip_with over shifted slices — each slice evaluates ONCE
    * per row. The previous form indexed `toks` inside a position lambda,
    * and a higher-order function re-evaluates its captured child per
    * element (no subexpression elimination), making shingling O(tokens²)
    * per document (measured 4× on q_skipgram's identical pattern,
    * BENCH_NOTES r6). concat_ws skips the nulls zip_with pads onto the
    * shorter side; the final slice drops the partial tail shingles,
    * reproducing the original semantics exactly. */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    val grams = (1 until n).foldLeft(toks) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k + 1), size(toks)),
        (a, b) => concat_ws(" ", a, b))
    }
    array_distinct(slice(grams, lit(1),
      greatest(size(toks) - (n - 1), lit(1))))
  }

  /** Shared prologue of [[jaccardPairs]] and [[containmentPairs]]: the
    * staged hashed-shingle relation, self-joined within the block with
    * per-pair intersection and side sizes — ONE definition so the hash
    * choice (xxhash64 over 8-byte elements; collision odds ~|A∪B|²/2⁶⁵
    * per pair, immaterial to the counts), the staging barrier, and the
    * ordered-pair rule cannot drift between the two metrics. Two calls
    * over the same corpus also share the staged relation through the
    * cache. Emits (doc_a, doc_b, n_inter, sz_a, sz_b). */
  private def blockedShinglePairs(docs: DataFrame, blockCol: String,
      n: Int, textCol: String): DataFrame = {
    val sh = Stage.barrier(
      docs.select(col("doc_id"), col(blockCol).as("block"),
        transform(shingles(col(textCol), n), s => xxhash64(s)).as("sh")))
    // PAIR-SPACE SALTING (r15): joined on `block` alone, a block's whole
    // quadratic pair space lands on ONE task — the join-OUTPUT skew AQE
    // cannot split (input partitions are tiny bytes; the blowup is the
    // intersection work per joined row), measured as a 13-task stage
    // with max=19.8 s on 32 cores at sf2 (BENCH_NOTES r15). Tiling by
    // ceil(bn / tileRows): side a lands at one salt, side b replicates
    // to all of the block's salts, so each (a, b) pair still meets
    // exactly once and each tile carries ≈ bn·tileRows/2 pairs — the
    // same adaptive census-driven scheme as lshCandidatePairs' hotSet.
    // The b-side ×g shingle replication is a few tens of MB at bench
    // scale, noise next to the balanced quadratic scan it buys.
    val tileRows = 512
    // CENSUS-BOUNDED broadcast (ADVICE r15): only blocks that actually
    // tile (_g > 1, i.e. > tileRows rows) ride in the broadcast — at
    // most corpus/tileRows entries by the same argument that bounds
    // lshCandidatePairs' hotSet. A high-cardinality blockCol (say,
    // block = URL host at web scale) would otherwise make this an
    // unbounded one-row-per-distinct-block driver broadcast. Absent
    // blocks default to one tile via left join + coalesce.
    val tiles = sh.groupBy(col("block"))
      .agg(count(lit(1)).as("_bn"))
      .select(col("block"),
        greatest(least(ceil(col("_bn") / lit(tileRows.toDouble)),
          lit(64L)), lit(1L)).cast("int").as("_g"))
      .filter(col("_g") > 1)
    val g = coalesce(col("_g"), lit(1))
    val a = sh.join(broadcast(tiles), Seq("block"), "left")
      .select(col("block"),
        pmod(xxhash64(col("doc_id")), g.cast("long")).cast("int")
          .as("slt"),
        col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        size(col("sh")).as("sz_a"))
    val b = sh.join(broadcast(tiles), Seq("block"), "left")
      .select(col("block"),
        explode(sequence(lit(0), g - 1)).as("slt"),
        col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        size(col("sh")).as("sz_b"))
    // EXPLICIT partition count on both join inputs: the pair stage's
    // bytes are tiny (tens of MB) while its compute is the corpus's
    // whole pair space, so AQE's byte-targeted coalescing re-serializes
    // the salted tiles (observed 16 tasks from ~200 salted keys). A
    // fixed-N repartition on the join keys is co-partitioning the join
    // reuses (no extra exchange) and AQE leaves alone.
    val nPart = math.max(
      sh.sparkSession.sparkContext.defaultParallelism * 2, 32)
    a.repartition(nPart, col("block"), col("slt"))
      .join(b.repartition(nPart, col("block"), col("slt")),
        Seq("block", "slt"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
          .as("n_inter"),
        col("sz_a"), col("sz_b"))
  }

  /** Pairwise n-gram Jaccard within a blocking column: emits pairs with
    * intersection/union counts and keeps jaccard ≥ numer/denom using pure
    * integer math (denom·|∩| ≥ numer·|∪|) — float-free, oracle-safe.
    * Blocking bounds the quadratic pair count; at scale use MinHash-LSH
    * banding below instead. */
  def jaccardPairs(docs: DataFrame, blockCol: String, n: Int,
      numer: Int, denom: Int, textCol: String = "text"): DataFrame = {
    blockedShinglePairs(docs, blockCol, n, textCol)
      // |A∪B| = |A|+|B|−|A∩B| (sets are distinct): skips materializing the
      // union array — halves the per-pair work in the quadratic hot loop
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        (col("sz_a").cast("long") + col("sz_b") - col("n_inter"))
          .as("n_union"))
      .filter(col("n_inter") * denom >= col("n_union") * numer)
  }

  /** Pairwise n-gram CONTAINMENT within a blocking column — the
    * asymmetric sibling of [[jaccardPairs]]: C(A→B) = |A∩B| / |A|. A
    * short document fully quoted inside a long one has C(A→B) ≈ 1 while
    * its Jaccard ≈ |A|/|B| can be arbitrarily low — symmetric similarity
    * structurally misses quote/excerpt/aggregator duplication, the
    * dominant duplication mode in news/forum corpora. One row per
    * candidate pair that passes the threshold in EITHER direction, with
    * both direction flags and the raw integer counts, so a caller can
    * keep "B swallows A" and "A swallows B" separately.
    *
    * Threshold in pure integer math: denom·|∩| ≥ numer·|side| — float-
    * free, oracle-safe. Same staged shingle relation, 8-byte hashed
    * elements, and block-bounded quadratic shape as [[jaccardPairs]];
    * the same MinHash-LSH banding is the unblocked scale path (LSH
    * recall is w.r.t. Jaccard, so for containment screening at scale
    * band the SHORTER side's signature — noted here, not built). */
  def containmentPairs(docs: DataFrame, blockCol: String, n: Int,
      numer: Int, denom: Int, textCol: String = "text"): DataFrame = {
    blockedShinglePairs(docs, blockCol, n, textCol)
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        col("sz_a").cast("long").as("sz_a"),
        col("sz_b").cast("long").as("sz_b"))
      .withColumn("a_in_b",
        (col("n_inter") * denom >= col("sz_a") * numer).cast("long"))
      .withColumn("b_in_a",
        (col("n_inter") * denom >= col("sz_b") * numer).cast("long"))
      .filter(col("a_in_b") + col("b_in_a") > 0)
  }

  /** Mersenne prime modulus for the universal hash family. */
  private[graft] val P = 2147483647L

  /** Engine-portable shingle/token hash (see functions.PolyHash): DuckDB
    * replicates it bit-for-bit, so every downstream value — signatures,
    * band keys, even hash-collision effects in verification counts — is
    * identical across engines. */
  private def phash(c: Column): Column =
    graft.functions.GraftFunctions.polyHash(c)

  /** Deterministic (aᵢ, bᵢ) coefficients for h_i(x) = (aᵢ·x + bᵢ) mod P,
    * exposed so the DuckDB oracle can render the identical hash family as
    * SQL literals. */
  private[graft] def minhashCoeffs(k: Int, seed: Long = 7L): Seq[(Long, Long)] = {
    var state = seed
    def next(): Long = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (state >>> 33) % (P - 1) + 1
    }
    Seq.fill(k)((next(), next()))
  }

  /** MinHash signatures (doc_id, sig): k universal hashes
    * h_i(x) = (aᵢ·x + bᵢ) mod P over the portable polynomial shingle
    * hashes, computed by the native Catalyst aggregate
    * (functions.MinHashAgg) — ONE TypedImperativeAggregate with a
    * primitive long[k] buffer, so partial aggregation ships one k-vector
    * per doc per partition. The same recipe as the near-dup pipelines
    * ([[hashedShingleRows]] + [[minhashSigsOf]]); NativeFunctionsSpec
    * pins it bit-identical to k independent `min` columns over
    * [[minhashCoeffs]]. */
  def minhashSignatures(docs: DataFrame, n: Int = 2, k: Int = 64,
      textCol: String = "text"): DataFrame =
    minhashSigsOf(hashedShingleRows(docs, n, textCol), k)

  /** One key Column per band of a `sig` signature column — the single
    * definition of the LSH band key, shared by [[bandRows]] (string keys
    * for cross-relation band joins) and [[lshCandidatePairs]]' hashed
    * band-key vector. */
  private def bandKeyCols(bands: Int, k: Int): Seq[Column] = {
    require(k % bands == 0, s"signature width $k must divide into $bands bands")
    val rowsPerBand = k / bands
    (0 until bands).map { j =>
      concat_ws("_", (0 until rowsPerBand).map(r =>
        col("sig").getItem(j * rowsPerBand + r).cast("string")): _*)
    }
  }

  /** The banded bucket relation (doc_id, band, key) of a signature frame —
    * the LSH join key shared by the self-join candidate generator below
    * and the batch-vs-corpus incremental variant (which band-joins two
    * DIFFERENT relations, so the keys must come from one definition). */
  private[graft] def bandRows(sigs: DataFrame, bands: Int,
      k: Int, carry: Seq[String] = Nil): DataFrame = {
    val bandCols = bandKeyCols(bands, k).zipWithIndex.map { case (key, j) =>
      struct(lit(j).as("band"), key.as("key"))
    }
    val lead = col("doc_id") +: carry.map(col)
    sigs.select(lead :+ explode(array(bandCols: _*)).as("bk"): _*)
      .select(lead ++ Seq(col("bk.band").as("band"),
        col("bk.key").as("key")): _*)
  }

  /** Band and sub-signature fused into ONE string join key. The
    * persisted band index buckets by this single column instead of the
    * composite (band, key) because Spark's native bucket pruning
    * (FileSourceStrategy's genBucketSet) only fires on SINGLE-column
    * bucketing: a probe filtered to its batch's bkey literals then
    * reads ONLY the files of the matching buckets — the mechanism that
    * makes per-micro-batch index scans candidate-proportional instead
    * of corpus-proportional. The band prefix keeps keys from different
    * bands distinct even when their lane values coincide, so an equi
    * join on bkey is exactly the (band, key) join. */
  private[graft] def withBkey(bandRows: DataFrame): DataFrame =
    bandRows.withColumn("bkey", concat_ws("_", col("band"), col("key")))

  /** Rail kind for [[Rail.observed]] / observation metrics. */
  val LshBucketRail = "lsh.maxBucket"

  /** LSH banding: split the k-long signature into `bands` bands of k/bands
    * values; docs sharing any band's exact sub-signature are candidate
    * pairs. Shuffle key = (band, sub-signature hash) — the standard
    * scale-out near-dup plan, with the same three scale guards as the
    * simhash path ([[hammingNearDupPairs]]):
    *
    *  - `maxBucket` rail: degenerate buckets are dropped by a broadcast
    *    anti join (census = partial-aggregated groupBy, never a
    *    value-partitioned window that would serialize the hot bucket into
    *    one task first), with drop counts surfacing lazily via
    *    [[Rail.observed]].
    *  - pair salting: dense-but-under-cap buckets (> `saltThreshold`
    *    rows) tile their pair space `pairSalts`× so a 10k-row bucket's
    *    50M candidate rows stream out of `pairSalts` tasks instead of
    *    one straggler — the output-quadratic skew AQE cannot split
    *    (input partitions are tiny; the blowup is in the join OUTPUT).
    *  - structural dedup, NO pair shuffle: a pair is emitted once per
    *    matching band; each side carries its hashed band-key vector
    *    (8 bytes/band), so "keep only the emission whose band is the
    *    FIRST matching band" is a register-op filter that replaces the
    *    `.distinct()` exchange over the full candidate relation.
    *
    * RAIL × FIRST-MATCH INTERACTION (semantics under a FIRED rail): the
    * first-match rule is evaluated over SURVIVING bands only — the
    * over-cap census rides into the post-join filter as a single
    * collected row (constant-key broadcast hash join — codegen-fused,
    * no exchange), and the
    * when-chain skips bands whose (band, key) bucket is over-cap. A
    * pair whose first matching band was railed is therefore still
    * emitted, once, in its first surviving matching band — exactly the
    * distinct-over-surviving-buckets base semantics (pinned in
    * DedupSpec). Recall loss under a fired rail is only the pairs whose
    * EVERY matching bucket is over-cap, with the drop count surfacing
    * via [[Rail.observed]]. FIRED-RAIL COST (r16): the surviving-band
    * when-chain probes a PER-BAND SORTED key array by binary search
    * ([[graft.functions.SortedProbe]], a codegen'd static call) —
    * O(bands × log|census_band|) per joined candidate row, with the
    * `_ocn == 0` fast path keeping the never-fired case at one int
    * comparison. The r15 `array_contains` scan this replaced was
    * O(bands × |census|) and MEASURED ~3× on the whole operator at a
    * ~2,400-entry census (BENCH_NOTES r15); the sorted
    * probe flattens the fired-rail run back to clean-path cost —
    * fired-2,400 5.02 s vs clean 4.74 s, 1.06×, identical 7,930 pairs
    * (BENCH_NOTES r17). [[hammingNearDupPairs]]
    * offers the same surviving-bucket rule behind its
    * `survivingBlocks` knob (r14) — not by default, because there the
    * mask needs an extra census pass measured at ~+50% (see there); the
    * rule is free HERE only because this path's first-match filter
    * already consumes the collected census post-join.
    *
    * Band keys are compared by xxhash64 (collision odds ~2⁻⁶⁴ per
    * band-pair — immaterial to candidate recall, and candidates are
    * verified by exact overlap downstream anyway). */
  def lshCandidatePairs(sigs: DataFrame, bands: Int = 16, k: Int = 64,
      maxBucket: Int = 10000, saltThreshold: Int = 1024,
      pairSalts: Int = 64): DataFrame = {
    // staged: one compact row per doc (id + bands longs); both join
    // sides and the census explode from it, so the upstream signature
    // aggregation runs once, not per side
    val compact = Stage.barrier(sigs.select(col("doc_id"),
      array(bandKeyCols(bands, k).map(key => xxhash64(key)): _*).as("bkv")))
    val blocked0 = compact.select(col("doc_id"), col("bkv"),
      posexplode(col("bkv")).as(Seq("band", "key")))
    val sizes = blocked0.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("_bn"))
    val overCap = sizes.filter(col("_bn") > maxBucket)
      .select(col("band"), col("key"))
    // per-bucket tile count g = ceil(4·bn/T) capped — see hammingPlan's
    // hotSet for the sizing rationale (fixed fanout under-splits monster
    // buckets; a quadratic pairs-per-tile rule starves mid buckets)
    val hotSet = sizes
      .filter(col("_bn") > saltThreshold && col("_bn") <= maxBucket)
      .select(col("band"), col("key"),
        least(greatest(ceil(col("_bn") * 4.0d / saltThreshold), lit(1L)),
          lit(pairSalts.toLong)).cast("int").as("_g"))
    val blocked = blocked0.join(
      broadcast(Rail.observed(overCap, LshBucketRail,
        s"lshCandidatePairs: maxBucket=$maxBucket dropped %d over-cap " +
          "(band, key) buckets — recall is lost in those mass-duplicate " +
          "regions; raise maxBucket or exact-dedup first")),
      Seq("band", "key"), "left_anti")
      .join(broadcast(hotSet), Seq("band", "key"), "left")
    val g = coalesce(col("_g"), lit(1))
    val a = blocked.select(col("band"), col("key"),
      pmod(xxhash64(col("doc_id")), g).cast("int").as("slt"),
      col("doc_id").as("doc_a"), col("bkv").as("bkv_a"))
    val b = blocked.select(col("band"), col("key"),
      explode(sequence(lit(0), (g - 1).cast("int"))).as("slt"),
      col("doc_id").as("doc_b"), col("bkv").as("bkv_b"))
    // The over-cap census as ONE row — collect_set is bounded by the
    // same argument that lets the rail's anti join broadcast (every
    // over-cap bucket holds > maxBucket rows, so the census has at most
    // corpus/maxBucket entries). Always exactly one row (a global agg),
    // with an empty array when the rail never fired — the designed case.
    // Collected shape: PER-BAND SORTED key arrays (`_ocb`, band-indexed)
    // plus the total entry count (`_ocn`). The first-match filter probes
    // band j's array by BINARY SEARCH (functions.SortedProbe — codegen'd
    // static call), so a fired rail costs O(log |census_j|) per band
    // probe instead of the O(|census|) array_contains scan that measured
    // ~3× on the whole operator at a 2,400-entry census (BENCH_NOTES
    // r15/r17). The single-row assembly below runs
    // interpreted HOFs over ONE row — free — and sort_array(asc) is
    // exactly the order SortedProbe.contains requires.
    val ocRow = overCap
      .agg(collect_set(struct(col("band"), col("key"))).as("_ocp"))
      .select(
        transform(sequence(lit(0), lit(bands - 1)),
          j => sort_array(transform(
            filter(col("_ocp"), p => p.getField("band") === j),
            p => p.getField("key")))).as("_ocb"),
        size(col("_ocp")).as("_ocn"))
    // first matching SURVIVING band as a codegen'd when-chain over the
    // two hashed band-key vectors — the joined rows matched on a
    // surviving (band, key), so a first matching surviving band ≤ band
    // always exists and exactly one of the pair's emissions survives the
    // filter. Skipping over-cap bands here is what keeps a FIRED rail's
    // recall at the distinct-over-surviving-buckets base: a pair whose
    // first matching band was railed is still emitted in its first
    // SURVIVING matching band (pinned in DedupSpec), instead of being
    // lost because its designated emission row was dropped. For a
    // matching band j the two docs share the bucket, so membership is
    // checked against side a's key only. The size()==0 fast path keeps
    // the never-fired case at one int comparison per candidate instead
    // of `bands` scans of the (empty) set.
    def matchAt(j: Int): Column =
      col("bkv_a").getItem(j) === col("bkv_b").getItem(j)
    val firstBandAll = (0 until bands).foldRight(lit(-1)) { (j, rest) =>
      when(matchAt(j), lit(j)).otherwise(rest)
    }
    val firstSurvivingBand = (0 until bands).foldRight(lit(-1)) { (j, rest) =>
      when(matchAt(j) && !graft.functions.GraftFunctions.sortedContains(
          col("_ocb").getItem(j), col("bkv_a").getItem(j)),
        lit(j)).otherwise(rest)
    }
    val firstBand =
      when(col("_ocn") === 0, firstBandAll)
        .otherwise(firstSurvivingBand)
    // FORCED sort-merge, as in the simhash path: statistics-driven
    // planning would broadcast-build the corpus-sized blocked relation.
    // The single-row census rides in AFTER the join on a CONSTANT-KEY
    // BroadcastHashJoin, NOT crossJoin (the filter consumes it
    // row-locally either way; no exchange added): a single-row cross
    // join plans as BroadcastNestedLoopJoin, which whole-stage codegen
    // cannot compile, so the first-match filter — `bands` band-vector
    // probes per candidate row, the hot loop of this operator — would
    // fall back to interpreted rows (+33% measured on the hamming
    // path's identical shape, BENCH_NOTES r14). Both `_j` keys must be
    // attribute-derived, or the condition folds back to a cross/BNLJ
    // (see hammingPlan). Plan-pinned in DedupSpec.
    a.hint("merge").join(b, Seq("band", "key", "slt"))
      .withColumn("_j", pmod(xxhash64(col("doc_a")), lit(1L)).cast("int"))
      .join(broadcast(ocRow.withColumn("_j",
        pmod(col("_ocn").cast("long"), lit(1L)).cast("int"))),
        Seq("_j"), "left")
      .filter(col("doc_a") < col("doc_b") && col("band") === firstBand)
      .select(col("doc_a"), col("doc_b"))
  }

  /** The ONE hashed-shingle relation recipe — distinct portable-hashed
    * n-gram shingles per doc — shared by the in-corpus MinHash pipeline
    * ([[minhashDedupPairs]]) and the batch↔corpus incremental screen
    * ([[incrementalNearDedup]]), so the hash family and distinctness
    * step cannot drift between the two and their LSH candidates stay
    * comparable. */
  private[graft] def hashedShingleRows(docs: DataFrame, n: Int,
      textCol: String): DataFrame =
    docs.select(col("doc_id"),
      array_distinct(transform(shingles(col(textCol), n), s => phash(s)))
        .as("sh"))

  /** MinHash signatures off a hashed-shingle relation: explode + ONE
    * native aggregate (fixed seed 7 — the family the DuckDB oracles
    * render as literals). Shared by the same two pipelines as
    * [[hashedShingleRows]]. */
  private[graft] def minhashSigsOf(sh: DataFrame, k: Int): DataFrame =
    sh.select(col("doc_id"), explode(col("sh")).as("h"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.MinHashAgg.minhash(col("h"), k, seed = 7L)
        .as("sig"))

  /** MinHash near-dup pipeline: signatures → banded candidates → exact
    * n-gram Jaccard verification (integer threshold as in jaccardPairs).
    *
    * The hashed-shingle relation is computed ONCE (staged) and feeds both
    * the signatures (min over the same hashed values — duplicates don't
    * change a min) and the verification probes; building shingle strings
    * twice was the old plan's dominant cost. */
  def minhashDedupPairs(docs: DataFrame, n: Int = 2, k: Int = 64,
      bands: Int = 16, numer: Int = 7, denom: Int = 10,
      textCol: String = "text"): DataFrame = {
    // portable hash: the DuckDB oracle replays the same hashed
    // intersection, so even collision effects cancel out exactly
    val sh = Stage.barrier(hashedShingleRows(docs, n, textCol))
    val cands = lshCandidatePairs(minhashSigsOf(sh, k), bands, k)
    cands
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
        Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
          .as("n_inter"),
        (size(col("sh_a")) + size(col("sh_b"))).cast("long").as("sz_sum"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        (col("sz_sum") - col("n_inter")).as("n_union"))
      .filter(col("n_inter") * denom >= col("n_union") * numer)
  }

  /** Train→test contamination check: for each test document, how many of
    * its n-gram shingles appear in ANY train document. The leakage audit a
    * training pipeline runs after splitting: high-overlap test docs are
    * eval contamination. Scale shape: hashed shingles exploded once, the
    * train-side distinct hash set staged, one shuffle join on 8-byte hash
    * keys, one aggregation — no document ever compares pairwise. Integer
    * outputs (n_shingles, n_hit) keep the oracle float-free. */
  def contamination(docs: DataFrame, splitCol: String = "split", n: Int = 2,
      textCol: String = "text"): DataFrame = {
    val sh = docs.select(col("doc_id"), col(splitCol).as("split"),
      explode(array_distinct(
        transform(shingles(col(textCol), n), s => phash(s)))).as("h"))
    val trainHashes = Stage.barrier(
      sh.filter(col("split") === "train").select(col("h")).distinct())
    sh.filter(col("split") === "test")
      .join(trainHashes.withColumn("hit", lit(1L)), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hit"))
  }

  /** Connected components over an undirected pair relation — the cluster
    * step that turns near-dup PAIRS into canonical groups (keep one doc
    * per component). Iterative min-label propagation with pointer
    * jumping: each round every node adopts the minimum label in its
    * closed neighborhood (hook), then compresses via label ← label(label)
    * (jump) — O(log diameter) rounds instead of the hook-only
    * O(diameter). Each round is one join + one aggregation
    * over the cached edge relation; with the label frontier broadcast
    * (the default while nodes ≤ maxBroadcastNodes) and the edges cached
    * hash-partitioned by s, a round moves ZERO edge bytes — the only
    * per-round traffic is the node-sized frontier. Checkpointed each
    * round (see componentsWithStatus) so plans stay O(1) deep — the
    * standard iterative-algorithm shape on Spark (label propagation /
    * large-star contraction family).
    *
    * `assumeCanonical` — pass true when the pair relation is known to
    * hold each unordered pair EXACTLY ONCE with aCol < bCol (every
    * in-repo producer does, structurally, spec-pinned): the symmetric
    * closure then has no duplicates and the edge-dedup `distinct()` —
    * a full extra exchange plus a pair-keyed hash-aggregate build over
    * the whole edge relation, the single heaviest stage of
    * q_simhash_canonical at sf1 — is skipped. Correctness never
    * depends on it (min-label propagation is idempotent under
    * duplicate edges and self-loops); with arbitrary input the dedup
    * only bounds the cached edge size, so the default keeps it. */
  def components(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxRounds: Int = 50,
      assumeCanonical: Boolean = false,
      maxLocalEdges: Long = 1L << 23,
      knownPairs: Long = -1L): DataFrame = {
    val (labels, converged) = componentsWithStatus(pairs, aCol, bCol,
      maxRounds, assumeCanonical = assumeCanonical,
      maxLocalEdges = maxLocalEdges, knownPairs = knownPairs)
    // the library default FAILS LOUDLY: unconverged labels are silently
    // wrong (a too-small drop set downstream of a dedup). Callers that
    // want to inspect partial labels use componentsWithStatus.
    if (!converged)
      throw new IllegalStateException(
        s"components() did not converge within $maxRounds rounds — " +
          "raise maxRounds or use componentsWithStatus to inspect " +
          "partial labels")
    labels
  }

  /** [[components]] plus its convergence status. A component whose
    * eccentricity exceeds `maxRounds` would otherwise return silently-wrong
    * labels (and a too-small drop set downstream) — callers that need the
    * partial labels check the flag; [[components]] throws instead. */
  def componentsWithStatus(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxRounds: Int = 50,
      maxBroadcastNodes: Long = 10000000L,
      assumeCanonical: Boolean = false,
      maxLocalEdges: Long = 1L << 23,
      knownPairs: Long = -1L): (DataFrame, Boolean) = {
    // When the caller already staged the pair frame (simhashCanonical
    // does), its cache serves every read below; an unstaged caller's
    // (possibly expensive) pair plan is barriered once here so neither
    // the rail collect + distributed fallback nor the closure's two
    // union branches re-evaluate it.
    val inputCached =
      pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE ||
        org.apache.spark.sql.graftbridge.Bridge.isCachedLeaf(pairs)
    val proj = pairs.select(col(aCol).as("s"), col(bCol).as("d"))
    // HEAP-AWARE rail cap (r21, VERDICT r20 #2): the caller's
    // maxLocalEdges assumed a bench-sized driver heap; the effective cap
    // also budgets ~40 B/edge of transient driver cost (16 B of primitive
    // arrays + collect/result buffers) against 10% of the max heap, so a
    // small-heap driver degrades to the distributed rounds instead of
    // OOMing. At 8 GB heap the budget (~21M edges) sits above the 8M
    // default, so local behavior is unchanged. The 8M default itself is
    // the MEASURED knee (BENCH_NOTES r21: a 32M cap collapsing sf1's
    // 28M-edge rep graph driver-side reads 16.1 s vs 11.3 s for the
    // distributed rounds). Specs pass 0 to pin the distributed rounds.
    val heapBudget = Runtime.getRuntime.maxMemory / 10L / 40L
    val railCap = math.min(maxLocalEdges, heapBudget)
    // ROUTE ON THE PAIR COUNT, before anything materializes (r21): the
    // former shape built + cached the symmetric closure FIRST and sized
    // the rail from its count, paying a repartition exchange and a 2×-row
    // cache write that the rail path immediately threw away. The pair
    // count is free when the caller threads it in (`knownPairs` — the
    // staging barrier that produced the pairs already counted them), one
    // cached-scan job otherwise; the closure is now built only where it
    // is actually consumed — the distributed rounds. Routing semantics
    // are closure-equivalent: 2·pairs ≥ distinct symmetric edges, so the
    // rail engages conservatively within the same cap.
    val (p0, nPairs) =
      if (knownPairs >= 0L) (proj, knownPairs)
      else if (inputCached) (proj, proj.count())
      else Stage.barrierCounted(proj)
    val nEdges = 2L * nPairs
    // RAIL-SIZED graphs run a driver-side union-find instead of the
    // iterative rounds: a small graph's cost here is pure PER-ROUND JOB
    // OVERHEAD (each hook+jump round is several jobs plus an eager
    // checkpoint — measured ~6 s of the sf0.1 curation chain's 16.6 s
    // on a graph that collapses to 23 clusters), where one collect of
    // the pair rows unions in milliseconds. The rail collects the PAIR
    // projection directly (r21): union(a, b) is symmetric, so the
    // symmetric closure — whose repartition exchange + 2×-row cache
    // write the former shape paid just to count and collect it — is
    // only needed by (and now only built for) the distributed rounds.
    // The cap budgets for what the collect REALLY costs: pairs come
    // back as per-partition primitive long arrays (16 B/pair; the
    // former row collect boxed ~100 B, which capped the rail at 512k
    // and left the sf0.1 mutant rep graph — 2.9M symmetric edges over
    // 8.4k nodes — running ~8 distributed rounds of ~5 jobs each).
    // Union-by-min + path compression computes exactly the propagation
    // fixpoint (min reachable id per node, order-independent), so labels
    // are bit-identical — the oracled component queries pin that. At
    // real scale the rail never fires and the distributed rounds below
    // are unchanged.
    // the rail reads getLong, so it only takes LONG-typed ids; any other
    // orderable id type (int, string) falls through to the distributed
    // rounds below, whose min/least handle it — keeping the public
    // contract type-uniform instead of narrowing it for small graphs
    // only (ADVICE r19). Every in-repo producer emits longs, so the
    // rail still fires everywhere it did.
    val railTyped = proj.schema.fields
      .forall(_.dataType == types.LongType)
    // the null-id contract must not depend on the id TYPE (review r20):
    // a rail-SIZED graph with null ids must fail loudly WHATEVER the id
    // type, not silently take the distributed rounds'
    // null-keyed-non-label caveat (int/string path) or fold a null into
    // node 0 (the long rail's primitive reads). At real scale
    // (nEdges > the cap) the distributed rounds keep their documented
    // caveat — a per-call full-scan null audit is not a 100 TB shape.
    // ONE message + ONE driver-side require for both type paths (the
    // type-uniform contract depends on the errors staying identical —
    // DedupSpec matches on it)
    val nullIdMsg =
      "components(): null doc id in the pair relation — the caller's " +
        "pair producer leaked an outer-join miss; filter nulls first"
    // the LONG-typed rail folds its null audit into the collect pass
    // below (one job instead of two — r21); only the non-long rail-sized
    // path still needs the standalone screen before taking the
    // distributed rounds' null-keyed-non-label caveat
    if (!railTyped && nEdges <= railCap)
      require(p0.filter(col("s").isNull || col("d").isNull)
          .head(1).isEmpty, nullIdMsg)
    if (railTyped && nEdges <= railCap) {
      // collect PRIMITIVES, not rows: one flat long array per partition
      // (s,d interleaved, with a per-partition null-id count riding
      // along so the null audit shares this job) — 16 B/pair on the
      // driver instead of ~100 B of boxed Row
      val sess = p0.sparkSession
      import sess.implicits._
      val chunks0 = p0.mapPartitions { it =>
        val b = new scala.collection.mutable.ArrayBuilder.ofLong
        var nulls = 0L
        it.foreach { r =>
          if (r.isNullAt(0) || r.isNullAt(1)) nulls += 1
          else { b += r.getLong(0); b += r.getLong(1) }
        }
        Iterator.single((nulls, b.result()))
      }.collect()
      // driver-side require → the same IllegalArgumentException (and
      // message) as the non-long path: the type-uniform null contract
      require(chunks0.forall(_._1 == 0L), nullIdMsg)
      val chunks = chunks0.map(_._2)
      val parent = new scala.collection.mutable.LongMap[Long]()
      def findRoot(x0: Long): Long = {
        var r = x0
        while (parent(r) != r) r = parent(r)
        var c = x0
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      chunks.foreach { arr =>
        var i = 0
        while (i < arr.length) {
          val a = arr(i); val b = arr(i + 1)
          if (!parent.contains(a)) parent(a) = a
          if (!parent.contains(b)) parent(b) = b
          val ra = findRoot(a); val rb = findRoot(b)
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
          i += 2
        }
      }
      val out = new scala.collection.mutable.ArrayBuffer[
        org.apache.spark.sql.Row](parent.size)
      parent.foreachKey(id => out += Row(id, findRoot(id)))
      if (!inputCached) Stage.release(p0)
      val session = pairs.sparkSession
      val schema = new types.StructType()
        .add("doc_id", "long").add("component", "long")
      val railLabels = session.createDataFrame(
        session.sparkContext.parallelize(out.toSeq,
          math.max(1, math.min(32, out.size / 4096 + 1))), schema)
      // A driver-built frame has no size stats, so a consumer's join with
      // it plans as a sort-merge join that AQE turns into a broadcast
      // once the labels' shuffle stage reports its size; whether the
      // other side's shuffle stage stays in the plan then depends on
      // which stage finishes first, so the plan and its job count would
      // differ run to run (plans/cluster_map). The node count is known
      // here: broadcast under the distributed rounds' label bound.
      return (if (out.size <= maxBroadcastNodes) broadcast(railLabels)
        else railLabels, true)
    }
    // DISTRIBUTED rounds: the symmetric closure, cached HASH-PARTITIONED
    // BY s — the per-round neighborhood aggregation groups by s, and
    // InMemoryRelation preserves its child's outputPartitioning, so with
    // the label lookup broadcast a round shuffles NO edge bytes at all.
    // Without this the edge relation (orders of magnitude bigger than
    // the label frontier) re-shuffled EVERY round: measured 301 MB/round
    // at sf1 on the q_simhash_canonical graph, ~10 rounds deep.
    // EXPLICIT partition count (r20): with AQE allowed to re-size cached
    // plans (Tables.SessionConfigs), a count-less repartition(col) is
    // advisory-coalesced BY BYTES, and the per-round loop over this one
    // cached frame would run below the machine's width — the rounds are
    // CPU-bound, so the width follows the deployment's parallelism
    // ([[kernelWidth]]), which an explicit count pins against AQE.
    val closure =
      p0.union(p0.select(col("d").as("s"), col("s").as("d")))
    val edges = Stage.barrier(
      (if (assumeCanonical) closure else closure.distinct())
        .repartition(kernelWidth(pairs.sparkSession), col("s")))
    if (!inputCached) Stage.release(p0)
    // One row per GRAPH NODE (docs in ≥1 pair), typically ≪ corpus.
    // Checkpoint-backed label frames are LogicalRDD leaves with unknown
    // stats, so the planner NEVER auto-broadcasts them — hint
    // explicitly while the node count is broadcastable, else keep the
    // shuffle join (the label side is then the smaller shuffle anyway).
    // barrierCounted: the node count rides the materializing count (r21)
    var (labels, nodes) = Stage.barrierCounted(
      edges.select(col("s").as("id")).distinct()
        .withColumn("label", col("id")))
    val bcastLabels = nodes <= maxBroadcastNodes
    // Every round ends in an EAGER localCheckpoint: round r's result joins
    // itself into round r+1, so without truncation the plan embeds the
    // previous round TWICE and doubles every round — analysis and even the
    // listener-event plan STRING (InMemoryTableScan prints its nested
    // cached plan) blow up exponentially on deep graphs, measured long
    // before round 15 of a 26-node chain. A LogicalRDD leaf per round
    // keeps plan, analysis, and plan-description all O(1) per round; the
    // previous round's checkpoint blocks are unpersisted deterministically
    // once the new round is materialized.
    var round = 0
    var changed = 1L
    var releasePrev: () => Unit = { val init = labels; () => Stage.release(init) }
    while (changed > 0 && round < maxRounds) {
      val lbl = labels.select(col("id").as("d"), col("label").as("nl"))
      val neighborMin = edges
        .join(if (bcastLabels) broadcast(lbl) else lbl, Seq("d"))
        .groupBy(col("s").as("id"))
        .agg(min(col("nl")).as("nmin"))
      // POINTER JUMP (path compression): after the hook, compress via
      // label ← labels(label) — the lookup deliberately reads the
      // PREVIOUS round's label map (a checkpoint leaf), not the hooked
      // frame: the hook's plan contains the full edge scan, so a lookup
      // derived from it would evaluate that scan a second time for the
      // broadcast build. The stale lookup is the classic synchronous
      // jump (both steps read round r−1's state) and still shrinks a
      // chain ~3× per round — hook alone needs O(diameter) rounds
      // (measured ~11 at sf1/sf2 on the mutant graph, each paying a
      // full cached-edge scan); hook + jump needs O(log diameter).
      // Labels only decrease and every label value is itself a node id,
      // so the lookup always hits and jl ≤ hl by the monotone invariant.
      // Termination stays sound on the hook fixpoint alone: hook-stable
      // forces labels constant along every edge (= the component min),
      // and at that point the jump is the identity.
      val lut = labels.select(col("id").as("_l"), col("label").as("jl"))
      val next = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("label"),
          least(col("label"), coalesce(col("nmin"), col("label")))
            .as("hl"))
        .join(if (bcastLabels) broadcast(lut) else lut,
          col("hl") === col("_l"), "left")
        .select(col("id"),
          coalesce(col("jl"), col("hl")).as("label"),
          (col("hl") < col("label") || col("jl") < col("hl")).as("chg"))
        // LAZY checkpoint (r21): the convergence count right below is the
        // round's first action and computes EVERY partition, so it both
        // materializes the checkpoint blocks and truncates lineage — the
        // former eager checkpoint ran a separate materialization job per
        // round (2 actions/round → 1). The previous round's blocks are
        // only released AFTER this count, so the lineage they back is
        // never read post-release.
        .localCheckpoint(eager = false)
      // the convergence check materializes + reads the checkpoint blocks
      changed = next.filter(col("chg")).count()
      releasePrev()
      val ck = org.apache.spark.sql.graftbridge.Bridge.internalRdd(next)
      releasePrev = () => ck.foreach(_.unpersist(blocking = false))
      labels = next.select(col("id"), col("label"))
      round += 1
    }
    if (changed > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"components() stopped UNCONVERGED after $maxRounds rounds " +
          s"($changed labels still changing) — results are not a fixpoint")
    Stage.release(edges)
    // the returned frame is backed by the FINAL round's checkpoint blocks;
    // they free via the ContextCleaner when the caller drops the frame
    (labels.select(col("id").as("doc_id"), col("label").as("component")),
      changed == 0)
  }

  /** Canonical selection within dup clusters by QUALITY, not min-id: real
    * curation keeps the BEST copy of each near-dup cluster (longest /
    * cleanest / highest-scoring), while [[components]]' min-label is just
    * a stable cluster name. Given the label relation (doc_id, component)
    * and an integer per-doc score, returns (doc_id, canonical_id) — the
    * rewrite map whose image is the deduplicated corpus. Winner per
    * component = max score, ties to the smallest doc_id (deterministic,
    * engine-portable: integer struct max, no floats).
    *
    * Scale shape: for numeric ids, one partial-aggregated
    * `max(struct(score, −id))` per component — no window, no sort,
    * skew-immune (a hot cluster combines map-side). Non-numeric ids
    * (URLs, hashes) cannot ride the negation trick — unary minus on a
    * string is NULL, which would silently null every canonical_id — so
    * they take a two-step max-score → min-id path (same label-keyed
    * exchange, reused). The winners rejoin: `broadcastWinners = true`
    * (default) force-broadcasts the winners frame — one row per cluster,
    * small in every non-degenerate corpus — which keeps the member side
    * UNSHUFFLED (measured: leaving it to AQE still materializes the
    * member exchange before the join strategy revision, ~2× on the
    * isolated query). A corpus whose cluster COUNT itself is huge
    * (billions of near-singleton clusters at 100 TB) should pass false
    * and take the shuffle join — the same caller-owned scale knob as
    * the `maxBucket` rails. */
  def canonicalByScore(labels: DataFrame, scores: DataFrame,
      idCol: String = "doc_id", labelCol: String = "component",
      scoreCol: String = "score",
      broadcastWinners: Boolean = true): DataFrame = {
    val member = labels.join(scores, Seq(idCol))
    val best = labels.schema(idCol).dataType match {
      case _: org.apache.spark.sql.types.NumericType =>
        member.groupBy(col(labelCol))
          .agg(max(struct(col(scoreCol).as("s"),
            (-col(idCol)).as("nid"))).as("b"))
          .select(col(labelCol), (-col("b.nid")).as("canonical_id"))
      case _ =>
        member.select(col(labelCol), col(scoreCol), col(idCol))
          .join(member.groupBy(col(labelCol))
            .agg(max(col(scoreCol)).as("_top")), Seq(labelCol))
          .filter(col(scoreCol) === col("_top"))
          .groupBy(col(labelCol))
          .agg(min(col(idCol)).as("canonical_id"))
    }
    member.join(if (broadcastWinners) broadcast(best) else best,
        Seq(labelCol))
      .select(col(idCol), col("canonical_id"))
  }

  /** Duplication profile: the cluster-size histogram of a component
    * labelling — how much of the corpus sits in 2-copy pairs vs
    * 1000-copy boilerplate blobs. THE first diagnostic a dedup run
    * reports (and the input to "cap clusters at k copies" retention
    * policies): `(cluster_size, n_clusters, n_docs)`.
    *
    * Scale shape: two partial-aggregated counts — component → size, then
    * size → cluster count; both combine map-side, output is ≤ |distinct
    * sizes| rows (tiny). No window, no sort, skew-immune. */
  def dupProfile(labels: DataFrame, labelCol: String = "component")
      : DataFrame =
    labels.groupBy(col(labelCol))
      .agg(count(lit(1)).cast("long").as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).cast("long").as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))

  /** Per-document n-gram novelty against the whole corpus: how much of a
    * document's n-gram set appears in ANY other document. The soft
    * counterpart to near-dup removal — a ranking signal ("keep the novel
    * docs first" retention, self-BLEU-style diversity audits) rather than
    * a pair set. Returns (doc_id, n_ngrams, n_shared, novelty_x1e6) with
    * novelty = (distinct n-grams seen nowhere else) / (distinct n-grams),
    * ×10⁶ integer.
    *
    * Scale shape: the hashed-shingle relation ([[shingles]] → 8-byte
    * [[phash]]) is staged and read twice — once for the corpus-wide
    * document-frequency aggregate (map-side-combined on the hash key),
    * once joined back per doc. The join is an 8-byte-key shuffle join on
    * both sides' natural key — the df table is corpus-sized, so no
    * broadcast; at 100 TB the standard cheapener is a bloom filter of
    * the df>1 keys in place of the full join (the join stays exact here
    * because the oracle replays it). Per-doc distinctness comes free
    * from [[shingles]]' array_distinct, so df counts documents. */
  def ngramNovelty(docs: DataFrame, n: Int = 2, textCol: String = "text")
      : DataFrame = {
    val sh = Stage.barrier(docs.select(col("doc_id"),
      explode(transform(shingles(col(textCol), n), s => phash(s)))
        .as("h")))
    val df = sh.groupBy(col("h"))
      .agg(count(lit(1)).cast("long").as("df"))
    sh.join(df, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_ngrams"),
        sum(when(col("df") > 1L, 1L).otherwise(0L)).cast("long")
          .as("n_shared"))
      .withColumn("novelty_x1e6",
        expr("(n_ngrams - n_shared) * 1000000 div n_ngrams"))
  }

  /** Bit width of the SimHash: the portable dual polynomial hash supplies
    * 62 well-mixed bits (functions.PolyHash2 — DuckDB-replicable, unlike
    * xxhash64). */
  private[graft] val SimHashBits = 62

  /** SimHash over a document's tokens: per token, the portable 62-bit hash
    * supplies the bit pattern; each bit contributes ±1 to its counter lane;
    * the sign of each lane becomes the output bit. Word-order independent,
    * cheap, and hamming-comparable.
    *
    * Execution shape: ONE codegen'd per-row expression
    * (functions.SimHash62) — a document's text is a single row, so the
    * signature is row-local and needs no explode, no aggregate, and no
    * shuffle. The previous explode + aggregate pipeline shuffled a
    * 62-lane partial buffer per document (~500 B each: 319 MB and
    * ~160 CPU-seconds of sort-aggregate machinery at sf1) to merge
    * buffers that were already complete per input partition. DedupSpec
    * pins equality with the declarative 62-sum-column explode form. One
    * edge differs by construction: a NULL text yields a (doc_id, NULL)
    * row here, where the explode-based form drops the doc entirely — the
    * row-local shape is the more honest one: the doc stays visible, and
    * the consumers screen it explicitly ([[hammingNearDupPairs]] filters
    * NULL signatures before blocking, counting them through the
    * [[HammingNullSigRail]] observation; [[simhashCanonical]] self-labels
    * NULL-text docs as singleton clusters). */
  def simhashes(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.GraftFunctions.simHash62(col(textCol)).as("simhash"))

  /** SimHash near-dup candidates with hamming ≤ maxHamming (≤ 6): split
    * the 64-bit hash into 8 byte-chunks and block on all C(8,2)=28 ORDERED
    * CHUNK PAIRS (16-bit keys). Pigeonhole: ≤6 flipped bits dirty ≤6
    * chunks, so ≥2 chunks stay clean and their pair key matches — recall is
    * guaranteed for the budget, while 16-bit keys keep buckets ~2⁸× smaller
    * than single-byte blocking (correlated corpora collide heavily on
    * 8-bit chunks). Equality joins only; exact bit_count verification. */
  def simhashNearDupPairs(docs: DataFrame, maxHamming: Int = 6,
      textCol: String = "text"): DataFrame =
    // The signature relation is STAGED (like [[simhashCanonical]]'s):
    // [[hammingNearDupPairs]] evaluates its input in both the bucket
    // census and the blocked join, and re-running the tokenize +
    // 62-lane aggregation per consumer is exactly the recompute a
    // 100 TB caller avoids by materializing signatures first. 16 bytes
    // per doc — 28× smaller than caching the exploded block relation.
    // Stage LIFECYCLE applies (release via Stage.releaseAll).
    hammingNearDupPairs(Stage.barrier(simhashes(docs, textCol)),
      maxHamming, idCol = "doc_id", sigCol = "simhash")

  /** Generic near-dup pairing over 64-bit signatures `(id, sig)` — the
    * chunk-pair blocking shared by text SimHash and media perceptual
    * hashes. Any signature family whose similarity is hamming distance
    * plugs in here; recall is guaranteed for maxHamming ≤ 6 (pigeonhole
    * over the C(8,2) = 28 ordered byte-chunk pair keys).
    *
    * `maxBucket` mirrors [[lshCandidatePairs]]' guard: a (blk, key)
    * bucket of B rows contributes B²/2 candidate pairs, so one
    * degenerate key (a constant-signature corpus slice) would go
    * silently quadratic; buckets beyond the cap are dropped before the
    * self-join (losing only recall in pathological mass-duplicate
    * regions — at real scale, drop + log, never explode). The default
    * is far above any bucket the tested scale factors produce, so it is
    * purely a rail. Recall semantics under a FIRED rail: by default the
    * kernel emits a pair only in the first clean chunk-pair block of
    * its XOR — if THAT bucket is over-cap the pair is dropped even when
    * it co-occurs in a surviving bucket. `survivingBlocks = true` buys
    * exact parity with [[lshCandidatePairs]]' surviving-band rule (the
    * pair is recovered through its first SURVIVING clean block; both
    * semantics pinned by RailPropertySpec's executable models). The
    * knob is not free and not default because of a MEASURED trade
    * (r14 sf1 A/B, BENCH_NOTES): the per-row mask must be folded
    * doc-side from the over-cap census, and under the pure-plan
    * contract that census is an EXTRA full pass of the bucket
    * aggregation (AQE materializes concurrent broadcast stages without
    * sharing the sizes exchange) — 2.16 s → 3.26 s at sf1 (+51% on the
    * whole operator) while the rail never fires, to change behavior
    * only when it does. The 8 bytes/row carry itself is noise; the
    * census pass is the cost.
    * Fired-rail recall loss surfaces via [[Rail.observed]]'s drop
    * count; mass-duplicate corpora should exact-dedup first, raise the
    * cap, use [[simhashCanonical]], or flip the knob.
    *
    * In-bucket pairing runs as a per-partition primitive microkernel
    * ([[HammingPairKernel]]), not a self-join: a signature-bucket census
    * at sf2 put 3.8e9 candidate pairs through the former sort-merge
    * self-join at ~150 ns each (576 CPU-seconds of row-iterator
    * machinery) when the work per candidate is one XOR + popcount —
    * ~2-3 ns in a primitive-array loop. The kernel makes the per-bucket
    * quadratic scan ~50× cheaper, which also retires the SMJ-era
    * pair-salt tiling (its adaptive b-side ×G replication existed only
    * to spread candidate mass the row machinery made expensive): a
    * rail-capped worst bucket is now bn²/2 ≈ 5e9 register ops ≈ seconds
    * on ONE task, cheaper than the replication shuffle that used to
    * spread it. One exchange total — the blocked relation hash-
    * partitioned by (blk, key) — and `maxBucket` doubles as the
    * kernel's group-memory bound (≤ 100k rows ≈ a few MB). */
  def hammingNearDupPairs(sigs: DataFrame, maxHamming: Int = 6,
      idCol: String = "doc_id", sigCol: String = "simhash",
      maxBucket: Int = 100000,
      tileRows: Int = HammingPairKernel.TileRows,
      survivingBlocks: Boolean = false): DataFrame =
    hammingPlan(sigs, maxHamming, idCol, sigCol, maxBucket, tileRows,
      survivingBlocks)._1

  /** [[hammingNearDupPairs]] plus the number of (blk, key) buckets the
    * `maxBucket` rail dropped, counted EAGERLY (one census job at call
    * time) for callers that must branch on the count — the rail must
    * never fire SILENTLY (a fired rail is lost recall in a mass-duplicate
    * region; the operator of a 100 TB run needs the count, not a vibe).
    * Callers that only need the warn-log visibility should use the lazy
    * [[hammingNearDupPairs]], whose census surfaces through the
    * `graft.rail` observation metric instead ([[Rail.observed]]).
    *
    * COST under `survivingBlocks = true`: THREE bucket-census passes —
    * this eager `count`, the plan's own collected ocRow, and the
    * annotated screen (the r14 audit showed AQE does not share the
    * underlying exchange between concurrent broadcast stages), stacking
    * on the knob's documented +51%. Pair the knob with the lazy form
    * unless the branch-on-count contract is really needed; sharing the
    * count with the plan's ocRow would mean collecting the census at
    * call time and inlining it as a literal — a plan-shape change not
    * worth it for a diagnostics entry point. */
  def hammingNearDupPairsWithStats(sigs: DataFrame, maxHamming: Int = 6,
      idCol: String = "doc_id", sigCol: String = "simhash",
      maxBucket: Int = 100000,
      survivingBlocks: Boolean = false): (DataFrame, Long) = {
    val (pairs, overCap) =
      hammingPlan(sigs, maxHamming, idCol, sigCol, maxBucket,
        survivingBlocks = survivingBlocks)
    val droppedBuckets = overCap.count()
    if (droppedBuckets > 0)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(hammingRailWarn(maxBucket).format(droppedBuckets))
    (pairs, droppedBuckets)
  }

  /** The 28 ordered chunk-pair block keys of a 64-bit signature column —
    * (blk = c1*8+c2, key = chunk(c1)*256 + chunk(c2)) — the ONE blocking
    * recipe shared by [[hammingNearDupPairs]]' plan and the streaming
    * split dual's stream-static index
    * ([[graft.streaming.EventStream.splitAgainstCorpus]]), so the two
    * sides' bucket keys cannot drift (the same shared-recipe posture as
    * [[windowHashes]] / [[hashedShingleRows]]). */
  private[graft] def chunkPairDefs(sig: Column): Seq[(Int, Column)] = {
    def chunk(c: Int): Column = shiftright(sig, c * 8).bitwiseAND(255L)
    for {
      c1 <- 0 until 8; c2 <- (c1 + 1) until 8
    } yield (c1 * 8 + c2, chunk(c1) * 256L + chunk(c2))
  }

  /** Partition width for CPU-bound kernel stages whose cost is NOT
    * proportional to their input bytes (the hamming pair kernel's
    * per-bucket quadratic scan, pairMetrics' pair-keyed exchange): the
    * larger of the session's shuffle-partition setting and the
    * cluster's default parallelism. Byte-based AQE coalescing — correct
    * for byte-proportional operators — under-parallelizes these
    * (measured r20: the sf1 blocked relation coalesced to ~2
    * partitions, +40% on q_simhash_canonical), so they pin an explicit
    * count, which AQE never touches. Both inputs scale with the
    * deployment, not with local core counts. */
  private def kernelWidth(s: org.apache.spark.sql.SparkSession): Int =
    math.max(s.sparkContext.defaultParallelism,
      org.apache.spark.sql.internal.SQLConf.get.numShufflePartitions)

  /** Rail kind for [[Rail.observed]] / observation metrics. */
  val HammingBucketRail = "hamming.maxBucket"

  /** Rail kind for the NULL-signature screen in [[hammingNearDupPairs]]:
    * [[simhashes]] emits (doc_id, NULL) for NULL text (the row-local
    * expression keeps the doc visible instead of silently dropping it),
    * and a NULL signature has no hamming distance to anything — the
    * blocking screens those rows out BEFORE the kernel (whose primitive
    * getLong reads would otherwise NPE inside a task) and counts them
    * through this observation metric. */
  val HammingNullSigRail = "hamming.nullSig"

  private val hammingNullSigWarn: String =
    "hammingNearDupPairs: screened %d NULL-signature rows before " +
      "blocking — NULL text/signature docs participate in no near-dup " +
      "pair (they surface as singletons in simhashCanonical)"

  private def hammingRailWarn(maxBucket: Int): String =
    s"hammingNearDupPairs: maxBucket=$maxBucket dropped %d over-cap " +
      "(blk, key) buckets — recall is lost in those mass-duplicate " +
      "regions; raise maxBucket or cluster via simhashCanonical " +
      "instead of pairing"

  /** Shared lazy plan: (pair list, over-cap census). PURE PLAN
    * CONSTRUCTION — no action, no cache; the blocked relation's narrow
    * upstream re-evaluates per consumer (callers with an expensive
    * signature plan stage it first — [[simhashNearDupPairs]] /
    * [[simhashCanonical]] do; the input's own shuffles dedupe via
    * exchange reuse either way). The rail's anti join is UNCONDITIONAL
    * — an empty over-cap set broadcasts for free — with drop counts
    * surfacing via the observation metric + session warn log. */
  private def hammingPlan(sigs: DataFrame, maxHamming: Int,
      idCol: String, sigCol: String, maxBucket: Int,
      tileRows: Int = HammingPairKernel.TileRows,
      survivingBlocks: Boolean = false)
      : (DataFrame, DataFrame) = {
    require(tileRows >= 1, s"tileRows must be >= 1, got $tileRows")
    require(maxHamming <= 6,
      "chunk-pair blocking guarantees recall only for hamming <= 6")
    // NULL-signature screen (see [[HammingNullSigRail]]): filtered here —
    // once, before the 28-way explode — with the screened count surfacing
    // lazily through the observation metric, like the bucket rail's.
    val hs = Rail.observedScreen(
        sigs.select(col(idCol).as("doc_id"), col(sigCol).as("simhash")),
        col("simhash").isNull, HammingNullSigRail, hammingNullSigWarn)
      .filter(col("simhash").isNotNull)
    val idType = hs.schema("doc_id").dataType
    // resolved at plan-construction time so an unsupported id type fails
    // the caller immediately, not inside a task
    val idLess = HammingPairKernel.idComparator(idType)
    val pairDefs = chunkPairDefs(col("simhash"))
    val pairCols = pairDefs.map { case (b, k) =>
      struct(lit(b).as("blk"), k.as("key"))
    }
    // The PRE-filter relation — the kernel exchange and the census read
    // the same blocks; no barrier (see [[hammingPlan]] scaladoc on
    // exchange reuse).
    val blocked0 =
      hs.select(col("doc_id"), col("simhash"),
          explode(array(pairCols: _*)).as("ck"))
        .select(col("doc_id"), col("simhash"),
          col("ck.blk").as("blk"), col("ck.key").as("key"))
    // Bucket sizes via a partial-aggregated groupBy, NOT a value-
    // partitioned window: the rail exists for degenerate hot buckets, and
    // count() OVER (PARTITION BY blk, key) would serialize every row of a
    // hot bucket into one WindowExec task BEFORE the rail could drop it —
    // the exact skew shape the rail guards against. The groupBy map-side-
    // combines a hot key to one row per input partition, and the key
    // domain is bounded (28 chunk-pair blocks × 2¹⁶ key values), so the
    // over-cap set is intrinsically broadcastable.
    val sizes = blocked0
      .groupBy(col("blk"), col("key"))
      .agg(count(lit(1)).as("_bn"))
    val overCap = sizes.filter(col("_bn") > maxBucket)
      .select(col("blk"), col("key"))
    // ONE exchange — the blocked relation hash-partitioned by
    // (blk, key, tile) — then the per-partition microkernel scans each
    // bucket tile's pair space in a primitive-array loop. This replaced
    // a hint-forced sort-merge self-join: the row-at-a-time join
    // machinery cost ~150 ns per candidate pair (sf2: 3.8e9 candidates
    // ≈ 576 CPU-seconds) against ~2-3 ns for the XOR + popcount the
    // candidate actually needs. A user-specified repartition is never
    // split by AQE, so a (blk, key, tile) group always arrives complete
    // and contiguous after the partition-local sort — the kernel's
    // grouping contract.
    //
    // MONSTER-BUCKET TILING: a bucket under the rail cap can still own
    // bn²/2 ≈ 5e9 XOR+popcounts — several seconds on ONE task while 31
    // idle (the r12e census: 4 buckets held 36% of the sf2 pair mass;
    // measured max-task 6.3 s vs mean 2.3 s). For buckets over
    // `tileRows`, rows are assigned a block index b = hash(id) mod g
    // (g = ⌈bn/tileRows⌉, capped) and replicated to the g tile-pairs
    // containing their block: tile (t1,t1) pairs its rows triangularly,
    // tile (t1<t2) pairs t1-side rows against t2-side rows only — every
    // unordered candidate pair lands in EXACTLY the tile of its two
    // block indices, so exactly-once emission is preserved with zero
    // pair-keyed dedup. Work per tile ≤ tileRows², and the replication
    // (×g on hot rows only) is bounded by cap·hotRows — mild buckets
    // (g = 1, the overwhelming majority) pay one int column and nothing
    // else.
    //
    // Structural dedup (unchanged semantics): a pair meets in block
    // (c1,c2) iff bytes c1 and c2 of sh_a XOR sh_b are zero ("clean");
    // hamming ≤ 6 over 8 byte-chunks leaves ≥ 2 clean chunks by
    // pigeonhole, so the lexicographically FIRST clean chunk-pair
    // always exists — the kernel emits a verified pair only in that
    // block, so each pair appears exactly once across all 28 blocks
    // with no pair-keyed dedup exchange.
    // ONE annotated census broadcast serves BOTH rails: over-cap buckets
    // carry the −1 sentinel, merely-hot buckets carry their tile count
    // g, and everything under tileRows is simply absent (null → g = 1).
    // The stream pays a single broadcast hash probe before its only
    // exchange — over-cap rows are dropped map-side exactly like the
    // former anti join. ONE filtered projection, NOT a union of two
    // branches: the r14 stage audit showed the union's branches did NOT
    // share the sizes exchange under AQE (concurrent broadcast stages
    // each materialized their own census pass — 2× the aggregation), so
    // the merged form halves the census cost; the drop metric rides as
    // a row screen over the −1 rows (same lazy accounting).
    val annotated = Rail.observedScreen(
      sizes
        .filter(col("_bn") > tileRows || col("_bn") > maxBucket)
        .select(col("blk"), col("key"),
          when(col("_bn") > maxBucket, lit(-1))
            .otherwise(least(ceil(col("_bn") / lit(tileRows.toDouble)),
              lit(HammingPairKernel.MaxTilesPerBucket.toLong)).cast("int"))
            .as("_g")),
      col("_g") === -1, HammingBucketRail, hammingRailWarn(maxBucket))
    // SURVIVING-BLOCK MASK (r14, opt-in — see the scaladoc's measured
    // trade): the kernel's emission rule needs to know, per row, which
    // of the row's 28 (blk, key) buckets the rail dropped — so a pair
    // whose FIRST clean block is over-cap still emits, exactly once, in
    // its first SURVIVING clean block (lshCandidatePairs' surviving-band
    // rule). The census rides in as ONE collected row (same bounded
    // argument as the broadcast: every over-cap bucket holds > maxBucket
    // rows) joined onto the per-DOC relation BEFORE the 28-way explode,
    // where a codegen'd fold packs the 28 over-cap bits into one long
    // (`size == 0` fast path when the rail never fired). The dominant
    // cost is ocRow's own census pass (BENCH_NOTES r14 stage table); on
    // clean blocks the two sides share the bucket, so either row's mask
    // bit decides — dirty-block bits are never read.
    // Same collected shape as lshCandidatePairs' census (r16): per-blk
    // SORTED key arrays probed by binary search (functions.SortedProbe)
    // instead of an O(|census|) array_contains scan per blk. blk indices
    // are c1·8+c2 ∈ [1, 62], so the band-indexed array has 63 slots (35
    // of them always empty — one single-row array, free).
    val ocRow = overCap
      .agg(collect_set(struct(col("blk"), col("key"))).as("_ocp"))
      .select(
        transform(sequence(lit(0), lit(62)),
          b => sort_array(transform(
            filter(col("_ocp"), p => p.getField("blk") === b),
            p => p.getField("key")))).as("_ocb"),
        size(col("_ocp")).as("_ocn"))
    val maskExpr = when(col("_ocn") === 0, lit(0L)).otherwise(
      pairDefs.foldLeft(lit(0L)) { case (acc, (b, k)) =>
        acc.bitwiseOR(when(graft.functions.GraftFunctions.sortedContains(
          col("_ocb").getItem(b), k), lit(1L << b))
          .otherwise(lit(0L)))
      })
    // kernel-branch blocked relation: the census above reads the
    // UNMASKED blocked0 (the mask depends on the census — masking the
    // census's own input would be circular)
    // the mask select sits in its OWN projection below the explode:
    // fused into one select, the analyzer plans the Generate first and
    // the 28-probe CASE lands ABOVE it — evaluated per exploded row
    // (28× per doc) instead of once per doc. The census row rides in on
    // a CONSTANT-KEY BroadcastHashJoin, NOT crossJoin: a single-row
    // cross join plans as BroadcastNestedLoopJoin, which whole-stage
    // codegen cannot compile, so the entire explode → filter → exchange
    // pipeline would fall back to interpreted rows; the equivalent BHJ
    // keeps the stage fused (plan-pinned in DedupSpec).
    val blockedK =
      if (!survivingBlocks) blocked0
      else hs
        // BOTH keys must be NON-FOLDABLE (attribute-derived): lit-vs-lit
        // folds the join condition to `true` (cross-join BNLJ), and a
        // lit build key folds to a one-sided `_j = 0` condition with no
        // cross-side equi keys — also BNLJ. Attribute-derived constants
        // on both sides keep ExtractEquiJoinKeys satisfied → BHJ.
        .withColumn("_j",
          pmod(xxhash64(col("simhash")), lit(1L)).cast("int"))
        .join(broadcast(ocRow.withColumn("_j",
          pmod(col("_ocn").cast("long"), lit(1L)).cast("int"))),
          Seq("_j"), "left")
        .select(col("doc_id"), col("simhash"),
          coalesce(maskExpr, lit(0L)).as("_mask"))
        .select(col("doc_id"), col("simhash"), col("_mask"),
          explode(array(pairCols: _*)).as("ck"))
        .select(col("doc_id"), col("simhash"), col("_mask"),
          col("ck.blk").as("blk"), col("ck.key").as("key"))
    val maskCols = if (survivingBlocks) Seq(col("_mask")) else Nil
    val tiled = blockedK
      .select(Seq(col("blk"), col("key"), col("doc_id"),
        col("simhash")) ++ maskCols: _*)
      .join(broadcast(annotated), Seq("blk", "key"), "left")
      .filter(col("_g").isNull || col("_g") =!= -1)
      .withColumn("_g", coalesce(col("_g"), lit(1)))
      .withColumn("_b",
        pmod(xxhash64(col("doc_id")), col("_g").cast("long")).cast("int"))
      .select(Seq(col("blk"), col("key"), col("doc_id"), col("simhash")) ++
        maskCols ++ Seq(col("_b"),
        explode(transform(sequence(lit(0), col("_g") - 1),
          t => least(col("_b"), t) * HammingPairKernel.TileBase +
            greatest(col("_b"), t))).as("tile")): _*)
    val outSchema = types.StructType(Seq(
      types.StructField("doc_a", idType),
      types.StructField("doc_b", idType),
      types.StructField("hamming", types.LongType, nullable = false)))
    val pairs = tiled
      .select(Seq(col("blk"), col("key"), col("tile"), col("_b"),
        col("doc_id"), col("simhash")) ++ maskCols: _*)
      // EXPLICIT count (r20): the kernel's work is QUADRATIC in bucket
      // size while its input bytes are linear, so byte-based AQE
      // coalescing (legal on a count-less repartition once cached-plan
      // re-optimization is on — Tables.SessionConfigs) lands the sf1
      // blocked relation (~70 MB) on ~2 partitions and runs billions of
      // XOR+popcounts on 2 cores. An explicit count is never coalesced;
      // width = the machine/deployment parallelism floor (see
      // [[kernelWidth]]). Grouping contract unchanged: hash partitioning
      // by (blk, key, tile) still delivers each tile complete.
      .repartition(kernelWidth(tiled.sparkSession),
        col("blk"), col("key"), col("tile"))
      .sortWithinPartitions(col("blk"), col("key"), col("tile"), col("_b"))
      .mapPartitions(rows =>
        new HammingPairKernel(rows, maxHamming, idLess,
          hasMask = survivingBlocks))(
        org.apache.spark.sql.Encoders.row(outSchema))
    (pairs, overCap)
  }

  /** Cluster-reduce form of SimHash near-dup detection — the DENSE-corpus
    * posture. [[simhashNearDupPairs]]' deliverable is the PAIR LIST,
    * which is inherently quadratic in self-similar corpora (measured:
    * 38.7M verified pairs at sf1 — the cost is the output shape, not the
    * plan). At 100 TB the right deliverable for dense slices is the
    * CLUSTER MAP: (doc_id, canonical_id) for every document, O(docs).
    *
    * The collapse that makes it cheap is EXACT, not approximate: hamming
    * distance depends only on the signature, so documents sharing one
    * 62-bit simhash are interchangeable — group to one representative per
    * DISTINCT signature first (`min(doc_id)`, the same partial-aggregated
    * shuffle as exact dedup), run the chunk-pair blocking + connected
    * components over representatives only, then broadcast the component
    * label back through the signature. A million identical boilerplate
    * docs contribute ONE node to the pair graph instead of 5·10¹¹ pairs;
    * the quadratic pair relation exists only as a transient shuffle
    * inside the component aggregation, never as a deliverable.
    *
    * canonical_id = the smallest doc_id in the transitive near-dup
    * cluster (singletons label themselves) — identical to running
    * [[components]] over the full document pair graph, proven in
    * DedupSpec and cross-engine by q_simhash_canonical's exhaustive
    * recursive-CTE oracle. */
  def simhashCanonical(docs: DataFrame, maxHamming: Int = 6,
      textCol: String = "text", maxBucket: Int = 100000): DataFrame = {
    // DEFERRED (r21, guide §1.2 — fewer actions): the signature frame's
    // first consumer is the reps barrier right below, whose
    // materializing count reads through this cache and computes it as a
    // side effect (single reference — see [[Stage.defer]]'s contract);
    // an eager count here was a duplicate action round-trip. The
    // fan-out consumers (the final rejoin + NULL union) are built over
    // the sealed leaf after materialization.
    val allSigsC = Stage.defer(simhashes(docs, textCol))
    // NULL-text docs carry a NULL signature ([[simhashes]]); similarity
    // to unknown content is unknown, so they are NOT mutual duplicates —
    // each labels itself (the same posture as [[firstPerDigest]]'s
    // NULL-digest pass-through). Splitting here keeps the NULL group out
    // of `reps` (a groupBy would fold all NULLs into one rep) and keeps
    // the final rejoin an equi-join that every sig can actually match.
    val reps = Stage.barrier(allSigsC.filter(col("simhash").isNotNull)
      .groupBy(col("simhash"))
      .agg(min(col("doc_id")).as("rep_id")))
    val allSigs = Stage.seal(allSigsC)
    val sigs = allSigs.filter(col("simhash").isNotNull)
    // staged: the rep pair list is the quadratic-output stage (dense
    // corpora put many representatives in one bucket), and components'
    // edge closure would otherwise re-run it — materialize once; it is
    // O(rep clusters), far smaller than the corpus. barrierCounted: the
    // count routes components' union-find rail with zero extra jobs.
    val (pairs, nPairs) = Stage.barrierCounted(
      hammingNearDupPairs(reps, maxHamming,
        idCol = "rep_id", sigCol = "simhash", maxBucket = maxBucket))
    // the kernel emits each pair once, doc_a < doc_b (structural
    // first-clean-block dedup) — skip components' edge-dedup exchange
    val labels = components(pairs, assumeCanonical = true,
        knownPairs = nPairs)
      .select(col("doc_id").as("rep_id"), col("component"))
    sigs.join(reps, Seq("simhash"))
      .join(labels, Seq("rep_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("rep_id")).as("canonical_id"))
      .unionByName(allSigs.filter(col("simhash").isNull)
        .select(col("doc_id"), col("doc_id").as("canonical_id")))
  }

  /** (doc_id, pos, seg) rows: documents cut into `segTokens`-token
    * segments. The token array materializes as a COLUMN before the
    * position lambda slices it — slicing a raw split() inside the lambda
    * re-evaluates the split per segment (HOFs are interpreted; see
    * BENCH_NOTES r6), turning segmentation O(tokens²/segTokens). */
  private def segmentRows(docs: DataFrame, segTokens: Int,
      textCol: String): DataFrame = {
    val toks = col("_toks")
    val nSegs = ceil(size(toks) / lit(segTokens.toDouble)).cast("int")
    val segs = transform(sequence(lit(0), nSegs - 1),
      i => concat_ws(" ", slice(toks, i * segTokens + 1, lit(segTokens))))
    docs.select(col("doc_id"), split(col(textCol), " ").as("_toks"))
      .select(col("doc_id"), posexplode(segs))
      .toDF("doc_id", "pos", "seg")
  }

  /** Corpus-level segment dedup (the C4/CCNet "remove duplicated lines
    * across documents" pass): cut each document into `segTokens`-token
    * segments, keep only the FIRST occurrence of each distinct segment
    * corpus-wide (first = smallest (doc_id, position)), and reassemble
    * every document from its surviving segments in order.
    *
    * Returns (doc_id, n_segs, n_kept, dedup_text) for every input doc
    * WITH NON-NULL text — n_kept = 0 yields an empty dedup_text, the
    * "document fully consumed by boilerplate" signal a filtering stage
    * cuts on. NULL-text docs define no segments and are ABSENT from the
    * output (split(NULL) explodes to nothing) — screen or count them
    * upstream, as the near-dup path does ([[HammingNullSigRail]]).
    *
    * Scale shape: one explode (bounded ×⌈tokens/segTokens⌉), a PARTIAL-
    * AGGREGATED groupBy on the segment text for the first occurrence
    * (min(struct(doc_id, pos)) — lexicographic struct order ≡ the
    * (doc_id, pos) sort), joined back, one groupBy doc_id to reassemble.
    * Deliberately NOT a row_number window partitioned by segment value:
    * at 100 TB a degenerate hot segment (empty-ish boilerplate) is a
    * skew key, and a window must SORT the whole hot partition on one
    * task with no runtime mitigation — min(struct) instead combines
    * map-side so the hot key arrives pre-reduced, and the join back is
    * AQE-skew-splittable. */
  def segmentDedup(docs: DataFrame, segTokens: Int = 8,
      textCol: String = "text"): DataFrame = {
    val exploded = segmentRows(docs, segTokens, textCol)
    val firsts = exploded.groupBy(col("seg"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
      .select(col("seg"), col("first.doc_id").as("f_doc"),
        col("first.pos").as("f_pos"))
    exploded.join(firsts, Seq("seg"))
      .withColumn("is_first",
        col("doc_id") === col("f_doc") && col("pos") === col("f_pos"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_segs"),
        sum(when(col("is_first"), 1L).otherwise(0L)).cast("long")
          .as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("is_first"), struct(col("pos"), col("seg"))))),
          s => s.getField("seg"))).as("dedup_text"))
  }

  /** Duplicate-SPAN removal — the ExactSubstr posture (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better"): remove
    * every occurrence-but-the-first of any duplicated `windowTokens`-token
    * window, with overlapping duplicated windows merged into maximal
    * spans. Unlike [[segmentDedup]] (fixed ⌊pos/8⌋ boundaries — a
    * duplicate passage straddling a boundary survives both halves), the
    * sliding window catches duplicated passages at ANY alignment: a
    * 20-token passage repeated verbatim marks all 13 of its windows and
    * the union of their token ranges is exactly the passage.
    *
    * Keep rule: for each distinct window content, the occurrence with the
    * smallest (doc_id, pos) is the canonical one and is NOT marked; every
    * other occurrence marks its token range [pos, pos+W). Self-repetition
    * inside one document is handled by the same rule (later repeats are
    * marked). Returns one row per input doc with non-NULL text (a NULL
    * text defines no windows and is absent from the output):
    * (doc_id, n_tokens, n_dup_tokens, clean_text) — clean_text is the
    * document reassembled from unmarked tokens in order (empty when fully
    * consumed); docs shorter than the window pass through untouched.
    *
    * Scale shape: windows shuffle as 62-bit `polyHash2` keys (8-byte
    * rows, never the W-token text — at 100 TB the window text is W× the
    * corpus), first-occurrence via the same partial-aggregated
    * min(struct) as [[segmentDedup]] (no value-partitioned window, so a
    * hot boilerplate window arrives pre-reduced); duplicate occurrences
    * explode ×W into covered token positions (bounded, duplicate side
    * only), and the final flag join + reassembly are (doc_id, pos)-keyed.
    * 62-bit keys make a false dup ~2⁻⁶² per pair; both engines use the
    * identical hash, so the oracle comparison is exact regardless. */
  /** (doc_id, pos, h) rows of every `w`-token sliding window, hashed
    * 62-bit. `toks` must carry (doc_id, _toks) with the token array
    * MATERIALIZED as a column before the lambda slices it
    * (interpreted-HOF rule, BENCH_NOTES r6). sequence(0, n-w) DESCENDS
    * when n < w (Spark semantics) — guarded to an empty list so short
    * docs contribute no windows. */
  /** The per-row array of `w`-token window hashes over a `_toks`-style
    * token-array column — ONE definition of the rolling window hash,
    * shared by the exploded batch form below and the streaming span
    * screen's row-local fold (EventStream.spanScreenAgainstCorpus), so
    * the hash/window recipe cannot drift between duals. */
  private[graft] def windowHashes(toks: Column, w: Int): Column =
    when(size(toks) >= w,
      transform(sequence(lit(0), size(toks) - w), i =>
        graft.functions.GraftFunctions.polyHash2(
          concat_ws(" ", slice(toks, i + 1, lit(w))))))
      .otherwise(array())

  private def windowHashRows(toks: DataFrame, w: Int): DataFrame =
    toks.select(col("doc_id"),
        posexplode(windowHashes(col("_toks"), w)))
      .toDF("doc_id", "pos", "h")

  def duplicateSpans(docs: DataFrame, windowTokens: Int = 8,
      textCol: String = "text"): DataFrame = {
    val w = windowTokens
    val toks = Stage.barrier(
      docs.select(col("doc_id"), split(col(textCol), " ").as("_toks")))
    val occ = windowHashRows(toks, w)
    val firsts = occ.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
      .select(col("h"), col("first.doc_id").as("f_doc"),
        col("first.pos").as("f_pos"))
    val covered = occ.join(firsts, Seq("h"))
      .filter(!(col("doc_id") === col("f_doc") && col("pos") === col("f_pos")))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + w - 1)).as("pos"))
      .distinct()
      .withColumn("_dup", lit(1))
    toks.select(col("doc_id"), posexplode(col("_toks")))
      .toDF("doc_id", "pos", "tok")
      .join(covered, Seq("doc_id", "pos"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(when(col("_dup").isNotNull, 1L).otherwise(0L)).cast("long")
          .as("n_dup_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("_dup").isNull, struct(col("pos"), col("tok"))))),
          s => s.getField("tok"))).as("clean_text"))
  }

  /** Near-dup incidence profile by a metadata group — the corpus-audit
    * rollup a dedup run reports to its operators: per group (source,
    * lang, crawl batch, …), how many documents have at least one
    * verified near-duplicate, and how many of those duplicate ACROSS
    * groups (cross-source duplication is the contamination signal that
    * decides whether dedup may stay group-local or must run global).
    *
    * `meta` carries (doc_id, `byCol`); `pairs` is any verified pair
    * relation (doc_a, doc_b) — MinHash-LSH, SimHash, containment. Every
    * pair id must appear in `meta` (pairs derive from the corpus the
    * meta describes) — a partner absent from meta drops its pair from
    * the inner joins by that contract. The cross-group test is
    * NULL-SAFE: a NULL group value is its own group (`<=> `), so a
    * 'cc'↔NULL duplicate counts as cross-group instead of evaluating to
    * unknown and silently reading group-local. Scale
    * shape: pairs symmetrized (2·|pairs| 8-byte-key rows) and joined
    * twice against the id→group projection (co-keyed equi joins, never
    * the documents), one per-doc max, one |groups|-row rollup — every
    * aggregate partial-combines. */
  def nearDupRateBy(meta: DataFrame, pairs: DataFrame,
      byCol: String): DataFrame = {
    val m = meta.select(col("doc_id"), col(byCol).as("_g"))
    val sym = pairs.select(col("doc_a").as("doc_id"),
        col("doc_b").as("partner"))
      .union(pairs.select(col("doc_b").as("doc_id"),
        col("doc_a").as("partner")))
    val flags = sym
      .join(m, Seq("doc_id"))
      .join(m.select(col("doc_id").as("partner"), col("_g").as("_pg")),
        Seq("partner"))
      .groupBy(col("doc_id"), col("_g"))
      .agg(max(when(!(col("_pg") <=> col("_g")), 1L).otherwise(0L))
        .as("_cross"))
    m.join(flags.select(col("doc_id"), lit(1L).as("_dup"), col("_cross")),
        Seq("doc_id"), "left")
      .groupBy(col("_g"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(coalesce(col("_dup"), lit(0L))).cast("long").as("n_dup_docs"),
        sum(coalesce(col("_cross"), lit(0L))).cast("long")
          .as("n_cross_dup_docs"))
      .withColumn("dup_x1e6", expr("n_dup_docs * 1000000 div n_docs"))
      .withColumnRenamed("_g", byCol)
  }

  /** Distinct window-hash BANK of a corpus — [[duplicateSpans]]' sidecar
    * for incremental ingestion: one 8-byte row per distinct
    * `windowTokens`-token window in the published corpus. At 100 TB this
    * is the span analog of the digest table ([[incrementalDedup]]) —
    * maintained incrementally (union new batches' hashes), bucketed by
    * `h` so the screen join below is co-partitioned. */
  def spanBank(docs: DataFrame, windowTokens: Int = 8,
      textCol: String = "text"): DataFrame =
    windowHashRows(
      docs.select(col("doc_id"), split(col(textCol), " ").as("_toks")),
      windowTokens)
      .select(col("h")).distinct()

  /** Incremental duplicate-SPAN screen — [[duplicateSpans]]' batch↔corpus
    * form, the third rung of the incremental-ingestion ladder after
    * [[incrementalDedup]] (exact digests) and [[incrementalNearDedup]]
    * (whole-doc MinHash): a new batch is screened against the published
    * corpus's window [[spanBank]], and every batch token covered by a
    * window ALREADY IN THE CORPUS counts as duplicated. Catches the
    * quote-stitched recrawl — a "new" page assembled from passages of
    * already-ingested pages — which passes both digest and whole-doc
    * near-dup screens.
    *
    * Per batch doc: (doc_id, n_tokens, n_dup_tokens, dup_x1e6). Gate on
    * the rate; the span surgery itself (cutting covered spans out) is
    * [[duplicateSpans]]' reassembly applied with this coverage — kept as
    * a metric here because a landing screen DROPS or FLAGS, it doesn't
    * rewrite content it hasn't accepted yet.
    *
    * Scale shape: batch windows shuffle as 8-byte hashes into a
    * LEFT SEMI join against the (bucketed) bank — the corpus side never
    * rehashes its documents; coverage explodes ×W on MATCHED windows
    * only; the flag join and final aggregate are (doc_id, pos)-keyed. */
  def spanScreen(batch: DataFrame, bank: DataFrame, windowTokens: Int = 8,
      textCol: String = "text"): DataFrame = {
    val w = windowTokens
    val toks = Stage.barrier(
      batch.select(col("doc_id"), split(col(textCol), " ").as("_toks")))
    val covered = windowHashRows(toks, w)
      .join(bank.select(col("h")), Seq("h"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + w - 1)).as("pos"))
      .distinct()
      .withColumn("_dup", lit(1))
    toks.select(col("doc_id"), posexplode(col("_toks")))
      .toDF("doc_id", "pos", "tok")
      .join(covered, Seq("doc_id", "pos"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(when(col("_dup").isNotNull, 1L).otherwise(0L)).cast("long")
          .as("n_dup_tokens"))
      .withColumn("dup_x1e6",
        expr("n_dup_tokens * 1000000 div n_tokens"))
  }

  // ---- persisted-store lifecycles for the OTHER two rungs of the
  // incremental-ingestion ladder, symmetric with the near-dup index
  // (buildNearDupIndex/appendNearDupIndex below): every screen's corpus
  // side becomes a bucketed external table that is built once, appended
  // per increment, screened in place, and compacted with
  // PartitionedStore.compactBucketed. Both are retry-idempotent BY
  // CONSTRUCTION — their only consumers are an anti join (digests) and
  // a left-semi join (span bank), to which duplicate rows are
  // invisible — so a torn or redelivered append is repaired by blindly
  // re-running it; compactBucketed(dedupRows = true) reclaims the
  // duplicate rows.

  /** Builds the PERSISTED digest index — [[incrementalDedup]]'s
    * `seenDigests` as a digest-bucketed external table (the shape the
    * epoch chain's production store already uses): one distinct digest
    * per row, bucketed AND sorted by digest, so every later increment's
    * anti join reads the corpus side in place and only the batch
    * shuffles. No parameter stamps: the digest recipe
    * (sha2(lower(text), 256)) has no free parameters. NULL-text docs
    * define no digest and are absent (a stored NULL could never
    * equi-match; the screen keeps NULL-digest batch docs untouched
    * regardless — [[firstPerDigest]]). */
  def buildDigestIndex(corpus: DataFrame, table: String, path: String,
      nBuckets: Int = 32, textCol: String = "text"): Unit =
    graft.sources.PartitionedStore.writeBucketed(
      corpus.select(sha2(lower(col(textCol)), 256).as("digest"))
        .filter(col("digest").isNotNull).distinct(),
      table, path, Seq("digest"), nBuckets, Seq("digest"))

  /** Appends an increment's (within-increment distinct) digests to the
    * persisted index — run after each increment's survivors publish,
    * like [[appendNearDupIndex]]. */
  def appendDigestIndex(docs: DataFrame, table: String,
      textCol: String = "text"): Unit =
    graft.sources.PartitionedStore.appendBucketed(
      docs.select(sha2(lower(col(textCol)), 256).as("digest"))
        .filter(col("digest").isNotNull).distinct(), table)

  /** [[incrementalDedup]] against the persisted digest index —
    * row-identical output ((doc_id, digest) per kept batch doc), with
    * the corpus side one in-place bucketed scan
    * ([[graft.sources.PartitionedStore.antiJoinBucketed]]; both batch
    * exchanges hash on the digest, the store never moves —
    * EpochProdSpec pins the identical plan shape for the epoch store). */
  def incrementalDedupFrom(s: SparkSession, batch: DataFrame,
      digestTable: String, textCol: String = "text"): DataFrame =
    graft.sources.PartitionedStore.antiJoinBucketed(s,
      firstPerDigest(batch.select(col("doc_id"),
        sha2(lower(col(textCol)), 256).as("_dig"))),
      digestTable)
      .select(col("doc_id"), col("_dig").as("digest"))

  /** Builds the PERSISTED span bank — [[spanBank]] as an h-bucketed
    * external table, stamped with its window width: a screen or append
    * run with a DIFFERENT `windowTokens` would produce window hashes
    * that can never match the stored ones — silently zero coverage,
    * every quote-stitched recrawl admitted — so the stamp check fails
    * loudly instead (the near-dup index's banding-stamp convention). */
  def buildSpanBank(corpus: DataFrame, table: String, path: String,
      windowTokens: Int = 8, nBuckets: Int = 32,
      textCol: String = "text"): Unit = {
    graft.sources.PartitionedStore.writeBucketed(
      spanBank(corpus, windowTokens, textCol),
      table, path, Seq("h"), nBuckets, Seq("h"))
    corpus.sparkSession.sql(s"ALTER TABLE $table SET TBLPROPERTIES(" +
      s"'graft.spanbank.w'='$windowTokens')")
  }

  /** Appends an increment's (within-increment distinct) window hashes
    * to the persisted span bank. */
  def appendSpanBank(docs: DataFrame, table: String,
      windowTokens: Int = 8, textCol: String = "text"): Unit = {
    requireSpanBankParams(docs.sparkSession, table, windowTokens)
    graft.sources.PartitionedStore.appendBucketed(
      spanBank(docs, windowTokens, textCol), table)
  }

  /** [[spanScreen]] against the persisted span bank — row-identical
    * output, with the bank side an in-place bucketed scan (the
    * LEFT SEMI probe joins on exactly the bucket column, so only the
    * batch's 8-byte window hashes shuffle). */
  def spanScreenFrom(s: SparkSession, batch: DataFrame,
      bankTable: String, windowTokens: Int = 8,
      textCol: String = "text"): DataFrame = {
    requireSpanBankParams(s, bankTable, windowTokens)
    spanScreen(batch, s.table(bankTable), windowTokens, textCol)
  }

  private[graft] def requireSpanBankParams(s: SparkSession,
      table: String, windowTokens: Int): Unit = {
    val props = s.sql(s"SHOW TBLPROPERTIES $table").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    require(props.get("graft.spanbank.w").contains(windowTokens.toString),
      s"span bank $table was built with windowTokens = " +
        s"${props.get("graft.spanbank.w")} but the caller asked for " +
        s"$windowTokens — mismatched windows silently zero coverage " +
        "(every recrawl admitted) or poison the bank on appends; " +
        "rebuild the bank or pass its width")
  }

  /** Candidate-vs-gold pair-set metrics — the evaluation harness every
    * near-dup method needs before it gates a corpus: given the pairs a
    * method FOUND and a TRUTH pair set, report sizes, overlap, and
    * integer precision/recall (×1000). Three count aggregations over
    * bare id-pair rows plus one pair-key join; the single-row outputs
    * cross-join, so nothing data-scale ever reaches the driver.
    *
    * Pairs are UNORDERED: both inputs are canonicalized to
    * (least, greatest) before the distinct and the overlap join, so a
    * method that emits (b, a) against a truth set emitting (a, b) — or
    * both orientations of the same pair — is scored correctly. All
    * in-repo producers already emit doc_a < doc_b, so for them the
    * canonicalization is a no-op. */
  def pairMetrics(found: DataFrame, truth: DataFrame,
      assumeCanonical: Boolean = false): DataFrame = {
    // assumeCanonical: the caller guarantees (doc_a < doc_b, exactly
    // once) — true for every in-repo pair producer since the structural
    // dedup rewrites (spec-pinned exactness). The contract-enforcing
    // distinct then only costs: a 38M-key dedup hash table per side at
    // sf1 (the suite's measured memory-pressure source). The fast path
    // skips the hash build but KEEPS one pair-keyed repartition — both
    // the overlap join and the count read the relation, and the shared
    // exchange (ReuseExchange) is what makes the expensive pair
    // generation run once, exactly as the distinct's exchange did.
    def canon(df: DataFrame): DataFrame =
      if (assumeCanonical)
        df.select(col("doc_a"), col("doc_b"))
          // explicit count for the same reason as the hamming kernel's
          // exchange (see [[kernelWidth]]): the pair GENERATION feeding
          // this exchange is quadratic-in-bucket work, so byte-based
          // coalescing of the count-less form under-parallelizes it
          .repartition(kernelWidth(df.sparkSession),
            col("doc_a"), col("doc_b"))
      else df.select(
        least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b")).distinct()
    val f = canon(found)
    val t = canon(truth)
    val nCommon = f.join(t, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).cast("long").as("n_common"))
    val nFound = f.agg(count(lit(1)).cast("long").as("n_found"))
    val nTruth = t.agg(count(lit(1)).cast("long").as("n_truth"))
    nFound.crossJoin(nTruth).crossJoin(nCommon)
      .select(col("n_found"), col("n_truth"), col("n_common"),
        when(col("n_found") > 0,
          expr("n_common * 1000 div n_found")).otherwise(0L)
          .as("precision_x1000"),
        when(col("n_truth") > 0,
          expr("n_common * 1000 div n_truth")).otherwise(0L)
          .as("recall_x1000"))
  }

  /** Lowest-id winners of a frame carrying `(_dig, doc_id, …)` — the ONE
    * exact-dedup keep rule shared by [[incrementalDedup]], Curation.curate,
    * and the composed pipeline (so the keep rule cannot drift between
    * them or their oracles). Callers project before calling, so the
    * digest shuffle carries only what they need downstream. */
  def firstPerDigest(digested: DataFrame): DataFrame = {
    // Partial-aggregated min + equi join, NOT min() OVER (PARTITION BY
    // _dig): a mass-duplicated content digest — the COMMON case in web
    // corpora, and exactly what this dedup exists to remove — would
    // serialize its every row into one WindowExec task buffer. The
    // groupBy map-side-combines the hot digest to one row per input
    // partition, the join probe STREAMS the hot key's rows instead of
    // buffering them, both consumers share the one _dig exchange
    // (ReuseExchange), and a skewed join partition is AQE-splittable
    // where a window partition never is.
    // NULL digests (sha2 of NULL text) pass through untouched: unknown
    // content is trivially unique, not a duplicate of other unknown
    // content — folding the NULL group through the groupBy would keep
    // ONE of them and an inner join on _dig would keep NONE (NULL never
    // equi-matches). The keep set is built from non-null digests only
    // and probed with a LEFT join, so a NULL-digest row gets _keep =
    // NULL and survives the filter; every non-null digest matches a
    // keep row by construction. Same shuffle shape as the inner form.
    val keep = digested.filter(col("_dig").isNotNull)
      .groupBy(col("_dig"))
      .agg(min(col("doc_id")).as("_keep"))
    digested.join(keep, Seq("_dig"), "left")
      .filter(col("_keep").isNull || col("doc_id") === col("_keep"))
      .drop("_keep")
  }

  /** Incremental ingestion dedup — how a 100 TB corpus is actually built:
    * per-increment, a NEW batch is deduped against the accumulated DIGEST
    * table of the existing corpus (64-char rows, not documents), never by
    * re-deduping the whole corpus. Keeps batch documents that are (a) the
    * first occurrence of their content within the batch (lowest doc_id)
    * and (b) unseen in the corpus digest set.
    *
    * Scale shape: one window-min over the batch's digests (shuffle
    * carries digest+id projections of the new increment only), one anti
    * join against the digest table on its 8-byte-prefix-sortable key —
    * in production that table is bucketed by digest so the join is
    * co-partitioned and the corpus side never reshuffles. */
  def incrementalDedup(batch: DataFrame, seenDigests: DataFrame,
      textCol: String = "text"): DataFrame =
    firstPerDigest(batch.select(col("doc_id"),
        sha2(lower(col(textCol)), 256).as("_dig")))
      .join(seenDigests.select(col("digest").as("_dig")),
        Seq("_dig"), "left_anti")
      .select(col("doc_id"), col("_dig").as("digest"))

  /** NEAR-dup incremental ingestion dedup — [[incrementalDedup]]'s analog
    * one level up the fuzziness ladder: a new batch is screened against
    * the accumulated corpus by MinHash-LSH banding, so a lightly edited
    * recrawl of an already-ingested page is caught even though its digest
    * differs. Candidates come from a (band, key) equi-join between the
    * batch's band rows and the CORPUS's band rows (never all-pairs), and
    * are verified by exact hashed-shingle Jaccard ≥ numer/denom in pure
    * integer math before a doc is charged as a duplicate.
    *
    * Returns one row per batch doc: (doc_id, n_corpus_dups, kept) —
    * n_corpus_dups = verified corpus near-matches, kept = no match.
    * Within-batch self-dedup stays the existing [[minhashDedupPairs]] →
    * [[components]] arc; this op owns only the batch↔corpus screen.
    *
    * Scale shape: at steady state the corpus side's signatures/band rows
    * are a PRECOMPUTED index (append-only, like the digest table) — here
    * they're derived inline from the corpus frame for a self-contained
    * signature; both sides band-join on (band, key), and verification
    * joins carry 8-byte hashed shingle arrays for only the candidate
    * pairs. The batch (≪ corpus) streams against the band index the way
    * the digest anti-join streams against the digest table. */
  def incrementalNearDedup(batch: DataFrame, corpus: DataFrame, n: Int = 2,
      k: Int = 64, bands: Int = 16, numer: Int = 7, denom: Int = 10,
      textCol: String = "text"): DataFrame = {
    // staged: each side's shingle relation feeds its signatures AND the
    // verification probes
    val bsh = Stage.barrier(hashedShingleRows(batch, n, textCol))
    val csh = Stage.barrier(hashedShingleRows(corpus, n, textCol))
    val cand = bandRows(minhashSigsOf(bsh, k), bands, k)
      .join(bandRows(minhashSigsOf(csh, k), bands, k)
        .withColumnRenamed("doc_id", "corpus_id"), Seq("band", "key"))
      .select(col("doc_id"), col("corpus_id")).distinct()
    nearDupVerdict(batch, verifiedCorpusPairs(cand, bsh,
      csh.select(col("doc_id").as("corpus_id"), col("sh").as("sh_c")),
      numer, denom))
  }

  /** The shared verification + verdict assembly of the two incremental
    * near-dup screens — ONE definition so the inline and persisted-index
    * paths cannot drift (their row identity is spec-pinned in
    * NearDupIndexSpec and they share one oracle). `verified` is
    * [[verifiedCorpusPairs]] over the inline chain or the index. */
  private def nearDupVerdict(batch: DataFrame,
      verified: DataFrame): DataFrame = {
    // n_corpus_dups counts DISTINCT corpus docs, not verified join rows:
    // with a deduped candidate set and one shingle row per corpus doc
    // the two are identical, but a RETRIED index append leaves duplicate
    // (corpus_id, sh) rows in the shingle table, and count(*) would
    // charge the same corpus doc once per copy — countDistinct makes
    // blind append retries verdict-idempotent with no transactional
    // format underneath (VERDICT r17 #1)
    val dups = verified.groupBy(col("doc_id"))
      .agg(countDistinct(col("corpus_id")).cast("long").as("n_corpus_dups"))
    batch.select(col("doc_id"))
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_corpus_dups"), lit(0L)).as("n_corpus_dups"),
        (coalesce(col("n_corpus_dups"), lit(0L)) === 0L).as("kept"))
  }

  /** The exact integer-Jaccard verification itself — (doc_id, corpus_id)
    * rows that PASS the threshold, one definition shared by the verdict
    * assembly above and the pair-shaped consumers (the streaming
    * foreachBatch screen's sink rows). NOT distinct-ed here: output
    * rows duplicate only when the shingle table holds retried-append
    * copies, and each consumer collapses those in its own aggregation
    * (countDistinct / dropDuplicates) without paying an extra
    * exchange on the clean path. */
  private def verifiedCorpusPairs(cand: DataFrame, bsh: DataFrame,
      corpusShingles: DataFrame, numer: Int, denom: Int): DataFrame =
    cand
      .join(bsh, Seq("doc_id"))
      .join(corpusShingles, Seq("corpus_id"))
      .select(col("doc_id"), col("corpus_id"),
        size(array_intersect(col("sh"), col("sh_c"))).cast("long")
          .as("n_inter"),
        (size(col("sh")) + size(col("sh_c"))).cast("long").as("sz_sum"))
      .filter(col("n_inter") * denom >= (col("sz_sum") - col("n_inter")) * numer)
      .select(col("doc_id"), col("corpus_id"))

  /** Builds the PERSISTED near-dup screen index of `corpus` — the
    * steady-state shape [[incrementalNearDedup]]'s scaladoc promises
    * ("at steady state the corpus side's signatures/band rows are a
    * PRECOMPUTED index"): two bucketed external tables the screens of
    * every later increment read IN PLACE instead of re-deriving the
    * corpus chain per batch.
    *
    *  - `bandTable` (doc_id, bkey), bucketed AND sorted by the SINGLE
    *    fused [[withBkey]] key: the candidate join's exact clustering
    *    (only the batch's band rows shuffle — the 100 TB corpus side
    *    never moves), and single-column bucketing is what lets Spark's
    *    native bucket pruning fire on a key-filtered probe (the small-
    *    probe route of [[incrementalNearDedupFrom]]) so a micro-batch
    *    screen reads only its candidate buckets' files.
    *  - `shingleTable` (doc_id, sh), bucketed by doc_id: the
    *    verification probe's corpus side, read in place per candidate.
    *
    * In production both tables are append-per-increment deliverables
    * (like the digest table); here they're written whole — the read
    * path, which is what scales, is identical. Maintenance:
    * [[appendNearDupIndex]] per increment (retry-safe — see there),
    * [[graft.sources.PartitionedStore.compactBucketed]] when
    * files-per-bucket grows, [[reconcileNearDupIndex]] to surface a
    * torn append. */
  def buildNearDupIndex(corpus: DataFrame, bandTable: String,
      bandPath: String, shingleTable: String, shinglePath: String,
      n: Int = 2, k: Int = 64, bands: Int = 16, nBuckets: Int = 32,
      textCol: String = "text"): Unit = {
    val csh = Stage.barrier(hashedShingleRows(corpus, n, textCol))
    try {
      graft.sources.PartitionedStore.writeBucketed(
        withBkey(bandRows(minhashSigsOf(csh, k), bands, k))
          .select(col("doc_id"), col("bkey")),
        bandTable, bandPath, Seq("bkey"), nBuckets, Seq("bkey"))
      graft.sources.PartitionedStore.writeBucketed(
        csh, shingleTable, shinglePath, Seq("doc_id"), nBuckets,
        Seq("doc_id"))
      // stamp the banding parameters on BOTH tables: a screen run with
      // a DIFFERENT (n, k, bands) would produce band keys that can
      // never equi-match the stored ones — an empty candidate set,
      // every batch doc "kept", mass duplicate leakage with zero error
      // — and a shingle table from a DIFFERENT index (other n) would
      // silently zero the verification intersections. The screens
      // validate both stamps and fail loudly instead (the BloomJoin /
      // SortedArrayContains convention).
      for (t <- Seq(bandTable, shingleTable))
        corpus.sparkSession.sql(
          s"ALTER TABLE $t SET TBLPROPERTIES(" +
            s"'graft.ndindex.n'='$n', 'graft.ndindex.k'='$k', " +
            s"'graft.ndindex.bands'='$bands')")
    } finally Stage.release(csh)
  }

  /** Appends an increment's band/shingle rows to an EXISTING index —
    * the maintenance step that closes the lifecycle: build once, then
    * per increment screen ([[incrementalNearDedupFrom]]) → publish
    * survivors → append the survivors here, so the next increment
    * screens against the refreshed corpus without any rebuild. The
    * stamp check runs FIRST: an append with different banding would
    * poison the index with keys no probe could ever match, silently
    * halving recall — the same failure class the screen guard closes.
    * Each append adds one file per bucket; the hash layout (and the
    * probe's exchange-free table side) is unchanged. */
  def appendNearDupIndex(docs: DataFrame, bandTable: String,
      shingleTable: String, n: Int = 2, k: Int = 64, bands: Int = 16,
      textCol: String = "text"): Unit = {
    requireIndexParams(docs.sparkSession, bandTable, shingleTable,
      n, k, bands)
    val csh = Stage.barrier(hashedShingleRows(docs, n, textCol))
    try {
      // SHINGLE table first, bands second — the two appends are not
      // atomic, and the order decides the failure mode of a crash
      // between them: orphan shingle rows are inert (candidates come
      // from the band table; the increment just isn't screened-against
      // yet, same as before the append), while orphan BAND rows would
      // produce candidates the verification inner join silently drops —
      // near-dups of those docs never flagged. [[reconcileNearDupIndex]]
      // surfaces a torn append (either direction) from the tables'
      // doc_id sets, and the REPAIR is a blind retry of the same
      // append: a retry is verdict-IDEMPOTENT — the screens' candidate
      // set is distinct-ed and the verdict counts DISTINCT corpus docs
      // ([[nearDupVerdict]]), so duplicated index rows change no
      // n_corpus_dups and no `kept` — and the duplicate rows themselves
      // are reclaimed at the next compactBucketed(dedupRows = true).
      graft.sources.PartitionedStore.appendBucketed(csh, shingleTable)
      graft.sources.PartitionedStore.appendBucketed(
        withBkey(bandRows(minhashSigsOf(csh, k), bands, k))
          .select(col("doc_id"), col("bkey")), bandTable)
    } finally Stage.release(csh)
  }

  /** Torn-append detector for the persisted index ([[appendNearDupIndex]]
    * is two non-atomic table appends): diffs the DISTINCT doc_id sets of
    * the two tables. `missing_from = "band"` rows (doc has shingles but
    * no band rows) are INERT — that increment simply isn't
    * screened-against yet, the shingles-first ordering's designed crash
    * state; `missing_from = "shingle"` rows are the DANGEROUS direction
    * (band candidates whose verification join silently drops — should
    * never occur from a torn append, only from manual writes). Empty
    * result = consistent index. Repair either way: re-run the torn
    * increment's append — retries are verdict-idempotent (see
    * [[appendNearDupIndex]]).
    *
    * Scale shape: two distinct projections of doc_id (the shingle side
    * partial-aggregates on its own bucket column) and one full-outer
    * join on the 8-byte key — a maintenance audit, run between
    * increments, never per screen. */
  def reconcileNearDupIndex(s: SparkSession, bandTable: String,
      shingleTable: String): DataFrame = {
    val b = s.table(bandTable).select(col("doc_id")).distinct()
      .withColumn("_b", lit(true))
    val sh = s.table(shingleTable).select(col("doc_id")).distinct()
      .withColumn("_s", lit(true))
    b.join(sh, Seq("doc_id"), "full_outer")
      .filter(col("_b").isNull || col("_s").isNull)
      .select(col("doc_id"),
        when(col("_b").isNull, lit("band")).otherwise(lit("shingle"))
          .as("missing_from"))
  }

  /** A persisted store to include in an [[auditStores]] maintenance
    * sweep — one constructor per store kind the library maintains. */
  sealed trait StoreRef
  /** Digest index ([[buildDigestIndex]]) — no parameter stamps (the
    * digest recipe has none). */
  final case class DigestStoreRef(table: String) extends StoreRef
  /** Span bank ([[buildSpanBank]]) — stamped with its window width. */
  final case class SpanBankRef(table: String) extends StoreRef
  /** Near-dup index pair ([[buildNearDupIndex]]) — banding stamps on
    * both tables, plus the torn-append doc_id diff. */
  final case class NearDupIndexRef(bandTable: String,
      shingleTable: String) extends StoreRef
  /** Persisted IVF index ([[graft.ops.Ivf.buildIvfIndex]]) — stamped
    * with its quantizer parameters (nlist/dim/seed; probers and
    * appenders DERIVE the quantizer from the stamp, so a lost stamp
    * bricks the store loudly — the audit shows it before a prober
    * trips on it). */
  final case class IvfIndexRef(table: String) extends StoreRef

  /** ONE maintenance sweep over every persisted-store kind
    * (VERDICT r18 #7): per table — the [[graft.sources.PartitionedStore
    * .storeStats]] health numbers (files per bucket, duplicate backlog
    * from retried appends), whether the store's parameter stamps are
    * intact (`stamp_ok` — the "manual write poisons silently" class:
    * a recreated table that lost its TBLPROPERTIES passes every scan
    * but fails every screen's guard, or worse, a guard-less consumer),
    * and for the near-dup pair the torn-append doc count per direction
    * ([[reconcileNearDupIndex]]; 0 for the single-table stores, which
    * have no torn state). Stamp rules are the SCREENS' own guards:
    * span bank needs a parseable positive `graft.spanbank.w`; the
    * index pair needs n/k/bands present on BOTH tables and EQUAL
    * across the pair (a mixed pair zeroes verification); the digest
    * index has no stamps by design. Everything here is
    * driver-side-small: stats jobs are one aggregation per table, the
    * reconcile is one distinct-projection join per pair. */
  def auditStores(s: SparkSession, stores: Seq[StoreRef]): DataFrame = {
    import graft.sources.PartitionedStore
    // numeric-stamp validity: bounded toLong, NEVER toInt on an
    // unbounded digit string — an audit whose purpose is surfacing
    // poisoned stamps must flag (not crash on) a >Int.MaxValue value
    // (round-close review r19)
    def numericStamp(v: String): Boolean =
      v.nonEmpty && v.length <= 18 && v.forall(_.isDigit) && v.toLong > 0
    val rows = stores.flatMap {
      case DigestStoreRef(t) =>
        val st = PartitionedStore.storeStats(s, t)
        Seq((t, "digest_index", st.nBuckets, st.nFiles,
          st.filesPerBucketMax, st.rows, st.dupBacklog, true, 0L))
      case SpanBankRef(t) =>
        val st = PartitionedStore.storeStats(s, t)
        val ok = st.stamps.get("graft.spanbank.w").exists(numericStamp)
        Seq((t, "span_bank", st.nBuckets, st.nFiles,
          st.filesPerBucketMax, st.rows, st.dupBacklog, ok, 0L))
      case IvfIndexRef(t) =>
        val st = PartitionedStore.storeStats(s, t)
        // nlist/dim must be positive counts; the seed is any long
        // (sign included), so its rule is parseability, not positivity
        // (Try subsumes the empty and overflow cases on its own —
        // numericStamp's length cap guards an UNguarded toLong)
        def longStamp(v: String): Boolean =
          scala.util.Try(v.toLong).isSuccess
        val ok = Seq("graft.ivf.nlist", "graft.ivf.dim")
          .forall(k => st.stamps.get(k).exists(numericStamp)) &&
          st.stamps.get("graft.ivf.seed").exists(longStamp)
        Seq((t, "ivf_index", st.nBuckets, st.nFiles,
          st.filesPerBucketMax, st.rows, st.dupBacklog, ok, 0L))
      case NearDupIndexRef(bt, sht) =>
        val torn = reconcileNearDupIndex(s, bt, sht)
          .groupBy(col("missing_from")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val pair = Seq(bt -> "nd_band_index", sht -> "nd_shingle_index")
          .map { case (t, kind) =>
            (t, kind, PartitionedStore.storeStats(s, t)) }
        // stamp rule off the stats' OWN property maps (one catalog
        // read per table): n/k/bands numeric on the band table and
        // EQUAL across the pair — a mixed pair zeroes verification
        val stampKeys = Seq("graft.ndindex.n", "graft.ndindex.k",
          "graft.ndindex.bands")
        val Seq(bStamps, shStamps) = pair.map(_._3.stamps)
        val ok = stampKeys.forall(k =>
          bStamps.get(k).exists(numericStamp) &&
            bStamps.get(k) == shStamps.get(k))
        pair.map { case (t, kind, st) =>
          // a doc MISSING from the band table is the band store's
          // gap to fill (and vice versa) — attribute it there
          val missKey =
            if (kind == "nd_band_index") "band" else "shingle"
          (t, kind, st.nBuckets, st.nFiles, st.filesPerBucketMax,
            st.rows, st.dupBacklog, ok, torn.getOrElse(missKey, 0L))
        }
    }
    import s.implicits._
    rows.toDF("table", "kind", "n_buckets", "n_files",
      "max_files_per_bucket", "rows", "dup_backlog", "stamp_ok",
      "torn_docs")
  }

  /** Fails loudly when either persisted index table was built with
    * different banding parameters than the caller is about to use
    * (shared with the streaming dual, EventStream.nearDupAgainstIndex).
    * BOTH tables are checked: a band table from one index paired with a
    * shingle table from another (different n) passes every band probe
    * and then zeroes the verification intersections — true near-dups
    * silently admitted. */
  private[graft] def requireIndexParams(s: SparkSession, bandTable: String,
      shingleTable: String, n: Int, k: Int, bands: Int): Unit =
    for (t <- Seq(bandTable, shingleTable)) {
      val props = s.sql(s"SHOW TBLPROPERTIES $t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val stamped = (props.get("graft.ndindex.n"),
        props.get("graft.ndindex.k"), props.get("graft.ndindex.bands"))
      require(stamped == (Some(n.toString), Some(k.toString),
          Some(bands.toString)),
        s"near-dup index table $t was built with " +
          s"(n, k, bands) = $stamped but the caller asked for " +
          s"($n, $k, $bands) — mismatched banding would silently return " +
          "an empty candidate set on screens (every batch doc kept), " +
          "zero the verification on mixed-index tables, or poison the " +
          "index on appends; rebuild the index or pass the index's " +
          "parameters")
    }

  /** The candidate probe against a persisted band index: batch band
    * rows ⋈ `bandTable` on the fused `bkey` — exactly the bucket
    * column, so the index side reads its layout in place and the batch
    * side is the join's ONE exchange (NearDupIndexSpec plan-asserts). */
  private[graft] def nearDupBandProbe(s: SparkSession,
      batchBands: DataFrame, bandTable: String): DataFrame =
    batchBands.join(
      s.table(bandTable).select(col("bkey"),
        col("doc_id").as("corpus_id")),
      Seq("bkey"))

  /** [[incrementalNearDedup]] against the PERSISTED index tables of
    * [[buildNearDupIndex]] — row-identical output ((doc_id,
    * n_corpus_dups, kept) per batch doc; same banding, same integer
    * Jaccard), but the corpus side is two bucketed scans, routed on the
    * batch's counted size ([[indexSides]]): a large batch probes both
    * tables in place, a small one reads only its candidate buckets. The
    * corpus is touched ZERO times per increment beyond those scans —
    * the shape that holds when the corpus is 100 TB and the nightly
    * batch is 100 GB. */
  def incrementalNearDedupFrom(s: SparkSession, batch: DataFrame,
      bandTable: String, shingleTable: String, n: Int = 2, k: Int = 64,
      bands: Int = 16, numer: Int = 7, denom: Int = 10,
      textCol: String = "text", maxLits: Int = 2048): DataFrame =
    nearDupVerdict(batch, indexPairs(s, batch, bandTable, shingleTable,
      n, k, bands, numer, denom, textCol, maxLits))

  /** Pair-shaped index screen — DISTINCT verified (doc_id, corpus_id)
    * match rows over the same routed index sides; what the streaming
    * foreachBatch dual ([[graft.streaming.EventStream.nearDupIndexEachBatch]])
    * hands its sink each trigger, sharing the verification definition
    * with every other screen so they cannot drift. */
  private[graft] def nearDupMatches(s: SparkSession,
      batch: DataFrame, bandTable: String, shingleTable: String,
      n: Int = 2, k: Int = 64, bands: Int = 16, numer: Int = 7,
      denom: Int = 10, textCol: String = "text",
      maxLits: Int = 2048): DataFrame =
    indexPairs(s, batch, bandTable, shingleTable, n, k, bands, numer,
      denom, textCol, maxLits).dropDuplicates("doc_id", "corpus_id")

  /** The verified pairs both index screens consume: stamp check, the
    * staged batch shingles (whose materializing count sizes the route),
    * the routed index sides, the shared verification. */
  private def indexPairs(s: SparkSession, batch: DataFrame,
      bandTable: String, shingleTable: String, n: Int, k: Int, bands: Int,
      numer: Int, denom: Int, textCol: String, maxLits: Int): DataFrame = {
    requireIndexParams(s, bandTable, shingleTable, n, k, bands)
    val (bsh, nDocs) =
      Stage.barrierCounted(hashedShingleRows(batch, n, textCol))
    val (cand, csh) = indexSides(s, bsh, nDocs, bandTable, shingleTable,
      k, bands, maxLits)
    verifiedCorpusPairs(cand, bsh, csh, numer, denom)
  }

  /** (candidates, corpus shingles) of the staged batch shingles `bsh`
    * (`nDocs` rows), on one of three routes:
    *  - IN PLACE ([[nearDupBandProbe]], whole shingle table): when the
    *    batch may carry more than 2·`maxLits` band rows (nDocs·bands;
    *    nothing is collected — a large batch is corpus-shaped work),
    *    when its collected band rows hold more than `maxLits` distinct
    *    keys, and always at `maxLits = 0`.
    *  - PRUNED (REPOSE's prune-before-verify, ICDE 2021): the band rows
    *    are collected once and become the candidate bucket set, read as
    *    FILES chosen with the write's own hash
    *    ([[graft.sources.PartitionedStore.prunedBucketScan]]), and a
    *    broadcast probe; the candidates (≤ 4·`maxLits`) are collected,
    *    broadcast, and their corpus ids (≤ `maxLits`) prune the shingle
    *    side. A probe whose keys touch every bucket still takes this
    *    route: the broadcast probe over the unfiltered catalog read
    *    measured faster than the sort-merge join (BENCH_NOTES r19).
    *  - OVERFLOW (> 4·`maxLits` candidates): the candidates stay lazy
    *    over the pruned band side and the shingle table is read in
    *    place. Nothing is staged, so nothing outlives a trigger scope.
    * File filters only bound I/O (every join re-applies its key
    * equality), so all routes return the same rows — NearDupIndexSpec
    * pins each against the in-place route. */
  private def indexSides(s: SparkSession, bsh: DataFrame, nDocs: Long,
      bandTable: String, shingleTable: String, k: Int, bands: Int,
      maxLits: Int): (DataFrame, DataFrame) = {
    import graft.sources.PartitionedStore
    def shingleSide(base: DataFrame): DataFrame =
      base.select(col("doc_id").as("corpus_id"), col("sh").as("sh_c"))
    val bbands = withBkey(bandRows(minhashSigsOf(bsh, k), bands, k))
    def inPlace: (DataFrame, DataFrame) =
      (nearDupBandProbe(s, bbands, bandTable)
        .select(col("doc_id"), col("corpus_id")).distinct(),
        shingleSide(s.table(shingleTable)))
    if (maxLits <= 0 || nDocs * bands > 2L * maxLits) return inPlace
    val probeDf = bbands.select(col("doc_id"), col("bkey"))
    val head = probeDf.collect()
    val keys = head.iterator.map(_.getString(1)).toSet
    if (keys.size > maxLits) return inPlace
    val localBands = broadcast(s.createDataFrame(
      java.util.Arrays.asList(head: _*), probeDf.schema))
    val candDf = PartitionedStore.prunedBucketScan(s, bandTable, keys)
      .select(col("bkey"), col("doc_id").as("corpus_id"))
      .join(localBands, Seq("bkey"))
      .select(col("doc_id"), col("corpus_id")).distinct()
    val candCap = maxLits * 4
    val candRows = candDf.limit(candCap + 1).collect()
    if (candRows.length > candCap)
      (candDf, shingleSide(s.table(shingleTable)))
    else {
      val cids = candRows.iterator.map(_.get(1)).toSeq.distinct
      // the key filter lives inside prunedBucketScan (applied only when
      // files were actually pruned — an unpruned catalog read must carry
      // NO key filter or genBucketSet's planning walk returns); the
      // verification join re-applies the equality
      (broadcast(s.createDataFrame(
          java.util.Arrays.asList(candRows: _*), candDf.schema)),
        shingleSide(
          if (cids.size > maxLits) s.table(shingleTable)
          else PartitionedStore.prunedBucketScan(s, shingleTable, cids)))
    }
  }

  /** Corpus snapshot diff — the audit between two versions of an
    * incrementally-built corpus (what did this increment actually do?):
    * per doc_id, whether the new snapshot ADDED, REMOVED, kept
    * (unchanged), or rewrote (modified) it. Content is compared by
    * sha-256 digest, so the join carries 64-char rows, never documents —
    * the same shuffle class as [[exactByDigest]]; one full outer join on
    * the id key and nothing else. Publishing this diff alongside each
    * increment's [[graft.ops.TextAnalysis.manifest]] is what makes a
    * 100 TB corpus auditable without re-reading it. */
  def corpusDiff(prev: DataFrame, curr: DataFrame,
      textCol: String = "text"): DataFrame = {
    // presence is tested by a MARKER column, never by digest nullity — a
    // NULL-text doc (sha2 of NULL is NULL) is still PRESENT in its
    // snapshot, and digest comparison is null-safe so NULL→NULL reads
    // "unchanged" (nothing we know about changed) while NULL→text reads
    // "modified", not "added"
    val a = prev.select(col("doc_id"),
      sha2(lower(col(textCol)), 256).as("dig_prev"),
      lit(true).as("_in_prev"))
    val b = curr.select(col("doc_id"),
      sha2(lower(col(textCol)), 256).as("dig_curr"),
      lit(true).as("_in_curr"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("_in_prev").isNull, "added")
          .when(col("_in_curr").isNull, "removed")
          .when(col("dig_prev") <=> col("dig_curr"), "unchanged")
          .otherwise("modified").as("status"))
  }

  /** Corpus-level boilerplate removal — the document-frequency complement
    * of [[segmentDedup]] (the C4/CCNet "remove lines repeated across many
    * pages" rule, an extension op beyond the reference's surface): cut each
    * document into `segTokens`-token segments, count the DISTINCT
    * documents each segment appears in, and drop EVERY occurrence of
    * segments whose document frequency reaches `maxDf` — unlike
    * first-occurrence dedup, a boilerplate segment vanishes from all
    * documents, including the first one that carried it.
    *
    * Returns (doc_id, n_segs, n_dropped, clean_text) for every input
    * doc with non-NULL text (NULL-text docs define no segments and are
    * absent, as in [[segmentDedup]]).
    *
    * Scale shape: one bounded explode (×⌈tokens/segTokens⌉), a
    * distinct-projection + partial-aggregated groupBy on the segment value
    * for the df table (shuffle rows = distinct (seg, doc) pairs), one
    * shuffle join exploded⋈df on the segment key, one groupBy doc_id to
    * reassemble. No window over the raw occurrence stream: the df
    * relation aggregates before it joins back, so a pathological hot
    * segment (empty boilerplate on billions of pages) costs one combiner
    * row per map task, not a skewed window partition. */
  def boilerplateRemoval(docs: DataFrame, segTokens: Int = 8,
      maxDf: Int = 3, textCol: String = "text"): DataFrame = {
    val exploded = segmentRows(docs, segTokens, textCol)
    val dfTable = exploded.select(col("seg"), col("doc_id")).distinct()
      .groupBy(col("seg")).agg(count(lit(1)).as("df"))
    exploded.join(dfTable, "seg")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_segs"),
        sum(when(col("df") >= maxDf, 1L).otherwise(0L)).cast("long")
          .as("n_dropped"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("df") < maxDf, struct(col("pos"), col("seg"))))),
          s => s.getField("seg"))).as("clean_text"))
  }

  /** Span-level benchmark decontamination — the GPT-3/PaLM "remove
    * overlapping spans, not whole documents" pass: cut each training
    * document into `segTokens`-token segments, drop every segment whose
    * text occurs ANYWHERE in the eval corpus (segmented the same way),
    * and reassemble the survivors in order. Where [[contamination]]
    * reports doc-level overlap counts for auditing, this op produces the
    * cleaned corpus itself, surgically: a doc quoting one benchmark
    * passage loses that span and keeps the rest.
    *
    * Returns (doc_id, n_segs, n_dropped, clean_text) for every training
    * doc with non-NULL text (NULL-text docs are absent, as in
    * [[segmentDedup]]) — n_dropped = 0 means untouched; clean_text = ""
    * means fully consumed (the doc IS benchmark text).
    *
    * Scale shape: the banned-segment set is tiny (benchmarks are MBs
    * against a 100 TB corpus) — distinct-aggregated once and BROADCAST,
    * so the corpus-side explode never shuffles: segment, probe the
    * broadcast hash set, reassemble within the doc-keyed aggregation.
    * The only shuffle is the final groupBy doc_id, which the pipeline
    * needs anyway to rebuild documents. */
  def decontaminateSegments(docs: DataFrame, evalDocs: DataFrame,
      segTokens: Int = 8, textCol: String = "text"): DataFrame = {
    val exploded = segmentRows(docs, segTokens, textCol)
    val banned = segmentRows(evalDocs, segTokens, textCol)
      .select(col("seg")).distinct()
    exploded
      .join(broadcast(banned.withColumn("_ban", lit(true))),
        Seq("seg"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_segs"),
        sum(when(col("_ban"), 1L).otherwise(0L)).cast("long")
          .as("n_dropped"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("_ban").isNull, struct(col("pos"), col("seg"))))),
          s => s.getField("seg"))).as("clean_text"))
  }
}

/** Per-partition microkernel behind [[Dedup.hammingNearDupPairs]]: scans
  * each (blk, key) signature bucket's pair space with a primitive-array
  * loop — XOR, popcount, first-clean-block check — instead of a
  * row-at-a-time self-join. The declarative alternatives were measured
  * (BENCH_NOTES r12): a hint-forced sort-merge self-join spends ~150 ns
  * of iterator/UnsafeRow machinery per candidate pair when the work is
  * ~2-3 ns of register ops; Catalyst has no way to express an O(B²)
  * sub-row-granularity scan inside one operator, which makes this the
  * rare genuinely-imperative per-partition loop `mapPartitions` exists
  * for.
  *
  * Contract: `rows` are (blk: int, key: long, tile: int, b: int,
  * id: any, sig: long[, mask: long when `hasMask` — the per-row
  * over-cap block bitmask, bit c1*8+c2]), partition-locally SORTED by
  * (blk, key, tile, b)
  * so each bucket tile arrives contiguous and complete (the caller's
  * `repartition(blk, key, tile)` + `sortWithinPartitions` — never split
  * by AQE for a user repartition). `tile` encodes a block-index pair
  * (t1 * TileBase + t2, t1 ≤ t2) from the caller's monster-bucket
  * split: a (t, t) tile holds one block of the bucket and is paired
  * triangularly; a (t1 < t2) tile holds two blocks (the b = t1 rows
  * sorted first) and pairs ONLY across the split — each unordered
  * candidate pair belongs to exactly the tile of its two block
  * indices. Untiled buckets arrive as the single tile (0, 0) = the
  * plain triangular scan. Group size is bounded by the caller's
  * `maxBucket` rail (over-cap buckets are anti-joined away BEFORE the
  * exchange) and, for tiled buckets, by ~2·TileRows, which therefore
  * also bounds kernel memory: ≤ maxBucket ids + sigs ≈ a few MB. Output
  * is lazy — one (doc_a, doc_b, hamming) row per verified pair, emitted
  * as the (i, j) cursors advance, so a mass-duplicate bucket's
  * quadratic PAIR LIST streams out without materializing in the task.
  *
  * Exactly-once emission and orientation replicate the former SQL plan:
  * a verified pair (hamming ≤ maxHamming, always ≤ 6) has ≥ 2 clean
  * XOR byte-chunks by pigeonhole and is emitted only in the block of
  * its lexicographically first clean chunk-pair — first clean
  * SURVIVING chunk-pair under `hasMask` (the caller's rail dropped
  * over-cap buckets, so emission attribution must skip them or railed
  * first-blocks would silently eat pairs that co-occur elsewhere);
  * `doc_a < doc_b` under the id column's own ordering
  * ([[HammingPairKernel.idComparator]] — UTF8 binary for strings,
  * matching Spark's `<` on StringType). */
private[ops] final class HammingPairKernel(
    rows: Iterator[Row], maxHamming: Int,
    idLess: (Any, Any) => Boolean,
    hasMask: Boolean = false) extends Iterator[Row] {
  private val buf = rows.buffered
  private var ids: Array[Any] = _
  private var sg: Array[Long] = _
  private var mk: Array[Long] = _ // per-row over-cap block mask (see plan)
  private var n = 0
  private var nA = 0 // cross tiles: first index of the t2 side
  private var cross = false
  private var blk = -1
  private var i = 0
  private var j = 1
  private var out: Row = _

  /** Reads the next contiguous (blk, key, tile) group into primitive
    * arrays; false when the partition is exhausted. */
  private def loadGroup(): Boolean = {
    if (!buf.hasNext) { ids = null; return false }
    val head = buf.head
    blk = head.getInt(0)
    val key = head.getLong(1)
    val tile = head.getInt(2)
    val t1 = tile / HammingPairKernel.TileBase
    cross = t1 != tile % HammingPairKernel.TileBase
    val ib = Array.newBuilder[Any]
    val sb = Array.newBuilder[Long]
    val mb = if (hasMask) Array.newBuilder[Long] else null
    var m = 0
    var a = 0
    while (buf.hasNext && buf.head.getInt(0) == blk &&
        buf.head.getLong(1) == key && buf.head.getInt(2) == tile) {
      val r = buf.next()
      if (r.getInt(3) == t1) a += 1 // sorted by b, so the t1 side is [0, a)
      ib += r.get(4)
      sb += r.getLong(5)
      if (hasMask) mb += r.getLong(6)
      m += 1
    }
    ids = ib.result(); sg = sb.result(); n = m
    mk = if (hasMask) mb.result() else null
    nA = if (cross) a else n
    i = 0
    j = if (cross) nA else 1
    true
  }

  /** Emission block for the candidate (i, j): the first clean chunk-pair
    * block under the row's over-cap mask (all-blocks rule when no mask —
    * identical, since firstCleanSurvivingBlk(x, 0) == firstCleanBlk(x)).
    * On clean blocks both rows share the bucket, so either side's mask
    * bit decides; row i's is used. */
  @inline private def emitBlk(x: Long, iRow: Int): Int =
    if (mk == null) HammingPairKernel.firstCleanBlk(x)
    else HammingPairKernel.firstCleanSurvivingBlk(x, mk(iRow))

  /** True when the current group has no (i, j) cursor positions left. */
  private def groupDone: Boolean =
    if (cross) i >= nA || nA >= n else i >= n - 1

  private def advance(): Unit = {
    while (true) {
      if (ids == null || groupDone) {
        if (!loadGroup()) return
      }
      if (cross) {
        // two-block tile: pair the t1 prefix against the t2 suffix only
        // (same-block pairs belong to that block's (t, t) tile)
        while (i < nA && nA < n) {
          val si = sg(i)
          while (j < n) {
            val x = si ^ sg(j)
            if (java.lang.Long.bitCount(x) <= maxHamming &&
                emitBlk(x, i) == blk) {
              val h = java.lang.Long.bitCount(x).toLong
              out = if (idLess(ids(i), ids(j))) Row(ids(i), ids(j), h)
              else Row(ids(j), ids(i), h)
              j += 1
              if (j >= n) { i += 1; j = nA }
              return
            }
            j += 1
          }
          i += 1; j = nA
        }
      } else {
        while (i < n - 1) {
          val si = sg(i)
          while (j < n) {
            val x = si ^ sg(j)
            // popcount first (the overwhelming reject path); the
            // first-clean-block check runs on survivors only
            if (java.lang.Long.bitCount(x) <= maxHamming &&
                emitBlk(x, i) == blk) {
              val h = java.lang.Long.bitCount(x).toLong
              out = if (idLess(ids(i), ids(j))) Row(ids(i), ids(j), h)
              else Row(ids(j), ids(i), h)
              j += 1
              if (j >= n) { i += 1; j = i + 1 }
              return
            }
            j += 1
          }
          i += 1; j = i + 1
        }
      }
      ids = null // group exhausted — fall through to the next one
    }
  }

  override def hasNext: Boolean = {
    if (out == null) advance()
    out != null
  }

  override def next(): Row = {
    if (!hasNext) throw new NoSuchElementException("kernel exhausted")
    val r = out
    out = null
    r
  }
}

private[ops] object HammingPairKernel {
  /** Bucket size above which the pair scan is split into block-pair
    * tiles: cross-tile work ≤ TileRows² ≈ 2.7e8 XOR+popcounts ≈ 0.3 s —
    * the granularity at which a rail-capped monster bucket (up to
    * maxBucket²/2 ≈ 5e9 candidates on ONE task otherwise) spreads
    * across the stage instead of straggling it. */
  val TileRows = 16384

  /** Cap on tiles per bucket: replication is ×g on hot rows, so the cap
    * bounds the worst hot-bucket shuffle inflation at ×32 of rows that
    * are by definition ≤ maxBucket each. maxBucket/cap ≈ 3k-row blocks
    * keep cross tiles ≥ 1e7 candidates — still seconds of useful work,
    * never confetti. */
  val MaxTilesPerBucket = 32

  /** Tile ids encode (t1, t2) as t1 * TileBase + t2; must exceed
    * MaxTilesPerBucket. */
  val TileBase = 64

  /** Block id of the lexicographically first clean chunk-pair of a
    * signature XOR — the same `c1 * 8 + c2` encoding the blocking
    * explode uses, and the same two-lowest-set-bits formula the SQL
    * plan computed with bit_count((m & -m) - 1). Callers guarantee
    * ≥ 2 clean chunks (hamming ≤ 6 over 8 chunks). */
  def firstCleanBlk(x: Long): Int = {
    var m = 0
    var c = 0
    while (c < 8) {
      if (((x >>> (c * 8)) & 0xffL) == 0L) m |= 1 << c
      c += 1
    }
    val c1 = java.lang.Integer.numberOfTrailingZeros(m)
    val c2 = java.lang.Integer.numberOfTrailingZeros(m & (m - 1))
    c1 * 8 + c2
  }

  /** [[firstCleanBlk]] under a per-row over-cap mask (bit `c1*8+c2` set =
    * that block's bucket was railed): the lexicographically first clean
    * chunk-pair whose bucket SURVIVED, or -1 when every clean block is
    * railed (the pair co-occurs in no surviving bucket — dropped, the
    * same residual loss as the LSH surviving-band rule). mask == 0 (the
    * never-fired fast path) delegates to the two-ntz formula. */
  def firstCleanSurvivingBlk(x: Long, mask: Long): Int = {
    if (mask == 0L) return firstCleanBlk(x)
    var m = 0
    var c = 0
    while (c < 8) {
      if (((x >>> (c * 8)) & 0xffL) == 0L) m |= 1 << c
      c += 1
    }
    var c1 = 0
    while (c1 < 7) {
      if ((m & (1 << c1)) != 0) {
        var c2 = c1 + 1
        while (c2 < 8) {
          if ((m & (1 << c2)) != 0 &&
              ((mask >>> (c1 * 8 + c2)) & 1L) == 0L)
            return c1 * 8 + c2
          c2 += 1
        }
      }
      c1 += 1
    }
    -1
  }

  /** Strict `a < b` matching Spark's `<` on the id column's type —
    * resolved once at plan construction so unsupported types fail the
    * caller, not a task. Strings compare in UTF8 binary order
    * (UTF8String), which differs from java.lang.String order for
    * supplementary characters. */
  def idComparator(
      dt: org.apache.spark.sql.types.DataType): (Any, Any) => Boolean =
    dt match {
      case types.LongType =>
        (a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long]
      case types.IntegerType =>
        (a, b) => a.asInstanceOf[Int] < b.asInstanceOf[Int]
      case types.StringType =>
        (a, b) =>
          org.apache.spark.unsafe.types.UTF8String
            .fromString(a.asInstanceOf[String])
            .compareTo(org.apache.spark.unsafe.types.UTF8String
              .fromString(b.asInstanceOf[String])) < 0
      case other => throw new IllegalArgumentException(
        s"hammingNearDupPairs: unsupported id column type $other " +
          "(supported: long, int, string)")
    }
}
