package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * Two paths:
  *  - brute-force cosine top-k — the exactness baseline. Scales as
  *    |queries| × |corpus|: fine for bounded query sets (the corpus side
  *    streams through codegen; queries broadcast).
  *  - random-hyperplane LSH — the 100 TB path: per-row signatures, shuffle
  *    only on (table, bucket) keys, exact re-rank inside buckets. Identical
  *    vectors always collide; recall degrades gracefully with distance.
  *
  * All vector math runs through the fused native kernel
  * (functions.DotProduct, inside whole-stage codegen) — no UDF, no
  * collect; re-ranks use the bounded top-k aggregate (functions.TopKAgg).
  */
object Similarity {

  /** Σ aᵢ·bᵢ with double accumulation (deterministic left-to-right fold —
    * reproducible across engines for oracle checks). Native fused kernel;
    * [[dotHof]] is the declarative equivalent it replaced (SimilaritySpec
    * asserts bit-equality). */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.vecDot(a, b)

  /** The higher-order-function form of [[dot]]: same fold order, but
    * materializes the zipped products per row-pair — kept as the
    * cross-check and for engines without the native expression. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d),
      (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity with the norms already materialized as columns —
    * the per-PAIR loops want this form: a pair loop evaluating
    * dot(a, b) / (norm(a) * norm(b)) directly runs THREE full dot products
    * per (query, candidate) pair, while each vector's norm is a per-ROW
    * quantity. Computing norms in
    * the projections below the join (projects never collapse across a
    * join) makes the hot loop one dot + one multiply — same doubles,
    * same operation order, bit-identical results. */
  def cosineWithNorms(dotAb: Column, normA: Column, normB: Column): Column =
    dotAb / (normA * normB)

  /** Cast a float vector to double once, up front — keeps all downstream
    * arithmetic in double (and bit-identical to the DuckDB oracle). */
  def toDouble(a: Column): Column = transform(a, _.cast("double"))

  /** Per-query top-k re-rank of `scored(query_id, neighbor_id, sim)` →
    * (query_id, neighbor_id, rank, sim_r). A bounded native aggregate
    * (functions.TopKAgg): each map task reduces its slice to ≤ k entries
    * BEFORE the shuffle, so only k·partitions tiny rows move and nothing
    * is globally sorted — unlike the rank-window form, which shuffles and
    * sorts every candidate row per group. Ordering (desc sim, asc id)
    * matches row_number semantics exactly. */
  private[graft] def topKRank(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg
        .topKBy(col("sim"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        round(col("t.score"), 6).as("sim_r"))

  /** Brute-force cosine top-k: for each query vector (vec_id < nQueries),
    * the k most similar OTHER vectors, ties broken by neighbor id.
    * The query side is broadcast; the corpus side never shuffles — each
    * task emits its partial top-k (see topKRank). */
  def knnBrute(embs: DataFrame, nQueries: Int, k: Int): DataFrame = {
    // norms are per-row, so they live in the scan-side projections; the
    // pair loop is one dot + one multiply (see cosineWithNorms)
    val corpus = embs.select(col("vec_id").as("neighbor_id"),
        toDouble(col("embedding")).as("vec_n"))
      .select(col("neighbor_id"), col("vec_n"),
        norm(col("vec_n")).as("nrm_n"))
    val queries = embs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        toDouble(col("embedding")).as("vec_q"))
      .select(col("query_id"), col("vec_q"),
        norm(col("vec_q")).as("nrm_q"))
    topKRank(corpus.join(broadcast(queries))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosineWithNorms(
        dot(col("vec_q"), col("vec_n")), col("nrm_q"), col("nrm_n"))), k)
  }

  /** Deterministic pseudo-random hyperplanes (fixed LCG — stable across
    * runs/partitions so signatures are reproducible). */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L):
      Seq[Seq[Double]] = {
    var state = seed
    def next(): Double = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (state >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    Seq.fill(nPlanes)(Seq.fill(dim)(next()))
  }

  /** Sign-bit signature of a vector against `planes`, packed into a long. */
  def lshSignature(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(vec, typedLit(p)) >= 0, shiftleft(lit(1L), i))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** Johnson–Lindenstrauss random projection: compress each embedding to
    * `kOut` dense coordinates against the deterministic LCG plane matrix
    * ([[hyperplanes]], so the matrix renders as SQL literals for the
    * cross-engine oracle, like the static IVF quantizer). Unlike
    * [[lshSignature]] (sign bits → buckets), the projected VALUES are
    * kept — the distance-preserving sketch used to pre-filter ANN scans,
    * cluster cheaply, or visualize; coordinates come back ×10⁶-rounded
    * as longs so the oracle hash compare is float-format-free.
    *
    * Scale shape: a pure per-row projection over broadcast plane
    * literals (kOut fused native [[dot]] kernels) — no shuffle, no join,
    * stays inside whole-stage codegen; output rows are kOut longs where
    * the input was `dim` floats. */
  def randomProjection(embs: DataFrame, kOut: Int = 8, dim: Int = 64,
      seed: Long = 123L, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val planes = hyperplanes(kOut, dim, seed)
    embs.select(col(idCol).as("vec_id") +:
      planes.zipWithIndex.map { case (p, i) =>
        round(dot(toDouble(col(vecCol)), typedLit(p)) * 1e6, 0)
          .cast("long").as(s"p$i")
      }: _*)
  }

  /** The STAGED (vec_id, bv, table, bucket) LSH bucket relation — the
    * ONE candidate-generation construction shared by [[knnLsh]] and
    * [[nearDupPairs]] (their exactly-once invariant lives in the
    * bv-vector + first-matching-table pair; two hand-maintained copies
    * had drifted-in-waiting). The barrier keeps the signature dot
    * products from running once per self-join side. Stage LIFECYCLE
    * applies (release via Stage.releaseAll). */
  private def lshBuckets(embs: DataFrame, nTables: Int, bitsPerTable: Int,
      dim: Int): DataFrame = {
    val sigs = (0 until nTables).map { t =>
      val planes = hyperplanes(bitsPerTable, dim, seed = 1000L + t)
      lshSignature(toDouble(col("embedding")), planes)
    }
    Stage.barrier(embs.select(col("vec_id"),
        array(sigs: _*).as("bv"))
      .select(col("vec_id"), col("bv"),
        posexplode(col("bv")).as(Seq("table", "bucket"))))
  }

  /** First table in which the two sides' bucket vectors agree — the
    * structural dedup: a pair meeting in several tables keeps only the
    * emission whose table is the FIRST matching one (a register-op
    * when-chain), so no distinct() exchange runs over candidates. */
  private def firstMatchingTable(nTables: Int, bvA: String,
      bvB: String): Column =
    (0 until nTables).foldRight(lit(-1)) { (t, rest) =>
      when(col(bvA).getItem(t) === col(bvB).getItem(t), lit(t))
        .otherwise(rest)
    }

  /** LSH-bucketed ANN: `nTables` independent signature tables of
    * `bitsPerTable` hyperplane bits; candidates = corpus vectors sharing a
    * bucket with the query in ANY table; exact cosine re-rank inside the
    * candidate set. One shuffle on (table, bucket). Bucket join carries
    * BARE IDS plus each side's nTables-long bucket vector — the 64-dim
    * vectors join back only after the candidate set is final. */
  def knnLsh(embs: DataFrame, nQueries: Int, k: Int, nTables: Int = 4,
      bitsPerTable: Int = 8, dim: Int = 64): DataFrame = {
    val buckets = lshBuckets(embs, nTables, bitsPerTable, dim)
    val qb = buckets.select(col("vec_id").as("query_id"),
        col("bv").as("bv_q"), col("table"), col("bucket"))
      .filter(col("query_id") < nQueries)
    val candidateIds = buckets
      .join(qb, Seq("table", "bucket"))
      .filter(col("vec_id") =!= col("query_id") &&
        col("table") === firstMatchingTable(nTables, "bv", "bv_q"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    val vecs = embs.select(col("vec_id"),
        toDouble(col("embedding")).as("vec"))
      .select(col("vec_id"), col("vec"), norm(col("vec")).as("nrm"))
    topKRank(candidateIds
      .join(broadcast(vecs.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("vec").as("vec_q"),
          col("nrm").as("nrm_q"))),
        Seq("query_id"))
      .join(vecs.select(col("vec_id").as("neighbor_id"),
        col("vec").as("vec_n"), col("nrm").as("nrm_n")),
        Seq("neighbor_id"))
      .withColumn("sim", cosineWithNorms(
        dot(col("vec_q"), col("vec_n")), col("nrm_q"), col("nrm_n"))), k)
  }

  /** Embedding near-duplicate pairs: LSH candidates (identical/near-
    * identical vectors always share buckets) verified by exact cosine ≥
    * `minCosine`. The scale path for dedup-by-embedding: no quadratic
    * self-join, shuffle only on buckets. */
  def nearDupPairs(embs: DataFrame, minCosine: Double, nTables: Int = 4,
      bitsPerTable: Int = 8, dim: Int = 64): DataFrame = {
    // same bare-ID candidate plan as knnLsh — shared via [[lshBuckets]] /
    // [[firstMatchingTable]], so the exactly-once invariant has ONE
    // definition
    val buckets = lshBuckets(embs, nTables, bitsPerTable, dim)
    val a = buckets.select(col("table"), col("bucket"),
      col("vec_id").as("id_a"), col("bv").as("bv_a"))
    val b = buckets.select(col("table"), col("bucket"),
      col("vec_id").as("id_b"), col("bv").as("bv_b"))
    val pairs = a.join(b, Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b") &&
        col("table") === firstMatchingTable(nTables, "bv_a", "bv_b"))
      .select(col("id_a"), col("id_b"))
    val vecs = embs.select(col("vec_id"),
        toDouble(col("embedding")).as("vec"))
      .select(col("vec_id"), col("vec"), norm(col("vec")).as("nrm"))
    pairs
      .join(vecs.select(col("vec_id").as("id_a"), col("vec").as("vec_a"),
        col("nrm").as("nrm_a")), Seq("id_a"))
      .join(vecs.select(col("vec_id").as("id_b"), col("vec").as("vec_b"),
        col("nrm").as("nrm_b")), Seq("id_b"))
      .withColumn("sim", cosineWithNorms(
        dot(col("vec_a"), col("vec_b")), col("nrm_a"), col("nrm_b")))
      .filter(col("sim") >= minCosine)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim_r"))
  }

  /** Semantic dedup (the SemDeDup shape, Abbas et al. 2023): cluster the
    * embedding space with a coarse quantizer, then within each cluster
    * drop every vector whose cosine to a SMALLER-id cluster-mate reaches
    * `minCosine` — the greedy ε-dedup rule that removes semantic
    * duplicates (paraphrases, templated rewrites) exact and near-dup
    * passes can't see. Complements [[nearDupPairs]]: hyperplane LSH
    * blocks by random projections; here the blocks are the IVF
    * centroids' Voronoi cells, so the comparison set is "semantically
    * nearby" rather than "hash-identical", and the output is the
    * per-vector keep decision, not the pair list.
    *
    * Returns (vec_id, cluster, kept) for every input vector.
    *
    * Scale shape: assignment is a narrow per-row argmin over broadcast
    * centroid literals (no shuffle); the only shuffle is the
    * cluster-keyed self-join, quadratic ONLY within a cell — nlist is
    * the knob that bounds cell population (SemDeDup runs ~100k clusters
    * at web scale for exactly this reason). `maxCell` is the guard rail
    * for when the knob is mis-set: a degenerate quantizer (collapsed
    * centroids, skewed corpus) would otherwise go SILENTLY quadratic —
    * instead the job fails loudly, naming the hot cell. The check is a
    * `raise_error` fused into the cluster column (same trick as Dedup's
    * `maxBucket`, but failing instead of dropping — dropping here would
    * silently change keep decisions, not just lose candidates). It
    * evaluates lazily per row at staging time and adds no job; the cell
    * census is a partial-aggregated groupBy joined back by broadcast
    * (≤ nlist rows), never a value-partitioned window. The kept set
    * comes back via one distinct on bare ids + an 8-byte left join,
    * never carrying vectors past the verification. */
  def semanticDedup(embs: DataFrame,
      centroids: Seq[(Int, Seq[Double])], minCosine: Double,
      maxCell: Int = 100000): DataFrame = {
    // staged HERE, not after the census join: the census and the main
    // stream both consume this frame, and an unstaged assignment runs
    // the nlist-dot argmin — the operator's dominant per-row cost —
    // once per branch (r14 review)
    val assignedRaw = Stage.barrier(Ivf.assign(embs, centroids)
      .select(col("vec_id"), col("cluster"), col("vec"),
        norm(col("vec")).as("nrm")))
    // Cell census via a partial-aggregated groupBy + broadcast join, NOT
    // count() OVER (PARTITION BY cluster): the guard exists for the
    // degenerate hot cell, and the window form would serialize that
    // cell's every row into one WindowExec task BEFORE raise_error could
    // fire — the exact skew it guards against. The census map-side-
    // combines a hot cell to one row per partition, and its output is
    // bounded by nlist rows, so the join side is intrinsically
    // broadcastable.
    val cellCounts = assignedRaw.groupBy(col("cluster"))
      .agg(count(lit(1)).as("cell_n"))
    // both self-join sides re-derive this from the STAGED leaf above —
    // a broadcast probe + one when() per row, not worth a second cache
    val assigned =
      assignedRaw
        .join(broadcast(cellCounts), Seq("cluster"))
        .withColumn("cluster",
          when(col("cell_n") > maxCell, raise_error(concat(
            lit("semanticDedup: cluster "), col("cluster").cast("string"),
            lit(" population "), col("cell_n").cast("string"),
            lit(s" exceeds maxCell=$maxCell — the within-cell self-join" +
              " would go quadratic; raise nlist (finer quantizer) or" +
              " maxCell"))))
            .otherwise(col("cluster")))
        .drop("cell_n")
    val a = assigned.select(col("cluster"), col("vec_id").as("id_a"),
      col("vec").as("vec_a"), col("nrm").as("nrm_a"))
    val b = assigned.select(col("cluster"), col("vec_id").as("id_b"),
      col("vec").as("vec_b"), col("nrm").as("nrm_b"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosineWithNorms(dot(col("vec_a"), col("vec_b")),
        col("nrm_a"), col("nrm_b")) >= minCosine)
      .select(col("id_b").as("vec_id")).distinct()
    assigned.select(col("vec_id"), col("cluster"))
      .join(dropped.withColumn("_dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster").cast("int").as("cluster"),
        not(coalesce(col("_dup"), lit(false))).as("kept"))
  }

  /** The per-vector quantization relation (vec_id, mn, delta, codes, sq) —
    * ONE definition of the bit-reproducibility contract (fixed operation
    * order, floor convention) shared by [[quantizeInt8]] and
    * [[knnQuantized]], so the two cannot drift from the DuckDB oracle
    * rendering.
    *
    * The native fused kernel (functions.QuantizeInt8) computes all four
    * outputs in ONE codegen'd pass per row. The declarative predecessor —
    * three chained projections of interpreted higher-order functions —
    * allocated an array and ran an interpreted lambda per element per
    * layer; at corpus scale that per-row cost is the staging cost. The
    * struct is aliased in its own projection and field-extracted in the
    * next: CollapseProject leaves the split alone (non-cheap alias,
    * referenced four times), so the kernel runs once per row, not once
    * per extracted field. */
  private def quantized(embs: DataFrame, idCol: String, vecCol: String,
      keepVec: Boolean = false): DataFrame = {
    val q = embs.select(col(idCol).as("vec_id"),
        toDouble(col(vecCol)).as("v"))
      .select(col("vec_id"), col("v"),
        graft.functions.GraftFunctions.quantizeInt8(col("v")).as("q"))
    val out = q.select(col("vec_id"), col("v"), col("q.mn").as("mn"),
      col("q.delta").as("delta"), col("q.codes").as("codes"),
      col("q.sq").as("sq"))
    if (keepVec) out else out.drop("v")
  }

  /** Quantized-scan ANN: the int8 [[quantizeInt8]] codes stand in for the
    * float vectors in the candidate-scoring loop, and only a per-query
    * shortlist gets exact cosine math — the cheap-scan shape a 100 TB
    * vector corpus wants (one 64-FMA integer dot per candidate vs the
    * three full dots of [[knnBrute]]'s cosine; with a pre-materialized
    * int8 code table the scan also streams 4× fewer bytes).
    *
    * The approximate score is the EXACT dot product of the reconstructed
    * vectors v̂ᵢ = mn + qᵢ·Δ (Δ = (mx−mn)/255):
    *   v̂a·v̂b = d·mnₐ·mn_b + mnₐ·Δ_b·Σq_b + mn_b·Δₐ·Σqₐ + Δₐ·Δ_b·Σqₐᵢq_bᵢ
    * — one INTEGER dot product over the codes plus four scalar terms, so
    * no global/trained statistics are needed (each vector carries its own
    * (mn, Δ)) and the arithmetic is engine-portable: the integer parts are
    * exact, the double tail has one fixed operation order.
    *
    * Scale shape — SINGLE PASS: queries broadcast (as in [[knnBrute]]);
    * the corpus streams once through the bounded [[functions.TopKVecAgg]]
    * shortlist, which carries each surviving candidate's true vector in
    * its ≤`shortlist`-entry buffer (the scan is already streaming the row
    * that holds it, so this costs no extra IO — only k·dim·8 bytes per
    * group move in the shuffle). The exact cosine re-rank then happens
    * INSIDE each query's single output row with array expressions: no
    * second corpus scan, no re-rank join, no second shuffle — the same
    * stage count as the brute scan it replaces, with a ~3× cheaper inner
    * loop. Recall gap vs brute force is the quantization error only —
    * bounded by the shortlist factor (shortlist ≫ k). */
  def knnQuantized(embs: DataFrame, nQueries: Int, k: Int,
      shortlist: Int = 32): DataFrame = {
    require(shortlist >= k,
      s"shortlist ($shortlist) must be >= k ($k): the re-rank can only " +
        "return what the shortlist buffer kept")
    // codes ride as ARRAY<DOUBLE>: every value is an integer in [0, 255]
    // and dims ≪ 2⁵³ − so the double representation (and the native fused
    // dot below) is EXACT, bit-identical to the integer fold the DuckDB
    // oracle runs. This keeps the per-candidate inner loop in the
    // codegen'd vecDot kernel instead of an interpreted higher-order
    // function that allocates a zipped array per pair − at 100 TB the
    // interpreted form IS the scan cost (measured 6× slower than the
    // brute scan this operator exists to beat).
    val quant = quantized(embs, "vec_id", "embedding", keepVec = true)
    val q = quant.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("mn").as("mn_q"),
        col("delta").as("d_q"), col("codes").as("codes_q"),
        col("sq").as("sq_q"), col("v").as("vec_q"))
    val c = quant.select(col("vec_id").as("neighbor_id"),
      col("mn").as("mn_c"), col("delta").as("d_c"),
      col("codes").as("codes_c"), col("sq").as("sq_c"),
      col("v").as("vec_n"))
    val idot = graft.functions.GraftFunctions
      .vecDot(col("codes_q"), col("codes_c"))
    val approx = size(col("codes_q")).cast("double") *
        col("mn_q") * col("mn_c") +
      col("mn_q") * col("d_c") * col("sq_c").cast("double") +
      col("mn_c") * col("d_q") * col("sq_q").cast("double") +
      col("d_q") * col("d_c") * idot
    val cand = c.join(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("approx", approx)
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKVecAgg.topKByVec(col("approx"),
        col("neighbor_id"), col("vec_n"), shortlist).as("cand"),
        first(col("vec_q")).as("vec_q"))
    // exact re-rank entirely within the one row each query now owns: the
    // shortlist is an array column carrying the candidates' true vectors,
    // so exact cosine + rank are per-row array expressions (≤ shortlist
    // elements each — interpreted HOF is fine at |queries| rows)
    val scored = cand.select(col("query_id"),
      transform(col("cand"), t => struct(
        (dot(col("vec_q"), t.getField("vec")) /
          (norm(col("vec_q")) * sqrt(dot(t.getField("vec"),
            t.getField("vec"))))).as("sim"),
        t.getField("id").as("id"))).as("sims"))
    // (sim desc, id asc) — Spark's NaN-greatest comparison semantics match
    // the Double.compare total order TopKAgg uses, so a zero-norm vector's
    // NaN cosine still ranks first
    val byRank = (l: Column, r: Column) =>
      when(l.getField("sim") > r.getField("sim"), lit(-1))
        .when(l.getField("sim") < r.getField("sim"), lit(1))
        .when(l.getField("id") < r.getField("id"), lit(-1))
        .when(l.getField("id") > r.getField("id"), lit(1))
        .otherwise(lit(0))
    scored.select(col("query_id"),
      posexplode(slice(array_sort(col("sims"), byRank), 1, k))
        .as(Seq("pos", "t")))
      .select(col("query_id"), col("t.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        round(col("t.sim"), 6).as("sim_r"))
  }

  /** Per-vector int8 scalar quantization — the 4× storage/bandwidth
    * compression an ANN index applies before sharding at 100 TB: each
    * vector maps to codes `floor((v − min) · 255 / (max − min))` ∈
    * [0, 255] against its own min/max (per-vector scaling, the
    * variant that needs no trained global statistics). All arithmetic
    * runs in double with one fixed expression order, so the codes are
    * bit-reproducible across engines (float→double widening is exact);
    * `floor` avoids the engines' differing round-half conventions. A
    * constant vector (max == min) quantizes to all zeros.
    *
    * Returns (vec_id, n_dims, codes_csv, checksum) — codes serialized
    * CSV for portable comparison, checksum = Σ codes. Pure per-row
    * projection: no shuffle, linear scale-out. */
  def quantizeInt8(embs: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    quantized(embs, idCol, vecCol).select(col("vec_id").as(idCol),
      size(col("codes")).cast("long").as("n_dims"),
      // codes are exact integer-valued doubles; render as integers
      concat_ws(",", transform(col("codes"), _.cast("long")))
        .as("codes_csv"),
      col("sq").as("checksum"))
}
