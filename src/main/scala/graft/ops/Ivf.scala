package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Similarity.{dot, toDouble}

/** IVF-flat approximate nearest neighbor: a coarse quantizer (deterministic
  * seeds + one Lloyd refinement) partitions the corpus into `nlist`
  * inverted lists; queries probe the `nprobe` nearest lists and re-rank
  * exactly inside them.
  *
  * Scale shape: centroids are metadata (nlist × dim doubles — broadcast as
  * literals, like a dimension table); assignment is a narrow per-row argmin
  * over the centroid literals; the only shuffles are the element-wise mean
  * in training and the (cluster)-keyed candidate join at query time. The
  * inverted-list join replaces the brute-force corpus scan with
  * |probed lists| / nlist of the data — the classic IVF trade.
  */
object Ivf {

  /** The ONE centroid-scoring rendering — squared L2 via dot: |v−c|² =
    * v·v − 2·v·c + c·c; v·v is constant per row for argmin and c·c a
    * constant literal, so ranking uses −2·v·c + c·c. Since r16 the
    * CORPUS-side argmin sites ([[assign]], [[clusterStats]]) run the
    * fused [[graft.functions.CentroidArgmin]] kernel — bit-identical to
    * this literal form (same dot fold, operation order, and nan-safe
    * (d, id) tie-break; asserted in IvfSpec) but with the centroids as
    * ONE plan-referenced object instead of nlist×dim inlined literals,
    * which keeps analysis O(1) and the stage inside WholeStageCodegen
    * at production nlist. Measured (100k×128, BENCH_NOTES r17): at
    * nlist 1,024 the literal plan is 0.83 s analysis + 14.2 s exec vs the
    * kernel's 0.03 s + 0.94 s; at nlist 4,096 the literal expression tree
    * OOMs the DRIVER outright while the kernel plans in 0.04 s and runs
    * 3.7 s. This literal rendering remains the
    * QUERY-side probe ranking
    * ([[knnIvfWith]] needs all nlist scores sorted, not the argmin, and
    * runs it over ≤nQueries rows) and the cross-engine oracle's
    * replayable form. */
  private def scoredStructs(vec: Column,
      centroids: Seq[(Int, Seq[Double])]): Seq[Column] =
    centroids.map { case (id, c) =>
      struct((dot(vec, typedLit(c)) * -2.0d +
        lit(c.map(x => x * x).sum)).as("d"), lit(id).as("id"))
    }

  /** Fused best-centroid struct<d, id> (see [[scoredStructs]] note). */
  private def bestCentroid(vec: Column,
      centroids: Seq[(Int, Seq[Double])]): Column =
    graft.functions.GraftFunctions.centroidArgmin(vec, centroids)

  /** Per-row argmin over the broadcast-referenced centroids → (cluster_id). */
  private def assignExpr(vec: Column, centroids: Seq[(Int, Seq[Double])])
      : Column =
    bestCentroid(vec, centroids).getField("id")

  /** Train the coarse quantizer: deterministic seeds (lowest `nlist` ids)
    * + `iters` Lloyd steps (assign, element-wise mean). Returns the
    * centroids as driver-side metadata (nlist × dim — the same scale class
    * as a broadcast dimension). */
  def trainCentroids(embs: DataFrame, nlist: Int, iters: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : Seq[(Int, Seq[Double])] = {
    val base = embs.select(col(idCol).as("vec_id"),
      toDouble(col(vecCol)).as("vec"))
    var centroids: Seq[(Int, Seq[Double])] = base
      .orderBy(col("vec_id")).limit(nlist).collect()
      .zipWithIndex
      .map { case (r, i) => i -> r.getSeq[Double](1) }
    (0 until iters).foreach { _ =>
      val assigned = base.withColumn("cluster",
        assignExpr(col("vec"), centroids))
      // fixed-point mean (×10⁹ scaled terms summed as DECIMAL / count):
      // the integer sum is order-INDEPENDENT, so trained centroids are
      // bit-identical across runs and partitionings — a float avg()
      // merges partial means in whatever order tasks finish, and a
      // last-ulp centroid difference can flip a boundary vector's list
      // assignment (different probe sets on a re-run). decimal(38,0),
      // not a long sum: O(1)-magnitude components scale to ~1e9 per
      // term, so a hot Voronoi cell beyond ~9.2e9 rows would wrap a
      // non-ANSI long sum negative SILENTLY — exactly the 100 TB case;
      // the decimal sum stays exact to 10³⁸. The 1e-9 quantization is
      // far below any assignment boundary the isotropic data produces.
      val means = assigned
        .select(col("cluster"), posexplode(col("vec")).as(Seq("pos", "x")))
        .groupBy(col("cluster"), col("pos"))
        .agg(((sum((col("x") * lit(1e9d)).cast("long")
            .cast("decimal(38,0)")) / count(lit(1)))
          .cast("double") / lit(1e9d)).as("m"))
        .groupBy(col("cluster"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
          .as("pm"))
        .select(col("cluster"),
          transform(col("pm"), _.getField("m")).as("centroid"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1)).toSeq
      // empty clusters keep their previous centroid
      val got = means.toMap
      centroids = centroids.map { case (id, c) => id -> got.getOrElse(id, c) }
    }
    centroids
  }

  /** Assign every vector to its inverted list. The dim guard lives at
    * THIS layer (review r20) so every caller — trained and static
    * plans, clusterStats/clusterCap, and the persisted-index build and
    * append — fails loudly on a wrong-length vector instead of
    * silently dropping it as a NULL cluster. */
  def assign(embs: DataFrame, centroids: Seq[(Int, Seq[Double])],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    embs.select(col(idCol).as("vec_id"),
        checkDim(toDouble(col(vecCol)), centroids.head._2.length,
          "Ivf.assign").as("vec"))
      .withColumn("cluster", assignExpr(col("vec"), centroids))

  /** Index-health profile of a quantizer: per inverted list, the vector
    * count and the min/max squared distance to the list's centroid
    * (rounded ×10⁶ for cross-engine float parity). Empty and overfull
    * lists — the two IVF failure modes (wasted probes / one list that IS
    * the corpus) — read straight off this relation, as does the
    * "re-train or re-balance" decision.
    *
    * Full |v−c|² = v·v + (−2·v·c + c·c); the parenthesized term is the
    * same fixed-order argmin score [[assign]] ranks by, so the stats are
    * consistent with the assignment by construction. min/max are the
    * ONLY float aggregates — order-insensitive, so the cross-engine hash
    * can't drift with partitioning (a float SUM would).
    *
    * Scale shape: narrow per-row argmin over broadcast centroid
    * literals, then one partial-aggregated group per list — ≤ nlist
    * output rows, no window, no sort. */
  def clusterStats(embs: DataFrame, centroids: Seq[(Int, Seq[Double])],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    embs.select(col(idCol).as("vec_id"), toDouble(col(vecCol)).as("vec"))
      .withColumn("best", bestCentroid(col("vec"), centroids))
      .select(col("best.id").as("cluster"),
        round((dot(col("vec"), col("vec")) + col("best.d")) * 1e6, 0)
          .cast("long").as("d2_x1e6"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        min(col("d2_x1e6")).as("min_d2_x1e6"),
        max(col("d2_x1e6")).as("max_d2_x1e6"))
  }

  /** Cluster-capped diversity subsample: at most `cap` vectors per
    * inverted list, selected by a deterministic portable hash (ties →
    * vec_id) — the "spread the sample across the embedding space" rule
    * (cluster-balanced selection à la DiverseSelect/DC-sampling) that a
    * plain uniform sample violates whenever the corpus is lumpy: it
    * keeps hash-random WITHIN a semantic region but never lets one
    * region dominate. Returns (cluster, rk, vec_id), rk = 1-based rank
    * inside the cluster.
    *
    * Scale shape: assignment is the narrow broadcast-literal argmin; the
    * per-cluster selection is ONE bounded [[functions.TopKAgg]] partial
    * aggregate (cap-entry buffers that combine map-side) — no
    * row_number window over a potentially hot cluster, so a skewed
    * Voronoi cell costs memory cap·16 bytes, not a single-task sort. */
  def clusterCap(embs: DataFrame, centroids: Seq[(Int, Seq[Double])],
      cap: Int, idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    // ascending-hash selection via the descending aggregate: score = −h
    // (h < 2³¹ — exact in a double); ties break ascending on id already
    val h = graft.functions.GraftFunctions.polyHash(
      concat(lit("cap:"), col("vec_id").cast("string")))
    assign(embs, centroids, idCol, vecCol)
      .withColumn("_s", -h.cast("double"))
      .groupBy(col("cluster"))
      // cast: TopKAgg's buffer holds longs and its update does a raw
      // unbox — an IntegerType id column would CCE executor-side
      // (Sampling.sourceQuota defends the same way)
      .agg(graft.functions.TopKAgg.topKBy(col("_s"),
        col("vec_id").cast("long"), cap).as("picked"))
      .select(col("cluster"), posexplode(col("picked")).as(Seq("p", "e")))
      .select(col("cluster"), (col("p") + 1).cast("int").as("rk"),
        col("e.id").as("vec_id"))
  }

  /** IVF top-k: queries (vec_id < nQueries) probe their `nprobe` nearest
    * lists; exact cosine re-rank inside the probed lists. */
  def knnIvf(embs: DataFrame, nQueries: Int, k: Int, nlist: Int = 16,
      nprobe: Int = 4, iters: Int = 1): DataFrame =
    knnIvfWith(embs, trainCentroids(embs, nlist, iters), nQueries, k, nprobe)

  /** Deterministic DATA-INDEPENDENT centroids (the LCG vector family used
    * for the LSH hyperplanes): a fixed coarse quantizer, so the whole IVF
    * plan — assignment, probing, re-rank — is replayable as SQL literals
    * by the DuckDB oracle. Lower recall than a trained quantizer on
    * clustered data; on the isotropic synthetic corpus the two are
    * equivalent in kind. */
  def staticCentroids(nlist: Int, dim: Int, seed: Long = 77L)
      : Seq[(Int, Seq[Double])] =
    Similarity.hyperplanes(nlist, dim, seed).zipWithIndex
      .map { case (v, i) => i -> v }

  /** IVF with a fixed quantizer — the cross-engine-verified variant.
    * `dim` must match the embedding column's length: a shorter centroid
    * would read past its literal in the dot kernel, a longer one would
    * fold phantom dimensions into c·c and skew the argmin. */
  def knnIvfStatic(embs: DataFrame, nQueries: Int, k: Int, nlist: Int = 16,
      nprobe: Int = 4, dim: Int = 64): DataFrame =
    knnIvfWith(embs, staticCentroids(nlist, dim), nQueries, k, nprobe)

  /** PERSISTED IVF index — the vector dual of the near-dup index store
    * lifecycle (build → append → screen → compact): the corpus is
    * assigned ONCE and its inverted lists persisted as a bucketed
    * external table on `cluster`, so a top-k probe reads only the
    * probed lists' bucket FILES
    * ([[graft.sources.PartitionedStore.prunedBucketScan]]) —
    * candidate-proportional I/O, ~nprobe/nlist of the corpus, where the
    * in-memory [[knnIvfWith]] re-assigns the whole corpus per query
    * plan. Increments append in place (one file per bucket per append);
    * the store is maintained by the same
    * [[graft.sources.PartitionedStore.storeStats]] /
    * [[graft.sources.PartitionedStore.compactIfNeeded]] machinery as
    * the text stores.
    *
    * The quantizer is the STATIC (data-independent) one — an index that
    * retrains its quantizer on append would re-assign history, which is
    * a rebuild, not an append — and its parameters are stamped as
    * TBLPROPERTIES at build time. Readers and appenders DERIVE the
    * quantizer from the stamp rather than trusting caller arguments, so
    * a parameter mismatch (assignments that can never match the stored
    * lists — silent recall collapse) is impossible by construction, and
    * a store without the stamp fails loudly (the nd-index convention,
    * Dedup.scala buildNearDupIndex). */
  def buildIvfIndex(embs: DataFrame, table: String, path: String,
      nlist: Int = 16, dim: Int = 64, seed: Long = 77L,
      nBuckets: Int = 16, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    // dim guard: inside assign — every wrong-length row raises before
    // it can land as a NULL-cluster (unfindable) store row
    val assigned = assign(embs, staticCentroids(nlist, dim, seed),
        idCol, vecCol)
      .select(col("cluster"), col("vec_id"), col("vec"))
    graft.sources.PartitionedStore.writeBucketed(assigned, table, path,
      Seq("cluster"), nBuckets, Seq("cluster"))
    embs.sparkSession.sql(
      s"ALTER TABLE $table SET TBLPROPERTIES(" +
        s"'graft.ivf.nlist'='$nlist', 'graft.ivf.dim'='$dim', " +
        s"'graft.ivf.seed'='$seed')")
  }

  /** The stamped quantizer parameters of a persisted IVF index — loud
    * when absent (a recreated table that lost its TBLPROPERTIES would
    * otherwise probe with a default quantizer against foreign lists). */
  def ivfStamp(s: org.apache.spark.sql.SparkSession, table: String)
      : (Int, Int, Long) = {
    val props = s.sql(s"SHOW TBLPROPERTIES $table").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    def p(key: String): String = props.getOrElse(s"graft.ivf.$key",
      throw new IllegalStateException(
        s"ivfStamp($table): missing TBLPROPERTY graft.ivf.$key — not an " +
          "IVF index table, or its stamps were lost; rebuild with " +
          "buildIvfIndex"))
    (p("nlist").toInt, p("dim").toInt, p("seed").toLong)
  }

  /** Append an increment to a persisted IVF index: assignment under the
    * STAMPED quantizer (derived, not caller-supplied — see
    * [[buildIvfIndex]]), one more file per bucket. Blind retries are
    * harmless to probe VERDICTS only if the caller dedups ids upstream
    * (a duplicated vec_id appears twice in its list and twice in a
    * top-k); the duplicate rows themselves are reclaimed by
    * `compactBucketed(dedupRows = true)`, same as the text stores. */
  def appendIvfIndex(embs: DataFrame, table: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val (nlist, dim, seed) = ivfStamp(embs.sparkSession, table)
    // dim guard: inside assign (see buildIvfIndex)
    graft.sources.PartitionedStore.appendBucketed(
      assign(embs, staticCentroids(nlist, dim, seed), idCol, vecCol)
        .select(col("cluster"), col("vec_id"), col("vec")), table)
  }

  /** Top-k cosine probe against a PERSISTED IVF index. The probed
    * cluster ids are known driver-side after one bounded collect (≤
    * queries × nprobe ints, ≤ the stamped nlist distinct), so the
    * corpus side is a bucket-pruned file read of just the probed lists
    * — the same candidate-proportional floor as the near-dup index's
    * pruned screen — joined via BROADCAST of the tiny probe side (zero
    * corpus-side exchange; the collect-probe-beats-sort-merge
    * measurement, BENCH_NOTES r19). A jumbo probe set (> maxProbeLits
    * distinct clusters) degrades to the catalog read, total either way.
    *
    * Output is column-identical to [[knnIvfWith]] over the same corpus
    * and quantizer — q_knn_ivf_prod shares q_knn_ivf_static's DuckDB
    * oracle verbatim, which is what certifies the build+append
    * lifecycle cross-engine. */
  def knnIvfFrom(s: org.apache.spark.sql.SparkSession, table: String,
      queries: DataFrame, k: Int, nprobe: Int = 4,
      maxProbeLits: Int = 2048, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val (nlist, dim, seed) = ivfStamp(s, table)
    val centroids = staticCentroids(nlist, dim, seed)
    val probePlan = ivfProbes(
      queries.select(col(idCol).as("query_id"),
        checkDim(toDouble(col(vecCol)), dim, s"knnIvfFrom($table)")
          .as("vec_q")),
      centroids, nprobe)
    // the probe frame is collected ONCE (≤ |queries| × nprobe rows —
    // 40 rows × dim doubles at the suite's shape) and rebuilt as a
    // LOCAL relation: the pruned corpus read is sized to exactly these
    // probes, so the returned plan must not re-evaluate a possibly
    // nondeterministic/mutating queries frame and probe clusters the
    // pruned read never loaded — a vanished-query class a barrier
    // cannot close either (it would be released before the caller's
    // action; review r20). A jumbo probe set (> maxProbeLits rows)
    // degrades to the catalog read with the probe plan joined lazily —
    // no collect, no pruning, total either way.
    val probeRows = probePlan.limit(maxProbeLits + 1).collect()
    if (probeRows.length > maxProbeLits)
      ivfRank(s.table(table), broadcast(probePlan), k)
    else {
      val probes = s.createDataFrame(
        s.sparkContext.parallelize(probeRows.toSeq, 1),
        probePlan.schema)
      val clusters = probeRows
        .map(_.getAs[Any]("cluster")).distinct.toSeq
      ivfRank(graft.sources.PartitionedStore.prunedBucketScan(s, table,
        clusters), broadcast(probes), k)
    }
  }

  /** Loud dim guard: a vector whose length differs from the quantizer's
    * `dim` would get a NULL cluster from the argmin (and NULL probe
    * scores query-side) — rows silently unfindable, the exact recall
    * collapse the stamp design exists to prevent (review r20). Rendered
    * as a projection guard (raise_error on the first offending row,
    * inside the same scan) so no extra pass is paid. NULL embeddings
    * get their own arm — size(NULL) is NULL, so the mismatch message's
    * concat would itself be NULL exactly when the input is most
    * malformed. */
  private def checkDim(vec: Column, dim: Int, site: String): Column =
    when(vec.isNull, raise_error(lit(
        s"$site: NULL embedding — dirty upstream data; filter nulls " +
          "before indexing or probing")))
      .when(size(vec) === dim, vec)
      .otherwise(raise_error(concat(
        lit(s"$site: embedding length "), size(vec).cast("string"),
        lit(s" != the quantizer dim $dim — wrong embedding model " +
          "for this index"))))

  /** The query-probe frame — (query_id, vec_q) in, one row per
    * (query, probed cluster) with the query norm out. ONE definition
    * shared by the in-memory and persisted-index plans: the two must
    * stay bit-identical for q_knn_ivf_static / q_knn_ivf_prod to share
    * their DuckDB oracle verbatim. */
  private def ivfProbes(queries: DataFrame,
      centroids: Seq[(Int, Seq[Double])], nprobe: Int): DataFrame = {
    val probeScores = scoredStructs(col("vec_q"), centroids)
    queries
      .withColumn("probes",
        slice(array_sort(array(probeScores: _*)), 1, nprobe))
      .select(col("query_id"), col("vec_q"),
        explode(transform(col("probes"), _.getField("id"))).as("cluster"))
      .select(col("query_id"), col("vec_q"), col("cluster"),
        Similarity.norm(col("vec_q")).as("nrm_q"))
  }

  /** The cluster-join + exact-cosine re-rank — corpus (cluster, vec_id,
    * vec) against a probe frame. Norms are per-row: computed below the
    * probe join so the pair loop is one dot + one multiply
    * (Similarity.cosineWithNorms). Shared for the same reason as
    * [[ivfProbes]]. */
  private def ivfRank(corpus: DataFrame, probes: DataFrame, k: Int)
      : DataFrame =
    Similarity.topKRank(
      corpus.select(col("cluster"), col("vec_id").as("neighbor_id"),
          col("vec").as("vec_n"))
        .select(col("cluster"), col("neighbor_id"), col("vec_n"),
          Similarity.norm(col("vec_n")).as("nrm_n"))
        .join(probes, Seq("cluster"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("sim", Similarity.cosineWithNorms(
          dot(col("vec_q"), col("vec_n")), col("nrm_q"), col("nrm_n"))), k)

  /** The IVF query plan given a quantizer. */
  def knnIvfWith(embs: DataFrame,
      centroids: Seq[(Int, Seq[Double])], nQueries: Int, k: Int,
      nprobe: Int): DataFrame = {
    // staged: read by both the query-probe branch and the corpus branch
    val assigned = Stage.barrier(assign(embs, centroids))
    ivfRank(assigned,
      ivfProbes(assigned.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("vec").as("vec_q")),
        centroids, nprobe), k)
  }
}
