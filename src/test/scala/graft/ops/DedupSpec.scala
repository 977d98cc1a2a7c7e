package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = spark.read.parquet(s"$sf/documents.parquet")

  test("exact dedup keeps min id and counts copies") {
    val df = Seq((1L, "A b"), (2L, "a B"), (3L, "c")).toDF("doc_id", "text")
    val got = Dedup.exact(df).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("a b", 1L, 2L), ("c", 3L, 1L)))
  }

  test("shingles: distinct word bigrams, short docs degrade gracefully") {
    val got = Seq("a b c a b c", "x").toDF("text")
      .select(Dedup.shingles(col("text"), 2).as("s"))
      .collect().map(_.getSeq[String](0).toSet)
    assert(got(0) == Set("a b", "b c", "c a"))
    assert(got(1) == Set("x"))
  }

  test("jaccard pairs: integer-threshold filter on a known fixture") {
    val df = Seq(
      (1L, "g", "a b c d"), (2L, "g", "a b c e"), (3L, "g", "x y z w"))
      .toDF("doc_id", "source", "text")
    // unigram sets: {a,b,c,d} vs {a,b,c,e}: i=3 u=5 → j=0.6
    val got = Dedup.jaccardPairs(df, "source", n = 1, numer = 1, denom = 2)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
    val none = Dedup.jaccardPairs(df, "source", n = 1, numer = 7, denom = 10)
    assert(none.count() == 0) // 0.6 < 0.7
  }

  test("containment pairs: quote caught one-way, Jaccard would miss it") {
    val df = Seq(
      (1L, "g", "a b c"),                       // fully quoted inside 2
      (2L, "g", "a b c d e f g h i j k l"),     // the container
      (3L, "g", "a b c"),                       // exact dup of 1
      (4L, "g", "x y z w")).toDF("doc_id", "source", "text")
    val r = Dedup.containmentPairs(df, "source", n = 1,
      numer = 9, denom = 10).collect()
      .map(x => (x.getLong(0), x.getLong(1)) ->
        ((x.getLong(2), x.getLong(5), x.getLong(6)))).toMap
    // 1 ⊂ 2: containment(1→2) = 3/3 = 1, but jaccard = 3/12 = 0.25 —
    // the asymmetric op reports it, one-directional
    assert(r((1L, 2L)) == ((3L, 1L, 0L)))
    // exact dup: both directions
    assert(r((1L, 3L)) == ((3L, 1L, 1L)))
    // 3 ⊂ 2 as well (same tokens as 1); 4 matches nothing
    assert(r((2L, 3L)) == ((3L, 0L, 1L)))
    assert(r.size == 3)
  }

  test("minhash signatures are deterministic and equal for equal docs") {
    val df = Seq((1L, "a b c d e f"), (2L, "a b c d e f"),
      (3L, "q r s t u v")).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(df).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    assert(sigs(1L).length == 64)
  }

  test("minhash LSH candidates cover all high-jaccard pairs (sf0.001)") {
    val d = docs.select(col("doc_id"), col("text"))
    val mutated = d.union(d.select(col("doc_id") + 1000000L,
      regexp_replace(col("text"), "^[^ ]* ", "")))
    val cands = Dedup.lshCandidatePairs(Dedup.minhashSignatures(mutated))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every doc and its mutant (bigram jaccard near 1) must be a candidate
    val nDocs = d.count()
    val expected = d.select("doc_id").collect().map(_.getLong(0))
      .map(id => (id, id + 1000000L)).toSet
    assert(expected.subsetOf(cands),
      s"missing ${(expected -- cands).take(5)} of $nDocs")
  }

  test("LSH pair-salting is exact: candidates = brute force, each once") {
    // identical docs share every band (hot buckets crossing a tiny salt
    // threshold); near-dups share some bands; one loner shares none
    val rows = (1L to 9L).map(i => (i, "a b c d e f g h i j")) ++
      (21L to 24L).map(i => (i, s"a b c d e f g h i x$i")) ++
      Seq((31L, "z y x w v u t s r q"))
    val df = rows.toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(df)
    val sigMap = sigs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def shareBand(a: Seq[Long], b: Seq[Long]): Boolean =
      (0 until 16).exists(j => a.slice(j * 4, j * 4 + 4) ==
        b.slice(j * 4, j * 4 + 4))
    val ids = rows.map(_._1)
    val expected = (for {
      ia <- ids; ib <- ids
      if ia < ib && shareBand(sigMap(ia), sigMap(ib))
    } yield (ia, ib)).toSet
    val gotRows = Dedup.lshCandidatePairs(sigs,
        saltThreshold = 3, pairSalts = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(gotRows.size == gotRows.toSet.size,
      "structural first-matching-band dedup emitted a pair twice")
    assert(gotRows.toSet == expected,
      s"salted LSH candidate set diverged: missing=" +
        s"${expected -- gotRows.toSet} extra=${gotRows.toSet -- expected}")
    graft.ops.Stage.releaseAll(spark)
  }

  test("LSH candidate plan shape: sort-merge, lazy rail, no window, " +
      "no pair-keyed dedup exchange") {
    val sigs = Dedup.minhashSignatures(
      (1L to 50L).map(i => (i, s"w$i x$i y$i z$i a b")).toDF("doc_id", "text"))
    val plan = Dedup.lshCandidatePairs(sigs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      "the (band,key,slt) self-join must be hint-forced to sort-merge:\n" +
        plan.take(600))
    assert(plan.contains("CollectMetrics"),
      "the lazy rail census observation is missing:\n" + plan.take(600))
    assert(!plan.contains("Window"),
      "bucket accounting must stay a partial-aggregated groupBy:\n" +
        plan.take(600))
    // the candidate relation must stream out of the join: the old
    // `.distinct()` planned an Exchange hashpartitioning(doc_a, doc_b)
    // over the FULL candidate set — the plan's largest shuffle
    assert(!plan.contains("hashpartitioning(doc_a"),
      "a pair-keyed exchange reappeared above the candidate join:\n" +
        plan.take(900))
    // census residency: the single-row over-cap census must ride in on
    // a constant-key BroadcastHashJoin, never a BroadcastNestedLoopJoin
    // — BNLJ cannot whole-stage-compile, so the first-match filter (the
    // operator's hot loop) would fall back to interpreted rows (+33%
    // measured on the hamming path's identical shape, BENCH_NOTES r14)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "the census join fell back to BNLJ — codegen lost downstream:\n" +
        plan.take(900))
    assert(plan.contains("BroadcastHashJoin"),
      "the constant-key census BHJ is missing:\n" + plan.take(900))
    graft.ops.Stage.releaseAll(spark)
  }

  test("minhash dedup pipeline verifies candidates with exact jaccard") {
    val d = docs.select(col("doc_id"), col("text"))
    val mutated = d.union(d.select(col("doc_id") + 1000000L,
      regexp_replace(col("text"), "^[^ ]* ", "")))
    val pairs = Dedup.minhashDedupPairs(mutated, numer = 7, denom = 10)
    val got = pairs.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = d.select("doc_id").collect().map(_.getLong(0))
      .map(id => (id, id + 1000000L)).toSet
    assert(expected.subsetOf(got))
    // verified pairs really have jaccard ≥ 0.7 (spot integer check)
    val bad = pairs.filter(col("n_inter") * 10 < col("n_union") * 7).count()
    assert(bad == 0)
  }

  test("contamination: a test doc copied from train is fully contaminated") {
    val rows = Seq(
      (1L, "train", "alpha beta gamma delta epsilon"),
      (2L, "train", "one two three four five"),
      (10L, "test", "alpha beta gamma delta epsilon"), // verbatim leak
      (11L, "test", "zz yy xx ww vv"), // clean
      (12L, "test", "one two entirely different tail")) // partial overlap
      .toDF("doc_id", "split", "text")
    val got = Dedup.contamination(rows).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(10L)._1 == got(10L)._2, "verbatim copy must be 100% hit")
    assert(got(11L)._2 == 0, "clean doc must have zero hits")
    assert(got(12L)._2 == 1 && got(12L)._1 == 4,
      s"partial overlap: ${got(12L)}") // only 'one two' is shared
  }

  test("connected components: chains, cliques, and singleton pairs") {
    // two chains (0-1-2-3, 10-11), a triangle (20,21,22), a lone pair
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L), (30L, 31L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L, 31L -> 30L)
    assert(got == want)
  }

  test("components: assumeCanonical path ≡ default, and duplicate " +
      "edges stay correct (label propagation is idempotent)") {
    val canonical = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L), (30L, 31L))
      .toDF("doc_a", "doc_b")
    val want = Dedup.components(canonical).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = Dedup.components(canonical, assumeCanonical = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == want)
    // a LYING caller (duplicates, reversed orientation, a self-loop)
    // still gets correct labels on the fast path — the skipped distinct
    // was never a correctness dependency, only an edge-size bound
    val dirty = canonical
      .union(Seq((1L, 0L), (2L, 3L), (22L, 22L)).toDF("doc_a", "doc_b"))
    val dirtyFast = Dedup.components(dirty, assumeCanonical = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dirtyFast == want)
  }

  test("components: driver union-find fast path ≡ distributed rounds") {
    // r19 rail: a graph under maxLocalEdges symmetric edges collapses
    // driver-side (union-by-min + path compression = the propagation
    // fixpoint, order-independent). Pin label identity against the
    // distributed rounds (maxLocalEdges = 0 forces them) on a fixture
    // mixing chains, a clique, and singletons.
    val pairs = (Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L), (30L, 31L)) ++
      (100L until 124L).map(i => (i, i + 1))).toDF("doc_a", "doc_b")
    def lbl(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = lbl(Dedup.components(pairs))
    val dist = lbl(Dedup.components(pairs, maxLocalEdges = 0L))
    assert(fast == dist,
      s"fast/distributed diverged: ${fast.toSet -- dist.toSet}")
  }

  test("components: non-long ids fall through the rail to the " +
      "distributed rounds (type-uniform contract)") {
    // ADVICE r19: the union-find rail reads getLong, so it only takes
    // long ids. An INT-typed pair relation — rail-sized, so it would
    // otherwise hit the rail and die on a ClassCastException — must
    // fall through to the distributed rounds, whose min/least handle
    // any orderable type: the public contract stays type-uniform.
    val pairs = Seq((1, 2), (2, 3), (10, 11)).toDF("doc_a", "doc_b")
    val got = Dedup.components(pairs).collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(got == Map(1 -> 1, 2 -> 1, 3 -> 1, 10 -> 10, 11 -> 10))
  }

  test("components: a rail-sized null id fails loudly for non-long ids " +
      "too (type-uniform null contract)") {
    // review r20: the rail's in-loop null require only covers LONG ids;
    // without the pre-branch check a rail-sized INT graph with a null
    // (an upstream outer-join leak) would silently take the distributed
    // rounds' null-keyed non-label. The named error must not depend on
    // the id type.
    val pairs = Seq((Some(1), Some(2)), (Some(2), None))
      .toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.components(pairs).collect()
    }
    assert(e.getMessage.contains("null doc id"), e.getMessage)
  }

  test("connected components: deep chain converges with bounded lineage") {
    // a 26-node path needs ~25 label-propagation rounds — crosses the
    // every-10-rounds localCheckpoint twice, proving deep graphs converge
    // inside maxRounds without the plan growing one join per round.
    // maxLocalEdges = 0: the DISTRIBUTED rounds are under test (the r19
    // union-find rail would otherwise swallow this fixture silently)
    val pairs = (0L until 25L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, converged) = Dedup.componentsWithStatus(pairs,
      maxLocalEdges = 0L)
    assert(converged)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 25L).map(_ -> 0L).toMap)
  }

  test("pointer jump engages past the broadcast threshold: a 26-node " +
      "path converges within 10 rounds (hook alone needs 25)") {
    val pairs = (0L until 25L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // maxBroadcastNodes = 0 forces the shuffle regime — the one where
    // the jump is active; maxRounds = 10 < the 25-round hook-only
    // requirement, so convergence PROVES the compress ran;
    // maxLocalEdges = 0 keeps the union-find rail out of the way
    val (labels, converged) = Dedup.componentsWithStatus(pairs,
      maxRounds = 10, maxBroadcastNodes = 0L, maxLocalEdges = 0L)
    assert(converged, "jump-regime propagation did not converge in 10 " +
      "rounds — pointer jumping is not engaging")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 25L).map(_ -> 0L).toMap)
  }

  test("connected components: maxRounds cutoff reports non-convergence") {
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, converged) =
      Dedup.componentsWithStatus(pairs, maxRounds = 2,
        maxLocalEdges = 0L)
    assert(!converged)
    // truncated labels are still returned (documented), just not a fixpoint
    assert(labels.count() == 41L)
    assert(labels.filter(col("component") =!= 0L).count() > 0)
  }

  /** The declarative 62-sum-column SimHash: explode to (doc, token) rows,
    * hash each token, and sum ±1 per bit lane — the reference the per-row
    * [[Dedup.simhashes]] expression is checked against. */
  private def simhashesDeclarative(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val lanes = (0 until Dedup.SimHashBits).map { j =>
      sum(shiftright(col("h"), j).bitwiseAND(1L) * 2L - 1L).as(s"c$j")
    }
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .withColumn("h", graft.functions.GraftFunctions.polyHash2(col("t")))
      .groupBy(col("doc_id"))
      .agg(lanes.head, lanes.tail: _*)
      .select(col("doc_id"),
        (0 until Dedup.SimHashBits).map(j =>
          when(col(s"c$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ bitwiseOR _).as("simhash"))
  }

  test("simhash: per-row expression ≡ declarative form") {
    // corpus docs plus the split()-semantics edge cases the one-pass
    // expression must reproduce exactly: consecutive spaces (empty
    // token), trailing space (trailing empty token), the empty string
    // (one empty token), and a supplementary-plane codepoint
    val edges = Seq((9000001L, "a  b"), (9000002L, "a b "),
      (9000003L, ""), (9000004L, " "), (9000005L, "a 😀 b"))
      .toDF("doc_id", "text")
    val d = docs.select(col("doc_id"), col("text")).union(edges)
    val rowLocal = Dedup.simhashes(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val declarative = simhashesDeclarative(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rowLocal == declarative)
  }

  test("simhash: order-independent, near-dup blocking finds mutants") {
    val df = Seq((1L, "a b c d e f g h"), (2L, "h g f e d c b a"),
      (3L, "q r s t u v w x")).toDF("doc_id", "text")
    val hs = Dedup.simhashes(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(1L) == hs(2L)) // bag-of-words invariance
    assert(hs(1L) != hs(3L))

    val d = docs.select(col("doc_id"), col("text")).limit(100)
    val mutated = d.union(d.select(col("doc_id") + 1000000L,
      regexp_replace(col("text"), "^[^ ]* ", "")))
    val pairs = Dedup.simhashNearDupPairs(mutated, maxHamming = 6)
    val got = pairs.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = d.select("doc_id").collect().map(_.getLong(0))
      .map(id => (id, id + 1000000L)).toSet
    val recall = (expected & got).size.toDouble / expected.size
    assert(recall >= 0.85, s"simhash recall $recall")
    val bad = pairs.filter(col("hamming") > 6).count()
    assert(bad == 0)
  }

  /** [[Dedup.hammingNearDupPairs]] plus the number of (blk, key) buckets
    * its `maxBucket` rail drops, counted by one eager census job over the
    * engine's blocking recipe ([[Dedup.chunkPairDefs]]): the reference for
    * what the rail's own lazy census drops. */
  private def hammingPairsWithDrops(sigs: org.apache.spark.sql.DataFrame,
      maxBucket: Int = 100000): (org.apache.spark.sql.DataFrame, Long) = {
    val blocks = Dedup.chunkPairDefs(col("simhash")).map { case (b, k) =>
      struct(lit(b).as("blk"), k.as("key"))
    }
    val dropped = sigs.select(explode(array(blocks: _*)).as("ck"))
      .groupBy(col("ck.blk"), col("ck.key")).count()
      .filter(col("count") > maxBucket).count()
    (Dedup.hammingNearDupPairs(sigs, maxBucket = maxBucket), dropped)
  }

  test("hamming blocking: maxBucket drops a degenerate constant bucket") {
    // 50 identical signatures: every (blk, key) bucket holds all 50 rows
    // — the shape that would otherwise go quadratic
    val sigs = (1L to 50L).map(i => (i, 0x0123456789abcdefL))
      .toDF("doc_id", "simhash")
    val (capped, dropped) = hammingPairsWithDrops(sigs, maxBucket = 49)
    assert(capped.count() == 0L)
    // the rail is not silent: all 28 over-cap chunk-pair buckets counted
    assert(dropped == 28L)
    // under the default rail the same bucket pairs normally
    val (open, dropped2) = hammingPairsWithDrops(sigs)
    assert(open.count() == 50L * 49L / 2L)
    assert(dropped2 == 0L)
  }

  test("hamming blocking: bucket accounting has no value-partitioned window") {
    // the rail exists for degenerate hot buckets — counting bucket sizes
    // with count() OVER (PARTITION BY blk, key) would serialize a hot
    // bucket into ONE WindowExec task before the rail drops it. The
    // accounting must be a partial-aggregated groupBy (r10 verdict #1).
    val sigs = (1L to 50L).map(i => (i, i * 0x9e3779b97f4a7c15L))
      .toDF("doc_id", "simhash")
    val pairs = Dedup.hammingNearDupPairs(sigs)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "bucket-size accounting reintroduced a value-partitioned window:\n" +
        plan.take(600))
    graft.ops.Stage.releaseAll(spark)
  }

  test("hamming pair plan shape: one (blk,key) exchange into the " +
      "kernel, lazy rail metric, no join, no pair-keyed exchange") {
    val sigs = (1L to 200L).map(i => (i, i * 0x9e3779b97f4a7c15L))
      .toDF("doc_id", "simhash")
    val plan = Dedup.hammingNearDupPairs(sigs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("MapPartitions"),
      "in-bucket pairing must run in the per-partition microkernel:\n" +
        plan.take(600))
    assert(plan.contains("hashpartitioning(blk"),
      "the kernel's (blk, key) exchange is missing:\n" + plan.take(600))
    // the pair relation is produced by the kernel, not a join: the
    // former sort-merge self-join paid ~150 ns of row machinery per
    // candidate pair and needed b-side ×G salt replication to spread it
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "pair generation regressed to a row-at-a-time join:\n" +
        plan.take(600))
    // the census is ONE filtered projection, not a union of two census
    // branches (the r14 stage audit: AQE materialized each union branch
    // as its own full census pass)
    assert(!plan.contains("Union"),
      "the bucket census regressed to the two-branch union:\n" +
        plan.take(900))
    // knob-on plan: the surviving-block mask is computed ONCE PER DOC
    // (its 28-probe CASE sits BELOW the chunk-pair Generate — above
    // would re-evaluate it per exploded row, 28× per doc) and its
    // census row rides a CONSTANT-KEY BroadcastHashJoin — a
    // BroadcastNestedLoopJoin means the census regressed to crossJoin,
    // which breaks whole-stage codegen for the whole kernel-branch
    // pipeline (measured +33% before the BHJ form)
    val mplan = Dedup.hammingNearDupPairs(sigs, survivingBlocks = true)
      .queryExecution.executedPlan.toString
    assert(!mplan.contains("BroadcastNestedLoopJoin"),
      "mask census regressed to a codegen-breaking nested-loop join:\n" +
        mplan.take(600))
    val genIdx = mplan.indexOf("Generate explode(array(struct")
    val maskIdx = mplan.indexOf("AS _mask")
    assert(genIdx >= 0 && maskIdx > genIdx,
      "the over-cap mask projection must be evaluated per doc (below " +
        "the 28-way explode)")
    assert(plan.contains("CollectMetrics"),
      "the lazy rail census observation is missing from the plan:\n" +
        plan.take(600))
    assert(!plan.contains("Window"),
      "bucket accounting must stay a partial-aggregated groupBy:\n" +
        plan.take(600))
    // the pair list must stream out of the kernel: the old
    // dropDuplicates(doc_a, doc_b) planned an exchange over every
    // verified pair (1.78 GB written at sf2) — the structural
    // first-clean-block emission rule replaced it
    assert(!plan.contains("hashpartitioning(doc_a"),
      "a pair-keyed dedup exchange reappeared above the kernel:\n" +
        plan.take(900))
  }

  test("bucket kernel is exact: every brute-force pair exactly once") {
    // identical signatures share every bucket (mass-duplicate group
    // spanning all 28 blocks), near-identical ones share most, one
    // loner shares none — the kernel must emit EXACTLY the brute-force
    // pair set, each pair once across all blocks
    val rows = (1L to 12L).map(i => (i, 0x0123456789abcdefL)) ++
      (21L to 24L).map(i => (i, 0x0123456789abcd00L + i)) ++
      Seq((31L, 0x7777777777777777L))
    val sigs = rows.toDF("doc_id", "simhash")
    val expected = (for {
      (ia, sa) <- rows; (ib, sb) <- rows
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 6
    } yield (ia, ib, java.lang.Long.bitCount(sa ^ sb).toLong)).toSet
    val gotRows = Dedup.hammingNearDupPairs(sigs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(gotRows.size == gotRows.toSet.size,
      "first-clean-block emission produced a duplicate pair")
    assert(gotRows.toSet == expected,
      s"kernel pair set diverged: missing=${expected -- gotRows.toSet} " +
        s"extra=${gotRows.toSet -- expected}")
  }

  test("monster-bucket tiling is exact: tiled pair set ≡ untiled, " +
      "each pair exactly once") {
    // force tiling on small buckets (tileRows = 3 → a 12-row bucket
    // splits into g = 4 blocks = 10 tiles, mixing triangle (t,t) and
    // cross (t1<t2) kernel modes): the pair set must be IDENTICAL to
    // the untiled scan — tiling is physical spreading, never semantics
    val rows = (1L to 12L).map(i => (i, 0x0123456789abcdefL)) ++
      (21L to 24L).map(i => (i, 0x0123456789abcd00L + i)) ++
      Seq((31L, 0x7777777777777777L))
    val sigs = rows.toDF("doc_id", "simhash")
    val untiled = Dedup.hammingNearDupPairs(sigs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val tiled = Dedup.hammingNearDupPairs(sigs, tileRows = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(tiled.size == tiled.toSet.size,
      "tiling produced a duplicate pair")
    assert(tiled.toSet == untiled.toSet,
      s"tiled pair set diverged: missing=${untiled.toSet -- tiled.toSet} " +
        s"extra=${tiled.toSet -- untiled.toSet}")
    // mass-duplicate bucket through the cap-interaction path: 50
    // identical sigs, g = ceil(50/5) = 10 tiles per block bucket
    val dup = (1L to 50L).map(i => (i, 0x0123456789abcdefL))
      .toDF("doc_id", "simhash")
    assert(Dedup.hammingNearDupPairs(dup, tileRows = 5).count()
      == 50L * 49L / 2L)
  }

  test("plain hammingNearDupPairs is pure plan construction: no jobs, " +
      "no pinned caches") {
    val sigs = (1L to 20L).map(i => (i, i * 0x9e3779b97f4a7c15L))
      .toDF("doc_id", "simhash")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val stagedBefore = graft.ops.Stage.stagedCount(spark)
      val pairs = Dedup.hammingNearDupPairs(sigs)
      Thread.sleep(500) // job-start events are async; let any drain
      assert(jobs.get() == 0,
        "operator construction must not launch Spark jobs (the r11 rail " +
          "census ran eager barrier+count jobs per call)")
      assert(graft.ops.Stage.stagedCount(spark) == stagedBefore,
        "operator construction must not pin staging caches")
      pairs.count() // the plan still executes end-to-end
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("simhashCanonical ≡ components over the full doc pair graph") {
    val d = docs.select(col("doc_id"), col("text")).limit(120)
    val corpus = d
      .union(d.select(col("doc_id") + 1000000L,
        regexp_replace(col("text"), "^[^ ]* ", "")))  // near-dup mutants
      .union(d.limit(30).select(col("doc_id") + 2000000L, col("text")))
    val viaPairs = {
      val labels = Dedup.components(
        Dedup.simhashNearDupPairs(corpus, maxHamming = 6))
      corpus.select(col("doc_id")).join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("canonical_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val viaClusters = Dedup.simhashCanonical(corpus, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaClusters == viaPairs)
    assert(viaClusters.size == 270) // one row per doc: O(docs) output
    // identical-text copies collapse to the original's id without pairing
    val copies = viaClusters.filter(_._1 >= 2000000L)
    assert(copies.nonEmpty && copies.forall { case (id, c) =>
      c == id - 2000000L || c < 2000000L })
  }

  test("pair metrics: precision and recall from known overlap") {
    val found = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L))
      .toDF("doc_a", "doc_b")
    val truth = Seq((1L, 2L), (3L, 4L), (9L, 10L))
      .toDF("doc_a", "doc_b")
    val m = Dedup.pairMetrics(found, truth).collect().head
    assert((m.getLong(0), m.getLong(1), m.getLong(2)) == ((4L, 3L, 2L)))
    assert(m.getLong(3) == 500L) // 2/4
    assert(m.getLong(4) == 666L) // 2/3 floored
    // empty found side: zero precision, no division error
    val empty = Dedup.pairMetrics(
      found.filter(col("doc_a") > 100L), truth).collect().head
    assert(empty.getLong(0) == 0L && empty.getLong(3) == 0L)
  }

  test("pair metrics canonicalize orientation: reversed pairs still match") {
    // (2,1) and (1,2) are the SAME unordered pair: one found entry after
    // canonicalization, matching truth's (1,2)
    val found = Seq((2L, 1L), (4L, 3L), (1L, 2L)).toDF("doc_a", "doc_b")
    val truth = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val m = Dedup.pairMetrics(found, truth).collect().head
    assert((m.getLong(0), m.getLong(1), m.getLong(2)) == ((2L, 2L, 2L)))
    assert(m.getLong(3) == 1000L && m.getLong(4) == 1000L)
  }

  test("pair metrics canonical fast path: same numbers, shared exchange") {
    val found = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L))
      .toDF("doc_a", "doc_b")
    val truth = Seq((1L, 2L), (3L, 4L), (9L, 10L))
      .toDF("doc_a", "doc_b")
    val fast = Dedup.pairMetrics(found, truth, assumeCanonical = true)
    assert(fast.collect().head ==
      Dedup.pairMetrics(found, truth).collect().head)
    val plan = fast.queryExecution.executedPlan.toString
    // the fast path must not rebuild the dedup hash tables...
    assert(!plan.contains("HashAggregate(keys=[doc_a"),
      "assumeCanonical still planned a pair-keyed dedup aggregate:\n" +
        plan.take(900))
    // ...but must still share ONE pair-keyed exchange per side, so the
    // (expensive) pair-producing pipeline runs once for join + count
    assert(plan.contains("ReusedExchange"),
      "the overlap join and the count no longer share the pair " +
        "exchange — pair generation would run twice:\n" + plan.take(900))
  }

  test("components() fails loudly when maxRounds is too small") {
    val pairs = (1L until 20L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.components(pairs, maxRounds = 3, maxLocalEdges = 0L)
    }
    assert(e.getMessage.contains("did not converge"))
    // the status variant still hands back the partial labels
    val (labels, converged) =
      Dedup.componentsWithStatus(pairs, maxRounds = 3,
        maxLocalEdges = 0L)
    assert(!converged && labels.count() == 20)
  }

  test("incremental dedup: corpus digests and within-batch firsts both drop") {
    val seen = Seq("old text one", "old text two").toDF("text")
      .select(sha2(lower(col("text")), 256).as("digest"))
    val batch = Seq(
      (10L, "old text one"),   // dup of corpus → dropped
      (11L, "brand new a"),    // kept
      (12L, "brand new a"),    // within-batch dup, higher id → dropped
      (13L, "Brand NEW a"),    // case-insensitive dup → dropped
      (14L, "brand new b"))    // kept
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalDedup(batch, seen).collect()
      .map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(11L, 14L))
    // the digest keep rule must plan as partial-agg min + join, never
    // min() OVER (PARTITION BY _dig): a mass-duplicated digest — the
    // case dedup exists for — would serialize into one WindowExec task
    val plan = Dedup.incrementalDedup(batch, seen)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "firstPerDigest planned a value-partitioned window:\n" +
        plan.take(600))
  }

  test("boilerplate removal: df threshold drops shared segments everywhere") {
    val df = Seq(
      (1L, "x y a b"),
      (2L, "x y c d"),
      (3L, "x y e f"),
      (4L, "g h i j")).toDF("doc_id", "text")
    val r = Dedup.boilerplateRemoval(df, segTokens = 2, maxDf = 3).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getString(3)))
      .toMap
    // "x y" appears in 3 distinct docs → dropped from ALL of them,
    // including the first (unlike segmentDedup's first-occurrence rule)
    assert(r(1L) == ((2L, 1L, "a b")))
    assert(r(2L) == ((2L, 1L, "c d")))
    assert(r(3L) == ((2L, 1L, "e f")))
    assert(r(4L) == ((2L, 0L, "g h i j")))
  }

  test("boilerplate removal: df counts distinct docs, not occurrences") {
    // "x y" repeats within ONE doc → df = 1, below the threshold: kept
    val df = Seq((1L, "x y x y"), (2L, "p q r s")).toDF("doc_id", "text")
    val r = Dedup.boilerplateRemoval(df, segTokens = 2, maxDf = 2).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getString(3)))
      .toMap
    assert(r(1L) == ((2L, 0L, "x y x y")))
    assert(r(2L) == ((2L, 0L, "p q r s")))
  }

  test("duplicate spans: misaligned passage cut from later doc only") {
    val passage = (1 to 10).map(i => s"p$i").mkString(" ")
    val df = Seq(
      (1L, passage),                       // first occurrence: untouched
      (2L, s"z1 z2 z3 $passage z4"),       // passage at offset 3 (NOT a
                                           // multiple of the window — the
                                           // case fixed-boundary segment
                                           // dedup structurally misses)
      (3L, passage),                       // whole doc duplicated → empty
      (4L, "x y")                          // shorter than the window
    ).toDF("doc_id", "text")
    val r = Dedup.duplicateSpans(df, windowTokens = 4).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getString(3))))
      .toMap
    assert(r(1L) == ((10L, 0L, passage)))
    assert(r(2L) == ((14L, 10L, "z1 z2 z3 z4")))
    assert(r(3L) == ((10L, 10L, "")))
    assert(r(4L) == ((2L, 0L, "x y")))
  }

  test("duplicate spans: hot boilerplate window, no window op planned") {
    // one 4-token passage shared by half the docs — the hot-key shape:
    // first-occurrence must stay a partial-aggregated min(struct), and
    // the coverage path must never plan a value-partitioned Window
    val hot = "h1 h2 h3 h4"
    val docs = (1L to 40L).map { id =>
      if (id % 2 == 0) (id, s"$hot u${id}a u${id}b u${id}c u${id}d")
      else (id, s"v${id}a v${id}b v${id}c v${id}d v${id}e")
    }.toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(docs, windowTokens = 4)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "duplicate-span coverage must not plan a value-partitioned window")
    assert(plan.contains("partial_min"), plan)
    val m = out.collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(m(2L)._3.startsWith(hot))     // first occurrence intact
    assert(m(4L) == ((8L, 4L, "u4a u4b u4c u4d"))) // later ones cut
    assert(m(1L)._2 == 0L)               // odd docs untouched
  }

  test("span screen: empty corpus bank flags nothing") {
    val batch = Seq((1L, "a b c d e f g h i")).toDF("doc_id", "text")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val r = Dedup.spanScreen(batch, Dedup.spanBank(empty)).collect()
      .map(x => (x.getLong(1), x.getLong(2), x.getLong(3))).head
    assert(r == ((9L, 0L, 0L)))
  }

  test("duplicate spans: self-repetition keeps the first occurrence") {
    val df = Seq((1L, "a b c d a b c d")).toDF("doc_id", "text")
    val r = Dedup.duplicateSpans(df, windowTokens = 4).collect()
      .map(x => (x.getLong(1), x.getLong(2), x.getString(3))).head
    assert(r == ((8L, 4L, "a b c d")))
  }

  test("near-dup rate profile: per-group incidence and cross-group flags") {
    val meta = Seq((1L, "g1"), (2L, "g1"), (3L, "g2"), (4L, "g2"))
      .toDF("doc_id", "grp")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val r = Dedup.nearDupRateBy(meta, pairs, "grp").collect()
      .map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    // g1: both docs dup'd; only doc 2 has a cross-group partner (3)
    assert(r("g1") == ((2L, 2L, 1L, 1000000L)))
    // g2: doc 3 dup'd (cross); doc 4 clean
    assert(r("g2") == ((2L, 1L, 1L, 500000L)))
  }

  test("span screen: quote-stitched batch doc flagged against the bank") {
    val corpus = Seq(
      (1L, (1 to 10).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 10).map(i => s"b$i").mkString(" "))).toDF("doc_id", "text")
    val batch = Seq(
      // passages of BOTH corpus docs stitched with fresh glue — passes a
      // digest screen and scores low on whole-doc similarity, but 10 of
      // its 13 tokens are corpus content
      (100L, "a1 a2 a3 a4 a5 x y z b1 b2 b3 b4 b5"),
      (101L, "entirely fresh content here"),
      (102L, "p q")).toDF("doc_id", "text")
    val r = Dedup.spanScreen(batch, Dedup.spanBank(corpus, 4), 4)
      .collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3))))
      .toMap
    assert(r(100L) == ((13L, 10L, 769230L)))
    assert(r(101L) == ((4L, 0L, 0L)))
    assert(r(102L) == ((2L, 0L, 0L)))
  }

  test("corpus diff: added / removed / modified / unchanged statuses") {
    val prev = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val curr = Seq((1L, "a"), (2L, "b v2"), (4L, "d")).toDF("doc_id", "text")
    val r = Dedup.corpusDiff(prev, curr).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r == Map(1L -> "unchanged", 2L -> "modified",
      3L -> "removed", 4L -> "added"))
  }

  test("decontamination: benchmark spans cut out, rest reassembled") {
    // 2-token segments: doc 1 = [a b][c d][e f], doc 2 = [x y][c d]
    val train = Seq((1L, "a b c d e f"), (2L, "x y c d"))
      .toDF("doc_id", "text")
    val eval_ = Seq((100L, "c d")).toDF("doc_id", "text")
    val r = Dedup.decontaminateSegments(train, eval_, segTokens = 2)
      .collect()
      .map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getString(3))).toMap
    assert(r(1L) == ((3L, 1L, "a b e f")))  // middle span removed
    assert(r(2L) == ((2L, 1L, "x y")))
    // a doc that IS the benchmark text is fully consumed
    val all = Dedup.decontaminateSegments(
        Seq((5L, "c d")).toDF("doc_id", "text"), eval_, segTokens = 2)
      .collect().map(x => (x.getLong(2), x.getString(3))).head
    assert(all == ((1L, "")))
  }

  test("incremental near-dedup: edited recrawl dropped, new text kept") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "pack my box with five dozen liquor jugs right now"),
      (3L, "sphinx of black quartz judge my vow said the king"))
      .toDF("doc_id", "text")
    val batch = Seq(
      // doc 1 with one token dropped — near-dup of corpus doc 1
      (11L, "quick brown fox jumps over the lazy dog today"),
      // genuinely new text — no shingle overlap with any corpus doc
      (12L, "completely fresh words that never appeared before anywhere"))
      .toDF("doc_id", "text")
    val r = Dedup.incrementalNearDedup(batch, corpus)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getBoolean(2)))
      .toMap
    assert(r(11L)._1 >= 1L && !r(11L)._2, s"recrawl not caught: $r")
    assert(r(12L) == ((0L, true)), s"new doc not kept: $r")
  }

  test("canonical by score: max score wins, ties break to smallest id") {
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (9L, 9L))
      .toDF("doc_id", "component")
    val scores = Seq((1L, 5L), (2L, 9L), (3L, 9L), (9L, 1L))
      .toDF("doc_id", "score")
    val r = Dedup.canonicalByScore(labels, scores).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    // cluster 1: docs 2 and 3 tie at score 9 → 2 (smallest id) wins,
    // and the winner is NOT the min-id member (1), proving the choice
    // is score-driven
    assert(r == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 9L -> 9L))
  }

  test("corpus diff: NULL-text docs are PRESENT, not 'added'") {
    // presence must come from the join, not digest nullity (sha2 of NULL
    // is NULL): NULL→text is a modification, NULL→NULL is unchanged,
    // NULL-then-gone is removed
    val prev = Seq((7L, null: String), (8L, null: String),
      (9L, null: String), (10L, "stable")).toDF("doc_id", "text")
    val curr = Seq((7L, "hello"), (8L, null: String),
      (10L, "stable"), (11L, null: String)).toDF("doc_id", "text")
    val st = Dedup.corpusDiff(prev, curr).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(st == Map(7L -> "modified", 8L -> "unchanged", 9L -> "removed",
      10L -> "unchanged", 11L -> "added"), st.toString)
  }

  test("canonical by score: string doc_ids take the two-step argmin path") {
    // unary minus on a string is NULL — the numeric negation trick would
    // null every canonical_id; string ids must still pick max score with
    // ties to the LEXICOGRAPHICALLY smallest id
    val labels = Seq(("u/a", "u/a"), ("u/b", "u/a"), ("u/c", "u/a"),
      ("u/z", "u/z")).toDF("doc_id", "component")
    val scores = Seq(("u/a", 5L), ("u/b", 9L), ("u/c", 9L), ("u/z", 1L))
      .toDF("doc_id", "score")
    val r = Dedup.canonicalByScore(labels, scores).collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    assert(r == Map("u/a" -> "u/b", "u/b" -> "u/b", "u/c" -> "u/b",
      "u/z" -> "u/z"), r.toString)
  }

  test("near-dup rate: NULL group is its own group (null-safe cross test)") {
    val meta = Seq((1L, "cc"), (2L, null: String), (3L, "cc"))
      .toDF("doc_id", "source")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val r = Dedup.nearDupRateBy(meta, pairs, "source").collect()
      .map(x => Option(x.getString(0)) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    // the cc↔NULL duplicate must read CROSS-group on both sides, not
    // evaluate to unknown and report group-local
    assert(r(Some("cc")) == ((2L, 1L, 1L)), r.toString)
    assert(r(None) == ((1L, 1L, 1L)), r.toString)
  }

  test("decontamination: untouched doc reads n_dropped = 0, never NULL") {
    val docs = Seq((1L, "clean tokens only here nothing banned at all"))
      .toDF("doc_id", "text")
    val eval = Seq((100L, "totally different benchmark prose entirely " +
      "separate words")).toDF("doc_id", "text")
    val r = Dedup.decontaminateSegments(docs, eval, segTokens = 4)
      .collect().head
    assert(!r.isNullAt(2) && r.getLong(2) == 0L)
  }

  test("NULL text: near-dup path screens, canonical labels the doc itself") {
    // simhashes keeps a (doc_id, NULL) row for NULL text — the blocking
    // must screen it BEFORE the kernel (whose primitive getLong reads
    // would NPE inside a task) and simhashCanonical must still deliver
    // one row per doc, NULL-text docs labeling themselves (NOT one
    // cluster of all NULLs: similarity of unknown content is unknown).
    Rail.clearObservation(Dedup.HammingNullSigRail)
    val df = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, null: String), (4L, null: String)).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDupPairs(df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"null docs must pair with nothing: $pairs")
    var seen: Option[Long] = None
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (seen.isEmpty && System.nanoTime() < deadline) {
      seen = Rail.observationSeen(Dedup.HammingNullSigRail)
      if (seen.isEmpty) Thread.sleep(50)
    }
    assert(seen.contains(2L),
      s"screened NULL-signature rows must surface as an observation: $seen")
    val canon = Dedup.simhashCanonical(df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(canon == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L),
      s"NULL-text docs must label themselves: $canon")
    graft.ops.Stage.releaseAll(spark)
  }

  test("firstPerDigest: NULL digests pass through as trivially unique") {
    // sha2 of NULL text is NULL; unknown content is not a duplicate of
    // other unknown content — every NULL-digest row survives, while the
    // groupBy-only form would keep one and the old inner join kept NONE
    // (NULL never equi-matches). Non-null groups keep the lowest id.
    val digested = Seq(
      (10L, "d1"), (11L, "d1"), (12L, null: String), (13L, null: String))
      .toDF("doc_id", "_dig").select(col("_dig"), col("doc_id"))
    val kept = Dedup.firstPerDigest(digested).collect()
      .map(_.getLong(1)).sorted.toSeq
    assert(kept == Seq(10L, 12L, 13L))
    // same posture end-to-end: a NULL-text batch row is kept (with a
    // NULL digest) by incrementalDedup
    val batch = Seq((20L, "fresh"), (21L, null: String))
      .toDF("doc_id", "text")
    val seenD = Seq("other").toDF("text")
      .select(sha2(lower(col("text")), 256).as("digest"))
    val inc = Dedup.incrementalDedup(batch, seenD).collect()
      .map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(inc == Map(20L -> false, 21L -> true))
  }

  test("LSH fired rail: pair recovered in its first SURVIVING matching band") {
    // bands=4, k=8 → 2 sig values per band. Docs 1 and 2 share band 0
    // AND band 3; ten fillers share band 0's sub-signature (inflating
    // ONLY that bucket) with unique values elsewhere. maxBucket = 11
    // rails bucket (0, key0) — 12 rows — so the pair's FIRST matching
    // band is dropped; the surviving-band rule must emit it in band 3
    // instead of losing it (the pre-r13 all-bands rule computed
    // firstBand = 0 and the band-3 emission failed the filter).
    val sigs = (
      Seq((1L, Seq(7L, 7L, 10L, 11L, 12L, 13L, 9L, 9L)),
          (2L, Seq(7L, 7L, 20L, 21L, 22L, 23L, 9L, 9L))) ++
      (1L to 10L).map(i => (100L + i,
        Seq(7L, 7L, 1000L + i, 2000L + i, 3000L + i, 4000L + i,
          5000L + i, 6000L + i))))
      .toDF("doc_id", "sig")
    def pairs(cap: Int) =
      Dedup.lshCandidatePairs(sigs, bands = 4, k = 8, maxBucket = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val railed = pairs(11)
    assert(railed == Seq((1L, 2L)),
      s"pair must survive via band 3 when band 0 is railed: $railed")
    // unfired rail: every band-0 co-occupant pairs (C(12,2) = 66 — the
    // quadratic bucket the rail exists to cap), each exactly once, and
    // (1, 2) is among them (emitted in band 0 now)
    val open = pairs(100)
    assert(open.size == 66 && open.toSet.size == 66,
      s"unfired-rail candidate set changed: ${open.size}")
    assert(open.count(_ == ((1L, 2L))) == 1)
    graft.ops.Stage.releaseAll(spark)
  }

  test("fired rail: surviving-block knob recovers the cross-bucket pair") {
    // Recall semantics (see hammingNearDupPairs scaladoc): the DEFAULT
    // all-blocks rule emits a pair only in the FIRST clean chunk-pair
    // block of its XOR — if that bucket is over-cap the pair is lost
    // even though it co-occurs in a surviving bucket (the measured-fast
    // path). survivingBlocks = true (r14) recovers it in the first
    // SURVIVING clean block — lshCandidatePairs parity — at the cost of
    // an extra census pass. Both pinned here.
    //
    // a and b differ only in byte 7 → every block not touching chunk 7
    // is clean; the first clean block is (0,1). 50 fillers share bytes
    // 0-1 = 0 (inflating ONLY bucket blk=(0,1), key=0 — their other
    // chunks are golden-ratio spread) so maxBucket = 51 rails exactly
    // the bucket carrying (a, b)'s designated emission.
    val a = 0L
    val b = 1L << 56
    val fillers = (1L to 50L)
      .map(i => (100L + i, (i * 0x9e3779b97f4a7c15L) & ~0xffffL))
    val sigs = ((1L, a) +: (2L, b) +: fillers).toDF("doc_id", "simhash")
    def pairSet(cap: Int, surviving: Boolean) =
      Dedup.hammingNearDupPairs(sigs, maxBucket = cap,
          survivingBlocks = surviving)
        .filter(col("doc_a") <= 2L).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // bucket (blk 0*8+1, key 0) holds 52 rows > 51 → railed
    assert(pairSet(51, surviving = true) == Set((1L, 2L)),
      "knob on: pair must survive via its first surviving clean block")
    assert(pairSet(51, surviving = false) == Set.empty,
      "default all-blocks rule drops the cross-bucket pair")
    // and the DEFAULT is the all-blocks rule
    assert(Dedup.hammingNearDupPairs(sigs, maxBucket = 51)
      .filter(col("doc_a") <= 2L).collect().isEmpty)
    // unfired rail: identical output under both rules
    assert(pairSet(100, surviving = true) == Set((1L, 2L)))
    assert(pairSet(100, surviving = false) == Set((1L, 2L)))
  }
}
