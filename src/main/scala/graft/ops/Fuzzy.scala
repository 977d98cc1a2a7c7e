package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Blocked fuzzy entity matching — the approximate-equality join the
  * relational family lacks: probe strings matched to build strings
  * within a Levenshtein budget, without a cartesian product.
  *
  * The caller supplies the BLOCKING key and owns its completeness
  * argument (a candidate pair outside the block is silently unmatched
  * — that is the blocking contract, same as LSH banding): e.g. for
  * trailing-character noise, the first token is edit-invariant, so
  * first-token blocking is complete.
  *
  * Scale design — collapse to DISTINCT strings first, the same move as
  * SimHash canonical's signature collapse: entity-name columns have
  * bounded vocabulary, so the verify join runs over |distinct probe| ×
  * |distinct build per block| candidates REGARDLESS of row count; the
  * corpus-sized frames only ever see hash equi-joins on the text. Two
  * rails bound the verify stage itself:
  *
  *  - the free `abs(len(p) − len(b)) ≤ maxDist` prune runs BEFORE the
  *    Levenshtein call (length difference is a lower bound on edit
  *    distance, so the prune is exact), and the Levenshtein itself is
  *    the thresholded form (O(len·maxDist) banded DP, early exit);
  *  - a block-population rail like LSH's `maxBucket`: a block whose
  *    distinct-probe × distinct-build candidate product exceeds
  *    `maxBlockPairs` is a degenerate blocking key (the caller's
  *    completeness argument has failed — e.g. blocking on a stopword),
  *    and is dropped with a logged count rather than silently going
  *    quadratic. Its probes surface as unmatched, never as a hang.
  *
  * Laziness contract: [[blockedFuzzyJoin]] is PURE PLAN CONSTRUCTION —
  * no job, no cache. The rail census runs inside the caller's own
  * action (it is the broadcast build side of an UNCONDITIONAL anti
  * join; an empty over-cap set broadcasts for free), and its count
  * surfaces through a `graft.rail` observation metric + session warn
  * log ([[Rail.observed]]) instead of an eager `count()`. The distinct
  * collapses feed both the census and the verify join, but their
  * shuffles are identical subtrees, so Spark's exchange reuse runs each
  * once per action — no staging cache to pin or release (plan-audited
  * in FuzzySpec).
  *
  * Best match per probe string is min(struct(dist, text)) — the
  * map-side-combining argmin, no window — then a per-text min-id
  * representative attaches a stable build id. Probes with no candidate
  * within budget survive with null match columns (left join), so
  * downstream can split matched/unmatched without a second pass.
  */
object Fuzzy {

  /** Rail kind for [[Rail.observed]] / observation metrics. */
  val BlockPairsRail = "fuzzy.maxBlockPairs"

  private def railWarn(maxBlockPairs: Long): String =
    s"blockedFuzzyJoin: maxBlockPairs=$maxBlockPairs dropped %d " +
      "degenerate blocks — their probes report as unmatched; fix the " +
      "blocking key or raise the rail"

  /** probe: (p_id, p_text, block); build: (b_id, b_text, block).
    * Returns (p_id, match_id, match_text, dist) for every probe row;
    * null match columns when nothing in the probe's block is within
    * `maxDist`. Ties: smallest (dist, b_text), then smallest b_id of
    * that text IN THE BLOCK — fully deterministic. The block key is
    * carried through every stage (best-match grouping, join-back, and
    * the representative-id lookup): a probe text that recurs under a
    * different blocking key must not inherit a match found in someone
    * else's block, and a matched text's id must come from the block
    * that was actually searched. */
  def blockedFuzzyJoin(probe: DataFrame, build: DataFrame,
      maxDist: Int = 2, maxBlockPairs: Long = 10000000L): DataFrame =
    plan(probe, build, maxDist, maxBlockPairs)._1

  /** [[blockedFuzzyJoin]] plus the number of blocks the `maxBlockPairs`
    * rail dropped, counted EAGERLY (one census job at call time) for
    * callers that must branch on the count — the rail must never fire
    * silently (a fired rail means the caller's blocking key degenerated
    * and those probes are unmatched by POLICY, which the operator of a
    * 100 TB run needs to know, not guess). Callers that only need the
    * warn-log visibility should use the lazy [[blockedFuzzyJoin]]. */
  def blockedFuzzyJoinWithStats(probe: DataFrame, build: DataFrame,
      maxDist: Int = 2, maxBlockPairs: Long = 10000000L)
      : (DataFrame, Long) = {
    val (out, overCap) = plan(probe, build, maxDist, maxBlockPairs)
    // count only — no eager warn line: the returned plan still carries
    // Rail.observed, which logs the SAME drop when the caller's action
    // executes it; warning here too would double every fired-rail line
    // (and the caller asked for the count precisely to do its own
    // branching/reporting)
    val droppedBlocks = overCap.count()
    (out, droppedBlocks)
  }

  /** Shared lazy plan: (output, over-cap census). No action, no cache. */
  private def plan(probe: DataFrame, build: DataFrame,
      maxDist: Int, maxBlockPairs: Long): (DataFrame, DataFrame) = {
    val pn = probe.select(col("p_text"), col("block")).distinct()
    val bn = build.select(col("b_text"), col("block")).distinct()
    // block census: partial-aggregated counts per side, joined on the
    // block key — one row per block, so the over-cap set is bounded by
    // the block vocabulary and broadcasts into the anti join. No window,
    // no stage ever gathers a hot block's rows into one task.
    val overCap = pn.groupBy("block").agg(count(lit(1)).as("_np"))
      .join(bn.groupBy("block").agg(count(lit(1)).as("_nb")), "block")
      .filter(col("_np") * col("_nb") > maxBlockPairs)
      .select(col("block"))
    val pnKept = pn.join(
      broadcast(Rail.observed(overCap, BlockPairsRail,
        railWarn(maxBlockPairs))),
      Seq("block"), "left_anti")
    val matched = pnKept.join(bn, "block")
      // exact prune: |len(p) − len(b)| lower-bounds edit distance, and
      // length() is a register op — candidates outside the budget never
      // reach the DP. The thresholded levenshtein then early-exits at
      // maxDist (returns -1 above it) instead of filling the full matrix.
      .filter(abs(length(col("p_text")) - length(col("b_text")))
        <= maxDist)
      .withColumn("dist",
        levenshtein(col("p_text"), col("b_text"), maxDist))
      .filter(col("dist") >= 0)
    val best = matched.groupBy("p_text", "block")
      .agg(min(struct(col("dist"), col("b_text"))).as("m"))
      .select(col("p_text"), col("block"),
        col("m.b_text").as("match_text"),
        col("m.dist").cast("long").as("dist"))
    val rep = build.groupBy(col("b_text").as("match_text"), col("block"))
      .agg(min(col("b_id")).as("match_id"))
    val out = probe.select(col("p_id"), col("p_text"), col("block"))
      .join(best, Seq("p_text", "block"), "left")
      .join(rep, Seq("match_text", "block"), "left")
      .select(col("p_id"), col("match_id"), col("match_text"),
        col("dist"))
    (out, overCap)
  }
}
