package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4's Column↔Expression converters are `private[sql]`; this bridge
  * (placed under the sql package namespace) exposes just the calls the
  * graft engine needs to lift custom Catalyst expressions into Columns and
  * to re-plan over a cached relation. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Set-membership filter built DIRECTLY as Catalyst's `InSet` — ONE
    * expression node carrying the set — instead of `Column.isin`,
    * whose `In` holds one Literal CHILD per value: every
    * analyzer/optimizer pass walks all of them, measured at ~0.5 ms
    * per literal (a 80k-key probe made planning 25× slower than the
    * scan it was pruning). InSet is what OptimizeIn folds In into
    * anyway; building it up front keeps planning O(1) in the value
    * count, and the parquet pushdown translates InSet the same as In.
    * Values are converted to their INTERNAL forms (UTF8String for
    * strings) — InSet compares against internal row values; already-
    * internal values pass through. */
  def inSet(c: Column, values: Iterable[Any]): Column =
    if (values.isEmpty) org.apache.spark.sql.functions.lit(false)
    else column(org.apache.spark.sql.catalyst.expressions.InSet(
      expression(c),
      values.map {
        case s: String =>
          org.apache.spark.unsafe.types.UTF8String.fromString(s)
        case v => v
      }.toSet))

  /** The internal RDD behind a localCheckpoint'd DataFrame (its plan is a
    * LogicalRDD leaf). Iterative algorithms checkpoint every round to keep
    * plans constant-size; this handle lets them unpersist round r−1's
    * checkpoint blocks DETERMINISTICALLY once round r is materialized,
    * instead of waiting for the ContextCleaner's GC-driven reclaim. */
  def internalRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }

  /** The CacheManager entry (InMemoryRelation instance) backing `df`'s
    * plan, as an opaque identity key — None when the plan is not cached.
    * [[graft.ops.Stage]] memoizes one opaque leaf per entry so repeated
    * barriers over plan-equal inputs return plan-equal frames. */
  def cachedEntry(df: DataFrame): Option[AnyRef] = {
    val cs = df.sparkSession.asInstanceOf[
      org.apache.spark.sql.classic.SparkSession]
    cs.sharedState.cacheManager.lookupCachedData(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .map(_.cachedRepresentation)
  }

  /** Post-materialization size in bytes of a cache entry (from
    * [[cachedEntry]]) — the ACTUAL cached bytes, used to size-gate the
    * opaque-leaf truncation. */
  def entrySizeBytes(entry: AnyRef): BigInt =
    entry.asInstanceOf[
      org.apache.spark.sql.execution.columnar.InMemoryRelation]
      .computeStats().sizeInBytes

  /** An OPAQUE leaf frame over a materialized cache entry (from
    * [[cachedEntry]]): a LogicalRDD wrapping the cache scan's RDD.
    *
    * Why not hand out the InMemoryRelation itself: IMR prints its whole
    * cached plan as innerChildren, so COMPOSED staged pipelines render
    * exponentially (each stage's cached plan embeds the previous stages'
    * IMRs, which print theirs — the curation chain's description reached
    * ~200k lines), and AQE re-renders the description on EVERY stage
    * materialization — a driver-thread profile showed ~70% of the
    * chain's wall inside generateTreeString/nodeName. A LogicalRDD
    * prints as ONE line, carries the entry's post-materialization
    * statistics (actual cached bytes — so broadcast decisions keep
    * working), and preserves the cached plan's output partitioning and
    * ordering (LogicalRDD.fromDataset rewrites them onto the new
    * attributes), so partition-preserving consumers (components' edge
    * relation) keep their exchange-free rounds. The RDD reads THROUGH
    * the cache (no second copy); after an unpersist it recomputes from
    * the entry's child plan like any cache miss. */
  def opaqueLeafOver(entry: AnyRef, spark: org.apache.spark.sql
      .SparkSession): DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val imrFrame = org.apache.spark.sql.classic.Dataset.ofRows(cs,
      entry.asInstanceOf[
        org.apache.spark.sql.execution.columnar.InMemoryRelation])
    org.apache.spark.sql.classic.Dataset.ofRows(cs,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(
        imrFrame.queryExecution.toRdd, imrFrame, isStreaming = false))
  }

  /** True when `df` IS a materialized-leaf frame — an
    * [[opaqueLeafOver]] output or a frame rooted at an InMemoryRelation
    * (optionally under a name-restoring Project), or any checkpoint-style
    * LogicalRDD. Callers that branch on "is this input already staged?"
    * must accept these alongside a conventionally-cached frame
    * (storageLevel != NONE) — a leaf's plan
    * no longer matches the CacheManager entry, so `df.storageLevel`
    * reads NONE for it. */
  def isCachedLeaf(df: DataFrame): Boolean = {
    def leafish(p: org.apache.spark.sql.catalyst.plans.logical
        .LogicalPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        true
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _ => false
    }
    df.queryExecution.analyzed match {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        leafish(p.child)
      case other => leafish(other)
    }
  }
}
