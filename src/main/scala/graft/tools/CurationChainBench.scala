package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end measurement of [[graft.ops.Curation.curationChain]] — the
  * composed quality-gate → digest-dedup → near-dup-canonical →
  * decontaminate → leakage-safe-split → temperature-mix → pack →
  * manifest DAG — at a given scale dir, with a per-stage row/time table
  * (each stage timed by materializing its count cumulatively: stage N's
  * time includes its upstream, so the table shows where the chain's
  * cost accumulates; the headline is the ONE-DAG end-to-end wall time).
  *
  * The eval set is the driver's `documents` sampled 1-in-50 by id hash —
  * a benchmark-sized contamination source, as in q_decontaminate.
  *
  * Usage: CurationChainBench [sfDir] (default target/sf1)
  */
object CurationChainBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/target/sf1")
    val spark = graft.Tables.session("graft-curation-chain-bench")
    import graft.ops._

    val docs = graft.Tables(spark, sfDir).documents
      .select(col("doc_id"), col("source"), col("text"))
    val evalDocs = docs.filter(
      pmod(graft.functions.GraftFunctions.polyHash(
        col("doc_id").cast("string")), lit(50L)) === 0L)
      .select(col("doc_id"), col("text"))

    // headline: the whole chain as ONE DAG, cold then steady
    def runChain(): Long = {
      val n = Curation.curationChain(docs, evalDocs,
        targetRows = 100000L).count()
      Stage.releaseAll(spark)
      n
    }
    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val (tCold, nOut) = time(runChain())
    val (tWarm, _) = time(runChain())

    // per-stage cumulative table (stage N's count includes upstream)
    val stages = scala.collection.mutable.ArrayBuffer.empty[String]
    def stage(name: String)(df: => DataFrame): DataFrame = {
      // bind ONCE, inside the timer: returning the by-name `df` would
      // re-evaluate it — for Stage.barrier stages that re-runs the
      // whole eager staging untimed (and binding OUTSIDE the timer
      // would exclude the eager staging from the timed number)
      var d: DataFrame = null
      val (t, n) = time { d = df; d.count() }
      stages += s"""{"stage":"$name","rows":$n,"cum_sec":$t}"""
      d
    }
    val gated = stage("gate")(TextAnalysis.gopherRules(docs, 20L, 100000L,
        "text", carry = Seq("source", "text"))
      .filter(col("gopher_pass"))
      .select(col("doc_id"), col("source"), col("text")))
    val deduped = stage("digest_dedup")(Dedup.firstPerDigest(
        gated.withColumn("_dig", sha2(lower(col("text")), 256)))
      .select(col("doc_id"), col("source"), col("text")))
    val cmap = stage("cluster_map")(
      Stage.barrier(Dedup.simhashCanonical(deduped)))
    val canonical = stage("canonical_collapse")(deduped.join(
      cmap.filter(col("doc_id") === col("canonical_id"))
        .select(col("doc_id")), Seq("doc_id"), "left_semi"))
    val decon = stage("decontaminate")(
      Dedup.decontaminateSegments(canonical, evalDocs, 8)
        .select(col("doc_id"), col("clean_text").as("text"))
        .join(canonical.select(col("doc_id"), col("source")),
          Seq("doc_id")))
    val train = stage("leakage_safe_split")(decon.join(
      Sampling.leakageSafeSplitsFrom(cmap)
        .filter(col("split") === "train").select(col("doc_id")),
      Seq("doc_id"), "left_semi"))
    val mixed = stage("temperature_mix")(Stage.barrier(
      Sampling.temperatureMix(train, "source", "doc_id", 0.5, 100000L)))
    stage("pack")(Packing.packSequences(mixed, 2048L, 32))
    stage("manifest")(TextAnalysis.manifest(mixed, "source"))
    Stage.releaseAll(spark)

    println(s"""{"metric":"curation_chain","sf":"$sfDir",""" +
      s""""one_dag_cold_sec":$tCold,"one_dag_warm_sec":$tWarm,""" +
      s""""out_rows":$nOut,"stages":[${stages.mkString(",")}]}""")
    spark.stop()
  }
}
