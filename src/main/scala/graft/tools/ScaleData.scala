package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up generator for bench runs beyond the driver-provided scale
  * factors: replicate a testdata directory `factor`× into `outDir`,
  * preserving the join structure and per-row work profile while avoiding
  * the two artifacts that would make a naive union useless for scaling
  * measurements:
  *
  *  - **Key collisions.** Every copy's keys are offset by
  *    copy × (max(key) + 1) per key domain, so each copy is a
  *    self-contained star: joins match within a copy exactly as they do
  *    at the source scale, and group counts grow linearly. The small
  *    dimension tables (region, nation) are shared, as real deployments
  *    share them.
  *  - **Cross-copy duplicate families.** Verbatim text copies would make
  *    every document a 10-way exact+near duplicate, turning the LSH
  *    verification stage quadratic BY CONSTRUCTION (45 pairs per doc at
  *    ×10) and drowning the scaling signal of the plan under a workload
  *    the source data doesn't have. Instead each copy's text goes
  *    through a per-copy consonant substitution (stopwords untouched, so
  *    quality-gate pass rates stay comparable) and each copy's
  *    embeddings get a per-copy dimension ROTATION (cosine to the source
  *    vector ≈ random for isotropic data; norms, distributions, and
  *    per-row cost identical).
  *
  * Usage: ScaleData <srcDir> <outDir> <factor>
  */
object ScaleData {

  /** Letters absent from the gopher stopwords (`the a of to in`) — the
    * substitution alphabets each copy rotates within. TWO independent
    * cycles (13 × 5 letters) so the combined transform has period 65:
    * a single 13-letter rotation repeats at factor > 13 (copy 13 would
    * be the identity and silently reintroduce the cross-copy duplicate
    * families this generator exists to prevent). */
  private val Rot = "bcdgjkmpqvwxz"
  private val Rot2 = "lrsuy"

  require(Rot.toSet.intersect(Rot2.toSet).isEmpty)

  private def rotatedBy(alpha: String, k: Int): String =
    alpha.substring(k % alpha.length) + alpha.substring(0, k % alpha.length)

  /** The combined substitution alphabets for copy `i` (identity only at
    * i ≡ 0 (mod 65)). */
  private def substitution(i: Int): (String, String) =
    (Rot + Rot2, rotatedBy(Rot, i % Rot.length) +
      rotatedBy(Rot2, (i / Rot.length) % Rot2.length))

  def main(args: Array[String]): Unit = {
    val (src, out, factorS) = args match {
      case Array(a, b, c) => (a, b, c)
      case _ =>
        System.err.println("usage: ScaleData <srcDir> <outDir> <factor>")
        sys.exit(2)
    }
    val factor = factorS.toInt
    // validate BEFORE any write: an oversized factor must abort up front,
    // not mid-run with a half-written, inconsistent outDir
    require(factor <= 64,
      "per-copy transforms are injective only up to 64 copies " +
        "(65 for text, 64 for the embedding dim rotation)")
    // Tables.configure supplies nanosAsLong: events.ts has shipped as
    // TIMESTAMP(NANOS) in some generations; the copied column
    // round-trips bit-identically either way
    val spark = graft.Tables.session("graft-scale-data")

    def table(n: String): DataFrame = spark.read.parquet(s"$src/$n.parquet")
    def write(df: DataFrame, n: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$n.parquet")

    // one tiny driver action per key domain — generator setup, not a query
    // cast inside: a testdata generation that ships a key as INT32 would
    // otherwise make getLong throw at the first span probe
    def keySpan(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).head().getLong(0) + 1L

    val custSpan = keySpan(table("customer"), "c_custkey")
    val suppSpan = keySpan(table("supplier"), "s_suppkey")
    val partSpan = keySpan(table("part"), "p_partkey")
    val orderSpan = keySpan(table("orders"), "o_orderkey")
    val eventSpan = keySpan(table("events").selectExpr(
      "CAST(event_id AS LONG) AS event_id"), "event_id")
    val userSpan = keySpan(table("events").selectExpr(
      "CAST(user_id AS LONG) AS user_id"), "user_id")
    val docSpan = keySpan(table("documents"), "doc_id")
    val vecSpan = keySpan(table("embeddings"), "vec_id")

    /** `factor` copies of `df`, each transformed by `f(df, copy)`. */
    def copies(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => f(df, i)).reduce(_ unionByName _)

    def off(c: String, span: Long, i: Int) =
      (col(c) + lit(span * i)).as(c)

    // shared dimensions — every copy references the same 5/25 rows
    write(table("region"), "region")
    write(table("nation"), "nation")

    write(copies(table("customer")) { (d, i) =>
      d.withColumn("c_custkey", off("c_custkey", custSpan, i))
    }, "customer")
    write(copies(table("supplier")) { (d, i) =>
      d.withColumn("s_suppkey", off("s_suppkey", suppSpan, i))
    }, "supplier")
    write(copies(table("part")) { (d, i) =>
      d.withColumn("p_partkey", off("p_partkey", partSpan, i))
    }, "part")
    write(copies(table("orders")) { (d, i) =>
      d.withColumn("o_orderkey", off("o_orderkey", orderSpan, i))
        .withColumn("o_custkey", off("o_custkey", custSpan, i))
    }, "orders")
    write(copies(table("lineitem")) { (d, i) =>
      d.withColumn("l_orderkey", off("l_orderkey", orderSpan, i))
        .withColumn("l_partkey", off("l_partkey", partSpan, i))
        .withColumn("l_suppkey", off("l_suppkey", suppSpan, i))
    }, "lineitem")
    // ts kept: factor× the events in the same time range (denser stream),
    // the shape a larger deployment actually has
    write(copies(table("events")) { (d, i) =>
      d.withColumn("event_id", (col("event_id") + lit(eventSpan * i))
          .as("event_id"))
        .withColumn("user_id", (col("user_id") + lit(userSpan * i))
          .as("user_id"))
    }, "events")
    write(copies(table("documents")) { (d, i) =>
      val (from, to) = substitution(i)
      d.withColumn("doc_id", off("doc_id", docSpan, i))
        .withColumn("text",
          if (i == 0) col("text")
          else translate(col("text"), from, to))
    }, "documents")
    write(copies(table("embeddings")) { (d, i) =>
      // offsets i·7 mod 64 are pairwise distinct for i < 64 (gcd(7,64)=1)
      val offDim = (i * 7) % 64
      d.withColumn("vec_id", off("vec_id", vecSpan, i))
        .withColumn("embedding",
          if (offDim == 0) col("embedding")
          else expr(s"transform(embedding, (x, j) -> " +
            s"embedding[(j + $offDim) % 64])"))
    }, "embeddings")

    println(s"scaled $src -> $out x$factor")
    spark.stop()
  }
}
