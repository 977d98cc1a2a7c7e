package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.Dedup

class NativeFunctionsSpec extends SparkSpec {

  /** The declarative reference for [[Dedup.minhashSignatures]]: k
    * independent `min` aggregates of (aᵢ·h + bᵢ) mod P over the exploded
    * (doc, shingle) relation, from the same coefficients and modulus. */
  private def minhashByMinColumns(docs: DataFrame, n: Int = 2,
      k: Int = 64): DataFrame = {
    val base = docs.select(col("doc_id"),
        explode(Dedup.shingles(col("text"), n)).as("shingle"))
      .withColumn("h", GraftFunctions.polyHash(col("shingle")))
    val mins = Dedup.minhashCoeffs(k).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * a + b, lit(Dedup.P))).as(s"m$i")
    }
    base.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  test("native MinHashAgg equals the declarative 64-column form") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val declarative = minhashByMinColumns(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val native = Dedup.minhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native.keySet == declarative.keySet)
    native.foreach { case (id, sig) =>
      assert(sig == declarative(id), s"doc $id")
    }
  }

  test("capwords is callable from SQL once extensions are registered") {
    GraftExtensions.register(spark)
    val got = spark.sql("SELECT capwords('hello SPARK world') AS c")
      .head().getString(0)
    assert(got == "Hello Spark World")
  }

  test("poly_hash family is callable from SQL and matches the literal fold") {
    GraftExtensions.register(spark)
    val got = spark.sql(
      "SELECT poly_hash('ab'), poly_hash('ab', 37, 97), poly_hash2('ab')")
      .head()
    // fold: ((0*31+97)%P)*31+98 = 3105 ; base37 mod97: ((97%97)*37+98)%97=1
    assert(got.getLong(0) == 97L * 31 + 98)
    assert(got.getLong(1) == ((97L % 97) * 37 + 98) % 97)
    val a = 97L * 31 + 98
    val b = 97L * 37 + 98
    assert(got.getLong(2) == ((b << 31) | a))
  }

  test("polyHash codepoint iteration: astral chars count once (like DuckDB)") {
    import spark.implicits._
    // U+1F600 is a surrogate pair in UTF-16; the codepoint fold must take
    // it as ONE step, matching DuckDB's per-character string_split
    val got = Seq("😀").toDF("s")
      .select(graft.functions.GraftFunctions.polyHash(col("s")).as("h"))
      .head().getLong(0)
    assert(got == 0x1F600L % 2147483647L)
  }

  test("TopKAgg equals the rank-window form incl. ties and short groups") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // deterministic data with deliberate score ties across many groups;
    // group 7 has fewer rows than k
    val rows = for {
      g <- 0L until 8L
      i <- 0L until (if (g == 7) 2L else 50L)
    } yield (g, i, ((i * 31 + g) % 10).toDouble / 10.0)
    val df = rows.toDF("query_id", "neighbor_id", "sim")
      .repartition(8) // force partial buffers + merge path
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("sim"), col("neighbor_id"))
    val windowed = df
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("sim"), 6).as("sim_r"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSet
    val agg = graft.ops.Similarity.topKRank(df, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSet
    assert(agg == windowed)
  }

  test("TopKAgg ranks NaN scores first, matching the desc window order") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // a zero-norm embedding makes cosine NaN; Spark sorts NaN as the
    // LARGEST double, so the window puts it at rank 1 — the aggregate's
    // total-order compare must agree, not silently drop the entry
    val df = Seq(
      (0L, 1L, 0.5), (0L, 2L, Double.NaN), (0L, 3L, 0.9),
      (1L, 1L, Double.NaN), (1L, 2L, Double.NaN), (1L, 3L, 0.1))
      .toDF("query_id", "neighbor_id", "sim").repartition(3)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("sim"), col("neighbor_id"))
    val windowed = df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 2)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val agg = graft.ops.Similarity.topKRank(df, 2)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(agg == windowed)
    assert(agg.contains((0L, 2L, 1)) && agg.contains((1L, 1L, 1)))
  }

  test("vec_dot: NULL on length mismatch, same as the zip_with form") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0, 2.0), Seq(3.0, 4.0)),
      (Seq(1.0, 2.0, 9.0), Seq(3.0, 4.0)))
      .toDF("a", "b")
      .select(
        graft.functions.GraftFunctions.vecDot(col("a"), col("b")).as("d"),
        graft.ops.Similarity.dotHof(col("a"), col("b")).as("h"))
      .collect()
    assert(df(0).getDouble(0) == 11.0 && df(0).getDouble(1) == 11.0)
    assert(df(1).isNullAt(0) && df(1).isNullAt(1))
  }

  test("nfc_normalize composes decomposed sequences and is idempotent") {
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    // "e"+COMBINING ACUTE, "A"+COMBINING RING, precomposed pair, ASCII
    val rows = Seq("e\u0301", "A\u030A", "\u00E9\u00C5", "plain")
      .toDF("s")
      .select(graft.functions.GraftFunctions.nfcNormalize(col("s")).as("n"),
        length(col("s")).as("lr"), expr("nfc_normalize(s)").as("sqlN"))
      .collect()
    assert(rows(0).getString(0) == "\u00E9" && rows(0).getInt(1) == 2)
    assert(rows(1).getString(0) == "\u00C5")
    assert(rows(2).getString(0) == "\u00E9\u00C5") // already NFC: unchanged
    assert(rows(3).getString(0) == "plain")
    rows.foreach(r => assert(r.getString(0) == r.getString(2))) // SQL path
    // idempotence: NFC(NFC(x)) == NFC(x)
    val twice = Seq("e\u0301A\u030A").toDF("s").select(
      graft.functions.GraftFunctions.nfcNormalize(
        graft.functions.GraftFunctions.nfcNormalize(col("s"))).as("n"))
      .head().getString(0)
    assert(twice == "\u00E9\u00C5")
  }

  test("sorted_array_contains == array_contains on sorted random arrays") {
    import spark.implicits._
    // deterministic pseudo-random membership workload: 200 rows, each
    // with a sorted xxhash64-derived array and probes that hit / miss;
    // the binary probe must agree with the linear built-in everywhere,
    // including the empty array and Long.Min/Max boundary values
    val rows = spark.range(200).select(
      sort_array(array_distinct(concat(
        transform(sequence(lit(0), pmod(col("id"), lit(7)).cast("int")),
          i => xxhash64(col("id") * 31 + i)),
        array(lit(Long.MinValue), lit(Long.MaxValue))))).as("arr"),
      xxhash64(col("id") * 31).as("hit"),
      xxhash64(col("id") + 1000000).as("probeMiss"))
    val got = rows.select(
      graft.functions.GraftFunctions.sortedContains(col("arr"), col("hit"))
        .as("h1"),
      array_contains(col("arr"), col("hit")).as("h2"),
      graft.functions.GraftFunctions.sortedContains(col("arr"),
        col("probeMiss")).as("m1"),
      array_contains(col("arr"), col("probeMiss")).as("m2"),
      graft.functions.GraftFunctions.sortedContains(col("arr"),
        lit(Long.MinValue)).as("lo"),
      graft.functions.GraftFunctions.sortedContains(col("arr"),
        lit(Long.MaxValue)).as("hi"),
      // slice(arr, 1, 0) keeps arr's non-null element type — a bare
      // cast("array<long>") types containsNull=true and (correctly)
      // fails the expression's analysis check
      graft.functions.GraftFunctions.sortedContains(
        slice(col("arr"), 1, 0), col("hit")).as("emp"))
      .collect()
    got.foreach { r =>
      assert(r.getBoolean(0) == r.getBoolean(1), "hit probe diverged")
      assert(r.getBoolean(2) == r.getBoolean(3), "miss probe diverged")
      assert(r.getBoolean(4) && r.getBoolean(5), "boundary probes")
      assert(!r.getBoolean(6), "empty array must be a miss")
    }
  }

  test("sorted_array_contains rejects wrong input types at analysis") {
    // ADVICE r16: a non-ARRAY<LONG NOT NULL> left child used to compile
    // and silently return wrong membership (getLong misreads other
    // element widths); both misuses must now fail analysis, not run
    val df = spark.range(3).select(
      array(col("id").cast("int")).as("ints"),
      array(when(col("id") > 0, col("id"))).as("nullable"),
      col("id"))
    for (bad <- Seq("ints", "nullable")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        df.select(graft.functions.GraftFunctions.sortedContains(
          col(bad), col("id"))).collect()
      }
      assert(e.getMessage.contains("sorted_array_contains"), bad)
    }
  }
}
