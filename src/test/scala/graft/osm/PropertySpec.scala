package graft.osm

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.functions.GraftFunctions.capwords

/** Property-based checks (SURVEY.md §5): generators build a sample batch,
  * one Spark pass evaluates the property column-wise (per-sample Spark
  * jobs would be prohibitively slow). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)))

  val phoneishGen: Gen[String] = for {
    segs <- Gen.chooseNum(1, 3)
    parts <- Gen.listOfN(segs, for {
      cc <- Gen.oneOf("", "852", "+852 ", "(852)", "86", "+86", "0755",
        "＋852")
      digits <- Gen.chooseNum(4, 12)
      ds <- Gen.listOfN(digits, Gen.numChar)
      sep <- Gen.oneOf("", " ", "-", "  ")
    } yield s"$cc$sep${ds.mkString}")
    joiner <- Gen.oneOf(",", ";", ", ")
  } yield parts.mkString(joiner)

  test("phone canonicalization is idempotent on arbitrary phone-ish input") {
    val xs = samples(phoneishGen, 300)
    val bad = xs.toDF("v")
      .select(col("v"), PhoneFix.fixPhoneValue(col("v")).as("once"))
      .select(col("v"), col("once"),
        PhoneFix.fixPhoneValue(col("once")).as("twice"))
      .filter(col("once") =!= col("twice"))
      .collect()
    assert(bad.isEmpty, bad.take(5).mkString("; "))
  }

  test("phone canonicalization output shape: canonical or unchanged") {
    val xs = samples(phoneishGen, 300)
    val rows = xs.toDF("v")
      .select(col("v"), PhoneFix.fixPhoneValue(col("v")).as("out"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val canonical =
      "(\\+852 \\d{8}|\\+86 1[3-9]\\d{9}|\\+86 755 \\d{6,8})(;(\\+852 \\d{8}|\\+86 1[3-9]\\d{9}|\\+86 755 \\d{6,8}))*".r
    rows.foreach { case (in, out) =>
      assert(out == in || canonical.matches(out), s"<$in> → <$out>")
    }
  }

  val keyGen: Gen[String] = for {
    nParts <- Gen.chooseNum(1, 3)
    parts <- Gen.listOfN(nParts,
      Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString))
  } yield parts.mkString(":")

  test("tag-key split: type:key reassembles to the original key") {
    val xs = samples(keyGen, 300).distinct
    val shaped = xs.zipWithIndex
      .map { case (k, i) => (i.toLong, k, s"v$i") }
      .toDF("doc_id", "k", "value")
    // reuse the ingest split expressions through a synthetic tag relation
    val hasColon = col("k").contains(":")
    val out = shaped.select(col("k"),
        when(hasColon, regexp_extract(col("k"), "^(.*?):(.*)$", 1))
          .otherwise("regular").as("t"),
        when(hasColon, regexp_extract(col("k"), "^(.*?):(.*)$", 2))
          .otherwise(col("k")).as("key"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    out.foreach { case (k, t, key) =>
      if (k.contains(":")) assert(s"$t:$key" == k, s"<$k>")
      else assert(t == "regular" && key == k, s"<$k>")
      assert(!key.startsWith(":"), s"<$k>")
    }
  }

  val wordsGen: Gen[String] = for {
    n <- Gen.chooseNum(1, 6)
    ws <- Gen.listOfN(n, Gen.nonEmptyListOf(
      Gen.frequency(5 -> Gen.alphaChar, 1 -> Gen.oneOf('\'', '-', '0', '9'))
    ).map(_.mkString))
    seps <- Gen.listOfN(n, Gen.oneOf(" ", "  ", "\t", " "))
  } yield ws.zip(seps).map { case (w, s) => w + s }.mkString.trim

  test("capwords is idempotent and produces single-spaced capitalized words") {
    val xs = samples(wordsGen, 300).filter(_.nonEmpty)
    val rows = xs.toDF("v")
      .select(col("v"), capwords(col("v")).as("once"))
      .select(col("v"), col("once"), capwords(col("once")).as("twice"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    rows.foreach { case (in, once, twice) =>
      assert(once == twice, s"not idempotent: <$in>")
      assert(!once.contains("  ") && once == once.trim, s"spacing: <$once>")
      once.split(" ").filter(_.nonEmpty).foreach { w =>
        assert(!w.charAt(0).isLower, s"word <$w> of <$once>")
        assert(w.drop(1).forall(c => !c.isUpper), s"word <$w> of <$once>")
      }
    }
  }

  test("official list invariant: names unique per language after cleaning") {
    val official = OfficialList.load(spark, OsmInputs.official).cache()
    val n = official.count()
    assert(official.select("eng").distinct().count() == n)
    assert(official.select("chi").distinct().count() == n)
  }
}
