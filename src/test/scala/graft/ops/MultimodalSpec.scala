package graft.ops

import org.apache.spark.sql.Dataset

import graft.SparkSpec
import graft.Tables

class MultimodalSpec extends SparkSpec {

  lazy val media = Multimodal.mediaFromDocuments(
    Tables(spark, sf).documents)

  /** The float feature stage a real decoder would produce: each media's
    * [[Multimodal.histStub]] normalized by its byte count, in the same
    * batched per-partition shape as [[Multimodal.extractHistograms]]. */
  private def extractFeatures(media: Dataset[Multimodal.Media],
      dim: Int = 16): Dataset[(Long, Int, Array[Float])] = {
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      val n = math.max(m.bytes.length, 1)
      (m.media_id, m.bytes.length,
        Multimodal.histStub(m.bytes, dim).map(v => v.toFloat / n))
    })
  }

  test("media table: opaque binary payload + typed metadata") {
    val rows = media.collect()
    assert(rows.nonEmpty)
    rows.foreach { m =>
      assert(Set("image", "audio", "video")(m.kind))
      assert(m.bytes.nonEmpty && m.width >= 1 && m.height >= 1)
    }
  }

  test("media edges: NULL text is a zero-byte payload; negative ids map") {
    import spark.implicits._
    val docs = Seq((-1L, "neg id"), (-2L, null: String), (7L, "ok"))
      .toDF("doc_id", "text")
    val m = Multimodal.mediaFromDocuments(docs)
    val rows = m.collect().map(r => r.media_id -> r).toMap
    // pmod keeps kind/width/height valid for negative ids (a bare % gave
    // index 0 — an ANSI error — or silently selected from the array end)
    rows.values.foreach { r =>
      assert(Set("image", "audio", "video")(r.kind))
      assert(r.width >= 1 && r.height >= 1)
      assert(r.bytes != null, s"media ${r.media_id} carries null bytes")
    }
    assert(rows(-2L).bytes.isEmpty, "NULL text must be a zero-byte payload")
    // every downstream per-partition pass handles the zero-byte payload
    assert(extractFeatures(m).count() == 3)
    assert(Multimodal.extractHistograms(m).count() == 3)
  }

  test("feature extraction: fixed dim, deterministic, partition-batched") {
    val f1 = extractFeatures(media, dim = 16).collect()
      .map(f => f._1 -> f._3.toSeq).toMap
    val f2 = extractFeatures(media.repartition(7), dim = 16)
      .collect().map(f => f._1 -> f._3.toSeq).toMap
    assert(f1 == f2) // partitioning-invariant
    assert(f1.values.forall(_.length == 16))
  }

  test("histograms: integer stage of the decode stub, floats derive from it") {
    val hists = Multimodal.extractHistograms(media, dim = 16).collect()
      .map(h => h.media_id -> h).toMap
    val feats = extractFeatures(media, dim = 16).collect()
    assert(feats.nonEmpty)
    feats.foreach { case (id, nBytes, features) =>
      val h = hists(id)
      assert(h.hist.length == 16 && h.n_bytes == nBytes)
      val n = math.max(h.n_bytes, 1)
      assert(features.toSeq == h.hist.toSeq.map(_.toFloat / n))
    }
    // partitioning-invariant like the float path
    val h2 = Multimodal.extractHistograms(media.repartition(7), dim = 16)
      .collect().map(h => h.media_id -> h.hist.toSeq).toMap
    assert(h2 == hists.map { case (k, v) => k -> v.hist.toSeq })
  }

  test("frame sampling: video rows only, offsets strided") {
    val frames = Multimodal.sampleFrames(media, frameSize = 64, stride = 256)
      .collect()
    assert(frames.nonEmpty)
    val byMedia = frames.groupBy(_.media_id)
    byMedia.values.foreach { fs =>
      val sorted = fs.sortBy(_.frame_no)
      sorted.zipWithIndex.foreach { case (f, i) =>
        assert(f.frame_no == i && f.offset == i * 256)
        assert(f.frame_bytes.length <= 64)
      }
    }
    val videoIds = media.filter(_.kind == "video").collect()
      .map(_.media_id).toSet
    assert(byMedia.keySet.subsetOf(videoIds))
  }

  test("media signatures: 62-bit, deterministic, edit-tolerant") {
    val sigs = Multimodal.mediaSignatures(media).collect()
      .map(s => s.media_id -> s.sig).toMap
    assert(sigs.values.forall(s => s >= 0L && s < (1L << 62)))
    // partitioning-invariant
    val sigs2 = Multimodal.mediaSignatures(media.repartition(7)).collect()
      .map(s => s.media_id -> s.sig).toMap
    assert(sigs == sigs2)
    // a one-byte append moves few slots across the threshold
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sf).documents.limit(50)
    val docIds = docs.select("doc_id").collect().map(_.getLong(0))
    val mutated = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit("z")).as("text"))
    val sigDs = Multimodal.mediaSignatures(
      Multimodal.mediaFromDocuments(docs.select("doc_id", "text")
        .union(mutated)))
    val both = sigDs.collect().map(s => s.media_id -> s.sig).toMap
    val hamById = docIds.flatMap { id =>
      for {
        a <- both.get(id); b <- both.get(id + 1000000L)
      } yield id -> java.lang.Long.bitCount(a ^ b)
    }
    assert(hamById.nonEmpty)
    // most mutant pairs stay within the hamming-6 budget the blocking
    // guarantees recall for
    val within = hamById.filter(_._2 <= 6)
    assert(within.length * 10 >= hamById.length * 8,
      s"only ${within.length}/${hamById.length} pairs within budget")
    // and the pair finder recovers them through the generic blocking
    val pairs = Dedup.hammingNearDupPairs(sigDs.toDF(),
        maxHamming = 6, idCol = "media_id", sigCol = "sig")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = within.map { case (id, _) => (id, id + 1000000L) }.toSet
    assert(expected.subsetOf(pairs),
      s"missing ${(expected -- pairs).take(5)}")
  }
}
