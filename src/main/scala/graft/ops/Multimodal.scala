package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: images / audio / video ride through the
  * engine as opaque `binary` columns with typed metadata, processed in
  * batched per-partition passes.
  *
  * The actual codec step is STUBBED (no image/audio libraries in this
  * environment): [[histStub]] derives a deterministic fake feature
  * histogram from the bytes. Everything AROUND the stub is real and
  * load-bearing — schema, partition-batched execution, feature/frame
  * shapes — so swapping
  * in a real decoder (JNI codec or `mapInPandas`+PIL on a PySpark edge) is
  * a one-function change.
  */
object Multimodal {

  case class Media(media_id: Long, kind: String, bytes: Array[Byte],
      width: Int, height: Int)
  case class MediaHist(media_id: Long, kind: String, n_bytes: Int,
      hist: Array[Long])
  case class Frame(media_id: Long, frame_no: Int, offset: Int,
      frame_bytes: Array[Byte])

  /** Synthesize a media table from the documents corpus: UTF-8 bytes as
    * the payload, metadata derived deterministically. Stands in for
    * `spark.read.format("binaryFile")` over an object store. */
  def mediaFromDocuments(docs: DataFrame): Dataset[Media] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // pmod, not %: a negative media id under % yields index 0 (a runtime
    // INVALID_ARRAY_INDEX under ANSI) or a negative element_at that
    // silently selects from the array's END. NULL text carries a ZERO-
    // byte payload (coalesce) — the per-partition decode stubs index
    // bytes.length and would NPE on a null array, killing a 100 TB pass
    // on one bad row instead of processing it as empty media.
    docs.select(
        col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
        coalesce(encode(col("text"), "UTF-8"), lit(Array.emptyByteArray))
          .as("bytes"),
        (pmod(col("doc_id"), lit(640)) + 1).cast("int").as("width"),
        (pmod(col("doc_id"), lit(480)) + 1).cast("int").as("height"))
      .as[Media]
  }

  /** STUB decoder, integer stage: weighted byte histogram — slot
    * (b[i] + i) mod dim accumulates b[i]. Exact integer output, so it is
    * restated verbatim in DuckDB list SQL (the q_media_features oracle). */
  def histStub(bytes: Array[Byte], dim: Int): Array[Long] = {
    val acc = new Array[Long](dim)
    var i = 0
    while (i < bytes.length) {
      // (b + i % dim) % dim ≡ (b + i) % dim, but overflow-free: at
      // payloads within 255 bytes of Int.MaxValue the unreduced sum
      // wraps negative and indexes out of bounds
      acc(((bytes(i) & 0xff) + i % dim) % dim) += (bytes(i) & 0xff).toLong
      i += 1
    }
    acc
  }

  /** Feature extraction as a batched per-partition pass — the Scala
    * equivalent of a pandas-batched UDF: one JVM-side loop per partition,
    * no per-row closure dispatch on the hot path, output schema fixed.
    * It stops at the integer histogram, the cross-engine-verified
    * surface: float features (hist / n_bytes) can't hash-compare across
    * engines (JDK 17 Float.toString and DuckDB's shortest-round-trip
    * formatter disagree on some values), so the oracle checks the exact
    * integer accumulator; MultimodalSpec derives the floats from it. */
  def extractHistograms(media: Dataset[Media], dim: Int = 16):
      Dataset[MediaHist] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { m =>
        MediaHist(m.media_id, m.kind, m.bytes.length,
          histStub(m.bytes, dim))
      }
    }
  }

  case class MediaSig(media_id: Long, sig: Long)

  /** Perceptual-hash-style 62-bit media signature (the aHash construction
    * over the stub decode): slot j of the 62-slot weighted byte histogram
    * sets bit j iff its mass exceeds the mean (hist(j)·62 > Σhist —
    * integer-exact). 62 bits so the signature stays positive int64 on
    * every engine (the same reason SimHash uses 62 lanes). A re-encoded /
    * lightly-edited payload moves a few slots across the threshold →
    * small hamming distance; pair finding reuses the generic chunk-pair
    * blocking ([[graft.ops.Dedup.hammingNearDupPairs]]) — the image-dedup
    * pass of a multimodal corpus, on the same machinery as text. */
  def mediaSignatures(media: Dataset[Media]): Dataset[MediaSig] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { m =>
        val h = histStub(m.bytes, 62)
        val total = h.sum
        var sig = 0L
        var j = 0
        while (j < 62) {
          if (h(j) * 62 > total) sig |= (1L << j)
          j += 1
        }
        MediaSig(m.media_id, sig)
      }
    }
  }

  case class FrameHist(media_id: Long, frame_no: Int, hist: Array[Long])

  /** Per-frame integer feature histograms — the video path's analog of
    * [[extractHistograms]]: each sampled frame's byte window runs through
    * the same batched stub decode, so a real frame decoder drops into the
    * identical (media, frame_no) → features shape. */
  def frameHistograms(frames: Dataset[Frame], dim: Int = 16):
      Dataset[FrameHist] = {
    val spark = frames.sparkSession
    import spark.implicits._
    frames.mapPartitions { rows =>
      rows.map(f => FrameHist(f.media_id, f.frame_no,
        histStub(f.frame_bytes, dim)))
    }
  }

  /** Frame sampling for video-kind rows: every `stride`-th fixed-size
    * window of the payload becomes a frame row (offset metadata kept so a
    * real decoder can seek). One row in → few rows out, per partition. */
  def sampleFrames(media: Dataset[Media], frameSize: Int = 64,
      stride: Int = 256): Dataset[Frame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "video").flatMap { m =>
      Iterator.range(0, math.max(m.bytes.length - frameSize + 1, 1), stride)
        .zipWithIndex.map { case (off, no) =>
          Frame(m.media_id, no, off,
            m.bytes.slice(off, math.min(off + frameSize, m.bytes.length)))
        }
    }
  }
}
