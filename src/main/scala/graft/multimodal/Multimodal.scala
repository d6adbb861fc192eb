package graft.multimodal

import org.apache.spark.sql.Dataset

/** Multimodal column handling for training-data pipelines: image/audio/video
  * payloads as opaque `binary` columns with typed metadata, processed in
  * partition-sized batches.
  *
  * The Spark-side plumbing — schema, partitioning, batch shape, feature
  * vector contract — is real and tested. The actual codec calls are STUBBED
  * behind [[Decoders]] with deterministic fakes (this container ships no
  * image/audio libraries): swap in a real decoder (e.g. javax.imageio /
  * ffmpeg via a Process pool per partition) without touching the pipeline.
  *
  * Scale notes: decode runs in `mapPartitions`, so per-partition init (codec
  * contexts, native buffers) is amortized across the batch — the Scala
  * equivalent of `mapInPandas`'s arrow-batch contract. Binary payloads never
  * pass through a shuffle here; features (small, fixed-dim) do.
  */
object Multimodal {

  /** Typed metadata carried next to the opaque payload. */
  final case class MediaMeta(mediaType: String, sourceUri: String, sizeBytes: Long)
  final case class MediaRecord(media_id: Long, meta: MediaMeta, content: Array[Byte])
  final case class DecodedImage(media_id: Long, width: Int, height: Int,
                                channels: Int, features: Array[Float])

  /** The stub boundary: deterministic fakes derived from the payload bytes,
    * so every pipeline stage downstream is fully testable. Replace each
    * body with a real codec to go live. */
  object Decoders {
    /** REAL IMPLEMENTATION GOES HERE (javax.imageio / native codec).
      * Fake: dimensions derived from a stable byte hash. */
    def decodeImage(bytes: Array[Byte]): (Int, Int, Int) = {
      val h = stableHash(bytes)
      (64 + (h % 193).toInt, 64 + ((h >> 8) % 193).toInt, 3)
    }

    /** Fake feature extractor: `dim` floats from rolling byte hashes —
      * deterministic, unit-norm. Real impl: a vision embedding model. */
    def extractFeatures(bytes: Array[Byte], dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      var acc = 1125899906842597L
      var i = 0
      while (i < bytes.length) { acc = acc * 31 + bytes(i); i += 1
        out(i % dim) += (acc % 1000).toFloat / 1000f }
      val norm = math.sqrt(out.map(x => x * x.toDouble).sum).toFloat
      if (norm == 0f) out else out.map(_ / norm)
    }

    /** Non-negative by masking the sign bit — math.abs(Long.MinValue) is
      * Long.MinValue, which used to leak negative media ids / dimensions
      * on the one-in-2^64 payload whose rolling hash lands there. */
    def stableHash(bytes: Array[Byte]): Long = {
      var acc = 1125899906842597L
      var i = 0
      while (i < bytes.length) { acc = acc * 31 + bytes(i); i += 1 }
      acc & Long.MaxValue
    }
  }

  /** `content` may be null (media whose payload fetch failed but whose
    * metadata was kept): the decoder maps a null payload to empty bytes
    * instead of NPE-killing the stage for one bad record (zero features). */
  private def payload(r: MediaRecord): Array[Byte] =
    if (r.content == null) Array.emptyByteArray else r.content

  /** Decode + featurize in partition-sized batches. Output drops the payload
    * (features only cross the next shuffle). */
  def decodeImages(records: Dataset[MediaRecord], featureDim: Int = 64)
      : Dataset[DecodedImage] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      // per-partition codec init would go here (amortized like mapInPandas)
      it.map { r =>
        val bytes = payload(r)
        val (w, h, c) = Decoders.decodeImage(bytes)
        DecodedImage(r.media_id, w, h, c, Decoders.extractFeatures(bytes, featureDim))
      }
    }
  }
}
