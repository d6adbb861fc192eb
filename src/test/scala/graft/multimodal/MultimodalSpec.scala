package graft.multimodal

import graft.SparkSpec
import graft.multimodal.Multimodal._

class MultimodalSpec extends SparkSpec {

  /** Binary payloads synthesized deterministically from document text. */
  private lazy val media = {
    import spark.implicits._
    graft.core.Tables.load(spark, sf, "documents")
      .limit(20).collect().toSeq
      .map { r =>
        val bytes = r.getAs[String]("text").getBytes("UTF-8")
        MediaRecord(r.getAs[Long]("doc_id"),
          MediaMeta("image/fake", s"mem://doc/${r.getAs[Long]("doc_id")}", bytes.length),
          bytes)
      }.toDS()
  }

  test("decodeImages: batch shape, schema, and determinism") {
    val out1 = rows(decodeImages(media, featureDim = 16).toDF())
    val out2 = rows(decodeImages(media, featureDim = 16).toDF())
    assert(out1.length == 20)
    val r = out1.head
    assert(r.getAs[Int]("width") >= 64 && r.getAs[Int]("channels") == 3)
    assert(r.getSeq[Float](r.fieldIndex("features")).length == 16)
    // deterministic across runs and partitionings
    assert(out1.map(_.toString).sorted == out2.map(_.toString).sorted)
  }

  test("feature vectors are unit-norm (contract for cosine ANN downstream)") {
    val feats = rows(decodeImages(media, featureDim = 16).toDF())
      .map((r => r.getSeq[Float](r.fieldIndex("features"))))
    feats.foreach { f =>
      val norm = math.sqrt(f.map(x => x * x.toDouble).sum)
      assert(math.abs(norm - 1.0) < 1e-4, s"norm was $norm")
    }
  }

  test("null payloads (mediaSchema allows them) decode as empty, never NPE") {
    import spark.implicits._
    val withNull = media.collect().toSeq.take(2)
      .map(r => r.copy(content = if (r.media_id % 2 == 0) null else r.content))
      .toDS()
    val decoded = rows(decodeImages(withNull, featureDim = 8).toDF())
    assert(decoded.length == 2) // no task death on the null-payload row
  }

  test("stableHash is always non-negative (media ids, fake dimensions)") {
    // math.abs(Long.MinValue) is Long.MinValue; the sign-bit mask is not.
    // Drive the raw rolling hash through a spread of payloads.
    (0 until 64).foreach { i =>
      val bytes = Array.fill[Byte](i * 7 + 1)((i * 31 + 5).toByte)
      assert(Multimodal.Decoders.stableHash(bytes) >= 0L)
    }
  }

  test("media schema matches the declared contract") {
    assert(media.toDF().schema("content").dataType.typeName == "binary")
    assert(media.toDF().schema("meta").dataType.typeName == "struct")
  }
}
