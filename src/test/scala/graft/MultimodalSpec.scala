package graft

import graft.multimodal.Multimodal
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("media records: binary payload schema + deterministic stub decode") {
    val docs = DerivedModel.table(spark, dir, "documents")
    val records = Multimodal.toMediaRecords(docs)
    assert(records.schema("payload").dataType.typeName == "binary")

    val feats = Multimodal.decodeFeatures(records).collect()
    assert(feats.length == docs.count())
    val expected = docs.selectExpr("doc_id", "CAST(length(text) AS BIGINT) AS n").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    feats.foreach { f =>
      assert(f.byte_len == expected(f.doc_id), "byte_len = utf8 length (ascii corpus)")
      assert(f.width == 320 + (f.byte_len % 16) * 8)
      assert(f.height == 240 + (f.byte_len % 9) * 8)
      assert(f.channels == 1 + f.doc_id % 3)
    }
  }

  test("real png/jpeg/wav payloads decode to planted features") {
    val docs = DerivedModel.table(spark, dir, "documents")
    val records = Multimodal.syntheticMedia(docs)
    // the image payloads are real encoded images, not text bytes
    val sample = records.filter(_.format != "wav").take(5)
    assert(sample.nonEmpty)
    sample.foreach { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.payload))
      assert(img != null, s"doc ${r.doc_id}: payload must be a real image")
    }
    // the wav payloads carry a real RIFF/WAVE header
    val wavs = records.filter(_.format == "wav").take(3)
    assert(wavs.nonEmpty)
    wavs.foreach { r =>
      assert(new String(r.payload.take(4), "US-ASCII") == "RIFF",
        s"doc ${r.doc_id}: payload must be a real WAVE file")
    }
    val feats = Multimodal.decodeFeatures(records).collect()
    assert(feats.length == docs.count())
    feats.foreach { f =>
      if (f.doc_id % 3 != 2) {
        assert(f.width == Multimodal.plantedWidth(f.doc_id),
          s"doc ${f.doc_id}: decoded width")
        assert(f.height == Multimodal.plantedHeight(f.doc_id),
          s"doc ${f.doc_id}: decoded height")
        assert(f.channels == 3)
      } else {
        assert(f.width == Multimodal.plantedFrames(f.doc_id),
          s"doc ${f.doc_id}: decoded frame count")
        assert(f.height == Multimodal.PlantedSampleRate)
        assert(f.channels == Multimodal.plantedChannels(f.doc_id))
      }
    }
  }

  test("codec rejects an undecodable payload tagged as wav") {
    val decode = Multimodal.Codec.open()
    val e = intercept[IllegalArgumentException] {
      decode(graft.multimodal.MediaRecord(7L, "not audio".getBytes, "wav"))
    }
    assert(e.getMessage.contains("7"))
  }

  test("codec rejects an undecodable payload tagged as an image") {
    val bad = Multimodal.Codec.open()
    val e = intercept[IllegalArgumentException] {
      bad(graft.multimodal.MediaRecord(42L, "not a png".getBytes, "png"))
    }
    assert(e.getMessage.contains("42"))
  }

  test("resize preserves aspect ratio, never upscales") {
    val docs = DerivedModel.table(spark, dir, "documents")
    val resized = Multimodal.resizeMeta(
      Multimodal.decodeFeatures(Multimodal.toMediaRecords(docs)), maxDim = 256)
      .collect()
    resized.foreach { r =>
      val (w, h) = (r.getAs[Int]("width"), r.getAs[Int]("height"))
      val (ow, oh) = (r.getAs[Int]("out_width"), r.getAs[Int]("out_height"))
      assert(math.max(ow, oh) <= 256)
      assert(ow <= w && oh <= h, "never upscale")
      // aspect ratio preserved within rounding
      assert(math.abs(ow.toDouble / oh - w.toDouble / h) < 0.05)
    }
  }

  test("payload content hash equals the text SimHash for text-bytes payloads") {
    val docs = DerivedModel.table(spark, "/root/testdata/sf0.001", "documents")
    val viaPayload = graft.multimodal.Multimodal.contentHash64(
      graft.multimodal.Multimodal.toMediaRecords(docs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaText = graft.dedup.Dedup.simhash64(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaPayload == viaText,
      "binary payload round-trips to the same content hash")
  }

  test("mixedHash64 over mixedMediaRecords equals the gate's direct slice form") {
    // the x_multimodal_near_dup gate hashes the format slices directly
    // (avoids generating every png twice, one per union branch); this
    // pins that shortcut to the generic routed form
    import graft.multimodal.Multimodal
    val docs = DerivedModel.table(spark, "/root/testdata/sf0.001", "documents")
    val routed = Multimodal.mixedHash64(
      Multimodal.mixedMediaRecords(docs).persist())
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = Multimodal.perceptualHash64(
      Multimodal.syntheticImagesWithTwins(docs))
      .unionByName(Multimodal.contentHash64(Multimodal.toMediaRecords(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") % 3 =!= 1))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(routed == direct)
    assert(routed.nonEmpty)
  }

  test("aHash through the real png codec equals the planted-pixel replay") {
    // decode-free replay of aHash64 from the planted arithmetic — the
    // exact computation MultimodalOracle.phashPairsSql states in SQL
    def replay(baseId: Long, perturb: Boolean): Long = {
      val w = Multimodal.plantedWidth(baseId)
      val h = Multimodal.plantedHeight(baseId)
      val lumas = (0 until 8).flatMap { j =>
        val y = j * h / 8
        (0 until 8).map { i =>
          val x = i * w / 8
          val v0 = ((baseId * 2654435761L + x * 1013904223L + y * 69069L) & 0xffffff).toInt
          val v = if (perturb && x % 2 == 0) v0 ^ 1 else v0
          (299L * ((v >> 16) & 0xff) + 587L * ((v >> 8) & 0xff) +
            114L * (v & 0xff)) / 1000L
        }
      }
      val mean = lumas.sum / 64L
      lumas.zipWithIndex.foldLeft(0L) { case (acc, (l, k)) =>
        if (l >= mean) acc | (1L << k) else acc
      }
    }
    val docs = DerivedModel.table(spark, "/root/testdata/sf0.001", "documents")
    val hashed = Multimodal.perceptualHash64(
      Multimodal.syntheticImagesWithTwins(docs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashed.nonEmpty)
    hashed.foreach { case (id, h) =>
      val (base, pert) = if (id >= 1000000L) (id - 1000000L, true) else (id, false)
      assert(h === replay(base, pert), s"id=$id codec hash != pixel replay")
    }
  }

  test("planted twin sits within a few aHash bits of its base") {
    val docs = DerivedModel.table(spark, "/root/testdata/sf0.001", "documents")
    val hashed = Multimodal.perceptualHash64(
      Multimodal.syntheticImagesWithTwins(docs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val twins = hashed.keys.filter(_ >= 1000000L)
    assert(twins.nonEmpty)
    val dists = twins.toSeq.map { t =>
      java.lang.Long.bitCount(hashed(t) ^ hashed(t - 1000000L))
    }
    // LSB-of-blue perturbation moves each sampled luma by at most 1:
    // most twins stay within the banded join's hamming radius
    assert(dists.count(_ <= 3) >= dists.size * 2 / 3,
      s"twin hamming distances too large: $dists")
  }

  test("frame-offset sampling strides the payload") {
    val docs = DerivedModel.table(spark, dir, "documents").limit(5)
    val offsets = Multimodal.sampleFrameOffsets(Multimodal.toMediaRecords(docs), stride = 100)
      .collect()
    offsets.foreach { r =>
      val arr = r.getSeq[Long](1)
      assert(arr.head == 0L)
      assert(arr.zip(arr.tail).forall { case (a, b) => b - a == 100 })
    }
  }
}
