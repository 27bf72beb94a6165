package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A media payload: opaque bytes + typed metadata. The Spark-side contract
  * for multimodal columns — image/audio/video travel as `binary` with a
  * format tag; decode happens per partition in [[Multimodal.decodeFeatures]].
  */
final case class MediaRecord(doc_id: Long, payload: Array[Byte], format: String)

/** Features extracted from a decoded payload. For images the fields are
  * literal; for audio they map to the same typed slots: `width` = frame
  * count, `height` = sample rate (Hz), `channels` = audio channels — one
  * fixed feature schema per media batch keeps the column layout stable
  * across formats (the Spark-side requirement; a richer pipeline would
  * carry a per-format struct).
  */
final case class MediaFeatures(doc_id: Long, byte_len: Long, width: Int,
    height: Int, channels: Int)

/** Multimodal-column plumbing (north-star extensions): treat media as
  * opaque `binary` columns with typed metadata; run decode/feature-extract
  * as a partition-batched typed transform.
  *
  * The codec boundary ([[Codec]]) dispatches on the format tag: png/jpeg
  * payloads get a REAL pixel decode via `javax.imageio`, wav payloads a
  * REAL PCM header+frame decode via `javax.sound.sampled` (both JDK
  * built-ins, no new dependency); only opaque (`bin`) payloads fall to a
  * deterministic stub. The plumbing — binary schema,
  * `Dataset[MediaRecord]` encoder, per-partition codec initialization,
  * batch shape — is identical either way.
  *
  * Scale notes: decode is a narrow per-partition map (no shuffle); codec
  * init cost is amortized per partition, not per row — the pattern that
  * matters when partitions hold thousands of multi-MB payloads.
  *
  * Process-wide side effect: the first png/jpeg encode or decode in a JVM
  * calls `javax.imageio.ImageIO.setUseCache(false)`, which is JVM-GLOBAL.
  * Every other `ImageIO` user in that driver or executor then buffers its
  * streams in memory instead of a disk-backed temp file. Right for the
  * KB-scale payloads here; a process that also decodes very large images
  * through `ImageIO` should know its stream cache is off.
  */
object Multimodal {

  /** `ImageIO`'s stream cache is DISK-backed by default: every
    * `ImageIO.read(InputStream)` / `ImageIO.write(..., OutputStream)`
    * spins up a FileCache stream — a temp FILE created, written and
    * deleted per image (≈6.6k temp-file cycles per decode-gate run at
    * sf0.1, r17 measurement). For KB-scale in-memory payloads the
    * memory cache is strictly better; encoded/decoded BYTES are
    * identical (same codecs). One JVM-global flip, executed once per
    * executor JVM by referencing this val inside the codec closures.
    */
  @transient private lazy val imageIOMemCache: Boolean = {
    javax.imageio.ImageIO.setUseCache(false)
    true
  }

  /** Decoder boundary. png/jpeg → real `ImageIO` pixel decode; wav →
    * real `AudioSystem` WAVE decode (frame count / sample rate /
    * channels); anything else (`bin`) → deterministic stub features
    * derived from the byte length, keeping opaque-payload plumbing
    * testable end-to-end.
    */
  object Codec {
    /** Per-partition initialization hook (real codecs allocate native
      * contexts here; the JDK codecs need none). Returns a decode
      * function for reuse across the partition's rows.
      */
    def open(): MediaRecord => MediaFeatures = {
      val _ = imageIOMemCache
      rec => rec.format match {
        case "png" | "jpeg" =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(rec.payload))
          if (img == null)
            throw new IllegalArgumentException(
              s"doc ${rec.doc_id}: payload is not a decodable ${rec.format}")
          MediaFeatures(
            doc_id = rec.doc_id,
            byte_len = rec.payload.length.toLong,
            width = img.getWidth,
            height = img.getHeight,
            channels = img.getColorModel.getNumComponents)
        case "wav" =>
          val ais = try javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(rec.payload))
          catch { case e: javax.sound.sampled.UnsupportedAudioFileException =>
            throw new IllegalArgumentException(
              s"doc ${rec.doc_id}: payload is not a decodable wav", e)
          }
          try {
            val f = ais.getFormat
            MediaFeatures(
              doc_id = rec.doc_id,
              byte_len = rec.payload.length.toLong,
              width = ais.getFrameLength.toInt,  // frames
              height = f.getSampleRate.toInt,    // Hz
              channels = f.getChannels)
          } finally ais.close()
        case _ =>
          val len = rec.payload.length.toLong
          MediaFeatures(
            doc_id = rec.doc_id,
            byte_len = len,
            width = (320 + (len % 16) * 8).toInt,
            height = (240 + (len % 9) * 8).toInt,
            channels = (1 + rec.doc_id % 3).toInt)
      }
    }
  }

  /** Wrap a text table as media records: payload = utf-8 bytes (the
    * deterministic stand-in for real media bytes), honestly tagged `bin`
    * so the codec takes the stub path — for real image payloads see
    * [[syntheticMedia]].
    */
  def toMediaRecords(documents: DataFrame): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      lit("bin").as("format"))
      .as[MediaRecord]
  }

  /** Planted media parameters for [[syntheticMedia]]: pure doc_id
    * arithmetic, so an external oracle can replay every decoded feature
    * without decoding anything.
    */
  def plantedWidth(docId: Long): Int = (8 + docId % 16).toInt
  def plantedHeight(docId: Long): Int = (8 + docId % 9).toInt
  def plantedFrames(docId: Long): Int = (100 + docId % 50).toInt
  def plantedChannels(docId: Long): Int = (1 + docId % 2).toInt
  val PlantedSampleRate = 8000

  /** Media records with REAL payloads for every media format: png/jpeg
    * rows carry an actual encoded image of planted (doc_id-arithmetic)
    * dimensions (`BufferedImage` + `ImageIO`), wav rows an actual 16-bit
    * PCM WAVE of planted frame count and channel count
    * (`javax.sound.sampled`) — built distributed (narrow map, no
    * shuffle). Pixel/sample contents are deterministic; the decode
    * contract asserts the header-derived features, which survive JPEG's
    * lossy pixels exactly.
    */
  def syntheticMedia(documents: DataFrame): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      // codec work (image/wav encode here, decode downstream) is the
      // expensive per-row step; spread it across cores first — the
      // corpus parquet is often a single split (see
      // [[syntheticImagesWithTwins]])
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        val _ = imageIOMemCache
        it.map { case (docId, _) =>
        val format = (docId % 3) match {
          case 0 => "jpeg"
          case 1 => "png"
          case _ => "wav"
        }
        if (format == "wav") {
          val frames = plantedFrames(docId)
          val ch = plantedChannels(docId)
          val data = new Array[Byte](frames * ch * 2)
          var i = 0
          while (i < data.length) {
            // deterministic samples; irrelevant to the header contract
            data(i) = ((docId * 17 + i * 3) & 0xff).toByte
            i += 1
          }
          val fmt = new javax.sound.sampled.AudioFormat(
            PlantedSampleRate.toFloat, 16, ch, true, false)
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(data), fmt, frames.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          MediaRecord(docId, bos.toByteArray, format)
        } else {
          val w = plantedWidth(docId)
          val h = plantedHeight(docId)
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              // deterministic pixels; value is irrelevant to the decode
              // contract (dimensions), but keeps the bytes reproducible
              img.setRGB(x, y, ((docId * 31 + x * 7 + y) & 0xffffff).toInt)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, format, bos)
          MediaRecord(docId, bos.toByteArray, format)
        }
      }
    }
  }

  /** Partition-batched decode: codec opened once per partition, applied
    * row-by-row — the standard Spark shape for expensive per-row native
    * work (mirrors what `mapInPandas` does for Python codecs).
    */
  def decodeFeatures(records: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    val spark = records.sparkSession
    import spark.implicits._
    records.mapPartitions { it =>
      val decode = Codec.open()
      it.map(decode)
    }
  }

  /** Resize plumbing: recompute target dimensions preserving aspect ratio
    * (the geometry math is real; the pixel resampling would live in the
    * codec and is stubbed like decode). Pure column math — runs at scan
    * speed.
    */
  def resizeMeta(features: Dataset[MediaFeatures], maxDim: Int): DataFrame =
    features.toDF().withColumn("scale",
      least(lit(1.0), lit(maxDim) / greatest(col("width"), col("height"))))
      .withColumn("out_width", floor(col("width") * col("scale")).cast("int"))
      .withColumn("out_height", floor(col("height") * col("scale")).cast("int"))
      .drop("scale")

  /** 64-bit content hash over the raw payload bytes for media NEAR-DUP:
    * feeds [[graft.dedup.Dedup.simhashPairs]]'s banded hamming join, so
    * the whole media-dedup path — hash at scan speed, block-banded
    * equi-join, hamming verify — is the text SimHash machinery reused.
    * The hash here is SimHash over the payload's byte stream (exact for
    * the text-bytes stand-in payloads); a real image pipeline swaps in a
    * perceptual hash (pHash/aHash) AT THE CODEC BOUNDARY like decode, and
    * everything downstream is unchanged.
    */
  def contentHash64(records: Dataset[MediaRecord]): DataFrame =
    records.toDF().select(col("doc_id").as("_id"),
      graft.dedup.SimHashExpr.simhashCol(col("payload").cast("string"))
        .as("simhash"))

  /** 8x8 average-hash (aHash) of a DECODED image — the perceptual hash
    * at the codec boundary that [[contentHash64]]'s scaladoc prescribes
    * for real images. Samples an 8x8 grid at `(i*w div 8, j*h div 8)`
    * (nearest-neighbor downscale), integer luma
    * `(299r + 587g + 114b) div 1000` (ITU-R 601 in thousandths),
    * thresholds each sample against the integer mean, packs 64 bits in
    * row-major order (`k = j*8 + i`). Every step is integer arithmetic,
    * so for LOSSLESS formats (png) an external oracle replays the hash
    * from the planted pixel function without running any decoder.
    */
  def aHash64(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val lumas = new Array[Long](64)
    var sum = 0L
    var k = 0
    var j = 0
    while (j < 8) {
      val y = j * h / 8
      var i = 0
      while (i < 8) {
        val x = i * w / 8
        val v = img.getRGB(x, y) & 0xffffff
        val l = (299L * ((v >> 16) & 0xff) + 587L * ((v >> 8) & 0xff) +
          114L * (v & 0xff)) / 1000L
        lumas(k) = l
        sum += l
        k += 1
        i += 1
      }
      j += 1
    }
    val mean = sum / 64L
    var hash = 0L
    k = 0
    while (k < 64) {
      if (lumas(k) >= mean) hash |= 1L << k
      k += 1
    }
    hash
  }

  /** Planted RGB pixel for [[plantedPng]]: a Weyl-style integer mix with
    * LARGE odd multipliers, so luma varies wildly across the 8×8 sample
    * grid and distinct base ids produce near-independent aHashes. The
    * original `base*31 + x*7 + y` gradient made most images share one
    * threshold pattern — ~24% of random image PAIRS landed within
    * hamming 3 (quadratic pair blowup, and a near-dup "signal" that was
    * mostly background). With this mix, background image pairs collide
    * at the ~Binomial(64, ½) tail (≈ never) while the LSB-perturbed twin
    * still moves each sampled luma by ≤ 1. Exact in both engines: long
    * products ≤ ~2^52, then mod 2^24.
    */
  def plantedPixel(baseId: Long, x: Int, y: Int): Int =
    ((baseId * 2654435761L + x * 1013904223L + y * 69069L) & 0xffffffL).toInt

  /** One planted PNG (lossless — decoded pixels equal the planted
    * function exactly): dimensions and pixels from BASE doc_id
    * arithmetic; `perturb` flips the blue LSB at even-x pixels, the
    * near-duplicate twin's sub-threshold visual change.
    */
  private def plantedPng(docId: Long, baseId: Long,
      perturb: Boolean): MediaRecord = {
    val _ = imageIOMemCache
    val w = plantedWidth(baseId)
    val h = plantedHeight(baseId)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = plantedPixel(baseId, x, y)
        img.setRGB(x, y, if (perturb && x % 2 == 0) v ^ 1 else v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    MediaRecord(docId, bos.toByteArray, "png")
  }

  /** The png rows of [[syntheticMedia]] (doc_id % 3 == 1) augmented with
    * planted NEAR-DUPLICATE twins: every 10th png (doc_id % 30 == 1)
    * gets a copy at `doc_id + 1,000,000` whose pixels differ only in the
    * blue LSB at even x — luma moves by at most 1, so the twin's aHash
    * sits within a few bits of its base (the same planted-pair pattern
    * as [[graft.DerivedModel.embeddingsAugmented]]). Built distributed:
    * narrow flatMap, no shuffle. `twinOffset` must exceed the max
    * doc_id (the default matches the gates' fixed corpora and their
    * oracle SQL; a corpus with larger ids passes a wider one).
    */
  def syntheticImagesWithTwins(documents: DataFrame,
      twinOffset: Long = 1000000L): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .filter((id: Long) => id % 3 == 1)
      // the corpus parquet is often a single split; PNG encode (and the
      // decode downstream) is the expensive per-row work, so spread the
      // id list across all cores first — a shuffle of bare longs, paid
      // once, against codec work that otherwise serializes on one task
      .repartition(spark.sparkContext.defaultParallelism)
      .flatMap { id =>
        val base = plantedPng(id, id, perturb = false)
        if (id % 30 == 1)
          Seq(base, plantedPng(id + twinOffset, id, perturb = true))
        else Seq(base)
      }
  }

  /** Perceptual 64-bit hash AT THE CODEC BOUNDARY: real `ImageIO` pixel
    * decode per record (codec opened per partition, same shape as
    * [[decodeFeatures]]), then [[aHash64]] over the decoded pixels.
    * Output `(_id, simhash)` feeds [[graft.dedup.Dedup.simhashPairs]]'s
    * banded hamming join unchanged — hash at scan speed, block-banded
    * equi-join, hamming verify, exactly the text SimHash plan.
    */
  def perceptualHash64(records: Dataset[MediaRecord]): DataFrame = {
    val spark = records.sparkSession
    import spark.implicits._
    records.mapPartitions { it =>
      val _ = imageIOMemCache
      it.map { rec =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(rec.payload))
        if (img == null)
          throw new IllegalArgumentException(
            s"doc ${rec.doc_id}: payload is not a decodable image")
        (rec.doc_id, aHash64(img))
      }
    }.toDF("_id", "simhash")
  }

  /** Mixed-media corpus: the png slice of the id space
    * (`doc_id % 3 == 1`, with the planted LSB-perturbed twins of
    * [[syntheticImagesWithTwins]]) carries REAL encoded PNG payloads;
    * every other doc travels as an opaque `bin` record over its text
    * bytes — the heterogeneous table a real multimodal ingest sees.
    */
  def mixedMediaRecords(documents: DataFrame): Dataset[MediaRecord] =
    syntheticImagesWithTwins(documents).unionByName(
      toMediaRecords(documents.filter(col("doc_id") % 3 =!= 1)))

  /** Format-ROUTED 64-bit hash for mixed-media near-dup: image rows get
    * the perceptual [[aHash64]] at the codec boundary (pixel-derived —
    * robust to sub-threshold visual change), opaque payloads the
    * byte-stream SimHash of [[contentHash64]]. One `(_id, simhash)`
    * relation out, so [[graft.dedup.Dedup.simhashPairs]]'s banded
    * hamming join consumes the union unchanged — the routing is a format
    * filter, not a new plan shape. (Cross-family bucket collisions are
    * possible and harmless: the hamming verify runs on the exact hashes,
    * deterministically on both engines.)
    *
    * CAVEAT: the two branches evaluate `records` independently (no
    * cross-branch CSE in Spark) — fine over a STORED media table (two
    * pruned scans), but a GENERATED input (e.g.
    * [[syntheticImagesWithTwins]]) pays its codec work once per branch;
    * persist such inputs first, or hash the slices directly as the
    * `x_multimodal_near_dup` gate does.
    */
  def mixedHash64(records: Dataset[MediaRecord]): DataFrame = {
    val isImage = col("format").isin("png", "jpeg")
    perceptualHash64(records.filter(isImage))
      .unionByName(contentHash64(records.filter(!isImage)))
  }

  /** Frame-sampling plumbing demo: every k-th byte of the payload as a
    * "frame" offset list — the partition/batch shape of video frame
    * sampling with the sampler stubbed.
    */
  def sampleFrameOffsets(records: Dataset[MediaRecord], stride: Int): DataFrame = {
    val spark = records.sparkSession
    import spark.implicits._
    records.map(r => (r.doc_id, (0L until r.payload.length.toLong by stride).toArray))
      .toDF("doc_id", "frame_offsets")
  }
}

/** DuckDB-SQL replay of the perceptual-hash near-dup path: because PNG is
  * lossless and every [[Multimodal.aHash64]] step is integer arithmetic,
  * the oracle reconstructs each image's hash from the PLANTED pixel
  * function — grid sample, luma, mean threshold, bit packing — without
  * running any decoder, then states the pairs as the plain all-pairs
  * hamming predicate (exact cover of the banded join by pigeonhole, same
  * argument as [[graft.dedup.SimHashOracle.pairsSql]]).
  */
object MultimodalOracle {

  /** The aHash reconstruction chain (planted pixels → luma grid → mean
    * threshold → packed bits): CTE `hs(id, h)`. Expects a `pow(b, p)`
    * powers-of-two CTE in scope (shared with
    * [[graft.dedup.SimHashOracle.simhashCtes]] in the mixed oracle).
    */
  private val aHashCtes: String =
    s"""png AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
       |ids AS (SELECT doc_id AS id, doc_id AS base, FALSE AS pert FROM png
       |        UNION ALL
       |        SELECT doc_id + 1000000, doc_id, TRUE FROM png WHERE doc_id % 30 = 1),
       |grid AS (SELECT i.i, j.j FROM (SELECT unnest(generate_series(0, 7)) AS i) i
       |         CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) j),
       |px AS (SELECT id, pert, base, j * 8 + i AS k,
       |         (i * (8 + base % 16)) // 8 AS x,
       |         (j * (8 + base % 9)) // 8 AS y
       |       FROM ids CROSS JOIN grid),
       |pv AS (SELECT id, k, x, pert,
       |         (base * 2654435761 + x * 1013904223 + y * 69069) % 16777216 AS v0
       |       FROM px),
       |pv2 AS (SELECT id, k,
       |          CASE WHEN pert AND x % 2 = 0
       |               THEN CASE WHEN v0 % 2 = 0 THEN v0 + 1 ELSE v0 - 1 END
       |               ELSE v0 END AS v
       |        FROM pv),
       |luma AS (SELECT id, k,
       |           (299 * ((v // 65536) % 256) + 587 * ((v // 256) % 256)
       |            + 114 * (v % 256)) // 1000 AS l
       |         FROM pv2),
       |mh AS (SELECT id, sum(l) // 64 AS mean FROM luma GROUP BY id),
       |hu AS (SELECT l.id,
       |         sum(CASE WHEN l.l >= mh.mean THEN p.p ELSE 0::HUGEINT END)::HUGEINT AS hval
       |       FROM luma l JOIN mh ON l.id = mh.id JOIN pow p ON l.k = p.b
       |       GROUP BY l.id),
       |hs AS (SELECT id, CAST(CASE WHEN hval >= 9223372036854775808::HUGEINT
       |                            THEN hval - 18446744073709551616::HUGEINT
       |                            ELSE hval END AS BIGINT) AS h
       |       FROM hu)""".stripMargin

  /** Oracle for `x_multimodal_phash`: (id_a, id_b, hamming). */
  def phashPairsSql(maxHamming: Int): String =
    s"""WITH RECURSIVE pow(b, p) AS (
       |  SELECT 0, 1::HUGEINT UNION ALL SELECT b + 1, p * 2 FROM pow WHERE b < 63),
       |$aHashCtes
       |SELECT a.id AS id_a, b.id AS id_b,
       |  CAST(bit_count(xor(a.h, b.h)) AS INTEGER) AS hamming
       |FROM hs a JOIN hs b ON a.id < b.id
       |WHERE bit_count(xor(a.h, b.h)) <= $maxHamming""".stripMargin

  /** Oracle for `x_multimodal_near_dup` (the format-ROUTED mixed gate,
    * [[Multimodal.mixedHash64]]): image ids' hashes reconstructed by the
    * aHash chain, every other id's by the byte-stream SimHash chain
    * ([[graft.dedup.SimHashOracle]] replays full XXH64 in SQL; the text
    * simhash is computed for all ids and restricted to the non-png slice
    * — extra oracle work, identical relation). Pairs are the all-pairs
    * hamming predicate over the UNION, the exact cover of the banded
    * join (same pigeonhole argument, hash family irrelevant).
    */
  def mixedPairsSql(maxHamming: Int): String =
    s"""WITH RECURSIVE ${graft.dedup.SimHashOracle.simhashCtes},
       |$aHashCtes,
       |allh AS (SELECT id, h FROM hs
       |         UNION ALL
       |         SELECT doc_id, simhash FROM sh2 WHERE doc_id % 3 <> 1)
       |SELECT a.id AS id_a, b.id AS id_b,
       |  CAST(bit_count(xor(a.h, b.h)) AS INTEGER) AS hamming
       |FROM allh a JOIN allh b ON a.id < b.id
       |WHERE bit_count(xor(a.h, b.h)) <= $maxHamming""".stripMargin
}
