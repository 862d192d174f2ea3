package graft.llmops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column operators (builder-prompt extension): image/audio/
  * video as opaque `binary` columns + typed declared metadata.
  *
  * Decode is REAL: [[Codecs]] parses three fully-public container
  * formats (PPM image, WAV PCM16 audio, YUV4MPEG2 video) in pure JVM
  * code — no native libraries, which this container does not ship.
  * Compressed codecs (JPEG/H.264/MP3) would plug into the same
  * [[Codecs.sniff]] dispatch without touching these operators.
  *
  * Execution shape (the part that must survive 100 TB):
  *  - decode/feature/resize run as `mapPartitions` over a streaming row
  *    iterator (the Scala analog of `mapInPandas` batches) — one media
  *    row decoded at a time per partition, never a partition-wide or
  *    driver-side materialization;
  *  - video frame sampling never touches a decoder at all: frame byte
  *    ranges are computed and sliced with pure codegen'd Catalyst
  *    expressions over the binary payload (container geometry is
  *    arithmetic, not parsing);
  *  - malformed payloads degrade to diagnosable null/`meta_ok=false`
  *    rows, never task failures.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType),       // image | audio | video (declared)
    StructField("payload", BinaryType),    // encoded container bytes
    StructField("width", IntegerType), StructField("height", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("n_frames", IntegerType)))

  private val featureSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("kind", StringType),           // declared
    StructField("kind_detected", StringType),  // sniffed from magic bytes
    StructField("meta_ok", BooleanType),       // declared metadata matches parsed
    StructField("n_values", IntegerType),
    StructField("mean_value", DoubleType),
    StructField("feature", ArrayType(FloatType))))

  /** Decoded scalar stream of one payload: image → Rec.601 luma pixels,
    * audio → normalized PCM samples, video → luma of every frame's
    * Y-plane, in frame order. None when the payload doesn't parse. */
  private def decodeValues(payload: Array[Byte]): Option[(String, Array[Float])] =
    Codecs.sniff(payload).flatMap {
      case "image" => Codecs.Ppm.decode(payload)
        .map(img => ("image", Codecs.Ppm.luma(img)))
      case "audio" => Codecs.Wav.decode(payload)
        .map(a => ("audio", Codecs.Wav.normalized(a)))
      case "video" => Codecs.Y4m.decode(payload).map { v =>
        val out = new Array[Float](v.nFrames * v.width * v.height)
        var f = 0
        while (f < v.nFrames) {
          val fr = Codecs.Y4m.lumaFrame(v, f)
          System.arraycopy(fr, 0, out, f * fr.length, fr.length)
          f += 1
        }
        ("video", out)
      }
    }

  /** Does the parsed container agree with the row's declared metadata? */
  private def metaMatches(kindDetected: String, payload: Array[Byte],
      declaredKind: String, w: Int, h: Int, rate: Int, frames: Int): Boolean =
    kindDetected == declaredKind && (kindDetected match {
      case "image" => Codecs.Ppm.decode(payload)
        .exists(i => i.width == w && i.height == h)
      case "audio" => Codecs.Wav.decode(payload).exists(_.sampleRate == rate)
      case "video" => Codecs.Y4m.decode(payload)
        .exists(v => v.width == w && v.height == h && v.nFrames == frames)
      case _ => false
    })

  /** Decode + fixed-size pooled feature extraction, one partition batch
    * at a time. Unparseable payloads yield a row with null feature and
    * `meta_ok=false` — corrupt media is data to quarantine, not an
    * exception. */
  def extractFeatures(media: DataFrame, featureDim: Int): DataFrame = {
    implicit val enc = Encoders.row(featureSchema)
    media.select("media_id", "kind", "payload", "width", "height",
        "sample_rate", "n_frames")
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          val declared = r.getAs[String]("kind")
          decodeValues(payload) match {
            case Some((detected, px)) =>
              val ok = metaMatches(detected, payload, declared,
                r.getAs[Int]("width"), r.getAs[Int]("height"),
                r.getAs[Int]("sample_rate"), r.getAs[Int]("n_frames"))
              // pooled feature: featureDim equal-width bucket means
              val feat = new Array[Float](featureDim)
              val bucket = math.max(px.length / featureDim, 1)
              var b = 0
              while (b < featureDim) {
                var s = 0.0; var n = 0; var i = b * bucket
                while (i < math.min((b + 1) * bucket, px.length)) { s += px(i); n += 1; i += 1 }
                feat(b) = if (n == 0) 0f else (s / n).toFloat
                b += 1
              }
              Row(r.getAs[Long]("media_id"), declared, detected, ok,
                px.length, px.map(_.toDouble).sum / px.length, feat)
            case None =>
              Row(r.getAs[Long]("media_id"), declared, null, false, 0, null, null)
          }
        }
      }
  }

  private val resizedSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("out_width", IntegerType), StructField("out_height", IntegerType),
    StructField("pixels", ArrayType(FloatType)), // luma of the resized raster
    StructField("payload", BinaryType)))         // re-encoded PPM bytes

  /** Nearest-neighbor resize of PPM image rows to (outW, outH): decode,
    * resample RGB, re-encode a valid PPM payload (so the output is
    * itself a media column), and expose the resized luma raster.
    * Unparseable image rows are dropped (flatMap — quarantine them via
    * [[extractFeatures]]' meta_ok first if lineage matters). */
  def resize(media: DataFrame, outW: Int, outH: Int): DataFrame = {
    implicit val enc = Encoders.row(resizedSchema)
    media.filter(col("kind") === "image")
      .select("media_id", "payload")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          Codecs.Ppm.decode(r.getAs[Array[Byte]]("payload")).map { img =>
            val out = new Array[Byte](outW * outH * 3)
            var y = 0
            while (y < outH) {
              val sy = math.min((y.toLong * img.height / outH).toInt, img.height - 1)
              var x = 0
              while (x < outW) {
                val sx = math.min((x.toLong * img.width / outW).toInt, img.width - 1)
                var c = 0
                while (c < 3) {
                  out((y * outW + x) * 3 + c) = img.rgb((sy * img.width + sx) * 3 + c)
                  c += 1
                }
                x += 1
              }
              y += 1
            }
            val resized = Codecs.Ppm.Image(outW, outH, out)
            Row(r.getAs[Long]("media_id"), outW, outH,
              Codecs.Ppm.luma(resized), Codecs.Ppm.encode(outW, outH, out))
          }
        }
      }
  }

  /** Y4M container geometry as codegen'd expressions — MUST mirror
    * [[Codecs.Y4m.header]] / [[Codecs.Y4m.frameLen]]. */
  /** 64-bit perceptual average-hash per image: resize to 8×8 (the one
    * decode pass), then PURE column arithmetic — bit i set iff luma pixel
    * i exceeds the raster mean. Shift-robust the way crop/rescale-robust
    * image dedup needs (aHash); the decode is the only non-Catalyst step.
    * Output: (media_id, phash). */
  def perceptualHash(media: DataFrame): DataFrame =
    bitsAboveMean(resize(media, 8, 8)
      .select(col("media_id"), col("pixels").as("vals")))

  /** Shared aHash bit-packing: 64-bit code with bit i set iff vals[i]
    * exceeds the vector mean — pure column arithmetic over any 64-value
    * feature raster (image luma, audio envelope). Input: (media_id,
    * vals array of 64 doubles). Public so the packing math is
    * DuckDB-oracleable over synthetic rasters (q_ahash_bits) — the media
    * queries built on it stay golden only because of the binary DECODE
    * upstream. Exactness note: the mean is Σ/64 (a power-of-two divide,
    * so integer-valued inputs compare bit-identically across engines),
    * and bit 63's shiftleft(1L, 63) lands on Long.MinValue — adding a
    * negative to the non-negative accumulator, which never overflows
    * (and matches two's-complement packing exactly). */
  def bitsAboveMean(df: DataFrame): DataFrame = {
    val mean = aggregate(col("vals"), lit(0.0d), (a, x) => a + x) /
      size(col("vals"))
    df.withColumn("_mean", mean)
      .withColumn("phash",
        aggregate(sequence(lit(0), lit(63)), lit(0L),
          (acc, i) => acc + when(
            element_at(col("vals"), i + 1) > col("_mean"),
            call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))))
      .select("media_id", "phash")
  }

  private val envelopeSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("env", ArrayType(FloatType))))

  /** The envelope bucket math, decode-free: mean |amplitude| per bucket
    * with boundaries at b·len/nWindows, so a clip length that isn't a
    * multiple of nWindows distributes its remainder across buckets
    * instead of silently dropping up to nWindows-1 tail samples
    * (proportionally large for short clips). Every sample lands in
    * exactly one bucket. Public (and pure) so the math is
    * DuckDB-oracleable over synthetic sample arrays (q_envelope_windows)
    * — [[audioEnvelope]]'s golden lock then covers only the WAV decode.
    * Exactness: per-bucket sums accumulate in double (order-insensitive
    * for integer-valued samples < 2^53), the divide is one IEEE double
    * op, and the float downcast is one IEEE rounding — all replayable. */
  def envelopeOf(s: Array[Float], nWindows: Int): Array[Float] = {
    val env = new Array[Float](nWindows)
    var b = 0
    while (b < nWindows) {
      var acc = 0.0; var n = 0
      var i = (b.toLong * s.length / nWindows).toInt
      val end = ((b + 1).toLong * s.length / nWindows).toInt
      while (i < end) { acc += math.abs(s(i)); n += 1; i += 1 }
      env(b) = if (n == 0) 0f else (acc / n).toFloat
      b += 1
    }
    env
  }

  /** Mean-|amplitude| envelope (nWindows equal buckets) per audio row —
    * the one decode pass behind [[audioHash]]. Undecodable rows are
    * dropped (flatMap; quarantine via [[extractFeatures]]' meta_ok first
    * if lineage matters). Bucket semantics live in [[envelopeOf]]. */
  def audioEnvelope(media: DataFrame, nWindows: Int): DataFrame = {
    implicit val enc = Encoders.row(envelopeSchema)
    media.filter(col("kind") === "audio")
      .select("media_id", "payload")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          Codecs.Wav.decode(r.getAs[Array[Byte]]("payload")).map { a =>
            Row(r.getAs[Long]("media_id"),
              envelopeOf(Codecs.Wav.normalized(a), nWindows))
          }
        }
      }
  }

  /** 64-bit audio fingerprint: energy-envelope aHash — bit i set iff
    * window i's mean |amplitude| exceeds the clip mean. Gain-robust
    * up to the mean threshold (uniform rescale preserves every
    * comparison), loudness-profile-sensitive — the cheap first-pass
    * audio near-dup code; pair search reuses [[phashNearDups]].
    * Output: (media_id, phash). */
  def audioHash(media: DataFrame): DataFrame =
    bitsAboveMean(audioEnvelope(media, 64)
      .select(col("media_id"), col("env").as("vals")))

  /** Hamming-banded near-duplicate pairs over 64-bit perceptual codes:
    * [[Dedup.simhashBandedPairs]] with maxDist+1 pigeonhole bands (m
    * flips across m+1 bands always leave one band CLEAN — its
    * `numChunks > maxHamming` contract, which a fixed 4-band split
    * violates for any maxDist > 3) and no bucket cap, popcount verify.
    * NO false negatives at ≤ maxDist by construction. Scale caveat, same
    * as simhash: higher maxDist ⇒ more and NARROWER bands (width
    * 64/(m+1)) ⇒ coarser buckets ⇒ more chance candidates; at corpus
    * scale keep maxDist modest or pre-partition by a cheap exact key.
    * maxDist ≤ 15 keeps every band ≥ 4 bits. Output: (id_a, id_b,
    * hamming). */
  def phashNearDups(hashes: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist <= 15, "pigeonhole banding needs maxDist <= 15")
    Dedup.simhashBandedPairs(
      hashes.select(col("media_id"), col("phash").as("sig")), "media_id",
      maxHamming = maxDist, numChunks = maxDist + 1, maxBucket = Int.MaxValue)
  }

  private def y4mHeaderLen(w: Column, h: Column): Column =
    length(concat(lit("YUV4MPEG2 W"), w.cast("string"),
      lit(" H"), h.cast("string"), lit(" F30:1 Ip A1:1 C420\n")))
  private def y4mFrameLen(w: Column, h: Column): Column =
    lit(6) + w * h + lit(2) * ((w / 2).cast("int") * (h / 2).cast("int"))

  /** Frame sampling for video rows: keep every `stride`-th frame and
    * slice its YUV plane bytes straight out of the container. The whole
    * operator is Catalyst expressions (`sequence` + `explode` for the
    * frame grid, binary `substring` for the slice) — no decoder, no UDF,
    * stays inside whole-stage codegen. `frame_bytes` is the frame's
    * planar YUV 4:2:0 content (Y then U then V), w*h*3/2 bytes. */
  def sampleFrames(media: DataFrame, stride: Int): DataFrame =
    media.filter(col("kind") === "video")
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride))))
      .withColumn("_hdr", y4mHeaderLen(col("width"), col("height")))
      .withColumn("_flen", y4mFrameLen(col("width"), col("height")))
      .withColumn("frame_bytes",
        expr("substring(payload, cast(_hdr + frame_idx * _flen + 6 + 1 as int), " +
          "cast(_flen - 6 as int))"))
      .select("media_id", "frame_idx", "frame_bytes", "width", "height")

  /** Deterministic synthetic media table for tests/demos: VALID PPM /
    * WAV / Y4M containers whose content bytes derive from an md5 stream
    * of the id — stable across engines and runs, and real enough that
    * every decoder above exercises its actual parse path. Image
    * dimensions vary per row so resize geometry is non-trivial. */
  def syntheticMedia(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      val kind = Seq("image", "audio", "video")(i % 3)
      kind match {
        case "image" =>
          val w = 8 + 4 * ((i / 3) % 3) // 8 | 12 | 16
          val h = 4 + 2 * ((i / 3) % 2) // 4 | 6
          val payload = Codecs.Ppm.encode(w, h, contentBytes(i, w * h * 3))
          (i.toLong, kind, payload, w, h, 0, 1)
        case "audio" =>
          val rate = 16000
          val nSamples = 120 + 8 * ((i / 3) % 5)
          val raw = contentBytes(i, nSamples * 2)
          val samples = Array.tabulate(nSamples) { s =>
            (((raw(2 * s) & 0xff) | ((raw(2 * s + 1) & 0xff) << 8)).toShort)
          }
          (i.toLong, kind, Codecs.Wav.encode(rate, samples), 0, 0, rate, nSamples)
        case "video" =>
          val w = 8; val h = 4; val frames = 30
          val planeLen = Codecs.Y4m.frameLen(w, h) - 6
          val content = contentBytes(i, frames * planeLen)
          val payload = Codecs.Y4m.encode(w, h, frames,
            f => java.util.Arrays.copyOfRange(content, f * planeLen, (f + 1) * planeLen))
          (i.toLong, kind, payload, w, h, 0, frames)
      }
    }.toDF("media_id", "kind", "payload", "width", "height", "sample_rate", "n_frames")
  }

  /** Deterministic content stream: concatenated md5 blocks keyed by
    * media id and block index. */
  private def contentBytes(id: Int, len: Int): Array[Byte] = {
    val out = new Array[Byte](len)
    var off = 0; var blk = 0
    while (off < len) {
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(s"media:$id:$blk".getBytes("UTF-8"))
      val take = math.min(16, len - off)
      System.arraycopy(digest, 0, out, off, take)
      off += take; blk += 1
    }
    out
  }
}
