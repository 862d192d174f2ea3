package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.llmops.Codecs

/** Pure-JVM codec layer: encode/decode round-trips, magic-byte sniffing,
  * and defensive behavior on malformed bytes (truncated, garbage, empty) —
  * at 100 TB some payloads WILL be corrupt and must decode to None, never
  * throw. No SparkSession needed.
  */
class CodecsSpec extends AnyFunSuite {

  private def fill(n: Int): Array[Byte] = Array.tabulate(n)(i => (i * 7 + 3).toByte)

  test("PPM round-trip preserves geometry and raster bytes") {
    val rgb = fill(12 * 5 * 3)
    val bytes = Codecs.Ppm.encode(12, 5, rgb)
    val img = Codecs.Ppm.decode(bytes).get
    assert(img.width == 12 && img.height == 5)
    assert(java.util.Arrays.equals(img.rgb, rgb))
    assert(Codecs.sniff(bytes).contains("image"))
  }

  test("PPM luma is Rec.601 of the raster, normalized") {
    val rgb = Array[Byte](255.toByte, 0, 0, 0, 255.toByte, 0)
    val img = Codecs.Ppm.Image(2, 1, rgb)
    val l = Codecs.Ppm.luma(img)
    assert(math.abs(l(0) - 0.299f) < 1e-6f)
    assert(math.abs(l(1) - 0.587f) < 1e-6f)
  }

  test("WAV round-trip preserves sample rate and PCM16 samples") {
    val samples = Array.tabulate(200)(i => (i * 31 - 3000).toShort)
    val bytes = Codecs.Wav.encode(16000, samples)
    val audio = Codecs.Wav.decode(bytes).get
    assert(audio.sampleRate == 16000)
    assert(java.util.Arrays.equals(audio.samples, samples))
    assert(Codecs.sniff(bytes).contains("audio"))
  }

  test("WAV decoder walks unknown chunks to find data") {
    // splice a LIST chunk between fmt and data; still must decode
    val base = Codecs.Wav.encode(8000, Array[Short](1, 2, 3))
    val fmtEnd = 12 + 8 + 16 // RIFF hdr + fmt chunk
    val list = "LIST".getBytes("US-ASCII") ++ Array[Byte](4, 0, 0, 0) ++ fill(4)
    val spliced = base.take(fmtEnd) ++ list ++ base.drop(fmtEnd)
    // fix RIFF size field
    val bb = java.nio.ByteBuffer.wrap(spliced).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(4, spliced.length - 8)
    val audio = Codecs.Wav.decode(spliced).get
    assert(audio.samples.toSeq == Seq(1, 2, 3))
  }

  test("Y4M round-trip preserves geometry, frame count and plane bytes") {
    val w = 8; val h = 6; val planeLen = Codecs.Y4m.frameLen(w, h) - 6
    val planes = Array.tabulate(3)(f => fill(planeLen).map(b => (b + f).toByte))
    val bytes = Codecs.Y4m.encode(w, h, 3, planes(_))
    val v = Codecs.Y4m.decode(bytes).get
    assert(v.width == w && v.height == h && v.nFrames == 3)
    for (f <- 0 until 3)
      assert(java.util.Arrays.equals(v.framePlaneY(f), planes(f).take(w * h)))
    assert(Codecs.sniff(bytes).contains("video"))
  }

  test("malformed bytes decode to None, never throw") {
    val cases = Seq[Array[Byte]](
      Array.emptyByteArray,
      "garbage".getBytes("US-ASCII"),
      Codecs.Ppm.encode(4, 4, fill(48)).dropRight(10),      // truncated raster
      Codecs.Wav.encode(8000, fill(20).map(_.toShort)).take(30), // truncated header
      Codecs.Y4m.encode(4, 4, 2, _ => fill(Codecs.Y4m.frameLen(4, 4) - 6)).dropRight(3),
      "P6\n0 0\n255\n".getBytes("US-ASCII"),                // zero geometry
      "YUV4MPEG2 W0 H0\n".getBytes("US-ASCII"))
    // no decoder may throw on any of these
    for (bytes <- cases) {
      Codecs.Ppm.decode(bytes); Codecs.Wav.decode(bytes); Codecs.Y4m.decode(bytes)
      Codecs.sniff(bytes)
    }
    // and each malformed container must fail its own codec
    assert(Codecs.Ppm.decode(cases(2)).isEmpty)
    assert(Codecs.Wav.decode(cases(3)).isEmpty)
    assert(Codecs.Y4m.decode(cases(4)).isEmpty)
    assert(Codecs.Ppm.decode(cases(5)).isEmpty)
    assert(Codecs.Y4m.decode(cases(6)).isEmpty)
    assert(Codecs.sniff(null).isEmpty)
  }

  test("property: PPM round-trips for arbitrary geometry and raster bytes") {
    import org.scalacheck.Gen
    import org.scalacheck.Prop.forAll
    val gen = for {
      w <- Gen.choose(1, 64); h <- Gen.choose(1, 64)
      seed <- Gen.choose(0, Int.MaxValue)
    } yield (w, h, seed)
    val prop = forAll(gen) { case (w, h, seed) =>
      val rnd = new scala.util.Random(seed)
      val rgb = Array.fill(w * h * 3)(rnd.nextInt(256).toByte)
      val img = Codecs.Ppm.decode(Codecs.Ppm.encode(w, h, rgb)).get
      img.width == w && img.height == h && java.util.Arrays.equals(img.rgb, rgb)
    }
    org.scalacheck.Test.check(org.scalacheck.Test.Parameters.default, prop) match {
      case r => assert(r.passed, r.status.toString)
    }
  }

  test("property: WAV round-trips arbitrary PCM16 sample runs") {
    import org.scalacheck.Gen
    import org.scalacheck.Prop.forAll
    val gen = for {
      n <- Gen.choose(0, 4096); rate <- Gen.choose(1, 192000)
      seed <- Gen.choose(0, Int.MaxValue)
    } yield (n, rate, seed)
    val prop = forAll(gen) { case (n, rate, seed) =>
      val rnd = new scala.util.Random(seed)
      val samples = Array.fill(n)(rnd.nextInt(65536).toShort)
      val a = Codecs.Wav.decode(Codecs.Wav.encode(rate, samples)).get
      a.sampleRate == rate && java.util.Arrays.equals(a.samples, samples)
    }
    org.scalacheck.Test.check(org.scalacheck.Test.Parameters.default, prop) match {
      case r => assert(r.passed, r.status.toString)
    }
  }

  test("property: Y4M round-trips arbitrary even geometry and frame counts") {
    import org.scalacheck.Gen
    import org.scalacheck.Prop.forAll
    val gen = for {
      w <- Gen.choose(1, 32).map(_ * 2); h <- Gen.choose(1, 32).map(_ * 2)
      f <- Gen.choose(1, 8); seed <- Gen.choose(0, Int.MaxValue)
    } yield (w, h, f, seed)
    val prop = forAll(gen) { case (w, h, f, seed) =>
      val rnd = new scala.util.Random(seed)
      val planeLen = Codecs.Y4m.frameLen(w, h) - 6
      val planes = Array.fill(f)(Array.fill(planeLen)(rnd.nextInt(256).toByte))
      val v = Codecs.Y4m.decode(Codecs.Y4m.encode(w, h, f, planes(_))).get
      v.width == w && v.height == h && v.nFrames == f &&
        (0 until f).forall(i =>
          java.util.Arrays.equals(v.framePlaneY(i), planes(i).take(w * h)))
    }
    org.scalacheck.Test.check(org.scalacheck.Test.Parameters.default, prop) match {
      case r => assert(r.passed, r.status.toString)
    }
  }

  test("sniff needs only the magic prefix") {
    assert(Codecs.sniff("P6\n".getBytes("US-ASCII")).contains("image"))
    assert(Codecs.sniff("RIFFxxxx".getBytes("US-ASCII")).contains("audio"))
    assert(Codecs.sniff("YUV4MPEG2 ".getBytes("US-ASCII")).contains("video"))
    assert(Codecs.sniff("P5\n".getBytes("US-ASCII")).isEmpty) // ascii PGM: unsupported
  }
}
