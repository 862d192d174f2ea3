package graft

import graft.llmops.{Codecs, Multimodal}

/** Perceptual average-hash image dedup: identity, near-identity under
  * small perturbation, and the banded candidate join's exactness. */
class PhashSpec extends SparkSpec {
  import spark.implicits._

  private def ppmRow(id: Long, rgb: Array[Byte], w: Int, h: Int) =
    (id, "image", Codecs.Ppm.encode(w, h, rgb), w, h, 0, 0)

  private def mediaDf(rows: Seq[(Long, String, Array[Byte], Int, Int, Int, Int)]) =
    spark.createDataFrame(rows.toDF(
      "media_id", "kind", "payload", "width", "height", "sample_rate", "n_frames").rdd,
      Multimodal.mediaSchema)

  test("identical images hash identically; a light perturbation stays near") {
    val rnd = new scala.util.Random(3)
    val base = Array.tabulate(16 * 16 * 3)(_ => (rnd.nextInt(256) - 128).toByte)
    val perturbed = base.clone()
    perturbed(5) = (perturbed(5) + 4).toByte // one subpixel nudged
    val far = Array.tabulate(16 * 16 * 3)(i => (~base(i)).toByte) // inverted
    val df = mediaDf(Seq(ppmRow(1, base, 16, 16), ppmRow(2, base.clone(), 16, 16),
      ppmRow(3, perturbed, 16, 16), ppmRow(4, far, 16, 16)))
    val h = Multimodal.perceptualHash(df)
      .as[(Long, Long)].collect().toMap
    assert(h(1) == h(2))
    assert(java.lang.Long.bitCount(h(1) ^ h(3)) <= 4)
    assert(java.lang.Long.bitCount(h(1) ^ h(4)) > 16)
    val pairs = Multimodal.phashNearDups(
        Multimodal.perceptualHash(df), maxDist = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  private def wavRow(id: Long, samples: Array[Short]) =
    (id, "audio", Codecs.Wav.encode(16000, samples), 0, 0, 16000, 0)

  test("audio hash: identical clips match; gain rescale preserves it; noise breaks it") {
    val rnd = new scala.util.Random(7)
    val base = Array.tabulate[Short](16000)(i =>
      ((math.sin(i / 50.0) * 8000 + rnd.nextInt(800)).toShort))
    val gained = base.map(s => (s / 2).toShort) // uniform gain change
    val noise = Array.tabulate[Short](16000)(_ => (rnd.nextInt(16000) - 8000).toShort)
    val df = mediaDf(Seq(wavRow(1, base), wavRow(2, base.clone()),
      wavRow(3, gained), wavRow(4, noise)))
    val h = Multimodal.audioHash(df).as[(Long, Long)].collect().toMap
    assert(h(1) == h(2))
    // halving every sample halves every window mean AND the clip mean —
    // each comparison is preserved up to int16 truncation jitter
    assert(java.lang.Long.bitCount(h(1) ^ h(3)) <= 4)
    assert(java.lang.Long.bitCount(h(1) ^ h(4)) > 10)
  }

  test("banded candidates equal brute force, with PLANTED pairs at every distance") {
    // Random 64-bit codes are ~32 bits apart, so a purely random fixture
    // tests nothing (a previous form of this test compared two empty
    // sets). Plant neighbors at every distance 0..20 around random
    // bases — distances ≤ maxDist MUST all surface (pigeonhole bands),
    // those above MUST all be cut by the popcount verify.
    val rnd = new scala.util.Random(9)
    def flip(h: Long, k: Int): Long = {
      val bits = rnd.shuffle((0 until 64).toList).take(k)
      bits.foldLeft(h)((acc, b) => acc ^ (1L << b))
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var id = 0L
    for (_ <- 1 to 10; base = rnd.nextLong()) {
      rows += ((id, base)); id += 1
      for (k <- 0 to 20) { rows += ((id, flip(base, k))); id += 1 }
    }
    val hashes = rows.toSeq.toDF("media_id", "phash")
    val h = rows.toMap
    for (maxDist <- Seq(3, 12, 15)) {
      val got = Multimodal.phashNearDups(hashes, maxDist)
        .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
      val want = (for {
        a <- rows.map(_._1); b <- rows.map(_._1) if a < b
        d = java.lang.Long.bitCount(h(a) ^ h(b)) if d <= maxDist
      } yield (a, b, d)).toSet
      assert(want.nonEmpty, s"fixture must plant pairs within $maxDist")
      assert(got == want, s"maxDist=$maxDist: missed ${(want -- got).take(5)}")
    }
  }

  test("envelopeOf: every sample in exactly one bucket, remainder spread") {
    // len=13, n=8: boundaries b·13/8 = 0,1,3,4,6,8,9,11,13 — five 2-sample
    // buckets and three 1-sample buckets, no bucket empty, no tail drop
    val s = Array.tabulate(13)(i => (i + 1).toFloat * (if (i % 2 == 0) 1 else -1))
    val env = Multimodal.envelopeOf(s, 8)
    assert(env.length == 8)
    val bounds = (0 to 8).map(b => b * 13 / 8)
    val want = (0 until 8).map { b =>
      val xs = (bounds(b) until bounds(b + 1)).map(i => math.abs(s(i)))
      (xs.sum / xs.length).toFloat
    }
    assert(env.toSeq == want)
    // bucket sample-count totals must partition the clip exactly
    assert(bounds.sliding(2).map(p => p(1) - p(0)).sum == 13)
    // more windows than samples: the empty buckets are 0, not NaN
    val sparse = Multimodal.envelopeOf(Array(4f, -6f), 8)
    assert(sparse.count(_ == 0f) == 6 && sparse.forall(!_.isNaN))
    assert(math.abs(sparse.sum - 10f) < 1e-6)
  }

  test("bitsAboveMean packs bit 63 and matches a direct reimplementation") {
    // raster engineered so vals(63) > mean (bit 63 = Long.MinValue in the
    // packed code — the sign bit the kernel must still pack correctly)
    val vals = Array.tabulate(64)(i => if (i >= 32) 100.0 else 0.0)
    val df = Seq((1L, vals.toSeq)).toDF("media_id", "vals")
    val got = Multimodal.bitsAboveMean(df).as[(Long, Long)].collect().head._2
    val mean = vals.sum / 64
    val want = (0 until 64).filter(i => vals(i) > mean)
      .foldLeft(0L)((acc, i) => acc + (1L << i))
    assert(got == want)
    assert(got < 0, "bit 63 set ⇒ negative two's-complement code")
  }
}
