package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.multimodal.{Codecs, Multimodal}

/** The real codecs: hand-built reference bytes decoded byte-for-byte
  * (so encoder and decoder can't share a wrong convention), format
  * quirks (PPM comments, BMP padding/bottom-up/BGR/top-down),
  * totality on garbage, a roundtrip property, and the Spark-side
  * decode operators over genuinely encoded payloads.
  */
class MultimodalSpec extends AnyFunSuite with SparkSpec {

  // 2x2 reference image, row-major top-down RGB:
  //   (255,0,0) (0,255,0)
  //   (0,0,255) (9,8,7)
  private val refRgb: Array[Byte] = Array(
    255, 0, 0, 0, 255, 0,
    0, 0, 255, 9, 8, 7).map(_.toByte)

  test("PPM P6: hand-built header (with comment) decodes byte-for-byte") {
    // header written BY HAND, not by encodePpm — decoding it proves
    // the parser, not a shared convention
    val header = "P6\n# a comment\n2 2\n# another\n255\n".getBytes("US-ASCII")
    val bytes = header ++ refRgb
    val img = Codecs.decode(bytes).get
    assert(img.codec == "ppm" && img.width == 2 && img.height == 2)
    assert(img.pixels.toSeq == refRgb.toSeq)
  }

  test("BMP: hand-built bottom-up BGR padded bytes decode byte-for-byte") {
    // stride for w=2 is 8 (2 bytes padding); file rows BOTTOM-UP and
    // BGR — the file's first pixel row is the IMAGE'S LAST row
    val out = new Array[Byte](54 + 16)
    def putLe32(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
      out(off + 2) = (v >> 16).toByte; out(off + 3) = (v >> 24).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    putLe32(2, out.length); putLe32(10, 54); putLe32(14, 40)
    putLe32(18, 2); putLe32(22, 2); out(26) = 1; out(28) = 24
    // file row 0 = image row 1: (0,0,255)->BGR FF 00 00, (9,8,7)->07 08 09
    val fileRows = Array(
      255, 0, 0, 7, 8, 9, 0, 0, // pad
      0, 0, 255, 0, 255, 0, 0, 0).map(_.toByte)
    System.arraycopy(fileRows, 0, out, 54, 16)
    val img = Codecs.decode(out).get
    assert(img.codec == "bmp" && img.width == 2 && img.height == 2)
    assert(img.pixels.toSeq == refRgb.toSeq)
  }

  test("BMP: negative height = top-down row order") {
    val bottomUp = Codecs.encodeBmp(2, 2, refRgb)
    // flip to top-down: negate height, reverse the two 8-byte rows
    val topDown = bottomUp.clone()
    val hNeg = -2
    topDown(22) = hNeg.toByte; topDown(23) = (hNeg >> 8).toByte
    topDown(24) = (hNeg >> 16).toByte; topDown(25) = (hNeg >> 24).toByte
    System.arraycopy(bottomUp, 54 + 8, topDown, 54, 8)
    System.arraycopy(bottomUp, 54, topDown, 54 + 8, 8)
    assert(Codecs.decode(topDown).get.pixels.toSeq == refRgb.toSeq)
  }

  test("decode is total: garbage, truncation, bad fields -> None") {
    assert(Codecs.decode(null).isEmpty)
    assert(Codecs.decode(Array.empty[Byte]).isEmpty)
    assert(Codecs.decode("not an image at all".getBytes).isEmpty)
    // valid magic, truncated pixel data
    assert(Codecs.decode(Codecs.encodePpm(2, 2, refRgb).dropRight(1)).isEmpty)
    assert(Codecs.decode(Codecs.encodeBmp(2, 2, refRgb).dropRight(9)).isEmpty)
    // PPM maxval > 255 (2-byte samples) is out of scope, not misread
    assert(Codecs.decode("P6\n2 2\n65535\n".getBytes ++ refRgb ++ refRgb).isEmpty)
    // BMP with 32bpp or RLE compression is out of scope
    val b32 = Codecs.encodeBmp(2, 2, refRgb); b32(28) = 32
    assert(Codecs.decode(b32).isEmpty)
    val rle = Codecs.encodeBmp(2, 2, refRgb); rle(30) = 1
    assert(Codecs.decode(rle).isEmpty)
    // absurd dimensions refuse to allocate
    val big = Codecs.encodePpm(2, 2, refRgb)
    val huge = ("P6\n100000 100000\n255\n".getBytes("US-ASCII")) ++ big
    assert(Codecs.decode(huge).isEmpty)
  }

  test("roundtrip property: decode(encode(img)) == img for both codecs") {
    val gen = for {
      w <- Gen.choose(1, 11)
      h <- Gen.choose(1, 7)
      pixels <- Gen.listOfN(w * h * 3, Gen.choose(0, 255))
    } yield (w, h, pixels.map(_.toByte).toArray)
    val prop = Prop.forAll(gen) { case (w, h, rgb) =>
      val p = Codecs.decode(Codecs.encodePpm(w, h, rgb)).get
      val b = Codecs.decode(Codecs.encodeBmp(w, h, rgb)).get
      (p.codec, p.width, p.height) == (("ppm", w, h)) &&
        p.pixels.toSeq == rgb.toSeq &&
        (b.codec, b.width, b.height) == (("bmp", w, h)) &&
        b.pixels.toSeq == rgb.toSeq
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, res.status.toString)
  }

  test("decodeMeta: real formats report parsed dims, others the stub") {
    import spark.implicits._
    val ppm = Codecs.encodePpm(2, 2, refRgb)
    val bmp = Codecs.encodeBmp(2, 2, refRgb)
    // NOTE: a string column would mangle high bytes through the
    // UTF-8 binary cast — real payloads ride a BINARY column, which
    // is exactly the multimodal-column contract
    val binRows = Seq((1L, ppm), (2L, bmp),
      (3L, "plain text payload".getBytes("UTF-8"))).toDF("doc_id", "text")
    val metas = Multimodal.decodeMeta(binRows).collect()
      .map(m => m.doc_id -> m).toMap
    assert(metas(1L).codec == "ppm" && metas(1L).width == 2 && metas(1L).height == 2)
    assert(metas(2L).codec == "bmp" && metas(2L).width == 2 && metas(2L).height == 2)
    assert(metas(3L).codec == "stub")
    assert(metas(1L).n_frames == 1 && metas(1L).frame_offsets == Seq(0))
  }

  test("decodeImage over syntheticImages matches the generating formula") {
    import spark.implicits._
    val docs = (0L until 40L).toDF("doc_id")
    for (fmt <- Seq("ppm", "bmp")) {
      val stats = Multimodal.decodeImage(Multimodal.syntheticImages(docs, fmt))
        .collect().map(s => s.doc_id -> s).toMap
      assert(stats.size == 40)
      for (id <- 0L until 40L) {
        val w = (4 + id % 5).toInt; val h = (3 + id % 3).toInt
        val s = stats(id)
        assert(s.codec == fmt && s.width == w && s.height == h)
        def sumC(c: Int) =
          (0 until w * h).map(j => (id + j * 3 + c) % 256).sum
        assert((s.sum_r, s.sum_g, s.sum_b) == ((sumC(0), sumC(1), sumC(2))),
          s"channel sums wrong for id=$id fmt=$fmt")
      }
    }
  }

  // hand-assembled RIFF/WAVE bytes: an unknown odd-sized chunk BEFORE
  // fmt/data, so decoding requires real chunk-walking with the
  // even-offset pad rule — written by hand, not by encodeWav, so the
  // parser is proved, not a shared convention
  private def handWav: Array[Byte] = {
    val out = new Array[Byte](8 + 56)
    def tag(off: Int, s: String): Unit =
      System.arraycopy(s.getBytes("US-ASCII"), 0, out, off, 4)
    def le32(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
      out(off + 2) = (v >> 16).toByte; out(off + 3) = (v >> 24).toByte
    }
    def le16(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
    }
    tag(0, "RIFF"); le32(4, 56); tag(8, "WAVE")
    tag(12, "junk"); le32(16, 3) // odd size: pad byte follows payload
    out(20) = 'a'; out(21) = 'b'; out(22) = 'c' // out(23) = pad
    tag(24, "fmt "); le32(28, 16)
    le16(32, 1); le16(34, 1); le32(36, 4); le32(40, 8); le16(44, 2)
    le16(46, 16)
    tag(48, "data"); le32(52, 8)
    le16(56, 1000); le16(58, -1000); le16(60, 32767); le16(62, -32768)
    out
  }

  test("WAV: hand-built chunked bytes decode to the exact PCM16 samples") {
    val a = Codecs.decodeAudio(handWav).get
    assert(a.codec == "wav" && a.sampleRate == 4 && a.channels == 1)
    assert(a.samples.toSeq == Seq[Short](1000, -1000, 32767, -32768))
  }

  test("WAV decode is total: garbage, truncation, non-PCM -> None") {
    assert(Codecs.decodeAudio(null).isEmpty)
    assert(Codecs.decodeAudio("RIFFxxxxWAVE".getBytes).isEmpty)
    // truncated data chunk: RIFF size claims past the buffer
    assert(Codecs.decodeAudio(handWav.dropRight(2)).isEmpty)
    // IEEE-float format (3) and 8-bit PCM are out of scope, not misread
    val float = handWav; float(32) = 3
    assert(Codecs.decodeAudio(float).isEmpty)
    val pcm8 = handWav; pcm8(46) = 8
    assert(Codecs.decodeAudio(pcm8).isEmpty)
    // data before fmt violates the spec
    val swapped = new Array[Byte](handWav.length)
    val h = handWav
    System.arraycopy(h, 0, swapped, 0, 12)
    System.arraycopy(h, 48, swapped, 12, 16) // data first
    System.arraycopy(h, 24, swapped, 28, 24) // then fmt
    System.arraycopy(h, 12, swapped, 52, 12) // then junk
    assert(Codecs.decodeAudio(swapped).isEmpty)
    // stereo data whose sample count is not a whole number of frames
    val ragged = Codecs.encodeWav(8000, 1, Array[Short](1, 2, 3))
    ragged(22) = 2 // claim stereo over 3 samples
    assert(Codecs.decodeAudio(ragged).isEmpty)
  }

  test("WAV roundtrip property: decode(encodeWav(...)) is exact") {
    val gen = for {
      rate <- Gen.choose(1, 48000)
      ch <- Gen.choose(1, 4)
      frames <- Gen.choose(1, 50)
      samples <- Gen.listOfN(frames * ch,
        Gen.choose(Short.MinValue.toInt, Short.MaxValue.toInt))
    } yield (rate, ch, samples.map(_.toShort).toArray)
    val prop = Prop.forAll(gen) { case (rate, ch, samples) =>
      val a = Codecs.decodeAudio(Codecs.encodeWav(rate, ch, samples)).get
      a.codec == "wav" && a.sampleRate == rate && a.channels == ch &&
        a.samples.toSeq == samples.toSeq
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, res.status.toString)
  }

  test("decodeAudio over syntheticAudio matches the generating formula") {
    import spark.implicits._
    val docs = (0L until 40L).toDF("doc_id")
    val stats = Multimodal.decodeAudio(Multimodal.syntheticAudio(docs))
      .collect().map(s => s.doc_id -> s).toMap
    assert(stats.size == 40)
    for (id <- 0L until 40L) {
      val ch = (1 + id % 2).toInt
      val n = (50 + id % 37).toInt * ch
      val xs = (0 until n).map(i => (id * 31 + i * 17) % 4001 - 2000)
      val s = stats(id)
      assert(s.codec == "wav" && s.sample_rate == 8000 && s.channels == ch)
      assert(s.n_samples == n && s.duration_ms == (n / ch) * 1000 / 8000)
      assert(s.sum_abs == xs.map(math.abs).sum, s"sum_abs wrong for id=$id")
      assert(s.max_abs == xs.map(math.abs).max)
      assert(s.zero_crossings ==
        (1 until n).count(i => (xs(i) < 0) != (xs(i - 1) < 0)))
    }
  }
}
