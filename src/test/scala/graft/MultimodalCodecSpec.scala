package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{MediaRecord, Multimodal}
import graft.llm.Multimodal.{FakeCodec, ImageIoCodec, MediaCodec}

/** The MediaCodec seam (r7 VERDICT item 4's stated "done" criterion):
  * name-based dispatch, the unknown-name error, a REAL JDK-imageio decode
  * against hand-computed luminances, and the executor-side per-partition
  * resolution path through [[Multimodal.extractFeatures]]. The PNG under
  * test is generated in-test by the same JDK that decodes it — no fixture
  * bytes in the repo. */
class MultimodalCodecSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  /** A 2×2 ARGB image with four known colors, PNG-encoded by ImageIO. */
  private def tinyPng(): (Array[Byte], Array[Int]) = {
    val img = new BufferedImage(2, 2, BufferedImage.TYPE_INT_RGB)
    // (x, y) → 0xRRGGBB; chosen so every channel weight matters.
    img.setRGB(0, 0, 0xFF0000) // pure red
    img.setRGB(1, 0, 0x00FF00) // pure green
    img.setRGB(0, 1, 0x0000FF) // pure blue
    img.setRGB(1, 1, 0x800040) // mixed
    val out = new ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", out))
    // ITU-R 601 integer luminance, row-major — the codec's documented
    // contract: (299·r + 587·g + 114·b) / 1000.
    val lum = Array(
      299 * 255 / 1000,                       // red   → 76
      587 * 255 / 1000,                       // green → 149
      114 * 255 / 1000,                       // blue  → 29
      (299 * 0x80 + 587 * 0x00 + 114 * 0x40) / 1000) // mixed → 45
    (out.toByteArray, lum)
  }

  test("forName dispatches by name and rejects unknown codecs") {
    assert(MediaCodec.forName("fake") eq FakeCodec)
    assert(MediaCodec.forName("imageio") eq ImageIoCodec)
    val ex = intercept[IllegalArgumentException](MediaCodec.forName("ffmpeg"))
    assert(ex.getMessage.contains("ffmpeg") && ex.getMessage.contains("known"))
  }

  test("ImageIoCodec decodes a PNG to row-major ITU-R 601 luminances") {
    val (png, expected) = tinyPng()
    assert(ImageIoCodec.decode(png).toSeq === expected.toSeq)
  }

  test("ImageIoCodec rejects non-image bytes loudly") {
    val ex = intercept[IllegalArgumentException](
      ImageIoCodec.decode("not a png".getBytes("UTF-8")))
    assert(ex.getMessage.contains("not a decodable image"))
  }

  test("extractFeatures resolves the imageio codec per partition on executors") {
    import spark.implicits._
    val (png, expected) = tinyPng()
    val media = Seq(
      MediaRecord(1L, "image", png, 2, 2, 0, 0),
      MediaRecord(2L, "image", png, 2, 2, 0, 0)).toDS().repartition(2)
    val feats = Multimodal.extractFeatures(media, codecName = "imageio")
      .collect().sortBy(_.doc_id)
    assert(feats.length === 2)
    feats.foreach { f =>
      // Histogram over the decoded luminances, not the payload bytes:
      // 4 pixels land in bins value/16 — proves the REAL decode ran.
      assert(f.histogram.sum === 4L)
      expected.foreach(l => assert(f.histogram(l / 16) >= 1L))
      assert(f.n_bytes === png.length.toLong)
    }
  }

  test("WavCodec decodes JDK-written 16-bit PCM to quantized mono samples (both endiannesses, stereo fold)") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // A 4-frame square wave at ±16384: (16384 >> 8) + 128 = 192,
    // (−16384 >> 8) + 128 = 64 — exact quantization expectations.
    def wav(samples: Array[Int], channels: Int, bigEndian: Boolean): Array[Byte] = {
      val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, 8000f, 16,
        channels, 2 * channels, 8000f, bigEndian)
      val bytes = new Array[Byte](samples.length * 2)
      samples.zipWithIndex.foreach { case (s, i) =>
        val (hi, lo) = (((s >> 8) & 0xFF).toByte, (s & 0xFF).toByte)
        if (bigEndian) { bytes(2 * i) = hi; bytes(2 * i + 1) = lo }
        else { bytes(2 * i) = lo; bytes(2 * i + 1) = hi }
      }
      val in = new AudioInputStream(new java.io.ByteArrayInputStream(bytes),
        fmt, samples.length / channels)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(in, AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val square = Array(16384, -16384, 16384, -16384)
    for (be <- Seq(false, true))
      assert(Multimodal.WavCodec.decode(wav(square, 1, be)).toSeq ===
        Seq(192, 64, 192, 64), s"bigEndian=$be")
    // Stereo frames fold to the channel mean: (16384 + −16384)/2 = 0 → 128.
    val stereo = Array(16384, -16384, -16384, 16384) // L,R,L,R
    assert(Multimodal.WavCodec.decode(wav(stereo, 2, false)).toSeq ===
      Seq(128, 128))
    assert(MediaCodec.forName("wav") eq Multimodal.WavCodec)
  }

  test("WavCodec rejects non-audio bytes loudly") {
    intercept[Exception] {
      Multimodal.WavCodec.decode("definitely not a wav".getBytes("UTF-8"))
    }
  }

  test("qMultimodal fails fast on the driver for a typo'd codec conf") {
    spark.conf.set(MediaCodec.CodecKey, "fffmpeg")
    try {
      val ex = intercept[IllegalArgumentException](
        Multimodal.qMultimodal(spark, Corpus.dir("sf0.001")))
      assert(ex.getMessage.contains("fffmpeg"))
    } finally spark.conf.unset(MediaCodec.CodecKey)
  }
}
