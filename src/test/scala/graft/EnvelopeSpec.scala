package graft

import org.apache.spark.sql.functions._

import graft.functions.text
import graft.operators.Multimodal

/** Multimodal resize and decoders, and langId on real crafted sentences. */
class EnvelopeSpec extends SparkSpec {
  import spark.implicits._

  test("multimodal resize: dims replaced, features rescaled deterministically") {
    val feats = Multimodal.extractFeatures(Multimodal.assets(spark, sf), Multimodal.FakeDecoder)
    val resized = Multimodal.resize(feats, 32, 32).collect()
    assert(resized.forall(f => f.width == 32 && f.height == 32))
    val again = Multimodal.resize(
      Multimodal.extractFeatures(Multimodal.assets(spark, sf), Multimodal.FakeDecoder), 32, 32
    ).collect()
    assert(resized.map(_.features.toSeq).sortBy(_.hashCode).toSeq ==
      again.map(_.features.toSeq).sortBy(_.hashCode).toSeq)
  }

  private def pngBytes(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("ImageIoDecoder decodes a real PNG: intrinsic dims and pixel-derived features") {
    val dec = new Multimodal.ImageIoDecoder()
    // pure red 5x3
    val (w, h, f) = dec.decode("image", pngBytes(5, 3, 0xff0000))
    assert(w == 5 && h == 3)
    assert(math.abs(f(0) - 1.0f) < 1e-3, "meanR of a pure-red image is 1")
    assert(f(1) == 0.0f && f(2) == 0.0f, "no green/blue in a pure-red image")
    assert(math.abs(f(3) - 0.299f) < 1e-3, "luma of pure red is 0.299")
    assert(f(4) < 1e-3, "solid color has zero luma variance")
    assert(math.abs(f(5) - 5.0f / 8) < 1e-6 && math.abs(f(6) - 3.0f / 8) < 1e-6)
    assert(f(7) == 0.0f, "dark image: no pixels above the bright threshold")
    // white image trips the bright fraction
    val (_, _, fw) = dec.decode("image", pngBytes(2, 2, 0xffffff))
    assert(fw(7) == 1.0f)
    // JPEG decodes through the same path (lossy: assert within tolerance)
    val img = new java.awt.image.BufferedImage(7, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 7) img.setRGB(x, y, 0x808080)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val (jw, jh, jf) = dec.decode("image", bos.toByteArray)
    assert(jw == 7 && jh == 4)
    assert(math.abs(jf(3) - 0x80 / 255.0) < 0.05, "mid-gray luma survives JPEG round trip")
  }

  test("ImageIoDecoder: non-image modalities and corrupt bytes fall back to the stub") {
    val dec = new Multimodal.ImageIoDecoder()
    def norm(t: (Int, Int, Array[Float])) = (t._1, t._2, t._3.toSeq)
    val junk = Array.tabulate[Byte](64)(i => (i * 7).toByte)
    assert(norm(dec.decode("audio", junk)) == norm(Multimodal.FakeDecoder.decode("audio", junk)))
    // truncated/corrupt "image" bytes must not throw — they delegate
    assert(norm(dec.decode("image", junk)) == norm(Multimodal.FakeDecoder.decode("image", junk)))
    val truncatedPng = pngBytes(4, 4, 0x123456).take(20)
    assert(norm(dec.decode("image", truncatedPng)) ==
      norm(Multimodal.FakeDecoder.decode("image", truncatedPng)))
  }

  private def wavBytes(rate: Float, channels: Int, samples: Array[Short]): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val fmt = new AudioFormat(rate, 16, channels, true, false) // PCM16 LE
    val data = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      data(2 * i) = (samples(i) & 0xff).toByte
      data(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, samples.length / channels)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("WavPcmDecoder decodes a real WAV: rate, channels, amplitude features") {
    val dec = new Multimodal.WavPcmDecoder()
    // mono 8 kHz square wave at half amplitude: alternating +/-16384
    val square = Array.tabulate[Short](400)(i => if (i % 2 == 0) 16384 else -16384)
    val (rate, ch, f) = dec.decode("audio", wavBytes(8000f, 1, square))
    assert(rate == 8000 && ch == 1)
    assert(math.abs(f(0) - 0.5f) < 1e-3, "meanAbs of a half-amplitude square is 0.5")
    assert(math.abs(f(1) - 0.5f) < 1e-3, "rms of a square equals its amplitude")
    assert(math.abs(f(2) - 1.0f) < 1e-2, "alternating samples cross zero every frame")
    assert(math.abs(f(3) - 0.5f) < 1e-3, "peak")
    assert(math.abs(f(4) - 8000f / 96000) < 1e-4, "rate feature")
    // silence: all amplitude features zero
    val (_, _, s) = dec.decode("audio", wavBytes(8000f, 1, Array.fill[Short](100)(0)))
    assert(s(0) == 0.0f && s(1) == 0.0f && s(2) == 0.0f && s(3) == 0.0f)
    // stereo carries the channel count through
    val stereo = Array.tabulate[Short](200)(i => if ((i / 2) % 2 == 0) 8192 else -8192)
    val (r2, ch2, _) = dec.decode("audio", wavBytes(44100f, 2, stereo))
    assert(r2 == 44100 && ch2 == 2)
  }

  test("WavPcmDecoder: non-audio, corrupt bytes, and truncated WAV fall back") {
    val dec = new Multimodal.WavPcmDecoder()
    def norm(t: (Int, Int, Array[Float])) = (t._1, t._2, t._3.toSeq)
    val junk = Array.tabulate[Byte](64)(i => (i * 13).toByte)
    assert(norm(dec.decode("image", junk)) == norm(Multimodal.FakeDecoder.decode("image", junk)))
    assert(norm(dec.decode("audio", junk)) == norm(Multimodal.FakeDecoder.decode("audio", junk)))
    val truncated = wavBytes(8000f, 1, Array.tabulate[Short](50)(_.toShort)).take(16)
    assert(norm(dec.decode("audio", truncated)) ==
      norm(Multimodal.FakeDecoder.decode("audio", truncated)))
  }

  test("MediaIoDecoder routes image and audio to real decoders, video to the stub") {
    val dec = new Multimodal.MediaIoDecoder()
    def norm(t: (Int, Int, Array[Float])) = (t._1, t._2, t._3.toSeq)
    val png = pngBytes(4, 2, 0x00ff00)
    assert(norm(dec.decode("image", png)) ==
      norm(new Multimodal.ImageIoDecoder().decode("image", png)))
    val wav = wavBytes(16000f, 1, Array.tabulate[Short](64)(i => (i * 100).toShort))
    assert(norm(dec.decode("audio", wav)) ==
      norm(new Multimodal.WavPcmDecoder().decode("audio", wav)))
    val bytes = "not a video".getBytes("UTF-8")
    assert(norm(dec.decode("video", bytes)) ==
      norm(Multimodal.FakeDecoder.decode("video", bytes)))
  }

  test("extractFeatures runs the real decoder distributed over binary-column assets") {
    // a real binary-asset table: PNG bytes of varying dims/colors, built
    // through the same schema shape as Multimodal.assets
    val rows = (1 to 12).map { i =>
      (i.toLong, "image", pngBytes(3 + i % 5, 2 + i % 3, 0x0000ff), i)
    }
    val assets = rows.toDF("media_id", "modality", "content", "k")
      .repartition(4) // exercise the per-partition decoder path
    val out = Multimodal.extractFeatures(assets, new Multimodal.ImageIoDecoder())
      .collect().map(f => f.media_id -> f).toMap
    assert(out.size == 12)
    rows.foreach { case (id, _, _, i) =>
      val f = out(id)
      assert(f.width == 3 + i % 5 && f.height == 2 + i % 3,
        s"media $id: expected intrinsic dims, got ${f.width}x${f.height}")
      assert(math.abs(f.features(2) - 1.0f) < 1e-3, "pure blue: meanB is 1")
    }
  }

  test("langId on crafted sentences hits each branch") {
    val df = Seq(
      (1L, "the cat and the dog sat in the garden for it was warm"),
      (2L, "le chat est dans la maison et les oiseaux sont dans le jardin"),
      (3L, "der hund ist nicht mit der katze und das ist ein problem"),
      (4L, "los gatos y los perros son animales y es un placer por ver"),
      (5L, "一二三四五"),
      (6L, "zzz qqq xxx")
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), text.langId(col("text")).as("l"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "en", 2L -> "fr", 3L -> "de", 4L -> "es", 5L -> "zh", 6L -> "unknown"))
  }
}
