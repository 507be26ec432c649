package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.Multimodal

class MultimodalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = LocalSession(4)
  import spark.implicits._

  test("pngFor emits real decodable PNGs with the declared dims") {
    for (cls <- 0 until Multimodal.imageClasses) {
      val d = Multimodal.decodeImage(Multimodal.pngFor(cls))
      assert(d.width == 48 + cls * 8)
      assert(d.height == 32 + cls * 8)
      assert(d.channels == 3)
    }
  }

  test("the 8 pattern classes average-hash distinctly; identical class hashes identically") {
    val hashes = (0 until Multimodal.imageClasses)
      .map(c => Multimodal.decodeImage(Multimodal.pngFor(c)).ahash)
    assert(hashes.distinct.size == Multimodal.imageClasses)
    // decode is deterministic: same bytes → same hash
    val again = (0 until Multimodal.imageClasses)
      .map(c => Multimodal.decodeImage(Multimodal.pngFor(c)).ahash)
    assert(hashes == again)
  }

  test("decodeImage handles null and garbage payloads") {
    assert(Multimodal.decodeImage(null) == null)
    assert(Multimodal.decodeImage(Array[Byte](1, 2, 3)) == null)
    // a TRUNCATED stream with a valid PNG signature makes ImageIO.read
    // throw (not return null) — must null the row, not fail the task
    val truncated = Multimodal.pngFor(0).take(40)
    assert(Multimodal.decodeImage(truncated) == null)
  }

  test("decodeImage on a HAND-CONSTRUCTED PNG (no ImageIO on the encode side)") {
    // 8×8 RGB PNG written chunk-by-chunk: IHDR + IDAT (raw deflate of
    // filter-0 scanlines) + IEND, CRCs via java.util.zip.CRC32. Left 4
    // columns black, right 4 white → the 8×8 average-hash needs no
    // resampling and is exactly 'white pixel' bits: 0xF0 per row.
    def chunk(tag: String, body: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val d = new java.io.DataOutputStream(bos)
      d.writeInt(body.length)
      d.write(tag.getBytes("US-ASCII"))
      d.write(body)
      val crc = new java.util.zip.CRC32()
      crc.update(tag.getBytes("US-ASCII")); crc.update(body)
      d.writeInt(crc.getValue.toInt)
      bos.toByteArray
    }
    val ihdr = {
      val b = java.nio.ByteBuffer.allocate(13)
      b.putInt(8).putInt(8) // width, height
      b.put(8.toByte)       // bit depth
      b.put(2.toByte)       // color type: truecolor RGB
      b.put(0.toByte).put(0.toByte).put(0.toByte) // deflate/adaptive/none
      b.array()
    }
    val raw = new java.io.ByteArrayOutputStream()
    for (_ <- 0 until 8) {
      raw.write(0) // filter type None
      for (x <- 0 until 8; _ <- 0 until 3) raw.write(if (x < 4) 0 else 255)
    }
    val deflated = {
      val d = new java.util.zip.Deflater()
      d.setInput(raw.toByteArray); d.finish()
      val buf = new Array[Byte](1024)
      val n = d.deflate(buf); d.end()
      buf.take(n)
    }
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    val png = sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", deflated) ++
      chunk("IEND", Array.empty)
    val dec = Multimodal.decodeImage(png)
    assert(dec != null, "hand-built PNG failed to decode")
    assert(dec.width == 8 && dec.height == 8 && dec.channels == 3)
    // bit i set iff pixel i is the white half: columns 4-7 of every row
    assert(dec.ahash == 0xF0F0F0F0F0F0F0F0L,
      f"ahash=0x${dec.ahash}%016x")
  }

  test("decodeAudio on a HAND-CONSTRUCTED RIFF/WAV (no AudioSystem on the encode side)") {
    // 16-bit mono 8 kHz, 1000 frames of constant +2000 → duration 125 ms,
    // RMS exactly 2000. Header written field-by-field (RIFF spec), not
    // via javax.sound encoding.
    val n = 1000
    val b = java.nio.ByteBuffer.allocate(44 + n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + n * 2)
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
    b.putShort(1)            // PCM
    b.putShort(1)            // mono
    b.putInt(8000)           // sample rate
    b.putInt(8000 * 2)       // byte rate
    b.putShort(2)            // block align
    b.putShort(16)           // bits per sample
    b.put("data".getBytes("US-ASCII")).putInt(n * 2)
    for (_ <- 0 until n) b.putShort(2000)
    val dec = Multimodal.decodeAudio(b.array())
    assert(dec != null, "hand-built WAV failed to decode")
    assert(dec.sample_rate == 8000 && dec.channels == 1)
    assert(dec.duration_ms == 125)
    assert(math.abs(dec.rms - 2000.0) < 1e-6, s"rms=${dec.rms}")
  }

  test("cross-format: the same pattern as PNG and JPEG decodes to equal dims + ahash") {
    // a decoder bug symmetric with the PNG encoder can't also be
    // symmetric with the independent JPEG codec; high-contrast halves
    // keep the average-hash identical through JPEG loss
    val img = new java.awt.image.BufferedImage(
      32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 32)
      img.setRGB(x, y, if (x < 16) 0x000000 else 0xffffff)
    def enc(fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val (png, jpg) = (Multimodal.decodeImage(enc("png")),
      Multimodal.decodeImage(enc("jpg")))
    assert(png != null && jpg != null)
    assert(png.width == 32 && jpg.width == 32 && png.height == 32 &&
      jpg.height == 32)
    assert(png.ahash == jpg.ahash,
      f"png=0x${png.ahash}%016x jpg=0x${jpg.ahash}%016x")
    assert(png.ahash == 0xF0F0F0F0F0F0F0F0L)
  }

  test("wavFor emits real decodable WAV with the declared rate/duration") {
    for (cls <- 0 until Multimodal.imageClasses) {
      val a = Multimodal.decodeAudio(Multimodal.wavFor(cls))
      assert(a.sample_rate == 16000)
      assert(a.channels == 1)
      assert(a.duration_ms == 200 + 50 * cls)
      // a 12000-amplitude sine's RMS is 12000/sqrt(2) ~ 8485
      assert(a.rms > 8400 && a.rms < 8600, s"rms=${a.rms}")
    }
    assert(Multimodal.decodeAudio(null) == null)
    assert(Multimodal.decodeAudio(Array[Byte](9, 9, 9)) == null)
  }

  test("aviFor emits a real MJPEG AVI; decodeVideo demuxes dims/frames/duration") {
    for (cls <- 0 until Multimodal.imageClasses) {
      val v = Multimodal.decodeVideo(Multimodal.aviFor(cls))
      assert(v != null, s"class $cls failed to decode")
      assert(v.width == 48 + 8 * cls && v.height == 32 + 8 * cls)
      assert(v.frames == 4 + cls)
      assert(v.duration_ms == (4 + cls) * 100L)
    }
    assert(Multimodal.decodeVideo(null) == null)
    assert(Multimodal.decodeVideo(Array[Byte](1, 2, 3)) == null)
    // truncated container → null row, not a task failure
    assert(Multimodal.decodeVideo(Multimodal.aviFor(0).take(60)) == null)
  }

  test("sampleVideoFrames decodes every Nth frame; the moving bar hashes frames distinctly") {
    // class 4 → 8 frames at 10 fps; every 2nd → indices 0,2,4,6
    val fr = Multimodal.sampleVideoFrames(Multimodal.aviFor(4), 2)
    assert(fr.map(_._1) == Seq(0, 2, 4, 6))
    assert(fr.map(_._2) == Seq(0L, 200L, 400L, 600L))
    // the sweeping bar makes sampled frames perceptually distinct
    assert(fr.map(_._3).distinct.size >= 3, fr.map(_._3).toString)
  }

  test("sniffModality detects containers from magic bytes; decodeAny dispatches") {
    assert(Multimodal.sniffModality(Multimodal.pngFor(0)) == "image")
    assert(Multimodal.sniffModality(Multimodal.wavFor(0)) == "audio")
    assert(Multimodal.sniffModality(Multimodal.aviFor(0)) == "video")
    // JPEG SOI sniffs as image too
    val img = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    assert(Multimodal.sniffModality(bos.toByteArray) == "image")
    assert(Multimodal.sniffModality(null) == null)
    assert(Multimodal.sniffModality(Array[Byte](1, 2, 3)) == null)
    val v = Multimodal.decodeAny(Multimodal.aviFor(2))
    assert(v.modality == "video" && v.frames == 6 && v.sample_rate == null)
    val a = Multimodal.decodeAny(Multimodal.wavFor(2))
    assert(a.modality == "audio" && a.sample_rate == 16000 && a.width == null)
    val i = Multimodal.decodeAny(Multimodal.pngFor(2))
    assert(i.modality == "image" && i.width == 64 && i.duration_ms == null)
    assert(Multimodal.decodeAny(Array[Byte](9, 9, 9)) == null)
  }

  test("content keys: distinct per class within every modality, stable per class") {
    // the multimodal_dedup_pipeline oracle's premise: duplicate groups
    // are exactly the (modality, class) cells — so each modality's 8
    // classes must key DISTINCTLY and identical bytes identically
    def keysOf(mk: Int => Array[Byte]) =
      (0 until 8).map(c => Multimodal.contentKey(mk(c)))
    for ((mk, m) <- Seq(
        ((c: Int) => Multimodal.pngFor(c), "image"),
        ((c: Int) => Multimodal.wavFor(c), "audio"),
        ((c: Int) => Multimodal.aviFor(c), "video"))) {
      val ks = keysOf(mk)
      assert(ks.forall(_ != null) && ks.forall(_.modality == m), m)
      assert(ks.map(_.key).distinct.size == 8, s"$m keys collide: $ks")
      assert(keysOf(mk) == ks, s"$m keys unstable")
    }
    assert(Multimodal.contentKey(Array[Byte](9, 9, 9)) == null)
  }

  test("phashCanonical groups by perceptual hash end-to-end") {
    val events = spark.range(0, 40).select(col("id").as("event_id"))
    val assets = Multimodal.imageAssets(spark, events)
    val out = Multimodal.phashCanonical(Multimodal.decodeImages(assets))
      .select($"media_id", $"canonical_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // canonical = min id of the same class (id % 8)
    for (id <- 0L until 40L) assert(out(id) == id % 8)
  }

  test("ahashNearDupPairs: banded join finds d<=3 pairs, excludes exact and far") {
    val reps = Seq(
      (1L, 0x0L),                 // base
      (2L, 0x1L),                 // ham 1 from base
      (3L, 0x7L),                 // ham 3 from base, 2 from id 2
      (4L, 0x0L),                 // exact collision with base -> ham 0, excluded
      (5L, 0xFFFFFFFFFFFFFFFFL)   // far from everything (ham >= 61)
    ).toDF("rep", "key")
    val pairs = Multimodal.ahashNearDupPairs(reps, "rep", "key")
      .select($"id_a", $"id_b", $"hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs == Map((1L, 2L) -> 1, (1L, 3L) -> 3, (2L, 3L) -> 2,
      (2L, 4L) -> 1, (3L, 4L) -> 3))
  }

  test("near-dup fixture: variants decode within 3 bits of base, classes far apart") {
    val base0 = Multimodal.decodeImage(Multimodal.nearDupImageFor(0, 0, jpeg = false)).ahash
    val jpeg0 = Multimodal.decodeImage(Multimodal.nearDupImageFor(0, 0, jpeg = true)).ahash
    val f3 = Multimodal.decodeImage(Multimodal.nearDupImageFor(0, 3, jpeg = false)).ahash
    val base1 = Multimodal.decodeImage(Multimodal.nearDupImageFor(1, 0, jpeg = false)).ahash
    assert(java.lang.Long.bitCount(base0 ^ jpeg0) == 0) // lossy re-encode, same ahash
    assert(java.lang.Long.bitCount(base0 ^ f3) == 3)    // flips are exact bits
    assert(java.lang.Long.bitCount(base0 ^ base1) > 3)  // classes separable
  }

  test("phashCanonical keeps undecodable payloads as their own canonical") {
    val events = spark.range(0, 16).select(col("id").as("event_id"))
    val assets = Multimodal.imageAssets(spark, events)
    val broken = Seq((999L, Array[Byte](1, 2, 3))).toDF("media_id", "content")
      .withColumn("modality", lit("image"))
    val all = assets.select($"media_id", $"content", $"modality")
      .unionByName(broken)
    val out = Multimodal.phashCanonical(Multimodal.decodeImages(all))
      .select($"media_id", $"canonical_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 17, "decode-failed row must survive canonicalization")
    assert(out(999L) == 999L) // no hash -> its own canonical
    for (id <- 0L until 16L) assert(out(id) == id % 8)
  }
}
