package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val media = Seq(
    (1L, "abcdefgh".getBytes("UTF-8")),
    (2L, ("x" * 300).getBytes("UTF-8")),
    (3L, null.asInstanceOf[Array[Byte]])
  ).toDF("id", "payload")

  test("withMediaMeta attaches typed struct without decoding") {
    val m = Multimodal.withMediaMeta(media, "payload", "image", "png")
    val r = m.filter($"id" === 2L).select("media_meta.*").first()
    assert(r.getAs[String]("media_type") == "image")
    assert(r.getAs[Long]("n_bytes") == 300L)
    assert(r.getAs[String]("checksum").length == 32)
    // null payload -> null bytes/checksum, no crash
    val n = m.filter($"id" === 3L).select("media_meta.*").first()
    assert(n.isNullAt(n.fieldIndex("n_bytes")))
  }

  test("ImageIoDecoder recovers exact pixel values from a real PNG") {
    // 2x2 grayscale image with known pixels; PNG is lossless so the
    // decoded raster must reproduce them exactly.
    val png = Multimodal.pngBytes(2, 2, Array[Byte](10, 20, 30, 40))
    // Sanity: these are real PNG bytes (magic header), not a fake.
    assert((png(0) & 0xFF) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G')
    val d = new Multimodal.ImageIoDecoder(featDim = 4).decode(png)
    assert(d.width == 2 && d.height == 2)
    assert(d.channels == 1 && d.nFrames == 1)
    assert(d.pxMean == (10 + 20 + 30 + 40) / 4.0)
    // histogram: all four pixels fall in bin 0 (values < 64)
    assert(d.feature.toSeq == Seq(1f, 0f, 0f, 0f))
  }

  test("ImageIoDecoder handles BMP (lossless), JPEG (lossy dims) and animated GIF frames") {
    import javax.imageio.ImageIO
    ImageIO.setUseCache(false)
    def gray(w: Int, h: Int, px: Array[Byte]) = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      img.getRaster.setDataElements(0, 0, w, h, px)
      img
    }
    def enc(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val dec = new Multimodal.ImageIoDecoder()
    // BMP is lossless: dimensions and pixel mean must be exact (the
    // writer may widen gray to RGB; replicated bands keep the mean)
    val bmp = dec.decode(enc(gray(3, 2, Array[Byte](10, 20, 30, 40, 50, 60)), "bmp"))
    assert(bmp.width == 3 && bmp.height == 2)
    assert(bmp.pxMean == 35.0, s"bmp mean ${bmp.pxMean} channels ${bmp.channels}")
    // JPEG is lossy: exact dims, approximate pixels
    val jpg = dec.decode(enc(gray(8, 8, Array.fill(64)(100.toByte)), "jpg"))
    assert(jpg.width == 8 && jpg.height == 8 && jpg.nFrames == 1)
    assert(math.abs(jpg.pxMean - 100.0) < 5.0, s"jpeg mean ${jpg.pxMean}")
    // animated GIF: n_frames counts sub-images
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    (0 until 3).foreach { i =>
      val f = gray(2, 2, Array.fill(4)((i * 40).toByte))
      writer.writeToSequence(new javax.imageio.IIOImage(f, null, null), null)
    }
    writer.endWriteSequence(); ios.close(); writer.dispose()
    val gif = dec.decode(bos.toByteArray)
    assert(gif.nFrames == 3, s"gif frames ${gif.nFrames}")
    assert(gif.width == 2 && gif.height == 2)
  }

  test("decodeFeatures runs the real decoder per partition; nulls pass through") {
    val png = Multimodal.pngBytes(3, 1, Array[Byte](0, 100, -56)) // -56 = 200 unsigned
    val imgs = Seq((1L, png), (2L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "payload").repartition(2)
    val out = Multimodal.decodeFeatures(imgs, "payload")
    assert(out.columns.takeRight(6).toSeq ==
      Seq("width", "height", "n_frames", "channels", "px_mean", "feature"))
    val r = out.filter($"id" === 1L).first()
    assert(r.getAs[Int]("width") == 3 && r.getAs[Int]("height") == 1)
    assert(r.getAs[Int]("channels") == 1)
    assert(r.getAs[Double]("px_mean") == (0 + 100 + 200) / 3.0)
    val n = out.filter($"id" === 2L).first()
    assert(n.isNullAt(n.fieldIndex("feature")))
  }

  test("a poison payload degrades to null features instead of killing the job") {
    val png = Multimodal.pngBytes(2, 2, Array[Byte](1, 2, 3, 4))
    val imgs = Seq(
      (1L, png),
      (2L, "definitely not an image".getBytes("UTF-8")), // undecodable
      (3L, png.take(10))                                 // truncated header
    ).toDF("id", "payload")
    val out = Multimodal.decodeFeatures(imgs, "payload").collect()
      .map(r => r.getLong(0) -> r.isNullAt(r.fieldIndex("width"))).toMap
    assert(out == Map(1L -> false, 2L -> true, 3L -> true))
    // degenerate synthesize inputs degrade the same way
    val bad = Seq((1L, "", 4, 4), (2L, "abcd", 0, 4), (3L, "abcd", 3, 2))
      .toDF("doc_id", "hex", "w", "h")
    val media = Multimodal.synthesizeGrayPng(bad, "hex", "w", "h").collect()
      .map(r => r.getLong(0) -> r.isNullAt(r.fieldIndex("payload"))).toMap
    assert(media == Map(1L -> true, 2L -> true, 3L -> false))
  }

  test("synthesizeGrayPng -> decode round-trips the md5-hex pixel rule") {
    val base = Seq((7L, "0123456789abcdef0123456789abcdef", 5, 4))
      .toDF("doc_id", "hex", "w", "h")
    val media = Multimodal.synthesizeGrayPng(base, "hex", "w", "h")
    val out = Multimodal.decodeFeatures(media, "payload").first()
    assert(out.getAs[Int]("width") == 5 && out.getAs[Int]("height") == 4)
    // expected mean: ASCII codes of hex chars cycled over 20 pixels
    val hex = "0123456789abcdef0123456789abcdef"
    val exp = (0 until 20).map(i => hex.charAt(i % 32).toInt).sum / 20.0
    assert(out.getAs[Double]("px_mean") == exp)
  }

  test("resizeFeatures: exact pixel-area-partition means; too-small and poison rows null out") {
    // 4x4 raster resized to 2x2: the floor partition puts rows {0,1}
    // in ti=0, {2,3} in ti=1 (same for columns) — each cell is the
    // exact mean of its 4 member pixels (value = ascii(hex[i % 32]))
    val hex = "0123456789abcdef0123456789abcdef"
    val base = Seq((7L, hex, 4, 4)).toDF("doc_id", "hex", "w", "h")
    val media = Multimodal.synthesizeGrayPng(base, "hex", "w", "h")
    val out = Multimodal.resizeFeatures(media, "payload", outW = 2, outH = 2)
      .first()
    assert(out.getAs[Int]("thumb_w") == 2 && out.getAs[Int]("thumb_h") == 2)
    val px = Array.tabulate(4, 4)((r, c) => hex.charAt((r * 4 + c) % 32).toInt)
    def cell(ri: Range, ci: Range) =
      (for (r <- ri; c <- ci) yield px(r)(c)).sum / 4.0
    val exp = Seq(cell(0 to 1, 0 to 1), cell(0 to 1, 2 to 3),
      cell(2 to 3, 0 to 1), cell(2 to 3, 2 to 3))
    assert(out.getAs[scala.collection.Seq[Double]]("thumb").toSeq == exp)
    // a raster smaller than the target grid and a poison payload both
    // degrade to null thumbs (the decodeFeatures contract)
    val mixed = Multimodal.synthesizeGrayPng(
        Seq((1L, hex, 2, 2)).toDF("doc_id", "hex", "w", "h"), "hex", "w", "h")
      .unionByName(Seq((2L, Array[Byte](1, 2, 3)))
        .toDF("doc_id", "payload").withColumn("hex", lit(hex))
        .withColumn("w", lit(4)).withColumn("h", lit(4))
        .select("doc_id", "hex", "w", "h", "payload"))
    val nulls = Multimodal.resizeFeatures(mixed, "payload", 3, 3).collect()
      .map(r => r.getLong(0) -> r.isNullAt(r.fieldIndex("thumb"))).toMap
    assert(nulls == Map(1L -> true, 2L -> true))
  }

  test("resizeFeatures over RGB: per-band means, cell-interleaved layout") {
    // 4x4 RGB raster (band b at flat pixel i = ascii(hex[(3i+b)%32]))
    // resized to 2x2: thumb holds 2*2*3 values, flat index
    // (ti*2 + tj)*3 + band — each the exact mean of the cell's 4
    // member pixels in THAT band
    val hex = "0123456789abcdef0123456789abcdef"
    val base = Seq((7L, hex, 4, 4)).toDF("doc_id", "hex", "w", "h")
    val media = Multimodal.synthesizeRgbPng(base, "hex", "w", "h")
    val out = Multimodal.resizeFeatures(media, "payload", outW = 2, outH = 2)
      .first()
    assert(out.getAs[Int]("thumb_w") == 2 && out.getAs[Int]("thumb_h") == 2)
    assert(out.getAs[Int]("thumb_bands") == 3)
    def px(r: Int, c: Int, b: Int) = hex.charAt((3 * (r * 4 + c) + b) % 32).toInt
    def cell(ri: Range, ci: Range, b: Int) =
      (for (r <- ri; c <- ci) yield px(r, c, b)).sum / 4.0
    val exp = for {
      (ri, ci) <- Seq((0 to 1, 0 to 1), (0 to 1, 2 to 3),
        (2 to 3, 0 to 1), (2 to 3, 2 to 3))
      b <- 0 to 2
    } yield cell(ri, ci, b)
    assert(out.getAs[scala.collection.Seq[Double]]("thumb").toSeq == exp)
    // the single-band path keeps its historical layout: thumb_bands 1,
    // length outW*outH (pinned above) — q148's gate shape is unchanged
    val gray = Multimodal.synthesizeGrayPng(base, "hex", "w", "h")
    val g = Multimodal.resizeFeatures(gray, "payload", 2, 2).first()
    assert(g.getAs[Int]("thumb_bands") == 1 &&
      g.getAs[scala.collection.Seq[Double]]("thumb").length == 4)
  }

  test("palette-indexed images report color-space stats, not indices") {
    import javax.imageio.ImageIO
    ImageIO.setUseCache(false)
    // palette deliberately INVERTED vs index order: index 0 -> white,
    // index 1 -> black. Index-space stats would report mean 0 for an
    // all-index-0 image; color-space stats must report 255.
    val icm = new java.awt.image.IndexColorModel(1, 2,
      Array[Byte](255.toByte, 0), Array[Byte](255.toByte, 0), Array[Byte](255.toByte, 0))
    val img = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_BYTE_BINARY, icm)
    // all pixels index 0 (default) = white
    val bos = new java.io.ByteArrayOutputStream()
    assert(ImageIO.write(img, "gif", bos))
    val d = new Multimodal.ImageIoDecoder(featDim = 4).decode(bos.toByteArray)
    assert(d.pxMean == 255.0, s"palette not resolved: px_mean ${d.pxMean}")
    assert(d.channels == 3) // palette resolves to RGB
    assert(d.feature.toSeq == Seq(0f, 0f, 0f, 1f)) // all pixels in the top bin
  }

  test("AudioDecoder recovers rate/frames/amplitude from a real WAV sine") {
    // 0.5 s of a full-scale 440 Hz sine at 8 kHz mono 16-bit
    val rate = 8000; val n = 4000
    val samples = Array.tabulate[Short](n)(i =>
      (math.sin(2 * math.Pi * 440 * i / rate) * 32767).toShort)
    val wav = Multimodal.pcmBytes(rate, 1, samples)
    val d = new Multimodal.AudioDecoder().decode(wav)
    assert(d.width == rate && d.height == 16 && d.channels == 1)
    assert(d.nFrames == n) // duration = n_frames / width = 0.5 s
    // mean |sin| = 2/pi for a full-scale sine
    assert(math.abs(d.pxMean - 2 / math.Pi) < 1e-3, s"px_mean ${d.pxMean}")
    // steady tone: every time bin carries the same RMS (1/sqrt(2))
    assert(d.feature.length == 8)
    d.feature.foreach(e => assert(math.abs(e - 1 / math.sqrt(2)) < 1e-2))
  }

  test("AudioDecoder: AIFF (big-endian), stereo, and silence bins") {
    val rate = 4000; val n = 2000
    // left channel: sine; right channel: silence -> mean |amp| halves
    val inter = new Array[Short](2 * n)
    (0 until n).foreach { i =>
      inter(2 * i) = (math.sin(2 * math.Pi * 220 * i / rate) * 32767).toShort
      inter(2 * i + 1) = 0
    }
    val aiff = Multimodal.pcmBytes(rate, 2, inter, aiff = true)
    val d = new Multimodal.AudioDecoder().decode(aiff)
    assert(d.width == rate && d.channels == 2 && d.nFrames == n)
    assert(math.abs(d.pxMean - 1 / math.Pi) < 1e-3)
    // second half silent: energy collapses to the first 4 bins
    val halfSilent = Array.tabulate[Short](n)(i =>
      if (i < n / 2) (math.sin(2 * math.Pi * 220 * i / rate) * 32767).toShort
      else 0)
    val d2 = new Multimodal.AudioDecoder()
      .decode(Multimodal.pcmBytes(rate, 1, halfSilent))
    d2.feature.take(4).foreach(e => assert(e > 0.5f))
    d2.feature.drop(4).foreach(e => assert(e == 0f))
  }

  test("synthesizeSineWav -> AudioDecoder round-trips the size rule") {
    val base = Seq((1L, 100L), (2L, 1000L), (3L, -1L)).toDF("id", "n")
    val media = Multimodal.synthesizeSineWav(base, "n")
    val out = Multimodal.decodeFeatures(media, "payload",
      new Multimodal.AudioDecoder()).collect().map(r => r.getLong(0) -> r).toMap
    // len = 800 + n % 800 samples at 8 kHz; n_frames carries it back
    assert(out(1L).getAs[Int]("width") == 8000)
    assert(out(1L).getAs[Int]("n_frames") == 900)
    assert(out(2L).getAs[Int]("n_frames") == 1000)
    // near-full-scale sine: mean |amp| ~ 2/pi * 30000/32768
    val exp = 2 / math.Pi * 30000 / 32768
    assert(math.abs(out(2L).getAs[Double]("px_mean") - exp) < 0.01)
    assert(out(3L).isNullAt(out(3L).fieldIndex("width"))) // negative n -> null
  }

  test("synthesizeHexWav -> AudioDecoder round-trips the hex-sample rule exactly") {
    // samples are ASCII codes of the hex string cycled — exact small
    // integers, so the decoded envelope replays with NO tolerance
    val hex = "0123456789abcdef0123456789abcdef"
    val base = Seq((7L, hex, 40), (8L, "short", 40), (9L, hex, 0))
      .toDF("doc_id", "hex", "len")
    val media = Multimodal.synthesizeHexWav(base, "hex", "len")
    val rows = Multimodal.decodeFeatures(media, "payload",
        new Multimodal.AudioDecoder(featDim = 4))
      .collect().map(r => r.getLong(0) -> r).toMap
    // invalid hex / non-positive length degrade to null payload+stats
    assert(rows(8L).isNullAt(rows(8L).fieldIndex("n_frames")))
    assert(rows(9L).isNullAt(rows(9L).fieldIndex("n_frames")))
    val ok = rows(7L)
    assert(ok.getAs[Int]("width") == 8000 && ok.getAs[Int]("height") == 16)
    assert(ok.getAs[Int]("n_frames") == 40 && ok.getAs[Int]("channels") == 1)
    val a = Array.tabulate(40)(i => hex.charAt(i % 32).toInt)
    val expMean = a.map(_ / 32768.0).sum / 40.0
    assert(ok.getAs[Double]("px_mean") == expMean)
    val feat = ok.getAs[scala.collection.Seq[Float]]("feature")
    val expFeat = (0 until 4).map { b =>
      val m = a.zipWithIndex.collect { case (v, i) if i * 4 / 40 == b => v }
      math.sqrt(m.map(v => v * v / 1073741824.0).sum / m.length).toFloat
    }
    assert(feat.toSeq == expFeat)
  }

  test("decodeFeatures with AudioDecoder: partition reuse + poison row") {
    val rate = 8000
    val wav = Multimodal.pcmBytes(rate, 1,
      Array.tabulate[Short](800)(i => (math.sin(2 * math.Pi * 440 * i / rate) * 32767).toShort))
    val rows = Seq((1L, wav), (2L, "not audio".getBytes("UTF-8")), (3L, null))
      .toDF("id", "payload").repartition(2)
    val out = Multimodal.decodeFeatures(rows, "payload",
      new Multimodal.AudioDecoder()).collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Int]("width") == rate)
    assert(out(2L).isNullAt(out(2L).fieldIndex("width"))) // poison degrades
    assert(out(3L).isNullAt(out(3L).fieldIndex("width"))) // null passes through
  }

  test("VideoDecoder: DIB AVI round-trips exact pixel stats") {
    // 3 frames, 4x3, constant values 10/20/30 -> exact means
    val frames = Seq(10, 20, 30).map(v => Array.fill[Byte](12)(v.toByte))
    val avi = Multimodal.aviBytes(4, 3, 25, frames)
    val d = new Multimodal.VideoDecoder().decode(avi)
    assert(d.width == 4 && d.height == 3 && d.nFrames == 3 && d.channels == 3)
    assert(d.pxMean == 20.0) // (10+20+30)/3, exact: DIB is lossless
    // temporal bins: 8 bins over 3 frames -> frame means land in
    // bins floor(f*8/3) = 0, 2, 5 (normalized /255)
    assert(math.abs(d.feature(0) - 10f / 255f) < 1e-6)
    assert(math.abs(d.feature(2) - 20f / 255f) < 1e-6)
    assert(math.abs(d.feature(5) - 30f / 255f) < 1e-6)
    assert(d.feature(1) == 0f && d.feature(7) == 0f)
    // non-aligned width exercises the 4-byte row stride (3*5=15 -> 16)
    val odd = Multimodal.aviBytes(5, 2, 25, Seq(Array.fill[Byte](10)(100.toByte)))
    val d2 = new Multimodal.VideoDecoder().decode(odd)
    assert(d2.width == 5 && d2.pxMean == 100.0)
  }

  test("VideoDecoder: top-down DIB (negative biHeight) decodes like bottom-up") {
    // BITMAPINFOHEADER permits biHeight < 0 for top-down row order
    // (Windows capture tools emit this); every derived stat sums whole
    // frames, so the decode must match the bottom-up twin exactly
    val frames = Seq(10, 20, 30).map(v => Array.fill[Byte](12)(v.toByte))
    val avi = Multimodal.aviBytes(4, 3, 25, frames)
    val flipped = avi.clone()
    // locate the strf chunk; biHeight is 8 bytes into its BITMAPINFOHEADER
    val strf = flipped.indices.find(i => i + 4 <= flipped.length &&
      new String(flipped, i, 4, "US-ASCII") == "strf").get
    val hOff = strf + 8 + 8
    assert((flipped(hOff) & 0xFF) == 3) // sanity: reading biHeight=3
    val negH = -3
    (0 until 4).foreach(i => flipped(hOff + i) = ((negH >> (8 * i)) & 0xFF).toByte)
    val up = new Multimodal.VideoDecoder().decode(avi)
    val down = new Multimodal.VideoDecoder().decode(flipped)
    assert(down.height == 3 && down.width == up.width)
    assert(down.pxMean == up.pxMean && down.nFrames == up.nFrames)
    assert(down.feature.sameElements(up.feature))
  }

  test("VideoDecoder: MJPEG AVI decodes real JPEG frames") {
    val frames = (0 until 4).map(f => Array.fill[Byte](64 * 48)((40 + 40 * f).toByte))
    val avi = Multimodal.aviBytes(64, 48, 10, frames, mjpeg = true)
    val d = new Multimodal.VideoDecoder().decode(avi)
    assert(d.width == 64 && d.height == 48 && d.nFrames == 4)
    // JPEG is lossy but flat frames compress near-perfectly
    assert(math.abs(d.pxMean - (40 + 80 + 120 + 160) / 4.0) < 3.0)
    // brightness ramps across the 4 frames -> bins 0,2,4,6 increase
    val bins = Seq(0, 2, 4, 6).map(d.feature)
    assert(bins == bins.sorted && bins.head < bins.last)
  }

  test("decodeFeatures with VideoDecoder: poison + null degrade, H264 refused") {
    val avi = Multimodal.aviBytes(4, 4, 25, Seq(Array.fill[Byte](16)(7)))
    // a plausible-but-unsupported codec tag must fail by name, which
    // decodeFeatures degrades to null
    val fake = avi.clone()
    val strfData = new String(avi, "ISO-8859-1").indexOf("strf") + 8
    Array('H', '2', '6', '4').zipWithIndex.foreach { case (c, i) =>
      fake(strfData + 16 + i) = c.toByte }
    val rows = Seq((1L, avi), (2L, fake), (3L, "junk".getBytes), (4L, null))
      .toDF("id", "payload").repartition(2)
    val out = Multimodal.decodeFeatures(rows, "payload",
      new Multimodal.VideoDecoder()).collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Int]("width") == 4)
    Seq(2L, 3L, 4L).foreach(id =>
      assert(out(id).isNullAt(out(id).fieldIndex("width"))))
    val ex = intercept[IllegalArgumentException] {
      new Multimodal.VideoDecoder().decode(fake)
    }
    assert(ex.getMessage.contains("H264"))
  }

  test("synthesizeGrayAvi -> VideoDecoder round-trips the pixel rule") {
    val base = Seq(
      (1L, "0123456789abcdef0123456789abcdef", 5, 4, 3),
      (2L, "ffffffffffffffffffffffffffffffff", 4, 4, 2),
      (3L, null.asInstanceOf[String], 4, 4, 2)
    ).toDF("id", "hex", "w", "h", "nf")
    val media = Multimodal.synthesizeGrayAvi(base, "hex", "w", "h", "nf")
    val out = Multimodal.decodeFeatures(media, "payload",
      new Multimodal.VideoDecoder()).collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Int]("width") == 5 && out(1L).getAs[Int]("n_frames") == 3)
    // pixel (f, i) = hex[(f*20 + i) % 32]; mean over 60 samples
    val hex = "0123456789abcdef0123456789abcdef"
    val exp = (0 until 60).map(j => hex.charAt(j % 32).toInt).sum / 60.0
    assert(out(1L).getAs[Double]("px_mean") == exp) // lossless: exact
    assert(out(2L).getAs[Double]("px_mean") == 'f'.toInt.toDouble)
    assert(out(3L).isNullAt(out(3L).fieldIndex("width")))
  }

  test("StubDecoder still covers no-codec payloads (video stub)") {
    val out = Multimodal.decodeFeatures(media, "payload",
      new Multimodal.StubDecoder())
    val r = out.filter($"id" === 1L).first()
    assert(r.getAs[Int]("width") == 16 + 8)
    val feat = r.getSeq[Float](r.fieldIndex("feature"))
    assert(feat.length == 8)
    // deterministic stub: 'a' = 97
    assert(math.abs(feat.head - 97 / 255.0f) < 1e-6)
    val n = out.filter($"id" === 3L).first()
    assert(n.isNullAt(n.fieldIndex("feature")))
  }

  test("sampleAviFrames: per-frame bytes, stride, MJPEG frames decode standalone") {
    val frames = (0 until 6).map(f => Array.fill[Byte](32 * 16)((20 + 30 * f).toByte))
    val mj = Multimodal.aviBytes(32, 16, 10, frames, mjpeg = true)
    val rows = Seq((1L, mj), (2L, "junk".getBytes), (3L, null))
      .toDF("id", "payload")
    val all = Multimodal.sampleAviFrames(rows, "payload")
    // poison/null rows contribute zero frames; good row all 6
    assert(all.count() == 6 && all.filter($"id" =!= 1L).count() == 0)
    val strided = Multimodal.sampleAviFrames(rows, "payload", stride = 2)
      .select("frame_no").collect().map(_.getInt(0)).sorted
    assert(strided.sameElements(Array(0, 2, 4)))
    // each emitted MJPEG frame is a complete standalone JPEG
    val f2 = all.filter($"frame_no" === 2).head()
    assert(f2.getAs[String]("frame_format") == "MJPG")
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(f2.getAs[Array[Byte]]("frame")))
    assert(img.getWidth == 32 && img.getHeight == 16)
    // DIB variant: exact frame bytes (stride*h), right format tag
    val dib = Multimodal.aviBytes(5, 4, 10, Seq(Array.fill[Byte](20)(9)))
    val d = Multimodal.sampleAviFrames(Seq((1L, dib)).toDF("id", "payload"), "payload").head()
    assert(d.getAs[String]("frame_format") == "DIB")
    assert(d.getAs[Array[Byte]]("frame").length == 16 * 4) // stride 16 x 4 rows
  }

  // minimal RIFF assembly for multi-stream / OpenDML shapes aviBytes
  // (single-stream by design) cannot produce
  private def riffChunk(id: String, body: Array[Byte]): Array[Byte] = {
    val sz = body.length
    id.getBytes("US-ASCII") ++
      Array[Byte](sz.toByte, (sz >> 8).toByte, (sz >> 16).toByte, (sz >> 24).toByte) ++
      body ++ (if ((sz & 1) == 1) Array[Byte](0) else Array.empty[Byte])
  }
  private def riffList(kind: String, parts: Array[Byte]*): Array[Byte] =
    riffChunk("LIST", kind.getBytes("US-ASCII") ++ parts.flatten)
  private def bmih(w: Int, h: Int, fourcc: String): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(40).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
    if (fourcc == "DIB") b.putInt(0) else b.put(fourcc.getBytes("US-ASCII"))
    b.array()
  }
  private def strl(fccType: String, handler: String, fmt: Array[Byte]): Array[Byte] =
    riffList("strl",
      riffChunk("strh", fccType.getBytes("US-ASCII") ++
        handler.getBytes("US-ASCII") ++ Array.fill[Byte](48)(0)),
      riffChunk("strf", fmt))

  test("VideoDecoder + sampleAviFrames: only the first video stream's frames count") {
    // stream 0 = audio, stream 1 = DIB video: frame chunks are "01db",
    // audio data "00wb" — the decoder must key frames off the video
    // stream's NUMBER, not just the db/dc suffix
    val w = 4; val h = 2; val stride = (3 * w + 3) & ~3
    val vFrame = Array.fill[Byte](stride * h)(50)
    val hdrl = riffList("hdrl", riffChunk("avih", Array.fill[Byte](56)(0)),
      strl("auds", "    ", Array.fill[Byte](16)(0)),
      strl("vids", "DIB ", bmih(w, h, "DIB")))
    val movi = riffList("movi",
      riffChunk("00wb", Array.fill[Byte](7)(99)),
      riffChunk("01db", vFrame), riffChunk("00wb", Array.fill[Byte](5)(98)),
      riffChunk("01db", vFrame))
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    val avi = riffChunk("RIFF", body)
    val d = new Multimodal.VideoDecoder().decode(avi)
    assert(d.width == w && d.height == h && d.nFrames == 2 && d.pxMean == 50.0)
    val sampled = Multimodal.sampleAviFrames(
      Seq((1L, avi)).toDF("id", "payload"), "payload").collect()
    assert(sampled.length == 2 &&
      sampled.forall(_.getAs[Array[Byte]]("frame").length == stride * h))

    // two VIDEO streams (0 = DIB, 1 = MJPG): stream 1's "01dc" chunks
    // must not be routed through stream 0's codec/dimensions — before
    // the stream filter this threw "short DIB frame" on the junk
    val hdrl2 = riffList("hdrl", riffChunk("avih", Array.fill[Byte](56)(0)),
      strl("vids", "DIB ", bmih(w, h, "DIB")),
      strl("vids", "MJPG", bmih(64, 64, "MJPG")))
    val movi2 = riffList("movi",
      riffChunk("00db", Array.fill[Byte](stride * h)(30)),
      riffChunk("01dc", Array.fill[Byte](3)(1)),
      riffChunk("00db", Array.fill[Byte](stride * h)(30)))
    val avi2 = riffChunk("RIFF",
      "AVI ".getBytes("US-ASCII") ++ hdrl2 ++ movi2)
    val d2 = new Multimodal.VideoDecoder().decode(avi2)
    assert(d2.nFrames == 2 && d2.pxMean == 30.0)
  }

  test("sampleAviFrames recurses into OpenDML AVIX segments like VideoDecoder") {
    // main RIFF (2 frames via aviBytes, stream 0) + a second
    // top-level "RIFF…AVIX" movi segment carrying 3 more frames: the
    // two AVI walkers must agree on the frame count
    val w = 5; val h = 4; val stride = (3 * w + 3) & ~3
    val main = Multimodal.aviBytes(w, h, 10,
      Seq(Array.fill[Byte](w * h)(10), Array.fill[Byte](w * h)(20)))
    val extra = (1 to 3).map(v => riffChunk("00db",
      Array.fill[Byte](stride * h)((10 * v).toByte)))
    val avix = riffChunk("RIFF",
      "AVIX".getBytes("US-ASCII") ++ riffList("movi", extra: _*))
    val avi = main ++ avix
    val d = new Multimodal.VideoDecoder().decode(avi)
    assert(d.nFrames == 5)
    val sampled = Multimodal.sampleAviFrames(
      Seq((1L, avi)).toDF("id", "payload"), "payload")
      .select("frame_no").collect().map(_.getInt(0)).sorted
    assert(sampled.sameElements(0 until 5))
  }

  test("sampleFrames fans out frame plans without decoding") {
    val out = Multimodal.sampleFrames(media.filter($"id" === 2L), "payload",
      frameBytes = 100, stride = 2)
    val frames = out.select("frame_no", "frame_start", "frame_bytes")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(frames.toSeq == Seq((0, 0L, 100L), (2, 200L, 100L)))
  }

  test("chunkPayload splits and is reassemblable") {
    val out = Multimodal.chunkPayload(media.filter($"id" === 2L), "id", "payload", 128)
    val chunks = out.orderBy("chunk_no").collect()
      .map(_.getAs[Array[Byte]]("chunk"))
    assert(chunks.length == 3)
    assert(chunks.map(_.length).toSeq == Seq(128, 128, 44))
    assert(new String(chunks.flatten, "UTF-8") == "x" * 300)
  }

  // independent aHash reference: exact integer cross-multiplication
  // over the same area-partition cells, one count per pixel (the
  // operator counts per SAMPLE, which cancels — spec-pinned below)
  private def refAHash(w: Int, h: Int, grid: Int,
                       px: (Int, Int) => Int): Long = {
    val sums = new Array[Long](grid * grid)
    val cnts = new Array[Long](grid * grid)
    for (r <- 0 until h; c <- 0 until w) {
      val cell = (r * grid / h) * grid + (c * grid / w)
      sums(cell) += px(r, c); cnts(cell) += 1
    }
    val ts = sums.sum; val tc = cnts.sum
    (0 until grid * grid).foldLeft(0L)((acc, i) =>
      if (sums(i) * tc > ts * cnts(i)) acc | (1L << i) else acc)
  }

  test("perceptualHash: exact integer aHash, empty-cell 0-bits, brightness invariance") {
    val hex = "0123456789abcdef0123456789abcdef"
    def px(r: Int, c: Int) = hex.charAt((r * 5 + c) % 32).toInt
    // a 5x4 raster at the 8x8 grid leaves most cells empty — those
    // must read as 0-bits, and occupied cells must match the exact
    // integer comparison (never a float division)
    val base = Seq((1L, hex, 5, 4)).toDF("doc_id", "hex", "w", "h")
    val media5 = Multimodal.synthesizeGrayPng(base, "hex", "w", "h")
    val got = Multimodal.perceptualHash(media5, "payload")
      .first().getAs[Long]("phash")
    assert(got == refAHash(5, 4, 8, px))
    // brightness-shift invariance is EXACT: +40 on every pixel adds
    // 40·cellCount·totalCount to both sides of the comparison
    val p0 = Array.tabulate(20)(i => px(i / 5, i % 5).toByte)
    val p1 = p0.map(b => (b + 40).toByte) // max 102+40, no u8 wrap
    val imgs = Seq((1L, Multimodal.pngBytes(5, 4, p0)),
      (2L, Multimodal.pngBytes(5, 4, p1))).toDF("id", "payload")
    val hs = Multimodal.perceptualHash(imgs, "payload").collect()
      .sortBy(_.getLong(0)).map(_.getAs[Long]("phash"))
    assert(hs(0) == hs(1) && hs(0) == got)
  }

  test("perceptualHash folds every band of a multi-band raster into the cell sum") {
    // RGB: the operator sums all bands per cell and counts per
    // SAMPLE; the per-pixel band-sum reference with per-PIXEL counts
    // is equivalent because the 3x scales both comparison sides
    val hex = "0123456789abcdef0123456789abcdef"
    val base = Seq((1L, hex, 4, 4)).toDF("doc_id", "hex", "w", "h")
    val media4 = Multimodal.synthesizeRgbPng(base, "hex", "w", "h")
    val got = Multimodal.perceptualHash(media4, "payload", gridW = 4, gridH = 4)
      .first().getAs[Long]("phash")
    def pxSum(r: Int, c: Int) =
      (0 to 2).map(b => hex.charAt((3 * (r * 4 + c) + b) % 32).toInt).sum
    assert(got == refAHash(4, 4, 4, pxSum))
  }

  test("perceptualHash BigInt lane (>32Ki samples) matches the long-lane rule") {
    // a 200x200 raster (40k samples) crosses the 2^15 overflow-safety
    // threshold into the exact BigInt comparisons — same bits as the
    // independent reference implementation
    val w = 200; val h = 200
    def px(r: Int, c: Int) = (r * 31 + c * 7) % 251
    val pixels = Array.tabulate(w * h)(i => px(i / w, i % w).toByte)
    val img = Seq((1L, Multimodal.pngBytes(w, h, pixels))).toDF("id", "payload")
    val got = Multimodal.perceptualHash(img, "payload")
      .first().getAs[Long]("phash")
    // byte-stored samples read back unsigned: mirror the raster view
    assert(got == refAHash(w, h, 8, (r, c) => pixels(r * w + c) & 0xFF))
  }

  // independent audio-fingerprint reference over raw integer samples
  private def refAfp(samples: Array[Int], bins: Int): Long = {
    val es = new Array[Long](bins); val ec = new Array[Long](bins)
    for (f <- samples.indices) {
      val b = (f.toLong * bins / samples.length).toInt
      es(b) += samples(f).toLong * samples(f); ec(b) += 1
    }
    val ts = es.sum; val tc = ec.sum
    (0 until bins).foldLeft(0L)((acc, i) =>
      if (es(i) * tc > ts * ec(i)) acc | (1L << i) else acc)
  }

  test("audioFingerprint: exact integer energy bits; volume invariance; poison") {
    val hex = "0123456789abcdef0123456789abcdef"
    val len = 70
    val base = Seq((1L, hex, len)).toDF("doc_id", "hex", "len")
    val wav = Multimodal.synthesizeHexWav(base, "hex", "len")
    val got = Multimodal.audioFingerprint(wav, "payload", bins = 32)
      .first().getAs[Long]("afp")
    val samples = Array.tabulate(len)(i => hex.charAt(i % 32).toInt)
    assert(got == refAfp(samples, 32))
    assert(got != 0L) // the rule actually set bits
    // volume invariance is EXACT: doubling every sample scales both
    // sides of the energy comparison by 4
    val s1 = samples.map(_.toShort)
    val s2 = samples.map(v => (v * 2).toShort)
    val two = Seq((1L, Multimodal.pcmBytes(8000, 1, s1)),
      (2L, Multimodal.pcmBytes(8000, 1, s2))).toDF("id", "payload")
    val fps = Multimodal.audioFingerprint(two, "payload", bins = 32)
      .collect().sortBy(_.getLong(0)).map(_.getAs[Long]("afp"))
    assert(fps(0) == fps(1) && fps(0) == got)
    // poison: null and undecodable payloads degrade to null
    val bad = Seq((1L, null.asInstanceOf[Array[Byte]]),
      (2L, Array[Byte](1, 2, 3))).toDF("id", "payload")
    val nulls = Multimodal.audioFingerprint(bad, "payload").collect()
      .map(r => r.getLong(0) -> r.isNullAt(r.fieldIndex("afp"))).toMap
    assert(nulls == Map(1L -> true, 2L -> true))
  }

  test("perceptualHash poison contract and grid bound") {
    val mixed = Seq((1L, null.asInstanceOf[Array[Byte]]),
      (2L, Array[Byte](9, 9, 9))).toDF("id", "payload")
    val out = Multimodal.perceptualHash(mixed, "payload").collect()
      .map(r => r.getLong(0) -> r.isNullAt(r.fieldIndex("phash"))).toMap
    assert(out == Map(1L -> true, 2L -> true))
    val e = intercept[IllegalArgumentException] {
      Multimodal.perceptualHash(mixed, "payload", gridW = 9, gridH = 8)
    }
    assert(e.getMessage.contains("max 64"))
  }

  test("resizeFeatures and perceptualHash decode through ImageIO's memory cache") {
    import javax.imageio.ImageIO
    val png = Multimodal.pngBytes(4, 4, Array.tabulate[Byte](16)(i => (i * 16).toByte))
    val df = Seq((1L, png)).toDF("id", "payload")
    val before = ImageIO.getUseCache
    try {
      ImageIO.setUseCache(true)
      assert(!Multimodal.perceptualHash(df, "payload").first().isNullAt(2))
      assert(!ImageIO.getUseCache, "perceptualHash read through ImageIO's disk cache")
      ImageIO.setUseCache(true)
      assert(!Multimodal.resizeFeatures(df, "payload", 2, 2).first().isNullAt(2))
      assert(!ImageIO.getUseCache, "resizeFeatures read through ImageIO's disk cache")
    } finally ImageIO.setUseCache(before)
  }

  test("RGB PNG, AVI and WAV synthesizers: null and degenerate inputs give a null payload and keep the row") {
    def nullPayloads(df: org.apache.spark.sql.DataFrame): Map[Long, Boolean] =
      df.collect().map(r => r.getLong(0) -> r.isNullAt(r.fieldIndex("payload"))).toMap
    val hex = "0123456789abcdef0123456789abcdef"
    val img = Seq[(Long, Option[String], Option[Int], Option[Int])](
      (1L, Some(hex), Some(3), Some(2)), (2L, None, Some(3), Some(2)),
      (3L, Some(hex), None, Some(2)), (4L, Some(hex), Some(3), None),
      (5L, Some(""), Some(3), Some(2)), (6L, Some(hex), Some(0), Some(2)),
      (7L, Some(hex), Some(3), Some(-1))).toDF("id", "hex", "w", "h")
    val imgWant = (1L to 7L).map(i => i -> (i != 1L)).toMap
    assert(nullPayloads(Multimodal.synthesizeRgbPng(img, "hex", "w", "h")) == imgWant)

    val avi = Seq[(Long, Option[String], Option[Int], Option[Int], Option[Int])](
      (1L, Some(hex), Some(3), Some(2), Some(2)), (2L, None, Some(3), Some(2), Some(2)),
      (3L, Some(hex), None, Some(2), Some(2)), (4L, Some(hex), Some(3), None, Some(2)),
      (5L, Some(hex), Some(3), Some(2), None), (6L, Some(""), Some(3), Some(2), Some(2)),
      (7L, Some(hex), Some(0), Some(2), Some(2)), (8L, Some(hex), Some(3), Some(0), Some(2)),
      (9L, Some(hex), Some(3), Some(2), Some(0))).toDF("id", "hex", "w", "h", "nf")
    assert(nullPayloads(Multimodal.synthesizeGrayAvi(avi, "hex", "w", "h", "nf")) ==
      (1L to 9L).map(i => i -> (i != 1L)).toMap)

    val sine = Seq[(Long, Option[Long])]((1L, Some(0L)), (2L, None), (3L, Some(-1L)))
      .toDF("id", "n")
    assert(nullPayloads(Multimodal.synthesizeSineWav(sine, "n")) ==
      Map(1L -> false, 2L -> true, 3L -> true))

    val wav = Seq[(Long, Option[String], Option[Int])](
      (1L, Some(hex), Some(40)), (2L, None, Some(40)), (3L, Some(hex), None),
      (4L, Some(hex.take(31)), Some(40)), (5L, Some(hex), Some(0)))
      .toDF("id", "hex", "len")
    assert(nullPayloads(Multimodal.synthesizeHexWav(wav, "hex", "len")) ==
      Map(1L -> false, 2L -> true, 3L -> true, 4L -> true, 5L -> true))
  }

  test("audioFingerprint: AIFF (big-endian) and two identical stereo channels equal the mono WAV") {
    val hex = "0123456789abcdef0123456789abcdef"
    val mono = Array.tabulate[Short](70)(i => hex.charAt(i % 32).toShort)
    val stereo = mono.flatMap(v => Array(v, v))
    val clips = Seq(
      (1L, Multimodal.pcmBytes(8000, 1, mono)),
      (2L, Multimodal.pcmBytes(8000, 1, mono, aiff = true)),
      (3L, Multimodal.pcmBytes(8000, 2, stereo)),
      (4L, Multimodal.pcmBytes(8000, 2, stereo, aiff = true))).toDF("id", "payload")
    val fps = Multimodal.audioFingerprint(clips, "payload", bins = 32).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("afp")).toMap
    val want = refAfp(mono.map(_.toInt), 32)
    assert(want != 0L)
    assert(fps == (1L to 4L).map(_ -> want).toMap)
  }
}
