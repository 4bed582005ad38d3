package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing for training-data
  * pipelines (builder prompt §beyond-reference).
  *
  * Media travel as opaque `binary` columns + a typed metadata struct;
  * decode/feature steps run per-partition so per-batch codec setup
  * amortizes (the Scala analog of `mapInPandas` batch processing).
  *
  * Image decode is REAL: [[ImageIoDecoder]] parses PNG/JPEG/BMP/GIF
  * payloads with `javax.imageio` (ships in the JDK — no external
  * codec library needed) and extracts true dimensions, channel count,
  * frame count and pixel statistics. Audio decode is REAL:
  * [[AudioDecoder]] parses WAV/AIFF/AU PCM with `javax.sound.sampled`
  * (also JDK built-in) — sample rate, channels, frame count,
  * amplitude stats, per-bin energy. Video decode is REAL for AVI
  * containers: [[VideoDecoder]] walks the RIFF structure and decodes
  * uncompressed-DIB and MJPEG frames (again pure JDK). Only
  * inter-frame codecs (H.264/VP9/...) remain behind the deterministic
  * [[StubDecoder]] — they genuinely need an external decoder, and
  * swapping in an ffmpeg-backed one is a one-class change because the
  * Spark-side contracts (schema, batching, partitioning, null
  * passthrough) are shared and tested.
  */
object Multimodal {

  /** Typed metadata carried with every media payload. */
  val MediaMetaType: StructType = StructType(Seq(
    StructField("media_type", StringType),   // "image" | "audio" | "video"
    StructField("format", StringType),       // container/codec tag
    StructField("n_bytes", LongType),
    StructField("checksum", StringType)))    // md5 of payload

  /** Decoded-feature schema appended by [[decodeFeatures]]. */
  val FeatureType: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("channels", IntegerType),
    StructField("px_mean", DoubleType),       // mean over all samples
    StructField("feature", ArrayType(FloatType)))) // fixed-dim embedding

  /** One decoded media payload. `pxMean` is the mean over every
    * sample of every band of the first frame; `feature` is a
    * fixed-dim embedding (for images: a normalized intensity
    * histogram — the cheap downstream-dedup signal).
    */
  final case class Decoded(width: Int, height: Int, nFrames: Int,
                           channels: Int, pxMean: Double,
                           feature: Array[Float])

  /** Pluggable decoder: payload bytes → [[Decoded]]. One instance is
    * reused across a whole partition, so stateful codecs amortize
    * their init cost.
    */
  trait Decoder extends Serializable {
    def decode(payload: Array[Byte]): Decoded
  }

  /** REAL image decoder backed by `javax.imageio` (JDK built-in):
    * handles PNG, JPEG, BMP, GIF and WBMP. Width/height/channels come
    * from the decoded raster; `n_frames` counts sub-images (animated
    * GIF frames); `px_mean` averages every sample of every band of
    * frame 0; `feature` is a `featDim`-bin intensity histogram over
    * band 0, L1-normalized. Palette-indexed images (GIF, PNG-8)
    * resolve through the palette first — their raster samples are
    * indices, not intensities — so stats are always color-space. Throws on undecodable bytes — feed video
    * payloads to [[StubDecoder]] instead.
    */
  final class ImageIoDecoder(featDim: Int = 8) extends Decoder {
    override def decode(p: Array[Byte]): Decoded = {
      val iis = memoryCached(javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(p)))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        require(readers.hasNext, "undecodable image payload (no ImageIO reader)")
        val reader = readers.next()
        reader.setInput(iis, false, true)
        try {
          // allowSearch=true: exact frame count (animated GIF); for
          // single-frame formats this returns 1 without extra IO.
          val nFrames = math.max(1, reader.getNumImages(true))
          val img = reader.read(0)
          val w = img.getWidth; val h = img.getHeight
          val hist = new Array[Float](featDim)
          var sum = 0.0
          var bands = 0
          var n = 0L
          img.getColorModel match {
            case icm: java.awt.image.IndexColorModel =>
              // palette images (GIF, PNG-8): raster samples are palette
              // INDICES, not intensities — stats must come from the
              // looked-up colors or px_mean/histogram are meaningless on
              // arbitrary corpora. One palette dump up front (≤256
              // entries) keeps the per-pixel cost a table lookup instead
              // of a ColorModel conversion call per pixel; band 0 (the
              // histogram band) is red, matching the component path's
              // band order.
              val palette = new Array[Int](icm.getMapSize)
              icm.getRGBs(palette)
              val raster = img.getRaster
              bands = 3
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val rgb = palette(raster.getSample(x, y, 0))
                  val r = (rgb >> 16) & 0xFF
                  sum += r + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
                  hist(math.min(featDim - 1, r * featDim / 256)) += 1f
                  x += 1
                }
                y += 1
              }
              n = w.toLong * h * 3
            case _ =>
              val raster = img.getRaster
              bands = raster.getNumBands
              // normalize deeper-than-8-bit samples (USHORT_GRAY
              // PNGs/TIFFs) to the 8-bit domain — raw 16-bit values
              // would pile the whole histogram into the top bin and
              // put px_mean on a 0..65535 scale, breaking cross-image
              // comparability (the decoder's whole purpose)
              val shifts = Array.tabulate(bands) { b =>
                math.max(0, raster.getSampleModel.getSampleSize(b) - 8)
              }
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  var b = 0
                  while (b < bands) {
                    val s = raster.getSample(x, y, b) >> shifts(b)
                    sum += s
                    if (b == 0) {
                      val bin = math.min(featDim - 1, s * featDim / 256)
                      hist(bin) += 1f
                    }
                    b += 1
                  }
                  x += 1
                }
                y += 1
              }
              n = w.toLong * h * bands
          }
          var i = 0
          while (i < featDim) { hist(i) /= (w.toLong * h); i += 1 }
          Decoded(w, h, nFrames, bands, if (n == 0) 0.0 else sum / n, hist)
        } finally reader.dispose()
      } finally iis.close()
    }
  }

  /** The cached audio-reader SPI list, shared by [[AudioDecoder]] and
    * [[audioFingerprint]]. JVM-singleton (an object's lazy val), so
    * the ServiceLoader scan prices once per executor rather than once
    * per decoder instance — the hazards it bypasses are documented on
    * [[AudioDecoder]].
    */
  private[operators] object AudioSpi {
    /** Every installed provider of `cls`, one ServiceLoader scan. */
    def providers[T: scala.reflect.ClassTag](cls: Class[T]): Array[T] = {
      import scala.jdk.CollectionConverters._
      java.util.ServiceLoader.load(cls).asScala.toArray
    }
    lazy val readers: Array[javax.sound.sampled.spi.AudioFileReader] =
      providers(classOf[javax.sound.sampled.spi.AudioFileReader])
        .filterNot(_.getClass.getName.contains("Midi"))
    def open(p: Array[Byte]): javax.sound.sampled.AudioInputStream = {
      var i = 0
      while (i < readers.length) {
        try return readers(i)
          .getAudioInputStream(new java.io.ByteArrayInputStream(p))
        catch { case _: javax.sound.sampled.UnsupportedAudioFileException => () }
        i += 1
      }
      throw new javax.sound.sampled.UnsupportedAudioFileException(
        "no audio reader recognizes payload")
    }
  }

  /** Receives one PCM sample: (frame, channel, centred sample). A SAM
    * trait rather than a Function3, which would box every sample. */
  private[operators] trait SampleVisitor {
    def apply(frame: Int, channel: Int, sample: Long): Unit
  }

  /** One PCM payload read through [[AudioSpi]]: signed or unsigned
    * PCM, 8/16/24/32-bit, either endianness, channels interleaved
    * frame-major. Throws on anything else. */
  private[operators] final class Pcm(p: Array[Byte]) {
    import javax.sound.sampled.AudioFormat.Encoding
    private val (format, data) = {
      val ais = AudioSpi.open(p)
      try (ais.getFormat, ais.readAllBytes()) finally ais.close()
    }
    private val enc = format.getEncoding
    require(enc == Encoding.PCM_SIGNED || enc == Encoding.PCM_UNSIGNED,
      s"unsupported audio encoding $enc (PCM_SIGNED/PCM_UNSIGNED only)")
    val bits: Int = format.getSampleSizeInBits
    require(bits == 8 || bits == 16 || bits == 24 || bits == 32,
      s"unsupported PCM sample size $bits bits")
    val channels: Int = format.getChannels
    private val bps = bits / 8
    private val frameSize = format.getFrameSize
    require(frameSize == channels * bps,
      s"unexpected PCM frame size $frameSize for $channels ch x $bps B")
    val sampleRate: Int = format.getSampleRate.toInt
    val nFrames: Int = data.length / frameSize

    /** Visit every sample in frame order: unsigned PCM centred on 0,
      * signed PCM sign-extended. */
    def foreach(visit: SampleVisitor): Unit = {
      val big = format.isBigEndian
      val unsigned = enc == Encoding.PCM_UNSIGNED
      var f = 0
      while (f < nFrames) {
        var c = 0
        while (c < channels) {
          val off = f * frameSize + c * bps
          var v = 0L
          var i = 0
          while (i < bps) {
            val b = data(off + i) & 0xFFL
            v |= (if (big) b << (8 * (bps - 1 - i)) else b << (8 * i))
            i += 1
          }
          visit(f, c, if (unsigned) v - (1L << (bits - 1))
                      else (v << (64 - bits)) >> (64 - bits))
          c += 1
        }
        f += 1
      }
    }
  }

  /** REAL audio decoder backed by `javax.sound.sampled` (JDK
    * built-in): handles WAV, AIFF and AU containers carrying PCM
    * (signed or unsigned, 8/16/24/32-bit, either endianness). The
    * shared [[Decoded]] contract maps as: `width` = sample rate (Hz),
    * `height` = bits per sample, `n_frames` = sample frames (so
    * duration_sec = n_frames / width), `channels` = channels,
    * `px_mean` = mean |amplitude| normalized to [0, 1], `feature` =
    * RMS energy over `featDim` equal time bins (the cheap
    * silence/activity signal for downstream filtering). Throws on
    * non-PCM or unrecognized containers — poison rows degrade to null
    * via [[decodeFeatures]]' catch, same as images.
    */
  final class AudioDecoder(featDim: Int = 8) extends Decoder {
    // Two JDK hot-path hazards bypassed here, measured on 50k rows /
    // 32 threads (12.5 s -> 0.55 s, serial-contention -> flat):
    // 1. AudioSystem.getAudioInputStream re-runs SPI provider
    //    discovery on EVERY call (JDK13Services.getProviders is
    //    uncached) — one ServiceLoader scan per JVM instead
    //    ([[AudioSpi]], shared with audioFingerprint).
    // 2. The provider list puts Gervill's SoftMidiAudioFileReader
    //    AHEAD of WaveFileReader, so every WAV/AIFF open first paid a
    //    full MIDI-parse attempt with its own uncached MidiSystem SPI
    //    scans (~5 ms, globally lock-contended). This decoder reads
    //    PCM CONTAINERS only — MIDI is a score, not audio, and
    //    rendering it through a softsynth is out of scope — so the
    //    MIDI reader is excluded (such payloads degrade to null like
    //    any other undecodable row).
    override def decode(p: Array[Byte]): Decoded = {
      val pcm = new Pcm(p)
      val nFrames = pcm.nFrames
      val full = (1L << (pcm.bits - 1)).toDouble
      val energy = new Array[Double](featDim)
      val counts = new Array[Long](featDim)
      var sumAbs = 0.0
      pcm.foreach { (f, _, v) =>
        val bin = (f.toLong * featDim / nFrames).toInt
        val s = v / full
        sumAbs += math.abs(s)
        energy(bin) += s * s
        counts(bin) += 1
      }
      val feat = Array.tabulate(featDim)(i =>
        if (counts(i) == 0) 0f else math.sqrt(energy(i) / counts(i)).toFloat)
      val n = nFrames.toLong * pcm.channels
      Decoded(pcm.sampleRate, pcm.bits, nFrames, pcm.channels,
        if (n == 0) 0.0 else sumAbs / n, feat)
    }
  }

  /** Encode 16-bit signed PCM samples as a WAV (little-endian) or
    * AIFF (big-endian) container via `javax.sound.sampled` — the
    * audio analog of [[pngBytes]]: a deterministic, real-codec test
    * corpus generator. `samples` interleave channels frame-major.
    */
  // write-side twin of AudioDecoder.readers: AudioSystem.write pays
  // the same uncached per-call SPI discovery
  @transient private lazy val audioWriters: Array[javax.sound.sampled.spi.AudioFileWriter] =
    AudioSpi.providers(classOf[javax.sound.sampled.spi.AudioFileWriter])

  def pcmBytes(sampleRate: Int, channels: Int, samples: Array[Short],
               aiff: Boolean = false): Array[Byte] = {
    require(samples.length % channels == 0,
      s"${samples.length} samples don't tile $channels channels")
    import javax.sound.sampled._
    val big = aiff
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
      sampleRate.toFloat, 16, channels, 2 * channels, sampleRate.toFloat, big)
    val raw = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      val s = samples(i)
      if (big) { raw(2 * i) = (s >> 8).toByte; raw(2 * i + 1) = s.toByte }
      else { raw(2 * i) = s.toByte; raw(2 * i + 1) = (s >> 8).toByte }
      i += 1
    }
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(raw),
      fmt, samples.length / channels)
    val tpe = if (aiff) AudioFileFormat.Type.AIFF else AudioFileFormat.Type.WAVE
    val bos = new java.io.ByteArrayOutputStream()
    audioWriters.find(_.isFileTypeSupported(tpe, ais))
      .getOrElse(throw new IllegalStateException(s"no $tpe audio writer"))
      .write(ais, tpe, bos)
    bos.toByteArray
  }

  /** REAL video decoder for AVI containers (pure JDK: the RIFF walk
    * is ~60 lines of little-endian parsing, frames decode through
    * `javax.imageio`): handles the two frame codings that need no
    * external library — uncompressed BI_RGB 24-bit DIB (`00db`) and
    * MJPEG (`00dc`, each frame a complete JPEG). The shared
    * [[Decoded]] contract maps naturally: width/height from the
    * video stream's BITMAPINFOHEADER, `n_frames` = movi frame-chunk
    * count, `channels` = bands per decoded frame, `px_mean` = mean
    * over every sample of every band of ALL frames (video is a
    * temporal medium — a frame-0 mean would miss fades/cuts),
    * `feature` = per-bin mean frame intensity over `featDim` equal
    * TIME bins normalized to [0, 1] (the scene-activity analog of
    * [[AudioDecoder]]'s energy bins). Fails loudly by name on other
    * codecs (H.264 etc. genuinely need external decoders); poison
    * rows degrade to null via [[decodeFeatures]]' catch.
    */
  /** One parsed AVI container: the first video stream's
    * BITMAPINFOHEADER fields plus its frame chunks
    * (isMjpegChunk, payload offset, length), in container order.
    */
  private[operators] final case class AviScan(
      width: Int, height: Int, bitCount: Int, compression: String,
      frames: IndexedSeq[(Boolean, Int, Int)])

  /** THE AVI RIFF walker, shared by [[VideoDecoder]] and
    * [[sampleAviFrames]] so the two can never disagree on a
    * container again (they once did, on AVIX recursion and stream
    * discipline). Recurses into LIST and RIFF (OpenDML `AVIX`
    * extension segments); streams are numbered by `strh` order in
    * `hdrl`; only the FIRST `vids` stream's `NNdb`/`NNdc` chunks are
    * returned — audio/secondary-video chunks never reach the codec
    * path. The stream-number prefix matches decimal (ffmpeg) AND hex
    * (Windows MAKEAVICKID) encodings — they agree for streams 0-9.
    * Throws on non-AVI/truncated/video-less payloads.
    */
  private[operators] def scanAvi(p: Array[Byte]): AviScan = {
    def u32(o: Int): Long = (p(o) & 0xFFL) | ((p(o + 1) & 0xFFL) << 8) |
      ((p(o + 2) & 0xFFL) << 16) | ((p(o + 3) & 0xFFL) << 24)
    def u16(o: Int): Int = (p(o) & 0xFF) | ((p(o + 1) & 0xFF) << 8)
    def fcc(o: Int): String = new String(p, o, 4, "US-ASCII")
    require(p.length >= 12 && fcc(0) == "RIFF" && fcc(8) == "AVI ",
      "not an AVI payload")
    var w = -1; var h = -1; var bitCount = -1
    var compression = ""
    var lastStrh = ""
    var strhIdx = -1   // streams are numbered by strh order in hdrl
    var vidStream = -1 // index of the FIRST vids stream
    val chunks = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, Int, Int)]
    def walk(start: Int, end: Int): Unit = {
      var o = start
      while (o + 8 <= end) {
        val id = fcc(o); val sz = u32(o + 4).toInt
        require(sz >= 0 && o + 8 + sz <= end, s"truncated AVI chunk '$id' at $o")
        if (id == "LIST" || id == "RIFF") walk(o + 12, o + 8 + sz)
        else if (id == "strh") {
          strhIdx += 1; lastStrh = fcc(o + 8)
          if (lastStrh == "vids" && vidStream < 0) vidStream = strhIdx
        } else if (id == "strf" && lastStrh == "vids" && bitCount < 0) {
          // BITMAPINFOHEADER of the FIRST video stream. Negative
          // biHeight is spec-valid: it marks TOP-DOWN row order
          // (common from Windows capture tools). Every derived stat
          // (px_mean, per-frame energy bins) sums whole frames, so
          // row order cannot change any output — only the magnitude
          // matters here.
          w = u32(o + 8 + 4).toInt; h = math.abs(u32(o + 8 + 8).toInt)
          bitCount = u16(o + 8 + 14)
          compression = if (u32(o + 8 + 16) == 0) "DIB" else fcc(o + 8 + 16)
        } else if (id.endsWith("db") || id.endsWith("dc"))
          chunks += ((id.substring(0, 2), id.endsWith("dc"), o + 8, sz))
        o += 8 + sz + (sz & 1) // chunks pad to even offsets
      }
    }
    walk(12, p.length)
    require(w > 0 && h > 0, "no video stream in AVI payload")
    val prefixes = Set(f"$vidStream%02d", f"$vidStream%02X")
    AviScan(w, h, bitCount, compression,
      chunks.collect { case (pfx, dc, off, len) if prefixes(pfx) =>
        (dc, off, len) }.toIndexedSeq)
  }

  final class VideoDecoder(featDim: Int = 8) extends Decoder {
    override def decode(p: Array[Byte]): Decoded = {
      val scan = scanAvi(p)
      val w = scan.width; val h = scan.height
      val bitCount = scan.bitCount; val compression = scan.compression
      val frames = scan.frames
      val nF = frames.length
      val binSum = new Array[Double](featDim)
      val binCnt = new Array[Long](featDim)
      var sum = 0.0; var n = 0L; var channels = 0
      var f = 0
      while (f < nF) {
        val (_, off, len) = frames(f)
        var frameSum = 0.0; var frameN = 0L
        compression match {
          case "DIB" =>
            require(bitCount == 24,
              s"unsupported DIB bit count $bitCount (BI_RGB 24-bit only)")
            val stride = (3 * w + 3) & ~3
            require(len >= stride * h, s"short DIB frame $f ($len B)")
            channels = 3
            var y = 0
            while (y < h) {
              // DIB rows are BOTTOM-UP; samples are B,G,R
              val row = off + (h - 1 - y) * stride
              var x = 0
              while (x < 3 * w) {
                frameSum += (p(row + x) & 0xFF); x += 1
              }
              y += 1
            }
            frameN = 3L * w * h
          case "MJPG" =>
            // zero-copy region view — p.slice would copy every frame
            // on the hot decode path
            val img = readImage(p, off, len)
            require(img != null, s"undecodable MJPEG frame $f")
            val raster = img.getRaster
            channels = raster.getNumBands
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                var b = 0
                while (b < channels) {
                  frameSum += raster.getSample(x, y, b); b += 1
                }
                x += 1
              }
              y += 1
            }
            frameN = img.getWidth.toLong * img.getHeight * channels
          case other =>
            throw new IllegalArgumentException(
              s"unsupported AVI video codec '$other' (BI_RGB DIB / MJPG only)")
        }
        sum += frameSum; n += frameN
        val bin = (f.toLong * featDim / math.max(1, nF)).toInt
        binSum(bin) += (if (frameN == 0) 0.0 else frameSum / frameN / 255.0)
        binCnt(bin) += 1
        f += 1
      }
      val feat = Array.tabulate(featDim)(i =>
        if (binCnt(i) == 0) 0f else (binSum(i) / binCnt(i)).toFloat)
      Decoded(w, h, nF, channels, if (n == 0) 0.0 else sum / n, feat)
    }
  }

  /** Deterministic FAKE decoder for formats with no codec in this
    * container (H.264/VP9/... video): dimensions derived from payload
    * length, feature = first `dim` bytes scaled — exercises schema/
    * partition/batch behavior end-to-end. Clearly a stub; images
    * should use [[ImageIoDecoder]], WAV/AIFF/AU audio
    * [[AudioDecoder]], AVI (DIB/MJPEG) video [[VideoDecoder]].
    */
  final class StubDecoder(dim: Int = 8) extends Decoder {
    override def decode(p: Array[Byte]): Decoded = {
      val w = 16 + (p.length % 64); val h = 16 + ((p.length / 64) % 64)
      val f = new Array[Float](dim)
      var i = 0
      while (i < dim) { f(i) = (if (p.length > i) p(i) & 0xFF else 0) / 255.0f; i += 1 }
      var sum = 0L; var j = 0
      while (j < p.length) { sum += (p(j) & 0xFF); j += 1 }
      Decoded(w, h, 1, 1, if (p.length == 0) 0.0 else sum.toDouble / p.length, f)
    }
  }

  /** Runs `io` with ImageIO's stream cache in memory. The default
    * cache is DISK-backed (a temp file per payload — silent file churn
    * per row at scale), and payloads are already in memory. Every image
    * read and encode in this object goes through here. */
  private def memoryCached[T](io: => T): T = {
    javax.imageio.ImageIO.setUseCache(false)
    io
  }

  /** Decode the image in `p(off until off + len)`; null when no ImageIO
    * reader recognizes it. */
  private def readImage(p: Array[Byte], off: Int, len: Int): java.awt.image.BufferedImage =
    memoryCached(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p, off, len)))

  /** Encode `img` in ImageIO's `format` ("png", "jpg"). */
  private def encodeImage(img: java.awt.image.RenderedImage, format: String): Array[Byte] =
    memoryCached {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, format, bos)
      bos.toByteArray
    }

  /** A `width × height` grayscale image holding `pixels` row-major. */
  private def grayImage(width: Int, height: Int,
                        pixels: Array[Byte]): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, width, height, pixels)
    img
  }

  /** Encode a grayscale image as PNG bytes (lossless, so a decode
    * round-trip recovers the exact pixel values). Driver- or
    * executor-side; used by [[synthesizeGrayPng]] and tests.
    */
  def pngBytes(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] = {
    require(pixels.length == width * height,
      s"pixels length ${pixels.length} != $width*$height")
    encodeImage(grayImage(width, height, pixels), "png")
  }

  /** Encode a truecolor image as PNG bytes — the multi-band sibling
    * of [[pngBytes]], one codec surface for [[synthesizeRgbPng]] and
    * tests. `sample(i, b)` supplies band b of flat pixel i
    * (row-major); band order is color-component order (0 = R). */
  def rgbPngBytes(width: Int, height: Int,
                  sample: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val raster = img.getRaster
    var i = 0
    while (i < width * height) {
      var b = 0
      while (b < 3) {
        raster.setSample(i % width, i / width, b, sample(i, b))
        b += 1
      }
      i += 1
    }
    encodeImage(img, "png")
  }

  /** Append a `payload` column computed by `encode` from the values of
    * `inputCols` (in order). A null in any input column gives a null
    * payload without calling `encode`; `encode` returns null for its
    * own degenerate inputs. An exception from `encode` fails the query.
    */
  private def appendPayload(df: DataFrame, inputCols: String*)(
      encode: Seq[Any] => Array[Byte]): DataFrame = {
    val idx = inputCols.map(df.schema.fieldIndex)
    Evaluate.appendColumns(df, Seq(StructField("payload", BinaryType))) { r =>
      Seq(if (idx.exists(r.isNullAt)) null else encode(idx.map(r.get)))
    }
  }

  /** `n` gray pixels cycling through the ASCII codes of `hex`, starting
    * at character `from`: pixel i is `hex[(from + i) mod len]`. */
  private def hexPixels(hex: String, from: Int, n: Int): Array[Byte] =
    Array.tabulate(n)(i => hex.charAt((from + i) % hex.length).toByte)

  /** Append a `payload` column holding a real grayscale PNG whose
    * pixels cycle through the ASCII codes of `hexCol` (an md5 hex
    * string) — a deterministic, SQL-replayable image corpus for
    * exercising the real decode path at any scale. Encoding runs
    * per-partition (no shuffle); the PNG bytes are genuinely
    * compressed, so the decode step downstream does real work.
    * Degenerate inputs (null, empty hex, non-positive dims) degrade to
    * a null payload — a poison row must not abort the stage.
    */
  def synthesizeGrayPng(df: DataFrame, hexCol: String, wCol: String,
                        hCol: String): DataFrame =
    appendPayload(df, hexCol, wCol, hCol) { case Seq(hex: String, w: Int, h: Int) =>
      if (hex.isEmpty || w <= 0 || h <= 0) null
      else pngBytes(w, h, hexPixels(hex, 0, w * h))
    }

  /** Append a `payload` column holding a real RGB PNG whose band-b
    * sample at flat pixel index i (row-major) is the ASCII code of
    * `hexCol.charAt((3·i + b) % len)` — the color analog of
    * [[synthesizeGrayPng]]: a deterministic, SQL-replayable
    * multi-band corpus for exercising the per-band resize path with a
    * real codec. PNG truecolor is lossless, and raster band order is
    * color-component order on both encode and decode, so band b reads
    * back exactly what was written. Per-partition encode, no shuffle;
    * degenerate inputs degrade to a null payload (poison-safe).
    */
  def synthesizeRgbPng(df: DataFrame, hexCol: String, wCol: String,
                       hCol: String): DataFrame =
    appendPayload(df, hexCol, wCol, hCol) { case Seq(hex: String, w: Int, h: Int) =>
      if (hex.isEmpty || w <= 0 || h <= 0) null
      else rgbPngBytes(w, h, (i, b) => hex.charAt((3 * i + b) % hex.length).toInt)
    }

  /** Append a `payload` column holding a real WAV whose sine
    * frequency and duration derive from `nCol` — the audio analog of
    * [[synthesizeGrayPng]]: a deterministic real-codec corpus for
    * exercising [[AudioDecoder]] at any scale. Per-partition encode,
    * no shuffle; null/negative inputs degrade to a null payload.
    */
  def synthesizeSineWav(df: DataFrame, nCol: String): DataFrame =
    appendPayload(df, nCol) { case Seq(n: Long) =>
      if (n < 0) null
      else {
        val rate = 8000
        val len = (800 + n % 800).toInt
        val freq = (120 + n % 200).toDouble
        pcmBytes(rate, 1, Array.tabulate[Short](len)(i =>
          (math.sin(2 * math.Pi * freq * i / rate) * 30000).toShort))
      }
    }

  /** Synthesize a deterministic mono 16-bit WAV per row — the audio
    * analog of [[synthesizeGrayPng]]: sample i is the ASCII code of
    * `hexCol`'s character i % 32 (an exact small integer, so every
    * decoded statistic — per-bin RMS, mean amplitude — replays
    * bit-for-bit in SQL; the sine generator stays the realistic
    * corpus synth, but libm sin() is not cross-engine-exact). Null /
    * short hex or non-positive length degrade to a null payload.
    */
  def synthesizeHexWav(df: DataFrame, hexCol: String, lenCol: String,
                       sampleRate: Int = 8000): DataFrame =
    appendPayload(df, hexCol, lenCol) { case Seq(hex: String, len: Int) =>
      if (hex.length < 32 || len <= 0) null
      else pcmBytes(sampleRate, 1,
        Array.tabulate[Short](len)(i => hex.charAt(i % 32).toShort))
    }

  /** Encode grayscale frames as a real AVI container — the video
    * analog of [[pngBytes]]/[[pcmBytes]]: a deterministic test-corpus
    * generator producing files any stock player opens. Frames are
    * `width*height` gray bytes each; `mjpeg = false` writes
    * uncompressed BI_RGB 24-bit DIB frames (LOSSLESS — gray
    * replicated to B=G=R, bottom-up rows, 4-byte-aligned stride), so
    * a [[VideoDecoder]] round-trip recovers exact pixel statistics;
    * `mjpeg = true` JPEG-encodes each frame (lossy, real MJPEG).
    */
  def aviBytes(width: Int, height: Int, fps: Int,
               grayFrames: Seq[Array[Byte]], mjpeg: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0 && fps > 0 && grayFrames.nonEmpty)
    grayFrames.foreach(f => require(f.length == width * height,
      s"frame length ${f.length} != $width*$height"))
    val blobs: Seq[Array[Byte]] =
      if (mjpeg) grayFrames.map(g => encodeImage(grayImage(width, height, g), "jpg"))
      else grayFrames.map { g =>
        val stride = (3 * width + 3) & ~3
        val out = new Array[Byte](stride * height)
        var y = 0
        while (y < height) {
          val row = (height - 1 - y) * stride // bottom-up
          var x = 0
          while (x < width) {
            val v = g(y * width + x)
            out(row + 3 * x) = v; out(row + 3 * x + 1) = v; out(row + 3 * x + 2) = v
            x += 1
          }
          y += 1
        }
        out
      }
    val bos = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { bos.write(v & 0xFF); bos.write((v >> 8) & 0xFF) }
    def le32(v: Long): Unit = { var i = 0; while (i < 4) { bos.write(((v >> (8 * i)) & 0xFF).toInt); i += 1 } }
    def tag(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    val nF = blobs.length
    val maxBlob = blobs.map(_.length).max
    val moviSize = 4 + blobs.map(b => 8 + b.length + (b.length & 1)).sum
    val strlSize = 4 + (8 + 56) + (8 + 40)
    val hdrlSize = 4 + (8 + 56) + (8 + strlSize)
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize)
    tag("RIFF"); le32(riffSize); tag("AVI ")
    tag("LIST"); le32(hdrlSize); tag("hdrl")
    // avih: MainAVIHeader
    tag("avih"); le32(56)
    le32(1000000L / fps)               // dwMicroSecPerFrame
    le32(maxBlob.toLong * fps)         // dwMaxBytesPerSec
    le32(0); le32(0)                   // padding granularity; flags (no idx1 -> no AVIF_HASINDEX)
    le32(nF); le32(0); le32(1); le32(maxBlob)
    le32(width); le32(height)
    le32(0); le32(0); le32(0); le32(0) // dwReserved
    tag("LIST"); le32(strlSize); tag("strl")
    // strh: AVIStreamHeader for the single vids stream
    tag("strh"); le32(56)
    tag("vids"); tag(if (mjpeg) "MJPG" else "DIB ")
    le32(0); le16(0); le16(0)          // flags, priority, language
    le32(0)                            // initial frames
    le32(1); le32(fps)                 // scale, rate -> fps
    le32(0); le32(nF)                  // start, length (frames)
    le32(maxBlob); le32(-1 & 0xFFFFFFFFL) // suggested buffer, quality=-1
    le32(0)                            // sample size (0 = varies)
    le16(0); le16(0); le16(width); le16(height) // rcFrame
    // strf: BITMAPINFOHEADER
    tag("strf"); le32(40)
    le32(40); le32(width); le32(height)
    le16(1); le16(24)                  // planes, bit count
    if (mjpeg) tag("MJPG") else le32(0) // biCompression
    le32(blobs.head.length); le32(0); le32(0); le32(0); le32(0)
    tag("LIST"); le32(moviSize); tag("movi")
    blobs.foreach { b =>
      tag(if (mjpeg) "00dc" else "00db"); le32(b.length)
      bos.write(b)
      if ((b.length & 1) == 1) bos.write(0) // even padding
    }
    bos.toByteArray
  }

  /** Append a `payload` column holding a real AVI whose gray frames
    * cycle through the ASCII codes of `hexCol` (frame f, pixel i →
    * hex[(f·w·h + i) mod len]) — the video analog of
    * [[synthesizeGrayPng]]: a deterministic, SQL-replayable corpus
    * for exercising [[VideoDecoder]] at any scale. DIB frames are
    * lossless, so decoded pixel statistics replay exactly.
    * Per-partition encode, no shuffle; degenerate inputs degrade to
    * a null payload.
    */
  def synthesizeGrayAvi(df: DataFrame, hexCol: String, wCol: String,
                        hCol: String, nFramesCol: String): DataFrame =
    appendPayload(df, hexCol, wCol, hCol, nFramesCol) {
      case Seq(hex: String, w: Int, h: Int, nf: Int) =>
        if (hex.isEmpty || w <= 0 || h <= 0 || nf <= 0) null
        else aviBytes(w, h, 25, (0 until nf).map(f => hexPixels(hex, f * w * h, w * h)))
    }

  /** Attach the typed metadata struct to a binary payload column —
    * pure column expressions, no decode needed (codegen'd; this is
    * the cheap always-on path at 100 TB).
    */
  def withMediaMeta(df: DataFrame, payloadCol: String, mediaType: String,
                    format: String): DataFrame =
    df.withColumn("media_meta", struct(
      lit(mediaType).as("media_type"),
      lit(format).as("format"),
      length(col(payloadCol)).cast("long").as("n_bytes"),
      md5(col(payloadCol)).as("checksum")))

  /** Append `fields` computed by `f` from the binary payload in
    * `payloadCol` — the poison rule every decode operator shares. Every
    * new field is null when the payload is null, when `f` returns null
    * (e.g. an image too small to resize) or when `f` throws: at 100 TB
    * a single poison row (truncated upload, mislabeled bytes) must
    * never fail the task 4× and kill the job.
    */
  private def appendDecoded(df: DataFrame, payloadCol: String,
                            fields: Seq[StructField])(
      f: Array[Byte] => Seq[Any]): DataFrame = {
    val idx = df.schema.fieldIndex(payloadCol)
    val nulls: Seq[Any] = Seq.fill(fields.length)(null)
    Evaluate.appendColumns(df, fields) { r =>
      if (r.isNullAt(idx)) nulls
      else try Option(f(r.getAs[Array[Byte]](idx))).getOrElse(nulls)
      catch { case scala.util.control.NonFatal(_) => nulls }
    }
  }

  /** Run the decoder per row, appending [[FeatureType]] columns.
    * Null AND undecodable payloads degrade to null features (the
    * [[appendDecoded]] poison rule); filter `width IS NULL` downstream
    * to audit the bad rows. The decoder is deserialized once per task,
    * so codec init amortizes over the partition. Defaults to the REAL
    * [[ImageIoDecoder]]; pass a [[StubDecoder]] for payload types with
    * no codec in the JDK.
    */
  def decodeFeatures(df: DataFrame, payloadCol: String,
                     decoder: Decoder = new ImageIoDecoder()): DataFrame =
    appendDecoded(df, payloadCol, FeatureType.fields.toSeq) { p =>
      val d = decoder.decode(p)
      Seq(d.width, d.height, d.nFrames, d.channels, d.pxMean, d.feature.toSeq)
    }

  /** The area partition [[resizeFeatures]] and [[perceptualHash]]
    * share: source pixel (r, c) belongs to cell
    * floor(r·gH/h)·gW + floor(c·gW/w). Returns the per-cell, per-band
    * sample sums (index cell·bands + band), the per-cell pixel counts
    * and the band count — exact integers (band samples are ints, cells
    * hold ≤ h·w of them).
    */
  private def areaGrid(img: java.awt.image.BufferedImage, gW: Int,
                       gH: Int): (Array[Long], Array[Long], Int) = {
    val (w, h) = (img.getWidth, img.getHeight)
    val raster = img.getRaster
    val nb = raster.getNumBands
    val sums = new Array[Long](gW * gH * nb)
    val counts = new Array[Long](gW * gH)
    var rr = 0
    while (rr < h) {
      val ti = rr.toLong * gH / h
      var cc = 0
      while (cc < w) {
        val cell = (ti * gW + cc.toLong * gW / w).toInt
        var b = 0
        while (b < nb) {
          sums(cell * nb + b) += raster.getSample(cc, rr, b)
          b += 1
        }
        counts(cell) += 1
        cc += 1
      }
      rr += 1
    }
    (sums, counts, nb)
  }

  /** Bit i set iff cell i's mean sums(i)/counts(i) STRICTLY exceeds
    * the mean over all cells, compared in exact integer arithmetic
    * (sums(i)·totalCount > totalSum·counts(i)). The products stay in
    * long math while totalCount ≤ `longLaneMax`; past it the exact
    * BigInt lane takes over (≤ 64 comparisons, noise next to the
    * decode). Empty cells give 0-bits.
    */
  private def aboveMeanBits(sums: Array[Long], counts: Array[Long],
                            longLaneMax: Long): Long = {
    val ts = sums.sum; val tc = counts.sum
    val big = tc > longLaneMax
    var bits = 0L
    var i = 0
    while (i < sums.length) {
      val gt = if (big) BigInt(sums(i)) * tc > BigInt(ts) * counts(i)
               else sums(i) * tc > ts * counts(i)
      if (gt) bits |= (1L << i)
      i += 1
    }
    bits
  }

  /** Deterministic image RESIZE (pixel-area-partition downscale) over
    * EVERY raster band: source pixel (r, c) belongs to output cell
    * (floor(r·outH/h), floor(c·outW/w)) — every source pixel to
    * exactly one cell, every cell non-empty when outH ≤ h and
    * outW ≤ w — and each cell holds the per-band MEAN of its members.
    * Integer-exact sums (band samples are ints, cells hold ≤ h·w of
    * them), so the thumb replays bit-for-bit in SQL — unlike
    * Graphics2D/AffineTransform interpolation, whose output is
    * platform- and JDK-variant. This is the fixed-size feature grid a
    * vision-embedding pipeline feeds downstream (thumbnail → model),
    * shaped like [[decodeFeatures]]: map-only, one decoder per
    * partition, null / undecodable / smaller-than-(outW, outH)
    * payloads degrade to a null thumb (poison-safe).
    * Output columns: input ++ (thumb_w, thumb_h, thumb_bands,
    * thumb array<double> — flat index (ti·outW + tj)·bands + band, so
    * a 1-band image keeps the historical row-major cell layout and an
    * RGB one interleaves its color components per cell). Raster band
    * order is COLOR-COMPONENT order (band 0 = R for RGB images
    * whatever the byte layout), the convention `getSample` defines.
    */
  def resizeFeatures(df: DataFrame, payloadCol: String,
                     outW: Int, outH: Int): DataFrame = {
    require(outW >= 1 && outH >= 1, s"resize to ${outW}x$outH")
    appendDecoded(df, payloadCol, Seq(
        StructField("thumb_w", IntegerType),
        StructField("thumb_h", IntegerType),
        StructField("thumb_bands", IntegerType),
        StructField("thumb", ArrayType(DoubleType, containsNull = false)))) { p =>
      val img = readImage(p, 0, p.length)
      if (img == null || img.getWidth < outW || img.getHeight < outH) null
      else {
        val (sums, counts, nb) = areaGrid(img, outW, outH)
        Seq(outW, outH, nb,
          Array.tabulate(outW * outH * nb)(i => sums(i).toDouble / counts(i / nb)).toSeq)
      }
    }
  }

  /** Perceptual average-hash (aHash) over the [[resizeFeatures]]
    * area-partition grid: bit (ti·gridW + tj) of `phash` is 1 iff the
    * cell's mean sample STRICTLY exceeds the whole-image mean, and the
    * comparison runs in EXACT integer arithmetic
    * (cellSum·totalCount > totalSum·cellCount — never a float
    * division), so the hash replays bit-for-bit in SQL. Multi-band
    * images fold every band into the cell sum (a luminance proxy —
    * hashing hue channels independently is not what near-dup
    * detection wants). Cells left empty by a source smaller than the
    * grid contribute 0-bits; the empty pattern is a pure function of
    * (w, h), so same-size images stay comparable. aHash is exactly
    * brightness-shift-invariant: adding a constant c to every sample
    * adds c·cellCount·totalCount to BOTH sides of the integer
    * comparison (spec-pinned in MultimodalSpec). Map-only, one decode
    * per row, null/undecodable payloads degrade to a null hash — the
    * [[decodeFeatures]] poison contract. Output: input ++
    * (phash long). Near-dup pairs: feed (id, phash) to
    * [[Dedup.hammingBandPairs]] (exact banded gate or the 16-bit-band
    * production shape). The reference has no image-dedup surface;
    * this is the standard aHash → banded-Hamming pipeline multimodal
    * training corpora run at scale.
    */
  def perceptualHash(df: DataFrame, payloadCol: String,
                     gridW: Int = 8, gridH: Int = 8): DataFrame = {
    require(gridW >= 1 && gridH >= 1 && gridW * gridH <= 64,
      s"phash grid ${gridW}x$gridH needs ${gridW * gridH} bits — max 64")
    appendDecoded(df, payloadCol, Seq(StructField("phash", LongType))) { p =>
      val img = readImage(p, 0, p.length)
      if (img == null) null
      else {
        val (bandSums, pixels, nb) = areaGrid(img, gridW, gridH)
        val sums = Array.tabulate(gridW * gridH)(c =>
          (0 until nb).foldLeft(0L)((s, b) => s + bandSums(c * nb + b)))
        // the cross-multiplied compare stays in long math only while
        // sample·tc² cannot reach 2⁶³ for ANY sample width getSample
        // can return (int, up to 2³¹): 2³¹·(2¹⁵)² = 2⁶¹
        Seq(aboveMeanBits(sums, pixels.map(_ * nb), 1L << 15))
      }
    }
  }

  /** Audio perceptual fingerprint — the temporal-energy analog of
    * [[perceptualHash]], completing near-dup dedup across all three
    * modalities: bit k of `afp` is 1 iff temporal bin k's mean sample
    * ENERGY strictly exceeds the whole-clip mean energy, compared in
    * EXACT integer arithmetic (binEnergy·totalCount >
    * totalEnergy·binCount — never a float), so the fingerprint
    * replays bit-for-bit in SQL. Samples fold to a 16-bit basis
    * first (bits>16 PCM shifts down — a fingerprint robustness
    * quantization, and it keeps each squared term ≤ 2³⁰); clips past
    * 2¹⁶ samples take the exact BigInt compare lane (2³⁰·(2¹⁶)² =
    * 2⁶² — safe product bound, the [[perceptualHash]] pattern).
    * Frame k maps to bin (k·bins)/nFrames — the [[AudioDecoder]]
    * envelope binning — and every channel folds into its frame's
    * bin. Exactly VOLUME-invariant: scaling all samples by c scales
    * both comparison sides by c² (spec-pinned). Map-only, one decode
    * per row; null/undecodable payloads degrade to a null
    * fingerprint. Near-dup pairs: [[Dedup.hammingBandPairs]] with
    * `bits = bins`.
    */
  def audioFingerprint(df: DataFrame, payloadCol: String,
                       bins: Int = 32): DataFrame = {
    require(bins >= 1 && bins <= 64, s"afp bins $bins outside [1, 64]")
    appendDecoded(df, payloadCol, Seq(StructField("afp", LongType))) { p =>
      val pcm = new Pcm(p)
      val shift = math.max(0, pcm.bits - 16)
      val es = new Array[Long](bins)
      val ec = new Array[Long](bins)
      pcm.foreach { (f, _, s) =>
        val bin = (f.toLong * bins / pcm.nFrames).toInt
        val q = s >> shift
        es(bin) += q * q
        ec(bin) += 1
      }
      Seq(aboveMeanBits(es, ec, 1L << 16))
    }
  }

  /** Frame sampling plan for video payloads: emit (frame_no, byte
    * range) rows per media row WITHOUT decoding — the shuffle-free
    * fan-out that downstream per-frame decoders consume. `stride`
    * picks every k-th frame.
    */
  def sampleFrames(df: DataFrame, payloadCol: String, frameBytes: Int,
                   stride: Int): DataFrame = {
    // NULL / empty payloads contribute ZERO rows (poison-safe, like
    // sampleAviFrames) — without the filter, `greatest` and `least`
    // SKIP nulls, so a null payload emitted a phantom frame_no=0 row
    // claiming a full frame. A short non-empty payload still yields
    // its one partial frame (frame_bytes = what exists).
    val nFrames = (length(col(payloadCol)) / frameBytes).cast("int")
    df.filter(col(payloadCol).isNotNull && length(col(payloadCol)) > 0)
      .withColumn("frame_no",
        explode(sequence(lit(0), greatest(nFrames - 1, lit(0)), lit(stride))))
      .withColumn("frame_start", col("frame_no").cast("long") * frameBytes)
      .withColumn("frame_bytes",
        least(lit(frameBytes.toLong),
          length(col(payloadCol)).cast("long") - col("frame_start")))
  }

  /** Container-aware frame sampling for AVI payloads: walk each
    * row's RIFF chunk table (metadata only — frame bytes are sliced,
    * never decoded) and emit one row per `stride`-th frame with the
    * frame's actual bytes. MJPEG frames come out as standalone JPEGs
    * directly consumable by [[ImageIoDecoder]]; DIB frames as raw
    * bottom-up BGR. Map-side generator, no shuffle — the real-format
    * analog of [[sampleFrames]]' fixed-size plan. Undecodable or
    * null payloads contribute zero rows (poison-safe, like
    * [[decodeFeatures]]).
    */
  def sampleAviFrames(df: DataFrame, payloadCol: String,
                      stride: Int = 1): DataFrame = {
    require(stride >= 1, "stride must be >= 1")
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("frame_no", IntegerType),
      StructField("frame_format", StringType), // "MJPG" | "DIB"
      StructField("frame", BinaryType)))
    val idx = df.schema.fieldIndex(payloadCol)
    val rdd = df.rdd.mapPartitions { it =>
      it.flatMap { r =>
        val p = if (r.isNullAt(idx)) null else r.getAs[Array[Byte]](idx)
        val frames: Seq[(Int, String, Array[Byte])] =
          if (p == null) Seq.empty
          else try {
            // the shared [[scanAvi]] walker (stream discipline,
            // RIFF/AVIX recursion): metadata pass only — just the
            // every-stride-th frame's bytes are then sliced
            scanAvi(p).frames.zipWithIndex.collect {
              case ((dc, off, sz), n) if n % stride == 0 =>
                (n, if (dc) "MJPG" else "DIB", p.slice(off, off + sz))
            }
          } catch { case scala.util.control.NonFatal(_) => Seq.empty }
        frames.map { case (no, fmt, bytes) =>
          Row.fromSeq(r.toSeq ++ Seq(no, fmt, bytes))
        }
      }
    }
    df.sparkSession.createDataFrame(rdd, outSchema)
  }

  /** Chunk an oversized payload into ≤ chunkBytes pieces for storage
    * systems with cell-size limits; reassembly key = (id, chunk_no).
    */
  def chunkPayload(df: DataFrame, idCol: String, payloadCol: String,
                   chunkBytes: Int): DataFrame =
    // empty/null payloads chunk to ZERO rows: without the filter,
    // ceil(0/chunkBytes)-1 = -1 and sequence(0, -1) DESCENDS, emitting
    // bogus chunk_no 0 and -1 rows that corrupt the reassembly key
    df.filter(col(payloadCol).isNotNull && length(col(payloadCol)) > 0)
      .select(col(idCol),
        explode(sequence(lit(0),
          ceil(length(col(payloadCol)) / lit(chunkBytes.toDouble)).cast("int") - 1))
          .as("chunk_no"),
        col(payloadCol))
      .select(col(idCol), col("chunk_no"),
        col(payloadCol).substr(col("chunk_no") * chunkBytes + 1, lit(chunkBytes))
          .as("chunk"))
}
