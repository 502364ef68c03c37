package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One media asset: an opaque binary payload plus typed metadata —
  * the storage contract for multimodal training data (images/audio/
  * video ride through the pipeline as `binary` columns; only the
  * decode step knows the codec). */
case class MediaRecord(media_id: Long, kind: String, content: Array[Byte])

/** Decoder output: per-asset dimensions and a fixed-width feature
  * vector (the embedding/thumbnail stand-in). */
case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
                         width: Int, height: Int, n_frames: Int,
                         feature: Array[Float])

/** Multimodal-column operators (north-star brief): binary payloads
  * with typed metadata, decode / feature-extract / frame-sample.
  *
  * IMAGE decode is REAL: [[ImageIODecoder]] reads PNG/BMP/GIF/JPEG
  * bytes with the JDK's ImageIO and reports dimensions/features from
  * actual pixels. AUDIO decode is REAL for the JDK's container
  * formats: [[AudioDecoder]] parses WAV/AIFF/AU with
  * `javax.sound.sampled` — sample rate/channels/frame count from the
  * actual header, RMS features from the actual PCM samples. VIDEO
  * decode is REAL for MJPEG/AVI, uncompressed-DIB AVI, and YUV4MPEG2
  * (Y4M): [[VideoDecoder]] parses the RIFF container (header metadata
  * from `avih`) and decodes sampled movi frames via ImageIO or the
  * raw-DIB raster, or walks the Y4M frame stream and reads the luma
  * planes directly. Formats beyond the JDK's reach fall back to
  * [[StubDecoder]]'s deterministic hash-derived values (which remain
  * the q28 oracle twin — the fixture payloads are text, not real
  * media). [[JdkDecoder]] composes all four on the one seam.
  * Everything around the seam is the real Spark plumbing a production
  * decoder drops into:
  *  - assets are `binary` columns in a columnar table (parquet keeps
  *    them page-compressed; predicate pushdown still prunes on the
  *    typed metadata columns);
  *  - [[extractFeatures]] is batch-shaped `mapPartitions` over a typed
  *    Dataset — the JVM analog of an Arrow-batched Python UDF: the
  *    decoder amortizes per-batch setup (model load, codec init)
  *    across `batchSize` rows and streams, never materializing a
  *    partition;
  *  - partitioning: assets shuffle by `media_id` only if the caller
  *    asks; decode itself is embarrassingly parallel over input
  *    splits, which is the property that survives 100 TB.
  */
object Multimodal {

  /** Pluggable decode seam. A real deployment implements this with an
    * actual codec (JNI/ffmpeg/ImageIO) — signature and batch shape
    * stay identical. */
  trait Decoder extends Serializable {
    /** Called once per batch (amortize codec/model setup). */
    def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaFeatures]
  }

  /** Deterministic fake: dimensions and features from the content
    * hash — stable across runs/engines, no codec needed. */
  object StubDecoder extends Decoder {
    private def hash60(bytes: Array[Byte]): Long = {
      val md5 = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      val hex = md5.map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaFeatures] = batch.map { m =>
      val h = hash60(m.content)
      val (w, ht) = (160 + (h % 16).toInt * 16, 120 + ((h / 16) % 16).toInt * 16)
      val frames = m.kind match {
        case "video" => 1 + (h % 240).toInt
        case "audio" => 0
        case _       => 1
      }
      val feat = Array.tabulate(8)(i => (((h >> (i * 7)) & 127).toFloat - 64f) / 64f)
      MediaFeatures(m.media_id, m.kind, m.content.length.toLong, w, ht, frames, feat)
    }
  }

  /** REAL image codec on the same seam: JVM `javax.imageio.ImageIO`
    * (PNG/BMP/GIF/JPEG readers ship with the JDK — zero new
    * dependencies). Dimensions come from the actual decoded raster and
    * the 8-float feature is the mean luminance of a 2×4 grid over real
    * pixels (a genuine pixel statistic standing in for an embedding).
    * Non-image kinds (audio/video codecs aren't in the JDK) and
    * undecodable payloads fall back to [[StubDecoder]], keeping the
    * operator total; `ImageIO.read` returning null or throwing is the
    * fallback signal. Instantiated per executor via the [[Decoder]]
    * serialization contract — `ImageIO` readers are created per call,
    * so there is no shared mutable codec state across threads. */
  object ImageIODecoder extends Decoder {
    private[ops] def luminanceGrid(img: java.awt.image.BufferedImage): Array[Float] = {
      val (w, h) = (img.getWidth, img.getHeight)
      Array.tabulate(8) { i =>
        val (gr, gc) = (i / 4, i % 4)
        val (r0, c0) = (gr * h / 2, gc * w / 4)
        val (r1, c1) = (math.max(r0 + 1, (gr + 1) * h / 2), math.max(c0 + 1, (gc + 1) * w / 4))
        var sum = 0.0
        var cnt = 0
        var y = r0
        while (y < r1 && y < h) {
          var x = c0
          while (x < c1 && x < w) {
            val rgb = img.getRGB(x, y)
            sum += ((rgb >> 16) & 255) * 0.299 + ((rgb >> 8) & 255) * 0.587 + (rgb & 255) * 0.114
            cnt += 1
            x += 1
          }
          y += 1
        }
        (sum / (cnt * 255.0)).toFloat
      }
    }
    def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaFeatures] = batch.map { m =>
      val decoded =
        if (m.kind == "image")
          // NonFatal, not just IOException: the JDK readers throw
          // unchecked exceptions (IndexOutOfBounds, IllegalArgument)
          // on truncated/corrupt payloads, and a poison byte string
          // must hit the fallback, not kill the task
          try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.content)))
          catch { case scala.util.control.NonFatal(_) => None }
        else None
      decoded match {
        case Some(img) =>
          MediaFeatures(m.media_id, m.kind, m.content.length.toLong,
            img.getWidth, img.getHeight, 1, luminanceGrid(img))
        case None => StubDecoder.decodeBatch(Seq(m)).head
      }
    }
  }

  /** REAL audio codec on the same seam: JVM `javax.sound.sampled`
    * (WAV/AIFF/AU parsers ship with the JDK — zero new dependencies).
    * Metadata comes from the actual parsed header — width carries the
    * sample rate (Hz), height the channel count, n_frames the audio
    * frame count — and the 8-float feature is the per-segment RMS
    * amplitude over the REAL PCM samples (the waveform statistic
    * standing in for an audio embedding). Non-audio kinds, compressed
    * codecs the JDK lacks (mp3/aac), and undecodable payloads fall
    * back to [[StubDecoder]], keeping the operator total — same
    * contract as [[ImageIODecoder]]. */
  object AudioDecoder extends Decoder {
    /** Sample-read bound for the RMS feature: 2 MiB of PCM (~1M mono
      * samples) — statistics converge long before that, and an
      * unbounded `readAllBytes` on a long recording would hold the
      * whole decoded payload per row (header metadata is still exact
      * for the full file). */
    val MaxPcmBytes: Int = 2 * 1024 * 1024

    /** 8-segment RMS over 16-bit signed PCM, normalized to [0, 1]. */
    private def rmsSegments(pcm: Array[Byte], bigEndian: Boolean): Array[Float] = {
      val n = pcm.length / 2
      if (n == 0) return new Array[Float](8)
      Array.tabulate(8) { s =>
        val (i0, i1) = (s * n / 8, math.max(s * n / 8 + 1, (s + 1) * n / 8))
        var sum = 0.0
        var i = i0
        while (i < i1 && i < n) {
          val (b0, b1) = (pcm(2 * i) & 0xff, pcm(2 * i + 1) & 0xff)
          val v = (if (bigEndian) (b0 << 8) | b1 else (b1 << 8) | b0).toShort.toDouble
          sum += v * v
          i += 1
        }
        (math.sqrt(sum / math.max(1, i1 - i0)) / 32768.0).toFloat
      }
    }
    def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaFeatures] = batch.map { m =>
      val parsed =
        if (m.kind == "audio")
          // NonFatal for the same reason as ImageIODecoder: corrupt
          // headers throw UnsupportedAudioFileException and friends
          try {
            val ais = javax.sound.sampled.AudioSystem
              .getAudioInputStream(new java.io.ByteArrayInputStream(m.content))
            val fmt = ais.getFormat
            val nFrames = math.max(0L, ais.getFrameLength)
            val feat =
              if (fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
                  && fmt.getSampleSizeInBits == 16)
                rmsSegments(ais.readNBytes(MaxPcmBytes), fmt.isBigEndian)
              else new Array[Float](8) // parseable header, un-decoded samples
            // clamp, don't wrap: a header can declare > 2^31 frames
            Some(MediaFeatures(m.media_id, m.kind, m.content.length.toLong,
              fmt.getSampleRate.toInt, fmt.getChannels,
              math.min(nFrames, Int.MaxValue.toLong).toInt, feat))
          } catch { case scala.util.control.NonFatal(_) => None }
        else None
      parsed.getOrElse(StubDecoder.decodeBatch(Seq(m)).head)
    }
  }

  /** REAL video decode on the same seam, pure JDK: a RIFF/AVI
    * container parser + per-frame decode — covers MJPEG (motion-JPEG)
    * AVI, where each '##dc' movi chunk IS a complete JPEG for
    * `ImageIO`, and (since round 7) UNCOMPRESSED 24-bit DIB AVI,
    * where each frame chunk is a raw bottom-up BGR raster decoded
    * against the `strf` BITMAPINFOHEADER (biCompression = 0 — the
    * same RIFF walk, one more leaf type). Width / height / total
    * frame count come from the parsed `avih` main header; the 8-float
    * feature is [[ImageIODecoder.luminanceGrid]] averaged over up to
    * [[MaxSampledFrames]] evenly spaced REAL decoded frames (temporal
    * mean of the spatial statistic — the video-embedding stand-in).
    * Also REAL (since round 7): YUV4MPEG2 (Y4M), the second
    * container — a plain-text stream header (`YUV4MPEG2 W<w> H<h> …
    * C<colourspace>\n`) followed by `FRAME…\n` + raw planar YUV
    * payloads; the Y plane IS the luminance the feature wants, so a
    * sampled frame decodes its luma raster directly (code values used
    * as-is: exact for full-range C420jpeg, an affine shift for
    * limited-range streams — this is a feature extractor, not a
    * renderer). Codecs neither path can read (h264 etc. — their frame
    * decodes fail, header metadata is still real) and corrupt
    * payloads fall back per the [[ImageIODecoder]] contract:
    * header-parseable-but-undecodable gets real metadata + zero
    * features; unparseable gets [[StubDecoder]]. A production
    * deployment swaps in ffmpeg/JNI here with the same signature. */
  object VideoDecoder extends Decoder {
    /** Frame-decode bound: statistics converge in a few frames and a
      * long clip must not cost a full per-frame decode pass. */
    val MaxSampledFrames: Int = 4

    private def u32(b: Array[Byte], off: Int): Long =
      (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
        ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)
    private def u16(b: Array[Byte], off: Int): Int =
      (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
    private def fourcc(b: Array[Byte], off: Int): String =
      new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

    private case class Avi(width: Int, height: Int, totalFrames: Int,
                           frames: Vector[(Int, Int)], // (offset, length) into the payload
                           // strf declares uncompressed 24-bit DIB frames:
                           // (biWidth, biHeight) — the RASTER geometry, which may
                           // differ from avih's display dims; biHeight < 0 = top-down
                           dib: Option[(Int, Int)])

    /** Walk the RIFF chunk tree: `avih` for the main header, the first
      * `strf` for the frame pixel format (BITMAPINFOHEADER:
      * biBitCount @+14, biCompression @+16 — biCompression 0 + 24 bpp
      * marks raw-DIB frames), LIST `movi` children `##dc`/`##db` for
      * frame payloads. Chunks are word-aligned (odd sizes pad one
      * byte). Bounds-checked walk — a truncated file yields what was
      * parsed before the break. */
    private def parseAvi(b: Array[Byte]): Option[Avi] = {
      if (b.length < 12 || fourcc(b, 0) != "RIFF" || fourcc(b, 8) != "AVI ") return None
      var avih: Option[Int] = None
      var strf: Option[Int] = None
      // fccType of the most recent strh: a strf belongs to the stream
      // whose strh precedes it, so an audio-first AVI's WAVEFORMATEX
      // must not be misread as the video pixel format. A strh-less
      // minimal file (older fixtures) still accepts its lone strf.
      var lastStrh: Option[String] = None
      val frames = Vector.newBuilder[(Int, Int)]
      def walk(from: Int, until: Int): Unit = {
        var off = from
        while (off + 8 <= until) {
          val id = fourcc(b, off)
          val size = u32(b, off + 4).toInt
          val data = off + 8
          // overflow-safe bound (`data + size` wraps for crafted sizes
          // near Int.MaxValue; `until - data` cannot): a corrupt chunk
          // must stop the walk, keeping what was parsed before it
          if (size < 0 || size > until - data) return // truncated/corrupt tail
          if (id == "LIST" && size >= 4) walk(data + 4, data + size)
          else if (id == "avih" && size >= 40) avih = Some(data)
          else if (id == "strh" && size >= 4) lastStrh = Some(fourcc(b, data))
          else if (id == "strf" && size >= 20 && strf.isEmpty &&
                   lastStrh.forall(_ == "vids")) strf = Some(data)
          else if (id.length == 4 && id(0).isDigit && id(1).isDigit &&
                   id(2) == 'd' && (id(3) == 'c' || id(3) == 'b') && size > 0)
            frames += ((data, size))
          off = data + size + (size & 1)
        }
      }
      walk(12, math.min(b.length, 8 + u32(b, 4).toInt))
      avih.map { a =>
        // raster geometry comes from the stream's OWN header (strf
        // biWidth/biHeight, signed), not avih's display dims — the two
        // may legitimately differ (buffer padding, post-edit headers)
        val dib = strf.filter(f => u32(b, f + 16) == 0L && u16(b, f + 14) == 24)
          .map(f => (u32(b, f + 4).toInt, u32(b, f + 8).toInt))
        Avi(u32(b, a + 32).toInt, u32(b, a + 36).toInt, u32(b, a + 16).toInt,
          frames.result(), dib)
      }
    }

    /** Decode one raw 24-bit DIB frame chunk to a BufferedImage: BGR
      * rows padded to a 4-byte boundary (the Windows bitmap raster
      * layout `strf` biCompression = 0 declares), bottom-up for
      * positive `hSigned`, top-down for negative (the DIB sign
      * convention). A frame shorter than the declared raster is
      * corrupt → None (falls back like an undecodable JPEG). */
    private def decodeDib(b: Array[Byte], off: Int, len: Int,
                          w: Int, hSigned: Int): Option[java.awt.image.BufferedImage] = {
      val h = math.abs(hSigned)
      val topDown = hSigned < 0
      if (w <= 0 || h <= 0 || w.toLong * h > (1L << 26)) return None
      val stride = ((w * 3 + 3) / 4) * 4
      if (stride.toLong * h > len) return None
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        val row = off + (if (topDown) y else h - 1 - y) * stride
        while (x < w) {
          val p = row + x * 3
          img.setRGB(x, y, ((b(p + 2) & 0xff) << 16) | ((b(p + 1) & 0xff) << 8) | (b(p) & 0xff))
          x += 1
        }
        y += 1
      }
      Some(img)
    }

    /** Evenly spaced sample of `n` frame indices, at most
      * [[MaxSampledFrames]] of them. */
    private def sampleIndices(n: Int): Seq[Int] =
      if (n <= MaxSampledFrames) 0 until n
      else (0 until MaxSampledFrames).map(i => i * n / MaxSampledFrames)

    /** Temporal mean of the per-frame spatial grids; all-zero when no
      * frame decoded (the header-real/features-zero contract). */
    private def meanGrid(grids: Seq[Array[Float]]): Array[Float] =
      if (grids.isEmpty) new Array[Float](8)
      else Array.tabulate(8)(d => grids.map(_(d)).sum / grids.length)

    /** YUV4MPEG2 stream: raster geometry from the header line, one
      * offset per parsed frame's Y plane (Y4M has no header frame
      * count — n_frames is what parsed). */
    private case class Y4m(width: Int, height: Int, frames: Vector[Int])

    /** Parse the Y4M container: `YUV4MPEG2` + space-separated tagged
      * params to the first newline (W/H required, C defaults to
      * 420jpeg per the mjpegtools convention), then repeated
      * `FRAME[ params]\n` + a raw planar payload whose length the
      * colourspace fixes. Same truncation contract as [[parseAvi]]:
      * a malformed or short tail stops the walk and keeps the frames
      * parsed before it. Unknown subsampling tags → None (stub). */
    private def parseY4m(b: Array[Byte]): Option[Y4m] = {
      val magic = "YUV4MPEG2"
      if (b.length <= magic.length ||
          new String(b, 0, magic.length, java.nio.charset.StandardCharsets.US_ASCII) != magic)
        return None
      val hdrEnd = b.indexOf('\n'.toByte)
      if (hdrEnd < 0) return None
      val params = new String(b, 0, hdrEnd, java.nio.charset.StandardCharsets.US_ASCII)
        .split(' ').iterator.drop(1).filter(_.nonEmpty).toSeq
      def tagged(c: Char): Option[String] =
        params.collectFirst { case p if p.head == c => p.tail }
      (tagged('W').flatMap(_.toIntOption), tagged('H').flatMap(_.toIntOption)) match {
        case (Some(w), Some(h)) if w > 0 && h > 0 && w.toLong * h <= (1L << 26) =>
          val luma = w * h
          // non-luma plane bytes per frame, by subsampling family.
          // Odd dimensions under chroma subsampling are rejected (the
          // format requires even dims there; guessing a rounding would
          // mis-frame the walk), as is 444alpha's extra plane ordering
          // twin 444 would silently mis-frame without its own case.
          // EXACT-match the 8-bit tags: a prefix match would accept
          // high-bit-depth variants ("420p10", "422p12", "mono10" —
          // 2-byte samples) as 8-bit and mis-frame the whole walk
          val chroma = tagged('C').getOrElse("420jpeg") match {
            case "420" | "420jpeg" | "420mpeg2" | "420paldv" =>
              if (w % 2 != 0 || h % 2 != 0) -1 else 2 * ((w / 2) * (h / 2))
            case "422" =>
              if (w % 2 != 0) -1 else 2 * ((w / 2) * h)
            case "444alpha" => 3 * luma // U, V, A planes
            case "444"      => 2 * luma
            case "mono"     => 0
            case _          => -1 // unknown/high-bit-depth tag → stub fallback
          }
          if (chroma < 0) return None
          val frames = Vector.newBuilder[Int]
          var off = hdrEnd + 1
          var ok = true
          while (ok && off < b.length) {
            // each frame: "FRAME"[ params]"\n" then the fixed payload
            if (off + 5 > b.length ||
                new String(b, off, 5, java.nio.charset.StandardCharsets.US_ASCII) != "FRAME") ok = false
            else {
              var nl = off + 5
              while (nl < b.length && b(nl) != '\n'.toByte) nl += 1
              if (nl >= b.length || luma + chroma > b.length - (nl + 1)) ok = false
              else { frames += (nl + 1); off = nl + 1 + luma + chroma }
            }
          }
          Some(Y4m(w, h, frames.result()))
        case _ => None
      }
    }

    /** Decode one Y4M frame's Y plane to an RGB raster with the luma
      * replicated per channel — under [[ImageIODecoder.luminanceGrid]]'s
      * BT.601 weights (which sum to 1) the grid value IS y/255.
      * Deliberately NOT `TYPE_BYTE_GRAY`: that type's `getRGB` runs a
      * linear-gray→sRGB colorspace conversion that would distort the
      * code values. */
    private def decodeY4mLuma(b: Array[Byte], off: Int, w: Int, h: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        val row = off + y * w
        while (x < w) {
          val v = b(row + x) & 0xff
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      img
    }

    def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaFeatures] = batch.map { m =>
      val parsedAvi =
        if (m.kind == "video")
          try parseAvi(m.content) catch { case scala.util.control.NonFatal(_) => None }
        else None
      lazy val parsedY4m =
        if (m.kind == "video")
          try parseY4m(m.content) catch { case scala.util.control.NonFatal(_) => None }
        else None
      parsedAvi match {
        case Some(avi) =>
          val n = avi.frames.length
          val grids = sampleIndices(n).flatMap { i =>
            val (off, len) = avi.frames(i)
            // MJPEG first (ImageIO reads the embedded JPEG); raw-DIB
            // frames when strf declared them — same fallback contract
            try Option(javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(m.content, off, len)))
              .orElse(avi.dib.flatMap { case (dw, dh) =>
                decodeDib(m.content, off, len, dw, dh) })
              .map(ImageIODecoder.luminanceGrid)
            catch { case scala.util.control.NonFatal(_) => None }
          }
          MediaFeatures(m.media_id, m.kind, m.content.length.toLong,
            avi.width, avi.height,
            if (avi.totalFrames > 0) avi.totalFrames else n, meanGrid(grids))
        case None => parsedY4m match {
          case Some(y4m) =>
            val n = y4m.frames.length
            val grids = sampleIndices(n).map { i =>
              ImageIODecoder.luminanceGrid(
                decodeY4mLuma(m.content, y4m.frames(i), y4m.width, y4m.height))
            }
            MediaFeatures(m.media_id, m.kind, m.content.length.toLong,
              y4m.width, y4m.height, n, meanGrid(grids))
          case None => StubDecoder.decodeBatch(Seq(m)).head
        }
      }
    }
  }

  /** The full JDK decode surface on one seam: real image decode
    * ([[ImageIODecoder]]), real audio decode ([[AudioDecoder]]), and
    * real MJPEG/DIB-AVI/Y4M video decode ([[VideoDecoder]]); every decoder
    * falls back to the deterministic stub on formats outside the
    * JDK's reach, keeping the operator total. */
  object JdkDecoder extends Decoder {
    def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaFeatures] = batch.map { m =>
      m.kind match {
        case "image" => ImageIODecoder.decodeBatch(Seq(m)).head
        case "audio" => AudioDecoder.decodeBatch(Seq(m)).head
        case "video" => VideoDecoder.decodeBatch(Seq(m)).head
        case _       => StubDecoder.decodeBatch(Seq(m)).head
      }
    }
  }

  /** Media table synthesized from `documents`: the text bytes play the
    * opaque payload (the driver testdata has no real media), kind
    * assigned deterministically. Schema is the production contract:
    * (media_id, kind, content: binary). */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("content"))

  /** Batch-shaped decode: the mapPartitions seam a real decoder plugs
    * into. Streams each partition in `batchSize` groups — constant
    * memory, per-batch decoder amortization. */
  def extractFeatures(media: Dataset[MediaRecord], decoder: Decoder = StubDecoder,
                      batchSize: Int = 64): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap(b => decoder.decodeBatch(b.toSeq))
    }
  }

  /** Frame sampling for video payloads: every `stride`-th fixed-size
    * byte window as a (media_id, frame_no, frame) row — the plan shape
    * of real frame extraction (explode by frame index, then decode
    * each window). Pure expressions, stays in codegen. */
  def frameSample(media: DataFrame, frameBytes: Int = 16, stride: Int = 4): DataFrame =
    media.filter(col("kind") === "video")
      .select(col("media_id"),
        explode(sequence(lit(0),
          greatest(floor((length(col("content")) - frameBytes) / stride), lit(0)).cast("int"),
          lit(1))).as("frame_no"),
        col("content"))
      .select(col("media_id"), col("frame_no"),
        substring(col("content"), col("frame_no") * stride + 1, lit(frameBytes)).as("frame"))

  /** dHash-64 over a decoded raster (VERDICT r13 #5 — the PIXEL-level
    * member of the dedup family; until now image near-dup required
    * embeddings): average-downsample the luminance to a 9×8 grid and
    * set bit r*8+c iff grid(r,c) > grid(r,c+1) — the standard
    * difference hash. Gradient-based, so it is invariant to global
    * brightness/contrast shifts and robust to resizing/recompression,
    * which byte-level hashes (q19 md5) and text sketches can't see.
    * Area-averaged downsample (every pixel contributes), not
    * point-sampled — two JPEG encodes of one photo land within a few
    * bits. */
  def dHash64(img: java.awt.image.BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    // 9 columns × 8 rows of mean luminance; cell (r,c) covers the
    // half-open pixel box [r*h/8,(r+1)*h/8) × [c*w/9,(c+1)*w/9),
    // widened to at least one pixel for rasters narrower than the grid
    val grid = Array.tabulate(8, 9) { (r, c) =>
      val (r0, c0) = (r * h / 8, c * w / 9)
      val (r1, c1) = (math.max(r0 + 1, (r + 1) * h / 8), math.max(c0 + 1, (c + 1) * w / 9))
      var sum = 0.0
      var cnt = 0
      var y = r0
      while (y < r1 && y < h) {
        var x = c0
        while (x < c1 && x < w) {
          val rgb = img.getRGB(x, y)
          sum += ((rgb >> 16) & 255) * 0.299 + ((rgb >> 8) & 255) * 0.587 + (rgb & 255) * 0.114
          cnt += 1
          x += 1
        }
        y += 1
      }
      sum / cnt
    }
    var bits = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (grid(r)(c) > grid(r)(c + 1)) bits |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    bits
  }

  /** Decode one image payload and dHash it — the per-record kernel of
    * [[perceptualHashes]] and [[graft.stream.StreamingPhashDedup]]'s
    * micro-batch hasher (ONE definition, so the batch index and the
    * stream side can never hash differently). None for non-image kinds
    * and undecodable payloads — dropped, not stubbed (see
    * [[perceptualHashes]]). */
  private[graft] def hashImage(kind: String, content: Array[Byte]): Option[Long] = {
    if (kind != "image") None
    else {
      val img =
        try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content)))
        catch { case scala.util.control.NonFatal(_) => None }
      img.map(dHash64)
    }
  }

  /** Per-image perceptual hashes on the q28 decode seam: decode with
    * ImageIO (same batch-shaped `mapPartitions` as [[extractFeatures]])
    * and emit (media_id, phash). Undecodable payloads and non-image
    * kinds are DROPPED, not stubbed — a hash derived from raw bytes
    * would pair arbitrary non-images at random Hamming distances,
    * polluting the near-dup output the operator exists for (the q28
    * metadata projection remains the total operator). */
  def perceptualHashes(media: Dataset[MediaRecord], batchSize: Int = 64): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.flatMap(m =>
        hashImage(m.kind, m.content).map(h => (m.media_id, h))))
    }.toDF("media_id", "phash")
  }

  /** Pixel-level near-duplicate pairs from dHash-64 fingerprints:
    * banded Hamming blocking (the q22 SimHash / StreamingNearDedup
    * pattern at the image hash's width). The 64 bits split into 8
    * bands of 8; by pigeonhole any pair within Hamming distance 7
    * agrees on at least one full band, so `maxHamming ≤ 7` (default 6
    * — the conventional dHash near-dup threshold is ~6-10 of 64) has
    * NO false negatives; the exact `bit_count` check after the join
    * removes band-collision false positives. Candidate generation is
    * an EQUI-join on (band, band_bits) — never all-pairs: at 100 TB
    * the cost is bounded by per-bucket population exactly like q21's
    * MinHash bands, and a skewed bucket (e.g. the all-zero band of
    * flat images) is an AQE skew-join case, not a plan change. */
  /** 8 bands × 8 bits = the 64-bit dHash; Hamming ≤ PhashBands−1 is
    * the exact-recall regime (pigeonhole over the bands —
    * PhashBandProperties pins the bound at exactly 7). */
  val PhashBands = 8

  /** Scalar twin of the banding Column below — ONE definition of
    * "band b's bits" for the ScalaCheck pigeonhole properties and any
    * driver-side index builder (the [[graft.functions.MinHashAgg]]
    * twin pattern). */
  private[graft] def phashBandKey(phash: Long, b: Int): Long =
    (phash >>> (b * 8)) & 255L

  /** Explode a phash column into its (band, bits) keys — shared by
    * [[phashNearDup]] and [[graft.stream.StreamingPhashDedup]] so the
    * batch and stream sides index identically. */
  private[graft] def phashBandsCol(ph: Column): Column =
    explode(array((0 until PhashBands).map(b => struct(lit(b).as("band"),
      shiftright(ph, b * 8).bitwiseAND(lit(255L)).as("bits"))): _*))

  def phashNearDup(hashes: DataFrame, maxHamming: Int = 6): DataFrame = {
    val bands = PhashBands
    require(maxHamming >= 0 && maxHamming < bands,
      s"maxHamming must be ≤ ${bands - 1}: the $bands-band index only guarantees " +
        s"recall for Hamming < $bands (got $maxHamming)")
    val banded = hashes.select(col("media_id"), col("phash"),
      phashBandsCol(col("phash")).as("bk"))
      .select(col("media_id"), col("phash"), col("bk.band"), col("bk.bits"))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bits") === col("y.bits") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("id1"), col("y.media_id").as("id2"),
        bit_count(col("x.phash").bitwiseXOR(col("y.phash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Media-corpus curation (round 15, VERDICT r14 #4 — phashNearDup
    * composed instead of orphaned): [[graft.ops.LlmOps.curateCorpus]]'s
    * drop-list shape over a media corpus. Per asset:
    * (media_id, keep, reason), reason by precedence
    *  1. `exact_dup`      — not the min-media_id survivor of its byte-
    *     level md5 group (the q19 semantics on binary payloads);
    *  2. `image_near_dup` — dropped by the pixel-level resolution:
    *     [[perceptualHashes]] → [[phashNearDup]] banded pairs →
    *     [[graft.ops.LlmOps.connectedComponents]], min media_id per
    *     cluster survives (the q32 resolution on dHash clusters);
    *  3. `kept`.
    * Non-image and undecodable assets have no near-dup verdict (no
    * hash — see [[perceptualHashes]]) and pass that leg vacuously.
    *
    * Plan: the exact leg is one hash-group over the scan; the near
    * leg is banded-equi-join candidates (collision-proportional,
    * never all-pairs) + count-sized cluster resolution — the
    * composition adds no shuffle beyond its parts, the q35 argument
    * verbatim. */
  def curateMedia(media: Dataset[MediaRecord], maxHamming: Int = 6,
                  checkpointDir: Option[String] = None): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    // ONE persisted scan feeds the exact leg and the decode leg —
    // uncached, the binary payloads would be read (and shipped) twice
    val cached = Caches.persist(media.toDF())
    val exact = cached.select(col("media_id"), md5(col("content")).as("ck"))
    val minPer = exact.groupBy(col("ck")).agg(min(col("media_id")).as("min_id"))
    val exactVerdict = exact.join(minPer, Seq("ck"))
      .select(col("media_id"), (col("media_id") === col("min_id")).as("exact_keep"))
    val pairs = phashNearDup(perceptualHashes(cached.as[MediaRecord]), maxHamming)
      .select(col("id1").as("d1"), col("id2").as("d2"))
    val nearKeep = LlmOps.connectedComponents(pairs, checkpointDir = checkpointDir)
      .select(col("doc_id").as("media_id"),
        (col("doc_id") === col("cluster_id")).as("near_keep_m"))
    exactVerdict.join(nearKeep, Seq("media_id"), "left")
      .select(col("media_id"),
        (col("exact_keep") && coalesce(col("near_keep_m"), lit(true))).as("keep"),
        when(!col("exact_keep"), lit("exact_dup"))
          .when(!coalesce(col("near_keep_m"), lit(true)), lit("image_near_dup"))
          .otherwise(lit("kept")).as("reason"))
      .orderBy(col("media_id"))
  }

  /** q28 — typed-metadata projection over the binary column, fully
    * expression-based (no UDF): byte length, a content key from md5,
    * and the stub decoder's hash-derived dimensions, so the DuckDB
    * oracle reproduces every value from the same blob bytes. */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame = {
    val h = LlmOps.portableHash64(col("content"))
    mediaTable(spark, dir)
      .select(
        col("media_id"), col("kind"),
        length(col("content")).cast("long").as("n_bytes"),
        substring(md5(col("content")), 1, 12).as("content_key"),
        (lit(160) + (h % 16) * 16).cast("long").as("width"),
        // h/16 as integer div = h >> 4 (h is a positive 60-bit hash;
        // a double `/` would lose low bits past 2^53)
        (lit(120) + (shiftright(h, 4) % 16) * 16).cast("long").as("height"),
        when(col("kind") === "video", lit(1) + h % 240)
          .when(col("kind") === "audio", lit(0))
          .otherwise(lit(1)).cast("long").as("n_frames"))
      .orderBy(col("media_id"))
  }
}
