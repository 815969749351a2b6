package graft.ext

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads travel as
  * opaque `binary` columns with a typed metadata struct; decode /
  * feature-extract runs as a partition-wise batch operator.
  *
  * IMAGE decode is REAL: `javax.imageio` ships PNG/JPEG/BMP/GIF readers
  * with the JDK, so [[decodeImage]]/[[imageFeatures]] run an actual
  * codec — dimensions, channel count, and a downsampled luma histogram
  * per payload, with bounded per-row work. AUDIO decode is REAL for
  * WAV/PCM: `javax.sound.sampled` ships with the JDK, so
  * [[decodeWav]]/[[audioFeatures]] extract duration, RMS, zero-crossing
  * rate, and peak from actual sample data. VIDEO frame codecs are NOT
  * shipped with the JDK, so [[videoMetadata]] reads the ISO-BMFF
  * container header only: duration, track layout, codec fourccs and
  * display dimensions.
  */
object Multimodal {

  // no disk-backed ImageIO stream cache on executors (object init runs
  // once per JVM that touches any decode closure)
  javax.imageio.ImageIO.setUseCache(false)

  val MediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType),
      StructField("n_bytes", LongType),
      StructField("source", StringType))))))

  /** Real per-payload image features from the JDK's built-in readers. */
  final case class ImageFeatures(width: Int, height: Int, channels: Int,
      lumaHist: Array[Double])

  /** Decode one image payload with `javax.imageio` (PNG/JPEG/BMP/GIF —
    * the readers bundled with the JDK). Returns None for null/empty or
    * undecodable payloads. Features: pixel dimensions, raster band
    * count, and an ITU-R BT.601 luma histogram over a strided pixel
    * sample capped at ~4096 pixels, so per-row cost is bounded no
    * matter the image size (the 100 TB discipline: no row's decode can
    * stall a task on a pathological payload). */
  def decodeImage(payload: Array[Byte], histBins: Int = 16): Option[ImageFeatures] = {
    if (payload == null || payload.isEmpty) return None
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => null }
    if (img == null) return None
    val w = img.getWidth
    val h = img.getHeight
    if (w <= 0 || h <= 0) return None
    val channels = img.getRaster.getNumBands
    val stride = math.max(1, math.sqrt(w.toDouble * h / 4096.0).toInt)
    val hist = new Array[Double](histBins)
    var n = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val r = (rgb >> 16) & 0xff
        val g = (rgb >> 8) & 0xff
        val b = rgb & 0xff
        val luma = 0.299 * r + 0.587 * g + 0.114 * b
        val bin = math.min((luma / 256.0 * histBins).toInt, histBins - 1)
        hist(bin) += 1.0
        n += 1
        x += stride
      }
      y += stride
    }
    var i = 0
    while (i < histBins) { hist(i) /= n.toDouble; i += 1 }
    Some(ImageFeatures(w, h, channels, hist))
  }

  val ImageFeatureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("mime", StringType),
    StructField("n_bytes", LongType),
    StructField("decode_ok", BooleanType, nullable = false),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("luma_hist", ArrayType(DoubleType, containsNull = false))))

  /** Partition-wise REAL image decode over a media table: one batch loop
    * per partition (rows stream through without collecting the
    * partition), each payload through `javax.imageio`. Undecodable payloads keep their row with
    * decode_ok = false and null features (a dropped row would silently
    * shrink the corpus; a visible flag lets the pipeline route failures). */
  def imageFeatures(media: DataFrame, histBins: Int = 16): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select(col("media_id"), col("payload"),
        col("meta.mime"), col("meta.n_bytes")).rdd
      .mapPartitions { it =>
        it.map { r =>
          val payload = r.getAs[Array[Byte]](1)
          decodeImage(payload, histBins) match {
            case Some(f) =>
              Row(r.getLong(0), r.getString(2), r.getLong(3), true,
                f.width, f.height, f.channels, f.lumaHist.toSeq)
            case None =>
              Row(r.getLong(0), r.getString(2), r.getLong(3), false,
                null, null, null, null)
          }
        }
      }
    spark.createDataFrame(rdd, ImageFeatureSchema)
  }

  /** Deterministic tiny-PNG synthesis from a text column — the test/
    * bench stand-in for a real blob store of images (the environment
    * ships no image corpus). Each doc becomes a (4 + id%13)-wide,
    * (4 + id%7)-tall RGB image whose pixels cycle through the text's
    * utf-8 bytes, PNG-encoded (lossless, so decode features are exact
    * functions of the content). Runs partition-wise like any decode. */
  def synthesizePng(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    val rdd = docs.select(col(idCol).cast("long"), col(textCol).cast("string")).rdd
      .mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val bytes = Option(r.getString(1)).getOrElse("")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val w = 4 + (id % 13).toInt
          val h = 4 + (id % 7).toInt
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var p = 0
          while (p < w * h) {
            def b(i: Int): Int =
              if (bytes.isEmpty) 0 else bytes(((p * 3 + i) % bytes.length)) & 0xff
            img.setRGB(p % w, p / w, (b(0) << 16) | (b(1) << 8) | b(2))
            p += 1
          }
          val baos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", baos)
          val payload = baos.toByteArray
          Row(id, payload, Row("image/png", payload.length.toLong, "synth"))
        }
      }
    spark.createDataFrame(rdd, MediaSchema)
  }

  /** Real per-payload audio features from the JDK's built-in WAV/PCM
    * reader (`javax.sound.sampled` — no external codec needed for
    * RIFF/WAVE PCM). */
  final case class AudioFeatures(sampleRate: Double, channels: Int,
      nFrames: Long, durationSec: Double, rms: Double, zcr: Double,
      peak: Double)

  /** Decode one WAV payload. Features are computed over CHANNEL 0 of
    * up to `maxFrames` frames (silently truncated beyond — the bounded
    * per-row-work discipline of [[decodeImage]]): root-mean-square
    * amplitude, zero-crossing rate (sign flips per frame), and peak
    * absolute amplitude, all on samples normalized to [-1, 1]. Handles
    * 8-bit and 16-bit PCM (signed or unsigned); other encodings and
    * undecodable payloads return None. Duration/frame counts describe
    * the FULL stream (from the header), not the truncated prefix. */
  def decodeWav(payload: Array[Byte],
      maxFrames: Int = 1 << 20): Option[AudioFeatures] = {
    if (payload == null || payload.isEmpty) return None
    val in =
      try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => return None }
    try {
      val fmt = in.getFormat
      val enc = fmt.getEncoding
      val signed = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
      val unsigned = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
      val bits = fmt.getSampleSizeInBits
      if (!(signed || unsigned) || (bits != 8 && bits != 16)) return None
      val channels = fmt.getChannels
      val frameBytes = fmt.getFrameSize
      val nFrames = in.getFrameLength
      val sr = fmt.getSampleRate.toDouble
      if (channels <= 0 || frameBytes <= 0 || sr <= 0) return None
      val buf = new Array[Byte](frameBytes * 4096)
      var frames = 0L
      var sumSq = 0.0
      var crossings = 0L
      var peak = 0.0
      var prevSign = 0
      var eof = false
      while (!eof && frames < maxFrames) {
        val want = math.min(buf.length.toLong,
          (maxFrames - frames) * frameBytes).toInt
        val got = in.read(buf, 0, want)
        if (got <= 0) eof = true
        else {
          var off = 0
          while (off + frameBytes <= got) {
            // channel 0 sample at the head of each frame
            val v =
              if (bits == 16) {
                val lo = buf(off) & 0xff
                val raw =
                  if (fmt.isBigEndian) (buf(off) << 8) | (buf(off + 1) & 0xff)
                  else (buf(off + 1) << 8) | lo
                // unsigned reuses the endian-aware raw (a fixed (hi,lo)
                // order would byte-swap big-endian unsigned PCM)
                (if (signed) raw.toShort.toInt else (raw & 0xffff) - 32768)
                  .toDouble / 32768.0
              } else {
                val raw = buf(off) & 0xff
                (if (signed) buf(off).toDouble else (raw - 128).toDouble) / 128.0
              }
            sumSq += v * v
            val a = math.abs(v)
            if (a > peak) peak = a
            val sign = if (v > 0) 1 else if (v < 0) -1 else 0
            if (sign != 0 && prevSign != 0 && sign != prevSign) crossings += 1
            if (sign != 0) prevSign = sign
            frames += 1
            off += frameBytes
          }
        }
      }
      if (frames == 0) return None
      Some(AudioFeatures(sr, channels, nFrames, nFrames / sr,
        math.sqrt(sumSq / frames), crossings.toDouble / frames, peak))
    } catch { case _: Exception => None }
    finally in.close()
  }

  val AudioFeatureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("mime", StringType),
    StructField("n_bytes", LongType),
    StructField("decode_ok", BooleanType, nullable = false),
    StructField("sample_rate", DoubleType),
    StructField("channels", IntegerType),
    StructField("n_frames", LongType),
    StructField("duration_sec", DoubleType),
    StructField("rms", DoubleType),
    StructField("zcr", DoubleType),
    StructField("peak", DoubleType)))

  /** Partition-wise REAL audio decode over a media table — the WAV
    * analog of [[imageFeatures]]. Undecodable payloads keep their row
    * with decode_ok = false and null features. */
  def audioFeatures(media: DataFrame,
      maxFrames: Int = 1 << 20): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select(col("media_id"), col("payload"),
        col("meta.mime"), col("meta.n_bytes")).rdd
      .mapPartitions { it =>
        it.map { r =>
          val payload = r.getAs[Array[Byte]](1)
          decodeWav(payload, maxFrames) match {
            case Some(f) =>
              Row(r.getLong(0), r.getString(2), r.getLong(3), true,
                f.sampleRate, f.channels, f.nFrames, f.durationSec,
                f.rms, f.zcr, f.peak)
            case None =>
              Row(r.getLong(0), r.getString(2), r.getLong(3), false,
                null, null, null, null, null, null, null)
          }
        }
      }
    spark.createDataFrame(rdd, AudioFeatureSchema)
  }

  /** Deterministic tiny-WAV synthesis from a text column — the audio
    * counterpart of [[synthesizePng]]. Each doc becomes ~0.05 s of
    * 8 kHz 16-bit mono PCM: a sine whose frequency derives from the id
    * (200 + 50 * (id % 13) Hz) and whose amplitude derives from the
    * text length (0.25 + 0.5 * (len % 100) / 100), WAV-encoded
    * losslessly so decode features are exact functions of the content. */
  def synthesizeWav(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    val rdd = docs.select(col(idCol).cast("long"), col(textCol).cast("string")).rdd
      .mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val len = Option(r.getString(1)).getOrElse("").length
          val sr = 8000
          val n = 400
          val freq = 200.0 + 50.0 * (id % 13)
          val amp = 0.25 + 0.5 * (len % 100) / 100.0
          val pcm = new Array[Byte](n * 2)
          var i = 0
          while (i < n) {
            val s = (amp * math.sin(2.0 * math.Pi * freq * i / sr) * 32767.0).toInt
            pcm(2 * i) = (s & 0xff).toByte
            pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
            i += 1
          }
          val fmt = new javax.sound.sampled.AudioFormat(sr.toFloat, 16, 1,
            true, false)
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
          val baos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
          val payload = baos.toByteArray
          Row(id, payload, Row("audio/wav", payload.length.toLong, "synth"))
        }
      }
    spark.createDataFrame(rdd, MediaSchema)
  }

  // ---------------------------------------------------------------------
  // VIDEO: real ISO-BMFF (MP4/MOV) container metadata. Decoding FRAMES
  // needs a codec the JDK does not ship — but the container header is
  // pure big-endian integer reads, so duration, track layout, codec
  // fourccs, and display dimensions are all extractable for real.
  // ---------------------------------------------------------------------

  private def be32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
  private def be64(b: Array[Byte], o: Int): Long =
    (be32(b, o) << 32) | be32(b, o + 4)
  private def fourcc(b: Array[Byte], o: Int): String =
    new String(b, o, 4, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** One level of ISO-BMFF box headers in payload[from, until): returns
    * (type, bodyFrom, bodyUntil). Handles 32-bit, 64-bit (`size == 1`)
    * and to-end (`size == 0`) sizes; stops at the first malformed header
    * and caps the box count, so per-row work is bounded on adversarial
    * payloads (the same discipline as [[decodeImage]]'s pixel cap). */
  private def boxesIn(b: Array[Byte], from: Int, until: Int,
      maxBoxes: Int = 64): Seq[(String, Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
    var o = from
    while (o + 8 <= until && out.size < maxBoxes) {
      val size32 = be32(b, o)
      val typ = fourcc(b, o + 4)
      val (header, size) =
        if (size32 == 1L && o + 16 <= until) (16, be64(b, o + 8))
        else if (size32 == 0L) (8, (until - o).toLong)
        else (8, size32)
      if (size < header || o + size > until) return out.toSeq // malformed: stop
      out += ((typ, o + header, o + size.toInt))
      o += size.toInt
    }
    out.toSeq
  }

  private def childBox(boxes: Seq[(String, Int, Int)], typ: String)
      : Option[(Int, Int)] =
    boxes.collectFirst { case (t, f, u) if t == typ => (f, u) }

  /** Per-track container metadata: handler type (`vide`/`soun`/...),
    * sample-entry codec fourcc, and tkhd display size (16.16 fixed). */
  final case class TrackMeta(handler: String, codec: String,
      width: Double, height: Double)

  /** Container-level video metadata (no codec needed). */
  final case class VideoMeta(majorBrand: String, timescale: Long,
      durationSec: Double, tracks: Seq[TrackMeta])

  /** Parse ISO-BMFF container metadata: `ftyp` major brand, `mvhd`
    * timescale/duration, and per-`trak` handler + codec fourcc +
    * display dimensions. Returns None when the payload has no parseable
    * `moov/mvhd` (i.e. is not ISO-BMFF). Integer reads only — bounded
    * per-row work regardless of payload size. */
  def parseIsoBmff(payload: Array[Byte]): Option[VideoMeta] = {
    if (payload == null || payload.length < 16) return None
    try {
      val top = boxesIn(payload, 0, payload.length)
      val brand = childBox(top, "ftyp")
        .filter { case (f, u) => u - f >= 4 }
        .map { case (f, _) => fourcc(payload, f) }.getOrElse("")
      val (moovF, moovU) = childBox(top, "moov").getOrElse(return None)
      val moov = boxesIn(payload, moovF, moovU)
      val (mvF, mvU) = childBox(moov, "mvhd").getOrElse(return None)
      val v = payload(mvF) & 0xff
      val (timescale, duration) =
        if (v == 1 && mvU - mvF >= 32)
          (be32(payload, mvF + 20), be64(payload, mvF + 24))
        else if (v == 0 && mvU - mvF >= 20)
          (be32(payload, mvF + 12), be32(payload, mvF + 16))
        else return None
      if (timescale <= 0) return None
      val tracks = moov.collect { case ("trak", tf, tu) =>
        val trak = boxesIn(payload, tf, tu)
        val (w, h) = childBox(trak, "tkhd").map { case (f, u) =>
          val tv = payload(f) & 0xff
          val wOff = if (tv == 1) 84 else 76
          if (u - f >= wOff + 8)
            (be32(payload, f + wOff) / 65536.0,
              be32(payload, f + wOff + 4) / 65536.0)
          else (0.0, 0.0)
        }.getOrElse((0.0, 0.0))
        val mdia = childBox(trak, "mdia")
          .map { case (f, u) => boxesIn(payload, f, u) }.getOrElse(Nil)
        val handler = childBox(mdia, "hdlr")
          .filter { case (f, u) => u - f >= 12 }
          .map { case (f, _) => fourcc(payload, f + 8) }.getOrElse("")
        val codec = (for {
          (mf, mu) <- childBox(mdia, "minf")
          (sf, su) <- childBox(boxesIn(payload, mf, mu), "stbl")
          (df, du) <- childBox(boxesIn(payload, sf, su), "stsd")
          if du - df >= 16 && be32(payload, df + 4) >= 1
        } yield fourcc(payload, df + 12)).getOrElse("")
        TrackMeta(handler, codec, w, h)
      }
      Some(VideoMeta(brand, timescale, duration.toDouble / timescale, tracks))
    } catch { case _: Exception => None }
  }

  val VideoMetaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("mime", StringType),
    StructField("n_bytes", LongType),
    StructField("parse_ok", BooleanType, nullable = false),
    StructField("major_brand", StringType),
    StructField("timescale", LongType),
    StructField("duration_sec", DoubleType),
    StructField("n_tracks", IntegerType),
    StructField("track_types", ArrayType(StringType, containsNull = false)),
    StructField("codecs", ArrayType(StringType, containsNull = false)),
    StructField("width", DoubleType),
    StructField("height", DoubleType)))

  /** Partition-wise REAL video container metadata over a media table —
    * the ISO-BMFF analog of [[imageFeatures]]/[[audioFeatures]].
    * width/height report the first `vide` track (0 when none). Frame
    * DECODE stays out of scope: the JDK ships no video codec; a real
    * deployment bolts an ffmpeg bridge onto this same batch shape. */
  def videoMetadata(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select(col("media_id"), col("payload"),
        col("meta.mime"), col("meta.n_bytes")).rdd
      .mapPartitions { it =>
        it.map { r =>
          parseIsoBmff(r.getAs[Array[Byte]](1)) match {
            case Some(m) =>
              val vide = m.tracks.find(_.handler == "vide")
              Row(r.getLong(0), r.getString(2), r.getLong(3), true,
                m.majorBrand, m.timescale, m.durationSec, m.tracks.size,
                m.tracks.map(_.handler), m.tracks.map(_.codec),
                vide.map(_.width).getOrElse(0.0),
                vide.map(_.height).getOrElse(0.0))
            case None =>
              Row(r.getLong(0), r.getString(2), r.getLong(3), false,
                null, null, null, null, null, null, null, null)
          }
        }
      }
    spark.createDataFrame(rdd, VideoMetaSchema)
  }

  private def boxBytes(typ: String, body: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](8 + body.length)
    val size = out.length.toLong
    out(0) = ((size >> 24) & 0xff).toByte; out(1) = ((size >> 16) & 0xff).toByte
    out(2) = ((size >> 8) & 0xff).toByte; out(3) = (size & 0xff).toByte
    System.arraycopy(typ.getBytes("ISO-8859-1"), 0, out, 4, 4)
    System.arraycopy(body, 0, out, 8, body.length)
    out
  }
  private def beBytes32(v: Long): Array[Byte] = Array(
    ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
    ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  /** Deterministic minimal-MP4 synthesis from a text column — the video
    * counterpart of [[synthesizeWav]]: a structurally valid ISO-BMFF
    * container (ftyp + moov/mvhd + one or two trak subtrees with real
    * tkhd/hdlr/stsd boxes) whose timescale, duration, dimensions, and
    * codec fourccs are exact functions of (id, text length). No media
    * data — the synthesized corpus exercises the container parser, which
    * is the part of the modality this environment can make real. */
  def synthesizeMp4(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    val rdd = docs.select(col(idCol).cast("long"), col(textCol).cast("string")).rdd
      .mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val len = Option(r.getString(1)).getOrElse("").length
          val timescale = 600L
          val durUnits = timescale * (1L + id % 10)
          val w = 16L * (1 + (id % 4))
          val h = 16L * (1 + (len % 3))
          def fullBoxBody(parts: Array[Byte]*): Array[Byte] =
            (Array[Byte](0, 0, 0, 0) +: parts).reduce(_ ++ _)
          val mvhd = boxBytes("mvhd", fullBoxBody(
            beBytes32(0), beBytes32(0), beBytes32(timescale),
            beBytes32(durUnits), beBytes32(0x00010000L), new Array[Byte](76)))
          def trak(handler: String, codec: String, wv: Long, hv: Long) = {
            val tkhd = boxBytes("tkhd", fullBoxBody(
              beBytes32(0), beBytes32(0), beBytes32(1), beBytes32(0),
              beBytes32(durUnits), new Array[Byte](52),
              beBytes32(wv << 16), beBytes32(hv << 16)))
            val hdlr = boxBytes("hdlr", fullBoxBody(beBytes32(0),
              handler.getBytes("ISO-8859-1"), new Array[Byte](13)))
            val entry = boxBytes(codec, new Array[Byte](8))
            val stsd = boxBytes("stsd", fullBoxBody(beBytes32(1), entry))
            val stbl = boxBytes("stbl", stsd)
            val minf = boxBytes("minf", stbl)
            val mdia = boxBytes("mdia", hdlr ++ minf)
            boxBytes("trak", tkhd ++ mdia)
          }
          val traks =
            if (id % 2 == 0) trak("vide", "avc1", w, h) ++
              trak("soun", "mp4a", 0L, 0L)
            else trak("vide", "avc1", w, h)
          val payload = boxBytes("ftyp",
            "isom".getBytes("ISO-8859-1") ++ beBytes32(0x200) ++
              "isomiso2".getBytes("ISO-8859-1")) ++
            boxBytes("moov", mvhd ++ traks)
          Row(id, payload, Row("video/mp4", payload.length.toLong, "synth"))
        }
      }
    spark.createDataFrame(rdd, MediaSchema)
  }
}
