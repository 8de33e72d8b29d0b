package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video as opaque binary columns with typed
  * metadata, processed batch-wise via mapPartitions.
  *
  * IMAGE decode is REAL: `decodeImages` runs the JDK's javax.imageio codecs
  * (PNG/JPEG/GIF/BMP ship with every JVM — no external packages), reading
  * both the header (format/dimensions) and the pixel raster (mean luminance
  * as the representative extracted feature). AUDIO decode is REAL too:
  * `decodeAudio` runs javax.sound.sampled (WAV/AIFF/AU, PCM + ULAW/ALAW),
  * reading header metadata and a bounded-prefix RMS amplitude. Payloads no
  * JDK codec accepts (video containers, corrupt bytes) fall back to the
  * deterministic synthetic-header stub (`decodeStub`) so the pipeline is
  * total — that stub remains the stand-in only for VIDEO codecs.
  *
  * Scale: binary payloads ride in parquet as byte arrays; decode is map-side;
  * `repartition` before decode balances payload bytes (not row counts) when
  * media sizes are skewed.
  */
object MultimodalOps {

  case class MediaRecord(media_id: Long, bytes: Array[Byte], kind: String)
  case class DecodedMeta(media_id: Long, kind: String, byte_len: Int,
                         width: Int, height: Int, n_frames: Int)

  /** Oracle-checkable metadata pass over binary content (here derived from
    * the documents table: bytes = UTF-8 of text — a stand-in payload). */
  def multimodalMeta(docs: DataFrame): DataFrame = {
    val bin = encode(col("text"), "UTF-8")
    docs.select(
      col("doc_id"),
      octet_length(bin).cast("long").as("byte_len"),
      md5(bin).as("content_md5"),
      when(pmod(ascii(substring(col("text"), 1, 1)), lit(3)) === 0, "image")
        .when(pmod(ascii(substring(col("text"), 1, 1)), lit(3)) === 1, "audio")
        .otherwise("video").as("kind"))
  }

  /** Documents → MediaRecord dataset (the binary-column ingestion shape). */
  def asMediaRecords(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("bytes"),
        when(pmod(ascii(substring(col("text"), 1, 1)), lit(3)) === 0, "image")
          .when(pmod(ascii(substring(col("text"), 1, 1)), lit(3)) === 1, "audio")
          .otherwise("video").as("kind"))
      .as[MediaRecord]
  }

  case class DecodedImage(media_id: Long, format: String, width: Int, height: Int,
                          byte_len: Int, mean_luma: Double, real_decode: Boolean)

  /** REAL image decode through the Dataset path: javax.imageio header read
    * (format + dimensions without a pixel decode) followed by a raster read
    * for the feature pass (mean ITU-R 601 luminance, stride-subsampled to a
    * bounded pixel budget per image). Undecodable payloads degrade to the
    * stub's synthetic metadata with `real_decode = false` — a corrupt image
    * in 100 TB of media must mark, not kill, the job. mapPartitions mirrors
    * a real codec's lifecycle: decoder state per partition, records
    * streamed through. */
  def decodeImages(spark: SparkSession, media: Dataset[MediaRecord],
                   maxSampledPixels: Int = 1 << 16,
                   maxDecodePixels: Long = 64L << 20): Dataset[DecodedImage] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val real =
          try {
            val iis = javax.imageio.ImageIO.createImageInputStream(
              new java.io.ByteArrayInputStream(m.bytes))
            try {
              val readers = javax.imageio.ImageIO.getImageReaders(iis)
              if (!readers.hasNext) None
              else {
                val r = readers.next()
                try {
                  r.setInput(iis)
                  val fmt = r.getFormatName.toLowerCase(java.util.Locale.ROOT)
                  // decompression-bomb guard: the header declares dimensions
                  // BEFORE any raster is allocated — a tiny payload claiming
                  // a huge raster would OOM the executor at r.read(0), and
                  // OutOfMemoryError is not caught by NonFatal. Bound the
                  // declared pixel count first; oversized claims degrade to
                  // the stub like any other undecodable payload (ADVICE r3).
                  val declaredPixels = r.getWidth(0).toLong * r.getHeight(0).toLong
                  if (declaredPixels > maxDecodePixels)
                    throw new java.io.IOException(
                      s"declared raster $declaredPixels px exceeds bound $maxDecodePixels")
                  val img = r.read(0)
                  val w = img.getWidth; val h = img.getHeight
                  val stride = math.max(1, math.toIntExact(
                    math.round(math.sqrt(w.toLong * h / maxSampledPixels.toDouble))))
                  var sum = 0.0; var n = 0L; var y = 0
                  while (y < h) {
                    var x = 0
                    while (x < w) {
                      val rgb = img.getRGB(x, y)
                      sum += 0.299 * ((rgb >> 16) & 0xff) +
                             0.587 * ((rgb >> 8) & 0xff) +
                             0.114 * (rgb & 0xff)
                      n += 1; x += stride
                    }
                    y += stride
                  }
                  Some(DecodedImage(m.media_id, fmt, w, h, m.bytes.length,
                    mean_luma = if (n == 0) 0.0 else sum / n, real_decode = true))
                } finally r.dispose()
              }
            } finally if (iis != null) iis.close()
          } catch { case scala.util.control.NonFatal(_) => None }
        real.getOrElse {
          val b = m.bytes
          def at(i: Int): Int = if (b.length > i) b(i) & 0xff else 0
          DecodedImage(m.media_id, "undecoded", 16 + at(0) % 240, 16 + at(1) % 240,
            b.length, mean_luma = 0.0, real_decode = false)
        }
      }
    }
  }

  case class DecodedAudio(media_id: Long, format: String, sample_rate: Double,
                          channels: Int, bits: Int, n_frames: Long,
                          duration_sec: Double, byte_len: Int, rms: Double,
                          real_decode: Boolean)

  /** javax.sound SPI providers resolved ONCE per executor JVM. Every
    * `AudioSystem.getAudioFileFormat/getAudioInputStream` call routes
    * through `JDK13Services.getProviders`, which is a GLOBALLY SYNCHRONIZED
    * static that re-runs the ServiceLoader scan on each call — three such
    * calls per record make a 32-thread decode stage serialize on one
    * monitor (measured at sf1: the 13-way-parallel scan ran 1.5× SLOWER
    * than the same rows in a single task). Resolving the providers once and
    * invoking them directly is exactly what AudioSystem does per call,
    * minus the lock and the rescan. Empty arrays (an exotic classloader
    * layout that hides the java.desktop providers) fall back to the
    * AudioSystem path — slow but never silently stubbed. */
  private lazy val audioFileReaders: Array[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    try {
      val tccl = java.util.ServiceLoader.load(
        classOf[javax.sound.sampled.spi.AudioFileReader]).asScala.toArray
      val all =
        if (tccl.nonEmpty) tccl
        else java.util.ServiceLoader.load(
          classOf[javax.sound.sampled.spi.AudioFileReader],
          classOf[javax.sound.sampled.AudioSystem].getClassLoader).asScala.toArray
      // MIDI-routing readers go LAST: the JDK's SoftMidiAudioFileReader
      // sits FIRST in ServiceLoader order and probes payloads via
      // MidiSystem.getSequence — which re-enters JDK13Services.getProviders
      // (class-level lock + a FULL classpath ServiceLoader rescan) on EVERY
      // call. With it first, each WAV record paid a classpath scan under a
      // global monitor (thread-dump-attributed; the probe showed 32-thread
      // decode SLOWER than 1-thread). Container magics are disjoint, so a
      // reader permutation cannot change which reader ACCEPTS a payload —
      // only how fast the rejections run; the AudioSystem-parity spec pins
      // row-identity anyway.
      val (midi, direct) = all.partition(_.getClass.getName.contains("Midi"))
      direct ++ midi
    } catch { case scala.util.control.NonFatal(_) =>
      Array.empty[javax.sound.sampled.spi.AudioFileReader] }
  }
  private lazy val audioConverters: Array[javax.sound.sampled.spi.FormatConversionProvider] = {
    import scala.jdk.CollectionConverters._
    try {
      val tccl = java.util.ServiceLoader.load(
        classOf[javax.sound.sampled.spi.FormatConversionProvider]).asScala.toArray
      if (tccl.nonEmpty) tccl
      else java.util.ServiceLoader.load(
        classOf[javax.sound.sampled.spi.FormatConversionProvider],
        classOf[javax.sound.sampled.AudioSystem].getClassLoader).asScala.toArray
    } catch { case scala.util.control.NonFatal(_) =>
      Array.empty[javax.sound.sampled.spi.FormatConversionProvider] }
  }

  /** Test hook: force the AudioSystem SPI-lookup path even when the cached
    * providers resolved, so the fallback stays covered by the parity spec. */
  @volatile private[graft] var forceAudioSystemSpi = false

  /** `AudioSystem.getAudioFileFormat(stream)` without the global provider
    * lock: first reader that accepts the payload wins (AudioSystem's own
    * iteration order contract). Fresh stream per attempt — a provider that
    * fails mid-read cannot leave a shifted position for the next. */
  private def readAudioFileFormat(bytes: Array[Byte]): javax.sound.sampled.AudioFileFormat = {
    if (forceAudioSystemSpi || audioFileReaders.isEmpty)
      return javax.sound.sampled.AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(bytes))
    var i = 0
    while (i < audioFileReaders.length) {
      try return audioFileReaders(i).getAudioFileFormat(new java.io.ByteArrayInputStream(bytes))
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException => }
      i += 1
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      "file is not a supported file type")
  }

  private def openAudioStream(bytes: Array[Byte]): javax.sound.sampled.AudioInputStream = {
    if (forceAudioSystemSpi || audioFileReaders.isEmpty)
      return javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
    var i = 0
    while (i < audioFileReaders.length) {
      try return audioFileReaders(i).getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException => }
      i += 1
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      "file is not a supported file type")
  }

  /** `AudioSystem.getAudioInputStream(target, src)` minus the lock: pass
    * the source through unchanged when it already matches (AudioSystem's
    * own first check), else the first converter that supports the
    * conversion. Failure throws (caught by the caller's degrade-to-stub). */
  private def convertAudioStream(target: javax.sound.sampled.AudioFormat,
                                 src: javax.sound.sampled.AudioInputStream)
      : javax.sound.sampled.AudioInputStream = {
    if (forceAudioSystemSpi || audioConverters.isEmpty)
      return javax.sound.sampled.AudioSystem.getAudioInputStream(target, src)
    val fmt = src.getFormat
    if (fmt.matches(target)) return src
    var i = 0
    while (i < audioConverters.length) {
      if (audioConverters(i).isConversionSupported(target, fmt))
        return audioConverters(i).getAudioInputStream(target, src)
      i += 1
    }
    throw new IllegalArgumentException("Unsupported conversion: " + target + " from " + fmt)
  }

  /** REAL audio decode through the Dataset path: the JDK's
    * javax.sound.sampled codecs (WAV/AIFF/AU with PCM and ULAW/ALAW
    * encodings ship with every JVM — no external packages), mirroring the
    * imageio move that made image decode real. Header fields (container
    * format, sample rate, channels, bit depth, frame count) come from the
    * file header; the representative extracted feature is RMS amplitude
    * over a bounded prefix of frames, computed after normalizing the stream
    * to 16-bit signed PCM so every source encoding measures on one scale.
    * Codec lookup goes through the once-per-JVM provider cache above, not
    * AudioSystem's globally-locked per-call scan.
    *
    * Bomb guard mirrors decodeImages: the header declares the frame count
    * BEFORE any sample bytes are read, so a tiny payload claiming hours of
    * audio is refused at the header and degrades to the stub. Payloads no
    * JDK codec accepts (video containers, corrupt bytes) degrade the same
    * way — a bad file in 100 TB of media must mark, not kill, the job.
    * With this, only VIDEO remains on the synthetic stub. */
  def decodeAudio(spark: SparkSession, media: Dataset[MediaRecord],
                  maxSampledFrames: Long = 1L << 20,
                  maxDecodeFrames: Long = 1L << 32): Dataset[DecodedAudio] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.map(m => decodeOneAudio(m.media_id, m.bytes, maxSampledFrames, maxDecodeFrames))
    }
  }

  /** Per-record body of [[decodeAudio]]. Driving it directly, without Spark,
    * is how the SPI-lock attribution was measured (NOTES_PERF.md, "r11:
    * audio decode anti-scaled"). */
  private[graft] def decodeOneAudio(mediaId: Long, bytes: Array[Byte],
                                    maxSampledFrames: Long = 1L << 20,
                                    maxDecodeFrames: Long = 1L << 32): DecodedAudio = {
    val real =
      try {
        val fileFmt = readAudioFileFormat(bytes)
        val container = fileFmt.getType.toString.toLowerCase(java.util.Locale.ROOT)
        val src = openAudioStream(bytes)
        try {
          val fmt = src.getFormat
          val frames = src.getFrameLength // from the header, pre-read
          if (frames > maxDecodeFrames)
            throw new java.io.IOException(
              s"declared $frames audio frames exceed bound $maxDecodeFrames")
          // normalize to 16-bit signed little-endian PCM (same channel
          // count/rate) so RMS is encoding-independent; ULAW/ALAW and
          // 8/24-bit PCM all convert through the JDK's own converters
          val target = new javax.sound.sampled.AudioFormat(
            fmt.getSampleRate, 16, fmt.getChannels, true, false)
          val pcm = convertAudioStream(target, src)
          try {
            val frameBytes = target.getFrameSize // 2 * channels
            val budget = math.min(if (frames >= 0) frames else Long.MaxValue,
              maxSampledFrames)
            val buf = new Array[Byte](frameBytes * 4096)
            var sumSq = 0.0; var n = 0L; var done = false
            while (!done && n < budget) {
              val want = math.min(buf.length.toLong,
                (budget - n) * frameBytes).toInt
              val got = pcm.read(buf, 0, want)
              if (got <= 0) done = true
              else {
                var i = 0
                while (i + 1 < got) {
                  val s = ((buf(i + 1) << 8) | (buf(i) & 0xff)).toShort
                  val v = s / 32768.0
                  sumSq += v * v
                  i += 2
                }
                n += got / frameBytes
              }
            }
            val samples = n * fmt.getChannels
            Some(DecodedAudio(mediaId, container,
              sample_rate = fmt.getSampleRate.toDouble,
              channels = fmt.getChannels,
              bits = fmt.getSampleSizeInBits,
              n_frames = frames,
              duration_sec = if (frames >= 0 && fmt.getSampleRate > 0)
                frames / fmt.getSampleRate.toDouble else -1.0,
              byte_len = bytes.length,
              rms = if (samples == 0) 0.0 else math.sqrt(sumSq / samples),
              real_decode = true))
          } finally pcm.close()
        } finally src.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    real.getOrElse {
      val b = bytes
      def at(i: Int): Int = if (b.length > i) b(i) & 0xff else 0
      DecodedAudio(mediaId, "undecoded",
        sample_rate = 8000.0 * (1 + at(0) % 6), channels = 1 + at(1) % 2,
        bits = 8 * (1 + at(2) % 2), n_frames = b.length.toLong,
        duration_sec = -1.0, byte_len = b.length, rms = 0.0,
        real_decode = false)
    }
  }

  case class VideoMeta(media_id: Long, container: String, width: Int, height: Int,
                       duration_sec: Double, n_tracks: Int, byte_len: Int,
                       real_parse: Boolean)

  /** REAL video CONTAINER parse — header-level metadata without any codec:
    * an ISO BMFF (MP4/MOV, ISO/IEC 14496-12) box walk reading
    * ftyp (brand), moov/mvhd (timescale + duration) and moov/trak/tkhd
    * (16.16 fixed-point width/height, track count); and the RIFF AVI
    * header list (avih: width/height/total frames/frame interval). This is
    * the part of video decode that needs only public byte-layout knowledge;
    * FRAME decode still goes through the deterministic stub
    * (`decodeStub`/`frameSampleStub`) since the container ships no codecs.
    * Unparseable payloads degrade to a stub record (`real_parse = false`) —
    * same totality contract as decodeImages/decodeAudio. */
  def parseVideoMeta(spark: SparkSession, media: Dataset[MediaRecord]): Dataset[VideoMeta] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        parseMp4(m.media_id, m.bytes).orElse(parseAvi(m.media_id, m.bytes)).getOrElse {
          val b = m.bytes
          def at(i: Int): Int = if (b.length > i) b(i) & 0xff else 0
          VideoMeta(m.media_id, "unparsed", 16 + at(0) % 240, 16 + at(1) % 240,
            duration_sec = -1.0, n_tracks = 1, byte_len = b.length, real_parse = false)
        }
      }
    }
  }

  private def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) | ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
  private def le32(b: Array[Byte], i: Int): Long =
    ((b(i + 3) & 0xffL) << 24) | ((b(i + 2) & 0xffL) << 16) | ((b(i + 1) & 0xffL) << 8) | (b(i) & 0xffL)
  private def fourcc(b: Array[Byte], i: Int): String =
    new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** ISO BMFF box walk. Boxes are [u32 size][4cc type][payload]; size==1
    * means a u64 largesize follows (not produced by the tiny files we care
    * to bound-check, but handled); containers moov/trak nest boxes. */
  private[graft] def parseMp4(id: Long, b: Array[Byte]): Option[VideoMeta] = {
    if (b.length < 16 || fourcc(b, 4) != "ftyp") return None
    var duration = -1.0; var w = 0; var h = 0; var tracks = 0
    def walk(from: Long, to: Long, depth: Int): Unit = {
      var p = from
      while (p + 8 <= to) {
        var size = be32(b, p.toInt)
        val typ = fourcc(b, p.toInt + 4)
        var hdr = 8L
        if (size == 1 && p + 16 <= to) { // 64-bit largesize
          size = (be32(b, p.toInt + 8) << 32) | be32(b, p.toInt + 12); hdr = 16L
        } else if (size == 0) size = to - p // box runs to end of enclosing space
        if (size < hdr || p + size > to) return // malformed: stop this level
        typ match {
          case "moov" if depth == 0 => walk(p + hdr, p + size, 1)
          case "trak" if depth == 1 => tracks += 1; walk(p + hdr, p + size, 2)
          case "mvhd" if depth == 1 && size >= hdr + 20 =>
            val q = p.toInt + hdr.toInt
            val version = b(q) & 0xff
            if (version == 1 && size >= hdr + 32) {
              val timescale = be32(b, q + 20)
              val dur = (be32(b, q + 24) << 32) | be32(b, q + 28)
              if (timescale > 0) duration = dur.toDouble / timescale
            } else if (version == 0) {
              val timescale = be32(b, q + 12)
              val dur = be32(b, q + 16)
              if (timescale > 0) duration = dur.toDouble / timescale
            }
          case "tkhd" if depth == 2 =>
            val q = p.toInt + hdr.toInt
            val version = b(q) & 0xff
            // width offset within the tkhd payload (ISO 14496-12 §8.3.2):
            // FullBox(4) + times/id/duration (20 for v0, 32 for v1) +
            // reserved(8) + layer/group/volume/reserved(8) + matrix(36)
            val fixedOff = if (version == 1) 88 else 76
            if (size >= hdr + fixedOff + 8 && (w == 0 || h == 0)) {
              val tw = (be32(b, q + fixedOff) >> 16).toInt // 16.16 fixed point
              val th = (be32(b, q + fixedOff + 4) >> 16).toInt
              if (tw > 0 && th > 0) { w = tw; h = th } // first visual track wins
            }
          case _ => ()
        }
        p += size
      }
    }
    walk(0L, b.length.toLong, 0)
    if (duration < 0 && tracks == 0) None
    else Some(VideoMeta(id, "mp4", w, h, duration, tracks, b.length, real_parse = true))
  }

  /** RIFF AVI: 'RIFF'[size]'AVI ' then LIST hdrl → avih payload at a fixed
    * layout (µs/frame, total frames, width/height at offsets 0/16/32/36). */
  private[graft] def parseAvi(id: Long, b: Array[Byte]): Option[VideoMeta] = {
    if (b.length < 12 || fourcc(b, 0) != "RIFF" || fourcc(b, 8) != "AVI ") return None
    var p = 12
    while (p + 8 <= b.length) {
      val ck = fourcc(b, p); val sz = le32(b, p + 4)
      if (ck == "LIST" && p + 12 <= b.length && fourcc(b, p + 8) == "hdrl") {
        var q = p + 12
        val end = math.min(b.length.toLong, p + 8 + sz)
        while (q + 8 <= end) {
          if (fourcc(b, q) == "avih" && q + 8 + 40 <= end) {
            val usPerFrame = le32(b, q + 8)
            val totalFrames = le32(b, q + 8 + 16)
            val streams = le32(b, q + 8 + 24).toInt
            val w = le32(b, q + 8 + 32).toInt; val h = le32(b, q + 8 + 36).toInt
            val dur = if (usPerFrame > 0) totalFrames * usPerFrame / 1e6 else -1.0
            return Some(VideoMeta(id, "avi", w, h, dur, n_tracks = math.max(1, streams),
              byte_len = b.length, real_parse = true))
          }
          q += 8 + le32(b, q + 4).toInt + (le32(b, q + 4).toInt & 1)
        }
      }
      p += 8 + sz.toInt + (sz.toInt & 1) // chunks are word-aligned
    }
    None
  }

  case class DecodedFrame(media_id: Long, frame_idx: Int, width: Int, height: Int,
                          frame_bytes: Int, mean_luma: Double, real_decode: Boolean)

  /** Mean ITU-R 601 luminance of a decoded raster, stride-subsampled to a
    * bounded pixel budget (shared by decodeImages-style feature passes). */
  private def meanLuma(img: java.awt.image.BufferedImage, maxSampledPixels: Int): Double = {
    val w = img.getWidth; val h = img.getHeight
    val stride = math.max(1, math.toIntExact(
      math.round(math.sqrt(w.toLong * h / maxSampledPixels.toDouble))))
    var sum = 0.0; var n = 0L; var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        sum += 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
          0.114 * (rgb & 0xff)
        n += 1; x += stride
      }
      y += stride
    }
    if (n == 0) 0.0 else sum / n
  }

  /** (offset, length) of every video frame chunk (##dc / ##db) inside the
    * RIFF AVI `movi` list — the public byte layout (same walk style as the
    * avih parser above; `movi` may also nest `rec ` LISTs, handled). */
  private[graft] def aviFrameChunks(b: Array[Byte]): Seq[(Int, Int)] = {
    if (b.length < 12 || fourcc(b, 0) != "RIFF" || fourcc(b, 8) != "AVI ") return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    def isFrame(cc: String): Boolean =
      cc.length == 4 && cc(0).isDigit && cc(1).isDigit && cc(2) == 'd' &&
        (cc(3) == 'c' || cc(3) == 'b')
    def scan(from: Int, to: Long): Unit = {
      var q = from
      while (q + 8 <= to) {
        val cc = fourcc(b, q); val csz = le32(b, q + 4)
        if (q + 8 + csz > to) return // malformed: stop this level
        if (cc == "LIST" && q + 12 <= to && fourcc(b, q + 8) == "rec ")
          scan(q + 12, q + 8 + csz)
        else if (isFrame(cc) && csz > 0) out += ((q + 8, csz.toInt))
        q += 8 + csz.toInt + (csz.toInt & 1)
      }
    }
    var p = 12
    while (p + 8 <= b.length) {
      val ck = fourcc(b, p); val sz = le32(b, p + 4)
      if (ck == "LIST" && p + 12 <= b.length && fourcc(b, p + 8) == "movi")
        scan(p + 12, math.min(b.length.toLong, p + 8 + sz))
      p += 8 + sz.toInt + (sz.toInt & 1)
    }
    out.toSeq
  }

  /** REAL video FRAME decode for MJPEG-in-AVI — the last decoder to leave
    * the stub. MJPEG frames are baseline JPEGs stored one per `##dc` chunk
    * in the `movi` list (public RIFF layout), so the already-used
    * javax.imageio JPEG codec decodes them with no new packages: every
    * `everyK`th frame (up to `maxFramesPerVideo`) is decoded and its mean
    * luminance emitted — the frame-sampling fan-out shape (one row per
    * sampled frame) that frameSampleStub only mimicked. Bomb guard per
    * frame mirrors decodeImages (declared raster bounded BEFORE pixel
    * allocation). Payloads that are not AVI or whose frames are not JPEG
    * (other FourCC codecs) degrade to one stub row with
    * `real_decode = false` — the stub is now the fallback for non-MJPEG
    * codecs only. */
  def decodeVideoFrames(spark: SparkSession, media: Dataset[MediaRecord],
                        everyK: Int = 4, maxFramesPerVideo: Int = 8,
                        maxSampledPixels: Int = 1 << 16,
                        maxDecodePixels: Long = 64L << 20): Dataset[DecodedFrame] = {
    import spark.implicits._
    require(everyK >= 1 && maxFramesPerVideo >= 1)
    media.mapPartitions { it =>
      it.flatMap { m =>
        def stubRow = {
          val b = m.bytes
          def at(i: Int): Int = if (b.length > i) b(i) & 0xff else 0
          Seq(DecodedFrame(m.media_id, 0, 16 + at(0) % 240, 16 + at(1) % 240,
            b.length, mean_luma = 0.0, real_decode = false))
        }
        val chunks = aviFrameChunks(m.bytes)
        if (chunks.isEmpty) stubRow
        else {
          val sampled = chunks.zipWithIndex.collect {
            case (c, idx) if idx % everyK == 0 => (c, idx)
          }.take(maxFramesPerVideo)
          val decoded = sampled.flatMap { case ((off, len), idx) =>
            try {
              val iis = javax.imageio.ImageIO.createImageInputStream(
                new java.io.ByteArrayInputStream(m.bytes, off, len))
              try {
                val readers = javax.imageio.ImageIO.getImageReaders(iis)
                if (!readers.hasNext) None
                else {
                  val r = readers.next()
                  try {
                    r.setInput(iis)
                    val declared = r.getWidth(0).toLong * r.getHeight(0).toLong
                    if (declared > maxDecodePixels)
                      throw new java.io.IOException(
                        s"frame raster $declared px exceeds bound $maxDecodePixels")
                    val img = r.read(0)
                    Some(DecodedFrame(m.media_id, idx, img.getWidth, img.getHeight,
                      len, meanLuma(img, maxSampledPixels), real_decode = true))
                  } finally r.dispose()
                }
              } finally if (iis != null) iis.close()
            } catch { case scala.util.control.NonFatal(_) => None }
          }
          // an AVI whose frames all fail to decode (non-MJPEG codec) is a
          // stub case, not an empty video
          if (decoded.isEmpty) stubRow else decoded
        }
      }
    }
  }

  /** True when `bin` starts and reports a version — the executor-side
    * availability probe for the external-decoder bridge below. */
  def ffmpegAvailable(bin: String = "ffmpeg"): Boolean =
    try {
      val p = new ProcessBuilder(bin, "-version").redirectErrorStream(true).start()
      p.getInputStream.readAllBytes()
      p.waitFor() == 0
    } catch { case scala.util.control.NonFatal(_) => false }

  /** External-decoder bridge for the codecs the JDK can't touch: pipe each
    * video payload through an ffmpeg-compatible binary (the reference's
    * distributed-cache-native-bits pattern — ship/locate the binary on every
    * node, stream records through it; hadoop-streaming PipedMapRed is the
    * same shape, PipeOps.pipeThrough:27 its text twin). Frames come back as
    * raw gray rasters at a FIXED scale (`frameDim`²), so the byte stream
    * parses with arithmetic alone — no output-format sniffing. Emitted
    * mean_luma is on the same 0–255 scale as the JDK paths.
    *
    * When the binary is absent (this container has none) the operator
    * degrades to [[decodeVideoFrames]] — real MJPEG decode, loud stub for
    * other codecs — so callers get the best available decode everywhere.
    * `bin` is injectable, which is also how the spec proves the bridge path
    * without a real ffmpeg: a fixture script honoring the same contract. */
  def decodeVideoFramesFfmpeg(spark: SparkSession, media: Dataset[MediaRecord],
                              bin: String = "ffmpeg", everyK: Int = 4,
                              maxFramesPerVideo: Int = 8,
                              frameDim: Int = 32): Dataset[DecodedFrame] = {
    import spark.implicits._
    require(everyK >= 1 && maxFramesPerVideo >= 1 && frameDim >= 1)
    if (!ffmpegAvailable(bin)) return decodeVideoFrames(spark, media, everyK, maxFramesPerVideo)
    val fb = frameDim * frameDim
    media.mapPartitions { it =>
      it.flatMap { m =>
        def stubRow = {
          val b = m.bytes
          def at(i: Int): Int = if (b.length > i) b(i) & 0xff else 0
          Seq(DecodedFrame(m.media_id, 0, 16 + at(0) % 240, 16 + at(1) % 240,
            b.length, mean_luma = 0.0, real_decode = false))
        }
        try {
          val pb = new ProcessBuilder(bin, "-v", "error", "-i", "pipe:0",
            "-vf", s"select=not(mod(n\\,$everyK)),scale=$frameDim:$frameDim",
            "-fps_mode", "passthrough", "-frames:v", maxFramesPerVideo.toString,
            "-f", "rawvideo", "-pix_fmt", "gray", "pipe:1")
          pb.redirectError(ProcessBuilder.Redirect.DISCARD)
          val p = pb.start()
          // writer on its own thread: ffmpeg interleaves reading stdin with
          // writing stdout, and single-threaded write-then-read deadlocks
          // once either pipe buffer fills; it may also close stdin early
          // after -frames:v is satisfied (broken pipe == normal completion)
          val writer = new Thread(() => {
            try { p.getOutputStream.write(m.bytes); p.getOutputStream.close() }
            catch { case _: java.io.IOException => () }
          })
          writer.setDaemon(true)
          writer.start()
          val out = p.getInputStream.readAllBytes()
          writer.join()
          p.waitFor()
          val n = out.length / fb
          if (n == 0) stubRow
          else (0 until n).map { i =>
            var s = 0L
            var j = i * fb
            while (j < (i + 1) * fb) { s += out(j) & 0xff; j += 1 }
            DecodedFrame(m.media_id, i * everyK, frameDim, frameDim, fb,
              s.toDouble / fb, real_decode = true)
          }
        } catch { case scala.util.control.NonFatal(_) => stubRow }
      }
    }
  }

  /** STUB DECODER — deterministic fake now standing in ONLY for non-MJPEG
    * video codecs (images decode for real via decodeImages, audio via
    * decodeAudio, video containers via parseVideoMeta, MJPEG-in-AVI frames
    * via decodeVideoFrames). "Decodes" width/height/frames from the first
    * payload bytes. Partition-wise: one "decoder" per partition, records
    * streamed through it — the exact batch shape a real codec (or
    * mapInPandas) needs. */
  def decodeStub(spark: SparkSession, media: Dataset[MediaRecord]): Dataset[DecodedMeta] = {
    import spark.implicits._
    media.mapPartitions { it =>
      // real codec would init native resources here, once per partition
      it.map { m =>
        val b = m.bytes
        def at(i: Int): Int = if (b.length > i) b(i) & 0xff else 0
        DecodedMeta(m.media_id, m.kind, b.length,
          width = 16 + at(0) % 240, height = 16 + at(1) % 240,
          n_frames = if (m.kind == "video") 1 + at(2) % 32 else 1)
      }
    }
  }

  case class ResizedImage(media_id: Long, width: Int, height: Int,
                          out_bytes: Array[Byte], mean_luma: Double, real_decode: Boolean)

  /** REAL image resize (r6 — the resize stage's pixels, not just its
    * metadata): decode (bomb-guarded, as decodeImages), resample into an
    * aspect-kept bounded box with Graphics2D bilinear, re-encode LOSSLESSLY
    * (PNG) so downstream stages consume real resized rasters. The box uses
    * the SAME shrink-only integer arithmetic as resizeStub —
    * out = max(1, dim·maxDim / max(w, h, maxDim)) — so the closed-form
    * metadata oracle carries over unchanged to the real path. Undecodable
    * payloads degrade to the stub's metadata-only resize with
    * `real_decode = false` (mark, not kill). */
  def resizeImages(spark: SparkSession, media: Dataset[MediaRecord], maxDim: Int = 64,
                   maxSampledPixels: Int = 1 << 16,
                   maxDecodePixels: Long = 64L << 20): Dataset[ResizedImage] = {
    import spark.implicits._
    require(maxDim >= 1)
    media.mapPartitions { it =>
      it.map { m =>
        val real =
          try {
            val iis = javax.imageio.ImageIO.createImageInputStream(
              new java.io.ByteArrayInputStream(m.bytes))
            try {
              val readers = javax.imageio.ImageIO.getImageReaders(iis)
              if (!readers.hasNext) None
              else {
                val r = readers.next()
                try {
                  r.setInput(iis)
                  val declared = r.getWidth(0).toLong * r.getHeight(0).toLong
                  if (declared > maxDecodePixels)
                    throw new java.io.IOException(
                      s"declared raster $declared px exceeds bound $maxDecodePixels")
                  val img = r.read(0)
                  val w = img.getWidth; val h = img.getHeight
                  val den = math.max(math.max(w, h), maxDim)
                  val ow = math.max(1, w * maxDim / den)
                  val oh = math.max(1, h * maxDim / den)
                  val out = new java.awt.image.BufferedImage(
                    ow, oh, java.awt.image.BufferedImage.TYPE_INT_RGB)
                  val g = out.createGraphics()
                  g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                    java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
                  g.drawImage(img, 0, 0, ow, oh, null)
                  g.dispose()
                  val bos = new java.io.ByteArrayOutputStream()
                  javax.imageio.ImageIO.write(out, "png", bos)
                  Some(ResizedImage(m.media_id, ow, oh, bos.toByteArray,
                    meanLuma(out, maxSampledPixels), real_decode = true))
                } finally r.dispose()
              }
            } finally if (iis != null) iis.close()
          } catch { case scala.util.control.NonFatal(_) => None }
        real.getOrElse {
          val b = m.bytes
          def at(i: Int): Int = if (b.length > i) b(i) & 0xff else 0
          val w0 = 16 + at(0) % 240; val h0 = 16 + at(1) % 240
          val den = math.max(math.max(w0, h0), maxDim)
          ResizedImage(m.media_id, math.max(1, w0 * maxDim / den),
            math.max(1, h0 * maxDim / den), Array.emptyByteArray,
            mean_luma = 0.0, real_decode = false)
        }
      }
    }
  }

  /** Stub resize: recompute metadata for a bounded box, keeping aspect via
    * integer arithmetic (the plumbing of an image-resize stage). */
  def resizeStub(spark: SparkSession, decoded: Dataset[DecodedMeta], maxDim: Int = 64): Dataset[DecodedMeta] = {
    import spark.implicits._
    decoded.map { d =>
      val scaleNum = maxDim
      val scaleDen = math.max(math.max(d.width, d.height), maxDim)
      d.copy(width = math.max(1, d.width * scaleNum / scaleDen),
             height = math.max(1, d.height * scaleNum / scaleDen))
    }
  }

  /** Stub frame sampling: every kth frame index per video (the shape of a
    * frame-extraction fan-out: one row per sampled frame). */
  def frameSampleStub(spark: SparkSession, decoded: Dataset[DecodedMeta], k: Int = 4): DataFrame = {
    import spark.implicits._
    decoded.filter(_.kind == "video")
      .flatMap(d => (0 until d.n_frames by k).map(f => (d.media_id, f)))
      .toDF("media_id", "frame_idx")
  }

  // ---- deterministic synthetic payload builders ----------------------------
  // Drive the REAL decoders end-to-end from closed-form parameters, so a SQL
  // oracle can predict every decoded field without decoding anything itself.

  /** Constant-amplitude 16-bit mono PCM WAV (every sample is the same value,
    * so RMS == quantized amplitude exactly). amplitude must stay < 1.0:
    * round(1.0 * 32768) overflows Short. Encoded by the JDK's own WAV writer,
    * not by hand, so the decoder is exercised against an independent encoder. */
  /** WAVE writer resolved once per JVM — `AudioSystem.write` routes through
    * the same globally-synchronized per-call provider rescan as the reader
    * side (see audioFileReaders above); a per-row synth under 32 threads
    * serializes on that monitor. Falls back to AudioSystem when the
    * ServiceLoader finds nothing. */
  private lazy val wavWriter: Option[javax.sound.sampled.spi.AudioFileWriter] = {
    import scala.jdk.CollectionConverters._
    try java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .asScala.find(_.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE))
      .orElse(java.util.ServiceLoader.load(
          classOf[javax.sound.sampled.spi.AudioFileWriter],
          classOf[javax.sound.sampled.AudioSystem].getClassLoader)
        .asScala.find(_.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE)))
    catch { case scala.util.control.NonFatal(_) => None }
  }

  private[graft] def synthWav(nFrames: Int, rateHz: Float, amplitude: Double): Array[Byte] = {
    import javax.sound.sampled._
    val s = math.round(amplitude * 32768.0).toShort
    val pcm = new Array[Byte](nFrames * 2)
    var i = 0
    while (i < nFrames) {
      pcm(2 * i) = (s & 0xff).toByte; pcm(2 * i + 1) = (s >> 8).toByte; i += 1
    }
    val fmt = new AudioFormat(rateHz, 16, 1, true, false)
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    if (forceAudioSystemSpi || wavWriter.isEmpty)
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    else wavWriter.get.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  private def be32w(v: Long): Array[Byte] =
    Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
  private def le32w(v: Long): Array[Byte] =
    Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
  private def ccw(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private def mp4box(typ: String, payload: Array[Byte]*): Array[Byte] = {
    val body = payload.flatten.toArray
    be32w(8L + body.length) ++ ccw(typ) ++ body
  }

  /** Minimal ISO BMFF file (ftyp + moov{mvhd, sound trak, visual trak} +
    * mdat) with the given visual dimensions and mvhd timescale/duration.
    * Two tracks so parsing must skip the zero-dimension (sound) tkhd. */
  private[graft] def synthMp4(w: Int, h: Int, timescale: Long, durationTicks: Long): Array[Byte] = {
    val mvhd = mp4box("mvhd", new Array[Byte](4), // version 0 + flags
      be32w(0), be32w(0), be32w(timescale), be32w(durationTicks),
      new Array[Byte](80)) // rate/volume/reserved/matrix/predefined/next_track
    def tkhd(tw: Int, th: Int) = mp4box("tkhd", new Array[Byte](4),
      be32w(0), be32w(0), be32w(1), be32w(0), be32w(durationTicks),
      new Array[Byte](8), new Array[Byte](8), new Array[Byte](36),
      be32w(tw.toLong << 16), be32w(th.toLong << 16)) // 16.16 fixed point
    mp4box("ftyp", ccw("isom"), be32w(512), ccw("isom"), ccw("iso2")) ++
      mp4box("moov", mvhd, mp4box("trak", tkhd(0, 0)), mp4box("trak", tkhd(w, h))) ++
      mp4box("mdat", Array.fill[Byte](16)(0x5a))
  }

  /** Minimal RIFF AVI (LIST hdrl → avih + empty movi) with the given
    * dimensions, frame interval, frame count, and stream count. */
  private[graft] def synthAvi(w: Int, h: Int, usPerFrame: Long, frames: Long,
                              streams: Int): Array[Byte] = {
    val avih = ccw("avih") ++ le32w(56) ++ (le32w(usPerFrame) ++ le32w(0) ++
      le32w(0) ++ le32w(0) ++ le32w(frames) ++ le32w(0) ++ le32w(streams) ++
      le32w(0) ++ le32w(w) ++ le32w(h) ++ new Array[Byte](16))
    val hdrl = ccw("LIST") ++ le32w(4L + avih.length) ++ ccw("hdrl") ++ avih
    val movi = ccw("LIST") ++ le32w(4) ++ ccw("movi")
    val body = ccw("AVI ") ++ hdrl ++ movi
    ccw("RIFF") ++ le32w(body.length.toLong) ++ body
  }

  /** Constant-gray PNG (lossless, JDK-encoded): the closed-form payload for
    * resize round trips — any resampling of a constant raster is the same
    * constant, and PNG re-encode preserves it exactly. */
  private[graft] def synthPng(w: Int, h: Int, luma: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(luma, luma, luma))
    g.fillRect(0, 0, w, h)
    g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** A single baseline-JPEG frame of constant gray `luma` (encoded by the
    * JDK's own JPEG writer, so decodeVideoFrames is exercised against an
    * independent encoder; a constant raster is DC-only, so the decoded
    * mean luminance recovers `luma` to within quantization error). */
  private[graft] def synthJpegFrame(w: Int, h: Int, luma: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(luma, luma, luma))
    g.fillRect(0, 0, w, h)
    g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", bos)
    bos.toByteArray
  }

  /** Minimal MJPEG AVI: the synthAvi header plus a `movi` list holding one
    * `00dc` chunk per frame, each a real JPEG of constant gray
    * `frameLumas(i)` — the closed-form payload the frame-decode round trip
    * checks against. */
  private[graft] def synthMjpegAvi(w: Int, h: Int, usPerFrame: Long,
                                   frameLumas: Seq[Int]): Array[Byte] = {
    val avih = ccw("avih") ++ le32w(56) ++ (le32w(usPerFrame) ++ le32w(0) ++
      le32w(0) ++ le32w(0) ++ le32w(frameLumas.size.toLong) ++ le32w(0) ++ le32w(1) ++
      le32w(0) ++ le32w(w) ++ le32w(h) ++ new Array[Byte](16))
    val hdrl = ccw("LIST") ++ le32w(4L + avih.length) ++ ccw("hdrl") ++ avih
    val frames = frameLumas.toArray.flatMap { l =>
      val jpg = synthJpegFrame(w, h, l)
      val pad = if (jpg.length % 2 == 1) Array[Byte](0) else Array.emptyByteArray
      ccw("00dc") ++ le32w(jpg.length.toLong) ++ jpg ++ pad
    }
    val movi = ccw("LIST") ++ le32w(4L + frames.length) ++ ccw("movi") ++ frames
    val body = ccw("AVI ") ++ hdrl ++ movi
    ccw("RIFF") ++ le32w(body.length.toLong) ++ body
  }
}
