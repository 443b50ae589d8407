package graft.operators

import java.io.ByteArrayInputStream

import javax.imageio.ImageIO

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (SURVEY.md §2.7 `multimodal_meta`).
  *
  * Media payloads are opaque `binary` columns with a typed metadata struct.
  * [[decode]] is a real decoder: image formats (png/bmp/gif/jpeg) go through
  * `javax.imageio` (JDK built-in — no external media libraries needed) and
  * yield true pixel dimensions plus Rec.601 mean luminance; non-image
  * payloads (`format = "raw"`) fall back to deterministic byte features so
  * the oracle-checked query stays reproducible on the text corpus.
  */
object Multimodal {

  case class MediaMeta(width: Int, height: Int, channels: Int, format: String)
  case class MediaRecord(media_id: Long, payload: Array[Byte], meta: MediaMeta)
  case class MediaFeatures(media_id: Long, payload_len: Int, first_byte: Int,
                           width: Int, height: Int, brightness: Double)

  /** Attach a binary payload + typed metadata to a text corpus (stand-in for
    * reading real media files; schema and partitioning are what matter).
    */
  def asMediaTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("media_id"),
      col(textCol).cast("binary").as("payload"),
      struct(
        (length(col(textCol)) % 640).cast("int").as("width"),
        ((col(idCol) * 37) % 480).cast("int").as("height"),
        lit(3).as("channels"),
        lit("raw").as("format")).as("meta"))

  /** Deterministic features straight off the payload bytes (the non-image
    * path): true first byte, and "brightness" = mean of the first
    * [[RawBrightnessBytes]] bytes.
    */
  private val RawBrightnessBytes = 16

  private def rawFeatures(r: MediaRecord): MediaFeatures = {
    val len = r.payload.length
    val first = if (len > 0) r.payload(0) & 0xFF else 0
    val n = math.min(RawBrightnessBytes, len)
    val bright =
      if (n == 0) 0.0
      else r.payload.take(n).map(b => (b & 0xFF).toDouble).sum / n
    MediaFeatures(r.media_id, len, first, r.meta.width, r.meta.height, bright)
  }

  /** Per-partition media decode. Image formats decode the actual payload
    * bytes via `javax.imageio` (pure JVM, executor-side, no driver hop):
    * width/height come from the decoded image — NOT the claimed metadata —
    * and brightness is the Rec.601 mean luminance over all pixels. An
    * undecodable image payload fails the task loudly rather than emitting
    * fabricated features. `raw` payloads use [[rawFeatures]].
    */
  def decode(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      it.map { r =>
        r.meta.format match {
          case "png" | "bmp" | "gif" | "jpeg" | "jpg" =>
            val img = ImageIO.read(new ByteArrayInputStream(r.payload))
            require(img != null,
              s"undecodable ${r.meta.format} payload for media_id=${r.media_id}")
            val w = img.getWidth
            val h = img.getHeight
            var sum = 0.0
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                sum += 0.299 * ((rgb >> 16) & 0xFF) +
                  0.587 * ((rgb >> 8) & 0xFF) +
                  0.114 * (rgb & 0xFF)
                x += 1
              }
              y += 1
            }
            val first = if (r.payload.nonEmpty) r.payload(0) & 0xFF else 0
            val pixels = w.toLong * h
            MediaFeatures(r.media_id, r.payload.length, first, w, h,
              if (pixels == 0) 0.0 else sum / pixels)
          case _ => rawFeatures(r)
        }
      }
    }
  }

  /** True first payload byte as an int (hex of the 1-byte slice → base-10);
    * 0 for an empty payload. Unlike `ascii(cast(payload as string))` this is
    * byte-exact for any payload, not only ASCII.
    */
  private def firstByte(payload: Column): Column =
    coalesce(conv(hex(substring(payload, 1, 1)), 16, 10).cast("int"), lit(0))

  /** Mean of the first n payload bytes via hex-pair folding — the column-only
    * twin of [[rawFeatures]] brightness (same sequential fold order, so the
    * doubles are bit-identical).
    */
  private def rawBrightness(payload: Column): Column = {
    val hx = hex(substring(payload, 1, RawBrightnessBytes))
    val n = (length(hx) / 2).cast("int")
    when(n === 0, lit(0.0)).otherwise(
      aggregate(sequence(lit(1), n),
        lit(0.0),
        (acc, i) => acc + conv(substring(hx, i * 2 - 1, lit(2)), 16, 10).cast("double")
      ) / n)
  }

  /** Column-only feature extraction (codegen path used by the oracle query —
    * byte-for-byte the same features as [[decode]] on `raw` payloads).
    */
  def featuresExpr(media: DataFrame): DataFrame =
    media.select(
      col("media_id"),
      length(col("payload")).as("payload_len"),
      firstByte(col("payload")).as("first_byte"),
      col("meta.width").as("width"),
      col("meta.height").as("height"),
      rawBrightness(col("payload")).as("brightness"))

  // ------------------------------------------------------------------ audio

  case class AudioFeatures(media_id: Long, sample_rate: Int, n_frames: Long,
                           mean_amplitude: Double)

  /** A valid single-channel 8-bit PCM WAV wrapping `samples` (one unsigned
    * 8-bit sample per byte). Little-endian RIFF layout by hand — no codecs.
    */
  def buildWav(samples: Array[Byte], sampleRate: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(44 + samples.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + samples.length)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate) // byte rate = rate (1 B/frame)
      .putShort(1).putShort(8) // block align, bits per sample
      .put("data".getBytes("US-ASCII")).putInt(samples.length)
      .put(samples)
    b.array()
  }

  val AudioSampleRate = 8000

  /** The JDK's registered audio container readers, loaded ONCE per
    * partition via the public ServiceLoader API — the SAME provider
    * instances `AudioSystem.getAudioInputStream` consults, minus its
    * per-call synchronized registry walk, which serializes every decode
    * thread in the JVM (measured: the sf1 audio sweep ran ~single-threaded
    * at local[32] through AudioSystem). Iteration order and the
    * first-reader-that-accepts rule mirror AudioSystem exactly.
    */
  private def audioReaders(): Seq[javax.sound.sampled.spi.AudioFileReader] = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[javax.sound.sampled.spi.AudioFileReader]
    while (it.hasNext) buf += it.next()
    buf.toSeq
  }

  /** Move-to-front reader cache: a provider that rejects a container can
    * be arbitrarily EXPENSIVE about it — the JDK's MIDI reader answers
    * through a JVM-GLOBAL synchronized registry lookup, which serialized
    * the whole 32-thread decode when it sat ahead of the WAVE reader
    * (sf100: 564 s, the sweep's finding). After the first success the
    * accepting reader is tried first; result-identical because exactly one
    * registered reader accepts a given container (the others throw
    * UnsupportedAudioFileException), so acceptance order cannot change the
    * outcome.
    */
  private final class ReaderCache(
      initial: Seq[javax.sound.sampled.spi.AudioFileReader]) {
    private val readers = initial.toBuffer
    def decode(wav: Array[Byte],
               mediaId: Long): javax.sound.sampled.AudioInputStream = {
      var i = 0
      while (i < readers.length) {
        val r = readers(i)
        try {
          val ais = r.getAudioInputStream(new ByteArrayInputStream(wav))
          if (i != 0) { readers.remove(i); readers.prepend(r) }
          return ais
        } catch { case _: javax.sound.sampled.UnsupportedAudioFileException => }
        i += 1
      }
      throw new javax.sound.sampled.UnsupportedAudioFileException(
        s"no registered reader accepts the container of media_id=$mediaId")
    }
  }

  /** Real audio decode path: each payload becomes a synthetic WAV
    * ([[buildWav]] — deterministic: text bytes are the PCM samples), then
    * the JDK's registered WAVE reader parses the container back (a genuine
    * JDK audio decode: header validation, format negotiation, frame reads
    * — [[audioReaders]] hoists the provider lookup per partition).
    * Executor-side per-partition work, no driver hop — the same plumbing
    * shape a real audio corpus would use, with the reader swapped for an
    * external codec only when formats beyond the JDK's PCM/ALAW/ULAW set
    * are needed.
    */
  def audioFeatures(spark: SparkSession, media: DataFrame): Dataset[AudioFeatures] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      val readers = new ReaderCache(audioReaders())
      it.map { r =>
        val wav = buildWav(r.payload, AudioSampleRate)
        val ais = readers.decode(wav, r.media_id)
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 8 && fmt.getChannels == 1,
          s"unexpected decoded format for media_id=${r.media_id}: $fmt")
        val frames = ais.getFrameLength
        val data = ais.readAllBytes()
        var sum = 0L
        var i = 0
        while (i < data.length) { sum += data(i) & 0xFF; i += 1 }
        val mean = if (data.length == 0) 0.0 else sum.toDouble / data.length
        AudioFeatures(r.media_id, fmt.getSampleRate.toInt, frames, mean)
      }
    }
  }

  // ------------------------------------------------------------------ phash

  case class PhashRecord(media_id: Long, phash: Long)

  /** dHash grid edge: 8×8 pixels → 8 rows × 7 adjacent comparisons = 56
    * bits (kept under the sign bit so band shifts agree across engines).
    */
  val PhashGrid = 8
  val PhashBits: Int = PhashGrid * (PhashGrid - 1)
  val PhashBands = 4
  val PhashBandBits: Int = PhashBits / PhashBands
  val PhashBandMask: Long = (1L << PhashBandBits) - 1

  /** Perceptual dHash over a REAL image-codec round trip: the payload
    * bytes paint an 8×8 grayscale image (pixel(r,c) = payload[(r·8+c) mod
    * len]), the image is ENCODED as PNG and DECODED back via
    * `javax.imageio` (a genuine JDK codec pass — header, IDAT inflate,
    * raster reconstruction), and the 56-bit dHash compares adjacent
    * DECODED pixels per row. PNG grayscale is lossless, so the decoded
    * luma equals the painted byte — the oracle recomputes the hash
    * straight off the payload bytes, and any codec or round-trip bug
    * fails the hash. This is the thumbnail-dHash plumbing an image corpus
    * runs after its resize stage (swap the synthetic painter for the real
    * decoder + 8×8 average pool; the hash and banding below are
    * unchanged).
    */
  def phash(spark: SparkSession, media: DataFrame): Dataset[PhashRecord] = {
    import spark.implicits._
    val g = PhashGrid
    media.as[MediaRecord].mapPartitions { it =>
      // ImageIO's default stream cache is DISK-backed: every write/read
      // pair creates and deletes a temp FILE. At 5M images that is an IO
      // storm that turned the sf100 point super-linear (716 s, 18x —
      // caught by the full-surface sweep); memory-backed streams are the
      // documented fix for small images. Idempotent, JVM-global.
      ImageIO.setUseCache(false)
      it.map { r =>
        val len = r.payload.length
        val img = new java.awt.image.BufferedImage(g, g,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var i = 0
        while (i < g * g) {
          val v = if (len == 0) 0 else r.payload(i % len) & 0xFF
          raster.setSample(i % g, i / g, 0, v)
          i += 1
        }
        val png = new java.io.ByteArrayOutputStream()
        ImageIO.write(img, "png", png)
        val back = ImageIO.read(new ByteArrayInputStream(png.toByteArray))
        require(back != null && back.getWidth == g && back.getHeight == g,
          s"png round trip failed for media_id=${r.media_id}")
        val p = back.getRaster
        var hash = 0L
        var b = 0
        while (b < PhashBits) {
          val row = b / (g - 1)
          val c = b % (g - 1)
          if (p.getSample(c, row, 0) > p.getSample(c + 1, row, 0))
            hash |= 1L << b
          b += 1
        }
        PhashRecord(r.media_id, hash)
      }
    }
  }

  /** Per-media near-dup report over the banded dHash space (the simhash
    * banding discipline on image hashes): n_candidates = band-bucket mates
    * (bucket size via an unordered window — the hash frame computes once),
    * n_exact = identical-hash copies. Candidate degree is bounded by
    * bucket size; hashes shuffle, pixels never do.
    */
  def phashDedup(spark: SparkSession, media: DataFrame): DataFrame =
    bandReport(phash(spark, media).toDF(), "phash")

  /** The shared banded near-dup report behind [[phashDedup]] and
    * [[audioDedup]]: 4 × 14-bit bands over a 56-bit perceptual hash
    * column, bucket mates counted via unordered windows (the hash frame
    * computes once), exact copies via the full-hash window.
    */
  private def bandReport(hashed: DataFrame, hCol: String): DataFrame = {
    val byHash = org.apache.spark.sql.expressions.Window
      .partitionBy(col(hCol))
    val withExact = hashed
      .withColumn("n_exact", count(lit(1)).over(byHash) - 1)
    val banded = withExact.select(col("media_id"), col(hCol),
      col("n_exact"), posexplode(
        transform(sequence(lit(0), lit(PhashBands - 1)),
          b => call_function("shiftright", col(hCol), b * PhashBandBits)
            .bitwiseAND(lit(PhashBandMask))))
        .as(Seq("band", "band_val")))
    val bucketW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_val"))
    banded.withColumn("bucket_n", count(lit(1)).over(bucketW))
      .groupBy(col("media_id"), col(hCol), col("n_exact"))
      .agg(sum(col("bucket_n") - 1).as("n_candidates"))
      .select(col("media_id"), col(hCol),
        col("n_candidates").cast("long").as("n_candidates"),
        col("n_exact").cast("long").as("n_exact"))
  }

  // ------------------------------------------------------------ audio fp

  case class AudioFpRecord(media_id: Long, afp: Long)

  /** Envelope windows: 57 windows → 56 adjacent comparisons, matching the
    * 56-bit dHash band geometry so the banding report is shared.
    */
  val AudioFpWindows: Int = PhashBits + 1

  /** Energy-envelope audio fingerprint over a REAL container round trip:
    * each payload becomes a PCM WAV ([[buildWav]]), `AudioSystem` decodes
    * it back (8-bit PCM passthrough is lossless, so the decoded frames
    * equal the payload bytes — the oracle recomputes the fingerprint off
    * the raw bytes and a codec bug fails the hash), the decoded stream
    * splits into 57 equal windows and bit i compares adjacent window
    * ENERGIES cross-multiplied by window lengths (integer-exact, so the
    * comparison is engine-portable with no float division) — the
    * chromaprint-style envelope hash an audio corpus dedups on.
    */
  def audioFingerprint(spark: SparkSession,
                       media: DataFrame): Dataset[AudioFpRecord] = {
    import spark.implicits._
    val w = AudioFpWindows
    media.as[MediaRecord].mapPartitions { it =>
      val readers = new ReaderCache(audioReaders())
      it.map { r =>
        val wav = buildWav(r.payload, AudioSampleRate)
        val ais = readers.decode(wav, r.media_id)
        val data = ais.readAllBytes()
        val len = data.length.toLong
        val sums = new Array[Long](w)
        val lens = new Array[Long](w)
        var i = 0
        while (i < w) {
          val lo = (i * len / w).toInt
          val hi = ((i + 1) * len / w).toInt
          var j = lo
          var s = 0L
          while (j < hi) { s += data(j) & 0xFF; j += 1 }
          sums(i) = s
          lens(i) = hi - lo
          i += 1
        }
        var h = 0L
        var b = 0
        while (b < PhashBits) {
          if (sums(b + 1) * lens(b) > sums(b) * lens(b + 1)) h |= 1L << b
          b += 1
        }
        AudioFpRecord(r.media_id, h)
      }
    }
  }

  /** Per-media audio near-dup report: the [[bandReport]] banding over the
    * envelope fingerprint — candidates bounded by bucket size, fingerprints
    * shuffle, audio frames never do.
    */
  def audioDedup(spark: SparkSession, media: DataFrame): DataFrame =
    bandReport(audioFingerprint(spark, media).toDF(), "afp")

  // ------------------------------------------------------------------ video

  case class VideoFeatures(media_id: Long, width: Long, height: Long,
                           n_frames: Long, n_sampled: Long, mean_luma: Double)

  /** The synthetic clip geometry: 8×4 luma-only frames (32 bytes each), and
    * the frame-sampling stride (every 2nd frame, starting at frame 0) —
    * shared with the DuckDB twin.
    */
  val VideoWidth = 8
  val VideoHeight = 4
  val VideoSampleStride = 2

  /** A valid luma-only YUV4MPEG2 (y4m) clip wrapping `data` as consecutive
    * Y planes (the public uncompressed-video interchange format — plain
    * ASCII stream header, `FRAME` markers, raw planes; no codec). The last
    * frame zero-pads; an empty payload still yields one black frame, so
    * every media row is a well-formed clip.
    */
  def buildY4m(data: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val fb = w * h
    val nf = math.max(1, (data.length + fb - 1) / fb)
    val out = new java.io.ByteArrayOutputStream(64 + nf * (6 + fb))
    out.write(s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 Cmono\n".getBytes("US-ASCII"))
    (0 until nf).foreach { f =>
      out.write("FRAME\n".getBytes("US-ASCII"))
      val frame = new Array[Byte](fb)
      val start = f * fb
      val n = math.min(fb, math.max(0, data.length - start))
      if (n > 0) System.arraycopy(data, start, frame, 0, n)
      out.write(frame)
    }
    out.toByteArray
  }

  /** Real video frame-sampling path: each payload becomes a synthetic y4m
    * clip ([[buildY4m]] — deterministic: text bytes are the luma planes),
    * then a genuine container parse runs executor-side — stream-header
    * validation (magic, W/H/C parameters), `FRAME` marker iteration, fixed
    * -size plane reads — and every [[VideoSampleStride]]-th frame is
    * sampled for the luma stats. Width/height/frame count come from the
    * PARSED container, not the synthesis constants, so a header or framing
    * bug fails the oracle hash; a malformed clip fails the task loudly.
    * This is the frame-sample plumbing a real video corpus needs, with the
    * synthetic clip swapped for codec output (an external decoder feeding
    * the same per-partition iterator) when real containers arrive.
    */
  def videoFeatures(spark: SparkSession, media: DataFrame): Dataset[VideoFeatures] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      it.map(r => parseY4m(
        buildY4m(r.payload, VideoWidth, VideoHeight), r.media_id))
    }
  }

  /** The container parse + frame-sample pass (package-private so the spec
    * can feed it corrupted clips directly).
    */
  private[graft] def parseY4m(clip: Array[Byte], mediaId: Long): VideoFeatures = {
    // --- stream header: "YUV4MPEG2 W<w> H<h> ... C<sampling>\n"
    val nl = clip.indexOf('\n'.toByte)
    require(nl > 0, s"y4m: missing stream header for media_id=$mediaId")
    val header = new String(clip, 0, nl, "US-ASCII").split(" ")
    require(header.head == "YUV4MPEG2",
      s"y4m: bad magic '${header.head}' for media_id=$mediaId")
    def param(p: Char): Option[String] =
      header.tail.find(_.head == p).map(_.tail)
    val w = param('W').map(_.toInt).getOrElse(
      throw new IllegalArgumentException("y4m: missing width"))
    val h = param('H').map(_.toInt).getOrElse(
      throw new IllegalArgumentException("y4m: missing height"))
    val sampling = param('C').getOrElse("420jpeg")
    require(sampling == "mono",
      s"y4m: unsupported chroma sampling C$sampling (luma-only parser)")
    val fb = w * h
    // --- frames: "FRAME[ params]\n" then one w*h luma plane each
    var pos = nl + 1
    var nFrames = 0L
    var nSampled = 0L
    var lumaSum = 0L
    while (pos < clip.length) {
      val mark = clip.indexOf('\n'.toByte, pos)
      require(mark >= pos + 5 &&
        new String(clip, pos, 5, "US-ASCII") == "FRAME",
        s"y4m: bad FRAME marker at byte $pos for media_id=$mediaId")
      pos = mark + 1
      require(pos + fb <= clip.length,
        s"y4m: truncated frame $nFrames for media_id=$mediaId")
      if (nFrames % VideoSampleStride == 0) {
        var i = 0
        while (i < fb) { lumaSum += clip(pos + i) & 0xFF; i += 1 }
        nSampled += 1
      }
      nFrames += 1
      pos += fb
    }
    VideoFeatures(mediaId, w.toLong, h.toLong, nFrames, nSampled,
      lumaSum.toDouble / (fb.toDouble * nSampled))
  }

  case class VideoFpRecord(media_id: Long, n_frames: Long, vfp: Long)

  /** Frame-ENVELOPE fingerprint of a parsed clip: the polynomial fold
    * (doc_fingerprint's `acc·31 + x mod 1e9+7` chain) over the SAMPLED
    * frames' luma sums — a re-uploaded or re-muxed copy of the same
    * footage lands on the same fingerprint (container metadata never
    * enters the hash, only decoded luma). Same parse discipline as
    * [[parseY4m]]: geometry and framing come from the container, so a
    * malformed clip fails loudly.
    */
  private[graft] def y4mFingerprint(clip: Array[Byte],
                                    mediaId: Long): VideoFpRecord = {
    val nl = clip.indexOf('\n'.toByte)
    require(nl > 0, s"y4m: missing stream header for media_id=$mediaId")
    val header = new String(clip, 0, nl, "US-ASCII").split(" ")
    require(header.head == "YUV4MPEG2",
      s"y4m: bad magic '${header.head}' for media_id=$mediaId")
    def param(p: Char): Option[String] =
      header.tail.find(_.head == p).map(_.tail)
    val w = param('W').map(_.toInt).getOrElse(
      throw new IllegalArgumentException("y4m: missing width"))
    val h = param('H').map(_.toInt).getOrElse(
      throw new IllegalArgumentException("y4m: missing height"))
    require(param('C').getOrElse("420jpeg") == "mono",
      s"y4m: unsupported chroma sampling (luma-only parser)")
    val fb = w * h
    var pos = nl + 1
    var nFrames = 0L
    var fp = 0L
    while (pos < clip.length) {
      val mark = clip.indexOf('\n'.toByte, pos)
      require(mark >= pos + 5 &&
        new String(clip, pos, 5, "US-ASCII") == "FRAME",
        s"y4m: bad FRAME marker at byte $pos for media_id=$mediaId")
      pos = mark + 1
      require(pos + fb <= clip.length,
        s"y4m: truncated frame $nFrames for media_id=$mediaId")
      if (nFrames % VideoSampleStride == 0) {
        var s = 0L
        var i = 0
        while (i < fb) { s += clip(pos + i) & 0xFF; i += 1 }
        fp = (fp * 31 + s) % 1000000007L
      }
      nFrames += 1
      pos += fb
    }
    VideoFpRecord(mediaId, nFrames, fp)
  }

  /** Per-media video exact-envelope dedup: fingerprints aggregate (8-byte
    * rows — decoded frames never shuffle) and each clip reports how many
    * OTHER clips share its sampled-frame envelope. The thumbnail-dedup
    * discipline applied to a video corpus; the decode is the real y4m
    * container parse per partition.
    */
  def videoDedup(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    val fps = media.as[MediaRecord].mapPartitions { it =>
      it.map(r => y4mFingerprint(
        buildY4m(r.payload, VideoWidth, VideoHeight), r.media_id))
    }.toDF()
    val ex = fps.groupBy(col("vfp")).agg(count(lit(1)).as("c"))
    fps.join(ex, Seq("vfp"))
      .select(col("media_id"), col("n_frames"), col("vfp"),
        (col("c") - 1).cast("long").as("n_exact"))
  }
}
