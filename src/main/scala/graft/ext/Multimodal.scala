package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video travel as opaque BINARY
  * content plus a typed metadata struct.
  *
  * The IMAGE lanes are real: deterministic synthetic PNGs AND JPEGs are
  * encoded and decoded with the stdlib `javax.imageio` codecs. PNG is
  * lossless, so dimensions and channel means have closed forms the oracle
  * recomputes exactly; JPEG is lossy, so its lane checks exact dimensions
  * plus channel means within a measured quantization tolerance (solid-color
  * fixtures keep the DCT error to the DC coefficient — max observed
  * deviation 3.0/255 per channel). For audio/video — where no library
  * exists in this environment — the batched machinery is the same but the
  * codec step is a clearly marked DETERMINISTIC STUB (`decodeStub`);
  * swapping it for a real decoder changes one function.
  *
  * Scale: content bytes never hit the driver; decode runs as mapPartitions
  * with bounded-size batches (the shape a vectorized/batched decoder wants),
  * and downstream feature columns are ordinary pruned/pushed-down columns.
  */
object Multimodal {

  /** media row: opaque payload + typed metadata */
  final case class MediaRow(media_id: Long, content: Array[Byte], format: String,
      width: Int, height: Int)
  /** extracted features: fixed-size vector + shape info */
  final case class MediaFeatures(media_id: Long, byte_len: Int, format: String,
      frames_sampled: Int, features: Array[Float])

  /** Build a deterministic media table from the documents fixture: the text
    * bytes stand in for an encoded payload. */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("content"),
      // fake-but-typed metadata derived from content size
      when(col("n_chars") % 3 === 0, "png")
        .when(col("n_chars") % 3 === 1, "jpg")
        .otherwise("webp").as("format"),
      (col("n_chars") % 640 + 1).cast("int").as("width"),
      (col("n_chars") % 480 + 1).cast("int").as("height"))

  /** DETERMINISTIC STUB for the codec: "decodes" content into a fixed-width
    * feature vector from byte statistics. A real implementation would call
    * the image/audio library here — same signature, same batch shape. */
  def decodeStub(content: Array[Byte], dim: Int = 8): Array[Float] = {
    val out = new Array[Float](dim)
    if (content.isEmpty) return out
    var i = 0
    while (i < content.length) {
      out(i % dim) += (content(i) & 0xff) / 255.0f
      i += 1
    }
    out.map(v => v / content.length * dim)
  }

  /** Sample every `stride`-th byte — the frame-sampling shape (a video
    * decoder would pull every k-th frame the same way). */
  def sampleFrames(content: Array[Byte], stride: Int): Array[Byte] =
    content.indices.collect { case i if i % stride == 0 => content(i) }.toArray

  /** Batched per-partition decode: processes `batchSize` rows at a time so a
    * real vectorized decoder amortizes setup per batch, not per row. */
  def extractFeatures(media: Dataset[MediaRow], frameStride: Int = 16,
      batchSize: Int = 64): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // real codec: decode the whole batch here in one native call
        batch.map { m =>
          val frames = sampleFrames(m.content, frameStride)
          MediaFeatures(m.media_id, m.content.length, m.format,
            frames.length, decodeStub(m.content))
        }
      }
    }
  }

  def mediaDataset(docs: DataFrame): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    mediaFromDocuments(docs).as[MediaRow]
  }

  // ---- real PNG lane (javax.imageio — stdlib, runs on executors) -----------

  /** PNG payload row (content generated executor-side, never on the driver). */
  final case class PngRow(media_id: Long, content: Array[Byte], width: Int, height: Int)

  /** Decoded per-image statistics. PNG is lossless, so for the deterministic
    * fixture every value has a closed form the DuckDB oracle recomputes
    * independently: mean_r/mean_g are the constant fill channels, mean_b is
    * the scanline gradient's (height-1)/2. */
  final case class PngStats(media_id: Long, byte_len: Int, width: Int, height: Int,
      mean_r: Double, mean_g: Double, mean_b: Double)

  /** Deterministic synthetic image: R = id%256 and G = (id*7+31)%256 constant,
    * B = scanline index (a vertical gradient). Encoded with the stdlib PNG
    * writer — a REAL codec round-trip, not a byte stub. */
  def pngEncode(mediaId: Long, width: Int, height: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val r = (mediaId % 256).toInt
    val g = ((mediaId * 7 + 31) % 256).toInt
    val px = new Array[Int](width * height)
    var y = 0
    while (y < height) {
      val rgb = (r << 16) | (g << 8) | (y % 256)
      java.util.Arrays.fill(px, y * width, (y + 1) * width, rgb)
      y += 1
    }
    img.setRGB(0, 0, width, height, px, 0, width) // one bulk transfer
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Real decode: parse the image, read back dimensions and per-channel
    * means. Serves the JPEG lane too (the `Png` prefix is historical):
    * [[readImage]] sniffs the two magic bytes itself and goes straight to
    * the pre-resolved reader provider, instead of `ImageIO.read`'s
    * per-call registry walk over a wrapped stream. */
  def pngDecodeStats(mediaId: Long, bytes: Array[Byte]): PngStats = {
    val img = readImage(bytes)
    val w = img.getWidth; val h = img.getHeight
    val px = img.getRGB(0, 0, w, h, null, 0, w) // one bulk transfer
    var sr = 0L; var sg = 0L; var sb = 0L
    var i = 0
    while (i < px.length) {
      val p = px(i)
      sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
      i += 1
    }
    val n = w.toLong * h
    PngStats(mediaId, bytes.length, w, h, sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
  }

  /** Thumbnail statistics: dims + channel means of the DOWNSAMPLED image. */
  final case class ThumbStats(media_id: Long, thumb_w: Int, thumb_h: Int,
      mean_r: Double, mean_g: Double, mean_b: Double)

  /** Real decode + deterministic 2x2 block-average thumbnail — the RESIZE
    * stage of a multimodal ingest pipeline. The kernel is pinned (sum of
    * the 4 source pixels per channel, truncating integer /4; a trailing
    * odd row/column is dropped) rather than delegated to
    * `Graphics2D.drawImage` scaling, whose sampling is implementation-
    * defined — a training pipeline needs the SAME thumbnail from every
    * JRE, and the pinned kernel is what makes the lane oracle-replayable.
    * Inputs narrower/shorter than 2 px have no 2x2 block: callers filter
    * them (the lane does, mirrored in its oracle). */
  def pngThumbStats(mediaId: Long, bytes: Array[Byte]): ThumbStats = {
    val img = readImage(bytes)
    val w = img.getWidth; val h = img.getHeight
    require(w >= 2 && h >= 2, s"no 2x2 block in a ${w}x$h image (media $mediaId)")
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    val w2 = w / 2; val h2 = h / 2
    var sr = 0L; var sg = 0L; var sb = 0L
    var y = 0
    while (y < h2) {
      var x = 0
      while (x < w2) {
        val i = (2 * y) * w + 2 * x
        val p00 = px(i); val p01 = px(i + 1)
        val p10 = px(i + w); val p11 = px(i + w + 1)
        def ch(shift: Int): Int =
          (((p00 >> shift) & 0xff) + ((p01 >> shift) & 0xff) +
            ((p10 >> shift) & 0xff) + ((p11 >> shift) & 0xff)) / 4
        sr += ch(16); sg += ch(8); sb += ch(0)
        x += 1
      }
      y += 1
    }
    val n = w2.toLong * h2
    ThumbStats(mediaId, w2, h2, sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
  }

  /** Batched per-partition thumbnailing over the media frame — same batch
    * shape as [[decodePngFeatures]]; bytes never leave the executors. */
  def thumbnailFeatures(media: Dataset[PngRow], batchSize: Int = 64): Dataset[ThumbStats] = {
    implicit val enc = Encoders.product[ThumbStats]
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.map(m => pngThumbStats(m.media_id, m.content)))
    }
  }

  /** Fixture: one small PNG per document, sized from n_chars. Generation and
    * decode both run inside mapPartitions — bytes stay distributed. */
  def pngMedia(docs: DataFrame): Dataset[PngRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"),
      (col("n_chars") % 64 + 1).cast("int").as("w"),
      (col("n_chars") % 48 + 1).cast("int").as("h"))
      .as[(Long, Int, Int)]
      .mapPartitions(_.map { case (id, w, h) => PngRow(id, pngEncode(id, w, h), w, h) })
  }

  // ---- real JPEG lane (javax.imageio — the LOSSY codec path) ---------------

  /** Deterministic solid-color image (R = id%256, G = (id*7+31)%256,
    * B = (id*13+7)%256) through the stdlib JPEG writer. Solid fills keep the
    * lossy error down to DC-coefficient quantization + YCbCr rounding:
    * measured max channel-mean deviation over both fixtures is 3.0/255, so
    * the round-trip check uses tolerance 4.0. Dimensions survive exactly.
    * The writer quality is PINNED to 0.75 via an explicit ImageWriteParam —
    * the ±4.0 band is calibrated against this setting, and relying on the
    * JRE's implicit default would let a JDK/encoder change shift the DC
    * quantization error past the band environment-dependently. */
  def jpegEncode(mediaId: Long, width: Int, height: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = ((mediaId % 256).toInt << 16) |
      (((mediaId * 7 + 31) % 256).toInt << 8) | ((mediaId * 13 + 7) % 256).toInt
    val px = new Array[Int](width * height)
    java.util.Arrays.fill(px, rgb)
    img.setRGB(0, 0, width, height, px, 0, width)
    val bos = new java.io.ByteArrayOutputStream()
    val writer = jpegWriterSpi.createWriterInstance()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(0.75f)
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** Fixture: one small JPEG per document, same sizing rule as [[pngMedia]].
    * Reuses [[PngRow]] — the payload-row shape is format-agnostic. */
  def jpegMedia(docs: DataFrame): Dataset[PngRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"),
      (col("n_chars") % 64 + 1).cast("int").as("w"),
      (col("n_chars") % 48 + 1).cast("int").as("h"))
      .as[(Long, Int, Int)]
      .mapPartitions(_.map { case (id, w, h) => PngRow(id, jpegEncode(id, w, h), w, h) })
  }

  /** Media fixture cache: the synthetic PNGs depend only on the source
    * documents parquet, so encode once per fixture snapshot and let every
    * decode run read the persisted binary column. Production media arrives
    * already stored — re-encoding per query would charge the DECODE
    * operator for fixture synthesis (PNG write = deflate compression, the
    * dominant cost). Content-keyed on the source file like the IVF index
    * cache. */
  /** Bump when the media generation rules change (any encoder: png/jpeg/
    * wav/gif) — part of the cache key, so stale fixtures from an older rule
    * are never served. v2: JPEG quality pinned to an explicit 0.75. */
  private val mediaCacheVersion = "v2"

  // ImageIO's getImageWritersByFormatName/getImageReadersByFormatName scan
  // the service registry on every call — measurable when encoding/decoding
  // thousands of small payloads per partition. Resolve each format's
  // provider ONCE per JVM and instantiate per call: writer/reader instances
  // are stateful and not thread-safe, but providers are stateless factories.
  private lazy val jpegWriterSpi =
    javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next().getOriginatingProvider
  private lazy val gifWriterSpi =
    javax.imageio.ImageIO.getImageWritersByFormatName("gif").next().getOriginatingProvider
  private lazy val gifReaderSpi =
    javax.imageio.ImageIO.getImageReadersByFormatName("gif").next().getOriginatingProvider
  private lazy val pngReaderSpi =
    javax.imageio.ImageIO.getImageReadersByFormatName("png").next().getOriginatingProvider
  private lazy val jpegReaderSpi =
    javax.imageio.ImageIO.getImageReadersByFormatName("jpg").next().getOriginatingProvider

  /** Decode via the pre-resolved provider for the two fixture formats
    * (sniffed from the magic bytes — PNG `P`, JPEG `FF D8`); anything
    * else falls back to `ImageIO.read`'s full registry scan. */
  private def readImage(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    val spi =
      if (bytes.length >= 2 && (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P'.toByte)
        pngReaderSpi
      else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8)
        jpegReaderSpi
      else null
    if (spi == null)
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    else {
      val reader = spi.createReaderInstance()
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try { reader.setInput(iis, true, true); reader.read(0) }
      finally { reader.dispose(); iis.close() }
    }
  }

  /** Content-keyed cache location for `sfDir`'s media fixture of the given
    * kind (shared with the specs so they can stage stale/orphan states at
    * the real location). */
  private[graft] def mediaCachePath(sfDir: String, kind: String = "png"): String =
    graft.Snapshot.path("graft_media_", sfDir, s"${kind}_$mediaCacheVersion",
      "documents.parquet")

  def pngMediaCached(docs: DataFrame, sfDir: String): Dataset[PngRow] =
    mediaCached(docs, sfDir, "png", pngMedia)

  def jpegMediaCached(docs: DataFrame, sfDir: String): Dataset[PngRow] =
    mediaCached(docs, sfDir, "jpeg", jpegMedia)

  def gifMediaCached(docs: DataFrame, sfDir: String): Dataset[GifRow] =
    mediaCached(docs, sfDir, "gif", gifMedia)

  def wavMediaCached(docs: DataFrame, sfDir: String): Dataset[WavRow] =
    mediaCached(docs, sfDir, "wav", wavMedia)

  /** NOTE: `docs` must be the FULL documents frame of `sfDir` — the cache
    * is keyed on the source file (+ generation-rule version), not on the
    * frame, so a filtered input would still be served the whole corpus. */
  private def mediaCached[T <: Product: scala.reflect.runtime.universe.TypeTag](
      docs: DataFrame, sfDir: String, kind: String,
      gen: DataFrame => Dataset[T]): Dataset[T] = {
    implicit val enc = Encoders.product[T]
    val path = graft.Snapshot.cached(mediaCachePath(sfDir, kind)) { tmp =>
      gen(docs).write.mode("overwrite").parquet(tmp)
    }
    docs.sparkSession.read.parquet(path).as[T]
  }

  /** Batched per-partition PNG decode — same batch shape as
    * [[extractFeatures]], with the stub swapped for the real codec. */
  def decodePngFeatures(media: Dataset[PngRow], batchSize: Int = 64): Dataset[PngStats] = {
    implicit val enc = Encoders.product[PngStats]
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.map(m => pngDecodeStats(m.media_id, m.content)))
    }
  }

  // ---- real AUDIO lane (javax.sound.sampled — stdlib WAV, headless-safe) ---

  /** WAV payload row. */
  final case class WavRow(media_id: Long, content: Array[Byte], n_samples: Int)

  /** Decoded per-clip statistics. PCM WAV is lossless, so for the
    * deterministic fixture every value has a closed form: the sample sums
    * are exact integers (|s| < 2^15, n < 2^12 → sums < 2^41 ≪ 2^53), and
    * IEEE division + sqrt are correctly rounded in every conforming engine,
    * so mean/rms match the DuckDB oracle bit-for-bit with NO rounding. */
  final case class WavStats(media_id: Long, n_samples: Long, sample_rate: Int,
      mean_sample: Double, rms: Double)

  /** Deterministic synthetic clip: 16-bit mono little-endian PCM at 16 kHz,
    * sample i = (mediaId*31 + i*7) mod 2^16 − 2^15 (an integer sawtooth —
    * closed form, no trig), through the stdlib WAV writer. A REAL container
    * round-trip: the decoder re-parses the RIFF header and format chunk. */
  def wavEncode(mediaId: Long, nSamples: Int, sampleRate: Float = 16000f): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, 1, true, false)
    val pcm = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val s = ((mediaId * 31 + i.toLong * 7) % 65536 - 32768).toInt
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Real decode: parse the WAV container, read back the sample rate and
    * the PCM frames, accumulate exact integer sums. */
  def wavDecodeStats(mediaId: Long, bytes: Array[Byte]): WavStats = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val sr = ais.getFormat.getSampleRate.toInt
    val data = ais.readAllBytes()
    val n = data.length / 2
    var sum = 0L; var sq = 0L
    var i = 0
    while (i < n) {
      val s = ((data(2 * i) & 0xff) | (data(2 * i + 1) << 8)).toShort.toInt
      sum += s; sq += s.toLong * s
      i += 1
    }
    WavStats(mediaId, n.toLong, sr, sum.toDouble / n, math.sqrt(sq.toDouble / n))
  }

  /** Fixture: one short clip per document, length from n_chars. Generation
    * and decode run inside mapPartitions — bytes stay distributed. */
  def wavMedia(docs: DataFrame): Dataset[WavRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), (col("n_chars") % 2000 + 100).cast("int").as("n"))
      .as[(Long, Int)]
      .mapPartitions(_.map { case (id, n) => WavRow(id, wavEncode(id, n), n) })
  }

  /** Batched per-partition WAV decode — the audio leg of the codec surface. */
  def decodeWavStats(media: Dataset[WavRow], batchSize: Int = 64): Dataset[WavStats] = {
    implicit val enc = Encoders.product[WavStats]
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.map(m => wavDecodeStats(m.media_id, m.content)))
    }
  }

  // ---- real MULTI-FRAME lane: animated GIF (javax.imageio) -----------------
  // The video-shaped path: a container holding an ordered frame sequence,
  // decoded frame-by-frame with every k-th frame sampled — the exact access
  // pattern a video decoder has, with a REAL stdlib codec instead of
  // `decodeStub`'s byte-stride stand-in. GIF palettes hold solid fills
  // exactly (probed: the JDK writer round-trips arbitrary solid RGB), so
  // per-frame channel means have closed forms the oracle recomputes.

  /** animated-GIF payload row */
  final case class GifRow(media_id: Long, content: Array[Byte], n_frames: Int)

  /** per-SAMPLED-frame statistics (frame_idx steps by the sampling stride) */
  final case class GifFrameStats(media_id: Long, frame_idx: Int, n_frames: Int,
      width: Int, height: Int, mean_r: Double, mean_g: Double, mean_b: Double)

  /** Deterministic k-frame animation: frame f is a solid fill with
    * R = (id+17f)%256, G = (id·7+31+11f)%256, B = (id·13+7+29f)%256 —
    * the JPEG lane's fill rule extended along the frame axis. Written as a
    * true multi-image GIF via the sequence API (prepareWriteSequence /
    * writeToSequence), not k concatenated files. */
  def gifEncode(mediaId: Long, width: Int, height: Int, nFrames: Int): Array[Byte] = {
    val writer = gifWriterSpi.createWriterInstance()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < nFrames) {
        val img = new java.awt.image.BufferedImage(
          width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val rgb = (((mediaId + 17L * f) % 256).toInt << 16) |
          (((mediaId * 7 + 31 + 11L * f) % 256).toInt << 8) |
          ((mediaId * 13 + 7 + 29L * f) % 256).toInt
        val px = new Array[Int](width * height)
        java.util.Arrays.fill(px, rgb)
        img.setRGB(0, 0, width, height, px, 0, width)
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** Real frame-sampled decode: re-parse the container, count frames, read
    * every `stride`-th frame, and compute its channel means from the actual
    * pixels. Random frame access goes through the reader's index — the same
    * shape as keyframe-seeking a video. */
  def gifDecodeFrameStats(mediaId: Long, bytes: Array[Byte],
      stride: Int): Seq[GifFrameStats] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val reader = gifReaderSpi.createReaderInstance()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      reader.setInput(iis)
      val n = reader.getNumImages(true)
      (0 until n by stride).map { f =>
        val img = reader.read(f)
        val w = img.getWidth; val h = img.getHeight
        var sr = 0L; var sg = 0L; var sb = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = img.getRGB(x, y)
            sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
            x += 1
          }
          y += 1
        }
        val area = (w * h).toDouble
        GifFrameStats(mediaId, f, n, w, h, sr / area, sg / area, sb / area)
      }
    } finally { reader.dispose(); iis.close() }
  }

  /** Fixture: one 2-6 frame animation per document (frame count from
    * doc_id, dimensions from n_chars; small frames — the work is in the
    * container/frame plumbing, not pixel volume). */
  def gifMedia(docs: DataFrame): Dataset[GifRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"),
      (col("n_chars") % 32 + 1).cast("int").as("w"),
      (col("n_chars") % 24 + 1).cast("int").as("h"),
      (col("doc_id") % 5 + 2).cast("int").as("nf"))
      .as[(Long, Int, Int, Int)]
      .mapPartitions(_.map { case (id, w, h, nf) =>
        GifRow(id, gifEncode(id, w, h, nf), nf) })
  }

  /** Batched per-partition multi-frame decode, sampling every `stride`-th
    * frame — the video leg of the codec surface. */
  def decodeGifFrames(media: Dataset[GifRow], stride: Int = 2,
      batchSize: Int = 64): Dataset[GifFrameStats] = {
    implicit val enc = Encoders.product[GifFrameStats]
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap(
        _.flatMap(m => gifDecodeFrameStats(m.media_id, m.content, stride)))
    }
  }
}
