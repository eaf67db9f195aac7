package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video travel as opaque
  * `BINARY` columns with typed metadata, processed in partition-sized
  * batches. The Spark-side contract (schema, batch iteration,
  * partitioning, output shape) is real and tested. The IMAGE codec is
  * real (`javax.imageio`) and the AUDIO codec is real for PCM
  * WAV/AIFF/AU (`javax.sound.sampled`) — both ship with the JDK. VIDEO
  * is real at the CONTAINER level ([[Multimodal.AviContainer]]: RIFF
  * chunk walk over any AVI — frame counts/offsets/sizes with no pixel
  * decode) AND at the PIXEL level for the two formats whose frames a
  * JDK codec can decode: MJPEG-AVI (each `##dc` chunk is a standalone
  * JPEG — [[Multimodal.videoFrameDecode]]) and animated GIF (multi-
  * frame ImageIO read). Codecs with no JDK implementation (H.264 etc.,
  * non-PCM audio) fall back to the deterministic stub, so pipelines
  * over mixed/raw corpora never throw. Swap the stub for
  * JavaCPP/FFmpeg without touching any plumbing.
  */
object Multimodal {

  /** One media asset: payload + typed metadata. */
  final case class MediaRecord(
      media_id: Long,
      kind: String, // "image" | "audio" | "video" | "binary" (unknown
      // container, from [[classifyPayload]] — rides the stub path)
      payload: Array[Byte],
      width: Int,
      height: Int,
      sample_rate: Int,
      n_frames: Int)

  /** Decoded features emitted per asset. */
  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      byte_len: Int,
      // image path: resized dims; audio path: resampled rate; video: sampled frames
      out_width: Int,
      out_height: Int,
      feature: Array[Float])

  /** The codec boundary. Every function is pure bytes->values so it can
    * run inside `mapPartitions` on executors with no driver round trip.
    *
    * The IMAGE path is real: `javax.imageio` (ships with the JDK)
    * decodes PNG/JPEG/GIF/BMP bytes, resizes through `Graphics2D`, and
    * re-encodes. The AUDIO path is real for PCM WAV/AIFF/AU via
    * `javax.sound.sampled`. Payloads neither can decode (and the video
    * kind, which has no JDK codec) fall back to the deterministic stub,
    * so pipelines over mixed/raw corpora never throw.
    */
  object MediaCodec {
    import java.awt.image.BufferedImage
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.imageio.ImageIO

    // By default every ImageIO read/write/createImageInputStream spools
    // through a disk-backed cache FILE — per-row temp-file IO on the
    // executor hot path, and a full or unwritable tmp dir silently
    // degrades decodes to the stub. All our sources are byte arrays, so
    // force in-memory streams once per executor JVM (object init runs on
    // first use in each executor).
    ImageIO.setUseCache(false)

    /** Decode image bytes; None when the payload is not a decodable
      * image. ImageIO is executor-local and stateless (pure bytes in).
      */
    def decodeImage(payload: Array[Byte]): Option[BufferedImage] =
      try Option(ImageIO.read(new ByteArrayInputStream(payload)))
      catch { case scala.util.control.NonFatal(_) => None }

    /** Aspect-preserving scale into a `targetW x targetH` box. */
    def scaleInto(img: BufferedImage, targetW: Int, targetH: Int): BufferedImage = {
      val scale = math.min(targetW.toDouble / math.max(img.getWidth, 1),
        targetH.toDouble / math.max(img.getHeight, 1))
      val w = math.max(1, (img.getWidth * scale).toInt)
      val h = math.max(1, (img.getHeight * scale).toInt)
      val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      try g.drawImage(img.getScaledInstance(w, h, java.awt.Image.SCALE_SMOOTH), 0, 0, null)
      finally g.dispose()
      out
    }

    def encodePng(img: BufferedImage): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    def encodeJpeg(img: BufferedImage): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }

    /** Deterministic solid-color JPEG of exact dims `w x h` — the
      * test/bench stand-in for a real MJPEG frame (the corpus has no
      * real videos). Only the DIMENSIONS are asserted downstream, so
      * JPEG encoder variation across JVMs can't break an oracle.
      */
    def syntheticJpegFrame(w: Int, h: Int, seed: Long): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      try {
        g.setColor(new java.awt.Color(((seed * 2654435761L) & 0xffffffL).toInt))
        g.fillRect(0, 0, w, h)
      } finally g.dispose()
      encodeJpeg(img)
    }

    /** Image features after a real decode: output dims, per-channel RGB
      * means in [0,1], mean luma, and the source dims.
      */
    def imageFeatures(img: BufferedImage, targetW: Int, targetH: Int): Array[Float] = {
      val s = scaleInto(img, targetW, targetH)
      var r = 0L; var g = 0L; var b = 0L
      var y = 0
      while (y < s.getHeight) {
        var x = 0
        while (x < s.getWidth) {
          val p = s.getRGB(x, y)
          r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
          x += 1
        }
        y += 1
      }
      val n = (s.getWidth.toLong * s.getHeight * 255).toFloat
      Array(s.getWidth.toFloat, s.getHeight.toFloat,
        r / n, g / n, b / n, (0.299f * r + 0.587f * g + 0.114f * b) / n,
        img.getWidth.toFloat, img.getHeight.toFloat)
    }

    /** Decode + featurize: real ImageIO path when the bytes are an
      * image, deterministic stub otherwise.
      */
    def imageFeaturesOrStub(payload: Array[Byte], targetW: Int, targetH: Int): Array[Float] =
      decodeImage(payload) match {
        case Some(img) => imageFeatures(img, targetW, targetH)
        case None      => decodeImageStub(payload, targetW, targetH)
      }

    /** Real resize: decode -> scale into box -> PNG re-encode. None when
      * the payload is not a decodable image.
      */
    def resizeImage(payload: Array[Byte], targetW: Int, targetH: Int): Option[(Array[Byte], Int, Int)] =
      decodeImage(payload).map { img =>
        val s = scaleInto(img, targetW, targetH)
        (encodePng(s), s.getWidth, s.getHeight)
      }

    /** Audio features via `javax.sound.sampled` (ships with the JDK,
      * same deal as ImageIO): parses WAV/AIFF/AU containers and decodes
      * PCM. Returns `[sample_rate, channels, n_frames, duration_s, rms,
      * peak, bits, 0]` (8 floats, the shared feature shape); None when
      * the bytes are not a decodable audio stream or not 16-bit PCM.
      */
    def decodeAudio(payload: Array[Byte]): Option[Array[Float]] = {
      var ais: javax.sound.sampled.AudioInputStream = null
      try {
        ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new ByteArrayInputStream(payload))
        val fmt = ais.getFormat
        if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
            fmt.getSampleSizeInBits != 16) None
        else {
          val bytes = ais.readAllBytes()
          val n = bytes.length / 2
          var i = 0; var sumSq = 0.0; var peak = 0.0
          while (i + 1 < bytes.length) {
            val s = (if (fmt.isBigEndian)
              (bytes(i) << 8) | (bytes(i + 1) & 0xff)
            else
              (bytes(i + 1) << 8) | (bytes(i) & 0xff)).toShort / 32768.0
            sumSq += s * s; if (math.abs(s) > peak) peak = math.abs(s)
            i += 2
          }
          val frames = n / math.max(fmt.getChannels, 1)
          Some(Array(fmt.getSampleRate, fmt.getChannels.toFloat, frames.toFloat,
            frames / math.max(fmt.getSampleRate, 1f),
            math.sqrt(sumSq / math.max(n, 1)).toFloat, peak.toFloat,
            fmt.getSampleSizeInBits.toFloat, 0f))
        }
      // NonFatal only: an OOM/VM error must propagate, not silently
      // become plausible-looking stub features
      } catch { case scala.util.control.NonFatal(_) => None }
      finally if (ais != null) ais.close()
    }

    /** Decode + featurize audio: real JDK path when the bytes are a
      * PCM container, deterministic stub otherwise.
      */
    def audioFeaturesOrStub(payload: Array[Byte], sampleRate: Int): Array[Float] =
      decodeAudio(payload).getOrElse(decodeImageStub(payload, sampleRate, 1))

    /** STUB decode for non-image kinds and undecodable bytes. The fake
      * derives deterministic "pixels" from the payload hash so tests can
      * assert end-to-end stability.
      */
    def decodeImageStub(payload: Array[Byte], targetW: Int, targetH: Int): Array[Float] = {
      val seed = java.util.Arrays.hashCode(payload)
      val out = new Array[Float](8)
      var i = 0
      while (i < out.length) {
        out(i) = ((seed * (i + 1)) & 0xffff) / 65535.0f
        i += 1
      }
      out
    }

    /** Decode the sampled frames of a multi-frame container ImageIO can
      * read (animated GIF — the one video-ish format with a JDK codec).
      * Returns `(frame_no, png_bytes)` for frames `0, everyN, 2*everyN,
      * …`; None when the payload is not such a container. The reader
      * seeks directly to each sampled index — skipped frames are never
      * pixel-decoded.
      */
    def decodeSampledFrames(payload: Array[Byte],
                            everyN: Int): Option[Seq[(Int, Array[Byte])]] = {
      // createImageInputStream sits INSIDE the try: with the object-init
      // setUseCache(false) it returns an in-memory stream (no per-row
      // temp file), but it is still declared to throw IOException and a
      // failure must fall back to the stub, not kill the task
      var iis: javax.imageio.stream.ImageInputStream = null
      try {
        iis = ImageIO.createImageInputStream(new ByteArrayInputStream(payload))
        val readers =
          if (iis == null) java.util.Collections.emptyIterator[javax.imageio.ImageReader]()
          else ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          r.setInput(iis, false, false)
          try {
            val n = r.getNumImages(true)
            if (n <= 1) None // single image: not a frame stream
            else Some((0 until n by math.max(1, everyN)).map { f =>
              (f, encodePng(r.read(f)))
            })
          } finally r.dispose()
        }
      } catch { case scala.util.control.NonFatal(_) => None }
      finally if (iis != null) iis.close()
    }
  }

  /** Decode + feature-extract + resize over partition-sized batches:
    * the Scala-idiomatic analogue of a Pandas-UDF `mapInPandas` stage.
    * One task per input partition, codec state initialized once per
    * partition (the `mapPartitions` closure), no per-row setup cost.
    */
  def extractFeatures(media: Dataset[MediaRecord], targetW: Int, targetH: Int)(
      implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions { it =>
      // per-partition codec init would happen here (native handles etc.)
      it.map { m =>
        val feats = m.kind match {
          case "image" => MediaCodec.imageFeaturesOrStub(m.payload, targetW, targetH)
          case "audio" => MediaCodec.audioFeaturesOrStub(m.payload, m.sample_rate)
          case _       => MediaCodec.decodeImageStub(m.payload, m.n_frames, 1)
        }
        MediaFeatures(m.media_id, m.kind, m.payload.length, targetW, targetH, feats)
      }
    }
  }

  /** Resized copy of an image batch: output dims are clamped to the
    * target aspect box; the pixel work is the stubbed codec call. Shape
    * of a real resize stage: pure `mapPartitions`, metadata recomputed,
    * payload replaced.
    */
  def resizeImages(media: Dataset[MediaRecord], targetW: Int, targetH: Int)(
      implicit spark: SparkSession): Dataset[MediaRecord] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        if (m.kind != "image") m
        else MediaCodec.resizeImage(m.payload, targetW, targetH) match {
          // real path: decoded, scaled, PNG re-encoded
          case Some((bytes, w, h)) => m.copy(width = w, height = h, payload = bytes)
          case None =>
            // undecodable payload: keep the metadata-only stub behavior
            val scale = math.min(targetW.toDouble / math.max(m.width, 1),
              targetH.toDouble / math.max(m.height, 1))
            val w = math.max(1, (m.width * scale).toInt)
            val h = math.max(1, (m.height * scale).toInt)
            m.copy(width = w, height = h,
              payload = m.payload.take(math.max(1, (m.payload.length * scale).toInt)))
        }
      }
    }
  }

  /** Frame sampling for video assets: keep every `everyN`-th frame.
    * Emits one row per sampled frame — the explode shape a real video
    * pipeline produces. The decode is REAL when the payload is a
    * multi-frame container the JDK can read (animated GIF): frame
    * count comes from the container and `byte_len` is the sampled
    * frame's PNG encoding. Other payloads (no JDK video codec) use the
    * metadata stub, so mixed corpora never throw.
    */
  final case class Frame(media_id: Long, frame_no: Int, byte_len: Int)

  def sampleFrames(media: Dataset[MediaRecord], everyN: Int)(
      implicit spark: SparkSession): Dataset[Frame] = {
    import spark.implicits._
    media.filter(_.kind == "video").mapPartitions { it =>
      it.flatMap { m =>
        MediaCodec.decodeSampledFrames(m.payload, everyN) match {
          case Some(frames) =>
            frames.iterator.map { case (f, png) => Frame(m.media_id, f, png.length) }
          case None =>
            // AVI payload: REAL frame sizes from the container walk (no
            // pixel decode needed for sizes) — only non-container bytes
            // fall through to the metadata stub
            AviContainer.frameIndex(m.payload) match {
              case Some(idx) if idx.nonEmpty =>
                idx.iterator.filter(_._1 % math.max(1, everyN) == 0)
                  .map { case (f, _, len) => Frame(m.media_id, f, len) }
              case _ =>
                (0 until m.n_frames by math.max(1, everyN)).iterator
                  .map(f => Frame(m.media_id, f, m.payload.length / math.max(m.n_frames, 1)))
            }
        }
      }
    }
  }

  /** Size/validity stats per kind — metadata-only pass that never
    * deserializes payloads beyond `length()` (column pruning keeps the
    * binary column out of the scan when the source stores lengths in
    * metadata).
    */
  def mediaStats(media: DataFrame): DataFrame =
    media.groupBy("kind").agg(
      count("*").as("n_assets"),
      sum(length(col("payload"))).as("total_bytes"),
      avg(length(col("payload"))).as("avg_bytes"))

  /** Classify a payload's media kind from its MAGIC BYTES — container
    * truth, never the file extension (a 100 TB crawl corpus lies about
    * extensions constantly). Covers exactly the containers the codecs
    * above understand: PNG/JPEG/GIF/BMP → image, RIFF-WAVE / FORM-AIFF
    * / Sun .snd → audio, RIFF-AVI → video; anything else → "binary"
    * (travels through the pipeline on the stub path, never throws).
    */
  def classifyPayload(b: Array[Byte]): String = {
    @inline def at(i: Int, c: Char) = b(i) == c.toByte
    if (b.length >= 12 && at(0, 'R') && at(1, 'I') && at(2, 'F') && at(3, 'F'))
      (if (at(8, 'A') && at(9, 'V') && at(10, 'I')) "video"
       else if (at(8, 'W') && at(9, 'A') && at(10, 'V') && at(11, 'E')) "audio"
       else "binary")
    else if (b.length >= 12 && at(0, 'F') && at(1, 'O') && at(2, 'R') &&
      at(3, 'M') && at(8, 'A') && at(9, 'I') && at(10, 'F')) "audio" // AIFF/AIFC
    else if (b.length >= 4 && at(0, '.') && at(1, 's') && at(2, 'n') &&
      at(3, 'd')) "audio" // Sun/NeXT AU
    else if (b.length >= 8 && (b(0) & 0xff) == 0x89 && at(1, 'P') &&
      at(2, 'N') && at(3, 'G')) "image"
    else if (b.length >= 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 &&
      (b(2) & 0xff) == 0xff) "image" // JPEG SOI
    else if (b.length >= 6 && at(0, 'G') && at(1, 'I') && at(2, 'F') &&
      at(3, '8')) "image"
    else if (b.length >= 14 && at(0, 'B') && at(1, 'M') &&
      b(6) == 0 && b(7) == 0 && b(8) == 0 && b(9) == 0) "image" // BMP:
    // 'BM' alone collides with text ("BM25..."); the four reserved
    // bytes at offsets 6-9 are zero in any real BMP
    else "binary"
  }

  /** Ingest a raw media corpus laid out as FILES — the shape a 100 TB
    * crawl actually lands in — through Spark's built-in `binaryFile`
    * source into the [[MediaRecord]] table. One row per file, content
    * read on executors (files parallelize across tasks;
    * `spark.sql.files.maxPartitionBytes` batches small files per task).
    * `kind` comes from [[classifyPayload]] magic bytes; `media_id` is
    * the xxhash64 of the file path — stable across re-ingests, no
    * driver-side id assignment. Dimension/rate metadata is left 0 at
    * ingest (the decode stages probe the container when they need it);
    * [[extractFeatures]]/[[mediaStats]] run unchanged on the result.
    */
  def ingestBinaryFiles(spark: SparkSession, glob: String): Dataset[MediaRecord] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(glob)
      .select(xxhash64(col("path")).as("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        MediaRecord(id, classifyPayload(bytes), bytes, 0, 0, 0, 0)
      }
  }

  /** Synthesize a deterministic media table from the documents corpus —
    * the test/bench stand-in for a real binary source: payload bytes are
    * the document text, kind round-robins by doc_id.
    */
  def syntheticMedia(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("payload"),
      (pmod(col("doc_id"), lit(640)) + 16).cast("int").as("width"),
      (pmod(col("doc_id"), lit(480)) + 16).cast("int").as("height"),
      lit(16000).as("sample_rate"),
      (pmod(col("doc_id"), lit(300)) + 1).cast("int").as("n_frames"))

  /** Minimal-but-real RIFF/AVI container codec: write an MJPEG-AVI
    * from frame byte blobs, and index the frames of any AVI by walking
    * its chunk structure — NO pixel decode, which is exactly what a
    * 100 TB video ingest needs first: frame counts, offsets and sizes
    * for splitting/sampling decisions before any (GPU-bound) decode.
    *
    * The format is public (Microsoft RIFF/AVI spec): little-endian
    * `u32` sizes, fourcc-tagged chunks, chunks padded to WORD
    * boundaries (an odd-sized chunk is followed by one pad byte that
    * its size field does NOT count), frames live inside the `movi`
    * LIST under `##dc`/`##db` fourccs. The walker honors all of that,
    * so it indexes real MJPEG-AVI files, not just our writer's output
    * (the writer exists because the test corpus has no real videos).
    */
  object AviContainer {
    private val FrameRate = 30

    private def fourcc(s: String): Array[Byte] = s.getBytes("US-ASCII")

    private def u32(v: Long): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

    private def chunk(fcc: String, body: Array[Byte]): Array[Byte] = {
      val pad = if (body.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray
      fourcc(fcc) ++ u32(body.length.toLong) ++ body ++ pad
    }

    private def list(listType: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", fourcc(listType) ++ body)

    /** Serialize frames into a structurally valid MJPEG-AVI: RIFF(AVI )
      * { LIST(hdrl){ avih, LIST(strl){ strh, strf } }, LIST(movi){
      * 00dc* }, idx1 }. Frame bytes are taken as-is (MJPEG frames are
      * standalone JPEGs; the container does not care).
      */
    def write(frames: Seq[Array[Byte]], width: Int, height: Int): Array[Byte] = {
      val maxBytes = if (frames.isEmpty) 0 else frames.map(_.length).max
      // MainAVIHeader: dwMicroSecPerFrame, dwMaxBytesPerSec, dwPadding,
      // dwFlags(HASINDEX), dwTotalFrames, dwInitialFrames, dwStreams,
      // dwSuggestedBufferSize, dwWidth, dwHeight, dwReserved[4]
      val avih = chunk("avih", Array(
        u32(1000000L / FrameRate), u32(maxBytes.toLong * FrameRate), u32(0),
        u32(0x10), u32(frames.length.toLong), u32(0), u32(1),
        u32(maxBytes.toLong), u32(width.toLong), u32(height.toLong),
        u32(0), u32(0), u32(0), u32(0)).flatten)
      // AVIStreamHeader: fccType=vids, fccHandler=MJPG, flags, prio+lang,
      // initial, scale, rate, start, length, bufsize, quality, sample,
      // rcFrame(4 u16 ~ 2 u32)
      val strh = chunk("strh", fourcc("vids") ++ fourcc("MJPG") ++ Array(
        u32(0), u32(0), u32(0), u32(1), u32(FrameRate.toLong), u32(0),
        u32(frames.length.toLong), u32(maxBytes.toLong), u32(0xffffffffL),
        u32(0), u32(0), u32((height.toLong << 16) | width.toLong)).flatten)
      // BITMAPINFOHEADER: biSize=40, w, h, planes|bitcount, MJPG,
      // sizeimage, xppm, yppm, clrused, clrimportant
      val strf = chunk("strf", Array(
        u32(40), u32(width.toLong), u32(height.toLong), u32(0x180001L)).flatten
        ++ fourcc("MJPG")
        ++ Array(u32(width.toLong * height * 3), u32(0), u32(0), u32(0),
          u32(0)).flatten)
      val hdrl = list("hdrl", avih ++ list("strl", strh ++ strf))
      val movi = list("movi", frames.flatMap(f => chunk("00dc", f)).toArray)
      // idx1 entries are relative to the 'movi' list-type fourcc
      val idx = new scala.collection.mutable.ArrayBuffer[Byte]()
      var off = 4L // past the 'movi' fourcc
      frames.foreach { f =>
        idx ++= fourcc("00dc"); idx ++= u32(0x10) // AVIIF_KEYFRAME
        idx ++= u32(off); idx ++= u32(f.length.toLong)
        off += 8L + f.length + (f.length % 2)
      }
      val body = fourcc("AVI ") ++ hdrl ++ movi ++ chunk("idx1", idx.toArray)
      fourcc("RIFF") ++ u32(body.length.toLong) ++ body
    }

    private def readU32(b: Array[Byte], off: Int): Long =
      (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
        ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

    private def fccAt(b: Array[Byte], off: Int): String =
      new String(b, off, 4, "US-ASCII")

    /** Walk the container and index its video frames: `(frame_no,
      * payload_offset, byte_len)` per `##dc`/`##db` chunk in `movi`
      * order, offsets absolute into the file — enough to later decode
      * any single frame with one ranged read. None when the bytes are
      * not a RIFF/AVI container; truncated/corrupt containers yield
      * the frames indexed before the walk fails (never throws).
      */
    def frameIndex(avi: Array[Byte]): Option[Seq[(Int, Long, Int)]] = {
      if (avi.length < 12 || fccAt(avi, 0) != "RIFF" || fccAt(avi, 8) != "AVI ")
        return None
      val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Int)]
      val end = math.min(avi.length.toLong, 8L + readU32(avi, 4))
      def walk(from: Long, to: Long, inMovi: Boolean): Unit = {
        var p = from
        while (p + 8 <= to) {
          val fcc = fccAt(avi, p.toInt)
          val size = readU32(avi, p.toInt + 4)
          val dataStart = p + 8
          if (fcc == "LIST" && size >= 4 && dataStart + 4 <= to) {
            // a truncated LIST still yields its complete leading chunks:
            // recurse into the readable prefix instead of bailing
            val listType = fccAt(avi, dataStart.toInt)
            walk(dataStart + 4, math.min(dataStart + size, to),
              inMovi || listType == "movi")
            if (dataStart + size > to) return
          } else if (dataStart + size > to) {
            return // truncated leaf chunk: keep what we have
          } else if (inMovi && fcc.length == 4 &&
              fcc(0).isDigit && fcc(1).isDigit &&
              (fcc.substring(2) == "dc" || fcc.substring(2) == "db")) {
            frames += ((frames.length, dataStart, size.toInt))
          }
          p = dataStart + size + (size % 2) // WORD-align past the pad byte
        }
      }
      walk(12L, end, inMovi = false)
      Some(frames.toSeq)
    }

    /** REAL pixel decode of an MJPEG-AVI's sampled frames: every
      * `##dc` chunk in an MJPEG stream is a standalone JPEG, and JPEG
      * IS a JDK codec — so the walk ([[frameIndex]]) finds the sampled
      * frames and `javax.imageio` decodes just their bytes. Frames
      * `0, everyN, 2·everyN, …`; skipped frames are never sliced or
      * decoded (the ranged-read discipline a 100 TB decode stage
      * needs — index once, then touch only the sampled byte ranges).
      * A sampled chunk that is not decodable (a non-MJPEG stream in an
      * AVI wrapper) yields no entry rather than throwing; None when
      * the bytes are not a RIFF/AVI container at all.
      */
    def decodeSampledFrames(avi: Array[Byte], everyN: Int)
        : Option[Seq[(Int, java.awt.image.BufferedImage)]] =
      frameIndex(avi).map { frames =>
        val step = math.max(1, everyN)
        frames.iterator
          .filter { case (no, _, _) => no % step == 0 }
          .flatMap { case (no, off, len) =>
            MediaCodec.decodeImage(
              java.util.Arrays.copyOfRange(avi, off.toInt, off.toInt + len))
              .map(img => (no, img))
          }.toSeq
      }
  }

  /** One pixel-decoded video frame: dimensions come from the actual
    * JPEG decode, not container metadata — a wrong decode cannot echo
    * the input.
    */
  final case class DecodedFrame(media_id: Long, frame_no: Int,
                                width: Int, height: Int)

  /** Pixel-decode the sampled frames of every MJPEG-AVI payload — the
    * stage after [[videoFrameIndex]] in a real ingest: index first
    * (cheap, all container walks), then decode only the sampled frame
    * ranges. One `mapPartitions` pass, bytes never leave the executor;
    * non-AVI payloads and non-JPEG frame streams produce no rows, so a
    * mixed corpus filters itself, same contract as [[videoFrameIndex]].
    */
  def videoFrameDecode(media: Dataset[MediaRecord], everyN: Int)(
      implicit spark: SparkSession): Dataset[DecodedFrame] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.flatMap { m =>
        AviContainer.decodeSampledFrames(m.payload, everyN) match {
          case Some(frames) => frames.iterator.map { case (no, img) =>
            DecodedFrame(m.media_id, no, img.getWidth, img.getHeight) }
          case None => Iterator.empty
        }
      }
    }
  }

  /** Container-level video frame indexing over a media table: wrap the
    * walker in one `mapPartitions` pass (bytes never leave the
    * executor) and emit a row per indexed frame. Non-AVI payloads
    * produce no rows — a mixed corpus filters itself.
    */
  final case class IndexedFrame(media_id: Long, frame_no: Int,
                                offset: Long, byte_len: Int)

  def videoFrameIndex(media: Dataset[MediaRecord])(
      implicit spark: SparkSession): Dataset[IndexedFrame] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.flatMap { m =>
        AviContainer.frameIndex(m.payload) match {
          case Some(frames) => frames.iterator.map { case (no, off, len) =>
            IndexedFrame(m.media_id, no, off, len) }
          case None => Iterator.empty
        }
      }
    }
  }
}
