package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: opaque `binary` payloads with typed
  * metadata, batched decode / feature-extract / frame-sample.
  *
  * Three REAL decoder paths, all JDK-built-in (zero external
  * dependencies): `javax.imageio` for images (PNG/JPEG/GIF/BMP —
  * dims / band-count / channel means / luma / aspect),
  * `javax.sound.sampled` for uncompressed audio (WAV/AIFF/AU PCM —
  * sample rate / channels / frames / duration / per-channel means /
  * RMS / peak), and a RIFF chunk walk + per-frame `javax.imageio`
  * JPEG decode for MJPEG-in-AVI video ([[parseAvi]]/[[videoFrames]] —
  * the one video format needing no codec). Non-MJPEG video and other
  * undecodable kinds fall back to a deterministic stub (the FFI-codec
  * stand-in). Every kind shares the same
  * Spark-side contract, and that contract is what's tested: schema,
  * partitioning, batch shape (mapPartitions streams a whole
  * partition's rows through one decoder instance, the same lifecycle a
  * JNI/FFI codec needs), and the metadata struct that downstream
  * operators filter/join on.
  */
object Multimodal {

  /** media payload + metadata schema: the binary column is opaque; all
    * engine-visible facts live in the struct (prunable, filterable).
    */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("kind", StringType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("duration_ms", LongType, nullable = false),
      StructField("codec", StringType, nullable = false))), nullable = false)))

  /** Wrap a text corpus as media rows (UTF-8 payload + metadata) — the
    * ingest step any binary modality shares.
    */
  def packText(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      col(textCol).cast("binary").as("payload"),
      struct(
        lit("text/plain").as("kind"),
        lit(0).as("width"),
        lit(0).as("height"),
        lit(0L).as("duration_ms"),
        lit("utf-8").as("codec")).as("meta"))

  /** Wrap arbitrary binary payloads (image/audio/video bytes) as media
    * rows under a caller-supplied MIME kind — the generic ingest step;
    * `decodeFeatures` dispatches its decoder on that kind.
    */
  def packBinary(df: DataFrame, idCol: String, binCol: String, kind: String,
      width: Int = 0, height: Int = 0): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      col(binCol).cast("binary").as("payload"),
      struct(
        lit(kind).as("kind"),
        lit(width).as("width"),
        lit(height).as("height"),
        lit(0L).as("duration_ms"),
        lit(kind.dropWhile(_ != '/').drop(1)).as("codec")).as("meta"))

  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      payload_bytes: Int,
      feature: Array[Float])

  /** Batched "decode + feature extract": one decoder instance per
    * partition (the expensive-init lifecycle), rows streamed through it.
    * Dispatch is on `meta.kind`: image payloads go through the real
    * `javax.imageio` decoder, audio payloads through the real
    * `javax.sound.sampled` PCM decoder (WAV/AIFF/AU; compressed audio
    * has no JDK codec and decodes to the zero vector — data, not an
    * error, same contract as a corrupt image), video payloads through
    * the real MJPEG-in-AVI path ([[parseAvi]] + per-frame JPEG decode;
    * other video codecs have no JDK decoder and yield the zero vector).
    * Only kinds with NO JDK decode path at all fall through to the
    * deterministic stub (an 8-dim byte-histogram projection) standing
    * in for an FFI codec. All paths emit the same 8-float feature
    * shape, so downstream schema is kind-independent.
    */
  def decodeFeatures(media: DataFrame)(implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select("media_id", "meta.kind", "payload").mapPartitions { rows =>
      // decoder init happens once per partition, NOT per row:
      val imageDecoder = new ImageIoDecoder
      val audioDecoder = new PcmAudioDecoder
      val stub = new StubDecoder(featureDim = 8)
      rows.map { r =>
        val id = r.getLong(0)
        val kind = r.getString(1)
        val payload = if (r.isNullAt(2)) Array.empty[Byte] else r.getAs[Array[Byte]](2)
        val feature =
          if (kind.startsWith("image/")) imageDecoder.decode(payload)
          else if (kind.startsWith("audio/")) audioDecoder.decode(payload)
          else if (kind.startsWith("video/")) videoFeature(payload, imageDecoder)
          else stub.decode(payload)
        MediaFeatures(id, kind, payload.length, feature)
      }
    }
  }

  /** Video feature vector (8 floats, the kind-independent shape):
    * `[width, height, nFrames, durationMs, luma(first), luma(last),
    * meanLuma(all), fps]` — container facts from [[parseAvi]], content
    * facts from real per-frame JPEG decodes (the image decoder's luma,
    * index 6). Unparseable/empty clips yield the zero vector.
    */
  private def videoFeature(payload: Array[Byte],
      imageDecoder: ImageIoDecoder): Array[Float] =
    parseAvi(payload) match {
      case Some(info) if info.frames.nonEmpty =>
        val lumas = info.frames.map(f => imageDecoder.decode(f)(6))
        Array(info.width.toFloat, info.height.toFloat,
          info.frames.length.toFloat, info.durationMs.toFloat,
          lumas.head, lumas.last, lumas.sum / lumas.length,
          if (info.durationMs > 0)
            info.frames.length * 1000f / info.durationMs else 0f)
      case _ => new Array[Float](8)
    }

  final case class MediaHash(media_id: Long, ahash: String)

  /** Perceptual average-hash (aHash) per image: downsample the decoded
    * image to a `grid`×`grid` luma grid (block means — one streaming
    * pass over the pixels, O(grid²) state regardless of resolution),
    * then emit one bit per cell: 1 iff the cell's mean luma exceeds the
    * mean of cell means. The hash is a `grid²`-char '0'/'1' string, so
    * it composes DIRECTLY with the existing near-dup machinery:
    * [[Dedup.simhashBandedPairs]] (with `bits = grid²`) buckets
    * candidates and the codegen `hamming_dist` scores them — IMAGE
    * near-dup detection from the same parts as text SimHash. Robust to
    * re-encoding and resizing (the signal pHash-family hashes exist
    * for); brightness shifts move the mean with the cells, so uniform
    * exposure changes leave most bits stable.
    *
    * Non-image kinds, empty, and undecodable payloads yield the
    * all-zero hash — data, not a task failure (decode contract shared
    * with [[decodeFeatures]]); filter `ahash != '0'*grid²` before
    * pairing if corrupt rows should not cluster together.
    */
  def averageHash(media: DataFrame, grid: Int = 8)(
      implicit spark: SparkSession): Dataset[MediaHash] = {
    import spark.implicits._
    media.select("media_id", "meta.kind", "payload").mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        val id = r.getLong(0)
        val kind = r.getString(1)
        val payload = if (r.isNullAt(2)) Array.empty[Byte] else r.getAs[Array[Byte]](2)
        val hash =
          if (kind.startsWith("image/")) ahashOf(payload, grid)
          else "0" * (grid * grid)
        MediaHash(id, hash)
      }
    }
  }

  /** aHash of one payload (driver/executor-side helper; see
    * [[averageHash]] for semantics). Package-visible for the exact-math
    * spec.
    */
  private[operators] def ahashOf(payload: Array[Byte], grid: Int): String = {
    val zero = "0" * (grid * grid)
    if (payload.isEmpty) return zero
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) return zero
    val w = img.getWidth
    val h = img.getHeight
    if (w <= 0 || h <= 0) return zero
    // Streaming block means: same strip-capped bulk getRGB as the
    // feature decoder (no image-sized buffer), cells addressed by
    // integer floor mapping so any resolution ≥ 1×1 hashes.
    val cells = grid * grid
    val sums = new Array[Double](cells)
    val counts = new Array[Long](cells)
    val stripH = math.max(1, math.min(h, (1 << 20) / w))
    val buf = new Array[Int](w * stripH)
    var y = 0
    while (y < h) {
      val rows = math.min(stripH, h - y)
      img.getRGB(0, y, w, rows, buf, 0, w)
      var ry = 0
      while (ry < rows) {
        val cy = (y + ry) * grid / h
        var x = 0
        while (x < w) {
          val rgb = buf(ry * w + x)
          val luma = 0.299 * ((rgb >> 16) & 0xff) +
            0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
          val c = cy * grid + x * grid / w
          sums(c) += luma
          counts(c) += 1
          x += 1
        }
        ry += 1
      }
      y += rows
    }
    val means = Array.tabulate(cells)(i =>
      if (counts(i) > 0) sums(i) / counts(i) else 0.0)
    val mean = means.sum / cells
    val sb = new StringBuilder(cells)
    var i = 0
    while (i < cells) { sb.append(if (means(i) > mean) '1' else '0'); i += 1 }
    sb.toString
  }

  // ----- video: MJPEG-in-AVI, pure JDK ---------------------------------

  /** Parsed AVI: (width, height, duration_ms, frame payloads). */
  private[operators] final case class AviInfo(
      width: Int, height: Int, durationMs: Long, frames: Array[Array[Byte]])

  /** RIFF/AVI container walk — the real (de-stubbed) video path. No
    * video CODEC ships with the JDK, but MJPEG needs none: the
    * container is a RIFF chunk tree and every frame chunk (`##dc`/
    * `##db`) is a standalone JPEG that `javax.imageio` decodes. The
    * walk is iterative over (fourcc, size) pairs, descending into
    * LISTs, reading `avih` for geometry/rate and collecting frame
    * chunk bodies; any structural violation (truncated chunk, missing
    * header, zero dims) returns None — a corrupt clip is data, not an
    * error, the contract every decoder here shares.
    */
  private[operators] def parseAvi(p: Array[Byte]): Option[AviInfo] = {
    def u32(off: Int): Long =
      (p(off) & 0xffL) | ((p(off + 1) & 0xffL) << 8) |
        ((p(off + 2) & 0xffL) << 16) | ((p(off + 3) & 0xffL) << 24)
    def fourcc(off: Int): String = new String(p, off, 4, "US-ASCII")
    if (p.length < 12 || fourcc(0) != "RIFF" || fourcc(8) != "AVI ")
      return None
    var microPerFrame = 0L
    var width = 0
    var height = 0
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    def walk(start: Int, end: Int): Unit = {
      var off = start
      while (off + 8 <= end) {
        val id = fourcc(off)
        val sz = u32(off + 4)
        val body = off + 8
        if (sz > Int.MaxValue - body) return
        val isz = sz.toInt
        if (id == "LIST" && isz >= 4 && body + 4 <= end) {
          // a truncated LIST still yields its intact prefix chunks
          // (salvage: a half-written clip's leading frames are data)
          walk(body + 4, math.min(body + isz, end))
          if (body + isz > end) return
        } else if (body + isz > end) return // truncated chunk: stop
        else if (id == "avih" && isz >= 40) {
          microPerFrame = u32(body)
          width = u32(body + 32).toInt
          height = u32(body + 36).toInt
        } else if (id(0).isDigit && id(1).isDigit &&
          (id.substring(2) == "dc" || id.substring(2) == "db")) {
          frames += java.util.Arrays.copyOfRange(p, body, body + isz)
        }
        off = body + isz + (isz & 1) // RIFF chunks pad to even offsets
      }
    }
    val riffEnd = math.min(p.length.toLong, u32(4) + 8L).toInt
    walk(12, riffEnd)
    if (width <= 0 || height <= 0) None
    else Some(AviInfo(width, height,
      frames.length.toLong * microPerFrame / 1000L, frames.toArray))
  }

  final case class VideoFrames(
      media_id: Long,
      n_frames: Int,
      width: Int,
      height: Int,
      duration_ms: Long,
      frame_hashes: Array[String])

  /** Real video decode: RIFF walk + per-frame JPEG decode + perceptual
    * [[averageHash]] per frame — frame extraction and content hashing
    * from the same parts as image near-dup, so video near-dup composes
    * with [[Dedup.simhashBandedPairs]] over the frame hashes exactly
    * like images. One pass per row, one partition-wide decoder
    * lifecycle ([[decodeFeatures]]'s batch shape). Non-video kinds and
    * unparseable payloads yield zero frames/dims, not a task failure.
    */
  def videoFrames(media: DataFrame, grid: Int = 8)(
      implicit spark: SparkSession): Dataset[VideoFrames] = {
    import spark.implicits._
    media.select("media_id", "meta.kind", "payload").mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        val id = r.getLong(0)
        val kind = r.getString(1)
        val payload =
          if (r.isNullAt(2)) Array.empty[Byte] else r.getAs[Array[Byte]](2)
        val parsed =
          if (kind.startsWith("video/")) parseAvi(payload) else None
        parsed match {
          case Some(info) =>
            VideoFrames(id, info.frames.length, info.width, info.height,
              info.durationMs, info.frames.map(f => ahashOf(f, grid)))
          case None =>
            VideoFrames(id, 0, 0, 0, 0L, Array.empty[String])
        }
      }
    }
  }

  /** Deterministic MJPEG-in-AVI synthesizer — the fixture half of the
    * video path (no video files ship with this container; synthetic
    * clips exercise the REAL RIFF walk + JPEG decode end-to-end).
    * Frames alternate two-tone geometry: even frames dark-left/
    * light-right, odd frames dark-top/light-bottom — patterns whose
    * decoded [[averageHash]] is closed-form ('0'/'1' by cell half)
    * with ~250-greylevel margins, so JPEG quantization noise cannot
    * flip a bit and an external oracle can predict the hashes without
    * decoding anything.
    */
  /** Deterministic two-tone JPEG synthesizer — the single-image fixture
    * the near-dup query and the AVI frames share. Patterns (dark
    * region): 0 = left half, 1 = top half, 2 = left 3/8 — each decoded
    * [[averageHash]] is closed-form by cell geometry ('0' for cells in
    * the dark region, '1' elsewhere; the ~250-greylevel margin means
    * JPEG quantization noise cannot flip a bit, and the pattern-2
    * boundary at 3w/8 lands on a cell edge for w a multiple of 8).
    * Pattern Hammings at grid 8: d(0,2) = 8 (one bit per row), d(0,1)
    * = d(1,2) = 32 — so pattern 2 is a NEAR-duplicate of pattern 0 and
    * far from pattern 1, which is exactly the geometry `mm_neardup`'s
    * banded search is oracle-checked against.
    */
  def syntheticJpeg(pattern: Int, w: Int, h: Int): Array[Byte] = {
    javax.imageio.ImageIO.setUseCache(false)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val dark = pattern match {
          case 0 => x < w / 2
          case 1 => y < h / 2
          case _ => x < 3 * w / 8
        }
        img.setRGB(x, y, if (dark) 0x000000 else 0xffffff)
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", baos)
    baos.toByteArray
  }

  /** Deterministic 16-bit PCM mono WAV: a square wave with the given
    * half-period (samples alternate ±8192 = ±0.25 normalized), written
    * by the JDK's own `javax.sound.sampled` container writer — the
    * audio twin of [[syntheticAvi]]. Every decode feature is
    * closed-form from (period, nSamples): the samples are exact binary
    * fractions, so the decoder's mean/RMS/peak accumulate exactly and
    * reproduce in SQL with IEEE arithmetic alone (sqrt is a
    * correctly-rounded IEEE op, like +,−,×,÷).
    */
  def syntheticWav(period: Int, nSamples: Int,
      sampleRate: Float = 8000f): Array[Byte] = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(sampleRate, 16, 1, true, false) // PCM LE
    val pcm = java.nio.ByteBuffer.allocate(nSamples * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < nSamples) {
      pcm.putShort(if ((i / period) % 2 == 0) 8192.toShort
        else (-8192).toShort)
      i += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    // Same JDK WAVE container writer AudioSystem.write dispatches to,
    // called directly: the AudioSystem facade serializes every call on
    // its synchronized provider registry, which turns the per-row
    // synthesis of a fanned-out partition into a JVM-wide convoy (the
    // PcmAudioDecoder reader-side fix, mirrored). Identical bytes —
    // AudioSystem.write is exactly "first registered writer supporting
    // WAVE", which this is.
    wavWriter.write(
      new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm.array()), fmt,
        nSamples.toLong),
      AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  /** The JDK's registered WAVE [[javax.sound.sampled.spi.AudioFileWriter]],
    * resolved once through the public SPI (stateless — its write methods
    * use only locals, so one instance serves all threads without the
    * AudioSystem registry lock).
    */
  @transient private lazy val wavWriter: javax.sound.sampled.spi.AudioFileWriter = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter],
        getClass.getClassLoader).iterator()
    var found: javax.sound.sampled.spi.AudioFileWriter = null
    while (found == null && it.hasNext) {
      val w = it.next()
      if (w.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE))
        found = w
    }
    require(found != null, "no WAVE AudioFileWriter registered")
    found
  }

  def syntheticAvi(nFrames: Int, w: Int, h: Int,
      microPerFrame: Long): Array[Byte] = {
    val frameBytes: Seq[Array[Byte]] =
      (0 until nFrames).map(i => syntheticJpeg(i % 2, w, h))
    def u32(v: Long): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad = if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      id.getBytes("US-ASCII") ++ u32(body.length.toLong) ++ body ++ pad
    }
    def list(listType: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", listType.getBytes("US-ASCII") ++ body)
    // MainAVIHeader: 14 little-endian u32s; only the fields the reader
    // consumes are meaningful (µs/frame, total frames, width, height).
    val avih = chunk("avih",
      u32(microPerFrame) ++ u32(0) ++ u32(0) ++ u32(0) ++
        u32(nFrames.toLong) ++ u32(0) ++ u32(1) ++ u32(0) ++
        u32(w.toLong) ++ u32(h.toLong) ++ u32(0) ++ u32(0) ++ u32(0) ++ u32(0))
    val hdrl = list("hdrl", avih)
    val movi = list("movi",
      frameBytes.map(f => chunk("00dc", f)).fold(Array.empty[Byte])(_ ++ _))
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    "RIFF".getBytes("US-ASCII") ++ u32(body.length.toLong) ++ body
  }

  /** Frame sampling for a time-indexed payload: pick every `stride`-th
    * chunk of `chunkBytes` — shape-compatible with video frame sampling;
    * runs as one pass over the payload per row.
    */
  def sampleFrames(media: DataFrame, chunkBytes: Int, stride: Int)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val sampled = media.select("media_id", "payload").map { r =>
      val id = r.getLong(0)
      val payload = if (r.isNullAt(1)) Array.empty[Byte] else r.getAs[Array[Byte]](1)
      val frames = payload.grouped(chunkBytes).zipWithIndex
        .collect { case (chunk, i) if i % stride == 0 => chunk }
        .toArray
      (id, frames.length, frames.map(_.length.toLong).sum)
    }
    sampled.toDF("media_id", "n_frames", "sampled_bytes")
  }

  /** Real image decode via the JDK's `javax.imageio` (PNG/JPEG/GIF/BMP,
    * no external dependency). Feature layout (8 floats, matching the
    * stub's dimensionality so the output schema is kind-independent):
    * `[width, height, bands, meanR, meanG, meanB, luma, aspect]` with
    * channel means and Rec.601 luma normalized to [0,1]. Undecodable or
    * empty payloads yield the all-zero vector rather than failing the
    * task — at 100 TB a corrupt image is data, not an error.
    *
    * One instance per partition: the in-memory-cache setting is flipped
    * once (ImageIO otherwise spills decode scratch to temp FILES — a
    * per-row disk write an executor decoding millions of images cannot
    * afford).
    */
  private final class ImageIoDecoder extends Serializable {
    javax.imageio.ImageIO.setUseCache(false)

    def decode(payload: Array[Byte]): Array[Float] = {
      val zero = new Array[Float](8)
      if (payload.isEmpty) return zero
      // NonFatal, not just IOException: ImageIO plugins throw
      // RuntimeExceptions on malformed payloads (CMMException on bad
      // ICC profiles, IndexOutOfBounds/NegativeArraySize on truncated
      // JPEG/GIF headers) — a corrupt image must stay data, not an
      // error, so ANY decode failure yields the zero vector.
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) return zero
      val w = img.getWidth
      val h = img.getHeight
      if (w <= 0 || h <= 0) return zero
      // Bulk getRGB over row strips: one virtual dispatch + one
      // color-model conversion pass per strip instead of per PIXEL
      // (several-fold faster on megapixel inputs), with the buffer
      // capped at ~1M ints (4 MB) so a pathological 100-megapixel
      // payload can't allocate a 400 MB frame on the executor heap.
      val stripH = math.max(1, math.min(h, (1 << 20) / w))
      val buf = new Array[Int](w * stripH)
      var sr = 0.0; var sg = 0.0; var sb = 0.0
      var y = 0
      while (y < h) {
        val rows = math.min(stripH, h - y)
        img.getRGB(0, y, w, rows, buf, 0, w) // sRGB regardless of storage layout
        var i = 0
        val end = w * rows
        while (i < end) {
          val rgb = buf(i)
          sr += (rgb >> 16) & 0xff
          sg += (rgb >> 8) & 0xff
          sb += rgb & 0xff
          i += 1
        }
        y += rows
      }
      val n = w.toDouble * h * 255.0
      Array(w.toFloat, h.toFloat, img.getRaster.getNumBands.toFloat,
        (sr / n).toFloat, (sg / n).toFloat, (sb / n).toFloat,
        ((0.299 * sr + 0.587 * sg + 0.114 * sb) / n).toFloat,
        if (h > 0) w.toFloat / h else 0f)
    }
  }

  /** Real audio decode via the JDK's `javax.sound.sampled` (WAV/AIFF/AU
    * containers, PCM 8/16-bit payloads — no external dependency).
    * Feature layout (8 floats, matching the image decoder's
    * dimensionality so the output schema is kind-independent):
    * `[sampleRate, channels, nFrames, durationMs, meanCh0, meanCh1,
    * rms, peak]` with samples normalized to [-1, 1] by 2^(bits-1)
    * (8-bit WAV is unsigned and is centered at 128 first). `meanCh1`
    * is 0 for mono; RMS/peak pool all channels. Undecodable, empty, or
    * non-PCM payloads yield the all-zero vector rather than failing the
    * task — at 100 TB a corrupt clip is data, not an error (same
    * contract as [[ImageIoDecoder]]).
    *
    * One instance per partition; decode streams the payload once in a
    * single pass with double accumulators, so a long clip costs one
    * traversal and O(1) memory beyond the payload bytes Spark already
    * holds.
    */
  private final class PcmAudioDecoder extends Serializable {
    // The registered AudioFileReader providers, resolved ONCE per
    // decoder instance (= per partition) through the public SPI —
    // the exact provider set AudioSystem.getAudioInputStream consults,
    // minus its globally SYNCHRONIZED registry: the per-row
    // AudioSystem call serializes concurrent decode tasks on one JVM
    // lock (measured: fanning the scan out 32-way made mm_audio
    // SLOWER through that lock). Same decode classes, same first-
    // reader-wins semantics, no shared state.
    @transient private lazy val readerList: List[javax.sound.sampled.spi.AudioFileReader] = {
      val it = java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileReader],
          getClass.getClassLoader)
        .iterator()
      val b = List.newBuilder[javax.sound.sampled.spi.AudioFileReader]
      while (it.hasNext) {
        val r = it.next()
        // SoftMidiAudioFileReader SYNTHESIZES PCM from MIDI — outside
        // this decoder's PCM-container contract (a MIDI payload is
        // "not PCM" → zero vector, like any other non-PCM kind) — and
        // its accept probe calls MidiSystem.getSequence, which takes
        // the JVM-GLOBAL JDK13Services registry lock on EVERY corrupt
        // payload: thread dumps of the fanned-out decode showed all 32
        // tasks convoyed on that one monitor.
        if (!r.getClass.getName.contains("Midi")) b += r
      }
      // WAVE reader first: it accepts the overwhelmingly common case
      // without the other readers' rejection probes running at all.
      b.result().sortBy(r => if (r.getClass.getName.contains("Wave")) 0 else 1)
    }
    private def open(payload: Array[Byte]): javax.sound.sampled.AudioInputStream = {
      var rs = readerList
      while (rs.nonEmpty) {
        try return rs.head.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        catch { case scala.util.control.NonFatal(_) => () }
        rs = rs.tail
      }
      null
    }
    def decode(payload: Array[Byte]): Array[Float] = {
      val zero = new Array[Float](8)
      if (payload.isEmpty) return zero
      val ais = open(payload)
      if (ais == null) return zero
      try {
        val fmt = ais.getFormat
        val enc = fmt.getEncoding
        val bits = fmt.getSampleSizeInBits
        val channels = fmt.getChannels
        val signed = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
        val unsigned = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
        if (!(signed || unsigned) || (bits != 8 && bits != 16) ||
          channels < 1 || fmt.getSampleRate <= 0) return zero
        val data = ais.readAllBytes()
        val bytesPerSample = bits / 8
        val frameBytes = bytesPerSample * channels
        val nFrames = data.length / frameBytes
        if (nFrames == 0) return zero
        val big = fmt.isBigEndian
        val scale = if (bits == 16) 32768.0 else 128.0
        var sum0 = 0.0; var sum1 = 0.0; var sumSq = 0.0; var peak = 0.0
        var f = 0
        while (f < nFrames) {
          var c = 0
          while (c < channels) {
            val off = f * frameBytes + c * bytesPerSample
            val raw: Double =
              if (bits == 16) {
                val lo = data(if (big) off + 1 else off) & 0xff
                val hi = data(if (big) off else off + 1).toInt
                ((hi << 8) | lo).toShort.toDouble
              } else if (unsigned) (data(off) & 0xff) - 128.0
              else data(off).toDouble
            val s = raw / scale
            if (c == 0) sum0 += s else if (c == 1) sum1 += s
            sumSq += s * s
            val a = math.abs(s)
            if (a > peak) peak = a
            c += 1
          }
          f += 1
        }
        val durationMs = math.round(nFrames * 1000.0 / fmt.getSampleRate)
        Array(fmt.getSampleRate, channels.toFloat, nFrames.toFloat,
          durationMs.toFloat, (sum0 / nFrames).toFloat,
          if (channels > 1) (sum1 / nFrames).toFloat else 0f,
          math.sqrt(sumSq / (nFrames.toLong * channels)).toFloat,
          peak.toFloat)
      } catch { case scala.util.control.NonFatal(_) => zero }
      finally ais.close()
    }
  }

  /** Deterministic stand-in for a native codec: byte-histogram projection.
    * Real deployments replace `decode` with the FFI call; everything
    * around it (batching, schema, nullability) stays identical.
    */
  private final class StubDecoder(featureDim: Int) extends Serializable {
    def decode(payload: Array[Byte]): Array[Float] = {
      val acc = new Array[Float](featureDim)
      var i = 0
      while (i < payload.length) {
        acc(java.lang.Byte.toUnsignedInt(payload(i)) % featureDim) += 1f
        i += 1
      }
      if (payload.length > 0) {
        var j = 0
        while (j < featureDim) { acc(j) /= payload.length.toFloat; j += 1 }
      }
      acc
    }
  }
}
