package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, plus batch decode/feature-extract operators.
  *
  * The Spark-side plumbing is REAL — schema, partition-balanced batch
  * processing (`mapPartitions` over a typed Dataset, the Scala analog of a
  * Pandas-batch UDF), deterministic output schema — and so is the image
  * decode: [[ImageIoCodec]] reads PNG/JPEG headers via the JDK's
  * `javax.imageio` (no extra dependencies), verified end-to-end by an
  * oracled encode→decode round trip ([[synthesizePng]] + q236).
  * [[StubCodec]] remains for payloads that are not real media (the
  * synthetic utf-8 corpus) and for the formats the JDK cannot demux
  * (audio/video frames) — swapping codecs changes no plan shape.
  *
  * Scale design: decode is the most expensive per-row op in a multimodal
  * pipeline, so it must (a) run post-filter (decode only surviving rows),
  * (b) be partition-balanced (`repartition` by id before the map when
  * upstream partitioning is skewed), and (c) never widen the shuffle —
  * features out, raw bytes dropped as early as possible.
  */
object Multimodal {

  // javax.imageio's DEFAULT stream cache is FILE-backed: every
  // ImageIO.read / write / createImage{Input,Output}Stream call creates
  // (and deletes) a temp file under java.io.tmpdir just to buffer a
  // payload we already hold fully in memory as a byte array — two
  // filesystem round trips per frame of pure overhead (measured: the
  // q266/q269 decode stages were the two slowest queries of the suite).
  // Every call site in this object therefore constructs a MEMORY-backed
  // image stream explicitly (MemoryCacheImage{Input,Output}Stream) —
  // bit-identical (the stream type only picks the buffering strategy),
  // and scoped to OUR code: the earlier global
  // `ImageIO.setUseCache(false)` mutated process-wide JVM state for any
  // co-resident ImageIO user.

  /** Memory-backed image input stream over an in-memory payload — what
    * `ImageIO.createImageInputStream` returns with caching off, minus the
    * registry dispatch and the global flag.
    */
  private def memIn(bytes: Array[Byte]): javax.imageio.stream.ImageInputStream =
    new javax.imageio.stream.MemoryCacheImageInputStream(new java.io.ByteArrayInputStream(bytes))

  // Thread-local reused ImageReaders, one per container format: a fresh
  // `ImageIO.read` per frame pays the SPI registry walk + reader
  // construction per call (the write side's measured cost, mirrored —
  // see [[encodeJpegQ1]]); one reader per (task thread, format), reset
  // between uses, is the documented ImageIO reuse pattern and decodes
  // bit-identically (reset() returns the reader to its initial state).
  // Never disposed: task threads are pooled; GC reclaims with the thread.
  private val imageReaderTl = new ThreadLocal[java.util.HashMap[String, javax.imageio.ImageReader]]

  private def readerFor(fmt: String): javax.imageio.ImageReader = {
    var m = imageReaderTl.get()
    if (m == null) { m = new java.util.HashMap[String, javax.imageio.ImageReader](); imageReaderTl.set(m) }
    var r = m.get(fmt)
    if (r == null) { r = javax.imageio.ImageIO.getImageReadersByFormatName(fmt).next(); m.put(fmt, r) }
    r
  }

  /** The container format by MAGIC BYTES for the formats the JDK ships
    * readers for and this engine's payloads actually carry (JPEG frames
    * from the MJPEG/AVI demux, PNG/GIF from the image synthesizers) —
    * null means "let the full ImageIO dispatch decide".
    */
  private def sniffFormat(b: Array[Byte]): String =
    if (b.length >= 2 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) "jpg"
    else if (b.length >= 4 && (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') "png"
    else if (b.length >= 4 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') "gif"
    else null

  /** Full rasterize of one in-memory image payload, or null when
    * undecodable — the shared decode core of the hash paths
    * ([[videoFrameHashes]], [[imagePHash]], [[imageAHash]]). Sniffed
    * formats reuse the thread-local reader (same reader class the
    * registry walk would pick — the JDK ships exactly one reader per
    * sniffed format); anything else falls back to the full `ImageIO.read`
    * dispatch, so the total-function contract is unchanged. The stream is
    * closed once: `ImageIO.read` closes it itself, and a second close throws.
    */
  private[graft] def decodeImage(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    val iis = memIn(bytes)
    try {
      val fmt = sniffFormat(bytes)
      if (fmt == null) javax.imageio.ImageIO.read(iis)
      else {
        val r = readerFor(fmt)
        try { r.setInput(iis, true, true); r.read(0) }
        finally { r.reset(); iis.close() }
      }
    } catch { case scala.util.control.NonFatal(_) => null }
  }

  /** One media row: opaque payload + typed metadata. */
  final case class MediaRecord(
      media_id: Long,
      media_type: String, // "image" | "audio" | "video"
      content: Array[Byte],
      source: String,
  )

  final case class MediaFeatures(
      media_id: Long,
      media_type: String,
      n_bytes: Int,
      width: Int, // stub-decoded dimensions / sample counts
      height: Int,
      byte_mean: Double, // real computation over the payload
      byte_entropy: Double,
      frames_sampled: Int,
  )

  /** The decode seam. Production: wire an actual codec here. */
  trait Codec extends Serializable {
    def dimensions(bytes: Array[Byte]): (Int, Int)
    def sampleFrames(bytes: Array[Byte], everyN: Int): Seq[Array[Byte]]
  }

  /** STUB codec — deterministic fake "decode" (no media libs in this
    * environment). Dimensions derive from a byte hash; frame sampling chunks
    * the payload. The byte statistics below are real computations.
    */
  object StubCodec extends Codec {
    def dimensions(bytes: Array[Byte]): (Int, Int) = {
      var h = 0L
      var i = 0
      while (i < math.min(bytes.length, 64)) { h = h * 31 + (bytes(i) & 0xff); i += 1 }
      val w = 64 + (math.abs(h) % 1024).toInt
      val ht = 64 + (math.abs(h / 1024) % 1024).toInt
      (w, ht)
    }
    def sampleFrames(bytes: Array[Byte], everyN: Int): Seq[Array[Byte]] =
      bytes.grouped(256).zipWithIndex.collect { case (b, i) if i % everyN == 0 => b }.toSeq
  }

  /** Real image codec over the JDK's `javax.imageio` — no extra
    * dependencies. `dimensions` decodes ONLY the header (an `ImageReader`
    * answers width/height without rasterizing pixels), which is the right
    * cost model at scale: a dimension census over a billion images must not
    * pay full pixel decode. Payloads no installed reader recognizes (the
    * synthetic utf-8 corpus, truncated files, unsupported formats) fall
    * back to [[StubCodec]] so the operator stays total — production callers
    * that need strictness can pre-filter on [[isDecodable]].
    *
    * `sampleFrames` keeps the stub's chunk geometry: `javax.imageio` has no
    * video demuxer, and the frame-manifest contract (offsets into the
    * payload) is codec-independent.
    */
  object ImageIoCodec extends Codec {
    def dimensions(bytes: Array[Byte]): (Int, Int) =
      decodeDimensions(bytes).getOrElse(StubCodec.dimensions(bytes))

    /** Header-only width/height, or None when no installed reader claims the
      * format. One reader instance per call; `mapPartitions` callers amortize
      * nothing JVM-global (ImageIO's registry is static and thread-safe).
      */
    def decodeDimensions(bytes: Array[Byte]): Option[(Int, Int)] = {
      val iis = memIn(bytes)
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try {
            r.setInput(iis, true, true)
            Some((r.getWidth(0), r.getHeight(0)))
          } catch {
            // A recognized magic number but a corrupt/truncated header —
            // undecodable, same contract as an unrecognized format.
            case scala.util.control.NonFatal(_) => None
          } finally r.dispose()
        }
      } finally iis.close()
    }

    def isDecodable(bytes: Array[Byte]): Boolean = decodeDimensions(bytes).isDefined

    /** REAL frame count for the multi-image formats the JDK can demux
      * (animated GIF; single-image formats answer 1), or None when no
      * installed reader claims the payload. `getNumImages(true)` needs a
      * seekable input (`seekForwardOnly = false`) — it walks the image
      * blocks without rasterizing pixels, so a frame census stays
      * header-cost-shaped like [[decodeDimensions]].
      */
    def frameCount(bytes: Array[Byte]): Option[Int] = {
      val iis = memIn(bytes)
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try {
            r.setInput(iis, false, true)
            Some(r.getNumImages(true))
          } catch {
            case scala.util.control.NonFatal(_) => None
          } finally r.dispose()
        }
      } finally iis.close()
    }

    /** Every `everyN`-th frame, REALLY decoded, for payloads an installed
      * reader can demux into multiple images (animated GIF — the one
      * multi-frame format the dependency-free JDK ships a reader for);
      * each sampled frame rasterizes via `reader.read(i)` and re-encodes
      * as PNG, so downstream per-frame operators see a self-contained
      * image payload. Single-image and unrecognized payloads keep the
      * stub chunk geometry ([[StubCodec.sampleFrames]]) — audio/video
      * still have no public-dependency-free demuxer.
      */
    override def sampleFrames(bytes: Array[Byte], everyN: Int): Seq[Array[Byte]] = {
      // RIFF/AVI payloads demux through the real container walker: each
      // sampled frame is the actual `##dc`/`##db` chunk payload (an
      // MJPEG-style self-contained image), not the stub's 256-byte groups.
      if (RiffAviCodec.isDecodable(bytes)) {
        val fp = RiffAviCodec.framePayloads(bytes)
        return fp.indices.collect { case i if i % math.max(everyN, 1) == 0 => fp(i) }
      }
      val iis = memIn(bytes)
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) StubCodec.sampleFrames(bytes, everyN)
        else {
          val r = readers.next()
          try {
            r.setInput(iis, false, true)
            val n = r.getNumImages(true)
            if (n <= 1) StubCodec.sampleFrames(bytes, everyN)
            else
              (0 until n by math.max(everyN, 1)).map(i => encodePng(r.read(i)))
          } catch {
            case scala.util.control.NonFatal(_) => StubCodec.sampleFrames(bytes, everyN)
          } finally r.dispose()
        }
      } finally iis.close()
    }
  }

  final case class AudioMeta(frames: Long, sample_rate: Int, channels: Int, bits: Int)

  /** Real audio header parsing over the JDK's `javax.sound.sampled` — the
    * audio analog of [[ImageIoCodec]], no extra dependencies.
    * `AudioSystem.getAudioFileFormat` reads ONLY the header (WAV/AIFF/AU —
    * the formats the JDK ships parsers for), answering frame count, sample
    * rate, channel count and sample width without touching the PCM body:
    * the right cost model for a duration census over a billion clips.
    * Unrecognized or corrupt payloads answer None (same total-function
    * contract as [[ImageIoCodec.decodeDimensions]]).
    */
  object JavaSoundCodec extends Serializable {
    def audioMeta(bytes: Array[Byte]): Option[AudioMeta] =
      try {
        val f  = javax.sound.sampled.AudioSystem
          .getAudioFileFormat(new java.io.ByteArrayInputStream(bytes))
        val fm = f.getFormat
        Some(AudioMeta(f.getFrameLength.toLong, fm.getSampleRate.toInt, fm.getChannels, fm.getSampleSizeInBits))
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => None
        case scala.util.control.NonFatal(_)                       => None
      }

    def isDecodable(bytes: Array[Byte]): Boolean = audioMeta(bytes).isDefined
  }

  /** Synthesize REAL PCM WAV payloads (one per document, geometry a pure
    * function of the id: `frames = 8 + id % 64`, `rate ∈ {8000, 16000,
    * 44100}` by `id % 3`, `channels = 1 + id % 2`, 16-bit) — the RIFF/WAVE
    * container is assembled byte-by-byte on the executors, and the ORACLE
    * contract is what the JDK's INDEPENDENT parser ([[JavaSoundCodec]])
    * reads back: id arithmetic any engine can mirror, never payload bytes.
    * The deterministic PCM body makes payloads reproducible without RNG.
    *
    * Scale: `mapPartitions`, no shuffle, ≤ 44+256-byte payloads — the
    * family verifies header decode, not codec throughput.
    */
  def synthesizeWav(docs: DataFrame, idCol: String): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    Pin
      .spread(docs.select(col(idCol).cast("long").as("id")), col("id"))
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val frames = (8 + id % 64).toInt
          val rate   = Array(8000, 16000, 44100)((id % 3).toInt)
          val ch     = (1 + id % 2).toInt
          val bits   = 16
          val dataLen = frames * ch * bits / 8
          val bos = new java.io.ByteArrayOutputStream()
          val d   = new java.io.DataOutputStream(bos)
          def u32(v: Int): Unit = d.writeInt(Integer.reverseBytes(v))
          def u16(v: Int): Unit = d.writeShort(java.lang.Short.reverseBytes(v.toShort))
          d.writeBytes("RIFF"); u32(36 + dataLen); d.writeBytes("WAVE")
          d.writeBytes("fmt "); u32(16)
          u16(1); u16(ch); u32(rate); u32(rate * ch * bits / 8); u16(ch * bits / 8); u16(bits)
          d.writeBytes("data"); u32(dataLen)
          var i = 0
          while (i < dataLen) { d.writeByte(((i * 7 + id) & 0xff).toInt); i += 1 }
          MediaRecord(id, "audio", bos.toByteArray, "synthetic")
        }
      }
  }

  final case class AudioCensusRow(media_id: Long, frames: Long, sample_rate: Int, channels: Int)

  /** Per-payload REAL audio header census via [[JavaSoundCodec]] (−1/−1/−1
    * for unrecognized payloads — total, like [[frameCounts]]); header-cost
    * shape, bytes dropped at this boundary.
    */
  def audioCensus(media: Dataset[MediaRecord]): Dataset[AudioCensusRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      JavaSoundCodec.audioMeta(m.content) match {
        case Some(a) => AudioCensusRow(m.media_id, a.frames, a.sample_rate, a.channels)
        case None    => AudioCensusRow(m.media_id, -1L, -1, -1)
      }
    })
  }

  final case class AviMeta(total_frames: Int, width: Int, height: Int, movi_frames: Int)

  /** RIFF/AVI container walker — OUR parser over the public RIFF layout
    * (fourcc + u32-le size chunks, LIST containers; `avih` carries
    * dwTotalFrames/dwWidth/dwHeight at fixed offsets, `movi` holds one
    * `##dc`/`##db` chunk per video frame). The JDK ships no AVI reader, so
    * unlike [[ImageIoCodec]]/[[JavaSoundCodec]] both writer and reader are
    * in-repo; the census therefore reports TWO independently-derived frame
    * counts — the `avih` header field AND the counted `movi` chunks — so
    * the oracle can assert structural agreement, not just echo one field.
    * Header+index walk only, frame payloads skipped by size: the
    * billion-video census cost model. None on any structural violation.
    */
  object RiffAviCodec extends Serializable {
    private def fourcc(b: Array[Byte], off: Int): String =
      if (off + 4 > b.length) "" else new String(b, off, 4, "US-ASCII")
    private def u32(b: Array[Byte], off: Int): Long =
      if (off + 4 > b.length) -1L
      else ((b(off) & 0xffL)) | ((b(off + 1) & 0xffL) << 8) | ((b(off + 2) & 0xffL) << 16) |
        ((b(off + 3) & 0xffL) << 24)

    def aviMeta(b: Array[Byte]): Option[AviMeta] = {
      if (fourcc(b, 0) != "RIFF" || fourcc(b, 8) != "AVI ") return None
      val riffEnd = math.min(8 + u32(b, 4), b.length.toLong)
      var totalFrames, width, height = -1
      var moviFrames = 0
      var off = 12L
      while (off + 8 <= riffEnd) {
        val id   = fourcc(b, off.toInt)
        val size = u32(b, off.toInt + 4)
        if (size < 0) return None
        if (id == "LIST") {
          val listType = fourcc(b, off.toInt + 8)
          if (listType == "hdrl" || listType == "movi") {
            val end = math.min(off + 8 + size, riffEnd)
            var c = off + 12
            while (c + 8 <= end) {
              val cid   = fourcc(b, c.toInt)
              val csize = u32(b, c.toInt + 4)
              if (csize < 0) return None
              if (listType == "hdrl" && cid == "avih" && csize >= 40) {
                totalFrames = u32(b, c.toInt + 8 + 16).toInt
                width = u32(b, c.toInt + 8 + 32).toInt
                height = u32(b, c.toInt + 8 + 36).toInt
              }
              if (listType == "movi" && cid.length == 4 &&
                  (cid.endsWith("dc") || cid.endsWith("db")))
                moviFrames += 1
              c += 8 + csize + (csize & 1) // chunks pad to even
            }
          }
        }
        off += 8 + size + (size & 1)
      }
      if (totalFrames < 0) None else Some(AviMeta(totalFrames, width, height, moviFrames))
    }

    def isDecodable(b: Array[Byte]): Boolean = aviMeta(b).isDefined

    /** Demux the movi frame payloads in container order: each `##dc`/`##db`
      * chunk's bytes, copied out (for MJPEG-in-AVI each payload is a
      * self-contained JPEG an [[ImageIoCodec]]-style reader decodes
      * directly). Same walk as [[aviMeta]] — header+index traversal, a
      * payload is only touched when the caller keeps it. Empty on any
      * structural violation (total, like the census).
      */
    def framePayloads(b: Array[Byte]): IndexedSeq[Array[Byte]] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      if (fourcc(b, 0) != "RIFF" || fourcc(b, 8) != "AVI ") return out.toIndexedSeq
      val riffEnd = math.min(8 + u32(b, 4), b.length.toLong)
      var off = 12L
      while (off + 8 <= riffEnd) {
        val id   = fourcc(b, off.toInt)
        val size = u32(b, off.toInt + 4)
        if (size < 0) return IndexedSeq.empty
        if (id == "LIST" && fourcc(b, off.toInt + 8) == "movi") {
          val end = math.min(off + 8 + size, riffEnd)
          var c = off + 12
          while (c + 8 <= end) {
            val cid   = fourcc(b, c.toInt)
            val csize = u32(b, c.toInt + 4)
            if (csize < 0) return IndexedSeq.empty
            if (cid.length == 4 && (cid.endsWith("dc") || cid.endsWith("db")) &&
                c + 8 + csize <= end)
              out += java.util.Arrays.copyOfRange(b, (c + 8).toInt, (c + 8 + csize).toInt)
            c += 8 + csize + (csize & 1)
          }
        }
        off += 8 + size + (size & 1)
      }
      out.toIndexedSeq
    }
  }

  /** Synthesize REAL (minimal spec-shaped) AVI payloads: RIFF('AVI ') with
    * LIST hdrl{avih} and LIST movi{one `00dc` chunk per frame}, geometry a
    * pure function of the id (`frames = 2 + id % 8`, `width = 16 + id %
    * 32`, `height = 16 + id % 16`). A player-grade file would add a strl
    * stream-header list; the subset written here follows the public RIFF
    * layout the [[RiffAviCodec]] walker parses, and the round trip checks
    * the avih field against the INDEPENDENTLY counted movi chunks.
    */
  def synthesizeAvi(docs: DataFrame, idCol: String): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    Pin
      .spread(docs.select(col(idCol).cast("long").as("id")), col("id"))
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val frames = (2 + id % 8).toInt
          val w      = (16 + id % 32).toInt
          val h      = (16 + id % 16).toInt
          val bos = new java.io.ByteArrayOutputStream()
          val d   = new java.io.DataOutputStream(bos)
          def u32(v: Int): Unit = d.writeInt(Integer.reverseBytes(v))
          val avih = {
            val a = new java.io.ByteArrayOutputStream()
            val ad = new java.io.DataOutputStream(a)
            def au32(v: Int): Unit = ad.writeInt(Integer.reverseBytes(v))
            au32(33333); au32(0); au32(0); au32(0)      // usec/frame, maxbytes, pad, flags
            au32(frames); au32(0); au32(1); au32(0)     // dwTotalFrames, initial, streams, bufsize
            au32(w); au32(h); au32(0); au32(0); au32(0); au32(0) // width, height, reserved[4]
            a.toByteArray
          }
          val frameData = Array.tabulate[Byte](8)(i => ((i * 13 + id) & 0xff).toByte)
          val hdrlSize = 4 + 8 + avih.length                    // 'hdrl' + avih chunk
          val moviSize = 4 + frames * (8 + frameData.length)    // 'movi' + frame chunks
          d.writeBytes("RIFF")
          val riffBody = 4 + (8 + hdrlSize) + (8 + moviSize)     // 'AVI ' + two LISTs
          u32(riffBody)
          d.writeBytes("AVI ")
          d.writeBytes("LIST"); u32(hdrlSize); d.writeBytes("hdrl")
          d.writeBytes("avih"); u32(avih.length); d.write(avih)
          d.writeBytes("LIST"); u32(moviSize); d.writeBytes("movi")
          var i = 0
          while (i < frames) { d.writeBytes("00dc"); u32(frameData.length); d.write(frameData); i += 1 }
          MediaRecord(id, "video", bos.toByteArray, "synthetic")
        }
      }
  }

  final case class VideoCensusRow(
      media_id: Long,
      total_frames: Int,
      movi_frames: Int,
      width: Int,
      height: Int,
  )

  /** Per-payload AVI census via [[RiffAviCodec]] (−1s for unparseable
    * payloads — total); header+index walk, frame bytes skipped by size.
    */
  def videoCensus(media: Dataset[MediaRecord]): Dataset[VideoCensusRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      RiffAviCodec.aviMeta(m.content) match {
        case Some(a) => VideoCensusRow(m.media_id, a.total_frames, a.movi_frames, a.width, a.height)
        case None    => VideoCensusRow(m.media_id, -1, -1, -1, -1)
      }
    })
  }

  /** Synthesize MJPEG-in-AVI payloads with REAL ImageIO-encoded JPEG
    * frames in the `00dc` movi chunks — the content-level video sibling of
    * [[synthesizePng]]: the container is the [[synthesizeAvi]] RIFF layout,
    * but every frame payload is a self-contained grayscale JPEG a reader
    * decodes back to exact pixels.
    *
    * Geometry is a pure function of the id: `frames = 4 + id % 4`,
    * `w = 64·(1 + id % 2)`, `h = 64`. Frame content models re-encoded /
    * trimmed copies of a shared clip: videos in group `g = id / 4` draw
    * frames from one timeline at position `p = k + id % 4`, so group
    * members overlap on 1–5 frames — the ground truth the near-dup family
    * pairs on. Each frame is an 8×8 grid of solid black/white cells from
    * the 32-bit mix `Q = (g·2654435761 + p·97003999) mod 2³²`: cell `c`
    * white iff bit `c/2` of `Q` (even `c`) or its complement (odd `c`) —
    * adjacent cells complementary, so every frame is exactly half white
    * and the aHash threshold has maximal margin.
    *
    * The ORACLE contract is the decoded per-frame aHash regenerated from
    * this closed form (the q240 pixel contract at frame granularity). That
    * works because the encode is chosen to be pixel-exact: grayscale (one
    * JPEG component, 8×8 MCUs, no chroma subsampling), cells aligned to
    * the MCU grid (`w`, `h` multiples of 64 → cell dims multiples of 8),
    * and explicit quality 1.0 (all-ones quantization tables) — a solid
    * 8×8 block is a DC-only DCT that survives quantize→dequantize→IDCT
    * exactly, so decoded luma is exactly 0/255 per cell.
    *
    * Scale: `mapPartitions`, one encoder per frame, no shuffle; payloads
    * ≤ ~8 KB — the family verifies frame decode, not codec throughput.
    */
  /** One quality-1.0 JPEG encode — the shared per-frame encoder of the two
    * MJPEG synthesizers. The writer is THREAD-LOCAL: a fresh
    * `getImageWritersByFormatName("jpg").next()` per frame pays the full SPI
    * registry walk + writer construction per frame (it dominated the
    * synthesize stage next to the actual DCT work); one writer per task
    * thread reused across every frame is the documented ImageIO reuse
    * pattern (`reset()` between uses) and is byte-identical — the writer is
    * stateless across writes apart from its output. Never disposed: task
    * threads are pooled and the writer is a tiny native-free object; GC
    * reclaims it with the thread.
    */
  private val jpegWriterTl = new ThreadLocal[javax.imageio.ImageWriter]

  private[graft] def encodeJpegQ1(img: java.awt.image.BufferedImage): Array[Byte] = {
    var writer = jpegWriterTl.get()
    if (writer == null) {
      writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      jpegWriterTl.set(writer)
    }
    val prm = writer.getDefaultWriteParam
    prm.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    prm.setCompressionQuality(1.0f)
    val fbos = new java.io.ByteArrayOutputStream()
    val ios  = new javax.imageio.stream.MemoryCacheImageOutputStream(fbos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), prm)
    } finally {
      writer.reset()
      ios.close() // flushes the memory cache into fbos
    }
    fbos.toByteArray
  }

  // Thread-local reused PNG writer — the [[encodeJpegQ1]] pattern for the
  // PNG synthesizers and the GIF-frame re-encode (same per-call SPI walk
  // + writer construction otherwise; default write param, so output is
  // byte-identical to `ImageIO.write(img, "png", stream)`).
  private val pngWriterTl = new ThreadLocal[javax.imageio.ImageWriter]

  private[graft] def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    var writer = pngWriterTl.get()
    if (writer == null) {
      writer = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
      pngWriterTl.set(writer)
    }
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), writer.getDefaultWriteParam)
    } finally {
      writer.reset()
      ios.close() // flushes the memory cache into bos
    }
    bos.toByteArray
  }

  def synthesizeMjpegAvi(docs: DataFrame, idCol: String): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    Pin
      .spread(docs.select(col(idCol).cast("long").as("id")), col("id"))
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val frames = (4 + id % 4).toInt
          val w      = (64 * (1 + id % 2)).toInt
          val h      = 64
          val g      = id / 4
          val o      = (id % 4).toInt
          val frameBytes: IndexedSeq[Array[Byte]] = (0 until frames).map { k =>
            val p = k + o
            val q = (g * 2654435761L + p * 97003999L) & 0xffffffffL
            val img =
              new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
            val raster = img.getRaster
            var y = 0
            while (y < h) {
              val rj = y * 8 / h
              var x = 0
              while (x < w) {
                val c = rj * 8 + x * 8 / w
                val qbit = (q >>> (c / 2)) & 1L
                val white = if (c % 2 == 0) qbit == 1L else qbit == 0L
                raster.setSample(x, y, 0, if (white) 255 else 0)
                x += 1
              }
              y += 1
            }
            encodeJpegQ1(img)
          }
          val bos = new java.io.ByteArrayOutputStream()
          val d   = new java.io.DataOutputStream(bos)
          def u32(v: Int): Unit = d.writeInt(Integer.reverseBytes(v))
          val avih = {
            val a  = new java.io.ByteArrayOutputStream()
            val ad = new java.io.DataOutputStream(a)
            def au32(v: Int): Unit = ad.writeInt(Integer.reverseBytes(v))
            au32(33333); au32(0); au32(0); au32(0)
            au32(frames); au32(0); au32(1); au32(0)
            au32(w); au32(h); au32(0); au32(0); au32(0); au32(0)
            a.toByteArray
          }
          val hdrlSize = 4 + 8 + avih.length
          // chunks pad to even — sizes must account for the pad byte
          val moviSize = 4 + frameBytes.map(fb => 8 + fb.length + (fb.length & 1)).sum
          d.writeBytes("RIFF")
          u32(4 + (8 + hdrlSize) + (8 + moviSize))
          d.writeBytes("AVI ")
          d.writeBytes("LIST"); u32(hdrlSize); d.writeBytes("hdrl")
          d.writeBytes("avih"); u32(avih.length); d.write(avih)
          d.writeBytes("LIST"); u32(moviSize); d.writeBytes("movi")
          frameBytes.foreach { fb =>
            d.writeBytes("00dc"); u32(fb.length); d.write(fb)
            if ((fb.length & 1) == 1) d.writeByte(0)
          }
          MediaRecord(id, "video", bos.toByteArray, "synthetic")
        }
      }
  }

  /** Pack per-frame payloads into the minimal RIFF/AVI container the
    * [[RiffAviCodec]] walker reads (avih header + one `00dc` movi chunk
    * per frame, even-padded) — the builder shared by [[synthesizeAvi]]'s
    * siblings and the re-encode ground-truth specs.
    */
  private[graft] def packMjpegAvi(frameBytes: IndexedSeq[Array[Byte]], w: Int, h: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val d   = new java.io.DataOutputStream(bos)
    def u32(v: Int): Unit = d.writeInt(Integer.reverseBytes(v))
    val avih = {
      val a  = new java.io.ByteArrayOutputStream()
      val ad = new java.io.DataOutputStream(a)
      def au32(v: Int): Unit = ad.writeInt(Integer.reverseBytes(v))
      au32(33333); au32(0); au32(0); au32(0)
      au32(frameBytes.length); au32(0); au32(1); au32(0)
      au32(w); au32(h); au32(0); au32(0); au32(0); au32(0)
      a.toByteArray
    }
    val hdrlSize = 4 + 8 + avih.length
    val moviSize = 4 + frameBytes.map(fb => 8 + fb.length + (fb.length & 1)).sum
    d.writeBytes("RIFF")
    u32(4 + (8 + hdrlSize) + (8 + moviSize))
    d.writeBytes("AVI ")
    d.writeBytes("LIST"); u32(hdrlSize); d.writeBytes("hdrl")
    d.writeBytes("avih"); u32(avih.length); d.write(avih)
    d.writeBytes("LIST"); u32(moviSize); d.writeBytes("movi")
    frameBytes.foreach { fb =>
      d.writeBytes("00dc"); u32(fb.length); d.write(fb)
      if ((fb.length & 1) == 1) d.writeByte(0)
    }
    bos.toByteArray
  }

  final case class VideoFrameHashRow(
      media_id: Long,
      frame_idx: Int,
      ahash_hi: Long,
      ahash_lo: Long,
      phash_hi: Long,
      phash_lo: Long,
      frame_w: Int,
      frame_h: Int,
  )

  /** Per-frame perceptual hashes over REAL video content: demux the movi
    * chunks ([[RiffAviCodec.framePayloads]]), `ImageIO.read` each frame
    * payload (full pixel rasterize — MJPEG-style AVI carries a
    * self-contained image per chunk), and hash each frame from the one
    * decode — exact-mean [[aHashBits]] always, DCT [[pHashBits]] only when
    * `withPHash` is set. Hash selection is EXPLICIT because the DCT is not
    * free next to the decode: computing it unconditionally cost the
    * aHash-only consumers ([[videoNearDupPairs]]/[[videoDedupKeepBest]])
    * a measured 1.15–1.77× per-query rise at sf0.1, so callers that never
    * read the pHash columns must not pay for them; `withPHash = false`
    * answers the (−1, −1) sentinel in `phash_hi/lo` ("not computed" — the
    * same value the pairing pre-filters already drop). Unparseable
    * containers and undecodable frames answer a single/per-frame all-(−1)
    * sentinel row — total, callers pairing on signatures filter
    * `ahash_hi >= 0` / `phash_hi >= 0` (the [[imageDedupKeepBest]]
    * pre-filter contract).
    *
    * Scale: `mapPartitions`, one decode per frame, payload bytes dropped
    * at this boundary — only (id, frame, two 64-bit hashes) rows shuffle,
    * and a billion-video corpus decodes in one partition-parallel pass
    * with no per-video driver loop.
    */
  def videoFrameHashes(media: Dataset[MediaRecord], withPHash: Boolean = true): Dataset[VideoFrameHashRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap { m =>
      val payloads = RiffAviCodec.framePayloads(m.content)
      if (payloads.isEmpty) Iterator.single(VideoFrameHashRow(m.media_id, -1, -1L, -1L, -1L, -1L, -1, -1))
      else
        payloads.iterator.zipWithIndex.map { case (fb, i) =>
          val img = decodeImage(fb)
          if (img == null || img.getWidth < 1 || img.getHeight < 1)
            VideoFrameHashRow(m.media_id, i, -1L, -1L, -1L, -1L, -1, -1)
          else {
            val (hash, phHi, phLo) =
              if (withPHash) { val (ah, ph) = bothHashBits(img); (ah, ph >>> 32, ph & 0xffffffffL) }
              else (aHashBits(img), -1L, -1L)
            VideoFrameHashRow(
              m.media_id, i,
              hash >>> 32, hash & 0xffffffffL,
              phHi, phLo,
              img.getWidth, img.getHeight,
            )
          }
        }
    })
  }

  /** Video near-duplicate pairs by frame-signature overlap — the
    * [[graft.operators.Winnow.overlapPairs]] shape at frame granularity:
    * per-frame aHashes ([[videoFrameHashes]], sentinel rows dropped),
    * distinct (video, signature), UBIQUITOUS-signature drop (a signature
    * in more than `maxVideosPerSig` videos is intro/outro boilerplate, the
    * fingerprint stop-word rule), then an equi-join on the signature and a
    * pair count thresholded at `minShared` shared frames.
    *
    * Scale: never all-pairs — the join is signature-local and the drop
    * bounds per-signature fan-out at `maxVideosPerSig²` BY CONSTRUCTION
    * (the same guard-by-filter contract as `overlapPairs`' `maxDocsPerFp`);
    * only (id, 64-bit sig) rows shuffle, pixels were dropped at the hash
    * boundary.
    */
  def videoNearDupPairs(
      media: Dataset[MediaRecord],
      minShared: Int = 2,
      maxVideosPerSig: Int = 8,
  ): DataFrame =
    sigOverlapPairs(
      videoFrameHashes(media, withPHash = false).toDF().where(col("ahash_hi") >= 0),
      minShared,
      maxVideosPerSig,
    )

  /** The signature-overlap pairing core shared by [[videoNearDupPairs]] and
    * [[videoDedupKeepBest]]: distinct (video, 64-bit frame signature) →
    * ubiquitous drop → signature equi-join → `minShared` cut. Input is the
    * sentinel-filtered [[videoFrameHashes]] frame table so a composed
    * caller pays the decode pass ONCE.
    */
  private def sigOverlapPairs(
      frameHashes: DataFrame,
      minShared: Int,
      maxVideosPerSig: Int,
      hiCol: String = "ahash_hi",
      loCol: String = "ahash_lo",
  ): DataFrame = {
    // Pinned before the per-signature count, not after it: see [[Pin.byKey]].
    val sigs = Pin.byKey(
      frameHashes
        .select(col("media_id").as("id"), shiftleft(col(hiCol), 32).bitwiseOR(col(loCol)).as("sig"))
        .distinct(),
      col("sig"),
    )
    val freq = sigs.groupBy(col("sig")).agg(count(lit(1)).as("__nvids"))
    val keep = sigs.join(freq.filter(col("__nvids") <= maxVideosPerSig), "sig")
    Pin
      .selfJoin(keep, Seq("sig"), col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Video near-duplicate pairs on FRAME pHASH HAMMING distance — the
    * lossy-re-encode-robust sibling of [[videoNearDupPairs]], and the q256
    * contract at video granularity: a re-encoded copy's frames keep their
    * DCT signs WITHIN A SMALL RADIUS (exact pHash equality breaks too —
    * measured: over half the fixture pairs lose exact-sig overlap), so
    * the pairing is [[Dedup.hammingPairs]] at frame granularity — frames
    * keyed by the STRUCT `(media_id, frame_idx)` (see [[phashFramePairs]];
    * no packing, so no frame-count cap), prefix-bucketed on the stable
    * low-frequency top bits, popcount-filtered at `maxDist` — aggregated
    * to video pairs by matched-frame count. The exact-aHash overlap count
    * rides along as the "what exact-signature dedup ([[videoNearDupPairs]])
    * would have seen" diagnostic: rows with `n_shared_ahash < minShared`
    * are pairs the q247 pipeline misses outright.
    *
    * ONE decode pass ([[videoFrameHashes]] emits both hashes); the frame
    * pairing is bucket-local with the loud bound guard (never all-pairs);
    * the aHash arm is the same signature-local equi-join; pixels are
    * touched once.
    */
  def videoNearDupPairsPHash(
      media: Dataset[MediaRecord],
      minShared: Int = 2,
      maxDist: Int = 4,
      maxVideosPerSig: Int = 8,
      frameStep: Int = 1,
  ): DataFrame = {
    val fh = Lineage.truncate(videoFrameHashes(media).toDF().where(col("phash_hi") >= 0))
    val p = phashFramePairs(fh, minShared, maxDist, frameStep)
    val a = sigOverlapPairs(fh, minShared = 1, maxVideosPerSig = maxVideosPerSig)
      .withColumnRenamed("n_shared", "n_shared_ahash")
    p.join(a, Seq("id_a", "id_b"), "left")
      .select(
        col("id_a"),
        col("id_b"),
        col("n_matched"),
        coalesce(col("n_shared_ahash"), lit(0L)).as("n_shared_ahash"),
      )
  }

  /** The frame-level Hamming pairing core shared by
    * [[videoNearDupPairsPHash]] and [[videoDedupKeepBestPHash]]: frames
    * keyed by the STRUCT (media_id, frame_idx) — no id-packing arithmetic
    * and therefore no frame-count or media-id-range cap (the r14 layout
    * packed `media_id·64 + frame_idx` and failed loudly at 64 frames ≈ 2 s
    * of 30 fps video; [[Dedup.hammingPairsRotated]] only ever compares and
    * carries the key, and struct comparison is lexicographic, so the
    * ordered-pair rule is unchanged) — TWO-band rotated prefix pairing
    * (a single band measurably loses ~1% of true re-encode pairs to a
    * prefix-bit flip; the second band re-buckets on the lo half's prefix
    * and recovers them all on the q266 fixture) at `maxDist`, aggregated
    * to video pairs by matched-frame count with the `minShared` cut.
    *
    * `frameStep > 1` pairs every k-th frame only (`frame_idx % k = 0`) —
    * the long-clip knob: a near-dup clip pair shares matched frames
    * throughout its length, so deterministic stride sampling keeps recall
    * while cutting the pairing's candidate volume by k (callers lower
    * `minShared` accordingly when sampling aggressively). Input is the
    * sentinel-filtered, checkpointed [[videoFrameHashes]] table so a
    * composed caller pays the decode pass ONCE. Output:
    * (id_a, id_b, n_matched) with id_a < id_b.
    */
  private def phashFramePairs(fh: DataFrame, minShared: Int, maxDist: Int, frameStep: Int = 1): DataFrame = {
    require(frameStep >= 1, s"phashFramePairs: frameStep must be >= 1: $frameStep")
    val sampled = if (frameStep == 1) fh else fh.filter(col("frame_idx") % frameStep === 0)
    val sigs = sampled.select(
      struct(col("media_id"), col("frame_idx")).as("fid"),
      shiftleft(col("phash_hi"), 32).bitwiseOR(col("phash_lo")).as("sig"),
    )
    Dedup
      .hammingPairsRotated(sigs, "fid", "sig", prefixBits = 12, maxDist = maxDist, rotations = 2)
      .select(col("id_a.media_id").as("id_a"), col("id_b.media_id").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_matched"))
      .filter(col("n_matched") >= minShared)
  }

  /** End-to-end video dedup that SURVIVES lossy re-encode — the
    * [[videoDedupKeepBest]] chain with [[phashFramePairs]] as the pairing
    * stage: ONE per-frame decode pass (checkpointed, reused by pairing
    * AND frame counts), Hamming frame pairs → adaptive connected
    * components → keep the LONGEST video per cluster (most decoded
    * frames, media-id tie-break — on a re-encode fixture both copies have
    * equal frames, so the tie-break keeps the LOWEST id: the original).
    * Exact-signature dedup ([[videoDedupKeepBest]]) under-clusters a
    * re-encoded corpus (q266's measured contract); this is the variant a
    * crawl pipeline actually wants.
    *
    * Scale: the same bounds as the exact chain — pixels touched once,
    * bucket-local pairing with the loud guard, O(log n) CC rounds,
    * cluster-partitioned keep-best window.
    */
  def videoDedupKeepBestPHash(
      media: Dataset[MediaRecord],
      minShared: Int = 2,
      maxDist: Int = 4,
      frameStep: Int = 1,
  ): DataFrame = {
    val fh = Lineage.truncate(videoFrameHashes(media).toDF().where(col("phash_hi") >= 0))
    val pairs = Lineage.truncate(
      phashFramePairs(fh, minShared, maxDist, frameStep)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
    )
    val comps = Dedup.connectedComponentsAdaptive(pairs)
    val frames = fh.groupBy(col("media_id")).agg(count(lit(1)).as("__nf"))
    val members = frames
      .join(comps.withColumnRenamed("id", "media_id"), Seq("media_id"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("comp")).orderBy(col("__nf").desc, col("media_id"))
    members
      .withColumn("__rn", row_number().over(w))
      .groupBy(col("comp"))
      .agg(
        count(lit(1)).as("n_members"),
        max(when(col("__rn") === 1, col("media_id"))).as("rep_media_id"),
        max(when(col("__rn") === 1, col("__nf"))).as("rep_frames"),
      )
      .select(
        col("comp").as("cluster_id"),
        col("rep_media_id"),
        col("rep_frames"),
        col("n_members"),
        (col("n_members") - 1).as("n_dropped"),
      )
  }

  /** Per document, an MJPEG-in-AVI clip (media_id = 2·id) plus a LOSSY-
    * RE-ENCODE STAND-IN variant (media_id = 2·id + 1) — the
    * [[synthesizePngReencodePair]] fixture at video granularity, shaped so
    * the JPEG encode stays PIXEL-EXACT (the [[synthesizeMjpegAvi]]
    * argument: solid 8×8-aligned cells are DC-only blocks that survive
    * quality-1.0 quantize→dequantize→IDCT exactly, for ANY integer level):
    *
    *  - geometry: `frames = 4 + id % 4`, `w = 64·(1 + id % 2)`, `h = 64`;
    *  - base: cell level `L = 40 + 88·(Q mod 3)` from the xorshift mix
    *    `v₀ = (id·512 + k·64 + c + 1)·2654435761 mod 2^32`,
    *    `Q = v₀ xor (v₀ >> 13)` (the q256 mixer rule — affine-only cell
    *    hashes make level-rotated twins);
    *  - variant: `L + 25 + ((id + 3k + 13c) mod 17 − 8)` — a STRONG
    *    cell-level "re-encode drift" (17–33 levels; per-pixel noise would
    *    break the DC-only exactness the oracle's closed form depends on),
    *    deliberately past the exact-signature breaking point: measured at
    *    this amplitude, ~31% of frames flip at least one aHash bit, over
    *    half the clip pairs lose exact pHash-sig overlap too, yet
    *    per-frame pHash Hamming distance stays ≤ 4 against a ≥ 14
    *    cross-content floor — the regime where ONLY Hamming pairing
    *    ([[videoNearDupPairsPHash]]) still finds the pairs.
    */
  def synthesizeMjpegReencodePair(docs: DataFrame, idCol: String): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    Pin
      .spread(docs.select(col(idCol).cast("long").as("id")), col("id"))
      .as[Long]
      .mapPartitions { it =>
        it.flatMap { id =>
          val frames = (4 + id % 4).toInt
          val w      = (64 * (1 + id % 2)).toInt
          val h      = 64
          Seq(0, 1).map { variant =>
            val frameBytes: IndexedSeq[Array[Byte]] = (0 until frames).map { k =>
              val img =
                new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
              val raster = img.getRaster
              var y = 0
              while (y < h) {
                val cy = y * 8 / h
                var x = 0
                while (x < w) {
                  val c = cy * 8 + x * 8 / w
                  val v0 = ((id * 512 + k * 64 + c + 1) * 2654435761L) & 0xffffffffL
                  val q = v0 ^ (v0 >> 13)
                  val base = (40L + 88L * (q % 3)).toInt
                  val lvl = if (variant == 0) base else base + 25 + (((id + 3L * k + 13L * c) % 17) - 8).toInt
                  raster.setSample(x, y, 0, lvl)
                  x += 1
                }
                y += 1
              }
              encodeJpegQ1(img)
            }
            MediaRecord(2 * id + variant, "video", packMjpegAvi(frameBytes, w, h), "synthetic")
          }
        }
      }
  }

  /** End-to-end video dedup with canonicalization — the video sibling of
    * [[imageDedupKeepBest]] / `Dedup.neardupKeepBest`: ONE per-frame decode
    * pass ([[videoFrameHashes]], truncated and reused), frame-signature
    * overlap pairs ([[sigOverlapPairs]]), adaptive connected components,
    * then keep the LONGEST video per cluster (most decoded frames,
    * media-id tie-break). Singletons (nothing paired) are absent, as in
    * the image and text variants.
    *
    * Scale: pixels are touched exactly once (the hash pass); the pair set
    * is signature-local and bounded by the ubiquitous drop; CC is
    * O(log n) rounds via the adaptive dispatch; the keep-best window
    * partitions by cluster over fixed-width rows.
    */
  def videoDedupKeepBest(
      media: Dataset[MediaRecord],
      minShared: Int = 2,
      maxVideosPerSig: Int = 8,
  ): DataFrame = {
    val fh = Lineage.truncate(videoFrameHashes(media, withPHash = false).toDF().where(col("ahash_hi") >= 0))
    val pairs = Lineage.truncate(
      sigOverlapPairs(fh, minShared, maxVideosPerSig)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
    )
    val comps = Dedup.connectedComponentsAdaptive(pairs)
    val frames = fh.groupBy(col("media_id")).agg(count(lit(1)).as("__nf"))
    val members = frames
      .join(comps.withColumnRenamed("id", "media_id"), Seq("media_id"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("comp")).orderBy(col("__nf").desc, col("media_id"))
    members
      .withColumn("__rn", row_number().over(w))
      .groupBy(col("comp"))
      .agg(
        count(lit(1)).as("n_members"),
        max(when(col("__rn") === 1, col("media_id"))).as("rep_media_id"),
        max(when(col("__rn") === 1, col("__nf"))).as("rep_frames"),
      )
      .select(
        col("comp").as("cluster_id"),
        col("rep_media_id"),
        col("rep_frames"),
        col("n_members"),
        (col("n_members") - 1).as("n_dropped"),
      )
  }

  /** Synthesize a media table from `documents` (deterministic — the payload
    * is the utf-8 text, typed by doc_id). Stands in for a real binary column
    * scan; the operators downstream don't know the difference.
    */
  def synthesizeFromDocuments(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(
        col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")), (col("doc_id") % 3 + 1).cast("int"))
          .as("media_type"),
        encode(col("text"), "utf-8").as("content"),
        col("source"),
      )
      .as[MediaRecord]
  }

  /** Synthesize REAL PNG payloads (one per document, dimensions a pure
    * function of the id: `width = 8 + id % 32`, `height = 8 + id % 16`) —
    * encoded with the JDK's `ImageIO` on the executors, so a downstream
    * [[ImageIoCodec]] decode exercises the full binary round trip on the
    * distributed path. The ORACLE contract is the decoded dimensions (id
    * arithmetic any engine can mirror), never the payload bytes (PNG
    * encoder output is JDK-version-dependent; dimensions are not).
    *
    * Scale: `mapPartitions`, one encoder per row, no shuffle; payloads are
    * small on purpose (≤40×24 px) — the query family exists to verify decode,
    * not to benchmark encoders.
    */
  def synthesizePng(
      docs: DataFrame,
      idCol: String,
      contentIdCol: Option[String] = None,
  ): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(
        col(idCol).cast("long").as("id"),
        // contentIdCol decouples record identity from pixel content: rows
        // sharing a content id are EXACT duplicate images under distinct
        // media ids — the ground truth a dedup family needs (default: one
        // image per id, the original contract).
        col(contentIdCol.getOrElse(idCol)).cast("long").as("cid"),
      )
      .transform(Pin.spread(_, col("id")))
      .as[(Long, Long)]
      .mapPartitions { it =>
        it.map { case (id, cid) =>
          val w = (8 + cid % 32).toInt
          val h = (8 + cid % 16).toInt
          val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { img.setRGB(x, y, ((x * 31 + y * 7 + cid) & 0xffffff).toInt); x += 1 }
            y += 1
          }
          MediaRecord(id, "image", encodePng(img), "synthetic")
        }
      }
  }

  /** Synthesize REAL multi-frame animated-GIF payloads (one per document,
    * frame count a pure function of the id: `frames = 1 + id % 4`) — the
    * GIF89a container is assembled byte-by-byte on the executors (header +
    * logical screen descriptor + 2-color global palette + per frame a
    * graphics-control extension, image descriptor and the canonical
    * 5-byte LZW block for a single pixel of color 0), so a downstream
    * [[ImageIoCodec.frameCount]] demux exercises the full multi-image
    * binary path. Like [[synthesizePng]], the ORACLE contract is the
    * DECODED frame count (id arithmetic any engine can mirror), never the
    * payload bytes.
    *
    * Scale: `mapPartitions`, no shuffle, ~(14 + 25·frames + 6)-byte
    * payloads — the family verifies demux, not encoder throughput.
    */
  def synthesizeGif(docs: DataFrame, idCol: String): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    Pin
      .spread(docs.select(col(idCol).cast("long").as("id")), col("id"))
      .as[Long]
      .mapPartitions { it =>
        val frameBlock = Array[Byte](
          0x21.toByte, 0xF9.toByte, 0x04, 0x00, 0x0A, 0x00, 0x00, 0x00, // GCE, delay 10
          0x2C, 0, 0, 0, 0, 0x01, 0x00, 0x01, 0x00, 0x00,               // image descriptor 1×1
          0x02, 0x02, 0x44, 0x01, 0x00,                                 // LZW: one pixel, color 0
        )
        it.map { id =>
          val frames = (1 + id % 4).toInt
          val bos = new java.io.ByteArrayOutputStream()
          bos.write("GIF89a".getBytes("US-ASCII"))
          bos.write(Array[Byte](0x01, 0x00, 0x01, 0x00))                // logical screen 1×1
          bos.write(Array[Byte](0xF0.toByte, 0x00, 0x00))               // GCT present, 2 colors
          bos.write(Array[Byte](0, 0, 0, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte))
          var i = 0
          while (i < frames) { bos.write(frameBlock); i += 1 }
          bos.write(0x3B)                                               // trailer
          MediaRecord(id, "video", bos.toByteArray, "synthetic")
        }
      }
  }

  /** Batch decode + feature extraction. Partition-parallel `mapPartitions`
    * (one codec instance per partition, streamed iterator — the Scala analog
    * of `mapInPandas` batches); output is a narrow, columnar-friendly
    * feature row.
    */
  def extractFeatures(media: Dataset[MediaRecord], codec: Codec = StubCodec): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val (w, h) = codec.dimensions(m.content)
        var sum = 0L
        val hist = new Array[Long](256)
        var i = 0
        while (i < m.content.length) {
          val b = m.content(i) & 0xff
          sum += b
          hist(b) += 1
          i += 1
        }
        val n = math.max(m.content.length, 1)
        var entropy = 0.0
        var j = 0
        while (j < 256) {
          if (hist(j) > 0) {
            val p = hist(j).toDouble / n
            entropy -= p * math.log(p) / math.log(2)
          }
          j += 1
        }
        val frames = if (m.media_type == "video") codec.sampleFrames(m.content, 4).size else 0
        MediaFeatures(m.media_id, m.media_type, m.content.length, w, h, sum.toDouble / n, entropy, frames)
      }
    }
  }

  final case class ImageHashRow(media_id: Long, ahash_hi: Long, ahash_lo: Long, width: Int, height: Int)

  /** Perceptual average-hash (aHash) over REAL decoded pixels — the
    * canonical first stage of image dedup: rasterize (here `ImageIO.read`,
    * the full pixel decode, unlike the header-only census ops), integer
    * luma per pixel (`299r + 587g + 114b`, per-mille weights, no division),
    * pool into an 8×8 grid (pixel → cell by `(x·8) div w` — every pixel
    * lands in exactly one cell, cells may be uneven), then one bit per cell
    * by exact cross-multiplication against the global mean
    * (`cellSum·totalN > totalSum·cellN` — no IEEE division anywhere, the
    * house integer-exactness rule). The 64-bit hash ships as two unsigned
    * 32-bit halves (`ahash_hi` = bits 32–63, `ahash_lo` = bits 0–31) so an
    * oracle never has to reason about two's-complement sign conventions.
    *
    * Exact-equal hashes are resized/re-encoded/brightness-shifted
    * duplicates (aHash is invariant to any transform preserving the
    * luma-vs-mean pattern — in particular ADDITIVE brightness shifts, since
    * cell and global means shift together); NEAR-duplicates are Hamming
    * neighbors — pair them with [[graft.operators.Dedup.hammingPairs]] on
    * `ahash_hi<<32 | ahash_lo` (the banded SimHash shape, same guard).
    *
    * Scale: `mapPartitions`, one decode per row, bytes dropped at this
    * boundary, no shuffle; a census downstream groups by (hi, lo). Decode
    * is the expensive step — run it post-filter (the [[extractFeatures]]
    * rule). Unrecognized payloads answer (−1, −1, −1, −1) — total, callers
    * needing strictness pre-filter on [[ImageIoCodec.isDecodable]].
    */
  /** The aHash core over a rasterized image: integer luma, 8×8 pooling,
    * one bit per cell by exact cross-multiplication against the global
    * mean (see [[imageAHash]] for the full contract). Shared by the image
    * and per-video-frame paths so the two families cannot drift.
    */
  /** Shared 8×8 luma box-pool for [[aHashBits]]/[[pHashBits]] — bit-identical
    * to the per-pixel `getRGB` loops it replaced, but reads pixels in BULK:
    * per-pixel `getRGB` pays a ColorModel virtual dispatch + sRGB conversion
    * call per pixel, which dominated the decode stages (q266/q269 hash every
    * frame of every clip). TYPE_BYTE_GRAY images read raw raster samples and
    * map through [[GraySrgbLut]] — exactly what `getRGB` returns for a gray
    * image (r = g = b = lut(level), so luma = 1000·lut(level), the identity
    * the q266 oracle already embeds); anything else reads whole rows through
    * the bulk `getRGB` overload (same conversion, one call per row).
    * Returns (cellSum, cellCnt, totalLumaSum).
    */
  private def poolLuma8x8(img: java.awt.image.BufferedImage): (Array[Long], Array[Long], Long) = {
    val w = img.getWidth
    val h = img.getHeight
    val cellSum = new Array[Long](64)
    val cellCnt = new Array[Long](64)
    var totalSum = 0L
    val gray = img.getType == java.awt.image.BufferedImage.TYPE_BYTE_GRAY
    val row = new Array[Int](w)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      val base = (y * 8 / h) * 8
      if (gray) raster.getSamples(0, y, w, 1, 0, row)
      else img.getRGB(0, y, w, 1, row, 0, w)
      var x = 0
      while (x < w) {
        val luma =
          if (gray) 1000L * GraySrgbLutArr(row(x))
          else {
            val v = row(x) & 0xffffff
            299L * ((v >> 16) & 0xff) + 587L * ((v >> 8) & 0xff) + 114L * (v & 0xff)
          }
        val c = base + x * 8 / w
        cellSum(c) += luma
        cellCnt(c) += 1
        totalSum += luma
        x += 1
      }
      y += 1
    }
    (cellSum, cellCnt, totalSum)
  }

  private[graft] def aHashBits(img: java.awt.image.BufferedImage): Long = {
    val (cellSum, cellCnt, totalSum) = poolLuma8x8(img)
    aHashFromPool(cellSum, cellCnt, totalSum, img.getWidth.toLong * img.getHeight)
  }

  private def aHashFromPool(cellSum: Array[Long], cellCnt: Array[Long], totalSum: Long, totalN: Long): Long = {
    var hash = 0L
    var c = 0
    while (c < 64) {
      // 128-bit cross-multiply (BigInt = DuckDB's HUGEINT): a
      // 100-megapixel image pushes Σluma·n past a Long
      if (BigInt(cellSum(c)) * totalN > BigInt(totalSum) * cellCnt(c)) hash |= 1L << c
      c += 1
    }
    hash
  }

  /** Both hashes from ONE pooling pass — the pool (a full pixel read) is the
    * dominant cost of hashing a decoded frame, and every both-hash caller
    * ([[videoFrameHashes]], [[imagePHash]]) used to pay it twice.
    */
  private[graft] def bothHashBits(img: java.awt.image.BufferedImage): (Long, Long) = {
    val (cellSum, cellCnt, totalSum) = poolLuma8x8(img)
    (
      aHashFromPool(cellSum, cellCnt, totalSum, img.getWidth.toLong * img.getHeight),
      pHashFromPool(cellSum, cellCnt),
    )
  }

  /** Quantized DCT-II cosine basis for [[pHashBits]]:
    * `CT(k)(n) = round(cos(π·(2n+1)·k / 16) · 2^14)`, k,n ∈ 0..7 — ONE
    * integer table, computed here and EMBEDDED verbatim into the q256
    * oracle SQL, so both engines run identical integer arithmetic with no
    * libm-rounding parity risk. The DCT perceptual hash is public
    * knowledge (pHash; e.g. Zauner 2010, "Implementation and benchmarking
    * of perceptual image hash functions").
    */
  /** The JDK's TYPE_BYTE_GRAY → sRGB pixel conversion as a 256-entry
    * lookup table: [[aHashBits]]/[[pHashBits]] read pixels through
    * `getRGB`, which maps a stored gray sample through the built-in
    * gray→sRGB color transform (the sRGB transfer curve, IEC 61966-2-1 —
    * public knowledge) — so the luma the hash SAW for a decoded grayscale
    * JPEG is `1000·lut(level)`, not `1000·level`. Materialized once
    * driver-side (256 one-pixel conversions) and embedded verbatim into
    * the q266 oracle, the [[PhashCosTable]] rule: both engines run the
    * identical integer table, zero color-management parity risk. (The
    * 0/255-only fixtures never noticed: the endpoints are fixed points of
    * any transfer curve.)
    */
  private[graft] lazy val GraySrgbLut: IndexedSeq[Int] = (0 to 255).map { l =>
    val img = new java.awt.image.BufferedImage(1, 1, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setSample(0, 0, 0, l)
    img.getRGB(0, 0) & 0xff
  }

  // Array view of the LUT for the per-pixel hot loop (IndexedSeq#apply is a
  // megamorphic call; the loop runs once per pixel of every decoded frame).
  private lazy val GraySrgbLutArr: Array[Int] = GraySrgbLut.toArray

  private[graft] val PhashScale: Long = 1L << 14
  private[graft] val PhashCosTable: Array[Array[Long]] =
    Array.tabulate(8, 8)((k, n) => Math.round(Math.cos(Math.PI * (2 * n + 1) * k / 16.0) * PhashScale.toDouble))

  /** DCT perceptual hash over a rasterized image — the lossy-re-encode-
    * robust sibling of [[aHashBits]], integer end to end:
    *
    *  1. the SAME 8×8 box pooling as aHash, but floor-MEAN per cell
    *     (`Σluma div n` — exact on both engines);
    *  2. separable integer DCT-II of the 8×8 grid through
    *     [[PhashCosTable]] (rows then columns; magnitudes stay < 2^53,
    *     Long/BIGINT-safe);
    *  3. one bit per NON-DC coefficient by exact cross-multiplication
    *     against the mean of the 63 AC coefficients
    *     (`coef·63 > Σ_AC coef` — signed integers, no IEEE division).
    *
    * Bit layout: coefficient (kx, ky) lands at position `63 − (ky·8+kx)`,
    * so the LOW-frequency coefficients (the ones re-encode noise moves
    * least) occupy the TOP bits — [[Dedup.hammingPairs]]' prefix bucket
    * then keys on the most stable bits. The DC slot (position 63) is
    * always 0: DC is brightness, which aHash already thresholds away and
    * pHash must ignore.
    *
    * Why it pairs what aHash misses: aHash thresholds each cell against
    * the GLOBAL mean, so a cell sitting near that mean flips under a
    * quality-level of re-encode noise; a DCT sign flips only when a whole
    * basis-pattern correlation crosses zero, which per-pixel noise of a
    * few luma counts cannot move on an image with real structure.
    */
  private[graft] def pHashBits(img: java.awt.image.BufferedImage): Long = {
    val (cellSum, cellCnt, _) = poolLuma8x8(img)
    pHashFromPool(cellSum, cellCnt)
  }

  private def pHashFromPool(cellSum: Array[Long], cellCnt: Array[Long]): Long = {
    // An image narrower/shorter than 8 px leaves pool cells EMPTY (the
    // `y*8/h` map skips grid rows) — treat an empty cell's mean as 0 so
    // the hash stays TOTAL (a 1×1 tracking pixel must not throw and kill
    // the corpus scan; aHashBits is total for the same inputs via its
    // cross-multiply, which never divides).
    val g = Array.tabulate(8, 8) { (cy, cx) =>
      val c = cy * 8 + cx
      if (cellCnt(c) == 0) 0L else cellSum(c) / cellCnt(c)
    }
    // separable DCT-II: rows (over cx) then columns (over cy)
    val r = Array.tabulate(8, 8) { (kx, cy) =>
      var s = 0L; var cx = 0
      while (cx < 8) { s += g(cy)(cx) * PhashCosTable(kx)(cx); cx += 1 }
      s
    }
    val coef = Array.tabulate(8, 8) { (kx, ky) =>
      var s = 0L; var cy = 0
      while (cy < 8) { s += r(kx)(cy) * PhashCosTable(ky)(cy); cy += 1 }
      s
    }
    var sac = 0L
    var kx = 0
    while (kx < 8) {
      var ky = 0
      while (ky < 8) { if (kx != 0 || ky != 0) sac += coef(kx)(ky); ky += 1 }
      kx += 1
    }
    var hash = 0L
    kx = 0
    while (kx < 8) {
      var ky = 0
      while (ky < 8) {
        if ((kx != 0 || ky != 0) && coef(kx)(ky) * 63L > sac) hash |= 1L << (63 - (ky * 8 + kx))
        ky += 1
      }
      kx += 1
    }
    hash
  }

  final case class PHashRow(
      media_id: Long,
      phash_hi: Long,
      phash_lo: Long,
      ahash_hi: Long,
      ahash_lo: Long,
  )

  /** Both perceptual hashes — DCT [[pHashBits]] and mean [[aHashBits]] —
    * from ONE decode pass (decode dominates; a second pass for the second
    * hash would double the scan cost for arithmetic that is ~free next to
    * it). Undecodables answer all-(−1); bytes dropped at this boundary.
    */
  def imagePHash(media: Dataset[MediaRecord]): Dataset[PHashRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      val img = decodeImage(m.content)
      if (img == null || img.getWidth < 1 || img.getHeight < 1)
        PHashRow(m.media_id, -1L, -1L, -1L, -1L)
      else {
        val (a, p) = bothHashBits(img)
        PHashRow(m.media_id, p >>> 32, p & 0xffffffffL, a >>> 32, a & 0xffffffffL)
      }
    })
  }

  /** Per document, a block-pattern PNG (media_id = 2·id) plus a LOSSY-
    * RE-ENCODE STAND-IN variant (media_id = 2·id + 1) — the q256 fixture:
    *
    *  - base: gray level per 8×8-pool cell from an XORSHIFT-mixed cell
    *    hash — `v₀ = (id·64 + cell + 1)·2654435761 mod 2^32`,
    *    `Q = v₀ xor (v₀ >> 13)`, `L = 40 + 88·(Q mod 3)`, pixel
    *    `v = L·65793` (0x010101·L). The xorshift is LOAD-BEARING: an
    *    affine-only `Q = id·C₁ + cell·C₂` shifts by a per-doc CONSTANT
    *    across all cells, so docs at certain id deltas get level-ROTATED
    *    twins with identical DCT signs — measured: 194 distinct pHashes
    *    per 1000 media and ~354k quadratic cross-content pairs at sf0.1;
    *    with the mixer, max hash cluster = 2 (the orig/variant pair) and
    *    pair count grows linearly in docs.
    *  - variant: `v + (x·13 + y·17 + id) mod 23` — a couple dozen counts
    *    of deterministic per-pixel "quality loss" (blue stays < 256 at
    *    these levels: no channel carry, so the mirror is one addition).
    *    Cells whose level sits near the global mean flip their aHash bit
    *    under it (~2% of variants at sf0.1); no DCT sign moves more than
    *    2 bits.
    *
    * This is the closed-form MODEL of re-encode noise — real lossy JPEG
    * noise cannot be regenerated arithmetically by an oracle. The REAL
    * re-encode ground truth lives in `MultimodalSpec`, which runs an
    * actual ImageIO JPEG re-encode through the same pairing contract.
    */
  def synthesizePngReencodePair(docs: DataFrame, idCol: String): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    Pin
      .spread(docs.select(col(idCol).cast("long").as("id")), col("id"))
      .as[Long]
      .mapPartitions { it =>
        it.flatMap { id =>
          val w = (8 + id % 32).toInt
          val h = (8 + id % 16).toInt
          Seq(0, 1).map { variant =>
            val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              val cy = y * 8 / h
              var x = 0
              while (x < w) {
                val cell = cy * 8 + x * 8 / w
                val v0 = ((id * 64 + cell + 1) * 2654435761L) & 0xffffffffL
                val q = v0 ^ (v0 >> 13)
                val base = (40L + 88L * (q % 3)) * 65793L
                val v = if (variant == 0) base else base + (x * 13L + y * 17L + id) % 23
                img.setRGB(x, y, (v & 0xffffff).toInt)
                x += 1
              }
              y += 1
            }
            MediaRecord(2 * id + variant, "image", encodePng(img), "synthetic")
          }
        }
      }
  }

  def imageAHash(media: Dataset[MediaRecord]): Dataset[ImageHashRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      val img = decodeImage(m.content)
      if (img == null || img.getWidth < 1 || img.getHeight < 1)
        ImageHashRow(m.media_id, -1L, -1L, -1, -1)
      else {
        val hash = aHashBits(img)
        ImageHashRow(m.media_id, hash >>> 32, hash & 0xffffffffL, img.getWidth, img.getHeight)
      }
    })
  }

  /** End-to-end perceptual image dedup with canonicalization: aHash over
    * REAL decoded pixels → [[Dedup.hammingPairs]] (banded candidates, loud
    * bucket guard) → [[Dedup.connectedComponentsAdaptive]] (label-prop or
    * star by measured edge count) → keep the LARGEST image per cluster
    * (pixel count, media-id tie-break) — the image sibling of
    * [[Dedup.neardupKeepBest]]. One pair materialization, token-free;
    * only clustered images pay the join; singletons (nothing paired)
    * are absent, as in the text variant.
    *
    * Scale: the pair set is candidate-sized (banding), CC is O(log n)
    * rounds worst case via the adaptive dispatch, the keep-best window
    * partitions by cluster — nothing touches pixels after the hash pass.
    */
  def imageDedupKeepBest(
      media: Dataset[MediaRecord],
      prefixBits: Int = 12,
      maxDist: Int = 3,
  ): DataFrame = {
    // Drop imageAHash's (−1, −1) undecodable sentinel BEFORE pairing: on a
    // real corpus every unreadable image shares the sentinel signature, so
    // without this filter they all pair at Hamming distance 0, merge into
    // one cluster, and keep-best silently drops all but one (or the bucket
    // guard aborts). Undecodables are not duplicates of each other.
    val hashed = imageAHash(media).toDF().where(col("ahash_hi") >= 0)
    val sigs = hashed.select(
      col("media_id"),
      shiftleft(col("ahash_hi"), 32).bitwiseOR(col("ahash_lo")).as("sig"),
    )
    val pairs = Lineage.truncate(
      Dedup
        .hammingPairs(sigs, "media_id", "sig", bits = 64, prefixBits = prefixBits, maxDist = maxDist)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
    )
    val comps = Dedup.connectedComponentsAdaptive(pairs)
    val members = hashed
      .join(comps.withColumnRenamed("id", "media_id"), Seq("media_id"))
      .select(col("media_id"), col("comp"), (col("width").cast("long") * col("height")).as("__px"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("comp")).orderBy(col("__px").desc, col("media_id"))
    members
      .withColumn("__rn", row_number().over(w))
      .groupBy(col("comp"))
      .agg(
        count(lit(1)).as("n_members"),
        max(when(col("__rn") === 1, col("media_id"))).as("rep_media_id"),
        max(when(col("__rn") === 1, col("__px"))).as("rep_pixels"),
      )
      .select(
        col("comp").as("cluster_id"),
        col("rep_media_id"),
        col("rep_pixels"),
        col("n_members"),
        (col("n_members") - 1).as("n_dropped"),
      )
  }

  /** Mixed-modality corpus dedup in one pass — the composition a real
    * training-data intake runs: ONE media table carrying images, videos
    * and audio, each payload routed by CONTAINER SNIFF (magic bytes, not a
    * caller-provided type column — intake metadata lies; the first 12
    * bytes don't) to its modality's keep-best chain, one canonicalized
    * output partitioned by modality:
    *
    *  - `89 50 4E 47 0D 0A 1A 0A` → PNG → [[imageDedupKeepBest]]
    *    (aHash → Hamming pairs → CC → largest image survives);
    *  - `RIFF····AVI ` → [[videoDedupKeepBest]] (frame signatures →
    *    overlap pairs → CC → longest video survives);
    *  - `RIFF····WAVE` → [[audioDedupKeepBest]] (exact fingerprint
    *    collapse → Hamming merge → CC → longest clip survives).
    *
    * The sniff is pure column arithmetic (`hex(substring(content, …))`
    * equality — codegen'd, no UDF). `materializeInput` picks who pays for
    * the three modality branches reading the corpus: `true` (default)
    * checkpoints the input plan ONCE so the branches re-read the
    * materialized corpus — right when the input is COMPUTED (a synthesis,
    * an upstream decode, a join); `false` lets each branch re-scan the
    * source — right when the input is a raw lake scan, where three reads
    * of immutable parquet are cheaper than first writing a corpus-sized
    * copy to checkpoint storage (at 100 TB the checkpoint write IS the
    * cost; the sniff can't push down, so the reads cost the same either
    * way). Payloads unmatched by every sniff (corrupt uploads) are dropped by
    * construction — they match no filter. Output:
    * (modality, cluster_id, rep_media_id, rep_size, n_members, n_dropped)
    * where rep_size is pixels / frames / samples by modality. Each
    * family keeps its own membership semantics (audio keeps singleton
    * exact-dup groups; image/video report paired clusters only).
    *
    * Scale: the added cost over running the three chains separately is
    * zero — same decode passes, same bounded pairings — while the corpus
    * is scanned once; payload bytes reach no Exchange in any branch (the
    * per-family contracts, asserted in PlanSpec for this composed plan).
    */
  def mediaDedupMixed(
      media: Dataset[MediaRecord],
      prefixBits: Int = 12,
      maxDist: Int = 3,
      minShared: Int = 2,
      maxVideosPerSig: Int = 8,
      materializeInput: Boolean = true,
  ): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val mat = if (materializeInput) Lineage.truncate(media.toDF()).as[MediaRecord] else media
    val isPng  = hex(substring(col("content"), 1, 8)) === lit("89504E470D0A1A0A")
    val isRiff = hex(substring(col("content"), 1, 4)) === lit("52494646")
    val isAvi  = isRiff && hex(substring(col("content"), 9, 4)) === lit("41564920")
    val isWav  = isRiff && hex(substring(col("content"), 9, 4)) === lit("57415645")
    val img = imageDedupKeepBest(mat.filter(isPng), prefixBits, maxDist)
      .select(
        lit("image").as("modality"),
        col("cluster_id"),
        col("rep_media_id"),
        col("rep_pixels").cast("long").as("rep_size"),
        col("n_members"),
        col("n_dropped"),
      )
    val vid = videoDedupKeepBest(mat.filter(isAvi), minShared, maxVideosPerSig)
      .select(
        lit("video").as("modality"),
        col("cluster_id"),
        col("rep_media_id"),
        col("rep_frames").cast("long").as("rep_size"),
        col("n_members"),
        col("n_dropped"),
      )
    val aud = audioDedupKeepBest(mat.filter(isWav), prefixBits, maxDist)
      .select(
        lit("audio").as("modality"),
        col("cluster_id"),
        col("rep_media_id"),
        col("rep_samples").cast("long").as("rep_size"),
        col("n_members"),
        col("n_dropped"),
      )
    img.unionAll(vid).unionAll(aud)
  }

  final case class AudioFeatureRow(
      media_id: Long,
      n_samples: Long,
      energy: Long, // Σ s² over 16-bit samples — exact, no normalization
      zero_crossings: Long,
  )

  /** PCM-16LE payload bytes via the JDK's `javax.sound` parser, or None when
    * the parser rejects — or CRASHES on — the payload. The catch wraps ONLY
    * the JDK decode calls and is deliberately NonFatal: crafted or truncated
    * WAV/AIFF headers can make `AudioSystem` internals throw
    * RuntimeExceptions (ArrayIndexOutOfBounds, NegativeArraySize), and the
    * totality contract ([[audioFeatures]]/[[audioFingerprint]] answer the
    * (−1,−1,−1) sentinel on ANY undecodable payload, SCALE.md) requires
    * those to land on the sentinel rather than kill a corpus scan. Graft's
    * own feature/fingerprint arithmetic runs OUTSIDE this catch, so a bug in
    * our loops still fails loudly instead of aliasing as "undecodable".
    */
  private def pcm16leBytes(content: Array[Byte]): Option[Array[Byte]] =
    try {
      val in = javax.sound.sampled.AudioSystem
        .getAudioInputStream(new java.io.ByteArrayInputStream(content))
      try {
        val fm = in.getFormat
        if (fm.getSampleSizeInBits != 16 || fm.isBigEndian) None
        else Some(in.readAllBytes())
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** PCM-level audio features via a REAL `javax.sound` decode — the JDK's
    * parser locates the `data` chunk and streams the sample bytes (not our
    * writer's offsets), so this extends the q238 header contract to the
    * payload: energy (Σ s², the silence/clipping gauge) and zero-crossing
    * count (the cheap voicing/noise discriminator) over 16-bit
    * little-endian samples, both exact integers — the two features a
    * curation pipeline thresholds on before paying for a real ASR/codec
    * pass. Multi-channel payloads are processed as interleaved samples
    * (channel-agnostic energy; ZCR over the interleaved stream — a LABEL
    * for filtering, mirrored exactly, not a per-channel DSP claim).
    * Non-PCM-16 or unrecognized payloads answer (−1, −1, −1) — total.
    *
    * Scale: `mapPartitions`, one streaming decode per row, no shuffle,
    * bytes dropped at this boundary.
    */
  def audioFeatures(media: Dataset[MediaRecord]): Dataset[AudioFeatureRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      pcm16leBytes(m.content) match {
        case None => AudioFeatureRow(m.media_id, -1L, -1L, -1L)
        case Some(bytes) =>
          val n = bytes.length / 2
          var energy = 0L
          var zc = 0L
          var prevNeg = false
          var k = 0
          while (k < n) {
            val s = ((bytes(2 * k) & 0xff) | (bytes(2 * k + 1) << 8)).toShort.toLong
            energy += s * s
            val neg = s < 0
            if (k > 0 && neg != prevNeg) zc += 1
            prevNeg = neg
            k += 1
          }
          AudioFeatureRow(m.media_id, n.toLong, energy, zc)
      }
    })
  }

  final case class AudioFingerprintRow(media_id: Long, fp_hi: Long, fp_lo: Long, n_samples: Long)

  /** Energy-window audio fingerprint — the audio analog of [[imageAHash]]:
    * the PCM stream (real `javax.sound` decode, as [[audioFeatures]]) is
    * pooled into 64 windows by `(k·64) div n` (every sample lands in
    * exactly one window), each window's energy Σs² accumulated exactly,
    * and one bit per window by cross-multiplication against the global
    * mean energy (`windowEnergy·N > totalEnergy·windowCount` — no IEEE
    * division). AMPLITUDE-INVARIANT by construction: scaling every sample
    * by c scales all energies by c², which cancels in the cross-multiply —
    * the audio counterpart of aHash's brightness invariance. Exact-equal
    * fingerprints are re-encoded/re-gained duplicates; near-dups are
    * Hamming neighbors via [[Dedup.hammingPairs]] on `fp_hi<<32 | fp_lo`.
    * Non-PCM-16 or unrecognized payloads answer (−1, −1, −1) — total.
    *
    * Scale: `mapPartitions`, one streaming decode per row, 64 longs of
    * state per payload, bytes dropped at this boundary, no shuffle.
    */
  def audioFingerprint(media: Dataset[MediaRecord]): Dataset[AudioFingerprintRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      pcm16leBytes(m.content) match {
        case None => AudioFingerprintRow(m.media_id, -1L, -1L, -1L)
        case Some(bytes) =>
          val n = bytes.length / 2
          if (n < 1) AudioFingerprintRow(m.media_id, -1L, -1L, -1L)
          else {
            val es  = new Array[Long](64)
            val cnt = new Array[Long](64)
            var total = 0L
            var k = 0
            while (k < n) {
              val s = ((bytes(2 * k) & 0xff) | (bytes(2 * k + 1) << 8)).toShort.toLong
              // k·64 in Long: with Int arithmetic a clip past ~33.5M
              // interleaved samples (~6 min stereo @ 44.1 kHz) overflows
              // negative. Mirrors the oracle's BIGINT (k*64)//n.
              val w = (k.toLong * 64 / n).toInt
              es(w) += s * s
              cnt(w) += 1
              total += s * s
              k += 1
            }
            var hash = 0L
            var w = 0
            while (w < 64) {
              // 128-bit cross-multiply (BigInt = DuckDB's HUGEINT): at
              // production audio lengths energy·n exceeds a Long
              // (n ~ 10⁷ samples → Σs²·n ~ 10²³)
              if (BigInt(es(w)) * n > BigInt(total) * cnt(w)) hash |= 1L << w
              w += 1
            }
            AudioFingerprintRow(m.media_id, hash >>> 32, hash & 0xffffffffL, n.toLong)
          }
      }
    })
  }

  /** End-to-end audio dedup with canonicalization — the audio member of
    * the keep-best trio ([[imageDedupKeepBest]] q244, [[videoDedupKeepBest]]
    * q253), composed the way a production pipeline orders the work:
    * EXACT-duplicate collapse FIRST (group by [[audioFingerprint]] — at
    * corpus scale most duplicates are byte-level re-uploads and the
    * distinct-fingerprint table is orders of magnitude smaller), then
    * Hamming near-dup pairing over the DISTINCT fingerprints only
    * ([[Dedup.hammingPairs]] on one node per fingerprint — the pairing
    * never sees per-clip fan-out, so a 20-copy fingerprint costs one node,
    * not 190 pairs), adaptive CC over the fingerprint graph, and one
    * keep-best window: the LONGEST clip (sample count, media-id tie-break)
    * across each merged cluster survives. Unlike q244/q253, singleton
    * fingerprint groups are kept (n_members ≥ 1): an exact-dup-only group
    * IS a dedup cluster even when its fingerprint pairs with nothing.
    *
    * Scale: PCM is decoded exactly once; the pair stage is
    * |distinct fps|-sized; membership maps clips back through two id-keyed
    * joins of fixed-width rows.
    */
  def audioDedupKeepBest(
      media: Dataset[MediaRecord],
      prefixBits: Int = 12,
      maxDist: Int = 3,
  ): DataFrame = {
    val fp = Lineage.truncate(audioFingerprint(media).toDF().where(col("fp_hi") >= 0))
    val groups = fp
      .groupBy(col("fp_hi"), col("fp_lo"))
      .agg(min(col("media_id")).as("node"))
    val nodes = groups
      .select(col("node"), shiftleft(col("fp_hi"), 32).bitwiseOR(col("fp_lo")).as("sig"))
    val pairs = Lineage.truncate(
      Dedup
        .hammingPairs(nodes, "node", "sig", bits = 64, prefixBits = prefixBits, maxDist = maxDist)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
    )
    val comps = Dedup.connectedComponentsAdaptive(pairs)
    val membership = fp
      .join(groups, Seq("fp_hi", "fp_lo"))
      .join(comps.withColumnRenamed("id", "node"), Seq("node"), "left")
      .withColumn("cluster", coalesce(col("comp"), col("node")))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("cluster")).orderBy(col("n_samples").desc, col("media_id"))
    membership
      .withColumn("__rn", row_number().over(w))
      .groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("n_members"),
        countDistinct(col("fp_hi"), col("fp_lo")).as("n_fps"),
        max(when(col("__rn") === 1, col("media_id"))).as("rep_media_id"),
        max(when(col("__rn") === 1, col("n_samples"))).as("rep_samples"),
      )
      .select(
        col("cluster").as("cluster_id"),
        col("rep_media_id"),
        col("rep_samples"),
        col("n_fps"),
        col("n_members"),
        (col("n_members") - 1).as("n_dropped"),
      )
  }

  /** "Resize" (stub): re-chunk payloads to a fixed-size thumbnail payload —
    * demonstrates a binary→binary transform keeping the typed schema.
    */
  def resize(media: Dataset[MediaRecord], maxBytes: Int): Dataset[MediaRecord] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map(m => m.copy(content = m.content.take(maxBytes))))
  }

  final case class FrameCountRow(media_id: Long, frames: Int)

  /** Per-payload REAL frame count via [[ImageIoCodec.frameCount]] (−1 for
    * payloads no installed reader recognizes — kept total, like
    * [[extractFeatures]]). The demux walks image blocks without
    * rasterizing, so this is the header-cost census shape that survives a
    * billion-payload corpus; `mapPartitions`, no shuffle, bytes dropped at
    * this boundary.
    */
  def frameCounts(media: Dataset[MediaRecord]): Dataset[FrameCountRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(
      _.map(m => FrameCountRow(m.media_id, ImageIoCodec.frameCount(m.content).getOrElse(-1)))
    )
  }

  /** One sampled frame's manifest row: where it lives in the payload plus a
    * REAL byte statistic (the stub stands in for decode only).
    */
  final case class FrameRow(media_id: Long, frame_idx: Int, off: Int, n_bytes: Int, byte_sum: Long)

  /** Frame-sampling manifest for video payloads: every `everyN`-th 256-byte
    * chunk becomes a frame row (the [[StubCodec.sampleFrames]] geometry,
    * with offsets) — the table a video pipeline materializes FIRST so the
    * expensive per-frame decode runs over an explicit, pruneable row set
    * (decode only the frames a downstream filter keeps) instead of inside
    * an opaque per-video loop. `byte_sum` is a real payload computation;
    * the decode itself stays behind the [[Codec]] seam.
    *
    * Scale: `mapPartitions` over the typed Dataset (the Scala analog of a
    * Pandas-batch UDF) — streamed, no per-row object churn beyond the
    * output rows, raw bytes dropped at this boundary (the manifest carries
    * offsets, not payloads).
    */
  def frameManifest(media: Dataset[MediaRecord], everyN: Int): Dataset[FrameRow] = {
    require(everyN >= 1, s"frameManifest: everyN must be >= 1: $everyN")
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(_.media_type == "video")
      .mapPartitions(_.flatMap { m =>
        m.content.grouped(256).zipWithIndex.collect {
          case (b, i) if i % everyN == 0 =>
            var s = 0L
            var k = 0
            while (k < b.length) { s += (b(k) & 0xff); k += 1 }
            FrameRow(m.media_id, i, i * 256, b.length, s)
        }
      })
  }
}
