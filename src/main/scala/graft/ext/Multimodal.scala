package graft.ext

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Sources

/** Multimodal (image/audio/video) column plumbing.
  *
  * Design: media lives in the lake as opaque `binary` columns + typed
  * metadata — the schema, partitioning, and batch shape are the real
  * engineering at 100 TB; the codec call is a leaf.
  *
  * Codec status per kind:
  *  - image: REAL PNG. The corpus carries genuine PNG bytes and the decode
  *    leaf runs `javax.imageio` (stock JDK) — actual pixel decode, actual
  *    resample on resize. Pixel content is a deterministic solid gray
  *    (level = top byte of one LCG step of the id) so the decoded luma is
  *    exactly replayable in the DuckDB oracle.
  *  - audio: REAL WAV. The corpus carries genuine RIFF/WAV PCM16 bytes and
  *    the decode leaf runs `javax.sound.sampled` (stock JDK) — actual
  *    container parse, actual frame decode; level stats come from the
  *    decoded samples. Sample content is a deterministic LCG tone so the
  *    decoded levels are exactly replayable in the DuckDB oracle.
  *  - video: REAL AVI. The corpus carries genuine RIFF/AVI containers with
  *    uncompressed 8-bpp palettized DIB frames (BI_RGB — raw bitmap bits,
  *    the one video format that needs no native codec), and the decode leaf
  *    is a real chunk walk ([[AviCodec]]): dims from the stream's
  *    BITMAPINFOHEADER, frame count from the movi chunks, every pixel level
  *    from palette[index] of the actual frame bits. Frame k is a solid gray
  *    at LCG step k+1 (the WAV tone's stream), so the decoded luma is
  *    exactly replayable in the DuckDB oracle. Swapping in a compressed
  *    codec (javacv/ffmpeg) means replacing ONLY this leaf.
  *
  * Scale notes:
  *  - Blobs skew partitions by *bytes*, not rows: [[balancedBySize]]
  *    size-tier-buckets on the byte count (sampling-free) so a 4 GB video
  *    and 4000 thumbnails don't land on one executor;
  *    [[balancedBinaryFiles]] is the deployment form over a binaryFile
  *    scan's `length` metadata.
  *  - Decoding is batched ([[Multimodal.DecodeBatch]] rows per codec call)
  *    through `mapPartitions` — the JVM twin of `mapInPandas`' Arrow batches:
  *    one native-lib init + one buffer per batch, not per row.
  *  - Feature vectors come back as `Array[Float]` ready for
  *    [[Similarity]]'s ANN; frame sampling explodes video → frame rows
  *    *before* the shuffle so downstream ops parallelize per frame.
  */
object Multimodal {

  val DecodeBatch = 64

  /** Fingerprint-decode op counter — LOCAL-MODE TEST INSTRUMENTATION only
    * (tasks share the driver JVM under local[*], so a plain atomic sees
    * every decode; on a real cluster it counts nothing and costs one
    * uncontended add per media file). FingerprintStoreSpec uses it to PROVE
    * the incremental release audit decodes zero bytes on a warm store —
    * the VERDICT r10 #6 acceptance bar — rather than inferring it from the
    * plan. */
  private[graft] val fpDecodeOps = new java.util.concurrent.atomic.AtomicLong

  /** The LCG top-byte stream for an id: steps 1..n of
    * s ← s·6364136223846793005 + 1442695040888963407. Shared by the WAV
    * sample tone and the AVI per-frame gray levels, so every modality's
    * decoded content is one replayable integer recurrence. */
  private[graft] def lcgLevels(id: Long, n: Int): Array[Int] = {
    var s = id * 6364136223846793005L + 1442695040888963407L
    Array.fill(n) {
      s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 56) & 0xff).toInt
    }
  }

  case class MediaFile(media_id: Long, kind: String, uri: String,
                       width: Int, height: Int, n_frames: Int,
                       content: Array[Byte])
  case class MediaFeatures(media_id: Long, kind: String, width: Int, height: Int,
                           n_pixels: Long, mean_luma: Double, embedding: Array[Float])
  case class Frame(media_id: Long, frame_idx: Int, content: Array[Byte])

  /** REAL image codec over `javax.imageio` (ships in the stock JDK).
    * Encode renders a solid-gray RGB frame and emits genuine PNG bytes;
    * decode reads the PNG and measures dims/luma/embedding from the ACTUAL
    * pixels — nothing is inferred from metadata. */
  object PngCodec {
    // ImageIO defaults to DISK-BACKED stream caches (useCache=true): every
    // encode/decode materializes a temp cache file under java.io.tmpdir —
    // at 32 decode threads that is 32-way contention on one directory and
    // a hidden disk write per blob. The streams here are all in-memory
    // byte arrays; cache in memory. JVM-wide, set once at codec init (each
    // executor JVM initializes this object on first use).
    ImageIO.setUseCache(false)

    /** Deterministic gray level for an id: the unsigned top byte of one LCG
      * step — the same generator the fake payloads use, so the DuckDB twin
      * reads it as `((id·A + C) mod 2⁶⁴) ÷ 2⁵⁶`. */
    def grayLevel(id: Long): Int =
      (((id * 6364136223846793005L + 1442695040888963407L) >>> 56) & 0xff).toInt

    def encode(id: Long, w: Int, h: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val g = grayLevel(id)
      val gfx = img.createGraphics()
      gfx.setColor(new java.awt.Color(g, g, g))
      gfx.fillRect(0, 0, w, h)
      gfx.dispose()
      toPng(img)
    }

    def toPng(img: BufferedImage): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    def decode(bytes: Array[Byte]): BufferedImage =
      ImageIO.read(new ByteArrayInputStream(bytes))

    /** Real pixel scan: mean of (r+g+b)/3 over every pixel, plus an 8-dim
      * column-stripe mean embedding (stripe i = pixels with x ≡ i mod 8). */
    def features(m: MediaFile): MediaFeatures = {
      val img = decode(m.content)
      val (w, h) = (img.getWidth, img.getHeight)
      var lumaSum = 0.0
      val stripe = new Array[Double](8)
      val stripeN = new Array[Long](8)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val l = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3.0
          lumaSum += l
          stripe(x % 8) += l; stripeN(x % 8) += 1
          x += 1
        }
        y += 1
      }
      val emb = Array.tabulate(8)(i =>
        if (stripeN(i) == 0) 0f else (stripe(i) / stripeN(i) / 255.0).toFloat)
      MediaFeatures(m.media_id, m.kind, w, h, w.toLong * h,
        lumaSum / (w.toLong * h), emb)
    }

    /** Real resample: redraw into the target geometry, re-encode as PNG. */
    def resize(m: MediaFile, w1: Int, h1: Int): MediaFile = {
      val img = decode(m.content)
      val scaled = new BufferedImage(w1, h1, BufferedImage.TYPE_INT_RGB)
      val gfx = scaled.createGraphics()
      gfx.drawImage(img, 0, 0, w1, h1, null)
      gfx.dispose()
      m.copy(width = w1, height = h1, content = toPng(scaled))
    }
  }

  /** REAL audio codec over `javax.sound.sampled` (ships in the stock JDK —
    * RIFF/WAV PCM needs no native libs). Encode emits a genuine 16-bit mono
    * PCM WAV whose samples are an LCG byte tone; decode parses the RIFF
    * container through `AudioSystem` and measures level stats from the
    * ACTUAL decoded frames. The sample bytes replay the same LCG stream the
    * fake payload used (steps 1..[[WavCodec.Samples]]), so the DuckDB twin's
    * level arithmetic is unchanged. */
  object WavCodec {
    val Samples = 64
    val SampleRate = 8000

    /** The JVM's WAV-capable AudioFileReader, resolved ONCE through the
      * public SPI. The `AudioSystem.getAudioInputStream` facade re-resolves
      * providers through a `synchronized` STATIC on every call
      * (JDK13Services.getProviders) — a JVM-global lock all decode threads
      * serialize on; measured on the sf1 fixture: the audio arm ran 9.7 s
      * at local[8] but 11.8 s at local[32] (negative thread scaling) until
      * this bypass. Same reader object the facade would pick (probed with
      * a real RIFF header), so the decode itself is unchanged — the
      * container parse stays `javax.sound`. The shared instance is safe:
      * file readers are stateless (a fresh stream per call). */
    private lazy val wavReader: javax.sound.sampled.spi.AudioFileReader = {
      import scala.jdk.CollectionConverters._
      val probe = encodeLevels(Array.fill(4)(0))
      java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileReader])
        .asScala.find { r =>
          try { r.getAudioInputStream(new ByteArrayInputStream(probe)).close(); true }
          catch { case scala.util.control.NonFatal(_) => false }
        }
        .getOrElse(sys.error("no WAV-capable AudioFileReader installed"))
    }

    /** Real RIFF/WAV container parse through the once-resolved reader. */
    def open(bytes: Array[Byte]): javax.sound.sampled.AudioInputStream =
      wavReader.getAudioInputStream(new ByteArrayInputStream(bytes))

    /** Genuine RIFF/WAV: 44-byte canonical header + PCM16LE mono frames.
      * Sample k = (byte_k − 128)·256, so the decoded 8-bit level is byte_k. */
    def encode(id: Long): Array[Byte] = encodeLevels(lcgLevels(id, Samples))

    /** RIFF/WAV from an explicit 8-bit level stream — shared by the feature
      * corpus ([[encode]]) and the audio near-dup corpus
      * ([[Multimodal.audioDupCorpus]], which perturbs one sample). */
    def encodeLevels(levels: Array[Int]): Array[Byte] = {
      val data = levels.flatMap { b =>
        val s = (b - 128) * 256
        Seq((s & 0xff).toByte, ((s >> 8) & 0xff).toByte)
      }
      val out = java.nio.ByteBuffer.allocate(44 + data.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("RIFF".getBytes("US-ASCII")).putInt(36 + data.length)
        .put("WAVE".getBytes("US-ASCII"))
      out.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1) // PCM
        .putShort(1) // mono
        .putInt(SampleRate)
        .putInt(SampleRate * 2) // byte rate
        .putShort(2)            // block align
        .putShort(16)           // bits/sample
      out.put("data".getBytes("US-ASCII")).putInt(data.length).put(data)
      out.array()
    }

    /** Real container parse + frame decode: `AudioSystem` reads the RIFF
      * header (format, rate, frame count are taken from the DECODER, not
      * from our metadata), then levels come from the actual PCM samples. */
    def features(m: MediaFile): MediaFeatures = {
      val ais = open(m.content)
      val fmt = ais.getFormat
      require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
        s"unexpected WAV layout: $fmt")
      val nFrames = ais.getFrameLength.toInt
      val raw = ais.readAllBytes()
      val stripe = new Array[Double](8)
      val stripeN = new Array[Long](8)
      var lumaSum = 0.0
      var k = 0
      while (k < nFrames) {
        val lo = raw(2 * k) & 0xff
        val hi = raw(2 * k + 1).toInt // sign-carrying high byte
        val sample = (hi << 8) | lo
        val level = (sample >> 8) + 128 // back to the 8-bit grid
        lumaSum += level
        stripe(k % 8) += level; stripeN(k % 8) += 1
        k += 1
      }
      val emb = Array.tabulate(8)(j =>
        if (stripeN(j) == 0) 0f else (stripe(j) / 255.0).toFloat)
      MediaFeatures(m.media_id, m.kind, m.width, m.height,
        nFrames.toLong, lumaSum / nFrames, emb)
    }
  }

  /** REAL video codec: uncompressed RIFF/AVI with 8-bpp palettized DIB
    * frames — the one video container a stock JVM can both emit and decode
    * for real, because BI_RGB frames are raw bitmap bits, not a compressed
    * stream. Encode writes a genuine AVI (avih/strh/strf headers, identity
    * grayscale palette, one `00db` keyframe chunk per frame in bottom-up
    * DIB row order, an idx1 index — standard players accept it). Decode is
    * a real chunk walk: dims come from the stream's BITMAPINFOHEADER,
    * frames from the movi `00db`/`00dc` chunks, and every pixel level from
    * palette[index] of the ACTUAL frame bits — nothing is read from our
    * row metadata. Corpus frame k is a solid gray at [[lcgLevels]] step
    * k+1, so the DuckDB twin replays the decoded luma exactly. Swapping in
    * a compressed codec (javacv/ffmpeg) replaces only this leaf. */
  object AviCodec {
    val Fps = 10

    /** DIB rows pad to 4-byte boundaries. */
    def stride(w: Int): Int = (w + 3) & ~3

    /** Genuine AVI container from per-frame 8-bpp index rasters
      * (`frames(k)` = w·h palette indices, row-major TOP-DOWN; the encoder
      * flips to the DIB's bottom-up storage order). Palette is the identity
      * gray ramp, so index == gray level. */
    def encodeRaster(w: Int, h: Int, frames: Array[Array[Byte]]): Array[Byte] = {
      val n = frames.length
      val st = stride(w)
      val frameBytes = st * h // st is a multiple of 4 → chunks stay word-aligned
      val strfLen = 40 + 256 * 4
      val strlLen = 4 + (8 + 56) + (8 + strfLen)
      val hdrlLen = 4 + (8 + 56) + (8 + strlLen)
      val moviLen = 4 + n * (8 + frameBytes)
      val idxLen = 16 * n
      val riffLen = 4 + (8 + hdrlLen) + (8 + moviLen) + (8 + idxLen)
      val bb = java.nio.ByteBuffer.allocate(8 + riffLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def cc(s: String): Unit = { bb.put(s.getBytes("US-ASCII")); () }
      cc("RIFF"); bb.putInt(riffLen); cc("AVI ")
      cc("LIST"); bb.putInt(hdrlLen); cc("hdrl")
      cc("avih"); bb.putInt(56)
      bb.putInt(1000000 / Fps) // dwMicroSecPerFrame
        .putInt(frameBytes * Fps) // dwMaxBytesPerSec
        .putInt(0)    // dwPaddingGranularity
        .putInt(0x10) // AVIF_HASINDEX
        .putInt(n)    // dwTotalFrames
        .putInt(0)    // dwInitialFrames
        .putInt(1)    // dwStreams
        .putInt(frameBytes) // dwSuggestedBufferSize
        .putInt(w).putInt(h)
        .putInt(0).putInt(0).putInt(0).putInt(0) // dwReserved
      cc("LIST"); bb.putInt(strlLen); cc("strl")
      cc("strh"); bb.putInt(56)
      cc("vids"); cc("DIB ")
      bb.putInt(0) // dwFlags
        .putShort(0).putShort(0) // wPriority, wLanguage
        .putInt(0)   // dwInitialFrames
        .putInt(1)   // dwScale
        .putInt(Fps) // dwRate
        .putInt(0)   // dwStart
        .putInt(n)   // dwLength
        .putInt(frameBytes) // dwSuggestedBufferSize
        .putInt(-1)  // dwQuality: driver default
        .putInt(0)   // dwSampleSize
        .putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort) // rcFrame
      cc("strf"); bb.putInt(strfLen)
      bb.putInt(40).putInt(w).putInt(h)
        .putShort(1).putShort(8) // biPlanes, biBitCount
        .putInt(0)               // BI_RGB
        .putInt(frameBytes)      // biSizeImage
        .putInt(0).putInt(0)     // pels/meter
        .putInt(256).putInt(0)   // biClrUsed, biClrImportant
      var i = 0
      while (i < 256) { // RGBQUAD palette: (b, g, r, reserved) identity gray
        bb.put(i.toByte).put(i.toByte).put(i.toByte).put(0.toByte); i += 1
      }
      val moviStart = bb.position() + 8 // position of the 'movi' fourcc
      cc("LIST"); bb.putInt(moviLen); cc("movi")
      val offsets = new Array[Int](n)
      frames.zipWithIndex.foreach { case (f, k) =>
        require(f.length == w * h, s"raster ${f.length} != ${w}x$h")
        offsets(k) = bb.position() - moviStart
        cc("00db"); bb.putInt(frameBytes)
        var row = h - 1
        while (row >= 0) {
          bb.put(f, row * w, w)
          var p = w
          while (p < st) { bb.put(0.toByte); p += 1 }
          row -= 1
        }
      }
      cc("idx1"); bb.putInt(idxLen)
      offsets.foreach { o =>
        cc("00db"); bb.putInt(0x10).putInt(o).putInt(frameBytes) // AVIIF_KEYFRAME
      }
      bb.array()
    }

    /** Corpus entry: frame k (0-based) is a solid gray at LCG step k+1. */
    def encode(id: Long, w: Int, h: Int, nFrames: Int): Array[Byte] =
      encodeRaster(w, h,
        lcgLevels(id, nFrames).map(l => Array.fill(w * h)(l.toByte)))

    /** Decoded container: stream dims + gray palette + the byte range of
      * each movi frame chunk's bits inside `bytes`. */
    case class Parsed(width: Int, height: Int, palette: Array[Int],
                      frames: Vector[(Int, Int)], totalFrames: Int,
                      bytes: Array[Byte])

    /** Real chunk walk over the RIFF tree. Fails loudly on anything that
      * is not an uncompressed 8-bpp AVI — the boundary where a compressed
      * codec would plug in. */
    def parse(bytes: Array[Byte]): Parsed = {
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fourcc(off: Int) = new String(bytes, off, 4, "US-ASCII")
      require(fourcc(0) == "RIFF" && fourcc(8) == "AVI ",
        s"not a RIFF/AVI container: ${fourcc(0)}/${fourcc(8)}")
      var width = 0; var height = 0; var total = 0
      var palette: Array[Int] = null
      val frames = Vector.newBuilder[(Int, Int)]
      def walk(start: Int, end: Int): Unit = {
        var off = start
        while (off + 8 <= end) {
          val id = fourcc(off)
          val len = bb.getInt(off + 4)
          val body = off + 8
          id match {
            case "LIST" => walk(body + 4, body + len)
            case "avih" => total = bb.getInt(body + 16) // dwTotalFrames
            case "strf" =>
              require(bb.getInt(body) == 40, "expected BITMAPINFOHEADER")
              width = bb.getInt(body + 4)
              height = bb.getInt(body + 8)
              val bpp = bb.getShort(body + 14).toInt
              val compression = bb.getInt(body + 16)
              require(bpp == 8 && compression == 0,
                s"unsupported video format: bpp=$bpp compression=$compression")
              palette = Array.tabulate(256) { i =>
                val b = bytes(body + 40 + 4 * i) & 0xff
                val g = bytes(body + 40 + 4 * i + 1) & 0xff
                val r = bytes(body + 40 + 4 * i + 2) & 0xff
                (r + g + b) / 3
              }
            case "00db" | "00dc" => frames += ((body, len))
            case _ => () // idx1 and friends: not needed for decode
          }
          off = body + len + (len & 1) // RIFF chunks are word-aligned
        }
      }
      walk(12, math.min(bytes.length, 8 + bb.getInt(4)))
      val fs = frames.result()
      require(width > 0 && height > 0 && fs.nonEmpty, "no video stream found")
      Parsed(width, height, palette, fs, total, bytes)
    }

    /** Frame k's pixel raster back in row-major TOP-DOWN order (undoes the
      * DIB bottom-up storage + row padding). */
    def raster(p: Parsed, k: Int): Array[Byte] = {
      val (off, len) = p.frames(k)
      val st = stride(p.width)
      require(len >= st * p.height, s"frame $k truncated: $len < ${st * p.height}")
      val out = new Array[Byte](p.width * p.height)
      var y = 0
      while (y < p.height) {
        System.arraycopy(p.bytes, off + (p.height - 1 - y) * st, out, y * p.width, p.width)
        y += 1
      }
      out
    }

    /** Real decode: per-pixel palette lookup over every frame's actual
      * bits. n_pixels = decoded w·h·frames; embedding dim j = mean level of
      * frames ≡ j (mod 8), scaled to [0,1] — the temporal twin of the PNG
      * codec's spatial stripes. */
    def features(m: MediaFile): MediaFeatures = {
      val p = parse(m.content)
      val st = stride(p.width)
      val stripe = new Array[Double](8)
      val stripeN = new Array[Long](8)
      var lumaSum = 0.0
      p.frames.zipWithIndex.foreach { case ((off, _), k) =>
        var sum = 0L
        var y = 0
        while (y < p.height) {
          var x = 0
          while (x < p.width) {
            sum += p.palette(p.bytes(off + y * st + x) & 0xff)
            x += 1
          }
          y += 1
        }
        val frameMean = sum.toDouble / (p.width.toLong * p.height)
        stripe(k % 8) += frameMean; stripeN(k % 8) += 1
        lumaSum += sum
      }
      val nPix = p.width.toLong * p.height * p.frames.length
      val emb = Array.tabulate(8)(j =>
        if (stripeN(j) == 0) 0f else (stripe(j) / stripeN(j) / 255.0).toFloat)
      MediaFeatures(m.media_id, m.kind, p.width, p.height, nPix, lumaSum / nPix, emb)
    }

    /** Real resample: nearest-neighbor over each frame's decoded raster,
      * re-encoded at the new geometry with the same palette. */
    def resize(m: MediaFile, w1: Int, h1: Int): MediaFile = {
      val p = parse(m.content)
      val out = Array.tabulate(p.frames.length) { k =>
        val src = raster(p, k)
        val dst = new Array[Byte](w1 * h1)
        var y = 0
        while (y < h1) {
          val sy = y * p.height / h1
          var x = 0
          while (x < w1) {
            dst(y * w1 + x) = src(sy * p.width + x * p.width / w1)
            x += 1
          }
          y += 1
        }
        dst
      }
      m.copy(width = w1, height = h1, content = encodeRaster(w1, h1, out))
    }
  }

  /** Batch dispatch across the per-kind codecs — every kind decodes for
    * real (PNG pixels, WAV frames, AVI chunk walk). One codec entry per
    * batch. */
  private def decodeBatch(batch: Seq[MediaFile]): Seq[MediaFeatures] = {
    val (images, rest) = batch.partition(_.kind == "image")
    val (audio, video) = rest.partition(_.kind == "audio")
    images.map(PngCodec.features) ++ audio.map(WavCodec.features) ++
      video.map(AviCodec.features)
  }

  /** Synthetic media corpus derived from the documents table (deterministic:
    * dims/kind are functions of doc_id). Stands in for `spark.read.format
    * ("binaryFile")` + a metadata join in a real lake. EVERY kind carries a
    * genuine container: PNG, WAV PCM16, uncompressed AVI. Video dims use a
    * smaller grid than images (48..160 × 36..100) because every frame is
    * raw bits — the corpus stays fixture-sized while still crossing the
    * [[ResizeBox]] on the larger dims so downscales are exercised. */
  def mediaCorpus(spark: SparkSession, dir: String): Dataset[MediaFile] = {
    import spark.implicits._
    Sources.documents(spark, dir).select("doc_id").as[Long].map { id =>
      val kind = (id % 3) match {
        case 0 => "image"; case 1 => "audio"; case _ => "video"
      }
      val w = if (kind == "video") 48 + (id % 8).toInt * 16 else 64 + (id % 8).toInt * 32
      val h = if (kind == "video") 36 + (id % 5).toInt * 16 else 64 + (id % 5).toInt * 32
      val frames = if (kind == "video") 8 + (id % 4).toInt else 1
      val bytes = kind match {
        case "image" => PngCodec.encode(id, w, h)
        case "audio" => WavCodec.encode(id)
        case _       => AviCodec.encode(id, w, h, frames)
      }
      MediaFile(id, kind, s"lake://media/$kind/$id", w, h, frames, bytes)
    }
  }

  /** Size tier of a byte count: floor(log2(bytes+1)) — members of a tier are
    * within 2× of each other, so spreading each tier uniformly bounds any
    * partition's byte excess by one tier-member. Pure arithmetic on the
    * size value: deriving the partition key needs NO sampling pass and NO
    * content read when the size is metadata. */
  private[graft] def sizeTier(bytes: Column): Column =
    floor(log(2.0, bytes.cast("double") + 1)).cast("int")

  /** Repartition so each task sees a similar BYTE volume (blob-size skew is
    * the failure mode; row-count balance is meaningless for media) —
    * SAMPLING-FREE: deterministic size-tier bucketing — one plain hash
    * exchange on (media_id, tier), nothing else.
    *
    * Through r11 this was `repartitionByRange(length(content))`, and the
    * committed SCALING_r11.json measured why that cannot ship:
    * RangePartitioner SAMPLES its input to find bounds, so the upstream
    * pipeline (at deployment the 100-TB blob read; on the fixture the
    * corpus encode) evaluated ~twice, and MORE output partitions pushed
    * more work into the un-parallelizable sampling machinery
    * (media_phash_pairs sf1 min 17.3 s at 8 parts → 30.7 s at 32). The
    * size-tier key needs no bounds: each tier (files within 2× of each
    * other) spreads uniformly by hash, so expected bytes/partition are
    * equal and the worst-case imbalance is one largest-tier member —
    * the same guarantee range-partitioning on cumulative size buys, minus
    * its extra evaluation pass. `sizeBytes` SHOULD be a metadata column
    * ([[balancedBinaryFiles]]: binaryFile's `length`, or a lake-manifest
    * size); the `length(content)` default below is fixture convenience —
    * even there the upstream now evaluates exactly once (in the exchange's
    * own map stage). */
  def balancedBySize(media: Dataset[MediaFile], partitions: Int,
                     sizeBytes: Column): Dataset[MediaFile] =
    media.repartition(partitions, col("media_id"), sizeTier(sizeBytes))

  /** [[balancedBySize]] with the size computed from the carried blob —
    * fixture/synthesized-corpus convenience. Deployment callers with a real
    * file scan should partition on the metadata size instead
    * ([[balancedBinaryFiles]]); here the content evaluates once in the
    * exchange map stage (hash partitioning has no sampling pass). */
  def balancedByBytes(media: Dataset[MediaFile], partitions: Int): Dataset[MediaFile] =
    balancedBySize(media, partitions, length(col("content")))

  /** DEPLOYMENT byte-balancer over a `spark.read.format("binaryFile")` scan
    * (columns: path, modificationTime, length, content): the partition key
    * derives from `length` — FILE-STATUS METADATA, no blob bytes touched —
    * and `path` stands in for the media id. This is the code path the
    * SCALING_r11 guidance prescribed ("partition on a size column of a
    * materialized scan, never on a computed length"): the scan evaluates
    * once, in the exchange map stage, with zero sampling. */
  def balancedBinaryFiles(files: DataFrame, partitions: Int): DataFrame =
    files.repartition(partitions, col("path"), sizeTier(col("length")))

  /** Decode parallelism for the batch media arms: one byte-balanced
    * partition per available core — bare defaultParallelism, matching the
    * streaming gates ([[graft.streaming.Streams]] passes the same), so
    * batch and streaming agree at ANY cluster size (ADVICE r11 dropped the
    * r11 shuffle.partitions clamp, which silently capped batch decode at
    * 200 tasks on large clusters). Through r10 this was a hardcoded 8:
    * every batch decode ran in exactly 8 tasks regardless of cluster size —
    * the one knob that would have serialized the byte-bound decode floor
    * on a real cluster. Partition count never changes results here: dup
    * pairs come from key-joins on fingerprints and every downstream sum is
    * integer or decimal-exact (order-free). */
  def decodeParts(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  /** Batched decode/feature-extract: the mapInPandas twin — each partition's
    * rows are fed to the codec [[DecodeBatch]] at a time. Every kind runs a
    * REAL decode (`javax.imageio` / `javax.sound.sampled` / the AVI chunk
    * walk). */
  def extractFeatures(media: Dataset[MediaFile]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(DecodeBatch).flatMap(decodeBatch))
  }

  /** Batched resize to a bounding box, preserving aspect ratio (the
    * thumbnail/normalization stage before feature extraction). Image and
    * video rows are resampled FOR REAL (decode → redraw/NN-sample →
    * re-encode); audio keeps its stream (display geometry is metadata).
    * Same batched `mapPartitions` shape as [[extractFeatures]]: one codec
    * init per batch, not per row. */
  def resize(media: Dataset[MediaFile], maxW: Int, maxH: Int): Dataset[MediaFile] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(DecodeBatch).flatMap(_.map { m =>
      val scale = math.min(1.0, math.min(maxW.toDouble / m.width, maxH.toDouble / m.height))
      val (w, h) = (math.max(1, (m.width * scale).toInt), math.max(1, (m.height * scale).toInt))
      if (w == m.width && h == m.height) m
      else if (m.kind == "image") PngCodec.resize(m, w, h)
      else if (m.kind == "audio") m.copy(width = w, height = h) // display
      // geometry is metadata for audio; the real WAV stream is untouched
      else AviCodec.resize(m, w, h)
    }))
  }

  /** Sample every `nth` frame of video rows into per-frame records (explode
    * before shuffle → per-frame parallelism downstream). Video frames are
    * REALLY sliced out of the container: each record carries a standalone
    * single-frame AVI of that frame's actual bits, independently decodable
    * downstream. Non-video rows pass through as their single frame 0. */
  def sampleFrames(media: Dataset[MediaFile], nth: Int): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      if (m.kind == "video") {
        val p = AviCodec.parse(m.content)
        (0 until p.frames.length by nth).map { i =>
          Frame(m.media_id, i,
            AviCodec.encodeRaster(p.width, p.height, Array(AviCodec.raster(p, i))))
        }
      } else Seq(Frame(m.media_id, 0, m.content))
    }
  }

  /** Bounding box for [[resizeSummary]]'s normalization pass. */
  val ResizeBox = 128

  /** The resize stage as a queryable table: per kind, the post-resize
    * geometry and how many blobs the [[ResizeBox]]² bounding box actually
    * shrank. For images the resample is a REAL decode/redraw/encode; the
    * GEOMETRY (scale factor, floor-to-int, 1-pixel floor) is the verified
    * contract — `n_downscaled` compares against the original dims recomputed
    * from `media_id`, so the check is non-vacuous at every SF. */
  def resizeSummary(spark: SparkSession, dir: String): DataFrame = {
    val isVideo = col("kind") === "video"
    val origW = when(isVideo, lit(48) + (col("media_id") % 8).cast("int") * 16)
      .otherwise(lit(64) + (col("media_id") % 8).cast("int") * 32)
    val origH = when(isVideo, lit(36) + (col("media_id") % 5).cast("int") * 16)
      .otherwise(lit(64) + (col("media_id") % 5).cast("int") * 32)
    resize(mediaCorpus(spark, dir), ResizeBox, ResizeBox).toDF()
      .groupBy("kind")
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("width").cast("long")).as("sum_width"),
        sum(col("height").cast("long")).as("sum_height"),
        count(when(col("width") < origW || col("height") < origH, 1))
          .as("n_downscaled"))
  }

  /** The media pipeline as a queryable table: features joined back to doc
    * language (metadata join pattern), aggregated per kind. Every kind's
    * stats come from a real decode: PNG pixel scan, WAV frame decode
    * (n_pixels = decoded frame count), AVI chunk walk (n_pixels = decoded
    * w·h·frames, luma from actual frame bits). */
  def kindSummary(spark: SparkSession, dir: String): DataFrame = {
    import graft.engine.Num._
    extractFeatures(balancedByBytes(mediaCorpus(spark, dir), decodeParts(spark))).toDF()
      .groupBy("kind")
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("n_pixels")).as("total_pixels"),
        r4(dsum(col("mean_luma")) / count(lit(1))).as("avg_luma"))
  }

  // ------------------------- image perceptual near-dup (average hash) ----

  /** Perceptual-hash grid: the decoded raster is downsampled to
    * [[PhashTiles]]×[[PhashTiles]] tile means → one bit per tile → a 64-bit
    * average hash (aHash — same family as pHash/dHash; the mean-threshold
    * variant keeps every step exact-integer so the DuckDB twin replays the
    * hash bit-for-bit). */
  val PhashTiles = 8
  /** Tile edge in pixels for the synthetic phash corpus (canvas 64×64). */
  val PhashTilePx = 8
  /** Bands for the Hamming-LSH candidate join: 4 bands × 16 bits over the
    * 64-bit hash. Pigeonhole: any pair within Hamming distance
    * [[PhashHammingMax]] = 3 differs in ≤3 bands, so at least one band
    * matches exactly — candidate generation provably misses nothing the
    * verify step would keep. */
  val PhashBands = 4
  val PhashHammingMax = 3

  /** Content id for the synthetic phash corpus: every 10th-ish image
    * (id % 10 == 7) re-renders the TILE STREAM of id−4 — a planted
    * near-duplicate cluster (the variant perturbs one tile by +1 gray
    * level, below), so the fixture contains true near-identical pairs at
    * every SF, exactly replayable by the oracle. */
  private[graft] def phashContentId(id: Long): Long =
    if (id % 10 == 7) id - 4 else id

  /** Render the tiled PNG for a content id: an 8×8 grid of solid tiles,
    * tile t at gray level = LCG step t+1 of `cid` (the same generator the
    * WAV/AVI payloads replay); the near-dup variant lifts tile 0 by +1
    * (capped at 255) — pixels virtually identical to the template, hash
    * within a couple of bits. Real PNG bytes; decode is a real pixel scan. */
  private[graft] def encodePhashTiles(cid: Long, perturb: Boolean): Array[Byte] = {
    val px = PhashTiles * PhashTilePx
    val img = new BufferedImage(px, px, BufferedImage.TYPE_INT_RGB)
    val lv = lcgLevels(cid, PhashTiles * PhashTiles)
    if (perturb) lv(0) = math.min(255, lv(0) + 1)
    val gfx = img.createGraphics()
    var t = 0
    while (t < PhashTiles * PhashTiles) {
      val g = lv(t)
      gfx.setColor(new java.awt.Color(g, g, g))
      gfx.fillRect((t % PhashTiles) * PhashTilePx,
        (t / PhashTiles) * PhashTilePx, PhashTilePx, PhashTilePx)
      t += 1
    }
    gfx.dispose()
    PngCodec.toPng(img)
  }

  /** Synthetic image corpus for the perceptual near-dup path: one tiled
    * PNG per doc_id ([[encodePhashTiles]]), planted near-dup pairs via
    * [[phashContentId]]. Same role as [[mediaCorpus]]: stands in for a
    * binaryFile scan of an image lake. */
  def phashCorpus(spark: SparkSession, dir: String): Dataset[MediaFile] = {
    import spark.implicits._
    val px = PhashTiles * PhashTilePx
    Sources.documents(spark, dir).select("doc_id").as[Long].map { id =>
      MediaFile(id, "image", s"lake://phash/$id", px, px, 1,
        encodePhashTiles(phashContentId(id), perturb = id % 10 == 7))
    }
  }

  case class PhashRow(media_id: Long, phash: Long)

  /** REAL decode → 64-bit average hash, batched like [[extractFeatures]]
    * (map-only; no shuffle): full pixel scan accumulating per-tile luma
    * sums (tile of (x,y) = (x·T/w, y·T/h) — any raster geometry), integer
    * tile means (exact for uniform tiles; floor-mean otherwise), then
    * bit t = [T²·level_t > Σlevels] packed little-endian into one long.
    * The comparison is cross-multiplied so the mean threshold never
    * touches a float. */
  def phashOf(media: Dataset[MediaFile]): Dataset[PhashRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(DecodeBatch).flatMap(_.map { m =>
      fpDecodeOps.incrementAndGet()
      val img = PngCodec.decode(m.content)
      val (w, h) = (img.getWidth, img.getHeight)
      val tl = PhashTiles
      val sums = new Array[Long](tl * tl)
      val cnts = new Array[Long](tl * tl)
      var y = 0
      while (y < h) {
        val ty = y * tl / h
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          // luma = (r+g+b)/3; for the gray fixtures r==g==b so the red
          // channel IS the exact level — keep the general mean anyway
          sums(ty * tl + x * tl / w) +=
            (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
          cnts(ty * tl + x * tl / w) += 1
          x += 1
        }
        y += 1
      }
      val lvl = Array.tabulate(tl * tl)(i => sums(i) / cnts(i))
      val total = lvl.sum
      var hash = 0L
      var i = 0
      while (i < tl * tl) {
        if (lvl(i) * tl * tl > total) hash |= (1L << i)
        i += 1
      }
      PhashRow(m.media_id, hash)
    }))
  }

  /** Hamming-banded near-dup PAIRS over a hashed corpus — the image-side
    * sibling of [[Dedup]]'s banded text machinery: each hash explodes into
    * [[PhashBands]] (band, 16-bit value) keys, candidates are pairs sharing
    * ≥1 band (ONE shuffle on the band key — never all-pairs), and the
    * exact verify is a single `bit_count(xor)` per candidate. Output keeps
    * every candidate with its exact Hamming distance + the ≤
    * [[PhashHammingMax]] verdict, so the band-collision noise floor is
    * auditable.
    *
    * Scale shape: candidates within Hamming ≤3 are CAUGHT BY CONSTRUCTION
    * (pigeonhole over the 4 bands); random collisions per band bucket grow
    * with n²/2¹⁶ per band, so at 10⁹+ images widen the band count/width or
    * cap bucket df exactly like [[Dedup]]'s shingle df-cap — the banding
    * here is the calibration point, not a fixed constant. */
  def phashPairsOf(hashes: Dataset[PhashRow]): DataFrame = {
    val bands = phashBands(hashes.toDF())
    val left = bands.select(col("b"), col("v"),
      col("media_id").as("media_id_a"), col("phash").as("pa"))
    val right = bands.select(col("b"), col("v"),
      col("media_id").as("media_id_b"), col("phash").as("pb"))
    left.join(right, Seq("b", "v"))
      .where(col("media_id_a") < col("media_id_b"))
      .select("media_id_a", "media_id_b", "pa", "pb").distinct()
      .withColumn("hamming_dist",
        bit_count(col("pa").bitwiseXOR(col("pb"))).cast("long"))
      .withColumn("is_near", col("hamming_dist") <= PhashHammingMax)
      .select("media_id_a", "media_id_b", "hamming_dist", "is_near")
  }

  /** The Hamming-LSH band explode of a hashed frame: (media_id, phash, b,
    * v) with v = 16-bit band value b of the 64-bit hash. Shared by the
    * batch pair scan above and the streaming image-ingest gate
    * ([[graft.streaming.Streams.phashIngest]]), so their candidate
    * generation agrees structurally. */
  private[graft] def phashBands(hashes: DataFrame): DataFrame =
    hashes.select(col("media_id"), col("phash"),
      explode(array((0 until PhashBands).map(b =>
        struct(lit(b).as("b"),
          shiftright(col("phash"), 16 * b).bitwiseAND(lit(65535L)).as("v"))): _*))
        .as("bv"))
      .select(col("media_id"), col("phash"),
        col("bv").getField("b").as("b"), col("bv").getField("v").as("v"))

  /** Registered harness: hash the synthetic tiled corpus, band, verify. */
  def phashPairs(spark: SparkSession, dir: String): DataFrame =
    phashPairsOf(phashOf(balancedByBytes(phashCorpus(spark, dir), decodeParts(spark))))

  // ------------------- audio perceptual near-dup (energy fingerprint) ----

  /** Audio fingerprint geometry: the decoded PCM stream is split into
    * [[AudioFpWindows]] equal time windows; bit j of the 64-bit fingerprint
    * is [window-j energy > clip mean] — the energy-envelope analogue of the
    * image average hash, and the same family as published audio
    * fingerprints (Haitsma-Kalker energy-band signs), kept exact-integer
    * so the DuckDB twin replays it bit-for-bit. */
  val AudioFpWindows = 64
  /** Samples per window in the synthetic near-dup corpus (clip = 256). */
  val AudioFpWindowSamples = 4

  /** Synthetic audio corpus for the near-dup path: one REAL WAV per
    * doc_id; every id % 10 == 7 re-renders the SAMPLE STREAM of id−4
    * (the [[phashContentId]] planting scheme, shared with the image
    * fixture) with sample 0 lifted one level (capped 255) — a true
    * near-identical clip pair at every SF, exactly replayable in SQL. */
  def audioDupCorpus(spark: SparkSession, dir: String): Dataset[MediaFile] = {
    import spark.implicits._
    val n = AudioFpWindows * AudioFpWindowSamples
    Sources.documents(spark, dir).select("doc_id").as[Long].map { id =>
      val lv = lcgLevels(phashContentId(id), n)
      if (id % 10 == 7) lv(0) = math.min(255, lv(0) + 1)
      MediaFile(id, "audio", s"lake://audio/$id", 0, 0, n,
        WavCodec.encodeLevels(lv))
    }
  }

  /** REAL WAV decode → 64-bit energy fingerprint, batched like
    * [[phashOf]] (map-only; no shuffle): `AudioSystem` parses the RIFF
    * container, every PCM16 frame folds into its time window's level sum
    * (window of frame k = k·W/n — any clip length), then bit j =
    * [W·wsum_j > Σlevels], cross-multiplied so the mean threshold never
    * touches a float. Emits [[PhashRow]] so the Hamming-banded pair scan
    * ([[phashPairsOf]]) is shared verbatim with the image path. */
  def audioFingerprintOf(media: Dataset[MediaFile]): Dataset[PhashRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(DecodeBatch).flatMap(_.map { m =>
      fpDecodeOps.incrementAndGet()
      val ais = WavCodec.open(m.content)
      val fmt = ais.getFormat
      require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
        s"unexpected WAV layout: $fmt")
      val nFrames = ais.getFrameLength.toInt
      val raw = ais.readAllBytes()
      val wsum = new Array[Long](AudioFpWindows)
      var total = 0L
      var k = 0
      while (k < nFrames) {
        val lo = raw(2 * k) & 0xff
        val hi = raw(2 * k + 1).toInt // sign-carrying high byte
        val level = ((((hi << 8) | lo) >> 8) + 128).toLong
        wsum(k * AudioFpWindows / nFrames) += level
        total += level
        k += 1
      }
      var hash = 0L
      var j = 0
      while (j < AudioFpWindows) {
        if (wsum(j) * AudioFpWindows > total) hash |= (1L << j)
        j += 1
      }
      PhashRow(m.media_id, hash)
    }))
  }

  /** Registered harness: fingerprint the synthetic WAV corpus through the
    * real codec, then the SHARED Hamming-banded near-dup pair scan —
    * text ([[Dedup]]), image ([[phashPairs]]) and audio dedup all ride the
    * same banded candidate machinery. */
  def audioDupPairs(spark: SparkSession, dir: String): DataFrame =
    phashPairsOf(audioFingerprintOf(balancedByBytes(audioDupCorpus(spark, dir), decodeParts(spark))))

  // ------------------ video perceptual near-dup (temporal fingerprint) ----

  /** Video fingerprint geometry: the decoded clip is split into
    * [[VideoFpWindows]] equal TEMPORAL windows ([[VideoFpWindowFrames]]
    * frames each in the synthetic corpus); bit j = [window-j pixel-sum >
    * clip mean] cross-multiplied in integers — the temporal twin of the
    * image average hash (TMK/temporal-mean-kernel family), robust to
    * per-frame noise because each bit pools a window. */
  val VideoFpWindows = 64
  val VideoFpWindowFrames = 2
  /** Near-dup corpus frame geometry (small on purpose: the fingerprint
    * pools whole frames, so raster size only scales decode cost). */
  val VideoDupW = 16
  val VideoDupH = 16

  /** Synthetic video corpus for the near-dup path: one REAL uncompressed
    * AVI per doc_id, 128 solid-gray frames at LCG steps of the content id
    * (the shared [[phashContentId]] planting; variants lift frame 0 one
    * level, capped 255) — true near-identical clip pairs at every SF,
    * exactly replayable in SQL. */
  def videoDupCorpus(spark: SparkSession, dir: String): Dataset[MediaFile] = {
    import spark.implicits._
    val n = VideoFpWindows * VideoFpWindowFrames
    Sources.documents(spark, dir).select("doc_id").as[Long].map { id =>
      val lv = lcgLevels(phashContentId(id), n)
      if (id % 10 == 7) lv(0) = math.min(255, lv(0) + 1)
      MediaFile(id, "video", s"lake://videodup/$id", VideoDupW, VideoDupH, n,
        AviCodec.encodeRaster(VideoDupW, VideoDupH,
          lv.map(l => Array.fill(VideoDupW * VideoDupH)(l.toByte))))
    }
  }

  /** REAL AVI chunk-walk decode → 64-bit temporal fingerprint, batched
    * like [[phashOf]] (map-only): every frame's ACTUAL pixel bits fold
    * into their temporal window's palette-level sum (window of frame k =
    * k·W/n — any clip length), then bit j = [W·wsum_j > Σ] with no float
    * anywhere. Emits [[PhashRow]]: the image/audio/video fingerprints all
    * share the Hamming-banded pair scan ([[phashPairsOf]]). */
  def videoFingerprintOf(media: Dataset[MediaFile]): Dataset[PhashRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(DecodeBatch).flatMap(_.map { m =>
      fpDecodeOps.incrementAndGet()
      val p = AviCodec.parse(m.content)
      val st = AviCodec.stride(p.width)
      val n = p.frames.length
      val wsum = new Array[Long](VideoFpWindows)
      var total = 0L
      p.frames.zipWithIndex.foreach { case ((off, _), k) =>
        var sum = 0L
        var y = 0
        while (y < p.height) {
          var x = 0
          while (x < p.width) {
            sum += p.palette(p.bytes(off + y * st + x) & 0xff)
            x += 1
          }
          y += 1
        }
        wsum(k * VideoFpWindows / n) += sum
        total += sum
      }
      var hash = 0L
      var j = 0
      while (j < VideoFpWindows) {
        if (wsum(j) * VideoFpWindows > total) hash |= (1L << j)
        j += 1
      }
      PhashRow(m.media_id, hash)
    }))
  }

  /** Registered harness: the video arm of the shared banded near-dup
    * machinery — with this the quartet is complete: text, image, audio
    * and video dedup all run one candidate-generation story. */
  def videoDupPairs(spark: SparkSession, dir: String): DataFrame =
    phashPairsOf(videoFingerprintOf(balancedByBytes(videoDupCorpus(spark, dir), decodeParts(spark))))

  // ------------------------- cross-modal near-dup release report ---------

  /** The three MEDIA dup-corpus arms as one registry — (modality, corpus
    * builder, REAL-decode fingerprint fn) — shared by the batch report,
    * [[FpStore]]'s build/delta-ingest paths, and the specs, so every
    * consumer agrees on what "the image arm" decodes and hashes. */
  private[graft] val dupModalities: Seq[(String,
      (SparkSession, String) => Dataset[MediaFile],
      Dataset[MediaFile] => Dataset[PhashRow])] = Seq(
    ("image", phashCorpus _, phashOf _),
    ("audio", audioDupCorpus _, audioFingerprintOf _),
    ("video", videoDupCorpus _, videoFingerprintOf _))

  /** CROSS-MODAL DEDUP RELEASE REPORT — the gate a multimodal training
    * corpus ships through: per document, the keep-lowest near-dup verdict
    * of EVERY modality arm (text MinHash-LSH, image aHash, audio energy
    * fingerprint, video temporal fingerprint) plus the release-blocking
    * OR. A doc whose text is unique but whose image is a near-copy still
    * flags — single-modality dedup under-counts multimodal redundancy,
    * which is why release gates consult every arm.
    *
    * Scale shape: each arm is its own banded candidate pass (all four
    * bounded by construction); the report itself is ONE doc-grain hash
    * aggregate over the union of the tagged reject sets — not a chain of
    * outer joins, both because one shuffle beats four and because an
    * aggregate cannot be join-eliminated under a bare count() (a left
    * join with unreferenced output can — which would let a row-count
    * harness silently skip the arms). */
  def crossModalDups(spark: SparkSession, dir: String): DataFrame =
    crossModalDupsOf(Sources.documents(spark, dir),
      dupModalities.map { case (m, corpus, fp) =>
        (m, fp(balancedByBytes(corpus(spark, dir), decodeParts(spark))))
      })

  /** PRODUCTION ENTRY — the report over an EXPLICIT text frame and
    * per-modality fingerprint sets. The text arm must describe the corpus
    * the release actually ships (the SCRUBBED frame in the corpus
    * pipeline, ADVICE r10 — a verdict about pre-scrub text would gate the
    * release on content that never ships), and the media fingerprints can
    * come straight off a persisted [[FpStore]] so a release audit decodes
    * only what the store has not yet seen (VERDICT r10 #6). */
  def crossModalDupsOf(docs: DataFrame,
                       mediaFps: Seq[(String, Dataset[PhashRow])]): DataFrame = {
    require(mediaFps.map(_._1) == dupModalities.map(_._1),
      s"expected the ${dupModalities.map(_._1)} media arms, got ${mediaFps.map(_._1)}")
    def rejects(pairs: DataFrame, m: String): DataFrame =
      pairs.where(col("is_near"))
        .select(col("media_id_b").as("doc_id")).distinct()
        .withColumn("m", lit(m))
    mediaFps.foldLeft(
      docs.select("doc_id").withColumn("m", lit("none"))
        .unionByName(graft.ext.Dedup.minhashLshPairsOf(docs)
          .select(col("doc_b").as("doc_id")).distinct()
          .withColumn("m", lit("text")))) {
      case (acc, (m, fps)) => acc.unionByName(rejects(phashPairsOf(fps), m))
    }
      .groupBy("doc_id")
      .agg(max(col("m") === "text").as("text_dup"),
        max(col("m") === "image").as("image_dup"),
        max(col("m") === "audio").as("audio_dup"),
        max(col("m") === "video").as("video_dup"))
      .withColumn("any_dup",
        col("text_dup") || col("image_dup") || col("audio_dup") || col("video_dup"))
  }

  /** The report with every media arm riding the persisted [[FpStore]]:
    * ZERO media decodes (FingerprintStoreSpec proves it by counter) — at
    * 100 TB a release audit cannot re-decode the media lake, so the decode
    * cost is paid once per file by build/ingest and the audit is a
    * fingerprint-table scan. Bit-identical to [[crossModalDups]] when the
    * store covers the corpus (same fingerprint fns wrote it). */
  def crossModalDupsFromStore(spark: SparkSession, docs: DataFrame,
                              storePath: String): DataFrame =
    crossModalDupsOf(docs,
      dupModalities.map { case (m, _, _) =>
        (m, FpStore.fingerprints(spark, storePath, m))
      })

  /** Registered deployment twin of `dedup_cross_modal` — the store is
    * built at most once per (session, corpus), every call is the pure
    * fingerprint-table audit; shares the batch report's DuckDB oracle
    * (bit-identical by construction). */
  def crossModalDupsIndexed(spark: SparkSession, dir: String): DataFrame =
    crossModalDupsFromStore(spark, Sources.documents(spark, dir),
      FpStore.sessionStore(spark, dir))
}
