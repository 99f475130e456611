package graft.operators

import graft.functions.GraftFunctions.call
import graft.sources.Parquet
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.awt.image.BufferedImage

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Multimodal column plumbing: image/audio/video as opaque `binary` columns
 * with typed metadata, plus decode / feature-extract / frame-sample stages.
 *
 * All three modalities are REAL decodes of public container specs:
 *  - IMAGE: genuine PNG containers parsed back to grayscale pixels via
 *    `javax.imageio` (ships with the JDK — no external dependency);
 *  - AUDIO: genuine RIFF/WAVE 16-bit PCM containers parsed by a pure-JVM
 *    chunk walk ([[Wav]]);
 *  - VIDEO: genuine RIFF/AVI containers of uncompressed 8-bit DIB frames
 *    ('00db' chunks inside the 'movi' list), parsed by the same RIFF
 *    chunk-walk discipline ([[Avi]]). Uncompressed DIB is the AVI
 *    baseline every player accepts; like PCM it is lossless, which keeps
 *    the decoded-frame statistics SQL-oracle-able. A production
 *    deployment swaps [[Avi.decodeFrames]] for a compressed-codec binding
 *    with the same signature, and nothing else changes.
 *
 * Batch shape: rows are processed through `mapPartitions` in fixed-size
 * batches (`BatchSize`), the Scala analogue of `mapInPandas` Arrow batches
 * — the decoder is invoked once per batch so per-call setup (model load,
 * codec init) amortizes.
 */
object Multimodal {

  val BatchSize = 64
  val HistBins = 16

  final case class MediaRow(doc_id: Long, modality: String, media: Array[Byte])
  final case class FeatureRow(
      doc_id: Long,
      modality: String,
      n_bytes: Int,
      hist: Array[Long],
      hist_sum: Long,
      spaces_bin: Long)

  /** Real PNG codec for the image modality — grayscale 16x16, lossless
   * round-trip (PNG is lossless, so decode(encode(p)) == p bit-exactly,
   * which is what lets the decoded-pixel statistics stay SQL-oracle-able:
   * the oracle recomputes them from the pixel formula without touching
   * PNG at all). */
  object Png {
    val W = 16
    val H = 16

    // ImageIO defaults to DISK-cached streams: every encode/decode would
    // create+delete a temp file in the executor hot path. These images are
    // tiny; memory caching is strictly better (and works on read-only
    // /tmp executors).
    javax.imageio.ImageIO.setUseCache(false)

    def encodeGray(pixels: Array[Byte]): Array[Byte] = {
      require(pixels.length == W * H, s"expected ${W * H} pixels, got ${pixels.length}")
      val img = new BufferedImage(W, H, BufferedImage.TYPE_BYTE_GRAY)
      img.getRaster.setDataElements(0, 0, W, H, pixels)
      val bos = new ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    def decodeGray(png: Array[Byte]): Array[Byte] = {
      val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(png))
      val (w, h) = (img.getWidth, img.getHeight)
      val out = new Array[Byte](w * h)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          out(y * w + x) = raster.getSample(x, y, 0).toByte
          x += 1
        }
        y += 1
      }
      out
    }

    /** Deterministic synthetic pixel content for doc `id` — the corpus
     * token formula reduced mod 256, so an independent SQL engine can
     * reproduce every DECODED pixel from doc_id arithmetic alone. */
    def pixelsOf(id: Long): Array[Byte] = {
      import graft.sources.TokenTable.{MulA, MulB}
      val out = new Array[Byte](W * H)
      var i = 0
      while (i < out.length) {
        out(i) = (((id + 1) * MulA + i * MulB) % 256L).toByte
        i += 1
      }
      out
    }
  }

  /** Real RIFF/WAVE PCM codec for the audio modality — 16-bit mono
   * little-endian, the public container spec (RIFF chunks: fmt + data).
   * PCM is UNCOMPRESSED, so the decoded sample byte stream is bit-equal to
   * what was encoded — which is what lets the decoded-audio statistics
   * stay SQL-oracle-able: the oracle reproduces every sample byte from
   * doc_id arithmetic without touching the container. Pure JVM (ByteBuffer
   * walk), no external codec library. */
  object Wav {
    val SampleRate = 8000
    val NumSamples = 200

    /** Deterministic synthetic 16-bit samples for doc `id` — the corpus
     * token formula reduced mod 2^16, mirroring [[Png.pixelsOf]]. */
    def samplesOf(id: Long): Array[Short] = {
      import graft.sources.TokenTable.{MulA, MulB}
      val out = new Array[Short](NumSamples)
      var i = 0
      while (i < out.length) {
        out(i) = (((id + 1) * MulA + i * MulB) % 65536L).toShort
        i += 1
      }
      out
    }

    private val Ascii = java.nio.charset.StandardCharsets.US_ASCII

    /** Canonical 44-byte RIFF/WAVE header + the little-endian PCM stream. */
    def encodePcm16(samples: Array[Short], sampleRate: Int = SampleRate): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer
        .allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes(Ascii)).putInt(36 + dataLen).put("WAVE".getBytes(Ascii))
      bb.put("fmt ".getBytes(Ascii)).putInt(16)
      bb.putShort(1).putShort(1) // PCM, mono
      bb.putInt(sampleRate).putInt(sampleRate * 2) // byte rate = rate * block
      bb.putShort(2).putShort(16) // block align, bits/sample
      bb.put("data".getBytes(Ascii)).putInt(dataLen)
      var i = 0
      while (i < samples.length) { bb.putShort(samples(i)); i += 1 }
      bb.array()
    }

    /** Decode by WALKING the chunk list (not a fixed 44-byte skip — RIFF
     * permits extra chunks like LIST/INFO before data; odd-sized chunks
     * are word-padded per spec). Returns the raw little-endian sample
     * byte stream of the data chunk; rejects non-PCM / non-16-bit. */
    def decodePcm16Bytes(wav: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.wrap(wav).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fourCC(): String = {
        val b = new Array[Byte](4); bb.get(b); new String(b, Ascii)
      }
      require(wav.length >= 44 && fourCC() == "RIFF", "not a RIFF container")
      bb.getInt() // riff size (unvalidated: streams may understate it)
      require(fourCC() == "WAVE", "not a WAVE form")
      var pcmOk = false
      var data: Array[Byte] = null
      while (bb.remaining() >= 8 && data == null) {
        val id = fourCC()
        val size = bb.getInt()
        require(size >= 0 && size <= bb.remaining(), s"truncated chunk $id")
        id match {
          case "fmt " =>
            val fmtPos = bb.position()
            val audioFormat = bb.getShort()
            bb.getShort() // channels (mono written; any accepted for decode)
            bb.getInt(); bb.getInt(); bb.getShort()
            val bits = bb.getShort()
            require(audioFormat == 1 && bits == 16, s"not 16-bit PCM (fmt=$audioFormat bits=$bits)")
            pcmOk = true
            bb.position(fmtPos + size + (size & 1))
          case "data" =>
            require(pcmOk, "data chunk before fmt")
            data = new Array[Byte](size)
            bb.get(data)
          case _ =>
            bb.position(bb.position() + size + (size & 1)) // skip + word pad
        }
      }
      require(data != null, "no data chunk")
      data
    }
  }

  /** Real RIFF/AVI codec for the video modality — uncompressed 8-bit DIB
   * frames, the public container spec (MS AVI RIFF form: LIST 'hdrl' with
   * avih/strh/strf headers, then LIST 'movi' holding one '00db' chunk per
   * frame). Uncompressed DIB (biCompression = BI_RGB) is lossless, so the
   * decoded frame byte stream is bit-equal to what was encoded — which is
   * what lets the decoded-video statistics stay SQL-oracle-able, exactly
   * like [[Png]] (lossless) and [[Wav]] (PCM). Pure JVM ByteBuffer walk,
   * sharing the chunk/word-padding discipline of [[Wav]]; no codec
   * library. Frames are written top-down (negative biHeight, per the
   * BITMAPINFOHEADER spec) so frame byte j is simply pixel j. */
  object Avi {
    val W = 16
    val H = 16
    val NumFrames = 4
    val FrameBytes: Int = W * H
    val Fps = 10

    // header layout sizes, shared by encodeDib8 and ContainerBytes
    private val StrfSize = 40 + 256 * 4 // BITMAPINFOHEADER + 8-bit palette
    private val StrlList = 4 + (8 + 56) + (8 + StrfSize)
    private val HdrlList = 4 + (8 + 56) + (8 + StrlList)

    /** Total container size for [[NumFrames]] frames of [[FrameBytes]] —
     * fixed by the header layout (2304 bytes); the frames oracle relies
     * on it. */
    val ContainerBytes: Int =
      8 + 4 + (8 + HdrlList) + (8 + 4 + NumFrames * (8 + FrameBytes))

    private val Ascii = java.nio.charset.StandardCharsets.US_ASCII

    /** Deterministic synthetic frames for doc `id`: byte j of the
     * CONCATENATED frame stream is ((id+1)*MulA + j*MulB) % 256 — the
     * [[Png.pixelsOf]] formula continued across [[NumFrames]] frames. */
    def framesOf(id: Long): Array[Array[Byte]] = {
      import graft.sources.TokenTable.{MulA, MulB}
      Array.tabulate(NumFrames) { f =>
        val out = new Array[Byte](FrameBytes)
        var i = 0
        while (i < out.length) {
          out(i) = (((id + 1) * MulA + (f.toLong * FrameBytes + i) * MulB) % 256L).toByte
          i += 1
        }
        out
      }
    }

    /** Canonical AVI container: hdrl (avih + one 'vids' strl with an 8-bit
     * BI_RGB BITMAPINFOHEADER + grayscale palette) + movi ('00db' frame
     * chunks). 8bpp rows of width [[W]] are 4-byte aligned (W % 4 == 0),
     * so frames carry no DIB row padding. */
    def encodeDib8(frames: Array[Array[Byte]], fps: Int = Fps): Array[Byte] = {
      require(W % 4 == 0, "DIB rows must be 4-byte aligned")
      frames.foreach(f =>
        require(f.length == FrameBytes, s"expected $FrameBytes frame bytes, got ${f.length}"))
      val (strfSize, strlList, hdrlList) = (StrfSize, StrlList, HdrlList)
      val moviList = 4 + frames.length * (8 + FrameBytes)
      val riffSize = 4 + (8 + hdrlList) + (8 + moviList)
      val bb = java.nio.ByteBuffer
        .allocate(8 + riffSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes(Ascii)).putInt(riffSize).put("AVI ".getBytes(Ascii))
      bb.put("LIST".getBytes(Ascii)).putInt(hdrlList).put("hdrl".getBytes(Ascii))
      // avih: MainAVIHeader (14 dwords)
      bb.put("avih".getBytes(Ascii)).putInt(56)
      bb.putInt(1000000 / fps) // dwMicroSecPerFrame
      bb.putInt(FrameBytes * fps) // dwMaxBytesPerSec
      bb.putInt(0).putInt(0) // padding granularity, flags (no idx1 index)
      bb.putInt(frames.length).putInt(0).putInt(1) // total, initial, streams
      bb.putInt(FrameBytes).putInt(W).putInt(H) // suggested buffer, w, h
      bb.putInt(0).putInt(0).putInt(0).putInt(0) // dwReserved[4]
      bb.put("LIST".getBytes(Ascii)).putInt(strlList).put("strl".getBytes(Ascii))
      // strh: AVIStreamHeader for the single video stream
      bb.put("strh".getBytes(Ascii)).putInt(56)
      bb.put("vids".getBytes(Ascii)).put("DIB ".getBytes(Ascii))
      bb.putInt(0).putShort(0).putShort(0).putInt(0) // flags, prio, lang, initial
      bb.putInt(1).putInt(fps) // dwScale / dwRate = frame period
      bb.putInt(0).putInt(frames.length) // start, length (in frames)
      bb.putInt(FrameBytes).putInt(-1).putInt(0) // sug. buffer, quality, sampleSize
      bb.putShort(0).putShort(0).putShort(W.toShort).putShort(H.toShort) // rcFrame
      // strf: BITMAPINFOHEADER, 8bpp BI_RGB, TOP-DOWN (negative height)
      bb.put("strf".getBytes(Ascii)).putInt(strfSize)
      bb.putInt(40).putInt(W).putInt(-H)
      bb.putShort(1).putShort(8) // planes, bits/pixel
      bb.putInt(0).putInt(FrameBytes) // BI_RGB, image size
      bb.putInt(0).putInt(0).putInt(256).putInt(0) // ppm x/y, clrUsed, clrImportant
      var c = 0
      while (c < 256) { // grayscale RGBQUAD palette (b, g, r, reserved)
        bb.put(c.toByte).put(c.toByte).put(c.toByte).put(0.toByte)
        c += 1
      }
      bb.put("LIST".getBytes(Ascii)).putInt(moviList).put("movi".getBytes(Ascii))
      frames.foreach { f =>
        bb.put("00db".getBytes(Ascii)).putInt(FrameBytes).put(f)
      }
      bb.array()
    }

    /** Decode by WALKING the RIFF chunk tree (same discipline as
     * [[Wav.decodePcm16Bytes]]: never fixed offsets, odd chunks are
     * word-padded, unknown chunks are skipped). Validates the stream
     * format chunk (8-bit uncompressed BI_RGB, frame size from the actual
     * header dims) BEFORE accepting any frame; rejects compressed or
     * non-8bpp streams rather than mis-reading them. */
    def decodeFrames(avi: Array[Byte]): Array[Array[Byte]] = {
      val bb = java.nio.ByteBuffer.wrap(avi).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fourCC(): String = {
        val b = new Array[Byte](4); bb.get(b); new String(b, Ascii)
      }
      require(avi.length >= 12 && fourCC() == "RIFF", "not a RIFF container")
      bb.getInt() // riff size (unvalidated: streams may understate it)
      require(fourCC() == "AVI ", "not an AVI form")
      var frameSize = -1
      val frames = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
      def walk(limit: Int): Unit =
        while (limit - bb.position() >= 8) {
          val id = fourCC()
          val size = bb.getInt()
          require(size >= 0 && size <= limit - bb.position(), s"truncated chunk $id")
          val next = bb.position() + size + (size & 1)
          id match {
            case "LIST" =>
              val listType = fourCC()
              if (listType == "hdrl" || listType == "strl" || listType == "movi")
                walk(bb.position() + size - 4)
            case "strf" =>
              bb.getInt() // biSize
              val w = bb.getInt()
              val h = bb.getInt()
              bb.getShort() // planes
              val bits = bb.getShort()
              val compression = bb.getInt()
              require(
                compression == 0 && bits == 8,
                s"not an uncompressed 8-bit DIB stream (compression=$compression bits=$bits)")
              require(w > 0 && w % 4 == 0, s"unsupported DIB row alignment (width $w)")
              frameSize = w * math.abs(h)
            case "00db" | "00dc" =>
              require(frameSize > 0, "movi frame before the stream format header")
              require(size == frameSize, s"frame chunk of $size bytes, stream format says $frameSize")
              val f = new Array[Byte](size)
              bb.get(f)
              frames += f
            case _ => () // skip unknown chunk (word-padded via next)
          }
          bb.position(next)
        }
      walk(avi.length)
      require(frames.nonEmpty, "no movi frames")
      frames.toArray
    }

    /** Concatenated-frame-bytes view of [[decodeFrames]] (feature
     * extraction operates on the full decoded stream). */
    def decodeFrameBytes(avi: Array[Byte]): Array[Byte] = {
      val fs = decodeFrames(avi)
      val out = new Array[Byte](fs.map(_.length).sum)
      var off = 0
      fs.foreach { f => System.arraycopy(f, 0, out, off, f.length); off += f.length }
      out
    }
  }

  /** Synthesize the media table from documents: modality round-robins over
   * the three media kinds, each a REAL container of the doc's
   * deterministic synthetic content — IMAGE a PNG of [[Png.pixelsOf]],
   * AUDIO a RIFF/WAVE PCM of [[Wav.samplesOf]], VIDEO a RIFF/AVI of
   * [[Avi.framesOf]]. Row-local typed map — zero shuffle. */
  def mediaTable(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Parquet
      .read(spark, s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long"))
      .as[Long]
      .mapPartitions(_.map { id =>
        val modality = (id % 3) match {
          case 0 => "image"
          case 1 => "audio"
          case _ => "video"
        }
        val media = modality match {
          case "image" => Png.encodeGray(Png.pixelsOf(id))
          case "audio" => Wav.encodePcm16(Wav.samplesOf(id))
          case _ => Avi.encodeDib8(Avi.framesOf(id))
        }
        MediaRow(id, modality, media)
      })
      .toDF()
  }

  /** Modality dispatch — every arm a REAL container decode: image -> PNG
   * to pixels; audio -> RIFF/WAVE PCM to the sample byte stream; video ->
   * RIFF/AVI to the concatenated uncompressed frame bytes. */
  private def decodeOne(modality: String, media: Array[Byte]): Array[Byte] =
    modality match {
      case "image" => Png.decodeGray(media)
      case "audio" => Wav.decodePcm16Bytes(media)
      case _ => Avi.decodeFrameBytes(media)
    }

  /** THE swap point for a real audio/video decoder: one invocation per
   * BatchSize-row batch (amortizing per-call setup — model load, codec
   * init — exactly like a mapInPandas batch). */
  private def decodeBatch(modalities: Array[String], batch: Array[Array[Byte]]): Array[Array[Byte]] = {
    val out = new Array[Array[Byte]](batch.length)
    var i = 0
    while (i < batch.length) {
      out(i) = decodeOne(modalities(i), batch(i))
      i += 1
    }
    out
  }

  /** Feature extraction over decoded payload: 16-bin byte histogram
   * (high nibble), i.e. a deterministic stand-in for an embedding. */
  private def extractFeatures(decoded: Array[Byte]): Array[Long] = {
    val hist = new Array[Long](HistBins)
    var i = 0
    while (i < decoded.length) {
      hist((decoded(i) & 0xf0) >>> 4) += 1
      i += 1
    }
    hist
  }

  /** Batched decode + feature extraction (mapPartitions in BatchSize
   * groups — the mapInPandas batch analogue). Image rows' features are
   * computed over REAL decoded pixels. */
  def features(spark: SparkSession, media: DataFrame): Dataset[FeatureRow] = {
    import spark.implicits._
    media
      .select(col("doc_id").cast("long"), col("modality"), col("media"))
      .as[MediaRow]
      .mapPartitions { it =>
        it.grouped(BatchSize).flatMap { batch =>
          // ONE decoder invocation per batch — the amortization the
          // grouped() exists for (a per-row call would make it a no-op)
          val decoded = decodeBatch(
            batch.iterator.map(_.modality).toArray,
            batch.iterator.map(_.media).toArray)
          batch.iterator.zipWithIndex.map { case (r, i) =>
            val hist = extractFeatures(decoded(i))
            FeatureRow(
              r.doc_id,
              r.modality,
              decoded(i).length,
              hist,
              hist.sum,
              hist(2)) // bin 2 = bytes 0x20..0x2f (ASCII space lives here)
          }
        }
      }
  }

  final case class FrameRow(doc_id: Long, frame_idx: Int, frame_bytes: Int, frame_sum: Long)

  /** REAL decoded-frame enumeration for the video modality: one row per
   * '00db' frame of the AVI container with its byte count and
   * unsigned-byte checksum. Row-local decode, zero shuffle; DIB frames
   * are lossless so the checksums are reproducible from doc_id arithmetic
   * by an independent engine (the q_video_frames oracle). */
  def videoFrames(spark: SparkSession, media: DataFrame): Dataset[FrameRow] = {
    import spark.implicits._
    media
      .filter(col("modality") === "video")
      .select(col("doc_id").cast("long"), col("modality"), col("media"))
      .as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        Avi.decodeFrames(r.media).iterator.zipWithIndex.map { case (f, i) =>
          var s = 0L
          var k = 0
          while (k < f.length) { s += (f(k) & 0xff); k += 1 }
          FrameRow(r.doc_id, i, f.length, s)
        }
      })
  }

  /** Frame sampling: split the payload into fixed `frameBytes` chunks and
   * keep every `everyN`-th — the video-frame-sampling plumbing with a
   * byte-chunk stand-in for real frame boundaries. (Callers should apply
   * this to the audio/video modalities; byte-chunking a compressed image
   * container is meaningless.) */
  def frameSample(media: DataFrame, frameBytes: Int, everyN: Int): DataFrame = {
    media.select(
      col("doc_id"),
      col("modality"),
      // one codegen'd kernel call per row (frame enumeration + every-Nth
      // selection fused; empty payloads -> empty array) — replaces the
      // former transform-over-sequence + filter lambda pair so the
      // projection stays in one whole-stage-codegen span
      call("bin_frame_sample", col("media"), lit(frameBytes), lit(everyN))
        .as("frames"))
  }
}
