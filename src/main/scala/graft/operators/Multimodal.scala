package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video as opaque binary columns
  * with typed metadata, and a partition-parallel decode / feature-extract
  * stage (north-star surface, SURVEY.md §2B).
  *
  * Design: a multimodal row is (id, blob: binary, meta: struct). All Spark
  * plumbing — schema, batch iteration, partition parallelism, output
  * schema — is real and tested. Two decoders share it:
  *
  *   - IMAGES are decoded for real via the JDK's javax.imageio
  *     (PNG/JPEG/GIF/BMP — no external dependency): decodeImage /
  *     extractImageFeatures emit pixel-level features (dimensions, mean
  *     luma, luma histogram).
  *   - AUDIO is decoded for real via javax.sound.sampled (WAV/AIFF/AU
  *     containers, 16-bit signed PCM payloads): decodeAudio /
  *     extractAudioFeatures emit sample rate, channels, frame count,
  *     mean and peak |amplitude|.
  *   - VIDEO is decoded for real for MJPEG-in-AVI (decodeVideoFrames /
  *     extractVideoFrames): the RIFF/AVI container is plain chunk
  *     arithmetic and each `00dc` frame payload is a JPEG the imageio
  *     path already decodes — per-frame pixel features with no external
  *     dependency. Inter-frame codecs (H.264, VP9, ...) have no pure-JDK
  *     decoder; such blobs simply yield no frames (the same
  *     dropped-not-failed policy as corrupt images).
  *
  * Scale notes: decode runs inside mapPartitions — one JVM-local pass, no
  * shuffle, vectorized parquet read of the binary column upstream. Blobs
  * never transit a shuffle: extract features first, keep (id, features),
  * drop the blob before any wide operation.
  */
object Multimodal {

  /** Typed metadata carried with every blob. */
  case class MediaMeta(format: String, nBytes: Long)

  /** A multimodal record: opaque payload + metadata. */
  case class MediaRow(id: Long, blob: Array[Byte], meta: MediaMeta)

  /** Extracted feature record (what a real image/audio decoder would
    * emit: dimensions, channel stats, an embedding, ...). */
  case class MediaFeatures(id: Long, nBytes: Long, format: String,
                           checksum: Long, histogram: Array[Long])

  /** Wrap a DataFrame with a binary column into typed MediaRow form. */
  def asMedia(df: DataFrame, idCol: String, blobCol: String,
              format: String): Dataset[MediaRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"),
        col(blobCol).as("blob"),
        struct(lit(format).as("format"),
          length(col(blobCol)).cast("long").as("nBytes")).as("meta"))
      .as[MediaRow]
  }

  /** Content-agnostic byte-level features: 16-bucket byte-value histogram
    * plus an additive checksum — the format-independent fingerprint used
    * by the generic blob featurizer (extractFeatures) and the frame
    * sampler's per-slice checksums. Deterministic pure function. */
  private[graft] def byteStats(blob: Array[Byte]): (Long, Array[Long]) = {
    val hist = new Array[Long](16)
    var sum = 0L
    var i = 0
    while (i < blob.length) {
      val b = blob(i) & 0xff
      hist(b >> 4) += 1
      sum += b
      i += 1
    }
    (sum, hist)
  }

  /** Partition-parallel feature extraction — the shape a real decode
    * stage has: iterate the partition, decode each blob, emit a narrow
    * feature row, never retain the blob. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val (checksum, hist) = byteStats(r.blob)
        MediaFeatures(r.id, r.meta.nBytes, r.meta.format, checksum, hist)
      }
    }
  }

  /** Pixel-level features from a REAL decode (javax.imageio). */
  case class ImageFeatures(id: Long, format: String, width: Int, height: Int,
                           nPixels: Long, meanLuma: Double,
                           lumaHist: Array[Long])

  /** Real image decode via the JDK's ImageIO (PNG/JPEG/GIF/BMP): returns
    * (width, height, meanLuma, 16-bucket luma histogram), or None for
    * bytes no installed reader understands. Luma = (299r+587g+114b)/1000
    * in integer math — bit-deterministic for lossless formats. Headless
    * mode is forced once: executors have no display. */
  private[graft] def decodeImage(
      blob: Array[Byte]): Option[(Int, Int, Double, Array[Long])] = {
    Headless.ensure()
    // NonFatal, not just IOException: the JDK readers throw runtime
    // exceptions (ArrayIndexOutOfBounds, NegativeArraySize, ...) on
    // corrupt-but-plausible blobs, and one bad image must be dropped
    // data, not a failed job.
    val img = try {
      Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(blob)))
    } catch { case scala.util.control.NonFatal(_) => None }
    img.map { im =>
      val (w, h) = (im.getWidth, im.getHeight)
      val hist = new Array[Long](16)
      var sum = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = im.getRGB(x, y)
          val luma = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587
            + (rgb & 0xff) * 114) / 1000
          hist(luma >> 4) += 1
          sum += luma
          x += 1
        }
        y += 1
      }
      (w, h, sum.toDouble / (w.toLong * h), hist)
    }
  }

  private object Headless {
    private lazy val done: Unit = {
      System.setProperty("java.awt.headless", "true")
      // ImageIO's default read/write path spools through temp FILES; with
      // 32 decode threads per executor that is a disk-cache stampede on
      // /tmp (and measurably noisy under load). Blobs here are already
      // in-memory byte arrays — cache in heap.
      javax.imageio.ImageIO.setUseCache(false)
    }
    def ensure(): Unit = done
  }

  /** Executor-side codec init (headless AWT, in-memory ImageIO spooling)
    * for callers that ENCODE with ImageIO before any decode here has run
    * — e.g. fixture/blob producers inside mapPartitions. */
  def initCodecs(): Unit = Headless.ensure()

  /** Partition-parallel REAL image feature extraction — same plumbing as
    * extractFeatures with javax.imageio as the inner decode. Blobs no
    * reader can parse are dropped (decode failures at corpus scale are
    * data quality, not job failures; count them upstream via
    * n_input - n_output if needed). */
  def extractImageFeatures(media: Dataset[MediaRow]): Dataset[ImageFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        decodeImage(r.blob).map { case (w, h, mean, hist) =>
          ImageFeatures(r.id, r.meta.format, w, h, w.toLong * h, mean, hist)
        }
      }
    }
  }

  /** Sample-level features from a REAL audio decode (javax.sound.sampled). */
  case class AudioFeatures(id: Long, format: String, sampleRate: Double,
                           channels: Int, nFrames: Long, meanAbs: Double,
                           peakAbs: Long)

  /** Real audio decode via the JDK's sound API (WAV/AIFF/AU containers,
    * PCM payloads): returns (sampleRate, channels, frameCount, mean |amp|,
    * peak |amp|) over 16-bit samples, or None for bytes no installed
    * reader understands. Integer accumulation — bit-deterministic. */
  private[graft] def decodeAudio(
      blob: Array[Byte]): Option[(Double, Int, Long, Double, Long)] = {
    Headless.ensure()
    val in = try {
      Some(javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(blob)))
    } catch { case scala.util.control.NonFatal(_) => None }
    in.flatMap { ais =>
      try {
        val f = ais.getFormat
        // encoding must be checked, not just bit depth: audio SPIs are
        // ServiceLoader-discovered, so a 16-bit stream could be unsigned
        // PCM (or a third-party codec's output) whose bytes are NOT
        // signed samples — decoding those as signed would emit plausible
        // but wrong features instead of dropping the blob.
        if (f.getSampleSizeInBits != 16 ||
            f.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
          None
        else {
          val bytes = ais.readAllBytes()
          val n = bytes.length / 2
          var sumAbs = 0L; var peak = 0L; var i = 0
          val le = !f.isBigEndian
          while (i < n) {
            val lo = bytes(2 * i) & 0xff
            val hi = bytes(2 * i + 1)
            val s = if (le) (hi << 8) | lo
                    else ((lo.toByte) << 8) | (hi & 0xff)
            val a = math.abs(s.toLong)
            sumAbs += a
            if (a > peak) peak = a
            i += 1
          }
          Some((f.getSampleRate.toDouble, f.getChannels,
            n.toLong / math.max(f.getChannels, 1),
            if (n == 0) 0.0 else sumAbs.toDouble / n, peak))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
      finally ais.close()
    }
  }

  /** Partition-parallel REAL audio feature extraction; undecodable blobs
    * dropped (same policy as extractImageFeatures). */
  def extractAudioFeatures(media: Dataset[MediaRow]): Dataset[AudioFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        decodeAudio(r.blob).map { case (sr, ch, nf, mean, peak) =>
          AudioFeatures(r.id, r.meta.format, sr, ch, nf, mean, peak)
        }
      }
    }
  }

  /** Per-frame pixel features from a REAL video decode (MJPEG-in-AVI). */
  case class VideoFrame(id: Long, frameIdx: Int, offset: Long, nBytes: Int,
                        width: Int, height: Int, meanLuma: Double)

  /** Real video decode for the one format pure JDK can serve: MJPEG in a
    * RIFF/AVI container. The container walk is plain chunk arithmetic
    * (fourcc + LE u32 size, LISTs nest, chunks pad to even offsets); each
    * `##dc`/`##db` frame payload is handed to decodeImage (the `dc`
    * payloads of an 'MJPG' stream are ordinary JFIF JPEGs). Returns one
    * entry per decodable frame: (frameIdx, byte offset, byte size, width,
    * height, meanLuma). frameIdx counts ALL frame chunks in container
    * order, so a corrupt frame leaves a hole instead of shifting its
    * successors. Non-AVI bytes, truncated containers, inter-frame codecs
    * → empty (dropped-not-failed, like the image/audio paths). */
  private[graft] def decodeVideoFrames(
      blob: Array[Byte]): Seq[(Int, Long, Int, Int, Int, Double)] = {
    def fourcc(off: Int): String =
      new String(blob, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    def u32(off: Int): Long =
      (blob(off) & 0xffL) | ((blob(off + 1) & 0xffL) << 8) |
      ((blob(off + 2) & 0xffL) << 16) | ((blob(off + 3) & 0xffL) << 24)
    try {
      if (blob.length < 12 || fourcc(0) != "RIFF" || fourcc(8) != "AVI ")
        return Nil
      val out = Seq.newBuilder[(Int, Long, Int, Int, Int, Double)]
      var frameIdx = 0
      // Iterative DFS over (start, end) ranges — recursion here would let
      // an adversarial blob with ~80k nested 12-byte LIST headers per MB
      // overflow the stack, and StackOverflowError is a VirtualMachineError
      // the NonFatal policy below cannot turn into a dropped row. Pushing
      // the LIST body ABOVE the remainder of the current range preserves
      // container order for frameIdx. A truncated chunk abandons only its
      // own range; enclosing ranges continue.
      var stack: List[(Int, Int)] = List((12, blob.length))
      while (stack.nonEmpty) {
        var (off, end) = stack.head
        stack = stack.tail
        var walking = true
        while (walking && off + 8 <= end) {
          val id = fourcc(off)
          val size = u32(off + 4)
          val body = off + 8
          if (size < 0 || body + size > end) walking = false // truncated: stop clean
          else {
            val sz = size.toInt
            val next = body + sz + (sz & 1) // chunks pad to even boundaries
            if (id == "LIST" && sz >= 4) {
              // descend into the list body first, resume here after
              stack = (body + 4, body + sz) :: (next, end) :: stack
              walking = false
            } else {
              if (id.length == 4 && id(0).isDigit && id(1).isDigit &&
                  (id.endsWith("dc") || id.endsWith("db"))) {
                val slice = java.util.Arrays.copyOfRange(blob, body, body + sz)
                decodeImage(slice).foreach { case (w, h, mean, _) =>
                  out += ((frameIdx, body.toLong, sz, w, h, mean))
                }
                frameIdx += 1
              }
              off = next
            }
          }
        }
      }
      out.result()
    } catch { case scala.util.control.NonFatal(_) => Nil }
  }

  /** Partition-parallel REAL video frame extraction: one output row per
    * decodable frame, blob dropped immediately (frames never transit a
    * shuffle — same policy as every decoder here). */
  def extractVideoFrames(media: Dataset[MediaRow]): Dataset[VideoFrame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        decodeVideoFrames(r.blob).map { case (idx, off, nb, w, h, mean) =>
          VideoFrame(r.id, idx, off, nb, w, h, mean)
        }
      }
    }
  }

  /** Minimal spec-correct MJPEG/AVI writer (fixture + test counterpart of
    * decodeVideoFrames — the encode half of the q58 roundtrip proof, like
    * ImageIO.write is for q53): RIFF(AVI ) { hdrl(avih, strl(strh 'vids'/
    * 'MJPG', strf BITMAPINFOHEADER) ), movi(00dc ...) }. Frames must be
    * pre-encoded JPEGs of the given dimensions. */
  private[graft] def encodeMjpegAvi(jpegFrames: Seq[Array[Byte]],
                                    width: Int, height: Int,
                                    fps: Int = 10): Array[Byte] = {
    def le32(v: Int): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le16(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def cc(s: String): Array[Byte] =
      s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad = if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      cc(id) ++ le32(body.length) ++ body ++ pad
    }
    def list(listType: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", cc(listType) ++ body)
    val n = jpegFrames.size
    val avih = le32(1000000 / math.max(fps, 1)) ++ le32(0) ++ le32(0) ++
      le32(0) ++ le32(n) ++ le32(0) ++ le32(1) ++ le32(0) ++
      le32(width) ++ le32(height) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val strh = cc("vids") ++ cc("MJPG") ++ le32(0) ++ le16(0) ++ le16(0) ++
      le32(0) ++ le32(1) ++ le32(math.max(fps, 1)) ++ le32(0) ++ le32(n) ++
      le32(0) ++ le32(-1) ++ le32(0) ++
      le16(0) ++ le16(0) ++ le16(width) ++ le16(height)
    val strf = le32(40) ++ le32(width) ++ le32(height) ++ le16(1) ++
      le16(24) ++ cc("MJPG") ++ le32(width * height * 3) ++
      le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val hdrl = list("hdrl",
      chunk("avih", avih) ++ list("strl", chunk("strh", strh) ++
        chunk("strf", strf)))
    val movi = list("movi",
      jpegFrames.map(f => chunk("00dc", f)).fold(Array.empty[Byte])(_ ++ _))
    val riffBody = cc("AVI ") ++ hdrl ++ movi
    cc("RIFF") ++ le32(riffBody.length) ++ riffBody
  }

  /** Perceptual hashes of a decoded image (aHash + dHash, 64-bit). */
  case class ImageHashes(id: Long, ahash: Long, dhash: Long,
                         width: Int, height: Int)

  /** 8×8 (and 9×8 for dHash) area-averaged luma grid of a decoded image:
    * cell (gx, gy) averages the pixel box [gx·w/cols, (gx+1)·w/cols) ×
    * [gy·h/8, (gy+1)·h/8) — integer luma sums, one double division per
    * cell. Deterministic for lossless formats; images narrower than the
    * grid yield None (an empty cell has no average). */
  private def readImage(blob: Array[Byte]): Option[java.awt.image.BufferedImage] = {
    Headless.ensure()
    try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(blob)))
    catch { case scala.util.control.NonFatal(_) => None }
  }

  private def lumaGridOf(im: java.awt.image.BufferedImage,
                         cols: Int): Option[Array[Double]] = {
    val (w, h) = (im.getWidth, im.getHeight)
    if (w < cols || h < 8) None
    else {
      val sums = new Array[Long](cols * 8)
      val counts = new Array[Long](cols * 8)
      var y = 0
      while (y < h) {
        val gy = y * 8 / h
        var x = 0
        while (x < w) {
          val gx = x * cols / w
          val rgb = im.getRGB(x, y)
          val luma = (((rgb >> 16) & 0xff) * 299 +
            ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
          sums(gy * cols + gx) += luma
          counts(gy * cols + gx) += 1
          x += 1
        }
        y += 1
      }
      Some(Array.tabulate(cols * 8)(i => sums(i).toDouble / counts(i)))
    }
  }

  private def aHashOf(im: java.awt.image.BufferedImage): Option[Long] =
    lumaGridOf(im, 8).map { g =>
      val mean = g.sum / 64.0
      var hashVal = 0L
      var i = 0
      while (i < 64) { if (g(i) > mean) hashVal |= 1L << i; i += 1 }
      hashVal
    }

  private def dHashOf(im: java.awt.image.BufferedImage): Option[Long] =
    lumaGridOf(im, 9).map { g =>
      var hashVal = 0L
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          if (g(y * 9 + x + 1) > g(y * 9 + x)) hashVal |= 1L << (y * 8 + x)
          x += 1
        }
        y += 1
      }
      hashVal
    }

  /** aHash (average hash): bit i = 1 iff grid cell i's mean luma exceeds
    * the mean of all 64 cells. Invariant to global brightness shifts
    * (cell and grand mean shift together) and to any recompression that
    * preserves cell-vs-mean ordering — the standard cheap perceptual
    * near-dup signature. */
  private[graft] def aHash64(blob: Array[Byte]): Option[Long] =
    readImage(blob).flatMap(aHashOf)

  /** dHash (difference hash): 9×8 grid, bit (row y, col x) = 1 iff cell
    * (x+1) is brighter than cell x — a horizontal-gradient signature,
    * robust to brightness AND contrast changes. */
  private[graft] def dHash64(blob: Array[Byte]): Option[Long] =
    readImage(blob).flatMap(dHashOf)

  /** Partition-parallel perceptual hashing: decode each image once, emit
    * (id, ahash, dhash, w, h), drop the blob — the narrow relation every
    * downstream dedup join runs on (blobs never transit a shuffle).
    * Undecodable / sub-8×8 blobs are dropped (same policy as
    * extractImageFeatures). */
  def imageHashes(media: Dataset[MediaRow]): Dataset[ImageHashes] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        for {
          im <- readImage(r.blob) // one decode serves both hashes
          a <- aHashOf(im)
          d <- dHashOf(im)
        } yield ImageHashes(r.id, a, d, im.getWidth, im.getHeight)
      }
    }
  }

  /** Image near-duplicate pairs — the north-star composition: perceptual
    * hash (aHash by default, dHash for gradient robustness) feeding the
    * bounded Hamming-radius join (Dedup.hammingPairs: pigeonhole bands +
    * saturated-bucket cap — never all-pairs, survives 100 TB of images).
    * Returns (a, b, hamming) with a < b and hamming <= maxHamming over
    * the chosen signature. Recompressed / brightness-shifted copies land
    * at distance 0–3 in practice; maxHamming ~3 is the usual radius. */
  def imageNearDupPairs(media: Dataset[MediaRow], maxHamming: Int = 3,
                        useDHash: Boolean = false,
                        maxBandBucket: Int = 1000): DataFrame = {
    val sigCol = if (useDHash) "dhash" else "ahash"
    // persisted: hammingPairs consumes the signature relation several
    // times (banding, hot-bucket census, verify re-joins) — without the
    // persist every consumer would re-DECODE the whole image corpus
    val sig = CacheScope.register(imageHashes(media).toDF().persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    Dedup.hammingPairs(sig, "id", sigCol,
      nBits = 64, maxHamming = maxHamming, maxBandBucket = maxBandBucket)
  }
}
