package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Text bytes stand in for media blobs: same plumbing, deterministic
    * content. */
  private def featuresFromText(docs: DataFrame): DataFrame = {
    val media = Multimodal.asMedia(
      docs.withColumn("blob", encode(col("text"), "UTF-8")),
      "doc_id", "blob", format = "text/utf-8")
    Multimodal.extractFeatures(media).toDF()
  }

  test("binary-column pipeline runs partition-parallel and is deterministic") {
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
    val f1 = featuresFromText(docs)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    val f2 = featuresFromText(docs.repartition(7))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(f1 == f2)
    assert(f1.size == docs.count())
  }

  test("byte-stats featurizer computes exact byte statistics") {
    val (sum, hist) = Multimodal.byteStats("AB".getBytes("UTF-8"))
    assert(sum == 65 + 66)
    assert(hist(4) == 2) // 'A'=0x41, 'B'=0x42 both in bucket 4
    assert(hist.sum == 2)
  }

  test("REAL image decode: PNG blobs through the full Spark pipeline") {
    // Deterministic tiny PNGs generated in-test (pixel = f(id, x, y)),
    // decoded by the real javax.imageio path in mapPartitions. Expected
    // features computed independently on the driver — asserts the
    // distributed decode is byte-faithful, not just non-crashing.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def png(id: Long): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(8, 5,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 5; x <- 0 until 8)
        im.setRGB(x, y, (id * 31 + y * 8 + x).toInt * 97 % 0x1000000)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", bos)
      bos.toByteArray
    }
    def expected(id: Long): (Double, Seq[Long]) = {
      val hist = new Array[Long](16); var sum = 0L
      for (y <- 0 until 5; x <- 0 until 8) {
        val rgb = (id * 31 + y * 8 + x).toInt * 97 % 0x1000000
        val luma = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587
          + (rgb & 0xff) * 114) / 1000
        hist(luma >> 4) += 1; sum += luma
      }
      (sum.toDouble / 40, hist.toSeq)
    }
    val df = (0L until 20L).map(i => (i, png(i))).toDF("id", "blob")
      .repartition(4)
    val media = Multimodal.asMedia(df, "id", "blob", "image/png")
    val feats = Multimodal.extractImageFeatures(media).collect()
    assert(feats.length == 20)
    feats.foreach { f =>
      val (mean, hist) = expected(f.id)
      assert(f.width == 8 && f.height == 5 && f.nPixels == 40)
      assert(f.meanLuma == mean, s"id=${f.id}")
      assert(f.lumaHist.toSeq == hist, s"id=${f.id}")
    }
    // undecodable bytes are dropped, not fatal
    val junk = Seq((99L, Array[Byte](1, 2, 3))).toDF("id", "blob")
    val none = Multimodal.extractImageFeatures(
      Multimodal.asMedia(junk, "id", "blob", "image/png")).count()
    assert(none == 0)
  }

  test("REAL audio decode: WAV blobs through the full Spark pipeline") {
    import spark.implicits._
    def wav(id: Long): (Array[Byte], Double, Long) = {
      val samples = Array.tabulate(100)(i => ((id * 13 + i * 3) % 400 - 200).toShort)
      val bytes = new Array[Byte](samples.length * 2)
      samples.zipWithIndex.foreach { case (s, i) =>
        bytes(2 * i) = (s & 0xff).toByte
        bytes(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), fmt, samples.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      val mean = samples.map(s => math.abs(s.toLong)).sum.toDouble / 100
      val peak = samples.map(s => math.abs(s.toLong)).max
      (bos.toByteArray, mean, peak)
    }
    val rows = (0L until 10L).map { i =>
      val (b, m, p) = wav(i); (i, b, m, p)
    }
    val df = rows.map(r => (r._1, r._2)).toDF("id", "blob").repartition(3)
    val feats = Multimodal.extractAudioFeatures(
        Multimodal.asMedia(df, "id", "blob", "audio/wav"))
      .collect().map(f => f.id -> f).toMap
    assert(feats.size == 10)
    rows.foreach { case (id, _, mean, peak) =>
      val f = feats(id)
      assert(f.sampleRate == 8000.0 && f.channels == 1 && f.nFrames == 100)
      assert(f.meanAbs == mean && f.peakAbs == peak, s"id=$id")
    }
    // undecodable bytes dropped, not fatal
    val junk = Seq((99L, Array[Byte](82, 73, 70, 70, 0))).toDF("id", "blob")
    assert(Multimodal.extractAudioFeatures(
      Multimodal.asMedia(junk, "id", "blob", "audio/wav")).count() == 0)
  }

  test("solid-gray JPEG roundtrip is exact for ALL 256 gray levels") {
    // The q53/q58 closed-form oracles lean on the JDK JPEG codec
    // preserving solid gray exactly (constant block ⇒ DC-only
    // coefficients, neutral chroma). That exactness is JDK-implementation
    // dependent — the luminance DC quantization step must divide
    // 8·(v−128) for EVERY v — so assert it exhaustively driver-side
    // instead of assuming it from a sampled fixture.
    for (v <- 0 until 256) {
      val im = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (v << 16) | (v << 8) | v
      for (y <- 0 until 8; x <- 0 until 8) im.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "jpg", bos)
      val got = Multimodal.decodeImage(bos.toByteArray)
      assert(got.isDefined, s"v=$v failed to decode")
      val (w, h, mean, _) = got.get
      assert(w == 8 && h == 8 && mean == v.toDouble,
        s"v=$v decoded mean=$mean")
    }
  }

  test("REAL video decode: MJPEG/AVI blobs through the full Spark pipeline") {
    // Each blob is a 3-frame MJPEG AVI of solid-GRAY 8×8 frames. Solid
    // gray survives JPEG bit-exactly (constant block ⇒ DC-only, neutral
    // chroma; verified for all 256 gray levels), so expected per-frame
    // meanLuma is the exact gray value — the encode→container-walk→
    // decode roundtrip is asserted arithmetically.
    import spark.implicits._
    def grayJpeg(v: Int): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (v << 16) | (v << 8) | v
      for (y <- 0 until 8; x <- 0 until 8) im.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "jpg", bos)
      bos.toByteArray
    }
    def gray(id: Long, f: Int): Int = ((id * 37 + f * 101) % 256).toInt
    val rows = (0L until 12L).map { id =>
      val avi = Multimodal.encodeMjpegAvi(
        (0 until 3).map(f => grayJpeg(gray(id, f))), 8, 8)
      (id, avi)
    }
    val df = rows.toDF("id", "blob").repartition(4)
    val frames = Multimodal.extractVideoFrames(
        Multimodal.asMedia(df, "id", "blob", "video/avi"))
      .collect().groupBy(_.id)
    assert(frames.size == 12)
    frames.foreach { case (id, fs) =>
      assert(fs.map(_.frameIdx).sorted.toSeq == Seq(0, 1, 2), s"id=$id")
      fs.foreach { fr =>
        assert(fr.width == 8 && fr.height == 8)
        assert(fr.meanLuma == gray(id, fr.frameIdx).toDouble,
          s"id=$id frame=${fr.frameIdx}")
      }
    }
    // non-AVI, truncated, and junk-frame blobs are dropped, not fatal
    val truncated = rows.head._2.take(40)
    val junk = Seq((97L, Array[Byte](1, 2, 3)), (98L, truncated)).toDF("id", "blob")
    assert(Multimodal.extractVideoFrames(
      Multimodal.asMedia(junk, "id", "blob", "video/avi")).count() == 0)
    // a corrupt middle frame leaves a HOLE (frame numbering stable)
    val holey = Multimodal.encodeMjpegAvi(
      Seq(grayJpeg(10), Array[Byte](9, 9, 9), grayJpeg(30)), 8, 8)
    val hdf = Seq((5L, holey)).toDF("id", "blob")
    val got = Multimodal.extractVideoFrames(
        Multimodal.asMedia(hdf, "id", "blob", "video/avi"))
      .collect().sortBy(_.frameIdx)
    assert(got.map(_.frameIdx).toSeq == Seq(0, 2))
    assert(got.map(_.meanLuma).toSeq == Seq(10.0, 30.0))
  }

  test("adversarial 100k-deep LIST nesting decodes iteratively, no overflow") {
    // ~12 bytes buy one nesting level, so a ~1.2 MB blob can force 100k
    // levels — a recursive container walk would die with
    // StackOverflowError, which is a VirtualMachineError the NonFatal
    // dropped-not-failed policy cannot catch. The iterative walk must
    // both survive AND still decode the frame at the bottom.
    val im = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8)
      im.setRGB(x, y, (77 << 16) | (77 << 8) | 77)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "jpg", bos)
    val jpeg = bos.toByteArray
    def le32(v: Int): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def cc(s: String): Array[Byte] =
      s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val frame = cc("00dc") ++ le32(jpeg.length) ++ jpeg ++
      (if (jpeg.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
    val depth = 100000
    val total = 12 + depth * 12 + frame.length
    val buf = new Array[Byte](total)
    def put(off: Int, b: Array[Byte]): Unit =
      System.arraycopy(b, 0, buf, off, b.length)
    put(0, cc("RIFF")); put(4, le32(total - 8)); put(8, cc("AVI "))
    var off = 12
    for (_ <- 0 until depth) {
      put(off, cc("LIST")); put(off + 4, le32(total - off - 8))
      put(off + 8, cc("movi"))
      off += 12
    }
    put(off, frame)
    val got = Multimodal.decodeVideoFrames(buf)
    assert(got.size == 1)
    assert(got.head._6 == 77.0) // meanLuma of the innermost frame
  }

  test("metadata rides alongside the blob with correct byte length") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((1L, "héllo")).toDF("id", "text")
      .withColumn("blob", encode(col("text"), "UTF-8"))
    val media = Multimodal.asMedia(df, "id", "blob", "text/utf-8")
    val row = media.head()
    assert(row.meta.nBytes == 6) // é is 2 bytes in UTF-8
    assert(row.meta.format == "text/utf-8")
  }

  /** Encode a w×h gray image with per-pixel value fn(x, y) as fmt bytes. */
  private def grayImage(w: Int, h: Int, fmt: String)(
      fn: (Int, Int) => Int): Array[Byte] = {
    Multimodal.initCodecs()
    val im = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = fn(x, y).max(0).min(255)
      im.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, fmt, bos)
    bos.toByteArray
  }

  private def hamming(a: Long, b: Long): Int =
    java.lang.Long.bitCount(a ^ b)

  test("aHash: closed-form on a block pattern, invariant to brightness " +
      "shift and to downscale-preserving resize") {
    // left half dark, right half bright → aHash = columns 4..7 set per row
    val base = grayImage(16, 16, "png")((x, _) => if (x < 8) 20 else 200)
    val expected = {
      var hv = 0L
      for (gy <- 0 until 8; gx <- 4 until 8) hv |= 1L << (gy * 8 + gx)
      hv
    }
    assert(Multimodal.aHash64(base).contains(expected))
    // +37 on both tones: thresholds against the shifted mean → same hash
    val brighter = grayImage(16, 16, "png")((x, _) => if (x < 8) 57 else 237)
    assert(Multimodal.aHash64(brighter) == Multimodal.aHash64(base))
    // 4× resolution: area-averaged grid sees the same pattern
    val big = grayImage(64, 64, "png")((x, _) => if (x < 32) 20 else 200)
    assert(Multimodal.aHash64(big) == Multimodal.aHash64(base))
    // a genuinely different pattern is FAR (no false near-dup)
    val other = grayImage(16, 16, "png")((_, y) => if (y < 8) 20 else 200)
    assert(hamming(Multimodal.aHash64(other).get, expected) > 16)
  }

  test("dHash: horizontal gradient signature, contrast-invariant") {
    // luma ramps left→right: every adjacent-cell difference positive
    val ramp = grayImage(18, 16, "png")((x, _) => x * 14)
    assert(Multimodal.dHash64(ramp).contains(-1L)) // all 64 bits set
    val flat = grayImage(18, 16, "png")((_, _) => 128)
    assert(Multimodal.dHash64(flat).contains(0L))
    // halving the contrast keeps every gradient sign → same hash
    val lowContrast = grayImage(18, 16, "png")((x, _) => 64 + x * 7)
    assert(Multimodal.dHash64(lowContrast) == Multimodal.dHash64(ramp))
  }

  test("aHash survives REAL JPEG recompression at a small Hamming radius") {
    // A structured pattern (vertical two-tone stripes, 2 cells wide)
    // recompressed as lossy JPEG: ringing perturbs pixels but not the
    // cell-vs-mean ordering — the recompressed copy must land within
    // the radius-3 near-dup ball of the PNG original.
    def stripes(x: Int, y: Int): Int = if ((x / 4) % 2 == 0) 30 else 220
    val png = grayImage(32, 32, "png")(stripes)
    val jpg = grayImage(32, 32, "jpg")(stripes)
    val (pa, ja) = (Multimodal.aHash64(png).get, Multimodal.aHash64(jpg).get)
    assert(hamming(pa, ja) <= 3,
      s"JPEG recompression drifted aHash by ${hamming(pa, ja)} bits")
    val (pd, jd) = (Multimodal.dHash64(png).get, Multimodal.dHash64(jpg).get)
    assert(hamming(pd, jd) <= 6,
      s"JPEG recompression drifted dHash by ${hamming(pd, jd)} bits")
  }

  test("imageNearDupPairs: recompressed + brightness-shifted copies " +
      "caught; distinct images not paired (end-to-end near-dup)") {
    import spark.implicits._
    def stripes(x: Int, y: Int): Int = if ((x / 4) % 2 == 0) 30 else 220
    def checker(x: Int, y: Int): Int =
      if ((x / 4 + y / 4) % 2 == 0) 30 else 220
    val blobs = Seq(
      (1L, grayImage(32, 32, "png")(stripes)), // original
      (2L, grayImage(32, 32, "jpg")(stripes)), // recompressed copy
      (3L, grayImage(32, 32, "png")((x, y) => stripes(x, y) + 25)), // brighter copy
      (4L, grayImage(32, 32, "png")(checker)), // different image
      (5L, Array[Byte](1, 2, 3)) // undecodable: dropped, not failed
    ).toDF("id", "blob")
    val media = Multimodal.asMedia(blobs, "id", "blob", "image/mixed")
    val pairs = Multimodal.imageNearDupPairs(media, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"expected the copy-cluster pairs only, got $pairs")
    // dHash variant runs through the same join machinery
    val dPairs = Multimodal.imageNearDupPairs(media, maxHamming = 6,
        useDHash = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dPairs.contains((1L, 2L)) && !dPairs.exists(p =>
      p._1 == 4L || p._2 == 4L))
  }
}
