package graft

import graft.multimodal.Multimodal
import graft.util.TempDirs
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

class MultimodalSpec extends GraftSpec {

  private lazy val mediaDir = {
    val dir = Paths.get(TempDirs.scratch("graft-media"))
    Files.write(dir.resolve("a.img"), Array.tabulate[Byte](400)(i => (i % 251).toByte))
    Files.write(dir.resolve("b.img"), Array.tabulate[Byte](100)(i => (i % 7).toByte))
    Files.write(dir.resolve("skip.txt"), "not media".getBytes)
    dir.toString
  }

  test("binaryFile scan respects the glob and carries payload + length") {
    val df = Multimodal.scanMedia(spark, mediaDir, "*.img")
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getAs[Long]("length") > 0))
  }

  test("decode+featurize appends typed meta and unit-scale features") {
    val df  = Multimodal.scanMedia(spark, mediaDir, "*.img")
    val out = Multimodal.decodeAndFeaturize(df, new Multimodal.StubImageDecoder(16))
    val rows = out.collect()
    assert(rows.forall(_.getAs[Boolean]("decode_ok")))
    rows.foreach { r =>
      val meta = r.getAs[org.apache.spark.sql.Row]("meta")
      assert(meta.getAs[Int]("width") > 0 && meta.getAs[Int]("channels") == 3)
      val feats = r.getAs[scala.collection.Seq[Float]]("features")
      assert(feats.length == 16)
      assert(math.abs(feats.sum - 1.0f) < 1e-3) // normalized histogram
    }
    // deterministic: same payload → same features
    val again = Multimodal.decodeAndFeaturize(df, new Multimodal.StubImageDecoder(16))
      .orderBy("path").collect().map(_.getAs[scala.collection.Seq[Float]]("features"))
    assert(out.orderBy("path").collect()
      .map(_.getAs[scala.collection.Seq[Float]]("features")).toSeq == again.toSeq)
  }

  test("metadata-only projection prunes the binary column at the scan") {
    val df = Multimodal.scanMedia(spark, mediaDir, "*.img").select("path", "length")
    val scan = df.queryExecution.executedPlan.toString
    assert(!scan.contains("content#") || !scan.toLowerCase.contains("readschema: struct<path: string, length: bigint, content"),
      s"binary column not pruned:\n$scan")
    assert(df.count() == 2)
  }

  test("media features compose with the vector near-dup operator") {
    // duplicate payload under a new name → near-dup by feature cosine
    val dupDir = Paths.get(TempDirs.scratch("graft-media-dup"))
    val payload = Array.tabulate[Byte](400)(i => (i % 251).toByte)
    Files.write(java.nio.file.Paths.get(dupDir.toString, "x.img"), payload)
    Files.write(java.nio.file.Paths.get(dupDir.toString, "y.img"), payload)
    Files.write(java.nio.file.Paths.get(dupDir.toString, "z.img"),
      Array.tabulate[Byte](300)(i => ((i * 7) % 127).toByte))

    val feats = Multimodal.decodeAndFeaturize(
      Multimodal.scanMedia(spark, dupDir.toString, "*.img"),
      new Multimodal.StubImageDecoder(16))
      .select(col("path").as("id"),
        graft.functions.VectorFunctions.l2Normalize(col("features"))
          .cast("array<float>").as("vec"))
    val pairs = graft.operators.Knn.nearestPairs(feats, "id", "vec", 3)
      .collect()
    val top = pairs.head
    assert(top.getAs[Double]("score") > 0.999,
      s"identical payloads should be cosine-1: ${pairs.mkString(";")}")
    val topIds = Set(top.getAs[String]("id_a"), top.getAs[String]("id_b"))
    assert(topIds.forall(p => p.contains("x.img") || p.contains("y.img")))
  }

  test("ImageIoDecoder decodes real PNG bytes: exact geometry + channel sums") {
    // 3x2 RGB PNG with distinct per-channel values — catches channel
    // swaps, not just geometry
    val img = new java.awt.image.BufferedImage(
      3, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 3)
      img.setRGB(x, y, (10 + x) << 16 | (20 + y) << 8 | 30)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val dec = new Multimodal.ImageIoDecoder
    val Some((meta, feats)) = dec.decode(baos.toByteArray)
    assert(meta.getAs[Int](0) == 3 && meta.getAs[Int](1) == 2)
    assert(meta.getAs[Int](2) == 3 && meta.getAs[String](3) == "png")
    // sum_r = 2*(10+11+12)=66, sum_g = 3*(20+21)=123, sum_b = 6*30=180
    assert(feats.toSeq == Seq(66f, 123f, 180f, 6f))
  }

  test("ImageIoDecoder fails gracefully on garbage; FallbackDecoder degrades to stub") {
    val dec = new Multimodal.ImageIoDecoder
    assert(dec.decode(Array[Byte](1, 2, 3, 4, 5)).isEmpty)
    assert(dec.decode(Array.emptyByteArray).isEmpty)
    assert(dec.decode(null).isEmpty)
    // truncated PNG: valid magic, unreadable body → None, not a throw
    val magic = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a, 0, 0)
    assert(dec.decode(magic).isEmpty)
    val fb = new Multimodal.FallbackDecoder(
      new NarrowImageIo, new Multimodal.StubImageDecoder(4))
    val Some((meta, _)) = fb.decode(Array[Byte](1, 2, 3, 4, 5))
    assert(meta.getAs[String](3) == "stub") // positional: schemaless Row
  }

  /** ImageIoDecoder restricted to featureDim parity with a 4-dim stub. */
  private class NarrowImageIo extends Multimodal.MediaDecoder {
    private val inner = new Multimodal.ImageIoDecoder
    override val featureDim = 4
    override def decode(b: Array[Byte]) = inner.decode(b)
  }

  test("decode+featurize with the real decoder flags garbage rows, keeps good ones") {
    val mixDir = Paths.get(TempDirs.scratch("graft-media-mix"))
    val img = new java.awt.image.BufferedImage(
      4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    Files.write(mixDir.resolve("good.png"), baos.toByteArray)
    Files.write(mixDir.resolve("junk.png"), Array[Byte](9, 9, 9))
    val out = Multimodal.decodeAndFeaturize(
      Multimodal.scanMedia(spark, mixDir.toString, "*.png"),
      new Multimodal.ImageIoDecoder)
      .select("path", "decode_ok").collect()
    assert(out.length == 2)
    assert(out.count(_.getAs[Boolean]("decode_ok")) == 1)
    assert(out.find(!_.getAs[Boolean]("decode_ok")).get
      .getAs[String]("path").contains("junk"))
  }

  test("WavPcmDecoder round-trips synthetic PCM16 clips with exact stats") {
    import org.apache.spark.sql.functions.col
    val ids = spark.range(0, 8).toDF("doc_id")
    val out = Multimodal.decodeAndFeaturize(
      Multimodal.syntheticWavs(ids, "doc_id"), new Multimodal.WavPcmDecoder)
      .collect()
    assert(out.length == 8)
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Boolean]("decode_ok"), s"doc $id failed to decode")
      val meta = r.getAs[org.apache.spark.sql.Row]("meta")
      assert(meta.getAs[Int]("width") == (8000 + (id % 4) * 4000).toInt)
      assert(meta.getAs[Int]("height") == (256 + (id % 16) * 16).toInt)
      assert(meta.getAs[Int]("channels") == (1 + id % 2).toInt)
      assert(meta.getAs[String]("format") == "wav")
      // replay the closed-form samples and compare exact integer stats
      val n = (256 + (id % 16) * 16).toInt * (1 + id % 2).toInt
      val samples = (0 until n).map(k => ((id * 31 + k.toLong * 7919) % 4001 - 2000).toInt)
      val feats = r.getAs[scala.collection.Seq[Float]]("features")
      assert(feats(0).toLong == samples.map(v => math.abs(v).toLong).sum)
      assert(feats(1).toLong == samples.map(_.toLong).sum)
      assert(feats(2).toLong == samples.map(v => math.abs(v)).max.toLong)
      assert(feats(3).toLong == n.toLong)
    }
  }

  test("WavPcmDecoder: 8-bit PCM, junk-chunk skipping, graceful failures") {
    val dec = new Multimodal.WavPcmDecoder
    // hand-build an 8-bit mono WAV with an ODD-size junk chunk before fmt
    def wav8(samples: Array[Int], junkOdd: Boolean): Array[Byte] = {
      val junk = if (junkOdd) 8 + 3 + 1 else 0 // header + 3 bytes + pad
      val bb = java.nio.ByteBuffer.allocate(12 + junk + 24 + 8 + samples.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(4 + junk + 24 + 8 + samples.length)
        .put("WAVE".getBytes)
      if (junkOdd) { bb.put("LIST".getBytes).putInt(3).put(Array[Byte](1, 2, 3, 0)) }
      bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
        .putInt(11025).putInt(11025).putShort(1).putShort(8)
      bb.put("data".getBytes).putInt(samples.length)
      samples.foreach(v => bb.put((v + 128).toByte)) // 8-bit WAV is unsigned
      bb.array()
    }
    val samples = Array(-128, -1, 0, 1, 127, 64)
    for (odd <- Seq(false, true)) {
      val Some((meta, f)) = dec.decode(wav8(samples, junkOdd = odd))
      assert(meta.getAs[Int](0) == 11025 && meta.getAs[Int](2) == 1)
      assert(f(0).toInt == samples.map(math.abs).sum)
      assert(f(1).toInt == samples.sum)
      assert(f(2).toInt == 128 && f(3).toInt == samples.length)
    }
    // failures: garbage, truncated, non-PCM format code
    assert(dec.decode(Array[Byte](1, 2, 3)).isEmpty)
    assert(dec.decode("RIFFxxxxWAVE".getBytes ++ Array.fill[Byte](40)(0)).isEmpty)
    val float32 = wav8(samples, junkOdd = false)
    float32(12 + 8) = 3 // audioFormat = 3 (IEEE float): unsupported
    assert(dec.decode(float32).isEmpty)
  }

  test("aHash: brightness-shift invariant, geometry-sensitive, garbage-safe") {
    import spark.implicits._
    // doc 0 and doc 9 share dims (8x8) and differ only by a +9 shift of
    // every pixel (no mod wrap at these ids) -> identical aHash; doc 1
    // has different geometry -> (almost surely) a different bit pattern
    val ids = Seq(0L, 9L, 1L).toDF("doc_id")
    val h = Multimodal.aHash(Multimodal.syntheticPngs(ids, "doc_id"))
      .select("doc_id", "phash_hi", "phash_lo", "ahash_ok")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(h.values.forall(_._3), "all synthetic PNGs must hash ok")
    assert((h(0L)._1, h(0L)._2) == (h(9L)._1, h(9L)._2),
      "same-geometry shifted gradients must collide")
    assert((h(0L)._1, h(0L)._2) != (h(1L)._1, h(1L)._2),
      "different geometry must separate on this fixture")
    // hashes are non-negative (32 bits per long half)
    assert(h.values.forall(v => v._1 >= 0L && v._2 >= 0L))
    // garbage bytes keep the row, flagged
    val bad = Multimodal.aHash(
      Seq((1L, Array[Byte](1, 2, 3))).toDF("id", "content"))
      .select("ahash_ok", "phash_hi").head()
    assert(!bad.getBoolean(0) && bad.isNullAt(1))
  }

  test("audioEnergyFingerprint: exact levels from real PCM, garbage-safe") {
    import spark.implicits._
    // tone families: same family -> identical fingerprint; the levels
    // replay from the amplitude formula exactly
    val ids = (0L until 10L).toDF("doc_id")
    val got = Multimodal.audioEnergyFingerprint(
        Multimodal.syntheticToneWavs(ids, "doc_id"), windows = 8)
      .select("doc_id", "afp", "afp_ok")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getBoolean(2)))
      .toMap
    assert(got.values.forall(_._2))
    val md = java.security.MessageDigest.getInstance("MD5")
    for (id <- 0L until 10L) {
      val g = id / 5
      val amps = Array.tabulate(8) { w =>
        200 + 150 * (((md.digest(s"$g:$w".getBytes("UTF-8"))(0) >> 4) & 0xf) % 8)
      }
      val expect = amps.map(a => a.toLong * 31 / amps.max).mkString("-")
      assert(got(id)._1 == expect, s"doc $id: fingerprint != formula")
    }
    assert(got(0L)._1 == got(4L)._1, "family members must collide")
    assert(got(0L)._1 != got(5L)._1, "distinct families must separate")
    // the generic-WAV path also fingerprints (interleaved q58 clips)
    val generic = Multimodal.audioEnergyFingerprint(
        Multimodal.syntheticWavs(ids, "doc_id"), windows = 4)
      .select("afp_ok").collect()
    assert(generic.forall(_.getBoolean(0)))
    // garbage, truncated, and too-short clips keep rows flagged false
    val junk = Seq(
      (1L, Array[Byte](1, 2, 3)),
      (2L, "RIFFxxxxWAVE".getBytes ++ Array.fill[Byte](40)(0)),
      (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "content")
    val bad = Multimodal.audioEnergyFingerprint(junk)
      .select("afp_ok", "afp").collect()
    assert(bad.length == 3 && bad.forall(r => !r.getBoolean(0) && r.isNullAt(1)))
    intercept[IllegalArgumentException](
      Multimodal.audioEnergyFingerprint(junk, windows = 0))
  }

  test("spiked PNGs: the decoded aHash IS the closed-form spike mask") {
    import spark.implicits._
    val ids = (0L until 20L).toDF("doc_id")
    val got = Multimodal.aHash(Multimodal.syntheticSpikedPngs(ids, "doc_id"))
      .select("doc_id", "phash_hi", "phash_lo", "ahash_ok")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(got.values.forall(_._3))
    val md = java.security.MessageDigest.getInstance("MD5")
    for (id <- 0L until 20L) {
      val g = id / 4; val v = (id % 4).toInt
      var hi = 0L; var lo = 0L
      for (i <- 0 until 64) {
        val base = (((md.digest(s"$g:$i".getBytes("UTF-8"))(0) >> 4) & 0xf) & 1) == 1
        val flip = v match {
          case 1 => i == (g % 64).toInt
          case 2 => i == (g % 64).toInt || i == ((g + 32) % 64).toInt
          case 3 => i % 8 == (g % 8).toInt
          case _ => false
        }
        if (base ^ flip) { if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32) }
      }
      assert((got(id)._1, got(id)._2) == (hi, lo),
        s"doc $id: decoded hash != closed-form mask")
    }
  }

  test("imageNearDupPairs: pigeonhole-exhaustive to dist 3, full-hamming verified") {
    import spark.implicits._
    // the pigeonhole bound itself, EXHAUSTIVELY: no 3-subset of the 64
    // bit positions can touch all four 16-bit bands, so a band-key
    // equi-join is a complete candidate generator for dist <= 3
    for (i <- 0 until 64; j <- i + 1 until 64; k <- j + 1 until 64)
      assert(Set(i / 16, j / 16, k / 16).size < 4)
    // and the requirement guard refuses thresholds past the bound
    val dummy = Seq((0L, 0L, 0L)).toDF("doc_id", "phash_hi", "phash_lo")
    intercept[IllegalArgumentException] {
      Multimodal.imageNearDupPairs(dummy, "doc_id", maxDist = 4)
    }

    // Spark-side recall + precision: one base hash, variants at every
    // dist-1 position, deterministic dist-2/3 sets, one dist-4 flip
    // confined to band 0 (collides in bands 1-3 — candidate, but the
    // full-hamming verify must reject it), one far hash (no collision)
    val baseHi = 0x5a3cc3a5L   // 32-bit halves, like aHash emits
    val baseLo = 0x9669aa55L
    def flip(hi: Long, lo: Long, bits: Seq[Int]): (Long, Long) =
      bits.foldLeft((hi, lo)) { case ((h, l), i) =>
        if (i < 32) (h, l ^ (1L << i)) else (h ^ (1L << (i - 32)), l)
      }
    val d1 = (0 until 64).map(i => Seq(i))
    val d2 = (0 until 64 by 3).map(i => Seq(i, (i + 21) % 64))
    val d3 = (0 until 64 by 5).map(i => Seq(i, (i + 17) % 64, (i + 41) % 64))
    val variants = (d1 ++ d2 ++ d3).zipWithIndex.map { case (bits, n) =>
      val (h, l) = flip(baseHi, baseLo, bits.distinct)
      (1000L + n, h, l, bits.distinct.size.toLong)
    }
    val d4 = flip(baseHi, baseLo, Seq(0, 1, 2, 3))   // all in band 0
    val rows = Seq((0L, baseHi, baseLo, 0L)) ++ variants ++
      Seq((9000L, d4._1, d4._2, 4L),
        (9001L, ~baseHi & 0xffffffffL, ~baseLo & 0xffffffffL, -1L))
    val hashed = rows.map(r => (r._1, r._2, r._3))
      .toDF("doc_id", "phash_hi", "phash_lo")
    val got = Multimodal.imageNearDupPairs(hashed, "doc_id", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for ((id, _, _, d) <- variants)
      assert(got.get((0L, id)).contains(d),
        s"variant $id at dist $d must pair with base, got ${got.get((0L, id))}")
    assert(!got.contains((0L, 9000L)), "dist-4 candidate must be verified away")
    assert(!got.contains((0L, 9001L)), "far hash must not pair")
  }

  test("resizeNearest: exact nearest-neighbor pixels, garbage flags resize_ok=false") {
    import org.apache.spark.sql.functions.col
    val ids = spark.range(0, 6).toDF("doc_id")
    val res = Multimodal.resizeNearest(
      Multimodal.syntheticPngs(ids, "doc_id"), outW = 4, outH = 4)
    val rows = res.select("doc_id", "resized", "resize_ok").collect()
    assert(rows.forall(_.getAs[Boolean]("resize_ok")))
    rows.foreach { r =>
      val id  = r.getAs[Long]("doc_id")
      val w   = (8 + id % 9).toInt
      val h   = (8 + (3 * id) % 9).toInt
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("resized")))
      assert(img.getWidth == 4 && img.getHeight == 4)
      for (y <- 0 until 4; x <- 0 until 4) {
        val v = ((id + (x * w / 4) + (y * h / 4)) % 256).toInt
        assert((img.getRGB(x, y) & 0xff) == v,
          s"doc $id pixel ($x,$y): got ${img.getRGB(x, y) & 0xff}, want $v")
      }
    }
    // garbage bytes keep the row, flagged
    val junk = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(Array[Byte](1, 2, 3))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType))))
    val out = Multimodal.resizeNearest(junk, 4, 4).collect()
    assert(out.length == 1 && !out.head.getAs[Boolean]("resize_ok"))
    assert(out.head.getAs[Array[Byte]]("resized") == null)
  }

  test("AVI demux: real frames round-trip; garbage/compressed degrade to zero rows") {
    import graft.multimodal.Avi
    val ids = spark.range(0, 5).toDF("doc_id")
    val out = Avi.sampleFrames(Avi.syntheticAvis(ids, "doc_id"),
      stride = 2, maxFrames = 3).collect()
    // per-id expected sampled indices: {0,2} for n=4, {0,2,4} for n in {5,6}
    val expected = (0L until 5L).map(id => id -> Seq(0, 2, 4)
      .filter(_ < (4 + id % 3).toInt)).toMap
    assert(out.groupBy(_.getAs[Long]("doc_id")).view
      .mapValues(_.map(_.getAs[Int]("frame_index")).sorted.toSeq).toMap
      == expected)
    // decode one frame and check an exact pixel against the formula
    val r   = out.find(r => r.getAs[Long]("doc_id") == 3L &&
      r.getAs[Int]("frame_index") == 2).get
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("frame")))
    assert(img.getWidth == (8 + 3 % 5) && img.getHeight == (8 + 6 % 5))
    for (x <- 0 until img.getWidth; y <- 0 until img.getHeight)
      assert((img.getRGB(x, y) & 0xff) == ((3 + 3 * 2 + x + y) % 256),
        s"pixel ($x,$y)")
    // degradation: non-AVI bytes and a compressed-codec strf emit nothing
    def one(content: Array[Byte]) = {
      val df = spark.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row(content)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("content",
            org.apache.spark.sql.types.BinaryType))))
      Avi.sampleFrames(df, 1, 10).count()
    }
    assert(one(Array[Byte](1, 2, 3)) == 0)
    val avi = Avi.syntheticAvis(spark.range(1).toDF("doc_id"), "doc_id")
      .collect().head.getAs[Array[Byte]]("content")
    // corrupt the strf biCompression field (offset: find 'strf' tag)
    val strfAt = avi.indices.find(i => i + 4 <= avi.length &&
      avi(i) == 's' && avi(i + 1) == 't' && avi(i + 2) == 'r' &&
      avi(i + 3) == 'f').get
    val compressed = avi.clone()
    compressed(strfAt + 8 + 16) = 1 // biCompression = BI_RLE8
    assert(one(compressed) == 0)
    // review-derived crashers, all must degrade to zero rows not a dead task:
    def le32(v: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v).array()
    // (a) truncated strf: declared size 40 but only 10 body bytes exist
    assert(one("RIFF".getBytes ++ le32(100) ++ "AVI ".getBytes ++
      "strf".getBytes ++ le32(40) ++ Array.fill[Byte](10)(0)) == 0)
    // (b) chunk size near Int.MaxValue: Int advance would wrap negative
    assert(one("RIFF".getBytes ++ le32(100) ++ "AVI ".getBytes ++
      "junk".getBytes ++ le32(0x7ffffff0) ++ Array.fill[Byte](8)(0)) == 0)
    // (c) crafted giant geometry: stride*height wraps Int; must not
    // attempt a multi-GB BufferedImage
    val giant = avi.clone()
    System.arraycopy(le32(0x20000000), 0, giant, strfAt + 8 + 4, 4) // biWidth
    assert(one(giant) == 0)
  }

  test("MJPEG AVI: JPEG frames decode near-exact; a corrupt frame degrades per-frame") {
    import graft.multimodal.Avi
    val ids = spark.range(0, 6).toDF("doc_id")
    val out = Avi.sampleFrames(Avi.syntheticMjpegAvis(ids, "doc_id"),
      stride = 2, maxFrames = 3).collect()
    val expected = (0L until 6L).map(id => id -> Seq(0, 2, 4)
      .filter(_ < (4 + id % 3).toInt)).toMap
    assert(out.groupBy(_.getAs[Long]("doc_id")).view
      .mapValues(_.map(_.getAs[Int]("frame_index")).sorted.toSeq).toMap
      == expected)
    for (r <- out) {
      val id = r.getAs[Long]("doc_id")
      val fi = r.getAs[Int]("frame_index")
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("frame")))
      // geometry survives the lossy codec EXACTLY
      assert(img.getWidth == (16 + 8 * (id % 3)).toInt &&
        img.getHeight == (16 + 8 * ((id + 1) % 3)).toInt, s"id=$id f=$fi")
      // constant-gray frames are DC-only blocks: the decoded mean stays
      // within the DC quantization step of the encoded constant
      val v = ((7 * id + 11 * fi) % 256).toInt
      var sum = 0L; var n = 0
      for (x <- 0 until img.getWidth; y <- 0 until img.getHeight) {
        sum += img.getRGB(x, y) & 0xff; n += 1
      }
      val mean = sum.toDouble / n
      assert(math.abs(mean - v) <= 6.0, s"id=$id f=$fi mean=$mean want~$v")
    }
    // corrupt ONE frame's JPEG bytes: that frame drops, siblings survive
    val avi = Avi.syntheticMjpegAvis(spark.range(2, 3).toDF("doc_id"), "doc_id")
      .collect().head.getAs[Array[Byte]]("content")
    val dcOffsets = avi.indices.filter(i => i + 4 <= avi.length &&
      avi(i) == '0' && avi(i + 1) == '0' && avi(i + 2) == 'd' &&
      avi(i + 3) == 'c')
    assert(dcOffsets.size == 6) // id=2 -> 4 + 2%3 = 6 frames
    val corrupted = avi.clone()
    val at = dcOffsets.head + 8 // first frame's payload: garble the SOI
    corrupted(at) = 0; corrupted(at + 1) = 0; corrupted(at + 2) = 0
    val df = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(corrupted)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType))))
    val rows = Avi.sampleFrames(df, 1, 10).collect()
    assert(rows.map(_.getAs[Int]("frame_index")).sorted.toSeq ==
      Seq(1, 2, 3, 4, 5))
  }

  test("frame sampling explodes video payloads into bounded frame rows") {
    val df  = Multimodal.scanMedia(spark, mediaDir, "*.img")
    val out = Multimodal.sampleFrames(df, stride = 50, maxFrames = 4)
    val byPath = out.groupBy("path").agg(count(lit(1)).as("n"),
      max("frame_index").as("maxf")).collect()
    byPath.foreach { r =>
      assert(r.getAs[Long]("n") <= 4)
      assert(r.getAs[Int]("maxf") == r.getAs[Long]("n") - 1)
    }
    val frames = out.select("frame").collect()
    assert(frames.forall(_.getAs[Array[Byte]]("frame").nonEmpty))
  }

  test("imageNearDupFlags join shapes: broadcast vs bucketed sort-merge") {
    import spark.implicits._
    // tiny two-sided fixture — the assert is about the PLAN, the row
    // parity between the two shapes is the point of the q5R/q5L twins
    def hashed(ids: Seq[Long]) = Multimodal.aHash(
      Multimodal.syntheticSpikedPngs(ids.toDF("doc_id"), "doc_id"))
      .filter(col("ahash_ok"))
    val corpus   = hashed(0L until 20L)
    val incoming = hashed(Seq(3L, 7L, 40L))
    val bcast = Multimodal.imageNearDupFlags(corpus, incoming, "doc_id",
      maxDist = 3, broadcastCorpus = true)
    val merge = Multimodal.imageNearDupFlags(corpus, incoming, "doc_id",
      maxDist = 3, broadcastCorpus = false)
    // scale path: the corpus side must NOT materialize on every task —
    // sort-merge on (band, key), zero BroadcastExchange anywhere
    val mergePlan = merge.queryExecution.executedPlan.toString
    assert(mergePlan.contains("SortMergeJoin"),
      s"bucketed path lost its sort-merge join:\n$mergePlan")
    assert(!mergePlan.contains("BroadcastExchange"),
      s"bucketed path still broadcasts:\n$mergePlan")
    // reference path really broadcasts
    val bcastPlan = bcast.queryExecution.executedPlan.toString
    assert(bcastPlan.contains("BroadcastExchange"),
      s"broadcast path lost its hint:\n$bcastPlan")
    // and the two shapes emit the SAME pairs
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val (rb, rm) = (rows(bcast), rows(merge))
    assert(rb == rm, s"shape changed the answer: $rb vs $rm")
    assert(rb.nonEmpty, "fixture produced no near-dup pairs (vacuous test)")
  }
}
