package graft.mm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "a" * 100), (1L, "b" * 50), (2L, "c" * 75)
  ).toDF("doc_id", "text")

  test("mediaTable: binary payload + cycling modality") {
    val m = Multimodal.mediaTable(docs).collect().map(r =>
      (r.getLong(0), r.getAs[Array[Byte]](1).length, r.getString(2)))
    assert(m.toSet == Set((0L, 100, "image"), (1L, 50, "audio"), (2L, 75, "video")))
  }

  test("extractFeatures: deterministic stub features per modality") {
    val f = Multimodal.extractFeatures(Multimodal.mediaTable(docs))
      .collect().map(x => x.media_id -> x).toMap
    assert(f(0L).n_bytes == 100 && f(0L).width == 100 && f(0L).height == 100 / 7 && f(0L).n_frames == 1)
    assert(f(1L).n_frames == 50 && f(1L).width == 0)
    assert(f(2L).width == 75 && f(2L).height == 75 && f(2L).n_frames == 75)
    // checksum is a pure function of the payload
    val again = Multimodal.extractFeatures(Multimodal.mediaTable(docs))
      .collect().map(x => x.media_id -> x.checksum).toMap
    assert(f.map { case (k, v) => k -> v.checksum } == again)
  }

  test("extractFeatures decodes REAL image payloads (PNG + BMP) to true dimensions") {
    def encode(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 0xff8800)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer in JDK")
      bos.toByteArray
    }
    val media = Seq(
      (10L, encode("png", 17, 9), "image"),
      (11L, encode("bmp", 33, 21), "image"),
      (12L, "not an image".getBytes("UTF-8"), "image") // stub fallback
    ).toDF("media_id", "payload", "media_type")
    val f = Multimodal.extractFeatures(media).collect().map(x => x.media_id -> x).toMap
    assert(f(10L).width == 17 && f(10L).height == 9 && f(10L).n_frames == 1,
      s"PNG dims must be real: ${f(10L)}")
    assert(f(11L).width == 33 && f(11L).height == 21, s"BMP dims must be real: ${f(11L)}")
    val n = "not an image".getBytes("UTF-8").length
    assert(f(12L).width == n % 1024 && f(12L).height == (n / 7) % 1024,
      "unrecognized payloads keep the deterministic stub features")
  }

  test("extractFeatures decodes REAL audio payloads (WAV + AIFF) to true header metadata") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    def encode(tpe: AudioFileFormat.Type, rate: Float, channels: Int,
               frames: Int): Array[Byte] = {
      val fmt = new AudioFormat(rate, 16, channels, true, false)
      val data = new Array[Byte](frames * fmt.getFrameSize)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, frames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, tpe, bos)
      bos.toByteArray
    }
    val media = Seq(
      (20L, encode(AudioFileFormat.Type.WAVE, 16000f, 1, 800), "audio"),
      (21L, encode(AudioFileFormat.Type.AIFF, 44100f, 2, 1234), "audio"),
      (22L, "not audio at all".getBytes("UTF-8"), "audio") // stub fallback
    ).toDF("media_id", "payload", "media_type")
    val f = Multimodal.extractFeatures(media).collect().map(x => x.media_id -> x).toMap
    // feature slots carry (sample rate, channels, frame count)
    assert(f(20L).width == 16000 && f(20L).height == 1 && f(20L).n_frames == 800,
      s"WAV header metadata must be real: ${f(20L)}")
    assert(f(21L).width == 44100 && f(21L).height == 2 && f(21L).n_frames == 1234,
      s"AIFF header metadata must be real: ${f(21L)}")
    val n = "not audio at all".getBytes("UTF-8").length
    assert(f(22L).width == 0 && f(22L).height == 0 && f(22L).n_frames == n % 4096,
      "unrecognized payloads keep the deterministic stub features")
  }

  test("extractFeatures decodes REAL MP4 payloads (minimal generated boxes) to true metadata") {
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8 + payload.length)
      b.putInt(8 + payload.length).put(typ.getBytes("ISO-8859-1")).put(payload)
      b.array()
    }
    // mvhd v0: version+flags, creation, modification, timescale, duration
    def mvhd(timescale: Int, duration: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(100)
      b.putInt(0).putInt(0).putInt(0).putInt(timescale).putInt(duration)
      box("mvhd", b.array())
    }
    // mvhd v1: 64-bit creation/modification/duration
    def mvhdV1(timescale: Int, duration: Long): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(112)
      b.putInt(0x01000000).putLong(0L).putLong(0L).putInt(timescale).putLong(duration)
      box("mvhd", b.array())
    }
    // tkhd v0: 20 bytes of ids/duration, 16 bytes layer/volume, 36-byte
    // matrix, then 16.16-fixed width and height
    def tkhd(w: Int, h: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(84)
      b.position(76)
      b.putInt(w << 16).putInt(h << 16)
      box("tkhd", b.array())
    }
    def trak(w: Int, h: Int): Array[Byte] = box("trak", tkhd(w, h))
    val ftyp = box("ftyp", "isom0000isom".getBytes("ISO-8859-1"))
    // 90s at timescale 600 = 54000 ticks; audio track first (0x0), the
    // video track's dims must still be found
    val mp4 = ftyp ++ box("moov",
      mvhd(600, 54000) ++ trak(0, 0) ++ trak(640, 360))
    val mp4v1 = ftyp ++ box("moov", mvhdV1(1000, 2500L) ++ trak(1920, 1080))
    val truncated = mp4.take(40) // header cut mid-moov
    val media = Seq(
      (30L, mp4, "video"),
      (31L, mp4v1, "video"),
      (32L, truncated, "video"),
      (33L, "definitely not a movie".getBytes("UTF-8"), "video")
    ).toDF("media_id", "payload", "media_type")
    val f = Multimodal.extractFeatures(media).collect().map(x => x.media_id -> x).toMap
    assert(f(30L).width == 640 && f(30L).height == 360 && f(30L).n_frames == 90000,
      s"v0 mp4 must decode dims + duration ms: ${f(30L)}")
    assert(f(31L).width == 1920 && f(31L).height == 1080 && f(31L).n_frames == 2500,
      s"v1 mp4 must decode 64-bit duration: ${f(31L)}")
    val nT = truncated.length
    assert(f(32L).width == nT % 1920 && f(32L).n_frames == nT % 300,
      s"truncated header falls to the stub: ${f(32L)}")
    val n = "definitely not a movie".getBytes("UTF-8").length
    assert(f(33L).width == n % 1920 && f(33L).height == n % 1080,
      "non-MP4 payloads keep the deterministic stub features")
  }

  test("extractFeatures decodes REAL WebM/Matroska payloads (minimal generated EBML) to true metadata") {
    // EBML element: raw ID bytes + 8-byte-VINT size (0x01 then 7 bytes
    // big-endian — always legal, never the all-ones unknown marker for
    // our small payloads) + payload
    def el(id: Array[Int], payload: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(id.length + 8 + payload.length)
      id.foreach(i => b.put(i.toByte))
      b.put(0x01.toByte)
      val n = payload.length.toLong
      (6 to 0 by -1).foreach(i => b.put(((n >> (8 * i)) & 0xff).toByte))
      b.put(payload)
      b.array()
    }
    def be(v: Long, w: Int): Array[Byte] =
      ((w - 1) to 0 by -1).map(i => ((v >> (8 * i)) & 0xff).toByte).toArray
    val ebmlHeader = el(Array(0x1A, 0x45, 0xDF, 0xA3), "webm".getBytes("ISO-8859-1"))
    // Info: TimestampScale 1,000,000 ns/tick, Duration 12345.0 ticks → 12345 ms
    val info = el(Array(0x15, 0x49, 0xA9, 0x66),
      el(Array(0x2A, 0xD7, 0xB1), be(1000000L, 3)) ++
      el(Array(0x44, 0x89), be(java.lang.Float.floatToIntBits(12345f).toLong, 4)))
    val videoEl = el(Array(0xE0),
      el(Array(0xB0), be(640L, 2)) ++ el(Array(0xBA), be(360L, 2)))
    // audio TrackEntry first (TrackNumber only, no Video child) — the
    // video track's dims must still be found
    val tracks = el(Array(0x16, 0x54, 0xAE, 0x6B),
      el(Array(0xAE), el(Array(0xD7), be(1L, 1))) ++ el(Array(0xAE), videoEl))
    val segment = el(Array(0x18, 0x53, 0x80, 0x67), info ++ tracks)
    val webm = ebmlHeader ++ segment
    // unknown-size Segment (size VINT 0xFF = all ones): streamed-file
    // shape, children read to end of payload
    val segBody = info ++ tracks
    val streamed = ebmlHeader ++
      Array(0x18, 0x53, 0x80, 0x67, 0xFF).map(_.toByte) ++ segBody
    val truncated = webm.take(ebmlHeader.length + 20) // cut mid-Segment
    val media = Seq(
      (40L, webm, "video"),
      (41L, streamed, "video"),
      (42L, truncated, "video")
    ).toDF("media_id", "payload", "media_type")
    val f = Multimodal.extractFeatures(media).collect().map(x => x.media_id -> x).toMap
    assert(f(40L).width == 640 && f(40L).height == 360 && f(40L).n_frames == 12345,
      s"webm must decode dims + duration ms: ${f(40L)}")
    assert(f(41L).width == 640 && f(41L).height == 360 && f(41L).n_frames == 12345,
      s"unknown-size Segment must read to end: ${f(41L)}")
    val nT = truncated.length
    assert(f(42L).width == nT % 1920 && f(42L).n_frames == nT % 300,
      s"truncated EBML falls to the stub: ${f(42L)}")
  }

  test("sampleChunks: strided binary slicing") {
    val out = Multimodal.sampleChunks(Multimodal.mediaTable(docs), chunk = 10, stride = 2)
      .filter(col("media_id") === 0L)
      .select(col("chunks")).collect().head.getSeq[Array[Byte]](0)
    assert(out.length == 5)           // 100 bytes / (10*2)
    assert(out.forall(_.length == 10))
  }

  // ------------------------------------------------- perceptual hashing

  test("stubLuma66: first md5 byte of each of 66 equal char chunks (hand check)") {
    val s = "hello world, this is a sixty-six chunk luma fixture string!!!!!!!"
    val lu = Multimodal.stubLuma66(s.getBytes("UTF-8"))
    assert(lu.length == 66)
    val n = s.length.toLong
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until 66).foreach { j =>
      val chunk = s.substring((j * n / 66).toInt, ((j + 1) * n / 66).toInt)
      assert(lu(j) == (md.digest(chunk.getBytes("UTF-8"))(0) & 0xff), s"cell $j")
    }
    // empty payload: every chunk is md5("") -> 0xd4, flat luma, dhash 0
    assert(Multimodal.stubLuma66(Array.emptyByteArray).forall(_ == 0xd4))
  }

  /** Scala reference dhash — independent of the column implementation. */
  private def refDhash(lu: Array[Int]): Long = {
    var h = 0L
    (0 until 60).foreach { b =>
      val j = (b / 10) * 11 + (b % 10)
      if (lu(j + 1) > lu(j)) h |= (1L << b)
    }
    h
  }

  test("dhash60 column == reference bit layout on random luma grids") {
    val rnd = new scala.util.Random(7)
    val rows = (0L until 50L).map(i => (i, Array.fill(66)(rnd.nextInt(256))))
    val got = rows.toDF("media_id", "luma")
      .select(col("media_id"), Multimodal.dhash60(col("luma")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (i, lu) => assert(got(i) == refDhash(lu), s"row $i") }
  }

  test("phashNearDups == brute-force Hamming pairs when threshold <= nBands - 1") {
    // 4 bands of 15 bits: any pair at distance <= 3 shares a full band
    // (pigeonhole), so the banded candidate set loses nothing.
    val rnd = new scala.util.Random(11)
    val base = (0L until 40L).map(i => (i, Array.fill(66)(rnd.nextInt(256))))
    // plant near-dups: tweak 1-2 luma cells of every 4th grid
    val dups = base.collect { case (i, lu) if i % 4 == 0 =>
      val v = lu.clone(); v(rnd.nextInt(66)) = rnd.nextInt(256)
      (i + 1000L, v)
    }
    val all = base ++ dups
    val got = Multimodal.phashNearDups(all.toDF("media_id", "luma"), threshold = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val h = all.map { case (i, lu) => i -> refDhash(lu) }
    val brute = (for {
      (i1, h1) <- h; (i2, h2) <- h if i1 < i2
      d = java.lang.Long.bitCount(h1 ^ h2) if d <= 3
    } yield (i1, i2, d)).toSet
    assert(got == brute, s"banded=${got.size} brute=${brute.size}")
    assert(brute.nonEmpty, "fixture must contain near-dup pairs")
  }

  test("real-audio path: envelope fingerprint is gain- and length-invariant on WAVs") {
    val rnd = new scala.util.Random(17)
    // 66-section loudness profile; square wave => window mean == profile
    val profile = Array.fill(66)(rnd.nextInt(12000) + 2000)
    def wav(gain: Double, samplesPerSection: Int, prof: Array[Int]): Array[Byte] = {
      val n = 66 * samplesPerSection
      val pcm = new Array[Byte](n * 2)
      for (i <- 0 until n) {
        val a = (prof(i / samplesPerSection) * gain).toInt
        val s = (if (i % 2 == 0) a else -a).toShort
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val other = Array.fill(66)(rnd.nextInt(12000) + 2000)
    val media = Seq(
      (1L, wav(1.0, 100, profile), "audio"),
      (2L, wav(0.5, 100, profile), "audio"),   // half gain: gradients preserved
      (3L, wav(1.0, 200, profile), "audio"),   // 2x length, same envelope shape
      (4L, wav(1.0, 100, other), "audio"))     // different envelope
      .toDF("media_id", "payload", "media_type")
    val h = Multimodal.lumaGrid(media).toDF()
      .select(col("media_id"), Multimodal.dhash60(col("luma")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(h(a) ^ h(b))
    assert(dist(1L, 2L) == 0, s"uniform gain must not change the envelope hash: ${dist(1L, 2L)}")
    assert(dist(1L, 3L) == 0, s"same envelope at 2x length must hash identically: ${dist(1L, 3L)}")
    assert(dist(1L, 4L) > 10, s"different envelope must be far: ${dist(1L, 4L)}")
    // and the shared machinery finds the audio near-dup pairs end-to-end
    val pairs = Multimodal.phashNearDups(Multimodal.lumaGrid(media).toDF(), threshold = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)), pairs.toString)
  }

  test("real-image path: dHash is scale-invariant and brightness-tolerant on PNGs") {
    val rnd = new scala.util.Random(13)
    // cell-uniform image: each of the 6x11 grid cells one gray level, so
    // average pooling is exact and 2x upscaling provably preserves it
    val cells = Array.fill(66)(rnd.nextInt(200)) // <200: +20 never clips
    def render(scale: Int, delta: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(11 * 4 * scale, 6 * 4 * scale,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
        val cell = (y / (4 * scale)) * 11 + (x / (4 * scale))
        val g = math.min(cells(cell) + delta, 255)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", bos))
      bos.toByteArray
    }
    val other = {
      val img = new java.awt.image.BufferedImage(44, 24,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 24; x <- 0 until 44)
        img.setRGB(x, y, rnd.nextInt(0xffffff))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    val media = Seq(
      (1L, render(1, 0), "image"), (2L, render(2, 0), "image"),
      (3L, render(1, 20), "image"), (4L, other, "image"))
      .toDF("media_id", "payload", "media_type")
    val h = Multimodal.lumaGrid(media).toDF()
      .select(col("media_id"), Multimodal.dhash60(col("luma")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(h(a) ^ h(b))
    assert(dist(1L, 2L) == 0, s"2x upscale must hash identically, got ${dist(1L, 2L)}")
    assert(dist(1L, 3L) == 0, s"non-clipping brightness shift preserves gradients, got ${dist(1L, 3L)}")
    assert(dist(1L, 4L) > 10, s"unrelated image must be far, got ${dist(1L, 4L)}")
  }

  /** Minimal RIFF/AVI wrapping the given MJPEG frames: RIFF('AVI '
    * LIST('movi' 00dc…)) — exactly the public chunk layout
    * decodeAviFirstJpegFrame walks. */
  private def miniAvi(frames: Array[Byte]*): Array[Byte] = {
    def chunk(id: String, payload: Array[Byte]): Array[Byte] = {
      val pad = payload.length & 1
      val b = java.nio.ByteBuffer.allocate(8 + payload.length + pad)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(id.getBytes("ISO-8859-1")); b.putInt(payload.length); b.put(payload)
      b.array()
    }
    val movi = "movi".getBytes("ISO-8859-1") ++
      frames.toArray.flatMap(f => chunk("00dc", f))
    chunk("RIFF", "AVI ".getBytes("ISO-8859-1") ++ chunk("LIST", movi))
  }

  private def jpeg(seed: Int, w: Int = 88, h: Int = 48): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val g = rnd.nextInt(256)
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos), "no jpg writer in JDK")
    bos.toByteArray
  }

  test("real-video path: AVI/MJPEG keyframe fingerprint == still-image fingerprint of the same frame") {
    val f1 = jpeg(101)
    val f2 = jpeg(202)
    val media = Seq(
      (1L, miniAvi(f1, f2), "video"),          // AVI: keyframe = first 00dc
      (2L, f1 ++ f2, "video"),                 // bare MJPEG stream: first SOI..EOI
      (3L, f1, "image"),                       // the frame itself, image path
      (4L, "not a video".getBytes("UTF-8"), "video")) // stub fallback
      .toDF("media_id", "payload", "media_type")
    val lu = Multimodal.lumaGrid(media).collect().map(r => r.media_id -> r.luma.toSeq).toMap
    // identical decode → identical 66-cell grid, exact regardless of JPEG loss
    assert(lu(1L) == lu(3L), "AVI keyframe luma must equal the still-image luma of its frame")
    assert(lu(2L) == lu(3L), "bare-MJPEG first-frame luma must equal the still-image luma")
    assert(lu(4L) == Multimodal.stubLuma66("not a video".getBytes("UTF-8")).toSeq,
      "unrecognized video payloads keep the deterministic stub grid")
    // end-to-end through the shared machine: the video and its frame
    // pair up across modalities at distance 0
    val pairs = Multimodal.phashNearDups(Multimodal.lumaGrid(media).toDF(), threshold = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.contains((1L, 3L, 0)) && pairs.contains((2L, 3L, 0)) &&
      pairs.contains((1L, 2L, 0)), pairs.toString)
  }

  test("multi-keyframe: prepended-intro and reordered videos still pair; first-frame-only provably misses them") {
    import org.apache.spark.sql.functions.col
    val a = jpeg(11); val b = jpeg(22); val c = jpeg(33)
    val intro = jpeg(99)
    val media = Seq(
      (1L, miniAvi(a, b, c), "video"),        // the original cut
      (2L, miniAvi(intro, a, b, c), "video"), // re-release with an intro
      (3L, miniAvi(c, a, b), "video"),        // re-edit: scenes reordered
      (4L, miniAvi(jpeg(71), jpeg(72)), "video")) // unrelated video
      .toDF("media_id", "payload", "media_type")
    val frames = Multimodal.videoFrameGrid(media, maxFrames = 4).toDF()
    // every container here has <= 4 keyframes, so all frames sampled
    assert(frames.groupBy(col("media_id")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 3L, 2L -> 4L, 3L -> 3L, 4L -> 2L))
    val pairs = Multimodal.videoPhashNearDupsAnyFrame(frames, threshold = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"intro-prepended re-release must pair: $pairs")
    assert(pairs.contains((1L, 3L)), s"reordered re-edit must pair: $pairs")
    assert(pairs.contains((2L, 3L)), pairs.toString)
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"unrelated video must not pair: $pairs")
    // the single-keyframe machine misses both (first frames differ),
    // which is exactly the blind spot the multi-frame sampler fixes
    val single = Multimodal.phashNearDups(Multimodal.lumaGrid(media).toDF(), threshold = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!single.contains((1L, 2L)) && !single.contains((1L, 3L)), single.toString)
  }

  test("decodeAviJpegFrames: even spacing with endpoints; only sampled spans decode; stub is per-segment") {
    val frames10 = (0 until 10).map(i => jpeg(1000 + i))
    val avi = miniAvi(frames10: _*)
    // 10 chunks, maxFrames=4 -> indices floor(i*9/3) = 0,3,6,9
    val sampled = Multimodal.decodeAviJpegFrames(avi, maxFrames = 4)
    assert(sampled.length == 4)
    val expect = Seq(0, 3, 6, 9).map(i =>
      Multimodal.poolLuma66(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(frames10(i)))).toSeq)
    assert(sampled.map(Multimodal.poolLuma66(_).toSeq) == expect)
    // maxFrames = 1 degenerates to the first frame (the old contract)
    assert(Multimodal.decodeAviJpegFrames(avi, maxFrames = 1)
      .map(Multimodal.poolLuma66(_).toSeq) == Seq(expect.head))
    // stub: frame f = stubLuma66 of the f-th of k equal char segments
    val payload = ("x" * 400).getBytes("UTF-8")
    val sf = Multimodal.stubFrames66(payload, 4)
    assert(sf.length == 4)
    assert(sf(1).toSeq ==
      Multimodal.stubLuma66(("x" * 100).getBytes("UTF-8")).toSeq)
  }

  test("decodeAviJpegFrames: a corrupt pick probes forward to the next decodable chunk") {
    // zero the body of a frame INSIDE the container (keeps its FF D8
    // header, so the chunk walk still lists it; ImageIO decode fails)
    def corruptFrame(avi: Array[Byte], frame: Array[Byte]): Array[Byte] = {
      val at = avi.indexOfSlice(frame)
      assert(at >= 0, "fixture frame not found in container")
      val b = avi.clone()
      java.util.Arrays.fill(b, at + 2, at + frame.length, 0.toByte)
      b
    }
    def grids(frames: Seq[java.awt.image.BufferedImage]): Seq[Seq[Int]] =
      frames.map(Multimodal.poolLuma66(_).toSeq)
    def still(f: Array[Byte]): Seq[Int] =
      Multimodal.poolLuma66(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(f))).toSeq
    val fs = (0 until 6).map(i => jpeg(2000 + i))
    // first chunk corrupt, maxFrames = 1: first-DECODABLE contract —
    // must yield frame 1, exactly like decodeAviFirstJpegFrame
    val avi0 = corruptFrame(miniAvi(fs: _*), fs(0))
    assert(grids(Multimodal.decodeAviJpegFrames(avi0, maxFrames = 1)) ==
      Seq(still(fs(1))))
    assert(Multimodal.decodeAviFirstJpegFrame(avi0).map(
      Multimodal.poolLuma66(_).toSeq) == Some(still(fs(1))))
    // 6 chunks, maxFrames = 3 picks 0, 2, 5; corrupting chunk 2 slides
    // that pick to chunk 3 — three frames, not two
    val avi2 = corruptFrame(miniAvi(fs: _*), fs(2))
    assert(grids(Multimodal.decodeAviJpegFrames(avi2, maxFrames = 3)) ==
      Seq(still(fs(0)), still(fs(3)), still(fs(5))))
    // a healthy container is untouched by the fallback machinery
    assert(grids(Multimodal.decodeAviJpegFrames(miniAvi(fs: _*), maxFrames = 3)) ==
      Seq(still(fs(0)), still(fs(2)), still(fs(5))))
    // every chunk corrupt: no frames (caller falls to the stub)
    val allBad = fs.foldLeft(miniAvi(fs: _*))(corruptFrame)
    assert(Multimodal.decodeAviJpegFrames(allBad, maxFrames = 3).isEmpty)
  }

  test("real-video path: corrupt/truncated AVI containers fall to the stub, never throw") {
    val f1 = jpeg(7)
    val whole = miniAvi(f1)
    val cut = java.util.Arrays.copyOfRange(whole, 0, whole.length / 2) // truncated mid-frame
    val lying = {
      val b = whole.clone() // declared sizes point past the end
      b(16) = 0xff.toByte; b(17) = 0xff.toByte; b(18) = 0xff.toByte
      b
    }
    val media = Seq((1L, cut, "video"), (2L, lying, "video"))
      .toDF("media_id", "payload", "media_type")
    val lu = Multimodal.lumaGrid(media).collect().map(r => r.media_id -> r.luma.toSeq).toMap
    assert(lu(1L) == Multimodal.stubLuma66(cut).toSeq)
    assert(lu(2L) == Multimodal.stubLuma66(lying).toSeq)
  }

  test("mediaPhashIndex: merged+compacted == rebuilt; probe equality; append/load; dedup keep set") {
    import Multimodal._
    // text long enough that every one of the 66 stub cells sees real
    // content (distinct grids per seed — a short string collapses all
    // seeds into one giant bucket and the batch-local cap divergence,
    // which is documented but not what this spec pins)
    def grids(ids: Range, seedOf: Int => Int) = ids.map { i =>
      (i.toLong, stubLuma66((s"w${seedOf(i)} x${seedOf(i) * 7} " * 30).getBytes("UTF-8")))
    }.toDF("media_id", "luma")
    // 40 corpus media; near-dup structure via shared seeds (i % 13)
    val corpusA = grids(0 until 25, _ % 13)
    val corpusB = grids(25 until 40, _ % 13)
    val all = grids(0 until 40, _ % 13)
    val probe = grids(100 until 110, _ % 13) // seeds 9..5 → exact stub collisions
    val rebuilt = phashIndex(all, maxBucketSize = Some(8))
    val merged = phashIndex(corpusA, maxBucketSize = Some(8))
      .merge(phashIndex(corpusB, maxBucketSize = Some(8)))
    val compacted = merged.compact(Some(8))
    def bandSet2(ix: graft.dedup.Banding.Index) = ix.bands
      .select(col("band"), col("bkey"), col("ids")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toSet)).toSet
    assert(bandSet2(compacted) == bandSet2(rebuilt),
      "compacted merge must equal the full rebuild (up to in-bucket id order)")
    // probe equality: fragmented merged index == rebuilt index
    def probeSet(ix: graft.dedup.Banding.Index) = phashProbe(probe, ix, threshold = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val pm = probeSet(merged)
    assert(pm == probeSet(rebuilt), "fragmented probe must equal rebuilt probe")
    assert(pm.nonEmpty, "fixture must produce matches")
    // persisted append path
    val dir = java.nio.file.Files.createTempDirectory("graft-mm-idx").toString
    try {
      phashIndex(corpusA, maxBucketSize = Some(8)).save(dir)
      phashIndex(corpusB, maxBucketSize = Some(8)).append(dir)
      assert(probeSet(graft.dedup.Banding.Index.load(spark, dir)) == pm,
        "persisted fragments must probe identically to the in-memory merge")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
    // ingest keep set: matched probes dropped, novel media kept
    val probeMedia = probe.select(col("media_id"),
      lit(Array.emptyByteArray).as("payload"), lit("image").as("media_type"))
    val kept = probeMedia.join(phashProbe(probe, rebuilt, threshold = 3),
        col("media_id") === col("in_id"), "left_anti")
      .select(col("media_id")).collect().map(_.getLong(0)).toSet
    val matchedIds = pm.map(_._1)
    assert(kept == (100L until 110L).toSet -- matchedIds, s"kept=$kept matched=$matchedIds")
  }
}
