package graft

import org.apache.spark.sql.functions._

import graft.ops.Multimodal

class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  private def media() = Seq(
    (1L, "some fake image bytes".getBytes("UTF-8")),
    (2L, "other media content here".getBytes("UTF-8")),
    (3L, Array.emptyByteArray))
    .toDF("media_id", "media")

  test("resizeMeta preserves aspect ratio and never upscales") {
    val df = Seq((1920, 1080), (100, 50), (640, 4800)).toDF("fake_width", "fake_height")
    val got = Multimodal.resizeMeta(df, 640, 480).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(got(0) === ((1920, 1080, 640, 360)))   // downscale by width
    assert(got(1) === ((100, 50, 100, 50)))       // no upscale
    assert(got(2) === ((640, 4800, 64, 480)))     // downscale by height
  }

  test("sampleFrames explodes n frames per video row") {
    val frames = Multimodal.sampleFrames(media().filter($"media_id" < 3), 4)
    assert(frames.count() === 8)
    val counts = frames.groupBy("media_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts === Map(1L -> 4L, 2L -> 4L))
  }

  // ---- REAL decode kernel (round 12, JDK ImageIO) ----

  private def pngOf(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  private def jpegOf(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    out.toByteArray
  }

  test("sniffMime: PNG/JPEG/GIF/BMP magic bytes, octet-stream otherwise") {
    assert(Multimodal.sniffMime(pngOf(2, 2, 0x123456)) === "image/png")
    assert(Multimodal.sniffMime(jpegOf(2, 2, 0x123456)) === "image/jpeg")
    assert(Multimodal.sniffMime("GIF89a...".getBytes("UTF-8")) === "image/gif")
    assert(Multimodal.sniffMime("BMxxxx".getBytes("UTF-8")) === "image/bmp")
    assert(Multimodal.sniffMime("plain text".getBytes("UTF-8"))
      === "application/octet-stream")
    assert(Multimodal.sniffMime(Array.emptyByteArray) === "application/octet-stream")
    assert(Multimodal.sniffMime(null) === "application/octet-stream")
  }

  test("decodeImage: genuine PNG round-trip — dims, mime, exact pixel statistics") {
    // pure red 10x20: meanR=1, meanG=meanB=0, luma=0.299 exactly
    // (PNG is lossless, the grid sampler sees the exact pixels)
    val f = Multimodal.decodeImage(7L, pngOf(10, 20, 0xff0000))
    assert(f.decoded && f.mime === "image/png")
    assert(f.width === 10 && f.height === 20)
    assert(f.feature.length === 8)
    assert(math.abs(f.feature(0) - 1.0f) < 1e-6, "meanR")
    assert(math.abs(f.feature(1)) < 1e-6 && math.abs(f.feature(2)) < 1e-6)
    assert(math.abs(f.feature(3) - 0.299f) < 1e-6, "meanLuma")
    assert(math.abs(f.feature(4)) < 1e-6, "stdLuma uniform -> 0")
    assert(math.abs(f.feature(5)) < 1e-6, "edge energy uniform -> 0")
    assert(math.abs(f.feature(6) - 0.5f) < 1e-6, "aspect 10/20")
    assert(f.content_hash === graft.functions.HashOps.fnv64(pngOf(10, 20, 0xff0000)))
  }

  test("decodeImage: genuine JPEG decodes with true dimensions") {
    val f = Multimodal.decodeImage(8L, jpegOf(32, 16, 0x808080))
    assert(f.decoded && f.mime === "image/jpeg")
    assert(f.width === 32 && f.height === 16)
    // JPEG is lossy: mid-gray stays approximately mid-gray
    assert(math.abs(f.feature(3) - 0.5) < 0.05, s"luma=${f.feature(3)}")
  }

  test("decodeImage: non-image and corrupt bytes fall back to the stub, never throw") {
    val text = Multimodal.decodeImage(9L, "not an image".getBytes("UTF-8"))
    assert(!text.decoded && text.mime === "application/octet-stream")
    // PNG magic but garbage body: sniff says png, decoder fails, stub serves
    val corrupt = Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10, 42, 42)
    val c = Multimodal.decodeImage(10L, corrupt)
    assert(!c.decoded && c.mime === "image/png")
    assert(!Multimodal.decodeImage(11L, null).decoded)
  }

  test("decodeImage: a decompression-bomb header is refused before any raster exists") {
    // a valid PNG signature + IHDR declaring 40000x40000 (1.6 GP ≈ 6.4 GB
    // ARGB): ImageIO.read would allocate the full raster and die in
    // OutOfMemoryError (an Error — uncatchable by the Exception
    // fallback); the header-checked guard must refuse on declared dims
    // and take the stub path, in microseconds and bounded memory
    def bombPng(w: Int, h: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val dos = new java.io.DataOutputStream(bos)
      dos.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      val ihdr = new java.io.ByteArrayOutputStream()
      val d = new java.io.DataOutputStream(ihdr)
      d.writeBytes("IHDR"); d.writeInt(w); d.writeInt(h)
      d.writeByte(8); d.writeByte(6); d.writeByte(0); d.writeByte(0); d.writeByte(0)
      val chunk = ihdr.toByteArray
      dos.writeInt(13); dos.write(chunk)
      val crc = new java.util.zip.CRC32(); crc.update(chunk)
      dos.writeInt(crc.getValue.toInt)
      bos.toByteArray
    }
    val f = Multimodal.decodeImage(12L, bombPng(40000, 40000))
    assert(f.mime === "image/png" && !f.decoded)
    // the same construction under the cap still decodes via the guard
    val ok = Multimodal.decodeImage(13L, Multimodal.syntheticPng(13L, 12, 9))
    assert(ok.decoded && ok.width === 12 && ok.height === 9)
  }

  test("extractImageFeatures: distributed real decode, no shuffle, partitioning-invariant") {
    val rows = Seq(
      (1L, pngOf(12, 8, 0x00ff00)),
      (2L, jpegOf(8, 8, 0x0000ff)),
      (3L, "junk".getBytes("UTF-8")))
    val df = rows.toDF("media_id", "media")
    val a = Multimodal.extractImageFeatures(df).collect().sortBy(_.media_id)
    val b = Multimodal.extractImageFeatures(df.repartition(3))
      .collect().sortBy(_.media_id)
    assert(a.map(f => (f.media_id, f.mime, f.decoded, f.width, f.height)).toSeq
      === b.map(f => (f.media_id, f.mime, f.decoded, f.width, f.height)).toSeq)
    assert(a(0).decoded && a(0).width === 12 && a(0).height === 8)
    assert(a(1).decoded && a(1).mime === "image/jpeg")
    assert(!a(2).decoded)
    val plan = Multimodal.extractImageFeatures(df).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("syntheticPng: deterministic and decodes to the requested dims") {
    val p1 = Multimodal.syntheticPng(42L, 9, 7)
    val p2 = Multimodal.syntheticPng(42L, 9, 7)
    assert(p1.toSeq === p2.toSeq)
    val f = Multimodal.decodeImage(42L, p1)
    assert(f.decoded && f.width === 9 && f.height === 7)
    // different seed -> different image content
    assert(Multimodal.syntheticPng(43L, 9, 7).toSeq !== p1.toSeq)
  }

  // ---- REAL pixel resize (round 12, Graphics2D) ----

  test("resizeImage: real raster downscale, re-decodable, dims match the shared formula") {
    val src = Multimodal.syntheticPng(77L, 64, 48)
    val r = Multimodal.resizeImage(77L, src, 32, 32)
    assert(r.resized && r.changed)
    assert((r.in_width, r.in_height) === ((64, 48)))
    assert((r.out_width, r.out_height) === Multimodal.fitWithin(64, 48, 32, 32))
    assert((r.out_width, r.out_height) === ((32, 24)))
    // output is a genuine PNG that the real decoder reads back at the new dims
    val back = Multimodal.decodeImage(77L, r.out_bytes)
    assert(back.decoded && back.width === 32 && back.height === 24)
    // bilinear downscale preserves coarse color statistics
    val orig = Multimodal.decodeImage(77L, src)
    assert(math.abs(back.feature(3) - orig.feature(3)) < 0.05,
      s"meanLuma drifted: ${orig.feature(3)} -> ${back.feature(3)}")
  }

  test("resizeImage: within-bounds images pass through unchanged; junk falls back") {
    val small = Multimodal.syntheticPng(5L, 10, 8)
    val r = Multimodal.resizeImage(5L, small, 64, 64)
    assert(r.resized && !r.changed && (r.out_bytes sameElements small))
    assert((r.out_width, r.out_height) === ((10, 8)))
    val junk = Multimodal.resizeImage(6L, "junk".getBytes("UTF-8"), 64, 64)
    assert(!junk.resized && (junk.out_bytes sameElements "junk".getBytes("UTF-8")))
  }

  test("resizeImages: distributed, no shuffle, honors per-row decisions") {
    val rows = Seq(
      (1L, Multimodal.syntheticPng(1L, 100, 40)),
      (2L, Multimodal.syntheticPng(2L, 8, 8)),
      (3L, "noise".getBytes("UTF-8"))).toDF("media_id", "media")
    val got = Multimodal.resizeImages(rows, 50, 50).collect().sortBy(_.media_id)
    assert(got(0).changed && got(0).out_width === 50 && got(0).out_height === 20)
    assert(got(1).resized && !got(1).changed)
    assert(!got(2).resized)
    val plan = Multimodal.resizeImages(rows, 50, 50)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("bilinearResize: pinned contract on a hand-checkable raster") {
    // 3x1 grayscale ramp 0,100,200 → 2x1: rx = (3-1)/(2-1) = 2.0, so
    // output samples land exactly on x=0 and x=2 (fx=0): 0 and 200.
    val img = new java.awt.image.BufferedImage(
      3, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for ((x, v) <- Seq((0, 0), (1, 100), (2, 200)))
      img.setRGB(x, 0, (v << 16) | (v << 8) | v)
    val out = Multimodal.bilinearResize(img, 2, 1)
    assert(((out.getRGB(0, 0) >>> 16) & 0xff) === 0)
    assert(((out.getRGB(1, 0) >>> 16) & 0xff) === 200)
    // 2x1 (0, 255) → 1x1: ow==1 pins rx=0.0 → source x=0 exactly
    val img2 = new java.awt.image.BufferedImage(
      2, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img2.setRGB(0, 0, 0); img2.setRGB(1, 0, 0xffffff)
    val one = Multimodal.bilinearResize(img2, 1, 1)
    assert((one.getRGB(0, 0) & 0xffffff) === 0)
    // fractional case: 5x1 ramp 0,10,20,30,40 → 3x1: rx = 2.0 → x=0,2,4
    val img3 = new java.awt.image.BufferedImage(
      5, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 5) img3.setRGB(x, 0, (x * 10) << 16)
    val tri = Multimodal.bilinearResize(img3, 3, 1)
    assert((0 until 3).map(x => (tri.getRGB(x, 0) >>> 16) & 0xff)
      === Seq(0, 20, 40))
    // genuinely fractional: 4x1 (0,30,60,90) → 3x1: rx = 3/2 = 1.5 →
    // srcX = 0, 1.5, 3 → middle = 30*(0.5) + 60*(0.5) = 45
    val img4 = new java.awt.image.BufferedImage(
      4, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for ((x, v) <- Seq((0, 0), (1, 30), (2, 60), (3, 90)))
      img4.setRGB(x, 0, v << 16)
    val frac = Multimodal.bilinearResize(img4, 3, 1)
    assert((0 until 3).map(x => (frac.getRGB(x, 0) >>> 16) & 0xff)
      === Seq(0, 45, 90))
  }

  test("resizeImageExact: sums survive the encode/decode roundtrip; branches behave") {
    val src = Multimodal.syntheticPng(9L, 20, 16)
    val r = Multimodal.resizeImageExact(9L, src, 12, 10)
    assert(r.resized && r.changed)
    assert((r.out_width, r.out_height) === Multimodal.fitWithin(20, 16, 12, 10))
    // the emitted bytes decode to a raster whose full-pixel sums equal
    // the reported Longs (the oracle's exact plane)
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(r.out_bytes))
    var sr = 0L
    for (y <- 0 until back.getHeight; x <- 0 until back.getWidth)
      sr += (back.getRGB(x, y) >>> 16) & 0xff
    assert(sr === r.sum_r)
    // passthrough: byte-identical, sums over the ORIGINAL raster
    val small = Multimodal.syntheticPng(4L, 8, 8)
    val p = Multimodal.resizeImageExact(4L, small, 12, 10)
    assert(p.resized && !p.changed && (p.out_bytes sameElements small))
    assert(p.sum_r > 0L)
    // junk: never throws, zeros, bytes untouched
    val junk = Multimodal.resizeImageExact(5L, "junk".getBytes("UTF-8"), 12, 10)
    assert(!junk.resized && junk.sum_r === 0L)
  }

  test("syntheticMjpegWithLayout: declared lengths equal the walker's boundaries") {
    val (bytes, lens) = Multimodal.syntheticMjpegWithLayout(11L, 4, 10, 8)
    assert(lens.length === 4 && lens.sum === bytes.length)
    val offs = Multimodal.mjpegFrameOffsets(bytes)
    assert(offs.length === 4)
    // walker boundaries == prefix sums of the generator layout — the
    // mm_frames_oracle invariant, pinned here at unit scale
    val expected = lens.scanLeft(0)(_ + _)
    assert(offs.map(_._1) === expected.init)
    assert(offs.map { case (s, e) => e - s } === lens)
  }

  // ---- REAL video frame sampling (round 12, MJPEG via ImageIO) ----

  test("mjpegFrameOffsets: finds every concatenated JPEG frame exactly") {
    val clip = Multimodal.syntheticMjpeg(7L, 6, 16, 12)
    val offs = Multimodal.mjpegFrameOffsets(clip)
    assert(offs.length === 6)
    // frames tile the stream: contiguous, in order, full coverage
    assert(offs.head._1 === 0 && offs.last._2 === clip.length)
    offs.sliding(2).foreach { case Seq((_, e1), (s2, _)) => assert(e1 === s2) }
    assert(Multimodal.mjpegFrameOffsets("no jpegs here".getBytes("UTF-8")).isEmpty)
  }

  test("mjpegFrameOffsets: marker bytes inside segment payloads don't miscount") {
    // splice a COM segment whose PAYLOAD contains raw FFD8/FFD9 bytes
    // right after the SOI — a bare marker scan would see a nested
    // frame; the segment walker must skip it by declared length
    val jpeg = jpegOf(8, 8, 0x336699)
    val com = Array(0xff, 0xfe, 0x00, 0x06, 0xff, 0xd8, 0xff, 0xd9).map(_.toByte)
    val spliced = jpeg.take(2) ++ com ++ jpeg.drop(2)
    val offs = Multimodal.mjpegFrameOffsets(spliced)
    assert(offs === IndexedSeq((0, spliced.length)))
    // and the ImageIO kernel agrees the spliced bytes are one image
    assert(Multimodal.decodeImage(1L, spliced).decoded)
  }

  test("mjpegFrameOffsets: a truncated frame resyncs instead of poisoning the clip") {
    // interrupted-camera-stream shape: frame 1 loses the tail of its
    // ENTROPY data (incl. EOI) — noisy 16x16 frames guarantee the cut
    // lands in entropy, not in a segment header (a header-interior
    // cut merges into the next frame's parse, which only a full
    // decode could detect; entropy-interior truncation is the
    // realistic camera-interrupt case and MUST resync)
    val f1 = Multimodal.syntheticMjpeg(101L, 1, 16, 16)
    val f2 = Multimodal.syntheticMjpeg(202L, 1, 16, 16)
    val f3 = Multimodal.syntheticMjpeg(303L, 1, 16, 16)
    val clip = f1.dropRight(10) ++ f2 ++ f3
    val offs = Multimodal.mjpegFrameOffsets(clip)
    assert(offs.length === 2, s"got $offs")
    val intactStart = f1.length - 10
    assert(offs(0)._1 === intactStart && offs(1)._2 === clip.length)
    // both recovered frames really decode
    offs.foreach { case (s, e) =>
      assert(Multimodal.decodeImage(2L,
        java.util.Arrays.copyOfRange(clip, s, e)).decoded)
    }
  }

  test("sampleMjpegFrames: every k-th frame really decodes at the clip dims") {
    val clip = Multimodal.syntheticMjpeg(8L, 6, 16, 12)
    val frames = Multimodal.sampleMjpegFrames(8L, clip, every = 2).toArray
    assert(frames.map(_.frame_no).toSeq === Seq(0, 2, 4))
    frames.foreach { f =>
      assert(f.decoded && f.width === 16 && f.height === 12)
      assert(f.feature.length === 8)
    }
    // junk and null explode to nothing
    assert(Multimodal.sampleMjpegFrames(9L, "junk".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.sampleMjpegFrames(9L, null).isEmpty)
  }

  test("extractMjpegFrames: distributed row explosion, no shuffle") {
    val rows = Seq(
      (1L, Multimodal.syntheticMjpeg(1L, 4, 8, 8)),
      (2L, "noise".getBytes("UTF-8"))).toDF("media_id", "media")
    val ds = Multimodal.extractMjpegFrames(rows)
    val got = ds.collect().sortBy(f => (f.media_id, f.frame_no))
    assert(got.length === 4 && got.forall(f => f.media_id == 1L && f.decoded))
    assert(!ds.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  // ---- REAL audio kernel (round 12, javax.sound.sampled) ----

  test("sniffAudioMime: WAV/AIFF/AU magic bytes, octet-stream otherwise") {
    assert(Multimodal.sniffAudioMime(Multimodal.syntheticWav(1L, 8000, 16))
      === "audio/wav")
    assert(Multimodal.sniffAudioMime(".snd....".getBytes("US-ASCII")) === "audio/basic")
    assert(Multimodal.sniffAudioMime("FORMxxxxAIFF".getBytes("US-ASCII")) === "audio/aiff")
    assert(Multimodal.sniffAudioMime("RIFFxxxxAVI ".getBytes("US-ASCII"))
      === "application/octet-stream") // RIFF container that is NOT WAVE
    assert(Multimodal.sniffAudioMime(null) === "application/octet-stream")
  }

  test("sniffMediaMime routes all three modalities from magic bytes") {
    assert(Multimodal.sniffMediaMime(pngOf(2, 2, 1)) === "image/png")
    assert(Multimodal.sniffMediaMime(Multimodal.syntheticWav(1L, 8000, 8))
      === "audio/wav")
    val mp4 = Array[Byte](0, 0, 0, 0x18, 'f', 't', 'y', 'p', 'i', 's', 'o', 'm')
    assert(Multimodal.sniffMediaMime(mp4) === "video/mp4")
    val webm = Array(0x1a, 0x45, 0xdf, 0xa3, 0x42).map(_.toByte)
    assert(Multimodal.sniffMediaMime(webm) === "video/webm")
    assert(Multimodal.sniffMediaMime("RIFFxxxxAVI LIST".getBytes("US-ASCII"))
      === "video/x-msvideo")
    assert(Multimodal.sniffMediaMime("plain".getBytes("US-ASCII"))
      === "application/octet-stream")
    assert(Multimodal.sniffMediaMime(null) === "application/octet-stream")
  }

  test("decodeAudio: sine WAV statistics match closed-form expectations") {
    // 440 Hz at 8 kHz, amplitude 0.5, one second: rms = amp/sqrt(2),
    // zcr = 2 crossings per cycle = 2*440/8000 per frame
    val f = Multimodal.decodeAudio(1L, Multimodal.sineWav(440.0, 8000, 8000, 0.5))
    assert(f.decoded && f.mime === "audio/wav")
    assert(f.sample_rate === 8000 && f.channels === 1 && f.n_frames === 8000L)
    assert(math.abs(f.duration_sec - 1.0) < 1e-9)
    assert(math.abs(f.feature(0) - 0.5 / math.sqrt(2)) < 1e-3, s"rms=${f.feature(0)}")
    assert(math.abs(f.feature(1) - 0.5) < 1e-2, s"peak=${f.feature(1)}")
    assert(math.abs(f.feature(2) - 2.0 * 440 / 8000) < 1e-3, s"zcr=${f.feature(2)}")
    // stationary signal: all four envelope buckets equal the global rms
    (3 to 6).foreach(i => assert(math.abs(f.feature(i) - f.feature(0)) < 1e-3))
  }

  test("decodeAudioExact: aggregates equal the direct integer formula; dirty bytes degrade") {
    // the mm_audio_oracle contract, cross-checked in-JVM: decode a
    // synthetic WAV through the REAL javax.sound.sampled path and
    // compare every exact aggregate against the generator formula
    // computed directly (no audio stack involved)
    val id = 42L
    val n = 64 + (id % 64).toInt
    val samples = Array.tabulate(n)(i =>
      (graft.functions.HashOps.mix64(id ^ i.toLong) >>> 48).toShort)
    var sum, sumSq, peak, cross = 0L
    var prevSign = 0
    samples.foreach { s =>
      sum += s; sumSq += s.toLong * s
      peak = math.max(peak, math.abs(s.toLong))
      val sg = java.lang.Integer.signum(s.toInt)
      if (sg != 0) {
        if (prevSign != 0 && sg != prevSign) cross += 1
        prevSign = sg
      }
    }
    val e = Multimodal.decodeAudioExact(id, Multimodal.syntheticWav(id, 8000, n))
    assert(e.decoded && e.sample_rate === 8000L && e.channels === 1L)
    assert(e.n_frames === n.toLong)
    assert(e.sum_samples === sum)
    assert(e.sum_squares === sumSq)
    assert(e.peak_abs === peak)
    assert(e.zero_crossings === cross)
    // undecodable bytes: zeros with decoded=false, never a throw
    val bad = Multimodal.decodeAudioExact(7L, "not a wav".getBytes("US-ASCII"))
    assert(!bad.decoded && bad.n_frames === 0L && bad.sum_squares === 0L)
  }

  test("decodeAudio: stereo WAV mono-mixes and counts frames (not samples)") {
    // L = sine, R = -sine: the mono mix cancels to silence — the
    // strongest possible check that channels are averaged per frame
    val n = 2000
    val inter = new Array[Short](n * 2)
    (0 until n).foreach { i =>
      val s = (0.5 * 32767 * math.sin(2 * math.Pi * 300 * i / 8000)).toShort
      inter(2 * i) = s
      inter(2 * i + 1) = (-s).toShort
    }
    val f = Multimodal.decodeAudio(2L, Multimodal.pcm16Wav(inter, 8000, 2))
    assert(f.decoded && f.channels === 2 && f.n_frames === n.toLong)
    assert(f.feature(0) < 1e-4, s"cancelled mix rms=${f.feature(0)}")
  }

  test("decodeAudio: AIFF (big-endian path via the JDK writer) decodes equal stats") {
    val samples = Array.tabulate(1024)(i =>
      (0.4 * 32767 * math.sin(2 * math.Pi * 200 * i / 8000)).toShort)
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, true)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream({
        val bb = java.nio.ByteBuffer.allocate(2048)
        samples.foreach(s => bb.putShort(s))
        bb.array()
      }), fmt, samples.length.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.AIFF, out)
    val aiff = Multimodal.decodeAudio(3L, out.toByteArray)
    assert(aiff.decoded && aiff.mime === "audio/aiff")
    val wav = Multimodal.decodeAudio(3L, Multimodal.pcm16Wav(samples, 8000, 1))
    assert(aiff.n_frames === wav.n_frames)
    // same PCM through both container/endianness paths -> same stats
    assert(math.abs(aiff.feature(0) - wav.feature(0)) < 1e-6)
    assert(math.abs(aiff.feature(2) - wav.feature(2)) < 1e-6)
  }

  test("decodeAudio: 8-bit unsigned WAV exercises the 8-bit parse branch") {
    // hand-rolled RIFF with fmt bits=8 (unsigned PCM by WAV spec):
    // samples 128 + 100*sin — decode must center on 128 and scale /128
    val n = 2000
    val data = Array.tabulate(n)(i =>
      (128 + 100 * math.sin(2 * math.Pi * 200 * i / 8000)).toByte)
    val buf = java.nio.ByteBuffer.allocate(44 + n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + n)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(8000)
      .putShort(1).putShort(8)
      .put("data".getBytes("US-ASCII")).putInt(n)
    buf.put(data)
    val f = Multimodal.decodeAudio(20L, buf.array())
    assert(f.decoded && f.n_frames === n.toLong && f.channels === 1)
    // rms of a (100/128)-amp sine = (100/128)/sqrt(2) ≈ 0.5524
    assert(math.abs(f.feature(0) - 100.0 / 128 / math.sqrt(2)) < 1e-2,
      s"8-bit rms=${f.feature(0)}")
    assert(math.abs(f.feature(2) - 2.0 * 200 / 8000) < 2e-3, "8-bit zcr")
  }

  test("decodeAudio: AU (audio/basic) container via the JDK writer decodes") {
    val samples = Array.tabulate(512)(i =>
      (0.3 * 32767 * math.sin(2 * math.Pi * 400 * i / 8000)).toShort)
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, true)
    val bb = java.nio.ByteBuffer.allocate(1024)
    samples.foreach(s => bb.putShort(s))
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bb.array()), fmt, samples.length.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.AU, out)
    val f = Multimodal.decodeAudio(21L, out.toByteArray)
    assert(f.decoded && f.mime === "audio/basic")
    assert(f.n_frames === 512L && f.sample_rate === 8000)
    assert(math.abs(f.feature(0) - 0.3 / math.sqrt(2)) < 1e-2)
  }

  test("decodeAudio: dirty/truncated/compressed bytes fall back to the stub, never throw") {
    assert(!Multimodal.decodeAudio(4L, "not audio at all".getBytes("UTF-8")).decoded)
    assert(!Multimodal.decodeAudio(5L, null).decoded)
    // WAV magic but a truncated header: sniff says wav, parser fails, stub serves
    val truncated = Multimodal.syntheticWav(5L, 8000, 64).take(20)
    val t = Multimodal.decodeAudio(6L, truncated)
    assert(!t.decoded && t.mime === "audio/wav")
    // header DECLARES more frames than the data section holds (the
    // audio bomb shape): n_frames must report frames actually read
    val lying = Multimodal.syntheticWav(7L, 8000, 1000)
    val cut = lying.take(44 + 2 * 100) // keep 100 of the declared 1000
    val f = Multimodal.decodeAudio(7L, cut)
    assert(!f.decoded || f.n_frames <= 100L,
      s"declared-length lie leaked: ${f.n_frames}")
  }

  test("extractAudioFeatures: distributed real decode, no shuffle, partitioning-invariant") {
    val rows = Seq(
      (1L, Multimodal.sineWav(440.0, 8000, 800)),
      (2L, Multimodal.syntheticWav(2L, 16000, 256, 2)),
      (3L, "junk".getBytes("UTF-8")))
    val df = rows.toDF("media_id", "media")
    val a = Multimodal.extractAudioFeatures(df).collect().sortBy(_.media_id)
    val b = Multimodal.extractAudioFeatures(df.repartition(3))
      .collect().sortBy(_.media_id)
    assert(a.map(f => (f.media_id, f.mime, f.decoded, f.sample_rate, f.channels,
      f.n_frames)).toSeq === b.map(f => (f.media_id, f.mime, f.decoded,
      f.sample_rate, f.channels, f.n_frames)).toSeq)
    assert(a(0).decoded && a(0).sample_rate === 8000)
    assert(a(1).decoded && a(1).channels === 2 && a(1).n_frames === 256L)
    assert(!a(2).decoded)
    val plan = Multimodal.extractAudioFeatures(df).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("resampleAudio: downsample halves frames, preserves RMS, round-trips through decode") {
    // 1s of 300 Hz at 8 kHz -> 4 kHz: frames ~halve, tone stats survive
    val src = Multimodal.sineWav(300.0, 8000, 8000, 0.5)
    val r = Multimodal.resampleAudio(1L, src, 4000)
    assert(r.resampled && r.changed)
    assert(r.in_rate === 8000 && r.in_frames === 8000L && r.out_rate === 4000)
    assert(math.abs(r.out_frames - 4000L) <= 2, s"out_frames=${r.out_frames}")
    val back = Multimodal.decodeAudio(1L, r.out_bytes)
    assert(back.decoded && back.sample_rate === 4000 && back.channels === 1)
    assert(math.abs(back.feature(0) - 0.5 / math.sqrt(2)) < 5e-3,
      s"rms drifted: ${back.feature(0)}")
    // zcr per frame doubles at half the rate (same tone)
    assert(math.abs(back.feature(2) - 2.0 * 300 / 4000) < 5e-3,
      s"zcr=${back.feature(2)}")
  }

  test("resampleAudio: stereo input mono-mixes; upsample interpolates; passthrough byte-identical") {
    // stereo 8 kHz -> mono 16 kHz upsample
    val n = 1000
    val inter = new Array[Short](n * 2)
    (0 until n).foreach { i =>
      val s = (0.4 * 32767 * math.sin(2 * math.Pi * 200 * i / 8000)).toShort
      inter(2 * i) = s; inter(2 * i + 1) = s
    }
    val up = Multimodal.resampleAudio(2L, Multimodal.pcm16Wav(inter, 8000, 2), 16000)
    assert(up.resampled && up.changed && up.in_channels === 2)
    assert(math.abs(up.out_frames - 2L * n) <= 3, s"out_frames=${up.out_frames}")
    val back = Multimodal.decodeAudio(2L, up.out_bytes)
    assert(back.decoded && back.channels === 1)
    assert(math.abs(back.feature(0) - 0.4 / math.sqrt(2)) < 5e-3)
    // already mono-16bit-LE at the target rate: byte-identical passthrough
    val normal = Multimodal.sineWav(440.0, 16000, 1024, 0.3)
    val pass = Multimodal.resampleAudio(3L, normal, 16000)
    assert(pass.resampled && !pass.changed && (pass.out_bytes sameElements normal))
    assert(pass.in_frames === 1024L && pass.out_frames === 1024L)
    // junk falls back untouched
    val junk = Multimodal.resampleAudio(4L, "junk".getBytes("UTF-8"), 16000)
    assert(!junk.resampled && (junk.out_bytes sameElements "junk".getBytes("UTF-8")))
  }

  test("resampleAudio: the final source frame is emitted (1-frame clips, exact ratio-1)") {
    // r12 review: demanding source[floor+1] even at integral positions
    // dropped the tail frame — a 1-frame clip became an "empty" WAV
    val one = Multimodal.pcm16Wav(Array[Short](12345), 8000, 1)
    val r1 = Multimodal.resampleAudio(10L, one, 16000)
    assert(r1.resampled && r1.in_frames === 1L && r1.out_frames === 1L)
    val back1 = Multimodal.decodeAudio(10L, r1.out_bytes)
    assert(back1.decoded && back1.n_frames === 1L)
    // ratio 1.0 through the resample path (stereo forces changed=true):
    // every integral position maps 1:1, nothing dropped
    val n = 500
    val inter = new Array[Short](n * 2)
    (0 until n).foreach { i =>
      val s = (0.3 * 32767 * math.sin(2 * math.Pi * 100 * i / 8000)).toShort
      inter(2 * i) = s; inter(2 * i + 1) = s
    }
    val r2 = Multimodal.resampleAudio(11L, Multimodal.pcm16Wav(inter, 8000, 2), 8000)
    assert(r2.changed && r2.in_frames === n.toLong && r2.out_frames === n.toLong)
  }

  test("resampleAudios: distributed, no shuffle") {
    val rows = Seq(
      (1L, Multimodal.sineWav(440.0, 8000, 800)),
      (2L, "noise".getBytes("UTF-8"))).toDF("media_id", "media")
    val ds = Multimodal.resampleAudios(rows, 16000)
    val got = ds.collect().sortBy(_.media_id)
    assert(got(0).resampled && got(0).out_rate === 16000)
    assert(!got(1).resampled)
    assert(!ds.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("mm_audio catalog entry: every row really decoded with the synthesized shape") {
    val got = graft.queries.Catalog.queries("mm_audio")(spark, sf("sf0.001"))
      .collect()
    assert(got.length > 0)
    assert(got.forall(r => r.getAs[String]("mime") == "audio/wav"
      && r.getAs[Boolean]("decoded")))
    assert(got.forall { r =>
      val id = r.getAs[Long]("media_id")
      r.getAs[Int]("sample_rate") == 8000 &&
        r.getAs[Int]("channels") == 1 + (id % 2).toInt &&
        r.getAs[Long]("n_frames") == 64 + (id % 192)
    })
  }

  test("mm_router catalog entry: every modality routed to its kernel and decoded") {
    val got = graft.queries.Catalog.queries("mm_router")(spark, sf("sf0.001"))
      .collect()
    assert(got.length > 0)
    got.foreach { r =>
      val id = r.getAs[Long]("media_id")
      val expect = (id % 4) match {
        case 0 => "image"; case 1 => "audio"; case 2 => "video"; case _ => "unknown"
      }
      assert(r.getAs[String]("modality") === expect, s"doc $id")
      assert(r.getAs[Boolean]("decoded") === (expect != "unknown"), s"doc $id")
      if (expect == "image") assert(r.getAs[Long]("units") === 8 + (id % 8))
      if (expect == "audio") assert(r.getAs[Long]("units") === 64 + (id % 64))
      if (expect == "video") assert(r.getAs[Long]("units") === 2 + (id % 3))
    }
    val mods = got.map(_.getAs[String]("modality")).toSet
    assert(mods === Set("image", "audio", "video", "unknown"))
  }

  test("mm_frames_real catalog entry: every sampled frame decoded at the synthesized dims") {
    val got = graft.queries.Catalog.queries("mm_frames_real")(spark, sf("sf0.001"))
      .collect()
    assert(got.length > 0)
    got.foreach { r =>
      val id = r.getAs[Long]("media_id")
      assert(r.getAs[Boolean]("decoded"))
      assert(r.getAs[Int]("width") === 8 + (id % 8).toInt)
      assert(r.getAs[Int]("height") === 8)
      assert(r.getAs[Int]("frame_no") % 2 === 0) // every-2nd sampling
    }
  }

  test("mm_resample catalog entry: passthroughs and resamples both verified by re-decode") {
    val got = graft.queries.Catalog.queries("mm_resample")(spark, sf("sf0.001"))
      .collect()
    assert(got.length > 0)
    var changed = 0
    got.foreach { r =>
      assert(r.getAs[Boolean]("resampled"))
      assert(r.getAs[Int]("back_rate") === 8000)
      assert(r.getAs[Long]("back_frames") === r.getAs[Long]("out_frames"))
      if (r.getAs[Boolean]("changed")) changed += 1
      else {
        // passthrough rows really were mono@8k already
        assert(r.getAs[Int]("in_rate") === 8000 && r.getAs[Int]("in_channels") === 1)
        assert(r.getAs[Long]("out_frames") === r.getAs[Long]("in_frames"))
      }
    }
    assert(changed > 0 && changed < got.length, s"changed=$changed of ${got.length}")
  }

  test("mm_resize_real catalog entry: resized dims obey fitWithin; round-trip decodes") {
    val got = graft.queries.Catalog.queries("mm_resize_real")(spark, sf("sf0.001"))
      .collect()
    assert(got.length > 0)
    var changed = 0
    got.foreach { r =>
      val (inW, inH) = (r.getAs[Int]("in_w"), r.getAs[Int]("in_h"))
      val expect = Multimodal.fitWithin(inW, inH, 12, 10)
      assert((r.getAs[Int]("out_w"), r.getAs[Int]("out_h")) === expect)
      // output bytes are a genuine image at exactly the claimed dims
      assert(r.getAs[Int]("back_w") === expect._1)
      assert(r.getAs[Int]("back_h") === expect._2)
      if (r.getAs[Boolean]("changed")) changed += 1
    }
    // the synthesized mix has both populations
    assert(changed > 0 && changed < got.length)
  }

  test("decodeImageExact: grid channel sums equal the mix64 pixel formula; junk degrades") {
    import graft.ops.Multimodal
    import graft.functions.HashOps
    val (seed, w, h) = (77L, 13, 9)
    val got = Multimodal.decodeImageExact(seed, Multimodal.syntheticPng(seed, w, h))
    assert(got.decoded && got.width == w && got.height == h)
    // independent re-derivation of the 16x16 sample grid straight from
    // the pixel formula — the same arithmetic the DuckDB oracle runs
    var sr, sg, sb = 0L
    for (yi <- 0 until 16; xi <- 0 until 16) {
      val x = xi * (w - 1) / 15
      val y = yi * (h - 1) / 15
      val pix = (HashOps.mix64(seed ^ (x.toLong << 32) ^ y.toLong) & 0xffffff).toInt
      sr += (pix >>> 16) & 0xff; sg += (pix >>> 8) & 0xff; sb += pix & 0xff
    }
    assert((got.sum_r, got.sum_g, got.sum_b) === ((sr, sg, sb)))
    val junk = Multimodal.decodeImageExact(1L, "not an image".getBytes("UTF-8"))
    assert(!junk.decoded && junk.sum_r == 0L)
  }

  test("mm_decode catalog entry: every row really decoded with the synthesized dims") {
    val got = graft.queries.Catalog.queries("mm_decode")(spark, sf("sf0.001"))
      .collect()
    assert(got.length > 0)
    assert(got.forall(r => r.getAs[String]("mime") == "image/png"
      && r.getAs[Boolean]("decoded")))
    assert(got.forall { r =>
      val id = r.getAs[Long]("media_id")
      r.getAs[Int]("width") == 8 + (id % 16).toInt &&
        r.getAs[Int]("height") == 8 + (id % 12).toInt
    })
  }
}
