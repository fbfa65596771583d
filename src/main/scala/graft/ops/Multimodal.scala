package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.HashOps

/** Multimodal columns: image/audio/video as opaque `binary` columns
  * with typed metadata, processed in partition-local batches.
  *
  * The IMAGE path is real (round 12): [[sniffMime]] magic-byte
  * detection and a JDK-only [[decodeImage]] kernel
  * (`javax.imageio.ImageIO` + `BufferedImage` — zero extra deps) that
  * decodes genuine PNG/JPEG/GIF/BMP bytes into width/height and a
  * coarse 8-dim pixel-statistics feature vector, sampled on a fixed
  * grid so per-image cost is bounded regardless of resolution. Bytes
  * that are not a decodable image fall back to [[decodeImageStub]]'s
  * deterministic fake features, so mixed/dirty corpora never throw on
  * the executor.
  *
  * The AUDIO path is real too (round 12): the JDK ships a PCM codec —
  * `javax.sound.sampled.AudioSystem` parses WAV/AIFF/AU containers
  * with zero extra deps — so [[decodeAudio]] reads genuine PCM bytes
  * into (sample_rate, channels, frames, duration) plus an 8-dim
  * signal-statistics feature vector (RMS, peak, zero-crossing rate,
  * coarse energy envelope), streamed in bounded chunks so a row never
  * materializes the full clip. Compressed codecs (MP3/AAC/Opus) are
  * NOT in the JDK; those bytes — like any undecodable blob — fall
  * back to the deterministic stub (`decoded=false`).
  *
  * VIDEO decode remains stubbed (genuinely no JDK codec):
  * `sampleFrames` keeps the byte-slice stand-in, with the real
  * row-explosion shape.
  */
object Multimodal {

  // ImageIO's default useCache=true backs EVERY ImageInputStream /
  // ImageOutputStream with a temp FILE (FileCacheImageInput/
  // OutputStream): one file create+write+delete per decode AND per
  // encode — thousands of filesystem round-trips per media entry, and
  // a lock/fs convoy if decode ever runs on several threads of one
  // JVM. All of this object's streams wrap in-memory byte arrays, so
  // the disk cache buys nothing; memory-backed streams are
  // byte-identical in behavior (r21, guide §1.2 step 2). Executor-side
  // too: this runs in the object initializer, which every JVM that
  // touches a kernel executes before its first decode.
  javax.imageio.ImageIO.setUseCache(false)

  final case class MediaFeature(
      media_id: Long, n_bytes: Int, content_hash: Long,
      fake_width: Int, fake_height: Int, feature: Array[Float])

  /** STUB decode: a real implementation would decode the image and
    * extract features; this derives a deterministic 8-dim "embedding"
    * from the byte content so the distributed plumbing is exercised
    * end-to-end with verifiable outputs. */
  def decodeImageStub(id: Long, bytes: Array[Byte]): MediaFeature = {
    val h = HashOps.fnv64(bytes)
    val feat = Array.tabulate(8)(i =>
      ((HashOps.mix64(h ^ i.toLong) >>> 40).toFloat / (1 << 24).toFloat) - 0.5f)
    MediaFeature(id, bytes.length, h,
      640 min (bytes.length % 1024), 480 min (bytes.length % 768), feat)
  }

  /** Real decoded-image features. `decoded=false` means the bytes were
    * not a decodable image and [[decodeImageStub]] supplied the
    * fields — the executor-safe fallback for dirty corpora. */
  final case class ImageFeature(
      media_id: Long, mime: String, decoded: Boolean,
      n_bytes: Int, content_hash: Long,
      width: Int, height: Int, feature: Array[Float])

  /** Magic-byte mime sniff — no decode, O(1), never throws. */
  def sniffMime(bytes: Array[Byte]): String = {
    def at(i: Int): Int = if (bytes != null && i < bytes.length) bytes(i) & 0xff else -1
    if (at(0) == 0x89 && at(1) == 'P' && at(2) == 'N' && at(3) == 'G') "image/png"
    else if (at(0) == 0xff && at(1) == 0xd8 && at(2) == 0xff) "image/jpeg"
    else if (at(0) == 'G' && at(1) == 'I' && at(2) == 'F' && at(3) == '8') "image/gif"
    else if (at(0) == 'B' && at(1) == 'M') "image/bmp"
    else "application/octet-stream"
  }

  /** Grid resolution for [[decodeImage]]'s pixel statistics: 16×16
    * sample points bound the per-image feature cost at 256 getRGB
    * calls whether the image is 16px or 16,000px wide — the property
    * that keeps a 100 TB image-corpus scan CPU-bounded per row. */
  private val FeatureGrid = 16

  /** Decompression-bomb guard (r12 review): `ImageIO.read` materializes
    * the FULL raster, so a ~60 KB PNG declaring 30000×30000 pixels
    * would allocate gigabytes and kill the executor with an
    * `OutOfMemoryError` no `catch Exception` sees — then the stage
    * retries into the same row. Dimensions are therefore read from the
    * image HEADER (reader.getWidth/getHeight decode no pixel data) and
    * refused above this pixel cap BEFORE any raster exists; refused
    * images take the `decoded=false` stub fallback like any other
    * undecodable blob. 64 MP ≈ 256 MB ARGB — the largest raster worth
    * a 16×16 feature grid, and bounded per task slot. */
  private val MaxDecodePixels = 64L * 1024 * 1024

  /** Header-checked decode: dims first, full read only under the cap. */
  private def readImageGuarded(b: Array[Byte]): java.awt.image.BufferedImage = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(b))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return null
      val reader = readers.next()
      try {
        reader.setInput(iis, /* seekForwardOnly = */ true)
        val w = reader.getWidth(0).toLong
        val h = reader.getHeight(0).toLong
        if (w <= 0 || h <= 0 || w * h > MaxDecodePixels) null
        else reader.read(0)
      } finally reader.dispose()
    } finally if (iis != null) iis.close()
  }

  /** REAL image decode kernel, JDK-only (`javax.imageio`): sniffs the
    * mime, decodes PNG/JPEG/GIF/BMP via `ImageIO.read`, and derives an
    * 8-dim coarse feature vector from a fixed [[FeatureGrid]]²
    * pixel-sample grid:
    * `[meanR, meanG, meanB, meanLuma, stdLuma, horizEdgeEnergy,
    *   aspectRatio, log10(area)]` (channel means in [0,1]).
    * Undecodable, non-image, or bomb-sized bytes (see
    * [[MaxDecodePixels]]) fall back to the deterministic stub
    * (`decoded=false`) instead of throwing — or OOM-ing — mid-task. */
  def decodeImage(id: Long, bytes: Array[Byte]): ImageFeature = {
    val b = if (bytes == null) Array.emptyByteArray else bytes
    val mime = sniffMime(b)
    val img =
      if (mime == "application/octet-stream") null
      else
        try readImageGuarded(b)
        catch { case _: Exception => null }
    if (img == null || img.getWidth <= 0 || img.getHeight <= 0) {
      val f = decodeImageStub(id, b)
      ImageFeature(id, mime, decoded = false, f.n_bytes, f.content_hash,
        f.fake_width, f.fake_height, f.feature)
    } else {
      val w = img.getWidth
      val h = img.getHeight
      val g = FeatureGrid
      var sr, sg, sb, sl, sl2, edge = 0.0
      var yi = 0
      while (yi < g) {
        val y = yi * (h - 1) / math.max(g - 1, 1)
        var prevLuma = -1.0
        var xi = 0
        while (xi < g) {
          val x = xi * (w - 1) / math.max(g - 1, 1)
          val rgb = img.getRGB(x, y)
          val r = ((rgb >>> 16) & 0xff) / 255.0
          val gc = ((rgb >>> 8) & 0xff) / 255.0
          val bc = (rgb & 0xff) / 255.0
          val luma = 0.299 * r + 0.587 * gc + 0.114 * bc
          sr += r; sg += gc; sb += bc; sl += luma; sl2 += luma * luma
          if (prevLuma >= 0.0) edge += math.abs(luma - prevLuma)
          prevLuma = luma
          xi += 1
        }
        yi += 1
      }
      val n = (g * g).toDouble
      val meanL = sl / n
      val varL = math.max(sl2 / n - meanL * meanL, 0.0)
      val feat = Array(
        (sr / n).toFloat, (sg / n).toFloat, (sb / n).toFloat,
        meanL.toFloat, math.sqrt(varL).toFloat,
        (edge / (g * (g - 1).max(1))).toFloat,
        (w.toDouble / h).toFloat,
        math.log10(w.toDouble * h).toFloat)
      ImageFeature(id, mime, decoded = true, b.length, HashOps.fnv64(b), w, h, feat)
    }
  }

  // -------------------------------------------------------------------
  // Audio (real, JDK-only: javax.sound.sampled)
  // -------------------------------------------------------------------

  /** Real decoded-audio features. `decoded=false` means the bytes were
    * not JDK-decodable PCM audio (compressed codec, corrupt header,
    * non-audio blob) and the deterministic stub supplied the fields —
    * the same executor-safe dirty-corpus contract as [[ImageFeature]]. */
  final case class AudioFeature(
      media_id: Long, mime: String, decoded: Boolean,
      n_bytes: Int, content_hash: Long,
      sample_rate: Int, channels: Int, n_frames: Long,
      duration_sec: Double, feature: Array[Float])

  /** Magic-byte audio mime sniff — no decode, O(1), never throws.
    * Recognizes the three container formats the JDK codec reads. */
  def sniffAudioMime(bytes: Array[Byte]): String = {
    def at(i: Int): Int = if (bytes != null && i < bytes.length) bytes(i) & 0xff else -1
    if (at(0) == 'R' && at(1) == 'I' && at(2) == 'F' && at(3) == 'F' &&
        at(8) == 'W' && at(9) == 'A' && at(10) == 'V' && at(11) == 'E') "audio/wav"
    else if (at(0) == 'F' && at(1) == 'O' && at(2) == 'R' && at(3) == 'M' &&
        at(8) == 'A' && at(9) == 'I' && at(10) == 'F') "audio/aiff"
    else if (at(0) == '.' && at(1) == 's' && at(2) == 'n' && at(3) == 'd') "audio/basic"
    else "application/octet-stream"
  }

  /** Unified media container sniff across all three modalities —
    * images and PCM audio route to the REAL kernels; video containers
    * (MP4 `ftyp` box, Matroska/WebM EBML, RIFF/AVI) are identified by
    * magic bytes even though their codecs stay stubbed, so a mixed
    * 100 TB media corpus can be partitioned/routed by modality with
    * one cheap O(1) scan before any decode is attempted. */
  def sniffMediaMime(bytes: Array[Byte]): String = {
    def at(i: Int): Int = if (bytes != null && i < bytes.length) bytes(i) & 0xff else -1
    val img = sniffMime(bytes)
    if (img != "application/octet-stream") img
    else {
      val audio = sniffAudioMime(bytes)
      if (audio != "application/octet-stream") audio
      // ISO BMFF: size box then 'ftyp' at offset 4
      else if (at(4) == 'f' && at(5) == 't' && at(6) == 'y' && at(7) == 'p') "video/mp4"
      // Matroska/WebM EBML header
      else if (at(0) == 0x1a && at(1) == 0x45 && at(2) == 0xdf && at(3) == 0xa3) "video/webm"
      else if (at(0) == 'R' && at(1) == 'I' && at(2) == 'F' && at(3) == 'F' &&
          at(8) == 'A' && at(9) == 'V' && at(10) == 'I') "video/x-msvideo"
      else "application/octet-stream"
    }
  }

  /** CPU guard, the audio analogue of [[MaxDecodePixels]]: feature
    * extraction streams PCM frames and stops after this many, so one
    * hour-long clip costs the same bounded scan as a one-second one
    * (~16M frames ≈ 6 min @ 44.1 kHz — more than any signal statistic
    * here needs). `n_frames`/`duration_sec` report frames actually
    * read, never the header's claim: a truncated file (header declares
    * more data than exists — the audio shape of a decompression bomb)
    * yields its true decoded length instead of a lie or an OOM. */
  private val MaxDecodeFrames = 16L * 1024 * 1024

  /** Streaming-read chunk: 64 KiB of raw PCM per executor read call —
    * the per-row memory ceiling regardless of clip length. */
  private val AudioChunkBytes = 64 * 1024

  /** Deterministic stub fields for undecodable audio bytes (mirrors
    * [[decodeImageStub]]: plumbing stays verifiable on dirty blobs). */
  def decodeAudioStub(id: Long, bytes: Array[Byte]): AudioFeature = {
    val h = HashOps.fnv64(bytes)
    val feat = Array.tabulate(8)(i =>
      ((HashOps.mix64(h ^ (i + 16).toLong) >>> 40).toFloat / (1 << 24).toFloat) - 0.5f)
    AudioFeature(id, sniffAudioMime(bytes), decoded = false,
      bytes.length, h, 0, 0, 0L, 0.0, feat)
  }

  /** Shared PCM streaming core (r12 review: the container/format guard
    * and the 8/16-bit sample-parse/mono-mix loop previously existed
    * verbatim in both kernels — one copy now): opens `b` as raw
    * 8/16-bit PCM and hands `f` the format, the effective frame cap
    * (min(header claim, `maxFrames`) — the stream never trusts the
    * header), and a LAZY bounded mono-sample iterator reading
    * [[AudioChunkBytes]] chunks, so per-row memory stays at the chunk
    * ceiling whatever the clip length. Returns None — never throws —
    * when the bytes are not JDK-decodable raw PCM (compressed payload,
    * float PCM, µ-law, corrupt header): callers stub-fallback on None.
    * The stream closes when `f` returns; the iterator must not escape. */
  /** Guarded PCM streaming core shared by every audio kernel: format
    * sniff + JDK decode + chunked bounded reads, yielding RAW integer
    * channel samples per frame (s8 in [-128,127] or s16 in
    * [-32768,32767], unsigned encodings re-centered). The yielded
    * array is REUSED across `next()` calls — consume before
    * advancing. [[withPcmSamples]] builds the normalized-double mono
    * view on top; [[decodeAudioExact]] reads THIS view so its
    * aggregates are exact integers an external engine re-derives with
    * pure integer arithmetic (the `mm_audio_oracle` hash gate). */
  private def withPcmFrames[A](b: Array[Byte], maxFrames: Long)(
      f: (javax.sound.sampled.AudioFormat, Long, Iterator[Array[Int]]) => A): Option[A] = {
    if (sniffAudioMime(b) == "application/octet-stream") return None
    var ais: javax.sound.sampled.AudioInputStream = null
    try {
      ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(b))
      val fmt = ais.getFormat
      val enc = fmt.getEncoding
      val bits = fmt.getSampleSizeInBits
      val channels = fmt.getChannels
      val frameBytes = fmt.getFrameSize
      val signed = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
      val unsigned = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
      if (!(signed || unsigned) || (bits != 8 && bits != 16) ||
          channels <= 0 || frameBytes != channels * (bits / 8)) return None
      val big = fmt.isBigEndian
      val bytesPerSample = bits / 8
      val headerFrames = ais.getFrameLength // -1 if unknown
      val cap =
        if (headerFrames >= 0) math.min(headerFrames, maxFrames) else maxFrames
      val stream = ais
      val samples = new Iterator[Array[Int]] {
        // whole frames per chunk; a frame WIDER than the chunk budget
        // (WAV allows 65535 channels -> frameBytes past 64 KiB) gets a
        // one-frame chunk instead of the zero-length buffer the plain
        // modulo arithmetic produced (read(len=0)==0 then read as EOF
        // -> silent stub for decodable audio, r12 review)
        private val chunk = new Array[Byte](
          if (frameBytes >= AudioChunkBytes) frameBytes
          else AudioChunkBytes - AudioChunkBytes % frameBytes)
        private var filled = 0
        private var off = 0
        private var frames = 0L
        private var eof = false
        private def refill(): Unit = {
          if (off > 0 && filled > off) { // keep any partial tail frame
            System.arraycopy(chunk, off, chunk, 0, filled - off)
          }
          filled -= off; off = 0
          while (!eof && filled < frameBytes) {
            val got = stream.read(chunk, filled, chunk.length - filled)
            if (got <= 0) eof = true else filled += got
          }
        }
        def hasNext: Boolean = {
          if (frames >= cap) false
          else {
            if (filled - off < frameBytes) refill()
            filled - off >= frameBytes
          }
        }
        // one buffer reused for every frame: zero per-frame allocation
        private val frameVals = new Array[Int](channels)
        def next(): Array[Int] = {
          var c = 0
          while (c < channels) {
            val so = off + c * bytesPerSample
            frameVals(c) =
              if (bits == 8) {
                if (signed) chunk(so).toInt
                else (chunk(so) & 0xff) - 128
              } else {
                val lo = chunk(so + (if (big) 1 else 0)) & 0xff
                val hi = chunk(so + (if (big) 0 else 1)).toInt
                val raw = (hi << 8) | lo
                if (signed) raw.toShort.toInt
                else (raw & 0xffff) - 32768
              }
            c += 1
          }
          off += frameBytes
          frames += 1
          frameVals
        }
      }
      Some(f(fmt, cap, samples))
    } catch {
      case _: Exception => None
    } finally if (ais != null) ais.close()
  }

  /** The normalized-double mono view every signal-statistics kernel
    * consumes: per frame, each channel's raw integer divided by its
    * full-scale (128 / 32768), then the channel mean — arithmetic
    * ordering identical to the pre-refactor inline loop, so every
    * downstream statistic is bit-for-bit unchanged. */
  private def withPcmSamples[A](b: Array[Byte], maxFrames: Long)(
      f: (javax.sound.sampled.AudioFormat, Long, Iterator[Double]) => A): Option[A] =
    withPcmFrames(b, maxFrames) { (fmt, cap, frames) =>
      val scale = if (fmt.getSampleSizeInBits == 8) 128.0 else 32768.0
      val samples = frames.map { chs =>
        var csum = 0.0
        var c = 0
        while (c < chs.length) { csum += chs(c) / scale; c += 1 }
        csum / chs.length
      }
      f(fmt, cap, samples)
    }

  /** REAL audio decode kernel, JDK-only (`javax.sound.sampled`):
    * parses WAV/AIFF/AU via `AudioSystem.getAudioInputStream`, streams
    * 8/16-bit PCM frames in [[AudioChunkBytes]] chunks (channels mixed
    * to mono, samples normalized to [-1,1]) and derives an 8-dim
    * signal feature vector:
    * `[rms, peak, zeroCrossRate, e0, e1, e2, e3, log10(1+frames)]`
    * where e0..e3 is a coarse 4-bucket energy envelope (bucket = RMS
    * of that quarter of the *read* span; the quarter boundaries come
    * from the capped expectation, any short-read tail folds into the
    * last bucket). Known, accepted skew (r12 advice): the boundaries
    * are sized from the HEADER-claimed frame count, so a truncated
    * file with an overstated header folds all real audio into the
    * early buckets and leaves trailing buckets zero — its envelope is
    * not comparable to an honest-header copy of the same audio. The
    * alternative (re-bucketing on close from frames actually read)
    * costs a second pass or O(frames) buffering per row; the envelope
    * is a coarse routing signal, `n_frames`/`duration_sec` already
    * report the truth, and a dishonest header is itself a corpus
    *-quality signal, so single-pass wins. Undecodable, compressed, or
    * header-only bytes fall
    * back to the deterministic stub (`decoded=false`) instead of
    * throwing mid-task; reads are capped at [[MaxDecodeFrames]] so
    * per-row CPU is bounded. */
  def decodeAudio(id: Long, bytes: Array[Byte]): AudioFeature = {
    val b = if (bytes == null) Array.emptyByteArray else bytes
    withPcmSamples(b, MaxDecodeFrames) { (fmt, cap, samples) =>
      var frames = 0L
      var sumSq, peak = 0.0
      var crossings = 0L
      var prevSign = 0
      val envSumSq = new Array[Double](4)
      val envN = new Array[Long](4)
      val quarter = math.max(cap / 4, 1L)
      while (samples.hasNext) {
        val s = samples.next()
        sumSq += s * s
        val as = math.abs(s)
        if (as > peak) peak = as
        val sign = if (s > 0) 1 else if (s < 0) -1 else 0
        if (sign != 0) {
          if (prevSign != 0 && sign != prevSign) crossings += 1
          prevSign = sign
        }
        val bucket = math.min(frames / quarter, 3L).toInt
        envSumSq(bucket) += s * s
        envN(bucket) += 1
        frames += 1
      }
      if (frames == 0) None
      else {
        val rms = math.sqrt(sumSq / frames)
        val zcr = crossings.toDouble / frames
        val env = Array.tabulate(4)(i =>
          if (envN(i) == 0) 0f else math.sqrt(envSumSq(i) / envN(i)).toFloat)
        val sr = fmt.getSampleRate
        Some(AudioFeature(id, sniffAudioMime(b), decoded = true, b.length,
          HashOps.fnv64(b), math.round(sr), fmt.getChannels, frames,
          if (sr > 0) frames / sr.toDouble else 0.0,
          Array(rms.toFloat, peak.toFloat, zcr.toFloat,
            env(0), env(1), env(2), env(3),
            math.log10(1.0 + frames).toFloat)))
      }
    }.flatten.getOrElse(decodeAudioStub(id, b))
  }

  /** Batched REAL audio feature extraction over (media_id, media)
    * rows: partition-local `mapPartitions`, no shuffle, one
    * [[decodeAudio]] per row with the stub fallback keeping dirty
    * corpora from failing tasks. */
  def extractAudioFeatures(df: DataFrame): Dataset[AudioFeature] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("media").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => decodeAudio(id, bytes) })
  }

  /** Integer-exact sibling of [[AudioFeature]] — the audio analogue of
    * [[ImageExact]]: aggregates over the RAW integer PCM samples kept
    * as exact Longs, so an external engine re-derives them with pure
    * integer arithmetic and the REAL javax.sound.sampled decode path
    * sits under the hard hash-matched oracle gate (`mm_audio_oracle`;
    * the synthetic WAV's sample i is mix64(doc_id ^ i) >>> 48 as
    * signed 16-bit, so DuckDB recomputes every sample without parsing
    * a RIFF container). Aggregates run over the INTERLEAVED
    * channel-sample stream in decode order — for mono input that is
    * simply the sample sequence, but for multi-channel input these
    * are NOT the exact versions of [[AudioFeature]]'s statistics
    * (decodeAudio mono-mixes first; e.g. an L=+x/R=-x clip mixes to
    * silence with zcr 0 while the interleaved stream crosses every
    * sample). `zero_crossings` counts nonzero-sign changes with zeros
    * skipped — decodeAudio's convention, applied to the interleaved
    * stream. The oracle fixtures are mono, where the two views
    * coincide. */
  final case class AudioExact(
      media_id: Long, decoded: Boolean, sample_rate: Long, channels: Long,
      n_frames: Long, sum_samples: Long, sum_squares: Long, peak_abs: Long,
      zero_crossings: Long)

  /** Real decode (same guarded streaming PCM path as [[decodeAudio]])
    * with integer-exact aggregates; undecodable bytes → zeros with
    * `decoded=false` (never throws). Sum-of-squares fits a Long with
    * room: 32768² · MaxDecodeFrames ≈ 2⁵⁴. */
  def decodeAudioExact(id: Long, bytes: Array[Byte]): AudioExact = {
    val b = if (bytes == null) Array.emptyByteArray else bytes
    withPcmFrames(b, MaxDecodeFrames) { (fmt, _, frames) =>
      var n = 0L
      var sum, sumSq, peak, crossings = 0L
      var prevSign = 0
      while (frames.hasNext) {
        val chs = frames.next()
        var c = 0
        while (c < chs.length) {
          val v = chs(c).toLong
          sum += v
          sumSq += v * v
          val av = math.abs(v)
          if (av > peak) peak = av
          val sign = if (v > 0L) 1 else if (v < 0L) -1 else 0
          if (sign != 0) {
            if (prevSign != 0 && sign != prevSign) crossings += 1
            prevSign = sign
          }
          c += 1
        }
        n += 1
      }
      if (n == 0) None
      else Some(AudioExact(id, decoded = true,
        math.round(fmt.getSampleRate).toLong, fmt.getChannels.toLong,
        n, sum, sumSq, peak, crossings))
    }.flatten.getOrElse(
      AudioExact(id, decoded = false, 0L, 0L, 0L, 0L, 0L, 0L, 0L))
  }

  /** Batched [[decodeAudioExact]]: partition-local, no shuffle. */
  def extractAudioExact(df: DataFrame): Dataset[AudioExact] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("media").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => decodeAudioExact(id, bytes) })
  }

  /** Real resampled audio row: re-encoded 16-bit mono WAV bytes at the
    * target rate. `resampled=false` means the bytes were not decodable
    * (original bytes pass through untouched); decodable clips always
    * carry `resampled=true`, with `changed=false` when the clip was
    * already mono at the target rate and passed through
    * byte-identical — the audio mirror of [[ResizedImage]]'s
    * contract. */
  final case class ResampledAudio(
      media_id: Long, resampled: Boolean, changed: Boolean,
      in_rate: Int, in_channels: Int, in_frames: Long,
      out_rate: Int, out_frames: Long, out_bytes: Array[Byte])

  /** REAL audio resample, JDK-only: the normalization pass a speech
    * pipeline runs before featurization (everything to 16 kHz mono),
    * the audio analogue of [[resizeImage]]. Streams the source through
    * the shared PCM core (mono mix included), linearly interpolates to
    * `targetRate`, and re-encodes as 16-bit LE PCM WAV via the
    * byte-exact [[pcm16Wav]] writer. Linear interpolation (not sinc)
    * is the documented trade: one multiply-add per output sample,
    * audibly adequate for feature extraction, and dependency-free.
    * Undecodable bytes pass through with `resampled=false`; a clip
    * already mono at the target rate passes through byte-identical.
    * Output frames are bounded by [[MaxDecodeFrames]] scaled to the
    * target rate, so per-row memory is capped like every kernel
    * here. */
  def resampleAudio(id: Long, bytes: Array[Byte], targetRate: Int): ResampledAudio = {
    require(targetRate > 0, "resampleAudio: targetRate must be positive")
    val b = if (bytes == null) Array.emptyByteArray else bytes
    withPcmSamples(b, MaxDecodeFrames) { (fmt, _, samples) =>
      val inRate = math.round(fmt.getSampleRate)
      if (inRate <= 0) None
      else if (inRate == targetRate && fmt.getChannels == 1 &&
          fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian &&
          sniffAudioMime(b) == "audio/wav") {
        // already normalized: count frames (cheap scan), pass bytes through
        var n = 0L
        while (samples.hasNext) { samples.next(); n += 1 }
        Some(ResampledAudio(id, resampled = true, changed = false,
          inRate, 1, n, targetRate, n, b))
      } else {
        // streaming linear interpolation: output position t maps to
        // source position t*inRate/targetRate; we hold only the two
        // source samples bracketing the current output position.
        // Primitive builder (r12 review) — a boxing ArrayBuffer[Short]
        // held ~20x the bytes per sample on long clips
        val out = new scala.collection.mutable.ArrayBuilder.ofShort()
        var outLen = 0L
        var inIdx = -1L
        var prev = 0.0
        var cur = 0.0
        var outIdx = 0L
        val ratio = inRate.toDouble / targetRate
        var srcFrames = 0L
        var done = false
        // output is capped too: upsampling 8k->48k would otherwise
        // multiply the frame cap by the rate ratio
        while (!done && outIdx < MaxDecodeFrames) {
          val srcPos = outIdx * ratio
          val floorPos = math.floor(srcPos).toLong
          val frac = srcPos - floorPos
          // an integral position needs only source[floor] (r12 review:
          // demanding floor+1 unconditionally dropped the final source
          // frame — a 1-frame clip "resampled" into an empty WAV)
          val need = if (frac == 0.0) floorPos else floorPos + 1
          while (inIdx < need && samples.hasNext) {
            prev = cur
            cur = samples.next()
            inIdx += 1
            srcFrames += 1
          }
          if (inIdx < need) done = true // source exhausted
          else {
            val s =
              if (frac == 0.0) { if (inIdx == floorPos) cur else prev }
              else prev * (1.0 - frac) + cur * frac
            // PINNED rounding contract (r13 verdict task 4): floor(x
            // + 0.5), NOT Math.round — Java's round special-cases the
            // largest-double-below-0.5 boundary (returns 0 where
            // floor(x+0.5) gives 1), which no other engine reproduces;
            // floor(x+0.5) is plain IEEE add + floor, portable
            // anywhere, which is what lets the whole resample kernel
            // sit under the mm_resample_oracle hash gate. Differs from
            // Math.round only on that one boundary class of doubles.
            out += math.max(-32768L, math.min(32767L,
              math.floor(s * 32767.0 + 0.5).toLong)).toShort
            outLen += 1
            outIdx += 1
          }
        }
        // drain the tail count so in_frames reports the true read span
        while (samples.hasNext) { samples.next(); srcFrames += 1 }
        if (srcFrames == 0) None
        else Some(ResampledAudio(id, resampled = true, changed = true,
          inRate, fmt.getChannels, srcFrames, targetRate, outLen,
          pcm16Wav(out.result(), targetRate, 1)))
      }
    }.flatten.getOrElse(
      ResampledAudio(id, resampled = false, changed = false, 0, 0, 0L,
        targetRate, 0L, b))
  }

  /** Batched real resample over (media_id, media) rows: partition-
    * local `mapPartitions`, no shuffle. */
  def resampleAudios(df: DataFrame, targetRate: Int): Dataset[ResampledAudio] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("media").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => resampleAudio(id, bytes, targetRate) })
  }

  /** Deterministic synthetic 16-bit little-endian PCM WAV: sample i of
    * channel c is a hash mix of (seed, i, c) — a byte-exact fixture
    * (hand-rolled RIFF header, no float path) the `mm_audio` gate and
    * MultimodalSpec push through the REAL [[decodeAudio]] kernel, the
    * audio analogue of [[syntheticPng]]. */
  def syntheticWav(seed: Long, sampleRate: Int, nFrames: Int,
      channels: Int = 1): Array[Byte] = {
    val samples = Array.tabulate(nFrames * channels) { i =>
      (HashOps.mix64(seed ^ i.toLong) >>> 48).toShort
    }
    pcm16Wav(samples, sampleRate, channels)
  }

  /** A pure sine WAV (16-bit LE PCM): the spec fixture whose RMS
    * (≈ amp/√2) and zero-crossing rate (≈ 2·freq/rate) have
    * closed-form expectations, so [[decodeAudio]]'s signal statistics
    * are checked against math, not against themselves. */
  def sineWav(freqHz: Double, sampleRate: Int, nFrames: Int,
      amplitude: Double = 0.5): Array[Byte] = {
    val samples = Array.tabulate(nFrames) { i =>
      (amplitude * 32767.0 *
        math.sin(2.0 * math.Pi * freqHz * i / sampleRate)).toShort
    }
    pcm16Wav(samples, sampleRate, 1)
  }

  /** Minimal canonical RIFF/WAVE writer for 16-bit LE PCM:
    * interleaved `samples` (frame-major), 44-byte header. */
  def pcm16Wav(samples: Array[Short], sampleRate: Int,
      channels: Int): Array[Byte] = {
    require(channels > 0 && samples.length % channels == 0,
      s"pcm16Wav: ${samples.length} samples not a multiple of $channels channels")
    val dataLen = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels * 2)        // byte rate
      .putShort((channels * 2).toShort)         // block align
      .putShort(16)                             // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(s => buf.putShort(s))
    buf.array()
  }

  /** Batched REAL feature extraction over (media_id, media) rows:
    * partition-local `mapPartitions` (no shuffle, streaming iterator),
    * one [[decodeImage]] per row. The kernel's fallback contract means
    * a single corrupt blob degrades to stub features instead of
    * failing the task (and with it, at scale, the stage). */
  def extractImageFeatures(df: DataFrame): Dataset[ImageFeature] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("media").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => decodeImage(id, bytes) })
  }

  /** Integer-exact sibling of [[ImageFeature]]: per-channel sums over
    * the same [[FeatureGrid]]² sample grid, kept as exact Longs so an
    * external engine can re-derive them with pure integer arithmetic —
    * this is what lets the REAL ImageIO decode kernel sit under the
    * hard hash-matched oracle gate (`mm_decode_oracle`) instead of a
    * rows-only check: the synthetic PNG's pixels are a mix64 of
    * (seed, x, y), so DuckDB recomputes every sampled channel value
    * without ever parsing a PNG. */
  final case class ImageExact(
      media_id: Long, decoded: Boolean, width: Long, height: Long,
      sum_r: Long, sum_g: Long, sum_b: Long)

  /** Real decode (same guarded ImageIO path as [[decodeImage]]) with
    * integer-exact grid channel sums; undecodable bytes → zeros with
    * `decoded=false` (never throws). */
  def decodeImageExact(id: Long, bytes: Array[Byte]): ImageExact = {
    val b = if (bytes == null) Array.emptyByteArray else bytes
    val img =
      if (sniffMime(b) == "application/octet-stream") null
      else
        try readImageGuarded(b)
        catch { case _: Exception => null }
    if (img == null || img.getWidth <= 0 || img.getHeight <= 0)
      ImageExact(id, decoded = false, 0L, 0L, 0L, 0L, 0L)
    else {
      val w = img.getWidth
      val h = img.getHeight
      val g = FeatureGrid
      var sr, sg, sb = 0L
      var yi = 0
      while (yi < g) {
        val y = yi * (h - 1) / math.max(g - 1, 1)
        var xi = 0
        while (xi < g) {
          val x = xi * (w - 1) / math.max(g - 1, 1)
          val rgb = img.getRGB(x, y)
          sr += (rgb >>> 16) & 0xff
          sg += (rgb >>> 8) & 0xff
          sb += rgb & 0xff
          xi += 1
        }
        yi += 1
      }
      ImageExact(id, decoded = true, w.toLong, h.toLong, sr, sg, sb)
    }
  }

  /** Batched [[decodeImageExact]]: partition-local, no shuffle. */
  def extractImageExact(df: DataFrame): Dataset[ImageExact] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("media").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => decodeImageExact(id, bytes) })
  }

  /** Deterministic synthetic PNG: a w×h image whose pixel (x,y) color
    * is a hash mix of (seed, x, y), encoded by the JDK PNG writer.
    * Used by the `mm_decode` gate entry and MultimodalSpec to exercise
    * the REAL decode path end-to-end without binary fixtures on disk
    * (PNG is lossless, so decode recovers the exact pixels). */
  /** Shared fixture raster fill (r12 review: the per-pixel hash loop
    * existed once per synthetic generator; one copy, each caller
    * keeping its exact historical per-pixel mix via `rgb`). */
  private def hashImage(w: Int, h: Int)(rgb: (Int, Int) => Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, rgb(x, y))
        x += 1
      }
      y += 1
    }
    img
  }

  def syntheticPng(seed: Long, w: Int, h: Int): Array[Byte] = {
    val img = hashImage(w, h)((x, y) =>
      (HashOps.mix64(seed ^ (x.toLong << 32) ^ y.toLong) & 0xffffff).toInt)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Real resized image row: re-encoded PNG bytes + output dims.
    * `resized=false` means the bytes were NOT decodable (original
    * bytes pass through untouched). Decodable images always carry
    * `resized=true`; `changed` then distinguishes a real raster
    * rewrite from an already-within-bounds byte-identical
    * passthrough. */
  final case class ResizedImage(
      media_id: Long, resized: Boolean, changed: Boolean,
      in_width: Int, in_height: Int, out_width: Int, out_height: Int,
      out_bytes: Array[Byte])

  /** Aspect-preserving target dims (floor, never upscale, never below
    * 1px — an extreme aspect ratio like 2000×1 under a 12×10 bound
    * would otherwise floor a dimension to 0, r12 review) — the exact
    * arithmetic [[resizeMeta]] runs columnar and the oracle re-derives
    * in SQL; shared so the real pixel path can't drift from it. */
  def fitWithin(w: Int, h: Int, maxW: Int, maxH: Int): (Int, Int) = {
    val scale = math.min(math.min(maxW.toDouble / w, maxH.toDouble / h), 1.0)
    (math.max(math.floor(w * scale).toInt, 1),
      math.max(math.floor(h * scale).toInt, 1))
  }

  /** REAL pixel resize, JDK-only: decode (under the same
    * decompression-bomb guard as [[decodeImage]]), scale onto a new
    * raster with bilinear `Graphics2D.drawImage`, re-encode as PNG
    * (lossless, deterministic JDK writer). Bytes that don't decode
    * fall back untouched with `resized=false`; images already within
    * bounds skip the raster work (`changed=false`, original bytes
    * pass through — at 100 TB most of a crawl corpus is already small,
    * and not re-encoding it is the dominant cost win).
    *
    * This is the PERF variant (r14 verdict): `Graphics2D` delegates
    * to the platform's optimized scaler, but its exact rounding is
    * JDK-implementation-defined, so it cannot sit under the
    * zero-tolerance oracle gate. The gated sibling is
    * [[resizeImageExact]] — a hand-rolled bilinear under a PINNED
    * rounding contract that DuckDB re-derives bit-for-bit
    * (`mm_resize_oracle`); `mm_resize_real` keeps this path. */
  def resizeImage(id: Long, bytes: Array[Byte], maxW: Int, maxH: Int): ResizedImage = {
    val b = if (bytes == null) Array.emptyByteArray else bytes
    val img =
      if (sniffMime(b) == "application/octet-stream") null
      else
        try readImageGuarded(b)
        catch { case _: Exception => null }
    if (img == null || img.getWidth <= 0 || img.getHeight <= 0)
      ResizedImage(id, resized = false, changed = false, 0, 0, 0, 0, b)
    else {
      val w = img.getWidth
      val h = img.getHeight
      val (ow, oh) = fitWithin(w, h, maxW, maxH)
      if (ow == w && oh == h)
        ResizedImage(id, resized = true, changed = false, w, h, w, h, b)
      else {
        val out = new java.awt.image.BufferedImage(
          ow, oh, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        try {
          g.setRenderingHint(
            java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, out.getWidth, out.getHeight, null)
        } finally g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        ResizedImage(id, resized = true, changed = true, w, h,
          out.getWidth, out.getHeight, bos.toByteArray)
      }
    }
  }

  /** Batched real resize over (media_id, media) rows: partition-local
    * `mapPartitions`, no shuffle — the bulk image-normalization pass
    * of a multimodal training-data pipeline. */
  def resizeImages(df: DataFrame, maxW: Int, maxH: Int): Dataset[ResizedImage] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("media").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => resizeImage(id, bytes, maxW, maxH) })
  }

  /** Integer-exact resize row: the resized raster's exact per-channel
    * sums as Longs, plus the re-encoded PNG bytes. The image sibling
    * of [[AudioExact]]/[[ResampledAudio]]'s exact plane — what lets
    * the REAL resize kernel sit under the hash-matched oracle gate. */
  final case class ResizedExact(
      media_id: Long, resized: Boolean, changed: Boolean,
      in_width: Int, in_height: Int, out_width: Int, out_height: Int,
      sum_r: Long, sum_g: Long, sum_b: Long, out_bytes: Array[Byte])

  /** Hand-rolled bilinear resample of a decoded raster under a PINNED
    * rounding contract (the [[resampleAudio]] pattern, lifted to 2-D).
    * The contract — mirrored token-for-token by the `mm_resize_oracle`
    * SQL, so every step must stay byte-stable:
    *
    *  - geometry: `rx = (w-1)/(ow-1)` as one IEEE double division
    *    (0.0 when ow == 1; same for ry/oh) — corner-aligned mapping,
    *    `srcX = ox * rx`;
    *  - corners: `x0 = floor(srcX)` cast to int,
    *    `x1 = min(x0 + 1, w - 1)`, `fx = srcX - floor(srcX)`;
    *  - per channel c in {r,g,b}, on RAW 0..255 integer values
    *    (exactly representable as doubles):
    *    `v = (c00*(1.0-fx) + c10*fx) * (1.0-fy)
    *       + (c01*(1.0-fx) + c11*fx) * fy`
    *    with exactly this association — IEEE ops are correctly rounded,
    *    so an identical expression tree gives bit-identical doubles in
    *    any conforming engine;
    *  - rounding: `floor(v + 0.5)` — v is a convex combination of
    *    0..255 values, so the result needs no clamp.
    *
    * No `Graphics2D` anywhere: the platform scaler's rounding is
    * implementation-defined and would break the gate. */
  def bilinearResize(img: java.awt.image.BufferedImage,
      ow: Int, oh: Int): java.awt.image.BufferedImage = {
    val w = img.getWidth
    val h = img.getHeight
    val out = new java.awt.image.BufferedImage(
      ow, oh, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rx = if (ow == 1) 0.0 else (w - 1).toDouble / (ow - 1).toDouble
    val ry = if (oh == 1) 0.0 else (h - 1).toDouble / (oh - 1).toDouble
    var oy = 0
    while (oy < oh) {
      val srcY = oy * ry
      val y0 = math.floor(srcY).toInt
      val y1 = math.min(y0 + 1, h - 1)
      val fy = srcY - math.floor(srcY)
      var ox = 0
      while (ox < ow) {
        val srcX = ox * rx
        val x0 = math.floor(srcX).toInt
        val x1 = math.min(x0 + 1, w - 1)
        val fx = srcX - math.floor(srcX)
        val p00 = img.getRGB(x0, y0)
        val p10 = img.getRGB(x1, y0)
        val p01 = img.getRGB(x0, y1)
        val p11 = img.getRGB(x1, y1)
        def ch(sh: Int): Int = {
          val c00 = (p00 >>> sh) & 0xff
          val c10 = (p10 >>> sh) & 0xff
          val c01 = (p01 >>> sh) & 0xff
          val c11 = (p11 >>> sh) & 0xff
          val v = (c00 * (1.0 - fx) + c10 * fx) * (1.0 - fy) +
            (c01 * (1.0 - fx) + c11 * fx) * fy
          math.floor(v + 0.5).toInt
        }
        out.setRGB(ox, oy, (ch(16) << 16) | (ch(8) << 8) | ch(0))
        ox += 1
      }
      oy += 1
    }
    out
  }

  /** REAL resize under the HARD oracle gate: decode (same guarded
    * ImageIO path), [[fitWithin]] target dims, [[bilinearResize]]
    * raster, PNG re-encode — and then the exact channel sums are
    * taken from a RE-DECODE of the output bytes, so the full
    * decode → interpolate → encode → decode chain sits under the
    * zero-tolerance hash compare (PNG is lossless; one flipped bit
    * anywhere breaks the match). Within-bounds images pass through
    * byte-identical with `changed=false` and their sums taken over
    * the original raster; undecodable bytes → zeros,
    * `resized=false`, original bytes untouched (never throws). */
  def resizeImageExact(id: Long, bytes: Array[Byte],
      maxW: Int, maxH: Int): ResizedExact = {
    val b = if (bytes == null) Array.emptyByteArray else bytes
    val img =
      if (sniffMime(b) == "application/octet-stream") null
      else
        try readImageGuarded(b)
        catch { case _: Exception => null }
    def sums(im: java.awt.image.BufferedImage): (Long, Long, Long) = {
      var sr, sg, sb = 0L
      var y = 0
      while (y < im.getHeight) {
        var x = 0
        while (x < im.getWidth) {
          val rgb = im.getRGB(x, y)
          sr += (rgb >>> 16) & 0xff
          sg += (rgb >>> 8) & 0xff
          sb += rgb & 0xff
          x += 1
        }
        y += 1
      }
      (sr, sg, sb)
    }
    if (img == null || img.getWidth <= 0 || img.getHeight <= 0)
      ResizedExact(id, resized = false, changed = false, 0, 0, 0, 0,
        0L, 0L, 0L, b)
    else {
      val w = img.getWidth
      val h = img.getHeight
      val (ow, oh) = fitWithin(w, h, maxW, maxH)
      if (ow == w && oh == h) {
        val (sr, sg, sb) = sums(img)
        ResizedExact(id, resized = true, changed = false, w, h, w, h,
          sr, sg, sb, b)
      } else {
        val out = bilinearResize(img, ow, oh)
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        val outBytes = bos.toByteArray
        // sums from a RE-DECODE of the emitted bytes, not the raster:
        // gates the PNG encoder too
        val back = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(outBytes))
        val (sr, sg, sb) = sums(back)
        ResizedExact(id, resized = true, changed = true, w, h, ow, oh,
          sr, sg, sb, outBytes)
      }
    }
  }

  /** Batched [[resizeImageExact]]: partition-local, no shuffle — the
    * gate-able twin of [[resizeImages]]. */
  def resizeImagesExact(df: DataFrame, maxW: Int, maxH: Int): Dataset[ResizedExact] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("media").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        resizeImageExact(id, bytes, maxW, maxH) })
  }

  /** Columnar resize ARITHMETIC (aspect-preserving target dims over
    * metadata columns — the planning half of [[resizeImage]], shared
    * via [[fitWithin]]'s formula and oracled in SQL). */
  def resizeMeta(df: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    val scale = least(
      lit(maxW.toDouble) / col("fake_width"),
      lit(maxH.toDouble) / col("fake_height"), lit(1.0))
    df.withColumn("out_width",
        greatest(floor(col("fake_width") * scale), lit(1)).cast("int"))
      .withColumn("out_height",
        greatest(floor(col("fake_height") * scale), lit(1)).cast("int"))
  }

  /** One decoded video frame (real, from the MJPEG path). */
  final case class VideoFrame(
      media_id: Long, frame_no: Int, byte_offset: Int, n_bytes: Int,
      decoded: Boolean, width: Int, height: Int, feature: Array[Float])

  /** Bound on frames scanned per clip (64k frames ≈ 36 min at
    * 30 fps). */
  private val MaxVideoFrames = 1 << 16

  /** JPEG frame boundaries inside an MJPEG byte stream. MJPEG — the
    * one video format decodable with the JDK alone — is literally
    * concatenated JPEGs. This is a real SEGMENT WALKER, not a bare
    * marker scan (r12 review): length-prefixed segments (DQT, DHT,
    * APPn with EXIF thumbnails, COM) are skipped by their declared
    * length so FFD8/FFD9 bytes inside payloads can't miscount, and
    * entropy-coded data is scanned for the FF-stuffing/RST exceptions
    * the standard defines. A frame that fails to parse (truncated —
    * the interrupted-camera-stream case) RESYNCS: the scanner resumes
    * byte-wise after the bad SOI and recovers every later intact
    * frame instead of poisoning the rest of the clip. O(n) single
    * pass, bounded at [[MaxVideoFrames]]. */
  def mjpegFrameOffsets(b: Array[Byte]): IndexedSeq[(Int, Int)] = {
    val out = IndexedSeq.newBuilder[(Int, Int)]
    val len = if (b == null) 0 else b.length
    var i = 0
    var found = 0
    def u(at: Int): Int = b(at) & 0xff
    while (i + 1 < len && found < MaxVideoFrames) {
      if (u(i) == 0xff && u(i + 1) == 0xd8) {
        val start = i
        var p = i + 2
        var end = -1
        var ok = true
        var inEntropy = false
        while (end < 0 && ok && p < len) {
          if (!inEntropy) {
            if (p + 1 >= len || u(p) != 0xff) ok = false
            else {
              val m = u(p + 1)
              if (m == 0xd9) end = p + 2                    // EOI
              else if (m == 0xd8) ok = false                // raw nested SOI = corrupt
              else if (m == 0xff) p += 1                    // fill byte
              else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) p += 2 // standalone
              else if (p + 3 >= len) ok = false
              else {
                val segLen = (u(p + 2) << 8) | u(p + 3)
                if (segLen < 2) ok = false
                else {
                  val sos = m == 0xda
                  p += 2 + segLen
                  if (sos) inEntropy = true
                }
              }
            }
          } else {
            if (u(p) == 0xff && p + 1 < len) {
              val m = u(p + 1)
              if (m == 0x00 || (m >= 0xd0 && m <= 0xd7)) p += 2 // stuffing / RST
              else inEntropy = false // a real marker — outer branch parses it
            } else p += 1
          }
        }
        if (end > 0) {
          out += ((start, end)); found += 1; i = end
        } else i = start + 2 // resync past the unparseable SOI
      } else i += 1
    }
    out.result()
  }

  /** REAL video frame sampling for MJPEG streams: scan the frame
    * boundaries, decode every `every`-th frame through the guarded
    * image kernel ([[decodeImage]] — same bomb cap, same dirty-bytes
    * stub fallback per frame), emit one row per sampled frame. Bytes
    * with no JPEG frames (a codec the JDK lacks, or junk) yield zero
    * rows, the explode-to-nothing convention. Frame scan is bounded
    * by [[MaxVideoFrames]]; per-frame decode cost is bounded by the
    * image kernel's own guards. */
  def sampleMjpegFrames(id: Long, bytes: Array[Byte],
      every: Int = 1): Iterator[VideoFrame] = {
    require(every > 0, "sampleMjpegFrames: every must be positive")
    val b = if (bytes == null) Array.emptyByteArray else bytes
    mjpegFrameOffsets(b).iterator.zipWithIndex
      .filter { case (_, no) => no % every == 0 }
      .map { case ((s, e), no) =>
        val f = decodeImage(id, java.util.Arrays.copyOfRange(b, s, e))
        VideoFrame(id, no, s, e - s, f.decoded, f.width, f.height, f.feature)
      }
  }

  /** Batched real MJPEG frame extraction: partition-local row
    * explosion, no shuffle. */
  def extractMjpegFrames(df: DataFrame, every: Int = 1): Dataset[VideoFrame] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("media").cast("binary"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) => sampleMjpegFrames(id, bytes, every) }
  }

  /** Deterministic synthetic MJPEG: `n` concatenated JPEG frames whose
    * pixels derive from (seed, frame, x, y) hashes — the fixture the
    * real frame sampler is tested against. */
  def syntheticMjpeg(seed: Long, n: Int, w: Int, h: Int): Array[Byte] =
    syntheticMjpegWithLayout(seed, n, w, h)._1

  /** [[syntheticMjpeg]] plus the GENERATOR-declared frame layout: the
    * encoded byte length of each frame, in frame order, captured at
    * write time (each frame's contribution to the stream). The layout
    * is the fixture's ground truth for the `mm_frames_oracle` gate —
    * the marker walker must re-derive exactly these boundaries from
    * the concatenated bytes alone, so a walker bug (miscounted
    * segment, payload FFD8 mistaken for a frame start, off-by-one
    * offset) breaks the hash match against offsets DuckDB computes
    * from the persisted layout by pure prefix-sum arithmetic. */
  def syntheticMjpegWithLayout(seed: Long, n: Int, w: Int,
      h: Int): (Array[Byte], IndexedSeq[Int]) = {
    val bos = new java.io.ByteArrayOutputStream()
    val lens = IndexedSeq.newBuilder[Int]
    (0 until n).foreach { f =>
      val before = bos.size()
      val img = hashImage(w, h)((x, y) =>
        (HashOps.mix64(
          seed ^ (f.toLong << 48) ^ (x.toLong << 24) ^ y.toLong) & 0xffffff).toInt)
      javax.imageio.ImageIO.write(img, "jpg", bos)
      lens += bos.size() - before
    }
    (bos.toByteArray, lens.result())
  }

  /** STUB frame sampling: a video becomes `n` evenly-spaced "frames"
    * (byte slices stand in for decoded frames). Output explodes rows —
    * the shape a real frame sampler has. Kept for NON-MJPEG codecs
    * (H.264 etc. — genuinely not in the JDK); MJPEG bytes take the
    * REAL path above. */
  def sampleFrames(df: DataFrame, n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("media").cast("binary"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val b = if (bytes == null) Array.emptyByteArray else bytes
        val step = math.max(1, b.length / math.max(n, 1))
        (0 until n).iterator.map { i =>
          val off = math.min(i * step, math.max(b.length - 1, 0))
          (id, i, b.slice(off, math.min(off + step, b.length)))
        }
      }.toDF("media_id", "frame_no", "frame_bytes")
  }
}
