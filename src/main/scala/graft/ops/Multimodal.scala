package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/**
 * Multimodal-column plumbing (north-star): treat image/audio/video
 * payloads as opaque `binary` columns with typed metadata, and run
 * decode / feature-extract / frame-sample as partition-batched
 * transforms.
 *
 * The IMAGE kind decodes for real via `javax.imageio` (JDK-only, no
 * external codecs): dimensions + a luminance histogram feature vector.
 * The AUDIO kind decodes for real via `javax.sound.sampled` (also
 * JDK-only): WAV/AIFF/AU PCM header parse + sample rate, channels,
 * duration, and an RMS-energy envelope feature. The VIDEO kind
 * decodes raw Y4M frames for real ([[y4mFrameGrids]] — uncompressed
 * planar YUV needs no codec; header + FRAME-delimited plane parsing,
 * frame-sampled pooled luma grids) and parses MP4/QuickTime CONTAINER
 * metadata for real ([[parseMp4Meta]] — box tree, mvhd duration, tkhd
 * dimensions; pure byte parsing); only COMPRESSED-bitstream frame
 * decode remains a clearly-marked deterministic STUB ([[stubDecode]])
 * — video codecs are not available in this environment, and
 * everything around the stub (schema, batching shape, partitioning,
 * output contract) is the real Spark plumbing you would keep when
 * swapping in a real decoder.
 *
 * Scale notes:
 *  - payloads stay in `binary` columns → Parquet stores them as
 *    byte-arrays with column-level compression; metadata lives in plain
 *    columns so filters on (kind, width, duration…) prune row groups
 *    WITHOUT touching payload bytes.
 *  - [[decodeFeatures]] uses `mapPartitions` (the JVM analog of
 *    `mapInPandas`): one decoder init per partition, streamed
 *    row-batches, no per-row setup cost. Decoder parallelism = partition
 *    count; repartition by a size-balanced key before heavy decode.
 *  - frame sampling emits one row per sampled frame via a generator
 *    (`explode`) — a bounded row expansion declared in the plan, not a
 *    driver loop.
 */
object Multimodal {

  /** One media asset: payload + typed metadata. `n_bytes` is stored as
    * a plain metadata column precisely so size queries never touch the
    * payload bytes (Parquet column pruning skips the blob column). */
  final case class MediaRecord(
      media_id: Long,
      kind: String, // image | audio | video
      payload: Array[Byte],
      n_bytes: Long,
      width: Int,
      height: Int,
      duration_ms: Long)

  /** `decoded` is true when a REAL codec parsed the payload; then
    * `width`/`height` are the decoded raster dimensions (−1 otherwise)
    * and `feature` is the luminance histogram. Undecodable/stubbed rows
    * keep flowing with the stub feature — a corrupt blob must never
    * kill a corpus-scale decode job. */
  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      checksum: String,
      decoded: Boolean,
      width: Int,
      height: Int,
      feature: Array[Double],
      sample_rate: Int = -1, // audio-only (−1 otherwise)
      channels: Int = -1,
      decoded_ms: Long = -1L)

  /** Deterministic fake "decode": byte-level stats standing in for a
    * real codec. STUB — stands in for the audio/video decoders that
    * aren't available in this sandbox (swap in e.g. JavaCV per
    * partition in production). */
  def stubDecode(payload: Array[Byte], dims: Int = 8): Array[Double] = {
    val out = new Array[Double](dims)
    var i = 0
    while (i < payload.length) {
      out(i % dims) += (payload(i) & 0xff) / 255.0
      i += 1
    }
    out
  }

  /** REAL image decode via `javax.imageio` (PNG/JPEG/GIF/BMP with zero
    * non-JDK dependencies): returns (width, height, `dims`-bucket
    * normalized luminance histogram), or None when the payload is not a
    * decodable image (ImageIO yields null / throws on garbage — a
    * per-row condition, swallowed so one corrupt blob can't fail the
    * task). Deterministic: pixel traversal order and integer luma
    * arithmetic are fixed. */
  def decodeImage(payload: Array[Byte], dims: Int = 8): Option[(Int, Int, Array[Double])] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val hist = new Array[Double](dims)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            // integer BT.601 luma: deterministic across JVMs
            val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
              (rgb & 0xff) * 114) / 1000
            hist((lum * dims) / 256) += 1.0
            x += 1
          }
          y += 1
        }
        val n = w.toDouble * h.toDouble
        var i = 0
        while (i < dims) { hist(i) /= n; i += 1 }
        Some((w, h, hist))
      }
    } catch { case _: Exception => None }

  /** Decoded audio facts: PCM parameters + an RMS-energy envelope
    * (`dims` equal-time buckets, values in [0, 1]). */
  final case class AudioInfo(
      sampleRate: Int, channels: Int, durationMs: Long, envelope: Array[Double])

  /** REAL audio decode via `javax.sound.sampled` (WAV/AIFF/AU PCM with
    * zero non-JDK dependencies): header parse + per-bucket RMS over the
    * sample stream. Handles the formats the JDK emits natively —
    * 16-bit signed little-endian and 8-bit unsigned PCM; anything else
    * (compressed, big-endian, float) returns None and flows through
    * the stub path, same per-row corrupt-blob contract as
    * [[decodeImage]]. Deterministic: fixed traversal order, IEEE-754
    * double accumulation. */
  def decodeAudio(payload: Array[Byte], dims: Int = 8): Option[AudioInfo] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = ais.getFormat
        val enc = fmt.getEncoding
        val bits = fmt.getSampleSizeInBits
        val pcm16le = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
          bits == 16 && !fmt.isBigEndian
        val pcm8u = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED &&
          bits == 8
        if (!pcm16le && !pcm8u) None
        else {
          val bytes = ais.readAllBytes()
          val ch = fmt.getChannels
          val bytesPerSample = bits / 8
          val frameSize = ch * bytesPerSample
          val nFrames = bytes.length / frameSize
          if (nFrames == 0) None
          else {
            val sumSq = new Array[Double](dims)
            val cnt = new Array[Long](dims)
            var f = 0
            while (f < nFrames) {
              val b = (f.toLong * dims / nFrames).toInt
              var acc = 0.0
              var c = 0
              while (c < ch) {
                val off = f * frameSize + c * bytesPerSample
                val s =
                  if (pcm16le)
                    ((bytes(off) & 0xff) | (bytes(off + 1) << 8)).toShort / 32768.0
                  else ((bytes(off) & 0xff) - 128) / 128.0
                acc += s * s
                c += 1
              }
              sumSq(b) += acc / ch
              cnt(b) += 1
              f += 1
            }
            var i = 0
            while (i < dims) {
              sumSq(i) = if (cnt(i) == 0) 0.0 else math.sqrt(sumSq(i) / cnt(i))
              i += 1
            }
            val rate = fmt.getSampleRate.toInt
            Some(AudioInfo(rate, ch, nFrames * 1000L / rate, sumSq))
          }
        }
      } finally ais.close()
    } catch { case _: Exception => None }

  /**
   * Decode an audio payload to raw integer PCM samples (channels
   * averaged by integer mean — deterministic), via the REAL
   * `javax.sound.sampled` codec path of [[decodeAudio]] and with its
   * format/corrupt-blob contract: 16-bit signed LE and 8-bit unsigned
   * PCM decode, anything else (or garbage bytes) is None. The exact
   * sample values are what the audio-fingerprint oracle replays —
   * WAV/AIFF PCM is lossless, so decoded samples equal the generator
   * formula bit-for-bit.
   */
  def pcmSamples(payload: Array[Byte]): Option[Array[Int]] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = ais.getFormat
        val enc = fmt.getEncoding
        val bits = fmt.getSampleSizeInBits
        val pcm16le = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
          bits == 16 && !fmt.isBigEndian
        val pcm8u = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED &&
          bits == 8
        if (!pcm16le && !pcm8u) None
        else {
          val bytes = ais.readAllBytes()
          val ch = fmt.getChannels
          val bytesPerSample = bits / 8
          val frameSize = ch * bytesPerSample
          val nFrames = bytes.length / frameSize
          if (nFrames == 0) None
          else {
            val out = new Array[Int](nFrames)
            var f = 0
            while (f < nFrames) {
              var acc = 0
              var c = 0
              while (c < ch) {
                val off = f * frameSize + c * bytesPerSample
                acc +=
                  (if (pcm16le)
                    ((bytes(off) & 0xff) | (bytes(off + 1) << 8)).toShort.toInt
                  else (bytes(off) & 0xff) - 128)
                c += 1
              }
              out(f) = acc / ch
              f += 1
            }
            Some(out)
          }
        }
      } finally ais.close()
    } catch { case _: Exception => None }

  /**
   * Constructive near-dup TONE fixture: a REAL RIFF/WAVE PCM payload
   * (16-bit LE mono 8000 Hz, the [[demoWav]] container) of
   * `n = 200 + id % 50` samples, each the sum of two PHASE-SHIFTED
   * square waves whose half-periods and phases are set by the CLUSTER
   * `c = id / 10` (constant cluster size 10 — pair density stays ∝
   * corpus, see [[demoPng]]) plus a sparse id-keyed jitter:
   *
   *   p1 = 2 + c % 7,  p2 = 3 + (5·c) % 11
   *   ph1 = c % 5,     ph2 = c % 13
   *   A1 = 9000 − 100·(c % 23),  A2 = 5000 + 100·(c % 29)
   *   noise(i) = (c·2654435761 + i·40503) % 4001 − 2000
   *   s(i) = A1·sq(i + ph1, p1) + A2·sq(i + ph2, p2) + noise(i)
   *          + [ (id·37 + i·13) % 89 == 0 ] · 800
   *   where sq(i, p) = 1 − 2·((i / p) % 2)
   *
   * Same-cluster payloads differ only in the jitter (a few perturbed
   * samples → mostly-shared spectral peaks). The CLUSTER-KEYED
   * pseudo-noise floor is what makes different clusters separable at
   * scale: the fingerprint signature is an argmax order over an 8-bin
   * filter bank, so periods beyond the bank (p2 up to 13) contribute
   * little and the period/phase/amplitude classes alone still
   * collided in the thousands of clusters (measured: cross-cluster
   * landmark sharing kept the sf1 pair OUTPUT ~10× its intra-cluster
   * floor); the noise term perturbs every close argmax call uniquely
   * per cluster, exactly like real recordings' broadband content. Ids divisible by 13 return a truncated
   * payload (decode must yield None, not crash).
   */
  def demoTone(id: Long): Array[Byte] = {
    if (id % 13 == 0)
      return Array('R'.toByte, 'I'.toByte, 'F'.toByte) // truncated
    val cluster = id / 10
    val p1 = (2 + cluster % 7).toInt
    val p2 = (3 + (5 * cluster) % 11).toInt
    val ph1 = (cluster % 5).toInt
    val ph2 = (cluster % 13).toInt
    val a1 = (9000 - 100 * (cluster % 23)).toInt
    val a2 = (5000 + 100 * (cluster % 29)).toInt
    val noiseKey = cluster * 2654435761L
    val n = (200 + id % 50).toInt
    val out = new java.io.ByteArrayOutputStream(44 + 2 * n)
    def b(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { b(v); b(v >> 8) }
    def u32(v: Int): Unit = { b(v); b(v >> 8); b(v >> 16); b(v >> 24) }
    out.write("RIFF".getBytes("US-ASCII")); u32(36 + 2 * n)
    out.write("WAVE".getBytes("US-ASCII"))
    out.write("fmt ".getBytes("US-ASCII")); u32(16)
    u16(1); u16(1); u32(8000) // PCM, mono, 8 kHz
    u32(16000); u16(2); u16(16) // byte rate, block align, bits
    out.write("data".getBytes("US-ASCII")); u32(2 * n)
    var i = 0
    while (i < n) {
      val jitter = if ((id * 37 + i * 13) % 89 == 0) 800 else 0
      val noise = ((noiseKey + i * 40503L) % 4001L - 2000L).toInt
      val s = a1 * (1 - 2 * (((i + ph1) / p1) % 2)) +
        a2 * (1 - 2 * (((i + ph2) / p2) % 2)) + noise + jitter
      u16(s)
      i += 1
    }
    out.toByteArray
  }

  /** Parsed MP4/QuickTime container facts (header-only, no codec). */
  final case class VideoMeta(
      durationMs: Long, width: Int, height: Int, nTracks: Int)

  /**
   * REAL MP4/QuickTime CONTAINER parse (header-only, zero codecs):
   * walks the ISO BMFF box tree (32-bit size + fourcc headers; 64-bit
   * `largesize` and size-0 run-to-end boxes handled), reads
   * `moov/mvhd` for timescale + duration and the first video track's
   * `moov/trak/tkhd` 16.16 fixed-point display dimensions (audio
   * tracks carry 0×0 there), and counts `trak` boxes.
   *
   * This closes the metadata half of the COMPRESSED-video gap:
   * duration/dimension corpus filters and the [[sampleFrames]] grid
   * need exactly these fields, none of which require a codec. Raw Y4M
   * video decodes frames for REAL ([[y4mFrameGrids]]); only MP4
   * BITSTREAM frame decode stays [[stubDecode]]-stubbed — compressed
   * codecs do not exist in this sandbox. Returns None for anything that
   * is not a well-formed MP4 (same per-row corrupt-blob contract as
   * [[decodeImage]]/[[decodeAudio]]).
   */
  def parseMp4Meta(payload: Array[Byte]): Option[VideoMeta] =
    try {
      val bb = java.nio.ByteBuffer.wrap(payload) // big-endian per spec
      def u32(off: Int): Long = bb.getInt(off) & 0xffffffffL
      var durationMs = -1L
      var w = -1
      var h = -1
      var tracks = 0
      var sawMvhd = false
      def walk(start: Long, end: Long, depth: Int): Unit = {
        var off = start
        var ok = true
        while (ok && off + 8 <= end) {
          var size = u32(off.toInt)
          val typ = new String(payload, off.toInt + 4, 4, "ISO-8859-1")
          var hdr = 8L
          if (size == 1L) { size = bb.getLong(off.toInt + 8); hdr = 16L }
          else if (size == 0L) size = end - off
          if (size < hdr || off + size > end) ok = false // malformed: stop
          else {
            val body = (off + hdr).toInt
            typ match {
              case "moov" => walk(off + hdr, off + size, depth + 1)
              case "trak" if depth == 1 =>
                tracks += 1; walk(off + hdr, off + size, depth + 1)
              case "mvhd" if depth == 1 =>
                val ver = payload(body) & 0xff
                val (ts, dur) =
                  if (ver == 1) (u32(body + 20), bb.getLong(body + 24))
                  else (u32(body + 12), u32(body + 16))
                if (ts > 0) { durationMs = dur * 1000L / ts; sawMvhd = true }
              case "tkhd" if depth == 2 =>
                val ver = payload(body) & 0xff
                // v0: 4 ver/flags + 20 times/id + 16 layer block + 36 matrix
                val dimOff = body + (if (ver == 1) 88 else 76)
                val tw = (u32(dimOff) >> 16).toInt
                val th = (u32(dimOff + 4) >> 16).toInt
                if (tw > 0 && th > 0 && w < 0) { w = tw; h = th }
              case _ => ()
            }
            off += size
          }
        }
      }
      walk(0L, payload.length.toLong, 0)
      if (sawMvhd) Some(VideoMeta(durationMs, w, h, tracks)) else None
    } catch { case _: Exception => None }

  /**
   * Deterministic minimal JPEG-with-EXIF fixture for `doc_id` (q179):
   * SOI, an APP1/Exif TIFF block (IFD0 with Make/Orientation/DateTime;
   * even ids little-endian `II`, odd ids big-endian `MM` — both TIFF
   * byte orders exercised), an SOF0 frame header carrying the
   * dimensions, EOI. Every field is a pure function of the id, so the
   * extraction oracle is modular arithmetic. Ids divisible by 13
   * return a TRUNCATED header (kernel must yield null fields, not
   * crash). Assembled by hand — the point is real bytes, not a
   * library.
   */
  def demoJpeg(id: Long): Array[Byte] = {
    if (id % 13 == 0)
      return Array(0xFF.toByte, 0xD8.toByte, 0xFF.toByte) // truncated
    val le = id % 2 == 0
    val orientation = (id % 8 + 1).toInt
    val make = s"Cam${id % 3}"
    val dt = f"2026:01:${id % 27 + 1}%02d 12:00:00" // EXIF layout, 19 chars
    val makeBytes = (make + " ").getBytes("US-ASCII")
    val dtBytes = (dt + " ").getBytes("US-ASCII")
    // TIFF block: 8-byte header, IFD0 (count=3, 12-byte entries
    // ascending by tag, 4-byte next-IFD), then the value area
    val valueArea = 8 + 2 + 3 * 12 + 4
    val tiff = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit =
      if (le) { tiff.write(v & 0xff); tiff.write((v >> 8) & 0xff) }
      else { tiff.write((v >> 8) & 0xff); tiff.write(v & 0xff) }
    def u32(v: Int): Unit =
      if (le) { tiff.write(v & 0xff); tiff.write((v >> 8) & 0xff)
        tiff.write((v >> 16) & 0xff); tiff.write((v >> 24) & 0xff) }
      else { tiff.write((v >> 24) & 0xff); tiff.write((v >> 16) & 0xff)
        tiff.write((v >> 8) & 0xff); tiff.write(v & 0xff) }
    if (le) { tiff.write('I'); tiff.write('I') }
    else { tiff.write('M'); tiff.write('M') }
    u16(42); u32(8) // magic + IFD0 offset
    u16(3) // three entries
    u16(0x010F); u16(2); u32(makeBytes.length); u32(valueArea) // Make
    u16(0x0112); u16(3); u32(1); u16(orientation); u16(0) // Orientation
    u16(0x0132); u16(2); u32(dtBytes.length) // DateTime
    u32(valueArea + makeBytes.length)
    u32(0) // next IFD
    tiff.write(makeBytes); tiff.write(dtBytes)
    val tiffBytes = tiff.toByteArray
    val h = (100 + id % 50).toInt
    val w = (200 + id % 30).toInt
    val out = new java.io.ByteArrayOutputStream()
    def b(v: Int): Unit = out.write(v & 0xff)
    def be16(v: Int): Unit = { b(v >> 8); b(v) }
    b(0xFF); b(0xD8) // SOI
    b(0xFF); b(0xE1); be16(2 + 6 + tiffBytes.length) // APP1
    out.write("Exif".getBytes("US-ASCII")); b(0); b(0)
    out.write(tiffBytes)
    b(0xFF); b(0xC0); be16(11) // SOF0: precision, h, w, 1 component
    b(8); be16(h); be16(w); b(1); b(1); b(0x11); b(0)
    b(0xFF); b(0xD9) // EOI
    out.toByteArray
  }

  /**
   * Constructive WAV fixture: a REAL RIFF/WAVE PCM payload (16-bit LE
   * mono 8000 Hz) whose every sample is a pure function of the id, so
   * the quality-stats oracle ([[graft.functions.AudioStats]]) is
   * modular arithmetic replayed per sample:
   * `n = 200 + id%50` frames; sample i = `((id·31 + i·17) % 2001 −
   * 1000)·16`, except ids divisible by 9 hard-clip every 25th sample
   * to 32767. Ids divisible by 13 return a truncated non-WAV payload
   * (kernel must yield NULL, not crash).
   */
  def demoWav(id: Long): Array[Byte] = {
    if (id % 13 == 0)
      return Array('R'.toByte, 'I'.toByte, 'F'.toByte) // truncated
    val n = (200 + id % 50).toInt
    val out = new java.io.ByteArrayOutputStream(44 + 2 * n)
    def b(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { b(v); b(v >> 8) }
    def u32(v: Int): Unit = { b(v); b(v >> 8); b(v >> 16); b(v >> 24) }
    out.write("RIFF".getBytes("US-ASCII")); u32(36 + 2 * n)
    out.write("WAVE".getBytes("US-ASCII"))
    out.write("fmt ".getBytes("US-ASCII")); u32(16)
    u16(1); u16(1); u32(8000) // PCM, mono, 8 kHz
    u32(16000); u16(2); u16(16) // byte rate, block align, bits
    out.write("data".getBytes("US-ASCII")); u32(2 * n)
    var i = 0
    while (i < n) {
      val s =
        if (id % 9 == 0 && i % 25 == 0) 32767
        else (((id * 31 + i * 17) % 2001 - 1000) * 16).toInt
      u16(s)
      i += 1
    }
    out.toByteArray
  }

  /**
   * Constructive PNG fixture: a REAL 8-bit-grayscale PNG (zlib IDAT
   * via `java.util.zip.Deflater`, CRC-32 chunk trailers — assembled by
   * hand, decoded back by `javax.imageio` for real) whose every pixel
   * is a pure function of (id, x, y):
   *
   *   c = id / 10   (integer division — the near-dup CLUSTER)
   *   v(x,y) = ((3 + c % 199)·x + (5 + c % 193)·y
   *             + [ (id·131 + x·7 + y·3) % 97 == 0 ] · 40) % 256
   *
   * so the perceptual-hash oracle ([[ImageDedup]]) replays the whole
   * decode→pool→hash chain as modular arithmetic: PNG is lossless and
   * BT.601 integer luma of a gray pixel is the pixel value itself.
   * The cluster term sets the STRIPE SLOPES (structure, not a uniform
   * brightness offset — aHash is shift-invariant by construction, so
   * an offset would collapse every cluster to one hash): members of a
   * cluster differ only in the sparse +40 jitter (a few flipped hash
   * bits); different clusters differ structurally (coprime-moduli
   * slopes — no collisions below ~380 k ids). Cluster SIZE is a
   * constant 10, so true-pair density stays ∝ corpus at every scale
   * factor (an `id % K` key would grow clusters with the corpus and
   * make the pair OUTPUT quadratic — measured on the sf1 sweep). Ids divisible by 13 return a TRUNCATED payload
   * (decode must yield None, not crash) — the [[demoJpeg]]/[[demoWav]]
   * corrupt-blob convention.
   */
  def demoPng(id: Long, w: Int, h: Int): Array[Byte] = {
    if (id % 13 == 0)
      return Array(0x89.toByte, 'P'.toByte, 'N'.toByte) // truncated
    val raw = new Array[Byte]((w + 1) * h) // filter byte 0 + w per row
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val jitter = if ((id * 131 + x * 7 + y * 3) % 97 == 0) 40 else 0
        val c = id / 10
        val v = (((3 + c % 199) * x + (5 + c % 193) * y + jitter) % 256).toInt
        raw(y * (w + 1) + 1 + x) = v.toByte
        x += 1
      }
      y += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](4096)
    while (!deflater.finished()) zbuf.write(tmp, 0, deflater.deflate(tmp))
    deflater.end()
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
    def chunk(kind: String, data: Array[Byte]): Unit = {
      val len = data.length
      out.write(Array((len >> 24) & 0xff, (len >> 16) & 0xff,
        (len >> 8) & 0xff, len & 0xff).map(_.toByte))
      val body = kind.getBytes("US-ASCII") ++ data
      out.write(body)
      val crc = new java.util.zip.CRC32(); crc.update(body)
      val c = crc.getValue
      out.write(Array((c >> 24) & 0xff, (c >> 16) & 0xff,
        (c >> 8) & 0xff, c & 0xff).map(v => v.toByte))
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
    ihdr.putInt(w).putInt(h)
    ihdr.put(8.toByte).put(0.toByte) // bit depth 8, colortype 0 (gray)
    ihdr.put(0.toByte).put(0.toByte).put(0.toByte) // deflate, adaptive, no interlace
    chunk("IHDR", ihdr.array())
    chunk("IDAT", zbuf.toByteArray)
    chunk("IEND", Array.empty)
    out.toByteArray
  }

  /**
   * Deterministic YUV4MPEG2 (Y4M) fixture for `doc_id` — the one video
   * format that needs NO codec (a plain-text header + `FRAME`-
   * delimited raw planar YUV), so the frame decode is REAL byte
   * parsing inside the verified chain, closing the last stubbed
   * modality. Luma(x, y, t) is pure integer arithmetic an SQL engine
   * replays; chroma planes are constant 128 (grayscale — C420 layout
   * still written and parsed for real). Cluster key `id / 10` (the
   * constant-cluster-size lesson of [[demoPng]]); frame count
   * 4 + id % 5, so same-cluster videos differ in length AND noise.
   * Ids divisible by 13 return a TRUNCATED payload (decode must yield
   * None, not crash) — the corrupt-blob convention.
   */
  def demoY4m(id: Long, w: Int, h: Int): Array[Byte] = {
    val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420jpeg\n"
      .getBytes("ISO-8859-1")
    if (id % 13 == 0) return header.take(9) // truncated: no header newline
    val frames = (4 + (id % 5)).toInt
    val out = new java.io.ByteArrayOutputStream()
    out.write(header)
    val k = id / 10
    val chroma = new Array[Byte]((w / 2) * (h / 2))
    java.util.Arrays.fill(chroma, 128.toByte)
    var t = 0
    while (t < frames) {
      out.write("FRAME\n".getBytes("ISO-8859-1"))
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val jitter = if ((id * 131 + x * 7 + y * 3 + t * 17) % 97 == 0) 40 else 0
          val v = (((3 + k % 199) * x + (5 + k % 193) * y +
            (11 + k % 7) * t + jitter) % 256).toInt
          out.write(v)
          x += 1
        }
        y += 1
      }
      out.write(chroma) // U
      out.write(chroma) // V
      t += 1
    }
    out.toByteArray
  }

  /** Floor-block mean pooling of one raw 8-bit luma plane to a
    * `gw`×`gh` grid — the [[lumaGrid]] arithmetic applied to a plane
    * slice (video frames skip the image codec entirely). */
  private def gridOfPlane(
      p: Array[Byte], off: Int, w: Int, h: Int, gw: Int, gh: Int): Array[Int] = {
    val sums = new Array[Long](gw * gh)
    val counts = new Array[Long](gw * gh)
    var y = 0
    while (y < h) {
      val r = y * gh / h
      var x = 0
      while (x < w) {
        val c = x * gw / w
        sums(r * gw + c) += (p(off + y * w + x) & 0xff)
        counts(r * gw + c) += 1
        x += 1
      }
      y += 1
    }
    val grid = new Array[Int](gw * gh)
    var i = 0
    while (i < grid.length) {
      grid(i) = (sums(i) / counts(i)).toInt
      i += 1
    }
    grid
  }

  /**
   * REAL Y4M frame decode (pure byte parsing — uncompressed planar
   * YUV needs no codec): parses the `YUV4MPEG2` header tags (W/H/C —
   * 420/422/444/mono plane geometries), walks the `FRAME`-delimited
   * stream, and returns the frame-SAMPLED pooled luma grids (every
   * `everyN`-th frame, as (frame_idx, grid)) via the exact
   * floor-block-mean arithmetic of [[lumaGrid]]. None for anything
   * malformed or truncated mid-frame — the per-row corrupt-blob
   * contract of [[decodeImage]]/[[decodeAudio]]. Chroma planes are
   * skipped by offset, never materialized.
   */
  def y4mFrameGrids(
      payload: Array[Byte], gw: Int, gh: Int, everyN: Int = 2)
      : Option[Seq[(Int, Array[Int])]] =
    try {
      require(everyN >= 1, "everyN must be >= 1")
      def lineEnd(from: Int): Int = {
        var i = from
        while (i < payload.length && payload(i) != '\n'.toByte) i += 1
        if (i >= payload.length) -1 else i
      }
      val nl = lineEnd(0)
      if (nl < 0) return None
      val header = new String(payload, 0, nl, "ISO-8859-1")
      val toks = header.split(" ")
      if (toks.head != "YUV4MPEG2") return None
      var w = -1
      var h = -1
      var c = "420jpeg"
      toks.tail.foreach { t =>
        if (t.startsWith("W")) w = t.drop(1).toInt
        else if (t.startsWith("H")) h = t.drop(1).toInt
        else if (t.startsWith("C")) c = t.drop(1)
      }
      if (w < gw || h < gh) return None
      val chromaBytes =
        if (c.startsWith("420")) (w / 2) * (h / 2) * 2
        else if (c.startsWith("422")) (w / 2) * h * 2
        else if (c.startsWith("444")) w * h * 2
        else if (c == "mono") 0
        else return None
      val frameBytes = w * h + chromaBytes
      val out = Seq.newBuilder[(Int, Array[Int])]
      var off = nl + 1
      var t = 0
      while (off < payload.length) {
        val fnl = lineEnd(off)
        if (fnl < 0) return None // torn frame marker
        if (!new String(payload, off, fnl - off, "ISO-8859-1")
          .startsWith("FRAME")) return None
        val dataStart = fnl + 1
        if (dataStart + frameBytes > payload.length) return None // truncated
        if (t % everyN == 0)
          out += ((t, gridOfPlane(payload, dataStart, w, h, gw, gh)))
        off = dataStart + frameBytes
        t += 1
      }
      if (t == 0) None else Some(out.result())
    } catch { case _: Exception => None }

  /**
   * Decode an image payload and block-average-pool its BT.601 integer
   * luma down to a `gw`×`gh` grid (row-major Array[Int]) — the pixel
   * fixture perceptual hashes are computed from. Pooling is exact
   * integer arithmetic (sum over the block, then one integer division)
   * with floor block boundaries `[c·w/gw, (c+1)·w/gw)`, so an engine
   * with no image codec can replay it from raw pixels. None on
   * undecodable payloads or rasters smaller than the grid — the
   * per-row corrupt-blob contract of [[decodeImage]].
   */
  def lumaGrid(payload: Array[Byte], gw: Int, gh: Int): Option[Array[Int]] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null || img.getWidth < gw || img.getHeight < gh) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        // single-band rasters read RAW samples: getRGB would route a
        // gray image through ICC gray→sRGB conversion (128 ↦ ~186) and
        // break bit-replayability; color images take the BT.601 path
        val raster = img.getRaster
        val gray = raster.getNumBands == 1 &&
          raster.getSampleModel.getSampleSize(0) == 8
        val sums = new Array[Long](gw * gh)
        val counts = new Array[Long](gw * gh)
        var y = 0
        while (y < h) {
          val r = y * gh / h
          var x = 0
          while (x < w) {
            val c = x * gw / w
            val lum =
              if (gray) raster.getSample(x, y, 0)
              else {
                val rgb = img.getRGB(x, y)
                (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
                  (rgb & 0xff) * 114) / 1000
              }
            sums(r * gw + c) += lum
            counts(r * gw + c) += 1
            x += 1
          }
          y += 1
        }
        val grid = new Array[Int](gw * gh)
        var i = 0
        while (i < grid.length) {
          grid(i) = (sums(i) / counts(i)).toInt
          i += 1
        }
        Some(grid)
      }
    } catch { case _: Exception => None }

  /**
   * The one narrow decode pass behind the media hash kernels
   * ([[ImageDedup.perceptualHashes]], [[VideoDedup.frameHashes]],
   * [[AudioDedup.fingerprints]]): `kernel` maps a payload to its
   * (a, b) long rows — none for an undecodable blob — and every row
   * carries its id verbatim, typed as the INPUT id column (numeric
   * fixture ids and WARC record URNs share one kernel). Output
   * (idCol, aCol, bCol); the payload never survives the pass.
   */
  def payloadRows(
      media: DataFrame,
      idCol: String,
      payloadCol: String,
      aCol: String,
      bCol: String)(kernel: Array[Byte] => Iterable[(Long, Long)]): DataFrame = {
    val in = media.select(col(idCol), col(payloadCol))
    val out = StructType(Seq(in.schema.head,
      StructField(aCol, LongType, nullable = false),
      StructField(bCol, LongType, nullable = false)))
    in.flatMap { r =>
      val id = r.get(0)
      kernel(r.getAs[Array[Byte]](1)).map { case (a, b) => Row(id, a, b) }
    }(Encoders.row(out))
  }

  /** Build a demo media table from any (id, text) source — payload =
    * UTF-8 bytes. Stands in for reading real blobs. */
  def demoMediaTable(df: DataFrame, idCol: String, textCol: String): Dataset[MediaRecord] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)].map {
      case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val kind = id % 3 match {
          case 0 => "image"; case 1 => "audio"; case _ => "video"
        }
        MediaRecord(id, kind, bytes, bytes.length.toLong,
          64 + (id % 16).toInt, 64, bytes.length * 10L)
    }
  }

  /** Partition-batched decode → features. One decoder/digest per
    * partition (init hoisted out of the row loop), matching the
    * mapInPandas batch-shape contract. Image payloads decode for REAL
    * (`javax.imageio`), audio payloads for REAL (`javax.sound.sampled`
    * — WAV/AIFF/AU PCM); video (and undecodable bytes of any kind)
    * falls back to the stub feature with `decoded = false`. */
  def decodeFeatures(media: Dataset[MediaRecord], dims: Int = 8): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      // per-partition init: digest here; a real video impl would also
      // open its codec once here
      val digest = java.security.MessageDigest.getInstance("MD5")
      it.map { r =>
        digest.reset()
        val sum = digest.digest(r.payload).map("%02x".format(_)).mkString
        val base = MediaFeatures(r.media_id, r.kind, r.payload.length.toLong, sum,
          decoded = false, width = -1, height = -1,
          feature = stubDecode(r.payload, dims))
        r.kind match {
          case "image" => decodeImage(r.payload, dims) match {
            case Some((w, h, hist)) =>
              base.copy(decoded = true, width = w, height = h, feature = hist)
            case None => base
          }
          case "audio" => decodeAudio(r.payload, dims) match {
            case Some(a) =>
              base.copy(decoded = true, feature = a.envelope,
                sample_rate = a.sampleRate, channels = a.channels,
                decoded_ms = a.durationMs)
            case None => base
          }
          case "video" => y4mFrameGrids(r.payload, 9, 8) match {
            // raw Y4M decodes for REAL (uncompressed planar YUV needs
            // no codec): the feature is the pooled-luma histogram over
            // the sampled frames — the video twin of decodeImage's
            case Some(frames) =>
              val hist = new Array[Double](dims)
              var n = 0L
              frames.foreach { case (_, grid) =>
                grid.foreach { v => hist(v * dims / 256) += 1.0; n += 1 }
              }
              if (n > 0) { var i = 0; while (i < dims) { hist(i) /= n; i += 1 } }
              base.copy(decoded = true, feature = hist)
            case None => parseMp4Meta(r.payload) match {
              // compressed containers: metadata is REAL (box-tree
              // parse); the frame feature stays the stub — bitstream
              // CODECS are not available in this sandbox
              case Some(v) =>
                base.copy(decoded = true, width = v.width, height = v.height,
                  decoded_ms = v.durationMs)
              case None => base
            }
          }
          case _ => base
        }
      }
    }
  }

  /** Frame sampling for video rows: one output row per sampled frame
    * offset (declarative explode, no driver loop). Non-video rows pass
    * through with frame_idx 0. */
  def sampleFrames(media: DataFrame, everyMs: Long): DataFrame = {
    val nFrames = when(col("kind") === "video",
      greatest((col("duration_ms") / everyMs).cast("int"), lit(1))).otherwise(lit(1))
    media
      .withColumn("frame_idx", explode(sequence(lit(0), nFrames - 1)))
      .withColumn("frame_offset_ms", col("frame_idx") * everyMs)
  }

  /** Metadata-only stats — provable payload-pruning: the plan touches
    * only (kind, n_bytes, duration_ms); the payload column never leaves
    * the scan (check `ReadSchema` in `.explain("formatted")`). */
  def mediaStats(media: DataFrame): DataFrame =
    media
      .groupBy("kind")
      .agg(
        count(lit(1)).as("n_assets"),
        sum(col("n_bytes")).as("total_bytes"),
        max(col("duration_ms")).as("max_duration_ms"))
}
