package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (north star: image/audio/video as opaque
  * binary columns + typed metadata, with decode/feature-extract as
  * partition-parallel operators).
  *
  * All three metadata decoders are REAL, zero-dependency, and
  * header-only (per-row cost independent of payload size):
  *   - IMAGE: `imageDims` parses true width/height/channels through
  *     `javax.imageio` (JDK built-in PNG/JPEG/GIF/BMP readers, no
  *     pixel decode).
  *   - AUDIO: `audioMeta` parses sample rate/channels/frames through
  *     `javax.sound.sampled` (JDK built-in WAV/AIFF/AU readers).
  *   - VIDEO: `videoMeta` walks the public ISO-BMFF (MP4) box layout
  *     for mvhd timescale/duration and tkhd dimensions — container
  *     byte arithmetic, no codec required.
  * Payloads a decoder does not recognize fall back to `fakeDecode`, a
  * deterministic stand-in, never a task failure. Sample-data transforms
  * (frame content) remain stubs — pixel/PCM codecs don't
  * ship in this container — but the schema, the mapPartitions batch
  * shape, the explicit output StructType, and the per-partition
  * amortization pattern are the real 100 TB-relevant plumbing and are
  * tested throughout.
  */
object Multimodal {

  /** Scale-adaptive input spread for the synth→decode paths — every
    * synth here is CPU-dense per row (real PNG/WAV/MP4 encode), and the
    * harness corpus is single-file single-row-group parquet, so the id
    * scan plans ONE task and the whole synth+decode chain inherits it:
    * StageProfile (r21) measured the video demux core at 31 idle cores.
    * When the incoming ids DataFrame has fewer partitions than the
    * session's parallelism, spread it round-robin ONCE before the
    * mapPartitions; on a production layout (many files / row groups)
    * the scan already feeds the cores and this is a NO-OP. The id rows
    * are 8 bytes each, so the exchange is noise next to the encode work
    * it parallelizes (r21 A/B: mm_image_phash 0.79→0.18 s at sf0.1).
    * Applied to the PNG paths (per-row pixel encode/decode) and the
    * MP4 paths (the demux cores — core_build 41.4→37.2 s); the WAV
    * paths measured WORSE with it (mm_audio_energy 0.29→0.71 s — the
    * PCM window sums are too cheap to pay for the extra stage) and
    * keep the raw scan. Determinism:
    * round-robin repartition is deterministic (sort-before-repartition)
    * and every consumer is row-wise then aggregated — the 4-vs-32-core
    * determinism gate pins it. */
  private def spreadIds(ids: DataFrame, idCol: String): DataFrame = {
    val base = ids.select(col(idCol).cast("long"))
    val par = ids.sparkSession.sparkContext.defaultParallelism
    if (base.rdd.getNumPartitions >= par) base else base.repartition(par)
  }

  /** The synthesizer scaffold: one `mime` payload per row of the
    * one-column long id frame `idScan`, encoded executor-side — the
    * driver never sees a payload. `encoder` is evaluated once per
    * partition, so per-partition setup (codec config, a reused digest)
    * goes in front of the per-id function it returns. The caller picks
    * the id scan: `spreadIds` or the raw one (see `spreadIds`). */
  private def synth(idScan: DataFrame, mime: String)(
      encoder: => Long => Array[Byte]): DataFrame = {
    val rdd = idScan.rdd.mapPartitions { it =>
      val encode = encoder
      it.map { r =>
        val id = r.getLong(0)
        Row(id, encode(id), mime)
      }
    }
    idScan.sparkSession.createDataFrame(rdd, mediaSchema)
  }

  /** The decoder scaffold: one mapPartitions pass over (media_id,
    * payload) with a NULL payload read as empty, output under the
    * explicit `schema` (no inference, no driver involvement).
    * `decoder` is evaluated once per partition — per-partition setup
    * goes in front of the function it returns — and that function maps
    * one payload to its output rows: exactly one for the feature
    * extractors, any number for the generator-shaped ones. */
  private def decode(media: DataFrame, schema: StructType)(
      decoder: => (Long, Array[Byte]) => Iterator[Row]): DataFrame = {
    val rdd = media.select("media_id", "payload").rdd.mapPartitions { it =>
      val rowsOf = decoder
      it.flatMap { r =>
        rowsOf(r.getLong(0),
          if (r.isNullAt(1)) Array.empty[Byte] else r.getAs[Array[Byte]](1))
      }
    }
    media.sparkSession.createDataFrame(rdd, schema)
  }

  /** The one PNG encoder: a w×h RGB image whose pixel (x, y) is the
    * gray value `gray(x, y)`, written through the JDK's ImageIO. */
  private def png(w: Int, h: Int)(gray: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = gray(x, y)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Lower-case hex md5 of `s`'s UTF-8 bytes through a reused digest. */
  private def md5Hex(md: java.security.MessageDigest, s: String): String = {
    md.reset()
    val hex = new java.lang.StringBuilder(32)
    md.digest(s.getBytes("UTF-8")).foreach(b => hex.append(f"${b & 0xff}%02x"))
    hex.toString
  }

  /** `n` bytes with byte i = (i·step + base) mod 256 — the deterministic
    * body of the WAV fixtures and of the MP4 fixtures' mdat stream. */
  private def bytePattern(n: Int, step: Int, base: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = ((i * step + base) & 0xff).toByte; i += 1 }
    out
  }

  /** Typed media-metadata schema carried beside the binary payload. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("mime", StringType, nullable = true)))

  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("byte_len", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false)))

  /** FALLBACK decode: deterministic fake dimensions from payload bytes,
    * for payloads no ImageIO reader recognizes (audio/video — swap in
    * ffmpeg bindings in production; the operator shape does not
    * change). */
  private def fakeDecode(payload: Array[Byte]): (Int, Int, Int) = {
    val h = if (payload == null || payload.isEmpty) 0
    else payload.foldLeft(17)((acc, b) => acc * 31 + (b & 0xff)) & 0x7fffffff
    (16 + h % 640, 16 + (h / 640) % 480, 3)
  }

  /** REAL image decode via `javax.imageio` (in the JDK — PNG, JPEG, GIF,
    * BMP, WBMP): sniffs the payload's magic bytes for a registered
    * reader and asks it for width/height/channel-count. Header-only —
    * `getWidth/getHeight/getImageTypes` never decode pixel data, so cost
    * per row is a few header bytes regardless of image size (the
    * property that matters when the payload column is 100 TB of JPEGs).
    * None when no reader recognizes the bytes (caller falls back). */
  private[multimodal] def imageDims(
      payload: Array[Byte]): Option[(Int, Int, Int)] = {
    if (payload == null || payload.length == 0) return None
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    // createImageInputStream returns null when no stream SPI is
    // registered — fall through to the caller's fallback rather than
    // NPE in the finally.
    if (iis == null) return None
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(iis, true, true)
          val types = r.getImageTypes(0)
          val ch = if (types.hasNext) types.next().getNumComponents else 3
          Some((r.getWidth(0), r.getHeight(0), ch))
        } catch {
          // Truncated/corrupt header: treat as undecodable, not fatal —
          // a 100 TB crawl WILL contain broken images.
          case scala.util.control.NonFatal(_) => None
        } finally r.dispose()
      }
    } finally iis.close()
  }

  val audioFeatureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("byte_len", LongType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("duration_us", LongType, nullable = false)))

  /** REAL audio metadata via `javax.sound.sampled` (in the JDK — WAV,
    * AIFF, AU file readers ship with every JRE): sample rate, channel
    * count, and frame length parsed from the container header.
    * Header-only like `imageDims` — `getAudioFileFormat` reads the
    * RIFF/chunk headers, never the sample data, so per-row cost is
    * independent of payload size. None when no provider recognizes the
    * bytes (caller falls back to the deterministic stub — MP3/OGG/video
    * codecs don't ship in the JDK). */
  private[multimodal] def audioMeta(
      payload: Array[Byte]): Option[(Int, Int, Long)] = {
    if (payload == null || payload.length == 0) return None
    try {
      // ByteArrayInputStream supports mark/reset, which the provider
      // probe requires; no buffering wrapper needed.
      val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(payload))
      val f = aff.getFormat
      Some((f.getSampleRate.toInt, f.getChannels, aff.getFrameLength.toLong))
    } catch {
      // UnsupportedAudioFileException = not audio; any other header
      // parse failure = corrupt payload. Both are per-row fall-through,
      // never task failures — a 100 TB crawl WILL contain broken files.
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Audio feature extraction as mapPartitions over the binary column —
    * same shape as `extractFeatures`: explicit schema, per-partition
    * amortization, no driver involvement. Real WAV/AIFF/AU headers get
    * TRUE (sample_rate, channels, n_frames); anything else gets the
    * deterministic fallback so the pipeline never stalls on a bad row.
    * duration_us is exact integer microseconds (frames·10⁶/rate). */
  def extractAudioFeatures(media: DataFrame): DataFrame =
    decode(media, audioFeatureSchema) { (id, payload) =>
      val (sr, ch, fr) = audioMeta(payload).getOrElse {
        val (w, h, c) = fakeDecode(payload)
        (w * 25, c, h.toLong) // fake-but-deterministic audio shape
      }
      val durUs = if (sr > 0) fr * 1000000L / sr else 0L
      Iterator.single(Row(id, payload.length.toLong, sr, ch, fr, durUs))
    }

  /** Synthesize one REAL PNG per id (executor-side, via the same JDK
    * ImageIO the decoder reads with): dims 16+(id%32) × 16+(id%16),
    * RGB. The byte stream is encoder-dependent (never oracle it); the
    * PARSED dimensions are the deterministic contract `mm_image_features`
    * checks — the image twin of `synthWav`/`synthMp4`. */
  def synthPng(ids: DataFrame, idCol: String): DataFrame =
    synth(spreadIds(ids, idCol), "image/png") {
      javax.imageio.ImageIO.setUseCache(false)
      id => png(16 + (id % 32).toInt, 16 + (id % 16).toInt)((_, _) => 0)
    }

  /** Synthesize one PATTERNED 32×32 grayscale PNG per id: pixel
    * (x, y) carries gray value (id·31 + x·7 + y·13) mod 256 — written
    * through the real JDK encoder. The arithmetic is the oracle
    * contract: DuckDB recomputes the pixel grid directly while the
    * Spark side must recover it by actually DECODING the PNG bytes
    * (`extractAHash`), making this the first pixel-content round trip
    * (the header paths stop at dimensions). */
  def synthPngPattern(ids: DataFrame, idCol: String): DataFrame =
    synth(spreadIds(ids, idCol), "image/png") {
      javax.imageio.ImageIO.setUseCache(false)
      id => png(32, 32)((x, y) => ((id * 31 + x * 7 + y * 13) % 256).toInt)
    }

  /** Family-structured near-duplicate image corpus — the image twin of
    * `synthMp4FramesShared` (which gives video families sharing
    * frames): every 4 consecutive ids form a FAMILY of re-encoded
    * variants of one image, at three different resolutions (16/24/32
    * square — all multiples of 8, so the aHash 8×8 grid divides
    * exactly), with member m perturbing its first m blocks to white.
    *
    * The pixel grid is BLOCK-constant (pixel (x,y) carries the value
    * of its 8×8-grid block), which makes the aHash bits closed-form —
    * bit_j = v_j·64 > Σv — AND resolution-invariant (the per-block
    * pixel count cancels from extractAHash's integer threshold), so
    * the oracle can replay the hash from the 64 block values without
    * simulating pixels. Block layout per member (fam = id/4, pert =
    * id%4):
    *   - blocks 0..2: 0, except blocks < pert forced to 255 — the
    *     perturbation channel. Intra-family Hamming distance is
    *     EXACTLY |pert_a − pert_b| ∈ {1,2,3} ≤ 3, inside the 4×16
    *     banding guarantee.
    *   - blocks 3..62: 64 or 192 by one of the 60 low bits of
    *     md5(fam) — ~15 bits of family entropy per 16-block band, so
    *     distinct families differ in ~30 bits total (never is_dup)
    *     and share a band only at ~2⁻¹⁵ (the occasional surviving
    *     candidate is exactly the propose/dispose split a real pHash
    *     dedup exhibits, and keeps the candidate table linear-ish in
    *     corpus size instead of quadratic).
    *   - block 63: constant 64 (pads the odd block count).
    * Bit-stability margin: Σv = 3904 + 128k + 255·pert where k =
    * #192-blocks among the 60 md5 bits. Each threshold v·64 stays on
    * one side of the whole pert range [Σ, Σ+765] whenever 2 ≤ k ≤ 59
    * — violated only by an md5 with ≤1 or ≥60 ones in 60 bits, which
    * no real fam value produces; the generator require()s it per row
    * so a violation would fail loudly, not corrupt parity.
    * Encoded through the real JDK PNG encoder; the consumer must
    * decode actual bytes (extractAHash) to recover the grid. */
  def synthPngFamilies(ids: DataFrame, idCol: String): DataFrame =
    synth(spreadIds(ids, idCol), "image/png") {
      javax.imageio.ImageIO.setUseCache(false)
      val md = java.security.MessageDigest.getInstance("MD5")
      id =>
        val fam = id / 4
        val pert = (id % 4).toInt
        val side = 16 + 8 * (pert % 3)
        val hex = md5Hex(md, fam.toString)
        def famBit(i: Int): Int = {
          val h = Character.digit(hex.charAt(i / 2), 16)
          if (i % 2 == 0) h & 1 else (h >> 1) & 1
        }
        val ones = (0 until 60).count(famBit(_) == 1)
        require(ones >= 2 && ones <= 59,
          s"synthPngFamilies: degenerate md5 bit count $ones for fam " +
            s"$fam breaks the aHash stability margin")
        def blockVal(j: Int): Int =
          if (j < pert) 255
          else if (j < 3) 0
          else if (j == 63) 64
          else if (famBit(j - 3) == 0) 64
          else 192
        val bw = side / 8
        png(side, side)((x, y) => blockVal((y / bw) * 8 + (x / bw)))
    }

  val aHashSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("ahash", StringType, nullable = true)))

  /** REAL perceptual average-hash over decoded pixels: decode the PNG
    * (full `ImageIO.read`, not the header probe), split the 32×32
    * grayscale into an 8×8 block grid, and emit one bit per block —
    * 1 when the block's pixel sum beats the global mean (compared as
    * `blockSum·64 > globalSum`, integer-exact: blockSum/16 >
    * globalSum/1024 ⟺ blockSum·64 > globalSum). The 64 bits are
    * emitted row-major as a '0'/'1' string so no engine touches
    * 64-bit sign semantics. aHash is THE cheap near-dup screen for
    * image corpora (resize/recompress-invariant in production; here
    * the invariance under re-encoding is exactly what the PNG round
    * trip exercises). Undecodable payloads emit NULL, never failures.
    * Per-row cost is the decode itself — unlike the header paths this
    * one reads pixel data, which is the honest cost of content
    * hashing; it stays mapPartitions-parallel with zero shuffle. */
  def extractAHash(media: DataFrame): DataFrame =
    decode(media, aHashSchema) {
      javax.imageio.ImageIO.setUseCache(false)
      (id, payload) =>
        val hash: String =
          try {
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(payload))
            if (img == null) null
            else {
              val raster = img.getRaster
              val bw = img.getWidth / 8
              val bh = img.getHeight / 8
              if (bw == 0 || bh == 0) null
              else {
                val bsum = Array.ofDim[Long](64)
                var gsum = 0L
                var y = 0
                while (y < bh * 8) {
                  var x = 0
                  while (x < bw * 8) {
                    val v = raster.getSample(x, y, 0).toLong
                    bsum((y / bh) * 8 + (x / bw)) += v
                    gsum += v
                    x += 1
                  }
                  y += 1
                }
                val nPerBlock = bw.toLong * bh
                val nTotal = nPerBlock * 64
                val sb = new java.lang.StringBuilder(64)
                var j = 0
                while (j < 64) {
                  sb.append(
                    if (bsum(j) * nTotal > gsum * nPerBlock) '1' else '0')
                  j += 1
                }
                sb.toString
              }
            }
          } catch { case scala.util.control.NonFatal(_) => null }
        Iterator.single(Row(id, hash))
    }

  val bandSumSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("bsums", ArrayType(LongType, containsNull = false),
      nullable = true)))

  /** Decode the image (full `ImageIO.read`) and emit the gray-value SUM
    * of each of 8 horizontal bands — the deterministic stand-in for an
    * image ENCODER embedding (a real CLIP tower isn't in this
    * container; the stub policy is the synthWav discipline: fake the
    * model, keep the plumbing real). Integer sums, not means, so the
    * downstream vector math starts from exactly-representable values
    * on every engine. Height must divide by 8 (else NULL, like an
    * undecodable payload) — every synth corpus here is 8-divisible.
    * mapPartitions-parallel, zero shuffle; per-row cost is the decode,
    * the honest price of content-derived features. */
  def extractBandSums(media: DataFrame): DataFrame =
    decode(media, bandSumSchema) {
      javax.imageio.ImageIO.setUseCache(false)
      (id, payload) =>
        val sums: Array[Long] =
          try {
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(payload))
            if (img == null || img.getHeight % 8 != 0) null
            else {
              val raster = img.getRaster
              val bh = img.getHeight / 8
              val out = Array.ofDim[Long](8)
              var y = 0
              while (y < img.getHeight) {
                var x = 0
                while (x < img.getWidth) {
                  out(y / bh) += raster.getSample(x, y, 0).toLong
                  x += 1
                }
                y += 1
              }
              out
            }
          } catch { case scala.util.control.NonFatal(_) => null }
        Iterator.single(Row(id, sums))
    }

  /** The one RIFF/WAVE writer: the canonical 44-byte 16-bit PCM
    * header around `data`, the interleaved little-endian samples (the
    * public RIFF/WAVE layout; no codec needed for PCM). */
  private def wav(sampleRate: Int, channels: Int,
      data: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(44 + data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + data.length)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
    bb.putShort(1).putShort(channels.toShort) // PCM, channel count
    bb.putInt(sampleRate).putInt(sampleRate * channels * 2)
    bb.putShort((channels * 2).toShort).putShort(16) // block align, bits
    bb.put("data".getBytes("US-ASCII")).putInt(data.length)
    bb.put(data).array()
  }

  /** Canonical 44-byte PCM WAV container around `nFrames` frames of
    * 16-bit audio with deterministic body bytes (byte i = (31·i +
    * sampleRate) mod 256) — the test-fixture payload generator for the
    * audio path. */
  def wavBytes(sampleRate: Int, channels: Int, nFrames: Int): Array[Byte] =
    wav(sampleRate, channels, bytePattern(nFrames * channels * 2, 31,
      sampleRate))

  /** Mono 16-bit PCM WAV around EXPLICIT samples — the generator hook
    * for corpora whose sample values carry structure (silence runs)
    * that wavBytes' byte-pattern fill cannot express. */
  def wavBytesSamples(sampleRate: Int,
      samples: Array[Short]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(bb.putShort)
    wav(sampleRate, 1, bb.array())
  }

  /** Silence-structured AUDIO corpus for voice-activity segmentation:
    * mono 8 kHz, nWin = 8+(id%5) windows of 50 frames each; window w
    * is SILENT (all-zero samples) iff (id + w) mod 3 == 0, else every
    * sample in it carries the constant 100 + (id·13 + w·7) mod 500.
    * The closed form is the oracle contract — window energy is
    * exactly 0 or 50·amplitude, so the consumer must decode real PCM
    * to recover the silence map the oracle derives arithmetically. */
  def synthWavSegments(ids: DataFrame, idCol: String): DataFrame =
    synth(ids.select(col(idCol).cast("long")), "audio/wav") { id =>
      val nWin = 8 + (id % 5).toInt
      val samples = Array.ofDim[Short](nWin * 50)
      var w = 0
      while (w < nWin) {
        val a: Short =
          if ((id + w) % 3 == 0) 0
          else (100 + (id * 13 + w * 7) % 500).toShort
        var j = 0
        while (j < 50) { samples(w * 50 + j) = a; j += 1 }
        w += 1
      }
      wavBytesSamples(8000, samples)
    }

  /** Family-structured near-duplicate AUDIO corpus — the audio twin of
    * `synthPngFamilies`: every 4 consecutive ids are cuts of ONE
    * master recording at four lengths (100/125/150/175 frames), so
    * family members are PREFIX-equal in PCM content — the "same
    * recording, different cut" case an audio fingerprint dedup
    * exists for. The master's byte pattern is seeded by the first 16
    * md5(fam) bits (byte_i = (i·step + base) mod 256 with step =
    * 31 + 2·(seed>>8), base = seed&255): ~65k distinct contents, so
    * cross-family signature collisions are rare but nonzero — and
    * when two fams DO collide mod the pattern arithmetic both engines
    * replay the same verdict, since the whole derivation is
    * closed-form. Container: PCM WAV, 8000 Hz mono, via the same RIFF
    * layout as `wavBytes`; consumers must decode real samples
    * (`extractAudioEnergy`) to recover the profile. */
  def synthWavFamilies(ids: DataFrame, idCol: String): DataFrame =
    synth(ids.select(col(idCol).cast("long")), "audio/wav") {
      val md = java.security.MessageDigest.getInstance("MD5")
      id =>
        val seed16 = Integer.parseInt(
          md5Hex(md, (id / 4).toString).substring(0, 4), 16)
        val nFrames = 100 + 25 * (id % 4).toInt
        wav(8000, 1, bytePattern(nFrames * 2, 31 + 2 * (seed16 >> 8),
          seed16 & 0xff))
    }

  val audioEnergySchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("window_idx", LongType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("abs_sum", LongType, nullable = false)))

  /** REAL PCM-content energy profile — the audio twin of
    * `extractAHash`'s pixel round trip (the header path stops at
    * sample counts; this one reads the SAMPLES): decode the container
    * through `AudioSystem.getAudioInputStream` (format-aware — the
    * stream hands back raw frames regardless of container framing),
    * reassemble signed 16-bit little-endian samples, and emit one row
    * per `windowFrames`-frame window with the window's summed absolute
    * amplitude — the integer-exact stand-in for RMS (no sqrt, so both
    * engines agree bit-for-bit; production swaps in the float RMS or a
    * mel filterbank, same operator shape). VAD/silence trimming — the
    * standard audio-corpus cleaning gate — is a threshold over exactly
    * this table. Generator-shaped mapPartitions, zero shuffle; per-row
    * cost is the decode, the honest price of content analysis.
    * Non-audio payloads emit no rows (per-row skip, never a failure). */
  def extractAudioEnergy(media: DataFrame, windowFrames: Int): DataFrame = {
    require(windowFrames >= 1, "extractAudioEnergy: windowFrames >= 1")
    decode(media, audioEnergySchema) { (id, payload) =>
      try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val fmt = ais.getFormat
          val ch = fmt.getChannels
          val ok = fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian &&
            fmt.getEncoding ==
              javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
          if (!ok) Iterator.empty
          else {
            val bytes = ais.readAllBytes()
            val nFramesTotal = bytes.length / (2 * ch)
            val nWindows = (nFramesTotal + windowFrames - 1) / windowFrames
            val sums = Array.ofDim[Long](nWindows.max(0))
            var k = 0
            val nSamples = nFramesTotal * ch
            while (k < nSamples) {
              val lo = bytes(2 * k) & 0xff
              val hi = bytes(2 * k + 1)
              val v = ((hi << 8) | lo).toShort.toLong
              sums((k / ch) / windowFrames) += math.abs(v)
              k += 1
            }
            (0 until nWindows).iterator.map { w =>
              val nf = math.min(windowFrames.toLong,
                nFramesTotal.toLong - w.toLong * windowFrames)
              Row(id, w.toLong, nf, sums(w))
            }
          }
        } finally ais.close()
      } catch { case scala.util.control.NonFatal(_) => Iterator.empty }
    }
  }

  /** Synthesize one REAL WAV payload per input id (executor-side
    * mapPartitions — the driver never sees a payload): sample rate
    * 8000 + (id%4)·2000, channels 1 + id%2, frames 100 + id%50. The
    * derivation is the oracle-checkable contract: a DuckDB twin
    * recomputes the expected metadata from the same arithmetic while
    * the Spark side must recover it by actually parsing the bytes it
    * built — an end-to-end build→parse round trip per row. */
  def synthWav(ids: DataFrame, idCol: String): DataFrame =
    synth(ids.select(col(idCol).cast("long")), "audio/wav") { id =>
      wavBytes(8000 + (id % 4).toInt * 2000, 1 + (id % 2).toInt,
        100 + (id % 50).toInt)
    }

  val videoFeatureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("byte_len", LongType, nullable = false),
    StructField("timescale", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))

  /** Big-endian u32 at `off`, or -1 when the read would run past the
    * payload — callers must treat -1 as malformed, never as a value. */
  private def u32(payload: Array[Byte], off: Int): Long =
    if (off + 4 > payload.length) -1L
    else ((payload(off) & 0xffL) << 24) | ((payload(off + 1) & 0xffL) << 16) |
      ((payload(off + 2) & 0xffL) << 8) | (payload(off + 3) & 0xffL)

  private def fourcc(payload: Array[Byte], off: Int): String =
    if (off + 4 > payload.length) ""
    else new String(payload, off, 4, "US-ASCII")

  /** Walk sibling boxes in [from, until) for `name`; box size 0/1
    * (to-end / 64-bit) is out of scope for this minimal reader. Shared
    * by `videoMeta`, `videoSampleTimes` and `videoSampleRanges`. */
  private def findBox(payload: Array[Byte], name: String, from: Int,
      until: Int): Option[(Int, Int)] = {
    var off = from
    while (off + 8 <= until) {
      val sz = u32(payload, off)
      if (sz < 8 || off + sz > until) return None
      if (fourcc(payload, off + 4) == name) return Some((off, off + sz.toInt))
      off += sz.toInt
    }
    None
  }

  /** The first track's sample table: walks moov→trak→mdia→minf→stbl
    * and returns the (start, end) bounds of `mdia` (for mdhd) and of
    * `stbl` — the walk both sample-table readers take. */
  private def sampleTable(
      payload: Array[Byte]): Option[((Int, Int), (Int, Int))] = for {
    (moov, moovEnd) <- findBox(payload, "moov", 0, payload.length)
    (trak, trakEnd) <- findBox(payload, "trak", moov + 8, moovEnd)
    (mdia, mdiaEnd) <- findBox(payload, "mdia", trak + 8, trakEnd)
    (minf, minfEnd) <- findBox(payload, "minf", mdia + 8, mdiaEnd)
    (stbl, stblEnd) <- findBox(payload, "stbl", minf + 8, minfEnd)
  } yield ((mdia, mdiaEnd), (stbl, stblEnd))

  /** REAL video-container metadata: a minimal ISO-BMFF (MP4) box walker
    * — the box layout (size + fourcc framing, big-endian fields) is the
    * public ISO/IEC 14496-12 structure, and reading mvhd
    * timescale/duration plus tkhd width/height needs NO codec, only
    * byte arithmetic, exactly like the WAV header path. Walks top-level
    * boxes to `moov`, then its children for version-0 `mvhd`
    * (timescale at +12, duration at +16 after the box header) and the
    * first `trak`→`tkhd` (16.16 fixed-point width/height at +76/+80).
    * Returns (timescale, durationTicks, width, height); None for
    * anything that is not a well-formed MP4 prefix — truncated boxes,
    * other formats, or v1 (64-bit) headers this minimal reader does not
    * speak — so the caller falls back instead of failing the task. */
  private[multimodal] def videoMeta(
      payload: Array[Byte]): Option[(Int, Long, Int, Int)] = {
    if (payload == null || payload.length < 8) return None
    try {
      if (fourcc(payload, 4) != "ftyp") return None
      for {
        (moov, moovEnd) <- findBox(payload, "moov", 0, payload.length)
        (mvhd, mvhdEnd) <- findBox(payload, "mvhd", moov + 8, moovEnd)
        // Field-extent guards: a well-FRAMED box can still be smaller
        // than the fields this reader pulls from it (e.g. an mvhd of
        // size 12 passes findBox's sz >= 8 check), and u32 past the
        // payload returns a -1 sentinel that would otherwise surface
        // as a "real" timescale/dimension. v0 mvhd fields end at +28,
        // v0 tkhd width/height at +92 — anything shorter is malformed
        // for this reader, so fall back to None like any other
        // not-well-formed prefix.
        if mvhdEnd - mvhd >= 28
        if payload(mvhd + 8) == 0 // version 0: 32-bit fields
        (trak, trakEnd) <- findBox(payload, "trak", moov + 8, moovEnd)
        (tkhd, tkhdEnd) <- findBox(payload, "tkhd", trak + 8, trakEnd)
        if tkhdEnd - tkhd >= 92
        if payload(tkhd + 8) == 0
        ts = u32(payload, mvhd + 20); dur = u32(payload, mvhd + 24)
        w = u32(payload, tkhd + 84); h = u32(payload, tkhd + 88)
        if ts >= 0 && dur >= 0 && w >= 0 && h >= 0 // no -1 sentinels
      } yield (ts.toInt, dur, (w >> 16).toInt, (h >> 16).toInt)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** REAL per-sample decode timestamps from the MP4 sample table: walk
    * moov→trak→mdia→{mdhd, minf→stbl→stts} and expand the stts
    * (count, delta) run-length pairs into cumulative decode times —
    * sample k's time is the sum of all deltas before it, in the MEDIA
    * timescale from mdhd (not mvhd's movie timescale; the distinction
    * is the classic ISO-BMFF bug this parser must get right). Returns
    * (mediaTimescale, startTimesInTicks); None for anything not a
    * well-formed v0 prefix, exactly like `videoMeta`.
    *
    * `maxSamples` bounds the expansion: stts is run-length compressed,
    * so a hostile/corrupt 16-byte box can claim 2^32 samples — at
    * 100 TB a per-row output cap is the difference between a generator
    * op and an OOM. Runs are truncated, never rejected, past the cap. */
  private[graft] def videoSampleTimes(payload: Array[Byte],
      maxSamples: Int = 65536): Option[(Int, Array[Long])] = {
    if (payload == null || payload.length < 8) return None
    try {
      if (fourcc(payload, 4) != "ftyp") return None
      for {
        ((mdia, mdiaEnd), (stbl, stblEnd)) <- sampleTable(payload)
        (mdhd, mdhdEnd) <- findBox(payload, "mdhd", mdia + 8, mdiaEnd)
        // v0 mdhd: version at +8, timescale at +20 (after ctime/mtime).
        if mdhdEnd - mdhd >= 32 && payload(mdhd + 8) == 0
        mts = u32(payload, mdhd + 20)
        if mts > 0
        (stts, sttsEnd) <- findBox(payload, "stts", stbl + 8, stblEnd)
        if sttsEnd - stts >= 16 && payload(stts + 8) == 0
        nEntries = u32(payload, stts + 12)
        // The box must physically contain every entry it declares.
        if nEntries >= 0 && sttsEnd - stts >= 16 + 8 * nEntries
      } yield {
        val times = Array.newBuilder[Long]
        var t = 0L
        var e = 0
        var emitted = 0
        while (e < nEntries && emitted < maxSamples) {
          val cnt = u32(payload, stts + 16 + 8 * e)
          val delta = u32(payload, stts + 20 + 8 * e)
          var k = 0L
          while (k < cnt && emitted < maxSamples) {
            times += t
            t += delta
            k += 1
            emitted += 1
          }
          e += 1
        }
        (mts.toInt, times.result())
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  val frameTimeSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("sample_idx", LongType, nullable = false),
    StructField("t_ms", LongType, nullable = false)))

  /** TRUE frame-timestamp sampling: one MP4 payload row → one row per
    * kept sample with its REAL decode time from the sample table
    * (stts run-length pairs in the mdhd media timescale), not synthetic
    * spacing. Keeps every `stride`-th sample — the keyframe-ish
    * decimation a frame-extraction pipeline applies before the (stubbed
    * here) pixel decode. t_ms is exact integer math: ticks·1000/mts.
    * Payloads without a parseable sample table emit NO rows (a corrupt
    * container has no frames to sample — per-row skip, never a task
    * failure). Generator-shaped like `sampleFrames`; per-row output is
    * bounded by videoSampleTimes' maxSamples cap. */
  def sampleFrameTimes(media: DataFrame, stride: Int): DataFrame = {
    require(stride >= 1, "sampleFrameTimes: stride must be >= 1")
    decode(media, frameTimeSchema) { (id, payload) =>
      videoSampleTimes(payload) match {
        case Some((mts, ticks)) =>
          ticks.iterator.zipWithIndex.collect {
            case (t, k) if k % stride == 0 =>
              Row(id, k.toLong, t * 1000L / mts)
          }
        case None => Iterator.empty
      }
    }
  }

  /** REAL sample-payload demux: walk to the sample table, read the
    * per-sample sizes from `stsz` and the (single) chunk offset from
    * `stco`, and slice each sample's actual bytes out of `mdat` —
    * the byte-range arithmetic every demuxer performs before handing
    * frames to a codec. Single-chunk layout only (stsc declaring one
    * run), which is what the fixture writes; multi-chunk interleave is
    * the production extension, same walk. Returns per-sample
    * (startOffset, size) into the payload; None when any table is
    * missing/malformed or a declared range escapes the payload —
    * a truncated mdat must not yield phantom frames. */
  private[graft] def videoSampleRanges(
      payload: Array[Byte], maxSamples: Int = 65536)
      : Option[Array[(Long, Int)]] = {
    if (payload == null || payload.length < 8) return None
    try {
      if (fourcc(payload, 4) != "ftyp") return None
      val ranges = for {
        (_, (stbl, stblEnd)) <- sampleTable(payload)
        (stsz, stszEnd) <- findBox(payload, "stsz", stbl + 8, stblEnd)
        if stszEnd - stsz >= 20 && payload(stsz + 8) == 0
        // stsz sample_size == 0 → per-sample sizes follow.
        if u32(payload, stsz + 12) == 0
        n0 = u32(payload, stsz + 16)
        n = math.min(n0, maxSamples.toLong)
        if n0 >= 0 && stszEnd - stsz >= 20 + 4 * n0
        (stco, stcoEnd) <- findBox(payload, "stco", stbl + 8, stblEnd)
        if stcoEnd - stco >= 20 && u32(payload, stco + 12) == 1
        base = u32(payload, stco + 16)
        if base >= 0
      } yield {
        val out = Array.ofDim[(Long, Int)](n.toInt)
        var off = base
        var k = 0
        var ok = true
        while (k < n && ok) {
          val sz = u32(payload, stsz + 20 + 4 * k)
          if (sz < 0 || off + sz > payload.length) ok = false
          else { out(k) = (off, sz.toInt); off += sz; k += 1 }
        }
        if (ok) out else null
      }
      ranges.flatMap(Option(_))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  val frameBytesSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("sample_idx", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("byte_sum", LongType, nullable = false),
    StructField("first_byte", IntegerType, nullable = false),
    StructField("last_byte", IntegerType, nullable = false)))

  /** Demux + content-summarize each sample's REAL bytes (the video
    * completion of the pixel/PCM content round trips): per sample, its
    * length, unsigned byte sum, and first/last byte — integer-exact
    * summaries the oracle recomputes from the fixture's byte
    * arithmetic, so a wrong stsz stride, stco base, or slice bound
    * anywhere shows up as a hash mismatch. Generator-shaped
    * mapPartitions; undemuxable payloads emit no rows. */
  def extractFrameBytes(media: DataFrame): DataFrame =
    decode(media, frameBytesSchema) { (id, payload) =>
      videoSampleRanges(payload) match {
        case Some(ranges) =>
          // Zero-size samples (legal in stsz) emit NO row: they have
          // no content to summarize, and a (0, 0, 0, 0) row would be
          // indistinguishable from a real 1-byte 0x00 sample's
          // neighborhood. Sample_idx still counts them (k is the
          // stsz position), so downstream joins stay aligned.
          ranges.iterator.zipWithIndex
            .filter { case ((_, sz), _) => sz > 0 }
            .map { case ((off, sz), k) =>
              var s = 0L
              var j = 0
              while (j < sz) {
                s += payload(off.toInt + j) & 0xff; j += 1
              }
              Row(id, k.toLong, sz.toLong, s,
                payload(off.toInt) & 0xff,
                payload(off.toInt + sz - 1) & 0xff)
            }
        case None => Iterator.empty
      }
    }

  /** Big-endian 32-bit fields — the unit every MP4 box body here is
    * written in. */
  private def u32s(fields: Int*): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 * fields.length)
    fields.foreach(bb.putInt)
    bb.array()
  }

  /** One ISO-BMFF box: its size field is 8 plus the bodies' lengths. */
  private def box(fourcc: String, body: Array[Byte]*): Array[Byte] = {
    val size = 8 + body.map(_.length).sum
    val bb = java.nio.ByteBuffer.allocate(size)
      .putInt(size).put(fourcc.getBytes("US-ASCII"))
    body.foreach(bb.put)
    bb.array()
  }

  /** The constant 20-byte ftyp box: major brand isom, minor version
    * 0x200, one compatible brand isom. */
  private val ftyp: Array[Byte] =
    u32s(20) ++ "ftypisom".getBytes("US-ASCII") ++ u32s(0x200) ++
      "isom".getBytes("US-ASCII")

  private val unityMatrix: Array[Byte] =
    u32s(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)

  private def mvhd(timescale: Int, durationTicks: Long): Array[Byte] =
    box("mvhd",
      u32s(0, 0, 0, timescale, durationTicks.toInt, // v0+flags, c/mtime
        0x00010000, 0x01000000, 0, 0), // rate 1.0, volume 1.0, reserved
      unityMatrix,
      u32s(0, 0, 0, 0, 0, 0, 2)) // predefined, next track id

  private def tkhd(durationTicks: Long, width: Int, height: Int)
      : Array[Byte] =
    box("tkhd",
      u32s(0, 0, 0, 1, 0, durationTicks.toInt, // v0+flags, c/mtime, track
        0, 0, 0, 0), // reserved, layer/alternate group/volume/reserved
      unityMatrix,
      u32s(width << 16, height << 16)) // 16.16 fixed point

  /** mdhd v0: the MEDIA timescale, and a duration in media ticks of the
    * whole stts span. */
  private def mdhd(mediaTs: Int, runs: Seq[(Int, Int)]): Array[Byte] =
    box("mdhd", u32s(0, 0, 0, mediaTs,
      runs.map { case (n, d) => n.toLong * d }.sum.toInt,
      0x55c40000)) // language "und", predefined

  private def stts(runs: Seq[(Int, Int)]): Array[Byte] =
    box("stts", u32s(0, runs.length), // v0+flags, entry_count
      u32s(runs.flatMap { case (n, d) => Seq(n, d) }: _*))

  private def stsz(sizes: Seq[Int]): Array[Byte] =
    box("stsz", u32s(0, 0, sizes.length), // v0, sample_size=0 (varied)
      u32s(sizes: _*))

  private def stsc(nSamples: Int): Array[Byte] =
    box("stsc", u32s(0, 1, 1, nSamples, 1)) // v0, one run of one chunk

  private def stco(chunkOffset: Int): Array[Byte] =
    box("stco", u32s(0, 1, chunkOffset)) // v0, one chunk

  /** moov(mvhd + trak(tkhd + mdia(mdhd + minf(stbl(stts + `tables`))))):
    * one track with a sample table. */
  private def moov(timescale: Int, durationTicks: Long, width: Int,
      height: Int, mediaTs: Int, runs: Seq[(Int, Int)])(
      tables: Array[Byte]*): Array[Byte] =
    box("moov", mvhd(timescale, durationTicks),
      box("trak", tkhd(durationTicks, width, height),
        box("mdia", mdhd(mediaTs, runs),
          box("minf", box("stbl", stts(runs) +: tables: _*)))))

  /** Minimal DEMUXABLE MP4: the mp4BytesStts layout extended with the
    * full sample-location tables (stsz per-sample sizes, stsc one-run
    * chunk map, stco single chunk offset) and an actual `mdat` whose
    * payload byte j is (17·j + seed) mod 256 — deterministic content
    * the oracle can recompute while the Spark side must demux the real
    * container. */
  def mp4BytesFrames(timescale: Int, durationTicks: Long, width: Int,
      height: Int, mediaTs: Int, stts: Seq[(Int, Int)],
      sampleSizes: Seq[Int], seed: Long): Array[Byte] = {
    val stream = bytePattern(sampleSizes.sum, 17, seed.toInt)
    val starts = sampleSizes.scanLeft(0)(_ + _)
    mp4BytesFramesOf(timescale, durationTicks, width, height, mediaTs, stts,
      sampleSizes.indices.map(k =>
        stream.slice(starts(k), starts(k) + sampleSizes(k))))
  }

  /** Same container as `mp4BytesFrames` but with EXPLICIT per-sample
    * payloads — the generator hook for corpora whose frame CONTENT
    * must repeat exactly (scene structure), which the global
    * (17j+seed) byte stream cannot express. */
  def mp4BytesFramesOf(timescale: Int, durationTicks: Long, width: Int,
      height: Int, mediaTs: Int, stts: Seq[(Int, Int)],
      frames: Seq[Array[Byte]]): Array[Byte] = {
    def moovAt(mdatOffset: Int) = moov(timescale, durationTicks, width,
      height, mediaTs, stts)(stsz(frames.map(_.length)),
      stsc(frames.length), stco(mdatOffset))
    // stco points at the mdat body: past ftyp, moov and mdat's header.
    // The offset's value does not change moov's size.
    val mdatOffset = ftyp.length + moovAt(0).length + 8
    ftyp ++ moovAt(mdatOffset) ++ box("mdat", frames: _*)
  }

  /** Scene-structured MP4 corpus: n = 6+(id%5) frames in scenes of
    * length L = 2+(id%3) (last scene may be short); every frame of a
    * scene carries IDENTICAL bytes — size 20+((id+s)%30), byte 0 = s,
    * byte j>0 = (id·31 + s·17 + j·7) mod 256 — so its content hash
    * repeats within the scene, while ADJACENT scenes always differ at
    * byte 0 (s < 256 here). The closed form is the oracle contract:
    * the consumer must demux real MP4 bytes and hash actual frame
    * content to recover the scene structure the oracle derives
    * arithmetically (k DIV L). */
  def synthMp4Scenes(ids: DataFrame, idCol: String): DataFrame =
    synth(spreadIds(ids, idCol), "video/mp4") { id =>
      val n = 6 + (id % 5).toInt
      val len = 2 + (id % 3).toInt
      val frames = (0 until n).map { k =>
        val s = k / len
        val sz = 20 + ((id + s) % 30).toInt
        val b = Array.ofDim[Byte](sz)
        b(0) = s.toByte
        var j = 1
        while (j < sz) {
          b(j) = ((id * 31 + s * 17 + j * 7) % 256).toByte; j += 1
        }
        b
      }
      mp4BytesFramesOf(600, 600L * n, 320, 240, 1000, Seq((n, 100)), frames)
    }

  /** One demuxable MP4 per id: 3+(id%4) samples, sample k sized
    * 20+((id+k)%30) bytes, mdat byte j = (17j + id) mod 256 — the
    * oracle contract for `mm_frame_bytes`. */
  def synthMp4Frames(ids: DataFrame, idCol: String): DataFrame =
    synth(spreadIds(ids, idCol), "video/mp4") { id =>
      val n = 3 + (id % 4).toInt
      val sizes = (0 until n).map(k => 20 + ((id + k) % 30).toInt)
      val mts = 1000 + (id % 3).toInt * 500
      val movieTs = 600 + (id % 5).toInt * 300
      val dur = movieTs.toLong * (2 + (id % 7).toInt)
      mp4BytesFrames(movieTs, dur, 320, 240, mts, Seq((n, 100)), sizes, id)
    }

  /** Demuxable MP4s with CROSS-VIDEO duplicate frames: frame sizes and
    * mdat content seed from the video's FAMILY (id % familyMod), frame
    * COUNT from the video id itself — so two videos of one family share
    * exactly their first min(n_a, n_b) samples byte-for-byte while
    * videos of different families share nothing (their byte streams
    * diverge at j=0). This is the fixture shape frame-level video
    * dedup needs: real demux work, known overlap structure. */
  def synthMp4FramesShared(ids: DataFrame, idCol: String,
      familyMod: Int): DataFrame =
    synth(spreadIds(ids, idCol), "video/mp4") { id =>
      val fam = id % familyMod
      val n = 3 + (id % 4).toInt
      val sizes = (0 until n).map(k => 20 + ((fam + k) % 30).toInt)
      val mts = 1000 + (fam % 3).toInt * 500
      val movieTs = 600 + (fam % 5).toInt * 300
      val dur = movieTs.toLong * (2 + (fam % 7).toInt)
      mp4BytesFrames(movieTs, dur, 320, 240, mts, Seq((n, 100)), sizes, fam)
    }

  val frameHashSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("sample_idx", LongType, nullable = false),
    StructField("fhash", StringType, nullable = false)))

  /** Demux + per-frame CONTENT fingerprint: each sample's real bytes
    * (located via the same stsz/stsc/stco walk as extractFrameBytes)
    * hashed to md5 over their unsigned-decimal join — a string both
    * engines can md5 identically, where a raw-BLOB digest would hinge
    * on engine binary-literal semantics. One demux pass emits every
    * frame's hash; downstream consumers (cross-video dedup, frame-level
    * search) join on the hash instead of re-demuxing. Zero-size samples
    * emit no row (no content to fingerprint), same contract as
    * extractFrameBytes. */
  def extractFrameHashes(media: DataFrame): DataFrame =
    decode(media, frameHashSchema) {
      val md = java.security.MessageDigest.getInstance("MD5")
      (id, payload) =>
        videoSampleRanges(payload) match {
          case Some(ranges) =>
            ranges.iterator.zipWithIndex
              .filter { case ((_, sz), _) => sz > 0 }
              .map { case ((off, sz), k) =>
                val sb = new java.lang.StringBuilder(sz * 4)
                var j = 0
                while (j < sz) {
                  if (j > 0) sb.append(',')
                  sb.append(payload(off.toInt + j) & 0xff)
                  j += 1
                }
                Row(id, k.toLong, md5Hex(md, sb.toString))
              }
          case None => Iterator.empty
        }
    }

  /** Video feature extraction — same mapPartitions shape as the image
    * and audio paths: real ISO-BMFF headers get TRUE
    * timescale/duration/dims, anything else the deterministic fallback.
    * duration_ms is exact integer math (ticks·1000/timescale). */
  def extractVideoFeatures(media: DataFrame): DataFrame =
    decode(media, videoFeatureSchema) { (id, payload) =>
      val (ts, dur, w, h) = videoMeta(payload).getOrElse {
        val (fw, fh, c) = fakeDecode(payload)
        (600, (fw * 10).toLong, fw, fh)
      }
      val durMs = if (ts > 0) dur * 1000L / ts else 0L
      Iterator.single(Row(id, payload.length.toLong, ts, durMs, w, h))
    }

  /** Minimal real MP4: ftyp + moov(mvhd v0 + trak(tkhd v0)) — enough
    * container for any ISO-BMFF reader to report timescale, duration
    * and track dimensions. Test-fixture twin of `wavBytes`. */
  def mp4Bytes(timescale: Int, durationTicks: Long, width: Int,
      height: Int): Array[Byte] =
    ftyp ++ box("moov", mvhd(timescale, durationTicks),
      box("trak", tkhd(durationTicks, width, height)))

  /** Minimal real MP4 WITH a sample table: ftyp + moov(mvhd +
    * trak(tkhd + mdia(mdhd + minf(stbl(stts))))) — the full box
    * nesting a real demuxer walks for decode timestamps. `mediaTs` is
    * the mdhd MEDIA timescale (deliberately distinct from the mvhd
    * movie `timescale` so a parser reading the wrong one fails the
    * oracle); `stts` is the run-length (sampleCount, deltaTicks) list
    * written verbatim as the stts entry table. */
  def mp4BytesStts(timescale: Int, durationTicks: Long, width: Int,
      height: Int, mediaTs: Int, stts: Seq[(Int, Int)]): Array[Byte] =
    ftyp ++ moov(timescale, durationTicks, width, height, mediaTs, stts)()

  /** Synthesize one real MP4 with a sample table per id (executor-side),
    * same oracle-checkable contract as `synthMp4`: media timescale
    * 1000+(id%3)·500, two stts runs — (3+id%3) samples at
    * (100+(id%5)·20) ticks, then (2+id%2) samples at (40+(id%7)·10)
    * ticks. The DuckDB twin recomputes every sample's decode time from
    * this arithmetic while Spark must expand the actual stts bytes. */
  def synthMp4Stts(ids: DataFrame, idCol: String): DataFrame =
    synth(spreadIds(ids, idCol), "video/mp4") { id =>
      val mts = 1000 + (id % 3).toInt * 500
      val runs = Seq(
        (3 + (id % 3).toInt, 100 + (id % 5).toInt * 20),
        (2 + (id % 2).toInt, 40 + (id % 7).toInt * 10))
      val movieTs = 600 + (id % 5).toInt * 300
      val dur = movieTs.toLong * (2 + (id % 7).toInt)
      val w = 320 + (id % 4).toInt * 160
      val h = 240 + (id % 3).toInt * 120
      mp4BytesStts(movieTs, dur, w, h, mts, runs)
    }

  /** Synthesize one real MP4 container per id (executor-side), same
    * oracle-checkable contract as `synthWav`: timescale 600+(id%5)·300,
    * duration (2+id%7) seconds exactly, dims 320+(id%4)·160 ×
    * 240+(id%3)·120. */
  def synthMp4(ids: DataFrame, idCol: String): DataFrame =
    synth(spreadIds(ids, idCol), "video/mp4") { id =>
      val ts = 600 + (id % 5).toInt * 300
      mp4Bytes(ts, ts.toLong * (2 + (id % 7).toInt),
        320 + (id % 4).toInt * 160, 240 + (id % 3).toInt * 120)
    }

  /** Decode/feature-extract as mapPartitions over the binary column:
    * one iterator pass per partition (codec config amortized), explicit
    * output schema (no inference), no driver involvement. Images the
    * JDK recognizes get TRUE dimensions; anything else gets the
    * deterministic fallback. */
  def extractFeatures(media: DataFrame): DataFrame =
    decode(media, featureSchema) {
      // Per-partition codec config: in-memory ImageInputStreams (the
      // default spills every stream to an executor temp FILE — a
      // per-row disk write at scale).
      javax.imageio.ImageIO.setUseCache(false)
      (id, payload) =>
        val (w, h, c) = imageDims(payload).getOrElse(fakeDecode(payload))
        Iterator.single(Row(id, payload.length.toLong, w, h, c))
    }

  /** Frame sampling for video-shaped payloads: emit every `stride`-th
    * fixed-size chunk as a "frame" (stub for keyframe extraction). A
    * generator-shaped op: one input row → N output rows, columnar via
    * posexplode so it stays in Tungsten.
    * Spark's base64 MAY emit MIME-CHUNKED output (76-char lines joined
    * with \r\n — version/config dependent, governed by the legacy
    * chunkBase64String behavior in recent Spark). When chunked, the line
    * breaks both corrupt the 4-chars-per-3-bytes chunk arithmetic and
    * stop `.{n}` from matching across lines, silently collapsing any
    * payload over one line to a single "frame" (caught by the DuckDB
    * oracle, whose to_base64 is unchunked). Stripping CR/LF first is
    * correct under BOTH behaviors (a no-op when unchunked; the stride-1
    * round-trip property test covers it). */
  def sampleFrames(media: DataFrame, frameBytes: Int, stride: Int): DataFrame =
    media.select(col("media_id"),
      posexplode(split(
        regexp_replace(base64(col("payload")), "[\\r\\n]", ""),
        s"(?<=\\G.{${4 * frameBytes}})"))
        .as(Seq("frame_idx", "frame_b64")))
      // split keeps a trailing "" when the length divides evenly (and
      // yields [""] for empty payloads) — not a frame, drop it here
      // rather than in every caller.
      .filter(col("frame_b64") =!= "")
      .filter(col("frame_idx") % stride === 0)
}
