package graft

import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def media = Seq(
    (1L, "tiny-image-bytes", "image/png"),
    (2L, "", "image/jpeg"),
    (3L, "some-longer-video-like-payload-bytes", "video/mp4"))
    .toDF("media_id", "payload_str", "mime")
    .select($"media_id", $"payload_str".cast("binary").as("payload"), $"mime")

  test("extractFeatures: schema pinned, deterministic stub dims, byte lens") {
    val feats = Multimodal.extractFeatures(media)
    assert(feats.schema == Multimodal.featureSchema)
    val rows = feats.orderBy("media_id")
      .as[(Long, Long, Int, Int, Int)].collect()
    assert(rows.map(_._2).toSeq == Seq(16L, 0L, 36L))    // byte lengths
    assert(rows.forall(r => r._3 >= 16 && r._4 >= 16 && r._5 == 3))
    val again = Multimodal.extractFeatures(media).orderBy("media_id")
      .as[(Long, Long, Int, Int, Int)].collect()
    assert(rows.toSeq == again.toSeq)                    // deterministic
  }

  test("extractFeatures decodes REAL dimensions from a PNG payload") {
    // Hand-built 123×45 RGB PNG via the same JDK ImageIO the operator
    // reads with — true dims must surface, not the stub's hash dims.
    val img = new java.awt.image.BufferedImage(
      123, 45, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val df = Seq((7L, png, "image/png"))
      .toDF("media_id", "payload", "mime")
    val Array((id, len, w, h, c)) = Multimodal.extractFeatures(df)
      .as[(Long, Long, Int, Int, Int)].collect()
    assert(id == 7L && len == png.length.toLong)
    assert((w, h, c) == ((123, 45, 3)))
    // Truncated header: undecodable → deterministic fallback, no crash.
    val broken = Seq((8L, png.take(16), "image/png"))
      .toDF("media_id", "payload", "mime")
    val rows = Multimodal.extractFeatures(broken)
      .as[(Long, Long, Int, Int, Int)].collect()
    assert(rows.head._3 >= 16 && rows.head._4 >= 16)
  }

  test("extractAudioFeatures decodes REAL metadata from a hand-built " +
      "WAV header; non-audio falls back deterministically") {
    // 11025 Hz stereo, 250 frames — wavBytes builds the canonical
    // 44-byte PCM container, the operator must parse it back with the
    // JDK's javax.sound.sampled reader (mirrors the PNG decode spec).
    val wav = Multimodal.wavBytes(11025, 2, 250)
    assert(wav.length == 44 + 250 * 2 * 2)
    val df = Seq((7L, wav, "audio/wav"))
      .toDF("media_id", "payload", "mime")
    val Array((id, len, sr, ch, fr, dur)) =
      Multimodal.extractAudioFeatures(df)
        .as[(Long, Long, Int, Int, Long, Long)].collect()
    assert(id == 7L && len == wav.length.toLong)
    assert((sr, ch, fr) == ((11025, 2, 250L)))
    assert(dur == 250L * 1000000L / 11025L)
    // Truncated header and non-audio bytes: deterministic fallback, no
    // task failure; schema pinned.
    val junk = Seq((8L, wav.take(12), "audio/wav"),
      (9L, "definitely not audio".getBytes("UTF-8"), "text/plain"))
      .toDF("media_id", "payload", "mime")
    val out = Multimodal.extractAudioFeatures(junk)
    assert(out.schema == Multimodal.audioFeatureSchema)
    val rows = out.orderBy("media_id")
      .as[(Long, Long, Int, Int, Long, Long)].collect()
    assert(rows.length == 2 && rows.forall(_._3 > 0))
    val again = Multimodal.extractAudioFeatures(junk).orderBy("media_id")
      .as[(Long, Long, Int, Int, Long, Long)].collect()
    assert(rows.toSeq == again.toSeq)
  }

  test("synthWav → extractAudioFeatures round-trips the id-derived " +
      "metadata (the mm_audio_features contract)") {
    val ids = Seq(0L, 1L, 2L, 3L, 5L, 49L, 103L).toDF("doc_id")
    val got = Multimodal.extractAudioFeatures(
      Multimodal.synthWav(ids, "doc_id"))
      .orderBy("media_id")
      .as[(Long, Long, Int, Int, Long, Long)].collect().toSeq
    val want = Seq(0L, 1L, 2L, 3L, 5L, 49L, 103L).map { id =>
      val sr = 8000 + (id % 4).toInt * 2000
      val ch = 1 + (id % 2).toInt
      val fr = 100L + id % 50
      (id, 44L + fr * ch * 2, sr, ch, fr, fr * 1000000L / sr)
    }
    assert(got == want)
  }

  test("extractVideoFeatures walks a hand-built ISO-BMFF box tree; " +
      "non-MP4 falls back deterministically") {
    // 1500 ticks/s, 4.5 s, 640×360 — mp4Bytes writes the real box
    // layout, the operator must recover the fields by offset walking.
    val mp4 = Multimodal.mp4Bytes(1500, 6750L, 640, 360)
    assert(mp4.length == 236)
    val df = Seq((7L, mp4, "video/mp4"))
      .toDF("media_id", "payload", "mime")
    val Array((id, len, ts, dur, w, h)) =
      Multimodal.extractVideoFeatures(df)
        .as[(Long, Long, Int, Long, Int, Int)].collect()
    assert(id == 7L && len == 236L)
    assert((ts, dur, w, h) == ((1500, 4500L, 640, 360)))
    // Truncated container, non-video bytes, and a WAV (valid media,
    // wrong family): all deterministic fallback, schema pinned.
    val junk = Seq((8L, mp4.take(30), "video/mp4"),
      (9L, "not a video at all".getBytes("UTF-8"), "text/plain"),
      (10L, Multimodal.wavBytes(8000, 1, 10), "audio/wav"))
      .toDF("media_id", "payload", "mime")
    val out = Multimodal.extractVideoFeatures(junk)
    assert(out.schema == Multimodal.videoFeatureSchema)
    val rows = out.orderBy("media_id")
      .as[(Long, Long, Int, Long, Int, Int)].collect()
    assert(rows.length == 3 && rows.forall(_._3 > 0))
    val again = Multimodal.extractVideoFeatures(junk).orderBy("media_id")
      .as[(Long, Long, Int, Long, Int, Int)].collect()
    assert(rows.toSeq == again.toSeq)
  }

  test("synthMp4 → extractVideoFeatures round-trips the id-derived " +
      "metadata (the mm_video_features contract)") {
    val ids = Seq(0L, 1L, 2L, 3L, 4L, 6L, 34L, 101L).toDF("doc_id")
    val got = Multimodal.extractVideoFeatures(
      Multimodal.synthMp4(ids, "doc_id"))
      .orderBy("media_id")
      .as[(Long, Long, Int, Long, Int, Int)].collect().toSeq
    val want = Seq(0L, 1L, 2L, 3L, 4L, 6L, 34L, 101L).map { id =>
      val ts = 600 + (id % 5).toInt * 300
      (id, 236L, ts, (2 + id % 7) * 1000L,
        320 + (id % 4).toInt * 160, 240 + (id % 3).toInt * 120)
    }
    assert(got == want)
  }

  test("synthPng → extractFeatures round-trips the id-derived dims " +
      "(the mm_image_features contract)") {
    val ids = Seq(0L, 1L, 15L, 31L, 47L, 200L).toDF("doc_id")
    val got = Multimodal.extractFeatures(Multimodal.synthPng(ids, "doc_id"))
      .orderBy("media_id")
      .select("media_id", "width", "height", "channels")
      .as[(Long, Int, Int, Int)].collect().toSeq
    val want = Seq(0L, 1L, 15L, 31L, 47L, 200L).map { id =>
      (id, 16 + (id % 32).toInt, 16 + (id % 16).toInt, 3)
    }
    assert(got == want)
  }

  test("sampleFrames: generator shape with stride filter") {
    val frames = Multimodal.sampleFrames(media.filter($"media_id" === 3), 4, 2)
    val idx = frames.select("frame_idx").as[Int].collect().toSeq
    assert(idx.nonEmpty && idx.forall(_ % 2 == 0))
  }

  test("extractAHash decodes real pixels: 64-bit string, discriminative " +
      "across ids, deterministic, NULL for undecodable payloads") {
    val ids = Seq(0L, 1L, 2L, 77L).toDF("doc_id")
    val hashed = Multimodal.extractAHash(
      Multimodal.synthPngPattern(ids, "doc_id"))
      .orderBy("media_id").as[(Long, String)].collect().toSeq
    assert(hashed.forall(h => h._2.length == 64 &&
      h._2.forall(c => c == '0' || c == '1')))
    // The gradient pattern differs per id — hashes must too (a decoder
    // that returns constant/blank pixels would collapse them).
    assert(hashed.map(_._2).distinct.size == 4, hashed.mkString("\n"))
    // Deterministic across re-encode (PNG is lossless).
    val again = Multimodal.extractAHash(
      Multimodal.synthPngPattern(ids, "doc_id"))
      .orderBy("media_id").as[(Long, String)].collect().toSeq
    assert(again == hashed)
    val junk = Seq((9L, "not a png".getBytes("UTF-8"), "image/png"))
      .toDF("media_id", "payload", "mime")
    assert(Multimodal.extractAHash(junk).as[(Long, String)]
      .collect().head._2 == null)
  }

  test("pHash 4×16 banding guarantee: Hamming ≤ 3 ⟹ ≥1 shared band " +
      "(exhaustive over all 3-bit flips), and synthPngFamilies lands " +
      "each intra-family pair inside it across resolutions") {
    def bands(h: String): Seq[String] =
      (0 until 4).map(b => h.substring(b * 16, (b + 1) * 16))
    def hamming(a: String, b: String): Int =
      a.zip(b).count { case (x, y) => x != y }
    // The pigeonhole guarantee itself, exhaustively: flipping ANY <= 3
    // of 64 positions leaves at least one of the 4 16-bit bands
    // untouched (4 bands, 3 flips — one band must hold none). Checked
    // over every C(64,3) triple plus all pairs/singles — pure string
    // arithmetic, no Spark, ~43k cases.
    val base = ("10" * 32).take(64)
    def flip(h: String, ps: Seq[Int]): String = {
      val a = h.toCharArray
      ps.foreach(p => a(p) = if (a(p) == '0') '1' else '0')
      new String(a)
    }
    val singles = (0 until 64).map(Seq(_))
    val pairs = for (i <- 0 until 64; j <- i + 1 until 64) yield Seq(i, j)
    val triples = for (i <- 0 until 64; j <- i + 1 until 64;
      k <- j + 1 until 64) yield Seq(i, j, k)
    (singles ++ pairs ++ triples).foreach { ps =>
      val mut = flip(base, ps)
      assert(bands(base).zip(bands(mut)).exists { case (x, y) => x == y },
        s"flips at $ps left no shared band — pigeonhole violated")
    }
    // The family fixture rides that guarantee end-to-end: members at
    // 16/24/32 square decode to aHashes whose intra-family distance is
    // EXACTLY |pert_a - pert_b| (resolution cancels by construction),
    // so every intra-family pair at distances 1, 2, AND 3 shares a
    // band; cross-family distances are far beyond the is_dup line.
    val ids = (0L until 24L).toDF("doc_id") // families 0..5, 4 members
    val hs = Multimodal.extractAHash(Multimodal.synthPngFamilies(ids, "doc_id"))
      .as[(Long, String)].collect().toMap
    for (fam <- 0L until 6L; a <- 0 until 4; b <- a + 1 until 4) {
      val (ha, hb) = (hs(fam * 4 + a), hs(fam * 4 + b))
      assert(hamming(ha, hb) == (b - a).toInt,
        s"fam $fam members $a,$b: distance ${hamming(ha, hb)} != ${b - a}")
      assert(bands(ha).zip(bands(hb)).exists { case (x, y) => x == y })
    }
    for (f1 <- 0L until 6L; f2 <- f1 + 1 to 5L)
      assert(hamming(hs(f1 * 4), hs(f2 * 4)) > 3,
        s"families $f1,$f2 within dup distance — fixture degenerate")
    // Retention: with pure-family clusters the keep-best policy must
    // select the 32×32 member (pert = 2 → 1024 px) of every family.
    val kept = SparkEntry.queries("mm_image_keep_best")(
        spark, "/root/testdata/sf0.001")
      .filter(col("keep")).select("media_id", "pixels")
      .as[(Long, Long)].collect()
    assert(kept.nonEmpty && kept.forall { case (id, px) =>
      id % 4 == 2 && px == 1024L },
      s"keep-best picked a non-max-resolution member: ${kept.toSeq}")
  }

  test("videoSampleTimes expands stts runs in the MEDIA timescale " +
      "(mdhd, not mvhd) and sampleFrameTimes strides over them") {
    // Movie timescale 600 vs media timescale 1000: a parser reading
    // mvhd's would scale every t_ms by 5/3.
    val bytes = Multimodal.mp4BytesStts(600, 1200, 320, 240,
      mediaTs = 1000, stts = Seq((3, 100), (2, 50)))
    val Some((mts, ticks)) = Multimodal.videoSampleTimes(bytes)
    assert(mts == 1000)
    assert(ticks.toSeq == Seq(0L, 100L, 200L, 300L, 350L))
    val media = Seq((7L, bytes, "video/mp4"))
      .toDF("media_id", "payload", "mime")
    val got = Multimodal.sampleFrameTimes(media, 2).orderBy("sample_idx")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((7L, 0L, 0L), (7L, 2L, 200L), (7L, 4L, 350L)))
  }

  test("videoSampleTimes rejects an stts that declares more entries " +
      "than its box holds, and caps run expansion") {
    val good = Multimodal.mp4BytesStts(600, 1200, 320, 240, 1000,
      Seq((3, 100)))
    // Inflate entry_count past the physical box: find the stts header
    // and overwrite its entry_count field with 1000.
    val idx = good.indexOfSlice("stts".getBytes("US-ASCII"))
    val bad = good.clone()
    val bb = java.nio.ByteBuffer.wrap(bad)
    bb.putInt(idx + 8, 1000)
    assert(Multimodal.videoSampleTimes(bad).isEmpty)
    // A legitimate huge run is truncated at maxSamples, never expanded.
    val huge = Multimodal.mp4BytesStts(600, 1200, 320, 240, 1000,
      Seq((1000000, 10)))
    val Some((_, capped)) = Multimodal.videoSampleTimes(huge, maxSamples = 16)
    assert(capped.length == 16 && capped.last == 150L)
    // Payloads with no sample table emit zero rows, not failures.
    val noStts = Seq((1L, Multimodal.mp4Bytes(600, 1200, 320, 240),
      "video/mp4")).toDF("media_id", "payload", "mime")
    assert(Multimodal.sampleFrameTimes(noStts, 1).count() == 0)
  }

  test("videoSampleRanges demuxes real stsz/stco byte ranges and " +
      "refuses truncated mdat (no phantom frames)") {
    val bytes = Multimodal.mp4BytesFrames(600, 1200, 320, 240, 1000,
      Seq((3, 100)), Seq(10, 20, 30), seed = 5L)
    val Some(ranges) = Multimodal.videoSampleRanges(bytes)
    assert(ranges.map(_._2).toSeq == Seq(10, 20, 30))
    // Offsets are consecutive and the first slice starts right after
    // the mdat header; the slice content matches the seed pattern.
    val (off0, _) = ranges(0)
    assert(ranges(1)._1 == off0 + 10 && ranges(2)._1 == off0 + 30)
    assert((bytes(off0.toInt) & 0xff) == 5) // j=0: (17*0 + 5) % 256
    assert((bytes(off0.toInt + 1) & 0xff) == 22) // j=1: 17+5
    // Truncate INSIDE the last sample: the declared range escapes the
    // payload → the whole demux refuses (a codec fed a short frame is
    // worse than no frame).
    assert(Multimodal.videoSampleRanges(
      bytes.take(bytes.length - 1)).isEmpty)
    val frames = Multimodal.extractFrameBytes(
      Seq((4L, bytes, "video/mp4")).toDF("media_id", "payload", "mime"))
      .orderBy("sample_idx")
      .as[(Long, Long, Long, Long, Int, Int)].collect().toSeq
    assert(frames.map(_._3) == Seq(10L, 20L, 30L))
    // byte_sum of sample 0 = Σ_{j=0..9} (17j + 5) % 256 = 815.
    assert(frames(0)._4 == (0 until 10).map(j => (17 * j + 5) % 256).sum)
    // A zero-size sample (legal in stsz) emits NO row — its neighbors
    // keep their stsz positions so joins stay aligned.
    val withEmpty = Multimodal.mp4BytesFrames(600, 1200, 320, 240, 1000,
      Seq((3, 100)), Seq(10, 0, 30), seed = 5L)
    val fr2 = Multimodal.extractFrameBytes(
      Seq((6L, withEmpty, "video/mp4"))
        .toDF("media_id", "payload", "mime"))
      .orderBy("sample_idx")
      .as[(Long, Long, Long, Long, Int, Int)].collect().toSeq
    assert(fr2.map(f => (f._2, f._3)) == Seq((0L, 10L), (2L, 30L)))
  }

  test("extractFrameHashes fingerprints each demuxed sample's real " +
      "bytes; shared-family fixtures collide exactly on their prefix") {
    // Hash parity: sample 0 of a seed-5 fixture is bytes
    // (17j + 5) % 256 for j in [0, 10) — md5 of their decimal join.
    val mp4 = Multimodal.mp4BytesFrames(600, 1200, 320, 240, 1000,
      Seq((2, 100)), Seq(10, 20), seed = 5L)
    val got = Multimodal.extractFrameHashes(
      Seq((1L, mp4, "video/mp4")).toDF("media_id", "payload", "mime"))
      .orderBy("sample_idx").as[(Long, Long, String)].collect().toSeq
    val want0 = {
      val s = (0 until 10).map(j => (17 * j + 5) % 256).mkString(",")
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("US-ASCII"))
        .map(b => f"${b & 0xff}%02x").mkString
    }
    assert(got.map(_._2) == Seq(0L, 1L))
    assert(got.head._3 == want0)
    // Family overlap contract: two synthMp4FramesShared videos of one
    // family (ids 3 and 13, familyMod 5) share exactly their first
    // min(n) frames; different families (3 vs 4) share none.
    val vids = Multimodal.synthMp4FramesShared(
      Seq(3L, 13L, 4L).toDF("doc_id"), "doc_id", 5)
    val fh = Multimodal.extractFrameHashes(vids)
      .as[(Long, Long, String)].collect().toSeq
    val by = fh.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    // n(3) = 3 + 3%4 = 6, n(13) = 3 + 13%4 = 4 → overlap 4 frames.
    assert((by(3L) & by(13L)).size == 4)
    assert((by(3L) & by(4L)).isEmpty)
  }

  test("sampleFrames chunks payloads beyond one base64 line (76 chars)") {
    // Spark's base64 MIME-chunks at 76 chars; the regression collapsed
    // any payload > 57 bytes to a single frame. 300 bytes → b64 400
    // chars → ceil(400/16)=25 chunks at frameBytes=4 → 13 even-indexed.
    val big = Seq((9L, ("ab" * 150).getBytes("UTF-8"), "video/fake"))
      .toDF("media_id", "payload", "mime")
    val frames = Multimodal.sampleFrames(big, 4, 2)
    assert(frames.count() == 13)
    // Re-decoding the surviving chunks reproduces the original bytes'
    // even-chunk slices (chunk arithmetic is byte-exact).
    val first = frames.orderBy("frame_idx")
      .select(unbase64($"frame_b64")).as[Array[Byte]].first()
    assert(new String(first, "UTF-8") == "ab" * 6)
  }

  test("extractBandSums: decoded band sums equal the pattern-grid " +
      "closed form; undecodable and 8-indivisible heights → NULL") {
    val ids = Seq(0L, 7L, 123L)
    val got = Multimodal.extractBandSums(
        Multimodal.synthPngPattern(ids.toDF("doc_id"), "doc_id"))
      .as[(Long, Option[Seq[Long]])].collect().toMap
    ids.foreach { id =>
      val want = (0 until 8).map { band =>
        (for (y <- band * 4 until band * 4 + 4; x <- 0 until 32)
          yield (id * 31 + x * 7 + y * 13) % 256).sum
      }
      assert(got(id).get == want, s"band sums for id $id")
    }
    // Garbage payload decodes to null, never throws; a 20px-high image
    // (height % 8 != 0) is rejected the same way.
    val bad = Multimodal.extractBandSums(
      Seq((1L, "not a png".getBytes("UTF-8"), "image/png"))
        .toDF("media_id", "payload", "mime"))
    assert(bad.as[(Long, Option[Seq[Long]])].head()._2.isEmpty)
    val img20 = new java.awt.image.BufferedImage(
      8, 20, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img20, "png", bos)
    val odd = Multimodal.extractBandSums(
      Seq((2L, bos.toByteArray, "image/png"))
        .toDF("media_id", "payload", "mime"))
    assert(odd.as[(Long, Option[Seq[Long]])].head()._2.isEmpty)
  }

  test("mm_clip_filter: score in [-1,1], keep == score > 0, and the " +
      "image-side vector is mean-centered (dot with ones ~ 0)") {
    val out = graft.queries.TextOps.queries("mm_clip_filter")(
        spark, "/root/testdata/sf0.001")
      .as[(Long, Double, Boolean)].collect()
    assert(out.nonEmpty)
    out.foreach { case (_, s0, k) =>
      assert(s0 >= -1.0 && s0 <= 1.0 && k == (s0 > 0))
    }
    // Both gate outcomes occur on the synthetic corpus — the threshold
    // actually separates (a degenerate all-keep/all-drop gate would
    // pass the oracle but test nothing).
    assert(out.exists(_._3) && out.exists(!_._3))
  }

  test("synthMp4Scenes: frames inside a scene hash identically, " +
      "adjacent scenes never collide; mm_scene_cuts recovers k DIV L") {
    val ids = Seq(0L, 4L, 7L)
    val fh = Multimodal.extractFrameHashes(
        Multimodal.synthMp4Scenes(ids.toDF("doc_id"), "doc_id"))
      .as[(Long, Long, String)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    ids.foreach { id =>
      val n = 6 + (id % 5).toInt
      val len = 2 + (id % 3).toInt
      val hashes = fh(id)
      assert(hashes.length == n, s"id $id demuxed ${hashes.length}/$n")
      for (k <- 0 until n; k2 <- 0 until n) {
        val same = k / len == k2 / len
        assert((hashes(k) == hashes(k2)) == same,
          s"id $id frames $k,$k2: scene ${same} hash " +
            s"${hashes(k) == hashes(k2)}")
      }
    }
    // registry query end-to-end on the tiny sf: scene_id == k DIV L
    val cuts = graft.queries.TextOps.queries("mm_scene_cuts")(
        spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Boolean)].collect()
    assert(cuts.nonEmpty)
    cuts.foreach { case (id, k, scene, start) =>
      val len = 2 + (id % 3)
      assert(scene == k / len && start == (k % len == 0),
        s"id $id frame $k: ($scene, $start)")
    }
  }

  test("mm_audio_segments recovers the silence map from decoded PCM: " +
      "segments number voiced runs, silent windows keep NULL") {
    val rows = graft.queries.TextOps.queries("mm_audio_segments")(
        spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Boolean, Option[Long])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, w, silent, seg) =>
      assert(silent == ((id + w) % 3 == 0), s"id $id win $w silence")
      assert(seg.isEmpty == silent, s"id $id win $w segment presence")
    }
    // per clip: segment ids are 0..maxSeg dense, monotone over windows
    rows.groupBy(_._1).foreach { case (id, clip) =>
      val segs = clip.sortBy(_._2).flatMap(_._4)
      assert(segs.nonEmpty, s"id $id has no voiced window")
      assert(segs.head == 0 && segs.toSeq == segs.sorted.toSeq,
        s"id $id segment numbering $segs")
      assert(segs.distinct.toSeq == (0L to segs.max).toSeq,
        s"id $id segment density $segs")
    }
  }

  test("pipeline_pair_curation: keep is exactly the conjunction of the " +
      "three gates, every document visible, all gates discriminate") {
    val d = "/root/testdata/sf0.001"
    val rows = graft.queries.TextOps.queries("pipeline_pair_curation")(
        spark, d)
      .as[(Long, Boolean, Boolean, Boolean, Boolean)].collect()
    val nDocs = graft.Tables.documents(spark, d).count()
    assert(rows.length == nDocs)
    rows.foreach { case (id, t, c, i, k) =>
      assert(k == (t && c && i), s"doc $id keep != conjunction")
    }
    // each gate drops someone AND passes someone — the pipeline's
    // decision is genuinely three-dimensional on this corpus
    assert(rows.exists(_._2) && rows.exists(!_._2), "txt gate flat")
    assert(rows.exists(_._3) && rows.exists(!_._3), "clip gate flat")
    assert(rows.exists(_._4) && rows.exists(!_._4), "img gate flat")
    assert(rows.exists(_._5) && rows.exists(!_._5), "overall flat")
  }

  test("byte pins: the MP4/WAV encoders and every synthesizer's payloads " +
      "are unchanged (PNG synths by decoded pixels and dimensions)") {
    def sha(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256").digest(b)
        .map(x => f"${x & 0xff}%02x").mkString
    val encoders = Seq(
      "mp4Bytes/a" -> Multimodal.mp4Bytes(600, 1200L, 320, 240),
      "mp4Bytes/b" -> Multimodal.mp4Bytes(90000, 270000L, 1920, 1080),
      "mp4BytesStts/a" -> Multimodal.mp4BytesStts(600, 1800L, 640, 360,
        1000, Seq((3, 100), (2, 40))),
      "mp4BytesStts/b" -> Multimodal.mp4BytesStts(1000, 5000L, 320, 240,
        48000, Seq((1, 1024))),
      "mp4BytesStts/empty" -> Multimodal.mp4BytesStts(600, 0L, 16, 16,
        1000, Seq.empty),
      "mp4BytesFrames/a" -> Multimodal.mp4BytesFrames(600, 1200L, 320, 240,
        1000, Seq((3, 100)), Seq(20, 21, 22), 7L),
      "mp4BytesFrames/b" -> Multimodal.mp4BytesFrames(900, 2700L, 480, 360,
        1500, Seq((2, 100), (1, 50)), Seq(0, 5, 300), 300L),
      "mp4BytesFramesOf/a" -> Multimodal.mp4BytesFramesOf(600, 1200L, 320,
        240, 1000, Seq((2, 100)),
        Seq(Array[Byte](1, 2, 3), Array[Byte](-9))),
      "mp4BytesFramesOf/empty" -> Multimodal.mp4BytesFramesOf(600, 0L, 320,
        240, 1000, Seq.empty, Seq.empty),
      "wavBytes/a" -> Multimodal.wavBytes(11025, 2, 250),
      "wavBytes/b" -> Multimodal.wavBytes(8000, 1, 0),
      "wavBytes/c" -> Multimodal.wavBytes(44100, 1, 3),
      "wavBytesSamples/a" -> Multimodal.wavBytesSamples(8000,
        Array[Short](0, 1, -1, 32767, -32768)),
      "wavBytesSamples/empty" -> Multimodal.wavBytesSamples(16000,
        Array.empty[Short]))
    val ids = spark.range(20).toDF("id")
    // One digest per corpus over (id, mime, sha256(payload)) in id order.
    def corpus(df: org.apache.spark.sql.DataFrame)(
        payload: Array[Byte] => String): String = sha(
      df.orderBy("media_id").as[(Long, Array[Byte], String)].collect()
        .map { case (id, p, mime) => s"$id|$mime|${payload(p)}" }
        .mkString("\n").getBytes("UTF-8"))
    // PNG bytes are encoder-dependent: pin the decoded grid instead.
    def pixels(p: Array[Byte]): String = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
      val (w, h) = (img.getWidth, img.getHeight)
      s"${w}x$h:" + sha(img.getRGB(0, 0, w, h, null, 0, w)
        .flatMap(v => Array((v >> 16).toByte, (v >> 8).toByte, v.toByte)))
    }
    val synths = Seq(
      "synthWav" -> corpus(Multimodal.synthWav(ids, "id"))(sha),
      "synthWavSegments" -> corpus(Multimodal.synthWavSegments(ids, "id"))(sha),
      "synthWavFamilies" -> corpus(Multimodal.synthWavFamilies(ids, "id"))(sha),
      "synthMp4" -> corpus(Multimodal.synthMp4(ids, "id"))(sha),
      "synthMp4Stts" -> corpus(Multimodal.synthMp4Stts(ids, "id"))(sha),
      "synthMp4Frames" -> corpus(Multimodal.synthMp4Frames(ids, "id"))(sha),
      "synthMp4FramesShared" ->
        corpus(Multimodal.synthMp4FramesShared(ids, "id", 3))(sha),
      "synthMp4Scenes" -> corpus(Multimodal.synthMp4Scenes(ids, "id"))(sha),
      "synthPng" -> corpus(Multimodal.synthPng(ids, "id"))(pixels),
      "synthPngPattern" ->
        corpus(Multimodal.synthPngPattern(ids, "id"))(pixels),
      "synthPngFamilies" ->
        corpus(Multimodal.synthPngFamilies(ids, "id"))(pixels))
    val got = (encoders.map { case (k, b) => k -> sha(b) } ++ synths).toMap
    val want = Map(
      "mp4Bytes/a" -> "c3c344011c72c4e644e03d9f5806f25a58afd6fb9a78c09926182dc7f47e0936",
      "mp4Bytes/b" -> "dd2ca954011da5cb83c09531bc79eaa5c5908dbc53870d511d765a312f97379b",
      "mp4BytesFrames/a" -> "bbd61a62ae8e0d281351763f7ff0d0caf058c44158c785e17d9d0a40551f8b9d",
      "mp4BytesFrames/b" -> "4b45546da8bdd26a44b447ce3987c747e367950978b66e094359e0bf0a788f77",
      "mp4BytesFramesOf/a" -> "3ae157ba81550349bc0733b084cdc21083a43bae166d4b135d0f7fd3a4b36c32",
      "mp4BytesFramesOf/empty" -> "28ceb3dd5d194907198f3da159c2795c70f220f54120fcd927d5ee3b42867bac",
      "mp4BytesStts/a" -> "8b42a28c51b7a1b14d168b8974ee1926f491c28120a5b18de2d860a2c9612d2d",
      "mp4BytesStts/b" -> "a6b635d2c11c3ba11f3aa0f01491a62d7de5ba623e1f1b4098c2ef3f46803267",
      "mp4BytesStts/empty" -> "30978ada77d072d3e453b2d01918ce3e864adf88683a036251535ff7604afa13",
      "synthMp4" -> "f5279bad0852eb57744529584401db7b0892b3f3a64d00adbfae7948b8b7b21d",
      "synthMp4Frames" -> "7e43824143b2d5cd3bdd4632b202a3a59a950b7d049ac42ddb3d13aa6f96c381",
      "synthMp4FramesShared" -> "9d174205a6a1019574218012f270ffbf9833c69bbe6c3076d4ede8f047aa5227",
      "synthMp4Scenes" -> "534535e4129be2bb40738c2f2dc27d73b42c7b49ea5fa757360031e85e04e562",
      "synthMp4Stts" -> "5fcaa7b8569d88ff314a06be0ddb028288a484cf0714bfc617128639a465ef2d",
      "synthPng" -> "bd22eb7995e120ddae1a86d1c2241771acfc317ec91cc075f6638e5772b34340",
      "synthPngFamilies" -> "0097266374656d27c5c5f8a3fdec4854fd6658867cf42c1af40655e0f2bf2fa3",
      "synthPngPattern" -> "18d18b854f7fefa4462d7bb34d29b779de4f467f2246c961b0d81ae10e0863cd",
      "synthWav" -> "6697a18b9ef79ba489f7ef6838134263c3811a6d91a519948c174c6044d80fd6",
      "synthWavFamilies" -> "4dad3bb138a90abd920bc231881a94cdeba6c43fc805f89761c42e00f1e64353",
      "synthWavSegments" -> "58ed021c69dcf9d3f60501b7fd61fb9b98bedc89e1601d3221a7f82a265b6a68",
      "wavBytes/a" -> "6e41f18e8f5111e7e6f6eafcedcd3b23bc322896b8f23ea302a5cd8375fb4272",
      "wavBytes/b" -> "4f8734c5e13ac599e168cf247a51c1dd0758537ce00bf16d7fed1a3d14d07041",
      "wavBytes/c" -> "ea7614c14f1b55ceea98f658a356ddafd45db744a53201a3a9211c9b5c9c64be",
      "wavBytesSamples/a" -> "e07f7c36b6eb8ec6eb1b0ff3107e6f08f9e93934407a5de3221857ca459cc37f",
      "wavBytesSamples/empty" -> "ba584a378b11d9e9c98736fd8c256fe1453a84ee4139416d24b07acff424f0fb")
    assert(got == want, got.toSeq.sorted.map { case (k, v) =>
      s"\"$k\" -> \"$v\"" }.mkString("\n", ",\n", "\n"))
  }
}
