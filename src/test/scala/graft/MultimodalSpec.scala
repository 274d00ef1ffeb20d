package graft

import graft.functions.Multimodal
import graft.tools.MakeMediaFixture
import org.apache.spark.sql.functions.sha2

/** Goldens for the REAL javax.imageio image decode path (round-5
  * upgrade), the REAL javax.sound.sampled audio decode path (round-8
  * upgrade), and the REAL AVI demux + frame decode path (round-13
  * upgrade: MJPEG frames via imageio, uncompressed DIB frames via the
  * raw BGR24 walk); only NON-AVI video codecs remain a disclosed stub
  * tested in TextPipelineSpec.
  *
  * The decode-vs-truth goldens replay exactly what the
  * ns_multimodal_decode / ns_multimodal_audio / ns_multimodal_video
  * oracle rows check: truth columns computed arithmetically from the
  * pixel / sample formulas, never from a decoder.
  */
class MultimodalSpec extends SparkSpec {
  import Multimodal._

  /** A committed fixture table of this checkout: `fixtures/` under the
    * working directory (the repo root in the forked test JVM), unless
    * `GRAFT_FIXTURE_DIR` names another one.
    */
  private def fixture(name: String): String =
    sys.env.getOrElse("GRAFT_FIXTURE_DIR", "fixtures") + "/" + name

  private def sha256Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString

  test("decode recovers exact dims + fixed-point luma for all 48 fixture images") {
    import spark.implicits._
    val rows = MakeMediaFixture.rows
    val recs = rows.map(r => MediaRecord(r.media_id, r.kind, r.payload)).toDS()
    val got = decodeImageFeatures(recs).collect().sortBy(_.media_id)
    assert(got.length == 48)
    got.zip(rows).foreach { case (f, truth) =>
      assert(f.decode_ok, s"media ${truth.media_id} failed to decode")
      assert(f.width == truth.true_width && f.height == truth.true_height,
        s"media ${truth.media_id}: dims ${f.width}x${f.height}")
      assert(f.n_px == truth.true_n_px)
      assert(f.luma_fp == truth.true_luma_fp,
        s"media ${truth.media_id}: luma ${f.luma_fp} != ${truth.true_luma_fp}")
    }
  }

  test("committed fixture parquet matches in-memory generation (no drift)") {
    // ns_multimodal_decode reads the COMMITTED fixture; regenerate and
    // compare so an edited formula can't silently diverge from it.
    val fixDir = fixture("media")
    val onDisk = spark.read.parquet(fixDir)
      .collect().map(r => (r.getAs[Long]("media_id"),
        java.util.Arrays.hashCode(r.getAs[Array[Byte]]("payload")),
        r.getAs[Long]("true_luma_fp"))).sortBy(_._1)
    val fresh = MakeMediaFixture.rows
      .map(r => (r.media_id, java.util.Arrays.hashCode(r.payload),
        r.true_luma_fp)).sortBy(_._1)
    assert(onDisk.toSeq == fresh,
      "committed fixtures/media diverges from MakeMediaFixture — rerun the generator")
  }

  test("jpeg decodes with dims exact and luma near truth (lossy tolerance)") {
    import spark.implicits._
    // solid mid-gray: JPEG's DC coefficient preserves flat fields well
    val bytes = encodeImage(32, 24, (_, _) => (100, 100, 100), "jpg")
    val f = decodeImageFeatures(
      Seq(MediaRecord(1L, "image/jpeg", bytes)).toDS()).head()
    assert(f.decode_ok && f.width == 32 && f.height == 24 && f.n_px == 768)
    val truth = 768L * (299L * 100 + 587L * 100 + 114L * 100)
    val tol = truth / 50 // 2%
    assert(math.abs(f.luma_fp - truth) <= tol,
      s"jpeg luma ${f.luma_fp} vs $truth")
  }

  test("gif (palette model) round-trips grayscale exactly via getRGB") {
    import spark.implicits._
    val px = MakeMediaFixture.grayPx(3) _
    val bytes = encodeImage(16, 11, px, "gif")
    val f = decodeImageFeatures(
      Seq(MediaRecord(2L, "image/gif", bytes)).toDS()).head()
    var truth = 0L
    for (y <- 0 until 11; x <- 0 until 16) {
      val (r, g, b) = px(x, y)
      truth += 299L * r + 587L * g + 114L * b
    }
    assert(f.decode_ok && f.width == 16 && f.height == 11 && f.luma_fp == truth)
  }

  test("audio decode recovers exact rate/frames/energy for all 24 fixture clips") {
    import spark.implicits._
    val rows = MakeMediaFixture.audioRows
    val recs = rows.map(r => MediaRecord(r.media_id, r.kind, r.payload)).toDS()
    val got = decodeAudioFeatures(recs).collect().sortBy(_.media_id)
    assert(got.length == 24)
    got.zip(rows).foreach { case (f, truth) =>
      assert(f.decode_ok, s"audio ${truth.media_id} failed to decode")
      assert(f.sample_rate == truth.true_sample_rate &&
        f.channels == truth.true_channels,
        s"audio ${truth.media_id}: fmt ${f.sample_rate}/${f.channels}")
      assert(f.n_frames == truth.true_n_frames &&
        f.duration_us == truth.true_duration_us,
        s"audio ${truth.media_id}: frames ${f.n_frames} dur ${f.duration_us}")
      assert(f.sq_sum == truth.true_sq_sum,
        s"audio ${truth.media_id}: sq_sum ${f.sq_sum} != ${truth.true_sq_sum}")
      assert(f.peak == truth.true_peak)
    }
  }

  test("committed audio fixture parquet matches in-memory generation (no drift)") {
    val fixDir = fixture("audio")
    val onDisk = spark.read.parquet(fixDir)
      .collect().map(r => (r.getAs[Long]("media_id"),
        java.util.Arrays.hashCode(r.getAs[Array[Byte]]("payload")),
        r.getAs[Long]("true_sq_sum"))).sortBy(_._1)
    val fresh = MakeMediaFixture.audioRows
      .map(r => (r.media_id, java.util.Arrays.hashCode(r.payload),
        r.true_sq_sum)).sortBy(_._1)
    assert(onDisk.toSeq == fresh,
      "committed fixtures/audio diverges from MakeMediaFixture — rerun the generator")
  }

  test("corrupt / non-audio payloads yield decode_ok=false, never a task failure") {
    import spark.implicits._
    val wav = encodeAudio(8000, 1, Array.tabulate(100)(i => (i * 7).toShort),
      aiff = false)
    // corrupt-yet-parseable header: a RIFF/WAVE fmt chunk declaring
    // channels=0 and sampleRate=0 parses but must not reach the
    // nSamples/channels and nFrames/rate divisions (ArithmeticException
    // would kill the task — the one forbidden outcome)
    val zeroHdr = wav.clone()
    zeroHdr(22) = 0; zeroHdr(23) = 0 // channels (LE u16)
    zeroHdr(24) = 0; zeroHdr(25) = 0; zeroHdr(26) = 0; zeroHdr(27) = 0 // rate
    val recs = Seq(
      MediaRecord(1L, "audio/wav", wav),
      MediaRecord(2L, "audio/wav", wav.take(10)), // truncated header
      MediaRecord(3L, "image/png", encodeImage(4, 4, (_, _) => (1, 2, 3), "png")),
      MediaRecord(4L, "audio/wav", Array[Byte]()),
      MediaRecord(5L, "audio/wav", zeroHdr)).toDS()
    val got = decodeAudioFeatures(recs).collect().sortBy(_.media_id)
    assert(got.map(_.decode_ok).toSeq == Seq(true, false, false, false, false))
    assert(got.filter(!_.decode_ok).forall(f =>
      f.sample_rate == -1 && f.n_frames == -1L && f.sq_sum == -1L))
  }

  test("corrupt / non-image payloads yield decode_ok=false, never a task failure") {
    import spark.implicits._
    val png = encodeImage(8, 8, (_, _) => (1, 2, 3), "png")
    val recs = Seq(
      MediaRecord(1L, "image/png", png),
      MediaRecord(2L, "image/png", png.take(10)), // truncated header
      MediaRecord(3L, "audio/wav", Array.tabulate[Byte](64)(_.toByte)),
      MediaRecord(4L, "image/png", Array[Byte]())).toDS()
    val got = decodeImageFeatures(recs).collect().sortBy(_.media_id)
    assert(got.map(_.decode_ok).toSeq == Seq(true, false, false, false))
    assert(got.filter(!_.decode_ok).forall(f => f.width == -1 && f.luma_fp == 0L))
  }

  test("video decode recovers container fields + exact DIB luma for all " +
      "20 fixture AVIs") {
    import spark.implicits._
    val rows = MakeMediaFixture.videoRows
    val recs = rows.map(r => MediaRecord(r.media_id, r.kind, r.payload)).toDS()
    val got = decodeVideoFeatures(recs).collect().sortBy(_.media_id)
    assert(got.length == 20)
    got.zip(rows).foreach { case (f, truth) =>
      assert(f.decode_ok == truth.true_ok, s"media ${truth.media_id}")
      assert(f.width == truth.true_width && f.height == truth.true_height,
        s"media ${truth.media_id}: dims ${f.width}x${f.height}")
      assert(f.us_per_frame == truth.true_us_per_frame)
      assert(f.n_frames_declared == truth.true_n_frames &&
        f.n_frames_found == truth.true_n_frames &&
        f.n_frames_decoded == truth.true_n_frames_decoded,
        s"media ${truth.media_id}: frames ${f.n_frames_found}")
      assert(f.frame_bytes == truth.true_frame_bytes)
      // exact pixel truth for the lossless DIB family; MJPEG rows pin
      // the -1 sentinel (lossy pixel values are decoder-defined)
      assert(f.luma_fp == truth.true_luma_fp,
        s"media ${truth.media_id}: luma ${f.luma_fp} != ${truth.true_luma_fp}")
    }
  }

  test("committed video fixture parquet matches in-memory generation (no drift)") {
    val fixDir = fixture("video")
    val onDisk = spark.read.parquet(fixDir)
      .collect().map(r => (r.getAs[Long]("media_id"),
        java.util.Arrays.hashCode(r.getAs[Array[Byte]]("payload")),
        r.getAs[Long]("true_luma_fp"))).sortBy(_._1)
    val fresh = MakeMediaFixture.videoRows
      .map(r => (r.media_id, java.util.Arrays.hashCode(r.payload),
        r.true_luma_fp)).sortBy(_._1)
    assert(onDisk.toSeq == fresh,
      "committed fixtures/video diverges from MakeMediaFixture — rerun the generator")
  }

  test("sampleVideoFrames demuxes every Nth frame payload byte-exactly") {
    import spark.implicits._
    val w = 10; val h = 8
    val frames = (0 until 6).map(f =>
      dibFrame(w, h, (x, y) => (x + f, y, f)))
    val avi = encodeAvi(w, h, 40000L, frames, compressed = false)
    val got = sampleVideoFrames(
        Seq(MediaRecord(7L, "video/avi-dib", avi),
          MediaRecord(8L, "video/x", Array.tabulate[Byte](64)(_.toByte)))
          .toDS(), everyN = 2)
      .collect().sortBy(_.frame_idx)
    // non-AVI rows emit nothing; the AVI yields frames 0, 2, 4
    assert(got.map(_.media_id).distinct.toSeq == Seq(7L))
    assert(got.map(_.frame_idx).toSeq == Seq(0, 2, 4))
    got.foreach(fr => assert(
      java.util.Arrays.equals(fr.frame, frames(fr.frame_idx)),
      s"frame ${fr.frame_idx} bytes differ"))
  }

  test("mjpeg avi: every frame decodes via imageio with header dims; " +
      "luma reports the lossy sentinel") {
    import spark.implicits._
    val frames = (0 until 3).map(f =>
      encodeImage(16, 12, (x, y) => (x * 3 + f, y * 5, x + y), "jpg"))
    val avi = encodeAvi(16, 12, 33333L, frames, compressed = true)
    val f = decodeVideoFeatures(
      Seq(MediaRecord(1L, "video/avi-mjpeg", avi)).toDS()).head()
    assert(f.decode_ok && f.width == 16 && f.height == 12)
    assert(f.n_frames_found == 3 && f.n_frames_decoded == 3)
    assert(f.luma_fp == -1L)
  }

  test("corrupt / non-AVI video payloads yield decode_ok=false, never a " +
      "task failure") {
    import spark.implicits._
    val ok = encodeAvi(8, 6, 40000L,
      Seq(dibFrame(8, 6, (x, y) => (x, y, 0))), compressed = false)
    // a chunk whose declared size overruns the container must be
    // rejected by the bounds check, not throw AIOOBE in a task
    val overrun = ok.clone()
    overrun(16) = -1; overrun(17) = -1; overrun(18) = -1; overrun(19) = -1
    val recs = Seq(
      MediaRecord(1L, "video/avi-dib", ok),
      MediaRecord(2L, "video/avi-dib", ok.take(20)), // truncated
      MediaRecord(3L, "video/avi-dib", Array[Byte]()),
      MediaRecord(4L, "video/mp4", Array.tabulate[Byte](256)(_.toByte)),
      MediaRecord(5L, "video/avi-dib", overrun)).toDS()
    val got = decodeVideoFeatures(recs).collect().sortBy(_.media_id)
    assert(got.map(_.decode_ok).toSeq ==
      Seq(true, false, false, false, false))
    assert(got.filter(!_.decode_ok).forall(f =>
      f.width == -1 && f.n_frames_found == -1L && f.luma_fp == -1L))
  }

  test("mp4 demux round-trips container fields and extracts samples " +
      "byte-exactly; pixel decode stays the disclosed gap") {
    import spark.implicits._
    val samples = (0 until 4).map(f =>
      Array.tabulate(50 + f * 13)(j => ((j * 7 + f * 31) % 256).toByte))
    val mp4 = encodeMp4(20, 16, 41667L, samples)
    val f = decodeVideoFeatures(
      Seq(MediaRecord(1L, "video/mp4-avc1", mp4)).toDS()).head()
    assert(f.decode_ok && f.width == 20 && f.height == 16)
    assert(f.us_per_frame == 41667L)
    assert(f.n_frames_declared == 4 && f.n_frames_found == 4)
    assert(f.frame_bytes == samples.map(_.length.toLong).sum)
    // no JVM mp4 pixel decoder: decoded count and luma are sentinels
    assert(f.n_frames_decoded == 0L && f.luma_fp == -1L)
    // frame sampling emits the REAL demuxed access units
    val got = sampleVideoFrames(
      Seq(MediaRecord(1L, "video/mp4-avc1", mp4)).toDS(), everyN = 2)
      .collect().sortBy(_.frame_idx)
    assert(got.map(_.frame_idx).toSeq == Seq(0, 2))
    assert(got(0).frame.toSeq == samples(0).toSeq)
    assert(got(1).frame.toSeq == samples(2).toSeq)
  }

  test("photo-JPEG-in-mp4: every demuxed sample pixel-decodes via " +
      "imageio with header dims; avc1 rows stay demux-only") {
    import spark.implicits._
    val w = 24; val h = 16
    val jpegs = (0 until 3).map(f => encodeImage(w, h,
      (x, y) => ((x * 3 + f) % 256, (y * 5 + f) % 256, (x + y) % 256),
      "jpg"))
    val mp4 = encodeMp4(w, h, 40000L, jpegs, codec = "jpeg")
    val f = decodeVideoFeatures(
      Seq(MediaRecord(1L, "video/mp4-jpeg", mp4)).toDS()).head()
    assert(f.decode_ok && f.width == w && f.height == h)
    assert(f.n_frames_found == 3 && f.n_frames_decoded == 3,
      s"decoded ${f.n_frames_decoded} of ${f.n_frames_found}")
    // luma stays the lossy sentinel, as in the AVI MJPG family
    assert(f.luma_fp == -1L)
    // a jpeg-fourcc container whose samples are NOT valid JPEGs
    // decodes zero frames (demux still succeeds)
    val fake = encodeMp4(w, h, 40000L,
      Seq(Array.tabulate(64)(_.toByte)), codec = "jpeg")
    val g = decodeVideoFeatures(
      Seq(MediaRecord(2L, "video/mp4-jpeg", fake)).toDS()).head()
    assert(g.decode_ok && g.n_frames_found == 1 && g.n_frames_decoded == 0)
  }

  test("corrupt mp4 payloads yield decode_ok=false, never a task failure") {
    import spark.implicits._
    val ok = encodeMp4(8, 8, 40000L,
      Seq(Array.tabulate(32)(_.toByte), Array.tabulate(40)(_.toByte)))
    // point stco past the payload end: the sample bounds check must
    // reject the container, not throw in a task
    val stcoAt = {
      // find the stco box and corrupt its single chunk offset
      val pat = "stco".getBytes("US-ASCII")
      (0 until ok.length - 4).find(i => ok.slice(i, i + 4).sameElements(pat)).get
    }
    val overrun = ok.clone()
    overrun(stcoAt + 12) = 0x7f.toByte // offset high byte → far past end
    val recs = Seq(
      MediaRecord(1L, "video/mp4", ok),
      MediaRecord(2L, "video/mp4", ok.take(50)),
      MediaRecord(3L, "video/mp4", overrun)).toDS()
    val got = decodeVideoFeatures(recs).collect().sortBy(_.media_id)
    assert(got.map(_.decode_ok).toSeq == Seq(true, false, false))
  }

  test("committed mp4 fixture parquet matches in-memory generation (no drift)") {
    import spark.implicits._
    // the payload hash pins the container bytes the encoder writes,
    // not only the truth columns derived from its inputs
    val disk = spark.read.parquet(fixture("video_mp4"))
      .select($"media_id", $"true_au_sha", $"true_frame_bytes",
        sha2($"payload", 256))
      .as[(Long, String, Long, String)].collect()
      .map { case (id, sha, fb, p) => id -> ((sha, fb, p)) }.toMap
    val mem = graft.tools.MakeMediaFixture.mp4Rows
      .map(r => r.media_id ->
        ((r.true_au_sha, r.true_frame_bytes, sha256Hex(r.payload)))).toMap
    assert(disk == mem)
  }

  test("mp4 audio: PCM tracks decode to exact WAV-contract features; " +
      "AAC rows carry demux truth with -1 energy; corrupt rows sentinel") {
    import spark.implicits._
    val rows = MakeMediaFixture.audioMp4Rows
    val recs = rows.map(r => MediaRecord(r.media_id, r.kind, r.payload)).toDS()
    val got = decodeMp4AudioFeatures(recs).collect().sortBy(_.media_id)
    assert(got.length == rows.length)
    got.zip(rows.sortBy(_.media_id)).foreach { case (f, truth) =>
      assert(f.decode_ok == truth.true_ok,
        s"mp4 audio ${truth.media_id}: decode_ok ${f.decode_ok}")
      assert(f.sample_rate == truth.true_sample_rate &&
        f.channels == truth.true_channels,
        s"mp4 audio ${truth.media_id}: fmt ${f.sample_rate}/${f.channels}")
      assert(f.n_frames == truth.true_n_frames &&
        f.duration_us == truth.true_duration_us,
        s"mp4 audio ${truth.media_id}: frames ${f.n_frames} dur ${f.duration_us}")
      assert(f.sq_sum == truth.true_sq_sum && f.peak == truth.true_peak,
        s"mp4 audio ${truth.media_id}: sq_sum ${f.sq_sum} peak ${f.peak}")
    }
  }

  test("G.711 expansion pinned to published ITU spec vectors; encode round-trips") {
    def ulaw(b: Int) = g711Table("ulaw").get(b & 0xff)
    def alaw(b: Int) = g711Table("alaw").get(b & 0xff)
    // µ-law: 0x80 → +32124 (max), 0x00 → -32124, 0xFF → +0, 0x7F → -0
    assert(ulaw(0x80) == 32124 && ulaw(0x00) == -32124, s"${ulaw(0x80)}/${ulaw(0x00)}")
    assert(ulaw(0xFF) == 0 && ulaw(0x7F) == 0)
    // A-law: 0xD5 → +8 (min magnitude), 0x55 → -8, 0xAA → +32256 (max)
    assert(alaw(0xD5) == 8 && alaw(0x55) == -8, s"${alaw(0xD5)}/${alaw(0x55)}")
    assert(alaw(0xAA) == 32256 && alaw(0x2A) == -32256, s"${alaw(0xAA)}")
    // unknown fourcc refuses rather than guessing
    assert(g711Table("mp4a").isEmpty)
    // encode→decode round-trips within the codec's quantization step
    // (spec property: relative error bounded, exact at table points)
    for (alawMode <- Seq(false, true); s <- Seq[Short](0, 7, -8, 100, -1000,
        8191, -16000, 32000, -32635, 32767)) {
      val enc = MakeMediaFixture.g711Encode(alawMode, s)
      val dec = (if (alawMode) alaw(enc) else ulaw(enc)).toInt
      val step = math.max(16, math.abs(s.toInt) / 16 + 1)
      assert(math.abs(dec - s.toInt) <= step,
        s"alaw=$alawMode s=$s dec=$dec step=$step")
    }
  }

  test("mp4 audio encoder exercises fixed-stsz and multi-chunk stsc/stco " +
      "resolution (PCM) and explicit-stsz (AAC)") {
    // PCM: 600 frames at 256/chunk → 3 chunks, last partial (88) —
    // the two-entry stsc path; fixed-size stsz (2 B mono frames)
    val pcm = MakeMediaFixture.audioMp4Row(0)
    val parsed = Multimodal.parseMp4Audio(pcm.payload).get
    assert(parsed.codec == "sowt" && parsed.sampleSize == 16)
    assert(parsed.samples.size.toLong == pcm.true_n_frames)
    assert(parsed.samples.forall(_._2 == 2L)) // mono s16 frame
    // AAC: variable packet sizes → explicit stsz
    val aac = MakeMediaFixture.audioMp4AacRow(12L, 0)
    val ap = Multimodal.parseMp4Audio(aac.payload).get
    assert(ap.codec == "mp4a" && ap.samples.size.toLong == aac.true_n_frames)
    assert(ap.samples.map(_._2).distinct.size > 1)
    assert(ap.durationUs == aac.true_duration_us)
  }

  test("hardened box walks: inflated fixed-stsz counts, table overruns " +
      "and v2 sound entries sentinel instead of task-killing") {
    import spark.implicits._
    def find4(b: Array[Byte], fourcc: String): Int = {
      val pat = fourcc.getBytes("US-ASCII")
      (0 until b.length - 4).find(i =>
        b.slice(i, i + 4).sameElements(pat)).get
    }
    val pcm = MakeMediaFixture.audioMp4Row(0).payload
    // fixed-form stsz declaring ~2^30 samples: must be rejected
    // BEFORE allocating (OutOfMemoryError is not NonFatal — it
    // would task-kill, violating the sentinel contract)
    val inflated = pcm.clone()
    val szAt = find4(inflated, "stsz") + 4 // box dataStart
    inflated(szAt + 8) = 0x40.toByte; inflated(szAt + 9) = 0
    inflated(szAt + 10) = 0; inflated(szAt + 11) = 0
    // v2 sound sample entry: different layout — channels/rate at the
    // v0 offsets would be garbage; must sentinel, never a garbage
    // parse reporting decode_ok=true
    val v2 = pcm.clone()
    val sdAt = find4(v2, "stsd") + 4
    v2(sdAt + 8 + 16) = 0; v2(sdAt + 8 + 17) = 2
    // stts declaring more entries than its box holds: must hit the
    // sentinel, not read sibling-box bytes as (count, delta) pairs
    val badStts = pcm.clone()
    val ttAt = find4(badStts, "stts") + 4
    badStts(ttAt + 5) = 0x7f.toByte
    // explicit-stsz overrun on the AAC (variable-size) container
    val badAac = MakeMediaFixture.audioMp4AacRow(99L, 0).payload.clone()
    val aAt = find4(badAac, "stsz") + 4
    badAac(aAt + 9) = 0x01.toByte
    val recs = Seq(
      MediaRecord(1L, "audio/mp4", inflated),
      MediaRecord(2L, "audio/mp4", v2),
      MediaRecord(3L, "audio/mp4", badStts),
      MediaRecord(4L, "audio/mp4", badAac)).toDS()
    val got = decodeMp4AudioFeatures(recs).collect()
    assert(got.length == 4)
    got.foreach(f => assert(!f.decode_ok && f.sample_rate == -1,
      s"media ${f.media_id}: expected full sentinel, got $f"))
    // same guards in the video walk: inflated fixed/explicit stsz
    val vid = Multimodal.encodeMp4(8, 8, 40000L,
      Seq(Array.tabulate(32)(_.toByte), Array.tabulate(40)(_.toByte)))
    val vBad = vid.clone()
    val vAt = find4(vBad, "stsz") + 4
    vBad(vAt + 9) = 0x01.toByte
    val vg = decodeVideoFeatures(
      Seq(MediaRecord(5L, "video/mp4", vBad)).toDS()).head()
    assert(!vg.decode_ok)
  }

  test("real resize: constant-color fixtures match the analytic luma " +
      "truth; corrupt payloads sentinel; payload is a true PNG of the " +
      "resized pixels") {
    import spark.implicits._
    val rows = MakeMediaFixture.resizeRows
    val recs = rows.map(r => MediaRecord(r.media_id, r.kind, r.payload)).toDS()
    val got = Multimodal.resizeImages(recs,
      MakeMediaFixture.resizeTargetW, MakeMediaFixture.resizeTargetH)
      .collect().sortBy(_.media_id)
    assert(got.length == rows.length)
    got.zip(rows.sortBy(_.media_id)).foreach { case (f, truth) =>
      assert(f.decode_ok == truth.true_ok, s"media ${truth.media_id}")
      if (truth.true_ok) {
        assert(f.width == MakeMediaFixture.resizeTargetW &&
          f.height == MakeMediaFixture.resizeTargetH)
        assert(f.resized_luma_fp == truth.true_resized_luma_fp,
          s"media ${truth.media_id}: luma ${f.resized_luma_fp} != " +
            s"${truth.true_resized_luma_fp}")
        // the emitted payload must BE a PNG of those pixels: re-decode
        // and recompute the luma sum independently
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(f.payload))
        assert(img != null && img.getWidth == f.width &&
          img.getHeight == f.height)
        val px = img.getRGB(0, 0, f.width, f.height, null, 0, f.width)
        val luma = px.map(p => 299L * ((p >> 16) & 0xff) +
          587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)).sum
        assert(luma == f.resized_luma_fp)
      } else {
        assert(f.width == -1 && f.height == -1 && f.resized_luma_fp == -1L)
        assert(f.payload.nonEmpty) // stub plumbing still flows bytes
      }
    }
  }

  test("identity-size bilinear resize of a gradient image reproduces the " +
      "exact source pixels") {
    import spark.implicits._
    val truth = MakeMediaFixture.row(1) // PNG-RGB gradient, lossless
    val recs = Seq(MediaRecord(truth.media_id, truth.kind, truth.payload)).toDS()
    val got = Multimodal.resizeImages(recs,
      truth.true_width, truth.true_height).head()
    assert(got.decode_ok && got.resized_luma_fp == truth.true_luma_fp)
  }

  test("committed media_resize fixture parquet matches in-memory " +
      "generation (no drift)") {
    import spark.implicits._
    val disk = spark.read.parquet(fixture("media_resize"))
      .select("media_id", "true_resized_luma_fp", "true_ok")
      .as[(Long, Long, Boolean)].collect()
      .map { case (id, lu, ok) => id -> ((lu, ok)) }.toMap
    val mem = MakeMediaFixture.resizeRows
      .map(r => r.media_id -> ((r.true_resized_luma_fp, r.true_ok))).toMap
    assert(disk == mem,
      "committed fixtures/media_resize diverges from MakeMediaFixture — rerun the generator")
  }

  test("committed mp4-audio fixture parquet matches in-memory generation " +
      "(no drift)") {
    import spark.implicits._
    // payload hash: see the mp4 video drift test
    val disk = spark.read.parquet(fixture("audio_mp4"))
      .select($"media_id", $"true_sq_sum", $"true_duration_us",
        sha2($"payload", 256))
      .as[(Long, Long, Long, String)].collect()
      .map { case (id, sq, du, p) => id -> ((sq, du, p)) }.toMap
    val mem = MakeMediaFixture.audioMp4Rows
      .map(r => r.media_id ->
        ((r.true_sq_sum, r.true_duration_us, sha256Hex(r.payload)))).toMap
    assert(disk == mem,
      "committed fixtures/audio_mp4 diverges from MakeMediaFixture — rerun the generator")
  }
}
