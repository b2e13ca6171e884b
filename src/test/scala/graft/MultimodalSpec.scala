package graft

import graft.operators.Multimodal
import graft.operators.Multimodal.MediaRow
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpecBase {
  import spark.implicits._

  test("mediaTable: binary payload round-trips the document text") {
    val m = Multimodal.mediaTable(spark, sf)
    assert(m.schema("payload").dataType.typeName == "binary")
    val back = m.select(col("doc_id"), decode(col("payload"), "UTF-8").as("text"))
    val orig = graft.sources.Tables.documents(spark, sf).select("doc_id", "text")
    assert(back.exceptAll(orig).count() == 0)
  }

  test("decodeStub is deterministic and batch-shape-independent") {
    val row = MediaRow(7L, "video", "hello world, twelve".getBytes("UTF-8"))
    val a = Multimodal.decodeStub(row)
    val b = Multimodal.decodeStub(row)
    assert(a == b || (a.doc_id == b.doc_id && a.frame_means.sameElements(b.frame_means)))
    assert(a.byte_len == 19)
    assert(a.n_frames == (1 + 19 % 8))
    assert(a.frame_means.length == a.n_frames)
    // mean byte of the whole payload equals weighted mean of slice means
    val whole = row.payload.map(_ & 0xff).sum.toDouble / row.payload.length
    assert(a.frame_means.forall(m => m > 0 && m < 256))
    val img = Multimodal.decodeStub(MediaRow(7L, "image", row.payload))
    assert(img.n_frames == 1)
    assert(math.abs(img.frame_means(0) - whole) < 1e-9)
  }

  test("decodeImage + imageFeatures: REAL PNG decode via javax.imageio — true dimensions and pixel mean") {
    val dir = tempDir("graft_png").toFile
    def writePng(name: String, w: Int, h: Int, rgb: Int): Unit = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      assert(javax.imageio.ImageIO.write(img, "png", new java.io.File(dir, name)))
    }
    // solid (30, 60, 90) -> mean luminance (30+60+90)/3 = 60 exactly
    writePng("a.png", 20, 10, (30 << 16) | (60 << 8) | 90)
    // solid white 7x5 -> mean 255
    writePng("b.png", 7, 5, 0xffffff)
    val out = Multimodal.imageFeatures(spark, dir.getAbsolutePath, "*.png")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getDouble(4)))
    assert(out.length == 2, s"expected 2 decoded images, got ${out.toSeq}")
    val a = out.find(_._1.endsWith("a.png")).get
    assert(a._3 == 20 && a._4 == 10, s"true dimensions wrong: $a")
    assert(math.abs(a._5 - 60.0) < 1e-9, s"mean luminance wrong: $a")
    val bb = out.find(_._1.endsWith("b.png")).get
    assert(bb._3 == 7 && bb._4 == 5 && math.abs(bb._5 - 255.0) < 1e-9)
    // byte_len is the real on-disk size the binaryFile scan reported
    assert(a._2 == new java.io.File(dir, "a.png").length())
  }

  test("decodeAudio + audioFeatures: REAL WAV decode via javax.sound — true rate, frames, RMS") {
    val dir = tempDir("graft_wav").toFile
    // 16-bit PCM mono 8000 Hz, 0.5 s sine at amplitude 0.5 → RMS = 0.5/√2
    val rate = 8000f
    val nFrames = 4000
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
    val pcm = new Array[Byte](nFrames * 2)
    val bb = java.nio.ByteBuffer.wrap(pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    for (i <- 0 until nFrames)
      bb.putShort((0.5 * math.sin(2 * math.Pi * 440 * i / rate) * 32767).toShort)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, new java.io.File(dir, "tone.wav"))
    val out = Multimodal.audioFeatures(spark, dir.getAbsolutePath, "*.wav").collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getDouble(2) == 8000.0, s"sample rate wrong: $r")
    assert(r.getInt(3) == 1 && r.getLong(4) == 4000L, s"channels/frames wrong: $r")
    assert(math.abs(r.getDouble(5) - 0.5) < 1e-6, s"duration wrong: $r")
    assert(math.abs(r.getDouble(6) - 0.5 / math.sqrt(2.0)) < 1e-3, s"RMS wrong: $r")
  }

  test("q80 registered path: REAL decoders over deterministic fixtures yield the closed-form constants") {
    val out = SparkEntry.queries("q80_real_decode")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val want = Seq(
      ("dc_stereo.wav", "duration_sec", 0.5),
      ("dc_stereo.wav", "n_channels", 2.0),
      ("dc_stereo.wav", "n_frames", 2000.0),
      ("dc_stereo.wav", "rms", 0.25),
      ("dc_stereo.wav", "sample_rate", 4000.0),
      ("img_a.png", "height", 10.0),
      ("img_a.png", "mean_luma", 60.0),
      ("img_a.png", "width", 20.0),
      ("img_b.png", "height", 5.0),
      ("img_b.png", "mean_luma", 255.0),
      ("img_b.png", "width", 7.0),
      ("img_c.png", "height", 16.0),
      ("img_c.png", "mean_luma", 24.0),
      ("img_c.png", "width", 16.0),
      ("sq_mono.wav", "duration_sec", 1.0),
      ("sq_mono.wav", "n_channels", 1.0),
      ("sq_mono.wav", "n_frames", 8000.0),
      ("sq_mono.wav", "rms", 0.5),
      ("sq_mono.wav", "sample_rate", 8000.0))
    assert(out.toSeq == want, s"real-decode features diverge: ${out.toSeq}")
  }

  // container fixtures come from the shared byte-level builders in
  // Multimodal (mkAviFixture/mkMp4Fixture); independence of the check comes
  // from q81's literal oracle and the spec's closed-form expectations
  private def buildAvi(w: Int, h: Int, usPerFrame: Int, frames: Int): Array[Byte] =
    Multimodal.mkAviFixture(w, h, usPerFrame, frames)
  private def buildMp4(w: Int, h: Int, timescale: Int, duration: Int, frames: Int): Array[Byte] =
    Multimodal.mkMp4Fixture(w, h, timescale, duration, frames)

  test("videoMeta: RIFF/AVI and MP4 container headers parse to true geometry, duration, and frames") {
    val avi = Multimodal.videoMeta(buildAvi(320, 240, usPerFrame = 40000, frames = 250))
    assert(avi.contains(Multimodal.VideoMeta("avi", 320, 240, 10.0, 250)), s"got $avi")
    val mp4 = Multimodal.videoMeta(buildMp4(640, 360, timescale = 600, duration = 1200, frames = 300))
    assert(mp4.contains(Multimodal.VideoMeta("mp4", 640, 360, 2.0, 300)), s"got $mp4")
    // non-container bytes (q40's synthetic text payloads) must never parse
    assert(Multimodal.videoMeta("the quick brown fox jumps over it".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.videoMeta(Array.emptyByteArray).isEmpty)
  }

  test("q81 registered path: REAL container parsing over deterministic fixtures yields the closed-form constants") {
    val out = SparkEntry.queries("q81_video_meta")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val want = Seq(
      ("vid_a.avi", "duration_sec", 10.0),
      ("vid_a.avi", "height", 240.0),
      ("vid_a.avi", "n_frames", 250.0),
      ("vid_a.avi", "width", 320.0),
      ("vid_b.mp4", "duration_sec", 2.0),
      ("vid_b.mp4", "height", 360.0),
      ("vid_b.mp4", "n_frames", 300.0),
      ("vid_b.mp4", "width", 640.0))
    assert(out.toSeq == want, s"video metadata diverges: ${out.toSeq}")
  }

  test("videoMeta: MP4 version-1 boxes (64-bit times) and multi-track files parse correctly") {
    // v1 mvhd/tkhd fixture built inline: creation/modification/duration are
    // 64-bit, so timescale sits at box+28 and tkhd geometry at box+96
    val bb = java.nio.ByteBuffer.allocate(1024).order(java.nio.ByteOrder.BIG_ENDIAN)
    def cc(s: String) = bb.put(s.getBytes("ISO-8859-1"))
    def box(size: Int, typ: String) = { bb.putInt(size); cc(typ) }
    box(16, "ftyp"); cc("isom"); bb.putInt(0)
    val mvhdSize = 8 + 4 + 28 + 80 // header + ver/flags + v1 times/scale/dur + rate..next_track = 120
    val tkhdSize = 8 + 4 + 32 + 8 + 8 + 36 + 8 // header + ver/flags + v1 ids/times + reserved + layer.. + matrix + geometry = 104
    val trakSize = 8 + tkhdSize
    box(8 + mvhdSize + 2 * trakSize, "moov")
    box(mvhdSize, "mvhd"); bb.put(1.toByte); bb.put(Array[Byte](0, 0, 0))
    bb.putLong(0L); bb.putLong(0L)       // creation, modification (64-bit)
    bb.putInt(1000); bb.putLong(2500L)   // timescale, duration -> 2.5 s
    bb.putInt(0x00010000); bb.putShort(0x0100.toShort); bb.putShort(0)
    bb.putInt(0); bb.putInt(0)
    for (_ <- 0 until 9) bb.putInt(0)
    for (_ <- 0 until 6) bb.putInt(0)
    bb.putInt(3)
    def trak(w: Int, h: Int): Unit = {
      box(trakSize, "trak")
      box(tkhdSize, "tkhd"); bb.put(1.toByte); bb.put(Array[Byte](0, 0, 0))
      bb.putLong(0L); bb.putLong(0L)     // creation, modification (64-bit)
      bb.putInt(1); bb.putInt(0); bb.putLong(2500L) // track, reserved, duration
      bb.putInt(0); bb.putInt(0)
      bb.putShort(0); bb.putShort(0); bb.putShort(0); bb.putShort(0)
      for (_ <- 0 until 9) bb.putInt(0)
      bb.putInt(w << 16); bb.putInt(h << 16)
    }
    trak(0, 0)        // audio track: zero geometry must not clobber video's
    trak(1920, 1080)  // video track
    val payload = java.util.Arrays.copyOf(bb.array(), bb.position())
    val m = Multimodal.videoMeta(payload)
    assert(m.contains(Multimodal.VideoMeta("mp4", 1920, 1080, 2.5, 0)), s"got $m")
  }

  test("videoQuarantine lists unparseable containers; videoFeatures drops them") {
    val dir = tempDir("graft_vidq")
    java.nio.file.Files.write(dir.resolve("good.avi"),
      Multimodal.mkAviFixture(320, 240, 40000, 250))
    java.nio.file.Files.write(dir.resolve("corrupt.mp4"),
      "not a container at all, just text".getBytes("UTF-8"))
    val feats = Multimodal.videoFeatures(spark, dir.toString).collect()
    assert(feats.length == 1 && feats(0).getString(0).endsWith("good.avi"))
    val quarantined = Multimodal.videoQuarantine(spark, dir.toString).collect()
    assert(quarantined.length == 1 && quarantined(0).getString(0).endsWith("corrupt.mp4"))
  }

  test("extractFeatures routes real video containers through the true parser, stub only as fallback") {
    val media = Seq(
      (1L, "video", buildAvi(320, 240, 40000, 250)),
      (2L, "video", buildMp4(640, 360, 600, 1200, 300)),
      (3L, "video", "no container magic here".getBytes("UTF-8")))
      .toDF("doc_id", "media_type", "payload")
    val f = Multimodal.extractFeatures(spark, media).collect()
      .map(m => m.doc_id -> m).toMap
    assert(f(1L).width == 320 && f(1L).height == 240 && f(1L).n_frames == 250)
    assert(f(2L).width == 640 && f(2L).height == 360 && f(2L).n_frames == 300)
    assert(f(3L).width == (64 + 23 % 512)) // stub fallback for unrecognized bytes
  }

  test("extractFeatures: distributed, one feature row per media row") {
    val media = Multimodal.mediaTable(spark, sf).repartition(7)
    val feats = Multimodal.extractFeatures(spark, media)
    assert(feats.count() == media.count())
    assert(feats.filter(f => f.width < 64 || f.width >= 576).count() == 0)
  }

  test("decodeAviFrames: MJPEG movi walk decodes every frame with exact geometry and luma") {
    val avi = Multimodal.mkMjpegAviFixture(48, 32, 40000, Seq(128, 160, 192))
    // container metadata still parses from the same bytes
    val meta = Multimodal.videoMeta(avi).get
    assert(meta.container == "avi" && meta.width == 48 && meta.height == 32 && meta.n_frames == 3)
    val frames = Multimodal.decodeAviFrames(avi)
    assert(frames.map(f => (f._1, f._2, f._3)) == Seq((0, 48, 32), (1, 48, 32), (2, 48, 32)))
    assert(frames.map(_._4) == Seq(128.0, 160.0, 192.0),
      "uniform-gray MJPEG frames must decode to exactly their gray level")
    // odd-length JPEG payloads are padded per RIFF; a walk that ignored the
    // pad byte would desync and fail decode — any odd frame in the fixture
    // set exercises this, and non-AVI bytes never decode
    assert(Multimodal.decodeAviFrames("not a riff".getBytes).isEmpty)
    // corrupt frame payload: surfaced as a skipped frame, not a crash
    val broken = avi.clone()
    val moviAt = new String(broken, "ISO-8859-1").indexOf("00dc")
    java.util.Arrays.fill(broken, moviAt + 8, moviAt + 30, 0.toByte)
    val dec = Multimodal.decodeAviFrames(broken)
    assert(dec.size == 2 && dec.map(_._1) == Seq(1, 2),
      "a corrupt frame must quarantine (skip) while keeping later frames' indices")
  }

  test("videoFrameProfile: per-frame features over the MJPEG fixture corpus match the closed-form constants") {
    val rows = Multimodal.videoFrameProfile(spark).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.toSeq == Seq(
      ("clip_a.avi", 0L, 48L, 32L, 128.0),
      ("clip_a.avi", 1L, 48L, 32L, 160.0),
      ("clip_a.avi", 2L, 48L, 32L, 192.0),
      ("clip_b.avi", 0L, 64L, 48L, 192.0),
      ("clip_b.avi", 1L, 64L, 48L, 64.0)))
  }

  test("mediaProfile: media types partition the corpus") {
    val prof = Multimodal.mediaProfile(spark, sf)
    val rows = prof.collect()
    assert(rows.map(_.getString(0)).toSet == Set("image", "audio", "video"))
    assert(rows.map(_.getLong(1)).sum == 500L)
  }

  test("goertzelAmp recovers amplitude at an exact bin, zero off-bin") {
    val n = 1000
    val x = Array.tabulate(n)(i => 0.37 * math.sin(2 * math.Pi * 50 * i / n))
    assert(math.abs(Multimodal.goertzelAmp(x, 50) - 0.37) < 1e-9)
    assert(Multimodal.goertzelAmp(x, 51) < 1e-9)
    assert(Multimodal.goertzelAmp(x, 25) < 1e-9)
  }

  test("goertzelAmp separates superposed tones (linearity)") {
    val n = 2000
    val x = Array.tabulate(n)(i =>
      0.5 * math.sin(2 * math.Pi * 100 * i / n) +
      0.2 * math.sin(2 * math.Pi * 333 * i / n))
    assert(math.abs(Multimodal.goertzelAmp(x, 100) - 0.5) < 1e-9)
    assert(math.abs(Multimodal.goertzelAmp(x, 333) - 0.2) < 1e-9)
  }

  test("spectralProfile matches the closed-form fixture constants") {
    val out = Multimodal.spectralProfile(spark).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      ("sin_a.wav", 440L, 0.5, 1L), ("sin_a.wav", 1000L, 0.0, 0L),
      ("sin_a.wav", 2000L, 0.0, 0L),
      ("sin_b.wav", 440L, 0.5, 1L), ("sin_b.wav", 1000L, 0.25, 0L),
      ("sin_b.wav", 2000L, 0.0, 0L),
      ("sin_c.wav", 440L, 0.0, 0L), ("sin_c.wav", 1000L, 0.0, 0L),
      ("sin_c.wav", 2000L, 0.8, 1L)))
  }

  test("spectral fixtures do not leak into the q80 media-fixture globs") {
    val mediaDir = Multimodal.ensureMediaFixtures()
    Multimodal.ensureSpectralFixtures()
    val wavs = new java.io.File(mediaDir).listFiles()
      .map(_.getName).filter(_.endsWith(".wav")).sorted.toSeq
    assert(wavs == Seq("dc_stereo.wav", "sq_mono.wav"))
  }
}
