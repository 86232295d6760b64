package graft

import org.apache.spark.sql.functions._
import graft.operators.{Multimodal, Similarity}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Seq(
    (1L, "a" * 3000), (2L, "hello world"), (3L, "b" * 1500)
  ).toDF("doc_id", "text")
  lazy val withPayload = Multimodal.withPayload(docs, "text")

  test("payload metadata derives from binary content (schema plumbing)") {
    val m = Multimodal.payloadMeta(docs, "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 3000L, 2L -> 11L, 3L -> 1500L))
  }

  test("decodePartitions emits one typed record per payload, iterator-safe") {
    val out = Multimodal.decodePartitions(spark, withPayload, "doc_id").collect()
    assert(out.length == 3)
    val rec = out.find(_.doc_id == 2L).get
    assert(rec.n_bytes == 11L && rec.features.length == 8)
    assert(rec.features.forall(f => f >= 0f && f < 1f))
    // determinism: same payload -> same features
    val again = Multimodal.decodePartitions(spark, withPayload, "doc_id")
      .collect().find(_.doc_id == 2L).get
    assert(rec.features.toSeq == again.features.toSeq)
  }

  test("resizePartitions output scales with requested dims") {
    val small = Multimodal.resizePartitions(spark, withPayload, "doc_id", 8, 8)
      .collect().map(r => r.doc_id -> r.payload.length).toMap
    val large = Multimodal.resizePartitions(spark, withPayload, "doc_id", 64, 64)
      .collect().map(r => r.doc_id -> r.payload.length).toMap
    assert(small(1L) == 1)      // 8*8/64 = 1 byte
    assert(large(1L) == 64)     // 64*64/64 = 64 bytes
    assert(large(2L) == 11)     // capped at source length
  }

  lazy val pngBytes: Array[Byte] = {
    val in = getClass.getResourceAsStream("/graft/gradient_16x16.png")
    try in.readAllBytes() finally in.close()
  }

  test("decodePartitions really decodes the committed PNG fixture (javax.imageio)") {
    val df = Seq((10L, pngBytes), (11L, "not an image".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val out = Multimodal.decodePartitions(spark, df, "doc_id")
      .collect().map(r => r.doc_id -> r).toMap
    val png = out(10L)
    assert(png.format == "image/png")
    assert(png.n_bytes == pngBytes.length.toLong)
    // fixture is a horizontal R gradient (R = x*16): stripe luminance
    // must strictly increase left to right — only true for real pixels
    assert(png.features.length == 8)
    assert(png.features.sliding(2).forall(p => p(0) < p(1)), png.features.toSeq)
    // non-image payload falls back to the stub kernel, same schema
    assert(out(11L).format == "text/plain" && out(11L).features.length == 8)
  }

  test("resizePartitions really resamples the PNG: output re-decodes at target dims") {
    val df = Seq((10L, pngBytes)).toDF("doc_id", "payload")
    val out = Multimodal.resizePartitions(spark, df, "doc_id", 4, 6).collect().head
    assert(out.width == 4 && out.height == 6)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(out.payload))
    assert(img != null, "resized payload is not a decodable image")
    assert(img.getWidth == 4 && img.getHeight == 6)
    // gradient preserved through the bilinear resample: right column
    // redder than left
    def red(x: Int) = (img.getRGB(x, 3) >> 16) & 0xff
    assert(red(3) > red(0), s"${red(0)} !< ${red(3)}")
  }

  /** 16-bit PCM mono WAV built with the same JDK API the decoder uses —
    * a true container round-trip, not byte-twiddling: write with
    * AudioSystem, read back with decodeWavSamples. */
  def wavBytes(samples: Array[Short], sampleRate: Float = 8000f): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val fmt = new AudioFormat(sampleRate, 16, 1, true, false)
    val data = new Array[Byte](samples.length * 2)
    samples.indices.foreach { i =>
      data(2 * i) = (samples(i) & 0xff).toByte
      data(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
    }
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("decodePartitions really decodes WAV PCM (javax.sound.sampled)") {
    // first half: full-scale square wave (|amp| = 1); second half:
    // silence — temporal stripes must read ~1 then ~0, which only
    // happens if the PCM frames were actually decoded
    val n = 8000
    val loud = Array.tabulate(n / 2)(i =>
      (if (i % 2 == 0) Short.MaxValue else (-Short.MaxValue).toShort))
    val quiet = Array.fill(n / 2)(0.toShort)
    val df = Seq((20L, wavBytes(loud ++ quiet)),
      (21L, ("RIFF" + "x" * 20).getBytes("UTF-8"))) // sniff passes, corrupt
      .toDF("doc_id", "payload")
    val out = Multimodal.decodePartitions(spark, df, "doc_id")
      .collect().map(r => r.doc_id -> r).toMap
    val wav = out(20L)
    assert(wav.format == "audio/wav")
    assert(wav.features.length == 8)
    assert(wav.features.take(4).forall(f => f > 0.95f), wav.features.toSeq)
    assert(wav.features.drop(4).forall(f => f < 0.05f), wav.features.toSeq)
    // corrupt RIFF container degrades to the stub kernel, never throws
    assert(out(21L).format == "text/plain" && out(21L).features.length == 8)
  }

  test("WAV decode normalizes multi-channel and 8-bit unsigned PCM") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // stereo 8-bit unsigned: L = full-scale, R = silence -> mono mean
    // amplitude ~0.5 in every stripe
    val n = 1000
    val fmt = new AudioFormat(8000f, 8, 2, false, false)
    val data = new Array[Byte](n * 2)
    (0 until n).foreach { i =>
      data(2 * i) = (if (i % 2 == 0) 0xff else 0x00).toByte // L: +-full
      data(2 * i + 1) = 0x80.toByte                         // R: center
    }
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, n.toLong),
      AudioFileFormat.Type.WAVE, bos)
    val samples = Multimodal.decodeWavSamples(bos.toByteArray)
    assert(samples.isDefined)
    val s = samples.get
    assert(s.length == n)
    // mono average of (+-~1, 0) alternates around +-0.5
    assert(math.abs(s.map(math.abs).sum / s.length - 0.5) < 0.02)
  }

  test("sampleFramesPartitions flatMaps payloads to frame records") {
    val frames = Multimodal.sampleFramesPartitions(spark, withPayload,
      "doc_id", frameBytes = 1024, everyNth = 1).collect()
    val byDoc = frames.groupBy(_.doc_id)
    assert(byDoc(1L).map(_.frame_idx).sorted.toSeq == Seq(0, 1)) // 3000B -> 2 frames
    assert(byDoc(2L).map(_.frame_idx).toSeq == Seq(0)) // tiny payload, 1 frame
    assert(byDoc(1L).find(_.frame_idx == 1).get.offset == 1024L)
    assert(byDoc(1L).find(_.frame_idx == 1).get.frame.length == 1024)
  }

  /** JPEG of a uniform-color 16×16 frame via the JDK writer. */
  def jpegBytes(r: Int, g: Int, b: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (r << 16) | (g << 8) | b
    for (y <- 0 until 16; x <- 0 until 16) img.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** Minimal MJPEG AVI: RIFF('AVI ') wrapping LIST('movi') of 00dc
    * frame chunks (+ an idx1 chunk the demuxer must skip). Same byte
    * layout every AVI muxer writes; headers (hdrl) are omitted — the
    * frame walk doesn't need them and real-world truncated files often
    * lack trailers, which the parser must tolerate anyway. */
  def aviBytes(frames: Seq[Array[Byte]]): Array[Byte] = {
    def le32(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(id: String, data: Array[Byte]): Array[Byte] =
      id.getBytes("US-ASCII") ++ le32(data.length) ++ data ++
        (if (data.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray)
    val movi = "movi".getBytes("US-ASCII") ++
      frames.flatMap(f => chunk("00dc", f)).toArray
    val idx = chunk("idx1", Array.fill(16)(0.toByte))
    val body = "AVI ".getBytes("US-ASCII") ++ chunk("LIST", movi) ++ idx
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  test("AVI/MJPEG demux is real: sampled frames decode as the muxed JPEGs") {
    // 5 frames with increasing brightness; sample every 2nd -> 0, 2, 4
    val frames = (0 until 5).map(i => jpegBytes(i * 50, i * 50, i * 50))
    val avi = aviBytes(frames)
    val df = Seq((30L, avi)).toDF("doc_id", "payload")
    val out = Multimodal.sampleFramesPartitions(spark, df, "doc_id",
      everyNth = 2).collect().sortBy(_.frame_idx)
    assert(out.map(_.frame_idx).toSeq == Seq(0, 2, 4))
    // offsets are the real container positions: strictly increasing and
    // frame-sized apart, not frameBytes-stride multiples
    assert(out.map(_.offset).toSeq == out.map(_.offset).sorted.toSeq)
    assert(out.head.frame.toSeq == frames(0).toSeq) // exact chunk payload
    // every sampled frame re-decodes through the JDK image path at the
    // muxed dimensions and brightness order — only true for real demux
    val imgs = out.map(f => Multimodal.decodeImage(f.frame).get)
    assert(imgs.forall(i => i.getWidth == 16 && i.getHeight == 16))
    val lum = imgs.map(i => Multimodal.lumaStripes(i).sum)
    assert(lum.sliding(2).forall(p => p(0) < p(1)), lum.toSeq)
  }

  /** Mux helpers moved to the library (graft.operators.Mp4Mux) when the
    * q151 declared query started muxing real avc1 fixtures; the spec
    * keeps thin aliases so its fixture-building reads unchanged. */
  import graft.operators.Mp4Mux.{be16, box, spsNal, avcCBox, visualEntryFields, mp4Bytes}

  test("MP4 demux is real: sampled frames decode as the muxed JPEGs") {
    // 5 frames, increasing brightness, split 2+3 across chunks;
    // sample every 2nd -> 0, 2, 4 (one from chunk 1, two from chunk 2)
    val frames = (0 until 5).map(i => jpegBytes(i * 50, i * 50, i * 50))
    val mp4 = mp4Bytes(frames)
    val df = Seq((50L, mp4)).toDF("doc_id", "payload")
    val out = Multimodal.sampleFramesPartitions(spark, df, "doc_id",
      everyNth = 2).collect().sortBy(_.frame_idx)
    assert(out.map(_.frame_idx).toSeq == Seq(0, 2, 4))
    assert(out.map(_.offset).toSeq == out.map(_.offset).sorted.toSeq)
    assert(out.head.frame.toSeq == frames(0).toSeq) // exact sample bytes
    // every sampled frame re-decodes at muxed dims in brightness order —
    // only true if the stsz/stsc/stco reconstruction found true spans
    val imgs = out.map(f => Multimodal.decodeImage(f.frame).get)
    assert(imgs.forall(i => i.getWidth == 16 && i.getHeight == 16))
    val lum = imgs.map(i => Multimodal.lumaStripes(i).sum)
    assert(lum.sliding(2).forall(p => p(0) < p(1)), lum.toSeq)
  }

  test("MP4 decode: MJPEG first-frame features; H.264 degrades to demux metadata") {
    val mjpeg = mp4Bytes(Seq(jpegBytes(200, 200, 200), jpegBytes(0, 0, 0)))
    // "avc1" samples are NAL units the JDK can't decode: fake payloads
    val h264 = mp4Bytes(Seq(Array.fill(100)(7.toByte), Array.fill(80)(8.toByte),
      Array.fill(90)(5.toByte)), codec = "avc1", timescale = 600, duration = 1800)
    val truncated = mp4Bytes(Seq(jpegBytes(9, 9, 9))).take(40) // lying sizes
    val df = Seq((60L, mjpeg), (61L, h264), (62L, truncated))
      .toDF("doc_id", "payload")
    val out = Multimodal.decodePartitions(spark, df, "doc_id")
      .collect().map(r => r.doc_id -> r).toMap
    // MJPEG-in-MP4: first-frame PIXEL features (~200/256), real decode
    assert(out(60L).format == "video/mp4")
    assert(out(60L).features.forall(f => math.abs(f - 200f / 256f) < 0.05f),
      out(60L).features.toSeq)
    // H.264: metadata-only — codec id surfaced, features carry the real
    // sample count (3/1e6), duration (3s/3600), fps (1/1000), not pixels
    assert(out(61L).format == "video/mp4;codec=avc1")
    val f61 = out(61L).features
    assert(math.abs(f61(0) - 3e-6f) < 1e-9f, f61.toSeq)       // 3 samples
    assert(math.abs(f61(1) - (3.0 / 3600).toFloat) < 1e-6f)   // 3 sec
    assert(math.abs(f61(2) - 1e-3f) < 1e-6f)                  // 1 fps
    // truncated container degrades to the stub kernel, never throws
    assert(out(62L).format == "text/plain")
  }

  test("avc1 metadata: avcC profile/level surface; SPS dims override the entry") {
    // sample entry DECLARES 640x360, but the embedded SPS codes 320x240
    // (20×15 macroblocks) — the SPS is authoritative when it parses
    val sps = spsNal(profile = 66, level = 30, widthMbs = 20,
      heightMapUnits = 15)
    val entry = visualEntryFields(640, 360) ++ avcCBox(66, 30, sps)
    val h264 = mp4Bytes(Seq(Array.fill(100)(7.toByte), Array.fill(80)(8.toByte)),
      codec = "avc1", timescale = 600, duration = 1200, entryExtra = entry)
    val t = Multimodal.mp4VideoTrack(h264).get
    assert(t.codec == "avc1" && t.profile == 66 && t.level == 30, t)
    assert(t.width == 320 && t.height == 240, t)
    // end-to-end: the metadata decode reports them next to the codec id
    val out = Multimodal.decodePartitions(spark,
      Seq((63L, h264)).toDF("doc_id", "payload"), "doc_id").collect().head
    assert(out.format == "video/mp4;codec=avc1;w=320;h=240;profile=66;level=30",
      out.format)
  }

  test("avc1 metadata: truncated avcC degrades to the declared entry dims") {
    // avcC claims a 200-byte SPS the box doesn't hold: profile/level
    // still parse (fixed header), dims fall back to the sample entry
    val bogusAvcc = box("avcC", Array(1.toByte, 77.toByte, 0.toByte,
      41.toByte, 0xff.toByte, 0xe1.toByte) ++ be16(200) ++
      Array.fill(4)(0x99.toByte))
    val entry = visualEntryFields(1280, 720) ++ bogusAvcc
    val h264 = mp4Bytes(Seq(Array.fill(64)(1.toByte)), codec = "avc1",
      entryExtra = entry)
    val t = Multimodal.mp4VideoTrack(h264).get
    assert(t.profile == 77 && t.level == 41, t)
    assert(t.width == 1280 && t.height == 720, t)
    // minimal 8-byte entry (the older fixtures): nothing to report, and
    // the format string stays exactly as before
    val bare = mp4Bytes(Seq(Array.fill(64)(1.toByte)), codec = "avc1")
    val bt = Multimodal.mp4VideoTrack(bare).get
    assert(bt.width == 0 && bt.profile == 0, bt)
  }

  test("spsDimensions: cropped 1080p, high-profile branch, interlaced, junk") {
    // 1920x1088 coded, bottom-cropped to 1080: 120×68 MBs, crop_bottom=4
    // (4:2:0 frame crop unit is 2 vertically)
    val sps1080 = spsNal(profile = 100, level = 40, widthMbs = 120,
      heightMapUnits = 68, crop = (0, 0, 0, 4))
    assert(Multimodal.spsDimensions(sps1080).contains((1920, 1080)))
    // baseline uncropped 320x240
    assert(Multimodal.spsDimensions(
      spsNal(66, 30, 20, 15)).contains((320, 240)))
    // interlaced (frame_mbs_only=0): map units are field pairs — 480i is
    // 30 map units tall, and the vertical crop unit doubles
    assert(Multimodal.spsDimensions(
      spsNal(77, 30, 45, 15, frameMbsOnly = 0)).contains((720, 480)))
    // junk and non-SPS NALs: None, never a throw
    assert(Multimodal.spsDimensions(Array[Byte](0x67, 0x00)).isEmpty)
    assert(Multimodal.spsDimensions("not a nal".getBytes).isEmpty)
    assert(Multimodal.spsDimensions(Array.fill(20)(0xff.toByte)).isEmpty)
  }

  test("hostile fixed-size stsz count cannot size a multi-GB allocation") {
    // a crafted ~250-byte MP4 declaring fixed sample_size=1000 and
    // sample_count=Int.MaxValue would, unbounded, allocate an 8 GB int
    // array — an OutOfMemoryError no NonFatal handler catches. The
    // demux must bound the count by what the payload can physically
    // hold (bytes.length / fixed) and degrade, never kill the task.
    def be32(v: Int): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(t: String, data: Array[Byte]): Array[Byte] =
      be32(8 + data.length) ++ t.getBytes("US-ASCII") ++ data
    def full(t: String, data: Array[Byte]): Array[Byte] =
      box(t, be32(0) ++ data)
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be32(0x200))
    val stsd = full("stsd", be32(1) ++
      box("jpeg", Array.fill(6)(0.toByte) ++ Array(0.toByte, 1.toByte)))
    val stsz = full("stsz", be32(1000) ++ be32(Int.MaxValue)) // hostile
    val stsc = full("stsc", be32(1) ++ be32(1) ++ be32(1) ++ be32(1))
    val stco = full("stco", be32(1) ++ be32(0))
    val stbl = box("stbl", stsd ++ stsz ++ stsc ++ stco)
    val mdhd = full("mdhd", be32(0) ++ be32(0) ++ be32(600) ++ be32(600) ++
      Array(0x55.toByte, 0xc4.toByte, 0.toByte, 0.toByte))
    val hdlr = full("hdlr", be32(0) ++ "vide".getBytes("US-ASCII") ++
      Array.fill(13)(0.toByte))
    val hostile = ftyp ++ box("moov", box("trak",
      box("mdia", mdhd ++ hdlr ++ box("minf", stbl))))
    // completes instantly with a bounded (here empty-ish) sample table
    val t = Multimodal.mp4VideoTrack(hostile)
    assert(t.forall(_.spans.length <= hostile.length / 1000))
    // and the full decode path degrades without throwing
    val out = Multimodal.decodePartitions(spark,
      Seq((70L, hostile)).toDF("doc_id", "payload"), "doc_id").collect()
    assert(out.length == 1)
  }

  test("mp4VideoTrack surfaces mdhd timing and exact sample spans") {
    val frames = Seq(Array.fill(10)(1.toByte), Array.fill(20)(2.toByte),
      Array.fill(30)(3.toByte))
    val t = Multimodal.mp4VideoTrack(mp4Bytes(frames,
      timescale = 90000, duration = 270000)).get
    assert(t.codec == "jpeg" && t.timescale == 90000L && t.duration == 270000L)
    assert(t.spans.map(_._2).toSeq == Seq(10, 20, 30))
    // spans point at the true mdat bytes
    val mp4 = mp4Bytes(frames, timescale = 90000, duration = 270000)
    val payload = t.spans.map { case (off, len) =>
      java.util.Arrays.copyOfRange(mp4, off.toInt, off.toInt + len) }
    assert(payload(1).forall(_ == 2.toByte))
    // non-MP4 bytes: no track, no throw
    assert(Multimodal.mp4VideoTrack("random junk bytes".getBytes).isEmpty)
  }

  test("decodePartitions extracts video features from the first AVI frame") {
    // bright first frame: features must reflect ITS pixels (~200/256),
    // not any byte checksum
    val avi = aviBytes(Seq(jpegBytes(200, 200, 200), jpegBytes(0, 0, 0)))
    val corrupt = aviBytes(Seq("not a jpeg".getBytes("UTF-8")))
    val df = Seq((40L, avi), (41L, corrupt)).toDF("doc_id", "payload")
    val out = Multimodal.decodePartitions(spark, df, "doc_id")
      .collect().map(r => r.doc_id -> r).toMap
    assert(out(40L).format == "video/x-msvideo")
    assert(out(40L).features.forall(f => math.abs(f - 200f / 256f) < 0.05f),
      out(40L).features.toSeq)
    // an AVI whose frames don't decode degrades to the stub, never throws
    assert(out(41L).format == "text/plain")
  }

  test("videoTrackMeta: avc1 fixture round-trips SPS truth, decoy entry dims never surface") {
    // id 45: profile 66 (45%3=0), level 31 (45%4=1), 25×13 mb grid,
    // crop fires (45%5=0) → 400−4 × 208−2; id 7: profile 77, no crop
    val good = Seq(45L, 7L).map(id => (id, operators.Mp4Mux.avc1Fixture(id)))
    val junk = Seq((90L, "not an mp4 at all".getBytes("UTF-8")),
      (91L, null.asInstanceOf[Array[Byte]]))
    val df = (good ++ junk).toDF("doc_id", "payload")
    val out = Multimodal.videoTrackMeta(spark, df, "doc_id")
      .collect().map(r => r.doc_id -> r).toMap
    assert(out.keySet == Set(45L, 7L)) // non-MP4 rows emit nothing
    val m45 = out(45L)
    assert(m45.codec == "avc1" && m45.avc_profile == 66 && m45.avc_level == 31)
    assert(m45.width == (10 + 45 % 30) * 16 - 4 &&
      m45.height == (8 + 45 % 20) * 16 - 2, m45)
    assert(m45.n_frames == 1 && m45.duration_ms == 1000)
    val m7 = out(7L)
    assert(m7.width == 17 * 16 && m7.height == 15 * 16 && m7.n_frames == 2, m7)
    // neither recovered a 640×360 — the SPS parse, not the entry decoy
    assert(Seq(m45, m7).forall(m => m.width != 640 && m.height != 360))
  }

  def dHashOf(bytes: Array[Byte]): Long =
    Multimodal.dHash64(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes)))

  test("dHash: fixture twins near, unrelated images far, JPEG re-encode stays near") {
    val base = dHashOf(Multimodal.pngFixture(20))
    val twin = dHashOf(Multimodal.pngFixture(21)) // 21 ≡ 1 mod 10 → twin of 20
    val hamTwin = java.lang.Long.bitCount(base ^ twin)
    assert(hamTwin <= 3, s"twin hamming $hamTwin")
    val other = dHashOf(Multimodal.pngFixture(30))
    val hamOther = java.lang.Long.bitCount(base ^ other)
    assert(hamOther > 10, s"unrelated hamming $hamOther")
    // CONTENT hash, not encoding hash: a lossy JPEG re-encode changes
    // every byte of the file (md5 breaks) but the gradient structure
    // survives — the property perceptual dedup exists for
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.pngFixture(20)))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val jpeg = bos.toByteArray
    assert(!java.util.Arrays.equals(jpeg, Multimodal.pngFixture(20)))
    val hamJpeg = java.lang.Long.bitCount(base ^ dHashOf(jpeg))
    assert(hamJpeg <= 3, s"jpeg re-encode hamming $hamJpeg")
  }

  test("direct WAV PCM parse is bit-identical to the javax.sound path") {
    // the lock-free chunk walk must agree with AudioSystem sample for
    // sample on everything it accepts: 16-bit mono (fixture), 8-bit
    // unsigned mono, 16-bit stereo (channel mean)
    def wav(bits: Int, channels: Int, frames: Seq[Seq[Int]]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      def w32(v: Int): Unit = (0 to 3).foreach(i => bos.write((v >> (8 * i)) & 0xff))
      def w16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
      val bps = bits / 8
      val dataLen = frames.length * bps * channels
      bos.write("RIFF".getBytes("US-ASCII")); w32(36 + dataLen)
      bos.write("WAVE".getBytes("US-ASCII"))
      bos.write("fmt ".getBytes("US-ASCII")); w32(16)
      w16(1); w16(channels); w32(8000); w32(8000 * bps * channels)
      w16(bps * channels); w16(bits)
      bos.write("data".getBytes("US-ASCII")); w32(dataLen)
      frames.foreach(_.foreach { v =>
        (0 until bps).foreach(i => bos.write((v >> (8 * i)) & 0xff))
      })
      bos.toByteArray
    }
    val cases = Seq(
      Multimodal.wavFixture(7),
      wav(8, 1, Seq(Seq(0), Seq(128), Seq(255), Seq(64))),
      wav(16, 2, Seq(Seq(1000, -1000), Seq(-32768, 32767), Seq(0, 5))))
    cases.zipWithIndex.foreach { case (b, i) =>
      val direct = Multimodal.decodeWavPcmDirect(b)
      val via = Multimodal.decodeWavViaAudioSystem(b)
      assert(direct.isDefined && via.isDefined, s"case $i")
      assert(direct.get.toSeq == via.get.toSeq, s"case $i diverged")
    }
    // non-PCM format tag: the direct parser declines (fallback path)
    val alaw = {
      val b = wav(16, 1, Seq(Seq(5)))
      b(20) = 6; b // format tag 6 = a-law
    }
    assert(Multimodal.decodeWavPcmDirect(alaw).isEmpty)
  }

  test("audio envelope hash: twins near, unrelated far, gain-invariant, junk drops") {
    def hashOf(bytes: Array[Byte]): Long =
      Multimodal.audioEnvelopeHash64(
        Multimodal.decodeWavSamples(bytes).get)
    val base = hashOf(Multimodal.wavFixture(20))
    val twin = hashOf(Multimodal.wavFixture(21))
    assert(java.lang.Long.bitCount(base ^ twin) <= 3)
    val other = hashOf(Multimodal.wavFixture(30))
    assert(java.lang.Long.bitCount(base ^ other) > 10)
    // CONTENT hash: a −6 dB gain rewrite changes every sample byte but
    // the loudness CONTOUR (adjacent-segment comparisons) survives —
    // integer halving can tie adjacent near-equal amplitudes, so allow
    // the couple of bits that costs
    val halved = {
      val src = Multimodal.decodeWavSamples(Multimodal.wavFixture(20)).get
      val bos = new java.io.ByteArrayOutputStream()
      def w32(v: Int): Unit = (0 to 3).foreach(i => bos.write((v >> (8 * i)) & 0xff))
      def w16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
      bos.write("RIFF".getBytes("US-ASCII")); w32(36 + src.length * 2)
      bos.write("WAVE".getBytes("US-ASCII"))
      bos.write("fmt ".getBytes("US-ASCII")); w32(16)
      w16(1); w16(1); w32(8000); w32(16000); w16(2); w16(16)
      bos.write("data".getBytes("US-ASCII")); w32(src.length * 2)
      src.foreach(v => w16(((v * 32768).toInt / 2) & 0xffff))
      bos.toByteArray
    }
    assert(java.lang.Long.bitCount(base ^ hashOf(halved)) <= 3,
      "gain rewrite must not move the contour hash")
    // sub-65-sample and non-audio payloads drop, never throw
    val df = Seq((1L, Multimodal.wavFixture(1)),
      (2L, "not audio".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val kept = Multimodal.audioEnvelopeHashes(spark, df, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L))
  }

  test("video first-frame hash rides the real demux: decoy frame never surfaces") {
    val avi = Multimodal.aviFixture(20)
    // the container walk must hand frame 0 to the hasher: hash equals
    // dHash of the content grid exactly, and differs from the decoy
    val direct = Multimodal.videoKeyFrame(avi).map(Multimodal.dHash64).get
    val hashes = Multimodal.videoFrameHashes(spark,
        Seq((20L, avi), (99L, "junk".getBytes("UTF-8")))
          .toDF("doc_id", "payload"), "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(hashes == Map(20L -> direct))
    assert(direct != 0L, "decoy (constant frame) would hash to 0")
    // twins through the full pipeline
    val rows = (0L until 40L).map(id => (id, Multimodal.aviFixture(id)))
    val pairs = Multimodal.videoNearDup(spark,
        rows.toDF("doc_id", "payload"), "doc_id")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L), (10L, 11L), (20L, 21L), (30L, 31L)), pairs)
  }

  test("MJPEG-in-MP4: real JPEG samples demux through the sample table, " +
      "walk bits recovered exactly, decoy sample never surfaces") {
    val mp4 = Multimodal.mjpegFixture(20)
    // the mp4 sample-table walk must hand SAMPLE 0 to the hasher
    val direct = Multimodal.videoKeyFrame(mp4).map(Multimodal.dHash64).get
    val hashes = Multimodal.videoFrameHashes(spark,
        Seq((20L, mp4), (99L, "junk".getBytes("UTF-8")))
          .toDF("doc_id", "payload"), "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(hashes == Map(20L -> direct))
    assert(direct != 0L, "decoy (constant frame) would hash to 0")
    // the demux is REAL (spans come from stsz/stco, not a RIFF walk):
    // the first span's bytes are a standalone JPEG whose direct decode
    // hashes identically to the pipeline output
    val track = Multimodal.mp4VideoTrack(mp4).get
    assert(track.spans.length == 2, track.spans.length)
    val (off, len) = track.spans.head
    val frame0 = java.util.Arrays.copyOfRange(mp4, off.toInt, off.toInt + len)
    assert(frame0.take(2).map(_ & 0xff).toSeq == Seq(0xff, 0xd8), "not a JPEG SOI")
    assert(Multimodal.decodeImage(frame0).map(Multimodal.dHash64).contains(direct))
    // the LOSSY round-trip recovers the planted walk bits EXACTLY —
    // the load-bearing claim behind the oracle's md5%2 restatement
    val bit = Multimodal.walkBit("mjb", 20)
    val expected = (0 until 8).flatMap(r => (0 until 8).map(c =>
      if (bit(r, c) == 1) 1L << (r * 8 + c) else 0L)).sum
    assert(direct == expected,
      f"JPEG quantization flipped a gradient bit: $direct%x vs $expected%x")
    // twins through the full pipeline (ids ≡ 1 mod 10, Hamming ≤ 3)
    val rows = (0L until 40L).map(id => (id, Multimodal.mjpegFixture(id)))
    val pairs = Multimodal.videoNearDup(spark,
        rows.toDF("doc_id", "payload"), "doc_id")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L), (10L, 11L), (20L, 21L), (30L, 31L)), pairs)
  }

  test("MKV/EBML: V_MJPEG SimpleBlocks demux through the real EBML walk, " +
      "walk bits recovered exactly, decoy block never surfaces") {
    val mkv = Multimodal.mkvFixture(20)
    // the EBML cluster walk must hand BLOCK 0 to the hasher
    val direct = Multimodal.videoKeyFrame(mkv).map(Multimodal.dHash64).get
    val hashes = Multimodal.videoFrameHashes(spark,
        Seq((20L, mkv), (99L, "junk".getBytes("UTF-8")))
          .toDF("doc_id", "payload"), "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(hashes == Map(20L -> direct))
    assert(direct != 0L, "decoy (constant frame) would hash to 0")
    // the demux is REAL: codec/dims recovered from TrackEntry, two
    // block spans, and span 0's bytes are a standalone JPEG whose
    // direct decode hashes identically to the pipeline output
    val track = Multimodal.mkvVideoTrack(mkv).get
    assert(track.codecId == "V_MJPEG" && track.width == 72 &&
      track.height == 64, track.toString)
    assert(track.spans.length == 2, track.spans.length)
    val (off, len) = track.spans.head
    val frame0 = java.util.Arrays.copyOfRange(mkv, off.toInt, off.toInt + len)
    assert(frame0.take(2).map(_ & 0xff).toSeq == Seq(0xff, 0xd8), "not a JPEG SOI")
    assert(Multimodal.decodeImage(frame0).map(Multimodal.dHash64).contains(direct))
    // the walk bits cross the lossy round-trip exactly — the oracle's
    // md5%2 restatement depends on it
    val bit = Multimodal.walkBit("mkv", 20)
    val expected = (0 until 8).flatMap(r => (0 until 8).map(c =>
      if (bit(r, c) == 1) 1L << (r * 8 + c) else 0L)).sum
    assert(direct == expected,
      f"JPEG quantization flipped a gradient bit: $direct%x vs $expected%x")
    // generic decode router reaches the MKV pixels too
    val dec = Multimodal.decodePartitions(spark,
      Seq((20L, mkv)).toDF("doc_id", "payload"), "doc_id").collect()
    assert(dec.length == 1 && dec.head.format == "video/x-matroska", dec.toSeq)
    // twins through the full pipeline (ids ≡ 1 mod 10, Hamming ≤ 3)
    val rows = (0L until 40L).map(id => (id, Multimodal.mkvFixture(id)))
    val pairs = Multimodal.videoNearDup(spark,
        rows.toDF("doc_id", "payload"), "doc_id")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L), (10L, 11L), (20L, 21L), (30L, 31L)), pairs)
  }

  test("H.264 I_PCM: conformant IDR slice parses back to exact DC grid, " +
      "walk bits recovered, twins pair, decoy/junk drop") {
    import graft.operators.Mp4Mux
    val mp4 = Mp4Mux.avc1PcmFixture(20)
    val track = Multimodal.mp4VideoTrack(mp4).get
    assert(track.codec == "avc1" && track.spans.length == 2)
    val (off, len) = track.spans.head
    val au = java.util.Arrays.copyOfRange(mp4, off.toInt, off.toInt + len)
    // bit-exact DC recovery: PCM is lossless, so each macroblock's DC
    // mean IS the planted walk value
    val (w, h, dc) = Multimodal.avcIntraDcGrid(au).get
    assert(w == 9 && h == 8)
    val v = Multimodal.walkValue(Multimodal.walkBit("avp", 20))
    (0 until 8).foreach(r => (0 until 9).foreach(c =>
      assert(dc(r * 9 + c) == v(r, c), s"DC ($r,$c)")))
    // the pipeline hash equals the planted gradient-bit assembly —
    // the load-bearing claim behind the oracle's md5%2 restatement
    val hashes = Multimodal.avcDcHashes(spark,
        Seq((20L, mp4), (99L, "junk".getBytes("UTF-8")))
          .toDF("doc_id", "payload"), "doc_id")
      .as[(Long, Long)].collect().toMap
    val bit = Multimodal.walkBit("avp", 20)
    val expected = (0 until 8).flatMap(r => (0 until 8).map(c =>
      if (bit(r, c) == 1) 1L << (r * 8 + c) else 0L)).sum
    assert(hashes == Map(20L -> expected), hashes.toString)
    // twins through the full pipeline (ids ≡ 1 mod 10, Hamming ≤ 3)
    val rows = (0L until 40L).map(id => (id, Mp4Mux.avc1PcmFixture(id)))
    val pairs = Multimodal.avcNearDup(spark,
        rows.toDF("doc_id", "payload"), "doc_id")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L), (10L, 11L), (20L, 21L), (30L, 31L)), pairs)
  }

  test("H.264 I_PCM: emulation-prevention escaping round-trips and " +
      "zero-luma PCM (real EPB hits) parses; non-I_PCM degrades to None") {
    import graft.operators.Mp4Mux
    // crafted zero runs: every escape-class successor after 00 00
    val raw = Array[Byte](0, 0, 0, 0, 0, 1, 9, 0, 0, 2, 0, 0, 3, 7, 0, 0)
    val escaped = Mp4Mux.epbEscape(raw)
    assert(Multimodal.epbUnescape(escaped).toSeq == raw.toSeq)
    assert(escaped.length > raw.length, "EPB never fired on zero runs")
    // a slice whose PCM luma is ALL ZERO mints real 00 00 0x runs: the
    // writer must escape them and the reader must strip them, or the
    // recovered DC grid is garbage
    val sps = Mp4Mux.spsNal(66, 30, 9, 8)
    val pps = Mp4Mux.ppsNal()
    val slice = Mp4Mux.ipcmIdrNal(9, 8, (_, _) => 0)
    assert(slice.length > 1 + 72 * 384, "zero-luma slice must carry EPB")
    val au = Mp4Mux.be32(sps.length) ++ sps ++
      Mp4Mux.be32(pps.length) ++ pps ++
      Mp4Mux.be32(slice.length) ++ slice
    val (w, h, dc) = Multimodal.avcIntraDcGrid(au).get
    assert(w == 9 && h == 8 && dc.forall(_ == 0))
    // truncated / non-I_PCM inputs degrade, never throw
    assert(Multimodal.avcIntraDcGrid(au.take(40)).isEmpty)
    assert(Multimodal.avcIntraDcGrid("garbage".getBytes("UTF-8")).isEmpty)
  }

  test("H.264 CAVLC Intra_16x16 DC-only: entropy-coded IDR slice decodes " +
      "to the exact target grid; twins pair through the full pipeline") {
    import graft.operators.Mp4Mux
    val mp4 = Mp4Mux.avc1CavlcFixture(20)
    val track = Multimodal.mp4VideoTrack(mp4).get
    assert(track.codec == "avc1" && track.spans.length == 2)
    val (off, len) = track.spans.head
    val au = java.util.Arrays.copyOfRange(mp4, off.toInt, off.toInt + len)
    // the encoder reconstructs as it codes (DC pred + exact residual at
    // qp 16), so the decoded per-MB means equal the walk targets
    // bit-for-bit even though the stream is entropy-coded
    val (w, h, dc) = Multimodal.avcIntraDcGrid(au).get
    assert(w == 9 && h == 8)
    val v = Multimodal.walkValue(Multimodal.walkBit("avq", 20))
    (0 until 8).foreach(r => (0 until 9).foreach(c =>
      assert(dc(r * 9 + c) == v(r, c), s"DC ($r,$c): ${dc(r * 9 + c)} vs ${v(r, c)}")))
    // twins through the full pipeline (ids ≡ 1 mod 10, Hamming ≤ 3)
    val rows = (0L until 40L).map(id => (id, Mp4Mux.avc1CavlcFixture(id)))
    val pairs = Multimodal.avcNearDup(spark,
        rows.toDF("doc_id", "payload"), "doc_id")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L), (10L, 11L), (20L, 21L), (30L, 31L)), pairs)
  }

  test("H.264 CAVLC: mixed CAVLC-then-PCM slice decodes both branches; " +
      "PCM-neighbor nC and unsupported shapes refuse, never misread") {
    import graft.operators.Mp4Mux
    val sps = Mp4Mux.spsNal(66, 30, 9, 8)
    val pps = Mp4Mux.ppsNal()
    def auOf(slice: Array[Byte]): Array[Byte] =
      Mp4Mux.be32(sps.length) ++ sps ++
        Mp4Mux.be32(pps.length) ++ pps ++
        Mp4Mux.be32(slice.length) ++ slice
    // rows 0-3 entropy-coded, rows 4-7 I_PCM (PCM below CAVLC keeps
    // every CAVLC macroblock's neighbors CAVLC -> nC = 0 throughout)
    val target = (r: Int, c: Int) => 40 + 20 * r + 3 * c
    val mixed = Mp4Mux.intraDcIdrNal(9, 8, target, (r, _) => r >= 4)
    val (w, h, dc) = Multimodal.avcIntraDcGrid(auOf(mixed)).get
    assert(w == 9 && h == 8)
    (0 until 8).foreach(r => (0 until 9).foreach(c =>
      assert(dc(r * 9 + c) == target(r, c), s"($r,$c)")))
    // the encoder refuses the layout its coeff_token table cannot
    // express (a CAVLC macroblock after an I_PCM one)
    intercept[IllegalArgumentException] {
      Mp4Mux.intraDcIdrNal(2, 1, (_, _) => 100, (_, c) => c == 0)
    }
    // ...and a hand-built stream in exactly that layout must decode to
    // None (the PCM neighbor's 16-coefficient count selects a
    // coeff_token column the reader does not carry): 2x1 grid, MB0
    // I_PCM, MB1 Intra_16x16 DC-only
    val bw = new Mp4Mux.BitWriter
    bw.ue(0).ue(7).ue(0).u(0, 4).ue(0).u(0, 4).u(0, 1).u(0, 1).se(16 - 26)
    bw.ue(25).align()
    (0 until 256).foreach(_ => bw.u(70, 8))
    (0 until 128).foreach(_ => bw.u(128, 8))
    bw.ue(3).ue(0).se(0).u(1, 1) // CAVLC MB, tc = 0
    bw.u(1, 1) // rbsp stop
    val sps21 = Mp4Mux.spsNal(66, 30, 2, 1)
    val bad = Array(0x65.toByte) ++ Mp4Mux.epbEscape(bw.toBytes)
    val auBad = Mp4Mux.be32(sps21.length) ++ sps21 ++
      Mp4Mux.be32(pps.length) ++ pps ++
      Mp4Mux.be32(bad.length) ++ bad
    assert(Multimodal.avcIntraDcGrid(auBad).isEmpty)
    // decoder-only paths the fixture encoder never emits: a trailing-one
    // ±1 coefficient at qp 40 exercises the (1,1) coeff_token code, the
    // qp >= 36 dequant branch, and slice-qp tracking — dcY = 256,
    // residual (256+32)>>6 = 4 over pred 128
    val bw2 = new Mp4Mux.BitWriter
    bw2.ue(0).ue(7).ue(0).u(0, 4).ue(0).u(0, 4).u(0, 1).u(0, 1).se(40 - 26)
    bw2.ue(3).ue(0).se(0)
    bw2.u(1, 2) // coeff_token (1,1): '01'
    bw2.u(0, 1) // trailing one sign: +1
    bw2.u(1, 1) // total_zeros = 0
    bw2.u(1, 1) // rbsp stop
    val sps11 = Mp4Mux.spsNal(66, 30, 1, 1)
    val one = Array(0x65.toByte) ++ Mp4Mux.epbEscape(bw2.toBytes)
    val auOne = Mp4Mux.be32(sps11.length) ++ sps11 ++
      Mp4Mux.be32(pps.length) ++ pps ++
      Mp4Mux.be32(one.length) ++ one
    val (_, _, dc1) = Multimodal.avcIntraDcGrid(auOne).get
    assert(dc1.toSeq == Seq(132), dc1.toSeq)
  }

  test("imageNearDup: planted twins surface through the banding, junk rows drop") {
    val rows = (0L until 40L).map(id => (id, Multimodal.pngFixture(id))) :+
      (99L, "not an image at all".getBytes("UTF-8"))
    val df = rows.toDF("doc_id", "payload")
    val pairs = Multimodal.imageNearDup(spark, df, "doc_id")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // exactly the planted (10k, 10k+1) twins; the junk payload neither
    // pairs nor kills the task
    assert(pairs == Set((0L, 1L), (10L, 11L), (20L, 21L), (30L, 31L)), pairs)
    val hashes = Multimodal.imageDHashes(spark, df, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(!hashes.contains(99L) && hashes.size == 40)
  }
}

class IvfSpec extends SparkSpec {
  import spark.implicits._

  val corpus = (0 until 200).map { i =>
    (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
  }.toDF("vec_id", "embedding")

  test("persisted IVF index: partition-pruned query == in-memory ivfKnnWith") {
    import org.apache.spark.sql.functions.pmod
    val queries = corpus.filter(col("vec_id") < 3)
    val anchors = corpus
      .filter(pmod(col("vec_id"), lit(25)) === 0 && col("vec_id") < 25 * 8)
      .select(col("vec_id").as("cell_id"), col("embedding").as("anchor"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    Similarity.writeIvfIndex(anchors, corpus, dir)
    val indexed = Similarity.ivfKnnIndexed(spark, dir, anchors, queries, 5, nProbe = 3)
    val inMem = Similarity.ivfKnnWith(anchors, corpus, queries, 5, nProbe = 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Int)].collect().toSet
    assert(rows(indexed) == rows(inMem))
    // the scan must be statically partition-pruned to the probed cells,
    // not a full-corpus read
    val plan = indexed.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert("""cell_id.* IN \(""".r.findFirstIn(pf).isDefined, pf)
    // the probe assignment is materialized once: the executed plan
    // reads the checkpoint RDD, not a second copy of the assignment
    // subplan (whose signature is the array_sort over the broadcast
    // anchor array)
    assert(plan.contains("ExistingRDD"), plan.take(2000))
    assert(!plan.contains("array_sort"), plan.take(2000))
  }

  test("ivfKnn: probing all cells equals brute force; fewer cells is a subset") {
    val queries = corpus.filter(col("vec_id") < 3)
    val exact = Similarity.bruteForceKnn(corpus, queries, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val full = Similarity.ivfKnn(corpus, queries, 5, stride = 25, nCells = 8, nProbe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full == exact) // nProbe = nCells degenerates to exact search
    val approx = Similarity.ivfKnn(corpus, queries, 5, stride = 25, nCells = 8, nProbe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(approx).toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall")
  }
}
