package graft

import java.nio.file.{Files, Path}

import graft.operators.Multimodal
import graft.operators.Multimodal.{ContainerParser, MediaGen}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Real-container parsing specs: every fixture is a genuine byte-level
  * container written to disk and read back, including hand-built files that
  * do NOT come from [[MediaGen]] (APP0-prefixed JPEG, extension-laden GIF,
  * LIST-chunk WAV, BMP) so the parser is not just round-tripping its own
  * generator. Truncation/garbage must degrade to `unknown`, never throw.
  */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def viaFile(bytes: Array[Byte]): Array[Byte] = {
    val p: Path = Files.createTempFile("graft-media", ".bin")
    try { Files.write(p, bytes); Files.readAllBytes(p) }
    finally Files.deleteIfExists(p)
  }

  test("PNG: IHDR width/height round-trip through a real file") {
    val m = ContainerParser.parse(viaFile(MediaGen.png(641, 480)))
    assert(m == ContainerParser.Meta("png", 641, 480, 1, 0L))
    assert(MediaGen.png(641, 480).length == 45)
  }

  test("JPEG: SOF0 dims found behind APP0 and comment segments") {
    // Hand-built, not MediaGen: SOI + APP0(JFIF) + COM + SOF0 + EOI.
    def be16(v: Int) = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val app0 = Array(0xff, 0xe0).map(_.toByte) ++ be16(16) ++
      "JFIF".getBytes("US-ASCII") ++ Array[Byte](0, 1, 2, 0, 0, 1, 0, 1, 0, 0)
    val com = Array(0xff, 0xfe).map(_.toByte) ++ be16(7) ++ "hello".getBytes("US-ASCII")
    val sof = Array(0xff, 0xc2).map(_.toByte) ++ be16(11) ++ Array[Byte](8) ++
      be16(333) ++ be16(222) ++ Array[Byte](1, 1, 0x11, 0) // progressive SOF2
    val bytes = Array(0xff, 0xd8).map(_.toByte) ++ app0 ++ com ++ sof ++
      Array(0xff, 0xd9).map(_.toByte)
    val m = ContainerParser.parse(viaFile(bytes))
    assert(m == ContainerParser.Meta("jpeg", 222, 333, 1, 0L))
  }

  test("GIF: frame count walks extensions and local color tables") {
    // Hand-built: global color table + graphic-control extension per frame +
    // a frame with a local color table.
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    out.write("GIF89a".getBytes("US-ASCII"))
    out.write(le16(99)); out.write(le16(77))
    out.write(0x91) // GCT present, 4 entries (2^(1+1))
    out.write(0); out.write(0)
    out.write(Array.fill[Byte](3 * 4)(0x33)) // global color table
    for (i <- 0 until 3) {
      out.write(0x21); out.write(0xf9) // graphic control extension
      out.write(4); out.write(Array[Byte](0, 10, 0, 0)); out.write(0)
      out.write(0x2c)
      out.write(le16(0)); out.write(le16(0)); out.write(le16(99)); out.write(le16(77))
      if (i == 1) { out.write(0x81); out.write(Array.fill[Byte](3 * 4)(0x55)) } // LCT
      else out.write(0)
      out.write(2) // LZW min code size
      out.write(Array[Byte](2, 1, 1)) // one 2-byte sub-block
      out.write(0)
    }
    out.write(0x3b)
    val m = ContainerParser.parse(viaFile(out.toByteArray))
    assert(m == ContainerParser.Meta("gif", 99, 77, 3, 0L))
  }

  test("BMP: negative (top-down) height is reported by magnitude") {
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, (v >>> 24).toByte)
    val header = "BM".getBytes("US-ASCII") ++ le32(122) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(640) ++ le32(-360) ++ Array[Byte](1, 0, 24, 0) ++
      Array.fill[Byte](24)(0)
    val m = ContainerParser.parse(viaFile(header))
    assert(m == ContainerParser.Meta("bmp", 640, 360, 1, 0L))
  }

  test("WAV: duration from data size / byte rate, with a LIST chunk first") {
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, (v >>> 24).toByte)
    val list = "LIST".getBytes("US-ASCII") ++ le32(5) ++ "INFOx".getBytes("US-ASCII") ++
      Array[Byte](0) // odd-sized chunk: RIFF pads to even
    val fmt = "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(2) ++
      le32(44100) ++ le32(176400) ++ le16(4) ++ le16(16)
    val dataBytes = Array.fill[Byte](17640)(0x7f) // 17640 / 176400 B/s = 100 ms
    val data = "data".getBytes("US-ASCII") ++ le32(17640) ++ dataBytes
    val body = "WAVE".getBytes("US-ASCII") ++ list ++ fmt ++ data
    val bytes = "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
    val m = ContainerParser.parse(viaFile(bytes))
    assert(m == ContainerParser.Meta("wav", 0, 0, 0, 100L))
    // MediaGen's 8 kB/s PCM: 80 bytes -> 10 ms, and a 44-byte header
    assert(ContainerParser.parse(MediaGen.wav(80)).durationMs == 10L)
    assert(MediaGen.wav(80).length == 44 + 80)
  }

  test("WAV: crafted near-0xFFFFFFFF chunk sizes terminate, never spin") {
    def le32u(v: Long) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    // size 0xFFFFFFF8 read signed is -8: the old `pos += 8 + size` step
    // advanced by exactly 0 and the chunk walk hung the executor task
    val evil = "RIFF".getBytes("US-ASCII") ++ le32u(0xFFFFFFF8L) ++
      "WAVE".getBytes("US-ASCII") ++
      "junk".getBytes("US-ASCII") ++ le32u(0xFFFFFFF8L) ++ Array.fill[Byte](16)(0)
    assert(ContainerParser.parse(evil) == ContainerParser.Meta("wav", 0, 0, 0, 0L))
    // -9 exercises the odd-size pad byte path (step would have been -1 -> +0 net)
    val evilOdd = "RIFF".getBytes("US-ASCII") ++ le32u(0xFFFFFFF7L) ++
      "WAVE".getBytes("US-ASCII") ++
      "junk".getBytes("US-ASCII") ++ le32u(0xFFFFFFF7L) ++ Array.fill[Byte](16)(0)
    assert(ContainerParser.parse(evilOdd) == ContainerParser.Meta("wav", 0, 0, 0, 0L))
  }

  test("MP4: mvhd duration and tkhd dims round-trip through a real file") {
    val m = ContainerParser.parse(viaFile(MediaGen.mp4(1280, 720, 4321)))
    assert(m == ContainerParser.Meta("mp4", 1280, 720, 0, 4321L))
    assert(MediaGen.mp4(1280, 720, 4321).length == 236)
  }

  test("MP4: v1 boxes, largesize, and unread siblings are walked correctly") {
    // Hand-built, not MediaGen: free box first, moov with v1 mvhd (64-bit
    // times/duration) carried in a size==1 largesize box, v1 tkhd.
    def be16(v: Int) = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def be32(v: Int) = Array((v >>> 24).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def be64(v: Long) = be32((v >>> 32).toInt) ++ be32(v.toInt)
    def box(typ: String, payload: Array[Byte]) =
      be32(8 + payload.length) ++ typ.getBytes("US-ASCII") ++ payload
    val matrix = Array.fill(36)(0.toByte)
    // mvhd v1: ver 1/flags, 8+8 times, timescale 90000, 8-byte duration (2.5 s)
    val mvhdPayload = be32(0x01000000) ++ be64(0) ++ be64(0) ++ be32(90000) ++
      be64(225000L) ++ be32(0x00010000) ++ be16(0x0100) ++ be16(0) ++ be32(0) ++
      be32(0) ++ matrix ++ Array.fill(24)(0.toByte) ++ be32(2)
    // carry mvhd as a largesize box: size=1 + 64-bit size (header 16)
    val mvhdLarge = be32(1) ++ "mvhd".getBytes("US-ASCII") ++
      be64(16L + mvhdPayload.length) ++ mvhdPayload
    // tkhd v1: ver 1/flags, 8+8 times, track, reserved, 8-byte duration
    val tkhdPayload = be32(0x01000001) ++ be64(0) ++ be64(0) ++ be32(1) ++ be32(0) ++
      be64(225000L) ++ be64(0) ++ be16(0) ++ be16(0) ++ be16(0) ++ be16(0) ++
      matrix ++ be32(1920 << 16) ++ be32(1080 << 16)
    val moov = box("moov", mvhdLarge ++ box("iods", be32(0)) ++
      box("trak", box("tkhd", tkhdPayload)))
    val bytes = box("ftyp", "mp42".getBytes("US-ASCII") ++ be32(0)) ++
      box("free", Array.fill(5)(0.toByte)) ++ moov
    val m = ContainerParser.parse(viaFile(bytes))
    assert(m == ContainerParser.Meta("mp4", 1920, 1080, 0, 2500L))
  }

  test("MP4: crafted box sizes terminate with partial metadata, never throw or spin") {
    def be32(v: Int) = Array((v >>> 24).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    // a box claiming size 3 (< its own 8-byte header) must abort the walk
    val tiny = be32(16) ++ "ftyp".getBytes("US-ASCII") ++ Array.fill(8)(0.toByte) ++
      be32(3) ++ "moov".getBytes("US-ASCII")
    assert(ContainerParser.parse(tiny) == ContainerParser.Meta("mp4", 0, 0, 0, 0L))
    // a box overrunning the buffer stops cleanly too
    val overrun = be32(16) ++ "ftyp".getBytes("US-ASCII") ++ Array.fill(8)(0.toByte) ++
      be32(1 << 30) ++ "moov".getBytes("US-ASCII")
    assert(ContainerParser.parse(overrun) == ContainerParser.Meta("mp4", 0, 0, 0, 0L))
    // truncated mid-moov: dims were parsed before the cut are kept
    val full = MediaGen.mp4(640, 480, 1000)
    val cutMeta = ContainerParser.parse(full.take(60)) // inside mvhd
    assert(cutMeta.format == "mp4") // never throws
  }

  test("MP4: largesize near Long.MaxValue and co64 offset wrap never throw") {
    import graft.operators.Multimodal.{VideoDecoder, VideoGen}
    def be32(v: Int) = Array((v >>> 24).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def be64(v: Long) = be32((v >>> 32).toInt) ++ be32(v.toInt)
    // a 64-bit largesize close to Long.MaxValue: pos + size wraps negative
    // without overflow-safe guards, turning pos.toInt into a wild index
    val ftyp = be32(16) ++ "ftyp".getBytes("US-ASCII") ++
      "mp42".getBytes("US-ASCII") ++ be32(0)
    val wrap = ftyp ++ be32(1) ++ "moov".getBytes("US-ASCII") ++
      be64(Long.MaxValue - 7L) ++ Array.fill(32)(0.toByte)
    assert(VideoDecoder.frameSlices(wrap).isEmpty)
    assert(ContainerParser.parse(wrap).format == "mp4") // both walkers return
    // co64 chunk offset at Long.MaxValue: off + len wraps negative in the
    // slice loop; the bounds check must stop the walk, not emit a slice
    // whose truncated Int offset feeds Arrays.copyOfRange
    val mp4 = VideoGen.mp4Mjpeg(48, 32, 7, 42L, 0) // 3 chunks -> >=8 entry bytes
    val at = mp4.indices.find(i => i + 4 <= mp4.length &&
      mp4(i) == 's' && mp4(i + 1) == 't' && mp4(i + 2) == 'c' && mp4(i + 3) == 'o').get
    val c = mp4.clone()
    "co64".getBytes("US-ASCII").copyToArray(c, at)
    be32(0x7fffffff).copyToArray(c, at + 12) // entry 0 high word
    be32(0xffffffff).copyToArray(c, at + 16) // entry 0 low word -> Long.MaxValue
    assert(VideoDecoder.frameSlices(c).isEmpty)
    VideoDecoder.sampleFrames(c) // returns (no frames), never throws
  }

  test("withBinaryPayload coalesces NULL text instead of NPEing in the UDF") {
    import spark.implicits._
    val docs = Seq((1L, Option("a" * 20)), (2L, None: Option[String])).toDF("doc_id", "text")
    val feats = Multimodal.extractFeatures(Multimodal.withBinaryPayload(docs))
      .orderBy("doc_id").collect()
    assert(feats.length == 2)
    assert(feats(0).getAs[String]("format") == "png")
    assert(feats(1).getAs[Int]("payload_len") > 0, "null text must still carry a payload")
  }

  test("garbage, truncation, and signature-only inputs degrade to unknown") {
    val png = MediaGen.png(100, 100)
    val gif = MediaGen.gif(50, 50, 4)
    assert(ContainerParser.parse(Array.emptyByteArray) == ContainerParser.Unknown)
    assert(ContainerParser.parse("not a container".getBytes("UTF-8")) == ContainerParser.Unknown)
    assert(ContainerParser.parse(png.take(12)) == ContainerParser.Unknown)
    assert(ContainerParser.parse(Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte)) ==
      ContainerParser.Unknown) // SOI+EOI, no SOF
    // GIF truncated mid-stream keeps the frames seen so far, dims intact
    val cut = ContainerParser.parse(gif.take(13 + 14 * 2 + 3))
    assert(cut.format == "gif" && cut.width == 50 && cut.nFrames == 2)
  }

  test("extractFeatures parses synthesized containers distributedly; q30 formulas hold") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a" * 20), // 20 % 5 == 0 -> png
      (2L, "b" * 16), // 16 % 5 == 1 -> jpeg
      (3L, "c" * 17), // 17 % 5 == 2 -> gif, 1 + 17%24 = 18 frames
      (4L, "d" * 18), // 18 % 5 == 3 -> wav, 1 + 18%40 = 19 ms
      (5L, "e" * 19)  // 19 % 5 == 4 -> mp4, 1 + 19%5000 = 20 ms
    ).toDF("doc_id", "text")
    val feats = Multimodal.extractFeatures(Multimodal.withBinaryPayload(docs))
      .orderBy("doc_id").collect()
    assert(feats.map(_.getAs[String]("format")).toSeq == Seq("png", "jpeg", "gif", "wav", "mp4"))
    val gifRow = feats(2)
    assert(gifRow.getAs[Int]("width") == 64 + 17 % 640)
    assert(gifRow.getAs[Int]("height") == 64 + (17 * 7) % 480)
    assert(gifRow.getAs[Int]("n_frames") == 18)
    assert(gifRow.getAs[Int]("payload_len") == 14 + 14 * 18)
    val wavRow = feats(3)
    assert(wavRow.getAs[Long]("duration_ms") == 19L)
    assert(wavRow.getAs[Int]("width") == 0 && wavRow.getAs[Int]("n_frames") == 0)
    val mp4Row = feats(4)
    assert(mp4Row.getAs[String]("format") == "mp4")
    assert(mp4Row.getAs[Int]("width") == 64 + 19 % 640)
    assert(mp4Row.getAs[Int]("height") == 64 + (19 * 7) % 480)
    assert(mp4Row.getAs[Long]("duration_ms") == 20L)
    assert(mp4Row.getAs[Int]("payload_len") == 236)
    assert(feats.map(_.getAs[Long]("checksum")).distinct.length == 5)
  }

  test("sampleFrames explodes only parsed animated payloads") {
    import spark.implicits._
    val docs = Seq((1L, "c" * 17), (2L, "a" * 20)).toDF("doc_id", "text") // gif(18 frames), png
    val frames = Multimodal.sampleFrames(
      Multimodal.extractFeatures(Multimodal.withBinaryPayload(docs)), stride = 2)
      .orderBy("doc_id", "frame_idx").collect()
    assert(frames.forall(_.getAs[Long]("doc_id") == 1L))
    assert(frames.map(_.getAs[Int]("frame_idx")).toSeq == (0 until 18 by 2).toSeq)
  }

  // ---- content-level image decode + perceptual hashing ----

  import graft.operators.Multimodal.{ImageDecoder, ImageGen, PerceptualHash}
  private def dham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("PNG pixel decode round-trips the generator exactly; BMP yields identical pixels") {
    // the generator's rows cycle all five PNG filters, so this exercises
    // None/Sub/Up/Average/Paeth through deflate and back
    val expected = ImageGen.gray(64, 48, 42L, 0)
    val png = ImageDecoder.decode(ImageGen.png(64, 48, 42L, 0))
    val bmp = ImageDecoder.decode(ImageGen.bmp(64, 48, 42L, 0))
    assert(png.isDefined && bmp.isDefined)
    assert(png.get.width == 64 && png.get.height == 48)
    assert(png.get.pixels.sameElements(expected), "PNG decode must be bit-exact")
    assert(bmp.get.pixels.sameElements(expected), "BMP decode must be bit-exact")
  }

  test("GIF pixel decode round-trips the generator exactly; interlace and LZW resets are bit-exact") {
    // plain + INTERLACED (4-pass row order) — both lossless, both bit-exact
    val expected = ImageGen.gray(64, 48, 42L, 0)
    for (il <- Seq(false, true)) {
      val g = ImageDecoder.decode(ImageGen.gif(64, 48, 42L, 0, interlaced = il))
      assert(g.isDefined, s"GIF (interlaced=$il) must decode")
      assert(g.get.width == 64 && g.get.height == 48)
      assert(g.get.pixels.sameElements(expected), s"GIF decode bit-exact (interlaced=$il)")
    }
    // a frame large enough to fill the 4096-entry LZW table forces the
    // CLEAR-code dictionary reset path through encode AND decode
    val bigField = ImageGen.gray(512, 400, 7L, 3)
    val big = ImageDecoder.decode(ImageGen.gif(512, 400, 7L, 3)).get
    assert(big.pixels.sameElements(bigField), "table-reset GIF decode bit-exact")
    // odd dims + degenerate 1x1 exercise the interlace pass bounds
    for ((w, h) <- Seq((17, 13), (1, 1), (300, 5)); il <- Seq(false, true)) {
      val f = ImageGen.gray(w, h, 3L, 0)
      val d = ImageDecoder.decode(ImageGen.gif(w, h, 3L, 0, interlaced = il))
      assert(d.isDefined && d.get.pixels.sameElements(f), s"${w}x$h il=$il")
    }
  }

  test("GIF hashes equal the lossless twins'; GIF decoder never throws on corrupt input") {
    // lossless => the dHash IS the PNG fixture value, not merely close
    val fromGif = PerceptualHash.dHash64(ImageDecoder.decode(ImageGen.gif(64, 48, 42L, 0)).get).get
    assert(fromGif == 0x29993949d666c6b6L, f"pinned GIF dHash moved: 0x$fromGif%016x")
    val good = ImageGen.gif(32, 24, 7L, 0)
    // truncation at every stride-5 prefix: None or a salvage, never a throw
    (0 until good.length by 5).foreach(n => ImageDecoder.decode(good.take(n)))
    // corrupt LZW bytes inside the sub-blocks: must return, never throw/spin
    val rnd = new scala.util.Random(777)
    (0 until 200).foreach { _ =>
      val b = good.clone()
      (0 until 1 + rnd.nextInt(6)).foreach(_ =>
        b(13 + 768 + rnd.nextInt(b.length - 13 - 768)) = rnd.nextInt(256).toByte)
      ImageDecoder.decode(b)
    }
    // ALLOCATION BOMB: a 60-byte stream declaring a 20000x20000 frame must
    // reject before allocating the index buffer (same posture as PNG)
    val bomb = java.nio.ByteBuffer.allocate(64)
    bomb.put("GIF89a".getBytes("US-ASCII"))
    bomb.putShort(java.lang.Short.reverseBytes(100.toShort))  // LE canvas w
    bomb.putShort(java.lang.Short.reverseBytes(100.toShort))
    bomb.put(0x80.toByte); bomb.put(0.toByte); bomb.put(0.toByte) // GCT size 2
    bomb.put(Array[Byte](0, 0, 0, -1, -1, -1)) // 2-entry GCT
    bomb.put(0x2c.toByte)
    bomb.putShort(0); bomb.putShort(0)
    bomb.putShort(java.lang.Short.reverseBytes(20000.toShort)) // frame w
    bomb.putShort(java.lang.Short.reverseBytes(20000.toShort)) // frame h
    bomb.put(0.toByte); bomb.put(2.toByte) // no LCT; mcs = 2
    assert(ImageDecoder.decode(java.util.Arrays.copyOf(bomb.array(), bomb.position()))
      .isEmpty, "gigapixel image descriptor must be rejected")
    // palette-less GIF (no GCT, no LCT): indices have no colors -> None
    val noPal = java.nio.ByteBuffer.allocate(64)
    noPal.put("GIF89a".getBytes("US-ASCII"))
    noPal.putShort(java.lang.Short.reverseBytes(4.toShort))
    noPal.putShort(java.lang.Short.reverseBytes(4.toShort))
    noPal.put(0.toByte); noPal.put(0.toByte); noPal.put(0.toByte) // GCT absent
    noPal.put(0x2c.toByte); noPal.putShort(0); noPal.putShort(0)
    noPal.putShort(java.lang.Short.reverseBytes(4.toShort))
    noPal.putShort(java.lang.Short.reverseBytes(4.toShort))
    noPal.put(0.toByte); noPal.put(2.toByte)
    noPal.put(1.toByte); noPal.put(0.toByte); noPal.put(0.toByte) // 1 data byte, terminator
    assert(ImageDecoder.decode(java.util.Arrays.copyOf(noPal.array(), noPal.position()))
      .isEmpty, "a GIF with neither global nor local palette must be skipped")
  }

  test("WebP/VP8L: bit-exact round-trip through subtract-green AND predictor coding; odd sizes") {
    for ((w, h) <- Seq((64, 48), (17, 13), (1, 1), (300, 5), (9, 8)); nz <- Seq(0, 8)) {
      val ref = ImageGen.gray(w, h, 42L, nz)
      val sg = ImageDecoder.decode(ImageGen.webp(w, h, 42L, nz))
      assert(sg.exists(g => g.width == w && g.height == h && g.pixels.sameElements(ref)),
        s"subtract-green ${w}x$h nz=$nz")
      val pr = ImageDecoder.decode(ImageGen.webpPredictor(w, h, 42L, nz))
      assert(pr.exists(g => g.width == w && g.height == h && g.pixels.sameElements(ref)),
        s"predictor ${w}x$h nz=$nz")
    }
  }

  /** Test-local LSB-first bit writer for HAND-BUILT VP8L streams (the
    * transform paths the fixture encoder does not emit). */
  private final class Vp8lHand {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0; private var nb = 0
    def put(v: Int, n: Int): Unit = (0 until n).foreach { i =>
      acc |= ((v >> i) & 1) << nb; nb += 1
      if (nb == 8) { out.write(acc); acc = 0; nb = 0 }
    }
    /** simple prefix code, one symbol (zero bits per read). */
    def single(sym: Int): Unit = {
      put(1, 1); put(0, 1)
      if (sym <= 1) { put(0, 1); put(sym, 1) } else { put(1, 1); put(sym, 8) }
    }
    /** simple prefix code, two symbols (one bit per read: 0 -> s0). */
    def pair(s0: Int, s1: Int): Unit = {
      put(1, 1); put(1, 1)
      if (s0 <= 1) { put(0, 1); put(s0, 1) } else { put(1, 1); put(s0, 8) }
      put(s1, 8)
    }
    def riff: Array[Byte] = {
      if (nb > 0) { out.write(acc); acc = 0; nb = 0 }
      val payload = out.toByteArray
      val o2 = new java.io.ByteArrayOutputStream()
      def le32(v: Int): Unit = { o2.write(v & 0xff); o2.write((v >> 8) & 0xff)
        o2.write((v >> 16) & 0xff); o2.write((v >>> 24) & 0xff) }
      o2.write("RIFF".getBytes("US-ASCII")); le32(4 + 8 + payload.length + (payload.length & 1))
      o2.write("WEBP".getBytes("US-ASCII")); o2.write("VP8L".getBytes("US-ASCII"))
      le32(payload.length); o2.write(payload)
      if ((payload.length & 1) == 1) o2.write(0)
      o2.toByteArray
    }
  }

  test("VP8L color-indexing (palette + sub-byte bundling) and color transform decode hand-built streams") {
    // ---- palette: 4x2, three colors, widthBits=2 (4 indices per byte) ----
    val hw = new Vp8lHand
    hw.put(0x2f, 8); hw.put(3, 14); hw.put(1, 14); hw.put(0, 1); hw.put(0, 3) // 4x2
    hw.put(1, 1); hw.put(3, 2)   // transform: color indexing
    hw.put(2, 8)                 // table size - 1 = 2
    // palette image (3x1, delta-coded): c0=(255,10,20,30); deltas (0,30,30,30)
    hw.put(0, 1)                 // no color cache
    hw.pair(20, 30)              // green: 20 once, 30 twice
    hw.pair(10, 30)              // red
    hw.single(30)                // blue: always 30
    hw.pair(255, 0)              // alpha: 255 then 0, 0
    hw.single(0)                 // distance (unused)
    // pixels (g,r,b,a per literal): (20,10,30,255), (30,30,30,0), (30,30,30,0)
    hw.put(0, 1); hw.put(0, 1)   // green=20, red=10 (pair bit 0)
    hw.put(0, 1)                 // alpha=255
    hw.put(1, 1); hw.put(1, 1); hw.put(1, 1) // (30,30,_,0)
    hw.put(1, 1); hw.put(1, 1); hw.put(1, 1)
    hw.put(0, 1)                 // no more transforms
    // main image: packed width sub(4,2)=1, so 2 packed pixels; indices
    // row0 [0,1,2,0] -> green 0b00100100=36, row1 [2,2,1,1] -> 0b01011010=90
    hw.put(0, 1)                 // no color cache
    hw.put(0, 1)                 // no meta prefix image
    hw.pair(36, 90)              // green
    hw.single(0); hw.single(0); hw.single(0) // red, blue, alpha
    hw.single(0)                 // distance
    hw.put(0, 1); hw.put(1, 1)   // the two packed pixels
    val d = ImageDecoder.decode(hw.riff)
    assert(d.isDefined, "hand-built palette stream must decode")
    def luma(r: Int, g: Int, b: Int) = (r * 299 + g * 587 + b * 114) / 1000
    val c = Array(luma(10, 20, 30), luma(40, 50, 60), luma(70, 80, 90))
    val want = Array(c(0), c(1), c(2), c(0), c(2), c(2), c(1), c(1))
    assert(d.get.width == 4 && d.get.height == 2 && d.get.pixels.sameElements(want),
      s"palette-mapped pixels: got ${d.get.pixels.toSeq} want ${want.toSeq}")

    // ---- color transform: 2x1, one cte tile, known cross-channel deltas ----
    val ct = new Vp8lHand
    ct.put(0x2f, 8); ct.put(1, 14); ct.put(0, 14); ct.put(0, 1); ct.put(0, 3) // 2x1
    ct.put(1, 1); ct.put(1, 2)   // transform: color
    ct.put(2, 3)                 // size_bits - 2 = 2 -> 16px tiles, 1 tile
    // cte image (1x1): green_to_red=32 (blue ch), green_to_blue=16 (green
    // ch), red_to_blue=8 (red ch)
    ct.put(0, 1)
    ct.single(16); ct.single(8); ct.single(32); ct.single(255); ct.single(0)
    // (no pixel bits: all four channels are one-symbol codes)
    ct.put(0, 1)                 // no more transforms
    // main: residual pixels (a=255, r=100, g=200, b=50) and (255,10,20,30)
    ct.put(0, 1); ct.put(0, 1)
    ct.pair(200, 20)             // green
    ct.pair(100, 10)             // red
    ct.pair(50, 30)              // blue
    ct.single(255)               // alpha
    ct.single(0)                 // distance
    ct.put(0, 1); ct.put(0, 1)   // pixel 0: green bit, red bit -> (200,100)
    ct.put(0, 1)                 // blue bit -> 50
    ct.put(1, 1); ct.put(1, 1); ct.put(1, 1) // pixel 1 -> (20,10,30)
    val cd = ImageDecoder.decode(ct.riff)
    assert(cd.isDefined, "hand-built color-transform stream must decode")
    // inverse per spec: delta(t,c) = (int8(t)*int8(c)) >> 5
    def cdelta(t: Int, cc: Int) = (t.toByte.toInt * cc.toByte.toInt) >> 5
    def inv(r0: Int, g0: Int, b0: Int) = {
      val r1 = (r0 + cdelta(32, g0)) & 0xff
      val b1 = (b0 + cdelta(16, g0) + cdelta(8, r1)) & 0xff
      luma(r1, g0, b1)
    }
    val cw = Array(inv(100, 200, 50), inv(10, 20, 30))
    assert(cd.get.pixels.sameElements(cw),
      s"color-transform inverse: got ${cd.get.pixels.toSeq} want ${cw.toSeq}")
  }

  test("WebP hashes equal the lossless twins'; decoder rejects bombs/lossy and never throws on corrupt input") {
    // lossless => the dHash IS the PNG fixture value, not merely close
    val fromWebp = PerceptualHash.dHash64(ImageDecoder.decode(ImageGen.webp(64, 48, 42L, 0)).get).get
    assert(fromWebp == 0x29993949d666c6b6L, f"pinned WebP dHash moved: 0x$fromWebp%016x")
    val fromPred = PerceptualHash.dHash64(
      ImageDecoder.decode(ImageGen.webpPredictor(64, 48, 42L, 0)).get).get
    assert(fromPred == 0x29993949d666c6b6L, f"predictor-coded WebP dHash moved: 0x$fromPred%016x")
    // container metadata
    val meta = ContainerParser.parse(ImageGen.webp(64, 48, 42L, 0))
    assert(meta.format == "webp" && meta.width == 64 && meta.height == 48, s"$meta")
    // truncation at every stride-5 prefix: None, never a throw
    val good = ImageGen.webp(32, 24, 7L, 0)
    (0 until good.length by 5).foreach(n => ImageDecoder.decode(good.take(n)))
    // corrupt bytes inside the coded stream: return, never throw/spin
    val rnd = new scala.util.Random(778)
    (0 until 200).foreach { _ =>
      val b = good.clone()
      (0 until 1 + rnd.nextInt(6)).foreach(_ =>
        b(20 + rnd.nextInt(b.length - 20)) = rnd.nextInt(256).toByte)
      ImageDecoder.decode(b)
    }
    // ALLOCATION BOMB: a 30-byte stream declaring 16384x16384 must reject
    // before allocating (past the 2^26 pixel cap)
    val bomb = new Vp8lHand
    bomb.put(0x2f, 8); bomb.put(16383, 14); bomb.put(16383, 14); bomb.put(0, 1); bomb.put(0, 3)
    assert(ImageDecoder.decode(bomb.riff).isEmpty, "gigapixel VP8L header must be rejected")
    // lossy VP8 is recognized as webp but reports undecodable
    val lossy = new java.io.ByteArrayOutputStream()
    def le32b(v: Int): Unit = { lossy.write(v & 0xff); lossy.write((v >> 8) & 0xff)
      lossy.write((v >> 16) & 0xff); lossy.write((v >>> 24) & 0xff) }
    lossy.write("RIFF".getBytes("US-ASCII")); le32b(24)
    lossy.write("WEBP".getBytes("US-ASCII")); lossy.write("VP8 ".getBytes("US-ASCII")); le32b(12)
    lossy.write(Array[Byte](0, 0, 0)); lossy.write(Array(0x9d.toByte, 0x01.toByte, 0x2a.toByte))
    lossy.write(Array[Byte](64, 0, 48, 0, 0, 0))
    val lb = lossy.toByteArray
    assert(ImageDecoder.decode(lb).isEmpty, "lossy VP8 must report undecodable, not throw")
    assert(ContainerParser.parse(lb).format == "webp" && ContainerParser.parse(lb).width == 64)
  }

  test("perceptual hashes: fixture-pinned values, container independence, resolution invariance") {
    val g = ImageDecoder.decode(ImageGen.png(64, 48, 42L, 0)).get
    // pinned fixtures: any change to generator, decoder, downsample, or bit
    // order shows up here as an exact mismatch
    assert(PerceptualHash.dHash64(g).get == 0x29993949d666c6b6L)
    assert(PerceptualHash.aHash64(g).get == 0x733323528cccdcadL)
    // identical pixels through the OTHER container -> identical hashes
    val b = ImageDecoder.decode(ImageGen.bmp(64, 48, 42L, 0)).get
    assert(PerceptualHash.dHash64(b) == PerceptualHash.dHash64(g))
    assert(PerceptualHash.aHash64(b) == PerceptualHash.aHash64(g))
    // the same content rendered at 2x resolution hashes within the dedup
    // budget (box-averaging makes the hash a CONTENT hash; grid-boundary
    // rounding differs slightly between resolutions)
    val big = ImageDecoder.decode(ImageGen.png(128, 96, 42L, 0)).get
    val resHam = dham(PerceptualHash.dHash64(big).get, PerceptualHash.dHash64(g).get)
    assert(resHam <= 6, s"2x resolution must stay within the dedup budget: $resHam")
  }

  test("wavPcmKeyed: decode returns the closed-form integers exactly; fingerprint == integer recomputation") {
    // the q30d2 oracle rests on two exactness facts: (1) 16-bit PCM
    // decode is k/32768 (dyadic), (2) equal 32-sample frames make the
    // double frame energies exact rationals, so every energy-delta bit
    // equals the integer sum-of-squares comparison the SQL twin replays
    val n = 2080; val seed = 137L
    def k(i: Int): Long = {
      val x = java.lang.Math.floorMod((i + 1L) * (2L * seed + 1L), 65536L)
      val h = java.lang.Math.floorMod(x * 2654435761L, 65536L)
      java.lang.Math.floorMod(h * (h + 1L), 65536L) / 16L - 2048L
    }
    val xs = Multimodal.decodeAudioSamples(Multimodal.AudioGen.wavPcmKeyed(n, seed)).get
    assert(xs.length == n)
    (0 until n).foreach(i => assert(xs(i) == k(i) / 32768.0, s"sample $i"))
    val got = Multimodal.audioFingerprint64(xs).get
    val e = Array.tabulate(65)(f => (0 until 32).map(j => { val v = k(f * 32 + j); v * v }).sum)
    var expect = 0L
    (0 until 64).foreach(i => if (e(i + 1) > e(i)) expect |= 1L << (63 - i))
    assert(got == expect, f"fingerprint 0x$got%016x != integer recomputation 0x$expect%016x")
    // identical seed under a fresh length-n render is bit-identical; a
    // different seed decorrelates far beyond the dedup budget
    val twin = Multimodal.audioFingerprint64(
      Multimodal.decodeAudioSamples(Multimodal.AudioGen.wavPcmKeyed(n, seed)).get).get
    assert(twin == got)
    val other = Multimodal.audioFingerprint64(
      Multimodal.decodeAudioSamples(Multimodal.AudioGen.wavPcmKeyed(n, seed + 1)).get).get
    assert(java.lang.Long.bitCount(got ^ other) > 10,
      s"cross-seed fingerprints must sit beyond the Hamming budget: ${java.lang.Long.bitCount(got ^ other)}")
  }

  test("JPEG pixel decode: grayscale, 4:2:0 color, and restart-marker streams approximate the field") {
    val expected = ImageGen.gray(64, 48, 42L, 0)
    def maxErr(got: Multimodal.ImageDecoder.Gray): Int =
      got.pixels.zip(expected).map { case (a, b) => math.abs(a - b) }.max
    // grayscale baseline: lossy, but the Annex-K-quantized error on the
    // generator's smooth sinusoid fields stays small per pixel
    val g = ImageDecoder.decode(ImageGen.jpeg(64, 48, 42L, 0))
    assert(g.isDefined, "grayscale JPEG must decode")
    assert(g.get.width == 64 && g.get.height == 48)
    assert(maxErr(g.get) <= 24, s"per-pixel JPEG error bounded: ${maxErr(g.get)}")
    // 3-component 4:2:0 (the web-photo layout): same luma, neutral chroma —
    // decodes to the SAME pixels as the grayscale encoding (luma-only IDCT)
    val c = ImageDecoder.decode(ImageGen.jpegColor(64, 48, 42L, 0))
    assert(c.isDefined, "4:2:0 color JPEG must decode")
    assert(c.get.pixels.sameElements(g.get.pixels),
      "color JPEG's luma must decode identically to the grayscale encoding")
    // restart markers: DRI/RSTn every 5 MCUs decodes identically too
    val r = ImageDecoder.decode(ImageGen.jpeg(64, 48, 42L, 0, restartEvery = 5))
    assert(r.isDefined, "restart-marker JPEG must decode")
    assert(r.get.pixels.sameElements(g.get.pixels),
      "restart markers change the stream layout, never the pixels")
    // odd dimensions exercise edge-replicated partial MCUs on both paths
    val odd = ImageDecoder.decode(ImageGen.jpegColor(61, 45, 9L, 0))
    assert(odd.isDefined && odd.get.width == 61 && odd.get.height == 45)
  }

  test("JPEG hashes: pinned fixture; cross-container PNG/JPEG twins within the dedup budget") {
    val fromPng = PerceptualHash.dHash64(ImageDecoder.decode(ImageGen.png(64, 48, 42L, 0)).get).get
    val fromJpeg = PerceptualHash.dHash64(ImageDecoder.decode(ImageGen.jpeg(64, 48, 42L, 0)).get).get
    // pinned: any drift in encoder, decoder, IDCT rounding, or hash shows
    // here (one bit away from the PNG fixture's 0x29993949d666c6b6 — the
    // quantization loss flipping a single near-threshold gradient cell)
    assert(fromJpeg == 0x29993949d666c7b6L,
      f"pinned JPEG dHash moved: 0x$fromJpeg%016x")
    assert(dham(fromPng, fromJpeg) <= 4,
      s"lossy re-encode of the same content must stay within the dedup budget")
    // and a noisy JPEG twin of PNG content — the daily-crawl cross-container
    // shape — still lands inside q30c's maxHamming = 10
    val noisy = PerceptualHash.dHash64(ImageDecoder.decode(ImageGen.jpeg(64, 48, 42L, 8)).get).get
    assert(dham(fromPng, noisy) <= 10, s"noisy JPEG twin hamming ${dham(fromPng, noisy)}")
  }

  test("JPEG decoder never throws: truncated, progressive, header-only, garbage -> None") {
    val good = ImageGen.jpeg(32, 16, 7L, 0)
    assert(ImageDecoder.decode(good.take(20)).isEmpty, "truncated in headers")
    assert(ImageDecoder.decode(good.take(good.length - 10)).isEmpty
      || ImageDecoder.decode(good.take(good.length - 10)).isDefined,
      "truncated entropy data must not throw") // decode may salvage or skip
    assert(ImageDecoder.decode(MediaGen.jpeg(64, 48)).isEmpty,
      "header-only JPEG (SOI+SOF0+EOI, no scan) must be skipped")
    val mislabeled = good.clone()
    // rewrite the SOF0 marker byte to SOF2: the baseline-shaped Ss=0..Se=63
    // scan is ILLEGAL under a progressive frame (DC and AC never share a
    // scan, T.81 G.1), so the stream is malformed and must skip cleanly
    val sofAt = (0 until good.length - 1).find(i =>
      (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xc0).get
    mislabeled(sofAt + 1) = 0xc2.toByte
    assert(ImageDecoder.decode(mislabeled).isEmpty,
      "SOF2 frame with a baseline 0..63 scan -> None")
  }

  test("progressive JPEG decodes to BIT-IDENTICAL pixels as the baseline encoding") {
    // same gray field, same quantization — six scans (DC first at Al=1,
    // two spectral AC bands, DC + AC refinement) must reassemble the
    // exact coefficients the baseline stream carries in one scan
    for ((w, h) <- Seq((64, 48), (65, 41), (16, 16), (8, 8), (24, 9))) {
      val base = ImageDecoder.decode(ImageGen.jpeg(w, h, 42L, 0)).get
      val prog = ImageDecoder.decode(ImageGen.jpegProgressive(w, h, 42L, 0))
      assert(prog.isDefined, s"progressive ${w}x$h must decode")
      assert(prog.get.width == w && prog.get.height == h)
      assert(prog.get.pixels.sameElements(base.pixels),
        s"progressive != baseline pixels at ${w}x$h")
    }
  }

  test("progressive JPEG with restart markers in every scan decodes identically") {
    // DRI applies to ALL scans; a progressive restart resets both the DC
    // predictors and the EOB run mid-scan
    val base = ImageDecoder.decode(ImageGen.jpeg(64, 48, 42L, 0)).get
    for (re <- Seq(1, 3, 7)) {
      val prog = ImageDecoder.decode(ImageGen.jpegProgressive(64, 48, 42L, 0, restartEvery = re))
      assert(prog.isDefined, s"restartEvery=$re must decode")
      assert(prog.get.pixels.sameElements(base.pixels),
        s"restartEvery=$re changes pixels")
    }
  }

  test("progressive COLOR JPEG (4:2:0, interleaved DC, skipped chroma scans) matches baseline color") {
    // interleaved 3-component DC scan, non-interleaved luma AC over the
    // UNPADDED block grid, chroma AC scans the luma-only decoder must
    // byte-skip without decoding — and the pixels still equal the
    // baseline color twin's bit for bit
    for ((w, h) <- Seq((64, 48), (33, 17))) {
      val base = ImageDecoder.decode(ImageGen.jpegColor(w, h, 42L, 0)).get
      val prog = ImageDecoder.decode(ImageGen.jpegProgressiveColor(w, h, 42L, 0))
      assert(prog.isDefined, s"progressive color ${w}x$h must decode")
      assert(prog.get.pixels.sameElements(base.pixels),
        s"progressive color != baseline color pixels at ${w}x$h")
    }
  }

  test("progressive decoder never throws: truncation at every scan boundary and inside scans") {
    val good = ImageGen.jpegProgressive(32, 24, 7L, 0)
    assert(ImageDecoder.decode(good).isDefined)
    // cut at every 37th byte: headers, mid-scan, between scans — never
    // throw; only the full stream (with EOI) may produce pixels
    var cut = 2
    while (cut < good.length) {
      val t = ImageDecoder.decode(good.take(cut))
      assert(t.isEmpty, s"truncated progressive at $cut bytes must be skipped")
      cut += 37
    }
    // flipping the EOI away must not loop or throw
    assert(ImageDecoder.decode(good.dropRight(2)).isEmpty, "missing EOI -> None")
  }

  test("progressive stream carrying only chroma scans yields None, not a fabricated flat image") {
    // SOI + DQT + SOF2 (3 components) + one chroma-only AC scan + EOI:
    // nothing luma ever decodes, so the all-zero coefficient store must
    // NOT finalize into a uniform gray image (whose perceptual hashes
    // would collide across every such malformed file)
    val out = new java.io.ByteArrayOutputStream()
    def seg(m: Int, p: Array[Byte]): Unit = {
      out.write(0xff); out.write(m)
      val len = p.length + 2
      out.write(len >> 8); out.write(len & 0xff); out.write(p, 0, p.length)
    }
    out.write(0xff); out.write(0xd8)
    seg(0xdb, Array[Byte](0) ++ Array.fill[Byte](64)(16))
    seg(0xc2, Array[Byte](8, 0, 16, 0, 16, 3, 1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0))
    seg(0xda, Array[Byte](1, 2, 0x00, 1, 5, 0)) // component 2 (Cb), band 1..5
    out.write(0x12); out.write(0x34)             // skipped entropy bytes
    out.write(0xff); out.write(0xd9)
    assert(ImageDecoder.decode(out.toByteArray).isEmpty,
      "no decoded luma scan must mean None")
  }

  test("SOS table selectors above 3 are rejected cleanly in both coding modes") {
    def sosOffsets(b: Array[Byte]): Seq[Int] =
      (0 until b.length - 1).filter(i => (b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == 0xda)
    // baseline: single SOS, Td/Ta byte at payload offset 2 (ns, cid, tdta)
    val base = ImageGen.jpeg(16, 16, 7L, 0)
    val bMut = base.clone()
    bMut(sosOffsets(base).head + 6) = 0x50.toByte // Td = 5
    assert(ImageDecoder.decode(bMut).isEmpty, "baseline Td=5 -> None")
    // progressive: first SOS is the DC scan (Td high nibble), a later one
    // an AC scan (Ta low nibble) — both must skip, never throw
    val prog = ImageGen.jpegProgressive(16, 16, 7L, 0)
    val offs = sosOffsets(prog)
    val pDc = prog.clone(); pDc(offs.head + 6) = 0x50.toByte
    assert(ImageDecoder.decode(pDc).isEmpty, "progressive DC Td=5 -> None")
    val pAc = prog.clone(); pAc(offs(1) + 6) = 0x09.toByte
    assert(ImageDecoder.decode(pAc).isEmpty, "progressive AC Ta=9 -> None")
  }

  test("progressive JPEG is a first-class dedup citizen: hashes equal the baseline twin's") {
    val fromBase = PerceptualHash.dHash64(ImageDecoder.decode(ImageGen.jpeg(64, 48, 42L, 0)).get).get
    val fromProg = PerceptualHash.dHash64(ImageDecoder.decode(ImageGen.jpegProgressive(64, 48, 42L, 0)).get).get
    assert(fromBase == fromProg, "bit-identical pixels must hash identically")
  }

  test("progressive decoder fuzz soak: corrupt/truncate/splice/duplicate never throw, bounded work") {
    // the PNG fuzz playbook pointed at the progressive path: seed-
    // randomized byte corruption, truncation, cross-stream splices, and
    // scan duplication over a fixture corpus covering gray/color/restart
    // progressive streams. Every decode must RETURN (None or pixels) under
    // the never-throw contract, inside the scan-work CPU budget.
    // GRAFT_SOAK=n multiplies the iteration count for soak runs.
    val iters = 400 * math.max(1, sys.env.get("GRAFT_SOAK").map(_.toInt / 8).getOrElse(1))
    val rnd = new scala.util.Random(20260815L)
    val seeds = Seq(
      ImageGen.jpegProgressive(32, 24, 7L, 0),
      ImageGen.jpegProgressive(48, 32, 11L, 4, restartEvery = 3),
      ImageGen.jpegProgressiveColor(32, 24, 13L, 0),
      ImageGen.jpeg(32, 24, 7L, 0))
    def sosOffsets(b: Array[Byte]): Seq[Int] =
      (0 until b.length - 1).filter(i => (b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == 0xda)
    var i = 0
    while (i < iters) {
      val src = seeds(rnd.nextInt(seeds.length))
      val mode = rnd.nextInt(4)
      val b: Array[Byte] = mode match {
        case 0 => // byte corruption anywhere (headers, tables, entropy)
          val c = src.clone()
          (0 until 1 + rnd.nextInt(8)).foreach(_ =>
            c(rnd.nextInt(c.length)) = rnd.nextInt(256).toByte)
          c
        case 1 => // truncation at an arbitrary point
          src.take(2 + rnd.nextInt(src.length - 2))
        case 2 => // splice: the tail of ANOTHER stream grafted mid-stream
          val other = seeds(rnd.nextInt(seeds.length))
          src.take(2 + rnd.nextInt(src.length - 2)) ++ other.drop(rnd.nextInt(other.length))
        case _ => // scan duplication: a repeated SOS..next-SOS span
          val offs = sosOffsets(src)
          if (offs.isEmpty) src
          else {
            val at = offs(rnd.nextInt(offs.length))
            val end = offs.find(_ > at).getOrElse(src.length - 2)
            src.take(end) ++ src.slice(at, end) ++ src.drop(end)
          }
      }
      val t0 = System.nanoTime()
      ImageDecoder.decode(b) // None or pixels — never a throw
      val ms = (System.nanoTime() - t0) / 1e6
      assert(ms < 3000, s"decode exceeded the work budget: $ms ms (iter $i mode $mode)")
      i += 1
    }
  }

  test("near-duplicate images hash close; unrelated content hashes far") {
    val base = PerceptualHash.dHash64(ImageDecoder.decode(ImageGen.png(64, 48, 42L, 0)).get).get
    // per-pixel noise (amplitude 8 gray levels) barely moves the hash
    val noisy = PerceptualHash.dHash64(ImageDecoder.decode(ImageGen.png(64, 48, 42L, 8)).get).get
    assert(dham(base, noisy) <= 6, s"noise twin hamming ${dham(base, noisy)}")
    // thirty unrelated seeds: all far beyond the dedup threshold
    val dists = (0L until 30L).map { s =>
      dham(base, PerceptualHash.dHash64(ImageDecoder.decode(ImageGen.png(64, 48, s, 0)).get).get)
    }
    assert(dists.min >= 15, s"unrelated images must hash far: ${dists.sorted.take(3)}")
  }

  test("decoder never throws: truncated, malformed, header-only, palette inputs -> None") {
    val good = ImageGen.png(32, 16, 7L, 0)
    assert(ImageDecoder.decode(good.take(40)).isEmpty, "truncated mid-chunk")
    // IEND (12) + IDAT's CRC (4) + 1: clips into IDAT's declared data
    assert(ImageDecoder.decode(good.take(good.length - 17)).isEmpty, "truncated IDAT")
    assert(ImageDecoder.decode(Array[Byte](1, 2, 3)).isEmpty, "garbage")
    assert(ImageDecoder.decode(Multimodal.MediaGen.png(64, 48)).isEmpty,
      "header-only PNG (no IDAT) must be skipped, not decoded as black")
    assert(ImageDecoder.decode(Multimodal.MediaGen.wav(80)).isEmpty, "non-image container")
    // palette PNG (color type 3) is out of scope -> None
    val palette = good.clone()
    palette(8 + 4 + 4 + 9) = 3 // IHDR color type byte
    assert(ImageDecoder.decode(palette).isEmpty)
  }

  test("image dedup end-to-end: planted noisy twins collapse, distinct content survives") {
    import spark.implicits._
    val ids = (0L until 40L).toDF("doc_id")
    val base = Multimodal.withImagePayload(ids)
    // twins of every 4th image: same seed, noise 8, new id
    val twins = Multimodal.withImagePayload(
      ids.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 1000L).as("doc_id"), col("doc_id").as("seed")),
      seedCol = "seed", noise = 8).drop("seed")
    val hashes = Multimodal.imageHashes(base.unionByName(twins))
    assert(hashes.count() == 50, "every payload decodes (40 base + 10 twins)")
    val pairs = Multimodal.imageDupPairs(hashes, maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0L until 40L by 4).map(i => (i, i + 1000L)).toSet
    assert(planted.subsetOf(pairs), s"all 10 planted twins found: missing ${planted -- pairs}")
    val kept = graft.operators.Dedup.collapseDuplicates(
      hashes.select("doc_id"), pairs = Multimodal.imageDupPairs(hashes, maxHamming = 10),
      idCol = "doc_id", aCol = "doc_a", bCol = "doc_b")
      .collect().map(_.getLong(0)).toSet
    // every twin's cluster contains its (lower-id) original => no twin is
    // ever the kept representative
    assert(planted.forall(p => !kept.contains(p._2)), "every twin dropped")
    // soundness: a dropped document always has a near-dup pair partner
    // (two base images CAN legitimately collapse — the seed family is
    // small — but never without a generated pair)
    val allIds = hashes.select("doc_id").collect().map(_.getLong(0)).toSet
    val dropped = allIds -- kept
    assert(dropped.forall(d => pairs.exists(p => p._1 == d || p._2 == d)),
      "no drop without a pair")
    assert(kept.nonEmpty && dropped.size >= planted.size)
  }

  test("semantic image dedup: hash-MISSED heavy-noise twins collapse through tensor embeddings") {
    import spark.implicits._
    val ids = (0L until 120L).toDF("doc_id")
    val base = Multimodal.withImagePayload(ids)
    // twins of every 4th image under HEAVY noise (amplitude 90): the
    // box-averaged 16x16 tensor shrugs it off, but a deterministic slice
    // of the twins flips dHash PAST the Hamming-10 budget — the exact
    // near-dups q30c's perceptual-hash path misses
    val twins = Multimodal.withImagePayload(
      ids.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"), col("doc_id").as("seed")),
      seedCol = "seed", noise = 90).drop("seed")
    val all = base.unionByName(twins)
    val dh = Multimodal.imageHashes(all)
      .select("doc_id", "dhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val twinIds = dh.keys.filter(_ >= 200000L).toSeq
    assert(twinIds.size == 30, "every twin payload decodes")
    val missed = twinIds.filter(t =>
      java.lang.Long.bitCount(dh(t) ^ dh(t - 200000L)) > 10)
    assert(missed.nonEmpty,
      "the fixture must plant twins PAST the perceptual-hash budget " +
        "(deterministic: the generator and noise are pure functions of the seed)")

    val emb = Multimodal.imageEmbeddings(all).localCheckpoint()
    val docs = emb.select(col("vec_id").as("doc_id"))
    val kept = graft.operators.Dedup.semanticDedup(
        docs, emb, threshold = 0.85, lists = 16)
      .collect().map(_.getLong(0)).toSet
    graft.core.Stage.free(emb)
    // RECALL: no planted twin survives — including every hash-missed one
    // (min-id keep: the twin's cluster always contains its lower-id
    // original, so the twin is never the representative)
    assert(twinIds.forall(t => !kept.contains(t)),
      s"twins surviving semantic dedup: ${twinIds.filter(kept.contains)} " +
        s"(hash-missed slice: $missed)")
    // BOUNDED false merges: the sinusoid seed family is small, so a few
    // cross-seed pairs legitimately correlate above the threshold — but
    // dedup must never mass-collapse distinct content
    val droppedBase = (0L until 120L).count(i => !kept.contains(i))
    assert(droppedBase <= 12,
      s"cross-seed merges must stay a small tail: $droppedBase of 120 base dropped")
  }

  // ---- content-level audio decode + fingerprinting ----

  import graft.operators.Multimodal.{AudioGen, WavDecoder}

  test("WAV PCM decode: 8-bit and 16-bit renderings of one waveform agree; stereo averages") {
    val xs8 = WavDecoder.decode(AudioGen.wav(2000, 7L, 0, bits = 8)).get
    val xs16 = WavDecoder.decode(AudioGen.wav(2000, 7L, 0, bits = 16)).get
    assert(xs8.length == 2000 && xs16.length == 2000)
    // same waveform at both widths, within 8-bit quantization (1/128)
    val maxDiff = xs8.zip(xs16).map { case (a, b) => math.abs(a - b) }.max
    assert(maxDiff <= 1.5 / 128.0, s"8/16-bit renderings diverge: $maxDiff")
    assert(xs8.forall(x => x >= -1.0 && x <= 1.0))
  }

  test("audio fingerprint: pinned fixture; gain/sample-width invariance; noise closeness; unrelated far") {
    def fp(bytes: Array[Byte]): Long =
      Multimodal.audioFingerprint64(WavDecoder.decode(bytes).get).get
    val base = fp(AudioGen.wav(4000, 42L, 0, 8))
    assert(base == 0xae76b52959dc84f4L, f"pinned fingerprint moved: 0x$base%016x")
    assert(fp(AudioGen.wav(4000, 42L, 0, 16)) == base, "sample-width invariant")
    assert(fp(AudioGen.wav(4000, 42L, 0, 8, gain = 0.5)) == base,
      "volume change must not move an energy-DELTA hash")
    assert(dham(base, fp(AudioGen.wav(8000, 42L, 0, 8))) <= 4, "2x sample rate stays close")
    assert(dham(base, fp(AudioGen.wav(4000, 42L, 8, 8))) <= 6, "per-sample noise stays close")
    val dists = (0L until 30L).map(s => dham(base, fp(AudioGen.wav(4000, s, 0, 8))))
    assert(dists.min >= 15, s"unrelated audio must hash far: ${dists.sorted.take(3)}")
  }

  test("FLAC decode: bit-exact vs 16-bit PCM; fingerprint invariant; never throws on corrupt input") {
    import graft.operators.Multimodal.FlacDecoder
    // every subframe coding (VERBATIM / FIXED-2 / LPC-1 rotate per frame)
    // reconstructs the exact 16-bit quantization the WAV path carries
    for (n <- Seq(4000, 1024, 1023, 3, 1); nz <- Seq(0, 8)) {
      val d = FlacDecoder.decode(AudioGen.flac(n, 42L, nz))
      val w = WavDecoder.decode(AudioGen.wav(n, 42L, nz, bits = 16)).get
      assert(d.exists(xs => xs.length == n && xs.sameElements(w)),
        s"FLAC n=$n nz=$nz must decode bit-exactly to the 16-bit PCM samples")
    }
    // the fingerprint is therefore encoding-blind across ALL SIX encodings
    val viaFlac = Multimodal.audioFingerprint64(
      FlacDecoder.decode(AudioGen.flac(4000, 42L, 0)).get).get
    val viaWav = Multimodal.audioFingerprint64(
      WavDecoder.decode(AudioGen.wav(4000, 42L, 0, 8)).get).get
    assert(viaFlac == viaWav && viaWav == 0xae76b52959dc84f4L,
      f"FLAC fingerprint must equal the pinned WAV family value: 0x$viaFlac%016x")
    // container metadata: 8000 samples at 8 kHz = 1000 ms
    val meta = ContainerParser.parse(AudioGen.flac(8000, 7L, 0))
    assert(meta.format == "flac" && meta.durationMs == 1000L, s"$meta")
    // truncation at every stride-7 prefix: None, never a throw
    val good = AudioGen.flac(2000, 3L, 0)
    (0 until good.length by 7).foreach(n => FlacDecoder.decode(good.take(n)))
    // corrupt bytes anywhere past the marker: return, never throw/spin
    val rnd = new scala.util.Random(779)
    (0 until 200).foreach { _ =>
      val b = good.clone()
      (0 until 1 + rnd.nextInt(6)).foreach(_ =>
        b(4 + rnd.nextInt(b.length - 4)) = rnd.nextInt(256).toByte)
      FlacDecoder.decode(b)
    }
    // declared-sample-count bomb: STREAMINFO claiming 2^35 samples rejects
    val bomb = good.clone()
    bomb(8 + 13) = (bomb(8 + 13) | 0x08).toByte // set a high total-samples bit
    assert(FlacDecoder.decode(bomb).isEmpty, "gigasample STREAMINFO must be rejected")
    assert(FlacDecoder.decode(Array[Byte]('f', 'L', 'a', 'C')).isEmpty)
  }

  test("AIFF decode: bit-exact vs 16-bit WAV; fingerprint container-blind; metadata; never throws") {
    import graft.operators.Multimodal.{AiffDecoder, AudioGen, WavDecoder}
    val a = AiffDecoder.decode(AudioGen.aiff(4000, 7L)).get
    val w = WavDecoder.decode(AudioGen.wav(4000, 7L, bits = 16)).get
    assert(a.sameElements(w), "AIFF PCM16 must decode bit-exactly to the WAV16 quantization")
    // the dispatch + fingerprint are container-blind: AIFF == WAV16 == FLAC
    def fp(b: Array[Byte]) =
      Multimodal.audioFingerprint64(Multimodal.decodeAudioSamples(b).get).get
    assert(fp(AudioGen.aiff(4000, 42L)) == fp(AudioGen.wav(4000, 42L, bits = 16)))
    assert(fp(AudioGen.aiff(4000, 42L)) == fp(AudioGen.flac(4000, 42L)))
    // container metadata: 4000 frames at 8000 Hz = 500 ms, via the 80-bit
    // extended-float sample rate
    val meta = ContainerParser.parse(viaFile(AudioGen.aiff(4000, 7L)))
    assert(meta.format == "aiff" && meta.durationMs == 500L, s"$meta")
    // never-throw: truncation sweep + corruption + AIFF-C (compressed) out
    val full = AudioGen.aiff(2000, 9L)
    (0 until full.length by 13).foreach { n =>
      AiffDecoder.decode(full.take(n)); ContainerParser.parse(full.take(n))
    }
    val rnd = new scala.util.Random(77)
    (0 until 150).foreach { _ =>
      val b = full.clone()
      (0 until 1 + rnd.nextInt(8)).foreach(_ => b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte)
      AiffDecoder.decode(b); ContainerParser.parse(b)
    }
    val aifc = full.clone()
    "AIFC".getBytes.copyToArray(aifc, 8)
    assert(AiffDecoder.decode(aifc).isEmpty, "AIFF-C (compressed families) stays out")
    assert(ContainerParser.parse(aifc).format == "aiff", "AIFC still identifies as aiff metadata")
  }

  test("decode matrix itemizes declared-out codecs per (format, coding) row") {
    import spark.implicits._
    // the planted declared-out rotation: one measured zero-decodable row
    // PER codec — valid containers, refused samples
    val coded = Multimodal.decodeStats(
        Multimodal.withCodedVideoPayload((0L until 8L).toDF("doc_id")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(coded == Set(
      ("mp4", "avc1", 2L, 0L), ("mp4", "vp09", 2L, 0L),
      ("mp4", "av01", 2L, 0L), ("mp4", "mp4a", 2L, 0L)), s"$coded")
    // decodable clips carry their coding too (AVI strh / MP4 stsd)
    val mjpeg = Multimodal.decodeStats(
        Multimodal.withVideoPayload((0L until 4L).toDF("doc_id"), frames = 2))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(3))).toSet
    assert(mjpeg == Set(("avi", "MJPG", 2L), ("mp4", "jpeg", 2L)), s"$mjpeg")
    // non-a/v formats report an empty coding
    val img = Multimodal.decodeStats(
        Multimodal.withImagePayload((0L until 3L).toDF("doc_id")))
      .collect().map(_.getString(1)).toSet
    assert(img == Set(""))
  }

  test("MP3 container: frame count and duration parse, samples declared out, fuzz never throws") {
    // ceil(n / 1152) silent frames at 32 kHz: 36 ms each
    for ((n, frames) <- Seq(4000 -> 4, 1153 -> 2, 1152 -> 1, 65 -> 1)) {
      val meta = ContainerParser.parse(viaFile(AudioGen.mp3(n)))
      assert(meta == ContainerParser.Meta("mp3", 0, 0, frames, frames * 36L), s"n=$n: $meta")
    }
    val good = AudioGen.mp3(4000)
    val id3 = Array[Byte]('I', 'D', '3', 3, 0, 0, 0, 0, 0, 10) ++ new Array[Byte](10) ++ good
    assert(ContainerParser.parse(id3) == ContainerParser.parse(good), "ID3v2 container must skip")
    // recognized, never sample-decoded: no fingerprint, a zero decode-matrix row
    assert(Multimodal.decodeAudioSamples(good).isEmpty && Multimodal.decodeAudioSamples(id3).isEmpty)
    import spark.implicits._
    val row = Multimodal.decodeStats(Multimodal.withAudioPayload(Seq(7L, 15L).toDF("doc_id")))
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3))).toSeq
    assert(row == Seq(("mp3", 2L, 0L)), s"$row")

    // never-throw fuzz over the frame walk: truncation sweep + byte
    // corruption + splices, bounded work
    (0 until good.length by 11).foreach(k => ContainerParser.parse(good.take(k)))
    val rnd = new scala.util.Random(3141)
    (0 until 250).foreach { _ =>
      val b = rnd.nextInt(3) match {
        case 0 =>
          val c = good.clone()
          (0 until 1 + rnd.nextInt(8)).foreach(_ =>
            c(rnd.nextInt(c.length)) = rnd.nextInt(256).toByte)
          c
        case 1 => good.take(1 + rnd.nextInt(good.length - 1)) ++
          good.drop(rnd.nextInt(good.length))
        case _ =>
          val other = AudioGen.wav(500, 3L, 0, 8)
          good.take(1 + rnd.nextInt(good.length - 1)) ++ other
      }
      val t0 = System.nanoTime()
      ContainerParser.parse(b); Multimodal.decodeAudioSamples(b)
      assert((System.nanoTime() - t0) / 1e6 < 3000, "bounded work under fuzz")
    }
    assert(ContainerParser.parse(Array[Byte](0xff.toByte, 0xfb.toByte)) == ContainerParser.Unknown)
  }

  test("WAV decode never throws: truncated, compressed, float, garbage -> None") {
    val good = AudioGen.wav(500, 3L, 0, 8)
    assert(WavDecoder.decode(good).isDefined)
    assert(WavDecoder.decode(good.take(30)).isEmpty, "shorter than a header")
    // truncated mid-data still decodes the prefix (streaming-tolerant), but
    // a corrupted fmt (non-PCM format code) must be rejected
    val nonPcm = good.clone()
    nonPcm(20) = 3 // IEEE float format code
    assert(WavDecoder.decode(nonPcm).isEmpty, "non-PCM rejected")
    assert(WavDecoder.decode(Array[Byte](1, 2, 3, 4)).isEmpty)
    assert(WavDecoder.decode(Multimodal.MediaGen.png(32, 32)).isEmpty, "wrong container")
  }

  test("G.711 and IMA-ADPCM WAVs decode to the spec curves; fingerprints invariant across encodings") {
    // published G.711 anchor values through a hand-built container:
    // µ-law 0x00 -> -32124, 0xff -> 0; A-law 0x55 -> -8, 0xd5 -> +8
    def g711wav(tag: Int, data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      def le32(v: Int): Unit = { le16(v & 0xffff); le16(v >>> 16) }
      out.write("RIFF".getBytes("US-ASCII")); le32(38 + data.length)
      out.write("WAVE".getBytes("US-ASCII"))
      out.write("fmt ".getBytes("US-ASCII")); le32(18)
      le16(tag); le16(1); le32(8000); le32(8000); le16(1); le16(8); le16(0)
      out.write("data".getBytes("US-ASCII")); le32(data.length)
      out.write(data)
      // pad: the decoder requires >= 44 bytes of container
      out.write(new Array[Byte](8))
      out.toByteArray
    }
    val mu = WavDecoder.decode(g711wav(7, Array(0x00, 0xff.toByte, 0x80.toByte))).get
    assert(math.round(mu(0) * 32768).toInt == -32124, s"mu-law 0x00 anchor: ${mu(0) * 32768}")
    assert(math.round(mu(1) * 32768).toInt == 0, "mu-law 0xff anchor")
    assert(math.round(mu(2) * 32768).toInt == 32124, "mu-law 0x80 anchor")
    val al = WavDecoder.decode(g711wav(6, Array(0x55, 0xd5.toByte))).get
    assert(math.round(al(0) * 32768).toInt == -8 && math.round(al(1) * 32768).toInt == 8,
      s"A-law smallest-step anchors: ${al.toSeq.map(_ * 32768)}")

    // all five encodings of one waveform: bounded reconstruction error and
    // a fingerprint inside the dedup budget of the PCM reference
    val ref = AudioGen.samples(4000, 42L, 0)
    val refFp = Multimodal.audioFingerprint64(
      WavDecoder.decode(AudioGen.wav(4000, 42L, 0, bits = 16)).get).get
    val encodings = Seq(
      ("mulaw", AudioGen.wavG711(4000, 42L, 0), 0.016, 0.005),
      ("alaw", AudioGen.wavG711(4000, 42L, 0, alaw = true), 0.016, 0.005),
      ("adpcm", AudioGen.wavAdpcm(4000, 42L, 0), 0.2, 0.01))
    for ((name, bytes, maxBound, meanBound) <- encodings) {
      val got = WavDecoder.decode(bytes)
      assert(got.isDefined && got.get.length == 4000, s"$name decodes full length")
      val d = ref.zip(got.get).map(p => math.abs(p._1 - p._2))
      assert(d.max <= maxBound, s"$name max err ${d.max}")
      assert(d.sum / d.length <= meanBound, s"$name mean err ${d.sum / d.length}")
      val fp = Multimodal.audioFingerprint64(got.get).get
      assert(dham(fp, refFp) <= 6, s"$name fingerprint hamming ${dham(fp, refFp)}")
    }

    // never-throw over the new encodings: truncations + byte corruption
    val rnd = new scala.util.Random(4242)
    for (src <- Seq(AudioGen.wavG711(500, 3L, 0), AudioGen.wavG711(500, 3L, 0, alaw = true),
        AudioGen.wavAdpcm(500, 3L, 0))) {
      (0 until src.length by 7).foreach(n => WavDecoder.decode(src.take(n)))
      (0 until 100).foreach { _ =>
        val b = src.clone()
        (0 until 1 + rnd.nextInt(6)).foreach(_ =>
          b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte)
        WavDecoder.decode(b) // None or garbage samples, never a throw
      }
    }
    // stereo ADPCM is out of the decode matrix: flip channels to 2 -> None
    val stereo = AudioGen.wavAdpcm(500, 3L, 0).clone()
    stereo(22) = 2
    assert(WavDecoder.decode(stereo).isEmpty, "stereo ADPCM is declared out, not garbled")
  }

  test("audio dedup end-to-end: noisy twins collapse onto originals across sample widths") {
    import spark.implicits._
    val ids = (0L until 40L).toDF("doc_id")
    val base = Multimodal.withAudioPayload(ids)
    // +1001 ≡ +1 (mod 5): every twin lands in a DIFFERENT encoding slot
    // than its original — matching must cross sample widths, G.711
    // companding, and ADPCM block compression
    val twins = Multimodal.withAudioPayload(
      ids.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 1001L).as("doc_id"), col("doc_id").as("seed")),
      seedCol = "seed", noise = 8).drop("seed")
    val hashes = Multimodal.audioHashes(base.unionByName(twins))
    // every payload decodes but the declared-out MP3 slot (id % 8 = 7)
    val decodable = ((0L until 40L) ++ (0L until 40L by 4).map(_ + 1001L)).count(_ % 8 != 7)
    assert(hashes.count() == decodable, s"every non-MP3 payload decodes ($decodable)")
    val pairs = Multimodal.audioDupPairs(hashes, maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0L until 40L by 4).map(i => (i, i + 1001L)).toSet
    assert(planted.subsetOf(pairs), s"all planted twins found: missing ${planted -- pairs}")
    val kept = graft.operators.Dedup.collapseDuplicates(
      hashes.select("doc_id"), Multimodal.audioDupPairs(hashes, maxHamming = 10),
      idCol = "doc_id", aCol = "doc_a", bCol = "doc_b")
      .collect().map(_.getLong(0)).toSet
    assert(planted.forall(p => !kept.contains(p._2)), "every twin dropped")
  }

  test("AVI MJPEG: container metadata, frame slicing, sampled decode approximates each frame's field") {
    import graft.operators.Multimodal.{VideoDecoder, VideoGen}
    val avi = VideoGen.aviMjpeg(48, 32, 6, 42L, 0)
    // container metadata through the header parser
    val meta = Multimodal.ContainerParser.parse(avi)
    assert(meta.format == "avi" && meta.width == 48 && meta.height == 32)
    assert(meta.nFrames == 6 && meta.durationMs == 600, s"avih metadata: $meta")
    // every frame chunk is a standalone JPEG; slicing finds all of them
    val slices = VideoDecoder.frameSlices(avi)
    assert(slices.length == 6, s"frame slices: ${slices.length}")
    // sampled decode: each frame approximates ITS OWN field (JPEG-lossy)
    val grays = VideoDecoder.sampleFrames(avi, maxFrames = 6)
    assert(grays.length == 6)
    grays.zipWithIndex.foreach { case (g, f) =>
      val want = ImageGen.gray(48, 32, 42L * 1000003L + f, 0)
      val maxErr = g.pixels.zip(want).map { case (a, b) => math.abs(a - b) }.max
      assert(g.width == 48 && g.height == 32 && maxErr <= 24, s"frame $f err $maxErr")
    }
    // stride sampling bounds work: a 24-frame clip at maxFrames=6 decodes
    // every 4th frame, whole-timeline coverage
    val long = VideoGen.aviMjpeg(32, 24, 24, 7L, 0)
    val sampled = VideoDecoder.sampleFrames(long, maxFrames = 6)
    assert(sampled.length == 6)
    val want4 = ImageGen.gray(32, 24, 7L * 1000003L + 4, 0)
    val err4 = sampled(1).pixels.zip(want4).map { case (a, b) => math.abs(a - b) }.max
    assert(err4 <= 24, "second sample must be frame 4 (stride 4)")
    // never-throw: truncation sweep + byte corruption over the container
    (0 until avi.length by 11).foreach { n =>
      VideoDecoder.sampleFrames(avi.take(n)); Multimodal.ContainerParser.parse(avi.take(n))
    }
    val rnd = new scala.util.Random(99)
    (0 until 150).foreach { _ =>
      val b = avi.clone()
      (0 until 1 + rnd.nextInt(8)).foreach(_ => b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte)
      VideoDecoder.sampleFrames(b); Multimodal.ContainerParser.parse(b)
    }
    assert(VideoDecoder.frameSlices(ImageGen.png(8, 8, 1L, 0)).isEmpty, "non-AVI -> no frames")
  }

  test("MP4 MJPEG: sample tables slice every frame; fingerprints equal the AVI twin's; stsd gates") {
    import graft.operators.Multimodal.{PerceptualHash, VideoDecoder, VideoGen}
    // 7 frames at 3 samples/chunk: two full stsc runs + a remainder run
    val mp4 = VideoGen.mp4Mjpeg(48, 32, 7, 42L, 0)
    val meta = Multimodal.ContainerParser.parse(viaFile(mp4))
    assert(meta.format == "mp4" && meta.width == 48 && meta.height == 32)
    assert(meta.nFrames == 7 && meta.durationMs == 700, s"mp4 metadata: $meta")
    assert(VideoDecoder.frameSlices(mp4).length == 7)
    // container independence — the video analogue of the image family's
    // cross-container pinned hashes: per-frame dHashes equal the AVI
    // twin's for every chunking shape (single run, exact runs, remainder)
    for (n <- Seq(1, 3, 4, 6)) {
      val hm = VideoDecoder.sampleFrames(VideoGen.mp4Mjpeg(48, 32, n, 77L, 0), 8)
        .flatMap(PerceptualHash.dHash64)
      val ha = VideoDecoder.sampleFrames(VideoGen.aviMjpeg(48, 32, n, 77L, 0), 8)
        .flatMap(PerceptualHash.dHash64)
      assert(hm.nonEmpty && hm == ha, s"n=$n: mp4/avi fingerprints diverge")
    }
    // the stsd coding gate: a non-MJPEG fourcc (avc1) yields no slices —
    // the clip stays a measured decode-matrix gap — while the sample
    // COUNT still reads as metadata (codec-agnostic)
    val avc = mp4.clone()
    val stsdAt = mp4.indices.find(i => i + 20 <= mp4.length &&
      mp4(i) == 's' && mp4(i + 1) == 't' && mp4(i + 2) == 's' && mp4(i + 3) == 'd').get
    "avc1".getBytes.copyToArray(avc, stsdAt + 16) // entry fourcc: +4 ver/flags +4 count +4 size
    assert(VideoDecoder.frameSlices(avc).isEmpty, "non-MJPEG coding must not slice")
    assert(Multimodal.ContainerParser.parse(avc).nFrames == 7, "sample count is codec-agnostic")
    // metadata-only fixtures (no sample tables) still report zero frames
    assert(Multimodal.ContainerParser.parse(MediaGen.mp4(10, 8, 1234)).nFrames == 0)
    // never-throw: truncation sweep (moov rides last: a cut body loses
    // the tables and yields zero slices, never an exception) + corruption
    (0 until mp4.length by 7).foreach { n =>
      VideoDecoder.sampleFrames(mp4.take(n)); Multimodal.ContainerParser.parse(mp4.take(n))
    }
    val rnd = new scala.util.Random(4242)
    (0 until 150).foreach { _ =>
      val b = mp4.clone()
      (0 until 1 + rnd.nextInt(8)).foreach(_ => b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte)
      VideoDecoder.sampleFrames(b); Multimodal.ContainerParser.parse(b)
    }
  }

  test("AVI/GIF walker fuzz soak: corrupt/truncate/splice/duplicate never throw, bounded work") {
    // the progressive-JPEG fuzz playbook pointed at the two CHUNK WALKERS:
    // seed-randomized byte corruption (headers, chunk sizes, LZW/JPEG
    // payloads), truncation, cross-container splices, and chunk-list
    // duplication over AVI and GIF fixture corpora. Every walk + decode
    // must RETURN under the never-throw contract inside the work budget —
    // a corrupted RIFF size or LZW width must not spin or allocate wild.
    // GRAFT_SOAK=n multiplies iterations for soak runs.
    import graft.operators.Multimodal.{VideoDecoder, VideoGen}
    val iters = 400 * math.max(1, sys.env.get("GRAFT_SOAK").map(_.toInt / 8).getOrElse(1))
    val rnd = new scala.util.Random(20260815L)
    val avis = Seq(
      VideoGen.aviMjpeg(48, 32, 6, 42L, 0),
      VideoGen.aviMjpeg(32, 24, 24, 7L, 4),
      VideoGen.aviMjpeg(16, 16, 1, 3L, 0),
      // the MP4 sample-table walker rides the same soak: crafted box
      // sizes, stsz/stsc/stco counts, and spliced moov trees must stay
      // inside the never-throw + bounded-work contract too
      VideoGen.mp4Mjpeg(48, 32, 6, 42L, 0),
      VideoGen.mp4Mjpeg(32, 24, 24, 7L, 4),
      VideoGen.mp4Mjpeg(16, 16, 1, 3L, 0))
    val gifs = Seq(
      ImageGen.gif(32, 24, 7L, 0),
      ImageGen.gif(17, 13, 11L, 4, interlaced = true),
      ImageGen.gif(300, 5, 3L, 0))
    var i = 0
    while (i < iters) {
      val fromAvi = rnd.nextBoolean()
      val pool = if (fromAvi) avis else gifs
      val src = pool(rnd.nextInt(pool.length))
      val b: Array[Byte] = rnd.nextInt(4) match {
        case 0 => // byte corruption anywhere
          val c = src.clone()
          (0 until 1 + rnd.nextInt(8)).foreach(_ =>
            c(rnd.nextInt(c.length)) = rnd.nextInt(256).toByte)
          c
        case 1 => // truncation
          src.take(1 + rnd.nextInt(src.length - 1))
        case 2 => // splice: the tail of the OTHER container family grafted in
          val other = (avis ++ gifs)(rnd.nextInt(avis.length + gifs.length))
          src.take(1 + rnd.nextInt(src.length - 1)) ++ other.drop(rnd.nextInt(other.length))
        case _ => // duplication: a mid-stream span repeated (chunk-list bombs)
          val at = rnd.nextInt(src.length - 1)
          val end = at + 1 + rnd.nextInt(src.length - at - 1)
          src.take(end) ++ src.slice(at, end) ++ src.drop(end)
      }
      val t0 = System.nanoTime()
      if (fromAvi) {
        VideoDecoder.sampleFrames(b, maxFrames = 4)
        Multimodal.ContainerParser.parse(b)
      } else {
        ImageDecoder.decode(b)
        Multimodal.ContainerParser.parse(b)
      }
      val ms = (System.nanoTime() - t0) / 1e6
      assert(ms < 3000, s"walk exceeded the work budget: $ms ms (iter $i)")
      i += 1
    }
  }

  test("video dedup end-to-end: noisy re-encoded clips collapse onto originals, unrelated clips apart") {
    import spark.implicits._
    val ids = (0L until 30L).toDF("doc_id")
    val base = Multimodal.withVideoPayload(ids)
    val twins = Multimodal.withVideoPayload(
      ids.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 2001L).as("doc_id"), col("doc_id").as("seed")),
      seedCol = "seed", noise = 8).drop("seed")
    val hashes = Multimodal.videoHashes(base.unionByName(twins))
    assert(hashes.count() == 40, "every clip decodes (30 base + 10 twins)")
    assert(hashes.head().getAs[scala.collection.Seq[Long]]("fhashes").length == 6,
      "one dHash per sampled frame")
    val pairs = Multimodal.videoDupPairs(hashes, maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    val planted = (0L until 30L by 3).map(i => (i, i + 2001L)).toSet
    assert(planted == pairs.map(p => (p._1, p._2)),
      s"exactly the planted twins pair: missing ${planted -- pairs.map(p => (p._1, p._2))}, " +
        s"extra ${pairs.map(p => (p._1, p._2)) -- planted}")
    assert(pairs.forall(_._3 >= 0.99), s"noise twins match on every aligned slot: $pairs")
    val kept = graft.operators.Dedup.collapseDuplicates(
      hashes.select("doc_id"),
      Multimodal.videoDupPairs(hashes, maxHamming = 10).select("doc_a", "doc_b"),
      idCol = "doc_id", aCol = "doc_a", bCol = "doc_b")
      .collect().map(_.getLong(0)).toSet
    assert(planted.forall(p => !kept.contains(p._2)), "every twin clip dropped")
  }

  test("incremental image dedup: persisted signature store, probe == full recompute, takedown works") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_imgidx_").toString
    val corpusIds = (0L until 30L).toDF("doc_id")
    val corpusSigs = Multimodal.imageSignatures(Multimodal.withImagePayload(corpusIds))
    graft.operators.Dedup.writeSignatureIndex(corpusSigs, tmp)
    // batch: a noisy twin of stored image 8, a fresh image, an in-batch
    // twin pair (both renders of seed 90)
    val batch =
      Multimodal.imageSignatures(Multimodal.withImagePayload(
        Seq((500L, 8L)).toDF("doc_id", "seed"), seedCol = "seed", noise = 8))
      .unionByName(Multimodal.imageSignatures(Multimodal.withImagePayload(
        Seq((501L, 90L), (502L, 90L), (503L, 91L)).toDF("doc_id", "seed"), seedCol = "seed")))
      .localCheckpoint()
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = pairsOf(graft.operators.Dedup.signatureIncremental(batch, tmp, maxHamming = 10))
    assert(inc.contains((8L, 500L)), s"stored-vs-batch twin found: $inc")
    assert(inc.contains((501L, 502L)), s"in-batch twin pair found: $inc")
    // incremental == full signature-pair recompute restricted to batch rows
    val batchIds = Set(500L, 501L, 502L, 503L)
    val full = pairsOf(graft.operators.Dedup.simHashPairsFromSignatures(
      corpusSigs.unionByName(batch), maxHamming = 10))
      .filter(p => batchIds.contains(p._1) || batchIds.contains(p._2))
    assert(inc == full, s"incremental must equal restricted recompute: $inc vs $full")
    // append the batch, then takedown image 8: its pair disappears from a
    // fresh probe of the same twin under a new id
    graft.operators.Dedup.appendToSignatureIndex(batch, tmp)
    graft.operators.Dedup.deleteFromDocIndex(Seq(8L).toDF("doc_id"), tmp)
    val reprobe = Multimodal.imageSignatures(Multimodal.withImagePayload(
      Seq((600L, 8L)).toDF("doc_id", "seed"), seedCol = "seed", noise = 4))
    val after = pairsOf(graft.operators.Dedup.signatureIncremental(reprobe, tmp, maxHamming = 10))
    assert(!after.contains((8L, 600L)), "tombstoned image must not suppress or pair")
    assert(after.contains((500L, 600L)), s"the appended twin still pairs: $after")
  }

  test("streaming image dedup-on-write: corpus/cross-batch/in-batch twins drop; crash replay stable") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_imging_").toString
    // store seeded with images 0..19
    val corpusIds = (0L until 20L).toDF("doc_id")
    graft.operators.Dedup.writeSignatureIndex(
      Multimodal.imageSignatures(Multimodal.withImagePayload(corpusIds)), s"$tmp/idx")

    def writeSrc(name: String, rows: Seq[(Long, Long, Int)]): Unit = {
      // driver-side generation: per-row noise, alternating containers
      val gen = rows.map { case (id, seed, nz) =>
        (id, if (id % 3 == 0) Multimodal.ImageGen.bmp(64, 48, seed, nz)
             else Multimodal.ImageGen.png(64, 48, seed, nz))
      }.toDF("doc_id", "payload")
      gen.coalesce(1).write.mode("overwrite").parquet(s"$tmp/stage/$name")
      val dst = new java.io.File(s"$tmp/src"); dst.mkdirs()
      new java.io.File(s"$tmp/stage/$name").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.move(
          f.toPath, new java.io.File(dst, s"$name.parquet").toPath))
    }
    writeSrc("f1", Seq(
      (700L, 200L, 0),  // fresh -> kept
      (701L, 5L, 4)))   // noisy twin of STORED image 5 -> dropped
    writeSrc("f2", Seq(
      (702L, 200L, 4),  // cross-batch twin of kept 700 -> dropped
      (703L, 201L, 0),  // fresh -> kept
      (704L, 202L, 0),  // in-batch twin pair: min id kept
      (705L, 202L, 4))) // -> dropped

    val schema = spark.read.parquet(s"$tmp/src").schema
    def run(): Unit = graft.streaming.Ingest.startSignatureIngest(
      spark, s"$tmp/src", schema, s"$tmp/sink", s"$tmp/ckpt", s"$tmp/idx",
      graft.operators.Multimodal.imageSignatures(_), maxHamming = 10,
      maxFilesPerTrigger = Some(1)).awaitTermination()
    run()
    def sinkIds() = graft.streaming.Ingest
      .readCommitted(spark, s"$tmp/sink", s"$tmp/ckpt")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sinkIds() == Set(700L, 703L, 704L), s"got ${sinkIds()}")
    // crash replay: drop the last streaming commit and restart
    val commits = new java.io.File(s"$tmp/ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val last = commits.last
    val crc = new java.io.File(last.getParentFile, s".${last.getName}.crc")
    last.delete(); if (crc.exists()) crc.delete()
    run()
    assert(sinkIds() == Set(700L, 703L, 704L), "replay must not change the kept set")
    // the store holds corpus + kept streamed signatures only
    val stored = spark.read.parquet(s"$tmp/idx/docs").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val segDirs = Option(new java.io.File(s"$tmp/idx/segs").listFiles()).map(_.toSeq)
      .getOrElse(Seq.empty).filter(_.isDirectory)
    val streamed = segDirs.map(d => spark.read.parquet(d.toString))
      .reduce(_ unionByName _).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(stored == (0L until 20L).toSet && streamed == Set(700L, 703L, 704L),
      s"store = corpus + kept survivors: $streamed")
  }

  test("incremental video dedup: persisted slot store, probe == full recompute, takedown works") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_vidx_").toString
    val corpusIds = (0L until 20L).toDF("doc_id")
    val corpusHashes = Multimodal.videoHashes(
      Multimodal.withVideoPayload(corpusIds, frames = 4)).localCheckpoint()
    Multimodal.writeVideoIndex(corpusHashes, tmp)
    // the stored rows are slot-encoded: clip 0 with 4 sampled slots owns
    // ids 0*256 + 4*16 + {0..3}
    val storedIds = spark.read.parquet(s"$tmp/docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(storedIds.contains(4L * 16), s"slot-encoded ids expected: ${storedIds.take(5)}")
    assert(storedIds.size == 20 * 4, "one row per sampled slot")

    // batch: a noisy twin of stored clip 8, an in-batch twin pair (both
    // renders of seed 90), and a fresh clip
    val batchHashes = Multimodal.videoHashes(
      Multimodal.withVideoPayload(
          Seq((500L, 8L)).toDF("doc_id", "seed"), seedCol = "seed", frames = 4, noise = 8)
        .unionByName(Multimodal.withVideoPayload(
          Seq((501L, 90L), (502L, 90L), (503L, 91L)).toDF("doc_id", "seed"),
          seedCol = "seed", frames = 4))
        .drop("seed")).localCheckpoint()
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "matched_slots")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inc = pairsOf(Multimodal.videoIncremental(batchHashes, tmp, maxHamming = 10))
    assert(inc.exists(p => p._1 == 8L && p._2 == 500L), s"stored-vs-batch clip twin found: $inc")
    assert(inc.exists(p => p._1 == 501L && p._2 == 502L), s"in-batch clip twin found: $inc")
    // incremental == full per-clip recompute restricted to batch pairs,
    // slot counts included (the slot-encoded round trip loses nothing)
    val batchIds = Set(500L, 501L, 502L, 503L)
    val full = pairsOf(Multimodal.videoDupPairs(
        corpusHashes.unionByName(batchHashes), maxHamming = 10))
      .filter(p => batchIds.contains(p._1) || batchIds.contains(p._2))
    assert(inc == full, s"incremental must equal restricted recompute: $inc vs $full")

    // append the batch, then takedown clip 8: its pair disappears from a
    // fresh probe of the same twin under a new id, while the appended
    // batch twin still pairs
    Multimodal.appendToVideoIndex(batchHashes, tmp)
    assert(Multimodal.deleteVideoFromIndex(Seq(8L).toDF("doc_id"), tmp) == 1L)
    val reprobe = Multimodal.videoHashes(Multimodal.withVideoPayload(
      Seq((600L, 8L)).toDF("doc_id", "seed"), seedCol = "seed", frames = 4, noise = 4))
    val after = pairsOf(Multimodal.videoIncremental(reprobe, tmp, maxHamming = 10))
    assert(!after.exists(p => p._1 == 8L || p._2 == 8L),
      s"tombstoned clip must not suppress or pair: $after")
    assert(after.exists(p => p._1 == 500L && p._2 == 600L),
      s"the appended twin still pairs: $after")
    // compaction folds the tombstone into a physical rewrite; the probe
    // result is unchanged
    graft.operators.Dedup.compactDocIndex(spark, tmp)
    assert(pairsOf(Multimodal.videoIncremental(reprobe, tmp, maxHamming = 10)) == after,
      "probe unchanged across compaction")
    graft.core.Stage.free(batchHashes); graft.core.Stage.free(corpusHashes)
  }

  test("streaming video dedup-on-write: corpus/cross-batch/in-batch clip twins drop; crash replay stable") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_viding_").toString
    // store seeded with clips 0..9
    val corpusIds = (0L until 10L).toDF("doc_id")
    Multimodal.writeVideoIndex(
      Multimodal.videoHashes(Multimodal.withVideoPayload(corpusIds, frames = 4)), s"$tmp/idx")

    def writeSrc(name: String, rows: Seq[(Long, Long, Int)]): Unit = {
      val gen = rows.map { case (id, seed, nz) =>
        (id, Multimodal.VideoGen.aviMjpeg(48, 32, 4, seed, nz))
      }.toDF("doc_id", "payload")
      gen.coalesce(1).write.mode("overwrite").parquet(s"$tmp/stage/$name")
      val dst = new java.io.File(s"$tmp/src"); dst.mkdirs()
      new java.io.File(s"$tmp/stage/$name").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.move(
          f.toPath, new java.io.File(dst, s"$name.parquet").toPath))
    }
    writeSrc("f1", Seq(
      (700L, 200L, 0),  // fresh -> kept
      (701L, 5L, 4)))   // noisy twin of STORED clip 5 -> dropped
    writeSrc("f2", Seq(
      (702L, 200L, 4),  // cross-batch twin of kept 700 -> dropped
      (703L, 201L, 0),  // fresh -> kept
      (704L, 202L, 0),  // in-batch twin pair: min id kept
      (705L, 202L, 4))) // -> dropped

    val schema = spark.read.parquet(s"$tmp/src").schema
    def run(): Unit = graft.streaming.Ingest.startVideoIngest(
      spark, s"$tmp/src", schema, s"$tmp/sink", s"$tmp/ckpt", s"$tmp/idx",
      maxHamming = 10, maxFrames = 4,
      maxFilesPerTrigger = Some(1)).awaitTermination()
    run()
    def sinkIds() = graft.streaming.Ingest
      .readCommitted(spark, s"$tmp/sink", s"$tmp/ckpt")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sinkIds() == Set(700L, 703L, 704L), s"got ${sinkIds()}")
    // crash replay: drop the last streaming commit and restart
    val commits = new java.io.File(s"$tmp/ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val last = commits.last
    val crc = new java.io.File(last.getParentFile, s".${last.getName}.crc")
    last.delete(); if (crc.exists()) crc.delete()
    run()
    assert(sinkIds() == Set(700L, 703L, 704L), "replay must not change the kept set")
    // the store holds corpus + kept streamed SLOT rows only (decoded clip
    // ids: slot-encoded id >> 8)
    val storedClips = spark.read.parquet(s"$tmp/idx/docs")
      .select(org.apache.spark.sql.functions.shiftright(col("doc_id"), 8).as("clip"))
      .collect().map(_.getLong(0)).toSet
    val segDirs = Option(new java.io.File(s"$tmp/idx/segs").listFiles()).map(_.toSeq)
      .getOrElse(Seq.empty).filter(_.isDirectory)
    val streamedClips = segDirs.map(d => spark.read.parquet(d.toString))
      .reduce(_ unionByName _)
      .select(org.apache.spark.sql.functions.shiftright(col("doc_id"), 8).as("clip"))
      .collect().map(_.getLong(0)).toSet
    assert(storedClips == (0L until 10L).toSet && streamedClips == Set(700L, 703L, 704L),
      s"store = corpus + kept survivors: $streamedClips")
    // fold the segments beside nothing live, then re-probe a twin of a
    // streamed survivor: still pairs through the folded store
    graft.operators.Dedup.foldDocSegments(spark, s"$tmp/idx")
    val reprobe = Multimodal.videoHashes(Multimodal.withVideoPayload(
      Seq((800L, 200L)).toDF("doc_id", "seed"), seedCol = "seed", frames = 4, noise = 4))
    val pairs = Multimodal.videoIncremental(reprobe, s"$tmp/idx", maxHamming = 10)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((700L, 800L)),
      s"a streamed survivor's twin pairs after the fold: $pairs")
  }

  test("PNG: a zlib FDICT header in IDAT is undecodable, not an infinite loop") {
    import java.util.zip.CRC32
    def be32(v: Int) = Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(be32(data.length))
      val tb = typ.getBytes("US-ASCII")
      out.write(tb); out.write(data)
      val crc = new CRC32(); crc.update(tb); crc.update(data)
      out.write(be32(crc.getValue.toInt))
      out.toByteArray
    }
    val sig = Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte,
      0x0d.toByte, 0x0a.toByte, 0x1a.toByte, 0x0a.toByte)
    val ihdr = chunk("IHDR", Array[Byte](0, 0, 0, 2, 0, 0, 0, 2, 8, 0, 0, 0, 0))
    // zlib header 0x78 0xF9: FCHECK passes (0x78F9 % 31 == 0) and the FDICT
    // bit is set — PNG forbids preset dictionaries, and Inflater.inflate
    // returns 0 with needsDictionary()=true forever on such a stream; a
    // needsInput-only break condition spins the inflate loop indefinitely
    val idat = chunk("IDAT", Array(0x78.toByte, 0xF9.toByte, 1, 2, 3, 4))
    val iend = chunk("IEND", Array.empty[Byte])
    val png = sig ++ ihdr ++ idat ++ iend
    assert(Multimodal.ImageDecoder.decode(png).isEmpty,
      "an FDICT zlib stream must be skipped as undecodable, never spun on")
  }

  test("PNG: header-declared gigapixel dimensions are rejected before allocating") {
    import java.util.zip.CRC32
    def be32(v: Int) = Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(be32(data.length))
      val tb = typ.getBytes("US-ASCII")
      out.write(tb); out.write(data)
      val crc = new CRC32(); crc.update(tb); crc.update(data)
      out.write(be32(crc.getValue.toInt))
      out.toByteArray
    }
    val sig = Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte,
      0x0d.toByte, 0x0a.toByte, 0x1a.toByte, 0x0a.toByte)
    // a ~70-byte payload claiming 20000x20000 pixels: decode buffers derive
    // from the header, so without the input-size guard this would allocate
    // ~400 MB (and the recon pass ~1.6 GB) from nothing — a memory bomb
    // against a corpus-scanning executor
    def dims(w: Int, h: Int) =
      chunk("IHDR", be32(w) ++ be32(h) ++ Array[Byte](8, 0, 0, 0, 0))
    val idat = chunk("IDAT", Array[Byte](0x78, 0x01, 1, 2, 3))
    val iend = chunk("IEND", Array.empty[Byte])
    assert(Multimodal.ImageDecoder.decode(sig ++ dims(20000, 20000) ++ idat ++ iend).isEmpty,
      "gigapixel header with a 5-byte stream must be rejected, not allocated")
    // Int-overflowing dimensions must not wrap into a negative allocation
    assert(Multimodal.ImageDecoder.decode(sig ++ dims(0x40000, 0x40000) ++ idat ++ iend).isEmpty)
  }

  test("decoder fuzz: mutated containers and random bytes never throw") {
    import graft.operators.Multimodal.{ContainerParser, ImageDecoder, ImageGen, WavDecoder}
    val rnd = new scala.util.Random(12345) // fixed seed: reproducible corpus
    val basePng = ImageGen.png(32, 24, 7L, 0)
    val baseBmp = ImageGen.bmp(32, 24, 7L, 0)
    val baseGif = ImageGen.gif(32, 24, 7L, 0)
    val baseGifIl = ImageGen.gif(32, 24, 7L, 0, interlaced = true)
    val baseWav = MediaGen.wav(256)
    (0 until 300).foreach { _ =>
      val src = rnd.nextInt(5) match {
        case 0 => basePng case 1 => baseBmp case 2 => baseGif
        case 3 => baseGifIl case _ => baseWav
      }
      val b = src.clone()
      (0 until 1 + rnd.nextInt(8)).foreach { _ =>
        b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte }
      // each call must RETURN (None or garbage-metadata), never throw
      ImageDecoder.decode(b); WavDecoder.decode(b); ContainerParser.parse(b)
    }
    (0 until 100).foreach { _ =>
      val b = new Array[Byte](rnd.nextInt(512))
      rnd.nextBytes(b)
      ImageDecoder.decode(b); WavDecoder.decode(b); ContainerParser.parse(b)
    }
    // truncations of valid containers at every stride-7 prefix
    Seq(basePng, baseBmp, baseGif, baseGifIl, baseWav).foreach { src =>
      (0 until src.length by 7).foreach { n =>
        val b = src.take(n)
        ImageDecoder.decode(b); WavDecoder.decode(b); ContainerParser.parse(b)
      }
    }
  }

  test("resample: hand-computed box averages, replication upscale, container independence") {
    import graft.operators.Multimodal.{ImageDecoder, ImageGen, PerceptualHash}
    // 2x2 fixture [0, 64; 128, 255]: 1x1 target = whole-image mean,
    // 2x2 target = identity
    val g = ImageDecoder.Gray(2, 2, Array(0, 64, 128, 255))
    assert(PerceptualHash.resample(g, 1, 1).toSeq ==
      Seq(((0 + 64 + 128 + 255) / 4.0 / 255.0).toFloat))
    assert(PerceptualHash.resample(g, 2, 2).toSeq ==
      Seq(0f, (64 / 255.0).toFloat, (128 / 255.0).toFloat, 1f))
    // non-square target: each 1x2 column cell averages vertically
    assert(PerceptualHash.resample(g, 2, 1).toSeq ==
      Seq(((0 + 128) / 2.0 / 255.0).toFloat, ((64 + 255) / 2.0 / 255.0).toFloat))
    // upscale replicates: a 1x1 source fills any target with its value
    val one = ImageDecoder.Gray(1, 1, Array(200))
    assert(PerceptualHash.resample(one, 3, 2).toSeq ==
      Seq.fill(6)((200 / 255.0).toFloat))
    // container independence: PNG and BMP of the same pixels resize equally
    val png = ImageDecoder.decode(ImageGen.png(64, 48, 42L, 0)).get
    val bmp = ImageDecoder.decode(ImageGen.bmp(64, 48, 42L, 0)).get
    assert(PerceptualHash.resample(png, 16, 16).toSeq ==
      PerceptualHash.resample(bmp, 16, 16).toSeq)
  }

  test("resizeImages: fixed-shape tensors distributedly; undecodable rows drop") {
    import spark.implicits._
    import graft.operators.Multimodal
    val ids = (0L until 40L).toDF("doc_id")
    val withP = Multimodal.withImagePayload(ids)
    val out = Multimodal.resizeImages(withP, 16, 16).collect()
    assert(out.length == 40, "every synthesized payload decodes")
    out.foreach { r =>
      val px = r.getSeq[Float](3)
      assert(px.length == 16 * 16, "fixed shape regardless of source size")
      assert(px.forall(v => v >= 0f && v <= 1f), "normalized range")
      assert(r.getInt(1) == 64 && r.getInt(2) == 48, "source dims reported")
    }
    // undecodable payloads (garbage bytes) drop, never throw
    val garbage = Seq((900L, Array.fill[Byte](64)(0x5a))).toDF("doc_id", "payload")
    assert(Multimodal.resizeImages(withP.select("doc_id", "payload")
      .unionByName(garbage), 8, 8).count() == 40)
    // facade: same computation
    val viaFacade = Graft(spark, TestSpark.Sf0001)
      .imageTensors(withP, 16, 16).count()
    assert(viaFacade == 40)
  }

  test("withImagePayload container knobs: jpegEvery = 1 means every id, default rotation pinned") {
    val ids = spark.range(12).select(col("id").as("doc_id"))
    def heads(df: org.apache.spark.sql.DataFrame): Seq[(Long, Array[Byte])] =
      df.select("doc_id", "payload").collect()
        .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).take(2))).toSeq
    // jpegEvery = 1 (with BMP off) is the all-JPEG corpus — pre-fix the
    // residue test `id % 1 == 1` never fired and every payload was PNG
    val allJpeg = heads(Multimodal.withImagePayload(ids, bmpEvery = 0, jpegEvery = 1))
    assert(allJpeg.forall { case (_, h) => (h(0) & 0xFF) == 0xFF && (h(1) & 0xFF) == 0xD8 },
      "every payload must carry the JPEG SOI marker")
    // the default BMP/JPEG/(PNG|GIF|WEBP) rotation: the lossless slot
    // rotates PNG, GIF, WEBP by slot ordinal
    val rot = heads(Multimodal.withImagePayload(ids)).toMap
    assert(rot(0L).sameElements(Array[Byte]('B', 'M')), "id % 3 == 0 is BMP")
    assert((rot(1L)(0) & 0xFF) == 0xFF && (rot(1L)(1) & 0xFF) == 0xD8, "id % 3 == 1 is JPEG")
    assert((rot(2L)(0) & 0xFF) == 0x89 && rot(2L)(1) == 'P'.toByte, "slot ordinal 0 is PNG")
    assert(rot(5L)(0) == 'G'.toByte && rot(5L)(1) == 'I'.toByte, "slot ordinal 1 is GIF")
    assert(rot(8L)(0) == 'R'.toByte && rot(8L)(1) == 'I'.toByte, "slot ordinal 2 is WEBP")
    assert((rot(11L)(0) & 0xFF) == 0x89, "slot ordinal 3 is PNG again")
  }

  test("JPEG decode tolerates 0xFF fill bytes before markers (T.81 B.1.1.2)") {
    val clean = ImageGen.jpeg(64, 48, 42L, 0)
    val want = ImageDecoder.decode(clean).get
    // insert fill bytes immediately before the first DHT marker (FF C4) —
    // pre-fix the walk read the fill 0xFF as a marker code, fell to the
    // skip-unknown default, parsed a garbage length, and returned None:
    // the spec-conforming image was silently excluded from dedup
    val at = clean.indices.find(i => i + 1 < clean.length &&
      (clean(i) & 0xFF) == 0xFF && (clean(i + 1) & 0xFF) == 0xC4).get
    val padded = clean.take(at) ++ Array(0xFF.toByte, 0xFF.toByte) ++ clean.drop(at)
    val got = ImageDecoder.decode(padded)
    assert(got.isDefined, "a fill-byte padded JPEG must decode")
    assert(got.get.width == want.width && got.get.height == want.height &&
      got.get.pixels.sameElements(want.pixels),
      "fill bytes change the byte stream, never the pixels")
  }
}
