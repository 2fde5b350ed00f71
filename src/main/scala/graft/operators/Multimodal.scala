package graft.operators

import java.awt.color.ColorSpace
import java.awt.image.{BufferedImage, Raster}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.CRC32
import javax.imageio.ImageIO
import javax.imageio.stream.MemoryCacheImageInputStream

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

import scala.reflect.runtime.universe.TypeTag

/** Multimodal column plumbing: opaque `binary` payloads + typed metadata,
  * with decode/feature-extraction as partition-parallel typed transforms
  * (the Scala analogue of arrow-batched Pandas UDFs).
  *
  * The decode step is REAL pure-JVM container parsing ([[ContainerParser]]):
  * PNG IHDR, GIF logical-screen descriptor + block-walk frame count, BMP
  * info header, WAV RIFF fmt/data chunks (duration), a JPEG marker scan
  * for the SOF frame header, and an MP4/ISO-BMFF box walk (mvhd duration,
  * tkhd dimensions). All six are public byte-level format specs — no codec
  * library is needed to read dimensions/durations from headers.
  * Full pixel/sample decode would need codecs the container lacks; header
  * parsing is the part of a 100 TB media-metadata pass that is pure
  * byte-arithmetic, and it runs partition-parallel with payload bytes never
  * leaving the executors.
  *
  * The testdata has no real media files, so [[withBinaryPayload]] SYNTHESIZES
  * genuine container bytes (valid PNG/JPEG/GIF/WAV/MP4, built byte-by-byte
  * with correct signatures, chunk layout, and CRCs) deterministically from each
  * document — the parse path is exercised end-to-end on real formats. In
  * production the payload column arrives as-is and only [[extractFeatures]]
  * is used.
  */
object Multimodal {

  /** The decode stages' shared input prep: (id, payload) rows, SPREAD to
    * the session's default parallelism when the source scan planned fewer
    * partitions. Payload blobs pack thousands of rows into one parquet
    * split (a 30 MB file of 5 KB blobs is ONE scan task), so without this
    * every mapPartitions decode pass — the dominant wall at 100 TB — runs
    * on a handful of cores while the rest idle (measured: q30i's decode
    * stage 18.6 s on 2 tasks vs ~2 s spread; guide §2.5 "input skew:
    * repartition immediately after the read"). The exchange is keyed on
    * the id (deterministic under task retry — never round-robin a
    * non-deterministic input) and moves each payload once; at scale the
    * scan already has >= parallelism partitions and the condition never
    * fires. Decode outputs are per-row, so partitioning cannot change any
    * result. */
  private def payloadInput(
      withPayload: DataFrame, idCol: String): org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    val sel = withPayload.select(col(idCol).cast("long").as("_pid"), col("payload"))
    val par = sel.sparkSession.sparkContext.defaultParallelism
    val spread =
      if (sel.rdd.getNumPartitions < par) sel.repartition(par, col("_pid"))
      else sel
    spread.as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
  }

  final case class MediaFeatures(
      doc_id: Long,
      payload_len: Int,
      format: String,
      width: Int,
      height: Int,
      n_frames: Int,
      duration_ms: Long,
      checksum: Long)

  /** Byte-level header parser for common media containers. Malformed or
    * truncated input yields `unknown` with zeroed metadata — never throws.
    * Formats per their public specs: PNG (RFC 2083), GIF89a (W3C), BMP
    * (BITMAPINFOHEADER), WAV (RIFF), JPEG (ITU T.81 segment markers),
    * MP4/ISO-BMFF (ISO/IEC 14496-12 box walk), MP3 (ISO/IEC 11172-3
    * frame walk).
    */
  object ContainerParser {
    final case class Meta(format: String, width: Int, height: Int, nFrames: Int, durationMs: Long)
    val Unknown: Meta = Meta("unknown", 0, 0, 0, 0L)

    private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
    private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
    private def be32(b: Array[Byte], i: Int): Int =
      (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
    private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
    private def le32(b: Array[Byte], i: Int): Int =
      u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

    def parse(b: Array[Byte]): Meta =
      try {
        if (b.length >= 8 && be32(b, 0) == 0x89504e47 && be32(b, 4) == 0x0d0a1a0a) parsePng(b)
        else if (b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
          (b(4) == '7' || b(4) == '9') && b(5) == 'a') parseGif(b)
        else if (b.length >= 26 && b(0) == 'B' && b(1) == 'M') parseBmp(b)
        else if (b.length >= 12 && be32(b, 0) == 0x52494646 && be32(b, 8) == 0x57415645) parseWav(b)
        else if (b.length >= 12 && be32(b, 0) == 0x52494646 && be32(b, 8) == 0x41564920) parseAvi(b)
        else if (b.length >= 12 && be32(b, 0) == 0x52494646 && be32(b, 8) == 0x57454250) parseWebp(b)
        else if (b.length >= 12 && be32(b, 0) == 0x464f524d &&
          (be32(b, 8) == 0x41494646 || be32(b, 8) == 0x41494643)) parseAiff(b) // FORM/AIF[FC]
        else if (b.length >= 42 && be32(b, 0) == 0x664c6143) parseFlac(b) // "fLaC"
        else if (b.length >= 4 && u8(b, 0) == 0xff && u8(b, 1) == 0xd8) parseJpeg(b)
        else if (b.length >= 12 && be32(b, 4) == 0x66747970) parseMp4(b) // "ftyp"
        else parseMp3Audio(b)
      } catch { case _: ArrayIndexOutOfBoundsException => Unknown }

    /** An MPEG-1 Layer III frame header (ISO/IEC 11172-3): what the frame
      * walk needs to step to the next frame. */
    private final case class Mp3Header(
        bitrateKbps: Int, sampleRate: Int, padding: Int, channels: Int, crc: Boolean) {
      def frameBytes: Int = 144 * bitrateKbps * 1000 / sampleRate + padding
      def sideInfoBytes: Int = if (channels == 1) 17 else 32
    }
    private val Mp3Bitrates = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    private val Mp3SampleRates = Array(44100, 48000, 32000)

    /** The MPEG-1 Layer III header at `off`; None if not one (free-format
      * and reserved indexes included). */
    private def mp3Header(b: Array[Byte], off: Int): Option[Mp3Header] = {
      if (off + 4 > b.length) return None
      val h1 = u8(b, off + 1); val h2 = u8(b, off + 2); val h3 = u8(b, off + 3)
      if (u8(b, off) != 0xff || (h1 & 0xe0) != 0xe0) return None
      if ((h1 & 0x18) != 0x18 || (h1 & 0x06) != 0x02) return None // MPEG-1 Layer III only
      val brIdx = (h2 >> 4) & 0xf
      val srIdx = (h2 >> 2) & 0x3
      if (brIdx == 0 || brIdx == 15 || srIdx == 3) return None
      Some(Mp3Header(Mp3Bitrates(brIdx), Mp3SampleRates(srIdx), (h2 >> 1) & 1,
        if (((h3 >> 6) & 0x3) == 3) 1 else 2, (h1 & 1) == 0))
    }

    /** Skip a leading ID3v2 container if present (syncsafe size). */
    private def skipId3(b: Array[Byte]): Int =
      if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
        val sz = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) | ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
        math.min(b.length, 10 + sz)
      } else 0

    /** True when the frame at `off` carries a Xing/Info tag after its side
      * info: an encoder's metadata frame, not audio. */
    private def xingInfo(b: Array[Byte], off: Int, h: Mp3Header): Boolean = {
      val at = off + 4 + (if (h.crc) 2 else 0) + h.sideInfoBytes
      at + 8 <= b.length && {
        val tag = new String(b, at, 4, StandardCharsets.US_ASCII)
        tag == "Xing" || tag == "Info"
      }
    }

    /** MPEG-1 Layer III: bounded frame walk counting audio frames (an
      * Info/Xing first frame is metadata, not audio); duration from the
      * spec's 1152 samples/frame at the header rate. Unknown when no frame
      * header starts the stream. Samples are declared out of the decode
      * matrix: only the container metadata is read. */
    private def parseMp3Audio(b: Array[Byte]): Meta = {
      var off = skipId3(b)
      val h0 = mp3Header(b, off).getOrElse(return Unknown)
      if (xingInfo(b, off, h0)) off += h0.frameBytes
      var frames = 0
      while (frames < 24000 && off + 4 <= b.length) {
        mp3Header(b, off) match {
          case Some(h) if off + h.frameBytes <= b.length =>
            frames += 1
            off += h.frameBytes
          case _ => off = b.length
        }
      }
      Meta("mp3", 0, 0, frames, frames.toLong * 1152L * 1000L / h0.sampleRate)
    }

    /** WebP (RIFF/WEBP): chunk walk to the first image-bearing chunk.
      * `VP8L` (lossless): 1-byte 0x2f signature, then 14-bit LSB-first
      * width-1 / height-1. `VP8 ` (lossy keyframe): 3-byte frame tag,
      * 0x9d012a start code, 14-bit LE width/height. `VP8X` (extended):
      * 24-bit LE canvas width-1 / height-1 after 4 flag bytes. */
    private def parseWebp(b: Array[Byte]): Meta = {
      var pos = 12L
      while (pos + 8 <= b.length) {
        val p = pos.toInt
        val id = be32(b, p)
        val size = le32(b, p + 4).toLong & 0xffffffffL
        if (pos + 8 + size > b.length) return Unknown
        if (id == 0x5650384c && size >= 5 && u8(b, p + 8) == 0x2f) { // "VP8L"
          val bits = le32(b, p + 9)
          return Meta("webp", (bits & 0x3fff) + 1, ((bits >> 14) & 0x3fff) + 1, 1, 0L)
        } else if (id == 0x56503820 && size >= 10 &&
            u8(b, p + 11) == 0x9d && u8(b, p + 12) == 0x01 && u8(b, p + 13) == 0x2a) { // "VP8 "
          return Meta("webp", le16(b, p + 14) & 0x3fff, le16(b, p + 16) & 0x3fff, 1, 0L)
        } else if (id == 0x56503858 && size >= 10) { // "VP8X"
          val w = (u8(b, p + 12) | (u8(b, p + 13) << 8) | (u8(b, p + 14) << 16)) + 1
          val h = (u8(b, p + 15) | (u8(b, p + 16) << 8) | (u8(b, p + 17) << 16)) + 1
          return Meta("webp", w, h, 1, 0L)
        }
        pos += 8 + size + (size & 1)
      }
      Unknown
    }

    /** PNG: 8-byte signature, then the IHDR chunk (must be first): 4-byte
      * length, "IHDR", 4-byte BE width, 4-byte BE height. */
    private def parsePng(b: Array[Byte]): Meta = {
      if (b.length < 24 || be32(b, 12) != 0x49484452) return Unknown // "IHDR"
      Meta("png", be32(b, 16), be32(b, 20), 1, 0L)
    }

    /** GIF: logical screen descriptor gives canvas size; frame count comes
      * from walking the block stream (extensions are label + sub-blocks,
      * each image descriptor is one frame; LZW data is length-prefixed
      * sub-blocks, skippable without decoding). */
    private def parseGif(b: Array[Byte]): Meta = {
      val w = le16(b, 6)
      val h = le16(b, 8)
      val packed = u8(b, 10)
      var pos = 13
      if ((packed & 0x80) != 0) pos += 3 * (1 << ((packed & 0x07) + 1)) // global color table
      var frames = 0
      var done = false
      while (!done && pos < b.length) {
        u8(b, pos) match {
          case 0x3b => done = true // trailer
          case 0x21 => // extension: introducer + label, then sub-blocks
            pos += 2
            pos = skipSubBlocks(b, pos)
          case 0x2c if pos + 10 <= b.length => // image descriptor: 9 bytes after introducer
            frames += 1
            val ipacked = u8(b, pos + 9)
            pos += 10
            if ((ipacked & 0x80) != 0) pos += 3 * (1 << ((ipacked & 0x07) + 1)) // local color table
            pos += 1 // LZW minimum code size
            pos = skipSubBlocks(b, pos)
          case _ => done = true // malformed; keep the frames counted so far
        }
      }
      Meta("gif", w, h, frames, 0L)
    }

    private def skipSubBlocks(b: Array[Byte], start: Int): Int = {
      var pos = start
      while (pos < b.length && u8(b, pos) != 0) pos += 1 + u8(b, pos)
      pos + 1 // block terminator
    }

    /** BMP: BITMAPINFOHEADER at offset 14 — LE32 width at 18, LE32 height at
      * 22 (negative height = top-down rows; magnitude is the pixel height). */
    private def parseBmp(b: Array[Byte]): Meta =
      Meta("bmp", le32(b, 18), math.abs(le32(b, 22)), 1, 0L)

    /** WAV: RIFF chunk walk; `fmt ` carries the byte rate, `data` carries the
      * sample payload size; duration = dataSize / byteRate. Chunks are padded
      * to even offsets per the RIFF spec. Sizes are unsigned LE32 and the
      * step is computed in Long: a crafted size near 0xFFFFFFFF must clamp
      * to end-of-buffer, not wrap `pos` into a zero-step spin. */
    private def parseWav(b: Array[Byte]): Meta = {
      var pos = 12L
      var byteRate = 0
      var dataSize = 0L
      while (pos + 8 <= b.length) {
        val p = pos.toInt
        val id = be32(b, p)
        val size = le32(b, p + 4)
        if (id == 0x666d7420 && pos + 20 <= b.length) byteRate = le32(b, p + 16) // "fmt "
        else if (id == 0x64617461) dataSize = size.toLong & 0xffffffffL // "data"
        pos += 8L + (size.toLong & 0xffffffffL) + (size & 1)
      }
      val durMs = if (byteRate > 0) dataSize * 1000L / byteRate else 0L
      Meta("wav", 0, 0, 0, durMs)
    }

    /** AIFF (FORM/AIFF|AIFC, IFF-85: big-endian sizes, even-padded): COMM
      * carries numSampleFrames and the 80-bit extended-float sample rate;
      * duration = frames / rate. The extended float decodes as
      * mantissa(top 32 bits, explicit leading 1) × 2^(exp − 16383 − 31). */
    private def parseAiff(b: Array[Byte]): Meta = {
      var frames = 0L
      var rate = 0.0
      var pos = 12L
      while (pos + 8 <= b.length) {
        val p = pos.toInt
        val id = be32(b, p)
        val size = be32(b, p + 4).toLong & 0xffffffffL
        if (pos + 8 + size > b.length) return Meta("aiff", 0, 0, 0, 0L) // truncated
        if (id == 0x434f4d4d && size >= 18) { // COMM
          frames = be32(b, p + 10).toLong & 0xffffffffL
          val exp = ((u8(b, p + 16) & 0x7f) << 8) | u8(b, p + 17)
          val mant = (be32(b, p + 18).toLong & 0xffffffffL)
          if (exp != 0 && mant != 0)
            rate = mant.toDouble * math.pow(2.0, exp - 16383 - 31)
        }
        pos += 8 + size + (size & 1)
      }
      val durMs = if (rate > 0) (frames * 1000L / rate).toLong else 0L
      Meta("aiff", 0, 0, 0, durMs)
    }

    /** FLAC: STREAMINFO (the mandatory first metadata block) carries the
      * 20-bit sample rate and 36-bit total sample count → duration. */
    private def parseFlac(b: Array[Byte]): Meta = {
      if ((b(4) & 0x7f) != 0) return Meta("flac", 0, 0, 0, 0L) // STREAMINFO must be first
      val o = 8
      val rate = ((b(o + 10) & 0xff) << 12) | ((b(o + 11) & 0xff) << 4) | ((b(o + 12) & 0xff) >> 4)
      val total = ((b(o + 13) & 0x0fL) << 32) | ((b(o + 14) & 0xffL) << 24) |
        ((b(o + 15) & 0xffL) << 16) | ((b(o + 16) & 0xffL) << 8) | (b(o + 17) & 0xffL)
      Meta("flac", 0, 0, 0, if (rate > 0) total * 1000L / rate else 0L)
    }

    /** JPEG: scan segment markers from SOI; any SOF marker (C0–CF except the
      * non-frame C4/C8/CC) carries BE16 height then width after the 1-byte
      * sample precision. Stops at SOS — dimensions precede entropy data. */
    private def parseJpeg(b: Array[Byte]): Meta = {
      var pos = 2
      while (pos + 4 <= b.length) {
        if (u8(b, pos) != 0xff) return Unknown
        val marker = u8(b, pos + 1)
        if (marker == 0xff) { pos += 1 } // fill byte
        else if (marker == 0xd8 || marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) {
          pos += 2 // standalone markers carry no length
        } else if (marker >= 0xc0 && marker <= 0xcf && marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
          if (pos + 9 > b.length) return Unknown
          return Meta("jpeg", be16(b, pos + 7), be16(b, pos + 5), 1, 0L)
        } else if (marker == 0xd9 || marker == 0xda) {
          return Unknown // EOI / SOS before any SOF: no frame header found
        } else {
          pos += 2 + be16(b, pos + 2)
        }
      }
      Unknown
    }

    /** AVI (RIFF): chunk walk to LIST `hdrl` -> `avih` (the 56-byte main
      * header: µs/frame at 0, total frames at 16, width/height at 32/36)
      * — duration = frames x µs/frame. Same truncation posture as the WAV
      * walk: sizes read as unsigned LE32, steps computed in Long. */
    private def parseAvi(b: Array[Byte]): Meta = {
      var w = 0; var h = 0; var frames = 0; var durMs = 0L
      def walk(from: Long, to: Long, depth: Int): Unit = {
        if (depth > 3) return
        var pos = from
        while (pos + 8 <= to) {
          val p = pos.toInt
          val id = be32(b, p)
          val size = le32(b, p + 4).toLong & 0xffffffffL
          if (pos + 8 + size > to) return
          if (id == 0x4c495354 && size >= 4) { // "LIST"
            if (be32(b, p + 8) == 0x6864726c) walk(pos + 12, pos + 8 + size, depth + 1) // hdrl
          } else if (id == 0x61766968 && size >= 40) { // "avih"
            val usPerFrame = le32(b, p + 8).toLong & 0xffffffffL
            // dwTotalFrames is unsigned LE32 (same posture as the sizes):
            // a crafted high-bit count must not go negative — clamp to
            // Int.MaxValue rather than wrap
            frames = math.min(le32(b, p + 8 + 16).toLong & 0xffffffffL,
              Int.MaxValue.toLong).toInt
            w = le32(b, p + 8 + 32); h = le32(b, p + 8 + 36)
            durMs = frames.toLong * usPerFrame / 1000L
          }
          pos += 8 + size + (size & 1)
        }
      }
      walk(12L, b.length.toLong, 0)
      Meta("avi", w, h, frames, durMs)
    }

    /** MP4/ISO-BMFF (ISO/IEC 14496-12): a box walk to `moov`, then `mvhd`
      * (timescale + duration → movie duration) and the first `trak`'s
      * `tkhd` (16.16 fixed-point presentation width/height). Boxes are
      * [BE32 size][4cc type]; size 1 means a 64-bit largesize follows,
      * size 0 means to-end-of-enclosure. All offsets are computed in Long
      * and a box whose header claims a size below its own header length
      * aborts the walk — a crafted size can truncate the result but never
      * throw or spin. Versioned mvhd/tkhd (v1 = 64-bit times) handled. */
    private def parseMp4(b: Array[Byte]): Meta = {
      var width = 0
      var height = 0
      var durMs = 0L

      // walk the boxes of [from, to); returns unit, mutating the fields
      def walk(from: Long, to: Long, depth: Int): Unit = {
        if (depth > 8) return // box trees are ~4 deep; bound crafted nesting
        var pos = from
        while (pos + 8 <= to) {
          val p = pos.toInt
          val size32 = be32(b, p).toLong & 0xffffffffL
          val typ = be32(b, p + 4)
          var header = 8L
          val size =
            if (size32 == 0L) to - pos // box extends to end of enclosure
            else if (size32 == 1L) { // 64-bit largesize
              if (pos + 16 > to) return
              header = 16L
              (be32(b, p + 8).toLong << 32) | (be32(b, p + 12).toLong & 0xffffffffL)
            } else size32
          // overflow-safe (`to - pos` is non-negative): a largesize near
          // Long.MaxValue must stop the walk, not wrap the comparison
          if (size < header || size > to - pos) return // malformed: stop, keep what we have
          val body = pos + header
          typ match {
            case 0x6d6f6f76 => walk(body, pos + size, depth + 1) // "moov"
            case 0x7472616b if width == 0 && height == 0 =>
              walk(body, pos + size, depth + 1) // "trak" (first with dims wins)
            case 0x6d766864 if size >= header + 20 => // "mvhd"
              val v = u8(b, body.toInt)
              // v0: ver/flags, 4+4 times, timescale, 4-byte duration
              // v1: ver/flags, 8+8 times, timescale, 8-byte duration
              val tsOff = body + 4 + (if (v == 1) 16 else 8)
              if (tsOff + (if (v == 1) 12 else 8) <= pos + size) {
                val timescale = be32(b, tsOff.toInt).toLong & 0xffffffffL
                val duration =
                  if (v == 1) (be32(b, tsOff.toInt + 4).toLong << 32) |
                    (be32(b, tsOff.toInt + 8).toLong & 0xffffffffL)
                  else be32(b, tsOff.toInt + 4).toLong & 0xffffffffL
                if (timescale > 0) durMs = duration * 1000L / timescale
              }
            case 0x746b6864 => // "tkhd": width/height are the LAST 8 bytes (16.16 fixed)
              val whOff = pos + size - 8
              if (whOff >= body && whOff + 8 <= to) {
                val w = be32(b, whOff.toInt) >>> 16
                val h = be32(b, whOff.toInt + 4) >>> 16
                if (width == 0 && height == 0 && (w != 0 || h != 0)) { width = w; height = h }
              }
            case _ => // skip leaf boxes we don't read (ftyp, mdia, free, mdat, ...)
          }
          pos += size
        }
      }
      walk(0L, b.length.toLong, 0)
      Meta("mp4", width, height, IsoBmff.videoTrak(b, 1).map(_.sampleCount).getOrElse(0), durMs)
    }
  }

  /** ISO-BMFF SAMPLE-TABLE walk (ISO/IEC 14496-12 §8.5–8.7) — the MP4
    * counterpart of the AVI `movi` chunk walk: locate the first `trak`
    * whose `hdlr` handler type is 'vide', then join its `stsz` (sample
    * sizes) × `stsc` (sample→chunk runs) × `stco`/`co64` (chunk offsets)
    * into per-sample (offset, length) slices. Shared by
    * [[ContainerParser]] (sample count as frame-count metadata, coding
    * fourcc for the decode matrix) and [[VideoDecoder]] (each MJPEG
    * sample is a standalone T.81 stream the JPEG decoder opens).
    *
    * Safety posture matches every walker here: all offsets computed in
    * Long, declared table counts clamped to what their box bodies can
    * actually hold, at most 512 boxes per level and bounded recursion, a
    * malformed size/offset stops the walk with the slices found so far —
    * crafted headers can truncate the result but never throw, spin, or
    * allocate beyond the emitted slice list. */
  private[operators] object IsoBmff {
    private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
    private def be32(b: Array[Byte], i: Int): Int =
      (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
    private def be32L(b: Array[Byte], i: Int): Long = be32(b, i).toLong & 0xffffffffL

    /** Child boxes of `[from, to)` as (fourcc, bodyFrom, bodyEnd). Size 1
      * = 64-bit largesize, size 0 = to-end-of-enclosure; a box whose size
      * dips below its own header or overruns the enclosure ends the
      * listing (truncation tolerance). */
    private def boxes(b: Array[Byte], from: Long, to: Long): Vector[(Int, Long, Long)] = {
      val out = Vector.newBuilder[(Int, Long, Long)]
      var pos = from
      var n = 0
      while (pos + 8 <= to && n < 512) {
        val p = pos.toInt
        val size32 = be32L(b, p)
        val typ = be32(b, p + 4)
        var header = 8L
        val size =
          if (size32 == 0L) to - pos
          else if (size32 == 1L) {
            if (pos + 16 > to) return out.result()
            header = 16L
            (be32(b, p + 8).toLong << 32) | be32L(b, p + 12)
          } else size32
        // overflow-safe: `to - pos` is non-negative here, so a crafted
        // largesize near Long.MaxValue can't wrap the comparison
        if (size < header || size > to - pos) return out.result()
        out += ((typ, pos + header, pos + size))
        pos += size
        n += 1
      }
      out.result()
    }

    private def find(b: Array[Byte], from: Long, to: Long, typ: Int): Option[(Long, Long)] =
      boxes(b, from, to).collectFirst { case (t, f, e) if t == typ => (f, e) }

    /** `coding` = the stsd first entry's fourcc; `sampleCount` = stsz's
      * DECLARED count (metadata even when slices truncate); `slices` =
      * per-sample (offset, length), document order, ≤ maxSlices. */
    final case class VideoTrak(coding: String, sampleCount: Int, slices: IndexedSeq[(Int, Int)])

    def videoTrak(b: Array[Byte], maxSlices: Int): Option[VideoTrak] = {
      if (b.length < 12 || be32(b, 4) != 0x66747970) return None // "ftyp"
      val (mf, mt) = find(b, 0L, b.length.toLong, 0x6d6f6f76).getOrElse(return None) // moov
      boxes(b, mf, mt).iterator.collect { case (0x7472616b, tf, tt) => (tf, tt) } // trak
        .flatMap { case (tf, tt) =>
          for {
            (df, dt) <- find(b, tf, tt, 0x6d646961) // mdia
            (hf, ht) <- find(b, df, dt, 0x68646c72) // hdlr
            if ht - hf >= 12 && be32(b, (hf + 8).toInt) == 0x76696465 // 'vide'
            (nf, nt) <- find(b, df, dt, 0x6d696e66) // minf
            (sf, st) <- find(b, nf, nt, 0x7374626c) // stbl
            vt <- tables(b, sf, st, maxSlices)
          } yield vt
        }
        .nextOption()
    }

    /** The FIRST trak's stsd entry fourcc, ANY handler type — the
      * container-declared codec the decode matrix itemizes (avc1 / vp09 /
      * av01 / mp4a / jpeg / ...), readable even when the engine declares
      * the codec out and decodes nothing. "" when no stsd is found. */
    def firstCoding(b: Array[Byte]): String = {
      if (b.length < 12 || be32(b, 4) != 0x66747970) return ""
      val (mf, mt) = find(b, 0L, b.length.toLong, 0x6d6f6f76).getOrElse(return "")
      boxes(b, mf, mt).iterator.collect { case (0x7472616b, tf, tt) => (tf, tt) }
        .flatMap { case (tf, tt) =>
          for {
            (df, dt) <- find(b, tf, tt, 0x6d646961) // mdia
            (nf, nt) <- find(b, df, dt, 0x6d696e66) // minf
            (sf, st) <- find(b, nf, nt, 0x7374626c) // stbl
            (ef, et) <- find(b, sf, st, 0x73747364) // stsd
            if et - ef >= 16
          } yield new String(b, (ef + 12).toInt, 4, StandardCharsets.US_ASCII)
        }
        .nextOption()
        .getOrElse("")
    }

    private def tables(
        b: Array[Byte], sf: Long, st: Long, maxSlices: Int): Option[VideoTrak] = {
      val kids = boxes(b, sf, st)
      def body(typ: Int): Option[(Long, Long)] =
        kids.collectFirst { case (t, f, e) if t == typ => (f, e) }

      val coding = body(0x73747364).collect { // stsd: first entry's format fourcc
        case (f, e) if e - f >= 16 =>
          new String(b, (f + 12).toInt, 4, StandardCharsets.US_ASCII)
      }.getOrElse("")

      val (zf, zt) = body(0x7374737a).getOrElse(return None) // stsz
      if (zt - zf < 12) return None
      val uniform = be32L(b, (zf + 4).toInt)
      val declared = be32L(b, (zf + 8).toInt)
      val declaredCount = math.min(declared, Int.MaxValue.toLong).toInt
      // slices derivable only for samples whose size the table body holds
      val count: Int =
        if (uniform > 0) declaredCount
        else math.min(declared, (zt - zf - 12) / 4).toInt
      def sizeOf(i: Int): Long =
        if (uniform > 0) uniform else be32L(b, (zf + 12 + 4L * i).toInt)

      val (coF, coT, coWide) = body(0x7374636f).map { case (f, e) => (f, e, false) } // stco
        .orElse(body(0x636f3634).map { case (f, e) => (f, e, true) }) // co64
        .getOrElse(return None)
      if (coT - coF < 8) return None
      val entryW = if (coWide) 8 else 4
      val nChunks = math.min(be32L(b, (coF + 4).toInt), (coT - coF - 8) / entryW).toInt
      def chunkOff(c: Int): Long =
        if (coWide)
          (be32(b, (coF + 8 + 8L * c).toInt).toLong << 32) | be32L(b, (coF + 12 + 8L * c).toInt)
        else be32L(b, (coF + 8 + 4L * c).toInt)

      val (cf, ct) = body(0x73747363).getOrElse(return None) // stsc
      if (ct - cf < 8) return None
      val nRuns = math.min(be32L(b, (cf + 4).toInt), (ct - cf - 8) / 12).toInt
      def runFirstChunk(i: Int): Long = be32L(b, (cf + 8 + 12L * i).toInt)
      def runPerChunk(i: Int): Long = be32L(b, (cf + 12 + 12L * i).toInt)

      val out = IndexedSeq.newBuilder[(Int, Int)]
      var emitted = 0
      var sample = 0
      var runIdx = 0
      var chunk = 1L
      var done = nRuns == 0 || runFirstChunk(0) != 1L // §8.7.4: runs start at chunk 1
      while (!done && chunk <= nChunks && sample < count && emitted < maxSlices) {
        while (runIdx + 1 < nRuns && runFirstChunk(runIdx + 1) <= chunk) runIdx += 1
        val spc = runPerChunk(runIdx)
        if (spc <= 0L) done = true
        else {
          var off = chunkOff((chunk - 1).toInt)
          var k = 0L
          while (!done && k < spc && sample < count && emitted < maxSlices) {
            val len = sizeOf(sample)
            // overflow-safe: a 64-bit co64 offset near Long.MaxValue plus a
            // 32-bit length must not wrap past the bounds check
            if (len <= 0 || off < 0 || off > b.length || len > b.length - off) done = true
            else {
              out += ((off.toInt, len.toInt))
              emitted += 1
              off += len
              sample += 1
            }
            k += 1
          }
          chunk += 1
        }
      }
      Some(VideoTrak(coding, declaredCount, out.result()))
    }
  }

  /** Deterministic synthesis of REAL container bytes (used because the
    * testdata ships no media): format and dimensions derive from the
    * document's UTF-8 byte length `n` so the DuckDB oracle can predict the
    * parsed metadata arithmetically while the engine round-trips through
    * genuine PNG/JPEG/GIF/WAV byte layouts.
    *
    *   - n % 5 == 0 → PNG   45 bytes, width 64+n%640, height 64+(7n)%480
    *   - n % 5 == 1 → JPEG  17 bytes, same dims (SOI + SOF0 + EOI)
    *   - n % 5 == 2 → GIF   14+14k bytes, same dims, k = 1+n%24 frames
    *   - n % 5 == 3 → WAV   44+8(1+n%40) bytes, 8 kB/s PCM → 1+n%40 ms
    *   - n % 5 == 4 → MP4   236 bytes (ftyp+moov/mvhd+trak/tkhd), same
    *                  dims, duration 1+n%5000 ms (timescale 1000)
    */
  object MediaGen {
    def synthesize(text: String): Array[Byte] = {
      val n = text.getBytes(StandardCharsets.UTF_8).length
      val w = 64 + n % 640
      val h = 64 + (n * 7) % 480
      n % 5 match {
        case 0 => png(w, h)
        case 1 => jpeg(w, h)
        case 2 => gif(w, h, 1 + n % 24)
        case 3 => wav(8 * (1 + n % 40))
        case _ => mp4(w, h, 1 + n % 5000)
      }
    }

    private def be16(v: Int): Array[Byte] = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    private def be32(v: Int): Array[Byte] =
      Array((v >>> 24).toByte, ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    private def le16(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    private def le32(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte, (v >>> 24).toByte)

    private def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new CRC32
      val t = typ.getBytes(StandardCharsets.US_ASCII)
      crc.update(t); crc.update(data)
      be32(data.length) ++ t ++ data ++ be32(crc.getValue.toInt)
    }

    def png(w: Int, h: Int): Array[Byte] = {
      val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
      // IHDR: width, height, bit depth 8, truecolor, deflate, no filter, no interlace
      val ihdr = be32(w) ++ be32(h) ++ Array[Byte](8, 2, 0, 0, 0)
      sig ++ chunk("IHDR", ihdr) ++ chunk("IEND", Array.emptyByteArray)
    }

    def jpeg(w: Int, h: Int): Array[Byte] = {
      // SOI, SOF0 (len 11: precision 8, height, width, 1 component), EOI
      val sof = Array(0xff, 0xc0).map(_.toByte) ++ be16(11) ++ Array[Byte](8) ++
        be16(h) ++ be16(w) ++ Array[Byte](1, 1, 0x11, 0)
      Array(0xff, 0xd8).map(_.toByte) ++ sof ++ Array(0xff, 0xd9).map(_.toByte)
    }

    def gif(w: Int, h: Int, frames: Int): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      out.write("GIF89a".getBytes(StandardCharsets.US_ASCII))
      out.write(le16(w)); out.write(le16(h))
      out.write(Array[Byte](0, 0, 0)) // no global color table, bg 0, aspect 0
      var i = 0
      while (i < frames) {
        out.write(0x2c) // image descriptor
        out.write(le16(0)); out.write(le16(0)); out.write(le16(w)); out.write(le16(h))
        out.write(0) // no local color table
        out.write(2) // LZW minimum code size
        out.write(Array[Byte](1, 0)) // one 1-byte data sub-block
        out.write(0) // block terminator
        i += 1
      }
      out.write(0x3b) // trailer
      out.toByteArray
    }

    def wav(dataSize: Int): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      out.write("RIFF".getBytes(StandardCharsets.US_ASCII)); out.write(le32(36 + dataSize))
      out.write("WAVE".getBytes(StandardCharsets.US_ASCII))
      out.write("fmt ".getBytes(StandardCharsets.US_ASCII)); out.write(le32(16))
      out.write(le16(1)); out.write(le16(1)) // PCM, mono
      out.write(le32(8000)); out.write(le32(8000)) // 8 kHz, 8-bit → 8000 B/s
      out.write(le16(1)); out.write(le16(8)) // block align, bits per sample
      out.write("data".getBytes(StandardCharsets.US_ASCII)); out.write(le32(dataSize))
      var i = 0
      while (i < dataSize) { out.write((i * 31 + dataSize) & 0xff); i += 1 }
      out.toByteArray
    }

    /** Genuine minimal ISO-BMFF: ftyp(20) + moov(216: mvhd v0 108 + trak
      * 100 of tkhd v0 92) = 236 bytes, fixed. Dimensions land in tkhd as
      * 16.16 fixed point; duration in mvhd at timescale 1000 so
      * durationMs round-trips exactly. */
    def mp4(w: Int, h: Int, durationMs: Int): Array[Byte] = {
      def box(typ: String, payload: Array[Byte]): Array[Byte] =
        be32(8 + payload.length) ++ typ.getBytes(StandardCharsets.US_ASCII) ++ payload
      val ftyp = box("ftyp", "isom".getBytes(StandardCharsets.US_ASCII) ++ be32(0) ++
        "isom".getBytes(StandardCharsets.US_ASCII))
      // mvhd v0: ver/flags, creation, modification, timescale, duration,
      // rate 1.0, volume 1.0, 10 reserved bytes, unity matrix, 6×4 predefined,
      // next_track_id
      val unityMatrix = be32(0x00010000) ++ be32(0) ++ be32(0) ++
        be32(0) ++ be32(0x00010000) ++ be32(0) ++
        be32(0) ++ be32(0) ++ be32(0x40000000)
      val mvhd = box("mvhd", be32(0) ++ be32(0) ++ be32(0) ++ be32(1000) ++ be32(durationMs) ++
        be32(0x00010000) ++ be16(0x0100) ++ be16(0) ++ be32(0) ++ be32(0) ++
        unityMatrix ++ Array.fill(24)(0.toByte) ++ be32(2))
      // tkhd v0: ver/flags(enabled), creation, modification, track_id,
      // reserved, duration, 8 reserved, layer, alt group, volume, reserved,
      // matrix, width, height (16.16)
      val tkhd = box("tkhd", be32(0x000001) ++ be32(0) ++ be32(0) ++ be32(1) ++ be32(0) ++
        be32(durationMs) ++ be32(0) ++ be32(0) ++ be16(0) ++ be16(0) ++ be16(0) ++ be16(0) ++
        unityMatrix ++ be32(w << 16) ++ be32(h << 16))
      val moov = box("moov", mvhd ++ box("trak", tkhd))
      ftyp ++ moov
    }
  }

  /** FNV-1a 64-bit over the payload — a cheap content fingerprint (a real
    * perceptual hash would decode pixels; this hashes the container bytes). */
  def fnv64(payload: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < payload.length) {
      h ^= (payload(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  private val synthesizeUdf = udf((text: String) => MediaGen.synthesize(text))

  /** Attach a binary payload column to `documents`: real synthesized
    * container bytes (see [[MediaGen]]) — the testdata has no media files,
    * but the payloads are valid PNG/JPEG/GIF/WAV that the downstream parser
    * reads for real. NULL text is coalesced to "" (the corpus-wide
    * convention, see [[graft.operators.Curation]]) so every row carries a
    * parseable payload and the non-null-safe UDF never sees a null. */
  def withBinaryPayload(documents: DataFrame): DataFrame =
    documents.withColumn("payload", synthesizeUdf(coalesce(col("text"), lit(""))))

  /** Parse + feature-extract the payload column, partition-parallel; payload
    * bytes never reach the driver. */
  def extractFeatures(withPayload: DataFrame): DataFrame = {
    val input = payloadInput(withPayload, "doc_id")
    input
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val m = ContainerParser.parse(payload)
          MediaFeatures(id, payload.length, m.format, m.width, m.height, m.nFrames, m.durationMs, fnv64(payload))
        }
      }(Encoders.product[MediaFeatures])
      .toDF()
  }

  /** Deterministic frame sampling for animated payloads: every `stride`-th
    * frame index, one output row per sampled frame (the explode-to-frames
    * shape real video pipelines use before per-frame feature extraction). */
  def sampleFrames(features: DataFrame, stride: Int): DataFrame =
    features
      .filter(col("format") === "gif" && col("n_frames") > 0)
      .withColumn("frame_idx", explode(sequence(lit(0), col("n_frames") - 1, lit(stride))))
      .select(col("doc_id"), col("frame_idx"), col("width"), col("height"))

  // -------------------------------------------------------------------
  // Content-level image dedup: pixel decode + perceptual hashes
  // -------------------------------------------------------------------

  /** Deterministic PIXEL-CARRYING image synthesis — real 8-bit truecolor
    * PNGs (IDAT: per-row filters exercising None/Sub/Up/Average/Paeth,
    * zlib-deflated) and 24-bit bottom-up BMPs over the same grayscale
    * pattern, so the container-independence of the perceptual hashes is
    * testable. The pattern is two low-frequency sinusoids whose
    * frequencies/phases derive from `seed` (splitmix64): smooth content a
    * downsampling hash is designed for, with optional per-pixel `noise`
    * (amplitude in gray levels) to plant near-duplicates. */
  object ImageGen {
    private def mix(x0: Long): Long = {
      var x = x0 + 0x9e3779b97f4a7c15L
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^ (x >>> 31)
    }

    /** The shared grayscale field: two low-frequency sinusoid components
      * (separable product + a diagonal wave) with seed-derived frequencies,
      * phases, and amplitudes — a family rich enough that unrelated seeds
      * rarely land within a dedup Hamming budget of each other. Values in
      * [0, 255].
      *
      * Both components factor into per-column x per-row vectors (the
      * diagonal via `sin(a + b) = sin a cos b + cos a sin b`), so the
      * whole field costs O(w + h) trig + O(w*h) multiply-adds — the
      * corpus-synthesis cost of q30c is the multiply-add pass, not 34M
      * transcendental calls. */
    def gray(w: Int, h: Int, seed: Long, noise: Int): Array[Int] = {
      val s = Array.tabulate(8)(i => mix(seed + i))
      val fx = 1 + math.floorMod(s(0), 4L).toInt
      val fy = 1 + math.floorMod(s(1), 4L).toInt
      val fd = 1 + math.floorMod(s(2), 6L).toInt
      val p1 = math.floorMod(s(3), 628L) / 100.0
      val p2 = math.floorMod(s(4), 628L) / 100.0
      val p3 = math.floorMod(s(5), 628L) / 100.0
      val a1 = 60.0 + math.floorMod(s(6), 40L)
      val a2 = 25.0 + math.floorMod(s(7), 25L)
      // component 1: a1 * sin(2pi fx x/w + p1) * cos(2pi fy y/h + p2)
      val sx = Array.tabulate(w)(x => a1 * math.sin(2 * math.Pi * fx * x / w + p1))
      val cy = Array.tabulate(h)(y => math.cos(2 * math.Pi * fy * y / h + p2))
      // component 2: a2 * sin(A(x) + B(y)), A = pi fd x/w, B = pi fd y/h + p3
      val sA = Array.tabulate(w)(x => math.sin(math.Pi * fd * x / w))
      val cA = Array.tabulate(w)(x => math.cos(math.Pi * fd * x / w))
      val sB = Array.tabulate(h)(y => a2 * math.sin(math.Pi * fd * y / h + p3))
      val cB = Array.tabulate(h)(y => a2 * math.cos(math.Pi * fd * y / h + p3))
      val out = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val base = 128.0 + sx(x) * cy(y) + (sA(x) * cB(y) + cA(x) * sB(y))
          val n = if (noise <= 0) 0L
            else math.floorMod(mix(seed ^ (x.toLong << 32) ^ y.toLong), 2L * noise + 1) - noise
          out(y * w + x) = math.max(0, math.min(255, base.toInt + n.toInt))
          x += 1
        }
        y += 1
      }
      out
    }

    private def be32(v: Int): Array[Byte] =
      Array((v >>> 24).toByte, ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    private def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new CRC32
      val t = typ.getBytes(StandardCharsets.US_ASCII)
      crc.update(t); crc.update(data)
      be32(data.length) ++ t ++ data ++ be32(crc.getValue.toInt)
    }

    /** Truecolor PNG of the gray field (r = g = b). Row `y` uses filter
      * `y % 5` — every PNG filter type appears, so the decoder's defilter
      * paths are all exercised by every image taller than 4 rows. */
    def png(w: Int, h: Int, seed: Long, noise: Int = 0): Array[Byte] = {
      val g = gray(w, h, seed, noise)
      val bpp = 3
      val stride = w * bpp
      val raw = new Array[Byte]((stride + 1) * h)
      val prior = new Array[Int](stride)
      val curr = new Array[Int](stride)
      var y = 0
      while (y < h) {
        var i = 0
        while (i < w) {
          val v = g(y * w + i)
          curr(i * 3) = v; curr(i * 3 + 1) = v; curr(i * 3 + 2) = v
          i += 1
        }
        val f = y % 5
        raw(y * (stride + 1)) = f.toByte
        var j = 0
        while (j < stride) {
          val left = if (j >= bpp) curr(j - bpp) else 0
          val up = prior(j)
          val ul = if (j >= bpp) prior(j - bpp) else 0
          val pred = f match {
            case 0 => 0
            case 1 => left
            case 2 => up
            case 3 => (left + up) / 2
            case _ => { // Paeth
              val p = left + up - ul
              val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - ul)
              if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
            }
          }
          raw(y * (stride + 1) + 1 + j) = ((curr(j) - pred) & 0xff).toByte
          j += 1
        }
        System.arraycopy(curr, 0, prior, 0, stride)
        y += 1
      }
      val deflater = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION)
      deflater.setInput(raw); deflater.finish()
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
      deflater.end()
      val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
      val ihdr = be32(w) ++ be32(h) ++ Array[Byte](8, 2, 0, 0, 0)
      sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", out.toByteArray) ++
        chunk("IEND", Array.emptyByteArray)
    }

    // ---- baseline JPEG encoder (ITU T.81, public spec) ----------------
    //
    // Grayscale baseline sequential JPEG of the SAME gray field: FDCT each
    // 8x8 block, quantize with the Annex K luminance table, Huffman-encode
    // with the Annex K luminance DC/AC tables. LOSSY — pixels decode to an
    // approximation of [[gray]], but the perceptual hashes (8x8 box means)
    // are designed to shrug off exactly this kind of error, so a JPEG twin
    // of a PNG collapses in content dedup: the cross-container fixture the
    // web-corpus-dominant format needs.

    /** Annex K luminance quantization table (natural row-major order). */
    private val JpegQuant: Array[Int] = Array(
      16, 11, 10, 16, 24, 40, 51, 61,
      12, 12, 14, 19, 26, 58, 60, 55,
      14, 13, 16, 24, 40, 57, 69, 56,
      14, 17, 22, 29, 51, 87, 80, 62,
      18, 22, 37, 56, 68, 109, 103, 77,
      24, 35, 55, 64, 81, 104, 113, 92,
      49, 64, 78, 87, 103, 121, 120, 101,
      72, 92, 95, 98, 112, 100, 103, 99)

    /** Zigzag order: ZigZag(k) = natural index of the k-th zigzag coeff. */
    private[operators] val ZigZag: Array[Int] = {
      val out = new Array[Int](64)
      var k = 0
      for (s <- 0 until 15; i <- 0 to s; if s - i < 8 && i < 8) {
        val (r, c) = if (s % 2 == 0) (s - i, i) else (i, s - i)
        if (r < 8 && c < 8) { out(k) = r * 8 + c; k += 1 }
      }
      out
    }

    /** Annex K luminance DC table: 16 code-length counts + symbols. */
    private val DcBits = Array(0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
    private val DcVals = (0 to 11).map(_.toByte).toArray
    /** Annex K luminance AC table. */
    private val AcBits = Array(0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
    private val AcVals = Array(
      0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
      0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
      0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24, 0x33, 0x62, 0x72,
      0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
      0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44, 0x45,
      0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
      0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75,
      0x76, 0x77, 0x78, 0x79, 0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
      0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
      0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
      0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
      0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
      0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2, 0xf3, 0xf4,
      0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa).map(_.toByte)

    /** Canonical Huffman codes from a (bits, vals) table spec:
      * symbol -> (code, length). */
    private def huffCodes(bits: Array[Int], vals: Array[Byte]): Array[(Int, Int)] = {
      val out = new Array[(Int, Int)](256)
      var code = 0; var k = 0
      for (len <- 1 to 16) {
        var i = 0
        while (i < bits(len)) {
          out(vals(k) & 0xff) = (code, len)
          code += 1; k += 1; i += 1
        }
        code <<= 1
      }
      out
    }

    private lazy val dcCodes = huffCodes(DcBits, DcVals)
    private lazy val acCodes = huffCodes(AcBits, AcVals)
    // StrictMath for platform-stable pinned fixtures (see idctCos note)
    private lazy val cosTab: Array[Array[Double]] =
      Array.tabulate(8, 8)((x, u) => StrictMath.cos((2 * x + 1) * u * math.Pi / 16))

    private final class BitWriter(out: ByteArrayOutputStream) {
      private var acc = 0; private var nbits = 0
      def put(code: Int, len: Int): Unit = {
        var i = len - 1
        while (i >= 0) {
          acc = (acc << 1) | ((code >> i) & 1); nbits += 1
          if (nbits == 8) {
            out.write(acc)
            if (acc == 0xff) out.write(0) // byte stuffing
            acc = 0; nbits = 0
          }
          i -= 1
        }
      }
      def flush(): Unit = if (nbits > 0) { // pad with 1s per spec
        acc = (acc << (8 - nbits)) | ((1 << (8 - nbits)) - 1)
        out.write(acc); if (acc == 0xff) out.write(0)
        acc = 0; nbits = 0
      }
    }

    /** Magnitude category of a coefficient (0 for 0, else bit length). */
    private def cat(v: Int): Int = { var a = math.abs(v); var n = 0; while (a != 0) { a >>= 1; n += 1 }; n }

    /** FDCT + quantize one level-shifted 8x8 block → natural-order
      * quantized coefficients. The SAME quantization feeds the baseline
      * and progressive writers, so the two encodings of one gray field
      * carry identical coefficient data and decode to identical pixels —
      * the progressive round-trip fixtures rely on this. */
    private def quantBlock(blk: Array[Double]): Array[Int] = {
      val coef = new Array[Int](64)
      var v = 0
      while (v < 8) {
        var u = 0
        while (u < 8) {
          var s = 0.0
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) { s += blk(y * 8 + x) * cosTab(x)(u) * cosTab(y)(v); x += 1 }
            y += 1
          }
          val cu = if (u == 0) 1.0 / StrictMath.sqrt(2) else 1.0
          val cv = if (v == 0) 1.0 / StrictMath.sqrt(2) else 1.0
          val q = JpegQuant(v * 8 + u)
          coef(v * 8 + u) = math.round(0.25 * cu * cv * s / q).toInt
          u += 1
        }
        v += 1
      }
      coef
    }

    /** FDCT + quantize one level-shifted 8x8 block, then Huffman-encode it
      * (DC differential vs `pred`, AC zigzag RLE). Returns the new DC
      * predictor. */
    private def encodeBlock(blk: Array[Double], pred: Int, bw: BitWriter): Int = {
      val coef = quantBlock(blk)
      val dc = coef(0); val diff = dc - pred
      val dcat = cat(diff)
      val (dcode, dlen) = dcCodes(dcat)
      bw.put(dcode, dlen)
      if (dcat > 0)
        bw.put(if (diff >= 0) diff else diff + (1 << dcat) - 1, dcat)
      var run = 0; var k = 1
      while (k < 64) {
        val ac = coef(ZigZag(k))
        if (ac == 0) run += 1
        else {
          while (run >= 16) { val (zc, zl) = acCodes(0xf0); bw.put(zc, zl); run -= 16 }
          val acat = cat(ac)
          val (c, l) = acCodes((run << 4) | acat)
          bw.put(c, l)
          bw.put(if (ac >= 0) ac else ac + (1 << acat) - 1, acat)
          run = 0
        }
        k += 1
      }
      if (run > 0) { val (ec, el) = acCodes(0x00); bw.put(ec, el) } // EOB
      dc
    }

    /** Level-shifted edge-replicated 8x8 block of `g` at (bx*8, by*8). */
    private def lumaBlock(g: Array[Int], w: Int, h: Int, bx: Int, by: Int): Array[Double] = {
      val blk = new Array[Double](64)
      var i = 0
      while (i < 64) {
        val y = math.min(h - 1, by * 8 + i / 8)
        val x = math.min(w - 1, bx * 8 + i % 8)
        blk(i) = g(y * w + x) - 128.0
        i += 1
      }
      blk
    }

    /** SOI + DQT + SOF + DC DHT (+ AC DHT when baseline) (+ DRI) — ONE
      * assembly shared by the baseline and progressive writers so the
      * frame layout (quant table, sampling factors, component ids) can
      * never diverge between the two fixture encodings and silently break
      * their bit-identical round-trip invariant. Baseline additionally
      * registers AC table 0 here (its single scan needs it up front);
      * progressive carries its AC table in a DHT between scans. */
    private def frameHeaders(
        out: ByteArrayOutputStream, w: Int, h: Int, color: Boolean,
        baseline: Boolean, restartEvery: Int): Unit = {
      out.write(0xff); out.write(0xd8) // SOI
      markerSeg(out, 0xdb, Array[Byte](0) ++ ZigZag.map(n => JpegQuant(n).toByte)) // DQT, 8-bit, id 0
      val sof =
        if (!color) Array[Byte](8,
          ((h >> 8) & 0xff).toByte, (h & 0xff).toByte,
          ((w >> 8) & 0xff).toByte, (w & 0xff).toByte,
          1, 1, 0x11, 0) // 1 component, id 1, H=V=1, quant table 0
        else Array[Byte](8,
          ((h >> 8) & 0xff).toByte, (h & 0xff).toByte,
          ((w >> 8) & 0xff).toByte, (w & 0xff).toByte,
          3, 1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0) // Y 2x2, Cb/Cr 1x1 (4:2:0)
      markerSeg(out, if (baseline) 0xc0 else 0xc2, sof)
      markerSeg(out, 0xc4, Array[Byte](0x00) ++ DcBits.drop(1).map(_.toByte) ++ DcVals) // DHT DC 0
      if (baseline)
        markerSeg(out, 0xc4, Array[Byte](0x10) ++ AcBits.drop(1).map(_.toByte) ++ AcVals) // DHT AC 0
      if (restartEvery > 0)
        markerSeg(out, 0xdd, Array[Byte](((restartEvery >> 8) & 0xff).toByte,
          (restartEvery & 0xff).toByte)) // DRI
    }

    private def jpegHeaders(
        out: ByteArrayOutputStream, w: Int, h: Int, color: Boolean,
        restartEvery: Int): Unit = {
      frameHeaders(out, w, h, color, baseline = true, restartEvery)
      val comps = if (!color) Seq((1, 0, 0)) else Seq((1, 0, 0), (2, 0, 0), (3, 0, 0))
      sosMarker(out, comps, 0, 63, 0, 0)
    }

    /** Baseline grayscale JPEG of the gray field — same (w, h, seed,
      * noise) contract as [[png]]/[[bmp]], content equal up to quantization
      * loss. `restartEvery > 0` emits DRI + RSTn markers every that many
      * MCUs (the robustness feature real encoders emit; exercises the
      * decoder's restart path). */
    def jpeg(w: Int, h: Int, seed: Long, noise: Int = 0, restartEvery: Int = 0): Array[Byte] = {
      val g = gray(w, h, seed, noise)
      val out = new ByteArrayOutputStream()
      jpegHeaders(out, w, h, color = false, restartEvery)
      val bw = new BitWriter(out)
      val bw8 = (w + 7) / 8; val bh8 = (h + 7) / 8
      var pred = 0
      var mcu = 0
      var by = 0
      while (by < bh8) {
        var bx = 0
        while (bx < bw8) {
          if (restartEvery > 0 && mcu > 0 && mcu % restartEvery == 0) {
            bw.flush()
            out.write(0xff); out.write(0xd0 + ((mcu / restartEvery - 1) % 8))
            pred = 0
          }
          pred = encodeBlock(lumaBlock(g, w, h, bx, by), pred, bw)
          mcu += 1
          bx += 1
        }
        by += 1
      }
      bw.flush()
      out.write(0xff); out.write(0xd9) // EOI
      out.toByteArray
    }

    /** Baseline COLOR (3-component YCbCr 4:2:0) JPEG of the gray field:
      * Y carries the content, chroma is neutral (Cb = Cr = 128 → all-zero
      * coefficients) — decodes to the same gray pixels as [[jpeg]] while
      * exercising a decoder's subsampled-MCU walk and chroma handling,
      * the layout of virtually every real web photo. */
    def jpegColor(w: Int, h: Int, seed: Long, noise: Int = 0): Array[Byte] = {
      val g = gray(w, h, seed, noise)
      val out = new ByteArrayOutputStream()
      jpegHeaders(out, w, h, color = true, restartEvery = 0)
      val bw = new BitWriter(out)
      val mcusX = (w + 15) / 16; val mcusY = (h + 15) / 16
      val zeroBlk = new Array[Double](64) // neutral chroma, level-shifted
      var predY = 0; var predCb = 0; var predCr = 0
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          var v = 0
          while (v < 2) {
            var u = 0
            while (u < 2) {
              predY = encodeBlock(lumaBlock(g, w, h, mx * 2 + u, my * 2 + v), predY, bw)
              u += 1
            }
            v += 1
          }
          predCb = encodeBlock(zeroBlk, predCb, bw)
          predCr = encodeBlock(zeroBlk, predCr, bw)
          mx += 1
        }
        my += 1
      }
      bw.flush()
      out.write(0xff); out.write(0xd9) // EOI
      out.toByteArray
    }

    // ---- progressive JPEG writer (ITU T.81 Annex G, Huffman) ----------
    //
    // The SAME quantized coefficients as the baseline writer
    // ([[quantBlock]]), re-ordered into the multi-scan progressive layout
    // real web encoders emit: a DC scan at reduced precision (point
    // transform), AC bands by spectral selection, then successive-
    // approximation refinement scans that sharpen every coefficient to
    // full precision. The byte stream shares nothing with [[jpeg]]'s,
    // but the decoded pixels are BIT-IDENTICAL — the round-trip fixture
    // the progressive decoder is tested against.

    /** AC Huffman table for the progressive scans: every (run, size)
      * symbol the progressive coder can emit — including the EOBn
      * symbols `r << 4` for r = 1..14 that Annex K's sequential table
      * simply does not contain — as a flat 8-bit canonical code
      * (176 symbols < 255; the all-ones codeword stays unused per
      * T.81 C.2). Registered as AC table 1 by a DHT BETWEEN scans, the
      * way real progressive files carry their optimized tables. */
    private val ProgAcBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 176, 0, 0, 0, 0, 0, 0, 0, 0)
    private val ProgAcVals: Array[Byte] = {
      val eob = (0 to 15).map(r => (r << 4).toByte)
      val mag = for (r <- 0 to 15; s <- 1 to 10) yield ((r << 4) | s).toByte
      (eob ++ mag).toArray
    }
    private lazy val progAcCodes = huffCodes(ProgAcBits, ProgAcVals)

    private def markerSeg(out: ByteArrayOutputStream, m: Int, payload: Array[Byte]): Unit = {
      out.write(0xff); out.write(m)
      val len = payload.length + 2
      out.write((len >> 8) & 0xff); out.write(len & 0xff)
      out.write(payload, 0, payload.length)
    }

    private def sosMarker(
        out: ByteArrayOutputStream, comps: Seq[(Int, Int, Int)],
        ss: Int, se: Int, ah: Int, al: Int): Unit =
      markerSeg(out, 0xda, Array[Byte](comps.length.toByte) ++
        comps.flatMap { case (id, td, ta) =>
          Seq(id.toByte, ((td << 4) | ta).toByte) } ++
        Array[Byte](ss.toByte, se.toByte, ((ah << 4) | al).toByte))

    private def rstMarker(out: ByteArrayOutputStream, n: Int): Unit = {
      out.write(0xff); out.write(0xd0 + (n % 8))
    }

    private def putMagBits(bw: BitWriter, v: Int, s: Int): Unit =
      bw.put(if (v >= 0) v else v + (1 << s) - 1, s)

    /** SOI + DQT + SOF2 + DC DHT (+ DRI) — the shared [[frameHeaders]]
      * assembly minus the baseline AC table. The AC table and every SOS
      * follow per scan. */
    private def progressiveHeaders(
        out: ByteArrayOutputStream, w: Int, h: Int, color: Boolean,
        restartEvery: Int): Unit =
      frameHeaders(out, w, h, color, baseline = false, restartEvery)

    /** One progressive DC scan over restart-units (MCUs). First pass
      * (`ah == 0`): point-transformed differentials (`dc >> al`,
      * arithmetic shift per T.81 G.1.2.1) through the DC Huffman table.
      * Refinement (`ah > 0`): one raw bit per block — bit `al` of the
      * two's-complement DC. `dcs(m)(j)` is block j of unit m,
      * `comps(m)(j)` selects its predictor chain. */
    private def dcScanData(
        out: ByteArrayOutputStream, bw: BitWriter,
        dcs: Array[Array[Int]], comps: Array[Array[Int]], nPreds: Int,
        ah: Int, al: Int, restartEvery: Int): Unit = {
      val pred = new Array[Int](nPreds)
      var m = 0
      while (m < dcs.length) {
        if (restartEvery > 0 && m > 0 && m % restartEvery == 0) {
          bw.flush(); rstMarker(out, m / restartEvery - 1)
          java.util.Arrays.fill(pred, 0)
        }
        var j = 0
        while (j < dcs(m).length) {
          val dc = dcs(m)(j)
          if (ah == 0) {
            val v = dc >> al
            val c = comps(m)(j)
            val diff = v - pred(c); pred(c) = v
            val s = cat(diff)
            val (dcode, dlen) = dcCodes(s); bw.put(dcode, dlen)
            if (s > 0) putMagBits(bw, diff, s)
          } else bw.put((dc >> al) & 1, 1)
          j += 1
        }
        m += 1
      }
      bw.flush()
    }

    /** One progressive AC FIRST scan (`ah == 0`) over one component's
      * blocks in raster order: zigzag band [ss, se] of sign-magnitude
      * point-transformed coefficients, zero runs RLE'd, block tails and
      * all-zero blocks folded into cross-block EOB runs (T.81 G.1.2.2). */
    private def acFirstScanData(
        out: ByteArrayOutputStream, bw: BitWriter, blocks: Array[Array[Int]],
        ss: Int, se: Int, al: Int, restartEvery: Int): Unit = {
      var eobrun = 0
      def flushEob(): Unit = if (eobrun > 0) {
        var r = 0
        while ((eobrun >> (r + 1)) != 0) r += 1
        val (c, l) = progAcCodes(r << 4); bw.put(c, l)
        if (r > 0) bw.put(eobrun - (1 << r), r)
        eobrun = 0
      }
      var i = 0
      while (i < blocks.length) {
        if (restartEvery > 0 && i > 0 && i % restartEvery == 0) {
          flushEob(); bw.flush(); rstMarker(out, i / restartEvery - 1)
        }
        val coef = blocks(i)
        var run = 0
        var k = ss
        while (k <= se) {
          val raw = coef(ZigZag(k))
          val v = if (raw >= 0) raw >> al else -((-raw) >> al) // sign-magnitude
          if (v == 0) run += 1
          else {
            flushEob()
            while (run >= 16) { val (zc, zl) = progAcCodes(0xf0); bw.put(zc, zl); run -= 16 }
            val s = cat(v)
            val (c2, l2) = progAcCodes((run << 4) | s); bw.put(c2, l2)
            putMagBits(bw, v, s)
            run = 0
          }
          k += 1
        }
        if (run > 0) { eobrun += 1; if (eobrun == 0x7fff) flushEob() }
        i += 1
      }
      flushEob(); bw.flush()
    }

    /** One progressive AC REFINEMENT scan (`ah == al + 1`): correction
      * bits for already-significant coefficients, `(r << 4) | 1` symbols
      * placing newly significant ones, EOB runs carrying the correction
      * bits buffered inside them (T.81 G.1.2.3). Bit ORDER is the
      * contract: each emitted symbol is chased by the correction bits of
      * the history coefficients its run passed over, and a ZRL fires the
      * moment the zero-history run exceeds 15 — not lazily at the next
      * newly-significant coefficient — because the decoder consumes the
      * interleaved correction bits while advancing. */
    private def acRefineScanData(
        out: ByteArrayOutputStream, bw: BitWriter, blocks: Array[Array[Int]],
        ss: Int, se: Int, al: Int, restartEvery: Int): Unit = {
      var eobrun = 0
      val held = new java.util.ArrayList[Integer]() // bits riding the EOB run
      def putHeld(buf: java.util.ArrayList[Integer]): Unit = {
        var j = 0
        while (j < buf.size()) { bw.put(buf.get(j), 1); j += 1 }
        buf.clear()
      }
      def flushEob(): Unit = {
        if (eobrun > 0) {
          var r = 0
          while ((eobrun >> (r + 1)) != 0) r += 1
          val (c, l) = progAcCodes(r << 4); bw.put(c, l)
          if (r > 0) bw.put(eobrun - (1 << r), r)
          eobrun = 0
        }
        putHeld(held)
      }
      val av = new Array[Int](64)
      var i = 0
      while (i < blocks.length) {
        if (restartEvery > 0 && i > 0 && i % restartEvery == 0) {
          flushEob(); bw.flush(); rstMarker(out, i / restartEvery - 1)
        }
        val coef = blocks(i)
        var eobPos = ss - 1 // last newly-significant position in the band
        var k = ss
        while (k <= se) {
          val a = math.abs(coef(ZigZag(k))) >> al
          av(k) = a
          if (a == 1) eobPos = k
          k += 1
        }
        var r = 0
        val pend = new java.util.ArrayList[Integer]()
        k = ss
        while (k <= se) {
          val a = av(k)
          if (a == 0) r += 1
          else {
            while (r > 15 && k <= eobPos) {
              flushEob()
              val (zc, zl) = progAcCodes(0xf0); bw.put(zc, zl); r -= 16
              putHeld(pend)
            }
            if (a > 1) pend.add(a & 1) // history coefficient: one correction bit
            else {
              flushEob()
              val (c2, l2) = progAcCodes((r << 4) | 1); bw.put(c2, l2)
              bw.put(if (coef(ZigZag(k)) >= 0) 1 else 0, 1)
              putHeld(pend)
              r = 0
            }
          }
          k += 1
        }
        if (r > 0 || pend.size() > 0) {
          eobrun += 1
          held.addAll(pend); pend.clear()
          if (eobrun == 0x7fff) flushEob()
        }
        i += 1
      }
      flushEob(); bw.flush()
    }

    /** PROGRESSIVE grayscale JPEG of the SAME gray field as [[jpeg]]:
      * identical quantized coefficients re-ordered into six scans — DC
      * first at Al=1, two spectral AC bands at Al=1, then DC and AC
      * refinement to full precision — decoding to BIT-IDENTICAL pixels
      * while sharing no entropy-coded bytes. `restartEvery > 0` plants
      * DRI + RSTn in EVERY scan (a progressive restart resets both the
      * DC predictors and the EOB run). */
    def jpegProgressive(
        w: Int, h: Int, seed: Long, noise: Int = 0, restartEvery: Int = 0): Array[Byte] = {
      val g = gray(w, h, seed, noise)
      val bw8 = (w + 7) / 8; val bh8 = (h + 7) / 8
      val blocks = new Array[Array[Int]](bw8 * bh8)
      var by = 0
      while (by < bh8) {
        var bx = 0
        while (bx < bw8) {
          blocks(by * bw8 + bx) = quantBlock(lumaBlock(g, w, h, bx, by)); bx += 1
        }
        by += 1
      }
      val out = new ByteArrayOutputStream()
      progressiveHeaders(out, w, h, color = false, restartEvery)
      val bw = new BitWriter(out)
      val units = blocks.map(b => Array(b(0)))
      val comps = blocks.map(_ => Array(0))
      sosMarker(out, Seq((1, 0, 0)), 0, 0, 0, 1) // DC first, half precision
      dcScanData(out, bw, units, comps, 1, 0, 1, restartEvery)
      // the AC table arrives MID-STREAM, between scans, like real files'
      markerSeg(out, 0xc4, Array[Byte](0x11) ++ ProgAcBits.drop(1).map(_.toByte) ++ ProgAcVals)
      sosMarker(out, Seq((1, 0, 1)), 1, 5, 0, 1) // low AC band
      acFirstScanData(out, bw, blocks, 1, 5, 1, restartEvery)
      sosMarker(out, Seq((1, 0, 1)), 6, 63, 0, 1) // high AC band
      acFirstScanData(out, bw, blocks, 6, 63, 1, restartEvery)
      sosMarker(out, Seq((1, 0, 0)), 0, 0, 1, 0) // DC refinement
      dcScanData(out, bw, units, comps, 1, 1, 0, restartEvery)
      sosMarker(out, Seq((1, 0, 1)), 1, 5, 1, 0) // AC refinements
      acRefineScanData(out, bw, blocks, 1, 5, 0, restartEvery)
      sosMarker(out, Seq((1, 0, 1)), 6, 63, 1, 0)
      acRefineScanData(out, bw, blocks, 6, 63, 0, restartEvery)
      out.write(0xff); out.write(0xd9) // EOI
      out.toByteArray
    }

    /** PROGRESSIVE COLOR (YCbCr 4:2:0) JPEG of the gray field — the
      * [[jpegColor]] twin: an INTERLEAVED 3-component DC scan (MCU order,
      * three predictor chains), non-interleaved luma AC scans over the
      * UNPADDED luma block grid (T.81 A.2.2: non-interleaved scans cover
      * ceil(compW/8) x ceil(compH/8) blocks, NOT the MCU-padded grid),
      * chroma AC scans that are pure EOB runs (neutral chroma), and DC +
      * luma-AC refinement. Decodes to the same gray pixels as
      * [[jpegColor]] bit-for-bit. */
    def jpegProgressiveColor(w: Int, h: Int, seed: Long, noise: Int = 0): Array[Byte] = {
      val g = gray(w, h, seed, noise)
      val mcusX = (w + 15) / 16; val mcusY = (h + 15) / 16
      val lw = mcusX * 2
      val yBlocks = new Array[Array[Int]](lw * mcusY * 2)
      for (my <- 0 until mcusY; mx <- 0 until mcusX; v <- 0 until 2; u <- 0 until 2)
        yBlocks((my * 2 + v) * lw + (mx * 2 + u)) =
          quantBlock(lumaBlock(g, w, h, mx * 2 + u, my * 2 + v))
      val zero = new Array[Int](64)
      val units = Array.tabulate(mcusX * mcusY) { m =>
        val mx = m % mcusX; val my = m / mcusX
        Array(
          yBlocks((my * 2) * lw + mx * 2)(0), yBlocks((my * 2) * lw + mx * 2 + 1)(0),
          yBlocks((my * 2 + 1) * lw + mx * 2)(0), yBlocks((my * 2 + 1) * lw + mx * 2 + 1)(0),
          0, 0) // neutral chroma: quantized DC of a level-shifted 128 is 0
      }
      val comps = Array.fill(mcusX * mcusY)(Array(0, 0, 0, 0, 1, 2))
      // non-interleaved luma AC grid: the unpadded block raster
      val acBlocks = (for (by2 <- 0 until (h + 7) / 8; bx2 <- 0 until (w + 7) / 8)
        yield yBlocks(by2 * lw + bx2)).toArray
      val cW = ((w + 1) / 2 + 7) / 8; val cH = ((h + 1) / 2 + 7) / 8
      val chromaBlocks = Array.fill(cW * cH)(zero)
      val out = new ByteArrayOutputStream()
      progressiveHeaders(out, w, h, color = true, restartEvery = 0)
      val bw = new BitWriter(out)
      sosMarker(out, Seq((1, 0, 0), (2, 0, 0), (3, 0, 0)), 0, 0, 0, 1)
      dcScanData(out, bw, units, comps, 3, 0, 1, 0)
      markerSeg(out, 0xc4, Array[Byte](0x11) ++ ProgAcBits.drop(1).map(_.toByte) ++ ProgAcVals)
      sosMarker(out, Seq((1, 0, 1)), 1, 63, 0, 1)
      acFirstScanData(out, bw, acBlocks, 1, 63, 1, 0)
      sosMarker(out, Seq((2, 0, 1)), 1, 63, 0, 0) // chroma: pure EOB runs
      acFirstScanData(out, bw, chromaBlocks, 1, 63, 0, 0)
      sosMarker(out, Seq((3, 0, 1)), 1, 63, 0, 0)
      acFirstScanData(out, bw, chromaBlocks, 1, 63, 0, 0)
      sosMarker(out, Seq((1, 0, 0), (2, 0, 0), (3, 0, 0)), 0, 0, 1, 0)
      dcScanData(out, bw, units, comps, 3, 1, 0, 0)
      sosMarker(out, Seq((1, 0, 1)), 1, 63, 1, 0)
      acRefineScanData(out, bw, acBlocks, 1, 63, 0, 0)
      out.write(0xff); out.write(0xd9)
      out.toByteArray
    }

    /** 24-bit bottom-up BMP of the SAME gray field: pixel-identical to
      * [[png]] for equal (w, h, seed, noise) — the container-independence
      * fixture. */
    def bmp(w: Int, h: Int, seed: Long, noise: Int = 0): Array[Byte] =
      bmpFromGray(w, h, gray(w, h, seed, noise))

    /** Integer closed-form field for ORACLE-EXACT fixtures:
      * p(x, y) = (seed·31 + 7x + 13y) mod 256 — every pixel an integer a
      * SQL twin re-derives verbatim (no trig, no floats anywhere), so a
      * decode+resize output over it can be hash-checked end to end
      * (q30e2) where the sinusoid family's last-ulp trig differences
      * forbid a sound twin (BASELINE.md round-13 oracle-flip analysis). */
    def bmpAffine(w: Int, h: Int, seed: Long): Array[Byte] =
      bmpFromGray(w, h, Array.tabulate(w * h)(i =>
        java.lang.Math.floorMod(seed * 31 + (i % w) * 7 + (i / w) * 13, 256L).toInt))

    /** [[bmpAffine]] with PER-SEED gradient coefficients
      * (ax = 7 + seed mod 23, ay = 13 + seed mod 17) — still all-integer
      * and SQL-re-derivable, but the gradient DIRECTION varies per seed,
      * so dHashes spread near-randomly across seeds instead of chaining
      * along one shared gradient. The dedup-fixture slice (q30c2):
      * under [[bmpAffine]]'s single shared gradient every image's dHash
      * sits within the Hamming budget of its neighbors and the whole
      * corpus collapses into ONE component — a degenerate dedup. */
    def bmpAffineKeyed(w: Int, h: Int, seed: Long): Array[Byte] = {
      val ax = 7 + java.lang.Math.floorMod(seed, 23L)
      val ay = 13 + java.lang.Math.floorMod(seed, 17L)
      bmpFromGray(w, h, Array.tabulate(w * h)(i =>
        java.lang.Math.floorMod(seed * 31 + (i % w) * ax + (i / w) * ay, 256L).toInt))
    }

    private def bmpFromGray(w: Int, h: Int, g: Array[Int]): Array[Byte] = {
      val rowBytes = (w * 3 + 3) / 4 * 4
      val dataSize = rowBytes * h
      def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
      def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, (v >>> 24).toByte)
      val out = new ByteArrayOutputStream()
      out.write('B'); out.write('M')
      out.write(le32(54 + dataSize)); out.write(le32(0)); out.write(le32(54))
      out.write(le32(40)); out.write(le32(w)); out.write(le32(h))
      out.write(le16(1)); out.write(le16(24)); out.write(le32(0)); out.write(le32(dataSize))
      out.write(le32(2835)); out.write(le32(2835)); out.write(le32(0)); out.write(le32(0))
      var y = h - 1 // bottom-up
      while (y >= 0) {
        var x = 0
        while (x < w) {
          val v = g(y * w + x)
          out.write(v); out.write(v); out.write(v) // BGR
          x += 1
        }
        var pad = w * 3
        while (pad % 4 != 0) { out.write(0); pad += 1 }
        y -= 1
      }
      out.toByteArray
    }

    /** GIF89a of the SAME gray field — LOSSLESS like PNG/BMP (a 256-entry
      * grayscale global color table, r = g = b = index, so the decoded
      * matrix is bit-identical to [[gray]]): header + logical screen
      * descriptor + GCT + one full-canvas image descriptor + REAL LZW
      * (variable-width LSB-first codes, a live dictionary, CLEAR-reset at
      * 4096, the classic output-count width-growth convention — the
      * decoder's dictionary and width machinery are genuinely exercised,
      * not fed root codes). `interlaced` writes the 4-pass row order. */
    def gif(w: Int, h: Int, seed: Long, noise: Int = 0, interlaced: Boolean = false): Array[Byte] = {
      val g = gray(w, h, seed, noise)
      val out = new ByteArrayOutputStream()
      def le16w(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      out.write('G'); out.write('I'); out.write('F'); out.write('8'); out.write('9'); out.write('a')
      le16w(w); le16w(h)
      out.write(0xf7) // GCT present, 8-bit color resolution, 256 entries
      out.write(0); out.write(0) // background index, aspect ratio
      var ci = 0
      while (ci < 256) { out.write(ci); out.write(ci); out.write(ci); ci += 1 }
      out.write(0x2c); le16w(0); le16w(0); le16w(w); le16w(h)
      out.write(if (interlaced) 0x40 else 0x00)
      out.write(8) // LZW minimum code size
      // pixel indices in FILE row order (the 4-pass shuffle when interlaced)
      val seq: Array[Int] =
        if (!interlaced) g
        else {
          val starts = Array(0, 4, 2, 1); val steps = Array(8, 8, 4, 2)
          val o = new Array[Int](w * h); var dst = 0
          var p = 0
          while (p < 4) {
            var y = starts(p)
            while (y < h) {
              var x = 0
              while (x < w) { o(dst) = g(y * w + x); dst += 1; x += 1 }
              y += steps(p)
            }
            p += 1
          }
          o
        }
      // LZW: codes into a raw byte stream, then 255-byte sub-blocks
      val clear = 256; val eoi = 257
      val raw = new ByteArrayOutputStream()
      var acc = 0L; var accBits = 0
      var width = 9
      var maxcode = (1 << width) - 1
      var free = eoi + 1
      def put(code: Int): Unit = {
        acc |= code.toLong << accBits; accBits += width
        while (accBits >= 8) { raw.write((acc & 0xff).toInt); acc >>>= 8; accBits -= 8 }
        // the classic convention: width grows when the table size at
        // OUTPUT time exceeds the current code range — this is what keeps
        // a conforming decoder (which counts codes READ) in lockstep
        if (free > maxcode && width < 12) {
          width += 1
          maxcode = if (width == 12) 4096 else (1 << width) - 1
        }
      }
      val dict = new java.util.HashMap[Integer, Integer](8192)
      put(clear)
      var prev = seq(0)
      var i = 1
      while (i < seq.length) {
        val k = seq(i)
        val key: Integer = (prev << 8) | k
        val hit = dict.get(key)
        if (hit != null) prev = hit.intValue()
        else {
          put(prev)
          if (free < 4096) { dict.put(key, free); free += 1 }
          else { // table full: reset, exactly as a conforming decoder expects
            put(clear)
            dict.clear(); free = eoi + 1; width = 9; maxcode = (1 << width) - 1
          }
          prev = k
        }
        i += 1
      }
      put(prev); put(eoi)
      if (accBits > 0) raw.write((acc & 0xff).toInt)
      val codeBytes = raw.toByteArray
      var off = 0
      while (off < codeBytes.length) {
        val n = math.min(255, codeBytes.length - off)
        out.write(n); out.write(codeBytes, off, n)
        off += n
      }
      out.write(0)    // block terminator
      out.write(0x3b) // trailer
      out.toByteArray
    }

    // ---- WebP VP8L (lossless) fixture encoder -----------------------------
    //
    // A real, minimal VP8L encoder (the decoder's adversarial twin, like
    // the PNG/GIF/JPEG generators): canonical length-limited prefix codes
    // built by package-merge, code-length-coded trees, and two transform
    // postures — [[webp]] codes the gray field through SUBTRACT-GREEN
    // (red/blue residuals collapse to one-symbol codes, so only the green
    // tree carries entropy), [[webpPredictor]] through the PREDICTOR
    // transform (uniform top-predict tiles + the forced edge rules).
    // Both decode bit-exactly back to [[gray]], so WebP joins the
    // lossless cross-container twin family (same pinned dHash as PNG).

    private final class LsbWriter {
      private val out = new ByteArrayOutputStream()
      private var acc = 0
      private var nb = 0
      /** `n` bits of `v`, LSB first (the VP8L stream convention). */
      def put(v: Int, n: Int): Unit = {
        var i = 0
        while (i < n) {
          acc |= ((v >> i) & 1) << nb
          nb += 1
          if (nb == 8) { out.write(acc); acc = 0; nb = 0 }
          i += 1
        }
      }
      /** A prefix code: its bits go MSB first. */
      def putCode(code: Int, len: Int): Unit = {
        var i = len - 1
        while (i >= 0) { put((code >> i) & 1, 1); i -= 1 }
      }
      def bytes: Array[Byte] = {
        if (nb > 0) { out.write(acc); acc = 0; nb = 0 }
        out.toByteArray
      }
    }

    /** Optimal length-limited prefix-code lengths (package-merge); needs
      * >= 2 live symbols, produces a Kraft-complete code within `limit`. */
    private def huffLengths(freq: Array[Int], limit: Int): Array[Int] = {
      val items = (0 until freq.length).filter(freq(_) > 0)
      val lengths = new Array[Int](freq.length)
      val base = items.map(i => (freq(i).toLong, List(i))).sortBy(_._1).toVector
      var prev = Vector.empty[(Long, List[Int])]
      var lvl = 0
      while (lvl < limit) {
        val pkgs = prev.grouped(2)
          .collect { case Seq(a, b) => (a._1 + b._1, a._2 ::: b._2) }.toVector
        prev = (base ++ pkgs).sortBy(_._1)
        lvl += 1
      }
      prev.take(2 * (items.size - 1)).foreach(_._2.foreach(s => lengths(s) += 1))
      lengths
    }

    /** Canonical codes for a length array — the (length, symbol)-sorted
      * sequential assignment the decoder rebuilds. */
    private def canonCodes(lengths: Array[Int]): Array[Int] = {
      val maxLen = lengths.max
      val cnt = new Array[Int](maxLen + 1)
      lengths.foreach(l => if (l > 0) cnt(l) += 1)
      val next = new Array[Int](maxLen + 1)
      var code = 0
      var l = 1
      while (l <= maxLen) { code = (code + cnt(l - 1)) << 1; next(l) = code; l += 1 }
      val codes = new Array[Int](lengths.length)
      var i = 0
      while (i < lengths.length) {
        if (lengths(i) > 0) { codes(i) = next(lengths(i)); next(lengths(i)) += 1 }
        i += 1
      }
      codes
    }

    private def writeSingleCode(bw: LsbWriter, sym: Int): Unit = {
      bw.put(1, 1); bw.put(0, 1) // simple, one symbol
      if (sym <= 1) { bw.put(0, 1); bw.put(sym, 1) }
      else { bw.put(1, 1); bw.put(sym, 8) }
    }

    /** Write one channel's prefix code (simple or code-length-coded);
      * returns (codes, lengths) for the pixel emission pass. */
    private def writeHuffCode(bw: LsbWriter, freq: Array[Int]): (Array[Int], Array[Int]) = {
      val live = (0 until freq.length).filter(freq(_) > 0)
      val codes = new Array[Int](freq.length)
      val lens = new Array[Int](freq.length)
      if (live.size == 1) {
        writeSingleCode(bw, live.head) // zero bits per symbol
        return (codes, lens)
      }
      if (live.size == 2 && live.last < 256) {
        val s0 = live(0); val s1 = live(1)
        bw.put(1, 1); bw.put(1, 1) // simple, two symbols
        if (s0 <= 1) { bw.put(0, 1); bw.put(s0, 1) } else { bw.put(1, 1); bw.put(s0, 8) }
        bw.put(s1, 8)
        codes(s0) = 0; lens(s0) = 1; codes(s1) = 1; lens(s1) = 1
        return (codes, lens)
      }
      val lengths = huffLengths(freq, 15)
      // RLE over the whole alphabet (17/18 for zero runs; no max_symbol)
      val toks = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
      var i = 0
      while (i < lengths.length) {
        if (lengths(i) == 0) {
          var j = i
          while (j < lengths.length && lengths(j) == 0) j += 1
          var run = j - i
          while (run >= 11) { val take = math.min(run, 138); toks += ((18, 7, take - 11)); run -= take }
          if (run >= 3) { toks += ((17, 3, run - 3)); run = 0 }
          while (run > 0) { toks += ((0, 0, 0)); run -= 1 }
          i = j
        } else { toks += ((lengths(i), 0, 0)); i += 1 }
      }
      val clFreq = new Array[Int](19)
      toks.foreach(t => clFreq(t._1) += 1)
      val clLens =
        if ((0 until 19).count(clFreq(_) > 0) == 1) {
          // one distinct code-length symbol: give it and a dummy 1-bit
          // codes so the code-length code stays complete
          val a = new Array[Int](19)
          val s = (0 until 19).find(clFreq(_) > 0).get
          a(s) = 1; a((s + 1) % 19) = 1
          a
        } else huffLengths(clFreq, 7)
      val clCodes = canonCodes(clLens)
      var numCl = 19
      while (numCl > 4 && clLens(Vp8lClOrder(numCl - 1)) == 0) numCl -= 1
      bw.put(0, 1) // not simple
      bw.put(numCl - 4, 4)
      var k = 0
      while (k < numCl) { bw.put(clLens(Vp8lClOrder(k)), 3); k += 1 }
      bw.put(0, 1) // no max_symbol
      toks.foreach { case (sym, eb, ev) =>
        bw.putCode(clCodes(sym), clLens(sym))
        if (eb > 0) bw.put(ev, eb)
      }
      (canonCodes(lengths), lengths)
    }

    /** One entropy-coded image: no color cache, no meta prefix image,
      * literal-only pixel stream (the trees carry all the compression). */
    private def writeVp8lImage(bw: LsbWriter, px: Array[Int], isMain: Boolean): Unit = {
      bw.put(0, 1)             // no color cache
      if (isMain) bw.put(0, 1) // no meta prefix image
      val gf = new Array[Int](280); val rf = new Array[Int](256)
      val bf = new Array[Int](256); val af = new Array[Int](256)
      px.foreach { p =>
        gf((p >> 8) & 0xff) += 1; rf((p >> 16) & 0xff) += 1
        bf(p & 0xff) += 1; af((p >>> 24) & 0xff) += 1
      }
      val (gc, gl) = writeHuffCode(bw, gf)
      val (rc, rl) = writeHuffCode(bw, rf)
      val (bc, bl) = writeHuffCode(bw, bf)
      val (ac, al) = writeHuffCode(bw, af)
      writeSingleCode(bw, 0) // distance: unused, one-symbol (zero-bit) code
      px.foreach { p =>
        val g = (p >> 8) & 0xff; val r = (p >> 16) & 0xff
        val b = p & 0xff; val a = (p >>> 24) & 0xff
        if (gl(g) > 0) bw.putCode(gc(g), gl(g))
        if (rl(r) > 0) bw.putCode(rc(r), rl(r))
        if (bl(b) > 0) bw.putCode(bc(b), bl(b))
        if (al(a) > 0) bw.putCode(ac(a), al(a))
      }
    }

    private def riffWebp(payload: Array[Byte]): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      def le32w(v: Int): Unit = {
        out.write(v & 0xff); out.write((v >> 8) & 0xff)
        out.write((v >> 16) & 0xff); out.write((v >>> 24) & 0xff)
      }
      val pad = payload.length & 1
      out.write("RIFF".getBytes(StandardCharsets.US_ASCII))
      le32w(4 + 8 + payload.length + pad)
      out.write("WEBP".getBytes(StandardCharsets.US_ASCII))
      out.write("VP8L".getBytes(StandardCharsets.US_ASCII))
      le32w(payload.length)
      out.write(payload)
      if (pad == 1) out.write(0)
      out.toByteArray
    }

    /** Lossless WebP (VP8L) of the gray field, coded through the
      * SUBTRACT-GREEN transform: r = b = luma collapse to zero residuals
      * (one-symbol codes), the green channel carries the image. */
    def webp(w: Int, h: Int, seed: Long, noise: Int = 0): Array[Byte] = {
      val g = gray(w, h, seed, noise)
      val px = g.map(v => 0xff000000 | (v << 8))
      val bw = new LsbWriter
      bw.put(0x2f, 8)
      bw.put(w - 1, 14); bw.put(h - 1, 14)
      bw.put(0, 1) // alpha hint
      bw.put(0, 3) // version
      bw.put(1, 1); bw.put(2, 2) // transform: subtract-green
      bw.put(0, 1)               // no more transforms
      writeVp8lImage(bw, px, isMain = true)
      riffWebp(bw.bytes)
    }

    /** The same pixels through the PREDICTOR transform: 16x16 tiles all
      * using mode 2 (top), residuals against the reconstructed neighbors
      * with the forced edge rules — exercises the subresolution mode
      * image and the predictor inverse end to end. */
    def webpPredictor(w: Int, h: Int, seed: Long, noise: Int = 0): Array[Byte] = {
      val g = gray(w, h, seed, noise)
      val px = g.map(v => 0xff000000 | (v << 16) | (v << 8) | v)
      def subPixels(a: Int, b: Int): Int = {
        val aa = ((a >>> 24) - (b >>> 24)) & 0xff
        val rr = (((a >> 16) & 0xff) - ((b >> 16) & 0xff)) & 0xff
        val gg = (((a >> 8) & 0xff) - ((b >> 8) & 0xff)) & 0xff
        val bb = ((a & 0xff) - (b & 0xff)) & 0xff
        (aa << 24) | (rr << 16) | (gg << 8) | bb
      }
      val bits = 4 // 16x16 tiles
      val sw = (w + 15) >> 4; val sh = (h + 15) >> 4
      val modes = Array.fill(sw * sh)(0xff000000 | (2 << 8)) // mode 2 = T
      val res = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val pos = y * w + x
          val pred =
            if (x == 0 && y == 0) 0xff000000
            else if (y == 0) px(pos - 1)
            else px(pos - w) // column 0 forced T == tile mode T
          res(pos) = subPixels(px(pos), pred)
          x += 1
        }
        y += 1
      }
      val bw = new LsbWriter
      bw.put(0x2f, 8)
      bw.put(w - 1, 14); bw.put(h - 1, 14)
      bw.put(0, 1); bw.put(0, 3)
      bw.put(1, 1); bw.put(0, 2)  // transform: predictor
      bw.put(bits - 2, 3)
      writeVp8lImage(bw, modes, isMain = false)
      bw.put(0, 1)                // no more transforms
      writeVp8lImage(bw, res, isMain = true)
      riffWebp(bw.bytes)
    }
  }

  /** Pixel decode to a grayscale matrix — the content-level step
    * [[ContainerParser]] stops short of. PNG, GIF, BMP and JPEG go through
    * the JDK's `javax.imageio` readers (module `java.desktop`, no codec
    * library): PNG in every colour type and bit depth, palette and Adam7
    * interlaced included; the first GIF87a/89a frame, interlaced or not,
    * as its own rectangle (later frames of an animation are deltas —
    * metadata counts them, content dedup keys on the first); uncompressed,
    * RLE and bitfield BMP; baseline and progressive JPEG, whose luma plane
    * is read raw, with no colour conversion. WebP: lossless VP8L (prefix
    * codes, color cache, meta prefix image, LZ77 with the 2D distance map,
    * all four transforms), decoded here because the JDK has no WebP
    * reader. Grey images keep their samples (scaled to 8 bits); colour
    * ones reduce to luma = (299r + 587g + 114b)/1000. The decode matrix is
    * explicit, and everything outside it — arithmetic-coded, 12-bit or
    * CMYK JPEG, a BMP embedding a JPEG or PNG, lossy-VP8 WebP, any other
    * container — returns `None` (never throws), as does anything
    * malformed, truncated or over the header bounds (`readImageIO`): a
    * 100 TB corpus pass must skip what it cannot decode, not die on it,
    * and [[Multimodal.decodeStats]] makes the skipped share measurable. */
  object ImageDecoder {
    final case class Gray(width: Int, height: Int, pixels: Array[Int])

    private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
    private def be32(b: Array[Byte], i: Int): Int =
      (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
    private def le32(b: Array[Byte], i: Int): Int =
      u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

    def decode(b: Array[Byte]): Option[Gray] =
      try {
        val magic = new String(b.take(6), StandardCharsets.ISO_8859_1)
        if (Seq("\u0089PNG", "\u00ff\u00d8", "GIF87a", "GIF89a").exists(magic.startsWith) ||
            (b.length >= 54 && magic.startsWith("BM")))
          readImageIO(b)
        else if (b.length >= 12 && be32(b, 0) == 0x52494646 && be32(b, 8) == 0x57454250)
          decodeWebp(b) // RIFF....WEBP
        else None
      } catch { case _: Exception => None }

    /** One strict ImageIO read. The reader is looked up per call (readers
      * are not thread-safe) over an in-memory stream, and no global ImageIO
      * state is touched. Any read warning makes the image undecodable: the
      * JPEG reader salvages a truncated stream into a grey-filled image and
      * only warns. Metadata is read, not ignored, so the PNG reader
      * rejects a stream cut inside its IDAT. The allocation guards run on
      * the header, before any pixel buffer exists — the buffers derive
      * from crafted-able header dimensions, not from the bytes present:
      * (1) an absolute 2^26-pixel cap; (2) for PNG, deflate's maximum
      * expansion of 1032:1, so the filtered image may not exceed 1032x the
      * input; (3) an uncompressed BMP stores its rows as they are, so they
      * must all be present; (4) a BMP is read only in compressions 0-3
      * (BI_JPEG and BI_PNG embed a second image, which the BMP reader
      * opens unguarded, sized by the header's image-size field); (5) a
      * JPEG passes [[jpegBounded]] before libjpeg sees it. */
    private def readImageIO(b: Array[Byte]): Option[Gray] = {
      if (u8(b, 0) == 0xff && !jpegBounded(b)) return None
      val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(b))
      try {
        val readers = ImageIO.getImageReaders(in)
        if (!readers.hasNext) return None
        val reader = readers.next()
        try {
          var warned = false
          reader.addIIOReadWarningListener((_, _) => warned = true)
          reader.setInput(in, true, /* ignoreMetadata = */ false)
          val (w, h) = (reader.getWidth(0).toLong, reader.getHeight(0).toLong)
          val format = reader.getFormatName.toLowerCase
          if (w <= 0 || h <= 0 || w * h > (1L << 26)) return None
          lazy val bits = reader.getRawImageType(0).getColorModel.getPixelSize
          if (format == "png" && ((w * bits + 7) / 8 + 1) * h > b.length * 1032L + 64L) return None
          // a BMP's compression: 0 for a core header, which has no field
          val compression = if (format == "bmp" && le32(b, 14) >= 40) le32(b, 30) else 0
          if (compression < 0 || compression > 3) return None
          if (format == "bmp" && compression % 3 == 0 && // BI_RGB, BI_BITFIELDS: rows stored as they are
              (le32(b, 10) & 0xffffffffL) + (w * bits + 31) / 32 * 4 * h > b.length) return None
          val gray =
            if (format == "jpeg") jpegLuma(reader.readRaster(0, null)) else Some(toGray(reader.read(0)))
          if (warned) None else gray
        } finally reader.dispose()
      } finally in.close()
    }

    /** The two bounds a JPEG must meet before libjpeg reads it, checked
      * on its marker segments. (1) libjpeg holds every coefficient of a
      * multi-scan frame until EOI — a progressive frame, or a sequential
      * one split over several scans — so such a frame may not exceed
      * 2^24 pixels. (2) libjpeg decodes every scan it finds, each costing
      * O(blocks x band width), so a few KB of tiny refinement scans over a
      * large frame would otherwise pin an executor core for minutes on one
      * image: the scans' work — per scanned component, its MCU-padded
      * block count times (Se - Ss + 2) — may not exceed 2^30 units.
      * libjpeg's default progressive script costs about 0.1G units on a
      * 3-component 2^24-pixel frame. Bytes that are not a marker where
      * one is due fail the check (libjpeg would only warn, skip them and
      * read on), as do markers libjpeg refuses (lossless, hierarchical and
      * arithmetic-coded frames among them); a stream that ends early
      * passes, as its scans have all been counted. */
    private def jpegBounded(b: Array[Byte]): Boolean = {
      def be16(i: Int) = (u8(b, i) << 8) | u8(b, i + 1)
      var frame: IndexedSeq[(Int, Long)] = null // component id, MCU-padded block count
      var (pixels, work, progressive) = (0L, 0L, false)
      var i = 2
      while (i + 4 <= b.length) {
        val m = u8(b, i + 1)
        if (u8(b, i) != 0xff) return false
        else if (m == 0xff) i += 1 // a fill byte
        else if (m == 0xd9) return true // EOI
        else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i += 2 // TEM, RSTn: no length
        else {
          val (seg, end) = (i + 4, i + 2 + be16(i + 2))
          if (end < seg || end > b.length) return end > b.length // a stream cut short passes
          i = end
          m match {
            case 0xc0 | 0xc1 | 0xc2 => // SOF: Lf P Y X Nf, then Nf x (C, Hi|Vi, Tq)
              val comps = (0 until u8(b, seg + 5)).map(c => (u8(b, seg + 6 + 3 * c), u8(b, seg + 7 + 3 * c)))
              if (frame != null || comps.isEmpty || seg + 6 + 3 * comps.size > end) return false
              if (comps.exists { case (_, hv) => hv >> 4 == 0 || (hv & 15) == 0 }) return false
              progressive = m == 0xc2
              pixels = be16(seg + 1).toLong * be16(seg + 3)
              if (progressive && pixels > (1L << 24)) return false
              val (mcuW, mcuH) = (8 * comps.map(_._2 >> 4).max, 8 * comps.map(_._2 & 15).max)
              val mcus = (be16(seg + 3) + mcuW - 1L) / mcuW * ((be16(seg + 1) + mcuH - 1L) / mcuH)
              frame = comps.map { case (id, hv) => (id, mcus * (hv >> 4) * (hv & 15)) }
            case 0xda => // SOS: Ls Ns, then Ns x (Cs, Td|Ta), then Ss Se Ah|Al
              val scanned = (0 until u8(b, seg)).map(s => u8(b, seg + 1 + 2 * s))
                .map(id => if (frame == null) -1 else frame.indexWhere(_._1 == id))
              val (ss, se) = (u8(b, end - 3), u8(b, end - 2))
              if (scanned.isEmpty || scanned.contains(-1) || (progressive && ss > se)) return false
              if (scanned.size < frame.size && pixels > (1L << 24)) return false
              work += scanned.map(frame(_)._2).sum * (if (progressive) se - ss + 2 else 65)
              if (work > (1L << 30)) return false
              // skip the entropy-coded data: stuffed 0xFF00, RSTn and fill
              // bytes belong to it; any other 0xFF-led byte is the next marker
              while (i + 1 < b.length && !(u8(b, i) == 0xff && u8(b, i + 1) != 0 &&
                  u8(b, i + 1) != 0xff && (u8(b, i + 1) < 0xd0 || u8(b, i + 1) > 0xd7))) i += 1
            case 0xc4 | 0xcc | 0xdb | 0xdc | 0xdd | 0xfe => // tables, DRI, DNL, COM
            case _ if m >= 0xe0 && m <= 0xef => // APPn
            case _ => return false // libjpeg refuses every other marker, a second SOI among them
          }
        }
      }
      true
    }

    /** A JPEG's raw luma: band 0 of the unconverted raster (Y of YCbCr, or
      * the single grey component). Other component counts (CMYK, YCCK)
      * are outside the matrix. */
    private def jpegLuma(r: Raster): Option[Gray] =
      if (r.getNumBands != 1 && r.getNumBands != 3) None
      else Some(Gray(r.getWidth, r.getHeight,
        r.getSamples(r.getMinX, r.getMinY, r.getWidth, r.getHeight, 0, null: Array[Int])))

    /** Grey images keep band 0's samples, scaled to 8 bits (`getRGB` would
      * gamma-convert the linear grey space); everything else is luma over
      * `getRGB`'s sRGB. */
    private def toGray(img: BufferedImage): Gray = {
      val (w, h) = (img.getWidth, img.getHeight)
      val px =
        if (img.getColorModel.getColorSpace.getType == ColorSpace.TYPE_GRAY) {
          val s = img.getRaster.getSamples(0, 0, w, h, 0, null: Array[Int])
          val max = (1 << img.getRaster.getSampleModel.getSampleSize(0)) - 1
          if (max != 255) { var i = 0; while (i < s.length) { s(i) = s(i) * 255 / max; i += 1 } }
          s
        } else luma(img.getRGB(0, 0, w, h, null, 0, w))
      Gray(w, h, px)
    }

    /** (299r + 587g + 114b) / 1000 of each ARGB pixel, in place. */
    private def luma(argb: Array[Int]): Array[Int] = {
      var i = 0
      while (i < argb.length) {
        val p = argb(i)
        argb(i) = (((p >> 16) & 0xff) * 299 + ((p >> 8) & 0xff) * 587 + (p & 0xff) * 114) / 1000
        i += 1
      }
      argb
    }

    /** WebP VP8L (lossless) pixel decode — the public WebP Lossless
      * Bitstream Specification (RFC 9649 §3): LSB-first bitstream;
      * canonical prefix codes, either "simple" (1–2 symbols) or
      * code-length-coded in the VP8L code-length-code order; optional
      * color cache (hash-indexed recent-pixel dictionary); an optional
      * meta prefix (entropy) image selecting per-tile code groups; LZ77
      * backward references whose short distances map through the
      * 120-entry 2D neighborhood table; and all four transforms —
      * predictor (14 modes with the forced edge rules), color
      * (green→red/blue cross-channel deltas), subtract-green, and color
      * indexing (palette, with sub-byte pixel bundling) — applied in
      * reverse coding order. Lossy `VP8 ` and `VP8X`-wrapped payloads
      * return None (the decode matrix reports them undecodable), as does
      * anything malformed, truncated, or beyond the 2^26-pixel cap —
      * never a throw; work is bounded by the declared dimensions (every
      * decode loop is output-driven, and the bit reader saturates at
      * end-of-stream instead of spinning). */
    private def decodeWebp(b: Array[Byte]): Option[Gray] = {
      var pos = 12
      var off = -1; var end = -1
      while (off < 0 && pos + 8 <= b.length) {
        val id = be32(b, pos)
        val size = le32(b, pos + 4).toLong & 0xffffffffL
        if (pos + 8 + size > b.length) return None
        if (id == 0x5650384c) { off = pos + 8; end = (pos + 8 + size).toInt } // "VP8L"
        pos += (8 + size + (size & 1)).toInt
      }
      if (off < 0 || end - off < 5 || u8(b, off) != 0x2f) return None
      val r = new Vp8l.Reader(b, off + 1, end)
      val w = r.bits(14) + 1
      val h = r.bits(14) + 1
      r.bits(1) // alpha hint
      if (r.bits(3) != 0) return None // version must be 0
      if (w.toLong * h > (1L << 26)) return None // same pixel cap as PNG
      val argb = Vp8l.decodeMain(r, w, h)
      if (argb == null || argb.length != w * h) None else Some(Gray(w, h, luma(argb)))
    }

    /** VP8L bitstream machinery (see [[decodeWebp]]). */
    private[graft] object Vp8l {
      /** LSB-first bit reader; saturates (returns zero bits, sets `eof`)
        * past the end instead of throwing — every caller loop is bounded
        * by output size and aborts on `eof`. */
      final class Reader(b: Array[Byte], start: Int, end: Int) {
        private var pos = start
        private var bit = 0
        var eof = false
        def bits(n: Int): Int = {
          var v = 0; var i = 0
          while (i < n) {
            if (pos >= end) { eof = true; return v }
            v |= ((b(pos) >> bit) & 1) << i
            bit += 1
            if (bit == 8) { bit = 0; pos += 1 }
            i += 1
          }
          v
        }
        def one(): Int = bits(1)
      }

      sealed trait PCode { def read(r: Reader): Int }
      /** Degenerate one-symbol code: zero bits per symbol (VP8L-legal). */
      private final case class Single(sym: Int) extends PCode {
        def read(r: Reader): Int = sym
      }
      /** Two-symbol simple code: one bit selects, in WRITTEN order. */
      private final case class Pair(s0: Int, s1: Int) extends PCode {
        def read(r: Reader): Int = if (r.one() == 0) s0 else s1
      }
      /** Canonical prefix code (lengths sorted by (length, symbol), codes
        * assigned sequentially per length — the DEFLATE construction);
        * read bit-by-bit, MSB of the code first. */
      private final class Canon(maxLen: Int, cnt: Array[Int],
          firstCode: Array[Int], firstIdx: Array[Int], syms: Array[Int]) extends PCode {
        def read(r: Reader): Int = {
          var code = 0; var len = 0
          while (len < maxLen) {
            code = (code << 1) | r.one()
            len += 1
            if (cnt(len) > 0) {
              val o = code - firstCode(len)
              if (o >= 0 && o < cnt(len)) return syms(firstIdx(len) + o)
            }
            if (r.eof) return -1
          }
          -1
        }
      }
      /** Build a code from a length array; null when unusable (empty,
        * over-subscribed, or over the 15-bit cap). */
      private def buildCode(lengths: Array[Int]): PCode = {
        var live = 0; var lastSym = -1; var maxLen = 0
        var i = 0
        while (i < lengths.length) {
          val l = lengths(i)
          if (l > 0) { live += 1; lastSym = i; if (l > maxLen) maxLen = l }
          i += 1
        }
        if (live == 0) return null
        if (live == 1) return Single(lastSym)
        if (maxLen > 15) return null
        val cnt = new Array[Int](maxLen + 1)
        lengths.foreach(l => if (l > 0) cnt(l) += 1)
        var kraft = 0L
        var l = 1
        while (l <= maxLen) { kraft += cnt(l).toLong << (maxLen - l); l += 1 }
        if (kraft > (1L << maxLen)) return null
        val firstCode = new Array[Int](maxLen + 1)
        val firstIdx = new Array[Int](maxLen + 1)
        var code = 0; var idx = 0
        l = 1
        while (l <= maxLen) {
          code = (code + cnt(l - 1)) << 1
          firstCode(l) = code; firstIdx(l) = idx; idx += cnt(l)
          l += 1
        }
        val syms = new Array[Int](live)
        val fill = firstIdx.clone()
        i = 0
        while (i < lengths.length) {
          if (lengths(i) > 0) { syms(fill(lengths(i))) = i; fill(lengths(i)) += 1 }
          i += 1
        }
        new Canon(maxLen, cnt, firstCode, firstIdx, syms)
      }

      /** One prefix code from the stream: "simple" (1–2 listed symbols)
        * or code-length-coded. Null on any malformation. */
      private def readCode(r: Reader, alphabetSize: Int): PCode = {
        if (r.one() == 1) {
          val num = r.bits(1) + 1
          val s0 = if (r.one() == 1) r.bits(8) else r.bits(1)
          if (num == 1) { if (s0 >= alphabetSize) null else Single(s0) }
          else {
            val s1 = r.bits(8)
            if (s0 >= alphabetSize || s1 >= alphabetSize || s0 == s1) null
            else Pair(s0, s1)
          }
        } else {
          val numCl = r.bits(4) + 4
          val clLen = new Array[Int](19)
          var i = 0
          while (i < numCl) { clLen(Multimodal.Vp8lClOrder(i)) = r.bits(3); i += 1 }
          if (r.eof) return null
          val clCode = buildCode(clLen)
          if (clCode == null) return null
          var budget = alphabetSize
          if (r.one() == 1) {
            val nb = 2 + 2 * r.bits(3)
            budget = 2 + r.bits(nb)
            if (budget > alphabetSize) return null
          }
          val lengths = new Array[Int](alphabetSize)
          var prev = 8
          var sym = 0
          while (sym < alphabetSize && budget > 0 && !r.eof) {
            budget -= 1
            val c = clCode.read(r)
            if (c < 0 || c > 18) return null
            if (c < 16) {
              lengths(sym) = c; sym += 1
              if (c != 0) prev = c
            } else {
              var rep = 0; var v = 0
              if (c == 16) { rep = 3 + r.bits(2); v = prev }
              else if (c == 17) { rep = 3 + r.bits(3) }
              else { rep = 11 + r.bits(7) }
              if (sym + rep > alphabetSize) return null
              var k = 0
              while (k < rep) { lengths(sym) = v; sym += 1; k += 1 }
            }
          }
          buildCode(lengths)
        }
      }

      /** LZ77 length/distance prefix decoding (the 24-code family). */
      private def prefixValue(code: Int, r: Reader): Int =
        if (code < 4) code + 1
        else {
          val extra = (code - 2) >> 1
          val offset = (2 + (code & 1)) << extra
          offset + r.bits(extra) + 1
        }

      /** (dy, 8-dx) plane position -> distance code, from the spec's 2D
        * neighborhood mapping (255 = unmapped); inverted at init into
        * (dx, dy) per 0-based code. */
      private val PlaneToCode: Array[Int] = Array(
        96, 73, 55, 39, 23, 13, 5, 1, 255, 255, 255, 255, 255, 255, 255, 255,
        101, 78, 58, 42, 26, 16, 8, 2, 0, 3, 9, 17, 27, 43, 59, 79,
        102, 86, 62, 46, 32, 20, 10, 6, 4, 7, 11, 21, 33, 47, 63, 87,
        105, 90, 70, 52, 37, 28, 18, 14, 12, 15, 19, 29, 38, 53, 71, 91,
        110, 99, 82, 66, 48, 35, 30, 24, 22, 25, 31, 36, 49, 67, 83, 100,
        115, 108, 94, 76, 64, 50, 44, 40, 34, 41, 45, 51, 65, 77, 95, 109,
        118, 113, 103, 92, 80, 68, 60, 56, 54, 57, 61, 69, 81, 93, 104, 114,
        119, 116, 111, 106, 97, 88, 84, 74, 72, 75, 85, 89, 98, 107, 112, 117)
      private val (distXOff, distYOff) = {
        val xs = new Array[Int](120); val ys = new Array[Int](120)
        var i = 0
        while (i < PlaneToCode.length) {
          val c = PlaneToCode(i)
          if (c != 255) { xs(c) = 8 - (i & 15); ys(c) = i >> 4 }
          i += 1
        }
        (xs, ys)
      }

      private def sub(size: Int, bits: Int): Int = (size + (1 << bits) - 1) >> bits
      private def cacheIdx(p: Int, bits: Int): Int = (0x1e35a7bd * p) >>> (32 - bits)

      private def addPixels(a: Int, b: Int): Int = {
        val aa = ((a >>> 24) + (b >>> 24)) & 0xff
        val rr = (((a >> 16) & 0xff) + ((b >> 16) & 0xff)) & 0xff
        val gg = (((a >> 8) & 0xff) + ((b >> 8) & 0xff)) & 0xff
        val bb = ((a & 0xff) + (b & 0xff)) & 0xff
        (aa << 24) | (rr << 16) | (gg << 8) | bb
      }

      private final case class Group(g: PCode, r: PCode, b: PCode, a: PCode, d: PCode)

      /** One entropy-coded image: color-cache header, (main role only)
        * the meta prefix image, per-group codes, then the literal /
        * backward-reference / cache-hit pixel stream. Null on any
        * malformation or truncation. */
      private def decodeImg(r: Reader, xsize: Int, ysize: Int, isMain: Boolean): Array[Int] = {
        if (xsize <= 0 || ysize <= 0) return null
        var cacheBits = 0
        if (r.one() == 1) {
          cacheBits = r.bits(4)
          if (cacheBits < 1 || cacheBits > 11) return null
        }
        val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
        val cache = if (cacheBits > 0) new Array[Int](cacheSize) else null
        var huffBits = 0; var huffImg: Array[Int] = null; var huffXs = 0
        if (isMain && r.one() == 1) {
          huffBits = r.bits(3) + 2
          huffXs = sub(xsize, huffBits)
          huffImg = decodeImg(r, huffXs, sub(ysize, huffBits), isMain = false)
          if (huffImg == null) return null
        }
        var nGroups = 1
        if (huffImg != null) {
          var i = 0
          while (i < huffImg.length) {
            val m = (huffImg(i) >> 8) & 0xffff
            if (m + 1 > nGroups) nGroups = m + 1
            i += 1
          }
        }
        val groups = new Array[Group](nGroups)
        var gi = 0
        while (gi < nGroups) {
          val g = readCode(r, 256 + 24 + cacheSize)
          val red = readCode(r, 256); val blue = readCode(r, 256)
          val alpha = readCode(r, 256); val dist = readCode(r, 40)
          if (g == null || red == null || blue == null || alpha == null || dist == null)
            return null
          groups(gi) = Group(g, red, blue, alpha, dist)
          gi += 1
        }
        val n = xsize * ysize
        val out = new Array[Int](n)
        var pos = 0
        while (pos < n) {
          if (r.eof) return null
          val grp = if (huffImg == null) groups(0) else {
            val x = pos % xsize; val y = pos / xsize
            groups((huffImg((y >> huffBits) * huffXs + (x >> huffBits)) >> 8) & 0xffff)
          }
          val s = grp.g.read(r)
          if (s < 0) return null
          if (s < 256) {
            val red = grp.r.read(r); val blue = grp.b.read(r); val alpha = grp.a.read(r)
            if ((red | blue | alpha) < 0) return null
            val p = (alpha << 24) | (red << 16) | (s << 8) | blue
            out(pos) = p
            if (cache != null) cache(cacheIdx(p, cacheBits)) = p
            pos += 1
          } else if (s < 280) {
            val len = prefixValue(s - 256, r)
            val dc = grp.d.read(r)
            if (dc < 0) return null
            val dcode = prefixValue(dc, r)
            val dist =
              if (dcode > 120) dcode - 120
              else {
                val d = distYOff(dcode - 1) * xsize + distXOff(dcode - 1)
                if (d < 1) 1 else d
              }
            if (dist > pos || pos + len > n) return null
            var k = 0
            while (k < len) {
              val p = out(pos - dist)
              out(pos) = p
              if (cache != null) cache(cacheIdx(p, cacheBits)) = p
              pos += 1; k += 1
            }
          } else {
            val ci = s - 280
            if (cache == null || ci >= cacheSize) return null
            out(pos) = cache(ci)
            pos += 1
          }
        }
        out
      }

      /** Transform headers + main image + inverse application (reverse
        * coding order; color-indexing updates the coded width for
        * everything read after it). */
      def decodeMain(r: Reader, w0: Int, h: Int): Array[Int] = {
        var w = w0
        var seen = 0
        val transforms =
          scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Array[Int], Int, Int)]
        var guard = 0
        while (guard < 5 && r.one() == 1) {
          guard += 1
          val t = r.bits(2)
          if ((seen & (1 << t)) != 0) return null
          seen |= 1 << t
          t match {
            case 0 | 1 =>
              val bits = r.bits(3) + 2
              val img = decodeImg(r, sub(w, bits), sub(h, bits), isMain = false)
              if (img == null) return null
              transforms += ((t, bits, img, w, 0))
            case 2 =>
              transforms += ((2, 0, null, w, 0))
            case _ =>
              val tableSize = r.bits(8) + 1
              val pal = decodeImg(r, tableSize, 1, isMain = false)
              if (pal == null) return null
              var i = 1
              while (i < tableSize) { pal(i) = addPixels(pal(i), pal(i - 1)); i += 1 }
              val wb =
                if (tableSize <= 2) 3 else if (tableSize <= 4) 2
                else if (tableSize <= 16) 1 else 0
              transforms += ((3, wb, pal, w, tableSize))
              w = sub(w, wb)
          }
          if (r.eof) return null
        }
        var px = decodeImg(r, w, h, isMain = true)
        if (px == null) return null
        var ti = transforms.length - 1
        while (ti >= 0) {
          val (t, bits, data, wAt, tableSize) = transforms(ti)
          t match {
            case 0 => if (!inversePredictor(px, wAt, h, bits, data)) return null
            case 1 => inverseColor(px, wAt, h, bits, data)
            case 2 => inverseSubtractGreen(px)
            case _ => px = inverseColorIndex(px, wAt, h, bits, data, tableSize)
          }
          ti -= 1
        }
        px
      }

      private def inverseSubtractGreen(px: Array[Int]): Unit = {
        var i = 0
        while (i < px.length) {
          val p = px(i)
          val g = (p >> 8) & 0xff
          val rr = (((p >> 16) & 0xff) + g) & 0xff
          val bb = ((p & 0xff) + g) & 0xff
          px(i) = (p & 0xff00ff00) | (rr << 16) | bb
          i += 1
        }
      }

      /** (int8 pred * int8 channel) >> 5 — the spec's cross-channel delta. */
      private def cdelta(t: Int, c: Int): Int = (t.toByte.toInt * c.toByte.toInt) >> 5

      private def inverseColor(
          px: Array[Int], w: Int, h: Int, bits: Int, cteImg: Array[Int]): Unit = {
        val sw = sub(w, bits)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val cte = cteImg((y >> bits) * sw + (x >> bits))
            val p = px(y * w + x)
            val g = (p >> 8) & 0xff
            var rr = (p >> 16) & 0xff
            var bb = p & 0xff
            rr = (rr + cdelta(cte & 0xff, g)) & 0xff
            bb = (bb + cdelta((cte >> 8) & 0xff, g) + cdelta((cte >> 16) & 0xff, rr)) & 0xff
            px(y * w + x) = (p & 0xff00ff00) | (rr << 16) | bb
            x += 1
          }
          y += 1
        }
      }

      private def avg2(a: Int, b: Int): Int =
        (((a ^ b) & 0xfefefefe) >>> 1) + (a & b)

      private def clampByte(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

      private def select(l: Int, t: Int, tl: Int): Int = {
        val pa = (l >>> 24) + (t >>> 24) - (tl >>> 24)
        val pr = ((l >> 16) & 0xff) + ((t >> 16) & 0xff) - ((tl >> 16) & 0xff)
        val pg = ((l >> 8) & 0xff) + ((t >> 8) & 0xff) - ((tl >> 8) & 0xff)
        val pb = (l & 0xff) + (t & 0xff) - (tl & 0xff)
        val pL = math.abs(pa - (l >>> 24)) + math.abs(pr - ((l >> 16) & 0xff)) +
          math.abs(pg - ((l >> 8) & 0xff)) + math.abs(pb - (l & 0xff))
        val pT = math.abs(pa - (t >>> 24)) + math.abs(pr - ((t >> 16) & 0xff)) +
          math.abs(pg - ((t >> 8) & 0xff)) + math.abs(pb - (t & 0xff))
        if (pL < pT) l else t
      }

      private def clampAddSubFull(l: Int, t: Int, tl: Int): Int = {
        val aa = clampByte((l >>> 24) + (t >>> 24) - (tl >>> 24))
        val rr = clampByte(((l >> 16) & 0xff) + ((t >> 16) & 0xff) - ((tl >> 16) & 0xff))
        val gg = clampByte(((l >> 8) & 0xff) + ((t >> 8) & 0xff) - ((tl >> 8) & 0xff))
        val bb = clampByte((l & 0xff) + (t & 0xff) - (tl & 0xff))
        (aa << 24) | (rr << 16) | (gg << 8) | bb
      }

      private def clampAddSubHalf(c: Int, d: Int): Int = {
        def ch(cc: Int, dc: Int): Int = clampByte(cc + (cc - dc) / 2)
        (ch(c >>> 24, d >>> 24) << 24) |
          (ch((c >> 16) & 0xff, (d >> 16) & 0xff) << 16) |
          (ch((c >> 8) & 0xff, (d >> 8) & 0xff) << 8) |
          ch(c & 0xff, d & 0xff)
      }

      /** In-place predictor inverse: forced modes on the edges (top-left
        * = opaque black, row 0 = L, column 0 = T), the tile's mode from
        * the subresolution image elsewhere; TR of the rightmost column
        * reads the already-reconstructed first pixel of the current row
        * (the buffer-arithmetic behavior real decoders share). False on
        * an out-of-range mode. */
      private def inversePredictor(
          px: Array[Int], w: Int, h: Int, bits: Int, modes: Array[Int]): Boolean = {
        val sw = sub(w, bits)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val pos = y * w + x
            val pred =
              if (x == 0 && y == 0) 0xff000000
              else if (y == 0) px(pos - 1)
              else if (x == 0) px(pos - w)
              else {
                val mode = (modes((y >> bits) * sw + (x >> bits)) >> 8) & 0xff
                val l = px(pos - 1); val t = px(pos - w)
                val tl = px(pos - w - 1); val tr = px(pos - w + 1)
                mode match {
                  case 0 => 0xff000000
                  case 1 => l
                  case 2 => t
                  case 3 => tr
                  case 4 => tl
                  case 5 => avg2(avg2(l, tr), t)
                  case 6 => avg2(l, tl)
                  case 7 => avg2(l, t)
                  case 8 => avg2(tl, t)
                  case 9 => avg2(t, tr)
                  case 10 => avg2(avg2(l, tl), avg2(t, tr))
                  case 11 => select(l, t, tl)
                  case 12 => clampAddSubFull(l, t, tl)
                  case 13 => clampAddSubHalf(avg2(l, t), tl)
                  case _ => return false
                }
              }
            px(pos) = addPixels(px(pos), pred)
            x += 1
          }
          y += 1
        }
        true
      }

      /** Palette inverse, expanding sub-byte pixel bundling (indices ride
        * the green channel; out-of-table indices decode to transparent
        * black, the lenient convention). */
      private def inverseColorIndex(px: Array[Int], w: Int, h: Int, wb: Int,
          pal: Array[Int], tableSize: Int): Array[Int] = {
        if (wb == 0) {
          var i = 0
          while (i < px.length) {
            val idx = (px(i) >> 8) & 0xff
            px(i) = if (idx < tableSize) pal(idx) else 0
            i += 1
          }
          px
        } else {
          val packedW = sub(w, wb)
          val bpp = 8 >> wb
          val mask = (1 << bpp) - 1
          val perByte = 1 << wb
          val out = new Array[Int](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val green = (px(y * packedW + (x >> wb)) >> 8) & 0xff
              val idx = (green >> ((x & (perByte - 1)) * bpp)) & mask
              out(y * w + x) = if (idx < tableSize) pal(idx) else 0
              x += 1
            }
            y += 1
          }
          out
        }
      }
    }
  }

  /** The VP8L code-length-code symbol order (shared by the decoder and
    * the fixture encoder). */
  private[graft] val Vp8lClOrder: Array[Int] =
    Array(17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  /** Perceptual hashes over a decoded gray matrix — the standard public
    * aHash/dHash constructions: box-average the image onto a coarse grid,
    * then threshold. Bit order is row-major, bit 63 = cell (0, 0). Both are
    * robust to pixel noise and resolution changes (averaging) and collapse
    * to near-random for unrelated content — Hamming distance between
    * hashes is the near-duplicate signal, searched with the SAME
    * guaranteed-recall multi-index banding as SimHash
    * ([[Dedup.simHashPairsFromSignatures]]). Images narrower than the grid
    * (w < 9 or h < 8) return None. */
  object PerceptualHash {
    /** (pixel sum, pixel count) of cell (cx, cy) of a gw x gh grid — the
      * integer facts both hashes decide their bits from. */
    private def cellSum(
        g: ImageDecoder.Gray, gw: Int, gh: Int, cx: Int, cy: Int): (Long, Int) = {
      val x0 = cx * g.width / gw; val x1 = math.max(x0 + 1, (cx + 1) * g.width / gw)
      val y0 = cy * g.height / gh; val y1 = math.max(y0 + 1, (cy + 1) * g.height / gh)
      var sum = 0L; var n = 0
      var y = y0
      while (y < y1) {
        var x = x0
        while (x < x1) { sum += g.pixels(y * g.width + x); n += 1; x += 1 }
        y += 1
      }
      (sum, n)
    }

    /** Mean of the gray pixels in cell (cx, cy) of a gw x gh grid. */
    private def cell(g: ImageDecoder.Gray, gw: Int, gh: Int, cx: Int, cy: Int): Double = {
      val (sum, n) = cellSum(g, gw, gh, cx, cy)
      sum.toDouble / n
    }

    /** Box-average resample to a `tw x th` row-major grid normalized to
      * [0, 1] — the same binning [[aHash64]]/[[dHash64]] reduce with,
      * exposed as the RESIZE primitive (so resize semantics and dedup
      * semantics can never diverge). Works for any source size >= 1x1:
      * a source smaller than the target replicates pixels (each target
      * cell covers at least one source pixel by construction). */
    def resample(g: ImageDecoder.Gray, tw: Int, th: Int): Array[Float] =
      Array.tabulate(th * tw)(i => (cell(g, tw, th, i % tw, i / tw) / 255.0).toFloat)

    /** Average hash: 8x8 grid, bit set where the cell mean exceeds the
      * mean of the 64 cell means. Every bit is decided by EXACT integer
      * arithmetic — cell means compare against the grid mean through an
      * lcm-common-denominator scaling, so no float rounding ever flips a
      * near-tie bit (gradient fixtures hit exact ties constantly, and a
      * rounded double mean decided them by accumulated summation error:
      * platform-dependent and irreproducible in an external oracle).
      * Overflow-safe for images under ~2^30 pixels: the lcm of the at
      * most 4 distinct cell sizes is <= (w/8+1)^2 (h/8+1)^2 / (wh/64),
      * and every compared term is bounded by 64 * 255 * lcm. */
    def aHash64(g: ImageDecoder.Gray): Option[Long] = {
      if (g.width < 8 || g.height < 8) return None
      val sums = new Array[Long](64); val ns = new Array[Long](64)
      var i = 0
      while (i < 64) {
        val (s, n) = cellSum(g, 8, 8, i % 8, i / 8); sums(i) = s; ns(i) = n
        i += 1
      }
      @annotation.tailrec def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
      val l = ns.foldLeft(1L)((acc, n) => acc / gcd(acc, n) * n)
      // scaled(i) = l * (cell mean i); tot = l * (sum of cell means)
      val scaled = Array.tabulate(64)(i => sums(i) * (l / ns(i)))
      val tot = scaled.sum
      var h = 0L
      i = 0
      while (i < 64) { if (64L * scaled(i) > tot) h |= 1L << (63 - i); i += 1 }
      Some(h)
    }

    /** Difference hash: 9x8 grid, bit set where a cell exceeds its right
      * neighbor — captures gradient structure, insensitive to global
      * brightness. */
    def dHash64(g: ImageDecoder.Gray): Option[Long] = {
      if (g.width < 9 || g.height < 8) return None
      // cross-multiplied integer comparison: mean_a > mean_b decided as
      // sum_a * n_b > sum_b * n_a — exact (a single correctly-rounded
      // double division cannot misdecide this either, but the integer
      // form says so in the code, and the SQL oracle replays it verbatim)
      val cells = Array.tabulate(8, 9)((cy, cx) => cellSum(g, 9, 8, cx, cy))
      var h = 0L
      var cy = 0
      while (cy < 8) {
        var cx = 0
        while (cx < 8) {
          val (sa, na) = cells(cy)(cx); val (sb, nb) = cells(cy)(cx + 1)
          if (sa * nb > sb * na) h |= 1L << (63 - (cy * 8 + cx))
          cx += 1
        }
        cy += 1
      }
      Some(h)
    }
  }

  private def imageGenUdf(w: Int, h: Int, noise: Int, bmpEvery: Int, jpegEvery: Int) =
    udf((id: Long, seed: Long) =>
      if (bmpEvery > 0 && id % bmpEvery == 0) ImageGen.bmp(w, h, seed, noise)
      // `1 % jpegEvery`, not a literal 1: the JPEG slot sits at residue 1
      // so it interleaves with the BMP slot at the same modulus, but
      // `jpegEvery = 1` must mean EVERY id (residue 0 is the only residue
      // mod 1 — a literal `== 1` would silently generate no JPEGs at all)
      else if (jpegEvery > 0 && id % jpegEvery == 1 % jpegEvery) {
        // the JPEG slot itself alternates baseline / PROGRESSIVE by slot
        // ordinal — real crawls mix both codings, and the two decode to
        // identical pixels here, so progressive twins collapse onto
        // baseline/PNG/BMP originals exactly like baseline ones do
        if ((id / math.max(jpegEvery, 1)) % 2 == 0) ImageGen.jpeg(w, h, seed, noise)
        else ImageGen.jpegProgressive(w, h, seed, noise)
      } else {
        // the lossless slot rotates PNG / GIF / WEBP by slot ordinal (GIF
        // alternating plain / INTERLACED, WebP alternating subtract-green
        // / PREDICTOR coding) — web corpora carry real GIF and WebP
        // shares, so the default rotation pays LZW decode, the 4-pass row
        // shuffle, and VP8L prefix-code decode the same way the JPEG slot
        // pays entropy decode; all four lossless containers hold
        // identical pixels
        val ord = if (bmpEvery > 0) id / bmpEvery else id
        if (ord % 3 == 0) ImageGen.png(w, h, seed, noise)
        else if (ord % 3 == 1) ImageGen.gif(w, h, seed, noise, interlaced = (ord / 3) % 2 == 1)
        else if ((ord / 3) % 2 == 0) ImageGen.webp(w, h, seed, noise)
        else ImageGen.webpPredictor(w, h, seed, noise)
      })

  /** Attach a deterministic PIXEL-carrying image payload ([[ImageGen]]) —
    * the image-dedup analogue of [[withBinaryPayload]]'s header-only
    * containers. `seedCol` decouples content from identity so tests and
    * queries can plant near-duplicate twins (same seed + noise, new id);
    * with the defaults ids rotate containers — `id % 3 == 0` BMP,
    * `== 1` JPEG (lossy: same field up to quantization error, which the
    * perceptual hashes absorb — the web-dominant format as a first-class
    * corpus member; the slot itself alternates BASELINE and PROGRESSIVE
    * coding by slot ordinal, both decoding to identical pixels), `== 2`
    * PNG or GIF (alternating by slot ordinal, GIF alternating plain and
    * INTERLACED — LZW decode and the 4-pass row shuffle are first-class
    * corpus work, and both losslessly hold the same field as PNG/BMP) —
    * so container independence, including the lossy cross-container and
    * cross-coding cases, is part of what q30c exercises. An id-shifted
    * twin generally lands in a DIFFERENT container than its original. */
  def withImagePayload(
      documents: DataFrame,
      idCol: String = "doc_id",
      seedCol: String = "doc_id",
      width: Int = 64,
      height: Int = 48,
      noise: Int = 0,
      bmpEvery: Int = 3,
      jpegEvery: Int = 3): DataFrame =
    documents.withColumn("payload",
      imageGenUdf(width, height, noise, bmpEvery, jpegEvery)(
        col(idCol).cast("long"), col(seedCol).cast("long")))

  /** BMP payloads over the INTEGER closed-form field
    * ([[ImageGen.bmpAffine]]) — the oracle-exact fixture slice: lossless
    * container, integer pixels a SQL twin re-derives, so q30e2's
    * decode+resize output hash-checks end to end. */
  def withAffineImagePayload(
      documents: DataFrame,
      idCol: String = "doc_id",
      width: Int = 64,
      height: Int = 48): DataFrame = {
    val gen = udf((id: Long) => ImageGen.bmpAffine(width, height, id))
    documents.withColumn("payload", gen(col(idCol).cast("long")))
  }

  /** BMP payloads over the PER-SEED-gradient integer field
    * ([[ImageGen.bmpAffineKeyed]]) — the oracle-exact DEDUP fixture:
    * near-random dHash spread across seeds (where [[bmpAffine]]'s shared
    * gradient collapses everything into one Hamming component), every
    * pixel still a closed-form integer a SQL twin re-derives, so q30c2's
    * decode → dHash → banding → components chain hash-checks end to
    * end. `idCol` names the SEED column: twins pass the original id as
    * the seed under a fresh doc_id and render pixel-identical images. */
  def withKeyedAffineImagePayload(
      documents: DataFrame,
      idCol: String = "doc_id",
      width: Int = 64,
      height: Int = 48): DataFrame = {
    val gen = udf((id: Long) => ImageGen.bmpAffineKeyed(width, height, id))
    documents.withColumn("payload", gen(col(idCol).cast("long")))
  }

  final case class ImageHashes(doc_id: Long, width: Int, height: Int, ahash: Long, dhash: Long)

  final case class ResizedImage(doc_id: Long, width: Int, height: Int, pixels: Array[Float])

  final case class ImageEmbedding(vec_id: Long, embedding: Array[Float])

  /** Decode each payload and RESIZE it to a fixed `targetW x targetH`
    * grayscale tensor ([0, 1] row-major floats) — the decode → resize →
    * fixed-shape step a multimodal training pipeline feeds its image
    * tower with. Resampling is [[PerceptualHash.resample]] (box average —
    * the exact grid the perceptual hashes bin with), so a resized tensor
    * and the dedup hash of the same image always agree on content.
    * Partition-parallel `mapPartitions` like [[imageHashes]]: payload
    * bytes never leave the executors, and every output row is exactly
    * `targetW * targetH` floats however large the source — the bounded
    * row shape that matters when the decode pass IS the 100 TB scan.
    * Undecodable payloads are skipped, never fatal; `width`/`height`
    * report the SOURCE resolution for provenance filtering. */
  def resizeImages(
      withPayload: DataFrame,
      targetW: Int = 32,
      targetH: Int = 32,
      idCol: String = "doc_id"): DataFrame =
    resampled(withPayload, targetW, targetH, idCol)((id, g, px) =>
      ResizedImage(id, g.width, g.height, px))

  /** The decode → resample pass [[resizeImages]] and [[imageEmbeddings]]
    * share: one `out` row per decodable payload, built from the id, the
    * decoded image and its `tw x th` resampled tensor. */
  private def resampled[T <: Product: TypeTag](
      withPayload: DataFrame, tw: Int, th: Int, idCol: String)(
      out: (Long, ImageDecoder.Gray, Array[Float]) => T): DataFrame = {
    require(tw >= 1 && th >= 1, s"bad target ${tw}x$th")
    payloadInput(withPayload, idCol)
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          ImageDecoder.decode(payload).map(g => out(id, g, PerceptualHash.resample(g, tw, th)))
        }
      }(Encoders.product[T])
      .toDF()
  }

  /** MODEL-FREE image embeddings for the vector-index lifecycle: decode +
    * resize to a `t x t` tensor ([[resizeImages]] — the same resample grid
    * the perceptual hashes bin with), then CENTER each tensor on its own
    * mean. Cosine over centered tensors is the Pearson correlation of the
    * resampled images — without the centering, the shared mid-gray
    * background rides every vector as a large DC component and ANY two
    * images read cosine ~0.9+. This is the deterministic stand-in for an
    * image-tower embedding (a trained model would replace this column,
    * nothing downstream changes): feeding it through
    * [[graft.operators.Dedup.semanticDedup]] / the IVF lifecycle catches
    * content near-duplicates BEYOND the Hamming dedup budget — heavy
    * sensor-style noise flips boundary dHash bits past the budget while
    * the box-averaged tensor correlation barely moves (the 16x16 cells
    * average the noise away; MultimodalSpec pins planted hash-missed
    * twins). Output is (vec_id, embedding), the semantic machinery's
    * default shape. The mean is taken in the decode pass, once per
    * tensor: written as column expressions, Catalyst inlines the mean's
    * `aggregate` into the centering `transform` lambda, which then sums
    * the tensor once per element. */
  def imageEmbeddings(
      withPayload: DataFrame, t: Int = 16, idCol: String = "doc_id"): DataFrame =
    resampled(withPayload, t, t, idCol) { (id, _, px) =>
      var sum = 0.0
      px.foreach(sum += _)
      val mean = sum / (t * t).toDouble
      ImageEmbedding(id, px.map(p => (p.toDouble - mean).toFloat))
    }

  /** Decode each payload and emit its perceptual hashes — one row per
    * DECODABLE image (undecodable/non-image rows are skipped, never fatal).
    * Partition-parallel `mapPartitions` like [[extractFeatures]]: payload
    * bytes never leave the executors, and the output is 28 bytes/row
    * however large the images are — the shape that matters at 100 TB,
    * where the decode pass is the scan and everything downstream (banding,
    * clustering) runs on slim hashes. */
  def imageHashes(withPayload: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val input = payloadInput(withPayload, idCol)
    input
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          for {
            g <- ImageDecoder.decode(payload)
            a <- PerceptualHash.aHash64(g)
            d <- PerceptualHash.dHash64(g)
          } yield ImageHashes(id, g.width, g.height, a, d)
        }
      }(Encoders.product[ImageHashes])
      .toDF()
  }

  /** Content-level image near-dup pairs: dHash signatures through the
    * guaranteed-recall multi-index Hamming banding
    * ([[Dedup.simHashPairsFromSignatures]] — every pair within
    * `maxHamming` is provably generated). Returns (doc_a, doc_b, hamming).
    * Feed into [[Dedup.collapseDuplicates]] /
    * [[Dedup.collapseDuplicatesArrival]] exactly like the text families. */
  def imageDupPairs(hashes: DataFrame, maxHamming: Int = 10): DataFrame =
    Dedup.simHashPairsFromSignatures(
      hashes.select(col("doc_id"), col("dhash").as("sh")), maxHamming)

  final case class DecodeStatus(
      doc_id: Long, format: String, coding: String, decodable: Boolean)

  /** Per-row decode-matrix introspection: the container format (header
    * parse), the container-declared CODEC for the a/v containers (AVI
    * strh fccHandler / MP4 stsd fourcc — "" elsewhere), and whether the
    * CONTENT decoders can actually open the payload — image formats
    * through [[ImageDecoder]], `wav` through [[WavDecoder]]. A format the
    * engine recognizes but cannot pixel/sample-decode (arithmetic-coded,
    * 12-bit or CMYK JPEG, BMP-wrapped JPEG or PNG, compressed-audio RIFF,
    * lossy-VP8 WebP, MP3, the declared-out video codecs avc1/vp09/av01/
    * mp4a) reports `decodable = false` — and the coding column turns that
    * aggregated share into PER-CODEC rows an operator can watch.
    * Partition-parallel; payload bytes never leave the executors. */
  def decodeStatus(withPayload: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val input = payloadInput(withPayload, idCol)
    input
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val fmt = ContainerParser.parse(payload).format
          val ok = fmt match {
            case "png" | "bmp" | "jpeg" | "gif" | "webp" => ImageDecoder.decode(payload).isDefined
            case "wav" => WavDecoder.decode(payload).isDefined
            case "flac" => FlacDecoder.decode(payload).isDefined
            case "aiff" => AiffDecoder.decode(payload).isDefined
            // MJPEG frames decode (both containers); H.264/VP9/AV1 etc.
            // report false — the skipped share a video corpus must watch.
            // Decodability needs ONE frame: bound slice DISCOVERY at 1 too
            // (the full chunk list / sample-table join would cost thousands
            // of slice computations per long clip just to answer yes/no)
            case "avi" | "mp4" =>
              VideoDecoder.sampleFromSlices(
                payload, VideoDecoder.frameSlices(payload, 1), 1).nonEmpty
            case _ => false
          }
          val coding = fmt match {
            case "avi" | "mp4" => VideoDecoder.containerCoding(payload)
            case _ => ""
          }
          DecodeStatus(id, fmt, coding, ok)
        }
      }(Encoders.product[DecodeStatus])
      .toDF()
  }

  /** The decode matrix, aggregated: rows / decodable / skipped per
    * (format, coding) over a payload corpus — the measurement that turns
    * "formats we can't decode silently skip dedup" into a number an
    * operator can watch, itemized per declared codec for the a/v
    * containers (a corpus that is 40% avc1 shows a 40% `mp4 avc1 0.0`
    * row, not an aggregate). Composes [[decodeStatus]] with a slim
    * per-group hash aggregation (4 columns ride the shuffle, never
    * payloads). */
  def decodeStats(withPayload: DataFrame, idCol: String = "doc_id"): DataFrame =
    decodeStatus(withPayload, idCol)
      .groupBy(col("format"), col("coding"))
      .agg(
        count(lit(1)).as("rows"),
        sum(when(col("decodable"), 1L).otherwise(0L)).as("decodable"),
        round(avg(when(col("decodable"), 1.0).otherwise(0.0)), 4).as("decodable_ratio"))
      .orderBy(col("format"), col("coding"))

  // -------------------------------------------------------------------
  // Content-level AUDIO dedup: PCM decode + energy-delta fingerprint
  // -------------------------------------------------------------------

  /** Deterministic tone synthesis — real PCM WAVs (8-bit unsigned or
    * 16-bit signed mono) of a seed-derived waveform: three sinusoid
    * partials with seed-drawn frequencies/amplitudes/phases, optional
    * per-sample noise. The audio analogue of [[ImageGen]]. */
  object AudioGen {
    private def mix(x0: Long): Long = {
      var x = x0 + 0x9e3779b97f4a7c15L
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^ (x >>> 31)
    }

    /** The waveform in [-1, 1]: three partials, constants from `seed`;
      * `noise` adds uniform per-sample noise of that amplitude (in
      * 1/256 full-scale units, matching the 8-bit quantization step). */
    def samples(n: Int, seed: Long, noise: Int, gain: Double = 1.0): Array[Double] = {
      val s = Array.tabulate(9)(i => mix(seed + i))
      val f = Array.tabulate(3)(k => 2.0 + math.floorMod(s(k), 37L) + 5 * k)
      val a = Array.tabulate(3)(k => 0.2 + math.floorMod(s(3 + k), 50L) / 100.0)
      val p = Array.tabulate(3)(k => math.floorMod(s(6 + k), 628L) / 100.0)
      val norm = a.sum
      val out = new Array[Double](n)
      var i = 0
      while (i < n) {
        var v = 0.0
        var k = 0
        while (k < 3) { v += a(k) * math.sin(2 * math.Pi * f(k) * i / n + p(k)); k += 1 }
        val nz = if (noise <= 0) 0.0
          else (math.floorMod(mix(seed ^ (i.toLong << 20) ^ 0x5bL), 2L * noise + 1) - noise) / 256.0
        out(i) = math.max(-1.0, math.min(1.0, gain * (v / norm) + nz))
        i += 1
      }
      out
    }

    private def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    private def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, (v >>> 24).toByte)

    /** Valid RIFF/WAVE PCM mono at 8000 Hz, `bits` = 8 (unsigned) or 16
      * (signed LE). */
    def wav(n: Int, seed: Long, noise: Int = 0, bits: Int = 8, gain: Double = 1.0): Array[Byte] = {
      require(bits == 8 || bits == 16, s"bits=$bits")
      val xs = samples(n, seed, noise, gain)
      val bytesPer = bits / 8
      val out = new ByteArrayOutputStream()
      out.write("RIFF".getBytes(StandardCharsets.US_ASCII)); out.write(le32(36 + n * bytesPer))
      out.write("WAVE".getBytes(StandardCharsets.US_ASCII))
      out.write("fmt ".getBytes(StandardCharsets.US_ASCII)); out.write(le32(16))
      out.write(le16(1)); out.write(le16(1)) // PCM, mono
      out.write(le32(8000)); out.write(le32(8000 * bytesPer))
      out.write(le16(bytesPer)); out.write(le16(bits))
      out.write("data".getBytes(StandardCharsets.US_ASCII)); out.write(le32(n * bytesPer))
      var i = 0
      while (i < n) {
        if (bits == 8) out.write(((xs(i) * 127.0).round.toInt + 128) & 0xff)
        else out.write(le16(((xs(i) * 32767.0).round.toInt) & 0xffff))
        i += 1
      }
      out.toByteArray
    }

    /** 16-bit PCM WAV whose samples are CLOSED-FORM integers —
      * [[graft.operators.Multimodal.ImageGen]]'s `bmpAffineKeyed`
      * discipline applied to audio (the q30d2 oracle fixture):
      * `k(i) = (((h·(h+1)) mod 65536) div 16) − 2048`,
      * `h = ((((i+1)·(2·seed+1)) mod 65536) · 2654435761) mod 65536`.
      * The seed sets the STRIDE of the walk through the scramble, never
      * an offset: an additive seed makes every waveform a TIME SHIFT of
      * one master sequence (any pointwise nonlinearity preserves shifts),
      * and at a few thousand seeds some shifts nearly align the 32-sample
      * frames — measured as component CHAINS through the Hamming-10
      * search at sf0.1. Distinct odd strides share no shift structure
      * (mirror pairs need seed_a + seed_b = 32767 — keep seeds below
      * that), and the nonlinear `h·(h+1)` step folds through the UPPER
      * product bits (div 16 of the mod-65536 product — a mod-4096 fold
      * sees only `h mod 4096`, which quotients the seed space down to
      * 2048 distinct fingerprints: measured 3,877 spurious Hamming-10
      * pairs across 5,000 seeds vs 9 with the upper-bit fold), so
      * cross-seed fingerprints sit far beyond the dedup budget
      * while identical seeds collapse bit-identically. The 16-bit decode
      * is `k / 32768` — dyadic, so the fingerprint's double energies are
      * EXACT rationals and every bit replays in SQL as an integer `Σ k²`
      * comparison. */
    def wavPcmKeyed(n: Int, seed: Long): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      out.write("RIFF".getBytes(StandardCharsets.US_ASCII)); out.write(le32(36 + n * 2))
      out.write("WAVE".getBytes(StandardCharsets.US_ASCII))
      out.write("fmt ".getBytes(StandardCharsets.US_ASCII)); out.write(le32(16))
      out.write(le16(1)); out.write(le16(1)) // PCM, mono
      out.write(le32(8000)); out.write(le32(16000))
      out.write(le16(2)); out.write(le16(16))
      out.write("data".getBytes(StandardCharsets.US_ASCII)); out.write(le32(n * 2))
      var i = 0
      while (i < n) {
        val x = java.lang.Math.floorMod((i + 1L) * (2L * seed + 1L), 65536L)
        val h = java.lang.Math.floorMod(x * 2654435761L, 65536L)
        val k = (java.lang.Math.floorMod(h * (h + 1L), 65536L) / 16L - 2048L).toInt
        out.write(le16(k & 0xffff))
        i += 1
      }
      out.toByteArray
    }

    // ---- companded + block-compressed WAV variants (public specs) ------
    //
    // Telephony crawls carry G.711 µ-law/A-law RIFF (format tags 7/6) and
    // IMA-ADPCM (tag 0x11) at least as often as plain PCM — these encoders
    // render the SAME seed-derived waveform through each companding so the
    // fingerprint's encoding-invariance is a planted, testable fact. The
    // compand curves are the classic public G.711 reference formulas (the
    // widely-reproduced Sun g711.c constructions); IMA-ADPCM is the IMA
    // DVI4 algorithm (step-size table + 3-bit magnitude ladder).

    /** G.711 µ-law encode of one 16-bit linear sample. */
    private[operators] def linearToMulaw(pcm0: Int): Int = {
      var pcm = pcm0
      val sign = if (pcm < 0) { pcm = -pcm; 0x80 } else 0
      if (pcm > 32635) pcm = 32635
      pcm += 0x84
      var exp = 7; var mask = 0x4000
      while (exp > 0 && (pcm & mask) == 0) { exp -= 1; mask >>= 1 }
      val mant = (pcm >> (exp + 3)) & 0x0f
      (~(sign | (exp << 4) | mant)) & 0xff
    }

    /** G.711 A-law encode of one 16-bit linear sample. */
    private[operators] def linearToAlaw(pcm0: Int): Int = {
      var pcm = pcm0 >> 3 // A-law operates on 13-bit magnitudes
      val mask = if (pcm >= 0) 0xd5 else { pcm = -pcm - 1; 0x55 }
      val segEnds = Array(0x1f, 0x3f, 0x7f, 0xff, 0x1ff, 0x3ff, 0x7ff, 0xfff)
      var seg = 0
      while (seg < 8 && pcm > segEnds(seg)) seg += 1
      if (seg >= 8) 0x7f ^ mask
      else {
        val aval = (seg << 4) | (if (seg < 2) (pcm >> 1) & 0x0f else (pcm >> seg) & 0x0f)
        aval ^ mask
      }
    }

    /** One G.711-companded RIFF/WAVE: `alaw = false` -> µ-law (format tag
      * 7), true -> A-law (tag 6); mono 8000 Hz, one byte per sample. */
    def wavG711(n: Int, seed: Long, noise: Int = 0, gain: Double = 1.0,
        alaw: Boolean = false): Array[Byte] = {
      val xs = samples(n, seed, noise, gain)
      val out = new ByteArrayOutputStream()
      out.write("RIFF".getBytes(StandardCharsets.US_ASCII)); out.write(le32(38 + n))
      out.write("WAVE".getBytes(StandardCharsets.US_ASCII))
      out.write("fmt ".getBytes(StandardCharsets.US_ASCII)); out.write(le32(18))
      out.write(le16(if (alaw) 6 else 7)); out.write(le16(1)) // tag, mono
      out.write(le32(8000)); out.write(le32(8000))
      out.write(le16(1)); out.write(le16(8)); out.write(le16(0)) // align, bits, cbSize
      out.write("data".getBytes(StandardCharsets.US_ASCII)); out.write(le32(n))
      var i = 0
      while (i < n) {
        val lin = (xs(i) * 32767.0).round.toInt
        out.write(if (alaw) linearToAlaw(lin) else linearToMulaw(lin))
        i += 1
      }
      out.toByteArray
    }

    /** The IMA-ADPCM step-size table (89 entries, public IMA DVI4 spec). */
    private[operators] val ImaSteps: Array[Int] = Array(
      7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
      41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
      190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
      724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
      2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
      6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
      16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
    private[operators] val ImaIndexAdjust: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

    /** IMA-ADPCM mono RIFF/WAVE (format tag 0x11): 4-byte block headers
      * (predictor + step index) then 4-bit deltas, `blockAlign`-byte
      * blocks, a `fact` chunk carrying the true sample count. The encoder
      * runs the DECODER's predictor update (the algorithm is symmetric),
      * so decode error is the quantizer's, never drift. */
    def wavAdpcm(n: Int, seed: Long, noise: Int = 0, gain: Double = 1.0,
        blockAlign: Int = 256): Array[Byte] = {
      require(blockAlign >= 8 && blockAlign % 4 == 0, s"blockAlign=$blockAlign")
      val xs = samples(n, seed, noise, gain)
      val spb = (blockAlign - 4) * 2 + 1 // samples per mono block
      val nBlocks = (n + spb - 1) / spb
      val dataLen = nBlocks * blockAlign
      val out = new ByteArrayOutputStream()
      out.write("RIFF".getBytes(StandardCharsets.US_ASCII))
      out.write(le32(4 + 8 + 20 + 8 + 4 + 8 + dataLen))
      out.write("WAVE".getBytes(StandardCharsets.US_ASCII))
      out.write("fmt ".getBytes(StandardCharsets.US_ASCII)); out.write(le32(20))
      out.write(le16(0x11)); out.write(le16(1)) // IMA-ADPCM, mono
      out.write(le32(8000)); out.write(le32(8000 * blockAlign / spb))
      out.write(le16(blockAlign)); out.write(le16(4)) // align, bits
      out.write(le16(2)); out.write(le16(spb)) // cbSize, samplesPerBlock
      out.write("fact".getBytes(StandardCharsets.US_ASCII)); out.write(le32(4))
      out.write(le32(n))
      out.write("data".getBytes(StandardCharsets.US_ASCII)); out.write(le32(dataLen))
      var s = 0
      var index = 0
      while (s < n) { // one block
        var predictor = (xs(s) * 32767.0).round.toInt
        out.write(le16(predictor & 0xffff)); out.write(index); out.write(0)
        var k = 1 // header carried sample 0
        var nibbles = 0; var pending = 0
        while (k < spb) {
          val target = if (s + k < n) (xs(s + k) * 32767.0).round.toInt else predictor
          val step = ImaSteps(index)
          var diff = target - predictor
          var code = 0
          if (diff < 0) { code = 8; diff = -diff }
          if (diff >= step) { code |= 4; diff -= step }
          if (diff >= (step >> 1)) { code |= 2; diff -= step >> 1 }
          if (diff >= (step >> 2)) { code |= 1 }
          // decoder-identical reconstruction
          var delta = step >> 3
          if ((code & 4) != 0) delta += step
          if ((code & 2) != 0) delta += step >> 1
          if ((code & 1) != 0) delta += step >> 2
          predictor = math.max(-32768, math.min(32767,
            if ((code & 8) != 0) predictor - delta else predictor + delta))
          index = math.max(0, math.min(88, index + ImaIndexAdjust(code & 7)))
          if (nibbles == 0) { pending = code; nibbles = 1 }
          else { out.write(pending | (code << 4)); nibbles = 0 } // low nibble first
          k += 1
        }
        if (nibbles == 1) out.write(pending)
        s += spb
      }
      out.toByteArray
    }

    // ---- FLAC fixture encoder (RFC 9639) ----------------------------------
    //
    // A real, minimal FLAC of the SAME waveform at the 16-bit PCM
    // quantization wav(bits = 16) uses, so FLAC joins the cross-encoding
    // fingerprint-invariance family losslessly. Frames rotate their
    // subframe coding — VERBATIM, FIXED order 2 + Rice, LPC order 1 +
    // Rice — so all three decode paths (and the Rice fold) are exercised
    // by every payload longer than one block. Correct CRC-8/CRC-16
    // framing per the spec.

    private val FlacCrc8: Array[Int] = Array.tabulate(256) { i =>
      var c = i; var k = 0
      while (k < 8) { c = if ((c & 0x80) != 0) ((c << 1) ^ 0x07) & 0xff else (c << 1) & 0xff; k += 1 }
      c
    }
    private val FlacCrc16: Array[Int] = Array.tabulate(256) { i =>
      var c = i << 8; var k = 0
      while (k < 8) {
        c = if ((c & 0x8000) != 0) ((c << 1) ^ 0x8005) & 0xffff else (c << 1) & 0xffff
        k += 1
      }
      c
    }
    private def crc8(bs: Array[Byte]): Int = {
      var c = 0
      bs.foreach(x => c = FlacCrc8(c ^ (x & 0xff)))
      c
    }
    private def crc16(bs: Array[Byte]): Int = {
      var c = 0
      bs.foreach(x => c = (FlacCrc16(((c >> 8) ^ (x & 0xff)) & 0xff) ^ (c << 8)) & 0xffff)
      c
    }

    private final class MsbWriter {
      private val out = new ByteArrayOutputStream()
      private var acc = 0; private var nb = 0
      def put(v: Long, n: Int): Unit = {
        var i = n - 1
        while (i >= 0) {
          acc = (acc << 1) | ((v >> i) & 1L).toInt
          nb += 1
          if (nb == 8) { out.write(acc & 0xff); acc = 0; nb = 0 }
          i -= 1
        }
      }
      def bytes: Array[Byte] = { // zero-pad to byte alignment
        if (nb > 0) { acc <<= (8 - nb); out.write(acc & 0xff); acc = 0; nb = 0 }
        out.toByteArray
      }
    }

    private def putUtf8(w: MsbWriter, v: Int): Unit =
      if (v < 0x80) w.put(v, 8)
      else if (v < 0x800) { w.put(0xc0 | (v >> 6), 8); w.put(0x80 | (v & 0x3f), 8) }
      else if (v < 0x10000) {
        w.put(0xe0 | (v >> 12), 8); w.put(0x80 | ((v >> 6) & 0x3f), 8); w.put(0x80 | (v & 0x3f), 8)
      } else {
        w.put(0xf0 | (v >> 18), 8); w.put(0x80 | ((v >> 12) & 0x3f), 8)
        w.put(0x80 | ((v >> 6) & 0x3f), 8); w.put(0x80 | (v & 0x3f), 8)
      }

    /** Partition-order-0 Rice residual block: 2-bit method (4-bit
      * params), mean-sized parameter, zigzag fold + unary/remainder. */
    private def putRice(w: MsbWriter, res: Array[Int]): Unit = {
      w.put(0, 2) // 4-bit Rice parameters
      w.put(0, 4) // partition order 0
      val zz = res.map(e => ((e << 1) ^ (e >> 31)).toLong & 0xffffffffL)
      val mean = if (zz.isEmpty) 0L else zz.sum / math.max(1, zz.length)
      var p = 0
      while ((mean >> p) > 0 && p < 14) p += 1
      w.put(p, 4)
      zz.foreach { u =>
        val q = (u >>> p).toInt
        var k = 0
        while (k < q) { w.put(0, 1); k += 1 }
        w.put(1, 1)
        if (p > 0) w.put(u & ((1L << p) - 1), p)
      }
    }

    /** One real FLAC stream: fLaC marker + STREAMINFO, then frames whose
      * mono subframes rotate VERBATIM / FIXED-2 / LPC-1 per frame. */
    def flac(n: Int, seed: Long, noise: Int = 0, gain: Double = 1.0, block: Int = 1024): Array[Byte] = {
      val xs = samples(n, seed, noise, gain)
      val pcm = xs.map(x => (x * 32767.0).round.toInt)
      val out = new ByteArrayOutputStream()
      out.write("fLaC".getBytes(StandardCharsets.US_ASCII))
      val si = new MsbWriter
      si.put(block, 16); si.put(block, 16) // min/max block size
      si.put(0, 24); si.put(0, 24)         // frame sizes unknown
      si.put(8000, 20)                     // sample rate
      si.put(0, 3); si.put(15, 5)          // channels-1, bps-1
      si.put(n.toLong, 36)                 // total samples
      (0 until 16).foreach(_ => si.put(0, 8)) // md5 unknown
      out.write(0x80); out.write(0); out.write(0); out.write(34) // last block, STREAMINFO, len 34
      out.write(si.bytes)
      var frame = 0
      var off = 0
      while (off < n) {
        val bs = math.min(block, n - off)
        val hw = new MsbWriter
        hw.put(0x3ffe, 14); hw.put(0, 1); hw.put(0, 1) // sync, reserved, fixed-blocking
        hw.put(7, 4)  // block size: 16-bit value-1 follows
        hw.put(4, 4)  // sample rate code: 8 kHz
        hw.put(0, 4)  // channel assignment: mono
        hw.put(4, 3)  // sample size: 16-bit
        hw.put(0, 1)  // reserved
        putUtf8(hw, frame)
        hw.put(bs - 1, 16)
        val header = hw.bytes
        val bw = new MsbWriter
        val kind = if (bs <= 4) 0 else frame % 3
        if (kind == 0) { // VERBATIM
          bw.put(0, 1); bw.put(1, 6); bw.put(0, 1)
          var i = 0
          while (i < bs) { bw.put(pcm(off + i).toLong & 0xffff, 16); i += 1 }
        } else if (kind == 1) { // FIXED order 2
          bw.put(0, 1); bw.put(8 + 2, 6); bw.put(0, 1)
          bw.put(pcm(off).toLong & 0xffff, 16); bw.put(pcm(off + 1).toLong & 0xffff, 16)
          putRice(bw, Array.tabulate(bs - 2)(i =>
            pcm(off + i + 2) - 2 * pcm(off + i + 1) + pcm(off + i)))
        } else { // LPC order 1: precision 15, shift 5, coefficient 32 -> prev
          bw.put(0, 1); bw.put(32, 6); bw.put(0, 1)
          bw.put(pcm(off).toLong & 0xffff, 16)
          bw.put(14, 4)  // precision - 1
          bw.put(5, 5)   // shift
          bw.put(32, 15) // qlp coefficient
          putRice(bw, Array.tabulate(bs - 1)(i => pcm(off + i + 1) - pcm(off + i)))
        }
        val frameBytes = header ++ Array(crc8(header).toByte) ++ bw.bytes
        val c16 = crc16(frameBytes)
        out.write(frameBytes); out.write((c16 >> 8) & 0xff); out.write(c16 & 0xff)
        off += bs; frame += 1
      }
      out.toByteArray
    }

    /** Genuine AIFF (Apple/EA IFF-85): FORM/AIFF with a COMM chunk
      * (channels 1, numSampleFrames, sampleSize 16, sample rate as the
      * format's 80-bit extended float — 8000 Hz = 0x400B FA00…) and an
      * SSND chunk of big-endian 16-bit PCM. The 16-bit quantization is
      * the SAME rounding as [[wav]](bits = 16) and [[flac]], so the
      * decoded samples — and therefore the fingerprint — are EXACTLY
      * equal across all three lossless containers. */
    def aiff(n: Int, seed: Long, noise: Int = 0, gain: Double = 1.0): Array[Byte] = {
      val xs = samples(n, seed, noise, gain)
      def be16(v: Int) = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      def be32(v: Int) = Array((v >>> 24).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      // 8000 Hz as 80-bit extended: 8000 = 1.953125 * 2^12 -> exponent
      // 16383 + 12 = 0x400B, mantissa (explicit leading 1) 0xFA00 << 48
      val rate80 = Array(0x40, 0x0b, 0xfa, 0, 0, 0, 0, 0, 0, 0).map(_.toByte)
      val comm = be16(1) ++ be32(n) ++ be16(16) ++ rate80
      val ssnd = be32(0) ++ be32(0) ++ xs.flatMap(x => be16(((x * 32767.0).round.toInt) & 0xffff))
      def chunk(id: String, data: Array[Byte]) =
        id.getBytes(StandardCharsets.US_ASCII) ++ be32(data.length) ++ data ++
          (if (data.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray)
      val body = "AIFF".getBytes(StandardCharsets.US_ASCII) ++
        chunk("COMM", comm) ++ chunk("SSND", ssnd)
      "FORM".getBytes(StandardCharsets.US_ASCII) ++ be32(body.length) ++ body
    }

    /** A valid, SILENT MPEG-1 Layer III stream spanning `n` samples:
      * ceil(n / 1152) mono frames at 32 kHz and 320 kbps, each a 4-byte
      * header followed by zeroed side info and main data. MP3 is a
      * recognized, declared-out format — [[ContainerParser]] reads its
      * frame count and duration, no decoder opens its samples — so the
      * rotation's MP3 slot carries the container and no waveform. */
    def mp3(n: Int): Array[Byte] = {
      val frameBytes = 144 * 320 * 1000 / 32000 // 1440, no padding
      val frames = (n + 1151) / 1152
      // 0xFFFB: MPEG-1 Layer III, no CRC; 0xE8: 320 kbps, 32 kHz; 0xC0: mono
      val header = Array(0xff, 0xfb, 0xe8, 0xc0).map(_.toByte)
      val b = new Array[Byte](frames * frameBytes)
      (0 until frames).foreach(f => header.copyToArray(b, f * frameBytes))
      b
    }
  }

  /** Sample decode for RIFF/WAVE — the content-level step beyond
    * [[ContainerParser]]'s duration metadata: chunk walk to `fmt `/`data`,
    * then per format tag: 1 = uncompressed mono/stereo PCM at 8/16 bits
    * (stereo averages to mono), 6/7 = G.711 A-law/µ-law (telephony-crawl
    * WAVs — the classic public compand curves), 0x11 = IMA-ADPCM mono
    * (4-byte block headers + 4-bit deltas, `fact`-chunk sample count).
    * All normalized to [-1, 1]. Anything else (MP3/float/stereo-ADPCM,
    * truncated) → None, never throws — and [[Multimodal.decodeStats]]
    * makes the skipped share measurable. */
  object WavDecoder {
    private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
    private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
    private def le32(b: Array[Byte], i: Int): Int =
      u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

    /** G.711 µ-law byte → 16-bit linear (the public reference expansion;
      * e.g. 0x00 → -32124, 0xff → 0 — the published anchor values). */
    private def mulawToLinear(uIn: Int): Int = {
      val u = ~uIn & 0xff
      var t = ((u & 0x0f) << 3) + 0x84
      t <<= (u & 0x70) >> 4
      if ((u & 0x80) != 0) 0x84 - t else t - 0x84
    }

    /** G.711 A-law byte → 16-bit linear. */
    private def alawToLinear(aIn: Int): Int = {
      val a = (aIn ^ 0x55) & 0xff
      var t = (a & 0x0f) << 4
      val seg = (a & 0x70) >> 4
      if (seg == 0) t += 8
      else { t += 0x108; if (seg > 1) t <<= seg - 1 }
      if ((a & 0x80) != 0) t else -t
    }

    def decode(b: Array[Byte]): Option[Array[Double]] =
      try {
        if (b.length < 44 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
          b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E') return None
        var i = 12
        var audioFormat = 0
        var channels = 0
        var bits = 0
        var blockAlign = 0
        var samplesPerBlock = 0
        var factSamples = -1
        var dataOff = -1
        var dataLen = 0
        while (i + 8 <= b.length) {
          val id = new String(b, i, 4, StandardCharsets.US_ASCII)
          val len = le32(b, i + 4)
          if (len < 0 || i + 8 + len > b.length) {
            if (id == "data" && dataOff < 0) { dataOff = i + 8; dataLen = b.length - (i + 8) }
            i = b.length // truncated chunk: stop the walk
          } else {
            id match {
              case "fmt " if len >= 16 =>
                audioFormat = le16(b, i + 8)
                channels = le16(b, i + 10)
                blockAlign = le16(b, i + 20)
                bits = le16(b, i + 22)
                if (audioFormat == 0x11 && len >= 20) samplesPerBlock = le16(b, i + 26)
              case "fact" if len >= 4 => factSamples = le32(b, i + 8)
              case "data" => dataOff = i + 8; dataLen = len
              case _ => ()
            }
            i += 8 + len + (len & 1) // RIFF chunks are word-aligned
          }
        }
        if (dataOff < 0 || dataLen <= 0) return None
        audioFormat match {
          case 1 if (bits == 8 || bits == 16) && (channels == 1 || channels == 2) =>
            val bytesPer = bits / 8
            val frame = bytesPer * channels
            val n = dataLen / frame
            if (n == 0) return None
            val out = new Array[Double](n)
            var s = 0
            while (s < n) {
              var acc = 0.0
              var c = 0
              while (c < channels) {
                val o = dataOff + s * frame + c * bytesPer
                acc += (if (bits == 8) (u8(b, o) - 128) / 128.0
                  else (le16(b, o).toShort.toInt) / 32768.0)
                c += 1
              }
              out(s) = acc / channels
              s += 1
            }
            Some(out)
          case 6 | 7 if channels == 1 && bits == 8 =>
            val out = new Array[Double](dataLen)
            var s = 0
            while (s < dataLen) {
              val lin = if (audioFormat == 7) mulawToLinear(u8(b, dataOff + s))
                        else alawToLinear(u8(b, dataOff + s))
              out(s) = lin / 32768.0
              s += 1
            }
            Some(out)
          case 0x11 if channels == 1 && bits == 4 && blockAlign >= 8 =>
            // mono IMA-ADPCM: samplesPerBlock from fmt when present, else
            // the mono layout constant (blockAlign - 4) * 2 + 1
            val spb = if (samplesPerBlock > 0) samplesPerBlock
                      else (blockAlign - 4) * 2 + 1
            if (spb < 1 || spb > (blockAlign - 4) * 2 + 1) return None
            val nBlocks = dataLen / blockAlign
            if (nBlocks == 0) return None
            val total0 = nBlocks * spb
            val total = if (factSamples > 0 && factSamples <= total0) factSamples else total0
            val out = new Array[Double](total)
            var outPos = 0
            var blk = 0
            while (blk < nBlocks && outPos < total) {
              val base = dataOff + blk * blockAlign
              var predictor = le16(b, base).toShort.toInt
              var index = math.max(0, math.min(88, u8(b, base + 2)))
              if (outPos < total) { out(outPos) = predictor / 32768.0; outPos += 1 }
              var k = 1
              var byteAt = base + 4
              var low = true // low nibble first per the IMA WAV layout
              while (k < spb && outPos < total) {
                val code =
                  if (low) u8(b, byteAt) & 0x0f
                  else { val v = (u8(b, byteAt) >> 4) & 0x0f; byteAt += 1; v }
                low = !low
                val step = AudioGen.ImaSteps(index)
                var delta = step >> 3
                if ((code & 4) != 0) delta += step
                if ((code & 2) != 0) delta += step >> 1
                if ((code & 1) != 0) delta += step >> 2
                predictor = math.max(-32768, math.min(32767,
                  if ((code & 8) != 0) predictor - delta else predictor + delta))
                index = math.max(0, math.min(88, index + AudioGen.ImaIndexAdjust(code & 7)))
                out(outPos) = predictor / 32768.0; outPos += 1
                k += 1
              }
              blk += 1
            }
            if (outPos < total) return None
            Some(out)
          case _ => None
        }
      } catch { case _: Exception => None }
  }

  /** FLAC sample decode (RFC 9639) — the native-FLAC member of the audio
    * decode matrix: STREAMINFO metadata walk, byte-aligned frames (sync,
    * coded block size / sample rate / channel assignment / sample size,
    * UTF-8 frame number), and per-channel subframes — CONSTANT, VERBATIM,
    * FIXED predictors order 0–4, and LPC to order 32 (quantized
    * coefficients, arithmetic-shift prediction on Long accumulators) —
    * with partitioned Rice residuals (4- and 5-bit parameters, escape
    * partitions) and the left/side, side/right, mid/side stereo
    * decorrelations. Output is mono-averaged samples normalized to
    * [-1, 1], matching [[WavDecoder]] semantics. CRCs are parsed but not
    * verified (sample reconstruction does not need them). Malformed /
    * truncated input → None, never throws; work is bounded by the
    * declared sample counts (2^26 cap) and the unary reads saturate at
    * end-of-stream. */
  object FlacDecoder {
    private final class MsbReader(b: Array[Byte], start: Int, end: Int) {
      var pos = start
      private var bit = 0
      var eof = false
      def bits(n: Int): Long = {
        var v = 0L; var i = 0
        while (i < n) {
          if (pos >= end) { eof = true; return v << (n - i) }
          v = (v << 1) | ((b(pos) >> (7 - bit)) & 1)
          bit += 1
          if (bit == 8) { bit = 0; pos += 1 }
          i += 1
        }
        v
      }
      /** Zero-run count before the terminating 1; -1 past `max` or eof. */
      def unary(max: Int): Int = {
        var q = 0
        while (q <= max) {
          if (eof) return -1
          if (bits(1) == 1L) return q
          q += 1
        }
        -1
      }
      def align(): Unit = if (bit != 0) { bit = 0; pos += 1 }
    }

    private def signExtend(v: Long, n: Int): Long = (v << (64 - n)) >> (64 - n)

    def decode(b: Array[Byte]): Option[Array[Double]] =
      try {
        if (b.length < 42 || b(0) != 'f' || b(1) != 'L' || b(2) != 'a' || b(3) != 'C') return None
        var pos = 4
        var bps = 0; var channels = 0; var total = 0L; var haveSI = false
        var last = false
        while (!last && pos + 4 <= b.length) {
          val h = b(pos) & 0xff
          last = (h & 0x80) != 0
          val typ = h & 0x7f
          val len = ((b(pos + 1) & 0xff) << 16) | ((b(pos + 2) & 0xff) << 8) | (b(pos + 3) & 0xff)
          if (pos + 4 + len > b.length) return None
          if (typ == 0 && len >= 34) {
            val o = pos + 4
            channels = (((b(o + 12) & 0xff) >> 1) & 0x07) + 1
            bps = (((b(o + 12) & 1) << 4) | ((b(o + 13) & 0xff) >> 4)) + 1
            total = ((b(o + 13) & 0x0fL) << 32) | ((b(o + 14) & 0xffL) << 24) |
              ((b(o + 15) & 0xffL) << 16) | ((b(o + 16) & 0xffL) << 8) | (b(o + 17) & 0xffL)
            haveSI = true
          }
          pos += 4 + len
        }
        if (!haveSI || channels < 1 || channels > 8 || bps < 4 || bps > 32) return None
        if (total > (1L << 26)) return None
        val maxSamples = if (total > 0) total.toInt else (1 << 26)
        val out = new scala.collection.mutable.ArrayBuffer[Double]()
        val r = new MsbReader(b, pos, b.length)
        var done = false
        while (!done && out.length < maxSamples && !r.eof && r.pos < b.length) {
          if (r.bits(14) != 0x3ffe) done = true // junk / padding after last frame
          else {
            r.bits(2) // reserved + blocking strategy
            val bsCode = r.bits(4).toInt
            val srCode = r.bits(4).toInt
            val chAsgn = r.bits(4).toInt
            val ssCode = r.bits(3).toInt
            r.bits(1)
            val first = r.bits(8).toInt // UTF-8-coded frame/sample number
            if (first >= 0x80) {
              var m = first << 1
              while ((m & 0x80) != 0) { r.bits(8); m <<= 1 }
            }
            val blockSize = bsCode match {
              case 0 => -1 // reserved
              case 1 => 192
              case c if c >= 2 && c <= 5 => 576 << (c - 2)
              case 6 => r.bits(8).toInt + 1
              case 7 => r.bits(16).toInt + 1
              case c => 256 << (c - 8)
            }
            if (srCode == 12) r.bits(8)
            else if (srCode == 13 || srCode == 14) r.bits(16)
            val frameBps = ssCode match {
              case 0 => bps
              case 1 => 8
              case 2 => 12
              case 4 => 16
              case 5 => 20
              case 6 => 24
              case 7 => 32
              case _ => -1
            }
            r.bits(8) // header CRC-8 (not verified)
            if (blockSize <= 0 || frameBps <= 0 || chAsgn > 10 ||
              out.length + blockSize > (1 << 26)) return None
            val nch = if (chAsgn < 8) chAsgn + 1 else 2
            if (nch != channels) return None
            val chData = new Array[Array[Long]](nch)
            var c = 0
            while (c < nch) {
              // the side channel of a decorrelated pair carries one extra bit
              val extra = chAsgn match {
                case 8 => if (c == 1) 1 else 0  // left/side
                case 9 => if (c == 0) 1 else 0  // side/right
                case 10 => if (c == 1) 1 else 0 // mid/side
                case _ => 0
              }
              val sub = decodeSubframe(r, blockSize, frameBps + extra)
              if (sub == null) return None
              chData(c) = sub
              c += 1
            }
            r.align()
            r.bits(16) // frame CRC-16 (not verified)
            if (r.eof) return None
            val scale = (1L << (frameBps - 1)).toDouble
            var i = 0
            chAsgn match {
              case 8 => // left/side: right = left - side
                while (i < blockSize) {
                  val l = chData(0)(i); val rr = l - chData(1)(i)
                  out += (l + rr) / 2.0 / scale; i += 1
                }
              case 9 => // side/right: left = right + side
                while (i < blockSize) {
                  val rr = chData(1)(i); val l = rr + chData(0)(i)
                  out += (l + rr) / 2.0 / scale; i += 1
                }
              case 10 => // mid/side
                while (i < blockSize) {
                  val side = chData(1)(i)
                  val mid2 = (chData(0)(i) << 1) | (side & 1L)
                  out += (((mid2 + side) >> 1) + ((mid2 - side) >> 1)) / 2.0 / scale
                  i += 1
                }
              case _ =>
                while (i < blockSize) {
                  var acc = 0.0; var c2 = 0
                  while (c2 < nch) { acc += chData(c2)(i) / scale; c2 += 1 }
                  out += acc / nch; i += 1
                }
            }
          }
        }
        if (out.isEmpty || (total > 0 && out.length < total)) None
        else Some(out.take(maxSamples).toArray)
      } catch { case _: Exception => None }

    /** One subframe: header (type, wasted bits), warmup samples, model
      * parameters, residuals, prediction reconstruction. Null on any
      * malformation. */
    private def decodeSubframe(r: MsbReader, bs: Int, bps: Int): Array[Long] = {
      if (r.bits(1) != 0L) return null // mandatory zero padding bit
      val typ = r.bits(6).toInt
      var wasted = 0
      if (r.bits(1) == 1L) {
        val u = r.unary(64)
        if (u < 0) return null
        wasted = u + 1
      }
      val ebps = bps - wasted
      if (ebps <= 0 || ebps > 33) return null
      val out = new Array[Long](bs)
      if (typ == 0) {
        java.util.Arrays.fill(out, signExtend(r.bits(ebps), ebps))
      } else if (typ == 1) {
        var i = 0
        while (i < bs) { out(i) = signExtend(r.bits(ebps), ebps); i += 1 }
      } else if (typ >= 8 && typ <= 12) {
        val order = typ - 8
        if (order > bs) return null
        var i = 0
        while (i < order) { out(i) = signExtend(r.bits(ebps), ebps); i += 1 }
        if (!readResiduals(r, out, order, bs)) return null
        i = order
        while (i < bs) {
          out(i) += (order match {
            case 0 => 0L
            case 1 => out(i - 1)
            case 2 => 2 * out(i - 1) - out(i - 2)
            case 3 => 3 * out(i - 1) - 3 * out(i - 2) + out(i - 3)
            case _ => 4 * out(i - 1) - 6 * out(i - 2) + 4 * out(i - 3) - out(i - 4)
          })
          i += 1
        }
      } else if (typ >= 32) {
        val order = (typ & 31) + 1
        if (order > bs) return null
        var i = 0
        while (i < order) { out(i) = signExtend(r.bits(ebps), ebps); i += 1 }
        val precRaw = r.bits(4).toInt
        if (precRaw == 15) return null // forbidden
        val precision = precRaw + 1
        val shift = signExtend(r.bits(5), 5).toInt
        if (shift < 0) return null
        val coefs = new Array[Long](order)
        i = 0
        while (i < order) { coefs(i) = signExtend(r.bits(precision), precision); i += 1 }
        if (!readResiduals(r, out, order, bs)) return null
        i = order
        while (i < bs) {
          var acc = 0L; var j = 0
          while (j < order) { acc += coefs(j) * out(i - 1 - j); j += 1 }
          out(i) += acc >> shift
          i += 1
        }
      } else return null
      if (r.eof) return null
      if (wasted > 0) {
        var i = 0
        while (i < bs) { out(i) <<= wasted; i += 1 }
      }
      out
    }

    /** Partitioned Rice residuals into `out(order until bs)`; escape
      * partitions are fixed-width verbatim. */
    private def readResiduals(r: MsbReader, out: Array[Long], order: Int, bs: Int): Boolean = {
      val method = r.bits(2).toInt
      if (method > 1) return false
      val pbits = if (method == 0) 4 else 5
      val escape = (1 << pbits) - 1
      val po = r.bits(4).toInt
      val parts = 1 << po
      if ((bs % parts) != 0 || (bs >> po) < order) return false
      var idx = order
      var p = 0
      while (p < parts) {
        val cnt = (bs >> po) - (if (p == 0) order else 0)
        val param = r.bits(pbits).toInt
        if (param == escape) {
          val nbits = r.bits(5).toInt
          var k = 0
          while (k < cnt) {
            out(idx) = if (nbits == 0) 0L else signExtend(r.bits(nbits), nbits)
            idx += 1; k += 1
          }
        } else {
          var k = 0
          while (k < cnt) {
            val q = r.unary(1 << 24) // bound: a 16M-bit zero run is garbage
            if (q < 0) return false
            val u = (q.toLong << param) | r.bits(param)
            out(idx) = (u >>> 1) ^ -(u & 1L)
            idx += 1; k += 1
          }
        }
        if (r.eof) return false
        p += 1
      }
      idx == bs
    }
  }

  /** 64-bit energy-delta audio fingerprint — the temporal-energy-profile
    * construction of the Philips/Haitsma-Kalker robust-hash family (public
    * literature): split the signal into 65 equal frames, compute per-frame
    * energy (mean square), bit i = energy(i+1) > energy(i). Invariant to
    * GAIN (every energy scales by the same factor, delta signs unchanged),
    * to sample width (8 vs 16 bit — quantization perturbs energies far
    * below frame deltas), and robust to additive noise; unrelated content
    * decorrelates to ~32 bits. Fewer than 65 samples → None. */
  def audioFingerprint64(samples: Array[Double]): Option[Long] = {
    val frames = 65
    val n = samples.length
    if (n < frames) return None
    val e = new Array[Double](frames)
    var f = 0
    while (f < frames) {
      val x0 = f * n / frames; val x1 = math.max(x0 + 1, (f + 1) * n / frames)
      var acc = 0.0
      var i = x0
      while (i < x1) { acc += samples(i) * samples(i); i += 1 }
      e(f) = acc / (x1 - x0)
      f += 1
    }
    var h = 0L
    var i = 0
    while (i < 64) { if (e(i + 1) > e(i)) h |= 1L << (63 - i); i += 1 }
    Some(h)
  }

  private def audioGenUdf(n: Int, noise: Int) =
    udf((id: Long, seed: Long) => (id % 8) match {
      case 0 => AudioGen.wav(n, seed, noise, bits = 8)
      case 1 | -1 => AudioGen.wav(n, seed, noise, bits = 16)
      case 2 | -2 => AudioGen.wavG711(n, seed, noise, alaw = false) // µ-law
      case 3 | -3 => AudioGen.wavG711(n, seed, noise, alaw = true)  // A-law
      case 4 | -4 => AudioGen.wavAdpcm(n, seed, noise)
      case 5 | -5 => AudioGen.flac(n, seed, noise)
      case 6 | -6 => AudioGen.aiff(n, seed, noise)
      case _ => AudioGen.mp3(n)
    })

  /** Attach a deterministic audio payload — the audio analogue of
    * [[withImagePayload]]; `seedCol` decouples content from identity so
    * noisy twins can be planted. Ids rotate the ENCODING/CONTAINER of
    * the same waveform — `id % 8`: 8-bit PCM, 16-bit PCM, G.711 µ-law,
    * G.711 A-law, IMA-ADPCM, FLAC, AIFF, MP3 — so sample-width,
    * companding/block-compression, native-lossless and big-endian-container
    * independence are part of what q30d exercises (an id-shifted twin
    * generally lands in a different encoding than its original). The MP3
    * slot is a silent, declared-out stream ([[AudioGen.mp3]]): it counts
    * in the decode matrix and yields no fingerprint. */
  def withAudioPayload(
      documents: DataFrame,
      idCol: String = "doc_id",
      seedCol: String = "doc_id",
      nSamples: Int = 4000,
      noise: Int = 0): DataFrame =
    documents.withColumn("payload",
      audioGenUdf(nSamples, noise)(col(idCol).cast("long"), col(seedCol).cast("long")))

  /** Attach the CLOSED-FORM integer audio payload
    * ([[AudioGen.wavPcmKeyed]]) — the audio analogue of
    * [[withKeyedAffineImagePayload]]: content is a pure integer function
    * of `idCol`, so twins plant by pointing `idCol` at a seed column and
    * the q30d2 oracle re-derives every sample in SQL. `n = 2080` divides
    * into the fingerprint's 65 frames exactly (32 samples each). */
  def withKeyedAudioPayload(
      documents: DataFrame,
      idCol: String = "doc_id",
      nSamples: Int = 2080): DataFrame = {
    val gen = udf((id: Long) => AudioGen.wavPcmKeyed(nSamples, id))
    documents.withColumn("payload", gen(col(idCol).cast("long")))
  }

  final case class AudioHash(doc_id: Long, n_samples: Int, afp: Long)

  /** Decode each payload and emit its fingerprint — one row per decodable
    * PCM WAV, partition-parallel, 20 bytes/row out whatever the audio
    * length (the [[imageHashes]] shape for the audio modality). */
  /** Sample decode for AIFF (Apple/EA IFF-85, the big-endian sibling of
    * RIFF/WAVE): FORM/AIFF chunk walk to COMM (channels, frames,
    * sampleSize) and SSND (offset + blocksize header, then PCM), 8/16-bit
    * big-endian mono/stereo (stereo averages to mono), normalized to
    * [-1, 1]. AIFF-C compressed forms, other widths, truncation → None,
    * never throws. */
  object AiffDecoder {
    private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
    private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
    private def be32(b: Array[Byte], i: Int): Int =
      (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)

    private[operators] def isAiff(b: Array[Byte]): Boolean =
      b.length >= 12 && be32(b, 0) == 0x464f524d &&
        (be32(b, 8) == 0x41494646 || be32(b, 8) == 0x41494643) // AIFF | AIFC

    def decode(b: Array[Byte]): Option[Array[Double]] = {
      if (!isAiff(b) || be32(b, 8) != 0x41494646) return None // plain AIFF only
      var channels = 0; var bits = 0; var frames = 0
      var dataOff = -1; var dataLen = 0
      var pos = 12L
      while (pos + 8 <= b.length) {
        val id = be32(b, pos.toInt)
        val size = be32(b, pos.toInt + 4).toLong & 0xffffffffL
        if (pos + 8 + size > b.length) return None // truncated
        if (id == 0x434f4d4d && size >= 18) { // COMM
          channels = be16(b, pos.toInt + 8)
          frames = be32(b, pos.toInt + 10)
          bits = be16(b, pos.toInt + 14)
        } else if (id == 0x53534e44 && size >= 8) { // SSND
          // offset into the sound data: unsigned per spec — a crafted
          // negative value must not walk dataOff back into the chunk
          // header (header bytes decoded as PCM); reject out-of-chunk
          val off = be32(b, pos.toInt + 8).toLong & 0xffffffffL
          if (off <= size - 8) {
            dataOff = pos.toInt + 16 + off.toInt
            dataLen = (size - 8 - off).toInt
          }
        }
        pos += 8 + size + (size & 1) // IFF word alignment
      }
      if (dataOff < 0 || dataLen <= 0 || frames <= 0) return None
      if ((bits != 8 && bits != 16) || (channels != 1 && channels != 2)) return None
      val bytesPer = bits / 8
      val frame = bytesPer * channels
      val n = math.min(frames, dataLen / frame)
      if (n == 0) return None
      val out = new Array[Double](n)
      var s = 0
      while (s < n) {
        var acc = 0.0
        var c = 0
        while (c < channels) {
          val o = dataOff + s * frame + c * bytesPer
          // AIFF 8-bit is SIGNED (unlike WAV's unsigned 8-bit)
          acc += (if (bits == 8) b(o).toInt / 128.0
            else (be16(b, o).toShort.toInt) / 32768.0)
          c += 1
        }
        out(s) = acc / channels
        s += 1
      }
      Some(out)
    }
  }

  /** Audio sample dispatch: RIFF/WAVE families via [[WavDecoder]],
    * native FLAC via [[FlacDecoder]], FORM/AIFF via [[AiffDecoder]] — one
    * normalized mono [-1, 1] contract each way, so the fingerprint is
    * encoding- AND container-blind. MP3 is declared out: its stream is no
    * RIFF container, so [[WavDecoder]] refuses it with None. */
  private[graft] def decodeAudioSamples(b: Array[Byte]): Option[Array[Double]] =
    if (b.length >= 4 && b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C')
      FlacDecoder.decode(b)
    else if (AiffDecoder.isAiff(b)) AiffDecoder.decode(b)
    else WavDecoder.decode(b)

  def audioHashes(withPayload: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val input = payloadInput(withPayload, idCol)
    input
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          for {
            xs <- decodeAudioSamples(payload)
            fp <- audioFingerprint64(xs)
          } yield AudioHash(id, xs.length, fp)
        }
      }(Encoders.product[AudioHash])
      .toDF()
  }

  /** Content-level audio near-dup pairs — fingerprints through the same
    * guaranteed-recall banding as SimHash and [[imageDupPairs]]. */
  def audioDupPairs(hashes: DataFrame, maxHamming: Int = 10): DataFrame =
    Dedup.simHashPairsFromSignatures(
      hashes.select(col("doc_id"), col("afp").as("sh")), maxHamming)

  /** Image dHash signatures in the `(doc_id, sh)` store shape — plug into
    * [[Dedup.writeSignatureIndex]] / [[Dedup.signatureIncremental]] /
    * [[Dedup.appendToSignatureIndex]] for "have I seen this image?"
    * dedup-at-ingest: a store of 16 bytes per indexed image, the
    * incremental probe's recall guarantee, and the tombstone takedown path
    * — the SimHash lifecycle applied to pixels. */
  def imageSignatures(withPayload: DataFrame, idCol: String = "doc_id"): DataFrame =
    imageHashes(withPayload, idCol).select(col("doc_id"), col("dhash").as("sh"))

  /** Audio fingerprint signatures in the `(doc_id, sh)` store shape — the
    * [[imageSignatures]] contract for the audio modality. */
  def audioSignatures(withPayload: DataFrame, idCol: String = "doc_id"): DataFrame =
    audioHashes(withPayload, idCol).select(col("doc_id"), col("afp").as("sh"))

  // -------------------------------------------------------------------
  // Content-level VIDEO dedup: MJPEG-in-AVI frame decode + temporal
  // perceptual fingerprint
  // -------------------------------------------------------------------
  //
  // The one video codec a pure-JVM engine can honestly decode is MJPEG
  // (every frame is a standalone T.81 JPEG — the decoder already exists),
  // and its standard container is AVI (RIFF, a public Microsoft spec:
  // LIST 'hdrl' with the avih main header, LIST 'movi' with '##dc' frame
  // chunks). H.264/VP9/AV1 payloads are explicitly OUT of the decode
  // matrix (their `avi`/`mp4` rows report decodable = false in
  // [[decodeStats]]) — but MJPEG-AVI gives the video modality the full
  // treatment: frame sampling, per-frame perceptual hashes, and a
  // temporal near-dup contract over aligned samples.

  /** MJPEG-in-AVI frame access: locate the `movi` LIST and return each
    * video frame chunk (`##dc`/`##db`) as an (offset, length) slice —
    * every slice is a complete JPEG stream for [[ImageDecoder]]. Walks
    * nested `rec ` LISTs; malformed sizes stop the walk with the frames
    * found so far, never throw. */
  object VideoDecoder {
    private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
    private def be32(b: Array[Byte], i: Int): Int =
      (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
    private def le32(b: Array[Byte], i: Int): Int =
      u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

    private def isAvi(b: Array[Byte]): Boolean =
      b.length >= 12 && be32(b, 0) == 0x52494646 && be32(b, 8) == 0x41564920 // RIFF..AVI

    private def isMp4(b: Array[Byte]): Boolean =
      b.length >= 12 && be32(b, 4) == 0x66747970 // size + "ftyp"

    /** Codings whose samples are standalone T.81 streams — the MJPEG
      * family fourccs (QuickTime 'jpeg'/'mjpa', AVI-style 'MJPG'/'AVDJ',
      * DMB 'dmb1'). Any other coding (avc1, vp09, av01, …) yields no
      * slices: those clips stay a measured decode-matrix gap. */
    private val MjpegCodings = Set("jpeg", "mjpa", "MJPG", "AVDJ", "dmb1")

    /** The container-declared CODEC of a payload, for the decode matrix's
      * per-codec itemization: the AVI first stream's strh fccHandler, or
      * the MP4 first trak's stsd entry fourcc ([[IsoBmff.firstCoding]]).
      * "" when no stream header is found; never throws. */
    private[operators] def containerCoding(b: Array[Byte]): String =
      try {
        if (isAvi(b)) aviCoding(b)
        else if (isMp4(b)) IsoBmff.firstCoding(b)
        else ""
      } catch {
        case _: ArrayIndexOutOfBoundsException | _: NegativeArraySizeException => ""
      }

    /** Walk RIFF -> LIST hdrl -> LIST strl -> strh and read the first
      * stream's fccHandler (strh body bytes 4-8). Bounded, truncation ->
      * "". */
    private def aviCoding(b: Array[Byte]): String = {
      def walk(from: Long, to: Long, depth: Int): String = {
        if (depth > 4) return ""
        var pos = from
        var n = 0
        while (pos + 8 <= to && n < 256) {
          val p = pos.toInt
          val id = be32(b, p)
          val size = le32(b, p + 4).toLong & 0xffffffffL
          if (size > to - pos - 8) return "" // truncated
          if (id == 0x4c495354 && size >= 4) { // LIST
            val lt = be32(b, p + 8)
            // descend hdrl and strl (and the top level)
            if (lt == 0x6864726c || lt == 0x7374726c || depth == 0) {
              val r = walk(pos + 12, pos + 8 + size, depth + 1)
              if (r.nonEmpty) return r
            }
          } else if (id == 0x73747268 && size >= 8) // strh
            return new String(b, p + 12, 4, StandardCharsets.US_ASCII)
          pos += 8 + size + (size & 1)
          n += 1
        }
        ""
      }
      if (b.length < 12) "" else walk(12L, b.length.toLong, 0)
    }

    /** (offset, length) of every video frame, document order, for BOTH
      * containers the engine opens: MJPEG-in-AVI (`movi` chunk walk) and
      * MJPEG-in-MP4 ([[IsoBmff]] sample-table join) — so a clip's
      * temporal fingerprint is container-independent exactly as an
      * image's pixel hash is. Bounded: stops after `maxFrames` frames
      * are located — a crafted chunk list or sample table cannot make
      * discovery itself unbounded. */
    def frameSlices(b: Array[Byte], maxFrames: Int = 4096): Seq[(Int, Int)] =
      // defense in depth for the never-throw contract: the walkers guard
      // their own arithmetic, but a crafted container must fail to Nil,
      // not fail the Spark task, even if a guard is ever missed
      try {
        if (isAvi(b)) aviFrameSlices(b, maxFrames)
        else if (isMp4(b))
          IsoBmff.videoTrak(b, maxFrames)
            .filter(t => MjpegCodings(t.coding))
            .map(_.slices)
            .getOrElse(Nil)
        else Nil
      } catch {
        case _: ArrayIndexOutOfBoundsException | _: NegativeArraySizeException |
            _: IllegalArgumentException => Nil
      }

    private def aviFrameSlices(b: Array[Byte], maxFrames: Int): Seq[(Int, Int)] = {
      if (!isAvi(b)) return Nil
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      def isFrameId(id: Int): Boolean = {
        // '##dc' / '##db' where ## are ASCII digits (stream number)
        val c0 = (id >>> 24) & 0xff; val c1 = (id >>> 16) & 0xff
        val tail = id & 0xffff
        c0 >= '0' && c0 <= '9' && c1 >= '0' && c1 <= '9' &&
          (tail == 0x6463 || tail == 0x6462) // "dc" | "db"
      }
      // walk one chunk run in [from, to)
      def walk(from: Long, to: Long, depth: Int): Unit = {
        if (depth > 4) return
        var pos = from
        while (pos + 8 <= to && out.length < maxFrames) {
          val p = pos.toInt
          val id = be32(b, p)
          val size = le32(b, p + 4).toLong & 0xffffffffL
          if (pos + 8 + size > to) return // truncated: keep what we have
          if (id == 0x4c495354) { // "LIST"
            if (size >= 4) {
              val lt = be32(b, p + 8)
              // descend into movi and its rec  groups; skip hdrl/idx1 etc.
              if (lt == 0x6d6f7669 || lt == 0x72656320 || depth == 0)
                walk(pos + 12, pos + 8 + size, depth + 1)
            }
          } else if (isFrameId(id) && size > 0 && size <= Int.MaxValue.toLong)
            out += ((p + 8, size.toInt))
          pos += 8 + size + (size & 1) // RIFF word alignment
        }
      }
      walk(12L, b.length.toLong, 0)
      out.toSeq
    }

    /** Decode up to `maxFrames` STRIDE-SAMPLED frames to gray matrices —
      * the bounded-work contract: however long the video, at most
      * `maxFrames` JPEG decodes run (each under [[ImageDecoder]]'s own
      * allocation/CPU guards), evenly spread across the timeline so a
      * temporal fingerprint sees the whole clip, not its head. Frames
      * that fail to decode are skipped. */
    def sampleFrames(b: Array[Byte], maxFrames: Int = 8): Seq[ImageDecoder.Gray] =
      sampleFromSlices(b, frameSlices(b), maxFrames)

    /** [[sampleFrames]] over an already-walked slice list — so callers
      * that also need the total frame count ([[videoHashes]]) walk the
      * RIFF chunk list once, not twice per payload. */
    def sampleFromSlices(
        b: Array[Byte], slices: Seq[(Int, Int)],
        maxFrames: Int = 8): Seq[ImageDecoder.Gray] = {
      if (slices.isEmpty) return Nil
      val stride = math.max(1, slices.length / maxFrames)
      slices.indices.by(stride).take(maxFrames).flatMap { i =>
        val (off, len) = slices(i)
        ImageDecoder.decode(java.util.Arrays.copyOfRange(b, off, off + len))
      }
    }
  }

  /** MJPEG-in-AVI synthesis — the video analogue of [[ImageGen]]: a real
    * RIFF AVI (avih main header, a `vids`/`MJPG` stream header pair, and
    * one baseline JPEG per frame in the `movi` LIST) of a seed-derived
    * SLOWLY EVOLVING field: frame f renders [[ImageGen.gray]] at
    * `seed` with a phase nudge, so consecutive frames are near-twins
    * (as in real video) while different seeds decorrelate. */
  object VideoGen {
    private def le16b(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    private def le32b(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, (v >>> 24).toByte)
    private def fourcc(s: String): Array[Byte] = s.getBytes(StandardCharsets.US_ASCII)
    private def chunk(id: String, data: Array[Byte]): Array[Byte] =
      fourcc(id) ++ le32b(data.length) ++ data ++
        (if (data.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray)
    private def list(listType: String, children: Array[Byte]): Array[Byte] =
      fourcc("LIST") ++ le32b(children.length + 4) ++ fourcc(listType) ++ children

    def aviMjpeg(w: Int, h: Int, nFrames: Int, seed: Long, noise: Int = 0): Array[Byte] = {
      require(nFrames >= 1, s"nFrames=$nFrames")
      val frames: Seq[Array[Byte]] = (0 until nFrames).map { f =>
        // per-frame field keyed on (seed, f) with seeds spread so no two
        // documents' frame sequences overlap shifted — same seed => same
        // clip (twins), different seeds => decorrelated clips
        ImageGen.jpeg(w, h, seed * 1000003L + f, noise)
      }
      val usPerFrame = 100000 // 10 fps
      val avih = le32b(usPerFrame) ++ le32b(0) ++ le32b(0) ++ le32b(0x10) ++
        le32b(nFrames) ++ le32b(0) ++ le32b(1) ++ le32b(0) ++
        le32b(w) ++ le32b(h) ++ le32b(0) ++ le32b(0) ++ le32b(0) ++ le32b(0)
      val strh = fourcc("vids") ++ fourcc("MJPG") ++ le32b(0) ++ le16b(0) ++ le16b(0) ++
        le32b(0) ++ le32b(1) ++ le32b(10) ++ le32b(0) ++ le32b(nFrames) ++
        le32b(0) ++ le32b(0) ++ le32b(0) ++ le16b(0) ++ le16b(0) ++ le16b(w) ++ le16b(h)
      val strf = le32b(40) ++ le32b(w) ++ le32b(h) ++ le16b(1) ++ le16b(24) ++
        fourcc("MJPG") ++ le32b(w * h * 3) ++ le32b(0) ++ le32b(0) ++ le32b(0) ++ le32b(0)
      val hdrl = list("hdrl",
        chunk("avih", avih) ++ list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
      val movi = list("movi", frames.map(chunk("00dc", _)).reduce(_ ++ _))
      val body = fourcc("AVI ") ++ hdrl ++ movi
      fourcc("RIFF") ++ le32b(body.length) ++ body
    }

    private def be16b(v: Int): Array[Byte] = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    private def be32b(v: Int): Array[Byte] = Array((v >>> 24).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    private def mbox(t: String, data: Array[Byte]): Array[Byte] =
      be32b(data.length + 8) ++ fourcc(t) ++ data

    /** The SAME clip as an MJPEG-in-MP4 — genuine ISO-BMFF (ftyp, mdat
      * holding one baseline JPEG per frame, moov with mvhd/tkhd and a
      * full 'vide' trak: mdhd/hdlr/minf/stbl with stsd('jpeg'), stts,
      * stsc, stsz, stco). Frame bytes are IDENTICAL to [[aviMjpeg]]'s
      * for the same (w, h, nFrames, seed, noise), so a clip re-wrapped
      * in the other container carries the same temporal fingerprint —
      * the cross-container twin the image family plants with
      * PNG/GIF/WEBP/BMP rotations. Samples pack 3 per chunk so the
      * stsc run table (uniform runs + a remainder run) is genuinely
      * exercised, not a single-chunk degenerate. 10 fps like the AVI:
      * mvhd timescale 1000, duration nFrames × 100 ms. */
    /** `codec` parameterizes the stsd entry fourcc (and the hdlr handler
      * type: 'soun' for mp4a, 'vide' otherwise) — the fixture for the
      * DECLARED-OUT codecs (avc1 / vp09 / av01 / mp4a): a fully-valid
      * container whose samples the engine must refuse to decode, so the
      * decode matrix can itemize the gap per codec. Sample bytes stay the
      * JPEG fields (opaque: the stsd gate rejects them before any decode
      * looks at a byte). */
    def mp4Mjpeg(
        w: Int, h: Int, nFrames: Int, seed: Long, noise: Int = 0,
        codec: String = "jpeg"): Array[Byte] = {
      require(nFrames >= 1, s"nFrames=$nFrames")
      require(codec.length == 4, s"codec fourcc: $codec")
      val frames: Seq[Array[Byte]] = (0 until nFrames).map { f =>
        ImageGen.jpeg(w, h, seed * 1000003L + f, noise)
      }
      val ftyp = mbox("ftyp",
        fourcc("isom") ++ be32b(0x200) ++ fourcc("isom") ++ fourcc("mp41"))
      val mdat = mbox("mdat", frames.reduce(_ ++ _))
      val per = 3
      val nChunks = (nFrames + per - 1) / per
      val mdatStart = ftyp.length + 8
      val chunkOffs = (0 until nChunks).map { c =>
        mdatStart + frames.take(c * per).map(_.length).sum
      }
      val durMs = nFrames * 100
      val mvhd = mbox("mvhd", be32b(0) ++ be32b(0) ++ be32b(0) ++ be32b(1000) ++ be32b(durMs) ++
        be32b(0x00010000) ++ be16b(0x0100) ++ be16b(0) ++ be32b(0) ++ be32b(0) ++
        Array.tabulate[Byte](36)(i => 0) ++ Array.fill[Byte](24)(0) ++ be32b(2))
      val tkhd = mbox("tkhd", be32b(0x000007) ++ be32b(0) ++ be32b(0) ++ be32b(1) ++ be32b(0) ++
        be32b(durMs) ++ be32b(0) ++ be32b(0) ++ be16b(0) ++ be16b(0) ++ be16b(0) ++ be16b(0) ++
        Array.fill[Byte](36)(0) ++ be32b(w << 16) ++ be32b(h << 16))
      val mdhd = mbox("mdhd", be32b(0) ++ be32b(0) ++ be32b(0) ++ be32b(10) ++ be32b(nFrames) ++
        be16b(0x55c4) ++ be16b(0))
      val hdlr = mbox("hdlr", be32b(0) ++ be32b(0) ++
        fourcc(if (codec == "mp4a") "soun" else "vide") ++
        be32b(0) ++ be32b(0) ++ be32b(0) ++ Array[Byte](0))
      val vmhd = mbox("vmhd", be32b(0x1) ++ be16b(0) ++ be16b(0) ++ be16b(0) ++ be16b(0))
      val dref = mbox("dref", be32b(0) ++ be32b(1) ++ mbox("url ", be32b(0x000001)))
      val dinf = mbox("dinf", dref)
      // VisualSampleEntry 'jpeg': 78-byte body per 14496-12 §12.1.3
      val entry = be32b(86) ++ fourcc(codec) ++ Array.fill[Byte](6)(0) ++ be16b(1) ++
        be16b(0) ++ be16b(0) ++ Array.fill[Byte](12)(0) ++ be16b(w) ++ be16b(h) ++
        be32b(0x00480000) ++ be32b(0x00480000) ++ be32b(0) ++ be16b(1) ++
        Array.fill[Byte](32)(0) ++ be16b(24) ++ be16b(0xffff)
      val stsd = mbox("stsd", be32b(0) ++ be32b(1) ++ entry)
      val stts = mbox("stts", be32b(0) ++ be32b(1) ++ be32b(nFrames) ++ be32b(1))
      val runs =
        if (nFrames <= per) be32b(1) ++ be32b(nFrames) ++ be32b(1)
        else if (nFrames % per == 0) be32b(1) ++ be32b(per) ++ be32b(1)
        else be32b(1) ++ be32b(per) ++ be32b(1) ++
          be32b(nChunks) ++ be32b(nFrames % per) ++ be32b(1)
      val nRuns = runs.length / 12
      val stsc = mbox("stsc", be32b(0) ++ be32b(nRuns) ++ runs)
      val stsz = mbox("stsz", be32b(0) ++ be32b(0) ++ be32b(nFrames) ++
        frames.map(f => be32b(f.length)).reduce(_ ++ _))
      val stco = mbox("stco", be32b(0) ++ be32b(nChunks) ++
        chunkOffs.map(be32b).reduce(_ ++ _))
      val stbl = mbox("stbl", stsd ++ stts ++ stsc ++ stsz ++ stco)
      val minf = mbox("minf", vmhd ++ dinf ++ stbl)
      val mdia = mbox("mdia", mdhd ++ hdlr ++ minf)
      val trak = mbox("trak", tkhd ++ mdia)
      val moov = mbox("moov", mvhd ++ trak)
      ftyp ++ mdat ++ moov
    }
  }

  private def videoGenUdf(w: Int, h: Int, frames: Int, noise: Int) =
    udf((id: Long, seed: Long) =>
      if (java.lang.Math.floorMod(id, 4L) < 2L) VideoGen.aviMjpeg(w, h, frames, seed, noise)
      else VideoGen.mp4Mjpeg(w, h, frames, seed, noise))

  /** Attach a deterministic MJPEG clip payload — the video analogue of
    * [[withImagePayload]], container ROTATING on identity (id mod 4 in
    * {0,1} → AVI, {2,3} → MP4; frame bytes identical either way), so a
    * planted twin — `seedCol` decouples content from identity; twin ids
    * shift by 100002 ≡ 2 (mod 4) — always lands in the OTHER container
    * and matching is cross-container by construction, exactly as the
    * image family's id-shifted twins cross PNG/GIF/WEBP/BMP. */
  def withVideoPayload(
      documents: DataFrame,
      idCol: String = "doc_id",
      seedCol: String = "doc_id",
      width: Int = 48,
      height: Int = 32,
      frames: Int = 6,
      noise: Int = 0): DataFrame =
    documents.withColumn("payload",
      videoGenUdf(width, height, frames, noise)(
        col(idCol).cast("long"), col(seedCol).cast("long")))

  /** The four DECLARED-OUT codecs the decode matrix itemizes: modern
    * inter-frame video (needs a reference-frame decoder a pure-JVM engine
    * does not honestly have) and AAC audio. */
  private[graft] val DeclaredOutCodecs = Array("avc1", "vp09", "av01", "mp4a")

  /** Attach fully-valid MP4 payloads whose stsd declares a codec the
    * engine refuses to decode — `id % 4` rotates [[DeclaredOutCodecs]] —
    * so q30f's matrix carries one measured `decodable = 0` row PER
    * declared-out codec instead of an aggregate (the rotation is
    * closed-form: the oracle re-derives it from ids). */
  private val codedVideoUdf = udf { (id: Long) =>
    VideoGen.mp4Mjpeg(32, 24, 2, id,
      codec = DeclaredOutCodecs(math.floorMod(id, 4L).toInt))
  }
  def withCodedVideoPayload(documents: DataFrame, idCol: String = "doc_id"): DataFrame =
    documents.withColumn("payload", codedVideoUdf(col(idCol).cast("long")))

  final case class VideoHashes(
      doc_id: Long, n_frames: Int, width: Int, height: Int, fhashes: Array[Long])

  /** Decode up to `maxFrames` stride-sampled frames per payload and emit
    * one row of per-frame dHashes — the TEMPORAL perceptual fingerprint
    * (each slot a frame's 64-bit dHash, clip order). Partition-parallel;
    * output is <= 8 longs + metadata per row however long the video, so
    * everything downstream (banding, clustering) runs on slim rows —
    * the [[imageHashes]] shape extended with a time axis. Payloads with
    * no decodable frame are skipped. */
  def videoHashes(
      withPayload: DataFrame, maxFrames: Int = 8, idCol: String = "doc_id"): DataFrame = {
    val input = payloadInput(withPayload, idCol)
    input
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          val slices = VideoDecoder.frameSlices(payload)
          val n = slices.length
          val grays = VideoDecoder.sampleFromSlices(payload, slices, maxFrames)
          val hs = grays.flatMap(PerceptualHash.dHash64)
          if (hs.isEmpty) None
          else Some(VideoHashes(id, n, grays.head.width, grays.head.height, hs.toArray))
        }
      }(Encoders.product[VideoHashes])
      .toDF()
  }

  /** Content-level VIDEO near-dup pairs over [[videoHashes]] rows: frames
    * band per SLOT (the sample index rides the band key, so ONE join
    * aligns slot i only with slot i — a shifted re-encode of the same
    * clip matches where its sampled timeline matches), each slot-pair
    * hamming-verified <= `maxHamming` as the join emits, then a pair
    * qualifies when at least `minMatchRatio` of its alignable slots
    * matched. RECALL: a pair whose every aligned sampled frame is within
    * `maxHamming` is provably generated (the per-slot pigeonhole
    * guarantee), and partially-matching clips surface down to the ratio
    * floor. Returns (doc_a, doc_b, matched_slots, match_ratio). */
  def videoDupPairs(
      hashes: DataFrame,
      maxHamming: Int = 10,
      minMatchRatio: Double = 0.6,
      comboSize: Int = 2): DataFrame = {
    val frames = hashes.select(
      col("doc_id"), size(col("fhashes")).as("nslots"),
      posexplode(col("fhashes")).as(Seq("slot", "sh")))
    val banded = frames
      .select(col("doc_id"), col("nslots"), col("slot"), col("sh"),
        explode(Dedup.simHashBlockKeys(maxHamming, comboSize)).as("blk"))
      .hint("merge") // the banded relation is |combos| x frames rows — never broadcast
    val slotPairs = banded.as("a")
      .join(banded.as("b"),
        col("a.blk") === col("b.blk") && col("a.slot") === col("b.slot") &&
          col("a.doc_id") < col("b.doc_id"))
      .filter(graft.functions.TextOps.hamming64(col("a.sh"), col("b.sh")) <= maxHamming)
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.slot").as("slot"),
        least(col("a.nslots"), col("b.nslots")).as("alignable"))
      .dropDuplicates("doc_a", "doc_b", "slot")
    slotPairs
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("matched_slots"), max(col("alignable")).as("alignable"))
      .withColumn("match_ratio",
        round(col("matched_slots").cast("double") / col("alignable"), 6))
      .filter(col("match_ratio") >= minMatchRatio)
      .select(col("doc_a"), col("doc_b"), col("matched_slots"), col("match_ratio"))
  }

  // ---- video signature-store lifecycle: slot-encoded ids --------------------
  //
  // A clip's temporal fingerprint is PER-SLOT (up to `maxFrames` frame
  // dHashes), but the proven signature-store lifecycle — band-bucketed
  // partition-pruned probes, replay-idempotent named segments, fold/GC
  // beside a live ingest, tombstone takedown, orphan reconcile,
  // compaction with auto-layout promotion — is keyed one-row-per-id.
  // The bridge: each sampled slot becomes its OWN store row under a
  // SLOT-ENCODED id, `sig = clip*256 + nslots*16 + slot` (slot and
  // nslots each fit a nibble; [[VideoSlotCap]]), so the video index IS a
  // [[Dedup.writeSignatureIndex]] store and inherits the whole lifecycle
  // VERBATIM — no new store machinery, no second set of crash-window
  // proofs. Per-clip semantics (slot alignment, match ratio over
  // alignable slots) are reconstructed AFTER the generic probe by
  // decoding the ids: everything the aggregation needs rides in the low
  // byte of the pair rows, so no second store read happens. Clip ids
  // must be in [0, 2^55) — quadrillions of clips, not a 100 TB limit.
  // The generic banding pairs similar frames ACROSS slots too (band keys
  // are slot-agnostic); those candidates are slim verified (a, b,
  // hamming) rows the alignment filter drops — bounded by the batch's
  // slot rows, never corpus-sized.

  /** Max sampled slots (and so max `nslots`) a slot-encoded id can carry. */
  val VideoSlotCap: Int = 15

  /** [[videoHashes]] rows exploded to one generic signature row per
    * sampled slot, the clip id slot-encoded (see the section comment).
    * The output is exactly the `(doc_id, sh)` shape every
    * [[Dedup.writeSignatureIndex]] lifecycle entry point takes. Clips
    * with more than [[VideoSlotCap]] sampled slots are DROPPED here (the
    * choke point every lifecycle path funnels through): their nslots
    * would not fit the nibble and the overflow would silently corrupt a
    * NEIGHBORING clip's id — un-indexed (like an undecodable payload) is
    * safe, mis-indexed is not. Entry points that control the sampling
    * also `require(maxFrames <= VideoSlotCap)` so the drop never fires
    * on the built-in paths. */
  def videoSlotSignatures(hashes: DataFrame): DataFrame =
    hashes.select(
        col("doc_id"), size(col("fhashes")).as("nslots"),
        posexplode(col("fhashes")).as(Seq("slot", "sh")))
      .filter(col("nslots") <= VideoSlotCap)
      .select(
        (col("doc_id") * 256 + col("nslots") * 16 + col("slot")).as("doc_id"),
        col("sh"))

  /** Persist a video slot store over [[videoHashes]] rows — a generic
    * signature store (auto layout: flat below the crossover, band-
    * bucketed above; see [[Dedup.writeSignatureIndex]]) whose rows are
    * slot-encoded. maxHamming is the PER-SLOT budget [[videoIncremental]]
    * probes at (frozen into the bucketed banding when bucketed). */
  def writeVideoIndex(
      hashes: DataFrame, path: String,
      maxHamming: Int = 10, comboSize: Int = 2,
      sigBuckets: Int = Dedup.AutoBuckets): Unit =
    Dedup.writeSignatureIndex(videoSlotSignatures(hashes), path,
      maxHamming, comboSize, sigBuckets)

  /** Append [[videoHashes]] rows directly to a video slot store. Returns
    * slot rows appended. */
  def appendToVideoIndex(hashes: DataFrame, path: String): Long =
    Dedup.appendToSignatureIndex(videoSlotSignatures(hashes), path)

  /** Per-CLIP near-dup pairs TOUCHING a batch of [[videoHashes]] rows,
    * against a persisted video slot store — [[videoDupPairs]]'s
    * semantics (slot-aligned hamming matches, `match_ratio` over
    * `alignable = min(nslots_a, nslots_b)`) across the index boundary:
    * batch-vs-corpus and batch-vs-batch, never corpus-vs-corpus. The
    * slot rows ride [[Dedup.signatureMicroIncremental]] — on a bucketed
    * store the probe partition-prunes to the batch's hit buckets, and
    * tombstoned clips' rows are anti-joined there — then the slot-pair
    * decode keeps aligned slots of distinct clips and aggregates the
    * per-clip ratio. RECALL: a qualifying pair has every aligned sampled
    * frame within `maxHamming`, and each such slot pair shares a clean
    * block combination (the pigeonhole guarantee, per slot row).
    * Returns (doc_a, doc_b, matched_slots, match_ratio). */
  def videoIncremental(
      batchHashes: DataFrame,
      indexPath: String,
      maxHamming: Int = 10,
      minMatchRatio: Double = 0.6,
      comboSize: Int = 2): DataFrame = {
    val raw = Dedup.signatureMicroIncremental(
      videoSlotSignatures(batchHashes), indexPath, maxHamming, comboSize)
    val aligned = raw
      .filter(col("doc_a").bitwiseAND(lit(15L)) === col("doc_b").bitwiseAND(lit(15L)))
      .select(
        shiftright(col("doc_a"), 8).as("clip_a"),
        shiftright(col("doc_b"), 8).as("clip_b"),
        col("doc_a").bitwiseAND(lit(15L)).as("slot"),
        least(
          shiftright(col("doc_a"), 4).bitwiseAND(lit(15L)),
          shiftright(col("doc_b"), 4).bitwiseAND(lit(15L))).as("alignable"))
      .filter(col("clip_a") =!= col("clip_b"))
      .select(
        least(col("clip_a"), col("clip_b")).as("doc_a"),
        greatest(col("clip_a"), col("clip_b")).as("doc_b"),
        col("slot"), col("alignable"))
      .dropDuplicates("doc_a", "doc_b", "slot")
    aligned
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("matched_slots"), max(col("alignable")).as("alignable"))
      .withColumn("match_ratio",
        round(col("matched_slots").cast("double") / col("alignable"), 6))
      .filter(col("match_ratio") >= minMatchRatio)
      .select(col("doc_a"), col("doc_b"), col("matched_slots"), col("match_ratio"))
  }

  /** Takedown clips from a video slot store by CLIP id. Each clip expands
    * to every possible slot-encoded id (nslots 1..15, slot < nslots — 120
    * ids): tombstones are takedown-sized anti-join rows, so over-covering
    * the absent combinations costs nothing and saves the O(store) scan
    * that recovering each clip's actual nslots would need. Returns clips
    * tombstoned. */
  def deleteVideoFromIndex(
      removedClipIds: DataFrame, indexPath: String,
      idCol: String = "doc_id"): Long = {
    val offsets = (1 to VideoSlotCap)
      .flatMap(n => (0 until n).map(s => (n * 16 + s).toLong)).toArray
    val clips = removedClipIds.select(col(idCol).cast("long").as("clip")).distinct()
    val n = clips.count()
    Dedup.deleteFromDocIndex(
      clips.withColumn("off", explode(lit(offsets)))
        .select((col("clip") * 256 + col("off")).as("doc_id")),
      indexPath)
    n
  }
}
