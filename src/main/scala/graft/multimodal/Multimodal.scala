package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling for training-data pipelines: media
  * travels as an opaque `binary` column plus typed metadata, and every
  * transform is per-partition streaming-friendly (no driver collect,
  * no full materialization — the only shape that works when the binary
  * column is 100 TB of images).
  *
  * [[MediaCodec]] carries REAL pure-JVM parsers for five image formats
  * (BMP — BITMAPFILEHEADER + BITMAPINFOHEADER per the Windows spec;
  * JPEG: a marker-segment walk to the SOF frame header; PNG: a
  * CRC32-verified chunk walk; GIF: logical screen descriptor + a
  * frame-counting block walk; TIFF: an endian-aware IFD walk) and two
  * audio formats (WAV — RIFF chunk walk, fmt/data chunks — and MP3:
  * an ID3-aware MPEG-1 Layer III frame-header walk with the spec
  * bitrate/rate tables), so image and audio metadata is decoded
  * from actual bytes with no native libraries — and a REAL
  * pixel-level nearest-neighbor BMP
  * resize ([[resizeBmp]]/[[resizeMedia]]: the actual pixel array is
  * resampled, spec-pinned against hand-placed pixel colors). Only
  * PIXEL/PCM decode of compressed formats and video frame extraction
  * remain STUBBED behind the `grft` fake header —
  * this container ships no media libraries — and swapping the stub for
  * javacv/ImageIO changes one function. The Spark-side plumbing
  * (schema, batch iteration, partition preservation, feature schema)
  * is identical for real and stubbed formats.
  */
object Multimodal {

  final case class MediaFeature(
      media_id: Long, kind: String, fmt: String,
      n_bytes: Int, width: Int, height: Int, n_frames: Int,
      sha: String)

  /** Per-format byte codecs. `decodeDims(fmt, bytes)` is the single
    * dispatch the pipeline calls; (width, height, frames) semantics
    * per format:
    *  - `bmp`: pixel dimensions, frames = 1.
    *  - `wav`: width = sample rate (Hz), height = channel count,
    *    frames = sample-frame count (data bytes / block align) — the
    *    natural "temporal frames" reading for audio.
    *  - `jpg`/`jpeg`: pixel dimensions from the SOF frame header
    *    (marker walk), frames = 1.
    *  - `mp3`: width = sample rate, height = channels, frames = frame
    *    count from the MPEG-1 Layer III header walk.
    *  - `grft`: the deterministic stub header standing in for formats
    *    that need a real media library (video; compressed-payload
    *    pixel/PCM decode).
    */
  object MediaCodec {
    val Magic = 0x47524654 // "GRFT"

    def encodeHeader(width: Int, height: Int, frames: Int, body: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(16 + body.length)
      bb.putInt(Magic).putInt(width).putInt(height).putInt(frames).put(body)
      bb.array()
    }

    /** Minimal valid 24-bpp bottom-up BMP: 14-byte BITMAPFILEHEADER +
      * 40-byte BITMAPINFOHEADER + zeroed pixel array with rows padded
      * to 4 bytes (the spec's row stride). Any BMP reader opens it. */
    def encodeBmp(width: Int, height: Int): Array[Byte] = {
      val rowSize = ((3 * width + 3) / 4) * 4
      val imageSize = rowSize * height
      val bb = java.nio.ByteBuffer.allocate(54 + imageSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte)
        .putInt(54 + imageSize).putShort(0).putShort(0).putInt(54) // file header
      bb.putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
        .putInt(0).putInt(imageSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
      bb.array()
    }

    /** BITMAPINFOHEADER parse: 'BM' magic, little-endian i32 width at
      * offset 18 / height at 22 (negative height = top-down row order,
      * dimensions unaffected). Frames = 1: BMP is single-image. */
    def decodeBmp(payload: Array[Byte]): (Int, Int, Int) = {
      require(payload.length >= 54 && payload(0) == 'B'.toByte && payload(1) == 'M'.toByte,
        "not a BMP payload")
      val bb = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (bb.getInt(18), math.abs(bb.getInt(22)), 1)
    }

    /** Minimal canonical PCM WAV: RIFF header, 16-byte `fmt ` chunk
      * (format 1 = PCM, 16-bit), zeroed `data` chunk of
      * `frames * channels * 2` bytes. */
    def encodeWav(sampleRate: Int, channels: Int, frames: Int): Array[Byte] = {
      val blockAlign = channels * 2
      val dataSize = frames * blockAlign
      val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1)
        .putShort(channels.toShort).putInt(sampleRate)
        .putInt(sampleRate * blockAlign).putShort(blockAlign.toShort).putShort(16)
      bb.put("data".getBytes("US-ASCII")).putInt(dataSize)
      bb.array()
    }

    /** RIFF chunk WALK (not fixed offsets — real WAV files carry LIST/
      * fact chunks before `data`): find `fmt ` for channels + sample
      * rate + block align, `data` for the payload size; frames =
      * dataSize / blockAlign. */
    def decodeWav(payload: Array[Byte]): (Int, Int, Int) = {
      val bb = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def tag(): String = { val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII") }
      require(payload.length >= 44 && tag() == "RIFF", "not a RIFF payload")
      bb.getInt() // riff size
      require(tag() == "WAVE", "not a WAVE payload")
      var rate = -1; var channels = -1; var blockAlign = -1; var dataSize = -1
      while (bb.remaining() >= 8 && (rate < 0 || dataSize < 0)) {
        val id = tag(); val size = bb.getInt(); val next = bb.position() + size + (size & 1)
        // a corrupt negative chunk size would move the cursor BACKWARDS
        // and spin this walk forever inside an executor task (size 0
        // still advances past the 8 header bytes) — malformed input
        // must FAIL like every other parse error
        require(size >= 0, s"corrupt RIFF chunk '$id' with negative size $size")
        if (id == "fmt ") {
          bb.getShort() // audio format
          channels = bb.getShort().toInt
          rate = bb.getInt()
          bb.getInt() // byte rate
          blockAlign = bb.getShort().toInt
        } else if (id == "data") dataSize = size
        bb.position(math.min(next, payload.length))
      }
      require(rate > 0 && blockAlign > 0 && dataSize >= 0, "WAV missing fmt/data chunk")
      (rate, channels, dataSize / blockAlign)
    }

    /** Minimal structurally-valid baseline JPEG: SOI, an APP0/JFIF
      * segment, a COM segment carrying `comment`, the SOF0 frame
      * header (8-bit precision, 3 components, big-endian u16 dims),
      * EOI. No entropy-coded data — this is the header surface a
      * dimension parser walks; total size = 45 + comment bytes. */
    def encodeJpeg(width: Int, height: Int, comment: Array[Byte]): Array[Byte] = {
      require(width >= 1 && width <= 0xFFFF && height >= 1 && height <= 0xFFFF,
        s"JPEG dims must fit u16 (got $width x $height)")
      // the COM length field is u16 INCLUDING itself: an unchecked
      // (2 + len).toShort would wrap past 65533 bytes and emit a
      // structurally corrupt stream the walker desyncs inside
      require(comment.length <= 0xFFFD,
        s"JPEG comment must fit one COM segment (${comment.length} > 65533 bytes)")
      val bb = java.nio.ByteBuffer.allocate(45 + comment.length) // big-endian
      bb.putShort(0xFFD8.toShort) // SOI
      bb.putShort(0xFFE0.toShort).putShort(16) // APP0, len 16
        .put("JFIF".getBytes("US-ASCII")).put(0.toByte)
        .putShort(0x0101.toShort).put(0.toByte) // v1.1, aspect-ratio units
        .putShort(1).putShort(1).put(0.toByte).put(0.toByte) // density, no thumb
      bb.putShort(0xFFFE.toShort).putShort((2 + comment.length).toShort)
        .put(comment) // COM
      bb.putShort(0xFFC0.toShort).putShort(17).put(8.toByte) // SOF0, precision 8
        .putShort(height.toShort).putShort(width.toShort).put(3.toByte)
      for (c <- 1 to 3) // component id, sampling 1x1, quant table 0
        bb.put(c.toByte).put(0x11.toByte).put(0.toByte)
      bb.putShort(0xFFD9.toShort) // EOI
      bb.array()
    }

    /** SOF marker classes carrying a frame header (baseline 0xC0
      * through lossless, EXCLUDING the non-frame C-row markers DHT C4,
      * JPG C8, DAC CC). */
    private def isSofMarker(m: Int): Boolean =
      m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC

    /** Real JPEG dimension parse: walk the marker segments from SOI to
      * the first SOF frame header (any SOF class — baseline SOF0,
      * progressive SOF2, ...) and read the big-endian u16 dimensions;
      * standalone markers (RST, TEM) have no length field and fill
      * bytes (FF FF ...) are skipped per the spec. Reaching SOS or EOI
      * without a SOF, losing marker sync, or a height of 0 (the
      * DNL-deferred case a header-only parser cannot resolve) FAILS
      * like every other malformed parse. Frames = 1: still image. */
    def decodeJpeg(payload: Array[Byte]): (Int, Int, Int) = {
      require(payload.length >= 4 &&
        (payload(0) & 0xFF) == 0xFF && (payload(1) & 0xFF) == 0xD8,
        "not a JPEG payload (missing SOI)")
      var i = 2
      while (i + 1 < payload.length) {
        require((payload(i) & 0xFF) == 0xFF, s"JPEG marker sync lost at offset $i")
        var j = i + 1
        while ((payload(j) & 0xFF) == 0xFF && j + 1 < payload.length) j += 1 // fill bytes
        val m = payload(j) & 0xFF
        val seg = j + 1
        if (isSofMarker(m)) {
          require(seg + 7 <= payload.length, "truncated SOF segment")
          val h = ((payload(seg + 3) & 0xFF) << 8) | (payload(seg + 4) & 0xFF)
          val w = ((payload(seg + 5) & 0xFF) << 8) | (payload(seg + 6) & 0xFF)
          require(w > 0 && h > 0, "JPEG SOF carries zero dimensions (DNL-deferred height)")
          return (w, h, 1)
        } else if (m == 0xD9 || m == 0xDA) {
          throw new IllegalArgumentException(
            "JPEG reached " + (if (m == 0xDA) "SOS" else "EOI") + " without a SOF frame header")
        } else if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) {
          i = seg // TEM/RST: standalone, no length
        } else {
          require(seg + 2 <= payload.length, "truncated JPEG segment length")
          val len = ((payload(seg) & 0xFF) << 8) | (payload(seg + 1) & 0xFF)
          require(len >= 2, s"corrupt JPEG segment length $len at offset $seg")
          i = seg + len
        }
      }
      throw new IllegalArgumentException("JPEG ended without a SOF frame header")
    }

    /** MPEG-1 Layer III bitrate table (kbit/s) indexed by the header's
      * 4-bit bitrate field; 0 = "free" and 15 = reserved, both
      * rejected. Public values from the MPEG-1 audio spec (ISO 11172-3). */
    private val Mp3Bitrates =
      Array(-1, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, -1)

    /** MPEG-1 sample rates by the header's 2-bit field; index 3 reserved. */
    private val Mp3Rates = Array(44100, 48000, 32000, -1)

    /** Minimal CBR MPEG-1 Layer III stream: `frames` frame headers at
      * 128 kbit/s with zeroed payloads (no padding bit). Frame size =
      * 144·bitrate/rate bytes (integer division, per the spec) — the
      * whole stream is `frames` · that, deterministic for the oracle. */
    def encodeMp3(sampleRate: Int, channels: Int, frames: Int): Array[Byte] = {
      val rateIdx = Mp3Rates.indexOf(sampleRate)
      require(rateIdx >= 0 && rateIdx < 3,
        s"encodeMp3 supports MPEG-1 rates ${Mp3Rates.take(3).mkString("/")} (got $sampleRate)")
      require(channels == 1 || channels == 2, s"channels must be 1 or 2 (got $channels)")
      require(frames >= 1, s"frames must be >= 1 (got $frames)")
      val frameLen = 144 * 128000 / sampleRate
      val out = new Array[Byte](frames * frameLen)
      var f = 0
      while (f < frames) {
        val o = f * frameLen
        out(o) = 0xFF.toByte
        out(o + 1) = 0xFB.toByte // sync + MPEG1(11) + LayerIII(01) + no-CRC
        out(o + 2) = ((9 << 4) | (rateIdx << 2)).toByte // 128k idx 9, no padding
        out(o + 3) = (if (channels == 1) 0xC0 else 0x00).toByte // mode
        f += 1
      }
      out
    }

    /** Real MP3 metadata parse: skip an ID3v2 tag if present
      * (syncsafe size), then WALK the MPEG-1 Layer III frame headers —
      * sync check, bitrate/rate table lookups, per-frame length
      * 144·bitrate/rate + padding — counting frames to the end of the
      * payload. Width = sample rate (Hz), height = channel count,
      * frames = frame count (the [[decodeWav]] audio convention).
      * MPEG-2/2.5 or Layer I/II streams, reserved table indexes, lost
      * sync, or a truncated final frame all FAIL loudly — this is a
      * header walker, not a decoder, and it must never guess. */
    def decodeMp3(payload: Array[Byte]): (Int, Int, Int) = {
      var i = 0
      if (payload.length >= 10 && payload(0) == 'I'.toByte &&
          payload(1) == 'D'.toByte && payload(2) == '3'.toByte) {
        // ID3v2: 10-byte header, then a 28-bit syncsafe size
        val sz = ((payload(6) & 0x7F) << 21) | ((payload(7) & 0x7F) << 14) |
          ((payload(8) & 0x7F) << 7) | (payload(9) & 0x7F)
        i = 10 + sz
        // ID3v2.4 footer flag (header byte 5 bit 4): a 10-byte '3DI'
        // footer trails the tag and is NOT counted in the syncsafe size
        if ((payload(5) & 0x10) != 0) i += 10
      }
      require(payload.length - i >= 4, "not an MP3 payload (no room for a frame header)")
      var rate = -1; var channels = -1; var frames = 0
      while (i < payload.length) {
        require(i + 4 <= payload.length, s"truncated MP3 frame header at offset $i")
        require((payload(i) & 0xFF) == 0xFF && (payload(i + 1) & 0xE0) == 0xE0,
          s"MP3 frame sync lost at offset $i")
        require((payload(i + 1) & 0x18) == 0x18,
          "only MPEG-1 streams are parsed (MPEG-2/2.5 needs the full codec tables)")
        require((payload(i + 1) & 0x06) == 0x02,
          "only Layer III frames are parsed")
        val br = Mp3Bitrates((payload(i + 2) & 0xFF) >> 4)
        val r = Mp3Rates((payload(i + 2) >> 2) & 3)
        require(br > 0 && r > 0, s"reserved/free bitrate or rate index at offset $i")
        val ch = if (((payload(i + 3) & 0xFF) >> 6) == 3) 1 else 2
        require(rate < 0 || (rate == r && channels == ch),
          "variable rate/mode streams are not parsed")
        rate = r; channels = ch; frames += 1
        val len = 144 * br * 1000 / r + ((payload(i + 2) >> 1) & 1)
        require(len > 4, s"corrupt MP3 frame length $len")
        require(i + len <= payload.length, s"truncated MP3 frame at offset $i")
        i += len
      }
      (rate, channels, frames)
    }

    private val PngSignature =
      Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

    /** Minimal spec-valid PNG: signature + IHDR (8-bit truecolor,
      * no interlace) + IEND, with REAL CRC32s over type+data per the
      * spec — 45 bytes. Pixel data (IDAT) needs zlib framing a
      * header-level fixture doesn't; the decoder walks chunks, so a
      * payload with IDATs parses identically. */
    def encodePng(width: Int, height: Int): Array[Byte] = {
      require(width >= 1 && height >= 1,
        s"PNG dims must be >= 1 (got $width x $height)")
      val ihdr = java.nio.ByteBuffer.allocate(13)
        .putInt(width).putInt(height)
        .put(8.toByte).put(2.toByte)            // bit depth 8, truecolor
        .put(0.toByte).put(0.toByte).put(0.toByte) // deflate, adaptive, none
      val bb = java.nio.ByteBuffer.allocate(45) // big-endian
      bb.put(PngSignature)
      def chunk(typ: String, data: Array[Byte]): Unit = {
        val t = typ.getBytes("US-ASCII")
        bb.putInt(data.length).put(t).put(data)
        val crc = new java.util.zip.CRC32
        crc.update(t); crc.update(data)
        bb.putInt(crc.getValue.toInt)
      }
      chunk("IHDR", ihdr.array())
      chunk("IEND", Array.emptyByteArray)
      bb.array()
    }

    /** Real PNG dimension parse: verify the 8-byte signature, then
      * walk length-prefixed chunks — VERIFYING each chunk's CRC32
      * (type+data, the actual spec checksum) — to IHDR, which the
      * spec requires first; big-endian u32 dims. A flipped bit
      * anywhere in a walked chunk fails the CRC, not just a wrong
      * magic. Frames = 1: still image (APNG's acTL would ride a
      * later chunk through this same walk). */
    def decodePng(payload: Array[Byte]): (Int, Int, Int) = {
      require(payload.length >= 8 &&
        payload.take(8).sameElements(PngSignature),
        "not a PNG payload (bad signature)")
      val bb = java.nio.ByteBuffer.wrap(payload) // big-endian
      bb.position(8)
      var first = true
      while (bb.remaining >= 12) {
        val len = bb.getInt
        // overflow-safe bound: len + 8 wraps negative near Int.MaxValue
        require(len >= 0 && len <= bb.remaining - 8,
          s"truncated PNG chunk at offset ${bb.position() - 4}")
        val typ = new Array[Byte](4); bb.get(typ)
        val typeStr = new String(typ, "US-ASCII")
        require(!first || typeStr == "IHDR",
          s"PNG: first chunk must be IHDR (got $typeStr)")
        val data = new Array[Byte](len); bb.get(data)
        val stored = bb.getInt
        val crc = new java.util.zip.CRC32
        crc.update(typ); crc.update(data)
        require(crc.getValue.toInt == stored,
          s"PNG $typeStr chunk CRC mismatch")
        if (typeStr == "IHDR") {
          require(len == 13, s"PNG IHDR must be 13 bytes (got $len)")
          val db = java.nio.ByteBuffer.wrap(data)
          val w = db.getInt(); val h = db.getInt()
          require(w > 0 && h > 0, "PNG IHDR carries zero dimensions")
          return (w, h, 1)
        }
        first = false
      }
      throw new IllegalArgumentException("PNG: no IHDR chunk found")
    }

    /** Minimal spec-valid GIF89a: 6-byte signature + 7-byte logical
      * screen descriptor (little-endian u16 dims, no global color
      * table), `frames` image descriptors (full-frame, no local
      * table, LZW min code 2, zero data sub-blocks — the header
      * surface a dimension/frame walker reads; real pixel data needs
      * an LZW coder), trailer 0x3B. Size = 14 + 12·frames bytes —
      * deterministic for the oracle. */
    def encodeGif(width: Int, height: Int, frames: Int = 1): Array[Byte] = {
      require(width >= 1 && width <= 0xFFFF && height >= 1 && height <= 0xFFFF,
        s"GIF dims must fit u16 (got $width x $height)")
      require(frames >= 1, s"frames must be >= 1 (got $frames)")
      val bb = java.nio.ByteBuffer.allocate(14 + 12 * frames)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("GIF89a".getBytes("US-ASCII"))
        .putShort(width.toShort).putShort(height.toShort)
        .put(0.toByte).put(0.toByte).put(0.toByte) // no GCT, bg, aspect
      for (_ <- 1 to frames) {
        bb.put(0x2C.toByte) // image separator
          .putShort(0).putShort(0) // left, top
          .putShort(width.toShort).putShort(height.toShort)
          .put(0.toByte)  // no local color table
          .put(2.toByte)  // LZW minimum code size
          .put(0.toByte)  // block terminator (no data sub-blocks)
      }
      bb.put(0x3B.toByte) // trailer
      bb.array()
    }

    /** Real GIF parse: signature (87a/89a), little-endian u16 dims
      * from the logical screen descriptor, then a BLOCK WALK — skip
      * the global color table if flagged, skip extension blocks
      * (0x21: label + length-prefixed data sub-blocks to the 0
      * terminator), count image descriptors (0x2C: 9-byte descriptor
      * + optional local color table + LZW min code + sub-blocks) to
      * the 0x3B trailer. Frames = image count (animated GIFs > 1).
      * Lost block sync or a missing trailer FAILS loudly. */
    def decodeGif(payload: Array[Byte]): (Int, Int, Int) = {
      require(payload.length >= 14 &&
        new String(payload.take(6), "US-ASCII").matches("GIF8[79]a"),
        "not a GIF payload (bad signature)")
      val bb = java.nio.ByteBuffer.wrap(payload)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.position(6)
      val w = bb.getShort() & 0xFFFF; val h = bb.getShort() & 0xFFFF
      require(w > 0 && h > 0, "GIF screen descriptor carries zero dimensions")
      val packed = bb.get() & 0xFF; bb.get(); bb.get() // bg color, aspect
      if ((packed & 0x80) != 0) // global color table: 3·2^(depth+1) bytes
        bb.position(bb.position() + 3 * (1 << ((packed & 7) + 1)))
      def skipSubBlocks(): Unit = {
        var n = bb.get() & 0xFF
        while (n != 0) { bb.position(bb.position() + n); n = bb.get() & 0xFF }
      }
      var frames = 0
      while (bb.remaining >= 1) {
        (bb.get() & 0xFF) match {
          case 0x3B => return (w, h, math.max(frames, 1))
          case 0x2C =>
            require(bb.remaining >= 10, "truncated GIF image descriptor")
            bb.position(bb.position() + 8)
            val p = bb.get() & 0xFF
            if ((p & 0x80) != 0)
              bb.position(bb.position() + 3 * (1 << ((p & 7) + 1)))
            bb.get() // LZW minimum code size
            skipSubBlocks()
            frames += 1
          case 0x21 => bb.get(); skipSubBlocks() // extension: label + blocks
          case other =>
            throw new IllegalArgumentException(
              f"GIF block sync lost at offset ${bb.position() - 1} (byte 0x$other%02X)")
        }
      }
      throw new IllegalArgumentException("GIF ended without a trailer")
    }

    /** Minimal single-IFD TIFF in either byte order: 8-byte header
      * ("II"/"MM" + magic 42 + IFD offset 8), one IFD with the two
      * entries a dimension reader needs (ImageWidth 256 / ImageLength
      * 257, both LONG), next-IFD pointer 0. 38 bytes. */
    def encodeTiff(width: Int, height: Int,
                   littleEndian: Boolean = true): Array[Byte] = {
      require(width >= 1 && height >= 1,
        s"TIFF dims must be >= 1 (got $width x $height)")
      val bb = java.nio.ByteBuffer.allocate(38).order(
        if (littleEndian) java.nio.ByteOrder.LITTLE_ENDIAN
        else java.nio.ByteOrder.BIG_ENDIAN)
      bb.put((if (littleEndian) "II" else "MM").getBytes("US-ASCII"))
        .putShort(42).putInt(8)
      bb.putShort(2) // entry count
      bb.putShort(256).putShort(4).putInt(1).putInt(width)  // ImageWidth, LONG
      bb.putShort(257).putShort(4).putInt(1).putInt(height) // ImageLength, LONG
      bb.putInt(0) // no next IFD
      bb.array()
    }

    /** Real TIFF parse: ENDIAN-AWARE ("II" little / "MM" big, magic
      * 42), then an IFD WALK — dims from the first IFD's ImageWidth/
      * ImageLength entries (SHORT values sit in the value field's
      * first 2 bytes PER THE DECLARED BYTE ORDER, LONG uses all 4),
      * frames = IFD count following the next-IFD chain (multi-page
      * TIFF). Offsets must stay in-bounds and the chain is capped at
      * 65535 IFDs so a cyclic pointer fails instead of spinning. */
    def decodeTiff(payload: Array[Byte]): (Int, Int, Int) = {
      require(payload.length >= 8, "not a TIFF payload (too short)")
      val order0 = new String(payload.take(2), "US-ASCII")
      require(order0 == "II" || order0 == "MM",
        s"not a TIFF payload (byte order '$order0')")
      val bb = java.nio.ByteBuffer.wrap(payload).order(
        if (order0 == "II") java.nio.ByteOrder.LITTLE_ENDIAN
        else java.nio.ByteOrder.BIG_ENDIAN)
      require((bb.getShort(2) & 0xFFFF) == 42, "TIFF magic is not 42")
      var w = -1; var h = -1; var ifds = 0
      var off = bb.getInt(4)
      while (off != 0) {
        // overflow-safe bounds (the decodePng discipline): `off + k`
        // wraps negative for off near Int.MaxValue and would let the
        // check pass, so compare against `payload.length - off`
        require(off >= 8 && off <= payload.length - 2,
          s"TIFF IFD offset out of bounds: $off")
        ifds += 1
        require(ifds <= 0xFFFF, "TIFF next-IFD chain does not terminate")
        val n = bb.getShort(off) & 0xFFFF
        require(payload.length - off >= 2 + 12 * n + 4, "truncated TIFF IFD")
        if (ifds == 1) {
          for (e <- 0 until n) {
            val base = off + 2 + 12 * e
            val tag = bb.getShort(base) & 0xFFFF
            val typ = bb.getShort(base + 2) & 0xFFFF
            if (tag == 256 || tag == 257) {
              require(typ == 3 || typ == 4,
                s"TIFF dim tag $tag has unsupported type $typ")
              val v = if (typ == 3) bb.getShort(base + 8) & 0xFFFF
                      else bb.getInt(base + 8)
              if (tag == 256) w = v else h = v
            }
          }
        }
        off = bb.getInt(off + 2 + 12 * n)
      }
      require(ifds >= 1, "TIFF has no IFD")
      require(w > 0 && h > 0, "TIFF first IFD missing ImageWidth/ImageLength")
      (w, h, ifds)
    }

    /** Stub header for formats that need a real media library. */
    def decodeGrft(payload: Array[Byte]): (Int, Int, Int) = {
      val bb = java.nio.ByteBuffer.wrap(payload)
      require(bb.remaining >= 16 && bb.getInt() == Magic, "not a GRFT payload")
      (bb.getInt(), bb.getInt(), bb.getInt())
    }

    /** Minimal spec-valid AVI container: RIFF/'AVI ' with a LIST/hdrl
      * holding the 56-byte `avih` MainAVIHeader (dwMicroSecPerFrame,
      * dwTotalFrames, dwWidth, dwHeight the live fields) and an empty
      * LIST/movi. 100 bytes total — the header surface a video
      * METADATA reader walks; frame pixel data stays out (compressed
      * video decode needs codec libraries this container doesn't
      * ship). `fps` must divide 1,000,000 (10/20/25/50 all do) so the
      * stored dwMicroSecPerFrame round-trips exactly. */
    def encodeAvi(width: Int, height: Int, frames: Int, fps: Int): Array[Byte] = {
      require(width >= 1 && height >= 1 && frames >= 1, s"bad AVI dims $width x $height x $frames")
      require(fps >= 1 && 1000000 % fps == 0, s"fps must divide 1e6 (got $fps)")
      val bb = java.nio.ByteBuffer.allocate(100)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(92).put("AVI ".getBytes("US-ASCII"))
      bb.put("LIST".getBytes("US-ASCII")).putInt(68).put("hdrl".getBytes("US-ASCII"))
      bb.put("avih".getBytes("US-ASCII")).putInt(56)
        .putInt(1000000 / fps) // dwMicroSecPerFrame
        .putInt(0).putInt(0).putInt(0) // maxBytesPerSec, padding, flags
        .putInt(frames) // dwTotalFrames
        .putInt(0).putInt(1).putInt(0) // initialFrames, streams, suggestedBuf
        .putInt(width).putInt(height)
        .putInt(0).putInt(0).putInt(0).putInt(0) // dwReserved[4]
      bb.put("LIST".getBytes("US-ASCII")).putInt(4).put("movi".getBytes("US-ASCII"))
      bb.array()
    }

    /** RIFF/AVI header WALK (the decodeWav discipline — never fixed
      * offsets: real AVIs carry JUNK/INFO chunks before hdrl): verify
      * 'RIFF'+'AVI ', iterate top-level chunks, descend into the
      * LIST/hdrl, read `avih` → (width, height, totalFrames,
      * microSecPerFrame). Malformed input FAILS loudly — the negative-
      * chunk-size guard prevents the backwards-cursor spin. */
    def decodeAvi(payload: Array[Byte]): (Int, Int, Int, Int) = {
      val bb = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def tag(): String = { val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII") }
      require(payload.length >= 100 && tag() == "RIFF", "not a RIFF payload")
      bb.getInt() // riff size
      require(tag() == "AVI ", "not an AVI payload")
      var w = -1; var h = -1; var frames = -1; var usPerFrame = -1
      while (bb.remaining() >= 8 && usPerFrame < 0) {
        val id = tag(); val size = bb.getInt()
        val next = bb.position() + size + (size & 1)
        require(size >= 0, s"corrupt RIFF chunk '$id' with negative size $size")
        if (id == "LIST" && size >= 4 && tag() == "hdrl") {
          while (bb.position() + 8 <= next && usPerFrame < 0 && bb.remaining() >= 8) {
            val cid = tag(); val csize = bb.getInt()
            require(csize >= 0, s"corrupt hdrl chunk '$cid' with negative size $csize")
            val cnext = bb.position() + csize + (csize & 1)
            if (cid == "avih") {
              usPerFrame = bb.getInt()
              bb.getInt(); bb.getInt(); bb.getInt()
              frames = bb.getInt()
              bb.getInt(); bb.getInt(); bb.getInt()
              w = bb.getInt(); h = bb.getInt()
            }
            bb.position(math.min(cnext, payload.length))
          }
        }
        bb.position(math.min(next, payload.length))
      }
      require(usPerFrame > 0 && w > 0 && h > 0 && frames > 0, "AVI missing avih header")
      (w, h, frames, usPerFrame)
    }

    /** (width, height, frames) by declared format — `bmp`, `wav`,
      * `jpg`/`jpeg`, `mp3`, `png`, `gif`, `tiff`, and `avi` (container
      * metadata) parse REAL bytes; `grft` is the documented
      * deterministic stub (compressed-payload pixel/PCM decode needs
      * codec libraries this container does not ship). */
    def decodeDims(fmt: String, payload: Array[Byte]): (Int, Int, Int) = fmt match {
      case "bmp"          => decodeBmp(payload)
      case "wav"          => decodeWav(payload)
      case "jpg" | "jpeg" => decodeJpeg(payload)
      case "mp3"          => decodeMp3(payload)
      case "png"          => decodePng(payload)
      case "gif"          => decodeGif(payload)
      case "tif" | "tiff" => decodeTiff(payload)
      case "avi"          => { val (w, h, f, _) = decodeAvi(payload); (w, h, f) }
      case _              => decodeGrft(payload)
    }

    /** Back-compat single-format entry (the stub header). */
    def decodeDims(payload: Array[Byte]): (Int, Int, Int) = decodeGrft(payload)
  }

  /** Feature extraction over the binary column, per-partition (the
    * `mapPartitions` shape that scales: one codec instance per
    * partition, streaming iteration, no row buffering).
    */
  def extractFeatures(media: DataFrame): Dataset[MediaFeature] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "fmt", "payload")
      .as[(Long, String, String, Array[Byte])]
      .mapPartitions { it =>
        val digest = java.security.MessageDigest.getInstance("SHA-256")
        it.map { case (id, kind, fmt, payload) =>
          val (w, h, f) = MediaCodec.decodeDims(fmt, payload)
          digest.reset()
          val sha = digest.digest(payload).take(8).map("%02x".format(_)).mkString
          MediaFeature(id, kind, fmt, payload.length, w, h, f, sha)
        }
      }
  }

  /** Deterministic frame sampling: keep every `stride`-th frame index —
    * pure metadata math on the stub, but the partition-preserving
    * explode shape is exactly what real video sampling needs.
    */
  def sampleFrames(features: Dataset[MediaFeature], stride: Int): DataFrame =
    features.toDF()
      .select(col("media_id"), explode(expr(s"sequence(0, n_frames - 1, $stride)")).as("frame_idx"))

  /** Resize metadata transform (stub: no pixels to touch — emits the
    * target dims and scale factors the real kernel would apply). */
  def resizePlan(features: Dataset[MediaFeature], maxSide: Int): DataFrame =
    features.toDF().withColumn("scale",
        least(lit(1.0), lit(maxSide) / greatest(col("width"), col("height"))))
      .withColumn("out_w", ceil(col("width") * col("scale")).cast("int"))
      .withColumn("out_h", ceil(col("height") * col("scale")).cast("int"))
      .select("media_id", "width", "height", "out_w", "out_h", "scale")

  /** REAL nearest-neighbor resize of a 24-bpp BMP payload: reads the
    * actual pixel array (row stride padded to 4, bottom-up or top-down
    * alike — the mapping is symmetric), emits a spec-valid BMP at the
    * target dimensions. Integer source mapping sx = x·w/outW — exact,
    * deterministic, no float. */
  def resizeBmp(payload: Array[Byte], outW: Int, outH: Int): Array[Byte] = {
    require(outW >= 1 && outH >= 1, s"target dims must be >= 1 (got $outW x $outH)")
    val (w, h, _) = MediaCodec.decodeBmp(payload)
    val bb = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // pixel resampling reads raw rows — validate the layout assumptions
    // decode-only paths don't need: 24 bpp, pixels at the offset the
    // file header declares (a 32-bpp or V4/V5-header file would
    // otherwise resample at wrong offsets into garbage)
    val bitCount = bb.getShort(28).toInt
    require(bitCount == 24, s"resizeBmp supports 24-bpp BMPs only (got $bitCount bpp)")
    val pixBase = bb.getInt(10)
    require(pixBase >= 54 && pixBase < payload.length,
      s"BMP pixel offset out of range: $pixBase")
    // negative biHeight = TOP-DOWN row storage; emit the (bottom-up)
    // canonical output by mirroring the source row index, so the image
    // content is preserved either way
    val topDown = bb.getInt(22) < 0
    val inStride = ((3 * w + 3) / 4) * 4
    val outStride = ((3 * outW + 3) / 4) * 4
    val out = MediaCodec.encodeBmp(outW, outH)
    var y = 0
    while (y < outH) {
      val sy0 = (y.toLong * h / outH).toInt // bottom-up source index
      val sy = if (topDown) h - 1 - sy0 else sy0
      var x = 0
      while (x < outW) {
        val sx = (x.toLong * w / outW).toInt
        System.arraycopy(payload, pixBase + sy * inStride + 3 * sx,
          out, 54 + y * outStride + 3 * x, 3)
        x += 1
      }
      y += 1
    }
    out
  }

  /** Pixel-level media resize over the binary column: BMP payloads are
    * ACTUALLY resampled (nearest-neighbor, longest side capped at
    * `maxSide`, aspect preserved, never upscaled); other formats pass
    * through unchanged (a real deployment drops its JPEG/video kernel
    * into this same per-partition seam). Output schema = input with
    * payload/fmt preserved — partition-preserving mapPartitions, one
    * codec dispatch per row, no row buffering. */
  def resizeMedia(media: DataFrame, maxSide: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "fmt", "payload")
      .as[(Long, String, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, kind, fmt, payload) =>
          val resized =
            if (fmt != "bmp") payload
            else {
              val (w, h, _) = MediaCodec.decodeBmp(payload)
              val side = math.max(w, h)
              if (side <= maxSide) payload
              else resizeBmp(payload,
                math.max(1, (w.toLong * maxSide / side).toInt),
                math.max(1, (h.toLong * maxSide / side).toInt))
            }
          (id, kind, fmt, resized)
        }
      }.toDF("media_id", "kind", "fmt", "payload")
  }
}
