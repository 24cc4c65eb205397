package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque `binary` payloads with typed
  * metadata, decoded/feature-extracted in batched partition passes.
  *
  * The Spark-side shape is the real thing — binary columns, a typed
  * `mapPartitions` decode stage (one decoder instance per partition,
  * streamed batches, no driver collect), a typed metadata schema —
  * and so is the header decode: [[MediaHeader.decode]] sniffs magic
  * bytes and parses the dimension fields of real PNG / JPEG / WebP
  * container headers with pure JVM byte reads (no codec library);
  * [[MediaHeader.decodeAudio]] walks real RIFF/WAVE chunks for the
  * PCM format fields the same way.
  * [[MediaHeader.sniffMp4]] walks real ISO-BMFF boxes
  * (`moov/mvhd/trak/tkhd/mdia/minf/stbl/stts`) for canvas dims,
  * timescale, duration and the frame count (Σ stts sample counts).
  * Because the corpus has no media files, [[MediaHeader.synth]] /
  * [[synthWav]] / [[synthMp4]] write spec-compliant headers (real PNG
  * CRC32, real RIFF chunks, real MP4 boxes) in front of the text
  * bytes, so decode exercises the same code path a real corpus would
  * hit. For PNG the boundary goes further than headers:
  * [[MediaHeader.pngImage]] writes complete zlib-deflated images and
  * [[resizePixels]] decodes them with the real `javax.imageio` codec
  * and resamples the raster in the same mapPartitions pass — no
  * header-only shortcut left on the image path.
  */
object Multimodal {

  /** Decoded-media metadata row. */
  case class MediaMeta(doc_id: Long, n_bytes: Int, width: Int, height: Int,
                       format: String, n_frames: Int)

  /** Decoded-audio metadata row (PCM WAV). */
  case class AudioMeta(doc_id: Long, n_bytes: Int, sample_rate: Int,
                       channels: Int, bits: Int, n_samples: Long,
                       duration_ms: Long)

  /** Decoded-PCM sample statistics row — the product of REAL sample
    * decode ([[decodePcmStats]]), not header fields: every value after
    * `channels` is a function of the 16-bit samples themselves. */
  case class PcmStats(doc_id: Long, sample_rate: Long, channels: Long,
                      n_samples: Long, peak_abs: Long, sum_abs: Long,
                      zero_crossings: Long, pcm_checksum: Long)

  /** Decoded-video metadata row (MP4/ISO-BMFF). */
  case class VideoMeta(doc_id: Long, n_bytes: Int, width: Int, height: Int,
                       n_frames: Long, timescale: Int, duration_ms: Long)

  /** Container-header codec for PNG (sig + IHDR, per the PNG spec),
    * JPEG (SOI + SOF0 scan over markers, ITU T.81) and WebP
    * (RIFF + VP8X extended header, per the WebP container spec).
    * `synth` and `decode` are exact inverses for the dimension
    * fields; `decode` also handles real files — e.g. a JPEG whose
    * SOF comes after APP0/quantization segments (the marker scan
    * skips them) — since that is the entire point of parsing headers
    * rather than faking them. */
  object MediaHeader {
    private def be16(v: Int) = Array[Byte]((v >> 8).toByte, v.toByte)
    private def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    private def be32(v: Int) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte,
      (v >> 8).toByte, v.toByte)
    private def le24(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte)
    private def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)

    /** PNG: 8-byte signature + IHDR chunk (13 data bytes, real CRC32
      * over type+data) = 33 bytes. */
    def pngHeader(w: Int, h: Int): Array[Byte] = {
      val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
      val data = "IHDR".getBytes ++ be32(w) ++ be32(h) ++
        Array[Byte](8, 2, 0, 0, 0) // depth 8, truecolor, no interlace
      val crc = new java.util.zip.CRC32
      crc.update(data)
      sig ++ be32(13) ++ data ++ be32(crc.getValue.toInt)
    }

    /** COMPLETE truecolor PNG — not just the header: IHDR +
      * zlib-deflated IDAT scanlines (filter None per row, 8-bit RGB)
      * + IEND, every chunk with its real CRC32, per the PNG spec
      * (RFC 2083). Pixels come from `px(x, y) = (r, g, b)`. All of it
      * is public JDK (`java.util.zip.Deflater`), so the decode side
      * can be the real `javax.imageio` codec rather than a header
      * sniff — the round trip proves an actual encode/decode, and
      * [[Multimodal.resizePixels]] resamples the decoded raster. */
    def pngImage(w: Int, h: Int, px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
      val raw = new Array[Byte](h * (1 + w * 3))
      var k = 0
      var y = 0
      while (y < h) {
        raw(k) = 0 // filter type: None
        k += 1
        var x = 0
        while (x < w) {
          val (r, g, b) = px(x, y)
          raw(k) = r.toByte; raw(k + 1) = g.toByte; raw(k + 2) = b.toByte
          k += 3; x += 1
        }
        y += 1
      }
      val deflater = new java.util.zip.Deflater()
      deflater.setInput(raw); deflater.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
      deflater.end()
      def chunk(tpe: String, data: Array[Byte]): Array[Byte] = {
        val body = tpe.getBytes("ISO-8859-1") ++ data
        val crc = new java.util.zip.CRC32
        crc.update(body)
        be32(data.length) ++ body ++ be32(crc.getValue.toInt)
      }
      pngHeader(w, h) ++ chunk("IDAT", out.toByteArray) ++
        chunk("IEND", Array.emptyByteArray)
    }

    /** JPEG: SOI + a single SOF0 segment (8-bit precision, 1
      * component) = 15 bytes. */
    def jpegHeader(w: Int, h: Int): Array[Byte] =
      Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xC0.toByte) ++
        be16(11) ++ Array[Byte](8) ++ be16(h) ++ be16(w) ++
        Array[Byte](1, 1, 0x11, 0)

    /** WebP: RIFF container + VP8X extended-format chunk (24-bit
      * little-endian canvas size minus one) = 30 bytes. `tail` is the
      * byte count following the header, folded into the RIFF size. */
    def webpHeader(w: Int, h: Int, tail: Int): Array[Byte] =
      "RIFF".getBytes ++ le32(4 + 8 + 10 + tail) ++ "WEBP".getBytes ++
        "VP8X".getBytes ++ le32(10) ++ Array[Byte](0, 0, 0, 0) ++
        le24(w - 1) ++ le24(h - 1)

    def headerLen(format: String): Int = format match {
      case "jpeg" => 15; case "png" => 33; case "webp" => 30
    }

    /** ISO-BMFF box: 32-bit big-endian size + 4CC type + payload. */
    private def mp4box(tpe: String, payload: Array[Byte]): Array[Byte] =
      be32(8 + payload.length) ++ tpe.getBytes("ISO-8859-1") ++ payload

    private val unityMatrix: Array[Byte] =
      be32(0x00010000) ++ be32(0) ++ be32(0) ++
        be32(0) ++ be32(0x00010000) ++ be32(0) ++
        be32(0) ++ be32(0) ++ be32(0x40000000)

    /** Minimal spec-compliant MP4 header (ISO/IEC 14496-12): `ftyp` +
      * `moov(mvhd, trak(tkhd, mdia(mdhd, hdlr, minf(stbl(stts)))))`,
      * all version-0 full boxes, unity matrices, one video track. The
      * frame count lives ONLY in the `stts` entries (two runs with
      * different sample deltas, so the duration is a genuine
      * time-to-sample sum, not count x constant); width/height are
      * 16.16 fixed-point in `tkhd`. Every field the decoder reports
      * must round-trip through these container bytes. */
    def mp4Header(w: Int, h: Int, n1: Int, d1: Int, n2: Int, d2: Int,
                  timescale: Int): Array[Byte] = {
      val duration = n1 * d1 + n2 * d2
      val ftyp = mp4box("ftyp",
        "isom".getBytes ++ be32(0x200) ++ "isom".getBytes)
      val mvhd = mp4box("mvhd",
        be32(0) ++ be32(0) ++ be32(0) ++ be32(timescale) ++ be32(duration) ++
          be32(0x00010000) ++ be16(0x0100) ++ be16(0) ++ be32(0) ++ be32(0) ++
          unityMatrix ++ Array.fill(24)(0: Byte) ++ be32(2))
      val tkhd = mp4box("tkhd",
        be32(7) ++ be32(0) ++ be32(0) ++ be32(1) ++ be32(0) ++ be32(duration) ++
          be32(0) ++ be32(0) ++ be16(0) ++ be16(0) ++ be16(0) ++ be16(0) ++
          unityMatrix ++ be32(w << 16) ++ be32(h << 16))
      val mdhd = mp4box("mdhd",
        be32(0) ++ be32(0) ++ be32(0) ++ be32(timescale) ++ be32(duration) ++
          be16(0x55C4) ++ be16(0))
      val hdlr = mp4box("hdlr",
        be32(0) ++ be32(0) ++ "vide".getBytes ++ Array.fill(12)(0: Byte) ++
          Array[Byte](0))
      val stts = mp4box("stts",
        be32(0) ++ be32(2) ++ be32(n1) ++ be32(d1) ++ be32(n2) ++ be32(d2))
      val stbl = mp4box("stbl", stts)
      val minf = mp4box("minf", stbl)
      val mdia = mp4box("mdia", mdhd ++ hdlr ++ minf)
      val trak = mp4box("trak", tkhd ++ mdia)
      val moov = mp4box("moov", mvhd ++ trak)
      ftyp ++ moov
    }

    /** Byte length of [[mp4Header]] — constant (fixed box layout), so
      * the oracle can recompute payload sizes arithmetically. */
    val mp4HeaderLen: Int = mp4Header(64, 64, 1, 800, 1, 1200, 24000).length

    /** Canonical 44-byte PCM WAV header: RIFF/WAVE + 16-byte `fmt `
      * chunk (PCM tag 1) + `data` chunk header, per the RIFF spec. */
    def wavHeader(sampleRate: Int, channels: Int, bits: Int,
                  dataLen: Int): Array[Byte] = {
      val byteRate = sampleRate * channels * bits / 8
      val blockAlign = channels * bits / 8
      "RIFF".getBytes ++ le32(36 + dataLen) ++ "WAVE".getBytes ++
        "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(channels) ++
        le32(sampleRate) ++ le32(byteRate) ++ le16(blockAlign) ++ le16(bits) ++
        "data".getBytes ++ le32(dataLen)
    }

    private def u8(b: Byte): Int = b & 0xFF
    private def rdBe16(p: Array[Byte], i: Int) = (u8(p(i)) << 8) | u8(p(i + 1))
    private def rdBe32(p: Array[Byte], i: Int) =
      (u8(p(i)) << 24) | (u8(p(i + 1)) << 16) | (u8(p(i + 2)) << 8) | u8(p(i + 3))
    private def rdLe24(p: Array[Byte], i: Int) =
      u8(p(i)) | (u8(p(i + 1)) << 8) | (u8(p(i + 2)) << 16)

    /** Magic-byte sniff + dimension parse. Returns (format, w, h);
      * unrecognized payloads classify as ("unknown", 0, 0) instead of
      * throwing — at 100 TB a poison file must not kill the stage. */
    def sniff(p: Array[Byte]): (String, Int, Int) = {
      if (p.length >= 24 && u8(p(0)) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G')
        ("png", rdBe32(p, 16), rdBe32(p, 20))
      else if (p.length >= 4 && u8(p(0)) == 0xFF && u8(p(1)) == 0xD8) {
        // scan segments for a start-of-frame marker (C0-C3, C5-C7...).
        // Real-world streams interleave 0xFF fill padding before marker
        // ids, and some markers carry NO length word (TEM 0x01,
        // RST0-7 0xD0-D7, SOI/EOI) — assuming a universal 2-byte length
        // mis-advances the scan (ADVICE r5). Entropy-coded data after
        // SOS contains no more headers, so SOS/EOI end the scan.
        var i = 2
        var res: (String, Int, Int) = ("unknown", 0, 0)
        var stop = false
        while (!stop && res._1 == "unknown" && i + 1 < p.length) {
          if (u8(p(i)) != 0xFF) stop = true // lost marker sync — bail
          else {
            var j = i + 1 // skip 0xFF fill bytes before the marker id
            while (j < p.length && u8(p(j)) == 0xFF) j += 1
            if (j >= p.length) stop = true
            else {
              val m = u8(p(j))
              if (m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC) {
                // SOF payload: len(2) precision(1) height(2) width(2)
                if (j + 8 <= p.length)
                  res = ("jpeg", rdBe16(p, j + 6), rdBe16(p, j + 4))
                stop = true
              } else if (m == 0xDA || m == 0xD9) stop = true // SOS / EOI
              else if (m == 0x01 || (m >= 0xD0 && m <= 0xD8)) i = j + 1
              else if (j + 3 <= p.length) i = j + 1 + rdBe16(p, j + 1)
              else stop = true
            }
          }
        }
        res
      } else if (p.length >= 30 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' &&
        p(3) == 'F' && p(8) == 'W' && p(9) == 'E' && p(10) == 'B' && p(11) == 'P' &&
        p(12) == 'V' && p(13) == 'P' && p(14) == '8' && p(15) == 'X')
        ("webp", rdLe24(p, 24) + 1, rdLe24(p, 27) + 1)
      else ("unknown", 0, 0)
    }

    private def rdLe16(p: Array[Byte], i: Int) = u8(p(i)) | (u8(p(i + 1)) << 8)
    private def rdLe32(p: Array[Byte], i: Int) =
      u8(p(i)) | (u8(p(i + 1)) << 8) | (u8(p(i + 2)) << 16) | (u8(p(i + 3)) << 24)

    /** PCM WAV sniff: RIFF/WAVE magic, then a chunk WALK for `fmt `
      * and `data` (real encoders interleave LIST/INFO/fact chunks —
      * assuming the canonical 44-byte layout would misread them; the
      * walk also survives a truncated final chunk). Returns
      * (sample_rate, channels, bits, data_len); None when not a WAV
      * or no fmt chunk precedes data — a poison file classifies, it
      * never throws. */
    def sniffWav(p: Array[Byte]): Option[(Int, Int, Int, Int)] =
      sniffWavData(p).map { case (rate, ch, bits, _, size) => (rate, ch, bits, size) }

    /** [[sniffWav]] plus the data-chunk PAYLOAD OFFSET — the extra
      * field sample decoding needs ([[decodePcm]]); the declared size
      * is reported as-is (callers that read samples must clamp it to
      * the bytes actually present — a truncated final chunk is legal
      * input under the never-throws contract). */
    def sniffWavData(p: Array[Byte]): Option[(Int, Int, Int, Int, Int)] = {
      if (p.length < 36 || p(0) != 'R' || p(1) != 'I' || p(2) != 'F' ||
        p(3) != 'F' || p(8) != 'W' || p(9) != 'A' || p(10) != 'V' || p(11) != 'E')
        return None
      // the cursor advances by attacker-controlled chunk sizes: walk in
      // Long so a size near Int.MaxValue cannot wrap negative and index
      // out of bounds (the never-throws contract)
      var i = 12L
      var fmt: Option[(Int, Int, Int)] = None
      while (i + 8 <= p.length) {
        val ii = i.toInt
        val size = rdLe32(p, ii + 4)
        if (size < 0) return None // corrupt size — bail, don't loop
        if (p(ii) == 'f' && p(ii + 1) == 'm' && p(ii + 2) == 't' && p(ii + 3) == ' ') {
          // a fmt chunk declaring < 16 bytes cannot hold the PCM
          // format fields — reading fixed offsets anyway would parse
          // bytes of the FOLLOWING chunk as format fields
          if (size < 16) return None
          if (i + 8 + 16 > p.length) return None
          fmt = Some((rdLe32(p, ii + 12), rdLe16(p, ii + 10), rdLe16(p, ii + 22)))
        } else if (p(ii) == 'd' && p(ii + 1) == 'a' && p(ii + 2) == 't' && p(ii + 3) == 'a') {
          return fmt.map { case (rate, ch, bits) => (rate, ch, bits, ii + 8, size) }
        }
        // chunks are word-aligned: odd sizes carry a pad byte
        i += 8L + size.toLong + (size % 2)
      }
      None
    }

    def decodeAudio(docId: Long, payload: Array[Byte]): AudioMeta =
      sniffWav(payload) match {
        case Some((rate, ch, bits, dataLen)) =>
          val blockAlign = math.max(1, ch * bits / 8)
          val nSamples = dataLen.toLong / blockAlign
          AudioMeta(docId, payload.length, rate, ch, bits, nSamples,
            if (rate > 0) nSamples * 1000L / rate else 0L)
        case None => AudioMeta(docId, payload.length, 0, 0, 0, 0L, 0L)
      }

    /** REAL 16-bit PCM sample decode: walk the RIFF chunks to the data
      * payload, read each little-endian signed sample, and fold the
      * stream into integer statistics — peak |s|, Σ|s|, sign-change
      * count over the interleaved stream, and a position-weighted
      * checksum Σ s·(1 + k mod 97). Integer stats (not float RMS) so
      * the oracle can recompute them EXACTLY from the generating
      * formula — a green row proves header walk + sample decode, with
      * no rounding escape hatch. Declared data size is clamped to the
      * bytes present and to whole frames (truncated final chunk /
      * partial frame = legal poison input); non-PCM-16 or non-WAV
      * payloads classify as the zero row rather than throwing. */
    def decodePcm(docId: Long, payload: Array[Byte]): PcmStats =
      sniffWavData(payload) match {
        case Some((rate, ch, bits, off, size)) if bits == 16 && ch > 0 =>
          val frameBytes = ch * 2
          val avail = math.max(0, math.min(size, payload.length - off))
          val n = avail / frameBytes * ch // whole frames only
          var k = 0
          var peak = 0L; var sumAbs = 0L; var crossings = 0L; var checksum = 0L
          var prevNonNeg = true
          while (k < n) {
            val i = off + 2 * k
            val s = (u8(payload(i)) | (payload(i + 1).toInt << 8)).toShort.toLong
            val a = math.abs(s)
            if (a > peak) peak = a
            sumAbs += a
            val nonNeg = s >= 0
            if (k > 0 && nonNeg != prevNonNeg) crossings += 1
            prevNonNeg = nonNeg
            checksum += s * (1L + k % 97)
            k += 1
          }
          PcmStats(docId, rate.toLong, ch.toLong, n.toLong, peak, sumAbs,
            crossings, checksum)
        case _ => PcmStats(docId, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
      }

    def decode(docId: Long, payload: Array[Byte]): MediaMeta = {
      val (format, w, h) = sniff(payload)
      MediaMeta(doc_id = docId, n_bytes = payload.length, width = w,
        height = h, format = format,
        // a recognized still image is one frame; video frame counts
        // come from the MP4 stts walk in decodeVideo
        n_frames = if (format == "unknown") 0 else 1)
    }

    /** MP4 sniff: `ftyp` magic, then a recursive big-endian box walk
      * (the ISO-BMFF twin of the WAV RIFF walk) through
      * `moov/trak/mdia/minf/stbl` for `mvhd` (timescale, duration),
      * `tkhd` (16.16 fixed-point canvas — read from the box END so
      * version 0 and 1 both land on the same fields) and `stts`
      * (frame count = Σ sample_count over the time-to-sample runs).
      * Cursors are Long so attacker-controlled sizes cannot wrap
      * negative; size-1 (64-bit largesize) and size-0 (to end of
      * enclosing box) follow the spec; any inconsistent size bails
      * out of that level. A poison payload classifies as None — the
      * never-throws contract shared with [[sniffWav]]. */
    def sniffMp4(p: Array[Byte]): Option[(Int, Int, Long, Int, Long)] = {
      if (p.length < 12 || p(4) != 'f' || p(5) != 't' || p(6) != 'y' || p(7) != 'p')
        return None
      var w = 0; var h = 0
      var nFrames = -1L; var timescale = 0; var duration = -1L
      def rdBe32L(i: Long): Long = rdBe32(p, i.toInt).toLong & 0xFFFFFFFFL
      def walk(start: Long, end: Long, depth: Int): Unit = {
        if (depth > 8) return // malicious nesting — bound the recursion
        var i = start
        while (i + 8 <= end) {
          var size = rdBe32L(i)
          var hdr = 8L
          if (size == 1) { // 64-bit largesize follows the type
            if (i + 16 > end) return
            size = (rdBe32L(i + 8) << 32) | rdBe32L(i + 12)
            hdr = 16L
          } else if (size == 0) size = end - i // "extends to end"
          if (size < hdr || size > end - i) return // corrupt — bail
          val t0 = i + 4
          val tpe = new String(p, t0.toInt, 4, "ISO-8859-1")
          val cs = i + hdr
          val ce = i + size
          tpe match {
            case "moov" | "trak" | "mdia" | "minf" | "stbl" =>
              walk(cs, ce, depth + 1)
            case "mvhd" if ce - cs >= 20 =>
              val v = u8(p(cs.toInt))
              if (v == 1 && ce - cs >= 32) {
                // version 1: 64-bit create/modify times shift the
                // timescale to +20 and widen duration to 64 bits
                timescale = rdBe32(p, cs.toInt + 20)
                duration = (rdBe32L(cs + 24) << 32) | rdBe32L(cs + 28)
              } else {
                timescale = rdBe32(p, cs.toInt + 12)
                duration = rdBe32L(cs + 16)
              }
            case "tkhd" if w == 0 && ce - cs >= 80 =>
              w = (rdBe32L(ce - 8) >>> 16).toInt
              h = (rdBe32L(ce - 4) >>> 16).toInt
            case "stts" if nFrames < 0 && ce - cs >= 8 =>
              val n = rdBe32(p, cs.toInt + 4)
              if (n >= 0 && 8L + n.toLong * 8 <= ce - cs) {
                var s = 0L; var k = 0
                while (k < n) { s += rdBe32L(cs + 8 + k * 8); k += 1 }
                nFrames = s
              }
            case _ => () // ftyp, free, mdat, unknown: skip by size
          }
          i += size
        }
      }
      walk(0L, p.length.toLong, 0)
      if (timescale > 0 && nFrames >= 0) Some((w, h, nFrames, timescale, duration))
      else None
    }

    def decodeVideo(docId: Long, payload: Array[Byte]): VideoMeta =
      sniffMp4(payload) match {
        case Some((w, h, nf, ts, dur)) =>
          VideoMeta(docId, payload.length, w, h, nf, ts,
            if (ts > 0 && dur >= 0) dur * 1000L / ts else 0L)
        case None => VideoMeta(docId, payload.length, 0, 0, 0L, 0, 0L)
      }

    /** Deterministic payload synthesis for the media-free corpus:
      * header dims derive from the text length (64 + len % 512 /
      * 64 + 7·len % 512 — 16-bit-safe for every format above), format
      * round-robins on doc_id. The oracle recomputes the same values
      * from `length(text)`; the Spark side must round-trip them
      * through the actual header bytes. */
    def synth(docId: Long, text: Array[Byte]): Array[Byte] = {
      val n = text.length
      val w = 64 + (n % 512)
      val h = 64 + ((n * 7) % 512)
      val header = (docId % 3) match {
        case 0 => jpegHeader(w, h)
        case 1 => pngHeader(w, h)
        case _ => webpHeader(w, h, n)
      }
      header ++ text
    }
  }

  /** Deterministic WAV synthesis for the media-free corpus: sample
    * rate round-robins over the common telephony/speech/CD rates on
    * doc_id, channel count alternates mono/stereo, 16-bit PCM, and
    * the text bytes stand in for the sample data — so the oracle
    * recomputes every field from `doc_id` and `length(text)` while
    * the Spark side must round-trip them through real header bytes. */
  private[ops] def synthWav(docId: Long, text: Array[Byte]): Array[Byte] = {
    val rate = (docId % 3) match {
      case 0 => 8000; case 1 => 16000; case _ => 44100
    }
    val channels = 1 + (docId % 2).toInt
    MediaHeader.wavHeader(rate, channels, 16, text.length) ++ text
  }

  /** Deterministic PCM WAV synthesis with REAL sample data (the audio
    * twin of [[MediaHeader.pngImage]]): rate/channels follow
    * [[synthWav]]'s round-robin, the frame count derives from doc_id,
    * and sample k of the interleaved stream is the 16-bit value
    * `((k·(7 + id mod 13) + 5·id) mod 65536) − 32768` — a
    * deterministic sawtooth family whose statistics the oracle
    * recomputes arithmetically while the Spark side must recover them
    * from little-endian sample bytes behind a RIFF chunk walk. */
  private[ops] def synthPcm(docId: Long): Array[Byte] = {
    val rate = (docId % 3) match {
      case 0 => 8000; case 1 => 16000; case _ => 44100
    }
    val channels = 1 + (docId % 2).toInt
    val frames = 256 + ((docId * 3) % 1024).toInt
    val total = frames * channels
    val data = new Array[Byte](total * 2)
    val step = 7 + docId % 13
    var k = 0
    while (k < total) {
      val s = ((k * step + docId * 5) % 65536 - 32768).toInt
      data(2 * k) = s.toByte
      data(2 * k + 1) = (s >> 8).toByte
      k += 1
    }
    MediaHeader.wavHeader(rate, channels, 16, data.length) ++ data
  }

  /** Documents table → sample-bearing WAV payload column. */
  def withPcmPayload(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(it => it.map(id => (id, synthPcm(id))))
      .toDF("doc_id", "payload")
  }

  /** Partition-batched REAL PCM decode — same typed mapPartitions
    * shape as [[decodeAudioMeta]], but folding the sample stream
    * itself ([[MediaHeader.decodePcm]]) instead of stopping at the
    * format chunk. */
  def decodePcmStats(spark: SparkSession, docs: DataFrame): Dataset[PcmStats] = {
    import spark.implicits._
    withPcmPayload(docs).as[(Long, Array[Byte])].mapPartitions { it =>
      it.map { case (id, payload) => MediaHeader.decodePcm(id, payload) }
    }
  }

  /** Deterministic MP4 synthesis for the media-free corpus: the frame
    * count (always ≥ 2, split into two stts runs with 800/1200-tick
    * deltas), canvas dims and timescale all derive from doc_id/text
    * length — so the oracle recomputes every field arithmetically
    * while the Spark side must round-trip them through real ISO-BMFF
    * container bytes (the green row proves the box walk, not the
    * formula). */
  private[ops] def synthMp4(docId: Long, text: Array[Byte]): Array[Byte] = {
    val n = text.length
    val nf = 2 + ((n * 3) % 240)
    val n1 = nf / 2
    val ts = (docId % 3) match {
      case 0 => 24000; case 1 => 25000; case _ => 30000
    }
    MediaHeader.mp4Header(64 + (n % 512), 64 + ((n * 7) % 512),
      n1, 800, nf - n1, 1200, ts) ++ text
  }

  /** Documents table → MP4 payload column (video twin of
    * [[withPayload]]). */
  def withVideoPayload(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), coalesce(col("text"), lit("")).cast("binary").as("t"))
      .as[(Long, Array[Byte])]
      .map { case (id, t) => (id, synthMp4(id, t)) }
      .toDF("doc_id", "payload")
  }

  /** Partition-batched video decode — same typed mapPartitions shape
    * as [[decodeMeta]], over the MP4 box walk. */
  def decodeVideoMeta(spark: SparkSession, docs: DataFrame): Dataset[VideoMeta] = {
    import spark.implicits._
    withVideoPayload(docs).as[(Long, Array[Byte])].mapPartitions { it =>
      it.map { case (id, payload) => MediaHeader.decodeVideo(id, payload) }
    }
  }

  /** Documents table → WAV payload column (audio twin of
    * [[withPayload]]). */
  def withAudioPayload(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), coalesce(col("text"), lit("")).cast("binary").as("t"))
      .as[(Long, Array[Byte])]
      .map { case (id, t) => (id, synthWav(id, t)) }
      .toDF("doc_id", "payload")
  }

  /** Partition-batched audio decode — same typed mapPartitions shape
    * as [[decodeMeta]], over the WAV chunk walk. */
  def decodeAudioMeta(spark: SparkSession, docs: DataFrame): Dataset[AudioMeta] = {
    import spark.implicits._
    withAudioPayload(docs).as[(Long, Array[Byte])].mapPartitions { it =>
      it.map { case (id, payload) => MediaHeader.decodeAudio(id, payload) }
    }
  }

  /** Documents table → binary payload column: a spec-compliant media
    * header in front of the text bytes (stand-in for real media
    * bytes; the pipeline shape is payload-source-agnostic). */
  def withPayload(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), coalesce(col("text"), lit("")).cast("binary").as("t"))
      .as[(Long, Array[Byte])]
      .map { case (id, t) => (id, MediaHeader.synth(id, t)) }
      .toDF("doc_id", "payload")
  }

  /** Partition-batched decode: one pass, decoder state amortized per
    * partition, output is a typed Dataset with a columnar-friendly
    * schema. This is the `mapInPandas` shape expressed in Scala. */
  def decodeMeta(spark: SparkSession, docs: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    withPayload(docs).as[(Long, Array[Byte])].mapPartitions { it =>
      // per-partition decoder setup would go here (codec init, GPU pin...)
      it.map { case (id, payload) => MediaHeader.decode(id, payload) }
    }
  }

  /** Frame sampling: every `every`-th frame of each decoded payload,
    * with its byte offset — the explode stage a video-curation
    * pipeline feeds to per-frame feature extraction. Pure expressions
    * over the decoded metadata (`sequence` + `explode`), so the frame
    * index set and offsets are oracle-reproducible. */
  def sampleFrames(spark: SparkSession, docs: DataFrame, every: Int): DataFrame = {
    decodeVideoMeta(spark, docs).toDF()
      .where(col("n_frames") > 0) // a poison payload has no frames to sample
      .select(col("doc_id"), col("n_bytes"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(every))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx").cast("bigint").as("frame_idx"),
        // explicit floor: Spark's double->bigint cast truncates while
        // DuckDB's rounds, so the oracle uses FLOOR on both sides
        floor(col("frame_idx").cast("bigint") * col("n_bytes") / col("n_frames"))
          .as("byte_offset"))
  }

  /** One resized media row: original + fitted dimensions, output size. */
  case class Resized(doc_id: Long, width: Long, height: Long,
                     out_w: Long, out_h: Long, out_bytes: Long)

  /** Resize stage stub: fit each decoded payload into a `box`×`box`
    * square preserving aspect ratio (integer floor arithmetic, so the
    * dimensions are oracle-reproducible). A real implementation would
    * transform pixels in the same mapPartitions pass — the Spark-side
    * shape (typed partition pass, columnar output, no driver collect)
    * is the real thing; only the pixel work is stubbed. */
  def resize(spark: SparkSession, docs: DataFrame, box: Int = 224): Dataset[Resized] = {
    import spark.implicits._
    decodeMeta(spark, docs).map { m =>
      val (w, h) = (m.width.toLong, m.height.toLong)
      val (ow, oh) =
        if (w >= h) (box.toLong, math.max(1L, h * box / w))
        else (math.max(1L, w * box / h), box.toLong)
      Resized(m.doc_id, w, h, ow, oh, ow * oh * 3)
    }
  }

  /** Deterministic pixel function for the synthesized PNG corpus —
    * pure nonnegative integer arithmetic of (x, y, doc_id), so an SQL
    * oracle recomputes every channel without decoding anything. */
  private def pxOf(id: Long)(x: Int, y: Int): (Int, Int, Int) = (
    ((x * 7L + y * 11L + id) % 256L).toInt,
    ((x * 13L + y * 3L + 2L * id) % 256L).toInt,
    ((x + y * 17L + 3L * id) % 256L).toInt)

  /** Per-doc synthetic image dims — small (≤ 34) so the SQL oracle's
    * output-pixel unnest stays cheap at any SF. */
  private def dimsOf(id: Long): (Int, Int) =
    ((4 + id % 29).toInt, (4 + (id * 3) % 31).toInt)

  /** Documents table → COMPLETE PNG payload column (deflated IDAT,
    * decodable by any codec) — the image twin of [[withPayload]],
    * carrying real pixels instead of a bare header. */
  def withImagePayload(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val (w, h) = dimsOf(id)
        (id, MediaHeader.pngImage(w, h, pxOf(id)))
      }
    }.toDF("doc_id", "payload")
  }

  /** One pixel-resampled image row: decoded + fitted dims and a
    * position-weighted checksum of the RESAMPLED pixels. */
  case class PixelResized(doc_id: Long, width: Long, height: Long,
                          out_w: Long, out_h: Long, px_checksum: Long)

  /** REAL pixel decode + resize — the de-stubbed form of [[resize]]
    * for PNG payloads: each partition decodes its PNGs with the JDK
    * `javax.imageio` codec (zlib inflate + unfilter — the inverse of
    * [[MediaHeader.pngImage]]'s deflate), fits the raster into a
    * `box`×`box` square (same integer-floor dims as [[resize]]) and
    * resamples by nearest neighbor with pure integer source mapping
    * (`sx = i·w / ow`) — deterministic on any engine, unlike a
    * Graphics2D filter. The output row carries a position-weighted
    * checksum Σ (r + 2g + 3b)·(1 + i + j·ow) over the resampled
    * pixels: the oracle recomputes it ARITHMETICALLY from the pixel
    * function, so a green row proves the entire encode → decode →
    * resample chain, not just container fields. Decoder state is
    * per-partition, output is columnar, nothing touches the driver —
    * the same mapPartitions discipline as [[decodeMeta]]; an
    * undecodable payload classifies as (0, 0, 0, 0, 0) rather than
    * throwing (the poison-file contract). */
  def resizePixels(spark: SparkSession, docs: DataFrame,
                   box: Int = 16): Dataset[PixelResized] = {
    import spark.implicits._
    withImagePayload(docs).as[(Long, Array[Byte])].mapPartitions { it =>
      it.map { case (id, payload) =>
        val img =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
          catch { case _: java.io.IOException => null }
        if (img == null) PixelResized(id, 0L, 0L, 0L, 0L, 0L)
        else {
          val w = img.getWidth; val h = img.getHeight
          val (ow, oh) =
            if (w >= h) (box, math.max(1, h * box / w))
            else (math.max(1, w * box / h), box)
          var sum = 0L
          var j = 0
          while (j < oh) {
            val sy = j * h / oh
            var i = 0
            while (i < ow) {
              val rgb = img.getRGB(i * w / ow, sy)
              sum += (((rgb >> 16) & 0xFF) + 2L * ((rgb >> 8) & 0xFF) +
                3L * (rgb & 0xFF)) * (1L + i + j.toLong * ow)
              i += 1
            }
            j += 1
          }
          PixelResized(id, w.toLong, h.toLong, ow.toLong, oh.toLong, sum)
        }
      }
    }
  }

  /** Metadata extraction + aggregate by format — the downstream query
    * a curation pipeline runs over decoded metadata. */
  def metaSummary(spark: SparkSession, docs: DataFrame): DataFrame = {
    decodeMeta(spark, docs).toDF()
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bytes")).as("total_bytes"),
        max(col("width")).as("max_width"),
        min(col("height")).as("min_height"),
        sum(col("n_frames")).as("total_frames"))
      .orderBy(col("format"))
  }
}
