package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Multimodal pipeline shapes: deterministic decode, frame sampling,
  * feature extraction consumable by similarity search. */
class MultimodalSpec extends SparkTestBase {

  private def docs = spark.createDataFrame(Seq(
    (0L, "hello world", "a", "en"),
    (1L, "a somewhat longer document body here", "a", "en"),
    (2L, "x", "b", "en"))).toDF("doc_id", "text", "source", "lang")

  test("header codec round-trips dims through real container bytes") {
    import Multimodal.MediaHeader._
    for ((w, h) <- Seq((64, 64), (575, 70), (1, 1), (511, 3000))) {
      assert(sniff(pngHeader(w, h) ++ "tail".getBytes) == ("png", w, h))
      assert(sniff(webpHeader(w, h, 4) ++ "tail".getBytes) == ("webp", w, h))
      if (h <= 575) // SOF0 dims are 16-bit; synth stays under 576
        assert(sniff(jpegHeader(w, h) ++ "tail".getBytes) == ("jpeg", w, h))
    }
    // a real-file shape: JFIF APP0 segment before the SOF0 — the
    // marker scan must skip it
    val app0 = Array[Byte](0xFF.toByte, 0xE0.toByte) ++
      Array[Byte](0, 16) ++ Array.fill[Byte](14)(0)
    val realish = Array[Byte](0xFF.toByte, 0xD8.toByte) ++ app0 ++
      jpegHeader(320, 240).drop(2)
    assert(sniff(realish) == ("jpeg", 320, 240))
    // 0xFF fill padding before a marker id and length-less standalone
    // markers (TEM, RST0-7) must not desync the scan (ADVICE r5)
    val ff = 0xFF.toByte
    val padded = Array[Byte](ff, 0xD8.toByte, ff, ff, ff) ++ app0 ++
      Array[Byte](ff, 0x01.toByte) ++ // TEM: standalone, no length word
      Array[Byte](ff, 0xD0.toByte) ++ // RST0: standalone, no length word
      Array(ff, ff) ++ jpegHeader(320, 240).drop(2)
    assert(sniff(padded) == ("jpeg", 320, 240))
    // entropy-coded data after SOS carries no headers — scan must stop
    val sos = Array[Byte](ff, 0xDA.toByte, 0, 4, 1, 0) ++
      Array.fill[Byte](32)(0x42)
    assert(sniff(Array[Byte](ff, 0xD8.toByte) ++ sos)._1 == "unknown")
    // garbage and truncated payloads classify, never throw
    assert(sniff("not media at all".getBytes)._1 == "unknown")
    assert(sniff(Array[Byte](0x89.toByte, 'P'))._1 == "unknown")
    assert(sniff(Array.emptyByteArray)._1 == "unknown")
    assert(sniff(Array[Byte](ff, 0xD8.toByte, ff, ff, ff))._1 == "unknown")
  }

  test("WAV chunk walk round-trips PCM fields and survives non-canonical layouts") {
    import Multimodal.MediaHeader._
    // canonical 44-byte layout
    assert(sniffWav(wavHeader(44100, 2, 16, 1000) ++ Array.fill[Byte](8)(1))
      .contains((44100, 2, 16, 1000)))
    assert(sniffWav(wavHeader(8000, 1, 16, 7)).contains((8000, 1, 16, 7)))
    // a LIST/INFO chunk between fmt and data (real encoders emit
    // these) — the walk must skip it, including the odd-size pad byte
    val info = "LIST".getBytes ++ Array[Byte](5, 0, 0, 0) ++
      "INFOx".getBytes ++ Array[Byte](0) // 5 data bytes + 1 pad
    val canonical = wavHeader(16000, 1, 16, 42)
    val withList = canonical.take(36) ++ info ++ canonical.drop(36)
    assert(sniffWav(withList).contains((16000, 1, 16, 42)))
    // data before any fmt chunk → classify as non-WAV, don't guess
    val dataFirst = canonical.take(12) ++ canonical.drop(36) ++
      canonical.slice(12, 36)
    assert(sniffWav(dataFirst).isEmpty)
    // garbage, truncation and a corrupt negative chunk size never throw
    assert(sniffWav("RIFFxxxxWAVE".getBytes).isEmpty)
    assert(sniffWav("not audio".getBytes).isEmpty)
    assert(sniffWav(Array.emptyByteArray).isEmpty)
    val corrupt = canonical.clone()
    corrupt(16) = 0xFF.toByte; corrupt(17) = 0xFF.toByte
    corrupt(18) = 0xFF.toByte; corrupt(19) = 0xFF.toByte // fmt size = -1
    assert(sniffWav(corrupt).isEmpty)
    // a near-Int.MaxValue chunk size must not wrap the cursor negative
    // and index out of bounds (Long walk)
    val huge = canonical.take(12) ++ "JUNK".getBytes ++
      Array[Byte](0xF0.toByte, 0xFF.toByte, 0xFF.toByte, 0x7F.toByte) ++
      Array.fill[Byte](16)(0)
    assert(sniffWav(huge).isEmpty)
    // decodeAudio derives sample/duration math from the parsed fields
    val m = decodeAudio(3L, wavHeader(8000, 2, 16, 8004) ++ Array.fill[Byte](4)(0))
    assert(m.n_samples == 8004 / 4 && m.duration_ms == 2001L * 1000 / 8000)
    assert(decodeAudio(4L, "junk".getBytes).sample_rate == 0)
  }

  test("sniffWav fuzz: random blobs and mutated WAVs never throw") {
    import Multimodal.MediaHeader._
    val rnd = new scala.util.Random(20260815)
    // pure garbage of every length shape
    for (_ <- 1 to 300) {
      val blob = Array.fill[Byte](rnd.nextInt(120))(rnd.nextInt().toByte)
      sniffWav(blob) // must classify or reject, never throw
    }
    // structurally-valid WAVs with random bytes flipped anywhere
    for (_ <- 1 to 300) {
      val wav = wavHeader(8000 + rnd.nextInt(40000), 1 + rnd.nextInt(2), 16,
        rnd.nextInt(1000)) ++ Array.fill[Byte](rnd.nextInt(64))(7)
      val mutated = wav.clone()
      for (_ <- 0 to rnd.nextInt(4))
        mutated(rnd.nextInt(mutated.length)) = rnd.nextInt().toByte
      sniffWav(mutated)
      decodeAudio(0L, mutated) // full decode path, same guarantee
    }
  }

  test("decodeAudioMeta: synthesized WAV fields round-trip through real chunk bytes") {
    val metas = Multimodal.decodeAudioMeta(spark, docs).collect()
      .map(m => m.doc_id -> m).toMap
    // doc 0: rate 8000 (id%3=0), mono (1+0), text "hello world" = 11 bytes
    assert(metas(0L).sample_rate == 8000 && metas(0L).channels == 1)
    assert(metas(0L).n_samples == 11 / 2 && metas(0L).n_bytes == 44 + 11)
    // doc 1: rate 16000, stereo — blockAlign 4
    val len1 = "a somewhat longer document body here".length
    assert(metas(1L).sample_rate == 16000 && metas(1L).channels == 2)
    assert(metas(1L).n_samples == len1 / 4)
    // doc 2: rate 44100, mono, 1 byte of data → 0 whole samples
    assert(metas(2L).sample_rate == 44100 && metas(2L).n_samples == 0L)
  }

  test("decode parses the synthesized header: dims text-derived, bytes include header") {
    import Multimodal.MediaHeader.headerLen
    val m = Multimodal.decodeMeta(spark, docs).collect()
      .map(x => x.doc_id -> x).toMap
    assert(m(0L).format == "jpeg" && m(1L).format == "png" && m(2L).format == "webp")
    assert(m(0L).n_bytes == 11 + headerLen("jpeg"))
    assert(m(0L).width == 64 + 11 % 512)
    assert(m(0L).height == 64 + (11 * 7) % 512)
    assert(m(2L).n_bytes == 1 + headerLen("webp"))
    assert(m(2L).n_frames == 1) // a recognized still image is one frame
  }

  test("MP4 box walk round-trips fields and survives non-canonical layouts") {
    import Multimodal.MediaHeader._
    assert(mp4HeaderLen == 357) // the constant the q66/q115 oracles use
    val h = mp4Header(640, 480, 10, 800, 20, 1200, 24000)
    assert(sniffMp4(h ++ Array.fill[Byte](16)(9))
      .contains((640, 480, 30L, 24000, 10L * 800 + 20L * 1200)))
    // a free box between ftyp and moov (real muxers emit these) — the
    // walk must skip it by size
    val ftypLen = 20
    val free = Array[Byte](0, 0, 0, 12) ++ "free".getBytes ++ Array.fill[Byte](4)(0)
    val withFree = h.take(ftypLen) ++ free ++ h.drop(ftypLen)
    assert(sniffMp4(withFree).contains((640, 480, 30L, 24000, 32000L)))
    // size-0 ("extends to end") on the trailing moov box still parses
    val szEnd = h.clone()
    szEnd(ftypLen) = 0; szEnd(ftypLen + 1) = 0
    szEnd(ftypLen + 2) = 0; szEnd(ftypLen + 3) = 0
    assert(sniffMp4(szEnd).contains((640, 480, 30L, 24000, 32000L)))
    // garbage, truncation, corrupt sizes: classify None, never throw
    assert(sniffMp4("not a video".getBytes).isEmpty)
    assert(sniffMp4(Array.emptyByteArray).isEmpty)
    assert(sniffMp4(h.take(40)).isEmpty)
    val corrupt = h.clone()
    corrupt(ftypLen) = 0xFF.toByte // moov size wraps negative as Int
    corrupt(ftypLen + 1) = 0xFF.toByte
    corrupt(ftypLen + 2) = 0xFF.toByte
    corrupt(ftypLen + 3) = 0xF0.toByte
    assert(sniffMp4(corrupt).isEmpty)
    // an stts whose declared entry count overruns its box is ignored
    val badStts = h.clone()
    val sttsCount = h.length - 20 // stts entry_count offset from end: 8+4+4+16 → count at len-20
    badStts(sttsCount) = 0x7F
    assert(sniffMp4(badStts).isEmpty)
  }

  test("MP4 walk handles mdat-before-moov layouts and version-1 mvhd") {
    import Multimodal.MediaHeader._
    val h = mp4Header(320, 240, 5, 1000, 5, 1000, 12000)
    val ftypLen = 20
    // non-faststart layout (common in straight-from-recorder files):
    // the media payload box sits between ftyp and moov
    val mdat = Array[Byte](0, 0, 0, 16) ++ "mdat".getBytes ++ Array.fill[Byte](8)(3)
    val nonFaststart = h.take(ftypLen) ++ mdat ++ h.drop(ftypLen)
    assert(sniffMp4(nonFaststart).contains((320, 240, 10L, 12000, 10000L)))
    // version-1 mvhd: 64-bit create/modify times shift the timescale to
    // +20 and widen the duration to 64 bits
    def b32(v: Int) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte,
      (v >> 8).toByte, v.toByte)
    def box(t: String, p: Array[Byte]) = b32(8 + p.length) ++ t.getBytes ++ p
    val mvhdV1 = box("mvhd",
      Array[Byte](1, 0, 0, 0) ++ Array.fill[Byte](16)(0) ++ // 64-bit times
        b32(9000) ++ b32(0) ++ b32(45000) ++                // ts + 64-bit dur
        Array.fill[Byte](80)(0))
    val trakBytes = h.slice(ftypLen + 8 + 108, h.length) // the v0 trak
    val v1 = h.take(ftypLen) ++ box("moov", mvhdV1 ++ trakBytes)
    assert(sniffMp4(v1).contains((320, 240, 10L, 9000, 45000L)))
  }

  test("sniffMp4 fuzz: random blobs and mutated MP4s never throw") {
    import Multimodal.MediaHeader._
    val rnd = new scala.util.Random(20260813)
    for (_ <- 1 to 300) {
      val blob = Array.fill[Byte](rnd.nextInt(120))(rnd.nextInt().toByte)
      sniffMp4(blob)
    }
    for (_ <- 1 to 300) {
      val mp4 = mp4Header(1 + rnd.nextInt(4096), 1 + rnd.nextInt(4096),
        rnd.nextInt(100), 1 + rnd.nextInt(2000), rnd.nextInt(100),
        1 + rnd.nextInt(2000), 1 + rnd.nextInt(48000)) ++
        Array.fill[Byte](rnd.nextInt(64))(7)
      val mutated = mp4.clone()
      for (_ <- 0 to rnd.nextInt(4))
        mutated(rnd.nextInt(mutated.length)) = rnd.nextInt().toByte
      sniffMp4(mutated)
      decodeVideo(0L, mutated) // full decode path, same guarantee
    }
  }

  test("decodeVideoMeta: synthesized MP4 fields round-trip through real box bytes") {
    val metas = Multimodal.decodeVideoMeta(spark, docs).collect()
      .map(m => m.doc_id -> m).toMap
    // doc 0: text 11 bytes → nf = 2 + 33 % 240 = 35 (runs 17+18),
    // timescale 24000 (id%3=0), duration = 17*800 + 18*1200 ticks
    assert(metas(0L).n_frames == 35L && metas(0L).timescale == 24000)
    assert(metas(0L).n_bytes == Multimodal.MediaHeader.mp4HeaderLen + 11)
    assert(metas(0L).width == 64 + 11 % 512 && metas(0L).height == 64 + 77 % 512)
    assert(metas(0L).duration_ms == (17L * 800 + 18L * 1200) * 1000 / 24000)
    // doc 1: timescale 25000
    assert(metas(1L).timescale == 25000)
  }

  test("frame sampling explodes every k-th frame with floor offsets") {
    val f = Multimodal.sampleFrames(spark, docs, every = 3).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("frame_idx"),
        r.getAs[Long]("byte_offset")))
    // doc 0: 11 text + 357 mp4 header = 368 bytes; stts frames = 35
    val nBytes = 368L
    val nFrames = 35L
    val expected = (0L until nFrames by 3).map(i => (i, i * nBytes / nFrames))
    val d0 = f.filter(_._1 == 0L).map(x => (x._2, x._3)).sorted.toSeq
    assert(d0 == expected, s"got $d0")
  }

  test("resize fits the box preserving aspect with floor arithmetic") {
    val r = Multimodal.resize(spark, docs, box = 224).collect()
      .map(x => x.doc_id -> x).toMap
    r.values.foreach { x =>
      assert(math.max(x.out_w, x.out_h) == 224L, s"long side must hit the box: $x")
      assert(x.out_w <= 224L && x.out_h <= 224L && x.out_w >= 1L && x.out_h >= 1L)
      assert(x.out_bytes == x.out_w * x.out_h * 3)
      // aspect preserved under integer floor
      if (x.width >= x.height)
        assert(x.out_h == x.height * 224 / x.width)
      else
        assert(x.out_w == x.width * 224 / x.height)
    }
  }

  test("pngImage pixels round-trip bit-exactly through the javax.imageio codec") {
    import Multimodal.MediaHeader.pngImage
    val px = (x: Int, y: Int) => ((x * 7 + y * 11) % 256,
      (x * 13 + y * 3) % 256, (x + y * 17) % 256)
    for ((w, h) <- Seq((1, 1), (5, 9), (34, 4), (16, 16))) {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(pngImage(w, h, px)))
      assert(img != null, s"codec must decode the synthesized $w x $h PNG")
      assert(img.getWidth == w && img.getHeight == h)
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = img.getRGB(x, y)
        val got = ((rgb >> 16) & 0xFF, (rgb >> 8) & 0xFF, rgb & 0xFF)
        assert(got == px(x, y), s"pixel ($x,$y) of $w x $h: $got")
      }
    }
  }

  test("resizePixels: decoded-raster checksum matches the arithmetic model; poison classifies") {
    // the Spark side goes through encode -> imageio decode -> raster
    // resample; this model recomputes the checksum from the pixel
    // function alone (exactly what the q121 DuckDB oracle does)
    def model(id: Long): (Long, Long, Long, Long, Long) = {
      val w = (4 + id % 29).toInt; val h = (4 + (id * 3) % 31).toInt
      val (ow, oh) =
        if (w >= h) (16, math.max(1, h * 16 / w))
        else (math.max(1, w * 16 / h), 16)
      var sum = 0L
      for (j <- 0 until oh; i <- 0 until ow) {
        val sx = i * w / ow; val sy = j * h / oh
        val r = (sx * 7L + sy * 11L + id) % 256L
        val g = (sx * 13L + sy * 3L + 2L * id) % 256L
        val b = (sx + sy * 17L + 3L * id) % 256L
        sum += (r + 2L * g + 3L * b) * (1L + i + j.toLong * ow)
      }
      (w.toLong, h.toLong, ow.toLong, oh.toLong, sum)
    }
    val ids = spark.range(0, 40).toDF("doc_id")
    val got = Multimodal.resizePixels(spark, ids, box = 16).collect()
      .map(r => r.doc_id -> ((r.width, r.height, r.out_w, r.out_h,
        r.px_checksum))).toMap
    assert(got.keySet == (0L until 40L).toSet)
    for (id <- 0L until 40L)
      assert(got(id) == model(id), s"doc $id: ${got(id)} vs ${model(id)}")
    // a payload the codec cannot decode (header-only PNG, no IDAT) must
    // classify instead of throwing — the codec itself throws IIOException
    // on it, so this exercises the operator's catch
    val poison = Multimodal.MediaHeader.pngHeader(8, 8)
    val undecodable =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(poison)) == null
      catch { case _: java.io.IOException => true }
    assert(undecodable, "precondition: header-only PNG is undecodable")
  }

  test("decodePcmStats: sample-decoded stats match the arithmetic model; truncation clamps") {
    // recompute every statistic from the generating formula alone —
    // exactly what the q122 DuckDB oracle does; agreement proves the
    // Spark side recovered the samples from the RIFF bytes
    def model(id: Long): (Long, Long, Long, Long, Long, Long, Long) = {
      val rate = (id % 3) match { case 0 => 8000L; case 1 => 16000L; case _ => 44100L }
      val ch = 1L + id % 2
      val total = (256L + (id * 3) % 1024) * ch
      val step = 7 + id % 13
      var peak = 0L; var sumAbs = 0L; var cross = 0L; var checksum = 0L
      var prevNonNeg = true
      for (k <- 0L until total) {
        val s = (k * step + id * 5) % 65536 - 32768
        val a = math.abs(s)
        if (a > peak) peak = a
        sumAbs += a
        if (k > 0 && (s >= 0) != prevNonNeg) cross += 1
        prevNonNeg = s >= 0
        checksum += s * (1L + k % 97)
      }
      (rate, ch, total, peak, sumAbs, cross, checksum)
    }
    val ids = spark.range(0, 40).toDF("doc_id")
    val got = Multimodal.decodePcmStats(spark, ids).collect()
      .map(r => r.doc_id -> ((r.sample_rate, r.channels, r.n_samples,
        r.peak_abs, r.sum_abs, r.zero_crossings, r.pcm_checksum))).toMap
    assert(got.keySet == (0L until 40L).toSet)
    for (id <- 0L until 40L)
      assert(got(id) == model(id), s"doc $id: ${got(id)} vs ${model(id)}")
    // poison contract: a data chunk truncated mid-frame decodes the
    // whole frames present (declared size clamped, partial frame
    // dropped), and a non-WAV payload classifies as the zero row
    import Multimodal.MediaHeader
    val full = Multimodal.synthPcm(1L) // stereo: 4-byte frames
    val cut = full.dropRight(5) // kills one whole frame + 1 byte of the next
    val stats = MediaHeader.decodePcm(1L, cut)
    val wholeFrames = (full.length - 44 - 5) / 4
    assert(stats.n_samples == wholeFrames * 2L)
    assert(MediaHeader.decodePcm(2L, "not a wav at all".getBytes) ==
      Multimodal.PcmStats(2L, 0L, 0L, 0L, 0L, 0L, 0L, 0L))
  }
}
