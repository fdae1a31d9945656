package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.{ByteBuffer, ByteOrder}

/** Real-decode verification for the multimodal seam: synthetic BMP/WAV
  * payloads with independently-computed expected stats, exact-value
  * asserts (no tolerance — header math and integer pixel/PCM sums are
  * deterministic), corrupt-payload fallback, and JVM-vs-SQL sniffer
  * agreement. */
class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import ext.Multimodal

  /** Uncompressed 24-bpp BMP: pix(x, y) = (r, g, b) in IMAGE coords
    * (y = 0 is the top row); rows are stored bottom-up per the spec. */
  def bmp24(width: Int, height: Int,
      pix: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val rowSize = ((24 * width + 31) / 32) * 4
    val dataSize = rowSize * height
    val buf = ByteBuffer.allocate(54 + dataSize)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
    buf.putInt(54 + dataSize).putInt(0).putInt(54)
    buf.putInt(40).putInt(width).putInt(height)
    buf.putShort(1).putShort(24)
    buf.putInt(0).putInt(dataSize)
    buf.putInt(2835).putInt(2835).putInt(0).putInt(0)
    for (row <- 0 until height) {
      val y = height - 1 - row // stored bottom-up
      for (x <- 0 until width) {
        val (r, g, b) = pix(x, y)
        buf.put(b.toByte).put(g.toByte).put(r.toByte)
      }
      for (_ <- 0 until rowSize - width * 3) buf.put(0.toByte)
    }
    buf.array()
  }

  /** Canonical 44-byte-header PCM-16 WAV. */
  def wav16(sampleRate: Int, channels: Int,
      samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = ByteBuffer.allocate(44 + dataLen)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
    buf.put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
    buf.putShort(1).putShort(channels.toShort)
    buf.putInt(sampleRate).putInt(sampleRate * channels * 2)
    buf.putShort((channels * 2).toShort).putShort(16)
    buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(buf.putShort)
    buf.array()
  }

  test("BMP decode: exact header fields, pixel mean, histogram, thumbnail") {
    // 4x4, pixel (x, y) = (r = 10x, g = 10y, b = 100)
    val payload = bmp24(4, 4, (x, y) => (10 * x, 10 * y, 100))
    val f = Multimodal.decode(7L, payload)
    assert(f.format == "bmp")
    assert(f.width == 4 && f.height == 4 && f.channels == 3)
    assert(f.n_frames == 1 && f.sample_rate == 0)
    // channel-byte mean: Σr = Σg = 4·(0+10+20+30) = 240, Σb = 16·100
    assert(f.mean_signal == (240.0 + 240.0 + 1600.0) / 48.0)
    // pixel-byte histogram: r,g ∈ {0,10} → bin 0 (16 values), {20,30} →
    // bin 1 (16), b = 100 → bin 6 (16)
    val expectedHisto = Array.tabulate(16)(i =>
      if (i == 0 || i == 1 || i == 6) 16L else 0L)
    assert(f.histo16.toSeq == expectedHisto.toSeq)
    // 4x4 thumb over a 4x4 image is the per-pixel integer luma
    val expectedThumb = for (ty <- 0 until 4; tx <- 0 until 4)
      yield ((29 * 100 + 150 * (10 * ty) + 77 * (10 * tx)) >> 8).toByte
    assert(f.thumb.toSeq == expectedThumb)
  }

  test("BMP decode: bottom-up storage flips rows (top-left pixel sampled first)") {
    // top row white, everything else black — thumb row 0 must be bright
    val payload = bmp24(8, 8, (_, y) => if (y == 0) (255, 255, 255) else (0, 0, 0))
    val f = Multimodal.decode(1L, payload)
    val t = f.thumb.map(_ & 0xff)
    assert(t.slice(0, 4).forall(_ == 255), s"thumb row 0: ${t.slice(0, 4).toSeq}")
    assert(t.slice(4, 16).forall(_ == 0), s"thumb rows 1..3: ${t.slice(4, 16).toSeq}")
  }

  test("WAV decode: exact header fields, DC offset, amplitude histogram, envelope") {
    val samples = Array[Short](1000, -1000, 2000, -2000, 32767, -32768)
    val payload = wav16(8000, 2, samples)
    val f = Multimodal.decode(9L, payload)
    assert(f.format == "wav")
    assert(f.channels == 2 && f.sample_rate == 8000)
    assert(f.n_frames == 3 && f.width == 0 && f.height == 0)
    assert(f.mean_signal == -1.0 / 6.0) // Σ samples = −1 over 6 samples
    // bins of (v + 32768) >> 12
    val expectedHisto = new Array[Long](16)
    samples.foreach(v => expectedHisto((v + 32768) >> 12) += 1)
    assert(f.histo16.toSeq == expectedHisto.toSeq)
    // envelope: segment 15 covers only the -32768 sample → 32768>>7 = 256,
    // clamped to 255; segment 0 covers no sample (6 samples / 16 segs) → 0
    assert((f.thumb(15) & 0xff) == 255)
    assert((f.thumb(0) & 0xff) == 0)
  }

  test("corrupt bmp/wav payloads fall back to the labeled stub, never throw") {
    val truncatedBmp = Array[Byte]('B', 'M', 1, 2, 3)
    assert(Multimodal.decode(1L, truncatedBmp).format == "bmp_corrupt")
    // declares 24bpp but the pixel array is missing
    val headerOnly = bmp24(4, 4, (_, _) => (0, 0, 0)).take(54)
    assert(Multimodal.decode(2L, headerOnly).format == "bmp_corrupt")
    val truncatedWav = wav16(8000, 1, Array[Short](1, 2, 3)).take(20)
    assert(Multimodal.decode(3L, truncatedWav).format == "wav_corrupt")
    // non-PCM format tag (0xFFFE = extensible) is not decodable here
    val nonPcm = {
      val w = wav16(8000, 1, Array[Short](1, 2, 3))
      w(20) = 0xFE.toByte; w(21) = 0xFF.toByte; w
    }
    assert(Multimodal.decode(4L, nonPcm).format == "wav_corrupt")
    assert(Multimodal.decode(5L, null).format == "empty")
  }

  test("hostile headers that overflow Int math fall back to the stub") {
    // WAV chunk size near Int.MaxValue: an Int cursor would wrap negative
    // and re-enter the chunk walk out of bounds
    val hostileWav = {
      val buf = ByteBuffer.allocate(32).order(ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(24)
      buf.put("WAVE".getBytes("US-ASCII"))
      buf.put("junk".getBytes("US-ASCII")).putInt(Int.MaxValue - 5)
      buf.putInt(0).putInt(0).putInt(0)
      buf.array()
    }
    assert(Multimodal.decode(1L, hostileWav).format == "wav_corrupt")
    // BMP width that wraps bpp*width: 1e8 px at 24bpp = 2.4e9 > Int.MaxValue
    val hostileBmp = {
      val buf = ByteBuffer.allocate(64).order(ByteOrder.LITTLE_ENDIAN)
      buf.put('B'.toByte).put('M'.toByte)
      buf.putInt(64).putInt(0).putInt(54)
      buf.putInt(40).putInt(100000000).putInt(3)
      buf.putShort(1).putShort(24)
      buf.putInt(0).putInt(0)
      buf.putInt(0).putInt(0).putInt(0).putInt(0)
      buf.array()
    }
    assert(Multimodal.decode(2L, hostileBmp).format == "bmp_corrupt")
    // heightRaw == Int.MinValue survives math.abs as a negative
    val minHeightBmp = {
      val b = bmp24(2, 2, (_, _) => (0, 0, 0))
      val buf = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
      buf.putInt(22, Int.MinValue)
      b
    }
    assert(Multimodal.decode(3L, minHeightBmp).format == "bmp_corrupt")
  }

  test("a data chunk whose declared size overruns the payload is corrupt, not clamped") {
    val whole = wav16(8000, 1, Array[Short](1, 2, 3, 4)) // 44 + 8 bytes
    assert(Multimodal.decode(1L, whole).format == "wav")
    // cut mid-samples: header intact, declared data size 8 > 4 available
    assert(Multimodal.decode(2L, whole.take(48)).format == "wav_corrupt")
  }

  test("AVI raw-DIB decode: exact frame count, dims, fps, pixel mean, flipped thumb") {
    // two 4x4 frames; frame pixels chosen so the per-channel sums are
    // hand-computable: frame 0 all (10, 20, 30), frame 1 all (50, 60, 70)
    val payload = Multimodal.aviOf(4, 4, 40000, Seq(
      (_, _) => (10, 20, 30), (_, _) => (50, 60, 70)))
    val f = Multimodal.decode(30L, payload)
    assert(f.format == "avi")
    assert(f.n_frames == 2 && f.width == 4 && f.height == 4)
    assert(f.channels == 3 && f.sample_rate == 25) // 1e6 / 40000
    // mean over ALL frame pixel bytes: frame 0 mean 20, frame 1 mean 60
    assert(f.mean_signal == 40.0)
    // thumb = FIRST frame's luma, uniform (29*30 + 150*20 + 77*10) >> 8
    val lum = ((29 * 30 + 150 * 20 + 77 * 10) >> 8).toByte
    assert(f.thumb.toSeq == Seq.fill(16)(lum))
  }

  test("AVI bottom-up frames flip like BMP: top image row lands in thumb row 0") {
    val payload = Multimodal.aviOf(8, 8, 40000, Seq(
      (_, y) => if (y == 0) (255, 255, 255) else (0, 0, 0)))
    val t = Multimodal.decode(31L, payload).thumb.map(_ & 0xff)
    assert(t.slice(0, 4).forall(_ == 255) && t.slice(4, 16).forall(_ == 0))
  }

  test("AVI raw-DIB with a negative biHeight reads its frames top-down") {
    val (w, h) = (8, 4)
    def pix(x: Int, y: Int): (Int, Int, Int) = (x * 30, y * 60, 128 + y)
    val bottomUp = Multimodal.aviOf(w, h, 40000, Seq(pix))
    // aviOf stores rows bottom-up; feeding it the vertically flipped
    // image stores pix's rows top-down, which biHeight = -h declares
    val flipped = Multimodal.aviOf(w, h, 40000, Seq((x, y) => pix(x, h - 1 - y)))
    val topDown = flipped.clone()
    val strf = topDown.indices.find(i => i + 4 <= topDown.length &&
      new String(topDown, i, 4, "US-ASCII") == "strf").get
    // BITMAPINFOHEADER.biHeight sits 8 bytes into strf's payload
    ByteBuffer.wrap(topDown).order(ByteOrder.LITTLE_ENDIAN).putInt(strf + 16, -h)
    val want = Multimodal.decode(1L, bottomUp)
    val got = Multimodal.decode(1L, topDown)
    assert(got.format == "avi" && got.channels == 3 &&
      got.width == w && got.height == h)
    assert(got.thumb.toSeq == want.thumb.toSeq)
    assert(got.histo16.toSeq == want.histo16.toSeq)
    assert(got.mean_signal == want.mean_signal)
    // the fixture is not vertically symmetric: read bottom-up, the same
    // stored rows give a different thumbnail
    assert(Multimodal.decode(1L, flipped).thumb.toSeq != want.thumb.toSeq)
  }

  test("AVI codec-compressed stream decodes container metadata, not pixels") {
    val payload = Multimodal.aviOf(320, 240, 33333,
      Seq((_, _) => (0, 0, 0)), compression = 1)
    val f = Multimodal.decode(32L, payload)
    assert(f.format == "avi")
    assert(f.width == 320 && f.height == 240 && f.sample_rate == 30)
    assert(f.channels == 0) // the no-pixel-stats marker
    assert(f.n_frames == 1)
  }

  test("truncated or hostile AVI falls back to the labeled stub") {
    val whole = Multimodal.aviOf(4, 4, 40000, Seq((_, _) => (1, 2, 3)))
    assert(Multimodal.decode(33L, whole.dropRight(5)).format == "avi_corrupt")
    // hostile chunk size: clobber the movi LIST size with 0x7fffffff
    val evil = whole.clone()
    val moviAt = whole.indices.find(i => i + 12 <= whole.length &&
      new String(whole, i, 4, "US-ASCII") == "LIST" &&
      new String(whole, i + 8, 4, "US-ASCII") == "movi").get
    evil(moviAt + 4) = 0xff.toByte; evil(moviAt + 5) = 0xff.toByte
    evil(moviAt + 6) = 0xff.toByte; evil(moviAt + 7) = 0x7f.toByte
    assert(Multimodal.decode(34L, evil).format == "avi_corrupt")
  }

  test("AVI MJPEG decode: per-frame JPEG pixels, fps, first-frame thumb") {
    // DC-only baseline JPEGs with Cb=Cr=128 decode to flat gray at the
    // Y level, so the cross-frame mean is hand-computable: frame 0 all
    // 128, frame 1 all 200 → mean 164
    val payload = Multimodal.aviMjpegOf(8, 8, 40000, Seq(
      Multimodal.jpegOf(8, 8, (_, _) => (128, 128, 128)),
      Multimodal.jpegOf(8, 8, (_, _) => (200, 128, 128))))
    val f = Multimodal.decode(35L, payload)
    assert(f.format == "avi")
    assert(f.n_frames == 2 && f.width == 8 && f.height == 8)
    assert(f.channels == 3 && f.sample_rate == 25)
    assert(f.mean_signal == 164.0)
    // thumb = FIRST frame's luma: uniform 128
    assert(f.thumb.toSeq == Seq.fill(16)(128.toByte))
  }

  test("AVI MJPEG stats equal the standalone JPEG decoder's (cross-decoder parity)") {
    val j = Multimodal.jpegOf(16, 8, (bx, by) => (80 + bx * 40, 128 + by * 20, 100))
    val viaAvi = Multimodal.decode(36L, Multimodal.aviMjpegOf(16, 8, 40000, Seq(j)))
    val direct = Multimodal.decodeJpeg(36L, j).get
    assert(viaAvi.histo16.toSeq == direct.histo16.toSeq)
    assert(viaAvi.mean_signal == direct.mean_signal)
    assert(viaAvi.thumb.toSeq == direct.thumb.toSeq)
    assert(viaAvi.width == direct.width && viaAvi.height == direct.height)
  }

  test("AVI MJPEG with an out-of-profile frame degrades to container metadata") {
    // sound RIFF framing, one good + one truncated JPEG frame: the
    // stream drops to the metadata tier (channels=0 marks no pixel
    // stats), never to avi_corrupt — the container itself is valid
    val payload = Multimodal.aviMjpegOf(8, 8, 33333, Seq(
      Multimodal.jpegOf(8, 8, (_, _) => (128, 128, 128)),
      Multimodal.jpegOf(8, 8, (_, _) => (90, 128, 128)).dropRight(4)))
    val f = Multimodal.decode(37L, payload)
    assert(f.format == "avi")
    assert(f.channels == 0 && f.n_frames == 2)
    assert(f.width == 8 && f.height == 8 && f.sample_rate == 30)
  }

  test("PCM-in-mp4: sowt samples decode with the WAV math (cross-decoder parity)") {
    // the SAME ramp as the WAV fixture, through the mp4 container —
    // every sample-domain field must agree with the WAV decode
    val ramp = Array.tabulate(64)(i => ((i % 16) * 1000 - 8000).toShort)
    val viaMp4 = Multimodal.decode(40L, Multimodal.mp4PcmOf("sowt", 16000, 1, ramp))
    val viaWav = Multimodal.decode(41L, (() => {
      val b = java.nio.ByteBuffer.allocate(44 + 128)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(36 + 128)
      b.put("WAVE".getBytes("US-ASCII"))
      b.put("fmt ".getBytes("US-ASCII")).putInt(16)
      b.putShort(1).putShort(1).putInt(16000).putInt(32000)
      b.putShort(2).putShort(16)
      b.put("data".getBytes("US-ASCII")).putInt(128)
      ramp.foreach(b.putShort)
      b.array()
    })())
    assert(viaMp4.format == "mp4" && viaWav.format == "wav")
    assert(viaMp4.n_frames == viaWav.n_frames)
    assert(viaMp4.channels == viaWav.channels)
    assert(viaMp4.sample_rate == viaWav.sample_rate)
    assert(viaMp4.mean_signal == viaWav.mean_signal)
    assert(viaMp4.histo16.toSeq == viaWav.histo16.toSeq)
    assert(viaMp4.thumb.toSeq == viaWav.thumb.toSeq)
  }

  test("PCM-in-mp4: big-endian twos and 8-bit raw decode; codec audio stays metadata") {
    val twos = Multimodal.decode(42L,
      Multimodal.mp4PcmOf("twos", 8000, 2, Array[Short](1000, -1000, 2000, -2000)))
    assert(twos.channels == 2 && twos.sample_rate == 8000 && twos.n_frames == 2)
    assert(twos.mean_signal == 0.0)
    val raw = Multimodal.decode(43L,
      Multimodal.mp4PcmOf("raw ", 8000, 1, Array[Short](0, 8192, 16384, -8192)))
    // 8-bit quantized: (s >> 8) values 0, 32, 64, -32 -> mean 16
    assert(raw.channels == 1 && raw.mean_signal == 16.0)
    // a non-PCM format fourcc falls through to the metadata tier
    val payload = Multimodal.mp4PcmOf("sowt", 8000, 1, Array[Short](1, 2))
    val idx = payload.indices.find(i => i + 4 <= payload.length &&
      new String(payload, i, 4, "US-ASCII") == "sowt").get
    System.arraycopy("mp4a".getBytes("US-ASCII"), 0, payload, idx, 4)
    val meta = Multimodal.decode(44L, payload)
    assert(meta.format == "mp4" && meta.channels == 0)
    assert(meta.sample_rate == 8000) // mvhd timescale, the metadata tier
  }

  test("hostile PCM tables (stco overrun, stsz overflow) degrade to metadata, never throw") {
    val good = Multimodal.mp4PcmOf("sowt", 8000, 1, Array[Short](1, 2, 3, 4))
    // point the single chunk past the payload end
    val coIdx = good.indices.find(i => i + 4 <= good.length &&
      new String(good, i, 4, "US-ASCII") == "stco").get
    val evil = good.clone()
    evil(coIdx + 12) = 0x7f.toByte // chunk offset high byte -> way out
    val f = Multimodal.decode(45L, evil)
    assert(f.format == "mp4" && f.channels == 0) // metadata tier, alive
  }

  test("JVM sniffer agrees with the SQL sniffer on every fixture payload") {
    import spark.implicits._
    val payloads: Seq[(Long, Array[Byte])] = Seq(
      1L -> bmp24(2, 2, (_, _) => (1, 2, 3)),
      2L -> wav16(8000, 1, Array[Short](0)),
      8L -> Multimodal.aviOf(2, 2, 40000, Seq((_, _) => (0, 0, 0))),
      3L -> Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47, 0x0D, 0x0A),
      4L -> Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte),
      5L -> "not media at all".getBytes("US-ASCII"),
      6L -> Array[Byte](0, 0, 0, 0x18, 0x66, 0x74, 0x79, 0x70), // mp4 ftyp
      7L -> null)
    val df = payloads.toDF("id", "payload")
      .withColumn("sql_sniff", Multimodal.sniffMedia(col("payload")))
    val sqlSide = df.select("id", "sql_sniff").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    payloads.foreach { case (id, p) =>
      assert(Multimodal.sniffBytes(p) == sqlSide(id),
        s"sniffer disagreement on payload $id")
    }
  }

  test("PNG decode: exact header fields, pixel mean, histogram, thumbnail") {
    // pixel (x, y) channel c = (y*2 + x)*30 + (c+1)*10
    val p = Multimodal.pngOf(2, 2, 3, Array(0, 0),
      (x, y, c) => (y * 2 + x) * 30 + (c + 1) * 10)
    val f = Multimodal.decode(42L, p)
    assert(f.format == "png" && f.width == 2 && f.height == 2 &&
      f.channels == 3 && f.n_frames == 1)
    assert(f.mean_signal == 65.0) // 780 / 12 channel bytes
    assert(f.histo16.toSeq ==
      Seq(1L, 2L, 1L, 2L, 1L, 2L, 2L, 1L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L))
    // 4x4 nearest-neighbor Rec.601 luma over the 2x2 grid (RGB order)
    assert(f.thumb.toSeq == Seq[Byte](
      18, 18, 48, 48, 18, 18, 48, 48, 78, 78, 108, 108, 78, 78, 108, 108))
  }

  test("PNG unfilter: all five filter types reconstruct the same image") {
    def pix(x: Int, y: Int, c: Int): Int = (x * 37 + y * 91 + c * 13) % 256
    val plain = Multimodal.decode(1L,
      Multimodal.pngOf(6, 5, 4, Array.fill(5)(0), pix))
    val filtered = Multimodal.decode(1L,
      Multimodal.pngOf(6, 5, 4, Array(0, 1, 2, 3, 4), pix))
    assert(plain.format == "png" && filtered.format == "png")
    assert(filtered.mean_signal == plain.mean_signal)
    assert(filtered.histo16.toSeq == plain.histo16.toSeq)
    assert(filtered.thumb.toSeq == plain.thumb.toSeq)
    assert((filtered.width, filtered.height, filtered.channels) == ((6, 5, 4)))
  }

  test("corrupt or unsupported png falls back to the labeled stub") {
    val good = Multimodal.pngOf(4, 4, 3, Array.fill(4)(0), (x, y, c) => x + y + c)
    assert(Multimodal.decode(1L, good).format == "png")
    // truncated IDAT: inflate runs dry
    assert(Multimodal.decode(1L, good.dropRight(20)).format == "png_corrupt")
    // interlaced (Adam7) is out of profile: IHDR interlace byte = offset 28
    val interlaced = good.clone(); interlaced(28) = 1
    assert(Multimodal.decode(1L, interlaced).format == "png_corrupt")
    // 16-bit depth is out of profile: IHDR bit-depth byte = offset 24
    val deep = good.clone(); deep(24) = 16
    assert(Multimodal.decode(1L, deep).format == "png_corrupt")
    // hostile chunk length near Int.MaxValue must not wrap the cursor
    val hostile = good.clone()
    hostile(8) = 0x7f.toByte; hostile(9) = 0xff.toByte
    hostile(10) = 0xff.toByte; hostile(11) = 0xff.toByte
    assert(Multimodal.decode(1L, hostile).format == "png_corrupt")
  }

  test("PNG via javax.imageio: tRNS adds no band; gray+alpha, 1-px and odd widths under every filter") {
    // features computed straight from the pixel function: channel-byte
    // mean and histogram, 4x4 thumb of the gray band (1-2 channels) or
    // integer Rec.601 luma (3-4 channels)
    def expected(w: Int, h: Int, ch: Int, pix: (Int, Int, Int) => Int) = {
      val bytes = for (y <- 0 until h; x <- 0 until w; c <- 0 until ch)
        yield pix(x, y, c) & 0xff
      val histo = new Array[Long](16)
      bytes.foreach(b => histo(b >> 4) += 1)
      val thumb = for (ty <- 0 until 4; tx <- 0 until 4) yield {
        val (x, y) = (tx * w / 4, ty * h / 4)
        def v(c: Int) = pix(x, y, c) & 0xff
        (if (ch <= 2) v(0) else (77 * v(0) + 150 * v(1) + 29 * v(2)) >> 8).toByte
      }
      (bytes.sum.toDouble / bytes.length, histo.toSeq, thumb)
    }
    def check(p: Array[Byte], w: Int, h: Int, ch: Int,
        pix: (Int, Int, Int) => Int, clue: String): Unit = {
      val f = Multimodal.decode(1L, p)
      assert(f.format == "png" && (f.width, f.height, f.channels) == ((w, h, ch)),
        s"$clue: ${f.format} ${f.width}x${f.height}x${f.channels}")
      assert((f.mean_signal, f.histo16.toSeq, f.thumb.toSeq) ==
        expected(w, h, ch, pix), clue)
    }
    def pix(x: Int, y: Int, c: Int): Int = (x * 53 + y * 97 + c * 71 + 11) % 256
    for (ch <- 1 to 4; (w, h) <- Seq((1, 1), (1, 4), (3, 2), (5, 3), (17, 8));
         filters <- (0 to 4).map(ft => Array.fill(h)(ft)) :+
           Array.tabulate(h)(_ % 5))
      check(Multimodal.pngOf(w, h, ch, filters, pix), w, h, ch, pix,
        s"${w}x${h}x$ch filters ${filters.toSeq}")
    // a tRNS chunk (gray: one 16-bit sample; RGB: three) right after
    // IHDR makes the JDK reader add an alpha band; the decode must keep
    // IHDR's channel count and the same stats
    def withTrns(png: Array[Byte], body: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      crc.update("tRNS".getBytes("US-ASCII")); crc.update(body)
      val chunk = ByteBuffer.allocate(12 + body.length).putInt(body.length)
        .put("tRNS".getBytes("US-ASCII")).put(body)
        .putInt(crc.getValue.toInt).array()
      png.take(33) ++ chunk ++ png.drop(33) // 8 signature + 25 IHDR
    }
    for ((ch, trns) <- Seq(1 -> Array[Byte](0, 64), 3 -> Array[Byte](0, 64, 0, 1, 0, 2))) {
      val plain = Multimodal.pngOf(5, 3, ch, Array(0, 1, 4), pix)
      check(plain, 5, 3, ch, pix, s"plain $ch")
      check(withTrns(plain, trns), 5, 3, ch, pix, s"tRNS $ch")
    }
  }

  test("PNG gate checks the header the JDK reader decodes: IHDR first and only once, one IDAT run") {
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      crc.update(id.getBytes("US-ASCII")); crc.update(body)
      ByteBuffer.allocate(12 + body.length).putInt(body.length)
        .put(id.getBytes("US-ASCII")).put(body)
        .putInt(crc.getValue.toInt).array()
    }
    def ihdr(w: Int, h: Int, colorType: Int): Array[Byte] = chunk("IHDR",
      ByteBuffer.allocate(13).putInt(w).putInt(h)
        .put(Array[Byte](8, colorType.toByte, 0, 0, 0)).array())
    def pix(x: Int, y: Int, c: Int): Int = x * 40 + y * 10 + c
    val rgb = Multimodal.pngOf(4, 4, 3, Array.fill(4)(0), pix)
    val (sig, ihdrRgb) = (rgb.take(8), rgb.slice(8, 33))
    val idatLen = ByteBuffer.wrap(rgb, 33, 4).getInt
    val (idat, iend) = (rgb.slice(33, 45 + idatLen), rgb.drop(45 + idatLen))
    val zdata = rgb.slice(41, 41 + idatLen)
    val text = chunk("tEXt", "k\u0000v".getBytes("US-ASCII"))
    def fmt(p: Array[Byte]) = Multimodal.decode(1L, p).format
    assert(fmt(rgb) == "png")
    // a header over the 64 MiB cap spliced ahead of the real one: the
    // reader would size its image from the first, so the second IHDR
    // must not pass the cap on the first's behalf
    assert(fmt(sig ++ ihdr(4100, 4100, 6) ++ rgb.drop(8)) == "png_corrupt")
    // a later gray IHDR after RGB pixels would report one channel of
    // the R band; the reader ignores it, so the gate rejects it
    val lateGray = sig ++ ihdrRgb ++ idat ++ ihdr(4, 4, 0) ++ iend
    assert(fmt(lateGray) == "png_corrupt")
    // IHDR must be the first chunk
    assert(fmt(sig ++ text ++ ihdrRgb ++ idat ++ iend) == "png_corrupt")
    // the deflate stream split over two consecutive IDATs decodes as
    // one; split by another chunk it is rejected
    val (z1, z2) = zdata.splitAt(zdata.length / 2)
    val split = Multimodal.decode(1L,
      sig ++ ihdrRgb ++ chunk("IDAT", z1) ++ chunk("IDAT", z2) ++ iend)
    val whole = Multimodal.decode(1L, rgb)
    assert((split.format, split.mean_signal, split.histo16.toSeq, split.thumb.toSeq) ==
      (("png", whole.mean_signal, whole.histo16.toSeq, whole.thumb.toSeq)))
    assert(fmt(sig ++ ihdrRgb ++ chunk("IDAT", z1) ++ text ++
      chunk("IDAT", z2) ++ iend) == "png_corrupt")
  }

  test("GIF decode: palette-mapped pixel stats, frame count, LZW clears") {
    val palette = Array.tabulate(16)(i => (i * 16, 255 - i * 16, i * 8))
    def pix(x: Int, y: Int): Int = (x * 3 + y * 5) % 16
    // 8x5 = 40 pixels: the encoder's clear-every-12 path is exercised
    val g = ext.Multimodal.gifOf(8, 5, palette, Seq(pix, (_, _) => 0))
    val f = ext.Multimodal.decode(7L, g)
    assert(f.format == "gif" && f.width == 8 && f.height == 5 &&
      f.channels == 3 && f.n_frames == 2)
    // expected stats computed directly from palette + index function
    val idx = for (y <- 0 until 5; x <- 0 until 8) yield pix(x, y)
    val bytes = idx.flatMap { i =>
      val (r, gg, b) = palette(i); Seq(r, gg, b) }
    assert(f.mean_signal == bytes.sum.toDouble / bytes.length)
    val histo = new Array[Long](16)
    bytes.foreach(b => histo(b >> 4) += 1)
    assert(f.histo16.toSeq == histo.toSeq)
    val thumb = for (ty <- 0 until 4; tx <- 0 until 4) yield {
      val (r, gg, b) = palette(pix(tx * 8 / 4, ty * 5 / 4))
      ((77 * r + 150 * gg + 29 * b) >> 8).toByte
    }
    assert(f.thumb.toSeq == thumb)
  }

  test("GIF LZW: the KwKwK corner case decodes per spec") {
    // minCode=2: clear=4, eoi=5, table grows from 6. Stream
    // [clear, 0, 6] hits code==tableSize immediately: entry 6 must be
    // (prev=0) + firstByte(prev)=0 -> output [0, 0, 0]
    def pack(codes: Seq[(Int, Int)]): Array[Byte] = { // (code, width)
      var acc = 0L; var n = 0
      val out = scala.collection.mutable.ArrayBuffer[Byte]()
      codes.foreach { case (c, w) =>
        acc |= c.toLong << n; n += w
        while (n >= 8) { out += (acc & 0xff).toByte; acc >>= 8; n -= 8 }
      }
      if (n > 0) out += (acc & 0xff).toByte
      out.toArray
    }
    val data = pack(Seq((4, 3), (0, 3), (6, 3), (5, 3)))
    val got = ext.Multimodal.lzwDecode(data, 2, 3, 4)
    assert(got.map(_.toSeq) == Some(Seq[Byte](0, 0, 0)))
    // compound-code chains: [clear,0,1,6,7] -> 0,1,(0,1),(1,0)
    // width bumps to 4 bits after entry 7 is created (table hits 8)
    val data2 = pack(Seq((4, 3), (0, 3), (1, 3), (6, 3), (7, 4), (5, 4)))
    val got2 = ext.Multimodal.lzwDecode(data2, 2, 6, 4)
    assert(got2.map(_.toSeq) == Some(Seq[Byte](0, 1, 0, 1, 1, 0)))
    // a code beyond the table is a protocol violation, not a crash
    val bad = pack(Seq((4, 3), (0, 3), (7, 3), (5, 3)))
    assert(ext.Multimodal.lzwDecode(bad, 2, 3, 4).isEmpty)
  }

  test("corrupt or out-of-profile gif falls back to the labeled stub") {
    val palette = Array.tabulate(16)(i => (i, i, i))
    val good = ext.Multimodal.gifOf(4, 4, palette, Seq((_, _) => 3))
    assert(ext.Multimodal.decode(1L, good).format == "gif")
    assert(ext.Multimodal.decode(1L, good.dropRight(6)).format ==
      "gif_corrupt")
    // interlaced frame: image-descriptor flags at header+GCT+desc offset
    val iflagsOff = 13 + 48 + 9
    val interlaced = good.clone(); interlaced(iflagsOff) = 0x40.toByte
    assert(ext.Multimodal.decode(1L, interlaced).format == "gif_corrupt")
    val localTable = good.clone(); localTable(iflagsOff) = 0x80.toByte
    assert(ext.Multimodal.decode(1L, localTable).format == "gif_corrupt")
  }

  test("JPEG decode: DC-exact baseline blocks, JFIF color convert, DC prediction") {
    def block(bx: Int, by: Int): (Int, Int, Int) =
      (60 + bx * 50 + by * 10, 100 + bx * 20, 140 + by * 30)
    val j = ext.Multimodal.jpegOf(16, 16, block)
    val f = ext.Multimodal.decode(9L, j)
    assert(f.format == "jpeg" && f.width == 16 && f.height == 16 &&
      f.channels == 3 && f.n_frames == 1)
    // expected RGB: the JFIF integer inverse, restated independently
    def clamp(v: Int) = math.max(0, math.min(255, v))
    def rgb(y: Int, cb: Int, cr: Int): Seq[Int] = Seq(
      clamp(y + ((359 * (cr - 128)) >> 8)),
      clamp(y - ((88 * (cb - 128) + 183 * (cr - 128)) >> 8)),
      clamp(y + ((454 * (cb - 128)) >> 8)))
    val bytes = for {
      py <- 0 until 16; px <- 0 until 16
      (y, cb, cr) = block(px / 8, py / 8)
      v <- rgb(y, cb, cr)
    } yield v
    assert(f.mean_signal == bytes.sum.toDouble / bytes.length)
    val histo = new Array[Long](16)
    bytes.foreach(b => histo(b >> 4) += 1)
    assert(f.histo16.toSeq == histo.toSeq)
    val thumb = for (ty <- 0 until 4; tx <- 0 until 4) yield {
      val (y, cb, cr) = block((tx * 16 / 4) / 8, (ty * 16 / 4) / 8)
      val Seq(r, g, b) = rgb(y, cb, cr)
      ((77 * r + 150 * g + 29 * b) >> 8).toByte
    }
    assert(f.thumb.toSeq == thumb)
  }

  test("JPEG AC path: a lone coefficient survives run-length and ZRL") {
    // spike at zigzag 5 -> natural (u,v) = (1,0): f(x,y) varies in x
    def expectMean(k: Int): Double = {
      val zig = Array(0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4,
        5, 12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)
      val u = zig(k) % 8; val v = zig(k) / 8
      def c(i: Int) = if (i == 0) 1.0 / math.sqrt(2) else 1.0
      // Y plane: 128 + IDCT of the lone coefficient (value +1, q=1);
      // Cb=Cr=128 so R=G=B=Y — mean over the 8x8 block, all 3 channels
      val ys = for (y <- 0 until 8; x <- 0 until 8) yield {
        val f = 0.25 * c(u) * c(v) *
          math.cos((2 * x + 1) * u * math.Pi / 16) *
          math.cos((2 * y + 1) * v * math.Pi / 16)
        math.max(0, math.min(255, math.round(f).toInt + 128))
      }
      ys.sum.toDouble / ys.length
    }
    for (k <- Seq(1, 2, 17, 34)) { // runs 0, 1, 16 (ZRL), 33 (2xZRL+1)
      val f = ext.Multimodal.decode(1L, ext.Multimodal.jpegOf(8, 8,
        (_, _) => (128, 128, 128), acSpike = Some((k, 1))))
      assert(f.format == "jpeg", s"k=$k failed to decode")
      assert(math.abs(f.mean_signal - expectMean(k)) < 1e-9,
        s"k=$k mean ${f.mean_signal} != ${expectMean(k)}")
    }
  }

  test("JPEG grayscale and out-of-profile fallbacks") {
    val color = ext.Multimodal.jpegOf(8, 8, (_, _) => (200, 128, 128))
    // Cb=Cr=128 -> R=G=B=Y: a neutral block decodes to gray 200
    val f = ext.Multimodal.decode(1L, color)
    assert(f.format == "jpeg" && f.mean_signal == 200.0)
    // truncated entropy data
    assert(ext.Multimodal.decode(1L, color.dropRight(4)).format ==
      "jpeg_corrupt")
    // flipping SOF0→SOF2 on a BASELINE stream yields malformed
    // progressive: its single scan has Se=63 with Ss=0, which is not a
    // legal progressive DC scan — the decoder must reject, not render
    val prog = color.clone()
    val sofAt = (0 until prog.length - 1).find(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0).get
    prog(sofAt + 1) = 0xc2.toByte
    assert(ext.Multimodal.decode(1L, prog).format == "jpeg_corrupt")
  }

  test("progressive JPEG decodes byte-identical to baseline on the same coefficients") {
    // DC-only gradients and every AC-spike run shape (0, 1, ZRL, 2xZRL)
    // across 1-, 2- and 6-block grids: the multi-scan progressive
    // stream (DC first Al=1, DC refine, AC first with EOB1 runs, AC
    // refine inserting the spike) must reconstruct the exact
    // coefficients, so pixels match the baseline decode bit-for-bit
    val shapes = Seq((8, 8), (16, 8), (24, 16))
    val contents: Seq[((Int, Int) => (Int, Int, Int), Option[(Int, Int)])] =
      Seq(((bx: Int, by: Int) => (80 + bx * 40, 128 + by * 20, 100), None),
        (((_: Int, _: Int) => (128, 128, 128)), Some((1, 1))),
        (((_: Int, _: Int) => (200, 90, 160)), Some((2, -1))),
        (((_: Int, _: Int) => (30, 128, 128)), Some((17, 1))),
        (((_: Int, _: Int) => (250, 140, 110)), Some((34, -1))))
    for ((w, h) <- shapes; (pix, spike) <- contents) {
      val base = ext.Multimodal.decodeJpegPixels(
        ext.Multimodal.jpegOf(w, h, pix, spike))
      val prog = ext.Multimodal.decodeJpegPixels(
        ext.Multimodal.jpegProgressiveOf(w, h, pix, spike))
      assert(base.isDefined && prog == base,
        s"progressive != baseline at ${w}x$h spike=$spike")
    }
  }

  test("progressive DC refinement set-bit path and truncation fallback") {
    // dcPlus=5: first Y block's quantized DC becomes 5 (odd), so the
    // DC first scan carries 5>>1=2 and the refinement bit is 1 — the
    // decoder's |= path must fire. DC-only block: every pixel of that
    // block is round(5/8)+128 = 129, neutral chroma keeps RGB = Y.
    val p = ext.Multimodal.jpegProgressiveOf(8, 8,
      (_, _) => (128, 128, 128), dcPlus = 5)
    val f = ext.Multimodal.decode(1L, p)
    assert(f.format == "jpeg" && f.mean_signal == 129.0,
      s"got ${f.format} mean=${f.mean_signal}")
    // truncation anywhere (mid-scan or missing EOI) degrades to the
    // labeled corrupt stub, never a partial render or a crash
    for (cut <- Seq(1, 4, 9, 30))
      assert(ext.Multimodal.decode(1L, p.dropRight(cut)).format ==
        "jpeg_corrupt", s"cut=$cut")
  }

  test("MJPEG-in-AVI accepts progressive frames through the shared decoder") {
    val fr1 = ext.Multimodal.jpegProgressiveOf(16, 8,
      (bx, by) => (80 + bx * 40, 128 + by * 20, 100))
    val fr2 = ext.Multimodal.jpegOf(16, 8,
      (bx, by) => (80 + bx * 40, 128 + by * 20, 100))
    val f = ext.Multimodal.decode(50L,
      ext.Multimodal.aviMjpegOf(16, 8, 40000, Seq(fr1, fr2)))
    // both frames carry identical pixel content → identical stats to
    // an all-baseline stream
    val ref = ext.Multimodal.decode(50L,
      ext.Multimodal.aviMjpegOf(16, 8, 40000, Seq(fr2, fr2)))
    assert(f.format == "avi" && f.channels == 3 &&
      f.mean_signal == ref.mean_signal &&
      f.histo16.toSeq == ref.histo16.toSeq)
  }

  test("q34 registry run exercises real decode, corrupt fallback, and the stub") {
    val formats = Multimodal.q34.run(spark, TestSpark.sf0001)
      .select("format").distinct().collect().map(_.getString(0)).toSet
    // synthetic payloads guarantee the real paths fire in the driver run
    assert(Set("bmp", "wav", "png", "gif", "jpeg", "bmp_corrupt",
      "wav_corrupt", "png_corrupt", "gif_corrupt", "jpeg_corrupt")
      .subsetOf(formats), s"formats seen: $formats")
    // documents' text bytes still route through the labeled stub
    assert(formats.contains("unknown"))
  }

  test("q34's frozen oracle literals match what the decoders render today") {
    val oracle = Multimodal.q34.oracle.get
    val rows = tools.SynthMediaSql.rows
    assert(rows.size == Multimodal.syntheticMediaPayloads.size)
    rows.foreach(r => assert(oracle.contains(r), s"not in q34's oracle: $r"))
  }

  test("mp4 box walk: mvhd timescale/duration, trak count, tkhd dims") {
    val p = Multimodal.mp4Of(1000, 5000, Seq((320, 240)))
    val f = Multimodal.decode(9L, p)
    assert(f.format == "mp4", f.format)
    assert(f.sample_rate == 1000 && f.mean_signal == 5.0,
      s"timescale/duration: ${f.sample_rate}/${f.mean_signal}")
    assert(f.n_frames == 1 && f.width == 320 && f.height == 240)
    // audio-first layout: the (0,0) audio trak is skipped, the SECOND
    // trak's visual dims surface; track count covers both
    val av = Multimodal.decode(10L,
      Multimodal.mp4Of(600, 1200, Seq((0, 0), (640, 360))))
    assert(av.n_frames == 2 && av.width == 640 && av.height == 360)
    assert(av.sample_rate == 600 && av.mean_signal == 2.0)
  }

  test("hostile or truncated mp4 falls back to the labeled stub") {
    val good = Multimodal.mp4Of(1000, 5000, Seq((320, 240)))
    // truncation mid-moov
    assert(Multimodal.decode(11L, good.dropRight(30)).format == "mp4_corrupt")
    // a hostile 32-bit box size that overflows past the payload end
    val hostile = good.clone()
    hostile(0) = 0x7f.toByte // ftyp size := ~2.1 GB
    assert(Multimodal.decode(12L, hostile).format == "mp4_corrupt")
    // a hostile 64-bit largesize near Long.MaxValue: `off + sz` would
    // wrap negative and slip past an additive bounds check — the walk
    // must compare subtractively and reject, not alias into the array
    val large = good.clone()
    large(0) = 0; large(1) = 0; large(2) = 0; large(3) = 1 // size == 1
    // ftyp's first 8 payload bytes become the largesize field; the walk
    // reads them from offset 8 — forge 0x7FFFFFFFFFFFFFF0 there
    large(8) = 0x7f.toByte
    (9 to 14).foreach(i => large(i) = 0xff.toByte)
    large(15) = 0xf0.toByte
    assert(Multimodal.decode(15L, large).format == "mp4_corrupt")
    // size==0 ("to end of file") on the LAST top-level box is legal:
    // zero out mdat's size field and the walk must still accept it
    val toEnd = good.clone()
    val mdatOff = good.length - 40 // mdat = 8 hdr + 32 body
    toEnd(mdatOff) = 0; toEnd(mdatOff + 1) = 0
    toEnd(mdatOff + 2) = 0; toEnd(mdatOff + 3) = 0
    assert(Multimodal.decode(13L, toEnd).format == "mp4")
    // missing moov (ftyp + mdat only) is structurally invalid for meta
    val noMoov = good.take(24) ++ good.takeRight(40)
    assert(Multimodal.decode(14L, noMoov).format == "mp4_corrupt")
  }

  test("truncated JPEG segments return None from Jpeg.decode, never throw") {
    // SOF0 with len=2: the segment is empty, so reading precision/h/w
    // would index past the declared segment (and the array)
    val sof = Array(0xff, 0xd8, 0xff, 0xc0, 0x00, 0x02, 0x08, 0x00)
      .map(_.toByte)
    assert(Multimodal.decodeJpeg(90L, sof).isEmpty)
    // DHT with len=2: bits counts live outside the declared segment
    val dht = Array(0xff, 0xd8, 0xff, 0xc4, 0x00, 0x02, 0x00, 0x01)
      .map(_.toByte)
    assert(Multimodal.decodeJpeg(91L, dht).isEmpty)
    // SOS with len=2 right after a valid prefix: ns read would be past
    val sos = Multimodal.jpegOf(8, 8, (_, _) => (1, 2, 3))
      .takeWhile(_ => true) // copy
    assert(Multimodal.decodeJpeg(92L,
      Array(0xff, 0xd8, 0xff, 0xda, 0x00, 0x02).map(_.toByte)).isEmpty)
    assert(Multimodal.decodeJpeg(93L, sos).isDefined) // sanity: valid stays valid
  }

  test("BMP with maximal width x height cannot wrap the Long size guard") {
    // width=0x7FFFFFFF, height=-0x7FFFFFFF (bottom-up), 32bpp: the
    // rowSize x height product wraps a Long if unbounded factors are
    // multiplied before per-factor payload bounds
    val b = java.nio.ByteBuffer.allocate(60)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte)
    b.putInt(60).putInt(0).putInt(54)
    b.putInt(40).putInt(0x7FFFFFFF).putInt(-0x7FFFFFFF)
    b.putShort(1).putShort(32)
    b.putInt(0).putInt(0)
    b.putInt(2835).putInt(2835).putInt(0).putInt(0)
    val out = Multimodal.decode(30L, b.array())
    assert(out.format == "bmp_corrupt", out.format)
  }

  test("ogg page walk: page count, logical streams, max granule") {
    val f = Multimodal.decode(20L, Multimodal.oggOf(
      Seq((7L, 0L, 30), (7L, 48000L, 120), (9L, 960L, 60))))
    assert(f.format == "ogg", f.format)
    assert(f.n_frames == 3, s"pages: ${f.n_frames}")
    assert(f.channels == 2, s"streams: ${f.channels}") // serials 7 and 9
    assert(f.mean_signal == 48000.0, s"max granule: ${f.mean_signal}")
    // corrupt: mid-stream capture-pattern damage, truncated tail, no BOS
    val good = Multimodal.oggOf(Seq((1L, 0L, 40), (1L, 100L, 40)))
    val bad = good.clone(); bad(68) = 'X'.toByte // second page's capture
    assert(Multimodal.decode(27L, bad).format == "ogg_corrupt")
    assert(Multimodal.decode(21L, good.dropRight(10)).format == "ogg_corrupt")
    val noBos = good.clone(); noBos(5) = 0
    assert(Multimodal.decode(22L, noBos).format == "ogg_corrupt")
  }

  test("webm EBML walk: timestamp scale, duration, tracks, video dims") {
    val f = Multimodal.decode(23L, Multimodal.webmOf(
      1000000L, 2500.0f, Seq(Some((1280, 720)), None)))
    assert(f.format == "webm", f.format)
    assert(f.n_frames == 2, s"tracks: ${f.n_frames}")
    assert(f.width == 1280 && f.height == 720)
    // 2500 ticks x 1e6 ns/tick = 2.5 s
    assert(math.abs(f.mean_signal - 2.5) < 1e-9, s"duration: ${f.mean_signal}")
    // audio-only: no dims, one track
    val a = Multimodal.decode(24L, Multimodal.webmOf(1000000L, 100.0f, Seq(None)))
    assert(a.format == "webm" && a.n_frames == 1 && a.width == 0)
    // truncation and a hostile varint size must fall back labeled
    val good = Multimodal.webmOf(1000000L, 1000.0f, Seq(Some((640, 480))))
    assert(Multimodal.decode(25L, good.dropRight(8)).format == "webm_corrupt")
    val hostile = good.clone()
    hostile(4) = 0xFF.toByte // header size := unknown-size where disallowed
    assert(Multimodal.decode(26L, hostile).format == "webm_corrupt")
  }

  test("the q34 seam routes real payloads to real decoders end to end") {
    import spark.implicits._
    val rows: Seq[(Long, Array[Byte])] = Seq(
      1L -> bmp24(4, 2, (x, _) => (x, x, x)),
      2L -> wav16(16000, 1, Array[Short](100, -100, 200, -200)),
      3L -> "plain text payload".getBytes("US-ASCII"))
    val out = rows.toDS()
      .mapPartitions(_.map { case (id, b) => Multimodal.decode(id, b) })
      .collect().map(f => f.doc_id -> f).toMap
    assert(out(1L).format == "bmp" && out(1L).width == 4 && out(1L).height == 2)
    assert(out(2L).format == "wav" && out(2L).sample_rate == 16000 &&
      out(2L).n_frames == 4)
    assert(out(3L).format == "unknown" && out(3L).n_bytes == 18)
  }
}
