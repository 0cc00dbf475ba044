package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** The pure-JVM BMP codec (r8 verdict #3): real header parsing,
  * bottom-up row flip, 4-byte row padding — plus the registry dispatch
  * in Multimodal.decodeAndExtract (decoded plane for image/bmp, byte
  * stand-in otherwise, graceful fallback on a corrupt payload).
  */
class MediaCodecSpec extends AnyFunSuite with SparkSuite {

  override protected def cores = 2

  private def px(n: Int): Array[Byte] =
    Array.tabulate(n)(i => ((i * 7 + 3) % 251).toByte)

  test("encode/decode round-trips, width a multiple of 4 (no padding)") {
    val pixels = px(8 * 3 * 3) // 8x3
    val d = BmpCodec.decode(BmpCodec.encode(pixels, 8, 3)).get
    assert(d.width == 8 && d.height == 3 && d.channels == 3)
    assert(d.pixels.sameElements(pixels))
  }

  test("encode/decode round-trips with row padding (width 3 -> stride 12)") {
    val pixels = px(3 * 3 * 5) // 3x5, rowBytes 9, stride 12
    val d = BmpCodec.decode(BmpCodec.encode(pixels, 3, 5)).get
    assert(d.width == 3 && d.height == 5)
    assert(d.pixels.sameElements(pixels))
  }

  test("top-down BMP (negative height) decodes to the same top-down plane") {
    val pixels = px(2 * 3 * 2) // 2x2
    val bottomUp = BmpCodec.encode(pixels, 2, 2)
    // flip the stored rows and negate the height field -> top-down file
    val stride = 8 // 2*3 padded to 4
    val topDown = bottomUp.clone()
    val hNeg = -2
    topDown(22) = hNeg.toByte; topDown(23) = (hNeg >> 8).toByte
    topDown(24) = (hNeg >> 16).toByte; topDown(25) = (hNeg >> 24).toByte
    for (r <- 0 until 2; i <- 0 until stride)
      topDown(54 + r * stride + i) = bottomUp(54 + (1 - r) * stride + i)
    val d = BmpCodec.decode(topDown).get
    assert(d.pixels.sameElements(pixels))
  }

  test("rejects non-BMP, truncated, and unsupported-profile payloads") {
    assert(BmpCodec.decode("not a bitmap at all".getBytes).isEmpty)
    assert(BmpCodec.decode(Array[Byte]('B', 'M', 1, 2)).isEmpty)
    val good = BmpCodec.encode(px(8 * 3), 8, 1)
    assert(BmpCodec.decode(good.take(53)).isEmpty) // truncated header
    val bpp8 = good.clone(); bpp8(28) = 8 // unsupported bit depth
    assert(BmpCodec.decode(bpp8).isEmpty)
    val rle = good.clone(); rle(30) = 1 // compressed profile
    assert(BmpCodec.decode(rle).isEmpty)
    val short = good.take(54 + 10) // pixel array shorter than declared
    assert(BmpCodec.decode(short).isEmpty)
  }

  test("crafted headers degrade to None, never throw (r9 advice: Long-validated sizes)") {
    val good = BmpCodec.encode(px(8 * 3), 8, 1)
    def withLe32(off: Int, v: Int): Array[Byte] = {
      val c = good.clone()
      c(off) = v.toByte; c(off + 1) = (v >> 8).toByte
      c(off + 2) = (v >> 16).toByte; c(off + 3) = (v >> 24).toByte
      c
    }
    // width near 2^30: width*3 overflows Int negative, bounds check must
    // not pass and the pixel alloc must not throw NegativeArraySize
    assert(BmpCodec.decode(withLe32(18, 0x40000000)).isEmpty)
    // 3*width just past Int.MaxValue
    assert(BmpCodec.decode(withLe32(18, 715827883)).isEmpty)
    // Int.MinValue height survives math.abs as negative
    assert(BmpCodec.decode(withLe32(22, Int.MinValue)).isEmpty)
    // offBits pushing the Long extent past the payload
    assert(BmpCodec.decode(withLe32(10, Int.MaxValue)).isEmpty)
  }

  test("PNG codec: round-trips, rejects wrong magic / corrupt payloads (r9 verdict #1)") {
    val pixels = px(5 * 3 * 4) // 5x4, odd width exercises raster strides
    val png = PngCodec.encode(pixels, 5, 4)
    assert(png.take(4).sameElements(Array[Byte](0x89.toByte, 'P', 'N', 'G')))
    val d = PngCodec.decode(png).get
    assert(d.width == 5 && d.height == 4 && d.channels == 3)
    assert(d.pixels.sameElements(pixels))
    // a BMP under the PNG codec: magic check refuses content mislabeling
    assert(PngCodec.decode(BmpCodec.encode(pixels, 5, 4)).isEmpty)
    // corrupt body: valid magic, garbage chunks — degrade to None
    val corrupt = png.take(16) ++ Array.fill[Byte](32)(0x5a)
    assert(PngCodec.decode(corrupt).isEmpty)
    assert(PngCodec.decode(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("JPEG codec: exact dimensions, bounded reconstruction error, magic rejection") {
    val pixels = px(8 * 3 * 6) // 8x6
    val jpg = JpegCodec.encode(pixels, 8, 6)
    assert((jpg(0) & 0xff) == 0xff && (jpg(1) & 0xff) == 0xd8)
    val d = JpegCodec.decode(jpg).get
    assert(d.width == 8 && d.height == 6 && d.channels == 3)
    val mae = d.pixels.zip(pixels)
      .map { case (a, b) => math.abs((a & 0xff) - (b & 0xff)) }.sum.toDouble /
      pixels.length
    assert(mae <= 48.0, s"JPEG q0.9 MAE $mae above the empirical bound")
    assert(JpegCodec.decode(PngCodec.encode(pixels, 8, 6)).isEmpty)
    val corrupt = jpg.take(8) ++ Array.fill[Byte](16)(0x11)
    assert(JpegCodec.decode(corrupt).isEmpty)
  }

  test("WAV codec: PCM round-trip, chunk skipping, crafted/truncated headers degrade to None") {
    val samples = px(10 * 4) // 10 stereo int16 frames
    val wav = WavCodec.encode(samples, 10, channels = 2)
    val d = WavCodec.decode(wav).get
    assert(d.width == 10 && d.height == 1 && d.channels == 4)
    assert(d.pixels.sameElements(samples))
    // an inserted unknown chunk (LIST) before data must be skipped
    val withList = wav.take(36) ++
      "LIST".getBytes ++ Array[Byte](4, 0, 0, 0, 1, 2, 3, 4) ++ wav.drop(36)
    // fix RIFF size field (bytes 4-7): += 12
    val riffSz = ((withList(4) & 0xff) | ((withList(5) & 0xff) << 8)) + 12
    withList(4) = riffSz.toByte; withList(5) = (riffSz >> 8).toByte
    val d2 = WavCodec.decode(withList).get
    assert(d2.pixels.sameElements(samples), "LIST chunk not skipped")
    // rejections: wrong magic, truncated data, non-PCM, crafted size
    assert(WavCodec.decode("RIFFxxxxWEBP".getBytes ++ wav.drop(12)).isEmpty)
    assert(WavCodec.decode(wav.take(50)).isEmpty)
    val bits8 = wav.clone(); bits8(34) = 8
    assert(WavCodec.decode(bits8).isEmpty)
    val huge = wav.clone(); huge(40) = -1; huge(41) = -1
    huge(42) = -1; huge(43) = 0x7f // data size past the payload
    assert(WavCodec.decode(huge).isEmpty)
  }

  test("GIF codec: decode-only registry entry is exact on palette images, rejects non-GIF") {
    // GIF is palette-indexed; the JDK writer is lossless only when the
    // source image IS indexed (a truecolor source gets quantized to the
    // default web palette) — so the fixture builds an explicit 4-entry
    // IndexColorModel, exactly a real GIF producer's shape. h = 8, not
    // smaller: the JDK GIF WRITER has a last-row LZW-flush bug at tiny
    // heights (h = 4 measurably zeroes row 3; h ≥ 5 is exact) — a
    // writer quirk, not a decode-path property, so the fixture avoids it
    val reds = Array[Byte](0, -1, 0, 0)
    val greens = Array[Byte](0, 0, -1, 0)
    val blues = Array[Byte](0, 0, 0, -1)
    val icm = new java.awt.image.IndexColorModel(2, 4, reds, greens, blues)
    val (w, h) = (8, 8)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, (y * w + x) % 4)
    // expected BGR plane after readPlane's normalization
    val plane = Array.tabulate(w * h * 3) { i =>
      val c = (i / 3) % 4
      (i % 3) match {
        case 0 => blues(c); case 1 => greens(c); case _ => reds(c)
      }
    }
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "gif", baos))
    val gif = baos.toByteArray
    assert(new String(gif, 0, 6, "US-ASCII").matches("GIF8[79]a"))
    val d = GifCodec.decode(gif).get
    assert(d.width == w && d.height == h && d.channels == 3)
    assert(d.pixels.sameElements(plane))
    // magic check: a PNG under the GIF codec refuses
    assert(GifCodec.decode(PngCodec.encode(plane, w, h)).isEmpty)
    assert(GifCodec.decode(gif.take(20)).isEmpty)
  }

  test("MP4 box walker: build/parse round-trip, extended sizes, crafted headers degrade to None") {
    val mp4 = Mp4Boxes.build(timescale = 90000, duration = 123456L, nTracks = 2)
    val m = Mp4Boxes.parse(mp4).get
    assert(m == Mp4Meta("isom", 90000, 123456L, 2))
    // a skippable top-level box (free) between ftyp and moov
    val free = Array[Byte](0, 0, 0, 12) ++ "free".getBytes ++
      Array[Byte](9, 9, 9, 9)
    val withFree = mp4.take(24) ++ free ++ mp4.drop(24)
    assert(Mp4Boxes.parse(withFree).get == m)
    // 64-bit extended size on the free box (size=1 + u64)
    val ext = Array[Byte](0, 0, 0, 1) ++ "free".getBytes ++
      Array[Byte](0, 0, 0, 0, 0, 0, 0, 20) ++ Array.fill[Byte](4)(7)
    assert(Mp4Boxes.parse(mp4.take(24) ++ ext ++ mp4.drop(24)).get == m)
    // size=0 means to-EOF: legal only as the last box
    val toEof = mp4.clone()
    toEof(24) = 0; toEof(25) = 0; toEof(26) = 0; toEof(27) = 0 // moov size
    assert(Mp4Boxes.parse(toEof).get == m)
    // rejections: truncation, box size past the payload, no moov
    assert(Mp4Boxes.parse(mp4.take(30)).isEmpty)
    val bad = mp4.clone(); bad(27) = -1 // moov size huge
    assert(Mp4Boxes.parse(bad).isEmpty)
    assert(Mp4Boxes.parse(mp4.take(24)).isEmpty)
    assert(Mp4Boxes.parse("not a container at all!!".getBytes).isEmpty)
  }

  test("registry dispatches image/png and image/jpeg through the real decoders") {
    val pixels = px(8 * 3 * 4) // 8x4 plane
    val png = PngCodec.encode(pixels, 8, 4)
    val fromPng = Multimodal.decodeAndExtract(
      MediaRecord(1L, png, "image/png"))
    // features computed over the DECODED plane, not the png bytes
    val overPlane = Multimodal.decodeAndExtract(
      MediaRecord(1L, pixels, "application/octet-stream"))
    assert(fromPng.frame_sum == overPlane.frame_sum)
    assert(fromPng.head_hex == overPlane.head_hex)
    assert(fromPng.n_bytes == png.length) // metadata stays payload-level
    // jpeg: decoded plane differs from the raw bytes (lossy) but must
    // dispatch without error and be plane-sized, not payload-sized
    val jpg = JpegCodec.encode(pixels, 8, 4)
    val fromJpg = Multimodal.decodeAndExtract(
      MediaRecord(2L, jpg, "image/jpeg"))
    assert(fromJpg.frame_hex.length / 2 == (pixels.length + 63) / 64,
      "jpeg features not computed over the decoded plane")
  }

  test("decodeAndExtract dispatches by mime: decoded plane for BMP, stand-in else, fallback on corrupt") {
    val pixels = px(8 * 3 * 4) // 8x4 plane
    val bmp = BmpCodec.encode(pixels, 8, 4)
    val viaBmp = Multimodal.decodeAndExtract(MediaRecord(1L, bmp, "image/bmp"))
    // features are computed over the DECODED plane, not the file bytes
    assert(viaBmp.n_bytes == bmp.length) // payload size is still the file
    val expHead = pixels.take(8).map(b => f"${b & 0xff}%02X").mkString
    assert(viaBmp.head_hex == expHead, s"got ${viaBmp.head_hex}")
    // same payload under a stand-in mime reads the file bytes ("BM...")
    val viaStub = Multimodal.decodeAndExtract(MediaRecord(1L, bmp, "application/octet-stream"))
    assert(viaStub.head_hex.startsWith("424D")) // 'B','M'
    // corrupt BMP payload degrades to the stand-in, never throws
    val corrupt = bmp.take(40)
    val viaCorrupt = Multimodal.decodeAndExtract(MediaRecord(1L, corrupt, "image/bmp"))
    assert(viaCorrupt.n_bytes == 40 && viaCorrupt.head_hex.startsWith("424D"))
  }

  test("the typed extractFeatures operator carries the codec through executors") {
    import spark.implicits._
    val pixels = px(8 * 3 * 2)
    val bmp = BmpCodec.encode(pixels, 8, 2)
    val ds = Seq(
      MediaRecord(1L, bmp, "image/bmp"),
      MediaRecord(2L, "plain payload bytes".getBytes, "text/plain")).toDS()
    val out = Multimodal.extractFeatures(ds).collect().sortBy(_.doc_id)
    assert(out(0).head_hex == pixels.take(8).map(b => f"${b & 0xff}%02X").mkString)
    assert(out(1).head_hex.startsWith("706C61696E")) // "plain"
  }

  test("GIF87a encoder: lossless indexed round-trips incl. width bumps and dict resets (r10 verdict #3)") {
    import graft.operators.{GifCodec, MediaCodecs}
    def roundTrip(idx: Array[Byte], w: Int, h: Int): Unit = {
      val gif = GifCodec.encode(idx, w, h)
      val d = MediaCodecs.registry("image/gif").decode(gif).get
      assert(d.width == w && d.height == h && d.channels == 3,
        s"dims ${d.width}x${d.height}x${d.channels} for ${w}x$h")
      var i = 0
      while (i < idx.length) {
        val v = idx(i) & 0xff
        assert((d.pixels(3 * i) & 0xff) == GifCodec.paletteB(v),
          s"B at pixel $i (w=$w h=$h v=$v)")
        assert((d.pixels(3 * i + 1) & 0xff) == GifCodec.paletteG(v),
          s"G at pixel $i")
        assert((d.pixels(3 * i + 2) & 0xff) == GifCodec.paletteR(v),
          s"R at pixel $i")
        i += 1
      }
    }
    // 1x1 (the JDK WRITER's tiny-height bug class — our writer must not
    // have it) and small shapes
    roundTrip(Array[Byte](42), 1, 1)
    roundTrip(Array.tabulate(8)(i => i.toByte), 8, 1)
    roundTrip(Array.tabulate(8)(i => (255 - i).toByte), 1, 8)
    // all-256-values image: every palette entry exercised
    roundTrip(Array.tabulate(256)(_.toByte), 16, 16)
    // constant image: maximal LZW run-length behavior
    roundTrip(Array.fill(1024)(7.toByte), 32, 32)
    // deterministic pseudo-random sizes around the 9->10 bit boundary and
    // beyond; random-ish bytes are LZW-hostile so code width climbs fast
    val rnd = new scala.util.Random(20260816)
    for (n <- Seq(253, 254, 255, 256, 511, 512, 513, 1000, 4000)) {
      val w = math.max(1, math.min(n, 64))
      val h = math.max(1, n / w)
      val idx = Array.fill(w * h)(rnd.nextInt(256).toByte)
      roundTrip(idx, w, h)
    }
    // long random stream: forces nextCode past 4095 -> clear-code reset
    // path (needs ~4k emitted codes; 40k random bytes emit ~20k)
    roundTrip(Array.fill(200 * 200)(rnd.nextInt(256).toByte), 200, 200)
    // encoder rejects geometry mismatches instead of writing garbage
    intercept[IllegalArgumentException] {
      GifCodec.encode(Array[Byte](1, 2, 3), 2, 2)
    }
  }

  test("MJPEG mux/demux: sampleTable locates every frame; crafted tables degrade to None (r10 verdict #4)") {
    import graft.operators.{Mp4Boxes, JpegCodec}
    val frames = (0 until 3).map { f =>
      JpegCodec.encode(Array.tabulate(8 * 4 * 3)(i => ((i * 7 + f * 31) % 251).toByte), 8, 4)
    }
    val mp4 = Mp4Boxes.buildMjpeg(frames)
    // the container still parses as a plain q202 metadata walk (1 track)
    val meta = Mp4Boxes.parse(mp4).get
    assert(meta.nTracks == 1 && meta.brand == "isom")
    val tab = Mp4Boxes.sampleTable(mp4).get
    assert(tab.length == 3)
    tab.zipWithIndex.foreach { case ((off, sz), f) =>
      assert(sz == frames(f).length, s"stsz size of frame $f")
      val sample = mp4.slice(off.toInt, off.toInt + sz)
      assert(sample.sameElements(frames(f)), s"frame $f bytes via stco+stsz")
      val d = JpegCodec.decode(sample).get
      assert(d.width == 8 && d.height == 4 && d.channels == 3)
    }
    // degradation: truncation mid-moov, a crafted stsz count, a crafted
    // chunk offset past EOF, and a multi-chunk stco (out of profile) all
    // return None rather than throw or mis-slice
    assert(Mp4Boxes.sampleTable(mp4.take(mp4.length - 40)).isEmpty)
    def patch32(b: Array[Byte], off: Int, v: Long): Array[Byte] = {
      val c = b.clone()
      c(off) = (v >> 24).toByte; c(off + 1) = (v >> 16).toByte
      c(off + 2) = (v >> 8).toByte; c(off + 3) = v.toByte
      c
    }
    def findBox(id: String): Int = {
      val pat = id.getBytes("US-ASCII")
      (0 until mp4.length - 4).find(i => pat.indices.forall(j => mp4(i + j) == pat(j))).get
    }
    val stszAt = findBox("stsz")
    // sample_count -> absurd (past the box): None, not a throw
    assert(Mp4Boxes.sampleTable(patch32(mp4, stszAt + 4 + 8, 1000000L)).isEmpty)
    val stcoAt = findBox("stco")
    // chunk offset past EOF: None
    assert(Mp4Boxes.sampleTable(patch32(mp4, stcoAt + 4 + 8, mp4.length.toLong + 100)).isEmpty)
    // entry_count 2 (multi-chunk, needs stsc): documented None
    assert(Mp4Boxes.sampleTable(patch32(mp4, stcoAt + 4 + 4, 2L)).isEmpty)
  }

  test("MJPEG multi-chunk: stsc routing locates every frame; crafted stsc degrades to None") {
    import graft.operators.{Mp4Boxes, JpegCodec}
    val frames = (0 until 7).map { f =>
      JpegCodec.encode(Array.tabulate(8 * 3 * 3)(i => ((i * 11 + f * 37) % 249).toByte), 8, 3)
    }
    // 3 samples per chunk -> chunks of 3,3,1 -> stsc runs [(1,3),(3,1)]
    val mp4 = Mp4Boxes.buildMjpeg(frames, samplesPerChunk = 3)
    val tab = Mp4Boxes.sampleTable(mp4).get
    assert(tab.length == 7)
    tab.zipWithIndex.foreach { case ((off, sz), f) =>
      assert(mp4.slice(off.toInt, off.toInt + sz).sameElements(frames(f)),
        s"frame $f via multi-chunk stsc routing")
    }
    // uniform chunking (2,2,2,1) and chunk-per-sample (1x7) both route
    Seq(2, 1).foreach { spc =>
      val m = Mp4Boxes.buildMjpeg(frames, samplesPerChunk = spc)
      val t = Mp4Boxes.sampleTable(m).get
      assert(t.length == 7)
      t.zipWithIndex.foreach { case ((off, sz), f) =>
        assert(m.slice(off.toInt, off.toInt + sz).sameElements(frames(f)))
      }
    }
    // crafted stsc: first_chunk not starting at 1 / routing mismatch
    def patch32(b: Array[Byte], off: Int, v: Long): Array[Byte] = {
      val c = b.clone()
      c(off) = (v >> 24).toByte; c(off + 1) = (v >> 16).toByte
      c(off + 2) = (v >> 8).toByte; c(off + 3) = v.toByte
      c
    }
    def findBox(b: Array[Byte], id: String): Int = {
      val pat = id.getBytes("US-ASCII")
      (0 until b.length - 4).find(i => pat.indices.forall(j => b(i + j) == pat(j))).get
    }
    val stscAt = findBox(mp4, "stsc")
    // first entry's first_chunk -> 2 (must be 1): None
    assert(Mp4Boxes.sampleTable(patch32(mp4, stscAt + 4 + 8, 2L)).isEmpty)
    // first entry's samples_per_chunk -> 5: routing covers 5,5,1 = 11 != 7: None
    assert(Mp4Boxes.sampleTable(patch32(mp4, stscAt + 4 + 8 + 4, 5L)).isEmpty)
    // samples_per_chunk 0: None
    assert(Mp4Boxes.sampleTable(patch32(mp4, stscAt + 4 + 8 + 4, 0L)).isEmpty)
  }
}
