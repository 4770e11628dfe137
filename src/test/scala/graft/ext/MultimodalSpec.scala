package graft.ext

import graft.TestSpark
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("asMedia + extractFeatures: schema, determinism, and byte accounting") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents").limit(50)
    val media = Multimodal.asMedia(docs, "doc_id", "text", "text/plain")
    val feats = Multimodal.extractFeatures(media, batchSize = 16)

    assert(feats.columns.toSeq ===
      Seq("id", "n_bytes", "width", "height", "n_frames", "features"))
    val rows = feats.collect()
    assert(rows.length === 50)
    assert(rows.forall(_.features.length === Multimodal.featureDim))
    // opaque text payloads: no codec recognizes them → zero dims, one
    // frame, and the byteEmbed signature (bucket counts sum to n_bytes)
    assert(rows.forall(r => r.n_frames === 1 && r.width === 0 && r.height === 0))
    assert(rows.forall(r => r.features.map(_.toLong).sum === r.n_bytes))

    // deterministic: a second run produces identical features
    val again = Multimodal.extractFeatures(media, batchSize = 7).collect()
    val a = rows.sortBy(_.id).map(_.features.toSeq)
    val b = again.sortBy(_.id).map(_.features.toSeq)
    assert(a.toSeq === b.toSeq) // batch size must not affect results
  }

  test("decodeHeader parses PNG/GIF/BMP headers and rejects opaque bytes") {
    // PNG: signature + IHDR with w=300, h=77, color type 6 (RGBA)
    val png = Array[Int](
      0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a, // signature
      0, 0, 0, 13, 'I', 'H', 'D', 'R', // IHDR chunk header
      0, 0, 0x01, 0x2c, 0, 0, 0, 77, // width 300, height 77 (big-endian)
      8, 6, 0, 0, 0, 0xde, 0xad, 0xbe, 0xef).map(_.toByte)
    assert(Multimodal.decodeHeader(png) === Some(("png", 300, 77, 4)))
    // GIF89a: w=300 (2c 01 little-endian), h=77
    val gif = ("GIF89a".getBytes("US-ASCII") ++
      Array[Int](0x2c, 0x01, 77, 0, 0, 0, 0).map(_.toByte))
    assert(Multimodal.decodeHeader(gif) === Some(("gif", 300, 77, 3)))
    // BMP: BITMAPINFOHEADER, w=300, TOP-DOWN height -77 (abs'd), 24 bpp
    val bmp = ("BM".getBytes("US-ASCII") ++
      Array.fill[Byte](8)(0) ++
      Array[Int](0x36, 0, 0, 0, 40, 0, 0, 0).map(_.toByte) ++
      Array[Int](0x2c, 0x01, 0, 0).map(_.toByte) ++ // width 300 LE
      Array[Int](0xb3, 0xff, 0xff, 0xff).map(_.toByte) ++ // height -77 LE
      Array[Int](1, 0, 24, 0).map(_.toByte))
    assert(Multimodal.decodeHeader(bmp) === Some(("bmp", 300, 77, 3)))
    // opaque text bytes fall through to the stub path
    assert(Multimodal.decodeHeader("just some text, long enough to pass every length gate"
      .getBytes("UTF-8")) === None)
    assert(Multimodal.decodeHeader(Array[Byte](1, 2, 3)) === None)
  }

  test("resizePlan fits into the bounding box preserving aspect ratio, never upscales") {
    import spark.implicits._
    val df = Seq((1L, 1000, 500), (2L, 100, 100), (3L, 200, 800)).toDF("id", "width", "height")
    val out = Multimodal.resizePlan(df, maxW = 400, maxH = 400)
      .select("id", "out_w", "out_h").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1)
    assert(out(0) === ((1L, 400, 200))) // landscape capped by width
    assert(out(1) === ((2L, 100, 100))) // already fits: no upscale
    assert(out(2) === ((3L, 100, 400))) // portrait capped by height
  }

  test("dHash: planted gradient bits round-trip through PNG encode/decode, texture means away") {
    // image whose 2x2 blocks are constant-mean cells walking +-5 per bit
    def png(hash: Long, ch: Int): Array[Byte] = {
      def cell(cx: Int, cy: Int): Int = {
        val row = (hash >>> (cy * 8)) & 0xffL
        val pre = java.lang.Long.bitCount(row & ((1L << cx) - 1))
        128 + 5 * (2 * pre - cx)
      }
      Multimodal.encodePng(18, 16, ch,
        (x, y, _) => cell(x / 2, y / 2) + (if (x % 2 == 0 && y % 2 == 0) -3 else 1))
    }
    for (hash <- Seq(0L, -1L, 0x9e3779b97f4a7c15L, 0x0123456789abcdefL); ch <- Seq(1, 3))
      assert(Multimodal.dHash64(png(hash, ch)) === Some(hash), s"hash=$hash ch=$ch")
    // a one-bit flip in the planted hash moves the decoded hash by exactly 1
    val a = Multimodal.dHash64(png(42L, 1)).get
    val b = Multimodal.dHash64(png(42L ^ (1L << 17), 1)).get
    assert(java.lang.Long.bitCount(a ^ b) === 1)
  }

  test("dHash: non-uniform block boundaries use the floor-division ranges, not nearest samples") {
    // 20x10: cell widths alternate 2/3, heights 1/2 -- hand-check one cell:
    // cx=5 covers x in [floor(5*20/9)=11, floor(6*20/9)=13), cy=0 covers y in [0, floor(10/8)=1)
    val pix = Array.tabulate(20 * 10)(i => (i * 7 + 3) % 251)
    val h = Multimodal.dHash(20, 10, 1, pix)
    def cellMean(cx: Int, cy: Int): Long = {
      val (x0, x1) = (cx * 20 / 9, (cx + 1) * 20 / 9)
      val (y0, y1) = (cy * 10 / 8, (cy + 1) * 10 / 8)
      val vals = for (y <- y0 until y1; x <- x0 until x1) yield pix(y * 20 + x).toLong
      vals.sum / vals.length
    }
    for (cy <- 0 until 8; cx <- 0 until 8) {
      val want = cellMean(cx + 1, cy) > cellMean(cx, cy)
      assert(((h >>> (cy * 8 + cx)) & 1L) === (if (want) 1L else 0L), s"bit ($cx,$cy)")
    }
    // too small for a 9x8 grid -> None off the byte path
    assert(Multimodal.dHash64(Multimodal.encodePng(8, 8, 1, (x, y, _) => x + y)) === None)
    assert(Multimodal.dHash64(Array[Byte](1, 2, 3)) === None)
  }

  test("pHashDct: brightness invariance, shape sensitivity, DC bit zero, small-image rejection") {
    val pix = Array.tabulate(16 * 16)(i => (i * 5 + 7) % 97 + 40)
    val h = Multimodal.pHashDct(16, 16, 1, pix)
    // every AC coefficient is provably invariant to a constant brightness
    // shift (the cosine rows sum to zero), so the hash must not move
    assert(Multimodal.pHashDct(16, 16, 1, pix.map(_ + 30)) === h)
    assert(Multimodal.pHashDct(16, 16, 1, pix.map(_ - 25)) === h)
    // a localized structural change must move the frequency shape
    val mod = pix.clone(); (0 until 32).foreach(i => mod(i) = 200)
    assert(Multimodal.pHashDct(16, 16, 1, mod) !== h)
    // the DC bit stays 0 by construction
    assert((h & 1L) === 0L)
    // identical content in RGB hashes the same as gray
    val rgb = new Array[Int](16 * 16 * 3)
    pix.indices.foreach(i => (0 until 3).foreach(c => rgb(i * 3 + c) = pix(i)))
    assert(Multimodal.pHashDct(16, 16, 3, rgb) === h)
    // too small for an 8x8 grid -> None off the byte path
    assert(Multimodal.pHashDct64(Multimodal.encodePng(7, 8, 1, (x, y, _) => x + y)) === None)
  }
}
