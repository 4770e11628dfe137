package graft
package queries

import graft.queries.Helpers._
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The image/audio/video family: PNG/GIF/JPEG pixel decode, perceptual
  * hashes, embeddings, audio and video features over fixtures encoded
  * per doc. Conventions: see [[graft.SparkEntry]].
  */
private[graft] object Media {

  /** The planted 64-bit perceptual hash of doc `id` for the image-dedup
    * queries: two Knuth multiplicative-hash 32-bit halves, so distinct
    * docs land ~32 bits apart (no accidental near-dup pairs) while the
    * oracle re-derives every bit in closed form.
    */
  private def dhashPlanted(id: Long): Long = {
    val hi = ((id + 77777L) * 2654435761L) % 4294967296L
    val lo = (id * 2654435761L) % 4294967296L
    (hi << 32) | lo
  }

  /** 18×16 formula PNG whose [[graft.ext.Multimodal.dHash]] is exactly
    * `hash`: each 2×2 block is one 9×8 grid cell, cell values walk ±5
    * left-to-right per planted gradient bit (start 128 — range stays
    * well inside 0..255), and a {−3, +1, +1, +1} intra-block texture
    * floor-means away to the cell value — so a downsample that samples
    * instead of averaging (or forgets the ÷4) changes the hash and goes
    * red. Multi-channel images write the gray value to every channel.
    */
  private def dhashPng(hash: Long, channels: Int, filterSeed: Long): Array[Byte] = {
    def cell(cx: Int, cy: Int): Int = {
      val row = (hash >>> (cy * 8)) & 0xffL
      val pre = java.lang.Long.bitCount(row & ((1L << cx) - 1))
      128 + 5 * (2 * pre - cx)
    }
    graft.ext.Multimodal.encodePng(18, 16, channels,
      (x, y, _) => cell(x / 2, y / 2) + (if (x % 2 == 0 && y % 2 == 0) -3 else 1),
      y => ((filterSeed + y) % 5).toInt)
  }

  /** The oracle side of [[dhashPlanted]]'s high and low 32-bit halves. */
  private def dhashHiSql(id: String): String = s"(($id + 77777) * 2654435761) % 4294967296"
  private def dhashLoSql(id: String): String = s"($id * 2654435761) % 4294967296"

  /** Doc `id`'s formula PNG, all five scanline filters in turn ([[formulaPngSql]]). */
  private def formulaPng(id: Long): Array[Byte] =
    graft.ext.Multimodal.encodePng(
      (id % 13 + 4).toInt, (id * 3 % 11 + 4).toInt, (id % 4 + 1).toInt,
      (x, y, c) => ((id * 31 + x * 7 + y * 13 + c * 101) % 256).toInt,
      y => ((id + y) % 5).toInt)

  /** CTEs `d` and `s(doc_id, width, height, channels, sums)` of [[formulaPng]],
    * sums[c + 1] channel c's exact pixel sum. */
  private val formulaPngSql =
    """d AS (SELECT doc_id,
                        CAST(doc_id % 13 + 4 AS INTEGER) AS width,
                        CAST(doc_id * 3 % 11 + 4 AS INTEGER) AS height,
                        CAST(doc_id % 4 + 1 AS INTEGER) AS channels
                      FROM documents),
                s AS (SELECT doc_id, width, height, channels,
                        list_transform(range(0, 4), c ->
                          CASE WHEN c < channels THEN
                            CAST(list_sum(flatten(list_transform(range(0, width), x ->
                              list_transform(range(0, height), y ->
                                (doc_id * 31 + x * 7 + y * 13 + c * 101) % 256)))) AS BIGINT)
                          END) AS sums
                      FROM d)"""

  /** Per image of `media`, decoded: its shape and first `nChannels` channel sums. */
  private def pixelSums(media: Dataset[graft.ext.Multimodal.MediaRow], nChannels: Int): DataFrame =
    graft.ext.Multimodal.pixelStats(media).toDF()
      .select(Seq(col("id").as("doc_id"), col("width"), col("height"), col("channels"),
        col("n_pixels")) ++ (0 until nChannels).map(c => col(s"c${c}_sum")): _*)
      .orderBy("doc_id")

  /** Doc `id`'s formula PCM tone at `rate` Hz as a WAV file. */
  private def toneWav(id: Long, rate: Int): Array[Byte] = {
    val bits = if (id % 3 == 0) 8 else 16
    val sample: (Int, Int) => Int =
      if (bits == 8) (f, c) => ((id * 7 + f * 13 + c * 37) % 241).toInt - 120
      else (f, c) => ((id * 31 + f * 17 + c * 97) % 4001).toInt - 2000
    graft.ext.Multimodal.encodeWav(rate, bits, (id % 2 + 1).toInt, (id % 50 + 20).toInt, sample)
  }

  /** Top-5 by exact inner product over `emb(id, e)` for the bounded query
    * set (id ≡ 0 mod 50, id < 500), broadcast ([[embedTopKSql]]). */
  private def embedTopK(emb: DataFrame): DataFrame = {
    val q = emb.filter(col("id") % 50 === 0 && col("id") < 500)
      .select(col("id").as("query_id"), col("e").as("eq"))
    val scored = emb.select(col("id").as("neighbor_id"), col("e").as("ec"))
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("ip",
        graft.functions.VectorFunctions.dot(col("eq"), col("ec")).cast("long"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ip").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("ip"))
      .orderBy("query_id", "rank")
  }

  /** [[embedTopK]] over the CTEs `embSql`, which end in `emb(doc_id, e)`. */
  private def embedTopKSql(embSql: String): String =
    s"""WITH $embSql,
                pairs AS (SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
                        CAST(list_sum(list_transform(range(0, 8), k ->
                          q.e[k + 1] * c.e[k + 1])) AS BIGINT) AS ip
                      FROM emb q JOIN emb c
                        ON q.doc_id % 50 = 0 AND q.doc_id < 500
                           AND c.doc_id != q.doc_id),
                rk AS (SELECT *, row_number() OVER (
                          PARTITION BY query_id ORDER BY ip DESC, neighbor_id) AS rnk
                      FROM pairs)
           SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id, ip
           FROM rk WHERE rnk <= 5 ORDER BY query_id, rank"""

  /** Doc `id`'s nf-frame animated GIF of gray `px(frame, x, y)`, encoded and
    * decoded back: (width, height, each frame's sum). */
  private def gifFrameSums(id: Long, nf: Int, px: (Int, Int, Int) => Int): (Int, Int, Array[Long]) = {
    val gif = graft.ext.Multimodal.encodeGifAnimated(
      (id % 9 + 4).toInt, (id * 3 % 7 + 4).toInt, nf, px)
    val (dw, dh, frames) = graft.ext.Multimodal.decodeGifFrames(gif)
      .getOrElse(sys.error(s"own animated GIF must decode (doc $id)"))
    (dw, dh, frames.map { pix =>
      var sum = 0L
      var k = 0
      while (k < pix.length) { sum += pix(k); k += 3 } // channel 0
      sum
    })
  }

  /** Doc `id`'s formula MP4 sample table through the real box walk:
    * (timescale, deltas, sizes ([[mp4SizesSql]]), 1-based sync samples). */
  private def mp4Samples(id: Long): (Int, Array[Int], Array[Int], Array[Int]) = {
    val ts = ((id % 4 + 1) * 600).toInt
    val nRuns = (id % 3 + 1).toInt
    val runs = Array.tabulate(nRuns) { j =>
      (((id + j * 7) % 5 + 1).toInt, ((id * 7 + j * 11) % 400 + 100).toInt)
    }
    val n = runs.map(_._1).sum
    val sizes = Array.tabulate(n)(i => ((id * 13 + i * 29) % 900 + 100).toInt)
    val ks = (id % 4 + 2).toInt
    val mp4 = graft.ext.Multimodal.encodeMp4(
      (id % 640 + 16).toInt, (id % 360 + 16).toInt, ts, runs, sizes, ks)
    graft.ext.Multimodal.decodeMp4Samples(mp4)
      .getOrElse(sys.error(s"own MP4 must decode (doc $id)"))
  }

  /** The first `n` sample sizes of `doc_id`'s [[mp4Samples]]. */
  private def mp4SizesSql(n: String): String =
    s"list_transform(range(0, $n), i -> (doc_id * 13 + i * 29) % 900 + 100)"

  def queries: Seq[Query] = Seq(
    // multimodal feature pipeline end-to-end, EXACTLY ORACLED: per doc a
    // real PNG is encoded from a SQL-expressible pixel formula (size,
    // channel count and scanline filter all vary with doc_id, exercising
    // every PNG filter), then the REAL pure-JVM pixel decoder
    // (Multimodal.decodePixels — JDK Inflater + filter reconstruction)
    // reads the pixels back and the batched feature extractor emits
    // per-channel means; resizePlan fits an 8×8 thumbnail box. The oracle
    // recomputes the means from the formula — green only if deflate
    // round-trip AND all five filter reconstructions are byte-correct.
    // mapPartitions batched decode: a map over the scan, no shuffle.
    Query("x_multimodal_features", (s, dir) => {
      import s.implicits._
      val media = docIds(s, dir)
        .map(id => graft.ext.Multimodal.MediaRow(id, formulaPng(id), "png"))
      def f(i: Int) = floor(element_at(col("features"), i + 1).cast("double") * 100 + lit(0.5))
        .cast("long").as(s"f${i}_centi")
      graft.ext.Multimodal.resizePlan(
        graft.ext.Multimodal.extractFeatures(media).toDF(), maxW = 8, maxH = 8)
        .select(col("id").as("doc_id"), col("width"), col("height"), col("n_frames"),
          col("out_w"), col("out_h"), f(0), f(1), f(2), f(3))
        .orderBy("doc_id")
    },
      // feature means + thumbnail plan from the same formula image; the
      // float cast mirrors the Spark side's Array[Float] feature vector
      {
        def f(c: Int) =
          s"""CAST(floor(CAST(CAST(CASE WHEN channels > $c
                   THEN CAST(sums[${c + 1}] AS DOUBLE) / (width * height)
                   ELSE 0.0 END AS REAL) AS DOUBLE) * 100 + 0.5) AS BIGINT) AS f${c}_centi"""
        s"""WITH $formulaPngSql,
                sc AS (SELECT *, round(least(8.0 / width, 8.0 / height, 1.0), 4) AS scale FROM s)
           SELECT doc_id, width, height, CAST(1 AS INTEGER) AS n_frames,
                  CAST(floor(width * scale) AS INTEGER) AS out_w,
                  CAST(floor(height * scale) AS INTEGER) AS out_h,
                  ${f(0)}, ${f(1)}, ${f(2)}, ${f(3)}
           FROM sc ORDER BY doc_id"""
      }),

    // REAL PNG pixel decode, exactly oracled at the sum level: encode the
    // formula image (filter type rotating over all five per row), decode
    // with Multimodal.decodePixels, emit exact per-channel pixel-value
    // sums; the oracle re-derives every sum from the formula over the
    // (x, y) grid. The strongest possible gate on the codec: one wrong
    // byte anywhere in inflate or unfiltering shifts a sum.
    Query("x_multimodal_pixels", (s, dir) => {
      import s.implicits._
      pixelSums(docIds(s, dir)
        .map(id => graft.ext.Multimodal.MediaRow(id, formulaPng(id), "png")), 4)
    },
      // the REAL PNG codec round-trip: per-channel pixel sums recomputed
      // from the same (doc_id, x, y, c) formula the Spark side encoded —
      // any inflate or filter-reconstruction defect shifts a sum
      s"""WITH $formulaPngSql
           SELECT doc_id, width, height, channels,
                  CAST(width AS BIGINT) * height AS n_pixels,
                  sums[1] AS c0_sum, sums[2] AS c1_sum, sums[3] AS c2_sum, sums[4] AS c3_sum
           FROM s ORDER BY doc_id"""),

    // REAL GIF LZW decode, exactly oracled: encode a formula grayscale
    // image per doc with the pure-JVM GIF87a encoder (real LZW —
    // variable-width codes, dictionary growth), decode it back through
    // Multimodal.decodePixels (palette → RGB), and emit exact channel
    // sums the oracle re-derives from the formula. GifCodecSpec pins the
    // codec against ImageIO in both directions (incl. interlace);
    // this row pins it against DuckDB arithmetic end-to-end.
    Query("x_multimodal_gif", (s, dir) => {
      import s.implicits._
      pixelSums(docIds(s, dir)
        .map { id =>
          val w = (id % 11 + 4).toInt; val h = (id * 5 % 9 + 4).toInt
          graft.ext.Multimodal.MediaRow(id, graft.ext.Multimodal.encodeGif(w, h,
            (x, y) => ((id * 37 + x * 11 + y * 17) % 256).toInt), "gif")
        }, 3)
    },
      // GIF: grayscale palette means all three channel sums equal the
      // formula's gray sum
      """WITH d AS (SELECT doc_id,
                        CAST(doc_id % 11 + 4 AS INTEGER) AS width,
                        CAST(doc_id * 5 % 9 + 4 AS INTEGER) AS height
                      FROM documents),
                s AS (SELECT doc_id, width, height,
                        CAST(list_sum(flatten(list_transform(range(0, width), x ->
                          list_transform(range(0, height), y ->
                            (doc_id * 37 + x * 11 + y * 17) % 256)))) AS BIGINT) AS gs
                      FROM d)
           SELECT doc_id, width, height, CAST(3 AS INTEGER) AS channels,
                  CAST(width AS BIGINT) * height AS n_pixels,
                  gs AS c0_sum, gs AS c1_sum, gs AS c2_sum
           FROM s ORDER BY doc_id"""),

    // REAL baseline JPEG decode (huffman + dequant + islow IDCT + YCbCr),
    // exactly oracled despite the codec being lossy: each doc's image is
    // CONSTANT per 8x8 block and the quantizer is all-ones, so the
    // roundtrip is mathematically lossless (a constant block's FDCT is
    // DC-only and a correctly-rounded IDCT reconstructs it exactly) —
    // the decoded channel sums are formula-derivable in DuckDB with no
    // decoder in the loop. Even docs are grayscale; odd docs are RGB with
    // R=G=B (the fixed-point color transform is exact on gray: Y = v,
    // Cb = Cr = 128 — so all three sums equal the gray sum).
    // JpegCodecSpec pins the codec bit-exactly against the JDK's
    // independent libjpeg-based ImageIO in BOTH directions, including
    // general content and 4:2:0 fancy upsampling. Every third doc encodes
    // PROGRESSIVE (SOF2 — DC successive approximation + spectral AC bands
    // with EOB runs, ProgressiveJpegSpec): the transmission order changes,
    // the quantized coefficients don't, so the same formula oracle pins
    // both entropy layouts.
    Query("x_multimodal_jpeg", (s, dir) => {
      import s.implicits._
      pixelSums(docIds(s, dir)
        .map { id =>
          val wb = (id % 3 + 1).toInt; val hb = (id * 3 % 4 + 1).toInt
          val ch = if (id % 2 == 0) 1 else 3
          val enc: (Int, Int, Int, (Int, Int, Int) => Int, Array[Int]) => Array[Byte] =
            if (id % 3 == 0) graft.ext.Jpeg.encodeProgressive(_, _, _, _, _)
            else graft.ext.Jpeg.encode
          graft.ext.Multimodal.MediaRow(id, enc(wb * 8, hb * 8, ch,
            (x, y, _) => ((id * 29 + (x / 8) * 31 + (y / 8) * 47) % 256).toInt,
            graft.ext.Jpeg.qUnit), "jpeg")
        }, 3)
    },
      // JPEG: constant 8x8 blocks + unit quantizer = lossless roundtrip;
      // channel sum = 64 * sum of the per-block formula values; gray docs
      // have null c1/c2, RGB docs (R=G=B) repeat the gray sum
      """WITH d AS (SELECT doc_id,
                        CAST(doc_id % 3 + 1 AS INTEGER) AS wb,
                        CAST(doc_id * 3 % 4 + 1 AS INTEGER) AS hb,
                        CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS INTEGER) AS channels
                      FROM documents),
                s AS (SELECT doc_id, wb * 8 AS width, hb * 8 AS height, channels,
                        CAST(64 * list_sum(flatten(list_transform(range(0, wb), bx ->
                          list_transform(range(0, hb), by ->
                            (doc_id * 29 + bx * 31 + by * 47) % 256)))) AS BIGINT) AS gs
                      FROM d)
           SELECT doc_id, width, height, channels,
                  CAST(width AS BIGINT) * height AS n_pixels,
                  gs AS c0_sum,
                  CASE WHEN channels = 3 THEN gs END AS c1_sum,
                  CASE WHEN channels = 3 THEN gs END AS c2_sum
           FROM s ORDER BY doc_id"""),

    // REAL WAV PCM decode, exactly oracled: per doc a formula-synthesized
    // tone (8-bit for doc_id%3=0, else 16-bit; mono/stereo by doc_id%2)
    // is encoded with the pure-JVM WAV writer, decoded back through
    // Multimodal.decodeWavSamples, and reduced to exact per-channel
    // INTEGER stats — sum, energy (Σv²), peak |v|, zero-crossings — that
    // the oracle re-derives from the same (doc_id, frame, channel)
    // formula. One wrong byte in the RIFF walk, the sign handling
    // (8-bit unsigned vs 16-bit two's-complement) or the interleave
    // shifts a stat. AudioVideoSpec additionally pins the codec against
    // the JDK's independent javax.sound reader. Scan-shaped: batched
    // mapPartitions, no shuffle at any corpus size.
    Query("x_multimodal_audio", (s, dir) => {
      import s.implicits._
      val media = docIds(s, dir)
        .map(id => graft.ext.Multimodal.MediaRow(id,
          toneWav(id, (id % 8 * 4000 + 8000).toInt), "wav"))
      graft.ext.Multimodal.audioStats(media).toDF()
        .select(col("id").as("doc_id"), col("sample_rate"), col("bits"), col("channels"),
          col("n_frames"), col("c0_sum"), col("c0_sq"), col("c0_peak"), col("c0_zc"),
          col("c1_sum"), col("c1_sq"), col("c1_peak"), col("c1_zc"))
        .orderBy("doc_id")
    },
      // WAV PCM roundtrip: per-channel sum/energy/peak/zero-crossings
      // re-derived from the tone formula — the decoder's sign handling,
      // RIFF walk and channel interleave all pin here
      """WITH d AS (SELECT doc_id,
                        CAST(CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS INTEGER) AS bits,
                        CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
                        CAST(doc_id % 8 * 4000 + 8000 AS INTEGER) AS sample_rate,
                        CAST(doc_id % 50 + 20 AS BIGINT) AS n_frames
                      FROM documents),
                s AS (SELECT *,
                        list_transform(range(0, 2), c ->
                          CASE WHEN c < channels THEN
                            list_transform(range(0, n_frames), f ->
                              CASE WHEN bits = 8 THEN (doc_id * 7 + f * 13 + c * 37) % 241 - 120
                                   ELSE (doc_id * 31 + f * 17 + c * 97) % 4001 - 2000 END)
                          END) AS ss
                      FROM d)
           SELECT doc_id, sample_rate, bits, channels, n_frames,
                  CAST(list_sum(ss[1]) AS BIGINT) AS c0_sum,
                  CAST(list_sum(list_transform(ss[1], v -> v * v)) AS BIGINT) AS c0_sq,
                  CAST(list_max(list_transform(ss[1], v -> abs(v))) AS BIGINT) AS c0_peak,
                  CAST(len(list_filter(range(1, CAST(n_frames AS INTEGER)),
                       f -> (ss[1][f] < 0) != (ss[1][f + 1] < 0))) AS BIGINT) AS c0_zc,
                  CAST(list_sum(ss[2]) AS BIGINT) AS c1_sum,
                  CAST(list_sum(list_transform(ss[2], v -> v * v)) AS BIGINT) AS c1_sq,
                  CAST(list_max(list_transform(ss[2], v -> abs(v))) AS BIGINT) AS c1_peak,
                  CASE WHEN channels = 2 THEN
                    CAST(len(list_filter(range(1, CAST(n_frames AS INTEGER)),
                         f -> (ss[2][f] < 0) != (ss[2][f + 1] < 0))) AS BIGINT) END AS c1_zc
           FROM s ORDER BY doc_id"""),

    // decode → embed → top-k, fully REAL end to end: each doc's formula
    // PNG is pixel-decoded, pooled into 4×2 integer patch sums and
    // projected to 8 dims (Multimodal.imageEmbed — every step integer
    // arithmetic), then each query image retrieves its top-5 corpus
    // neighbors by EXACT inner product (integer dot, ties by id). The
    // oracle replays decode-free: embeddings re-derived from the pixel
    // FORMULA, so the row is green only if decode, pooling, projection
    // and retrieval are all exact. Plan: embeddings are a scan-map; the
    // query side broadcasts; the only shuffle is the per-query top-k
    // window over |Q|·|C| scored pairs. The query set is BOUNDED
    // (doc_id < 500 — fixed 10 queries at every SF, the x_label_noise
    // audit-set convention): a corpus-proportional query set made
    // |Q|·|C| quadratic, and the sf1 scaling point measured exactly
    // that (141 s, ratio2 153) before the bound; corpus-scale query
    // loads belong on the gated IVF/LSH candidate paths.
    Query("x_image_embed_topk", (s, dir) => {
      import s.implicits._
      embedTopK(docIds(s, dir)
        .map { id =>
          val (dw, dh, dch, pix) = graft.ext.Multimodal.decodePixels(formulaPng(id))
            .getOrElse(sys.error(s"own PNG must decode (doc $id)"))
          (id, graft.ext.Multimodal.imageEmbed(dw, dh, dch, pix).map(_.toDouble))
        }.toDF("id", "e"))
    },
      // decode → embed → retrieve replayed decode-free: the oracle
      // re-derives each embedding from the pixel formula (4×2 patch sums
      // of channel 0 under the fixed integer projection), then ranks
      // exact integer inner products
      embedTopKSql("""d AS (SELECT doc_id,
                        CAST(doc_id % 13 + 4 AS INTEGER) AS w,
                        CAST(doc_id * 3 % 11 + 4 AS INTEGER) AS h
                      FROM documents),
                cells AS (SELECT doc_id,
                        list_transform(range(0, 8), j ->
                          list_sum(flatten(list_transform(range(0, w), x ->
                            list_transform(range(0, h), y ->
                              CASE WHEN (y * 2 // h) * 4 + (x * 4 // w) = j
                                THEN (doc_id * 31 + x * 7 + y * 13) % 256 ELSE 0 END))))) AS cs
                      FROM d),
                emb AS (SELECT doc_id,
                        list_transform(range(0, 8), k ->
                          list_sum(list_transform(range(0, 8), j ->
                            ((k * 7 + j * 3) % 5 - 2) * cs[j + 1]))) AS e
                      FROM cells)""")),

    // the audio twin of x_image_embed_topk — decode → envelope-embed →
    // retrieve, fully REAL end to end: each doc's formula PCM tone is
    // WAV-encoded, sample-decoded back, pooled into the 8-window integer
    // loudness envelope (Multimodal.audioEmbed), and a BOUNDED 10-query
    // audit set retrieves top-5 corpus clips by EXACT integer inner
    // product. The oracle replays decode-free from the tone formula —
    // green only if the RIFF walk, sign handling, interleave AND the
    // envelope pooling are all exact. Same plan shape: scan-map
    // embeddings, broadcast query side, one top-k window.
    Query("x_audio_embed_topk", (s, dir) => {
      import s.implicits._
      embedTopK(docIds(s, dir)
        .map { id =>
          val (_, _, dch, samples) = graft.ext.Multimodal.decodeWavSamples(toneWav(id, 8000))
            .getOrElse(sys.error(s"own WAV must decode (doc $id)"))
          (id, graft.ext.Multimodal.audioEmbed(dch, samples).map(_.toDouble))
        }.toDF("id", "e"))
    },
      // the audio twin: 8-window loudness envelope re-derived from the
      // tone formula (window of frame f = f*8//nf), exact integer dots
      embedTopKSql("""d AS (SELECT doc_id,
                        CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS bits,
                        CAST(doc_id % 50 + 20 AS BIGINT) AS nf
                      FROM documents),
                emb AS (SELECT doc_id,
                        list_transform(range(0, 8), k ->
                          list_sum(list_transform(range(0, nf), f ->
                            CASE WHEN f * 8 // nf = k THEN
                              abs(CASE WHEN bits = 8
                                THEN (doc_id * 7 + f * 13) % 241 - 120
                                ELSE (doc_id * 31 + f * 17) % 4001 - 2000 END)
                            ELSE 0 END))) AS e
                      FROM d)""")),

    // REAL multi-frame video decode, exactly oracled: each doc carries a
    // formula ANIMATED GIF (per-frame full-canvas images; the pure-JVM
    // encoder writes real GCE/NETSCAPE extensions and per-frame LZW
    // streams), Multimodal.decodeGifFrames LZW-decodes EVERY frame, and
    // the per-frame exact gray sums come back out — with a stride-2
    // sampled flag tying the row set to the frame-sampling schedule. The
    // oracle re-derives every frame sum from the (frame, x, y) formula;
    // AudioVideoSpec additionally pins the frames against the JDK's
    // frame-by-frame GIF ImageReader. Scan-shaped: flatMap over the doc
    // scan, no shuffle before the cosmetic sort.
    Query("x_multimodal_video", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .flatMap { id =>
          val (dw, dh, sums) = gifFrameSums(id, (id % 6 + 2).toInt,
            (f, x, y) => ((id * 23 + f * 53 + x * 11 + y * 17) % 256).toInt)
          sums.iterator.zipWithIndex.map { case (sum, f) =>
            (id, f, dw, dh, sums.length, f % 2 == 0, sum)
          }
        }
        .toDF("doc_id", "frame_idx", "width", "height", "n_frames", "sampled", "c0_sum")
        .orderBy("doc_id", "frame_idx")
    },
      // every animated-GIF frame's exact gray sum re-derived from the
      // (frame, x, y) formula — green only if the multi-frame walk and
      // every frame's LZW stream decode exactly
      """WITH d AS (SELECT doc_id,
                        CAST(doc_id % 9 + 4 AS INTEGER) AS width,
                        CAST(doc_id * 3 % 7 + 4 AS INTEGER) AS height,
                        CAST(doc_id % 6 + 2 AS INTEGER) AS n_frames
                      FROM documents),
                fr AS (SELECT doc_id, width, height, n_frames,
                        CAST(unnest(range(0, n_frames)) AS INTEGER) AS frame_idx
                      FROM d)
           SELECT doc_id, frame_idx, width, height, n_frames,
                  frame_idx % 2 = 0 AS sampled,
                  CAST(list_sum(flatten(list_transform(range(0, width), x ->
                    list_transform(range(0, height), y ->
                      (doc_id * 23 + frame_idx * 53 + x * 11 + y * 17) % 256)))) AS BIGINT)
                    AS c0_sum
           FROM fr ORDER BY doc_id, frame_idx"""),

    // video scene-cut detection — the composition the frame decoder
    // exists for: per-frame exact gray sums from the REAL animated-GIF
    // decode, a per-video lag window over frame order, and an integer
    // threshold (64·w·h) that separates the planted cut's +128/pixel jump
    // from the ≤15/pixel within-segment flicker. The oracle re-derives
    // every frame sum from the formula (base sum is frame-independent,
    // flicker and cut terms are closed-form) and replays the lag —
    // green only if every frame's LZW stream decodes exactly. One
    // per-video window after a scan-shaped decode; no other shuffle.
    Query("x_video_scenecut", (s, dir) => {
      import s.implicits._
      val sums = docIds(s, dir)
        .flatMap { id =>
          val nf = (id % 5 + 3).toInt
          val cut = (id % (nf - 1) + 1).toInt
          val (dw, dh, sums) = gifFrameSums(id, nf,
            (f, x, y) => ((id * 23 + x * 11 + y * 17) % 112).toInt
              + (f * 7 % 16) + (if (f >= cut) 128 else 0))
          sums.iterator.zipWithIndex.map { case (sum, f) => (id, f, dw, dh, sums.length, sum) }
        }
        .toDF("doc_id", "frame_idx", "width", "height", "n_frames", "c0_sum")
      val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
      sums
        .withColumn("delta", abs(col("c0_sum") - lag(col("c0_sum"), 1).over(w)))
        .filter(col("delta") > lit(64L) * col("width") * col("height"))
        .select(col("doc_id"), col("frame_idx").as("cut_frame"), col("n_frames"), col("delta"))
        .orderBy("doc_id", "cut_frame")
    },
      // scene-cut replay: frame sums re-derived in closed form (the base
      // grid sum is frame-independent; flicker and the planted cut are
      // per-frame scalars), then the same lag + integer threshold
      """WITH d AS (SELECT doc_id,
                        CAST(doc_id % 9 + 4 AS INTEGER) AS width,
                        CAST(doc_id * 3 % 7 + 4 AS INTEGER) AS height,
                        CAST(doc_id % 5 + 3 AS INTEGER) AS n_frames,
                        CAST(doc_id % (doc_id % 5 + 2) + 1 AS INTEGER) AS cut
                      FROM documents),
                base AS (SELECT doc_id, width, height, n_frames, cut,
                        CAST(list_sum(flatten(list_transform(range(0, width), x ->
                          list_transform(range(0, height), y ->
                            (doc_id * 23 + x * 11 + y * 17) % 112)))) AS BIGINT) AS bs
                      FROM d),
                fr AS (SELECT doc_id, width, height, n_frames,
                        CAST(unnest(range(0, n_frames)) AS INTEGER) AS f,
                        bs, cut
                      FROM base),
                s AS (SELECT doc_id, width, height, n_frames, f,
                        bs + CAST(width AS BIGINT) * height * (f * 7 % 16)
                           + CASE WHEN f >= cut THEN CAST(128 AS BIGINT) * width * height
                                  ELSE 0 END AS c0_sum
                      FROM fr),
                lagd AS (SELECT doc_id, f, n_frames,
                        abs(c0_sum - lag(c0_sum) OVER (PARTITION BY doc_id ORDER BY f)) AS delta,
                        CAST(64 AS BIGINT) * width * height AS thr
                      FROM s)
           SELECT doc_id, f AS cut_frame, n_frames, delta
           FROM lagd WHERE delta > thr ORDER BY doc_id, cut_frame"""),

    // autocorrelation pitch detection over REAL decoded PCM: each doc
    // plants an exactly-periodic tone (period P = doc_id%8+4 samples of
    // odd — hence never-zero — values), the WAV round-trips through the
    // pure-JVM codec, and the engine sweeps integer autocorrelations
    // r(l) = Σ s(f)·s(f+l) for lags 2..16, picking the argmax per clip.
    // r(P) sums aligned squares while every misaligned lag sums mismatch
    // cross-terms, so the winning lag recovers the planted period; the
    // oracle re-derives every r(l) from the tone formula and replays the
    // same argmax (ties by smaller lag) — green only if the decode and
    // the lag algebra are exact. Plan: the lag sweep is emitted as rows
    // from the scan-shaped decode (no per-row driver math to trust); the
    // only shuffle is the per-clip argmax window.
    Query("x_audio_pitch", (s, dir) => {
      import s.implicits._
      val lagged = docIds(s, dir)
        .flatMap { id =>
          val p = (id % 8 + 4).toInt
          val n = (id % 40 + 60).toInt
          // quadratic phase term: a pure linear phase (j·a mod 100) makes
          // the within-period waveform a smooth ramp whose lag-2
          // autocorrelation beats the aligned lag — j² scrambles it, and
          // measured detection is then exact on every id
          val sample: (Int, Int) => Int =
            (f, _) => {
              val j = (f % p).toLong
              2 * ((id * 31 + j * j * 41 + j * 97) % 100).toInt + 1 - 100
            }
          val wav = graft.ext.Multimodal.encodeWav(8000, 16, 1, n, sample)
          val (_, _, _, ss) = graft.ext.Multimodal.decodeWavSamples(wav)
            .getOrElse(sys.error(s"own WAV must decode (doc $id)"))
          var energy = 0L
          var f = 0
          while (f < ss.length) { energy += ss(f).toLong * ss(f); f += 1 }
          (2 to 16).iterator.map { lag =>
            var r = 0L
            var i = 0
            while (i + lag < ss.length) { r += ss(i).toLong * ss(i + lag); i += 1 }
            (id, n, lag, r, energy)
          }
        }
        .toDF("doc_id", "n_frames", "lag", "r", "energy")
      val w = Window.partitionBy(col("doc_id")).orderBy(col("r").desc, col("lag").asc)
      lagged.withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
        .select(col("doc_id"), col("n_frames"), col("lag").as("best_lag"),
          col("r").as("r_best"), col("energy"))
        .orderBy("doc_id")
    },
      // pitch replay: every lag's autocorrelation re-derived from the
      // periodic tone formula, then the same argmax (ties by smaller lag)
      """WITH d AS (SELECT doc_id,
                        CAST(doc_id % 8 + 4 AS INTEGER) AS p,
                        CAST(doc_id % 40 + 60 AS INTEGER) AS n
                      FROM documents),
                s AS (SELECT doc_id, n,
                        list_transform(range(0, n), f ->
                          2 * ((doc_id * 31 + (f % p) * (f % p) * 41 + (f % p) * 97) % 100)
                            + 1 - 100) AS ss
                      FROM d),
                lg AS (SELECT doc_id, n, ss,
                        CAST(unnest(range(2, 17)) AS INTEGER) AS lag
                      FROM s),
                rc AS (SELECT doc_id, n, lag,
                        CAST(list_sum(list_transform(range(1, n - lag + 1), f ->
                          ss[f] * ss[f + lag])) AS BIGINT) AS r,
                        CAST(list_sum(list_transform(ss, v -> v * v)) AS BIGINT) AS energy
                      FROM lg),
                rk AS (SELECT *, row_number() OVER (
                          PARTITION BY doc_id ORDER BY r DESC, lag) AS rnk
                      FROM rc)
           SELECT doc_id, n AS n_frames, lag AS best_lag, r AS r_best, energy
           FROM rk WHERE rnk = 1 ORDER BY doc_id"""),

    // anti-aliased audio downsample (boxcar decimation), exactly oracled:
    // the decoded 16-bit clip is reduced by a per-doc factor 2..4 via
    // EXACT block sums (Multimodal.downsampleSums — the unnormalized
    // boxcar keeps sum, energy and peak integer), and the per-channel
    // stats of the DOWNSAMPLED signal come out. Energy of block sums
    // Σ(Σ_j s)² is a genuinely post-resample quantity no pre-resample
    // stat equals, so the row is green only if the decode, the
    // interleave and the block algebra are all exact. Scan-shaped:
    // batched map over the doc scan, no shuffle before the cosmetic sort.
    Query("x_audio_resample", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val nch = (id % 2 + 1).toInt
          val n = (id % 50 + 40).toInt
          val k = (id % 3 + 2).toInt
          val sample: (Int, Int) => Int =
            (f, c) => ((id * 31 + f * 17 + c * 97) % 4001).toInt - 2000
          val wav = graft.ext.Multimodal.encodeWav(8000, 16, nch, n, sample)
          val (_, _, dch, ss) = graft.ext.Multimodal.decodeWavSamples(wav)
            .getOrElse(sys.error(s"own WAV must decode (doc $id)"))
          val blocks = graft.ext.Multimodal.downsampleSums(dch, ss, k)
          def stat(c: Int): (java.lang.Long, java.lang.Long, java.lang.Long) =
            if (c < dch) {
              val b = blocks(c)
              var sum = 0L; var sq = 0L; var peak = 0L
              var i = 0
              while (i < b.length) {
                sum += b(i); sq += b(i) * b(i)
                if (math.abs(b(i)) > peak) peak = math.abs(b(i))
                i += 1
              }
              (java.lang.Long.valueOf(sum), java.lang.Long.valueOf(sq),
                java.lang.Long.valueOf(peak))
            } else (null, null, null)
          val (s0, q0, p0) = stat(0); val (s1, q1, p1) = stat(1)
          (id, n, k, n / k, s0, q0, p0, s1, q1, p1)
        }
        .toDF("doc_id", "n_in", "factor", "n_out",
          "c0_sum", "c0_energy", "c0_peak", "c1_sum", "c1_energy", "c1_peak")
        .orderBy("doc_id")
    },
      // downsample replay: block sums re-derived from the tone formula —
      // Σ(Σ_j s)² only matches if decode, interleave and blocking are exact
      """WITH d AS (SELECT doc_id,
                        CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
                        CAST(doc_id % 50 + 40 AS INTEGER) AS n_in,
                        CAST(doc_id % 3 + 2 AS INTEGER) AS factor
                      FROM documents),
                b AS (SELECT doc_id, channels, n_in, factor, n_in // factor AS n_out,
                        list_transform(range(0, 2), c ->
                          CASE WHEN c < channels THEN
                            list_transform(range(0, n_in // factor), i ->
                              list_sum(list_transform(range(0, factor), j ->
                                (doc_id * 31 + (i * factor + j) * 17 + c * 97) % 4001 - 2000)))
                          END) AS bs
                      FROM d)
           SELECT doc_id, n_in, factor, CAST(n_out AS INTEGER) AS n_out,
                  CAST(list_sum(bs[1]) AS BIGINT) AS c0_sum,
                  CAST(list_sum(list_transform(bs[1], v -> v * v)) AS BIGINT) AS c0_energy,
                  CAST(list_max(list_transform(bs[1], v -> abs(v))) AS BIGINT) AS c0_peak,
                  CAST(list_sum(bs[2]) AS BIGINT) AS c1_sum,
                  CAST(list_sum(list_transform(bs[2], v -> v * v)) AS BIGINT) AS c1_energy,
                  CAST(list_max(list_transform(bs[2], v -> abs(v))) AS BIGINT) AS c1_peak
           FROM b ORDER BY doc_id"""),

    // REAL MP4 sample-table decode, exactly oracled: each doc carries a
    // constructed ISO-BMFF file whose stbl holds a formula-driven stts
    // (run-length time-to-sample), per-sample stsz sizes and an every-k
    // stss sync table; Multimodal.decodeMp4Samples walks
    // moov→trak→mdia→minf→stbl and the per-track totals come back out —
    // the sample-level video metadata pass (duration, bytes, keyframe
    // density) a pipeline runs before committing to a frame decode. The
    // oracle re-derives every total from the run/size formulas in closed
    // form — green only if the box walk, the stts expansion and the
    // 1-based stss enumeration are exact. Scan-shaped: batched map over
    // the doc scan, no shuffle before the cosmetic sort.
    Query("x_video_samples", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val (dts, deltas, dsizes, sync) = mp4Samples(id)
          var dur = 0L
          deltas.foreach(dur += _)
          var bytes = 0L; var mx = 0L
          dsizes.foreach { v => bytes += v; if (v > mx) mx = v }
          (id, dts, deltas.length.toLong, dur, bytes, mx, sync.length.toLong)
        }
        .toDF("doc_id", "timescale", "n_samples", "total_duration",
          "total_bytes", "max_size", "n_keyframes")
        .orderBy("doc_id")
    },
      // sample-table replay: stts run totals, stsz sums/max and the
      // every-k stss count re-derived in closed form from the formulas
      s"""WITH d AS (SELECT doc_id,
                        CAST((doc_id % 4 + 1) * 600 AS INTEGER) AS timescale,
                        CAST(doc_id % 3 + 1 AS INTEGER) AS r,
                        CAST(doc_id % 4 + 2 AS INTEGER) AS ks
                      FROM documents),
                runs AS (SELECT doc_id, timescale, r, ks,
                        list_transform(range(0, r), j -> (doc_id + j * 7) % 5 + 1) AS cnts,
                        list_transform(range(0, r), j -> (doc_id * 7 + j * 11) % 400 + 100) AS dels
                      FROM d),
                agg AS (SELECT doc_id, timescale, ks,
                        CAST(list_sum(cnts) AS BIGINT) AS n_samples,
                        CAST(list_sum(list_transform(range(1, r + 1), j ->
                          cnts[j] * dels[j])) AS BIGINT) AS total_duration
                      FROM runs),
                sz AS (SELECT doc_id, timescale, n_samples, total_duration, ks,
                        ${mp4SizesSql("CAST(n_samples AS INTEGER)")} AS sizes
                      FROM agg)
           SELECT doc_id, timescale, n_samples, total_duration,
                  CAST(list_sum(sizes) AS BIGINT) AS total_bytes,
                  CAST(list_max(sizes) AS BIGINT) AS max_size,
                  CAST((n_samples - 1) // ks + 1 AS BIGINT) AS n_keyframes
           FROM sz ORDER BY doc_id"""),

    // bitrate/GOP analysis over the DECODED sample table — the relational
    // composition the stbl decoder exists for: per-sample (delta, size,
    // keyframe) rows from the real ISO-BMFF walk, then a trailing 4-sample
    // byte window (burst peak), keyframe-prefix GOP segmentation and
    // per-GOP byte totals — all exact integers the oracle re-derives from
    // the size/sync formulas in closed form. Plan: ONE doc-hash shuffle
    // feeds both windows AND the final per-doc aggregate (the (doc, gop)
    // window and the doc groupBy both reuse hashpartitioning(doc_id));
    // only the cosmetic sort adds an exchange — pinned in PlanSpec.
    Query("x_video_bitrate", (s, dir) => {
      import s.implicits._
      val samples = docIds(s, dir)
        .flatMap { id =>
          val (_, deltas, dsizes, sync) = mp4Samples(id)
          val syncSet = sync.toSet
          dsizes.iterator.zipWithIndex.map { case (sz, i) =>
            (id, i, deltas(i), sz, syncSet.contains(i + 1))
          }
        }
        .toDF("doc_id", "sample_idx", "delta", "size", "keyframe")
      val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("sample_idx"))
      val enriched = samples
        .withColumn("win4_bytes", sum(col("size")).over(wOrd.rowsBetween(-3, 0)))
        .withColumn("gop_id",
          sum(when(col("keyframe"), 1L).otherwise(0L)).over(wOrd) - 1)
      val withGop = enriched.withColumn("gop_bytes",
        sum(col("size")).over(Window.partitionBy(col("doc_id"), col("gop_id"))))
      withGop.groupBy("doc_id").agg(
        count(lit(1)).as("n_samples"),
        sum("size").as("total_bytes"),
        max("win4_bytes").as("max_win4_bytes"),
        (max("gop_id") + 1).as("n_gops"),
        max("gop_bytes").as("max_gop_bytes"))
        .orderBy("doc_id")
    },
      // bitrate replay: burst windows, GOP membership (i // ks) and byte
      // totals re-derived from the size/sync formulas in closed form
      s"""WITH d AS (SELECT doc_id,
                        CAST(doc_id % 3 + 1 AS INTEGER) AS r,
                        CAST(doc_id % 4 + 2 AS INTEGER) AS ks
                      FROM documents),
                agg AS (SELECT doc_id, ks,
                        CAST(list_sum(list_transform(range(0, r), j ->
                          (doc_id + j * 7) % 5 + 1)) AS INTEGER) AS n
                      FROM d),
                sz AS (SELECT doc_id, ks, n, ${mp4SizesSql("n")} AS sizes FROM agg)
           SELECT doc_id,
                  CAST(n AS BIGINT) AS n_samples,
                  CAST(list_sum(sizes) AS BIGINT) AS total_bytes,
                  CAST(list_max(list_transform(range(0, n), i ->
                    list_sum(list_transform(
                      range(CASE WHEN i >= 3 THEN i - 3 ELSE 0 END, i + 1),
                      j -> sizes[j + 1])))) AS BIGINT) AS max_win4_bytes,
                  CAST((n - 1) // ks + 1 AS BIGINT) AS n_gops,
                  CAST(list_max(list_transform(range(0, (n - 1) // ks + 1), g ->
                    list_sum(list_transform(range(0, n), i ->
                      CASE WHEN i // ks = g THEN sizes[i + 1] ELSE 0 END))))
                    AS BIGINT) AS max_gop_bytes
           FROM sz ORDER BY doc_id"""),

    // audio onset detection over REAL decoded PCM — the event-
    // segmentation composition the block algebra exists for (the audio
    // twin of x_video_scenecut): each clip is quiet flicker until a
    // planted block boundary, loud after; the engine decodes the WAV,
    // emits per-4-frame-block EXACT energies from the scan, and the
    // first block over an integer threshold (500 000 — quiet blocks cap
    // at 1 600, loud blocks start at 1 000 000, so the margin is
    // structural, not tuned) recovers the planted onset. The oracle
    // re-derives every block energy from the tone formula and replays
    // the same min-over-threshold. One map-side-combined groupBy.
    Query("x_audio_onset", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .flatMap { id =>
          val n = (id % 40 + 64).toInt
          val b = (id % 8 + 4).toInt // onset block (4 frames per block)
          val sample: (Int, Int) => Int = (f, _) =>
            if (f / 4 >= b) ((id * 31 + f * 17) % 2000).toInt + 500
            else ((id * 7 + f * 13) % 41).toInt - 20
          val wav = graft.ext.Multimodal.encodeWav(8000, 16, 1, n, sample)
          val (_, _, _, ss) = graft.ext.Multimodal.decodeWavSamples(wav)
            .getOrElse(sys.error(s"own WAV must decode (doc $id)"))
          (0 until ss.length / 4).iterator.map { i =>
            var e = 0L
            var j = 0
            while (j < 4) { e += ss(4 * i + j).toLong * ss(4 * i + j); j += 1 }
            (id, i, e)
          }
        }
        .toDF("doc_id", "block_idx", "energy")
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_blocks"),
          min(when(col("energy") > 500000L, col("block_idx"))).as("onset_block"),
          sum("energy").as("total_energy"))
        .orderBy("doc_id")
    },
      // onset replay: block energies re-derived from the two-regime tone
      // formula, then the same min-over-threshold
      """WITH d AS (SELECT doc_id,
                        (CAST(doc_id % 40 + 64 AS INTEGER)) // 4 AS nb,
                        CAST(doc_id % 8 + 4 AS INTEGER) AS b
                      FROM documents),
                e AS (SELECT doc_id, nb,
                        list_transform(range(0, nb), i ->
                          list_sum(list_transform(range(0, 4), j ->
                            CASE WHEN i >= b
                              THEN ((doc_id * 31 + (4 * i + j) * 17) % 2000 + 500)
                                 * ((doc_id * 31 + (4 * i + j) * 17) % 2000 + 500)
                              ELSE ((doc_id * 7 + (4 * i + j) * 13) % 41 - 20)
                                 * ((doc_id * 7 + (4 * i + j) * 13) % 41 - 20) END))) AS es
                      FROM d)
           SELECT doc_id, CAST(nb AS BIGINT) AS n_blocks,
                  CAST(list_min(list_filter(range(0, nb), i -> es[i + 1] > 500000))
                    AS INTEGER) AS onset_block,
                  CAST(list_sum(es) AS BIGINT) AS total_energy
           FROM e ORDER BY doc_id"""),

    // multimodal metadata plumbing: payload bytes → shape/frames metadata.
    // frame-sampling SCHEDULE: k=4 uniformly spaced frame indices per media
    // item — the deterministic half of video frame-sampling (which frames
    // to decode), fully oracled; the frame decode itself is
    // x_multimodal_video's real animated-GIF decoder.
    // sequence→transform→posexplode: per-row, no shuffle, the schedule
    // generation is scan-speed at any corpus size
    Query("x_multimodal_framesample", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          (floor(expr("octet_length(text)") / lit(100.0)).cast("bigint") + 1).as("n_frames"))
        .select(col("doc_id"), col("n_frames"),
          posexplode(transform(sequence(lit(0), lit(3)),
            i => floor(i * col("n_frames") / lit(4.0)).cast("bigint"))).as(Seq("slot", "frame_idx")))
        .orderBy("doc_id", "slot"),
      """WITH m AS (SELECT doc_id,
                        CAST(floor(octet_length(encode(text)) / 100.0) AS BIGINT) + 1 AS n_frames
                      FROM documents),
                s AS (SELECT doc_id, n_frames, unnest(range(4)) AS slot FROM m)
           SELECT doc_id, n_frames, CAST(slot AS INTEGER) AS slot,
                  CAST(floor(slot * n_frames / 4.0) AS BIGINT) AS frame_idx
           FROM s ORDER BY doc_id, slot"""),

    Query("x_multimodal_meta", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        expr("octet_length(text)").cast("bigint").as("n_bytes"),
        (floor(expr("octet_length(text)") / lit(100.0)).cast("bigint") + 1).as("n_frames"),
        round((floor(expr("octet_length(text)") / lit(100.0)) + 1) / lit(24.0), 4).as("est_seconds")
      ).orderBy("doc_id"),
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                  CAST(floor(octet_length(encode(text)) / 100.0) AS BIGINT) + 1 AS n_frames,
                  round((floor(octet_length(encode(text)) / 100.0) + 1) / 24.0, 4) AS est_seconds
           FROM documents ORDER BY doc_id"""),

    // REAL container decode, exactly oracled: doc_id%6 picks
    // PNG/BMP/GIF/WAV/MP4/JPEG, dimensions derive from doc_id, and the
    // payload is a genuine format header (hex → unhex bytes). The
    // pure-JVM header parser (Multimodal.decodeHeader, batched
    // mapPartitions) reads width/height/channels BACK OUT OF THE BYTES;
    // the oracle recomputes them from doc_id arithmetic — the row is
    // green only if the decoder actually parses PNG big-endian IHDR, BMP
    // little-endian BITMAPINFOHEADER, GIF logical-screen fields, the WAV
    // fmt chunk, and the MP4 box tree (moov→mvhd duration, trak→tkhd
    // 16.16 dims) correctly.
    Query("x_multimodal_decode", (s, dir) => {
      import s.implicits._
      val w = (col("doc_id") % 1000 + 16).cast("int")
      val h = ((col("doc_id") * 7) % 1000 + 16).cast("int")
      def be32(c: Column) = lpad(lower(hex(c)), 8, "0")
      def le16(c: Column) = concat(
        lpad(lower(hex(pmod(c, lit(256)))), 2, "0"),
        lpad(lower(hex(floor(c / lit(256)).cast("int"))), 2, "0"))
      def le32(c: Column) = concat(le16(c), lit("0000"))
      val sr = (col("doc_id") % 8 * 4000 + 8000).cast("int") // 8k..36k Hz
      val nch = (col("doc_id") % 2 + 1).cast("int")
      def be16(c: Column) = lpad(lower(hex(c)), 4, "0")
      // MP4 fixed pieces: identity transform matrix, mvhd timescale 1000
      // so duration(ms) = seconds * 1000; box sizes are v0 constants
      val mtx = "00010000" + "00000000" * 3 + "00010000" + "00000000" * 3 + "40000000"
      val durMs = ((col("doc_id") % 30 + 1) * 1000).cast("int")
      val hexPayload = when(col("doc_id") % 6 === 0, // PNG: sig + IHDR(len,type,13 data) + crc
          concat(lit("89504e470d0a1a0a" + "0000000d" + "49484452"),
            be32(w), be32(h), lit("0806000000" + "deadbeef")))
        .when(col("doc_id") % 6 === 1, // BMP: BM + size + reserved + offset + BITMAPINFOHEADER prefix
          concat(lit("424d" + "00000000" + "00000000" + "36000000" + "28000000"),
            le32(w), le32(h), lit("0100" + "1800")))
        .when(col("doc_id") % 6 === 2, // GIF89a logical screen descriptor
          concat(lit("474946383961"), le16(w), le16(h), lit("000000")))
        .when(col("doc_id") % 6 === 3, // WAV: RIFF/WAVE + 16-byte PCM fmt chunk + empty data
          concat(lit("52494646" + "24000000" + "57415645" + "666d7420" + "10000000" + "0100"),
            le16(nch), le32(sr), lit("00000000" + "0400" + "1000" + "64617461" + "00000000")))
        .when(col("doc_id") % 6 === 4, // MP4: ftyp + moov[mvhd(v0) + trak[tkhd(v0)]]
          concat(
            lit("00000010" + "66747970" + "69736f6d" + "00000200"), // ftyp
            lit("000000d8" + "6d6f6f76"), // moov (8 + 108 + 100)
            lit("0000006c" + "6d766864" + "00000000" * 3 + "000003e8"), be32(durMs),
            lit("00010000" + "0100" + "0000" + "00000000" * 2 + mtx + "00" * 24 + "00000002"),
            lit("00000064" + "7472616b"), // trak
            lit("0000005c" + "746b6864" + "00000007" + "00000000" * 2 + "00000001" + "00000000"),
            be32(durMs), lit("00000000" * 2 + "0000" * 4 + mtx),
            be16(w), lit("0000"), be16(h), lit("0000")))
        .otherwise( // JPEG: SOI + frame header (3 components, 4:2:0 Y) —
          // baseline SOF0 for even ids, progressive SOF2 for odd (the
          // header walker must treat both as frame markers)
          concat(lit("ffd8"),
            when(col("doc_id") % 2 === 0, lit("ffc0")).otherwise(lit("ffc2")),
            lit("0011" + "08"), be16(h), be16(w),
            lit("03" + "012200" + "021101" + "031101")))
      val media = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"), unhex(hexPayload).as("media"),
          lit("img").as("format"))
        .as[graft.ext.Multimodal.MediaRow]
      graft.ext.Multimodal.decodeMeta(media).toDF().orderBy("doc_id")
    },
      // the decoder's output recomputed from doc_id arithmetic — green only
      // if the Spark side parsed the constructed header bytes correctly
      """SELECT doc_id,
                  CASE CAST(doc_id % 6 AS INTEGER)
                    WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' WHEN 2 THEN 'gif'
                    WHEN 3 THEN 'wav' WHEN 4 THEN 'mp4' ELSE 'jpeg' END AS format,
                  CAST(CASE WHEN doc_id % 6 = 3 THEN doc_id % 8 * 4000 + 8000
                            ELSE doc_id % 1000 + 16 END AS INTEGER) AS width,
                  CAST(CASE WHEN doc_id % 6 = 3 THEN 16
                            ELSE (doc_id * 7) % 1000 + 16 END AS INTEGER) AS height,
                  CAST(CASE WHEN doc_id % 6 = 0 THEN 4
                            WHEN doc_id % 6 = 3 THEN doc_id % 2 + 1
                            WHEN doc_id % 6 = 4 THEN doc_id % 30 + 1
                            ELSE 3 END AS INTEGER) AS channels,
                  CAST(CASE CAST(doc_id % 6 AS INTEGER)
                    WHEN 0 THEN 33 WHEN 1 THEN 30 WHEN 2 THEN 13
                    WHEN 3 THEN 44 WHEN 4 THEN 232 ELSE 21 END AS BIGINT) AS n_bytes
           FROM documents ORDER BY doc_id"""),

    // Image near-duplicate detection via decoded-pixel signatures: docs
    // sharing a seed (doc_id % 64) carry byte-identical formula images;
    // the REAL decode reduces each to (width, height, pixel-sum) and an
    // exact group-by finds the duplicate clusters — the image half of
    // the dedup family, riding the same batched decode scan.
    Query("x_image_dedup", (s, dir) => {
      import s.implicits._
      val media = docIds(s, dir)
        .map { id =>
          val seed = id % 64
          val w = (seed % 7 + 5).toInt; val h = (seed * 3 % 5 + 5).toInt
          graft.ext.Multimodal.MediaRow(id, graft.ext.Multimodal.encodePng(w, h, 1,
            (x, y, _) => ((seed * 23 + x * 3 + y * 29) % 256).toInt,
            y => ((seed + y) % 5).toInt), "png")
        }
      graft.ext.Multimodal.pixelStats(media).toDF()
        .groupBy(col("width"), col("height"), col("c0_sum"))
        .agg(count(lit(1)).as("n_images"), min(col("id")).as("rep_doc_id"))
        .orderBy("width", "height", "c0_sum")
    },
      // image dedup: signatures re-derived from the seed formula
      """WITH d AS (SELECT doc_id, doc_id % 64 AS seed FROM documents),
                p AS (SELECT doc_id,
                        CAST(seed % 7 + 5 AS INTEGER) AS width,
                        CAST(seed * 3 % 5 + 5 AS INTEGER) AS height,
                        CAST(list_sum(flatten(list_transform(range(0, seed % 7 + 5), x ->
                          list_transform(range(0, seed * 3 % 5 + 5), y ->
                            (seed * 23 + x * 3 + y * 29) % 256)))) AS BIGINT) AS c0_sum
                      FROM d)
           SELECT width, height, c0_sum, count(*) AS n_images, min(doc_id) AS rep_doc_id
           FROM p GROUP BY 1, 2, 3 ORDER BY width, height, c0_sum"""),

    // perceptual image hashing (dHash — the published gradient hash)
    // over the REAL decoded-pixel path, exactly oracled: each doc's
    // planted 64-bit hash (two Knuth multiplicative halves) is laid out
    // as a REAL PNG (alternating gray/RGB, all five scanline filters)
    // whose 2×2 blocks carry the gradient walk plus an intra-block
    // texture that only survives a true floor-mean downsample — then
    // decode → grayscale → 9×8 area downsample → gradient hash must
    // walk the exact bits back out. One wrong byte in the codec, the
    // channel mean or the block arithmetic flips a bit and the hash
    // goes red. Emitted as two unsigned 32-bit halves (the sign bit of
    // a raw 64-bit hash is not SQL-portable). Scan-shaped.
    Query("x_image_phash", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val ch = 1 + (id % 2).toInt * 2
          val png = dhashPng(dhashPlanted(id), ch, id)
          val (w, h, gotCh, pix) = graft.ext.Multimodal.decodePixels(png)
            .getOrElse(sys.error(s"own PNG must decode (doc $id)"))
          val hash = graft.ext.Multimodal.dHash(w, h, gotCh, pix)
          (id, w, h, gotCh, hash >>> 32, hash & 0xffffffffL)
        }
        .toDF("doc_id", "width", "height", "channels", "dhash_hi", "dhash_lo")
        .orderBy("doc_id")
    },
      // perceptual hash: the planted multiplicative halves in closed
      // form — green only if PNG encode, decode, grayscale, floor-mean
      // downsample and gradient walk reproduce every bit
      s"""SELECT doc_id,
                  CAST(18 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
                  CAST(1 + (doc_id % 2) * 2 AS INTEGER) AS channels,
                  ${dhashHiSql("doc_id")} AS dhash_hi,
                  ${dhashLoSql("doc_id")} AS dhash_lo
           FROM documents ORDER BY doc_id"""),

    // perceptual DCT hash (pHash) — the frequency-domain complement of
    // x_image_phash's gradient hash, in ALL-INTEGER form: decode the
    // formula PNG (16×16, alternating gray/RGB, every scanline filter),
    // area floor-mean to an 8×8 grid, fixed-point 2D DCT-II over the
    // hardcoded round(1024·cos) basis, then threshold the 63 AC
    // coefficients at their lower median. The oracle replays the exact
    // DCT sums from the cell formula against the same literal basis
    // table and the same rank-32 median — one wrong product anywhere in
    // decode, downsample, transform or threshold flips a bit. Emitted as
    // unsigned 32-bit halves like x_image_phash. Scan-shaped.
    Query("x_image_phash_dct", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val png = graft.ext.Multimodal.encodePng(16, 16, 1 + (id % 2).toInt * 2,
            (x, y, _) => {
              val c = ((id * 31 + (x / 2) * 7 + (y / 2) * 13) % 64 + 16).toInt
              c + (if (x % 2 == 0 && y % 2 == 0) -3 else 1)
            },
            y => ((id + y) % 5).toInt)
          val h = graft.ext.Multimodal.pHashDct64(png)
            .getOrElse(sys.error(s"own PNG must hash (doc $id)"))
          (id, h >>> 32, h & 0xffffffffL)
        }
        .toDF("doc_id", "phash_hi", "phash_lo")
        .orderBy("doc_id")
    },
      // DCT hash replay: the full fixed-point transform — cell formula ×
      // the same literal basis table, rank-32 median threshold
      """WITH cells AS (
             SELECT doc_id, x, y, (doc_id*31 + x*7 + y*13) % 64 + 16 AS c
             FROM documents, range(8) rx(x), range(8) ry(y)),
           coef(u, x, cval) AS (VALUES
             (0, 0, 1024), (0, 1, 1024), (0, 2, 1024), (0, 3, 1024),
             (0, 4, 1024), (0, 5, 1024), (0, 6, 1024), (0, 7, 1024),
             (1, 0, 1004), (1, 1, 851), (1, 2, 569), (1, 3, 200),
             (1, 4, -200), (1, 5, -569), (1, 6, -851), (1, 7, -1004),
             (2, 0, 946), (2, 1, 392), (2, 2, -392), (2, 3, -946),
             (2, 4, -946), (2, 5, -392), (2, 6, 392), (2, 7, 946),
             (3, 0, 851), (3, 1, -200), (3, 2, -1004), (3, 3, -569),
             (3, 4, 569), (3, 5, 1004), (3, 6, 200), (3, 7, -851),
             (4, 0, 724), (4, 1, -724), (4, 2, -724), (4, 3, 724),
             (4, 4, 724), (4, 5, -724), (4, 6, -724), (4, 7, 724),
             (5, 0, 569), (5, 1, -1004), (5, 2, 200), (5, 3, 851),
             (5, 4, -851), (5, 5, -200), (5, 6, 1004), (5, 7, -569),
             (6, 0, 392), (6, 1, -946), (6, 2, 946), (6, 3, -392),
             (6, 4, -392), (6, 5, 946), (6, 6, -946), (6, 7, 392),
             (7, 0, 200), (7, 1, -569), (7, 2, 851), (7, 3, -1004),
             (7, 4, 1004), (7, 5, -851), (7, 6, 569), (7, 7, -200)),
           f AS (
             SELECT c.doc_id, cu.u AS u, cv.u AS v,
                    SUM(CAST(cu.cval AS BIGINT) * cv.cval * c.c) AS fval
             FROM cells c
             JOIN coef cu ON cu.x = c.x
             JOIN coef cv ON cv.x = c.y
             GROUP BY c.doc_id, cu.u, cv.u),
           med AS (
             SELECT doc_id, fval AS m FROM (
               SELECT doc_id, fval,
                      row_number() OVER (PARTITION BY doc_id
                        ORDER BY fval, u, v) AS rn
               FROM f WHERE NOT (u = 0 AND v = 0)) WHERE rn = 32),
           bits AS (
             SELECT f.doc_id, u*8 + v AS bit,
                    CASE WHEN fval > m THEN 1 ELSE 0 END AS b
             FROM f JOIN med USING (doc_id) WHERE NOT (u = 0 AND v = 0))
           SELECT doc_id,
                  CAST(SUM(CASE WHEN bit >= 32
                       THEN b * (CAST(1 AS BIGINT) << CAST(bit - 32 AS INTEGER))
                       ELSE 0 END) AS BIGINT) AS phash_hi,
                  CAST(SUM(CASE WHEN bit < 32
                       THEN b * (CAST(1 AS BIGINT) << CAST(bit AS INTEGER))
                       ELSE 0 END) AS BIGINT) AS phash_lo
           FROM bits GROUP BY doc_id ORDER BY doc_id"""),

    // perceptual near-dup pairs — dHash + the SimHash pigeonhole band
    // join (Dedup.hammingPairs64: 4×16-bit chunks, candidates by chunk
    // equi-join, complete up to Hamming 3 — ONE hash shuffle, never a
    // cross product). Corpus: every doc_id≡0 (mod 4) image plus a twin
    // with ONE gradient flipped (bit id%64 — a near-identical image),
    // so the planted pairs sit at Hamming exactly 1 while unrelated
    // docs land ~32 apart. Exactly oracled: the oracle brute-forces all
    // pairwise Hamming distances from the planted-bit formula — the
    // pair set matches only if encode, decode, hash AND the band join's
    // completeness guarantee all hold.
    Query("x_image_dedup_pairs", (s, dir) => {
      import s.implicits._
      val sigs = t(s, dir, "documents").filter(col("doc_id") % 4 === 0)
        .select(col("doc_id").cast("long")).as[Long]
        .flatMap { id =>
          val base = dhashPlanted(id)
          val twin = base ^ (1L << (id % 64).toInt)
          Seq((id, base, id), (id + 1000000L, twin, id + 7L))
        }
        .map { case (outId, hash, fseed) =>
          val png = dhashPng(hash, 1 + (outId % 2).toInt * 2, fseed)
          (outId, graft.ext.Multimodal.dHash64(png)
            .getOrElse(sys.error(s"own PNG must hash ($outId)")))
        }
        .toDF("doc_id", "dhash")
      graft.ext.Dedup.hammingPairs64(sigs, "doc_id", "dhash", maxHamming = 3)
        .orderBy("doc_a", "doc_b")
    },
      // near-dup pairs: brute-force Hamming over the planted-bit
      // formula (base hash vs one-bit-flipped twin), thresholded at the
      // band join's pigeonhole radius
      s"""WITH imgs AS (
             SELECT doc_id AS id, ${dhashHiSql("doc_id")} AS hi, ${dhashLoSql("doc_id")} AS lo
             FROM documents WHERE doc_id % 4 = 0
             UNION ALL
             SELECT doc_id + 1000000,
                    CASE WHEN doc_id % 64 >= 32
                         THEN xor(${dhashHiSql("doc_id")},
                                  CAST(1 AS BIGINT) << CAST(doc_id % 64 - 32 AS INTEGER))
                         ELSE ${dhashHiSql("doc_id")} END,
                    CASE WHEN doc_id % 64 < 32
                         THEN xor(${dhashLoSql("doc_id")},
                                  CAST(1 AS BIGINT) << CAST(doc_id % 64 AS INTEGER))
                         ELSE ${dhashLoSql("doc_id")} END
             FROM documents WHERE doc_id % 4 = 0)
           SELECT a.id AS doc_a, b.id AS doc_b,
                  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INTEGER) AS hamming
           FROM imgs a JOIN imgs b ON a.id < b.id
           WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
           ORDER BY doc_a, doc_b"""),

    // REAL pixel resize, exactly oracled: decode the formula PNG, sample
    // it down to (w/2, h/2) with integer nearest-neighbor, and emit the
    // resized channel sums — the oracle re-derives each sampled
    // coordinate with the same floor arithmetic. Closes the loop from
    // resizePlan (the metadata half) to actual pixels.
    Query("x_multimodal_resize", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val w = (id % 9 + 8).toInt; val h = (id * 3 % 7 + 8).toInt
          val png = graft.ext.Multimodal.encodePng(w, h, 3,
            (x, y, c) => ((id * 13 + x * 5 + y * 7 + c * 19) % 256).toInt,
            y => ((id + y) % 5).toInt)
          val (dw, dh, ch, pix) = graft.ext.Multimodal.decodePixels(png).get
          val ow = dw / 2; val oh = dh / 2
          val r = graft.ext.Multimodal.resizeNearest(dw, dh, ch, pix, ow, oh)
          val sums = new Array[Long](3)
          var i = 0
          while (i < r.length) { sums(i % 3) += r(i); i += 1 }
          (id, ow, oh, sums(0), sums(1), sums(2))
        }
        .toDF("doc_id", "out_w", "out_h", "c0_sum", "c1_sum", "c2_sum")
        .orderBy("doc_id")
    },
      // resize: every sampled coordinate re-derived with floor division
      """WITH d AS (SELECT doc_id, CAST(doc_id % 9 + 8 AS INTEGER) AS w,
                        CAST(doc_id * 3 % 7 + 8 AS INTEGER) AS h
                      FROM documents),
                e AS (SELECT doc_id, w, h, w // 2 AS ow, h // 2 AS oh FROM d),
                s AS (SELECT doc_id, ow, oh,
                        list_transform(range(0, 3), c ->
                          CAST(list_sum(flatten(list_transform(range(0, ow), x ->
                            list_transform(range(0, oh), y ->
                              (doc_id * 13 + ((x * w) // ow) * 5 + ((y * h) // oh) * 7 + c * 19) % 256))))
                            AS BIGINT)) AS sums
                      FROM e)
           SELECT doc_id, CAST(ow AS INTEGER) AS out_w, CAST(oh AS INTEGER) AS out_h,
                  sums[1] AS c0_sum, sums[2] AS c1_sum, sums[3] AS c2_sum
           FROM s ORDER BY doc_id"""),
  )
}
