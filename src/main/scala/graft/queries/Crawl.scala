package graft
package queries

import graft.queries.Helpers._
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The crawl/archive ingest family: WARC/WAT/WET records, CDX indexes,
  * HTTP framing, PDF and HTML extraction, charsets, robots.txt,
  * sitemaps and URLs, with the t27–t29 streaming twins of the crawl
  * funnel, politeness and CDX merge. Conventions: see [[graft.SparkEntry]].
  */
private[graft] object Crawl {

  /** Per-host RFC 9309 rule tables for the 50-host crawl fixtures:
    * host → (allows, disallows) wildcard-group patterns, parsed from
    * constructed robots.txt TEXT by the real grammar
    * (graft.sources.Robots.ruleGroups — a decoy named-agent group and
    * unknown directives must be skipped for the rule set to come out
    * right). The h%5 classes exercise the full precedence model:
    * 0 no rules; 1 a `$`-anchored exact rule plus an unmatched prefix;
    * 2 a plain prefix (+ trailing comment); 3 blanket Disallow with a
    * LONGER Allow carve-out (the shape RFC 9309 §2.2.2 exists for);
    * 4 a `*` wildcard Disallow against a shorter Allow that must lose
    * the longest-match contest. Bounded (50 rows) → broadcasts onto any
    * corpus scan; the corpus itself never shuffles.
    */
  private def hostRobotsRules(s: SparkSession): DataFrame = {
    import s.implicits._
    s.range(50).select(col("id").cast("int").as("h"))
      .withColumn("robots_txt", concat(
        lit("# robots for host\n"),
        lit("User-agent: specialbot\nDisallow: /\n\n"),
        lit("User-agent: *\n"),
        when(col("h") % 5 === 1, lit("Disallow: /a/1/page$\nDisallow: /private/\n"))
          .when(col("h") % 5 === 2, lit("Disallow: /a/3/ # boilerplate section\n"))
          .when(col("h") % 5 === 3, lit("Disallow: /a/\nAllow: /a/3/\n"))
          .when(col("h") % 5 === 4, lit("Disallow: /*/5/\nAllow: /\n"))
          .otherwise(lit("Disallow:\nAllow:\n")), // empty values = no rules
        lit("Crawl-delay: 5\n")))
      .as[(Int, String)]
      .map { case (h, txt) =>
        val (al, dis) = graft.sources.Robots.ruleGroups(txt)
        (s"example-$h.com", al, dis)
      }
      .toDF("host", "allows", "disallows")
  }

  /** `urls` + `url_canon`, `host`, `path` of its raw URL column `raw` and
    * the host's broadcast [[hostRobotsRules]] (`allows`, `disallows`). */
  private def withRobotsRules(urls: DataFrame, raw: String): DataFrame =
    urls
      .withColumn("url_canon", graft.functions.UrlFunctions.canonicalizeUrl(col(raw)))
      .withColumn("host",
        substring_index(substring_index(col("url_canon"), "://", -1), "/", 1))
      .withColumn("path",
        substring_index(col("url_canon"), "://", -1)
          .substr(length(col("host")) + 1,
            length(substring_index(col("url_canon"), "://", -1))))
      .join(broadcast(hostRobotsRules(urls.sparkSession)), Seq("host"), "left")

  /** The oracle side of [[withRobotsRules]]' url_canon, host and RFC 9309
    * verdict on the 50-host URLs `example-<doc_id % 50>.com/a/<doc_id % 7>/page`. */
  private val robotsVerdictSql =
    """'http://example-' || (doc_id % 50) || '.com'
                    || '/a/' || (doc_id % 7) || '/page' AS url_canon,
                  'example-' || (doc_id % 50) || '.com' AS host,
                  (CASE WHEN (doc_id % 50) % 5 = 1 THEN doc_id % 7 = 1
                        WHEN (doc_id % 50) % 5 = 2 THEN doc_id % 7 = 3
                        WHEN (doc_id % 50) % 5 = 3 THEN doc_id % 7 <> 3
                        WHEN (doc_id % 50) % 5 = 4 THEN doc_id % 7 = 5
                        ELSE FALSE END) AS blocked"""

  /** The HTTP block `http` stored as doc `id`'s gzip'd WARC response
    * record and read back through both envelopes (WARC, then HTTP). */
  private def httpRoundTrip(id: Long, http: Array[Byte],
      codec: graft.sources.Warc.GzipCodec): graft.sources.Warc.HttpResponse = {
    val file = codec.gzip(graft.sources.Warc.writeRecords(Seq(
      graft.sources.Warc.Record("response", s"<urn:uuid:doc-$id>",
        s"http://example.com/doc/$id", http))))
    val rec = graft.sources.Warc.parseRecords(file, Some(codec))
      .getOrElse(sys.error(s"own WARC must parse (doc $id)")).head
    graft.sources.Warc.parseHttp(rec.content, Some(codec))
      .getOrElse(sys.error(s"own HTTP wire grammar must parse (doc $id)"))
  }

  /** The crawl-ingest funnel shared by batch and streaming (the SAME
    * code serves `x_crawl_funnel` and its streaming twin
    * `t27_stream_crawl_funnel`): member-per-record gzip'd WARC → HTTP
    * response block → charset detection on the raw body bytes → decode
    * under the detected charset → HTML visible-text extraction →
    * Column-only URL canonicalization → RFC 9309 robots gate
    * (broadcast 50-host rule table). No sort — callers order.
    */
  private def crawlFunnel(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val parsed = docs.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions { rows =>
        val codec = new graft.sources.Warc.GzipCodec // reused per partition
        rows.map { id =>
          val cls = (id % 3).toInt
          val k = (id % 4 + 1).toInt
          val nl = (id % 5 + 1).toInt
          val seg = id % 7
          val suffix = if (cls == 0) "" else " " + "é" * k
          val links = (0 until nl).map(i =>
            s"""<a href="http://example-${id % 50}.com/l/$i">link $i</a>""")
            .mkString(" ")
          val html =
            s"<html><head><title> Doc $id t${id % 7} </title>" +
              "<script>var x = \"<p>decoy</p>\";</script></head>" +
              s"<body><!-- <p>decoy</p> --><h1>Heading $id</h1> $links " +
              s"<p>Tail &amp; fin$suffix</p></body></html>"
          // class 2 ships the SAME text as Latin-1 bytes: only a
          // correct detect → decode pairing reproduces the é's
          val body = html.getBytes(
            if (cls == 2) java.nio.charset.StandardCharsets.ISO_8859_1
            else java.nio.charset.StandardCharsets.UTF_8)
          val code = cls match { case 0 => 200; case 1 => 301; case _ => 404 }
          // real wire bodies: class 0 chunked+gzip, class 1 chunked,
          // class 2 zlib-deflate — the funnel must de-frame and decode
          // before any byte of charset/HTML work (transparent to the
          // oracle: the decoded bytes are identical)
          val (wireHeaders, wire) = cls match {
            case 0 => ("Transfer-Encoding: chunked\r\nContent-Encoding: gzip\r\n",
              graft.sources.Warc.chunked(codec.gzip(body), (id % 11 + 5).toInt))
            case 1 => ("Transfer-Encoding: chunked\r\n",
              graft.sources.Warc.chunked(body, (id % 11 + 5).toInt))
            case _ => ("Content-Encoding: deflate\r\n", codec.zlib(body))
          }
          val head = (s"HTTP/1.1 $code Reason\r\n" +
            s"Content-Type: text/html\r\n$wireHeaders\r\n")
            .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
          val rawUri = s"HTTP://ExAmPle-${id % 50}.CoM" + ((id % 4) match {
            case 1 => s"/a/./$seg/page"
            case 2 => s"/a/x/../$seg/page"
            case _ => s"/a/$seg/page"
          })
          val file = graft.sources.Warc.gzipPerRecord(Seq(
            graft.sources.Warc.Record("response", s"<urn:uuid:doc-$id>", rawUri,
              head ++ wire)), codec)
          val rec = graft.sources.Warc.parseRecords(file, Some(codec))
            .getOrElse(sys.error(s"own WARC must parse (doc $id)")).head
          val http = graft.sources.Warc.parseHttp(rec.content, Some(codec))
            .getOrElse(sys.error(s"own HTTP wire grammar must parse (doc $id)"))
          // full WHATWG precedence (BOM > header charset= > meta >
          // structural) — this fixture carries no declaration, so the
          // structural level decides, but the funnel runs the real path
          val det = graft.sources.CharsetDetect.sniff(http.body, http.contentType)
          val decoded = new String(http.body,
            if (det.charset == "utf-8") java.nio.charset.StandardCharsets.UTF_8
            else java.nio.charset.StandardCharsets.ISO_8859_1)
          val ex = graft.sources.Html.extract(decoded)
          (id, http.status, det.charset, ex.title, ex.nLinks, ex.text, rec.targetUri)
        }
      }
      .toDF("doc_id", "status", "charset", "title", "n_links", "text", "uri_raw")
    withRobotsRules(parsed, "uri_raw")
      .select(col("doc_id"), col("status"), col("charset"), col("title"),
        col("n_links"), col("text"), col("url_canon"), col("host"), col("path"),
        col("allows"), col("disallows"))
      .as[(Long, Int, String, String, Int, String, String, String, String,
        Seq[String], Seq[String])]
      .map { case (d, st, cs, ti, nl, tx, uc, ho, pa, al, dis) =>
        (d, st, cs, ti, nl, tx, uc, ho, !graft.sources.Robots.isAllowed(al, dis, pa))
      }
      .toDF("doc_id", "status", "charset", "title", "n_links", "text",
        "url_canon", "host", "blocked")
  }

  /** Each document's (doc_id, text). */
  private def docTexts(s: SparkSession, dir: String): Dataset[(Long, String)] = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
  }

  /** Each document's (doc_id, text) cut to printable ASCII ([[cleanSql]]). */
  private def cleanTexts(s: SparkSession, dir: String): Dataset[(Long, String)] = {
    import s.implicits._
    t(s, dir, "documents")
      .select(col("doc_id").cast("long"),
        regexp_replace(col("text"), "[^ -~]", "").as("clean"))
      .as[(Long, String)]
  }

  /** The oracle side of [[cleanTexts]]' text. */
  private val cleanSql = "regexp_replace(text, '[^ -~]', '', 'g')"

  /** The 'e' bytes in `b`, the statistic the archive replays re-derive ([[nESql]]). */
  private def countE(b: Array[Byte]): Long = b.count(_ == 'e').toLong

  /** The oracle side of [[countE]] over the text expression `text`. */
  private def nESql(text: String): String =
    s"CAST(strlen($text) - strlen(replace($text, 'e', '')) AS BIGINT)"

  /** One row per WARC record of each document's round trip (doc_id, rec_idx,
    * warc_type, target_uri, content_length, n_e); `perPartition` sets up the
    * partition's codecs and returns the per-doc write → parse. */
  private def warcRecordRows(s: SparkSession, dir: String)(
      perPartition: () => (Long, String) => Seq[graft.sources.Warc.Record]): DataFrame = {
    import s.implicits._
    docTexts(s, dir)
      .mapPartitions { rows =>
        val roundTrip = perPartition()
        rows.flatMap { case (id, text) =>
          roundTrip(id, text).iterator.zipWithIndex.map { case (r, idx) =>
            (id, idx, r.warcType, r.targetUri, r.content.length.toLong, countE(r.content))
          }
        }
      }
      .toDF("doc_id", "rec_idx", "warc_type", "target_uri", "content_length", "n_e")
      .orderBy("doc_id", "rec_idx")
  }

  /** Doc `id`'s 1–3 response records, record j "part j: " + text at .../part/j. */
  private def partRecords(id: Long, text: String): Seq[graft.sources.Warc.Record] =
    (0 until (id % 3 + 1).toInt).map { j =>
      graft.sources.Warc.Record("response", s"<urn:uuid:doc-$id-$j>",
        s"http://example.com/doc/$id/part/$j",
        s"part $j: $text".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

  // x_warc_members / x_warc_zstd: every record of [[partRecords]] from id
  // arithmetic + the text ('part j: ' is 8 chars, e-free) — a reader that
  // stops at the first gzip member or zstd frame loses rows
  private val partRecordsSql =
    s"""WITH d AS (SELECT doc_id, text, strlen(text) AS n,
                        CAST(doc_id % 3 + 1 AS INTEGER) AS nrec
                      FROM documents),
                r AS (SELECT doc_id, CAST(unnest(range(0, nrec)) AS INTEGER) AS rec_idx,
                        text, n
                      FROM d)
           SELECT doc_id, rec_idx, 'response' AS warc_type,
                  'http://example.com/doc/' || doc_id || '/part/' || rec_idx AS target_uri,
                  CAST(8 + n AS BIGINT) AS content_length,
                  ${nESql("text")} AS n_e
           FROM r ORDER BY doc_id, rec_idx"""

  /** CTE `d(doc_id, n, chunk, n_e)`: each text's bytes, segment size and 'e's. */
  private def segmentDocsSql(chunk: String): String =
    s"""d AS (SELECT doc_id, strlen(text) AS n,
                        CAST($chunk AS BIGINT) AS chunk,
                        ${nESql("text")} AS n_e
                      FROM documents)"""

  /** Segments of an n-byte record cut at `chunk` (a fitting one stays whole, §5.18). */
  private val nSegmentsSql =
    "CAST(CASE WHEN n <= chunk THEN 1 ELSE (n + chunk - 1) // chunk END AS BIGINT) AS n_segments"

  /** Each cleaned text through the PDF writer `encode` (text, chars per line,
    * lines per page) at the id-formula geometry ([[pdfDocsSql]]) and back. */
  private def pdfRoundTrip(s: SparkSession, dir: String,
      encode: (String, Int, Int) => Array[Byte]): DataFrame = {
    import s.implicits._
    cleanTexts(s, dir)
      .map { case (id, clean) =>
        val (nPages, text) = pdfText(
          encode(clean, (id % 40 + 20).toInt, (id % 7 + 3).toInt), id)
        (id, nPages, text)
      }
      .toDF("doc_id", "n_pages", "text_out")
      .orderBy("doc_id")
  }

  /** (page count, text without the writer's line breaks) of doc `id`'s PDF. */
  private def pdfText(pdf: Array[Byte], id: Long): (Long, String) = {
    val pages = graft.ext.Pdf.extractText(pdf)
      .getOrElse(sys.error(s"own PDF must parse (doc $id)"))
    (pages.length.toLong, pages.mkString.replace("\n", ""))
  }

  /** CTE `d(doc_id, clean, cpl, lpp)`: the oracle side of the PDF geometry. */
  private val pdfDocsSql =
    s"""d AS (SELECT doc_id,
                        $cleanSql AS clean,
                        CAST(doc_id % 40 + 20 AS INTEGER) AS cpl,
                        CAST(doc_id % 7 + 3 AS INTEGER) AS lpp
                      FROM documents)"""

  /** Pages of `clean` at `cpl` × `lpp` (an empty text still gets one). */
  private val pdfPagesSql =
    """CASE WHEN strlen(clean) = 0 THEN 1
                       ELSE ((strlen(clean) + cpl - 1) // cpl + lpp - 1) // lpp END"""

  // x_pdf_extract / x_pdf_xrefstream: pages by the split formula, text by
  // writer∘reader identity — the whole 1.4 or 1.5 PDF round trip between
  private val pdfSql =
    s"""WITH $pdfDocsSql
           SELECT doc_id, CAST($pdfPagesSql AS BIGINT) AS n_pages, clean AS text_out
           FROM d ORDER BY doc_id"""

  /** Doc `id`'s HTML page: title "Doc <id>", then `body`. */
  private def docPage(id: Long, body: String): String =
    s"<html><head><title>Doc $id</title></head><body>$body</body></html>"

  /** `text` without markup characters, so it reads back from a page as itself. */
  private def stripMarkup(text: String): String =
    text.replace("&", "").replace("<", "").replace(">", "")

  /** The oracle side of [[stripMarkup]] over the text expression `text`. */
  private def stripMarkupSql(text: String): String =
    s"replace(replace(replace($text, '&', ''), '<', ''), '>', '')"

  /** Doc `id`'s CDX entries (gen, surt, url, ts, offset, length): gen 0 for
    * every doc, gen 1 for the re-crawls and re-packs ([[cdxMergeSql]]). */
  private def cdxGens(id: Long): Seq[(Int, String, String, String, Long, Long)] = {
    val surt = s"com,example)/doc/$id"
    val url = s"http://example.com/doc/$id"
    val sec = f"${id % 86400}%06d"
    val a = Seq((0, surt, url, s"20260101$sec", id * 100L, 50L + id % 10))
    val b1 = if (id % 3 == 0)
      Seq((1, surt, url, s"20260102$sec", id * 100L + 7, 60L + id % 10)) else Nil
    val b2 = if (id % 5 == 0)
      Seq((1, surt, url, s"20260101$sec", id * 100L + 13, 70L + id % 10)) else Nil
    a ++ b1 ++ b2
  }

  /** Doc `doc_id`'s URL on one of 7 sites, the CDX index fixtures' key. */
  private def siteUrl: Column = concat(lit("http://site"), (col("doc_id") % 7).cast("string"),
    lit(".example.com/doc/"), col("doc_id").cast("string"))

  /** The sorted write of a merged CDX index (surt, ts, url, offset, length,
    * gen), each range partition through a strict CDXJ write∘parse. */
  private def cdxjRoundTrip(index: DataFrame): DataFrame = {
    val s = index.sparkSession
    import s.implicits._
    index
      .repartitionByRange(8, col("surt"), col("ts"))
      .sortWithinPartitions("surt", "ts")
      .as[(String, String, String, Long, Long, Long)]
      .mapPartitions { it =>
        val rows = it.toSeq
        if (rows.isEmpty) Iterator.empty
        else {
          val txt = graft.sources.Cdx.writeCdxj(rows.map { case (surt, ts, url, off, len, _) =>
            graft.sources.Cdx.Entry(surt, url, ts, off, len)
          })
          val back = graft.sources.Cdx.parseCdxj(txt)
            .getOrElse(sys.error("own merged CDXJ must parse"))
          back.iterator.zip(rows.iterator).map { case (e, (_, _, _, _, _, gen)) =>
            (e.surt, e.timestamp, e.url, e.offset, e.length, gen)
          }
        }
      }
      .toDF("surt", "ts", "url", "offset", "length", "gen")
  }

  // x_crawl_funnel / t27_stream_crawl_funnel, the batch and stream twins:
  // EVERY funnel layer's output re-derived from id arithmetic — status
  // (HTTP), charset class (byte plants), title / link count / visible text
  // incl. the é payload (HTML through the detected decode), canonical URL
  // (RFC 3986) and the RFC 9309 precedence verdict. One wrong byte
  // anywhere shifts a column; the stream must reproduce the batch rows.
  private val crawlFunnelSql =
    s"""WITH d AS (SELECT doc_id,
                        CAST(doc_id % 4 + 1 AS INTEGER) AS k,
                        CAST(doc_id % 5 + 1 AS INTEGER) AS nl
                      FROM documents),
                t AS (SELECT doc_id, k, nl,
                        'Doc ' || doc_id || ' t' || (doc_id % 7) AS title,
                        'Heading ' || doc_id || ' '
                          || array_to_string(list_transform(range(0, nl),
                               i -> 'link ' || i), ' ')
                          || ' Tail & fin'
                          || CASE WHEN doc_id % 3 = 0 THEN ''
                                  ELSE ' ' || repeat('é', k) END AS text
                      FROM d)
           SELECT doc_id,
                  CAST(CASE WHEN doc_id % 3 = 0 THEN 200
                            WHEN doc_id % 3 = 1 THEN 301 ELSE 404 END AS INTEGER) AS status,
                  CASE WHEN doc_id % 3 = 0 THEN 'ascii'
                       WHEN doc_id % 3 = 1 THEN 'utf-8' ELSE 'latin-1' END AS charset,
                  title, nl AS n_links, text,
                  $robotsVerdictSql
           FROM t ORDER BY doc_id"""

  // x_cdx_merge / t29_stream_cdx_merge, the batch and stream twins: both
  // generations in closed form, last-gen-wins on (surt, ts) via arg_max —
  // green only if the dedup resolution AND the per-partition CDXJ round
  // trip keep every surviving pointer, batch or streamed
  private val cdxMergeSql =
    """WITH g AS (
             SELECT 0 AS gen, 'com,example)/doc/' || doc_id AS surt,
                    'http://example.com/doc/' || doc_id AS url,
                    '20260101' || lpad(CAST(doc_id % 86400 AS VARCHAR), 6, '0') AS ts,
                    doc_id * 100 AS off, 50 + doc_id % 10 AS len
             FROM documents
             UNION ALL
             SELECT 1, 'com,example)/doc/' || doc_id,
                    'http://example.com/doc/' || doc_id,
                    '20260102' || lpad(CAST(doc_id % 86400 AS VARCHAR), 6, '0'),
                    doc_id * 100 + 7, 60 + doc_id % 10
             FROM documents WHERE doc_id % 3 = 0
             UNION ALL
             SELECT 1, 'com,example)/doc/' || doc_id,
                    'http://example.com/doc/' || doc_id,
                    '20260101' || lpad(CAST(doc_id % 86400 AS VARCHAR), 6, '0'),
                    doc_id * 100 + 13, 70 + doc_id % 10
             FROM documents WHERE doc_id % 5 = 0)
           SELECT surt, ts, arg_max(url, gen) AS url,
                  CAST(arg_max(off, gen) AS BIGINT) AS "offset",
                  CAST(arg_max(len, gen) AS BIGINT) AS length,
                  CAST(max(gen) AS BIGINT) AS gen
           FROM g GROUP BY surt, ts ORDER BY surt, ts"""

  def queries: Seq[Query] = Seq(
    // WARC web-archive ingest (ISO 28500 — the format crawl corpora
    // arrive in), exactly oracled: each doc becomes a gzip-compressed
    // two-record WARC stream (a response record carrying the text, a
    // metadata record carrying a derived summary), and graft.sources.Warc
    // parses it back — version line, case-insensitive header grammar,
    // declared Content-Length honored byte-exactly, record separators,
    // gzip transport sniffed by magic. The oracle re-derives every output
    // (uncompressed content lengths, per-record 'e' byte counts, URIs)
    // from the text alone, so the row is green only if the full
    // write → gzip → gunzip → record-walk loop is lossless. Scan-shaped:
    // flatMap over the doc scan, no shuffle before the cosmetic sort.
    Query("x_warc_ingest", (s, dir) =>
      warcRecordRows(s, dir) { () =>
        // ONE reusable native Deflater/Inflater per partition: per-row
        // GZIPOutputStream/GZIPInputStream allocation measurably drifts
        // full-board timings at sf1 (NOTES round-11 adjudication)
        val codec = new graft.sources.Warc.GzipCodec
        (id, text) => {
          val body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val meta = s"lang=en,len=${body.length}"
            .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
          val uri = s"http://example.com/doc/$id"
          val file = codec.gzip(graft.sources.Warc.writeRecords(Seq(
            graft.sources.Warc.Record("response", s"<urn:uuid:doc-$id>", uri, body),
            graft.sources.Warc.Record("metadata", s"<urn:uuid:meta-$id>", uri, meta))))
          graft.sources.Warc.parseRecords(file, Some(codec))
            .getOrElse(sys.error(s"own WARC must parse (doc $id)"))
        }
      },
      // WARC replay: both records' lengths, URIs and 'e' byte counts
      // re-derived from the text alone (the metadata record's content is
      // a pure function of the text length) — green only if the
      // write → gzip → parse loop is byte-lossless
      """WITH d AS (SELECT doc_id, text, strlen(text) AS n FROM documents),
                r AS (SELECT doc_id, CAST(0 AS INTEGER) AS rec_idx,
                        'response' AS warc_type,
                        'http://example.com/doc/' || doc_id AS target_uri,
                        CAST(n AS BIGINT) AS content_length,
                        CAST(strlen(text)
                           - strlen(replace(text, 'e', '')) AS BIGINT) AS n_e
                      FROM d
                      UNION ALL
                      SELECT doc_id, CAST(1 AS INTEGER),
                        'metadata',
                        'http://example.com/doc/' || doc_id,
                        CAST(strlen('lang=en,len=' || n) AS BIGINT),
                        CAST(strlen('lang=en,len=' || n)
                           - strlen(replace('lang=en,len=' || n, 'e', '')) AS BIGINT)
                      FROM d)
           SELECT * FROM r ORDER BY doc_id, rec_idx"""),

    // member-per-record gzip WARC — the layout CommonCrawl actually
    // ships (each record its own RFC 1952 member, members concatenated;
    // that is what makes per-record range requests into a segment work),
    // exactly oracled: each doc writes 1–3 records THROUGH the
    // member-per-record writer and the multi-member-aware codec walks
    // every member back out. A reader that stops at the first member's
    // trailer (the classic silent-truncation bug) loses whole records
    // and the row count itself goes red. Scan-shaped: one reused native
    // codec per partition, cosmetic sort only.
    Query("x_warc_members", (s, dir) =>
      warcRecordRows(s, dir) { () =>
        val codec = new graft.sources.Warc.GzipCodec
        (id, text) =>
          graft.sources.Warc.parseRecords(
            graft.sources.Warc.gzipPerRecord(partRecords(id, text), codec), Some(codec))
            .getOrElse(sys.error(s"own multi-member WARC must parse (doc $id)"))
      },
      partRecordsSql),

    // zstd WARC transport (RFC 8878) — the compression CommonCrawl index
    // files and modern archives actually ship: each doc's records are
    // written FRAME-PER-RECORD (the zstd analog of member-per-record
    // gzip — what makes range requests into a `.warc.zst` work), with a
    // skippable metadata frame (§3.1.2) planted between records that a
    // grammar-honoring reader must skip. parseRecords sniffs the zstd
    // magic and ZstdCodec walks EVERY frame back — a reader that stops
    // at the first frame or trips on the skippable frame loses rows and
    // the count goes red. Same closed-form oracle family as
    // x_warc_members. Scan-shaped: reused native contexts per partition.
    Query("x_warc_zstd", (s, dir) =>
      warcRecordRows(s, dir) { () =>
        val zc = graft.sources.ZstdCodec.forPartition() // native ctxs freed on task end
        (id, text) => {
          val file = new java.io.ByteArrayOutputStream()
          partRecords(id, text).zipWithIndex.foreach { case (r, j) =>
            file.write(zc.zstd(graft.sources.Warc.writeRecords(Seq(r))))
            if (j == 0) // per-segment metadata side-channel
              file.write(zc.skippableFrame(
                s"seg-meta:$id".getBytes(java.nio.charset.StandardCharsets.US_ASCII)))
          }
          graft.sources.Warc.parseRecords(file.toByteArray, None, Some(zc))
            .getOrElse(sys.error(s"own zstd WARC must parse (doc $id)"))
        }
      },
      partRecordsSql),

    // PDF text extraction — after HTML the most common document format
    // in a web corpus, exactly oracled through the closed-form pair in
    // graft.ext.Pdf: each doc's text (sanitized to printable ASCII so
    // the oracle can reproduce the sanitization) is laid out as a REAL
    // multi-page PDF-1.4 file (xref table, page tree, Flate-compressed
    // content streams, Tj text operators) with id-formula page geometry,
    // then the strict reader walks the grammar back out — startxref →
    // xref → trailer → catalog → page tree → FlateDecode → BT/ET text.
    // The oracle re-derives the page count from the split formula and
    // the text by construction (writer∘reader = identity) — one wrong
    // byte offset, stream length or string escape anywhere in the
    // codec and the hash goes red. Scan-shaped: per-row encode/decode
    // in the scan map, no shuffle before the cosmetic sort.
    Query("x_pdf_extract", (s, dir) =>
      pdfRoundTrip(s, dir, graft.ext.Pdf.encodeDocPdf),
      pdfSql),

    // the PDF-1.5 form of x_pdf_extract — the modern majority of real
    // PDFs: cross-reference STREAMS (/Type /XRef, W-array fields, PNG
    // Up-predictor row filters, /Index subsections) instead of the
    // classic xref table, with non-stream objects packed into Flate'd
    // object streams (/Type /ObjStm). Same id-formula geometry and the
    // same closed-form oracle; what sits between writer and reader here
    // is the entire 1.5 grammar — predictor undo, W-field decode, type-2
    // (in-ObjStm) entry resolution, ObjStm header/offset walk. One wrong
    // byte in any of them and the hash goes red. Scan-shaped.
    Query("x_pdf_xrefstream", (s, dir) =>
      pdfRoundTrip(s, dir, graft.ext.Pdf.encodeDocPdfXrefStream),
      pdfSql),

    // WET conversion records — the CommonCrawl derived-text format most
    // LLM corpus work actually starts from: alongside each response
    // record, a bodiless-HTML `conversion` record carrying the
    // EXTRACTED text with WARC-Refers-To pointing at its source
    // capture. The write side runs the real chain (HTML page → HTTP →
    // response record; Html.extract → conversion record), one gzip'd
    // stream per doc (a .warc.wet.gz in miniature); the read side walks
    // the records back and the conversion text must equal the
    // closed-form tag-strip replay — one wrong byte in the extractor,
    // the envelope or the refers-to linkage goes red. Scan-shaped.
    Query("x_wet_extract", (s, dir) => {
      import s.implicits._
      cleanTexts(s, dir)
        .mapPartitions { rows =>
          val codec = new graft.sources.Warc.GzipCodec
          rows.map { case (id, clean) =>
            val html = docPage(id, s"<p>${stripMarkup(clean)}</p>")
            val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n\r\n" + html)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val wetText = graft.sources.Html.extract(html).text
            val uri = s"http://example.com/doc/$id"
            val file = codec.gzip(graft.sources.Warc.writeRecords(Seq(
              graft.sources.Warc.Record("response", s"<urn:uuid:doc-$id>", uri, http),
              graft.sources.Warc.Record("conversion", s"<urn:uuid:wet-$id>", uri,
                wetText.getBytes(java.nio.charset.StandardCharsets.UTF_8),
                refersTo = s"<urn:uuid:doc-$id>"))))
            val recs = graft.sources.Warc.parseRecords(file, Some(codec))
              .getOrElse(sys.error(s"own WET must parse (doc $id)"))
            val conv = recs.find(_.warcType == "conversion")
              .getOrElse(sys.error(s"conversion record missing (doc $id)"))
            val text = new String(conv.content, java.nio.charset.StandardCharsets.UTF_8)
            (id, conv.refersTo, text.length.toLong, text)
          }
        }
        .toDF("doc_id", "refers_to", "n_chars", "text_out")
        .orderBy("doc_id")
    },
      // WET replay: conversion text by the tag-strip/collapse replay,
      // linkage by construction — green only if extractor, envelope and
      // refers-to all survive the round trip
      s"""WITH d AS (SELECT doc_id,
                        trim(regexp_replace(${stripMarkupSql(cleanSql)}, ' +', ' ', 'g')) AS wet
                      FROM documents)
           SELECT doc_id,
                  '<urn:uuid:doc-' || doc_id || '>' AS refers_to,
                  CAST(strlen(wet) AS BIGINT) AS n_chars,
                  wet AS text_out
           FROM d ORDER BY doc_id"""),

    // WAT metadata records — the remaining member of CommonCrawl's
    // derived trio (WARC capture / WAT metadata / WET text; WET landed
    // as x_wet_extract): per response record a JSON envelope carrying
    // the WARC headers, HTTP response line and, for HTML, the head
    // title and link list — the format link-graph work reads INSTEAD of
    // the full corpus. The write side runs the real generator chain
    // (page → HTTP → response record → Wat.fromResponse: parseHttp +
    // Html extract/linkHrefs → metadata record), the stream round-trips
    // gzip'd WARC, and the read side takes the envelope apart with
    // from_json against Wat.envelopeSchema — Spark-native JSON
    // decomposition, codegen end to end. Exactly oracled: every emitted
    // field (refers-to, URI, HTTP-block byte count, status, title, link
    // count, first link) re-derives from id arithmetic in closed form.
    Query("x_wat_extract", (s, dir) => {
      import s.implicits._
      val raw = cleanTexts(s, dir)
        .mapPartitions { rows =>
          val codec = new graft.sources.Warc.GzipCodec
          rows.map { case (id, clean) =>
            val k = (id % 5).toInt
            val links = (0 until k).map(j => s"http://example.com/doc/$id/ref/$j")
            val html = docPage(id, links.map(u => s"""<a href="$u">ref</a>""").mkString +
              "<p>" + stripMarkup(clean).replace("\"", "") + "</p>")
            val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n\r\n" + html)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val resp = graft.sources.Warc.Record("response", s"<urn:uuid:doc-$id>",
              s"http://example.com/doc/$id", http)
            val wat = graft.sources.Wat.fromResponse(resp, Some(codec))
              .getOrElse(sys.error(s"own response must WAT (doc $id)"))
            val file = codec.gzip(graft.sources.Warc.writeRecords(Seq(resp, wat)))
            val back = graft.sources.Warc.parseRecords(file, Some(codec))
              .getOrElse(sys.error(s"own WARC must parse (doc $id)"))
            val meta = back.find(_.warcType == "metadata")
              .getOrElse(sys.error(s"WAT record missing (doc $id)"))
            (id, meta.refersTo,
              new String(meta.content, java.nio.charset.StandardCharsets.UTF_8))
          }
        }
        .toDF("doc_id", "refers_to", "wat_json")
      raw
        .select(col("doc_id"), col("refers_to"),
          from_json(col("wat_json"), graft.sources.Wat.envelopeSchema).as("env"))
        .select(col("doc_id"), col("refers_to"),
          col("env.Envelope.`WARC-Header-Metadata`.`WARC-Target-URI`").as("uri"),
          col("env.Envelope.`WARC-Header-Metadata`.`Content-Length`").as("http_bytes"),
          col("env.Envelope.`Payload-Metadata`.`HTTP-Response-Metadata`.`Response-Message`.Status")
            .as("status"),
          col("env.Envelope.`Payload-Metadata`.`HTTP-Response-Metadata`.`HTML-Metadata`.Head.Title")
            .as("title"),
          size(col("env.Envelope.`Payload-Metadata`.`HTTP-Response-Metadata`.`HTML-Metadata`.Links"))
            .cast("long").as("n_links"),
          try_element_at(
            col("env.Envelope.`Payload-Metadata`.`HTTP-Response-Metadata`.`HTML-Metadata`.Links"),
            lit(1)).getField("url").as("first_link"))
        .orderBy("doc_id")
    },
      // WAT replay: every envelope field from id arithmetic — the
      // HTTP-block byte count is the full header+page-layout formula, so
      // one byte of drift in page build, wire framing or the JSON
      // envelope shifts it
      s"""WITH d AS (SELECT doc_id,
                        CAST(doc_id % 5 AS BIGINT) AS k,
                        strlen(CAST(doc_id AS VARCHAR)) AS L,
                        strlen(replace(${stripMarkupSql(cleanSql)}, '"', '')) AS C
                      FROM documents)
           SELECT doc_id,
                  '<urn:uuid:doc-' || doc_id || '>' AS refers_to,
                  'http://example.com/doc/' || doc_id AS uri,
                  CAST(124 + L + C + k * (47 + L) AS BIGINT) AS http_bytes,
                  CAST(200 AS BIGINT) AS status,
                  'Doc ' || doc_id AS title,
                  k AS n_links,
                  CASE WHEN k > 0
                       THEN 'http://example.com/doc/' || doc_id || '/ref/0'
                       END AS first_link
           FROM d ORDER BY doc_id"""),

    // the link graph FROM WAT — why the metadata trio exists: host-level
    // graph analytics read the WAT envelopes (a few % of the capture
    // bytes), never the WARC. Each doc's page links to formula hosts,
    // the WAT build runs the real generator chain, and the read side is
    // ALL column-native: from_json → explode(Links) → host substring →
    // one map-side-combined groupBy for in-degree + distinct-source
    // counts. Exactly oracled from (id, j) arithmetic. ONE shuffle.
    Query("x_wat_link_graph", (s, dir) => {
      import s.implicits._
      val wat = docIds(s, dir)
        .mapPartitions { rows =>
          val codec = new graft.sources.Warc.GzipCodec
          rows.map { id =>
            val k = (id % 5).toInt
            val links = (0 until k).map(j =>
              s"http://site${(id + j) % 20}.example.com/p$j")
            val html = docPage(id, links.map(u => s"""<a href="$u">x</a>""").mkString)
            val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val resp = graft.sources.Warc.Record("response", s"<urn:uuid:doc-$id>",
              s"http://src${id % 20}.example.com/doc/$id", http)
            val rec = graft.sources.Wat.fromResponse(resp, Some(codec))
              .getOrElse(sys.error(s"own response must WAT (doc $id)"))
            (id, new String(rec.content, java.nio.charset.StandardCharsets.UTF_8))
          }
        }
        .toDF("doc_id", "wat_json")
      wat
        .select(col("doc_id"),
          from_json(col("wat_json"), graft.sources.Wat.envelopeSchema).as("env"))
        .select(col("doc_id"),
          substring_index(
            col("env.Envelope.`WARC-Header-Metadata`.`WARC-Target-URI`"), "/", 3)
            .as("src_url"),
          explode(col("env.Envelope.`Payload-Metadata`.`HTTP-Response-Metadata`" +
            ".`HTML-Metadata`.Links")).as("link"))
        .select(col("doc_id"),
          substring_index(substring_index(col("src_url"), "://", -1), "/", 1).as("src_host"),
          substring_index(substring_index(col("link.url"), "://", -1), "/", 1).as("dst_host"))
        .groupBy("dst_host")
        .agg(count(lit(1)).as("in_degree"),
          countDistinct(col("src_host")).as("n_src_hosts"))
        .orderBy("dst_host")
    },
      // WAT-graph replay: edge set from (id, j) arithmetic — green only
      // if the envelope build, from_json decomposition, host parsing
      // and the degree aggregation all agree
      """WITH d AS (SELECT doc_id, CAST(doc_id % 5 AS INTEGER) AS k FROM documents),
                e AS (SELECT doc_id, CAST(unnest(range(0, k)) AS INTEGER) AS j FROM d),
                g AS (SELECT 'site' || ((doc_id + j) % 20) || '.example.com' AS dst_host,
                             'src' || (doc_id % 20) || '.example.com' AS src_host
                      FROM e)
           SELECT dst_host, count(*) AS in_degree,
                  count(DISTINCT src_host) AS n_src_hosts
           FROM g GROUP BY dst_host ORDER BY dst_host"""),

    // content-type dispatch through the crawl read stack — how PDFs
    // actually arrive: inside gzip WARC response records carrying HTTP
    // blocks whose Content-Type decides the extractor. Even docs ship
    // their (sanitized) text as a REAL multi-page PDF, odd docs as HTML;
    // the read side walks WARC → HTTP, dispatches on the type header,
    // and runs graft.ext.Pdf.extractText or graft.sources.Html.extract —
    // the funnel a mixed 100 TB corpus needs. Oracle: both branches in
    // closed form (PDF by writer∘reader identity + the page-split
    // formula; HTML by the tag-strip/whitespace-normalize replay).
    // Scan-shaped: per-row kernels, reused codec, cosmetic sort only.
    Query("x_pdf_funnel", (s, dir) => {
      import s.implicits._
      cleanTexts(s, dir)
        .mapPartitions { rows =>
          val codec = new graft.sources.Warc.GzipCodec
          rows.map { case (id, clean) =>
            val isPdf = id % 2 == 0
            val body =
              if (isPdf)
                graft.ext.Pdf.encodeDocPdf(clean, (id % 40 + 20).toInt, (id % 7 + 3).toInt)
              else docPage(id, s"<p>${stripMarkup(clean)}</p>")
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val ctype = if (isPdf) "application/pdf" else "text/html; charset=UTF-8"
            // real wire framing: PDFs stream out chunked, HTML gzip'd —
            // the dispatch must run on the DECODED body
            val (wireHdr, wire) =
              if (isPdf) ("Transfer-Encoding: chunked\r\n",
                graft.sources.Warc.chunked(body, (id % 13 + 7).toInt))
              else ("Content-Encoding: gzip\r\n", codec.gzip(body))
            val http = (s"HTTP/1.1 200 OK\r\nContent-Type: $ctype\r\n$wireHdr\r\n")
              .getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ wire
            val resp = httpRoundTrip(id, http, codec)
            if (resp.contentType.startsWith("application/pdf")) {
              val (nPages, text) = pdfText(resp.body, id)
              (id, "pdf", nPages, text)
            } else {
              val ex = graft.sources.Html.extract(
                new String(resp.body, java.nio.charset.StandardCharsets.UTF_8))
              (id, "html", 1L, ex.text)
            }
          }
        }
        .toDF("doc_id", "kind", "n_pages", "text_out")
        .orderBy("doc_id")
    },
      // dispatch replay: the PDF branch by the split formula + identity,
      // the HTML branch by tag-strip/whitespace-normalize — green only
      // if the content-type routing AND both extractors are exact
      s"""WITH $pdfDocsSql
           SELECT doc_id,
                  CASE WHEN doc_id % 2 = 0 THEN 'pdf' ELSE 'html' END AS kind,
                  CAST(CASE WHEN doc_id % 2 = 0 THEN $pdfPagesSql
                       ELSE 1 END AS BIGINT) AS n_pages,
                  CASE WHEN doc_id % 2 = 0 THEN clean
                       ELSE trim(regexp_replace(${stripMarkupSql("clean")}, ' +', ' ', 'g')) END AS text_out
           FROM d ORDER BY doc_id"""),

    // CDX/SURT crawl-index pruning — the crawl-scale form of the
    // reference's partition predicate pushdown
    // (data-s3-elastic-transfer.py:301-308) and of Manifest.filesInRange:
    // CommonCrawl ships per-segment CDXJ indexes mapping SURT keys to
    // exact (offset, length) gzip-member byte ranges, so a URL predicate
    // reads ONLY matching members. Fixture: docs grouped into 40 segment
    // files (member-per-record gzip WARC — ONE shuffle, the archive
    // write), each with its CDXJ index built from UrlFunctions.surtKey.
    // The prune then parses the CDXJ back (strict round trip in the
    // benched path), keeps the target site's contiguous key range, and
    // range-reads JUST those members — segments without hits are dropped
    // before any WARC byte is touched, non-matching members are never
    // gunzipped (CdxSpec pins that with a poisoned-member fixture). The
    // oracle re-derives the matching docs and their stats in closed form.
    Query("x_cdx_prune", (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text"), siteUrl.as("url"))
        .withColumn("surt", graft.functions.UrlFunctions.surtKey(col("url")))
        .withColumn("segment", (col("doc_id") % 40).cast("int"))
        .as[(Long, String, String, String, Int)]
      val segments = docs.groupByKey(_._5).mapGroups { (seg, rows) =>
        val sorted = rows.toSeq.sortBy(_._1)
        val codec = new graft.sources.Warc.GzipCodec
        val segBytes = new java.io.ByteArrayOutputStream()
        val entries = scala.collection.mutable.ArrayBuffer[graft.sources.Cdx.Entry]()
        sorted.foreach { case (id, text, url, surt, _) =>
          val member = codec.gzip(graft.sources.Warc.writeRecords(Seq(
            graft.sources.Warc.Record("response", s"<urn:uuid:doc-$id>", url,
              text.getBytes(java.nio.charset.StandardCharsets.UTF_8)))))
          entries += graft.sources.Cdx.Entry(surt, url, "20260101000000",
            segBytes.size().toLong, member.length.toLong)
          segBytes.write(member)
        }
        (seg, segBytes.toByteArray, graft.sources.Cdx.writeCdxj(entries.toSeq))
      }
      val prefix = "com,example,site3)"
      segments.flatMap { case (_, segBytes, cdxj) =>
        val entries = graft.sources.Cdx.parseCdxj(cdxj)
          .getOrElse(sys.error("own CDXJ must parse"))
        val hits = entries.filter(_.surt.startsWith(prefix))
        if (hits.isEmpty) Iterator.empty
        else {
          val codec = new graft.sources.Warc.GzipCodec
          hits.iterator.map { e =>
            val member = java.util.Arrays.copyOfRange(
              segBytes, e.offset.toInt, (e.offset + e.length).toInt)
            val rec = graft.sources.Warc.parseRecords(member, Some(codec))
              .getOrElse(sys.error("indexed member must parse")).head
            val id = rec.targetUri.substring(rec.targetUri.lastIndexOf('/') + 1).toLong
            val ne = countE(rec.content)
            (id, e.surt, rec.content.length.toLong, ne)
          }
        }
      }.toDF("doc_id", "surt", "content_length", "n_e")
        .orderBy("doc_id")
    },
      // CDX prune replay: exactly the site3 docs, their SURT keys from
      // the URL formula, byte stats from the text — green only if the
      // index round trip and every selected member's range-read are exact
      """SELECT doc_id,
                  'com,example,site3)/doc/' || doc_id AS surt,
                  CAST(strlen(text) AS BIGINT) AS content_length,
                  CAST(strlen(text) - strlen(replace(text, 'e', '')) AS BIGINT) AS n_e
           FROM documents WHERE doc_id % 7 = 3 ORDER BY doc_id"""),

    // two-level CDX index (the published CommonCrawl/pywb ZipNum
    // layout): the per-crawl index is gzip-sharded CDXJ blocks plus a
    // small `cluster.idx` secondary (one line per block: first key +
    // byte range), and a lookup BINARY-SEARCHES the secondary then
    // gunzips ONLY the selected blocks — what makes a single-URL
    // lookup O(1 block) against a 300 GB index. Fixture: the corpus's
    // URL keys are RANGE-partitioned on SURT into shards (the real
    // layout — shards partition the key space), sorted within, and
    // each shard builds its blocks + secondary with Cdx.writeClustered;
    // the site3 prefix lookup then runs per shard — O(log blocks)
    // compares, at most one floor block beyond the hit range touched
    // (CdxSpec pins untouched blocks with poisoned bytes). Oracle:
    // the matching keys in closed form. One range-exchange (the index
    // build's sort IS the index), scan-shaped lookup.
    Query("x_cdx_cluster", (s, dir) => {
      import s.implicits._
      val keyed = t(s, dir, "documents")
        .select(col("doc_id").cast("long"), siteUrl.as("url"))
        .withColumn("surt", graft.functions.UrlFunctions.surtKey(col("url")))
        .withColumn("ts", concat(lit("20260101"),
          lpad((col("doc_id") % 86400).cast("string"), 6, "0")))
        .select(col("doc_id"), col("url"), col("surt"), col("ts"))
        .repartitionByRange(8, col("surt"))
        .sortWithinPartitions("surt", "ts")
        .as[(Long, String, String, String)]
      val prefix = "com,example,site3)"
      keyed.mapPartitions { rows =>
        val codec = new graft.sources.Warc.GzipCodec
        val entries = rows.map { case (id, url, surt, ts) =>
          graft.sources.Cdx.Entry(surt, url, ts, id, id % 1000 + 1)
        }.toSeq
        if (entries.isEmpty) Iterator.empty
        else {
          val (shard, cluster) = graft.sources.Cdx.writeClustered(entries, 16, codec)
          graft.sources.Cdx
            .lookupClustered(shard, cluster.toIndexedSeq,
              prefix, prefix + Char.MaxValue, codec)
            .getOrElse(sys.error("own clustered index must read back"))
            .iterator.map { e =>
              val id = e.url.substring(e.url.lastIndexOf('/') + 1).toLong
              (id, e.surt, e.timestamp)
            }
        }
      }.toDF("doc_id", "surt", "ts")
        .orderBy("doc_id")
    },
      // two-level lookup replay: the matching keys and timestamps in
      // closed form — green only if the range partitioning, block
      // write, secondary binary search and block decode agree on
      // exactly the site3 key range
      """SELECT doc_id,
                  'com,example,site3)/doc/' || doc_id AS surt,
                  '20260101' || lpad(CAST(doc_id % 86400 AS VARCHAR), 6, '0') AS ts
           FROM documents WHERE doc_id % 7 = 3 ORDER BY doc_id"""),

    // incremental CDX index merge — the nightly job a living archive
    // runs: yesterday's index plus today's crawl generation merge into
    // one sorted index, LAST GENERATION WINNING on (surt, timestamp)
    // collisions (a re-packed segment moves a capture's byte range; the
    // stale pointer must lose). Fixture: gen A covers every doc, gen B
    // re-crawls docs ≡0 (mod 3) at a new timestamp AND re-packs docs ≡0
    // (mod 5) at the SAME timestamp with shifted offsets — the
    // collision class that pins the resolution. Shape: ONE shuffle for
    // the (surt, ts) dedup (max_by partial-aggregates map-side), then
    // repartitionByRange + sortWithinPartitions — the real sorted-index
    // write — with a strict CDXJ write∘parse round trip per partition.
    Query("x_cdx_merge", (s, dir) => {
      import s.implicits._
      val gens = docIds(s, dir).flatMap(cdxGens)
        .toDF("gen", "surt", "url", "ts", "offset", "length")
      cdxjRoundTrip(gens.groupBy("surt", "ts")
        .agg(max_by(struct(col("gen"), col("url"), col("offset"), col("length")),
          col("gen")).as("e"))
        .select(col("surt"), col("ts"), col("e.url").as("url"),
          col("e.offset").as("offset"), col("e.length").as("length"),
          col("e.gen").cast("long").as("gen")))
        .orderBy("surt", "ts")
    },
      cdxMergeSql),

    // WARC revisit records (ISO 28500 §6.7) — fetch-time dedup in real
    // CommonCrawl segments: a crawler that re-fetches content whose
    // payload digest it already stored writes a BODILESS revisit record
    // carrying WARC-Refers-To + WARC-Payload-Digest instead of the
    // bytes. Fixture: docs ≡2 (mod 3) are revisits of doc_id-2 (their
    // digest attached by a shifted self-join — md5 computed with the
    // native codegen'd md5()); everything else is a full response with
    // its own digest. ALL records round-trip the WARC grammar (write →
    // gzip → parse recovers both revisit headers byte-exactly), then
    // resolution is relational: revisits join responses on the
    // refers-to pointer, digest equality verified in-row. Oracle:
    // the shifted self-join in closed form. Plan: the resolution join
    // shuffles only (id, digest, refers) header rows — content bytes
    // stay in the response-side scan, never on the revisit side.
    Query("x_warc_revisit", (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id").cast("long"), col("text"))
      val originals = docs.filter(col("doc_id") % 3 =!= 2)
        .select(col("doc_id"), col("text"), md5(col("text")).as("digest"),
          lit("").as("refers"), lit("response").as("wtype"))
      val revisits = docs.filter(col("doc_id") % 3 === 2).alias("r")
        .join(docs.alias("o"), expr("o.doc_id = r.doc_id - 2"))
        .select(col("r.doc_id").as("doc_id"), lit("").as("text"),
          md5(col("o.text")).as("digest"),
          concat(lit("<urn:uuid:doc-"), (col("r.doc_id") - 2).cast("string"),
            lit(">")).as("refers"),
          lit("revisit").as("wtype"))
      val parsed = originals.unionByName(revisits)
        .as[(Long, String, String, String, String)]
        .mapPartitions { rows =>
          val codec = new graft.sources.Warc.GzipCodec
          rows.map { case (id, text, digest, refers, wtype) =>
            val rec = graft.sources.Warc.Record(wtype, s"<urn:uuid:doc-$id>",
              s"http://example.com/doc/$id",
              text.getBytes(java.nio.charset.StandardCharsets.UTF_8),
              refersTo = refers, payloadDigest = s"md5:$digest")
            val back = graft.sources.Warc
              .parseRecords(codec.gzip(graft.sources.Warc.writeRecords(Seq(rec))), Some(codec))
              .getOrElse(sys.error(s"own WARC must parse (doc $id)")).head
            val ne = countE(back.content)
            (id, back.warcType, back.recordId, back.refersTo, back.payloadDigest,
              back.content.length.toLong, ne)
          }
        }
        .toDF("doc_id", "wtype", "record_id", "refers_to", "digest", "clen", "n_e")
      val responses = parsed.filter(col("wtype") === "response")
        .select(col("record_id").as("orig_rec"), col("digest").as("orig_digest"),
          col("clen").as("content_length"), col("n_e"))
      parsed.filter(col("wtype") === "revisit")
        .select(col("doc_id"), col("refers_to"), col("digest"))
        .join(responses, col("refers_to") === col("orig_rec"))
        .select(col("doc_id"),
          regexp_extract(col("refers_to"), "doc-(\\d+)", 1).cast("long").as("orig_id"),
          (col("digest") === col("orig_digest")).as("digest_ok"),
          col("content_length"), col("n_e"))
        .orderBy("doc_id")
    },
      // revisit replay: the shifted self-join in closed form — revisits
      // of doc_id-2, digest always verified, stats from the ORIGINAL's
      // text (the revisit record itself is bodiless)
      """SELECT r.doc_id, r.doc_id - 2 AS orig_id, TRUE AS digest_ok,
                  CAST(strlen(o.text) AS BIGINT) AS content_length,
                  CAST(strlen(o.text) - strlen(replace(o.text, 'e', '')) AS BIGINT) AS n_e
           FROM documents r JOIN documents o ON o.doc_id = r.doc_id - 2
           WHERE r.doc_id % 3 = 2 ORDER BY r.doc_id"""),

    // HTTP wire grammar — Transfer-Encoding: chunked framing (RFC 9112
    // §7.1) and Content-Encoding: gzip/deflate (RFC 9110 §8.4), the two
    // layers real CommonCrawl response records store RAW (the crawler
    // writes the wire bytes; the consumer must de-frame then decode).
    // Fixture: doc_id%5 plants plain / chunked-with-trailer / gzip /
    // chunked+gzip / zlib-deflate bodies; every response round-trips
    // the WARC+HTTP stack and the decoded body must equal the original
    // text byte-exactly (the oracle re-derives its stats from text
    // alone — a mis-framed chunk boundary or a skipped Adler check
    // shifts a byte count). Scan-shaped: reused codec per partition.
    Query("x_http_chunked", (s, dir) => {
      import s.implicits._
      docTexts(s, dir)
        .mapPartitions { rows =>
          val codec = new graft.sources.Warc.GzipCodec // reused per partition
          rows.map { case (id, text) =>
            val cls = (id % 5).toInt
            val body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val chunkSize = (id % 7 + 3).toInt
            val (teHdr, ceHdr, wire) = cls match {
              case 0 => ("", "", body)
              case 1 => ("chunked", "",
                graft.sources.Warc.chunked(body, chunkSize, Seq(s"X-Digest: d$id")))
              case 2 => ("", "gzip", codec.gzip(body))
              case 3 => ("chunked", "gzip",
                graft.sources.Warc.chunked(codec.gzip(body), chunkSize))
              case _ => ("", "deflate", codec.zlib(body))
            }
            val head = new StringBuilder()
              .append("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n")
            if (teHdr.nonEmpty) head.append(s"Transfer-Encoding: $teHdr\r\n")
            if (ceHdr.nonEmpty) head.append(s"Content-Encoding: $ceHdr\r\n")
            head.append("\r\n")
            val content = head.toString
              .getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ wire
            val http = httpRoundTrip(id, content, codec)
            if (!java.util.Arrays.equals(http.body, body))
              sys.error(s"decoded body must round-trip byte-exactly (doc $id)")
            val ne = countE(http.body)
            (id, http.transferEncoding, http.contentEncoding,
              http.body.length.toLong, ne)
          }
        }
        .toDF("doc_id", "te", "ce", "body_len", "n_e")
        .orderBy("doc_id")
    },
      // wire-grammar replay: encodings and decoded-body stats from the
      // class formula and the text alone — green only if chunk framing,
      // trailers, gzip members and the zlib Adler trailer all decode to
      // the exact original bytes
      """SELECT doc_id,
                  CASE WHEN doc_id % 5 IN (1, 3) THEN 'chunked' ELSE '' END AS te,
                  CASE WHEN doc_id % 5 IN (2, 3) THEN 'gzip'
                       WHEN doc_id % 5 = 4 THEN 'deflate' ELSE '' END AS ce,
                  CAST(strlen(text) AS BIGINT) AS body_len,
                  CAST(strlen(text) - strlen(replace(text, 'e', '')) AS BIGINT) AS n_e
           FROM documents ORDER BY doc_id"""),

    // WARC record-type vocabulary + WARC-Truncated (ISO 28500 §5.13,
    // §6) — what a real segment actually interleaves: each fetch writes
    // a REQUEST record (the outbound HTTP block), a RESPONSE record,
    // and a METADATA record; docs ≡0 (mod 4) were cut short mid-body
    // and carry WARC-Truncated with a formula reason (length / time /
    // disconnect), storing only the first half of the bytes. The
    // consumer must flag truncated payloads — extracted stats come out
    // ONLY for complete responses; a reader that ignores the header
    // and extracts half a document corrupts its corpus (the oracle
    // pins extracted_len=NULL on exactly the truncated rows).
    Query("x_warc_truncated", (s, dir) => {
      import s.implicits._
      docTexts(s, dir)
        .mapPartitions { rows =>
          val codec = new graft.sources.Warc.GzipCodec
          rows.map { case (id, text) =>
            val full = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val isTrunc = id % 4 == 0
            val reason = (id % 3) match {
              case 0 => "length"; case 1 => "time"; case _ => "disconnect"
            }
            val stored = if (isTrunc) java.util.Arrays.copyOfRange(full, 0, full.length / 2)
              else full
            val uri = s"http://example.com/doc/$id"
            val recs = Seq(
              graft.sources.Warc.Record("request", s"<urn:uuid:req-$id>", uri,
                (s"GET /doc/$id HTTP/1.1\r\nHost: example.com\r\n\r\n")
                  .getBytes(java.nio.charset.StandardCharsets.US_ASCII)),
              graft.sources.Warc.Record("response", s"<urn:uuid:doc-$id>", uri,
                stored, truncated = if (isTrunc) reason else ""),
              graft.sources.Warc.Record("metadata", s"<urn:uuid:meta-$id>", uri,
                s"fetchTimeMs: ${id % 1000}"
                  .getBytes(java.nio.charset.StandardCharsets.US_ASCII)))
            val back = graft.sources.Warc
              .parseRecords(graft.sources.Warc.gzipPerRecord(recs, codec), Some(codec))
              .getOrElse(sys.error(s"own WARC must parse (doc $id)"))
            val types = back.map(_.warcType)
            val resp = back.find(_.warcType == "response")
              .getOrElse(sys.error(s"response record must survive (doc $id)"))
            // the flag gate: truncated payloads are stored, NOT extracted
            val extractedLen =
              if (resp.truncated.nonEmpty) None else Some(resp.content.length.toLong)
            (id, types.mkString(","), resp.truncated,
              resp.content.length.toLong, extractedLen,
              if (resp.truncated.isEmpty) Some(countE(resp.content)) else None)
          }
        }
        .toDF("doc_id", "record_types", "truncated", "stored_len", "extracted_len", "n_e")
        .orderBy("doc_id")
    },
      // truncation replay: reason by formula, stored bytes = half on the
      // truncated rows, and extracted stats NULL exactly there — green
      // only if the WARC-Truncated header survives the round trip and
      // gates extraction
      """SELECT doc_id,
                  'request,response,metadata' AS record_types,
                  CASE WHEN doc_id % 4 = 0 THEN
                         CASE WHEN doc_id % 3 = 0 THEN 'length'
                              WHEN doc_id % 3 = 1 THEN 'time'
                              ELSE 'disconnect' END
                       ELSE '' END AS truncated,
                  CAST(CASE WHEN doc_id % 4 = 0 THEN strlen(text) // 2
                            ELSE strlen(text) END AS BIGINT) AS stored_len,
                  CAST(CASE WHEN doc_id % 4 = 0 THEN NULL
                            ELSE strlen(text) END AS BIGINT) AS extracted_len,
                  CAST(CASE WHEN doc_id % 4 = 0 THEN NULL
                            ELSE strlen(text) - strlen(replace(text, 'e', ''))
                            END AS BIGINT) AS n_e
           FROM documents ORDER BY doc_id"""),

    // WARC record segmentation (ISO 28500 §5.18–§5.20) — how oversized
    // captures actually ship: a payload too big for one record splits
    // into a first segment plus `continuation` records carrying
    // WARC-Segment-Origin-ID, the last declaring the total length the
    // reader must verify. Each doc's text segments at a formula chunk
    // size, a metadata record is INTERLEAVED inside the chain (the spec
    // allows other records between segments), the stream round-trips
    // through gzip, and reassembly must walk the chain back to the
    // exact original bytes. Oracled in closed form: segment count by
    // the ceil-division formula, reassembled length and byte stats from
    // the text alone. Scan-shaped: per-row kernel, reused codec.
    Query("x_warc_segmented", (s, dir) => {
      import s.implicits._
      docTexts(s, dir)
        .mapPartitions { rows =>
          val codec = new graft.sources.Warc.GzipCodec
          rows.map { case (id, text) =>
            val body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val chunk = (id % 50 + 20).toInt
            val uri = s"http://example.com/doc/$id"
            val segs = graft.sources.Warc.segmentRecord(
              graft.sources.Warc.Record("response", s"<urn:uuid:doc-$id>", uri, body), chunk)
            val meta = graft.sources.Warc.Record("metadata", s"<urn:uuid:meta-$id>", uri,
              s"fetchTimeMs: ${id % 1000}".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
            val stream =
              if (segs.length > 1) segs.take(1) ++ Seq(meta) ++ segs.drop(1)
              else segs :+ meta
            val file = codec.gzip(graft.sources.Warc.writeRecords(stream))
            val back = graft.sources.Warc.parseRecords(file, Some(codec))
              .getOrElse(sys.error(s"own WARC must parse (doc $id)"))
            val recs = graft.sources.Warc.reassemble(back)
              .getOrElse(sys.error(s"own chain must reassemble (doc $id)"))
            val resp = recs.find(_.warcType == "response")
              .getOrElse(sys.error(s"response must survive (doc $id)"))
            val ne = countE(resp.content)
            (id, segs.length.toLong, recs.length.toLong, resp.content.length.toLong, ne)
          }
        }
        .toDF("doc_id", "n_segments", "n_records", "reassembled_len", "n_e")
        .orderBy("doc_id")
    },
      // segmentation replay: segment count by ceil division (an
      // already-fitting record stays unsegmented per §5.18), reassembled
      // bytes and stats from the text — green only if split, interleave,
      // round trip and strict reassembly are all exact
      s"""WITH ${segmentDocsSql("doc_id % 50 + 20")}
           SELECT doc_id, $nSegmentsSql,
                  CAST(2 AS BIGINT) AS n_records,
                  CAST(n AS BIGINT) AS reassembled_len, n_e
           FROM d ORDER BY doc_id"""),

    // segmented reassembly at CORPUS scale — the cross-FILE shape: each
    // segment ships as its OWN gzip member (CommonCrawl's layout; a
    // chain's members can land in different files on different
    // machines), so reassembly needs exactly ONE shuffle to co-locate a
    // chain by its origin id before the ordered concat. That shuffle is
    // the whole distributed cost: state per chain is its byte total,
    // and the group kernel replays the same strict reassemble grammar
    // as the in-stream form. Same closed-form oracle family.
    Query("x_warc_reassemble_dist", (s, dir) => {
      import s.implicits._
      val members = docTexts(s, dir)
        .mapPartitions { rows =>
          val codec = new graft.sources.Warc.GzipCodec
          rows.flatMap { case (id, text) =>
            val body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val chunk = (id % 64 + 32).toInt
            graft.sources.Warc.segmentRecord(
              graft.sources.Warc.Record("response", s"<urn:uuid:doc-$id>",
                s"http://example.com/doc/$id", body), chunk)
              .map(seg => (id, seg.segment,
                codec.gzip(graft.sources.Warc.writeRecords(Seq(seg)))))
          }
        }
      members.groupByKey(_._1)
        .mapGroups { (id, it) =>
          val codec = new graft.sources.Warc.GzipCodec
          val segs = it.toSeq.sortBy(_._2).flatMap { case (_, _, bytes) =>
            graft.sources.Warc.parseRecords(bytes, Some(codec))
              .getOrElse(sys.error(s"member must parse (doc $id)"))
          }
          val recs = graft.sources.Warc.reassemble(segs)
            .getOrElse(sys.error(s"chain must reassemble (doc $id)"))
          val r = recs.head
          val ne = countE(r.content)
          (id, segs.length.toLong, r.content.length.toLong, ne)
        }
        .toDF("doc_id", "n_segments", "reassembled_len", "n_e")
        .orderBy("doc_id")
    },
      // distributed form: same family, chunk 32..95, one member per
      // segment — the shuffle-then-reassemble path
      s"""WITH ${segmentDocsSql("doc_id % 64 + 32")}
           SELECT doc_id, $nSegmentsSql,
                  CAST(n AS BIGINT) AS reassembled_len, n_e
           FROM d ORDER BY doc_id"""),

    // the full crawl read stack — WARC envelope → HTTP response block →
    // document bytes (how CommonCrawl content actually nests), exactly
    // oracled: each doc's text becomes the body of a real HTTP/1.1
    // response (formula status code and Content-Type), wrapped in a
    // gzip'd WARC response record; the engine walks BOTH layers back
    // (Warc.parseRecords → Warc.parseHttp) and emits status, type and
    // exact body stats the oracle re-derives from the text alone. One
    // wrong byte in either envelope shifts a stat. Scan-shaped.
    Query("x_http_extract", (s, dir) => {
      import s.implicits._
      docTexts(s, dir)
        .mapPartitions { rows =>
          val codec = new graft.sources.Warc.GzipCodec // reused per partition
          rows.map { case (id, text) =>
            val code = (id % 3) match { case 0 => 200; case 1 => 301; case _ => 404 }
            val ctype = if (id % 2 == 0) "text/html; charset=UTF-8" else "text/plain"
            val body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val head = (s"HTTP/1.1 $code Reason\r\n" +
              s"Content-Type: $ctype\r\n" +
              s"X-Doc: $id\r\n\r\n")
              .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
            val content = head ++ body
            val http = httpRoundTrip(id, content, codec)
            val ne = countE(http.body)
            (id, http.status, http.contentType, http.body.length.toLong, ne)
          }
        }
        .toDF("doc_id", "status", "content_type", "body_len", "n_e")
        .orderBy("doc_id")
    },
      // HTTP-in-WARC replay: status/type from id arithmetic, body stats
      // from the text — green only if both envelope walks are lossless
      """SELECT doc_id,
                  CAST(CASE WHEN doc_id % 3 = 0 THEN 200
                            WHEN doc_id % 3 = 1 THEN 301 ELSE 404 END AS INTEGER) AS status,
                  CASE WHEN doc_id % 2 = 0 THEN 'text/html; charset=UTF-8'
                       ELSE 'text/plain' END AS content_type,
                  CAST(strlen(text) AS BIGINT) AS body_len,
                  CAST(strlen(text) - strlen(replace(text, 'e', '')) AS BIGINT) AS n_e
           FROM documents ORDER BY doc_id"""),

    // charset detection (the decode decision before any text op — crawl
    // headers lie, the bytes don't), exactly oracled: doc_id%6 plants
    // pure-ASCII, valid multibyte UTF-8 (k copies of C3 A9 'é'),
    // bare-0xE9 Latin-1, AND the three adversarial classes every lax
    // validator mislabels — overlong (E0 80 80), CESU-8 surrogate
    // (ED A0 80) and past-the-ceiling F4 90 80 80 — which a STRICT
    // decoder (Java REPORT, DuckDB, Python) rejects, so they must
    // classify latin-1. graft.sources.CharsetDetect's per-lead
    // first-continuation ranges (Unicode 15 table 3-7) are what the
    // oracle's closed-form class labels pin. Scan-shaped: map over the
    // doc scan.
    Query("x_charset_detect", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val k = (id % 4 + 1).toInt
          val base = s"sample text nr ${id % 100}"
            .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
          def rep(seq: Int*): Array[Byte] =
            Array.fill(k)(seq.map(_.toByte).toArray).flatten
          val payload = (id % 6) match {
            case 0 => base
            case 1 => base ++ rep(0xc3, 0xa9) // valid 'é'
            case 2 => base ++ rep(0xe9) // bare Latin-1 'é'
            case 3 => base ++ rep(0xe0, 0x80, 0x80) // overlong NUL
            case 4 => base ++ rep(0xed, 0xa0, 0x80) // CESU-8 surrogate
            case _ => base ++ rep(0xf4, 0x90, 0x80, 0x80) // > U+10FFFF
          }
          val d = graft.sources.CharsetDetect.detect(payload)
          (id, d.charset, d.nNonAscii, d.decodedLen)
        }
        .toDF("doc_id", "charset", "n_non_ascii", "decoded_len")
        .orderBy("doc_id")
    },
      // charset replay: class/counts/decoded lengths from the construction
      // formula (UTF-8 'é' is 2 bytes 1 char; Latin-1 is 1 byte 1 char;
      // the three adversarial classes are 3-, 3- and 4-byte plants that
      // must come out latin-1 — one byte, one char each)
      """WITH d AS (SELECT doc_id,
                        CAST(doc_id % 4 + 1 AS INTEGER) AS k,
                        CAST(doc_id % 6 AS INTEGER) AS cls,
                        length('sample text nr ' || (doc_id % 100)) AS bl
                      FROM documents)
           SELECT doc_id,
                  CASE WHEN cls = 0 THEN 'ascii'
                       WHEN cls = 1 THEN 'utf-8' ELSE 'latin-1' END AS charset,
                  CAST(CASE WHEN cls = 0 THEN 0
                            WHEN cls = 1 THEN 2 * k
                            WHEN cls = 2 THEN k
                            WHEN cls = 5 THEN 4 * k
                            ELSE 3 * k END AS INTEGER) AS n_non_ascii,
                  CAST(CASE WHEN cls = 0 THEN bl
                            WHEN cls = 1 THEN bl + k
                            WHEN cls = 2 THEN bl + k
                            WHEN cls = 5 THEN bl + 4 * k
                            ELSE bl + 3 * k END AS INTEGER) AS decoded_len
           FROM d ORDER BY doc_id"""),

    // WHATWG charset sniffing — the PUBLISHED precedence real HTML
    // pipelines implement (WHATWG Encoding §4.2 + HTML §13.2.3.2):
    // BOM > HTTP charset= > <meta> prescan > structural fallback, with
    // the house strictness that a LYING label falls through instead of
    // mislabeling. Fixture classes (doc_id%8): UTF-8/16LE/16BE BOMs,
    // an honored HTTP header, a lying HTTP header (declares utf-8 over
    // bare-0xE9 bytes — must fall to structural latin-1), a meta
    // windows-1252 declaration, and the §13.2.3.3 quirk (meta-declared
    // UTF-16 read as UTF-8). The oracle replays label, WINNING LEVEL,
    // high-byte count and decoded length from the construction formula.
    // Scan-shaped: map over the doc scan.
    Query("x_charset_sniff", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val k = (id % 4 + 1).toInt
          val baseS = s"sample text nr ${id % 100}"
          val base = baseS.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
          val eUtf8 = Array.fill(k)(Array(0xc3.toByte, 0xa9.toByte)).flatten
          val eL1 = Array.fill(k)(0xe9.toByte)
          val (payload, ctype) = (id % 8) match {
            case 0 => (base, "text/plain")
            case 1 => (Array(0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++ base ++ eUtf8,
              "text/plain")
            case 2 => (Array(0xff.toByte, 0xfe.toByte) ++
              baseS.getBytes(java.nio.charset.StandardCharsets.UTF_16LE), "text/plain")
            case 3 => (Array(0xfe.toByte, 0xff.toByte) ++
              baseS.getBytes(java.nio.charset.StandardCharsets.UTF_16BE), "text/plain")
            case 4 => (base ++ eUtf8, "text/html; charset=UTF-8")
            case 5 => (base ++ eL1, "text/html; charset=UTF-8") // header LIES
            case 6 => (("<meta charset=\"windows-1252\">").getBytes(
              java.nio.charset.StandardCharsets.US_ASCII) ++ base ++ eL1, "text/html")
            case _ => (("<meta http-equiv=\"Content-Type\" " +
              "content=\"text/html; charset=utf-16\">").getBytes(
              java.nio.charset.StandardCharsets.US_ASCII) ++ base, "text/html")
          }
          val d = graft.sources.CharsetDetect.sniff(payload, ctype)
          (id, d.charset, d.source, d.nNonAscii, d.decodedLen)
        }
        .toDF("doc_id", "charset", "source", "n_non_ascii", "decoded_len")
        .orderBy("doc_id")
    },
      // sniff replay: label, winning precedence level, high-byte count
      // and decoded length per construction class — green only if the
      // BOM/http/meta/structural order, the lying-header fall-through
      // and the meta-UTF-16 quirk all hold
      """WITH d AS (SELECT doc_id,
                        CAST(doc_id % 4 + 1 AS INTEGER) AS k,
                        CAST(doc_id % 8 AS INTEGER) AS cls,
                        strlen('sample text nr ' || (doc_id % 100)) AS bl
                      FROM documents)
           SELECT doc_id,
                  CASE cls WHEN 0 THEN 'ascii' WHEN 1 THEN 'utf-8'
                           WHEN 2 THEN 'utf-16le' WHEN 3 THEN 'utf-16be'
                           WHEN 4 THEN 'utf-8' WHEN 5 THEN 'latin-1'
                           WHEN 6 THEN 'windows-1252' ELSE 'utf-8' END AS charset,
                  CASE cls WHEN 0 THEN 'structural' WHEN 4 THEN 'http'
                           WHEN 5 THEN 'structural'
                           WHEN 6 THEN 'meta' WHEN 7 THEN 'meta'
                           ELSE 'bom' END AS source,
                  CAST(CASE WHEN cls IN (1, 4) THEN 2 * k
                            WHEN cls IN (5, 6) THEN k ELSE 0 END AS INTEGER)
                    AS n_non_ascii,
                  CAST(CASE WHEN cls IN (1, 4, 5) THEN bl + k
                            WHEN cls = 6 THEN strlen('<meta charset="windows-1252">') + bl + k
                            WHEN cls = 7 THEN strlen('<meta http-equiv="Content-Type" content="text/html; charset=utf-16">') + bl
                            ELSE bl END AS INTEGER) AS decoded_len
           FROM d ORDER BY doc_id"""),

    // HTML visible-text extraction (the step between a crawl's HTTP body
    // and the documents table a pipeline trains on), exactly oracled:
    // each doc carries constructed markup seeded with the classic
    // extraction traps — <script> whose STRING CONTENT contains fake
    // tags, a <style> block, an HTML comment wrapping markup, character
    // entities (named AND numeric &#x2019;/&#8212;), a quoted attribute
    // value CONTAINING '>', a bare '<' in prose, irregular whitespace —
    // and graft.sources.Html's single-pass scan must emit exactly the
    // title, the normalized visible text and the anchor count the
    // oracle re-derives in closed form. One leaked script byte,
    // swallowed entity, early-ended tag or eaten comparison sign shifts
    // the string. Scan-shaped: map over the doc scan, cosmetic sort only.
    Query("x_html_extract", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val k = (id % 5 + 1).toInt
          val links = (0 until k).map(i =>
            s"""<a href="http://example-${id % 50}.com/a/$i/page">link $i</a>""")
            .mkString(" ")
          val html =
            s"<html><head><title> Doc $id   t${id % 7} </title>" +
              "<script>var x = \"<p>decoy that must never leak</p>\";</script></head>" +
              s"<body><!-- <p>comment decoy</p> --><h1>Heading $id</h1> $links " +
              s"""<span title="a > b">w${id % 9} &lt; z</span> """ +
              "<style>p { color: red }</style>" +
              s"<p>Tail &amp; fin&#x2019;s &#8212; ${id % 4} < 9</p></body></html>"
          val e = graft.sources.Html.extract(html)
          (id, e.title, e.nLinks, e.text, e.text.length)
        }
        .toDF("doc_id", "title", "n_links", "text", "n_chars")
        .orderBy("doc_id")
    },
      // extraction replay: title/text/link-count built from id arithmetic
      // alone — green only if scripts, styles, comments and tags drop,
      // named AND numeric entities decode (&#x2019; → ’, &#8212; → —),
      // the quoted-'>' attribute does not end its tag early, and the
      // bare '<' comparisons survive as literal prose
      """WITH d AS (SELECT doc_id, CAST(doc_id % 5 + 1 AS INTEGER) AS k FROM documents),
                t AS (SELECT doc_id, k,
                        'Doc ' || doc_id || ' t' || (doc_id % 7) AS title,
                        'Heading ' || doc_id || ' '
                          || array_to_string(list_transform(range(0, k),
                               i -> 'link ' || i), ' ')
                          || ' w' || (doc_id % 9) || ' < z Tail & fin’s — '
                          || (doc_id % 4) || ' < 9' AS text
                      FROM d)
           SELECT doc_id, title, k AS n_links, text,
                  CAST(length(text) AS INTEGER) AS n_chars
           FROM t ORDER BY doc_id"""),

    // XML sitemap parsing (sitemaps.org — crawl DISCOVERY, the step that
    // feeds the frontier the robots gate then filters), exactly oracled:
    // each doc carries a constructed urlset whose entries hold formula
    // <loc> URLs and <lastmod> dates plus decoy children (<priority>,
    // whitespace) the real tag walker must skip; graft.sources.Sitemap
    // parses the entries back out as rows. The oracle re-derives every
    // loc/lastmod from id arithmetic — green only if the tag scan is
    // exact. Scan-shaped: flatMap over the doc scan, cosmetic sort only.
    Query("x_sitemap_parse", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .flatMap { id =>
          val ns = (id % 4 + 1).toInt
          val entries = (0 until ns).map { i =>
            val loc = s"http://example-${id % 50}.com/a/${(id + i) % 7}/page"
            val lastmod = f"2026-08-${(id + i) % 28 + 1}%02d"
            s"  <url>\n    <loc> $loc </loc>\n    <priority>0.5</priority>\n" +
              s"    <lastmod>$lastmod</lastmod>\n  </url>\n"
          }.mkString
          val xml = "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
            "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
            entries + "</urlset>\n"
          val parsed = graft.sources.Sitemap.parse(xml)
            .getOrElse(sys.error(s"own sitemap must parse (doc $id)"))
          parsed.iterator.zipWithIndex.map { case (e, idx) =>
            (id, idx, e.loc, e.lastmod)
          }
        }
        .toDF("doc_id", "entry_idx", "loc", "lastmod")
        .orderBy("doc_id", "entry_idx")
    },
      // sitemap replay: every entry's loc/lastmod from id arithmetic —
      // green only if the tag walk skips the decoy children exactly
      """WITH d AS (SELECT doc_id, CAST(doc_id % 4 + 1 AS INTEGER) AS ns FROM documents),
                e AS (SELECT doc_id, CAST(unnest(range(0, ns)) AS INTEGER) AS entry_idx
                      FROM d)
           SELECT doc_id, entry_idx,
                  'http://example-' || (doc_id % 50) || '.com/a/'
                    || ((doc_id + entry_idx) % 7) || '/page' AS loc,
                  '2026-08-' || lpad(CAST((doc_id + entry_idx) % 28 + 1 AS VARCHAR), 2, '0')
                    AS lastmod
           FROM e ORDER BY doc_id, entry_idx"""),

    // <sitemapindex> nesting (sitemaps.org — how large sites actually
    // ship discovery: an index of child sitemap files, each capped at
    // 50k URLs), exactly oracled: each doc carries a constructed index
    // of ns child locs; graft.sources.Sitemap.resolve parses the index,
    // "fetches" each child through a deterministic loc→urlset synthesis
    // and walks its entries, tagging every row with the child it came
    // from. The oracle re-derives the whole two-level tree from id
    // arithmetic — green only if index parse, one-level resolution AND
    // entry walks are all exact. Scan-shaped: flatMap over the doc scan.
    Query("x_sitemap_index", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .flatMap { id =>
          val h = id % 50
          val ns = (id % 3 + 1).toInt
          def childXml(j: Int): String = {
            val m = ((id + j) % 3 + 1).toInt
            val entries = (0 until m).map { i =>
              val loc = s"http://example-$h.com/s$j/p${(id + j + i) % 7}"
              val lastmod = f"2026-07-${(id + j + i) % 28 + 1}%02d"
              s"  <url><loc>$loc</loc><changefreq>daily</changefreq>" +
                s"<lastmod>$lastmod</lastmod></url>\n"
            }.mkString
            "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
              entries + "</urlset>\n"
          }
          val locs = (0 until ns).map(j => s"http://example-$h.com/sitemap/$j.xml")
          val children = locs.zipWithIndex.map { case (l, j) => l -> childXml(j) }.toMap
          val index = "<?xml version=\"1.0\"?>\n" +
            "<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
            locs.map(l => s"  <sitemap><loc>$l</loc><lastmod>2026-08-01</lastmod></sitemap>\n")
              .mkString + "</sitemapindex>\n"
          val resolved = graft.sources.Sitemap.resolve(index, children.get)
            .getOrElse(sys.error(s"own sitemap index must resolve (doc $id)"))
          var prevSrc = ""; var sj = -1; var ei = -1
          resolved.map { case (src, e) =>
            if (src != prevSrc) { sj += 1; ei = 0; prevSrc = src } else ei += 1
            (id, src, sj, ei, e.loc, e.lastmod)
          }.iterator
        }
        .toDF("doc_id", "src", "sitemap_idx", "entry_idx", "loc", "lastmod")
        .orderBy("doc_id", "sitemap_idx", "entry_idx")
    },
      // sitemap-index replay: the two-level discovery tree (index → ns
      // children → m entries each) re-derived from id arithmetic alone
      """WITH d AS (SELECT doc_id, CAST(doc_id % 3 + 1 AS INTEGER) AS ns FROM documents),
                j AS (SELECT doc_id, CAST(unnest(range(0, ns)) AS INTEGER) AS sj FROM d),
                e AS (SELECT doc_id, sj,
                        CAST((doc_id + sj) % 3 + 1 AS INTEGER) AS m FROM j),
                i AS (SELECT doc_id, sj,
                        CAST(unnest(range(0, m)) AS INTEGER) AS ei FROM e)
           SELECT doc_id,
                  'http://example-' || (doc_id % 50) || '.com/sitemap/' || sj || '.xml'
                    AS src,
                  sj AS sitemap_idx, ei AS entry_idx,
                  'http://example-' || (doc_id % 50) || '.com/s' || sj || '/p'
                    || ((doc_id + sj + ei) % 7) AS loc,
                  '2026-07-' || lpad(CAST((doc_id + sj + ei) % 28 + 1 AS VARCHAR), 2, '0')
                    AS lastmod
           FROM i ORDER BY doc_id, sitemap_idx, entry_idx"""),

    // robots.txt → sitemap discovery (the hook that SEEDS the frontier:
    // sitemaps.org and RFC 9309 §2.3 put `Sitemap:` lines in robots.txt
    // as group-independent records) — the missing first link of the
    // discovery chain, composed with the existing sitemap walk: parse
    // the per-host robots text with the real grammar (the line sits
    // INSIDE a named agent's group and must still bind; an ftp: value
    // and a relative value are protocol violations that must drop, a
    // trailing comment must strip), then fetch-and-parse the named
    // sitemap index and its children via Sitemap.resolve. Exactly
    // oracled: the surviving line count and every discovered URL
    // re-derive from id arithmetic. Scan-shaped.
    Query("x_robots_sitemap", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .flatMap { id =>
          val h = id % 20
          val robots =
            s"User-agent: specialbot\nDisallow: /private/\n" +
              s"SiTeMaP: http://site$h.example.com/sitemap_index.xml  # discovery\n" +
              "User-agent: *\nDisallow: /tmp/\n" +
              "sitemap: ftp://bad.example.com/nope.xml\n" +
              "Sitemap: relative/sitemap.xml\n"
          val urls = graft.sources.Robots.sitemapUrls(robots)
          val k = (id % 3 + 1).toInt
          val index = "<sitemapindex>" + (0 until k).map(c =>
            s"<sitemap><loc>http://site$h.example.com/sm_$c.xml</loc></sitemap>").mkString +
            "</sitemapindex>"
          val m = (id % 4 + 1).toInt
          def childXml(c: Int): String =
            "<urlset>" + (0 until m).map { u =>
              s"<url><loc>http://site$h.example.com/page/${id}_${c}_$u</loc>" +
                (if (u % 2 == 0) s"<lastmod>2026-01-0${u % 9 + 1}</lastmod>" else "") +
                "</url>"
            }.mkString + "</urlset>"
          val children = (0 until k)
            .map(c => s"http://site$h.example.com/sm_$c.xml" -> childXml(c)).toMap
          val resolved = graft.sources.Sitemap.resolve(index, children.get)
            .getOrElse(sys.error(s"own discovery chain must resolve (doc $id)"))
          resolved.iterator.map { case (src, e) =>
            (id, urls.length.toLong, urls.headOption.getOrElse(""), src, e.loc, e.lastmod)
          }
        }
        .toDF("doc_id", "n_maps", "map_url", "src", "loc", "lastmod")
        .orderBy("doc_id", "loc")
    },
      // discovery replay: exactly ONE Sitemap line survives the decoys,
      // and every discovered URL re-derives from (h, c, u) arithmetic
      """WITH d AS (SELECT doc_id, doc_id % 20 AS h,
                        CAST(doc_id % 3 + 1 AS INTEGER) AS k,
                        CAST(doc_id % 4 + 1 AS INTEGER) AS m
                      FROM documents),
                c AS (SELECT doc_id, h, m,
                        CAST(unnest(range(0, k)) AS INTEGER) AS c FROM d),
                u AS (SELECT doc_id, h, c,
                        CAST(unnest(range(0, m)) AS INTEGER) AS u FROM c)
           SELECT doc_id, CAST(1 AS BIGINT) AS n_maps,
                  'http://site' || h || '.example.com/sitemap_index.xml' AS map_url,
                  'http://site' || h || '.example.com/sm_' || c || '.xml' AS src,
                  'http://site' || h || '.example.com/page/' || doc_id || '_'
                    || c || '_' || u AS loc,
                  CASE WHEN u % 2 = 0 THEN '2026-01-0' || (u % 9 + 1) ELSE '' END
                    AS lastmod
           FROM u ORDER BY doc_id, loc"""),

    // lastmod-driven recrawl planning — WHY sitemaps carry <lastmod>:
    // a continuous crawl re-fetches a URL only when the publisher's
    // declared modification date passes the stored capture date, which
    // turns a full re-crawl into an incremental one. Discovery side
    // parses a REAL sitemap entry per doc (formula lastmod); state side
    // is the stored last-capture day; the plan is their equi-join on
    // URL with an ISO-date comparison (lexicographic = chronological
    // for zero-padded ISO dates). At corpus scale both sides are big —
    // the ONE hash join shuffle IS the job. Exactly oracled per doc.
    Query("x_recrawl_plan", (s, dir) => {
      import s.implicits._
      val discovered = docIds(s, dir)
        .map { id =>
          val day = (id * 7) % 28 + 1
          val xml = "<urlset><url><loc>http://example.com/doc/" + id + "</loc>" +
            f"<lastmod>2026-06-$day%02d</lastmod></url></urlset>"
          val e = graft.sources.Sitemap.parse(xml)
            .getOrElse(sys.error(s"own sitemap must parse ($id)")).head
          (e.loc, e.lastmod)
        }
        .toDF("url", "lastmod")
      val stored = t(s, dir, "documents").select(
        concat(lit("http://example.com/doc/"), col("doc_id").cast("string")).as("s_url"),
        col("doc_id").cast("long").as("doc_id"),
        format_string("2026-06-%02d", (col("doc_id") % 28 + 1).cast("int")).as("stored_day"))
      discovered.join(stored, col("url") === col("s_url"))
        .select(col("doc_id"), col("url"), col("lastmod"), col("stored_day"),
          (col("lastmod") > col("stored_day")).as("recrawl"))
        .orderBy("doc_id")
    },
      // recrawl replay: both date formulas in closed form — green only
      // if the sitemap parse, the join and the date comparison agree
      """WITH d AS (SELECT doc_id,
                        lpad(CAST((doc_id * 7) % 28 + 1 AS VARCHAR), 2, '0') AS lm,
                        lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS st
                      FROM documents)
           SELECT doc_id, 'http://example.com/doc/' || doc_id AS url,
                  '2026-06-' || lm AS lastmod, '2026-06-' || st AS stored_day,
                  lm > st AS recrawl
           FROM d ORDER BY doc_id"""),

    // robots.txt frontier filtering (RFC 9309 — the politeness gate
    // between canonicalization and fetch), exactly oracled: a per-host
    // robots.txt TEXT is parsed by the real group-aware grammar
    // (graft.sources.Robots — a decoy `User-agent: specialbot` group and
    // unknown directives must be skipped for the rule sets to come out
    // right), each doc's messy URL is canonicalized by the GENERIC
    // UrlFunctions pass, and the bounded host-rule table broadcasts onto
    // the URL scan (50 hosts — a broadcast probe at any corpus size, the
    // corpus never shuffles). blocked = the FULL §2.2.2 precedence
    // decision — longest matching pattern wins, Allow wins ties, `*`/`$`
    // wildcards honored (host classes plant blanket-Disallow+carve-out
    // and wildcard-vs-Allow contests); the oracle derives every column
    // from id arithmetic alone, so the row is green only if parsing,
    // canonicalization AND precedence all fire exactly.
    Query("x_robots_filter", (s, dir) => {
      import s.implicits._
      val id = col("doc_id")
      val seg = (id % 7).cast("string")
      val raw = concat(
        lit("HTTP://ExAmPle-"), (id % 50).cast("string"), lit(".CoM"),
        when(id % 4 === 1, concat(lit("/a/./"), seg, lit("/page")))
          .when(id % 4 === 2, concat(lit("/a/x/../"), seg, lit("/page")))
          .otherwise(concat(lit("/a/"), seg, lit("/page"))))
      withRobotsRules(
        t(s, dir, "documents").select(id.cast("long").as("doc_id"), raw.as("url_raw")), "url_raw")
        .select(col("doc_id"), col("url_canon"), col("host"), col("path"),
          col("allows"), col("disallows"))
        .as[(Long, String, String, String, Seq[String], Seq[String])]
        .map { case (d, canon, host, path, al, dis) =>
          // the wildcard/anchor matcher is imperative by nature — one
          // scan-side kernel over the broadcast-joined rows
          (d, canon, host, !graft.sources.Robots.isAllowed(al, dis, path),
            al.size + dis.size)
        }
        .toDF("doc_id", "url_canon", "host", "blocked", "n_rules")
        .orderBy("doc_id")
    },
      // robots replay: blocked/rule-count from id arithmetic alone,
      // replaying the RFC 9309 precedence per host class — 1: the
      // $-anchored /a/1/page$ hits seg 1 only; 2: prefix /a/3/ hits
      // seg 3; 3: Disallow /a/ + LONGER Allow /a/3/ blocks everything
      // EXCEPT seg 3; 4: wildcard /*/5/ (len 5) beats Allow / (len 1)
      // on seg 5; 0: no rules
      s"""SELECT doc_id,
                  $robotsVerdictSql,
                  CAST(CASE WHEN (doc_id % 50) % 5 = 0 THEN 0
                            WHEN (doc_id % 50) % 5 = 2 THEN 1
                            ELSE 2 END AS INTEGER) AS n_rules
           FROM documents ORDER BY doc_id"""),

    // URL canonicalization (RFC 3986 §6 — the crawl-side normalization
    // URL-keyed dedup and frontier joins stand on), exactly oracled: each
    // doc synthesizes a messy URL (mixed-case scheme/host, explicit
    // default port, /./ and /seg/../ dot segments INCLUDING the trailing
    // '/seg/..' form §5.2.4 resolves to the directory, unsorted query
    // params, the bare-'?' empty query, fragment) and the GENERIC
    // Column-only canonicalizer
    // (graft.functions.UrlFunctions — lower/substring_index/
    // regexp_replace/array_sort, zero UDFs, fuses into the scan) cleans
    // it; the oracle derives the canonical form INDEPENDENTLY from the
    // doc_id arithmetic in closed form, so the row is green only if every
    // rule fires exactly. Pure projection: no shuffle before the
    // cosmetic sort.
    Query("x_url_canonicalize", (s, dir) => {
      val id = col("doc_id")
      val seg = (id % 7).cast("string")
      val schemeRaw = when(id % 2 === 0, lit("HTTP")).otherwise(lit("https"))
      val defPort = when(id % 2 === 0, lit(":80")).otherwise(lit(":443"))
      val hostRaw = concat(lit("ExAmPle-"), (id % 50).cast("string"), lit(".CoM"))
      val portRaw = when(id % 3 === 0, defPort).otherwise(lit(""))
      val pathRaw = when(id % 4 === 1, concat(lit("/a/./"), seg, lit("/page")))
        .when(id % 4 === 2, concat(lit("/a/x/../"), seg, lit("/page")))
        .when(id % 4 === 3, concat(lit("/a/"), seg, lit("/page/x/..")))
        .otherwise(concat(lit("/a/"), seg, lit("/page")))
      val queryRaw = when(id % 5 === 0,
        concat(lit("?b=2&a="), (id % 9).cast("string")))
        .when(id % 5 === 4, lit("?")) // bare '?': an EMPTY query
        .otherwise(lit(""))
      val fragRaw = when(id % 2 === 1,
        concat(lit("#sec"), (id % 3).cast("string"))).otherwise(lit(""))
      val raw = concat(schemeRaw, lit("://"), hostRaw, portRaw, pathRaw, queryRaw, fragRaw)
      t(s, dir, "documents").select(id, raw.as("url_raw"))
        .select(col("doc_id"), col("url_raw"),
          graft.functions.UrlFunctions.canonicalizeUrl(col("url_raw")).as("url_canon"),
          graft.functions.UrlFunctions.hasFragment(col("url_raw")).as("had_fragment"),
          graft.functions.UrlFunctions.hasDefaultPort(col("url_raw")).as("stripped_port"),
          graft.functions.UrlFunctions.numParams(col("url_raw")).as("n_params"))
        .orderBy("doc_id")
    },
      // canonical-URL replay: the oracle builds BOTH the raw and the
      // canonical form from doc_id arithmetic alone — an independent
      // derivation, not a second canonicalizer
      """SELECT doc_id,
                  (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
                    || '://ExAmPle-' || (doc_id % 50) || '.CoM'
                    || (CASE WHEN doc_id % 3 = 0 THEN
                          (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
                        ELSE '' END)
                    || (CASE WHEN doc_id % 4 = 1 THEN '/a/./' || (doc_id % 7) || '/page'
                             WHEN doc_id % 4 = 2 THEN '/a/x/../' || (doc_id % 7) || '/page'
                             WHEN doc_id % 4 = 3 THEN '/a/' || (doc_id % 7) || '/page/x/..'
                             ELSE '/a/' || (doc_id % 7) || '/page' END)
                    || (CASE WHEN doc_id % 5 = 0 THEN '?b=2&a=' || (doc_id % 9)
                             WHEN doc_id % 5 = 4 THEN '?' ELSE '' END)
                    || (CASE WHEN doc_id % 2 = 1 THEN '#sec' || (doc_id % 3) ELSE '' END)
                    AS url_raw,
                  (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END)
                    || '://example-' || (doc_id % 50) || '.com'
                    || '/a/' || (doc_id % 7) || '/page'
                    || (CASE WHEN doc_id % 4 = 3 THEN '/' ELSE '' END)
                    || (CASE WHEN doc_id % 5 = 0 THEN '?a=' || (doc_id % 9) || '&b=2' ELSE '' END)
                    AS url_canon,
                  doc_id % 2 = 1 AS had_fragment,
                  doc_id % 3 = 0 AS stripped_port,
                  CAST(CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 0 END AS INTEGER) AS n_params
           FROM documents ORDER BY doc_id"""),

    // THE CRAWL FUNNEL END-TO-END — the five round-11/12 ingestion
    // kernels composed as ONE pipeline, the x_train_funnel discipline
    // applied to how 100 TB corpora actually arrive: member-per-record
    // gzip'd WARC → HTTP response block → charset detection on the raw
    // BODY BYTES → decode under the detected charset → HTML visible-text
    // extraction → Column-only URL canonicalization of the target URI →
    // RFC 9309 robots gate (broadcast 50-host rule table). Exactly
    // oracled: every emitted column — status, charset class, title,
    // link count, extracted text (including the é payload that only
    // survives if detect+decode agree), canonical URL, blocked — is
    // re-derived by the oracle from id arithmetic alone, so ONE wrong
    // byte in ANY layer shifts a value. Scan-shaped: one mapPartitions
    // kernel + codegen Column projection + a broadcast probe; the
    // corpus never shuffles before the cosmetic sort.
    Query("x_crawl_funnel", (s, dir) =>
      crawlFunnel(s, t(s, dir, "documents")).orderBy("doc_id"),
      crawlFunnelSql),

    // the SAME funnel as a STREAM — how a 100 TB corpus actually
    // arrives: segments land continuously, and the whole ingest chain
    // is stateless, so it runs unchanged under Structured Streaming
    // (file source over the staged corpus, runAvailableNow drain, append
    // to a memory sink). Exactly oracled by the identical closed-form
    // SQL as the batch twin — the stream and the batch plan must
    // produce byte-identical rows.
    Query("t27_stream_crawl_funnel", (s, dir) => {
      val name = "t27_crawl_rows"
      staged("t27", dir, "documents.parquet" -> "documents.parquet") { stage =>
        val schema = s.read.parquet(s"$stage/documents.parquet").schema
        val docs = s.readStream.schema(schema).parquet(stage)
        graft.streaming.EventStream.runToMemory(
          crawlFunnel(s, docs), name, s"$stage/ckpt",
          outputMode = "append", statePartitions = Some(8))
      }
      s.table(name).orderBy("doc_id")
    },
      crawlFunnelSql),

    // streaming per-site politeness frontier — the scheduler between a
    // continuous crawl's URL discovery and its fetchers, composing three
    // crawl primitives: eTLD+1 site keys (registrableDomain — budgets
    // are per SITE, a CDN of subdomains must not multiply the rate),
    // robots.txt Crawl-delay (REAL group grammar parse per site, decoy
    // named-agent delay skipped, stream-static broadcast join), and a
    // transformWithState processor (EventStream.PolitenessProcessor)
    // whose release is enforced by EVENT-TIME TIMERS in the state store:
    // discoveries buffer into ListState and each site drains in
    // deterministic (priority, id) order only when the watermark seals
    // its discovery window (slot n at (n-1)×delay on the persisted
    // ValueState clock, t17-shaped MapState per-host sequence). A
    // far-future sentinel row — observed by the watermark node, dropped
    // by the robots join before the processor — pushes the final
    // watermark past every real discovery so all 20 sites' timers fire.
    // Exactly oracled (hash-gated to the batch twin): per-site and
    // per-(site,host) ranks and the clock replayed as window functions.
    Query("t28_stream_politeness", (s, dir) => {
      import s.implicits._
      val name = "t28_fetch_slots"
      staged("t28", dir, "documents.parquet" -> "documents.parquet") { stage =>
        val schema = s.read.parquet(s"$stage/documents.parquet").schema
        // sentinel discovery: doc_id -1 keys to site-1.co.uk (absent from
        // the robots table) with event time far past every real row
        LocalFs.writeSingleParquet(
          s.range(1).select(lit(-1L).as("doc_id"), lit("").as("text"),
            lit("").as("lang"), lit("").as("source"), lit(0L).as("n_chars")),
          s"$stage/sentinel.parquet")
        val delays = s.range(20).select(col("id").cast("int").as("k"))
          .withColumn("robots_txt", concat(
            lit("User-agent: specialbot\nCrawl-delay: 99\n\n"),
            lit("User-agent: *\nDisallow: /private/\nCrawl-delay: "),
            ((col("k") % 4) + 1).cast("string"), lit(" # seconds\n")))
          .as[(Int, String)]
          .map { case (k, txt) =>
            (s"site$k.co.uk", graft.sources.Robots.crawlDelay(txt).getOrElse(0L))
          }
          .toDF("site_key", "delay_s")
        val reqs = s.readStream.schema(schema).parquet(stage)
          .select(col("doc_id").cast("long").as("doc_id"),
            concat(lit("w"), (col("doc_id") % 3).cast("string"), lit(".site"),
              (col("doc_id") % 20).cast("string"), lit(".co.uk")).as("host"),
            ((col("doc_id") * lit(1103515245L) + lit(12345L)) % lit(1000000007L))
              .as("prio"),
            // +1: event time 0 equals the stream's INITIAL watermark and
            // would be dropped as late before the first batch even runs
            when(col("doc_id") < 0, timestamp_seconds(lit(1000000000L)))
              .otherwise(timestamp_seconds(col("doc_id") % 997 + 1)).as("ts"))
          // the ONE watermark node, BEFORE the robots join: it must see
          // the sentinel's event time even though the join drops the row
          .withWatermark("ts", "0 seconds")
          .withColumn("site", graft.functions.UrlFunctions
            .registrableDomain(col("host"), Seq("co.uk"), Nil, Nil))
          .join(delays, col("site") === col("site_key"))
          .select("site", "host", "doc_id", "prio", "delay_s", "ts")
        graft.streaming.EventStream.runToMemory(
          graft.streaming.EventStream.politenessFrontier(reqs),
          name, s"$stage/ckpt", outputMode = "append", statePartitions = Some(8))
      }
      s.table(name).orderBy("doc_id")
    },
      // frontier replay: site clock and per-host rank as window
      // functions over the same (priority, id) order — green only if
      // the state transitions (site ValueState, host MapState), the
      // robots delay parse and the eTLD+1 grouping all agree
      """WITH u AS (SELECT doc_id,
                        'site' || (doc_id % 20) || '.co.uk' AS site,
                        'w' || (doc_id % 3) || '.site' || (doc_id % 20)
                          || '.co.uk' AS host,
                        CAST((doc_id % 20) % 4 + 1 AS BIGINT) AS delay_s,
                        (doc_id * 1103515245 + 12345) % 1000000007 AS prio
                      FROM documents),
                r AS (SELECT *,
                        CAST(row_number() OVER
                          (PARTITION BY site ORDER BY prio, doc_id)
                          AS BIGINT) AS site_seq,
                        CAST(row_number() OVER
                          (PARTITION BY site, host ORDER BY prio, doc_id)
                          AS BIGINT) AS host_seq
                      FROM u)
           SELECT doc_id, site, host, site_seq, host_seq,
                  CAST((site_seq - 1) * delay_s AS BIGINT) AS fetch_at_s
           FROM r ORDER BY doc_id"""),

    // the nightly CDX merge AS A STREAM — x_cdx_merge's job under
    // continuous operation: crawl generations LAND as files, the file
    // source drains them one per microbatch (mtime order staged
    // old-to-new, but the merge is ORDER-INDEPENDENT by construction:
    // last-generation-wins is a max over the gen version, so replays
    // and out-of-order batches converge to the same index), and each
    // batch folds into a persistent keyed index via the K3 idempotent
    // upsert (read-merge-swap, write-twice ⇒ same state — the t26
    // exactly-once discipline). The final index then runs the same
    // strict per-partition CDXJ round trip as the batch form and must
    // hash-match the identical closed-form oracle. The collect at the
    // end is harness materialization only (the index is corpus
    // METADATA — the stream's real output is the on-disk index the
    // upsert maintained).
    Query("t29_stream_cdx_merge", (s, dir) => {
      import s.implicits._
      val result = staged("t29", dir) { stage =>
        def genDf(gen: Int) = docIds(s, dir)
          .flatMap(id => cdxGens(id).collect {
            case (g, surt, url, ts, off, len) if g == gen => (g.toLong, surt, url, ts, off, len)
          })
          .toDF("gen", "surt", "url", "ts", "offset", "length")
        val now = System.currentTimeMillis()
        LocalFs.writeSingleParquet(genDf(0), s"$stage/gen_a.parquet").setLastModified(now - 120000)
        LocalFs.writeSingleParquet(genDf(1), s"$stage/gen_b.parquet").setLastModified(now - 60000)
        val schema = s.read.parquet(s"$stage/gen_a.parquet").schema
        val indexDir = s"$stage/index"
        graft.streaming.EventStream.runAvailableNow(
          s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1) // one generation per microbatch
            .parquet(stage),
          s"$stage/ckpt")(
          _.foreachBatch { (batch: DataFrame, _: Long) =>
            val keyed = batch.withColumn("__id",
              concat_ws("", col("surt"), col("ts")))
            graft.sinks.EsBulkSink.upsertById(keyed, indexDir, "__id", "gen")
          })
        cdxjRoundTrip(s.read.parquet(indexDir).drop("__id")
          .select(col("surt"), col("ts"), col("url"), col("offset"),
            col("length"), col("gen").cast("long").as("gen")))
          // DISTRIBUTED materialization (not a driver collect): the merged
          // index must outlive the staged scratch files deleted below, so
          // it is pinned in executor storage — a corpus-scale CDX index
          // never funnels through the driver.
          .localCheckpoint(eager = true)
      }
      result.orderBy("surt", "ts")
    },
      cdxMergeSql),

    // boilerplate removal / main-content extraction (the published
    // link-density heuristic family — boilerpipe/jusText — reduced to
    // graft.sources.Boilerplate's deterministic block rules), exactly
    // oracled: each doc carries a full page ANATOMY — header+nav link
    // farm, article with k prose paragraphs, a too-short note, a
    // link-dense reference para (4 anchor words of 7 — density kills
    // it), an exactly-at-the-ratio tie para (2 of 6 — tie keeps it),
    // sidebar, footer with plausible PROSE that only the chrome rule
    // excludes — and the block segmentation + classification must keep
    // exactly the k+1 content blocks whose text, count and word total
    // the oracle re-derives in closed form. Scan-shaped.
    Query("x_main_content", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val k = (id % 4 + 1).toInt
          val paras = (0 until k).map(j =>
            s"<p>Body para $j of doc $id has ${(id + j) % 100} useful words</p>")
            .mkString
          val html =
            s"<html><head><title>Doc $id</title></head><body>" +
              s"<header><h1>Site ${id % 50}</h1><nav><ul>" +
              (0 until 3).map(i => s"""<li><a href="/nav/$i">nav $i</a></li>""").mkString +
              "</ul></nav></header><article>" + paras +
              "<p>Too short</p>" +
              s"""<p>See <a href="#">ref ${id % 10}</a> also <a href="#">quick list</a> now</p>""" +
              s"""<p><a href="#">tag ${id % 6}</a> tie case row x</p>""" +
              "</article><aside><ul>" +
              s"""<li><a href="/rel">related ${id % 5}</a></li><li><a href="/promo">promo</a></li>""" +
              "</ul></aside><footer><p>Copyright " +
              s"${2000 + (id % 20).toInt} Site ${id % 50} All rights reserved</p>" +
              "</footer></body></html>"
          val bs = graft.sources.Boilerplate.blocks(html)
          val content = bs.filter(_.isContent)
          (id, bs.length, content.length, content.map(_.text).mkString(" "),
            content.map(_.nWords).sum)
        }
        .toDF("doc_id", "n_blocks", "n_content", "main_text", "main_words")
        .orderBy("doc_id")
    },
      // main-content replay: the k+1 content blocks (k prose paras +
      // the tie para), their joined text and word totals from id
      // arithmetic; block count = k + 10 page-anatomy blocks — green
      // only if segmentation, the word/anchor counters, the 1/3
      // link-density rule AND the chrome exclusion all fire exactly
      """WITH d AS (SELECT doc_id, CAST(doc_id % 4 + 1 AS INTEGER) AS k FROM documents),
                t AS (SELECT doc_id, k,
                        array_to_string(list_transform(range(0, k), j ->
                          'Body para ' || j || ' of doc ' || doc_id || ' has '
                            || ((doc_id + j) % 100) || ' useful words'), ' ')
                          || ' tag ' || (doc_id % 6) || ' tie case row x' AS main_text
                      FROM d)
           SELECT doc_id,
                  CAST(k + 10 AS INTEGER) AS n_blocks,
                  CAST(k + 1 AS INTEGER) AS n_content,
                  main_text,
                  CAST(10 * k + 6 AS INTEGER) AS main_words
           FROM t ORDER BY doc_id"""),

    // relational web-table extraction (the WDC web-tables step —
    // structured data mined OUT of pages): each doc carries k formula
    // tables (header row of <th>, numeric body cells, markup noise
    // directly under <tr> that must drop, a class attribute the
    // tokenizer must skip over) and Html.tables walks every completed
    // <table> off the shared scanTags tokenizer. Exactly oracled: per
    // table the row/col/header counts, the full body-cell SUM and the
    // first body cell re-derive from id arithmetic — one mis-bound text
    // run or dropped cell shifts the sum. Scan-shaped.
    Query("x_html_tables", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .flatMap { id =>
          val k = (id % 3 + 1).toInt
          val html = new StringBuilder(s"<html><body><h1>Doc $id</h1>")
          (0 until k).foreach { ti =>
            val r = ((id + ti) % 3 + 2).toInt
            val c = ((id + ti) % 4 + 2).toInt
            html.append("<table class=\"data\"><tr>")
            (0 until c).foreach(j => html.append(s"<th> h$j </th>"))
            html.append("</tr>")
            (0 until r).foreach { i =>
              html.append("<tr>\n  ") // text directly under <tr> must drop
              (0 until c).foreach { j =>
                html.append(s"<td> ${(id + ti * 31 + i * 7 + j) % 100} </td>")
              }
              html.append("</tr>")
            }
            html.append("</table>")
          }
          html.append("<p>after</p></body></html>")
          graft.sources.Html.tables(html.toString).zipWithIndex.map { case (tb, idx) =>
            val body = tb.rows.drop(1)
            (id, idx.toLong, tb.rows.length.toLong, tb.rows.head.length.toLong,
              tb.headerCells.toLong, body.iterator.flatten.map(_.toLong).sum,
              body.head.head)
          }.iterator
        }
        .toDF("doc_id", "table_idx", "n_rows", "n_cols", "header_cells", "body_sum", "cell_00")
        .orderBy("doc_id", "table_idx")
    },
      // eTLD+1 replay: host, registrable domain and public-suffix label
      // count per planted class — exception-beats-wildcard and
      // host-IS-a-suffix → NULL are the rows that catch a lax matcher
      // table replay: dims, header count, body-cell sum and the corner
      // cell all from (ti, i, j) arithmetic
      """WITH d AS (SELECT doc_id, CAST(doc_id % 3 + 1 AS INTEGER) AS k FROM documents),
                t AS (SELECT doc_id, CAST(unnest(range(0, k)) AS INTEGER) AS ti FROM d),
                dims AS (SELECT doc_id, ti,
                           CAST((doc_id + ti) % 3 + 2 AS INTEGER) AS r,
                           CAST((doc_id + ti) % 4 + 2 AS INTEGER) AS c FROM t),
                ri AS (SELECT doc_id, ti, r, c,
                         CAST(unnest(range(0, r)) AS INTEGER) AS i FROM dims),
                cj AS (SELECT doc_id, ti, r, c, i,
                         CAST(unnest(range(0, c)) AS INTEGER) AS j FROM ri)
           SELECT doc_id, CAST(ti AS BIGINT) AS table_idx,
                  CAST(r + 1 AS BIGINT) AS n_rows, CAST(c AS BIGINT) AS n_cols,
                  CAST(c AS BIGINT) AS header_cells,
                  CAST(SUM((doc_id + ti*31 + i*7 + j) % 100) AS BIGINT) AS body_sum,
                  CAST((doc_id + ti*31) % 100 AS VARCHAR) AS cell_00
           FROM cj GROUP BY doc_id, ti, r, c ORDER BY doc_id, table_idx"""),

    // table UNDERSTANDING — column-type inference over the extracted
    // relational tables (the step that turns mined markup into a
    // queryable corpus): each doc's table plants one type class per
    // column (integer run / YYYY-MM-DD dates / prose, with an empty
    // trailing cell on the last body row exercising the ragged-row
    // pad), and Html.columnTypes must recover every class through the
    // real extract→classify chain. Exactly oracled per (doc, column).
    Query("x_table_types", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .flatMap { id =>
          val c = (id % 4 + 2).toInt
          val r = (id % 3 + 2).toInt
          val html = new StringBuilder("<table><tr>")
          (0 until c).foreach(j => html.append(s"<th>col$j</th>"))
          html.append("</tr>")
          (0 until r).foreach { i =>
            html.append("<tr>")
            // ragged-row trap: the last body row OMITS its final cell —
            // the classifier must pad, not misalign
            val cols = if (i == r - 1) c - 1 else c
            (0 until cols).foreach { j =>
              val cell = (id + j) % 3 match {
                case 0 => s"${(if ((id + i) % 2 == 0) "-" else "")}${(id + i * 7 + j) % 1000}"
                case 1 => f"2026-${(j % 12) + 1}%02d-${(i % 28) + 1}%02d"
                case _ => s"word ${(id + i + j) % 50}"
              }
              html.append(s"<td>$cell</td>")
            }
            html.append("</tr>")
          }
          html.append("</table>")
          val tb = graft.sources.Html.tables(html.toString).head
          graft.sources.Html.columnTypes(tb).zipWithIndex.map { case (tp, j) =>
            (id, j.toLong, tp)
          }.iterator
        }
        .toDF("doc_id", "col_idx", "inferred")
        .orderBy("doc_id", "col_idx")
    },
      // type replay: the planted class per (doc, column)
      """WITH d AS (SELECT doc_id, CAST(doc_id % 4 + 2 AS INTEGER) AS c FROM documents),
                j AS (SELECT doc_id, CAST(unnest(range(0, c)) AS INTEGER) AS ci FROM d)
           SELECT doc_id, CAST(ci AS BIGINT) AS col_idx,
                  CASE WHEN (doc_id + ci) % 3 = 0 THEN 'integer'
                       WHEN (doc_id + ci) % 3 = 1 THEN 'date'
                       ELSE 'text' END AS inferred
           FROM j ORDER BY doc_id, col_idx"""),

    // publish-date extraction with the published precedence
    // (trafilatura/newspaper convention: article:published_time meta >
    // named date meta > first <time datetime>) — the temporal-metadata
    // step of corpus curation. Docs plant one precedence CLASS each
    // (id%4: all three present / named+time / time only / none) plus
    // traps: a commented-out meta the tokenizer must skip, a SECOND
    // article meta that must lose to the first, and a bare <time>
    // without datetime. Exactly oracled per class. Scan-shaped.
    Query("x_date_extract", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val d1 = s"2026-0${id % 9 + 1}-1${id % 10}"
          val d2 = s"2025-0${id % 9 + 1}-2${id % 10}"
          val d3 = s"2024-0${id % 9 + 1}-0${id % 10}"
          val cls = (id % 4).toInt
          val html = "<html><head>" +
            "<!-- <meta property=\"article:published_time\" content=\"1999-01-01\"> -->" +
            (if (cls == 0) s"""<meta property="article:published_time" content="$d1">""" else "") +
            (if (cls <= 1) s"""<meta name="DATE" content="$d2">""" else "") +
            "</head><body>" +
            (if (cls == 0) s"""<meta property="article:published_time" content="9999-12-31">""" else "") +
            "<time>no datetime</time>" +
            (if (cls <= 2) s"""<time datetime="$d3">then</time>""" else "") +
            "</body></html>"
          (id, graft.sources.Html.publishedDate(html).orNull)
        }
        .toDF("doc_id", "published")
        .orderBy("doc_id")
    },
      // date replay: the winning precedence class per id, NULL on the
      // none class
      """SELECT doc_id,
                  CASE WHEN doc_id % 4 = 0
                         THEN '2026-0' || (doc_id % 9 + 1) || '-1' || (doc_id % 10)
                       WHEN doc_id % 4 = 1
                         THEN '2025-0' || (doc_id % 9 + 1) || '-2' || (doc_id % 10)
                       WHEN doc_id % 4 = 2
                         THEN '2024-0' || (doc_id % 9 + 1) || '-0' || (doc_id % 10)
                       END AS published
           FROM documents ORDER BY doc_id"""),

    // canonical-URL extraction — the strongest page-level dedup signal
    // (rel=canonical beats og:url, the published search-engine
    // precedence): classes plant link-wins / og-only / decoys-only
    // (token-aware rel matching must reject rel="canonicalish") /
    // empty-href-falls-through-to-og. Exactly oracled per class.
    Query("x_canonical_url", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val canon = s"http://example.com/c/$id"
          val og = s"http://og.example.com/$id"
          val cls = (id % 4).toInt
          val html = "<html><head>" +
            (cls match {
              case 0 => s"""<link rel="alternate canonical" href="$canon">""" +
                s"""<meta property="og:url" content="$og">"""
              case 1 => s"""<meta property="og:url" content="$og">"""
              case 2 => s"""<link rel="canonicalish" href="$canon">""" +
                s"""<meta name="googlebot" content="$og">"""
              case _ => s"""<link rel="canonical" href="">""" +
                s"""<meta property="og:url" content="$og">"""
            }) +
            "</head><body></body></html>"
          (id, graft.sources.Html.canonicalLink(html).orNull)
        }
        .toDF("doc_id", "canonical")
        .orderBy("doc_id")
    },
      // canonical replay: link wins, og falls through, decoys drop
      """SELECT doc_id,
                  CASE WHEN doc_id % 4 = 0 THEN 'http://example.com/c/' || doc_id
                       WHEN doc_id % 4 = 1 THEN 'http://og.example.com/' || doc_id
                       WHEN doc_id % 4 = 3 THEN 'http://og.example.com/' || doc_id
                       END AS canonical
           FROM documents ORDER BY doc_id"""),

    // robots META directives (the page-level half of the Robots
    // Exclusion Protocol — a corpus that ingests noindex pages violates
    // the publisher's contract): directives spread across TWO robots
    // metas (crawlers UNION them — most restrictive wins), with a
    // named-bot decoy meta and a duplicate directive that must dedup.
    // Exactly oracled from the planting mods. Scan-shaped.
    Query("x_meta_robots", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val m1 = Seq(
            if (id % 2 == 0) Some("NoIndex") else None,
            if (id % 3 == 0) Some("nofollow") else None).flatten.mkString(", ")
          val m2 = Seq(
            if (id % 5 == 0) Some("noarchive") else None,
            if (id % 2 == 0) Some("noindex") else None).flatten.mkString(" , ")
          val html = "<html><head>" +
            (if (m1.nonEmpty) s"""<meta name="robots" content="$m1">""" else "") +
            s"""<meta name="googlebot" content="noimageindex">""" +
            (if (m2.nonEmpty) s"""<meta name="ROBOTS" content="$m2">""" else "") +
            "</head><body></body></html>"
          val ds = graft.sources.Html.metaRobots(html)
          (id, ds.size.toLong, ds.toSeq.sorted.mkString(","), !ds.contains("noindex"))
        }
        .toDF("doc_id", "n_directives", "directives", "indexable")
        .orderBy("doc_id")
    },
      // robots-meta replay: union of the planting mods, alphabetical join
      """WITH d AS (SELECT doc_id,
                        doc_id % 2 = 0 AS ni, doc_id % 3 = 0 AS nf,
                        doc_id % 5 = 0 AS na
                      FROM documents)
           SELECT doc_id,
                  CAST(CASE WHEN ni THEN 1 ELSE 0 END
                     + CASE WHEN nf THEN 1 ELSE 0 END
                     + CASE WHEN na THEN 1 ELSE 0 END AS BIGINT) AS n_directives,
                  concat_ws(',',
                    CASE WHEN na THEN 'noarchive' END,
                    CASE WHEN nf THEN 'nofollow' END,
                    CASE WHEN ni THEN 'noindex' END) AS directives,
                  NOT ni AS indexable
           FROM d ORDER BY doc_id"""),

    // MIME sniffing (the WHATWG byte-pattern algorithm) vs the declared
    // Content-Type — real servers mislabel constantly, and a router
    // that trusts the header corrupts every downstream extractor. Each
    // doc ships a REAL payload of its class (PNG/GIF/JPEG/WAV/PDF/gzip/
    // HTML/plain — all from the in-repo codecs), every third doc's
    // declared type lies by one class, and the sniffer must recover the
    // byte-grounded truth. Exactly oracled: class→type in closed form.
    // Scan-shaped: a constant-bytes peek per record, never a payload scan.
    Query("x_mime_sniff", (s, dir) => {
      import s.implicits._
      val mimes = Array("image/png", "image/gif", "image/jpeg", "audio/wave",
        "application/pdf", "application/x-gzip", "text/html", "text/plain")
      cleanTexts(s, dir)
        .mapPartitions { rows =>
          val codec = new graft.sources.Warc.GzipCodec
          rows.map { case (id, clean) =>
            val cls = (id % 8).toInt
            val payload: Array[Byte] = cls match {
              case 0 => graft.ext.Multimodal.encodePng(9, 8, 1,
                (x, y, _) => ((id + x * 3 + y * 7) % 256).toInt)
              case 1 => graft.ext.Multimodal.encodeGif(5, 4, (x, y) => ((id + x + y) % 4).toInt)
              case 2 => graft.ext.Jpeg.encode(16, 16, 1, (x, y, _) => ((id + x * 5 + y) % 256).toInt)
              case 3 => graft.ext.Multimodal.encodeWav(8000, 8, 1, 16,
                (f, _) => ((id + f) % 200).toInt - 100)
              case 4 => graft.ext.Pdf.encodeDocPdf(s"doc $id", 10, 3)
              case 5 => codec.gzip(clean.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              case 6 => (s"  <!DOCTYPE html><html><body>Doc $id</body></html>")
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)
              case _ => (s"Doc: $id $clean")
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            }
            val declared = if (id % 3 == 0) mimes((cls + 1) % 8) else mimes(cls)
            val sniffed = graft.sources.MimeSniff.sniff(payload)
            (id, declared, sniffed, declared != sniffed)
          }
        }
        .toDF("doc_id", "declared", "sniffed", "mismatch")
        .orderBy("doc_id")
    },
      // sniff replay: class→type in closed form; the declared header
      // lies by one class on every third doc and the mismatch flag must
      // fire exactly there
      """WITH m(cls, mime) AS (VALUES
             (0, 'image/png'), (1, 'image/gif'), (2, 'image/jpeg'),
             (3, 'audio/wave'), (4, 'application/pdf'),
             (5, 'application/x-gzip'), (6, 'text/html'), (7, 'text/plain')),
           d AS (SELECT doc_id, CAST(doc_id % 8 AS INTEGER) AS cls,
                        doc_id % 3 = 0 AS lie
                 FROM documents)
           SELECT d.doc_id,
                  CASE WHEN d.lie THEN ml.mime ELSE mt.mime END AS declared,
                  mt.mime AS sniffed,
                  d.lie AS mismatch
           FROM d
           JOIN m mt ON mt.cls = d.cls
           JOIN m ml ON ml.cls = (d.cls + 1) % 8
           ORDER BY d.doc_id"""),

    // eTLD+1 / registrable domain (the publicsuffix.org algorithm —
    // the primitive that groups a.cdn.site.co.uk and www.site.co.uk
    // into ONE site for politeness budgets and per-site quotas),
    // exactly oracled: doc_id%6 plants exact-rule, multi-label-rule,
    // private-registry (github.io), wildcard (*.ck), exception
    // (!www.ck — must BEAT the wildcard) and is-itself-a-public-suffix
    // hosts; graft.functions.UrlFunctions.registrableDomain runs the
    // longest-match as a pure HOF Column composition (zero UDF, zero
    // join, zero shuffle). The oracle re-derives site + suffix label
    // count per class in closed form.
    Query("x_etld1", (s, dir) => {
      val id = col("doc_id")
      val h = (id % 40).cast("string")
      val host = when(id % 6 === 0, concat(lit("site"), h, lit(".com")))
        .when(id % 6 === 1, concat(lit("www.site"), h, lit(".co.uk")))
        .when(id % 6 === 2, concat(lit("a.b.site"), h, lit(".github.io")))
        .when(id % 6 === 3, concat(lit("deep.site"), h, lit(".w.ck")))
        .when(id % 6 === 4, lit("sub.www.ck"))
        .otherwise(concat(lit("site"), h, lit(".ck")))
      // a bounded SAMPLE of the public suffix list (the real list is
      // ~10k rules — still literal/broadcast scale)
      val exact = Seq("com", "org", "net", "io", "uk", "co.uk", "org.uk", "github.io")
      val wc = Seq("ck", "np")
      val exc = Seq("www.ck")
      t(s, dir, "documents")
        .select(id.cast("long").as("doc_id"), host.as("host"))
        .select(col("doc_id"), col("host"),
          graft.functions.UrlFunctions.registrableDomain(col("host"), exact, wc, exc)
            .as("site"),
          graft.functions.UrlFunctions.publicSuffixLabels(col("host"), exact, wc, exc)
            .as("ps_labels"))
        .orderBy("doc_id")
    },
      """WITH d AS (SELECT doc_id, CAST(doc_id % 6 AS INTEGER) AS cls,
                        CAST(doc_id % 40 AS VARCHAR) AS h
                      FROM documents)
           SELECT doc_id,
                  CASE cls
                    WHEN 0 THEN 'site' || h || '.com'
                    WHEN 1 THEN 'www.site' || h || '.co.uk'
                    WHEN 2 THEN 'a.b.site' || h || '.github.io'
                    WHEN 3 THEN 'deep.site' || h || '.w.ck'
                    WHEN 4 THEN 'sub.www.ck'
                    ELSE 'site' || h || '.ck' END AS host,
                  CASE cls
                    WHEN 0 THEN 'site' || h || '.com'
                    WHEN 1 THEN 'site' || h || '.co.uk'
                    WHEN 2 THEN 'site' || h || '.github.io'
                    WHEN 3 THEN 'site' || h || '.w.ck'
                    WHEN 4 THEN 'www.ck'
                    ELSE CAST(NULL AS VARCHAR) END AS site,
                  CAST(CASE cls WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 2
                                WHEN 3 THEN 2 WHEN 4 THEN 1 ELSE 2 END AS INTEGER)
                    AS ps_labels
           FROM d ORDER BY doc_id"""),

    // eTLD+1 at PRODUCTION rule scale — the real publicsuffix.org list
    // is ~9,500 rules; this runs a representative synthetic set of that
    // exact size (9,000 exact + 250 wildcard + 250 exception) through
    // registrableDomainJoined: hosts explode into their ≤ nLabels
    // candidate suffixes, ONE broadcast equi-join against the rule
    // table covers all three kinds, a partial-agg groupBy on doc_id
    // (ints only) picks the winning rule. Chosen over the literal-array
    // HOF form because the HOF pays O(|rules|) per label per row —
    // measured ~100× slower at this rule count (NOTES). Oracle: every
    // rule-class outcome in closed form from the id formulas.
    Query("x_etld1_fullpsl", (s, dir) => {
      import s.implicits._
      val exact = (0 until 500).map(i => s"tld$i") ++
        (0 until 8500).map(k => s"r$k.tld${k % 500}")
      val wildcard = (0 until 250).map(i => s"wc$i")
      val exception = (0 until 250).map(i => s"ex$i.wc$i")
      val rules = (exact.map((_, "exact")) ++ wildcard.map((_, "wildcard")) ++
        exception.map((_, "exception"))).toDF("rule", "kind")
      val id = col("doc_id")
      val host = when(id % 5 === 0,
          concat(lit("www.site"), (id % 40).cast("string"),
            lit(".r"), (id % 8500).cast("string"),
            lit(".tld"), ((id % 8500) % 500).cast("string")))
        .when(id % 5 === 1, concat(lit("site"), (id % 40).cast("string"),
          lit(".tld"), (id % 500).cast("string")))
        .when(id % 5 === 2, concat(lit("deep.site"), (id % 40).cast("string"),
          lit(".q.wc"), (id % 250).cast("string")))
        .when(id % 5 === 3, concat(lit("sub.ex"), (id % 250).cast("string"),
          lit(".wc"), (id % 250).cast("string")))
        // a host that IS a public suffix: no registrable domain
        .otherwise(concat(lit("r"), (id % 8500).cast("string"),
          lit(".tld"), ((id % 8500) % 500).cast("string")))
      val hosts = t(s, dir, "documents")
        .select(id.cast("long").as("doc_id"), host.as("host"))
      graft.functions.UrlFunctions
        .registrableDomainJoined(hosts, "doc_id", "host", rules)
        .select("doc_id", "host", "site", "ps_labels")
        .orderBy("doc_id")
    },
      // full-PSL replay: per-class host construction, winning rule and
      // suffix label count from the id formulas — green only if the
      // suffix-join form implements the publicsuffix.org precedence
      // (exception beats all, longest match wins, implicit * fallback)
      """WITH d AS (SELECT doc_id, CAST(doc_id % 5 AS INTEGER) AS cls,
                        CAST(doc_id % 40 AS VARCHAR) AS h,
                        CAST(doc_id % 8500 AS VARCHAR) AS k85,
                        CAST((doc_id % 8500) % 500 AS VARCHAR) AS k5,
                        CAST(doc_id % 500 AS VARCHAR) AS k500,
                        CAST(doc_id % 250 AS VARCHAR) AS k250
                      FROM documents)
           SELECT doc_id,
                  CASE cls
                    WHEN 0 THEN 'www.site' || h || '.r' || k85 || '.tld' || k5
                    WHEN 1 THEN 'site' || h || '.tld' || k500
                    WHEN 2 THEN 'deep.site' || h || '.q.wc' || k250
                    WHEN 3 THEN 'sub.ex' || k250 || '.wc' || k250
                    ELSE 'r' || k85 || '.tld' || k5 END AS host,
                  CASE cls
                    WHEN 0 THEN 'site' || h || '.r' || k85 || '.tld' || k5
                    WHEN 1 THEN 'site' || h || '.tld' || k500
                    WHEN 2 THEN 'site' || h || '.q.wc' || k250
                    WHEN 3 THEN 'ex' || k250 || '.wc' || k250
                    ELSE CAST(NULL AS VARCHAR) END AS site,
                  CAST(CASE cls WHEN 0 THEN 2 WHEN 1 THEN 1 WHEN 2 THEN 2
                                WHEN 3 THEN 1 ELSE 2 END AS INTEGER) AS ps_labels
           FROM d ORDER BY doc_id"""),

    // per-host politeness scheduling — the frontier step after the
    // robots gate: each host's robots.txt Crawl-delay (parsed by the
    // REAL group grammar; a decoy named-agent delay of 99 must be
    // skipped) spaces that host's fetches out on a per-host clock.
    // fetch_seq = deterministic LCG-priority rank WITHIN the host (the
    // window partitions by host — politeness is inherently per-host
    // sequential, and hosts parallelize across the cluster);
    // fetch_at_s = (seq-1) × delay. The 50-row delay table broadcasts;
    // the oracle replays rank and clock in closed form.
    Query("x_fetch_schedule", (s, dir) => {
      import s.implicits._
      val id = col("doc_id")
      val hostDelays = s.range(50).select(col("id").cast("int").as("h"))
        .withColumn("robots_txt", concat(
          lit("User-agent: specialbot\nCrawl-delay: 99\n\n"),
          lit("User-agent: *\nDisallow: /private/\nCrawl-delay: "),
          ((col("h") % 4) + 1).cast("string"), lit(" # seconds\n")))
        .as[(Int, String)]
        .map { case (hh, txt) =>
          (s"example-$hh.com", graft.sources.Robots.crawlDelay(txt).getOrElse(0L))
        }
        .toDF("host", "delay_s")
      val urls = t(s, dir, "documents")
        .select(id.cast("long").as("doc_id"),
          concat(lit("example-"), (id % 50).cast("string"), lit(".com")).as("host"))
        .withColumn("prio",
          (col("doc_id") * lit(1103515245L) + lit(12345L)) % lit(1000000007L))
      val w = Window.partitionBy(col("host")).orderBy(col("prio"), col("doc_id"))
      urls.join(broadcast(hostDelays), Seq("host"))
        .withColumn("fetch_seq", row_number().over(w))
        .withColumn("fetch_at_s", (col("fetch_seq") - 1) * col("delay_s"))
        .select("doc_id", "host", "delay_s", "fetch_seq", "fetch_at_s")
        .orderBy("doc_id")
    },
      // schedule replay: per-host LCG rank and crawl-delay clock in
      // closed form — green only if the delay parse (wildcard group,
      // decoy named-agent group skipped, trailing comment stripped)
      // and the per-host ordering both agree
      """WITH u AS (SELECT doc_id,
                        'example-' || (doc_id % 50) || '.com' AS host,
                        CAST((doc_id % 50) % 4 + 1 AS BIGINT) AS delay_s,
                        (doc_id * 1103515245 + 12345) % 1000000007 AS prio
                      FROM documents),
                r AS (SELECT *, CAST(row_number() OVER
                        (PARTITION BY host ORDER BY prio, doc_id) AS INTEGER)
                        AS fetch_seq
                      FROM u)
           SELECT doc_id, host, delay_s, fetch_seq,
                  CAST((fetch_seq - 1) * delay_s AS BIGINT) AS fetch_at_s
           FROM r ORDER BY doc_id"""),

    // JSON-LD structured-data extraction (schema.org metadata — the
    // machine-readable channel real pages ship INSIDE a script block,
    // exactly what visible-text extraction must drop and a training
    // pipeline wants separately), exactly oracled: each doc embeds a
    // formula Article JSON-LD block between a DECOY plain-JS script
    // (whose string content fakes another ld+json tag) and regular
    // markup; Html.scriptBlocks pulls the typed block by its opening
    // tag, Spark's native from_json parses it (schema projection — the
    // '@type' key is deliberately not selected), and every field is
    // re-derived by the oracle from id arithmetic. Scan-shaped: map +
    // codegen JSON path, cosmetic sort only.
    Query("x_jsonld_extract", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val wc = (id % 90 + 10).toInt
          val day = f"2026-08-${id % 28 + 1}%02d"
          val ld = s"""{"@type":"Article","headline":"Doc $id",""" +
            s""""wordCount":$wc,"datePublished":"$day"}"""
          val html =
            s"<html><head><title>Doc $id</title>" +
              "<script>var fake = '<script type=\"application/ld+json\">';</script>" +
              s"""<script type="application/ld+json">$ld</script></head>""" +
              s"<body><p>Prose for doc $id</p></body></html>"
          val blocks = graft.sources.Html.scriptBlocks(html, "ld+json")
          (id, blocks.length, blocks.headOption.getOrElse(""))
        }
        .toDF("doc_id", "n_ld_blocks", "ld_raw")
        .withColumn("j", from_json(col("ld_raw"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "headline STRING, wordCount INT, datePublished STRING")))
        .select(col("doc_id"), col("n_ld_blocks"),
          col("j.headline").as("headline"),
          col("j.wordCount").as("word_count"),
          col("j.datePublished").as("date_published"))
        .orderBy("doc_id")
    },
      // JSON-LD replay: block count and every parsed field from id
      // arithmetic — green only if the typed-script pull skips the
      // decoy and the JSON parse projects the schema exactly
      """SELECT doc_id,
                  CAST(1 AS INTEGER) AS n_ld_blocks,
                  'Doc ' || doc_id AS headline,
                  CAST(doc_id % 90 + 10 AS INTEGER) AS word_count,
                  '2026-08-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                    AS date_published
           FROM documents ORDER BY doc_id"""),

    // redirect-chain resolution by POINTER DOUBLING — the crawl-graph
    // twin of connected components: every URL stores only its next hop
    // (a 301 Location), and the final landing page is found in
    // O(log chain-length) self-join rounds instead of L sequential
    // probes — at 100 TB a 7-hop chain costs 3 bulk joins, not 7
    // corpus passes. Planted functional graph: id%8==0 is terminal
    // (points to itself, 0 hops), everything else redirects to id-1,
    // so chains are 0–7 hops and 3 doubling rounds provably converge
    // (2^3 > 7). The oracle replays final target and hop count in
    // closed form: one wrong join round shifts every non-trivial row.
    Query("x_redirect_resolve", (s, dir) => {
      val id = col("doc_id").cast("long")
      // eager localCheckpoint per round (the x_pagerank discipline):
      // each doubling joins the table WITH ITSELF, so an unbroken
      // lineage recomputes the scan 2^rounds times — checkpointing
      // keeps every round one plan deep and the corpus is read once
      val base = t(s, dir, "documents").select(
        id.as("u"),
        when(id % 8 === 0, id).otherwise(id - 1).as("ptr"),
        when(id % 8 === 0, lit(0L)).otherwise(lit(1L)).as("hops"))
        .localCheckpoint()
      // dist(u) += dist(ptr); ptr(u) = ptr(ptr(u)); terminals fix both
      val resolved = (1 to 3).foldLeft(base) { (cur, _) =>
        val next = cur.select(col("u").as("v"), col("ptr").as("vptr"),
          col("hops").as("vhops"))
        cur.join(next, cur("ptr") === next("v"))
          .select(col("u"), col("vptr").as("ptr"),
            (col("hops") + col("vhops")).as("hops"))
          .localCheckpoint()
      }
      resolved
        .select(col("u").as("doc_id"), col("ptr").as("final_id"), col("hops"))
        .orderBy("doc_id")
    },
      // redirect replay: final landing id and hop count in closed form
      // (chains run id down to the last multiple of 8)
      """SELECT doc_id,
                  CAST(doc_id - doc_id % 8 AS BIGINT) AS final_id,
                  CAST(doc_id % 8 AS BIGINT) AS hops
           FROM documents ORDER BY doc_id"""),

    // site-level link-graph extraction — the WAT step of a crawl
    // pipeline (CommonCrawl ships exactly this as its WAT sidecar):
    // every page's outlinks pulled from the REAL markup
    // (Html.linkHrefs — a decoy anchor inside a JS string and an
    // href-less <a name=…> must NOT count), each messy href
    // canonicalized by the Column pass, reduced to registrable-domain
    // endpoints and aggregated into weighted site→site edges — the
    // input PageRank/HITS then consume. Exactly oracled: the edge
    // weights are fully determined by the (id, i) link formula. ONE
    // map-side-combined shuffle (the edge aggregate); extraction and
    // canonicalization fuse into the scan.
    Query("x_link_graph", (s, dir) => {
      import s.implicits._
      // fixture staged to a REAL on-disk page corpus first (the k1/s2
      // discipline, r12 bench-fidelity item): the benched plan below is
      // scan → extraction kernels, not row fabrication
      val stage = persistentPath("linkgraph", dir)
      docIds(s, dir)
        .map { id =>
          val nl = (id % 5 + 1).toInt
          val anchors = (0 until nl).map { i =>
            s"""<a href="HTTP://ExAmPle-${(id + 7 * i) % 50}.CoM/l/./$i">out $i</a>"""
          }.mkString(" ")
          val html = s"<html><body><p>Doc $id</p> $anchors" +
            "<script>var fake = '<a href=\"http://decoy-99.com/x\">';</script>" +
            "<a name=\"no-href\">anchor sans href</a></body></html>"
          (s"example-${id % 50}.com", html)
        }
        .toDF("src_site", "html")
        .write.mode("overwrite").parquet(stage)
      val links = s.read.parquet(stage)
        .select(col("src_site"), col("html")).as[(String, String)]
        .flatMap { case (src, html) =>
          graft.sources.Html.linkHrefs(html).map(h => (src, h))
        }
        .toDF("src_site", "href")
      links
        .withColumn("url_canon",
          graft.functions.UrlFunctions.canonicalizeUrl(col("href")))
        .withColumn("dst_host",
          substring_index(substring_index(col("url_canon"), "://", -1), "/", 1))
        .withColumn("dst_site",
          graft.functions.UrlFunctions.registrableDomain(col("dst_host"),
            Seq("com"), Nil, Nil))
        .groupBy("src_site", "dst_site").agg(count(lit(1)).as("n_links"))
        .orderBy("src_site", "dst_site")
    },
      // link-graph replay: site→site edge weights from the (id, i)
      // formula — green only if href extraction (decoys excluded),
      // canonicalization AND the registrable-domain reduction agree
      """WITH d AS (SELECT doc_id, CAST(doc_id % 5 + 1 AS INTEGER) AS nl FROM documents),
                l AS (SELECT doc_id, CAST(unnest(range(0, nl)) AS INTEGER) AS i FROM d),
                e AS (SELECT 'example-' || (doc_id % 50) || '.com' AS src_site,
                             'example-' || ((doc_id + 7 * i) % 50) || '.com' AS dst_site
                      FROM l)
           SELECT src_site, dst_site, count(*) AS n_links
           FROM e GROUP BY 1, 2 ORDER BY src_site, dst_site"""),
  )
}
