package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WARC (ISO 28500) ingestion: the container format web crawls actually
  * ship in (Common Crawl et al.) — many records per file, each a header
  * block plus a Content-Length-delimited payload; response records wrap a
  * full HTTP message whose body is the page. A 100 TB text pipeline's
  * first mile is exactly this chain: WARC record walk -> HTTP parse ->
  * HTML extract ([[HtmlIngest.htmlToText]]) -> documents.
  *
  * The parser is real: it WALKS records by Content-Length (the only
  * correct way — payloads routinely contain things that look like record
  * headers), tolerates unknown record types (warcinfo/request records are
  * skipped, not errors), parses HTTP status + headers case-insensitively,
  * and slices the body by the HTTP Content-Length. Byte-exact offsets are
  * kept by operating on the raw byte array; only the final body is
  * decoded as UTF-8.
  *
  * Scale: one WARC file is one scan row (binaryFile), parsed in a single
  * linear pass inside mapPartitions; emitted rows are (id, uri, text)
  * scalars — raw archives never shuffle. Files are the parallelism unit,
  * exactly like production crawl processing.
  */
object WarcIngest {

  private val Ascii = java.nio.charset.StandardCharsets.US_ASCII
  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  // ------------------------------------------------------------- builder

  def buildHttpResponse(html: String): Array[Byte] = {
    val body = html.getBytes(Utf8)
    (s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes(Ascii) ++ body
  }

  def buildWarcRecord(recType: String, uri: String, payload: Array[Byte],
      recId: Long): Array[Byte] = {
    val sb = new StringBuilder
    sb ++= "WARC/1.0\r\n"
    sb ++= s"WARC-Type: $recType\r\n"
    sb ++= f"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-$recId%012d>\r\n"
    sb ++= "WARC-Date: 2026-01-01T00:00:00Z\r\n"
    if (uri.nonEmpty) sb ++= s"WARC-Target-URI: $uri\r\n"
    if (recType == "response" || recType == "request")
      sb ++= s"Content-Type: application/http;msgtype=$recType\r\n"
    sb ++= s"Content-Length: ${payload.length}\r\n\r\n"
    sb.toString.getBytes(Ascii) ++ payload ++ "\r\n\r\n".getBytes(Ascii)
  }

  /** A realistic multi-record WARC file: a warcinfo record, then per doc
    * a request record (which the parser must SKIP) and a response record
    * wrapping the [[HtmlIngest.buildHtml]] page. */
  def buildWarcFile(docs: Seq[(Long, String)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(buildWarcRecord("warcinfo", "",
      "software: graft-test-crawler/1.0\r\n".getBytes(Ascii), 0L))
    docs.foreach { case (id, text) =>
      val uri = s"http://example.com/doc/$id"
      out.write(buildWarcRecord("request", uri,
        s"GET /doc/$id HTTP/1.1\r\nHost: example.com\r\n\r\n".getBytes(Ascii),
        2 * id + 1))
      out.write(buildWarcRecord("response", uri,
        buildHttpResponse(HtmlIngest.buildHtml(id, if (text == null) "" else text)),
        2 * id + 2))
    }
    out.toByteArray
  }

  // -------------------------------------------------------------- parser

  private def indexOfCrlfCrlf(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n')
        return i
      i += 1
    }
    -1
  }

  private def parseHeaders(block: String): Map[String, String] =
    block.split("\r\n").drop(1).flatMap { line =>
      val c = line.indexOf(':')
      if (c <= 0) None
      else Some(line.substring(0, c).trim.toLowerCase(java.util.Locale.ROOT) ->
        line.substring(c + 1).trim)
    }.toMap

  /** Walk the archive record by record via Content-Length; emit
    * (targetUri, httpPayload) for each response record. Stops cleanly at
    * the first malformed record (truncated archives are routine in crawl
    * data) — never throws. */
  def parseWarcResponses(bytes: Array[Byte]): Seq[(String, Array[Byte])] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    var pos = 0
    var ok = true
    while (ok && pos < bytes.length) {
      // skip inter-record blank lines
      while (pos < bytes.length && (bytes(pos) == '\r' || bytes(pos) == '\n')) pos += 1
      if (pos >= bytes.length) ok = false
      else {
        val hdrEnd = indexOfCrlfCrlf(bytes, pos)
        if (hdrEnd < 0) ok = false
        else {
          val hdrBlock = new String(bytes, pos, hdrEnd - pos, Ascii)
          if (!hdrBlock.startsWith("WARC/")) ok = false
          else {
            val headers = parseHeaders(hdrBlock)
            headers.get("content-length").flatMap(s =>
              try Some(s.toInt) catch { case _: NumberFormatException => None }) match {
              case Some(len) if len >= 0 && hdrEnd + 4 + len <= bytes.length =>
                val payload = java.util.Arrays.copyOfRange(bytes, hdrEnd + 4, hdrEnd + 4 + len)
                if (headers.get("warc-type").contains("response"))
                  out += ((headers.getOrElse("warc-target-uri", ""), payload))
                pos = hdrEnd + 4 + len
              case _ => ok = false // missing/oversized length: truncated tail
            }
          }
        }
      }
    }
    out.toSeq
  }

  /** Parse an HTTP response payload: require a 2xx status line, slice the
    * body by the HTTP Content-Length when present (else to end). */
  def parseHttpBody(payload: Array[Byte]): Option[Array[Byte]] = {
    val hdrEnd = indexOfCrlfCrlf(payload, 0)
    if (hdrEnd < 0) return None
    val hdrBlock = new String(payload, 0, hdrEnd, Ascii)
    val statusLine = hdrBlock.takeWhile(_ != '\r')
    val parts = statusLine.split(" ")
    if (!statusLine.startsWith("HTTP/") || parts.length < 2 ||
        !parts(1).startsWith("2")) return None
    val headers = parseHeaders(hdrBlock)
    val bodyStart = hdrEnd + 4
    val bodyLen = headers.get("content-length").flatMap(s =>
      try Some(s.toInt) catch { case _: NumberFormatException => None })
      .filter(l => l >= 0 && bodyStart + l <= payload.length)
      .getOrElse(payload.length - bodyStart)
    Some(java.util.Arrays.copyOfRange(payload, bodyStart, bodyStart + bodyLen))
  }

  // ------------------------------------------------------------- fixture

  /** Stage a small crawl: 8 multi-record WARC files (docs sharded by
    * doc_id % 8, see [[BinaryIngest.stageShards]]). */
  def stageWarcFixture(s: SparkSession, d: String): String = {
    import s.implicits._
    BinaryIngest.stageShards(s, d, "warc_fixture",
        BinaryIngest.fixtureDocs(s, d).select(col("doc_id"), col("text")).as[(Long, String)],
        shard => f"crawl-$shard%02d.warc")(_._1) {
      (_, docs, out) => out.write(buildWarcFile(docs))
    }
  }

  /** Oracle-checked WARC round trip — the full crawl first mile: staged
    * multi-record archives -> binaryFile scan -> Content-Length record
    * walk (request/warcinfo records skipped) -> HTTP 200 + body slice ->
    * [[HtmlIngest.htmlToText]] -> exact equality against the same closed
    * form as q_html_ingest plus the doc's crawl URI. A record-boundary
    * drift (the reason Content-Length walking is mandatory), a skipped
    * response, or an HTTP body off-by-one all hash-mismatch. */
  def qWarcIngest(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val fix = stageWarcFixture(s, d)
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.warc")
      .load(fix)
      .select(col("content"))
      .as[Array[Byte]]
      .mapPartitions { it =>
        it.flatMap { bytes =>
          parseWarcResponses(bytes).flatMap { case (uri, payload) =>
            parseHttpBody(payload).map { body =>
              val id = uri.substring(uri.lastIndexOf('/') + 1).toLong
              (id, uri, HtmlIngest.htmlToText(new String(body, Utf8)))
            }
          }
        }
      }
      .toDF("doc_id", "url", "text_clean")
      .orderBy("doc_id")
  }
}
