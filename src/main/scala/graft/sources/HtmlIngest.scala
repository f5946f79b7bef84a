package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HTML → text extraction: the crawl-ingestion step every large-scale
  * training-data pipeline runs before any quality/dedup pass (the
  * reference ingests PDFs, data_ingestion.py:110-135; a crawl corpus is
  * overwhelmingly HTML — same extractor seam, different container).
  *
  * The extractor is a REAL single-pass state machine (linear in the
  * input, no regex backtracking anywhere — the RE2-safety discipline of
  * SnippetGen applied to markup): comment removal, script/style element
  * removal, attribute-aware tag stripping (a quoted `>` inside an
  * attribute does not close the tag), named + decimal + hex entity
  * decoding with the classic double-decode bug designed out (decoded
  * `<` is emitted literally, never re-parsed as markup), NBSP-aware
  * whitespace collapse.
  *
  * At 100 TB: extraction is a narrow per-row pass (mapPartitions; raw
  * HTML bytes never shuffle), so it scales exactly like the PDF path —
  * the scan is the cost, the extract is free compute on top.
  */
object HtmlIngest {

  /** Minimal-but-real HTML escape for the builder side (the inverse of
    * the extractor's entity decode, so staged pages round-trip exactly). */
  def escapeHtml(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private[sources] def decodeEntity(ent: String): Option[String] = ent match {
    case "amp"  => Some("&")
    case "lt"   => Some("<")
    case "gt"   => Some(">")
    case "quot" => Some("\"")
    case "apos" => Some("'")
    case "nbsp" => Some(" ")
    case "copy" => Some("©")
    case e if e.length > 2 && (e.startsWith("#x") || e.startsWith("#X")) =>
      try {
        val cp = Integer.parseInt(e.substring(2), 16)
        if (Character.isValidCodePoint(cp)) Some(new String(Character.toChars(cp))) else None
      } catch { case _: Exception => None }
    case e if e.length > 1 && e.startsWith("#") =>
      try {
        val cp = Integer.parseInt(e.substring(1))
        if (Character.isValidCodePoint(cp)) Some(new String(Character.toChars(cp))) else None
      } catch { case _: Exception => None }
    case _ => None
  }

  private[sources] def indexOfIgnoreCase(hay: String, needle: String, from: Int): Int = {
    var i = math.max(from, 0)
    val last = hay.length - needle.length
    while (i <= last) {
      if (hay.regionMatches(true, i, needle, 0, needle.length)) return i
      i += 1
    }
    -1
  }

  /** The extractor: one left-to-right pass, O(n), never throws.
    * Unterminated constructs (comment, script, tag) consume to EOF —
    * the lenient behavior real crawl extractors need. */
  def htmlToText(html: String): String = {
    if (html == null) return ""
    val n = html.length
    val sb = new java.lang.StringBuilder(n / 2)
    var i = 0
    def at(s: String): Boolean = html.regionMatches(true, i, s, 0, s.length)
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (at("<!--")) {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
          sb.append(' ')
        } else if (at("<script") || at("<style")) {
          // element removal: content up to the matching close tag is NOT text
          val tag = if (at("<script")) "script" else "style"
          val close = indexOfIgnoreCase(html, "</" + tag, i + 1)
          if (close < 0) i = n
          else {
            val gt = html.indexOf('>', close)
            i = if (gt < 0) n else gt + 1
          }
          sb.append(' ')
        } else {
          // tag skip, honoring quoted attribute values: `<p class="a>b">`
          i += 1
          var quote: Char = 0
          var done = false
          while (i < n && !done) {
            val ch = html.charAt(i)
            if (quote != 0) { if (ch == quote) quote = 0 }
            else if (ch == '"' || ch == '\'') quote = ch
            else if (ch == '>') done = true
            i += 1
          }
          sb.append(' ')
        }
      } else if (c == '&') {
        // entity names are short: look at most 10 chars ahead (an
        // UNBOUNDED indexOf would make a semicolon-free run of
        // ampersands quadratic — crawl data contains such pages)
        var semi = -1
        var s = i + 1
        val lim = math.min(n, i + 11)
        while (semi < 0 && s < lim) { if (html.charAt(s) == ';') semi = s; s += 1 }
        if (semi > i) {
          decodeEntity(html.substring(i + 1, semi)) match {
            case Some(s) => sb.append(s); i = semi + 1
            case None    => sb.append('&'); i += 1
          }
        } else { sb.append('&'); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    // collapse runs of whitespace INCLUDING NBSP (outside \s in Java)
    sb.toString.replaceAll("[\\s\\u00a0]+", " ").trim
  }

  /** Deterministic test page for (docId, text): exercises every extractor
    * feature — comments containing tags, script with `<`/`&&`, style with
    * a fake tag in CSS, quoted `>` in attributes, named + decimal + hex
    * entities, NBSP — and embeds the escaped document text so the round
    * trip reproduces it exactly. */
  def buildHtml(docId: Long, text: String): String =
    s"""<!DOCTYPE html>
<html><head><title>Doc $docId</title>
<style type="text/css">body { color: #fff; } /* <p>not text</p> */</style>
<script>if (a < b && c > d) { alert("<span>not text</span>"); }</script>
</head>
<body class="m>ain">
<nav><a href="/home">Home</a> | <a href="/about?x=1&amp;y=2">About</a></nav>
<a href="item/$docId?ref=nav"></a><a href='../up/$docId'></a><a href=plain$docId.html></a>
<!-- hidden <p>comment</p> -->
<h1>Doc &#35;$docId</h1>
<p id='p>1'>${escapeHtml(text)}</p>
<footer>&copy; 2026&nbsp;&#x47;raft</footer>
</body></html>"""

  /** The HTML fixture: one real web page per document ([[buildHtml]]). */
  private def htmlFiles(s: SparkSession, d: String) =
    BinaryIngest.readPerDoc(s, d, "html_fixture", "page", "html")(
      (id, text) => buildHtml(id, text).getBytes(UTF_8))

  /** Oracle-checked HTML round trip: documents staged as real web pages
    * -> binaryFile scan -> state-machine extraction -> exact equality
    * against the oracle's closed-form expected text (boilerplate labels +
    * the original document text, whitespace-collapsed on both sides).
    * Any defect — script text leaking, a comment surviving, an attribute
    * `>` truncating a tag, an entity mis-decode — breaks the hash. */
  def qHtmlIngest(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    htmlFiles(s, d)
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          (id, htmlToText(new String(bytes, UTF_8)))
        }
      }
      .toDF("doc_id", "text_clean")
      .orderBy("doc_id")
  }

  // --------------------------------------------------- link extraction

  /** Decode HTML entities anywhere in a string (attribute values carry
    * them too: `href="/about?x=1&amp;y=2"`). Unknown entities pass
    * through verbatim, like the text extractor. */
  def decodeEntities(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '&') {
        val semi = s.indexOf(';', i + 1)
        val dec =
          if (semi > i && semi - i <= 12) decodeEntity(s.substring(i + 1, semi))
          else None
        dec match {
          case Some(v) => sb.append(v); i = semi + 1
          case None => sb.append('&'); i += 1
        }
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** All `<a href=...>` values of a page, in document order —
    * double-quoted, single-quoted and unquoted attribute forms, quoted
    * `>` honored inside values (the same attribute discipline as the
    * text extractor's tag skipper), entities decoded. One O(n) pass. */
  def extractHrefs(html: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < html.length) {
      // an anchor open tag: '<a' followed by whitespace or '>'
      if (html.charAt(i) == '<' && i + 2 < html.length &&
          (html.charAt(i + 1) == 'a' || html.charAt(i + 1) == 'A') &&
          (html.charAt(i + 2).isWhitespace || html.charAt(i + 2) == '>')) {
        // scan the tag body, honoring quoted attribute values
        var j = i + 2
        var href: Option[String] = None
        while (j < html.length && html.charAt(j) != '>') {
          if (html.regionMatches(true, j, "href", 0, 4)) {
            var k = j + 4
            while (k < html.length && html.charAt(k).isWhitespace) k += 1
            if (k < html.length && html.charAt(k) == '=') {
              k += 1
              while (k < html.length && html.charAt(k).isWhitespace) k += 1
              if (k < html.length && (html.charAt(k) == '"' || html.charAt(k) == '\'')) {
                val q = html.charAt(k)
                val end = html.indexOf(q, k + 1)
                if (end > k) { href = href.orElse(Some(html.substring(k + 1, end))); j = end }
                else j = html.length
              } else {
                var e = k
                while (e < html.length && !html.charAt(e).isWhitespace &&
                  html.charAt(e) != '>') e += 1
                href = href.orElse(Some(html.substring(k, e)))
                j = e - 1
              }
            }
            j += 1
          } else if (html.charAt(j) == '"' || html.charAt(j) == '\'') {
            val q = html.charAt(j)
            val end = html.indexOf(q, j + 1)
            j = if (end > j) end + 1 else html.length
          } else j += 1
        }
        href.foreach(h => out += decodeEntities(h))
        i = j + 1
      } else i += 1
    }
    out.toSeq
  }

  /** The base URL of a staged page: host from the doc's
    * [[graft.operators.UrlOps.rawUrl]] family, nested path so relative
    * and `../` refs resolve non-trivially. */
  def pageBaseUrl(docId: Long): String = {
    val host = (docId % 5) match {
      case 0 => "www.example.com"
      case 1 => "blog.example.org"
      case 2 => "ads.spam-site.co.uk"
      case 3 => "docs.example.com"
      case _ => "example.com"
    }
    s"http://$host/pages/sub/page$docId.html"
  }

  /** Oracle-checked LINK extraction — the crawl-frontier step after
    * fetch: every staged page's hrefs (quoted/unquoted/entity-encoded)
    * resolve against the page's base URL (RFC 3986 §5.2: rooted,
    * relative, `../`, query-bearing refs) into canonical absolute URLs
    * + registrable domains. The oracle states all five links' closed
    * forms per family — it never runs the extractor or the resolver. */
  def qLinks(s: SparkSession, d: String): DataFrame = {
    import graft.operators.UrlOps
    val spark = s
    import spark.implicits._
    htmlFiles(s, d)
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val base = pageBaseUrl(id)
          extractHrefs(new String(bytes, UTF_8))
            .zipWithIndex.flatMap { case (href, k) =>
              UrlOps.resolveRef(base, href).map { abs =>
                val host = UrlOps.parseUrl(abs).map(_.host).getOrElse("")
                (id, k + 1, abs, UrlOps.registrableDomain(host))
              }
            }
        }
      }
      .toDF("doc_id", "link_no", "url", "domain")
      .orderBy("doc_id", "link_no")
  }

  // ------------------------------------------- anchor-text aggregation

  /** All `<a href=...>inner text</a>` pairs of a page, in document
    * order — the href under the same attribute discipline as
    * [[extractHrefs]], the inner text with nested tags stripped,
    * entities decoded and whitespace collapsed (the anchor-text
    * normalization a web-graph pipeline applies before aggregation).
    * Anchors without an href, and anchors whose normalized text is
    * empty, are omitted. */
  def extractAnchors(html: String): Seq[(String, String)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var i = 0
    while (i < html.length) {
      if (html.charAt(i) == '<' && i + 2 < html.length &&
          (html.charAt(i + 1) == 'a' || html.charAt(i + 1) == 'A') &&
          (html.charAt(i + 2).isWhitespace || html.charAt(i + 2) == '>')) {
        // tag body: same quoted-value discipline as extractHrefs
        var j = i + 2
        var href: Option[String] = None
        while (j < html.length && html.charAt(j) != '>') {
          if (html.regionMatches(true, j, "href", 0, 4)) {
            var k = j + 4
            while (k < html.length && html.charAt(k).isWhitespace) k += 1
            if (k < html.length && html.charAt(k) == '=') {
              k += 1
              while (k < html.length && html.charAt(k).isWhitespace) k += 1
              if (k < html.length && (html.charAt(k) == '"' || html.charAt(k) == '\'')) {
                val q = html.charAt(k)
                val end = html.indexOf(q, k + 1)
                if (end > k) { href = href.orElse(Some(html.substring(k + 1, end))); j = end }
                else j = html.length
              } else {
                var e = k
                while (e < html.length && !html.charAt(e).isWhitespace &&
                  html.charAt(e) != '>') e += 1
                href = href.orElse(Some(html.substring(k, e)))
                j = e - 1
              }
            }
            j += 1
          } else if (html.charAt(j) == '"' || html.charAt(j) == '\'') {
            val q = html.charAt(j)
            val end = html.indexOf(q, j + 1)
            j = if (end > j) end + 1 else html.length
          } else j += 1
        }
        // inner text up to the closing </a>: nested tags (HTML forbids
        // nested anchors, so the next </a> closes ours) are stripped with
        // the same quoted-'>' honor as the outer scan
        var p = j + 1
        val sb = new StringBuilder
        var closed = false
        while (p < html.length && !closed) {
          if (html.regionMatches(true, p, "</a", 0, 3)) closed = true
          else if (html.charAt(p) == '<') {
            var q = p + 1
            while (q < html.length && html.charAt(q) != '>') {
              if (html.charAt(q) == '"' || html.charAt(q) == '\'') {
                val c = html.charAt(q)
                val end = html.indexOf(c, q + 1)
                q = if (end > q) end else html.length
              }
              q += 1
            }
            p = q + 1
          } else { sb.append(html.charAt(p)); p += 1 }
        }
        val text = decodeEntities(sb.toString).replaceAll("\\s+", " ").trim
        href.filter(_ => text.nonEmpty).foreach(h => out += ((decodeEntities(h), text)))
        i = p
      } else i += 1
    }
    out.toSeq
  }

  /** Hub page for the anchor-text gate: five rooted links to targets
    * `(docId*7 + j*13) % 200` with anchor text exercising the normalizer
    * (nested tag, entity, ragged whitespace), plus one TEXT-LESS anchor
    * that aggregation must drop. Separate fixture from [[buildHtml]] so
    * the q_links / q_html_ingest oracles stay untouched. */
  def buildAnchorPage(docId: Long): String = {
    def t(j: Int): Long = (docId * 7 + j * 13) % 200
    s"""<html><body>
<h1>Hub $docId</h1>
<p><a href="/doc/${t(0)}">guide ${t(0)}</a></p>
<p><a href='/doc/${t(1)}'><b>guide</b> ${t(1)}</a></p>
<p><a href=/doc/${t(2)}>ref&amp;${t(2)}</a></p>
<p><a href="/doc/${t(3)}">  guide
   ${t(3)}  </a></p>
<p><a href="/doc/${t(4)}">manual ${t(4)}</a></p>
<p><a href="/doc/${t(0)}"></a> trailing prose keeps the parser honest.</p>
</body></html>"""
  }

  // ------------------------------------------- table extraction (web tables)

  /** All table cells of a page in document order — the web-tables harvest
    * (the WDC/WikiTables corpus shape: relational data mined from HTML
    * for tabular pretraining). One O(n) walk tracks table/tr/td|th
    * nesting (quoted attribute values honored, tags inside cells
    * stripped, entities decoded, whitespace collapsed); unclosed cells
    * flush at the next cell/row/table boundary the way browsers close
    * them. NESTED tables enumerate FLAT: a table inside a cell flushes
    * the host cell's text-so-far and becomes its own table_idx — the
    * usual web-table-corpus choice (each relational island is a row set
    * of its own; cell text after the inner table is layout residue and
    * drops). Emits (table_idx, row_idx, col_idx, is_header, cell_text). */
  def extractTables(html: String): Seq[(Int, Int, Int, Boolean, String)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Boolean, String)]
    var i = 0
    var tIdx = -1
    var row = -1
    var colIdx = 0
    var tableDepth = 0
    var inCell = false
    var isHeader = false
    val cell = new StringBuilder
    def flushCell(): Unit = if (inCell) {
      out += ((tIdx, row, colIdx,
        isHeader, decodeEntities(cell.toString).replaceAll("\\s+", " ").trim))
      colIdx += 1
      cell.clear()
      inCell = false
    }
    while (i < html.length) {
      if (html.charAt(i) == '<') {
        // tag name, then skip the body honoring quoted attribute values
        var j = i + 1
        val isClose = j < html.length && html.charAt(j) == '/'
        if (isClose) j += 1
        val nameStart = j
        while (j < html.length && html.charAt(j).isLetter) j += 1
        val name = html.substring(nameStart, j).toLowerCase
        while (j < html.length && html.charAt(j) != '>') {
          if (html.charAt(j) == '"' || html.charAt(j) == '\'') {
            val q = html.charAt(j)
            val end = html.indexOf(q, j + 1)
            j = if (end > j) end else html.length
          }
          j += 1
        }
        name match {
          case "table" if !isClose => flushCell(); tIdx += 1; tableDepth += 1; row = -1
          case "table" if isClose  => flushCell(); tableDepth = math.max(0, tableDepth - 1)
          case "tr" if tableDepth > 0 && !isClose => flushCell(); row += 1; colIdx = 0
          case "tr" if isClose => flushCell()
          case "td" | "th" if tableDepth > 0 && !isClose =>
            flushCell(); inCell = true; isHeader = name == "th"
          case "td" | "th" if isClose => flushCell()
          case _ => () // any other tag inside a cell is decoration: stripped
        }
        i = j + 1
      } else {
        if (inCell) cell.append(html.charAt(i))
        i += 1
      }
    }
    flushCell() // truncated page: browsers flush the open cell too
    out.toSeq
  }

  /** Table-fixture page: one header+data table with closed-form cells,
    * a decoy paragraph whose `&lt;tr&gt;` entity must NOT become a row,
    * and a second single-row table with a nested tag, ragged whitespace
    * and an UNCLOSED `<td>` (the browser-closes-it case). */
  def buildTablePage(docId: Long): String = {
    val rows = (docId % 4 + 2).toInt // data rows
    val cols = (docId % 3 + 2).toInt
    val header = (0 until cols).map(c => s"<th>h$c</th>").mkString
    val body = (1 to rows).map { r =>
      "<tr>" + (0 until cols).map(c =>
        s"<td>v${(docId * 31 + r * 7 + c * 3) % 100}</td>").mkString + "</tr>"
    }.mkString("\n")
    s"""<html><body>
<h1>Tables $docId</h1>
<table class="data">
<tr>$header</tr>
$body
</table>
<p>decoy &lt;tr&gt; is prose, not a row</p>
<table><tr><td><b>x</b> $docId</td><td>  y
   $docId </table>
</body></html>"""
  }

  /** Oracle-checked web-table extraction: staged pages -> binaryFile scan
    * -> single-pass table walk -> one scalar row per CELL. The oracle
    * states every cell in closed form (header labels, the data-cell
    * value formula, the second table's normalized nested/unclosed cells)
    * — a decoy-entity row, a missed unclosed cell or an off-by-one in
    * row/col numbering all hash-mismatch. Scale shape: narrow per-row
    * parse riding the scan; page bytes never shuffle, 5 scalars per cell
    * exit. */
  def qHtmlTables(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    BinaryIngest.readPerDoc(s, d, "table_fixture", "tab", "html")(
        (id, _) => buildTablePage(id).getBytes(UTF_8))
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          extractTables(new String(bytes, UTF_8))
            .map { case (t, r, c, h, text) => (id, t, r, c, h, text) }
        }
      }
      .toDF("doc_id", "table_idx", "row_idx", "col_idx", "is_header", "cell")
      .orderBy("doc_id", "table_idx", "row_idx", "col_idx")
  }

  /** Oracle-checked anchor-text aggregation — the web-graph signal
    * pretraining pipelines mine (anchor text is a human-written label for
    * the TARGET page): extract (href, text) pairs, resolve to canonical
    * target URLs, then aggregate per target into reference counts,
    * distinct referrer counts and the most frequent anchor (ties
    * lexicographic). Text-less anchors are dropped — they label nothing.
    *
    * Scale shape: the per-(url, anchor) tally and the per-url totals are
    * both map-side-combinable aggregations keyed by target; the top-anchor
    * pick is one ranking window over the ALREADY-collapsed tally (never
    * over raw links), so a popular page costs |distinct anchors|, not
    * |backlinks|, in the window. The oracle replays the link graph and
    * both aggregates in closed form — it never runs the parser. */
  def qAnchorText(s: SparkSession, d: String): DataFrame = {
    import graft.operators.UrlOps
    import org.apache.spark.sql.expressions.Window
    val spark = s
    import spark.implicits._
    val links = BinaryIngest.readPerDoc(s, d, "anchor_fixture", "hub", "html")(
        (id, _) => buildAnchorPage(id).getBytes(UTF_8))
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val base = pageBaseUrl(id)
          extractAnchors(new String(bytes, UTF_8))
            .flatMap { case (href, text) =>
              UrlOps.resolveRef(base, href).map { abs =>
                val host = UrlOps.parseUrl(abs).map(_.host).getOrElse("")
                (id, abs, UrlOps.registrableDomain(host), text)
              }
            }
        }
      }
      .toDF("doc_id", "url", "domain", "anchor")
    val tally = links.groupBy("url", "domain", "anchor")
      .agg(count(lit(1)).as("n"))
    val top = tally
      .withColumn("rn", row_number().over(
        Window.partitionBy("url").orderBy(col("n").desc, col("anchor").asc)))
      .filter(col("rn") === 1)
      .select(col("url"), col("anchor").as("top_anchor"), col("n").as("top_n"))
    links.groupBy("url", "domain")
      .agg(count(lit(1)).as("n_refs"), countDistinct(col("doc_id")).as("n_pages"))
      .join(top, Seq("url"))
      .select("url", "domain", "n_refs", "n_pages", "top_anchor", "top_n")
      .orderBy("url")
  }
}
