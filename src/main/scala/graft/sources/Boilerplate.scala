package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Block-level boilerplate removal — the main-content extraction step of
  * the crawl pipeline (the jusText / Boilerpipe family: Kohlschütter 2010,
  * Pomikálek 2011). [[HtmlIngest.htmlToText]] keeps EVERY visible
  * character; a training corpus wants only the content blocks — nav bars,
  * tag clouds, footers and "read more" teasers are noise that poisons
  * dedup shingles and LM counts downstream.
  *
  * The classifier is the classic two-signal rule, made exactly
  * deterministic so a closed-form oracle can state every verdict:
  *
  *   - segment the page into blocks at block-element boundaries
  *     (p, div, h1-h6, li, nav, footer, ...) in ONE left-to-right pass — the same
  *     linear state machine as htmlToText (comments and script/style
  *     removed, attribute-quoted '>' honored, entities decoded), plus an
  *     anchor-depth counter;
  *   - a block is CONTENT iff its collapsed text has >= [[MinContentLen]]
  *     chars AND 3·(chars appended inside <a> elements) <= collapsed
  *     length — the integer form of link-density <= 1/3 (no float
  *     thresholds anywhere).
  *
  * At 100 TB: a narrow per-row pass exactly like htmlToText — raw HTML
  * never shuffles, the output is the pruned text column.
  */
object Boilerplate {

  /** Elements whose open OR close tag ends the current text block. */
  private val BlockTags: Set[String] = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
    "nav", "footer", "header", "aside", "td", "tr", "table", "blockquote",
    "section", "article", "body", "html", "head", "title", "main", "pre")

  val MinContentLen = 25

  /** One parsed block: collapsed text + chars that arrived inside <a>. */
  final case class Block(text: String, anchorChars: Int) {
    def isContent: Boolean =
      text.length >= MinContentLen && 3 * anchorChars <= text.length
  }

  /** Split a page into text blocks: htmlToText's machinery (comment +
    * script/style removal, quote-aware tag skip, bounded entity decode)
    * with two additions — the tag NAME is inspected to flush blocks at
    * block-element boundaries and to track anchor depth. Linear, never
    * throws; unterminated constructs consume to EOF. */
  def htmlBlocks(html: String): Seq[Block] = {
    if (html == null) return Nil
    val n = html.length
    val out = Vector.newBuilder[Block]
    val sb = new java.lang.StringBuilder(64)
    var anchorChars = 0
    var anchorDepth = 0
    var i = 0
    def at(s: String): Boolean = html.regionMatches(true, i, s, 0, s.length)
    def flush(): Unit = {
      val collapsed = sb.toString.replaceAll("[\\s\\u00a0]+", " ").trim
      if (collapsed.nonEmpty) out += Block(collapsed, anchorChars)
      sb.setLength(0)
      anchorChars = 0
    }
    def append(s: String): Unit = {
      sb.append(s)
      if (anchorDepth > 0) anchorChars += s.length
    }
    // single-char fast path: the corpus-wide per-character hot loop must
    // not allocate a String per input character
    def appendCh(ch: Char): Unit = {
      sb.append(ch)
      if (anchorDepth > 0) anchorChars += 1
    }
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (at("<!--")) {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
          sb.append(' ')
        } else if (at("<script") || at("<style")) {
          val tag = if (at("<script")) "script" else "style"
          val close = HtmlIngest.indexOfIgnoreCase(html, "</" + tag, i + 1)
          if (close < 0) i = n
          else {
            val gt = html.indexOf('>', close)
            i = if (gt < 0) n else gt + 1
          }
          sb.append(' ')
        } else {
          // read the tag name: [/][a-z0-9]* directly after '<'
          var j = i + 1
          val closing = j < n && html.charAt(j) == '/'
          if (closing) j += 1
          val nameStart = j
          while (j < n && (html.charAt(j).isLetterOrDigit)) j += 1
          val name = html.substring(nameStart, j).toLowerCase
          // skip the rest of the tag, honoring quoted attribute values
          i = j
          var quote: Char = 0
          var done = false
          while (i < n && !done) {
            val ch = html.charAt(i)
            if (quote != 0) { if (ch == quote) quote = 0 }
            else if (ch == '"' || ch == '\'') quote = ch
            else if (ch == '>') done = true
            i += 1
          }
          if (name == "a") {
            if (closing) anchorDepth = math.max(0, anchorDepth - 1)
            else anchorDepth += 1
            sb.append(' ')
          } else if (BlockTags.contains(name)) {
            flush()
          } else sb.append(' ')
        }
      } else if (c == '&') {
        var semi = -1
        var s = i + 1
        val lim = math.min(n, i + 11)
        while (semi < 0 && s < lim) { if (html.charAt(s) == ';') semi = s; s += 1 }
        if (semi > i) {
          HtmlIngest.decodeEntity(html.substring(i + 1, semi)) match {
            case Some(dec) => append(dec); i = semi + 1
            case None      => append("&"); i += 1
          }
        } else { append("&"); i += 1 }
      } else { appendCh(c); i += 1 }
    }
    flush()
    out.result()
  }

  /** Main-content extraction over a whole page: content blocks joined
    * with single spaces, plus the block counts. */
  def extractMain(html: String): (String, Long, Long) = {
    val blocks = htmlBlocks(html)
    val content = blocks.filter(_.isContent)
    (content.map(_.text).mkString(" "), blocks.length.toLong, content.length.toLong)
  }

  /** Deterministic boilerplate-laden page for (docId, text): a title and
    * footer (short -> dropped), an all-anchor nav and a 64%-anchor tag
    * cloud (density -> dropped), a short teaser (length -> dropped), the
    * document body (kept iff >= [[MinContentLen]] chars), and a long
    * prose block containing ONE inline link (kept — density 11/~94 is
    * under 1/3, proving the rule is fractional, not anchor-presence). */
  def buildBpPage(docId: Long, text: String): String =
    s"""<!DOCTYPE html>
<html><head><title>Doc $docId</title>
<style>nav { color: red; } /* <p>fake</p> */</style>
<script>if (x < 3 && y > 4) { nav("<div>fake</div>"); }</script>
</head>
<body>
<nav><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></nav>
<div>Tags: <a href="/t/1">alpha</a> <a href="/t/2">beta</a> <a href="/t/3">gamma</a></div>
<p>Read more</p>
<p>${HtmlIngest.escapeHtml(text)}</p>
<p>Doc $docId keeps long plain prose flowing around one <a href="/x">inline link</a> to stay below the density cutoff.</p>
<footer>&copy; 2026 Graft</footer>
</body></html>"""

  /** Oracle-checked boilerplate removal: staged pages bury each
    * document's text in nav/tag-cloud/teaser/footer noise; the extractor
    * must keep EXACTLY the body (when long enough) and the prose block —
    * the oracle states main text and both block counts in closed form.
    * A density rule that keys on anchor PRESENCE instead of fraction, a
    * block splitter that misses a boundary, or nav text leaking through
    * all hash-mismatch. */
  def qBoilerplate(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    BinaryIngest.readPerDoc(s, d, "bp_fixture", "bp", "html")(
        (id, text) => buildBpPage(id, text).getBytes(UTF_8))
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (main, nb, nc) = extractMain(new String(bytes, UTF_8))
          (id, nb, nc, main)
        }
      }
      .toDF("doc_id", "n_blocks", "n_content", "main_text")
      .orderBy("doc_id")
  }
}
