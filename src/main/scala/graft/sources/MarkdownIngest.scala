package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Markdown → text extraction: README/docs/forum corpora (The Stack,
  * StackExchange dumps, GitHub docs) arrive as markdown, and a training
  * pipeline wants the prose without the markup — heading markers, list
  * bullets, blockquote prefixes, emphasis/code decorations and link
  * targets are noise for LM counts and dedup shingles (link TEXT stays;
  * URLs leave through the URL-governance path instead).
  *
  * The extractor is line-based + one inline pass, all linear and
  * RE2-free (the htmlToText discipline):
  *   - fenced code blocks (``` ... ```) drop entirely — code is its own
  *     modality, not prose;
  *   - per line: one leading marker strips — ATX heading `#`+, list
  *     bullet `- ` / `* `, blockquote `> `;
  *   - inline: `[text](url)` keeps text, `![alt](url)` keeps alt,
  *     backtick/emphasis decorations (` ` * _) drop;
  *   - lines join with spaces, whitespace collapses.
  *
  * At 100 TB: narrow per-row mapPartitions, the same posture as the
  * HTML/PDF extractors — the scan is the cost.
  */
object MarkdownIngest {

  /** Strip one leading block marker from a trimmed line. ATX headings
    * follow CommonMark: the `#` run must be followed by a space or end
    * the line — `#hashtag` is content, not a heading. */
  private def stripMarker(line: String): String = {
    val t = line.trim
    val hashes = t.takeWhile(_ == '#').length
    if (hashes > 0 && (t.length == hashes || t.charAt(hashes) == ' '))
      t.substring(hashes).trim
    else if (t.startsWith("- ") || t.startsWith("* ")) t.substring(2)
    else if (t.startsWith("> ")) t.substring(2)
    else t
  }

  /** Inline pass: links/images keep their text, decorations drop. */
  private def inline(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      val isImage = c == '!' && i + 1 < n && s.charAt(i + 1) == '['
      if (c == '[' || isImage) {
        val open = if (isImage) i + 1 else i
        val close = s.indexOf(']', open + 1)
        if (close > 0 && close + 1 < n && s.charAt(close + 1) == '(') {
          val paren = s.indexOf(')', close + 2)
          if (paren > 0) {
            sb.append(s, open + 1, close)
            i = paren + 1
          } else { sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      } else if (c == '`' || c == '*' || c == '_') i += 1
      else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** The extractor: fence-aware line walk, then inline cleanup and
    * whitespace collapse. Never throws; an unterminated fence consumes
    * to EOF (lenient, like the HTML extractor). */
  def mdToText(md: String): String = {
    if (md == null) return ""
    var inFence = false
    val sb = new java.lang.StringBuilder(md.length)
    md.split("\n", -1).foreach { raw =>
      val t = raw.trim
      if (t.startsWith("```")) inFence = !inFence
      else if (!inFence) {
        sb.append(inline(stripMarker(t))).append(' ')
      }
    }
    sb.toString.replaceAll("[\\s\\u00a0]+", " ").trim
  }

  /** Deterministic markdown page for (docId, text): heading, emphasized
    * byline with a link, the document body, a bullet list, a fenced code
    * block carrying a FAKE heading (must not surface), a blockquote and
    * an inline-decorated closing line. */
  def buildMd(docId: Long, text: String): String =
    s"""# Doc $docId

*Posted* on **2026-01-01** by [author $docId](https://example.com/u/$docId)

$text

- item alpha
- item beta

```
# not a heading, just code
val x = 1
```

> quoted wisdom line
Inline `code span` and _under emphasis_ close."""

  /** Oracle-checked markdown round trip: staged pages wrap each
    * document's text in markdown structure; the extractor must surface
    * exactly the prose — a heading marker or bullet leaking, fence code
    * surfacing, or a link URL kept all hash-mismatch against the
    * oracle's closed-form expected text. */
  def qMarkdown(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    BinaryIngest.readPerDoc(s, d, "md_fixture", "doc", "md")(
        (id, text) => buildMd(id, text).getBytes(UTF_8))
      .mapPartitions(_.map { case (id, bytes) => (id, mdToText(new String(bytes, UTF_8))) })
      .toDF("doc_id", "text_md")
      .orderBy("doc_id")
  }
}
