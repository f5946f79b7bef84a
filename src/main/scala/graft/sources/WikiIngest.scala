package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Wikipedia-dump ingestion — the canonical encyclopedic pretraining
  * corpus arrives as ONE giant XML export (`<mediawiki><page>…`), and the
  * page body is wikitext markup, not prose. Two gates cover the chain,
  * mirroring the WARC -> HTML -> text first mile:
  *
  *   - `q_xml_ingest`: hand-rolled dump shards (entity-escaped, the
  *     mediawiki element layout) read back through Spark 4's NATIVE xml
  *     source (`rowTag=page`, declared schema — builder and parser share
  *     no code; the reader's own entity decode + nested-struct mapping
  *     must reproduce every field);
  *   - `q_wikitext`: the SAME staged pages' wikitext bodies reduced to
  *     prose by a linear extractor (templates, refs, link targets, file
  *     and category links, emphasis ticks, heading/list markers out;
  *     link labels and body text kept).
  *
  * The extractor is single-pass per construct class and RE2-free (the
  * htmlToText discipline): a depth counter for `{{…}}` templates (they
  * nest), an index scan for `<ref>`/tags, bracket-pair walks for links.
  *
  * Scale: rowTag splitting makes the page the record unit; Spark's xml
  * source splits files between page elements, so dump-sized inputs
  * parallelize. The gate stages 8 shards (doc_id % 8). Extraction is a
  * narrow per-row pass — markup never shuffles.
  */
object WikiIngest {

  // ------------------------------------------------------- wikitext body

  /** Deterministic wikitext page for (docId, text): heading, bold/italic
    * byline with a piped user link, the document body, a template
    * (dropped whole), a list, a ref (dropped), an external link (label
    * kept), a plain wiki link, and a category tag (dropped). */
  def buildWiki(docId: Long, text: String): String =
    s"""== Doc $docId ==
'''Posted''' on ''2026-01-01'' by [[User:author$docId|author $docId]]

$text

{{Infobox graft|kind=doc|id=$docId}}
* item [[alpha]]
* item beta<ref>citation $docId never surfaces</ref>
[http://example.com/$docId external label] and a [[plain link]].
[[Category:GraftDocs]]"""

  /** wikitext -> prose. Linear walks, never throws:
    *   - `{{…}}` drops at any nesting depth (unterminated: to EOF);
    *   - `<ref…>…</ref>` drops (self-closing `<ref…/>` too), any other
    *     `<…>` tag strips (markers only, body kept);
    *   - `[[target|label]]` keeps label, `[[target]]` keeps target
    *     UNLESS the target is namespaced (`File:`, `Category:`, …) —
    *     those drop whole;
    *   - `[url label]` keeps label, bare `[url]` drops;
    *   - runs of 2+ apostrophes (bold/italic) drop;
    *   - leading `=`+ heading fences and `*`/`#` list markers strip;
    *   - whitespace collapses to single spaces.
    */
  def wikiToText(wiki: String): String = {
    if (wiki == null) return ""
    val n = wiki.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = wiki.charAt(i)
      if (c == '{' && i + 1 < n && wiki.charAt(i + 1) == '{') {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (wiki.startsWith("{{", i)) { depth += 1; i += 2 }
          else if (wiki.startsWith("}}", i)) { depth -= 1; i += 2 }
          else i += 1
        }
      } else if (c == '<') {
        val close = wiki.indexOf('>', i + 1)
        if (close < 0) i = n // unterminated tag: drop to EOF
        else {
          val tag = wiki.substring(i + 1, close)
          // the ref rule keys on the tag NAME, not a prefix — <references>
          // / <reflist> are ordinary tags whose bodies must survive
          // (review-caught: a prefix match dropped article tails to EOF)
          val name = tag.takeWhile(_.isLetter).toLowerCase
          if (name == "ref" && !tag.endsWith("/")) {
            val end = wiki.toLowerCase.indexOf("</ref>", close)
            i = if (end < 0) n else end + 6
          } else i = close + 1 // self-closing ref or any other tag: marker only
        }
      } else if (wiki.startsWith("[[", i)) {
        val close = wiki.indexOf("]]", i + 2)
        if (close < 0) { sb.append(c); i += 1 }
        else {
          val inner = wiki.substring(i + 2, close)
          val pipe = inner.indexOf('|')
          if (pipe >= 0) sb.append(inner.substring(pipe + 1))
          else if (!inner.contains(':')) sb.append(inner)
          // namespaced, no pipe (Category:, File:, …): drop whole
          i = close + 2
        }
      } else if (c == '[') {
        val close = wiki.indexOf(']', i + 1)
        if (close < 0) { sb.append(c); i += 1 }
        else {
          val inner = wiki.substring(i + 1, close)
          val sp = inner.indexOf(' ')
          if (sp >= 0) sb.append(inner.substring(sp + 1)) // [url label]
          i = close + 1 // bare [url]: drop
        }
      } else if (c == '\'' && i + 1 < n && wiki.charAt(i + 1) == '\'') {
        while (i < n && wiki.charAt(i) == '\'') i += 1 // emphasis run
      } else if ((c == '=' || c == '*' || c == '#') && atLineStart(wiki, i)) {
        while (i < n && (wiki.charAt(i) == c)) i += 1 // leading marker run
      } else if (c == '=' && isTrailingHeading(wiki, i)) {
        while (i < n && wiki.charAt(i) == '=') i += 1 // closing heading fence
      } else { sb.append(c); i += 1 }
    }
    sb.toString.replaceAll("[\\s\\u00a0]+", " ").trim
  }

  private def atLineStart(s: String, i: Int): Boolean = {
    var j = i - 1
    while (j >= 0 && (s.charAt(j) == ' ' || s.charAt(j) == '\t')) j -= 1
    j < 0 || s.charAt(j) == '\n'
  }

  /** A run of '=' followed only by whitespace-to-EOL is a closing
    * heading fence. */
  private def isTrailingHeading(s: String, i: Int): Boolean = {
    var j = i
    while (j < s.length && s.charAt(j) == '=') j += 1
    while (j < s.length && (s.charAt(j) == ' ' || s.charAt(j) == '\t')) j += 1
    j >= s.length || s.charAt(j) == '\n'
  }

  // ------------------------------------------------------- XML dump

  def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** One dump shard in the mediawiki export layout. */
  def buildDumpShard(rows: Seq[(Long, String)]): String = {
    val sb = new StringBuilder(1 << 16)
    sb.append("<mediawiki xmlns=\"http://www.mediawiki.org/xml/export-0.11/\">\n")
    rows.foreach { case (id, text) =>
      sb.append("  <page>\n")
      sb.append(s"    <title>Doc $id</title>\n")
      sb.append(s"    <ns>0</ns>\n")
      sb.append(s"    <id>$id</id>\n")
      sb.append("    <revision>\n")
      sb.append(s"      <id>${id + 1000000}</id>\n")
      sb.append("      <timestamp>2026-01-01T00:00:00Z</timestamp>\n")
      sb.append(s"      <contributor><username>author$id</username></contributor>\n")
      sb.append("      <text>").append(xmlEscape(buildWiki(id, text))).append("</text>\n")
      sb.append("    </revision>\n")
      sb.append("  </page>\n")
    }
    sb.append("</mediawiki>\n")
    sb.toString
  }

  /** Stage 8 dump shards (doc_id % 8, see [[BinaryIngest.stageShards]]). */
  def stageDumpFixture(s: SparkSession, d: String): String = {
    import s.implicits._
    BinaryIngest.stageShards(s, d, "wiki_fixture",
        BinaryIngest.fixtureDocs(s, d).select(col("doc_id"), col("text")).as[(Long, String)],
        shard => f"dump-$shard%02d.xml")(_._1) { (_, docs, out) =>
      out.write(buildDumpShard(docs.map { case (id, t) => (id, if (t == null) "" else t) })
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  private val PageSchema = StructType(Seq(
    StructField("title", StringType),
    StructField("ns", LongType),
    StructField("id", LongType),
    StructField("revision", StructType(Seq(
      StructField("id", LongType),
      StructField("timestamp", StringType),
      StructField("contributor", StructType(Seq(
        StructField("username", StringType)))),
      StructField("text", StringType))))))

  /** The shared scan: native xml source over the staged dump. */
  private def pages(s: SparkSession, d: String): DataFrame = {
    val fix = stageDumpFixture(s, d)
    s.read.format("xml")
      .option("rowTag", "page")
      .schema(PageSchema)
      .load(fix)
  }

  /** Oracle-checked XML structure: every per-page scalar field the
    * native source parses out of the hand-written dump, flattened
    * through two nesting levels (the `<text>` payload is gated by
    * `q_wikitext`'s closed-form prose instead). */
  def qXmlIngest(s: SparkSession, d: String): DataFrame =
    pages(s, d).select(
      col("id").as("doc_id"),
      col("title"),
      col("ns"),
      col("revision.id").as("rev_id"),
      col("revision.timestamp").as("rev_ts"),
      col("revision.contributor.username").as("username"))
      .orderBy("doc_id")

  /** Oracle-checked wikitext extraction over the same staged pages:
    * markup out, prose + link labels kept — the oracle states the
    * expected prose in closed form (a surviving template, ref body,
    * category tag or link target all hash-mismatch). */
  def qWikitext(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    pages(s, d)
      .select(col("id").as("doc_id"), col("revision.text").as("wiki"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, w) => (id, wikiToText(w)) })
      .toDF("doc_id", "text_wiki")
      .orderBy("doc_id")
  }
}
