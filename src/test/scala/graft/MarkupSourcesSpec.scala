package graft

import graft.sources.{AvroIngest, LatexIngest, WikiIngest}
import org.apache.spark.sql.functions._

/** Specs for the round-7 batch-4 sources: the hand-rolled Avro object
  * container writer, the mediawiki XML dump + wikitext extractor, and
  * the LaTeX extractor. The oracle gates cover the distributed round
  * trips; these pin the pure functions and encoding edges. */
class MarkupSourcesSpec extends SparkSpec {

  // --------------------------------------------------------- Avro

  test("varint zigzag encoding matches the Avro spec vectors") {
    def enc(v: Long): Seq[Int] = {
      val out = new java.io.ByteArrayOutputStream()
      AvroIngest.writeVarLong(out, v)
      out.toByteArray.map(_ & 0xFF).toSeq
    }
    // spec §binary encoding: 0->00, -1->01, 1->02, -2->03, 2->04
    assert(enc(0L) === Seq(0x00))
    assert(enc(-1L) === Seq(0x01))
    assert(enc(1L) === Seq(0x02))
    assert(enc(-2L) === Seq(0x03))
    assert(enc(64L) === Seq(0x80, 0x01))
    assert(enc(-65L) === Seq(0x81, 0x01))
  }

  test("hand-rolled OCF shards round-trip through the native avro reader") {
    import spark.implicits._
    val rows = Seq(
      (1L, "en", "s0", "plain text"),
      (2L, null: String, "s1", ""),              // null lang, EMPTY text
      (3L, "de", null: String, null: String),    // null source AND text
      (4L, "fr", "s2", "unicode é中文 and, commas"))
    val dir = tempDir("avro_spec")
    // small blockRows forces a multi-block walk
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "s.avro"),
      AvroIngest.buildShard(0L, rows, blockRows = 2))
    val got = spark.read.format("org.apache.spark.sql.avro.AvroFileFormat")
      .load(dir)
      .select("doc_id", "lang", "source", "text")
      .as[(Long, String, String, String)].collect().sortBy(_._1).toSeq
    assert(got === rows)
  }

  test("distributed avro fixture reproduces the documents table") {
    import spark.implicits._
    val got = AvroIngest.qAvroIngest(spark, sf0001)
      .as[(Long, String, String, String)].collect().toSeq
    val expect = graft.engine.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .as[(Long, String, String, String)].collect().sortBy(_._1).toSeq
    assert(got === expect)
  }

  // ----------------------------------------------------- wikitext

  test("wikiToText: templates drop at depth, links keep labels") {
    assert(WikiIngest.wikiToText("a {{tpl|x={{inner}}}} b") === "a b")
    assert(WikiIngest.wikiToText("see [[Target|the label]] here") === "see the label here")
    assert(WikiIngest.wikiToText("a [[plain link]] b") === "a plain link b")
    assert(WikiIngest.wikiToText("x [[Category:Stuff]] y") === "x y")
    assert(WikiIngest.wikiToText("x [[File:pic.png]] y") === "x y")
    assert(WikiIngest.wikiToText("[http://u.test/1 ext label] tail") === "ext label tail")
    assert(WikiIngest.wikiToText("bare [http://u.test/1] drops") === "bare drops")
    assert(WikiIngest.wikiToText(null) === "")
  }

  test("wikiToText: refs, emphasis and heading/list markers strip") {
    assert(WikiIngest.wikiToText("keep<ref>gone</ref> this") === "keep this")
    assert(WikiIngest.wikiToText("a<ref name=x/> b") === "a b")
    // the ref rule keys on the tag NAME: <references> is an ordinary tag
    // whose body survives (a prefix match used to drop tails to EOF)
    assert(WikiIngest.wikiToText("keep<references></references> tail prose")
      === "keep tail prose")
    assert(WikiIngest.wikiToText("a <reflist item> b") === "a b")
    assert(WikiIngest.wikiToText("'''bold''' and ''italic''") === "bold and italic")
    assert(WikiIngest.wikiToText("it's a contraction") === "it's a contraction")
    assert(WikiIngest.wikiToText("== Head ==\nbody") === "Head body")
    assert(WikiIngest.wikiToText("* item one\n# item two") === "item one item two")
    // unterminated template consumes to EOF (lenient)
    assert(WikiIngest.wikiToText("keep {{lost to eof") === "keep")
  }

  test("buildWiki pages reduce to exactly the oracle's closed form") {
    for ((id, text) <- Seq((0L, "Plain body."), (7L, ""), (42L, "Two  spaced\nlines"))) {
      val got = WikiIngest.wikiToText(WikiIngest.buildWiki(id, text))
      val body = text.replaceAll("[\\s\\u00a0]+", " ").trim
      val expect = s"Doc $id Posted on 2026-01-01 by author $id" +
        (if (body.isEmpty) "" else s" $body") +
        " item alpha item beta external label and a plain link."
      assert(got === expect, s"doc $id")
    }
  }

  test("xmlEscape round-trips through the native xml reader's decode") {
    assert(WikiIngest.xmlEscape("a & b < c > d") === "a &amp; b &lt; c &gt; d")
  }

  // -------------------------------------------------------- LaTeX

  test("texToText: comments, math and machinery arguments drop") {
    assert(LatexIngest.texToText("keep % comment gone\nmore") === "keep more")
    assert(LatexIngest.texToText("a \\% literal stays") === "a % literal stays")
    assert(LatexIngest.texToText("x $e=mc^2$ y") === "x y")
    assert(LatexIngest.texToText("x $$e=mc^2$$ y") === "x y")
    assert(LatexIngest.texToText("x \\[a+b\\] y") === "x y")
    assert(LatexIngest.texToText("x \\(a+b\\) y") === "x y")
    assert(LatexIngest.texToText("see~\\cite{key} here") === "see here")
    assert(LatexIngest.texToText("fig \\ref{f1} shows") === "fig shows")
    assert(LatexIngest.texToText(null) === "")
  }

  test("texToText: keep-arg commands unwrap, environments route by class") {
    assert(LatexIngest.texToText("\\section{Intro} body") === "Intro body")
    assert(LatexIngest.texToText("\\emph{very} nice") === "very nice")
    assert(LatexIngest.texToText("\\begin{equation}x=1\\end{equation} after") === "after")
    assert(LatexIngest.texToText("\\begin{align*}x&=1\\end{align*} after") === "after")
    assert(LatexIngest.texToText("\\begin{itemize}\\item a\\item b\\end{itemize}") === "a b")
    assert(LatexIngest.texToText("\\begin{figure}\\caption{gone}\\end{figure} kept") === "kept")
    // unknown command drops bare, its following text stays
    assert(LatexIngest.texToText("\\maketitle then prose") === "then prose")
    // nested braces in a kept arg survive... the outer unwrap
    assert(LatexIngest.texToText("\\emph{a {b} c}") === "a {b} c")
  }

  test("buildTex papers reduce to exactly the oracle's closed form") {
    for ((id, text) <- Seq((0L, "Plain body."), (7L, ""), (42L, "Two  spaced\nlines"))) {
      val got = LatexIngest.texToText(LatexIngest.buildTex(id, text))
      val body = text.replaceAll("[\\s\\u00a0]+", " ").trim
      val expect = s"Doc $id author $id Introduction" +
        (if (body.isEmpty) "" else s" $body") +
        " The bound holds, and too; see . closing remarks keep 100% of prose. item alpha item beta"
      assert(got === expect, s"doc $id")
    }
  }
}
