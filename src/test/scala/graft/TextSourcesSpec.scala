package graft

import graft.sources.{CsvIngest, MarkdownIngest}
import org.apache.spark.sql.functions._

/** Unit coverage for the markdown extractor and the hand-rolled RFC 4180
  * CSV builder — the oracle gates (q_markdown, q_csv_ingest) cover the
  * distributed round trips; these specs pin the pure functions and the
  * failure modes (fence leaks, quoting slips, the null sentinel). */
class TextSourcesSpec extends SparkSpec {

  test("mdToText strips block markers and keeps prose") {
    assert(MarkdownIngest.mdToText("# Heading\nbody line") === "Heading body line")
    assert(MarkdownIngest.mdToText("### Deep heading") === "Deep heading")
    // CommonMark: no space after the run -> content, not a heading
    assert(MarkdownIngest.mdToText("#hashtag stays") === "#hashtag stays")
    assert(MarkdownIngest.mdToText("- item one\n* item two") === "item one item two")
    assert(MarkdownIngest.mdToText("> quoted line") === "quoted line")
    assert(MarkdownIngest.mdToText(null) === "")
    assert(MarkdownIngest.mdToText("") === "")
  }

  test("mdToText drops fenced code entirely, including fake headings inside") {
    val md = "before\n```\n# not a heading\nval x = 1\n```\nafter"
    assert(MarkdownIngest.mdToText(md) === "before after")
    // unterminated fence consumes to EOF (lenient)
    assert(MarkdownIngest.mdToText("keep\n```\nlost to eof") === "keep")
  }

  test("mdToText inline pass: links keep text, images keep alt, decorations drop") {
    assert(MarkdownIngest.mdToText("see [the docs](https://x.test/p) now")
      === "see the docs now")
    assert(MarkdownIngest.mdToText("![alt text](img.png) tail") === "alt text tail")
    assert(MarkdownIngest.mdToText("a `code` and *bold* and _em_ b")
      === "a code and bold and em b")
    // malformed link (no closing paren): bracket passes through literally
    assert(MarkdownIngest.mdToText("broken [text](no-close") === "broken [text](no-close")
    // bracket with no following paren is literal too
    assert(MarkdownIngest.mdToText("array[0] stays") === "array[0] stays")
  }

  test("buildMd pages reduce to exactly the oracle's closed form") {
    for ((id, text) <- Seq((0L, "Plain body."), (7L, ""), (42L, "Two  spaced\nlines"))) {
      val got = MarkdownIngest.mdToText(MarkdownIngest.buildMd(id, text))
      val body = text.replaceAll("[\\s\\u00a0]+", " ").trim
      val expect = s"Doc $id Posted on 2026-01-01 by author $id" +
        (if (body.isEmpty) "" else s" $body") +
        " item alpha item beta quoted wisdom line Inline code span and under emphasis close."
      assert(got === expect, s"doc $id")
    }
  }

  test("csvField implements RFC 4180 quoting plus the escaped null sentinel") {
    assert(CsvIngest.csvField(null) === "\\N")
    assert(CsvIngest.csvField("plain") === "plain")
    assert(CsvIngest.csvField("a,b") === "\"a,b\"")
    assert(CsvIngest.csvField("say \"hi\"") === "\"say \"\"hi\"\"\"")
    assert(CsvIngest.csvField("line\nbreak") === "\"line\nbreak\"")
    assert(CsvIngest.csvField("cr\rhere") === "\"cr\rhere\"")
    // empty string QUOTES (unquoted empty is the other NULL spelling)
    assert(CsvIngest.csvField("") === "\"\"")
    // a LITERAL backslash-N doubles its backslash — quoting alone cannot
    // protect it (the reader null-matches post-unquote, probed)
    assert(CsvIngest.csvField("\\N") === "\\\\N")
    assert(CsvIngest.csvField("C:\\dir") === "C:\\\\dir")
  }

  test("hand-rolled CSV shards round-trip the documents table exactly") {
    import spark.implicits._
    val got = CsvIngest.qCsvIngest(spark, sf0001)
      .as[(Long, String, String, String)].collect().toSeq
    val expect = graft.engine.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .as[(Long, String, String, String)].collect().toSeq.sortBy(_._1)
    assert(got === expect)
  }

  test("CSV sentinel and quoting survive a staged read with hostile values") {
    // sf-table text has no NULLs at 0.001, so exercise the sentinel and
    // every quoting branch through a hand-staged shard + the same reader
    // options qCsvIngest uses
    val rows = Seq(
      (1L, null: String),                 // true NULL -> \N unquoted
      (2L, "\\N"),                        // literal backslash-N -> escaped, NOT null
      (3L, "a,b \"quoted\" and\nline"),   // comma + quote doubling + embedded newline
      (4L, ""),                           // quoted empty stays empty, not null
      (5L, "plain"),
      (6L, "C:\\path\\N end"),            // interior backslashes round-trip
      (7L, "\\\\N"))                      // double-backslash-N stays distinct from \N
    val dir = tempDir("csv_spec")
    val sb = new StringBuilder("doc_id,text\r\n")
    rows.foreach { case (id, t) =>
      sb.append(CsvIngest.csvRow(Seq(id.toString, t))).append("\r\n")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "shard.csv"),
      sb.toString.getBytes("UTF-8"))
    import org.apache.spark.sql.types._
    val got = spark.read
      .schema(StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
      .option("header", "true").option("multiLine", "true")
      .option("nullValue", CsvIngest.NullSentinel)
      .option("quote", "\"").option("escape", "\"")
      .csv(dir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        CsvIngest.csvUnescape(org.apache.spark.sql.functions.col("text")).as("text"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
      .sortBy(_._1).toSeq
    assert(got === rows)
  }

  test("CSV reader normalizes CRLF inside quoted fields (pinned contract)") {
    // univocity's multiLine parsing converts embedded \r\n to \n and the
    // knob is not exposed through Spark options — a corpus with
    // meaningful CRs should ship JSONL/parquet, not CSV. Pin it so a
    // future Spark that changes the behavior surfaces loudly.
    val dir = tempDir("csv_crlf")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "s.csv"),
      ("doc_id,text\r\n" + CsvIngest.csvRow(Seq("1", "a\r\nb")) + "\r\n").getBytes("UTF-8"))
    import org.apache.spark.sql.types._
    val got = spark.read
      .schema(StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
      .option("header", "true").option("multiLine", "true")
      .option("nullValue", CsvIngest.NullSentinel)
      .option("quote", "\"").option("escape", "\"")
      .csv(dir).collect()(0).getString(1)
    assert(got === "a\nb")
  }
}
