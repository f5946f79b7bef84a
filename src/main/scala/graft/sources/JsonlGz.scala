package graft.sources

import graft.engine.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Gzipped-JSONL ingestion: the other format crawl corpora actually ship
  * in (one JSON document per line, gzip-compressed shards — C4, The Pile,
  * RedPajama all distribute this way). The Spark-first answer is that NO
  * custom reader is needed: `spark.read.json` decompresses registered
  * codecs by extension and parses lines in parallel, one task per shard
  * (gzip is not splittable — the SHARD is the parallelism unit, which is
  * why corpora ship as many medium files; documented here because at
  * 100 TB shard sizing IS the tuning knob: ~100-500 MB/shard keeps every
  * core busy without 10-hour stragglers).
  *
  * The builder side is ours: executor-written gzip shards with hand-built
  * JSON (JDK `GZIPOutputStream`; escaping per RFC 8259) — so the gate
  * proves the full round trip against the documents table, not Spark's
  * writer against Spark's reader. */
object JsonlGz {

  /** RFC 8259 string escape: quote, backslash, and all control chars. */
  def jsonEscape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    s.foreach {
      case '"'           => sb.append("\\\"")
      case '\\'          => sb.append("\\\\")
      case '\n'          => sb.append("\\n")
      case '\r'          => sb.append("\\r")
      case '\t'          => sb.append("\\t")
      case c if c < ' '  => sb.append(f"\\u${c.toInt}%04x")
      case c             => sb.append(c)
    }
    sb.toString
  }

  /** NULL fields serialize as JSON `null` (not ""): the native json
    * reader maps it back to SQL NULL, so a nullable documents column
    * round-trips exactly instead of collapsing to empty string and
    * hash-mismatching the oracle's raw NULL. */
  def docJsonLine(id: Long, lang: String, source: String, text: String): String = {
    def field(v: String): String =
      if (v == null) "null" else "\"" + jsonEscape(v) + "\""
    s"""{"doc_id":$id,"lang":${field(lang)},"source":${field(source)},"text":${field(text)}}"""
  }

  /** Stage the documents table as 8 gzipped JSONL shards (doc_id % 8,
    * see [[BinaryIngest.stageShards]]). */
  def stageJsonlGzFixture(s: SparkSession, d: String): String = {
    import s.implicits._
    BinaryIngest.stageShards(s, d, "jsonlgz_fixture",
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("source"), col("text"))
          .as[(Long, String, String, String)],
        shard => f"shard-$shard%02d.jsonl.gz")(_._1) { (_, docs, out) =>
      val os = new java.util.zip.GZIPOutputStream(out)
      docs.foreach { case (id, lang, source, text) =>
        os.write((docJsonLine(id, lang, source, text) + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      os.finish()
    }
  }

  /** Oracle-checked gzip-JSONL round trip: the staged shards read back
    * through the NATIVE json source (schema declared up front — schema
    * inference is a second full pass over 100 TB) and must reproduce the
    * documents table exactly. A JSON-escape defect, a dropped line or a
    * decompression fault all hash-mismatch. */
  def qJsonlIngest(s: SparkSession, d: String): DataFrame = {
    val fix = stageJsonlGzFixture(s, d)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("source", StringType), StructField("text", StringType)))
    s.read.schema(schema).json(fix + "/*.jsonl.gz")
      .select("doc_id", "lang", "source", "text")
      .orderBy("doc_id")
  }
}
