package graft.sources

import graft.engine.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CSV ingestion — the remaining classic interchange format next to the
  * JSON/JSONL/ORC/parquet round trips (reference's legacy export is JSON,
  * data_ingestion.py:487-515; tabular corpus metadata ships as CSV).
  *
  * Builder side is HAND-ROLLED RFC 4180 (fields containing comma, quote,
  * CR or LF are quoted; quotes double inside quoted fields; rows join
  * with \r\n) plus the MySQL/Hive null convention, which CSV itself
  * lacks: NULL writes as the unquoted `\N` sentinel and every literal
  * backslash DOUBLES at write. The doubling is what makes the sentinel
  * safe: Spark's reader compares `nullValue` against field content AFTER
  * unquoting (probed — a quoted `"\N"` still reads as NULL, so RFC 4180
  * quoting alone cannot protect a literal `\N`), but after doubling no
  * encoded literal can ever equal `\N`. The reader collapses `\\` back
  * to `\` post-read. Empty string writes as QUOTED `""` — with a
  * non-empty `nullValue`, univocity maps unquoted-empty to NULL and
  * quoted-empty to '' (probed), the Postgres COPY distinction.
  *
  * The read side is Spark's NATIVE csv source with a declared schema
  * (inference would be a second full pass over 100 TB) — builder and
  * parser share no code, so a quoting or escaping defect on either side
  * breaks the oracle's exact table equality.
  *
  * Scale: like the JSONL shards, the FILE is the parallelism unit for
  * multiLine CSV (quoted newlines make line splitting unsafe, so Spark
  * reads each file whole) — shard sizing is the knob; without embedded
  * newlines `multiLine=false` keeps per-line splitting. The gate stages
  * 8 shards and reads with multiLine on, the conservative setting.
  */
object CsvIngest {

  val NullSentinel = "\\N"

  /** One field: `\N` for null; otherwise backslashes double, then the
    * RFC 4180 quote rule applies (empty string quotes too, so it stays
    * distinguishable from the unquoted-empty NULL spelling). */
  def csvField(v: String): String = {
    if (v == null) NullSentinel
    else {
      val e = v.replace("\\", "\\\\")
      if (e.isEmpty || e.contains(",") || e.contains("\"") ||
        e.contains("\n") || e.contains("\r"))
        "\"" + e.replace("\"", "\"\"") + "\""
      else e
    }
  }

  def csvRow(fields: Seq[String]): String = fields.map(csvField).mkString(",")

  /** Undo the write-side backslash doubling on a read-back column (NULL
    * passes through untouched). */
  def csvUnescape(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    replace(c, lit("\\\\"), lit("\\"))

  /** Stage the documents table as 8 CSV shards with header rows (doc_id
    * % 8, see [[BinaryIngest.stageShards]]). */
  def stageCsvFixture(s: SparkSession, d: String): String = {
    import s.implicits._
    // kind carries its own e2 suffix: the escape scheme changed after the
    // first staging (backslash doubling + quoted empty), and the global
    // FixtureVersion must not rebuild every other fixture for a CSV-only
    // format change
    BinaryIngest.stageShards(s, d, "csv_e2_fixture",
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("source"), col("text"))
          .as[(Long, String, String, String)],
        shard => f"shard-$shard%02d.csv")(_._1) { (_, docs, out) =>
      val sb = new StringBuilder("doc_id,lang,source,text\r\n")
      docs.foreach { case (id, lang, source, text) =>
        sb.append(csvRow(Seq(id.toString, lang, source, text))).append("\r\n")
      }
      out.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  /** Oracle-checked CSV round trip: hand-rolled RFC 4180 shards read
    * back through the native csv source must reproduce the documents
    * table exactly — quote handling, the escaped null sentinel and
    * header skipping all on the line. */
  def qCsvIngest(s: SparkSession, d: String): DataFrame = {
    val fix = stageCsvFixture(s, d)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("source", StringType), StructField("text", StringType)))
    s.read.schema(schema)
      .option("header", "true")
      .option("multiLine", "true")
      .option("nullValue", NullSentinel)
      .option("quote", "\"")
      .option("escape", "\"")
      .option("pathGlobFilter", "*.csv")
      .csv(fix)
      .select(col("doc_id"), csvUnescape(col("lang")).as("lang"),
        csvUnescape(col("source")).as("source"), csvUnescape(col("text")).as("text"))
      .orderBy("doc_id")
  }
}
