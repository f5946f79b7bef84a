package graft.sources

import graft.engine.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Avro ingestion — the row-oriented interchange format of the
  * Kafka/streaming world (schema-registry pipelines, CDC feeds, event
  * logs land as Avro object container files; the columnar side is
  * ORC/parquet, already covered by `q_orc_ingest`).
  *
  * Builder side is HAND-ROLLED from the Avro 1.12 spec (the
  * JSONL/tar/CSV discipline — builder and parser share no code): the
  * object container file layout (magic `Obj\x01`, metadata map carrying
  * `avro.schema` + `avro.codec=null`, a 16-byte sync marker, then
  * (count, byteLen, records…, sync) blocks) with binary-encoded records
  * — zigzag varint longs, length-prefixed UTF-8 strings, and
  * `["null","string"]` unions whose branch index is itself a zigzag
  * varint. NULL columns take union branch 0 with no payload, so true
  * SQL NULLs round-trip (Avro's unions carry nullability natively —
  * none of the CSV sentinel machinery is needed). The read side is
  * Spark's NATIVE avro source (bundled in Spark 4's sql core), which
  * validates magic, walks blocks by count, and re-parses the embedded
  * writer schema — a varint slip, a wrong union index or a bad block
  * length breaks the oracle's exact table equality.
  *
  * Scale: Avro is block-splittable by sync markers, so unlike multiLine
  * CSV/JSON the FILE is not the parallelism floor — HDFS-sized shards
  * split at block boundaries. The gate stages 8 shards (doc_id % 8, the
  * fixture co-partitioning invariant) with multiple blocks per shard so
  * the reader's block walk is actually exercised.
  */
object AvroIngest {

  /** Writer schema for the documents projection. Field order matters:
    * Avro binary encoding is positional. */
  val SchemaJson: String =
    """{"type":"record","name":"doc","fields":[""" +
      """{"name":"doc_id","type":"long"},""" +
      """{"name":"lang","type":["null","string"]},""" +
      """{"name":"source","type":["null","string"]},""" +
      """{"name":"text","type":["null","string"]}]}"""

  /** Zigzag-then-varint encoding of a long — the Avro int/long wire
    * format (spec §binary encoding). */
  def writeVarLong(out: java.io.ByteArrayOutputStream, value: Long): Unit = {
    var n = (value << 1) ^ (value >> 63) // zigzag
    while ((n & ~0x7FL) != 0L) {
      out.write(((n & 0x7F) | 0x80).toInt)
      n >>>= 7
    }
    out.write(n.toInt)
  }

  def writeString(out: java.io.ByteArrayOutputStream, s: String): Unit = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    writeVarLong(out, b.length.toLong)
    out.write(b, 0, b.length)
  }

  /** One nullable-string column: union index 0 = null (no payload),
    * 1 = string. */
  def writeOptString(out: java.io.ByteArrayOutputStream, s: String): Unit =
    if (s == null) writeVarLong(out, 0L)
    else { writeVarLong(out, 1L); writeString(out, s) }

  /** Deterministic 16-byte sync marker per shard (any value is legal;
    * determinism keeps staged bytes reproducible across builders). */
  def syncMarker(shard: Long): Array[Byte] =
    Array.tabulate(16)(i => ((shard * 31 + i * 7 + 0x5A) & 0xFF).toByte)

  /** Serialize one shard as an Avro object container file: header with
    * embedded schema, then records grouped into blocks of `blockRows`
    * so multi-block walks are exercised. */
  def buildShard(shard: Long, rows: Seq[(Long, String, String, String)],
      blockRows: Int = 100): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(64 * 1024)
    val sync = syncMarker(shard)
    // header: magic, metadata map (one map block of 2 entries, then 0)
    out.write(Array[Byte]('O', 'b', 'j', 1), 0, 4)
    writeVarLong(out, 2L)
    writeString(out, "avro.schema"); writeString(out, SchemaJson)
    writeString(out, "avro.codec"); writeString(out, "null")
    writeVarLong(out, 0L)
    out.write(sync, 0, 16)
    rows.grouped(blockRows).foreach { block =>
      val body = new java.io.ByteArrayOutputStream(32 * 1024)
      block.foreach { case (id, lang, source, text) =>
        writeVarLong(body, id)
        writeOptString(body, lang)
        writeOptString(body, source)
        writeOptString(body, text)
      }
      writeVarLong(out, block.length.toLong)
      writeVarLong(out, body.size.toLong)
      body.writeTo(out)
      out.write(sync, 0, 16)
    }
    out.toByteArray
  }

  /** Stage the documents table as 8 hand-rolled Avro shards (doc_id % 8,
    * see [[BinaryIngest.stageShards]]). */
  def stageAvroFixture(s: SparkSession, d: String): String = {
    import s.implicits._
    BinaryIngest.stageShards(s, d, "avro_fixture",
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("source"), col("text"))
          .as[(Long, String, String, String)],
        shard => f"shard-$shard%02d.avro")(_._1) {
      (shard, docs, out) => out.write(buildShard(shard, docs))
    }
  }

  /** Oracle-checked Avro round trip: hand-rolled object container files
    * read back through the native avro source must reproduce the
    * documents table exactly, true NULLs included. */
  def qAvroIngest(s: SparkSession, d: String): DataFrame = {
    val fix = stageAvroFixture(s, d)
    // FQCN: Spark 4 bundles the avro FileFormat classes in sql core, but
    // the "avro" short-name DataSourceRegister entry ships in the
    // separate spark-avro module jar — the class path works everywhere
    s.read.format("org.apache.spark.sql.avro.AvroFileFormat")
      .option("pathGlobFilter", "*.avro")
      .load(fix)
      .select("doc_id", "lang", "source", "text")
      .orderBy("doc_id")
  }
}
