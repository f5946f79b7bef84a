package graft.sources

import graft.engine.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ZIP-archive ingestion — the container format crawl dumps and bulk
  * uploads actually arrive in (the reference's upload path receives bare
  * files, data_ingestion.py:110; a production first mile receives
  * archives of them). Pure JDK: `java.util.zip.ZipInputStream` on the
  * decode side against an independently-written `ZipOutputStream` on the
  * staging side (both stdlib, but writer and reader share no graft
  * code — a slip in entry naming, encoding or per-entry boundaries
  * breaks the exact-text oracle, not both sides at once).
  *
  * Spark shape: archives land as whole files (`binaryFile` scan — a ZIP
  * central directory lives at the END of the file, so entry slicing
  * cannot stream from a byte offset without it); each archive unpacks in
  * `mapPartitions` into small (doc_id, text) rows, so archive BYTES
  * never shuffle — only extracted text does. At 100 TB: one task per
  * archive shard, embarrassingly parallel, no driver involvement.
  */
object ZipIngest {

  private val EntryTime = java.time.LocalDateTime.of(2000, 1, 1, 0, 0)

  /** Stage the documents table as 8 ZIP shards (doc_id % 8, see
    * [[BinaryIngest.stageShards]]), one deflated `docNNNNNNN.txt` entry
    * per document. Every entry carries the same fixed local time, so two
    * stagings of one sf dir are byte-identical. */
  def stageZipFixture(s: SparkSession, d: String): String = {
    import s.implicits._
    BinaryIngest.stageShards(s, d, "zip_fixture",
        Tables.documents(s, d).select(col("doc_id"), col("text")).as[(Long, String)],
        shard => f"shard-$shard%02d.zip")(_._1) { (_, docs, out) =>
      val zos = new java.util.zip.ZipOutputStream(out, java.nio.charset.StandardCharsets.UTF_8)
      docs.foreach { case (id, text) =>
        val e = new java.util.zip.ZipEntry(f"doc$id%07d.txt")
        e.setTimeLocal(EntryTime)
        zos.putNextEntry(e)
        zos.write((if (text == null) "" else text)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        zos.closeEntry()
      }
      zos.finish()
    }
  }

  /** Unpack one archive's bytes: (entry name, UTF-8 text) per entry.
    * Defensive: per-entry size cap (zip-bomb posture, same 16 MB cap as
    * the PDF inflater), malformed archives yield what was readable
    * before the corruption — degraded, never a crashed executor. */
  def unzipEntries(bytes: Array[Byte], maxEntryBytes: Int = 16 << 20): Seq[(String, String)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    try {
      val zis = new java.util.zip.ZipInputStream(
        new java.io.ByteArrayInputStream(bytes),
        java.nio.charset.StandardCharsets.UTF_8)
      try {
        var e = zis.getNextEntry
        while (e != null) {
          if (!e.isDirectory) {
            val bos = new java.io.ByteArrayOutputStream()
            val buf = new Array[Byte](8192)
            var n = zis.read(buf)
            var over = false
            while (n >= 0 && !over) {
              bos.write(buf, 0, n)
              if (bos.size > maxEntryBytes) over = true else n = zis.read(buf)
            }
            if (!over) out += ((e.getName,
              new String(bos.toByteArray, java.nio.charset.StandardCharsets.UTF_8)))
          }
          e = zis.getNextEntry
        }
      } finally zis.close()
    } catch { case _: Exception => () } // truncated/corrupt tail: keep prefix
    out.toSeq
  }

  /** Oracle-checked ZIP round trip: staged shards -> binaryFile scan ->
    * per-partition unzip -> must reproduce the documents table exactly
    * (ids from entry names, text byte-exact through the deflate cycle).
    * NULL text stages as "" — the archive entry for an absent payload is
    * an empty file, so the oracle coalesces the same way. */
  def qZipIngest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fix = stageZipFixture(s, d)
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.zip")
      .load(fix)
      .select(col("content"))
      .as[Array[Byte]]
      .mapPartitions { it =>
        it.flatMap { bytes =>
          unzipEntries(bytes).flatMap { case (name, text) =>
            """doc(\d+)\.txt""".r.findFirstMatchIn(name)
              .map(m => (m.group(1).toLong, text))
          }
        }
      }
      .toDF("doc_id", "text")
      .orderBy("doc_id")
  }
}
