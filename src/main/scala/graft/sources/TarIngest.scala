package graft.sources

import graft.engine.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** POSIX ustar (tar) archive ingestion — the OTHER container crawl
  * dumps arrive in (webdataset shards are tar files by convention; the
  * JDK ships no tar codec, so BOTH sides are hand-rolled here from the
  * POSIX.1-1988 layout): 512-byte header blocks — name[100],
  * mode/uid/gid, size[12] as zero-padded OCTAL, mtime, a SPACE-blanked
  * checksum field summed over the header, typeflag, "ustar" magic —
  * then ceil(size/512) data blocks, then two zero blocks of trailer.
  * Writer and reader share no code: a slip in octal encoding, block
  * padding or checksum math breaks the exact-text oracle, not both
  * sides at once.
  *
  * Spark shape: identical to [[ZipIngest]] — whole-file binaryFile scan,
  * per-partition unpack, archive bytes never shuffle. Gzip-compressed
  * (.tar.gz — the webdataset on-disk form). */
object TarIngest {

  private val Block = 512

  private def octal(v: Long, width: Int): Array[Byte] = {
    // zero-padded octal, NUL-terminated (the historical ustar form)
    val s = java.lang.Long.toOctalString(v)
    // entries needing more octal digits than the field holds (>= 8 GiB
    // sizes in the 12-byte field) require the GNU base-256 extension;
    // fail loudly instead of silently overflowing into the next field
    // and corrupting the header checksum
    require(s.length <= width - 1,
      s"ustar octal field overflow: value $v needs ${s.length} digits, field holds ${width - 1}")
    val padded = ("0" * (width - 1 - s.length)) + s
    padded.getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ Array[Byte](0)
  }

  /** One ustar header block for a regular file. */
  def tarHeader(name: String, size: Long): Array[Byte] = {
    val h = new Array[Byte](Block)
    def put(off: Int, bytes: Array[Byte]): Unit =
      System.arraycopy(bytes, 0, h, off, math.min(bytes.length, Block - off))
    put(0, name.getBytes(java.nio.charset.StandardCharsets.US_ASCII)) // name[100]
    put(100, octal(0x1a4, 8))  // mode 0644
    put(108, octal(0, 8))      // uid
    put(116, octal(0, 8))      // gid
    put(124, octal(size, 12))  // size, octal
    put(136, octal(0, 12))     // mtime (deterministic fixture: epoch)
    // checksum field treated as 8 spaces while summing
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    h(156) = '0' // typeflag: regular file
    put(257, Array[Byte](117, 115, 116, 97, 114, 0, 48, 48)) // "ustar", NUL, version "00"
    var sum = 0L
    var i = 0
    while (i < Block) { sum += h(i) & 0xFF; i += 1 }
    // checksum: 6 octal digits, NUL, space (the historical layout)
    val cs = java.lang.Long.toOctalString(sum)
    val csPad = ("0" * (6 - cs.length)) + cs
    put(148, csPad.getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ Array[Byte](0, ' '.toByte))
    h
  }

  /** Write (name, bytes) entries as one ustar stream + trailer. */
  def buildTar(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    entries.foreach { case (name, data) =>
      bos.write(tarHeader(name, data.length.toLong))
      bos.write(data)
      val pad = (Block - data.length % Block) % Block
      bos.write(new Array[Byte](pad))
    }
    bos.write(new Array[Byte](2 * Block)) // end-of-archive trailer
    bos.toByteArray
  }

  /** Independent reader: walk header blocks, verify the magic and the
    * space-blanked checksum, slice data by the octal size, skip to the
    * next block boundary. Stops at the zero trailer or ANY malformed
    * header (truncated/corrupt archives keep the readable prefix). */
  def untarEntries(bytes: Array[Byte], maxEntryBytes: Int = 16 << 20): Seq[(String, Array[Byte])] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    try {
      var pos = 0
      var done = false
      while (!done && pos + Block <= bytes.length) {
        if (bytes.slice(pos, pos + Block).forall(_ == 0)) done = true // trailer
        else {
          val magicOk = bytes.length >= pos + 262 &&
            new String(bytes, pos + 257, 5,
              java.nio.charset.StandardCharsets.US_ASCII) == "ustar"
          // verify the checksum with the field blanked to spaces
          var sum = 0L
          var i = 0
          while (i < Block) {
            sum += (if (i >= 148 && i < 156) ' '.toInt else bytes(pos + i) & 0xFF)
            i += 1
          }
          val stored = parseOctal(bytes, pos + 148, 8)
          val size = parseOctal(bytes, pos + 124, 12)
          if (!magicOk || stored != sum || size < 0 ||
              pos + Block + size > bytes.length) done = true
          else if (size > maxEntryBytes) {
            // oversized entry: the header is sound, so SKIP it and keep
            // walking (the zip path's per-entry cap semantics — aborting
            // here would silently drop every document behind one big
            // entry; review finding, round 7)
            pos += Block + (((size + Block - 1) / Block) * Block).toInt
          } else {
            val nameEnd = {
              var e = pos
              while (e < pos + 100 && bytes(e) != 0) e += 1
              e
            }
            val name = new String(bytes, pos, nameEnd - pos,
              java.nio.charset.StandardCharsets.US_ASCII)
            val tf = bytes(pos + 156)
            if (tf == '0' || tf == 0) // regular file
              out += ((name, java.util.Arrays.copyOfRange(
                bytes, pos + Block, pos + Block + size.toInt)))
            val dataBlocks = ((size + Block - 1) / Block).toInt
            pos += Block + dataBlocks * Block
          }
        }
      }
    } catch { case _: Exception => () }
    out.toSeq
  }

  private def parseOctal(b: Array[Byte], off: Int, len: Int): Long = {
    var v = 0L
    var i = off
    var seen = false
    while (i < off + len) {
      val c = b(i)
      if (c >= '0' && c <= '7') { v = v * 8 + (c - '0'); seen = true }
      else if (seen) return v // NUL/space terminator
      i += 1
    }
    if (seen) v else -1L
  }

  /** Stage the documents table as 8 gzipped tar shards (doc_id % 8, see
    * [[BinaryIngest.stageShards]]). */
  def stageTarFixture(s: SparkSession, d: String): String = {
    import s.implicits._
    BinaryIngest.stageShards(s, d, "tar_fixture",
        Tables.documents(s, d).select(col("doc_id"), col("text")).as[(Long, String)],
        shard => f"shard-$shard%02d.tar.gz")(_._1) { (_, docs, out) =>
      val entries = docs.map { case (id, text) =>
        (f"doc$id%07d.txt", (if (text == null) "" else text)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      val os = new java.util.zip.GZIPOutputStream(out)
      os.write(buildTar(entries))
      os.finish()
    }
  }

  /** Oracle-checked tar round trip: staged .tar.gz shards -> binaryFile
    * scan -> per-partition gunzip + ustar walk -> must reproduce the
    * documents table exactly (octal sizes, 512-block padding and header
    * checksums all on the path). */
  def qTarIngest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fix = stageTarFixture(s, d)
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.tar.gz")
      .load(fix)
      .select(col("content")).as[Array[Byte]]
      .mapPartitions { it =>
        it.flatMap { gz =>
          val bytes =
            try {
              val in = new java.util.zip.GZIPInputStream(
                new java.io.ByteArrayInputStream(gz))
              try in.readAllBytes() finally in.close()
            } catch { case _: Exception => Array.emptyByteArray }
          untarEntries(bytes).flatMap { case (name, data) =>
            """doc(\d+)\.txt""".r.findFirstMatchIn(name).map(m =>
              (m.group(1).toLong,
                new String(data, java.nio.charset.StandardCharsets.UTF_8)))
          }
        }
      }
      .toDF("doc_id", "text")
      .orderBy("doc_id")
  }
}
