package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sitemap ingestion (sitemaps.org XML protocol) — the crawl-discovery
  * channel next to robots.txt: a two-level walk from a `sitemapindex`
  * to gzipped per-shard `urlset` files, emitting (loc, lastmod,
  * priority) per URL. The index is parsed at the DRIVER (a sitemap
  * index is bounded at 50k entries by protocol — it is frontier
  * metadata, not corpus data); the shard fetch + parse fans out as a
  * binaryFile scan with per-partition gunzip, so shard bytes never
  * shuffle. Entity-encoded `<loc>` values (`&amp;` in query strings —
  * the XML spec requires the escaping) decode on extraction. */
object SitemapIngest {

  def siteUrl(id: Long): String =
    s"https://example.com/docs/$id" + (if (id % 2 == 1) "?a=1&b=2" else "")

  def lastmodOf(id: Long): String =
    f"2026-${id % 12 + 1}%02d-${id % 28 + 1}%02d"

  def priorityOf(id: Long): String =
    if (id % 11 == 10) "1.0" else s"0.${id % 11}"

  private def xmlEscape(s: String): String = s.replace("&", "&amp;")

  /** Stage a sitemapindex + 8 gzipped urlset shards for the doc_id < 200
    * slice (doc_id % 8, see [[BinaryIngest.stageShards]]). */
  def stageSitemapFixture(s: SparkSession, d: String): String = {
    import s.implicits._
    BinaryIngest.stageShards(s, d, "sitemap_fixture",
        BinaryIngest.fixtureDocs(s, d).select(col("doc_id")).as[Long],
        shard => f"sitemap-$shard%02d.xml.gz", writeIndex)(identity) { (_, ids, out) =>
      val sb = new StringBuilder
      sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
      sb.append("<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n")
      ids.foreach { id =>
        sb.append("  <url>\n")
        sb.append(s"    <loc>${xmlEscape(siteUrl(id))}</loc>\n")
        sb.append(s"    <lastmod>${lastmodOf(id)}</lastmod>\n")
        sb.append(s"    <priority>${priorityOf(id)}</priority>\n")
        sb.append("  </url>\n")
      }
      sb.append("</urlset>\n")
      val os = new java.util.zip.GZIPOutputStream(out)
      os.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      os.finish()
    }
  }

  /** The index names the shards ACTUALLY written in `dir` (residues can
    * share a partition and a file carries every residue of its partition
    * — the writer owns the truth about shard names, exactly like a real
    * sitemap generator). */
  private def writeIndex(dir: String): Unit = {
    val shardNames = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.endsWith(".xml.gz")).sorted
    val idx = new StringBuilder
    idx.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
    idx.append("<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n")
    shardNames.foreach { name =>
      idx.append(s"  <sitemap><loc>https://example.com/$name</loc></sitemap>\n")
    }
    idx.append("</sitemapindex>\n")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "sitemapindex.xml"),
      idx.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Extract `<tag>value</tag>` occurrences — the sitemap vocabulary is
    * flat, so a scanning extractor is the whole parser; entity decode
    * via the HTML decoder (XML's five predefined entities are a
    * subset). */
  def tagValues(xml: String, tag: String): Seq[String] = {
    val open = s"<$tag>"
    val close = s"</$tag>"
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = xml.indexOf(open)
    while (i >= 0) {
      val end = xml.indexOf(close, i + open.length)
      if (end < 0) return out.toSeq // truncated: keep the readable prefix
      out += HtmlIngest.decodeEntities(xml.substring(i + open.length, end).trim)
      i = xml.indexOf(open, end + close.length)
    }
    out.toSeq
  }

  /** One urlset's entries: (loc, lastmod, priority) per `<url>` block. */
  def parseUrlset(xml: String): Seq[(String, String, String)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    var i = xml.indexOf("<url>")
    while (i >= 0) {
      val end = xml.indexOf("</url>", i)
      if (end < 0) return out.toSeq
      val block = xml.substring(i, end)
      (tagValues(block, "loc").headOption,
        tagValues(block, "lastmod").headOption,
        tagValues(block, "priority").headOption) match {
        case (Some(loc), Some(lm), Some(p)) => out += ((loc, lm, p))
        case _ => () // incomplete entry: skipped, not fatal
      }
      i = xml.indexOf("<url>", end + 6)
    }
    out.toSeq
  }

  private def gunzip(bytes: Array[Byte]): String =
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    } catch { case _: Exception => "" }

  /** Oracle-checked two-level sitemap walk: parse the index at the
    * driver (bounded frontier metadata), fan the named shards out as a
    * binaryFile scan, gunzip + parse per partition, emit one (doc_id,
    * url, lastmod, priority) row per URL. The oracle states every
    * field in closed form from the generators — a shard dropped by the
    * index walk, an entity left encoded, or a priority/date mis-parse
    * all hash-mismatch. */
  def qSitemap(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fix = stageSitemapFixture(s, d)
    val idxXml = new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(fix, "sitemapindex.xml")),
      java.nio.charset.StandardCharsets.UTF_8)
    // index locs are public URLs; the fetch layer maps basename -> file
    val shardPaths = tagValues(idxXml, "loc")
      .filter(_.endsWith(".xml.gz"))
      .map(u => s"$fix/${u.substring(u.lastIndexOf('/') + 1)}")
    s.read.format("binaryFile").load(shardPaths: _*)
      .select(col("content")).as[Array[Byte]]
      .mapPartitions { it =>
        it.flatMap { bytes =>
          parseUrlset(gunzip(bytes)).flatMap { case (loc, lm, p) =>
            """/docs/(\d+)""".r.findFirstMatchIn(loc).map { m =>
              (m.group(1).toLong, loc, java.sql.Date.valueOf(lm), p.toDouble)
            }
          }
        }
      }
      .toDF("doc_id", "url", "lastmod", "priority")
      .orderBy("doc_id")
  }
}
