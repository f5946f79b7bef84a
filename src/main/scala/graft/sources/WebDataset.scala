package graft.sources

import graft.operators.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WebDataset-style multimodal export/ingest — the de-facto delivery
  * format for multimodal training corpora (LAION, DataComp, img2dataset
  * output): tar shards whose entries pair every sample's modalities under
  * one key (`<key>.txt` next to `<key>.png`), streamed sequentially by
  * data loaders. This is the END of the training-data pipeline: after
  * dedup/curation the corpus ships as exactly these shards.
  *
  * Spark shape: the shard is the parallelism unit on BOTH sides (like the
  * gzip-JSONL shards) — writing repartitions by shard id and builds each
  * tar in one task (sample bytes never pass the driver); reading is a
  * whole-file `binaryFile` scan + per-partition untar + key-pairing.
  * The tar layout is the hand-rolled POSIX ustar writer/walker of
  * [[TarIngest]] (GNU tar reads the shards verbatim), images the real
  * PNG codec of [[Multimodal]].
  */
object WebDataset {

  /** Stage doc_id < 200 as WebDataset tar shards: per document a
    * `<id>.txt` entry (UTF-8 text) and a `<id>.png` entry (the
    * deterministic PNG of [[Multimodal.buildPng]]), adjacent under the
    * same key, sharded by doc_id % 8 ([[BinaryIngest.stageShards]]). */
  def stageWdsFixture(s: SparkSession, d: String): String = {
    import s.implicits._
    BinaryIngest.stageShards(s, d, "wds_fixture",
        BinaryIngest.fixtureDocs(s, d).select(col("doc_id"), col("text")).as[(Long, String)],
        shard => f"shard-$shard%05d.tar")(_._1) { (_, docs, out) =>
      out.write(TarIngest.buildTar(docs.flatMap { case (id, text) =>
        Seq(
          f"$id%09d.txt" -> Option(text).getOrElse("")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8),
          f"$id%09d.png" -> Multimodal.buildPng(id))
      }))
    }
  }

  /** Oracle-checked WebDataset round trip: staged tar shards -> per-
    * partition ustar walk -> entries PAIRED BY KEY (stem before the
    * extension — the format's sample-grouping contract) -> text decoded,
    * image decoded through the real PNG codec. Output per sample: text +
    * measured geometry + weighted pixel sum, all stated closed-form by
    * the oracle — a pairing slip, a shard boundary fault, a tar layout
    * defect or a decode error hash-mismatches. */
  def qWdsIngest(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val fix = stageWdsFixture(s, d)
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.tar")
      .load(fix)
      .select(col("content"))
      .as[Array[Byte]]
      .mapPartitions { it =>
        it.flatMap { tar =>
          TarIngest.untarEntries(tar)
            .groupBy(_._1.takeWhile(_ != '.'))
            .toSeq
            .map { case (key, entries) =>
              val byExt = entries.map { case (n, b) =>
                n.dropWhile(_ != '.') -> b
              }.toMap
              val text = byExt.get(".txt")
                .map(new String(_, java.nio.charset.StandardCharsets.UTF_8))
                .getOrElse("")
              val (w, h, sum) = byExt.get(".png")
                .flatMap(Multimodal.decodePng)
                .getOrElse((-1, -1, -1L))
              (key.toLong, text, w, h, sum)
            }
        }
      }
      .toDF("doc_id", "text", "width", "height", "pixel_sum")
      .orderBy("doc_id")
  }
}
