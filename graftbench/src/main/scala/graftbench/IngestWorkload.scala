package graftbench

import graft.engine.Snapshot
import graft.operators.Ingest
import graft.sources.BinaryIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Paths

/** `ingest`: seeded synthetic PDFs, staged once, then per pass
  * readBinaryDocs -> Ingest.buildDocuments -> Ingest.flattenSnippets ->
  * Snapshot.publish into a fresh root. After each pass, point reads of the
  * just-published snapshot (one document's snippets). */
final class IngestWorkload(ctx: Ctx) extends Workload {
  import IngestModel._

  val itemsPerOp: Int = DocsPerPass
  val warmupOps: Int = 3
  val maxOps: Int = 10000
  private var docs: Array[PdfDoc] = Array.empty
  private var inDir = ""
  private var stagedBytes = 0L
  private val roots = scala.collection.mutable.ArrayBuffer[String]()
  private val readFailures = scala.collection.mutable.ArrayBuffer[String]()
  private lazy val expected: Seq[String] = snippetLines(docs)
  private lazy val perDoc: Map[Long, Int] =
    docs.map(d => d.id -> snippetLinesOf(d).size).toMap
  private var checkedRows: Seq[String] = Nil

  def generate(): Unit = docs = IngestModel.generate(ctx.seed)

  def stage(dir: String): String = {
    val d = new Digest
    stagedBytes = 0L
    docs.foreach { doc =>
      val b = doc.pdf
      d.add(b)
      stagedBytes += b.length
      Disk.writeAtomic(Paths.get(dir, "pdf", s"d${doc.id}.pdf"), b)
    }
    d.hex
  }

  def prepare(stagedDir: String): Unit = inDir = s"$stagedDir/pdf"

  private def sourceFrame: DataFrame =
    BinaryIngest.readBinaryDocs(ctx.spark, inDir, BinaryIngest.pdfTextExtractorFull, "*.pdf")
      .select(
        regexp_extract(col("path"), "d([0-9]+)\\.pdf$", 1).cast("long").as("doc_id"),
        lit("en").as("lang"),
        regexp_extract(col("path"), "([^/]+)$", 1).as("source"),
        col("text"))

  private def categories: DataFrame = {
    import ctx.spark.implicits._
    Categories.toSeq.toDF("category_id", "category_name")
  }

  private def flatFrame: DataFrame =
    Ingest.flattenSnippets(Ingest.buildDocuments(sourceFrame, categories))

  def runOp(i: Int): Lat = Clock.time {
    val t = ctx.tracer
    val root = s"${ctx.work}/out/pass_$i"
    roots += root
    if (t.on) {
      // cumulative prefixes to the noop sink: each layer's self time is
      // the difference between consecutive prefixes
      t.span("sources.BinaryIngest", i)(
        sourceFrame.write.format("noop").mode("overwrite").save())
      t.span("operators.Ingest", i)(
        flatFrame.write.format("noop").mode("overwrite").save())
    }
    t.span("engine.Snapshot.publish", i)(new Snapshot(ctx.spark, root).publish(flatFrame))
  }._2

  def runReads(i: Int): Seq[Lat] = {
    val root = roots.last
    val r = Gen.stream(ctx.seed, 0x1000L + i)
    (0 until ReadsPerPass).map { _ =>
      val id = docs(r.nextInt(docs.length)).id
      val (n, lat) = Clock.time(ctx.tracer.span("engine.Snapshot.read", i)(
        new Snapshot(ctx.spark, root).read().filter(col("document_id") === id).count()))
      if (n != perDoc(id)) readFailures += s"pass $i doc $id: read $n snippets, model ${perDoc(id)}"
      lat
    }
  }

  def storedRatio(): Double = {
    val bytes = roots.map(r => Disk.du(r)._1).sum
    bytes.toDouble / (userBytes(docs) * roots.size)
  }

  def check(): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]() ++ readFailures
    roots.foreach { r =>
      val n = new Snapshot(ctx.spark, r).read().count()
      if (n != expected.size) out += s"$r: $n snippet rows, model ${expected.size}"
    }
    roots.lastOption.foreach { r =>
      checkedRows = new Snapshot(ctx.spark, r).read().collect().toSeq.map(rowLine)
      out ++= compare(expected, checkedRows)
    }
    out.toSeq
  }

  def layers(ops: Seq[(Int, Long, Long)]): Map[String, Double] = {
    val t = ctx.tracer
    val opIds = ops.map(_._1).toSet
    def per(name: String): Map[Int, Double] =
      t.spans.filter(s => s.name == name && opIds(s.op))
        .map(s => s.op -> (s.endMs - s.startMs) / 1000.0).toMap
    val src = per("sources.BinaryIngest")
    val flat = per("operators.Ingest")
    val pub = per("engine.Snapshot.publish")
    val reads = t.spans.filter(s => s.name == "engine.Snapshot.read" && opIds(s.op))
      .map(s => (s.endMs - s.startMs) / 1000.0)
    val texts = sourceFrame.agg(
      count(lit(1)), sum(when(col("text").isNull || length(trim(col("text"))) === 0, 1)
        .otherwise(0))).head()
    val (wBytes, wFiles) = roots.lastOption.map(Disk.du).getOrElse((0L, 0L))
    val pages = checkedRows.map(_.split("\t", -1)).map(f => (f(0), f(5))).distinct.size
    Map(
      "sources.BinaryIngest.extract_s" -> Workload.med(src.values),
      "sources.BinaryIngest.files" -> docs.length.toDouble,
      "sources.BinaryIngest.bytes_in" -> stagedBytes.toDouble,
      "sources.BinaryIngest.null_text_ratio" -> texts.getLong(1).toDouble / texts.getLong(0),
      "operators.Ingest.build_flatten_s" ->
        Workload.med(flat.map { case (i, v) => v - src.getOrElse(i, 0.0) }),
      "operators.Ingest.pages_out" -> pages.toDouble,
      "operators.Ingest.snippets_out" -> checkedRows.size.toDouble,
      "engine.Snapshot.publish_s" ->
        Workload.med(pub.map { case (i, v) => v - flat.getOrElse(i, 0.0) }),
      "engine.Snapshot.bytes_written" -> wBytes.toDouble,
      "engine.Snapshot.files_written" -> wFiles.toDouble,
      "engine.Snapshot.read_back_s" -> Workload.med(reads))
  }

  def close(): Unit = ()
}

/** Plain-Scala model of the ingest path: pages of 40 tokens, snippet
  * windows 5 wide with stride 3, the denormalized flat snippet row. */
object IngestModel {
  val DocsPerPass = 240
  val ReadsPerPass = 5
  val Categories: Map[Int, String] =
    Map(0 -> "Collective Agreements", 1 -> "Benefits", 2 -> "Policies",
      3 -> "Forms", 4 -> "Minutes")

  /** Share of PDFs built by each builder (the rest use `buildPdf`). */
  val OtherBuilders: Seq[(String, String => Array[Byte])] = Seq(
    "cid" -> BinaryIngest.buildPdfCid,
    "objstm" -> BinaryIngest.buildPdfObjStm,
    "rc4" -> BinaryIngest.buildPdfEncrypted)
  val OtherShare = 0.25

  final case class PdfDoc(id: Long, text: String, builder: String) {
    def pdf: Array[Byte] =
      OtherBuilders.find(_._1 == builder).map(_._2(text))
        .getOrElse(BinaryIngest.buildPdf(text))
  }

  def generate(seed: Long): Array[PdfDoc] = {
    val vocab = Gen.vocabulary(seed, 4000)
    val r = Gen.stream(seed, 2)
    Array.tabulate(DocsPerPass) { i =>
      val n = 200 + r.nextInt(121)
      val text = Gen.words(r, vocab, n).mkString(" ")
      val builder =
        if (r.nextDouble() < OtherShare) OtherBuilders(r.nextInt(OtherBuilders.size))._1
        else "plain"
      PdfDoc(i + 1L, text, builder)
    }
  }

  def userBytes(docs: Seq[PdfDoc]): Long =
    docs.map(_.text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum

  def snippetLinesOf(d: PdfDoc): Seq[String] = {
    val words = d.text.trim.split("\\s+").toSeq
    val source = s"d${d.id}.pdf"
    val cat = (d.id % 5).toInt
    words.grouped(40).zipWithIndex.toSeq.flatMap { case (pw, p) =>
      val starts = 0 until pw.length by 3
      starts.zipWithIndex.map { case (s, k) =>
        Seq(d.id.toString, s"doc_${d.id}", cat.toString, Categories(cat), s"en,$source",
          (p + 1).toString, s"$source#page=${p + 1}", (k + 1).toString,
          pw.slice(s, s + 5).mkString(" "), "Active").mkString("\t")
      }
    }
  }

  def snippetLines(docs: Seq[PdfDoc]): Seq[String] = docs.flatMap(snippetLinesOf).sorted

  def rowLine(r: org.apache.spark.sql.Row): String = {
    def s(name: String): String = Option(r.getAs[Any](name)).map(_.toString).getOrElse("null")
    val tags = Option(r.getAs[scala.collection.Seq[String]]("document_tags"))
      .map(_.mkString(",")).getOrElse("null")
    Seq(s("document_id"), s("document_name"), s("category_id"), s("category_name"), tags,
      s("page_number"), s("page_link"), s("snippet_id"), s("snippet_text"),
      s("document_status")).mkString("\t")
  }

  /** Mismatches between the model's snippet rows and the engine's. */
  def compare(expected: Seq[String], got: Seq[String]): Seq[String] = {
    val g = got.sorted
    val e = expected.sorted
    if (g.size != e.size) Check.lines("snippet rows", e, g)
    else {
      val (de, dg) = (Digest.of(e), Digest.of(g))
      if (de == dg) Nil
      else {
        val firstBad = e.zip(g).find { case (a, b) => a != b }
        Seq(s"snippet digest: engine $dg, model $de; first difference " +
          firstBad.map { case (a, b) => s"model [$a] engine [$b]" }.getOrElse(""))
      }
    }
  }
}
