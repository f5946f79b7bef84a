package graft

import graft.engine.Snapshot
import graft.operators.Mutations
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Engine conventions: atomic snapshot store and source/sink round trips
  * (the reference's dead JSON-file path, SURVEY §2.1 S8, generalized). */
class EngineSpec extends SparkSpec {

  test("snapshot store: publish, read, mutate, crash-safety of versions") {
    import spark.implicits._
    val root = tempDir("graft_snap")
    val store = new Snapshot(spark, root)
    assert(store.currentVersion().isEmpty)
    intercept[IllegalStateException] { store.read() }

    val v0 = store.publish(Seq((1L, "Active"), (2L, "Active")).toDF("id", "status"))
    assert(v0 === "v_0" && store.read().count() === 2)

    // mutation = pure transform + publish (expiry-sweep style)
    val v1 = store.mutate(df =>
      df.withColumn("status", when(col("id") === 1L, "Expired").otherwise(col("status"))))
    assert(v1 === "v_1")
    assert(store.read().filter(col("status") === "Expired").count() === 1)

    // the previous version is still intact on disk (time travel / crash safety)
    assert(spark.read.parquet(s"$root/v_0").filter(col("status") === "Expired").count() === 0)

    // composing with the mutation operators
    store.mutate(df => Mutations.deleteWhere(df, col("id") === 2L))
    assert(store.read().count() === 1)

    // crash recovery: a publish that died after claiming its version but
    // before the pointer swap leaves a claim marker (and possibly a
    // half-written directory); the exclusive claim create refuses the
    // retry until recoverOrphans prunes both. The claim is a SEPARATE
    // file precisely because Spark's overwrite write deletes and
    // re-creates the data directory itself mid-publish — claiming the
    // directory would reopen the two-writer race at that instant.
    val crashed = java.nio.file.Paths.get(root, "v_3")
    Files.createFile(java.nio.file.Paths.get(root, "v_3.claim"))
    Files.createDirectory(crashed)
    Files.writeString(crashed.resolve("half-written"), "junk")
    Files.createDirectory(java.nio.file.Paths.get(root, "v_tmp")) // non-version junk survives
    intercept[java.nio.file.FileAlreadyExistsException] {
      store.publish(Seq((9L, "Active")).toDF("id", "status"))
    }
    assert(store.recoverOrphans() === Seq("v_3"))
    assert(!Files.exists(java.nio.file.Paths.get(root, "v_3.claim")))
    assert(Files.exists(java.nio.file.Paths.get(root, "v_tmp")))
    val v3 = store.publish(Seq((9L, "Active")).toDF("id", "status"))
    assert(v3 === "v_3" && store.read().count() === 1)

    // retention: keep the newest 2 published versions, prune the rest;
    // CURRENT still reads, the kept rollback target still reads,
    // non-version junk survives. Claim markers are KEPT even for pruned
    // versions — publish()'s fail-fast depends on them, and vacuum (unlike
    // recoverOrphans) may run while a stale concurrent publisher exists:
    // deleting v_0.claim would let a racer holding the old CURRENT
    // re-create v_0 and swap the pointer backwards
    // (recoverOrphans above pruned the original claims; restore v_0's to
    // model a store that has published since its last startup sweep)
    Files.createFile(java.nio.file.Paths.get(root, "v_0.claim"))
    assert(store.vacuum(keep = 2) === Seq("v_0", "v_1"))
    assert(!Files.exists(java.nio.file.Paths.get(root, "v_0")))
    assert(Files.exists(java.nio.file.Paths.get(root, "v_0.claim")))
    assert(Files.exists(java.nio.file.Paths.get(root, "v_2")))
    assert(Files.exists(java.nio.file.Paths.get(root, "v_tmp")))
    assert(store.read().count() === 1)
    assert(spark.read.parquet(s"$root/v_2").count() === 1)
    // idempotent: nothing older remains
    assert(store.vacuum(keep = 2) === Seq.empty)
    // a stale publisher racing from pruned v_0's era still fails fast on
    // the kept claim instead of resurrecting a vacuumed version
    intercept[java.nio.file.FileAlreadyExistsException] {
      Files.createFile(java.nio.file.Paths.get(root, "v_0.claim"))
    }
    // single-writer startup prunes the stale claims vacuum left behind
    store.recoverOrphans()
    assert(!Files.exists(java.nio.file.Paths.get(root, "v_0.claim")))
  }

  test("time travel: versions(), readAsOf, immutable-history rollback, retention bound") {
    import spark.implicits._
    val root = tempDir("graft_tt")
    val store = new Snapshot(spark, root)
    assert(store.versions() === Seq.empty)
    store.publish(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))          // v_0
    store.mutate(_.filter(col("id") =!= 2L))                          // v_1
    store.publish(Seq((3L, "c")).toDF("id", "v"))                     // v_2
    assert(store.versions() === Seq("v_0", "v_1", "v_2"))
    // as-of reads are the version's content, untouched by later mutations
    assert(store.readAsOf("v_0").count() === 2)
    assert(store.readAsOf("v_1").collect().map(_.getLong(0)).toSeq === Seq(1L))
    // rollback RE-PUBLISHES: history stays linear, old versions unchanged
    val rb = store.rollback("v_0")
    assert(rb === "v_3" && store.currentVersion() === Some("v_3"))
    assert(store.read().count() === 2)
    assert(store.readAsOf("v_2").collect().map(_.getLong(0)).toSeq === Seq(3L))
    assert(store.versions() === Seq("v_0", "v_1", "v_2", "v_3"))
    // never-published / malformed versions fail loudly
    intercept[IllegalArgumentException] { store.readAsOf("v_9") }
    intercept[IllegalArgumentException] { store.readAsOf("junk") }
    // an orphan directory above CURRENT is not history
    Files.createDirectory(java.nio.file.Paths.get(root, "v_7"))
    assert(store.versions() === Seq("v_0", "v_1", "v_2", "v_3"))
    // retention bounds time travel: a vacuumed version refuses the read
    store.vacuum(keep = 2)
    assert(store.versions() === Seq("v_2", "v_3"))
    intercept[IllegalArgumentException] { store.readAsOf("v_0") }
    assert(store.readAsOf("v_3").count() === 2)
  }

  test("bucketed tables make the fact join shuffle-free (co-located join)") {
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    val lineitem = spark.read.parquet(s"$sf0001/lineitem.parquet")
    orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("orders_b")
    lineitem.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("lineitem_b")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val joined = spark.table("orders_b").join(spark.table("lineitem_b"),
        col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      // bucket co-location: the join needs NO exchange on either side
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() === lineitem.count())
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("partitioned writes enable partition pruning at the scan") {
    val dir = tempDir("graft_part") + "/docs"
    spark.read.parquet(s"$sf0001/documents.parquet")
      .write.partitionBy("lang").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("lang") === "en")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"), plan)
    // only the en partition directory is read
    val expected = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter(col("lang") === "en").count()
    assert(pruned.count() === expected)
  }

  test("JSON and CSV sinks/sources round-trip the documents table") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val expected = docs.orderBy("doc_id").collect().map(_.toSeq).toSeq

    val jsonDir = tempDir("graft_json") + "/docs"
    docs.write.json(jsonDir)
    val fromJson = spark.read.schema(docs.schema).json(jsonDir)
    assert(fromJson.orderBy("doc_id").collect().map(_.toSeq).toSeq === expected)

    val csvDir = tempDir("graft_csv") + "/docs"
    docs.write.option("header", "true").option("quoteAll", "true").csv(csvDir)
    val fromCsv = spark.read.schema(docs.schema).option("header", "true").csv(csvDir)
    assert(fromCsv.orderBy("doc_id").collect().map(_.toSeq).toSeq === expected)
  }

  test("ORC sink/source round-trips and pushes filters like parquet") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val expected = docs.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val dir = tempDir("graft_orc") + "/docs"
    docs.write.orc(dir)
    val fromOrc = spark.read.orc(dir)
    assert(fromOrc.orderBy("doc_id").collect().map(_.toSeq).toSeq === expected)
    // predicate pushdown reaches the ORC scan, same as the parquet posture
    val plan = fromOrc.filter(col("lang") === "en").select("doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"), plan)
  }

  test("raw text source ingests line-per-row corpora") {
    val dir = tempDir("graft_text")
    Files.writeString(java.nio.file.Paths.get(dir, "corpus.txt"),
      "first line\nsecond line\n\nfourth line\n")
    val lines = spark.read.text(dir)
    assert(lines.count() === 4) // blank lines are rows, not separators
    assert(lines.filter(length(col("value")) > 0).count() === 3)
  }

  test("schema evolution: mergeSchema reads old and new writer generations") {
    val dir = tempDir("graft_evolve")
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    // generation 1: no quality column; generation 2 adds it
    docs.select("doc_id", "text").filter(col("doc_id") % 2 === 0)
      .write.mode("append").parquet(dir)
    docs.select("doc_id", "text").filter(col("doc_id") % 2 === 1)
      .withColumn("quality", lit(0.5))
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq === Seq("doc_id", "quality", "text"))
    assert(merged.count() === docs.count())
    // rows from the old generation surface NULL for the added column
    assert(merged.filter(col("quality").isNull).count() ===
      docs.filter(col("doc_id") % 2 === 0).count())
  }

  test("OCR fallback routes empty-text-layer uploads through the ocr extractor") {
    import graft.sources.BinaryIngest
    val dir = tempDir("graft_ocr")
    Files.writeString(java.nio.file.Paths.get(dir, "doc_good.txt"), "real text layer here")
    Files.writeString(java.nio.file.Paths.get(dir, "doc_scanned.txt"), " \n\t\n") // no text layer
    val out = BinaryIngest.readWithOcrFallback(spark, dir)
      .select("path", "text", "needs_ocr").collect()
      .map(r => r.getString(0).split('/').last -> ((r.getString(1), r.getBoolean(2))))
      .toMap
    val good = out.keys.find(_.contains("good")).get
    val scanned = out.keys.find(_.contains("scanned")).get
    assert(out(good) === (("real text layer here", false)))
    assert(out(scanned)._2 === true)
    assert(out(scanned)._1.startsWith("[ocr] page ") && out(scanned)._1.endsWith(" end"))
    // the stub is deterministic: same bytes, same text
    val again = BinaryIngest.readWithOcrFallback(spark, dir)
      .filter(col("needs_ocr")).select("text").head().getString(0)
    assert(again === out(scanned)._1)
  }

  test("binaryFile source: pluggable extractor transforms the upload bytes") {
    import graft.sources.BinaryIngest
    val fix = BinaryIngest.stageFixture(spark, sf0001)
    val plain = BinaryIngest.readBinaryDocs(spark, fix)
    // 200 uploads staged, bytes decoded to the original text
    assert(plain.count() === 200)
    val one = plain.orderBy("path").select("text").head().getString(0)
    assert(one.trim.nonEmpty)
    // plug a different extractor: uppercase "OCR" stand-in
    val upperExtract = BinaryIngest.readBinaryDocs(spark, fix,
      c => upper(decode(c, "UTF-8")))
    val oneUpper = upperExtract.orderBy("path").select("text").head().getString(0)
    assert(oneUpper === one.toUpperCase)
  }

  test("golden PDF bytes run the extractor seam end-to-end (S1/S2 drop-in proof)") {
    import graft.sources.BinaryIngest
    import graft.operators.Ingest
    import spark.implicits._
    // hand-built, VALID single-page PDFs with uncompressed content
    // streams — real container bytes, not pre-extracted text: the same
    // upload shape the reference's fitz path receives (DI:110-134)
    def minimalPdf(texts: Seq[String]): Array[Byte] = {
      val stream = texts.map(t => s"BT /F1 12 Tf 72 712 Td ($t) Tj ET").mkString("\n")
      ("%PDF-1.4\n" +
        "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
        "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
        "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n" +
        s"4 0 obj << /Length ${stream.length} >> stream\n" +
        stream + "\nendstream endobj\n" +
        "trailer << /Root 1 0 R >>\n%%EOF\n").getBytes("ISO-8859-1")
    }
    val dir = new java.io.File(tempDir("graft_pdf_golden"))
    Files.write(new java.io.File(dir, "doc0.pdf").toPath,
      minimalPdf(Seq("the quick brown fox jumps over the lazy dog",
        "and keeps jumping for a second sentence of page text")))
    Files.write(new java.io.File(dir, "doc1.pdf").toPath,
      minimalPdf(Seq.empty)) // scanned-image page: no text layer at all
    val out = BinaryIngest.readWithOcrFallback(spark, dir.getAbsolutePath,
      BinaryIngest.pdfTextExtractor, glob = "*.pdf")
      .orderBy("path").collect()
    assert(out.length === 2)
    // text-layer page: the Tj runs come back joined, in stream order
    assert(out(0).getAs[String]("text") ===
      "the quick brown fox jumps over the lazy dog " +
        "and keeps jumping for a second sentence of page text")
    assert(!out(0).getAs[Boolean]("needs_ocr"))
    // no-text-layer page routes through the OCR slot
    assert(out(1).getAs[Boolean]("needs_ocr"))
    assert(out(1).getAs[String]("text").startsWith("[ocr] page "))
    // and the extracted rows run the ORDINARY ingest pipeline: the
    // golden PDF becomes a nested document with paginated snippets
    val bin = BinaryIngest.readWithOcrFallback(spark, dir.getAbsolutePath,
      BinaryIngest.pdfTextExtractor, glob = "*.pdf")
      .withColumn("doc_id", BinaryIngest.docIdOf("doc", "pdf"))
      .withColumn("lang", lit("und"))
      .withColumn("source", col("path"))
      .select("doc_id", "lang", "source", "text")
    val cats = Seq((0, "golden")).toDF("category_id", "category_name")
    val built = Ingest.buildDocuments(bin, cats)
      .orderBy("document_id").collect()
    assert(built.length === 2)
    val firstSnippet = built(0).getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("pages")
      .head.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("page_snippets")
      .head.getAs[String]("snippet_text")
    assert(firstSnippet.startsWith("the quick brown fox"))
  }

  test("full PDF extractor: FlateDecode streams, TJ arrays, escapes, image screening") {
    import graft.sources.BinaryIngest
    import spark.implicits._
    def deflate(s: String): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(s.getBytes("ISO-8859-1")); d.finish()
      val buf = new Array[Byte](8192)
      val bos = new java.io.ByteArrayOutputStream()
      while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
      d.end(); bos.toByteArray
    }
    def pdf(parts: Seq[(String, Boolean)]): Array[Byte] = {
      // parts: (content stream, compressed?) — a valid multi-stream PDF
      val bos = new java.io.ByteArrayOutputStream()
      bos.write("%PDF-1.4\n1 0 obj << /Type /Catalog >> endobj\n".getBytes("ISO-8859-1"))
      parts.zipWithIndex.foreach { case ((content, z), i) =>
        val data = if (z) deflate(content) else content.getBytes("ISO-8859-1")
        val filter = if (z) " /Filter /FlateDecode" else ""
        bos.write(s"${i + 4} 0 obj << /Length ${data.length}$filter >> stream\n"
          .getBytes("ISO-8859-1"))
        bos.write(data)
        bos.write("\nendstream endobj\n".getBytes("ISO-8859-1"))
      }
      bos.write("trailer << /Root 1 0 R >>\n%%EOF\n".getBytes("ISO-8859-1"))
      bos.toByteArray
    }
    // compressed + uncompressed streams in ONE document, in order
    val mixed = pdf(Seq(
      ("BT (compressed page one) Tj ET", true),
      ("BT (plain page two) Tj ET", false)))
    assert(BinaryIngest.pdfExtract(mixed) === "compressed page one plain page two")
    // TJ kerned arrays: fragments concatenate, kerning numbers vanish
    val kerned = pdf(Seq(
      ("BT [(ker) -120 (ned te) 40 (xt)] TJ ET", true)))
    assert(BinaryIngest.pdfExtract(kerned) === "kerned text")
    // escapes: \( \) \\ and octal
    val escaped = pdf(Seq(
      ("""BT (balanced \(parens\) and \\slash \101\102) Tj ET""", true)))
    assert(BinaryIngest.pdfExtract(escaped) === """balanced (parens) and \slash AB""")
    // image XObjects are screened out even when their inflated bytes
    // happen to contain a show-text-looking pattern
    val withImage = pdf(Seq(
      ("BT (real text) Tj ET", true),
      ("(fake) Tj inside an image", true))) // second dict gets /Image added below
    val withImageStr = new String(withImage, "ISO-8859-1")
      .replaceFirst("5 0 obj << /Length", "5 0 obj << /Subtype /Image /Length")
    assert(BinaryIngest.pdfExtract(withImageStr.getBytes("ISO-8859-1")) === "real text")
    // corrupt Flate data: stream skipped, document survives
    val corrupt = new String(pdf(Seq(
      ("BT (good) Tj ET", false), ("BT (bad) Tj ET", true))), "ISO-8859-1")
    val corrupted = corrupt.replace(
      new String(deflate("BT (bad) Tj ET").take(4), "ISO-8859-1"), "zzzz")
    assert(BinaryIngest.pdfExtract(corrupted.getBytes("ISO-8859-1")) === "good")
    // parity with the declarative uncompressed extractor on the SAME
    // golden bytes, through the Spark seam (readWithOcrFallback)
    def minimalPdf(texts: Seq[String]): Array[Byte] = pdf(
      if (texts.isEmpty) Seq(("BT ET", false))
      else texts.map(t => (s"BT /F1 12 Tf 72 712 Td ($t) Tj ET", false)))
    val dir = new java.io.File(tempDir("graft_pdf_full"))
    Files.write(new java.io.File(dir, "doc0.pdf").toPath,
      minimalPdf(Seq("the quick brown fox", "second run")))
    Files.write(new java.io.File(dir, "doc1.pdf").toPath,
      pdf(Seq(("BT (deep flate text layer) Tj ET", true))))
    val out = BinaryIngest.readWithOcrFallback(spark, dir.getAbsolutePath,
      BinaryIngest.pdfTextExtractorFull, glob = "*.pdf")
      .orderBy("path").collect()
    assert(out(0).getAs[String]("text") === "the quick brown fox second run")
    assert(out(1).getAs[String]("text") === "deep flate text layer")
    assert(out.forall(!_.getAs[Boolean]("needs_ocr")))
    // null bytes stay null through the UDF (the binaryFile source never
    // produces them, but the extractor slot must not NPE)
    assert(BinaryIngest.pdfExtract(null) === null)
  }

  test("PDF /Differences: glyph-name remap round trip; naive decode garbles") {
    import graft.sources.{BinaryIngest, GlyphList}
    // both resolution rules: AGL-subset names and the uniXXXX algorithm
    assert(GlyphList.toUnicode("eacute") === Some("é"))
    assert(GlyphList.toUnicode("quotedblleft") === Some("“"))
    assert(GlyphList.toUnicode("A") === Some("A"))
    assert(GlyphList.toUnicode("uni0041") === Some("A"))
    assert(GlyphList.toUnicode("uni00480049") === Some("HI")) // multi-unit
    assert(GlyphList.toUnicode("u1F600").isDefined) // 5-digit u-form (non-BMP)
    assert(GlyphList.toUnicode("gs42") === None)    // subset-font private name
    // array parse: integer resets the code, each name advances it;
    // unknown names DROP their code (mapped to ""), never Latin-1 garbage
    val diffs = BinaryIngest.parseDifferences(
      "<< /Differences [ 65 /alpha /beta 200 /eacute /gswhatever ] >>")
    assert(diffs === Map(65 -> "α", 66 -> "β", 200 -> "é", 201 -> ""))
    // full round trip through the extractor: codes skip their own
    // Latin-1 values, so ONLY the /Differences remap reproduces the text
    val text = "Hello… état Δ9 (ok)"
    val pdf = BinaryIngest.buildPdfDiffEnc(text)
    assert(BinaryIngest.pdfExtract(pdf) === text)
    // the staged content stream must NOT decode naively: strip the
    // /Differences array and the extraction must garble, proving the
    // fixture cannot accidentally pass
    val s = new String(pdf, "ISO-8859-1")
    val naive = s.replaceAll("/Differences \\[[^\\]]*\\]", "")
    assert(naive !== s, "strip must hit")
    assert(BinaryIngest.pdfExtract(naive.getBytes("ISO-8859-1")) !== text)
    // literal-string show ops remap too (a literal's chars are codes)
    val lit = BinaryIngest.parseDifferences("/Differences [ 88 /omega ]")
    assert(lit === Map(88 -> "ω"))
    // empty text stages and extracts empty, no crash
    assert(BinaryIngest.pdfExtract(BinaryIngest.buildPdfDiffEnc("")) === "")
    // round-11 review fixes, pinned:
    // (a) out-of-range integer tokens never crash the extractor UDF and
    //     never bind codes — names after them are skipped until a valid
    //     code token appears
    val bounded = BinaryIngest.parseDifferences(
      "/Differences [ 99999999999 /alpha 66 /beta ]")
    assert(bounded === Map(66 -> "β"))
    // (b) a dangling uniXXXX partial group is malformed -> DROP, never a
    //     silent truncation to the leading group
    assert(GlyphList.toUnicode("uni004112") === None)
    assert(GlyphList.toUnicode("uni0041") === Some("A"))
    // (c) xref-stream path scopes /Differences to LIVE objects: a freed
    //     object carrying a remap (dead bytes a raw scan would resurrect)
    //     must not garble the live text — the q_pdf_objstm invariant
    val objstm = BinaryIngest.buildPdfObjStm("PLAIN ascii Body 42")
    val withDead = new java.io.ByteArrayOutputStream()
    withDead.write(objstm)
    withDead.write(("\n999 0 obj << /Type /Encoding /Differences [ 65 /alpha ] >> endobj\n")
      .getBytes("ISO-8859-1"))
    assert(BinaryIngest.pdfExtract(withDead.toByteArray) === "PLAIN ascii Body 42",
      "stale-object /Differences leaked into live text")
  }

  test("PDF per-font /Differences scoping (round 12): Tf tracking, merged map garbles") {
    import graft.sources.{BinaryIngest, GlyphList}
    // ADVICE r11: ANY legal PDF name token advances the code counter —
    // a hyphenated or unresolvable name drops ITS code only, never
    // shifting later names one code low; #XX escapes decode first
    val adv = BinaryIngest.parseDifferences(
      "/Differences [ 65 /foo-bar /beta /u#6Ei0041 ]")
    assert(adv === Map(65 -> "", 66 -> "β", 67 -> "A"))
    assert(BinaryIngest.decodePdfName("u#6Ei0041") === "uni0041")
    assert(BinaryIngest.decodePdfName("plain") === "plain")
    assert(BinaryIngest.decodePdfName("bad#1") === "bad#1") // malformed passes through
    // unit scoping: the same codes mean different glyphs under each font;
    // the merged map (last-wins) garbles the first run, per-font doesn't
    val f1 = Map(1 -> "A", 2 -> "B")
    val f2 = Map(1 -> "C", 2 -> "D")
    val content = "BT /FA 12 Tf 72 712 Td <0102> Tj /FB 12 Tf <0102> Tj ET"
    assert(BinaryIngest.showTextRuns(content, Map.empty, f1 ++ f2,
      Map("FA" -> f1, "FB" -> f2)) === Seq("AB", "CD"))
    assert(BinaryIngest.showTextRuns(content, Map.empty, f1 ++ f2)
      === Seq("CD", "CD"), "merged map must decode both runs as FB")
    // a show op BEFORE any Tf falls back to the merged map
    assert(BinaryIngest.showTextRuns("<01> Tj /FA 1 Tf <01> Tj",
      Map.empty, f2, Map("FA" -> f1)) === Seq("C", "A"))
    // full round trip: two fonts remap the SAME code space — only the
    // per-font decode reproduces the text (FB's /Encoding is indirect)
    val text = "état Δ9 … WINS"
    val pdf = BinaryIngest.buildPdfDiffEnc2(text)
    assert(BinaryIngest.pdfExtract(pdf) === text)
    // the fixture provably needs scoping: both fonts bind overlapping
    // codes to DIFFERENT glyphs, so the merged map cannot decode both
    val raw = new String(pdf, "ISO-8859-1")
    val fd = BinaryIngest.parseFontDifferences(raw)
    assert(fd.keySet === Set("FA", "FB"))
    val overlap = fd("FA").keySet.intersect(fd("FB").keySet)
    assert(overlap.nonEmpty, "halves must share codes")
    assert(overlap.exists(c => fd("FA")(c) != fd("FB")(c)),
      "shared codes must mean different glyphs")
    // … and the document-merged map provably garbles (hash-fail proof):
    // decoding with ONLY the merged map differs from the source text
    val merged = BinaryIngest.parseDifferences(raw)
    assert(merged === fd("FA") ++ fd("FB"))
    assert(fd("FA").exists { case (c, g) => merged(c) != g },
      "merged map must shadow FA — the garble the gate pins")
    // single-char and empty texts stage and extract clean (one half empty)
    assert(BinaryIngest.pdfExtract(BinaryIngest.buildPdfDiffEnc2("X")) === "X")
    assert(BinaryIngest.pdfExtract(BinaryIngest.buildPdfDiffEnc2("")) === "")
  }

  test("PDF per-font ToUnicode scoping (round 12): conflicting CMaps decode correctly") {
    import graft.sources.BinaryIngest
    // unit scoping: the same CID means different characters under each
    // font's CMap; merged (last-wins) garbles the first run
    val cmA = Map(0x100 -> "A", 0x101 -> "B")
    val cmB = Map(0x100 -> "C", 0x101 -> "D")
    val content = "BT /FA 12 Tf <01000101> Tj /FB 12 Tf <01000101> Tj ET"
    assert(BinaryIngest.showTextRuns(content, cmA ++ cmB, Map.empty,
      Map.empty, Map("FA" -> cmA, "FB" -> cmB)) === Seq("AB", "CD"))
    assert(BinaryIngest.showTextRuns(content, cmA ++ cmB) === Seq("CD", "CD"))
    // a KNOWN simple font with its own Differences no longer
    // false-decodes its hex as 2-byte CIDs when a composite font's CMap
    // is also present in the document
    val diffs = Map(0x41 -> "x")
    assert(BinaryIngest.showTextRuns("BT /FS 1 Tf <41> Tj ET", cmA,
      diffs, Map("FS" -> diffs), Map.empty) === Seq("x"))
    // full round trip through the extractor: two composite fonts whose
    // CMaps remap the SAME CID range — per-font scoping is load-bearing
    val text = "état Δ9 … WINS"
    val pdf = BinaryIngest.buildPdfCid2(text)
    assert(BinaryIngest.pdfExtract(pdf) === text)
    // merged-CMap garble proof: both halves' CMaps bind overlapping CIDs
    // to different characters, so the document-merged map cannot decode
    // both (the q_pdf_cid2 gate's hash-fail design)
    val raw = new String(pdf, "ISO-8859-1")
    assert("""beginbfchar""".r.findAllMatchIn(raw).isEmpty,
      "fixture CMaps must be compressed — raw-scan shortcuts can't pass")
    assert(BinaryIngest.pdfExtract(BinaryIngest.buildPdfCid2("X")) === "X")
    assert(BinaryIngest.pdfExtract(BinaryIngest.buildPdfCid2("")) === "")
  }

  test("PDF per-page font scoping (round 12): same name, conflicting fonts across pages") {
    import graft.sources.{BinaryIngest, PdfXref}
    // two pages bind /F1 to DIFFERENT fonts whose Differences maps
    // conflict — only page-scoped resolution reproduces the text
    val text = "état Δ9 … WINS"
    val pdf = BinaryIngest.buildPdfTwoPageDiff(text)
    assert(BinaryIngest.pdfExtract(pdf) === text)
    // the fixture walks the xref-STREAM path (where page grouping lives)
    val raw = new String(pdf, "ISO-8859-1")
    val walked = PdfXref.contentStreamsWithFonts(pdf, raw)
    assert(walked.isDefined, "fixture must resolve through the xref walk")
    val (pages, _, _) = walked.get
    assert(pages.length === 2)
    // both pages name F1, with maps that bind overlapping codes to
    // DIFFERENT glyphs — a per-name document merge provably garbles
    val perPage = pages.map(_._2).map { named =>
      named.map { case (n, t, _) => n -> BinaryIngest.parseDifferences(t) }.toMap
    }
    assert(perPage.forall(_.keySet === Set("F1")))
    val (m1, m2) = (perPage(0)("F1"), perPage(1)("F1"))
    val overlap = m1.keySet.intersect(m2.keySet)
    assert(overlap.exists(c => m1(c) != m2(c)),
      "pages must disagree on a shared code — the garble the gate pins")
    // simulate the pre-round-12 per-name merge: decoding page 1's run
    // with the merged map must NOT reproduce page 1's half
    val a = text.substring(0, text.indexOf(' ', text.length / 2))
    val mergedDecode = BinaryIngest.showTextRuns(
      s"BT /F1 12 Tf <${a.map(c => f"${m1.find(_._2 == c.toString).get._1}%02X").mkString}> Tj ET",
      Map.empty, m1 ++ m2, Map("F1" -> (m1 ++ m2)))
    assert(mergedDecode !== Seq(a), "document-merged map must garble page 1")
    // degenerate shapes stage and extract clean
    assert(BinaryIngest.pdfExtract(BinaryIngest.buildPdfTwoPageDiff("X")) === "X")
    assert(BinaryIngest.pdfExtract(BinaryIngest.buildPdfTwoPageDiff("")) === "")
  }

  test("PDF nested page tree: recursion, §7.7.3.4 inheritance, indirect resources (round 13)") {
    import graft.sources.{BinaryIngest, PdfXref}
    // page A sits one /Pages level down with only INHERITED indirect
    // resources; page B resolves /Resources and then /Font through two
    // indirections; the fonts bind /F1 to conflicting maps
    val text = "état Δ9 … WINS"
    val pdf = BinaryIngest.buildPdfTreeInherit(text)
    assert(BinaryIngest.pdfExtract(pdf) === text)
    val raw = new String(pdf, "ISO-8859-1")
    val walked = PdfXref.contentStreamsWithFonts(pdf, raw)
    assert(walked.isDefined, "fixture must resolve through the xref walk")
    val (pages, _, _) = walked.get
    // the NESTED page is reached, in tree order (a single-level /Kids
    // read would return one page and lose half the text)
    assert(pages.length === 2)
    // both pages' named fonts resolved — page A's ONLY via inheritance,
    // page B's only via double indirection; any miss leaves no /F1
    val perPage = pages.map(_._2).map { named =>
      named.map { case (n, t, _) => n -> BinaryIngest.parseDifferences(t) }.toMap
    }
    assert(perPage.forall(_.keySet === Set("F1")),
      s"named fonts must resolve on both pages: ${perPage.map(_.keySet)}")
    val (m1, m2) = (perPage(0)("F1"), perPage(1)("F1"))
    val overlap = m1.keySet.intersect(m2.keySet)
    assert(overlap.exists(c => m1(c) != m2(c)),
      "fonts must disagree on a shared code — a resolution miss garbles")
    // degenerate shapes stage and extract clean
    assert(BinaryIngest.pdfExtract(BinaryIngest.buildPdfTreeInherit("X")) === "X")
    assert(BinaryIngest.pdfExtract(BinaryIngest.buildPdfTreeInherit("")) === "")
  }

  test("PDF encrypted xref-stream: the semantic walk decrypts in place (round 13)") {
    import graft.sources.{BinaryIngest, PdfXref}
    val text = "état Δ9 … WINS"
    val pdf = BinaryIngest.buildPdfEncXref(text)
    assert(BinaryIngest.pdfExtract(pdf) === text)
    // the combination stays ON the walk — no legacy fallback (the old
    // behavior returned None here and lost page scoping)
    val raw = new String(pdf, "ISO-8859-1")
    val walked = PdfXref.contentStreamsWithFonts(pdf, raw)
    assert(walked.isDefined, "encrypted xref file must resolve through the walk")
    val (pages, _, _) = walked.get
    assert(pages.length === 2)
    assert(pages.forall(_._2.map(_._1) == Seq("F1")),
      "per-page named fonts must survive decryption")
    // an UNDERIVABLE key (corrupted /U -> the passworded shape) falls
    // back to the legacy path, which extracts EMPTY — never garbage
    val uIdx = raw.indexOf("/U <")
    val broken = pdf.clone()
    broken(uIdx + 4) = (if (raw.charAt(uIdx + 4) == '0') 'F' else '0').toByte
    assert(PdfXref.contentStreamsWithFonts(
      broken, new String(broken, "ISO-8859-1")).isEmpty,
      "wrong password must route to the legacy fallback")
    assert(BinaryIngest.pdfExtract(broken) === "")
    // degenerate shapes stage and extract clean
    assert(BinaryIngest.pdfExtract(BinaryIngest.buildPdfEncXref("X")) === "X")
    assert(BinaryIngest.pdfExtract(BinaryIngest.buildPdfEncXref("")) === "")
  }

  test("PDF standard-security decryption: RC4 KAT, round trip, wrong password") {
    import graft.sources.{BinaryIngest, PdfCrypto}
    // public RC4 known-answer vector: key "Key", plaintext "Plaintext"
    val ct = PdfCrypto.rc4("Key".getBytes("US-ASCII"), "Plaintext".getBytes("US-ASCII"))
    assert(PdfCrypto.toHex(ct) === "BBF316E8D940AF0AD3")
    assert(new String(PdfCrypto.rc4("Key".getBytes("US-ASCII"), ct),
      "US-ASCII") === "Plaintext") // RC4 is its own inverse

    // full encrypted round trip through the extractor: derive file key
    // from /O,/P,/ID, verify /U, per-object decrypt, inflate, extract
    val text = """balanced \(parens\) inside a secret payload"""
    val pdf = BinaryIngest.buildPdfEncrypted(text)
    assert(BinaryIngest.pdfExtract(pdf) === text)
    // the on-disk bytes must actually be encrypted (no plaintext run)
    assert(!new String(pdf, "ISO-8859-1").contains("secret"))

    // a tampered /U (the wrong-password signature) must extract EMPTY —
    // refusing is correct; RC4-ing with an unverified key emits garbage
    val s = new String(pdf, "ISO-8859-1")
    val bad = s.replaceAll("/U <[0-9A-F]+>", "/U <" + ("00" * 32) + ">")
    assert(bad !== s, "tamper must hit")
    assert(BinaryIngest.pdfExtract(bad.getBytes("ISO-8859-1")) === "")

    // review finding: some producers write /P as the UNSIGNED 32-bit
    // decimal — must recover the same key bits, not throw
    val unsignedP = s.replace("/P -4", "/P 4294967292") // 2^32 - 4
    assert(BinaryIngest.pdfExtract(unsignedP.getBytes("ISO-8859-1")) === text)
    // truly malformed /P: extract-empty, never an executor crash
    val junkP = s.replace("/P -4", "/P 99999999999999999999")
    assert(BinaryIngest.pdfExtract(junkP.getBytes("ISO-8859-1")) === "")

    // AESV2 (V=4): same text through the salted-key AES-CBC path
    val aesPdf = BinaryIngest.buildPdfAes(text)
    assert(BinaryIngest.pdfExtract(aesPdf) === text)
    assert(!new String(aesPdf, "ISO-8859-1").contains("secret"))
    // a corrupted ciphertext byte fails CBC padding -> stream drops,
    // document extracts empty, never garbage or a crash
    val idx = new String(aesPdf, "ISO-8859-1").indexOf("stream\n") + 40
    val corrupt = aesPdf.clone(); corrupt(idx) = (corrupt(idx) ^ 0x55).toByte
    assert(BinaryIngest.pdfExtract(corrupt) === "")
  }

  test("RC4 decryption reads /P from the /Encrypt dictionary, not an earlier annotation's /P") {
    import graft.sources.BinaryIngest
    // an annotation's /P is its page reference; ahead of the encrypt
    // dictionary, a whole-file /P scan reads it as the permissions 3
    val text = "the permissions come from the encrypt dictionary"
    val s = new String(BinaryIngest.buildPdfEncrypted(text), "ISO-8859-1")
    val annotated = s.replaceFirst("\n", "\n6 0 obj << /Type /Annot /Subtype /Text " +
      "/P 3 0 R /Rect [0 0 10 10] >> endobj\n")
    assert(annotated.indexOf("/P 3 0 R") < annotated.indexOf("/P -4"))
    assert(BinaryIngest.pdfExtract(annotated.getBytes("ISO-8859-1")) === text)
  }

  test("AES-256 (V5/R6) round trip: 2.B hash, /UE unwrap, file-key streams") {
    import graft.sources.{BinaryIngest, PdfCrypto}
    // hash2B self-consistency: deterministic, 32 bytes, salt-sensitive
    val h1 = PdfCrypto.hash2B(Array.emptyByteArray, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8),
      Array.emptyByteArray)
    val h2 = PdfCrypto.hash2B(Array.emptyByteArray, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8),
      Array.emptyByteArray)
    val h3 = PdfCrypto.hash2B(Array.emptyByteArray, Array[Byte](8, 7, 6, 5, 4, 3, 2, 1),
      Array.emptyByteArray)
    assert(h1.length === 32)
    assert(java.util.Arrays.equals(h1, h2))
    assert(!java.util.Arrays.equals(h1, h3))

    val text = """aes256 \(secret\) payload with balanced parens"""
    val pdf = BinaryIngest.buildPdfAes256(text)
    assert(BinaryIngest.pdfExtract(pdf) === text)
    // on-disk bytes actually encrypted
    assert(!new String(pdf, "ISO-8859-1").contains("secret"))

    // a tampered /U validation hash must extract EMPTY (key refused)
    val s = new String(pdf, "ISO-8859-1")
    val uHex = """/U <([0-9A-F]+)>""".r.findFirstMatchIn(s).get.group(1)
    val badU = "00" * 32 + uHex.substring(64) // zero the hash, keep the salts
    val bad = s.replace("/U <" + uHex + ">", "/U <" + badU + ">")
    assert(bad !== s, "tamper must hit")
    assert(BinaryIngest.pdfExtract(bad.getBytes("ISO-8859-1")) === "")

    // a corrupted /UE cannot unwrap the right key -> CBC padding fails
    // on the stream -> extract-empty, never garbage
    val ueHex = """/UE <([0-9A-F]+)>""".r.findFirstMatchIn(s).get.group(1)
    val badUe = s.replace("/UE <" + ueHex + ">",
      "/UE <" + ("00" * (ueHex.length / 2)) + ">")
    assert(BinaryIngest.pdfExtract(badUe.getBytes("ISO-8859-1")) === "")
    // empty text round-trips
    assert(BinaryIngest.pdfExtract(BinaryIngest.buildPdfAes256("")) === "")
  }

  test("xref-stream + ObjStm layout: semantic walk, stale generation stays dead") {
    import graft.sources.{BinaryIngest, PdfXref}
    val text = """rewritten \(page\) current generation"""
    val pdf = BinaryIngest.buildPdfObjStm(text)
    // the STALE generation is physically present in the file...
    val streams = PdfXref.contentStreams(pdf)
    assert(streams.isDefined, "xref-stream layout must be recognized")
    // ...but the semantic walk extracts ONLY the live content
    assert(BinaryIngest.pdfExtract(pdf) === text)
    assert(streams.get.length === 1)
    assert(!streams.get.head.contains("STALE"))

    // empty and pathological texts round-trip
    assert(BinaryIngest.pdfExtract(BinaryIngest.buildPdfObjStm("")) === "")
    assert(BinaryIngest.pdfExtract(BinaryIngest.buildPdfObjStm("(x) \\y")) === "(x) \\y")

    // a corrupted xref stream (bad predictor rows) falls back to the
    // scanner rather than crashing — degraded, not dead
    val s = new String(pdf, "ISO-8859-1")
    val xrefAt = s.lastIndexOf("10 0 obj")
    val corrupt = pdf.clone()
    corrupt(xrefAt + 120) = (corrupt(xrefAt + 120) ^ 0x55).toByte
    val fallback = BinaryIngest.pdfExtract(corrupt)
    assert(fallback != null) // no crash; scanner output may include STALE

    // classic-layout files (no startxref) are not claimed by the walk
    assert(PdfXref.contentStreams(BinaryIngest.buildPdf("plain")).isEmpty)
    assert(PdfXref.contentStreams("junk".getBytes).isEmpty)
    assert(PdfXref.contentStreams(Array.emptyByteArray).isEmpty)
  }

  test("PDF CID/ToUnicode: hex strings, bfchar/bfrange forms, fallbacks") {
    import graft.sources.BinaryIngest
    // full composite-font round trip through the fixture builder —
    // TJ hex fragments + array-form bfrange + bfchar, all Flate-compressed
    val text = "conjunction junction, what's your function?"
    assert(BinaryIngest.pdfExtract(BinaryIngest.buildPdfCid(text)) === text)
    // single-char text takes the hex-Tj path
    assert(BinaryIngest.pdfExtract(BinaryIngest.buildPdfCid("x")) === "x")
    // empty text: no show ops, no CMap entries, no crash
    assert(BinaryIngest.pdfExtract(BinaryIngest.buildPdfCid("")) === "")
    // SCALAR bfrange form: <lo> <hi> <base> increments the last UTF-16
    // unit across the range (the builder emits only the array form)
    val scalarMap = BinaryIngest.parseToUnicode(
      """begincmap
        |1 beginbfrange
        |<0100> <0103> <0041>
        |endbfrange
        |1 beginbfchar
        |<01FF> <00660066>
        |endbfchar
        |endcmap""".stripMargin)
    assert(scalarMap === Map(0x100 -> "A", 0x101 -> "B", 0x102 -> "C",
      0x103 -> "D", 0x1FF -> "ff")) // multi-unit dst = ligature expansion
    // array entries must NOT also parse as a scalar range (three items
    // inside brackets look like <a> <b> <c>)
    val arrOnly = BinaryIngest.parseToUnicode(
      "begincmap 1 beginbfrange <0100> <0102> [<0058> <0059> <005A>] endbfrange endcmap")
    assert(arrOnly === Map(0x100 -> "X", 0x101 -> "Y", 0x102 -> "Z"))
    // no CMap in the file: hex strings fall back to 1-byte Latin-1
    val simpleHex = "BT <48656C6C6F> Tj ET"
    val pdfBytes = ("%PDF-1.4\n4 0 obj << /Length " + simpleHex.length +
      " >> stream\n" + simpleHex + "\nendstream endobj\ntrailer\n%%EOF\n")
      .getBytes("ISO-8859-1")
    assert(BinaryIngest.pdfExtract(pdfBytes) === "Hello")
    // unmapped codes drop silently (glyph with no Unicode), mapped ones keep
    val mixed = BinaryIngest.buildPdfCid("ab")
    val tampered = new String(mixed, "ISO-8859-1") // codes 0100,0101 mapped
    assert(BinaryIngest.pdfExtract(tampered.getBytes("ISO-8859-1")) === "ab")
    // adversarial range: <0> <7FFFFFFF> must not spin the parser
    val bomb = BinaryIngest.parseToUnicode(
      "begincmap 1 beginbfrange <00000000> <7FFFFFFF> <0041> endbfrange endcmap")
    assert(bomb === Map.empty[Int, String])
    // LONG documents: a 20k-char text is an ~80k-char hex TJ body — the
    // show-string regexes must not recurse per char (StackOverflowError
    // with the naive alternation-star form, found at sf0.01)
    val long = (1 to 4000).map(i => s"w$i(x)").mkString(" ")
    assert(BinaryIngest.pdfExtract(BinaryIngest.buildPdfCid(long)) === long)
    assert(BinaryIngest.pdfExtract(BinaryIngest.buildPdf(long)) === long)
  }
}
