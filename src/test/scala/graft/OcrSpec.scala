package graft

import graft.sources.{BinaryIngest, OcrEngine}
import org.apache.spark.sql.functions._

/** Template-matching OCR: the S2/F5 scanned-PDF path as REAL image-to-
  * text decoding (nearest-template classification over the 5x7 font). */
class OcrSpec extends SparkSpec {

  test("font margin: every template pair is >= 3 bits apart") {
    // the margin that makes 1-bit-noisy decode PROVABLY exact:
    // d(noisy, true) = 1 < d(true, other) - 1 >= 2 for every other glyph
    val t = OcrEngine.Templates
    for (i <- t.indices; j <- (i + 1) until t.length) {
      val d = java.lang.Long.bitCount(t(i)._2 ^ t(j)._2)
      assert(d >= 3, s"'${t(i)._1}' vs '${t(j)._1}' only $d bits apart")
    }
    // every ink glyph is far from blank (space + 1 noise bit stays space)
    for ((ch, sig) <- t if ch != ' ')
      assert(java.lang.Long.bitCount(sig) >= 10, s"'$ch' too light")
  }

  test("render -> decode round trip is exact, including the noise bit") {
    for (text <- Seq("HELLO WORLD 42", "a  mixed-Case, line\nwith breaks!",
        "", "   ", "x" * 300)) {
      val norm = OcrEngine.ocrNormalize(text)
      val (w, h, img) = OcrEngine.renderRaster(norm)
      assert(OcrEngine.decodeRaster(w, h, img) === norm, s"text=$text")
    }
    // normalization: case fold, charset filter, collapse, cap, rtrim
    assert(OcrEngine.ocrNormalize("a\tb\nc") === "A B C")
    assert(OcrEngine.ocrNormalize("Héllo, wörld!") === "HLLO WRLD")
    assert(OcrEngine.ocrNormalize(null) === "")
    assert(OcrEngine.ocrNormalize("x" * 300).length === OcrEngine.OcrTextCap)
  }

  test("scanned PDF has no text layer and OCR recovers the text") {
    val pdf = OcrEngine.buildPdfScanned("The Quick Brown Fox 123")
    // the REAL text-layer extractor finds nothing (image-only page)...
    assert(BinaryIngest.pdfExtract(pdf) === "")
    // ...and the OCR extractor template-matches the raster back
    assert(OcrEngine.ocrExtractPdf(pdf) === "THE QUICK BROWN FOX 123")
  }

  test("needs_ocr routing feeds scanned PDFs to the OCR engine end to end") {
    val dir = tempDir("graft_ocr_e2e")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "scan1.pdf"),
      OcrEngine.buildPdfScanned("Scanned page one"))
    // a REAL-text-layer PDF in the same batch must NOT route to OCR
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "scan2.pdf"),
      BinaryIngest.buildPdf("born digital"))
    val out = BinaryIngest.readWithOcrFallback(spark, dir,
        extractor = BinaryIngest.pdfTextExtractorFull,
        ocr = OcrEngine.ocrExtractor, glob = "*.pdf")
      .select("path", "needs_ocr", "text").collect()
      .map(r => (r.getString(0).split('/').last, r.getBoolean(1), r.getString(2)))
      .sortBy(_._1)
    assert(out(0) === (("scan1.pdf", true, "SCANNED PAGE ONE")))
    assert(out(1) === (("scan2.pdf", false, "born digital")))
  }

  test("malformed scans return empty text, never throw") {
    assert(OcrEngine.ocrExtractPdf(null) === "")
    assert(OcrEngine.ocrExtractPdf(Array.emptyByteArray) === "")
    assert(OcrEngine.ocrExtractPdf("no image here".getBytes) === "")
    // truncated mid-image-stream
    val pdf = OcrEngine.buildPdfScanned("SOME TEXT")
    assert(OcrEngine.ocrExtractPdf(pdf.take(pdf.length / 2)) === "")
    // corrupted deflate body: flip bytes inside the image stream
    val broken = pdf.clone()
    val at = new String(broken, java.nio.charset.StandardCharsets.ISO_8859_1)
      .lastIndexOf("stream\n") + 8
    for (i <- at until math.min(at + 20, broken.length)) broken(i) = 0x55
    assert(OcrEngine.ocrExtractPdf(broken) === "")
  }

  test("trained OCR: Font B preserves the margin, training recovers it exactly, " +
      "the fixed engine cannot read it") {
    import graft.sources.OcrTrained
    // XOR with a constant preserves pairwise distances -> margin stays 3
    val sigs = OcrTrained.FontB.map(_._2)
    val minPair = (for (i <- sigs.indices; j <- sigs.indices if i < j)
      yield java.lang.Long.bitCount(sigs(i) ^ sigs(j))).min
    assert(minPair >= 3)
    // majority-vote training recovers EVERY Font-B template bit-exactly
    val learned = OcrTrained.trainTemplates(OcrTrained.trainingSamples(spark))
    assert(learned.toMap === OcrTrained.FontB.toMap,
      "training must recover the exact font from noisy labeled samples")
    // a Font-B page decodes exactly through the learned templates...
    val norm = OcrEngine.ocrNormalize("the quick brown fox 42")
    val (w, h, img) = OcrEngine.renderRasterWith(OcrTrained.FontB.toMap)(norm)
    assert(OcrEngine.decodeRasterWith(learned)(w, h, img) === norm)
    // ...and the FIXED engine misreads it (negative control: without the
    // trained model the second font is unreadable, so the gate really
    // exercises training, not the shipped font)
    assert(OcrEngine.decodeRaster(w, h, img) !== norm)
  }
}
