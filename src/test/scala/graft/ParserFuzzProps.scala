package graft

import graft.operators.Multimodal
import graft.sources.{BinaryIngest, OcrEngine, TarIngest, WarcIngest, ZipIngest}
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.rng.Seed

/** Byte-level fuzz over every hand-rolled container walker: mutate VALID
  * fixture bytes (random flips, truncations, length-field overwrites,
  * zeroed windows, spliced windows) and assert each decoder returns
  * None/empty/garbage — never throws, never allocates from a poisoned
  * length field. The hand-written corruption specs pin known cases; this
  * harness sweeps the class wholesale (the pngTextChunks 0x7FFFFFF0
  * crash found in self-review is exactly the shape the length-field
  * mutation plants). Deterministically seeded — a failure reproduces.
  *
  * The Avro read path is Spark's own reader (only the WRITER is
  * hand-rolled here), so it has no hand-written walker to fuzz; all ten
  * in-repo walkers are covered below. */
object ParserFuzzProps extends Properties("parserfuzz") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withInitialSeed(Seed(20260815L)).withMinSuccessfulTests(400)

  /** Extreme 32-bit values a length-field overwrite plants: the
    * negative-after-cast, the near-Int.Max allocation bomb, zero, and a
    * plausibly-in-range lie. */
  private val ExtremeLens: Array[Long] =
    Array(0xFFFFFFFFL, 0x7FFFFFF0L, 0L, 0x00010000L)

  /** Apply one deterministic mutation, never in place. `a`,`b` in [0,1)
    * scale to offsets; `kind` selects the mutation; `sel` picks the
    * extreme constant. */
  private def mutate(valid: Array[Byte], kind: Int, a: Double, b: Double,
      sel: Int): Array[Byte] = {
    val n = valid.length
    val out = valid.clone()
    val offA = math.min((a * n).toInt, math.max(0, n - 1))
    val offB = math.min((b * n).toInt, math.max(0, n - 1))
    kind match {
      case 0 => // flip 1..8 bytes starting at offA
        var i = 0
        while (i < 1 + sel * 2 && offA + i < n) {
          out(offA + i) = (out(offA + i) ^ 0x5A).toByte; i += 1
        }
        out
      case 1 => // truncate at offA
        java.util.Arrays.copyOf(out, offA)
      case 2 => // overwrite a 4-byte window with an extreme length (BE)
        val v = ExtremeLens(sel % ExtremeLens.length)
        var i = 0
        while (i < 4 && offA + i < n) {
          out(offA + i) = ((v >>> (8 * (3 - i))) & 0xFF).toByte; i += 1
        }
        out
      case 3 => // zero a 16-byte window
        var i = 0
        while (i < 16 && offA + i < n) { out(offA + i) = 0; i += 1 }
        out
      case _ => // splice: copy a 16-byte window from offB over offA
        var i = 0
        while (i < 16 && offA + i < n && offB + i < n) {
          out(offA + i) = out(offB + i); i += 1
        }
        out
    }
  }

  private val mutationGen: Gen[(Int, Double, Double, Int)] = for {
    kind <- Gen.choose(0, 4)
    a <- Gen.choose(0.0, 0.999)
    b <- Gen.choose(0.0, 0.999)
    sel <- Gen.choose(0, 3)
  } yield (kind, a, b, sel)

  /** One property per container family: pick a fixture, mutate, decode
    * through every walker of that family; any throw fails the property
    * with the mutation parameters printed. */
  private def fuzz(name: String, fixtures: Seq[Array[Byte]])(
      decodeAll: Array[Byte] => Unit): Unit =
    property(name) = Prop.forAll(Gen.choose(0, fixtures.length - 1), mutationGen) {
      case (fi, (kind, a, b, sel)) =>
        decodeAll(mutate(fixtures(fi), kind, a, b, sel))
        true
    }

  private val sampleText =
    "The quick brown fox jumps over the lazy dog 42 times."

  fuzz("pdf: all five layouts decode or reject, never throw", Seq(
    BinaryIngest.buildPdf(sampleText),
    BinaryIngest.buildPdfCid(sampleText),
    BinaryIngest.buildPdfEncrypted(sampleText),
    BinaryIngest.buildPdfAes(sampleText),
    BinaryIngest.buildPdfObjStm(sampleText))) { bytes =>
    BinaryIngest.pdfExtract(bytes)
    OcrEngine.ocrExtractPdf(bytes)
  }

  fuzz("png: meta, gray raster, text chunks, dhash", Seq(
    Multimodal.buildPng(7L),
    Multimodal.buildPngTextured(7L, 0),
    Multimodal.buildPngBlur(8L))) { bytes =>
    Multimodal.decodePng(bytes)
    Multimodal.decodeImage(bytes).foreach(Multimodal.lapEnergy)
    Multimodal.pngTextChunks(bytes)
    Multimodal.dhashBands(bytes)
  }

  fuzz("jpeg: header walk", Seq(
    Multimodal.buildJpeg(6L), Multimodal.buildJpeg(7L))) { bytes =>
    Multimodal.jpegMeta(bytes)
  }

  fuzz("gif: lzw frame decode", Seq(
    Multimodal.buildGif(7L), Multimodal.buildGif(13L))) { bytes =>
    Multimodal.decodeGifFrames(bytes)
  }

  fuzz("wav: riff walk and sample decode", Seq(
    Multimodal.buildWav(7L),
    Multimodal.buildWavClip(7L),
    Multimodal.buildWavVad(7L))) { bytes =>
    Multimodal.decodeWav(bytes)
    Multimodal.decodeWavSamples(bytes)
  }

  fuzz("avi: riff chunk walk, dib and mjpeg frames", Seq(
    Multimodal.buildAvi(7L),
    Multimodal.buildAviMjpeg(7L))) { bytes =>
    Multimodal.decodeAviFrames(bytes)
    Multimodal.decodeAviGray(bytes)
  }

  private val zipFixture: Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos,
      java.nio.charset.StandardCharsets.UTF_8)
    Seq(("doc1.txt", sampleText), ("doc2.txt", "x" * 600), ("doc3.txt", ""))
      .foreach { case (name, text) =>
        zos.putNextEntry(new java.util.zip.ZipEntry(name))
        zos.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        zos.closeEntry()
      }
    zos.close()
    bos.toByteArray
  }

  fuzz("zip: entry walk honors the per-entry cap", Seq(zipFixture)) { bytes =>
    ZipIngest.unzipEntries(bytes, maxEntryBytes = 1 << 20)
  }

  fuzz("tar: ustar block walk", Seq(
    TarIngest.buildTar(Seq(
      ("doc1.txt", sampleText.getBytes("UTF-8")),
      ("doc2.txt", ("x" * 600).getBytes("UTF-8")),
      ("doc3.txt", Array.emptyByteArray))))) { bytes =>
    TarIngest.untarEntries(bytes, maxEntryBytes = 1 << 20)
  }

  fuzz("warc: record walk and http body split", Seq(
    WarcIngest.buildWarcFile(Seq(
      (1L, "<html><body><p>" + sampleText + "</p></body></html>"),
      (2L, "<html><body><p>two</p></body></html>"))))) { bytes =>
    WarcIngest.parseWarcResponses(bytes).foreach {
      case (_, payload) => WarcIngest.parseHttpBody(payload)
    }
  }
}
