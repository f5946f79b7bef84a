package graft

import graft.operators.Multimodal
import graft.sources.JsonContract

/** Specs for the batch-8 pair: the JSON data-contract validator and the
  * Laplacian blur screen. */
class ContractBlurSpec extends SparkSpec {

  // -------------------------------------------------- JSON contract

  test("parseFlat preserves presence, nullness and syntactic type") {
    val Some(m) = JsonContract.parseFlat(
      """{"doc_id": 7, "lang": null, "text": "a \"q\" \n tab\t", "ok": true, "neg": -1.5e3}""")
    assert(m("doc_id") === (('n', "7")))
    assert(m("lang") === (('z', "null")))
    assert(m("text") === (('s', "a \"q\" \n tab\t")))
    assert(m("ok") === (('b', "true")))
    assert(m("neg") === (('n', "-1.5e3")))
    assert(!m.contains("absent"))
    assert(JsonContract.parseFlat("""{}""") === Some(Map.empty))
  }

  test("parseFlat rejects malformed and nested input (flat contract)") {
    assert(JsonContract.parseFlat("not json").isEmpty)
    assert(JsonContract.parseFlat("""{"a": }""").isEmpty)
    assert(JsonContract.parseFlat("""{"a": 1""").isEmpty)
    assert(JsonContract.parseFlat("""{"a": {"nested": 1}}""").isEmpty)
    assert(JsonContract.parseFlat("""{"a": [1]}""").isEmpty)
    assert(JsonContract.parseFlat("""{"a": 1} trailing""").isEmpty)
    assert(JsonContract.parseFlat("""{"a": "unterminated}""").isEmpty)
    // review fixes: the empty object runs the same trailing check, the
    // number grammar is RFC 8259 (no '--1'/'1e'/'1.2.3'), and \u escapes
    // require four real hex digits (parseInt would take a sign prefix)
    assert(JsonContract.parseFlat("""{} trailing""").isEmpty)
    assert(JsonContract.parseFlat("""{"a": --1}""").isEmpty)
    assert(JsonContract.parseFlat("""{"a": 1e}""").isEmpty)
    assert(JsonContract.parseFlat("""{"a": 1.2.3}""").isEmpty)
    assert(JsonContract.parseFlat("""{"a": 01}""").isEmpty)
    val bsU = "\\" + "u" // dodge the Scala lexer's own unicode escapes
    assert(JsonContract.parseFlat("{\"a\": \"" + bsU + "-123\"}").isEmpty)
    assert(JsonContract.parseFlat("{\"a\": \"" + bsU + "ZZZZ\"}").isEmpty)
    // the valid shapes those rules must NOT reject
    assert(JsonContract.parseFlat("""{"a": -1.5e+3}""").isDefined)
    assert(JsonContract.parseFlat("""{"a": 0}""").isDefined)
    assert(JsonContract.parseFlat("{\"a\": \"" + bsU + "0041\"}").get("a") === (('s', "A")))
  }

  test("validate applies rules in the fixed audit order") {
    def v(line: String) = JsonContract.validate(JsonContract.parseFlat(line))
    val ok = """{"doc_id": 1, "lang": "en", "source": "s", "text": "t"}"""
    assert(v(ok) === (("ok", "")))
    assert(v("""{"doc_id": 1, "lang": "en", "source": "s", "text": null}""")
      === (("ok", "")), "text is nullable by contract")
    assert(v("""{"doc_id": 1, "source": "s", "text": "t"}""")
      === (("missing_required", "lang")))
    assert(v("""{"doc_id": "1", "lang": "en", "source": "s", "text": "t"}""")
      === (("wrong_type", "doc_id")))
    assert(v("""{"doc_id": 1, "lang": null, "source": "s", "text": "t"}""")
      === (("null_required", "lang")))
    assert(v("""{"doc_id": 1, "lang": "xx", "source": "s", "text": "t"}""")
      === (("enum_violation", "lang")))
    assert(v("""{"doc_id": 1, "lang": "en", "source": "s", "text": "t", "zz": 1}""")
      === (("unknown_field", "zz")))
    assert(v("junk") === (("parse_error", "")))
    // precedence: a missing key outranks a later enum violation
    assert(v("""{"doc_id": 1, "lang": "xx", "text": "t"}""")
      === (("missing_required", "source")))
  }

  test("buildLine round-trips through the parser to the planted verdict") {
    for (id <- 0L until 14L) {
      val (verdict, _) = JsonContract.validate(JsonContract.parseFlat(
        JsonContract.buildLine(id, "en", "src", "body")))
      val expect = (id % 7) match {
        case 1 => "missing_required"
        case 2 => "wrong_type"
        case 3 => "enum_violation"
        case 4 => "unknown_field"
        case 5 => "null_required"
        case _ => "ok"
      }
      assert(verdict === expect, s"doc $id")
    }
  }

  // -------------------------------------------------- blur screen

  test("lapEnergy: zero on exact ramps, quadratic curvature clears threshold") {
    // linear ramp: Laplacian identically zero at every interior pixel
    val (w, h) = (10, 8)
    def raster(px: (Int, Int) => Int) = new Multimodal.Gray(w, h) {
      def apply(x: Int, y: Int): Int = px(x, y)
    }
    val ramp = raster((x, y) => x + y + 5)
    assert(Multimodal.lapEnergy(ramp) === 0L)
    // quadratic without wraps: d = -(6 + 10) = -16 per interior pixel
    val quad = raster((x, y) => 3 * x * x + 5 * y * y + 7 * x * y)
    assert(Multimodal.lapEnergy(quad) === 256L * (w - 2) * (h - 2))
  }

  test("blur fixtures decode to the closed-form verdicts") {
    for (id <- Seq(0L, 1L, 4L, 7L, 199L)) {
      val (w, h) = Multimodal.imageDims(id)
      val bytes =
        if (id % 4 == 0) Multimodal.buildPngBlur(id)
        else Multimodal.buildPngTextured(id, 0)
      val Seq(px) = Multimodal.decodeImage(bytes)
      assert(px.w === w && px.h === h)
      val e = Multimodal.lapEnergy(px)
      val blurry = e < Multimodal.BlurThresholdPerPixel * (w - 2) * (h - 2)
      assert(blurry === (id % 4 == 0), s"doc $id energy $e")
      if (id % 4 == 0) assert(e === 0L, s"ramp image $id must be exactly flat")
    }
    assert(Multimodal.decodeImage("junk".getBytes).isEmpty)
  }
}
