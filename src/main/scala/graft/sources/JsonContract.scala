package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-contract validation — the schema gate in front of ingestion
  * (the Great-Expectations/JSON-Schema step): incoming JSONL rows are
  * checked against a declared contract — required fields present and
  * non-null, values of the declared type, enum domains respected,
  * unknown fields surfaced — and every row gets an auditable verdict
  * BEFORE anything joins the corpus. Spark's own json reader cannot do
  * this: `from_json`/`get_json_object` collapse "key absent", "key
  * null" and "wrong type" into the same null, which is exactly the
  * distinction a contract must make. Hence a HAND-ROLLED flat-object
  * RFC 8259 parser (the JsonlGz builder's reverse) that preserves
  * presence, nullness and the value's syntactic type.
  *
  * At 100 TB: one narrow per-line parse + rule walk; lines never
  * shuffle. The contract itself is a task-closure literal (a dim). */
object JsonContract {

  /** A parsed flat value: type tag ('s' string, 'n' number, 'b' bool,
    * 'z' null) + the raw text (unescaped for strings). */
  type JVal = (Char, String)

  /** Parse one flat JSON object. None on any syntax error. Nested
    * objects/arrays are syntax errors by design — the documents
    * contract is flat, and a nested value failing loudly is the
    * correct contract behavior. */
  /** RFC 8259 number grammar: -?(0|[1-9][0-9]*)(.[0-9]+)?([eE][+-]?[0-9]+)? */
  private val NumberRe = "-?(0|[1-9][0-9]*)(\\.[0-9]+)?([eE][+-]?[0-9]+)?".r
  private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  def parseFlat(line: String): Option[Map[String, JVal]] = {
    val n = line.length
    var i = 0
    def skipWs(): Unit = while (i < n && line.charAt(i).isWhitespace) i += 1
    def fail = None
    def parseString(): Option[String] =
      if (i >= n || line.charAt(i) != '"') None
      else {
        val sb = new java.lang.StringBuilder()
        i += 1
        while (i < n && line.charAt(i) != '"') {
          val c = line.charAt(i)
          if (c == '\\' && i + 1 < n) {
            line.charAt(i + 1) match {
              case '"'  => sb.append('"'); i += 2
              case '\\' => sb.append('\\'); i += 2
              case '/'  => sb.append('/'); i += 2
              case 'n'  => sb.append('\n'); i += 2
              case 't'  => sb.append('\t'); i += 2
              case 'r'  => sb.append('\r'); i += 2
              case 'b'  => sb.append('\b'); i += 2
              case 'f'  => sb.append('\f'); i += 2
              case 'u' if i + 5 < n &&
                  (2 to 5).forall(o => isHex(line.charAt(i + o))) =>
                // explicit hex check: Integer.parseInt(_, 16) accepts
                // '+'/'-' prefixes, which would map invalid escapes to
                // garbage chars instead of a parse error (review fix)
                sb.append(Integer.parseInt(line.substring(i + 2, i + 6), 16).toChar)
                i += 6
              case _ => return None
            }
          } else { sb.append(c); i += 1 }
        }
        if (i >= n) None else { i += 1; Some(sb.toString) }
      }
    skipWs()
    if (i >= n || line.charAt(i) != '{') return fail
    i += 1
    val out = Map.newBuilder[String, JVal]
    skipWs()
    // '{}' falls through to the SAME trailing-garbage check as the
    // non-empty path ('{} junk' must be a parse error — review fix)
    var more = !(i < n && line.charAt(i) == '}') // empty object: the
    // shared tail below consumes the '}' and runs the trailing check
    while (more) {
      skipWs()
      val key = parseString().getOrElse(return fail)
      skipWs()
      if (i >= n || line.charAt(i) != ':') return fail
      i += 1
      skipWs()
      if (i >= n) return fail
      val v: JVal = line.charAt(i) match {
        case '"' => ('s', parseString().getOrElse(return fail))
        case 't' if line.startsWith("true", i)  => i += 4; ('b', "true")
        case 'f' if line.startsWith("false", i) => i += 5; ('b', "false")
        case 'n' if line.startsWith("null", i)  => i += 4; ('z', "null")
        case c if c == '-' || c.isDigit =>
          val start = i
          if (c == '-') i += 1
          while (i < n && (line.charAt(i).isDigit || "+-.eE".indexOf(line.charAt(i)) >= 0)) i += 1
          val raw = line.substring(start, i)
          // full-grammar check: the greedy scan accepts '--1'/'1e'/'1.2.3'
          // shapes that RFC 8259 does not (review fix)
          if (!NumberRe.pattern.matcher(raw).matches()) return fail
          ('n', raw)
        case _ => return fail // nested object/array or junk: contract is flat
      }
      out += ((key, v))
      skipWs()
      if (i < n && line.charAt(i) == ',') i += 1
      else more = false
    }
    skipWs()
    if (i >= n || line.charAt(i) != '}') fail
    else { i += 1; skipWs(); if (i == n) Some(out.result()) else fail }
  }

  /** The documents contract. */
  val Required: Seq[(String, Char)] =
    Seq(("doc_id", 'n'), ("lang", 's'), ("source", 's'), ("text", 's'))
  val LangEnum: Set[String] = Set("en", "es", "de", "fr", "zh")
  val Nullable: Set[String] = Set("text")

  /** One row's verdict: the FIRST failing rule in a fixed audit order
    * (parse, required-present, null, type, enum, unknown field), or ok. */
  def validate(fields: Option[Map[String, JVal]]): (String, String) =
    fields match {
      case None => ("parse_error", "")
      case Some(m) =>
        Required.collectFirst {
          case (k, _) if !m.contains(k) => ("missing_required", k)
        }.orElse(Required.collectFirst {
          case (k, _) if m(k)._1 == 'z' && !Nullable.contains(k) => ("null_required", k)
        }).orElse(Required.collectFirst {
          case (k, t) if m(k)._1 != 'z' && m(k)._1 != t => ("wrong_type", k)
        }).orElse {
          m.get("lang").collect {
            case ('s', v) if !LangEnum.contains(v) => ("enum_violation", "lang")
          }
        }.orElse {
          val known = Required.map(_._1).toSet
          m.keys.toSeq.sorted.collectFirst {
            case k if !known.contains(k) => ("unknown_field", k)
          }
        }.getOrElse(("ok", ""))
    }

  /** Stage JSONL shards with PLANTED contract violations by doc_id % 7:
    * 1 -> lang key missing; 2 -> doc_id as a string; 3 -> lang outside
    * the enum; 4 -> an extra unknown field; 5 -> lang explicit null;
    * 0/6 -> clean. Uses the JsonlGz escape (RFC 8259). */
  def buildLine(docId: Long, lang: String, source: String, text: String): String = {
    val q = (s: String) => "\"" + JsonlGz.jsonEscape(s) + "\""
    val langV = docId % 7 match {
      case 3 => Some(q("xx"))
      case 5 => Some("null")
      case _ => Some(q(lang))
    }
    val idV = if (docId % 7 == 2) q(docId.toString) else docId.toString
    val parts = Seq.newBuilder[String]
    parts += s""""doc_id": $idV"""
    if (docId % 7 != 1) parts += s""""lang": ${langV.get}"""
    parts += s""""source": ${q(source)}"""
    parts += s""""text": ${if (text == null) "null" else q(text)}"""
    if (docId % 7 == 4) parts += """"extra": 1"""
    parts.result().mkString("{", ", ", "}")
  }

  def stageContractFixture(s: SparkSession, d: String): String = {
    import s.implicits._
    BinaryIngest.stageShards(s, d, "contract_fixture",
        BinaryIngest.fixtureDocs(s, d)
          .select(col("doc_id"), col("lang"), col("source"), col("text"))
          .as[(Long, String, String, String)],
        shard => f"shard-$shard%02d.jsonl")(_._1) { (_, docs, out) =>
      val body = docs.map { case (id, lang, source, text) =>
        buildLine(id, lang, source, text)
      }.mkString("", "\n", "\n")
      out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  /** Oracle-checked contract validation: staged shards plant one
    * violation family per doc_id residue; the engine parses every line
    * with the presence/null/type-preserving parser and emits the first
    * failing rule — the oracle states every verdict in closed form. */
  def qJsonValidate(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val fix = stageContractFixture(s, d)
    spark.read.option("pathGlobFilter", "*.jsonl").textFile(fix)
      .mapPartitions(_.map { line =>
        val m = parseFlat(line)
        val (verdict, detail) = validate(m)
        val id = m.flatMap(_.get("doc_id")).map(_._2)
          .flatMap(v => scala.util.Try(v.replace("\"", "").toLong).toOption)
          .getOrElse(-1L)
        (id, verdict, detail)
      })
      .toDF("doc_id", "verdict", "detail")
      .orderBy("doc_id")
  }
}
