package graft.operators

import graft.engine.Tables
import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text normalization + heuristic document filtering for a training-data
  * pipeline (extensions beyond the reference surface; the reference's only
  * text processing is the snippet window, data_ingestion.py:171-186).
  *
  * Both operators are NARROW — per-row regexp/arithmetic column
  * expressions, no UDF, no shuffle except the deterministic output sort —
  * so they scale linearly with input splits: the canonical "runs at any
  * corpus size" shape. The regexes are RE2-safe (no lookaround, no
  * backreferences) so they port to any engine and never backtrack
  * super-linearly on adversarial documents.
  */
object TextNormalize {
  import Tables._

  /** Canonical text form for loose matching and key-building: lowercase,
    * strip every non-letter/digit run to a single space, collapse
    * whitespace. Unicode-class based (`\p{L}\p{N}`), so accented letters
    * survive while punctuation, symbols and control chars go. */
  def normalized(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^\\p{L}\\p{N}\\s]+", " "),
      "\\s+", " "))

  def qNormalize(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), normalized(col("text")).as("norm_text"))
      .withColumn("n_norm_tokens",
        when(col("norm_text") === "", 0L)
          .otherwise(size(split(col("norm_text"), " ")).cast("long")))
      .orderBy("doc_id")

  /** Deterministic NON-NFC fixture text for a doc id — decomposed
    * sequences NFC must compose ('e'+U+0301 combining acute -> é,
    * 'a'+U+030A combining ring -> å) plus the U+212B ANGSTROM SIGN
    * singleton (composes to U+00C5) — all BMP, so JVM UTF-16 length ==
    * code points == DuckDB length. The corpus itself is ASCII (NFC is
    * the identity on it), so the gate input is STAGED like every other
    * fixture: the oracle constructs the identical string via chr(). */
  def nfdTextFor(id: Long): String = {
    val sb = new StringBuilder
    sb.append("w").append(id % 7).append(' ')
    sb.append("cafe\u0301 ") // e + combining acute
    if (id % 3 == 0) sb.append("\u212Bngstro\u0308m ") // ANGSTROM SIGN; o + diaeresis
    if (id % 2 == 0) sb.append("a\u030Ar ") // a + combining ring
    sb.append("plain").append(id % 5)
    sb.toString
  }

  /** Oracle-checked Unicode NFC normalization — the FIRST transform of
    * every real multilingual pipeline (dedup keys, tokenizer inputs and
    * quality heuristics all assume one canonical form; a corpus mixing
    * composed and decomposed spellings of the same word silently splits
    * its statistics). Engine = java.text.Normalizer (ICU-class canonical
    * composition); oracle = DuckDB's utf8proc nfc_normalize over the
    * identically-constructed strings — two INDEPENDENT implementations
    * of UAX#15 must agree byte-for-byte on composed output, lengths, and
    * the changed flag. Narrow per-row map, no shuffle. */
  def qUnicodeNfc(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val raw = nfdTextFor(id)
          val nfc = java.text.Normalizer.normalize(raw, java.text.Normalizer.Form.NFC)
          (id, raw, nfc,
            raw.codePointCount(0, raw.length).toLong,
            nfc.codePointCount(0, nfc.length).toLong,
            raw != nfc)
        }
      }
      .toDF("doc_id", "raw", "nfc_text", "len_raw", "len_nfc", "changed")
      .orderBy("doc_id")
  }

  /** C4/Gopher-style heuristic quality filters (Raffel et al. 2020 and
    * Rae et al. 2021, both public): every doc gets a keep/reject verdict
    * plus the FIRST failing rule, so the filter is auditable — a pipeline
    * can report exactly why each document was dropped. Rules, in
    * precedence order:
    *   too_short    — fewer than `minTokens` whitespace tokens;
    *   brace        — contains '{' (code/markup leakage, C4);
    *   lorem        — contains "lorem ipsum" (placeholder text, C4);
    *   word_len     — mean token length outside [3, 10] (gibberish /
    *                  non-linguistic content, Gopher);
    *   no_stopwords — fewer than 2 stopword tokens (Gopher's minimum-
    *                  stopword rule; C4's end-of-line punctuation rule is
    *                  LINE-level and meaningless on a corpus stored as
    *                  punctuation-free word streams, like this one). */
  def c4Filters(df: DataFrame, minTokens: Int = 5): DataFrame = {
    val words = GraftFunctions.words(col("text"))
    val nTok = size(words).cast("long")
    // mean over actual token lengths — the chars-minus-separators form
    // counts every whitespace char beyond one-per-boundary as word mass,
    // inflating the mean on indented/double-spaced documents
    val meanLen = aggregate(words, lit(0L),
      (a, x) => a + length(x).cast("long")).cast("double") / nTok
    df.withColumn("n_tokens", nTok)
      .withColumn("mean_word_len", round(meanLen, 6))
      .withColumn("n_stopwords",
        size(filter(GraftFunctions.words(lower(col("text"))),
          w => w.isInCollection(Stopwords.en))).cast("long"))
      .withColumn("reason",
        when(col("n_tokens") < minTokens, "too_short")
          .when(col("text").contains("{"), "brace")
          .when(lower(col("text")).contains("lorem ipsum"), "lorem")
          .when(col("mean_word_len") < 3.0 || col("mean_word_len") > 10.0, "word_len")
          .when(col("n_stopwords") < 2, "no_stopwords")
          .otherwise("kept"))
      .withColumn("kept", col("reason") === "kept")
  }

  /** The filter demo plants one corpus-derived violation per rule at
    * shifted ids (the clean corpus itself keeps everything — the planted
    * rows prove each rule fires and the audit column names the culprit). */
  def qC4Filters(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"), col("text"))
    val w = GraftFunctions.words(col("text"))
    val planted = base.filter(pmod(col("doc_id"), lit(10)).isin(1, 3, 4, 5))
      .select((col("doc_id") + 3000000L).as("doc_id"),
        when(pmod(col("doc_id"), lit(10)) === 1,
          concat_ws(" ", slice(w, 1, 3)))
          .when(pmod(col("doc_id"), lit(10)) === 3, concat(col("text"), lit(" {config}")))
          .when(pmod(col("doc_id"), lit(10)) === 4, concat(lit("lorem ipsum "), col("text")))
          .otherwise(lit("a b c d e f g h i j")).as("text"))
    c4Filters(base.unionByName(planted))
      .select("doc_id", "n_tokens", "mean_word_len", "reason", "kept")
      .orderBy("doc_id")
  }
}
