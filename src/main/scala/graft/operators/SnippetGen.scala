package graft.operators

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sentence segmentation + overlapping sliding-window snippet generation —
  * the reference's core text operator (SURVEY.md §2.5 F3/F4).
  *
  * Reference semantics (/root/reference/data_ingestion.py:170-200):
  *   - split page text into sentences (spaCy sentencizer, DI:171-176);
  *   - window of `num_sent_per_snippet = 5` sentences (DI:39), stride
  *     `ceil(5/2) = 3` (DI:190), i.e. 2-sentence overlap between
  *     consecutive snippets;
  *   - snippet text = `' '.join(sentences[i:i+5])` (DI:184);
  *   - snippet ids dense, 1-based, per parent (DI:183,191);
  *   - the tail-remainder branch DI:193-198 is DEAD CODE (the loop exit
  *     condition makes `last_index >= len(sentences)` always true), so the
  *     windows emitted at DI:181-191 are the complete semantics: window k
  *     (0-based) covers sentences[3k : 3k+5], for k = 0 .. floor((n-1)/3),
  *     and no snippets for n = 0.
  *
  * Design: sentence split and tokenizing are built-in column functions;
  * the windowing is one custom Catalyst expression
  * ([[graft.functions.SnippetWindows]]) that runs inside whole-stage
  * codegen, where the declarative `transform` form is interpreted per
  * window. No UDF, and a NARROW transformation: no shuffle, so at 100 TB
  * it scales embarrassingly with input splits (SURVEY.md §7.6.5). The
  * sentence synthesis of [[qSentenceSnippets]] is still an interpreted
  * `transform`. spaCy's ML splitter is deliberately replaced by a
  * documented deterministic regex (SURVEY.md §7.6.1) so results are
  * oracle-checkable.
  */
object SnippetGen {
  /** num_sent_per_snippet, data_ingestion.py:39 */
  val WindowSize = 5
  /** ceil(5/2), data_ingestion.py:190 */
  val Stride = 3

  /** F3: deterministic sentence split — break on `.`/`!`/`?` followed by
    * whitespace; the terminator+whitespace is CONSUMED (RE2 has no
    * lookbehind, so a terminator-retaining split is not expressible in
    * DuckDB — the engine's documented sentence definition is therefore the
    * consumed-terminator form, identical in Java regex and RE2:
    * `regexp_split_to_array(text, '[.!?]\s+')`). */
  def splitSentences(text: Column): Column =
    split(trim(text), "[.!?]\\s+")

  /** F4: overlapping windows over an array of units (sentences or words).
    * Returns `array<struct<snippet_id int, snippet_text string>>` with
    * 1-based dense ids; empty array for an empty input, null for null.
    * One compiled loop ([[graft.functions.SnippetWindows]]).
    */
  def snippetWindows(units: Column, window: Int = WindowSize, stride: Int = Stride): Column =
    GraftFunctions.snippet_windows(units, window, stride)

  /** Flagship pipeline (SURVEY.md §7.3): documents table -> tokenize ->
    * sliding windows -> explode to flat snippets carrying parent attrs
    * (the F1/F2/J2 double-unnest + denormalization of
    * data_ingestion.py:203-224) + the C1 page-link concat (DI:128).
    *
    * Output: (doc_id, lang, snippet_id, snippet_text, snippet_link),
    * ordered by (doc_id, snippet_id) for oracle determinism.
    */
  def docSnippets(docs: DataFrame): DataFrame = {
    graft.engine.Tables.rebalance(docs, "doc_id")
      // bind the token array once: an inline split inside the window
      // lambda would re-tokenize the text per window (see Dedup.shinglesFromWords)
      .select(col("doc_id"), col("lang"), col("source"),
        GraftFunctions.words(col("text")).as("words"))
      .select(
        col("doc_id"), col("lang"), col("source"),
        explode(snippetWindows(col("words"))).as("s"))
      .select(
        col("doc_id"), col("lang"),
        col("s.snippet_id").as("snippet_id"),
        col("s.snippet_text").as("snippet_text"),
        // C1 page-link analog: file_link + "#page=" + n (DI:128)
        concat(col("source"), lit("#page="), col("s.snippet_id").cast("string"))
          .as("snippet_link"))
      .orderBy("doc_id", "snippet_id")
  }

  /** F3+F4 composed exactly as the reference's generate_snippets
    * (DI:170-200): sentence-split the text, then window 5 / stride 3 over
    * SENTENCES. The corpus has no punctuation, so deterministic sentence
    * structure is synthesized first (8-token sentences joined with ". ") —
    * the split must then reconstruct them exactly. */
  def qSentenceSnippets(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val docs = graft.engine.Tables.rebalance(
      graft.engine.Tables.documents(s, d), "doc_id")
    docs
      .select(col("doc_id"), GraftFunctions.words(col("text")).as("words"))
      // words hold no space, so every 8th separator of the space-joined
      // words is where a sentence ends: it becomes ". "
      .select(col("doc_id"), regexp_replace(array_join(col("words"), " "),
        "((?:[^ ]* ){7}[^ ]*) ", "$1. ").as("sent_text"))
      .select(col("doc_id"), splitSentences(col("sent_text")).as("sents"))
      .select(col("doc_id"), explode(snippetWindows(col("sents"))).as("sn"))
      .select(col("doc_id"), col("sn.snippet_id").as("snippet_id"),
        col("sn.snippet_text").as("snippet_text"))
      .orderBy("doc_id", "snippet_id")
  }

  /** Typed flatMap variant of F4 for callers that prefer Dataset logic; same
    * semantics as [[snippetWindows]]. */
  def windowsOf[T](units: Seq[T], window: Int = WindowSize, stride: Int = Stride): Seq[(Int, Seq[T])] =
    if (units.isEmpty) Seq.empty
    else (0 to (units.size - 1) / stride).map { k =>
      (k + 1, units.slice(k * stride, k * stride + window))
    }
}
