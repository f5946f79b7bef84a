package graft

import graft.engine.Tables
import graft.functions.GraftFunctions
import graft.operators.{Dedup, TextSearch}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The declarative forms of the token family, kept as the equality
  * references for the compiled kernels in graft.functions (FunctionsSpec)
  * and for the production trainer and encoder of operators.TextSearch
  * (TextSearchSpec). Spark interprets every lambda here per element:
  * `ArrayTransform`, `ArrayAggregate` and `ArrayFilter` are
  * `CodegenFallback`. */
object TokenDeclarative {

  /** Positions 1 .. last of a 1-based range, or none when last < 1
    * (`sequence(1, last)` alone counts down from 1 then). */
  private def upTo(last: Column, len: Column): Column =
    filter(sequence(lit(1), len), i => i >= 1 && i <= last)

  /** The `n`-grams of `words`, every position (`concat_ws` skips null
    * elements), or each once in order of first appearance. */
  def ngrams(words: Column, n: Int, distinct: Boolean = false): Column = {
    val grams = transform(upTo(size(words) - (n - 1), size(words)),
      i => concat_ws(" ", (0 until n).map(k => element_at(words, i + k)): _*))
    if (distinct) array_distinct(grams) else grams
  }

  /** The `n`-grams of a string over its code points (`concat_ws` of the
    * one substring only types the elements non-null, as the kernel does). */
  def charNgrams(text: Column, n: Int, distinct: Boolean = false): Column = {
    val grams = transform(upTo(length(text) - (n - 1), length(text)),
      i => concat_ws("", substring(text, i, lit(n))))
    if (distinct) array_distinct(grams) else grams
  }

  /** Polynomial fold mod 1e9+7 over the code points, as the oracle folds
    * `ascii(text[i])`: the reference of `TextAnalysis.fingerprint`. On
    * ASCII text it equals `poly_hash`, the shingle code. */
  def fold(text: Column): Column =
    aggregate(
      transform(sequence(lit(1), length(text)), i => ascii(substring(text, i, lit(1)))),
      lit(0L),
      (acc, c) => (acc * 31L + c) % 1000000007L)

  /** MinHash signature (array of K mins) over the shingle codes. */
  def minhashSignature(shingleCodes: Column): Column =
    array(Dedup.hashParams.map { case (a, b) =>
      array_min(transform(shingleCodes, x => (lit(a) * x + lit(b)) % Dedup.Prime))
    }: _*)

  /** The distributed BPE trainer: the same loop as
    * `TextSearch.bpeTrainLocal`, one Spark job and one collect per merge.
    * The corpus collapses to its (word, freq) vocabulary first, as
    * ' a b c ' segmentations; each step counts the adjacent segment pairs
    * (weighted by word frequency), then merges the top pair everywhere
    * with `replace(" l r ", " lr ")`. Ties break (count desc, left,
    * right). */
  def bpeTrain(docs: DataFrame, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    var vocab = Tables.rebalance(docs, "doc_id")
      .select(explode(GraftFunctions.words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")).as("seg"),
        col("freq"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val top = vocab
        .select(col("freq"), split(trim(col("seg")), " ").as("parts"))
        .filter(size(col("parts")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(parts) - 1), i -> struct(parts[i-1] AS l, parts[i] AS r))"))
          .as("z"))
        .groupBy(col("z.l").as("l"), col("z.r").as("r"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r")).limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((step.toLong, l, r, n))
        // merge tokens are data: literal columns, never SQL text
        vocab = vocab
          .withColumn("seg", replace(col("seg"), lit(s" $l $r "), lit(s" $l$r ")))
          .localCheckpoint()
        step += 1
      }
    }
    merges.toSeq.toDF("step", "l_tok", "r_tok", "n")
  }

  /** The oracle-shaped BPE encoder: one `replace` column per merge over
    * a U+0001-bounded segmentation, so the plan grows with the merge
    * table; the reference of `TextSearch.bpeEncode`. */
  def bpeEncodeFold(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val boundary = TextSearch.BpeBoundary
    val seg0 = concat(lit(" "),
      array_join(
        transform(GraftFunctions.words(col("text")), w => regexp_replace(w, "(.)", "$1 ")),
        boundary + " "))
    val segged = merges.foldLeft(
      Tables.rebalance(docs, "doc_id").select(col("doc_id"), seg0.as("seg"))) {
      case (df, (l, r)) =>
        df.withColumn("seg", replace(col("seg"), lit(s" $l $r "), lit(s" $l$r ")))
    }
    segged.select(col("doc_id"),
      size(filter(split(trim(col("seg")), " "), t => t =!= boundary))
        .cast("long").as("n_bpe_tokens"))
  }
}
