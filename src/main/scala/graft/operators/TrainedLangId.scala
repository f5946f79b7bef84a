package graft.operators

import graft.engine.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TRAINED character-n-gram language identification — the Cavnar-Trenkle
  * rank-profile classifier ("N-Gram-Based Text Categorization", 1994),
  * the deterministic member of the fastText-class langid family the
  * round-7 verdict lists as the first production swap-in behind the
  * stopword scorer (`TextAnalysis.qLangId` stays as the one-feature
  * screen; THIS is the trainable seam, exercised end to end: train on
  * labeled text, classify held-out text, integer-exact distances).
  *
  * Corpus: the driver's synthetic documents share one vocabulary across
  * lang labels (measured in round 5: identical stopword shares), so real
  * language signal must be STAGED like every other fixture — each class
  * c in 0..2 is a deterministic substitution cipher (letters rotated by
  * 7c) of the document's own text. Distinct trigram inventories per
  * class, real word/length distribution preserved, and the trainer is
  * forced to actually learn the inventory (class 0 is the identity — its
  * profile is the real English-ish corpus profile). A deployment swaps
  * the staged trainer table for real labeled text; every operator below
  * is label-agnostic.
  *
  * Model/classify, all INTEGER arithmetic (hash-exact on any engine):
  *  - class profile: top-K trigrams by (count DESC, trigram ASC), dense
  *    ranks 1..K, over the TRAINING half (even doc_ids);
  *  - doc profile: same construction per held-out doc (odd doc_ids);
  *  - distance(doc, class) = Σ over the doc's profile of
  *    |rank_doc - rank_class| when the trigram is in the class profile,
  *    else the out-of-place penalty K;
  *  - prediction = argmin distance, ties to the smaller class id.
  *
  * Scale shape: the corpus is touched twice (one trigram explode each
  * half); class profiles are a 3·K-row broadcast dim; per-doc profiles
  * are ≤ K rows/doc; the (doc × class) completion is the one registered
  * label-space BNLJ (|classes| = 3 by construction — the q_nb_classify
  * shape). No corpus-scale shuffle beyond the two keyed counts.
  */
object TrainedLangId {

  val Classes = 3
  val K = 40 // profile depth; also the out-of-place penalty

  private val Abc = "abcdefghijklmnopqrstuvwxyz"
  /** Alphabet rotated by 7c — the class-c substitution cipher. */
  def rot(c: Int): String = {
    val k = (c * 7) % 26
    Abc.substring(k) + Abc.substring(0, k)
  }

  /** Deterministic labeled corpus derived from the documents table:
    * (doc_id, cls = doc_id % 3, text transliterated through cls's
    * cipher). */
  def labeledCorpus(docs: DataFrame): DataFrame = {
    val xlit = when(col("cls") === 0, lower(col("text")))
      .when(col("cls") === 1, translate(lower(col("text")), Abc, rot(1)))
      .otherwise(translate(lower(col("text")), Abc, rot(2)))
    Tables.rebalance(docs, "doc_id")
      .select(col("doc_id"), (col("doc_id") % Classes).cast("int").as("cls"), col("text"))
      .withColumn("t", xlit)
      .select("doc_id", "cls", "t")
  }

  /** Character trigrams WITH multiplicity (spaces included — word
    * boundaries are a real n-gram signal). */
  private def trigrams(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("cls"),
      explode(graft.functions.GraftFunctions.ngrams(col("t"), 3)).as("tri"))

  /** Train: top-K rank profile per class over the labeled frame —
    * (cls, tri, rank), ≤ 3·K rows total. */
  def trainProfiles(labeled: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("cls").orderBy(col("n").desc, col("tri"))
    trigrams(labeled)
      .groupBy("cls", "tri").agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("cls"), col("tri"), col("rank").cast("long").as("rank"))
  }

  /** Per-doc top-K rank profile computed ENTIRELY within the row — a
    * doc's trigram counts never shuffle (the explode+groupBy formulation
    * hit its spill knee at the 30x probe: ~300M (doc, tri) rows through
    * one exchange; this emits ≤ K rows/doc with zero exchanges). Same
    * (count DESC, trigram ASC) order as the SQL window it replaces. */
  private[graft] def docProfiles(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("t")).as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, t) =>
          // trigrams over code points, as `trainProfiles` cuts them
          if (t == null || t.codePointCount(0, t.length) < 3) Iterator.empty
          else {
            val grams = graft.functions.TextHashes.charNgrams(
              org.apache.spark.unsafe.types.UTF8String.fromString(t), 3, distinct = false)
            val m = new java.util.HashMap[String, Long]()
            var i = 0
            while (i < grams.numElements()) {
              m.merge(grams.getUTF8String(i).toString, 1L, _ + _); i += 1
            }
            val arr = new Array[(String, Long)](m.size)
            val eit = m.entrySet().iterator()
            var j = 0
            while (eit.hasNext) { val e = eit.next(); arr(j) = (e.getKey, e.getValue); j += 1 }
            java.util.Arrays.sort(arr, new java.util.Comparator[(String, Long)] {
              def compare(a: (String, Long), b: (String, Long)): Int = {
                val byN = java.lang.Long.compare(b._2, a._2)
                // tie-break in BINARY UTF-8 order (what Spark's string
                // sort and DuckDB's collation both use) — String
                // .compareTo is UTF-16 code-unit order, which diverges
                // for supplementary-plane vs U+E000..U+FFFF ties
                if (byN != 0) byN
                else java.util.Arrays.compareUnsigned(
                  a._1.getBytes(java.nio.charset.StandardCharsets.UTF_8),
                  b._1.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              }
            })
            (0 until math.min(K, arr.length)).iterator
              .map(r => (id, arr(r)._1, (r + 1).toLong))
          }
        }
      }.toDF("doc_id", "tri", "r_doc")
  }

  /** Classify: rank-profile distance of each doc against every class
    * profile; returns (doc_id, cls_pred, dist). `docs` must carry
    * (doc_id, t); profiles is the [[trainProfiles]] frame (broadcast —
    * it is 3·K rows by construction). */
  def classify(docs: DataFrame, profiles: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val docProf = docProfiles(docs)
    val nDoc = docProf.groupBy("doc_id").agg(count(lit(1)).as("n_doc"))
    // matched trigrams: an equijoin on tri (each trigram sits in <= 3
    // class profiles), then per-(doc, class) partial sums
    val matched = docProf
      .join(broadcast(profiles), Seq("tri"))
      .groupBy("doc_id", "cls")
      .agg(sum(abs(col("r_doc") - col("rank"))).as("matched_dist"),
        count(lit(1)).as("n_matched"))
    // complete over the label space: |classes| rows by construction —
    // the registered bounded BNLJ (classes a class profile never matched
    // must still score n_doc * K)
    import spark.implicits._
    val classDim = (0 until Classes).map(_.toLong).toDF("cls")
    nDoc.crossJoin(broadcast(classDim))
      .join(matched, Seq("doc_id", "cls"), "left")
      .select(col("doc_id"), col("cls"),
        (coalesce(col("matched_dist"), lit(0L)) +
          (col("n_doc") - coalesce(col("n_matched"), lit(0L))) * K).as("dist"))
  }

  /** Oracle-checked train + held-out classification: profiles from the
    * even-id half, predictions + exact integer distances for the odd-id
    * half. The oracle replays the whole chain (cipher, trigram counts,
    * rank windows, penalty arithmetic) in SQL. */
  def qLangIdTrained(s: SparkSession, d: String): DataFrame = {
    val corpus = labeledCorpus(Tables.documents(s, d))
    val profiles = trainProfiles(corpus.filter(col("doc_id") % 2 === 0))
    val test = corpus.filter(col("doc_id") % 2 === 1)
    val scored = classify(test.select("doc_id", "t"), profiles)
    val pred = scored.groupBy("doc_id")
      .agg(min(struct(col("dist"), col("cls"))).as("m"))
      .select(col("doc_id"), col("m.cls").cast("int").as("lang_pred"),
        col("m.dist").as("dist"))
    test.select(col("doc_id"), col("cls").as("lang_cls"))
      .join(pred, Seq("doc_id"))
      .withColumn("correct", col("lang_cls") === col("lang_pred"))
      .orderBy("doc_id")
  }
}
