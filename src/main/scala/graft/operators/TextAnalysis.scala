package graft.operators

import graft.engine.{Scope, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * token counting, quality scoring, language-ID, document fingerprinting.
  * (Extensions beyond the reference surface — BASELINE.json north star;
  * the reference's only text analytics is the snippet window, SURVEY §2.5.)
  *
  * All operators are NARROW (per-row column expressions, no UDF, no
  * shuffle), so they scale linearly with input splits at 100 TB; the only
  * shuffles below are the explicit group-bys of the stats query and the
  * deterministic output sorts.
  */
object TextAnalysis {
  import Tables._

  private val words: Column = split(trim(col("text")), "\\s+")

  /** Token counting: whitespace tokens + a BPE-ish char-budget estimate
    * (~4 chars/token, the common rule of thumb). */
  def withTokenCounts(df: DataFrame): DataFrame = df
    .withColumn("n_tokens", size(words).cast("long"))
    .withColumn("n_tokens_bpe", ceil(length(col("text")) / 4.0).cast("long"))

  /** Quality signals: length, token stats, punctuation/alpha ratios,
    * stopword ratio, plus one blended score in [0,1]. All double math is
    * division of exact integers -> bit-identical across engines. */
  def withQuality(df: DataFrame): DataFrame = {
    val len = length(col("text")).cast("double")
    val nTok = size(words).cast("double")
    df.withColumn("n_tokens", size(words).cast("long"))
      .withColumn("avg_token_len",
        (len - (nTok - 1)) / nTok) // chars minus separators, per token
      .withColumn("punct_ratio",
        (len - length(regexp_replace(col("text"), "[.!?,;:]", ""))) / len)
      .withColumn("stopword_ratio",
        size(filter(words, w => w.isInCollection(Stopwords.en))).cast("double") / nTok)
      .withColumn("quality_score",
        round(least(lit(1.0), size(words).cast("double") / 100.0) * 0.5
          + col("stopword_ratio") * 0.3
          + (lit(1.0) - col("punct_ratio")) * 0.2, 6))
  }

  /** Language-ID by marker-token counts (n-gram-heuristic family):
    * score each candidate language by hits on its marker set, pick the
    * argmax with a fixed precedence for ties. Deterministic and
    * SQL-expressible, so it is oracle-checked; a production system would
    * plug a real model in the same column slot. */
  def withLangId(df: DataFrame): DataFrame = {
    def hits(markers: Seq[String]): Column =
      size(filter(words, w => w.isInCollection(markers))).cast("long")
    val en = hits(Stopwords.en)
    val es = hits(Stopwords.es)
    val de = hits(Stopwords.de)
    val fr = hits(Stopwords.fr)
    df.withColumn("en_hits", en).withColumn("es_hits", es)
      .withColumn("de_hits", de).withColumn("fr_hits", fr)
      .withColumn("lang_pred",
        when(greatest(en, es, de, fr) === 0, lit("und"))
          .when(en >= es && en >= de && en >= fr, "en")
          .when(es >= de && es >= fr, "es")
          .when(de >= fr, "de")
          .otherwise("fr"))
  }

  /** Document fingerprint: polynomial rolling hash over the characters,
    * mod 1e9+7 — deterministic, no UDF, reproducible in any engine
    * (the per-doc identity for exact-dup detection and incremental
    * re-ingestion). */
  def fingerprint(text: Column): Column =
    aggregate(
      transform(sequence(lit(1), length(text)), i => ascii(substring(text, i, lit(1)))),
      lit(0L),
      (acc, c) => (acc * 31L + c) % 1000000007L)

  /** CCNet-style unigram-LM perplexity per document: score each doc by
    * exp(-mean log p(token)) under the CORPUS's own maximum-likelihood
    * unigram distribution (tf/N with multiplicity). Low perplexity =
    * repetitive/common-token text, high = rare-token text — the standard
    * LM-quality filtering signal (CCNet, Wenzek et al. 2020, trains a
    * 5-gram LM; the unigram variant keeps the same pipeline shape with
    * an in-corpus model).
    *
    * Determinism: ln() last-ulp behavior varies by libm, and a float sum
    * over a shuffled group is order-dependent — so the per-token log-prob
    * is rounded to 6 dp and summed as DECIMAL (exact, associative), the
    * same discipline as q_agg/q_decay. The final exp/round(4) runs on one
    * already-exact double per doc.
    *
    * Scale: tokens explode to (doc_id, tok) scalars; tf is one token-keyed
    * aggregate; N broadcasts as a 1-row frame; the score join shuffles
    * token keys, never text. At 100 TB hash the token to a long for the
    * join key and frequency-cap the vocab (rare tokens below k occurrences
    * can share a single OOV bucket) to bound the tf table. */
  def perplexity(docs: DataFrame): DataFrame = {
    val toks = Tables.rebalance(docs, "doc_id")
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    val tf = toks.groupBy("tok").agg(count(lit(1)).as("tf"))
    // The 1-row corpus total attaches at VOCAB level, not occurrence level,
    // so log() runs once per distinct token. The crossJoin of the broadcast
    // 1-row aggregate is the optimal scalar attach (|vocab| x 1, no shuffle);
    // PlanSpec's nested-loop audit recognizes scalar-aggregate build sides.
    val tot = toks.agg(count(lit(1)).as("n_total"))
    val logProb = tf
      .crossJoin(broadcast(tot))
      .withColumn("lp",
        round(log(col("tf").cast("double") / col("n_total")), 6).cast("decimal(18,6)"))
      .select("tok", "lp")
    toks.join(logProb, Seq("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("lp")).as("sum_lp"))
      .withColumn("ppl",
        round(exp(-col("sum_lp").cast("double") / col("n_tokens")), 4))
      .select("doc_id", "n_tokens", "ppl")
  }

  def qPerplexity(s: SparkSession, d: String): DataFrame =
    perplexity(documents(s, d)).orderBy("doc_id")

  /** Multinomial NAIVE BAYES classifier, trained and applied over the
    * corpus in one plan — the supervised sibling of the heuristic
    * [[withLangId]] and the classifier-based quality/domain filtering
    * step of the GPT-3/LLaMA-style data pipelines (train a classifier on
    * labeled slices, score every document). Training IS counting, so the
    * "model" is exact postings algebra: per-(class, token) counts with
    * add-one smoothing, class priors from document counts, and each
    * document scored with Σ tf·ln p(tok|c) + ln p(c), argmax over
    * classes.
    *
    * Determinism (the [[perplexity]] discipline): every ln() runs once
    * per distinct (class, token) — never per occurrence — and is rounded
    * to 6dp into DECIMAL before the per-document sum, so totals are
    * exact and order-independent on any partitioning/engine.
    *
    * Scale shape: class-conditional counts are one token-keyed shuffle
    * into a |vocab|·|classes|-bounded table; scoring joins doc tokens to
    * that table BY TOKEN KEY (postings algebra, like tf-idf — the model
    * table is never broadcast: vocabulary-sized frames must not ship to
    * the driver, the bigramLm lesson) after a crossJoin with the
    * |classes|-row per-class default (unseen-token) frame, which IS
    * bounded and broadcast. At 100 TB frequency-cap the vocab into an
    * OOV bucket exactly like perplexity's note. */
  def nbClassify(docs: DataFrame, labelCol: String): DataFrame = {
    val base = Tables.rebalance(docs, "doc_id")
    // materialize the exploded tokens once: vocabSize, tf and ct would
    // otherwise each re-tokenize the full corpus (the bpeTrain
    // localCheckpoint discipline — cut the corpus scan out of the reuse)
    val toks = base
      .select(col("doc_id"), col(labelCol).as("cls"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .localCheckpoint()
    val vocabSize = toks.select("tok").distinct().count()
    val nDocs = base.count()
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val ct = toks.groupBy("cls", "tok").agg(count(lit(1)).as("c"))
    val tot = ct.groupBy("cls").agg(sum(col("c")).as("n_c"))
    // per-(class, token) smoothed log-likelihood; 6dp decimal
    val lp = ct.join(tot, Seq("cls"))
      .select(col("cls"), col("tok"),
        round(log((col("c") + lit(1.0)) / (col("n_c") + lit(vocabSize.toDouble))), 6)
          .cast("decimal(18,6)").as("logp"))
    // per-class default for tokens unseen in that class (c = 0)
    val defaults = tot.select(col("cls"),
      round(log(lit(1.0) / (col("n_c") + lit(vocabSize.toDouble))), 6)
        .cast("decimal(18,6)").as("logp0"))
    val priors = base.groupBy(col(labelCol).as("cls"))
      .agg(count(lit(1)).as("d_c"))
      .select(col("cls"),
        round(log(col("d_c").cast("double") / lit(nDocs.toDouble)), 6)
          .cast("decimal(18,6)").as("logprior"))
    val scored = tf
      .crossJoin(broadcast(defaults)) // |classes| rows — bounded by design
      .join(lp, Seq("cls", "tok"), "left")
      .select(col("doc_id"), col("cls"),
        (col("tf") * coalesce(col("logp"), col("logp0"))).as("contrib"))
      .groupBy("doc_id", "cls").agg(sum(col("contrib")).as("ll"))
      .join(broadcast(priors), Seq("cls"))
      .select(col("doc_id"), col("cls"),
        (col("ll") + col("logprior")).cast("double").as("score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("cls"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cls").as("nb_pred"), col("score"))
  }

  /** Oracle-checked: train on the lang labels, score every doc. */
  def qNbClassify(s: SparkSession, d: String): DataFrame =
    nbClassify(documents(s, d), "lang").orderBy("doc_id")

  /** DSIR-style importance weights (Xie et al. 2023, public): score every
    * document by how much more likely its tokens are under the TARGET
    * slice's unigram distribution than under the full corpus's —
    * log w(doc) = Σ_tok [ln p_target(tok) − ln p_raw(tok)], add-1
    * smoothed over the shared vocabulary. Sampling by these weights
    * shifts a raw crawl toward the target domain; the hashed-ngram
    * feature space of the paper drops in at the same column slot.
    *
    * Same determinism discipline as [[perplexity]]: the log-ratio is
    * rounded to 6 dp at VOCAB level and decimal-summed per document, so
    * ln() runs once per distinct token and per-doc totals are exact on
    * any partitioning. Both corpus totals attach at vocab level via the
    * 1-row broadcast scalar attach. */
  def importanceWeights(docs: DataFrame, isTarget: Column): DataFrame = {
    val toks = Tables.rebalance(docs, "doc_id")
      .select(col("doc_id"), isTarget.as("is_t"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    val vocab = toks.groupBy("tok").agg(
      count(lit(1)).as("c_r"),
      sum(when(col("is_t"), 1L).otherwise(0L)).as("c_t"))
    val tot = toks.agg(
      count(lit(1)).as("n_r"),
      sum(when(col("is_t"), 1L).otherwise(0L)).as("n_t"),
      countDistinct(col("tok")).as("v"))
    val delta = vocab.crossJoin(broadcast(tot))
      .withColumn("d",
        round(log((col("c_t") + lit(1.0)) / (col("n_t") + col("v")))
          - log((col("c_r") + lit(1.0)) / (col("n_r") + col("v"))), 6)
          .cast("decimal(18,6)"))
      .select("tok", "d")
    toks.join(delta, Seq("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("d")).cast("double").as("log_weight"))
  }

  /** Oracle-checked: importance toward the src0 slice as target. */
  def qImportance(s: SparkSession, d: String): DataFrame =
    importanceWeights(documents(s, d), col("source") === "src0")
      .orderBy("doc_id")

  /** DATASET CARD: the corpus profile a training-data release documents
    * — sizes, vocabulary, language mix, exact-dup rate, mean quality —
    * as one (metric, value) table from two aggregates (one doc-level,
    * one token-level; the 1×1 combine is the scalar attach the plan
    * audit recognizes). Ratios are exact-integer division in double,
    * rounded to 6; mean quality sums the already-6dp-rounded score as
    * DECIMAL first. */
  def datasetCard(docs: DataFrame): DataFrame = {
    val q = withQuality(Tables.rebalance(docs, "doc_id"))
    val base = q.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("n_toks"),
      countDistinct(col("text")).as("n_distinct_text"),
      countDistinct(col("lang")).as("n_langs"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
      sum(col("quality_score").cast("decimal(18,6)")).as("q_sum"))
    val vocab = docs
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .agg(countDistinct(col("tok")).as("v"))
    base.crossJoin(broadcast(vocab))
      .select(expr(
        "stack(8, " +
          "'n_docs', CAST(n_docs AS DOUBLE), " +
          "'n_tokens', CAST(n_toks AS DOUBLE), " +
          "'vocab_size', CAST(v AS DOUBLE), " +
          "'n_langs', CAST(n_langs AS DOUBLE), " +
          "'pct_en', round(CAST(n_en AS DOUBLE) / n_docs, 6), " +
          "'exact_dup_rate', round(CAST(1.0 AS DOUBLE) - CAST(n_distinct_text AS DOUBLE) / n_docs, 6), " +
          "'mean_tokens', round(CAST(n_toks AS DOUBLE) / n_docs, 6), " +
          "'mean_quality', round(CAST(q_sum AS DOUBLE) / n_docs, 6)) AS (metric, value)"))
  }

  def qDatasetCard(s: SparkSession, d: String): DataFrame =
    datasetCard(documents(s, d)).orderBy("metric")

  /** Classifier evaluation at corpus scale: the confusion matrix of the
    * lang-ID model against the labeled `lang` column, with per-class
    * precision/recall derived from the SAME count table (one grouped
    * aggregate over (truth, prediction) — |langs|² rows however big the
    * corpus; the class totals come from windows over that tiny matrix).
    * This is the eval loop a pipeline runs after swapping any model into
    * the lang_pred slot; ratios are exact-int division in double,
    * rounded 6. */
  def confusion(docs: DataFrame): DataFrame = {
    val m = withLangId(Tables.rebalance(docs, "doc_id"))
      .groupBy(col("lang").as("truth"), col("lang_pred").as("pred"))
      .agg(count(lit(1)).as("n"))
    val byTruth = Window.partitionBy(col("truth"))
    val byPred = Window.partitionBy(col("pred"))
    m
      .withColumn("n_truth", sum(col("n")).over(byTruth))
      .withColumn("n_pred", sum(col("n")).over(byPred))
      .select(col("truth"), col("pred"), col("n"),
        when(col("truth") === col("pred"),
          round(col("n").cast("double") / col("n_pred"), 6)).as("precision"),
        when(col("truth") === col("pred"),
          round(col("n").cast("double") / col("n_truth"), 6)).as("recall"))
  }

  def qConfusion(s: SparkSession, d: String): DataFrame =
    confusion(documents(s, d)).orderBy("truth", "pred")

  /** Corpus diversity: per-source n-gram novelty — DISTINCT word-3-gram
    * occurrences as a fraction of ALL positional occurrences. Low
    * novelty = templated/repetitive source (the diversity signal next to
    * the repetition and perplexity screens). Positional spans come from
    * the codegen'd span-hash pass (multiplicity preserved — the shingle
    * SET would hide within-doc repetition); one source-keyed aggregate. */
  def novelty(docs: DataFrame): DataFrame = {
    val spans = Tables.rebalance(docs, "doc_id")
      .select(col("source"), split(trim(col("text")), "\\s+").as("words"))
      .filter(size(col("words")) >= 3)
      .select(col("source"),
        explode(graft.functions.GraftFunctions.span_hashes(col("words"), 3)).as("sh"))
    // NOT groupBy(source).agg(countDistinct): with a handful of sources
    // and millions of distinct spans, the final distinct-count collapses
    // each source onto ONE task (measured 10.8x growth at 3x data).
    // distinct() spreads over (source, sh); both counts then map-side
    // combine into |sources| rows.
    val total = spans.groupBy("source").agg(count(lit(1)).as("n_shingles"))
    val dist = spans.select("source", "sh").distinct()
      .groupBy("source").agg(count(lit(1)).as("n_distinct"))
    total.join(dist, Seq("source"))
      .withColumn("novelty",
        round(col("n_distinct").cast("double") / col("n_shingles"), 6))
  }

  def qNovelty(s: SparkSession, d: String): DataFrame =
    novelty(documents(s, d)).orderBy("source")

  /** Flesch-Kincaid readability grade — the classic corpus-quality signal
    * next to the length/stopword/perplexity screens (readability bands
    * are a standard pretraining-mix lever: children's text, technical
    * prose, and boilerplate separate cleanly on FK grade).
    *
    * Deterministic counting rules, stated here because they ARE the
    * contract both engines replay: words = whitespace runs; sentences =
    * max(1, maximal runs of [.!?]); syllables per word = max(1, maximal
    * runs of [aeiouy] in the lowercased word) — the standard vowel-group
    * approximation (true hyphenation needs a dictionary; the approximation
    * is monotone with it and identical on both engines). Since vowel
    * groups never span whitespace, the corpus-wide group count equals the
    * per-word sum, so the scan is ONE regex pass over the text plus one
    * per-word no-vowel check — no per-word regex extraction.
    *
    * FK = 0.39·W/S + 11.8·syl/W − 15.59, computed as ONE division of
    * exact Long integers over the common denominator 100·S·W (the
    * micro-division protocol: two pre-rounded doubles summed would drift
    * between engines; one rounded division of exact ints cannot). All
    * narrow per-row compute — no shuffle, linear at any scale. */
  def readability(docs: DataFrame): DataFrame = {
    val words = split(trim(col("text")), "\\s+")
    val w = size(words).cast("long")
    val groups = size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0))).cast("long")
    val noVowel = size(filter(words, x => not(lower(x).rlike("[aeiouy]")))).cast("long")
    val sents = greatest(lit(1L),
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast("long"))
    Tables.rebalance(docs, "doc_id")
      .select(col("doc_id"), w.as("n_words"), sents.as("n_sentences"),
        (groups + noVowel).as("n_syllables"))
      .filter(col("n_words") > 0)
      .withColumn("fk_grade", round(
        (lit(39L) * col("n_words") * col("n_words")
          + lit(1180L) * col("n_syllables") * col("n_sentences")
          - lit(1559L) * col("n_sentences") * col("n_words")).cast("double")
          / (lit(100L) * col("n_sentences") * col("n_words")), 6))
  }

  def qReadability(s: SparkSession, d: String): DataFrame =
    readability(documents(s, d)).orderBy("doc_id")

  // ------------------------------------------------------------ queries

  def qTokenCount(s: SparkSession, d: String): DataFrame =
    withTokenCounts(documents(s, d))
      .select("doc_id", "n_tokens", "n_tokens_bpe").orderBy("doc_id")

  def qQuality(s: SparkSession, d: String): DataFrame =
    withQuality(Tables.rebalance(documents(s, d), "doc_id"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("avg_token_len"), 6).as("avg_token_len"),
        round(col("stopword_ratio"), 6).as("stopword_ratio"),
        col("quality_score"))
      .orderBy("doc_id")

  def qLangId(s: SparkSession, d: String): DataFrame =
    withLangId(Tables.rebalance(documents(s, d), "doc_id"))
      .select("doc_id", "lang", "lang_pred").orderBy("doc_id")

  def qFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.rebalance(documents(s, d), "doc_id")
      .select(col("doc_id"), fingerprint(col("text")).as("fp")).orderBy("doc_id")

  /** Gopher-style repetition signals per document: the duplicate-token
    * fraction (1 - distinct/total) and the share of the document taken by
    * its single most frequent bigram — the two cheapest "degenerate text"
    * detectors a corpus filter runs before any model-based scoring. All
    * ratios are exact integer divisions in double (bit-identical on any
    * engine); the bigram tally is one narrow explode + two keyed
    * aggregations on scalar columns. */
  def repetition(docs: DataFrame): DataFrame = {
    val base = Tables.rebalance(docs, "doc_id")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
    val tokenStats = base.select(col("doc_id"),
      size(col("words")).cast("long").as("n_tokens"),
      size(array_distinct(col("words"))).cast("long").as("n_distinct"))
    // NOT word_ngrams: that expression emits DISTINCT n-grams (dedup
    // semantics); repetition needs counts WITH multiplicity, so the
    // bigram list is built positionally
    val bigrams = base
      .filter(size(col("words")) >= 2)
      .select(col("doc_id"), size(col("words")).cast("long").as("nw"),
        explode(transform(sequence(lit(1), size(col("words")) - 1),
          i => concat_ws(" ", element_at(col("words"), i),
            element_at(col("words"), i + 1)))).as("bigram"))
      .groupBy("doc_id", "nw", "bigram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        max(col("c")).as("top_bigram_count"),
        max(col("nw") - 1).as("n_bigrams")) // nw is constant per doc_id
    tokenStats.join(bigrams, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        round((col("n_tokens") - col("n_distinct")).cast("double") / col("n_tokens"), 6)
          .as("dup_token_frac"),
        round(coalesce(col("top_bigram_count").cast("double") / col("n_bigrams"), lit(0.0)), 6)
          .as("top_bigram_share"))
  }

  def qRepetition(s: SparkSession, d: String): DataFrame =
    repetition(documents(s, d)).orderBy("doc_id")

  /** PII masking: emails and phone-shaped numbers are replaced with typed
    * placeholders before any text leaves the pipeline. Patterns are
    * RE2-safe (no lookbehind, portable to any regex engine); the rewrite
    * is one codegen'd narrow projection. Exercised on synthetic contact
    * strings derived from the customer dim (the corpus tables contain no
    * real PII — by design).
    *
    * The phone pattern is an alternation of UNIFORM-separator grouped
    * shapes (a mixed-separator class would let a space bridge unrelated
    * numbers — "2024-01-01 2024-03-15" must not merge):
    *  - hyphen groups with a 3-6 digit terminal (+1-555-0001,
    *    44-20-7946-0958) — ISO dates fail the terminal length;
    *  - dot groups with a 4-6 digit terminal (555.123.4567) — IPs and
    *    versions fail the terminal length;
    *  - 4+ space-separated groups (+44 20 7946 0958) — prose number
    *    pairs have too few groups;
    *  - NANP (555) 123-4567 (paren-anchored: a match can only start at
    *    the literal '(') and 555 123-4567 (word-bounded: the 3-digit head
    *    cannot start inside a longer digit run).
    * A bare "any 8+ digit run" rule swallows ids like Customer#000000001,
    * and a bare local form like 555-1234 is indistinguishable from
    * numeric ranges (pages 100-1000, part 250-5000) — separator-free runs
    * and 2-group locals are ID territory: mask them with a dedicated rule
    * only where the schema says a column holds phones. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?[0-9]{1,4}(-[0-9]{2,6}){1,3}-[0-9]{3,6}" +
    "|[0-9]{1,4}(\\.[0-9]{2,6}){1,3}\\.[0-9]{4,6}" +
    "|\\+?[0-9]{1,4}( [0-9]{2,6}){2,3} [0-9]{3,6}" +
    "|\\([0-9]{3}\\) ?[0-9]{3}-[0-9]{4}\\b" +
    "|\\b[0-9]{3} [0-9]{3}-[0-9]{4}\\b"

  def maskPii(c: Column): Column =
    regexp_replace(regexp_replace(c, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")

  def qPiiMask(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select(col("c_custkey"),
        concat(lit("Contact "), col("c_name"), lit(" at user"), col("c_custkey"),
          lit("@example.com or +1-555-"),
          lpad(pmod(col("c_custkey"), lit(10000L)).cast("string"), 4, "0")).as("contact"))
      .select(col("c_custkey"), maskPii(col("contact")).as("masked"))
      .orderBy("c_custkey")

  // ---------------------------------------- Luhn checksum validation

  /** Luhn sum of a digit string (rightmost digit NOT doubled; every
    * second digit from the right doubled, minus 9 when > 9) — the
    * card-number checksum (ISO/IEC 7812). Staging-side helper; the
    * ENGINE validates declaratively in [[qLuhn]], so builder and checker
    * share no code path. */
  def luhnSum(digits: String): Int = {
    var sum = 0
    var i = digits.length - 1
    var pos = 0 // 0-based from the right
    while (i >= 0) {
      val d = digits.charAt(i) - '0'
      sum += (if (pos % 2 == 1) { val t = 2 * d; if (t > 9) t - 9 else t } else d)
      i -= 1
      pos += 1
    }
    sum
  }

  /** Deterministic 16-digit PAN-shaped fixture for docId: a '4' prefix,
    * 14 derived digits, and a closing digit that SATISFIES Luhn for even
    * ids and violates it for odd ids — the planted precision test: a
    * pattern-only PII detector flags all of them, the checksum keeps
    * only the valid half. */
  def panFor(docId: Long): String = {
    val prefix = "4" + f"${(docId * 37) % 100000000000000L}%014d"
    // closing digit c makes luhnSum(prefix + c) % 10 == 0: c sits at the
    // rightmost (undoubled) position, so c = (10 - luhnSum-with-shift) —
    // compute via the defining property
    val base = luhnSum(prefix + "0")
    val c = (10 - base % 10) % 10
    val digit = if (docId % 2 == 0) c else (c + 1) % 10
    prefix + digit
  }

  /** Oracle-checked Luhn screen — checksum VALIDATION behind the PII
    * pattern scan (at corpus scale the regex alone floods the redaction
    * queue with false positives; the checksum is the precision lever):
    * each staged card-shaped number is validated by a fully declarative
    * codegen'd Luhn — reversed digit string bound as a COLUMN first (the
    * lambda-re-evaluation pitfall), one transform + aggregate, parity by
    * index. The oracle replays the NUMBER construction (including the
    * SQL Luhn closure for the check digit) and states the verdict in
    * closed form (doc_id parity) — engine validation and oracle
    * construction are independent, so a slip in either side's Luhn
    * arithmetic hash-mismatches. */
  def qLuhn(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val staged = Tables.rebalance(documents(s, d), "doc_id")
      .select(col("doc_id")).as[Long]
      .mapPartitions(it => it.map(id => (id, panFor(id))))
      .toDF("doc_id", "pan")
    staged
      .withColumn("rev", reverse(col("pan")))
      .withColumn("luhn_valid", expr(
        "aggregate(transform(sequence(0, length(rev) - 1), i -> " +
          "CASE WHEN i % 2 = 1 THEN " +
          "IF(2 * (ascii(substring(rev, i + 1, 1)) - 48) > 9, " +
          "2 * (ascii(substring(rev, i + 1, 1)) - 48) - 9, " +
          "2 * (ascii(substring(rev, i + 1, 1)) - 48)) " +
          "ELSE ascii(substring(rev, i + 1, 1)) - 48 END), " +
          "0, (acc, x) -> acc + x) % 10 = 0"))
      .select("doc_id", "pan", "luhn_valid")
      .orderBy("doc_id")
  }

  /** Classifier CALIBRATION sweep: bucket a score column, then report
    * per-threshold precision / recall / F1 against a binary label — the
    * threshold-picking step every classifier-based quality or language
    * filter needs before it gates a corpus (fastText-style filtering à la
    * GPT-3/CCNet: you never apply the classifier at its default cutoff,
    * you sweep thresholds on a labeled slice and pick the operating
    * point). Also emits the per-bucket positive rate, i.e. the
    * reliability-diagram curve.
    *
    * Shape: one corpus-wide aggregation to `buckets` rows, then the
    * cumulative precision/recall windows run over the BUCKET table only —
    * bounded by construction, never the corpus (registered in the
    * unpartitioned-window audit with that bound).
    *
    * Determinism: buckets are assigned in exact INTEGER arithmetic —
    * `(hits * buckets) div n_tokens` — never `floor(ratio * buckets)`,
    * whose double product can land an ulp under an integer boundary and
    * flip a bucket between engines. Ratios round to 6dp; the recall
    * denominator is guarded so a positive-free corpus yields NULL in
    * both engines rather than Spark-NULL-vs-DuckDB-inf. */
  def calibrationSweep(docs: DataFrame, posLabel: Column, hits: Column,
      total: Column, buckets: Int): DataFrame = {
    // NULL discipline, both mirrored in the oracle: a NULL label counts
    // as NOT-positive (coalesce to 0 — a null-skipping sum would turn an
    // all-null bucket into n_pos=NULL), and an unscorable row (null
    // score components) lands in bucket 0, the no-evidence floor —
    // without the coalesce, Spark's null-skipping least(NULL, B-1)
    // would promote it to the TOP-confidence bucket
    val g = docs
      .select(hits.cast("long").as("h"), total.cast("long").as("tot"),
        coalesce(posLabel.cast("int"), lit(0)).as("y"))
      .select(least(coalesce(expr(s"(h * $buckets) div tot"), lit(0L)),
        lit(buckets - 1L))
        .cast("long").as("bucket"), col("y"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("n_pos"))
    val desc = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    g.withColumn("pred_pos", sum(col("n")).over(desc))
      .withColumn("tp", sum(col("n_pos")).over(desc))
      .withColumn("p_total", sum(col("n_pos")).over(full))
      .select(
        round(col("bucket").cast("double") / buckets, 6).as("threshold"),
        col("n"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n"), 6).as("pos_rate"),
        round(col("tp").cast("double") / col("pred_pos"), 6).as("precision"),
        when(col("p_total") > 0,
          round(col("tp").cast("double") / col("p_total"), 6)).as("recall"),
        round(lit(2.0) * col("tp") / (col("pred_pos") + col("p_total")), 6)
          .as("f1"))
  }

  /** Oracle-checked: the one-feature English detector (EN-stopword hit
    * ratio) swept over 20 thresholds against the true lang column. */
  def qCalibration(s: SparkSession, d: String): DataFrame = {
    val enHits = size(filter(words, w => w.isInCollection(Stopwords.en)))
    calibrationSweep(documents(s, d), col("lang") === "en",
      enHits, size(words), buckets = 20)
      .orderBy("threshold")
  }

  // --------------------------------------- trained quality classifier

  /** Logistic-regression trainer over hashed token features — the
    * fastText-style LEARNED corpus filter (quality/language/domain
    * classifiers trained on corpus scale data are the step beyond the
    * closed-form Naive Bayes of [[nbClassify]]: NB counts, this one
    * optimizes). Batch gradient descent: each iteration is ONE
    * map-side-combined aggregation over the feature frame (9 decimal
    * sums), weights travel driver -> executors as expression literals —
    * the Lloyd/PageRank iteration discipline, cost per step independent
    * of model dimension growth in the plan.
    *
    * Cross-engine exactness (the PageRank discipline, extended to a
    * trained model): features are 6dp-rounded exact divisions; the
    * sigmoid is the RATIONAL surrogate 0.5 + z/(2(1+|z|)) — only
    * +,-,*,/,abs, which IEEE 754 pins bit-identically across engines
    * (libm exp() does NOT round-trip engines, so the classic logistic
    * would break the hash gate); per-doc products are summed as
    * DECIMAL(28,12) (a product of two 6dp values needs <= 12 decimal
    * places, so the cast is exact on dyadic values and unambiguous on
    * inexact ones); weight updates round half-up to 6dp each step. The
    * DuckDB oracle replays the ENTIRE training loop as unrolled
    * MATERIALIZED CTEs generated from the same constants. */
  val LogitBuckets = 8
  val LogitIters = 10
  val LogitLr = 1.0

  /** ENGINE-FREE 6dp rounding: floor(x·1e6 + 0.5)/1e6 — multiply, add,
    * floor, divide are all IEEE-pinned, so every engine lands on the
    * same double. `round(x, 6)` is NOT portable on this operator's
    * values: Spark rounds the SHORTEST decimal representation
    * (BigDecimal.valueOf) while DuckDB rounds the true binary, and a
    * surrogate-sigmoid score whose shortest form ends in ...5 splits
    * them (observed at sf0.1: 0.4331395 -> 0.433140 vs 0.433139). */
  private def r6(x: Column): Column = floor(x * lit(1e6) + lit(0.5)) / lit(1e6)
  private def round6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** Pivoted hashed features: x0..x7 = bucket-j token share (6dp), one
    * row per doc with non-empty text. The label DISTILLS the rule-based
    * quality signal (en-stopword ratio >= 1/15, integer-exact — the
    * q_calibration signal at a class-balancing threshold) into the
    * learned model: the weak-supervision shape real quality classifiers
    * train with (cheap rule labels a corpus, the model generalizes).
    * The rule is learnable-but-not-trivial from the features: the seven
    * marker tokens hash into specific buckets, but every bucket also
    * collects colliding non-markers, so GD has signal AND noise — the
    * synthetic corpus' lang column, by contrast, is independent of its
    * text (measured: identical stopword shares across langs), so no
    * text model could beat constant prediction on it. */
  def logitFeatures(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      .select(col("doc_id"),
        pmod(fingerprint(col("tok")), lit(LogitBuckets.toLong)).as("j"),
        col("tok").isInCollection(Stopwords.en).cast("long").as("st"))
    val aggs = count(lit(1)).as("nt") +: sum(col("st")).as("hits") +:
      (0 until LogitBuckets).map(j =>
        sum(when(col("j") === j, 1L).otherwise(0L)).as(s"c$j"))
    val counted = toks.groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("y", (lit(15L) * col("hits") >= col("nt")).cast("int"))
    (0 until LogitBuckets).foldLeft(counted) { (df, j) =>
      df.withColumn(s"x$j",
        r6(col(s"c$j").cast("double") / col("nt").cast("double")))
    }.select(col("doc_id") +: col("y") +:
      (0 until LogitBuckets).map(j => col(s"x$j")): _*)
  }

  /** Standardize the hashed features: x'j = (xj - mean_j)/max(sd_j, 1e-6),
    * everything 6dp floor-rounded. Conditioning is what makes 10 GD
    * iterations reach the linear ceiling (raw shares average 1/8 with
    * tiny variance — unstandardized, the same accuracy needed 160
    * iterations at a divergence-prone learning rate; measured in the
    * round-6 tuning sweep). Portability: the moment sums are DECIMAL
    * (exact, order-free) and sqrt is IEEE-754 correctly rounded — unlike
    * exp/ln, sqrt is safe in a hash-gated expression. */
  def logitStandardize(feat: DataFrame): DataFrame = {
    val aggs = count(lit(1)).as("n") +: (0 until LogitBuckets).flatMap(j => Seq(
      sum(col(s"x$j").cast("decimal(18,6)")).as(s"s$j"),
      sum((col(s"x$j") * col(s"x$j")).cast("decimal(28,12)")).as(s"q$j")))
    val row = feat.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(0).toDouble
    if (n == 0) return feat // empty corpus: nothing to standardize
    val stats = (0 until LogitBuckets).map { j =>
      val m1 = round6(row.getDecimal(1 + 2 * j).doubleValue / n)
      val m2 = round6(row.getDecimal(2 + 2 * j).doubleValue / n)
      val sd = round6(math.sqrt(math.max(0.0, m2 - m1 * m1)))
      (m1, math.max(sd, 1e-6))
    }
    (0 until LogitBuckets).foldLeft(feat) { (df, j) =>
      df.withColumn(s"x$j", r6((col(s"x$j") - lit(stats(j)._1)) / lit(stats(j)._2)))
    }
  }

  private def zExprN(w: Array[Double], b: Int): Column =
    r6((0 until b).map(j => col(s"x$j") * lit(w(j)))
      .reduce(_ + _) + lit(w(b)))

  private def zExpr(w: Array[Double]): Column = zExprN(w, LogitBuckets)

  private def pExpr(z: Column): Column =
    r6(lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z))))

  /** Surrogate-sigmoid score column for learned weights over features
    * x0..x{b-1} + bias — the reusable scoring head (the caption scorer
    * classifies with it). */
  private[operators] def logisticScoreN(w: Array[Double], b: Int): Column =
    pExpr(zExprN(w, b))

  /** The GD loop over ANY (y, x0..x{b-1}) frame — the q_logistic
    * machinery generalized so other trained screens (the caption
    * scorer) reuse it verbatim: surrogate sigmoid (IEEE-pinned ops
    * only), DECIMAL(28,12) gradient sums, 6dp half-up weight updates.
    * `feat` should be localCheckpoint'ed by the caller — each iteration
    * scans it. */
  def logisticTrainN(feat: DataFrame, b: Int, iters: Int, lr: Double,
      driverRowBudget: Long = 1L << 17): Array[Double] = {
    // SMALL-CORPUS FAST PATH (the nearDupClusters discipline): under the
    // row budget the GD loop runs on the collected feature rows with the
    // SAME arithmetic — IEEE surrogate sigmoid, exact DECIMAL(·,12)
    // gradient sums (valueOf + HALF_UP, what Spark's double->decimal cast
    // does), 6dp floor-form weight updates — replacing `iters` aggregate
    // job waves with one take(). Bit-identical to the distributed loop
    // (spec'd in TextSearchSpec with the forced-distributed path);
    // a corpus-scale feature frame takes the loop below unchanged.
    val cols = col("y").cast("double") +: (0 until b).map(j => col(s"x$j"))
    Scope.collectWithin(feat.select(cols: _*), driverRowBudget) match {
      case Some(taken) =>
        var w = Array.fill(b + 1)(0.0)
        if (taken.isEmpty) return w // empty corpus: zero model
        val n = taken.length.toDouble
        val hu = java.math.RoundingMode.HALF_UP
        def dec12(x: Double) = java.math.BigDecimal.valueOf(x).setScale(12, hu)
        var it = 0
        while (it < iters) {
          val g = Array.fill(b + 1)(java.math.BigDecimal.ZERO)
          // a null label or feature nulls the row's error, which every
          // gradient sum then skips (it still counts in n)
          taken.filterNot(_.anyNull).foreach { r =>
            // zExprN's left-associated reduce, then + bias, then 6dp
            var acc = r.getDouble(1) * w(0)
            var j = 1
            while (j < b) { acc = acc + r.getDouble(j + 1) * w(j); j += 1 }
            val z = round6(acc + w(b))
            val p = round6(0.5 + z / (2.0 * (1.0 + math.abs(z))))
            val err = p - r.getDouble(0)
            j = 0
            while (j < b) { g(j) = g(j).add(dec12(err * r.getDouble(j + 1))); j += 1 }
            g(b) = g(b).add(dec12(err))
          }
          w = Array.tabulate(b + 1)(j => round6(w(j) - lr * g(j).doubleValue / n))
          it += 1
        }
        return w
      case None =>
    }
    val n = feat.count().toDouble
    var w = Array.fill(b + 1)(0.0)
    if (n == 0) return w // empty corpus: zero model, not a 0/0 NPE
    var it = 0
    while (it < iters) {
      val err = pExpr(zExprN(w, b)) - col("y") // p is 6dp, y integer: exact
      val gradAggs = (0 until b).map(j =>
        sum((err * col(s"x$j")).cast("decimal(28,12)")).as(s"g$j")) :+
        sum(err.cast("decimal(28,12)")).as("gb")
      val row = feat.agg(gradAggs.head, gradAggs.tail: _*).head()
      // a sum over only null errors is null: no gradient
      w = Array.tabulate(b + 1) { j =>
        round6(w(j) - lr * Option(row.getDecimal(j)).fold(0.0)(_.doubleValue) / n)
      }
      it += 1
    }
    w
  }

  /** Train: returns the 6dp weight vector (x0..x7 then bias). */
  def logisticTrain(feat: DataFrame, iters: Int = LogitIters): Array[Double] =
    logisticTrainN(feat, LogitBuckets, iters, LogitLr)

  /** Oracle-gated train + score: [[LogitIters]] GD iterations on the
    * documents table,
    * then every doc scored with the learned weights. The oracle REPLAYS
    * TRAINING ITSELF (unrolled MATERIALIZED CTE iterations generated
    * from the same constants — the q_pagerank/q_bpe_train pattern), so a
    * defect anywhere in the loop (feature hash, surrogate sigmoid,
    * gradient sum, update rounding) hash-mismatches. */
  def qLogistic(s: SparkSession, d: String): DataFrame = {
    val raw = logitFeatures(Tables.rebalance(documents(s, d), "doc_id"))
      .localCheckpoint()
    val feat = logitStandardize(raw).localCheckpoint()
    val w = logisticTrain(feat)
    val p = pExpr(zExpr(w))
    feat.select(col("doc_id"), col("y"), p.as("score"),
        (p >= 0.5).as("pred"))
      .withColumn("hit", col("pred") === (col("y") === 1))
      .orderBy("doc_id")
  }

  // ------------------------------------ compression-ratio quality signal

  /** Deflate length of `bytes` at fixed settings (level 6, zlib wrapper)
    * — pure JDK, deterministic for a given input on a given deflater
    * build. */
  def deflateLen(bytes: Array[Byte]): Int = {
    val d = new java.util.zip.Deflater(6)
    try {
      d.setInput(bytes); d.finish()
      val buf = new Array[Byte](8192)
      var n = 0
      while (!d.finished()) n += d.deflate(buf)
      n
    } finally d.end()
  }

  /** Compression-ratio quality screen — the cheap degenerate-text
    * detector production pipelines run alongside the Gopher repetition
    * ratios (highly repetitive/templated text compresses far better
    * than natural text; both extremes get filtered). The RATIO itself
    * cannot cross the hash gate (deflate output depends on the zlib
    * build), so the declared surface is the [[qApproxDistinct]]
    * tolerance pattern: exact byte counts plus booleans the oracle pins
    * TRUE —
    *   - `compress_ok`: 0 < deflate(text) <= n_bytes + 64 (the deflate
    *     stored-block expansion bound);
    *   - `rep_detected`: for docs >= 64 bytes, deflate(text x 4) <
    *     2 * deflate(text) — the three appended copies land inside the
    *     32 KB LZ77 window and MUST collapse to matches; a ratio that
    *     fails this means the codec is not seeing repetition at all.
    * Narrow per-row pass; nothing shuffles. */
  def compressionSignals(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, t0) =>
          val t = if (t0 == null) "" else t0
          val bytes = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val n = bytes.length
          val dl = deflateLen(bytes)
          // expansion bound per the deflate spec: 5 bytes of stored-block
          // header per 64 KB block + zlib wrapper — NOT a flat 64, which
          // an incompressible multi-block doc would exceed
          val compressOk = dl > 0 && dl <= n + 11 + 5 * (n / 65535 + 1) + 64
          // the quad-repetition property only holds while all four copies
          // fit match distances inside the 32 KB LZ77 window: assert it
          // only for 64 B <= n <= 8 KB (4n <= 32 KB), TRUE outside
          val repDetected = n < 64 || n > 8192 || {
            val quad = (t * 4).getBytes(java.nio.charset.StandardCharsets.UTF_8)
            deflateLen(quad) < 2 * dl
          }
          (id, n.toLong, compressOk, repDetected)
        }
      }
      .toDF("doc_id", "n_bytes", "compress_ok", "rep_detected")
  }

  def qCompressRatio(s: SparkSession, d: String): DataFrame =
    compressionSignals(Tables.rebalance(documents(s, d), "doc_id"))
      .orderBy("doc_id")

  // ----------------------------- multi-pattern blocklist scan (Aho-Corasick)

  /** The phrase blocklist for the gate: fixed phrases from the corpus
    * vocabulary, INCLUDING a pattern ("park") that only ever occurs as a
    * proper suffix inside another token ("spark") — matched exclusively
    * through the automaton's fail links, which a naive trie-restart
    * scanner misses. No pattern has a non-empty border (proper
    * prefix = suffix), and the oracle counts by position scan anyway, so
    * overlap semantics cannot diverge. */
  val BlocklistPatterns: Seq[String] =
    Seq("batch window", "fast table", "park", "slow filter", "spark", "value part")

  /** Multi-pattern blocklist scan — the toxicity/banned-phrase filter
    * every ingestion pipeline runs before training. One Aho-Corasick
    * automaton over the whole dictionary gives a SINGLE O(n) pass per
    * document regardless of dictionary size — per-pattern `contains`
    * scans are O(n·|dict|) and melt at a 10k-phrase blocklist.
    *
    * Scale shape: the automaton is the broadcast dim (built once at the
    * driver from the tiny dictionary, shipped in the task closure like
    * the tokenizer vocabs); the corpus is touched by ONE narrow
    * mapPartitions — no shuffle until the output sort. A 10k-phrase
    * production list changes only the automaton size (~Σ|pattern|
    * nodes), not the plan. */
  def blocklistHits(docs: DataFrame, patterns: Seq[String]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val pats = patterns.toArray
    val ac = AhoCorasick.build(pats)
    Tables.rebalance(docs, "doc_id")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, t) =>
          val counts = ac.countMatches(t)
          counts.iterator.zipWithIndex.collect {
            case (c, i) if c > 0 => (id, pats(i), c.toLong)
          }
        }
      }
      .toDF("doc_id", "pattern", "n_hits")
  }

  /** Oracle-checked blocklist scan: per (doc, pattern) occurrence counts
    * over the fixed dictionary (all occurrences, overlapping included —
    * the automaton reports every match end; the oracle counts every
    * matching position). */
  def qBlocklist(s: SparkSession, d: String): DataFrame =
    blocklistHits(documents(s, d), BlocklistPatterns)
      .orderBy("doc_id", "pattern")

  /** Corpus stats rollup: per (lang, source-bucket) aggregate of the
    * quality signals — the "dataset card" numbers of a training corpus. */
  def qTextStats(s: SparkSession, d: String): DataFrame =
    withTokenCounts(documents(s, d))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_tokens")).as("total_tokens"),
        round(sum(col("n_chars")).cast("double") / count(lit(1)), 6).as("avg_chars"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      .orderBy("lang")

  // ----------------------------------- ROUGE n-gram overlap (eval metric)

  /** ROUGE-N overlap between candidate/reference text pairs — the n-gram
    * eval metric every summarization/generation harness computes, here as
    * a distributed operator: pairs form within each lang (consecutive
    * docs in doc_id order, role 0 = candidate / role 1 = reference — the
    * synthetic stand-in for a (generation, gold) table), overlaps are
    * CLIPPED multiset intersections (sum of per-gram min counts, the
    * ROUGE definition), and precision/recall are exact integer divisions.
    * F1 chains doubles, so it rounds via floor(x*1e6 + 0.5)/1e6 — the
    * engine-portable form (SCALE finding 16: `round` on a chained double
    * computation is NOT portable; single-division results are).
    *
    * Scale shape: texts never pair up — each side collapses to per-doc
    * n-gram COUNTS first (one narrow explode), and the overlap is a
    * (lang, pair, gram)-keyed join of those counts with map-side partial
    * aggregation, the contamination-join discipline. The ranking window
    * that forms pairs runs over two slim columns. */
  def rougePairs(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val base = Tables.rebalance(docs, "doc_id")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        filter(split(trim(col("text")), "\\s+"), w => w =!= "").as("toks"))
      .filter(size(col("toks")) >= 2)
    // pair formation over slim columns only (doc_id, lang)
    val w = Window.partitionBy("lang").orderBy("doc_id")
    val roles = base.select(col("doc_id"), col("lang"))
      .withColumn("rn", row_number().over(w) - 1)
      .select(col("doc_id"), col("lang"),
        (col("rn") / 2).cast("long").as("pair_id"), (col("rn") % 2).as("role"))
    val toks = base.join(roles, Seq("doc_id", "lang"))
    def gramCounts(n: Int) = {
      val grams =
        if (n == 1) explode(col("toks")).as("gram")
        else explode(expr(
          "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))"))
          .as("gram")
      toks.select(col("lang"), col("pair_id"), col("role"), col("doc_id"),
          size(col("toks")).as("n_toks"), grams)
        .groupBy("lang", "pair_id", "role", "doc_id", "n_toks", "gram")
        .agg(count(lit(1)).as("c"))
    }
    def overlap(n: Int, name: String) = {
      val g = gramCounts(n)
      val cand = g.filter(col("role") === 0)
        .select(col("lang"), col("pair_id"), col("gram"), col("c").as("ca"))
      val ref = g.filter(col("role") === 1)
        .select(col("lang"), col("pair_id"), col("gram"), col("c").as("cr"))
      cand.join(ref, Seq("lang", "pair_id", "gram"))
        .groupBy("lang", "pair_id")
        .agg(sum(least(col("ca"), col("cr"))).as(name))
    }
    val pairs = roles.filter(col("role") === 0)
      .select(col("lang"), col("pair_id"), col("doc_id").as("cand_id"))
      .join(roles.filter(col("role") === 1)
        .select(col("lang"), col("pair_id"), col("doc_id").as("ref_id")),
        Seq("lang", "pair_id")) // inner: odd tail docs have no reference
    val lens = base.select(col("doc_id"), size(col("toks")).as("n"))
    // F1's 2PR/(P+R) is a chained double computation: identical IEEE ops
    // on identical inputs in both engines, then the portable floor-round
    def f1(o: Column, na: Column, nr: Column): Column = {
      val p = o.cast("double") / na
      val r = o.cast("double") / nr
      when(o === 0, lit(0.0))
        .otherwise(floor((lit(2.0) * p * r / (p + r)) * 1e6 + 0.5) / 1e6)
    }
    pairs
      .join(lens.select(col("doc_id").as("cand_id"), col("n").as("n_cand")), Seq("cand_id"))
      .join(lens.select(col("doc_id").as("ref_id"), col("n").as("n_ref")), Seq("ref_id"))
      .join(overlap(1, "o1"), Seq("lang", "pair_id"), "left")
      .join(overlap(2, "o2"), Seq("lang", "pair_id"), "left")
      .na.fill(0L, Seq("o1", "o2"))
      .select(col("lang"), col("pair_id"), col("cand_id"), col("ref_id"),
        col("n_cand"), col("n_ref"), col("o1"), col("o2"),
        round(col("o1").cast("double") / col("n_cand"), 6).as("r1_precision"),
        round(col("o1").cast("double") / col("n_ref"), 6).as("r1_recall"),
        f1(col("o1"), col("n_cand"), col("n_ref")).as("r1_f1"),
        round(col("o2").cast("double") / (col("n_cand") - 1), 6).as("r2_precision"),
        round(col("o2").cast("double") / (col("n_ref") - 1), 6).as("r2_recall"),
        f1(col("o2"), col("n_cand") - 1, col("n_ref") - 1).as("r2_f1"))
  }

  /** Oracle-checked ROUGE: the DuckDB oracle replays pair formation, the
    * clipped-count overlap joins and every metric (single-division
    * round(6); F1 in the portable floor form) — a clipping slip, an
    * off-by-one bigram window or a zero-overlap NaN all hash-mismatch. */
  def qRouge(s: SparkSession, d: String): DataFrame =
    rougePairs(documents(s, d))
      .orderBy("lang", "pair_id")

  // ------------------------- Cohen's kappa (classifier/annotator agreement)

  /** Cohen's kappa between the corpus labels and the lang-ID prediction —
    * the chance-corrected agreement statistic annotation-QC and
    * classifier-eval pipelines report next to raw accuracy (a skewed
    * label distribution makes accuracy flatter itself; kappa does not).
    * Observed agreement po and expected agreement pe are each ONE exact
    * integer division (diag / N and Σ rowTotal·colTotal / N² — counts
    * stay in Long, so both engines divide identical integers); kappa
    * chains those doubles and therefore rounds via the portable
    * floor(x·1e6 + 0.5)/1e6 form (SCALE finding 16). pe = 1 (a single
    * label on both sides) is defined as kappa 0.
    *
    * Scale shape: two map-side-combined aggregations over scalar label
    * columns plus a |labels|-sized totals join — the corpus contributes
    * one narrow pass. */
  def kappa(labeled: DataFrame, truthCol: String, predCol: String): DataFrame = {
    val base = labeled.select(col(truthCol).as("t"), col(predCol).as("p"))
    // coalesce: sum over ZERO rows is NULL, and the oracle states 0 —
    // the empty corpus must agree too (EmptyInputSpec discipline)
    val agg1 = base.agg(count(lit(1)).as("n"),
      coalesce(sum(when(col("t") === col("p"), 1L).otherwise(0L)), lit(0L))
        .as("n_agree"))
    val rt = base.groupBy("t").agg(count(lit(1)).as("nt"))
    val ct = base.groupBy("p").agg(count(lit(1)).as("np"))
    val peNum = rt.join(ct, col("t") === col("p"))
      .agg(coalesce(sum(col("nt") * col("np")), lit(0L)).as("pe_num"))
    agg1.crossJoin(peNum)
      .select(col("n"), col("n_agree"),
        // n = 0 guards: ANSI mode makes division by zero THROW (Spark 4
        // default), and the empty corpus must return a zero row, not err
        when(col("n") === 0, lit(0.0))
          .otherwise(round(col("n_agree").cast("double") / col("n"), 6)).as("po"),
        when(col("n") === 0, lit(0.0))
          .otherwise(round(col("pe_num").cast("double") / (col("n") * col("n")), 6)).as("pe"),
        when(col("pe_num") === col("n") * col("n"), lit(0.0))
          .otherwise(floor(
            ((col("n_agree").cast("double") / col("n") -
              col("pe_num").cast("double") / (col("n") * col("n"))) /
              (lit(1.0) - col("pe_num").cast("double") / (col("n") * col("n"))))
              * 1e6 + 0.5) / 1e6)
          .as("kappa"))
  }

  /** Oracle-checked kappa over (lang, lang_pred) — the oracle replays the
    * confusion totals, both exact divisions and the floor-form kappa. */
  def qKappa(s: SparkSession, d: String): DataFrame =
    kappa(withLangId(Tables.rebalance(documents(s, d), "doc_id")),
      "lang", "lang_pred")

  /** Corpus-level distinct-n diversity (Li et al. 2016, "A
    * Diversity-Promoting Objective Function for Neural Conversation
    * Models"): for n = 1..3, the count of distinct word n-grams over the
    * count of all n-gram tokens — the degenerate-corpus detector a
    * generation pipeline reports next to ROUGE (mode collapse drives it
    * toward 0). Positional n-grams WITH multiplicity (the repetition-op
    * discipline: word_ngrams would dedup); one explode per n, each
    * collapsing map-side; the ratio is a single integer division
    * rounded 6dp (portable). */
  def distinctN(docs: DataFrame, maxN: Int = 3): DataFrame = {
    val base = Tables.rebalance(docs, "doc_id")
      .select(split(trim(col("text")), "\\s+").as("words"))
      .filter(size(col("words")) >= 1)
    (1 to maxN).map { n =>
      val grams = base.filter(size(col("words")) >= n)
        .select(explode(transform(sequence(lit(1), size(col("words")) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(k =>
            element_at(col("words"), i + k)): _*))).as("g"))
      grams.agg(
        lit(n).as("n"),
        count(lit(1)).as("total"),
        countDistinct(col("g")).as("n_distinct"))
        .select(col("n"), col("total"), col("n_distinct"),
          round(col("n_distinct").cast("double") / col("total"), 6).as("distinct_ratio"))
    }.reduce(_ unionByName _)
  }

  /** Oracle-checked distinct-n over the documents table. */
  def qDistinctN(s: SparkSession, d: String): DataFrame =
    distinctN(documents(s, d)).orderBy("n")
}

/** Marker/stopword sets used by quality + language-ID scoring. */
object Stopwords {
  val en: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")
  val es: Seq[String] = Seq("el", "la", "de", "y", "en", "es", "un")
  val de: Seq[String] = Seq("der", "die", "das", "und", "ist", "ein", "zu")
  val fr: Seq[String] = Seq("le", "la", "et", "de", "un", "est", "en")
}
