package graft.operators

import graft.engine.Tables
import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relevance ranking and cross-corpus overlap over the documents table:
  * TF-IDF term weighting, BM25 keyword search, and benchmark-contamination
  * detection. (Extensions beyond the reference per BASELINE.json's
  * training-data north star; the reference's only text retrieval is the
  * exact-name lookup, data_ingestion.py:328-334.)
  *
  * Scale design: everything is postings-list algebra — explode to
  * (doc, term) rows, aggregate by key, join narrow term statistics back.
  * No per-document iteration, no driver-side scoring; document frequency
  * tables are tiny relative to the corpus (vocabulary-sized) and broadcast.
  * Determinism: scores combine EXACT integer counts in double arithmetic
  * with the same expression shape as the oracle SQL (IEEE ops on identical
  * inputs), rounded to 6 places before any ranking, and ranking ties break
  * on the term string.
  */
object TextSearch {
  import Tables._

  /** (doc_id, term) token postings with per-document length. */
  private def postings(docs: DataFrame): DataFrame =
    Tables.rebalance(docs, "doc_id")
      .select(col("doc_id"), GraftFunctions.words(col("text")).as("words"))
      .select(col("doc_id"), size(col("words")).cast("long").as("dl"),
        explode(col("words")).as("term"))

  /** Per-(doc, term) frequency + per-term document frequency. `nDocs` is
    * passed in (one cheap metadata-only count on the caller's side) so the
    * plan needs no 1-row cross join, which the engine's plan audit bans. */
  def tfIdf(docs: DataFrame, nDocs: Long): DataFrame = {
    val tf = postings(docs).groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), Seq("term"))
      .withColumn("score", round(col("tf") * log(lit(nDocs.toDouble) / col("df")), 6))
  }

  /** Top-3 TF-IDF terms per document (rank ties broken by term — the
    * rounded score is what's ranked, in both engines). */
  def qTfidf(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val n = docs.count()
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tfIdf(docs, n)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("score"))
      .orderBy("doc_id", "rank")
  }

  /** BM25 scoring of a fixed term set (k1=1.2, b=0.75, the standard
    * Robertson/Sparck Jones idf with +1 inside the log so it stays
    * positive). `nDocs`/`avgdl` come from one aggregate on the caller's
    * side; both are embedded as literals so the per-document math is a
    * narrow broadcast-join + fold. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  def bm25(docs: DataFrame, terms: Seq[String], nDocs: Long, avgdl: Double): DataFrame = {
    val tf = postings(docs)
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // literals are written exactly as the oracle SQL writes them (2.2, not
    // Bm25K1 + 1 — the Scala double sum 1.2 + 1 need not equal the parsed
    // literal 2.2 in the last ulp)
    val idf: Column = log(lit(1.0) + (lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5))
    val norm: Column = lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / lit(avgdl))
    // fixed-order summation: a float sum over a shuffled group is
    // order-dependent in the last ulp, which would make the score depend
    // on partitioning. The term set is a fixed literal list, so pivot the
    // per-term parts into columns and add them in declaration order —
    // bit-identical on any cluster layout and in the oracle.
    val parts = tf.join(broadcast(dfreq), Seq("term"))
      .withColumn("part", idf * (col("tf") * lit(2.2)) / (col("tf") + norm))
      .groupBy("doc_id").pivot("term", terms).agg(max(col("part")))
    val total = terms.map(t => coalesce(col(s"`$t`"), lit(0.0))).reduceLeft(_ + _)
    parts.select(col("doc_id"), round(total, 6).as("bm25"))
  }

  /** Top-20 documents for the query {"spark", "merge", "window"}. */
  val Bm25Query: Seq[String] = Seq("spark", "merge", "window")

  def qBm25(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val r = docs.agg(count(lit(1)),
      sum(size(GraftFunctions.words(col("text"))).cast("long"))).head()
    val n = r.getLong(0)
    val avgdl = r.getLong(1).toDouble / n
    bm25(docs, Bm25Query, n, avgdl)
      .orderBy(col("bm25").desc, col("doc_id")).limit(20)
      .select(col("doc_id"), col("bm25"))
  }

  /** Positional phrase search: exact-adjacency match of a multi-word
    * phrase via positional postings — the operator behind "find every
    * document containing this exact passage" (license boilerplate,
    * canary strings, benchmark prompts) that substring LIKE cannot do at
    * scale (no pushdown, no postings reuse).
    *
    * Shape: tokenize with positions, prune the token stream to the
    * phrase's own vocabulary BEFORE any exchange (the postings that
    * survive are df-bounded, not corpus-bounded), anchor each term's
    * positions to its candidate phrase START (pos - term offset), and
    * inner-join all k postings on (doc_id, start) — after the first
    * shuffle every join is co-partitioned on the same key. Occurrences
    * then collapse to one row per document. Never a corpus-wide join;
    * the worst case is the df of the phrase's most common term. */
  def phraseSearch(docs: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "phrase must have at least one term")
    val toks = docs
      .select(col("doc_id"), posexplode(GraftFunctions.words(col("text"))))
      .filter(col("col").isin(terms.distinct: _*))
      .select(col("doc_id"), col("pos"), col("col").as("term"))
    val parts = terms.zipWithIndex.map { case (t, i) =>
      toks.filter(col("term") === t)
        .select(col("doc_id"), (col("pos") - i).as("start"))
    }
    parts.reduce { (a, b) => a.join(b, Seq("doc_id", "start")) }
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"),
        min(col("start")).cast("long").as("first_pos"))
  }

  def qPhraseSearch(s: SparkSession, d: String): DataFrame =
    phraseSearch(documents(s, d), Seq("part", "filter")).orderBy("doc_id")

  /** Benchmark-contamination check: which corpus documents share at least
    * `minCommon` word-3-gram shingles with any document of the held-out
    * benchmark set? The join runs on the inverted shingle postings
    * (shingle -> doc), never document-to-document — the same sub-quadratic
    * shape as the exact dedup path; the benchmark side is the small
    * relation and its postings broadcast. */
  def contamination(corpus: DataFrame, bench: DataFrame, minCommon: Long): DataFrame = {
    def sh(df: DataFrame): DataFrame =
      Tables.rebalance(df, "doc_id")
        .select(col("doc_id"), GraftFunctions.words(col("text")).as("words"))
        .filter(size(col("words")) >= 3)
        .select(col("doc_id"),
          explode(Dedup.shinglesFromWords(col("words"))).as("shingle"))
    sh(corpus).select(col("doc_id"), col("shingle"))
      .join(broadcast(sh(bench).select(col("doc_id").as("bench_id"), col("shingle"))),
        Seq("shingle"))
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_bench_docs"),
        max(col("common")).as("max_overlap"))
  }

  /** Contamination of the corpus (sources != src0) against the src0 slice
    * treated as the benchmark set. */
  def qContamination(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    contamination(docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"), minCommon = 3L)
      .orderBy("doc_id")
  }

  /** BLOOM-prefiltered decontamination: [[contamination]] broadcasts the
    * benchmark's raw (bench_id, shingle) postings — right until the
    * benchmark suite grows past the broadcast budget (a 10^9-shingle
    * eval-suite union is ~tens of GB raw). This variant ships a BLOOM
    * FILTER of the benchmark shingles instead (~1.2 bytes/item at 3%
    * FPP, a 10-20x cut) and lets only corpus shingles that MIGHT be in
    * the benchmark reach the exact verify join — which then sees a few
    * percent of the corpus postings instead of all of them.
    *
    * Exactness is UNCONDITIONAL: a Bloom filter has no false negatives,
    * so prefilter + exact-verify returns bit-identical rows to the plain
    * exact join — the oracle replays the plain join and the bloom's
    * false positives must all die in the verify join for the gate to
    * pass. Plumbing: the bloom aggregates distributedly via Spark's
    * native codegen'd `bloom_filter_agg` over xxhash64(shingle), is
    * collected as ONE bounded binary scalar (the literal-centroid
    * discipline — `might_contain` requires a foldable filter argument),
    * and the membership test stays inside whole-stage codegen. */
  def bloomContamination(corpus: DataFrame, bench: DataFrame,
      minCommon: Long): DataFrame = {
    def sh(df: DataFrame): DataFrame =
      Tables.rebalance(df, "doc_id")
        .select(col("doc_id"), GraftFunctions.words(col("text")).as("words"))
        .filter(size(col("words")) >= 3)
        .select(col("doc_id"),
          explode(Dedup.shinglesFromWords(col("words"))).as("shingle"))
    // materialized once: the bloom aggregate and the verify join would
    // otherwise each re-tokenize and re-shingle the benchmark (the
    // nbClassify localCheckpoint discipline)
    val benchSh = sh(bench).select(col("doc_id").as("bench_id"), col("shingle"))
      .localCheckpoint()
    val bfRow = benchSh
      .agg(graft.functions.GraftFunctions
        .bloom_agg(xxhash64(col("shingle")), 100000L, 800000L).as("bf"))
      .head()
    val candidates =
      if (bfRow.isNullAt(0)) sh(corpus).limit(0) // empty benchmark: nothing to match
      else sh(corpus).filter(graft.functions.GraftFunctions.might_contain(
        lit(bfRow.getAs[Array[Byte]](0)), xxhash64(col("shingle"))))
    candidates
      .join(broadcast(benchSh), Seq("shingle"))
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_bench_docs"),
        max(col("common")).as("max_overlap"))
  }

  /** Oracle-checked: benchmark = a CONSTANT id-prefix slice of src0 (the
    * fixed-probe decontamination shape, SCALE finding 10), permissive
    * 1-shingle threshold so the verify join sees real volume. */
  def qBloomDecontam(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val inBench = col("source") === "src0" && col("doc_id") < 25
    bloomContamination(docs.filter(!inBench), docs.filter(inBench),
      minCommon = 1L)
      .orderBy("doc_id")
  }

  /** HEAVY HITTERS under a count-min sketch, oracle-gated like the HLL
    * and GK sketches (tolerance trick): the declared output is the exact
    * top-k token counts plus a boolean per token asserting the CMS
    * estimate respects its guarantee — never BELOW the true count
    * (structural: counters only overcount), and within eps·totalCount
    * above it (the 99%-confidence width bound). DuckDB replays the exact
    * counts and TRUE literals; a sketch regression fails the hash loudly.
    *
    * Why a pipeline wants it: one mergeable fixed-size sketch answers
    * "how often does token/URL/fingerprint X occur" for ANY x after one
    * pass — the streaming-side hot-key detector ([[Advanced.keySkew]]
    * computes the exact version when a full pass is affordable). The
    * sketch aggregates distributedly (Spark's native codegen'd
    * count_min_sketch aggregate); only the k probe lookups run on the
    * collected ~KB binary. */
  def qHeavyHitters(s: SparkSession, d: String): DataFrame =
    heavyHitters(documents(s, d), 20)

  /** The sketch-vs-exact check over any docs frame; empty input (or an
    * all-empty text column) yields zero rows. */
  def heavyHitters(docs: DataFrame, k: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // materialized once: the exact top-k job and the sketch job would
    // otherwise each re-tokenize the corpus
    val toks = Tables.rebalance(docs, "doc_id")
      .select(explode(GraftFunctions.words(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .localCheckpoint()
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("tok")).limit(k).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    if (exact.isEmpty)
      return Seq.empty[(String, Long, Boolean)]
        .toDF("tok", "exact_n", "cms_within_eps")
    val row = toks.agg(
      expr("count_min_sketch(tok, 0.001d, 0.99d, 42)").as("cms"),
      count(lit(1)).as("total")).head()
    val cms = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(row.getAs[Array[Byte]](0))
    val slack = math.ceil(0.001 * row.getLong(1)).toLong
    exact.toSeq.map { case (t, n) =>
      val est = cms.estimateCount(t)
      (t, n, est >= n && est - n <= slack)
    }.toDF("tok", "exact_n", "cms_within_eps")
      .orderBy(col("exact_n").desc, col("tok"))
  }

  /** Corpus-driven stopword induction: the top-k tokens by DOCUMENT
    * frequency (distinct per doc, so a single token-spamming document
    * cannot promote its tokens). One narrow explode + one vocabulary-sized
    * aggregate; the total sort runs over k rows. This is how a pipeline
    * derives the stopword list that [[TextAnalysis.withQuality]] consumes,
    * instead of hard-coding one per language. */
  def stopwordDf(docs: DataFrame, k: Int): DataFrame =
    Tables.rebalance(docs, "doc_id")
      .select(col("doc_id"), GraftFunctions.words(col("text")).as("words"))
      .select(col("doc_id"), explode(array_distinct(col("words"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token")).limit(k)

  def qStopwordDf(s: SparkSession, d: String): DataFrame =
    stopwordDf(documents(s, d), 20)

  /** Tokenizer-vocabulary induction, the first BPE step: count adjacent
    * character pairs inside words across the corpus — the most frequent
    * pair is the first merge a byte-pair encoder would learn (Sennrich et
    * al. 2016, public). Pair generation is a per-word character slide
    * (narrow, the compiled code-point n-gram kernel); the only shuffle is
    * the pair-count aggregate, which partial-aggregates map-side into at
    * most |alphabet|^2 keys. */
  def bpePairs(docs: DataFrame, k: Int): DataFrame =
    Tables.rebalance(docs, "doc_id")
      .select(explode(GraftFunctions.words(col("text"))).as("w"))
      .select(explode(GraftFunctions.ngrams(col("w"), 2)).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(k)

  def qBpePairs(s: SparkSession, d: String): DataFrame =
    bpePairs(documents(s, d), 20)

  /** BPE TRAINER: learn the first `nMerges` byte-pair merges over the
    * corpus (Sennrich et al. 2016) — [[bpePairs]] found only merge #1;
    * this runs the real loop: count adjacent segment pairs over the
    * current segmentation (weighted by word frequency), merge the most
    * frequent pair everywhere, repeat. One distributed pass collapses the
    * corpus to its (word, freq) vocabulary capped at the `maxVocab` most
    * frequent words (ties by word), then the merge loop runs DRIVER-SIDE
    * over that bounded table with incremental pair-count maintenance —
    * zero Spark jobs per merge, where a distributed loop pays one job +
    * one collect per merge (50k sequential jobs for a real vocab). This
    * is how production BPE trainers scale: they operate on a
    * word-frequency dict, not the corpus (Sennrich et al. 2016's
    * learn_bpe works the same way). Merge-count scaling: each merge
    * touches only the words containing the merged pair (incremental
    * re-count) plus one linear-in-distinct-pairs max scan; a 50k-merge
    * vocab over a capped dict is seconds of driver CPU, not 50k cluster
    * round-trips.
    *
    * Merge application is leftmost non-overlapping, as `replace` on the
    * space-delimited segmentation applies it (the oracle's engine runs
    * that replace): an immediately repeated pair ("l r l r") merges its
    * second occurrence on a LATER step, a documented, deterministic
    * variant of the reference algorithm. Ties break (count desc, left,
    * right) in UTF-8 byte order. The distributed form of the same loop
    * is the equality reference in the test sources; the cap does not
    * bind at gate scale, so the unrolled-CTE oracle verifies this one. */
  def bpeTrainLocal(docs: DataFrame, nMerges: Int, maxVocab: Int = 1 << 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = Tables.rebalance(docs, "doc_id")
      .select(explode(GraftFunctions.words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w")).limit(maxVocab)
      .collect()
    // words char-split exactly like `regexp_replace(w, "(.)", "$1 ")`
    val segs: Array[scala.collection.mutable.ArrayBuffer[String]] =
      rows.map(r => scala.collection.mutable.ArrayBuffer(
        r.getString(0).replaceAll("(.)", "$1 ").trim.split(" ").toIndexedSeq: _*))
    val freqs: Array[Long] = rows.map(_.getLong(1))
    // Spark string ordering is UTF-8 binary; JVM String.compareTo is
    // UTF-16 code units — they diverge on supplementary planes, so the
    // tie-break compares UTF-8 bytes explicitly
    def utf8Lt(a: String, b: String): Boolean = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      var i = 0
      while (i < x.length && i < y.length) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    val counts = scala.collection.mutable.HashMap[(String, String), Long]()
    val occurs = scala.collection.mutable.HashMap[(String, String),
      scala.collection.mutable.Set[Int]]()
    def countWord(i: Int, sign: Long): Unit = {
      val s = segs(i); var j = 0
      while (j < s.length - 1) {
        val p = (s(j), s(j + 1))
        val n = counts.getOrElse(p, 0L) + sign * freqs(i)
        if (n == 0L) counts.remove(p) else counts.update(p, n)
        if (sign > 0) occurs.getOrElseUpdate(p,
          scala.collection.mutable.Set.empty[Int]) += i
        j += 1
      }
    }
    segs.indices.foreach(countWord(_, 1L))
    // the string-replace merge: " l r " -> " lr " consumes the boundary
    // space, so the token AFTER a merge cannot start the next match —
    // an immediately repeated pair merges its second occurrence on a
    // later step (the documented variant above)
    def applyMerge(s: scala.collection.mutable.ArrayBuffer[String],
        l: String, r: String): scala.collection.mutable.ArrayBuffer[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var j = 0
      while (j < s.length) {
        if (j + 1 < s.length && s(j) == l && s(j + 1) == r) {
          out += (l + r); j += 2
          if (j < s.length) { out += s(j); j += 1 }
        } else { out += s(j); j += 1 }
      }
      out
    }
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var step = 1
    while (step <= nMerges && counts.nonEmpty) {
      var best: ((String, String), Long) = null
      counts.foreach { case e @ (p, n) =>
        if (best == null || n > best._2 ||
          (n == best._2 && (utf8Lt(p._1, best._1._1) ||
            (p._1 == best._1._1 && utf8Lt(p._2, best._1._2))))) best = e
      }
      val ((l, r), n) = best
      merges += ((step.toLong, l, r, n))
      val affected = occurs.getOrElse((l, r), scala.collection.mutable.Set.empty[Int])
      affected.toSeq.foreach { i =>
        countWord(i, -1L)
        segs(i) = applyMerge(segs(i), l, r)
        countWord(i, 1L)
      }
      // a pair whose count fell to zero keeps a stale occurs entry; that
      // is harmless (the max scan reads counts, not occurs)
      step += 1
    }
    merges.toSeq.toDF("step", "l_tok", "r_tok", "n")
  }

  /** Oracle-checked: the first 8 learned merges (the oracle unrolls the
    * same 8 iterations as CTE chains, generated from the same constant). */
  val BpeMerges = 8

  def qBpeTrain(s: SparkSession, d: String): DataFrame =
    bpeTrainLocal(documents(s, d), BpeMerges).orderBy("step")

  /** BPE ENCODER: apply learned merges to the corpus and report the
    * compression — the tokenizer-application step that turns text into
    * training tokens. Each document becomes ONE segmentation string
    * (words char-split, joined with a U+0001 boundary marker no merge
    * pattern can cross). The marker is in-band: the corpus must not
    * contain U+0001 itself — a control char no tokenizable text carries,
    * where the previous '|' collided with legitimate punctuation; a
    * production encoder would carry token ARRAYS instead of a flat
    * string.
    *
    * [[bpeEncode]] is ONE documented UDF driven by the learned merge
    * table, applying merges in rank order over a token buffer per
    * document — the same left-to-right boundary-consuming semantics as
    * the string replace, but the plan is constant-size in the vocabulary
    * (the merge table rides the closure, one broadcast per job,
    * ~vocab·avg-token-len bytes). Per-document work, no joins, no shuffle
    * beyond the final count. Its oracle-shaped twin, one Catalyst
    * `replace` column per merge, is the equality reference in the test
    * sources (TextSearchSpec asserts equality at the full learned-merge
    * depth): its plan GROWS with the vocabulary, so a real 50k-merge
    * vocab is a 50k-deep expression tree the analyzer/codegen cannot
    * survive. */
  val BpeBoundary: String = "\u0001"

  /** One left-to-right merge pass over a token buffer — the same
    * non-overlapping, boundary-space-consuming variant as the string
    * `replace(" l r ", " lr ")`: after a merge the NEXT token is copied
    * verbatim, so an immediately repeated pair merges its second
    * occurrence on a later step (matches the trainer's applyMerge). */
  private def mergePass(s: scala.collection.mutable.ArrayBuffer[String],
      l: String, r: String): scala.collection.mutable.ArrayBuffer[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](s.length)
    var j = 0
    while (j < s.length) {
      if (j + 1 < s.length && s(j) == l && s(j + 1) == r) {
        out += (l + r); j += 2
        if (j < s.length) { out += s(j); j += 1 }
      } else { out += s(j); j += 1 }
    }
    out
  }

  /** Scale-path encoder: single narrow pass, merge table in the closure. */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val table = merges.toArray
    val boundary = BpeBoundary
    // documented UDF (not expressible as a bounded Catalyst expression:
    // the merge loop is data-dependent): replicates the seg-string
    // semantics exactly, including the empty-text edge (trim then split
    // yields one empty token, which counts 1) and null passthrough
    val countTokens = udf { (text: String) =>
      if (text == null) null.asInstanceOf[java.lang.Long]
      else {
        var buf = new scala.collection.mutable.ArrayBuffer[String]()
        val words = text.trim.split("\\s+").filter(_.nonEmpty)
        var w = 0
        while (w < words.length) {
          if (w > 0) buf += boundary
          val cs = words(w); var c = 0
          while (c < cs.length) {
            buf += String.valueOf(cs.charAt(c))
            c += 1
          }
          w += 1
        }
        // presence-set skip: a merge whose left or right token is absent
        // from the buffer cannot fire — skip it with two hash lookups
        // instead of an O(len) pass. The set is a SUPERSET of live tokens
        // (merged-away tokens are not removed), so a needed pass is never
        // skipped and the output is bit-identical to the all-passes fold
        // (spec'd); per-document cost becomes O(len · applicable merges +
        // vocab lookups), not O(len · vocab) — the difference between a
        // 1k and a 50k vocabulary being usable
        val present = scala.collection.mutable.HashSet.empty[String]
        buf.foreach(present += _)
        var m = 0
        while (m < table.length) {
          val l = table(m)._1; val r = table(m)._2
          if (present.contains(l) && present.contains(r)) {
            val merged = mergePass(buf, l, r)
            if (merged.length != buf.length) present += (l + r)
            buf = merged
          }
          m += 1
        }
        val n = if (buf.isEmpty) 1L else buf.count(_ != boundary).toLong
        java.lang.Long.valueOf(n)
      }
    }
    Tables.rebalance(docs, "doc_id")
      .select(col("doc_id"), countTokens(col("text")).as("n_bpe_tokens"))
  }

  /** Oracle-checked: train 8 merges on the corpus, encode the corpus
    * with them (the oracle replays train + apply in one CTE chain). */
  def qBpeEncode(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val merges = bpeTrainLocal(docs, BpeMerges)
      .orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    bpeEncode(docs, merges).orderBy("doc_id")
  }

  /** Tokenizer FERTILITY per language — the multilingual tokenizer-
    * equity report (BPE tokens per word, chars per BPE token, by lang):
    * a vocabulary trained on head languages inflates tail languages'
    * token counts, silently taxing their context budget and training
    * FLOPs — the reason XLM-R-class vocabularies get rebalanced, and
    * the first table a multilingual data pipeline prints about its
    * tokenizer. Exactness: token/word/char counts are exact integers;
    * the two per-lang ratios are round-half-up integer divisions in
    * micros (all terms positive — bpeEncode emits ≥ 1 token per doc).
    * Scale: the q_bpe_encode shape (train once, one narrow encode pass)
    * plus one lang-keyed aggregation. */
  def tokFertility(docs: DataFrame): DataFrame = {
    val merges = bpeTrainLocal(docs, BpeMerges).orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val enc = bpeEncode(docs, merges) // (doc_id, n_bpe_tokens)
    docs.select(col("doc_id"), col("lang"),
        size(GraftFunctions.words(col("text"))).cast("long").as("n_words"),
        length(col("text")).cast("long").as("n_chars"))
      .join(enc, Seq("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_bpe_tokens").as("toks"),
        sum("n_words").as("words"), sum("n_chars").as("chars"))
      .select(col("lang"), col("n_docs"), col("toks"),
        // the scaled multiply widens to DECIMAL before the 1e6 shift
        // (ADVICE r9): a single language can exceed ~4.6e12 tokens at the
        // 100 TB ambition, where `2 * toks * 1000000` silently wraps in
        // Spark's non-ANSI Long arithmetic while DuckDB's sum(BIGINT)
        // side widens to HUGEINT. div on decimals is Catalyst
        // IntegralDivide -> BIGINT, same round-toward-zero as the
        // oracle's // on positives.
        expr("(2 * CAST(toks AS DECIMAL(38,0)) * 1000000 + words) div (2 * words)")
          .as("fertility_micros"),
        expr("(2 * CAST(chars AS DECIMAL(38,0)) * 1000000 + toks) div (2 * toks)")
          .as("chars_per_tok_micros"))
      .orderBy("lang")
  }

  def qTokFertility(s: SparkSession, d: String): DataFrame =
    tokFertility(documents(s, d))

  /** Vocabulary coverage curve: the smallest number of (most frequent)
    * vocabulary types needed to cover each target fraction of corpus
    * token mass — the measurement that sizes a tokenizer vocab or an
    * OOV bucket. One token-keyed aggregate; the cumulative window runs
    * over the VOCABULARY (bounded regardless of corpus size), ordered
    * (tf desc, token) so ties are deterministic. A type is counted if
    * the mass BEFORE it is still short of the target, so the reported
    * k is exactly the minimal covering prefix. */
  def vocabCoverage(docs: DataFrame, targets: Seq[Double]): DataFrame = {
    val tf = Tables.rebalance(docs, "doc_id")
      .select(explode(GraftFunctions.words(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("tok").agg(count(lit(1)).as("tf"))
    val w = Window.orderBy(col("tf").desc, col("tok"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = tf
      .withColumn("before", coalesce(sum(col("tf")).over(w), lit(0L)))
      .withColumn("total", sum(col("tf")).over(wAll))
    // both sides of the boundary comparison are DOUBLE with the same
    // expression shape as the oracle: a DECIMAL-vs-DOUBLE mix would
    // disagree exactly when a prefix hits a target fraction on the nose
    // (0.9 is not binary-representable); coalesce makes the empty-corpus
    // profile all-zero instead of all-NULL
    val cols = targets.map(t =>
      coalesce(sum(
        when(col("before").cast("double") < col("total").cast("double") * lit(t), 1L)
          .otherwise(0L)), lit(0L))
        .as(s"k_${(t * 100).round}"))
    cum.agg(cols.head, cols.tail: _*)
  }

  /** Oracle-checked: types covering 50/75/90/99% of token mass. */
  def qVocabCoverage(s: SparkSession, d: String): DataFrame =
    vocabCoverage(documents(s, d), Seq(0.5, 0.75, 0.9, 0.99))

  /** Add-k-smoothed bigram language model over the corpus:
    * P(w2|w1) = (c(w1,w2) + 0.5) / (c(w1·) + 0.5·V), the classic Lidstone
    * estimate (k=0.5 is Jeffreys-Perks; V = corpus vocabulary size) — the
    * n-gram-LM table a KenLM-style quality filter consumes. Pair
    * generation is a narrow per-document slide; the corpus is touched by
    * one explode + one (w1,w2) count whose partial aggregation collapses
    * map-side. The context totals c(w1·) are derived from the bigram
    * counts themselves (vocabulary-sized, broadcast back), so context and
    * pair counts can never disagree. The probability is double division
    * of exact integers in the same expression shape as the oracle —
    * bit-identical — and `vocabSize` arrives as a caller-side literal
    * (the nDocs pattern: no 1-row cross join in the plan). */
  def bigramLm(docs: DataFrame, vocabSize: Long): DataFrame = {
    val c12 = bigramPairs(docs).groupBy("w1", "w2").agg(count(lit(1)).as("n"))
    // context totals as a w1-partitioned window over the pair counts: one
    // keyed exchange, per-key state bounded by |vocab| successors. The
    // previous broadcast(c1) shipped a frame with one row per DISTINCT
    // FIRST WORD — vocabulary-sized, which on a crawl-scale corpus can
    // blow the broadcast limit / driver heap; a window never leaves the
    // executors
    val w = Window.partitionBy("w1")
    c12.withColumn("n1", sum(col("n")).over(w))
      .withColumn("p",
        round((col("n") + lit(0.5)) / (col("n1") + lit(0.5) * lit(vocabSize.toDouble)), 6))
  }

  /** Top-100 bigrams by count with their smoothed conditional
    * probabilities (ties break on the pair strings). */
  def qBigramLm(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val v = docs
      .select(explode(GraftFunctions.words(col("text"))).as("tok"))
      .distinct().count()
    bigramLm(docs, v)
      .orderBy(col("n").desc, col("w1"), col("w2")).limit(100)
      .select(col("w1"), col("w2"), col("n"), col("p"))
  }

  /** Interpolated Kneser-Ney bigram model — the smoothing the KenLM
    * quality filters of the CCNet/CommonCrawl lineage actually run
    * (Kneser & Ney 1995; Chen & Goodman 1998 eq. 4.24), next to the
    * Lidstone table of [[bigramLm]]:
    *
    *   P_KN(w2|w1) = max(c(w1,w2) - D, 0)/c(w1·)
    *               + (D · N1+(w1,·)/c(w1·)) · (N1+(·,w2)/N1+(··))
    *
    * with absolute discount D = 0.75. The novelty over add-k is the
    * CONTINUATION distribution: a word's unigram weight is how many
    * distinct contexts it follows, not how often it occurs — the "San
    * Francisco" correction (frequent but single-context words stop
    * leaking probability into unseen pairs).
    *
    * Scale shape: identical to [[bigramLm]] — one explode + one (w1,w2)
    * count; every N1+ statistic is a window over the DISTINCT-bigram
    * table itself (each c12 row IS one distinct pair, so partition row
    * counts are exactly the N1+ values; pair and continuation counts can
    * never disagree). Two keyed exchanges over a vocabulary-bounded
    * table; the corpus is touched once. `nDistinctBigrams` arrives as a
    * caller-side literal (the nDocs pattern — no 1-row cross join).
    * Determinism: exact integer counts combined in double arithmetic
    * with the SAME expression shape as the oracle, rounded to 6 places
    * (the house bigramLm discipline). */
  /** Per-occurrence corpus bigrams (doc_id, w1, w2) — the ONE explode
    * the Lidstone table, both KN surfaces (the table and the scorer) and
    * the TextRank graph build on. Each positional bigram comes out of the
    * compiled n-gram kernel as "w1 w2" and splits back at its one space:
    * a whitespace token holds none. */
  def bigramPairs(docs: DataFrame): DataFrame =
    Tables.rebalance(docs, "doc_id")
      .select(col("doc_id"),
        explode(GraftFunctions.ngrams(GraftFunctions.words(col("text")), 2)).as("g"))
      .select(col("doc_id"), substring_index(col("g"), " ", 1).as("w1"),
        substring_index(col("g"), " ", -1).as("w2"))

  /** Distinct-bigram table with the KN count statistics attached: pair
    * count n, left-context total n1 = c(w1·), and the N1+ continuation
    * counts d1/c2 as WINDOWS over the distinct-bigram table itself. */
  def bigramKnStats(pairs: DataFrame): DataFrame = {
    val c12 = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n"))
    val byW1 = Window.partitionBy("w1")
    val byW2 = Window.partitionBy("w2")
    c12
      .withColumn("n1", sum(col("n")).over(byW1))        // c(w1·)
      .withColumn("d1", count(lit(1)).over(byW1))        // N1+(w1,·)
      .withColumn("c2", count(lit(1)).over(byW2))        // N1+(·,w2)
  }

  def kneserNey(docs: DataFrame, nDistinctBigrams: Long): DataFrame = {
    val D = 0.75
    bigramKnStats(bigramPairs(docs))
      .withColumn("p_kn", round(
        greatest(col("n") - lit(D), lit(0.0)) / col("n1") +
          ((lit(D) * col("d1")) / col("n1")) *
            (col("c2") / lit(nDistinctBigrams.toDouble)), 6))
  }

  /** Top-100 bigrams by count with their interpolated-KN probabilities
    * (ties break on the pair strings — the bigramLm rank discipline).
    * The distinct-bigram count comes from the c12 aggregate, not a
    * second corpus explode. */
  def qKneserNey(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val db = bigramPairs(docs).groupBy("w1", "w2").count().count()
    kneserNey(docs, db)
      .orderBy(col("n").desc, col("w1"), col("w2")).limit(100)
      .select(col("w1"), col("w2"), col("n"), col("p_kn"))
  }

  /** KenLM-style document scoring under the corpus's own interpolated-KN
    * bigram model — the LM-perplexity quality filter (CCNet trains a
    * 5-gram KenLM and filters on perplexity; this is the same pipeline
    * shape with the in-corpus bigram model, chaining [[kneserNey]] into
    * a per-document score the way [[TextAnalysis.perplexity]] chains the
    * unigram MLE).
    *
    * Determinism (the SCALE.md finding-16 discipline): p_kn is kept as
    * an EXACT integer rational — with discount 3/4,
    * p = ((4n-3)·db + 3·d1·c2) / (4·n1·db) — so the only doubles are
    * one correctly-rounded IEEE division and one ln() rounded to 6 dp
    * per DISTINCT bigram (the q_perplexity pattern), summed as DECIMAL
    * per document. Numerators stay under ~4·n·db ≈ 1e12 « 2^63.
    *
    * Scale: the corpus explodes once to (doc_id, w1, w2) scalars; the
    * model is vocabulary-bounded windows over the distinct-bigram table;
    * the score join shuffles bigram keys, never text. Every document
    * bigram is in-model by construction (trained on the same corpus) —
    * an OOV backoff slots in where train and score corpora differ. */
  /** Per-distinct-bigram KN log-probabilities as exact DECIMAL(18,6):
    * the one ln() per bigram, 6dp-rounded — shared by [[knScore]] and
    * the DoReMi KN proxy loss. */
  def knBigramLogProbs(pairs: DataFrame, nDistinctBigrams: Long): DataFrame =
    bigramKnStats(pairs)
      .withColumn("lp", round(log(
        ((lit(4L) * col("n") - 3L) * nDistinctBigrams + lit(3L) * col("d1") * col("c2"))
          .cast("double") /
          (lit(4L) * col("n1") * nDistinctBigrams).cast("double")), 6)
        .cast("decimal(18,6)"))
      .select("w1", "w2", "lp")

  def knScore(docs: DataFrame, nDistinctBigrams: Long): DataFrame = {
    val pairs = bigramPairs(docs)
    val lp = knBigramLogProbs(pairs, nDistinctBigrams)
    pairs.join(lp, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("sum_lp"))
      .withColumn("kn_ppl",
        round(exp(-col("sum_lp").cast("double") / col("n_bigrams")), 4))
      .select("doc_id", "n_bigrams", "kn_ppl")
  }

  def qKnScore(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val db = bigramPairs(docs).groupBy("w1", "w2").count().count()
    knScore(docs, db).orderBy("doc_id")
  }

  // ------------------------------------------- unigram-LM tokenizer

  /** Unigram-LM tokenizer (the SentencePiece family, Kudo 2018) in its
    * deterministic hard-EM form — the OTHER real-world subword
    * tokenizer, completing the suite next to BPE train/encode:
    *
    *   1. seed vocabulary: every substring of length <= [[UniMaxPieceLen]]
    *      of the corpus' words, counted with word multiplicity; the
    *      top-[[UniVocabK]] multi-char pieces (count desc, piece asc)
    *      plus ALL single chars (coverage guarantee);
    *   2. Viterbi segmentation of every distinct word under ML piece
    *      probabilities p = count/total;
    *   3. hard-EM re-estimation: pieces are recounted from the CHOSEN
    *      segmentations (weighted by word frequency), probabilities
    *      re-derived, and segmentation re-run — [[UniIters]] rounds.
    *
    * Determinism across engines, without any rounding: a path's score is
    * the product of its pieces' probabilities multiplied LEFT TO RIGHT —
    * the same IEEE operation sequence in the engine DP and in the
    * oracle's path enumeration, so scores are bit-identical. Ties
    * (genuinely equal products — e.g. 'aaaa' as a|aa|a vs aa|a|a, the
    * same piece multiset, whose products are IDENTICAL doubles because
    * IEEE multiplication is commutative) break on the larger BOUNDARY
    * BITMASK (bit j = a piece starts at char j); the (score, mask) pair
    * is DP-composable because extending two prefixes at the same
    * position multiplies both scores by the same factor and adds the
    * same bit. Caveat (documented, not defended): fl-multiplication is
    * monotone but not STRICTLY so — two prefixes 1 ulp apart can in
    * principle collapse to equal full products, where the DP (which
    * discarded the lower prefix) and a full-path enumeration could
    * tie-break differently; this needs two DISTINCT piece multisets
    * with products within 1 ulp, which the c/total probability grid
    * does not produce on any tested corpus (tri-scale + 4-vs-16-core
    * certified), and is accepted like the other last-ulp registers.
    *
    * Scale shape: the corpus collapses once to its (word, freq) table
    * (the bpeTrainLocal discipline); substring counting, segmentation
    * (vocab as a task-closure map, one DP per word) and the hard-EM
    * usage recount are all distributed over that table; only the
    * bounded vocabulary (K + alphabet) ever reaches the driver. */
  val UniMaxPieceLen = 4
  val UniVocabK = 64
  val UniIters = 2

  /** Words longer than this are excluded from the tokenizer entirely —
    * URLs/base64 runs, which a production vocab treats as unknowns. The
    * cap is load-bearing for the GATE, not just hygiene: the oracle
    * enumerates every segmentation of every word (~1.9^n paths) and its
    * boundary-mask shift is a BIGINT, so both sides must agree on the
    * cutoff (the engine DP's own 63-bit mask guard stays as defense in
    * depth behind it). */
  val UniMaxWordLen = 16

  /** (word, freq) table of the corpus, capped at [[UniMaxWordLen]]. */
  def uniWordFreq(docs: DataFrame): DataFrame =
    Tables.rebalance(docs, "doc_id")
      .select(explode(GraftFunctions.words(col("text"))).as("word"))
      // the '|' exclusion exists because segmentations serialize with '|'
      // as the piece separator (uniSegment / the oracle's path column): a
      // word containing the separator would desync n_pieces between the
      // engine's Viterbi mask and the oracle's string_split, and inject
      // empty pieces into the hard-EM recount — excluded like the
      // UniMaxWordLen cap, mirrored in the oracle's uw CTE
      .filter(length(col("word")) > 0 && length(col("word")) <= UniMaxWordLen &&
        !col("word").contains("|"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Seed piece counts: every substring of length 1..max, with word
    * multiplicity. */
  def uniSeedCounts(words: DataFrame): DataFrame =
    words
      .select(col("word"), col("freq"),
        explode(sequence(lit(1), length(col("word")))).as("s"))
      .select(col("word"), col("freq"), col("s"),
        explode(sequence(lit(1),
          least(lit(UniMaxPieceLen), length(col("word")) - col("s") + 1))).as("l"))
      .select(substring(col("word"), col("s"), col("l")).as("piece"), col("freq"))
      .groupBy("piece").agg(sum(col("freq")).as("c"))

  /** The seed vocabulary: top-K multi-char pieces + all single chars,
    * with their counts. Bounded, so collect is safe at any corpus size. */
  def uniSeedVocab(words: DataFrame): Seq[(String, Long)] = {
    val counts = uniSeedCounts(words)
    val multi = counts.filter(length(col("piece")) > 1)
      .orderBy(col("c").desc, col("piece")).limit(UniVocabK)
    val chars = counts.filter(length(col("piece")) === 1)
    multi.unionByName(chars).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
  }

  /** Viterbi DP over one word: best (score, boundary mask) over all
    * segmentations into vocab pieces, probabilities multiplied left to
    * right. Returns (pieces, score, mask); pieces rebuilt from the mask. */
  private[graft] def uniViterbi(word: String,
      p: Map[String, Double]): (Seq[String], Double, Long) = {
    val n = word.length
    // the boundary mask is one bit per char: words past 63 chars (crawl
    // garbage — URLs, base64 runs) pass through opaque rather than
    // wrapping the shift; a production vocab treats them as unknowns
    if (n > 63) return (Seq(word), 0.0, 0L)
    val bestS = Array.fill(n + 1)(-1.0)
    val bestM = Array.fill(n + 1)(0L)
    bestS(0) = 1.0
    var i = 0
    while (i < n) {
      if (bestS(i) >= 0.0) {
        var l = 1
        while (l <= math.max(UniMaxPieceLen, 1) && i + l <= n) {
          p.get(word.substring(i, i + l)).foreach { pp =>
            val s = bestS(i) * pp
            val m = if (i == 0) bestM(i) else bestM(i) | (1L << i)
            if (s > bestS(i + l) || (s == bestS(i + l) && m > bestM(i + l))) {
              bestS(i + l) = s; bestM(i + l) = m
            }
          }
          l += 1
        }
      }
      i += 1
    }
    if (bestS(n) < 0.0) (Seq(word), 0.0, 0L) // uncovered char: opaque fallback
    else {
      val bounds = (1 until n).filter(j => (bestM(n) & (1L << j)) != 0L)
      val starts = 0 +: bounds
      val ends = bounds :+ n
      (starts.zip(ends).map { case (a, b) => word.substring(a, b) },
        bestS(n), bestM(n))
    }
  }

  /** One segmentation pass: DP per word with the probability map in the
    * task closure; emits (word, freq, pieces '|'-joined, n_pieces,
    * score). */
  private def uniSegment(words: DataFrame, p: Map[String, Double]): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    words.select(col("word"), col("freq")).as[(String, Long)]
      .mapPartitions { it =>
        it.map { case (w, f) =>
          val (pieces, score, _) = uniViterbi(w, p)
          (w, f, pieces.mkString("|"), pieces.length, score)
        }
      }
      .toDF("word", "freq", "pieces", "n_pieces", "score")
  }

  /** Train + segment: seed vocab, then [[UniIters]] hard-EM rounds. The
    * usage recount is DISTRIBUTED (explode chosen pieces x freq); only
    * the bounded vocab count table collects. */
  def unigramSegment(docs: DataFrame): DataFrame = {
    val words = uniWordFreq(docs).localCheckpoint()
    var counts: Seq[(String, Long)] = uniSeedVocab(words)
    var seg: DataFrame = null
    var it = 0
    while (it < UniIters) {
      val total = counts.map(_._2).sum.toDouble
      val p = counts.map { case (piece, c) => piece -> c / total }.toMap
      seg = uniSegment(words, p).localCheckpoint()
      // hard-EM: recount from the chosen segmentations, drop unused
      counts = seg
        .select(col("freq"), explode(split(col("pieces"), "\\|")).as("piece"))
        .groupBy("piece").agg(sum(col("freq")).as("c"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      it += 1
    }
    seg
  }

  /** Oracle-gated unigram tokenizer: per distinct word, the hard-EM
    * round-2 segmentation, piece count and raw Viterbi score (bit-
    * identical across engines — see scaladoc above; the DuckDB oracle
    * enumerates every segmentation with a recursive CTE and replays
    * both EM rounds). */
  def qUnigramLm(s: SparkSession, d: String): DataFrame =
    unigramSegment(documents(s, d))
      .select(col("word"), col("freq"), col("pieces"),
        col("n_pieces").cast("long").as("n_pieces"), col("score"))
      .orderBy("word")

  // -------------------------------------------- WordPiece greedy encode

  /** Greedy longest-match-first segmentation of one word over a piece
    * set — the WordPiece/BERT inference rule (MaxMatch), the third
    * tokenizer family next to BPE (merge replay) and unigram (Viterbi).
    * Continuation pieces render with the '##' prefix; the vocab is the
    * SAME seed the unigram trainer starts from (top-K multi-char
    * substrings + all single chars), so every position always matches
    * at least a single char — the [UNK] branch exists for chars outside
    * the corpus alphabet, which a corpus-derived vocab never hits. */
  def wordpieceEncode(word: String, vocab: Set[String]): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = 0
    while (pos < word.length) {
      var l = math.min(UniMaxPieceLen, word.length - pos)
      var hit = -1
      while (l >= 1 && hit < 0) {
        if (vocab.contains(word.substring(pos, pos + l))) hit = l else l -= 1
      }
      if (hit < 0) return Seq("[UNK]") // char outside the vocab alphabet
      val piece = word.substring(pos, pos + hit)
      out += (if (pos == 0) piece else "##" + piece)
      pos += hit
    }
    out.toSeq
  }

  /** Oracle-gated WordPiece tokenizer over the corpus word table: per
    * distinct word, the greedy segmentation, '|'-joined with '##'
    * continuation prefixes. The DuckDB oracle precomputes the
    * longest-match step function per (word, position) with a window
    * argmax, then FOLLOWS it with a recursive chain walk — it never
    * runs the engine's loop. */
  def qWordpiece(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val words = uniWordFreq(documents(s, d)).localCheckpoint()
    val vocab = uniSeedVocab(words).map(_._1).toSet
    val bc = s.sparkContext.broadcast(vocab)
    words.select(col("word"), col("freq")).as[(String, Long)]
      .mapPartitions { it =>
        val v = bc.value
        it.map { case (w, f) =>
          val pieces = wordpieceEncode(w, v)
          (w, f, pieces.mkString("|"), pieces.length.toLong)
        }
      }
      .toDF("word", "freq", "pieces", "n_pieces")
      .orderBy("word")
  }
}
