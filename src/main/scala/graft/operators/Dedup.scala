package graft.operators

import graft.engine.{Scope, Scratch, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash. (Extensions beyond the reference, whose
  * only dedup is the document_name anti-join, data_ingestion.py:233.)
  *
  * Scale design (the 100 TB story):
  *  - exact dedup: one hash-partitioned groupBy on the text hash — the
  *    shuffle moves (hash, id) pairs, not the documents;
  *  - pairwise Jaccard is NEVER run all-pairs: the exact path goes through
  *    an inverted shingle index (cost ~ sum of squared posting-list
  *    lengths), and MinHash-LSH band buckets are the principled
  *    sub-quadratic path when even the index is too hot;
  *  - MinHash signatures/band keys are narrow column computations; only
  *    (band_key -> doc_id) pairs shuffle, then only same-bucket pairs are
  *    verified with the exact Jaccard.
  */
object Dedup {
  import Tables._

  // -------------------------------------------------------------- shared pieces

  /** Distinct word-3-gram shingles from a BOUND words-array column.
    * PERFORMANCE: the words array must be a materialized attribute, not an
    * inline `split(...)` expression — a subexpression inside a higher-order
    * function lambda is re-evaluated per lambda element, so an inline split
    * would re-tokenize the whole text for every shingle (measured 25x
    * slow-down at sf0.1). */
  def shinglesFromWords(w: Column): Column =
    graft.functions.GraftFunctions.word_ngrams(w, 3)

  /** Declarative reference form of [[shinglesFromWords]] (equality with the
    * codegen'd WordNgrams expression asserted in FunctionsSpec). Guarded on
    * size >= 3: `sequence(1, size-2)` DESCENDS when size < 3 (step defaults
    * to -1) and the resulting `element_at(w, 0)` throws, where the codegen'd
    * form returns an empty array. */
  def shinglesFromWordsDeclarative(w: Column): Column =
    when(size(w) >= 3,
      array_distinct(
        transform(sequence(lit(1), size(w) - 2),
          i => concat_ws(" ", element_at(w, i), element_at(w, i + 1), element_at(w, i + 2)))))
      .otherwise(array().cast("array<string>"))

  /** Convenience for small inputs/tests: shingles straight from text (see
    * the re-evaluation caveat on [[shinglesFromWords]]). */
  def shingles(text: Column): Column = shinglesFromWords(split(trim(text), "\\s+"))

  /** Jaccard similarity of two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Polynomial string hash mod 1e9+7 (same family as
    * [[TextAnalysis.fingerprint]]), used as the shingle -> int code. */
  def polyHash(sCol: Column): Column =
    aggregate(
      transform(sequence(lit(1), length(sCol)), i => ascii(substring(sCol, i, lit(1)))),
      lit(0L),
      (acc, c) => (acc * 31L + c) % 1000000007L)

  // -------------------------------------------------------------- exact dedup

  /** Keep one row per distinct `textCol` (the lowest `keyCol` wins —
    * deterministic, unlike dropDuplicates under shuffle). */
  def exact(df: DataFrame, textCol: String, keyCol: String): DataFrame = {
    val w = Window.partitionBy(col(textCol)).orderBy(col(keyCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact-dedup demo: plant a full duplicate of the corpus at shifted ids,
    * dedup by text, report survivor + copy count (expects every text to
    * have exactly 2 copies and the original id to survive). */
  def qDedupExact(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"), col("text"))
    val planted = base.withColumn("doc_id", col("doc_id") + 1000000L)
    base.unionByName(planted)
      .groupBy("text")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------- shingle index

  /** The (doc_id, sh) shingle-set index, lazy. A site that reads it more
    * than once materializes it through `Scope.checkpoint` (shingling
    * recomputation otherwise dominates the exact Jaccard strategies); a
    * composition that checkpoints once on top (the dedup gate's signed
    * frame) or has one consumer (an index write) takes it as is. On a
    * cluster persist it as a table for reuse across dedup runs. */
  private[graft] def shingleIndex(docs: DataFrame): DataFrame =
    Tables.rebalance(docs, "doc_id")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"), shinglesFromWords(col("words")).as("sh"))

  // ------------------------------------------------- pair-scoring kernel

  /** A shingle-set overlap score. `ofCounts` reads the postings join's
    * (common, |A|, |B|), `ofSets` two full sets: the same double for the
    * same pair. `prefixPairs` joins postings `p` and their [[prefixOf]]. */
  private sealed abstract class Overlap(val name: String) {
    def ofCounts(common: Column, sa: Column, sb: Column): Column
    def ofSets(a: Column, b: Column): Column
    def prefixPairs(p: DataFrame, prefix: DataFrame): DataFrame

    /** `keys` of the pairs scoring >= threshold, with the 6 dp score. */
    def keep(pairs: DataFrame, score: Column, threshold: Double, keys: String*): DataFrame =
      pairs.withColumn(name, score).filter(col(name) >= threshold)
        .select(keys.map(col) :+ round(col(name), 6).as(name): _*)

    /** The full-set verification of (doc_a, doc_b, sh_a, sh_b) candidates. */
    def verify(cands: DataFrame, threshold: Double): DataFrame =
      keep(cands, ofSets(col("sh_a"), col("sh_b")), threshold, "doc_a", "doc_b")
  }

  private case object JaccardScore extends Overlap("jaccard") {
    def ofCounts(common: Column, sa: Column, sb: Column): Column =
      common.cast("double") / (sa + sb - common)
    def ofSets(a: Column, b: Column): Column = jaccard(a, b)
    // a pair over t shares a shingle inside BOTH prefixes
    def prefixPairs(p: DataFrame, prefix: DataFrame): DataFrame =
      prefix.select(col("doc_id").as("doc_a"), col("shingle"))
        .join(prefix.select(col("doc_id").as("doc_b"), col("shingle")), Seq("shingle"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
  }

  /** |A∩B| / min(|A|, |B|). */
  private case object ContainmentScore extends Overlap("containment") {
    def ofCounts(common: Column, sa: Column, sb: Column): Column =
      common.cast("double") / least(sa, sb)
    def ofSets(a: Column, b: Column): Column =
      size(array_intersect(a, b)).cast("double") / least(size(a), size(b)).cast("double")
    // only the SMALLER side's prefix bounds the pair, so it joins the
    // other side's full postings; an equal-size pair comes from both
    def prefixPairs(p: DataFrame, prefix: DataFrame): DataFrame =
      prefix.select(col("doc_id").as("doc_a"), col("n_sh").as("na"), col("shingle"))
        .join(p.select(col("doc_id").as("doc_b"), col("n_sh").as("nb"), col("shingle")),
          Seq("shingle"))
        .filter(col("na") < col("nb") ||
          (col("na") === col("nb") && col("doc_a") =!= col("doc_b")))
        .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
          greatest(col("doc_a"), col("doc_b")).as("doc_b"))
        .distinct()
  }

  /** (id, extra..., n, shingle) postings of a (doc_id, sh) index. The set
    * size n RIDES THE POSTINGS (8 bytes a row): joining it back after the
    * pair count cost two extra exchanges over the pair list. */
  private def postings(sh: DataFrame, id: String, n: String, extra: Column*): DataFrame =
    sh.select((col("doc_id").as(id) +: extra) ++
      Seq(size(col("sh")).cast("long").as(n), explode(col("sh")).as("shingle")): _*)

  /** The postings join: (doc_a, sa) postings `a` against (doc_b, sb)
    * postings `b`, joined rows filtered by `pairs`, common shingles counted
    * per `by` group (first() is exact: a size is constant per document),
    * then scored. Complete for any threshold > 0; costs Σ freq_a·freq_b. */
  private def postingsJoin(score: Overlap, a: DataFrame, b: DataFrame, pairs: Column,
      threshold: Double, by: String*): DataFrame =
    score.keep(a.join(b, Seq("shingle")).filter(pairs)
        .groupBy(by.map(col): _*)
        .agg(count(lit(1)).as("common"), first(col("sa")).as("sa"), first(col("sb")).as("sb")),
      score.ofCounts(col("common"), col("sa"), col("sb")), threshold, by: _*)

  /** The rarest-first prefix of (doc_id, n_sh, shingle) postings (PPJoin,
    * Xiao et al., WWW 2008): shingles ranked by document frequency, then
    * by the shingle, cut after n_sh - c + 1, c the least integer with
    * c / n_sh >= t. Each score is at most common / |X| for a set X of the
    * pair (either set for Jaccard, the smaller for containment), so an
    * accepted pair shares a shingle inside X's prefix. c uses the
    * verifier's own double division: ceil(n_sh * t) overshoots where the
    * product rounds up (25 * 0.56 = 14.000000000000002). */
  private def prefixOf(p: DataFrame, threshold: Double): DataFrame = {
    val dfreq = p.groupBy("shingle").agg(count(lit(1)).as("df"))
    val wr = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))
    val n = col("n_sh")
    val c = ceil(n * threshold)
    val minCommon =
      when((c - 1) / n >= threshold, c - 1).when(c / n >= threshold, c).otherwise(c + 1)
    p.join(dfreq, Seq("shingle"))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") <= n - minCommon + 1)
  }

  /** (doc_a, doc_b) candidates with each side's `set` column joined back
    * as `<set>_a` / `<set>_b`: the full shingle sets for [[Overlap.verify]]. */
  private def withSets(pairs: DataFrame, a: DataFrame, b: DataFrame,
      set: String = "sh"): DataFrame =
    pairs
      .join(a.select(col("doc_id").as("doc_a"), col(set).as(s"${set}_a")), Seq("doc_a"))
      .join(b.select(col("doc_id").as("doc_b"), col(set).as(s"${set}_b")), Seq("doc_b"))

  /** The self-join arms over a (doc_id, sh) index differ only in their
    * candidates: pairs sharing a shingle, a prefix shingle or a band. */
  private def invertedArm(score: Overlap, sh: DataFrame, threshold: Double): DataFrame =
    postingsJoin(score, postings(sh, "doc_a", "sa"), postings(sh, "doc_b", "sb"),
      col("doc_a") < col("doc_b"), threshold, "doc_a", "doc_b")

  private def prefixArm(score: Overlap, sh: DataFrame, threshold: Double): DataFrame = {
    val p = postings(sh, "doc_id", "n_sh")
    score.verify(withSets(score.prefixPairs(p, prefixOf(p, threshold)), sh, sh), threshold)
  }

  private def lshArm(score: Overlap, sh: DataFrame, threshold: Double): DataFrame =
    score.verify(minhashCandidatesSigs(Scope.checkpoint(sigsOf(sh))), threshold)

  // -------------------------------------------------------------- n-gram Jaccard

  /** EXACT all-pairs n-gram Jaccard via an inverted shingle index: explode
    * (doc, shingle), self-join on shingle, count common shingles per pair,
    * Jaccard = common / (|A| + |B| - common). No per-pair array ops, no
    * blocking approximation — every pair sharing at least one shingle is
    * scored, which is complete for any threshold > 0.
    *
    * Scale: pair cost is Σ freq(shingle)². The fastest exact strategy while
    * posting lists stay short; on corpora whose shingle vocabulary
    * SATURATES (freq grows with n) it degrades quadratically — switch to
    * [[ngramNearDupsPrefix]] (exact) or [[minhashNearDups]] (sublinear) —
    * measured crossover in SCALE.md, automated by [[ngramNearDupsAuto]]. A
    * first cut blocked on (lang, length-bucket) with per-pair
    * array_intersect: 6x slower at sf0.1 AND missed cross-lang dups — kept
    * as a design note. */
  def ngramNearDups(docs: DataFrame, threshold: Double): DataFrame =
    invertedArm(JaccardScore, Scope.checkpoint(shingleIndex(docs)), threshold)

  /** EXACT n-gram Jaccard with PREFIX FILTERING (PPJoin family): two docs
    * with Jaccard >= t MUST share a shingle among the rarest-first
    * prefixes of [[prefixOf]], so only those prefix postings generate
    * candidates; candidates are then verified with the full sets. Same
    * results as [[ngramNearDups]] (equality spec'd in DedupSpec); the
    * extra document-frequency ranking pays off once posting lists are long
    * (high-scale / saturated-vocabulary corpora), and costs two extra
    * shuffles when they are not — pick by corpus profile (SCALE.md). */
  def ngramNearDupsPrefix(docs: DataFrame, threshold: Double): DataFrame =
    prefixArm(JaccardScore, Scope.checkpoint(shingleIndex(docs)), threshold)

  // ------------------------------------------------- strategy auto-selection

  /** Posting-list statistics that drive strategy selection. `estPairs` is
    * the EXACT candidate-pair count the inverted-index join would score
    * (Σ df·(df-1)/2), so `pairsPerDoc` is its per-document cost;
    * `headPairsShare` is the fraction of those pairs carried by the
    * hottest 0.1% of shingles (a hot HEAD is what prefix filtering can
    * prune; a broad middle is not). Two aggregations over the per-shingle
    * df table — the same shuffle the exact strategies open with anyway, so
    * the stats pass costs one cheap extra job (sample the corpus first if
    * even one postings pass is too much). */
  case class NgramStats(nDocs: Long, nShingles: Long, nPostings: Long,
      estPairs: Double, p50Df: Double, p99Df: Double, headPairsShare: Double) {
    def pairsPerDoc: Double = if (nDocs == 0) 0.0 else estPairs / nDocs
  }

  sealed abstract class NgramStrategy(val name: String)
  case object NgramInverted extends NgramStrategy("inverted")
  case object NgramPrefix extends NgramStrategy("prefix")
  case object NgramLsh extends NgramStrategy("lsh")

  /** Stats are computed on a deterministic DOC sample above this size,
    * SAMPLED BEFORE SHINGLING so the stats pass never materializes the
    * full index: a doc-level sample at fraction f gives df_s ~
    * Binomial(df, f), so E[df_s(df_s-1)/2] = f^2 df(df-1)/2 — the
    * estPairs estimate (and with it pairsPerDoc and headPairsShare, the
    * two quantities the strategy rule uses) is unbiased after the 1/f^2
    * correction. The percentile fields are reported from the raw sample
    * (informational only). */
  private val StatsSampleDocs = 20000L

  /** Stats over a doc-id-hash sample. Sampling must be a pure function of
    * the ROW, not of the partitioning: df.sample's Bernoulli draw depends
    * on split boundaries, so the stats — and with them the strategy
    * choice — could differ across parallelism. A doc_id-hash filter keeps
    * membership identical on any cluster layout.
    *
    * The 1/f^2 correction uses the REALIZED fraction threshold/modulus,
    * not the requested f: the threshold floors to an integer residue, and
    * correcting by the requested f would bias estPairs (and can't go to
    * zero — the threshold clamps to >= 1, so the sample never silently
    * empties however large the corpus). Modulus 2^30 keeps the floor
    * error below 1e-9 of the fraction. */
  private val SampleModulus = 1L << 30

  /** The checkpointed index the stats read, and the fraction of documents
    * it holds: the full index (exactly 1.0, which no sample reaches) up to
    * [[StatsSampleDocs]] documents, else a doc-hash sample's. */
  private def statsIndex(docs: DataFrame, nDocs: Long): (DataFrame, Double) =
    if (nDocs <= StatsSampleDocs) (Scope.checkpoint(shingleIndex(docs)), 1.0)
    else {
      val cut = math.max(1L, (StatsSampleDocs.toDouble / nDocs * SampleModulus).toLong)
      (Scope.checkpoint(shingleIndex(
        docs.filter(pmod(xxhash64(col("doc_id")), lit(SampleModulus)) < lit(cut)))),
        cut.toDouble / SampleModulus)
    }

  def ngramStats(docs: DataFrame): NgramStats = {
    val nDocs = docs.count()
    val (sh, f) = statsIndex(docs, nDocs)
    val dfreq = docFreq(sh)
      .localCheckpoint() // read twice (main stats + head share), tiny table
    val r = dfreq.agg(
      count(lit(1)).as("n_shingles"),
      sum(col("df")).as("n_postings"),
      dfPairs.as("est_pairs"),
      expr("approx_percentile(df, 0.5)").as("p50"),
      expr("approx_percentile(df, 0.99)").as("p99"),
      expr("approx_percentile(df, 0.999)").as("p999")).head()
    if (r.isNullAt(2)) // empty corpus: the sums/percentiles aggregate to NULL
      return NgramStats(nDocs, 0L, 0L, 0.0, 0.0, 0.0, 0.0)
    val estPairs = r.getDouble(2) / (f * f)
    NgramStats(nDocs, r.getLong(0), r.getLong(1), estPairs,
      r.getLong(3).toDouble, r.getLong(4).toDouble, headShare(dfreq, r.getLong(5), estPairs, f))
  }

  /** (shingle, df): each shingle's document frequency in an index. */
  private def docFreq(sh: DataFrame): DataFrame =
    sh.select(explode(col("sh")).as("shingle")).groupBy("shingle").agg(count(lit(1)).as("df"))

  /** Σ df·(df-1)/2 over (shingle, df) rows: the pairs the postings join scores. */
  private val dfPairs = sum(col("df").cast("double") * (col("df") - 1) / 2)

  /** The share of `estPairs` carried by the shingles with df >= `p999`. */
  private def headShare(dfreq: DataFrame, p999: Long, estPairs: Double, f: Double): Double =
    if (estPairs == 0) 0.0
    else dfreq.filter(col("df") >= p999).agg(coalesce(dfPairs, lit(0.0)))
      .head().getDouble(0) / (f * f) / estPairs

  /** Strategy rule, calibrated on crossovers measured with an in-memory
    * multiplier of the sf0.1 corpus that has since been removed (1x/10x/30x:
    * 253 / 469 / 1363 pairs per doc -> inverted 2.3 s / 6.3 s / 122 s, vs
    * MinHash-LSH 2-3 s / 6.2 s / 7.1 s — the crossover sits right at ~500
    * pairs/doc; SCALE.md findings 4-5; re-measure on `tools.Sf1Stage`
    * data through q_dedup_ngram, q_dedup_minhash and q_dedup_auto):
    *  - within the pair budget the inverted index is the fastest exact
    *    strategy (its cost IS estPairs);
    *  - over budget with a hot HEAD (>= half of estPairs from the hottest
    *    0.1% of shingles), prefix filtering prunes exactly that head —
    *    still exact;
    *  - over budget with the pairs spread across the vocabulary (broad
    *    saturation), no exact strategy is sub-quadratic: MinHash-LSH with
    *    exact Jaccard verification of band-bucket candidates. */
  def chooseNgramStrategy(st: NgramStats,
      pairBudgetPerDoc: Double = 512.0): NgramStrategy =
    strategyRule(st.pairsPerDoc, pairBudgetPerDoc)(st.headPairsShare)

  /** [[chooseNgramStrategy]]'s rule; `headShare` is evaluated only over
    * budget, where the router's lazy stats pay for it. */
  private def strategyRule(pairsPerDoc: Double, pairBudgetPerDoc: Double)(
      headShare: => Double): NgramStrategy =
    if (pairsPerDoc <= pairBudgetPerDoc) NgramInverted
    else if (headShare >= 0.5) NgramPrefix
    else NgramLsh

  /** N-gram near-dup detection with strategy AUTO-SELECTION from cheap
    * corpus stats, so the declared dedup path cannot be driven quadratic
    * by a saturated vocabulary (SCALE.md finding 4). Exact while an exact
    * strategy fits the budget; beyond that, LSH-verified (candidates with
    * Jaccard >= threshold whose signatures share a band — recall ~1 for
    * strongly-similar pairs, by band collision probability). */
  def ngramNearDupsAuto(docs: DataFrame, threshold: Double,
      pairBudgetPerDoc: Double = 512.0): DataFrame =
    ngramNearDupsAutoTagged(docs, threshold, pairBudgetPerDoc)._1

  /** [[ngramNearDupsAuto]] plus the chosen strategy, so a caller (and the
    * oracle gate) can assert WHICH branch ran rather than trusting logs. */
  def ngramNearDupsAutoTagged(docs: DataFrame, threshold: Double,
      pairBudgetPerDoc: Double = 512.0): (DataFrame, NgramStrategy) =
    routeOverShingles(docs, threshold, pairBudgetPerDoc, JaccardScore)

  /** The one router for both scores. Under the sampling threshold the
    * stats pass and the chosen arm read the SAME full index, built (and
    * checkpointed) once; above it, stats run on the doc-hash sample and
    * the chosen arm re-shingles its own input. */
  private def routeOverShingles(docs: DataFrame, threshold: Double,
      pairBudgetPerDoc: Double, score: Overlap): (DataFrame, NgramStrategy) = {
    val nDocs = docs.count()
    val (statsIdx, f) = statsIndex(docs, nDocs)
    val strategy = routeStrategy(statsIdx, nDocs, f, pairBudgetPerDoc, score.name)
    val idx = if (f >= 1.0) statsIdx else Scope.checkpoint(shingleIndex(docs))
    val pairs = strategy match {
      case NgramInverted => invertedArm(score, idx, threshold)
      case NgramPrefix => prefixArm(score, idx, threshold)
      case NgramLsh => lshArm(score, idx, threshold)
    }
    (pairs, strategy)
  }

  /** The router's strategy decision with LAZY stats: one cheap aggregate
    * (shingle count, postings, exact est-pairs — no percentile sketch, no
    * checkpoint) settles the common case where the pair budget already
    * decides; only an over-budget corpus pays the p999 + head-share pair
    * of jobs that split prefix from LSH. Decision-identical to
    * [[chooseNgramStrategy]] over [[ngramStats]] (same rule, same
    * expressions, same sampling correction), asserted in DedupSpec — the
    * full [[ngramStats]] remains the observability entry point. */
  private def routeStrategy(sh: DataFrame, nDocs: Long, f: Double,
      pairBudgetPerDoc: Double, what: String): NgramStrategy = {
    val dfreq = docFreq(sh)
    val r = dfreq.agg(dfPairs.as("est_pairs")).head()
    val estPairs = if (r.isNullAt(0)) 0.0 else r.getDouble(0) / (f * f)
    val pairsPerDoc = if (nDocs == 0) 0.0 else estPairs / nDocs
    lazy val share = {
      val ck = dfreq.localCheckpoint()
      headShare(ck, ck.agg(expr("approx_percentile(df, 0.999)")).head().getLong(0), estPairs, f)
    }
    val strategy = strategyRule(pairsPerDoc, pairBudgetPerDoc)(share)
    val head = if (strategy == NgramInverted) "" else f"headPairsShare=$share%.3f "
    log.info(s"$what dedup strategy=${strategy.name} nDocs=$nDocs " +
      f"pairsPerDoc=$pairsPerDoc%.1f " + head + s"budget=$pairBudgetPerDoc")
    strategy
  }

  private val log = org.slf4j.LoggerFactory.getLogger("graft.operators.Dedup")

  /** Oracle-gated exact path: pinned to the inverted-index strategy so the
    * declared result can never silently flip to the approximate LSH branch
    * on a corpus near the pair budget (the DuckDB oracle enumerates exact
    * pairs). Production callers use [[ngramNearDupsAuto]] — exposed
    * non-gated as q_dedup_auto — which picks the scale-safe strategy and
    * logs its choice. */
  def qDedupNgram(s: SparkSession, d: String): DataFrame =
    ngramNearDups(documents(s, d), 0.5).orderBy("doc_a", "doc_b")

  /** The auto-selected production path as its own ORACLE-GATED entry: at
    * gate scale (sf0.01) the corpus sits comfortably inside the pair
    * budget, so the router provably picks the exact inverted strategy and
    * the q_dedup_ngram pair oracle applies verbatim — plus a `strategy`
    * column the hash compare pins to 'inverted'. If a stats drift ever
    * flipped the router at gate scale, the compare fails LOUDLY instead
    * of silently accepting an approximate result. (The LSH branch stays
    * approximate by design; its recall is spec'd in DedupSpec.) */
  def qDedupAuto(s: SparkSession, d: String): DataFrame = {
    val (pairs, strategy) = ngramNearDupsAutoTagged(documents(s, d), 0.5)
    pairs.withColumn("strategy", lit(strategy.name)).orderBy("doc_a", "doc_b")
  }

  // -------------------------------------------------------------- MinHash + LSH

  val MinhashK = 32        // signature length
  val Bands = 8            // 8 bands x 4 rows
  val RowsPerBand: Int = MinhashK / Bands
  val Prime = 2147483647L // 2^31 - 1 (public: the oracle SQL generator reuses it)

  /** Deterministic (a_i, b_i) params from a fixed LCG (seed 42). */
  val hashParams: Seq[(Long, Long)] = {
    var x = 42L
    def next(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue; x }
    (0 until MinhashK).map(_ => (next() % (Prime - 1) + 1, next() % Prime))
  }

  /** MinHash signature (array of K mins) over the shingle codes. */
  def minhashSignature(shingleCodes: Column): Column =
    array(hashParams.map { case (a, b) =>
      array_min(transform(shingleCodes, x => (lit(a) * x + lit(b)) % Prime))
    }: _*)

  /** LSH candidate pairs: docs sharing any band of the signature. */
  def minhashCandidates(docs: DataFrame): DataFrame =
    minhashCandidatesSigs(Scope.checkpoint(sigsOf(shingleIndex(docs))))

  /** (doc_id, sh, sig), lazy. Codegen'd MinHashSig: one compiled loop
    * instead of K x |sh| interpreted lambda evaluations. Signing is the CPU
    * cost, so a site whose band bucketing and verification both re-read
    * the signatures materializes them once through `Scope.checkpoint`; a
    * site with ONE consumer (an index write) does not, since checkpointing
    * there would write the bulky shingle+signature rows into executor
    * blocks and then again into the output parquet, for nothing. */
  private[graft] def sigsOf(sh: DataFrame): DataFrame =
    sh.withColumn("sig", graft.functions.GraftFunctions.minhash_sig(
      col("sh"), hashParams.map(_._1), hashParams.map(_._2)))

  /** Band keys only — the shingle arrays do NOT travel through the
    * candidate shuffle; they are joined back for verification afterwards. */
  private def bandsOf(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(Bands - 1)),
        bnd => concat_ws(",", slice(col("sig"), bnd * RowsPerBand + 1, lit(RowsPerBand))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")

  /** The one band-bucket candidate join: distinct (doc_a, doc_b) pairs,
    * `ls` doc against `rs` doc, that share any band of the signature and
    * pass `pairs`. */
  private def bandPairs(ls: DataFrame, rs: DataFrame, pairs: Column): DataFrame =
    bandsOf(ls).select(col("band"), col("band_key"), col("doc_id").as("doc_a"))
      .join(bandsOf(rs).select(col("band"), col("band_key"), col("doc_id").as("doc_b")),
        Seq("band", "band_key"))
      .filter(pairs)
      .select("doc_a", "doc_b").distinct()

  private[graft] def minhashCandidatesSigs(sigs: DataFrame): DataFrame =
    withSets(bandPairs(sigs, sigs, col("doc_a") < col("doc_b")), sigs, sigs)

  /** Estimator-quality observability for the MinHash family: every
    * band-bucket candidate pair carries its signature ESTIMATE
    * (matching components / K — the classical E[match/K] = J identity)
    * next to the exact verified Jaccard and the absolute error. This is
    * the frame an operator of the LSH index watches to retune K/bands:
    * a drifting error distribution means the signature params no longer
    * fit the corpus. Both sides are deterministic, so the gate replays
    * estimate AND truth — a defect in signature generation, banding, or
    * the verifier hash-mismatches; the spec pins the estimator's error
    * bound on planted exact duplicates (match = K, error = 0) and the
    * K-point grid of the estimate. Scale shape: identical to
    * qDedupMinhash (band-key shuffle; arrays join back after pair
    * dedup) plus one K-wide comparison per pair. */
  def qMinhashEst(s: SparkSession, d: String): DataFrame = {
    // the q_dedup_exact planting: a verbatim copy of every doc at +1e6
    // ids, so the estimator frame provably contains J = 1.0 pairs whose
    // signatures must match on every component (err exactly 0)
    val base = documents(s, d).select(col("doc_id"), col("text"))
    minhashEstimates(base.unionByName(
      base.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))))
  }

  /** [[qMinhashEst]]'s estimator frame over any (doc_id, text) corpus. */
  def minhashEstimates(docs0: DataFrame): DataFrame = {
    val sigs = Scope.checkpoint(sigsOf(shingleIndex(docs0)))
    withSets(minhashCandidatesSigs(sigs), sigs, sigs, "sig")
      .withColumn("sig_match", expr(
        s"size(filter(sequence(0, ${MinhashK - 1}), i -> sig_a[i] = sig_b[i]))").cast("long"))
      .withColumn("est", round(col("sig_match").cast("double") / MinhashK, 6))
      .withColumn("jaccard", round(jaccard(col("sh_a"), col("sh_b")), 6))
      // chained doubles: the subtraction is one exactly-rounded IEEE op
      // on identical inputs, then the floor-form 6dp grid (the SCALE.md
      // finding-16 discipline — round() halfway semantics differ)
      .withColumn("abs_err",
        floor(abs(col("est") - col("jaccard")) * 1e6 + 0.5) / 1e6)
      .select("doc_a", "doc_b", "sig_match", "est", "jaccard", "abs_err")
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash-LSH near-dup detection: candidates from band buckets, then
    * exact-Jaccard verification. Same output shape as [[qDedupNgram]] so
    * the two paths are directly comparable. */
  def minhashNearDups(docs: DataFrame, threshold: Double): DataFrame =
    lshArm(JaccardScore, shingleIndex(docs), threshold)

  /** [[minhashNearDups]] over (doc_id, sh, sig) rows. */
  private[graft] def minhashNearDupsSigs(sigs: DataFrame, threshold: Double): DataFrame =
    JaccardScore.verify(minhashCandidatesSigs(sigs), threshold)

  def qDedupMinhash(s: SparkSession, d: String): DataFrame =
    minhashNearDups(documents(s, d), 0.5).orderBy("doc_a", "doc_b")

  /** CROSS-frame near-dups: (left id -> right id) pairs with Jaccard >=
    * threshold, via band-bucket candidates. The left side is the small
    * probe set (an incoming micro-batch); at scale keep the right side's
    * (sigs, bands) persisted as the corpus dedup index instead of
    * recomputing per call. */
  def crossNearDups(left: DataFrame, right: DataFrame, threshold: Double): DataFrame =
    crossNearDupsSigs(Scope.checkpoint(sigsOf(shingleIndex(left))),
      Scope.checkpoint(sigsOf(shingleIndex(right))), threshold)

  /** EXACT cross-frame near-dups via the inverted-postings join — the
    * exact analog of [[crossNearDups]] (complete for any threshold > 0:
    * every cross pair sharing at least one shingle is scored). Same
    * Σ freq_left·freq_right cost shape as [[TextSearch]]'s contamination
    * check: bounded as long as ONE side is small (the probe batch). */
  def crossNearDupsExact(left: DataFrame, right: DataFrame,
      threshold: Double): DataFrame =
    // NO join hint (round 14, measured): the probe side is bounded by
    // contract and the planner auto-BROADCASTS it (plans/r14/
    // q_cross_dedup_before.txt), shuffling neither side. A shuffle_hash
    // hint overrode that with two exchanges and was reverted.
    postingsJoin(JaccardScore, postings(shingleIndex(left), "doc_a", "sa"),
      postings(shingleIndex(right), "doc_b", "sb"), lit(true), threshold, "doc_a", "doc_b")

  /** ONE-JOIN exact near-dup pass for a dedup-gate micro-batch: the batch
    * postings are exploded ONCE and joined against the union of the batch
    * itself and the persisted index's stored shingles, so batch-vs-corpus
    * rejection pairs (`is_corpus` true, any orientation) and
    * batch-vs-batch pairs (`is_corpus` false, doc_a < doc_b) come out of
    * a single postings join — where the split formulation ran two
    * independent joins over the same batch postings (VERDICT r5 #5's
    * "reuse the corpus shingle postings across stages 3/4"). Join cost is
    * Σ freq_batch·(freq_batch + freq_corpus) — exactly the sum of the two
    * split joins, with one exchange of the batch postings instead of two
    * and one job wave instead of two. Results are identical by
    * construction (same candidate classes, same Jaccard); the gate's
    * oracle replays both stages unchanged. */
  private[graft] def gateFusedExactPairs(spark: SparkSession,
      indexDir: Option[String], sigs: DataFrame, threshold: Double): DataFrame = {
    val batchSh = sigs.select(col("doc_id"), col("sh"))
    val right = indexDir match {
      // the stored index is read with the batch's own (doc_id, sh) schema:
      // inferring it would cost a footer-reading job per micro-batch
      case Some(p) => batchSh.withColumn("is_corpus", lit(false))
        .unionByName(spark.read.schema(batchSh.schema).parquet(p)
          .select(col("doc_id"), col("sh")).withColumn("is_corpus", lit(true)))
      case None => batchSh.withColumn("is_corpus", lit(false))
    }
    // SHUFFLE_HASH with the BATCH postings as the build side (guide §3.1):
    // the batch is micro-batch-bounded at any corpus scale, so its hash
    // table per partition stays bounded while the probe side (batch UNION
    // stored corpus index) grows with the corpus — sort-merge would sort
    // BOTH exploded posting lists per batch, paying the corpus-side sort
    // every micro-batch forever
    postingsJoin(JaccardScore, postings(batchSh, "doc_a", "sa").hint("shuffle_hash"),
      postings(right, "doc_b", "sb", col("is_corpus")),
      col("is_corpus") || col("doc_a") < col("doc_b"), threshold,
      "doc_a", "doc_b", "is_corpus")
  }

  /** Bounded-probe id prefix for [[qCrossDedup]]: ids are dense from 0,
    * so a constant id cutoff is a constant-size probe set at ANY corpus
    * scale — the probe cannot grow with the corpus. */
  val CrossDedupProbePrefix = 500L

  /** Oracle-checked CROSS-corpus dedup (doc-level decontamination): exact
    * near-dup pairs BETWEEN a FIXED held-out probe set and the rest of
    * the corpus — the "does my training set duplicate the benchmark"
    * check at document granularity, complementing the shingle-overlap
    * `q_contamination`. The probe is the bounded id-prefix slice of src0
    * (an eval benchmark does not grow with the training corpus) plus
    * planted exact copies of every 40th non-src0 doc in the same prefix
    * (guaranteed J=1 witnesses), so the Σ freq_probe·freq_corpus
    * postings cost grows LINEARLY in the corpus — SCALE finding 10
    * measured the corpus-growing-probe variant superlinear (5.3s→60.9s
    * across 10x→30x), which is why the probe side is pinned constant
    * here. The production probe path is [[crossNearDups]] (band
    * buckets); this pins the exact analog under the gate, the same
    * pinned-vs-auto split as qDedupNgram. */
  def qCrossDedup(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("text"), col("source"))
    val right = docs.filter(col("source") =!= "src0").select("doc_id", "text")
    val probe = docs
      .filter(col("source") === "src0" && col("doc_id") < CrossDedupProbePrefix)
      .select("doc_id", "text")
      .unionByName(right
        .filter(col("doc_id") % 40 === 1 && col("doc_id") < CrossDedupProbePrefix)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
    crossNearDupsExact(probe, right, 0.5).orderBy("doc_a", "doc_b")
  }

  // ------------------------------------------------- persisted dedup index

  /** Persist the MinHash dedup index — the (doc_id, sh, sig) table — so
    * incremental ingestion probes it instead of re-signing the whole
    * corpus per batch. The band keys are NOT stored: they are a cheap
    * narrow explode of `sig` at probe time, while storing them would 8x
    * the index row count. At cluster scale write this bucketed by doc_id
    * (or partitioned by band at read-mostly sites). */
  def writeIndex(docs: DataFrame, path: String): Unit =
    sigsOf(shingleIndex(docs)).write.mode("overwrite").parquet(path)

  /** Append newly-accepted docs to the persisted index. */
  def appendIndex(docs: DataFrame, path: String): Unit =
    sigsOf(shingleIndex(docs)).write.mode("append").parquet(path)

  /** Probe the persisted index: (incoming doc -> indexed doc) near-dup
    * pairs with Jaccard >= threshold. The incoming micro-batch is signed
    * fresh; the corpus side comes straight off the stored parquet. */
  def probeIndex(spark: SparkSession, path: String, incoming: DataFrame,
      threshold: Double): DataFrame =
    crossNearDupsSigs(Scope.checkpoint(sigsOf(shingleIndex(incoming))),
      spark.read.parquet(path), threshold)

  // ------------------------------------ compactable sharded index store

  /** The MinHash index over a [[graft.engine.ShardStore]] (VERDICT r10
    * Next #4): micro-batch appends land as new shard directories, probes
    * read the live shard set through one manifest, and periodic
    * [[graft.engine.ShardStore.compact]] bounds the probe's file count by
    * the TARGET partition count instead of the append history — with
    * Snapshot's claim/swap atomicity, so a crashed compaction never
    * corrupts the index. Probe results are spec-pinned identical before
    * and after compaction (a pure layout operation). */
  def appendIndexStore(docs: DataFrame, store: graft.engine.ShardStore): Unit =
    store.append(sigsOf(shingleIndex(docs)))

  /** Band-bucket probe of the sharded index ([[probeIndex]] semantics). */
  def probeIndexStore(store: graft.engine.ShardStore, incoming: DataFrame,
      threshold: Double): DataFrame =
    crossNearDupsSigs(Scope.checkpoint(sigsOf(shingleIndex(incoming))), store.read(), threshold)

  private lazy val compactIdxRoot: String = Scratch.processTempDir("graft_dedup_idx_c")

  /** Oracle-gated compaction demo: the even-id half arrives as FIVE
    * micro-batch appends (residues 0,2,4,6,8 mod 10) into the sharded
    * store, the store compacts to one shard, then the odd-id half probes
    * it — the result must equal the single-write [[qDedupIncremental]]
    * split exactly (same oracle), with the post-compaction shard count
    * pinned at 1 so a compaction that silently dropped or duplicated a
    * shard is a loud hash FAIL. */
  def qIndexCompact(s: SparkSession, d: String): DataFrame = {
    val root = new java.io.File(compactIdxRoot, "store")
    Scratch.rmTree(root)
    val store = new graft.engine.ShardStore(s, root.getPath)
    val docs = documents(s, d)
    Seq(0, 2, 4, 6, 8).foreach { r =>
      appendIndexStore(docs.filter(col("doc_id") % 10 === r), store)
    }
    store.compact()
    val nShards = store.shards().length
    probeIndexStore(store, docs.filter(col("doc_id") % 2 =!= 0), 0.5)
      .withColumn("n_shards", lit(nShards))
      .orderBy("doc_a", "doc_b")
  }

  private lazy val incrementalIdxDir: String = Scratch.processTempDir("graft_dedup_idx")

  /** Oracle-gated incremental-ingestion demo: the even-id half of the
    * corpus is written out as the persisted MinHash index, then the odd-id
    * half arrives as an incoming batch and probes it — the end-to-end
    * [[writeIndex]]/[[probeIndex]] path a streaming pipeline runs per
    * micro-batch, checked against a DuckDB replica of the same split. The
    * index round-trips through parquet at a PER-PROCESS temp path
    * (repeated calls in one JVM overwrite the same directory; concurrent
    * processes cannot clobber each other's index mid-read) and is removed
    * by a shutdown hook. */
  def qDedupIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    writeIndex(docs.filter(col("doc_id") % 2 === 0), incrementalIdxDir)
    probeIndex(s, incrementalIdxDir, docs.filter(col("doc_id") % 2 =!= 0), 0.5)
      .orderBy("doc_a", "doc_b")
  }

  /** Band-bucket near-dups of every `ls` doc against every `rs` doc, both
    * (doc_id, sh, sig) rows, verified on the full sets. */
  private[graft] def crossNearDupsSigs(ls: DataFrame, rs: DataFrame,
      threshold: Double): DataFrame =
    JaccardScore.verify(withSets(bandPairs(ls, rs, lit(true)), ls, rs), threshold)

  /** CONTENT near-dup rejection on insert — the streaming-dedup analog of
    * [[Mutations.insertDedup]] (which dedups on exact name): refuse
    * incoming docs whose text is within Jaccard >= threshold of any
    * existing doc, then append the survivors. Run inside foreachBatch the
    * same way the command dispatcher runs its name dedup. Both frames
    * need (doc_id, text). Within-batch near-dups among the incoming docs
    * themselves are kept (dedup them first with [[minhashNearDups]] +
    * [[nearDupClusters]] if the source can produce them). */
  def insertNearDedup(existing: DataFrame, incoming: DataFrame,
      threshold: Double): DataFrame = {
    val rejected = crossNearDups(incoming, existing, threshold)
      .select(col("doc_a").as("doc_id")).distinct()
    existing.unionByName(incoming.join(rejected, Seq("doc_id"), "left_anti"))
  }

  // ------------------------------------------------- near-dup clustering

  /** Connected components over the near-dup pair graph by iterative
    * min-label propagation: every node starts labeled with its own id;
    * each round replaces a node's label with the minimum over itself and
    * its neighbors; fixpoint = per-component minimum id. The loop runs
    * only over nodes that APPEAR in a pair (the pair graph is tiny
    * relative to the corpus — unpaired docs are their own trivial
    * cluster), converges in O(component diameter) rounds (near-dup
    * components are shallow — dup groups, not chains), and each round is
    * one keyed join + aggregate over the edge list. The driver sees only
    * the per-round change COUNT. At extreme component sizes swap in the
    * alternating large-star/small-star optimization; the fixpoint is the
    * same.
    *
    * SMALL-GRAPH FAST PATH: under `driverEdgeBudget` edges (16 MB of
    * longs at the default 2^20) the pair list collects to the driver and
    * a union-find labels it in one pass — result-IDENTICAL to the loop
    * fixpoint (union-by-min keeps every tree rooted at its component
    * minimum; DedupSpec proves equality on chain graphs), but replaces
    * the per-round join+checkpoint+count jobs with one collect. This is
    * the shape that matters for the streaming dedup gate, whose
    * WITHIN-BATCH pair graph is micro-batch-bounded by construction —
    * the distributed loop remains the path for corpus-scale graphs. */
  def nearDupClusters(pairs: DataFrame,
      driverEdgeBudget: Long = 1L << 20): DataFrame = {
    val s = pairs.sparkSession
    val peLazy = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    // ONE probing job decides the regime AND fetches the edges: take
    // (budget+1) either returns every edge (fits -> driver union-find,
    // no checkpoint/count/collect triple) or proves overflow (row
    // budget+1 exists -> distributed loop; the probe's work is bounded
    // by the budget and discarded). Three jobs became one on the
    // in-budget path every micro-batch gate hits.
    // a null id takes the loop, whose join semantics define it
    Scope.collectWithin(peLazy, driverEdgeBudget).filterNot(_.exists(_.anyNull)) match {
      case Some(taken) =>
        import s.implicits._
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x // path compression
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        taken.foreach { row =>
          val (a, b) = (row.getLong(0), row.getLong(1))
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          // union by MIN: the smaller root stays root, so every root is
          // its component's minimum id — the loop's fixpoint semantics
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        }
        return parent.keys.toSeq.sorted.map(id => (id, find(id)))
          .toDF("id", "label")
      case None =>
    }
    val pe = peLazy.localCheckpoint()
    val edges = pe
      .unionByName(pe.select(col("dst").as("src"), col("src").as("dst")))
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("dst_label")), Seq("dst"))
        .groupBy("src").agg(min(col("dst_label")).as("nbr_min"))
      // carry the previous label through the checkpoint so convergence is
      // a narrow filter-count on the materialized rows — one shuffle job
      // per iteration instead of two (the old-vs-new join re-shuffled)
      val next = labels
        .join(nbrMin.withColumnRenamed("src", "id"), Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"),
          col("label").as("old"))
        .localCheckpoint()
      changed = next.filter(col("label") =!= col("old")).count()
      labels = next.select("id", "label")
    }
    labels
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond" — public) — the swap-in [[nearDupClusters]]' scaladoc
    * promises for EXTREME component sizes: the label-propagation loop
    * converges in O(component diameter) rounds, which is fine for the
    * shallow dup-group components near-dup graphs actually produce but
    * degrades on adversarial chains; large/small-star converges in
    * O(log² n) rounds on ANY topology because each round rewires whole
    * neighborhoods at their minimum rather than moving labels one hop.
    *
    * Per round, on edges kept canonical (u > v):
    *  - LARGE-STAR: per node n over its full neighborhood, every
    *    LARGER neighbor rewires to m = min(n, min(N(n)));
    *  - SMALL-STAR: per node u over its smaller-or-equal neighbors,
    *    everything (u included) rewires to the minimum.
    * Fixpoint = disjoint stars whose centers are the component minima —
    * the SAME fixpoint as [[nearDupClusters]] (union-by-min), proven
    * equal in DedupSpec on chains, stars, cliques and random graphs.
    * Every round is two grouped joins over the EDGE list (no label
    * table), and the edge count never grows above 2x the input. */
  def nearDupClustersLss(pairs: DataFrame, maxIters: Int = 64): DataFrame = {
    val s = pairs.sparkSession
    var edges = pairs
      .select(col("doc_a").cast("long").as("a"), col("doc_b").cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct().localCheckpoint()
    var it = 0
    var converged = edges.isEmpty
    while (!converged && it < maxIters) {
      // large-star: bidirect, m(n) = min(n, min(neighbors)), larger
      // neighbors attach to m
      val bi = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = bi.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u").as("n"), least(col("u"), col("mv")).as("m"))
      val large = bi.join(mins, bi("u") === mins("n"))
        .filter(col("v") > col("u")) // larger neighbors of n rewire
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
      // small-star on the large-star output (edges already canonical
      // u > v): per u, everything attaches to min(neighbors)
      val sMins = large.groupBy("u").agg(min(col("v")).as("m"))
      val small = large.join(sMins, Seq("u"))
        .select(col("v").as("x"), col("m"))
        .unionByName(sMins.select(col("u").as("x"), col("m")))
        .filter(col("x") =!= col("m"))
        .select(col("x").as("u"), col("m").as("v")).distinct()
        .localCheckpoint()
      // converged when the canonical edge set is stable — ONE
      // symmetric-difference job (VERDICT r11 Next #6), not two
      // exceptAll scans: both sides are DISTINCT canonical sets, so
      // equality ⟺ every (u,v) appears with net tag 0 under a +1/-1
      // union-aggregate. Halves the per-round convergence job count.
      converged = small.withColumn("t", lit(1))
        .unionByName(edges.withColumn("t", lit(-1)))
        .groupBy("u", "v").agg(sum(col("t")).as("s"))
        .filter(col("s") =!= 0)
        .isEmpty
      edges = small
      it += 1
    }
    // at the fixpoint every non-root points directly at its component
    // minimum; roots appear only on the v side
    edges.select(col("u").as("id"), col("v").as("label"))
      .unionByName(edges.select(col("v").as("id"), col("v").as("label")))
      .distinct()
  }

  /** Near-dup cluster assignment over the ROUTED candidate path (the
    * production shape — VERDICT r9 Next #1): candidate pairs come from
    * [[ngramNearDupsAutoTagged]], so at corpus scale the pair scan
    * inherits the router's sub-quadratic strategies instead of the exact
    * O(pairs) inverted join (measured sf1 exponent 0.57 routed vs 1.17
    * exact). One row per document that participates in a near-dup pair,
    * labeled with its cluster id (= minimum doc_id in the component);
    * `survivor` marks the one doc per cluster a dedup pipeline keeps.
    * At gate scale the router provably picks the exact inverted strategy
    * (pairs/doc far under budget), so the exact-pair cluster oracle
    * applies verbatim — and the pinned `strategy` literal makes a silent
    * route flip a loud hash FAIL (the q_dedup_auto design). */
  def qDedupClusters(s: SparkSession, d: String): DataFrame = {
    val (pairs, strategy) = ngramNearDupsAutoTagged(documents(s, d), 0.5)
    nearDupClusters(pairs.select("doc_a", "doc_b"))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        (col("id") === col("label")).as("survivor"))
      .withColumn("strategy", lit(strategy.name))
      .orderBy("doc_id")
  }

  /** [[qDedupClusters]] with the clustering swapped to the
    * large/small-star kernel — the extreme-component production path
    * under the SAME oracle (both kernels share the union-by-min
    * fixpoint, so the recursive-CTE cluster oracle applies verbatim);
    * the pinned `cc_algo` literal records which kernel ran. */
  def qDedupClustersLss(s: SparkSession, d: String): DataFrame = {
    val (pairs, strategy) = ngramNearDupsAutoTagged(documents(s, d), 0.5)
    nearDupClustersLss(pairs.select("doc_a", "doc_b"))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        (col("id") === col("label")).as("survivor"))
      .withColumn("strategy", lit(strategy.name))
      .withColumn("cc_algo", lit("large_small_star"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------- SimHash

  /** 64-bit SimHash over word tokens (with multiplicity): bit j of the
    * fingerprint is the sign of the sum of (+1/-1) votes from bit j of
    * each token's murmur-finalized hash. Plain-Scala reference for the
    * codegen'd SimHash64 expression (spec'd equal); the DuckDB oracle
    * replicates the same arithmetic in HUGEINT mod 2^64. */
  def simhash64(tokens: Seq[String]): Long = {
    val votes = new Array[Int](64)
    tokens.foreach { t =>
      var h = 1125899906842597L // FNV-ish offset
      t.foreach { c => h = (h * 31L) ^ c.toLong }
      // murmur finalizer: see TextHashes.fmix64 for why mixing matters
      h = graft.functions.TextHashes.fmix64(h)
      var j = 0
      while (j < 64) { if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1; j += 1 }
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  val SimhashBands = 8     // 8 bands x 8 bits: any pair with hamming <= 7
  val SimhashBandBits = 8  // shares at least one band key (pigeonhole)
  /** Deterministic bucket-occupancy cap: a (band, key) bucket holding more
    * docs than this is SKIPPED for pair generation. A saturated bucket
    * means the band pattern is uninformative on that corpus (on the
    * synthetic low-entropy test text, single buckets hold the WHOLE corpus
    * — all-pairs in disguise); capping bounds per-bucket pair cost at
    * cap^2/2 regardless of corpus size. True near-dups lose a bucket only
    * when every one of their shared bands is saturated — on realistic
    * vocabularies (see the DedupSpec fixture) buckets stay far below the
    * cap and nothing is dropped. */
  val SimhashBucketCap = 64

  /** SimHash near-dups: band the 64-bit fingerprint into 8 x 8-bit keys,
    * drop saturated buckets (see [[SimhashBucketCap]]), pair within the
    * surviving buckets, verify true Hamming distance. Scale shape: narrow
    * fingerprinting, one scalar-only shuffle for the occupancy window, one
    * keyed self-join on (band, key) with bounded per-bucket cost. */
  def simhashNearDups(docs: DataFrame, maxHamming: Int,
      bucketCap: Int = SimhashBucketCap): DataFrame = {
    // codegen'd SimHash64 expression over the bound token array (the typed
    // Dataset.map formulation paid full-row encoder round trips)
    val hashed = Tables.rebalance(docs, "doc_id")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
      .select(col("doc_id"),
        graft.functions.GraftFunctions.simhash64(col("words")).as("simhash"))
      .localCheckpoint()
    val bands = hashed.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until SimhashBands).map(i =>
        shiftrightunsigned(col("simhash"), i * SimhashBandBits)
          .bitwiseAND(lit((1L << SimhashBandBits) - 1))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
    val capped = bands
      .withColumn("occ",
        count(lit(1)).over(Window.partitionBy(col("band"), col("band_key"))))
      .filter(col("occ") <= bucketCap)
      .drop("occ")
    val l = capped.select(col("band"), col("band_key"),
      col("doc_id").as("doc_a"), col("simhash").as("h_a"))
    val r = capped.select(col("band"), col("band_key"),
      col("doc_id").as("doc_b"), col("simhash").as("h_b"))
    l.join(r, Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "h_a", "h_b").distinct()
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  def qDedupSimhash(s: SparkSession, d: String): DataFrame =
    simhashNearDups(documents(s, d), 4).orderBy("doc_a", "doc_b")

  // -------------------------------------------------------------- winnowing

  /** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken 2003,
    * public): hash POSITIONAL word-3-grams (not the distinct shingle set —
    * winnowing needs sequence order), slide a window of `WinnowW` hashes,
    * keep each window's minimum. Guarantees every match of at least
    * W+2 contiguous words is witnessed by a shared fingerprint while
    * storing only ~2/(W+1) of the hashes — the standard document-
    * fingerprinting trade for plagiarism/near-dup detection at corpus
    * scale. All narrow per-row array math; the output relation is
    * (doc_id, fp), ready for the same inverted-index join as the exact
    * dedup path. */
  val WinnowW = 4

  def winnowFingerprints(docs: DataFrame): DataFrame = {
    val codes = Tables.rebalance(docs, "doc_id")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
      .filter(size(col("words")) >= 3 + WinnowW - 1)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.span_hashes(col("words"), 3).as("cs"))
    codes.select(col("doc_id"),
      explode(array_distinct(transform(
        sequence(lit(1), size(col("cs")) - (WinnowW - 1)),
        i => array_min(slice(col("cs"), i, lit(WinnowW)))))).as("fp"))
  }

  def qWinnow(s: SparkSession, d: String): DataFrame =
    winnowFingerprints(documents(s, d)).orderBy("doc_id", "fp")

  // ----------------------------------------------------- containment dedup

  /** Jaccard CONTAINMENT near-dups: |A∩B| / min(|A|, |B|) — catches
    * truncated and partial copies that symmetric Jaccard misses entirely
    * (a half-length copy of a document has J ≈ 0.5 but containment 1.0;
    * truncated re-crawls and excerpt pages are the common real case).
    * Same inverted-postings shape as [[ngramNearDups]]: sub-quadratic,
    * no per-pair array ops, and the same vocabulary-saturation caveats. */
  def containmentDups(docs: DataFrame, threshold: Double): DataFrame =
    invertedArm(ContainmentScore, Scope.checkpoint(shingleIndex(docs)), threshold)

  /** EXACT containment near-dups with PREFIX FILTERING — the containment
    * analog of [[ngramNearDupsPrefix]]. For a pair with containment >= t,
    * the SMALLER document S (ties broken by doc_id) satisfies
    * |A∩B| >= t*|S|, so S must share a shingle inside its [[prefixOf]]
    * prefix. Candidates therefore come from joining SMALLER-side prefix
    * postings against full postings (the larger side gets no usable prefix
    * bound: it only needs t*|S| common shingles, which for |B| >> |S| is a
    * vanishing fraction of B). Candidates are verified on the full shingle
    * sets, so results are identical to [[containmentDups]] (equality
    * spec'd).
    *
    * Scale: candidate cost is Σ_s freq_prefix(s) * freq_full(s) instead of
    * Σ_s freq_full(s)² — rarest-first ranking keeps prefix postings off
    * the hot head, which on the saturated synthetic vocabulary turned the
    * 30x probe from 135 s (full postings join) to the measured SCALE.md
    * number. Same guidance as the Jaccard pair: plain inverted join while
    * posting lists are short, prefix filter at scale. */
  def containmentDupsPrefix(docs: DataFrame, threshold: Double): DataFrame =
    prefixArm(ContainmentScore, Scope.checkpoint(shingleIndex(docs)), threshold)

  /** MinHash-LSH-blocked containment — the BOUNDED arm for corpora whose
    * shingle vocabulary saturates broadly (where no exact containment
    * strategy is sub-quadratic): band-bucket candidates from the standard
    * [[MinhashK]]/[[Bands]] signatures, then EXACT containment
    * verification on the full shingle sets of each candidate.
    *
    * Recall caveat, stated because containment is asymmetric while
    * MinHash banding is not: band collision probability is governed by
    * the pair's JACCARD, not its containment. For sizes |S| <= |L| and
    * containment c, J = c·|S| / (|S| + |L| − c·|S|) — near-equal sizes
    * give J ≈ c (recall ≈ the Jaccard arm's), but a small excerpt inside
    * a much larger document has high containment and LOW Jaccard and can
    * be missed. Corpora dominated by such asymmetric pairs should route
    * to [[containmentDupsPrefix]] (exact; its prefix bound lives on the
    * SMALL side precisely so asymmetry doesn't hurt) — the router below
    * only reaches this arm when the pairs are spread too broadly for the
    * prefix prune to bite. */
  def containmentLsh(docs: DataFrame, threshold: Double): DataFrame =
    lshArm(ContainmentScore, shingleIndex(docs), threshold)

  /** Containment with strategy AUTO-SELECTION — the containment front
    * door, completing the router family (VERDICT r9 Next #7: "give the
    * containment scan the banded/LSH blocking its registered reason
    * names as the over-budget path, behind the same pair-budget
    * router"). The SAME [[NgramStats]] drive the choice — the candidate
    * cost of the inverted containment join is the identical
    * Σ df·(df−1)/2 postings self-join the Jaccard pair scan pays, so
    * [[chooseNgramStrategy]]'s measured crossovers transfer verbatim:
    * inverted while exact fits the pair budget; prefix when the pairs
    * concentrate in a hot head (still exact — and the right arm for
    * asymmetric-heavy corpora, see [[containmentLsh]]'s recall caveat);
    * LSH-verified beyond that ([[routeOverShingles]]). Returns the chosen
    * strategy too, so a caller (and the oracle gate) can assert WHICH
    * branch ran. */
  def containmentDupsAutoTagged(docs: DataFrame, threshold: Double,
      pairBudgetPerDoc: Double = 512.0): (DataFrame, NgramStrategy) =
    routeOverShingles(docs, threshold, pairBudgetPerDoc, ContainmentScore)

  /** The planted-truncation corpus BOTH containment gates run on: the
    * FIRST HALF of every 17th document re-planted at a shifted id — a
    * truncated copy whose symmetric Jaccard (~0.5) evades the
    * 0.5-threshold near-dup queries but whose containment is 1.0. ONE
    * definition (review: q_containment and q_containment_auto carried
    * verbatim copies — this recipe IS the oracle contract
    * `containmentOracleCtes` restates, so a one-sided edit would have
    * failed only one of the two gates and obscured the drift). */
  private def plantedContainmentCorpus(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"), col("text"))
    val w = split(trim(col("text")), "\\s+")
    val truncated = base.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 4000000L).as("doc_id"),
        concat_ws(" ", slice(w, lit(1), (size(w) / lit(2)).cast("int"))).as("text"))
    base.unionByName(truncated)
  }

  /** Containment demo over [[plantedContainmentCorpus]]. */
  def qContainment(s: SparkSession, d: String): DataFrame =
    containmentDups(plantedContainmentCorpus(s, d), 0.9)
      .orderBy("doc_a", "doc_b")

  /** The routed containment path as its own ORACLE-GATED entry (the
    * q_dedup_auto design): at gate scale the planted corpus sits inside
    * the pair budget, so the router provably picks the exact inverted
    * strategy and the q_containment pair oracle applies verbatim — plus
    * a `strategy` column the hash compare pins to 'inverted', so a
    * silent route flip to the approximate LSH branch is a loud FAIL. */
  def qContainmentAuto(s: SparkSession, d: String): DataFrame = {
    val (pairs, strategy) =
      containmentDupsAutoTagged(plantedContainmentCorpus(s, d), 0.9)
    pairs.withColumn("strategy", lit(strategy.name)).orderBy("doc_a", "doc_b")
  }

  // ---------------------------------------------------- repeated-span scan

  /** Exact repeated-span detection (the public "Deduplicating Training
    * Data Makes Language Models Better" approach, Lee et al. 2022,
    * re-expressed as postings algebra instead of a suffix array): hash
    * every POSITIONAL [[SpanK]]-token span, group by hash, and report
    * spans occurring more than once — the exact duplicated passages a
    * span-level deduper would cut. Narrow span hashing + one
    * high-cardinality aggregate; no pairwise comparison anywhere, so the
    * cost is linear in corpus tokens at any scale. */
  val SpanK = 8

  def repeatedSpans(docs: DataFrame): DataFrame = {
    // one compiled pass per document (the declarative per-position HOF
    // lambda ran interpreted and was measured 6x the hash cost once the
    // explode collapsed the transform into the generator)
    val codes = Tables.rebalance(docs, "doc_id")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
      .filter(size(col("words")) >= SpanK)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.span_hashes(col("words"), SpanK).as("cs"))
    codes.select(col("doc_id"), explode(col("cs")).as("span_hash"))
      .groupBy("span_hash")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occur"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_occur") >= 2)
  }

  def qRepeatedSpans(s: SparkSession, d: String): DataFrame =
    repeatedSpans(documents(s, d)).orderBy(col("n_occur").desc, col("span_hash"))

  /** Cap for [[longestRepeatedSpan]]: beyond 64 shared tokens two texts
    * are near-duplicates — the document-level dedup family's job, not a
    * span diagnostic's. The cap also bounds the worst-round work at
    * (distinct open lengths ≤ cap/2) × corpus positions. */
  val RepSpanCap = 64

  /** EXACT longest repeated token-span length per document (capped) —
    * the max-length completion of [[repeatedSpans]]' fixed-K scan and
    * the per-document diagnostic behind Lee et al. 2022's suffix-array
    * dedup ("how much of this doc is copied from somewhere?"): for each
    * doc, the largest n ≤ cap such that one of its n-token spans occurs
    * at ≥ 2 positions corpus-wide (any doc, self-overlaps count).
    *
    * Algorithm — a SYNCHRONIZED PER-DOCUMENT BINARY SEARCH with global
    * occurrence counting, instead of a suffix array: each doc carries
    * (lo = longest confirmed, hi = shortest refuted); each round, the
    * ≤ cap/2 distinct open midpoints are collected (a driver-bounded
    * handful by construction), ONE pass explodes every document's spans
    * at every open length (occurrences must be counted corpus-wide, not
    * just over docs searching that length), repeated (length, span)
    * keys are one grouped count, and each doc's interval halves. The
    * predicate is monotone in n (an (n+1)-span repeat contains n-span
    * repeats), so ⌈log2(cap)⌉ + 1 rounds decide every document —
    * 7 linear passes at cap 64, never a pairwise comparison.
    *
    * Shuffle discipline (HASH-GROUP, VERIFY-EXACT — the minhash
    * [[Overlap.verify]] pattern): the counting shuffle carries only the
    * codegen'd 8-byte rolling span hash per position (a joined string
    * up to ~400 bytes per span measured 73 s at sf0.1; this form takes
    * seconds); positions whose (length, hash) group holds ≥ 2 members
    * — true repeats plus the rare mod-1e9+7 collisions — join their
    * exact span strings back and the repeat verdict is decided on
    * EXACT strings, so the semantics stay collision-free (a plain
    * hashed count is NOT monotone in n when a collision manufactures a
    * phantom repeat at one isolated length — measured: 12/500 docs
    * diverged — which would also break the binary search itself).
    * Cheap where it matters: at large lengths candidates are rare, at
    * small lengths the verified strings are short. */
  /** Token budget for [[longestRepeatedSpan]]'s SMALL-INPUT FAST PATH
    * (the [[nearDupClusters]] driverEdgeBudget pattern): a corpus at or
    * under this many tokens collects to the driver and the identical
    * binary search runs locally over int-interned tokens — one collect
    * instead of ~7 rounds x (explode + 2 grouped counts + 2 verify joins
    * + 3 checkpoints) of distributed machinery whose data is tiny but
    * whose per-round scheduling cost is fixed. This is exactly the shape
    * the gated 500-doc diagnostic panel hits (VERDICT r9 Next #4: the
    * flat ~11 s was ~9% of the whole suite); corpus-scale frames
    * overflow the probe and take the distributed loop unchanged.
    * 2^21 tokens ≈ tens of MB of interned ints — driver-trivial. */
  val RepSpanDriverTokenBudget: Long = 1L << 21

  def longestRepeatedSpan(docs: DataFrame, cap: Int = RepSpanCap,
      driverTokenBudget: Long = RepSpanDriverTokenBudget): DataFrame = {
    val spark = docs.sparkSession
    val w = Tables.rebalance(docs, "doc_id")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
      .withColumn("len", size(col("words")))
      .localCheckpoint() // re-read every round
    // ONE cheap probe on the materialized frame decides the regime
    val probe = w.agg(coalesce(sum(col("len")), lit(0L)).as("t")).head().getLong(0)
    if (probe <= driverTokenBudget) {
      import spark.implicits._
      val local = w.select(col("doc_id"), col("words"))
        .collect().map { r =>
          val ws = r.getSeq[String](1) // null text -> no words, lo stays 0
          (r.getLong(0), if (ws == null) Array.empty[String] else ws.toArray)
        }
      return longestRepeatedSpanLocal(local, cap).toSeq
        .toDF("doc_id", "max_rep_len")
    }
    // UNIFORM hi for every doc (not min(cap, len)+1): the search tree
    // then has ≤ 2^round distinct midpoints per round — 63 corpus
    // passes total over the whole search — where per-doc intervals
    // produced 28-59 distinct lengths EVERY round (measured 511 s at
    // sf0.1 vs ~60 s after this + the checkpoints below). A doc
    // shorter than a probed length simply yields no spans there and
    // its interval halves downward — same answer, fewer lengths.
    var state = w.select(col("doc_id"), lit(0).as("lo"), lit(cap + 1).as("hi"))
      .localCheckpoint()
    var open = state.filter(col("hi") - col("lo") > 1)
    while (!open.isEmpty) {
      // the round's distinct midpoints: ≤ cap/2 values by construction
      // (binary search over [0, cap]) — a bounded driver collect
      val mids = open.select(((col("lo") + col("hi")) / 2).cast("int").as("mid"))
        .distinct().collect().map(_.getInt(0)).sorted
      // one corpus pass per open length (≤ cap/2 unions, each a narrow
      // codegen'd rolling-hash explode): every doc's POSITIONS at every
      // open length — occurrences count corpus-wide
      val grams = mids.map { m =>
        w.filter(col("len") >= m)
          .select(col("doc_id"), lit(m).as("mid"),
            posexplode(graft.functions.GraftFunctions.span_hashes(col("words"), m))
              .as(Seq("p", "h")))
      }.reduce(_ unionByName _)
        .localCheckpoint() // read by the count AND both verify joins
      // hash-group candidates (supersets of the true repeats) ...
      val candKeys = grams.groupBy("mid", "h")
        .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
        .select("mid", "h")
      // ... then verify on EXACT strings, materialized only for
      // candidate positions (an exact repeat always shares a hash, so
      // nothing true is lost; a collision dies here)
      val candStr = grams.join(candKeys, Seq("mid", "h"), "left_semi")
        .join(w.select(col("doc_id"), col("words")), Seq("doc_id"))
        .select(col("doc_id"), col("mid"),
          concat_ws(" ", slice(col("words"), col("p") + 1, col("mid"))).as("gram"))
        .localCheckpoint() // read by the repeat count AND the found join
      val repeated = candStr.groupBy("mid", "gram")
        .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
        .select("mid", "gram")
      val openMid = open.select(col("doc_id"),
        ((col("lo") + col("hi")) / 2).cast("int").as("mid"))
      val found = candStr.join(openMid, Seq("doc_id", "mid"))
        .join(repeated, Seq("mid", "gram"), "left_semi")
        .select("doc_id").distinct().withColumn("f", lit(true))
      state = state
        .join(openMid.join(found, Seq("doc_id"), "left")
          .select(col("doc_id"), col("mid"), coalesce(col("f"), lit(false)).as("f")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("mid").isNotNull && col("f"), col("mid")).otherwise(col("lo")).as("lo"),
          when(col("mid").isNotNull && !col("f"), col("mid")).otherwise(col("hi")).as("hi"))
        .localCheckpoint()
      open = state.filter(col("hi") - col("lo") > 1)
    }
    state.select(col("doc_id"), col("lo").cast("long").as("max_rep_len"))
  }

  /** A span of an interned-token array, usable as an exact hash key: the
    * repeat verdict is decided on token EQUALITY, never on a hash alone
    * (the same hash-group/verify-exact discipline as the distributed
    * path — here the "verify" is the HashMap's own equals). */
  private final class Span(val t: Array[Int], val off: Int, val len: Int) {
    override val hashCode: Int = {
      var h = 1; var i = off
      while (i < off + len) { h = h * 31 + t(i); i += 1 }
      h
    }
    override def equals(o: Any): Boolean = o match {
      case s: Span => s.len == len && {
        var i = 0
        while (i < len && t(off + i) == s.t(s.off + i)) i += 1
        i == len
      }
      case _ => false
    }
  }

  /** Driver-local mirror of the distributed synchronized binary search —
    * result-IDENTICAL by construction (equality spec'd in DedupSpec):
    * same monotone predicate ("doc has an n-token span occurring at >= 2
    * positions corpus-wide, self-overlaps included"), same uniform [0,
    * cap+1] bounds, decisions on exact token sequences. Tokens intern to
    * ints once, so each probed length costs one O(corpus tokens x m)
    * counting pass over int slices. */
  private[graft] def longestRepeatedSpanLocal(
      docs: Array[(Long, Array[String])], cap: Int): Array[(Long, Long)] = {
    val dict = scala.collection.mutable.HashMap.empty[String, Int]
    val toks: Array[Array[Int]] =
      docs.map(_._2.map(w => dict.getOrElseUpdate(w, dict.size)))
    val n = docs.length
    val lo = Array.fill(n)(0)
    val hi = Array.fill(n)(cap + 1)
    var open = (0 until n).filter(i => hi(i) - lo(i) > 1)
    while (open.nonEmpty) {
      val mids = open.map(i => (lo(i) + hi(i)) / 2).distinct.sorted
      mids.foreach { m =>
        // corpus-wide exact span counts at length m (ALL docs, not just
        // the ones probing m — occurrences are global)
        val counts = new java.util.HashMap[Span, Int]()
        toks.foreach { t =>
          var p = 0
          while (p + m <= t.length) {
            counts.merge(new Span(t, p, m), 1, Integer.sum _)
            p += 1
          }
        }
        open.foreach { i =>
          if ((lo(i) + hi(i)) / 2 == m) {
            val t = toks(i)
            var p = 0
            var found = false
            while (!found && p + m <= t.length) {
              if (counts.get(new Span(t, p, m)) >= 2) found = true
              p += 1
            }
            if (found) lo(i) = m else hi(i) = m
          }
        }
      }
      open = (0 until n).filter(i => hi(i) - lo(i) > 1)
    }
    docs.indices.map(i => (docs(i)._1, lo(i).toLong)).toArray
  }

  /** Oracle-checked: per-doc longest repeated span length over a FIXED
    * 500-doc slice (the q_caption_check bounded-panel pattern — the
    * whole suite's bench budget should not fund a ~63-pass diagnostic
    * on the full corpus every round; the operator itself takes any
    * frame and SCALE.md carries its full-corpus cost). The oracle
    * brute-forces every (position, n ≤ cap) span slice-wide and takes
    * each doc's max over the repeated set — the closed form the binary
    * search must land on exactly. */
  def qRepSpanMax(s: SparkSession, d: String): DataFrame =
    longestRepeatedSpan(documents(s, d).filter(col("doc_id") < 500))
      .orderBy("doc_id")

  /** Exact substring dedup WITH REMOVAL (the full Lee et al. 2022 step —
    * [[repeatedSpans]] only reports): every positional [[SpanK]]-token
    * span keeps its globally-first occurrence (min (doc_id, pos)); the
    * token range of every LATER occurrence is cut, overlapping cuts
    * union, and each document is reassembled from its surviving tokens.
    * A full duplicate of an earlier document ends up empty; a copied
    * passage inside an otherwise-novel document loses just that passage.
    *
    * Shape: one compiled span-hash pass, one scalar (span_hash, doc_id,
    * pos) shuffle for the first-occurrence rule, then the per-doc cut
    * lists come BACK as a broadcast and removal is a narrow indexed
    * array filter — the corpus text itself never enters an exchange.
    * The cut-list table is sized by the corpus's duplicated-span rate;
    * if it outgrows broadcast at 100 TB, join it through the doc_id
    * bucketing ([[graft.engine.Bucketed]]) instead — the corpus side
    * still never re-shuffles. */
  def spanDedup(docs: DataFrame): DataFrame = {
    // null text (failed extraction) -> explicit empty token array: the
    // doc surfaces as (n_tokens=0, n_kept=0, text_clean=""), never as a
    // size(NULL) = -1 nonsense row
    val words = Tables.rebalance(docs, "doc_id")
      .select(col("doc_id"),
        when(col("text").isNull, array().cast("array<string>"))
          .otherwise(split(trim(col("text")), "\\s+")).as("words"))
    val spans = words
      .filter(size(col("words")) >= SpanK)
      .select(col("doc_id"),
        posexplode(graft.functions.GraftFunctions.span_hashes(col("words"), SpanK)))
      .select(col("doc_id"), col("pos"), col("col").as("span_hash"))
    val w = Window.partitionBy(col("span_hash")).orderBy(col("doc_id"), col("pos"))
    val cutStarts = spans
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1)
      .groupBy("doc_id")
      .agg(collect_list(col("pos")).as("cut_starts"))
    words
      .join(broadcast(cutStarts), Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("words")).cast("long").as("n_tokens"),
        // codegen'd sweep (sorted merged intervals, one token pass): the
        // declarative filter×exists form runs an interpreted lambda per
        // (token, cut) pair — quadratic in a doc's cut count, the SCALE
        // findings 3/7 shape (equality with that form spec'd)
        when(col("cut_starts").isNull, col("words")).otherwise(
          graft.functions.GraftFunctions.cut_tokens(
            col("words"), col("cut_starts"), SpanK)).as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        concat_ws(" ", col("kept")).as("text_clean"))
  }

  /** Oracle-checked demo: corpus + full copies of every 20th doc (they
    * reassemble to empty) + first-16-token prefix copies of every 30th
    * doc with a unique tail (the copied prefix is cut, the tail
    * survives). */
  def qSpanDedup(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"), col("text"))
    val full = base.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val prefix = base.filter(col("doc_id") % 30 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(
          array_join(slice(split(trim(col("text")), "\\s+"), 1, 16), " "),
          lit(" unique tail "), col("doc_id").cast("string")).as("text"))
    spanDedup(base.unionByName(full).unionByName(prefix)).orderBy("doc_id")
  }

  // -------------------------------------------------------- keep-best dedup

  /** Canonical selection among near-identical variants: group documents by
    * a NORMALIZED content key (here: poly_hash of the lowercased text — a
    * long, so the shuffle never carries document bodies) and keep the
    * highest-quality member, ties broken by lowest doc_id. This is the
    * policy layer exact dedup needs in production: when a document exists
    * in several casings/encodings, keep the best copy, not an arbitrary
    * one. The demo plants uppercased variants of every 5th doc at shifted
    * ids; their stopword hits vanish under [[TextAnalysis.withQuality]]'s
    * lowercase markers, so the original deterministically wins. */
  def keepBest(docs: DataFrame): DataFrame = {
    val scored = TextAnalysis.withQuality(Tables.rebalance(docs, "doc_id"))
      .withColumn("ckey", graft.functions.GraftFunctions.poly_hash(lower(col("text"))))
      .select("doc_id", "ckey", "quality_score")
    val w = Window.partitionBy(col("ckey"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    scored
      .withColumn("rn", row_number().over(w))
      .withColumn("n_variants",
        count(lit(1)).over(Window.partitionBy(col("ckey"))).cast("long"))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("n_variants"), col("quality_score"))
  }

  def qDedupKeepBest(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"), col("text"))
    val variants = base.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), upper(col("text")).as("text"))
    keepBest(base.unionByName(variants)).orderBy("doc_id")
  }

  // --------------------------------- content-defined chunking (CDC)

  /** Content-defined chunking: split each document where a rolling hash
    * of the trailing [[CdcWindow]] chars hits the [[CdcMask]] residue —
    * the Rabin-chunking baseline (LBFS, Muthitacharoen et al. 2001)
    * behind chunk-level dedup and delta storage. Because boundaries are
    * functions of CONTENT, an insertion early in a document shifts only
    * the chunk it lands in: all later chunks keep their fingerprints,
    * which is exactly what makes chunk-level dedup robust where
    * fixed-size blocks break. (The FastCDC min/max-length normalization
    * is a deployment knob on the same anchor stream; the gate keeps the
    * stateless anchor rule so the oracle stays a windowed aggregation,
    * not a sequential scan.)
    *
    * Boundary rule: after char i (1-based, i >= window) when the
    * polynomial hash (base 31, mod 1e9+7) of chars [i-7..i] is divisible
    * by [[CdcMask]]. Chunk fingerprints reuse the same fold over the
    * chunk's chars. All integer math — engine and oracle agree exactly. */
  val CdcWindow = 8
  val CdcMask = 64L

  private[graft] def cdcBoundaries(text: String): Seq[Int] = {
    val n = text.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = CdcWindow
    while (i <= n) {
      var h = 0L
      var j = i - CdcWindow
      while (j < i) { h = (h * 31L + text.charAt(j).toInt) % 1000000007L; j += 1 }
      if (h % CdcMask == 0L) out += i
      i += 1
    }
    if (out.isEmpty || out.last != n) out += n
    out.toSeq
  }

  private[graft] def polyFp(s: String): Long = {
    var h = 0L; var i = 0
    while (i < s.length) { h = (h * 31L + s.charAt(i).toInt) % 1000000007L; i += 1 }
    h
  }

  /** Per-chunk rows: (doc_id, chunk_no, start, chunk_len, chunk_fp,
    * shared) — `shared` marks fingerprints seen in MORE THAN ONE doc
    * (the chunk-dedup signal). Chunking is a narrow per-row pass; the
    * only shuffle is the fingerprint-keyed share count (scalar keys). */
  def cdcChunks(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val chunks = Tables.rebalance(docs, "doc_id")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val t = if (text == null) "" else text
          // empty/null docs chunk to NOTHING (matching the oracle's
          // length(text) > 0 guard) — a zero-length chunk row would also
          // make all empty docs "share" the empty fingerprint
          if (t.isEmpty) Iterator.empty
          else {
            val bounds = cdcBoundaries(t)
            val starts = 0 +: bounds.dropRight(1)
            starts.zip(bounds).zipWithIndex.iterator.map { case ((a, b), k) =>
              (id, k + 1, a + 1, b - a, polyFp(t.substring(a, b)))
            }
          }
        }
      }
      .toDF("doc_id", "chunk_no", "start", "chunk_len", "chunk_fp")
    val share = chunks.groupBy("chunk_fp")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    chunks.join(share, Seq("chunk_fp"))
      .withColumn("shared", col("n_docs") > 1)
      .select("doc_id", "chunk_no", "start", "chunk_len", "chunk_fp", "shared")
  }

  /** Oracle-gated CDC over the corpus plus planted shifted copies (every
    * 25th doc re-planted with a 7-char prefix injected): fixed-size
    * blocking would desynchronize EVERY block of the copy, but CDC
    * boundaries resynchronize after the edit, so most of the copy's
    * chunks stay `shared` — the property the oracle's closed-form
    * replica verifies chunk by chunk. */
  def qCdcChunks(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"), col("text"))
    val shifted = base.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"),
        concat(lit("edited: "), col("text")).as("text"))
    cdcChunks(base.unionByName(shifted))
      .orderBy("doc_id", "chunk_no")
  }
}
