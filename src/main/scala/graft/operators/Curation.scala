package graft.operators

import graft.engine.Tables
import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a training-data pipeline runs after dedup:
  * deterministic stratified sampling and fixed-capacity sequence packing.
  * (Extensions beyond the reference per BASELINE.json's north star; the
  * reference's closest analog is its per-upload filtering, DI:227-291.)
  *
  * Scale notes: sampling is a narrow filter on a hash of the text (no
  * shuffle, fully pushdown-composable); packing is one window per
  * (lang) stratum — on a 100 TB corpus pack per (stratum, shard) so each
  * window partition stays executor-sized, exactly like the sessionization
  * window. Both are pure column work, deterministic, and oracle-checked.
  */
object Curation {
  import Tables._

  /** Tokens-per-bin for sequence packing (a context-window worth). */
  val BinTokens = 2048

  /** Deterministic 1-in-`k` sample: keep rows whose text fingerprint
    * (polynomial hash — portable, proven in the fingerprint oracle) falls
    * in residue 0. Unlike `df.sample`, the choice is a pure function of
    * the ROW, so it is stable across runs, partitionings, and engines —
    * what a reproducible training-data pipeline needs. */
  def hashSample(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.filter(pmod(graft.functions.GraftFunctions.poly_hash(col(textCol)), lit(k.toLong)) === 0)

  /** Sequence packing: concatenate each stratum's documents in doc_id
    * order and cut into `binTokens`-sized training sequences. Each doc is
    * labeled with the bin holding its FIRST token and the offset inside
    * that bin — the (bin_id, bin_offset) pair fully determines the packed
    * layout downstream writers materialize. One running-sum window per
    * stratum. */
  def packSequences(docs: DataFrame, stratumCol: String, binTokens: Int = BinTokens): DataFrame = {
    val w = Window.partitionBy(col(stratumCol)).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col(stratumCol), col("doc_id"),
        size(GraftFunctions.words(col("text"))).cast("long").as("n_tokens"))
      .withColumn("start_token", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      // integer `div`, not double `/`: the running token sum passes 2^53 on
      // a 100 TB corpus and double division would silently mis-bin there
      // (the DuckDB oracle uses exact integer division throughout)
      .select(col(stratumCol), col("doc_id"), col("n_tokens"),
        expr(s"start_token div ${binTokens}").as("bin_id"),
        pmod(col("start_token"), lit(binTokens.toLong)).as("bin_offset"))
  }

  /** Oracle-checked: deterministic 1-in-8 stratified sample with per-
    * stratum accounting (rates should hover near 1/8 per stratum). */
  def qSampleStratified(s: SparkSession, d: String): DataFrame = {
    val sampled = hashSample(documents(s, d), "text", 8)
    sampled.select(col("doc_id"), col("lang")).orderBy("doc_id")
  }

  /** Oracle-checked: pack each language stratum into 2048-token bins. */
  def qPackSequences(s: SparkSession, d: String): DataFrame =
    packSequences(documents(s, d), "lang")
      .orderBy("doc_id")

  /** Deterministic train/val/test assignment from the text fingerprint:
    * residues 0 -> test, 1 -> val, 2..k-1 -> train (10% / 10% / 80% at
    * k=10). Pure function of the row, so membership survives reruns,
    * repartitioning, and incremental appends — a doc can never leak
    * between splits across pipeline versions. */
  def assignSplit(df: DataFrame, textCol: String, k: Int = 10): DataFrame =
    df.withColumn("split",
      when(pmod(graft.functions.GraftFunctions.poly_hash(col(textCol)), lit(k.toLong)) === 0, "test")
        .when(pmod(graft.functions.GraftFunctions.poly_hash(col(textCol)), lit(k.toLong)) === 1, "val")
        .otherwise("train"))

  /** Oracle-checked: split sizes and token budgets per assignment. */
  def qSplit(s: SparkSession, d: String): DataFrame =
    assignSplit(documents(s, d), "text")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(GraftFunctions.words(col("text"))).cast("long")).as("total_tokens"))
      .orderBy("split")

  /** RAG-style token chunking: fixed `chunkSize`-token windows with
    * `overlap` tokens of context repeated between consecutive chunks
    * (stride = chunkSize - overlap). The same generator shape as the
    * reference's 5/3 snippet windows (data_ingestion.py:39,190) at
    * retrieval-chunk granularity: chunk k starts at token k*stride while
    * that start is inside the document, so the tail is covered without
    * emitting an empty trailing chunk. Narrow per-document work — the
    * words array is materialized ONCE per row (see the re-evaluation
    * caveat on [[Dedup.shinglesFromWords]]) and chunks explode from a
    * sequence, never from a self-join. */
  /** Pure kernel of [[chunkTokens]]'s layout math — (chunk_id, start,
    * length) per chunk for an `nTokens`-token document. Property-tested in
    * ChunkProps; the DataFrame operator is asserted equal on fixtures. */
  def chunkBounds(nTokens: Long, chunkSize: Int = 64, overlap: Int = 16): Seq[(Long, Long, Long)] = {
    require(overlap < chunkSize, s"overlap $overlap must be < chunkSize $chunkSize")
    val stride = chunkSize - overlap
    if (nTokens <= 0) Seq.empty
    else (0L to (nTokens - 1) / stride).map(k =>
      (k, k * stride, math.min(chunkSize.toLong, nTokens - k * stride)))
  }

  def chunkTokens(docs: DataFrame, chunkSize: Int = 64, overlap: Int = 16): DataFrame = {
    require(overlap < chunkSize, s"overlap $overlap must be < chunkSize $chunkSize")
    val stride = chunkSize - overlap
    docs
      .select(col("doc_id"), GraftFunctions.words(col("text")).as("words"))
      .select(col("doc_id"), size(col("words")).cast("long").as("n_tokens"), col("words"))
      .select(col("doc_id"), col("n_tokens"), col("words"),
        explode(sequence(lit(0L), expr(s"(n_tokens - 1) div $stride"))).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        least(lit(chunkSize.toLong), col("n_tokens") - col("chunk_id") * stride)
          .as("chunk_tokens"),
        concat_ws(" ", slice(col("words"), (col("chunk_id") * stride + 1).cast("int"),
          lit(chunkSize))).as("chunk_text"))
  }

  def qChunk(s: SparkSession, d: String): DataFrame =
    chunkTokens(documents(s, d)).orderBy("doc_id", "chunk_id")

  /** Domain-mixture sampling: hit a TARGET mixture over the `source`
    * domains by computing one acceptance rate per domain and keeping rows
    * by deterministic text-hash residue (same stability contract as
    * [[hashSample]] — membership is a pure function of the row). Domain
    * weights here derive from the source id (w = id%4 + 1, a stand-in for
    * a mixture config); rate_i = min(1, (w_i/Σw) · N / n_i), i.e. the
    * largest down-sample that respects the target shares without
    * up-sampling. The rate table is domain-cardinality-sized (tiny),
    * computed in one aggregation and broadcast back — the corpus itself
    * is touched by exactly one narrow filter. */
  def mixtureSample(docs: DataFrame, sourceCol: String): DataFrame = {
    val wcol = (regexp_extract(col(sourceCol), "([0-9]+)$", 1).cast("long") % 4 + 1)
      .cast("double")
    val perSource = docs.groupBy(sourceCol)
      .agg(count(lit(1)).cast("double").as("n_i"))
      .withColumn("w_i", wcol)
    // unpartitioned window over the domain table: ~#domains rows, not data
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rates = perSource
      .withColumn("rate",
        least(lit(1.0), col("w_i") / sum(col("w_i")).over(wAll)
          * sum(col("n_i")).over(wAll) / col("n_i")))
      .select(col(sourceCol), col("n_i"), col("rate"))
    docs.join(broadcast(rates), Seq(sourceCol))
      .filter(pmod(graft.functions.GraftFunctions.poly_hash(col("text")), lit(1000000L))
        < floor(col("rate") * 1e6).cast("long"))
  }

  /** Per-domain kept/total accounting of the mixture sample. */
  def qMixture(s: SparkSession, d: String): DataFrame =
    mixtureSample(documents(s, d), "source")
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), max(col("n_i")).cast("long").as("n_total"))
      .select(col("source"), col("n_total"), col("n_kept"),
        round(col("n_kept").cast("double") / col("n_total"), 6).as("kept_frac"))
      .orderBy("source")

  /** Temperature-scaled (α = 1/2) domain sampling weights — the
    * multilingual "alpha sampling" rule (mBERT / XLM-R: wᵢ ∝ pᵢ^α with
    * α < 1 flattens the domain distribution so low-resource domains are
    * not drowned by head domains). α = 1/2 is both the classic choice
    * AND the one temperature whose power function is IEEE-exact (sqrt —
    * libm pow would not cross the hash gate): wᵢ = √nᵢ / Σ√nⱼ, with
    * each √ rounded onto the 6dp grid before the Σ (an exact DECIMAL
    * sum, order-free) and one correctly-rounded division after. The
    * boost column wᵢ/pᵢ (> 1 = up-weighted) is the sampling multiplier
    * a mixture executor applies per domain. Scale: one keyed
    * aggregation over the corpus; the scalar totals attach via a
    * broadcast 1-row frame. */
  def qAlphaSample(s: SparkSession, d: String): DataFrame =
    alphaSample(documents(s, d))

  /** [[qAlphaSample]] over any frame carrying a `source` column. */
  def alphaSample(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("s6",
        floor(sqrt(col("n_docs").cast("double")) * 1e6 + 0.5) / 1e6)
    val totals = counts.agg(
      sum(col("s6").cast("decimal(18,6)")).as("st"),
      sum(col("n_docs")).as("nt"))
    counts.crossJoin(broadcast(totals))
      .withColumn("w_alpha",
        floor(col("s6") / col("st").cast("double") * 1e6 + 0.5) / 1e6)
      .select(col("source"), col("n_docs"), col("w_alpha"),
        (floor(col("w_alpha") * col("nt").cast("double") /
          col("n_docs").cast("double") * 1e6 + 0.5) / 1e6).as("boost"))
      .orderBy("source")
  }

  /** Curriculum assignment: every document gets a quality DECILE from
    * exact grouped percentiles — the "order the corpus easy-to-hard"
    * step of curriculum training, without a global sort. The 9 decile
    * thresholds are one exact-percentile aggregate (collected driver-side
    * — 9 doubles), and bucket assignment is a narrow comparison fold, so
    * the corpus is touched by exactly one aggregate and one projection at
    * any scale. Thresholds are ROUNDED onto the same 6-decimal grid the
    * scores live on before comparing: the two engines interpolate with
    * different expression shapes (a+(b-a)f vs a(1-f)+bf), which on tied
    * neighbors differs by an ulp — exactly at a grid point, where every
    * tied score would flip buckets. On-grid thresholds make the
    * comparisons exact. */
  def qCurriculum(s: SparkSession, d: String): DataFrame = {
    val scored = TextAnalysis.withQuality(Tables.rebalance(documents(s, d), "doc_id"))
      .select(col("doc_id"), col("quality_score"))
    // percentile over zero rows aggregates to NULL — an empty corpus gets
    // an empty threshold list (fold yields decile 1 on a frame with no rows)
    val thresholds = Option(scored
      .agg(expr("transform(percentile(quality_score, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9)), t -> round(t, 6))"))
      .head().getSeq[Double](0)).getOrElse(Seq.empty)
    val decile = thresholds.foldLeft(lit(1L)) { (acc, t) =>
      acc + when(col("quality_score") >= t, 1L).otherwise(0L)
    }
    scored.select(col("doc_id"), col("quality_score"), decile.as("decile"))
      .orderBy("doc_id")
  }

  /** Exact-quota stratified sample: exactly min(k, |stratum|) documents
    * per stratum — what an eval-set builder needs where [[hashSample]]'s
    * RATE-based draw only hits k in expectation. Selection order is the
    * text fingerprint (ties to doc_id): deterministic, engine-portable,
    * and uncorrelated with any content signal, so the quota is an
    * unbiased draw. One row_number window per stratum — the
    * sessionization shuffle shape. */
  def quotaSample(docs: DataFrame, stratumCol: String, k: Int): DataFrame = {
    // hash a coalesced key: poly_hash(NULL) is NULL, and Spark sorts
    // nulls FIRST where the DuckDB oracle sorts them LAST — a null-text
    // doc would silently rank first here and last there. Hashing '' keeps
    // non-null ranks identical and gives null text a deterministic,
    // engine-portable slot
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(graft.functions.GraftFunctions.poly_hash(coalesce(col("text"), lit(""))),
        col("doc_id"))
    docs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col(stratumCol), col("rnk").cast("long").as("rnk"))
  }

  /** Oracle-checked: exactly 25 docs per language. */
  def qQuotaSample(s: SparkSession, d: String): DataFrame =
    quotaSample(documents(s, d), "lang", 25).orderBy("doc_id")

  /** Weighted sampling WITHOUT replacement, quality-proportional:
    * Efraimidis-Spirakis (2006) order sampling — each document draws key
    * -ln(u)/w and the k SMALLEST keys win, which is distributionally a
    * weighted draw without replacement. u comes from the text
    * fingerprint, not a RNG, so the sample is reproducible across runs,
    * engines, and partitionings (the [[hashSample]] doctrine applied to
    * a weighted draw); w is the blended quality score, so high-quality
    * documents are proportionally favored without hard thresholds — the
    * soft alternative to [[budgetSelect]]'s strict quality ordering.
    *
    * Shape: one narrow pass computes keys, TakeOrdered pulls the k
    * smallest (per-partition top-k + driver merge, no global sort).
    * Determinism: u = (h+1)/(M+1) in (0,1); ln is rounded to 6dp at the
    * call (the [[TextAnalysis.perplexity]] ln discipline), the key
    * re-rounded after the division. Docs are pre-filtered to len>0 and
    * n_tokens>=1 so every ratio in w is division of positive integers —
    * no NaN can reach the filter (Spark drops NaN at `> 0`, DuckDB sorts
    * it greatest: an engine-visible divergence if it ever existed). */
  def weightedSample(docs: DataFrame, k: Int): DataFrame = {
    val m = 1000000007L // poly_hash modulus
    val q = TextAnalysis.withQuality(
      Tables.rebalance(docs, "doc_id")
        .filter(length(col("text")) > 0 &&
          size(GraftFunctions.words(col("text"))) >= 1))
    val u = (graft.functions.GraftFunctions.poly_hash(col("text")) + 1)
      .cast("double") / lit((m + 1).toDouble)
    q.withColumn("samp_key",
        round(-round(log(u), 6) / col("quality_score"), 6))
      .orderBy(col("samp_key"), col("doc_id")).limit(k)
      .select(col("doc_id"), col("quality_score"), col("samp_key"))
  }

  def qWeightedSample(s: SparkSession, d: String): DataFrame =
    weightedSample(documents(s, d), 100)

  /** Deterministic RANDOM negative sampling for contrastive training:
    * k pseudo-random partner ids per document, derived by hashing
    * (doc_id, j) into the contiguous id space [minId, minId + nDocs) —
    * join-free (the negatives are generated, not matched), reproducible
    * across runs/engines/partitionings, and uniform enough that no
    * document becomes a hot negative. Self-pairs advance one slot. The
    * complement of [[Similarity.hardNegatives]]: random negatives anchor
    * the easy end of the contrastive batch, mined ones the hard end. */
  def negativeSamples(docs: DataFrame, k: Int, minId: Long, nDocs: Long): DataFrame = {
    require(nDocs >= 2, "need at least two documents to sample negatives")
    val h = pmod(graft.functions.GraftFunctions.poly_hash(
      concat(col("doc_id").cast("string"), lit(":"), col("j").cast("string"))),
      lit(nDocs))
    docs.select(col("doc_id"), explode(sequence(lit(1L), lit(k.toLong))).as("j"))
      .withColumn("raw", h + minId)
      .withColumn("neg_id",
        when(col("raw") === col("doc_id"),
          pmod(col("raw") - minId + 1L, lit(nDocs)) + minId)
          .otherwise(col("raw")))
      .select(col("doc_id"), col("j"), col("neg_id"))
  }

  /** Oracle-checked: 4 negatives per document over the corpus id space
    * (bounds from one caller-side aggregate, embedded as literals). */
  def qNegatives(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val r = docs.agg(min(col("doc_id")), count(lit(1))).head()
    negativeSamples(docs, 4, r.getLong(0), r.getLong(1))
      .orderBy("doc_id", "j")
  }

  /** Leakage-safe train/val/test split: near-duplicate CLUSTERS move as a
    * unit. [[assignSplit]]'s per-document hash is stable but leaks — two
    * near-dup documents usually differ in text, so their hashes can land
    * one copy in train and one in test, and the eval set silently overlaps
    * the training set. Here every document in a near-dup cluster inherits
    * the split of the cluster REPRESENTATIVE (min doc_id), so a cluster
    * can never straddle splits; singletons fall back to their own hash.
    * The corpus text is touched exactly once (the residue projection);
    * every join after that moves (doc_id, cluster_id, residue) scalars
    * only. */
  def splitSafe(docs: DataFrame, pairs: DataFrame, k: Int = 10): DataFrame = {
    val residues = docs.select(col("doc_id"),
      pmod(graft.functions.GraftFunctions.poly_hash(col("text")), lit(k.toLong)).as("own_r"))
    val labels = Dedup.nearDupClusters(pairs)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
    val repR = labels.join(
      residues.select(col("doc_id").as("cluster_id"), col("own_r").as("rep_r")),
      Seq("cluster_id"))
    residues
      .join(repR.select("doc_id", "cluster_id", "rep_r"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("rep_r"), col("own_r")).as("r"))
      .withColumn("split",
        when(col("r") === 0, "test").when(col("r") === 1, "val").otherwise("train"))
      .drop("r")
  }

  /** Oracle-checked: cluster-granular split assignment, one row per doc,
    * with near-dup candidates from the ROUTED path (VERDICT r9 Next #1 —
    * the production split must inherit the router's sub-quadratic scaling,
    * not the exact O(pairs) scan's sf1 exponent 1.14). At gate scale the
    * router provably picks the exact inverted strategy, so the exact-pair
    * oracle applies verbatim; the pinned `strategy` literal makes a silent
    * route flip a loud hash FAIL (the q_dedup_auto design). */
  def qSplitSafe(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.rebalance(documents(s, d), "doc_id")
    val (pairs, strategy) = Dedup.ngramNearDupsAutoTagged(docs, 0.5)
    splitSafe(docs, pairs.select("doc_a", "doc_b"))
      .withColumn("strategy", lit(strategy.name))
      .orderBy("doc_id")
  }

  /** Token-budget corpus selection: keep the highest-quality documents
    * until a token budget is spent — the "best N tokens" selection step
    * of a data-constrained training run. Documents are ranked by the
    * oracle-proven quality score (ties to doc_id), and a document is kept
    * while the tokens BEFORE it sit under the budget, so exactly the doc
    * that straddles the boundary is the last one in.
    *
    * Never a global-order window (that funnels the whole corpus through
    * ONE task). Two passes instead: range-partition on the selection
    * order so partition i holds strictly higher-ranked docs than
    * partition i+1, then (1) sum tokens per partition — a handful of
    * rows, prefix-summed on the driver into per-partition offsets — and
    * (2) run the running-sum window PER PARTITION and add the offset.
    * Partitions whose offset already exceeds the budget are pruned
    * before the window, so only the partitions at or under the budget
    * boundary pay for it. The ranked frame is localCheckpoint'ed so both
    * passes read the SAME materialized range partitioning (range
    * boundaries come from sampling; re-deriving them per job could
    * drift the offsets). */
  def budgetSelect(docs: DataFrame, budgetTokens: Long): DataFrame = {
    val scored = TextAnalysis.withQuality(Tables.rebalance(docs, "doc_id"))
      .select(col("doc_id"), col("quality_score"), col("n_tokens"))
    val ranked = scored
      .repartitionByRange(col("quality_score").desc, col("doc_id").asc)
      .withColumn("part", spark_partition_id())
      .localCheckpoint()
    val totals = ranked.groupBy("part").agg(sum("n_tokens").as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (totals.isEmpty)
      return ranked.drop("part").withColumn("tokens_before", lit(0L)).limit(0)
    val nParts = totals.keySet.max + 1
    // offsets(i) = tokens in all partitions ranked before partition i
    val offsets = (0 until nParts)
      .scanLeft(0L)((acc, i) => acc + totals.getOrElse(i, 0L)).take(nParts)
    val live = (0 until nParts).filter(i => offsets(i) < budgetTokens)
    val w = Window.partitionBy(col("part"))
      .orderBy(col("quality_score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ranked
      .filter(col("part").isin(live: _*))
      .withColumn("tokens_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)) +
          element_at(typedLit(offsets), col("part") + 1))
      .filter(col("tokens_before") < budgetTokens)
      .drop("part")
  }

  /** Oracle-checked: the 20k-token quality-first selection. */
  val BudgetTokens = 20000L

  def qBudgetSelect(s: SparkSession, d: String): DataFrame =
    budgetSelect(documents(s, d), BudgetTokens)
      .select(col("doc_id"), col("quality_score"), col("n_tokens"), col("tokens_before"))
      .orderBy("doc_id")

  /** MIXTURE PLANNING under an epoch cap — the budget-allocation step a
    * multi-domain training run solves before sampling: given per-source
    * token counts, a total token budget, and a max-epochs-per-source cap
    * (UniMax, Chung et al. 2023, public), allocate the budget as
    * uniformly as possible without repeating any source more than
    * `epochCap` times. This is exact WATER-FILLING: alloc_s =
    * min(cap_s, λ) with λ chosen so the allocations sum to the budget —
    * computed in closed form from the cap-sorted prefix sums (for each
    * boundary row i, λ_i = (budget − Σ caps below i)/(sources from i up);
    * the unique boundary where prev_cap ≤ λ_i ≤ cap_i wins; if the
    * budget covers every cap, every source is fully capped). Temperature
    * sampling rates (rate_s ∝ n_s^(1/T), the multilingual-mixing
    * standard) come out of the same pass for comparison.
    *
    * Scale shape: one source-keyed aggregate over the corpus; everything
    * after runs on the |sources| frame — a dataset-card cardinality
    * (domains, not documents), so the global windows over it are
    * bounded by design. */
  def mixPlan(docs: DataFrame, budget: Double, epochCap: Double,
      temp: Double): DataFrame = {
    val per = Tables.rebalance(docs, "doc_id")
      // null text counts as zero tokens, so a source of failed
      // extractions gets an explicit 0-token row, never a NULL cap
      .select(col("source"),
        coalesce(size(GraftFunctions.words(col("text"))), lit(0))
          .cast("long").as("nt"))
      .groupBy("source").agg(coalesce(sum(col("nt")), lit(0L)).as("n_tokens"))
      .withColumn("cap", col("n_tokens") * lit(epochCap))
    // |sources|-bounded frame: global windows below are fine
    val byCap = Window.orderBy(col("cap"), col("source"))
    val full = byCap.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val staged = per
      .withColumn("i", row_number().over(byCap))
      .withColumn("prefix",
        coalesce(sum(col("cap")).over(byCap.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0.0)))
      .withColumn("s_total", count(lit(1)).over(full))
      .withColumn("prev_cap", coalesce(lag(col("cap"), 1).over(byCap), lit(0.0)))
      .withColumn("lam_i",
        (lit(budget) - col("prefix")) / (col("s_total") - col("i") + 1))
      .withColumn("lam_valid",
        col("prev_cap") <= col("lam_i") && col("lam_i") <= col("cap"))
    val lam = staged
      .withColumn("lam", max(when(col("lam_valid"), col("lam_i"))).over(full))
    lam
      .select(col("source"), col("n_tokens"),
        round(least(col("cap"), coalesce(col("lam"), col("cap"))), 6)
          .as("unimax_alloc"))
      // temperature mass rounds to 6dp DECIMAL before the total, so the
      // normalizing sum is exact and order-independent (window sums over
      // raw doubles are summation-order-sensitive in the last ulp)
      // T=2 (the standard sqrt-scaling) computes via sqrt, which IEEE 754
      // requires to be CORRECTLY rounded in every engine; pow carries a
      // <=1-ulp libm tolerance, so only the sqrt form is oracle-gated
      .withColumn("t_mass",
        round(
          if (temp == 2.0) sqrt(col("n_tokens").cast("double"))
          else pow(col("n_tokens").cast("double"), lit(1.0 / temp)), 6)
          .cast("decimal(18,6)"))
      .withColumn("temp_rate",
        round(col("t_mass").cast("double") /
          sum(col("t_mass")).over(
            Window.orderBy(col("source")).rowsBetween(
              Window.unboundedPreceding, Window.unboundedFollowing))
            .cast("double"), 6))
      .select(col("source"), col("n_tokens"), col("unimax_alloc"), col("temp_rate"))
  }

  /** Oracle-checked: budget 48000 tokens, 2-epoch cap, T=2 temperature —
    * at gate scale the waterfall genuinely binds (the smallest sources
    * hit their cap, the rest share λ). */
  def qMixPlan(s: SparkSession, d: String): DataFrame =
    mixPlan(documents(s, d), budget = 48000.0, epochCap = 2.0, temp = 2.0)
      .orderBy("source")

  /** Oracle-checked COMPOSITE curation pipeline — the shape of a real
    * corpus-prep job: score quality, predict language, drop near-dup
    * non-survivors, keep docs passing every gate. Each stage is an
    * already-oracle-proven operator; this query proves they COMPOSE
    * (columns flow through, filters stack).
    *
    * The dedup anti-join carries NO broadcast hint deliberately: at
    * 100 TB the near-dup non-survivor set is corpus-proportional
    * (30-50% of a raw crawl — billions of ids), so forcing a driver
    * broadcast is an OOM. A plain left_anti on the scalar key lets
    * Catalyst/AQE pick: broadcast when the dropped side is actually
    * small (it is at test scale — AQE still broadcasts it), shuffled
    * hash/SMJ when it isn't. PlanSpec pins the large-side behavior. */
  def qCurate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.rebalance(documents(s, d), "doc_id")
    val scored = TextAnalysis.withLangId(TextAnalysis.withQuality(docs))
    // ROUTED candidate path (VERDICT r9 Next #1): the end-to-end curation
    // pipeline is exactly what runs on the full corpus, so its dedup stage
    // must inherit the router's sub-quadratic strategies (sf1 exponent
    // 0.57 routed vs 1.05 exact). The router's stats pass shares the
    // shingle index with the chosen strategy under the sampling threshold,
    // so the corpus is still shingled once. At gate scale the router
    // provably picks the exact inverted strategy (oracle applies
    // verbatim); the pinned literal makes a silent flip a loud hash FAIL.
    val (pairs, strategy) = Dedup.ngramNearDupsAutoTagged(docs, 0.5)
    val dropped = Dedup.nearDupClusters(pairs.select("doc_a", "doc_b"))
      .filter(col("id") =!= col("label"))
      .select(col("id").as("doc_id"))
    scored
      .join(dropped, Seq("doc_id"), "left_anti")
      .filter(col("quality_score") >= 0.5 && col("lang_pred") =!= "und")
      .select(col("doc_id"), col("lang_pred"), col("n_tokens"), col("quality_score"))
      .withColumn("strategy", lit(strategy.name))
      .orderBy("doc_id")
  }

  /** Deterministic EXPORT SHARDING — the last step of the pipeline: the
    * curated corpus leaves as N equal shards plus a MANIFEST (per-shard
    * doc/token/byte totals and id range), which is what the training job
    * actually consumes (shard assignment must be a pure row function so
    * re-exports are stable, and the manifest is how a loader budgets
    * steps-per-shard without scanning data). Shard = doc_id mod N: dense
    * ids make this perfectly balanced AND range-recoverable; for
    * clustered id spaces swap in a portable hash (the [[hashSample]]
    * fingerprint) in the same slot.
    *
    * Scale shape: the manifest is ONE corpus aggregation to N rows. The
    * writer repartitions BY SHARD and sorts within, so each shard is one
    * writer task's sequential output (no tiny-file spray) and doc_id
    * arrives ordered for zone-map-friendly reads. */
  def exportManifest(docs: DataFrame, nShards: Int): DataFrame =
    Tables.rebalance(docs, "doc_id")
      .select(col("doc_id"), col("n_chars"),
        pmod(col("doc_id"), lit(nShards.toLong)).as("shard"),
        size(GraftFunctions.words(col("text"))).cast("long").as("nt"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).as("n_tokens"),
        sum(col("n_chars")).as("n_bytes"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))

  /** Write the sharded export + return its manifest (spec-exercised; the
    * declared query covers the manifest math). */
  def exportShards(docs: DataFrame, path: String, nShards: Int): DataFrame = {
    docs
      .withColumn("shard", pmod(col("doc_id"), lit(nShards.toLong)))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions("shard", "doc_id")
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    exportManifest(docs, nShards)
  }

  /** Oracle-checked: 8-shard manifest of the documents corpus. */
  def qExportManifest(s: SparkSession, d: String): DataFrame =
    exportManifest(documents(s, d), 8).orderBy("shard")

  /** K-ANONYMITY audit over quasi-identifier columns — the governance
    * check a corpus with subject metadata needs before release: any
    * quasi-identifier combination shared by fewer than k rows can
    * re-identify its members (Sweeney 2002), so those groups must be
    * suppressed or generalized before the data ships. One grouped count
    * to |combinations| rows; the flag is pure column math.
    * [[kAnonymize]] applies the standard suppression: quasi columns of
    * at-risk rows are nulled (a broadcast semi-join against the at-risk
    * combination list — bounded: risky combos are by definition the
    * SMALL groups, at most |combos| rows). */
  def kAnonymityAudit(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame =
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("at_risk", col("n") < k)

  /** l-diversity audit — k-anonymity's companion (Machanavajjhala et al.
    * 2007): a group can be large (k-anonymous) yet still leak if every
    * member shares one SENSITIVE value; a group is at risk unless it
    * contains >= l distinct sensitive values. One grouped aggregation
    * (count + count-distinct), map-side combinable on the QI key. */
  def lDiversityAudit(df: DataFrame, quasiCols: Seq[String],
      sensitive: org.apache.spark.sql.Column, l: Long): DataFrame =
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(sensitive).as("n_sensitive"))
      .withColumn("at_risk", col("n_sensitive") < l)

  /** Oracle-checked l-diversity over the customer table: QI =
    * (nation, segment) — the q_kanon groups — sensitive = the account
    * balance in 1000-unit buckets (floor of ONE IEEE division: portable).
    * l = 3. */
  def qLdiversity(s: SparkSession, d: String): DataFrame =
    lDiversityAudit(customer(s, d), Seq("c_nationkey", "c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long"), 3L)
      .orderBy("c_nationkey", "c_mktsegment")

  /** Suppression: null the quasi columns of every row in an under-k
    * group, keep everything else verbatim. The match is NULL-SAFE
    * (`<=>` per column): a NULL quasi value forms a group like any
    * other — an equality join would never match it, and the one row
    * most in need of suppression would ship intact. */
  def kAnonymize(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    val risky = kAnonymityAudit(df, quasiCols, k)
      .filter(col("at_risk"))
      .select(quasiCols.map(c => col(c).as(s"__r_$c")): _*)
      .withColumn("__risk", lit(true))
    val cond = quasiCols.map(c => col(c) <=> col(s"__r_$c")).reduce(_ && _)
    val joined = df.join(broadcast(risky), cond, "left")
    val out = df.columns.map { c =>
      if (quasiCols.contains(c))
        when(col("__risk"), lit(null)).otherwise(col(c)).as(c)
      else col(c)
    }
    joined.select(out.toIndexedSeq: _*)
  }

  /** Oracle-checked: customer quasi-identifiers (nation, segment), k=10. */
  def qKanon(s: SparkSession, d: String): DataFrame =
    kAnonymityAudit(customer(s, d), Seq("c_nationkey", "c_mktsegment"), 10L)
      .orderBy("c_nationkey", "c_mktsegment")

  // ------------------------------------------- span corruption (T5-style)

  /** Deterministic mask rule for token `i` of doc `docId` — a pure
    * function of (doc, position), so the corruption is reproducible
    * across runs, partitionings and engines (the property a training
    * pipeline needs for resumable preprocessing; ~20% corruption rate). */
  def spanMasked(docId: Long, i: Int): Boolean =
    (docId * 31L + i * 17L) % 5L == 0L

  /** T5-style span corruption: contiguous masked-token runs collapse to
    * `<extra_id_k>` sentinels in the input; the target lists each
    * sentinel followed by the tokens it hides. Per-doc local work in one
    * narrow mapPartitions — tokens never explode into a shuffle (the
    * window-over-exploded-tokens formulation would shuffle every token
    * of a 100 TB corpus just to renumber runs). */
  def spanCorrupt(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val toks = Option(text).getOrElse("").trim
            .split("\\s+").filter(_.nonEmpty)
          val input = new StringBuilder
          val target = new StringBuilder
          var k = -1
          var prevMasked = false
          var nMasked = 0L
          var i = 0
          while (i < toks.length) {
            val m = spanMasked(id, i)
            if (m) {
              nMasked += 1
              if (!prevMasked) {
                k += 1
                if (input.nonEmpty) input.append(' ')
                input.append(s"<extra_id_$k>")
                if (target.nonEmpty) target.append(' ')
                target.append(s"<extra_id_$k>")
              }
              target.append(' ').append(toks(i))
            } else {
              if (input.nonEmpty) input.append(' ')
              input.append(toks(i))
            }
            prevMasked = m
            i += 1
          }
          (id, input.toString, target.toString, nMasked)
        }
      }
      .toDF("doc_id", "input_text", "target_text", "n_masked")
  }

  /** Oracle-checked span corruption over the documents table — the
    * DuckDB oracle rebuilds the sentinel numbering with a gaps-and-
    * islands pass over the same mask rule, so an off-by-one in run
    * detection, sentinel order or mask phase hash-mismatches. */
  def qSpanCorrupt(s: SparkSession, d: String): DataFrame =
    spanCorrupt(Tables.rebalance(documents(s, d), "doc_id"))
      .orderBy("doc_id")

  // -------------------------------------- preference pairs (DPO/RLHF prep)

  /** Pairs taken from each end of a candidate pool's quality ranking. */
  val DpoPairsPerGroup = 2
  /** Minimum chosen-minus-rejected score gap: pairs the ranking cannot
    * separate cleanly carry no preference signal and are dropped — the
    * standard margin filter preference-set builders apply. */
  val DpoMinMargin = 0.05

  /** Preference-pair construction — the step that turns a SCORED candidate
    * pool into DPO/RLHF training rows. Responses group by their candidate
    * pool (here (lang, source, doc_id%25): the synthetic stand-in for a
    * prompt id, the same grouping stand-in the curation suite uses); within
    * each pool the quality ranking ([[TextAnalysis.withQuality]]'s score,
    * the repo's oracle-proven scorer) yields the pairing "best vs worst,
    * 2nd best vs 2nd worst, ..." up to [[DpoPairsPerGroup]], and only pairs
    * whose score margin clears [[DpoMinMargin]] survive. Ties break on
    * doc_id, so the pairing is a pure function of the corpus.
    *
    * Scale shape: ONE shuffle on the group key feeds both ranking windows
    * (they share the partition key, so Catalyst plans a single exchange +
    * two sorts); the pair join is rank-to-rank WITHIN the group — never a
    * candidate cross product. Pools are prompt-sized (tens of candidates),
    * so no window partition can outgrow an executor; a corpus with
    * mega-pools would salt the group key the way the anomaly router does. */
  def dpoPairs(docs: DataFrame): DataFrame = {
    val scored = TextAnalysis.withQuality(
      Tables.rebalance(docs, "doc_id")
        .filter(col("text").isNotNull))
      .filter(col("n_tokens") >= 5)
      .select(col("doc_id"), col("lang"), col("source"),
        (col("doc_id") % 25).as("bucket"), col("quality_score"))
      .filter(col("quality_score").isNotNull)
    val grp = Seq(col("lang"), col("source"), col("bucket"))
    val best = Window.partitionBy(grp: _*)
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    val worst = Window.partitionBy(grp: _*)
      .orderBy(col("quality_score").asc, col("doc_id").asc)
    val ranked = scored
      .withColumn("rb", row_number().over(best))
      .withColumn("rw", row_number().over(worst))
      .withColumn("n_cand", count(lit(1)).over(Window.partitionBy(grp: _*)))
      // disjoint ends only: a pool must hold 2k candidates for k pairs
      .filter(col("n_cand") >= 2 * DpoPairsPerGroup)
    val chosen = ranked.filter(col("rb") <= DpoPairsPerGroup)
      .select(col("lang"), col("source"), col("bucket"),
        col("rb").as("pair_idx"), col("doc_id").as("chosen_id"),
        col("quality_score").as("chosen_score"))
    val rejected = ranked.filter(col("rw") <= DpoPairsPerGroup)
      .select(col("lang"), col("source"), col("bucket"),
        col("rw").as("pair_idx"), col("doc_id").as("rejected_id"),
        col("quality_score").as("rejected_score"))
    chosen.join(rejected, Seq("lang", "source", "bucket", "pair_idx"))
      .withColumn("margin",
        round(col("chosen_score") - col("rejected_score"), 6))
      .filter(col("margin") >= DpoMinMargin)
      .select("lang", "source", "bucket", "pair_idx",
        "chosen_id", "rejected_id", "chosen_score", "rejected_score", "margin")
  }

  /** Oracle-checked preference pairs: the DuckDB oracle replays the
    * quality score, both ranking windows, the rank-to-rank pairing and
    * the margin filter in closed form — a tie-break slip, an overlapping
    * chosen/rejected set or a margin boundary error all hash-mismatch. */
  def qDpoPairs(s: SparkSession, d: String): DataFrame =
    dpoPairs(documents(s, d))
      .orderBy("lang", "source", "bucket", "pair_idx")

  // ------------------------------------------------- data-quality contracts

  /** One declarative data-quality constraint (the Deequ /
    * Great-Expectations shape): a NAME, an aggregate OBSERVATION over
    * the table (must evaluate to a numeric), and a driver-side verdict
    * on the observed value. Observations use exact-int forms (ratios as
    * one rounded division of exact counts — the micro-division
    * protocol) so the report is bit-stable across partitionings. */
  final case class DqConstraint(name: String, observed: Column,
      verdict: Double => Boolean)

  /** Evaluate every constraint in ONE aggregation pass (all observations
    * ride the same map-side-combined job — N constraints never mean N
    * corpus scans), collect the single result row (bounded by
    * construction: one row, |constraints| columns), and assemble the
    * (constraint, observed, passed) report at the driver. This is the
    * publish gate a pipeline runs before promoting a snapshot: a failed
    * row blocks the publish instead of poisoning downstream consumers. */
  def dqChecks(df: DataFrame, constraints: Seq[DqConstraint]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(constraints.nonEmpty, "dqChecks needs at least one constraint")
    val row = df.agg(
      constraints.head.observed.cast("double").as(constraints.head.name),
      constraints.tail.map(c => c.observed.cast("double").as(c.name)): _*).head()
    constraints.zipWithIndex.map { case (c, i) =>
      // a NULL observation (empty table, all-NULL column) is a FAILED
      // constraint, never a crash: the gate exists to block exactly
      // these degenerate snapshots, so it must report them, not NPE
      if (row.isNullAt(i)) (c.name, Double.NaN, false)
      else {
        val v = row.getDouble(i)
        (c.name, v, c.verdict(v))
      }
    }.toDF("constraint", "observed", "passed")
  }

  /** Exact-int ratio observation that is NULL — hence a FAILED
    * constraint, never a crash — on a zero denominator: ANSI mode (the
    * Spark 4 default) throws on division by zero, and the gate must
    * REPORT a degenerate (e.g. empty) snapshot, not die on it. */
  def dqRatio(num: Column, den: Column): Column =
    when(den === 0, lit(null).cast("double"))
      .otherwise(round(num.cast("double") / den, 6))

  /** Share of rows satisfying `cond` as a [[dqRatio]]. */
  def dqShare(cond: Column): Column =
    dqRatio(sum(when(cond, 1L).otherwise(0L)), count(lit(1)))

  /** The documents table's publish contract — completeness, key
    * uniqueness, range and accepted-value checks, and the n_chars
    * derived-column consistency rule. Ratios are exact-int divisions
    * rounded at 6dp; the oracle restates every observation and verdict
    * independently. */
  def documentContract: Seq[DqConstraint] = {
    def share(cond: Column): Column = dqShare(cond)
    Seq(
      DqConstraint("doc_id_complete", share(col("doc_id").isNotNull), _ == 1.0),
      DqConstraint("doc_id_unique",
        dqRatio(countDistinct(col("doc_id")), count(lit(1))), _ == 1.0),
      DqConstraint("doc_id_non_negative", min(col("doc_id")).cast("double"), _ >= 0.0),
      DqConstraint("lang_accepted",
        share(col("lang").isin("en", "de", "zh", "fr", "es")), _ == 1.0),
      DqConstraint("n_chars_consistent",
        share(col("n_chars") === length(col("text"))), _ == 1.0),
      DqConstraint("n_chars_bounded", max(col("n_chars")).cast("double"), _ <= 10000.0),
      DqConstraint("text_complete", share(col("text").isNotNull), _ == 1.0))
  }

  def qDqChecks(s: SparkSession, d: String): DataFrame =
    dqChecks(documents(s, d), documentContract).orderBy("constraint")
}
