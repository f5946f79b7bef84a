package graft.operators

import graft.engine.{Scope, Scratch, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`), extension
  * per BASELINE.json: brute-force cosine top-k as the exactness baseline,
  * plus two sub-linear scale paths — random-hyperplane LSH bucketing and
  * IVF (inverted-file) probing.
  *
  * Scale design: the query set is always the SMALL side and is broadcast;
  * the corpus is never shuffled for brute force (narrow map + per-partition
  * top-k via the aggregate pushdown in the rank window would still shuffle
  * k*queries rows only). LSH/IVF cut the scanned corpus fraction: LSH joins
  * on bucket equality (shuffle of (bucket, vec) pairs, ~1/2^bits
  * selectivity); IVF probes nprobe/nlists of the corpus.
  */
object Similarity {
  import Tables._

  /** Cosine similarity of two numeric-array columns, computed in double via
    * the codegen'd [[graft.functions.CosineSim]] expression (one compiled
    * loop; bit-identical to [[cosineDeclarative]], asserted in
    * FunctionsSpec). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosine_sim(a, b)

  /** The declarative formulation (higher-order functions only) — kept as
    * the reference semantics the custom expression must match. */
  def cosineDeclarative(a: Column, b: Column): Column = {
    val ad = transform(a, x => x.cast("double"))
    val bd = transform(b, x => x.cast("double"))
    val dot = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), (s, x) => s + x)
    val na = sqrt(aggregate(transform(ad, x => x * x), lit(0.0), (s, x) => s + x))
    val nb = sqrt(aggregate(transform(bd, x => x * x), lit(0.0), (s, x) => s + x))
    dot / (na * nb)
  }

  /** Brute-force cosine top-k: every query vector against the whole corpus.
    * Queries broadcast; rank deterministic via (rounded score desc, id). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("score", round(cosine(col("q_emb"), col("n_emb")), 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("n_id"), col("score"))
  }

  def qTopK(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 10)
      .orderBy("q_id", "rank")
  }

  // --------------------------------------- ANN strategy auto-routing

  sealed abstract class AnnStrategy(val name: String)
  case object AnnExact extends AnnStrategy("exact")
  case object AnnHnsw extends AnnStrategy("hnsw")
  case object AnnIvf extends AnnStrategy("ivf")
  case object AnnLsh extends AnnStrategy("lsh")

  /** Below this corpus size brute force is exact AND fastest: index
    * construction (a k-means pass, an LSH key explode, or per-shard
    * graph builds) costs more than |corpus|·|panel| codegen'd cosines. */
  val AnnExactCorpusMax = 10000L

  /** ANN routing rule — the q_dedup_auto front door for the similarity
    * family: pick the CHEAPEST family whose driver-gated recall floor
    * meets the caller's target (floors are the measured q_ann_recall /
    * q_hnsw_recall gates on the adversarially-uniform fixture):
    *  - small corpus: exact brute force (see [[AnnExactCorpusMax]]);
    *  - target ≤ 0.55: IVF nprobe=4 over learned lists (floor 0.55) —
    *    cheapest SERVING (each query touches nprobe/k of the corpus);
    *  - target ≤ 0.6: multi-probe LSH (floor 0.6) — no training pass at
    *    all, keys hash straight off the scan;
    *  - above: sharded HNSW (floor 0.7, measured 0.97-1.0 at gate
    *    sizes) — the high-recall graph path. */
  def chooseAnnStrategy(nCorpus: Long, recallTarget: Double,
      exactCorpusMax: Long = AnnExactCorpusMax): AnnStrategy =
    if (nCorpus <= exactCorpusMax) AnnExact
    else if (recallTarget <= 0.55) AnnIvf
    else if (recallTarget <= 0.6) AnnLsh
    else AnnHnsw

  /** ANN top-k with strategy auto-selection. The router decides from ONE
    * cheap count before touching any index path, and only the chosen
    * branch's plan is ever constructed — no speculative index builds
    * (the match arms are lazy; nothing outside the taken arm runs).
    * Queries are a bounded panel identified by vec_id within the corpus
    * (every gate's shape); the HNSW arm collects that panel (documented
    * bounded-panel driver collect, the q_hnsw_recall pattern) and, like
    * every arm, RERANKS its candidates with the standard 6dp cosine so
    * all four strategies emit the same deterministic
    * (q_id, rank, n_id, score) frame. */
  def annTopKAutoTagged(corpus: DataFrame, queries: DataFrame, k: Int,
      recallTarget: Double = 0.9,
      exactCorpusMax: Long = AnnExactCorpusMax): (DataFrame, AnnStrategy) = {
    val n = corpus.count()
    val strategy = chooseAnnStrategy(n, recallTarget, exactCorpusMax)
    val out = strategy match {
      case AnnExact => bruteForceTopK(corpus, queries, k)
      case AnnLsh => lshTopK(corpus, queries, k)
      case AnnIvf =>
        // queries pass through UNFILTERED (ADVICE r9): ivfTopK routes each
        // query to its nprobe nearest centroids directly off the broadcast
        // centroid table, so an EXTERNAL query panel (vectors not present
        // in the corpus) is served like every other arm — the old
        // left_semi against the corpus assignment silently dropped them
        ivfTopK(kmeansAssign(corpus, 10, 2), queries, "list_id", k, 4)
      case AnnHnsw =>
        // the graph arm normalizes to float arrays (an arbitrary numeric
        // embedding column routes through unchanged semantics; the final
        // rerank below scores from the ORIGINAL column either way)
        val panel = queries
          .select(col("vec_id"), col("embedding").cast("array<float>"))
          .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          .sortBy(_._1)
        val cand = Hnsw.hnswTopK(
          corpus.select(col("vec_id"), col("embedding").cast("array<float>").as("embedding")),
          panel, k) // (q_id, n_id) candidates
        val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
        cand
          .join(corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb")), Seq("n_id"))
          .join(broadcast(queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))), Seq("q_id"))
          .withColumn("score", round(cosine(col("q_emb"), col("n_emb")), 6))
          .withColumn("rank", row_number().over(w))
          .select(col("q_id"), col("rank").cast("long").as("rank"), col("n_id"), col("score"))
    }
    (out, strategy)
  }

  /** Oracle-checked ANN front door (verdict Next #8): route by corpus
    * statistics, tag the decision. At every gate scale the corpus sits
    * under [[AnnExactCorpusMax]], so the router provably picks exact
    * brute force and the q_topk pair oracle applies verbatim; the pinned
    * 'exact' literal makes a silent branch flip a loud hash FAIL (the
    * q_dedup_auto design). The approximate branches stay gated by their
    * own recall queries (q_ann_recall / q_hnsw_recall / q_pq_search) and
    * by the forced-route recall floors in SimilaritySpec. */
  def qAnnAuto(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val (out, strategy) = annTopKAutoTagged(emb, emb.filter(col("vec_id") < 5), 10)
    out.withColumn("strategy", lit(strategy.name)).orderBy("q_id", "rank")
  }

  // ------------------------------------------------- filtered vector search

  /** FILTERED vector search — top-k under a metadata predicate (lang,
    * license, source, date window: every production retrieval carries
    * one). The exact approach is PRE-FILTERING: restrict the corpus
    * first, then route through [[annTopKAutoTagged]] — the filter makes
    * the effective corpus SMALLER, so the router re-decides from the
    * filtered count (a selective predicate legitimately flips an
    * HNSW-sized corpus back to exact brute force; an index over the full
    * corpus would scan mostly-rejected neighbors instead). Results are
    * exact whenever the routed arm is exact. For serve-time filtering
    * against an already-persisted graph index (no rebuild per predicate),
    * see [[probeHnswIndexFiltered]]. */
  def annTopKFilteredTagged(corpus: DataFrame, queries: DataFrame, k: Int,
      pred: Column, recallTarget: Double = 0.9): (DataFrame, AnnStrategy) =
    annTopKAutoTagged(corpus.filter(pred), queries, k, recallTarget)

  /** Serve-time filtered probe of the PERSISTED HNSW index (the
    * over-fetch pattern): the graph was built once over the full corpus
    * and cannot be rebuilt per predicate, so probe for k·overfetch
    * candidates, keep the allowed ones, rerank exactly, trim to k.
    * Approximate twice over (graph recall x the chance that enough
    * allowed neighbors sit in the over-fetched set) — recall floor vs
    * the exact filtered ranking is spec'd in SimilaritySpec; selective
    * predicates want [[annTopKFilteredTagged]] instead (stated, not
    * hidden: over-fetch degrades as selectivity drops, since a filter
    * keeping 1-in-F of the corpus needs overfetch ~ F to fill k). */
  def probeHnswIndexFiltered(s: SparkSession, root: String, corpus: DataFrame,
      queries: DataFrame, k: Int, pred: Column, overfetch: Int = 4): DataFrame = {
    val panel = queries
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1) // bounded query panel (the q_hnsw_recall pattern)
    // the index stores the GRAPH; predicates live on the corpus table's
    // metadata columns — the join below is the serve-time filter
    val allowed = corpus.filter(pred)
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val qFrame = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
    Hnsw.probeHnswIndex(s, root, panel, k * overfetch)
      .join(allowed, Seq("n_id")) // the filter: disallowed candidates drop here
      .join(broadcast(qFrame), Seq("q_id"))
      // exclude the query itself (matches bruteForceTopK / the routed
      // filtered path): a corpus-member query passing the predicate would
      // otherwise return itself at rank 1 and burn a result slot
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("score", round(cosine(col("q_emb"), col("n_emb")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("n_id"), col("score"))
  }

  /** Oracle-checked filtered search: the vec_id<5 panel restricted to
    * label=1 corpus rows. At gate scale the filtered corpus sits under
    * [[AnnExactCorpusMax]], so the router provably picks exact and the
    * oracle replays the filtered brute-force ranking verbatim; the
    * pinned 'exact' literal makes a silent route flip a loud hash FAIL. */
  def qAnnFiltered(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val (out, strategy) = annTopKFilteredTagged(
      emb, emb.filter(col("vec_id") < 5), 10, col("label") === 1)
    out.withColumn("strategy", lit(strategy.name)).orderBy("q_id", "rank")
  }

  // ------------------------------------------------- MMR diversity rerank

  /** Maximal-marginal-relevance rerank (Carbonell & Goldstein 1998) of a
    * top-M retrieval list: greedily pick
    * argmax λ·rel(q,d) − (1−λ)·max_{s∈selected} sim(d,s), k times — the
    * standard diversity rerank that stops a result page being five
    * near-copies of the best hit.
    *
    * The input is a TOP-M FRAME by definition (this operator reranks a
    * retrieval result; it never sees the corpus), so the greedy loop —
    * inherently sequential in the selected set — runs at the driver over
    * the |panel|·M collected candidates (the bounded-panel pattern every
    * ANN gate uses); candidate generation at scale is the ANN router.
    *
    * Determinism protocol: rel scores arrive 6dp-rounded from the
    * ranking; every pairwise sim is the q_topk-proven cosine operation
    * sequence rounded to 6dp; each MMR value is
    * round(lam·rel − lamComp·maxsim, 6); ties break by n_id. `lam` and
    * `lamComp` are SEPARATE literals written identically in the oracle —
    * deriving lamComp as 1.0 − 0.7 would produce 0.30000000000000004 and
    * a hash mismatch, which is exactly the kind of drift the two-literal
    * contract exists to prevent. */
  def mmrRerank(ranked: DataFrame, vectors: DataFrame, k: Int,
      lam: Double, lamComp: Double): DataFrame = {
    val spark = ranked.sparkSession
    import spark.implicits._
    // EXACT-BINARY BigDecimal, not Scala's BigDecimal(x)/decimal(x)
    // (those alias valueOf/shortest-repr): DuckDB's round() rounds the
    // exact binary double, and the two disagree precisely at
    // shortest-repr half-way points — measured on this corpus:
    // 0.7·0.371485 = 0.26003949999... rounds to 0.260039 exact-binary
    // (and in DuckDB) but to 0.260040 via valueOf. Driver-side rounding
    // must match the ORACLE's semantics, not Spark Round's.
    def r6(x: Double): Double =
      // + 0.0 collapses -0.0 to 0.0: Double.compare orders -0.0 < 0.0, so
      // without it two candidates rounding to +/-0.0 would tie-break by
      // sign instead of n_id, and the emitted value could print -0.0
      // where DuckDB's round emits 0.0
      new java.math.BigDecimal(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0
    def cos(a: Array[Float], b: Array[Float]): Double = {
      // the cosineSim operation sequence verbatim (float->double, index
      // order, dot/(sqrt(na)*sqrt(nb))) so driver sims equal the engine's
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val cands = ranked
      .join(vectors.select(col("vec_id").as("n_id"),
        col("embedding").cast("array<float>").as("n_emb")), Seq("n_id"))
      .select(col("q_id"), col("n_id"), col("score"), col("n_emb"))
      .as[(Long, Long, Double, Array[Float])]
      .collect() // bounded: the |panel| x M rerank input, by definition
    val out = cands.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (q, rows) =>
      // (n_id, rel, vec, maxsim-to-selected); maxsim is None until the
      // first selection — sims can be NEGATIVE, so a 0.0 initializer
      // would silently floor the diversity term (measured: it did)
      val rem = scala.collection.mutable.ArrayBuffer(
        rows.map(r => (r._2, r._3, r._4, Option.empty[Double])): _*)
      def mmrOf(rel: Double, ms: Option[Double]): Double =
        ms.fold(r6(lam * rel))(m => r6(lam * rel - lamComp * m))
      (1 to math.min(k, rem.length)).map { rank =>
        val best = rem.minBy { case (nId, rel, _, ms) => (-mmrOf(rel, ms), nId) }
        val mmr = mmrOf(best._2, best._4)
        rem -= best
        var i = 0
        while (i < rem.length) {
          val c = rem(i)
          val s = r6(cos(c._3, best._3))
          rem(i) = (c._1, c._2, c._3, Some(c._4.fold(s)(m => math.max(m, s))))
          i += 1
        }
        (q, rank.toLong, best._1, mmr)
      }
    }
    out.toDF("q_id", "rank", "n_id", "mmr")
  }

  /** Oracle-checked MMR: the exact top-10 cosine candidates per panel
    * query, reranked to a diverse top-5 at λ = 0.7. The oracle unrolls
    * all five greedy steps as CTEs (the coresetOracle pattern), replaying
    * the rounded sims, the two-literal MMR formula, and the n_id
    * tiebreak. */
  def qMmr(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val ranked = bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 10)
    mmrRerank(ranked, emb, 5, 0.7, 0.3).orderBy("q_id", "rank")
  }

  // ------------------------------------------------ ranking-quality metrics

  /** Retrieval evaluation over a ranking: nDCG@k, reciprocal rank, and
    * precision@k per query — the ranking-quality half of the eval family
    * (confusion/calibration/kappa judge CLASSIFIERS; this judges the
    * retrieval stack above: ANN routes, hybrid fusion, rerankers).
    *
    * Inputs: `ranked` = (q_id, rank, n_id) with rank 1-based (any top-k
    * frame this file emits), `rel` = (q_id, n_id, rel) graded relevance
    * (absent pairs are irrelevant). Determinism protocol: each DCG gain
    * (2^rel − 1)/log2(rank+1) is rounded to 6dp PER ROW, summed as
    * DECIMAL(18,6) (order-free), and the final nDCG is one double
    * division of those exact sums — the established micro-division
    * protocol, so both engines replay it bit-identically. The ideal DCG
    * ranks each query's own relevance grades descending (ties by n_id),
    * capped at k. Queries with no relevant documents score 0 (not null)
    * on all three metrics.
    *
    * Scale: everything is keyed by q_id — two bounded top-k frames join
    * and aggregate per query; the corpus never enters. */
  def rankEval(ranked: DataFrame, rel: DataFrame, k: Int): DataFrame = {
    val gain = (r: Column, rk: Column) =>
      round((pow(lit(2.0), r) - 1.0) / log2(rk + 1.0), 6)
    val topk = ranked.filter(col("rank") <= k)
      .join(rel, Seq("q_id", "n_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0)))
    val dcg = topk
      .withColumn("g", gain(col("rel"), col("rank")).cast("decimal(18,6)"))
      .groupBy("q_id").agg(
        sum(col("g")).cast("double").as("dcg"),
        coalesce(min(when(col("rel") > 0, col("rank"))), lit(0L)).as("first_rel"),
        sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_rel_topk"))
    val wIdeal = Window.partitionBy(col("q_id"))
      .orderBy(col("rel").desc, col("n_id"))
    val idcg = rel.filter(col("rel") > 0)
      .withColumn("irank", row_number().over(wIdeal))
      .filter(col("irank") <= k)
      .withColumn("g", gain(col("rel"), col("irank")).cast("decimal(18,6)"))
      .groupBy("q_id").agg(sum(col("g")).cast("double").as("idcg"))
    dcg.join(idcg, Seq("q_id"), "left")
      .select(col("q_id"),
        when(coalesce(col("idcg"), lit(0.0)) === 0.0, lit(0.0))
          .otherwise(round(col("dcg") / col("idcg"), 6)).as("ndcg"),
        when(col("first_rel") === 0L, lit(0.0))
          .otherwise(round(lit(1.0) / col("first_rel"), 6)).as("rr"),
        round(col("n_rel_topk").cast("double") / lit(k), 6).as("precision_k"))
  }

  /** Oracle-checked ranking eval: the exact q_topk cosine ranking judged
    * against label-match relevance (a neighbor is relevant iff it shares
    * its query's label — the standard intrinsic-embedding eval when no
    * human judgments exist). The oracle replays the ranking chain, the
    * per-row rounded gains, the DECIMAL sums, and the ideal ranking. */
  def qRankEval(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 5)
    val ranked = bruteForceTopK(emb, queries, 10)
    val rel = emb.select(col("vec_id").as("n_id"), col("label").as("n_label"))
      .crossJoin(broadcast(queries.select(col("vec_id").as("q_id"), col("label").as("q_label"))))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        when(col("n_label") === col("q_label"), lit(1)).otherwise(lit(0)).as("rel"))
      .filter(col("rel") > 0) // absent pairs are irrelevant by contract
    rankEval(ranked, rel, 10).orderBy("q_id")
  }

  // ------------------------------------------------ hybrid retrieval (RRF)

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of two
    * rankings over one id space: score = Σ_r 1/(60 + rank_r) over the
    * rankings that contain the id. THE standard hybrid-retrieval merge
    * (lexical BM25 + dense cosine) because it needs no score
    * calibration — only ranks cross the boundary, so a BM25 of 14.2 and
    * a cosine of 0.83 never meet on one scale. Determinism: ranks are
    * ints, each reciprocal is one exact-int double division, and the
    * two-term sum is written in fixed declaration order — bit-identical
    * in both engines (the established micro-division protocol).
    *
    * Scale: the fusion input is TWO TOP-K LISTS (bounded by design), not
    * the corpus — the full-outer join and the final ranking window run
    * on ≤ 2k rows no matter the corpus size (PlanSpec-registered). */
  val RrfK = 60L

  def hybridRrf(rankA: DataFrame, rankB: DataFrame, key: String, k: Int): DataFrame = {
    val a = rankA.select(col(key), col("rank").as("rank_a"))
    val b = rankB.select(col(key), col("rank").as("rank_b"))
    val w = Window.orderBy(col("rrf").desc, col(key)) // ≤ |A|+|B| rows by design
    a.join(b, Seq(key), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(RrfK) + col("rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("rank_b")), lit(0.0)), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("rank"), col(key), col("rrf"), col("rank_a"), col("rank_b"))
  }

  /** Oracle-checked hybrid retrieval: the BM25 top-20 (the q_bm25 query
    * verbatim, ranked by its rounded score) fused with the dense top-20
    * for vec_id 0's embedding (the q_topk cosine ranking verbatim) over
    * the shared doc_id = vec_id id space; RRF top-10. The oracle replays
    * both proven ranking CTEs and the fixed-order reciprocal sum. */
  def qHybridRrf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val r = docs.agg(count(lit(1)),
      sum(size(split(trim(col("text")), "\\s+")).cast("long"))).head()
    val avgdl = r.getLong(1).toDouble / r.getLong(0)
    val wb = Window.orderBy(col("bm25").desc, col("doc_id")) // 20-row input
    val textRank = graft.operators.TextSearch.bm25(
      docs, graft.operators.TextSearch.Bm25Query, r.getLong(0), avgdl)
      .orderBy(col("bm25").desc, col("doc_id")).limit(20)
      .withColumn("rank", row_number().over(wb).cast("long"))
    val emb = embeddings(s, d)
    val vecRank = bruteForceTopK(emb, emb.filter(col("vec_id") === 0L), 20)
      .select(col("n_id").as("doc_id"), col("rank"))
    hybridRrf(textRank.select("doc_id", "rank"), vecRank, "doc_id", 10)
      .orderBy("rank")
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the top-k most similar corpus vectors with a DIFFERENT
    * label — the negatives that sit right at the decision boundary,
    * where random negatives are trivially easy. Same plan shape as
    * [[bruteForceTopK]] (query side broadcasts, corpus never shuffles);
    * at 100 TB the candidate generation swaps to the LSH/IVF index and
    * this exact ranking runs on the candidate set. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"), col("label").as("q_label"),
      col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id").as("n_id"), col("label").as("n_label"),
      col("embedding").as("n_emb"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("q_label") =!= col("n_label"))
      .withColumn("score", round(cosine(col("q_emb"), col("n_emb")), 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("n_id"), col("n_label"), col("score"))
  }

  def qHardNegatives(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    hardNegatives(emb, emb.filter(col("vec_id") < 10), 5)
      .orderBy("q_id", "rank")
  }

  /** Embedding near-duplicate pairs within label blocks (label is the
    * natural blocking key in the test data and is ORACLE-CHECKABLE; the
    * production pipeline blocks by LSH bucket instead — [[lshNearDups]],
    * gated on planted near-dups in SimilaritySpec). */
  def qEmbedDup(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val a = e.select(col("label"), col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val b = e.select(col("label"), col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    a.join(b, Seq("label"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("score", round(cosine(col("emb_a"), col("emb_b")), 6))
      .filter(col("score") >= 0.4)
      .select("id_a", "id_b", "score")
      .orderBy("id_a", "id_b")
  }

  // -------------------------------------------------------------- LSH (random hyperplanes)

  /** Multi-table sign-random-projection LSH: T independent tables of B bits
    * each. A candidate is any corpus vector sharing a query's bucket in ANY
    * table (standard OR-of-ANDs construction — one table alone has near-zero
    * recall for the moderate-similarity neighbors in random data). Queries
    * additionally probe every subset of their `LshFlipBits` lowest-margin
    * bits per table (query-directed multi-probe): recall rises steeply with
    * probes while the corpus keeps exactly one bucket per table, so the
    * index size and build cost are unchanged.
    *
    * Config chosen from a measured sweep on the (adversarially uniform)
    * random test embeddings, recall@10 vs candidate fraction over 20
    * queries x 2k corpus:  12/8/3 -> 0.75 @ 0.34;  16/10/4 -> 0.67 @ 0.25;
    * 24/12/5 -> 0.72 @ 0.20 (chosen);  32/14/6 -> 0.59 @ 0.15. On real
    * (clustered) embeddings the same config lands at a far smaller
    * fraction; the spec gates recall >= 0.6 and fraction sub-linear. */
  val LshTables = 24
  val LshBits = 12
  val LshFlipBits = 5

  /** Deterministic pseudo-random hyperplanes (LCG seed 7), dim 64:
    * planes(t)(b) is the hyperplane for bit b of table t. */
  val planes: Seq[Seq[Seq[Double]]] = {
    var x = 7L
    def next(): Double = {
      x = x * 6364136223846793005L + 1442695040888963407L
      (x >> 11).toDouble / (1L << 52).toDouble // (-1, 1)
    }
    Seq.fill(LshTables, LshBits)(Seq.fill(64)(next()))
  }

  /** Bucket id of `emb` in table `t` (B sign bits packed into a long) —
    * declarative reference form; the pipeline uses the codegen'd
    * [[graft.functions.LshBuckets]] (equality asserted in FunctionsSpec:
    * the interpreted per-plane dots made ANN slower than brute force at
    * 20k vectors). */
  def lshBucketDeclarative(emb: Column, t: Int): Column =
    planes(t).zipWithIndex.map { case (p, i) =>
      val dot = aggregate(
        zip_with(emb, lit(p.toArray), (x, w) => x.cast("double") * w),
        lit(0.0), (s, v) => s + v)
      when(dot >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  private lazy val flatPlanes: Seq[Double] = planes.flatten.flatten

  /** One row per (vector, table): (table, bucket) keys — what you'd persist
    * partitioned by (table, bucket) at scale. */
  def lshKeys(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding"),
      posexplode(graft.functions.GraftFunctions.lsh_buckets(
        col("embedding"), flatPlanes, LshTables, LshBits, 64)))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")

  /** Multi-probe keys for the QUERY side: one row per (vector, table,
    * probe) — 2^LshFlipBits buckets per table, main bucket plus
    * lowest-margin bit flips. */
  def lshProbeKeys(df: DataFrame): DataFrame = {
    val probes = 1 << LshFlipBits
    df.select(col("vec_id"), col("embedding"),
      posexplode(graft.functions.GraftFunctions.lsh_probes(
        col("embedding"), flatPlanes, LshTables, LshBits, 64, LshFlipBits)))
      .withColumn("tbl", expr(s"pos DIV $probes"))
      .withColumnRenamed("col", "bucket")
      .drop("pos")
  }

  /** ANN top-k via multi-table multi-probe LSH: candidates are corpus
    * vectors sharing any probed bucket; score, dedup, rank.
    *
    * Shuffle discipline: the cosine is computed INSIDE the broadcast bucket
    * join, where both embeddings are present without any exchange (the
    * corpus side is a narrow scan+explode, the query side is broadcast),
    * and only (q_id, n_id, score) scalars flow into the dedup + rank
    * shuffles — no exchange in this plan ever carries an embedding array
    * (asserted in SimilaritySpec). Recall vs [[bruteForceTopK]] is gated in
    * SimilaritySpec. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = lshKeys(corpus)
      .select(col("tbl"), col("bucket"), col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val q = lshProbeKeys(queries)
      .select(col("tbl"), col("bucket"), col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = c.join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("score", round(cosine(col("q_emb"), col("n_emb")), 6))
      // a pair colliding in several tables/probes recomputes its (cheap,
      // codegen'd) cosine per collision; in exchange the distinct dedups
      // scalar triples instead of shuffling two 64-float arrays per row
      .select("q_id", "n_id", "score").distinct()
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("n_id"), col("score"))
  }

  /** ALL-PAIRS embedding near-dups via LSH bucket blocking — the
    * production form of [[qEmbedDup]]'s label blocking (labels exist only
    * in curated data; buckets exist everywhere). Candidates are same-
    * bucket pairs in any table; verification is exact cosine.
    *
    * Shuffle discipline: the bucket self-join moves (tbl, bucket, id)
    * triples only; embeddings are joined back by id AFTER the candidate
    * pairs are deduplicated, so each vector's array crosses the wire once
    * per side, not once per bucket collision.
    *
    * Recall: a pair at cosine 0.9 collides in one 12-bit table with
    * p ~ 0.855^12 = 0.15, so across 24 tables P(candidate) ~ 98% — the
    * construction targets TRUE near-dups; moderate-similarity pairs
    * (cos ~ 0.4) are out of scope by design (use [[bruteForceTopK]] or
    * IVF for retrieval). Gated on planted near-dups in SimilaritySpec. */
  def lshNearDups(corpus: DataFrame, threshold: Double): DataFrame = {
    val keys = lshKeys(corpus).select(col("tbl"), col("bucket"), col("vec_id"))
    val pairs = keys.select(col("tbl"), col("bucket"), col("vec_id").as("id_a"))
      .join(keys.select(col("tbl"), col("bucket"), col("vec_id").as("id_b")),
        Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val emb = corpus.select(col("vec_id"), col("embedding"))
    pairs
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), Seq("id_a"))
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), Seq("id_b"))
      .withColumn("score", round(cosine(col("emb_a"), col("emb_b")), 6))
      .filter(col("score") >= threshold)
      .select("id_a", "id_b", "score")
  }

  /** Driver-gated ANN quality: recall@10 of the two production index
    * paths ([[lshTopK]] multi-probe hyperplane LSH and [[ivfTopK]]
    * 2-probe IVF) against [[bruteForceTopK]] ground truth on a fixed
    * 20-query panel — the [[qSemDedupHier]] tolerance pattern, closing
    * the gap where the approximate retrieval paths were spec-gated only.
    * `n_exact` (= 10·|panel|, exact and replayable — it also proves the
    * ground-truth side produced full result lists); booleans pin the
    * measured recalls with margin. Measured across sf0.001/0.01/0.1 on
    * the adversarially-uniform random test vectors: LSH 0.715-0.735
    * (gate 0.6); IVF over 10 LEARNED k-means lists (2 Lloyd iters),
    * nprobe=4, 0.665-0.715 (gate 0.55 — the extra margin also absorbs
    * ULP-level centroid drift: `ivfCentroids` means are plain double
    * avg(), so a boundary vector's list can flip with partitioning;
    * label lists were tried and rejected at 0.27-0.29 recall — labels
    * are not geometric clusters on this data). `ivf_hier_recall_ok`
    * additionally gates retrieval over [[kmeansAssignHier]]-learned
    * lists (measured 0.66-0.69, same 0.55 gate) so the two-level
    * production assign is driver-gated, not just spec-gated. Rankings
    * are (6dp-rounded score desc, id), so the top-k sets are stable. */
  def qAnnRecall(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    // COUPLED to the oracle: SparkEntry.oracleSql("q_ann_recall") hardcodes
    // n_exact = 10 * 20 (this k times the vec_id < 20 panel below), which
    // assumes every panel query gets a FULL k-list — true for every shipped
    // sf dir (all have >> 11 vectors). Changing k or the panel predicate
    // here requires changing the oracle literal in the same commit.
    val k = 10
    // both trainers start from the SAME pmod-seeded partition, so their
    // iteration-0 centroid aggregation is one computation, not two
    val seed0 = collectCentroids(emb
      .select(col("vec_id"), col("embedding"))
      .withColumn("list_id", pmod(col("vec_id"), lit(10L))))
    val km = kmeansAssign(emb, 10, 2, Some(seed0))
    val kmh = kmeansAssignHier(emb, 10, 2, seed0 = Some(seed0))
    // checkpointed: the ground-truth list feeds FOUR aggregate branches
    // of the final plan, which would each re-run the brute-force cross
    val exact = bruteForceTopK(emb, emb.filter(col("vec_id") < 20), k)
      .select("q_id", "n_id").localCheckpoint()
    val lsh = lshTopK(emb, emb.filter(col("vec_id") < 20), k).select("q_id", "n_id")
    val ivf = ivfTopK(km, km.filter(col("vec_id") < 20), "list_id", k, 4)
      .select("q_id", "n_id")
    val ivfH = ivfTopK(kmh, kmh.filter(col("vec_id") < 20), "list_id", k, 4)
      .select("q_id", "n_id")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(exact.join(lsh, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("lsh_hits")))
      .crossJoin(exact.join(ivf, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("ivf_hits")))
      .crossJoin(exact.join(ivfH, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("ivf_hier_hits")))
      // multiplicative form, not division: an empty corpus gives 0/0=NaN
      // and a silently-false boolean against the oracle's TRUE (the
      // qApproxDistinct lesson); 0 >= 0*rate stays TRUE
      .select(col("n_exact"),
        (col("lsh_hits").cast("double") >=
          col("n_exact").cast("double") * 0.6).as("lsh_recall_ok"),
        (col("ivf_hits").cast("double") >=
          col("n_exact").cast("double") * 0.55).as("ivf_recall_ok"),
        (col("ivf_hier_hits").cast("double") >=
          col("n_exact").cast("double") * 0.55).as("ivf_hier_recall_ok"))
  }

  // -------------------------------------------------------------- IVF

  /** IVF index: centroid per list. Here lists are seeded by k-means-style
    * assignment: centroids = mean vector per coarse bucket (the label
    * column seeds the partition in the test data; at scale run k-means
    * iterations with the same groupBy-mean job). */
  def ivfCentroids(corpus: DataFrame, listCol: String): DataFrame =
    corpus
      .select(col(listCol).as("list_id"), posexplode(col("embedding")))
      .groupBy("list_id", "pos").agg(avg(col("col")).as("c"))
      .groupBy("list_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("list_id"), transform(col("pc"), x => x.getField("c")).as("centroid"))

  /** Lloyd's k-means as Spark jobs: recompute centroids as per-list means
    * (posexplode + two groupBys — a keyed aggregation that scales like any
    * groupBy), then re-assign each vector to its nearest centroid.
    * Deterministic: the seed partition is vec_id mod k, ties break to the
    * smallest list_id.
    *
    * Centroid sync is the k tiny (list_id, centroid) rows COLLECTED to the
    * driver and re-broadcast as expression literals (the same centroid
    * broadcast every distributed k-means does — k*dim doubles, not data).
    * The ASSIGN step is then a fully narrow per-row argmax over the
    * literal centroid array: no crossJoin, no N*k row_number window, no
    * exchange at all (asserted in SimilaritySpec), where the previous
    * formulation shuffled N*k rows per Lloyd iteration. Lineage resets
    * every iteration because `assigned` is rebuilt from the scan plus
    * literals, so no checkpoint is needed. */
  def kmeansAssign(corpus: DataFrame, k: Int, iters: Int,
      seed0: Option[Seq[(Long, Array[Double])]] = None): DataFrame = {
    val ids = corpus.select(col("vec_id"), col("embedding"))
    var assigned = ids.withColumn("list_id",
      pmod(col("vec_id"), lit(k.toLong))) // deterministic seed partition
    var i = 0
    while (i < iters) {
      // iteration 0's centroids are a pure function of (corpus, k) — the
      // caller may pass them precomputed so two trainers over the same
      // corpus (q_ann_recall runs this AND [[kmeansAssignHier]]) pay the
      // seed aggregation once instead of twice (guide §1.2: don't compute
      // the same thing twice). Values are identical by construction
      // (same deterministic aggregate, same sortBy).
      val cents = if (i == 0 && seed0.isDefined) seed0.get else
        collectCentroids(assigned)
      assigned = ids.withColumn("list_id", nearestCentroid(col("embedding"), cents))
      i += 1
    }
    assigned
  }

  /** Collected (list_id, centroid) pairs of an assignment — the per-
    * iteration Lloyd sync point (k tiny rows), sorted for determinism. */
  private[graft] def collectCentroids(assigned: DataFrame): Seq[(Long, Array[Double])] =
    ivfCentroids(
      assigned.withColumnRenamed("list_id", "seed_list"), "seed_list")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toIndexedSeq

  /** Narrow argmax over literal centroids: `max struct(score, -id)` picks
    * the highest cosine, ties to the SMALLEST list_id — the exact
    * semantics of the previous `row_number() over (order by cscore desc,
    * list_id)` formulation, with zero exchanges. */
  def nearestCentroid(emb: Column, cents: Seq[(Long, Array[Double])]): Column = {
    val best = array_max(array(cents.map { case (id, c) =>
      struct(cosine(emb, lit(c)).as("s"), lit(-id).as("nid")) }: _*))
    -best.getField("nid")
  }

  /** ANN top-k probing the `nprobe` nearest lists per query. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, listCol: String,
      k: Int, nprobe: Int): DataFrame = {
    val cents = ivfCentroids(corpus, listCol)
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    // pick nprobe nearest centroids per query (centroid set is tiny -> broadcast)
    val wc = Window.partitionBy(col("q_id"))
      .orderBy(col("cscore").desc, col("list_id"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("cscore", cosine(col("q_emb"), col("centroid")))
      .withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("list_id"))
    val c = corpus.select(col(listCol).as("list_id"),
      col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val scored = c.join(broadcast(probes), Seq("list_id"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("score", round(cosine(col("q_emb"), col("n_emb")), 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("n_id"), col("score"))
  }

  /** Persist a TRAINED IVF index as an atomic snapshot: the hier-learned
    * lists (one parquet partition directory per list_id, vec_id-sorted
    * within) plus their centroid table, published TOGETHER by one
    * [[graft.engine.Snapshot]] pointer swap so a reader can never pair
    * new lists with old centroids. A 100 TB deployment trains once and
    * probes incrementally ([[ivfProbeIndex]]) — recomputing k-means per
    * query, as the self-contained [[ivfTopK]] gate does, is a
    * train-time-only cost here. Returns the published version name. */
  def writeIvfIndex(s: SparkSession, corpus: DataFrame, root: String,
      k: Int, iters: Int): String = {
    val assigned = kmeansAssignHier(corpus, k, iters)
    new graft.engine.Snapshot(s, root).publishVia { v =>
      assigned
        .repartition(col("list_id"))
        .sortWithinPartitions("list_id", "vec_id")
        .write.mode("overwrite").partitionBy("list_id").parquet(s"$v/lists")
      // centroids from the JUST-WRITTEN lists (guide §3.3: materialize the
      // intermediate and reuse it): computing them from `assigned` would
      // re-run the whole routed-assignment subtree a second time — at
      // corpus scale a full extra training pass per publish. The rows are
      // the same assignment the lists hold; this index family is
      // tolerance-gated (recall floors), per the ivfCentroids ulp note.
      val persisted = s.read.parquet(s"$v/lists")
        .select(col("list_id").cast("long").as("list_id"),
          col("vec_id"), col("embedding"))
      ivfCentroids(persisted, "list_id")
        .coalesce(1).write.mode("overwrite").parquet(s"$v/centroids")
    }
  }

  /** ANN top-k against the PERSISTED index, never the corpus: per query
    * the `nprobe` nearest centroids are picked from the tiny broadcast
    * centroid table, and the corpus scan is pruned to exactly those
    * lists' partition DIRECTORIES by a literal `list_id IN (...)` on the
    * partition column (the union of probed lists across the batch — at
    * most min(|queries|·nprobe, k) of the k directories; asserted
    * partition-pruned in SimilaritySpec). Probe cost is therefore the
    * probed lists' share of the index (~nprobe/k) plus one tiny
    * broadcast — independent of how the rest of the corpus grows, and no
    * training job runs. Same scoring/ranking semantics as [[ivfTopK]]. */
  def ivfProbeIndex(s: SparkSession, root: String, queries: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    val path = new graft.engine.Snapshot(s, root).currentPath()
    val cents = s.read.parquet(s"$path/centroids")
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val wc = Window.partitionBy(col("q_id"))
      .orderBy(col("cscore").desc, col("list_id"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("cscore", cosine(col("q_emb"), col("centroid")))
      .withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("list_id"))
      .localCheckpoint() // read twice: probed-list collect + the list join
    val probedLists = probes.select("list_id").distinct()
      .collect().map(_.getLong(0)).sorted
    val lists = s.read.parquet(s"$path/lists")
      // literal IN over the PARTITION column -> directory-level pruning;
      // the cast back to long follows the filter so pushdown sees the
      // raw partition column (partition type inference reads it as int)
      .filter(col("list_id").isin(probedLists: _*))
      .select(col("list_id").cast("long").as("list_id"),
        col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val scored = lists.join(broadcast(probes), Seq("list_id"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("score", round(cosine(col("q_emb"), col("n_emb")), 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("n_id"), col("score"))
  }

  private lazy val annIvfDir: String = Scratch.processTempDir("graft_ann_ivf")

  /** Driver-gated persisted-index recall (VERDICT r5 #7 — the
    * [[Dedup.qDedupIncremental]] pattern on the embedding side): the
    * EVEN-vec_id half of the corpus is trained and published ONCE via
    * [[writeIvfIndex]]; the odd panel then probes the persisted snapshot
    * with no retraining, and recall@10 against brute force over the same
    * indexed half is pinned by the oracle (>= 0.7 — measured 0.885-0.915
    * across sf0.001/0.01/0.1; higher than q_ann_recall's in-corpus IVF
    * because the disjoint parity split removes self-competition).
    * n_exact = 10 * |odd panel| exactly, because the indexed half always
    * holds >= 10 vectors in every shipped sf dir and the parity split
    * makes query/corpus disjoint (no self-match exclusion can shorten a
    * list) — the oracle literal 10 is COUPLED to `k = 10` below. */
  def qAnnIncremental(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val corpus = emb.filter(col("vec_id") % 2 === 0)
    val queries = emb.filter(col("vec_id") % 2 =!= 0 && col("vec_id") < 40)
    val k = 10
    Scratch.rmTree(new java.io.File(annIvfDir))
    writeIvfIndex(s, corpus, annIvfDir, 10, 2)
    val probed = ivfProbeIndex(s, annIvfDir, queries, k, 4).select("q_id", "n_id")
    // checkpointed: read by both aggregate branches below
    val exact = bruteForceTopK(corpus, queries, k).localCheckpoint()
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(exact.join(probed, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("ivf_hits")))
      // multiplicative form, not division — the qAnnRecall empty-corpus rule
      .select(col("n_exact"),
        (col("ivf_hits").cast("double") >=
          col("n_exact").cast("double") * 0.7).as("ivf_recall_ok"))
  }

  /** Persist the LSH ANN index: one row per (vector, table) with its
    * bucket key, PARTITIONED by table and bucket-SORTED within each
    * table's files. A point probe then prunes twice: directory-level
    * partition pruning on `tbl`, and parquet min/max row-group stats on
    * the sorted `bucket` column — so serving a query against a 100 TB
    * index touches only the probed buckets' row groups, not the corpus.
    * (The dedup-index analog is [[Dedup.writeIndex]]; this is the
    * embedding side.) */
  def writeAnnIndex(corpus: DataFrame, path: String): Unit =
    lshKeys(corpus)
      .repartition(col("tbl"))
      .sortWithinPartitions("tbl", "bucket")
      .write.mode("overwrite").partitionBy("tbl").parquet(path)

  /** Serve ONE ANN query from the persisted index. The probe buckets are
    * computed driver-side from the literal query vector (24 tables x
    * 2^flipBits probes — a few hundred longs); each table is read from
    * its own partition directory with a literal `bucket IN (...)`
    * predicate, so the scan prunes to the probed tables by PATH and to
    * the probed buckets by pushed filter + sorted row-group stats. No
    * join, no shuffle of the index — the handful of matching rows is
    * scored and top-k'd. `excludeId` drops the query vector itself when
    * it is part of the corpus. */
  def annLookup(spark: SparkSession, path: String, emb: Array[Float], k: Int,
      excludeId: Long = -1L): DataFrame = {
    import spark.implicits._
    val probes = lshProbeKeys(Seq((0L, emb)).toDF("vec_id", "embedding"))
      .select(col("tbl").cast("long"), col("bucket")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val perTable = probes.groupBy(_._1).toSeq.map { case (t, bs) =>
      spark.read.parquet(s"$path/tbl=$t")
        .filter(col("bucket").isin(bs.map(_._2).distinct.toSeq: _*))
        .select(col("vec_id"), col("embedding"))
    }
    perTable.reduce(_ unionByName _)
      .filter(col("vec_id") =!= excludeId)
      .select(col("vec_id").as("n_id"),
        round(cosine(col("embedding"), lit(emb.map(_.toDouble))), 6).as("score"))
      .distinct()
      .orderBy(col("score").desc, col("n_id")).limit(k)
  }

  /** Per-label mean embedding (class prototypes — the few-shot/centroid
    * classifier a labeled corpus trains for free). Shape: posexplode to
    * (label, pos, value) scalars, one grouped aggregation — the embedding
    * arrays never travel through an exchange, and the output is
    * labels x dim rows however large the corpus is. Determinism: each
    * component is rounded to 6 places and summed as DECIMAL (exact,
    * order-independent), because a raw float sum over a shuffled group
    * depends on arrival order in the last ulps — same rule as the BM25
    * fixed-order sum. */
  def qCentroids(s: SparkSession, d: String): DataFrame =
    centroidTable(embeddings(s, d)).orderBy("label", "pos")

  /** The (label, pos, centroid) table behind [[qCentroids]], reusable
    * wherever a class prototype is needed ([[embedOutliers]]). */
  def centroidTable(emb: DataFrame): DataFrame =
    emb
      .select(col("label"), posexplode(col("embedding")))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n"),
        sum(round(col("col").cast("double"), 6).cast("decimal(18,6)")).as("sv"))
      // The mean is rounded to 6dp in EXACT INTEGER MICROS, never through
      // round(double): when sv/n lands exactly on a half-way point (found
      // at sf0.1: 0.616992/192 = 0.0032135 precisely), Spark rounds the
      // nearest BINARY double (0.00321349999... -> down) while decimal-
      // repr engines round the half up — a guaranteed 1-ulp gate
      // mismatch. Half-up away from zero on integers is engine-free.
      // sv_u stays DECIMAL, not LONG: `2 * sv_u` on a long overflows once
      // a (label,pos) group's 6dp sum passes ~4.6e12, silently corrupting
      // the rounded centroid; decimal(38,0) gives the same half-up integer
      // formula 19 more digits of headroom (IntegralDivide on decimals is
      // exact, and the quotient — a bounded per-component mean in micros —
      // always fits the long it returns)
      .withColumn("sv_u", (col("sv") * 1000000).cast("decimal(38,0)"))
      .withColumn("micros",
        when(col("sv_u") >= 0, expr("(2 * sv_u + n) div (2 * n)"))
          .otherwise(-expr("(-2 * sv_u + n) div (2 * n)")))
      .select(col("label"), col("pos").cast("long").as("pos"),
        (col("micros").cast("double") / lit(1000000.0)).as("centroid"))

  /** Embedding QC: flag vectors whose cosine to their OWN class centroid
    * is a z-score outlier within the class — the screen that catches
    * mislabeled or corrupt vectors before a labeled corpus trains a
    * classifier or seeds [[semDedup]] clusters.
    *
    * Scale shape: the centroid table is |labels| x dim rows (bounded by
    * the label universe, not the corpus) so it collects to the driver and
    * travels back as a broadcast (label, cvec) frame — the PQ-codebook
    * discipline; the corpus side then does one narrow cosine per row and
    * one keyed moment aggregation. No embedding array ever crosses a
    * shuffle. Determinism: cosines fold in array order (same as the
    * oracle's list fold), are rounded to 6dp, and the within-class
    * moments accumulate as DECIMAL over the rounded values (exact on any
    * partitioning — the [[EventAnalytics.anomalies]] discipline); the
    * closed-form z runs in double with the oracle's exact expression
    * shape. Classes with fewer than 3 vectors or zero variance are
    * skipped (z undefined). */
  def embedOutliers(emb: DataFrame, zMax: Double): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val cent = centroidTable(emb)
      .collect() // bounded: |labels| x dim rows, never corpus-sized
    val cvecs = cent
      .groupBy(_.getInt(0))
      .map { case (l, rows) =>
        (l, rows.sortBy(_.getLong(1)).map(_.getDouble(2)).toSeq)
      }.toSeq.sortBy(_._1)
    if (cvecs.isEmpty)
      return Seq.empty[(Long, Int, Double, Double)]
        .toDF("vec_id", "label", "cos_c", "z")
    val byLabel = Window.partitionBy(col("label"))
    val cosDec = round(col("cos_c"), 6).cast("decimal(18,6)")
    val withMoments = emb
      .join(broadcast(cvecs.toDF("label", "cvec")), "label")
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("cvec")), 6).as("cos_c"))
      .withColumn("n", count(lit(1)).over(byLabel))
      .withColumn("s1", sum(cosDec).over(byLabel).cast("double"))
      .withColumn("s2",
        sum((cosDec * cosDec).cast("decimal(38,12)")).over(byLabel).cast("double"))
    val nD = col("n").cast("double")
    val mean = col("s1") / nD
    val variance = col("s2") / nD - mean * mean
    withMoments
      .withColumn("z", (col("cos_c") - mean) / sqrt(variance))
      .filter(col("n") >= 3 && variance > 0 && abs(col("z")) > zMax)
      .select(col("vec_id"), col("label"), col("cos_c"), round(col("z"), 6).as("z"))
  }

  def qEmbedOutliers(s: SparkSession, d: String): DataFrame =
    embedOutliers(embeddings(s, d), 2.0).orderBy("vec_id")

  // ------------------------------------------------ embedding drift (PSI)

  /** Fixed-width histogram buckets for the PSI drift monitor: values in
    * [-1, 1) split into 8 quarter-width buckets, everything outside
    * clipped into the edge buckets — FIXED edges (not reference
    * quantiles) so the bucketing is a pure function both engines replay
    * bit-for-bit and the monitor is comparable across runs. */
  val DriftBuckets = 8

  /** POPULATION STABILITY INDEX per embedding dimension — the standard
    * model-monitoring drift statistic (PSI = Σ_b (p_b − q_b)·ln(p_b/q_b),
    * Laplace-smoothed so empty buckets never produce ln(0)) between a
    * reference corpus snapshot and a current one: the check a pipeline
    * runs before trusting that yesterday's ANN index / classifier
    * thresholds still apply to today's embeddings (an encoder rollout, a
    * source-mix shift, or a normalization bug all light this up).
    *
    * Determinism protocol: bucket counts are exact ints; p and q are one
    * double division each over literal totals; each bucket term
    * (p−q)·ln(p/q) is NON-NEGATIVE (both factors share sign), rounded
    * 6dp, summed as DECIMAL(18,6) (order-free), cast to double once.
    *
    * Scale shape: ONE narrow posexplode per side into (dim, bucket)
    * scalars — vectors never shuffle — then a map-side-combinable count
    * per (dim, bucket) and arithmetic on the d×B = a-few-hundred-row
    * frame. Cost is one scan per side regardless of d. */
  def embeddingDriftPsi(ref: DataFrame, cur: DataFrame,
      threshold: Double = 0.25): DataFrame = {
    val s = ref.sparkSession
    val nRef = ref.count()
    val nCur = cur.count()
    // loud, not empty: a missing snapshot is a pipeline defect — a
    // silent no-drift verdict on it would be the monitor lying
    require(nRef > 0 && nCur > 0,
      s"PSI drift needs two non-empty snapshots (ref=$nRef, cur=$nCur)")
    val dimCount = ref.select(size(col("e"))).head().getInt(0)
    psiFromRefCounts(s, driftCounts(ref, "c_ref"), nRef, dimCount,
      cur, nCur, threshold)
  }

  /** One snapshot's (dim, bucket) histogram — the ONLY pass that touches
    * vectors; everything after runs on the d x B scalar frame. */
  private def driftCounts(df: DataFrame, name: String): DataFrame = df
    .select(posexplode(col("e")).as(Seq("dim", "x")))
    .select(col("dim"), least(lit(DriftBuckets - 1), greatest(lit(0),
      floor((col("x") + lit(1.0)) / lit(0.25)).cast("int"))).as("bucket"))
    .groupBy("dim", "bucket").agg(count(lit(1)).as(name))

  /** The PSI tail shared by the two-snapshot form and the persisted-
    * reference probe: Laplace-smoothed per-bucket terms over the
    * complete grid, decimal-summed per dimension. */
  private def psiFromRefCounts(s: SparkSession, refCounts: DataFrame,
      nRef: Long, dimCount: Int, cur: DataFrame, nCur: Long,
      threshold: Double): DataFrame = {
    // the complete dim x bucket grid WITHOUT a join (absent buckets must
    // still contribute their smoothed term): a range + sequence explode
    val grid = s.range(dimCount).select(col("id").cast("int").as("dim"),
      explode(sequence(lit(0), lit(DriftBuckets - 1))).as("bucket"))
    val p = (coalesce(col("c_ref"), lit(0L)) + 1).cast("double") /
      lit((nRef + DriftBuckets).toDouble)
    val q = (coalesce(col("c_cur"), lit(0L)) + 1).cast("double") /
      lit((nCur + DriftBuckets).toDouble)
    grid
      .join(refCounts, Seq("dim", "bucket"), "left")
      .join(driftCounts(cur, "c_cur"), Seq("dim", "bucket"), "left")
      .withColumn("term", round((p - q) * log(p / q), 6))
      .groupBy("dim")
      .agg(sum(col("term").cast("decimal(18,6)")).cast("double").as("psi"))
      .withColumn("drifted", col("psi") >= threshold)
  }

  /** Persist the PSI REFERENCE histogram once (round 12 — the serving
    * shape): the reference corpus's vectors are scanned exactly one
    * time ever; each monitoring batch afterwards pays one histogram
    * pass over ITSELF plus a join of two d x B scalar frames. The
    * stored frame carries (dim, bucket, c_ref) with the snapshot size
    * and dimensionality on every row (a d x B frame — the duplication
    * is bytes, the single-file simplicity is the win). */
  def writeDriftRef(ref: DataFrame, root: String): Unit = {
    val nRef = ref.count()
    require(nRef > 0, s"PSI drift reference snapshot is empty")
    val dimCount = ref.select(size(col("e"))).head().getInt(0)
    driftCounts(ref, "c_ref")
      .withColumn("n_ref", lit(nRef))
      .withColumn("dim_count", lit(dimCount))
      .coalesce(1)
      .write.mode("overwrite").parquet(root)
  }

  /** PSI drift of `cur` against a reference persisted by
    * [[writeDriftRef]] — output identical to [[embeddingDriftPsi]] on
    * the same snapshots (q_embed_drift_ref shares q_embed_drift's
    * closed-form oracle), without ever rescanning the reference
    * vectors. */
  def driftProbeRef(s: SparkSession, root: String, cur: DataFrame,
      threshold: Double = 0.25): DataFrame = {
    val stored = s.read.parquet(root)
    val meta = stored.select(max(col("n_ref")), max(col("dim_count"))).head()
    val (nRef, dimCount) = (meta.getLong(0), meta.getInt(1))
    val nCur = cur.count()
    require(nCur > 0, s"PSI drift needs a non-empty current snapshot")
    psiFromRefCounts(s, stored.select("dim", "bucket", "c_ref"),
      nRef, dimCount, cur, nCur, threshold)
  }

  /** Oracle-checked drift monitor: reference = even vec_ids, current =
    * odd vec_ids with a +0.3 shift PLANTED on dimension 0 — dim 0 must
    * flag (the shift moves more than a whole bucket width), every other
    * dimension must stay under the 0.25 bar (even/odd halves of the same
    * distribution differ only by sampling noise, which Laplace smoothing
    * keeps well under the industry-standard threshold). The oracle
    * replays buckets, smoothing, terms and the decimal sum in closed
    * form. */
  def qEmbedDrift(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val ref = emb.filter(col("vec_id") % 2 === 0).select("e")
    val cur = emb.filter(col("vec_id") % 2 =!= 0)
      .select(transform(col("e"),
        (x, i) => when(i === 0, x + lit(0.3)).otherwise(x)).as("e"))
    embeddingDriftPsi(ref, cur).orderBy("dim")
  }

  private lazy val driftRefRoot: String = Scratch.processTempDir("graft_drift_ref")

  /** [[qEmbedDrift]] through the PERSISTED-REFERENCE serving path: the
    * reference histogram writes once, the probe monitors the shifted
    * snapshot against the stored frame — same recipe, same closed-form
    * oracle, so a probe that disagrees with the two-snapshot form in
    * ANY smoothed term is a loud hash FAIL. */
  def qEmbedDriftRef(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val ref = emb.filter(col("vec_id") % 2 === 0).select("e")
    val cur = emb.filter(col("vec_id") % 2 =!= 0)
      .select(transform(col("e"),
        (x, i) => when(i === 0, x + lit(0.3)).otherwise(x)).as("e"))
    val root = new java.io.File(driftRefRoot, "ref")
    Scratch.rmTree(root)
    writeDriftRef(ref, root.getPath)
    driftProbeRef(s, root.getPath, cur).orderBy("dim")
  }

  /** Greedy k-center (farthest-point) coreset selection: pick k vectors
    * that COVER the embedding space — the diverse eval-set / annotation-
    * budget selection step (Sener & Savarese 2018's coreset rule). Each
    * round selects the vector farthest (cosine distance) from everything
    * selected so far, ties broken by vec_id; the seed is the minimum
    * vec_id.
    *
    * Scale shape: a RUNNING-MIN column — round i evaluates exactly ONE
    * new cosine per row (against the just-selected center, which travels
    * as a literal, the PQ-codebook discipline), folds it into the
    * persisted `dmin` with an IEEE-exact `least`, and localCheckpoints
    * the result so the next round's plan starts from materialized
    * (vec_id, embedding, dmin) rows rather than a growing expression
    * chain. Total work is k·N cosines (the r4 literal-chain shape was
    * k²/2·N — VERDICT r4 item #4); per-round cost is FLAT in the number
    * of already-selected centers, so a realistic eval-set k of a few
    * hundred stays linear. Top-1 per round is TakeOrdered (no shuffle,
    * no sort — per-partition max + driver merge). The checkpoint carries
    * the embedding array, but through LOCAL block storage only — no
    * array crosses an exchange (the alternative, a scalar-only
    * checkpoint re-joined to the corpus, would shuffle the arrays every
    * round). Determinism: running `least` over 6dp-rounded cosines is
    * associative and exact, so the selection sequence is bit-identical
    * to the r4 full-`least`-chain evaluation and replays in the
    * oracle's unrolled CTEs.
    *
    * Output: (sel_rank, vec_id, d_min) — d_min is the selection-time
    * distance to the already-selected set (the coverage-radius sequence,
    * non-increasing); the seed reports 2.0, the cosine-distance
    * diameter. */
  /** SMALL-CORPUS DRIVER FAST PATH budget for [[kCenterSelect]] (the
    * nearDupClusters discipline): under this many rows the k selection
    * rounds run on collected rows with bit-identical arithmetic instead
    * of k (checkpoint + TakeOrdered) job waves — 2^16 × d floats is a
    * few-MB probe, discarded on overflow; corpus-scale embedding tables
    * take the distributed running-min loop unchanged. */
  val DriverCoresetRowBudget: Long = 1L << 16

  def kCenterSelect(emb: DataFrame, k: Int,
      driverRowBudget: Long = DriverCoresetRowBudget): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    require(k >= 1, "k-center needs k >= 1")
    Scope.collectWithin(emb.select(col("vec_id"), col("embedding")), driverRowBudget) match {
      case Some(taken) =>
        if (taken.isEmpty)
          return Seq.empty[(Long, Long, Double)].toDF("sel_rank", "vec_id", "d_min")
        // bit-identical replication of the distributed loop (spec'd in
        // SimilaritySpec against the forced-distributed path): the same
        // index-order double cosine (TextHashes.cosineSim), Spark's
        // round(x,6) as valueOf+HALF_UP (NaN, a zero vector's cosine,
        // passes through as Spark's round passes it), `least` and the (dmin desc,
        // vec_id) TakeOrdered both replayed through Double.compare —
        // Spark's double ordering (NaN greatest, -0.0 < 0.0), not the
        // IEEE `<` (which would diverge on NaN/-0.0 corners)
        def r6(x: Double): Double =
          if (x.isNaN || x.isInfinite) x
          else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
        def cosA(a: Array[Double], b: Array[Double]): Double = {
          var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < a.length) {
            dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
          }
          dot / (math.sqrt(na) * math.sqrt(nb))
        }
        def embOf(r: org.apache.spark.sql.Row): Array[Double] =
          if (r.isNullAt(1)) null
          else r.getSeq[Any](1).iterator.map {
            case f: java.lang.Float => f.toDouble // float→double widening,
            case n: java.lang.Number => n.doubleValue // as cosineSim does
            case null => 0.0 // cosineSim's primitive read of a null slot
          }.toArray
        val rows = taken.map(r => (r.getLong(0), embOf(r)))
        val seedRow = rows.minBy(_._1)
        var selected = Vector((seedRow._1, 2.0, seedRow._2))
        val dmin = Array.fill(rows.length)(2.0)
        while (selected.size < k) {
          val cv = selected.last._3
          var i = 0
          while (i < rows.length) {
            val e = rows(i)._2
            if (e != null && cv != null) {
              val d = 1.0 - r6(cosA(e, cv))
              if (java.lang.Double.compare(d, dmin(i)) < 0) dmin(i) = d
            }
            i += 1
          }
          var bi = 0
          i = 1
          while (i < rows.length) {
            val c = java.lang.Double.compare(dmin(i), dmin(bi))
            if (c > 0 || (c == 0 && rows(i)._1 < rows(bi)._1)) bi = i
            i += 1
          }
          selected :+= ((rows(bi)._1, dmin(bi), rows(bi)._2))
        }
        return selected.zipWithIndex
          .map { case ((id, d, _), i) => (i.toLong, id, d) }
          .toDF("sel_rank", "vec_id", "d_min")
      case None =>
    }
    val seed = emb.orderBy("vec_id").limit(1)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("e"))
      .collect()
    if (seed.isEmpty)
      return Seq.empty[(Long, Long, Double)].toDF("sel_rank", "vec_id", "d_min")
    // a null embedding decodes to null and folds into no distance
    def vec(r: org.apache.spark.sql.Row, i: Int): Array[Double] =
      Option(r.getSeq[Double](i)).map(_.toArray).orNull
    var selected = Vector((seed(0).getLong(0), 2.0, vec(seed(0), 1)))
    // dmin starts at the cosine-distance diameter: the first fold against
    // the seed always wins (d ≤ 2.0), so round 1 reduces to plain
    // distance-to-seed — same numbers as evaluating the full chain.
    var state = emb.select(col("vec_id"), col("embedding"), lit(2.0).as("dmin"))
    var prev: DataFrame = null
    while (selected.size < k) {
      val cv = selected.last._3 // fold ONLY the newest center into dmin
      if (cv != null) {
        state = state
          .withColumn("dmin", least(col("dmin"),
            lit(1.0) - round(cosine(col("embedding"), lit(cv)), 6)))
          .localCheckpoint()
        if (prev != null) prev.unpersist() // drop the superseded round's blocks
        prev = state
      }
      val nxt = state
        .orderBy(col("dmin").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("dmin"),
          transform(col("embedding"), _.cast("double")).as("e"))
        .collect()(0)
      selected :+= ((nxt.getLong(0), nxt.getDouble(1), vec(nxt, 2)))
    }
    if (prev != null) prev.unpersist()
    selected.zipWithIndex.map { case ((id, d, _), i) => (i.toLong, id, d) }
      .toDF("sel_rank", "vec_id", "d_min")
  }

  def qCoreset(s: SparkSession, d: String): DataFrame =
    kCenterSelect(embeddings(s, d), 8).orderBy("sel_rank")

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC
    * deduplication — cluster the embedding space, then search for
    * near-duplicate pairs only WITHIN a cluster, never globally. The
    * all-pairs cost is bounded by the largest cluster, not the corpus:
    * with k clusters of ~N/k points the pair count is N²/k instead of
    * N², and at 100 TB k grows with the corpus (k ∝ N / target-cluster-
    * size, the paper's regime) so per-cluster work stays CONSTANT while
    * cluster count parallelizes across executors. This is the missing
    * middle between [[qEmbedDup]] (blocks on a GIVEN label) and
    * [[lshNearDups]] (blocks on a random LSH bucket): the blocks are
    * LEARNED from the data itself.
    *
    * Clustering = one Lloyd assignment step from deterministic seeds
    * (the k lowest vec_ids), the same literal-centroid narrow argmax as
    * [[kmeansAssign]] but with 6dp-ROUNDED scores so an oracle replays
    * the argmax exactly (ties to the lowest seed id). A vector is a
    * duplicate iff some LOWER-id vector in its cluster has cosine ≥ tau
    * — the keep-lowest-id greedy every exact-dedup operator here uses.
    *
    * Shape: assignment is narrow (k literal seed vectors, zero
    * exchange); the pair search joins the corpus to itself on the
    * cluster key — one keyed exchange whose arrays legitimately travel
    * (vectors must co-locate to be compared; the join is the operator). */
  def semDedup(emb: DataFrame, k: Int, tau: Double): DataFrame = {
    val seeds = emb.orderBy("vec_id").limit(k)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    if (seeds.isEmpty) // empty corpus: no seeds, no clusters, no rows
      return emb.limit(0).select(col("vec_id"), lit(0L).as("cluster"),
        lit(false).as("is_dup"))
    val best = array_max(array(seeds.map { case (id, c) =>
      struct(round(cosine(col("embedding"), lit(c)), 6).as("s"),
        lit(-id).as("nid")) }.toIndexedSeq: _*))
    val assigned = emb.select(col("vec_id"), col("embedding"),
      (-best.getField("nid")).as("cluster"))
    withinClusterDups(assigned, tau)
  }

  /** Shared second stage: near-dup verdicts from a (vec_id, embedding,
    * cluster) frame — pair search joins on the cluster key only. */
  private def withinClusterDups(assigned: DataFrame, tau: Double): DataFrame = {
    val a = assigned.select(col("cluster"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"))
    val b = assigned.select(col("cluster"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(cosine(col("emb_a"), col("emb_b")), 6) >= tau)
      .select(col("id_b").as("vec_id")).distinct()
      .withColumn("is_dup", lit(true))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
  }

  /** PRODUCTION-scale [[semDedup]] assignment: the flat argmax evaluates
    * all k seed cosines per vector — O(N·k), and SemDeDup's regime grows
    * k WITH the corpus (constant cluster size), making flat assignment
    * quadratic overall (measured 4.2x at 3x data, SCALE.md). This
    * variant goes TWO-LEVEL, the IVF trick applied to the seed set
    * itself: a driver-side Lloyd groups the k seeds into ~sqrt(k) cells;
    * each vector routes to its TOP-2 cell centers (multi-probe, the IVF
    * nprobe trick — single-cell routing mis-places boundary vectors),
    * then argmaxes only those cells' seeds — O(sqrt(k)) cosines per row
    * instead of k. The fine stage is an explode of the two probed cells
    * into a broadcast (cell, seed) join with a scalar per-vector argmax
    * (see the in-body comment and SCALE.md finding 12 for why it must
    * NOT be a per-cell literal CASE). Assignment is APPROXIMATE (the true
    * nearest seed can sit outside the routed cell), so this path is
    * spec-gated on agreement + planted-dup recall, not oracle-gated —
    * the [[lshNearDups]]-vs-[[qEmbedDup]] pattern. */
  def semDedupHier(emb: DataFrame, k: Int, tau: Double,
      lloydIters: Int = 5): DataFrame = {
    val seeds = emb.orderBy("vec_id").limit(k)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    if (seeds.isEmpty)
      return emb.limit(0).select(col("vec_id"), lit(0L).as("cluster"),
        lit(false).as("is_dup"))
    val assigned = twoLevelNearest(emb, seeds, lloydIters)
      .withColumnRenamed("nearest_id", "cluster")
    withinClusterDups(assigned, tau)
  }

  /** The shared two-level nearest-item engine behind [[semDedupHier]] and
    * [[kmeansAssignHier]]: group the candidate items (id, vector) into
    * ~sqrt(|items|) cells with a driver-side Lloyd over the ITEM vectors
    * (|items| rows — negligible), route each corpus row to its TOP-2
    * cells (multi-probe), then argmax only those cells' items through a
    * broadcast join. O(sqrt(k)) coarse cosines per row narrow +
    * ~2·sqrt(k) fine cosines in the join, vs the flat argmax's k.
    * Returns (vec_id, embedding, nearest_id); items must be non-empty
    * (callers guard). */
  private def twoLevelNearest(emb: DataFrame,
      seeds: Seq[(Long, Array[Double])], lloydIters: Int): DataFrame = {
    def cosA(x: Array[Double], y: Array[Double]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < x.length) { dot += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i); i += 1 }
      dot / (math.sqrt(nx) * math.sqrt(ny))
    }
    val m = math.max(1, math.round(math.sqrt(seeds.length.toDouble)).toInt)
    // driver-side Lloyd over the k SEED vectors (k rows — negligible):
    // deterministic init by seed order, mean centers, cosine assignment
    var centers = Array.tabulate(m)(i => seeds(i * seeds.length / m)._2)
    var cellOf = Array.fill(seeds.length)(0)
    (0 until lloydIters).foreach { _ =>
      cellOf = seeds.map { case (_, v) =>
        var bc = 0; var bs = Double.NegativeInfinity
        centers.indices.foreach { c =>
          val sc = cosA(v, centers(c))
          if (sc > bs) { bs = sc; bc = c }
        }
        bc
      }.toArray
      centers = Array.tabulate(m) { c =>
        val members = seeds.indices.filter(cellOf(_) == c)
        if (members.isEmpty) centers(c)
        else {
          val dim = seeds.head._2.length
          val acc = new Array[Double](dim)
          members.foreach { s => var i = 0; while (i < dim) { acc(i) += seeds(s)._2(i); i += 1 } }
          acc.map(_ / members.length)
        }
      }
    }
    val cells: Seq[(Int, Seq[(Long, Array[Double])])] =
      seeds.indices.groupBy(cellOf).toSeq.sortBy(_._1)
        .map { case (c, idxs) => (c, idxs.map(seeds(_)).toSeq) }
    // Multi-probe routing (the IVF nprobe trick): boundary vectors whose
    // true nearest seed sits in the runner-up cell dominate the
    // disagreement, so probe the TOP-2 cells. The fine stage is the
    // [[ivfTopK]] shape — explode the two probed cells, broadcast-join
    // the (cell, seed) table, argmax per vector — NOT a per-cell literal
    // CASE: a k-seed when-chain defeats common-subexpression elimination
    // (each predicate re-derives the coarse argmax) and measured 10x
    // SLOWER than the flat argmax it was meant to beat. The routed frame
    // is localCheckpoint'ed so the coarse scores are computed once, and
    // only scalar (vec_id, score, seed_id) rows reach the argmax
    // exchange. Total work per vector: sqrt(k) coarse cosines narrow +
    // ~2·k/sqrt(k) fine cosines inside the broadcast join.
    // route ONLY against OCCUPIED cells: a Lloyd cell that lost all its
    // seeds keeps a stale init center, and a vector routed to it would
    // find zero candidates in the seed join and silently VANISH from the
    // output (both downstream joins are inner). The second-probe
    // fallback for a single-cell seed set points at the first occupied
    // cell for the same reason.
    val occupied = cells.map(_._1).toSet
    val floor = struct(lit(-2.0).as("s"), lit(-cells.head._1.toLong).as("nid"))
    val centerArr = array(centers.zipWithIndex.collect {
      case (cv, i) if occupied.contains(i) =>
        struct(round(cosine(col("embedding"), lit(cv)), 6).as("s"),
          lit(-i.toLong).as("nid")) }.toIndexedSeq: _*)
    val routed = emb
      .withColumn("carr", centerArr)
      .withColumn("best", array_max(col("carr")))
      .withColumn("second", array_max(filter(col("carr"),
        x => x.getField("nid") =!= col("best").getField("nid"))))
      .select(col("vec_id"), col("embedding"),
        (-col("best").getField("nid")).cast("long").as("c1"),
        (-coalesce(col("second"), floor).getField("nid")).cast("long").as("c2"))
      .localCheckpoint()
    import emb.sparkSession.implicits._
    val seedDf = broadcast(cells.flatMap { case (c, ss) =>
      ss.map { case (id, v) => (c.toLong, id, v) } }
      .toDF("cell", "seed_id", "seed_vec"))
    val clusterOf = routed
      .select(col("vec_id"), col("embedding"),
        explode(array(col("c1"), col("c2"))).as("cell"))
      .join(seedDf, Seq("cell"))
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("seed_vec")), 6).as("s"),
        col("seed_id"))
      .groupBy("vec_id")
      .agg(max(struct(col("s"), (-col("seed_id")).as("nid"))).as("b"))
      .select(col("vec_id"), (-col("b").getField("nid")).cast("long").as("nearest_id"))
    routed.select("vec_id", "embedding")
      .join(clusterOf, Seq("vec_id"))
  }

  /** PRODUCTION-scale [[kmeansAssign]]: the flat assign step is N·k
    * literal cosines per Lloyd iteration, and the IVF regime grows the
    * list count WITH the corpus (constant target list size) — the
    * finding-12 quadratic, re-measured for learned-list retrieval in
    * SCALE.md's ivf_topk_learned row. Each iteration here recomputes
    * centroids with the same distributed groupBy-mean jobs, then assigns
    * through [[twoLevelNearest]] — O(sqrt(k)) cosines per row. Assignment
    * is APPROXIMATE (a boundary vector can route past its true nearest
    * centroid), so this path is spec-gated on agreement with the flat
    * assign + identical-vector co-routing, the [[semDedupHier]]
    * pattern. */
  def kmeansAssignHier(corpus: DataFrame, k: Int, iters: Int,
      lloydIters: Int = 5,
      seed0: Option[Seq[(Long, Array[Double])]] = None): DataFrame = {
    val ids = corpus.select(col("vec_id"), col("embedding"))
    var assigned = ids.withColumn("list_id",
      pmod(col("vec_id"), lit(k.toLong))) // deterministic seed partition
    var i = 0
    while (i < iters) {
      // seed0: see [[kmeansAssign]] — iteration 0's centroids may arrive
      // precomputed from a sibling trainer over the same corpus
      val cents = if (i == 0 && seed0.isDefined) seed0.get else
        collectCentroids(assigned)
      assigned =
        if (cents.isEmpty) ids.limit(0).withColumn("list_id", lit(0L))
        else twoLevelNearest(ids, cents, lloydIters)
          .withColumnRenamed("nearest_id", "list_id")
      i += 1
    }
    assigned
  }

  /** Oracle-checked: 16 learned clusters, tau 0.35 (66 within-cluster
    * dup pairs at gate scale — selective but non-trivial). */
  def qSemDedup(s: SparkSession, d: String): DataFrame =
    semDedup(embeddings(s, d), k = 16, tau = 0.35).orderBy("vec_id")

  /** Driver-gated two-level SemDeDup (VERDICT r4 item #7). The routed
    * assignment is APPROXIMATE (top-2-cell multi-probe can mis-place a
    * boundary vector), so its raw output cannot hash-match an exact
    * oracle; the declared output is the [[graft.operators.Advanced
    * .qApproxDistinct]] tolerance pattern instead — exact replayable
    * scalars plus booleans the oracle pins to TRUE:
    *
    *  - `n_vecs`: corpus size (both paths emit one row per vector and
    *    the comparison joins them, so this also proves neither path
    *    drops or duplicates rows);
    *  - `assign_agree_ok`: >= 70% of vectors route to their exact argmax
    *    cluster (measured 0.81-0.83 across sf0.001/0.01/0.1);
    *  - `dup_agree_ok`: >= 85% of is_dup verdicts match the flat path
    *    (measured 0.966/0.956/0.896 — agreement falls as dup density
    *    rises, sf0.1 carries a 0.30 dup rate);
    *  - `dup_rate_close_ok`: the two paths' overall dup RATES sit within
    *    0.05 absolute (measured gap 0.006-0.012) — per-vector verdicts
    *    may flip on mis-routed boundary vectors, but the corpus-level
    *    dedup yield must not drift;
    *  - `planted_present` / `planted_recall_ok`: 25 planted exact copies
    *    all survive to the output and >= 95% are flagged — identical
    *    vectors route identically, so real recall is 1.0 and the margin
    *    only covers future routing changes.
    *
    * A hash mismatch on any boolean = the production path regressed. */
  def qSemDedupHier(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val flat = semDedup(emb, k = 16, tau = 0.35)
      .select(col("vec_id"), col("cluster").as("c_f"), col("is_dup").as("d_f"))
    val hier = semDedupHier(emb, k = 16, tau = 0.35)
      .select(col("vec_id"), col("cluster").as("c_h"), col("is_dup").as("d_h"))
    // 0/1 doubles sum exactly (integers < 2^53): partition-order invariant
    val agree = flat.join(hier, Seq("vec_id")).agg(
      count(lit(1)).as("n_vecs"),
      (avg(when(col("c_f") === col("c_h"), 1.0).otherwise(0.0)) >= 0.7)
        .as("assign_agree_ok"),
      (avg(when(col("d_f") === col("d_h"), 1.0).otherwise(0.0)) >= 0.85)
        .as("dup_agree_ok"),
      (abs(avg(when(col("d_f"), 1.0).otherwise(0.0)) -
        avg(when(col("d_h"), 1.0).otherwise(0.0))) <= 0.05)
        .as("dup_rate_close_ok"))
    val copies = emb.filter(col("vec_id") < 25)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val planted = semDedupHier(emb.unionByName(copies), k = 16, tau = 0.35)
      .filter(col("vec_id") >= 1000000L)
      .agg((count(lit(1)) === 25).as("planted_present"),
        (avg(when(col("is_dup"), 1.0).otherwise(0.0)) >= 0.95)
          .as("planted_recall_ok"))
    agree.crossJoin(planted)
  }

  /** Int8 scalar quantization of the embedding column (the standard 4x
    * memory cut before an ANN index is built at corpus scale): per-vector
    * symmetric scale s = max|x|/127, q_i = round(x_i/s) in [-127, 127],
    * reported with the worst-case reconstruction error max|x_i - q_i*s|.
    * Everything is narrow per-row array math over the float column cast
    * to double once (the same cast discipline as the cosine path —
    * float32 math would diverge from the oracle's double fold). */
  def quantize(emb: DataFrame): DataFrame = {
    val v = transform(col("embedding"), x => x.cast("double"))
    emb
      .withColumn("v", v)
      // max_abs is a bound attribute so the per-element lambdas below
      // reference a scalar, never re-reduce the array (projection collapse
      // would otherwise inline an array_max per element)
      .withColumn("max_abs", array_max(transform(col("v"), x => abs(x))))
      .withColumn("scale", col("max_abs") / lit(127.0))
      // an all-zero vector has scale 0; dividing by it yields NULL in
      // Spark but NaN in IEEE engines — quantize against a unit divisor
      // instead, which maps the zero vector to all-zero codes, error 0
      .withColumn("divisor",
        when(col("max_abs") === 0.0, lit(1.0)).otherwise(col("scale")))
      .withColumn("qv", transform(col("v"), x => round(x / col("divisor")).cast("long")))
      .withColumn("max_err",
        round(array_max(zip_with(col("v"), col("qv"),
          (x, q) => abs(x - q * col("scale")))), 6))
      .select(col("vec_id"), round(col("scale"), 6).as("scale"),
        col("max_err"))
  }

  def qQuantize(s: SparkSession, d: String): DataFrame =
    quantize(embeddings(s, d)).orderBy("vec_id")

  // -------------------------------------------------- product quantization

  /** PQ configuration for the 64-dim embedding column: M=16 subspaces of 4
    * components, K=16 codes each — M nibble codes (8 bytes at M=16)
    * replace 256 bytes of float32, a 32x index-memory cut. The asymmetric-distance
    * (ADC) scan then ranks the corpus from the codes alone: per query one
    * M x K lookup table is built from the full-precision query, and each
    * corpus vector costs M table lookups — no decode, no float array.
    * (Jegou, Douze, Schmid: "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011.) */
  val PqM = 16; val PqSub = 4; val PqK = 16

  /** Squared-L2 distances of subspace `m` of `vd` (a double-array column)
    * to each centroid of `book`, rounded to 6 dp (the engine's portable-
    * double discipline — same as the cosine paths). */
  private def pqDists(vd: Column, m: Int, book: Seq[Array[Double]]): Column =
    array(book.map { cvec =>
      round(aggregate(zip_with(slice(vd, m * PqSub + 1, PqSub), lit(cvec),
        (x, y) => (x - y) * (x - y)), lit(0.0), (s, x) => s + x), 6)
    }: _*)

  /** Deterministic seed codebooks: the subvectors of the K vectors ranked
    * first by a Knuth multiplicative hash of vec_id (portable integer
    * arithmetic — the DuckDB oracle reproduces the identical selection).
    * These seed [[pqTrainCodebooks]] AND back the oracle-gated
    * [[qPqEncode]], whose argmin-over-seeds is fully SQL-expressible. */
  def pqSeedCodebooks(emb: DataFrame): Seq[Seq[Array[Double]]] = {
    val seeds = emb
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("h", pmod(col("vec_id") * lit(2654435761L), lit(4294967296L)))
      .orderBy("h", "vec_id").limit(PqK)
      .collect().map(_.getSeq[Double](1).toArray)
    (0 until PqM).map(m => seeds.toSeq.map(_.slice(m * PqSub, (m + 1) * PqSub)))
  }

  /** Spark's `round(x, 6)` for a finite double, JVM-side: the closure
    * paths below must round exactly like the expression paths or a
    * boundary vector's code could differ between them. */
  private def round6d(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** All M codes for one vector — the closure-side twin of [[pqEncode]]'s
    * expression argmin (equality pinned in SimilaritySpec). */
  private[graft] def pqCodesJvm(v: Array[Double],
      bks: Array[Array[Array[Double]]]): Array[Int] = {
    val codes = new Array[Int](PqM)
    var m = 0
    while (m < PqM) { codes(m) = nearestCodeJvm(v, m, bks(m)); m += 1 }
    codes
  }

  /** First-minimum argmin over `book` for subspace `m`, with the same
    * fold order and 6dp rounding as [[pqDists]] + `array_position(min)` —
    * kept JVM-side because a 16x16-literal expression tree's CODEGEN
    * COMPILE dominated the actual work (round-6 probe: 8.1s for two
    * Lloyd iterations over 2,000 vectors; the arithmetic is microseconds). */
  private def nearestCodeJvm(v: Array[Double], m: Int, book: Seq[Array[Double]]): Int = {
    var best = 0; var bestD = Double.PositiveInfinity
    var k = 0
    while (k < book.length) {
      val c = book(k); var s = 0.0; var j = 0
      while (j < PqSub) { val dd = v(m * PqSub + j) - c(j); s += dd * dd; j += 1 }
      val d = round6d(s)
      if (d < bestD) { bestD = d; best = k }
      k += 1
    }
    best
  }

  /** Per-subspace Lloyd iterations on top of the seed codebooks. Each
    * iteration is one narrow assignment pass (typed mapPartitions; the
    * codebooks travel in the task closure — k·dim doubles, never a join
    * side) emitting (m, code, j, component) scalars, plus one
    * M*K*PqSub-key distributed aggregation for the new means. Codes whose
    * cell empties keep their previous centroid. The assign is JVM code
    * rather than literal expressions deliberately: same arithmetic (see
    * [[nearestCodeJvm]]), but plan size — and therefore codegen compile
    * time — is CONSTANT in M·K instead of quadratic. */
  def pqTrainCodebooks(emb: DataFrame, iters: Int): Seq[Seq[Array[Double]]] = {
    var books = pqSeedCodebooks(emb)
    val spark = emb.sparkSession
    import spark.implicits._
    var i = 0
    while (i < iters) {
      val bks: Array[Array[Array[Double]]] = books.map(_.toArray).toArray
      val means = emb
        .select(transform(col("embedding"), x => x.cast("double")).as("v"))
        .as[Array[Double]]
        .mapPartitions { it =>
          it.flatMap { v =>
            if (v == null || v.length < PqM * PqSub) Iterator.empty
            else (0 until PqM).iterator.flatMap { m =>
              val code = nearestCodeJvm(v, m, bks(m))
              (0 until PqSub).iterator.map(j => (m, code, j, v(m * PqSub + j)))
            }
          }
        }
        .toDF("m", "code", "j", "x")
        .groupBy("m", "code", "j").agg(avg(col("x")).as("c"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getDouble(3)))
        .toMap
      books = (0 until PqM).map { m =>
        (0 until PqK).map { code =>
          val prev = books(m)(code)
          Array.tabulate(PqSub)(j => means.getOrElse((m, code, j), prev(j)))
        }
      }
      i += 1
    }
    books
  }

  /** Encode: 8 int codes + total squared quantization error per vector.
    * Fully narrow — the only non-literal input is the embedding column. */
  def pqEncode(df: DataFrame, books: Seq[Seq[Array[Double]]]): DataFrame = {
    val vd = transform(col("embedding"), x => x.cast("double"))
    val codes = (0 until PqM).map { m =>
      val d = pqDists(vd, m, books(m))
      (array_position(d, array_min(d)) - 1).cast("int")
    }
    val qerr = (0 until PqM).map { m =>
      array_min(pqDists(vd, m, books(m))).cast("decimal(18,6)")
    }.reduce(_ + _)
    df.withColumn("codes", array(codes: _*))
      .withColumn("qerr", round(qerr.cast("double"), 6))
  }

  /** ADC top-k: rank the whole corpus from codes + one per-query lookup
    * table. The corpus is scanned narrow (codes only — M small ints per
    * vector); the query side computes its M x K LUT once and broadcasts
    * (q_id, lut); the rank shuffle carries scalars. Approximate by
    * construction: scores are distances between the query and each
    * vector's QUANTIZED form — recall vs [[bruteForceTopK]] is gated in
    * SimilaritySpec. */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
      books: Seq[Seq[Array[Double]]], k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // both sides of the scan are built JVM-side with the books in the
    // task closure: the literal-expression formulations (a 256-term LUT
    // array; 32 pqDists trees in the encode) each measured SECONDS of
    // pure codegen compile per invocation, for arithmetic that takes
    // microseconds — same fold order + rounding, so values and codes are
    // bit-identical ([[pqCodesJvm]] parity is spec-pinned; the
    // expression encode remains the oracle-gated q_pq_encode surface)
    val bks: Array[Array[Array[Double]]] = books.map(_.toArray).toArray
    val c = corpus
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        it.flatMap { case (id, v) =>
          if (v == null || v.length < PqM * PqSub) None
          else Some((id, pqCodesJvm(v, bks)))
        }
      }
      .toDF("n_id", "codes")
    val q = queries
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        it.flatMap { case (id, v) =>
          if (v == null || v.length < PqM * PqSub) None
          else Some((id, v))
        }.map { case (id, v) =>
          val lut = new Array[Double](PqM * PqK)
          var m = 0
          while (m < PqM) {
            var kk = 0
            while (kk < PqK) {
              val cv = bks(m)(kk); var s = 0.0; var j = 0
              while (j < PqSub) { val dd = v(m * PqSub + j) - cv(j); s += dd * dd; j += 1 }
              lut(m * PqK + kk) = s
              kk += 1
            }
            m += 1
          }
          (id, lut)
        }
      }
      .toDF("q_id", "lut")
    val dist = (0 until PqM).map { m =>
      element_at(col("lut"), lit(m * PqK + 1) + element_at(col("codes"), m + 1))
    }.reduce(_ + _)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("adist", round(dist, 6))
      .select("q_id", "n_id", "adist")
    val w = Window.partitionBy(col("q_id")).orderBy(col("adist"), col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("n_id"), col("adist"))
  }

  /** ADC + exact re-rank (the PQ paper's "+R" variant): shortlist
    * `refine * k` candidates per query from codes alone, then score ONLY
    * the shortlist with exact cosine on the full-precision vectors. The
    * shortlist join broadcasts (q_id, n_id) scalars into the corpus scan,
    * so each shortlisted embedding is read narrow and never shuffled —
    * the exact-scan cost is refine*k rows per query regardless of corpus
    * size. Output shape matches [[bruteForceTopK]]. */
  def pqTopKRefined(corpus: DataFrame, queries: DataFrame,
      books: Seq[Seq[Array[Double]]], k: Int, refine: Int = 5): DataFrame = {
    val shortlist = pqTopK(corpus, queries, books, k * refine)
      .select(col("q_id"), col("n_id"))
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = c.join(broadcast(shortlist), Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("score", round(cosine(col("q_emb"), col("n_emb")), 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("n_id"), col("score"))
  }

  // ------------------------------------------------------ semantic dedup

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    * the embedding space with k-means, compare pairs ONLY within a
    * cluster, connect components over the >= threshold pairs, keep the
    * minimum vec_id per component.
    *
    * Scale shape: the within-cluster candidate join moves (list_id,
    * vec_id) SCALARS — embeddings are joined back per side for the exact
    * cosine only after the pair keys exist (the [[lshNearDups]]
    * discipline; asserted in SimilaritySpec). Cluster count k is the
    * knob: pair volume is ~ n^2/k for balanced clusters, so k grows with
    * the corpus while each cluster stays executor-sized. Near-identical
    * vectors land in the same cluster by construction (their centroid
    * scores differ by at most their distance), which is why SemDeDup
    * blocks on k-means rather than random buckets.
    *
    * Output: every corpus vector, its component representative (`rep` =
    * min vec_id, itself when unclustered) and `keep` = is-representative. */
  def semanticDedup(corpus: DataFrame, k: Int, iters: Int,
      threshold: Double): DataFrame = {
    val assigned = kmeansAssign(corpus, k, iters)
      .select(col("list_id"), col("vec_id"))
    val pairKeys = assigned.select(col("list_id"), col("vec_id").as("id_a"))
      .join(assigned.select(col("list_id"), col("vec_id").as("id_b")), Seq("list_id"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val emb = corpus.select(col("vec_id"), col("embedding"))
    val pairs = pairKeys
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), Seq("id_a"))
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), Seq("id_b"))
      .withColumn("score", round(cosine(col("emb_a"), col("emb_b")), 6))
      .filter(col("score") >= threshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val comps = Dedup.nearDupClusters(pairs)
      .select(col("id").as("vec_id"), col("label"))
    corpus.select(col("vec_id"))
      .join(comps, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("label"), col("vec_id")).as("rep"),
        (coalesce(col("label"), col("vec_id")) === col("vec_id")).as("keep"))
  }

  /** Oracle-gated PQ encode under the DETERMINISTIC seed codebooks (the
    * trained path differs only in the literal centroid values; the DuckDB
    * oracle replays seed selection, per-subspace argmin, and the exact
    * decimal error sum). */
  def qPqEncode(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    pqEncode(emb, pqSeedCodebooks(emb))
      .select(col("vec_id"),
        concat_ws("|", col("codes").cast("array<string>")).as("codes"),
        col("qerr"))
      .orderBy("vec_id")
  }

  /** Driver-gated PQ retrieval quality — the [[qAnnRecall]] pattern
    * applied to the product-quantized serving path: recall@10 of pure
    * ADC ([[pqTopK]], codes-only scan — M bytes/vector instead of the
    * full embedding) and ADC+exact-rerank ([[pqTopKRefined]], the PQ
    * paper's "+R" variant with a refine·k shortlist) against
    * [[bruteForceTopK]] ground truth on the fixed 20-query panel, over
    * 2-iteration-trained codebooks. Measured across sf0.001/0.01/0.1:
    * pure ADC 0.33-0.43 (gate 0.25 — 16x compression costs recall by
    * design; that's what the rerank is for), refined 0.82-0.93 (gate
    * 0.6). `n_exact` pins the ground-truth side like qAnnRecall
    * (coupled to the oracle literal 10·20). Booleans in multiplicative
    * form — an empty corpus stays TRUE, never 0/0 NaN. */
  def qPqSearch(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val k = 10
    val books = pqTrainCodebooks(emb, 2)
    val panel = emb.filter(col("vec_id") < 20)
    // checkpointed: the ground truth feeds three aggregate branches
    val exact = bruteForceTopK(emb, panel, k).select("q_id", "n_id")
      .localCheckpoint()
    // ONE ADC pass at refine*k: its rank<=k prefix IS pqTopK(k) (same
    // ordering), and the full list is pqTopKRefined's shortlist — running
    // pqTopK twice (once inside Refined) doubled the encode+rank cost
    val adc50 = pqTopK(emb, panel, books, k * 5)
      .select("q_id", "rank", "n_id").localCheckpoint()
    val adc = adc50.filter(col("rank") <= k).select("q_id", "n_id")
    val cSide = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val qSide = panel.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val rer = cSide.join(broadcast(adc50.select(col("q_id"), col("n_id"))), Seq("n_id"))
      .join(broadcast(qSide), Seq("q_id"))
      .withColumn("score", round(cosine(col("q_emb"), col("n_emb")), 6))
    val wr = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
    val refined = rer.withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k).select("q_id", "n_id")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(exact.join(adc, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("adc_hits")))
      .crossJoin(exact.join(refined, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("refined_hits")))
      .select(col("n_exact"),
        (col("adc_hits").cast("double") >=
          col("n_exact").cast("double") * 0.25).as("adc_recall_ok"),
        (col("refined_hits").cast("double") >=
          col("n_exact").cast("double") * 0.6).as("refined_recall_ok"))
  }

  // --------------------- matryoshka (truncated-dimension) serving recall

  /** Truncate every embedding to its first `dims` coordinates — the
    * matryoshka serving move (Kusupati 2022): an MRL-trained model packs
    * coarse structure into the prefix, so serving at half (or quarter)
    * width cuts memory and distance-eval cost proportionally. Truncation
    * is a narrow per-row slice; nothing shuffles. */
  def truncateEmbeddings(emb: DataFrame, dims: Int): DataFrame =
    emb.withColumn("embedding", slice(col("embedding"), 1, dims))

  /** Oracle-checked truncated-dimension recall — and unlike the ANN
    * gates this one is EXACT, not a tolerance boolean: the DuckDB oracle
    * replays all three brute-force rankings (full / half / quarter
    * width, same round-6dp cosine and (score desc, id) tie-break the
    * q_topk gate already proves engine-equal) and the hit COUNTS must
    * hash-match. Measured on these synthetic embeddings: half-width
    * recall 0.26-0.37, quarter 0.09-0.2 across the scales — random-ish
    * vectors spread information uniformly across coordinates, which is
    * exactly the decay an MRL-trained checkpoint (Kusupati 2022) exists
    * to flatten; the operator pins the serving MECHANISM (truncate,
    * re-rank, measure retention), and the counts quantify how much a
    * non-MRL embedding loses. */
  def qMrlRecall(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val k = 10
    // checkpointed: the ground truth feeds three aggregate branches
    val exact = bruteForceTopK(emb, emb.filter(col("vec_id") < 20), k)
      .select("q_id", "n_id").localCheckpoint()
    def hits(dims: Int, name: String) = {
      val t = truncateEmbeddings(emb, dims)
      exact.join(
          bruteForceTopK(t, t.filter(col("vec_id") < 20), k).select("q_id", "n_id"),
          Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as(name))
    }
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(hits(32, "half_hits"))
      .crossJoin(hits(16, "quarter_hits"))
  }

  // --------------------------------------- late-interaction (MaxSim)

  /** Token-id packing for the multi-vector family: a (doc_id, tok_id)
    * pair packs into one vec_id by bit shift, so the ANN router can
    * serve per-token candidates and the parent doc recovers by an exact
    * integer unshift (never a double division). 2^20 tokens per doc. */
  val MaxSimTokBits = 20

  /** EXACT late-interaction (multi-vector) retrieval — ColBERT-style
    * MaxSim (Khattab & Zaharia 2020, public): query and document are each
    * a BAG of token vectors; score(q, d) = Σ over q's tokens of the MAX
    * cosine against any of d's tokens. This is the retrieval shape
    * single-vector ANN cannot express (a query token matches its best
    * counterpart independently), and the missing member of the
    * similarity family next to [[bruteForceTopK]].
    *
    * Exactness protocol: per-pair cosines use the q_topk-proven
    * `round(cosine, 6)`; the per-query-token max is a comparison of
    * rounded values (exact); the final sum runs over DECIMAL(18,6)
    * (order-independent exact — the PageRank recipe) and converts to
    * DOUBLE once at the end.
    *
    * Scale shape: the query panel BROADCASTS (panel-bounded by the
    * caller, the q_topk design); the doc-token side computes cosines
    * map-side off the broadcast, so only (q_id, doc_id, q_tok, cos)
    * scalars enter the two aggregation exchanges — token embeddings
    * never shuffle. Corpus-scale serving routes candidates through
    * [[maxSimTopKRouted]] instead of scoring every document. */
  def maxSimTopK(docTokens: DataFrame, queryTokens: DataFrame, k: Int): DataFrame = {
    val q = queryTokens.select(col("doc_id").as("q_id"),
      col("tok_id").as("q_tok"), col("embedding").as("q_emb"))
    val d = docTokens.select(col("doc_id"), col("embedding").as("d_emb"))
    val pairs = d.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("doc_id"))
      .withColumn("cos", round(cosine(col("q_emb"), col("d_emb")), 6))
      .select("q_id", "doc_id", "q_tok", "cos")
    maxSimRank(pairs, k)
  }

  /** Shared MaxSim tail: per-(pair, query-token) max, exact decimal sum,
    * deterministic dense ranking. */
  private def maxSimRank(pairs: DataFrame, k: Int): DataFrame = {
    val s = pairs.groupBy("q_id", "doc_id", "q_tok")
      .agg(max(col("cos")).as("mc"))
      .groupBy("q_id", "doc_id")
      .agg(sum(col("mc").cast("decimal(18,6)")).cast("double").as("score"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("doc_id"))
    s.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("score"))
  }

  /** PRODUCTION MaxSim: candidate generation via the existing ANN router
    * PER QUERY TOKEN, exact MaxSim rerank on the candidate documents
    * only. Token ids pack into router vec_ids by bit shift; each query
    * token pulls its kTok nearest corpus tokens through whatever arm the
    * router picks (exact under [[AnnExactCorpusMax]], IVF/LSH/HNSW
    * beyond), candidates collapse to distinct (query, parent-doc) pairs,
    * and only those pairs pay the full token-by-token scoring — corpus
    * cost is the router's serving cost, not |panel| x |corpus tokens|.
    * Recall floor vs the exact ranking is spec'd in SimilaritySpec. */
  def maxSimTopKRouted(docTokens: DataFrame, queryTokens: DataFrame, k: Int,
      kTok: Int = 16, recallTarget: Double = 0.9): DataFrame =
    maxSimTopKRoutedTagged(docTokens, queryTokens, k, kTok, recallTarget)._1

  /** [[maxSimTopKRouted]] plus the router's decision, so a gate can pin
    * the chosen strategy as a literal column (the q_containment_auto
    * mold — a silent route flip becomes a loud hash FAIL). */
  def maxSimTopKRoutedTagged(docTokens: DataFrame, queryTokens: DataFrame,
      k: Int, kTok: Int = 16,
      recallTarget: Double = 0.9): (DataFrame, AnnStrategy) = {
    def packed(t: DataFrame): DataFrame = t.select(
      (shiftleft(col("doc_id"), MaxSimTokBits) + col("tok_id")).as("vec_id"),
      col("embedding"))
    val (ann, strategy) = annTopKAutoTagged(packed(docTokens), packed(queryTokens),
      kTok, recallTarget)
    val cands = ann.select(
      shiftright(col("q_id"), MaxSimTokBits).as("q_id"),
      shiftright(col("n_id"), MaxSimTokBits).as("doc_id"))
      .filter(col("q_id") =!= col("doc_id")).distinct()
    val q = queryTokens.select(col("doc_id").as("q_id"),
      col("tok_id").as("q_tok"), col("embedding").as("q_emb"))
    val d = docTokens.select(col("doc_id"), col("embedding").as("d_emb"))
    val pairs = cands
      .join(d, Seq("doc_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("cos", round(cosine(col("q_emb"), col("d_emb")), 6))
      .select("q_id", "doc_id", "q_tok", "cos")
    (maxSimRank(pairs, k), strategy)
  }

  /** Oracle-checked: multi-vector docs derived from the embeddings table
    * (4 consecutive vec_ids = one document's token bag), a 3-doc query
    * panel, exact MaxSim top-10. The oracle replays every cosine, the
    * per-token max, the decimal sum, and the (score desc, doc_id)
    * ranking in closed form. */
  def qMaxSim(s: SparkSession, d: String): DataFrame =
    maxSimTopK(maxSimTokens(s, d),
      maxSimTokens(s, d).filter(col("doc_id") < 3), 10)
      .orderBy("q_id", "rank")

  /** Serve MaxSim against a PERSISTED packed-token HNSW index — the
    * production serving shape that removes the per-call graph build from
    * [[maxSimTopKRouted]]'s hot path (build once over the corpus's token
    * bags with [[writeMaxSimIndex]], probe per query batch forever):
    * per-token candidates come off the stored shard graphs, collapse to
    * distinct (query doc, candidate doc) pairs, and only those pairs pay
    * the exact token-by-token rerank — the maxSimTopKRouted tail verbatim,
    * with candidate generation swapped from build-and-probe to
    * probe-only. Approximate exactly as the HNSW arm is (recall floor
    * gated by q_maxsim_index the way q_hnsw_recall gates the
    * single-vector family). */
  def writeMaxSimIndex(s: SparkSession, docTokens: DataFrame, root: String): Unit = {
    val packed = docTokens.select(
      (shiftleft(col("doc_id"), MaxSimTokBits) + col("tok_id")).as("vec_id"),
      col("embedding").cast("array<float>").as("embedding"))
    Hnsw.writeHnswIndex(s, packed, root)
    ()
  }

  /** Grow the persisted MaxSim index with NEW documents' token bags
    * WITHOUT a rebuild (VERDICT r11 Next #4) — the packed (doc, tok)
    * vec_ids append into the stored shard graphs through
    * [[Hnsw.appendHnswIndex]] (restore + insert + atomic republish),
    * exactly as [[Hnsw.qHnswInsert]] grows the single-vector family. A
    * serving index that can only rebuild is not production-shaped: at
    * corpus scale the rebuild is O(corpus) while the append is
    * O(batch). Recall of the grown index (appended docs genuinely
    * servable, not merely stored) is gated by q_maxsim_insert. */
  def appendMaxSimIndex(s: SparkSession, root: String, docTokens: DataFrame): Unit = {
    val packed = docTokens.select(
      (shiftleft(col("doc_id"), MaxSimTokBits) + col("tok_id")).as("vec_id"),
      col("embedding").cast("array<float>").as("embedding"))
    Hnsw.appendHnswIndex(s, root, packed)
    ()
  }

  def maxSimProbeIndex(s: SparkSession, root: String, docTokens: DataFrame,
      queryTokens: DataFrame, k: Int, kTok: Int = 16): DataFrame = {
    val panel = queryTokens.select(
      (shiftleft(col("doc_id"), MaxSimTokBits) + col("tok_id")).as("vec_id"),
      col("embedding").cast("array<float>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1) // bounded query panel (the q_hnsw_recall pattern)
    val cands = Hnsw.probeHnswIndex(s, root, panel, kTok)
      .select(shiftright(col("q_id"), MaxSimTokBits).as("q_id"),
        shiftright(col("n_id"), MaxSimTokBits).as("doc_id"))
      .filter(col("q_id") =!= col("doc_id")).distinct()
    val q = queryTokens.select(col("doc_id").as("q_id"),
      col("tok_id").as("q_tok"), col("embedding").as("q_emb"))
    val dd = docTokens.select(col("doc_id"), col("embedding").as("d_emb"))
    val pairs = cands
      .join(dd, Seq("doc_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("cos", round(cosine(col("q_emb"), col("d_emb")), 6))
      .select("q_id", "doc_id", "q_tok", "cos")
    maxSimRank(pairs, k)
  }

  private lazy val maxSimIdxRoot: String = Scratch.processTempDir("graft_maxsim_idx")

  /** Recall gate for persisted-index MaxSim serving (the q_hnsw_recall
    * coupling): build the packed-token index once, probe the 3-doc
    * panel, and pin n_exact (= k x |panel| in closed form) plus a 0.7
    * recall floor vs the exact [[maxSimTopK]] ranking — measured ~1.0 at
    * gate sizes. */
  def qMaxSimIndex(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = maxSimTokens(s, d)
    val queryToks = toks.filter(col("doc_id") < 3)
    val root = new java.io.File(maxSimIdxRoot, "idx")
    Scratch.rmTree(root)
    writeMaxSimIndex(s, toks, root.getPath)
    val probed = maxSimProbeIndex(s, root.getPath, toks, queryToks, 10)
      .select("q_id", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = maxSimTopK(toks, queryToks, 10)
      .select("q_id", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = if (exact.isEmpty) 1.0 else (exact & probed).size.toDouble / exact.size
    Seq((exact.size.toLong, recall >= 0.7)).toDF("n_exact", "maxsim_recall_ok")
  }

  private lazy val maxSimInsRoot: String = Scratch.processTempDir("graft_maxsim_ins")

  /** Recall gate for INCREMENTAL-INSERT MaxSim serving — [[qMaxSimIndex]]'s
    * companion for [[appendMaxSimIndex]], the q_hnsw_insert mold: the
    * corpus splits into a base build (doc_id >= 25) and an append batch
    * (doc_id < 25); the base publishes once, the batch's token bags grow
    * the restored shard graphs without a rebuild, and the panel probes
    * the GROWN snapshot. Recall@10 is gated against the exact MaxSim
    * ranking over the WHOLE corpus (base + appended — the new documents
    * must be servable, not merely stored); n_exact = 10 x |panel| in
    * closed form, 0.7 bar (measured ~1.0 at gate sizes). */
  def qMaxSimInsert(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = maxSimTokens(s, d)
    val queryToks = toks.filter(col("doc_id") < 3)
    val base = toks.filter(col("doc_id") >= 25)
    val batch = toks.filter(col("doc_id") < 25)
    val root = new java.io.File(maxSimInsRoot, "idx")
    Scratch.rmTree(root)
    writeMaxSimIndex(s, base, root.getPath)
    appendMaxSimIndex(s, root.getPath, batch)
    val probed = maxSimProbeIndex(s, root.getPath, toks, queryToks, 10)
      .select("q_id", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = maxSimTopK(toks, queryToks, 10)
      .select("q_id", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = if (exact.isEmpty) 1.0 else (exact & probed).size.toDouble / exact.size
    Seq((exact.size.toLong, recall >= 0.7)).toDF("n_exact", "maxsim_insert_ok")
  }

  /** Oracle-checked ROUTED MaxSim (VERDICT r10 Next #2): the same panel
    * through the production path — per-token candidates via the ANN
    * front door on bit-packed (doc, tok) ids, exact MaxSim rerank on the
    * distinct candidate docs only. At gate scale the packed token corpus
    * sits under [[AnnExactCorpusMax]], so the router provably picks the
    * exact arm and the oracle replays the per-token top-kTok candidate
    * generation and the rerank in closed form; the pinned 'exact'
    * literal makes a silent route flip a loud hash FAIL. Recall floor vs
    * [[maxSimTopK]] is spec'd in SimilaritySpec. */
  def qMaxSimRouted(s: SparkSession, d: String): DataFrame = {
    val toks = maxSimTokens(s, d)
    val (out, strategy) = maxSimTopKRoutedTagged(
      toks, toks.filter(col("doc_id") < 3), 10, kTok = 16)
    out.withColumn("strategy", lit(strategy.name)).orderBy("q_id", "rank")
  }

  /** The (doc_id, tok_id, embedding) multi-vector view of the embeddings
    * table shared by [[qMaxSim]] and its specs. */
  def maxSimTokens(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(
      expr("vec_id div 4").as("doc_id"),
      pmod(col("vec_id"), lit(4L)).cast("int").as("tok_id"),
      col("embedding"))
}
