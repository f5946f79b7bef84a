package graft.operators

import graft.engine.Tables
import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DoReMi-style domain reweighting (Xie et al. 2023, "Doremi: Optimizing
  * Data Mixtures Speeds Up Language Model Pretraining") — the mixture
  * OPTIMIZER next to the declarative mixture samplers (`q_mixture` /
  * `q_mix_plan`): multiplicative-weights iterations shift domain weight
  * toward domains whose loss EXCEEDS the current mixture's average,
  * converging on a mixture that equalizes excess loss.
  *
  * The per-domain loss here is a deterministic proxy (mean tokens/doc
  * over 500 — the slot a proxy-model loss pluggs into; DoReMi's own
  * reference/proxy LM losses arrive through the same (source, loss)
  * frame). The update is the LINEARIZED multiplicative-weights rule
  * w' ∝ w · (1 + η·(loss_d − Σ_e w_e·loss_e)) with η = 1/2, T = 5.
  *
  * Exactness: the whole iteration runs in scaled-INTEGER arithmetic
  * (micros for weights and losses, 10^12/10^13 scales for mixtures and
  * factors; BigInt engine-side, HUGEINT oracle-side; the one division
  * per domain per iteration is round-half-up in integers) — hash-exact
  * on any engine, no float accumulation order anywhere.
  *
  * Scale shape: ONE map-side-combined aggregation touches the corpus;
  * everything after runs on the |domains|-sized table (collected to the
  * driver: the documented bounded trainer pattern — |sources| = 5 here,
  * thousands at worst in production).
  */
object Doremi {

  val Eta5x: Long = 5 // η = 0.5 as x10 fixed-point (factor scale below)
  val Iterations = 5
  /** Positive floor for the linearized MW factor (10^-4 at the 10^13
    * factor scale). The linearization 1 + η·(ℓ−mix) goes NEGATIVE once a
    * domain's loss sits more than 1/η below the mixture average —
    * negative weights are broken MW semantics, and the round-half-up
    * division below silently diverges from the oracle's floor division
    * on negatives. Clamping at a small positive floor is the standard
    * linearized-MW guard; the oracle applies the identical greatest(). */
  val FactorFloor: BigInt = BigInt(10).pow(9)
  private val M = BigInt(1000000L) // micros

  /** Per-domain integer proxy loss in micros: round-half-up of
    * (mean tokens per doc) / 500. The (source, loss_micros) frame is the
    * swap-in seam for a real proxy-model loss. */
  def domainLoss(docs: DataFrame): DataFrame =
    Tables.rebalance(docs, "doc_id")
      .select(col("source"), size(GraftFunctions.words(col("text"))).cast("long").as("t"))
      .groupBy("source")
      .agg(coalesce(sum(col("t")), lit(0L)).as("toks"), count(lit(1)).as("n"))
      .select(col("source"),
        expr("(2 * toks * 1000000 + 500 * n) div (1000 * n)").as("loss_micros"))

  /** The multiplicative-weights loop over the collected domain table —
    * pure BigInt, deterministic, mirrors the oracle's unrolled CTEs
    * step for step. Returns (source, loss_micros, weight_micros). */
  def reweight(domains: Seq[(String, Long)], iterations: Int = Iterations): Seq[(String, Long, Long)] = {
    val sorted = domains.sortBy(_._1)
    val loss = sorted.map(d => BigInt(d._2))
    val n = sorted.length
    var w: Seq[BigInt] = Seq.fill(n)(M / n) // 10^6 // |domains|
    var t = 0
    while (t < iterations) {
      val mix12 = w.zip(loss).map { case (wi, li) => wi * li }.sum // 10^12 scale
      val raw = w.zip(loss).map { case (wi, li) =>
        // factor at 10^13 scale: 10^13 + 5 * (loss·10^6 − mix), clamped
        // at the positive FactorFloor (see above)
        wi * (BigInt(10).pow(13) + Eta5x * (li * M - mix12)).max(FactorFloor)
      }
      val z = raw.sum
      // round-half-up((raw / z) · 10^6): all terms positive
      w = raw.map(r => (2 * r * M + z) / (2 * z))
      t += 1
    }
    sorted.zipWithIndex.map { case ((s, l), i) => (s, l, w(i).toLong) }
  }

  /** Oracle-checked mixture optimization: corpus -> per-domain proxy
    * loss -> 5 MW iterations -> final weights, all in integer micros.
    * High-loss domains end ABOVE the uniform 1/|D| weight, low-loss
    * below; the oracle unrolls every iteration as materialized CTEs in
    * HUGEINT and must match bit for bit. */
  def qDoremi(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val domains = domainLoss(Tables.documents(s, d))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    reweight(domains)
      .toDF("source", "loss_micros", "weight_micros")
      .orderBy("source")
  }

  /** The REAL proxy loss through the declared (source, loss) seam:
    * DoReMi's domain loss is the proxy model's per-token log-loss, and
    * the repo already trains an LM — the interpolated-KN bigram model
    * behind `q_kn_score`. Each document scores −Σlp / n_bigrams (its
    * LOG-perplexity under the corpus's own model), quantized to integer
    * micros with one sign-symmetric half-away division; the domain loss
    * is the per-source mean (one more half-away division). Only docs
    * with ≥ 1 bigram participate (exactly the q_kn_score population).
    *
    * Exactness: lp values are exact DECIMAL(18,6) (one rounded ln per
    * DISTINCT bigram), Σlp·1e6 is an exact integer, and every division
    * is the CASE half-away form both engines replay. Scale shape: one
    * bigram explode (the q_kn_score shape: bigram keys shuffle, text
    * never does), one doc-keyed agg, one |sources|-keyed agg. */
  def domainLossKn(docs: DataFrame): DataFrame = {
    val pairs = TextSearch.bigramPairs(docs)
    val db = pairs.groupBy("w1", "w2").count().count()
    val lp = TextSearch.knBigramLogProbs(pairs, db)
    val perDoc = pairs.join(lp, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nb"),
        (sum(col("lp")) * 1000000).cast("long").as("slm"))
      .select(col("doc_id"), expr(
        "CASE WHEN -slm >= 0 THEN (2 * -slm + nb) div (2 * nb) " +
          "ELSE -((2 * slm + nb) div (2 * nb)) END").as("loss6"))
    perDoc.join(docs.select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source")
      .agg(sum(col("loss6")).as("sl"), count(lit(1)).as("n"))
      .select(col("source"), expr(
        "CASE WHEN sl >= 0 THEN (2 * sl + n) div (2 * n) " +
          "ELSE -((2 * -sl + n) div (2 * n)) END").as("loss_micros"))
  }

  /** [[qDoremi]] with the KN log-perplexity proxy loss: weights shift
    * toward the domains the in-repo LM finds HARDEST (highest
    * log-perplexity) — the actual DoReMi objective, end to end. The
    * oracle replays the whole KN chain, both quantizing divisions, and
    * every MW iteration in HUGEINT. */
  def qDoremiKn(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val domains = domainLossKn(Tables.documents(s, d))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    reweight(domains)
      .toDF("source", "loss_micros", "weight_micros")
      .orderBy("source")
  }
}
