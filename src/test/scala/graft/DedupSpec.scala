package graft

import graft.engine.Scratch
import graft.functions.GraftFunctions
import graft.operators.Dedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dedup correctness: LSH candidate recall and precision are checked
  * against the brute-force Jaccard ground truth on sf0.001. */
class DedupSpec extends SparkSpec {

  // NOTE deliberately NOT cached: caching a raw table read makes the cache
  // manager substitute InMemoryTableScan into every later plan over this
  // file, silently disabling parquet pushdown/pruning engine-wide.
  private lazy val docs = spark.read.parquet(s"$sf0001/documents.parquet")

  private def shingles(text: Column): Column = Dedup.shinglesFromWords(GraftFunctions.words(text))

  /** Brute-force model: every (left, right) pair, or every left pair
    * doc_a < doc_b when `self`, scored on the full shingle sets and kept
    * at >= t, with the score rounded as the arms round it. */
  private def modelPairs(left: DataFrame, right: DataFrame, t: Double,
      score: (Column, Column) => Column = Dedup.jaccard,
      self: Boolean = false): Set[(Long, Long, Double)] = {
    def sh(df: DataFrame, side: String) =
      df.select(col("doc_id").as(s"doc_$side"), shingles(col("text")).as(s"sh_$side"))
    val all = sh(left, "a").crossJoin(sh(right, "b"))
    scored((if (self) all.filter(col("doc_a") < col("doc_b")) else all)
      .withColumn("s", score(col("sh_a"), col("sh_b")))
      .filter(col("s") >= t)
      .select(col("doc_a"), col("doc_b"), round(col("s"), 6)))
  }

  /** Brute-force ground truth: all pairs with shingle-Jaccard >= t. */
  private def bruteForcePairs(t: Double): Set[(Long, Long)] =
    modelPairs(docs, docs, t, self = true).map(p => (p._1, p._2))

  private def scored(pairs: DataFrame): Set[(Long, Long, Double)] =
    pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private val containment = (a: Column, b: Column) =>
    size(array_intersect(a, b)).cast("double") / least(size(a), size(b)).cast("double")

  /** Doc 900001 is 27 distinct words (25 shingles); 900002 is its last 16
    * words (14 of those shingles): Jaccard 14/25 = 0.56, where 25 * 0.56
    * rounds up past 14 in doubles. */
  private lazy val prefixEdge = {
    import spark.implicits._
    val w = (1 to 27).map(i => s"pe$i")
    Seq((900001L, w.mkString(" ")), (900002L, w.drop(11).mkString(" ")))
      .toDF("doc_id", "text")
  }

  /** A probe set and a corpus for the cross arms: a fifth of sf0.001 plus
    * the edge pair's long doc and a copy of its short doc (900003) against
    * the rest plus the short doc itself. */
  private lazy val (probe, corpus) = {
    val base = docs.select("doc_id", "text")
    (base.filter(col("doc_id") % 5 === 0)
      .unionByName(prefixEdge.filter(col("doc_id") === 900001L))
      .unionByName(prefixEdge.filter(col("doc_id") === 900002L)
        .withColumn("doc_id", lit(900003L))),
      base.filter(col("doc_id") % 5 =!= 0)
        .unionByName(prefixEdge.filter(col("doc_id") === 900002L)))
  }

  test("minhash-LSH finds every true near-dup pair (recall=1 at J>=0.5)") {
    val truth = bruteForcePairs(0.5)
    assert(truth.nonEmpty, "test corpus should contain planted near-dups")
    val got = Dedup.minhashNearDups(docs, 0.5)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === truth) // verification step makes precision exact too
  }

  test("minhash estimator: exact duplicates hit match=K/err=0; estimates live on the K-grid") {
    val out = graft.operators.Dedup.qMinhashEst(spark, sf0001).collect()
    assert(out.nonEmpty)
    val k = graft.operators.Dedup.MinhashK
    out.foreach { r =>
      val m = r.getLong(2)
      assert(m >= 0 && m <= k)
      // the estimate is exactly match/K on the 6dp grid
      assert(math.abs(r.getDouble(3) - math.floor(m.toDouble / k * 1e6 + 0.5) / 1e6) < 1e-9)
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
    }
    // planted EXACT duplicates (the qDedupMinhash fixture family ships
    // identical texts): full signature match, zero estimator error
    val exact = out.filter(_.getDouble(4) == 1.0)
    assert(exact.nonEmpty, "fixture must contain exact-duplicate candidates")
    exact.foreach { r =>
      assert(r.getLong(2) === k.toLong, "identical shingle sets must match every component")
      assert(r.getDouble(5) === 0.0)
    }
    // the estimator is actually informative: mean error well under the
    // 1/sqrt(K) standard-deviation scale
    val meanErr = out.map(_.getDouble(5)).sum / out.length
    assert(meanErr < 1.5 / math.sqrt(k.toDouble), s"mean |est-J| = $meanErr")
  }

  test("ngram inverted-index join finds every true near-dup pair at J>=0.5") {
    val truth = bruteForcePairs(0.5)
    val got = Dedup.ngramNearDups(docs, 0.5)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === truth)
  }

  test("prefix-filtered ngram == inverted-index ngram (both exact)") {
    for ((input, t) <- Seq((docs, 0.5), (prefixEdge, 0.56))) {
      val a = Dedup.ngramNearDups(input, t)
        .collect().map(_.toSeq).toSet
      val b = Dedup.ngramNearDupsPrefix(input, t)
        .collect().map(_.toSeq).toSet
      assert(a === b, s"threshold $t")
      assert(a.nonEmpty, s"threshold $t")
    }
  }

  test("exact cross and fused gate joins equal the brute-force model") {
    val idx = java.nio.file.Paths.get(tempDir("graft_fused_idx"))
    val idxDir = idx.resolve("idx").toString
    Dedup.shingleIndex(corpus).write.parquet(idxDir)
    try for (t <- Seq(0.5, 0.56)) {
      val cross = modelPairs(probe, corpus, t)
      assert(cross.nonEmpty, s"threshold $t")
      assert(scored(Dedup.crossNearDupsExact(probe, corpus, t)) === cross, s"threshold $t")
      // the probe as a gate batch against the stored corpus index:
      // batch x corpus pairs plus batch x batch pairs doc_a < doc_b
      val fused = Dedup.gateFusedExactPairs(spark, Some(idxDir), Dedup.shingleIndex(probe), t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getDouble(3)))
      val batch = modelPairs(probe, probe, t, self = true)
      assert(batch.nonEmpty, s"threshold $t")
      assert(fused.toSet === cross.map { case (a, b, j) => (a, b, true, j) } ++
        batch.map { case (a, b, j) => (a, b, false, j) }, s"threshold $t")
      assert(fused.length === fused.toSet.size)
    } finally Scratch.rmTree(idx.toFile)
  }

  test("band-bucket arms return a subset of the model, with identical scores") {
    val all = probe.unionByName(corpus)
    for (t <- Seq(0.5, 0.56)) {
      val cross = scored(Dedup.crossNearDups(probe, corpus, t))
      assert(cross.nonEmpty, s"threshold $t")
      assert(cross.subsetOf(modelPairs(probe, corpus, t)), s"threshold $t")
      val contained = scored(Dedup.containmentLsh(all, t))
      assert(contained.nonEmpty, s"threshold $t")
      assert(contained.subsetOf(modelPairs(all, all, t, containment, self = true)),
        s"threshold $t")
    }
  }

  test("longest repeated span: hand-computed lengths, cross-doc, self-overlap, cap") {
    import spark.implicits._
    import graft.operators.Dedup
    val seventy = (1 to 70).map(i => s"t$i").mkString(" ")
    val corpus = Seq(
      // docs 1/2 share exactly the 8-token prefix (the tails diverge)
      (1L, "a b c d e f g h x1 x2"),
      (2L, "a b c d e f g h y1 y2"),
      // self-overlap: "p q r p q r p q" repeats "p q r p q" at 1 and 4
      (3L, "p q r p q r p q"),
      // globally unique tokens: no repeated unigram anywhere
      (4L, "u1 u2 u3 u4"),
      // identical 70-token twins: true max 70, reported at the cap
      (5L, seventy), (6L, seventy)
    ).toDF("doc_id", "text")
    // BOTH regimes: the driver fast path (default budget) and the
    // distributed loop (budget 0 forces it) must give identical answers
    Seq(Dedup.RepSpanDriverTokenBudget, 0L).foreach { budget =>
      val out = Dedup.longestRepeatedSpan(corpus, driverTokenBudget = budget)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out(1L) === 8L && out(2L) === 8L, s"shared prefix ($budget): $out")
      assert(out(3L) === 5L, s"self-overlapping repeat ($budget): $out")
      assert(out(4L) === 0L, s"unique tokens ($budget): $out")
      assert(out(5L) === Dedup.RepSpanCap.toLong && out(6L) === Dedup.RepSpanCap.toLong,
        s"cap must bound twin docs ($budget): $out")
      // a tighter cap is honored
      val capped = Dedup.longestRepeatedSpan(corpus, cap = 4, driverTokenBudget = budget)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(capped(1L) === 4L && capped(3L) === 4L && capped(4L) === 0L)
    }
  }

  test("longest repeated span: driver fast path == distributed loop on real docs") {
    // row-for-row equality on a genuine corpus slice (the gated panel's
    // shape), not just the hand fixture — the two implementations share
    // only the predicate definition, so this is the drift tripwire
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 120)
    val fast = Dedup.longestRepeatedSpan(corpus)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.longestRepeatedSpan(corpus, driverTokenBudget = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === dist)
    assert(fast.nonEmpty && fast.values.exists(_ > 0L),
      s"panel should contain at least one repeated span: ${fast.take(5)}")
  }

  test("exact dedup keeps lowest key per text") {
    import spark.implicits._
    val df = Seq((3L, "x"), (1L, "x"), (2L, "y")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out === Set((1L, "x"), (2L, "y")))
  }

  test("insertNearDedup rejects content near-dups of existing docs, keeps fresh ones") {
    import spark.implicits._
    val existing = docs.select("doc_id", "text")
    // incoming: a light edit of an existing doc (near-dup) + a fresh doc
    val editRow = docs.orderBy("doc_id").select("doc_id", "text").head()
    val edited = editRow.getString(1).trim.split("\\s+").toSeq
      .updated(0, "REPLACED").mkString(" ")
    val fresh = (1 to 40).map(i => s"fresh$i").mkString(" ")
    val incoming = Seq((900001L, edited), (900002L, fresh)).toDF("doc_id", "text")
    val next = Dedup.insertNearDedup(existing, incoming, 0.5)
    val ids = next.select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(900001L), "near-dup upload should be rejected")
    assert(ids.contains(900002L), "fresh upload should be accepted")
    assert(next.count() === existing.count() + 1)
  }

  test("persisted dedup index: write, probe, append, probe again") {
    import spark.implicits._
    val store = new graft.engine.ShardStore(spark, tempDir("graft_dedup_idx") + "/idx")
    store.write(Dedup.sigsOf(Dedup.shingleIndex(docs.select("doc_id", "text"))))
    val editRow = docs.orderBy("doc_id").select("doc_id", "text").head()
    val edited = editRow.getString(1).trim.split("\\s+").toSeq
      .updated(0, "REPLACED").mkString(" ")
    val fresh = (1 to 40).map(i => s"freshidx$i").mkString(" ")
    val incoming = Seq((900001L, edited), (900002L, fresh)).toDF("doc_id", "text")
    // probe parity with the recompute-everything path
    val viaIndex = Dedup.probeIndexStore(store, incoming, 0.5)
      .collect().map(_.toSeq).toSet
    val recomputed = Dedup.crossNearDups(incoming, docs.select("doc_id", "text"), 0.5)
      .collect().map(_.toSeq).toSet
    assert(viaIndex === recomputed)
    assert(viaIndex.map(_.head).contains(900001L) && !viaIndex.map(_.head).contains(900002L))
    // append the accepted doc; a re-upload of it now probes as a dup
    Dedup.appendIndexStore(incoming.filter(col("doc_id") === 900002L), store)
    val reprobe = Dedup.probeIndexStore(store,
      Seq((900003L, fresh)).toDF("doc_id", "text"), 0.5)
      .select("doc_b").as[Long].collect().toSet
    assert(reprobe === Set(900002L))
  }

  test("near-dup clustering: min-label connected components over the pair graph") {
    import spark.implicits._
    // chain 1-2-3 (diameter 2), pair 10-11, triangle 20-21-22
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.nearDupClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("cluster fast path (driver union-find) equals the distributed loop") {
    import spark.implicits._
    // adversarial shapes for min-label propagation: a LONG chain (deep
    // diameter, where the loop needs many rounds), edges arriving
    // max-first, and a star joined to the chain's tail
    val chain = (1L to 40L).sliding(2).map(w => (w(1), w(0))).toSeq // reversed pairs
    val star = Seq((100L, 40L), (101L, 100L), (102L, 100L))
    val pairs = (chain ++ star).toDF("doc_a", "doc_b")
    val fast = Dedup.nearDupClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val loop = Dedup.nearDupClusters(pairs, driverEdgeBudget = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fast === loop)
    assert(fast.values.toSet === Set(1L), "single component labels to its min")
    // the real corpus pair graph through both paths
    val corpusPairs = Dedup.minhashNearDups(docs, 0.5).select("doc_a", "doc_b")
    val fastC = Dedup.nearDupClusters(corpusPairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val loopC = Dedup.nearDupClusters(corpusPairs, driverEdgeBudget = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fastC === loopC)
    assert(fastC.nonEmpty)
  }

  test("large/small-star CC equals the union-find fixpoint on hostile topologies") {
    import spark.implicits._
    def lss(pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Dedup.nearDupClustersLss(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
    def uf(pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Dedup.nearDupClusters(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
    // the label-propagation worst case: a LONG chain (diameter 59 —
    // where large/small-star's O(log^2 n) rounds earn their keep),
    // max-first edge order, a star, a clique, and an isolated pair
    val chain = (1L to 60L).sliding(2).map(w => (w(1), w(0))).toSeq
    val star = Seq((100L, 60L), (101L, 100L), (102L, 100L))
    val clique = for (a <- 200L to 204L; b <- (a + 1) to 204L) yield (b, a)
    val pairs = (chain ++ star ++ clique ++ Seq((900L, 901L))).toDF("doc_a", "doc_b")
    val got = lss(pairs)
    assert(got === uf(pairs))
    assert((1L to 60L).forall(got(_) == 1L), "chain labels to its min")
    assert(got(204L) === 200L && got(901L) === 900L)
    // self-pairs and duplicate edges are harmless; empty input is empty
    val messy = Seq((5L, 5L), (7L, 6L), (6L, 7L), (7L, 6L)).toDF("doc_a", "doc_b")
    assert(lss(messy) === Map(6L -> 6L, 7L -> 6L))
    assert(Dedup.nearDupClustersLss(pairs.limit(0)).count() === 0L)
    // the real corpus pair graph through both kernels
    val corpusPairs = Dedup.minhashNearDups(docs, 0.5).select("doc_a", "doc_b")
    assert(lss(corpusPairs) === uf(corpusPairs))
  }

  test("LSS convergence check: one symmetric-difference scan beats two exceptAll scans (VERDICT r11 #6)") {
    import spark.implicits._
    // The r11 rewrite's claim, pinned RELATIVELY (ADVICE r12: an
    // absolute per-fixture job bound with 1-job headroom is environment
    // noise, not a shape pin): measure the two convergence-check shapes
    // in isolation over the SAME pair of checkpointed canonical edge
    // sets and assert the single-job form costs strictly fewer jobs —
    // each checkpointed set is read once instead of twice.
    val a = (1L to 400L).map(i => (i + 1, i)).toDF("u", "v").localCheckpoint()
    val b = (1L to 400L).map(i => (i + 1, i)).toDF("u", "v").localCheckpoint()
    def countJobs(work: () => Unit): Int = {
      var jobs = 0
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs += 1
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        work()
        // the listener bus is async: poll until the count is stable
        var last = -1
        var spins = 0
        while (jobs != last && spins < 30) { last = jobs; Thread.sleep(100); spins += 1 }
      } finally spark.sparkContext.removeSparkListener(listener)
      jobs
    }
    // the production shape (Dedup.nearDupClustersLss's check verbatim)
    val single = countJobs(() => {
      b.withColumn("t", lit(1))
        .unionByName(a.withColumn("t", lit(-1)))
        .groupBy("u", "v").agg(sum(col("t")).as("s"))
        .filter(col("s") =!= 0)
        .isEmpty: Unit
    })
    // the pre-r11 shape it replaced
    val double = countJobs(() => {
      val fwd = b.exceptAll(a).isEmpty
      val bwd = a.exceptAll(b).isEmpty
      (fwd && bwd): Unit
    })
    info(s"convergence-check jobs: symmetric-difference $single vs two exceptAll $double")
    assert(single < double,
      s"the single-scan check ($single jobs) must undercut the double scan ($double)")
    // and the production kernel still converges correctly on a chain
    val chain = (1L to 60L).sliding(2).map(w => (w(1), w(0))).toSeq.toDF("doc_a", "doc_b")
    val labels = Dedup.nearDupClustersLss(chain).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((1L to 60L).forall(labels(_) == 1L))
  }

  test("ngram auto-selection picks the right strategy from corpus stats") {
    import spark.implicits._
    // real corpus: comfortably inside the pair budget -> inverted index
    val stReal = Dedup.ngramStats(docs)
    info(s"real corpus stats: $stReal")
    assert(Dedup.chooseNgramStrategy(stReal).name === "inverted")
    // saturated tiny vocabulary: even the MEDIAN shingle is hot -> LSH
    var x = 7L
    def nxt(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x >>> 33 }
    val satVocab = (0 until 5).map(i => s"v$i")
    val saturated = (0L until 200L).map { id =>
      (id, Seq.fill(100)(satVocab((nxt() % 5).toInt)).mkString(" "))
    }.toDF("doc_id", "text")
    val stSat = Dedup.ngramStats(saturated)
    info(s"saturated stats: $stSat")
    assert(Dedup.chooseNgramStrategy(stSat).name === "lsh", stSat.toString)
    // heavy tail: a hot shared header over mostly-unique shingles (median
    // df = 1) -> prefix filtering prunes the hot head, stays exact
    val heavy = (0L until 200L).map { id =>
      val unique = (0 until 50).map(k => s"u${id}w$k").mkString(" ")
      (id, s"alpha beta gamma delta epsilon zeta eta theta $unique")
    }.toDF("doc_id", "text")
    val stHeavy = Dedup.ngramStats(heavy)
    info(s"heavy-tail stats: $stHeavy")
    assert(Dedup.chooseNgramStrategy(stHeavy, pairBudgetPerDoc = 100).name === "prefix",
      stHeavy.toString)
    // the auto path returns the EXACT result when an exact strategy is picked
    val auto = Dedup.ngramNearDupsAuto(docs, 0.5).collect().map(_.toSeq).toSet
    val exact = Dedup.ngramNearDups(docs, 0.5).collect().map(_.toSeq).toSet
    assert(auto === exact)
    // the router's LAZY strategy decision (skips percentile/head jobs when
    // the pair budget already decides) must match the full-stats rule on
    // every branch: inverted (under budget), lsh (saturated, broad
    // pairs), prefix (hot head) — same corpora as the stats assertions
    Seq((docs, 512.0), (saturated, 512.0), (heavy, 100.0)).foreach {
      case (corpus, budget) =>
        val expected = Dedup.chooseNgramStrategy(Dedup.ngramStats(corpus), budget)
        val (_, got) = Dedup.ngramNearDupsAutoTagged(corpus, 0.5, budget)
        assert(got === expected, s"lazy route diverged from full-stats rule")
    }
  }

  test("simhash banding on a realistic vocabulary: planted dups found, buckets bounded") {
    import spark.implicits._
    // deterministic corpus over a ~5000-word vocabulary (LCG seeded): the
    // fingerprint is discriminative here, unlike on the tiny-vocab driver
    // corpus where single band buckets swallow everything
    var x = 12345L
    def nxt(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x >>> 33 }
    def word(i: Long): String = s"w${i}q${(i * 31) % 89}"
    val base = (0L until 300L).map { id =>
      id -> Seq.fill(120)(word(nxt() % 5000))
    }
    // planted near-dups: doc 1000+i copies doc i with two words replaced
    val dups = (0L until 10L).map { i =>
      val words = base(i.toInt)._2.toArray
      words(5) = word(nxt() % 5000)
      words(77) = word(nxt() % 5000)
      (1000L + i) -> words.toSeq
    }
    val corpus = (base ++ dups).map { case (id, ws) => (id, ws.mkString(" ")) }
      .toDF("doc_id", "text")

    val got = Dedup.simhashNearDups(corpus, 6)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0L until 10L).map(i => (i, 1000L + i)).toSet
    // separation: every planted pair survives (found well inside the
    // hamming budget), with no random-pair flood
    assert(planted.subsetOf(got), s"missed planted pairs: ${planted -- got}")
    assert((got -- planted).size <= 2, s"false positives: ${got -- planted}")
    // bounded occupancy: on a realistic vocabulary no band bucket comes
    // near the cap, so the deterministic capping drops nothing here
    val maxOcc = corpus
      .select(split(trim(col("text")), "\\s+").as("words"))
      .select(graft.functions.GraftFunctions.simhash64(col("words")).as("simhash"))
      .select(posexplode(array((0 until Dedup.SimhashBands).map(i =>
        shiftrightunsigned(col("simhash"), i * Dedup.SimhashBandBits)
          .bitwiseAND(lit((1L << Dedup.SimhashBandBits) - 1))): _*)))
      .groupBy("pos", "col").count()
      .agg(max("count")).head().getLong(0)
    info(s"max band-bucket occupancy = $maxOcc (cap ${Dedup.SimhashBucketCap})")
    assert(maxOcc <= Dedup.SimhashBucketCap)
  }

  test("simhash: identical collide; near-dups closer than random pairs") {
    val h1 = Dedup.simhash64(Seq("a", "b", "c", "d"))
    val h2 = Dedup.simhash64(Seq("a", "b", "c", "d"))
    assert(h1 === h2)
    // planted near-dups (J>=0.9) must be much closer in hamming space than
    // the corpus average (this synthetic corpus shares one small vocab, so
    // absolute distances are compressed; the separation is the signal)
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq).toMap
    val hashes = texts.map { case (id, t) => id -> Dedup.simhash64(t) }
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(hashes(a) ^ hashes(b))
    val truth = bruteForcePairs(0.9)
    assert(truth.nonEmpty)
    val dupDists = truth.toSeq.map { case (a, b) => dist(a, b) }
    val ids = hashes.keys.toSeq.sorted.take(60)
    val randDists = for (a <- ids; b <- ids if a < b) yield dist(a, b)
    val dupMean = dupDists.sum.toDouble / dupDists.size
    val randMean = randDists.sum.toDouble / randDists.size
    info(f"simhash hamming: near-dup mean=$dupMean%.1f corpus mean=$randMean%.1f")
    assert(dupMean < randMean / 2)
    // the tightest dups (J>=0.95) must sit very close in hamming space
    val tight = bruteForcePairs(0.95).toSeq.map { case (a, b) => dist(a, b) }
    assert(tight.nonEmpty && tight.max <= 8, s"tight pair too far: $tight")
  }

  test("span removal cuts later occurrences only and reassembles the rest") {
    import spark.implicits._
    // tokens t0..t19 are unique; doc 2 embeds doc 1's tokens t4..t15 (a
    // 12-token copied passage -> five dup 8-spans at pos 3..7) between
    // novel heads/tails; doc 3 is a full copy of doc 1
    val t = (0 to 19).map(i => s"t$i")
    val doc1 = t.mkString(" ")
    val doc2 = ("h1 h2 h3 " + t.slice(4, 16).mkString(" ") + " z1 z2 z3 z4 z5")
    val docs = Seq((1L, doc1), (2L, doc2), (3L, doc1)).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs)
      .select("doc_id", "n_tokens", "n_kept", "text_clean")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    // doc 1 is globally first at every span: untouched
    assert(out(1L) === ((1L, 20L, 20L, doc1)))
    // doc 3 (same text, higher id) loses every token
    assert(out(3L) === ((3L, 20L, 0L, "")))
    // doc 2: dup spans start at positions 3..7 (8-grams fully inside the
    // copied t4..t15 run, all present in doc 1), and their union covers
    // positions 3..14 — exactly the 12 copied tokens; heads and tail
    // survive because every span touching them contains novel text
    val kept2 = out(2L)._4.split(" ").toSeq
    assert(out(2L)._2 === 20L)
    assert(kept2 === Seq("h1", "h2", "h3", "z1", "z2", "z3", "z4", "z5"),
      s"doc 2 kept: $kept2")
  }

  test("CDC: boundaries resynchronize after an edit; chunks tile the doc") {
    import spark.implicits._
    val text = ("the quick brown fox jumps over the lazy dog and then " * 8).trim
    val edited = "INSERTED! " + text
    val bounds = graft.operators.Dedup.cdcBoundaries(text)
    val boundsE = graft.operators.Dedup.cdcBoundaries(edited)
    assert(bounds.length > 2, "fixture must produce several chunks")
    // every original boundary reappears shifted by the insertion length —
    // the content-defined property fixed-size blocking lacks
    val shift = "INSERTED! ".length
    val resync = bounds.count(b => boundsE.contains(b + shift))
    assert(resync >= bounds.length - 1, s"resync $resync of ${bounds.length}")

    // end-to-end: a shifted copy shares all but its edited head chunks
    val docs = Seq((0L, text),
      (50L, ("unrelated content entirely different words here " * 6).trim))
      .toDF("doc_id", "text")
    val shifted = Seq((3000000L, "edited: " + text)).toDF("doc_id", "text")
    val out = graft.operators.Dedup.cdcChunks(docs.unionByName(shifted)).collect()
    val copyChunks = out.filter(_.getLong(0) == 3000000L)
    assert(copyChunks.count(_.getBoolean(5)) >= copyChunks.length - 2,
      s"shifted copy must share all but its edited head chunk: " +
        s"${copyChunks.count(_.getBoolean(5))}/${copyChunks.length}")
    // chunk lists tile each document exactly (no gaps, no overlaps)
    out.groupBy(_.getLong(0)).foreach { case (id, rows) =>
      val sorted = rows.sortBy(_.getInt(1))
      var expectStart = 1
      sorted.foreach { r =>
        assert(r.getInt(2) === expectStart, s"doc $id chunk ${r.getInt(1)} gap")
        expectStart += r.getInt(3)
      }
    }
  }

  test("gate fused-pairs join builds a hash table on the bounded batch side") {
    // round-14 plan pin: the fused postings join must run as a
    // SHUFFLED HASH join with the micro-batch postings as the build side
    // (guide §3.1 — the corpus side grows with the index and must only
    // stream past; a silent regression to sort-merge re-sorts the stored
    // corpus postings every micro-batch). The hint is load-bearing, so a
    // plan flip must fail loudly here, not show up as a bench regression.
    val sigs = docs.limit(50)
      .select(col("doc_id"), shingles(col("text")).as("sh"))
    val fused = Dedup.gateFusedExactPairs(spark, None, sigs, 0.5)
    val plan = fused.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"fused gate join lost its shuffled-hash build:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"fused gate join regressed to sort-merge:\n$plan")
  }
}
