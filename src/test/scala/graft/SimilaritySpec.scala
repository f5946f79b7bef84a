package graft

import graft.engine.Scratch
import graft.operators.Similarity
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ANN quality gates: LSH and IVF recall measured against the brute-force
  * exact top-k on sf0.001. */
class SimilaritySpec extends SparkSpec {

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
  private lazy val queries = emb.filter(col("vec_id") < 20)

  private def neighborSets(df: DataFrame): Map[Long, Set[Long]] =
    df.select("q_id", "n_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  test("cosine column matches a scala-side computation") {
    val row = emb.limit(2).select("embedding").collect()
    val (a, b) = (row(0).getSeq[Float](0), row(1).getSeq[Float](0))
    val expected = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    import spark.implicits._
    val got = Seq((a, b)).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b"))).head().getDouble(0)
    assert(math.abs(got - expected) < 1e-12)
  }

  test("brute-force top-k is exact and deterministic") {
    val t1 = Similarity.bruteForceTopK(emb, queries, 10).collect().map(_.toSeq)
    val t2 = Similarity.bruteForceTopK(emb, queries, 10).collect().map(_.toSeq)
    assert(t1.sameElements(t2))
    assert(t1.length === 20 * 10)
  }

  test("IVF recall beats its scan fraction (the index earns its keep)") {
    val nprobe = 5
    val nlists = emb.select("label").distinct().count().toInt
    val truth = neighborSets(Similarity.bruteForceTopK(emb, queries, 10))
    val ivf = neighborSets(Similarity.ivfTopK(emb, queries, "label", 10, nprobe))
    val recalls = truth.map { case (q, t) => ivf.getOrElse(q, Set.empty).intersect(t).size / 10.0 }
    val mean = recalls.sum / recalls.size
    val scanFraction = nprobe.toDouble / nlists
    info(f"IVF mean recall@10 = $mean%.2f at scan fraction $scanFraction%.2f")
    // random-scanning nprobe/nlists of the corpus would get ~scanFraction
    // recall; the centroid routing must do meaningfully better
    assert(mean >= scanFraction + 0.1, f"IVF recall $mean%.2f")
  }

  test("k-means-trained IVF lists: deterministic, and recall beats scan fraction") {
    val k = 8
    val assigned = Similarity.kmeansAssign(emb, k, 2)
    // the assign stage is a narrow map over literal centroids: its plan
    // must contain NO exchange (the old crossJoin+window shuffled N*k rows)
    val assignPlan = assigned.queryExecution.executedPlan.toString
    assert(!assignPlan.contains("Exchange"), s"assign stage shuffles:\n$assignPlan")
    val again = Similarity.kmeansAssign(emb, k, 2)
    assert(assigned.orderBy("vec_id").collect().map(_.toSeq).toSeq ===
      again.orderBy("vec_id").collect().map(_.toSeq).toSeq)
    // round-14 seed-sharing equality: a caller-precomputed iteration-0
    // centroid set (q_ann_recall pays the seed aggregation once for both
    // trainers) must be assignment-identical to the default path, for
    // BOTH the flat and the hierarchical trainer
    val seed0 = Similarity.collectCentroids(
      emb.select(col("vec_id"), col("embedding"))
        .withColumn("list_id", pmod(col("vec_id"), lit(k.toLong))))
    val seeded = Similarity.kmeansAssign(emb, k, 2, Some(seed0))
    assert(assigned.orderBy("vec_id").collect().map(_.toSeq).toSeq ===
      seeded.orderBy("vec_id").collect().map(_.toSeq).toSeq,
      "seed0-shared flat assignment diverged from the default path")
    val hierDefault = Similarity.kmeansAssignHier(emb, k, 2)
    val hierSeeded = Similarity.kmeansAssignHier(emb, k, 2, seed0 = Some(seed0))
    assert(hierDefault.orderBy("vec_id").collect().map(_.toSeq).toSeq ===
      hierSeeded.orderBy("vec_id").collect().map(_.toSeq).toSeq,
      "seed0-shared hier assignment diverged from the default path")
    val nLists = assigned.select("list_id").distinct().count()
    assert(nLists >= 2 && nLists <= k)

    val corpus = emb.drop("label")
      .join(assigned.select(col("vec_id"), col("list_id")), Seq("vec_id"))
    val nprobe = 3
    val truth = neighborSets(Similarity.bruteForceTopK(emb, queries, 10))
    val queriesWithList = corpus.filter(col("vec_id") < 20)
    val ivf = neighborSets(
      Similarity.ivfTopK(corpus, queriesWithList, "list_id", 10, nprobe))
    val recalls = truth.map { case (q, t) => ivf.getOrElse(q, Set.empty).intersect(t).size / 10.0 }
    val mean = recalls.sum / recalls.size
    info(f"trained-IVF mean recall@10 = $mean%.2f at nprobe=$nprobe/$nLists lists")
    assert(mean > nprobe.toDouble / nLists)
  }

  test("LSH: multi-probe recall >= 0.6 at a sub-linear candidate fraction") {
    val truth = neighborSets(Similarity.bruteForceTopK(emb, queries, 10))
    val lsh = neighborSets(Similarity.lshTopK(emb, queries, 10))
    val recalls = truth.map { case (q, t) => lsh.getOrElse(q, Set.empty).intersect(t).size / 10.0 }
    val mean = recalls.sum / recalls.size
    // measured candidate fraction: distinct (q, n) pairs / (queries * corpus)
    val c = Similarity.lshKeys(emb)
      .select(col("tbl"), col("bucket"), col("vec_id").as("n_id"))
    val q = Similarity.lshProbeKeys(queries)
      .select(col("tbl"), col("bucket"), col("vec_id").as("q_id"))
    val nCands = c.join(q, Seq("tbl", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "n_id").distinct().count()
    val frac = nCands.toDouble / (queries.count() * emb.count())
    info(f"LSH mean recall@10 = $mean%.2f at candidate fraction $frac%.3f")
    assert(mean >= 0.6, f"LSH recall $mean%.2f (gate 0.6)")
    assert(frac <= 0.5, f"candidate fraction $frac%.3f is not sub-linear")
    // per-(table,bucket) occupancy stays small vs the corpus
    val maxBucket = Similarity.lshKeys(emb).groupBy("tbl", "bucket").count()
      .agg(max("count")).head().getLong(0)
    assert(maxBucket < emb.count() / 8)
  }

  test("LSH near-dup blocking finds every planted near-duplicate vector") {
    import spark.implicits._
    // plant perturbed copies (cosine ~0.99) of 10 corpus vectors — the
    // test embeddings themselves contain no true near-dups (max within-
    // label cosine ~0.5), which is exactly why label blocking is not the
    // production path
    val base = emb.filter(col("vec_id") < 10)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    val planted = base.map { case (id, e) =>
      (id + 100000L, e.zipWithIndex.map { case (x, i) => x + (if (i % 7 == 0) 0.01f else 0f) })
    }
    val corpus = emb.select("vec_id", "embedding")
      .unionByName(planted.toSeq.toDF("vec_id", "embedding"))
    val got = Similarity.lshNearDups(corpus, 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 10L).map(i => (i, i + 100000L)).toSet
    assert(expected.subsetOf(got), s"missed planted pairs: ${expected -- got}")
    // precision guard: random-vector pairs do not reach cosine 0.9
    assert((got -- expected).isEmpty, s"unexpected pairs: ${got -- expected}")
  }

  test("ANN plan: no exchange carries an embedding array (scalar keys only)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    // AQE wraps the tree pre-execution; inspect the real plan with AQE off
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Similarity.lshTopK(emb, queries, 10).queryExecution.executedPlan
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.nonEmpty, "expected dedup/rank shuffles in the ANN plan")
      exchanges.foreach { e =>
        assert(!e.output.exists(_.dataType.isInstanceOf[ArrayType]),
          s"exchange carries an array column: ${e.output.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(", ")}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("PQ: training cuts quantization error; ADC recall is usable and deterministic") {
    val seedBooks = Similarity.pqSeedCodebooks(emb)
    val trained = Similarity.pqTrainCodebooks(emb, 2)
    def meanErr(books: Seq[Seq[Array[Double]]]): Double = {
      val r = Similarity.pqEncode(emb, books).agg(avg(col("qerr"))).head().getDouble(0)
      r
    }
    val (seedErr, trainedErr) = (meanErr(seedBooks), meanErr(trained))
    info(f"PQ mean quantization error: seeds $seedErr%.4f -> trained $trainedErr%.4f")
    // Lloyd iterations can only reduce the summed assignment distance
    assert(trainedErr <= seedErr + 1e-9,
      f"training worsened quantization error: $seedErr%.4f -> $trainedErr%.4f")

    // embeddings are unit vectors (asserted in the oracle data), so the
    // ADC L2 ranking approximates the cosine ranking brute force uses
    val truth = neighborSets(Similarity.bruteForceTopK(emb, queries, 10))
    val pq = neighborSets(Similarity.pqTopK(emb, queries, trained, 10))
    def meanRecall(got: Map[Long, Set[Long]]): Double = {
      val rs = truth.map { case (q, t) => got.getOrElse(q, Set.empty).intersect(t).size / 10.0 }
      rs.sum / rs.size
    }
    val adc = meanRecall(pq)
    info(f"PQ pure-ADC mean recall@10 = $adc%.2f (8 bytes/vector vs 256)")
    assert(adc >= 0.3, f"pure-ADC recall $adc%.2f below gate")
    // the production shape: ADC shortlist (5k codes-only candidates), then
    // exact re-rank of the shortlist — recall recovers while the exact
    // scan stays at refine*k rows per query
    val refined = meanRecall(neighborSets(
      Similarity.pqTopKRefined(emb, queries, trained, 10, refine = 5)))
    info(f"PQ ADC+rerank mean recall@10 = $refined%.2f at 50 exact rows/query")
    assert(refined >= 0.7, f"refined recall $refined%.2f below gate")

    val t1 = Similarity.pqTopK(emb, queries, trained, 10).collect().map(_.toSeq)
    val t2 = Similarity.pqTopK(emb, queries, trained, 10).collect().map(_.toSeq)
    assert(t1.sameElements(t2), "ADC ranking must be deterministic")
  }

  /** Squared-L2 distances of subspace `m` of `vd` (a double-array
    * column) to each code vector of `book`, rounded to 6dp: the
    * expression form the JVM encode replaced. */
  private def pqDists(vd: Column, m: Int, book: Seq[Array[Double]]): Column =
    array(book.map { cvec =>
      round(aggregate(zip_with(slice(vd, m * Similarity.PqSub + 1, Similarity.PqSub),
        lit(cvec), (x, y) => (x - y) * (x - y)), lit(0.0), (s, x) => s + x), 6)
    }: _*)

  test("PQ closure encode matches the expression encode code for code") {
    // pqEncode (and so the ADC corpus scan) encodes JVM-side; the
    // expression argmin and decimal error sum below are the reference —
    // codes and qerr must agree exactly on the seed and trained books
    val vd = transform(col("embedding"), x => x.cast("double"))
    for (books <- Seq(Similarity.pqSeedCodebooks(emb), Similarity.pqTrainCodebooks(emb, 1))) {
      val codes = (0 until Similarity.PqM).map { m =>
        val d = pqDists(vd, m, books(m))
        (array_position(d, array_min(d)) - 1).cast("int")
      }
      val qerr = (0 until Similarity.PqM).map { m =>
        array_min(pqDists(vd, m, books(m))).cast("decimal(18,6)")
      }.reduce(_ + _)
      def rows(df: DataFrame) = df.select(col("vec_id"), col("codes"), col("qerr")).collect()
        .map(r => r.getLong(0) -> (r.getSeq[Int](1).toSeq, r.getDouble(2))).toMap
      val expr = rows(emb.select(col("vec_id"), array(codes: _*).as("codes"),
        round(qerr.cast("double"), 6).as("qerr")))
      assert(expr.size === 500)
      assert(rows(Similarity.pqEncode(emb, books)) === expr)
    }
  }

  test("a new centroid set compiles no new class: the kernel holds centroids as data") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // two centroid sets of the same k with different ids AND values: the
    // assign plans the same code text for both, so once warm the second
    // set compiles nothing (inlined `lit(-id)` literals recompiled)
    val vecs = emb.orderBy("vec_id").limit(20)
      .select(col("embedding").cast("array<double>")).collect().map(_.getSeq[Double](0).toArray)
    val a = vecs.take(10).zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq
    val b = vecs.drop(10).zipWithIndex.map { case (v, i) => (1000L + 7 * i, v) }.toSeq
    def assign(cents: Seq[(Long, Array[Double])]) =
      Similarity.kmeansAssign(emb, 10, 1, Some(cents)).collect()
    assign(a); assign(a)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val lists = assign(b).map(_.getLong(2)).toSet
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before === 0)
    assert(lists.subsetOf(b.map(_._1).toSet) && lists.size > 1)
  }

  test("PQ plan: corpus scan is narrow and no exchange carries an array") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val books = Similarity.pqSeedCodebooks(emb)
      val plan = Similarity.pqTopK(emb, queries, books, 10).queryExecution.executedPlan
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.nonEmpty, "expected the rank shuffle")
      exchanges.foreach { e =>
        assert(!e.output.exists(_.dataType.isInstanceOf[ArrayType]),
          s"exchange carries an array: ${e.output.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(", ")}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("semantic dedup: every planted near-identical vector collapses to its original") {
    import spark.implicits._
    // plant a near-identical copy of every 5th vector: nudge one component
    // by 1e-3 — cosine vs the original stays > 0.999 while every other
    // pair in the random corpus sits far below the 0.99 threshold
    val planted = emb.filter(col("vec_id") % 5 === 0)
      .withColumn("vec_id", col("vec_id") + 100000L)
      .withColumn("embedding",
        concat(array((col("embedding")(0) + lit(0.001f)).cast("float")),
          slice(col("embedding"), 2, 63)))
    val corpus = emb.select("vec_id", "embedding")
      .unionByName(planted.select("vec_id", "embedding"))
    val out = Similarity.semanticDedup(corpus, k = 8, iters = 2, threshold = 0.99)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val plantedIds = planted.select("vec_id").as[Long].collect()
    plantedIds.foreach { id =>
      assert(out(id) === ((id - 100000L, false)),
        s"planted copy $id should collapse onto ${id - 100000L}, got ${out(id)}")
      assert(out(id - 100000L) === ((id - 100000L, true)),
        s"original ${id - 100000L} should be the kept representative")
    }
    // no false merges: everything unplanted survives as its own rep
    out.keys.filter(_ < 100000L).filterNot(id => plantedIds.contains(id + 100000L))
      .foreach(id => assert(out(id) === ((id, true)), s"vector $id falsely merged"))
    // and the pair-candidate exchanges carry scalars, not embeddings
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Similarity.semanticDedup(corpus, 8, 1, 0.99)
        .queryExecution.executedPlan
      plan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
        assert(!e.output.exists(_.dataType.isInstanceOf[ArrayType]),
          s"exchange carries an array: ${e.output.map(_.name).mkString(",")}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("persisted ANN index: point lookup equals in-memory lshTopK and prunes the scan") {
    import spark.implicits._
    val dir = tempDir("graft_ann_idx_spec") + "/idx"
    Similarity.writeAnnIndex(emb, dir)
    val q = emb.filter(col("vec_id") === 7L)
    val qEmb = q.select("embedding").as[Array[Float]].head()
    val got = Similarity.annLookup(spark, dir, qEmb, 10, excludeId = 7L)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Similarity.lshTopK(emb, q, 10).orderBy("rank")
      .collect().map(r => (r.getAs[Long]("n_id"), r.getAs[Double]("score"))).toSeq
    assert(got === want, s"index lookup diverged from in-memory ANN:\n$got\n$want")
    // pruning posture: each per-table read pushes the literal bucket IN
    // predicate into the parquet scan (path selection already pruned tbl)
    val plan = Similarity.annLookup(spark, dir, qEmb, 10, 7L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("In(bucket"), s"bucket predicate not pushed:\n$plan")
  }

  test("semDedup: flagged iff a lower-id same-cluster partner is within tau") {
    val tau = 0.35
    val got = Similarity.semDedup(emb, k = 16, tau = tau)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.length === emb.count())
    // brute-force re-derivation: same seeds, same rounded argmax, then
    // exhaustive within-cluster pair check
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val seeds = vecs.take(16)
    val cluster = vecs.map { case (id, v) =>
      id -> seeds.map { case (sid, sv) => (r6(cos(v, sv)), -sid) }.max._2.unary_-
    }.toMap
    val byId = vecs.toMap
    got.foreach { case (id, cl, dup) =>
      assert(cl === cluster(id), s"vec $id assigned $cl, expected ${cluster(id)}")
      val expectDup = vecs.exists { case (other, ov) =>
        other < id && cluster(other) == cl && r6(cos(ov, byId(id))) >= tau
      }
      assert(dup === expectDup, s"vec $id is_dup=$dup, expected $expectDup")
    }
    assert(got.count(_._3) > 0, "expected at least one semantic duplicate at sf0.001")
  }

  test("semDedupHier: two-level assignment tracks exact, planted copies collapse") {
    val exact = Similarity.semDedup(emb, 16, 0.35)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hier = Similarity.semDedupHier(emb, 16, 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(hier.length === exact.size)
    // routed assignment must agree with the exact argmax for most
    // vectors (the cells are learned from the seeds themselves, so only
    // boundary vectors can be mis-routed)
    val agree = hier.count { case (id, cl, _) => exact(id) == cl }
    assert(agree.toDouble / hier.length >= 0.7,
      s"two-level assignment agreement ${agree.toDouble / hier.length}")
    // a planted exact copy routes WITH its original (identical vector ->
    // identical routing) and must be flagged whatever the cell shapes are
    val copies = emb.filter(col("vec_id") < 3)
      .withColumn("vec_id", col("vec_id") + 100000L)
    val withCopies = Similarity.semDedupHier(emb.unionByName(copies), 16, 0.35)
      .filter(col("vec_id") >= 100000L).collect()
    assert(withCopies.length === 3)
    assert(withCopies.forall(_.getBoolean(2)), "planted copies must be flagged")
  }

  test("kmeansAssignHier tracks the flat Lloyd assign; identical vectors co-route") {
    import spark.implicits._
    val flat = Similarity.kmeansAssign(emb, 16, 2)
      .select(col("vec_id"), col("list_id").as("l_f"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hier = Similarity.kmeansAssignHier(emb, 16, 2)
      .select(col("vec_id"), col("list_id").as("l_h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // one row per vector, none dropped by the routing joins
    assert(hier.length === flat.size)
    // routed assignment agrees with the exact argmax for most vectors
    // (only boundary vectors can mis-route — the semDedupHier bound)
    val agree = hier.count { case (id, l) => flat(id) == l }
    assert(agree.toDouble / hier.length >= 0.7,
      s"two-level lloyd agreement ${agree.toDouble / hier.length}")
    // planted exact copies route WITH their originals whatever the cells
    val copies = emb.filter(col("vec_id") < 3)
      .withColumn("vec_id", col("vec_id") + 100000L)
    val withCopies = Similarity.kmeansAssignHier(emb.unionByName(copies), 16, 2)
      .select("vec_id", "list_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 3L).foreach { id =>
      assert(withCopies(id + 100000L) === withCopies(id),
        s"copy of $id routed to a different list")
    }
    // empty corpus: no lists, no rows, no crash
    val emptyEmb = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.kmeansAssignHier(emptyEmb, 8, 2).count() === 0)
  }

  test("embedOutliers flags a planted anti-parallel vector, skips small classes") {
    import spark.implicits._
    // label 0: ten tight vectors around e0 plus one anti-parallel plant;
    // label 1: two vectors only (n < 3 -> z undefined -> skipped)
    val tight = (0 until 10).map { i =>
      (i.toLong, Array(1.0f, 0.01f * i, 0.0f, 0.0f), 0)
    }
    val planted = Seq((99L, Array(-1.0f, 0.0f, 0.0f, 0.0f), 0))
    val small = Seq((200L, Array(0.0f, 1.0f, 0.0f, 0.0f), 1),
      (201L, Array(0.0f, 0.9f, 0.1f, 0.0f), 1))
    val emb = (tight ++ planted ++ small).toDF("vec_id", "embedding", "label")
    val out = Similarity.embedOutliers(emb, 2.0).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(99L),
      "exactly the planted anti-parallel vector is an outlier")
    assert(out.head.getDouble(3) < -2.0, "plant sits below -2 sigma")
  }

  test("kCenterSelect greedy farthest-first matches a driver replay; radius non-increasing") {
    import spark.implicits._
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    // four clusters on distinct axes + jitter; greedy must visit all four
    // axes before refining within a cluster
    val vecs = (0 until 4).flatMap { axis =>
      (0 until 5).map { j =>
        val v = Array.fill(4)(0.02f * j)
        v(axis) = 1.0f
        ((axis * 5 + j).toLong, v)
      }
    }
    val got = Similarity.kCenterSelect(vecs.toDF("vec_id", "embedding"), 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // round-14 fast-path equality: the driver fast path (default budget)
    // must be BIT-IDENTICAL to the forced-distributed running-min loop
    // (budget = 0) — the nearDupClusters discipline
    val forced = Similarity.kCenterSelect(
      vecs.toDF("vec_id", "embedding"), 6, driverRowBudget = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === forced.toSeq,
      "kCenterSelect driver fast path diverged from the distributed loop")
    // a null embedding slot reads as 0.0 on both paths (cosineSim's
    // primitive read), where the driver path used to throw a MatchError;
    // an all-null embedding is a zero vector, whose NaN cosine both paths
    // carry through round() and never fold into a distance
    val withNullSlot = vecs.map { case (id, v) => (id, v.map(x => x: java.lang.Float)) } ++
      Seq((100L, Array[java.lang.Float](null, 0.5f, null, -1.0f)),
        (101L, Array[java.lang.Float](null, null, null, null)))
    val nullSlotDf = withNullSlot.toDF("vec_id", "embedding")
    assert(Similarity.kCenterSelect(nullSlotDf, 6).collect().toSeq ===
      Similarity.kCenterSelect(nullSlotDf, 6, driverRowBudget = 0L).collect().toSeq)
    // driver replay of the exact greedy rule
    val byId = vecs.toMap
    var sel = Vector(vecs.map(_._1).min)
    while (sel.size < 6) {
      val next = vecs.filter(v => true).map { case (id, v) =>
        val d = sel.map(s => 1.0 - r6(cos(v, byId(s)))).min
        (d, id)
      }.maxBy { case (d, id) => (d, -id) }
      sel :+= next._2
    }
    assert(got.map(_._2).toSeq === sel)
    // the four axis clusters are all covered within the first four picks
    assert(got.take(4).map(_._2 / 5).toSet.size === 4)
    // coverage radius never increases after the seed sentinel
    val ds = got.drop(1).map(_._3)
    assert(ds.zip(ds.drop(1)).forall { case (a, b) => a >= b })
  }

  test("persisted IVF probe equals the self-contained ivfTopK and prunes partitions") {
    import org.apache.spark.sql.functions._
    val emb = graft.engine.Tables.embeddings(spark, sf0001)
    val corpus = emb.filter(col("vec_id") % 2 === 0)
    val queries = emb.filter(col("vec_id") % 2 =!= 0 && col("vec_id") < 40)
    val root = tempDir("graft_ivf_spec")

    Similarity.writeIvfIndex(spark, corpus, root, 10, 2)
    val probed = Similarity.ivfProbeIndex(spark, root, queries, 10, 4)

    // result parity: training is deterministic, so probing the persisted
    // lists must reproduce the in-memory ivfTopK over the same assignment
    val assigned = Similarity.kmeansAssignHier(corpus, 10, 2)
    val expected = Similarity.ivfTopK(assigned, queries, "list_id", 10, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    val got = probed
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    assert(got.nonEmpty)
    assert(got.toSeq === expected.toSeq)

    // scale shape: the list scan must be pruned by PARTITION filter on
    // list_id (directory-level pruning — the probe never reads the whole
    // index), and no embedding array may cross an exchange
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("list_id"), plan)

    // snapshot protocol: retraining publishes a NEW version atomically
    val snap = new graft.engine.Snapshot(spark, root)
    assert(snap.currentVersion() === Some("v_0"))
    Similarity.writeIvfIndex(spark, corpus, root, 10, 2)
    assert(snap.currentVersion() === Some("v_1"))
    Scratch.rmTree(new java.io.File(root))
  }

  test("pca: power iteration finds the dominant axis of a diagonal scatter") {
    import graft.operators.Spectral
    // scatter = diag(5e6, 1e6, 0...): the top component is e0; after 6
    // steps the off-axis residue is (1/5)^6 of the start
    val scatter = Array.fill(Spectral.Dim * Spectral.Dim)(BigInt(0))
    scatter(0) = BigInt(5000000L)
    scatter(Spectral.Dim + 1) = BigInt(1000000L)
    val (v, eig) = Spectral.powerIteration(scatter)
    assert(v(0) === 1000000L)
    assert(v(1) > 0L && v(1) < 100L, s"off-axis residue too large: ${v(1)}")
    assert(v.drop(2).forall(_ === 0L))
    assert(eig >= 4999990L && eig <= 5000000L, s"eig=$eig")
    // sign-symmetric integer division
    assert(Spectral.halfDiv(BigInt(7), BigInt(2)) === BigInt(4))
    assert(Spectral.halfDiv(BigInt(-7), BigInt(2)) === BigInt(-4))
    assert(Spectral.halfDiv(BigInt(-6), BigInt(4)) === BigInt(-2))
    // end to end: a unit-ish direction comes back (||v|| within rounding
    // of 1e6) and the eigenvalue is positive
    val out = graft.operators.Spectral.qPca(spark, sf0001).collect()
    assert(out.length === Spectral.Dim)
    val norm2 = out.map(r => r.getLong(1) * r.getLong(1)).sum
    assert(math.abs(norm2 - 1000000000000L) < 3000000000L, s"norm2=$norm2")
    assert(out.head.getLong(2) > 0L)
  }

  test("abtt: projection removal is pythagorean and shrinks every vector") {
    import graft.operators.Spectral
    import org.apache.spark.sql.functions.col
    val emb = graft.engine.Tables.embeddings(spark, sf0001)
    val (mean, loadings, _) = Spectral.fit(
      graft.engine.Tables.rebalance(emb, "vec_id"))
    val den = loadings.map(v => BigInt(v) * BigInt(v)).sum
    val out = Spectral.qAbtt(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    assert(out.size === vecs.length)
    vecs.foreach { case (id, e) =>
      val c = Array.tabulate(Spectral.Dim)(j => Spectral.micros(e(j).toDouble) - mean(j))
      val cNorm2 = c.map(x => x.toDouble * x.toDouble).sum
      val (proj, resid) = out(id)
      // ||c||^2 == proj^2 + resid^2 within per-component rounding noise
      val lhs = proj.toDouble * proj + resid.toDouble * resid
      assert(math.abs(lhs - cNorm2) <= 0.02 * cNorm2 + 1e6,
        s"vec $id not pythagorean: $lhs vs $cNorm2")
      // removal never grows the vector
      assert(resid.toDouble <= math.sqrt(cNorm2) + 1.0)
    }
    // the corpus projects NON-trivially on its own top component
    assert(vecs.map(v => math.abs(out(v._1)._1)).max > 0L)
  }

  test("ann auto-router: decision table, exact route equality, forced-route recall floors") {
    import graft.operators.{Similarity => S}
    import org.apache.spark.sql.functions.col
    // decision table: cheapest family whose gated recall floor meets the
    // target; small corpora always go exact
    assert(S.chooseAnnStrategy(5000, 0.9) === S.AnnExact)
    assert(S.chooseAnnStrategy(1000000, 0.5) === S.AnnIvf)
    assert(S.chooseAnnStrategy(1000000, 0.58) === S.AnnLsh)
    assert(S.chooseAnnStrategy(1000000, 0.9) === S.AnnHnsw)
    val emb = graft.engine.Tables.embeddings(spark, sf0001)
    val panel = emb.filter(col("vec_id") < 20)
    val k = 10
    // the declared route at gate scale: exact, row-identical to q_topk's
    // brute force
    val (auto, tag) = S.annTopKAutoTagged(emb, panel, k)
    assert(tag === S.AnnExact)
    val exact = S.bruteForceTopK(emb, panel, k)
    assert(auto.collect().toSet === exact.collect().toSet)
    val truth = exact.select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // force each approximate route (exactCorpusMax = 0) and hold it to
    // its own driver-gated recall floor against the same ground truth
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (truth & got).size.toDouble / truth.size
    }
    val (ivf, tIvf) = S.annTopKAutoTagged(emb, panel, k, 0.5, exactCorpusMax = 0)
    assert(tIvf === S.AnnIvf)
    assert(recall(ivf) >= 0.55, s"forced IVF recall ${recall(ivf)}")
    val (lsh, tLsh) = S.annTopKAutoTagged(emb, panel, k, 0.58, exactCorpusMax = 0)
    assert(tLsh === S.AnnLsh)
    assert(recall(lsh) >= 0.6, s"forced LSH recall ${recall(lsh)}")
    val (hnsw, tH) = S.annTopKAutoTagged(emb, panel, k, 0.9, exactCorpusMax = 0)
    assert(tH === S.AnnHnsw)
    assert(recall(hnsw) >= 0.7, s"forced HNSW recall ${recall(hnsw)}")
    // every route emits the unified deterministic frame
    Seq(auto, ivf, lsh, hnsw).foreach(df =>
      assert(df.columns.toSeq === Seq("q_id", "rank", "n_id", "score")))
    // a null query embedding and a null corpus embedding yield no rows in
    // any arm; every arm's lists stay gap-free, ranked, self-free
    def nullRow(id: Long) = emb.limit(1).withColumn("vec_id", lit(id))
      .withColumn("embedding", lit(null).cast(emb.schema("embedding").dataType))
    val (nullQ, nullC) = (900001L, 900002L)
    val corpusN = emb.unionByName(nullRow(nullC))
    val panelN = panel.unionByName(nullRow(nullQ))
    Seq(("exact", 0.9, S.AnnExactCorpusMax), ("ivf", 0.5, 0L), ("lsh", 0.58, 0L),
        ("hnsw", 0.9, 0L)).foreach { case (arm, target, exactMax) =>
      val (out, tag) = S.annTopKAutoTagged(corpusN, panelN, k, target, exactMax)
      assert(tag.name === arm)
      val rows = out.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))
      assert(!rows.exists(_._1 == nullQ), s"$arm: rows for the null query")
      assert(!rows.exists(_._3 == nullC), s"$arm: the null corpus row was returned")
      assert(rows.forall(_._4.isDefined), s"$arm: a NULL score")
      assert(rows.forall(r => r._1 != r._3), s"$arm: a self-match")
      rows.groupBy(_._1).foreach { case (q, rs) =>
        val ranked = rs.sortBy(_._2)
        assert(ranked.map(_._2).toSeq === (1L to rs.length.toLong), s"$arm q=$q: rank gaps")
        ranked.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
          assert(a._4.get > b._4.get || (a._4.get == b._4.get && a._3 < b._3),
            s"$arm q=$q: rank ${a._2} ($a) before rank ${b._2} ($b)")
        }
      }
    }
  }

  test("abtt_k: sequential top-3 removal is pythagorean and dominates top-1 removal") {
    import graft.operators.Spectral
    import org.apache.spark.sql.functions.col
    val emb = graft.engine.Tables.embeddings(spark, sf0001)
    val (mean, _, _) = Spectral.fit(
      graft.engine.Tables.rebalance(emb, "vec_id"))
    val one = Spectral.qAbtt(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val out = Spectral.qAbttK(spark, sf0001).collect()
    assert(out.length === one.size)
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    out.foreach { r =>
      val id = r.getLong(0)
      // the FIRST removal is the same component qAbtt removes
      assert(r.getLong(1) === one(id)._1,
        s"vec $id: proj0 ${r.getLong(1)} != single-component proj ${one(id)._1}")
      // removing three components never leaves MORE energy than one
      assert(r.getLong(4) <= one(id)._2 + 2,
        s"vec $id: 3-component residual ${r.getLong(4)} > top-1 residual ${one(id)._2}")
      // pythagoras across the sequence: ||c||² == Σ projᵢ² + resid²
      // within per-coordinate rounding noise of 3 sequential removals
      val c = Array.tabulate(Spectral.Dim)(j =>
        Spectral.micros(vecs(id)(j).toDouble) - mean(j))
      val cNorm2 = c.map(x => x.toDouble * x.toDouble).sum
      val lhs = (1 to 3).map(i => r.getLong(i).toDouble * r.getLong(i)).sum +
        r.getLong(4).toDouble * r.getLong(4)
      assert(math.abs(lhs - cNorm2) <= 0.05 * cNorm2 + 1e6,
        s"vec $id not pythagorean: $lhs vs $cNorm2")
    }
  }

  test("pca_k: rank-1 deflation recovers a known spectrum in order") {
    import graft.operators.Spectral
    // scatter = diag(5e12, 2e12, 1e12, 0...): deflation must find e0,
    // e1, e2 in decreasing-eigenvalue order, each axis-aligned
    val scatter = Array.fill(Spectral.Dim * Spectral.Dim)(BigInt(0))
    scatter(0) = BigInt(5000000000000L)
    scatter(Spectral.Dim + 1) = BigInt(2000000000000L)
    scatter(2 * Spectral.Dim + 2) = BigInt(1000000000000L)
    val comps = Spectral.deflatedComponents(scatter, 3)
    assert(comps.length === 3)
    val eigs = comps.map(_._2)
    assert(eigs(0) > eigs(1) && eigs(1) > eigs(2), s"eigs not decreasing: $eigs")
    assert(math.abs(eigs(0) - 5000000000000L) < 1000000000L, s"eig0=${eigs(0)}")
    assert(math.abs(eigs(1) - 2000000000000L) < 1000000000L, s"eig1=${eigs(1)}")
    assert(math.abs(eigs(2) - 1000000000000L) < 1000000000L, s"eig2=${eigs(2)}")
    // each component is (near-)axis-aligned on its own axis
    Seq(0, 1, 2).foreach { c =>
      val v = comps(c)._1
      assert(math.abs(v(c)) > 990000L, s"component $c not on axis $c: ${v(c)}")
      // 6 power steps leave a few percent of cross-axis residue (the
      // deflation is rounded and the later gaps are smaller): <6% off-axis
      (0 until Spectral.Dim).filter(_ != c).foreach(j =>
        assert(math.abs(v(j)) < 60000L, s"component $c leaks onto dim $j: ${v(j)}"))
    }
    // end to end: component 0 of q_pca_k equals q_pca's direction
    val k = Spectral.qPcaK(spark, sf0001).collect()
    assert(k.length === 3 * Spectral.Dim)
    val single = Spectral.qPca(spark, sf0001).collect().map(_.getLong(1))
    val comp0 = k.filter(_.getInt(0) == 0).sortBy(_.getInt(1)).map(_.getLong(2))
    assert(comp0.toSeq === single.toSeq,
      "q_pca_k component 0 must equal the single-component q_pca direction")
    // the synthetic corpus has a near-FLAT spectrum (random embeddings),
    // so strict ordering between near-tied eigenvalues isn't guaranteed
    // by 6 power steps; the honest invariants are positivity, top-
    // component dominance, and near-orthogonality of the recovered set
    val kEigs = (0 until 3).map(c => k.filter(_.getInt(0) == c).head.getLong(3))
    assert(kEigs.forall(_ > 0L), s"corpus eigs: $kEigs")
    assert(kEigs(0) >= (kEigs.max * 0.95).toLong, s"component 0 must carry the top eig: $kEigs")
    val vs = (0 until 3).map(c =>
      k.filter(_.getInt(0) == c).sortBy(_.getInt(1)).map(_.getLong(2)))
    for (i <- 0 until 3; j <- (i + 1) until 3) {
      val dot = vs(i).zip(vs(j)).map { case (a, b) => a.toDouble * b }.sum / 1e12
      assert(math.abs(dot) < 0.15, s"components $i,$j not near-orthogonal: $dot")
    }
  }

  test("maxsim: hand-computed late-interaction scores on axis vectors") {
    import spark.implicits._
    import graft.operators.{Similarity => S}
    import org.apache.spark.sql.functions.col
    // axis-aligned token vectors make every cosine 0 or 1: score(q, d) =
    // how many of q's token directions d covers (the MaxSim definition
    // in closed form). Query doc 0 = tokens {e1, e2}.
    def v(i: Int): Array[Float] = { val a = new Array[Float](4); a(i) = 1f; a }
    val toks = Seq(
      (0L, 0, v(0)), (0L, 1, v(1)), // query: directions e1, e2
      (1L, 0, v(0)), (1L, 1, v(1)), // doc 1 covers both -> 2.0
      (2L, 0, v(0)), (2L, 1, v(2)), // doc 2 covers e1 only -> 1.0
      (3L, 0, v(2)), (3L, 1, v(3)), // doc 3 covers none -> 0.0
      (4L, 0, v(1))                 // doc 4 covers e2 with ONE token -> 1.0
    ).toDF("doc_id", "tok_id", "embedding")
    val out = S.maxSimTopK(toks, toks.filter(col("doc_id") === 0L), 10)
      .collect().map(r => (r.getLong(2), r.getLong(1), r.getDouble(3)))
      .sortBy(_._2)
    assert(out.toSeq === Seq((1L, 1L, 2.0), (2L, 2L, 1.0), (4L, 3L, 1.0), (3L, 4L, 0.0)),
      s"got ${out.toSeq}")
    // ties rank by doc_id (docs 2 and 4 both score 1.0)
  }

  test("maxsim routed: candidate generation recalls the exact top ranking") {
    import graft.operators.{Similarity => S}
    import org.apache.spark.sql.functions.col
    val toks = S.maxSimTokens(spark, sf0001)
    val panel = toks.filter(col("doc_id") < 3)
    val k = 10
    val exact = S.maxSimTopK(toks, panel, k).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    // at this size the router picks the exact token arm, so the routed
    // pipeline is deterministic; kTok=16 token candidates must recover
    // the full exact top-10 doc ranking on this corpus (measured 1.0 —
    // pinned at the 0.9 floor to absorb future fixture drift)
    val routed = S.maxSimTopKRouted(toks, panel, k).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & routed).size.toDouble / exact.size
    assert(recall >= 0.9, s"routed MaxSim recall $recall")
  }

  test("maxsim index insert: appended docs are servable; parity with a full rebuild") {
    import graft.operators.{Similarity => S}
    import org.apache.spark.sql.functions.col
    val toks = S.maxSimTokens(spark, sf0001)
    val panel = toks.filter(col("doc_id") < 3)
    val k = 10
    val base = toks.filter(col("doc_id") >= 25)
    val batch = toks.filter(col("doc_id") < 25)
    val grown = tempDir("maxsim_grow")
    S.writeMaxSimIndex(spark, base, grown)
    S.appendMaxSimIndex(spark, grown, batch)
    val probed = S.maxSimProbeIndex(spark, grown, toks, panel, k).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    // (a) appended documents genuinely SURFACE in probe answers — the
    // batch half is not merely stored (panel docs 0-2 are themselves
    // appended; their neighbors include appended ids at this size)
    assert(probed.exists { case (_, docId) => docId < 25 && docId >= 3 },
      "no appended doc ever surfaced — append is storing, not serving")
    // (b) recall vs the exact ranking over the WHOLE corpus
    val exact = S.maxSimTopK(toks, panel, k).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & probed).size.toDouble / exact.size
    assert(recall >= 0.7, s"grown-index MaxSim recall $recall")
    // (c) parity with a from-scratch build over the same corpus: the
    // grown index must not be a degraded second-class citizen
    val rebuilt = tempDir("maxsim_full")
    S.writeMaxSimIndex(spark, toks, rebuilt)
    val full = S.maxSimProbeIndex(spark, rebuilt, toks, panel, k).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val fullRecall = (exact & full).size.toDouble / exact.size
    assert(recall >= fullRecall - 0.2,
      s"grown recall $recall lags rebuilt recall $fullRecall beyond tolerance")
  }

  test("filtered search: pre-filter route is exact; over-fetch probe meets its floor") {
    val qs = emb.filter(col("vec_id") < 5)
    val pred = col("label") === 1
    val (routed, strategy) = Similarity.annTopKFilteredTagged(emb, qs, 10, pred)
    assert(strategy.name === "exact")
    val exact = Similarity.bruteForceTopK(emb.filter(pred), qs, 10)
    assert(routed.collect().map(_.toSeq).toSet === exact.collect().map(_.toSeq).toSet)
    val allowed = emb.filter(pred).select("vec_id").collect().map(_.getLong(0)).toSet
    val exactPairs = exact.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(exactPairs.forall { case (_, n) => allowed.contains(n) })
    // serve-time filter against the PERSISTED graph (no rebuild per
    // predicate): over-fetch then filter then exact rerank — recall vs
    // the exact filtered ranking floored, all results obey the predicate
    val root = tempDir("hnsw_filtered")
    try {
      graft.operators.Hnsw.writeHnswIndex(spark, emb, root)
      // the predicate keeps ~1-in-3 of the corpus, so size over-fetch by
      // the documented rule (~4x the selectivity factor F=3): at the
      // default 4 the probe measured 0.46 — exactly the degradation the
      // operator's scaladoc warns selective predicates about
      val probed = Similarity.probeHnswIndexFiltered(spark, root, emb, qs, 10, pred,
          overfetch = 12)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(probed.forall { case (_, n) => allowed.contains(n) },
        "over-fetch probe leaked a disallowed neighbor")
      val recall = (exactPairs & probed).size.toDouble / exactPairs.size
      assert(recall >= 0.7, s"filtered over-fetch recall $recall under the 0.7 floor")
      // ADVICE r10: a corpus-member query passing the predicate must NOT
      // return itself (bruteForceTopK parity) — pre-fix it surfaced at
      // rank 1 with score 1.0 and burned a result slot
      assert(probed.forall { case (q, n) => q != n },
        "filtered probe returned the query itself")
    } finally Scratch.rmTree(new java.io.File(root))
  }

  test("PSI drift: identical snapshots read ~zero; a planted shift flags only its dim") {
    import spark.implicits._
    import graft.operators.{Similarity => S}
    val emb = graft.engine.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    // identical ref and cur: smoothing noise only — nothing may flag and
    // every PSI must sit essentially at zero
    val same = S.embeddingDriftPsi(emb.select("e"), emb.select("e"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getBoolean(2)))
    assert(same.length === 64)
    assert(same.forall(!_._3), "identical snapshots flagged drift")
    assert(same.forall(_._2 < 1e-9), s"nonzero PSI on identical snapshots")
    // planted +0.3 on dim 5 only: exactly dim 5 flags
    val shifted = emb.select(transform(col("e"),
      (x, i) => when(i === 5, x + lit(0.3)).otherwise(x)).as("e"))
    val drift = S.embeddingDriftPsi(emb.select("e"), shifted)
      .collect().map(r => (r.getInt(0), r.getBoolean(2))).toMap
    assert(drift(5), "planted shift not flagged")
    assert(drift.filter(_._2).keySet === Set(5), s"spurious flags: $drift")
  }

  test("maxsim routed tagged: router picks exact at gate scale; tag matches") {
    import graft.operators.{Similarity => S}
    import org.apache.spark.sql.functions.col
    val toks = S.maxSimTokens(spark, sf0001)
    val (out, strategy) = S.maxSimTopKRoutedTagged(
      toks, toks.filter(col("doc_id") < 3), 10, kTok = 16)
    assert(strategy.name === "exact") // packed corpus under AnnExactCorpusMax
    // tagged and untagged paths emit the identical frame
    val plain = S.maxSimTopKRouted(toks, toks.filter(col("doc_id") < 3), 10)
    assert(out.collect().map(_.toSeq).toSet === plain.collect().map(_.toSeq).toSet)
  }

  test("MMR rerank: a near-duplicate of the top hit is demoted below a diverse hit") {
    import spark.implicits._
    val vecs = Seq(
      (100L, Array(1f, 0f, 0f, 0f)),     // the query
      (1L, Array(0.9f, 0.1f, 0f, 0f)),   // best hit
      (2L, Array(0.89f, 0.11f, 0f, 0f)), // near-duplicate of the best hit
      (3L, Array(0.6f, 0f, 0.8f, 0f))    // diverse, lower relevance
    ).toDF("vec_id", "embedding")
    val ranked = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 100L), 3)
    // plain relevance order is 1, 2, 3 — MMR at λ=0.5 must demote the
    // near-duplicate below the diverse hit
    val plain = ranked.orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(plain === Seq(1L, 2L, 3L))
    val out = Similarity.mmrRerank(ranked, vecs, 3, 0.5, 0.5)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(out === Seq(1L, 3L, 2L), s"MMR order was $out")
  }

  test("rank eval: hand-computed nDCG/RR/precision on a tiny ranking") {
    import spark.implicits._
    import org.scalactic.TolerantNumerics._
    implicit val eq = tolerantDoubleEquality(1e-6)
    val ranked = Seq((1L, 1L, 10L), (1L, 2L, 20L), (1L, 3L, 30L))
      .toDF("q_id", "rank", "n_id")
    // doc 20 retrieved at rank 2 is relevant; doc 40 is relevant but missed
    val rel = Seq((1L, 20L, 1), (1L, 40L, 1)).toDF("q_id", "n_id", "rel")
    val r = Similarity.rankEval(ranked, rel, 3).collect().head
    val g2 = 1.0 / (math.log(3) / math.log(2)) // gain of a rel=1 hit at rank 2
    val g2r = BigDecimal(g2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("ndcg") === g2r / (1.0 + g2r)) // idcg = hit@1 + hit@2
    assert(r.getAs[Double]("rr") === 0.5)                 // first relevant at rank 2
    assert(r.getAs[Double]("precision_k") === 1.0 / 3)    // 1 relevant of k=3
    // a query with no relevant documents scores 0 everywhere, never null
    val none = Similarity.rankEval(ranked, rel.filter(lit(false)), 3).collect().head
    assert(none.getAs[Double]("ndcg") === 0.0 && none.getAs[Double]("rr") === 0.0)
  }

  test("hybrid RRF: reciprocal sum, full-outer coverage, deterministic ranking") {
    import spark.implicits._
    val rankA = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("doc_id", "rank")
    val rankB = Seq((20L, 1L), (40L, 2L)).toDF("doc_id", "rank")
    val out = Similarity.hybridRrf(rankA, rankB, "doc_id", 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long])))
      .sortBy(_._1)
    // doc 20 is in both lists: 1/(60+2) + 1/(60+1); singles keep one term
    assert(out.map(t => (t._1, t._2)).toSeq ===
      Seq((1L, 20L), (2L, 10L), (3L, 40L), (4L, 30L)))
    val by = out.map(t => t._2 -> t).toMap
    assert(by(20L)._3 === math.rint((1.0 / 62 + 1.0 / 61) * 1e6) / 1e6)
    assert(by(10L)._3 === math.rint((1.0 / 61) * 1e6) / 1e6)
    assert(by(10L)._5 === None, "doc only in list A must carry a null rank_b")
    assert(by(40L)._4 === None, "doc only in list B must carry a null rank_a")
  }
}
