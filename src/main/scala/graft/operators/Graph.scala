package graft.operators

import graft.engine.{Scope, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph centrality over corpus-derived link graphs — the iterative-join
  * pattern the rest of the engine never needed. Web-scale corpus curation
  * ranks crawl domains by link centrality (Common Crawl publishes
  * harmonic/PageRank centrality per domain and crawl frontiers prioritize
  * by it), so a training-data engine needs a power-iteration primitive
  * whose per-iteration cost is bounded by the NODE table, not the corpus.
  *
  * Scale shape: the expensive part is deriving the edge list (corpus-sized
  * joins, one aggregation down to |nodes|² max). Iterations then touch
  * only (edges, ranks) — both bounded by the domain universe, orders of
  * magnitude smaller than the corpus — so 5 or 50 iterations cost nothing
  * next to the derivation. Edges are materialized once (localCheckpoint)
  * so each iteration re-reads a small cached table instead of re-running
  * the corpus joins; ranks stay a |nodes|-row frame end to end. No
  * driver-side loop over data — the driver only sequences iterations.
  *
  * Determinism: per-edge contributions are computed in double (IEEE mult /
  * div, identical in any engine), rounded to 6dp, summed as DECIMAL(18,6)
  * — exact under any partitioning and replayable by the DuckDB oracle's
  * unrolled-CTE iteration chain. The damped update re-rounds to 6dp, so
  * every iteration starts from bit-identical ranks in both engines.
  */
object Graph {
  import Tables._
  import graft.functions.TextHashes.sparkRound6

  /** A 6dp-rounded double as the exact DECIMAL(·,6) Spark's cast yields
    * (valueOf = shortest repr, then HALF_UP re-scale — a no-op on an
    * already-6dp value). */
  private def dec6(x: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)

  /** One-column local result frame preserving the node column's type
    * (PageRank node ids are nation keys on one call site and vocabulary
    * STRINGS on another — the fast paths cannot assume Long). */
  private def localFrame(s: SparkSession, rows: Seq[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    s.createDataFrame(rows.asJava, schema)
  }

  /** SMALL-GRAPH FAST PATH budget for the weighted power iterations
    * ([[pageRank]], [[hits]]): under this many edges the |nodes|-bounded
    * iteration runs on the driver with the SAME exact arithmetic
    * (6dp-rounded doubles, decimal sums — replicated bit-identically,
    * spec'd in GraphSpec against the forced-distributed path) instead of
    * `iterations` join+aggregate job waves; above it, the distributed
    * loop — the [[graft.operators.Dedup.nearDupClusters]] discipline.
    * 2^17 edges ≈ 5 MB collected: the probe's work is bounded by the
    * budget and discarded on overflow. */
  val DriverGraphEdgeBudget: Long = 1L << 17

  /** Power-iteration PageRank over a weighted edge list `(src, dst, w)`.
    * Simplified (no dangling-mass redistribution): a sink node keeps
    * receiving (1-d)/N but forwards nothing — the semantics both engines
    * replay exactly. Returns (node, pr) with pr rounded to 6dp. */
  def pageRank(edges: DataFrame, iterations: Int, damping: Double,
      driverEdgeBudget: Long = DriverGraphEdgeBudget): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    // node universe + out-weights materialized once; every iteration
    // joins against these small frames, never the corpus (the expensive
    // edge DERIVATION always stays distributed — only the node-bounded
    // iteration migrates to the driver under the budget)
    val e = edges
      .join(edges.groupBy("src").agg(sum("w").cast("double").as("wout")), "src")
      .select(col("src"), col("dst"), col("w").cast("double").as("w"), col("wout"))
      .localCheckpoint()
    // fast path only when src/dst agree on type: the local result frame
    // types `node` as src's dataType while the node set mixes src and dst
    // values; the distributed loop below UNIONS the columns and lets Spark
    // coerce, so heterogeneous edge frames must take it for both paths to
    // stay behaviorally identical (ADVICE r13). A null cell takes it too:
    // its join semantics define what a null node or weight does.
    val local = if (e.schema("src").dataType != e.schema("dst").dataType) None
      else Scope.collectWithin(e, driverEdgeBudget).filterNot(_.exists(_.anyNull))
    local match {
      case Some(taken) =>
        if (taken.isEmpty) return Seq.empty[(Long, Double)].toDF("node", "pr")
        // insertion-ordered distinct: deterministic over the checkpointed
        // edge order (output order is irrelevant — callers ORDER BY)
        val nodes = taken.iterator.flatMap(r => Iterator(r.get(0), r.get(1)))
          .foldLeft(scala.collection.mutable.LinkedHashSet.empty[Any])(_ += _)
          .toSeq
        val n = nodes.size
        // lit(1.0 / n) is NOT rounded in the distributed loop; the first
        // iteration reads it raw, so keep the raw value here too
        var pr: Map[Any, Double] = nodes.map(_ -> 1.0 / n).toMap
        for (_ <- 1 to iterations) {
          val sums = scala.collection.mutable.HashMap.empty[Any, java.math.BigDecimal]
          taken.foreach { r =>
            val c = dec6(sparkRound6(pr(r.get(0)) * r.getDouble(2) / r.getDouble(3)))
            sums.update(r.get(1), sums.getOrElse(r.get(1), java.math.BigDecimal.ZERO).add(c))
          }
          val base = (1 - damping) / n
          pr = nodes.map(nd =>
            nd -> sparkRound6(
              base + damping * sums.get(nd).map(_.doubleValue).getOrElse(0.0))).toMap
        }
        return localFrame(s, nodes.map(nd => org.apache.spark.sql.Row(nd, pr(nd))),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("node", e.schema("src").dataType),
            org.apache.spark.sql.types.StructField("pr",
              org.apache.spark.sql.types.DoubleType))))
      case None =>
    }
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst"))).distinct().localCheckpoint()
    val n = nodes.count()
    if (n == 0) return Seq.empty[(Long, Double)].toDF("node", "pr")
    var ranks = nodes.withColumn("pr", lit(1.0 / n))
    for (_ <- 1 to iterations) {
      val contrib = e.join(ranks, e("src") === ranks("node"))
        .select(col("dst"),
          round(col("pr") * col("w") / col("wout"), 6)
            .cast("decimal(18,6)").as("c"))
        .groupBy("dst").agg(sum("c").as("sc"))
      ranks = nodes
        .join(contrib, nodes("node") === contrib("dst"), "left")
        .select(col("node"),
          round(lit((1 - damping) / n) +
            lit(damping) * coalesce(col("sc").cast("double"), lit(0.0)), 6)
            .as("pr"))
    }
    ranks
  }

  /** The nation trade graph: an edge (customer nation -> supplier nation)
    * per lineitem, weighted by count. The corpus-sized work is the
    * orderkey co-partitioned join; the nation maps ride along as
    * AQE-broadcast sides at gate scale and plain keyed joins beyond
    * (customer/supplier GROW with the corpus — no forced broadcast). */
  def nationTradeEdges(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      .join(orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, d).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(supplier(s, d).select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))

  /** Declared query: 5 damped (0.85) iterations over the nation trade
    * graph — the domain-centrality signal a crawl-prioritization pass
    * would feed on. */
  def qPagerank(s: SparkSession, d: String): DataFrame =
    pageRank(nationTradeEdges(s, d), 5, 0.85)
      .withColumn("node", col("node").cast("long"))
      .orderBy("node")

  // --------------------------------------------- TextRank keyword extraction

  /** Word co-occurrence graph for TextRank (Mihalcea & Tarau 2004):
    * adjacent-word pairs (window 1) across the corpus, both directions
    * (the undirected formulation as a symmetric directed graph),
    * self-loops dropped, weight = corpus co-occurrence count. One narrow
    * pass over the tokens collapsing to the sparse |vocab|-node edge
    * frame; every PageRank iteration after touches only that frame. */
  def wordCooccurrenceEdges(docs: DataFrame): DataFrame = {
    val pairs = TextSearch.bigramPairs(docs)
      .filter(col("w1") =!= col("w2"))
      .select(col("w1").as("src"), col("w2").as("dst"))
    pairs.unionByName(pairs.select(col("dst").as("src"), col("src").as("dst")))
      .groupBy("src", "dst").agg(count(lit(1)).cast("double").as("w"))
  }

  /** Oracle-checked TextRank: the SAME [[pageRank]] the nation trade
    * graph runs, pointed at the word co-occurrence graph — one iterative
    * operator, two graphs (graph centrality and keyword extraction are
    * the same computation at different node types). Top-20 keywords by
    * (pr desc, word); the ranking window runs on the |vocab|-row rank
    * frame, never the corpus (PlanSpec-registered). */
  def qTextrank(s: SparkSession, d: String): DataFrame = {
    val pr = pageRank(wordCooccurrenceEdges(documents(s, d)), 4, 0.85)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("pr").desc, col("node"))
    pr.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 20)
      .select(col("rank"), col("node").as("word"), col("pr"))
      .orderBy("rank")
  }

  // ------------------------------------ hop-limited BFS frontier expansion

  /** Hop-limited breadth-first frontier expansion — the OTHER iterative
    * graph primitive a crawl pipeline runs: from a seed set, which pages
    * are reachable within N hops of the link graph, and at what depth
    * (crawlers budget by depth; dataset docs report "N hops from seeds").
    *
    * Scale shape: the per-wave cost is one keyed join (frontier x edges)
    * plus one anti-join against the visited set — both bounded by the
    * FRONTIER, not the graph, and the wave result is localCheckpoint'ed
    * so lineage never compounds across hops. The hop cap bounds the
    * iteration count; an empty frontier exits early (one bounded
    * existence probe per wave — the BFS termination test itself). BFS
    * first-reach depth IS min-hop, which is what the oracle's recursive
    * CTE computes — so the iterative join chain is hash-gated against a
    * declarative replay. */
  def bfsFrontier(edges: DataFrame, seeds: DataFrame, maxHops: Int,
      driverEdgeBudget: Long = 1L << 20): DataFrame = {
    // SMALL-GRAPH FAST PATH (the nearDupClusters discipline): a queue BFS
    // over collected edges replaces maxHops join+anti-join+checkpoint
    // waves when graph AND seed set fit the budget — integer set algebra,
    // trivially identical to the wave loop (spec'd in GraphSpec with the
    // forced-distributed path). Crawl-scale graphs take the loop below.
    // A null node takes the loop too: its join semantics define it.
    val local = for {
      e <- Scope.collectWithin(edges.select("src", "dst"), driverEdgeBudget)
      s <- Scope.collectWithin(seeds.select("node"), driverEdgeBudget)
      if !(e ++ s).exists(_.anyNull)
    } yield (e, s)
    local match {
      case Some((takenE, takenS)) =>
        val adj = takenE.groupBy(_.get(0)).map { case (s, rs) =>
          s -> rs.map(_.get(1)).toSeq }
        // seeds keep their multiplicity at hop 0 (the wave loop never
        // dedups the seed rows); reachability works on the distinct set
        val visited = scala.collection.mutable.HashSet[Any](takenS.map(_.get(0)): _*)
        val out = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row](
          takenS.map(r => org.apache.spark.sql.Row(r.get(0), 0L)): _*)
        var frontier: Seq[Any] = takenS.map(_.get(0)).distinct.toSeq
        var hop = 1
        while (hop <= maxHops && frontier.nonEmpty) {
          val next = frontier.flatMap(n => adj.getOrElse(n, Nil))
            .foldLeft(scala.collection.mutable.LinkedHashSet.empty[Any])(_ += _)
            .toSeq.filterNot(visited.contains)
          next.foreach { n => visited += n; out += org.apache.spark.sql.Row(n, hop.toLong) }
          frontier = next
          hop += 1
        }
        return localFrame(seeds.sparkSession, out.toSeq,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("node",
              seeds.schema("node").dataType),
            org.apache.spark.sql.types.StructField("hop",
              org.apache.spark.sql.types.LongType))))
      case None =>
    }
    var visited = seeds.select(col("node"), lit(0L).as("hop")).localCheckpoint()
    var frontier = visited.select("node")
    for (h <- 1 to maxHops) {
      val next = frontier.join(edges, frontier("node") === edges("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .withColumn("hop", lit(h.toLong))
        .localCheckpoint()
      if (next.isEmpty) return visited
      visited = visited.unionByName(next).localCheckpoint()
      frontier = next.select("node")
    }
    visited
  }

  /** Node universe bound for the gate's synthetic link graph (dense ids,
    * present at every scale) and the crawl depth budget. */
  val FrontierNodes = 400L
  val FrontierHops = 5

  /** Deterministic two-out-degree link graph over doc ids < 400: each
    * node links to (31n+7) mod 400 and (17n+3) mod 400 — affine maps
    * whose orbits interleave enough that 5 hops from 3 seeds reach an
    * irregular subset (not all, not a chain), giving the min-hop gate
    * something to get wrong. Closed form, so the oracle enumerates every
    * path recursively. */
  def frontierEdges(s: SparkSession, d: String): DataFrame =
    documents(s, d).filter(col("doc_id") < FrontierNodes)
      .select(col("doc_id").as("src"),
        explode(array((col("doc_id") * 31 + 7) % FrontierNodes,
          (col("doc_id") * 17 + 3) % FrontierNodes)).as("dst"))

  /** Declared query: BFS from seeds {0,1,2} to depth 5 over the synthetic
    * link graph; output every reached node with its first-reach depth. */
  def qFrontier(s: SparkSession, d: String): DataFrame = {
    val seeds = documents(s, d).filter(col("doc_id") < 3)
      .select(col("doc_id").as("node"))
    bfsFrontier(frontierEdges(s, d), seeds, FrontierHops)
      .select(col("node").as("doc_id"), col("hop"))
      .orderBy("doc_id")
  }

  // --------------------------- HITS hubs & authorities (Kleinberg 1999)

  /** Weighted HITS power iteration over `(src, dst, w)` — the OTHER
    * link-centrality signal next to PageRank (a page is a good AUTHORITY
    * if good hubs point at it; a good HUB if it points at good
    * authorities — the asymmetry PageRank's single score collapses).
    * Each half-step sums the opposite score over in/out edges (weighted),
    * then L1-normalizes; [[pageRank]]'s engine-portability recipe is
    * reused verbatim: per-edge contributions round(·,6) into
    * DECIMAL(18,6) sums (exact, order-independent), the normalizing
    * total stays DECIMAL, and each node's new score is ONE double
    * division rounded 6dp. The normalization total rides in-plan as a
    * one-row cross join, so the whole K-iteration computation stays one
    * lazy plan — no per-iteration driver action.
    *
    * Scale shape: per iteration, two keyed joins against the score
    * frames (|nodes| rows) and two map-side-combined aggregations on
    * scalar columns; the edge list is the only corpus-sized input and it
    * is materialized once. */
  def hits(edges: DataFrame, iterations: Int,
      driverEdgeBudget: Long = DriverGraphEdgeBudget): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val e = edges.select(col("src"), col("dst"), col("w").cast("double").as("w"))
      .localCheckpoint()
    // SMALL-GRAPH FAST PATH (the [[pageRank]] / nearDupClusters
    // discipline): under the edge budget the |nodes|-bounded half-steps
    // run on the driver with identical arithmetic (6dp rounds, decimal
    // sums, double divisions — spec'd equal to the forced-distributed
    // path in GraphSpec) instead of 2·iterations join+agg+checkpoint job
    // waves. The probe is bounded by the budget and discarded on
    // overflow; corpus-scale graphs take the distributed loop below.
    // Heterogeneous src/dst types also take the distributed loop: the
    // local frame types `node` as src's dataType while the distributed
    // union lets Spark coerce (ADVICE r13). So does a null cell, as in
    // [[pageRank]].
    val local = if (e.schema("src").dataType != e.schema("dst").dataType) None
      else Scope.collectWithin(e, driverEdgeBudget).filterNot(_.exists(_.anyNull))
    local match {
      case Some(taken) =>
        if (taken.isEmpty)
          return Seq.empty[(Long, Double, Double)].toDF("node", "authority", "hub")
        val nodes = taken.iterator.flatMap(r => Iterator(r.get(0), r.get(1)))
          .foldLeft(scala.collection.mutable.LinkedHashSet.empty[Any])(_ += _)
          .toSeq
        var a: Map[Any, Double] = nodes.map(_ -> 1.0).toMap
        var h: Map[Any, Double] = nodes.map(_ -> 1.0).toMap
        for (_ <- 1 to iterations) {
          val sa = scala.collection.mutable.HashMap.empty[Any, java.math.BigDecimal]
          taken.foreach { r =>
            val c = dec6(sparkRound6(h(r.get(0)) * r.getDouble(2)))
            sa.update(r.get(1), sa.getOrElse(r.get(1), java.math.BigDecimal.ZERO).add(c))
          }
          val ta = sa.values.foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).doubleValue
          a = nodes.map(nd =>
            nd -> sparkRound6(sa.get(nd).map(_.doubleValue).getOrElse(0.0) / ta)).toMap
          val sh = scala.collection.mutable.HashMap.empty[Any, java.math.BigDecimal]
          taken.foreach { r =>
            val c = dec6(sparkRound6(a(r.get(1)) * r.getDouble(2)))
            sh.update(r.get(0), sh.getOrElse(r.get(0), java.math.BigDecimal.ZERO).add(c))
          }
          val th = sh.values.foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).doubleValue
          h = nodes.map(nd =>
            nd -> sparkRound6(sh.get(nd).map(_.doubleValue).getOrElse(0.0) / th)).toMap
        }
        return localFrame(s,
          nodes.map(nd => org.apache.spark.sql.Row(nd, a(nd), h(nd))),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("node", e.schema("src").dataType),
            org.apache.spark.sql.types.StructField("authority",
              org.apache.spark.sql.types.DoubleType),
            org.apache.spark.sql.types.StructField("hub",
              org.apache.spark.sql.types.DoubleType))))
      case None =>
    }
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst"))).distinct().localCheckpoint()
    if (nodes.isEmpty)
      return Seq.empty[(Long, Double, Double)].toDF("node", "authority", "hub")
    var hubs = nodes.withColumn("h", lit(1.0))
    var auths = nodes.withColumn("a", lit(1.0))
    for (_ <- 1 to iterations) {
      // each half-step's sum frame feeds BOTH its total and the join —
      // without truncation every iteration would re-nest the previous
      // tree several times over (the plan grows ~3^k and analysis blew
      // past minutes at k=4 when first written lazily). Checkpointing
      // ONLY the score frames keeps the plan flat (the sum subtrees are
      // one join over two checkpointed inputs, cheap to evaluate twice)
      // at half the eager jobs of checkpointing every half-step.
      val sa = e.join(hubs, e("src") === hubs("node"))
        .select(col("dst"),
          round(col("h") * col("w"), 6).cast("decimal(18,6)").as("c"))
        .groupBy("dst").agg(sum("c").as("sa"))
      val ta = sa.agg(sum("sa").as("t"))
      auths = nodes.join(sa, nodes("node") === sa("dst"), "left").crossJoin(ta)
        .select(col("node"),
          round(coalesce(col("sa"), lit(0)).cast("double") / col("t").cast("double"), 6)
            .as("a"))
        .localCheckpoint()
      val sh = e.join(auths, e("dst") === auths("node"))
        .select(col("src"),
          round(col("a") * col("w"), 6).cast("decimal(18,6)").as("c"))
        .groupBy("src").agg(sum("c").as("sh"))
      val th = sh.agg(sum("sh").as("t"))
      hubs = nodes.join(sh, nodes("node") === sh("src"), "left").crossJoin(th)
        .select(col("node"),
          round(coalesce(col("sh"), lit(0)).cast("double") / col("t").cast("double"), 6)
            .as("h"))
        .localCheckpoint()
    }
    auths.join(hubs.withColumnRenamed("node", "n2"), col("node") === col("n2"))
      .select(col("node"), col("a").as("authority"), col("h").as("hub"))
  }

  /** Declared query: 4 HITS iterations over the nation trade graph — the
    * oracle unrolls every half-step as materialized CTEs (the PageRank /
    * logistic oracle discipline: the gate replays the ITERATION, not just
    * the fixed point). */
  def qHits(s: SparkSession, d: String): DataFrame =
    hits(nationTradeEdges(s, d), 4)
      .withColumn("node", col("node").cast("long"))
      .orderBy("node")
}
