package graft

import graft.engine.Scratch
import graft.operators.Hnsw
import org.apache.spark.sql.functions._

/** Specs for the sharded HNSW graph index. */
class HnswSpec extends SparkSpec {

  private def loadEmb(): Array[(Long, Array[Float])] =
    graft.engine.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      s += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    s / (math.sqrt(na) * math.sqrt(nb))
  }

  test("levelOf is deterministic, capped, and produces a real hierarchy") {
    val levels = (0L until 2000L).map(Hnsw.levelOf)
    assert(levels.forall(l => l >= 0 && l <= Hnsw.MaxLevel))
    assert(levels.count(_ >= 1) > 500, "about half the nodes should rise above layer 0")
    assert(levels.count(_ >= 2) > 200)
    assert(levels === (0L until 2000L).map(Hnsw.levelOf), "pure function of the id")
  }

  test("single graph: high recall vs brute force, deterministic across builds") {
    val emb = loadEmb()
    def build(): Hnsw.Graph = {
      val g = new Hnsw.Graph(emb.head._2.length)
      emb.foreach { case (id, v) => g.insert(id, v) }
      g
    }
    val g1 = build()
    val g2 = build()
    val k = 10
    var hits = 0
    var total = 0
    emb.take(20).foreach { case (qId, qv) =>
      val got = g1.search(qv, k + 1).map(_._1).filter(_ != qId).take(k)
      assert(got === g2.search(qv, k + 1).map(_._1).filter(_ != qId).take(k),
        s"query $qId: two identical builds disagreed")
      val exact = emb.filter(_._1 != qId)
        .map { case (id, v) => (id, cosine(qv, v)) }
        .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1).toSet
      hits += got.count(exact.contains)
      total += k
    }
    val recall = hits.toDouble / total
    info(f"single-graph recall@10 over ${emb.length} vectors: $recall%.3f")
    assert(recall >= 0.9, f"recall $recall%.3f below the single-graph bar")
  }

  test("every node is reachable from the entry at layer 0 (no orphans)") {
    val emb = loadEmb().take(500)
    val g = new Hnsw.Graph(emb.head._2.length)
    emb.foreach { case (id, v) => g.insert(id, v) }
    // reachability via search: every stored id must be findable as its
    // own nearest neighbor (self-similarity 1.0 beats everything)
    emb.foreach { case (id, v) =>
      val top = g.search(v, 1)
      assert(top.nonEmpty && top.head._1 === id, s"node $id unreachable from entry")
    }
  }

  test("declared recall gate passes with headroom (measured, not just boolean)") {
    val out = SparkEntry.queries("q_hnsw_recall")(spark, sf0001).collect()(0)
    assert(out.getLong(0) === 200L)
    assert(out.getBoolean(1), "recall fell below the 0.7 gate")
  }

  test("sharded fan-out recall is measured, not just gated") {
    val emb = graft.engine.Tables.embeddings(spark, sf0001)
    val panel = loadEmb().take(20)
    val hnsw = Hnsw.hnswTopK(emb, panel, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = graft.operators.Similarity
      .bruteForceTopK(emb, emb.filter(col("vec_id") < 20), 10)
      .select("q_id", "n_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val recall = exact.count(hnsw.contains).toDouble / exact.length
    info(f"sharded recall@10 (8 shards, ${emb.count()} vectors): $recall%.3f")
    assert(recall >= 0.85, f"sharded recall $recall%.3f lost too much vs the single graph")
  }

  test("persisted graph restores EXACTLY: probe == fresh build, row for row") {
    import graft.operators.Hnsw
    val emb = graft.engine.Tables.embeddings(spark, sf0001)
    val panel = emb.filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val root = java.nio.file.Files.createTempDirectory("hnsw_restore").toString
    try {
      Hnsw.writeHnswIndex(spark, emb, root)
      val fresh = Hnsw.hnswTopK(emb, panel, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val probed = Hnsw.probeHnswIndex(spark, root, panel, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // the dump stores the exact build-time adjacency and the restore
      // replays the entry rule, so the persisted answer IS the fresh one
      assert(probed === fresh, "persisted probe diverged from the fresh build")
      assert(probed.nonEmpty)
      // second publish supersedes the first atomically: still identical
      Hnsw.writeHnswIndex(spark, emb, root)
      val again = Hnsw.probeHnswIndex(spark, root, panel, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(again === fresh)
    } finally Scratch.rmTree(new java.io.File(root))
  }

  test("stored shard column equals shardOf(vec_id); one directory per shard") {
    val emb = graft.engine.Tables.embeddings(spark, sf0001)
    val root = java.nio.file.Files.createTempDirectory("hnsw_shards").toString
    try {
      Hnsw.writeHnswIndex(spark, emb, root)
      val path = new graft.engine.Snapshot(spark, root).currentPath()
      val rows = spark.read.parquet(s"$path/graphs")
        .select(col("shard").cast("int"), col("vec_id")).collect()
      // ADVICE r9: hash partitioning co-locates pmod groups, so the old
      // rows.head-based label disagreed with vec_id % Shards for some
      // rows; the per-shard groupBy pins the invariant exactly
      rows.foreach(r => assert(r.getInt(0) === Hnsw.shardOf(r.getLong(1)),
        s"vec ${r.getLong(1)} stored in shard ${r.getInt(0)}"))
      assert(rows.map(_.getInt(0)).distinct.sorted === (0 until Hnsw.Shards),
        "expected exactly one shard group per pmod value")
    } finally Scratch.rmTree(new java.io.File(root))
  }

  test("incremental insert: grown index serves the new ids; recall tracks a full rebuild") {
    val emb = graft.engine.Tables.embeddings(spark, sf0001)
    val even = emb.filter(col("vec_id") % 2 === 0)
    val base = even.filter(col("vec_id") >= 100)
    val batch = even.filter(col("vec_id") < 100)
    val panel = loadEmb().filter(t => t._1 % 2 == 1 && t._1 < 40)
    val k = 10
    val root = java.nio.file.Files.createTempDirectory("hnsw_insert").toString
    try {
      Hnsw.writeHnswIndex(spark, base, root)
      Hnsw.appendHnswIndex(spark, root, batch)
      val grown = Hnsw.probeHnswIndex(spark, root, panel, k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // the appended ids must be genuinely SERVABLE, not merely stored:
      // some of the inserted vec_ids (< 100, even) appear in answers
      assert(grown.exists(_._2 < 100), s"no appended id surfaced: ${grown.take(10)}")
      val exact = graft.operators.Similarity
        .bruteForceTopK(even, emb.filter(col("vec_id") % 2 =!= 0 && col("vec_id") < 40), k)
        .select("q_id", "n_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val grownRecall = exact.count(grown.contains).toDouble / exact.length
      // a from-scratch build over the SAME final corpus is the parity bar
      val rebuiltRoot = java.nio.file.Files.createTempDirectory("hnsw_rebuild").toString
      try {
        Hnsw.writeHnswIndex(spark, even, rebuiltRoot)
        val rebuilt = Hnsw.probeHnswIndex(spark, rebuiltRoot, panel, k)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val rebuiltRecall = exact.count(rebuilt.contains).toDouble / exact.length
        info(f"recall@10: grown $grownRecall%.3f vs rebuilt $rebuiltRecall%.3f")
        assert(grownRecall >= rebuiltRecall - 0.1,
          f"append lost too much vs rebuild: $grownRecall%.3f vs $rebuiltRecall%.3f")
        assert(grownRecall >= 0.7, f"grown recall $grownRecall%.3f under the gate bar")
      } finally Scratch.rmTree(new java.io.File(rebuiltRoot))
      // a second append on top of the grown snapshot keeps serving
      // (build once, grow forever): append an empty batch is a no-op
      // publish, so grow with a disjoint synthetic id block instead
      import spark.implicits._
      val extra = panel.take(2).zipWithIndex
        .map { case ((_, v), i) => (10000L + 2 * i, v) }.toSeq
        .toDF("vec_id", "embedding")
      Hnsw.appendHnswIndex(spark, root, extra)
      val grown2 = Hnsw.probeHnswIndex(spark, root, panel, k)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // the planted copies of two panel vectors are their own nearest
      // neighbors (cosine 1.0) and must now top those queries' answers
      assert(grown2.exists(_._2 >= 10000L),
        "second-generation append is not servable")
    } finally Scratch.rmTree(new java.io.File(root))
  }

  test("reshard: no-op under budget; over budget splits to the fresh-build identity (round 13)") {
    val emb = graft.engine.Tables.embeddings(spark, sf0001)
    val corpus = emb.filter(col("vec_id") % 2 === 0 && col("vec_id") < 400)
    val base = corpus.filter(col("vec_id") >= 100)
    val batch = corpus.filter(col("vec_id") < 100)
    val panel = loadEmb().filter(t => t._1 % 2 == 1 && t._1 < 40)
    val k = 10
    val root = java.nio.file.Files.createTempDirectory("hnsw_reshard").toString
    val freshRoot = java.nio.file.Files.createTempDirectory("hnsw_reshard_fresh").toString
    try {
      Hnsw.writeHnswIndex(spark, base, root, numShards = 2)
      val snap = new graft.engine.Snapshot(spark, root)
      // comfortably under budget: a NO-OP — same version, same count,
      // nothing republished (the cheap steady-state check)
      val before = snap.versions()
      assert(Hnsw.reshardHnswIndex(spark, root, nodeBudget = 10000L)
        === ((before.last, 2)))
      assert(snap.versions() === before, "no-op reshard must not publish")
      // grow past the budget, then reshard: even ids in [0,400) pack
      // 200 into the single mod-2 shard and 100 per mod-4 shard, so a
      // 60-node budget must double twice, landing on 8
      Hnsw.appendHnswIndex(spark, root, batch)
      val (v, shards) = Hnsw.reshardHnswIndex(spark, root, nodeBudget = 60L)
      assert(shards === 8)
      assert(snap.versions().last === v)
      // IDENTITY: per-shard insertion is ascending vec_id, so the
      // resharded graphs equal a fresh build of the same corpus at the
      // same count — byte-for-byte (dump rows), hence probe-for-probe
      Hnsw.writeHnswIndex(spark, corpus, freshRoot, numShards = 8)
      def dumpRows(r: String): Set[String] = {
        val p = new graft.engine.Snapshot(spark, r).currentPath()
        spark.read.parquet(s"$p/graphs")
          .selectExpr("concat_ws('|', shard, ord, vec_id, level, " +
            "hash(embedding), hash(nbrs))")
          .collect().map(_.getString(0)).toSet
      }
      assert(dumpRows(root) === dumpRows(freshRoot),
        "resharded index diverged from the fresh build at the same layout")
      val probed = Hnsw.probeHnswIndex(spark, root, panel, k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val fresh = Hnsw.probeHnswIndex(spark, freshRoot, panel, k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(probed === fresh, "probe identity lost across the reshard")
      // the appended (< 100) ids remain served through the new layout
      assert(probed.exists(_._2 < 100), "appended ids lost by the reshard")
      // and a follow-up append routes by the NEW count (meta.json)
      import spark.implicits._
      val extra = panel.take(1).map { case (_, vec) => (10008L, vec) }.toSeq
        .toDF("vec_id", "embedding")
      Hnsw.appendHnswIndex(spark, root, extra)
      val path = new graft.engine.Snapshot(spark, root).currentPath()
      val storedShard = spark.read.parquet(s"$path/graphs")
        .where(col("vec_id") === 10008L).select(col("shard").cast("int"))
        .head().getInt(0)
      assert(storedShard === Hnsw.shardOf(10008L, 8),
        "post-reshard append must route by the grown shard count")
    } finally {
      Scratch.rmTree(new java.io.File(root))
      Scratch.rmTree(new java.io.File(freshRoot))
    }
  }
}
