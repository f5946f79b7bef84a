package graft

import graft.engine.ShardStore
import graft.operators.Dedup
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Paths}

/** Pins the sharded-index compaction contract (VERDICT r10 Next #4):
  * compaction is a pure layout operation (probe results identical before
  * and after), the post-compaction file count is bounded by the target
  * partition count regardless of append history, the manifest swap is
  * claim/swap-atomic against racing writers, and vacuum removes exactly
  * the unreferenced shards. */
class ShardStoreSpec extends SparkSpec {

  private def freshStore(): (ShardStore, String) = {
    val root = tempDir("shard_store")
    (new ShardStore(spark, root), root)
  }

  test("append accumulates shards; read unions them; rows survive verbatim") {
    import spark.implicits._
    val (store, _) = freshStore()
    store.write(Seq((1L, "a")).toDF("id", "v"))
    store.append(Seq((2L, "b")).toDF("id", "v"))
    store.append(Seq((3L, "c")).toDF("id", "v"))
    assert(store.shards() === Seq("shard_0", "shard_1", "shard_2"))
    assert(store.read().collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // write() RESETS: the store holds exactly the new frame
    store.write(Seq((9L, "z")).toDF("id", "v"))
    assert(store.read().collect().map(_.getLong(0)).toSeq === Seq(9L))
    assert(store.shards().length === 1)
  }

  test("compact: pure layout — rows identical, file count bounded by target") {
    import spark.implicits._
    val (store, _) = freshStore()
    // ten appends = ten shard directories (the micro-batch history shape)
    (0 until 10).foreach { i =>
      val df = (0 until 20).map(j => (i * 100L + j, s"row_${i}_$j")).toDF("id", "v")
      if (i == 0) store.write(df) else store.append(df)
    }
    assert(store.shards().length === 10)
    val before = store.read().collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val filesBefore = store.liveFileCount()
    store.compact(targetPartitions = 4)
    assert(store.shards().length === 1, "compaction must leave ONE live shard")
    val after = store.read().collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after === before, "compaction changed the row set")
    assert(store.liveFileCount() <= 4, s"live files ${store.liveFileCount()} > target 4")
    assert(filesBefore >= 10, s"pre-compaction file count $filesBefore should reflect history")
    // append AFTER compaction keeps working and never re-uses an old name
    store.append(Seq((9999L, "post")).toDF("id", "v"))
    assert(store.shards().length === 2)
    assert(store.read().count() === 201)
  }

  test("minhash probe results are identical pre/post compaction") {
    val docs = graft.engine.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    val (store, _) = freshStore()
    Seq(0, 2, 4, 6, 8).foreach { r =>
      Dedup.appendIndexStore(docs.filter(col("doc_id") % 10 === r), store)
    }
    val incoming = docs.filter(col("doc_id") % 2 =!= 0)
    def probe(): Set[(Long, Long, Double)] =
      Dedup.probeIndexStore(store, incoming, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pre = probe()
    assert(pre.nonEmpty, "fixture must produce near-dup pairs")
    store.compact()
    assert(probe() === pre, "compaction changed probe results")
    // vacuum removes exactly the five compacted-away shards + their claims
    val removed = store.vacuum()
    assert(removed.length === 5)
    assert(probe() === pre, "vacuum broke the live shard")
  }

  test("racing writers fail fast on the exclusive shard claim") {
    import spark.implicits._
    val (store, root) = freshStore()
    store.write(Seq((1L, "a")).toDF("id", "v"))
    // a racer that computed the same next shard number has already lost:
    // its exclusive claim create throws instead of overwriting
    Files.createFile(Paths.get(root, "shard_1.claim"))
    intercept[java.nio.file.FileAlreadyExistsException] {
      store.append(Seq((2L, "b")).toDF("id", "v"))
    }
    // the manifest is untouched by the failed append
    assert(store.shards() === Seq("shard_0"))
    // a stale claim wedges the retry (Snapshot's exact contract) until
    // vacuum — the single-writer startup recovery — clears it
    store.vacuum()
    store.append(Seq((3L, "c")).toDF("id", "v"))
    assert(store.shards() === Seq("shard_0", "shard_1"))
  }

  test("compact-vs-append CAS: a stale compact fails fast, appended rows survive (ADVICE r11)") {
    import spark.implicits._
    val (store, _) = freshStore()
    store.write(Seq((1L, "a")).toDF("id", "v"))
    store.append(Seq((2L, "b")).toDF("id", "v"))
    // a compact that took its snapshot BEFORE this append lands...
    val stale = Seq("shard_0") // the pre-append manifest state
    store.append(Seq((3L, "c")).toDF("id", "v"))
    // ...must fail fast at the swap, publishing NOTHING: under the old
    // last-writer-wins swap it would have silently dropped rows 2 and 3
    intercept[java.util.ConcurrentModificationException] {
      store.compactFrom(stale)
    }
    assert(store.read().collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L),
      "appended rows must survive the failed stale compact")
    // the failed compact's half-product shard + claim are vacuum fodder
    // (single-writer startup), then a compact from the CURRENT snapshot
    // succeeds as before
    assert(store.vacuum().nonEmpty)
    store.compact(targetPartitions = 2)
    assert(store.shards().length === 1)
    assert(store.read().collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
  }

  test("manifest lock: stale lock fails swaps fast; vacuum clears it") {
    import spark.implicits._
    val (store, root) = freshStore()
    store.write(Seq((1L, "a")).toDF("id", "v"))
    // a crashed writer left the swap lock behind
    Files.createFile(Paths.get(root, "MANIFEST.lock"))
    intercept[java.util.ConcurrentModificationException] {
      store.append(Seq((2L, "b")).toDF("id", "v"))
    }
    assert(store.shards() === Seq("shard_0"), "failed swap must publish nothing")
    store.vacuum() // single-writer startup clears the stale lock
    store.append(Seq((3L, "c")).toDF("id", "v"))
    assert(store.read().collect().map(_.getLong(0)).toSet === Set(1L, 3L))
  }
}
