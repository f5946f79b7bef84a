package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/** Append-only sharded parquet store with an atomically-swapped shard
  * MANIFEST — the persistence shape the incremental MinHash dedup index
  * needs at 100 TB (VERDICT r10 Next #4): appends land as NEW shard
  * directories (an append never rewrites published data), readers resolve
  * the live shard set through one tiny manifest read, and COMPACTION
  * rewrites the live set into one balanced shard and swaps the manifest
  * with the same claim/swap atomicity [[Snapshot.publish]] has. A crash
  * anywhere leaves the previous manifest intact and the half-written
  * shard unreferenced. Racing writers are safe two ways: same-number
  * shard claims fail fast on the exclusive claim file, and every
  * non-reset manifest swap is a COMPARE-AND-SWAP against the shard set
  * it was computed from (ADVICE r11) — a compact whose read snapshot
  * predates a concurrent append's swap fails fast instead of silently
  * dropping the appended shard's rows, and an append that loses a race
  * re-links its already-written shard against the fresh manifest.
  * Compacted-away shards remain on disk for in-flight readers (a
  * probe that read the pre-compaction manifest keeps valid paths) until
  * [[vacuum]] runs at single-writer startup, mirroring
  * [[Snapshot.recoverOrphans]].
  *
  * Layout: `<root>/shard_<n>/` (parquet) + `<root>/shard_<n>.claim`
  * (exclusive-create markers) + `<root>/MANIFEST` (live shard names,
  * append order, swapped by [[Scratch.replaceFile]]). */
class ShardStore(spark: SparkSession, root: String) {
  private val manifestPtr = Paths.get(root, "MANIFEST")

  /** Live shard names in append order (empty before the first write). */
  def shards(): Seq[String] =
    if (!Files.exists(manifestPtr)) Seq.empty
    else Files.readString(manifestPtr).linesIterator
      .map(_.trim).filter(_.nonEmpty).toSeq

  /** Swap the manifest, optionally COMPARE-AND-SWAP (ADVICE r11): with
    * `expect` set, the swap verifies the on-disk manifest still equals
    * the snapshot the new state was computed from and fails fast
    * (ConcurrentModificationException) otherwise — a compact() racing an
    * append can no longer publish a manifest built from the pre-append
    * shard set and silently drop the appended rows. Verify+move runs
    * under a short-lived exclusive lock file so two swaps cannot
    * interleave between the read and the move; a stale lock from a
    * crashed writer is cleared by [[vacuum]] at single-writer startup
    * (the shard claims' posture). */
  private def swapManifest(names: Seq[String],
      expect: Option[Seq[String]] = None): Unit = {
    Files.createDirectories(Paths.get(root))
    val lock = Paths.get(root, "MANIFEST.lock")
    try Files.createFile(lock)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      throw new java.util.ConcurrentModificationException(
        s"another writer holds $lock — manifest swaps are serialized " +
          "(fail-fast; a stale lock from a crash is cleared by vacuum() " +
          "at single-writer startup)")
    }
    try {
      expect.foreach { e =>
        val cur = shards()
        if (cur != e) throw new java.util.ConcurrentModificationException(
          s"manifest of $root changed while a writer was computing " +
            s"[${names.mkString(", ")}]: expected [${e.mkString(", ")}], " +
            s"found [${cur.mkString(", ")}] — failing fast, nothing published")
      }
      Scratch.replaceFile(manifestPtr, names.mkString("", "\n", "\n"))
    } finally { Files.deleteIfExists(lock); () }
  }

  /** Claim and write one new shard directory; returns its name. Shard
    * numbers are monotonic over every claim/directory ever seen, so a
    * compacted store never re-issues an old name; the exclusive claim
    * create makes two writers racing to the same number fail fast
    * (Snapshot's protocol — the claim, not the data directory, is the
    * lock, because Spark's overwrite write deletes/recreates the target
    * directory mid-job). */
  private def writeShard(df: DataFrame): String = {
    Files.createDirectories(Paths.get(root))
    // next number comes from the MANIFEST (Snapshot computes from
    // CURRENT the same way): two writers racing from the same manifest
    // state compute the same name, and the loser fails fast on the
    // exclusive claim below instead of silently overwriting the winner.
    // Stale claims from crashed writes block re-use until vacuum.
    val existing = shards()
      .flatMap(n => scala.util.Try(n.stripPrefix("shard_").toLong).toOption)
    val next = "shard_" + (if (existing.isEmpty) 0L else existing.max + 1L)
    Files.createFile(Paths.get(root, next + ".claim"))
    df.write.mode("overwrite").parquet(s"$root/$next")
    next
  }

  /** Initialize (or reset) the store to exactly `df` — an unconditional
    * swap by design (reset semantics). */
  def write(df: DataFrame): Unit = swapManifest(Seq(writeShard(df)))

  /** Append a batch as a new shard — O(batch), never O(store). The
    * manifest swap is a CAS against the shard set the append list was
    * computed from; on conflict (a compact or another append published
    * first) the already-written shard is RE-LINKED against the fresh
    * manifest rather than resurrecting a pre-compaction shard set —
    * bounded retries, then fail fast. */
  def append(df: DataFrame): Unit = {
    val name = writeShard(df)
    var attempts = 0
    var done = false
    while (!done) {
      val cur = shards()
      attempts += 1
      try { swapManifest(cur :+ name, expect = Some(cur)); done = true }
      catch {
        case e: java.util.ConcurrentModificationException =>
          if (attempts >= 16) throw e
          // linear backoff: a contending swap holds the lock for ~ms —
          // spinning through all 16 attempts inside that window would
          // fail fast spuriously where one beat of patience succeeds
          Thread.sleep(attempts.toLong * 2)
      }
    }
  }

  /** One scan over every live shard. */
  def read(): DataFrame = {
    val live = shards()
    require(live.nonEmpty, s"no shards published under $root")
    spark.read.parquet(live.map(n => s"$root/$n"): _*)
  }

  /** Rewrite the live shard set into ONE balanced shard and swap the
    * manifest. Pure LAYOUT operation — rows identical before and after
    * (spec-pinned): appends accumulate one directory of small files per
    * micro-batch, and without periodic compaction a 100 TB index's probe
    * pays an open-file and task-scheduling cost proportional to its
    * APPEND HISTORY instead of its size. Post-compaction a probe opens
    * one directory of `targetPartitions` files no matter how many
    * appends came before. */
  def compact(targetPartitions: Int = 0): Unit =
    compactFrom(shards(), targetPartitions)

  /** Size-adaptive compaction width: one output file per
    * [[ShardStore.TargetFileBytes]] of live data (floor 1), derived from
    * the snapshot's on-disk footprint — a constant width is wrong at
    * both ends (tiny stores sprayed 8 near-empty files; a 100 TB index
    * squeezed into 8 giant ones). Guide-§6 output sizing; purely a
    * layout choice, rows identical either way. */
  private def sizedPartitions(snapshot: Seq[String]): Int = {
    def dirBytes(d: java.io.File): Long =
      Option(d.listFiles()).getOrElse(Array.empty)
        .map(f => if (f.isDirectory) dirBytes(f) else f.length()).sum
    val bytes = snapshot.map(n => dirBytes(new java.io.File(root, n))).sum
    math.max(1L, (bytes + ShardStore.TargetFileBytes - 1) / ShardStore.TargetFileBytes)
      .min(1 << 20).toInt
  }

  /** Compact from an explicit manifest snapshot — the CAS seam (ADVICE
    * r11): the rewrite reads exactly `snapshot`'s shards and the final
    * swap verifies the manifest STILL equals `snapshot`, failing fast
    * (nothing published, the half-product shard is vacuum fodder) when a
    * concurrent append swapped first — the append's rows can no longer
    * be silently dropped from the index. Package-visible so the race is
    * spec-testable deterministically. */
  private[graft] def compactFrom(snapshot: Seq[String],
      targetPartitions: Int = 0): Unit = {
    require(snapshot.nonEmpty, s"no shards published under $root")
    val target =
      if (targetPartitions > 0) targetPartitions else sizedPartitions(snapshot)
    val rewritten = writeShard(
      spark.read.parquet(snapshot.map(n => s"$root/$n"): _*)
        .repartition(target))
    swapManifest(Seq(rewritten), expect = Some(snapshot))
  }

  /** Delete shard directories and claims no longer referenced by the
    * manifest. Run at SINGLE-WRITER startup only (recoverOrphans'
    * contract): mid-flight readers of an older manifest may still hold
    * compacted-away shards open. Returns removed shard names. */
  def vacuum(): Seq[String] = {
    val live = shards().toSet
    val entries = Option(Paths.get(root).toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("shard_"))
    val deadDirs = entries.filter(f => f.isDirectory && !live.contains(f.getName))
    val deadClaims = entries.filter(f => f.isFile && f.getName.endsWith(".claim") &&
      !live.contains(f.getName.stripSuffix(".claim")))
    deadDirs.foreach(Scratch.rmTree)
    deadClaims.foreach(_.delete())
    // a crashed writer's stale manifest lock would block every future
    // swap; single-writer startup is the one safe point to clear it
    Files.deleteIfExists(Paths.get(root, "MANIFEST.lock"))
    deadDirs.map(_.getName).toSeq.sorted
  }

  /** Parquet part-file count across live shards — the quantity compaction
    * exists to bound; exposed for specs and capacity monitoring. */
  def liveFileCount(): Int =
    shards().map(n => Option(new java.io.File(s"$root/$n").listFiles())
      .getOrElse(Array.empty)
      .count(f => f.isFile && f.getName.endsWith(".parquet"))).sum
}

object ShardStore {
  /** Compaction output sizing goal (guide §6: 128 MB - 1 GB output
    * files); [[ShardStore.compact]] derives its partition count from the
    * live bytes so the rewritten shard lands near this per file. */
  val TargetFileBytes: Long = 128L << 20
}
