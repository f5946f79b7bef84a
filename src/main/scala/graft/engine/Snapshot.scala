package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/** Atomic snapshot store (SURVEY §7.4): every mutation writes a NEW
  * versioned directory and then atomically swaps a pointer file — readers
  * always see a complete snapshot, never a partial write. This single
  * convention replaces ALL of the reference's compensating-rollback code
  * (data_ingestion.py:279,359,391,445,500,522): a failed job simply never
  * publishes its version.
  *
  * Layout: `<root>/v_<n>/` (parquet) + `<root>/CURRENT` (text file holding
  * the published version name). On a real cluster the pointer swap runs on
  * an atomic-rename filesystem or a transactional catalog; the pattern is
  * the same one table formats build on (versioned data + tiny pointer).
  */
class Snapshot(spark: SparkSession, root: String) extends VersionedTable {
  private val currentPtr = Paths.get(root, "CURRENT")

  /** The version number of a `v_<n>` directory or `v_<n>.claim` marker;
    * None for any other entry, which is ignored. */
  private def versionOf(name: String): Option[Long] =
    scala.util.Try(name.stripPrefix("v_").stripSuffix(".claim").toLong).toOption

  /** Highest published version, or None before the first publish. */
  def currentVersion(): Option[String] =
    if (Files.exists(currentPtr)) Some(Files.readString(currentPtr).trim) else None

  /** Read the published snapshot. */
  def read(): DataFrame = spark.read.parquet(currentPath())

  /** Filesystem path of the published version — the entry point for
    * multi-table snapshots written via [[publishVia]], whose readers
    * address subdirectories themselves. */
  def currentPath(): String = {
    val v = currentVersion().getOrElse(
      throw new IllegalStateException(s"no published snapshot under $root"))
    s"$root/$v"
  }

  /** Write `df` as the next version and publish it atomically. Returns the
    * published version name. A crash before the pointer move leaves the
    * previous snapshot intact and the half-written version unreferenced.
    *
    * Concurrency: the store is optimistic single-writer. The version is
    * claimed with an EXCLUSIVE create of a separate `<version>.claim`
    * marker before any data is written — two publishers racing from the
    * same CURRENT both compute the same next version, and the loser fails
    * fast here instead of silently overwriting the winner's snapshot and
    * racing the pointer swap. The marker must be a file the data write
    * never touches: claiming the version DIRECTORY itself would not work,
    * because Spark's overwrite-mode write deletes and re-creates the
    * target directory at job start, reopening the race window mid-write. */
  def publish(df: DataFrame): String =
    publishVia(v => df.write.mode("overwrite").parquet(v))

  /** [[publish]] with a caller-supplied layout: `write` receives the
    * claimed version DIRECTORY path and may produce any structure under
    * it (several tables, partitioned subdirectories) before the pointer
    * swap publishes them all atomically TOGETHER — the multi-table
    * snapshot a persisted index needs (lists + centroids must never be
    * readable at different versions). Same claim/swap protocol as
    * [[publish]]. */
  def publishVia(write: String => Unit): String = {
    val next = "v_" + (currentVersion().map(_.stripPrefix("v_").toLong + 1).getOrElse(0L))
    Files.createDirectories(Paths.get(root))
    Files.createFile(Paths.get(root, next + ".claim")) // throws FileAlreadyExistsException on a lost race
    write(s"$root/$next")
    Scratch.replaceFile(currentPtr, next)
    // the claim file is deliberately KEPT: a racer that read the old
    // CURRENT before this swap computes the same `next`, and only the
    // still-existing claim makes its createFile fail fast — deleting the
    // marker here would let that racer overwrite the just-published
    // snapshot. Claims accumulate one tiny file per publish between
    // restarts and are pruned by recoverOrphans, which runs when the
    // single writer starts up and no competing publisher can exist.
    next
  }

  /** Apply a pure transformation to the current snapshot and publish the
    * result — the engine's whole mutation protocol (read -> transform ->
    * publish; SURVEY §2.8 M1-M8 compose with this). */
  def mutate(f: DataFrame => DataFrame): String = publish(f(read()))

  /** Published HISTORY: every version directory at or below CURRENT, in
    * numeric order oldest-first. By the claim/swap protocol these are
    * exactly the versions that were once CURRENT (a crashed publish never
    * leaves a directory at or below the pointer; directories above it are
    * orphans and not history). Versions pruned by [[vacuum]] no longer
    * appear — retention bounds time travel, same as any table format. */
  def versions(): Seq[String] = {
    val current = currentVersion().map(_.stripPrefix("v_").toLong).getOrElse(-1L)
    Option(Paths.get(root).toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v_") &&
        versionOf(f.getName).exists(_ <= current))
      .map(_.getName).toSeq.sortBy(n => versionOf(n).getOrElse(Long.MaxValue))
  }

  /** TIME-TRAVEL read: the table exactly as of a published version — the
    * audit/debug/reproducibility primitive every versioned store owes its
    * users (which training run read which corpus snapshot?). Pure
    * directory read: no copy, no pointer movement, concurrent with any
    * publisher. Fails loudly on a version that was never published or
    * has been [[vacuum]]ed past. */
  def readAsOf(version: String): DataFrame = {
    val current = currentVersion().map(_.stripPrefix("v_").toLong).getOrElse(
      throw new IllegalStateException(s"no published snapshot under $root"))
    val n = scala.util.Try(version.stripPrefix("v_").toLong).getOrElse(
      throw new IllegalArgumentException(s"malformed version '$version'"))
    require(n <= current, s"version $version was never published (current is v_$current)")
    require(Files.isDirectory(Paths.get(root, version)),
      s"version $version is outside the retention window (vacuumed) or never completed")
    spark.read.parquet(s"$root/$version")
  }

  /** Roll back by RE-PUBLISHING an old version's content as the NEXT
    * version — history stays immutable and linear (the Iceberg/Delta
    * rollback shape): no version ever changes meaning under a reader,
    * [[vacuum]] retention applies unchanged, and the rollback is itself
    * one more published version, so it too can be undone. */
  def rollback(version: String): String = publish(readAsOf(version))

  /** History retention: delete published versions older than the newest
    * `keep` (the CURRENT version is always among the kept). Without this
    * the store grows one full table copy per mutation — at 100 TB that
    * is the difference between a snapshot store and a disk leak;
    * `keep >= 2` preserves one rollback target. Only version DIRECTORIES
    * at or BELOW current are touched (orphans above are
    * [[recoverOrphans]]' province). Claim markers are deliberately KEPT,
    * even for pruned versions: publish()'s fail-fast invariant — a stale
    * publisher that read an old CURRENT fails on the exclusive claim
    * create — must hold at ALL times, and vacuum (unlike recoverOrphans)
    * may legitimately run while such a racer exists; deleting a pruned
    * version's claim here would let that racer re-create the version and
    * swap CURRENT backwards. Claims are pruned only by [[recoverOrphans]]
    * at single-writer startup, when no competing publisher can exist.
    * Returns the pruned version names. */
  def vacuum(keep: Int = 2): Seq[String] = {
    require(keep >= 1, s"keep $keep must be >= 1")
    currentVersion().map(_.stripPrefix("v_").toLong) match {
      case None => Seq.empty
      case Some(current) =>
        val cutoff = current - keep + 1 // keep [cutoff, current]
        val entries = Option(Paths.get(root).toFile.listFiles()).getOrElse(Array.empty)
        val old = entries.filter(f =>
          f.isDirectory && f.getName.startsWith("v_") &&
            versionOf(f.getName).exists(_ < cutoff))
        old.foreach(Scratch.rmTree)
        // numeric version order: lexicographic would put v_10 before v_2
        old.map(_.getName).toSeq
          .sortBy(n => versionOf(n).getOrElse(Long.MaxValue))
    }
  }

  /** Crash cleanup, run by THE single writer at startup: delete version
    * claims (and any half-written directories) never referenced by the
    * pointer — a publish that crashed between claiming and the pointer
    * swap leaves them behind, and the exclusive claim create would
    * otherwise wedge the retry. Versions at or below CURRENT are history
    * and untouched. Returns the pruned version names. */
  def recoverOrphans(): Seq[String] = {
    val current = currentVersion().map(_.stripPrefix("v_").toLong).getOrElse(-1L)
    val entries = Option(Paths.get(root).toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("v_"))
    val orphans = entries.filter(f => f.isDirectory && versionOf(f.getName).exists(_ > current))
    // claims: above CURRENT = crashed publish (the wedge this method
    // exists for); at or below = left by a pre-cleanup version — stale
    // either way, and published data dirs are never touched
    val claims = entries.filter(f => f.isFile && f.getName.endsWith(".claim") &&
      versionOf(f.getName).isDefined)
    orphans.foreach(Scratch.rmTree)
    claims.foreach(_.delete())
    // numeric version order, like vacuum (listFiles order is unspecified)
    orphans.map(_.getName).toSeq.sortBy(n => versionOf(n).getOrElse(Long.MaxValue))
  }
}
