package graft.engine

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** Scratch directories for one JVM, the one recursive delete, the one
  * parquet-file stager and the one atomic small-file replace. */
object Scratch {

  /** Delete `f` and everything under it. A failed delete is ignored:
    * every caller tolerates leftovers, and its next run retries. */
  def rmTree(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(); ()
  }

  /** Run `body` on a fresh scratch directory and remove it afterwards,
    * also when `body` throws (a failed write leaves nothing behind). */
  private def withScratch[A](body: File => A): A = {
    val dir = Files.createTempDirectory("graft_stage").toFile
    try body(dir) finally rmTree(dir)
  }

  /** The parquet part files under `dir`, in name order. */
  private def partsIn(dir: File): Seq[File] =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).sortBy(_.getName).toSeq

  /** Write each frame as exactly ONE parquet file at its `file`, all in
    * one write job: the frames are tagged, unioned, hash-repartitioned by
    * the tag (each tag lands in one task) and written `partitionBy` the
    * tag, then each tag's part moves to its file. Rows inside a file are
    * sorted by all columns, so a file's row order never depends on the
    * run. The frames must share one schema. An EMPTY frame writes no tag
    * directory, so it falls back to a `coalesce(1)` write of its own,
    * which gives a 0-row file carrying the frame's schema. Parent
    * directories are created; an existing `file` fails the move. */
  def stageFiles(files: Seq[(File, DataFrame)]): Unit = if (files.nonEmpty) withScratch { dir =>
    val tagged = files.zipWithIndex.map { case ((_, df), i) => df.withColumn("__file", lit(i)) }
      .reduce(_ unionByName _)
    // the tag leads the sort: the partitioned write needs its rows
    // ordered by the tag, and a sort that does not start with it is
    // replaced by the write's own sort on the tag alone
    tagged.repartition(files.length, col("__file"))
      .sortWithinPartitions(("__file" +: files.head._2.columns).map(col).toIndexedSeq: _*)
      .write.partitionBy("__file").parquet(s"$dir/all")
    files.zipWithIndex.foreach { case ((dst, df), i) =>
      val part = partsIn(new File(dir, s"all/__file=$i")).headOption.getOrElse {
        df.coalesce(1).write.parquet(s"$dir/empty$i")
        partsIn(new File(dir, s"empty$i")).head
      }
      dst.getParentFile.mkdirs()
      Files.move(part.toPath, dst.toPath)
    }
  }

  /** Write `df` as it is partitioned to scratch and hand its parquet
    * parts, in name order, to `place`, which moves them where they go
    * and names them; whatever `place` leaves is removed with the
    * scratch directory. */
  def stageParts[A](df: DataFrame)(place: Seq[File] => A): A = withScratch { dir =>
    df.write.parquet(s"$dir/out")
    place(partsIn(new File(dir, "out")))
  }

  /** Replace the small text file `dst` with `text` atomically: write
    * `<dst>.tmp`, then move it over `dst` (`ATOMIC_MOVE`), so a reader
    * sees the old content or the new, never a torn write. The pointer
    * swap of every store ([[Snapshot]]'s `CURRENT`, [[ShardStore]]'s
    * `MANIFEST`, the Delta layout's `_last_checkpoint`). */
  def replaceFile(dst: Path, text: String): Unit = {
    val tmp = dst.resolveSibling(s"${dst.getFileName}.tmp")
    Files.writeString(tmp, text)
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Root for process-scoped scratch: prefer tmpfs (/dev/shm) when
    * present and writable. Every [[processTempDir]] consumer is
    * ephemeral by construction (PID-scoped name, shutdown-hook cleanup,
    * stale-PID reaping), and the streaming-gate replays are FSYNC-bound
    * on a disk-backed /tmp — each micro-batch commits state-store
    * deltas, offset/commit logs and sink files. A production deployment
    * keeps its real checkpoint/publish directories on durable storage;
    * this only relocates the harness scratch. */
  private lazy val root: File = {
    val shm = new File("/dev/shm")
    // capacity gate: Docker's default shm is 64 MB — a gate run writes
    // hundreds of MB of state/publishes, so tmpfs only qualifies when it
    // can actually hold a run
    if (shm.isDirectory && shm.canWrite && shm.getUsableSpace > (8L << 30)) shm
    else new File(System.getProperty("java.io.tmpdir"))
  }

  /** Per-process temp directory `<root>/<base>_<user>_<pid>`, removed by
    * a shutdown hook. Also sweeps dead siblings left by crashed JVMs (a
    * SIGKILL skips the hook; the pid suffix tells us whether the owner is
    * still alive). Delete ONLY when a pid parsed AND is provably dead — a
    * non-numeric suffix is some other tool's directory, never ours to
    * remove. */
  def processTempDir(base: String): String = {
    val prefix = s"${base}_${System.getProperty("user.name")}_"
    // reap stale dead-PID dirs in BOTH candidate roots: a host where the
    // root choice flips (shm shrank/grew between runs) must not leak the
    // other root's leftovers forever
    Seq(root, new File(System.getProperty("java.io.tmpdir")))
      .distinct.foreach { r =>
        Option(r.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith(prefix))
          .filter(f => scala.util.Try(f.getName.stripPrefix(prefix).toLong).toOption
            .exists(pid => !ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false)))
          .foreach(rmTree)
      }
    val dir = s"$root/$prefix${ProcessHandle.current().pid()}"
    sys.addShutdownHook(rmTree(new File(dir)))
    dir
  }
}
