package graft.engine

import java.io.File

/** Scratch directories for one JVM, and the one recursive delete. */
object Scratch {

  /** Delete `f` and everything under it. A failed delete is ignored:
    * every caller tolerates leftovers, and its next run retries. */
  def rmTree(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(); ()
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
