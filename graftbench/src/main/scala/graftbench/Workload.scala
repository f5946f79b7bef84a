package graftbench

import org.apache.spark.sql.SparkSession

/** What every workload sees: the session, the tracer (a no-op unless the
  * run is traced), the listener counters of a traced run, the seed and a
  * fresh work directory. */
final case class Ctx(spark: SparkSession, tracer: Tracer, counters: Option[Counters],
    seed: Long, work: String, cores: Int)

/** A closed-loop workload with one client: `runOp` returns only when graft
  * has finished the op, then `runReads` issues the reads that follow it. */
trait Workload {
  /** Items one op completes (PDFs, commands or documents). */
  def itemsPerOp: Int

  /** Ops run before timing starts (JIT, caches, lazy set-up). */
  def warmupOps: Int

  /** Upper bound on ops, set by how many inputs `generate` prepares. */
  def maxOps: Int

  /** Build every input in memory from the seed alone. */
  def generate(): Unit

  /** Write the generated inputs under `dir`; returns the SHA-256 of every
    * byte written. */
  def stage(dir: String): String

  /** Engine-side set-up on the staged inputs (initial state, streams). */
  def prepare(stagedDir: String): Unit

  /** One op; returns its wall and CPU time. `i` counts warm-up ops
    * first, then timed ops. */
  def runOp(i: Int): Lat

  /** The reads that follow op `i`; returns each read's wall and CPU time. */
  def runReads(i: Int): Seq[Lat]

  /** Bytes on disk under the workload's output roots divided by the bytes
    * of live user text, as of now. */
  def storedRatio(): Double

  /** Compare every output with the workload's own model; returns the
    * mismatches (empty when correct). */
  def check(): Seq[String]

  /** Per-layer metrics of a traced run. `ops` are the timed ops'
    * (index, start ms, end ms). */
  def layers(ops: Seq[(Int, Long, Long)]): Map[String, Double]

  def close(): Unit
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "ingest" => new IngestWorkload(ctx)
    case "maintain" => new MaintainWorkload(ctx)
    case "dedup" => new DedupWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Median of the per-op values, or 0 when the layer did no work. */
  def med(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
}
