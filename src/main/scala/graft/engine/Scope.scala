package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.BlockBridge
import scala.collection.mutable.ArrayBuffer

/** Driver-side state scoped to a block and undone when the block exits:
  * per-batch pinned frames, job-description labels, session conf
  * overrides, and the bounded collect behind every driver fast path. */
object Scope {

  /** The releases registered by the innermost [[batch]] on this thread.
    * Thread-scoped, because each streaming query runs its micro-batches
    * on its own thread: a JVM-global registry would let one stream's
    * release drop a concurrent stream's in-flight blocks. Not inherited:
    * a pool thread Spark starts inside a batch would otherwise keep that
    * batch's frames reachable for as long as the pool lives. */
  private val releases = new ThreadLocal[Option[ArrayBuffer[() => Unit]]] {
    override def initialValue(): Option[ArrayBuffer[() => Unit]] = None
  }

  /** Run `body`, then release every frame it pinned or checkpointed. The
    * result must already be materialized (written out or collected) when
    * `body` returns: later reads of a released frame recompute it, or
    * fail for a checkpoint. */
  def batch[A](body: => A): A = {
    val outer = releases.get
    val buf = ArrayBuffer.empty[() => Unit]
    releases.set(Some(buf))
    try body
    finally {
      releases.set(outer)
      buf.foreach(_())
    }
  }

  private def register(release: () => Unit): Unit = releases.get.foreach(_ += release)

  /** `df.cache()`, unpersisted when the enclosing [[batch]] ends. Outside
    * a batch the cache is left to its caller. */
  def pin(df: DataFrame): DataFrame = {
    val c = df.cache()
    register(() => c.unpersist(blocking = false))
    c
  }

  /** `df.localCheckpoint(eager)`, whose blocks the enclosing [[batch]]
    * drops when it ends instead of leaving them to the ContextCleaner's
    * periodic GC. Outside a batch this is a plain local checkpoint. A lazy
    * checkpoint is materialized by the first action over it, which saves
    * a job when the caller reads it at once. The blocks are removed by RDD
    * id: `RDD.unpersist` would log a warning for every locally
    * checkpointed RDD, and dropping these is what the batch is for. */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame = {
    val c = df.localCheckpoint(eager)
    register(() => c.queryExecution.logical.foreach {
      case r: LogicalRDD => BlockBridge.unpersist(r.rdd)
      case _ =>
    })
    c
  }

  /** Run `body` with `label` as the job description of every job it
    * starts, then restore the description in force before (an outer
    * phase's, a job group's, or none). */
  def phase[A](label: String)(body: => A): A = {
    val sc = SparkSession.active.sparkContext
    val outer = sc.getLocalProperty(JobDescription)
    sc.setLocalProperty(JobDescription, label)
    try body finally sc.setLocalProperty(JobDescription, outer)
  }

  private val JobDescription = "spark.job.description"

  /** Run `body` with the session conf overridden by `settings`, then put
    * back each prior value; a key the session had not set is unset again. */
  def withConf[A](spark: SparkSession, settings: (String, String)*)(body: => A): A = {
    val prior = settings.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Every row of `df` when it has at most `budget` rows, else None —
    * one `take(budget + 1)` job, whose work is bounded by the budget and
    * discarded on overflow. This decides a driver fast path's regime and
    * fetches its input at once. A budget below 1 or at `Int.MaxValue - 1`
    * and above skips the probe: the caller takes its distributed path. */
  def collectWithin(df: DataFrame, budget: Long): Option[Array[Row]] =
    if (budget < 1 || budget >= Int.MaxValue - 1) None
    else Some(df.take(budget.toInt + 1)).filter(_.length <= budget)
}
