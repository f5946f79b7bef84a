package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.execution.QueryExecution
import scala.collection.mutable

/** One span: a timed call from the benchmark into a graft entry point.
  * Times are epoch milliseconds, the clock Spark's listener events use. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startMs: Long, var endMs: Long)

/** Spans kept in memory and written out when the run ends. With tracing
  * off, `span` only runs its body. With tracing on, it also sets a Spark
  * job group named after the span, so jobs started on this thread are
  * attributed to it. Spark's `setJobDescription`, which graft's gate uses
  * for its phase labels, leaves the group alone. */
final class Tracer(val on: Boolean, sc: SparkContext) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]

  def span[A](name: String, op: Int)(f: => A): A =
    if (!on) f
    else {
      val s = Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1), op,
        System.currentTimeMillis(), -1L)
      spans += s
      stack = s :: stack
      sc.setJobGroup(Tracer.group(s.id), name, interruptOnCancel = false)
      try f
      finally {
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.group(p.id), p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def toJson: Seq[Map[String, Any]] = spans.map(s => Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs)).toSeq
}

object Tracer {
  private val GroupPrefix = "graftbench-span-"
  def group(id: Int): String = GroupPrefix + id

  /** The span id a job group names, if the group is a span's. */
  def spanOf(group: String): Option[Int] =
    if (group.startsWith(GroupPrefix)) group.stripPrefix(GroupPrefix).toIntOption else None
}

/** Task counters summed over the tasks of one job. */
final class StageAgg {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L

  def add(o: StageAgg): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleWriteRecords += o.shuffleWriteRecords
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    outputBytes += o.outputBytes; outputRecords += o.outputRecords
  }
}

/** One job as the listener saw it: the span whose job group was in force
  * when it started, its job description, the streaming batch it belongs to
  * (if any), and the summed task counters of the stages it ran. */
final case class JobRec(id: Int, span: Option[Int], desc: Option[String],
    batch: Option[Long], startMs: Long, var endMs: Long) {
  val agg = new StageAgg
}

/** Planning time of one SQL execution (analysis + optimization + physical
  * planning, from the execution's phase tracker). */
final case class PlanRec(startMs: Long, planningMs: Long)

/** Listener-side counters for the traced run: jobs, stages, tasks, SQL
  * planning and streaming progress, all read from Spark's public listener
  * interfaces. Nothing inside graft is instrumented. */
final class Counters(spark: SparkSession) extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  // a stage belongs to the first job that lists it: later jobs that list it
  // again reuse its shuffle output and skip it
  private val stageJob = mutable.HashMap[Int, Int]()
  val plans = mutable.ArrayBuffer[PlanRec]()
  val progress = mutable.ArrayBuffer[Map[String, Any]]()

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val rec = JobRec(e.jobId, prop(e.properties, "spark.jobGroup.id").flatMap(Tracer.spanOf),
      prop(e.properties, "spark.job.description"),
      prop(e.properties, "streaming.sql.batchId").flatMap(_.toLongOption),
      e.time, -1L)
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val job = stageJob.get(e.stageId).flatMap(jobs.get)
    if (m != null && job.isDefined) {
      val a = job.get.agg
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.outputBytes += m.outputMetrics.bytesWritten
      a.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        val start = ph.values.map(_.startTimeMs).min
        val ms = ph.values.map(p => p.endTimeMs - p.startTimeMs).sum
        Counters.this.synchronized { plans += PlanRec(start, ms) }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      import scala.jdk.CollectionConverters._
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
      Counters.this.synchronized {
        progress += Map("batch" -> p.batchId, "input_rows" -> p.numInputRows,
          "duration_ms" -> d)
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Block until every event already posted has been delivered (the
    * streaming and SQL execution listeners hang off the same bus). */
  def drain(): Unit = org.apache.spark.GraftbenchBus.drain(spark.sparkContext)

  def jobsIn(startMs: Long, endMs: Long): Seq[JobRec] = synchronized {
    jobs.values.filter(j => j.startMs >= startMs && j.startMs <= endMs).toSeq
  }

  def planningMsIn(startMs: Long, endMs: Long): Long = synchronized {
    plans.filter(p => p.startMs >= startMs && p.startMs <= endMs).map(_.planningMs).sum
  }

  def jobsJson: Seq[Map[String, Any]] = synchronized {
    jobs.values.map(j => Map(
      "id" -> j.id, "span" -> j.span, "desc" -> j.desc, "batch" -> j.batch,
      "start_ms" -> j.startMs, "end_ms" -> j.endMs, "tasks" -> j.agg.tasks,
      "run_ms" -> j.agg.runMs, "cpu_ms" -> j.agg.cpuNs / 1e6, "gc_ms" -> j.agg.gcMs,
      "shuffle_write_bytes" -> j.agg.shuffleWriteBytes,
      "shuffle_write_records" -> j.agg.shuffleWriteRecords,
      "spill_bytes" -> j.agg.spillBytes, "output_bytes" -> j.agg.outputBytes,
      "output_records" -> j.agg.outputRecords)).toSeq
  }
}

object Counters {
  /** Total milliseconds covered by the union of the given intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    val s = iv.filter { case (a, b) => b >= a }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    s.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The `spark.*` per-op counters for the jobs that ran inside one op of
    * `wallMs` milliseconds on `cores` cores. */
  def sparkLayer(js: Seq[JobRec], wallMs: Long, planningMs: Long,
      cores: Int): Map[String, Double] = {
    val a = new StageAgg
    js.foreach(j => a.add(j.agg))
    val busyMs = unionMs(js.map(j => (j.startMs, j.endMs)))
    Map(
      "spark.jobs_per_op" -> js.size.toDouble,
      "spark.tasks_per_op" -> a.tasks.toDouble,
      "spark.planning_s" -> planningMs / 1000.0,
      "spark.driver_s" -> math.max(0L, wallMs - busyMs) / 1000.0,
      "spark.executor_run_s" -> a.runMs / 1000.0,
      "spark.executor_cpu_s" -> a.cpuNs / 1e9,
      "spark.idle_core_s" -> math.max(0.0, cores * busyMs / 1000.0 - a.runMs / 1000.0),
      "spark.shuffle_bytes" -> a.shuffleWriteBytes.toDouble,
      "spark.spill_bytes" -> a.spillBytes.toDouble,
      "spark.gc_s" -> a.gcMs / 1000.0)
  }
}
