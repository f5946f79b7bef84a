package graftbench

import graft.engine.GraftSession
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** One benchmark run of one workload in this JVM:
  *
  *   set-up   session start, then generation + staging repeated
  *            `SetupReps` times into fresh directories (the digests must
  *            agree: same seed, same bytes), the workload's engine-side
  *            preparation, and its warm-up ops;
  *   timed    ops back to back until `--seconds` have passed, each followed
  *            by its reads (closed loop, one client);
  *   check    every output against the workload's model.
  *
  * Raw samples go to the `--out` JSON file; `run.py` turns them into the
  * reported metrics. */
object Main {
  val SetupReps = 3
  /** Reads run after the last warm-up op (in whole rounds of its reads).
    * After only 2 (maintain's one round), the code of the timed reads was
    * still being JIT-compiled, and their CPU time rose by 17% when other
    * processes shared the cores; after 10, by 4%. */
  val WarmupReads = 10

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val work = a("work")
    val cores = a("cores").toInt
    val out = Paths.get(a("out"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val tSession = System.nanoTime()
    val spark = GraftSession.local(cores, "graftbench", Map(
      "spark.local.dir" -> s"$work/spark-local",
      "spark.sql.warehouse.dir" -> s"$work/warehouse"))
    val sessionS = (System.nanoTime() - tSession) / 1e9
    val jvmToSessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val counters = if (traced) Some(new Counters(spark)) else None
    counters.foreach(_.install())
    val tracer = new Tracer(traced, spark.sparkContext)
    val wl = Workload(name, Ctx(spark, tracer, counters, seed, s"$work/run", cores))

    val failures = scala.collection.mutable.ArrayBuffer[String]()
    val reps = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      wl.generate()
      val t1 = System.nanoTime()
      val digest = wl.stage(s"$work/staged_$r")
      val t2 = System.nanoTime()
      if (r > 0) Disk.rmTree(s"$work/staged_$r")
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9, digest)
    }
    val digests = reps.map(_._3).distinct
    if (digests.size != 1) failures += s"inputs differ between generations: ${digests.mkString(", ")}"

    val tPrep = System.nanoTime()
    wl.prepare(s"$work/staged_0")
    val prepareS = (System.nanoTime() - tPrep) / 1e9

    val tWarm = System.nanoTime()
    (0 until wl.warmupOps).foreach(i => wl.runOp(i))
    var warmReads = 0
    while (warmReads < WarmupReads) warmReads += wl.runReads(wl.warmupOps - 1).size
    val warmupS = (System.nanoTime() - tWarm) / 1e9
    val setupS = jvmToSessionS + Stats.median(reps.map(r => r._1 + r._2)) + prepareS + warmupS
    // after a fixed op count (the warm-up), so neither depends on how many
    // ops fit in the run, and outside both set-up and the timed phase
    val stored = wl.storedRatio()
    val liveHeap = liveHeapMb()

    val ops = scala.collection.mutable.ArrayBuffer[Lat]()
    val reads = scala.collection.mutable.ArrayBuffer[Lat]()
    val windows = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
    var attempted = 0
    var failed = 0
    val cpu0 = cpuTicks()
    val timedStart = System.nanoTime()
    val deadline = timedStart + (seconds * 1e9).toLong
    var i = wl.warmupOps
    var stop = false
    // an op starts only if half of a typical op still fits before the
    // deadline, so the run does not overshoot by a whole op
    var cycleS = 0.0
    def fits: Boolean = System.nanoTime() + (cycleS / 2 * 1e9).toLong < deadline
    while (!stop && fits && i < wl.maxOps) {
      val startMs = System.currentTimeMillis()
      val cycleStart = System.nanoTime()
      attempted += 1
      try {
        ops += wl.runOp(i)
        windows += ((i, startMs, System.currentTimeMillis()))
        val rs = wl.runReads(i)
        attempted += rs.size
        reads ++= rs
      } catch {
        case NonFatal(e) =>
          failed += 1
          failures += s"op $i failed: $e"
          stop = true
      }
      val c = (System.nanoTime() - cycleStart) / 1e9
      cycleS = if (cycleS == 0.0) c else math.min(cycleS, c)
      i += 1
    }
    // from the deadline's start to the end of the last op's reads
    val timedS = (System.nanoTime() - timedStart) / 1e9
    val peakRssMb = vmHwmMb()
    val cpu1 = cpuTicks()
    // share of the machine's CPU time the hypervisor gave to other guests
    // during the timed phase: the host noise a run-to-run spread reflects
    val stealShare = (cpu0 zip cpu1).map { case (a, b) =>
      val total = (b.total - a.total).toDouble
      if (total > 0) (b.steal - a.steal) / total else 0.0
    }.getOrElse(-1.0)

    val checkFailures =
      try wl.check()
      catch { case NonFatal(e) => Seq(s"check failed to run: $e") }
    failures ++= checkFailures
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        counters.foreach(_.drain())
        val c = counters.get
        val sparkPerOp = windows.toSeq.map { case (_, s, e) =>
          Counters.sparkLayer(c.jobsIn(s, e), e - s, c.planningMsIn(s, e), cores)
        }
        val sparkLayer = if (sparkPerOp.isEmpty) Map.empty[String, Double]
          else sparkPerOp.head.keys.map(k => k -> Workload.med(sparkPerOp.map(_(k)))).toMap
        wl.layers(windows.toSeq) ++ sparkLayer ++ Map(
          "engine.GraftSession.session_s" -> sessionS,
          "bench.generate_s" -> Stats.median(reps.map(_._1)),
          "bench.warmup_s" -> warmupS)
      }
    try wl.close() catch { case NonFatal(e) => failures += s"close failed: $e" }

    val result = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "cores" -> cores, "input_digest" -> digests.head,
      "correct" -> (failures.isEmpty && failed == 0 && ops.nonEmpty),
      "failures" -> failures.take(20).toSeq,
      "attempted" -> attempted, "failed" -> failed,
      "items_per_op" -> wl.itemsPerOp,
      "timed_s" -> timedS,
      "op_latencies_s" -> ops.map(_.wallS).toSeq, "op_cpu_s" -> ops.map(_.cpuS).toSeq,
      "read_latencies_s" -> reads.map(_.wallS).toSeq, "read_cpu_s" -> reads.map(_.cpuS).toSeq,
      "stored_bytes_per_user_byte" -> stored,
      "peak_rss_mb" -> peakRssMb, "host_steal_share" -> stealShare, "live_heap_mb" -> liveHeap,
      "setup" -> Map("jvm_to_session_s" -> jvmToSessionS, "session_s" -> sessionS,
        "generate_s" -> reps.map(_._1), "stage_s" -> reps.map(_._2),
        "prepare_s" -> prepareS, "warmup_s" -> warmupS, "setup_s" -> setupS),
      "layers" -> layers,
      "spans" -> tracer.toJson,
      "jobs" -> counters.map(_.jobsJson).getOrElse(Nil),
      "progress" -> counters.map(_.progress.toSeq).getOrElse(Nil))
    Files.write(out, Json.write(result).getBytes(UTF_8))
    spark.stop()
  }

  /** Heap in use after a full collection: the data the run holds live.
    * The second collection frees what Spark's context cleaner released in
    * response to the first. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  final case class CpuTicks(total: Long, steal: Long)

  /** Machine-wide CPU ticks and the stolen part, from the first line of
    * /proc/stat (None off Linux). */
  private def cpuTicks(): Option[CpuTicks] = {
    val p = Paths.get("/proc/stat")
    if (!Files.exists(p)) None
    else {
      val f = Files.readAllLines(p).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      Some(CpuTicks(f.take(8).sum, if (f.length > 7) f(7) else 0L))
    }
  }

  /** Peak resident set of this process in MB (VmHWM), or -1 off Linux. */
  private def vmHwmMb(): Double = {
    val p = Paths.get("/proc/self/status")
    if (!Files.exists(p)) -1.0
    else {
      val line = Files.readAllLines(p).toArray.map(_.toString).find(_.startsWith("VmHWM:"))
      line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    }
  }
}
