package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Minimal JSON writer for the result and trace files (values: Map, Seq,
  * Array, String, Boolean, numbers, Option, null). */
object Json {
  def write(v: Any): String = { val sb = new StringBuilder; emit(sb, v); sb.toString }

  private def emit(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => emit(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb ++= "null" else sb ++= java.lang.Double.toString(d)
    case f: Float => emit(sb, f.toDouble)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','
        first = false
        str(sb, k.toString); sb += ':'; emit(sb, x)
      }
      sb += '}'
    case a: Array[_] => emit(sb, a.toSeq)
    case xs: Iterable[_] =>
      sb += '['
      var first = true
      xs.foreach { x => if (!first) sb += ','; first = false; emit(sb, x) }
      sb += ']'
    case other => str(sb, other.toString)
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}

/** Files the harness writes and measures. Staging writes go through a
  * hidden temp name and an atomic rename, so a watching stream never sees
  * a half-written file. */
object Disk {
  def writeAtomic(target: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling("." + target.getFileName.toString + ".tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
  }

  def writeLines(target: Path, lines: Iterable[String]): Unit =
    writeAtomic(target, lines.mkString("", "\n", "\n").getBytes(UTF_8))

  /** Bytes and regular files under `dir` (0 when absent). */
  def du(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      var bytes = 0L; var files = 0L
      val it = Files.walk(p).iterator()
      while (it.hasNext) {
        val f = it.next()
        if (Files.isRegularFile(f)) { bytes += Files.size(f); files += 1 }
      }
      (bytes, files)
    }
  }

  def rmTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val all = Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).iterator()
      while (all.hasNext) Files.deleteIfExists(all.next())
    }
  }
}

/** SHA-256 over every staged input byte, printed with each result so two
  * runs can show they measured the same inputs. */
final class Digest {
  private val md = java.security.MessageDigest.getInstance("SHA-256")
  def add(b: Array[Byte]): Unit = md.update(b)
  def add(s: String): Unit = md.update(s.getBytes(UTF_8))
  def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
}

object Digest {
  def of(lines: Iterable[String]): String = {
    val d = new Digest
    lines.foreach { l => d.add(l); d.add("\n") }
    d.hex
  }
}

/** Comparison of an engine's output rows with a model's, as text lines. */
object Check {
  /** Nothing when both hold the same lines in any order; otherwise one
    * message with the counts and the first lines only one side has. */
  def lines(what: String, expected: Seq[String], got: Seq[String]): Seq[String] = {
    val (e, g) = (expected.sorted, got.sorted)
    if (e == g) Nil
    else {
      val missing = e.diff(g).take(2)
      val extra = g.diff(e).take(2)
      Seq(s"$what: engine ${g.size} rows, model ${e.size}; model-only ${missing.mkString(" | ")}; " +
        s"engine-only ${extra.mkString(" | ")}")
    }
  }
}

/** Seeded, single-threaded input generation. Every generator draws from its
  * own stream derived from (seed, purpose), so one workload's inputs do not
  * shift when another's generator changes. */
object Gen {
  def stream(seed: Long, purpose: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(mix(seed * 0x9E3779B97F4A7C15L + purpose))

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val consonants = "bcdfghjklmnprstvz"
  private val vowels = "aeiou"

  /** `n` distinct lowercase pseudo-words (letters only: safe inside PDF
    * show-text strings and JSON without escaping). */
  def vocabulary(seed: Long, n: Int): Array[String] = {
    val r = stream(seed, 1)
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < n) {
      val syl = 2 + r.nextInt(3)
      val sb = new StringBuilder
      (0 until syl).foreach { _ =>
        sb += consonants.charAt(r.nextInt(consonants.length))
        sb += vowels.charAt(r.nextInt(vowels.length))
      }
      seen += sb.toString
    }
    seen.toArray
  }

  def words(r: java.util.SplittableRandom, vocab: Array[String], n: Int): Array[String] =
    Array.fill(n)(vocab(r.nextInt(vocab.length)))

  /** Embedding of one document, a function of (seed, id) only. */
  def embedding(seed: Long, id: Long, dim: Int): Array[Double] = {
    val r = stream(seed, 0x5EED0000L + id)
    Array.fill(dim)(math.rint((r.nextDouble() * 2 - 1) * 1e6) / 1e6)
  }
}

/** Wall and CPU time of one op or read. The CPU time is that of the JVM's
  * Java threads (Spark's task threads, the driver and the stream thread),
  * summed: the work graft did for the call. It leaves out the VM's own
  * JIT-compiler and GC threads, and it does not count the time the
  * hypervisor gave the machine's cores to other guests, which a wall clock
  * does. */
final case class Lat(wallS: Double, cpuS: Double)

object Clock {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU nanoseconds of every live Java thread so far, by thread id. */
  def cpu(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** CPU seconds the Java threads spent since `t0`. A thread started since
    * then counts whole; the part of a thread that ended since then is lost
    * (Spark keeps its task and stream threads alive between ops). */
  def cpuSince(t0: Map[Long, Long]): Double =
    cpu().iterator.map { case (id, c) => c - t0.getOrElse(id, 0L) }.sum / 1e9

  def time[T](f: => T): (T, Lat) = {
    val (w0, c0) = (System.nanoTime(), cpu())
    val r = f
    val w1 = System.nanoTime()
    (r, Lat((w1 - w0) / 1e9, cpuSince(c0)))
  }
}

/** Order statistics used inside a run (the cross-run statistics live in the
  * Python side, `stats.py`). */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
