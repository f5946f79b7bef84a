package graftbench

import graft.streaming.StreamingJobs
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Paths

/** `dedup`: seeded document micro-batches through
  * StreamingJobs.dedupGateBatch(exactPairs = true), with planted exact and
  * near duplicates of documents in the same batch and in the accepted
  * corpus. The corpus and the index grow across batches. After each batch,
  * point lookups of the published accepted table. */
final class DedupWorkload(ctx: Ctx) extends Workload {
  import DedupModel._

  val itemsPerOp: Int = BatchDocs
  val warmupOps: Int = 3
  val maxOps: Int = MaxBatches
  private var batches: Seq[Seq[GDoc]] = Nil
  private var stagedDir = ""
  private var batchesRun = 0
  private val readFailures = scala.collection.mutable.ArrayBuffer[String]()
  private def acc = s"${ctx.work}/accepted"
  private def idx = s"${ctx.work}/index"
  private def rej = s"${ctx.work}/rejected"

  def generate(): Unit = batches = DedupModel.generate(ctx.seed)

  def stage(dir: String): String = {
    val d = new Digest
    batches.zipWithIndex.foreach { case (b, i) =>
      val lines = b.map(g => s"""{"doc_id":${g.id},"text":"${g.text}"}""")
      lines.foreach { l => d.add(l); d.add("\n") }
      Disk.writeLines(Paths.get(dir, f"batches/b_$i%05d.json"), lines)
    }
    d.hex
  }

  def prepare(staged: String): Unit = stagedDir = staged

  def runOp(i: Int): Lat = {
    val (_, lat) = Clock.time(ctx.tracer.span("streaming.StreamingJobs.dedupGateBatch", i) {
      val batch = ctx.spark.read.schema(DocSchema).json(f"$stagedDir/batches/b_$i%05d.json")
      StreamingJobs.dedupGateBatch(ctx.spark, batch, i.toLong, acc, idx, rej, Threshold,
        exactPairs = true)
    })
    batchesRun = i + 1
    lat
  }

  def runReads(i: Int): Seq[Lat] = {
    val r = Gen.stream(ctx.seed, 0x2000L + i)
    val b = batches(i)
    (0 until ReadsPerBatch).map { _ =>
      val g = b(r.nextInt(b.size))
      val (n, lat) = Clock.time(ctx.tracer.span("operators.Dedup.lookup", i)(
        ctx.spark.read.parquet(acc).filter(col("doc_id") === g.id).count()))
      val want = if (g.expect == Accepted) 1 else 0
      if (n != want) readFailures += s"batch $i doc ${g.id}: accepted lookup $n, model $want"
      lat
    }
  }

  private def accepted: Seq[GDoc] = batches.take(batchesRun).flatten.filter(_.expect == Accepted)

  def storedRatio(): Double = {
    val bytes = Seq(acc, idx, rej).map(d => Disk.du(d)._1).sum
    bytes.toDouble / accepted.map(_.text.length.toLong).sum
  }

  def check(): Seq[String] = {
    val spark = ctx.spark
    val run = batches.take(batchesRun).flatten
    val want = run.map(_.line).sorted
    val got = (spark.read.parquet(acc).select("doc_id").collect()
      .map(r => s"${r.getLong(0)}\taccepted\tnull") ++
      spark.read.parquet(rej).select("doc_id", "reason", "witness").collect()
        .map(r => s"${r.getLong(0)}\t${r.getString(1)}\t${r.getLong(2)}")).toSeq.sorted
    readFailures.toSeq ++ Check.lines("gate outcomes", want, got)
  }

  def layers(ops: Seq[(Int, Long, Long)]): Map[String, Double] = {
    val c = ctx.counters.get
    val label = "gate\\[([0-9]+)\\] (.+)".r
    val perOp = ops.map { case (i, s, e) =>
      val js = c.jobsIn(s, e)
      val byLabel = js.flatMap(j => j.desc.collect { case label(b, l) if b.toInt == i => l -> j })
        .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2) }
      (i, e - s, byLabel)
    }
    def phase(l: String): Double = Workload.med(perOp.map { case (_, _, m) =>
      Counters.unionMs(m.getOrElse(l, Nil).map(j => (j.startMs, j.endMs))) / 1000.0 })
    val unlabeled = Workload.med(perOp.map { case (_, wall, m) =>
      (wall - Counters.unionMs(m.values.flatten.map(j => (j.startMs, j.endMs)).toSeq)) / 1000.0 })
    def fused(f: StageAgg => Long): Double = Workload.med(perOp.map { case (_, _, m) =>
      m.getOrElse("fused pairs", Nil).map(j => f(j.agg)).sum.toDouble })
    // outcomes per timed batch; the index size per accepted document over
    // the whole corpus, bulk load included
    val timed = ops.map(o => batches(o._1))
    def per(reason: String): Double =
      Workload.med(timed.map(b => b.count(_.expect == reason).toDouble))
    val nAcc = batches.take(batchesRun).flatten.count(_.expect == Accepted)
    Map(
      "streaming.StreamingJobs.gate.stage1_window_s" -> phase("stage1 window"),
      "streaming.StreamingJobs.gate.shingle_s" -> phase("shingle"),
      "streaming.StreamingJobs.gate.fused_pairs_s" -> phase("fused pairs"),
      "streaming.StreamingJobs.gate.cluster_s" -> phase("cluster"),
      "streaming.StreamingJobs.gate.survivors_s" -> phase("survivors"),
      "streaming.StreamingJobs.gate.publish_rejected_s" -> phase("publish rejected"),
      "streaming.StreamingJobs.gate.publish_accepted_s" -> phase("publish accepted"),
      "streaming.StreamingJobs.gate.publish_index_s" -> phase("publish index"),
      "streaming.StreamingJobs.gate.unlabeled_s" -> unlabeled,
      "streaming.StreamingJobs.gate.fused_pairs_shuffle_bytes" -> fused(_.shuffleWriteBytes),
      "streaming.StreamingJobs.gate.fused_pairs_shuffle_records" -> fused(_.shuffleWriteRecords),
      "operators.Dedup.index_bytes_per_doc" -> Disk.du(idx)._1.toDouble / math.max(1, nAcc),
      "operators.Dedup.accepted" -> per(Accepted),
      "operators.Dedup.rejected_exact_batch" -> per("exact_batch"),
      "operators.Dedup.rejected_exact_corpus" -> per("exact_corpus"),
      "operators.Dedup.rejected_near_corpus" -> per("near_dup_corpus"),
      "operators.Dedup.rejected_near_batch" -> per("near_dup_batch"))
  }

  def close(): Unit = ()
}

/** Planted ground truth for the gate: fresh documents are accepted; an
  * exact copy is rejected against its original in the same batch
  * (`exact_batch`) or in the corpus (`exact_corpus`); a two-word edit
  * (word-3-gram Jaccard >= 0.8 > 0.5) is rejected against its original in
  * the corpus (`near_dup_corpus`) or in the same batch (`near_dup_batch`).
  * The original always has the lower id, so it is the witness. */
object DedupModel {
  val BatchDocs = 200
  /** Batch 0 bulk-loads a corpus through the gate, so the timed batches
    * each grow it by a small share and their cost stays comparable. */
  val BulkDocs = 1200
  val MaxBatches = 40
  val ReadsPerBatch = 3
  val Threshold = 0.5
  /** Planted per batch (each from a distinct original). */
  val ExactBatch = 10
  val ExactCorpus = 10
  val NearCorpus = 10
  val NearBatch = 10
  val Accepted = "accepted"
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  final case class GDoc(id: Long, text: String, expect: String, witness: Option[Long]) {
    def line: String = s"$id\t$expect\t${witness.map(_.toString).getOrElse("null")}"
  }

  def generate(seed: Long): Seq[Seq[GDoc]] = {
    val vocab = Gen.vocabulary(seed, 5000)
    val r = Gen.stream(seed, 4)
    val corpus = scala.collection.mutable.ArrayBuffer[GDoc]()
    def edit(text: String): String = {
      val w = text.split(" ")
      val pos = scala.collection.mutable.LinkedHashSet[Int]()
      while (pos.size < 2) pos += r.nextInt(w.length)
      pos.foreach { p =>
        var x = w(p)
        while (x == w(p)) x = vocab(r.nextInt(vocab.length))
        w(p) = x
      }
      w.mkString(" ")
    }
    def distinct(from: collection.IndexedSeq[GDoc], n: Int): Seq[GDoc] = {
      val pool = scala.collection.mutable.ArrayBuffer(from.toSeq: _*)
      (0 until n).map(_ => pool.remove(r.nextInt(pool.size)))
    }
    (0 until MaxBatches).map { b =>
      val fromCorpus = if (corpus.isEmpty) 0 else ExactCorpus + NearCorpus
      val nFresh = (if (b == 0) BulkDocs else BatchDocs) - ExactBatch - NearBatch - fromCorpus
      var next = b * 100000L + 1
      def id(): Long = { val x = next; next += 1; x }
      val fresh = (0 until nFresh).map { _ =>
        GDoc(id(), Gen.words(r, vocab, 50 + r.nextInt(21)).mkString(" "), Accepted, None)
      }
      val inBatch = distinct(fresh.toIndexedSeq, ExactBatch + NearBatch)
      val ofCorpus = if (fromCorpus == 0) Nil else distinct(corpus, fromCorpus)
      val planted =
        inBatch.take(ExactBatch).map(o => GDoc(id(), o.text, "exact_batch", Some(o.id))) ++
          inBatch.drop(ExactBatch).map(o =>
            GDoc(id(), edit(o.text), "near_dup_batch", Some(o.id))) ++
          ofCorpus.take(ExactCorpus).map(o => GDoc(id(), o.text, "exact_corpus", Some(o.id))) ++
          ofCorpus.drop(ExactCorpus).map(o =>
            GDoc(id(), edit(o.text), "near_dup_corpus", Some(o.id)))
      corpus ++= fresh
      fresh ++ planted
    }
  }
}
