package graftbench

import graft.operators.Similarity
import graft.streaming.CommandDispatch
import graft.streaming.CommandDispatch.EngineState
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

/** `maintain`: command files of 40 commands (the reference's bounded
  * queue) go through CommandDispatch.runStream with the expiry sweep, one
  * micro-batch per file. After each batch, filtered top-k reads over the
  * active documents through Similarity.annTopKFilteredTagged. */
final class MaintainWorkload(ctx: Ctx) extends Workload {
  import MaintainModel._

  val itemsPerOp: Int = BatchSize
  val warmupOps: Int = 2
  val maxOps: Int = MaxBatches
  private var plan: Plan = _
  private var stagedDir = ""
  private var query: StreamingQuery = _
  private val done = new LinkedBlockingQueue[(Long, Long)]()
  @volatile private var lastState: EngineState = _
  private var emb: DataFrame = _
  private val reads = scala.collection.mutable.ArrayBuffer[ReadResult]()
  private val cachedBlocks = scala.collection.mutable.ArrayBuffer[Double]()
  private var batchesRun = 0
  private def stateDir = s"${ctx.work}/state"
  private def cmdDir = s"${ctx.work}/commands"

  def generate(): Unit = plan = MaintainModel.plan(ctx.seed)

  def stage(dir: String): String = {
    val d = new Digest
    def put(name: String, lines: Seq[String]): Unit = {
      lines.foreach { l => d.add(l); d.add("\n") }
      Disk.writeLines(Paths.get(dir, name), lines)
    }
    plan.batches.zipWithIndex.foreach { case (b, i) =>
      put(f"batches/b_$i%05d.json", b.map(_.json))
    }
    put("embeddings.json", plan.embeddingIds.map { id =>
      s"""{"vec_id":$id,"embedding":[${Gen.embedding(ctx.seed, id, Dim).mkString(",")}]}"""
    })
    d.hex
  }

  def prepare(staged: String): Unit = {
    stagedDir = staged
    val spark = ctx.spark
    spark.read.schema(EmbSchema).json(s"$staged/embeddings.json")
      .write.mode("overwrite").parquet(s"${ctx.work}/embeddings")
    emb = spark.read.parquet(s"${ctx.work}/embeddings")
    // the stream starts from an empty state; its first batch uploads the
    // initial corpus
    val empty = EngineState(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], DocsSchema),
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], SnippetsSchema),
      spark.createDataFrame(spark.sparkContext.parallelize(
        BaseCategories.toSeq.map { case (id, n) => Row(id, n) }, 1), CatsSchema))
    Files.createDirectories(Paths.get(cmdDir))
    val commands = spark.readStream.schema(CommandDispatch.commandSchema)
      .option("maxFilesPerTrigger", 1).json(cmdDir)
    query = CommandDispatch.runStream(spark, commands, empty, stateDir,
      (id, s) => { lastState = s; done.put((id, System.nanoTime())) },
      maintenance = CommandDispatch.expiryMaintenance(lit(AsOf)),
      checkpoint = Some(s"${ctx.work}/checkpoint"))
  }

  /** Latency from the command file becoming visible to `onBatch`
    * returning; CPU time until the driver has seen it return. */
  def runOp(i: Int): Lat = ctx.tracer.span("streaming.CommandDispatch.batch", i) {
    val src = Paths.get(stagedDir, f"batches/b_$i%05d.json")
    val tmp = Paths.get(cmdDir, f".b_$i%05d.json.tmp")
    Files.copy(src, tmp)
    val (t0, c0) = (System.nanoTime(), Clock.cpu())
    Files.move(tmp, Paths.get(cmdDir, f"b_$i%05d.json"), StandardCopyOption.ATOMIC_MOVE)
    val got = done.poll(120, TimeUnit.SECONDS)
    val cpuS = Clock.cpuSince(c0)
    if (got == null) {
      val err = Option(query.exception).map(_.toString).getOrElse("no batch within 120 s")
      throw new IllegalStateException(s"batch $i: $err")
    }
    require(got._1 == i, s"batch $i: stream reported batch ${got._1}")
    batchesRun = i + 1
    if (ctx.tracer.on) cachedBlocks +=
      ctx.spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toDouble).sum
    Lat((got._2 - t0) / 1e9, cpuS)
  }

  def runReads(i: Int): Seq[Lat] = (0 until ReadsPerBatch).map { j =>
    val q = readQuery(ctx.seed, i, j)
    val ((rows, arm), lat) = Clock.time(ctx.tracer.span("operators.Similarity.topk", i) {
      val docs = lastState.docs.filter(col("document_status") === "Active")
        .select(col("document_id").as("vec_id"), col("category_id"))
      val corpus = docs.join(emb, "vec_id")
      val qdf = ctx.spark.createDataFrame(java.util.List.of(Row(q.id, q.vec.toSeq)), EmbSchema)
      val (res, strategy) = Similarity.annTopKFilteredTagged(corpus, qdf, K,
        col("category_id") === q.category)
      (res.orderBy("rank").collect().map(r => (r.getAs[Long]("n_id"), r.getAs[Double]("score"))).toSeq,
        strategy.name)
    })
    reads += ReadResult(i, q, rows, arm)
    lat
  }

  def storedRatio(): Double = {
    val model = replay(plan, batchesRun)
    Disk.du(stateDir)._1.toDouble / model.liveTextBytes
  }

  def check(): Seq[String] = {
    val spark = ctx.spark
    val out = scala.collection.mutable.ArrayBuffer[String]()
    if (batchesRun == 0) return Seq("no batch ran")
    val model = new Model
    val snaps = scala.collection.mutable.HashMap[Int, Map[Long, Int]]()
    val expectedMsgs = (0 until batchesRun).map { b =>
      val m = model.apply(plan.batches(b))
      snaps(b) = model.active
      m
    }
    val msgs = spark.read.parquet((0 until batchesRun).map(b => s"$stateDir/$b/messages"): _*)
      .withColumn("f", input_file_name()).collect()
      .map { r =>
        val f = r.getAs[String]("f")
        val b = "/state/([0-9]+)/messages".r.findFirstMatchIn(f).get.group(1).toInt
        b -> msgLine(r)
      }.groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).toSeq }
    (0 until batchesRun).foreach { b =>
      out ++= Check.lines(s"batch $b messages", expectedMsgs(b), msgs.getOrElse(b, Nil))
    }
    val last = s"$stateDir/${batchesRun - 1}"
    val docs = spark.read.parquet(s"$last/docs").collect().map(docLine).toSeq
    out ++= Check.lines("final docs", model.docLines, docs)
    val snips = spark.read.parquet(s"$last/snippets")
      .groupBy("document_id", "document_status").count().collect()
      .map(r => s"${r.getLong(0)}\t${r.getString(1)}\t${r.getLong(2)}").toSeq
    out ++= Check.lines("final snippets per document", model.snippetLines, snips)
    reads.foreach(r => out ++= checkRead(r, snaps(r.batch), ctx.seed))
    out.toSeq
  }

  def layers(ops: Seq[(Int, Long, Long)]): Map[String, Double] = {
    val c = ctx.counters.get
    val timed = ops.map(_._1.toLong).toSet
    val prog = c.progress.filter(p => timed(p("batch").asInstanceOf[Long]))
    def dur(k: String): Double = Workload.med(prog.map(p =>
      p("duration_ms").asInstanceOf[Map[String, Long]].getOrElse(k, 0L) / 1000.0))
    val perBatch = ops.map { case (i, _, _) => c.jobs.values.filter(_.batch.contains(i.toLong)).toSeq }
    val timedReads = reads.filter(r => timed(r.batch.toLong))
    val model = new Model
    val corpusRows = scala.collection.mutable.ArrayBuffer[Double]()
    val expired = scala.collection.mutable.ArrayBuffer[Double]()
    (0 until batchesRun).foreach { b =>
      model.apply(plan.batches(b))
      if (timed(b.toLong)) {
        expired += model.lastExpired
        timedReads.filter(_.batch == b).foreach(r =>
          corpusRows += model.active.count(_._2 == r.q.category))
      }
    }
    val arms = timedReads.groupBy(_.arm).map { case (a, xs) => a -> xs.size.toDouble }
    val readSpans = ctx.tracer.spans.filter(s => s.name == "operators.Similarity.topk" && timed(s.op.toLong))
    Map(
      "streaming.CommandDispatch.add_batch_s" -> dur("addBatch"),
      "streaming.CommandDispatch.latest_offset_s" -> dur("latestOffset"),
      "streaming.CommandDispatch.query_planning_s" -> dur("queryPlanning"),
      "streaming.CommandDispatch.wal_commit_s" -> dur("walCommit"),
      "streaming.CommandDispatch.state_write_s" -> Workload.med(perBatch.map(js =>
        Counters.unionMs(js.map(j => (j.startMs, j.endMs))) / 1000.0)),
      "streaming.CommandDispatch.bytes_written_per_cmd" -> Workload.med(perBatch.map(js =>
        js.map(_.agg.outputBytes).sum.toDouble / BatchSize)),
      "streaming.CommandDispatch.rows_written_per_cmd" -> Workload.med(perBatch.map(js =>
        js.map(_.agg.outputRecords).sum.toDouble / BatchSize)),
      "streaming.CommandDispatch.jobs_per_batch" -> Workload.med(perBatch.map(_.size.toDouble)),
      "streaming.CommandDispatch.cached_blocks_left" ->
        (if (cachedBlocks.isEmpty) 0.0 else cachedBlocks.max),
      "operators.Mutations.expired_per_batch" -> Workload.med(expired),
      "operators.Similarity.topk_s" ->
        Workload.med(readSpans.map(s => (s.endMs - s.startMs) / 1000.0)),
      "operators.Similarity.corpus_rows" -> Workload.med(corpusRows),
      "operators.Similarity.arm_exact" -> arms.getOrElse("exact", 0.0),
      "operators.Similarity.arm_ivf" -> arms.getOrElse("ivf", 0.0),
      "operators.Similarity.arm_lsh" -> arms.getOrElse("lsh", 0.0),
      "operators.Similarity.arm_hnsw" -> arms.getOrElse("hnsw", 0.0),
      "operators.Similarity.recall" -> Workload.med(timedReads.map(r =>
        recall(r, snapshotAt(r.batch), ctx.seed))))
  }

  private def snapshotAt(b: Int): Map[Long, Int] = replay(plan, b + 1).active

  def close(): Unit = if (query != null) {
    query.stop()
    query.awaitTermination(60000)
  }
}

/** The command plan and a plain-Scala model of the queue semantics
  * (per-batch order: category adds, uploads, removals by name, category
  * removals, then the expiry sweep) that the engine's outputs are checked
  * against. */
object MaintainModel {
  val BatchSize = 40
  val MaxBatches = 60
  val InitialDocs = 400
  val ReadsPerBatch = 2
  val K = 10
  val Dim = 16
  val AsOf = "2026-01-01"
  val BaseCategories: Map[Int, String] = (1 to 5).map(i => i -> s"cat_$i").toMap
  /** Per batch: new uploads (of which `PastExpiry` expire in the same
    * batch's sweep), uploads reusing a live name, removals of active and of
    * expired documents, category adds (one reusing a name) and removes.
    * Uploads that stay active equal active removals, so the live corpus
    * keeps its size. */
  val NewUploads = 14
  val PastExpiry = 4
  val DupUploads = 2
  val ActiveRemovals = 10
  val ExpiredRemovals = 4
  val CatAdds = 5
  val CatRemoves = 5
  require(NewUploads + DupUploads + ActiveRemovals + ExpiredRemovals + CatAdds + CatRemoves
    == BatchSize)
  require(NewUploads - PastExpiry == ActiveRemovals)

  val EmbSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(DoubleType))))
  val DocsSchema: StructType = StructType(Seq(
    StructField("document_id", LongType), StructField("document_name", StringType),
    StructField("category_id", IntegerType), StructField("category_name", StringType),
    StructField("text", StringType), StructField("document_status", StringType),
    StructField("document_expiryDate", StringType)))
  val SnippetsSchema: StructType = StructType(Seq(
    StructField("document_id", LongType), StructField("document_name", StringType),
    StructField("category_id", IntegerType), StructField("snippet_id", IntegerType),
    StructField("snippet_text", StringType), StructField("document_status", StringType)))
  val CatsSchema: StructType = StructType(Seq(
    StructField("category_id", IntegerType), StructField("category_name", StringType)))

  final case class Cmd(action: Int, docId: Option[Long] = None, name: Option[String] = None,
      catId: Option[Int] = None, catName: Option[String] = None,
      text: Option[String] = None, expiry: Option[String] = None) {
    def json: String = {
      def s(x: String) = "\"" + x + "\""
      Seq(Some("action_code" -> action.toString),
        docId.map(v => "document_id" -> v.toString), name.map(v => "document_name" -> s(v)),
        catId.map(v => "category_id" -> v.toString), catName.map(v => "category_name" -> s(v)),
        text.map(v => "text" -> s(v)), expiry.map(v => "document_expiryDate" -> s(v)))
        .flatten.map { case (k, v) => s"${s(k)}:$v" }.mkString("{", ",", "}")
    }
  }

  final case class MDoc(id: Long, name: String, cat: Int, catName: Option[String],
      text: String, status: String, expiry: Option[String]) {
    def nSnippets: Int = {
      val n = text.trim.split("\\s+").length
      (n - 1) / 3 + 1
    }
  }

  final class Model {
    val docs = scala.collection.mutable.LinkedHashMap[String, MDoc]()
    val cats = scala.collection.mutable.LinkedHashMap[Int, String]() ++= BaseCategories
    var lastExpired = 0

    /** Apply one batch; returns one message line per command. */
    def apply(batch: Seq[Cmd]): Seq[String] = {
      val names0 = docs.keySet.toSet
      val catNames0 = cats.values.toSet
      batch.filter(_.action == 2).foreach { c =>
        if (!cats.values.exists(_ == c.catName.get)) cats(c.catId.get) = c.catName.get
      }
      batch.filter(_.action == 1).foreach { c =>
        if (!names0(c.name.get)) docs(c.name.get) = MDoc(c.docId.get, c.name.get, c.catId.get,
          cats.get(c.catId.get), c.text.get, "Active", c.expiry)
      }
      batch.filter(_.action == 0).foreach(c => docs.remove(c.name.get))
      val gone = batch.filter(_.action == 3).map(_.catId.get).toSet
      gone.foreach(cats.remove)
      docs.filter { case (_, d) => gone(d.cat) }.keys.toSeq.foreach(docs.remove)
      lastExpired = 0
      docs.foreach { case (n, d) =>
        if (d.status == "Active" && d.expiry.exists(_ < AsOf)) {
          docs(n) = d.copy(status = "Expired"); lastExpired += 1
        }
      }
      batch.map { c =>
        val msg = c.action match {
          case 1 if names0(c.name.get) => s"Document ${c.name.get} already exists"
          case 1 => s"Document ${c.name.get} was uploaded"
          case 0 => s"Document ${c.name.get} was removed"
          case 2 if catNames0(c.catName.get) => s"Category ${c.catName.get} already exists"
          case 2 => s"Category ${c.catName.get} was added"
          case 3 => s"Category ${c.catId.get} was removed"
        }
        Seq(c.action.toString, c.name.getOrElse("null"), c.catName.getOrElse("null"), msg)
          .mkString("\t")
      }
    }

    /** Active document id -> category. */
    def active: Map[Long, Int] =
      docs.values.filter(_.status == "Active").map(d => d.id -> d.cat).toMap

    def docLines: Seq[String] = docs.values.map(d =>
      Seq(d.id, d.name, d.cat, d.catName.getOrElse("null"), d.status,
        d.expiry.getOrElse("null")).mkString("\t")).toSeq.sorted

    def snippetLines: Seq[String] =
      docs.values.map(d => s"${d.id}\t${d.status}\t${d.nSnippets}").toSeq.sorted

    def liveTextBytes: Long = docs.values.filter(_.status == "Active")
      .map(_.text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum
  }

  /** Command batches in stream order; batch 0 uploads the initial corpus. */
  final case class Plan(batches: Seq[Seq[Cmd]], embeddingIds: Seq[Long])

  /** The whole command plan, generated by running the model: removals
    * pick documents that exist before their batch. */
  def plan(seed: Long): Plan = {
    val vocab = Gen.vocabulary(seed, 3000)
    val r = Gen.stream(seed, 3)
    var nextId = 1L
    def text(): String = Gen.words(r, vocab, 40 + r.nextInt(41)).mkString(" ")
    def upload(expiry: Option[String]): Cmd = {
      val id = nextId; nextId += 1
      Cmd(1, docId = Some(id), name = Some(s"doc_$id"), catId = Some(1 + r.nextInt(5)),
        text = Some(text()), expiry = expiry)
    }
    def future(): Option[String] =
      if (r.nextInt(2) == 0) None else Some(f"2099-${1 + r.nextInt(12)}%02d-15")
    def past(): Option[String] = Some(f"20${10 + r.nextInt(10)}-${1 + r.nextInt(12)}%02d-01")
    val initial = (0 until InitialDocs).map(i => upload(if (i % 8 == 0) past() else future()))
    val model = new Model
    model.apply(initial)
    var prevAdds = Seq.empty[Int]
    var nextCat = 100
    val batches = (1 until MaxBatches).map { b =>
      def pick(from: Seq[String], n: Int): Seq[String] = {
        val pool = scala.collection.mutable.ArrayBuffer(from.sorted: _*)
        (0 until n).map(_ => pool.remove(r.nextInt(pool.size)))
      }
      val active = model.docs.values.filter(_.status == "Active").map(_.name).toSeq
      val expired = model.docs.values.filter(_.status == "Expired").map(_.name).toSeq
      val removeActive = pick(active, ActiveRemovals)
      val dupNames = pick(active.filterNot(removeActive.toSet), DupUploads)
      val removeExpired = pick(expired, ExpiredRemovals)
      val adds = (0 until CatAdds - 1).map { _ => nextCat += 1; nextCat }
      val cmds =
        adds.map(c => Cmd(2, catId = Some(c), catName = Some(s"xcat_$c"))) ++
          Seq(Cmd(2, catId = Some(90 + b % 5), catName = Some(BaseCategories(1 + b % 5)))) ++
          (0 until NewUploads).map(i => upload(if (i < PastExpiry) past() else future())) ++
          dupNames.map { n =>
            val id = nextId; nextId += 1
            Cmd(1, docId = Some(id), name = Some(n), catId = Some(1 + r.nextInt(5)),
              text = Some(text()), expiry = future())
          } ++
          (removeActive ++ removeExpired).map(n => Cmd(0, name = Some(n))) ++
          (prevAdds ++ Seq.fill(CatRemoves - prevAdds.size)(-1 - b))
            .map(c => Cmd(3, catId = Some(c)))
      prevAdds = adds
      model.apply(cmds)
      cmds
    }
    val all = initial +: batches
    Plan(all, all.flatten.filter(_.action == 1).flatMap(_.docId))
  }

  /** The model after the first `n` batches. */
  def replay(p: Plan, n: Int): Model = {
    val m = new Model
    p.batches.take(n).foreach(m.apply)
    m
  }

  def msgLine(r: Row): String = {
    def s(n: String) = Option(r.getAs[Any](n)).map(_.toString).getOrElse("null")
    Seq(s("action_code"), s("document_name"), s("category_name"), s("message")).mkString("\t")
  }

  def docLine(r: Row): String = {
    def s(n: String) = Option(r.getAs[Any](n)).map(_.toString).getOrElse("null")
    Seq(s("document_id"), s("document_name"), s("category_id"), s("category_name"),
      s("document_status"), s("document_expiryDate")).mkString("\t")
  }

  final case class Query(id: Long, vec: Array[Double], category: Int)
  final case class ReadResult(batch: Int, q: Query, rows: Seq[(Long, Double)], arm: String)

  def readQuery(seed: Long, batch: Int, j: Int): Query = {
    val id = -(batch.toLong * ReadsPerBatch + j + 1)
    Query(id, Gen.embedding(seed, id, Dim), 1 + ((batch * ReadsPerBatch + j) % 5))
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Exact top-k on the driver: cosine over the model's active documents
    * of the query's category, rounded like the engine, ties by id. */
  def exactTopK(q: Query, active: Map[Long, Int], seed: Long): Seq[(Long, Double)] = {
    val qa = q.vec
    val qn = math.sqrt(qa.map(x => x * x).sum)
    active.iterator.filter(_._2 == q.category).map { case (id, _) =>
      val v = Gen.embedding(seed, id, Dim)
      var dot = 0.0; var vn = 0.0; var k = 0
      while (k < v.length) { dot += qa(k) * v(k); vn += v(k) * v(k); k += 1 }
      id -> round6(dot / (qn * math.sqrt(vn)))
    }.toSeq.sortBy { case (id, s) => (-s, id) }.take(K)
  }

  /** Declared recall floor of each approximate arm. */
  val RecallFloor: Map[String, Double] = Map("ivf" -> 0.55, "lsh" -> 0.6, "hnsw" -> 0.7)

  def recall(r: ReadResult, active: Map[Long, Int], seed: Long): Double = {
    val exact = exactTopK(r.q, active, seed).map(_._1).toSet
    if (exact.isEmpty) 1.0 else r.rows.map(_._1).count(exact).toDouble / exact.size
  }

  /** An exact-arm read must equal the driver-side top-k (scores equal to
    * 1e-6, ids equal except among tied scores); an approximate arm must
    * meet its declared recall floor. */
  def checkRead(r: ReadResult, active: Map[Long, Int], seed: Long): Seq[String] = {
    val exact = exactTopK(r.q, active, seed)
    val where = s"batch ${r.batch} read q${r.q.id} (category ${r.q.category}, arm ${r.arm})"
    if (r.arm == "exact") {
      if (r.rows.size != exact.size) Seq(s"$where: ${r.rows.size} rows, exact ${exact.size}")
      else {
        val bad = r.rows.zip(exact).zipWithIndex.find { case (((gid, gs), (eid, es)), _) =>
          math.abs(gs - es) > 1e-6 || (gid != eid && !exact.exists(e => e._1 == gid &&
            math.abs(e._2 - gs) <= 1e-6))
        }
        bad.map { case (((gid, gs), (eid, es)), k) =>
          s"$where rank ${k + 1}: engine ($gid, $gs), exact ($eid, $es)"
        }.toSeq
      }
    } else {
      val rc = recall(r, active, seed)
      val floor = RecallFloor.getOrElse(r.arm, 1.0)
      if (rc + 1e-9 < floor) Seq(f"$where: recall $rc%.3f below the arm's floor $floor") else Nil
    }
  }
}
