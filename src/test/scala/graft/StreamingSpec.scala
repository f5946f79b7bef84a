package graft

import graft.operators.EventAnalytics
import graft.streaming.{CommandDispatch, StreamingJobs}
import graft.streaming.CommandDispatch.EngineState
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Streaming surface (SURVEY §2.9): the windowed aggregate matches its
  * batch formulation, and the foreachBatch dispatcher applies command
  * batches in FIFO batch order with per-batch-id snapshots. */
class StreamingSpec extends SparkSpec {

  /** Stage one extra event file into a streaming source dir using the SAME
    * `ts` encoding as the driver's events.parquet (raw INT64 nanos vs
    * TIMESTAMP_NTZ micros has drifted across environments — see
    * Tables.normalizeTs), so the FileStreamSource sees a consistent schema
    * whichever decoding this sandbox ships. */
  private def stageLateEvent(dir: java.nio.file.Path, name: String,
      eventId: Long, tsMicros: Long, userId: Long, eventType: String): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val tsType = spark.read.parquet(s"$sf0001/events.parquet").schema("ts").dataType
    val base = Seq((eventId, tsMicros, userId, eventType, 0.0, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
    val withTs = tsType match {
      case LongType => base.withColumn("ts", col("us") * lit(1000L))
      case TimestampNTZType =>
        base.withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType))
      case _ => base.withColumn("ts", timestamp_micros(col("us")))
    }
    val stage = java.nio.file.Paths.get(tempDir("graft_late"))
    withTs.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = new java.io.File(stage.toString).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, dir.resolve(name))
  }

  test("streaming tumbling-window counts == batch groupBy") {
    // FileStreamSource wants a directory; stage the events file into one
    val dir = java.nio.file.Paths.get(tempDir("graft_events"))
    Files.copy(java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      dir.resolve("part-0.parquet"))
    val streaming = StreamingJobs.eventWindowCounts(spark, dir.toString)
    val q = streaming.writeStream
      .format("memory").queryName("win_counts").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("win_counts")
      .select("hour", "event_type", "n")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val expected = EventAnalytics.qEventWindow(spark, sf0001)
      .select("hour", "event_type", "n")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("foreachBatch dispatcher: two command batches applied in order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs0 = Seq((1L, "doc_a", 1, "Cat1", "alpha beta gamma", "Active"))
      .toDF("document_id", "document_name", "category_id", "category_name", "text", "document_status")
    val cats0 = Seq((1, "Cat1"), (2, "Cat2")).toDF("category_id", "category_name")
    val snippets0 = docs0
      .select(col("document_id"), col("document_name"), col("category_id"),
        lit(1).as("snippet_id"), col("text").as("snippet_text"), col("document_status"))

    val stream = MemoryStream[(Int, Option[Long], Option[String], Option[Int], Option[String], Option[String])]
    val commands = stream.toDF()
      .toDF("action_code", "document_id", "document_name", "category_id", "category_name", "text")

    val stateDir = tempDir("graft_dispatch")
    var states = Map.empty[Long, EngineState]
    val query = CommandDispatch.runStream(spark, commands,
      EngineState(docs0, snippets0, cats0), stateDir,
      (id, st) => states = states + (id -> st))

    // batch 0: upload two docs (one dup name), add a category
    stream.addData(
      (1, Some(2L), Some("doc_b"), Some(2), None, Some("one two three four five six")),
      (1, Some(3L), Some("doc_a"), Some(1), None, Some("dup name rejected")),
      (2, None, None, Some(3), Some("Cat3"), None))
    try {
      query.processAllAvailable()
      // batch 1: remove doc_a, remove category 2 (cascades doc_b away)
      stream.addData(
        (0, None, Some("doc_a"), None, None, None),
        (3, None, None, Some(2), None, None))
      query.processAllAvailable()
    } finally query.stop()

    val s0 = states(0)
    assert(s0.docs.select("document_name").as[String].collect().toSet === Set("doc_a", "doc_b"))
    assert(s0.categories.count() === 3)
    // doc_b (6 words) -> 2 snippets appended to the seeded 1
    assert(s0.snippets.count() === 3)

    val s1 = states(1)
    assert(s1.docs.count() === 0) // doc_a removed by name, doc_b via category cascade
    assert(s1.categories.select("category_name").as[String].collect().toSet === Set("Cat1", "Cat3"))
    assert(s1.snippets.count() === 0)
  }

  test("append-mode watermarked windows finalize once the watermark passes") {
    import spark.implicits._
    // batch 1: January events; batch 2: a single much-later event that
    // advances the watermark past every January window, so append mode
    // emits the finalized January windows
    val dir = java.nio.file.Paths.get(tempDir("graft_events_wm"))
    Files.copy(java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      dir.resolve("part-0.parquet"))
    val streaming = StreamingJobs.eventWindowCounts(spark, dir.toString)
    val q = streaming.writeStream
      .format("memory").queryName("wm_counts").outputMode("append")
      .option("checkpointLocation",
        tempDir("graft_wm_ckpt"))
      .start()
    try {
      q.processAllAvailable()
      // the watermark trails max event time by 2h, so the windows in the
      // final 2h of January are NOT finalized yet — emitted < total
      val afterBatch1 = spark.table("wm_counts").count()
      assert(afterBatch1 > 0 && afterBatch1 < 870, s"got $afterBatch1")
      val lateMicros = java.time.Instant.parse("2024-06-01T00:00:00Z")
        .toEpochMilli * 1000L
      stageLateEvent(dir, "late.parquet", 999999L, lateMicros, 1L, "click")
      q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.table("wm_counts")
      .filter(col("hour") < lit("2024-02-01").cast("timestamp"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val expected = EventAnalytics.qEventWindow(spark, sf0001)
      .select("hour", "event_type", "n")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(emitted === expected)
  }

  test("file-based command stream with maxFilesPerTrigger=1 drains FIFO (T1 backpressure)") {
    import spark.implicits._
    // the reference bounds its queue at 40 items (DI:37); the streaming
    // analog is source-side backpressure: each file is one bounded batch
    val cmdDir = java.nio.file.Paths.get(tempDir("graft_cmds"))
    val docs0 = Seq((1L, "doc_a", 1, "Cat1", "alpha beta", "Active"))
      .toDF("document_id", "document_name", "category_id", "category_name", "text", "document_status")
    val cats0 = Seq((1, "Cat1")).toDF("category_id", "category_name")
    val snippets0 = docs0.select(col("document_id"), col("document_name"),
      col("category_id"), lit(1).as("snippet_id"), col("text").as("snippet_text"),
      col("document_status"))

    // two command files written BEFORE the stream starts; maxFilesPerTrigger=1
    // forces them into two ordered micro-batches
    Seq((1, Some(2L), Some("doc_b"), Some(1), None: Option[String], Some("one two three")))
      .toDF("action_code", "document_id", "document_name", "category_id", "category_name", "text")
      .coalesce(1).write.parquet(cmdDir.resolve("f0").toString)
    Seq((0, None: Option[Long], Some("doc_b"), None: Option[Int], None: Option[String], None: Option[String]))
      .toDF("action_code", "document_id", "document_name", "category_id", "category_name", "text")
      .coalesce(1).write.parquet(cmdDir.resolve("f1").toString)

    val commands = spark.readStream
      .schema(CommandDispatch.commandSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(cmdDir.toString + "/*/")
    val stateDir = tempDir("graft_dispatch_file")
    var states = Map.empty[Long, EngineState]
    val query = CommandDispatch.runStream(spark, commands,
      EngineState(docs0, snippets0, cats0), stateDir,
      (id, st) => states = states + (id -> st))
    try query.processAllAvailable() finally query.stop()

    // two batches observed; the upload landed before the remove
    assert(states.keySet === Set(0L, 1L))
    val afterAll = states(1L)
    assert(afterAll.docs.select("document_name").as[String].collect().toSet === Set("doc_a"))
  }

  test("rate-source command stream (non-file front door) reaches the batch-identical state") {
    import spark.implicits._
    // T2's dispatch loop is source-agnostic: any DataFrame-producing
    // readStream can front it (the production seam for a Kafka-class
    // broker). The rate source is the in-box non-file stand-in — commands
    // are synthesized from its monotone `value`, arrive over TIME across
    // an arbitrary micro-batch segmentation, and must land on the SAME
    // final state as one-shot batch dispatch of the same command list.
    val docs0 = Seq((1L, "doc_a", 1, "Cat1", "alpha beta", "Active"))
      .toDF("document_id", "document_name", "category_id", "category_name", "text", "document_status")
    val cats0 = Seq((1, "Cat1")).toDF("category_id", "category_name")
    val snippets0 = docs0.select(col("document_id"), col("document_name"),
      col("category_id"), lit(1).as("snippet_id"), col("text").as("snippet_text"),
      col("document_status"))
    def toCommands(values: org.apache.spark.sql.DataFrame) = values.select(
      when(col("value") === 0, 2).when(col("value") === 3, 0)
        .otherwise(1).cast("int").as("action_code"),
      when(col("value") === 1, 2L).when(col("value") === 2, 3L)
        .cast("long").as("document_id"),
      when(col("value") === 1, "doc_b").when(col("value") === 2, "doc_a")
        .when(col("value") === 3, "doc_a").as("document_name"),
      when(col("value") === 0, 3).when(col("value").isin(1, 2), 1)
        .cast("int").as("category_id"),
      when(col("value") === 0, "Cat3").as("category_name"),
      when(col("value") === 1, "one two three four five six")
        .when(col("value") === 2, "dup name rejected").as("text"))

    // the oracle for the stream: the same four commands as ONE batch
    val (batchFinal, _) = CommandDispatch.dispatch(
      EngineState(docs0, snippets0, cats0),
      toCommands(Seq(0L, 1L, 2L, 3L).toDF("value")))
    val expectDocs = batchFinal.docs.select("document_name").as[String].collect().toSet
    val expectCats = batchFinal.categories.select("category_name").as[String].collect().toSet
    val expectSnippets = batchFinal.snippets.count()

    val commands = toCommands(
      spark.readStream.format("rate").option("rowsPerSecond", "50").load()
        .filter(col("value") < 4))
    val stateDir = tempDir("graft_dispatch_rate")
    @volatile var latest: Option[EngineState] = None
    val query = CommandDispatch.runStream(spark, commands,
      EngineState(docs0, snippets0, cats0), stateDir,
      (_, st) => latest = Some(st))
    try {
      def settled(): Boolean = latest.exists { st =>
        st.docs.select("document_name").as[String].collect().toSet == expectDocs &&
          st.categories.count() == expectCats.size
      }
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!settled() && System.nanoTime() < deadline) Thread.sleep(250)
      assert(settled(), "rate-source stream never reached the batch-dispatch state")
    } finally query.stop()
    val st = latest.get
    assert(st.docs.select("document_name").as[String].collect().toSet === expectDocs)
    assert(st.categories.select("category_name").as[String].collect().toSet === expectCats)
    assert(st.snippets.count() === expectSnippets)
  }

  test("stateful streaming sessionization (flatMapGroupsWithState) == batch") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val sqlCtx = spark.sqlContext

    // (user_id, ts_seconds) events; close a session when a 30-min gap appears
    case class Sess(start: Long, end: Long, n: Long)
    val stream = MemoryStream[(Long, Long)]
    val sessions = stream.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[(Long, Long, Long)], (Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[List[(Long, Long, Long)]]) =>
          // state: open sessions as (start, end, n); emit closed ones
          val sorted = rows.map(_._2).toSeq.sorted
          var open = state.getOption.getOrElse(Nil)
          var out = List.empty[(Long, Long, Long, Long)]
          sorted.foreach { t =>
            open match {
              case (s0, e0, n0) :: rest if t - e0 <= 1800 =>
                open = (s0, t, n0 + 1) :: rest
              case (s0, e0, n0) :: rest =>
                out = (user, s0, e0, n0) :: out
                open = (t, t, 1L) :: rest.filterNot(_ => true)
              case Nil =>
                open = (t, t, 1L) :: Nil
            }
          }
          state.update(open)
          out.iterator
      }
    val q = sessions.toDF("user_id", "start", "end", "n")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    // two micro-batches for user 1: one session closed by a later gap
    stream.addData((1L, 1000L), (1L, 1500L))
    try {
      q.processAllAvailable()
      stream.addData((1L, 10000L)) // gap > 1800 closes the first session
      q.processAllAvailable()
    } finally q.stop()
    val closed = spark.table("sess_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(closed === Set((1L, 1000L, 1500L, 2L)))
  }

  test("restart recovery: a resumed query rebases on the last snapshot, not `initial`") {
    import spark.implicits._
    val cmdDir = java.nio.file.Paths.get(tempDir("graft_restart_cmds"))
    val ckpt = tempDir("graft_restart_ckpt")
    val stateDir = tempDir("graft_restart_state")
    val docs0 = Seq((1L, "doc_a", 1, "Cat1", "alpha beta", "Active"))
      .toDF("document_id", "document_name", "category_id", "category_name", "text", "document_status")
    val cats0 = Seq((1, "Cat1")).toDF("category_id", "category_name")
    val snippets0 = docs0.select(col("document_id"), col("document_name"),
      col("category_id"), lit(1).as("snippet_id"), col("text").as("snippet_text"),
      col("document_status"))
    def commands() = spark.readStream.schema(CommandDispatch.commandSchema)
      .option("maxFilesPerTrigger", "1").parquet(cmdDir.toString + "/*/")

    // phase 1: upload doc_b under a persistent streaming checkpoint, stop
    Seq((1, Some(2L), Some("doc_b"), Some(1), None: Option[String], Some("one two three")))
      .toDF("action_code", "document_id", "document_name", "category_id", "category_name", "text")
      .coalesce(1).write.parquet(cmdDir.resolve("f0").toString)
    val q1 = CommandDispatch.runStream(spark, commands(),
      CommandDispatch.EngineState(docs0, snippets0, cats0), stateDir, (_, _) => (),
      checkpoint = Some(ckpt))
    try q1.processAllAvailable() finally q1.stop()
    assert(Files.exists(java.nio.file.Paths.get(s"$stateDir/0/categories/_SUCCESS")))

    // phase 2: new command file; RESTART from the same checkpoint with a
    // deliberately WRONG initial (empty) — the source resumes at batch 1
    // and the dispatcher must rebase on the batch-0 snapshot, not initial
    Seq((1, Some(3L), Some("doc_c"), Some(1), None: Option[String], Some("four five six")))
      .toDF("action_code", "document_id", "document_name", "category_id", "category_name", "text")
      .coalesce(1).write.parquet(cmdDir.resolve("f1").toString)
    val wrongInitial = CommandDispatch.EngineState(
      docs0.limit(0), snippets0.limit(0), cats0.limit(0))
    var last: Option[CommandDispatch.EngineState] = None
    val q2 = CommandDispatch.runStream(spark, commands(), wrongInitial, stateDir,
      (_, st) => last = Some(st), checkpoint = Some(ckpt))
    try q2.processAllAvailable() finally q2.stop()
    // doc_a (seed), doc_b (batch 0, recovered from snapshot), doc_c (new)
    assert(last.get.docs.select("document_name").as[String].collect().toSet ===
      Set("doc_a", "doc_b", "doc_c"))
  }

  test("streaming expiry sweep: per-batch maintenance, restart + mid-sweep replay idempotence") {
    import spark.implicits._
    val cmdDir = java.nio.file.Paths.get(tempDir("graft_sweep_cmds"))
    val ckpt = tempDir("graft_sweep_ckpt")
    val stateDir = tempDir("graft_sweep_state")
    // seed: doc_a already past expiry (swept in batch 0), doc_z no expiry
    val docs0 = Seq(
      (1L, "doc_a", 1, "Cat1", "alpha beta", "Active", Some("2001-01-01")),
      (2L, "doc_z", 1, "Cat1", "gamma delta", "Active", None: Option[String]))
      .toDF("document_id", "document_name", "category_id", "category_name",
        "text", "document_status", "document_expiryDate")
    val cats0 = Seq((1, "Cat1")).toDF("category_id", "category_name")
    val snippets0 = docs0.select(col("document_id"), col("document_name"),
      col("category_id"), lit(1).as("snippet_id"), col("text").as("snippet_text"),
      col("document_status"))
    def commands() = spark.readStream.schema(CommandDispatch.commandSchema)
      .option("maxFilesPerTrigger", "1").parquet(cmdDir.toString + "/*/")
    val sweep = CommandDispatch.expiryMaintenance(lit("2026-01-01"))
    def statuses(st: CommandDispatch.EngineState): Map[String, String] =
      st.docs.select("document_name", "document_status")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap

    // batch 0: upload doc_b whose expiry is ALREADY past — the same-batch
    // sweep must expire it along with the seed's doc_a
    Seq((1, Some(3L), Some("doc_b"), Some(1), None: Option[String],
      Some("one two three"), Some("2002-02-02")))
      .toDF("action_code", "document_id", "document_name", "category_id",
        "category_name", "text", "document_expiryDate")
      .coalesce(1).write.parquet(cmdDir.resolve("f0").toString)
    val st0 = CommandDispatch.EngineState(docs0, snippets0, cats0)
    var last: Option[CommandDispatch.EngineState] = None
    val q1 = CommandDispatch.runStream(spark, commands(), st0, stateDir,
      (_, st) => last = Some(st), maintenance = sweep, checkpoint = Some(ckpt))
    try q1.processAllAvailable() finally { q1.stop(); q1.awaitTermination() }
    assert(statuses(last.get) ===
      Map("doc_a" -> "Expired", "doc_b" -> "Expired", "doc_z" -> "Active"))
    // the cascade: every snippet of an expired doc carries Expired
    assert(last.get.snippets.filter(col("document_id") === 1L)
      .select("document_status").as[String].collect().forall(_ == "Expired"))

    // batch 1 (restart): upload doc_c with a FUTURE expiry — stays Active;
    // already-swept docs stay Expired (the sweep is idempotent on them)
    Seq((1, Some(4L), Some("doc_c"), Some(1), None: Option[String],
      Some("four five six"), Some("2099-01-01")))
      .toDF("action_code", "document_id", "document_name", "category_id",
        "category_name", "text", "document_expiryDate")
      .coalesce(1).write.parquet(cmdDir.resolve("f1").toString)
    val q2 = CommandDispatch.runStream(spark, commands(), st0, stateDir,
      (_, st) => last = Some(st), maintenance = sweep, checkpoint = Some(ckpt))
    try q2.processAllAvailable() finally { q2.stop(); q2.awaitTermination() }
    val afterB1 = statuses(last.get)
    assert(afterB1 === Map("doc_a" -> "Expired", "doc_b" -> "Expired",
      "doc_z" -> "Active", "doc_c" -> "Active"))

    // MID-SWEEP REPLAY: delete batch 1's streaming COMMIT (offsets stay) —
    // the crash window between the snapshot write and the commit. The
    // restarted query re-executes batch 1, rebases on snapshot 0, and must
    // rewrite the identical swept state (idempotence under replay).
    assert(Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", "1")))
    // the local-FS checkpoint manager shadows every metadata file with a
    // CRC; leaving it behind makes the replay's rename collide
    Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", ".1.crc"))
    last = None
    val q3 = CommandDispatch.runStream(spark, commands(), st0, stateDir,
      (_, st) => last = Some(st), maintenance = sweep, checkpoint = Some(ckpt))
    try q3.processAllAvailable() finally { q3.stop(); q3.awaitTermination() }
    assert(last.isDefined, "batch 1 must replay after its commit was removed")
    assert(statuses(last.get) === afterB1, "replayed sweep diverged")
  }

  test("FIFO dispatch: upload -> remove -> re-upload of one name in one batch") {
    import spark.implicits._
    val docs0 = Seq((1L, "doc_a", 1, "Cat1", "alpha", "Active"))
      .toDF("document_id", "document_name", "category_id", "category_name", "text", "document_status")
    val cats0 = Seq((1, "Cat1")).toDF("category_id", "category_name")
    val snippets0 = docs0.select(col("document_id"), col("document_name"),
      col("category_id"), lit(1).as("snippet_id"), col("text").as("snippet_text"),
      col("document_status"))
    val st0 = EngineState(docs0, snippets0, cats0)
    val cmds = Seq(
      (1L, 1, Some(10L), Some("doc_x"), Some(1), None: Option[String], Some("first body")),
      (2L, 0, None: Option[Long], Some("doc_x"), None: Option[Int], None: Option[String], None: Option[String]),
      (3L, 1, Some(11L), Some("doc_x"), Some(1), None: Option[String], Some("second body")))
      .toDF("seq", "action_code", "document_id", "document_name", "category_id", "category_name", "text")

    // strict FIFO: the re-upload lands AFTER the remove -> doc_x survives
    // with the second body's id
    val (fifoState, fifoMsgs) = CommandDispatch.dispatchFifo(st0, cmds)
    val fifoDocs = fifoState.docs.filter(col("document_name") === "doc_x")
      .select("document_id").as[Long].collect().toSeq
    assert(fifoDocs === Seq(11L))
    assert(fifoMsgs.count() === 3)

    // the per-type dispatcher reorders (uploads before removes) and
    // documents this divergence for conflicting batches: doc_x is removed
    val (typedState, _) = CommandDispatch.dispatch(st0, cmds.drop("seq"))
    assert(typedState.docs.filter(col("document_name") === "doc_x").count() === 0)

    // an empty micro-batch is a no-op, not a crash
    val (same, noMsgs) = CommandDispatch.dispatchFifo(st0, cmds.filter(lit(false)))
    assert(noMsgs.count() === 0 && same.docs.count() === st0.docs.count())
  }

  test("within-batch duplicate upload names insert once, with no orphan snippets") {
    import spark.implicits._
    val docs0 = Seq((1L, "doc_a", 1, "Cat1", "alpha", "Active"))
      .toDF("document_id", "document_name", "category_id", "category_name", "text", "document_status")
    val cats0 = Seq((1, "Cat1")).toDF("category_id", "category_name")
    val snippets0 = docs0.select(col("document_id"), col("document_name"),
      col("category_id"), lit(1).as("snippet_id"), col("text").as("snippet_text"),
      col("document_status"))
    // two uploads under the SAME new name in one batch
    val commands = Seq(
      (1, Some(2L), Some("doc_b"), Some(1), None: Option[String], Some("one two three four five six")),
      (1, Some(3L), Some("doc_b"), Some(1), None: Option[String], Some("seven eight nine")))
      .toDF("action_code", "document_id", "document_name", "category_id", "category_name", "text")
    val (next, _) = CommandDispatch.dispatch(
      EngineState(docs0, snippets0, cats0), commands)
    assert(next.docs.filter(col("document_name") === "doc_b").count() === 1)
    // snippets exist only for the ONE accepted row, keyed by its document_id
    val snippetDocIds = next.snippets.filter(col("document_name") === "doc_b")
      .select("document_id").distinct().as[Long].collect().toSet
    val acceptedId = next.docs.filter(col("document_name") === "doc_b")
      .select("document_id").as[Long].head()
    assert(snippetDocIds === Set(acceptedId))
  }

  test("content-dedup dispatch rejects a near-dup upload under a NEW name") {
    import spark.implicits._
    val body = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = ("REPLACED" +: (2 to 40).map(i => s"tok$i")).mkString(" ")
    val docs0 = Seq((1L, "doc_a", 1, "Cat1", body, "Active"))
      .toDF("document_id", "document_name", "category_id", "category_name", "text", "document_status")
    val cats0 = Seq((1, "Cat1")).toDF("category_id", "category_name")
    val snippets0 = docs0.select(col("document_id"), col("document_name"),
      col("category_id"), lit(1).as("snippet_id"), col("text").as("snippet_text"),
      col("document_status"))
    val commands = Seq(
      (1, Some(2L), Some("doc_b"), Some(1), None: Option[String], Some(nearDup)),
      (1, Some(3L), Some("doc_c"), Some(1), None: Option[String],
        Some((1 to 40).map(i => s"fresh$i").mkString(" "))))
      .toDF("action_code", "document_id", "document_name", "category_id", "category_name", "text")
    val (next, messages) = CommandDispatch.dispatchContentDedup(0.5)(
      EngineState(docs0, snippets0, cats0), commands)
    val names = next.docs.select("document_name").as[String].collect().toSet
    assert(names === Set("doc_a", "doc_c"), "near-dup content should be refused")
    // no orphan snippets for the refused upload
    assert(next.snippets.filter(col("document_name") === "doc_b").count() === 0)
    val msgs = messages.select("message").as[String].collect().toSet
    assert(msgs === Set(
      "Document doc_b is a near-duplicate",
      "Document doc_c was uploaded"))
  }

  test("streaming exact dedup: dropDuplicatesWithinWatermark on upload names") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the reference's name dedup in native streaming form: state-store
    // backed duplicate suppression bounded by the watermark
    val stream = MemoryStream[(String, java.sql.Timestamp)]
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val deduped = stream.toDF().toDF("document_name", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("document_name")
    val q = deduped.writeStream.format("memory").queryName("dedup_names")
      .outputMode("append").start()
    stream.addData(("doc_a", t0), ("doc_a", t0), ("doc_b", t0))
    try {
      q.processAllAvailable()
      stream.addData(("doc_a", t0)) // still within the watermark -> suppressed
      q.processAllAvailable()
    } finally q.stop()
    val names = spark.table("dedup_names").select("document_name")
      .as[String].collect().toSeq
    assert(names.sorted === Seq("doc_a", "doc_b"))
  }

  test("streaming dispatch: a 40-command batch runs in at most 15 jobs and releases its caches") {
    import spark.implicits._
    // the reference's queue holds 40 commands (DI:37); one file is one batch
    val cmdDir = java.nio.file.Paths.get(tempDir("graft_jobs_cmds"))
    val stateDir = tempDir("graft_jobs_state")
    def upload(id: Int, expiry: String) =
      s"""{"action_code":1,"document_id":$id,"document_name":"doc_$id","category_id":${1 + id % 3},""" +
        s""""text":"w$id alpha beta gamma delta epsilon zeta eta theta","document_expiryDate":"$expiry"}"""
    def stage(i: Int, lines: Seq[String]): Unit = {
      val tmp = cmdDir.resolve(s".b$i.tmp")
      Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
      Files.move(tmp, cmdDir.resolve(s"b$i.json"))
    }
    // batch 0: 60 uploads, every fifth already past its expiry
    stage(0, (1 to 60).map(i => upload(i, if (i % 5 == 0) "2001-01-01" else "2099-01-01")))
    val docs0 = Seq.empty[(Long, String, Int, String, String, String, String)]
      .toDF("document_id", "document_name", "category_id", "category_name", "text",
        "document_status", "document_expiryDate")
    val snippets0 = docs0.select(col("document_id"), col("document_name"),
      col("category_id"), lit(1).as("snippet_id"), col("text").as("snippet_text"),
      col("document_status"))
    val cats0 = Seq((1, "Cat1"), (2, "Cat2"), (3, "Cat3")).toDF("category_id", "category_name")
    val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    @volatile var leftCached = Map.empty[Long, Int]
    val query = CommandDispatch.runStream(spark,
      spark.readStream.schema(CommandDispatch.commandSchema)
        .option("maxFilesPerTrigger", "1").json(cmdDir.toString),
      EngineState(docs0, snippets0, cats0), stateDir,
      (id, _) => leftCached += id -> spark.sparkContext.getRDDStorageInfo
        .count(r => !before(r.id)),
      maintenance = CommandDispatch.expiryMaintenance(lit("2026-01-01")))
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    // the listener bus is async: poll until the count is stable
    def settled(): Int = {
      var last = -1
      var spins = 0
      while (jobs != last && spins < 30) { last = jobs; Thread.sleep(100); spins += 1 }
      jobs
    }
    try {
      query.processAllAvailable()
      spark.sparkContext.addSparkListener(listener)
      settled()
      jobs = 0
      // batch 1: 14 uploads (4 past expiry), 2 reusing a live name, 10
      // removals of live and 4 of expired documents, 5 category adds (one
      // reusing a name), 5 category removals
      stage(1, (101 to 114).map(i => upload(i, if (i <= 104) "2002-02-02" else "2099-01-01")) ++
        Seq(1, 2).map(i => upload(i, "2099-01-01")) ++
        (Seq(11, 12, 13, 14, 16, 17, 18, 19, 21, 22) ++ Seq(5, 10, 15, 20))
          .map(i => s"""{"action_code":0,"document_name":"doc_$i"}""") ++
        (4 to 7).map(c => s"""{"action_code":2,"category_id":$c,"category_name":"Cat$c"}""") ++
        Seq("""{"action_code":2,"category_id":9,"category_name":"Cat1"}""") ++
        Seq(2, 4, 50, 51, 52).map(c => s"""{"action_code":3,"category_id":$c}"""))
      query.processAllAvailable()
    } finally query.stop()
    val batchJobs = try settled() finally spark.sparkContext.removeSparkListener(listener)
    assert(batchJobs > 0 && batchJobs <= 15, s"a 40-command batch ran $batchJobs jobs")
    assert(leftCached === Map(0L -> 0, 1L -> 0), "cached blocks left after a batch")
  }

  /** Jobs started by `body`, counted by a listener; the listener bus is
    * asynchronous, so the count is read once it stops moving. */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      var last = -1
      var spins = 0
      while (jobs.get != last && spins < 30) { last = jobs.get; Thread.sleep(100); spins += 1 }
      jobs.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("dedup gate: a corpus-facing batch runs in at most 14 jobs and caches nothing") {
    import spark.implicits._
    def text(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val near = (t: String) => t.split(" ").dropRight(2).mkString(" ") + " x1 x2"
    val fresh = (1 to 30).map(i => (i.toLong, text(s"w${i}_", 30)))
    // batch 1 repeats and edits corpus documents and its own, so every
    // stage has rows to decide
    val batch1 = (101 to 130).map(i => (i.toLong, text(s"v${i}_", 30))) ++
      Seq((140L, fresh(0)._2), (141L, near(fresh(1)._2)),
        (142L, text("v101_", 30)), (143L, near(text("v102_", 30))))
    Seq(true -> 14, false -> 17).foreach { case (exactPairs, bound) =>
      val root = tempDir("graft_gate_jobs")
      def gate(rows: Seq[(Long, String)], b: Long): Unit =
        StreamingJobs.dedupGateBatch(spark, rows.toDF("doc_id", "text"), b,
          s"$root/accepted", s"$root/index", s"$root/rejected", 0.5, exactPairs)
      gate(fresh, 0)
      val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
      val n = jobsOf(gate(batch1, 1))
      assert(n > 0 && n <= bound, s"gate batch (exactPairs=$exactPairs) ran $n jobs")
      val left = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet -- before
      assert(left.isEmpty, s"gate batch (exactPairs=$exactPairs) left RDD blocks $left")
      val rej = spark.read.parquet(s"$root/rejected").filter(col("batch_id") === 1)
        .select("doc_id", "reason").as[(Long, String)].collect().toMap
      assert(rej(140L) === "exact_corpus" && rej(142L) === "exact_batch", rej)
      if (exactPairs) assert(rej(141L) === "near_dup_corpus" && rej(143L) === "near_dup_batch", rej)
    }
  }

  test("dispatch messages report per-command outcomes") {
    import spark.implicits._
    val docs0 = Seq((1L, "doc_a", 1, "Cat1", "alpha", "Active"))
      .toDF("document_id", "document_name", "category_id", "category_name", "text", "document_status")
    val cats0 = Seq((1, "Cat1")).toDF("category_id", "category_name")
    val snippets0 = docs0.select(col("document_id"), col("document_name"),
      col("category_id"), lit(1).as("snippet_id"), col("text").as("snippet_text"),
      col("document_status"))
    val commands = Seq(
      (1, Some(2L), Some("doc_a"), Some(1), None: Option[String], Some("x")),
      (2, None: Option[Long], None: Option[String], Some(2), Some("Cat1"), None: Option[String]),
      (9, None: Option[Long], None: Option[String], None: Option[Int], None: Option[String], None: Option[String]))
      .toDF("action_code", "document_id", "document_name", "category_id", "category_name", "text")
    val (_, messages) = CommandDispatch.dispatch(
      EngineState(docs0, snippets0, cats0), commands)
    val msgs = messages.select("message").as[String].collect().toSet
    assert(msgs === Set(
      "Document doc_a already exists",
      "Category Cat1 already exists",
      "Unknown action"))
  }

  test("flatMapGroupsWithState sessionization == batch sessionize once watermark closes") {
    import spark.implicits._
    val dir = java.nio.file.Paths.get(tempDir("graft_sess"))
    Files.copy(java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      dir.resolve("w1.parquet"))
    val streamed = StreamingJobs.sessionizeStream(spark, dir.toString, 30)
    val q = streamed.writeStream
      .format("memory").queryName("sess_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      // nothing can emit yet except gap-closed sessions; the open tails
      // need the watermark pushed past end+gap — plant one far-future
      // sentinel event for a user id outside the data
      val maxUs = graft.engine.Tables.events(spark, sf0001)
        .agg(max(unix_micros(col("ts")))).head().getLong(0)
      stageLateEvent(dir, "w2.parquet", -1L, maxUs + 86400L * 1000000L,
        -1L, "sentinel")
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("sess_out")
      .filter(col("user_id") >= 0)
      .select("user_id", "session_id", "n_events", "start_us", "end_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val expected = graft.operators.EventAnalytics
      .sessionize(graft.engine.Tables.events(spark, sf0001), 30)
      .select(col("user_id"), col("session_id"), col("n_events"),
        unix_micros(col("session_start")).as("s"), unix_micros(col("session_end")).as("e"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got === expected)
    assert(got.size > 100, s"fixture should produce many sessions, got ${got.size}")
  }

  test("watermark gate: within-watermark late rows merge, beyond-watermark rows drop") {
    import spark.implicits._
    def wave(rows: (String, String)*) =
      rows.toSeq.toDF("t", "event_type")
        .select(to_timestamp(col("t")).as("ts"), col("event_type"))
    // wave 1 closes with max ts 12:50 -> watermark 10:50 (2h delay)
    val w1 = wave(("2024-01-01 08:30:00", "view"), ("2024-01-01 12:50:00", "view"))
    // empty advance batch: Spark's late-row filter runs one watermark
    // BEHIND eviction (SPARK-40925), so without this batch the 08:45 row
    // below would still be admitted (this build's offset log verified)
    val adv = w1.filter(lit(false))
    // late wave: 12:40 is late but INSIDE the watermark (its 12:00 window
    // is still open) -> must merge; 08:45's window closed at 09:00 < 10:50
    // -> must be dropped
    val w2 = wave(("2024-01-01 12:40:00", "view"), ("2024-01-01 08:45:00", "view"))
    val w3 = wave(("2024-01-02 12:00:00", "__flush"))
    val w4 = wave(("2024-01-02 13:00:00", "__flush"))
    val root = tempDir("graft_wm_gate")
    val got = StreamingJobs.replayWatermarkedWaves(spark, root,
      Seq(w1, adv, w2, w3, w4), "2 hours")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
      .toSet
    assert(got === Set(
      ("2024-01-01 08:00:00.0", "view", 1L), // 08:45 late row dropped
      ("2024-01-01 12:00:00.0", "view", 2L))) // 12:40 late row merged
  }

  test("q_stream_window end-to-end on sf0.001 matches its batch replay") {
    // the oracle's batch formulation: wave 1 + only the within-watermark
    // wave-2 rows (even event_id % 3 == 0 docs re-timed to max-30min)
    val got = StreamingJobs.qStreamWindow(spark, sf0001)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSeq
    val ev = graft.engine.Tables.events(spark, sf0001)
    val w1 = ev.filter(col("event_id") % 3 =!= 0).select(col("ts"), col("event_type"))
    val mxUs = w1.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val w2 = ev.filter(col("event_id") % 3 === 0 && col("event_id") % 2 === 0)
      .select(timestamp_micros(lit(mxUs - 1800L * 1000000L)).as("ts"), col("event_type"))
    val expected = w1.unionByName(w2)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("hour", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === expected)
    assert(got.nonEmpty && !got.exists(_._2 == "__flush"))
  }

  test("session windows merge across micro-batches; an exact-gap event still merges") {
    import spark.implicits._
    def wave(rows: (Long, String)*) =
      rows.toSeq.toDF("user_id", "t")
        .select(col("user_id"), to_timestamp(col("t")).as("ts"))
    // user 1's session STRADDLES the wave split (10:10 in wave 1, 10:20 in
    // wave 2) — only state-store session merge can join them; user 2 tests
    // the boundary: 10:00 -> 10:30:00 is EXACTLY the 30-minute gap, and
    // Spark merges touching [t, t+gap) windows, which is why the DuckDB
    // oracle breaks only on diff > gap (not >=)
    val w1 = wave((1L, "2024-01-01 10:00:00"), (1L, "2024-01-01 10:10:00"),
      (2L, "2024-01-01 10:00:00"))
    val w2 = wave((1L, "2024-01-01 10:20:00"), (1L, "2024-01-01 12:00:00"),
      (2L, "2024-01-01 10:30:00"))
    val flush = wave((-1L, "2024-01-02 12:00:00"))
    val root = tempDir("graft_sess_gate")
    val got = StreamingJobs.replaySessionWaves(spark, root,
      Seq(w1, w2, flush), "1 hour", "30 minutes")
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getTimestamp(1).toString,
        r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === Set(
      ("2024-01-01 10:00:00.0", "2024-01-01 10:50:00.0", 1L, 3L), // merged across waves
      ("2024-01-01 12:00:00.0", "2024-01-01 12:30:00.0", 1L, 1L), // past-gap: new session
      ("2024-01-01 10:00:00.0", "2024-01-01 11:00:00.0", 2L, 2L))) // exact-gap merges
  }

  test("q_stream_session end-to-end on sf0.001 matches batch session_window") {
    val got = StreamingJobs.qStreamSession(spark, sf0001)
      .collect()
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val expected = graft.engine.Tables.events(spark, sf0001)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end_gap"),
        col("user_id"), col("n_events"))
      .orderBy("user_id", "session_start")
      .collect()
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got === expected)
    assert(got.size > 100, s"expected many sessions, got ${got.size}")
    assert(!got.exists(_._3 == -1L), "flush user must never emit")
  }

  test("stream-stream join: cross-wave matches come out of the state store") {
    import spark.implicits._
    def vwave(rows: (Long, Long, String)*) =
      rows.toSeq.toDF("view_id", "v_user", "t")
        .select(col("view_id"), col("v_user"), to_timestamp(col("t")).as("view_ts"))
    def cwave(rows: (Long, Long, String)*) =
      rows.toSeq.toDF("click_id", "c_user", "t")
        .select(col("click_id"), col("c_user"), to_timestamp(col("t")).as("click_ts"))
    // view in wave 1; its matching click arrives in wave 2 -> only join
    // state can produce the pair. The 31-minute click must NOT match.
    val v1 = vwave((100L, 1L, "2024-01-01 10:00:00"), (101L, 2L, "2024-01-01 10:00:00"))
    val v2 = vwave((102L, 1L, "2024-01-01 12:00:00"))
    val c1 = cwave((200L, 1L, "2024-01-01 10:10:00"))
    val c2 = cwave((201L, 1L, "2024-01-01 10:29:00"), // cross-wave, in window
      (202L, 2L, "2024-01-01 10:31:00"),              // 31 min: out of window
      (203L, 1L, "2024-01-01 12:05:00"))              // matches wave-2 view
    val root = tempDir("graft_ss_join")
    val got = StreamingJobs.replayStreamJoin(spark, root, Seq(v1, v2), Seq(c1, c2))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set(
      (100L, 200L, 1L),  // same-wave match
      (100L, 201L, 1L),  // CROSS-WAVE: view state survived into batch 2
      (102L, 203L, 1L))) // wave-2 x wave-2
  }

  test("watermarked dedup: in-window re-sends drop, expired keys re-admit") {
    import spark.implicits._
    def wave(rows: (Long, String)*) =
      rows.toSeq.toDF("doc_id", "t")
        .select(col("doc_id"), to_timestamp(col("t")).as("ts"))
    val w1 = wave((1L, "2024-01-01 10:00:00"), (2L, "2024-01-01 10:00:00"))
    val w2 = wave((1L, "2024-01-01 10:10:00"))             // in-window dup: drop
    val w3 = wave((9L, "2024-01-01 15:00:00"))             // advance + new key
    val adv = w1.filter(lit(false))                        // eviction lags a batch
    val w4 = wave((1L, "2024-01-01 15:00:00"))             // expired: re-admit
    val root = tempDir("graft_wm_dedup")
    val got = StreamingJobs.replayDedupWaves(spark, root,
      Seq(w1, w2, w3, adv, w4), "1 hour")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString)).toSet
    assert(got === Set(
      (1L, "2024-01-01 10:00:00.0"), (2L, "2024-01-01 10:00:00.0"),
      (9L, "2024-01-01 15:00:00.0"),
      (1L, "2024-01-01 15:00:00.0"))) // the re-admission — bounded state
  }

  test("streaming dedup gate: exact + near dups rejected within and across batches") {
    import spark.implicits._
    val root = java.nio.file.Paths.get(tempDir("graft_dedup_gate"))
    val docsDir = root.resolve("docs"); Files.createDirectory(docsDir)
    val accepted = root.resolve("accepted").toString
    val index = root.resolve("index").toString
    val rejected = root.resolve("rejected").toString
    val ckpt = root.resolve("ckpt").toString

    val textA = (1 to 60).map(i => s"a$i").mkString(" ")
    // J(A, Aa) ~ 0.9: high enough that the 8x4 MinHash bands witness the
    // pair with probability ~1 - 2e-4 (deterministic given the text; a
    // lower-J fixture landed in a band-miss configuration)
    val textAa = ((1 to 57).map(i => s"a$i") ++ (1 to 3).map(i => s"z$i")).mkString(" ")
    val textB = (1 to 40).map(i => s"b$i").mkString(" ")
    val textC = (1 to 40).map(i => s"c$i").mkString(" ")
    def doc(id: Long, t: String) = (id, t, "en", "test", t.length.toLong)
    def stage(name: String, rows: Seq[(Long, String, String, String, Long)]): Unit = {
      val tmp = root.resolve(s"stage_$name").toString
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, docsDir.resolve(s"$name.parquet")); ()
    }

    // wave 1: original A, exact copy of A, near-dup of A, unrelated B
    stage("w1", Seq(doc(1, textA), doc(2, textA), doc(3, textAa), doc(4, textB)))
    val q = StreamingJobs.dedupGateStream(spark, docsDir.toString, accepted,
      index, rejected, ckpt, threshold = 0.5)
    try {
      q.processAllAvailable()
      // wave 2: exact copy of corpus A, near-dup of corpus A, fresh C, copy of C
      stage("w2", Seq(doc(5, textA), doc(6, textAa), doc(7, textC), doc(8, textC)))
      q.processAllAvailable()
    } finally q.stop()

    val acc = spark.read.parquet(accepted).select("doc_id").as[Long].collect().toSet
    assert(acc === Set(1L, 4L, 7L))
    val rej = spark.read.parquet(rejected)
      .select("doc_id", "reason", "witness")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(rej === Map(
      2L -> ("exact_batch", 1L),
      3L -> ("near_dup_batch", 1L),
      5L -> ("exact_corpus", 1L),
      6L -> ("near_dup_corpus", 1L),
      8L -> ("exact_batch", 7L)))
    // the index holds signatures for exactly the accepted docs, so later
    // batches dedup against them
    val idxDocs = spark.read.parquet(index).select("doc_id").as[Long].collect().toSet
    assert(idxDocs === Set(1L, 4L, 7L))
    // batch ids recorded: wave 1 = batch 0, wave 2 = batch 1
    val batches = spark.read.parquet(rejected)
      .select("doc_id", "batch_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batches(2L) === 0L && batches(6L) === 1L)
  }
}
