package graft.streaming

import graft.engine.{Scope, Scratch}
import graft.operators.{Dedup, Mutations}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.inKeys
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Structured Streaming jobs (engine extension; the reference has no
  * event-time processing — SURVEY §2.9 "absent" row). The batch
  * formulations in operators.EventAnalytics are the oracle-checked
  * equivalents; these streaming variants are asserted equal to them in
  * StreamingSpec. */
object StreamingJobs {

  /** Schema-typed empty frame — the early return for gate queries whose
    * wave anchors (min/max event time) are NULL on an empty input. */
  private def emptyFrame(s: SparkSession, schema: StructType): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** events parquet physical schema for the streaming file source, which
    * requires the schema declared up front. The `ts` encoding has drifted
    * across environments (INT64 nanos under nanosAsLong vs native
    * TIMESTAMP_NTZ micros on Spark ≥4.x — see [[graft.engine.Tables
    * .normalizeTs]]), so probe the ACTUAL dtype with a one-off batch
    * metadata read instead of hard-coding either. The probe reads footers
    * only (no data scan) and runs once at stream definition. */
  def eventsFileSchema(spark: SparkSession, eventsDir: String): StructType = {
    val tsType = spark.read.parquet(eventsDir).schema("ts").dataType
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
  }

  /** readStream over an events directory with `ts` normalized to
    * session-zoned TimestampType regardless of the file encoding. */
  private def eventsStream(spark: SparkSession, eventsDir: String): DataFrame =
    graft.engine.Tables.normalizeTs(
      spark.readStream.schema(eventsFileSchema(spark, eventsDir)).parquet(eventsDir))

  /** Tumbling 1-hour event counts as a streaming query (watermarked
    * event-time window) over a DIRECTORY of event parquet files (the
    * FileStreamSource contract; new files appearing in the directory are
    * picked up as micro-batches). Same result as
    * EventAnalytics.qEventWindow's count column when run to completion. */
  def eventWindowCounts(spark: SparkSession, eventsDir: String): DataFrame =
    eventsStream(spark, eventsDir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"))

  // ------------------------------------------- stateful sessionization

  /** Typed event fed to the stateful sessionizer (`ts_us` = event-time
    * micros, so all gap math is exact integer arithmetic). */
  case class SessEvent(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, ts_us: Long)

  /** Open-session state kept per user between micro-batches. */
  case class SessState(session_id: Long, start_us: Long, end_us: Long, n: Long)

  /** A closed session — same shape as [[graft.operators.EventAnalytics
    * .sessionize]]'s output with micros timestamps. */
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
      start_us: Long, end_us: Long)

  /** Streaming sessionization with CUSTOM state —
    * `flatMapGroupsWithState` over user_id (SURVEY §2.9's
    * KeyValueGroupedDataset state primitive; the declarative alternative
    * is the native `session_window`, exercised batch-side by
    * q_session_window). A session closes when a later event for the same
    * user arrives more than `gapMinutes` after it, or when the WATERMARK
    * passes its end + gap (event-time timeout) — so results equal the
    * batch [[graft.operators.EventAnalytics.sessionize]] on any prefix
    * whose sessions the watermark has closed, asserted in StreamingSpec.
    *
    * Contract: per-key event-time order must be respected ACROSS
    * micro-batches up to the watermark delay (the standard streaming
    * contract — within a batch we sort, across batches the watermark
    * bounds disorder). State is one tiny fixed-size record per ACTIVE
    * user, not per event: memory is bounded by concurrent-user
    * cardinality, and the state store shards on user_id with the same
    * single shuffle the batch window pays. */
  def sessionizeStream(spark: SparkSession, eventsDir: String,
      gapMinutes: Int, watermarkDelay: String = "2 hours"): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = gapMinutes * 60000000L
    def close(u: Long, s: SessState) =
      SessionOut(u, s.session_id, s.n, s.start_us, s.end_us)
    val fn = (userId: Long, it: Iterator[SessEvent], state: GroupState[SessState]) => {
      if (state.hasTimedOut) {
        // watermark passed end + gap with no new events: the session is
        // provably complete
        val out = Iterator.single(close(userId, state.get))
        state.remove()
        out
      } else {
        val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
        var cur = state.getOption
        // batch order within a trigger matches the batch formulation's
        // ORDER BY (ts, event_id)
        it.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
          cur match {
            case None => cur = Some(SessState(1L, e.ts_us, e.ts_us, 1L))
            case Some(s) if e.ts_us - s.end_us > gapUs =>
              out += close(userId, s)
              cur = Some(SessState(s.session_id + 1, e.ts_us, e.ts_us, 1L))
            case Some(s) => cur = Some(s.copy(end_us = e.ts_us, n = s.n + 1))
          }
        }
        cur.foreach { s =>
          state.update(s)
          // +1 ms: micros -> millis floors, and the timeout must fire
          // strictly AFTER watermark reaches end + gap
          state.setTimeoutTimestamp((s.end_us + gapUs) / 1000 + 1)
        }
        out.iterator
      }
    }
    eventsStream(spark, eventsDir)
      .withWatermark("ts", watermarkDelay)
      // keep the watermarked `ts` column in the typed event: event-time
      // timeout requires it to survive into the grouped Dataset
      .select(col("user_id"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("ts_us"))
      .as[SessEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
      .toDF()
  }

  // --------------------------------------- watermark + late-data gate

  private lazy val streamWinDir: String = Scratch.processTempDir("graft_stream_window")

  /** Stage `df` as ONE parquet file named `name` under `srcDir`, with an
    * explicit modification time: the FileStreamSource orders files by
    * (modTime, path), so distinct staged mod-times pin the wave replay
    * order deterministically (`maxFilesPerTrigger=1` then maps one wave to
    * one micro-batch). */
  private def stageWave(df: DataFrame, srcDir: String, name: String, modMs: Long): Unit = {
    val stage = java.nio.file.Files.createTempDirectory("graft_wave")
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = new java.io.File(stage.toString).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dst = new java.io.File(srcDir, name)
    dst.getParentFile.mkdirs()
    java.nio.file.Files.copy(part.toPath, dst.toPath)
    dst.setLastModified(modMs)
    Scratch.rmTree(stage.toFile)
  }

  /** Stage ALL waves of one replay in a single write job: the waves are
    * tagged, unioned and written `partitionBy` the wave number (hash
    * repartition puts each wave in exactly one task, so each wave
    * directory holds exactly one file), then each file is moved to its
    * `names(i)` with its pinned mod-time — same files, same replay
    * order as N [[stageWave]] calls, at one job wave instead of N.
    * An EMPTY wave (a watermark-advance batch — load-bearing, see
    * [[qStreamWindow]] wave 2) writes no partition directory, so those
    * fall back to the per-wave path, which emits a 0-row file. */
  private def stageWaves(waves: Seq[DataFrame], srcDir: String,
      names: Seq[String], modMs: Seq[Long]): Unit = {
    val stage = java.nio.file.Files.createTempDirectory("graft_waves")
    val tagged = waves.zipWithIndex.map { case (w, i) => w.withColumn("__wave", lit(i)) }
      .reduce(_ unionByName _)
      .repartition(waves.length, col("__wave"))
    // deterministic row order WITHIN each staged wave file (ADVICE r13):
    // the hash repartition alone would leave within-wave order run-to-run
    // nondeterministic; current streaming consumers are order-insensitive
    // inside a micro-batch, but a future first-wins stateful op must not
    // become flaky because of the staging layout. Wave schemas are flat
    // scalar columns, so sorting by all of them is total and cheap.
    tagged
      .sortWithinPartitions(tagged.columns.map(col).toIndexedSeq: _*)
      .write.partitionBy("__wave").mode("overwrite").parquet(stage.toString)
    waves.indices.foreach { i =>
      val dir = new java.io.File(stage.toString, s"__wave=$i")
      Option(dir.listFiles()).getOrElse(Array.empty)
        .find(_.getName.endsWith(".parquet")) match {
        case Some(part) =>
          val dst = new java.io.File(srcDir, names(i))
          dst.getParentFile.mkdirs()
          java.nio.file.Files.copy(part.toPath, dst.toPath)
          dst.setLastModified(modMs(i))
        case None => stageWave(waves(i), srcDir, names(i), modMs(i))
      }
    }
    Scratch.rmTree(stage.toFile)
  }

  /** Event-time watermark + late-data handling, driver-gated (SURVEY §2.9
    * "absent" row — an engine extension; the reference has no event-time
    * processing at all). Four deterministic waves of the events table
    * replay through ONE watermarked streaming aggregation:
    *
    *   - wave 1: every `event_id % 3 != 0` row at its real timestamp.
    *     After its batch the watermark is max(wave-1 ts) - 2h.
    *   - wave 2: an EMPTY advance batch. Spark runs stateful operators
    *     with TWO watermarks (SPARK-40925): late-row filtering uses the
    *     PREVIOUS batch's watermark while eviction uses the current one —
    *     so the batch right after wave 1 still ADMITS rows older than
    *     wave 1's watermark (verified against this build's offset log).
    *     The empty batch burns that lag: it evicts+emits every window
    *     closed by wave 1's watermark and promotes that watermark into
    *     the late-row filter for the next batch.
    *   - wave 3: the `% 3 == 0` rows, re-timed relative to wave 1's max —
    *     even ids to max-30min (late but INSIDE the watermark: they must
    *     MERGE into their still-open windows), odd ids to max-5h (their
    *     window end is below the watermark: they must be DROPPED). The
    *     5h/30min offsets keep every row unambiguous under both late-row
    *     interpretations (raw ts < watermark vs window end <= watermark).
    *   - waves 4/5: one far-future `__flush` sentinel row each (+10h /
    *     +11h). Wave 4 advances the watermark past every real window's
    *     end; wave 5's batch then emits them all (append mode emits on a
    *     batch AFTER the watermark passes, so the result is complete with
    *     or without no-data micro-batches). The sentinel windows themselves
    *     stay open forever — `__flush` never reaches the output.
    *
    * The DuckDB oracle recomputes the exact final state (wave 1 plus only
    * the within-watermark wave-2 rows): a regression that drops
    * within-watermark late rows, keeps beyond-watermark rows, or
    * double-emits a window hash-mismatches. Scale posture: the streaming
    * aggregation shuffles once on (window, event_type) with map-side
    * partial aggregation, and state is one row per OPEN window per type —
    * the watermark bounds it regardless of stream length. */
  def qStreamWindow(s: SparkSession, d: String): DataFrame = {
    val ev = graft.engine.Tables.events(s, d)
    val wave1 = ev.filter(col("event_id") % 3 =!= 0).select(col("ts"), col("event_type"))
    val us = 1000000L
    val mxRow = wave1.agg(max(unix_micros(col("ts")))).head()
    // empty events: max() is NULL — return the empty result frame instead
    // of staging waves around a null anchor (EmptyInputSpec discipline)
    if (mxRow.isNullAt(0))
      return emptyFrame(s, StructType(Seq(StructField("hour", TimestampType),
        StructField("event_type", StringType), StructField("n", LongType))))
    val mxUs = mxRow.getLong(0)
    val lateWave = ev.filter(col("event_id") % 3 === 0)
      .select(timestamp_micros(when(col("event_id") % 2 === 0, mxUs - 1800 * us)
        .otherwise(mxUs - 18000 * us)).as("ts"), col("event_type"))
    val advance = wave1.filter(lit(false)) // empty batch: see wave 2 above
    def flush(offsetHours: Long) = s.range(1)
      .select(timestamp_micros(lit(mxUs + offsetHours * 3600 * us)).as("ts"),
        lit("__flush").as("event_type"))
    replayWatermarkedWaves(s, streamWinDir,
      Seq(wave1, advance, lateWave, flush(10), flush(11)), "2 hours",
      statePartitions = Some(1))
      .orderBy("hour", "event_type")
  }

  private lazy val streamSessDir: String = Scratch.processTempDir("graft_stream_session")

  /** Event-time SESSION windows (`session_window`, 30-minute gap) through
    * a watermarked streaming aggregation — the companion to
    * [[qStreamWindow]]'s tumbling windows, proving the harder stateful
    * shape: sessions MERGE across micro-batches. The events table splits
    * at its midpoint timestamp into two time-ordered waves (every session
    * straddling the midpoint arrives half per batch and must be merged by
    * the state store, not within one batch), then a far-future flush row
    * advances the watermark past every session end so append mode emits
    * the complete, final session table. The oracle recomputes sessions in
    * closed form as a gaps-and-islands pass over the SAME events rows —
    * a dropped row, an unmerged straddling session or a gap-boundary
    * off-by-one (Spark merges windows that touch: a gap of EXACTLY 30
    * minutes still merges, pinned in StreamingSpec) all hash-mismatch. No late rows by construction: q_stream_window owns
    * the drop/merge late-data proof; this query isolates session-merge
    * correctness. Scale: one (session_window, user_id) state shuffle with
    * map-side partials; state is one row per OPEN session, bounded by the
    * watermark however long the stream runs. */
  def qStreamSession(s: SparkSession, d: String): DataFrame = {
    val ev = graft.engine.Tables.events(s, d).select(col("user_id"), col("ts"))
    val us = 1000000L
    val bounds = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    // empty events: min/max are NULL — empty result frame, never an NPE
    if (bounds.isNullAt(0))
      return emptyFrame(s, StructType(Seq(
        StructField("session_start", TimestampType),
        StructField("session_end_gap", TimestampType),
        StructField("user_id", LongType), StructField("n_events", LongType))))
    val (mnUs, mxUs) = (bounds.getLong(0), bounds.getLong(1))
    val midUs = (mnUs + mxUs) / 2
    val wave1 = ev.filter(unix_micros(col("ts")) < midUs)
    val wave2 = ev.filter(unix_micros(col("ts")) >= midUs)
    // flush user -1: its own session never closes, so it never appears in
    // the append output — it exists only to push the watermark past every
    // real session's end (+4h > 1h delay + 30min gap)
    val flush = s.range(1).select(lit(-1L).as("user_id"),
      timestamp_micros(lit(mxUs + 4 * 3600 * us)).as("ts"))
    // 8 state partitions: session state is per-OPEN-SESSION (~|users|,
    // much wider than q_stream_window's per-window-per-type rows), so the
    // replay parallelizes the state sort while keeping checkpoint task
    // count small; measured equal to 1 partition at sf0.1 (the cost is
    // fixed micro-batch overhead), chosen for the wider-state regime
    replaySessionWaves(s, streamSessDir, Seq(wave1, wave2, flush),
      delay = "1 hour", gap = "30 minutes", statePartitions = Some(8))
      .orderBy("user_id", "session_start")
  }

  private lazy val streamJoinDir: String = Scratch.processTempDir("graft_stream_join")

  /** Stream-STREAM interval join, driver-gated: click events join view
    * events of the same user within 30 minutes AFTER the view — the
    * attribution join every event pipeline runs, as two WATERMARKED
    * streams rather than a batch self-join. Both sides split at the
    * global midpoint timestamp into two time-ordered waves, so
    * cross-wave matches (a wave-2 click against a wave-1 view) must come
    * out of the JOIN STATE STORE; an inner stream-stream join emits each
    * match exactly once as it arrives, and the watermark bounds both
    * sides' state (a view's state is droppable once the click-side
    * watermark passes view_ts + 30min — no valid match can be lost
    * because any wave-2 click is newer than every evictable view; see
    * the eviction-margin argument in the session-window scaladoc).
    * Oracle: the equivalent batch interval join in closed form. */
  def qStreamJoin(s: SparkSession, d: String): DataFrame = {
    val ev = graft.engine.Tables.events(s, d)
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("view_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
    val bounds = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    // empty events: min/max are NULL — empty result frame, never an NPE
    if (bounds.isNullAt(0))
      return emptyFrame(s, StructType(Seq(StructField("view_id", LongType),
        StructField("click_id", LongType), StructField("user_id", LongType))))
    val midUs = (bounds.getLong(0) + bounds.getLong(1)) / 2
    replayStreamJoin(s, streamJoinDir,
      Seq(views.filter(unix_micros(col("view_ts")) < midUs),
        views.filter(unix_micros(col("view_ts")) >= midUs)),
      Seq(clicks.filter(unix_micros(col("click_ts")) < midUs),
        clicks.filter(unix_micros(col("click_ts")) >= midUs)))
      .orderBy("view_id", "click_id")
  }

  /** Replay two wave sequences through one watermarked stream-stream
    * interval join; returns the append output (view_id, click_id,
    * user_id). */
  private[graft] def replayStreamJoin(s: SparkSession, root: String,
      viewWaves: Seq[DataFrame], clickWaves: Seq[DataFrame]): DataFrame = {
    Scratch.rmTree(new java.io.File(root))
    val (srcV, srcC, out, ck) = (s"$root/views", s"$root/clicks", s"$root/out", s"$root/ck")
    val t0 = System.currentTimeMillis() - 60000
    stageWaves(viewWaves, srcV,
      viewWaves.indices.map(i => f"v$i%02d.parquet"),
      viewWaves.indices.map(i => t0 + i * 10000L))
    stageWaves(clickWaves, srcC,
      clickWaves.indices.map(i => f"c$i%02d.parquet"),
      clickWaves.indices.map(i => t0 + i * 10000L))
    val vSchema = StructType(Seq(StructField("view_id", LongType),
      StructField("v_user", LongType), StructField("view_ts", TimestampType)))
    val cSchema = StructType(Seq(StructField("click_id", LongType),
      StructField("c_user", LongType), StructField("click_ts", TimestampType)))
    // 2 state partitions: a stream-stream join runs FOUR state stores per
    // partition, and the replay's cost is per-(store x partition x batch)
    // fixed overhead, not rows (probe: 8 partitions 26s, 2 partitions 6s
    // for the same 40k rows); a production deployment sizes this to its
    // actual key cardinality.
    // No-data micro-batches exist to advance watermarks PROMPTLY on a
    // continuous stream; an INNER stream-stream join emits each match on
    // arrival, so in this bounded AvailableNow replay the trailing
    // no-data batch contributes zero output rows at any scale and costs a
    // full trigger (~0.5 s of state-store commits, measured from the
    // per-batch StreamingQueryListener durations in OPTIMIZATION_r14.md
    // change #9). (q_stream_session keeps the default: its single-flush
    // design EMITS in the post-flush batch.)
    Scope.withConf(s, "spark.sql.shuffle.partitions" -> "2",
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      val v = s.readStream.schema(vSchema).option("maxFilesPerTrigger", "1")
        .parquet(srcV).withWatermark("view_ts", "1 hour")
      val c = s.readStream.schema(cSchema).option("maxFilesPerTrigger", "1")
        .parquet(srcC).withWatermark("click_ts", "1 hour")
      val q = v.join(c,
          col("v_user") === col("c_user") &&
            col("click_ts") >= col("view_ts") &&
            col("click_ts") <= col("view_ts") + expr("INTERVAL 30 MINUTES"))
        .select(col("view_id"), col("click_id"), col("v_user").as("user_id"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    s.read.parquet(out)
  }

  private lazy val streamDedupDir: String = Scratch.processTempDir("graft_stream_dedup")

  /** Streaming exact dedup with BOUNDED state, driver-gated:
    * `dropDuplicatesWithinWatermark` keeps a key in the state store only
    * until the watermark passes its event time + delay — the property
    * that makes streaming dedup deployable on an unbounded 100 TB ingest
    * feed (plain `dropDuplicates` state grows forever; the dedup GATE
    * covers content-level dedup against persisted indexes, this covers
    * the cheap first-line id/name dedup). Four deterministic waves:
    *
    *   1. every document at T           -> all emit (first sight)
    *   2. every `doc_id % 3 == 0` doc re-sent at T+10min -> all DROPPED
    *      (inside the 1h dedup window)
    *   3. an advance row (id -1) at T+5h -> emits, pushes the watermark
    *      to T+4h so wave-1 state (expiry T+1h) is evicted
    *   4. the same `% 3` docs re-sent at T+5h -> all RE-EMITTED: their
    *      state is gone, which is exactly the bounded-state contract
    *      (re-admission after the window is the price of not holding
    *      state forever — callers needing permanent dedup use the gate's
    *      persisted index instead)
    *
    * The oracle states the exact final multiset in closed form; a
    * dropped re-admission (state never evicted => unbounded), a leaked
    * duplicate, or an early eviction all hash-mismatch. */
  def qStreamDedup(s: SparkSession, d: String): DataFrame = {
    val docs = graft.engine.Tables.documents(s, d).select(col("doc_id"))
    val t0Us = 1704067200000000L // 2024-01-01T00:00:00Z
    val us = 1000000L
    def at(ids: DataFrame, tsUs: Long) =
      ids.select(col("doc_id"), timestamp_micros(lit(tsUs)).as("ts"))
    val waves = Seq(
      at(docs, t0Us),
      at(docs.filter(col("doc_id") % 3 === 0), t0Us + 600 * us),
      at(s.range(1).select(lit(-1L).as("doc_id")), t0Us + 5 * 3600 * us),
      // empty advance batch: state eviction runs one watermark BEHIND
      // (SPARK-40925, same as qStreamWindow's wave 2) — without it the
      // wave-3 watermark has not evicted wave-1 state when the re-sends
      // arrive, and they would still be deduped
      at(docs.filter(lit(false)), t0Us),
      at(docs.filter(col("doc_id") % 3 === 0), t0Us + 5 * 3600 * us))
    replayDedupWaves(s, streamDedupDir, waves, "1 hour")
      .orderBy("doc_id", "ts")
  }

  /** Replay `waves` (each: doc_id LONG, ts TIMESTAMP) through one
    * watermarked `dropDuplicatesWithinWatermark("doc_id")`, one wave per
    * micro-batch, append output. */
  private[graft] def replayDedupWaves(s: SparkSession, root: String,
      waves: Seq[DataFrame], delay: String): DataFrame = {
    Scratch.rmTree(new java.io.File(root))
    val (src, out, ck) = (s"$root/src", s"$root/out", s"$root/ck")
    val t0 = System.currentTimeMillis() - 60000
    stageWaves(waves, src,
      waves.indices.map(i => f"w$i%02d.parquet"),
      waves.indices.map(i => t0 + i * 10000L))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", TimestampType)))
    // dropDuplicatesWithinWatermark emits survivors ON ARRIVAL — the
    // trailing no-data batch contributes nothing to a bounded replay's
    // output at any scale (the replayStreamJoin rationale; eviction
    // timing is already proven by the explicit advance waves)
    Scope.withConf(s, "spark.sql.shuffle.partitions" -> "8",
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      val q = s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
        .withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark("doc_id")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    s.read.parquet(out)
  }

  /** The [[replayWatermarkedWaves]] harness for session windows: replay
    * `waves` (each: user_id LONG, ts TIMESTAMP) through one watermarked
    * `session_window` count, one wave per micro-batch, return the
    * append-mode output. */
  private[graft] def replaySessionWaves(s: SparkSession, root: String,
      waves: Seq[DataFrame], delay: String, gap: String,
      statePartitions: Option[Int] = None): DataFrame = {
    Scratch.rmTree(new java.io.File(root))
    val (src, out, ck) = (s"$root/src", s"$root/out", s"$root/ck")
    val t0 = System.currentTimeMillis() - 60000
    stageWaves(waves, src,
      waves.indices.map(i => f"w$i%02d.parquet"),
      waves.indices.map(i => t0 + i * 10000L))
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType)))
    val conf = statePartitions.map("spark.sql.shuffle.partitions" -> _.toString).toSeq
    Scope.withConf(s, conf: _*) {
      val q = s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
        .withWatermark("ts", delay)
        .groupBy(session_window(col("ts"), gap), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end_gap"),
          col("user_id"), col("n_events"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    s.read.parquet(out)
  }

  /** Replay `waves` (each: ts TIMESTAMP, event_type STRING) through one
    * watermarked tumbling-window count, one wave per micro-batch, and
    * return the append-mode output — the harness behind [[qStreamWindow]]
    * and the StreamingSpec late-data proofs.
    *
    * `statePartitions` pins `spark.sql.shuffle.partitions` (= the state
    * store partition count, fixed at the stream's first batch) for the
    * duration of the stream, restoring the session value after: the GATE
    * stream is micro-scale by construction (a handful of waves), and each
    * extra state partition costs two checkpointed state tasks per batch. A
    * production deployment of the same query keeps the session default —
    * the aggregation itself shuffles once on (window, event_type) however
    * wide the cluster is. */
  private[graft] def replayWatermarkedWaves(s: SparkSession, root: String,
      waves: Seq[DataFrame], delay: String,
      statePartitions: Option[Int] = None): DataFrame = {
    Scratch.rmTree(new java.io.File(root))
    val (src, out, ck) = (s"$root/src", s"$root/out", s"$root/ck")
    val t0 = System.currentTimeMillis() - 60000
    stageWaves(waves, src,
      waves.indices.map(i => f"w$i%02d.parquet"),
      waves.indices.map(i => t0 + i * 10000L))
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("event_type", StringType)))
    val conf = statePartitions.map("spark.sql.shuffle.partitions" -> _.toString).toSeq
    Scope.withConf(s, conf: _*) {
      val q = s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
        .withWatermark("ts", delay)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("hour"), col("event_type"), col("n"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    s.read.parquet(out)
  }

  // ------------------------------------------------- streaming dedup gate

  /** documents.parquet physical schema (the streaming file source needs it
    * declared up front). */
  val docsFileSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming dedup gate: documents arrive as parquet files under
    * `docsDir`; each micro-batch is filtered in four deterministic steps
    * and the survivors become corpus state for every later batch:
    *
    *   1. exact within-batch — one survivor (min doc_id) per text hash;
    *   2. exact vs corpus   — a hash already in the accepted table;
    *   3. near-dup vs corpus — Jaccard >= threshold against the persisted
    *      dedup index, through the fused postings join
    *      ([[Dedup.gateFusedExactPairs]]) or the MinHash band-bucket probe
    *      ([[Dedup.crossNearDupsSigs]]); the witness is the min corpus id;
    *   4. near-dup within batch — pairs among the remainder, connected
    *      components, non-minima rejected ([[Dedup.nearDupClusters]]).
    *
    * Survivors are appended to `acceptedDir` (parquet, with an `xxh`
    * fingerprint column) and their shingles (and MinHash signatures) to
    * the index at `indexDir`; every rejection is appended to
    * `rejectedDir` as (doc_id, reason, witness, batch_id) for audit.
    *
    * Scale posture: ALL corpus state lives on storage, not executor
    * memory — the fingerprint probe is a pruned (xxh, doc_id) scan
    * restricted to the batch's hashes, and the dedup index stores each
    * doc's shingles once (band keys are re-derived at probe time,
    * Dedup.writeIndex). The corpus side of every stage leaves the cluster
    * already reduced to one row per batch hash or batch document. Per
    * batch the driver holds 16 bytes of keys per document (doc_id, xxh),
    * one row per rejected document, and the within-batch pair list while
    * it fits [[Dedup.nearDupClusters]]' edge budget (over it, the
    * components are labelled on the cluster). `maxFilesPerTrigger`, the
    * file-source analog of the reference's bounded queue
    * (data_ingestion.py:37), bounds all of it. */
  def dedupGateStream(spark: SparkSession, docsDir: String, acceptedDir: String,
      indexDir: String, rejectedDir: String, checkpointDir: String,
      threshold: Double = 0.5, maxFilesPerTrigger: Option[Int] = None,
      availableNow: Boolean = false): StreamingQuery = {
    val reader = spark.readStream.schema(docsFileSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val writer = reader.parquet(docsDir).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dedupGateBatch(spark, batch, batchId, acceptedDir, indexDir,
          rejectedDir, threshold)
      }
    if (availableNow) writer.trigger(Trigger.AvailableNow()).start()
    else writer.start()
  }

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** One micro-batch of the dedup gate (also the batch-mode entry point —
    * callable directly to bulk-load a corpus through the same gate).
    * `exactPairs = true` pins both near-dup steps to the exact
    * inverted-postings pair join ([[Dedup.gateFusedExactPairs]]) instead
    * of the MinHash band buckets — the same pinned-vs-auto split as
    * qDedupNgram vs qDedupAuto, so a declared-exact gate result can never
    * silently depend on LSH recall.
    *
    * Decide once, apply once: the batch is materialized once, each stage
    * leaves the cluster as a small key list, the driver makes every
    * decision, and three writes apply them with key sets. A row whose
    * doc_id is null is no document: each such row is rejected as
    * `null_id` with a null witness. Rows repeating one (doc_id, text
    * hash) key are one document delivered more than once; the least of
    * them in full-row order goes on. Stage 1 decides per key, the later
    * stages per doc_id. */
  def dedupGateBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      acceptedDir: String, indexDir: String, rejectedDir: String,
      threshold: Double, exactPairs: Boolean = false): Unit = {
    // Each phase labels its jobs in the UI/listeners (guide §1.5); the
    // label is thread-local, so AQE's captured-thread exchange jobs
    // inherit it.
    def phase[A](label: String)(f: => A): A = Scope.phase(s"gate[$batchId] $label")(f)
    def witnesses(pairs: DataFrame): Map[Long, Long] =
      pairs.groupBy("doc_a").agg(min(col("doc_b"))).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rejected = ArrayBuffer.empty[Row]
    def reject(id: Any, reason: String, witness: Any): Unit =
      rejected += Row(id, reason, witness, batchId)
    Scope.batch {
      // The one materialization of the batch, done by the keys collect:
      // every later read (shingles, the accepted write) filters it, and
      // none re-reads the source or `acceptedDir` (Spark's recache-by-path
      // would hand a re-read the batch's own just-appended rows).
      val (batchRows, rows) = phase("stage1 window") {
        val m = Scope.checkpoint(batch.withColumn("xxh", xxhash64(col("text"))), eager = false)
        (m, m.select("doc_id", "xxh").collect())
      }
      rows.filter(_.isNullAt(0)).foreach(_ => reject(null, "null_id", null))
      val rowKeys = rows.collect { case r if !r.isNullAt(0) => (r.getLong(0), r.getLong(1)) }
      val keys = rowKeys.distinct
      // only a batch with a repeated key pays the shuffle that collapses it
      val docs =
        if (keys.length == rowKeys.length) batchRows
        else phase("stage1 window")(Scope.checkpoint(
          Mutations.firstPerKey(batchRows, "doc_id", "xxh")))

      // 1. exact within batch: the min doc_id per text hash survives
      val first = keys.groupMapReduce(_._2)(_._1)(math.min)
      val (live, copies) = keys.partition { case (id, h) => first(h) == id }
      copies.foreach { case (id, h) => reject(id, "exact_batch", first(h)) }

      // 2. exact vs corpus: one pruned (xxh, doc_id) scan of the accepted
      //    table restricted to the surviving hashes, reduced per hash
      val corpusFirst: Map[Long, Any] =
        if (!exists(spark, acceptedDir)) Map.empty
        else phase("exact corpus")(spark.read.schema(RowKeyType).parquet(acceptedDir)
          .filter(inKeys(col("xxh"), LongType, live.map(_._2)))
          .groupBy("xxh").agg(min(col("doc_id"))).collect()
          .map(r => r.getLong(0) -> r.get(1)).toMap)
      live.foreach { case (id, h) => corpusFirst.get(h).foreach(reject(id, "exact_corpus", _)) }
      val exactCorpusIds = live.collect { case (id, h) if corpusFirst.contains(h) => id }.toSet
      val live2 = live.filterNot { case (id, _) => exactCorpusIds(id) }

      // One shingle (+ signature, MINHASH MODE ONLY) pass over the
      // survivors: the corpus probe, the within-batch pairs and the index
      // append all read this frame. Exact mode never reads `sig`, so it
      // skips the 32-permutation signing outright.
      val sh = phase("shingle")(Scope.checkpoint {
        val sh = Dedup.shingleIndex(docs.filter(inKeys(rowKey, RowKeyType, live2)))
        if (exactPairs) sh else Dedup.sigsOf(sh)
      })

      // 3 + 4. near-dup vs corpus, then within batch. Exact mode FUSES the
      // two into one postings join: its checkpointed pair list serves
      // both the corpus witnesses (is_corpus rows) and the within-batch
      // pairs. The MinHash corpus side is the re-derived band-key probe
      // of the stored index. Pairs touching a corpus-rejected document
      // are dropped before clustering.
      val (nearCorpus, batchPairs) =
        if (exactPairs) {
          val idx = if (exists(spark, indexDir)) Some(indexDir) else None
          phase("fused pairs") {
            val fused = Scope.checkpoint(Dedup.gateFusedExactPairs(spark, idx, sh, threshold))
            (witnesses(fused.filter(col("is_corpus"))), fused.filter(!col("is_corpus")))
          }
        } else {
          val nc = if (!exists(spark, indexDir)) Map.empty[Long, Long]
            else phase("corpus probe")(witnesses(Dedup.crossNearDupsSigs(sh,
              spark.read.schema(sh.schema).parquet(indexDir), threshold)))
          (nc, Dedup.minhashNearDupsSigs(sh, threshold))
        }
      nearCorpus.foreach { case (id, w) => reject(id, "near_dup_corpus", w) }
      val ncIds = nearCorpus.keys
      val nearBatch = phase("cluster")(Dedup.nearDupClusters(batchPairs
          .filter(!inKeys(col("doc_a"), LongType, ncIds) && !inKeys(col("doc_b"), LongType, ncIds))
          .select("doc_a", "doc_b"))
        .filter(col("id") =!= col("label")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)))
      nearBatch.foreach { case (id, w) => reject(id, "near_dup_batch", w) }

      val out = exactCorpusIds ++ nearCorpus.keySet ++ nearBatch.map(_._1)
      val kept = live.filterNot { case (id, _) => out(id) }
      // publish: rejections audit, accepted rows, index — each write stays
      // atomic-per-directory. The index append reuses the checkpointed
      // shingle (+sig) frame: (doc_id, sh) for exact pairs, (doc_id, sh,
      // sig) for MinHash.
      phase("publish rejected")(spark.createDataFrame(rejected.asJava,
          rejectedSchema(docs.schema("doc_id").nullable))
        .coalesce(1).write.mode("append").parquet(rejectedDir))
      phase("publish accepted")(docs.filter(inKeys(rowKey, RowKeyType, kept))
        .write.mode("append").parquet(acceptedDir))
      phase("publish index")(sh.filter(inKeys(col("doc_id"), LongType, kept.map(_._1)))
        .write.mode("append").parquet(indexDir))
    }
  }

  /** The gate's row key: stage 1 decides per (doc_id, text hash) key. As
    * `isin` literals, q_dedup_gate's keys at sf0.1 cost about 1.6 s a
    * batch; [[inKeys]] builds one set. */
  private val rowKey = struct(col("doc_id"), col("xxh"))

  /** The type of [[rowKey]], and the pruned columns of the accepted table
    * the exact-corpus probe reads. */
  private val RowKeyType = StructType(Seq(
    StructField("doc_id", LongType), StructField("xxh", LongType)))

  /** The audit rows' schema; `doc_id` keeps the batch's nullability. */
  private def rejectedSchema(idNullable: Boolean) = StructType(Seq(
    StructField("doc_id", LongType, idNullable),
    StructField("reason", StringType, nullable = false),
    StructField("witness", LongType), StructField("batch_id", LongType, nullable = false)))

  private lazy val gateDir: String = Scratch.processTempDir("graft_dedup_gate")

  /** Oracle-gated two-batch run of the dedup gate (exactPairs pinned, like
    * qDedupNgram): the corpus plus planted exact copies (every 20th doc
    * re-planted in the SAME wave, every 30th in the OTHER wave) arrives as
    * two waves split by doc_id parity; the output is the full audit — one
    * row per doc, accepted or rejected with reason + witness + batch. The
    * DuckDB oracle replays all four rejection stages of both batches,
    * including the recursive-CTE connected components of the within-batch
    * near-dup steps. */
  def qDedupGate(s: SparkSession, d: String): DataFrame = {
    Scratch.rmTree(new java.io.File(gateDir))
    val docs = graft.engine.Tables.documents(s, d).select("doc_id", "text")
    val all = docs
      .unionByName(docs.filter(col("doc_id") % 20 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
      .unionByName(docs.filter(col("doc_id") % 30 === 0)
        .withColumn("doc_id", col("doc_id") + 1000001L))
    val (acc, idx, rej) =
      (s"$gateDir/accepted", s"$gateDir/index", s"$gateDir/rejected")
    Seq(0L, 1L).foreach { b =>
      dedupGateBatch(s, all.filter(col("doc_id") % 2 === b), b,
        acc, idx, rej, 0.5, exactPairs = true)
    }
    s.read.parquet(acc)
      .select(col("doc_id"), lit("accepted").as("status"),
        lit(null).cast("long").as("witness"), (col("doc_id") % 2).as("batch_id"))
      .unionByName(s.read.parquet(rej).select(col("doc_id"),
        col("reason").as("status"), col("witness"), col("batch_id")))
      .orderBy("doc_id", "status")
  }
}
