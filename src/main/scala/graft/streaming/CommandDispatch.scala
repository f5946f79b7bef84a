package graft.streaming

import graft.engine.Scope
import graft.operators.{Mutations, SnippetGen}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Command-dispatch loop (SURVEY §2.9 T1-T4): the reference drains a
  * bounded FIFO `Queue(maxsize=40)` one item at a time, routing on
  * `action_code` 0 remove-doc / 1 upload-doc / 2 add-category /
  * 3 remove-category (data_ingestion.py:37,46-72).
  *
  * Engine model: a command is a ROW; a batch of commands is a DataFrame;
  * the dispatcher is a pure function `(state, commands) -> (state',
  * messages)`. In streaming mode the same function runs inside
  * `foreachBatch`, which is exactly the reference's micro-batch drain with
  * real backpressure (`maxFilesPerTrigger`/`maxOffsetsPerTrigger` instead
  * of a blocking queue).
  *
  * Batch ordering convention: within one batch, categories are added first,
  * then uploads, then document removals, then category removals (cascade).
  * The reference's strict FIFO interleaving across types is a single-queue
  * artifact; per-type ordering preserves its observable semantics for
  * non-conflicting batches and is documented engine behavior for
  * conflicting ones.
  *
  * A batch is dispatched in two passes. DECIDE: the batch's key columns
  * (action, ids, names, category id and name; never the text) and the
  * state rows those keys touch come to the driver, where every per-command
  * decision is made — accepted uploads and category adds, the removed
  * names and categories, content-dedup rejections, the message text. The
  * decisions are held on the driver, bounded by the trigger's batch size
  * as the reference's queue is bounded at 40 items. APPLY: each next
  * table is the previous one filtered by the removed keys plus the
  * accepted rows (uploads from the cached batch, categories and messages
  * as small local frames), so each snapshot write is one scan.
  */
object CommandDispatch {

  /** Engine state: flat documents + derived flat snippets + category dim. */
  case class EngineState(docs: DataFrame, snippets: DataFrame, categories: DataFrame)

  /** Command-row schema (payload union of the 4 enqueue shapes,
    * data_ingestion.py:75-107). */
  val commandSchema: StructType = StructType(Seq(
    StructField("action_code", IntegerType, nullable = false),
    StructField("document_id", LongType, nullable = true),
    StructField("document_name", StringType, nullable = true),
    StructField("category_id", IntegerType, nullable = true),
    StructField("category_name", StringType, nullable = true),
    StructField("text", StringType, nullable = true),
    // upload_one_doc's expiry_date (data_ingestion.py:77, ISO-8601 string
    // or null) — command files written without the column read as null
    StructField("document_expiryDate", StringType, nullable = true)))

  /** Pure dispatch: route one command batch into the mutation set.
    * Returns the next state and one message row per command (the
    * reference's concatenated status report, data_ingestion.py:47-72,
    * as data instead of a string). */
  def dispatch(state: EngineState, commands: DataFrame): (EngineState, DataFrame) =
    dispatchWith(state, commands, None)

  /** [[dispatch]] with CONTENT near-dup rejection on uploads: beyond the
    * reference's exact-name dedup, an upload whose text is within Jaccard
    * >= threshold of any existing doc is refused (with its own message).
    * Curried so it plugs into [[runStream]]'s dispatcher slot. */
  def dispatchContentDedup(threshold: Double)(
      state: EngineState, commands: DataFrame): (EngineState, DataFrame) =
    dispatchWith(state, commands, Some(threshold))

  /** One command as the driver holds it: the collected key row (row id,
    * action_code, document_name, category_name, document_id, category_id)
    * and its decoded keys. Never the text. */
  private final case class Cmd(row: Row, action: Option[Int], name: Option[String],
      catName: Option[String], docId: Option[Long], catId: Option[Long]) {
    def id: Long = row.getLong(0)
  }

  private val CmdId = "__cmd"

  /** Spark's string order (UTF-8 bytes); Option orders put None (null) first, as Spark does. */
  private implicit val sparkStringOrder: Ordering[String] =
    Ordering.fromLessThan((a, b) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0)

  private def dispatchWith(state: EngineState, commands: DataFrame,
      contentDedup: Option[Double]): (EngineState, DataFrame) = {
    val spark = commands.sparkSession
    // the row ids name the batch's rows in every later query: the batch is
    // cached, and a recomputed partition of a deterministic source gets
    // the same ids
    val cmds = Scope.pin(commands.withColumn(CmdId, monotonically_increasing_id()))
    // key-set filters on a column of `df`; notIn keeps a null key, as an
    // anti-join keeps it
    def isIn(df: DataFrame, c: String, keys: Iterable[Any]): Column =
      ColumnBridge.inKeys(col(c), df.schema(c).dataType, keys)
    def notIn(df: DataFrame, c: String, keys: Iterable[Any]): Column =
      !coalesce(isIn(df, c, keys), lit(false))

    // ---- decide, on the driver: the batch's keys, then the state's rows
    // that those keys touch
    def opt[A](r: Row, i: Int)(f: Any => A): Option[A] =
      if (r.isNullAt(i)) None else Some(f(r.get(i)))
    def num(x: Any): Long = x.asInstanceOf[Number].longValue
    val keys = cmds.select(col(CmdId), col("action_code"), col("document_name"),
        col("category_name"), col("document_id"), col("category_id"))
      .collect().toSeq.sortBy(_.getLong(0)).map { r =>
        Cmd(r, opt(r, 1)(num(_).toInt), opt(r, 2)(_.toString), opt(r, 3)(_.toString),
          opt(r, 4)(num), opt(r, 5)(num))
      }
    def of(code: Int) = keys.filter(_.action.contains(code))
    val (removes, uploads, catAdds, catRemoves) = (of(0), of(1), of(2), of(3))
    val removeNames = removes.flatMap(_.name).toSet
    val removeCats = catRemoves.flatMap(_.catId).toSet
    val uploadNames = uploads.flatMap(_.name).distinct
    val uploadCats = uploads.flatMap(_.catId).distinct
    val addNames = catAdds.flatMap(_.catName).distinct
    // one query: (name, null, null) per existing document the uploads
    // name, (name, id, true) per category the adds or uploads touch
    val touched: Seq[Row] =
      if (uploadNames.isEmpty && uploadCats.isEmpty && addNames.isEmpty) Nil
      else state.docs.filter(isIn(state.docs, "document_name", uploadNames))
        .select(col("document_name").as("name"))
        .unionByName(state.categories
          .filter(isIn(state.categories, "category_name", addNames) ||
            isIn(state.categories, "category_id", uploadCats))
          .select(col("category_name").as("name"), col("category_id").cast("long").as("id"),
            lit(true).as("cat")), allowMissingColumns = true)
        .collect().toSeq
    val (catRows, docRows) = touched.partition(r => !r.isNullAt(2))
    val existingNames = docRows.map(_.getString(0)).toSet
    val stateCats = catRows.map(r => (opt(r, 1)(num), Option(r.getString(0))))
    val existingCats = stateCats.flatMap(_._2).toSet

    // 2: category adds — a name absent from the state, one per name: the
    // first in (category_id, category_name) order (Mutations.dimInsert)
    val addedCats = catAdds.filterNot(_.catName.exists(existingCats))
      .groupBy(_.catName).values.map(_.minBy(c => (c.catId, c.id))).toSeq
    // an upload's category_name: the first name its id has among the
    // categories after the adds (a left join, then the tie-break below)
    val catNameOf: Map[Long, Option[String]] =
      (stateCats ++ addedCats.map(c => (c.catId, c.catName)))
        .collect { case (Some(id), n) => id -> n }
        .groupBy(_._1).map { case (id, ns) => id -> ns.map(_._2).min }
    def catName(c: Cmd): Option[String] = c.catId.flatMap(catNameOf.get).flatten

    // 1: uploads — a name absent from the state, one per name: the first
    // in full-row order (Mutations.acceptedNew), so a replayed batch
    // inserts the same row. Rows tied on every key column are ordered by
    // text and expiry in one small query; the text stays on the cluster.
    val expiryCmd =
      if (cmds.columns.contains("document_expiryDate"))
        col("document_expiryDate").cast("string")
      else lit(null).cast("string")
    val rank = (c: Cmd) => (c.docId, c.catId, catName(c))
    val byName = uploads.filterNot(_.name.exists(existingNames))
      .groupBy(_.name).values.toSeq.map(_.sortBy(c => (rank(c), c.id)))
    val (single, tied) = byName.map(g => g.takeWhile(c => rank(c) == rank(g.head)))
      .partition(_.size == 1)
    val tieWinners: Seq[Long] =
      if (tied.isEmpty) Nil
      else {
        val groupOf = typedLit(tied.zipWithIndex.flatMap { case (g, i) => g.map(_.id -> i) }.toMap)
        cmds.filter(isIn(cmds, CmdId, tied.flatten.map(_.id)))
          .groupBy(groupOf.getItem(col(CmdId)))
          .agg(min(struct(col("text"), expiryCmd, col(CmdId))).getField(CmdId))
          .collect().toSeq.map(_.getLong(1))
      }
    val nameAccepted = single.map(_.head.id).toSet ++ tieWinners
    // optional content near-dup gate: reject uploads whose TEXT is a
    // near-dup of an existing doc (the streaming content-dedup extension).
    // This re-signs state.docs per batch — at scale keep the persisted
    // MinHash index (Dedup.appendIndexStore/probeIndexStore) instead.
    val rejected: Set[Long] = contentDedup.fold(Set.empty[Long]) { t =>
      graft.operators.Dedup.crossNearDups(
        cmds.filter(isIn(cmds, CmdId, nameAccepted))
          .select(col("document_id").as("doc_id"), col("text")),
        state.docs.select(col("document_id").as("doc_id"), col("text")), t)
        .select(col("doc_a")).distinct().collect()
        .flatMap(r => opt(r, 0)(num)).toSet
    }
    // 0 and 3: removals by name and by category apply to the uploads too
    val accepted = uploads.filter(c => nameAccepted(c.id) && !c.docId.exists(rejected) &&
      !c.name.exists(removeNames) && !c.catId.exists(removeCats))

    def message(c: Cmd): String = {
      def s(v: Option[Any]) = v.fold("null")(_.toString)
      c.action match {
        case Some(1) if c.name.exists(existingNames) => s"Document ${s(c.name)} already exists"
        case Some(1) if c.docId.exists(rejected) => s"Document ${s(c.name)} is a near-duplicate"
        case Some(1) => s"Document ${s(c.name)} was uploaded"
        case Some(0) => s"Document ${s(c.name)} was removed"
        case Some(2) if c.catName.exists(existingCats) => s"Category ${s(c.catName)} already exists"
        case Some(2) => s"Category ${s(c.catName)} was added"
        case Some(3) => s"Category ${s(c.catId)} was removed"
        case _ => "Unknown action"
      }
    }

    // ---- apply: the state filtered by the removed keys, plus the rows
    // the decisions accepted
    def survivors(df: DataFrame): DataFrame =
      df.filter(notIn(df, "document_name", removeNames) && notIn(df, "category_id", removeCats))
    val hasExpiry = state.docs.columns.contains("document_expiryDate")
    val catNames = accepted.flatMap(c => catName(c).map(c.id -> _)).toMap
    val newDocs = cmds.filter(isIn(cmds, CmdId, accepted.map(_.id)))
      .select(Seq(col("document_id"), col("document_name"), col("category_id"),
        (if (catNames.isEmpty) lit(null).cast("string")
         else typedLit(catNames).getItem(col(CmdId))).as("category_name"),
        col("text"), lit("Active").as("document_status")) ++
        (if (hasExpiry) Seq(expiryCmd.as("document_expiryDate")) else Nil): _*)
    val newSnippets = newDocs
      .select(col("document_id"), col("document_name"), col("category_id"),
        col("document_status"),
        explode(SnippetGen.snippetWindows(graft.functions.GraftFunctions.words(col("text")))).as("s"))
      .select(col("document_id"), col("document_name"), col("category_id"),
        col("s.snippet_id").as("snippet_id"), col("s.snippet_text").as("snippet_text"),
        col("document_status"))
    val newCats = spark.createDataFrame(
      addedCats.filterNot(c => c.catId.exists(removeCats)).sortBy(_.id)
        .map(c => Row(c.row.get(5), c.row.get(3))).asJava,
      StructType(Seq("category_id", "category_name").map(cmds.schema(_))))
    val messages = spark.createDataFrame(
      keys.map(c => Row(c.row.get(1), c.row.get(2), c.row.get(3), message(c))).asJava,
      StructType(Seq("action_code", "document_name", "category_name").map(cmds.schema(_)) :+
        StructField("message", StringType, nullable = false)))
    (EngineState(
      survivors(state.docs).unionByName(newDocs),
      survivors(state.snippets).unionByName(newSnippets),
      state.categories.filter(notIn(state.categories, "category_id", removeCats))
        .unionByName(newCats)),
      messages)
  }

  /** Oracle-checked batch demo: seed state from the test tables (documents
    * as docs with category = doc_id % 5 over the region dim), apply one
    * command batch exercising all four action codes plus both dedup
    * rejections, return the resulting docs table. */
  def qDispatch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs0 = graft.engine.Tables.documents(s, d).select(
      col("doc_id").as("document_id"),
      concat(lit("doc_"), col("doc_id")).as("document_name"),
      (col("doc_id") % 5).cast("int").as("category_id"),
      lit(null).cast("string").as("category_name"),
      col("text"),
      lit("Active").as("document_status"))
    val cats0 = graft.engine.Tables.region(s, d).select(
      col("r_regionkey").cast("int").as("category_id"), col("r_name").as("category_name"))
    val snippets0 = s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("document_id", LongType), StructField("document_name", StringType),
        StructField("category_id", IntegerType), StructField("snippet_id", IntegerType),
        StructField("snippet_text", StringType), StructField("document_status", StringType))))
    val commands = Seq(
      (2, None: Option[Long], None: Option[String], Some(10), Some("NEWCAT"), None: Option[String]),
      (2, None, None, Some(11), Some("AFRICA"), None), // dup category -> rejected
      (1, Some(9001L), Some("doc_new"), Some(2), None, Some("alpha beta gamma delta epsilon zeta eta")),
      (1, Some(9002L), Some("doc_7"), Some(1), None, Some("duplicate name upload")), // rejected
      (0, None, Some("doc_3"), None, None, None),
      (3, None, None, Some(4), None, None)
    ).toDF("action_code", "document_id", "document_name", "category_id", "category_name", "text")
    val (next, _) = dispatch(EngineState(docs0, snippets0, cats0), commands)
    next.docs.select("document_id", "category_id").orderBy("document_id")
  }

  /** Oracle-checked T4-under-dispatch demo: seed the dispatch state WITH
    * expiry dates (doc_id % 3 == 0 already past, % 3 == 1 far future,
    * else none), apply one upload batch carrying its own expiries (one
    * past, one future — upload_one_doc's expiry_date, DI:77), then run
    * [[expiryMaintenance]] exactly as the streaming loop does per batch.
    * The oracle restates every status in closed form: a sweep that
    * misses the seed rows, the same-batch upload, or flips a NULL/future
    * expiry hash-mismatches. */
  def qDispatchSweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs0 = graft.engine.Tables.documents(s, d).select(
      col("doc_id").as("document_id"),
      concat(lit("doc_"), col("doc_id")).as("document_name"),
      (col("doc_id") % 5).cast("int").as("category_id"),
      lit(null).cast("string").as("category_name"),
      col("text"),
      lit("Active").as("document_status"),
      when(col("doc_id") % 3 === 0, lit("2001-01-01"))
        .when(col("doc_id") % 3 === 1, lit("2099-01-01"))
        .otherwise(lit(null).cast("string")).as("document_expiryDate"))
    val cats0 = graft.engine.Tables.region(s, d).select(
      col("r_regionkey").cast("int").as("category_id"), col("r_name").as("category_name"))
    val snippets0 = s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("document_id", LongType), StructField("document_name", StringType),
        StructField("category_id", IntegerType), StructField("snippet_id", IntegerType),
        StructField("snippet_text", StringType), StructField("document_status", StringType))))
    val commands = Seq(
      (1, Some(9001L), Some("doc_new1"), Some(2), None: Option[String],
        Some("alpha beta gamma delta epsilon"), Some("2002-02-02")),
      (1, Some(9002L), Some("doc_new2"), Some(1), None,
        Some("zeta eta theta iota kappa"), Some("2099-01-01")))
      .toDF("action_code", "document_id", "document_name", "category_id",
        "category_name", "text", "document_expiryDate")
    val (next0, _) = dispatch(EngineState(docs0, snippets0, cats0), commands)
    // pin the dispatched docs ONCE (VERDICT r11 Next #8): the sweep reads
    // that lineage twice — the expireSweep scan AND the newly-expired
    // delta — so without a checkpoint the gate rescans the documents
    // table per consumer.
    val next = next0.copy(docs = next0.docs.localCheckpoint())
    val swept = expiryMaintenance(lit("2026-01-01"))(next)
    swept.docs.select("document_id", "document_status", "document_expiryDate")
      .orderBy("document_id")
  }

  /** Strict cross-type FIFO dispatch (the reference's single-queue drain
    * order, data_ingestion.py:46-72): commands are applied in `seqCol`
    * arrival order. Implementation: split the batch into RUNS of
    * consecutive same-type commands and fold [[dispatch]] over the runs —
    * within a run the per-type batch semantics are already order-free, so
    * the fold reproduces the exact one-at-a-time queue result. Only the
    * run ids (a handful of ints per micro-batch) are collected to the
    * driver; command data never leaves the cluster. Use this dispatcher
    * when a batch may interleave conflicting commands on the same key
    * (e.g. upload -> remove -> re-upload of one name); for
    * non-conflicting batches it is equivalent to [[dispatch]]. */
  def dispatchFifo(state: EngineState, commands: DataFrame,
      seqCol: String = "seq"): (EngineState, DataFrame) = {
    // a command batch is an inherently sequential queue: the unpartitioned
    // window is over one micro-batch, not a data table
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(seqCol))
    val runs = commands
      .withColumn("__chg",
        when(col("action_code") === lag(col("action_code"), 1).over(w), 0).otherwise(1))
      .withColumn("__run", sum(col("__chg")).over(w))
      .drop("__chg")
      .transform(Scope.pin)
    val runIds = runs.select("__run").distinct().orderBy("__run")
      .collect().map(_.getLong(0))
    if (runIds.isEmpty) return dispatch(state, commands) // empty micro-batch
    var st = state
    val messages = runIds.map { r =>
      val (next, msgs) = dispatch(st, runs.filter(col("__run") === r).drop("__run", seqCol))
      st = next
      msgs
    }
    (st, messages.reduceLeft(_ unionByName _))
  }

  /** T4 as a STREAMING citizen (VERDICT r10 Next #6): per-batch
    * maintenance run INSIDE the same foreachBatch transaction as the
    * dispatch — the reference runs its expiry sweep once per run
    * (data_ingestion.py:554); here the sweep's output IS what the batch
    * snapshot persists, so a replayed batch (crash between the snapshot
    * write and the streaming commit) re-runs dispatch+sweep on the same
    * base snapshot and rewrites the same result — idempotent under the
    * recovery contract, spec'd by a forced mid-sweep replay in
    * StreamingSpec. Docs sweep by [[Mutations.expireSweep]]; the expired
    * status cascades to the denormalized snippets (broadcast of the
    * expired-id set — the swept delta, never the corpus). */
  def expiryMaintenance(asOf: org.apache.spark.sql.Column,
      expiryCol: String = "document_expiryDate"): EngineState => EngineState = { st =>
    val sweptDocs = Mutations.expireSweep(st.docs, expiryCol, asOf)
    // cascade only the NEWLY-expired ids (was Active, crosses the expiry
    // predicate this batch): docs expired in earlier batches already
    // cascaded then, so the broadcast carries the per-batch delta — never
    // the full accumulated Expired set, which at corpus scale grows
    // without bound while the delta stays micro-batch-sized
    val newlyExpired = st.docs
      .filter(col("document_status") === "Active" &&
        col(expiryCol).isNotNull && col(expiryCol) < asOf)
      .select(col("document_id").as("__eid"))
    // an IN-subquery (an existence join) rather than a left join, so a
    // document id that expires on two rows flips its snippets once, not
    // duplicating them
    val sweptSnips = st.snippets.withColumn("document_status",
      when(col("document_id").isin(broadcast(newlyExpired)), lit("Expired"))
        .otherwise(col("document_status")))
    EngineState(sweptDocs, sweptSnips, st.categories)
  }

  /** Streaming mode: run the dispatcher inside foreachBatch over a command
    * stream, persisting each state snapshot under `stateDir/<batchId>/`.
    *
    * Recovery contract: batch N is ALWAYS dispatched against the batch N-1
    * snapshot read back from `stateDir` (batch 0 against `initial`), never
    * against driver-local state — so a query restarted from its streaming
    * checkpoint resumes correctly (the source replays from batch N, the
    * dispatcher rebases on snapshot N-1), and a re-run of a batch
    * overwrites the same snapshot with the same result (idempotent per
    * batch id; the reference's rollback intent via atomic dirs, SURVEY
    * §7.4). If intermediate snapshots were pruned, the newest one below N
    * is used. `onBatch` receives the post-batch state for inspection. */
  def runStream(spark: SparkSession, commands: DataFrame, initial: EngineState,
      stateDir: String, onBatch: (Long, EngineState) => Unit,
      dispatcher: (EngineState, DataFrame) => (EngineState, DataFrame) = dispatch,
      maintenance: EngineState => EngineState = identity,
      checkpoint: Option[String] = None): StreamingQuery = {
    // the schemas of the last snapshot this query wrote: reading it back
    // with them skips Parquet schema inference; the first batch after a
    // restart infers
    var written: Option[(Long, Seq[StructType])] = None
    def loadState(id: Long): Option[EngineState] = {
      val ok = new java.io.File(s"$stateDir/$id/categories/_SUCCESS").exists()
      def read(i: Int, table: String) =
        written.collect { case (`id`, ss) => spark.read.schema(ss(i)) }.getOrElse(spark.read)
          .parquet(s"$stateDir/$id/$table")
      if (ok) Some(EngineState(read(0, "docs"), read(1, "snippets"), read(2, "categories")))
      else None
    }
    def latestBelow(batchId: Long): Option[EngineState] = {
      val ids = Option(new java.io.File(stateDir).listFiles()).getOrElse(Array.empty)
        .flatMap(f => scala.util.Try(f.getName.toLong).toOption)
        .filter(_ < batchId).sorted.reverse
      ids.view.flatMap(loadState).headOption
    }
    val writer = checkpoint.foldLeft(commands.writeStream.outputMode("append"))(
      (w, c) => w.option("checkpointLocation", c))
    writer
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the batch scope ends after the writes below: snapshot +
        // messages are on disk by then, so the batch's pinned frames are
        // fully consumed and safe to unpersist
        Scope.batch {
          val base = if (batchId == 0) initial else latestBelow(batchId).getOrElse(initial)
          val (dispatched, messages) = dispatcher(base, batch)
          // maintenance INSIDE the batch transaction: the swept state is
          // what persists, so batch replay reproduces it (T4 streaming)
          val next = maintenance(dispatched)
          // materialize snapshots so state does not re-read mutated streams
          val dir = s"$stateDir/$batchId"
          next.docs.write.mode("overwrite").parquet(s"$dir/docs")
          next.snippets.write.mode("overwrite").parquet(s"$dir/snippets")
          // the two small tables are written as one file each
          messages.coalesce(1).write.mode("overwrite").parquet(s"$dir/messages")
          // categories last: its _SUCCESS marks the snapshot complete for recovery
          next.categories.coalesce(1).write.mode("overwrite").parquet(s"$dir/categories")
          written = Some(batchId -> Seq(next.docs, next.snippets, next.categories)
            .map(df => StructType(df.schema.map(_.copy(nullable = true)))))
        }
        onBatch(batchId, loadState(batchId).get)
      }
      .start()
  }
}
