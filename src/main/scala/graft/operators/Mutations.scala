package graft.operators

import graft.engine.{Scratch, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}

/** Mutation operators M1-M8 (SURVEY.md §2.8): the reference mutates Mongo
  * collections in place with manual compensating rollbacks
  * (data_ingestion.py:279,359,391,445,500,522); this engine expresses each
  * mutation as a PURE batch transformation `snapshot -> snapshot'`. Writing
  * the next snapshot atomically (write-new-dir-then-swap) gives the
  * all-or-nothing behavior the reference's rollback code is trying to
  * approximate, with no rollback logic at all (SURVEY.md §7.4).
  *
  * All transforms are single-pass, shuffle-minimal: deletes are
  * anti-filters (narrow once the predicate is pushed), bulk status updates
  * are one `when()` projection over the table (no N+1 per-row round trips
  * like data_ingestion.py:487-503), and dedup-on-insert is one left_anti
  * join against the existing keys (broadcast when the incoming batch is
  * small, which is the common ingest case).
  */
object Mutations {
  import Tables._

  // ---------------------------------------------------------------- pure transforms

  /** The accepted subset of an incoming batch under key-dedup: rows whose
    * key is absent from `existing`, deduplicated within the batch itself.
    * The within-batch winner is the row that sorts FIRST on its full
    * content — `dropDuplicates` would keep whichever row a task saw
    * first, which varies with partitioning; a replayed batch must insert
    * the same row. Shared by [[insertDedup]] and by callers that derive
    * follow-on work (e.g. snippet generation) from exactly the inserted
    * rows. */
  def acceptedNew(existing: DataFrame, incoming: DataFrame, key: String): DataFrame =
    firstPerKey(incoming.join(existing.select(key), Seq(key), "left_anti"), key)

  /** One row per value of the `keys` columns: the least in full-row
    * order, so a replay or another partitioning keeps the same row. */
  def firstPerKey(df: DataFrame, keys: String*): DataFrame = {
    // map columns are not orderable in Spark — order on everything else
    // (degenerate all-map rows fall back to an arbitrary-but-single pick)
    val orderable = df.schema.fields
      .filterNot(_.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
      .map(f => col(f.name))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(struct(orderable.toIndexedSeq: _*))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** M1 insert-with-dedup (upload_one_doc, data_ingestion.py:227-291):
    * refuse rows whose key already exists, then append. */
  def insertDedup(existing: DataFrame, incoming: DataFrame, key: String): DataFrame =
    existing.unionByName(acceptedNew(existing, incoming, key))

  /** M2 conditional status update (change_document_status,
    * data_ingestion.py:413-448): one `when()` over the whole table; covers
    * re-activation (README.md:3). */
  def setStatusWhere(df: DataFrame, cond: org.apache.spark.sql.Column,
      status: String, statusCol: String = "document_status"): DataFrame =
    df.withColumn(statusCol, when(cond, lit(status)).otherwise(col(statusCol)))

  /** M3 expiry sweep (expire_doc_auto, data_ingestion.py:483-505): single
    * job, predicate fully pushed, vs the reference's N+1 update loop with
    * client-side string-date parsing. */
  def expireSweep(df: DataFrame, expiryCol: String, asOf: org.apache.spark.sql.Column,
      statusCol: String = "document_status"): DataFrame =
    df.withColumn(statusCol,
      when(col(statusCol) === "Active" && col(expiryCol).isNotNull && col(expiryCol) < asOf,
        lit("Expired")).otherwise(col(statusCol)))

  /** M4/M5 cascading delete (remove_one_doc / omit_category,
    * data_ingestion.py:375-405,344-363): delete = anti-filter; cascade =
    * the same predicate applied to the child table (or a left_anti join
    * against the deleted keys). */
  def deleteWhere(df: DataFrame, cond: org.apache.spark.sql.Column): DataFrame =
    df.filter(!cond)

  /** M8 batch delete (remove_multiple_documents, data_ingestion.py:407-410;
    * intended semantics — the reference call raises TypeError, SURVEY.md
    * §2.8 M8): one anti-join against the key list, not a per-key loop. */
  def deleteKeys(df: DataFrame, keys: DataFrame, key: String): DataFrame =
    df.join(broadcast(keys), Seq(key), "left_anti")

  /** M6 truncate (clear_dataset, data_ingestion.py:507-525). */
  def truncate(df: DataFrame): DataFrame = df.limit(0)

  /** M7 dim insert with name uniqueness (add_main_category,
    * data_ingestion.py:336-342). Incoming is deduplicated within the batch
    * too, so two new categories sharing a name in one batch insert once. */
  def dimInsert(dim: DataFrame, incoming: DataFrame, nameCol: String): DataFrame =
    dim.unionByName(acceptedNew(dim, incoming, nameCol))

  /** CDC-style snapshot diff for incremental re-ingestion: classify every
    * key as added / deleted / changed / unchanged by comparing CONTENT
    * FINGERPRINTS across two snapshot versions. Both sides are projected
    * to (key, fingerprint) BEFORE the full-outer join, so the shuffle
    * moves two longs per row — never the documents — and the downstream
    * incremental pipeline reprocesses only the changed keys. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, key: String,
      contentCol: String): DataFrame = {
    val fp = graft.functions.GraftFunctions.poly_hash _
    // Presence is tracked by explicit markers, NOT by fingerprint nullness:
    // poly_hash is null-safe, so a key whose content is NULL in both
    // versions would otherwise classify as "added" and a non-NULL -> NULL
    // edit as "deleted". The changed-vs-unchanged compare is null-safe
    // (<=>) for the same reason: NULL-content rows on both sides are
    // unchanged; NULL vs non-NULL is a content change.
    val o = oldDf.select(col(key), fp(col(contentCol)).as("fp_old"),
      lit(true).as("in_old"))
    val n = newDf.select(col(key), fp(col(contentCol)).as("fp_new"),
      lit(true).as("in_new"))
    o.join(n, Seq(key), "full_outer")
      .withColumn("change",
        when(col("in_old").isNull, "added")
          .when(col("in_new").isNull, "deleted")
          .when(!(col("fp_old") <=> col("fp_new")), "changed")
          .otherwise("unchanged"))
      .select(col(key), col("change"))
  }

  /** Oracle-checked CDC demo: derive a deterministic v2 of the corpus
    * (every 97th doc deleted, every 31st doc edited, 10 new docs) and
    * report the non-unchanged diff rows. */
  def qCdcDiff(s: SparkSession, d: String): DataFrame = {
    val v1 = documents(s, d).select("doc_id", "text")
    val v2 = v1.filter(col("doc_id") % 97 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 31 === 0, concat(col("text"), lit(" EDITED")))
          .otherwise(col("text")))
      .unionByName(v1.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    snapshotDiff(v1, v2, "doc_id", "text")
      .filter(col("change") =!= "unchanged")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- oracle-checked demos

  /** M1 demo: upload batch with two duplicate names and one new row. */
  def qUpsert(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val existing = region(s, d).select(
      col("r_name").as("document_name"), col("r_regionkey").cast("long").as("document_id"))
    val incoming = Seq(("AFRICA", 100L), ("AMERICA", 101L), ("NEW_REGION", 102L))
      .toDF("document_name", "document_id")
    insertDedup(existing, incoming, "document_name").orderBy("document_id", "document_name")
  }

  /** M2 demo: flip status for one key, leave the rest. */
  def qStatusUpdate(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("document_status", lit("Active"))
      .transform(df => setStatusWhere(df, col("doc_id") === 7L, "Archived"))
      .select("doc_id", "document_status").orderBy("doc_id")

  /** M3 demo: expiry sweep over orders with a fixed as-of date. */
  def qExpirySweep(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .withColumn("document_status", lit("Active"))
      .transform(df => expireSweep(df, "o_orderdate", lit("1996-01-01").cast("timestamp")))
      .groupBy("document_status").agg(count(lit(1)).as("n"))
      .orderBy("document_status")

  /** M4 demo: cascading delete of one document's rows. */
  def qDeleteDoc(s: SparkSession, d: String): DataFrame =
    deleteWhere(documents(s, d), col("doc_id") === 3L)
      .select("doc_id").orderBy("doc_id")

  /** M5 demo: cascade-delete a category — drop one nation, cascade to its
    * customers via anti-join on the deleted keys. */
  def qDeleteCategory(s: SparkSession, d: String): DataFrame = {
    val deletedKeys = nation(s, d).filter(col("n_name") === "NATION_3")
      .select(col("n_nationkey").as("c_nationkey"))
    deleteKeys(customer(s, d), deletedKeys, "c_nationkey")
      .select("c_custkey", "c_nationkey").orderBy("c_custkey")
  }

  /** M8 demo: bulk delete by key list in one anti-join. */
  def qBatchDelete(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val keys = Seq(1L, 2L, 5L, 8L).toDF("doc_id")
    deleteKeys(documents(s, d), keys, "doc_id")
      .select("doc_id", "lang").orderBy("doc_id")
  }

  /** M6 demo: truncate preserves schema, yields zero rows. */
  def qTruncate(s: SparkSession, d: String): DataFrame =
    truncate(documents(s, d).select("doc_id", "lang"))

  /** M7 demo: dim insert rejecting an existing name, accepting a new one. */
  def qDimInsert(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dim = region(s, d).select(
      col("r_regionkey").cast("long").as("category_id"), col("r_name").as("category_name"))
    val incoming = Seq((100L, "AFRICA"), (101L, "BRAND_NEW_CATEGORY"))
      .toDF("category_id", "category_name")
    dimInsert(dim, incoming, "category_name").orderBy("category_id")
  }

  /** Oracle-gated TIME-TRAVEL demo over the real snapshot store: publish a
    * base version, run two REAL mutations through [[graft.engine.Snapshot.mutate]]
    * (M1 insert-with-dedup, then an M3/M4-shaped delete sweep), roll back
    * to the pre-delete version, then read EVERY published version as-of
    * and report its closed-form summary. The oracle restates each
    * version's set algebra directly from the documents table — a
    * read-your-history defect anywhere (a version that drifts after later
    * mutations, a rollback that mutates instead of re-publishing, a
    * readAsOf that resolves through CURRENT) hash-mismatches.
    *
    * The store root is wiped per call so version numbering is v_0..v_3 in
    * closed form (the temp dir is already per-process, so no concurrent
    * process can be mid-read). Scale: time travel is a pointer-and-
    * directory mechanism — the data never copies on read, and the
    * per-version aggregates here are one count/sum scan each. */
  def qTimeTravel(s: SparkSession, d: String): DataFrame = {
    val root = new java.io.File(timeTravelRoot, "store")
    Scratch.rmTree(root)
    val snap = new graft.engine.Snapshot(s, root.getPath)
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    snap.publish(docs.filter(col("doc_id") < 100))                       // v_0
    val batch = docs.filter(col("doc_id") >= 100 && col("doc_id") < 150)
    snap.mutate(cur => insertDedup(cur, batch, "doc_id"))                // v_1
    snap.mutate(cur => deleteWhere(cur, col("doc_id") % 10 === 0))       // v_2
    snap.rollback("v_1")                                                 // v_3
    val cur = snap.currentVersion().getOrElse("")
    versionSummaries(snap.versions(), snap.readAsOf, Some(cur)).orderBy("version")
  }

  /** Per-version (count, id-sum) summary of a versioned table as ONE
    * union-of-aggregates plan instead of one sequential `.head()` job per
    * version (guide §1.2 #1 / §2.6: the version scans are independent —
    * one action lets the scheduler overlap them, and N-1 driver round
    * trips disappear). Values and column names/types are identical to the
    * former per-version collect loop; every caller stays oracle-gated. An
    * empty version list gives an empty frame of the same schema. */
  private[graft] def versionSummaries(vs: Seq[String], read: String => DataFrame,
      cur: Option[String] = None): DataFrame =
    if (vs.isEmpty) {
      val s = SparkSession.active
      s.createDataFrame(s.sparkContext.emptyRDD[Row], StructType(Seq(
        StructField("version", StringType, nullable = false),
        StructField("n_docs", LongType, nullable = false),
        StructField("sum_ids", LongType, nullable = false)) ++
        cur.map(_ => StructField("is_current", BooleanType, nullable = false))))
    } else vs.map { v =>
      val base = read(v)
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("doc_id")), lit(0L)).as("sum_ids"))
        .select(lit(v).as("version"), col("n_docs"), col("sum_ids"))
      cur.fold(base)(c => base.withColumn("is_current", lit(v == c)))
    }.reduce(_ unionByName _)

  private lazy val timeTravelRoot: String = Scratch.processTempDir("graft_time_travel")

  /** The three data files of the Delta-layout fixtures, staged under
    * `root` in one write job: f0 = ids below 100, f1 = ids 100..149,
    * f2 = f0 without the multiples of 10 (f0's compaction edit). */
  private def stageDeltaFixture(root: java.io.File, docs: DataFrame): Unit =
    Scratch.stageFiles(Seq(
      new java.io.File(root, "f0.parquet") -> docs.filter(col("doc_id") < 100),
      new java.io.File(root, "f1.parquet") ->
        docs.filter(col("doc_id") >= 100 && col("doc_id") < 150),
      new java.io.File(root, "f2.parquet") ->
        docs.filter(col("doc_id") < 100 && col("doc_id") % 10 =!= 0)))

  /** Oracle-gated read of an EXTERNAL Delta-layout table (VERDICT r10
    * Next #3): stage a three-commit log-structured table from the
    * documents slice — append, append, compaction-edit (remove + re-add)
    * — then resolve every version through [[graft.engine.DeltaLayoutTable]]
    * and report its closed-form summary, exactly the qTimeTravel contract
    * but over the ecosystem layout instead of the homegrown store. The
    * oracle restates each version's set algebra from the documents table:
    * a reconstruction defect anywhere (remove not applied, checkpointless
    * chain broken, add applied twice) hash-mismatches. */
  def qDeltaRead(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = new java.io.File(timeTravelRoot, "delta")
    Scratch.rmTree(root)
    val log = new java.io.File(root, "_delta_log")
    log.mkdirs()
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    stageDeltaFixture(root, docs)
    def commit(n: Long, lines: Seq[String]): Unit =
      java.nio.file.Files.writeString(
        new java.io.File(log, f"$n%020d.json").toPath,
        lines.mkString("", "\n", "\n"))
    commit(0, Seq("""{"add":{"path":"f0.parquet","dataChange":true}}"""))
    commit(1, Seq("""{"add":{"path":"f1.parquet","dataChange":true}}"""))
    commit(2, Seq("""{"remove":{"path":"f0.parquet","deletionTimestamp":1}}""",
      """{"add":{"path":"f2.parquet","dataChange":true}}"""))
    val t = new graft.engine.DeltaLayoutTable(s, root.getPath)
    versionSummaries(t.versions(), t.readAsOf).orderBy("version")
  }

  /** Oracle-gated V2-CHECKPOINT read (round 13 — VERDICT r12 Next #2,
    * the last interop rung): the fixture stages the checkpoint form
    * large ecosystem writers default to — a `<n>.checkpoint.<uuid>.json`
    * MANIFEST carrying the protocol row (minReaderVersion 3 +
    * readerFeatures v2Checkpoint) and `sidecar` references, with the add
    * actions living only in `_delta_log/_sidecars/` parquet files — then
    * prunes every JSON commit at/below it, so v_1 is reconstructible
    * from the v2 manifest ALONE, and v_2 from manifest + one tail
    * commit. The oracle restates both versions' set algebra from the
    * documents table: a sidecar not read, a manifest add double-applied,
    * or the protocol gate refusing the implemented feature all
    * hash-mismatch (or raise). */
  def qDeltaV2(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = new java.io.File(timeTravelRoot, "delta_v2")
    Scratch.rmTree(root)
    val log = new java.io.File(root, "_delta_log")
    val sidecars = new java.io.File(log, "_sidecars")
    sidecars.mkdirs()
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    stageDeltaFixture(root, docs)
    // sidecar action files: add-only parquet under _delta_log/_sidecars
    Scratch.stageFiles(Seq("sc0.parquet" -> "f0.parquet", "sc1.parquet" -> "f1.parquet")
      .map { case (name, dataFile) =>
        new java.io.File(sidecars, name) ->
          Seq(dataFile).toDF("path").selectExpr("struct(path) AS add")
      })
    java.nio.file.Files.writeString(
      new java.io.File(log,
        f"${1L}%020d.checkpoint.80a083e8-4d2a-4c1f-9a0e-000000000001.json").toPath,
      Seq(
        """{"checkpointMetadata":{"version":1}}""",
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}""",
        """{"sidecar":{"path":"sc0.parquet","sizeInBytes":1,"modificationTime":0}}""",
        """{"sidecar":{"path":"sc1.parquet","sizeInBytes":1,"modificationTime":0}}""")
        .mkString("", "\n", "\n"))
    // the commits at/below the checkpoint are PRUNED — v_1 must stand on
    // the v2 manifest alone (no JSON chain from 0 exists)
    java.nio.file.Files.writeString(
      new java.io.File(log, f"${2L}%020d.json").toPath,
      Seq("""{"remove":{"path":"f0.parquet","deletionTimestamp":1}}""",
        """{"add":{"path":"f2.parquet","dataChange":true}}""")
        .mkString("", "\n", "\n"))
    val t = new graft.engine.DeltaLayoutTable(s, root.getPath)
    versionSummaries(t.versions(), t.readAsOf).orderBy("version")
  }

  /** Oracle-gated Delta-layout WRITE path — the reader's round trip
    * (VERDICT r10 Next #3 completed in both directions): commit two
    * appends and one replace through [[graft.engine.DeltaLayoutTable]]'s
    * writer (staged data files published only by the exclusive-create
    * commit — the Delta put-if-absent protocol), CHECKPOINT the newest
    * version, PRUNE the now-redundant JSON commits below it, and read
    * every still-readable version back through the same adapter. After
    * the prune only v_2 (via the checkpoint) and v_3 survive — the gate
    * pins the retention contract, not just the happy path; a writer
    * defect anywhere (replace not removing, checkpoint missing a file,
    * prune over-deleting) hash-mismatches. */
  def qDeltaWrite(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = new java.io.File(timeTravelRoot, "delta_w")
    Scratch.rmTree(root)
    root.mkdirs()
    val t = new graft.engine.DeltaLayoutTable(s, root.getPath)
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    t.commitAppend(docs.filter(col("doc_id") < 80))                       // v_0
    t.commitAppend(docs.filter(col("doc_id") >= 80 && col("doc_id") < 160)) // v_1
    t.commitReplace(docs.filter(col("doc_id") < 160 && col("doc_id") % 7 =!= 0)) // v_2
    t.checkpoint()                                                        // @2
    t.pruneLog()                                                          // v_0/v_1 out of retention
    t.commitAppend(docs.filter(col("doc_id") >= 160 && col("doc_id") < 200)) // v_3
    versionSummaries(t.versions(), t.readAsOf).orderBy("version")
  }

  /** Oracle-gated Delta-layout DATA RETENTION round trip (round 12): the
    * full maintenance lifecycle — append, replace, checkpoint, log prune,
    * then [[graft.engine.DeltaLayoutTable.vacuumData]] — must reclaim the
    * replaced version's now-unreadable files (vacuum_removed pins that
    * something was actually deleted) while the surviving version's
    * CONTENT stays exactly the source rows. A vacuum that deletes a live
    * file breaks the row compare; one that deletes nothing fails the
    * boolean; one that deletes the checkpoint or log breaks read(). */
  def qDeltaVacuum(s: SparkSession, d: String): DataFrame = {
    val root = new java.io.File(timeTravelRoot, "delta_vac")
    Scratch.rmTree(root)
    root.mkdirs()
    val t = new graft.engine.DeltaLayoutTable(s, root.getPath)
    val docs = documents(s, d).select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 100)
    t.commitAppend(docs.filter(col("doc_id") < 50))  // v_0 — to be reclaimed
    t.commitReplace(docs)                            // v_1 = the full set
    // while v_0 is still readable its files are LIVE: vacuum removes none
    val early = t.vacuumData()
    require(early.isEmpty, s"vacuum deleted files of a readable version: $early")
    t.checkpoint()                                   // @1
    t.pruneLog()                                     // v_0 out of retention
    val removed = t.vacuumData()                     // v_0's files reclaimed
    t.read().select(col("doc_id"), col("text"))
      .withColumn("vacuum_removed", lit(removed.nonEmpty))
      .orderBy("doc_id")
  }

  /** Oracle-gated STORE-MIGRATION round trip (round 12): a [[graft.engine.Snapshot]]
    * store's full three-version history imports into a Delta-layout
    * table via [[graft.engine.DeltaLayoutTable.importHistory]] — one
    * replace commit per source version through the VersionedTable seam —
    * and every DESTINATION version must read back exactly what the
    * source version held (per-version count + id-sum in closed form, the
    * q_delta_write design). A migration that drops a version, reorders
    * history, or loses rows anywhere hash-mismatches. */
  def qDeltaMigrate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val snapRoot = new java.io.File(timeTravelRoot, "mig_src")
    val deltaRoot = new java.io.File(timeTravelRoot, "mig_dst")
    Scratch.rmTree(snapRoot); Scratch.rmTree(deltaRoot)
    deltaRoot.mkdirs()
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    val snap = new graft.engine.Snapshot(s, snapRoot.getPath)
    snap.publish(docs.filter(col("doc_id") < 50))                     // v_0
    snap.publish(docs.filter(col("doc_id") < 100))                    // v_1
    snap.publish(docs.filter(col("doc_id") < 100 && col("doc_id") % 7 =!= 0)) // v_2
    val dst = new graft.engine.DeltaLayoutTable(s, deltaRoot.getPath)
    val moved = dst.importHistory(snap)
    require(moved == snap.versions(), s"version alignment lost: $moved")
    versionSummaries(dst.versions(), dst.readAsOf).orderBy("version")
  }

  /** Oracle-gated CDF-over-external-layout interop: the same change-feed
    * operator that serves the homegrown store ([[qCdcFeed]]) pointed at a
    * Delta-layout table staged through the WRITER — an append commit then
    * a replace commit carrying deletes + edits + inserts. One operator,
    * two stores, both oracle-checked: the VersionedTable seam is proven
    * where it matters (the feed an index refresher consumes), not just at
    * the read surface. */
  def qDeltaCdf(s: SparkSession, d: String): DataFrame = {
    val root = new java.io.File(timeTravelRoot, "delta_cdf")
    Scratch.rmTree(root)
    val t = new graft.engine.DeltaLayoutTable(s, root.getPath)
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    t.commitAppend(docs.filter(col("doc_id") < 120))                     // v_0
    val inserts = docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + 5000L).as("doc_id"), col("text"))
    t.commitReplace(                                                      // v_1
      docs.filter(col("doc_id") < 120 && col("doc_id") % 17 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" EDITED")))
            .otherwise(col("text")))
        .unionByName(inserts))
    changeFeed(t, "v_0", "v_1", "doc_id", "text").orderBy("doc_id")
  }

  /** CHANGE-DATA-FEED between any two published versions of a snapshot
    * store (the Delta CDF shape, composed from this engine's own parts:
    * [[graft.engine.Snapshot.readAsOf]] on both ends + [[snapshotDiff]]'s
    * fingerprint compare): every key added, deleted, or content-changed
    * from `fromV` to `toV`, with the NEW content attached for added and
    * changed rows (null for deleted — there is no new content). This is
    * what an incremental downstream consumer (an index refresher, a
    * re-embedding job) reads INSTEAD of re-scanning the corpus: cost is
    * two version scans + one fingerprint join, independent of how many
    * versions lie between. */
  def changeFeed(snap: graft.engine.VersionedTable, fromV: String, toV: String,
      key: String, contentCol: String): DataFrame = {
    val to = snap.readAsOf(toV)
    snapshotDiff(snap.readAsOf(fromV), to, key, contentCol)
      .filter(col("change") =!= "unchanged")
      .join(to.select(col(key), col(contentCol).as(s"new_$contentCol")), Seq(key), "left")
  }

  /** Oracle-gated change-feed demo: publish a base slice, run one real
    * mutation wave (deletes, edits, inserts) through mutate(), then read
    * the v_0 -> v_1 feed. The oracle restates each change class in closed
    * form from the documents table. */
  def qCdcFeed(s: SparkSession, d: String): DataFrame = {
    val root = new java.io.File(timeTravelRoot, "feed")
    Scratch.rmTree(root)
    val snap = new graft.engine.Snapshot(s, root.getPath)
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    snap.publish(docs.filter(col("doc_id") < 120))                        // v_0
    val inserts = docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + 5000L).as("doc_id"), col("text"))
    snap.mutate { cur =>                                                  // v_1
      cur.filter(col("doc_id") % 17 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" EDITED")))
            .otherwise(col("text")))
        .unionByName(inserts)
    }
    changeFeed(snap, "v_0", "v_1", "doc_id", "text").orderBy("doc_id")
  }
}
