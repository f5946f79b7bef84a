package graft

import graft.engine.DeltaLayoutTable
import graft.operators.Mutations.changeFeed
import java.nio.file.{Files, Paths}

/** Pins the Delta-layout reader seam (VERDICT r10 Next #3) on a
  * HAND-BUILT log fixture: data parquet files + a `_delta_log/` of JSON
  * action files and a parquet checkpoint, assembled byte-by-byte by this
  * spec — no table-format library anywhere. The adapter must resolve the
  * same `versions()/readAsOf()` surface as the homegrown Snapshot store,
  * and the CDF operator must run over it unchanged. */
class DeltaLayoutSpec extends SparkSpec {

  /** Build the fixture table:
    *   commit 0: add f0 = (1,a),(2,b)
    *   commit 1: add f1 = (3,c),(4,d)
    *   commit 2: remove f0, add f2 = (1,A2),(2,b)   (compaction-style edit)
    *   checkpoint @ 2 (active = f1, f2) + _last_checkpoint
    *   commit 3: add f3 = (5,e)
    */
  private def buildFixture(): String = {
    import spark.implicits._
    val root = tempDir("delta_fixture")
    val log = Paths.get(root, "_delta_log")
    Files.createDirectories(log)
    def writeData(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = tempDir("dl_part")
      rows.toDF("id", "body").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(root, name))
    }
    writeData("f0.parquet", Seq((1L, "a"), (2L, "b")))
    writeData("f1.parquet", Seq((3L, "c"), (4L, "d")))
    writeData("f2.parquet", Seq((1L, "A2"), (2L, "b")))
    writeData("f3.parquet", Seq((5L, "e")))
    def commit(n: Long, lines: Seq[String]): Unit =
      Files.writeString(log.resolve(f"$n%020d.json"), lines.mkString("", "\n", "\n"))
    commit(0, Seq("""{"commitInfo":{"operation":"WRITE"}}""",
      """{"add":{"path":"f0.parquet","dataChange":true}}"""))
    commit(1, Seq("""{"add":{"path":"f1.parquet","dataChange":true}}"""))
    commit(2, Seq(
      """{"remove":{"path":"f0.parquet","deletionTimestamp":1}}""",
      """{"add":{"path":"f2.parquet","dataChange":true}}"""))
    // checkpoint @ 2: one row per active file, `add` struct column (a
    // remove-tombstone row with add = null must be ignored by the reader)
    val tmp = tempDir("dl_ckpt")
    Seq(Some("f1.parquet"), Some("f2.parquet"), None).toDF("path")
      .selectExpr("CASE WHEN path IS NOT NULL THEN struct(path) END AS add",
        "CASE WHEN path IS NULL THEN struct('f0.parquet' AS path) END AS remove")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, log.resolve(f"${2L}%020d.checkpoint.parquet"))
    Files.writeString(log.resolve("_last_checkpoint"), """{"version":2,"size":3}""")
    commit(3, Seq("""{"add":{"path":"f3.parquet","dataChange":true}}"""))
    root
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("versions/readAsOf reconstruct every commit from the JSON chain") {
    val root = buildFixture()
    val t = new DeltaLayoutTable(spark, root)
    assert(t.versions() === Seq("v_0", "v_1", "v_2", "v_3"))
    assert(t.lastCheckpointVersion() === Some(2L))
    assert(rowsOf(t.readAsOf("v_0")) === Set((1L, "a"), (2L, "b")))
    assert(rowsOf(t.readAsOf("v_1")) === Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // commit 2 removed f0 and added f2 in ONE commit: the edit applies
    assert(rowsOf(t.readAsOf("v_2")) === Set((1L, "A2"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(rowsOf(t.readAsOf("v_3")) ===
      Set((1L, "A2"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
    assert(rowsOf(t.read()) === rowsOf(t.readAsOf("v_3")))
    intercept[IllegalArgumentException](t.readAsOf("v_9"))
    intercept[IllegalArgumentException](t.readAsOf("junk"))
  }

  test("vacuumed log: checkpoint carries reads past missing JSON commits") {
    val root = buildFixture()
    // simulate log retention: JSON commits at/below the checkpoint pruned
    (0L to 2L).foreach(n =>
      Files.delete(Paths.get(root, "_delta_log", f"$n%020d.json")))
    val t = new DeltaLayoutTable(spark, root)
    // v_0/v_1 are gone (chain from 0 broken, no checkpoint below them);
    // v_2 survives via the checkpoint, v_3 via checkpoint + commit 3
    assert(t.versions() === Seq("v_2", "v_3"))
    assert(rowsOf(t.readAsOf("v_2")) === Set((1L, "A2"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(rowsOf(t.readAsOf("v_3")) ===
      Set((1L, "A2"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
    intercept[IllegalArgumentException](t.readAsOf("v_0"))
  }

  test("writer round trip: append/replace commits, checkpoint, prune, race") {
    import spark.implicits._
    // a FRESH, not-yet-existing table path: the first commit must create
    // it (round-11 review finding — every earlier caller pre-created it)
    val root = tempDir("delta_writer") + "/nested/table"
    val t = new DeltaLayoutTable(spark, root)
    assert(t.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "body")) === "v_0")
    assert(t.commitAppend(Seq((3L, "c")).toDF("id", "body")) === "v_1")
    assert(rowsOf(t.readAsOf("v_1")) === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // replace: one commit removes every active file and adds the new set
    assert(t.commitReplace(Seq((1L, "A2"), (3L, "c")).toDF("id", "body")) === "v_2")
    assert(rowsOf(t.readAsOf("v_1")) === Set((1L, "a"), (2L, "b"), (3L, "c")),
      "replace must not disturb history")
    assert(rowsOf(t.readAsOf("v_2")) === Set((1L, "A2"), (3L, "c")))
    // checkpoint at v_2, prune the redundant log prefix: v_0/v_1 leave
    // retention, v_2 survives via the checkpoint, appends continue on top
    assert(t.checkpoint() === 2L)
    assert(t.pruneLog() === Seq(0L, 1L))
    assert(t.versions() === Seq("v_2"))
    intercept[IllegalArgumentException](t.readAsOf("v_0"))
    assert(t.commitAppend(Seq((9L, "z")).toDF("id", "body")) === "v_3")
    assert(rowsOf(t.readAsOf("v_3")) === Set((1L, "A2"), (3L, "c"), (9L, "z")))
    // the put-if-absent primitive: the commit write is CREATE_NEW, so a
    // racing writer that computed the same version number fails fast on
    // the existing file instead of overwriting the winner's commit (the
    // window is between the log listing and the write, so the collision
    // is asserted at the primitive — an external test cannot interleave
    // inside commitAppend)
    val c3 = java.nio.file.Paths.get(root, "_delta_log", f"${3L}%020d.json")
    intercept[java.nio.file.FileAlreadyExistsException] {
      Files.writeString(c3, "loser", java.nio.file.StandardOpenOption.CREATE_NEW)
    }
    assert(rowsOf(t.read()) === Set((1L, "A2"), (3L, "c"), (9L, "z")))
  }

  test("protocol guard: reader version > 1 and column mapping refuse loudly (round 12)") {
    import spark.implicits._
    val root = tempDir("delta_guard")
    val log = Paths.get(root, "_delta_log")
    Files.createDirectories(log)
    val tmp = tempDir("dg_part")
    Seq((1L, "a")).toDF("id", "body").coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(root, "f0.parquet"))
    def commit(n: Long, lines: Seq[String]): Unit =
      Files.writeString(log.resolve(f"$n%020d.json"), lines.mkString("", "\n", "\n"))
    // reader version 3 (deletion vectors): versions() still lists, read refuses
    commit(0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7}}""",
      """{"add":{"path":"f0.parquet","dataChange":true}}"""))
    val t = new DeltaLayoutTable(spark, root)
    assert(t.versions() === Seq("v_0"))
    val e = intercept[IllegalArgumentException](t.readAsOf("v_0"))
    assert(e.getMessage.contains("minReaderVersion=3"))
    // column mapping under reader version 1: refused by configuration
    val root2 = tempDir("delta_guard2")
    val log2 = Paths.get(root2, "_delta_log")
    Files.createDirectories(log2)
    Files.copy(part.toPath, Paths.get(root2, "f0.parquet"))
    Files.writeString(log2.resolve(f"${0L}%020d.json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"metaData":{"schemaString":"{}","configuration":{"delta.columnMapping.mode":"name"}}}""",
      """{"add":{"path":"f0.parquet","dataChange":true}}""").mkString("", "\n", "\n"))
    val e2 = intercept[IllegalArgumentException](
      new DeltaLayoutTable(spark, root2).readAsOf("v_0"))
    assert(e2.getMessage.contains("column mapping"))
    // a version-1 protocol action passes through untouched
    val root3 = tempDir("delta_guard3")
    Files.createDirectories(Paths.get(root3, "_delta_log"))
    Files.copy(part.toPath, Paths.get(root3, "f0.parquet"))
    Files.writeString(Paths.get(root3, "_delta_log").resolve(f"${0L}%020d.json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"add":{"path":"f0.parquet","dataChange":true}}""").mkString("", "\n", "\n"))
    assert(rowsOf(new DeltaLayoutTable(spark, root3).readAsOf("v_0"))
      === Set((1L, "a")))
  }

  test("checkpoint forms: multi-part read, incomplete ignored, unknown raises, scratch skipped") {
    import spark.implicits._
    val root = buildFixture()
    val log = Paths.get(root, "_delta_log")
    // an INCOMPLETE multi-part set (part 1 of 2 only — crashed writer)
    // is ignored per the protocol: reads proceed as if it weren't there
    Files.writeString(
      log.resolve(f"${4L}%020d.checkpoint.0000000001.0000000002.parquet"), "x")
    assert(new DeltaLayoutTable(spark, root).versions()
      === Seq("v_0", "v_1", "v_2", "v_3"))
    Files.delete(log.resolve(f"${4L}%020d.checkpoint.0000000001.0000000002.parquet"))
    // writer scratch next to a checkpoint — hidden checksum sidecars and
    // temp files real ecosystem writers leave — must NOT classify as an
    // unsupported checkpoint form (ADVICE r12 medium): reads proceed
    Files.writeString(
      log.resolve(f".${2L}%020d.checkpoint.parquet.crc"), "x")
    Files.writeString(
      log.resolve(f"${2L}%020d.checkpoint.parquet.crc"), "x")
    Files.writeString(
      log.resolve(f"${4L}%020d.checkpoint.parquet.tmp"), "x")
    assert(new DeltaLayoutTable(spark, root).versions()
      === Seq("v_0", "v_1", "v_2", "v_3"))
    // a GENUINE checkpoint claim in no protocol form still raises — an
    // ignored checkpoint would silently hide the versions it holds
    Files.writeString(
      log.resolve(f"${4L}%020d.checkpoint.weird.form.avro"), "x")
    val e2 = intercept[IllegalArgumentException](
      new DeltaLayoutTable(spark, root).versions())
    assert(e2.getMessage.contains("unsupported checkpoint form"))
    Files.delete(log.resolve(f"${4L}%020d.checkpoint.weird.form.avro"))
    // an all-digit middle component is NOT a v2 uuid (more likely a
    // stray multi-part fragment): refused loudly, not misread
    Files.writeString(
      log.resolve(f"${4L}%020d.checkpoint.0000000007.parquet"), "x")
    val e3 = intercept[IllegalArgumentException](
      new DeltaLayoutTable(spark, root).versions())
    assert(e3.getMessage.contains("unsupported checkpoint form"))
    Files.delete(log.resolve(f"${4L}%020d.checkpoint.0000000007.parquet"))
    // a COMPLETE multi-part checkpoint (the form large ecosystem tables
    // write) is read: stage one @3 materializing {f1,f2,f3}, prune every
    // JSON commit — v_3 must survive on the parts alone
    def writePart(m: Int, p: Int, files: Seq[String]): Unit = {
      val tmp = tempDir("dl_mp")
      files.toDF("path").selectExpr("struct(path) AS add")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath,
        log.resolve(f"${3L}%020d.checkpoint.$m%010d.$p%010d.parquet"))
    }
    writePart(1, 2, Seq("f1.parquet"))
    writePart(2, 2, Seq("f2.parquet", "f3.parquet"))
    Seq(0L, 1L, 2L, 3L).foreach(n =>
      Files.deleteIfExists(log.resolve(f"$n%020d.json")))
    Files.deleteIfExists(log.resolve(f"${2L}%020d.checkpoint.parquet"))
    val t = new DeltaLayoutTable(spark, root)
    assert(t.versions() === Seq("v_3"))
    assert(rowsOf(t.readAsOf("v_3"))
      === Set((3L, "c"), (4L, "d"), (1L, "A2"), (2L, "b"), (5L, "e")))
  }

  test("empty version takes its schema from metaData, not a later donor (ADVICE r11)") {
    import spark.implicits._
    val root = tempDir("delta_meta")
    val t = new DeltaLayoutTable(spark, root)
    // the writer opens the log with protocol + metaData (round 12)
    t.commitAppend(Seq((1L, "a")).toDF("id", "body"))
    val commit0 = Files.readString(
      Paths.get(root, "_delta_log").resolve(f"${0L}%020d.json"))
    assert(commit0.contains(""""protocol":{"minReaderVersion":1"""))
    assert(commit0.contains(""""schemaString":"""))
    // a remove-only commit: readAsOf(v_1) has NO data files, yet must
    // carry the schema version-1 readers observed — from metaData, not
    // a later data-bearing donor
    val log0 = Paths.get(root, "_delta_log")
    def removeAll(n: Long): Unit = {
      val dataFiles = new java.io.File(root).listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName)
      Files.writeString(log0.resolve(f"$n%020d.json"),
        dataFiles.map(x => s"""{"remove":{"path":"$x","deletionTimestamp":0}}""")
          .mkString("", "\n", "\n"))
    }
    removeAll(1L)
    val asOf1 = t.readAsOf("v_1")
    assert(asOf1.count() === 0)
    assert(asOf1.columns.toSeq === Seq("id", "body"))
    // table facts survive checkpoint + prune: guard and schema both work
    // from the checkpoint alone
    t.commitAppend(Seq((2L, "b")).toDF("id", "body"))
    t.checkpoint()
    t.pruneLog()
    val t2 = new DeltaLayoutTable(spark, root)
    assert(rowsOf(t2.read()) === Set((2L, "b")))
    val ckpt = spark.read.parquet(
      log0.resolve(f"${2L}%020d.checkpoint.parquet").toString)
    assert(ckpt.columns.contains("metaData") && ckpt.columns.contains("protocol"),
      "checkpoint must materialize the table facts")
    assert(ckpt.where("metaData.schemaString IS NOT NULL").count() === 1)
    // a remove-only commit AFTER pruning still resolves schema — the
    // metaData now comes from the CHECKPOINT row alone
    removeAll(3L)
    assert(t2.readAsOf("v_3").columns.toSeq === Seq("id", "body"))
  }

  test("vacuumData: only unreadable versions' files reclaimed; orphans cleared (round 12)") {
    import spark.implicits._
    val root = tempDir("delta_vac")
    val t = new DeltaLayoutTable(spark, root)
    t.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "body")) // v_0
    t.commitReplace(Seq((3L, "c")).toDF("id", "body"))           // v_1
    // every version readable -> every file live -> vacuum removes nothing
    assert(t.vacuumData().isEmpty)
    assert(rowsOf(t.readAsOf("v_0")) === Set((1L, "a"), (2L, "b")))
    // a staged-but-never-committed orphan (crashed writer) IS reclaimed
    Files.writeString(Paths.get(root, "data-orphan.parquet"), "x")
    assert(t.vacuumData() === Seq("data-orphan.parquet"))
    // after checkpoint + log prune, v_0 is unreadable: its files go
    t.checkpoint()
    t.pruneLog()
    val removed = t.vacuumData()
    assert(removed.nonEmpty, "replaced version's files must be reclaimed")
    assert(removed.forall(_.startsWith("data-00000000000000000000")),
      "only commit-0 files are reclaimable here")
    assert(rowsOf(t.read()) === Set((3L, "c")), "live version intact")
    intercept[Exception](t.readAsOf("v_0")) // unreadable, loudly
  }

  test("importHistory: a Snapshot store's versions migrate aligned (round 12)") {
    import spark.implicits._
    val snapRoot = tempDir("mig_snap")
    val deltaRoot = tempDir("mig_delta")
    val snap = new graft.engine.Snapshot(spark, snapRoot)
    snap.publish(Seq((1L, "a"), (2L, "b")).toDF("id", "body"))
    snap.publish(Seq((1L, "a2"), (3L, "c")).toDF("id", "body"))
    val dst = new DeltaLayoutTable(spark, deltaRoot)
    val moved = dst.importHistory(snap)
    assert(moved === snap.versions())
    // every destination version reads exactly what the source did
    snap.versions().foreach { v =>
      assert(rowsOf(dst.readAsOf(v)) === rowsOf(snap.readAsOf(v)), s"version $v")
    }
    // the migrated table is a full citizen: facts written, CDF-ready
    val commit0 = Files.readString(
      Paths.get(deltaRoot, "_delta_log").resolve(f"${0L}%020d.json"))
    assert(commit0.contains(""""protocol""""))
    // crash-resume shape: re-importing appends content-identical
    // versions after the existing ones, never corrupts them
    val again = dst.importHistory(snap)
    assert(again.size === 2 && rowsOf(dst.readAsOf(again.last))
      === rowsOf(snap.readAsOf(snap.versions().last)))
  }

  /** Stage a v2 checkpoint at `version`: a manifest (JSON or parquet
    * form) whose add actions live inline or in `_sidecars/` files,
    * carrying the protocol row (minReaderVersion 3 + readerFeatures
    * v2Checkpoint) as real v2 writers do. */
  private def actionLinesToParquet(lines: Seq[String], dst: java.nio.file.Path): Unit = {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("add",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("path",
            org.apache.spark.sql.types.StringType)))),
      org.apache.spark.sql.types.StructField("remove",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("path",
            org.apache.spark.sql.types.StringType)))),
      org.apache.spark.sql.types.StructField("protocol",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("minReaderVersion",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("readerFeatures",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.StringType))))),
      org.apache.spark.sql.types.StructField("sidecar",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("path",
            org.apache.spark.sql.types.StringType))))))
    val tmp = tempDir("dl_v2")
    spark.read.schema(schema).json(lines.toDS())
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, dst)
  }

  test("v2 checkpoint: JSON manifest + sidecars reconstruct pruned versions (round 13)") {
    val root = buildFixture()
    val log = Paths.get(root, "_delta_log")
    val sidecars = log.resolve("_sidecars")
    Files.createDirectories(sidecars)
    // v2 checkpoint @3: manifest JSON with protocol + two sidecar refs;
    // the add actions live ONLY in the sidecar parquet files
    actionLinesToParquet(
      Seq("""{"add":{"path":"f1.parquet"}}""", """{"add":{"path":"f2.parquet"}}"""),
      sidecars.resolve("sc1.parquet"))
    actionLinesToParquet(
      Seq("""{"add":{"path":"f3.parquet"}}"""),
      sidecars.resolve("sc2.parquet"))
    Files.writeString(
      log.resolve(f"${3L}%020d.checkpoint.80a083e8-4d2a-4c1f-9a0e-000000000001.json"),
      Seq(
        """{"checkpointMetadata":{"version":3}}""",
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}""",
        """{"sidecar":{"path":"sc1.parquet","sizeInBytes":1,"modificationTime":0}}""",
        """{"sidecar":{"path":"sc2.parquet","sizeInBytes":1,"modificationTime":0}}""")
        .mkString("", "\n", "\n"))
    // prune EVERYTHING below: v_3 must survive on the v2 manifest alone
    Seq(0L, 1L, 2L, 3L).foreach(n =>
      Files.deleteIfExists(log.resolve(f"$n%020d.json")))
    Files.deleteIfExists(log.resolve(f"${2L}%020d.checkpoint.parquet"))
    val t = new DeltaLayoutTable(spark, root)
    assert(t.versions() === Seq("v_3"))
    // the protocol gate PASSES: minReaderVersion 3 with only the
    // v2Checkpoint feature is exactly what this adapter now implements
    assert(rowsOf(t.readAsOf("v_3"))
      === Set((3L, "c"), (4L, "d"), (1L, "A2"), (2L, "b"), (5L, "e")))
  }

  test("v2 checkpoint: parquet manifest with inline adds; commits continue on top (round 13)") {
    val root = buildFixture()
    val log = Paths.get(root, "_delta_log")
    // parquet-form manifest @3 carrying the adds INLINE (a small-table
    // v2 writer skips sidecars) plus the protocol row
    actionLinesToParquet(
      Seq(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"]}}""",
        """{"add":{"path":"f1.parquet"}}""",
        """{"add":{"path":"f2.parquet"}}""",
        """{"add":{"path":"f3.parquet"}}"""),
      log.resolve(f"${3L}%020d.checkpoint.9b7c21aa-0000-4000-8000-1234567890ab.parquet"))
    Seq(0L, 1L, 2L, 3L).foreach(n =>
      Files.deleteIfExists(log.resolve(f"$n%020d.json")))
    Files.deleteIfExists(log.resolve(f"${2L}%020d.checkpoint.parquet"))
    // a JSON commit on top of the v2 base: remove f1, so v_4 = base edit
    Files.writeString(log.resolve(f"${4L}%020d.json"),
      """{"remove":{"path":"f1.parquet","deletionTimestamp":0,"dataChange":true}}""" + "\n")
    val t = new DeltaLayoutTable(spark, root)
    assert(t.versions() === Seq("v_3", "v_4"))
    assert(rowsOf(t.readAsOf("v_3"))
      === Set((3L, "c"), (4L, "d"), (1L, "A2"), (2L, "b"), (5L, "e")))
    assert(rowsOf(t.readAsOf("v_4")) === Set((1L, "A2"), (2L, "b"), (5L, "e")))
  }

  test("multi-part completeness is per (version,numParts) instance (ADVICE r12)") {
    import spark.implicits._
    val root = buildFixture()
    val log = Paths.get(root, "_delta_log")
    def writePart(m: Int, p: Int, files: Seq[String]): Unit = {
      val tmp = tempDir("dl_mp")
      files.toDF("path").selectExpr("struct(path) AS add")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath,
        log.resolve(f"${3L}%020d.checkpoint.$m%010d.$p%010d.parquet"))
    }
    // complete 2-part instance @3 (the good set)
    writePart(1, 2, Seq("f1.parquet"))
    writePart(2, 2, Seq("f2.parquet", "f3.parquet"))
    // a crashed writer's DIFFERENT-SIZE partial attempt at the same
    // version (part 1 of 3 only): junk content proves it is never read
    Files.writeString(
      log.resolve(f"${3L}%020d.checkpoint.0000000001.0000000003.parquet"), "x")
    // and a junk COMPLETE 1-part instance: the LARGEST complete
    // instance (2 parts) must be preferred, so this junk is never read
    Files.writeString(
      log.resolve(f"${3L}%020d.checkpoint.0000000001.0000000001.parquet"), "x")
    Seq(0L, 1L, 2L, 3L).foreach(n =>
      Files.deleteIfExists(log.resolve(f"$n%020d.json")))
    Files.deleteIfExists(log.resolve(f"${2L}%020d.checkpoint.parquet"))
    val t = new DeltaLayoutTable(spark, root)
    assert(t.versions() === Seq("v_3"))
    assert(rowsOf(t.readAsOf("v_3"))
      === Set((3L, "c"), (4L, "d"), (1L, "A2"), (2L, "b"), (5L, "e")))
  }

  test("multi-part checkpoint WRITE round trip: parts out, prune, read back (round 13)") {
    import spark.implicits._
    spark.conf.set("graft.delta.checkpointPartRows", "2")
    try {
      val root = tempDir("delta_mpw")
      val t = new DeltaLayoutTable(spark, root)
      // two appends of 2 partitions each -> 4 data files active; at 2
      // rows per part the checkpoint must write 2 parts
      t.commitAppend(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
        .toDF("id", "body").repartition(2))
      t.commitReplace(Seq((1L, "A"), (2L, "b"), (3L, "c"), (5L, "e"))
        .toDF("id", "body").repartition(4))
      assert(t.checkpoint() === 1L)
      val log = Paths.get(root, "_delta_log")
      val partNames = new java.io.File(log.toString).listFiles()
        .map(_.getName).filter(_.matches("""\d+\.checkpoint\.\d+\.\d+\.parquet"""))
      assert(partNames.length === 2, s"expected 2 checkpoint parts, got ${partNames.toSeq}")
      assert(Files.readString(log.resolve("_last_checkpoint")).contains(""""parts":2"""))
      // prune every JSON commit under it: v_1 must survive on the parts
      assert(t.pruneLog() === Seq(0L))
      Files.delete(log.resolve(f"${1L}%020d.json"))
      val t2 = new DeltaLayoutTable(spark, root)
      assert(t2.versions() === Seq("v_1"))
      assert(rowsOf(t2.readAsOf("v_1")) === Set((1L, "A"), (2L, "b"), (3L, "c"), (5L, "e")))
      // appends continue on top of the multi-part base
      assert(t2.commitAppend(Seq((9L, "z")).toDF("id", "body")) === "v_2")
      assert(rowsOf(t2.read()) === Set((1L, "A"), (2L, "b"), (3L, "c"), (5L, "e"), (9L, "z")))
    } finally spark.conf.unset("graft.delta.checkpointPartRows")
  }

  test("distributed replay: thousand-action log reconciles; file bound refuses (round 13)") {
    import spark.implicits._
    val root = tempDir("delta_big")
    val log = Paths.get(root, "_delta_log")
    Files.createDirectories(log)
    def writeData(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = tempDir("dl_big")
      rows.toDF("id", "body").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(root, name))
    }
    writeData("r0.parquet", Seq((1L, "a")))
    writeData("r1.parquet", Seq((2L, "b")))
    writeData("r2.parquet", Seq((3L, "c")))
    // commit 0: 2000 phantom adds + the 3 real files — the many-
    // thousand-file log shape whose replay must stay off the driver
    val phantoms = (0 until 2000).map(i => f"ph-$i%05d.parquet")
    Files.writeString(log.resolve(f"${0L}%020d.json"),
      (phantoms ++ Seq("r0.parquet", "r1.parquet", "r2.parquet"))
        .map(p => s"""{"add":{"path":"$p","dataChange":true}}""")
        .mkString("", "\n", "\n"))
    // commit 1: every phantom removed — the reconcile must drop all
    // 2000 without materializing per-action driver state
    Files.writeString(log.resolve(f"${1L}%020d.json"),
      phantoms.map(p => s"""{"remove":{"path":"$p","deletionTimestamp":0}}""")
        .mkString("", "\n", "\n"))
    val t = new DeltaLayoutTable(spark, root)
    assert(t.versions() === Seq("v_0", "v_1"))
    assert(rowsOf(t.readAsOf("v_1")) === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // the documented adapter bound: above graft.delta.maxResolvedFiles
    // the resolved path list refuses instead of growing without bound
    spark.conf.set("graft.delta.maxResolvedFiles", "100")
    try {
      val e = intercept[IllegalArgumentException](t.readAsOf("v_0"))
      assert(e.getMessage.contains("maxResolvedFiles"))
      // v_1 resolves to 3 files — comfortably under the bound
      assert(rowsOf(t.readAsOf("v_1")) === Set((1L, "a"), (2L, "b"), (3L, "c")))
    } finally spark.conf.unset("graft.delta.maxResolvedFiles")
  }

  test("add actions carry the protocol-required fields (ADVICE r12)") {
    import spark.implicits._
    val root = tempDir("delta_conform")
    val t = new DeltaLayoutTable(spark, root)
    t.commitAppend(Seq((1L, "a")).toDF("id", "body"))
    t.commitReplace(Seq((2L, "b")).toDF("id", "body"))
    val log = Paths.get(root, "_delta_log")
    val c0 = Files.readString(log.resolve(f"${0L}%020d.json"))
    assert(c0.contains(""""partitionValues":{}"""), "add must carry partitionValues")
    assert(c0.matches("(?s).*\"size\":\\d+.*"), "add must carry size")
    assert(c0.matches("(?s).*\"modificationTime\":\\d+.*"), "add must carry modificationTime")
    val c1 = Files.readString(log.resolve(f"${1L}%020d.json"))
    assert(c1.contains(""""remove""""))
    assert(c1.contains(""""dataChange":true"""), "remove must carry dataChange")
    // the checkpoint rows carry them too (strict readers parse both)
    t.checkpoint()
    val ckpt = spark.read.parquet(
      log.resolve(f"${1L}%020d.checkpoint.parquet").toString)
    val addRows = ckpt.where("add IS NOT NULL")
      .selectExpr("add.path", "add.partitionValues", "add.size", "add.modificationTime")
      .collect()
    assert(addRows.nonEmpty)
    addRows.foreach { r =>
      assert(!r.isNullAt(1) && !r.isNullAt(2) && !r.isNullAt(3),
        s"checkpoint add row incomplete: $r")
      assert(r.getLong(2) > 0L, "size must be the real staged byte count")
    }
  }

  test("protocol gate: mr=3 passes only with implemented features (round 13)") {
    import spark.implicits._
    def stage(lines: Seq[String]): String = {
      val root = tempDir("delta_feat")
      val log = Paths.get(root, "_delta_log")
      Files.createDirectories(log)
      val tmp = tempDir("df_part")
      Seq((1L, "a")).toDF("id", "body").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(root, "f0.parquet"))
      Files.writeString(log.resolve(f"${0L}%020d.json"),
        (lines :+ """{"add":{"path":"f0.parquet","dataChange":true}}""")
          .mkString("", "\n", "\n"))
      root
    }
    // v2Checkpoint alone: implemented, read proceeds
    val ok = stage(Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"]}}"""))
    assert(rowsOf(new DeltaLayoutTable(spark, ok).readAsOf("v_0")) === Set((1L, "a")))
    // an UNIMPLEMENTED feature alongside it: refused loudly
    val bad = stage(Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint","deletionVectors"]}}"""))
    val e = intercept[IllegalArgumentException](
      new DeltaLayoutTable(spark, bad).readAsOf("v_0"))
    assert(e.getMessage.contains("deletionVectors"))
  }

  test("importHistory fails fast when the source advances mid-migration (round 13)") {
    import spark.implicits._
    val snapRoot = tempDir("mig_race_snap")
    val deltaRoot = tempDir("mig_race_delta")
    val snap = new graft.engine.Snapshot(spark, snapRoot)
    snap.publish(Seq((1L, "a")).toDF("id", "body"))
    snap.publish(Seq((1L, "a"), (2L, "b")).toDF("id", "body"))
    // a source whose history GROWS between the import loop and the
    // post-import re-check — the deterministic stand-in for a writer
    // publishing concurrently (the ShardStoreSpec race mold)
    val racing = new graft.engine.VersionedTable {
      private var calls = 0
      override def versions(): Seq[String] = {
        calls += 1
        if (calls > 1) {
          // the "concurrent publish" lands exactly once, after the
          // import loop has read the original history
          if (snap.versions().size < 3)
            snap.publish(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "body"))
        }
        snap.versions()
      }
      override def readAsOf(v: String) = snap.readAsOf(v)
      override def read() = snap.read()
    }
    val dst = new DeltaLayoutTable(spark, deltaRoot)
    val e = intercept[IllegalArgumentException](dst.importHistory(racing))
    assert(e.getMessage.contains("quiesce"))
    // the destination holds a VALID PREFIX: both originally-seen
    // versions migrated intact; re-running after quiescing catches up
    assert(dst.versions() === Seq("v_0", "v_1"))
    assert(rowsOf(dst.readAsOf("v_1")) === Set((1L, "a"), (2L, "b")))
  }

  test("changeFeed runs over the external layout unchanged (the seam's point)") {
    val root = buildFixture()
    val t = new DeltaLayoutTable(spark, root)
    val feed = changeFeed(t, "v_1", "v_3", "id", "body")
      .collect().map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(feed === Set(
      (1L, "changed", Some("A2")), // the commit-2 compaction edit
      (5L, "added", Some("e"))))   // the commit-3 append
  }
}
