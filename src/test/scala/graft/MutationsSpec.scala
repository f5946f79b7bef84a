package graft

import graft.operators.Mutations._
import org.apache.spark.sql.functions._

/** M1-M8 snapshot-transform semantics (SURVEY §2.8). */
class MutationsSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "a", "Active", Some("2020-01-01")),
      (2L, "b", "Active", None),
      (3L, "c", "Expired", Some("2020-01-01")),
      (4L, "d", "Active", Some("2099-01-01"))
    ).toDF("document_id", "document_name", "document_status", "document_expiryDate")
      .withColumn("document_expiryDate", col("document_expiryDate").cast("date"))
  }

  test("M1 insertDedup refuses existing keys, appends new, dedups batch") {
    import spark.implicits._
    val incoming = Seq(
      (5L, "a", "Active", None: Option[String]),  // dup of existing
      (6L, "e", "Active", None),                  // new
      (7L, "e", "Active", None)                   // dup within batch
    ).toDF("document_id", "document_name", "document_status", "document_expiryDate")
      .withColumn("document_expiryDate", col("document_expiryDate").cast("date"))
    val out = insertDedup(docs, incoming, "document_name")
    assert(out.count() === 5)
    assert(out.filter(col("document_name") === "a").count() === 1)
    assert(out.filter(col("document_name") === "e").count() === 1)
  }

  test("M2 setStatusWhere flips only matching rows; re-activation works") {
    val out = setStatusWhere(docs, col("document_name") === "c", "Active")
    assert(out.filter(col("document_status") === "Expired").count() === 0)
    val untouched = setStatusWhere(docs, col("document_name") === "zzz", "X")
    assert(untouched.filter(col("document_status") === "X").count() === 0)
  }

  test("M3 expireSweep: only Active rows with past expiry flip; idempotent") {
    val asOf = lit("2021-06-01").cast("date")
    val once = expireSweep(docs, "document_expiryDate", asOf)
    val got = once.select("document_id", "document_status")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "Expired", 2L -> "Active", 3L -> "Expired", 4L -> "Active"))
    val twice = expireSweep(once, "document_expiryDate", asOf)
    assert(twice.collect().toSet === once.collect().toSet)
  }

  test("M4 deleteWhere decreases count by matches; M6 truncate keeps schema") {
    val out = deleteWhere(docs, col("document_id") === 2L)
    assert(out.count() === 3)
    val t = truncate(docs)
    assert(t.count() === 0 && t.schema === docs.schema)
  }

  test("M8 deleteKeys removes all listed keys in one anti-join") {
    import spark.implicits._
    val keys = Seq(1L, 3L, 99L).toDF("document_id")
    val out = deleteKeys(docs, keys, "document_id")
    assert(out.select("document_id").collect().map(_.getLong(0)).sorted === Array(2L, 4L))
  }

  test("M7 dimInsert enforces name uniqueness") {
    import spark.implicits._
    val dim = Seq((1, "Collective Agreements"), (2, "Benefits")).toDF("category_id", "category_name")
    val incoming = Seq((3, "Benefits"), (4, "Policies")).toDF("category_id", "category_name")
    val out = dimInsert(dim, incoming, "category_name")
    assert(out.count() === 3)
    assert(out.filter(col("category_name") === "Benefits").count() === 1)
  }

  test("M1 within-batch dedup winner is deterministic across partitionings") {
    import spark.implicits._
    val existing = Seq(("other", 1L)).toDF("document_name", "document_id")
    val incoming = Seq(("doc_x", 5L), ("doc_x", 2L), ("doc_y", 9L))
      .toDF("document_name", "document_id")
    def winner(df: org.apache.spark.sql.DataFrame): Long =
      acceptedNew(existing, df, "document_name")
        .filter(col("document_name") === "doc_x")
        .select("document_id").as[Long].head()
    // the full-row minimum wins, however the batch is partitioned
    assert(winner(incoming) === 2L)
    assert(winner(incoming.repartition(7)) === 2L)
    assert(winner(incoming.coalesce(1)) === 2L)
    // map columns (unorderable in Spark) don't break the winner window
    val withMap = incoming.withColumn("meta", map(lit("k"), col("document_id")))
    assert(acceptedNew(existing, withMap, "document_name")
      .filter(col("document_name") === "doc_x").count() === 1)
  }

  test("M7 dimInsert dedups WITHIN the incoming batch too") {
    import spark.implicits._
    val dim = Seq((1, "Benefits")).toDF("category_id", "category_name")
    val incoming = Seq((2, "Policies"), (3, "Policies"), (4, "Benefits"))
      .toDF("category_id", "category_name")
    val out = dimInsert(dim, incoming, "category_name")
    assert(out.count() === 2)
    assert(out.filter(col("category_name") === "Policies").count() === 1)
  }

  test("changeFeed: adds/deletes/changes between versions, new content attached") {
    import spark.implicits._
    val root = tempDir("graft_feed")
    val snap = new graft.engine.Snapshot(spark, root)
    snap.publish(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "body"))  // v_0
    snap.mutate(_ => Seq((1L, "a"), (3L, "C2"), (4L, "d")).toDF("id", "body")) // v_1
    snap.mutate(_ => Seq((9L, "z")).toDF("id", "body"))                    // v_2
    val feed = changeFeed(snap, "v_0", "v_1", "id", "body")
      .collect().map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(feed === Set(
      (2L, "deleted", None),          // gone from v_1: no new content
      (3L, "changed", Some("C2")),    // fingerprint flip carries the new body
      (4L, "added", Some("d"))))
    // the feed addresses HISTORY, not CURRENT: v_2 never leaks into v_0->v_1
    assert(!feed.exists(_._1 == 9L))
    // non-adjacent feed spans intermediate versions in one compare
    val wide = changeFeed(snap, "v_0", "v_2", "id", "body")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(wide === Set((1L, "deleted"), (2L, "deleted"), (3L, "deleted"), (9L, "added")))
  }

  test("snapshotDiff: NULL content classifies by key presence, not fingerprint (ADVICE r10)") {
    import spark.implicits._
    val old = Seq((1L, Option.empty[String]), (2L, Some("b")), (3L, Option.empty[String]),
      (4L, Some("d"))).toDF("id", "body")
    val neu = Seq((1L, Option.empty[String]), (2L, Option.empty[String]), (3L, Some("c")),
      (5L, Option.empty[String])).toDF("id", "body")
    val diff = snapshotDiff(old, neu, "id", "body")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(diff === Map(
      1L -> "unchanged", // NULL in both versions: present both sides, same (null) fp
      2L -> "changed",   // non-NULL -> NULL is a content change, NOT a delete
      3L -> "changed",   // NULL -> non-NULL is a content change, NOT an add
      4L -> "deleted",   // key absent from new
      5L -> "added"))    // key absent from old, even with NULL content
  }
}
