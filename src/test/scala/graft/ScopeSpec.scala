package graft

import graft.engine.Scope
import graft.streaming.StreamingJobs
import java.nio.file.Files

/** The engine scope: each helper undoes its driver-side state when its
  * block exits, normally or by an exception. */
class ScopeSpec extends SparkSpec {

  private def description: String =
    spark.sparkContext.getLocalProperty("spark.job.description")

  test("phase restores the outer description: nested phases and a job group") {
    val sc = spark.sparkContext
    sc.setJobGroup("scope-spec", "outer group", interruptOnCancel = false)
    try {
      Scope.phase("a") {
        assert(description === "a")
        Scope.phase("b")(assert(description === "b"))
        assert(description === "a")
      }
      assert(description === "outer group")
      intercept[IllegalStateException](Scope.phase("c")(throw new IllegalStateException("boom")))
      assert(description === "outer group")
      assert(sc.getLocalProperty("spark.jobGroup.id") === "scope-spec")
    } finally sc.clearJobGroup()
    Scope.phase("d")(assert(description === "d"))
    assert(description === null)
  }

  test("withConf restores a set key and unsets an absent one, also when the body throws") {
    val (set, absent) = ("spark.sql.shuffle.partitions", "graft.scope.spec.absent")
    val prior = spark.conf.get(set)
    assert(spark.conf.getOption(absent).isEmpty)
    def check(): Unit = {
      assert(spark.conf.get(set) === prior)
      assert(spark.conf.getOption(absent).isEmpty)
    }
    Scope.withConf(spark, set -> "3", absent -> "x") {
      assert(spark.conf.get(set) === "3")
      assert(spark.conf.get(absent) === "x")
    }
    check()
    intercept[IllegalStateException](
      Scope.withConf(spark, set -> "5", absent -> "y")(throw new IllegalStateException("boom")))
    check()
  }

  test("collectWithin returns every row within the budget, else None") {
    val df = spark.range(4).toDF("id")
    assert(Scope.collectWithin(df, 4).map(_.map(_.getLong(0)).toSeq) === Some(Seq(0L, 1L, 2L, 3L)))
    assert(Scope.collectWithin(df, 3) === None)
    assert(Scope.collectWithin(df.limit(0), 1).map(_.length) === Some(0))
    // the forced-distributed seam and the no-probe ceiling
    assert(Scope.collectWithin(df.limit(0), 0) === None)
    assert(Scope.collectWithin(df, Int.MaxValue - 1) === None)
  }

  test("a dedup gate batch releases every block it pinned or checkpointed") {
    import spark.implicits._
    def storedIds() = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    // exact copies, a near copy and a fresh doc in each batch; batch 1
    // also repeats batch 0's texts, so the corpus-facing probes run
    val batch0 = Seq((1L, text), (2L, text), (3L, text + " iota"), (4L, "one two three four"))
      .toDF("doc_id", "text")
    val batch1 = Seq((5L, text), (6L, text + " kappa"), (7L, "five six seven eight nine"))
      .toDF("doc_id", "text")
    Seq(true, false).foreach { exactPairs =>
      val root = Files.createTempDirectory("graft_scope_gate").toString
      Seq(batch0, batch1).zipWithIndex.foreach { case (b, i) =>
        val before = storedIds()
        StreamingJobs.dedupGateBatch(spark, b, i.toLong, s"$root/accepted", s"$root/index",
          s"$root/rejected", 0.5, exactPairs)
        val left = storedIds() -- before
        assert(left.isEmpty, s"batch $i (exactPairs=$exactPairs) left RDD blocks $left")
      }
      assert(spark.read.parquet(s"$root/rejected").count() > 0)
    }
  }
}
