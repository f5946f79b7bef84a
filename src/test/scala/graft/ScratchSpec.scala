package graft

import graft.engine.{DeltaLayoutTable, Scratch}
import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the one parquet-file stager (`Scratch.stageFiles`): one file per
  * name with its frame's rows and schema, an empty frame staged as a
  * 0-row file, and no scratch directory left behind by a failed write. */
class ScratchSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("stager: each name holds one parquet file with its frame's rows and schema") {
    import spark.implicits._
    val root = new File(tempDir("graft_stager"), "nested/dir")
    val a = Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("id", "body")
    val b = Seq((9L, "z")).toDF("id", "body")
    val empty = a.filter(lit(false))
    val named = Seq("a.parquet" -> a, "b.parquet" -> b, "e.parquet" -> empty)
    Scratch.stageFiles(named.map { case (n, df) => new File(root, n) -> df })
    assert(root.list().toSet === named.map(_._1).toSet)
    named.foreach { case (n, df) =>
      val back = spark.read.parquet(new File(root, n).getPath)
      assert(back.schema.map(f => (f.name, f.dataType)) ===
        df.schema.map(f => (f.name, f.dataType)), n)
      assert(rows(back) === rows(df), n)
    }
    // the empty frame is a 0-row file that still carries its schema
    assert(spark.read.parquet(new File(root, "e.parquet").getPath).count() === 0)
    // rows inside a staged file are sorted, so its layout never varies
    assert(spark.read.parquet(new File(root, "a.parquet").getPath)
      .as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("stager: a write that throws leaves no scratch directory behind") {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    def scratchDirs(): Set[String] =
      Option(tmp.list()).getOrElse(Array.empty).filter(_.startsWith("graft_")).toSet
    val t = new DeltaLayoutTable(spark, tempDir("graft_stager_fail") + "/t")
    val before = scratchDirs()
    val boom = spark.range(3).select(
      when(col("id") >= 0, raise_error(lit("staged frame fails"))).cast("long").as("id"))
    intercept[Exception](t.commitAppend(boom))
    assert(scratchDirs() -- before === Set.empty[String])
    assert(t.versions().isEmpty, "a failed stage commits nothing")
  }
}
