package graft

import graft.sources.SchemaEvolve
import org.apache.spark.sql.functions._

/** Merged-footer schema evolution: the unified read surfaces the
  * post-migration column as NULL on pre-migration rows, keeps the
  * generation partition-prunable, and survives an empty corpus. */
class SchemaEvolveSpec extends SparkSpec {

  test("merged read unifies generations; old rows carry NULL source") {
    val df = SchemaEvolve.qSchemaEvolve(spark, sf0001)
    assert(df.schema.fieldNames.toSeq ===
      Seq("doc_id", "lang", "n_chars", "source", "gen"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val gen = r.getAs[Long]("gen")
      assert(gen === r.getAs[Long]("doc_id") % 2)
      if (gen == 0) assert(r.isNullAt(r.fieldIndex("source")),
        s"gen-0 row ${r.getAs[Long]("doc_id")} must carry NULL source")
      else assert(!r.isNullAt(r.fieldIndex("source")))
    }
  }

  test("generation filter prunes partitions at the scan") {
    val fix = SchemaEvolve.stageEvolvedFixture(spark, sf0001)
    val plan = spark.read.option("mergeSchema", "true").parquet(fix)
      .filter(col("gen") === 1)
      .queryExecution.executedPlan.toString
    // the partition filter must reach the file scan, so gen=0 files are
    // never opened for a post-migration reader
    assert(plan.contains("PartitionFilters") && plan.contains("gen"),
      s"expected a partition filter on gen in:\n$plan")
  }

  test("empty corpus returns the typed empty frame (no footer to infer)") {
    import spark.implicits._
    val emptyDir = tempDir("graft_schemaevo_empty")
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$emptyDir/documents.parquet")
    val df = SchemaEvolve.qSchemaEvolve(spark, emptyDir)
    assert(df.schema === SchemaEvolve.evolvedSchema)
    assert(df.count() === 0)
  }
}
