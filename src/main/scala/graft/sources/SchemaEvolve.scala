package graft.sources

import graft.engine.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema evolution across parquet generations — the storage-layer fact of
  * life every long-lived corpus hits: yesterday's writers produced
  * (doc_id, lang, n_chars); today's add a `source` column. A reader that
  * pins one footer's schema silently drops the new column (or fails on the
  * old files); the correct read unions the footers (`mergeSchema`) and
  * surfaces absent columns as NULL.
  *
  * The reference ingests into a schemaless document store (data_ingestion.py
  * never faces this — Mongo collections absorb new fields row by row); on a
  * parquet lake the same "new field appears mid-corpus" event needs an
  * explicit merged-footer read, which is what this module gates.
  *
  * Scale posture: `mergeSchema=true` runs a distributed footer-read job over
  * ALL files — correct but O(files) at discovery time. A 100 TB deployment
  * does this ONCE per schema change and records the merged schema in its
  * catalog (the read below is the discovery step, not the steady state);
  * per-row cost is unchanged either way because parquet readers fill absent
  * columns with NULL vectors without touching data pages. The generation
  * partition column (`gen=N/`) keeps old and new files partition-prunable,
  * so a reader that only wants post-migration rows never opens gen 0.
  */
object SchemaEvolve {

  /** Result schema of [[qSchemaEvolve]] (needed up front for the
    * empty-corpus path, where no parquet exists to infer from). */
  val evolvedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("n_chars", LongType), StructField("source", StringType),
    StructField("gen", LongType)))

  /** Stage the two-generation fixture: even doc_ids written with the OLD
    * three-column schema under `gen=0/`, odd doc_ids with today's
    * four-column schema under `gen=1/` — versioned + atomically published
    * like every other fixture ([[BinaryIngest.publishFixture]]). */
  def stageEvolvedFixture(s: SparkSession, d: String): String =
    BinaryIngest.publishFixture("schemaevo_fixture", d) { tmp =>
      val docs = Tables.documents(s, d)
      docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "lang", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/gen=0")
      docs.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "lang", "n_chars", "source")
        .write.mode("overwrite").parquet(s"$tmp/gen=1")
    }

  /** Oracle-checked merged-schema read: both generations come back under
    * ONE unified schema, old rows carrying NULL for the post-migration
    * column and the generation surfaced as a partition column (pruned at
    * the scan when filtered — the old files are never opened for
    * gen-1-only readers). The oracle recomputes the expected union from
    * the source table in closed form. */
  def qSchemaEvolve(s: SparkSession, d: String): DataFrame = {
    // empty corpus: no part files exist, so there is no footer to infer
    // from — return the typed empty frame (EmptyInputSpec discipline)
    if (Tables.documents(s, d).isEmpty)
      return s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), evolvedSchema)
    val fix = stageEvolvedFixture(s, d)
    s.read.option("mergeSchema", "true").parquet(fix)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("source"),
        col("gen").cast("long").as("gen"))
      .orderBy("doc_id")
  }
}
