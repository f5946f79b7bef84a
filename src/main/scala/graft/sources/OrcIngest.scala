package graft.sources

import graft.engine.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ORC columnar interop — the OTHER columnar format large corpora arrive
  * in (Hive-era warehouses ship ORC the way lakehouses ship Parquet).
  * Spark carries a native vectorized ORC reader/writer, so the Spark-first
  * answer is again that no custom source is needed; what the gate proves
  * is the full round trip against the documents table and — the part that
  * matters at 100 TB — that predicate pushdown and column pruning reach
  * the ORC scan exactly like the Parquet one (PlanSpec pins
  * `PushedFilters` on the ORC relation; ORC carries min/max + bloom
  * stripe statistics, so a pushed predicate skips whole stripes).
  *
  * Sharding: written `repartition(8, doc_id)` — ORC stripes within a file
  * are the intra-file parallelism unit (splittable, unlike gzip-JSONL),
  * so shard count only needs to exceed writer parallelism, not reader's.
  */
object OrcIngest {

  /** Stage the documents table as ORC shards, versioned + atomically
    * published (same discipline as every other fixture). */
  def stageOrcFixture(s: SparkSession, d: String): String =
    BinaryIngest.publishFixture("orc_fixture", d) { tmp =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
        .repartition(8, col("doc_id"))
        .write.mode("overwrite").orc(tmp + "/data")
    } + "/data"

  /** Oracle-checked ORC round trip: the staged shards read back through
    * the native vectorized ORC source must reproduce the documents table
    * exactly (NULL text round-trips as NULL — ORC has true null
    * encoding, no coalesce needed on either side). */
  def qOrcIngest(s: SparkSession, d: String): DataFrame =
    s.read.orc(stageOrcFixture(s, d))
      .select("doc_id", "lang", "source", "text")
      .orderBy("doc_id")
}
