package graft.engine

import org.apache.spark.sql.SparkSession

/** Canonical session construction for the engine — the one place that
  * knows the engine's required session config:
  *  - UTC session timezone (oracle parity across engines);
  *  - `nanosAsLong` for the nanosecond-timestamp parquet source (see
  *    [[Tables.events]]);
  *  - the engine's SQL functions injected via
  *    [[graft.functions.GraftExtensions]] (so `SELECT poly_hash(...)`
  *    works from any SQL client of the session);
  *  - shuffle partitions sized to the given parallelism (local mode —
  *    on a cluster leave AQE to coalesce from a higher starting point).
  */
object GraftSession {

  /** Apply the engine's config to any builder (use from a cluster
    * deployment where the platform supplies master/deploy settings). */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Local session with `cores` threads, UI off, WARN logs — what the
    * driver mains (Smoke/Verify/Bench), the tools and tests run on.
    * `extraConf` lets a long-lived harness (Bench) bound session-state
    * growth without those knobs leaking into every test session. */
  def local(cores: Int, appName: String = "graft",
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
    extraConf.foreach { case (k, v) => b.config(k, v) }
    val spark = configure(b, cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
