package graft


import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Tables

/** Environment-drift canary for the events reader (VERDICT r4 item #3).
  *
  * The driver's `events.parquet` has shipped with two physical encodings of
  * `ts` across sandbox Spark upgrades: INT64 TIMESTAMP(NANOS) (read as
  * BIGINT under `nanosAsLong`) and TIMESTAMP(MICROS, isAdjustedToUTC=false)
  * (read natively as TIMESTAMP_NTZ on Spark ≥4.x). Round 4 lost all 16
  * events queries when the encoding flipped and the reader assumed BIGINT.
  *
  * This spec pins [[Tables.events]] to known fixture values under BOTH
  * decodings, synthesized locally, plus whatever the real driver file
  * currently is — so the next parquet/Spark drift flips this one test, not
  * 16 queries.
  */
class EventsReaderCanarySpec extends SparkSpec {

  // sf0.001 fixture ground truth, read straight from the parquet bytes with
  // an independent reader (pyarrow): event_id -> micros since epoch UTC.
  private val fixtureMicros = Map(
    0L -> 1704067798778549L, // 2024-01-01 00:09:58.778549
    1L -> 1704068166738090L, // 2024-01-01 00:16:06.738090
    2L -> 1704068217102229L) // 2024-01-01 00:16:57.102229

  private def readMicros(dir: String): Map[Long, Long] = {
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType,
      s"engine events.ts must normalize to TimestampType, got ${df.schema("ts").dataType}")
    df.filter(col("event_id") < 3)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("driver events.parquet reads to the pinned fixture micros") {
    assert(readMicros(sf0001) == fixtureMicros)
  }

  /** Write a synthetic events dir whose `ts` column has the given writer
    * applied, then assert the adaptive reader recovers the fixture micros. */
  private def roundTrip(label: String)(tsCol: org.apache.spark.sql.Column): Unit = {
    val dir = tempDir(s"graft_canary_$label")
    import spark.implicits._
    fixtureMicros.toSeq.sortBy(_._1)
      .toDF("event_id", "us")
      .withColumn("ts", tsCol)
      .drop("us")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(readMicros(dir) == fixtureMicros, s"decoding=$label")
  }

  test("legacy decoding: ts as INT64 nanos (nanosAsLong path)") {
    roundTrip("nanos")(col("us") * lit(1000L)) // plain BIGINT column
  }

  test("native decoding: ts as TIMESTAMP_NTZ (Spark 4.x micros path)") {
    // LTZ→NTZ cast keeps the wall clock; session tz is UTC, so the NTZ wall
    // clock IS the UTC micros — same shape as the driver's current file
    // (isAdjustedToUTC=false, unit=MICROS).
    roundTrip("ntz")(timestamp_micros(col("us")).cast(TimestampNTZType))
  }

  test("session-zoned decoding: ts already TIMESTAMP passes through") {
    roundTrip("ltz")(timestamp_micros(col("us")))
  }
}
