package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Table access layer.
  *
  * The reference keeps its data in two MongoDB collections plus an in-memory
  * category dict (`/root/reference/data_ingestion.py:29,324-325`) and fetches
  * with `collection.find(query)` (data_ingestion.py:328-334), materializing
  * every result client-side. Here a "collection" is a columnar Parquet table;
  * predicates and projections are pushed into the scan by Catalyst instead of
  * being applied client-side (SURVEY.md §3.2, §4).
  *
  * At 100 TB these reads become distributed columnar scans: Parquet
  * row-group pruning + filter pushdown + column pruning all apply per file
  * split, so the scan cost is proportional to the data actually referenced,
  * not the table size.
  */
object Tables {
  /** Read one driver-provided table (`TESTDATA.md`): region, nation,
    * customer, supplier, part, orders, lineitem, events, documents,
    * embeddings. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** Schema-adaptive events read. The driver's `events.parquet` has shipped
    * with two different physical encodings of `ts` across environments:
    *
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it unless
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (set in
    *    [[GraftSession]]), in which case `ts` arrives as BIGINT nanos;
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark ≥4.x reads this
    *    natively as TIMESTAMP_NTZ.
    *
    * Hard-coding either assumption breaks the other environment (round 4
    * lost all 16 events queries to exactly this drift), so normalize on the
    * SCANNED dtype instead. Target type is session-zoned TimestampType in a
    * UTC session — micros-since-epoch identical to what the DuckDB oracle
    * computes reading the same file as naive TIMESTAMP.
    * [[graft.EventsReaderCanarySpec]] pins both decodings to fixture values. */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeTs(table(spark, sfDir, "events"))

  /** Normalize a scanned events frame's `ts` to session-zoned TimestampType,
    * whatever decoding the scan produced — shared by the batch reader and
    * the streaming file source ([[graft.streaming.StreamingJobs]]), so a
    * future encoding drift is a one-line fix here, not a hunt. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    df.schema("ts").dataType match {
      // legacy nanosAsLong path: integer `div`, not `/` — double division
      // loses precision above 2^53
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // native NTZ path: wall-clock reinterpreted in the session zone (UTC,
      // pinned by GraftSession) — exact, no offset arithmetic involved
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalStateException(
        s"events.ts arrived as $other; expected BIGINT nanos, TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")

  /** Rebalance for CPU-bound narrow work: small inputs arrive as one or two
    * file splits, which would serialize per-row compute (shingling, window
    * generation, hashing) on a single core. Repartition ONLY when the scan
    * yields fewer partitions than the session's parallelism — on a large
    * cluster input a 100 TB table is already well split and this is a no-op
    * (no shuffle added). Partitioning by `key` keeps downstream
    * per-document work co-located. */
  def rebalance(df: DataFrame, key: String): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    // Estimate scan parallelism from the relation's FILE LIST (metadata
    // already cached on the leaf relation) instead of df.rdd.getNumPartitions,
    // which forces an eager physical plan per call on the driver — harmless
    // locally, double-planning on a busy cluster. Files under-count splits
    // for single huge files (splittable parquet), so this can only
    // over-trigger on inputs that are small-file-bound — exactly the case
    // the repartition is for; a well-split 100 TB table has >> target files
    // and this is a no-op.
    // inputFiles is empty for non-file-backed frames. For a LEAF RDD-backed
    // frame (a streaming micro-batch in foreachBatch, an RDD conversion)
    // the partition count is free metadata on the existing RDD — a
    // 1-partition source (single-partition topic, rate source) must still
    // be rebalanced or the per-document CPU work serializes on one core.
    // For anything else non-file (local test data, shuffle-derived frames)
    // skip: local relations parallelize to default parallelism on their
    // own, shuffle outputs are already partitioned, and probing
    // df.rdd.getNumPartitions there would EXECUTE the upstream stages
    // under AQE just to count them.
    val files = df.inputFiles.length
    val knownParallelism: Option[Int] =
      if (files > 0) Some(files)
      else df.queryExecution.logical match {
        case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd.getNumPartitions)
        case _ => None // not cheaply knowable: leave the frame alone
      }
    if (knownParallelism.exists(_ * 2 < target))
      df.repartition(target, org.apache.spark.sql.functions.col(key))
    else df
  }

  /** Engine-domain schemas (SURVEY.md §1.3 / FIXTURES.md §A). Fixed
    * StructTypes vs the reference's schemaless lazily-added fields
    * (data_ingestion.py:443,493): `document_status` exists from insert. */
  val snippetStruct: StructType = StructType(Seq(
    StructField("snippet_id", IntegerType, nullable = false),
    StructField("snippet_text", StringType, nullable = true)))

  val pageStruct: StructType = StructType(Seq(
    StructField("page_number", IntegerType, nullable = false),
    StructField("page_text", StringType, nullable = true),
    StructField("page_snippets", ArrayType(snippetStruct), nullable = true),
    StructField("page_link", StringType, nullable = true)))

  val documentSchema: StructType = StructType(Seq(
    StructField("document_id", LongType, nullable = false),
    StructField("document_name", StringType, nullable = false),
    StructField("category_id", IntegerType, nullable = true),
    StructField("category_name", StringType, nullable = true),
    StructField("document_link", StringType, nullable = true),
    StructField("document_tags", ArrayType(StringType), nullable = true),
    StructField("document_expiryDate", DateType, nullable = true),
    StructField("document_metadata", MapType(StringType, StringType), nullable = true),
    StructField("pages", ArrayType(pageStruct), nullable = true),
    StructField("document_status", StringType, nullable = false),
    StructField("date_uploaded", DateType, nullable = true)))

  /** Flat denormalized snippet row (data_ingestion.py:211-220); natural key
    * (document_id, page_number, snippet_id). */
  val flatSnippetSchema: StructType = StructType(Seq(
    StructField("document_id", LongType, nullable = false),
    StructField("document_name", StringType, nullable = false),
    StructField("category_id", IntegerType, nullable = true),
    StructField("category_name", StringType, nullable = true),
    StructField("document_tags", ArrayType(StringType), nullable = true),
    StructField("page_number", IntegerType, nullable = false),
    StructField("page_link", StringType, nullable = true),
    StructField("snippet_id", IntegerType, nullable = false),
    StructField("snippet_text", StringType, nullable = true),
    StructField("document_status", StringType, nullable = false)))

  /** Category dim (in-memory dict in the reference, data_ingestion.py:29). */
  def seedCategories(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((1, "Collective Agreements"), (2, "Benefits"))
      .toDF("category_id", "category_name")
  }
}
