package graft

import graft.engine.{Bucketed, Tables}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

/** The co-located-join scale path: bucketed+sorted tables join with ZERO
  * exchanges, and produce the same rows as the shuffled join. */
class BucketedSpec extends SparkSpec {

  test("bucketed fact-fact join: no exchange under the join, same result") {
    val root = tempDir("graft_bucketed")
    val orders = Tables.orders(spark, sf0001)
    val li = Tables.lineitem(spark, sf0001)
      .withColumnRenamed("l_orderkey", "o_orderkey")
    Bucketed.writeBucketed(orders, "orders_b", s"$root/orders_b", "o_orderkey", 8)
    Bucketed.writeBucketed(li, "lineitem_b", s"$root/lineitem_b", "o_orderkey", 8)

    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val j = Bucketed.colocatedJoin(spark, "orders_b", "lineitem_b", "o_orderkey")
        .select("o_orderkey", "o_orderstatus", "l_quantity")
      val plan = j.queryExecution.executedPlan
      val smjs = plan.collect { case s: SortMergeJoinExec => s }
      assert(smjs.nonEmpty, s"expected a SortMergeJoin:\n$plan")
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.isEmpty,
        s"bucketed join must be exchange-free, found ${exchanges.size}:\n$plan")

      // contrast: the same join off raw parquet shuffles both sides
      val raw = orders.join(li, Seq("o_orderkey"))
        .select("o_orderkey", "o_orderstatus", "l_quantity")
      val rawExchanges = raw.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }
      assert(rawExchanges.size === 2, "unbucketed baseline should shuffle both sides")

      // same multiset of rows either way
      val key = (df: org.apache.spark.sql.DataFrame) => df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(key(j) === key(raw))
      assert(j.count() > 1000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("partitioned layout: a partition-key filter prunes at planning, not post-scan") {
    import org.apache.spark.sql.functions._
    val root = tempDir("graft_part")
    Tables.documents(spark, sf0001)
      .write.partitionBy("lang").parquet(s"$root/docs_by_lang")

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
    val q = spark.read.parquet(s"$root/docs_by_lang")
      .filter(col("lang") === "en")
      .select("doc_id", "n_chars")
    val scan = q.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("FileScan")).mkString("\n")
    // the lang predicate must appear as a PartitionFilters entry (pruned
    // before any file is opened), not as a data filter evaluated per row
    assert(scan.contains("PartitionFilters") && scan.contains("lang"),
      s"lang filter did not reach PartitionFilters:\n$scan")
    val dataFilters = scan.linesIterator
      .flatMap("""PushedFilters: \[([^\]]*)\]""".r.findFirstMatchIn(_)).map(_.group(1))
      .mkString
    assert(!dataFilters.contains("lang"),
      s"lang should be partition-pruned, not row-filtered:\n$scan")

    // the result matches the unpartitioned filter (drive q's OWN
    // execution with collect, so its scan metrics populate)
    val expected = Tables.documents(spark, sf0001)
      .filter(col("lang") === "en").count()
    assert(q.collect().length.toLong === expected && expected > 0)
    // pruning is real: the executed scan opened ONE file (the lang=en
    // directory), not one per lang dir. (df.inputFiles can't show this —
    // it lists the relation's full file index before pruning.)
    val numFiles = q.queryExecution.executedPlan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value
    }
    val totalLangDirs = new java.io.File(s"$root/docs_by_lang").listFiles()
      .count(_.getName.startsWith("lang="))
    assert(numFiles.nonEmpty && numFiles.sum === 1L,
      s"pruned scan should read 1 of $totalLangDirs partition files, read ${numFiles.sum}")
    assert(totalLangDirs > 1, "fixture needs multiple lang partitions")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
