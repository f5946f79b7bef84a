package graft.operators

import graft.engine.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Operators beyond the reference's surface that complete the engine for
  * general analytics (SURVEY §2.3/§2.4/§2.7 "absent" rows): outer joins,
  * as-of / range joins, rollup, window frames, big-big shuffle joins,
  * regex extraction. Each is oracle-checked.
  *
  * Scale notes: the as-of join is the windowed union formulation — one
  * shuffle on the partition key, no point-in-time self-join blowup; the
  * range join keys on user equality first so Catalyst plans a hash/SMJ on
  * user with the time predicate as a residual filter, never a cartesian. */
object Advanced {
  import Tables._

  /** Left outer join with nulls on the probe side. */
  def qOuterJoin(s: SparkSession, d: String): DataFrame =
    nation(s, d)
      .join(broadcast(region(s, d).filter(col("r_regionkey") < 3)),
        col("n_regionkey") === col("r_regionkey"), "left")
      .select(col("n_nationkey"), col("n_name"), col("r_name").as("region_name"))
      .orderBy("n_nationkey")

  /** ROLLUP aggregate (subtotals + grand total). */
  def qRollup(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** Exact distinct count (the approx variant is bench-only — HLL sketches
    * are engine-specific and cannot hash-match another engine). */
  def qDistinctCount(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).agg(
      countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_suppkey")).as("n_supps"))

  /** Approximate distinct count (HLL sketch), oracle-gated via the
    * tolerance trick: the sketch VALUE is engine-specific (it cannot
    * hash-match another engine), so the declared output is the exact
    * counts plus booleans asserting the sketch landed within 5% of them
    * — DuckDB replays the exact counts and TRUE literals, and the hash
    * compare then FAILS if the sketch ever drifts outside tolerance.
    * rsd=0.02 leaves 5% a comfortable margin; the sketch is
    * deterministic for fixed input, so the booleans are stable. */
  def qApproxDistinct(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).agg(
      countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_suppkey")).as("n_supps"),
      approx_count_distinct(col("l_partkey"), 0.02).as("ap"),
      approx_count_distinct(col("l_suppkey"), 0.02).as("asu"))
      // multiplicative form (|est-exact| <= exact*0.05) rather than a
      // division: on an empty input both sides are 0 and the check stays
      // TRUE, where 0.0/0 = NaN would silently flip it false against the
      // oracle's TRUE literal
      .select(col("n_parts"), col("n_supps"),
        (abs(col("ap") - col("n_parts")).cast("double") <=
          col("n_parts").cast("double") * 0.05).as("parts_within_5pct"),
        (abs(col("asu") - col("n_supps")).cast("double") <=
          col("n_supps").cast("double") * 0.05).as("supps_within_5pct"))

  /** Running total per customer over order dates (window frame). */
  def qRunningSum(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders(s, d)
      .filter(col("o_custkey") < 50)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
          .cast("double").as("running_total"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** As-of join via the windowed-union formulation: for every error event,
    * the most recent click by the same user at-or-before it. One shuffle on
    * user_id; no range self-join. */
  def qAsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.filter(col("event_type").isin("click", "error"))
      .withColumn("last_click_id",
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"), col("last_click_id"))
      .orderBy("event_id")
  }

  /** Range join: clicks within the 5 minutes preceding each purchase by the
    * same user (equi key user_id + time-range residual). */
  def qRangeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"))
    purchases.join(clicks,
        purchases("user_id") === clicks("user_id") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") > col("p_ts") - expr("INTERVAL 5 MINUTES"), "left")
      .groupBy("purchase_id")
      .agg(count(col("c_ts")).as("n_recent_clicks"))
      .orderBy("purchase_id")
  }

  /** Big-big shuffle join: orders x lineitem revenue per priority, exact
    * decimal sums surfaced as double. */
  def qShuffleJoin(s: SparkSession, d: String): DataFrame =
    orders(s, d).join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_items"),
        sum((col("l_extendedprice").cast("decimal(18,2)")
          * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(38,4)")).cast("double").as("revenue"))
      .orderBy("o_orderpriority")

  /** The salted big-big join under the SAME oracle as [[qShuffleJoin]]:
    * proves the skew tool is result-identical to the plain join (its
    * whole contract) on every gate run, not just in a spec. The probe
    * side salts on l_partkey (a non-join column), the build side
    * replicates over 8 salt values. */
  def qSaltedJoin(s: SparkSession, d: String): DataFrame =
    saltedJoin(
      lineitem(s, d).withColumnRenamed("l_orderkey", "orderkey"),
      orders(s, d).withColumnRenamed("o_orderkey", "orderkey"),
      "orderkey", "l_partkey", 8)
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_items"),
        sum((col("l_extendedprice").cast("decimal(18,2)")
          * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(38,4)")).cast("double").as("revenue"))
      .orderBy("o_orderpriority")

  /** Grouped dispersion stats via the built-in single-pass (Welford
    * family) aggregates: sample variance/stddev per group. Columns are
    * small-magnitude (quantity 1..50, discount 0..0.1) so the 1e-12
    * RELATIVE accumulation differences between engines sit far below the
    * round-6 hash tolerance; the custom WelfordVariance Aggregator is
    * spec'd equal to var_samp in FunctionsSpec. */
  def qVariance(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(var_samp(col("l_quantity")), 6).as("var_qty"),
        round(stddev_samp(col("l_quantity")), 6).as("std_qty"),
        round(var_samp(col("l_discount")), 6).as("var_disc"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Gap sessionization via Spark's NATIVE session_window operator — the
    * same sessions as [[EventAnalytics.sessionize]]'s lag+cumsum
    * formulation (shared oracle modulo the running session number, which
    * session_window does not produce): merged windows per user at a
    * 30-minute gap. */
  def qSessionWindow(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
      .select("user_id", "n_events", "session_start", "session_end")
      .orderBy("user_id", "session_start")

  /** CUBE aggregate (all grouping combinations). */
  def qCube(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  /** Analytic window family: lag/lead/ntile/percent_rank over per-customer
    * order sequences. */
  def qWindowFuncs(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    orders(s, d)
      .filter(col("o_custkey") < 30)
      .select(col("o_custkey"), col("o_orderkey"),
        lag(col("o_orderkey"), 1).over(w).as("prev_order"),
        lead(col("o_orderkey"), 1).over(w).as("next_order"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** The SQL-text API: the engine's tables registered as views and queried
    * with `spark.sql` (TPC-H Q3 shape) — same Catalyst pipeline as the
    * DataFrame API, proven by the same oracle gate. */
  def qSqlApi(s: SparkSession, d: String): DataFrame = {
    customer(s, d).createOrReplaceTempView("v_customer")
    orders(s, d).createOrReplaceTempView("v_orders")
    lineitem(s, d).createOrReplaceTempView("v_lineitem")
    s.sql("""
      SELECT o_orderkey,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
             count(*) AS n_items
      FROM v_customer
      JOIN v_orders ON c_custkey = o_custkey
      JOIN v_lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING' AND o_orderstatus = 'O'
      GROUP BY o_orderkey
      ORDER BY o_orderkey
      LIMIT 500""")
  }

  /** Salted join for skewed keys: explode the build side over `salt`
    * replicas, scatter the probe side with a deterministic salt from a
    * non-key column, join on (key, salt). Result is identical to the plain
    * join (spec'd); at 100 TB this caps the largest task at ~1/salt of the
    * hot key's rows. AQE skew-join handles moderate skew automatically —
    * salting is the explicit tool for the pathological keys. */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String,
      probeSaltSrc: String, salt: Int): DataFrame = {
    val salted = probe.withColumn("__salt", pmod(hash(col(probeSaltSrc)), lit(salt)))
    val replicated = build.withColumn("__salt", explode(
      sequence(lit(0), lit(salt - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** EXACT grouped percentiles (interpolating median/p90) — the dataset-
    * card statistics a curation pipeline reports. `percentile` is the
    * exact sort-based aggregate (deterministic; approx_percentile is the
    * sketch variant exercised by q_approx_distinct's family). */
  def qPercentiles(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 6).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 6).as("p90"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** Approximate percentiles (Greenwald-Khanna sketch), oracle-gated via
    * the RANK-tolerance trick: a GK sketch guarantees the returned value's
    * true rank sits within ±eps·n of the requested quantile (eps = 1/
    * accuracy) REGARDLESS of partition merge order — so the declared
    * output is the exact percentiles plus one boolean per quantile
    * asserting the sketch value's measured rank honors that bound. DuckDB
    * replays the exact percentiles and TRUE literals; a sketch regression
    * (or a merge-order bound violation) fails the hash compare loudly.
    * Two jobs total: one sketch pass, one rank-count pass — at 100 TB the
    * sketch pass is the whole point (no global sort, map-side mergeable
    * summaries). */
  def qApproxPercentiles(s: SparkSession, d: String): DataFrame =
    // rebalance: the sf-scale lineitem file arrives as ONE scan split, so
    // both aggregate passes (GK sketch, exact-percentile sort) would run
    // single-threaded; a no-op on well-split cluster inputs
    // (Tables.rebalance contract). Results unchanged: the exact
    // percentiles are partition-independent and the rank-tolerance
    // booleans hold under ANY sketch merge order (the GK bound).
    approxPercentileCheck(Tables.rebalance(
      lineitem(s, d).select(col("l_extendedprice").cast("double").as("x")), "x"))

  /** The sketch-vs-exact check over any single-column frame `x`; empty
    * input yields zero rows (the sketch aggregate returns NULL). */
  def approxPercentileCheck(li: DataFrame): DataFrame = {
    val s = li.sparkSession
    import s.implicits._
    val ps = Seq(0.25, 0.5, 0.75, 0.95)
    val eps = 1.0 / 1000 // accuracy 1000
    val approxRow = li
      .agg(expr(s"approx_percentile(x, array(${ps.mkString(",")}), 1000)"))
      .head()
    if (approxRow.isNullAt(0))
      return Seq.empty[(Double, Double, Boolean)]
        .toDF("p", "exact_pct", "rank_within_eps")
    val approx = approxRow.getSeq[Double](0)
    // second pass measuring each sketch value's true rank SPAN: a value
    // occupies ranks (count(x < a), count(x <= a)] — the bound holds if
    // that span intersects [p - eps, p + eps] (strict/non-strict counts
    // both needed: a heavily duplicated value has a wide span)
    val rankAgg = li.agg(
      count(lit(1)).as("cnt"),
      approx.zipWithIndex.flatMap { case (a, i) =>
        Seq(sum(when(col("x") <= a, 1L).otherwise(0L)).as(s"le_$i"),
          sum(when(col("x") < a, 1L).otherwise(0L)).as(s"lt_$i"))
      }: _*)
      .head()
    val n = rankAgg.getLong(0)
    // exact percentiles by DISTRIBUTED SELECTION, not the `percentile`
    // aggregate: that aggregate accumulates a per-partition value map of
    // the WHOLE column and merges the maps single-threaded (measured
    // 2.3 s of a 2.6 s query at sf0.1; at 100 TB the maps are the column
    // — an executor OOM, guide §5). Values bit-identical (spec'd).
    val exact = exactPercentilesBySelection(li, ps)
    ps.zipWithIndex.map { case (p, i) =>
      val le = rankAgg.getLong(1 + 2 * i).toDouble / n
      val lt = rankAgg.getLong(2 + 2 * i).toDouble / n
      (p, graft.functions.TextHashes.sparkRound6(exact(i)), lt <= p + eps && le >= p - eps)
    }.toDF("p", "exact_pct", "rank_within_eps")
  }

  /** EXACT interpolating percentiles of column `x` by distributed
    * selection: range-partition + sort once, per-partition counts to the
    * driver (|partitions| longs), then ONE fetch pass pulls the order
    * statistics each quantile's interpolation needs. Interpolation
    * replicates `Percentile.getPercentile` bit-for-bit (position =
    * p·(n−1); (higher−pos)·lower + (pos−lower)·higher), asserted equal
    * to the aggregate in AdvancedSpec. Scale shape: one range exchange
    * of the column plus two bounded passes — no whole-column in-memory
    * map anywhere. Caller guarantees ≥ 1 non-null row. */
  private[graft] def exactPercentilesBySelection(li: DataFrame,
      ps: Seq[Double]): Seq[Double] = {
    val s = li.sparkSession
    import s.implicits._
    val sorted = li.filter(col("x").isNotNull)
      .repartitionByRange(col("x")).sortWithinPartitions("x")
      .select(col("x").cast("double"))
      .localCheckpoint()
    val counts = sorted
      .groupBy(spark_partition_id().as("pid")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nParts = if (counts.isEmpty) 0 else counts.keys.max + 1
    // offsets(i) = rows in partitions before i; offsets(nParts) = total
    val offsets = (0 to nParts).map(i => (0 until i).map(counts.getOrElse(_, 0L)).sum)
    val total = offsets(nParts)
    require(total > 0, "exactPercentilesBySelection on an empty column")
    val positions = ps.map(_ * (total - 1))
    val wanted = positions.flatMap(pos => Seq(pos.toLong, math.ceil(pos).toLong)).distinct
    def locate(k: Long): Int =
      (0 until nParts).find(p => k >= offsets(p) && k < offsets(p + 1)).get
    val localWanted: Map[Int, Seq[Long]] = wanted.groupBy(locate)
      .map { case (pid, ks) => pid -> ks.map(_ - offsets(pid)) }
    val bc = s.sparkContext.broadcast(localWanted)
    val found: Map[(Int, Long), Double] = sorted.as[Double].rdd
      .mapPartitionsWithIndex { (pid, it) =>
        bc.value.get(pid) match {
          case None => Iterator.empty
          case Some(ks) =>
            val want = ks.toSet
            val mx = ks.max
            // explicit Long row counter: Iterator.zipWithIndex is Int and
            // would wrap negative past 2^31 rows in one partition (range
            // partitioning puts ALL tied values in one partition, so that
            // is reachable at the scale this path targets), silently
            // defeating the takeWhile and losing wanted order statistics
            var idx = -1L
            it.map { v => idx += 1; (v, idx) }.takeWhile(_._2 <= mx).collect {
              case (v, i) if want.contains(i) => ((pid, i), v)
            }
        }
      }.collect().toMap
    def at(k: Long): Double = { val pid = locate(k); found((pid, k - offsets(pid))) }
    positions.map { pos =>
      val lower = pos.toLong
      val higher = math.ceil(pos).toLong
      if (higher == lower) at(lower)
      else (higher - pos) * at(lower) + (pos - lower) * at(higher)
    }
  }

  /** Regex extraction over the events props payload. */
  def qRegexExtract(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_id"),
        regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long").as("k"))
      .orderBy("event_id").limit(2000)

  /** PIVOT: event-type counts as columns per user bucket. The pivot values
    * are DECLARED (not discovered) so the plan is a single pass — Spark
    * otherwise runs an extra distinct job to enumerate them, a full scan a
    * 100 TB pipeline shouldn't pay for a fixed vocabulary. */
  def qPivot(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("user_bucket", pmod(col("user_id"), lit(5L)))
      .groupBy("user_bucket")
      .pivot("event_type", Seq("click", "view", "signup", "purchase", "error"))
      .agg(count(lit(1)))
      .na.fill(0L) // empty cells: match SQL conditional-count semantics
      .orderBy("user_bucket")

  /** UNPIVOT (melt): the four lineitem measures as (metric, value) rows —
    * the wide-to-long reshape every metrics pipeline needs before a
    * generic per-metric aggregation. Spark's native unpivot is a NARROW
    * 4x row expansion (one Expand node, no shuffle, no join), so it
    * scales with the scan; the deterministic sort is the only exchange. */
  def qUnpivot(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "metric", "value")
      .orderBy("l_orderkey", "l_linenumber", "metric")

  /** BLOCKED fuzzy match (entity resolution): probe names with planted
    * typos re-join their canonical supplier row via levenshtein <= 2 —
    * but never all-pairs: the join's EQUI key is a blocking key (here the
    * numeric suffix; on real names a phonetic code or length band), so
    * the plan is a hash join with the edit-distance as a residual filter,
    * and only within-block candidates are scored. Two probe classes:
    * one-char deletions (must match, dist 1) and mangled prefixes that
    * share the block but fail the residual (must NOT match) — so the
    * result proves both the block routing and the residual filtering. */
  def qFuzzyMatch(s: SparkSession, d: String): DataFrame = {
    val sup = supplier(s, d)
    val probes = sup.filter(col("s_suppkey") % 7 === 0)
      .select(col("s_suppkey").as("p_key"),
        concat(substring(col("s_name"), 1, 2), substring(col("s_name"), 4, 1000)).as("probe"))
      .unionByName(sup.filter(col("s_suppkey") % 7 === 3)
        .select(col("s_suppkey").as("p_key"),
          concat(lit("MANGLED"), substring(col("s_name"), 9, 1000)).as("probe")))
      .withColumn("bk", regexp_extract(col("probe"), "([0-9]+)$", 1))
    val canon = sup
      .select(col("s_suppkey"), col("s_name"),
        regexp_extract(col("s_name"), "([0-9]+)$", 1).as("bk"))
    probes.join(canon, Seq("bk"))
      .withColumn("dist", levenshtein(col("probe"), col("s_name")).cast("long"))
      .filter(col("dist") <= 2)
      .select("p_key", "probe", "s_suppkey", "s_name", "dist")
      .orderBy("p_key", "s_suppkey")
  }

  /** GROUPING SETS — finer than rollup/cube: exactly the (flag,status),
    * (flag), () groupings, one shuffle with grouping-id expansion. */
  def qGroupingSets(s: SparkSession, d: String): DataFrame = {
    lineitem(s, d).createOrReplaceTempView("v_lineitem_gs")
    s.sql("""
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             count(*) AS n
      FROM v_lineitem_gs
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
  }

  /** Grouped Pearson correlation + sample covariance from EXACT decimal
    * moments: the five sums are decimal-exact (order-independent), and only
    * the final closed-form ratio runs in double — so the result is
    * bit-identical on any partitioning AND matches the oracle, where
    * Spark's native corr/covar_samp (a streaming double fold) is
    * partitioning-dependent in the last ulps. One map-side-combined
    * aggregation; the moment pattern is [[graft.functions.WelfordVariance]]'s
    * documented decimal counterpart. */
  def qCorr(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity").cast("decimal(18,2)")
    val y = col("l_extendedprice").cast("decimal(18,2)")
    val moments = lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(x).cast("double").as("sx"), sum(y).cast("double").as("sy"),
        sum((x * y).cast("decimal(38,4)")).cast("double").as("sxy"),
        sum((x * x).cast("decimal(38,4)")).cast("double").as("sxx"),
        sum((y * y).cast("decimal(38,4)")).cast("double").as("syy"))
    // the closed form runs in double with the SAME expression shape as the
    // oracle SQL — identical IEEE ops on identical inputs, so no ulp drift
    val nD = col("n").cast("double")
    val mx = col("sx") / nD
    val my = col("sy") / nD
    moments.select(col("l_returnflag"), col("n"),
      round((col("sxy") / nD - mx * my) /
        sqrt((col("sxx") / nD - mx * mx) * (col("syy") / nD - my * my)), 6)
        .as("corr_qty_price"),
      round((col("sxy") - col("sx") * col("sy") / nD) / (nD - 1), 6)
        .as("covar_qty_price"))
      .orderBy("l_returnflag")
  }

  /** Fixed-width histogram of order totals: bin assignment is a narrow
    * closed-form expression (no per-bin filtering passes), one grouped
    * aggregation. */
  def qHistogram(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(least(floor(col("o_totalprice") / 50000.0), lit(9.0)).cast("long").as("bin"),
        col("o_totalprice"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .withColumn("bin_lo", (col("bin") * 50000L).cast("double"))
      .select("bin", "bin_lo", "n", "total")
      .orderBy("bin")

  /** JSON payload extraction (the events `props` column is a JSON string,
    * like any event-bus payload): path extraction stays codegen'd and
    * narrow — no UDF, no parse-to-struct materialization. */
  def qJson(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .filter(col("k") >= 50L)
      .orderBy("event_id")

  /** Join-key skew diagnostics: the per-key frequency profile that decides
    * salt-vs-broadcast-vs-plain BEFORE a big join ships data — the
    * operational companion to [[qSaltedJoin]]. Two aggregations (key
    * counts, then a per-group profile); skew_ratio = max_freq x n_keys /
    * n_rows is 1.0 for a perfectly uniform key and grows with the hottest
    * key's excess. At 100 TB this runs on a sample or the join input
    * itself — either way it is two shuffles of scalar pairs. */
  def keySkew(df: DataFrame, group: String, key: String): DataFrame =
    df.groupBy(group, key).agg(count(lit(1)).as("freq"))
      .groupBy(group)
      .agg(count(lit(1)).as("n_keys"),
        max(col("freq")).as("max_freq"),
        sum(col("freq")).as("n_rows"),
        round(expr("percentile(freq, 0.99)"), 6).as("p99_freq"))
      .withColumn("skew_ratio",
        round(col("max_freq").cast("double") * col("n_keys") / col("n_rows"), 6))

  def qSkewStats(s: SparkSession, d: String): DataFrame =
    keySkew(events(s, d), "event_type", "user_id")
      .select("event_type", "n_keys", "max_freq", "n_rows", "p99_freq", "skew_ratio")
      .orderBy("event_type")

  /** Z-ORDER curve value: interleave the low [[ZorderBits]] bits of two
    * key columns (Morton code) — the layout kernel for multi-dimensional
    * data clustering. Writing a 100 TB fact table sorted by z(a, b) makes
    * min/max file statistics selective for range predicates on EITHER
    * key, so scans prune files on both dimensions from one physical
    * order — this is what "OPTIMIZE ZORDER BY" computes in public
    * lakehouse engines. The bit-spread is a 2x16-term sum of masked
    * shifts: pure codegen'd integer math, no UDF, no HOF. */
  val ZorderBits = 16

  def zvalue(a: Column, b: Column): Column =
    (0 until ZorderBits).map { i =>
      shiftright(a, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(b, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)

  /** The same spread, emitted as DuckDB SQL over column names — generated
    * from the one [[ZorderBits]] source of truth so engine and oracle
    * cannot drift. */
  def zvalueSql(a: String, b: String): String =
    (0 until ZorderBits).map { i =>
      s"(($a >> $i) & 1) * ${1L << (2 * i)} + (($b >> $i) & 1) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** Z-order layout probe: the 100 lineitem rows that sort first on the
    * (l_orderkey, l_partkey) Morton curve. In production this expression
    * feeds `repartitionByRange(zval).sortWithinPartitions(zval)` before
    * the parquet write; the query surfaces the curve itself so the oracle
    * can pin its exact semantics. */
  def qZorder(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"),
        zvalue(pmod(col("l_orderkey"), lit(65536L)),
          pmod(col("l_partkey"), lit(65536L))).as("zval"))
      .orderBy(col("zval"), col("l_orderkey"), col("l_partkey"))
      .limit(100)
}
