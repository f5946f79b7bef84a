package graft

import graft.operators.{Dedup, Graph, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Every driver fast path (a `Scope.collectWithin` probe) against its
  * forced-distributed twin (budget 0) on seeded generated inputs: empty
  * frames, frames with null cells, and frames without. */
class FastPathSpec extends SparkSpec {

  private val seeds = Seq(1, 2, 3)

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** `v`, or null with probability `p`. */
  private def orNull(r: Random, p: Double)(v: => Any): Any =
    if (r.nextDouble() < p) null else v

  /** Rows as sorted strings: doubles print their exact shortest repr. */
  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** (empty, no nulls, nulls) inputs per seed from one generator. */
  private def inputs(gen: (Random, Double) => DataFrame): Seq[(String, DataFrame)] =
    ("empty", gen(new Random(0), 0.0).limit(0)) +: seeds.flatMap(s => Seq(
      s"seed $s" -> gen(new Random(s), 0.0), s"seed $s with nulls" -> gen(new Random(s), 0.15)))

  private val edgeSchema = StructType(Seq(StructField("src", LongType),
    StructField("dst", LongType), StructField("w", LongType)))

  private def edges(r: Random, p: Double): DataFrame = {
    val nodes = 3 + r.nextInt(10)
    frame(edgeSchema, Seq.fill(5 + r.nextInt(25))(Row(
      orNull(r, p)(r.nextInt(nodes).toLong), orNull(r, p)(r.nextInt(nodes).toLong),
      orNull(r, p)(1L + r.nextInt(5)))))
  }

  test("nearDupClusters: union-find equals the label-propagation loop") {
    inputs((r, p) => edges(r, p).select(col("src").as("doc_a"), col("dst").as("doc_b")))
      .foreach { case (name, pairs) =>
      assert(rows(Dedup.nearDupClusters(pairs)) ===
        rows(Dedup.nearDupClusters(pairs, driverEdgeBudget = 0L)), name)
    }
  }

  test("pageRank and hits: driver iterations equal the distributed loops") {
    inputs(edges).foreach { case (name, e) =>
      assert(rows(Graph.pageRank(e, 3, 0.85)) ===
        rows(Graph.pageRank(e, 3, 0.85, driverEdgeBudget = 0L)), s"pageRank $name")
      assert(rows(Graph.hits(e, 3)) ===
        rows(Graph.hits(e, 3, driverEdgeBudget = 0L)), s"hits $name")
    }
  }

  test("bfsFrontier: the driver BFS equals the wave loop") {
    val seedSchema = StructType(Seq(StructField("node", LongType)))
    inputs((r, p) => edges(r, p).select("src", "dst")).zipWithIndex.foreach { case ((name, e), i) =>
      val r = new Random(100 + i)
      val s = frame(seedSchema, Seq.fill(if (name == "empty") 0 else 1 + r.nextInt(3))(
        Row(orNull(r, if (name.endsWith("nulls")) 0.2 else 0.0)(r.nextInt(5).toLong))))
      Seq(e -> s, e -> s.limit(0), e.limit(0) -> s).foreach { case (ee, ss) =>
        assert(rows(Graph.bfsFrontier(ee, ss, 3)) ===
          rows(Graph.bfsFrontier(ee, ss, 3, driverEdgeBudget = 0L)), name)
      }
    }
  }

  test("kCenterSelect: the driver rounds equal the running-min loop, null slots included") {
    val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    // vec_id is the row's identity and never null; embeddings and their
    // slots may be
    inputs((r, p) => frame(schema, (0 until 4 + r.nextInt(12)).map(i => Row(i.toLong,
      orNull(r, p / 2)(Seq.fill(3)(orNull(r, p)(r.nextInt(7) / 4.0f - 0.5f)))))))
      .foreach { case (name, emb) =>
        Seq(1, 3, 5).foreach { k =>
          assert(rows(Similarity.kCenterSelect(emb, k)) ===
            rows(Similarity.kCenterSelect(emb, k, driverRowBudget = 0L)), s"$name k=$k")
        }
      }
  }

  test("logisticTrainN: driver gradient descent equals the aggregate loop") {
    val b = 3
    val schema = StructType(StructField("y", IntegerType) +:
      (0 until b).map(j => StructField(s"x$j", DoubleType)))
    val everyRowNull = frame(schema, Seq(Row(null, 0.5, -0.5, 1.0), Row(1, 0.25, null, 0.0)))
    (inputs((r, p) => frame(schema, Seq.fill(3 + r.nextInt(20))(Row(
      orNull(r, p)(r.nextInt(2)) +: Seq.fill(b)(orNull(r, p)(r.nextInt(2001) / 1000.0 - 1.0)): _*))))
      :+ ("a null in every row" -> everyRowNull))
      .foreach { case (name, feat) =>
        assert(TextAnalysis.logisticTrainN(feat, b, 4, 0.5).toSeq ===
          TextAnalysis.logisticTrainN(feat, b, 4, 0.5, driverRowBudget = 0L).toSeq, name)
      }
  }
}
