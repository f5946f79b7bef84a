package graft

import graft.functions.GraftFunctions
import graft.operators.SnippetGen
import org.apache.spark.sql.functions._

/** F3/F4 semantics (SURVEY §2.5): window 5, stride 3, ids dense 1-based,
  * NO tail snippet (the reference's tail branch DI:193-198 is dead code).
  * Window-count table from FIXTURES.md §A. */
class SnippetGenSpec extends SparkSpec {
  import SnippetGen._

  test("window counts match reference semantics (incl. dead-tail finding)") {
    // count = floor((n-1)/3)+1 for n>=1 (loop `while i < n`, stride 3,
    // DI:181-191); the tail branch DI:193-198 never fires.
    val expected = Map(0 -> 0, 1 -> 1, 3 -> 1, 4 -> 2, 5 -> 2, 6 -> 2, 7 -> 3, 9 -> 3, 10 -> 4)
    expected.foreach { case (n, k) =>
      val units = (1 to n).map(i => s"s$i")
      assert(windowsOf(units).size === k, s"n=$n")
    }
  }

  test("windows: ids dense, coverage, overlap, join semantics") {
    (0 to 60).foreach { n =>
      val units = (1 to n).map(i => s"s$i")
      val ws = windowsOf(units)
      // ids dense 1..k
      assert(ws.map(_._1) === (1 to ws.size))
      // window k covers units[3(k-1) .. 3(k-1)+5)
      ws.foreach { case (id, w) =>
        assert(w === units.slice((id - 1) * 3, (id - 1) * 3 + 5))
      }
      // every unit appears in at least one window
      assert(ws.flatMap(_._2).toSet === units.toSet)
      // consecutive full windows overlap by exactly 2
      ws.sliding(2).foreach {
        case Seq((_, a), (_, b)) if a.size == 5 && b.size == 5 =>
          assert(a.takeRight(2) === b.take(2))
        case _ =>
      }
    }
  }

  test("column expression matches the typed flatMap on real docs") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(50).cache()
    val viaSql = docs
      .select($"doc_id", explode(snippetWindows(GraftFunctions.words($"text"))).as("s"))
      .select($"doc_id", $"s.snippet_id", $"s.snippet_text")
      .as[(Long, Int, String)].collect().toSet
    val viaFlatMap = docs.select($"doc_id", $"text").as[(Long, String)].collect()
      .flatMap { case (id, text) =>
        windowsOf(text.trim.split("\\s+").toSeq).map { case (sid, w) =>
          (id, sid, w.mkString(" "))
        }
      }.toSet
    assert(viaSql === viaFlatMap)
    docs.unpersist()
  }

  test("sentence split breaks on .!? + whitespace, consuming the terminator") {
    import spark.implicits._
    val got = Seq("A b. C d! E? F g.h end", "one sentence")
      .toDF("text")
      .select(splitSentences($"text").as("s")).as[Seq[String]].collect()
    assert(got(0) === Seq("A b", "C d", "E", "F g.h end"))
    assert(got(1) === Seq("one sentence"))
  }

  test("empty and whitespace-only text yield no crash, empty-ish output") {
    import spark.implicits._
    val got = Seq("", "   ").toDF("text")
      .select(snippetWindows(GraftFunctions.words($"text")).as("w"))
      .as[Seq[(Int, String)]].collect()
    // split("") -> [""], one window with empty text; acceptable boundary
    assert(got.forall(w => w.size <= 1))
  }

  test("docSnippets is a narrow plan (no shuffle before the final sort)") {
    // a well-partitioned input makes Tables.rebalance a no-op, so the only
    // exchange left is the rangepartitioning of the deterministic sort
    val wellPartitioned = spark.read.parquet(s"$sf0001/documents.parquet")
      .repartition(16)
    val plan = SnippetGen.docSnippets(wellPartitioned)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size
    // repartition(16) itself is one exchange; the pipeline must add only
    // the sort exchange on top
    assert(exchanges <= 2, s"expected rebalance no-op + sort exchange only, got:\n$plan")
  }
}
