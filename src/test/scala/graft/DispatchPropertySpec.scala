package graft

import graft.operators.SnippetGen
import graft.streaming.CommandDispatch
import graft.streaming.CommandDispatch.EngineState
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import scala.jdk.CollectionConverters._

/** Generated command batches through [[CommandDispatch.dispatch]], its
  * content-dedup variant and [[CommandDispatch.dispatchFifo]], each
  * followed by the expiry sweep, against a plain-Scala model of the queue
  * semantics: documents, snippets per document, categories and messages.
  * The generators draw names, ids and categories from small pools with
  * nulls, so a batch routinely repeats an upload name, adds and removes
  * one category, uploads into a category it removes, and removes a name
  * that does not exist; the coverage check at the end of each suite
  * asserts that every such case was drawn. */
class DispatchPropertySpec extends SparkSpec {
  import DispatchPropertySpec._

  private def nul(o: Option[Any]): Any = o.orNull

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def engineState(m: MState): EngineState = EngineState(
    frame(m.docs.map(d => Row(nul(d.id), nul(d.name), nul(d.cat), nul(d.catName),
      nul(d.text), d.status, nul(d.expiry))), DocsSchema),
    frame(m.snippets.zipWithIndex.map { case (s, i) =>
      Row(nul(s.id), nul(s.name), nul(s.cat), i, "", s.status) }, SnippetsSchema),
    frame(m.cats.map { case (id, n) => Row(nul(id), nul(n)) }, CatsSchema))

  private def commandFrame(batch: Seq[Cmd]): DataFrame =
    frame(batch.map(c => Row(c.seq, c.action, nul(c.docId), nul(c.name), nul(c.catId),
      nul(c.catName), nul(c.text), nul(c.expiry))),
      StructType(StructField("seq", LongType) +: CommandDispatch.commandSchema.fields))

  private def observed(st: EngineState, messages: DataFrame): Observed = {
    def s(r: Row, i: Int) = Option(r.get(i)).fold("null")(_.toString)
    def lines(df: DataFrame) = df.collect().toSeq.map(r => r.toSeq.indices.map(s(r, _))
      .mkString("|")).sorted
    Observed(
      lines(st.docs.select("document_id", "document_name", "category_id", "category_name",
        "text", "document_status", "document_expiryDate")),
      lines(st.snippets.groupBy("document_id", "document_name", "category_id",
        "document_status").count()),
      lines(st.categories.select("category_id", "category_name")),
      lines(messages.select("action_code", "document_name", "category_name", "message")))
  }

  private def check(name: String, cases: Int, gen: Gen[(MState, Seq[Cmd])])(
      engine: (EngineState, DataFrame) => (EngineState, DataFrame),
      model: (MState, Seq[Cmd]) => (MState, Seq[String])): Unit = test(name) {
    val drawn = (1 to cases).map(i => gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    drawn.zipWithIndex.foreach { case ((st0, batch), i) =>
      val (next, messages) = engine(engineState(st0), commandFrame(batch))
      val got = observed(CommandDispatch.expiryMaintenance(lit(AsOf))(next), messages)
      val (want, wantMsgs) = model(st0, batch)
      val expected = Observed(want.sweep.docLines, want.sweep.snippetLines, want.catLines,
        wantMsgs.sorted)
      assert(got === expected, s"case $i: state $st0\nbatch ${batch.mkString("\n  ", "\n  ", "")}")
    }
    val missing = Coverage.filterNot { case (_, hit) => drawn.exists(hit.tupled) }.keys
    assert(missing.isEmpty, s"no generated batch covers: ${missing.mkString(", ")}")
  }

  check("dispatch equals the queue model on generated batches", 40, anyBatch)(
    CommandDispatch.dispatch, Model.dispatch(_, _, contentDedup = false))

  check("content-dedup dispatch equals the queue model on generated batches", 12, dedupBatch)(
    CommandDispatch.dispatchContentDedup(0.5), Model.dispatch(_, _, contentDedup = true))

  check("FIFO dispatch equals the queue model run by run on generated batches", 12, anyBatch)(
    (st, cmds) => CommandDispatch.dispatchFifo(st, cmds), Model.fifo)
}

object DispatchPropertySpec {
  val AsOf = "2026-01-01"

  val DocsSchema: StructType = StructType(Seq(
    StructField("document_id", LongType), StructField("document_name", StringType),
    StructField("category_id", IntegerType), StructField("category_name", StringType),
    StructField("text", StringType), StructField("document_status", StringType),
    StructField("document_expiryDate", StringType)))
  val SnippetsSchema: StructType = StructType(Seq(
    StructField("document_id", LongType), StructField("document_name", StringType),
    StructField("category_id", IntegerType), StructField("snippet_id", IntegerType),
    StructField("snippet_text", StringType), StructField("document_status", StringType)))
  val CatsSchema: StructType = StructType(Seq(
    StructField("category_id", IntegerType), StructField("category_name", StringType)))

  final case class Cmd(seq: Long, action: Int, docId: Option[Long], name: Option[String],
      catId: Option[Int], catName: Option[String], text: Option[String], expiry: Option[String])

  final case class MDoc(id: Option[Long], name: Option[String], cat: Option[Int],
      catName: Option[String], text: Option[String], status: String, expiry: Option[String])

  final case class MSnippet(id: Option[Long], name: Option[String], cat: Option[Int],
      status: String)

  final case class Observed(docs: Seq[String], snippets: Seq[String], cats: Seq[String],
      messages: Seq[String])

  private def show(v: Option[Any]): String = v.fold("null")(_.toString)

  final case class MState(docs: Vector[MDoc], snippets: Vector[MSnippet],
      cats: Vector[(Option[Int], Option[String])]) {
    def docLines: Seq[String] = docs.map(d => Seq(show(d.id), show(d.name), show(d.cat),
      show(d.catName), show(d.text), d.status, show(d.expiry)).mkString("|")).sorted
    def snippetLines: Seq[String] = snippets.groupBy(identity).toSeq.map { case (s, xs) =>
      Seq(show(s.id), show(s.name), show(s.cat), s.status, xs.size).mkString("|") }.sorted
    def catLines: Seq[String] = cats.map { case (i, n) => s"${show(i)}|${show(n)}" }.sorted

    /** The expiry sweep: active documents past their date expire, and so
      * do the snippets of every document id that expired now. */
    def sweep: MState = {
      def due(d: MDoc) = d.status == "Active" && d.expiry.exists(_ < AsOf)
      val now = docs.filter(due).flatMap(_.id).toSet
      MState(docs.map(d => if (due(d)) d.copy(status = "Expired") else d),
        snippets.map(s => if (s.id.exists(now)) s.copy(status = "Expired") else s), cats)
    }
  }

  def snippetsOf(d: MDoc): Vector[MSnippet] = {
    val n = d.text.fold(0)(t => SnippetGen.windowsOf(t.trim.split("\\s+").toSeq).size)
    Vector.fill(n)(MSnippet(d.id, d.name, d.cat, d.status))
  }

  /** Spark's orders: nulls first, strings by their UTF-8 bytes. */
  implicit val utf8Order: Ordering[String] =
    Ordering.fromLessThan((a, b) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0)

  object Model {
    /** One batch in the per-type order: category adds, uploads, removals
      * by name, category removals. A repeated new name or category name
      * keeps the row that sorts first on its full content. */
    def dispatch(st: MState, batch: Seq[Cmd], contentDedup: Boolean): (MState, Seq[String]) = {
      val names = st.docs.flatMap(_.name).toSet
      val catNames = st.cats.flatMap(_._2).toSet
      val added = batch.filter(_.action == 2).filterNot(_.catName.exists(catNames))
        .groupBy(_.catName).values.map(_.map(c => (c.catId, c.catName)).min).toVector
      val cats1 = st.cats ++ added
      val rows = batch.filter(_.action == 1).filterNot(_.name.exists(names)).flatMap { c =>
        val hits = cats1.filter(k => k._1.isDefined && k._1 == c.catId).map(_._2)
        (if (hits.isEmpty) Vector(None) else hits).map(n =>
          MDoc(c.docId, c.name, c.catId, n, c.text, "Active", c.expiry))
      }
      val winners = rows.groupBy(_.name).values.map(_.minBy(d =>
        (d.id, d.name, d.cat, d.catName, d.text, d.expiry))).toVector
      val stateTexts = st.docs.flatMap(_.text).toSet
      val rejected =
        if (contentDedup) winners.filter(_.text.exists(stateTexts)).flatMap(_.id).toSet
        else Set.empty[Long]
      val fresh = winners.filterNot(_.id.exists(rejected))
      val gone = batch.filter(_.action == 0).flatMap(_.name).toSet
      val goneCats = batch.filter(_.action == 3).flatMap(_.catId).toSet
      def stays(name: Option[String], cat: Option[Int]) =
        !name.exists(gone) && !cat.exists(goneCats)
      val next = MState(
        (st.docs ++ fresh).filter(d => stays(d.name, d.cat)),
        (st.snippets ++ fresh.flatMap(snippetsOf)).filter(s => stays(s.name, s.cat)),
        cats1.filterNot(_._1.exists(goneCats)))
      val messages = batch.map { c =>
        val msg = c.action match {
          case 1 if c.name.exists(names) => s"Document ${show(c.name)} already exists"
          case 1 if c.docId.exists(rejected) => s"Document ${show(c.name)} is a near-duplicate"
          case 1 => s"Document ${show(c.name)} was uploaded"
          case 0 => s"Document ${show(c.name)} was removed"
          case 2 if c.catName.exists(catNames) => s"Category ${show(c.catName)} already exists"
          case 2 => s"Category ${show(c.catName)} was added"
          case 3 => s"Category ${show(c.catId)} was removed"
          case _ => "Unknown action"
        }
        Seq(c.action.toString, show(c.name), show(c.catName), msg).mkString("|")
      }
      (next, messages)
    }

    /** Strict FIFO: the batch's runs of one action, each as a batch. */
    def fifo(st: MState, batch: Seq[Cmd]): (MState, Seq[String]) = {
      val runs = batch.sortBy(_.seq).foldLeft(Vector.empty[Vector[Cmd]]) {
        case (rs :+ last, c) if last.head.action == c.action => rs :+ (last :+ c)
        case (rs, c) => rs :+ Vector(c)
      }
      runs.foldLeft((st, Seq.empty[String])) { case ((s, msgs), run) =>
        val (next, m) = dispatch(s, run, contentDedup = false)
        (next, msgs ++ m)
      }
    }
  }

  private def opt[A](g: Gen[A]): Gen[Option[A]] = Gen.frequency(1 -> Gen.const(None), 5 -> g.map(Some(_)))
  private val words = Seq("alpha", "beta", "gamma", "delta", "omega", "zeta", "Zulu", "éclair")
  private val name = opt(Gen.oneOf("a", "b", "c", "d", "e", "f"))
  private val docId = opt(Gen.choose(1L, 10L))
  private val catId = opt(Gen.choose(1, 5))
  private val catName = opt(Gen.oneOf("c1", "c2", "c3", "c4", "c5", "c6"))
  private val text = Gen.frequency(1 -> Gen.const(None), 1 -> Gen.const(Some("")),
    6 -> Gen.choose(1, 13).flatMap(n => Gen.listOfN(n, Gen.oneOf(words))).map(w => Some(w.mkString(" "))))
  private val expiry = Gen.oneOf(None, Some("2001-01-01"), Some("2025-12-31"), Some("2099-01-01"))

  private def state(texts: Gen[Option[String]]): Gen[MState] = for {
    n <- Gen.choose(0, 5)
    docs <- Gen.listOfN(n, for {
      i <- docId; nm <- name; c <- catId; t <- texts; e <- expiry
      st <- Gen.oneOf("Active", "Active", "Expired")
    } yield MDoc(i, nm, c, c.map(k => s"c$k"), t, st, e))
    extra <- Gen.someOf(Seq[(Option[Int], Option[String])](
      Some(2) -> Some("c2b"), Some(4) -> None, None -> Some("c9")))
  } yield MState(docs.toVector, docs.toVector.flatMap(snippetsOf),
    Vector(Some(1) -> Some("c1"), Some(2) -> Some("c2"), Some(3) -> Some("c3")) ++ extra)

  private def batch(texts: Gen[Option[String]]): Gen[Seq[Cmd]] = for {
    n <- Gen.choose(4, 16)
    cmds <- Gen.listOfN(n, for {
      a <- Gen.frequency(3 -> 1, 2 -> 0, 2 -> 2, 2 -> 3, 1 -> 9)
      i <- docId; nm <- name; c <- catId; cn <- catName; t <- texts; e <- expiry
    } yield (a, i, nm, c, cn, t, e))
    // sometimes an upload again under the same name, id and category:
    // only its text and expiry can order the two
    again <- Gen.oneOf(false, true); t <- texts; e <- expiry
  } yield {
    val drawn = cmds.zipWithIndex.map { case ((a, i, nm, c, cn, t, e), k) =>
      // each action carries only the fields its enqueue shape has
      a match {
        case 1 => Cmd(k, 1, i, nm, c, None, t, e)
        case 0 => Cmd(k, 0, None, nm, None, None, None, None)
        case 2 => Cmd(k, 2, None, None, c, cn, None, None)
        case 3 => Cmd(k, 3, None, None, c, None, None, None)
        case _ => Cmd(k, a, i, nm, c, cn, None, None)
      }
    }
    drawn ++ drawn.find(_.action == 1).filter(_ => again)
      .map(u => u.copy(seq = drawn.size.toLong, text = t, expiry = e))
  }

  val anyBatch: Gen[(MState, Seq[Cmd])] = for { s <- state(text); b <- batch(text) } yield (s, b)

  /** Texts for the content-dedup gate: each is one of a few twelve-word
    * texts with disjoint vocabularies, so an upload is a near-duplicate
    * exactly when an existing document holds the same text. */
  private val topics = (0 until 6).map(t => (0 until 12).map(w => s"t${t}w$w").mkString(" "))
  val dedupBatch: Gen[(MState, Seq[Cmd])] = {
    val t = Gen.oneOf(topics).map(Some(_))
    for { s <- state(t); b <- batch(t) } yield (s, b)
  }

  /** Cases the generated batches must include, over one suite's draws. */
  val Coverage: Map[String, (MState, Seq[Cmd]) => Boolean] = {
    def uploads(b: Seq[Cmd]) = b.filter(_.action == 1)
    def removedCats(b: Seq[Cmd]) = b.filter(_.action == 3).flatMap(_.catId).toSet
    Map(
      "null upload name" -> ((_, b) => uploads(b).exists(_.name.isEmpty)),
      "null upload id" -> ((_, b) => uploads(b).exists(_.docId.isEmpty)),
      "null upload category" -> ((_, b) => uploads(b).exists(_.catId.isEmpty)),
      "repeated new upload name" -> ((s, b) => uploads(b).filterNot(_.name.exists(
        s.docs.flatMap(_.name).toSet)).groupBy(_.name).exists(_._2.size > 1)),
      "new uploads equal on every key column" -> ((s, b) => uploads(b).filterNot(_.name.exists(
        s.docs.flatMap(_.name).toSet)).groupBy(c => (c.name, c.docId, c.catId))
        .exists(_._2.size > 1)),
      "category added and removed" -> ((_, b) => b.exists(c => c.action == 2 &&
        c.catId.exists(removedCats(b)))),
      "upload into a removed category" -> ((_, b) => uploads(b).exists(
        _.catId.exists(removedCats(b)))),
      "removal of an absent name" -> ((s, b) => b.exists(c => c.action == 0 &&
        c.name.exists(n => !s.docs.exists(_.name.contains(n))))),
      "past expiry" -> ((_, b) => uploads(b).exists(_.expiry.exists(_ < AsOf))),
      "future expiry" -> ((_, b) => uploads(b).exists(_.expiry.exists(_ >= AsOf))),
      "null expiry" -> ((_, b) => uploads(b).exists(_.expiry.isEmpty)))
  }
}
