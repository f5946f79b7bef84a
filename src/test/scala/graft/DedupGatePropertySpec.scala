package graft

import graft.streaming.StreamingJobs
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Generated batch sequences through [[StreamingJobs.dedupGateBatch]]
  * against a plain-Scala model of its four stages: exact within batch,
  * exact against the accepted corpus, word-3-gram Jaccard >= threshold
  * against the indexed corpus, and connected components of the
  * within-batch Jaccard pairs with each component's minimum id as the
  * witness. Each case compares the accepted ids and every rejection's
  * (doc_id, reason, witness, batch_id).
  *
  * Fresh documents are 20 distinct words, so two of them share no
  * shingle; a near edit swaps one word (Jaccard 15/21 against its
  * source), and a chain of three edits at spaced positions connects four
  * documents whose ends are only 9/27 apart. A near edit of a corpus
  * document can carry a batch document two edits further on, which is
  * near it but not the corpus. The MinHash gate is run on batches
  * without near edits, where no outcome depends on LSH recall. The
  * coverage check at the end of each suite asserts that every listed
  * case was drawn.
  *
  * The model holds the gate's input contract: a row without a doc_id is
  * rejected as `null_id`, and a document delivered more than once (same
  * doc_id, same text) counts once. */
class DedupGatePropertySpec extends SparkSpec {
  import DedupGatePropertySpec._

  private def run(batches: Seq[Seq[Doc]], exactPairs: Boolean,
      root: String = Files.createTempDirectory("graft_gate_prop").toString): Outcome = {
    val (acc, idx, rej) = (s"$root/accepted", s"$root/index", s"$root/rejected")
    batches.zipWithIndex.foreach { case (b, i) =>
      val rows = b.map(d => Row(d.id.map(Long.box).orNull, d.text.orNull))
      StreamingJobs.dedupGateBatch(spark, spark.createDataFrame(rows.asJava, DocSchema),
        i.toLong, acc, idx, rej, Threshold, exactPairs)
    }
    Outcome(
      spark.read.parquet(acc).select("doc_id").collect().map(_.getLong(0)).toSeq.sorted,
      spark.read.parquet(rej).select("doc_id", "reason", "witness", "batch_id").collect()
        .map(r => Rejection(Option(r.get(0)).map(_.asInstanceOf[Long]), r.getString(1),
          Option(r.get(2)).map(_.asInstanceOf[Long]), r.getLong(3)))
        .toSeq.sortBy(_.toString))
  }

  private def check(name: String, cases: Int, near: Boolean, exactPairs: Boolean,
      coverage: Map[String, (Seq[Seq[Doc]], Outcome) => Boolean]): Unit = test(name) {
    val drawn = (1 to cases).map { i =>
      val batches = generate(new scala.util.Random(i.toLong), near)
      val want = model(batches)
      assert(run(batches, exactPairs) === want,
        s"case $i:\n${batches.zipWithIndex.map { case (b, j) => s"batch $j: $b" }.mkString("\n")}")
      (batches, want)
    }
    val missing = coverage.filterNot { case (_, hit) => drawn.exists(hit.tupled) }.keys
    assert(missing.isEmpty, s"no generated case covers: ${missing.mkString(", ")}")
  }

  check("exact-pairs gate equals the four-stage model on generated batches", 16,
    near = true, exactPairs = true, Coverage)

  check("MinHash gate equals the model on batches without near edits", 6,
    near = false, exactPairs = false, Coverage -- NearCases)

  test("a document delivered twice is one document: accepted and indexed once") {
    // 9 of 27 shingles shared (Jaccard 1/3). Were postings counted per
    // row, doc 1 sent twice would read 18/18 against doc 2, and both sent
    // twice 36/0.
    val w = (1 to 29).map(i => s"w$i")
    val text = Map(1L -> w.take(20).mkString(" "), 2L -> (w.take(11) ++ w.drop(20)).mkString(" "))
    for (exactPairs <- Seq(true, false); twice <- Seq(Set(1L), Set(1L, 2L))) {
      val batch = text.toSeq.sorted.flatMap { case (id, t) =>
        Seq.fill(if (twice(id)) 2 else 1)(Doc(Some(id), Some(t))) }
      assert(model(Seq(batch)) === Outcome(Seq(1L, 2L), Nil))
      val root = Files.createTempDirectory("graft_gate_twice").toString
      assert(run(Seq(batch), exactPairs, root) === Outcome(Seq(1L, 2L), Nil), s"$exactPairs $twice")
      assert(spark.read.parquet(s"$root/index").select("doc_id").collect()
        .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    }
  }

  test("a row without a doc_id is rejected as null_id") {
    val batch = Seq(Doc(None, Some("a b c d")), Doc(Some(1L), Some("a b c d")), Doc(None, None))
    val want = Outcome(Seq(1L), Seq.fill(2)(Rejection(None, "null_id", None, 0L)))
    assert(model(Seq(batch)) === want)
    for (exactPairs <- Seq(true, false)) assert(run(Seq(batch), exactPairs) === want)
  }
}

object DedupGatePropertySpec {
  val Threshold = 0.5
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  final case class Doc(id: Option[Long], text: Option[String])
  final case class Rejection(id: Option[Long], reason: String, witness: Option[Long], batch: Long)
  final case class Outcome(accepted: Seq[Long], rejected: Seq[Rejection])

  /** Spark's `split(trim(text), "\\s+")` on single-spaced text, then the
    * distinct word 3-grams; under 3 words there are none. */
  def shingles(t: String): Set[String] = {
    val w = if (t.isEmpty) Array("") else t.split(" ")
    if (w.length < 3) Set.empty else w.sliding(3).map(_.mkString(" ")).toSet
  }

  /** Jaccard of two shingle sets that share at least one shingle. */
  private def jaccard(a: Set[String], b: Set[String]): Option[Double] = {
    val common = (a intersect b).size
    if (common == 0) None else Some(common.toDouble / (a.size + b.size - common))
  }

  /** id -> shingles over the documents that have at least one shingle. */
  private def shingleSets(rows: Seq[(Long, Option[String])]): Map[Long, Set[String]] =
    rows.collect { case (id, Some(t)) if shingles(t).nonEmpty => id -> shingles(t) }.toMap

  def model(batches: Seq[Seq[Doc]]): Outcome = {
    var corpus = Vector.empty[(Long, Option[String])]
    val rejected = ArrayBuffer.empty[Rejection]
    batches.zipWithIndex.foreach { case (batch, b) =>
      def reject(id: Long, reason: String, w: Long) =
        rejected += Rejection(Some(id), reason, Some(w), b)
      batch.filter(_.id.isEmpty).foreach(_ => rejected += Rejection(None, "null_id", None, b))
      val rows = batch.collect { case Doc(Some(id), t) => (id, t) }.distinct
      val first = rows.groupMapReduce(_._2)(_._1)(math.min)
      val (live, copies) = rows.partition { case (id, t) => first(t) == id }
      copies.foreach { case (id, t) => reject(id, "exact_batch", first(t)) }
      val corpusFirst = corpus.groupMapReduce(_._2)(_._1)(math.min)
      live.foreach { case (id, t) => corpusFirst.get(t).foreach(reject(id, "exact_corpus", _)) }
      val exactCorpus = live.collect { case (id, t) if corpusFirst.contains(t) => id }.toSet
      val sh = shingleSets(live.filterNot(r => exactCorpus(r._1)))
      val indexed = shingleSets(corpus)
      val nearCorpus = sh.flatMap { case (a, sa) =>
        val ws = indexed.collect { case (c, sc) if jaccard(sa, sc).exists(_ >= Threshold) => c }
        ws.minOption.map(a -> _)
      }
      nearCorpus.foreach { case (a, w) => reject(a, "near_dup_corpus", w) }
      val rest = sh.filter { case (a, _) => !nearCorpus.contains(a) }
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = if (parent(x) == x) x else find(parent(x))
      for ((a, sa) <- rest; (c, sc) <- rest if a < c && jaccard(sa, sc).exists(_ >= Threshold)) {
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(c, c)
        val (ra, rc) = (find(a), find(c))
        if (ra < rc) parent(rc) = ra else if (rc < ra) parent(ra) = rc
      }
      val nearBatch = parent.keys.map(x => x -> find(x)).filter { case (x, r) => x != r }
      nearBatch.foreach { case (x, r) => reject(x, "near_dup_batch", r) }
      val out = exactCorpus ++ nearCorpus.keySet ++ nearBatch.map(_._1)
      corpus ++= live.filterNot(r => out(r._1))
    }
    Outcome(corpus.map(_._1).sorted, rejected.toSeq.sortBy(_.toString))
  }

  /** Up to three batches of 2–8 recipes each (sometimes none). Ids come
    * from a shuffled pool, so any member of a copy group or chain may be
    * the minimum. */
  def generate(r: scala.util.Random, near: Boolean): Seq[Seq[Doc]] = {
    val ids = r.shuffle((1L to 400L).toVector).iterator
    var word = 0
    def fresh(): String = (1 to 20).map { _ => word += 1; s"t$word" }.mkString(" ")
    def edit(t: String, pos: Int): String = {
      word += 1
      t.split(" ").updated(pos, s"e$word").mkString(" ")
    }
    def editable(ts: Iterable[String]) = ts.filter(_.split(" ").length == 20).toIndexedSeq
    val earlier = ArrayBuffer.empty[Doc]
    (0 until 1 + r.nextInt(3)).map { _ =>
      val batch = ArrayBuffer.empty[Doc]
      def texts = batch.flatMap(_.text).toIndexedSeq
      def pick[A](xs: collection.IndexedSeq[A]): Option[A] =
        if (xs.isEmpty) None else Some(xs(r.nextInt(xs.size)))
      def add(t: Option[String]): Unit = batch += Doc(Some(ids.next()), t)
      val recipes = if (r.nextInt(7) == 0) 0 else 2 + r.nextInt(7)
      (0 until recipes).foreach { _ =>
        r.nextInt(if (near) 13 else 9) match {
          case 0 | 1 => add(Some(fresh()))
          case 2 => pick(texts).foreach(t => add(Some(t)))
          case 3 => pick(earlier.flatMap(_.text)).foreach(t => add(Some(t)))
          case 4 => batch += Doc(None, Some(pick(texts).getOrElse(fresh())))
          case 5 => add(None)
          case 6 => add(Some(Seq("", "s1", "s1 s2")(r.nextInt(3))))
          case 7 => // the same document delivered twice
            val t = fresh()
            val id = ids.next()
            batch ++= Seq(Doc(Some(id), Some(t)), Doc(Some(id), Some(t)))
          case 8 => add(Some(fresh())); add(Some(fresh()))
          case 9 => pick(editable(texts)).foreach(t => add(Some(edit(t, 2))))
          case 10 => // a near edit of a corpus document, and a copy of that edit
            pick(editable(earlier.flatMap(_.text)))
              .foreach { t => val e = edit(t, 10); add(Some(e)); add(Some(e)) }
          case 11 => // a chain: each link one edit away from the last
            Seq(2, 6, 10).scanLeft(fresh())(edit).foreach(t => add(Some(t)))
          case _ => // a corpus near-dup, and a document near it but not the corpus
            pick(editable(earlier.flatMap(_.text))).foreach { t =>
              val e = edit(t, 10)
              add(Some(e)); add(Some(edit(edit(e, 2), 6)))
            }
        }
      }
      earlier ++= batch
      r.shuffle(batch.toSeq)
    }
  }

  private def words(d: Doc): Int = d.text.fold(-1)(t => if (t.isEmpty) 1 else t.split(" ").length)

  val Coverage: Map[String, (Seq[Seq[Doc]], Outcome) => Boolean] = Map(
    "an empty batch" -> ((bs, _) => bs.exists(_.isEmpty)),
    "a null doc_id" -> ((bs, _) => bs.flatten.exists(_.id.isEmpty)),
    "a null text" -> ((bs, _) => bs.flatten.exists(d => d.id.nonEmpty && d.text.isEmpty)),
    "a text under 3 words" -> ((bs, _) => bs.flatten.exists(d => words(d) >= 1 && words(d) < 3)),
    "a duplicate id" -> ((bs, _) => bs.exists(b => b.flatMap(_.id).distinct.size <
      b.count(_.id.nonEmpty))),
    "a copy of a document rejected in an earlier batch" -> { (bs, o) =>
      val rejectedText = (for {
        rj <- o.rejected if rj.id.nonEmpty; d <- bs(rj.batch.toInt) if d.id == rj.id
      } yield rj.batch -> d.text).toSet
      bs.zipWithIndex.exists { case (b, i) =>
        b.exists(d => rejectedText.exists { case (j, t) => j < i && t == d.text }) }
    },
    "an exact copy of a corpus near-duplicate" -> { (_, o) =>
      o.rejected.exists(c => c.reason == "exact_batch" && o.rejected.exists(n =>
        n.reason == "near_dup_corpus" && n.id == c.witness && n.batch == c.batch))
    },
    "a batch near-dup of a corpus near-duplicate" -> { (bs, o) =>
      val text = bs.flatten.collect { case Doc(Some(id), Some(t)) => id -> t }.toMap
      val nearCorpus = o.rejected.filter(_.reason == "near_dup_corpus")
      nearCorpus.exists(n => bs(n.batch.toInt).exists { case Doc(id, t) =>
        id.exists(i => n.id.exists(i < _) && !nearCorpus.exists(_.id.contains(i))) &&
          t.exists(u => jaccard(shingles(u), shingles(text(n.id.get))).exists(_ >= Threshold)) })
    },
    "a near-duplicate chain whose witness is no neighbour" -> { (bs, o) =>
      val text = bs.flatten.collect { case Doc(Some(id), Some(t)) => id -> t }.toMap
      o.rejected.exists(n => n.reason == "near_dup_batch" &&
        jaccard(shingles(text(n.id.get)), shingles(text(n.witness.get))).forall(_ < Threshold))
    })

  val NearCases: Set[String] = Set("an exact copy of a corpus near-duplicate",
    "a near-duplicate chain whose witness is no neighbour",
    "a batch near-dup of a corpus near-duplicate")
}
