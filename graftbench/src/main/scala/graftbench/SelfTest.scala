package graftbench

/** Shows that each workload's check accepts the model's own answer and
  * rejects wrong ones. Runs without Spark: the checks compare plain rows.
  * Exits non-zero on the first case that is not rejected. */
object SelfTest {
  private var cases = 0

  private def expect(what: String, failures: Seq[String], shouldFail: Boolean): Unit = {
    cases += 1
    if (failures.nonEmpty != shouldFail)
      throw new AssertionError(
        s"$what: expected ${if (shouldFail) "rejection" else "acceptance"}, got $failures")
  }

  def main(args: Array[String]): Unit = {
    val seed = 7L

    // ingest: snippet rows and their digest
    val docs = IngestModel.generate(seed).take(20)
    val rows = IngestModel.snippetLines(docs)
    expect("ingest: model rows", IngestModel.compare(rows, rows.reverse), shouldFail = false)
    expect("ingest: a row missing", IngestModel.compare(rows, rows.tail), shouldFail = true)
    expect("ingest: one snippet text changed",
      IngestModel.compare(rows, rows.updated(5, rows(5).replace("\tActive", "x\tActive"))),
      shouldFail = true)
    expect("ingest: page numbers shifted",
      IngestModel.compare(rows, rows.map(_.replace("#page=1\t", "#page=2\t"))), shouldFail = true)

    // maintain: messages, final state and reads
    val plan = MaintainModel.plan(seed)
    val model = new MaintainModel.Model
    model.apply(plan.batches.head)
    val active0 = model.active.size
    val msgs = model.apply(plan.batches(1))
    require(model.active.size == active0, "the live corpus must keep its size")
    require(model.lastExpired == MaintainModel.PastExpiry, "the sweep expires the planted uploads")
    expect("maintain: model messages",
      Check.lines("m", msgs, msgs.reverse), shouldFail = false)
    val uploaded = msgs.indexWhere(_.endsWith("was uploaded"))
    expect("maintain: an upload reported as a duplicate",
      Check.lines("m", msgs,
        msgs.updated(uploaded, msgs(uploaded).replace("was uploaded", "already exists"))),
      shouldFail = true)
    val docLines = model.docLines
    val active = docLines.indexWhere(_.contains("\tActive\t"))
    expect("maintain: a document left active after the sweep",
      Check.lines("d", docLines,
        docLines.updated(active, docLines(active).replace("\tActive\t", "\tExpired\t"))),
      shouldFail = true)
    expect("maintain: a removed document still present",
      Check.lines("d", docLines.tail, docLines), shouldFail = true)
    val snap = model.active
    val q = MaintainModel.readQuery(seed, 0, 0)
    val exact = MaintainModel.exactTopK(q, snap, seed)
    val good = MaintainModel.ReadResult(0, q, exact, "exact")
    expect("maintain: exact read", MaintainModel.checkRead(good, snap, seed), shouldFail = false)
    val outsider = snap.keys.find(id => !exact.exists(_._1 == id)).get
    expect("maintain: a wrong neighbour on the exact arm",
      MaintainModel.checkRead(good.copy(rows = exact.updated(0, (outsider, exact.head._2))),
        snap, seed), shouldFail = true)
    expect("maintain: a read missing its last neighbour",
      MaintainModel.checkRead(good.copy(rows = exact.init), snap, seed), shouldFail = true)
    val poor = exact.take(2) ++ snap.keys.filterNot(id => exact.exists(_._1 == id))
      .take(exact.size - 2).map(id => (id, 0.0))
    expect("maintain: approximate arm below its recall floor",
      MaintainModel.checkRead(good.copy(rows = poor, arm = "hnsw"), snap, seed),
      shouldFail = true)
    expect("maintain: approximate arm at full recall",
      MaintainModel.checkRead(good.copy(arm = "hnsw"), snap, seed), shouldFail = false)

    // dedup: accepted ids and rejection reasons against the planted truth
    val batches = DedupModel.generate(seed).take(3)
    val truth = batches.flatten.map(_.line)
    val reasons = batches.flatten.map(_.expect).distinct.sorted
    require(reasons == Seq("accepted", "exact_batch", "exact_corpus", "near_dup_batch",
      "near_dup_corpus"), s"every outcome is planted: $reasons")
    expect("dedup: planted truth", Check.lines("g", truth, truth.reverse),
      shouldFail = false)
    val near = truth.indexWhere(_.contains("near_dup_corpus"))
    expect("dedup: a near duplicate accepted",
      Check.lines("g", truth,
        truth.updated(near, truth(near).split("\t")(0) + "\taccepted\tnull")), shouldFail = true)
    val exactB = truth.indexWhere(_.contains("exact_batch"))
    expect("dedup: wrong rejection reason",
      Check.lines("g", truth,
        truth.updated(exactB, truth(exactB).replace("exact_batch", "exact_corpus"))),
      shouldFail = true)
    expect("dedup: wrong witness",
      Check.lines("g", truth,
        truth.updated(exactB, truth(exactB).split("\t").take(2).mkString("\t") + "\t1")),
      shouldFail = true)

    // input hygiene: the same seed gives the same inputs, another seed does not
    require(Digest.of(IngestModel.snippetLines(IngestModel.generate(seed).take(5))) ==
      Digest.of(IngestModel.snippetLines(IngestModel.generate(seed).take(5))))
    require(MaintainModel.plan(seed).batches.take(2) == MaintainModel.plan(seed).batches.take(2))
    require(DedupModel.generate(seed).head != DedupModel.generate(seed + 1).head)
    println(s"selftest ok: $cases cases")
  }
}
