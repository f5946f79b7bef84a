package graft

import graft.operators._
import graft.streaming.CommandDispatch
import graft.streaming.CommandDispatch.EngineState
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Robustness: every operator must handle EMPTY inputs without crashing —
  * empty partitions are routine at scale (filtered-out splits, empty
  * micro-batches). */
class EmptyInputSpec extends SparkSpec {

  private def emptyDocs: DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("dedup operators on an empty corpus") {
    assert(Dedup.ngramNearDups(emptyDocs, 0.5).count() === 0)
    assert(Dedup.ngramNearDupsPrefix(emptyDocs, 0.5).count() === 0)
    assert(Dedup.minhashNearDups(emptyDocs, 0.5).count() === 0)
    assert(Dedup.simhashNearDups(emptyDocs, 2).count() === 0)
    assert(Dedup.exact(emptyDocs, "text", "doc_id").count() === 0)
    assert(Dedup.ngramNearDupsAuto(emptyDocs, 0.5).count() === 0)
    assert(Dedup.nearDupClusters(
      emptyDocs.select(col("doc_id").as("doc_a"), col("doc_id").as("doc_b"))).count() === 0)
    assert(Dedup.crossNearDups(emptyDocs, emptyDocs, 0.5).count() === 0)
  }

  test("maxsim on an empty token corpus") {
    import spark.implicits._
    val emptyTok = Seq.empty[(Long, Int, Array[Float])]
      .toDF("doc_id", "tok_id", "embedding")
    assert(Similarity.maxSimTopK(emptyTok, emptyTok, 10).count() === 0)
    assert(Similarity.maxSimTopKRouted(emptyTok, emptyTok, 10).count() === 0)
  }

  test("curation operators on an empty corpus") {
    assert(Curation.hashSample(emptyDocs, "text", 8).count() === 0)
    assert(Curation.packSequences(emptyDocs, "lang").count() === 0)
    assert(Curation.chunkTokens(emptyDocs).count() === 0)
    assert(Curation.mixtureSample(emptyDocs, "source").count() === 0)
  }

  test("search/relevance operators on an empty corpus") {
    assert(TextSearch.tfIdf(emptyDocs, 0L).count() === 0)
    assert(TextSearch.bm25(emptyDocs, TextSearch.Bm25Query, 0L, 1.0).count() === 0)
    assert(TextSearch.contamination(emptyDocs, emptyDocs, 3L).count() === 0)
    assert(TextAnalysis.repetition(emptyDocs).count() === 0)
  }

  test("snippet pipeline on an empty corpus") {
    assert(SnippetGen.docSnippets(emptyDocs).count() === 0)
  }

  test("round-4 operators on an empty corpus") {
    import spark.implicits._
    assert(TextSearch.bpeTrainLocal(emptyDocs, 4).count() === 0)
    assert(TextAnalysis.nbClassify(emptyDocs, "lang").count() === 0)
    assert(Curation.mixPlan(emptyDocs, 1000.0, 2.0, 2.0).count() === 0)
    assert(TextSearch.bloomContamination(emptyDocs, emptyDocs, 1L).count() === 0)
    assert(Curation.exportManifest(emptyDocs, 8).count() === 0)
    assert(TextAnalysis.calibrationSweep(emptyDocs, col("lang") === "en",
      size(split(trim(col("text")), "\\s+")), size(split(trim(col("text")), "\\s+")),
      20).count() === 0)
    val emptyEmb = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.semDedup(emptyEmb, 16, 0.35).count() === 0)
    assert(Similarity.semDedupHier(emptyEmb, 16, 0.35).count() === 0)
    assert(Advanced.approxPercentileCheck(
      Seq.empty[Double].toDF("x")).count() === 0)
    assert(Curation.kAnonymityAudit(emptyDocs, Seq("lang", "source"), 10L).count() === 0)
    assert(Curation.kAnonymize(emptyDocs, Seq("lang", "source"), 10L).count() === 0)
    assert(TextSearch.heavyHitters(emptyDocs, 20).count() === 0)
    assert(Graph.pageRank(
      Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w"), 5, 0.85).count() === 0)
    assert(Similarity.embedOutliers(emptyEmb, 2.0).count() === 0)
    assert(Similarity.kCenterSelect(emptyEmb, 8).count() === 0)
    assert(Curation.weightedSample(emptyDocs, 10).count() === 0)
  }

  test("round-5 operators on empty/degenerate inputs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val emptyEmb = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    // bpe encode with ANY merge table on an empty corpus: no rows
    assert(TextSearch.bpeEncode(emptyDocs, Seq(("a", "b"))).count() === 0)
    // and with an EMPTY merge table on real rows: pure char counting
    val one = Seq((1L, "ab cd")).toDF("doc_id", "text")
    assert(TextSearch.bpeEncode(one, Seq.empty).head().getLong(1) === 4L)
    // PDF extraction of non-PDF garbage bytes: empty text, no crash
    assert(graft.sources.BinaryIngest.pdfExtract(
      Array[Byte](1, 2, 3, 37, 80)) === "")
    assert(graft.sources.BinaryIngest.pdfExtract(Array.empty[Byte]) === "")
    // ANN recall panel over an empty corpus: the multiplicative booleans
    // hold TRUE (0 hits >= 0 required) instead of NaN-flipping false
    val r = Similarity.lshTopK(emptyEmb, emptyEmb, 10)
      .agg(org.apache.spark.sql.functions.count(col("q_id"))).head()
    assert(r.getLong(0) === 0L)
  }

  test("round-3 batch-4 operators on an empty corpus") {
    import spark.implicits._
    assert(Dedup.spanDedup(emptyDocs).count() === 0)
    assert(TextSearch.bigramLm(emptyDocs, 0L).count() === 0)
    assert(TextSearch.vocabCoverage(emptyDocs, Seq(0.5, 0.9)).count() === 1) // one all-zero row
    assert(TextSearch.bpeTrain(emptyDocs, 4).count() === 0) // exhausts at step 1
    assert(TextSearch.bpeEncode(emptyDocs, Seq(("a", "b"))).count() === 0)
    assert(TextAnalysis.importanceWeights(emptyDocs, col("source") === "src0").count() === 0)
    assert(Curation.budgetSelect(emptyDocs, 100L).count() === 0)
    assert(Curation.quotaSample(emptyDocs, "lang", 5).count() === 0)
    assert(Curation.negativeSamples(emptyDocs, 4, 0L, 2L).count() === 0)
    assert(Curation.splitSafe(emptyDocs,
      emptyDocs.select(col("doc_id").as("doc_a"), col("doc_id").as("doc_b"))).count() === 0)
    val emptyEv = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(EventAnalytics.funnel(emptyEv, Seq("view", "click", "purchase")).count() === 0)
    assert(EventAnalytics.retention(emptyEv).count() === 0)
    assert(EventAnalytics.anomalies(emptyEv, 3.0).count() === 0)
    assert(EventAnalytics.transitions(emptyEv).count() === 0)
  }

  test("round-6 operators on empty/degenerate inputs") {
    import spark.implicits._
    // web-ingestion pure functions: empty inputs are routine crawl noise
    assert(graft.sources.HtmlIngest.htmlToText("") === "")
    assert(graft.sources.WarcIngest.parseWarcResponses(Array.emptyByteArray).isEmpty)
    assert(graft.operators.UrlOps.urlVerdicts(emptyDocs).count() === 0)
    // logistic: an empty corpus must train to zero weights, not crash
    // on NULL gradient sums / 0-division
    val rawEmpty = TextAnalysis.logitFeatures(emptyDocs)
    assert(rawEmpty.count() === 0)
    val wEmpty = TextAnalysis.logisticTrain(
      TextAnalysis.logitStandardize(rawEmpty))
    assert(wEmpty.forall(_ == 0.0))
    // media decoders on empty payloads
    assert(Multimodal.decodeWav(Array.emptyByteArray).isEmpty)
    assert(Multimodal.decodeGifFrames(Array.emptyByteArray).isEmpty)
  }

  test("round-7 graph operators on empty/degenerate inputs") {
    import spark.implicits._
    val e = Seq((0L, 1L)).toDF("src", "dst")
    // no seeds: nothing visited, no wasted waves
    assert(graft.operators.Graph.bfsFrontier(
      e, Seq.empty[Long].toDF("node"), 5).count() === 0)
    // no edges: the seed set alone at hop 0 (early exit on wave 1)
    assert(graft.operators.Graph.bfsFrontier(
        Seq.empty[(Long, Long)].toDF("src", "dst"), Seq(1L).toDF("node"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 0L)))
  }

  test("similarity on an empty query set") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val noQueries = emb.filter(col("vec_id") < 0)
    assert(Similarity.bruteForceTopK(emb, noQueries, 10).count() === 0)
    assert(Similarity.lshTopK(emb, noQueries, 10).count() === 0)
  }

  test("sessionize on empty events") {
    import spark.implicits._
    val ev = Seq.empty[(Long, java.sql.Timestamp, Long)]
      .toDF("event_id", "ts", "user_id")
    assert(EventAnalytics.sessionize(ev, 30).count() === 0)
  }

  test("watermarked streaming gates on an empty events table return empty, not NPE") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_sf").toString
    Seq.empty[(Long, java.sql.Timestamp, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(graft.streaming.StreamingJobs.qStreamWindow(spark, dir).count() === 0)
    assert(graft.streaming.StreamingJobs.qStreamSession(spark, dir).count() === 0)
    assert(graft.streaming.StreamingJobs.qStreamJoin(spark, dir).count() === 0)
  }

  test("round-7 batch 10/11 operators on an empty corpus") {
    import spark.implicits._
    assert(Curation.dpoPairs(emptyDocs).count() === 0)
    assert(TextAnalysis.rougePairs(emptyDocs).count() === 0)
    val emptyMedia = Seq.empty[(Long, Array[Byte])].toDF("doc_id", "media")
    assert(Multimodal.videoNearDups(emptyMedia).count() === 0)
    assert(graft.sources.HtmlIngest.extractAnchors("") === Seq.empty)
    assert(Multimodal.jpegMeta(Array.emptyByteArray).isEmpty)
    // kappa on an empty corpus: one row, zero counts, kappa pinned 0
    // (pe_num = n*n = 0 takes the degenerate branch)
    val k = TextAnalysis.kappa(emptyDocs.select(
      col("lang").as("t"), col("source").as("p")), "t", "p").head()
    assert(k.getAs[Long]("n") === 0L && k.getAs[Long]("n_agree") === 0L)
    assert(k.getAs[Double]("kappa") === 0.0)
  }

  test("round-8 operators on an empty corpus") {
    import spark.implicits._
    // spectral: zero vectors -> zero component, zero eigenvalue, no NaN
    val emptyEmb = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    val (mean, v, eig) = Spectral.fit(emptyEmb)
    assert(mean.forall(_ === 0L) && v.forall(_ === 0L) && eig === 0L)
    assert(Spectral.topComponent(emptyEmb).count() === Spectral.Dim)
    // degenerate (all-zero) scatter mid-iteration: zero vector, not NaN
    val (vz, ez) = Spectral.powerIteration(Array.fill(Spectral.Dim * Spectral.Dim)(BigInt(0)))
    assert(vz.forall(_ === 0L) && ez === 0L)
    // k-component deflation on the empty corpus: k·Dim zero rows, and
    // the deflation of a zero matrix stays zero (no NaN, no div-by-0)
    val kRows = Spectral.topComponentsK(emptyEmb, Spectral.TopK).collect()
    assert(kRows.length === Spectral.TopK * Spectral.Dim)
    assert(kRows.forall(r => r.getLong(2) === 0L && r.getLong(3) === 0L))
    // doremi: empty domain table -> empty weights; all-null-text source
    // -> loss 0, never a null crash
    assert(Doremi.reweight(Seq.empty).isEmpty)
    val nullDocs = Seq((1L, null: String, "en", "web", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dl = Doremi.domainLoss(nullDocs).collect()
    assert(dl.length === 1 && dl.head.getLong(1) === 0L)
    // KN proxy loss: a no-bigram corpus contributes no domains at all
    // (the q_kn_score population), never a division by zero
    assert(Doremi.domainLossKn(nullDocs).count() === 0L)
    assert(Doremi.domainLossKn(nullDocs.limit(0)).count() === 0L)
    // trained langid: empty corpus -> empty profiles and predictions
    val emptyLabeled = Seq.empty[(Long, Int, String)].toDF("doc_id", "cls", "t")
    assert(TrainedLangId.trainProfiles(emptyLabeled).count() === 0)
    assert(TrainedLangId.classify(emptyLabeled.select(col("doc_id"), col("t")),
      TrainedLangId.trainProfiles(emptyLabeled)).count() === 0)
    // l-diversity: empty frame -> empty audit
    assert(Curation.lDiversityAudit(emptyDocs, Seq("lang"), col("n_chars"), 3L).count() === 0)
  }

  test("round-9 operators on an empty corpus") {
    import spark.implicits._
    // alpha sampling: no domains -> no weight rows, never a 0-div
    assert(Curation.alphaSample(emptyDocs).count() === 0)
    // minhash estimator: no candidates from an empty index
    assert(Dedup.minhashEstimates(emptyDocs.select("doc_id", "text")).count() === 0)
    // tokenizer fertility: empty train corpus -> zero merges -> no rows
    assert(TextSearch.tokFertility(emptyDocs).count() === 0)
    // full ABTT: zero component on an empty corpus -> zero output rows
    val emptyEmb = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(Spectral.abttK(emptyEmb).count() === 0)
    // ANN router: an empty corpus routes exact and answers empty
    val (out, tag) = Similarity.annTopKAutoTagged(emptyEmb, emptyEmb, 10)
    assert(tag === Similarity.AnnExact && out.count() === 0)
    // KN-loss DoReMi on empty: no domains at all (covered above for the
    // null-text case; this is the zero-row case)
    assert(Doremi.domainLossKn(emptyDocs).count() === 0)
  }

  test("version summaries of an empty version list: no rows, the summary schema") {
    import spark.implicits._
    val docs = Seq(1L, 2L).toDF("doc_id")
    for (cur <- Seq(None, Some("v_0"))) {
      val none = Mutations.versionSummaries(Nil, _ => docs, cur)
      assert(none.count() === 0)
      assert(none.schema === Mutations.versionSummaries(Seq("v_0"), _ => docs, cur).schema)
    }
  }

  test("dispatch with an empty command batch is a no-op") {
    import spark.implicits._
    val docs0 = Seq((1L, "doc_a", 1, "Cat1", "alpha", "Active"))
      .toDF("document_id", "document_name", "category_id", "category_name", "text", "document_status")
    val cats0 = Seq((1, "Cat1")).toDF("category_id", "category_name")
    val snippets0 = docs0.select(col("document_id"), col("document_name"),
      col("category_id"), lit(1).as("snippet_id"), col("text").as("snippet_text"),
      col("document_status"))
    val noCommands = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      CommandDispatch.commandSchema)
    val (next, messages) = CommandDispatch.dispatch(
      EngineState(docs0, snippets0, cats0), noCommands)
    assert(messages.count() === 0)
    assert(next.docs.count() === 1 && next.categories.count() === 1 && next.snippets.count() === 1)
  }
}
