package graft

import graft.operators.{Curation, TextAnalysis, TextSearch}
import org.apache.spark.sql.functions._

/** Semantic properties of the search/curation round-3 operators, checked on
  * planted fixtures (the oracle gate checks value parity; these check the
  * operators MEAN what they claim). */
class TextSearchSpec extends SparkSpec {

  import spark.implicits._

  test("bm25: a document matching more query terms outranks partial matches") {
    val docs = Seq(
      (1L, "spark merge window spark merge window extra words here"),
      (2L, "spark only appears here with other filler tokens now"),
      (3L, "no relevant terms at all in this filler document"),
      (4L, "merge window but not the third term anywhere else")
    ).toDF("doc_id", "text")
    val scored = TextSearch.bm25(docs, TextSearch.Bm25Query, nDocs = 4L, avgdl = 9.5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!scored.contains(3L), "doc without query terms must not score")
    assert(scored(1L) > scored(4L), s"3-term match must beat 2-term: $scored")
    assert(scored(4L) > scored(2L), s"2-term match must beat 1-term: $scored")
  }

  test("tf-idf: corpus-wide terms get zero weight, distinctive terms rank first") {
    val docs = Seq(
      (1L, "common common unique1 unique1 unique1"),
      (2L, "common rare2 filler"),
      (3L, "common other3 filler")
    ).toDF("doc_id", "text")
    val rows = TextSearch.tfIdf(docs, nDocs = 3L).collect()
    val byDocTerm = rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("term")) ->
      r.getAs[Double]("score")).toMap
    // 'common' appears in every doc: idf = ln(3/3) = 0
    assert(byDocTerm((1L, "common")) === 0.0)
    // doc 1's top term is its repeated unique term
    assert(byDocTerm((1L, "unique1")) > byDocTerm((1L, "common")))
  }

  test("contamination: an exact copy of a benchmark doc is flagged, clean docs are not") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // copy
      (2L, "totally different words with no shared trigrams here at all")
    ).toDF("doc_id", "text")
    val flagged = TextSearch.contamination(corpus, bench, minCommon = 3L)
      .select("doc_id").as[Long].collect().toSet
    assert(flagged === Set(1L))
  }

  test("repetition: degenerate text scores higher than diverse text on both signals") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),
      (2L, "each word here appears exactly once in text")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetition(docs)
      .collect().map(x => x.getLong(0) -> (x.getDouble(2), x.getDouble(3))).toMap
    assert(r(1L)._1 > r(2L)._1, s"dup fraction should flag doc 1: $r")
    assert(r(1L)._2 > r(2L)._2, s"top-bigram share should flag doc 1: $r")
    assert(r(2L)._1 === 0.0)
  }

  test("perplexity: common-token text scores low, rare-token text high") {
    val docs = Seq(
      (1L, "the the the the the the the the"),           // all corpus-common
      (2L, "the the the the rare1 rare2 rare3 rare4"),   // half rare
      (3L, "the and of to in is it as the and of to")    // common filler
    ).toDF("doc_id", "text")
    val r = TextAnalysis.perplexity(docs)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(r.keySet === Set(1L, 2L, 3L))
    assert(r(1L)._1 === 8L)
    // doc 1 is pure repetition of the modal token -> strictly lowest
    // perplexity; any admixture of rarer tokens raises it (note "common
    // English words" are NOT common under this 3-doc corpus model — the
    // model is the corpus's own distribution, so doc 3's one-to-two-
    // occurrence filler scores even higher than doc 2)
    assert(r(1L)._2 < r(2L)._2 && r(1L)._2 < r(3L)._2, s"doc 1 lowest: $r")
    assert(r(2L)._2 < r(3L)._2, s"higher singleton share -> higher ppl: $r")
    assert(r.values.forall(_._2 >= 1.0), "perplexity is >= 1 by definition")
  }

  test("pii mask removes emails and phone shapes, keeps ids, ranges, dates") {
    def mask(s: String): String =
      Seq((1L, s)).toDF("id", "contact")
        .select(TextAnalysis.maskPii(col("contact")).as("m")).as[String].head()
    assert(mask("mail jane.doe+x@corp.example.org or call +44-20-7946-0958 re id 000123456")
      === "mail <EMAIL> or call <PHONE> re id 000123456")
    // separator variants all mask
    assert(mask("try (555) 123-4567 first") === "try <PHONE> first")
    assert(mask("try 555 123-4567 second") === "try <PHONE> second")
    assert(mask("try +44 20 7946 0958 next") === "try <PHONE> next")
    assert(mask("try 555.123.4567 too") === "try <PHONE> too")
    // non-phones survive: page ranges, ISO dates, bare digit runs
    assert(mask("see pages 3-12 of 2024-01-01 build 20240101")
      === "see pages 3-12 of 2024-01-01 build 20240101")
    // bare 2-group locals are numeric-range territory, not phones
    assert(mask("see pages 100-1000 for details")
      === "see pages 100-1000 for details")
    // the NANP head cannot start inside a longer digit run
    assert(mask("build 20240101 123-4567 tag")
      === "build 20240101 123-4567 tag")
    // a space must not bridge unrelated numbers: adjacent dates and IPs
    assert(mask("shipped 2024-01-01 2024-03-15 via 192.168.10.100")
      === "shipped 2024-01-01 2024-03-15 via 192.168.10.100")
  }

  test("chunking: consecutive chunks overlap by exactly `overlap` tokens") {
    val docs = Seq((1L, (1 to 150).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val chunks = Curation.chunkTokens(docs, chunkSize = 64, overlap = 16)
      .orderBy("chunk_id").collect()
    assert(chunks.length === 4) // starts at 0, 48, 96, 144 (tail start < 150)
    val words = (1 to 150).map(i => s"t$i")
    chunks.zipWithIndex.foreach { case (r, k) =>
      val text = r.getAs[String]("chunk_text").split(" ")
      assert(text.head === words(k * 48), s"chunk $k starts at token ${k * 48}")
      assert(text.length === math.min(64, 150 - k * 48).toInt)
    }
    // overlap: last 16 tokens of chunk 0 == first 16 of chunk 1
    val c0 = chunks(0).getAs[String]("chunk_text").split(" ")
    val c1 = chunks(1).getAs[String]("chunk_text").split(" ")
    assert(c0.takeRight(16).toSeq === c1.take(16).toSeq)
    // the DataFrame operator realizes exactly the property-tested kernel
    val got = chunks.map(r => (r.getAs[Long]("chunk_id"),
      r.getAs[Long]("chunk_id") * 48, r.getAs[Long]("chunk_tokens"))).toSeq
    assert(got === Curation.chunkBounds(150, 64, 16))
  }

  test("mixture sampling respects per-domain rates and is repartition-invariant") {
    // 4 domains x 10 docs; weights from the source suffix (id%4+1):
    // src1->2, src2->3, src3->4, src4->1; sum_w=10, N=40, n_i=10 so
    // rate_i = min(1, 0.4*w_i): src2/src3 keep everything, src4 keeps ~40%
    val docs = (1 to 40).map(i => (i.toLong, s"document number $i with its own words", s"src${(i - 1) / 10 + 1}"))
      .toDF("doc_id", "text", "source")
    val kept = Curation.mixtureSample(docs, "source")
      .select("doc_id", "source").as[(Long, String)].collect()
    val bySource = kept.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySource.getOrElse("src2", 0) === 10, s"rate 1.2 clamps to keep-all: $bySource")
    assert(bySource.getOrElse("src3", 0) === 10, s"rate 1.6 clamps to keep-all: $bySource")
    assert(bySource.getOrElse("src4", 0) < 10, s"rate 0.4 must down-sample: $bySource")
    val keptShuffled = Curation.mixtureSample(docs.repartition(7), "source")
      .select("doc_id").as[Long].collect().toSet
    assert(kept.map(_._1).toSet === keptShuffled,
      "membership must be a pure function of the row")
  }

  test("naive bayes: class-conditional token evidence beats the prior") {
    val docs = Seq(
      (1L, "cat cat dog", "pets"),
      (2L, "cat cat cat", "pets"),
      (3L, "cat dog cat", "pets"),
      (4L, "stock bond stock", "finance"),
      (5L, "bond bond yield", "finance"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.nbClassify(docs, "lang")
      .select("doc_id", "nb_pred").as[(Long, String)].collect().toMap
    // resubstitution on separable vocab: every doc classified correctly
    // despite the 3:2 prior favouring pets
    assert(out === Map(1L -> "pets", 2L -> "pets", 3L -> "pets",
      4L -> "finance", 5L -> "finance"))
    // membership is a pure function of the data, not the partitioning
    val shuffled = TextAnalysis.nbClassify(docs.repartition(7), "lang")
      .select("doc_id", "nb_pred").as[(Long, String)].collect().toMap
    assert(shuffled === out)
  }

  test("logistic trainer: learns the distilled rule above baseline, partition-invariant") {
    val docs = graft.engine.Tables.documents(spark, sf0001)
    val raw = TextAnalysis.logitFeatures(docs).localCheckpoint()
    val feat = TextAnalysis.logitStandardize(raw).localCheckpoint()
    val w = TextAnalysis.logisticTrain(feat)
    assert(w.exists(_ != 0.0), "training must move the weights")
    val out = SparkEntry.queries("q_logistic")(spark, sf0001)
      .select("y", "pred", "hit").collect()
    val n = out.length.toDouble
    val acc = out.count(_.getBoolean(2)) / n
    val basePos = out.count(_.getInt(0) == 1) / n
    val baseline = math.max(basePos, 1 - basePos)
    info(f"logistic acc=$acc%.3f vs constant-prediction baseline $baseline%.3f")
    // the model must BEAT constant prediction (it predicts both classes)
    assert(acc > baseline + 0.05, f"no learning: $acc%.3f <= $baseline%.3f")
    assert(out.exists(_.getBoolean(1)) && out.exists(!_.getBoolean(1)),
      "degenerate constant prediction")
    // weights are a pure function of the data, not the partitioning
    val w2 = TextAnalysis.logisticTrain(
      TextAnalysis.logitStandardize(raw.repartition(7)).localCheckpoint())
    assert(w.toSeq === w2.toSeq)
    // the driver fast path (row budget) is bit-identical to the
    // forced-distributed aggregate loop
    val wDist = TextAnalysis.logisticTrainN(feat, TextAnalysis.LogitBuckets,
      TextAnalysis.LogitIters, TextAnalysis.LogitLr, driverRowBudget = 0L)
    assert(w.toSeq === wDist.toSeq)
  }

  test("compression signal: repetitive text compresses far better than varied text") {
    import graft.operators.TextAnalysis.deflateLen
    val rep = ("spam " * 200).getBytes("UTF-8")
    val varied = (0 until 200).map(i => s"w${i * 7919}").mkString(" ").getBytes("UTF-8")
    val repRatio = deflateLen(rep).toDouble / rep.length
    val varRatio = deflateLen(varied).toDouble / varied.length
    info(f"deflate ratio: repetitive $repRatio%.3f vs varied $varRatio%.3f")
    assert(repRatio < varRatio / 3, "repetition must collapse under deflate")
    // the declared booleans hold on adversarial inputs too
    val out = graft.operators.TextAnalysis.compressionSignals(
      Seq((1L, "spam " * 200), (2L, (0 until 200).map(i => s"w${i * 7919}").mkString(" ")),
        (3L, ""), (4L, null: String), (5L, "short"))
        .toDF("doc_id", "text")).collect()
    out.foreach { r =>
      assert(r.getBoolean(2), s"doc ${r.getLong(0)} compress_ok")
      assert(r.getBoolean(3), s"doc ${r.getLong(0)} rep_detected")
    }
    // review findings: booleans must hold OUTSIDE the assertion windows
    // too — a varied doc past the 8 KB quad window (each copy lands
    // beyond the 32 KB LZ77 distance) and a large incompressible doc
    // whose stored-block overhead exceeds a flat 64 bytes
    val big = (0 until 3000).map(i => s"tok${i * 104729}").mkString(" ") // ~25 KB varied
    val incompressible = {
      val r = new scala.util.Random(42)
      val sb = new StringBuilder
      while (sb.length < 900000) sb.append(r.nextPrintableChar())
      sb.toString
    }
    val out2 = graft.operators.TextAnalysis.compressionSignals(
      Seq((10L, big), (11L, incompressible)).toDF("doc_id", "text")).collect()
    out2.foreach { r =>
      assert(r.getBoolean(2), s"doc ${r.getLong(0)} compress_ok (expansion bound)")
      assert(r.getBoolean(3), s"doc ${r.getLong(0)} rep_detected (window guard)")
    }
  }

  test("unigram tokenizer: Viterbi picks the max-probability segmentation") {
    val p = Map("ab" -> 0.4, "a" -> 0.1, "b" -> 0.1, "c" -> 0.4)
    // 'abc': ab|c (0.4*0.4=0.16) beats a|b|c (0.1*0.1*0.4=0.004)
    val (pieces, score, _) = TextSearch.uniViterbi("abc", p)
    assert(pieces === Seq("ab", "c"))
    assert(score === 0.4 * 0.4)
  }

  test("unigram tokenizer: exact-tie products break on the larger boundary mask") {
    // 'aaaa' under {aa, a}: a|aa|a, aa|a|a, a|a|aa all share the multiset
    // {aa, a, a} -> EXACTLY equal products; largest mask = boundaries at
    // the latest positions = a|a|aa (bits 1+2 = 6 beats 1+3=10? masks:
    // a|aa|a = 2^1+2^3 = 10, aa|a|a = 2^2+2^3 = 12, a|a|aa = 2^1+2^2 = 6)
    val p = Map("aa" -> 0.3, "a" -> 0.2)
    val (pieces, score, mask) = TextSearch.uniViterbi("aaaa", p)
    assert(score === 0.3 * 0.3 || score === 0.2 * 0.3 * 0.2) // whichever maximizes
    // 0.3*0.3 (aa|aa, mask 4) = 0.09 > 0.2*0.2*0.3 = 0.012: aa|aa wins outright
    assert(pieces === Seq("aa", "aa") && mask === 4L)
    // force the tie case: only 3 a's -> {aa,a} in some order, equal products
    val (p3, s3, m3) = TextSearch.uniViterbi("aaa", p)
    assert(s3 === 0.3 * 0.2)
    assert(m3 === 4L && p3 === Seq("aa", "a"), s"got $p3 mask $m3") // 2^2 beats 2^1
  }

  test("unigram tokenizer: uncovered and oversized words fall back opaque") {
    val p = Map("a" -> 1.0)
    assert(TextSearch.uniViterbi("ax", p)._2 === 0.0)
    val long = "a" * 70
    val (pieces, score, _) = TextSearch.uniViterbi(long, p)
    assert(pieces === Seq(long) && score === 0.0)
    // review finding: words past UniMaxWordLen are EXCLUDED up front on
    // both engine and oracle sides (the oracle enumerates ~1.9^n paths
    // and shifts a 63-bit mask — a long word must never reach it)
    import spark.implicits._
    val docs = Seq((1L, "short words here"), (2L, "b" * 40))
      .toDF("doc_id", "text")
    val words = TextSearch.uniWordFreq(docs).collect().map(_.getString(0))
    assert(!words.exists(_.length > TextSearch.UniMaxWordLen))
    assert(words.contains("short"))
  }

  test("unigram tokenizer: every corpus word segments with positive score") {
    val out = TextSearch.qUnigramLm(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getDouble(4) > 0.0, s"word ${r.getString(0)} unsegmented")
      assert(r.getString(2).split("\\|").mkString === r.getString(0),
        s"pieces must reassemble the word: ${r.getString(2)}")
    }
    // multi-char pieces actually learned (not a char-spray degenerate)
    assert(out.exists(r => r.getLong(3) < r.getString(0).length.toLong))
  }

  test("mix plan: water-filling respects caps and spends the budget exactly") {
    val docs = Seq(
      (1L, Seq.fill(10)("w").mkString(" "), "small"),
      (2L, Seq.fill(100)("w").mkString(" "), "big1"),
      (3L, Seq.fill(100)("w").mkString(" "), "big2"))
      .toDF("doc_id", "text", "source")
    // caps at 2 epochs: 20 / 200 / 200; budget 120 -> small fully capped
    // (20), the rest split the remainder equally (50 each)
    val out = Curation.mixPlan(docs, budget = 120.0, epochCap = 2.0, temp = 2.0)
      .select("source", "unimax_alloc").as[(String, Double)].collect().toMap
    assert(out("small") === 20.0)
    assert(out("big1") === 50.0 && out("big2") === 50.0)
    assert(out.values.sum === 120.0)
    // budget above the total caps: every source saturates its cap
    val rich = Curation.mixPlan(docs, budget = 10000.0, epochCap = 2.0, temp = 2.0)
      .select("source", "unimax_alloc").as[(String, Double)].collect().toMap
    assert(rich === Map("small" -> 20.0, "big1" -> 200.0, "big2" -> 200.0))
    // budget under the smallest cap: a pure uniform split, nobody capped
    val tight = Curation.mixPlan(docs, budget = 30.0, epochCap = 2.0, temp = 2.0)
      .select("source", "unimax_alloc").as[(String, Double)].collect().toMap
    assert(tight.values.toSeq.sorted === Seq(10.0, 10.0, 10.0))
  }

  test("bpe trainer: learned merges, tie order, overlap rule, exhaustion") {
    // vocab: abab x3, cd x3 -> step 1 merges (a,b) [n=6]; the leftmost
    // non-overlapping rule leaves ' ab a b ' (the second 'a b' shares the
    // boundary space), so step 2 merges (a,b) again [n=3, tie with (ab,a)
    // and (c,d) broken lexicographically], step 3 (ab,ab), step 4 (c,d) --
    // then no pairs remain and the trainer stops short of 8
    val docs = Seq((1L, "abab abab cd"), (2L, "abab cd cd")).toDF("doc_id", "text")
    val merges = TokenDeclarative.bpeTrain(docs, 8)
      .select("step", "l_tok", "r_tok", "n")
      .as[(Long, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(merges === Seq(
      (1L, "a", "b", 6L),
      (2L, "a", "b", 3L),
      (3L, "ab", "ab", 3L),
      (4L, "c", "d", 3L)))
    // encoding with those merges collapses every word to one token:
    // 'abab' -> ab a b -> ab ab -> abab; 'cd' -> cd
    val counts = TextSearch.bpeEncode(docs, merges.map(m => (m._2, m._3)))
      .select("doc_id", "n_bpe_tokens").as[(Long, Long)].collect().toMap
    assert(counts === Map(1L -> 3L, 2L -> 3L))
  }

  test("bpe single-pass encoder == fold baseline at 200 merges; plan stays bounded") {
    // the production UDF encoder must replicate the replace-fold semantics
    // at a REAL vocab depth (the fold is a 200-deep expression tree here;
    // at 50k merges it would not analyze) — VERDICT r4 item #5
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
    val merges = TextSearch.bpeTrainLocal(corpus, 200)
      .orderBy("step").select("l_tok", "r_tok")
      .as[(String, String)].collect().toSeq
    // sf0.001's vocab exhausts its pair supply before 200 — anything
    // clearly past the gated 8 proves the depth claim
    assert(merges.length >= 80, s"trainer exhausted at ${merges.length}")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_bpe_tokens").as[(Long, Long)].collect().toMap
    assert(rows(TextSearch.bpeEncode(corpus, merges)) ===
      rows(TokenDeclarative.bpeEncodeFold(corpus, merges)))
    // the single-pass plan is constant-size in the vocabulary: growing the
    // merge table 100x must not grow the analyzed plan (the fold's grows
    // linearly — one replace node per merge)
    def planChars(ms: Seq[(String, String)]) =
      TextSearch.bpeEncode(corpus, ms).queryExecution.analyzed.toString.length
    assert(planChars(merges) == planChars(merges.take(2)),
      "single-pass encode plan must not grow with the merge table")
    // ... and at a REAL 10k-merge vocabulary: the fold baseline would be
    // a 10k-deep replace tree that cannot analyze; the production plan is
    // byte-identical to the 2-merge plan and still executes
    val big = (1 to 10000).map(i => (s"x$i", s"y$i"))
    assert(planChars(big) == planChars(merges.take(2)),
      "plan must stay constant at 10k merges")
    assert(TextSearch.bpeEncode(corpus.limit(5), big).count() === 5L)
    // edge semantics match the seg-string path: empty text counts 1 token
    // (trim->""->split yields [""]), null text stays null
    val edge = Seq((1L, ""), (2L, "   "), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val u = TextSearch.bpeEncode(edge, merges.take(5))
      .select("doc_id", "n_bpe_tokens").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val f = TokenDeclarative.bpeEncodeFold(edge, merges.take(5))
      .select("doc_id", "n_bpe_tokens").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(u === f)
  }

  test("bpe local trainer matches the distributed trainer exactly") {
    // the tricky trace: repeated-pair overlap rule + 3-way tie-break
    val docs = Seq((1L, "abab abab cd"), (2L, "abab cd cd")).toDF("doc_id", "text")
    val local = TextSearch.bpeTrainLocal(docs, 8)
      .select("step", "l_tok", "r_tok", "n")
      .as[(Long, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(local === Seq(
      (1L, "a", "b", 6L),
      (2L, "a", "b", 3L),
      (3L, "ab", "ab", 3L),
      (4L, "c", "d", 3L)))
    // and on a real corpus: merge-for-merge identical to the
    // distributed trainer (same counts, same tie order)
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
    def trace(df: org.apache.spark.sql.DataFrame) = df
      .select("step", "l_tok", "r_tok", "n")
      .as[(Long, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(trace(TextSearch.bpeTrainLocal(corpus, 8)) ===
      trace(TokenDeclarative.bpeTrain(corpus, 8)))
    // a binding vocab cap keeps only the most frequent words: with
    // maxVocab=1 the trainer sees a single word and still terminates
    val capped = TextSearch.bpeTrainLocal(docs, 8, maxVocab = 1)
      .select("l_tok").as[String].collect()
    assert(capped.nonEmpty)
  }

  test("bigram LM: counts, smoothing, and context-total consistency") {
    // corpus: "a b" x3, "a c" x1, "b a" x1 -> V = 3
    val docs = Seq(
      (1L, "a b a b"),   // bigrams: (a,b) (b,a) (a,b)
      (2L, "a b a c"))   // bigrams: (a,b) (b,a) (a,c)
      .toDF("doc_id", "text")
    val lm = TextSearch.bigramLm(docs, vocabSize = 3L)
      .select("w1", "w2", "n", "p").as[(String, String, Long, Double)]
      .collect().map(r => ((r._1, r._2), (r._3, r._4))).toMap
    assert(lm(("a", "b"))._1 === 3L)
    assert(lm(("b", "a"))._1 === 2L)
    assert(lm(("a", "c"))._1 === 1L)
    // c(a·) = 4: P(b|a) = 3.5 / (4 + 1.5), P(c|a) = 1.5 / 5.5
    assert(lm(("a", "b"))._2 === math.rint(3.5 / 5.5 * 1e6) / 1e6)
    assert(lm(("a", "c"))._2 === math.rint(1.5 / 5.5 * 1e6) / 1e6)
    // smoothed probabilities over the OBSERVED vocab stay under 1
    assert(lm.values.forall { case (_, p) => p > 0 && p < 1 })
  }

  test("importance weights shift toward the target slice's vocabulary") {
    // target slice (is_t) talks about zebras, the rest about yaks; shared
    // filler tokens should contribute ~0 either way
    val docs = Seq(
      (1L, "zebra zebra stripes run fast", "tgt"),
      (2L, "zebra stripes graze plains here", "tgt"),
      (3L, "yak yak wool mountain cold", "raw"),
      (4L, "yak wool herd snow slope", "raw"),
      (5L, "zebra stripes zebra stripes zebra", "raw"),  // target-like text in raw
      (6L, "yak wool yak wool yak", "raw"))              // raw-like text
      .toDF("doc_id", "text", "source")
    val w = TextAnalysis.importanceWeights(docs, col("source") === "tgt")
      .select("doc_id", "log_weight").as[(Long, Double)].collect().toMap
    // the doc written in the target's vocabulary outweighs the raw-only doc
    assert(w(5L) > w(6L), s"target-like ${w(5L)} must beat raw-like ${w(6L)}")
    // and actual target docs score above the raw-vocabulary docs
    assert(w(1L) > w(3L) && w(2L) > w(4L), w.toString)
  }

  test("leakage-safe split: a near-dup cluster can never straddle splits") {
    val docs = (1 to 40).map(i => (i.toLong, s"document body number $i unique words " + ("x " * i)))
      .toDF("doc_id", "text")
    val naive = Curation.assignSplit(docs, "text")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // plant the pair across two docs the NAIVE split separates — the
    // exact leak this operator closes (test/val eval docs near-duplicated
    // in train); guaranteed to exist with 40 docs and a 10% test slice
    val a = naive.collectFirst { case (id, s) if s != "train" => id }.get
    val b = naive.collectFirst { case (id, s) if s == "train" && id != a => id }.get
    val pairs = Seq((a, b), (10L, 11L)).toDF("doc_a", "doc_b")
    val split = Curation.splitSafe(docs, pairs)
      .select("doc_id", "cluster_id", "split").as[(Long, Long, String)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(split.size === 40)
    // every member inherits the representative's split...
    assert(split(a)._2 === split(b)._2)
    assert(split(10L) === split(11L))
    assert(split(a)._1 === math.min(a, b) && split(10L)._1 === 10L)
    // ...which means one of them flipped relative to its naive assignment
    assert(Seq(a, b).exists(id => naive(id) !== split(id)._2))
    // singletons keep their per-doc assignment
    val planted = Set(a, b, 10L, 11L)
    docs.select("doc_id").as[Long].collect().filterNot(planted).foreach { id =>
      assert(split(id)._2 === naive(id), s"singleton $id must not move")
      assert(split(id)._1 === id)
    }
  }

  test("negative sampling: in-range, never self, invariant to partitioning") {
    val docs = (0L to 99L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val neg = Curation.negativeSamples(docs, 4, 0L, 100L)
      .select("doc_id", "j", "neg_id").as[(Long, Long, Long)].collect()
    assert(neg.length === 400)
    neg.foreach { case (id, _, n) =>
      assert(n >= 0L && n < 100L, s"out of range: $n")
      assert(n !== id, s"self-pair for $id")
    }
    val reparts = Curation.negativeSamples(docs.repartition(13), 4, 0L, 100L)
      .select("doc_id", "j", "neg_id").as[(Long, Long, Long)].collect()
    assert(neg.toSet === reparts.toSet, "negatives must be a pure function of the row")
    // sanity: negatives spread across the id space, no hot partner
    val hottest = neg.groupBy(_._3).values.map(_.size).max
    assert(hottest <= 15, s"hot negative partner: $hottest")
  }

  test("budget select keeps quality order and the straddling document") {
    // equal-quality docs (same shape) so ranking falls to doc_id; 10
    // tokens each, budget 25 -> docs 1..3 kept (doc 3 straddles: 20 < 25),
    // doc 4 dropped (30 >= 25)
    val docs = (1 to 6).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog again"))
      .toDF("doc_id", "text")
    val kept = Curation.budgetSelect(docs, budgetTokens = 25L)
      .select("doc_id", "tokens_before").as[(Long, Long)].collect().sorted
    assert(kept.toSeq === Seq((1L, 0L), (2L, 10L), (3L, 20L)))
  }

  test("bloom decontamination returns exactly the plain exact join (prefilter transparency)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val inBench = col("source") === "src0" && col("doc_id") < 25
    val bloom = TextSearch.bloomContamination(
      docs.filter(!inBench), docs.filter(inBench), 1L)
      .collect().map(_.toSeq).toSet
    val exact = TextSearch.contamination(
      docs.filter(!inBench), docs.filter(inBench), 1L)
      .collect().map(_.toSeq).toSet
    assert(bloom === exact, "bloom prefilter changed the result set")
    assert(bloom.nonEmpty, "fixture should produce contaminated docs")
  }

  test("calibration sweep: counts cover the corpus, recall is monotone from 1.0") {
    val sweep = TextAnalysis.qCalibration(spark, sf0001).collect()
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    assert(sweep.map(_.getAs[Long]("n")).sum === docs.count())
    assert(sweep.map(_.getAs[Long]("n_pos")).sum ===
      docs.filter(col("lang") === "en").count())
    // rows are threshold-ascending; cumulative-from-the-top recall can
    // only fall as the threshold rises, starting at 1.0 (everything
    // above the lowest bucket = the whole corpus)
    val recalls = sweep.map(_.getAs[Double]("recall"))
    assert(recalls.head === 1.0)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a >= b },
      recalls.mkString(","))
    sweep.foreach { r =>
      val p = r.getAs[Double]("precision")
      assert(p >= 0.0 && p <= 1.0)
    }
  }

  test("k-anonymize: under-k groups are suppressed, safe rows untouched") {
    val rows = Seq(
      (1L, "US", "A", 10.0), (2L, "US", "A", 11.0), (3L, "US", "A", 12.0),
      (4L, "DE", "B", 20.0), // singleton group -> re-identifiable
      (5L, "FR", "A", 30.0), (6L, "FR", "A", 31.0),
      (7L, null, "B", 40.0) // singleton with a NULL quasi value: the
      // suppression join must be null-safe or this row ships intact
    ).toDF("id", "nation", "segment", "balance")
    val audit = Curation.kAnonymityAudit(rows, Seq("nation", "segment"), 2L)
      .collect().map(r => (Option(r.getString(0)), r.getString(1)) -> r.getBoolean(3)).toMap
    assert(audit((Some("DE"), "B")) && audit((None, "B")))
    assert(!audit((Some("US"), "A")) && !audit((Some("FR"), "A")))
    val anon = Curation.kAnonymize(rows, Seq("nation", "segment"), 2L)
      .collect().map(r => r.getLong(0) ->
        (Option(r.getString(1)), Option(r.getString(2)), r.getDouble(3))).toMap
    assert(anon.size === rows.count())
    assert(anon(4L) === ((None, None, 20.0)), "risky row's quasi cols must be nulled")
    assert(anon(7L) === ((None, None, 40.0)), "null-quasi risky row must be suppressed too")
    assert(anon(1L) === ((Some("US"), Some("A"), 10.0)), "safe rows stay verbatim")
  }

  test("export shards: written layout matches the manifest") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val dir = tempDir("graft_export_spec") + "/export"
    val manifest = Curation.exportShards(docs, dir, 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(manifest.keySet === (0L to 7L).toSet)
    val back = spark.read.parquet(dir)
    assert(back.count() === docs.count())
    val perShard = back.groupBy("shard").count().collect()
      .map(r => r.getAs[Number](0).longValue() -> r.getLong(1)).toMap
    assert(perShard === manifest, "per-shard doc counts diverge from the manifest")
  }

  test("phraseSearch: adjacency, overlap, repeated terms, absent phrase") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma alpha beta"), // two occurrences of "alpha beta"
      (2L, "beta alpha"),                  // reversed -> no match
      (3L, "go go go"),                    // overlapping "go go" -> 2 matches
      (4L, null.asInstanceOf[String])      // null text must not blow up
    ).toDF("doc_id", "text")
    val ab = TextSearch.phraseSearch(docs, Seq("alpha", "beta"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(ab === Map(1L -> ((2L, 0L))))
    val gg = TextSearch.phraseSearch(docs, Seq("go", "go"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(gg === Map(3L -> ((2L, 0L))), "overlapping occurrences both count")
    assert(TextSearch.phraseSearch(docs, Seq("gamma", "delta")).count() === 0)
  }

  test("tok fertility: ratios match an independent recomputation; fertility >= 1 token/word") {
    val docs = graft.engine.Tables.documents(spark, sf0001)
    val out = TextSearch.qTokFertility(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(3) >= 1000000L, "a word is at least one BPE token")
      assert(r.getLong(4) >= 1000000L, "a token is at least one char")
    }
    // independent recomputation of one lang's ratios from bpeEncode's
    // own per-doc counts (different aggregation path, same integers)
    val merges = TextSearch.bpeTrainLocal(docs, TextSearch.BpeMerges)
      .orderBy("step").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val enc = TextSearch.bpeEncode(docs, merges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = docs.select("doc_id", "lang", "text").collect()
    val lang0 = out.head.getString(0)
    val sel = rows.filter(_.getString(1) == lang0)
    val toks = sel.map(r => enc(r.getLong(0))).sum
    val words = sel.map(_.getString(2).trim.split("\\s+").length.toLong).sum
    val chars = sel.map(_.getString(2).length.toLong).sum
    assert(out.head.getLong(1) === sel.length.toLong)
    assert(out.head.getLong(2) === toks)
    assert(out.head.getLong(3) === (2 * toks * 1000000L + words) / (2 * words))
    assert(out.head.getLong(4) === (2 * chars * 1000000L + toks) / (2 * toks))
  }
}
