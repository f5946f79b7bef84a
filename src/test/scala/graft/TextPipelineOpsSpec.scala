package graft

import graft.operators.{AhoCorasick, TextAnalysis, TextSearch}
import graft.sources.Boilerplate
import org.apache.spark.sql.functions._

/** Specs for the round-7 text-pipeline trio: the Aho-Corasick blocklist
  * automaton, jusText-style boilerplate removal, and the Kneser-Ney
  * bigram table. The oracle gates (q_blocklist / q_boilerplate /
  * q_kneser_ney) cover the distributed paths; these pin the pure
  * functions and the semantics the gates rely on. */
class TextPipelineOpsSpec extends SparkSpec {

  // --------------------------------------------------- Aho-Corasick

  private def naiveCounts(text: String, patterns: Array[String]): Array[Int] =
    patterns.map { p =>
      var c = 0; var from = 0
      var i = text.indexOf(p, from)
      while (i >= 0) { c += 1; from = i + 1; i = text.indexOf(p, from) }
      c
    }

  test("automaton counts equal a naive position scan on generated text") {
    val pats = TextAnalysis.BlocklistPatterns.toArray
    val ac = AhoCorasick.build(pats)
    val words = Array("spark", "park", "batch", "window", "fast", "table",
      "slow", "filter", "value", "part", "x")
    for (seed <- 0 until 20) {
      val text = (0 until 60)
        .map(i => words(((i * 31 + seed * 17) % words.length + words.length) % words.length))
        .mkString(" ")
      assert(ac.countMatches(text).toSeq === naiveCounts(text, pats).toSeq, s"seed $seed")
    }
  }

  test("nested pattern surfaces only through fail links") {
    val pats = TextAnalysis.BlocklistPatterns.toArray
    val ac = AhoCorasick.build(pats)
    val counts = ac.countMatches("a spark flew")
    // "park" ends inside the "spark" match — a trie-restart scanner that
    // jumps back to the root after 's' misses it
    assert(counts(pats.indexOf("spark")) === 1)
    assert(counts(pats.indexOf("park")) === 1)
  }

  test("overlapping occurrences all count (every match end reports)") {
    val ac = AhoCorasick.build(Array("aa", "aba"))
    assert(ac.countMatches("aaa").toSeq === Seq(2, 0))
    assert(ac.countMatches("ababa").toSeq === Seq(0, 2))
    assert(ac.countMatches("").toSeq === Seq(0, 0))
  }

  test("blocklistHits emits only matched (doc, pattern) rows") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the spark park is open"),  // spark 1, park 2 (one nested)
      (2L, "nothing here"),
      (3L, null: String)).toDF("doc_id", "text")
    val got = TextAnalysis.blocklistHits(docs, TextAnalysis.BlocklistPatterns)
      .orderBy("doc_id", "pattern")
      .as[(Long, String, Long)].collect().toSeq
    assert(got === Seq((1L, "park", 2L), (1L, "spark", 1L)))
  }

  // --------------------------------------------------- boilerplate

  test("link-density rule is fractional, at the exact 1/3 boundary") {
    // 3·anchorChars <= len keeps; one char over drops
    assert(Boilerplate.Block("x" * 30, 10).isContent)
    assert(!Boilerplate.Block("x" * 30, 11).isContent)
    // short blocks drop regardless of density
    assert(!Boilerplate.Block("x" * (Boilerplate.MinContentLen - 1), 0).isContent)
    assert(Boilerplate.Block("x" * Boilerplate.MinContentLen, 0).isContent)
  }

  test("staged page classifies exactly: nav/tags/teaser/footer drop, prose keeps") {
    val body = "This body sentence is comfortably long enough to keep."
    val blocks = Boilerplate.htmlBlocks(Boilerplate.buildBpPage(7L, body))
    val content = blocks.filter(_.isContent).map(_.text)
    assert(content.length === 2)
    assert(content.head === body)
    assert(content(1).contains("inline link"))
    // nav text must be a parsed block (dropped by DENSITY, not lost)
    assert(blocks.exists(b => b.text.contains("Home") && !b.isContent))
    // script/style content never becomes a block
    assert(!blocks.exists(_.text.contains("fake")))
    assert(Boilerplate.htmlBlocks(null).isEmpty)
  }

  test("extractMain joins content blocks and counts both totals") {
    val body = "Another sufficiently long body sentence for the keep rule."
    val (main, nb, nc) = Boilerplate.extractMain(Boilerplate.buildBpPage(3L, body))
    assert(nc === 2 && nb >= 6)
    assert(main.startsWith(body) && main.contains("inline link"))
    // short body: only the prose block survives
    val (main2, _, nc2) = Boilerplate.extractMain(Boilerplate.buildBpPage(3L, "tiny"))
    assert(nc2 === 1 && !main2.contains("tiny"))
  }

  // --------------------------------------------------- Kneser-Ney

  test("kneserNey matches hand-computed interpolated-KN values") {
    import spark.implicits._
    // corpus: "a b a b", "a c" -> c12: (a,b)=2 (b,a)=1 (a,c)=1, nDB=3
    val docs = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = TextSearch.kneserNey(docs, 3L)
      .select("w1", "w2", "n", "p_kn")
      .as[(String, String, Long, Double)].collect()
      .map(r => ((r._1, r._2), (r._3, r._4))).toMap
    // p(b|a) = (2-.75)/3 + (.75*2/3)*(1/3) = 0.583333
    assert(got(("a", "b")) === ((2L, 0.583333)))
    // p(c|a) = (1-.75)/3 + (.75*2/3)*(1/3) = 0.25
    assert(got(("a", "c")) === ((1L, 0.25)))
    // p(a|b) = (1-.75)/1 + (.75*1/1)*(1/3) = 0.5
    assert(got(("b", "a")) === ((1L, 0.5)))
    assert(got.size === 3)
  }

  test("knScore: repetitive text scores lower perplexity than rare text") {
    import spark.implicits._
    // doc 1 repeats ONE bigram; doc 2 is all unique bigrams; doc 3 has
    // a single word (no bigrams -> absent from the output)
    val docs = Seq(
      (1L, "x y x y x y x y"),
      (2L, "p q r s t u v w"),
      (3L, "alone")).toDF("doc_id", "text")
    val db = 1L + 2L + 7L // (x,y),(y,x) + p..w chain
    val rows = graft.operators.TextSearch.knScore(docs, db)
      .orderBy("doc_id")
      .as[(Long, Long, Double)].collect()
    assert(rows.map(_._1).toSeq === Seq(1L, 2L))
    assert(rows(0)._2 === 7L && rows(1)._2 === 7L)
    assert(rows.forall(_._3 >= 1.0), "perplexity is >= 1 by construction")
    assert(rows(0)._3 < rows(1)._3,
      "the filtering signal: common-bigram text must score lower than rare-bigram text")
  }

  test("kneserNey discount never yields a negative first term") {
    import spark.implicits._
    // every observed bigram appears once: max(1-0.75, 0) stays positive,
    // and the continuation term dominates — all probabilities in (0, 1)
    val docs = Seq((1L, "p q r s")).toDF("doc_id", "text")
    val vals = TextSearch.kneserNey(docs, 3L)
      .select("p_kn").as[Double].collect()
    assert(vals.length === 3)
    assert(vals.forall(v => v > 0 && v < 1))
  }

  test("kappa: hand-computed value, perfect and degenerate agreement") {
    import spark.implicits._
    // 2x2 example: n=100, agree=60, row totals 50/50, col totals 60/40
    // -> po=0.6, pe=0.5*0.6+0.5*0.4=0.5, kappa=(0.6-0.5)/0.5=0.2
    val labeled = (
      Seq.fill(35)(("a", "a")) ++ Seq.fill(15)(("a", "b")) ++
      Seq.fill(25)(("b", "a")) ++ Seq.fill(25)(("b", "b"))
    ).toDF("t", "p")
    val r = TextAnalysis.kappa(labeled, "t", "p").head()
    assert(r.getAs[Long]("n") === 100L && r.getAs[Long]("n_agree") === 60L)
    assert(r.getAs[Double]("po") === 0.6 && r.getAs[Double]("pe") === 0.5)
    assert(r.getAs[Double]("kappa") === 0.2)
    // perfect agreement -> kappa 1; single-label degenerate (pe=1) -> 0
    val perfect = Seq(("x", "x"), ("y", "y")).toDF("t", "p")
    assert(TextAnalysis.kappa(perfect, "t", "p").head().getAs[Double]("kappa") === 1.0)
    val degen = Seq(("x", "x"), ("x", "x")).toDF("t", "p")
    assert(TextAnalysis.kappa(degen, "t", "p").head().getAs[Double]("kappa") === 0.0)
  }

  test("ROUGE: identical pair scores 1, disjoint pair 0, clipping clips") {
    import spark.implicits._
    // one lang = one pair per consecutive doc_id duo
    val docs = Seq(
      (0L, "en", "a b c d"), (1L, "en", "a b c d"),        // identical
      (2L, "en", "p q r s"), (3L, "en", "w x y z"),        // disjoint
      // candidate repeats 'k' 3x, reference has it once: clipped to 1
      (4L, "en", "k k k"), (5L, "en", "k m")
    ).toDF("doc_id", "lang", "text")
    val got = TextAnalysis.rougePairs(docs).orderBy("pair_id").collect()
    assert(got.length === 3)
    val ident = got(0)
    assert(ident.getAs[Double]("r1_f1") === 1.0 &&
      ident.getAs[Double]("r2_f1") === 1.0)
    val disj = got(1)
    assert(disj.getAs[Long]("o1") === 0L &&
      disj.getAs[Double]("r1_f1") === 0.0)
    val clip = got(2)
    assert(clip.getAs[Long]("o1") === 1L, "multiset overlap must clip at min count")
    // P = 1/3, R = 1/2, F1 = 2PR/(P+R) = 0.4
    assert(clip.getAs[Double]("r1_precision") === 0.333333)
    assert(clip.getAs[Double]("r1_recall") === 0.5)
    assert(clip.getAs[Double]("r1_f1") === 0.4)
  }

  // ----------------------------------------------------- Luhn checksum

  test("luhn: known card numbers, planted parity, declarative == scalar") {
    import graft.operators.TextAnalysis
    // the canonical test PAN 4539 1488 0343 6467 is Luhn-valid; flipping
    // its last digit breaks it
    assert(TextAnalysis.luhnSum("4539148803436467") % 10 === 0)
    assert(TextAnalysis.luhnSum("4539148803436468") % 10 !== 0)
    assert(TextAnalysis.luhnSum("79927398713") % 10 === 0) // classic example
    // staged fixtures: even ids validate, odd ids fail — by construction
    for (id <- 0L until 40L)
      assert((TextAnalysis.luhnSum(TextAnalysis.panFor(id)) % 10 == 0) === (id % 2 == 0))
    // the engine's declarative validation agrees with the scalar kernel
    val out = TextAnalysis.qLuhn(spark, sf0001).collect()
    assert(out.length === 500)
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(1) === TextAnalysis.panFor(id))
      assert(r.getBoolean(2) === (id % 2 == 0))
    }
  }

  // ------------------------------------------------ distinct-n diversity

  test("distinct-n: hand-counted ratios with multiplicity") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val docs = Seq((1L, "a b a", "en", "w", 5L), (2L, "a b", "en", "w", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.distinctN(docs).orderBy("n").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out(0) === ((1, 5L, 2L, 0.4)))       // a b a a b
    assert(out(1) === ((2, 3L, 2L, 0.666667)))  // "a b" x2, "b a"
    assert(out(2) === ((3, 1L, 1L, 1.0)))       // "a b a"
  }

  // ------------------------------------- trained Cavnar-Trenkle langid

  test("trained langid: rank profiles, distance arithmetic, held-out accuracy") {
    import graft.operators.TrainedLangId
    import spark.implicits._
    // the cipher is a bijection with period-26 rotation
    assert(TrainedLangId.rot(0) === "abcdefghijklmnopqrstuvwxyz")
    assert(TrainedLangId.rot(1) === "hijklmnopqrstuvwxyzabcdefg")
    assert(TrainedLangId.rot(2) === "opqrstuvwxyzabcdefghijklmn")

    // hand-checkable micro corpus: profiles are the trigram multisets of
    // one short doc per class
    val labeled = Seq((0L, 0, "aaab"), (1L, 1, "bbbc"), (2L, 2, "cccd"))
      .toDF("doc_id", "cls", "t")
    val prof = TrainedLangId.trainProfiles(labeled)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    // "aaab" -> trigrams aaa, aab (counts 1,1): rank by (n DESC, tri ASC)
    assert(prof.filter(_._1 == 0) === Set((0, "aaa", 1L), (0, "aab", 2L)))
    assert(prof.filter(_._1 == 1) === Set((1, "bbb", 1L), (1, "bbc", 2L)))

    // a doc matching class 0's profile exactly scores 0 against class 0
    // and n_doc * K against the others
    val scored = TrainedLangId.classify(Seq((9L, "aaab")).toDF("doc_id", "t"),
        TrainedLangId.trainProfiles(labeled))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(scored(0L) === 0L)
    assert(scored(1L) === 2L * TrainedLangId.K)
    assert(scored(2L) === 2L * TrainedLangId.K)

    // end to end on the real corpus: the three cipher inventories are
    // (near-)disjoint, so held-out accuracy must be PERFECT — the gate
    // pins exact distances, this pins that the model actually learned
    val out = TrainedLangId.qLangIdTrained(spark, sf0001).collect()
    assert(out.length === 250) // the odd-doc_id half of 500
    assert(out.forall(_.getAs[Boolean]("correct")),
      "trained langid must classify every held-out transliterated doc")
  }

  test("trained langid: count ties break in BINARY UTF-8 order, not UTF-16 code units") {
    import graft.operators.TrainedLangId
    import spark.implicits._
    // a supplementary-plane trigram (U+1F600, UTF-8 F0 9F 98 80) vs a
    // private-use BMP trigram (U+E000, UTF-8 EE 80 80): UTF-16 code-unit
    // order puts the surrogate pair (D83D DE00) FIRST, binary UTF-8
    // order (= Spark string sort = DuckDB collation) puts it LAST. The
    // doc profile must agree with the SQL window it replaces.
    val emoji = "a\uD83D\uDE00b" // a + U+1F600 + b: 3 code points
    val pua = "a\uE000b" // a + U+E000 + b: 3 code points
    assert(emoji.compareTo(pua) < 0, "precondition: UTF-16 order differs")
    val t = emoji + " " + pua // every trigram occurs once: pure tie-break
    val prof = TrainedLangId.docProfiles(Seq((1L, t)).toDF("doc_id", "t"))
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(prof(pua) < prof(emoji),
      s"UTF-8 byte order must rank $pua before $emoji: $prof")
    // and the engine rank must equal Spark's own (n DESC, tri ASC) window
    val sparkOrder = Seq(emoji, pua).toDF("tri")
      .orderBy(org.apache.spark.sql.functions.col("tri"))
      .collect().map(_.getString(0))
    assert(sparkOrder.head === pua,
      "Spark's binary string sort itself puts the PUA trigram first")
  }

  test("trained langid: the doc profile cuts trigrams over code points, as training does") {
    import graft.operators.TrainedLangId
    import spark.implicits._
    // U+1F600 is one code point but two UTF-16 units: a code-unit cut
    // yields "x\uD83D\uDE00", "\uD83D\uDE00y" and "\uDE00yz", which
    // starts with a lone surrogate
    val doc = Seq((1L, "x\uD83D\uDE00yz")).toDF("doc_id", "t")
    val prof = TrainedLangId.docProfiles(doc).select("tri").as[String].collect().toSet
    val grams = doc.select(explode(graft.functions.GraftFunctions.ngrams(col("t"), 3)))
      .as[String].collect().toSet
    assert(grams === Set("x\uD83D\uDE00y", "\uD83D\uDE00yz"))
    assert(prof === grams)
  }
}
