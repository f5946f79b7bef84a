package graft

import graft.operators.{Dedup, EventAnalytics, TextNormalize, TextSearch}
import org.apache.spark.sql.functions._

/** Semantic properties of the normalization / filtering / fingerprinting /
  * decay operators added in round 3 (the oracle gate checks value parity
  * against DuckDB; these check the operators MEAN what they claim). */
class TextNormalizeSpec extends SparkSpec {

  import spark.implicits._

  test("normalize: case/punctuation variants collapse to one canonical form, idempotently") {
    val df = Seq(
      (1L, "Hello,   World! (Again)"),
      (2L, "hello world again"),
      (3L, "HELLO-world,AGAIN")
    ).toDF("doc_id", "text")
    val out = df.select(TextNormalize.normalized(col("text")).as("n")).as[String].collect()
    assert(out.toSet === Set("hello world again"))
    // idempotence: a normalized string is its own normal form
    val twice = df.select(
      TextNormalize.normalized(TextNormalize.normalized(col("text"))).as("n"))
      .as[String].collect()
    assert(twice.toSet === Set("hello world again"))
  }

  test("c4 filters: each rule fires on its planted document, precedence holds") {
    val df = Seq(
      (1L, "short one."),                                             // < 5 tokens
      (2L, "this code block has a { brace inside it somewhere."),     // brace
      (3L, "standard lorem ipsum placeholder text lives right here."),// lorem
      (4L, "a b c d e f g h i j k l m n o p q r s t u v w x y z a."), // mean len < 3
      (5L, "one stopword the whole document cannot satisfy gopher minimums here"),
      (6L, "a perfectly reasonable document in the middle of the corpus.")
    ).toDF("doc_id", "text")
    val byId = TextNormalize.c4Filters(df)
      .select("doc_id", "reason", "kept")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getBoolean(2))).toMap
    assert(byId(1L) === ("too_short", false))
    assert(byId(2L) === ("brace", false))
    assert(byId(3L) === ("lorem", false))
    assert(byId(4L) === ("word_len", false))
    assert(byId(5L) === ("no_stopwords", false))
    assert(byId(6L) === ("kept", true))
  }

  test("stopword induction counts DOCUMENT frequency, not term frequency") {
    val df = Seq(
      (1L, "spam spam spam spam spam spam spam spam spam spam alpha"),
      (2L, "alpha beta"),
      (3L, "alpha beta")
    ).toDF("doc_id", "text")
    val top = TextSearch.stopwordDf(df, 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(top("alpha") === 3L, "alpha appears in all three docs")
    assert(top("beta") === 2L)
    assert(top("spam") === 1L, "ten in-document repeats still count one doc")
  }

  test("bpe pairs: adjacent char-pair counts match hand enumeration") {
    // "aaab" -> aa, aa, ab ; "ab" -> ab ; single chars contribute nothing
    val df = Seq((1L, "aaab ab x")).toDF("doc_id", "text")
    val pairs = TextSearch.bpePairs(df, 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pairs === Map("aa" -> 2L, "ab" -> 2L))
  }

  test("winnowing: a shared run of W+2 words is witnessed by a shared fingerprint") {
    val shared = "the quick brown fox jumps over the lazy sleeping dog tonight"
    val docs = Seq(
      (1L, s"alpha beta gamma $shared delta epsilon zeta"),
      (2L, s"$shared completely different tail content here instead now"),
      (3L, "nothing in common with either of the other documents at all")
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(fps(1L).intersect(fps(2L)).nonEmpty,
      "docs sharing an 11-word run must share a fingerprint")
    assert(fps(1L).intersect(fps(3L)).isEmpty && fps(2L).intersect(fps(3L)).isEmpty,
      "no shared 3-gram, no shared fingerprint")
    // density: winnowing must select strictly fewer fps than there are k-grams
    val dfCounts = docs.select(col("doc_id"),
      (size(split(trim(col("text")), "\\s+")) - 2).as("ngrams"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    fps.foreach { case (id, f) => assert(f.size < dfCounts(id)) }
  }

  test("keep-best dedup: highest quality wins its group, ties fall to lowest id") {
    val docs = Seq(
      // same normalized key; the lowercased copy keeps its stopword hits
      (10L, "the cat sat on the mat today."),
      (20L, "THE CAT SAT ON THE MAT TODAY."),
      // a group with identical quality (no stopwords either way)
      (30L, "zig zag."),
      (40L, "ZIG ZAG.")
    ).toDF("doc_id", "text")
    val rows = Dedup.keepBest(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.keySet === Set(10L, 30L), s"winners: ${rows.keySet}")
    assert(rows(10L) === 2L && rows(30L) === 2L, "both groups have two variants")
  }

  test("decay: today weighs 1.0, older events strictly less, totals are exact") {
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-03-10 00:00:00"), 7L),
      (2L, java.sql.Timestamp.valueOf("2024-03-09 00:00:00"), 7L),
      (3L, java.sql.Timestamp.valueOf("2024-03-01 00:00:00"), 8L)
    ).toDF("event_id", "ts", "user_id")
    val refMicros = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val out = EventAnalytics.decayScores(ev, refMicros)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // user 7: age 0 (1.0) + age 1 (0.5); user 8: age 9 (0.1)
    assert(out(7L) === ((2L, 1.5)))
    assert(out(8L) === ((1L, 0.1)))
  }

  test("quantize: reconstruction error is bounded by half a quantization step") {
    val emb = Seq(
      (1L, Array(0.5f, -0.25f, 0.125f, 1.0f)),
      (2L, Array(-2.0f, 0.004f, 1.5f, 0.75f)),
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f)) // zero vector: scale 0, error 0
    ).toDF("vec_id", "embedding")
    val rows = graft.operators.Similarity.quantize(emb).collect()
    rows.foreach { r =>
      val scale = r.getAs[Double]("scale")
      val err = r.getAs[Double]("max_err")
      assert(!scale.isNaN && !err.isNaN)
      assert(err <= scale / 2 + 1e-9,
        s"round-to-nearest error $err must be <= scale/2 = ${scale / 2}")
    }
    val zero = rows.find(_.getLong(0) == 3L).get
    assert(zero.getAs[Double]("scale") === 0.0 && zero.getAs[Double]("max_err") === 0.0)
  }

  test("containment catches a truncated copy that symmetric Jaccard misses") {
    val full = (1 to 40).map(i => s"tok$i").mkString(" ")
    val half = (1 to 20).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, full), (2L, half),
      (3L, "completely unrelated words that overlap with nothing else at all")
    ).toDF("doc_id", "text")
    val cont = Dedup.containmentDups(docs, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cont.keySet === Set((1L, 2L)), s"got $cont")
    assert(cont((1L, 2L)) === 1.0, "every shingle of the half is in the full doc")
    // the same pair evades the symmetric-Jaccard query at the same threshold
    assert(Dedup.ngramNearDups(docs, 0.9).count() === 0L)
  }

  test("containmentDupsPrefix returns exactly containmentDups' pairs") {
    // small vocab => incidental overlaps, plus planted truncations and
    // equal-size duplicates (the prefix filter's tie-break path)
    val rnd = new scala.util.Random(7)
    val base = (1 to 60).map { i =>
      (i.toLong, (0 until 12 + rnd.nextInt(20)).map(_ => s"w${rnd.nextInt(25)}").mkString(" "))
    }
    val truncated = base.collect { case (id, t) if id % 7 == 0 =>
      (id + 1000L, t.split(" ").take(t.split(" ").length / 2 + 3).mkString(" "))
    }
    val equalDup = base.collect { case (id, t) if id % 11 == 0 => (id + 2000L, t) }
    val docs = (base ++ truncated ++ equalDup).toDF("doc_id", "text")
    // a 25-shingle doc whose first 16 words open a 56-word doc:
    // containment 14/25 = 0.56, where 25 * 0.56 rounds up past 14
    val w = (1 to 67).map(i => s"ce$i")
    val edge = Seq((1L, w.take(27).mkString(" ")),
      (2L, (w.take(16) ++ w.drop(27)).mkString(" "))).toDF("doc_id", "text")
    for ((input, t) <- Seq((docs, 0.6), (docs, 0.9), (edge, 0.56))) {
      val plain = Dedup.containmentDups(input, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pref = Dedup.containmentDupsPrefix(input, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pref === plain, s"threshold $t: prefix variant diverged")
      assert(plain.nonEmpty, s"threshold $t: fixture should produce pairs")
    }
  }

  test("routed containment: exact under budget, LSH arm recalls near-equal dups") {
    // same fixture shape as the prefix test: planted truncations + equal dups
    val rnd = new scala.util.Random(11)
    val base = (1 to 60).map { i =>
      (i.toLong, (0 until 14 + rnd.nextInt(18)).map(_ => s"w${rnd.nextInt(25)}").mkString(" "))
    }
    val truncated = base.collect { case (id, t) if id % 7 == 0 =>
      (id + 1000L, t.split(" ").take(t.split(" ").length / 2 + 3).mkString(" "))
    }
    val docs = (base ++ truncated).toDF("doc_id", "text")
    // under the pair budget the router picks the exact inverted arm and
    // the routed result IS containmentDups' result
    val (routed, strategy) = Dedup.containmentDupsAutoTagged(docs, 0.9)
    assert(strategy.name === "inverted")
    val routedSet = routed.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exactSet = Dedup.containmentDups(docs, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(routedSet === exactSet)
    assert(exactSet.nonEmpty)
    // the LSH arm (the over-budget route): every NEAR-EQUAL-SIZE planted
    // dup survives banding (J ~ containment there), and every reported
    // pair carries the exact verified containment (subset of exact)
    var x = 5L
    def nxt(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x >>> 33 }
    def word(i: Long): String = s"v${i}k${(i * 17) % 97}"
    val wide = (0L until 200L).map { id => (id, Seq.fill(80)(word(nxt() % 4000)).mkString(" ")) }
    val dups = (0L until 8L).map { i =>
      val ws = wide(i.toInt)._2.split(" ")
      ws(3) = word(nxt() % 4000) // one replaced word: J ~ 0.95, containment ~ 0.95
      (3000L + i, ws.mkString(" "))
    }
    val corpus = (wide ++ dups).toDF("doc_id", "text")
    val lsh = Dedup.containmentLsh(corpus, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0L until 8L).map(i => (i, 3000L + i)).toSet
    assert(planted.subsetOf(lsh), s"LSH containment missed planted dups: ${planted -- lsh}")
    val lshFull = Dedup.containmentLsh(corpus, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exactFull = Dedup.containmentDups(corpus, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lshFull.subsetOf(exactFull), "LSH arm must verify exactly — no false pairs")
  }

  test("repeated spans: cross-doc and within-doc repeats are both witnessed") {
    val span = "alpha beta gamma delta epsilon zeta eta theta" // exactly SpanK tokens
    val docs = Seq(
      (1L, s"$span filler one two three"),
      (2L, s"prefix words here $span trailing tail"),
      (3L, s"$span middle padding goes here and then again $span"),
      (4L, "no shared spans in this document at all whatsoever today")
    ).toDF("doc_id", "text")
    val rows = Dedup.repeatedSpans(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the planted span occurs 4 times across 3 docs; nothing else repeats
    assert(rows.size === 1)
    val (nDocs, nOccur) = rows.values.head
    assert(nDocs === 3L && nOccur === 4L)
  }

  test("skew stats: a hot key raises skew_ratio above the uniform baseline 1.0") {
    val rows = (1 to 60).map(i => ("hot", i % 10)) ++ // key 0 uniform...
      (1 to 60).map(_ => ("hot", 0)) ++               // ...then overloaded
      (1 to 50).map(i => ("flat", i % 10))
    val df = rows.toDF("grp", "key")
    val out = graft.operators.Advanced.keySkew(df, "grp", "key")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("skew_ratio")).toMap
    assert(out("flat") === 1.0, "uniform keys: max x n_keys / n_rows = 1")
    assert(out("hot") > 4.0, s"the hot key holds 66/120 rows: ${out("hot")}")
  }

  test("z-order: bit interleaving identities hold") {
    def z(a: Long, b: Long): Long = {
      val df = Seq((a, b)).toDF("a", "b")
      df.select(graft.operators.Advanced.zvalue(col("a"), col("b")).as("z"))
        .as[Long].head()
    }
    assert(z(1, 0) === 1L && z(0, 1) === 2L && z(3, 3) === 15L)
    assert(z(65535, 0) === 0x55555555L && z(0, 65535) === 0xAAAAAAAAL)
    // dimension shift identity: b's bits land one position above a's
    assert(z(7, 9) === z(7, 0) + 2 * z(9, 0))
  }

  test("unicode NFC: canonical composition, singleton, lengths, changed flag") {
    import graft.operators.TextNormalize
    // the staged fixture is genuinely DECOMPOSED (no silent source-file
    // normalization): combining marks present pre-NFC, gone post-NFC
    val raw = TextNormalize.nfdTextFor(6L) // hits all three branches
    assert(raw.indexOf('\u0301') >= 0 && raw.indexOf('\u212B') >= 0 && raw.indexOf('\u030A') >= 0)
    val nfc = java.text.Normalizer.normalize(raw, java.text.Normalizer.Form.NFC)
    assert(nfc.contains("caf\u00E9"), "e + U+0301 must compose to U+00E9")
    assert(nfc.contains("\u00C5ngstr\u00F6m"),
      "U+212B must compose to U+00C5 (singleton) and o+U+0308 to ö")
    assert(nfc.contains("\u00E5r"), "a + U+030A must compose to U+00E5")
    assert(!nfc.exists(c => c == '\u0301' || c == '\u0308' || c == '\u030A'))
    // each composition shortens by one code point; the singleton keeps 1
    val out = TextNormalize.qUnicodeNfc(spark, sf0001).collect()
    assert(out.length === 500)
    out.foreach { r =>
      val id = r.getLong(0)
      val expectShrink = 1L + (if (id % 3 == 0) 1L else 0L) + (if (id % 2 == 0) 1L else 0L)
      assert(r.getLong(3) - r.getLong(4) === expectShrink,
        s"doc $id: len ${r.getLong(3)} -> ${r.getLong(4)}")
      assert(r.getBoolean(5), "every staged row decomposes, so all change")
    }
  }
}
