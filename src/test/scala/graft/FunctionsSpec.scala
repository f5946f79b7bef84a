package graft

import graft.engine.Scope
import graft.functions.GraftFunctions
import graft.operators.{Dedup, Ingest, SnippetGen, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Custom codegen expressions must be bit-identical to the declarative
  * column formulations they accelerate. */
class FunctionsSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(s"$sf0001/documents.parquet")

  test("PolyHash == declarative code-point fold on ASCII docs only") {
    // the byte fold and the code-point fold part on any non-ASCII text
    // (see "code-point fold" below); the generated corpus is all ASCII
    val mismatches = docs.select(
      TokenDeclarative.fold(col("text")).as("slow"),
      GraftFunctions.poly_hash(col("text")).as("fast"))
      .filter(col("slow") =!= col("fast")).count()
    assert(mismatches === 0)
  }

  test("MinHashSig == declarative signature on real docs") {
    val withSh = docs
      .select(col("doc_id"), GraftFunctions.words(col("text")).as("words"))
      .select(col("doc_id"), Dedup.shinglesFromWords(col("words")).as("sh"))
    val a = Dedup.hashParams.map(_._1)
    val b = Dedup.hashParams.map(_._2)
    val mismatches = withSh.select(
      TokenDeclarative.minhashSignature(transform(col("sh"), TokenDeclarative.fold(_))).as("slow"),
      GraftFunctions.minhash_sig(col("sh"), a, b).as("fast"))
      .filter(col("slow") =!= col("fast")).count()
    assert(mismatches === 0)
  }

  /** The declarative cosine (higher-order functions only): the reference
    * semantics [[graft.functions.CosineSim]] must match. */
  private def cosineDeclarative(a: Column, b: Column): Column = {
    val ad = transform(a, x => x.cast("double"))
    val bd = transform(b, x => x.cast("double"))
    val dot = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), (s, x) => s + x)
    val na = sqrt(aggregate(transform(ad, x => x * x), lit(0.0), (s, x) => s + x))
    val nb = sqrt(aggregate(transform(bd, x => x * x), lit(0.0), (s, x) => s + x))
    dot / (na * nb)
  }

  /** Bucket id of `emb` in LSH table `t` (B sign bits packed into a long),
    * declaratively: the reference for [[graft.functions.LshBuckets]],
    * whose interpreted per-plane dots made ANN slower than brute force
    * at 20k vectors. */
  private def lshBucketDeclarative(emb: Column, t: Int): Column =
    graft.operators.Similarity.planes(t).zipWithIndex.map { case (p, i) =>
      val dot = aggregate(
        zip_with(emb, lit(p.toArray), (x, w) => x.cast("double") * w),
        lit(0.0), (s, v) => s + v)
      when(dot >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  test("CosineSim == declarative cosine, bit for bit, float and double") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").limit(100)
    val pairs = emb.select(col("vec_id").as("ia"), col("embedding").as("ea"))
      .crossJoin(emb.select(col("vec_id").as("ib"), col("embedding").as("eb")))
      .filter(col("ia") < col("ib")).limit(2000)
    val mismatches = pairs.select(
      cosineDeclarative(col("ea"), col("eb")).as("slow"),
      graft.functions.GraftFunctions.cosine_sim(col("ea"), col("eb")).as("fast"))
      .filter(col("slow") =!= col("fast")).count()
    assert(mismatches === 0)
    // double arrays too (the IVF centroid path)
    val dbl = pairs.select(
      transform(col("ea"), x => x.cast("double")).as("da"), col("eb"))
    val m2 = dbl.select(
      cosineDeclarative(col("da"), col("eb")).as("slow"),
      graft.functions.GraftFunctions.cosine_sim(col("da"), col("eb")).as("fast"))
      .filter(col("slow") =!= col("fast")).count()
    assert(m2 === 0)
  }

  test("LshBuckets == declarative per-table bucketing on real embeddings") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").limit(200)
    val declarative = array((0 until Similarity.LshTables)
      .map(t => lshBucketDeclarative(col("embedding"), t)): _*)
    val fast = graft.functions.GraftFunctions.lsh_buckets(
      col("embedding"), Similarity.planes.flatten.flatten,
      Similarity.LshTables, Similarity.LshBits, 64)
    val mismatches = emb.select(declarative.as("slow"), fast.as("fast"))
      .filter(col("slow") =!= col("fast")).count()
    assert(mismatches === 0)
  }

  test("LshProbes == scala reference; probe 0 == LshBuckets") {
    import graft.operators.Similarity
    import spark.implicits._
    val T = Similarity.LshTables
    val B = Similarity.LshBits
    val F = Similarity.LshFlipBits
    val planes = Similarity.planes.flatten.flatten.toArray
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").limit(50)
    val got = emb.select(col("vec_id"), GraftFunctions.lsh_probes(
      col("embedding"), planes.toSeq, T, B, 64, F))
      .as[(Long, Seq[Long])].collect().toMap
    val buckets = emb.select(col("vec_id"), GraftFunctions.lsh_buckets(
      col("embedding"), planes.toSeq, T, B, 64))
      .as[(Long, Seq[Long])].collect().toMap
    val raw = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    // independent reference: stable sortBy on |dot| picks the same flip set
    raw.foreach { case (id, e) =>
      val expected = (0 until T).flatMap { t =>
        val dots = (0 until B).map { b =>
          (0 until 64).map(i => e(i).toDouble * planes((t * B + b) * 64 + i)).sum
        }
        val bucket = dots.zipWithIndex.collect { case (d, b) if d >= 0 => 1L << b }
          .foldLeft(0L)(_ | _)
        val flipIdx = dots.map(math.abs).zipWithIndex.sortBy(_._1).take(F).map(_._2)
        (0 until (1 << F)).map { p =>
          val mask = (0 until F).collect { case f if ((p >> f) & 1) == 1 => 1L << flipIdx(f) }
            .foldLeft(0L)(_ | _)
          bucket ^ mask
        }
      }
      assert(got(id) === expected, s"vec $id")
      // probe 0 of each table is the unflipped bucket
      assert((0 until T).map(t => got(id)(t << F)) === buckets(id), s"vec $id probe0")
    }
  }

  test("WordNgrams == declarative shingling on real docs") {
    val withWords = docs
      .select(col("doc_id"), GraftFunctions.words(col("text")).as("words"))
    compiledAndInterpreted {
      assertSame(withWords, TokenDeclarative.ngrams(col("words"), 3, distinct = true),
        Dedup.shinglesFromWords(col("words")))
    }
  }

  test("WordNgrams == declarative shingling on SHORT inputs (size < 3)") {
    // a descending `sequence(1, size-2)` would reach element_at(w, 0), an
    // error; the kernel gives an empty array
    import spark.implicits._
    val short = Seq(Seq.empty[String], Seq("one"), Seq("one", "two"), Seq("a", "b", "c"))
      .toDF("words")
    val rows = short.select(
      TokenDeclarative.ngrams(col("words"), 3, distinct = true).as("slow"),
      Dedup.shinglesFromWords(col("words")).as("fast")).collect()
    rows.foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1)))
    assert(rows.last.getSeq[String](0) === Seq("a b c"))
  }

  test("Ngrams == declarative word grams, distinct and positional, n = 1..3") {
    import spark.implicits._
    // empty, short, repeated and null-element arrays, and a null array;
    // repartitioned so the projection runs in a stage
    val arrays = Seq[Option[Seq[String]]](Some(Nil), Some(Seq("a")), Some(Seq("a", "b")),
      Some(Seq("a", "b", "a", "b", "a")), Some(Seq("a", null, "b", "c")),
      Some(Seq(null, null)), Some(Seq("", "x", "")), None)
      .toDF("words").repartition(2)
    // real docs, plus texts whose first or last token is "": trim strips
    // spaces only, so a leading tab or a trailing newline survives it
    val texts = docs.select(col("text")).unionByName(
      Seq("\tlead tab", "trail nl\n", "  two  spaces  ", "", " ").toDF("text"))
      .select(GraftFunctions.words(col("text")).as("words")).repartition(2)
    compiledAndInterpreted {
      for (df <- Seq(arrays, texts); n <- 1 to 3; distinct <- Seq(false, true))
        assertSame(df, TokenDeclarative.ngrams(col("words"), n, distinct),
          GraftFunctions.ngrams(col("words"), n, distinct))
    }
    val lead = Seq("\tlead tab").toDF("text")
      .select(GraftFunctions.ngrams(GraftFunctions.words(col("text")), 2))
      .as[Seq[String]].head()
    assert(lead === Seq(" lead", "lead tab"))
    // concat_ws skips a null element, so it leaves a one-word gram
    val nulls = Seq(Seq("a", null, "b", "c")).toDF("w")
      .select(GraftFunctions.ngrams(col("w"), 2)).as[Seq[String]].head()
    assert(nulls === Seq("a", "b", "b c"))
  }

  test("Ngrams == declarative char grams over code points") {
    import spark.implicits._
    val texts = docs.select(lower(col("text")).as("t")).unionByName(
      Seq[Option[String]](Some(""), Some("ab"), Some("abc"), Some("aaaa"), Some("né à"),
        Some("x\uD83D\uDE00y\uD83D\uDE00z"), Some("日本語テキスト"), None).toDF("t"))
      .repartition(2)
    compiledAndInterpreted {
      for (n <- 1 to 3; distinct <- Seq(false, true))
        assertSame(texts, TokenDeclarative.charNgrams(col("t"), n, distinct),
          GraftFunctions.ngrams(col("t"), n, distinct))
    }
    // a supplementary-plane character is one code point, not two chars
    val emoji = Seq("x\uD83D\uDE00y").toDF("t")
      .select(GraftFunctions.ngrams(col("t"), 2)).as[Seq[String]].head()
    assert(emoji === Seq("x\uD83D\uDE00", "\uD83D\uDE00y"))
  }

  test("code-point fold == declarative ascii fold, non-ASCII included") {
    import spark.implicits._
    val texts = docs.select(col("text")).unionByName(
      Seq[Option[String]](Some(""), Some("é"), Some("naïve café"), Some("日本語"),
        Some("x\uD83D\uDE00y"), None).toDF("text"))
      .repartition(2)
    compiledAndInterpreted {
      assertSame(texts, TokenDeclarative.fold(col("text")), TextAnalysis.fingerprint(col("text")))
    }
    // 'é' is one code point, U+00E9, and two UTF-8 bytes, C3 A9
    val e = Seq("é").toDF("t").select(TextAnalysis.fingerprint(col("t")),
      GraftFunctions.poly_hash(col("t"))).as[(Long, Long)].head()
    assert(e === ((233L, 0xC3L * 31 + 0xA9)))
    assert(e._2 === 6214L)
    val smile = Seq("\uD83D\uDE00").toDF("t").select(TextAnalysis.fingerprint(col("t")))
      .as[Long].head()
    assert(smile === 0x1F600L)
  }

  test("SpanHashes == declarative positional poly_hash chain on real docs") {
    val withWords = docs
      .select(col("doc_id"), GraftFunctions.words(col("text")).as("words"))
      .filter(size(col("words")) >= 8)
    val slow = transform(sequence(lit(1), size(col("words")) - 7),
      i => graft.functions.GraftFunctions.poly_hash(concat_ws(" ",
        (0 until 8).map(k => element_at(col("words"), i + k)): _*)))
    val mismatches = withWords.select(slow.as("slow"),
      graft.functions.GraftFunctions.span_hashes(col("words"), 8).as("fast"))
      .filter(col("slow") =!= col("fast")).count()
    assert(mismatches === 0)
    // shorter than n words -> empty array, not an error
    import spark.implicits._
    val short = Seq(Seq("a", "b")).toDF("words")
      .select(graft.functions.GraftFunctions.span_hashes(col("words"), 8).as("h"))
      .collect()
    assert(short.head.getSeq[Long](0) === Seq.empty)
  }

  test("CutTokens == declarative filter×exists on real docs with synthetic cuts") {
    import spark.implicits._
    val k = 8
    val withCuts = docs
      .select(col("doc_id"), GraftFunctions.words(col("text")).as("words"))
      .filter(size(col("words")) >= k)
      // deterministic pseudo-random cut starts: TWO residue patterns,
      // the second spaced 5 < k apart (so its intervals genuinely
      // overlap), concatenated with the first REVERSED — the result is
      // unsorted, overlapping, and (where the patterns collide)
      // duplicated: the shapes the sweep's sort+merge must handle. A
      // single ascending pattern spaced > k would leave the merge and
      // the sort both untested.
      .withColumn("cut_starts",
        concat(
          reverse(filter(transform(sequence(lit(0), size(col("words")) - 1),
            i => when(pmod(i * 7 + col("doc_id").cast("int"), lit(11)) === 0, i)),
            x => x.isNotNull)),
          filter(transform(sequence(lit(0), size(col("words")) - 1),
            i => when(pmod(i + col("doc_id").cast("int"), lit(5)) === 0, i)),
            x => x.isNotNull)).cast("array<int>"))
    val slow = filter(col("words"), (_, i) =>
      !exists(col("cut_starts"), s => i >= s && i < s + k))
    val mismatches = withCuts
      .select(slow.as("slow"),
        graft.functions.GraftFunctions.cut_tokens(col("words"), col("cut_starts"), k).as("fast"))
      .filter(col("slow") =!= col("fast")).count()
    assert(mismatches === 0)
    // empty cut list -> identity; full-coverage cut -> empty
    val edge = Seq((Seq("a", "b", "c"), Seq.empty[Int]), (Seq("a", "b", "c"), Seq(0)))
      .toDF("words", "cut_starts")
      .select(graft.functions.GraftFunctions
        .cut_tokens(col("words"), col("cut_starts"), k).as("kept"))
      .collect().map(_.getSeq[String](0))
    assert(edge(0) === Seq("a", "b", "c"))
    assert(edge(1) === Seq.empty)
  }

  test("SimHash64 expression == scala simhash64 on real docs") {
    import spark.implicits._
    val viaExpr = docs
      .select(col("doc_id"), GraftFunctions.words(col("text")).as("words"))
      .select(col("doc_id"), GraftFunctions.simhash64(col("words")))
      .as[(Long, Long)].collect().toMap
    val viaScala = docs.select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => id -> Dedup.simhash64(t.trim.split("\\s+").toSeq) }.toMap
    assert(viaExpr === viaScala)
  }

  test("word_ngrams/simhash64/minhash_sig callable from SQL, equal to column API") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = docs.limit(20)
      .select(col("doc_id"), GraftFunctions.words(col("text")).as("w"))
    df.createOrReplaceTempView("fn_check")
    val viaSql = spark.sql(
      "SELECT doc_id, word_ngrams(w, 3) AS ng, simhash64(w) AS sh, " +
        "minhash_sig(word_ngrams(w, 3)) AS sig FROM fn_check")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1), r.getLong(2), r.getSeq[Long](3))).toSeq
    val viaApi = df.select(col("doc_id"),
      Dedup.shinglesFromWords(col("w")).as("ng"),
      GraftFunctions.simhash64(col("w")).as("sh"),
      GraftFunctions.minhash_sig(Dedup.shinglesFromWords(col("w")),
        Dedup.hashParams.map(_._1), Dedup.hashParams.map(_._2)).as("sig"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1), r.getLong(2), r.getSeq[Long](3))).toSeq
    assert(viaSql.sortBy(_._1) === viaApi.sortBy(_._1))
  }

  test("SQL word_ngrams skips null words; rejects n < 1 and a non-literal n") {
    GraftFunctions.register(spark)
    import spark.implicits._
    compiledAndInterpreted {
      // the NPE of a null word joined into a non-null element, in a stage
      Seq(Seq("a", null, "b", "c")).toDF("w").repartition(2).createOrReplaceTempView("ng_null")
      val got = spark.sql("SELECT word_ngrams(w, 2) AS g FROM ng_null").as[Seq[String]].head()
      assert(got === Seq("a", "b", "b c"))
      assert(spark.sql("SELECT size(word_ngrams(array('a', CAST(NULL AS STRING), 'b', 'c'), 2))")
        .as[Int].head() === 3)
    }
    for (bad <- Seq("0", "-1", "CAST(NULL AS INT)", "CAST(rand() * 3 AS INT)", "2L")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(s"SELECT word_ngrams(array('a', 'b'), $bad)").collect())
      assert(e.getMessage.contains("n must be"), e.getMessage)
    }
  }

  test("poly_hash is callable from SQL after registration") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT poly_hash('abc') AS h").head().getLong(0)
    // (( 'a'*31 + 'b' )*31 + 'c') mod 1e9+7
    val expected = ((97L * 31 + 98) * 31 + 99) % 1000000007L
    assert(r === expected)
    assert(spark.sql("SELECT poly_hash(NULL)").head().isNullAt(0))
  }

  test("cosine_sim callable from SQL; GraftExtensions installs cleanly") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c").head().getDouble(0)
    assert(math.abs(r - 1.0) < 1e-15)
    // the extensions entry point accepts a fresh extensions registry
    new graft.functions.GraftExtensions().apply(
      new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("WelfordVariance Aggregator matches built-in avg/var_samp per group") {
    import graft.functions.WelfordVariance
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    import spark.implicits._
    val typed = li.select(col("l_returnflag"), col("l_quantity")).as[(String, Double)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(WelfordVariance.toColumn)
      .toDF("flag", "w")
      .select(col("flag"), col("w.n").as("n"), col("w.mean").as("mean"),
        col("w.variance").as("variance"))
    val builtin = li.groupBy(col("l_returnflag").as("flag"))
      .agg(count(col("l_quantity")).as("n"), avg(col("l_quantity")).as("mean"),
        var_samp(col("l_quantity")).as("variance"))
    val j = typed.join(builtin, "flag")
    val bad = j.filter(
      typed("n") =!= builtin("n") ||
        abs(typed("mean") - builtin("mean")) > 1e-9 ||
        abs(typed("variance") - builtin("variance")) > 1e-6).count()
    assert(bad === 0)
    assert(typed.count() === 3)
  }

  /** Runs `body` twice: compiled, with whole-stage codegen on and a
    * compile failure fatal (checks `doGenCode`), then with every
    * expression interpreted (checks `eval`). */
  private def compiledAndInterpreted(body: => Unit): Unit = {
    Scope.withConf(spark, "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")(body)
    Scope.withConf(spark, "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body)
  }

  /** Asserts `slow` and `fast` have the same Catalyst type and
    * nullability on `df` and agree (null-safe) on every row. */
  private def assertSame(df: DataFrame, slow: Column, fast: Column): Unit = {
    assert(df.select(slow.as("v")).schema === df.select(fast.as("v")).schema)
    val rows = df.select(slow.as("slow"), fast.as("fast"))
    assert(rows.count() > 0)
    assert(rows.filter(!(col("slow") <=> col("fast"))).count() === 0)
  }

  /** Generated documents: null, empty and whitespace-only text, token
    * counts around the 40-token page and 3-token stride, a null source
    * and multi-byte UTF-8. Repartitioned so the projection runs in a
    * stage rather than being folded into the local relation. */
  private def generatedDocs: DataFrame = {
    import spark.implicits._
    def tokens(n: Int) = Some((1 to n).map(i => s"w$i").mkString(" "))
    val utf8 = Some(Seq.tabulate(45)(i => Seq("naïve", "café", "日本語", "テキスト", "😀x")(i % 5))
      .mkString(" "))
    (Seq[(Option[String], Option[String])](
      (None, Some("s.pdf")), (Some(""), Some("s.pdf")), (Some("   "), Some("s.pdf")),
      (tokens(41), None), (utf8, Some("dössier/ü.pdf"))) ++
      Seq(1, 2, 3, 5, 6, 39, 40, 41, 80, 81).map(n => (tokens(n), Some(s"d$n.pdf"))))
      .zipWithIndex.map { case ((t, src), i) => (i.toLong, t, src) }
      .toDF("doc_id", "text", "source").repartition(2)
  }

  test("SnippetWindows == declarative windows, compiled and interpreted") {
    import spark.implicits._
    // units arrays with null elements, an all-null window, empty and null
    val units = Seq[Option[Seq[String]]](
      Some(Seq("a", null, "b", null, null, "c", "d")), Some(Seq(null)),
      Some(Seq.fill(7)(null)), Some(Seq.empty), None, Some(Seq("x")),
      Some(Seq.tabulate(16)(i => if (i % 3 == 2) null else s"u$i")))
      .toDF("units").repartition(2)
    compiledAndInterpreted {
      val real = docs.select(GraftFunctions.words(col("text")).as("w"),
        SnippetGen.splitSentences(col("text")).as("s"))
      assertSame(real, SnippetDeclarative.snippetWindows(col("w")),
        SnippetGen.snippetWindows(col("w")))
      assertSame(real, SnippetDeclarative.snippetWindows(col("s")),
        SnippetGen.snippetWindows(col("s")))
      val gen = generatedDocs.select(GraftFunctions.words(col("text")).as("w"))
      assertSame(gen, SnippetDeclarative.snippetWindows(col("w")),
        SnippetGen.snippetWindows(col("w")))
      assertSame(units, SnippetDeclarative.snippetWindows(col("units")),
        SnippetGen.snippetWindows(col("units")))
      // a non-default window and stride take the same path
      assertSame(units, SnippetDeclarative.snippetWindows(col("units"), 2, 4),
        SnippetGen.snippetWindows(col("units"), 2, 4))
    }
  }

  test("IngestPages == declarative pages, compiled and interpreted") {
    def pages(df: DataFrame): Unit = {
      val w = df.select(GraftFunctions.words(col("text")).as("words"), col("source"))
      assertSame(w, SnippetDeclarative.pages(col("words"), col("source")),
        GraftFunctions.ingest_pages(col("words"), col("source"), Ingest.PageTokens,
          SnippetGen.WindowSize, SnippetGen.Stride))
    }
    compiledAndInterpreted {
      pages(docs)
      pages(generatedDocs)
    }
    // non-nullable inputs: the declarative type has non-nullable page
    // text and link fields, and the kernel's must follow it
    val lits = docs.limit(1).select(array(lit("a"), lit("b")).as("words"),
      lit("s.pdf").as("source"))
    assertSame(lits, SnippetDeclarative.pages(col("words"), col("source")),
      GraftFunctions.ingest_pages(col("words"), col("source"), Ingest.PageTokens,
        SnippetGen.WindowSize, SnippetGen.Stride))
    assertSame(lits, SnippetDeclarative.snippetWindows(col("words")),
      SnippetGen.snippetWindows(col("words")))
  }

  test("NearestCentroids == literal struct argmax on nulls, zero norms and ties") {
    import spark.implicits._
    val real = spark.read.parquet(s"$sf0001/embeddings.parquet").limit(40)
      .select(col("embedding")).as[Array[Float]].collect().toSeq
    def axis(i: Int, x: Float = 1f) = Array.tabulate(64)(j => if (j == i) x else 0f)
    // a null embedding, a zero-norm one, one exactly between axes 0 and 1
    // and one on axis 2; repartitioned so the projection runs in a stage
    val rows = (Seq(null, new Array[Float](64), Array.tabulate(64)(j => if (j < 2) 1f else 0f),
      axis(2)) ++ real).zipWithIndex.map(_.swap).toDF("rid", "embedding").repartition(2)
    def dbl(a: Array[Float]) = a.map(_.toDouble)
    val sets: Seq[Seq[(Long, Array[Double])]] = Seq(
      // unsorted, non-contiguous ids; 7 and 3 tie exactly on rows 2 and 3
      Seq(7L -> dbl(axis(0)), 3L -> dbl(axis(1)), 11L -> dbl(axis(0, -1f))),
      // a zero-norm centroid scores NaN, which ranks above every number
      Seq(5L -> dbl(axis(3)), 9L -> new Array[Double](64), 2L -> dbl(axis(2))),
      real.slice(40 - 10, 40).zipWithIndex.map { case (v, i) => (100L - 3 * i) -> dbl(v) })
    // the form the kernel replaced: `max struct(score, -id)`, and the
    // runner-up as the max of the rest
    def literal(cents: Seq[(Long, Array[Double])], rounded: Boolean): (Column, Column) = {
      val arr = array(cents.map { case (id, c) =>
        val sc = GraftFunctions.cosine_sim(col("embedding"), lit(c))
        struct((if (rounded) round(sc, 6) else sc).as("s"), lit(-id).as("nid")) }: _*)
      def pick(st: Column) = struct((-st.getField("nid")).as("id"), st.getField("s").as("score"))
      val best = array_max(arr)
      (pick(best), pick(array_max(filter(arr, x => x.getField("nid") =!= best.getField("nid")))))
    }
    compiledAndInterpreted {
      for (cents <- sets; rounded <- Seq(false, true)) {
        val kernel = GraftFunctions.nearest_centroids(col("embedding"), cents, rounded, n = 2)
        val (best, second) = literal(cents, rounded)
        val got = rows.select(kernel.getItem(0).as("k1"), kernel.getItem(1).as("k2"),
          best.as("l1"), second.as("l2"))
        assert(got.count() === rows.count())
        val bad = got.filter(!(col("k1") <=> col("l1")) || !(col("k2") <=> col("l2")))
        assert(bad.count() === 0, bad.collect().take(5).mkString("\n"))
      }
      // ties (and a null or zero-norm embedding, which ties everywhere)
      // go to the smallest id; a NaN score beats every number
      def picks(cents: Seq[(Long, Array[Double])]): Seq[Long] =
        rows.filter(col("rid") < 4).orderBy("rid").select(GraftFunctions.nearest_centroids(
          col("embedding"), cents, rounded = true).getItem(0).getField("id"))
          .as[Long].collect().toSeq
      assert(picks(sets(0)) === Seq(3L, 3L, 3L, 3L))
      assert(picks(sets(1)) === Seq(2L, 2L, 9L, 9L))
      // an empty centroid set gives null
      assert(rows.select(GraftFunctions.nearest_centroids(col("embedding"), Nil, rounded = false)
        .isNull).as[Boolean].collect().forall(identity))
    }
  }

  test("custom expressions run inside whole-stage codegen (no fallback)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = docs.select(GraftFunctions.poly_hash(col("text")))
        .queryExecution.executedPlan.toString
      assert("""\*\(\d+\)""".r.findAllIn(plan).nonEmpty, plan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
