package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{split, trim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription, Literal,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the text-hashing hot paths (SURVEY
  * §7.5): the pure-`functions._` formulations of polynomial hashing and
  * MinHash signatures run as INTERPRETED higher-order lambdas (per-element
  * expression-tree walks); these expressions run the same math as one
  * compiled loop and participate in whole-stage codegen via a static-call
  * `doGenCode` (the standard pattern used by Spark's own string
  * expressions). Measured ~5x on the MinHash signature stage at sf0.1.
  *
  * Semantics are IDENTICAL to the declarative forms (same constants, same
  * mod arithmetic), asserted in FunctionsSpec.
  */
object TextHashes {
  val Mod = 1000000007L
  /** 2^31 - 1, the MinHash universe (matches operators.Dedup.Prime). */
  val Prime = 2147483647L

  /** Polynomial rolling hash of the UTF-8 bytes: fold (acc*31 + byte) mod
    * 1e9+7 — the shingle code of MinHash and span dedup. It equals
    * [[codePointHash]] on ASCII text only: a multi-byte character folds
    * as its bytes here ('é' gives 6214), as one code point there (233). */
  def polyHash(s: UTF8String): Long = {
    val bytes = s.getBytes
    var acc = 0L
    var i = 0
    while (i < bytes.length) {
      acc = (acc * 31L + (bytes(i) & 0xFF)) % Mod
      i += 1
    }
    acc
  }

  /** The same fold over the code points: fold (acc*31 + code point) mod
    * 1e9+7, as `aggregate` over `ascii(substring(s, i, 1))` folds them
    * (the document fingerprint, operators.TextAnalysis.fingerprint). */
  def codePointHash(s: UTF8String): Long = {
    val nb = s.numBytes()
    var acc = 0L
    var i = 0
    while (i < nb) {
      acc = (acc * 31L + s.codePointFrom(i)) % Mod
      i += UTF8String.numBytesForFirstByte(s.getByte(i))
    }
    acc
  }

  /** MinHash signature over an array of shingle strings: hash each shingle
    * (polyHash), then K affine mins h_i(x) = (a_i*x + b_i) mod (2^31-1).
    * One pass, no per-element allocation. */
  def minhashSig(shingles: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val k = a.length
    val mins = Array.fill(k)(Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      val code = polyHash(shingles.getUTF8String(i))
      var j = 0
      while (j < k) {
        val h = (a(j) * code + b(j)) % Prime
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** The `n`-grams of `words` (each `n` adjacent words joined with " ",
    * null elements skipped as `concat_ws` skips them) or, when
    * `distinct`, each gram once in order of first appearance. None when
    * there are fewer than `n` words. */
  def wordNgrams(words: ArrayData, n: Int, distinct: Boolean): ArrayData =
    grams(words.numElements() - n + 1, distinct, SnippetKernels.join(words, _, n))

  /** The `n`-grams of `s` over its code points, as `substring(s, i, n)`
    * cuts them, with the same `distinct` choice as [[wordNgrams]]. */
  def charNgrams(s: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    val nb = s.numBytes()
    // the byte offset of each of the m code points, then the end
    val at = new Array[Int](nb + 1)
    var m = 0
    var i = 0
    while (i < nb) { at(m) = i; m += 1; i += UTF8String.numBytesForFirstByte(s.getByte(i)) }
    at(m) = nb
    grams(m - n + 1, distinct, k => s.copyUTF8String(at(k), at(k + n) - 1))
  }

  private def grams(total: Int, distinct: Boolean, gram: Int => UTF8String): ArrayData = {
    if (total <= 0) return new GenericArrayData(Array.empty[Any])
    val out: java.util.Collection[UTF8String] =
      if (distinct) new java.util.LinkedHashSet[UTF8String]()
      else new java.util.ArrayList[UTF8String](total)
    var i = 0
    while (i < total) { out.add(gram(i)); i += 1 }
    new GenericArrayData(out.toArray)
  }

  /** POSITIONAL word n-gram hashes in one compiled pass: out(i) =
    * polyHash("w_i w_i+1 ... w_i+n-1"), computed by folding the bytes
    * incrementally across words — no per-span string concatenation at
    * all. Bit-identical to polyHash over the concat_ws(" ", ...) form
    * (asserted in FunctionsSpec). */
  def spanHashes(words: ArrayData, n: Int): ArrayData = {
    val m = words.numElements()
    val total = m - n + 1
    if (total <= 0) return new GenericArrayData(Array.empty[Any])
    // fetch each word's bytes once (overlapping spans re-read every word
    // up to n times otherwise)
    val wb = new Array[Array[Byte]](m)
    var w = 0
    while (w < m) { wb(w) = words.getUTF8String(w).getBytes; w += 1 }
    val out = new Array[Any](total)
    var i = 0
    while (i < total) {
      var acc = 0L
      var j = 0
      while (j < n) {
        if (j > 0) acc = (acc * 31L + ' '.toInt) % Mod
        val bytes = wb(i + j)
        var k = 0
        while (k < bytes.length) {
          acc = (acc * 31L + (bytes(k) & 0xFF)) % Mod
          k += 1
        }
        j += 1
      }
      out(i) = acc
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Remove every token covered by a [start, start+k) cut interval —
    * the span-removal kernel of [[graft.operators.Dedup.spanDedup]] in
    * one compiled pass. The declarative filter×exists form evaluates an
    * interpreted lambda per (token, cut-interval) pair — quadratic in a
    * document's cut count, exactly the hidden-at-small-scale shape SCALE
    * findings 3/7 flagged. Here: sort the starts once, sweep the tokens
    * once against the merged intervals. */
  def cutTokens(words: ArrayData, starts: ArrayData, k: Int): ArrayData = {
    val m = words.numElements()
    val ns = starts.numElements()
    val st = new Array[Long](ns)
    var i = 0
    while (i < ns) { st(i) = starts.getInt(i).toLong; i += 1 }
    java.util.Arrays.sort(st)
    val out = new java.util.ArrayList[Any](m)
    var si = 0
    var coveredUntil = -1L // exclusive end of the merged interval swept so far
    i = 0
    while (i < m) {
      while (si < ns && st(si) <= i) {
        val e = st(si) + k
        if (e > coveredUntil) coveredUntil = e
        si += 1
      }
      if (i >= coveredUntil) out.add(words.getUTF8String(i).clone())
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Murmur3 finalizer: full-avalanche mix of a 64-bit value. Without it
    * the multiplicative char fold leaves the HIGH bits of short-token
    * hashes nearly constant (they depend mostly on seed * 31^len), which
    * collapsed the effective SimHash width to ~20 bits — measured on the
    * test corpus: mean pairwise hamming 12 unmixed vs 17 mixed, hottest
    * 8-bit band bucket 500/500 docs unmixed vs 158 mixed. */
  def fmix64(v: Long): Long = {
    var h = v
    h ^= h >>> 33
    h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33
    h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** 64-bit SimHash over an array of tokens (with multiplicity): bit j of
    * the output is the sign of the summed (+1/-1) votes from bit j of each
    * token's finalized ([[fmix64]]) char-fold hash. Same math as
    * operators.Dedup.simhash64 (spec'd equal). */
  def simhash64(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val str = tokens.getUTF8String(i).toString
      var h = 1125899906842597L
      var k = 0
      while (k < str.length) { h = (h * 31L) ^ str.charAt(k).toLong; k += 1 }
      h = fmix64(h)
      var j = 0
      while (j < 64) { if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1; j += 1 }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** All LSH table buckets of one embedding in a single pass: planes is a
    * flattened [tables*bits][dim] row-major matrix; output[t] packs the
    * `bits` sign bits of table t. */
  def lshBuckets(emb: ArrayData, planes: Array[Double], tables: Int, bits: Int,
      dim: Int): ArrayData = {
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var b = 0
      while (b < bits) {
        val base = (t * bits + b) * dim
        var dot = 0.0
        var i = 0
        while (i < dim) {
          dot += emb.getFloat(i).toDouble * planes(base + i)
          i += 1
        }
        if (dot >= 0) bucket |= (1L << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Multi-probe LSH buckets: for each table, the main bucket PLUS every
    * perturbation obtained by flipping a subset of the `flip` lowest-margin
    * bits (the bits whose hyperplane dot product is closest to zero — the
    * likeliest to disagree between true neighbors). Output length is
    * tables * 2^flip, laid out [table][probe]; probe 0 is the unflipped
    * bucket. Query-directed multi-probe buys recall without adding tables:
    * the corpus keeps ONE bucket per table, only queries fan out. */
  def lshProbes(emb: ArrayData, planes: Array[Double], tables: Int, bits: Int,
      dim: Int, flip: Int): ArrayData = {
    val probes = 1 << flip
    val out = new Array[Long](tables * probes)
    val margins = new Array[Double](bits)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var b = 0
      while (b < bits) {
        val base = (t * bits + b) * dim
        var dot = 0.0
        var i = 0
        while (i < dim) {
          dot += emb.getFloat(i).toDouble * planes(base + i)
          i += 1
        }
        margins(b) = math.abs(dot)
        if (dot >= 0) bucket |= (1L << b)
        b += 1
      }
      // indices of the `flip` smallest margins (partial selection sort;
      // strict < keeps the first minimum -> deterministic under ties)
      val idx = Array.tabulate(bits)(identity)
      var s = 0
      while (s < flip) {
        var m = s
        var j = s + 1
        while (j < bits) { if (margins(idx(j)) < margins(idx(m))) m = j; j += 1 }
        val tmp = idx(s); idx(s) = idx(m); idx(m) = tmp
        s += 1
      }
      var p = 0
      while (p < probes) {
        var mask = 0L
        var f = 0
        while (f < flip) { if (((p >> f) & 1) == 1) mask |= (1L << idx(f)); f += 1 }
        out(t * probes + p) = bucket ^ mask
        p += 1
      }
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Cosine similarity of two numeric arrays (float or double elements),
    * accumulated in double in index order — the exact operation sequence of
    * the declarative formulation (dot, norms, dot/(na*nb)), so results are
    * bit-identical to it. */
  def cosineSim(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = a.numElements()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Whether `fn`'s `array<float|double>` input `t` holds floats. */
  def floatElements(t: DataType, fn: String): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(s"$fn needs array<float|double>, got $t")
  }

  /** Spark's `round(x, 6)` on a double, for driver loops and closures
    * that must round as the expression paths do: NaN and the infinities
    * pass through, else `BigDecimal.valueOf` HALF_UP at scale 6. */
  def sparkRound6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** The `n` nearest of the centroids `cents` (ids `ids`) to `emb` as
    * `(id, score)` rows, best first; null for no centroid. The score is
    * [[cosineSim]] against the centroid, [[sparkRound6]]ed when `rounded`.
    * Rows rank as Spark orders `struct(score, -id)` descending: NaN above
    * every number, -0.0 equal to 0.0, ties to the smaller id. A null
    * `emb` scores null everywhere, so only the ids rank. */
  def nearestCentroids(emb: ArrayData, embFloat: Boolean, cents: Array[ArrayData],
      ids: Array[Long], rounded: Boolean, n: Int): ArrayData = {
    val k = cents.length
    if (k == 0) return null
    val score = Array.tabulate(k) { i =>
      val c = if (emb == null) 0.0 else cosineSim(emb, cents(i), embFloat, false)
      if (rounded) sparkRound6(c) else c
    }
    val taken = new Array[Boolean](k)
    val out = new Array[Any](math.min(n, k))
    for (r <- out.indices) {
      var b = -1
      for (i <- 0 until k if !taken(i)) {
        val c = if (b < 0) 1 else SQLOrderingUtil.compareDoubles(score(i), score(b))
        if (c > 0 || (c == 0 && ids(i) < ids(b))) b = i
      }
      taken(b) = true
      out(r) = InternalRow(ids(b), if (emb == null) null else score(b))
    }
    new GenericArrayData(out)
  }
}

/** `poly_hash(str) -> long`: codegen'd polynomial hash of the UTF-8 bytes
  * ([[TextHashes.polyHash]]), or of the code points when `codePoints`
  * ([[TextHashes.codePointHash]], the document fingerprint). */
@ExpressionDescription(usage = "poly_hash(str) - polynomial rolling hash mod 1e9+7")
case class PolyHash(child: Expression, codePoints: Boolean = false) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String]
    if (codePoints) TextHashes.codePointHash(s) else TextHashes.polyHash(s)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (codePoints) "codePointHash" else "polyHash"
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashes.$fn($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

/** `minhash_sig(array<string>) -> array<long>`: codegen'd K-min signature
  * with the engine's fixed deterministic hash family. */
case class MinHashSig(child: Expression, a: Seq[Long], b: Seq[Long])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  private lazy val aArr = a.toArray
  private lazy val bArr = b.toArray
  override def nullSafeEval(v: Any): Any =
    TextHashes.minhashSig(v.asInstanceOf[ArrayData], aArr, bArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bArr, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashes.minhashSig($c, $aRef, $bRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** `simhash64(array<string>) -> long`: codegen'd 64-bit SimHash. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    TextHashes.simhash64(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashes.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** `ngrams(array<string> | string, n) -> array<string>`: codegen'd
  * n-grams, of words for an array ([[TextHashes.wordNgrams]]) and of code
  * points for a string ([[TextHashes.charNgrams]]): every position in
  * order, or each gram once when `distinct`. `n` must be an integer
  * literal of at least 1, checked at analysis. SQL's `word_ngrams(words,
  * n)` is the distinct word form (the dedup shingles). */
case class Ngrams(child: Expression, n: Expression, distinct: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def left: Expression = child
  override def right: Expression = n
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  private lazy val size = n.eval().asInstanceOf[Int]
  private lazy val chars = child.dataType == StringType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) | StringType =>
      if (!n.foldable || n.dataType != IntegerType)
        TypeCheckResult.TypeCheckFailure(s"n must be an integer literal, got ${n.sql}")
      else if (size < 1) TypeCheckResult.TypeCheckFailure(s"n must be at least 1, got ${n.sql}")
      else TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<string> or string, got ${t.catalogString}")
  }
  override def nullSafeEval(v: Any, unused: Any): Any =
    if (chars) TextHashes.charNgrams(v.asInstanceOf[UTF8String], size, distinct)
    else TextHashes.wordNgrams(v.asInstanceOf[ArrayData], size, distinct)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (chars) "charNgrams" else "wordNgrams"
    defineCodeGen(ctx, ev, (c, _) => s"graft.functions.TextHashes.$fn($c, $size, $distinct)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Ngrams =
    copy(child = l, n = r)
}

/** `span_hashes(array<string>, n) -> array<long>`: codegen'd positional
  * word n-gram hashing (one hash per position, order preserved). */
case class SpanHashes(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextHashes.spanHashes(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashes.spanHashes($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): SpanHashes =
    copy(child = newChild)
}

/** `cut_tokens(array<string>, array<int>, k) -> array<string>`: codegen'd
  * span-removal sweep (sorted merged intervals, one token pass). */
case class CutTokens(words: Expression, starts: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def left: Expression = words
  override def right: Expression = starts
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(w: Any, s: Any): Any =
    TextHashes.cutTokens(w.asInstanceOf[ArrayData], s.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (w, s) => s"graft.functions.TextHashes.cutTokens($w, $s, $k)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CutTokens =
    copy(words = l, starts = r)
}

/** `cosine_sim(array<float>, array<float>) -> double`: codegen'd cosine
  * similarity. Bit-identical to the declarative
  * `aggregate(zip_with(...))/sqrt(...)` form in operators.Similarity —
  * same accumulation order in double — but one compiled loop instead of
  * ~4*dim interpreted lambda evaluations per pair. */
case class CosineSim(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  private lazy val lf = TextHashes.floatElements(left.dataType, "cosine_sim")
  private lazy val rf = TextHashes.floatElements(right.dataType, "cosine_sim")
  override def nullSafeEval(a: Any, b: Any): Any =
    TextHashes.cosineSim(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], lf, rf)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextHashes.cosineSim($a, $b, $lf, $rf)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

/** `lsh_buckets(array<float>) -> array<long>`: codegen'd multi-table
  * sign-random-projection bucketing (all tables in one compiled pass). */
case class LshBuckets(child: Expression, planes: Seq[Double], tables: Int,
    bits: Int, dim: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  private lazy val planesArr = planes.toArray
  override def nullSafeEval(v: Any): Any =
    TextHashes.lshBuckets(v.asInstanceOf[ArrayData], planesArr, tables, bits, dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("lshPlanes", planesArr, "double[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHashes.lshBuckets($c, $pRef, $tables, $bits, $dim)")
  }
  override protected def withNewChildInternal(newChild: Expression): LshBuckets =
    copy(child = newChild)
}

/** `lsh_probes(array<float>) -> array<long>`: codegen'd multi-probe bucket
  * generation — tables * 2^flip buckets per vector (see
  * [[TextHashes.lshProbes]]). */
case class LshProbes(child: Expression, planes: Seq[Double], tables: Int,
    bits: Int, dim: Int, flip: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  private lazy val planesArr = planes.toArray
  override def nullSafeEval(v: Any): Any =
    TextHashes.lshProbes(v.asInstanceOf[ArrayData], planesArr, tables, bits, dim, flip)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("lshPlanes", planesArr, "double[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHashes.lshProbes($c, $pRef, $tables, $bits, $dim, $flip)")
  }
  override protected def withNewChildInternal(newChild: Expression): LshProbes =
    copy(child = newChild)
}

/** `nearest_centroids(array<float|double>) -> array<struct<id, score>>`:
  * the `n` nearest of a fixed centroid set ([[TextHashes.nearestCentroids]]).
  * The centroids and ids reach generated code as reference objects, as
  * [[LshBuckets]]' planes do, so the code text depends on neither: a new
  * centroid set compiles nothing new. */
case class NearestCentroids(child: Expression, centroids: Seq[(Long, Array[Double])],
    rounded: Boolean, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("score", DoubleType))),
    containsNull = false)
  override def nullable: Boolean = centroids.isEmpty
  private lazy val embFloat = TextHashes.floatElements(child.dataType, "nearest_centroids")
  private lazy val cents =
    centroids.map(c => UnsafeArrayData.fromPrimitiveArray(c._2): ArrayData).toArray
  private lazy val ids = centroids.map(_._1).toArray
  override def eval(input: InternalRow): Any = TextHashes.nearestCentroids(
    child.eval(input).asInstanceOf[ArrayData], embFloat, cents, ids, rounded, n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val e = child.genCode(ctx)
    val cRef = ctx.addReferenceObj("centroids", cents, "ArrayData[]")
    val iRef = ctx.addReferenceObj("centroidIds", ids, "long[]")
    ev.copy(code = code"""${e.code}
      ArrayData ${ev.value} = graft.functions.TextHashes.nearestCentroids(
        ${e.isNull} ? null : ${e.value}, $embFloat, $cRef, $iRef, $rounded, $n);
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }
  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
}

/** Column-API + SQL registration for the custom expressions. */
object GraftFunctions {
  def lsh_buckets(c: Column, planes: Seq[Double], tables: Int, bits: Int, dim: Int): Column =
    ColumnBridge.column(LshBuckets(ColumnBridge.expression(c), planes, tables, bits, dim))

  def lsh_probes(c: Column, planes: Seq[Double], tables: Int, bits: Int, dim: Int,
      flip: Int): Column =
    ColumnBridge.column(LshProbes(ColumnBridge.expression(c), planes, tables, bits, dim, flip))

  def cosine_sim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSim(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def nearest_centroids(emb: Column, centroids: Seq[(Long, Array[Double])],
      rounded: Boolean, n: Int = 1): Column =
    ColumnBridge.column(NearestCentroids(ColumnBridge.expression(emb), centroids, rounded, n))

  /** The whitespace tokens of `text`, the one word rule of every token
    * query: `trim` strips spaces only, so a text that starts with a tab
    * has "" as its first token, and no token holds a space. */
  def words(text: Column): Column = split(trim(text), "\\s+")

  def poly_hash(c: Column): Column = ColumnBridge.column(PolyHash(ColumnBridge.expression(c)))

  /** The code-point fold of [[PolyHash]]: `TextAnalysis.fingerprint`. */
  def code_point_hash(c: Column): Column =
    ColumnBridge.column(PolyHash(ColumnBridge.expression(c), codePoints = true))

  /** Word n-grams of an `array<string>` or code-point n-grams of a
    * string ([[Ngrams]]). */
  def ngrams(c: Column, n: Int, distinct: Boolean = false): Column =
    ColumnBridge.column(Ngrams(ColumnBridge.expression(c), Literal(n), distinct))

  def span_hashes(c: Column, n: Int): Column =
    ColumnBridge.column(SpanHashes(ColumnBridge.expression(c), n))

  def cut_tokens(words: Column, starts: Column, k: Int): Column =
    ColumnBridge.column(
      CutTokens(ColumnBridge.expression(words), ColumnBridge.expression(starts), k))

  def simhash64(c: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(c)))

  def snippet_windows(units: Column, window: Int, stride: Int): Column =
    ColumnBridge.column(SnippetWindows(ColumnBridge.expression(units), window, stride))

  def ingest_pages(words: Column, source: Column, pageTokens: Int, window: Int,
      stride: Int): Column =
    ColumnBridge.column(IngestPages(ColumnBridge.expression(words),
      ColumnBridge.expression(source), pageTokens, window, stride))

  def minhash_sig(c: Column, a: Seq[Long], b: Seq[Long]): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(c), a, b))

  /** Spark's native codegen'd bloom-filter aggregate over a LONG column
    * (the building block of its own runtime join filters). Internal
    * expression, not in the public function registry — bridged exactly
    * like the custom expressions above. */
  def bloom_agg(c: Column, estimatedItems: Long, numBits: Long): Column =
    ColumnBridge.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        ColumnBridge.expression(c),
        org.apache.spark.sql.catalyst.expressions.Literal(estimatedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
        .toAggregateExpression())

  /** Bloom membership probe; `bloom` must be foldable (a collected
    * binary literal — might_contain deserializes it once at init). */
  def might_contain(bloom: Column, value: Column): Column =
    ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        ColumnBridge.expression(bloom), ColumnBridge.expression(value)))

  /** Register SQL names on a session (`SELECT poly_hash(text) ...`).
    * `minhash_sig` binds the engine's canonical hash family; `word_ngrams`
    * takes its n as a literal second argument. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "poly_hash", exprs => PolyHash(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSim(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "word_ngrams", exprs => Ngrams(exprs(0), exprs(1), distinct = true), "built-in")
    reg.createOrReplaceTempFunction(
      "simhash64", exprs => SimHash64(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "minhash_sig", exprs => MinHashSig(exprs.head,
        graft.operators.Dedup.hashParams.map(_._1),
        graft.operators.Dedup.hashParams.map(_._2)), "built-in")
  }
}

/** SparkSessionExtensions entry point: build sessions with
  * `SparkSession.builder().withExtensions(new GraftExtensions)` (or set
  * `spark.sql.extensions=graft.functions.GraftExtensions`) to get the
  * engine's SQL functions injected at session construction — the
  * extension-registration path for cluster deployments where the session
  * is created by the platform, not by library code. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectFunction((FunctionIdentifier("poly_hash"),
      new ExpressionInfo(classOf[PolyHash].getName, "poly_hash"),
      (exprs: Seq[Expression]) => PolyHash(exprs.head)))
    e.injectFunction((FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSim(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[Ngrams].getName, "word_ngrams"),
      (exprs: Seq[Expression]) => Ngrams(exprs(0), exprs(1), distinct = true)))
    e.injectFunction((FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (exprs: Seq[Expression]) => SimHash64(exprs.head)))
    e.injectFunction((FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (exprs: Seq[Expression]) => MinHashSig(exprs.head,
        graft.operators.Dedup.hashParams.map(_._1),
        graft.operators.Dedup.hashParams.map(_._2))))
  }
}
