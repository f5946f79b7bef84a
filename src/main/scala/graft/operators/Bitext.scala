package graft.operators

import graft.sources.BinaryIngest
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bitext sentence alignment — the parallel-corpus construction step of
  * a translation-data pipeline (Gale & Church 1993, hunalign): given a
  * document and its translation, pair up sentences so that 1-1, 2-1 and
  * 1-2 groups line up, using only sentence LENGTHS (the observation the
  * original paper made: length correlation alone aligns most of a real
  * corpus; lexical refinement slots in behind the same seam).
  *
  * The cost model is integer-exact so a closed-form oracle can state the
  * recovered alignment: the staged "translations" scale lengths by 3/2
  * (floor), so a correct group costs |2·T - 3·S| ∈ {0, 1}, while any
  * misaligned group pays a full sentence length (>= 20·3/2 here); merge
  * and split moves carry an additive penalty of [[BeadPenalty]] (the
  * Gale-Church prior against non-1-1 beads). With the planted margins
  * the DP's optimum is the planted alignment, which the oracle restates
  * from the plant formulas without running any DP.
  *
  * Scale shape: sentence lengths collapse per document BEFORE the
  * sides join (an array of <= ~11 ints per row — document text never
  * shuffles); the per-pair DP is O(n·m) local work in one mapPartitions
  * over the joined pairs. At corpus scale the join key is the document
  * id — co-partitioned sides join without a broadcast of either corpus.
  */
object Bitext {

  val BeadPenalty = 4L

  // ------------------------------------------------------------ plant

  /** Source geometry: 6-10 sentences, lengths 20-49, all from doc_id. */
  def nSrcSentences(docId: Long): Int = (6 + docId % 5).toInt
  def srcLen(docId: Long, k: Int): Int = (20 + (docId * 7 + k * 13) % 30).toInt

  /** Plant pattern mod 4 on (k + docId): residue 1 starts a 2-1 merge
    * (consuming k+1, residue 2 — the spacing makes overlap impossible),
    * residue 3 is a 1-2 split, residues 0/2(unconsumed) are 1-1. */
  def isMergeStart(docId: Long, k: Int, n: Int): Boolean =
    (k + docId) % 4 == 1 && k + 1 < n
  def isConsumed(docId: Long, k: Int): Boolean =
    k >= 1 && (k - 1 + docId) % 4 == 1
  def isSplit(docId: Long, k: Int): Boolean = (k + docId) % 4 == 3

  /** Target sentence lengths for the document, in order: merges emit
    * floor(3(S1+S2)/2), splits emit floor(3S/4) then the remainder,
    * plain sentences floor(3S/2). */
  def tgtLens(docId: Long): Seq[Int] = {
    val n = nSrcSentences(docId)
    val out = Seq.newBuilder[Int]
    var k = 0
    while (k < n) {
      val s = srcLen(docId, k)
      if (isMergeStart(docId, k, n)) {
        out += 3 * (s + srcLen(docId, k + 1)) / 2
        k += 2
      } else if (isSplit(docId, k)) {
        val t1 = 3 * s / 4
        out += t1
        out += 3 * s / 2 - t1
        k += 1
      } else { out += 3 * s / 2; k += 1 }
    }
    out.result()
  }

  /** A deterministic "sentence" of exactly `len` chars ending in '.'. */
  def sentence(len: Int): String = "w" * (len - 1) + "."

  // --------------------------------------------------------- alignment

  /** Length-based DP alignment: moves (1,1), (2,1), (1,2); cost
    * |2T - 3S| (+ penalty off the 1-1 diagonal); ties prefer 1-1, then
    * 2-1, then 1-2 — a deterministic total order, so the recovered path
    * is unique. Returns (src_start, n_src, tgt_start, n_tgt) groups. */
  def align(src: Array[Int], tgt: Array[Int]): Seq[(Int, Int, Int, Int)] = {
    val n = src.length
    val m = tgt.length
    val Inf = Long.MaxValue / 4
    val dp = Array.fill(n + 1, m + 1)(Inf)
    val mv = Array.fill(n + 1, m + 1)(0) // 1 = 1-1, 2 = 2-1, 3 = 1-2
    dp(0)(0) = 0L
    var i = 1
    while (i <= n) {
      var j = 1
      while (j <= m) {
        var best = Inf
        var move = 0
        if (dp(i - 1)(j - 1) < Inf) {
          val c = dp(i - 1)(j - 1) + math.abs(2L * tgt(j - 1) - 3L * src(i - 1))
          if (c < best) { best = c; move = 1 }
        }
        if (i >= 2 && dp(i - 2)(j - 1) < Inf) {
          val c = dp(i - 2)(j - 1) + BeadPenalty +
            math.abs(2L * tgt(j - 1) - 3L * (src(i - 2) + src(i - 1)))
          if (c < best) { best = c; move = 2 }
        }
        if (j >= 2 && dp(i - 1)(j - 2) < Inf) {
          val c = dp(i - 1)(j - 2) + BeadPenalty +
            math.abs(2L * (tgt(j - 2) + tgt(j - 1)) - 3L * src(i - 1))
          if (c < best) { best = c; move = 3 }
        }
        dp(i)(j) = best
        mv(i)(j) = move
        j += 1
      }
      i += 1
    }
    // backtrack
    val groups = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Int)]
    var ci = n
    var cj = m
    while (ci > 0 || cj > 0) {
      mv(ci)(cj) match {
        case 1 => groups += ((ci - 1, 1, cj - 1, 1)); ci -= 1; cj -= 1
        case 2 => groups += ((ci - 2, 2, cj - 1, 1)); ci -= 2; cj -= 1
        case 3 => groups += ((ci - 1, 1, cj - 2, 2)); ci -= 1; cj -= 2
        case _ => return Seq.empty // unreachable state: refuse, don't loop
      }
    }
    groups.reverse.toSeq
  }

  /** Oracle-checked alignment: the engine reads BOTH staged sides (real
    * sentence-per-line text files, the shape a downloaded parallel corpus
    * has: one fixture kind per side, one file per document),
    * collapses each to its sentence-length array, joins the pair on
    * doc_id (lengths only — text never shuffles) and runs the DP; the
    * oracle restates the planted merge/split pattern in closed form,
    * never running an alignment. A DP that drifts one boundary, misses
    * a merge or flips a split hash-mismatches. */
  def qBitext(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    def side(prefix: String)(sentences: Long => Seq[String]) =
      BinaryIngest.readPerDoc(s, d, s"bitext_${prefix}_fixture", prefix, "txt")(
          (id, _) => sentences(id).mkString("\n").getBytes(UTF_8))
        .mapPartitions(_.map { case (id, bytes) =>
          (id, new String(bytes, UTF_8).split("\n", -1).filter(_.nonEmpty).map(_.length))
        })
        .toDF("doc_id", s"${prefix}_lens")
    side("src")(id => (0 until nSrcSentences(id)).map(k => sentence(srcLen(id, k))))
      .join(side("tgt")(id => tgtLens(id).map(sentence)), "doc_id")
      .as[(Long, Array[Int], Array[Int])]
      .mapPartitions(_.flatMap { case (id, sl, tl) =>
        align(sl, tl).zipWithIndex.map { case ((ss, ns, ts, nt), idx) =>
          (id, idx, ss, ns, ts, nt)
        }
      })
      .toDF("doc_id", "align_idx", "src_start", "n_src", "tgt_start", "n_tgt")
      .orderBy("doc_id", "align_idx")
  }
}
