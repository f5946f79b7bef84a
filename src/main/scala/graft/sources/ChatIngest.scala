package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Chat-transcript preparation — the SFT (supervised fine-tuning) slice
  * of a training mix: conversations arrive as role-tagged transcripts,
  * and the pipeline must (a) parse them into ordered turns and (b) mark
  * which turns carry loss — the assistant-only masking rule every
  * instruction-tuning recipe applies (loss on assistant tokens, none on
  * system/user context).
  *
  * The transcript format is the `<|role|>` marker-line family (ChatML
  * shape): a line that is exactly `<|system|>`, `<|user|>` or
  * `<|assistant|>` opens a turn; everything until the next marker is
  * that turn's content. Unknown markers and content before the first
  * marker are DROPPED (lenient — crawled SFT data is messy). Content
  * whitespace-collapses per turn; token counts are whitespace counts
  * (the q_token_count convention).
  *
  * At 100 TB: one narrow per-row parse; transcripts never shuffle.
  */
object ChatIngest {

  val Roles = Set("system", "user", "assistant")

  /** Parse a transcript into (turn_idx, role, content, n_tokens,
    * in_loss) tuples. Linear single pass over lines. */
  def parseChat(transcript: String): Seq[(Int, String, String, Long, Boolean)] = {
    if (transcript == null) return Seq.empty
    val turns = Seq.newBuilder[(String, String)]
    var role: String = null
    val sb = new java.lang.StringBuilder()
    def flush(): Unit = if (role != null) {
      turns += ((role, sb.toString.replaceAll("[\\s\\u00a0]+", " ").trim))
      sb.setLength(0)
    }
    transcript.split("\n", -1).foreach { line =>
      val t = line.trim
      if (t.startsWith("<|") && t.endsWith("|>")) {
        val r = t.substring(2, t.length - 2)
        flush()
        role = if (Roles.contains(r)) r else null // unknown marker: drop until next
      } else if (role != null) sb.append(line).append('\n')
    }
    flush()
    turns.result().zipWithIndex.map { case ((r, c), i) =>
      val nTok = if (c.isEmpty) 0L else c.split(" ").length.toLong
      (i, r, c, nTok, r == "assistant")
    }
  }

  /** Deterministic transcript for (docId, text): system prompt, the
    * document body as the user turn, two assistant replies with a
    * follow-up between, plus an UNKNOWN-role turn and pre-marker
    * garbage that must both vanish. */
  def buildChat(docId: Long, text: String): String =
    s"""stray preamble line that must not survive
<|system|>
You are assistant $docId.
<|user|>
$text
<|assistant|>
Reply one for doc $docId.
<|tool|>
unknown role content never surfaces
<|user|>
Follow-up $docId?
<|assistant|>
Reply two."""

  /** Oracle-checked turn parsing + loss masking: staged transcripts
    * embed the document body as the user turn among closed-form turns,
    * an unknown-role turn and pre-marker garbage; the oracle states
    * every turn's index, role, content, token count and loss flag — a
    * parser that leaks the unknown turn, miscounts after an empty body,
    * or flags a user turn for loss all hash-mismatch. */
  def qChatTurns(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    BinaryIngest.readPerDoc(s, d, "chat_fixture", "chat", "txt")(
        (id, text) => buildChat(id, text).getBytes(UTF_8))
      .mapPartitions(_.flatMap { case (id, bytes) =>
        parseChat(new String(bytes, UTF_8))
          .map { case (i, r, c, n, loss) => (id, i, r, c, n, loss) }
      })
      .toDF("doc_id", "turn_idx", "role", "content", "n_tokens", "in_loss")
      .orderBy("doc_id", "turn_idx")
  }
}
