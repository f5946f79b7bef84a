package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, SparkSession}

/** LaTeX → prose extraction — the arXiv slice of a pretraining mix
  * (RedPajama/peS2o-style): papers arrive as .tex source, and the
  * training corpus wants the prose without preamble, comments, math
  * bodies, citation keys or layout commands.
  *
  * The extractor is a single left-to-right pass (the htmlToText/
  * mdToText discipline — linear, RE2-free, never throws):
  *   - `%` comments drop to EOL (`\%` is a literal percent and stays);
  *   - math drops WHOLE: `$…$`, `$$…$$`, `\[…\]`, `\(…\)` and the bodies
  *     of math/float environments (equation, align, figure, table,
  *     tabular — starred forms too);
  *   - `\begin{X}`/`\end{X}` markers drop for kept environments
  *     (document, itemize, enumerate, abstract, …) — their bodies flow;
  *   - commands: a KEEP set unwraps its braced argument
  *     (\section{…}, \emph{…}, \textbf{…}, \title{…}, …), a DROP set
  *     swallows the argument (\cite, \ref, \label, \usepackage,
  *     \documentclass, \includegraphics, …), anything else drops the
  *     command token and keeps what follows (\maketitle, \item, \alpha);
  *   - `~` is a tie space, `\\` a line break — both become spaces;
  *     `\{ \} \% \& \_` unescape to their literal;
  *   - whitespace collapses.
  *
  * At 100 TB: narrow per-row mapPartitions over staged .tex files —
  * the same posture as the markdown/HTML extractors.
  */
object LatexIngest {

  /** Commands whose single braced argument is PROSE — unwrap it. */
  private val KeepArg: Set[String] = Set(
    "section", "subsection", "subsubsection", "paragraph", "title",
    "author", "emph", "textbf", "textit", "texttt", "underline",
    "mbox", "caption", "chapter")

  /** Commands whose braced argument is MACHINERY — swallow it. */
  private val DropArg: Set[String] = Set(
    "cite", "citep", "citet", "ref", "eqref", "label", "usepackage",
    "documentclass", "includegraphics", "bibliography",
    "bibliographystyle", "input", "include", "vspace", "hspace")

  /** Environments whose whole BODY drops (math + floats). */
  private val DropEnv: Set[String] = Set(
    "equation", "equation*", "align", "align*", "eqnarray", "eqnarray*",
    "displaymath", "math", "figure", "figure*", "table", "table*",
    "tabular", "verbatim")

  /** The extractor. Unterminated constructs consume to EOF (lenient). */
  def texToText(tex: String): String = {
    if (tex == null) return ""
    val n = tex.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    def bracedArg(from: Int): Option[(String, Int)] =
      if (from < n && tex.charAt(from) == '{') {
        var depth = 1
        var j = from + 1
        while (j < n && depth > 0) {
          val c = tex.charAt(j)
          if (c == '{') depth += 1 else if (c == '}') depth -= 1
          j += 1
        }
        Some((tex.substring(from + 1, math.max(from + 1, j - 1)), j))
      } else None
    while (i < n) {
      val c = tex.charAt(i)
      if (c == '%') { // comment to EOL
        while (i < n && tex.charAt(i) != '\n') i += 1
      } else if (c == '$') { // $…$ or $$…$$
        val double = i + 1 < n && tex.charAt(i + 1) == '$'
        val open = if (double) 2 else 1
        var j = i + open
        while (j < n && tex.charAt(j) != '$') j += 1
        i = math.min(n, j + open)
        sb.append(' ')
      } else if (c == '~') { sb.append(' '); i += 1 }
      else if (c == '\\') {
        if (i + 1 >= n) i = n
        else {
          val c1 = tex.charAt(i + 1)
          if (c1 == '\\') { sb.append(' '); i += 2 }                 // line break
          else if ("{}%&_#$".indexOf(c1) >= 0) { sb.append(c1); i += 2 } // escapes
          else if (c1 == '[') { // display math \[…\]
            val end = tex.indexOf("\\]", i + 2)
            i = if (end < 0) n else end + 2
            sb.append(' ')
          } else if (c1 == '(') { // inline math \(…\)
            val end = tex.indexOf("\\)", i + 2)
            i = if (end < 0) n else end + 2
            sb.append(' ')
          } else if (c1.isLetter) {
            var j = i + 1
            while (j < n && tex.charAt(j).isLetter) j += 1
            val cmd = tex.substring(i + 1, j)
            while (j < n && tex.charAt(j) == '*') j += 1 // starred forms
            if (cmd == "begin" || cmd == "end") {
              bracedArg(j) match {
                case Some((env, after)) =>
                  if (cmd == "begin" && DropEnv.contains(env)) {
                    val marker = s"\\end{$env}"
                    val stop = tex.indexOf(marker, after)
                    i = if (stop < 0) n else stop + marker.length
                  } else i = after // kept env (or \end): marker drops, body flows
                case None => i = j
              }
              sb.append(' ')
            } else if (KeepArg.contains(cmd)) {
              bracedArg(j) match {
                case Some((arg, after)) => sb.append(' ').append(arg).append(' '); i = after
                case None               => sb.append(' '); i = j
              }
            } else if (DropArg.contains(cmd)) {
              bracedArg(j) match {
                case Some((_, after)) => sb.append(' '); i = after
                case None             => sb.append(' '); i = j
              }
            } else { sb.append(' '); i = j } // bare command (\maketitle, \item)
          } else i += 2 // unknown escape: drop both
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString.replaceAll("[\\s\\u00a0]+", " ").trim
  }

  /** Deterministic paper source for (docId, text): preamble (dropped),
    * title/author (kept args), a comment, sectioned body, inline and
    * display math (dropped), emphasis (unwrapped), a citation (key
    * swallowed, prose kept), an itemize (markers out, items kept), a
    * figure float (dropped whole, caption included) and escapes. */
  def buildTex(docId: Long, text: String): String =
    s"""\\documentclass{article}
\\usepackage{amsmath}
% preamble comment never surfaces
\\title{Doc $docId}
\\author{author $docId}
\\begin{document}
\\maketitle
\\section{Introduction}
$text

The bound $$x_$docId \\le y$$ holds, and \\(z > 0\\) too; see~\\cite{graft$docId}.
\\begin{equation}
e = mc^2 + $docId
\\end{equation}
\\emph{closing} \\textbf{remarks} keep 100\\% of prose.
\\begin{itemize}
\\item item alpha
\\item item beta
\\end{itemize}
\\begin{figure}
\\includegraphics{fig$docId.png}
\\caption{never surfaces}
\\end{figure}
\\end{document}"""

  /** Oracle-checked LaTeX extraction: staged papers wrap each document's
    * text in preamble/math/citation/float machinery; the extractor must
    * surface exactly the prose — a leaked equation body, citation key,
    * caption or preamble line all hash-mismatch against the oracle's
    * closed form. */
  def qLatex(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    BinaryIngest.readPerDoc(s, d, "tex_fixture", "paper", "tex")(
        (id, text) => buildTex(id, text).getBytes(UTF_8))
      .mapPartitions(_.map { case (id, bytes) => (id, texToText(new String(bytes, UTF_8))) })
      .toDF("doc_id", "text_tex")
      .orderBy("doc_id")
  }
}
