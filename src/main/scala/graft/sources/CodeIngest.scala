package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Code-corpus preparation — the source-code slice of a pretraining mix
  * (The Stack / StarCoder prep): license screening decides what may be
  * trained on, comment/docstring extraction feeds code-quality signals
  * and code-to-text pairing, and secret redaction strips live
  * credentials before anything ships. Three gates over ONE staged
  * fixture of C-family source files:
  *
  *   - `q_license`: SPDX-License-Identifier tag wins; otherwise the
  *     FIRST block comment is normalized (lowercase, collapsed
  *     whitespace) and matched against known license header phrases
  *     (MIT, Apache-2.0, BSD-3-Clause); neither -> NONE/none.
  *   - `q_code_comments`: a quote-aware comment scanner (state machine
  *     over normal / line / block / single-quoted / double-quoted
  *     string states, escape-aware) counts line and block comments and
  *     extracts the slash-star-star docstring — string literals
  *     containing comment openers must NOT open comments (planted).
  *   - `q_secrets`: deterministic credential rules — AWS-style access
  *     keys (AKIA + 16 uppercase alnum), 40-hex tokens (VCS object /
  *     token shapes), and a HIGH-ENTROPY screen (runs of 32+
  *     base64-alphabet chars with >= 20 distinct characters — an
  *     integer proxy for Shannon entropy; the hex40 rule's 16-char
  *     alphabet stays below it, so the kinds are disjoint). Planted
  *     decoys (short hex, URLs, a 32-char single-char run) must NOT
  *     flag.
  *
  * At 100 TB: all three are narrow per-row scans over the staged files;
  * code bytes never shuffle.
  */
object CodeIngest {

  // ----------------------------------------------------------- fixture

  def licenseSlot(docId: Long): Int = (docId % 5).toInt

  private def licenseHeader(docId: Long): String = licenseSlot(docId) match {
    case 0 => "// SPDX-License-Identifier: MIT\n"
    case 1 => "/* Copyright (c) 2026 Holder\n" +
      " * Permission is hereby granted, free of charge, to any person\n" +
      " * obtaining a copy of this software.\n */\n"
    case 2 => "// SPDX-License-Identifier: Apache-2.0\n"
    case 3 => "/* Copyright 2026 Holder\n" +
      " * Licensed under the Apache License, Version 2.0 (the \"License\");\n" +
      " * you may not use this file except in compliance.\n */\n"
    case _ => ""
  }

  private val Alnum36 = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
  private val Hex16 = "0123456789abcdef"
  private val B64 =
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"

  def awsKey(docId: Long): String =
    "AKIA" + (0 until 16).map(j => Alnum36(((docId * 7 + j * 11) % 36).toInt)).mkString
  def hexToken(docId: Long): String =
    (0 until 40).map(j => Hex16(((docId * 13 + j * 5) % 16).toInt)).mkString
  /** 32 chars stepping the 64-alphabet by 17 (coprime to 64): all 32
    * distinct — clears the >= 20 entropy bar by construction. */
  def entropyToken(docId: Long): String =
    (0 until 32).map(j => B64(((docId + j * 17) % 64).toInt)).mkString

  def plantAws(docId: Long): Boolean = docId % 2 == 0
  def plantHex(docId: Long): Boolean = docId % 3 == 0
  def plantEntropy(docId: Long): Boolean = docId % 4 == 0

  /** One deterministic source file: license header by slot, the document
    * body as a slash-star-star docstring, comment-scanner traps
    * (comment openers inside strings), planted secrets and planted decoys. */
  def buildCode(docId: Long, text: String): String = {
    val secrets = Seq(
      if (plantAws(docId)) s"""  var key = "${awsKey(docId)}";\n""" else "",
      if (plantHex(docId)) s"""  var tok = "${hexToken(docId)}";\n""" else "",
      if (plantEntropy(docId)) s"""  var gen = "${entropyToken(docId)}";\n""" else "")
      .mkString
    licenseHeader(docId) +
      s"/**\n$text\n*/\n" +
      s"function doc$docId() {\n" +
      s"  // line note $docId\n" +
      "  var s = \"no // comment and /* no block */ here\";\n" +
      "  var u = \"https://example.com/path\";\n" +
      "  var d1 = \"beef1234\";\n" +
      "  var d2 = \"" + "a" * 32 + "\";\n" +
      s"""  var d3 = "${hexToken(docId + 1)}0";\n""" + // 41 hex: boundary-fails the 40-hex rule
      secrets +
      "  /* block\n     part */\n" +
      s"  return $docId; // tail\n" +
      "}\n"
  }

  private def codeFiles(s: SparkSession, d: String) = {
    import s.implicits._
    // own v2 suffix: the 41-hex boundary decoy joined the template after
    // first staging; a CSV-style kind bump avoids rebuilding every other
    // fixture for a code-only change
    BinaryIngest.readPerDoc(s, d, "code_v2_fixture", "mod", "js")(
        (id, text) => buildCode(id, text).getBytes(UTF_8))
      .mapPartitions(_.map { case (id, bytes) => (id, new String(bytes, UTF_8)) })
  }

  // ---------------------------------------------------- comment scanner

  /** Comment scan result: line/block counts, every block's raw content,
    * and the code with all comments removed (for downstream rules). */
  final case class CommentScan(nLine: Int, nBlock: Int,
      blocks: Seq[String], stripped: String)

  /** Quote-aware single-pass scanner: comment openers inside string literals
    * do not open comments; `\"` and `\'` escapes do not close strings;
    * unterminated constructs run to EOF (lenient). */
  def scanComments(code: String): CommentScan = {
    val n = code.length
    var nLine = 0
    var nBlock = 0
    val blocks = Seq.newBuilder[String]
    val stripped = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = code.charAt(i)
      if (c == '/' && i + 1 < n && code.charAt(i + 1) == '/') {
        nLine += 1
        while (i < n && code.charAt(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < n && code.charAt(i + 1) == '*') {
        nBlock += 1
        val end = code.indexOf("*/", i + 2)
        blocks += code.substring(i + 2, if (end < 0) n else end)
        i = if (end < 0) n else end + 2
      } else if (c == '"' || c == '\'') {
        stripped.append(c)
        i += 1
        while (i < n && code.charAt(i) != c) {
          if (code.charAt(i) == '\\' && i + 1 < n) { stripped.append(code, i, i + 2); i += 2 }
          else { stripped.append(code.charAt(i)); i += 1 }
        }
        if (i < n) { stripped.append(c); i += 1 }
      } else { stripped.append(c); i += 1 }
    }
    CommentScan(nLine, nBlock, blocks.result(), stripped.toString)
  }

  /** The docstring: first block comment whose raw text begins with '*'
    * (i.e. the doc-comment form), content whitespace-collapsed. */
  def docstring(scan: CommentScan): String =
    scan.blocks.find(_.startsWith("*"))
      .map(_.substring(1).replaceAll("[\\s\\u00a0]+", " ").trim)
      .getOrElse("")

  def qCodeComments(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    codeFiles(s, d)
      .mapPartitions(_.map { case (id, code) =>
        val sc = scanComments(code)
        (id, sc.nLine, sc.nBlock, docstring(sc))
      })
      .toDF("doc_id", "n_line_comments", "n_block_comments", "docstring")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------- license screen

  private val SpdxTag = "SPDX-License-Identifier:"
  private val HeaderPhrases = Seq(
    ("permission is hereby granted, free of charge", "MIT"),
    ("licensed under the apache license, version 2.0", "Apache-2.0"),
    ("redistribution and use in source and binary forms", "BSD-3-Clause"))

  /** (license, via): the SPDX tag anywhere in the file wins; else the
    * FIRST block comment, normalized, is matched against known header
    * phrases; else (NONE, none). */
  def detectLicense(code: String): (String, String) = {
    val tag = code.indexOf(SpdxTag)
    if (tag >= 0) {
      val eol = code.indexOf('\n', tag)
      val id = code.substring(tag + SpdxTag.length, if (eol < 0) code.length else eol).trim
      if (id.nonEmpty) return (id, "spdx")
    }
    val scan = scanComments(code)
    scan.blocks.headOption.foreach { b =>
      val norm = b.toLowerCase.replaceAll("[\\s\\u00a0*]+", " ").trim
      HeaderPhrases.foreach { case (phrase, lic) =>
        if (norm.contains(phrase)) return (lic, "header")
      }
    }
    ("NONE", "none")
  }

  def qLicense(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    codeFiles(s, d)
      .mapPartitions(_.map { case (id, code) =>
        val (lic, via) = detectLicense(code)
        (id, lic, via)
      })
      .toDF("doc_id", "license", "via")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------- secret screen

  private val AwsRe = "AKIA[A-Z0-9]{16}".r
  private val HexRe = "(?<![0-9a-f])[0-9a-f]{40}(?![0-9a-f])".r
  private val RunRe = "[A-Za-z0-9+/=]{32,}".r

  /** Per-kind counts over a file. The entropy screen skips runs already
    * claimed by the structured rules (hex's 16-char alphabet can't reach
    * 20 distinct anyway — the disjointness is by construction). */
  def secretCounts(code: String): Seq[(String, Long)] = {
    val aws = AwsRe.findAllIn(code).length.toLong
    val hex = HexRe.findAllIn(code).length.toLong
    val entropy = RunRe.findAllIn(code)
      .count(run => run.distinct.length >= 20 && !run.startsWith("AKIA") &&
        !run.forall(ch => ch >= '0' && ch <= '9' || ch >= 'a' && ch <= 'f'))
      .toLong
    Seq(("aws", aws), ("entropy", entropy), ("hex40", hex)).filter(_._2 > 0)
  }

  def qSecrets(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    codeFiles(s, d)
      .mapPartitions(_.flatMap { case (id, code) =>
        secretCounts(code).map { case (kind, cnt) => (id, kind, cnt) }
      })
      .toDF("doc_id", "kind", "n_found")
      .orderBy("doc_id", "kind")
  }
}
