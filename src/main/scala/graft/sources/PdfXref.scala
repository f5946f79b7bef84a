package graft.sources

/** Cross-reference-STREAM PDF layout (PDF 1.5+, ISO 32000-1 §7.5.8):
  * `startxref` points at a `/Type /XRef` stream object whose W-packed
  * binary rows (optionally PNG-predictor-filtered, §7.4.4.4) form the
  * object table, with non-stream objects packed into `/Type /ObjStm`
  * compressed object streams (§7.5.7). This is the layout most post-1.5
  * producers emit — the reference reads it for free through fitz
  * (data_ingestion.py:116-122).
  *
  * The loader here is SEMANTIC, not a byte scan: it follows
  * /Root -> /Pages -> /Kids -> /Contents and decodes exactly the
  * referenced content streams (plus any /ToUnicode CMaps reachable from
  * the page fonts). That distinction is what the q_pdf_objstm gate pins:
  * a REWRITTEN file legitimately carries stale generations of edited
  * pages as dead bytes (marked free in the xref), and a scanner that
  * inflates every stream in the file resurrects the stale text — the
  * xref walk cannot.
  *
  * Returns None on anything that isn't this layout (no startxref, a
  * classic `xref` table, an encrypted trailer, malformed fields), so
  * [[BinaryIngest.pdfExtract]] falls back to its scanning path — the
  * correct posture for a crawl: never crash, degrade to the laxer
  * parser.
  *
  * ENCRYPTED xref-stream files stay on this walk since round 13: the
  * /Encrypt dictionary (itself never encrypted, §7.6.1) derives the
  * same standard-security decryptors the legacy scanner implements
  * (RC4 V=2, /AESV2, /AESV3 R=6) and every ObjStm/content/CMap stream
  * decrypts under its per-object key before inflating; a key this
  * build cannot derive routes to the legacy path, which then extracts
  * empty. Out of scope (documented): /Prev incremental chains beyond 8
  * hops, and non-Flate xref filters (LZW is not emitted by modern
  * producers). */
object PdfXref {

  /** One object-table row: tpe 0 free / 1 at byte offset / 2 packed in
    * an ObjStm. */
  private final case class Entry(tpe: Int, a: Long, b: Int)

  private val RefRe = """(\d+)\s+\d+\s+R""".r

  private def keyRef(dict: String, key: String): Option[Int] =
    (java.util.regex.Pattern.quote("/" + key) + """\s+(\d+)\s+\d+\s+R""").r
      .findFirstMatchIn(dict).map(_.group(1).toInt)

  private def keyInt(dict: String, key: String): Option[Int] =
    (java.util.regex.Pattern.quote("/" + key) + """\s+(\d+)""").r
      .findFirstMatchIn(dict).map(_.group(1).toInt)

  private def keyIntArray(dict: String, key: String): Option[Seq[Long]] =
    (java.util.regex.Pattern.quote("/" + key) + """\s*\[([-\d\s]+)\]""").r
      .findFirstMatchIn(dict)
      .map(_.group(1).trim.split("\\s+").filter(_.nonEmpty).toSeq.map(_.toLong))

  /** Position-PRESERVING blank-out of nested dict bodies: characters at
    * `<< >>` depth > 1 become spaces, so a regex over the result sees
    * only the outer dict's own keys, at their original offsets. */
  private def blankNested(d: String): String = {
    val sb = new StringBuilder(d.length)
    var depth = 0
    var i = 0
    while (i < d.length) {
      if (d.regionMatches(i, "<<", 0, 2)) {
        depth += 1; sb.append(if (depth > 1) "  " else "<<"); i += 2
      } else if (d.regionMatches(i, ">>", 0, 2)) {
        sb.append(if (depth > 1) "  " else ">>"); depth -= 1; i += 2
      } else {
        sb.append(if (depth > 1) ' ' else d.charAt(i)); i += 1
      }
    }
    sb.toString
  }

  /** Balanced `<< ... >>` scan from the first `<<` at/after `from`. */
  private def dictAt(raw: String, from: Int): Option[(String, Int)] = {
    val start = raw.indexOf("<<", from)
    if (start < 0) return None
    var depth = 0
    var i = start
    while (i < raw.length - 1) {
      if (raw.regionMatches(i, "<<", 0, 2)) { depth += 1; i += 2 }
      else if (raw.regionMatches(i, ">>", 0, 2)) {
        depth -= 1; i += 2
        if (depth == 0) return Some((raw.substring(start, i), i))
      } else i += 1
    }
    None
  }

  /** PNG predictor inverse (§7.4.4.4; bpp = 1 for xref rows): each row
    * is a filter-type byte then `columns` filtered bytes. */
  private def unpredict(data: Array[Byte], predictor: Int,
      columns: Int): Option[Array[Byte]] = {
    if (predictor < 10) return Some(data)
    val rowLen = columns + 1
    if (columns <= 0 || data.length % rowLen != 0) return None
    val rows = data.length / rowLen
    val out = new Array[Byte](rows * columns)
    var prev = new Array[Byte](columns)
    var r = 0
    while (r < rows) {
      val ft = data(r * rowLen) & 0xFF
      val row = java.util.Arrays.copyOfRange(
        data, r * rowLen + 1, r * rowLen + 1 + columns)
      var i = 0
      ft match {
        case 0 => // None
        case 1 => // Sub
          i = 1
          while (i < columns) { row(i) = (row(i) + row(i - 1)).toByte; i += 1 }
        case 2 => // Up
          while (i < columns) { row(i) = (row(i) + prev(i)).toByte; i += 1 }
        case 3 => // Average
          while (i < columns) {
            val left = if (i > 0) row(i - 1) & 0xFF else 0
            row(i) = (row(i) + ((left + (prev(i) & 0xFF)) / 2)).toByte
            i += 1
          }
        case 4 => // Paeth
          while (i < columns) {
            val a = if (i > 0) row(i - 1) & 0xFF else 0
            val b = prev(i) & 0xFF
            val c = if (i > 0) prev(i - 1) & 0xFF else 0
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
            row(i) = (row(i) + pred).toByte
            i += 1
          }
        case _ => return None
      }
      System.arraycopy(row, 0, out, r * columns, columns)
      prev = row
      r += 1
    }
    Some(out)
  }

  private def inflate(b: Array[Byte], from: Int, until: Int): Option[Array[Byte]] =
    try {
      val inf = new java.util.zip.Inflater()
      inf.setInput(b, from, until - from)
      val buf = new Array[Byte](8192)
      val bos = new java.io.ByteArrayOutputStream()
      var guard = true
      while (guard && !inf.finished()) {
        val n = inf.inflate(buf)
        if (n > 0) bos.write(buf, 0, n)
        else if (inf.needsInput() || inf.needsDictionary()) guard = false
        if (bos.size() > (16 << 20)) guard = false // zip-bomb cap
      }
      val ok = inf.finished()
      inf.end()
      if (ok) Some(bos.toByteArray) else None
    } catch { case _: Exception => None }

  /** Parse the stream object at byte offset `off`: (objNum, dict text,
    * dataStart, rawLengthFromDict). The /Length here must be DIRECT —
    * true of xref streams by spec (the table that would resolve an
    * indirect length is the one being parsed) and of ObjStm fixtures;
    * content streams resolve indirect lengths via [[resolveLength]]. */
  private def streamObjAt(raw: String, off: Int): Option[(Int, String, Int, Option[Int])] = {
    val m = """(\d+)\s+(\d+)\s+obj""".r.findPrefixMatchOf(
      raw.substring(off, math.min(raw.length, off + 64)))
    m.flatMap { hm =>
      dictAt(raw, off + hm.end).flatMap { case (dict, dictEnd) =>
        val sk = raw.indexOf("stream", dictEnd)
        if (sk < 0) None
        else {
          var ds = sk + 6
          if (ds < raw.length && raw.charAt(ds) == '\r') ds += 1
          if (ds < raw.length && raw.charAt(ds) == '\n') ds += 1
          val len = """/Length\s+(\d++)(?!\s+\d+\s+R)""".r
            .findFirstMatchIn(dict).map(_.group(1).toInt)
          Some((hm.group(1).toInt, dict, ds, len))
        }
      }
    }
  }

  /** Decode one xref stream at `off` into (entries, trailer dict). */
  private def xrefStreamAt(raw: String, bytes: Array[Byte],
      off: Int): Option[(Map[Int, Entry], String)] =
    streamObjAt(raw, off).flatMap { case (_, dict, ds, lenOpt) =>
      if (!dict.contains("/XRef")) None
      else for {
        len <- lenOpt
        w <- keyIntArray(dict, "W").filter(_.length >= 3)
        size <- keyInt(dict, "Size")
        if dict.contains("/FlateDecode")
        inflated <- inflate(bytes, ds, ds + len)
        predictor = """/Predictor\s+(\d+)""".r.findFirstMatchIn(dict)
          .map(_.group(1).toInt).getOrElse(1)
        cols = w.map(_.toInt).sum
        rows <- unpredict(inflated, predictor, cols)
      } yield {
        val index = keyIntArray(dict, "Index")
          .getOrElse(Seq(0L, size.toLong))
        val (w0, w1, w2) = (w(0).toInt, w(1).toInt, w(2).toInt)
        val rowLen = w0 + w1 + w2
        val entries = scala.collection.mutable.Map.empty[Int, Entry]
        var row = 0
        index.grouped(2).foreach {
          case Seq(start, count) =>
            var k = 0
            while (k < count && (row + 1) * rowLen <= rows.length) {
              val base = row * rowLen
              def field(o: Int, n: Int): Long = {
                var v = 0L
                var i = 0
                while (i < n) { v = (v << 8) | (rows(base + o + i) & 0xFF); i += 1 }
                v
              }
              // W[0] = 0 means "type defaults to 1" per spec
              val tpe = if (w0 == 0) 1 else field(0, w0).toInt
              entries((start + k).toInt) =
                Entry(tpe, field(w0, w1), field(w0 + w1, w2).toInt)
              row += 1; k += 1
            }
          case _ =>
        }
        (entries.toMap, dict)
      }
    }

  /** Per-object stream decryptor: (objNum, generation, ciphertext) ->
    * plaintext, derived from the /Encrypt dictionary (round 13 — the
    * encrypted xref-stream combination previously routed to the legacy
    * scanner, losing the semantic walk's stale-object and page-scoping
    * guarantees). The xref stream itself and the /Encrypt dictionary
    * are NEVER encrypted (ISO 32000-1 §7.5.8.2, §7.6.1), so table
    * resolution needs no key; ObjStm, content and CMap STREAMS are. */
  private[sources] type Dec = (Int, Int, Array[Byte]) => Option[Array[Byte]]

  /** Decrypt-then-maybe-inflate a stream's data slice. */
  private def streamData(bytes: Array[Byte], ds: Int, len: Int, dict: String,
      num: Int, gen: Int, dec: Option[Dec]): Option[Array[Byte]] = {
    if (ds + len > bytes.length) return None
    val slice = java.util.Arrays.copyOfRange(bytes, ds, ds + len)
    val plain = dec match {
      case Some(d) => d(num, gen, slice)
      case None => Some(slice)
    }
    plain.flatMap(p =>
      if (dict.contains("/FlateDecode")) inflate(p, 0, p.length) else Some(p))
  }

  /** Load the body text of object `num` via the table: type-1 objects
    * parse at their byte offset, type-2 objects come out of their
    * ObjStm's pair table. Non-stream objects only (dicts / numbers). */
  private def objectBody(raw: String, bytes: Array[Byte],
      table: Map[Int, Entry], num: Int,
      objstmCache: scala.collection.mutable.Map[Int, Option[(String, Seq[(Int, Int)], Int)]],
      dec: Option[Dec]): Option[String] =
    table.get(num).flatMap {
      case Entry(1, off, _) =>
        """(\d+)\s+(\d+)\s+obj""".r.findPrefixMatchOf(
          raw.substring(off.toInt, math.min(raw.length, off.toInt + 64)))
          .flatMap { hm =>
            val bodyStart = off.toInt + hm.end
            val end = raw.indexOf("endobj", bodyStart)
            if (end < 0) None else Some(raw.substring(bodyStart, end).trim)
          }
      case Entry(2, stmNum, idx) =>
        val loaded = objstmCache.getOrElseUpdate(stmNum.toInt, {
          for {
            Entry(1, off, gen) <- table.get(stmNum.toInt)
            (_, dict, ds, lenOpt) <- streamObjAt(raw, off.toInt)
            if dict.contains("/ObjStm")
            len <- lenOpt
            n <- keyInt(dict, "N")
            first <- keyInt(dict, "First")
            data <- streamData(bytes, ds, len, dict, stmNum.toInt, gen, dec)
          } yield {
            val text = new String(data, java.nio.charset.StandardCharsets.ISO_8859_1)
            val nums = text.substring(0, math.min(first, text.length))
              .trim.split("\\s+").filter(_.nonEmpty).map(_.toInt)
            val pairs = nums.grouped(2).collect { case Array(a, b) => (a, b) }
              .toSeq.take(n)
            (text, pairs, first)
          }
        })
        loaded.flatMap { case (text, pairs, first) =>
          if (idx >= pairs.length) None
          else {
            val (_, objOff) = pairs(idx)
            val from = first + objOff
            val until =
              if (idx + 1 < pairs.length) first + pairs(idx + 1)._2 else text.length
            if (from > text.length) None
            else Some(text.substring(from, math.min(until, text.length)).trim)
          }
        }
      case _ => None // free entry
    }

  /** Resolve a /Length that may be a direct int or an indirect ref whose
    * integer object lives anywhere the table can reach (typically an
    * ObjStm — the layout detail that defeats offset-free scanners). */
  private def resolveLength(dict: String, raw: String, bytes: Array[Byte],
      table: Map[Int, Entry],
      cache: scala.collection.mutable.Map[Int, Option[(String, Seq[(Int, Int)], Int)]],
      dec: Option[Dec]): Option[Int] =
    """/Length\s+(\d++)(?!\s+\d+\s+R)""".r.findFirstMatchIn(dict)
      .map(m => m.group(1).toInt)
      .orElse {
        """/Length\s+(\d+)\s+\d+\s+R""".r.findFirstMatchIn(dict).flatMap { m =>
          objectBody(raw, bytes, table, m.group(1).toInt, cache, dec)
            .flatMap(b => """\d+""".r.findFirstIn(b).map(_.toInt))
        }
      }

  /** Decode the stream object `num` (type-1 by construction: streams
    * cannot live inside an ObjStm) to its inflated content string. */
  private def streamContent(raw: String, bytes: Array[Byte],
      table: Map[Int, Entry], num: Int,
      cache: scala.collection.mutable.Map[Int, Option[(String, Seq[(Int, Int)], Int)]],
      dec: Option[Dec]): Option[String] =
    table.get(num).collect { case Entry(1, off, gen) => (off, gen) }
      .flatMap { case (off, gen) =>
        streamObjAt(raw, off.toInt).flatMap { case (_, dict, ds, _) =>
          resolveLength(dict, raw, bytes, table, cache, dec).flatMap { len =>
            streamData(bytes, ds, len, dict, num, gen, dec).map(d =>
              new String(d, java.nio.charset.StandardCharsets.ISO_8859_1))
          }
        }
      }

  /** Derive the per-object decryptor from the /Encrypt dictionary —
    * the SAME standard-security generations the legacy scanner decrypts
    * (RC4 V=2, /AESV2 V=4, /AESV3 V=5 R=6; empty user password, /U
    * verified). None = key underivable (passworded, or a form this
    * build does not implement) — the caller falls back to the legacy
    * path, whose own derivation then fails the same way and extracts
    * EMPTY rather than garbage. */
  private[sources] def buildDecryptor(trailer: String, encDict: String): Option[Dec] = try {
    def hex(owner: String, key: String): Option[Array[Byte]] =
      (java.util.regex.Pattern.quote("/" + key) + """\s*<([0-9A-Fa-f\s]+)>""").r
        .findFirstMatchIn(owner)
        .map(m => PdfCrypto.fromHex(m.group(1).replaceAll("\\s", "")))
    if (encDict.contains("/AESV3")) {
      for {
        u <- hex(encDict, "U")
        ue <- hex(encDict, "UE")
        k <- PdfCrypto.fileKeyR6(u, ue)
      } yield (_: Int, _: Int, data: Array[Byte]) => PdfCrypto.aesDecrypt(k, data)
    } else {
      for {
        o <- hex(encDict, "O")
        // .toLong.toInt: some producers write /P as the unsigned 32-bit
        // decimal; the truncation recovers the intended bits
        p <- """/P\s+(-?\d+)""".r.findFirstMatchIn(encDict)
          .map(_.group(1).toLong.toInt)
        id0 <- """/ID\s*\[\s*<([0-9A-Fa-f\s]+)>""".r.findFirstMatchIn(trailer)
          .map(m => PdfCrypto.fromHex(m.group(1).replaceAll("\\s", "")))
        key = PdfCrypto.fileKey(o, p, id0)
        uOk = hex(encDict, "U").forall(u => java.util.Arrays.equals(u.take(16),
          PdfCrypto.computeU(key, id0).take(16)))
        k <- if (uOk) Some(key) else None
      } yield {
        if (encDict.contains("/AESV2"))
          (num: Int, gen: Int, data: Array[Byte]) =>
            PdfCrypto.aesDecrypt(PdfCrypto.objKey(k, num, gen, aes = true), data)
        else
          (num: Int, gen: Int, data: Array[Byte]) =>
            Some(PdfCrypto.rc4(PdfCrypto.objKey(k, num, gen), data))
      }
    }
  } catch { case _: Exception => None }

  /** The standard-security dictionaries of a file read WITHOUT its xref
    * table: the trailer (or xref-stream dictionary) whose /Encrypt comes
    * last in the file, and the dictionary that /Encrypt names — an
    * indirect `N G R` resolved to the last `N G obj` of that number, or
    * an inline `<< >>`. /O, /P and /U are read from that dictionary and
    * /ID from that trailer only: a whole-file scan also matches an
    * annotation's `/P 3 0 R`, or stream ciphertext that happens to hold
    * `/P` and a digit, ahead of the real entry. None when the file has
    * no /Encrypt or either dictionary cannot be found. */
  private[sources] def encryptionDicts(raw: String): Option[(String, String)] =
    if (!raw.contains("/Encrypt")) None
    else """/Encrypt\s*(?:(\d+)\s+(\d+)\s+R|<<)""".r.findAllMatchIn(raw).toSeq.lastOption
      .flatMap { m =>
        val owner = math.max(raw.lastIndexOf("trailer", m.start), raw.lastIndexOf("obj", m.start))
        val encDict =
          if (m.group(1) == null) dictAt(raw, m.start + "/Encrypt".length)
          else ("""(?<!\d)""" + m.group(1) + """\s+""" + m.group(2) + """\s+obj\b""").r
            .findAllMatchIn(raw).toSeq.lastOption.flatMap(o => dictAt(raw, o.end))
        for {
          (trailer, _) <- if (owner < 0) None else dictAt(raw, owner)
          (enc, _) <- encDict
        } yield (trailer, enc)
      }

  /** The xref-stream entry point: when the file's `startxref` points at
    * a cross-reference STREAM, walk /Root -> /Pages -> /Kids ->
    * /Contents and return exactly the referenced content streams (plus
    * any /ToUnicode CMap streams reachable through the page fonts), in
    * page order. None = not this layout / malformed -> caller falls back
    * to the scanner. */
  def contentStreams(bytes: Array[Byte]): Option[Seq[String]] = {
    if (bytes == null) return None
    contentStreams(bytes,
      new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1))
  }

  /** Variant reusing the caller's already-decoded ISO-8859-1 view — the
    * extractor has one in hand for every document, and re-decoding a
    * whole PDF just to look for `startxref` is a second full-size char[]
    * copy per file (review finding, round 7). */
  private[sources] def contentStreams(bytes: Array[Byte],
      raw: String): Option[Seq[String]] =
    contentStreamsWithFonts(bytes, raw)
      .map { case (pages, _, cmaps) => pages.flatMap(_._1) ++ cmaps }

  /** The semantic walk's full result, grouped PER PAGE (round 12): for
    * each page in tree order, its content streams and its named fonts
    * (resource name, font dict + resolved indirect /Encoding text,
    * resolved /ToUnicode CMap stream) — so two pages binding the SAME
    * resource name to different fonts scope correctly; plus the
    * document-level merged surfaces (live font/encoding dict texts for
    * the fallback Differences map, and the CMap streams for the merged
    * ToUnicode fallback). Only LIVE objects are visited — a raw-text
    * scan would resurrect remaps from freed stale objects, the exact
    * failure class the xref walk exists to prevent (round-11 review
    * finding). */
  private[graft] def contentStreamsWithFonts(bytes: Array[Byte],
      raw: String): Option[(
        Seq[(Seq[String], Seq[(String, String, Option[String])])],
        Seq[String], Seq[String])] =
    try {
      if (bytes == null) return None
      val sx = raw.lastIndexOf("startxref")
      if (sx < 0) return None
      val off = """\d+""".r.findFirstIn(raw.substring(sx + 9)).map(_.toInt)
        .getOrElse(return None)
      if (off <= 0 || off >= raw.length) return None
      // follow /Prev chains (incremental updates): later sections win,
      // so earlier (newer) entries are kept on merge. Hop cap 8.
      var table = Map.empty[Int, Entry]
      var trailer = ""
      var at = off
      var hops = 0
      while (at > 0 && hops < 8) {
        xrefStreamAt(raw, bytes, at) match {
          case Some((entries, dict)) =>
            table = entries ++ table // existing (newer) entries win
            if (trailer.isEmpty) trailer = dict
            at = """/Prev\s+(\d+)""".r.findFirstMatchIn(dict)
              .map(_.group(1).toInt).getOrElse(0)
          case None =>
            if (hops == 0) return None // startxref target isn't an xref stream
            at = 0
        }
        hops += 1
      }
      val cache = scala.collection.mutable.Map
        .empty[Int, Option[(String, Seq[(Int, Int)], Int)]]
      // Encrypted xref-stream files stay ON the semantic walk (round 13
      // — they previously routed to the legacy scanner, losing its
      // stale-object and page-scoping guarantees): the /Encrypt dict is
      // itself unencrypted and type-1 by spec, so it resolves without a
      // key; a key this build cannot derive (passworded, exotic filter)
      // falls back to the legacy path, which then extracts empty.
      val dec: Option[Dec] =
        if (!trailer.contains("/Encrypt")) None
        else {
          val built = for {
            encRef <- keyRef(trailer, "Encrypt")
            encDict <- objectBody(raw, bytes, table, encRef, cache, None)
            d <- buildDecryptor(trailer, encDict)
          } yield d
          built match {
            case Some(d) => Some(d)
            case None => return None // legacy path: derivation fails there too -> empty
          }
        }
      def body(num: Int): Option[String] =
        objectBody(raw, bytes, table, num, cache, dec)
      for {
        rootRef <- keyRef(trailer, "Root")
        catalog <- body(rootRef)
        pagesRef <- keyRef(catalog, "Pages")
        rootPages <- body(pagesRef)
        _ <- """/Kids\s*\[""".r.findFirstIn(rootPages) // malformed root -> legacy scan
      } yield {
        // A dict-VALUED key resolved to its text: inline `<< ... >>`
        // (balanced scan) or an indirect `N G R` ref's live body — both
        // forms are legal for /Resources and for /Font inside it
        // (round 13; the previous inline-only read lost indirect ones).
        def dictValue(owner: String, key: String): Option[String] = {
          val m = (java.util.regex.Pattern.quote("/" + key) + """(?![\w])""").r
            .findFirstMatchIn(owner).getOrElse(return None)
          var i = m.end
          while (i < owner.length && owner.charAt(i).isWhitespace) i += 1
          if (owner.regionMatches(i, "<<", 0, 2)) dictAt(owner, i).map(_._1)
          else """\A(\d+)\s+\d+\s+R""".r.findFirstMatchIn(owner.substring(i))
            .flatMap(r => body(r.group(1).toInt))
        }
        // PAGE-TREE RECURSION (round 13): real producers BALANCE page
        // trees (/Pages nodes nesting /Pages nodes) — the previous
        // single-level /Kids read silently dropped every page below
        // level 1. /Resources INHERITS down the tree (ISO 32000-1
        // §7.7.3.4: a Page without its own uses the nearest ancestor's).
        // Depth/visit caps keep a cyclic or hostile tree from looping.
        val pageNodes = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        val seen = scala.collection.mutable.Set.empty[Int]
        def walk(num: Int, inheritedRes: String, depth: Int): Unit = {
          if (depth > 32 || pageNodes.length > 100000 || !seen.add(num)) return
          body(num).foreach { d =>
            val res = dictValue(d, "Resources").getOrElse(inheritedRes)
            """/Kids\s*\[([^\]]*)\]""".r.findFirstMatchIn(d) match {
              case Some(m) =>
                RefRe.findAllMatchIn(m.group(1)).map(_.group(1).toInt).toSeq
                  .foreach(k => walk(k, res, depth + 1))
              case None => pageNodes += ((d, res))
            }
          }
        }
        walk(pagesRef, "", 0)
        val pageDicts = pageNodes.map(_._1).toSeq
        // /ToUnicode CMaps via the page fonts (composite-font pages) —
        // the document-level merged fallback surface; the scan covers
        // the pages AND their resolved resources (an indirect
        // /Resources would otherwise hide its fonts from the fallback)
        val fontRefs = (pageDicts ++ pageNodes.map(_._2)).flatMap(pd =>
          """/F\w*\s+(\d+)\s+\d+\s+R""".r.findAllMatchIn(pd).map(_.group(1).toInt))
        val fontDicts = fontRefs.distinct.flatMap(body)
        val cmapRefs = fontDicts.flatMap(fd => keyRef(fd, "ToUnicode"))
        // the live /Encoding surface: the font dicts themselves (inline
        // `/Encoding << /Differences ... >>`) plus resolved indirect
        // /Encoding objects — never the raw byte scan
        val encodingDicts = fontDicts.flatMap(fd => keyRef(fd, "Encoding")).flatMap(body)
        // PER PAGE (round 12): content streams + named fonts — the LIVE
        // `/Font` resource sub-dict (inline or indirect, own or
        // inherited) gives resource name -> font object; each named
        // entry carries its own font dict + resolved indirect /Encoding
        // text (for a per-name Differences map) plus its resolved
        // /ToUnicode CMap stream (for a per-name CID map). Page grouping
        // means two pages binding one name to DIFFERENT fonts scope
        // correctly.
        val pages: Seq[(Seq[String], Seq[(String, String, Option[String])])] =
          pageNodes.toSeq.map { case (pd, res) =>
            val contentRefs = keyRef(pd, "Contents").toSeq ++
              ("""/Contents\s*\[([^\]]*)\]""".r.findFirstMatchIn(pd).toSeq
                .flatMap(m => RefRe.findAllMatchIn(m.group(1)).map(_.group(1).toInt)))
            // each top-level name in the /Font dict maps to its font:
            // an indirect `N G R` ref, or a DIRECT inline dict (round
            // 13 — legal per the spec though rare, since shared fonts
            // push producers toward refs). Nested dict bodies are
            // blanked (position-preserving) before the name scan so a
            // direct dict's OWN keys (/Encoding, /ToUnicode refs) are
            // never misread as resource names.
            val named = dictValue(res, "Font").toSeq
              .flatMap { fontDict =>
                val top = blankNested(fontDict)
                """/([^\s\[\]<>/()]++)""".r.findAllMatchIn(top).toSeq
                  .flatMap { m =>
                    var i = m.end
                    while (i < fontDict.length && fontDict.charAt(i).isWhitespace) i += 1
                    val fd: Option[String] =
                      if (fontDict.regionMatches(i, "<<", 0, 2))
                        dictAt(fontDict, i).map(_._1)
                      else """\A(\d+)\s+\d+\s+R""".r
                        .findFirstMatchIn(fontDict.substring(i))
                        .flatMap(r => body(r.group(1).toInt))
                    fd.map { f =>
                      val enc = keyRef(f, "Encoding").flatMap(body).getOrElse("")
                      val cm = keyRef(f, "ToUnicode")
                        .flatMap(n => streamContent(raw, bytes, table, n, cache, dec))
                      (m.group(1), f + " " + enc, cm)
                    }
                  }
              }
            (contentRefs.distinct.flatMap(n =>
              streamContent(raw, bytes, table, n, cache, dec)), named)
          }
        val cmapStreams = cmapRefs.distinct
          .flatMap(n => streamContent(raw, bytes, table, n, cache, dec))
        (pages, fontDicts ++ encodingDicts, cmapStreams)
      }
    } catch { case _: Exception => None }
}
