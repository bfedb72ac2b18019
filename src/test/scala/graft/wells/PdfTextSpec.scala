package graft.wells

import java.nio.charset.StandardCharsets.ISO_8859_1

import org.scalatest.funsuite.AnyFunSuite

/** The S2 text-layer codec against REAL PDF bytes, generated in-test by
  * a from-scratch writer (no codec in the container cuts both ways: the
  * test builds spec-valid PDFs by hand — header, objects, xref with
  * correct offsets, trailer — so the parser is exercised on the real
  * wire format, not on its own intermediate forms). Covers plain and
  * FlateDecode streams, direct and indirect /Length, /Contents arrays,
  * literal-string escapes (octal, specials, balanced parens, line
  * continuations), hex strings, TJ kerning gaps, page-tree order — and
  * the wells parse banks run end-to-end over the extracted pages, which
  * is what closes S2 beyond fixtures. Malformed inputs extract to zero
  * pages (the withFallback signal), never an exception. */
class PdfTextSpec extends AnyFunSuite with graft.SparkSpec {

  // ------------------------------------------------- minimal PDF writer
  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")

  /** One page's content stream: each line shown with Tj, lines broken
    * with Td vertical moves — the shape every simple generator emits. */
  private def contentFor(page: String): Array[Byte] = {
    val body = new StringBuilder("BT /F1 12 Tf 72 720 Td\n")
    for (line <- page.split("\n", -1))
      body ++= s"(${esc(line)}) Tj 0 -14 Td\n"
    body ++= "ET"
    body.toString.getBytes(ISO_8859_1)
  }

  private def deflate(data: Array[Byte]): Array[Byte] =
    PdfTestUtil.deflate(data)

  /** Assemble a complete PDF: catalog(1), pages(2), font(3), then per
    * page a page object and 1-2 content streams. `indirectLength` routes
    * every stream's /Length through its own integer object;
    * `splitContents` splits each page's content into a 2-stream array
    * (the operator sequence is split at a token boundary). */
  private def pdf(pages: Seq[String], flate: Boolean = false,
      indirectLength: Boolean = false, splitContents: Boolean = false,
      rawContents: Option[Seq[Array[Byte]]] = None): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var offsets = Vector.empty[Int]
    def obj(body: Array[Byte]): Int = {
      val n = offsets.length + 1
      offsets :+= out.size()
      out.write(s"$n 0 obj\n".getBytes(ISO_8859_1))
      out.write(body)
      out.write("\nendobj\n".getBytes(ISO_8859_1))
      n
    }
    def streamObj(data0: Array[Byte]): Int = {
      val data = if (flate) deflate(data0) else data0
      val filter = if (flate) " /Filter /FlateDecode" else ""
      if (indirectLength) {
        // the length object is written AFTER the stream (forward ref),
        // like real generators that stream content before knowing sizes
        val streamNum = offsets.length + 1
        val lenNum = streamNum + 1
        offsets :+= out.size()
        out.write((s"$streamNum 0 obj\n<< /Length $lenNum 0 R$filter >>\nstream\n")
          .getBytes(ISO_8859_1))
        out.write(data)
        out.write("\nendstream\nendobj\n".getBytes(ISO_8859_1))
        obj(s"${data.length}".getBytes(ISO_8859_1))
        streamNum
      } else {
        val b = new java.io.ByteArrayOutputStream()
        b.write(s"<< /Length ${data.length}$filter >>\nstream\n".getBytes(ISO_8859_1))
        b.write(data)
        b.write("\nendstream".getBytes(ISO_8859_1))
        obj(b.toByteArray)
      }
    }
    out.write("%PDF-1.4\n".getBytes(ISO_8859_1))
    val contents = rawContents.getOrElse(pages.map(contentFor))
    // content + page objects first, kids collected for the pages node
    var kids = Vector.empty[Int]
    val pageObjBodies = contents.map { c =>
      val cs =
        if (splitContents) {
          val cut = {
            val s = new String(c, ISO_8859_1)
            val i = s.indexOf("Tj", s.length / 2)
            if (i < 0) s.length else i + 2
          }
          Seq(streamObj(java.util.Arrays.copyOfRange(c, 0, cut)),
            streamObj(java.util.Arrays.copyOfRange(c, cut, c.length)))
        } else Seq(streamObj(c))
      cs
    }
    val pageNums = pageObjBodies.map { cs =>
      val contentsRef =
        if (cs.length == 1) s"${cs.head} 0 R"
        else cs.map(n => s"$n 0 R").mkString("[", " ", "]")
      obj((s"<< /Type /Page /Parent PARENT 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 FONT 0 R >> >> /Contents $contentsRef >>")
        .getBytes(ISO_8859_1))
    }
    kids = pageNums.toVector
    val fontNum = obj("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
      .getBytes(ISO_8859_1))
    val pagesNum = obj((s"<< /Type /Pages /Kids ${kids.map(n => s"$n 0 R").mkString("[", " ", "]")} " +
      s"/Count ${kids.length} >>").getBytes(ISO_8859_1))
    val catNum = obj(s"<< /Type /Catalog /Pages $pagesNum 0 R >>".getBytes(ISO_8859_1))
    // patch the PARENT/FONT placeholders (fixed-width not needed: we
    // rewrite the buffer — offsets shift uniformly per object, so the
    // xref is computed AFTER patching)
    var s = new String(out.toByteArray, ISO_8859_1)
    s = s.replace("PARENT 0 R", s"$pagesNum 0 R").replace("FONT 0 R", s"$fontNum 0 R")
    // recompute object offsets on the patched buffer for an honest xref
    val patched = s.getBytes(ISO_8859_1)
    val n = offsets.length
    val xrefEntries = (1 to n).map { i =>
      val at = s.indexOf(s"\n$i 0 obj\n") match {
        case -1 => if (s.startsWith(s"$i 0 obj\n")) 0 else s.indexOf(s"$i 0 obj\n")
        case j => j + 1
      }
      f"$at%010d 00000 n \n"
    }
    val xrefAt = patched.length
    val tail = new StringBuilder
    tail ++= s"xref\n0 ${n + 1}\n0000000000 65535 f \n"
    xrefEntries.foreach(tail ++= _)
    tail ++= s"trailer\n<< /Size ${n + 1} /Root $catNum 0 R >>\nstartxref\n$xrefAt\n%%EOF\n"
    val fin = new java.io.ByteArrayOutputStream()
    fin.write(patched); fin.write(tail.toString.getBytes(ISO_8859_1))
    fin.toByteArray
  }

  /** PDF 1.5-style document: catalog/pages/page/font dicts packed into
    * one /Type /ObjStm (offset-pair header, optionally FlateDecode);
    * content streams remain regular objects (streams cannot live inside
    * an ObjStm, §7.5.7); /Root appears ONLY in a /Type /XRef stream
    * dict — no classic trailer — the way modern writers emit PDFs. */
  /** `dupPairWideOffset` appends a hostile (pagesN, 19-digit-offset)
    * pair to the header (and bumps /N): a too-wide offset must make the
    * parser SKIP that entry — under the old Long.MaxValue sentinel the
    * wrapped `first + off` sum passed the bounds guard and the entry
    * parsed at a junk offset, superseding the REAL pages node. */
  private def pdfObjStm(pages: Seq[String], flateStm: Boolean = true,
      dupPairWideOffset: Boolean = false): Array[Byte] = {
    val contents = pages.map(contentFor)
    val p = contents.length
    // numbering: 1..p content streams; packed: font p+1, pages node p+2,
    // page dicts p+3..2p+2, catalog 2p+3; then objstm 2p+4, xref 2p+5
    val fontN = p + 1; val pagesN = p + 2
    val pageNs = (0 until p).map(i => p + 3 + i)
    val catN = 2 * p + 3; val stmN = 2 * p + 4; val xrefN = 2 * p + 5
    val out = new java.io.ByteArrayOutputStream()
    out.write("%PDF-1.5\n".getBytes(ISO_8859_1))
    contents.zipWithIndex.foreach { case (c0, i) =>
      val data = deflate(c0)
      out.write((s"${i + 1} 0 obj\n<< /Length ${data.length} /Filter /FlateDecode >>\nstream\n")
        .getBytes(ISO_8859_1))
      out.write(data)
      out.write("\nendstream\nendobj\n".getBytes(ISO_8859_1))
    }
    val packed: Seq[(Int, String)] =
      Seq(fontN -> "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        pagesN -> (s"<< /Type /Pages /Kids ${pageNs.map(n => s"$n 0 R").mkString("[", " ", "]")} " +
          s"/Count $p >>")) ++
      pageNs.zipWithIndex.map { case (n, i) =>
        n -> (s"<< /Type /Page /Parent $pagesN 0 R /MediaBox [0 0 612 792] " +
          s"/Resources << /Font << /F1 $fontN 0 R >> >> /Contents ${i + 1} 0 R >>")
      } :+ (catN -> s"<< /Type /Catalog /Pages $pagesN 0 R >>")
    val bodies = packed.map(_._2 + "\n")
    val offs = bodies.scanLeft(0)(_ + _.length).init
    val header0 = packed.map(_._1).zip(offs)
      .map { case (n, o) => s"$n $o" }.mkString("", " ", " ")
    val header =
      if (dupPairWideOffset) header0 + s"$pagesN 1111111111111111111 "
      else header0
    val packedN = packed.length + (if (dupPairWideOffset) 1 else 0)
    val stmData0 = (header + bodies.mkString).getBytes(ISO_8859_1)
    val stmData = if (flateStm) deflate(stmData0) else stmData0
    val filter = if (flateStm) " /Filter /FlateDecode" else ""
    out.write((s"$stmN 0 obj\n<< /Type /ObjStm /N $packedN /First ${header.length} " +
      s"/Length ${stmData.length}$filter >>\nstream\n").getBytes(ISO_8859_1))
    out.write(stmData)
    out.write("\nendstream\nendobj\n".getBytes(ISO_8859_1))
    val xrefAt = out.size()
    // dummy xref-stream DATA (the parser scans objects raw and never
    // decodes it); the DICT is what matters: it carries /Root
    val xrefData = Array.fill[Byte](4 * (xrefN + 1))(0)
    out.write((s"$xrefN 0 obj\n<< /Type /XRef /Size ${xrefN + 1} /Root $catN 0 R " +
      s"/W [1 2 1] /Length ${xrefData.length} >>\nstream\n").getBytes(ISO_8859_1))
    out.write(xrefData)
    out.write("\nendstream\nendobj\n".getBytes(ISO_8859_1))
    out.write(s"startxref\n$xrefAt\n%%EOF\n".getBytes(ISO_8859_1))
    out.toByteArray
  }

  // ------------------------------------------------- fixtures
  private val hdrPage =
    """Well Operator: NANCE PETROLEUM CORPORATION
      |Well Name: THORVALD 1-30H
      |API # 33-053-06057
      |Enseco Job# S15072-02
      |Job Type: Frac Support
      |County, State: McKenzie, ND
      |Well Surface Hole Location (SHL): Lot 3, Sec. 30
      |Latitude: 48° 4' 29.5" N
      |Longitude: 103° 36' 11.4" W
      |Datum: NAD83""".stripMargin
  private val stimPage =
    """Date Stimulated
      |9/22/2011
      |Stimulated Formation
      |Bakken
      |Lbs Proppant
      |2,293,000""".stripMargin
  private val fixture = Seq(hdrPage, "page two filler", stimPage)

  test("plain, Flate, indirect-length, and split-contents PDFs all extract the same pages") {
    for ((label, bytes) <- Seq(
        "plain" -> pdf(fixture),
        "flate" -> pdf(fixture, flate = true),
        "indirect-length" -> pdf(fixture, flate = true, indirectLength = true),
        "split-contents" -> pdf(fixture, splitContents = true))) {
      val got = PdfText.extract(bytes)
      assert(got.length == 3, s"$label: expected 3 pages, got ${got.length}")
      assert(got == fixture, s"$label: page text drifted")
    }
  }

  test("wells parse banks run end-to-end over codec-extracted pages") {
    val pages = PdfText.extract(pdf(fixture, flate = true))
    val h = Extraction.parseHeader(pages, "W1.pdf")
    assert(h.operator.contains("NANCE PETROLEUM CORPORATION"))
    assert(h.api.contains("33-053-06057"))
    assert(h.latitude.exists(v => math.abs(v - (48 + 4 / 60.0 + 29.5 / 3600.0)) < 1e-9))
    assert(h.longitude.exists(v => math.abs(v + (103 + 36 / 60.0 + 11.4 / 3600.0)) < 1e-9))
    val st = Extraction.parseStimulation(pages, "W1.pdf")
    assert(st.date_simulated.contains("9/22/2011"))
    assert(st.stimulated_formation.contains("Bakken"))
    assert(st.lbs_proppant.contains("2293000"))
    // identical rows to the fixture-extractor path: the codec is a
    // drop-in for the passthrough on the same logical document
    val viaFixture = Extraction.TextPassthroughExtractor
      .extract(fixture.mkString("\f").getBytes("UTF-8"))
    assert(Extraction.parseHeader(viaFixture, "W1.pdf") == h)
    assert(Extraction.parseStimulation(viaFixture, "W1.pdf") == st)
  }

  test("string escapes, hex strings, TJ kerning, and quote operators decode") {
    val content =
      ("BT /F1 12 Tf 72 720 Td\n" +
        "[(Well) -250 (Operator:) -250 (ACME \\(ND\\))] TJ 0 -14 Td\n" +
        "(Line\\040with\\040octal cont\\\ninued) Tj 0 -14 Td\n" + // octal 040 = space; \<eol> = continuation
        "<57656C6C204E616D653A2058> Tj 0 -14 Td\n" + // hex: "Well Name: X"
        "(quoted) '\n" +
        "ET").getBytes(ISO_8859_1)
    val got = PdfText.extract(pdf(Seq("ignored"), rawContents = Some(Seq(content))))
    assert(got.length == 1)
    val lines = got.head.split("\n").toSeq
    assert(lines == Seq("Well Operator: ACME (ND)",
      "Line with octal continued", "Well Name: X", "quoted"),
      s"content decode drifted: $lines")
  }

  test("PDF 1.5 ObjStm: packed page tree extracts; /Root found via the xref-stream dict") {
    for ((label, bytes) <- Seq(
        "objstm-flate" -> pdfObjStm(fixture),
        "objstm-plain" -> pdfObjStm(fixture, flateStm = false))) {
      val got = PdfText.extract(bytes)
      assert(got == fixture, s"$label: page text drifted: $got")
    }
    // the parse banks work identically over the ObjStm-packed document
    val h = Extraction.parseHeader(PdfText.extract(pdfObjStm(fixture)), "W1.pdf")
    assert(h.operator.contains("NANCE PETROLEUM CORPORATION"))
    assert(h.api.contains("33-053-06057"))
  }

  test("binary stream bytes spelling 'N G obj' do not shadow real objects") {
    // page-1 content (direct /Length) contains bytes that LOOK like the
    // header of object 2 — the real page dict. Pre-skip-extent parsing,
    // the spurious match shadowed it in the last-wins map (blank page).
    val spoof = ("BT /F1 12 Tf 72 720 Td\n(REAL TEXT) Tj\nET\n" +
      "2 0 obj\n<< /Type /Page >>\nendobj\n").getBytes(ISO_8859_1)
    val bytes = pdf(Seq("ignored"), rawContents = Some(Seq(spoof)))
    assert(PdfText.extract(bytes) == Seq("REAL TEXT"))
  }

  test("hostile /Length (3e9) degrades to the endstream fallback for that stream, never throws") {
    // Double.toInt saturation would wrap the Int slice bound negative and
    // copyOfRange would throw — which extract()'s catch converts to ZERO
    // pages, voiding the readable page too. Validated as a double, the
    // bogus length falls back to the (writer-shaped) endstream scan and
    // both pages still extract.
    val base = new String(pdf(Seq("PAGE ONE", "PAGE TWO")), ISO_8859_1)
    val i = base.indexOf("/Length ")
    val j = base.indexWhere(!_.isDigit, i + "/Length ".length)
    val hostile = (base.substring(0, i) + "/Length 3000000000" +
      base.substring(j)).getBytes(ISO_8859_1)
    assert(PdfText.extract(hostile) == Seq("PAGE ONE", "PAGE TWO"),
      "a hostile declared length did not degrade to the endstream fallback")
  }

  test("incremental update: the appended trailer's /Root wins; extraction reads the updated page set") {
    // readers resolve a PDF from its LAST startxref — an appended update
    // supersedes. The scanner has no xref ordering, so supersession must
    // come from deterministic last-in-document-wins resolution (a
    // HashMap-iteration pick could return the stale catalog).
    val base = pdf(Seq("OLD TEXT")) // objects 1-5, trailer /Root 5
    val content = "BT /F1 12 Tf 72 720 Td\n(NEW TEXT) Tj 0 -14 Td\nET"
    val upd =
      s"""6 0 obj
         |<< /Length ${content.length} >>
         |stream
         |$content
         |endstream
         |endobj
         |7 0 obj
         |<< /Type /Page /Parent 8 0 R /MediaBox [0 0 612 792] /Resources << /Font << /F1 3 0 R >> >> /Contents 6 0 R >>
         |endobj
         |8 0 obj
         |<< /Type /Pages /Kids [7 0 R] /Count 1 >>
         |endobj
         |9 0 obj
         |<< /Type /Catalog /Pages 8 0 R >>
         |endobj
         |trailer
         |<< /Size 10 /Root 9 0 R >>
         |%%EOF
         |""".stripMargin
    val updated = base ++ upd.getBytes(ISO_8859_1)
    assert(PdfText.extract(updated).map(_.trim) == Seq("NEW TEXT"),
      "the appended update's /Root did not supersede the original trailer")
  }

  test("deflate bomb: a stream inflating past the cap truncates instead of OOM") {
    // 80 MiB of NULs deflates to ~80 KiB; inflating uncapped would buffer
    // 80 MiB per executor-thread on attacker-controlled scan input —
    // OutOfMemoryError is an Error, so it would ESCAPE extract()'s
    // NonFatal catch. The cap truncates at 64 MiB: blank page, no throw.
    val bomb = Array.fill[Byte](80 << 20)(0)
    val bytes = pdf(Seq("ignored"), flate = true, rawContents = Some(Seq(bomb)))
    val pages = PdfText.extract(bytes)
    assert(pages.length == 1 && pages.head.trim.isEmpty)
  }

  test("corrupt deflate bytes in one stream blank that page only — other pages still extract") {
    // DataFormatException out of Inflater.inflate would escape to
    // extract()'s document-scoped catch and void BOTH pages; caught at
    // the stream, it degrades like a truncated stream: page 1 blank,
    // page 2 intact.
    val bytes = pdf(Seq("PAGE ONE", "PAGE TWO"), flate = true)
    val s = new String(bytes, ISO_8859_1)
    val d0 = s.indexOf("stream\n") + "stream\n".length // first content stream
    for (k <- 0 until 20) bytes(d0 + k) = 0xFF.toByte // invalid zlib header+data
    val pages = PdfText.extract(bytes)
    assert(pages.length == 2, s"corrupt stream voided the document: $pages")
    assert(pages(0).trim.isEmpty, "corrupt page did not blank")
    assert(pages(1) == "PAGE TWO", "the intact page was lost")
  }

  test("hostile negative /First or /N in an ObjStm skips the container, never throws") {
    val base = new String(pdfObjStm(fixture), ISO_8859_1)
    for ((label, hostile) <- Seq(
        "negative /First" -> base.replaceAll("/First \\d+", "/First -5"),
        "negative /N" -> base.replaceAll("/N \\d+", "/N -1"))) {
      // the packed page tree is unreachable, so extraction degrades to
      // zero pages (the withFallback signal) — the contract is no throw
      val pages = PdfText.extract(hostile.getBytes(ISO_8859_1))
      assert(pages.forall(_.trim.isEmpty), s"$label: unexpected pages $pages")
    }
  }

  test("hostile ObjStm header numbers (11-digit token, Int.MaxValue offset) degrade, never throw") {
    // the header region of a PLAIN (unfiltered) ObjStm is patchable in
    // place: an 11+-digit objnum would throw out of a toInt parse, and
    // an offset near Int.MaxValue would wrap `first + off` negative past
    // an Int bounds guard — both must degrade to skipping that entry
    val base = new String(pdfObjStm(fixture, flateStm = false), ISO_8859_1)
    val hdrAt = base.indexOf("stream\n", base.indexOf("/Type /ObjStm")) +
      "stream\n".length
    for (patch <- Seq("99999999999 0", "1 2147483640")) {
      val hostile = (base.substring(0, hdrAt) + patch +
        base.substring(hdrAt + patch.length)).getBytes(ISO_8859_1)
      val pages = PdfText.extract(hostile) // degraded page set is fine
      assert(pages != null, s"patch '$patch' threw")
      assert(PdfText.imagesPerPage(hostile) != null, s"patch '$patch' threw (images)")
    }
  }

  test("19+-digit ObjStm header offset: the entry is skipped, the real packed object survives") {
    // the sentinel for a too-wide header number is -1L so the off >= 0
    // guard skips the pair; a Long.MaxValue sentinel let `first + off`
    // wrap negative past the `< data.length` bound, parse at first-1 and
    // bind a junk dict over the REAL pages node (duplicate-objnum
    // last-wins) — full extraction equality is the pin, both stream forms
    for (flate <- Seq(true, false)) {
      val hostile = pdfObjStm(fixture, flateStm = flate,
        dupPairWideOffset = true)
      assert(PdfText.extract(hostile) == fixture,
        s"flateStm=$flate: the 19-digit-offset entry was not skipped")
    }
  }

  test("fuzz: 150 deterministic mutations of an ObjStm PDF never throw") {
    val rnd = new scala.util.Random(0xBEEF) // fixed seed — reproducible
    val base = pdfObjStm(fixture)
    for (trial <- 1 to 150) {
      val b = base.clone()
      for (_ <- 0 to rnd.nextInt(8)) rnd.nextInt(3) match {
        case 0 => b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
        case 1 =>
          val at = rnd.nextInt(b.length)
          java.util.Arrays.fill(b, at, math.min(b.length, at + rnd.nextInt(64)), 0.toByte)
        case 2 =>
          val kw = Seq("endobj", "stream", "ObjStm", "/First", "0 0 obj", "<<")(rnd.nextInt(6))
            .getBytes(ISO_8859_1)
          val at = rnd.nextInt(math.max(1, b.length - kw.length))
          System.arraycopy(kw, 0, b, at, kw.length)
      }
      val cut = if (rnd.nextBoolean()) b.take(rnd.nextInt(b.length + 1)) else b
      val pages = PdfText.extract(cut)
      assert(pages != null, s"trial $trial returned null")
    }
  }

  test("malformed inputs extract to zero pages, never throw (the fallback signal)") {
    val truncated = pdf(fixture).take(60)
    val junk = Array.fill[Byte](512)(0x42)
    val notPdf = "just some text".getBytes(ISO_8859_1)
    assert(PdfText.extract(truncated).forall(_.trim.isEmpty))
    assert(PdfText.extract(junk).isEmpty)
    assert(PdfText.extract(notPdf).isEmpty)
    // unsupported filter: pages exist but decode blank -> withFallback
    // routes to the second extractor, the reference's OCR ladder
    val lzw = new String(pdf(fixture), ISO_8859_1)
      .replace("<< /Length", "<< /Filter /LZWDecode /Length")
      .getBytes(ISO_8859_1)
    assert(PdfText.extract(lzw).forall(_.trim.isEmpty))
    val ocrStub = new Extraction.DocumentTextExtractor {
      def extract(c: Array[Byte]): Seq[String] = Seq("OCR SAW THIS")
    }
    val ladder = Extraction.withFallback(PdfText, ocrStub)
    assert(ladder.extract(lzw) == Seq("OCR SAW THIS"),
      "blank text layer did not fall back")
    assert(ladder.extract(pdf(fixture)) == fixture,
      "fallback fired despite a readable text layer")
  }

  test("AutoDetect dispatches on magic bytes: PDFs to the codec, text to passthrough") {
    assert(PdfText.AutoDetect.extract(pdf(fixture, flate = true)) == fixture)
    assert(PdfText.AutoDetect.extract("a\fb".getBytes("UTF-8")) == Seq("a", "b"))
  }

  test("fuzz: 300 deterministic mutations of a valid PDF never throw") {
    val rnd = new scala.util.Random(0xC0FFEE) // fixed seed — reproducible
    val base = pdf(fixture, flate = true)
    for (trial <- 1 to 300) {
      val b = base.clone()
      // 1-8 mutations per trial: byte flips, truncations, splices
      for (_ <- 0 to rnd.nextInt(8)) rnd.nextInt(3) match {
        case 0 => b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
        case 1 => // zero a run (simulates a damaged sector)
          val at = rnd.nextInt(b.length)
          java.util.Arrays.fill(b, at, math.min(b.length, at + rnd.nextInt(64)), 0.toByte)
        case 2 => // splice structural keywords into random spots
          val kw = Seq("endobj", "stream", "endstream", ">>", "0 0 obj", "(")(rnd.nextInt(6))
            .getBytes(ISO_8859_1)
          val at = rnd.nextInt(math.max(1, b.length - kw.length))
          System.arraycopy(kw, 0, b, at, kw.length)
      }
      val cut = if (rnd.nextBoolean()) b.take(rnd.nextInt(b.length + 1)) else b
      // the ONLY contract on garbage: return, don't throw
      val pages = PdfText.extract(cut)
      assert(pages != null, s"trial $trial returned null")
    }
  }

  test("S1+S2 end-to-end: a mixed directory scans through Spark into parsed tables") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("pdf-scan")
    Files.write(dir.resolve("A_real.pdf"), pdf(fixture, flate = true))
    Files.write(dir.resolve("B_fixture.pdf"),
      "Operator: TEXTCO\nWell Name: FIX 1".getBytes("UTF-8"))
    val docs = Extraction.scanDocuments(spark, dir.toString,
      PdfText.AutoDetect).cache()
    val (header, _) = Extraction.extractAll(docs)
    val rows = header.collect().map(r =>
      (r.getAs[String]("pdf_name"), r.getAs[String]("operator"))).toSeq
    assert(rows == Seq( // path-sorted, S1's order contract
      ("A_real.pdf", "NANCE PETROLEUM CORPORATION"),
      ("B_fixture.pdf", "TEXTCO")),
      s"mixed-directory scan drifted: $rows")
  }

  test("S1 scan as the extract CLI drives it: each document decoded once, rows in full-path order") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("pdf-once")
    val out = Files.createTempDirectory("pdf-once-out")
    // path order: a/W1, a/W2, a/W3_blank, b/W1, c/W0 — not basename order,
    // and W1.pdf twice: the later path's copy must come last
    val docs = Seq(
      "a/W2.pdf" -> "ALPHA", "a/W1.pdf" -> "FIRST COPY", "b/W1.pdf" -> "SECOND COPY",
      "a/W3_blank.pdf" -> "", "c/W0.pdf" -> "CHARLIE")
    for ((rel, operator) <- docs) {
      val f = dir.resolve(rel)
      Files.createDirectories(f.getParent)
      val pages = if (operator.isEmpty) Seq("", "") else Seq(s"Operator: $operator", "filler")
      Files.write(f, pdf(pages, flate = true))
    }
    val calls = spark.sparkContext.longAccumulator("extractor calls")
    val scanned = Extraction.scanDocuments(spark, dir.toString,
      new PdfTextSpec.CountingExtractor(calls)).cache()
    try {
      val (header, stim) = Extraction.extractAll(scanned)
      header.coalesce(1).write.mode("overwrite").option("header", "true")
        .csv(s"$out/well_header")
      stim.coalesce(1).write.mode("overwrite").option("header", "true")
        .csv(s"$out/well_stimulation")
      assert(scanned.count() == docs.size)
      assert(calls.value == docs.size, "a document was decoded more than once")

      def csvRows(table: String): Seq[Seq[String]] = {
        val parts = Files.list(out.resolve(table)).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".csv")).toSeq
        assert(parts.size == 1)
        Files.readAllLines(parts.head).asScala.toSeq.tail.map(_.split(",", -1).toSeq)
      }
      assert(csvRows("well_header").map(_.take(2)) == Seq(
        Seq("W1.pdf", "FIRST COPY"), Seq("W2.pdf", "ALPHA"),
        Seq("W1.pdf", "SECOND COPY"), Seq("W0.pdf", "CHARLIE")))
      assert(csvRows("well_stimulation").map(_.head) == Seq("W1.pdf", "W2.pdf", "W1.pdf", "W0.pdf"))
    } finally scanned.unpersist()
  }
}

object PdfTextSpec {
  /** The text-layer codec, counting its calls in an accumulator. */
  final class CountingExtractor(calls: org.apache.spark.util.LongAccumulator)
      extends Extraction.DocumentTextExtractor {
    def extract(content: Array[Byte]): Seq[String] = {
      calls.add(1)
      PdfText.AutoDetect.extract(content)
    }
  }
}
