package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path}

import scala.util.Random

/** Seeded well documents and the values planted in them.
  *
  * Every document is a spec-valid PDF of `pages` pages: page 1 carries the
  * header labels, page 3 the stimulation block (as the 7-column table or as
  * label / next-line pairs), the rest is filler text. Documents are written
  * plain, FlateDecode, or with the page tree packed into a PDF 1.5 object
  * stream. The dirty values follow FIXTURES.md: degree-minute-second and
  * hemisphere coordinates, API number variants, missing coordinates, blank
  * documents, and one `pdf_name` that appears in two subdirectories (the
  * later path must win the merge). */
object WellsCorpus {

  sealed trait Web
  final case class Found(status: String, wellType: String, city: String,
      oil: String, gas: String) extends Web
  case object NotFound extends Web
  case object ServerError extends Web

  final case class Stim(date: String, formation: String, top: String,
      bottom: String, stages: String, volume: String, units: String,
      lbs: String, psi: String, rate: String, details: String = null)

  /** One document. `lat`/`lon` are the decimal values the parser must
    * produce from `latText`/`lonText` (None: no coordinate line). */
  final case class Well(pdfName: String, dir: String, operator: String,
      wellName: String, api: String, apiText: String,
      lat: Option[Double], latText: String, lon: Option[Double], lonText: String,
      county: String, datum: String, stim: Stim, web: Web, kind: Int,
      table: Boolean, blank: Boolean, pages: Int) {
    def path: String = s"$dir/$pdfName"
  }

  final case class Corpus(docs: Seq[Well]) {
    /** The wells the tables must hold: blank documents dropped, and for a
      * `pdf_name` seen twice the document at the later path. */
    lazy val expected: Seq[Well] =
      docs.filterNot(_.blank).groupBy(_.pdfName).values
        .map(_.maxBy(_.path)).toSeq.sortBy(_.pdfName)
  }

  private val operators = Seq("NANCE PETROLEUM CORPORATION", "RIM OPERATING, INC.",
    "Oasis Petroleum North America LLC", "CONTINENTAL RESOURCES, INC.",
    "Whiting Oil & Gas Corporation", "XTO ENERGY INC.", "Hess Bakken Investments II, LLC")
  private val names = Seq("THORVALD", "LEWIS FEDERAL", "DAHL", "ATLANTA", "BRAY",
    "KLINE FEDERAL", "CHALMERS", "WADE FEDERAL", "LUCKY SHOT SWD", "JOHNSON & SONS")
  private val counties = Seq("McKenzie, ND", "MCKENZIE, ND", "Williams, ND",
    "Mountrail, ND", "Dunn, ND", "Divide, ND")
  private val datums = Seq("NAD83", "NAD 83", "NAD27", "WGS84")
  private val formations = Seq("Bakken", "Middle Bakken", "Three Forks",
    "Three Forks Second Bench", "MB", "Dakota")
  private val units = Seq("Barrels", "Gallons", "Bbls")
  private val statuses = Seq("Active", "Inactive", "Plugged", "Producing")
  private val wellTypes = Seq("Oil & Gas", "SWD", "Dry Hole", "Members Only")
  private val cities = Seq("Williston", "Watford City", "New Town", "Stanley")
  private val filler = ("lorem ipsum dolor sit amet consectetur elit sed do eiusmod " +
    "tempor incididunt ut labore et dolore magna aliqua enim ad minim veniam " +
    "quis nostrud exercitation ullamco laboris nisi aliquip ex ea commodo").split(" ")

  /** `n` documents named from `firstId`, plus one duplicate `pdf_name`. */
  def generate(seed: Long, n: Int, firstId: Int, pages: Int = 11): Corpus = {
    val r = new Random(seed)
    def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))
    val docs = (0 until n).map { i =>
      val id = firstId + i
      val api = f"33-${pick(Seq(53, 61, 105))}%03d-${r.nextInt(100000)}%05d"
      val apiText = i % 4 match {
        case 0 => s"API # $api"
        case 1 => s"API No. ${api.replace("-", "")}"
        case 2 => s"Well File No: $api"
        case _ => s"API #: ${api.replace("-", " - ")}"
      }
      val (lat, latText, lon, lonText) = coordinates(r, i)
      val volume = 10000 + r.nextInt(190000)
      val lbs = 1000000 + r.nextInt(8000000)
      val table = r.nextBoolean()
      val top = 9000 + r.nextInt(3000)
      val stim = Stim(
        date = s"${1 + r.nextInt(12)}/${1 + r.nextInt(28)}/${2010 + r.nextInt(8)}",
        formation = pick(formations), top = top.toString,
        bottom = (top + 5000 + r.nextInt(5000)).toString,
        stages = (10 + r.nextInt(40)).toString, volume = volume.toString,
        units = pick(units), lbs = lbs.toString,
        psi = (5000 + r.nextInt(5000)).toString,
        rate = s"${20 + r.nextInt(60)}.${r.nextInt(10)}")
      val web =
        if (i % 23 == 5) NotFound
        else if (i % 29 == 7) ServerError
        else Found(pick(statuses), pick(wellTypes), pick(cities),
          s"${r.nextInt(90) / 10.0}k", s"${r.nextInt(500)}.${r.nextInt(10)}k")
      Well(pdfName = f"W$id%05d.pdf", dir = s"s${i % 8}", operator = pick(operators),
        wellName = s"${pick(names)} ${1 + r.nextInt(40)}-${1 + r.nextInt(36)}H $id",
        api = api, apiText = apiText, lat = lat, latText = latText, lon = lon,
        lonText = lonText, county = pick(counties), datum = pick(datums),
        stim = stim, web = web, kind = i % 3, table = table, blank = i % 97 == 13,
        pages = pages)
    }
    // the same pdf_name again under a later subdirectory, with new values:
    // the merge must keep this one
    val first = docs.find(!_.blank).get
    val dup = first.copy(dir = "s9", operator = "DUPLICATE OPERATING LLC",
      stim = first.stim.copy(lbs = (first.stim.lbs.toLong + 7).toString), kind = 1)
    Corpus(docs :+ dup)
  }

  /** Coordinate text in the forms FIXTURES.md lists, with the decimal
    * value the extractor must compute from it. */
  private def coordinates(r: Random, i: Int): (Option[Double], String, Option[Double], String) = {
    val (latD, latM, latS) = (47 + r.nextInt(2), r.nextInt(60), r.nextInt(600) / 10.0)
    val (lonD, lonM, lonS) = (102 + r.nextInt(2), r.nextInt(60), r.nextInt(600) / 10.0)
    def dms(d: Int, m: Int, s: Double) = d.toDouble + m.toDouble / 60.0 + s / 3600.0
    val latDec = f"${47 + r.nextInt(2)}.${r.nextInt(1000000)}%06d"
    val lonDec = f"${102 + r.nextInt(2)}.${r.nextInt(1000000)}%06d"
    i % 10 match {
      case 3 => (None, null, None, null)
      case 0 | 4 | 7 => (Some(dms(latD, latM, latS)), s"$latD° $latM' $latS\" N",
        Some(-dms(lonD, lonM, lonS)), s"$lonD° $lonM' $lonS\" W")
      case 1 | 5 | 8 => (Some(latDec.toDouble), s"$latDec N",
        Some(-lonDec.toDouble), s"$lonDec W")
      case _ => (Some(latDec.toDouble), latDec, Some(-lonDec.toDouble), s"-$lonDec")
    }
  }

  // ------------------------------------------------------------ page text
  def pageTexts(w: Well, r: Random): Seq[String] =
    if (w.blank) Seq.fill(w.pages)("")
    else {
      val header = Seq(s"Well Operator: ${w.operator}", s"Well Name: ${w.wellName}",
        w.apiText, s"County, State: ${w.county}") ++
        Option(w.latText).map(t => s"Latitude: $t") ++
        Option(w.lonText).map(t => s"Longitude: $t") :+ s"Datum: ${w.datum}"
      val s = w.stim
      val stim =
        if (w.table) Seq(
          "Date Stimulated  Stimulated Formation  Top (Ft)  Bottom (Ft)  " +
            "Stimulation Stages  Volume  Volume Units",
          s"${s.date}  ${s.formation}  ${s.top}  ${s.bottom}  ${s.stages}  " +
            s"${grouped(s.volume)}  ${s.units}")
        else Seq("Date Stimulated", s.date, "Stimulated Formation", s.formation,
          "Top (Ft)", s.top, "Bottom (Ft)", s.bottom, "Stimulation Stages", s.stages,
          "Volume", s.volume, "Volume Units", s.units)
      val tail = Seq("Lbs Proppant", grouped(s.lbs), "Maximum Treatment Pressure (PSI)",
        s.psi, "Maximum Treatment Rate (BBLS/Min)", s.rate)
      def fill() = Seq.fill(24)(Seq.fill(9)(filler(r.nextInt(filler.length))).mkString(" "))
        .mkString("\n")
      Seq(header.mkString("\n"), fill(), (stim ++ tail).mkString("\n")) ++
        Seq.fill(w.pages - 3)(fill())
    }

  private def grouped(digits: String): String =
    digits.reverse.grouped(3).mkString(",").reverse

  // ------------------------------------------------------------ PDF writer
  private def esc(s: String): String =
    s.flatMap { case '(' => "\\("; case ')' => "\\)"; case '\\' => "\\\\"; case c => c.toString }

  private def content(page: String): Array[Byte] = {
    val b = new StringBuilder("BT /F1 10 Tf 72 760 Td\n")
    if (page.nonEmpty) page.split("\n", -1).foreach(l => b ++= s"(${esc(l)}) Tj 0 -12 Td\n")
    b ++= "ET"
    b.toString.getBytes(ISO_8859_1)
  }

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(data); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end(); out.toByteArray
  }

  /** A classic PDF (catalog, page tree, xref table, trailer); content
    * streams plain or FlateDecode. */
  def classicPdf(pages: Seq[String], flate: Boolean): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    def obj(n: Int)(body: => Unit): Unit = {
      offsets += out.size(); w(s"$n 0 obj\n"); body; w("\nendobj\n")
    }
    // 1 catalog, 2 page tree, 3 font, then per page: content 4+2i, page 5+2i
    val kids = pages.indices.map(i => s"${5 + 2 * i} 0 R").mkString(" ")
    w("%PDF-1.4\n")
    obj(1)(w("<< /Type /Catalog /Pages 2 0 R >>"))
    obj(2)(w(s"<< /Type /Pages /Kids [$kids] /Count ${pages.size} >>"))
    obj(3)(w("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"))
    pages.zipWithIndex.foreach { case (p, i) =>
      val data = if (flate) deflate(content(p)) else content(p)
      obj(4 + 2 * i) {
        w(s"<< /Length ${data.length}${if (flate) " /Filter /FlateDecode" else ""} >>\nstream\n")
        out.write(data); w("\nendstream")
      }
      obj(5 + 2 * i)(w(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 3 0 R >> >> /Contents ${4 + 2 * i} 0 R >>"))
    }
    val xrefAt = out.size()
    w(s"xref\n0 ${offsets.size + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => w(f"$o%010d 00000 n \n"))
    w(s"trailer\n<< /Size ${offsets.size + 1} /Root 1 0 R >>\nstartxref\n$xrefAt\n%%EOF\n")
    out.toByteArray
  }

  /** A PDF 1.5 document: font, page tree, pages and catalog packed into one
    * FlateDecode object stream; /Root only in the cross-reference stream's
    * dictionary, as modern writers emit. */
  def objectStreamPdf(pages: Seq[String]): Array[Byte] = {
    val p = pages.size
    val fontN = p + 1; val pagesN = p + 2
    val pageNs = (0 until p).map(p + 3 + _)
    val catN = 2 * p + 3; val stmN = 2 * p + 4; val xrefN = 2 * p + 5
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    w("%PDF-1.5\n")
    pages.zipWithIndex.foreach { case (pg, i) =>
      val data = deflate(content(pg))
      w(s"${i + 1} 0 obj\n<< /Length ${data.length} /Filter /FlateDecode >>\nstream\n")
      out.write(data); w("\nendstream\nendobj\n")
    }
    val packed = Seq(fontN -> "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
      pagesN -> s"<< /Type /Pages /Kids [${pageNs.map(n => s"$n 0 R").mkString(" ")}] /Count $p >>") ++
      pageNs.zipWithIndex.map { case (n, i) =>
        n -> (s"<< /Type /Page /Parent $pagesN 0 R /MediaBox [0 0 612 792] " +
          s"/Resources << /Font << /F1 $fontN 0 R >> >> /Contents ${i + 1} 0 R >>")
      } :+ (catN -> s"<< /Type /Catalog /Pages $pagesN 0 R >>")
    val bodies = packed.map(_._2 + "\n")
    val offs = bodies.scanLeft(0)(_ + _.length).init
    val header = packed.map(_._1).zip(offs).map { case (n, o) => s"$n $o " }.mkString
    val data = deflate((header + bodies.mkString).getBytes(ISO_8859_1))
    w(s"$stmN 0 obj\n<< /Type /ObjStm /N ${packed.size} /First ${header.length} " +
      s"/Length ${data.length} /Filter /FlateDecode >>\nstream\n")
    out.write(data); w("\nendstream\nendobj\n")
    val xrefAt = out.size()
    // the parser finds objects by scanning; the cross-reference stream is
    // here for its dictionary, so its entries are left zero
    val xref = new Array[Byte](4 * (xrefN + 1))
    w(s"$xrefN 0 obj\n<< /Type /XRef /Size ${xrefN + 1} /Root $catN 0 R " +
      s"/W [1 2 1] /Length ${xref.length} >>\nstream\n")
    out.write(xref); w("\nendstream\nendobj\n")
    w(s"startxref\n$xrefAt\n%%EOF\n")
    out.toByteArray
  }

  /** Write every document under `dir`; returns the bytes written. */
  def write(corpus: Corpus, dir: Path, seed: Long): Long = {
    val r = new Random(seed ^ 0x5DEECE66DL)
    corpus.docs.map { w =>
      val pages = pageTexts(w, r)
      val bytes = w.kind match {
        case 0 => classicPdf(pages, flate = false)
        case 1 => classicPdf(pages, flate = true)
        case _ => objectStreamPdf(pages)
      }
      val f = dir.resolve(w.path)
      Files.createDirectories(f.getParent)
      Files.write(f, bytes)
      bytes.length.toLong
    }.sum
  }
}
