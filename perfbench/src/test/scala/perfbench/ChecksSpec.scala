package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.wells.{Extraction, PdfText}
import perfbench.WellsCorpus._

/** The generator writes documents the program parses back to the planted
  * values, and the checks catch a corrupted expected value. */
class ChecksSpec extends AnyFunSuite {

  private val corpus = WellsCorpus.generate(seed = 7, n = 60, firstId = 100)

  private def pdf(w: Well): Array[Byte] = {
    val pages = pageTexts(w, new scala.util.Random(1))
    w.kind match {
      case 0 => classicPdf(pages, flate = false)
      case 1 => classicPdf(pages, flate = true)
      case _ => objectStreamPdf(pages)
    }
  }

  test("the same seed gives the same corpus and the same bytes") {
    val again = WellsCorpus.generate(seed = 7, n = 60, firstId = 100)
    assert(again == corpus)
    assert(corpus.docs.map(pdf).map(_.toSeq) == again.docs.map(pdf).map(_.toSeq))
    assert(WellsCorpus.generate(seed = 8, n = 60, firstId = 100) != corpus)
  }

  test("the corpus carries the dirty values and failure cases") {
    val docs = corpus.docs
    assert(docs.exists(_.blank))
    assert(docs.exists(_.lat.isEmpty))
    assert(docs.exists(_.latText.exists(_ == '°')))
    assert(docs.exists(w => Option(w.lonText).exists(_.endsWith(" W"))))
    assert(docs.map(_.apiText.takeWhile(!_.isDigit)).distinct.size == 4)
    assert(docs.map(_.kind).distinct.sorted == Seq(0, 1, 2))
    assert(docs.exists(_.web == NotFound) && docs.exists(_.web == ServerError))
    val dup = docs.groupBy(_.pdfName).values.filter(_.size > 1).toSeq
    assert(dup.size == 1 && dup.head.map(_.dir).distinct.size == 2)
    assert(corpus.expected.exists(_.operator == "DUPLICATE OPERATING LLC"))
  }

  test("every generated PDF extracts to the planted header and stimulation values") {
    for (w <- corpus.docs) {
      val pages = PdfText.extract(pdf(w))
      assert(pages.size == w.pages, s"${w.path}: page count")
      if (w.blank) assert(Extraction.isBlankDoc(pages))
      else {
        val h = Extraction.parseHeader(pages, w.pdfName)
        val expected = Checks.headerRow(w)
        val got = Map("operator" -> h.operator.orNull, "well_name" -> h.well_name.orNull,
          "api" -> h.api.orNull, "county_state" -> h.county_state.orNull,
          "datum" -> h.datum.orNull,
          "latitude" -> h.latitude.map(v => BigDecimal(v).toString).orNull,
          "longitude" -> h.longitude.map(v => BigDecimal(v).toString).orNull)
        assert(Checks.diff("header", Map(w.pdfName -> (expected -- Seq("pdf_name",
          "enseco_job", "job_type", "shl"))), Map(w.pdfName -> got)).isEmpty)
        val s = Extraction.parseStimulation(pages, w.pdfName)
        assert(Seq(s.date_simulated, s.stimulated_formation, s.top_ft, s.bottom_ft,
          s.stimulation_stages, s.volume, s.volume_units, s.lbs_proppant,
          s.max_pressure_psi, s.max_treatment_rate_bbls_min).map(_.orNull) ==
          Seq(w.stim.date, w.stim.formation, w.stim.top, w.stim.bottom, w.stim.stages,
            w.stim.volume, w.stim.units, w.stim.lbs, w.stim.psi, w.stim.rate), w.path)
      }
    }
  }

  test("a corrupted expected value is caught") {
    val wells = corpus.expected
    val actual = wells.map(w => w.pdfName -> Checks.infoRow(w)).toMap
    assert(Checks.diff("well_info", actual, actual).isEmpty)
    val w = wells.find(_.lat.isDefined).get
    def corrupted(col: String, v: String) =
      actual.updated(w.pdfName, actual(w.pdfName).updated(col, v))
    assert(Checks.diff("well_info", corrupted("operator", "WRONG"), actual).nonEmpty)
    assert(Checks.diff("well_info", corrupted("well_status", ""), actual).nonEmpty ||
      Checks.webCols(w)("well_status") == "")
    val lat = BigDecimal(actual(w.pdfName)("latitude"))
    assert(Checks.diff("well_info", corrupted("latitude", (lat + BigDecimal("1e-6")).toString), actual).nonEmpty)
    assert(Checks.diff("well_info", corrupted("latitude", (lat + BigDecimal("1e-10")).toString), actual).isEmpty,
      "rounding to DECIMAL(12,9) is not a mismatch")
    assert(Checks.diff("well_info", actual - w.pdfName, actual).nonEmpty, "an extra row is caught")
  }

  test("a table row duplicated under its key is caught") {
    val rows = corpus.expected.map(Checks.infoRow)
    assert(Checks.diffKeyed("well_info", "pdf_name", rows, rows).isEmpty)
    val older = corpus.docs.groupBy(_.pdfName).values.find(_.size > 1).get.minBy(_.path)
    assert(Checks.diffKeyed("well_info", "pdf_name", rows, rows :+ Checks.infoRow(older))
      .exists(_.contains("2 rows for")), "the copy last-writer-wins should have dropped")
    assert(Checks.diffKeyed("well_info", "pdf_name", rows, rows :+ rows.head).nonEmpty,
      "an exact duplicate is caught")
    assert(Checks.diffKeyed("well_info", "pdf_name", rows, rows.tail).nonEmpty)
  }

  test("/wells rows are checked in order") {
    val rows = Checks.wellsRows(corpus.expected)
    assert(Checks.diffOrdered("/wells", "pdf_name", rows, rows).isEmpty)
    assert(Checks.diffOrdered("/wells", "pdf_name", rows, rows.reverse).nonEmpty)
    val json = rows.map(r => r.collect { case (k, v) if v != null => s""""$k":"$v"""" }
      .mkString("{", ",", "}"))
    assert(Checks.diffOrdered("/wells", "pdf_name", rows, Checks.jsonRows(json)).isEmpty,
      "a field the JSON omits reads as null")
  }

  test("a corrupted catalog fingerprint is caught") {
    val fp = Checks.Fingerprint(500, BigDecimal("-132705404354178894690"))
    assert(Checks.fingerprint("dd06", Some(fp), fp).isEmpty)
    assert(Checks.fingerprint("dd06", Some(fp.copy(rows = 499)), fp).nonEmpty)
    assert(Checks.fingerprint("dd06", Some(fp.copy(hash = fp.hash + 1)), fp).nonEmpty)
    assert(Checks.fingerprint("dd06", None, fp).nonEmpty)
  }

  test("only an HTTP 500 that overlaps the publish is counted apart from failed") {
    import WellsRun.{Phase, Req}
    def req(sent: Double, done: Double, status: Int) = Req(50, sent, sent, done, status,
      if (status == 200) None else Some(s"HTTP $status"), afterPublish = false, shows = false)
    val p = Phase(50, start = 0, end = 10000, reqs = Nil, pubStart = 1000, pubEnd = Some(3000))
    assert(p.racing(req(900, 1100, 500)))
    assert(p.racing(req(2900, 3200, 500)))
    assert(!p.racing(req(500, 900, 500)), "answered before the publish started")
    assert(!p.racing(req(3100, 3300, 500)), "sent after the publish returned")
    assert(!p.racing(req(2000, 2100, 200)))
    assert(!p.racing(req(2000, 2100, 503)))
    assert(p.copy(pubEnd = None).racing(req(9000, 9100, 500)), "a publish that threw never returned")
  }
}
