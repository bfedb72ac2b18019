package graft.wells

import java.util.regex.Pattern

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.wells.Cleaning._

/** Document → record extraction (reference: parse_header at
  * pdf_extraction.py:288-316, parse_stimulation at pdf_extraction.py:343-467;
  * SURVEY.md §2.6 F11-F16, §3.1).
  *
  * The unit of work is one document's page-text array; each document is one
  * row, so the whole extractor is embarrassingly task-parallel. The
  * branch-heavy fallback chains live in plain Scala (exhaustively testable);
  * Spark sees a single pages→struct UDF per output table.
  *
  * PDF binary decoding itself (pdfplumber/OCR, S2/S3) is environment-bound
  * and modeled as a pluggable [[DocumentTextExtractor]]; tests inject page
  * fixtures (FIXTURES.md §3).
  */
object Extraction {

  /** S2/S3 seam: bytes → page texts. The text-layer leg (S2) is REAL:
    * [[PdfText]] parses classic PDFs from the public spec with zero
    * dependencies (objects, page tree, FlateDecode, text operators —
    * see its Scaladoc for the exact subset), and [[PdfText.AutoDetect]]
    * dispatches on magic bytes so one scan serves PDFs and text
    * fixtures alike. The OCR leg (S3) stays environment-bound (no
    * tesseract in this container); a Tess4J client plugs in behind the
    * same trait and [[withFallback]] gives it the reference's
    * text-layer-fails→OCR ladder. */
  trait DocumentTextExtractor extends Serializable {
    def extract(content: Array[Byte]): Seq[String]
  }

  /** Deterministic stand-in: bytes are UTF-8 text with form-feed page
    * breaks. Lets the full pipeline run end-to-end on text fixtures. */
  object TextPassthroughExtractor extends DocumentTextExtractor {
    def extract(content: Array[Byte]): Seq[String] =
      new String(content, java.nio.charset.StandardCharsets.UTF_8)
        .split("\f", -1).toSeq
  }

  /** The OCR engine seam (S3): image bytes as stored in the PDF (a
    * complete JPEG for DCTDecode, inflated raw samples for FlateDecode)
    * plus dimensions → recognized text. A Tess4J/tesseract-backed
    * implementation plugs in here in a real deployment (the engine
    * itself is environment-bound — no OCR library ships in this
    * container); everything around it — per-page image extraction,
    * page assembly, the fallback ladder, Spark distribution — is real
    * and spec-driven ([[OcrExtractor]], OcrLadderSpec). */
  trait OcrEngine extends Serializable {
    def recognize(image: PdfText.PdfImage): String
  }

  /** S3's extractor: the scanned-PDF OCR leg, reference
    * pdf_extraction.py:63-71 re-expressed without a rasterizer — each
    * page's embedded image XObjects ([[PdfText.imagesPerPage]]; for the
    * scanned documents OCR exists for, the page IS one full-page scan
    * image) run through the [[OcrEngine]] and join as the page's text.
    * Pages with no images yield blank text — under [[withFallback]]
    * that keeps the all-blank signal intact when OCR has nothing to
    * work with. Engine failures on one image degrade to that image
    * blank, never a throw (the ladder's never-throws discipline). */
  final class OcrExtractor(engine: OcrEngine) extends DocumentTextExtractor {
    def extract(content: Array[Byte]): Seq[String] =
      PdfText.imagesPerPage(content).map(_.map { img =>
        // third-party engines may signal "unreadable" as null rather
        // than "" or a throw — all three must degrade to a blank image
        try Option(engine.recognize(img)).getOrElse("")
        catch { case scala.util.control.NonFatal(_) => "" }
      }.filter(_.nonEmpty).mkString("\n"))
  }

  /** S4 extractor preference/fallback (pdf_extraction.py:73-81): use the
    * preferred extractor unless it yields only blank pages, then fall back
    * — with `preferFallback` flipping the order (the --prefer-ocr flag). */
  def withFallback(textLayer: DocumentTextExtractor, ocr: DocumentTextExtractor,
      preferFallback: Boolean = false): DocumentTextExtractor =
    new DocumentTextExtractor {
      def extract(content: Array[Byte]): Seq[String] = {
        val (first, second) =
          if (preferFallback) (ocr, textLayer) else (textLayer, ocr)
        val pages = first.extract(content)
        if (pages.forall(_.trim.isEmpty)) second.extract(content) else pages
      }
    }

  // ------------------------------------------------------------ header bank
  // F11 (pdf_extraction.py:213-222): labeled-value extractors, first match,
  // case-insensitive, full-width colon tolerated.
  private def rx(p: String) = Pattern.compile(p, Pattern.CASE_INSENSITIVE)

  private val RxOperator = rx("(?:\\bWell\\s+Operator|\\bOperator|Responsible\\s+Party)\\s*[:：\\-]\\s*([^\\n\\r]+)")
  private val RxWellName = rx("\\bWell\\s*(?:Name|(?:or\\s*Facility)?\\s*Name)\\s*[:：\\-]\\s*([^\\n\\r]+)")
  private val RxApi = rx("(?:API\\s*(?:#|No\\.?)?|Well\\s*File\\s*No\\.?)\\s*[:\\-]?\\s*([0-9]{5,}|\\d{2}\\s*-\\s*\\d{3}\\s*-\\s*\\d{5})")
  private val RxEnseco = rx("\\bEnseco\\s*Job#?\\s*[:：#]?\\s*([A-Z]?\\d[\\w\\-]*)")
  private val RxJobType = rx("\\bJob\\s*Type\\s*[:：\\-]\\s*([^\\n\\r]+)")
  private val RxCountyState = rx("\\bCounty\\s*,\\s*State\\s*[:：\\-]\\s*([^\\n\\r]+)")
  private val RxShl = rx("Well\\s*Surface\\s*Hole\\s*Location\\s*\\(SHL\\)\\s*[:：\\-]\\s*([^\\n\\r]+)")
  private val RxLat = rx("\\bLatitude\\s*[:：\\-]\\s*([^\\n\\r]+)")
  private val RxLon = rx("\\bLongitude\\s*[:：\\-]\\s*([^\\n\\r]+)")
  private val RxDatum = rx("\\bDatum\\s*[:：\\-]\\s*([^\\n\\r]+)")

  // F12 (pdf_extraction.py:226-236): stimulation fallback bank.
  private val RxDateStim = rx("Date\\s*Stimulated\\s*\\n\\s*([0-9]{1,2}/[0-9]{1,2}/[0-9]{4})")
  private val RxFormation = rx("Stimulated\\s*Formation\\s*\\n\\s*([^\\n]+)")
  private val RxTypeTreat = rx("Type\\s*Treatment\\s*\\n\\s*([^\\n]+)")
  private val RxAcidPct = rx("Acid\\s*%[\\s\\S]*?\\n\\s*([0-9.]+)")
  private val RxLbsProp = rx("Lbs\\s*Proppant\\s*\\n\\s*([0-9,]+)")
  private val RxTopBotStage = rx("Top\\s*\\(Ft\\)\\s*Bottom\\s*\\(Ft\\)\\s*Stimulation\\s*Stages\\s*\\n\\s*([0-9,]+)\\s+([0-9,]+)\\s+([0-9,]+)")
  private val RxPressPsi = rx("Maximum\\s*Treatment\\s*Pressure\\s*\\(PSI\\)\\s*\\n\\s*([0-9,]+)")
  private val RxMaxRate = rx("Maximum\\s*Treatment\\s*Rate\\s*\\(BBLS/Min\\)\\s*\\n\\s*([0-9]+(?:\\.[0-9]+)?)")
  private val RxVolumeBlock = Pattern.compile(
    "\\bVolume\\s*\\n\\s*([0-9][0-9,\\.]*)\\s*$\\s*^Volume\\s*Units\\s*\\n\\s*([A-Za-z/]+)\\s*$",
    Pattern.CASE_INSENSITIVE | Pattern.MULTILINE)

  private val StimTableHeader = rx(
    "Date\\s*Stimulated\\s+Stimulated\\s*Formation\\s+Top\\s*\\(Ft\\)\\s+Bottom\\s*\\(Ft\\)\\s+Stimulation\\s*Stages\\s+Volume\\s+Volume\\s*Units")
  private val DateToken = Pattern.compile("\\d{1,2}[/-]\\d{1,2}[/-]\\d{2,4}")

  // ------------------------------------------------------------ page slicing
  /** Header text = pages 1-2 joined with \n; fewer than 2 pages → all
    * (pdf_extraction.py:288-290). */
  def headerText(pages: Seq[String]): String =
    (if (pages.length >= 2) pages.take(2) else pages).mkString("\n")

  /** Stimulation text = pages 3+; blank/absent → whole document
    * (pdf_extraction.py:343-345). */
  def stimText(pages: Seq[String]): String = {
    val later = if (pages.length > 2) pages.drop(2).mkString("\n") else ""
    if (later.trim.nonEmpty) later else pages.mkString("\n")
  }

  /** Blank-document test (pdf_extraction.py:494-496, A4). */
  def isBlankDoc(pages: Seq[String]): Boolean = !pages.exists(_.trim.nonEmpty)

  // ------------------------------------------------------------ parsers
  def parseHeader(pages: Seq[String], pdfName: String): HeaderRow = {
    val text = headerText(pages)
    def f(p: Pattern) = Option(firstOrNone(p, text))
    val latRaw = f(RxLat)
    val lonRaw = f(RxLon)
    HeaderRow(
      pdf_name = pdfName,
      operator = f(RxOperator),
      well_name = f(RxWellName),
      api = f(RxApi).flatMap(a => Option(normalizeApi(a))),
      enseco_job = f(RxEnseco),
      job_type = f(RxJobType),
      county_state = f(RxCountyState),
      shl = f(RxShl),
      latitude = latRaw.flatMap(dmsToDecimal),
      longitude = lonRaw.flatMap(dmsToDecimal),
      datum = f(RxDatum))
  }

  /** The per-field fallback-chain parser (F13 fast path, then F14 chains,
    * F15/F16 combined rescues). Empty-string results (a matched label with
    * no digits) stay falsy for chain purposes, exactly like the reference's
    * clean_num returning "". */
  def parseStimulation(pages: Seq[String], pdfName: String): StimRow = {
    val t = stimText(pages)
    def blank(o: Option[String]) = o.forall(_.isEmpty)
    def cn(s: String): Option[String] = Option(s).map(x => Option(cleanNumStr(x)).getOrElse(""))

    // F13: 7-column tabular fast path
    var date, formation, top, bottom, stages, volume, units: Option[String] = None
    val hm = StimTableHeader.matcher(t)
    if (hm.find()) {
      val after = t.substring(hm.end())
      after.split("\\r?\\n", -1).iterator.map(_.trim).find(_.nonEmpty).foreach { valsLine =>
        var cols = valsLine.split("\\s{2,}")
        if (cols.length < 7) cols = valsLine.split("\\s{1,}\\|\\s{1,}|\\s{3,}")
        if (cols.length >= 7) {
          val dm = DateToken.matcher(cols(0))
          date = Some(if (dm.find()) dm.group(0) else cols(0).trim)
          formation = Some(cols(1).trim)
          top = cn(cols(2))
          bottom = cn(cols(3))
          stages = cn(cols(4))
          volume = cn(cols(5))
          val u = cols(6).replaceAll("[^A-Za-z/]", "").trim
          units = if (u.isEmpty) None else Some(u)
        }
      }
    }

    // F14 fallback chains (order: inline → next-line → RX bank)
    def chain(parts: => Seq[Option[String]]): Option[String] =
      parts.iterator.flatten.filter(_.nonEmpty).nextOption()
    def inline(lbl: String) = Option(valueInline(lbl, t))
    def nextLine(lbl: String) = Option(valueNextLine(lbl, t))
    def bank(p: Pattern) = Option(firstOrNone(p, t))

    if (blank(date)) {
      date = chain(Seq(inline("Date\\s*Stimulated"), nextLine("Date\\s*Stimulated"), bank(RxDateStim)))
        .map { d => val m = DateToken.matcher(d); if (m.find()) m.group(0) else d }
    }
    if (blank(formation))
      formation = chain(Seq(inline("Stimulated\\s*Formation"), nextLine("Stimulated\\s*Formation"), bank(RxFormation)))
    val typeTreatment =
      chain(Seq(inline("Type\\s*Treatment"), nextLine("Type\\s*Treatment"), bank(RxTypeTreat)))
    val acidPct =
      chain(Seq(inline("Acid\\s*%"), nextLine("Acid\\s*%"), bank(RxAcidPct))).flatMap(s => cn(s))
    val lbsProppant =
      chain(Seq(inline("Lbs\\s*Proppant"), nextLine("Lbs\\s*Proppant"), bank(RxLbsProp))).flatMap(s => cn(s))

    if (blank(top))
      top = chain(Seq(inline("Top\\s*\\(Ft\\)"), nextLine("Top\\s*\\(Ft\\)"))).flatMap(s => cn(s))
    if (blank(bottom))
      bottom = chain(Seq(inline("Bottom\\s*\\(Ft\\)"), nextLine("Bottom\\s*\\(Ft\\)"))).flatMap(s => cn(s))
    if (blank(stages))
      stages = chain(Seq(inline("Stimulation\\s*Stages"), nextLine("Stimulation\\s*Stages"))).flatMap(s => cn(s))

    // F15: combined 3-group rescue fills only the still-missing fields
    if (blank(top) || blank(bottom) || blank(stages)) {
      val m = RxTopBotStage.matcher(t)
      if (m.find()) {
        if (blank(top)) top = cn(m.group(1))
        if (blank(bottom)) bottom = cn(m.group(2))
        if (blank(stages)) stages = cn(m.group(3))
      }
    }

    if (blank(volume))
      volume = chain(Seq(inline("\\bVolume\\b"), nextLine("\\bVolume\\b"))).flatMap(s => cn(s))
    if (blank(units)) {
      units = chain(Seq(inline("Volume\\s*Units"), nextLine("Volume\\s*Units")))
        .map(_.replaceAll("[^A-Za-z/]", "").trim).filter(_.nonEmpty)
      // F16: paired volume+units block rescue
      if (blank(units)) {
        val m = RxVolumeBlock.matcher(t)
        if (m.find()) {
          if (blank(volume)) volume = cn(m.group(1))
          units = Some(m.group(2))
        }
      }
    }

    val psi = chain(Seq(
      inline("Maximum\\s*Treatment\\s*Pressure\\s*\\(PSI\\)"),
      nextLine("Maximum\\s*Treatment\\s*Pressure\\s*\\(PSI\\)"),
      bank(RxPressPsi))).flatMap(s => cn(s))
    val rate = chain(Seq(
      inline("Maximum\\s*Treatment\\s*Rate\\s*\\(BBLS/?Min\\)"),
      nextLine("Maximum\\s*Treatment\\s*Rate\\s*\\(BBLS/?Min\\)"),
      bank(RxMaxRate))).flatMap(s => cn(s))

    val details = Option(valueNextLine("\\bDetails\\b", t)).filter(_.length < 400)

    def scrub(o: Option[String]) = o.filter(_.nonEmpty)
    StimRow(
      pdf_name = pdfName,
      date_simulated = scrub(date),
      stimulated_formation = scrub(formation),
      type_treatment = scrub(typeTreatment),
      acid_pct = scrub(acidPct),
      lbs_proppant = scrub(lbsProppant),
      top_ft = scrub(top),
      bottom_ft = scrub(bottom),
      stimulation_stages = scrub(stages),
      volume = scrub(volume),
      volume_units = scrub(units),
      max_pressure_psi = scrub(psi),
      max_treatment_rate_bbls_min = scrub(rate),
      stimulated_in = None,
      details = details)
  }

  // ------------------------------------------------------------ Spark stage
  private val parseHeaderUdf = udf((pages: Seq[String], name: String) => parseHeader(pages, name))
  private val parseStimUdf = udf((pages: Seq[String], name: String) => parseStimulation(pages, name))
  private val blankDocUdf = udf((pages: Seq[String]) => isBlankDoc(pages))

  /** Extract stage over a documents DataFrame with columns
    * (path string, pdf_name string, pages array<string>), as
    * [[scanDocuments]] and `Streams.streamDocuments` produce. Returns
    * (headerDf, stimDf) in golden CSV column order. Blank documents are
    * skipped entirely (P6, pdf_extraction.py:494-496).
    *
    * Order contract (S1): each output is one partition in full-path order,
    * like the reference's sorted(rglob) — a basename order would tie on
    * duplicate filenames, and the load's last-writer-wins merge must see
    * the later path last. The parse runs in the input's own parallel
    * tasks and only the parsed rows cross the exchange into the ordered
    * partition. A range sort (`orderBy`) would run the input's UDFs again
    * in its sample job, and ordering the documents before the parse would
    * put the decode and the parse into the one ordered task. The input is
    * read once per output: cache it when both outputs are materialized. */
  def extractAll(docs: DataFrame): (DataFrame, DataFrame) = {
    val live = docs.filter(!blankDocUdf(col("pages")))
    def inPathOrder(parse: UserDefinedFunction, cols: Seq[String]): DataFrame =
      live.select(col("path"), parse(col("pages"), col("pdf_name")).as("r"))
        .repartition(1)
        .sortWithinPartitions("path")
        .select(cols.map(c => col(s"r.$c").as(c)): _*)
    (inPathOrder(parseHeaderUdf, Model.headerCols), inPathOrder(parseStimUdf, Model.stimCols))
  }

  /** Directory-of-documents scan (S1): binary files, one row per document
    * with its full `path` (the order key of [[extractAll]]). Text
    * extraction via the pluggable seam, in the scan's own tasks. */
  def scanDocuments(spark: SparkSession, dir: String,
      extractor: DocumentTextExtractor = TextPassthroughExtractor,
      glob: String = "*.pdf"): DataFrame = {
    val ex = extractor
    val pagesUdf = udf((content: Array[Byte]) => ex.extract(content))
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select(col("path"),
        element_at(split(col("path"), "/"), -1).as("pdf_name"),
        pagesUdf(col("content")).as("pages"))
  }
}
