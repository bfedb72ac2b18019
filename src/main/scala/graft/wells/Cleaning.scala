package graft.wells

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The reference's cleaning/expression bank (SURVEY.md §2.6, F1–F25),
  * re-expressed Spark-first: built-in `Column` functions wherever Catalyst
  * has an exact equivalent (codegen'd, no UDF cost), Scala UDFs only for
  * the loop/branch-heavy extractors.
  *
  * Reference semantics: `pdf_extraction.py:37-208` (norm/clean_num/DMS/label
  * extractors), `pdf_extraction.py:277-285` (normalize_api),
  * `pdf_to_db.py:109-134` (to_decimal), `web_scraping.py:56-77` (scrape norm).
  */
object Cleaning {

  // ----------------------------------------------------------------- F1
  /** Punctuation normalization + whitespace collapse (pdf_extraction.py:37-46).
    * Maps º˚→°, ’′→', “”→", —–→-, ·→. then collapses runs of space/tab and trims. */
  def normStr(s: String): String = {
    if (s == null || s.isEmpty) ""
    else {
      val mapped = s.map {
        case 'º' | '˚' => '°'
        case '’' | '′' => '\''
        case '“' | '”' => '"'
        case '—' | '–' => '-'
        case '·'       => '.'
        case c         => c
      }
      mapped.replaceAll("[ \t]+", " ").trim
    }
  }

  /** Column form of F1 — pure built-ins (translate + regexp_replace + trim). */
  def normCol(c: Column): Column =
    trim(regexp_replace(translate(c, "º˚’′“”—–·", "°°''\"\"--."), "[ \\t]+", " "))

  // ----------------------------------------------------------------- F3
  /** Effective clean_num (pdf_extraction.py:191-193): strip everything except
    * digits and '.', empty → null. (Also strips '-'; '1,234' → '1234'.) */
  def cleanNumStr(s: String): String = {
    if (s == null) null
    else {
      val cleaned = s.replaceAll("[^\\d.]", "")
      if (cleaned.isEmpty) null else cleaned
    }
  }

  def cleanNumCol(c: Column): Column =
    nullif(regexp_replace(c, "[^\\d.]", ""), lit(""))

  // ----------------------------------------------------------------- F4
  private val DmsPlain = Pattern.compile(
    "([NSWE]?)\\s*(-?\\d+(?:\\.\\d+)?)\\s*([NSWE]?)")
  private val DmsFull = Pattern.compile(
    "([NSWE]?)\\s*(\\d{1,3})[° ]\\s*(\\d{1,2})[' ]\\s*(\\d{1,2}(?:\\.\\d+)?)\"?\\s*([NSWE]?)")

  /** DMS or plain-decimal (optional hemisphere) → signed decimal degrees
    * (pdf_extraction.py:127-151). S/W hemisphere negates; deg + min/60 + sec/3600. */
  def dmsToDecimal(raw: String): Option[Double] = {
    if (raw == null || raw.isEmpty) return None
    val s = normStr(raw).toUpperCase
    val m = DmsPlain.matcher(s)
    if (m.matches()) {
      val v = m.group(2).toDouble
      val hemi = if (m.group(1).nonEmpty) m.group(1) else m.group(3)
      return Some(if (hemi == "S" || hemi == "W") -math.abs(v) else v)
    }
    val f = DmsFull.matcher(s)
    if (f.find()) {
      val v = f.group(2).toDouble + f.group(3).toDouble / 60.0 + f.group(4).toDouble / 3600.0
      val hemi = if (f.group(1).nonEmpty) f.group(1) else f.group(5)
      Some(if (hemi == "S" || hemi == "W") -math.abs(v) else v)
    } else None
  }

  // ----------------------------------------------------------------- F5
  private val ApiCore = Pattern.compile("(\\d{2})-?(\\d{3})-?(\\d{5})")

  /** API-number normalization (pdf_extraction.py:277-285): strip whitespace,
    * reformat dd-ddd-ddddd groups; otherwise pass through stripped. */
  def normalizeApi(api: String): String = {
    if (api == null || api.isEmpty) return null
    val s = api.replaceAll("\\s", "")
    val m = ApiCore.matcher(s)
    if (m.find()) s"${m.group(1)}-${m.group(2)}-${m.group(3)}" else s
  }

  /** Column form of F5 — built-ins only: when a dd?ddd?ddddd core exists,
    * reformat via three regexp_extract groups, else passthrough stripped. */
  def normalizeApiCol(c: Column): Column = {
    val s = regexp_replace(c, "\\s", "")
    val core = "(\\d{2})-?(\\d{3})-?(\\d{5})"
    when(c.isNull || length(c) === 0, lit(null))
      .when(s.rlike(core),
        concat_ws("-",
          regexp_extract(s, core, 1),
          regexp_extract(s, core, 2),
          regexp_extract(s, core, 3)))
      .otherwise(s)
  }

  // ----------------------------------------------------------------- F6
  /** Same-line labeled value (pdf_extraction.py:96-103):
    * `label\s*[:\-]?\s*(rest-of-line)`, case-insensitive, first match. */
  def valueInline(labelRegex: String, text: String): String = {
    if (text == null) return null
    val p = Pattern.compile(labelRegex + "\\s*[:\\-]?\\s*([^\\n\\r]+)",
      Pattern.CASE_INSENSITIVE)
    val m = p.matcher(text)
    if (m.find()) { val v = m.group(1).trim; if (v.isEmpty) null else v } else null
  }

  // ----------------------------------------------------------------- F7
  /** Label alone at end of line; value = first non-empty following line
    * (pdf_extraction.py:105-124). */
  def valueNextLine(labelRegex: String, text: String): String = {
    if (text == null) return null
    val p = Pattern.compile(labelRegex + "\\s*$",
      Pattern.CASE_INSENSITIVE | Pattern.MULTILINE)
    val m = p.matcher(text)
    if (!m.find()) return null
    val tail = text.substring(m.end())
    tail.split("\\r?\\n", -1).iterator.map(_.trim).find(_.nonEmpty).orNull
  }

  // ----------------------------------------------------------------- F8
  private val NumToken = Pattern.compile("([0-9][0-9,]*(?:\\.[0-9]+)?)")

  /** For each label occurrence, capture same-line then next-line value;
    * numlike restricts to a number-looking token (pdf_extraction.py:160-189). */
  def valueAfter(labelRegex: String, text: String, numlike: Boolean): String = {
    if (text == null) return null
    val lab = Pattern.compile(labelRegex, Pattern.CASE_INSENSITIVE)
    val m = lab.matcher(text)
    while (m.find()) {
      val tail = text.substring(m.end())
      val lines = tail.split("\\r?\\n", -1)
      val same = if (lines.nonEmpty) lines(0) else ""
      val nxt = if (lines.length > 1) lines(1) else ""
      if (numlike) {
        val m1 = NumToken.matcher(same)
        if (m1.find()) return m1.group(1)
        val m2 = NumToken.matcher(nxt)
        if (m2.find()) return m2.group(1)
      } else {
        val v = same.trim
        if (v.nonEmpty) return v
        val v2 = nxt.trim
        if (v2.nonEmpty) return v2
      }
    }
    null
  }

  // ----------------------------------------------------------------- F9
  /** Up to maxChars after the label; stop at blank line or [-_]{3,} rule line;
    * kept lines joined with \n (pdf_extraction.py:195-208). */
  def firstBlockAfter(labelRegex: String, text: String, maxChars: Int = 300): String = {
    if (text == null) return null
    val p = Pattern.compile(labelRegex + "[:#]?\\s*([\\s\\S]{0," + maxChars + "})",
      Pattern.CASE_INSENSITIVE)
    val m = p.matcher(text)
    if (!m.find()) return null
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = m.group(1).split("\\r?\\n", -1).iterator
    var done = false
    while (it.hasNext && !done) {
      val s = it.next().trim
      if (s.isEmpty || s.matches("[-_]{3,}")) done = true
      else out += s
    }
    if (out.isEmpty) null else out.mkString("\n")
  }

  // ----------------------------------------------------------------- F10
  /** First regex match group(1), trimmed, else null (pdf_extraction.py:154-156). */
  def firstOrNone(pattern: Pattern, text: String): String = {
    if (text == null) return null
    val m = pattern.matcher(text)
    if (m.find()) { val v = m.group(1).trim; if (v.isEmpty) null else v } else null
  }

  // ----------------------------------------------------------------- F17
  private val NullTokens = Set("na", "n/a", "null", "none")
  private val LoadDms = Pattern.compile(
    "^\\s*([+-]?\\d+)(?:[°\\s]+(\\d+))?(?:['\\s]+([\\d.]+))?\"?\\s*$")

  /** Load-side to_decimal (pdf_to_db.py:109-134): null-token list → null,
    * unicode minus → '-', strip commas/quotes, DMS branch (sign from degrees
    * only — NOT interchangeable with F4), else plain decimal; failure → null.
    * Returns DecimalType(12,9)-compatible BigDecimal. */
  def toDecimal12_9(raw: String): java.math.BigDecimal = {
    if (raw == null) return null
    var s = raw.trim
    if (s.isEmpty || NullTokens.contains(s.toLowerCase)) return null
    s = s.replace('−', '-').replace('–', '-').replace('—', '-')
    s = s.replace(",", "")
    // Python strip('"').strip("'") removes ALL repeated edge quotes, not one
    s = s.replaceAll("^\"+|\"+$", "").replaceAll("^'+|'+$", "")
    def asDecimal(str: String): java.math.BigDecimal =
      try {
        val d = new java.math.BigDecimal(str)
        // DECIMAL(12,9) bounds: overflow → null (MySQL would clamp/error; the
        // reference corpus never exceeds ±999.999999999, so null is safe)
        if (d.abs.compareTo(new java.math.BigDecimal("1000")) >= 0) null
        else d.setScale(9, java.math.RoundingMode.HALF_UP)
      } catch { case _: NumberFormatException => null }
    if (s.contains("°") || s.contains("'") || s.contains("\"")) {
      val m = LoadDms.matcher(s)
      if (m.matches()) {
        val deg = m.group(1).toDouble
        val minutes = if (m.group(2) != null) m.group(2).toDouble else 0.0
        val seconds = if (m.group(3) != null) m.group(3).toDouble else 0.0
        val sign = if (deg < 0) -1.0 else 1.0
        val v = sign * (math.abs(deg) + minutes / 60.0 + seconds / 3600.0)
        return asDecimal(v.toString)
      }
      // fall through to plain parse (will usually fail → null), matching the
      // reference where a non-matching DMS string drops to Decimal(s)
    }
    asDecimal(s)
  }

  // ----------------------------------------------------------------- F20
  /** Scrape-side norm (web_scraping.py:56-62): null/blank/"Members Only" → "N/A". */
  def scrapeNormCol(c: Column): Column =
    when(c.isNull || trim(c) === "" ||
      trim(c).rlike("(?i)^Members?\\s+Only$"), lit("N/A"))
      .otherwise(trim(c))

  // ----------------------------------------------------------------- F21
  /** N/A → NULL post-pass (web_scraping.py:251). */
  def naToNullCol(c: Column): Column = nullif(c, lit("N/A"))

  // ----------------------------------------------------------------- F22
  /** NULL-erasing sink coercion (web_scraping.py:257-262): null → "". */
  def toStrCol(c: Column): Column = coalesce(c.cast("string"), lit(""))

  // ------------------------------------------------------------ UDF registry
  val dmsToDecimalUdf = udf((s: String) => dmsToDecimal(s))
  val toDecimal12_9Udf = udf((s: String) => Option(toDecimal12_9(s)))
  val normalizeApiUdf = udf((s: String) => Option(normalizeApi(s)))
  val cleanNumUdf = udf((s: String) => Option(cleanNumStr(s)))
  val valueNextLineUdf = udf((label: String, text: String) => Option(valueNextLine(label, text)))
  val valueAfterUdf = udf((label: String, text: String, numlike: Boolean) =>
    Option(valueAfter(label, text, numlike)))
  val firstBlockAfterUdf = udf((label: String, text: String) =>
    Option(firstBlockAfter(label, text)))

  /** toDecimal12_9 as a typed column with the exact reference DECIMAL(12,9). */
  def toDecimal12_9Col(c: Column): Column =
    toDecimal12_9Udf(c).cast(DecimalType(12, 9))
}
