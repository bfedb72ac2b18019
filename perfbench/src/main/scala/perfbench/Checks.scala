package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

import perfbench.WellsCorpus._

/** Output checks: every table row and every `/wells` row against the values
  * planted in the corpus, and every catalog gate against its recorded
  * fingerprint. A check returns its mismatches; empty means correct. */
object Checks {
  type Row = Map[String, String]

  private val coordinateCols = Set("latitude", "longitude")

  /** Column values compare as strings, except coordinates, which compare as
    * numbers to within 1e-9 (the load rounds them to DECIMAL(12,9)). */
  def same(col: String, expected: String, actual: String): Boolean =
    if (expected == null || actual == null) expected == actual
    else if (coordinateCols(col))
      (BigDecimal(expected) - BigDecimal(actual)).abs <= BigDecimal("1e-9")
    else expected == actual

  /** Mismatches between two keyed row sets, on the expected rows' columns. */
  def diff(what: String, expected: Map[String, Row], actual: Map[String, Row]): Seq[String] = {
    val missing = (expected.keySet -- actual.keySet).toSeq.sorted.map(k => s"$what: missing row $k")
    val extra = (actual.keySet -- expected.keySet).toSeq.sorted.map(k => s"$what: unexpected row $k")
    val wrong = expected.toSeq.sortBy(_._1).flatMap { case (k, e) =>
      actual.get(k).toSeq.flatMap { a =>
        e.toSeq.sortBy(_._1).collect {
          case (c, v) if !same(c, v, a.getOrElse(c, null)) =>
            s"$what: row $k column $c expected ${str(v)} got ${str(a.getOrElse(c, null))}"
        }
      }
    }
    missing ++ extra ++ wrong
  }

  /** Mismatches between two row lists keyed by `key`. A key the actual rows
    * hold more than once is a mismatch, even if one copy is right. */
  def diffKeyed(what: String, key: String, expected: Seq[Row], actual: Seq[Row]): Seq[String] = {
    val count =
      if (expected.size == actual.size) Nil
      else Seq(s"$what: expected ${expected.size} rows, got ${actual.size}")
    val dups = actual.groupBy(_.getOrElse(key, null)).toSeq.collect {
      case (k, rs) if rs.size > 1 => s"$what: ${rs.size} rows for ${str(k)}"
    }.sorted
    count ++ dups ++ diff(what, expected.map(r => r(key) -> r).toMap,
      actual.map(r => r.getOrElse(key, null) -> r).toMap)
  }

  /** Mismatches between two ordered row lists keyed by `key`. */
  def diffOrdered(what: String, key: String, expected: Seq[Row], actual: Seq[Row]): Seq[String] = {
    val order =
      if (expected.map(_.getOrElse(key, null)) == actual.map(_.getOrElse(key, null))) Nil
      else Seq(s"$what: row order or count differs (expected ${expected.size} rows, got ${actual.size})")
    order ++ diff(what, expected.map(r => r(key) -> r).toMap, actual.map(r => r(key) -> r).toMap)
  }

  private def str(v: String) = if (v == null) "null" else s"'$v'"

  // ------------------------------------------------------------ expected
  private def dec(d: Option[Double]): String = d.map(v => BigDecimal(v).toString).orNull

  def headerRow(w: Well): Row = Map("pdf_name" -> w.pdfName, "operator" -> w.operator,
    "well_name" -> w.wellName, "api" -> w.api, "enseco_job" -> null, "job_type" -> null,
    "county_state" -> w.county, "shl" -> null, "latitude" -> dec(w.lat),
    "longitude" -> dec(w.lon), "datum" -> w.datum)

  def stimRow(w: Well): Row = {
    val s = w.stim
    Map("pdf_name" -> w.pdfName, "date_simulated" -> s.date,
      "stimulated_formation" -> s.formation, "type_treatment" -> null,
      "acid_pct" -> null, "lbs_proppant" -> s.lbs, "top_ft" -> s.top,
      "bottom_ft" -> s.bottom, "stimulation_stages" -> s.stages, "volume" -> s.volume,
      "volume_units" -> s.units, "max_pressure_psi" -> s.psi,
      "max_treatment_rate_bbls_min" -> s.rate, "details" -> s.details)
  }

  /** The five scraped columns as the web table stores them: a field the
    * site did not give, or gave as "Members Only", is ''. */
  def webCols(w: Well): Row = {
    val vals = w.web match {
      case f: Found => Seq(f.status, if (f.wellType == "Members Only") "" else f.wellType,
        f.city, f.oil, f.gas)
      case _ => Seq.fill(5)("")
    }
    Seq("well_status", "well_type", "closest_city", "oil_badge", "gas_badge").zip(vals).toMap
  }

  def webRow(w: Well): Row = Map("well_name" -> w.wellName, "api" -> w.api) ++ webCols(w)
  def infoRow(w: Well): Row = headerRow(w) ++ webCols(w)

  /** `/wells`: wells with both coordinates, by (well_name, pdf_name); the
    * surviving pdf_name is the stimulation row's. */
  def wellsRows(wells: Seq[Well]): Seq[Row] =
    wells.filter(w => w.lat.isDefined && w.lon.isDefined)
      .sortBy(w => (w.wellName, w.pdfName))
      .map(w => (infoRow(w) - "pdf_name") ++ stimRow(w))

  // ------------------------------------------------------------ actual
  def tableRows(spark: SparkSession, path: String): Seq[Row] = rows(spark.read.parquet(path))

  def rows(df: DataFrame): Seq[Row] = {
    val cols = df.columns
    df.collect().toSeq.map { r =>
      cols.indices.map { i =>
        cols(i) -> (r.get(i) match {
          case null => null
          case d: java.math.BigDecimal => d.toPlainString
          case v => v.toString
        })
      }.toMap
    }
  }

  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)

  private def jsonRow(n: JsonNode): Row =
    n.fields().asScala.map { e =>
      e.getKey -> (if (e.getValue.isNull) null
        else if (e.getValue.isNumber) e.getValue.decimalValue().toPlainString
        else e.getValue.asText())
    }.toMap

  /** Rows of `/wells` JSON lines; a field the JSON omits is null. */
  def jsonRows(lines: Seq[String]): Seq[Row] = lines.map(l => jsonRow(mapper.readTree(l)))

  /** Rows of a `/wells` response body (one JSON array). */
  def bodyRows(body: String): Seq[Row] =
    mapper.readTree(body).elements().asScala.map(jsonRow).toSeq

  /** Every table under `root` and the `/wells` rows against `wells`. */
  def pipeline(spark: SparkSession, root: String, wells: Seq[Well],
      wellsOut: Seq[Row]): Seq[String] = {
    diffKeyed("well_header", "pdf_name", wells.map(headerRow),
      tableRows(spark, s"$root/well_header")) ++
    diffKeyed("well_stimulation", "pdf_name", wells.map(stimRow),
      tableRows(spark, s"$root/well_stimulation")) ++
    diffKeyed("web_table", "well_name", wells.map(webRow),
      tableRows(spark, s"$root/web_table")) ++
    diffKeyed("well_info", "pdf_name", wells.map(infoRow),
      tableRows(spark, s"$root/well_info")) ++
    diffOrdered("/wells", "pdf_name", wellsRows(wells), wellsOut)
  }

  // ------------------------------------------------------------ catalog
  final case class Fingerprint(rows: Long, hash: BigDecimal)

  def readFingerprints(path: String): Map[String, Fingerprint] =
    scala.io.Source.fromFile(path).getLines().filterNot(_.startsWith("#"))
      .map(_.split("\t")).collect { case Array(n, r, h) => n -> Fingerprint(r.toLong, BigDecimal(h)) }
      .toMap

  def fingerprint(gate: String, expected: Option[Fingerprint], actual: Fingerprint): Seq[String] =
    expected match {
      case None => Seq(s"$gate: no recorded fingerprint")
      case Some(e) if e != actual => Seq(s"$gate: expected $e got $actual")
      case _ => Nil
    }
}
