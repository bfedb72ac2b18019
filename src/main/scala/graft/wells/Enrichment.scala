package graft.wells

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Web-enrichment stage (reference: web_scraping.py; SURVEY.md S11/§3.3).
  *
  * The reference scrapes one well at a time, relaunching a browser per well
  * (sequential worst case ≈ 77 × 18 s). Here the keys are spread
  * over every task slot (`defaultParallelism` partitions, whatever the
  * layout of the table they came from: a one-file header table reads as
  * one partition) and enriched inside `mapPartitions`, one fetch in flight
  * per slot, with per-row failure isolation; a failed fetch degrades to
  * the all-N/A blank row exactly like the reference's error path
  * (web_scraping.py:225-233). No live HTTP exists in the engine: clients
  * are pluggable, tests and the default use a deterministic stub.
  */
object Enrichment {

  /** One scraped record: the five attributes of OUT_COLS minus keys. */
  final case class WebRecord(
      well_name: String, api: String, well_status: String, well_type: String,
      closest_city: String, oil_badge: String, gas_badge: String)

  /** S11 seam. Implementations must be cheap to construct on executors. */
  trait EnrichmentClient extends Serializable {
    def fetch(wellName: String, api: String): WebRecord
  }

  /** All-N/A row (web_scraping.py:68-77). */
  def blankRow(wellName: String, api: String): WebRecord =
    WebRecord(wellName, api, "N/A", "N/A", "N/A", "N/A", "N/A")

  /** Deterministic stub: status/type/city/badges derived from a hash of the
    * key, with the reference's edge cases (Members Only, missing well)
    * exercised on fixed residues. Stands in for the Playwright client. */
  object StubClient extends EnrichmentClient {
    private val statuses = Seq("Active", "Inactive", "Plugged", "Producing")
    private val types = Seq("Oil & Gas", "SWD", "Dry Hole")
    private val cities = Seq("Williston", "Watford City", "New Town", "Stanley")
    def fetch(wellName: String, api: String): WebRecord = {
      val h = math.abs((Option(wellName).getOrElse("") + "|" +
        Option(api).getOrElse("")).hashCode)
      h % 11 match {
        case 0 => blankRow(wellName, api) // not-found path
        case 1 => WebRecord(wellName, api, statuses(h % 4), "Members Only",
          cities(h % 4), s"${h % 90 / 10.0}k", "N/A") // members-only field
        case _ => WebRecord(wellName, api, statuses(h % 4), types(h % 3),
          cities(h % 4), s"${h % 90 / 10.0}k", s"${h % 500}.${h % 10}k")
      }
    }
  }

  /** keys → scraped rows, on every task slot; per-row try/catch degrades a
    * throwing client to the blank row (failure isolation, timeout semantics
    * live inside the client). Scrape-norm (F20) applied to every attribute:
    * null/blank/"Members Only" → "N/A". A failed fetch also carries the
    * error message in __error — the S15 failure side-channel — surfaced by
    * [[rejects]] instead of screenshots-on-disk. */
  def scrape(keys: DataFrame, client: EnrichmentClient): DataFrame = {
    val spark = keys.sparkSession
    import spark.implicits._
    val fetched = keys.select(col("well_name").cast("string"), col("api").cast("string"))
      .repartition(spark.sparkContext.defaultParallelism)
      .as[(String, String)]
      .mapPartitions { it =>
        it.map { case (name, api) =>
          try (client.fetch(name, api), null: String)
          catch { case e: Exception => (blankRow(name, api), e.toString) }
        }
      }
      .toDF("r", "__error")
      .select(col("r.*"), col("__error"))
    Model.scrapeCols.foldLeft(fetched) { (df, c) =>
      df.withColumn(c, Cleaning.scrapeNormCol(col(c)))
    }
  }

  /** S15 reject sink: rows whose fetch threw, with the error string. */
  def rejects(scraped: DataFrame): DataFrame =
    scraped.filter(col("__error").isNotNull)
      .select(col("well_name"), col("api"), col("__error").as("error"))

  /** web_table materialization (web_scraping.py:251-281): N/A → null, then
    * the all-TEXT sink coerces null → '' — the reference's three null
    * encodings collapse to empty string here, and joins/filters over
    * web_table must see '' not NULL (§1.2). */
  def webTable(scraped: DataFrame): DataFrame =
    Model.scrapeCols.foldLeft(scraped.drop("__error")) { (df, c) =>
      df.withColumn(c, Cleaning.toStrCol(Cleaning.naToNullCol(col(c))))
    }

  /** well_info = well_header ⟕ web_table ON (well_name, api), header.* plus
    * the five scraped attributes (web_scraping.py:285-296, J2). web_table
    * is scrape output (≤ header size) → broadcast; at 100 TB both sides
    * bucket on (well_name, api). */
  def wellInfo(header: DataFrame, web: DataFrame): DataFrame = {
    val webSel = web.select((Seq("well_name", "api") ++ Model.scrapeCols).map(col): _*)
    header.join(broadcast(webSel), Seq("well_name", "api"), "left")
      .select((Model.headerCols ++ Model.scrapeCols).map(col): _*)
  }

  /** Full enrichment flow: project keys (P1/S10), scrape, publish web_table
    * and well_info as parquet snapshots. well_header is only read here;
    * its writer, the loader, heals a crashed publish of it. */
  def run(spark: SparkSession, tableRoot: String,
      client: EnrichmentClient = StubClient): DataFrame = {
    val header = spark.read.parquet(s"$tableRoot/well_header")
    val keys = header.select("well_name", "api")
    val web = webTable(scrape(keys, client))
    graft.operators.MergeWriter.publish(web, s"$tableRoot/web_table")
    val info = wellInfo(header, spark.read.parquet(s"$tableRoot/web_table"))
    graft.operators.MergeWriter.publish(info, s"$tableRoot/well_info")
    spark.read.parquet(s"$tableRoot/well_info")
  }
}
