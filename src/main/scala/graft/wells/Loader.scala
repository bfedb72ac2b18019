package graft.wells

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.MergeWriter

/** Load stage (reference: pdf_to_db.py run(), SURVEY.md §3.2): CSV →
  * schema-resolve → typed lat/lon clean → quality stats → keyed last-wins
  * merge into the engine's parquet-backed tables.
  *
  * The reference loops rows into MySQL one at a time inside one
  * transaction; here the same net semantics (per-key last row in file order
  * wins, §2.8) run as one distributed plan: the only shuffle is the merge's
  * window over pdf_name, which bucketing on pdf_name removes at scale.
  */
object Loader {

  final case class HeaderStats(rows: Long, latNone: Long, lonNone: Long,
      latBad: Long, lonBad: Long)

  /** loadHeader result: `cleaned`/`bad` share one cached parse (`parsed`);
    * the caller owns the cache and calls [[HeaderLoad.release]] once every
    * consumer has executed — no hidden global slot, so concurrent loads in
    * one session each release exactly their own pinned storage. */
  final case class HeaderLoad(cleaned: DataFrame, stats: HeaderStats,
      bad: DataFrame, parsed: DataFrame) {
    def release(): Unit = parsed.unpersist()
  }

  /** Raw CSV read with resolved schema; `src_order` pins file order for
    * last-writer-wins determinism (reference semantics are file-order
    * dependent; Spark is not, so the order is carried as data).
    *
    * Encoding fallback (S6, pdf_to_db.py:136-153): read UTF-8 first; if
    * any cell decoded to U+FFFD replacement characters the bytes weren't
    * UTF-8 — re-read as ISO-8859-1, which maps every byte and so always
    * succeeds, exactly like the reference's latin-1 retry. */
  private def readCsv(spark: SparkSession, path: String): DataFrame = {
    def read(enc: String) = spark.read
      .option("header", "true")
      .option("encoding", enc)
      .option("multiLine", "true")
      .option("escape", "\"") // RFC4180 doubled quotes, like Python's csv module
      .csv(path)
    val utf8 = read("UTF-8")
    // backticks: raw header names may contain dots ("Well File No.")
    val mojibake = utf8.columns.map(c => col(s"`$c`").contains("�"))
      .reduceOption(_ || _).map(p => utf8.filter(p).limit(1).count() > 0)
      .getOrElse(false)
    val raw = if (mojibake) read("ISO-8859-1") else utf8
    val resolved = SchemaResolver.applyTo(raw)
      .withColumn("src_order", monotonically_increasing_id())
    // the reference strips the pdf_name value per row (pdf_to_db.py:88-91);
    // untrimmed keys would silently miss every downstream pdf_name join
    if (resolved.columns.contains("pdf_name"))
      resolved.withColumn("pdf_name", trim(col("pdf_name")))
    else resolved
  }

  private def isBlankRaw(c: Column): Column = c.isNull || trim(c) === ""

  /** The reference's bad-parse test excludes only None and exact ""
    * (`lat_raw not in (None,"")`) — a whitespace-only cell counts as BOTH
    * none (strip()=="") and bad (parse → None). */
  private def isEmptyRaw(c: Column): Column = c.isNull || c === ""

  /** Header branch (pdf_to_db.py:259-299): resolve lat/lon columns by hint,
    * parse to DECIMAL(12,9) with the reference's to_decimal semantics,
    * count none/bad per column in one aggregate pass. Returns the cleaned
    * frame (raw lat/lon replaced by parsed decimals), the stats, and the
    * bad-row diagnostics frame (S12). */
  def loadHeader(spark: SparkSession, path: String,
      limit: Option[Int] = None): HeaderLoad = {
    // P7 --limit: head-of-file semantics — src_order is file order, so the
    // limit applies to the first N physical rows like the reference's loop
    val df0 = readCsv(spark, path)
    val df = limit.map(n => df0.orderBy("src_order").limit(n)).getOrElse(df0)
    // hints run against the resolved (normalized) names — same outcome as
    // the reference's raw-name scan for any header this pipeline reads,
    // since normalization only lowercases/underscores and hints are
    // lowercase substrings
    val latCol = SchemaResolver.findColName(df.columns.toSeq, "lat")
    val lonCol = SchemaResolver.findColName(df.columns.toSeq, "lon")

    val withRaw = df
      .withColumn("__lat_raw", latCol.map(col).getOrElse(lit(null).cast("string")))
      .withColumn("__lon_raw", lonCol.map(col).getOrElse(lit(null).cast("string")))
      .withColumn("__lat", Cleaning.toDecimal12_9Col(col("__lat_raw")))
      .withColumn("__lon", Cleaning.toDecimal12_9Col(col("__lon_raw")))
      .cache() // stats agg, bad-rows scan and merge write share one parse

    // coalesce: sum() over zero rows is SQL NULL, and a headerless-but-
    // empty CSV must report rows=0 like the reference, not NPE
    val statsRow = withRaw.agg(
      count(lit(1)).as("rows"),
      coalesce(sum(when(isBlankRaw(col("__lat_raw")), 1L).otherwise(0L)), lit(0L)).as("lat_none"),
      coalesce(sum(when(isBlankRaw(col("__lon_raw")), 1L).otherwise(0L)), lit(0L)).as("lon_none"),
      coalesce(sum(when(!isEmptyRaw(col("__lat_raw")) && col("__lat").isNull, 1L).otherwise(0L)), lit(0L)).as("lat_bad"),
      coalesce(sum(when(!isEmptyRaw(col("__lon_raw")) && col("__lon").isNull, 1L).otherwise(0L)), lit(0L)).as("lon_bad")
    ).collect()(0)
    val stats = HeaderStats(statsRow.getLong(0), statsRow.getLong(1),
      statsRow.getLong(2), statsRow.getLong(3), statsRow.getLong(4))

    val bad = withRaw.filter(
      (!isEmptyRaw(col("__lat_raw")) && col("__lat").isNull) ||
      (!isEmptyRaw(col("__lon_raw")) && col("__lon").isNull))
      .withColumn("_line", col("src_order") + 2) // header line is 1
      .drop("__lat_raw", "__lon_raw", "__lat", "__lon")

    val cleaned = withRaw
      .withColumn("latitude", col("__lat"))
      .withColumn("longitude", col("__lon"))
      .drop("__lat_raw", "__lon_raw", "__lat", "__lon")
    HeaderLoad(cleaned, stats, bad, withRaw)
  }

  /** Stimulation branch (pdf_to_db.py:301-314): repair pre-pass, resolve
    * keys, drop rows with blank pdf_name (P5), drop the DDL-absent
    * stimulated_in column. */
  def loadStim(spark: SparkSession, path: String,
      limit: Option[Int] = None): DataFrame = {
    val raw = CsvRepair.readRepairedCsv(spark, path)
    val df = SchemaResolver.applyTo(raw)
      .withColumn("src_order", monotonically_increasing_id())
      .withColumn("pdf_name", trim(col("pdf_name"))) // pdf_to_db.py:88-91
      .filter(length(col("pdf_name")) > 0)
      .drop("stimulated_in")
    // reference counts KEPT rows against the limit, in file order
    limit.map(n => df.orderBy("src_order").limit(n)).getOrElse(df)
  }

  /** Full load into parquet tables at tableRoot: header + stim merged by
    * pdf_name last-wins against any existing snapshot (§2.8), stats printed
    * in the reference's report shape, bad rows to a diagnostics sink. */
  def run(spark: SparkSession, headerCsv: String, stimCsv: String,
      tableRoot: String, dryRun: Boolean = false,
      limit: Option[Int] = None): HeaderStats = {
    val load = loadHeader(spark, headerCsv, limit)
    try {
      val (header, stats, bad) = (load.cleaned, load.stats, load.bad)
      println(s"[REPORT] well_header: rows=${stats.rows}, " +
        s"lat_none=${stats.latNone}, lon_none=${stats.lonNone}, " +
        s"lat_bad=${stats.latBad}, lon_bad=${stats.lonBad}")
      val stim = loadStim(spark, stimCsv, limit)

      if (!dryRun) {
        // bad-row existence is already known from the stats pass — no scan
        if (stats.latBad + stats.lonBad > 0)
          bad.coalesce(1).write.mode("overwrite")
            .option("header", "true").csv(s"$tableRoot/bad_rows_header")
        // project to the DDL columns (extra CSV keys are silently unused by
        // the reference's named-parameter upserts, pdf_to_db.py:202-244)
        val headerDb = header.select((Model.headerCols :+ "src_order").map(col): _*)
        val stimDb = stim
          .withColumn("updated_at", current_timestamp())
          .select((Model.stimDbCols ++ Seq("updated_at", "src_order")).map(col): _*)
        mergeInto(spark, headerDb, s"$tableRoot/well_header")
        mergeInto(spark, stimDb, s"$tableRoot/well_stimulation")
      }
      stats
    } finally load.release() // a mid-run failure must not leak the pinned parse
  }

  /** Last-wins merge of an incoming batch (carrying src_order) into the
    * parquet snapshot at tablePath; pre-existing rows sort below every
    * incoming row, matching ON DUPLICATE KEY UPDATE overwrite semantics. */
  private def mergeInto(spark: SparkSession, incoming: DataFrame,
      tablePath: String): Unit =
    MergeWriter.rewrite(spark, tablePath) { cur =>
      Some((cur match {
        case Some(ex) =>
          MergeWriter.upsert(ex.withColumn("src_order", lit(-1L)),
            incoming, Seq("pdf_name"), Seq(col("src_order")))
        case None =>
          MergeWriter.lastWriterWins(incoming, Seq("pdf_name"), Seq(col("src_order")))
      }).drop("src_order"))
    }
}
