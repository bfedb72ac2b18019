package graft.wells

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Golden-input load: the reference's shipped CSVs (its actual extractor
  * output over the 77-PDF corpus) through the Spark load stage. Pinned
  * numbers were computed by running the reference's own to_decimal logic
  * over the same files (FIXTURES.md §1): rows=77, lat_none=1, lon_none=1,
  * lat_bad=0, lon_bad=0; only W11920.pdf lacks coordinates.
  *
  * Inputs per leg: the golden-value legs read `/root/reference` and fail
  * where it is absent. "latitude lands as DECIMAL(12,9)", the load-mechanics
  * leg and "--limit takes the first N file-order rows" assert only load
  * mechanics, so they read
  * [[WellsCsvs.pair]]: the reference CSVs where present, else the committed
  * fixture (FIXTURES.md §1a). The last two legs write their own CSVs. */
class LoaderGoldenSpec extends AnyFunSuite with SparkSpec {

  private val headerCsv = "/root/reference/well_header.csv"
  private val stimCsv = "/root/reference/well_stimulation.csv"

  test("header load matches the reference's quality report") {
    val load = Loader.loadHeader(spark, headerCsv)
    assert(load.stats == Loader.HeaderStats(77, 1, 1, 0, 0))
    assert(load.bad.count() == 0)
    assert(load.cleaned.count() == 77)
    load.release()
  }

  test("unicode-minus longitude parses to negative decimal") {
    val load = Loader.loadHeader(spark, headerCsv)
    val w = load.cleaned.filter(col("longitude").cast("double") === -103.602808)
    assert(w.count() == 1)
    load.release()
  }

  test("only W11920.pdf has null coordinates") {
    val load = Loader.loadHeader(spark, headerCsv)
    val nulls = load.cleaned
      .filter(col("latitude").isNull || col("longitude").isNull)
      .select("pdf_name").collect().map(_.getString(0)).toSeq
    assert(nulls == Seq("W11920.pdf"))
    load.release()
  }

  test("latitude lands as DECIMAL(12,9)") {
    val load = Loader.loadHeader(spark, WellsCsvs.pair._1)
    val dt = load.cleaned.schema("latitude").dataType
    assert(dt == org.apache.spark.sql.types.DecimalType(12, 9))
    load.release()
  }

  test("stim load keeps 77 rows and drops stimulated_in") {
    val stim = Loader.loadStim(spark, stimCsv)
    assert(stim.count() == 77)
    assert(!stim.columns.contains("stimulated_in"))
    assert(stim.columns.contains("details"))
  }

  test("dirty dates survive as strings; typed view nulls them") {
    val stim = Loader.loadStim(spark, stimCsv)
    val dirty = stim.filter(col("date_simulated").isin("11/E/2013", "07/1212015"))
    assert(dirty.count() == 2) // preserved verbatim, like the VARCHAR column
    val typed = stim.withColumn("d", try_to_timestamp(col("date_simulated"), lit("M/d/yyyy")))
    assert(typed.filter(col("date_simulated").isin("11/E/2013", "07/1212015") &&
      col("d").isNotNull).count() == 0)
  }

  test("full load run writes merged parquet tables (last-wins, idempotent)") {
    val root = Files.createTempDirectory("wells-load").toString
    val stats = Loader.run(spark, headerCsv, stimCsv, root)
    assert(stats.rows == 77)
    val header = spark.read.parquet(s"$root/well_header")
    val stim = spark.read.parquet(s"$root/well_stimulation")
    assert(header.count() == 77 && stim.count() == 77)
    assert(header.select("pdf_name").distinct().count() == 77)
    // second run over the same input: upsert replaces, count unchanged
    Loader.run(spark, headerCsv, stimCsv, root)
    assert(spark.read.parquet(s"$root/well_header").count() == 77)
    // FK integrity (S9 as anti join): every stim key has a header row
    val orphans = spark.read.parquet(s"$root/well_stimulation")
      .join(spark.read.parquet(s"$root/well_header"), Seq("pdf_name"), "left_anti")
    assert(orphans.count() == 0)
  }

  test("load mechanics: a second run keeps both counts, no stim row lacks a header, the typed view nulls dirty dates") {
    val (mechanicsHeader, mechanicsStim) = WellsCsvs.pair
    val root = Files.createTempDirectory("wells-load-mechanics").toString
    def counts() = (spark.read.parquet(s"$root/well_header").count(),
      spark.read.parquet(s"$root/well_stimulation").count())
    Loader.run(spark, mechanicsHeader, mechanicsStim, root)
    val first = counts()
    assert(first._1 > 0 && first._2 > 0)
    // merge idempotence: the upsert replaces, so a re-run keeps the counts
    Loader.run(spark, mechanicsHeader, mechanicsStim, root)
    assert(counts() == first)
    val orphans = spark.read.parquet(s"$root/well_stimulation")
      .join(spark.read.parquet(s"$root/well_header"), Seq("pdf_name"), "left_anti")
    assert(orphans.count() == 0)
    val typed = TypedViews.typedStimulation(Loader.loadStim(spark, mechanicsStim))
    val dirty = typed.filter(col("date_simulated_raw").isin("11/E/2013", "07/1212015"))
    assert(dirty.count() == 2)
    assert(dirty.filter(col("date_simulated").isNotNull).count() == 0)
  }

  test("a delta load after a well_header publish crashed between its two renames keeps every pre-existing row") {
    val (mechanicsHeader, mechanicsStim) = WellsCsvs.pair
    val root = Files.createTempDirectory("wells-load-crash").toString
    val t = s"$root/well_header"
    def names() = spark.read.parquet(t).select("pdf_name").collect().map(_.getString(0)).toSet
    Loader.run(spark, mechanicsHeader, mechanicsStim, root)
    val before = names()
    // the crash state of a well_header publish (MergeWriter's layout):
    // rows staged, manifest committed, the table moved into the stage
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, p(t), fs, p(s"$t.stage/rows"), false,
      spark.sparkContext.hadoopConfiguration))
    Files.writeString(java.nio.file.Path.of(s"$t.stage", "_GRAFT_COMMIT"), ".\tdata\n")
    assert(fs.rename(p(t), p(s"$t.stage/replaced")))
    // the delta: the first two rows again
    Loader.run(spark, mechanicsHeader, mechanicsStim, root, limit = Some(2))
    assert(names() == before, s"rows lost: ${before -- names()}")
    assert(!Files.exists(java.nio.file.Path.of(s"$t.stage")))
  }

  test("--limit takes the first N file-order rows (P7)") {
    val (mechanicsHeader, mechanicsStim) = WellsCsvs.pair
    val load = Loader.loadHeader(spark, mechanicsHeader, limit = Some(10))
    assert(load.stats.rows == 10)
    assert(load.cleaned.count() == 10)
    load.release()
    val stim = Loader.loadStim(spark, mechanicsStim, limit = Some(5))
    assert(stim.count() == 5)
  }

  test("zero-data-row CSV reports empty stats instead of failing") {
    val dir = java.nio.file.Files.createTempDirectory("empty")
    java.nio.file.Files.writeString(dir.resolve("h.csv"),
      "pdf_name,latitude,longitude\n")
    val load = Loader.loadHeader(spark, dir.resolve("h.csv").toString)
    assert(load.stats == Loader.HeaderStats(0, 0, 0, 0, 0))
    assert(load.cleaned.count() == 0 && load.bad.count() == 0)
    load.release()
  }

  test("padded pdf_name keys are trimmed at load (reference strip parity)") {
    val dir = java.nio.file.Files.createTempDirectory("pad")
    java.nio.file.Files.writeString(dir.resolve("h.csv"),
      "pdf_name,latitude,longitude\n  W1.pdf  ,48.1,-103.5\n")
    val load = Loader.loadHeader(spark, dir.resolve("h.csv").toString)
    assert(load.cleaned.select("pdf_name").collect()(0).getString(0) == "W1.pdf")
    load.release()
  }
}
