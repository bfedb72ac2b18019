package graft.wells

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Enrichment + serving-query semantics over the golden corpus with the
  * deterministic stub client (FIXTURES.md §4). */
class EnrichmentWellsSpec extends AnyFunSuite with SparkSpec {

  private lazy val root: String = {
    val dir = Files.createTempDirectory("wells-e2e").toString
    Loader.run(spark, "/root/reference/well_header.csv",
      "/root/reference/well_stimulation.csv", dir)
    dir
  }

  /** Keys as a one-file header table reads them: one partition. */
  private def onePartitionKeys(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => (s"WELL $i", f"33-001-$i%05d")).toDF("well_name", "api").coalesce(1)
  }

  test("scrape normalizes Members Only and blanks to N/A") {
    // the keys arrive in one partition; the fetches must still overlap
    val keys = onePartitionKeys(8)
    // (start, end) nanos of every fetch, to find the peak number in flight
    val spans = spark.sparkContext.collectionAccumulator[(Long, Long)]("fetch spans")
    val client = new Enrichment.EnrichmentClient {
      def fetch(n: String, a: String): Enrichment.WebRecord = {
        val start = System.nanoTime()
        Thread.sleep(50)
        spans.add((start, System.nanoTime()))
        Enrichment.WebRecord(n, a, "  Members Only ", "", null, "2.1k", "305.8k")
      }
    }
    val rows = Enrichment.scrape(keys, client).orderBy("well_name").collect()
    assert(rows.length == 8)
    assert(rows.forall(_.getAs[String]("well_status") == "N/A"))
    assert(rows.forall(_.getAs[String]("well_type") == "N/A"))
    assert(rows.forall(_.getAs[String]("closest_city") == "N/A"))
    assert(rows.forall(_.getAs[String]("oil_badge") == "2.1k"))
    import scala.jdk.CollectionConverters._
    // ends sort before starts at the same instant: touching spans do not overlap
    val events = spans.value.asScala.toSeq.flatMap { case (a, b) => Seq((a, 1), (b, -1)) }
      .sortBy { case (t, d) => (t, d) }
    val peak = events.scanLeft(0)(_ + _._2).max
    assert(peak > 1, s"fetches ran one at a time (peak in flight $peak)")
  }

  test("a throwing client degrades to the blank row, not task failure") {
    val boom = new Enrichment.EnrichmentClient {
      def fetch(n: String, a: String) = throw new RuntimeException("timeout")
    }
    val rows = Enrichment.scrape(onePartitionKeys(6), boom).collect()
    assert(rows.length == 6)
    assert(rows.forall(row => Model.scrapeCols.forall(c => row.getAs[String](c) == "N/A")))
    assert(rows.forall(_.getAs[String]("__error").contains("timeout")))
  }

  test("web_table materializes N/A as empty string, never null (F20-F22)") {
    import spark.implicits._
    val keys = Seq(("X", "1")).toDF("well_name", "api")
    val boom = new Enrichment.EnrichmentClient {
      def fetch(n: String, a: String) = throw new RuntimeException("x")
    }
    val web = Enrichment.webTable(Enrichment.scrape(keys, boom)).collect()(0)
    assert(Model.scrapeCols.forall(c => web.getAs[String](c) == ""))
  }

  test("well_info = header left-join web on composite key, header count preserved") {
    val info = Enrichment.run(spark, root)
    assert(info.count() == 77)
    assert(info.columns.toSeq == (Model.headerCols ++ Model.scrapeCols))
    // composite-key join: no fan-out because stub returns one row per key
    assert(info.select("pdf_name").distinct().count() == 77)
  }

  test("/wells drops exactly the null-coord well and keeps ws.pdf_name (P2)") {
    Enrichment.run(spark, root)
    val info = spark.read.parquet(s"$root/well_info")
    val stim = spark.read.parquet(s"$root/well_stimulation")
    val out = WellsQuery.wellsKeyed(info, stim)
    assert(out.count() == 76) // 77 minus W11920.pdf
    assert(out.filter(col("header_pdf_name") === "W11920.pdf").count() == 0)
    // every surviving row found its stim (1:1 PK-PK join)
    assert(out.filter(col("pdf_name").isNull).count() == 0)
  }

  test("wellsJson emits one JSON object per surviving well") {
    Enrichment.run(spark, root)
    val info = spark.read.parquet(s"$root/well_info")
    val stim = spark.read.parquet(s"$root/well_stimulation")
    val json = WellsQuery.wellsJson(info, stim)
    assert(json.size == 76)
    assert(json.forall(_.startsWith("{")))
  }

  test("validCoords swaps flipped lat/lon and drops out-of-range") {
    import spark.implicits._
    val df = Seq(
      ("ok", "48.1", "-103.6"),
      ("flipped", "-103.6", "48.1"),
      ("bad", "200.0", "200.0"),
      ("nn", null, "10.0")
    ).toDF("name", "latitude", "longitude")
    val m = WellsQuery.validCoords(df).collect()
      .map(r => r.getAs[String]("name") -> (r.getAs[Double]("lat"), r.getAs[Double]("lon"))).toMap
    assert(m.keySet == Set("ok", "flipped"))
    assert(m("flipped") == (48.1, -103.6))
  }
}
