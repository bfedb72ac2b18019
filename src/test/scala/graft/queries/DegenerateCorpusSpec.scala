package graft.queries

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{OverlappedTests, SparkSpec}

/** Degenerate-corpus robustness: EVERY catalog gate must execute — to an
  * empty or tiny result, never an exception — on (a) a 12-row corpus and
  * (b) a fully EMPTY corpus (schema-only parquet for all ten tables).
  *
  * At 100 TB these are not edge cases: a partition filter, a dead
  * tenant, or a fresh onboarding produces exactly these inputs, and a
  * pipeline stage that throws on them takes the whole DAG down. The
  * 12-row size is the smallest that still exercises the vector gates'
  * pinned id ranges (centroids < 8, queries in [10, 20)); the empty dir
  * additionally proves no gate hides a `.head()`/`.first()` on data it
  * assumes non-empty.
  *
  * events.parquet is rebuilt from its raw nanos form (read as long under
  * nanosAsLong, written as plain INT64) so `Tables.events`' µs
  * conversion applies unchanged to the shrunk copy. The three corpora's
  * catalog passes run overlapped ([[graft.OverlappedTests]]). */
class DegenerateCorpusSpec extends AnyFunSuite with SparkSpec
    with OverlappedTests {

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def shrink(n: Int): String = {
    val dst = Files.createTempDirectory(s"degen$n").toString
    // session-wide by the engine's own contract (Tables.events documents
    // why a save-and-restore would be WRONG: the flag is re-read executor-
    // side at action time, and every nanos input goes through that helper)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for (t <- tables)
      spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
        .limit(n).coalesce(1)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    dst
  }

  private def failures(dir: String): Seq[String] =
    Catalog.all.flatMap { q =>
      try { q.fn(spark, dir).collect(); None }
      catch { case e: Throwable =>
        Some(s"${q.name}: ${e.getClass.getSimpleName} ${e.getMessage}")
      }
    }

  test("every gate runs on a 12-row corpus") {
    val bad = failures(shrink(12))
    assert(bad.isEmpty, s"${bad.size} gates fail on 12 rows:\n${bad.mkString("\n")}")
  }

  test("every gate runs on an empty corpus") {
    val bad = failures(shrink(0))
    assert(bad.isEmpty, s"${bad.size} gates fail on empty:\n${bad.mkString("\n")}")
  }

  test("every gate runs with NULL and empty-string document text") {
    import org.apache.spark.sql.functions._
    val dir = shrink(12)
    // doc 0's text → NULL, doc 1's → '' (the driver's data never contains
    // either, but a real ingest does — extraction failures land as NULL,
    // blank pages as ''; no gate may throw on them)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("text",
        when(col("doc_id") === 0, lit(null: String))
          .when(col("doc_id") === 1, lit(""))
          .otherwise(col("text")))
    // vacuity guard: the substitution keys on doc_ids 0 and 1 — if the
    // shrunk corpus ever stops containing them (limit() makes no order
    // promise), fail loudly instead of testing nothing
    assert(docs.filter(col("text").isNull).count() == 1
      && docs.filter(col("text") === "").count() == 1,
      "shrunk corpus lacks doc_ids 0/1 — NULL/'' rows were not injected")
    docs.write.mode("overwrite").parquet(s"$dir/documents2.parquet")
    // parquet dir swap (overwrite-in-place of a table being read is
    // undefined): rebuild the dir name the gates read
    val bad = {
      val d2 = java.nio.file.Files.createTempDirectory("degen-null").toString
      for (t <- tables)
        java.nio.file.Files.createSymbolicLink(
          java.nio.file.Paths.get(s"$d2/$t.parquet"),
          java.nio.file.Paths.get(
            if (t == "documents") s"$dir/documents2.parquet" else s"$dir/$t.parquet"))
      failures(d2)
    }
    assert(bad.isEmpty, s"${bad.size} gates fail on null/empty text:\n${bad.mkString("\n")}")
  }
}
