package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The doc-store tombstone swap shared by every forget member: survivors
  * byte-identical across the store's FULL column set, forgotten rows
  * keep their other columns with only the named content column nulled,
  * never-seen ids forward-block with all-null payloads. Pins the
  * generalization past the historical two-column stores — a
  * multi-column store must not silently lose its extra columns. */
class TombstoneSwapSpec extends AnyFunSuite with SparkSpec {

  test("multi-column store: survivors untouched, forgotten rows null ONLY the named column, never-seen ids all-null, column order preserved") {
    import spark.implicits._
    val root = Files.createTempDirectory("tomb").toString
    val docT = s"$root/docs"
    val store = Seq(
      (1L, "s1", "keep me", 10L),
      (2L, "s2", "forget me", 20L),
      (3L, "s3", "also kept", 30L)).toDF("doc_id", "source", "text", "arrived_at")
    store.write.parquet(docT)
    val ids = Seq(2L, 99L).toDF("doc_id") // 99 never seen

    Streams.tombstoneSwap(StateFamily.Text, Some(spark.read.parquet(docT)), ids, docT)

    val out = spark.read.parquet(docT)
    assert(out.columns.toSeq == Seq("doc_id", "source", "text", "arrived_at"),
      "column set or order not preserved")
    val rows = out.collect().map(r => (r.getLong(0),
        Option(r.getString(1)), Option(r.getString(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .sortBy(_._1).toList
    assert(rows == List(
      (1L, Some("s1"), Some("keep me"), Some(10L)),
      (2L, Some("s2"), None, Some(20L)),
      (3L, Some("s3"), Some("also kept"), Some(30L)),
      (99L, None, None, None)),
      s"swap corrupted the store: $rows")
  }

  test("empty store: forward-block tombstones only") {
    import spark.implicits._
    val root = Files.createTempDirectory("tomb").toString
    val docT = s"$root/docs"
    Streams.tombstoneSwap(StateFamily.Text, None, Seq(5L).toDF("doc_id"), docT)
    val out = spark.read.parquet(docT).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toList
    assert(out == List((5L, None)), s"got $out")
  }

  test("store lacking the named column fails loudly instead of silently projecting") {
    import spark.implicits._
    val root = Files.createTempDirectory("tomb").toString
    val docT = s"$root/docs"
    Seq((1L, "x")).toDF("doc_id", "other").write.parquet(docT)
    val e = intercept[IllegalArgumentException] {
      Streams.tombstoneSwap(StateFamily.Text, Some(spark.read.parquet(docT)),
        Seq(1L).toDF("doc_id"), docT)
    }
    assert(e.getMessage.contains("lacks doc_id/text"))
  }
}
