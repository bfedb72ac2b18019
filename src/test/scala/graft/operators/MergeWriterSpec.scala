package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class MergeWriterSpec extends AnyFunSuite with SparkSpec {

  test("lastWriterWins keeps exactly the greatest-order row per key") {
    import spark.implicits._
    val df = Seq(
      ("k1", 1L, "old"), ("k1", 3L, "new"), ("k1", 2L, "mid"),
      ("k2", 1L, "only")).toDF("k", "ord", "v")
    val out = MergeWriter.lastWriterWins(df, Seq("k"), Seq(col("ord")))
      .orderBy("k").collect().map(r => (r.getString(0), r.getString(2)))
    assert(out.toSeq == Seq(("k1", "new"), ("k2", "only")))
  }

  test("upsert: incoming replaces same-key, other keys survive, is idempotent") {
    import spark.implicits._
    val existing = Seq(("a", 0L, "A0"), ("b", 0L, "B0")).toDF("k", "ord", "v")
    val incoming = Seq(("b", 1L, "B1"), ("c", 1L, "C1"), ("c", 2L, "C2")).toDF("k", "ord", "v")
    val out = MergeWriter.upsert(existing, incoming, Seq("k"), Seq(col("ord")))
      .orderBy("k").collect().map(r => (r.getString(0), r.getString(2)))
    assert(out.toSeq == Seq(("a", "A0"), ("b", "B1"), ("c", "C2")))
    // applying the same incoming again changes nothing
    val again = MergeWriter.upsert(
      MergeWriter.upsert(existing, incoming, Seq("k"), Seq(col("ord"))),
      incoming, Seq("k"), Seq(col("ord")))
      .orderBy("k").collect().map(r => (r.getString(0), r.getString(2)))
    assert(again.toSeq == Seq(("a", "A0"), ("b", "B1"), ("c", "C2")))
  }

  test("publish replaces the whole table and survives re-runs") {
    import spark.implicits._
    val p = java.nio.file.Files.createTempDirectory("merge").toString + "/t"
    MergeWriter.publish(Seq(1, 2, 3).toDF("x"), p)
    assert(spark.read.parquet(p).count() == 3)
    MergeWriter.publish(Seq(4, 5).toDF("x"), p)
    assert(spark.read.parquet(p).count() == 2)
  }
}
