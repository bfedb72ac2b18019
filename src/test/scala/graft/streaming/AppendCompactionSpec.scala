package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.queries.VectorOps

/** [[Streams.compactAppends]]: the small-files maintenance job for
  * append-only standing tables must be invisible to the flow — row
  * multiset unchanged, file count bounded, and advances after a
  * compaction exactly as exact as before it. */
class AppendCompactionSpec extends AnyFunSuite with SparkSpec {

  test("compactAppends bounds file count, preserves content, and the flow stays exact") {
    import spark.implicits._
    val root = Files.createTempDirectory("compact-app").toString
    val (postT, sumsT) = (s"$root/post", s"$root/sums")
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
    val cents = VectorOps.ivfCentroids(VectorOps.normed(e)).localCheckpoint(true)
    val all = e.collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)

    def postings() = spark.read.parquet(postT).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    def files() = new java.io.File(postT).listFiles()
      .count(_.getName.endsWith(".parquet"))

    for (b <- Seq(all.take(40), all.slice(40, 120), all.slice(120, 200)))
      Streams.maintainState(b.toSeq.toDF("vec_id", "embedding"),
        StateFamily.postings(cents), postT,
        StateFamily.IvfSums -> sumsT)
    val before = postings()
    assert(files() > 2, "advances should have accreted one file set per batch")

    Streams.compactAppends(spark, postT, 2)
    assert(files() <= 2, "compaction must bound the file count")
    assert(postings() == before, "compaction must preserve the row multiset")

    // the flow after a compaction is exactly as exact as before it:
    // guard still holds (redelivery no-op), next advance lands
    Streams.maintainState(all.slice(120, 200).toSeq.toDF("vec_id", "embedding"),
      StateFamily.postings(cents), postT,
      StateFamily.IvfSums -> sumsT)
    assert(postings() == before)
    Streams.maintainState(all.slice(200, 260).toSeq.toDF("vec_id", "embedding"),
      StateFamily.postings(cents), postT,
      StateFamily.IvfSums -> sumsT)
    val seen = all.take(260).map(_._1).toSet
    val direct = VectorOps.assignCells(
        VectorOps.normed(e.filter($"vec_id".isInCollection(seen))), cents)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(postings() == direct)
  }
}
