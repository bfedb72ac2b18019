package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.Multimodal

/** mm05's continuous loop: however the document stream is batched, the
  * maintained per-digest stats must fold to a from-scratch mm05 report
  * over everything arrived — with the advance never reading standing
  * state (the additive-counts contract; the lifecycle legs are
  * StateFamilyContractSpec's). Clones seeded into a LATER
  * batch than their originals prove the cross-batch fold (a shared chunk
  * whose two holders arrive in different batches has no single batch
  * that sees both). */
class IncrementalChunkStateSpec extends AnyFunSuite with SparkSpec {

  private def directReport(docs: DataFrame): Set[(String, Int, Long, Long, Long)] =
    Multimodal.chunkDupReport(
        Multimodal.cdcChunks(
          docs.withColumn("blob", encode(col("text"), "UTF-8")),
          "doc_id", "blob"),
        "doc_id")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet

  private def snapshot(statsTable: String): Set[(String, Int, Long, Long, Long)] =
    Streams.chunkReportSnapshot(spark, statsTable)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet

  test("batch splits fold to mm05 at every step; redelivery no-op; crash replay collapses; compaction invariant") {
    import spark.implicits._
    val root = Files.createTempDirectory("inc-chunk").toString
    val (statsT, docT) = (s"$root/stats", s"$root/docs")

    val base = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val maxId = base.map(_._1).max
    // exact clones of the 6 lowest-id docs, arriving in a LATER batch
    // than their originals (descending split below): every one of their
    // chunks becomes a cross-batch shared digest
    val clones = base.take(6).zipWithIndex.map { case ((_, t), i) => (maxId + 1 + i, t) }
    val all = base ++ clones
    val allDf = all.toSeq.toDF("doc_id", "text")
    val sorted = all.sortBy(-_._1)
    val batches = Seq(sorted.take(10), sorted.slice(10, 40), sorted.drop(40))
    def arrived(ids: Set[Long]) = allDf.filter($"doc_id".isInCollection(ids))

    var seen = Set.empty[Long]
    for (b <- batches) {
      // at-least-once upstream: a doc can repeat WITHIN a micro-batch
      val withDup = b.toSeq ++ b.headOption
      Streams.maintainState(withDup.toDF("doc_id", "text"), docT,
        StateFamily.Chunk -> statsT)
      seen ++= b.map(_._1)
      assert(snapshot(statsT) == directReport(arrived(seen)),
        s"snapshot drifted from direct report at ${seen.size} docs")
    }
    val fin = snapshot(statsT)
    // the clone seeds exercised the cross-batch fold: each original's
    // digests report n_docs >= 2 with the original as keeper
    base.take(6).foreach { case (id, _) =>
      assert(fin.exists(r => r._5 == id && r._4 >= 2),
        s"no shared-chunk row keeps original $id")
    }

    // redelivery, crash replay, compaction and forget:
    // StateFamilyContractSpec
  }

  test("continuous twin: the foreachBatch stream lands the same state as direct maintenance") {
    import spark.implicits._
    val root = Files.createTempDirectory("chunk-stream").toString
    val (statsT, docT) = (s"$root/stats", s"$root/docs")
    val src = Files.createTempDirectory("chunk-src").toString
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text").limit(60).localCheckpoint(true)
    docs.write.json(s"$src/b0")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .json(s"$src/*")
    val q = Streams.startMaintainer(stream, None)((b, _) =>
      Streams.maintainState(b, docT, StateFamily.Chunk -> statsT))
    try q.processAllAvailable() finally q.stop()
    assert(snapshot(statsT) == directReport(docs),
      "streamed state differs from direct maintenance")
  }
}
