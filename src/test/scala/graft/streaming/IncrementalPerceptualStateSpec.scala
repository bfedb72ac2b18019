package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.Multimodal

/** mm04's continuous loop: however the document stream is split into
  * batches, the maintained pair log must equal a from-scratch mm04 over
  * everything arrived — with the signature store append-only, redelivery
  * a no-op, and a partial-crash replay collapsed by the pair log's
  * distinct(). The corpus has no within-tau pairs at sf0.001 scale
  * guaranteed, so the stream is seeded with exact clones (Hamming 0) and
  * small-edit variants placed in DIFFERENT batches than their originals —
  * without them the cross-batch probe would verify nothing. */
class IncrementalPerceptualStateSpec extends AnyFunSuite with SparkSpec {

  private def dataFiles(dir: String) = graft.SparkSpec.dataFiles(dir)

  private def directReport(docs: DataFrame): Set[(Long, Long, Int, Int, Boolean)] =
    Multimodal.perceptualPairs(
        Multimodal.perceptualSigs(
          docs.withColumn("blob", encode(col("text"), "UTF-8")), "doc_id", "blob")
          .localCheckpoint(true),
        "doc_id", Multimodal.completeTau)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getBoolean(4))).toSet

  private def snapshot(pairsTable: String): Set[(Long, Long, Int, Int, Boolean)] =
    Streams.perceptualPairsSnapshot(spark, pairsTable)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getBoolean(4))).toSet

  test("batch splits reproduce mm04 at every step; sig store append-only; redelivery no-op; crash replay collapses") {
    import spark.implicits._
    val root = Files.createTempDirectory("inc-perc").toString
    val (sigT, pairT, docT) = (s"$root/sigs", s"$root/pairs", s"$root/docs")

    val base = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val maxId = base.map(_._1).max
    // exact clones (Hamming 0) and small-edit variants (one word swapped
    // in — a few bigram counts move, landing within tau) of the 8
    // lowest-id docs
    val clones = base.take(8).zipWithIndex.map { case ((_, t), i) => (maxId + 1 + i, t) }
    val variants = base.take(8).zipWithIndex.map { case ((_, t), i) =>
      (maxId + 101 + i, "dup " + t) }
    val all = base ++ clones ++ variants
    val allDf = all.toSeq.toDF("doc_id", "text")
    // descending split: clones/variants arrive FIRST, originals LAST, so
    // the seeded pairs only exist if a later batch's probe reaches the
    // standing store
    val sorted = all.sortBy(-_._1)
    val batches = Seq(sorted.take(30), sorted.slice(30, 120), sorted.drop(120))

    def arrived(ids: Set[Long]) = allDf.filter($"doc_id".isInCollection(ids))

    var seen = Set.empty[Long]
    var afterPrev = Map.empty[String, (Long, Long)]
    for (b <- batches) {
      // an at-least-once upstream can repeat a doc WITHIN a micro-batch
      val withDup = b.toSeq ++ b.headOption
      Streams.maintainPerceptualState(withDup.toDF("doc_id", "text"),
        sigT, pairT, docT)
      seen ++= b.map(_._1)
      assert(snapshot(pairT) == directReport(arrived(seen)))
      val now = dataFiles(sigT).map { case (k, v) => (s"$sigT/$k", v) }
      afterPrev.foreach { case (f, sig) =>
        assert(now.get(f).contains(sig),
          s"advance rewrote or dropped an earlier batch's sig file: $f")
      }
      afterPrev = now
    }
    val fin = snapshot(pairT)
    // the seeds actually exercised the cross-batch machinery: dup pairs
    // exist with the original (lowest id) as d1, at hamming 0 (clones)
    // and within tau but nonzero (variants)
    base.take(8).foreach { case (id, _) =>
      assert(fin.exists(p => p._1 == id && p._4 == 0 && p._5),
        s"clone pair for original $id missing")
    }
    assert(fin.exists(p => p._4 > 0 && p._5),
      "no nonzero-hamming dup pair; variant seeds verified nothing")
    assert(fin.exists(p => !p._5), "no audit (is_dup=false) candidate row")

    // redelivery of a whole ingested batch: nothing changes (doc guard)
    Streams.maintainPerceptualState(batches(1).toSeq.toDF("doc_id", "text"),
      sigT, pairT, docT)
    assert(snapshot(pairT) == fin)

    // partial-crash replay on a fresh root: sigs AND pairs landed, the
    // doc-guard advance didn't — the replay must recompute byte-identical
    // pair rows (the standing-sig read excludes the batch's own landed
    // ids), which the snapshot's distinct() collapses.
    val root2 = Files.createTempDirectory("inc-perc-crash").toString
    val (sigT2, pairT2, docT2) = (s"$root2/sigs", s"$root2/pairs", s"$root2/docs")
    Streams.maintainPerceptualState(batches(0).toSeq.toDF("doc_id", "text"),
      sigT2, pairT2, docT2)
    val bB = batches(1).toSeq.toDF("doc_id", "text")
    val sigsB = Multimodal.perceptualSigs(
      bB.withColumn("blob", encode($"text", "UTF-8")), "doc_id", "blob")
      .localCheckpoint(true)
    val standing = spark.read.parquet(sigT2)
      .join(broadcast(bB.select($"doc_id")), Seq("doc_id"), "left_anti")
    Multimodal.perceptualPairsAdvance(standing, sigsB, "doc_id",
        Multimodal.completeTau)
      .write.mode("append").parquet(pairT2)
    sigsB.write.mode("append").parquet(sigT2)
    // redeliver the crashed batch through the maintainer
    Streams.maintainPerceptualState(bB, sigT2, pairT2, docT2)
    val seen12 = (batches(0) ++ batches(1)).map(_._1).toSet
    assert(snapshot(pairT2) == directReport(arrived(seen12)),
      "crash replay corrupted the pair log")
    // the raw log really does hold duplicates (the seam distinct() closes)
    assert(spark.read.parquet(pairT2).count() >
      spark.read.parquet(pairT2).distinct().count(),
      "crash simulation appended nothing twice; the replay pin is vacuous")
  }

  test("continuous twin: the foreachBatch stream lands the same state as direct maintenance") {
    import spark.implicits._
    val root = Files.createTempDirectory("perc-stream").toString
    val (sigT, pairT, docT) = (s"$root/sigs", s"$root/pairs", s"$root/docs")
    val src = Files.createTempDirectory("perc-src").toString
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text").limit(60).localCheckpoint(true)
    docs.write.json(s"$src/b0")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .json(s"$src/*")
    val q = Streams.startMaintainer(stream, None)((b, _) =>
      Streams.maintainPerceptualState(b, sigT, pairT, docT))
    try q.processAllAvailable() finally q.stop()
    assert(snapshot(pairT) == directReport(docs))
    assert(spark.read.parquet(sigT).count() == 60)
  }
}
