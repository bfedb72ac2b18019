package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.queries.TextOps

/** pp07's continuous loop: however the document stream is split into
  * batches, the maintained vocabulary snapshot must equal ta07 computed
  * from scratch over everything arrived, with the delta table
  * APPEND-ONLY and in-batch repeats counted once. Redelivery, crash
  * replay, compaction and forget are the [[StateFamily]] contract,
  * checked for every family by StateFamilyContractSpec. */
class IncrementalVocabStateSpec extends AnyFunSuite with SparkSpec {

  private def dataFiles(dir: String) = graft.SparkSpec.dataFiles(dir)

  test("batch splits reproduce ta07 at every step; append-only; redelivery/crash-replay safe; compaction invariant") {
    import spark.implicits._
    val root = Files.createTempDirectory("inc-vocab").toString
    val (vocT, docT) = (s"$root/vocab", s"$root/docs")

    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
    val all = docs.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val batches = Seq(all.take(40), all.slice(40, 300), all.drop(300))

    def arrived(ids: Set[Long]) = docs.filter($"doc_id".isInCollection(ids))
    // compare the FULL vocabulary (topN unbounded): a double-counted rare
    // token would be invisible below a top-100 cut
    def snap() = Streams.vocabSnapshot(spark, vocT, Int.MaxValue)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    def direct(ids: Set[Long]) =
      TextOps.vocabTop(TextOps.vocabCounts(arrived(ids)), Int.MaxValue)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

    var seen = Set.empty[Long]
    var afterPrev = Map.empty[String, (Long, Long)]
    for (b <- batches) {
      // an at-least-once upstream can repeat a doc WITHIN a micro-batch;
      // freshAgainst's in-batch dedup must keep cf from double-counting
      val withDup = b.toSeq ++ b.headOption
      Streams.maintainState(withDup.toDF("doc_id", "text"), docT,
        StateFamily.Vocab -> vocT)
      seen ++= b.map(_._1)
      assert(snap() == direct(seen))
      // append-only: earlier batches' files byte-identical in place
      val now = dataFiles(vocT).map { case (k, v) => (s"$vocT/$k", v) }
      afterPrev.foreach { case (f, sig) =>
        assert(now.get(f).contains(sig),
          s"advance rewrote or dropped an earlier batch's file: $f")
      }
      afterPrev = now
    }
    assert(snap().nonEmpty)

    // redelivery, crash replay, compaction and forget:
    // StateFamilyContractSpec
  }

  test("rebuildBpeState: segmentation retrained from the maintained vocab == from-scratch ta14 trainer; idempotent re-run") {
    // The tokenizer-lifecycle job: after the O(batch) vocab maintainer
    // has advanced over arbitrary splits, the BPE rebuild over the
    // STANDING counts must train exactly the segmentation ta14's
    // trainer produces from the full corpus (wf = the maintained cf),
    // and re-running it (a crash between swap and its caller's
    // bookkeeping) must leave the same table.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("bpe-rebuild").toString
    val (vocT, docT, segT) = (s"$root/vocab", s"$root/docs", s"$root/seg")

    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
    val all = docs.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    for (b <- Seq(all.take(150), all.drop(150)))
      Streams.maintainState(b.toSeq.toDF("doc_id", "text"), docT,
        StateFamily.Vocab -> vocT)

    Streams.rebuildBpeState(spark, vocT, segT, merges = 5)
    def seg() = spark.read.parquet(segT)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val got = seg()
    val fromScratch = graft.queries.TextOps.bpeSegmentation(
        docs.select(explode(graft.functions.Text.tokens($"text")).as("tok"))
          .groupBy($"tok").agg(count(lit(1)).as("wf")), k = 5)
      .groupBy($"tok").agg(count(lit(1)).as("n_pieces"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == fromScratch && got.nonEmpty,
      "maintained-vocab BPE retrain drifted from the from-scratch trainer")
    // merges actually happened (some word segments to fewer pieces than
    // its character count), or the trainer was a no-op
    val chars = all.flatMap(_._2.split(" ").filter(_.nonEmpty)).distinct
      .map(t => t -> t.length.toLong).toMap
    assert(got.exists { case (t, n) => chars.get(t).exists(_ > n) },
      "no word's segmentation is shorter than its characters — no merge applied")
    Streams.rebuildBpeState(spark, vocT, segT, merges = 5)
    assert(seg() == got, "rebuild re-run is not idempotent")
  }

  test("rebuildClassifierState: weights == the trainer kernel's final iterate; deployable shape; idempotent re-run") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("clf-rebuild").toString
    val (featT, wT) = (s"$root/feats", s"$root/weights")
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
    // the maintained feature table a pipeline would keep current:
    // qualityFeatures + ta16 weak labels
    val feats = graft.queries.TextOps.qualityFeatures(docs).join(
      graft.queries.TextOps.ruleVerdicts(docs)
        .select($"doc_id", when($"keep", 1L).otherwise(-1L).as("y")),
      Seq("doc_id"))
    feats.write.parquet(featT)

    Streams.rebuildClassifierState(spark, featT, wT, iters = 3)
    def weights() = spark.read.parquet(wT)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val got = weights()
    val wantLast = graft.queries.TextOps
      .perceptronIterates(spark.read.parquet(featT), 3).last._2
    assert(got == graft.queries.TextOps.TA19_FEATURES.zip(wantLast).toMap,
      "deployed weights != the trainer kernel's final iterate")
    // non-vacuous: training moved at least one weight off zero
    assert(got.values.exists(_ != 0L), "trainer was a no-op")
    // idempotent re-run (crash between swap and caller bookkeeping)
    Streams.rebuildClassifierState(spark, featT, wT, iters = 3)
    assert(weights() == got, "rebuild re-run is not idempotent")
  }
}
