package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.queries.TextOps

/** pp13's continuous loop: however the document stream is split into
  * batches, the maintained bigram-LM snapshot (counts + recomputed KN
  * continuation) must equal ta09 computed from scratch over everything
  * arrived, with the delta table APPEND-ONLY (the lifecycle legs are
  * StateFamilyContractSpec's). The one structural difference from the
  * vocab flow — the
  * continuation count is NOT maintained but recomputed by the snapshot —
  * is exactly what the parity assertions exercise. */
class IncrementalLmStateSpec extends AnyFunSuite with SparkSpec {

  private def dataFiles(dir: String) = graft.SparkSpec.dataFiles(dir)

  test("batch splits reproduce ta09 at every step; append-only; redelivery/crash-replay safe; compaction invariant") {
    import spark.implicits._
    val root = Files.createTempDirectory("inc-lm").toString
    val (lmT, docT) = (s"$root/lm", s"$root/docs")

    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
    val all = docs.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val batches = Seq(all.take(40), all.slice(40, 300), all.drop(300))

    def arrived(ids: Set[Long]) = docs.filter($"doc_id".isInCollection(ids))
    // compare the FULL table (topN unbounded): a double-counted rare
    // bigram — or a continuation count drifting by one — would be
    // invisible below a top-100 cut
    def snap() = Streams.lmSnapshot(spark, lmT, Int.MaxValue)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    def direct(ids: Set[Long]) =
      TextOps.lmTop(TextOps.bigramCounts(arrived(ids)), Int.MaxValue)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

    var seen = Set.empty[Long]
    var afterPrev = Map.empty[String, (Long, Long)]
    for (b <- batches) {
      // an at-least-once upstream can repeat a doc WITHIN a micro-batch;
      // freshAgainst's in-batch dedup must keep n from double-counting
      val withDup = b.toSeq ++ b.headOption
      Streams.maintainState(withDup.toDF("doc_id", "text"), docT,
        StateFamily.Lm -> lmT)
      seen ++= b.map(_._1)
      assert(snap() == direct(seen))
      // append-only: earlier batches' files byte-identical in place
      val now = dataFiles(lmT).map { case (k, v) => (s"$lmT/$k", v) }
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
}
