package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** pp16's continuous loop: however the (doc_id, source) stream is split
  * into batches, the maintained counts — and the rates derived from
  * them — must equal a from-scratch count of everything arrived, with
  * the delta table APPEND-ONLY (the lifecycle legs are
  * StateFamilyContractSpec's). */
class IncrementalMixStateSpec extends AnyFunSuite with SparkSpec {

  private def dataFiles(dir: String) = graft.SparkSpec.dataFiles(dir)

  test("batch splits reproduce per-source counts and rates at every step; append-only; redelivery/crash-replay safe; compaction invariant") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("inc-mix").toString
    val (cntT, docT) = (s"$root/counts", s"$root/docs")

    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"source")
    val all = docs.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val batches = Seq(all.take(40), all.slice(40, 300), all.drop(300))

    def arrived(ids: Set[Long]) = docs.filter($"doc_id".isInCollection(ids))
    def counts() = Streams.mixCountsSnapshot(spark, cntT)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    def rates() = Streams.mixRatesSnapshot(spark, cntT)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    def directCounts(ids: Set[Long]) = arrived(ids)
      .groupBy($"source").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    def directRates(ids: Set[Long]) = graft.queries.SampleOps.mixRates(
        arrived(ids).groupBy($"source").agg(count(lit(1)).as("n")))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet

    var seen = Set.empty[Long]
    var afterPrev = Map.empty[String, (Long, Long)]
    for (b <- batches) {
      // an at-least-once upstream can repeat a doc WITHIN a micro-batch;
      // the in-batch dedup must keep n from double-counting
      val withDup = b.toSeq ++ b.headOption
      Streams.maintainState(withDup.toDF("doc_id", "source"), docT,
        StateFamily.Mix -> cntT)
      seen ++= b.map(_._1)
      assert(counts() == directCounts(seen))
      assert(rates() == directRates(seen))
      val now = dataFiles(cntT).map { case (k, v) => (s"$cntT/$k", v) }
      afterPrev.foreach { case (f, sig) =>
        assert(now.get(f).contains(sig),
          s"advance rewrote or dropped an earlier batch's file: $f")
      }
      afterPrev = now
    }
    assert(counts().nonEmpty)

    // redelivery, crash replay, compaction and forget:
    // StateFamilyContractSpec
  }
}
