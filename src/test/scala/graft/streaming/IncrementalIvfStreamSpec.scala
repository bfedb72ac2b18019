package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.queries.VectorOps

/** pp05's continuous loop: however the embedding stream is split into
  * batches, the maintained postings must equal a from-scratch assignment
  * of everything arrived, the centroid-sum snapshot must equal the direct
  * per-(cell, dim) aggregate, and the search over the maintained lists
  * must equal the batch IVF search — with postings/sums APPEND-ONLY,
  * redelivery a no-op, additive sums surviving a partial-crash replay via
  * the batch_key dedup, and compaction leaving every snapshot unchanged. */
class IncrementalIvfStreamSpec extends AnyFunSuite with SparkSpec {

  private def dataFiles(dir: String) = graft.SparkSpec.dataFiles(dir)

  test("batch splits reproduce batch IVF state at every step; append-only; redelivery/crash-replay safe; compaction invariant") {
    import spark.implicits._
    val root = Files.createTempDirectory("inc-ivf").toString
    val (postT, sumsT) = (s"$root/postings", s"$root/sums")

    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
    // the fixed coarse quantizer — trained once, held constant while the
    // lists grow (exactly how the maintainer is deployed)
    val cents = VectorOps.ivfCentroids(VectorOps.normed(e)).localCheckpoint(true)
    val all = e.collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val batches = Seq(all.take(40), all.slice(40, 300), all.drop(300))

    def arrived(ids: Set[Long]) = e.filter($"vec_id".isInCollection(ids))
    def postingsSet() = spark.read.parquet(postT)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def directPostings(ids: Set[Long]) =
      VectorOps.assignCells(VectorOps.normed(arrived(ids)), cents)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def sums() = Streams.ivfSumsSnapshot(spark, sumsT)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // the SAME rollup kernel the product uses (cellDimSums) — the spec's
    // expected value cannot drift from what the advance writes
    def directSums(ids: Set[Long]) =
      VectorOps.cellDimSums(
          VectorOps.assignCells(VectorOps.normed(arrived(ids)), cents))
        .orderBy($"cid", $"dim")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val queries = VectorOps.normed(e).filter($"vec_id" >= 10 && $"vec_id" < 20)
      .select($"vec_id".as("query_id"), $"q".as("qq"), $"nrm".as("qn"))
      .localCheckpoint(true)
    def search() = Streams.ivfSearchSnapshot(spark, postT, queries, cents, 2, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4))).toSeq
    def directSearch(ids: Set[Long]) =
      VectorOps.ivfSearch(
          VectorOps.assignCells(VectorOps.normed(arrived(ids)), cents),
          queries, cents, 2, 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4))).toSeq

    var seen = Set.empty[Long]
    var afterPrev = Map.empty[String, (Long, Long)]
    for (b <- batches) {
      Streams.maintainState(b.toSeq.toDF("vec_id", "embedding"),
        StateFamily.postings(cents), postT,
        StateFamily.IvfSums -> sumsT)
      seen ++= b.map(_._1)
      assert(postingsSet() == directPostings(seen))
      assert(sums() == directSums(seen))
      assert(search() == directSearch(seen))
      // append-only: earlier batches' files byte-identical in place
      val now = Seq(postT, sumsT).flatMap(t =>
        dataFiles(t).map { case (k, v) => (s"$t/$k", v) }).toMap
      afterPrev.foreach { case (f, sig) =>
        assert(now.get(f).contains(sig),
          s"advance rewrote or dropped an earlier batch's file: $f")
      }
      afterPrev = now
    }
    assert(search().nonEmpty)

    // redelivery of an ingested batch: nothing changes (postings guard)
    val (p0, s0) = (postingsSet(), sums())
    Streams.maintainState(batches(1).toSeq.toDF("vec_id", "embedding"),
      StateFamily.postings(cents), postT,
      StateFamily.IvfSums -> sumsT)
    assert(postingsSet() == p0 && sums() == s0)

    // compaction folds the delta table without moving any snapshot, and
    // a post-compaction advance stays exact
    Streams.compactState(spark, postT, StateFamily.IvfSums -> sumsT)
    assert(sums() == s0)
    assert(spark.read.parquet(sumsT).select("batch_key").distinct().count() == 1)

    // partial-crash replay on a fresh root: the sums delta landed but the
    // postings advance didn't — the replay must recompute byte-identical
    // delta rows (same batch_key) that the snapshot dedup collapses,
    // never double-counting the additive state. The simulated partial
    // write uses the SAME delta builder as the advance, so it can't
    // drift from what the product writes.
    val root2 = Files.createTempDirectory("inc-ivf-crash").toString
    val (postT2, sumsT2) = (s"$root2/postings", s"$root2/sums")
    val b1 = batches(0).toSeq.toDF("vec_id", "embedding")
    Streams.maintainState(b1, StateFamily.postings(cents), postT2,
      StateFamily.IvfSums -> sumsT2)
    val b2 = batches(1).toSeq.toDF("vec_id", "embedding")
    val key2 = batches(1).map(_._1).min
    StateFamily.IvfSums.delta(new StateFamily.In(VectorOps.assignCells(VectorOps.normed(b2), cents), key2))
      .write.mode("append").parquet(sumsT2)
    // a maintenance compaction runs while the crashed batch is pending —
    // its uncommitted rows (key not behind the postings guard) must stay
    // under their own key, NOT fold into the reserved one, or the replay
    // below double-counts the batch forever
    Streams.compactState(spark, postT2, StateFamily.IvfSums -> sumsT2)
    assert(spark.read.parquet(sumsT2).filter($"batch_key" === key2).count() > 0,
      "compaction folded a pending batch's delta rows")
    // the replay (redelivered batch)
    Streams.maintainState(b2, StateFamily.postings(cents), postT2,
      StateFamily.IvfSums -> sumsT2)
    val seen12 = (batches(0) ++ batches(1)).map(_._1).toSet
    assert(Streams.ivfSumsSnapshot(spark, sumsT2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      == directSums(seen12))
    assert(spark.read.parquet(postT2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == directPostings(seen12))
    // post-replay compaction now folds everything (all batches committed)
    Streams.compactState(spark, postT2, StateFamily.IvfSums -> sumsT2)
    assert(spark.read.parquet(sumsT2).select("batch_key").distinct().count() == 1)
    assert(Streams.ivfSumsSnapshot(spark, sumsT2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      == directSums(seen12))
  }
}
