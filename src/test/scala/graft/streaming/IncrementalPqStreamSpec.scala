package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.queries.VectorOps

/** pp14's continuous loop: however the embedding stream is split into
  * batches, the maintained codes table must equal a from-scratch encode
  * of everything arrived, and the IVF-PQ search over it must equal the
  * batch search — with the table APPEND-ONLY, redelivery a no-op,
  * in-batch duplicates collapsed deterministically, and zero-norm
  * arrivals acknowledged under the sentinel cell without ever reaching
  * a query. */
class IncrementalPqStreamSpec extends AnyFunSuite with SparkSpec {

  private def dataFiles(dir: String) = graft.SparkSpec.dataFiles(dir)

  test("batch splits reproduce batch PQ codes at every step; append-only; redelivery no-op; sentinel rows invisible to search") {
    import spark.implicits._
    val root = Files.createTempDirectory("inc-pq").toString
    val codesT = s"$root/codes"

    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
    val normedAll = VectorOps.normed(e)
    // fixed parameters, trained once and held constant while the codes
    // table grows — exactly how the maintainer is deployed
    val cents = VectorOps.ivfCentroids(normedAll).localCheckpoint(true)
    val book = VectorOps.pqBookRows(normedAll)
    val pq = VectorOps.pqOf(book)
    val all = e.collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val batches = Seq(all.take(40), all.slice(40, 300), all.drop(300))

    def arrived(ids: Set[Long]) = e.filter($"vec_id".isInCollection(ids))
    def codesSet() = spark.read.parquet(codesT)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    def directCodes(ids: Set[Long]) =
      VectorOps.pqCodesPostings(VectorOps.normed(arrived(ids)), cents, pq)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    def search() = Streams.pqSearchSnapshot(spark, codesT, normedAll, cents, book, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4))).toSeq
    def directSearch(ids: Set[Long]) =
      VectorOps.ivfPqScore(
          VectorOps.pqCodesPostings(VectorOps.normed(arrived(ids)), cents, pq),
          VectorOps.pqQueries(normedAll, pq), cents, pq, 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4))).toSeq

    var seen = Set.empty[Long]
    var afterPrev = Map.empty[String, (Long, Long)]
    for (b <- batches) {
      Streams.maintainState(b.toSeq.toDF("vec_id", "embedding"),
        StateFamily.pqCodes(cents, VectorOps.pqOf(book)), codesT)
      seen ++= b.map(_._1)
      // real rows == direct encode of all arrivals; sentinels only for
      // the zero-norm ids normed() drops
      val (real, sentinel) = codesSet().partition(_._1 >= 0)
      assert(real == directCodes(seen))
      val zeroIds = arrived(seen)
        .join(VectorOps.normed(arrived(seen)).select($"vec_id"), Seq("vec_id"), "left_anti")
        .collect().map(_.getLong(0)).toSet
      assert(sentinel.map(_._2) == zeroIds, "sentinel rows != zero-norm arrivals")
      assert(search() == directSearch(seen))
      // append-only: earlier batches' files byte-identical in place
      val now = dataFiles(codesT).map { case (k, v) => (s"$codesT/$k", v) }.toMap
      afterPrev.foreach { case (f, sig) =>
        assert(now.get(f).contains(sig),
          s"advance rewrote or dropped an earlier batch's file: $f")
      }
      afterPrev = now
    }
    assert(search().nonEmpty)

    // redelivery of an ingested batch: nothing changes (the id guard) —
    // including its zero-norm members, which the sentinel acknowledged
    val before = codesSet()
    Streams.maintainState(batches(1).toSeq.toDF("vec_id", "embedding"),
      StateFamily.pqCodes(cents, VectorOps.pqOf(book)), codesT)
    assert(codesSet() == before)

    // divergent-payload in-batch duplicates: the max-embedding pick is
    // deterministic, so two sends of the same id in one batch cannot
    // depend on arrival order
    val root2 = Files.createTempDirectory("inc-pq-dup").toString
    val dup = (all.take(5) ++ all.take(5).map { case (id, v) =>
      (id, v.map(x => x * 0.5f)) }).toSeq
    Streams.maintainState(dup.toDF("vec_id", "embedding"),
      StateFamily.pqCodes(cents, VectorOps.pqOf(book)), s"$root2/codes")
    val got = spark.read.parquet(s"$root2/codes")
    assert(got.count() == 5, "in-batch duplicates not collapsed")
  }
}
