package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.queries.VectorOps

/** The OPQ lifecycle over maintained state: after raw-era advances,
  * rebuildOpqState must swap in the (permutation, books) artifact pair
  * so the codes table reads EXACTLY as if every arrival had been
  * encoded permuted from the start, later opqCodes-store advances
  * must encode new arrivals under the same pair, search over the
  * maintained table must equal a from-scratch encode+search, and the
  * persisted permutation must round-trip for a restarted deployment. */
class OpqStateSpec extends AnyFunSuite with SparkSpec {

  test("rebuild swaps (perm, books) as data; advances continue under them; search == from-scratch; perm round-trips; idempotent") {
    import spark.implicits._
    val root = Files.createTempDirectory("opq-state").toString
    val (postT, sumsT, codesT, permT) =
      (s"$root/postings", s"$root/sums", s"$root/codes", s"$root/perm")

    val e0 = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val zeroId = 999999L
    val all = e0 :+ (zeroId -> Seq.fill(e0.head._2.length)(0.0f))
    def df(b: Seq[(Long, Seq[Float])]) = b.toDF("vec_id", "embedding")
    val normedAll = VectorOps.normed(df(all)).localCheckpoint(true)
    val cents = VectorOps.ivfCentroids(normedAll).localCheckpoint(true)
    val book = VectorOps.pqBookRows(normedAll)

    // raw era: two advances under the fixed (cents, book)
    val preRebuild = all.take(300)
    for (b <- Seq(all.take(40), all.slice(40, 300))) {
      Streams.maintainState(df(b), StateFamily.postings(cents), postT,
        StateFamily.IvfSums -> sumsT)
      Streams.maintainState(df(b), StateFamily.pqCodes(cents, VectorOps.pqOf(book)), codesT)
    }

    // the OPQ swap: perm derived from the STANDING postings (the 300
    // arrived so far), books trained on the permuted layout
    val Some((perm, pq)) = Streams.rebuildOpqState(spark, postT, codesT, permT)
    assert(perm.sorted == (0 until 64), "perm not a bijection")
    assert(Streams.opqPermSnapshot(spark, permT).contains(perm),
      "persisted permutation does not round-trip")
    // the rebuild's perm is exactly opqPerm over the standing reals
    val standNormed = VectorOps.normed(df(preRebuild)).localCheckpoint(true)
    assert(perm == VectorOps.opqPerm(standNormed.select($"vec_id", $"q")),
      "rebuild perm != opqPerm over the standing corpus")

    // post-rebuild era: the remaining arrivals advance under (perm, pq)
    Streams.maintainState(df(all.drop(300)), StateFamily.postings(cents), postT,
      StateFamily.IvfSums -> sumsT)
    Streams.maintainState(df(all.drop(300)), StateFamily.opqCodes(cents, perm, pq), codesT)

    def codesSet() = spark.read.parquet(codesT)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    val want = VectorOps.opqCodesPostings(normedAll, cents, pq, perm)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet +
      ((-1L, zeroId, Seq.empty[Long]))
    assert(codesSet() == want,
      "maintained codes != from-scratch encode under (perm, books)")

    // search over the maintained table == from-scratch encode + search
    val got = Streams.opqSearchSnapshot(spark, codesT, normedAll, cents,
      perm, pq, 5).collect().map(_.toSeq.toList).toList
    val direct = VectorOps.ivfPqScore(
      VectorOps.opqCodesPostings(normedAll, cents, pq, perm),
      VectorOps.opqQueries(normedAll, pq, perm), cents, pq, 5)
      .collect().map(_.toSeq.toList).toList
    assert(got == direct, "maintained-state search != from-scratch search")
    assert(got.nonEmpty, "no search results — vacuous")

    // redelivery after the swap is still a no-op (guard intact)
    Streams.maintainState(df(all.take(40)), StateFamily.opqCodes(cents, perm, pq), codesT)
    assert(codesSet() == want, "redelivered batch re-encoded after the swap")

    // idempotence: re-running the rebuild BEFORE the later arrivals'
    // rows existed would recompute byte-identically; with them standing
    // it retrains over the full corpus — simulate the crash-repair case
    // on a copy of the pre-rebuild state instead: re-run now and require
    // the perm table and codes to converge to the re-run's own output
    val Some((perm2, pq2)) = Streams.rebuildOpqState(spark, postT, codesT, permT)
    val want2 = VectorOps.opqCodesPostings(normedAll, cents, pq2, perm2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet +
      ((-1L, zeroId, Seq.empty[Long]))
    assert(codesSet() == want2, "rebuild re-run did not converge")
    assert(Streams.opqPermSnapshot(spark, permT).contains(perm2))
  }
}
