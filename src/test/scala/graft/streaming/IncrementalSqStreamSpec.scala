package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{OverlappedTests, SparkSpec}
import graft.queries.VectorOps

/** pp20's continuous loop: however the embedding stream is split into
  * batches, the maintained SQ-codes table must equal a from-scratch
  * encode of everything arrived under the era's fixed bounds, and the
  * asymmetric search over it must equal the batch search — with the
  * table APPEND-ONLY, redelivery a no-op, in-batch duplicates collapsed
  * deterministically, and zero-norm arrivals acknowledged with empty
  * codes without ever reaching a query. */
class IncrementalSqStreamSpec extends AnyFunSuite with SparkSpec
    with OverlappedTests {

  private def dataFiles(dir: String) = graft.SparkSpec.dataFiles(dir)

  test("batch splits reproduce batch SQ codes at every step; append-only; redelivery no-op; empty-codes sentinels invisible to search") {
    import spark.implicits._
    val root = Files.createTempDirectory("inc-sq").toString
    val codesT = s"$root/codes"

    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
    val normedAll = VectorOps.normed(e)
    // fixed parameters, trained once and held constant while the codes
    // table grows — exactly how the maintainer is deployed
    val (vmin, vdiff) = VectorOps.sqTrain(normedAll)
    val all = e.collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val batches = Seq(all.take(40), all.slice(40, 300), all.drop(300))

    def arrived(ids: Set[Long]) = e.filter($"vec_id".isInCollection(ids))
    def codesSet() = spark.read.parquet(codesT)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    def directCodes(ids: Set[Long]) =
      VectorOps.normed(arrived(ids))
        .select($"vec_id", VectorOps.sqCodes($"q", vmin, vdiff).as("codes"))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    def search() = Streams.sqSearchSnapshot(spark, codesT, normedAll, vmin, vdiff, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSeq
    def directSearch(ids: Set[Long]) =
      VectorOps.sqScore(
          VectorOps.normed(arrived(ids))
            .select($"vec_id", VectorOps.sqCodes($"q", vmin, vdiff).as("codes")),
          VectorOps.sqQueries(normedAll), vmin, vdiff, 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSeq

    var seen = Set.empty[Long]
    var afterPrev = Map.empty[String, (Long, Long)]
    for (b <- batches) {
      Streams.maintainState(b.toSeq.toDF("vec_id", "embedding"),
        StateFamily.sqCodes(vmin, vdiff), codesT)
      seen ++= b.map(_._1)
      // real rows == direct encode of all arrivals; sentinels (empty
      // codes) only for the zero-norm ids normed() drops
      val (real, sentinel) = codesSet().partition(_._2.nonEmpty)
      assert(real == directCodes(seen))
      val zeroIds = arrived(seen)
        .join(VectorOps.normed(arrived(seen)).select($"vec_id"), Seq("vec_id"), "left_anti")
        .collect().map(_.getLong(0)).toSet
      assert(sentinel.map(_._1) == zeroIds, "sentinel rows != zero-norm arrivals")
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
      StateFamily.sqCodes(vmin, vdiff), codesT)
    assert(codesSet() == before)

    // divergent-payload in-batch duplicates: the max-embedding pick is
    // deterministic, so two sends of the same id in one batch cannot
    // depend on arrival order
    val root2 = Files.createTempDirectory("inc-sq-dup").toString
    val dup = (all.take(5) ++ all.take(5).map { case (id, v) =>
      (id, v.map(x => x * 0.5f)) }).toSeq
    Streams.maintainState(dup.toDF("vec_id", "embedding"), StateFamily.sqCodes(vmin, vdiff),
      s"$root2/codes")
    assert(spark.read.parquet(s"$root2/codes").count() == 5,
      "in-batch duplicates not collapsed")

    // an out-of-bounds late arrival clamps to the grid edge instead of
    // leaving the byte range — the fixed-quantizer robustness contract
    val root3 = Files.createTempDirectory("inc-sq-oob").toString
    val big = Seq((999999L, Seq.fill(vmin.length)(1e6f)))
    Streams.maintainState(big.toDF("vec_id", "embedding"), StateFamily.sqCodes(vmin, vdiff),
      s"$root3/codes")
    val oob = spark.read.parquet(s"$root3/codes")
      .collect().map(_.getSeq[Long](1)).head
    assert(oob.forall(c => c >= 0L && c <= 255L), s"clamp failed: $oob")
  }

  test("rebuildSqState: bounds retrained from the postings table, codes swapped, search == from-scratch encode under the new bounds") {
    import spark.implicits._
    val root = Files.createTempDirectory("sq-rebuild").toString
    val (postT, sumsT, codesT) = (s"$root/postings", s"$root/sums", s"$root/codes")

    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
    val all = e.collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val batches = Seq(all.take(60), all.slice(60, 200), all.drop(200))
    // the drift regime: bounds trained on the FIRST batch only, held
    // fixed while later batches arrive — out-of-range rows clamp (the
    // scheduled-rebuild signal this lifecycle exists for)
    val firstNormed = VectorOps.normed(
      batches(0).toSeq.toDF("vec_id", "embedding"))
    val (vmin0, vdiff0) = VectorOps.sqTrain(firstNormed)
    val cents = VectorOps.ivfCentroids(VectorOps.normed(e), 4)
    for (b <- batches) {
      val bdf = b.toSeq.toDF("vec_id", "embedding")
      // one ingest stream feeds both tables — the rebuild's precondition
      Streams.maintainState(bdf, StateFamily.postings(cents), postT,
        StateFamily.IvfSums -> sumsT)
      Streams.maintainState(bdf, StateFamily.sqCodes(vmin0, vdiff0), codesT)
    }
    val Some((vmin1, vdiff1)) = Streams.rebuildSqState(spark, postT, codesT)
    val normedAll = VectorOps.normed(e)
    // new bounds == the one-aggregate derivation over everything arrived
    val (emin, ediff) = VectorOps.sqTrain(normedAll)
    assert(vmin1.toSeq == emin.toSeq && vdiff1.toSeq == ediff.toSeq,
      "rebuilt bounds differ from a from-scratch train over the postings")
    // swapped codes == direct encode under the new bounds; sentinels kept
    val (real, sentinel) = spark.read.parquet(codesT)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
      .partition(_._2.nonEmpty)
    val direct = normedAll
      .select($"vec_id", VectorOps.sqCodes($"q", vmin1, vdiff1).as("codes"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    assert(real == direct, "swapped codes differ from direct encode")
    val zeroIds = e.join(normedAll.select($"vec_id"), Seq("vec_id"), "left_anti")
      .collect().map(_.getLong(0)).toSet
    assert(sentinel.map(_._1) == zeroIds, "sentinels lost across the swap")
    // and the read path serves the new era seamlessly
    val got = Streams.sqSearchSnapshot(spark, codesT, normedAll, vmin1, vdiff1, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSeq
    val expect = VectorOps.sqScore(
        normedAll.select($"vec_id", VectorOps.sqCodes($"q", vmin1, vdiff1).as("codes")),
        VectorOps.sqQueries(normedAll), vmin1, vdiff1, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSeq
    assert(got.nonEmpty && got == expect,
      "post-rebuild search drifted from from-scratch encode")
    // a rebuild re-run is byte-stable (the crash-repair contract)
    val filesBefore = spark.read.parquet(codesT)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    Streams.rebuildSqState(spark, postT, codesT)
    val filesAfter = spark.read.parquet(codesT)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    assert(filesBefore == filesAfter, "rebuild re-run is not idempotent")
  }

  test("forget: forgotten ids' SQ codes leave search, survivors == from-scratch encode, re-ingest blocked") {
    import spark.implicits._
    val root = Files.createTempDirectory("sq-forget").toString
    val codesT = s"$root/codes"
    // 120 generated 16-dim vectors (ids 10..19 are the query window)
    val all = (0L until 120L).map(id => id -> (0 until 16).map(d =>
      ((id * 37 + d * 11) % 23 - 11) * 0.07f))
    val e = all.toDF("vec_id", "embedding")
    val normedAll = VectorOps.normed(e).localCheckpoint(true)
    val (vmin, vdiff) = VectorOps.sqTrain(normedAll)
    val sq = StateFamily.sqCodes(vmin, vdiff)
    for (b <- Seq(all.take(70), all.drop(70)))
      Streams.maintainState(b.toDF("vec_id", "embedding"), sq, codesT)

    // every 7th id plus one never seen (forward-blocks an in-flight arrival)
    val neverSeen = 3000000L
    val forgot = all.map(_._1).filter(_ % 7 == 0).toSet + neverSeen
    Streams.forgetState(spark, forgot.toSeq.toDF("vec_id"), sq, codesT)
    def search() = Streams.sqSearchSnapshot(spark, codesT, normedAll, vmin, vdiff, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSeq
    val survivors = VectorOps.sqScore(
        VectorOps.normed(e.filter(!$"vec_id".isInCollection(forgot)))
          .select($"vec_id", VectorOps.sqCodes($"q", vmin, vdiff).as("codes")),
        VectorOps.sqQueries(normedAll), vmin, vdiff, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSeq
    assert(search().nonEmpty && search() == survivors,
      "search after forget != from-scratch encode over the survivors")

    // re-ingest of the forgotten ids (and the never-seen one) is a no-op
    Streams.maintainState((all.filter(t => forgot.contains(t._1)) :+
        (neverSeen -> all.head._2)).toDF("vec_id", "embedding"), sq, codesT)
    assert(search() == survivors, "a forgotten id re-entered the codes")
    assert(spark.read.parquet(codesT).filter($"vec_id".isInCollection(forgot))
      .collect().forall(_.getSeq[Long](1).isEmpty), "a forgotten id kept its codes")
  }
}
