package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.queries.VectorOps

/** pp24's continuous loop: however the vector stream is split into
  * batches, the maintained cid-partitioned graph must equal vs13's full
  * rescan over everything arrived — with each advance rewriting ONLY
  * the touched cells' partitions (untouched partition files never
  * move), redelivery a no-op, a crashed half-advance (graph written,
  * guard append lost) repaired by replay, and zero-norm arrivals
  * guarded under the postings sentinel without ever reaching the
  * graph. */
class IncrementalKnnGraphStateSpec extends AnyFunSuite with SparkSpec {

  private def dataFiles(dir: String) = graft.SparkSpec.dataFiles(dir)

  test("batch splits reproduce the vs13 graph at every step; touched-partition-only writes; redelivery/crash safe; sentinel guarded") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("inc-knn").toString
    val (postT, graphT) = (s"$root/postings", s"$root/graph")

    val e0 = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val zeroId = 999999L
    val all = e0 :+ (zeroId -> Seq.fill(e0.head._2.length)(0.0f))
    val batches = Seq(all.take(40), all.slice(40, 300), all.drop(300))
    def df(b: Seq[(Long, Seq[Float])]) = b.toDF("vec_id", "embedding")
    val cents = VectorOps.ivfCentroids(VectorOps.normed(df(all)))
      .localCheckpoint(true)

    def rowsOf(g: org.apache.spark.sql.DataFrame) =
      g.select($"query_id", $"cid", $"neighbor_id", $"rank", $"cos")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getInt(3), r.getDouble(4))).toSet
    def snap() = rowsOf(Streams.knnGraphSnapshot(spark, graphT))
    def direct(rows: Seq[(Long, Seq[Float])]) = rowsOf(
      VectorOps.knnGraph(
        VectorOps.assignCells(VectorOps.normed(df(rows)), cents), 3))

    var arrived = Seq.empty[(Long, Seq[Float])]
    for (b <- batches) {
      // in-batch duplicate: deterministic max-embedding collapse
      val withDup = b ++ b.headOption
      Streams.maintainState(df(withDup), StateFamily.postings(cents), postT,
        StateFamily.KnnGraph -> graphT)
      arrived ++= b
      assert(snap() == direct(arrived), s"graph drifted after batch of ${b.length}")
    }
    assert(snap().nonEmpty)

    // touched-partition-only writes: advance with a batch confined to
    // ONE cell — every other cell's partition files must not move
    val before = dataFiles(graphT)
    val extraVec = e0.head._2.map(x => x) // a copy of vector 0 under a new id
    Streams.maintainState(Seq((2000000L, extraVec: Seq[Float])).toDF("vec_id", "embedding"),
      StateFamily.postings(cents), postT,
      StateFamily.KnnGraph -> graphT)
    arrived ++= Seq(2000000L -> (extraVec: Seq[Float]))
    assert(snap() == direct(arrived))
    val touchedCid = VectorOps.assignCells(
        VectorOps.normed(Seq((2000000L, extraVec: Seq[Float])).toDF("vec_id", "embedding")),
        cents).head().getLong(0)
    val after = dataFiles(graphT)
    before.foreach { case (f, sig) =>
      if (!f.startsWith(s"cid=$touchedCid/"))
        assert(after.get(f).contains(sig),
          s"untouched partition file moved: $f (touched cid $touchedCid)")
    }

    // the zero-norm arrival is behind the guard (postings sentinel) and
    // absent from the graph
    assert(spark.read.parquet(postT).filter($"vec_id" === zeroId)
      .head().getLong(0) == -1L)
    assert(!snap().exists(r => r._1 == zeroId || r._3 == zeroId))

    // redelivery of a whole ingested batch: nothing changes anywhere
    val (s0, p0, g0) = (snap(), dataFiles(postT), dataFiles(graphT))
    Streams.maintainState(df(batches(1)), StateFamily.postings(cents), postT,
      StateFamily.KnnGraph -> graphT)
    assert(snap() == s0 && dataFiles(graphT) == g0 && dataFiles(postT) == p0)

    // partial-crash replay on a fresh root: the graph partitions landed
    // but the guard append didn't — the replay must regenerate the same
    // partitions (stored edges referencing batch ids dropped and
    // re-derived), never a doubled rank
    val root2 = Files.createTempDirectory("inc-knn-crash").toString
    val (postT2, graphT2) = (s"$root2/postings", s"$root2/graph")
    Streams.maintainState(df(batches(0)), StateFamily.postings(cents), postT2,
      StateFamily.KnnGraph -> graphT2)
    val assigned1 = VectorOps.assignCells(
      VectorOps.normed(df(batches(1))), cents).localCheckpoint(true)
    VectorOps.knnGraphAdvanceTouched(
        spark.read.parquet(postT2).filter($"cid" >= 0),
        Streams.knnGraphSnapshot(spark, graphT2), assigned1, 3)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("cid").parquet(graphT2)
    Streams.maintainState(df(batches(1)), StateFamily.postings(cents), postT2,
      StateFamily.KnnGraph -> graphT2)
    assert(rowsOf(Streams.knnGraphSnapshot(spark, graphT2)) ==
      direct(batches(0) ++ batches(1)),
      "crash replay drifted (duplicate edge or lost advance)")
  }

  test("the continuous loop composes with the AUTO-SIZED quantizer era (pp36's production shape)") {
    // cents is DATA to the loop, so the auto-sized era (nlist derived by
    // autoNlist at the latest rebuild) drives the KnnGraph advance
    // unchanged — the maintained graph must equal knnGraphAuto's full
    // build at the same targetCellSize, which is pp36's gate contract
    // carried into the continuous member
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("inc-knn-auto").toString
    val (postT, graphT) = (s"$root/postings", s"$root/graph")
    val e0 = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    def df(b: Seq[(Long, Seq[Float])]) = b.toDF("vec_id", "embedding")
    val vecs = VectorOps.normed(df(e0)).localCheckpoint(true)
    val n = vecs.count()
    val target = math.max(1L, n / 5L) // force a multi-cell auto quantizer
    val nlist = VectorOps.autoNlist(n, target)
    assert(nlist > 1, s"corpus too small for a multi-cell era (nlist=$nlist)")
    val cents = VectorOps.ivfCentroids(vecs, nlist).localCheckpoint(true)
    for (b <- Seq(e0.take(70), e0.slice(70, 260), e0.drop(260)))
      Streams.maintainState(df(b), StateFamily.postings(cents), postT,
        StateFamily.KnnGraph -> graphT)
    def rowsOf(g: org.apache.spark.sql.DataFrame) =
      g.select($"query_id", $"cid", $"neighbor_id", $"rank", $"cos")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getInt(3), r.getDouble(4))).toSet
    val maintained = rowsOf(Streams.knnGraphSnapshot(spark, graphT))
    val full = rowsOf(VectorOps.knnGraphAuto(vecs, k = 3, targetCellSize = target))
    assert(maintained == full,
      "maintained auto-era graph drifted from knnGraphAuto's full build")
    assert(maintained.nonEmpty)

    // FORGET stays in the ERA's quantizer: the repair works off the
    // stored postings' cids (forgetState never re-assigns), so the
    // post-forget graph must equal the full build over the SURVIVORS
    // under the SAME era cents — NOT knnGraphAuto re-derived from the
    // survivor count (re-sizing the quantizer is a REBUILD decision, not
    // a side effect of deletion)
    val forgetIds = e0.map(_._1).filter(_ % 7 == 3).take(60).toSeq
    Streams.forgetState(spark, forgetIds.toDF("vec_id"), postT, StateFamily.KnnGraph -> graphT)
    val survivors = VectorOps.normed(df(e0.filterNot(r => forgetIds.contains(r._1))))
    val afterForget = rowsOf(Streams.knnGraphSnapshot(spark, graphT))
    val eraFull = rowsOf(VectorOps.knnGraph(
      VectorOps.assignCells(survivors, cents), 3))
    assert(afterForget == eraFull,
      "forget drifted from the era-quantizer full build over survivors")
    assert(afterForget.nonEmpty)
  }
}
