package graft.queries

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The production nlist ∝ N sizing rule, codified as [[VectorOps.autoNlist]]
  * and the auto-sized kNN-graph/SemDedup entry points. The rule itself was
  * established empirically (the former ScaleProbe's companion kernels: 8 → 80 cells at
  * 10× corpus keeps the builds at 2.1-2.5× wall vs 10-16× at fixed nlist);
  * this spec pins (1) the sizing math and its clamps, and (2) that the auto
  * entries are PLAN-ONLY conveniences — byte-identical results to the manual
  * fixed-nlist composition at the derived nlist. */
class AutoSizingSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val vecs: DataFrame =
    VectorOps.normed(graft.Tables.embeddings(spark, sfDir))

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  test("autoNlist: ceil(N / targetCellSize), clamped to [1, maxNlist]") {
    // exact division and the ceil of a remainder
    assert(VectorOps.autoNlist(8192L, targetCellSize = 4096L) == 2)
    assert(VectorOps.autoNlist(8193L, targetCellSize = 4096L) == 3)
    // tiny and empty corpora never size below one cell
    assert(VectorOps.autoNlist(1L, targetCellSize = 4096L) == 1)
    assert(VectorOps.autoNlist(0L, targetCellSize = 4096L) == 1)
    // the driver-side budget clamp — including the overflow-prone corner
    // (n near Long.MaxValue with targetCellSize > 1: the add-(t-1) ceil
    // form would wrap negative and return 1 instead of the clamp)
    assert(VectorOps.autoNlist(Long.MaxValue, targetCellSize = 1L,
      maxNlist = 1 << 17) == (1 << 17))
    assert(VectorOps.autoNlist(Long.MaxValue, targetCellSize = 4096L,
      maxNlist = 1 << 17) == (1 << 17))
    // proportionality below the clamp — the rule the probe kernels measure
    val base = VectorOps.autoNlist(40960L, targetCellSize = 4096L)
    assert(VectorOps.autoNlist(409600L, targetCellSize = 4096L) == 10 * base)
    // degenerate knobs are caller bugs, loudly
    intercept[IllegalArgumentException] {
      VectorOps.autoNlist(10L, targetCellSize = 0L)
    }
    intercept[IllegalArgumentException] {
      VectorOps.autoNlist(10L, targetCellSize = 16L, maxNlist = 0)
    }
  }

  test("knnGraphAuto == the manual fixed-nlist composition at the derived nlist") {
    val n = vecs.count()
    val target = math.max(1L, n / 5L) // force a multi-cell quantizer
    val nlist = VectorOps.autoNlist(n, target)
    assert(nlist > 1, s"test corpus too small to exercise multi-cell sizing (nlist=$nlist)")
    val auto = rows(VectorOps.knnGraphAuto(vecs, k = 3, targetCellSize = target))
    val manual = rows(VectorOps.knnGraph(
      VectorOps.assignCells(vecs, VectorOps.ivfCentroids(vecs, nlist)), k = 3))
    assert(auto == manual)
    assert(auto.nonEmpty)
  }

  test("retrainCentroids: auto-sized k, deterministic seeds, assignable trained quantizer") {
    val n = vecs.count()
    val target = math.max(1L, n / 5L)
    val k = VectorOps.autoNlist(n, target)
    val cents = VectorOps.retrainCentroids(vecs, targetCellSize = target)
    val got = cents.collect()
    // one centroid per auto-sized cell (none collapsed to the origin on
    // this corpus), ids dense in [0, k)
    assert(got.length == k, s"expected $k trained centroids, got ${got.length}")
    assert(got.map(_.getLong(0)).sorted.toSeq == (0L until k).toSeq)
    assert(got.forall(_.getDouble(2) > 0.0), "zero-norm centroid survived the drop")
    // the trained frame drives the SAME row-local assignment kernel the
    // fixed-quantizer gates use, and every vector lands in a trained cell
    val assigned = VectorOps.assignCells(vecs, cents)
    assert(assigned.count() == n)
    import org.apache.spark.sql.functions.{col, max => smax, min => smin}
    val r = assigned.agg(smin(col("cid")), smax(col("cid"))).head()
    assert(r.getLong(0) >= 0L && r.getLong(1) < k)
    // determinism: a second run trains the identical quantizer
    val again = VectorOps.retrainCentroids(vecs, targetCellSize = target).collect()
    assert(again.map(_.toSeq.toList).toList.sortBy(_.toString) ==
      got.map(_.toSeq.toList).toList.sortBy(_.toString))
  }

  test("knnGraphAdvance under the auto-sized quantizer == the auto full build (pp36's contract)") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val n = vecs.count()
    val target = math.max(1L, n / 5L)
    val cents = VectorOps.ivfCentroids(vecs, VectorOps.autoNlist(n, target))
    val isNew = graft.functions.HashExpressions.md5Fold32(
      concat(lit("ginc:"), col("vec_id").cast("string"))) % 5 === 0
    val standPost = VectorOps.assignCells(vecs.filter(!isNew), cents)
    val standGraph = VectorOps.knnGraph(standPost, 3)
    val batchPost = VectorOps.assignCells(vecs.filter(isNew), cents)
    val adv = rows(
      VectorOps.knnGraphAdvance(standPost, standGraph, batchPost, 3)
        .orderBy(col("query_id"), col("rank")))
    val full = rows(VectorOps.knnGraphAuto(vecs, k = 3, targetCellSize = target))
    assert(adv == full)
    assert(adv.nonEmpty)
  }

  test("semanticDropsAuto == the manual composition at the derived nlist") {
    val n = vecs.count()
    val target = math.max(1L, n / 5L)
    val nlist = VectorOps.autoNlist(n, target)
    val auto = rows(VectorOps.semanticDropsAuto(vecs, tau = 0.30, targetCellSize = target))
    val manual = rows(VectorOps.semanticDrops(
      VectorOps.assignCells(vecs, VectorOps.ivfCentroids(vecs, nlist)), tau = 0.30))
    assert(auto == manual)
    assert(auto.nonEmpty)
  }
}
