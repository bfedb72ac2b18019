package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Misra–Gries summary: exactness below capacity, the deterministic
  * undercount bound (and its superset guarantee) under every
  * partitioning, the bounded-buffer plan contract, and the ta22 gate ==
  * the plain exact rollup. */
class MisraGriesSpec extends AnyFunSuite with SparkSpec {

  private def mg(items: Seq[String], k: Int, parts: Int) = {
    import spark.implicits._
    MisraGries.summary(items.toDF("x").repartition(parts), $"x", k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("below capacity the summary IS the exact count, any partitioning") {
    val items = Seq.fill(40)("a") ++ Seq.fill(25)("b") ++ Seq.fill(3)("c")
    val exact = Map("a" -> 40L, "b" -> 25L, "c" -> 3L)
    for (p <- Seq(1, 7)) assert(mg(scala.util.Random.shuffle(items), 8, p) == exact,
      s"distinct <= k must be exact (parts=$p)")
  }

  test("undercount bound holds under every partitioning; every item above n/(k+1) is present") {
    val k = 16
    // 3 heavy items + 200 distinct light items: decrements and merges
    // both fire; counts may differ per partitioning but the bound may not
    val items = scala.util.Random.shuffle(
      Seq.fill(300)("hh1") ++ Seq.fill(180)("hh2") ++ Seq.fill(90)("hh3") ++
        (0 until 200).map(i => s"light$i"))
    val n = items.length
    val exact = items.groupBy(identity).map { case (x, xs) => x -> xs.length.toLong }
    for (p <- Seq(1, 3, 13)) {
      val got = mg(items, k, p)
      assert(got.size <= k, s"summary exceeded k counters (parts=$p)")
      got.foreach { case (x, c) =>
        val t = exact(x)
        assert(c <= t, s"OVER-counted '$x': $c > $t (parts=$p)")
        assert(c >= t - n / (k + 1L),
          s"undercount bound broken for '$x': $c < $t - ${n / (k + 1)} (parts=$p)")
      }
      exact.filter(_._2 > n / (k + 1L)).keys.foreach(x =>
        assert(got.contains(x), s"heavy item '$x' missing from summary (parts=$p)"))
    }
  }

  test("plan: bounded counters combine map-side — no item-stream shuffle, no window") {
    import spark.implicits._
    // repartition BEFORE deriving the item column, so the only exchange
    // that could carry items is the aggregate's own
    val df = MisraGries.summary(
      (1 to 5000).toDF("i").repartition(8)
        .select(concat(lit("v"), ($"i" % 97).cast("string")).as("x")),
      $"x", 32)
    df.collect()
    val ns = PlanInspect.nodes(df)
    assert(ns.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec]))
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]))
    PlanInspect.shuffles(df).map(_.child.output.map(_.name).toSet).foreach(p =>
      assert(!p.contains("x"), s"item stream crossed the shuffle: $p"))
  }

  test("ta22 gate == the exact support-threshold rollup (== ta21) on the corpus") {
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val got = graft.queries.Catalog.byName("ta22_mg_heavy_hitters")
      .fn(spark, sfDir).collect().map(r => (r.getString(0), r.getLong(1)))
    val ta21 = graft.queries.Catalog.byName("ta21_cms_heavy_hitters")
      .fn(spark, sfDir).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.nonEmpty, "no heavy hitters — vacuous")
    assert(got.toSeq == ta21.toSeq,
      "MG-pruned result != CMS-pruned result (both must equal the exact rollup)")
  }

  test("all five heavy-hitter plans agree: exact rollup, CMS and MG prunes, each rescanned or checkpointed") {
    import spark.implicits._
    import graft.queries.TextOps
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    def occ() = TextOps.bigramOcc(docs)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val total = occ().count()
    val exact = rows(occ().groupBy($"tok").agg(count(lit(1)).as("n"))
      .filter($"n" * 1024L > total).orderBy($"n".desc, $"tok"))
    assert(exact.nonEmpty, "no heavy hitters — vacuous")
    for ((label, got) <- Seq(
        "cms_rescan" -> TextOps.cmsHeavyHitters(occ()),
        "cms_checkpoint" -> TextOps.cmsHeavyHitters(occ(), TextOps.localMaterialize),
        "mg_rescan" -> TextOps.mgHeavyHitters(occ()),
        "mg_checkpoint" -> TextOps.mgHeavyHitters(occ(), TextOps.localMaterialize)))
      assert(rows(got) == exact, s"$label disagrees with the exact rollup")
  }
}

