package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The CMS standing-state family (ta20/pp29's continuous twin): sketch
  * cells + vocabulary advanced append-only per batch under the vocab
  * family's at-least-once contract, forgotten by negative cell deltas
  * recomputed from stored text. Snapshot must equal ta20 over the
  * arrivals, and compaction must bound the cells at d·w; the lifecycle
  * legs are StateFamilyContractSpec's. */
class CmsStateSpec extends AnyFunSuite with SparkSpec {

  test("cms maintainer: snapshot == ta20 over arrivals; replay dedups; redelivery no-op; forget == survivors; compaction; re-ingest blocked; idempotent") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val all = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    def df(b: Seq[(Long, String)]) = b.toDF("doc_id", "text")
    def want(b: Seq[(Long, String)]) = {
      val occ = df(b).select(explode(graft.functions.Text.tokens($"text")).as("tok"))
        .localCheckpoint(true)
      graft.queries.TextOps.cmsProbe(
        graft.queries.TextOps.cmsCellsFromTokens(occ),
        occ.groupBy($"tok").agg(count(lit(1)).as("cf"))
          .orderBy($"cf".desc, $"tok").limit(20))
        .collect().map(_.toSeq.toList).toList
    }

    val root = Files.createTempDirectory("cms-state").toString
    val (cT, vT, docT) = (s"$root/cells", s"$root/vocab", s"$root/docs")
    for (b <- Seq(all.take(150), all.drop(150)))
      Streams.maintainState(df(b), docT, StateFamily.CmsCells -> cT,
        StateFamily.Vocab -> vT)
    def got() = Streams.cmsSnapshot(spark, cT, vT)
      .collect().map(_.toSeq.toList).toList
    assert(got() == want(all), "maintained snapshot != ta20 over the arrivals")
    assert(got().nonEmpty, "no results — vacuous")

    // redelivery, crash replay, compaction invariance and forget:
    // StateFamilyContractSpec
    // this family's own bound: compaction folds to O(cells) / O(vocab) rows
    Streams.compactState(spark, docT, StateFamily.CmsCells -> cT,
      StateFamily.Vocab -> vT)
    assert(spark.read.parquet(cT).count() <= 4 * 1024,
      "cells table exceeds d*w after compaction")
  }
}
