package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The HLL standing-state family (ta23/pp31's continuous twin): the
  * register table advanced by idempotent max — replays and overlaps
  * absorbed with NO dedup machinery — and forgotten by an O(survivors)
  * register rebuild (max does not invert; the honest non-additive
  * trade). Snapshot must equal ta23 over the arrivals, and compaction
  * must bound the registers; the lifecycle legs are
  * StateFamilyContractSpec's. */
class HllStateSpec extends AnyFunSuite with SparkSpec {

  test("hll maintainer: snapshot == ta23 over arrivals; replay absorbed; redelivery no-op; forget rebuilds over survivors; compaction; re-ingest blocked; idempotent") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val all = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"source", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    def df(b: Seq[(Long, String, String)]) =
      b.toDF("doc_id", "source", "text")
    def want(b: Seq[(Long, String, String)]) =
      graft.operators.HllSketch.estimated(
        graft.operators.HllSketch.registers(
          df(b).select($"source",
            explode(graft.functions.Text.tokens($"text")).as("tok")),
          "source", graft.queries.QueryUtils.hex8($"tok")),
        "source").orderBy($"source")
        .collect().map(_.toSeq.toList).toList

    val root = Files.createTempDirectory("hll-state").toString
    val (rT, docT) = (s"$root/regs", s"$root/docs")
    for (b <- Seq(all.take(150), all.drop(150)))
      Streams.maintainState(df(b), docT, StateFamily.Hll -> rT)
    def got() = Streams.hllSnapshot(spark, rT).orderBy(col("source"))
      .collect().map(_.toSeq.toList).toList
    assert(got() == want(all), "maintained snapshot != ta23 over the arrivals")
    assert(got().nonEmpty, "no results — vacuous")

    // redelivery, crash replay, compaction invariance and forget:
    // StateFamilyContractSpec
    // this family's own bound: compaction folds to <= 64 rows per source
    Streams.compactState(spark, docT, StateFamily.Hll -> rT)
    val perSource = spark.read.parquet(rT)
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
      .collect().map(_.getLong(1))
    assert(perSource.forall(_ <= 64), "a source exceeds 64 register rows")
  }
}
