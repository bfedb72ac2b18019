package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The quantile-sketch standing-state family (ta24/pp32's continuous
  * twin): the exploded bottom-k sample advanced by idempotent pair-set
  * union — replays and overlaps absorbed with NO dedup machinery — and
  * forgotten by an O(survivors) rebuild (a saturated sample does not
  * invert; the honest non-additive trade, HLL's). Snapshot must equal
  * ta24 over the arrivals, compaction must bound the sample, and the
  * double domain must ride the same table; the BIGINT lifecycle legs
  * are StateFamilyContractSpec's. */
class QuantileStateSpec extends AnyFunSuite with SparkSpec {

  test("quantile maintainer: snapshot == ta24 over arrivals; replay absorbed; redelivery no-op; compaction bounds state; forget rebuilds over survivors; re-ingest + ghost blocked; idempotent") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val all = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"source", $"n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    def df(b: Seq[(Long, String, Long)]) =
      b.toDF("doc_id", "source", "v")
    def want(b: Seq[(Long, String, Long)]) = {
      val k = graft.queries.TextOps.TA24_K
      graft.operators.QuantileSketch.quantiles(
        graft.operators.QuantileSketch.sketch(
          graft.queries.TextOps.qsPairs(df(b)),
          "source", col("h"), col("v"), k),
        k, graft.queries.TextOps.TA24_PS).orderBy($"source")
        .collect().map(_.toSeq.toList).toList
    }

    val root = Files.createTempDirectory("qs-state").toString
    val (qT, docT) = (s"$root/qs", s"$root/docs")
    for (b <- Seq(all.take(150), all.drop(150)))
      Streams.maintainState(df(b), docT, StateFamily.Quantile -> qT)
    def got() = Streams.quantileSnapshot(spark, qT).orderBy(col("source"))
      .collect().map(_.toSeq.toList).toList
    assert(got() == want(all), "maintained snapshot != ta24 over the arrivals")
    assert(got().nonEmpty, "no results — vacuous")

    // redelivery, crash replay, compaction invariance and forget:
    // StateFamilyContractSpec
    // this family's own bound: compaction folds to <= k rows per source
    Streams.compactState(spark, docT, StateFamily.Quantile -> qT)
    val perSource = spark.read.parquet(qT)
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
      .collect().map(_.getLong(1))
    assert(perSource.forall(_ <= graft.queries.TextOps.TA24_K),
      "a source exceeds k sample rows after compaction")
  }

  test("double-domain maintained sample: transform-at-ingest rides the BIGINT maintainer verbatim; quantileDoubleSnapshot == from-scratch sketchDouble; redelivery/compaction/forget hold") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a genuinely fractional measurement: mean token length per doc
    val all = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"source",
        ($"n_chars".cast("double") /
          size(graft.functions.Text.tokens($"text")).cast("double")).as("v"))
      .where($"v".isNotNull)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1)
    def raw(b: Seq[(Long, String, Double)]) = b.toDF("doc_id", "source", "v")
    // ingest shape: the double transformed to its sortable long — the
    // maintainer and its guard/forget machinery are the BIGINT family's
    // unchanged (the standing layout only ever orders the value)
    def ingest(b: Seq[(Long, String, Double)]) = raw(b).select($"doc_id",
      $"source",
      graft.functions.DoubleSortable.toSortableLong($"v").as("v"))
    // independent truth: sketchDouble over the RAW doubles with the
    // maintainer's own hash salt (quantileDelta's "qs:") — equality pins
    // transform-at-ingest == transform-inside-sketchDouble
    def want(b: Seq[(Long, String, Double)]) = {
      val k = graft.queries.TextOps.TA24_K
      graft.operators.QuantileSketch.quantilesDouble(
        graft.operators.QuantileSketch.sketchDouble(
          raw(b).select($"source", graft.queries.QueryUtils.hex8(
            concat(lit("qs:"), $"doc_id".cast("string"))).as("h"), $"v"),
          "source", col("h"), col("v"), k),
        k, graft.queries.TextOps.TA24_PS).orderBy($"source")
        .collect().map(_.toSeq.toList).toList
    }
    val root = Files.createTempDirectory("qsd-state").toString
    val (qT, docT) = (s"$root/qsd", s"$root/docs")
    for (b <- Seq(all.take(150), all.drop(150)))
      Streams.maintainState(ingest(b), docT, StateFamily.Quantile -> qT)
    def got() = Streams.quantileDoubleSnapshot(spark, qT)
      .orderBy(col("source")).collect().map(_.toSeq.toList).toList
    assert(got() == want(all), "maintained double snapshot != sketchDouble")
    assert(got().nonEmpty, "no results — vacuous")
    assert(got().exists(_.exists {
      case d: Double => d != math.floor(d); case _ => false
    }), "no fractional estimate — the double domain is vacuous here")

    // redelivery is absorbed by the pair-set fold, as in the BIGINT leg
    Streams.maintainState(ingest(all.take(150)), docT,
      StateFamily.Quantile -> qT)
    assert(got() == want(all), "redelivered batch moved the estimates")
    Streams.compactState(spark, docT, StateFamily.Quantile -> qT)
    assert(got() == want(all), "compaction drifted")

    // forget rebuilds over survivors — quantileDelta re-derives from the
    // stored TRANSFORMED longs, same domain, same salt
    val forgot = all.map(_._1).filter(_ % 7 == 0).toSet
    Streams.forgetState(spark, forgot.toSeq.toDF("doc_id"), docT,
      StateFamily.Quantile -> qT)
    assert(got() == want(all.filterNot(t => forgot(t._1))),
      "forget != sketchDouble over the survivors")

    // the path contract's failure mode is LOUD at the sketch level: a
    // BIGINT read of this double table trips the domain tag
    val ex = intercept[Exception] {
      graft.operators.QuantileSketch.quantiles(
        graft.operators.QuantileSketch.resketchDouble(
          spark.read.parquet(qT), "source", col("h"), col("v"),
          graft.queries.TextOps.TA24_K),
        graft.queries.TextOps.TA24_K,
        graft.queries.TextOps.TA24_PS).collect()
    }
    assert(ex.getMessage.contains("crossed domains")
      || (ex.getCause != null && ex.getCause.getMessage.contains("crossed domains")),
      s"expected the domain-tag guard, got: ${ex.getMessage}")
  }
}
