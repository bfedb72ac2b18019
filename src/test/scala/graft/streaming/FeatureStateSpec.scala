package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The training-data standing-state family (ta19/pp27's continuous
  * twin): per-doc feature halves + labels advanced append-only, the
  * corpus-level LM derived at read, retrain over the snapshot. The
  * forget is exact WITH cross-doc effect: deleting a doc shifts the LM
  * every survivor's rare_pm derives from, and read-time assembly makes
  * that self-repairing. */
class FeatureStateSpec extends AnyFunSuite with SparkSpec {

  test("feature maintainer: snapshot == batch features+labels; retrain == ta19 kernel; replay dedups; forget shifts survivors' LM features exactly; re-ingest blocked; idempotent") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val all = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    def df(b: Seq[(Long, String)]) = b.toDF("doc_id", "text")
    def want(b: Seq[(Long, String)]) = {
      val docs = df(b)
      graft.queries.TextOps.qualityFeatures(docs)
        .join(graft.queries.TextOps.ruleLabels(docs), Seq("doc_id"))
        .collect().map(_.toSeq.toList).toSet
    }

    val root = Files.createTempDirectory("feat-state").toString
    val (tT, mT, lT, docT) = (s"$root/tstat", s"$root/m", s"$root/labels",
      s"$root/docs")
    for (b <- Seq(all.take(150), all.drop(150)))
      Streams.maintainState(df(b), docT,
        StateFamily.Tstat -> tT, StateFamily.M -> mT, StateFamily.Labels -> lT)
    def got() = Streams.trainingSnapshot(spark, tT, mT, lT)
      .collect().map(_.toSeq.toList).toSet
    assert(got() == want(all), "training frame != batch features over the arrivals")

    // retrain over the snapshot == ta19's kernel over the full corpus
    val gotTraj = graft.queries.TextOps.perceptronIterates(
      Streams.trainingSnapshot(spark, tT, mT, lT), 3)
    val wantTraj = graft.queries.TextOps.perceptronIterates(
      graft.queries.TextOps.qualityFeatures(df(all))
        .join(graft.queries.TextOps.ruleLabels(df(all)), Seq("doc_id")), 3)
    assert(gotTraj == wantTraj, "maintained retrain trajectory drifted from ta19")

    // crash replay: byte-identical per-doc rows land again THROUGH THE
    // PARTITIONED WRITE the maintainer uses (a raw root-level append
    // would be silently ignored by partition discovery — vacuous pin)
    val (bt, bm) = graft.queries.TextOps.qualityDeltas(df(all.drop(150)))
    def bucketed(b: org.apache.spark.sql.DataFrame) = b.withColumn("pt",
      pmod($"doc_id", lit(Streams.TF_PARTITIONS.toLong)))
    bucketed(bt).write.mode("append").partitionBy("pt").parquet(tT)
    bucketed(bm).write.mode("append").partitionBy("pt").parquet(mT)
    assert(spark.read.parquet(tT).groupBy($"doc_id").count()
      .filter($"count" > 1).count() > 0, "replay rows did not land — pin vacuous")
    assert(got() == want(all), "replayed delta rows double-counted")

    // redelivery of an already-seen batch is a no-op
    Streams.maintainState(df(all.take(150)), docT,
      StateFamily.Tstat -> tT, StateFamily.M -> mT, StateFamily.Labels -> lT)
    assert(got() == want(all), "redelivered batch re-rolled")

    // forget: every other row per source; the LM shifts, and at least
    // one SURVIVOR's feature row must change (the cross-doc effect the
    // read-time assembly self-repairs) while equality stays exact
    val neverSeen = 3000000L
    val forgot = all.map(_._1).filter(id => (id / 20) % 2 == 0).toSet + neverSeen
    val before = got()
    Streams.forgetState(spark, forgot.toSeq.toDF("doc_id"), docT,
      StateFamily.Tstat -> tT, StateFamily.M -> mT, StateFamily.Labels -> lT)
    val remaining = all.filter(t => !forgot.contains(t._1))
    assert(got() == want(remaining), "forget != batch features over the survivors")
    val survivorRowsBefore = before.filter(r =>
      !forgot.contains(r.head.asInstanceOf[Long]))
    assert(survivorRowsBefore != got(),
      "no survivor feature shifted — the LM cross-doc effect is untested")

    // re-ingest of forgotten docs (and the never-seen id) is a no-op

    Streams.maintainState(
      df(all.filter(t => forgot.contains(t._1)).take(10)
        :+ (neverSeen -> "resurrected text")), docT,
      StateFamily.Tstat -> tT, StateFamily.M -> mT, StateFamily.Labels -> lT)
    assert(got() == want(remaining), "a forgotten doc re-entered the state")

    // idempotent re-run
    Streams.forgetState(spark, forgot.toSeq.toDF("doc_id"), docT,
      StateFamily.Tstat -> tT, StateFamily.M -> mT, StateFamily.Labels -> lT)
    assert(got() == want(remaining), "forget re-run diverged")
  }

  test("forgetFeatureState touches ONLY the forgotten ids' partitions in all three tables; compactFeatures preserves the layout") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val all = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    def df(b: Seq[(Long, String)]) = b.toDF("doc_id", "text")
    val root = Files.createTempDirectory("feat-parts").toString
    val (tT, mT, lT, docT) = (s"$root/tstat", s"$root/m", s"$root/labels",
      s"$root/docs")
    for (b <- Seq(all.take(150), all.drop(150)))
      Streams.maintainState(df(b), docT,
        StateFamily.Tstat -> tT, StateFamily.M -> mT, StateFamily.Labels -> lT)

    def inventory(table: String): Map[String, Set[(String, Long, Long)]] = {
      val base = new java.io.File(table)
      base.listFiles().filter(f => f.isDirectory && f.getName.startsWith("pt="))
        .map { d =>
          d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.length(), f.lastModified())).toSet
        }.toMap
    }
    val tables = Seq(tT, mT, lT)
    val before = tables.map(t => t -> inventory(t)).toMap
    assert(before.values.forall(_.size > 1),
      "only one partition materialized — pin is vacuous")

    val victim = 10L
    Streams.forgetState(spark, Seq(victim).toDF("doc_id"), docT,
      StateFamily.Tstat -> tT, StateFamily.M -> mT, StateFamily.Labels -> lT)
    val touched = s"pt=${victim % Streams.TF_PARTITIONS}"
    tables.foreach { t =>
      val after = inventory(t)
      before(t).keys.filterNot(_ == touched).foreach { d =>
        assert(after(d) == before(t)(d),
          s"untouched partition $d of $t rewritten by a single-doc forget")
      }
      assert(after(touched) != before(t)(touched),
        s"the victim's partition of $t was not rewritten")
    }

    // compaction preserves the partitioned layout and the snapshot
    Streams.compactState(spark, docT,
      StateFamily.Tstat -> tT, StateFamily.M -> mT, StateFamily.Labels -> lT)
    tables.foreach(t => assert(inventory(t).nonEmpty,
      s"compaction flattened the pt layout of $t"))
    val want = {
      val docs = df(all.filter(_._1 != victim))
      graft.queries.TextOps.qualityFeatures(docs)
        .join(graft.queries.TextOps.ruleLabels(docs), Seq("doc_id"))
        .collect().map(_.toSeq.toList).toSet
    }
    assert(Streams.trainingSnapshot(spark, tT, mT, lT)
      .collect().map(_.toSeq.toList).toSet == want,
      "partition-pruned forget + compaction drifted from from-scratch")
  }
}
