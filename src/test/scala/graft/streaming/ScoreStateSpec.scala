package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{OverlappedTests, SparkSpec}

/** The perplexity-score standing-state family (ta17/pp25's continuous
  * twin): immutable scores under a frozen reference, advanced append-only
  * per batch, re-bucketed rank-only at read, forgotten by exact row
  * deletion. Snapshot must equal ta17's bucketing over exactly the
  * arrived-and-not-forgotten docs at every step. */
class ScoreStateSpec extends AnyFunSuite with SparkSpec
    with OverlappedTests {

  test("score maintainer: snapshot == ta17 over arrivals; replay dedups; redelivery no-op; forget == survivors; re-ingest blocked; idempotent") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"source", $"lang", $"text").localCheckpoint(true)
    val all = docs.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(_._1)
    def df(b: Seq[(Long, String, String, String)]) =
      b.toDF("doc_id", "source", "lang", "text")
    val root = Files.createTempDirectory("score-state").toString
    val (refT, scT, docT) = (s"$root/ref", s"$root/scores", s"$root/docs")

    // the once-offline frozen reference (ta17's refLmCounts over the
    // curated slice) — built BEFORE any batch arrives
    Streams.buildRefState(docs, refT)
    val ref = spark.read.parquet(refT).localCheckpoint(true)
    def want(b: Seq[(Long, String, String, String)]) =
      graft.queries.TextOps.refBuckets(
          graft.queries.TextOps.refSurprise(df(b), ref))
        .collect().map(_.toSeq.toList).toList
    def got() = Streams.scoreSnapshot(spark, scT)
      .collect().map(_.toSeq.toList).toList

    for (b <- Seq(all.take(150), all.drop(150)))
      Streams.maintainState(df(b), docT, StateFamily.score(refT) -> scT)
    assert(got() == want(all), "snapshot != ta17 bucketing over the arrivals")

    // crash replay: the SAME scored rows land again under the same key
    // (frozen reference ⇒ byte-identical) THROUGH THE PARTITIONED WRITE
    // the maintainer uses (a raw root-level append would be silently
    // ignored by partition discovery — vacuous pin) — dedup collapses
    val b2 = all.drop(150)
    StateFamily.score(refT).delta(new StateFamily.In(df(b2), b2.map(_._1).min))
      .withColumn("pt", pmod($"doc_id", lit(Streams.TF_PARTITIONS.toLong)))
      .write.mode("append").partitionBy("pt").parquet(scT)
    assert(spark.read.parquet(scT).groupBy($"batch_key", $"doc_id").count()
      .filter($"count" > 1).count() > 0, "replay rows did not land — pin vacuous")
    assert(got() == want(all), "replayed scored rows double-counted")

    // redelivery of a whole already-seen batch is a no-op
    Streams.maintainState(df(all.take(150)), docT, StateFamily.score(refT) -> scT)
    assert(got() == want(all), "redelivered batch re-scored")

    // compaction collapses the replay duplicates, snapshot-invariant
    Streams.compactState(spark, docT, StateFamily.Score -> scT)
    assert(got() == want(all), "compaction drifted")
    assert(spark.read.parquet(scT).groupBy($"batch_key", $"doc_id")
      .count().filter($"count" > 1).isEmpty, "duplicate rows survived compaction")

    // forget: every 5th doc plus a never-seen id (forward-block)
    val neverSeen = 3000000L
    val forgot = all.map(_._1).filter(_ % 5 == 0).toSet + neverSeen
    val fDf = forgot.toSeq.toDF("doc_id")
    Streams.forgetState(spark, fDf, docT, StateFamily.Score -> scT)
    val remaining = all.filter(t => !forgot.contains(t._1))
    assert(got() == want(remaining), "forget != ta17 over the survivors")

    // re-ingest of forgotten docs (and the never-seen id) is a no-op
    Streams.maintainState(df(all.filter(t => forgot.contains(t._1)).take(10)
        :+ ((neverSeen, "srcX", "en", "resurrected text"))), docT, StateFamily.score(refT) -> scT)
    assert(got() == want(remaining), "a forgotten doc re-entered the scores")

    // idempotent re-run
    Streams.forgetState(spark, fDf, docT, StateFamily.Score -> scT)
    assert(got() == want(remaining), "forget re-run diverged")
  }

  test("forgetScoreState touches ONLY the forgotten ids' partitions — untouched partition files byte-identical in place") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"source", $"lang", $"text").localCheckpoint(true)
    val all = docs.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(_._1)
    def df(b: Seq[(Long, String, String, String)]) =
      b.toDF("doc_id", "source", "lang", "text")
    val root = Files.createTempDirectory("score-parts").toString
    val (refT, scT, docT) = (s"$root/ref", s"$root/scores", s"$root/docs")
    Streams.buildRefState(docs, refT)
    for (b <- Seq(all.take(150), all.drop(150)))
      Streams.maintainState(df(b), docT, StateFamily.score(refT) -> scT)

    def inventory(): Map[String, Set[(String, Long, Long)]] = {
      val base = new java.io.File(scT)
      base.listFiles().filter(f => f.isDirectory && f.getName.startsWith("pt="))
        .map { d =>
          d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.length(), f.lastModified())).toSet
        }.toMap
    }
    val before = inventory()
    assert(before.size > 1, "only one partition materialized — pin is vacuous")

    val victim = 10L
    Streams.forgetState(spark, Seq(victim).toDF("doc_id"), docT, StateFamily.Score -> scT)
    val after = inventory()
    val touched = s"pt=${victim % Streams.TF_PARTITIONS}"
    before.keys.filterNot(_ == touched).foreach { d =>
      assert(after(d) == before(d),
        s"untouched partition $d rewritten by a single-doc forget")
    }
    assert(after(touched) != before(touched),
      "the victim's partition was not rewritten")
    // and the snapshot is exact over the survivors
    val ref = spark.read.parquet(refT).localCheckpoint(true)
    assert(Streams.scoreSnapshot(spark, scT)
      .collect().map(_.toSeq.toList).toList
      == graft.queries.TextOps.refBuckets(
        graft.queries.TextOps.refSurprise(
          df(all.filter(_._1 != victim)), ref))
      .collect().map(_.toSeq.toList).toList,
      "partition-pruned forget drifted from from-scratch")
  }

  test("a pre-layout FLAT score table migrates atomically on the first partitioned advance — no silent row loss") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"source", $"lang", $"text").localCheckpoint(true)
    val all = docs.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(_._1)
    def df(b: Seq[(Long, String, String, String)]) =
      b.toDF("doc_id", "source", "lang", "text")
    val root = Files.createTempDirectory("score-migrate").toString
    val (refT, scT, docT) = (s"$root/ref", s"$root/scores", s"$root/docs")
    Streams.buildRefState(docs, refT)
    val ref = spark.read.parquet(refT).localCheckpoint(true)

    // the legacy state: a FLAT scores table + guard, exactly what the
    // pre-layout maintainer wrote
    val b1 = all.take(150)
    StateFamily.score(refT).delta(new StateFamily.In(df(b1), b1.map(_._1).min))
      .write.parquet(scT)
    b1.map(_._1).toSeq.toDF("doc_id").write.parquet(docT)

    // first new-layout advance: without migration the pt= dirs would
    // shadow the flat rows and the old docs would vanish from reads
    Streams.maintainState(df(all.drop(150)), docT, StateFamily.score(refT) -> scT)
    assert(spark.read.parquet(scT).columns.contains("pt"),
      "table did not migrate to the partitioned layout")
    val want = graft.queries.TextOps.refBuckets(
        graft.queries.TextOps.refSurprise(df(all), ref))
      .collect().map(_.toSeq.toList).toList
    assert(Streams.scoreSnapshot(spark, scT)
      .collect().map(_.toSeq.toList).toList == want,
      "pre-layout rows lost across the migration")
    // and the partition-pruned forget works on the migrated table
    Streams.forgetState(spark, Seq(10L).toDF("doc_id"), docT, StateFamily.Score -> scT)
    assert(Streams.scoreSnapshot(spark, scT)
      .collect().map(_.toSeq.toList).toList
      == graft.queries.TextOps.refBuckets(
        graft.queries.TextOps.refSurprise(
          df(all.filter(_._1 != 10L)), ref))
      .collect().map(_.toSeq.toList).toList,
      "forget over the migrated table drifted")
  }

  test("conflicting in-batch duplicate rows collapse to ONE arriving row, never a synthesized (source, text) combination") {
    import spark.implicits._
    val root = Files.createTempDirectory("score-dup").toString
    val (refT, scT, docT) = (s"$root/ref", s"$root/scores", s"$root/docs")
    val refDocs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"source", $"lang", $"text")
    Streams.buildRefState(refDocs, refT)
    val ref = spark.read.parquet(refT).localCheckpoint(true)

    // per-column max would synthesize (src_b, "zz zz zz") — a row that
    // arrived in NEITHER duplicate; the struct max picks (src_b, "aa aa")
    val batch = Seq(
      (7L, "src_b", "en", "aa aa"),
      (7L, "src_a", "en", "zz zz zz")).toDF("doc_id", "source", "lang", "text")
    Streams.maintainState(batch, docT, StateFamily.score(refT) -> scT)
    val scored = spark.read.parquet(scT)
      .select($"doc_id", $"source", $"score")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(scored.length == 1, s"expected one scored row, got ${scored.toList}")
    val wantRow = graft.queries.TextOps.refSurprise(
        Seq((7L, "src_b", "aa aa")).toDF("doc_id", "source", "text"), ref)
      .select($"doc_id", $"source", $"score")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(scored.toList == wantRow.toList,
      "duplicate collapse scored a text against a source it never arrived with")
  }
}
