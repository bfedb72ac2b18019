package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{OverlappedTests, SparkSpec}

/** The retrieval-index standing-state family (ta18/pp26's continuous
  * twin): the (doc_id, tok, tf) table advanced append-only per batch,
  * BM25 searched with query-time statistics, forgotten by exact row
  * deletion. Search must equal ta18 over exactly the
  * arrived-and-not-forgotten docs at every step. */
class TfStateSpec extends AnyFunSuite with SparkSpec
    with OverlappedTests {

  test("tf maintainer: bm25 == ta18 over arrivals; replay dedups; redelivery no-op; forget == survivors; re-ingest blocked; idempotent") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val all = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    def df(b: Seq[(Long, String)]) = b.toDF("doc_id", "text")
    def want(b: Seq[(Long, String)]) = graft.queries.TextOps.bm25TopK(
        graft.queries.TextOps.tfRollup(df(b)).localCheckpoint(true))
      .collect().map(_.toSeq.toList).toList

    val root = Files.createTempDirectory("tf-state").toString
    val (tfT, docT) = (s"$root/tf", s"$root/docs")
    for (b <- Seq(all.take(150), all.drop(150)))
      Streams.maintainState(df(b), docT, StateFamily.Tf -> tfT)
    def got() = Streams.bm25Snapshot(spark, tfT)
      .collect().map(_.toSeq.toList).toList
    assert(got() == want(all), "maintained bm25 != ta18 over the arrivals")
    assert(got().nonEmpty, "no results — vacuous")

    // crash replay: byte-identical tf rows land again THROUGH THE
    // PARTITIONED WRITE the maintainer uses (a raw root-level append
    // would land beside the pt= dirs, where Spark's partition discovery
    // silently ignores it — the pin would be vacuous), dedup collapses
    graft.queries.TextOps.tfRollup(df(all.drop(150)))
      .withColumn("pt", pmod($"doc_id", lit(Streams.TF_PARTITIONS.toLong)))
      .write.mode("append").partitionBy("pt").parquet(tfT)
    assert(spark.read.parquet(tfT).groupBy($"doc_id", $"tok").count()
      .filter($"count" > 1).count() > 0, "replay rows did not land — pin vacuous")
    assert(got() == want(all), "replayed tf rows double-counted")

    // redelivery of an already-seen batch is a no-op
    Streams.maintainState(df(all.take(150)), docT, StateFamily.Tf -> tfT)
    assert(got() == want(all), "redelivered batch re-rolled")

    // compaction collapses the duplicates, snapshot-invariant
    Streams.compactState(spark, docT, StateFamily.Tf -> tfT)
    assert(got() == want(all), "compaction drifted")
    assert(spark.read.parquet(tfT).groupBy($"doc_id", $"tok")
      .count().filter($"count" > 1).isEmpty, "duplicate rows survived compaction")

    // forget: every 5th doc plus a never-seen id (forward-block)
    val neverSeen = 3000000L
    val forgot = all.map(_._1).filter(_ % 5 == 0).toSet + neverSeen
    val fDf = forgot.toSeq.toDF("doc_id")
    Streams.forgetState(spark, fDf, docT, StateFamily.Tf -> tfT)
    val remaining = all.filter(t => !forgot.contains(t._1))
    assert(got() == want(remaining), "forget != ta18 over the survivors")
    // text nulled, ids kept
    assert(spark.read.parquet(docT).filter($"text".isNull)
      .select($"doc_id").collect().map(_.getLong(0)).toSet == forgot,
      "tombstone set != forgotten set")

    // re-ingest of forgotten docs (and the never-seen id) is a no-op

    Streams.maintainState(
      df(all.filter(t => forgot.contains(t._1)).take(10)
        :+ (neverSeen -> "resurrected text")), docT,
      StateFamily.Tf -> tfT)
    assert(got() == want(remaining), "a forgotten doc re-entered the index")

    // idempotent re-run
    Streams.forgetState(spark, fDf, docT, StateFamily.Tf -> tfT)
    assert(got() == want(remaining), "forget re-run diverged")
  }

  test("serving path: maintained dl table gives EXACTLY the derived-stats scores through ingest, replay, forget, and compaction") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val all = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    def df(b: Seq[(Long, String)]) = b.toDF("doc_id", "text")
    val workload = Seq((0L, all.head._2.split(' ').take(3).mkString(" ")),
      (1L, "beta gamma nosuchtokenanywhere")).toDF("query_id", "qtext")

    val root = Files.createTempDirectory("tf-serve").toString
    val (tfT, dlT, docT) = (s"$root/tf", s"$root/dl", s"$root/docs")
    for (b <- Seq(all.take(150), all.drop(150)))
      Streams.maintainState(df(b), docT, StateFamily.Tf -> tfT, StateFamily.Dl -> dlT)
    def derived() = Streams.bm25Snapshot(spark, tfT, workload, 4)
      .collect().map(_.toSeq.toList).toList
    def served() = Streams.bm25ServeSnapshot(spark, tfT, dlT, workload, 4)
      .collect().map(_.toSeq.toList).toList
    assert(served() == derived(), "serving path != derived-stats path")
    assert(served().nonEmpty, "no results — vacuous")
    // the dl materialize strategy is a pure reuse choice: the opt-in
    // localCheckpoint path must be bit-identical to the default rescan
    assert(Streams.bm25ServeSnapshot(spark, tfT, dlT, workload, 4,
        materialize = graft.queries.TextOps.localMaterialize)
      .collect().map(_.toSeq.toList).toList == served(),
      "dl localMaterialize strategy drifted from the rescan default")

    // crash replay: byte-identical rows land again in BOTH tables
    val rolled = graft.queries.TextOps.tfRollup(df(all.drop(150)))
      .localCheckpoint(true)
    rolled.withColumn("pt", pmod($"doc_id", lit(Streams.TF_PARTITIONS.toLong)))
      .write.mode("append").partitionBy("pt").parquet(tfT)
    rolled.groupBy($"doc_id").agg(sum($"tf").as("dl"))
      .withColumn("pt", pmod($"doc_id", lit(Streams.TF_PARTITIONS.toLong)))
      .write.mode("append").partitionBy("pt").parquet(dlT)
    assert(served() == derived(), "replayed rows drifted the serving path")

    // forget through the dl overload: both tables pruned, equality holds
    val forgot = all.map(_._1).filter(_ % 7 == 0).toSet
    Streams.forgetState(spark, forgot.toSeq.toDF("doc_id"), docT,
      StateFamily.Tf -> tfT, StateFamily.Dl -> dlT)
    assert(spark.read.parquet(dlT).filter($"doc_id".isin(forgot.toSeq: _*))
      .isEmpty, "forgotten dl rows survived")
    assert(served() == derived(), "serving path != derived path after forget")
    val wantRemaining = graft.queries.TextOps.bm25TopK(
      graft.queries.TextOps.tfRollup(df(all.filterNot(t => forgot(t._1))))
        .localCheckpoint(true), workload, 4)
      .collect().map(_.toSeq.toList).toList
    assert(served() == wantRemaining, "serve != from-scratch over survivors")

    // compaction of both tables is snapshot-invariant
    Streams.compactState(spark, docT, StateFamily.Tf -> tfT, StateFamily.Dl -> dlT)
    assert(served() == wantRemaining, "compaction drifted the serving path")
    assert(spark.read.parquet(dlT).groupBy($"doc_id").count()
      .filter($"count" > 1).isEmpty, "duplicate dl rows survived compaction")

    // idempotent forget re-run
    Streams.forgetState(spark, forgot.toSeq.toDF("doc_id"), docT,
      StateFamily.Tf -> tfT, StateFamily.Dl -> dlT)
    assert(served() == wantRemaining, "forget re-run diverged")

    // a tf row with NO dl row (ingest through a non-dl path while
    // serving through the maintained-dl one) must fail LOUDLY — the
    // silent alternative inflates df then drops the doc from scoring.
    // The stray doc's token must match the workload, or the prune
    // removes it before the guard and the pin is vacuous
    val strayId = 4000001L
    graft.queries.TextOps.tfRollup(Seq((strayId, "beta beta")).toDF("doc_id", "text"))
      .withColumn("pt", pmod($"doc_id", lit(Streams.TF_PARTITIONS.toLong)))
      .write.mode("append").partitionBy("pt").parquet(tfT)
    val e = intercept[Exception] {
      Streams.bm25ServeSnapshot(spark, tfT, dlT, workload, 4).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("no dl row")),
      s"wrong failure: ${messages(e).mkString(" | ")}")
  }

  test("tok-bucketed serving layout: planner-level bucket prune, scores exact, forget and compaction hold") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val all = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    def df(b: Seq[(Long, String)]) = b.toDF("doc_id", "text")
    val workload = Seq((0L, all.head._2.split(' ').take(2).mkString(" ")),
      (1L, "gamma nosuchtokenanywhere")).toDF("query_id", "qtext")

    val root = Files.createTempDirectory("tf-tok").toString
    val (tfT, dlT, tokT, docT) = (s"$root/tf", s"$root/dl", s"$root/tok", s"$root/docs")
    for (b <- Seq(all.take(150), all.drop(150)))
      Streams.maintainState(df(b), docT,
        StateFamily.Tf -> tfT, StateFamily.Dl -> dlT, StateFamily.TokTf -> tokT)
    def derived() = Streams.bm25Snapshot(spark, tfT, workload, 4)
      .collect().map(_.toSeq.toList).toList
    def servedTok() = Streams.bm25ServeTokSnapshot(spark, tokT, dlT, workload, 4)
      .collect().map(_.toSeq.toList).toList
    assert(servedTok() == derived(), "tok-bucketed serve != derived path")
    assert(servedTok().nonEmpty, "no results — vacuous")

    // the serve plan prunes the tok scan to the workload terms' buckets
    // at the PLANNER: the FileSourceScan must carry a PartitionFilters
    // entry on tb (an IN over the derived bucket values) — inputFiles
    // can't pin this (it lists the relation before pruning), the scan
    // node's own partition filters can
    val buckets = workload
      .select(explode(array_distinct(
        graft.functions.Text.tokens($"qtext"))).as("tok"))
      .select(pmod(graft.queries.QueryUtils.hex8($"tok"), lit(64L)).as("tb"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(buckets.size < 64, "workload hits every bucket — prune pin vacuous")
    val scanLines = Streams.bm25ServeTokSnapshot(spark, tokT, dlT, workload, 4)
      .queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains("PartitionFilters: [") && l.contains("tb#"))
      .toSeq
    assert(scanLines.nonEmpty, "no tb partition filter on any scan — bucket prune missing")
    assert(scanLines.exists(_.contains(" IN (")),
      s"tb partition filter is not the bucket IN list:\n${scanLines.mkString("\n")}")

    // forget through the tok overload: all three projections pruned
    val forgot = all.map(_._1).filter(_ % 9 == 0).toSet
    Streams.forgetState(spark, forgot.toSeq.toDF("doc_id"), docT,
      StateFamily.Tf -> tfT, StateFamily.Dl -> dlT, StateFamily.TokTf -> tokT)
    assert(spark.read.parquet(tokT).filter($"doc_id".isin(forgot.toSeq: _*))
      .isEmpty, "forgotten rows survived in the tok projection")
    val wantRemaining = graft.queries.TextOps.bm25TopK(
      graft.queries.TextOps.tfRollup(df(all.filterNot(t => forgot(t._1))))
        .localCheckpoint(true), workload, 4)
      .collect().map(_.toSeq.toList).toList
    assert(servedTok() == wantRemaining, "tok serve != from-scratch over survivors")

    // three-table compaction is snapshot-invariant and dedups the copy
    Streams.compactState(spark, docT,
      StateFamily.Tf -> tfT, StateFamily.Dl -> dlT, StateFamily.TokTf -> tokT)
    assert(servedTok() == wantRemaining, "compaction drifted the tok serve")
    assert(spark.read.parquet(tokT).groupBy($"doc_id", $"tok").count()
      .filter($"count" > 1).isEmpty, "duplicate rows survived tok compaction")
  }

  test("tok-projection forget is BUCKET-LOCAL: only the tb= buckets the forgotten doc's tokens select rewrite; result == fresh projection over survivors") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val all = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    def df(b: Seq[(Long, String)]) = b.toDF("doc_id", "text")
    val root = Files.createTempDirectory("tf-tok-local").toString
    val (tfT, dlT, tokT, docT) = (s"$root/tf", s"$root/dl", s"$root/tok", s"$root/docs")
    for (b <- Seq(all.take(150), all.drop(150)))
      Streams.maintainState(df(b), docT,
        StateFamily.Tf -> tfT, StateFamily.Dl -> dlT, StateFamily.TokTf -> tokT)

    def inventory(): Map[String, Set[(String, Long, Long)]] = {
      val base = new java.io.File(tokT)
      base.listFiles().filter(f => f.isDirectory && f.getName.startsWith("tb="))
        .map { d =>
          d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.length(), f.lastModified())).toSet
        }.toMap
    }
    val before = inventory()

    // victim: the doc with the FEWEST distinct tokens — the most
    // selective prune this corpus offers (and the pin that it IS a
    // prune: its buckets must be a strict subset of the live ones)
    val victim = spark.read.parquet(tfT).groupBy($"doc_id")
      .agg(countDistinct($"tok").as("nt")).orderBy($"nt", $"doc_id")
      .head().getLong(0)
    val expectedTbs = spark.read.parquet(tfT).filter($"doc_id" === victim)
      .select(Streams.tokBucket($"tok").cast("long").as("tb"))
      .distinct().collect().map(r => s"tb=${r.getLong(0)}").toSet
    assert(expectedTbs.nonEmpty && expectedTbs.size < before.size,
      s"victim $victim touches ${expectedTbs.size} of ${before.size} buckets — prune pin vacuous")

    Streams.forgetState(spark, Seq(victim).toDF("doc_id"), docT,
      StateFamily.Tf -> tfT, StateFamily.Dl -> dlT, StateFamily.TokTf -> tokT)
    val after = inventory()
    before.keys.filterNot(expectedTbs).foreach { d =>
      assert(after(d) == before(d),
        s"untouched tok bucket $d rewritten by a single-doc forget")
    }
    expectedTbs.foreach { d =>
      assert(after(d) != before(d), s"victim's tok bucket $d not rewritten")
    }
    // the surviving projection equals a fresh one over the survivors
    val got = spark.read.parquet(tokT)
      .select($"doc_id", $"tok", $"tf").distinct()
      .collect().map(_.toSeq.toList).toSet
    val want = graft.queries.TextOps.tfRollup(df(all.filter(_._1 != victim)))
      .select($"doc_id", $"tok", $"tf")
      .collect().map(_.toSeq.toList).toSet
    assert(got == want, "bucket-local forget drifted from a fresh projection")
  }

  test("tok-projection forget reads only the doc store: with the tf table gone, the projection still equals a fresh one over the survivors") {
    import spark.implicits._
    val all = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).take(50)
    val root = Files.createTempDirectory("tf-tok-alone").toString
    val (tfT, dlT, tokT, docT) = (s"$root/tf", s"$root/dl", s"$root/tok", s"$root/docs")
    Streams.maintainState(all.toSeq.toDF("doc_id", "text"), docT,
      StateFamily.Tf -> tfT, StateFamily.Dl -> dlT, StateFamily.TokTf -> tokT)
    // delete the doc-bucketed tf table: the touched tb buckets come from
    // the forgotten docs' own text in the store, not from the tf rows
    def rmRf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmRf)); f.delete(); ()
    }
    rmRf(new java.io.File(tfT))
    val victims = all.map(_._1).filter(_ % 3 == 0).toSet
    Streams.forgetState(spark, victims.toSeq.toDF("doc_id"), docT,
      StateFamily.Tf -> tfT, StateFamily.Dl -> dlT, StateFamily.TokTf -> tokT)
    val got = spark.read.parquet(tokT)
      .select($"doc_id", $"tok", $"tf").distinct()
      .collect().map(_.toSeq.toList).toSet
    val want = graft.queries.TextOps.tfRollup(
        all.filterNot(t => victims(t._1)).toSeq.toDF("doc_id", "text"))
      .collect().map(_.toSeq.toList).toSet
    assert(want.nonEmpty && victims.nonEmpty, "vacuous pin")
    assert(got == want, "tok projection != fresh projection over the survivors")
  }

  test("forgetTfState touches ONLY the forgotten ids' partitions — untouched partition files byte-identical in place") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val all = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    def df(b: Seq[(Long, String)]) = b.toDF("doc_id", "text")
    val root = Files.createTempDirectory("tf-parts").toString
    val (tfT, docT) = (s"$root/tf", s"$root/docs")
    for (b <- Seq(all.take(150), all.drop(150)))
      Streams.maintainState(df(b), docT, StateFamily.Tf -> tfT)

    // per-partition file inventory: (relative path, length, mtime)
    def inventory(): Map[String, Set[(String, Long, Long)]] = {
      val base = new java.io.File(tfT)
      base.listFiles().filter(f => f.isDirectory && f.getName.startsWith("pt="))
        .map { d =>
          d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.length(), f.lastModified())).toSet
        }.toMap
    }
    val before = inventory()
    assert(before.size > 1, "only one partition materialized — pin is vacuous")

    val victim = 10L
    Streams.forgetState(spark, Seq(victim).toDF("doc_id"), docT, StateFamily.Tf -> tfT)
    val after = inventory()
    val touched = s"pt=${victim % Streams.TF_PARTITIONS}"
    before.keys.filterNot(_ == touched).foreach { d =>
      assert(after(d) == before(d),
        s"untouched partition $d rewritten by a single-doc forget")
    }
    assert(after(touched) != before(touched),
      "the victim's partition was not rewritten")
    // and the snapshot is exact over the survivors
    assert(Streams.bm25Snapshot(spark, tfT)
      .collect().map(_.toSeq.toList).toList
      == graft.queries.TextOps.bm25TopK(
        graft.queries.TextOps.tfRollup(
          df(all.filter(_._1 != victim))).localCheckpoint(true))
      .collect().map(_.toSeq.toList).toList,
      "partition-pruned forget drifted from from-scratch")
  }
}
