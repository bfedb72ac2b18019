package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** pp22's continuous loop: however the document stream is split into
  * batches, the kept prefix derived from the maintained eligible-rows
  * journal must equal sa10's full recompute over everything arrived —
  * with the journal APPEND-ONLY, past-cut arrivals never journaled,
  * redelivery a no-op, a crashed half-advance repaired by replay, and
  * compaction (which drops eviction history past the cut) leaving the
  * snapshot unchanged. */
class IncrementalBudgetStateSpec extends AnyFunSuite with SparkSpec {

  private def dataFiles(dir: String) = graft.SparkSpec.dataFiles(dir)
  private val B = 600L

  test("batch splits reproduce sa10's kept prefix at every step; append-only; past-cut drops; redelivery/crash safe; compaction invariant") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("inc-budget").toString
    val (eligT, docT) = (s"$root/elig", s"$root/docs")

    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"source", $"text").localCheckpoint(true)
    val all = docs.select($"doc_id").collect().map(_.getLong(0)).sorted
    val batches = Seq(all.take(40), all.slice(40, 300), all.drop(300))

    def arrived(ids: Set[Long]) = docs.filter($"doc_id".isInCollection(ids))
    def keptSet(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"source", $"n_tokens", $"running")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
    def snap() = keptSet(Streams.budgetKeptSnapshot(spark, eligT, B))
    def direct(ids: Set[Long]) = keptSet(graft.queries.SampleOps.budgetKept(
      graft.queries.SampleOps.budgetFrame(arrived(ids)), B))

    var seen = Set.empty[Long]
    var afterPrev = Map.empty[String, (Long, Long)]
    for (b <- batches) {
      // at-least-once upstream: an in-batch duplicate must not
      // double-count its tokens into any running total
      val ids = b.toSet
      val withDup = arrived(ids).unionByName(arrived(Set(b.head)))
      Streams.maintainBudgetState(withDup, eligT, docT, B)
      seen ++= ids
      assert(snap() == direct(seen), s"snapshot drifted after batch of ${b.length}")
      val now = dataFiles(eligT).map { case (k, v) => (s"$eligT/$k", v) }
      afterPrev.foreach { case (f, sig) =>
        assert(now.get(f).contains(sig),
          s"advance rewrote or dropped an earlier batch's journal file: $f")
      }
      afterPrev = now
    }
    assert(snap().nonEmpty)

    // journal rows may sit past the CURRENT cut (eviction history from
    // when the cut sat farther out — a later small-key arrival moved
    // it), but no such row may ever be in the kept prefix: the cut
    // witness precedes it in order, so its journal running total already
    // exceeds the budget
    val cuts = Streams.budgetCutSnapshot(spark, eligT, B)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val journalKeys = spark.read.parquet(eligT).select($"doc_id", $"key")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    snap().foreach { case (id, src, _, run) =>
      assert(run <= B)
      cuts.get(src).foreach { case (ck, cd) =>
        val key = journalKeys(id)
        assert(key < ck || (key == ck && id <= cd),
          s"kept doc $id sits at/past source $src's cut marker")
      }
    }

    // redelivery of a whole ingested batch: nothing changes (doc guard)
    val s0 = snap()
    Streams.maintainBudgetState(arrived(batches(1).toSet), eligT, docT, B)
    assert(snap() == s0)

    // compaction folds eviction history without moving the snapshot
    val preCompact = spark.read.parquet(eligT).count()
    Streams.compactBudget(spark, eligT, docT, B)
    assert(snap() == s0)
    assert(spark.read.parquet(eligT).select("batch_key").distinct().count() == 1)
    assert(spark.read.parquet(eligT).count() <= preCompact)
    // and the flow continues after compaction: an empty-effect advance
    Streams.maintainBudgetState(arrived(batches(0).toSet), eligT, docT, B)
    assert(snap() == s0)

    // partial-crash replay on a fresh root: the journal delta landed but
    // the doc-guard append didn't — the replay recomputes rows under the
    // same batch_key (possibly fewer: the cut may have advanced) and the
    // snapshot's doc_id dedup collapses them; tokens never double-count.
    val root2 = Files.createTempDirectory("inc-budget-crash").toString
    val (eligT2, docT2) = (s"$root2/elig", s"$root2/docs")
    Streams.maintainBudgetState(arrived(batches(0).toSet), eligT2, docT2, B)
    val fresh2 = graft.queries.SampleOps.budgetFrame(arrived(batches(1).toSet))
      .localCheckpoint(true)
    Streams.budgetDelta(fresh2, eligT2, B).write.mode("append").parquet(eligT2)
    // a compaction while the crashed batch is pending must keep its
    // uncommitted rows under their own key
    Streams.compactBudget(spark, eligT2, docT2, B)
    assert(spark.read.parquet(eligT2)
      .filter($"batch_key" =!= Long.MinValue).count() > 0,
      "compaction folded a pending batch's journal rows")
    Streams.maintainBudgetState(arrived(batches(1).toSet), eligT2, docT2, B)
    def snap2() = keptSet(Streams.budgetKeptSnapshot(spark, eligT2, B))
    assert(snap2() == direct(batches(0).toSet ++ batches(1)),
      "crash replay double-counted or lost rows")
  }

  test("in-batch repeats whose payload columns disagree journal ONE of the arriving rows") {
    import spark.implicits._
    val root = Files.createTempDirectory("inc-budget-dup").toString
    val (eligT, docT) = (s"$root/elig", s"$root/docs")
    // source order and text order disagree: a per-column max would
    // journal ("b", 1 token), a row neither delivery carried
    Streams.maintainBudgetState(
      Seq((7L, "a", "x"), (7L, "b", "one two three"))
        .toDF("doc_id", "source", "text"), eligT, docT, B)
    val got = spark.read.parquet(eligT).select($"source", $"n_tokens")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got.size == 1 && Set(("a", 1L), ("b", 3L)).contains(got.head),
      s"journal row $got is not one of the arriving rows")
  }

  test("budgetStateStream: live MemoryStream feed matches the batch twin") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val root = Files.createTempDirectory("budget-stream").toString
    val (eligT, docT) = (s"$root/elig", s"$root/docs")
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"source", $"text").localCheckpoint(true)
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val q = Streams.startMaintainer(mem.toDF().toDF("doc_id", "source", "text"),
      None)((b, _) => Streams.maintainBudgetState(b, eligT, docT, B))
    try {
      rows.grouped(200).foreach { g => mem.addData(g.toSeq); q.processAllAvailable() }
    } finally q.stop()
    val got = Streams.budgetKeptSnapshot(spark, eligT, B)
      .select($"doc_id", $"running").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.queries.SampleOps.budgetKept(
        graft.queries.SampleOps.budgetFrame(docs), B)
      .select($"doc_id", $"running").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }
}
