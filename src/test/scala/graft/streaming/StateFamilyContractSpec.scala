package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{OverlappedTests, SparkSpec}

/** The [[StateFamily]] contract, checked once over every registered
  * family on its folded state ([[Streams.foldState]], the input of every
  * family read view): (1) redelivering an ingested batch is a no-op,
  * (2) a crash after the delta landed but before the guard did converges
  * on replay, (3) a compaction run while that batch is pending changes
  * nothing — the state equals a from-scratch build over every arrival —
  * (4) forget equals a from-scratch build over the survivors, and (5)
  * forgetting again, re-ingesting the forgotten ids (a never-seen one
  * included) and compacting change nothing. Families that share a
  * doc-store payload run in groups through the same maintainState/
  * compactState/forgetState calls, the multi-family shape a deployment
  * runs; the groups run overlapped ([[graft.OverlappedTests]]). The
  * family specs pin each read view against its catalog oracle. */
class StateFamilyContractSpec extends AnyFunSuite with SparkSpec
    with OverlappedTests {

  /** A store group: its families and their table names. */
  private val groups = Seq(
    "text store: vocab, LM, CMS cells" -> Seq(StateFamily.Vocab -> "vocab",
      StateFamily.Lm -> "lm", StateFamily.CmsCells -> "cells"),
    "text store: exact dedup, chunk" -> Seq(
      StateFamily.ExactDedup -> "xstats", StateFamily.Chunk -> "chunks"),
    "source store: mix" -> Seq(StateFamily.Mix -> "counts"),
    "source+text store: hll" -> Seq(StateFamily.Hll -> "regs"),
    "source+v store: quantile" -> Seq(StateFamily.Quantile -> "qs"),
    "text store: tf, dl, tok" -> Seq(StateFamily.Tf -> "tf",
      StateFamily.Dl -> "dl", StateFamily.TokTf -> "tok"),
    "text store: tstat, m, labels" -> Seq(StateFamily.Tstat -> "tstat",
      StateFamily.M -> "m", StateFamily.Labels -> "labels"))

  /** 40 generated docs (5 sources, a few with no measurement) plus
    * clones of the 4 lowest ids arriving in the later batch (cross-batch
    * duplicate groups whose keepers the forget must repair), and one
    * never-ingested ghost row. */
  private val corpus = {
    val words = Vector("spark", "table", "merge", "query", "window", "stream",
      "vector", "hash", "scan", "join", "sort", "batch", "guard", "delta")
    val base = (1L to 40L).map { id =>
      // shared words plus one token of the doc's own, so every forget
      // moves some source's distinct-token set
      val text = ((0 until 4 + (id % 9).toInt)
        .map(i => words(((id * 7 + i * i * 3) % words.size).toInt)) :+ s"w$id")
        .mkString(" ")
      (id, s"src${id % 5}", text, if (id % 11 == 0) None else Some(id * 13 % 97))
    }
    val clones = base.take(4).map { case (id, s, t, v) => (id + 100, s, t, v) }
    (base, clones, (1000L, "src0", "ghost text never counted", Option(7L)))
  }

  for ((name, fams) <- groups) test(s"$name: redelivery no-op; crash-replay converges; compaction invariant; forget == survivors build; forget idempotent") {
    contract(fams)
  }

  private def contract(fams: Seq[(StateFamily, String)]): Unit = {
    import spark.implicits._
    val (base, clones, ghost) = corpus
    val payload = fams.head._1.payload.map(_._1)
    val docs = (base ++ clones :+ ghost).toDF("doc_id", "source", "text", "v")
      .select(("doc_id" +: payload).map(col): _*).localCheckpoint(true)
    val ids = (base ++ clones).map(_._1)
    val (b0, b1) = (base.take(25).map(_._1), base.drop(25).map(_._1) ++ clones.map(_._1))
    // keepers of two clone groups, every 7th id, and the ghost
    val forgot = (base.take(2).map(_._1) ++ ids.filter(_ % 7 == 0) :+ ghost._1).distinct
    def rows(ids: Seq[Long]) = docs.filter($"doc_id".isin(ids: _*))
    def newRoot(tag: String): String => String = {
      val r = Files.createTempDirectory(s"contract-$tag").toString
      t => s"$r/$t"
    }
    def tables(t: String => String) = fams.map { case (f, n) => f -> t(n) }
    def ingest(t: String => String, ids: Seq[Long]): Unit =
      Streams.maintainState(rows(ids), t("docs"), tables(t): _*)
    def compact(t: String => String): Unit =
      Streams.compactState(spark, t("docs"), tables(t): _*)
    def forget(t: String => String): Unit =
      Streams.forgetState(spark, forgot.toDF("doc_id"), t("docs"), tables(t): _*)
    def folded(t: String => String): Seq[Seq[String]] = fams.map { case (f, n) =>
      Streams.foldState(spark, f, t(n)).collect().map(_.toString).sorted.toSeq }
    def files(t: String => String) =
      ("docs" +: fams.map(_._2)).map(n => graft.SparkSpec.dataFiles(t(n)))
    def check(got: Seq[Seq[String]], want: Seq[Seq[String]], what: String): Unit =
      fams.zip(got.zip(want)).foreach { case ((_, n), (g, w)) =>
        assert(g == w, s"$n: $what") }

    // (2) crash: b1's deltas landed (the rows the advance writes, under
    // the same key), its guard append did not — an advance whose guard
    // goes to a throwaway store; (3) a compaction runs while it is
    // pending; then b1 redelivers
    val t = newRoot("a")
    ingest(t, b0)
    Streams.maintainState(rows(b1), t("crashed-guard"), tables(t): _*)
    compact(t)
    ingest(t, b1)
    // (1) redelivery of an ingested batch writes nothing
    val f0 = files(t)
    ingest(t, b1)
    assert(files(t) == f0, "redelivery wrote to a standing table")
    val all = newRoot("b")
    ingest(all, ids)
    val s0 = folded(all)
    fams.zip(s0).foreach { case ((_, n), s) => assert(s.nonEmpty, s"$n: empty") }
    check(folded(t), s0, "crash replay across a compaction != from-scratch build")

    // (4) forget == a from-scratch build over the survivors; a bucketed
    // table's buckets that hold no forgotten row keep their files
    def bucketFiles(n: String, b: String) = new java.io.File(t(n)).listFiles()
      .filter(_.getName.startsWith(s"$b=")).map(d => d.getName ->
        d.listFiles().map(f => (f.getName, f.lastModified())).toSet).toMap
    val bucketed = fams.flatMap { case (f, n) => f.bucket.map(b => (n, b.name)) }
    val filesBefore = bucketed.map { case (n, b) => n -> bucketFiles(n, b) }.toMap
    val holding = bucketed.map { case (n, b) => n -> spark.read.parquet(t(n))
      .filter($"doc_id".isin(forgot: _*)).select(col(b).cast("string"))
      .distinct().collect().map(r => s"$b=${r.getString(0)}").toSet }.toMap
    forget(t)
    bucketed.foreach { case (n, b) =>
      val untouched = filesBefore(n).keySet -- holding(n)
      assert(untouched.nonEmpty, s"$n: every bucket holds a forgotten row — pin vacuous")
      untouched.foreach { d => assert(bucketFiles(n, b).get(d) == filesBefore(n).get(d),
        s"$n: bucket $d holds no forgotten row but was rewritten") }
    }
    val w = newRoot("c")
    ingest(w, ids.filterNot(forgot.toSet))
    val s1 = folded(w)
    check(folded(t), s1, "forget != from-scratch build over the survivors")
    assert(s1 != s0, "forget was vacuous")

    // (5) a second forget, re-ingest of the forgotten ids (the ghost
    // included) and a post-forget compaction change nothing; every sum
    // key is committed by now, so the compaction folds each table to the
    // reserved key alone, and an idempotent table to its own fold
    forget(t)
    ingest(t, forgot)
    compact(t)
    check(folded(t), s1, "forget re-run, re-ingest or compaction moved the state")
    fams.foreach { case (f, n) =>
      f.fold match {
        case _: StateFamily.Sum =>
          assert(spark.read.parquet(t(n)).select("batch_key").distinct().count() == 1,
            s"$n: compaction left committed keys unfolded")
        case _: StateFamily.Idempotent =>
          assert(spark.read.parquet(t(n)).count() ==
            Streams.foldState(spark, f, t(n)).count(), s"$n: compaction left rows unfolded")
      }
    }
  }
}
