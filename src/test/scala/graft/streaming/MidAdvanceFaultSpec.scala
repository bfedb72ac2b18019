package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The forget/repair families have a full crash-window matrix, but a
  * MULTI-TABLE ADVANCE relied on the redelivery/guard argument alone.
  * This spec crashes the postings advance that writes THREE tables
  * (drop-delta, sums, postings) before its first write and between each
  * pair of its writes — a
  * [[Crash]] family placed among the advance's families fails inside its
  * append — verifies the window is REAL (some tables advanced, others
  * did not), and pins that a plain re-run of the same
  * batch (what a checkpointed stream redelivers on restart) converges
  * every snapshot to the no-crash state: the postings append is the
  * guard and goes last, so the replay recomputes byte-identical delta
  * rows under the same batch_key and the snapshots' dedup collapses
  * them. */
class MidAdvanceFaultSpec extends AnyFunSuite with SparkSpec {

  test("maintainIvfState: a crash between any two of its three table writes converges on plain re-run") {
    import spark.implicits._
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    def df(b: Seq[(Long, Seq[Float])]) = b.toSeq.toDF("vec_id", "embedding")
    val cents = graft.queries.VectorOps.ivfCentroids(
      graft.queries.VectorOps.normed(df(e.toIndexedSeq)))
    val a = e.filter(_._1 % 5 != 0).toIndexedSeq
    val b = e.filter(_._1 % 5 == 0).toIndexedSeq

    val post = StateFamily.postings(cents)
    def run(failAfterStep: Option[Int]): (String, String, String) = {
      val root = Files.createTempDirectory("ivf-fault").toString
      val (postT, sumsT, dropT) = (s"$root/post", s"$root/sums", s"$root/drops")
      val fams = Seq(StateFamily.SemDedupDrops -> dropT, StateFamily.IvfSums -> sumsT)
      Streams.maintainState(df(a), post, postT, fams: _*)
      failAfterStep match {
        case None => Streams.maintainState(df(b), post, postT, fams: _*)
        case Some(step) =>
          // the crash fails inside the append after the step + 1 deltas
          // the advance writes first (step −1: before any of them)
          val (landed, rest) = fams.splitAt(step + 1)
          val crash = Crash(StateFamily.Postings, s"injected crash after step $step")
          val err = intercept[Exception] {
            Streams.maintainState(df(b), post, postT,
              landed ++ ((crash -> s"$root/crash") +: rest): _*)
          }
          assert(Crash.carries(err, s"after step $step"))
          // the window is REAL — the crash left a torn multi-table state
          val bIds = b.map(_._1)
          // the advance's batch_key is min over the FRESH (nonzero-norm)
          // rows — mirror that here or the window pins probe a dead key
          val bKey = b.filter(_._2.exists(_ != 0.0f)).map(_._1).min
          val sumsHasB = spark.read.parquet(sumsT)
            .filter($"batch_key" === bKey).limit(1).count() > 0
          val postHasB = spark.read.parquet(postT)
            .filter($"vec_id".isin(bIds: _*)).limit(1).count() > 0
          assert(!postHasB, s"window $step vacuous: the guard already moved")
          if (step == -1) assert(spark.read.parquet(dropT).filter($"batch_key" === bKey)
            .isEmpty, "window -1: the drop delta landed before the crash point")
          if (step == 0) assert(!sumsHasB,
            "window 0 vacuous: sums advanced before the crash point")
          if (step == 1) assert(sumsHasB,
            "window 1 vacuous: sums did not advance before the crash point")
          // restart-from-checkpoint: the stream redelivers the SAME batch
          // through the production entry point
          Streams.maintainState(df(b), post, postT, fams: _*)
      }
      (postT, sumsT, dropT)
    }

    def key(t: (String, String, String)): (Set[(Long, Long)], Seq[Seq[Any]], Seq[Seq[Any]]) = {
      val (postT, sumsT, dropT) = t
      (spark.read.parquet(postT).filter($"cid" >= 0)
        .select($"cid", $"vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
        Streams.ivfSumsSnapshot(spark, sumsT)
          .collect().map(_.toSeq.toList).toIndexedSeq,
        Streams.semDedupSnapshot(spark, dropT)
          .collect().map(_.toSeq.toList).toIndexedSeq)
    }
    val reference = key(run(None))
    for (step <- -1 to 1) {
      val got = key(run(Some(step)))
      assert(got._1 == reference._1, s"window $step: postings drifted")
      assert(got._2 == reference._2, s"window $step: sums snapshot drifted")
      assert(got._3 == reference._3, s"window $step: drop snapshot drifted")
    }
    // and the reference itself is exact: sums == one full-corpus rollup,
    // postings == full assignment (the advance's own contract — keeps
    // the convergence pins above honest against a correct target)
    val full = graft.queries.VectorOps.assignCells(
      graft.queries.VectorOps.normed(df(e.toIndexedSeq)), cents)
    assert(reference._1 == full.select($"cid", $"vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      "reference postings != full assignment")
    assert(reference._2 == graft.queries.VectorOps.cellDimSums(full)
      .orderBy($"cid", $"dim")
      .select($"cid", $"dim", $"n_vectors", $"sum_q")
      .collect().map(_.toSeq.toList).toIndexedSeq,
      "reference sums != full-corpus rollup")
  }
}
