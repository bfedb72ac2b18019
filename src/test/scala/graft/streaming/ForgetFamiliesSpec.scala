package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{OverlappedTests, SparkSpec}

/** Round-12 deletion-propagation members: perceptual, containment-index,
  * chunk-dedup, exact-dedup-stats, and token-budget forgets. Each family's
  * post-forget state must match a FROM-SCRATCH ingest of the survivors
  * through the same maintainer (exactly for the id-granular and
  * decrement+repair families; over the surviving journal for budget),
  * with re-ingest blocked and the job idempotent. The crafted trio
  * (1000005 forgotten keeper, 1000011/1000013 surviving byte-identical
  * copies) pins the keeper-repair path non-vacuously. */
class ForgetFamiliesSpec extends AnyFunSuite with SparkSpec
    with OverlappedTests {
  import org.apache.spark.sql.functions._

  private val trioText = (1 to 40).map(i => s"zzforget$i").mkString(" ")
  private def corpus() = {
    import spark.implicits._
    (graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      ++ Seq(1000005L -> trioText, 1000011L -> trioText, 1000013L -> trioText))
      .sortBy(_._1)
  }
  private def df(b: Seq[(Long, String)]) = {
    import spark.implicits._
    b.toDF("doc_id", "text")
  }
  private val neverSeen = 3000000L
  private def forgotOf(all: Seq[(Long, String)]) =
    all.map(_._1).filter(_ % 5 == 0).toSet + neverSeen

  test("forgetPerceptualState: sigs+pairs == from-scratch over survivors; re-ingest blocked; idempotent") {
    import spark.implicits._
    val all = corpus()
    val root = Files.createTempDirectory("forget-perc").toString
    val (sigT, prT, docT) = (s"$root/sigs", s"$root/pairs", s"$root/docs")
    for (b <- Seq(all.take(200), all.drop(200)))
      Streams.maintainPerceptualState(df(b), sigT, prT, docT)
    val forgot = forgotOf(all)
    Streams.forgetPerceptualState(spark, forgot.toSeq.toDF("doc_id"), sigT, prT, docT)

    val remaining = all.filter(t => !forgot.contains(t._1))
    val (sigR, prR, docR) = (s"$root/sigsR", s"$root/pairsR", s"$root/docsR")
    Streams.maintainPerceptualState(df(remaining), sigR, prR, docR)
    def sigs(t: String) = spark.read.parquet(t)
      .collect().map(_.toSeq.toList).toSet
    def pairs(t: String) = Streams.perceptualPairsSnapshot(spark, t)
      .collect().map(_.toSeq.toList).toSet
    assert(sigs(sigT) == sigs(sigR), "sig store != from-scratch over survivors")
    assert(pairs(prT) == pairs(prR), "pair log != from-scratch over survivors")
    assert(pairs(prT).nonEmpty, "no surviving pairs — vacuous")

    Streams.maintainPerceptualState(
      df(all.filter(t => forgot(t._1)).take(5)
        :+ (neverSeen -> trioText)), sigT, prT, docT)
    assert(sigs(sigT) == sigs(sigR), "a forgotten doc re-entered")
    Streams.forgetPerceptualState(spark, forgot.toSeq.toDF("doc_id"), sigT, prT, docT)
    assert(sigs(sigT) == sigs(sigR) && pairs(prT) == pairs(prR), "re-run diverged")
  }

  test("forgetContainmentState: store+probes+pairs == from-scratch over survivors; re-ingest blocked; idempotent") {
    import spark.implicits._
    val all = corpus()
    val root = Files.createTempDirectory("forget-cont").toString
    val (stT, pbT, prT, docT) = (s"$root/store", s"$root/probes",
      s"$root/pairs", s"$root/docs")
    for (b <- Seq(all.take(200), all.drop(200)))
      Streams.maintainContainmentIndex(df(b), stT, pbT, prT, docT)
    val forgot = forgotOf(all)
    Streams.forgetContainmentState(spark, forgot.toSeq.toDF("doc_id"),
      stT, pbT, prT, docT)

    val remaining = all.filter(t => !forgot.contains(t._1))
    val (stR, pbR, prR, docR) = (s"$root/storeR", s"$root/probesR",
      s"$root/pairsR", s"$root/docsR")
    Streams.maintainContainmentIndex(df(remaining), stR, pbR, prR, docR)
    def rows(t: String) = spark.read.parquet(t)
      .collect().map(_.toSeq.toList).toSet
    def pairs(t: String) = Streams.containmentPairsSnapshot(spark, t)
      .collect().map(_.toSeq.toList).toSet
    assert(rows(stT) == rows(stR), "shingle store drifted")
    assert(rows(pbT) == rows(pbR), "probe store drifted")
    assert(pairs(prT) == pairs(prR), "pair log drifted")
    assert(pairs(prT).nonEmpty, "no surviving pairs — vacuous")

    Streams.maintainContainmentIndex(
      df(all.filter(t => forgot(t._1)).take(5)), stT, pbT, prT, docT)
    assert(rows(stT) == rows(stR), "a forgotten doc re-entered")
    Streams.forgetContainmentState(spark, forgot.toSeq.toDF("doc_id"),
      stT, pbT, prT, docT)
    assert(pairs(prT) == pairs(prR), "re-run diverged")
  }

  test("forgetChunkState: report == from-scratch over survivors; forgotten keeper repaired; re-ingest blocked; idempotent") {
    import spark.implicits._
    val all = corpus()
    val root = Files.createTempDirectory("forget-chunk").toString
    val (stT, docT) = (s"$root/stats", s"$root/docs")
    for (b <- Seq(all.take(200), all.drop(200)))
      Streams.maintainState(df(b), docT, StateFamily.Chunk -> stT)
    val forgot = forgotOf(all)
    assert(forgot(1000005L) && !forgot(1000011L))
    Streams.forgetState(spark, forgot.toSeq.toDF("doc_id"), docT,
      StateFamily.Chunk -> stT)

    val remaining = all.filter(t => !forgot.contains(t._1))
    val (stR, docR) = (s"$root/statsR", s"$root/docsR")
    Streams.maintainState(df(remaining), docR, StateFamily.Chunk -> stR)
    def rep(t: String) = Streams.chunkReportSnapshot(spark, t)
      .collect().map(_.toSeq.toList).toSet
    assert(rep(stT) == rep(stR), "chunk report != from-scratch over survivors")
    // the trio's digests survive with the REPAIRED keeper (1000005 was
    // the min holder; 1000011 must replace it)
    val trioKeepers = Streams.chunkReportSnapshot(spark, stT)
      .filter($"keeper_id" >= 1000000L)
      .select($"keeper_id").distinct().collect().map(_.getLong(0)).toSet
    assert(trioKeepers == Set(1000011L),
      s"forgotten keeper not repaired to the min survivor: $trioKeepers")

    Streams.maintainState(df(all.filter(t => forgot(t._1)).take(5)
        :+ (neverSeen -> trioText)), docT, StateFamily.Chunk -> stT)
    assert(rep(stT) == rep(stR), "a forgotten doc re-entered")
    Streams.compactState(spark, docT, StateFamily.Chunk -> stT)
    assert(rep(stT) == rep(stR), "compaction drifted")
    Streams.forgetState(spark, forgot.toSeq.toDF("doc_id"), docT,
      StateFamily.Chunk -> stT)
    assert(rep(stT) == rep(stR), "re-run diverged")
  }

  test("forgetExactDedupState: canon report == from-scratch over survivors; forgotten keeper repaired; re-ingest blocked; idempotent") {
    import spark.implicits._
    val all = corpus()
    val root = Files.createTempDirectory("forget-xdedup").toString
    val (stT, docT) = (s"$root/stats", s"$root/docs")
    for (b <- Seq(all.take(200), all.drop(200)))
      Streams.maintainState(df(b), docT, StateFamily.ExactDedup -> stT)
    val forgot = forgotOf(all)
    Streams.forgetState(spark, forgot.toSeq.toDF("doc_id"), docT,
      StateFamily.ExactDedup -> stT)

    val remaining = all.filter(t => !forgot.contains(t._1))
    val (stR, docR) = (s"$root/statsR", s"$root/docsR")
    Streams.maintainState(df(remaining), docR, StateFamily.ExactDedup -> stR)
    def rep(t: String) = Streams.dedupSnapshot(spark, t)
      .collect().map(_.toSeq.toList).toSet
    assert(rep(stT) == rep(stR), "canon report != from-scratch over survivors")
    // the trio's cell survives with keeper repaired 1000005 → 1000011
    val trioKeepers = Streams.dedupSnapshot(spark, stT)
      .filter($"keeper_id" >= 1000000L)
      .select($"keeper_id").distinct().collect().map(_.getLong(0)).toSet
    assert(trioKeepers == Set(1000011L),
      s"forgotten keeper not repaired to the min survivor: $trioKeepers")

    Streams.maintainState(df(all.filter(t => forgot(t._1)).take(5)
        :+ (neverSeen -> trioText)), docT, StateFamily.ExactDedup -> stT)
    assert(rep(stT) == rep(stR), "a forgotten doc re-entered")
    Streams.compactState(spark, docT, StateFamily.ExactDedup -> stT)
    assert(rep(stT) == rep(stR), "compaction drifted")
    Streams.forgetState(spark, forgot.toSeq.toDF("doc_id"), docT,
      StateFamily.ExactDedup -> stT)
    assert(rep(stT) == rep(stR), "re-run diverged")
  }

  test("forgetBudgetState: kept prefix == sa10 kernel over surviving journal (budget refills); re-ingest blocked; idempotent") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"source", $"text").localCheckpoint(true)
    val all = docs.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    def bdf(b: Seq[(Long, String, String)]) = b.toDF("doc_id", "source", "text")
    // ~700 tokens per 25-doc source at sf0.001×: a 400-token budget cuts
    // every source mid-journal, so the forget frees tokens a later
    // journaled doc can claim (the refill assertion's non-vacuousness)
    val budget = 400L
    val root = Files.createTempDirectory("forget-budget").toString
    val (elT, docT) = (s"$root/elig", s"$root/docs")
    // ONE batch: no cut exists at arrival, so EVERY doc is journaled and
    // the post-forget equality is exact (the eviction caveat is the
    // documented only-shrinks trade, not this test's subject)
    Streams.maintainBudgetState(bdf(all), elT, docT, budget)
    val keptBefore = Streams.budgetKeptSnapshot(spark, elT, budget)
      .collect().map(_.getLong(0)).toSet

    // source = doc_id % 20 in this corpus, so an id-modulus forget would
    // remove WHOLE sources (no refill to observe). Forget alternating
    // rows WITHIN each source instead: every source keeps members and
    // frees roughly half its tokens — far more than any one doc's
    // cut-boundary overshoot, so the refill assertion cannot be starved
    val forgot = all.map(_._1).filter(id => (id / 20) % 2 == 0).toSet + neverSeen
    assert(keptBefore.intersect(forgot).nonEmpty, "no kept doc forgotten — vacuous")
    Streams.forgetBudgetState(spark, forgot.toSeq.toDF("doc_id"), elT, docT)

    val remaining = all.filter(t => !forgot.contains(t._1))
    def got() = Streams.budgetKeptSnapshot(spark, elT, budget)
      .collect().map(_.toSeq.toList).toSet
    val want = graft.queries.SampleOps.budgetKept(
        graft.queries.SampleOps.budgetFrame(bdf(remaining)), budget)
      .collect().map(_.toSeq.toList).toSet
    assert(got() == want, "kept prefix != sa10 over the surviving journal")
    // the freed tokens admitted at least one doc that was past the old cut
    assert(got().map(_.head).diff(keptBefore.map(x => x: Any)).nonEmpty,
      "budget did not refill after the forget — vacuous")

    Streams.maintainBudgetState(
      bdf(all.filter(t => forgot(t._1)).take(5)
        :+ ((neverSeen, "srcX", "resurrected text"))), elT, docT, budget)
    assert(got() == want, "a forgotten doc re-entered the journal")
    Streams.forgetBudgetState(spark, forgot.toSeq.toDF("doc_id"), elT, docT)
    assert(got() == want, "re-run diverged")
  }
}
