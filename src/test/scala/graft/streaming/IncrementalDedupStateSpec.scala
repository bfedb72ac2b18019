package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** pp17's continuous loop: however the (doc_id, text) stream is split
  * into batches, the maintained (canon, raw)-granular stats — and the
  * canon-level report derived from them — must equal a from-scratch
  * dd15 over everything arrived, with the delta table APPEND-ONLY and
  * keeper_id min-combined across batches (the lifecycle legs are
  * StateFamilyContractSpec's). The corpus has no duplicates at this scale,
  * so the stream is seeded with exact clones AND canonical variants
  * (punctuation-wrapped copies: same canon_hash, different raw_hash)
  * placed in a DIFFERENT batch than their originals — without them the
  * cross-batch (sum, min) fold and the n_raw_variants derivation would
  * run entirely on singleton groups and verify nothing. */
class IncrementalDedupStateSpec extends AnyFunSuite with SparkSpec {

  private def dataFiles(dir: String) = graft.SparkSpec.dataFiles(dir)

  test("batch splits reproduce dd15 at every step; append-only; redelivery/crash-replay safe; keeper min-combines across batches; compaction invariant") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("inc-dedup").toString
    val (stT, docT) = (s"$root/stats", s"$root/docs")

    val base = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val maxId = base.map(_._1).max
    // exact clones (same raw hash) and canonical variants (punct/ws wrap:
    // same canon hash, new raw hash) of the 10 lowest-id docs
    val clones = base.take(10).zipWithIndex.map { case ((_, t), i) => (maxId + 1 + i, t) }
    val variants = base.take(10).zipWithIndex.map { case ((_, t), i) =>
      (maxId + 101 + i, "  " + t + " !!") }
    val all = base ++ clones ++ variants
    val allDf = all.toSeq.toDF("doc_id", "text")
    // descending split: the clones/variants (largest ids) arrive FIRST,
    // their originals (smallest ids) LAST — a spanning group's keeper
    // must therefore min-combine across batches to land on the original
    val sorted = all.sortBy(-_._1)
    val batches = Seq(sorted.take(60), sorted.slice(60, 300), sorted.drop(300))

    def arrived(ids: Set[Long]) = allDf.filter($"doc_id".isInCollection(ids))
    def report() = Streams.dedupSnapshot(spark, stT)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def direct(ids: Set[Long]) = graft.queries.TextOps.canonGroups(
        graft.queries.TextOps.canonRawStats(arrived(ids)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    var seen = Set.empty[Long]
    var afterPrev = Map.empty[String, (Long, Long)]
    for (b <- batches) {
      // an at-least-once upstream can repeat a doc WITHIN a micro-batch
      val withDup = b.toSeq ++ b.headOption
      Streams.maintainState(withDup.toDF("doc_id", "text"), docT,
        StateFamily.ExactDedup -> stT)
      seen ++= b.map(_._1)
      assert(report() == direct(seen))
      val now = dataFiles(stT).map { case (k, v) => (s"$stT/$k", v) }
      afterPrev.foreach { case (f, sig) =>
        assert(now.get(f).contains(sig),
          s"advance rewrote or dropped an earlier batch's file: $f")
      }
      afterPrev = now
    }
    // the seeded groups actually exercised the cross-batch machinery:
    // spanning canon groups exist, with multi-doc counts and multi-raw
    // variants, and their keeper is the ORIGINAL (lowest) id
    val fin = report()
    assert(fin.exists(_._2 > 1), "no multi-doc canon group")
    assert(fin.exists(_._4 > 1), "no multi-raw-variant canon group")
    val spanning = spark.read.parquet(stT)
      .groupBy($"canon_hash").agg(countDistinct($"batch_key").as("nb"))
      .filter($"nb" > 1).count()
    assert(spanning > 0, "no canon group spans batches; min-combine untested")
    base.take(10).foreach { case (id, _) =>
      assert(fin.exists(g => g._3 == id && g._2 >= 3),
        s"seeded group keeper not the original id $id") }

    // redelivery, crash replay, compaction and forget:
    // StateFamilyContractSpec
  }

  test("unicode mode: NFKC variants merge across batches under the same (sum, min) fold; ASCII mode keeps them distinct") {
    // The production-canonicalizer flow end to end: the SAME maintainer
    // with unicode = true must fold an NFKC variant arriving in a LATER
    // batch than its original into one canon group (keeper = the
    // original, min-combined across batches), while the default ASCII
    // flow on identical input keeps the pairs apart — the per-deployment
    // mode choice the maintainDedupState doc pins.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq(
      (1L, "The Quick Brown Fox"),
      (3L, "totally unrelated text body"),
      (5L, "finest ligature work"),
      // NFKC variants of 1 and 5: fullwidth forms / the fi ligature —
      // byte-distinct, ASCII-canon-distinct, NFKC-canon-equal
      (11L, "Ｔｈｅ Ｑｕｉｃｋ Ｂｒｏｗｎ Ｆｏｘ"),
      (15L, "ﬁnest ligature work"))
    val allDf = docs.toDF("doc_id", "text")
    // variants arrive FIRST (their ids are higher), originals later —
    // the unicode groups only land on the original keeper if the fold
    // min-combines across batches
    val b1 = docs.filter(_._1 > 10).toDF("doc_id", "text")
    val b2 = docs.filter(_._1 <= 10).toDF("doc_id", "text")

    def run(unicode: Boolean): Set[(String, Long, Long, Long)] = {
      val root = Files.createTempDirectory(s"inc-dedup-u$unicode").toString
      val (stT, docT) = (s"$root/stats", s"$root/docs")
      Streams.maintainState(b1, docT,
        (if (unicode) StateFamily.ExactDedupNfkc else StateFamily.ExactDedup) -> stT)
      Streams.maintainState(b2, docT,
        (if (unicode) StateFamily.ExactDedupNfkc else StateFamily.ExactDedup) -> stT)
      val rep = Streams.dedupSnapshot(spark, stT)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val direct = graft.queries.TextOps.canonGroups(
          graft.queries.TextOps.canonRawStats(allDf, unicode))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(rep == direct, s"maintained snapshot != from-scratch (unicode=$unicode)")
      rep
    }

    val uni = run(unicode = true)
    // both NFKC pairs merged, keeper = the ORIGINAL (lower id, later
    // batch), each group counting its two raw variants
    assert(uni.exists(g => g._2 == 2 && g._3 == 1L && g._4 == 2),
      s"fullwidth pair did not merge on the original: $uni")
    assert(uni.exists(g => g._2 == 2 && g._3 == 5L && g._4 == 2),
      s"ligature pair did not merge on the original: $uni")
    assert(uni.size == 3)

    val ascii = run(unicode = false)
    // identical input, default mode: every doc is its own canon group
    assert(ascii.size == 5 && ascii.forall(_._2 == 1),
      s"ASCII mode unexpectedly merged NFKC variants: $ascii")
  }
}
