package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{OverlappedTests, SparkSpec}
import graft.queries.VectorOps

/** Deletion propagation: after forgetState over the postings and codes
  * stores, every maintained
  * vector table must equal a from-scratch build over the corpus WITHOUT
  * the forgotten ids — with the ids tombstoned (redelivery AND future
  * ingest blocked), the job idempotent, and a crash between the repairs
  * and the postings swap repaired by re-running. */
class ForgetStateSpec extends AnyFunSuite with SparkSpec
    with OverlappedTests {

  test("forget == from-scratch without the ids; tombstones block re-ingest; idempotent; crash converges") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("forget").toString
    val (postT, sumsT, codesT) = (s"$root/post", s"$root/sums", s"$root/codes")
    val (postG, graphT) = (s"$root/postg", s"$root/graph")

    val e0 = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val zeroId = 999999L
    val all = e0 :+ (zeroId -> Seq.fill(e0.head._2.length)(0.0f))
    def df(b: Seq[(Long, Seq[Float])]) = b.toDF("vec_id", "embedding")
    val normedAll = VectorOps.normed(df(all)).localCheckpoint(true)
    val cents = VectorOps.ivfCentroids(normedAll).localCheckpoint(true)
    val book = VectorOps.pqBookRows(normedAll)
    val (post, codes) =
      (StateFamily.postings(cents), StateFamily.pqCodes(cents, VectorOps.pqOf(book)))

    for (b <- Seq(all.take(200), all.drop(200))) {
      Streams.maintainState(df(b), post, postT,
        StateFamily.IvfSums -> sumsT)
      Streams.maintainState(df(b), codes, codesT)
      Streams.maintainState(df(b), post, postG,
        StateFamily.KnnGraph -> graphT)
    }

    // forget: every 7th real id, plus the zero-norm sentinel, plus an
    // id never seen (forward-blocks an in-flight arrival)
    val neverSeen = 3000000L
    val forgot = e0.map(_._1).filter(_ % 7 == 0).toSet + zeroId + neverSeen
    val fDf = forgot.toSeq.toDF("vec_id")
    Streams.forgetState(spark, fDf, codes, codesT)
    Streams.forgetState(spark, fDf, postT, StateFamily.IvfSums -> sumsT)
    Streams.forgetState(spark, fDf, postG, StateFamily.KnnGraph -> graphT)

    val remaining = all.filter(t => !forgot.contains(t._1))
    val remNormed = VectorOps.normed(df(remaining)).localCheckpoint(true)
    val remAssigned = VectorOps.assignCells(remNormed, cents).localCheckpoint(true)

    def realPost(t: String) = spark.read.parquet(t).filter($"cid" >= 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantPost = remAssigned.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(realPost(postT) == wantPost, "postings != from-scratch without the ids")
    assert(realPost(postG) == wantPost, "graph-family postings drifted")

    val wantCodes = VectorOps.pqCodesPostings(remNormed, cents, VectorOps.pqOf(book))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    assert(spark.read.parquet(codesT).filter($"cid" >= 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
      == wantCodes, "codes != from-scratch without the ids")

    assert(Streams.ivfSumsSnapshot(spark, sumsT)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      == VectorOps.cellDimSums(remAssigned)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet,
      "sums != from-scratch without the ids")

    def graphRows() = Streams.knnGraphSnapshot(spark, graphT)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getDouble(4))).toSet
    val wantGraph = VectorOps.knnGraph(remAssigned, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getDouble(4))).toSet
    assert(graphRows() == wantGraph, "graph != from-scratch without the ids")

    // tombstones: forgotten ids sit at cid −2 in both postings tables
    // and the codes table — and block BOTH redelivery and fresh ingest
    val tombs = spark.read.parquet(postT).filter($"cid" === -2L)
      .collect().map(_.getLong(1)).toSet
    assert(tombs == forgot, "tombstone set != forgotten set")
    val someForgot = forgot.filter(_ != neverSeen).take(5).toSeq
    val reIngest = df(all.filter(t => someForgot.contains(t._1)) ++
      Seq(neverSeen -> e0.head._2))
    Streams.maintainState(reIngest, post, postT,
      StateFamily.IvfSums -> sumsT)
    Streams.maintainState(reIngest, codes, codesT)
    Streams.maintainState(reIngest, post, postG,
      StateFamily.KnnGraph -> graphT)
    assert(realPost(postT) == wantPost && realPost(postG) == wantPost
      && graphRows() == wantGraph, "a forgotten id re-entered the state")

    // idempotent re-run
    Streams.forgetState(spark, fDf, codes, codesT)
    Streams.forgetState(spark, fDf, postT, StateFamily.IvfSums -> sumsT)
    assert(realPost(postT) == wantPost)

    // crash: repairs landed, postings swap lost — re-running the full
    // job converges to the same end state
    val root2 = Files.createTempDirectory("forget-crash").toString
    val (postT2, sumsT2, codesT2) = (s"$root2/post", s"$root2/sums", s"$root2/codes")
    for (b <- Seq(all.take(200), all.drop(200))) {
      Streams.maintainState(df(b), post, postT2,
        StateFamily.IvfSums -> sumsT2)
      Streams.maintainState(df(b), codes, codesT2)
    }
    // the codes store's forget and the sums rebuild landed; the postings
    // tombstone swap went to a copy of the store, so the real one is
    // untouched
    spark.read.parquet(postT2).write.parquet(s"$root2/post-copy")
    Streams.forgetState(spark, fDf, codes, codesT2)
    Streams.forgetState(spark, fDf, s"$root2/post-copy", StateFamily.IvfSums -> sumsT2)
    Streams.forgetState(spark, fDf, codes, codesT2)
    Streams.forgetState(spark, fDf, postT2, StateFamily.IvfSums -> sumsT2)
    assert(realPost(postT2) == wantPost, "crash replay diverged")
    assert(spark.read.parquet(codesT2).filter($"cid" >= 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
      == wantCodes)
  }

  test("forgetCountState: vocab+LM == from-scratch over survivors; replay dedups; pending decrements survive compaction; re-ingest blocked; idempotent") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // two crafted docs with corpus-unique tokens (ids % 5 == 0, so they
    // are forgotten below): their tokens/bigrams must net to ZERO and
    // vanish from every snapshot — the non-vacuousness witness
    val all = (graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      ++ Seq(1000005L -> "zzzghosttoken zzzghosttoken zzzothertok",
        1000010L -> "zzzlonely zzzghosttoken")).sortBy(_._1)
    def df(b: Seq[(Long, String)]) = b.toDF("doc_id", "text")

    val root = Files.createTempDirectory("forget-counts").toString
    val (vocT, docV) = (s"$root/vocab", s"$root/docsv")
    val (lmT, docL) = (s"$root/lm", s"$root/docsl")
    for (b <- Seq(all.take(200), all.drop(200))) {
      Streams.maintainState(df(b), docV, StateFamily.Vocab -> vocT)
      Streams.maintainState(df(b), docL, StateFamily.Lm -> lmT)
    }

    val neverSeen = 3000000L
    val forgot = all.map(_._1).filter(_ % 5 == 0).toSet + neverSeen
    val fDf = forgot.toSeq.toDF("doc_id")
    Streams.forgetState(spark, fDf, docV, StateFamily.Vocab -> vocT)
    Streams.forgetState(spark, fDf, docL, StateFamily.Lm -> lmT)

    val remaining = all.filter(t => !forgot.contains(t._1))
    def vocabWant() = graft.queries.TextOps.vocabTop(
        graft.queries.TextOps.vocabCounts(df(remaining)))
      .collect().map(_.toSeq.toList).toList
    def lmWant() = graft.queries.TextOps.lmTop(
        graft.queries.TextOps.bigramCounts(df(remaining)))
      .collect().map(_.toSeq.toList).toList
    def vocabGot() = Streams.vocabSnapshot(spark, vocT)
      .collect().map(_.toSeq.toList).toList
    def lmGot() = Streams.lmSnapshot(spark, lmT)
      .collect().map(_.toSeq.toList).toList
    assert(vocabGot() == vocabWant(), "vocab snapshot != from-scratch over survivors")
    assert(lmGot() == lmWant(), "LM snapshot != from-scratch over survivors")

    // non-vacuous: some token existed only in forgotten docs (its net
    // count is zero and it must be invisible)
    val goneDocs = all.filter(t => forgot.contains(t._1))
    val zeroToks = graft.queries.TextOps.vocabCounts(df(goneDocs))
      .join(graft.queries.TextOps.vocabCounts(df(remaining)), Seq("tok"), "left_anti")
    assert(!zeroToks.isEmpty, "no token hit net zero — test is vacuous")

    // the decrement is one negative key, O(deleted) rows appended
    val negKeys = spark.read.parquet(vocT).select($"batch_key")
      .filter($"batch_key" < 0).distinct().collect().map(_.getLong(0)).toSet
    assert(negKeys.size == 1 && negKeys.head == -goneDocs.map(_._1).min - 1)

    // crash-replay: the SAME decrement rows land again under the same
    // key — the snapshots' (batch_key, key) dedup collapses them
    val goneDf = df(goneDocs)
    StateFamily.Vocab.delta(new StateFamily.In(goneDf, negKeys.head))
      .select($"batch_key", $"tok", (-$"df").as("df"), (-$"cf").as("cf"))
      .write.mode("append").parquet(vocT)
    assert(vocabGot() == vocabWant(), "replayed decrement double-counted")

    // re-ingest of forgotten docs (and the never-seen id) is a no-op
    Streams.maintainState(df(goneDocs.take(10) ++ Seq(neverSeen -> "resurrected text")),
      docV, StateFamily.Vocab -> vocT)
    Streams.maintainState(df(goneDocs.take(10) ++ Seq(neverSeen -> "resurrected text")),
      docL, StateFamily.Lm -> lmT)
    assert(vocabGot() == vocabWant() && lmGot() == lmWant(),
      "a forgotten doc re-entered the counts")

    // compaction folds the committed decrement (doc store tombstoned =
    // the commit witness): one reserved key, no net-zero rows, equal
    Streams.compactState(spark, docV, StateFamily.Vocab -> vocT)
    Streams.compactState(spark, docL, StateFamily.Lm -> lmT)
    assert(vocabGot() == vocabWant() && lmGot() == lmWant(), "compaction drifted")
    val keysAfter = spark.read.parquet(vocT).select($"batch_key")
      .distinct().collect().map(_.getLong(0)).toSet
    assert(keysAfter == Set(Long.MinValue), s"unfolded keys survive: $keysAfter")
    assert(spark.read.parquet(vocT).filter($"cf" === 0L && $"df" === 0L).count() == 0,
      "net-zero token rows survived compaction")

    // idempotent re-run after everything
    Streams.forgetState(spark, fDf, docV, StateFamily.Vocab -> vocT)
    assert(vocabGot() == vocabWant())

    // PENDING protection: decrements appended but the doc swap lost —
    // compaction must NOT fold them (the commit witness is absent), and
    // re-running the forget must converge via dedup
    val root2 = Files.createTempDirectory("forget-counts-crash").toString
    val (vocT2, docV2) = (s"$root2/vocab", s"$root2/docs")
    for (b <- Seq(all.take(200), all.drop(200)))
      Streams.maintainState(df(b), docV2, StateFamily.Vocab -> vocT2)
    StateFamily.Vocab.delta(new StateFamily.In(goneDf.filter($"doc_id" =!= neverSeen), negKeys.head))
      .select($"batch_key", $"tok", (-$"df").as("df"), (-$"cf").as("cf"))
      .write.mode("append").parquet(vocT2)
    Streams.compactState(spark, docV2, StateFamily.Vocab -> vocT2)
    val pendingKeys = spark.read.parquet(vocT2).select($"batch_key")
      .filter($"batch_key" < 0 && $"batch_key" =!= Long.MinValue)
      .distinct().count()
    assert(pendingKeys == 1, "uncommitted decrement was folded — dedup evidence destroyed")
    Streams.forgetState(spark, fDf, docV2, StateFamily.Vocab -> vocT2)
    assert(Streams.vocabSnapshot(spark, vocT2)
      .collect().map(_.toSeq.toList).toList == vocabWant(),
      "crash replay diverged")
    Streams.compactState(spark, docV2, StateFamily.Vocab -> vocT2)
    assert(Streams.vocabSnapshot(spark, vocT2)
      .collect().map(_.toSeq.toList).toList == vocabWant(),
      "post-replay compaction drifted")
  }

  test("forgetMixState: counts+rates == from-scratch over survivors; net-zero source invisible; replay dedups; compaction folds; re-ingest blocked; idempotent") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // two crafted docs carry a corpus-unique source and both are
    // forgotten (ids % 5 == 0): the source must net to ZERO and vanish
    // from every snapshot — the non-vacuousness witness
    val all = (graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"source")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      ++ Seq(1000005L -> "zzonly", 1000010L -> "zzonly")).sortBy(_._1)
    def df(b: Seq[(Long, String)]) = b.toDF("doc_id", "source")

    val root = Files.createTempDirectory("forget-mix").toString
    val (cntT, docT) = (s"$root/counts", s"$root/docs")
    for (b <- Seq(all.take(200), all.drop(200)))
      Streams.maintainState(df(b), docT, StateFamily.Mix -> cntT)

    val neverSeen = 3000000L
    val forgot = all.map(_._1).filter(_ % 5 == 0).toSet + neverSeen
    val fDf = forgot.toSeq.toDF("doc_id")
    Streams.forgetState(spark, fDf, docT, StateFamily.Mix -> cntT)

    val remaining = all.filter(t => !forgot.contains(t._1))
    def countsWant() = df(remaining).groupBy($"source")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    def countsGot() = Streams.mixCountsSnapshot(spark, cntT)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    def ratesGot() = Streams.mixRatesSnapshot(spark, cntT)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    def ratesWant() = graft.queries.SampleOps.mixRates(
        df(remaining).groupBy($"source").agg(count(lit(1)).as("n")))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(countsGot() == countsWant(), "mix counts != from-scratch over survivors")
    assert(ratesGot() == ratesWant(), "mix rates != from-scratch over survivors")
    assert(!countsGot().exists(_._1 == "zzonly"), "net-zero source still visible")

    // crash-replay of the decrement dedups under its key
    val goneDocs = all.filter(t => forgot.contains(t._1))
    val negKey = -goneDocs.map(_._1).min - 1L
    StateFamily.Mix.delta(new StateFamily.In(df(goneDocs), negKey))
      .select($"batch_key", $"source", (-$"n").as("n"))
      .write.mode("append").parquet(cntT)
    assert(countsGot() == countsWant(), "replayed decrement double-counted")

    // re-ingest of forgotten docs (and the never-seen id) is a no-op
    Streams.maintainState(df(goneDocs.take(10) ++ Seq(neverSeen -> "resurrected")),
      docT, StateFamily.Mix -> cntT)
    assert(countsGot() == countsWant(), "a forgotten doc re-entered the counts")

    // compaction folds the committed decrement (null-source tombstones =
    // the commit witness): reserved key only, no net-zero rows
    Streams.compactState(spark, docT, StateFamily.Mix -> cntT)
    assert(countsGot() == countsWant() && ratesGot() == ratesWant(),
      "compaction drifted")
    val keysAfter = spark.read.parquet(cntT).select($"batch_key")
      .distinct().collect().map(_.getLong(0)).toSet
    assert(keysAfter == Set(Long.MinValue), s"unfolded keys survive: $keysAfter")
    assert(spark.read.parquet(cntT).filter($"n" === 0L).count() == 0,
      "net-zero source rows survived compaction")

    // idempotent re-run
    Streams.forgetState(spark, fDf, docT, StateFamily.Mix -> cntT)
    assert(countsGot() == countsWant())
  }

  test("forgetSpanState: report == spanDedup over survivors; shared→unique crossing repaired; net-zero span folds; re-ingest blocked; idempotent") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // crafted docs pin the two crossing cases the repair exists for:
    // A (survivor) shares its ONLY span with B (forgotten) — after the
    // forget the span is unique again and A must VANISH from the
    // snapshot (n_dup_spans 1 → 0); C and D (both forgotten) share a
    // corpus-unique span that must net to zero in the counts
    val span1 = (1 to 8).map(i => s"qq$i").mkString(" ")
    val span2 = (1 to 8).map(i => s"rr$i").mkString(" ")
    val all = (graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      ++ Seq(1000001L -> span1, 1000005L -> span1,
        1000010L -> span2, 1000015L -> span2)).sortBy(_._1)
    def df(b: Seq[(Long, String)]) = b.toDF("doc_id", "text")

    val root = Files.createTempDirectory("forget-span").toString
    val (grT, cnT, rpT, docT) = (s"$root/grams", s"$root/counts",
      s"$root/report", s"$root/docs")
    for (b <- Seq(all.take(200), all.drop(200)))
      Streams.maintainSpanState(df(b), grT, cnT, rpT, docT)

    val neverSeen = 3000000L
    val forgot = all.map(_._1).filter(_ % 5 == 0).toSet + neverSeen
    assert(forgot(1000005L) && forgot(1000010L) && forgot(1000015L)
      && !forgot(1000001L), "crafted crossing ids landed on the wrong side")
    val fDf = forgot.toSeq.toDF("doc_id")
    Streams.forgetSpanState(spark, fDf, grT, cnT, rpT, docT)

    val remaining = all.filter(t => !forgot.contains(t._1))
    def want() = graft.queries.TextOps.spanDedup(df(remaining))
      .collect().map(_.toSeq.toList).toList
    def got() = Streams.spanSnapshot(spark, rpT)
      .collect().map(_.toSeq.toList).toList
    assert(got() == want(), "span report != spanDedup over the survivors")
    assert(!got().exists(_.head == 1000001L),
      "survivor of a shared→unique crossing still reported as dup'd")

    // grams of forgotten docs deleted; survivors' grams intact
    val gramIds = spark.read.parquet(grT).select($"doc_id")
      .distinct().collect().map(_.getLong(0)).toSet
    assert(gramIds.intersect(forgot).isEmpty, "forgotten grams survive")
    assert(gramIds(1000001L), "survivor grams deleted")

    // re-ingest of forgotten docs (and the never-seen id) is a no-op
    Streams.maintainSpanState(
      df(all.filter(t => forgot.contains(t._1)).take(10)
        ++ Seq(neverSeen -> span2)), grT, cnT, rpT, docT)
    assert(got() == want(), "a forgotten doc re-entered the span state")

    // compaction folds the committed repair (tombstones = the witness):
    // reserved key only, the C/D span's net-zero count row dropped
    Streams.compactSpanCounts(spark, cnT, docT)
    Streams.compactSpanReport(spark, rpT, docT)
    assert(got() == want(), "compaction drifted")
    assert(spark.read.parquet(cnT).select($"batch_key").distinct()
      .collect().map(_.getLong(0)).toSet == Set(Long.MinValue))
    val span2h = graft.queries.TextOps.spanStore(Seq(1L -> span2).toDF("doc_id", "text"))
      .select($"h").head().getLong(0)
    assert(spark.read.parquet(cnT).filter($"h" === span2h).isEmpty,
      "net-zero span count row survived compaction")

    // a later advance over the repaired state still equals from-scratch:
    // a NEW doc re-shares A's span — A must come back as dup'd
    val late = Seq(2000003L -> span1)
    Streams.maintainSpanState(df(late), grT, cnT, rpT, docT)
    assert(got() == graft.queries.TextOps.spanDedup(df(remaining ++ late))
      .collect().map(_.toSeq.toList).toList,
      "post-forget advance diverged from from-scratch")
    assert(got().exists(_.head == 1000001L), "re-shared span not re-dup'd")

    // idempotent re-run
    Streams.forgetSpanState(spark, fDf, grT, cnT, rpT, docT)
    assert(got() == graft.queries.TextOps.spanDedup(df(remaining ++ late))
      .collect().map(_.toSeq.toList).toList, "forget re-run diverged")
  }

  test("forgetSpanState: a crashed forget's PENDING decrement cannot fake a crossing for a witness-disjoint request") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // A, B, C share one span (nd = 3). Job J1 forgets {B} and CRASHES
    // right after its counts decrement (no deletes, no swap). Job J2
    // then forgets {C} — B is NOT in J2's request, so the rollback
    // (witness-keyed) leaves J1's pending rows; a fold that summed them
    // would see nd 3−1 = 2, detect a FALSE shared→unique crossing, and
    // permanently over-decrement A once J2's swap commits. The
    // committed-only fold must keep the snapshot exact after J2, after
    // J1's re-run (where the crossing IS real), and after compaction.
    val span1 = (1 to 8).map(i => s"pp$i").mkString(" ")
    val all = (graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      ++ Seq(1000001L -> span1, 1000002L -> span1, 1000003L -> span1))
      .sortBy(_._1)
    def df(b: Seq[(Long, String)]) = b.toDF("doc_id", "text")
    val root = Files.createTempDirectory("forget-span-pending").toString
    val (grT, cnT, rpT, docT) = (s"$root/grams", s"$root/counts",
      s"$root/report", s"$root/docs")
    Streams.maintainSpanState(df(all), grT, cnT, rpT, docT)

    def got() = Streams.spanSnapshot(spark, rpT)
      .collect().map(_.toSeq.toList).toList
    def want(ids: Set[Long]) = graft.queries.TextOps.spanDedup(
        df(all.filter(t => !ids(t._1))))
      .collect().map(_.toSeq.toList).toList

    // J1 crash: its counts decrement lands under key −1000002−1
    graft.queries.TextOps.spanStore(df(Seq(1000002L -> span1)))
      .groupBy($"h").agg((-count(lit(1))).as("nd"))
      .select(lit(-1000003L).as("batch_key"), $"h", $"nd")
      .write.mode("append").parquet(cnT)

    // J2: witness-disjoint request {C}
    Streams.forgetSpanState(spark, Seq(1000003L).toDF("doc_id"),
      grT, cnT, rpT, docT)
    assert(got() == want(Set(1000003L)),
      "a pending foreign decrement faked a crossing")
    assert(got().exists(_.head == 1000001L),
      "survivor A lost its dup status while B is still present")

    // J1 re-run to completion: NOW the crossing is real (A alone holds)
    Streams.forgetSpanState(spark, Seq(1000002L).toDF("doc_id"),
      grT, cnT, rpT, docT)
    assert(got() == want(Set(1000002L, 1000003L)), "J1's re-run diverged")
    assert(!got().exists(_.head == 1000001L),
      "A still reported dup'd after both sharers are gone")

    // compaction (both witnesses tombstoned) commits exactly this state
    Streams.compactSpanCounts(spark, cnT, docT)
    Streams.compactSpanReport(spark, rpT, docT)
    assert(got() == want(Set(1000002L, 1000003L)), "compaction drifted")
  }

  test("forgetCountState: crashed forget + OVERLAPPING different request rolls back pending rows — no key mixing, no foreign commit") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // five docs with disjoint token sets so any drift is visible per doc
    val all = Seq(
      10L -> "alpha alpha beta",
      11L -> "beta gamma",
      12L -> "delta delta delta",
      13L -> "epsilon alpha",
      14L -> "zeta zeta")
    def df(b: Seq[(Long, String)]) = b.toDF("doc_id", "text")
    def want(ids: Set[Long]) = graft.queries.TextOps.vocabTop(
        graft.queries.TextOps.vocabCounts(df(all.filter(t => ids(t._1)))))
      .collect().map(_.toSeq.toList).toList

    val root = Files.createTempDirectory("forget-overlap").toString
    val (vocT, docT) = (s"$root/vocab", s"$root/docs")
    Streams.maintainState(df(all), docT, StateFamily.Vocab -> vocT)
    def got() = Streams.vocabSnapshot(spark, vocT)
      .collect().map(_.toSeq.toList).toList

    // job 1 CRASHES before its swap: gone G1 = {10, 12}, key −10−1 = −11
    // — decrements for doc 12's tokens are now pending in the table
    StateFamily.Vocab.delta(new StateFamily.In(df(all.filter(t => Set(10L, 12L)(t._1))), -11L))
      .select($"batch_key", $"tok", (-$"df").as("df"), (-$"cf").as("cf"))
      .write.mode("append").parquet(vocT)

    // job 2: a DIFFERENT overlapping request {10, 13} — same min ⇒ same
    // key without the rollback; its swap tombstones 10 (job 1's witness)
    Streams.forgetState(spark, Seq(10L, 13L).toDF("doc_id"), docT,
      StateFamily.Vocab -> vocT)

    // job 1's pending rows must be GONE (rolled back), so the snapshot
    // is exactly from-scratch over {11, 12, 14} — doc 12 undecremented
    assert(got() == want(Set(11L, 12L, 14L)),
      "overlapping forget mixed or leaked the crashed job's decrements")
    // compaction with witness 10 tombstoned must not commit anything
    // beyond job 2's own decrements
    Streams.compactState(spark, docT, StateFamily.Vocab -> vocT)
    assert(got() == want(Set(11L, 12L, 14L)),
      "compaction committed the crashed job's foreign decrements")

    // the crashed request re-run to completion: gone is now just {12}
    Streams.forgetState(spark, Seq(10L, 12L).toDF("doc_id"), docT,
      StateFamily.Vocab -> vocT)
    assert(got() == want(Set(11L, 14L)), "re-run of the crashed request diverged")
  }

  test("forgetDedupState: pair-flow == from-scratch ingest of the remaining corpus; text nulled; no ghost buckets; re-ingest blocked; idempotent") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def tables(root: String) = (s"$root/index", s"$root/pairs", s"$root/shingles",
      s"$root/labels", s"$root/buckets", s"$root/remap", s"$root/docs")
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text").localCheckpoint(true)
    val all = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    def df(b: Seq[(Long, String)]) = b.toDF("doc_id", "text")

    val root = java.nio.file.Files.createTempDirectory("forget-dedup").toString
    val (idxT, prT, shT, lbT, bkT, rmT, docT) = tables(root)
    for (b <- Seq(all.take(200), all.drop(200)))
      Streams.maintainDedupState(df(b), idxT, prT, shT, lbT, bkT, rmT, docT)

    val neverSeen = 3000000L
    val forgot = all.map(_._1).filter(_ % 5 == 0).toSet + neverSeen
    val fDf = forgot.toSeq.toDF("doc_id")
    Streams.forgetDedupState(spark, fDf, idxT, prT, shT, lbT, bkT, docT)

    // pair-flow state == a from-scratch ingest of the remaining corpus
    // through the same maintainer
    val remaining = all.filter(t => !forgot.contains(t._1))
    val root2 = java.nio.file.Files.createTempDirectory("forget-dedup-ref").toString
    val (idxR, prR, shR, lbR, bkR, rmR, docR) = tables(root2)
    Streams.maintainDedupState(df(remaining), idxR, prR, shR, lbR, bkR, rmR, docR)
    def rowsOf(t: String, cols: Seq[String]) =
      spark.read.parquet(t).select(cols.map(col): _*)
        .collect().map(_.toSeq.toList).toSet
    assert(rowsOf(idxT, Seq("doc_id", "band", "bkey"))
      == rowsOf(idxR, Seq("doc_id", "band", "bkey")), "band index drifted")
    assert(rowsOf(shT, Seq("doc_id", "sz", "h"))
      == rowsOf(shR, Seq("doc_id", "sz", "h")), "shingle store drifted")
    assert(rowsOf(prT, Seq("d1", "d2")) == rowsOf(prR, Seq("d1", "d2")),
      "pair set drifted")
    assert(rowsOf(prT, Seq("d1", "d2")).nonEmpty, "no pairs survive — vacuous")

    // the content is GONE, the guard is not: forgotten ids sit in the
    // doc store with null text (never-seen id included)
    val store = spark.read.parquet(docT)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    forgot.foreach(id => assert(store.get(id).contains(None),
      s"forgotten doc $id text not nulled (or id missing)"))
    assert(remaining.forall(t => store(t._1).contains(t._2)))

    // labels: forgotten ids gone from the snapshot; every remaining doc
    // still labeled exactly once
    val snap = Streams.clusterSnapshot(spark, lbT, rmT)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(snap.map(_._1).toSet == remaining.map(_._1).toSet,
      "label snapshot != remaining docs")

    // no ghost buckets: every bucket row's key is still held by some
    // surviving doc's index row
    val liveBuckets = spark.read.parquet(idxT)
      .select(concat_ws(":", $"band", $"bkey").as("bucket"))
      .collect().map(_.getString(0)).toSet
    val bucketRows = spark.read.parquet(bkT)
      .select($"bucket").collect().map(_.getString(0)).toSet
    assert(bucketRows.subsetOf(liveBuckets),
      "ghost bucket survives a fully-forgotten band key")

    // re-ingest of forgotten docs (and the never-seen id) is a no-op on
    // every table
    val before = Seq(idxT, prT, shT, lbT, bkT, docT)
      .map(t => t -> graft.SparkSpec.dataFiles(t)).toMap
    Streams.maintainDedupState(
      df(all.filter(t => forgot.contains(t._1)).take(10) ++
        Seq(neverSeen -> "resurrected text")),
      idxT, prT, shT, lbT, bkT, rmT, docT)
    before.foreach { case (t, sig) =>
      assert(graft.SparkSpec.dataFiles(t) == sig, s"re-ingest advanced $t")
    }

    // idempotent re-run
    Streams.forgetDedupState(spark, fDf, idxT, prT, shT, lbT, bkT, docT)
    assert(rowsOf(prT, Seq("d1", "d2")) == rowsOf(prR, Seq("d1", "d2")))
  }

  test("repairClusterSplits: forgetting a bridge SPLITS its component exactly; default forget stays conservative; idempotent") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // fabricated state (the IncrementalClustersSpec trick — real MinHash
    // text can't deterministically plant a bridge): doc 2 bridges docs 1
    // and 3 through two buckets; docs 8,9 are an untouched component;
    // doc 5 is a touched-component member connected ONLY through the
    // bridge's second bucket, so the repair must keep {3,5} together
    // while cutting {1} loose
    def freshState(): (String, String, String, String, String) = {
      val root = java.nio.file.Files.createTempDirectory("split-repair").toString
      val (idxT, lbT, bkT, rmT, docT) =
        (s"$root/index", s"$root/labels", s"$root/buckets", s"$root/remap", s"$root/docs")
      Seq((1L, 0, "x"), (2L, 0, "x"), (2L, 1, "y"), (3L, 1, "y"),
          (5L, 1, "y"), (8L, 2, "z"), (9L, 2, "z"))
        .toDF("doc_id", "band", "bkey").write.parquet(idxT)
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 1L), (8L, 8L), (9L, 8L))
        .toDF("doc_id", "component").write.parquet(lbT)
      Seq(("0:x", 1L), ("1:y", 1L), ("2:z", 8L))
        .toDF("bucket", "component").write.parquet(bkT)
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (5L, "e"), (8L, "h"), (9L, "i"))
        .toDF("doc_id", "text").write.parquet(docT)
      (idxT, lbT, bkT, rmT, docT)
    }
    def labelsOf(lbT: String, rmT: String) =
      Streams.clusterSnapshot(spark, lbT, rmT)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fDf = Seq(2L).toDF("doc_id")

    // WITH the repair: component 1 splits — doc 1 alone, {3,5} together
    val (idxT, lbT, bkT, rmT, docT) = freshState()
    Streams.repairClusterSplits(spark, fDf, idxT, lbT, bkT, rmT)
    val pairsDir = java.nio.file.Files.createTempDirectory("sr-aux").toString
    Streams.forgetDedupState(spark, fDf, idxT, s"$pairsDir/pairs",
      s"$pairsDir/shingles", lbT, bkT, docT)
    assert(labelsOf(lbT, rmT) == Map(1L -> 1L, 3L -> 3L, 5L -> 3L, 8L -> 8L, 9L -> 8L),
      s"split repair wrong: ${labelsOf(lbT, rmT)}")
    // the bucket index advanced with the split: the bridge's buckets map
    // to the survivors' new components; the untouched component's row
    // never moved
    val buckets = spark.read.parquet(bkT)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(buckets == Map("0:x" -> 1L, "1:y" -> 3L, "2:z" -> 8L),
      s"bucket index not re-derived: $buckets")
    // idempotent: a re-run (repair + forget) changes nothing
    Streams.repairClusterSplits(spark, fDf, idxT, lbT, bkT, rmT)
    Streams.forgetDedupState(spark, fDf, idxT, s"$pairsDir/pairs",
      s"$pairsDir/shingles", lbT, bkT, docT)
    assert(labelsOf(lbT, rmT) == Map(1L -> 1L, 3L -> 3L, 5L -> 3L, 8L -> 8L, 9L -> 8L))

    // WITHOUT the repair: the documented conservative behavior — the
    // survivors keep their historical merge
    val (idxT2, lbT2, bkT2, rmT2, docT2) = freshState()
    Streams.forgetDedupState(spark, fDf, idxT2, s"$pairsDir/pairs2",
      s"$pairsDir/shingles2", lbT2, bkT2, docT2)
    assert(labelsOf(lbT2, rmT2) == Map(1L -> 1L, 3L -> 1L, 5L -> 1L, 8L -> 8L, 9L -> 8L),
      s"conservative default drifted: ${labelsOf(lbT2, rmT2)}")
  }

  test("repairClusterSplits: a crash after ANY step converges on plain re-run — incl. the label-revert window ADVICE r16 found") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // fabricated MERGED state where the repair's new labels hit both
    // crash hazards at once: docs 3,5 formed component 3, doc 2 later
    // bridged them into component 1 (remap 3 -> 1 recorded; their label
    // rows stay literal 3 — the maintenance never relabels in place);
    // doc 7 arrived after the merge through a second bridge bucket, so
    // it was labeled 1 directly. Forgetting doc 2 splits the component
    // three ways: {1}, {3,5}, {7}. New label 3 carries a LIVE remap
    // entry 3 -> 1 (the revert poison: without the intent journal, a
    // crash between the labels swap and the remap cleanup is permanent
    // because the re-run's touched set derives from label rows the swap
    // just deleted), and new label 7 has NO remap entry (the duplicate
    // hazard: after a bucket-swap crash, its rebuilt bucket row resolves
    // to itself — untouched — and survives in `kept` while `rebuilt`
    // re-adds it).
    def freshState(): (String, String, String, String) = {
      val root = Files.createTempDirectory("split-crash").toString
      val (idxT, lbT, bkT, rmT) =
        (s"$root/index", s"$root/labels", s"$root/buckets", s"$root/remap")
      Seq((1L, 0, "x"), (2L, 0, "x"), (2L, 1, "y"), (3L, 1, "y"),
          (5L, 1, "y"), (2L, 3, "w"), (7L, 3, "w"), (8L, 2, "z"), (9L, 2, "z"))
        .toDF("doc_id", "band", "bkey").write.parquet(idxT)
      Seq((1L, 1L), (2L, 1L), (3L, 3L), (5L, 3L), (7L, 1L), (8L, 8L), (9L, 8L))
        .toDF("doc_id", "component").write.parquet(lbT)
      Seq(("0:x", 1L), ("1:y", 3L), ("3:w", 1L), ("2:z", 8L))
        .toDF("bucket", "component").write.parquet(bkT)
      Seq((3L, 1L)).toDF("__oldc", "__newc").write.parquet(rmT)
      (idxT, lbT, bkT, rmT)
    }
    val fDf = Seq(2L).toDF("doc_id")
    val expLabels = Map(1L -> 1L, 3L -> 3L, 5L -> 3L, 7L -> 7L, 8L -> 8L, 9L -> 8L)
    val expBuckets = Map("0:x" -> 1L, "1:y" -> 3L, "3:w" -> 7L, "2:z" -> 8L)
    def check(lbT: String, bkT: String, rmT: String, ctx: String): Unit = {
      val snap = Streams.clusterSnapshot(spark, lbT, rmT)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(snap == expLabels, s"$ctx: labels $snap")
      val bRows = spark.read.parquet(bkT)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      assert(bRows.toMap == expBuckets && bRows.length == bRows.distinct.length,
        s"$ctx: buckets $bRows")
      assert(spark.read.parquet(rmT).count() == 0L, s"$ctx: remap not cleared")
      assert(!new java.io.File(rmT + "_repair").exists(),
        s"$ctx: intent journal not cleared")
    }
    // the no-crash baseline first — the expected state is the repair's own
    locally {
      val (idxT, lbT, bkT, rmT) = freshState()
      Streams.repairClusterSplits(spark, fDf, idxT, lbT, bkT, rmT)
      check(lbT, bkT, rmT, "no-crash")
    }
    for (step <- 0 to 3) {
      val (idxT, lbT, bkT, rmT) = freshState()
      intercept[IllegalStateException] {
        Streams.repairClusterSplitsImpl(spark, fDf, idxT, lbT, bkT, rmT, step)
      }
      if (step == 2) {
        // the poisoned window, observed: labels swapped, remap cleanup
        // not yet run — the literal new label 3 resolves back through
        // remap 3 -> 1, reverting the split for any reader
        val mid = Streams.clusterSnapshot(spark, lbT, rmT)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(mid(3L) == 1L && mid(5L) == 1L,
          s"window 2 lost its poison — the test no longer exercises it: $mid")
      }
      Streams.repairClusterSplits(spark, fDf, idxT, lbT, bkT, rmT)
      check(lbT, bkT, rmT, s"crash after step $step")
    }
  }

  test("repairClusterSplits: a stale journal from a COMPLETED repair short-circuits — journal cleared, zero table rewrites") {
    import spark.implicits._
    // component 2 = {2, 3, 5} bridged only by doc 2 (its id IS the
    // component id, so after the completed repair NOTHING resolves to 2
    // — the advice's stale-journal shape); forgetting 2 splits {3} / {5}
    val root = Files.createTempDirectory("split-stale").toString
    val (idxT, lbT, bkT, rmT) =
      (s"$root/index", s"$root/labels", s"$root/buckets", s"$root/remap")
    Seq((2L, 0, "a"), (3L, 0, "a"), (2L, 1, "b"), (5L, 1, "b"))
      .toDF("doc_id", "band", "bkey").write.parquet(idxT)
    Seq((2L, 2L), (3L, 2L), (5L, 2L))
      .toDF("doc_id", "component").write.parquet(lbT)
    Seq(("0:a", 2L), ("1:b", 2L)).toDF("bucket", "component").write.parquet(bkT)
    val fDf = Seq(2L).toDF("doc_id")
    Streams.repairClusterSplits(spark, fDf, idxT, lbT, bkT, rmT)
    val snap = Streams.clusterSnapshot(spark, lbT, rmT)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the forgotten doc's label rows drop with its component's rewrite
    assert(snap == Map(3L -> 3L, 5L -> 5L), s"repair wrong: $snap")
    assert(!new java.io.File(rmT + "_repair").exists(), "journal not cleared")
    // plant the stale journal a crash between steps 3 and 4 would leave,
    // snapshot the table files, and re-run: the short-circuit must clear
    // the journal WITHOUT the two O(table) identity rewrites the full
    // path would pay (r17 ADVICE)
    Seq(2L).toDF("component").write.parquet(rmT + "_repair")
    val sigs = Seq(lbT, bkT, rmT).map(t => t -> graft.SparkSpec.dataFiles(t))
    Streams.repairClusterSplits(spark, fDf, idxT, lbT, bkT, rmT)
    sigs.foreach { case (t, s) =>
      assert(graft.SparkSpec.dataFiles(t) == s,
        s"stale-journal re-run rewrote $t instead of short-circuiting")
    }
    assert(!new java.io.File(rmT + "_repair").exists(),
      "stale journal not cleared by the short-circuit")
  }

  test("repairClusterSplits + forget on the real corpus == from-scratch ingest of the survivors (labels exact)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def tables(root: String) = (s"$root/index", s"$root/pairs", s"$root/shingles",
      s"$root/labels", s"$root/buckets", s"$root/remap", s"$root/docs")
    val all = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text").collect().map(r => (r.getLong(0), r.getString(1)))
    def df(b: Seq[(Long, String)]) = b.toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("sr-real").toString
    val (idxT, prT, shT, lbT, bkT, rmT, docT) = tables(root)
    for (b <- Seq(all.take(250), all.drop(250)))
      Streams.maintainDedupState(df(b), idxT, prT, shT, lbT, bkT, rmT, docT)
    val forgot = all.map(_._1).filter(_ % 4 == 1).toSet
    val fDf = forgot.toSeq.toDF("doc_id")
    Streams.repairClusterSplits(spark, fDf, idxT, lbT, bkT, rmT)
    Streams.forgetDedupState(spark, fDf, idxT, prT, shT, lbT, bkT, docT)
    // from-scratch reference over the survivors
    val remaining = all.filter(t => !forgot.contains(t._1))
    val root2 = java.nio.file.Files.createTempDirectory("sr-real-ref").toString
    val (idxR, prR, shR, lbR, bkR, rmR, docR) = tables(root2)
    Streams.maintainDedupState(df(remaining), idxR, prR, shR, lbR, bkR, rmR, docR)
    def snap(lb: String, rm: String) = Streams.clusterSnapshot(spark, lb, rm)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(snap(lbT, rmT) == snap(lbR, rmR),
      "repaired labels != from-scratch survivors (cluster_size included)")
    assert(snap(lbT, rmT).nonEmpty)
    // the continuous leakage-safe split view rides the repaired labels:
    // post-repair splitSnapshot == sa11's batch kernel over the
    // survivors (splitOf ∘ dupClusters), the serving-side pp37 contract
    def splits(lb: String, rm: String) = Streams.splitSnapshot(spark, lb, rm)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val batchKernel = graft.queries.TextOps.splitOf(
        graft.queries.TextOps.dupClusters(df(remaining))
          .select($"doc_id", $"cluster_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(splits(lbT, rmT) == batchKernel,
      "continuous split view != sa11 batch kernel over the survivors")
  }
}
