package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{OverlappedTests, SparkSpec}
import graft.queries.VectorOps

/** The continuous maintainers' analog of DegenerateCorpusSpec: every
  * standing-state flow must survive (a) a batch containing NULL-text,
  * empty-text and normal rows, (b) a fully EMPTY batch, and (c) an
  * all-degenerate batch (every row NULL/''), advancing whatever real
  * content exists and throwing on none of them — a poison document in a
  * stream must never wedge the maintenance loop. The vector flow gets
  * the same treatment with a zero vector (dropped by the norm filter)
  * and an empty batch. */
class DegenerateBatchSpec extends AnyFunSuite with SparkSpec
    with OverlappedTests {

  test("text-flow maintainers survive NULL/empty/absent text and empty batches") {
    import spark.implicits._
    val root = Files.createTempDirectory("degen-batch").toString
    val degenerate = Seq((0L, null: String), (1L, ""), (2L, "real words here"))
      .toDF("doc_id", "text")
    val empty = degenerate.limit(0)
    val allBad = Seq((3L, null: String), (4L, "")).toDF("doc_id", "text")

    for (b <- Seq(degenerate, empty, allBad)) {
      Streams.maintainBandIndex(b, s"$root/idx", s"$root/docs1",
        s"$root/pairs", s"$root/shingles")
      Streams.maintainClusterState(b, s"$root/labels", s"$root/buckets",
        s"$root/remap", s"$root/docs2")
      Streams.maintainSpanState(b, s"$root/grams", s"$root/counts",
        s"$root/report", s"$root/docs3")
      Streams.maintainState(b, s"$root/docs4",
        StateFamily.Vocab -> s"$root/vocab")
      Streams.maintainContainmentIndex(b, s"$root/cstore", s"$root/cprobes",
        s"$root/cpairs", s"$root/docs5")
    }
    // the real row's content advanced; the degenerate rows contributed
    // nothing but also broke nothing
    val vocab = Streams.vocabSnapshot(spark, s"$root/vocab")
      .collect().map(_.getString(0)).toSet
    assert(vocab == Set("real", "words", "here"))
    // the 3-word doc has no word-8-grams, so an empty report is correct —
    // the pin is that the snapshot remains readable after the advances
    assert(Streams.spanSnapshot(spark, s"$root/report").count() == 0)
    // a lone 3-word doc has one shingle and no partner — empty pair log,
    // snapshot still readable
    assert(Streams.containmentPairsSnapshot(spark, s"$root/cpairs").count() == 0)

    // the BPE rebuild over a missing vocab table writes an empty (but
    // readable, correctly-typed) segmentation table; over the 3-token
    // vocab it trains without throwing and covers every token
    Streams.rebuildBpeState(spark, s"$root/absent-vocab", s"$root/seg0")
    assert(spark.read.parquet(s"$root/seg0").count() == 0)
    Streams.rebuildBpeState(spark, s"$root/vocab", s"$root/seg1")
    val seg = spark.read.parquet(s"$root/seg1")
      .collect().map(_.getString(0)).toSet
    assert(seg == Set("real", "words", "here"))
  }

  test("round-12 maintainers (score/tf/feature) survive NULL/empty text and empty batches") {
    import spark.implicits._
    val root = Files.createTempDirectory("degen-batch12").toString
    // a frozen reference for the score flow, from one real doc
    Streams.buildRefState(
      Seq((100L, "srcA", "en", "ref words in a row here"))
        .toDF("doc_id", "source", "lang", "text"),
      s"$root/ref")
    val degenerate = Seq((0L, "srcA", null: String), (1L, "srcA", ""),
      (2L, "srcA", "real words here")).toDF("doc_id", "source", "text")
    val empty = degenerate.limit(0)
    val allBad = Seq((3L, "srcA", null: String), (4L, "srcA", ""))
      .toDF("doc_id", "source", "text")
    for (b <- Seq(degenerate, empty, allBad)) {
      Streams.maintainState(b, s"$root/docsS", StateFamily.score(s"$root/ref") -> s"$root/scores")
      Streams.maintainState(b.select($"doc_id", $"text"), s"$root/docsT",
        StateFamily.Tf -> s"$root/tf")
      Streams.maintainState(b.select($"doc_id", $"text"), s"$root/docsF",
        StateFamily.Tstat -> s"$root/tstat", StateFamily.M -> s"$root/m",
        StateFamily.Labels -> s"$root/labels")
    }
    // the real row advanced, degenerate rows broke nothing: the tf
    // snapshot holds exactly the real doc's tokens, the score snapshot
    // holds its (sole) scored row, the training frame its feature row
    assert(Streams.foldState(spark, StateFamily.Tf, s"$root/tf")
      .select($"tok").collect().map(_.getString(0)).toSet
      == Set("real", "words", "here"))
    assert(Streams.scoreSnapshot(spark, s"$root/scores")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(Streams.trainingSnapshot(spark, s"$root/tstat", s"$root/m", s"$root/labels")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("round-12 forgets are no-ops (plus tombstones) over ABSENT state tables") {
    import spark.implicits._
    val root = Files.createTempDirectory("degen-forget12").toString
    val ids = Seq(7L, 8L).toDF("doc_id")
    // nothing ever ingested: every forget must tolerate missing tables,
    // write only its tombstones, and leave a readable (forward-blocking)
    // doc store — a deletion request must never require prior arrivals
    Streams.forgetState(spark, ids, s"$root/d1", StateFamily.Score -> s"$root/sc")
    Streams.forgetState(spark, ids, s"$root/d2", StateFamily.Tf -> s"$root/tf")
    Streams.forgetState(spark, ids, s"$root/d3",
      StateFamily.Tstat -> s"$root/ts", StateFamily.M -> s"$root/m",
      StateFamily.Labels -> s"$root/lb")
    Streams.forgetSpanState(spark, ids, s"$root/gr", s"$root/cn", s"$root/rp", s"$root/d4")
    Streams.forgetState(spark, ids, s"$root/d5", StateFamily.Mix -> s"$root/mx")
    Streams.forgetState(spark, ids, s"$root/d6",
      StateFamily.Chunk -> s"$root/ch")
    Streams.forgetState(spark, ids, s"$root/d7",
      StateFamily.ExactDedup -> s"$root/xd")
    Streams.forgetPerceptualState(spark, ids, s"$root/sg", s"$root/pp", s"$root/d8")
    Streams.forgetContainmentState(spark, ids, s"$root/cs", s"$root/cp", s"$root/cq", s"$root/d9")
    Streams.forgetBudgetState(spark, ids, s"$root/el", s"$root/d10")
    for (d <- Seq("d1", "d2", "d3", "d4", "d6", "d7", "d8", "d9", "d10"))
      assert(spark.read.parquet(s"$root/$d").select("doc_id")
        .collect().map(_.getLong(0)).toSet == Set(7L, 8L),
        s"doc store $d missing its forward-block tombstones")
    // mix's doc store carries (doc_id, source)
    assert(spark.read.parquet(s"$root/d5").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(7L, 8L))
  }

  test("round-13 members (dl serving tables, OPQ lifecycle) survive degenerate input") {
    import spark.implicits._
    val root = Files.createTempDirectory("degen-batch13").toString
    val degenerate = Seq((0L, null: String), (1L, ""), (2L, "real words here"))
      .toDF("doc_id", "text")
    for (b <- Seq(degenerate, degenerate.limit(0),
        Seq((3L, null: String), (4L, "")).toDF("doc_id", "text")))
      Streams.maintainState(b, s"$root/docsT",
        StateFamily.Tf -> s"$root/tf", StateFamily.Dl -> s"$root/dl")
    // the real row advanced both tables; serve == derived over them
    assert(Streams.foldState(spark, StateFamily.Dl, s"$root/dl")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 3L)))
    val w = Seq((0L, "real missingtok")).toDF("query_id", "qtext")
    assert(Streams.bm25ServeSnapshot(spark, s"$root/tf", s"$root/dl", w, 3)
        .collect().map(_.toSeq.toList).toList
      == Streams.bm25Snapshot(spark, s"$root/tf", w, 3)
        .collect().map(_.toSeq.toList).toList)
    // serve over ABSENT tables: readable empty result, no throw
    assert(Streams.bm25ServeSnapshot(spark, s"$root/absent-tf",
      s"$root/absent-dl", w, 3).count() == 0)
    assert(Streams.bm25ServeTokSnapshot(spark, s"$root/absent-tok",
      s"$root/absent-dl", w, 3).count() == 0)
    // the three-table maintainer under the same degenerate batches
    for (b <- Seq(degenerate, degenerate.limit(0),
        Seq((3L, null: String), (4L, "")).toDF("doc_id", "text")))
      Streams.maintainState(b, s"$root/docsT3",
        StateFamily.Tf -> s"$root/tf3", StateFamily.Dl -> s"$root/dl3",
        StateFamily.TokTf -> s"$root/tok3")
    assert(Streams.bm25ServeTokSnapshot(spark, s"$root/tok3", s"$root/dl3",
        w, 3).collect().map(_.toSeq.toList).toList
      == Streams.bm25Snapshot(spark, s"$root/tf3", w, 3)
        .collect().map(_.toSeq.toList).toList)
    // dl-overload forget over absent dl table: tombstones land, no throw
    Streams.forgetState(spark, Seq(7L).toDF("doc_id"), s"$root/docsT2",
      StateFamily.Tf -> s"$root/tf2", StateFamily.Dl -> s"$root/dl2")
    assert(spark.read.parquet(s"$root/docsT2").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(7L))

    // CMS maintainer under the same degenerate batches; snapshot over
    // absent tables readable; forget over absent cms tables tombstones
    for (b <- Seq(degenerate, degenerate.limit(0),
        Seq((3L, null: String), (4L, "")).toDF("doc_id", "text")))
      Streams.maintainState(b, s"$root/docsC",
        StateFamily.CmsCells -> s"$root/cells",
        StateFamily.Vocab -> s"$root/vocab")
    assert(Streams.cmsSnapshot(spark, s"$root/cells", s"$root/vocab")
      .collect().map(_.getString(0)).toSet == Set("real", "words", "here"))
    assert(Streams.cmsSnapshot(spark, s"$root/absent-c", s"$root/absent-v")
      .count() == 0)
    Streams.forgetState(spark, Seq(8L).toDF("doc_id"), s"$root/docsC2",
      StateFamily.Vocab -> s"$root/v2", StateFamily.CmsCells -> s"$root/c2")
    assert(spark.read.parquet(s"$root/docsC2").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(8L))

    // OPQ lifecycle over absent / sentinel-only postings: None, no write
    assert(Streams.rebuildOpqState(spark, s"$root/absent-post",
      s"$root/codes0", s"$root/perm0").isEmpty)
    Seq((-1L, 900L, Seq.empty[Long], 0.0))
      .toDF("cid", "vec_id", "q", "nrm").write.parquet(s"$root/postSent")
    assert(Streams.rebuildOpqState(spark, s"$root/postSent",
      s"$root/codes1", s"$root/perm1").isEmpty)
    assert(Streams.opqPermSnapshot(spark, s"$root/perm1").isEmpty,
      "a rebuild that trained nothing must not write a permutation")
  }

  test("vector-flow maintainer survives zero vectors and empty batches") {
    import spark.implicits._
    val root = Files.createTempDirectory("degen-vec").toString
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
    val cents = VectorOps.ivfCentroids(VectorOps.normed(e)).localCheckpoint(true)
    val zero = Seq((9000L, Seq.fill(64)(0.0f))).toDF("vec_id", "embedding")
    val real = e.filter($"vec_id" >= 20 && $"vec_id" < 40)
    for (b <- Seq(zero, real.limit(0), zero.unionByName(real)))
      Streams.maintainState(b, StateFamily.postings(cents), s"$root/post",
        StateFamily.IvfSums -> s"$root/sums", StateFamily.SemDedupDrops -> s"$root/drops")
    // the zero vector is unindexable but still acknowledged: ONE sentinel
    // posting (cid −1) from its first delivery makes every redelivery a
    // guarded no-op — three deliveries, one sentinel row, and the real
    // rows advanced exactly once
    val post = spark.read.parquet(s"$root/post")
    assert(post.filter($"cid" === -1L).count() == 1)
    assert(post.filter($"cid" >= 0L).count() == 20)
    // sentinel rows are invisible to the search: they sit in no real cell
    assert(Streams.ivfSearchSnapshot(spark, s"$root/post",
      VectorOps.normed(e.filter($"vec_id" >= 10 && $"vec_id" < 12))
        .select($"vec_id".as("query_id"), $"q".as("qq"), $"nrm".as("qn")),
      cents, nProbe = 2, k = 3)
      .filter($"neighbor_id" === 9000L).isEmpty)
    assert(Streams.semDedupSnapshot(spark, s"$root/drops").count() >= 0)
  }

  test("quantile maintainer survives NULL values and empty batches") {
    import spark.implicits._
    val root = Files.createTempDirectory("degen-qs").toString
    val degenerate = Seq((0L, "s1", null.asInstanceOf[java.lang.Long]),
      (1L, "s1", java.lang.Long.valueOf(40L)),
      (2L, "s2", java.lang.Long.valueOf(7L)))
      .toDF("doc_id", "source", "v")
    val empty = degenerate.limit(0)
    val allBad = Seq((3L, "s1", null.asInstanceOf[java.lang.Long]))
      .toDF("doc_id", "source", "v")
    for (b <- Seq(degenerate, empty, allBad))
      Streams.maintainState(b, s"$root/docs",
        StateFamily.Quantile -> s"$root/qs")
    // the two real values advanced exactly once; NULL values contributed
    // no sample rows but their ids are still guarded against redelivery
    val got = Streams.quantileSnapshot(spark, s"$root/qs")
      .orderBy($"source")
      .collect().map(r => (r.getString(0), r.getAs[Long]("n_kept"),
        r.getAs[Long]("p50")))
    assert(got.toSeq == Seq(("s1", 1L, 40L), ("s2", 1L, 7L)),
      s"degenerate batches corrupted the sample: ${got.toSeq}")
    // snapshot over a never-written table is empty, not an exception
    assert(Streams.quantileSnapshot(spark, s"$root/nowhere").isEmpty)
  }
}
