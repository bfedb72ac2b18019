package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{OverlappedTests, SparkSpec}

/** The COMPOSITE maintenance loop (pp33's continuous twin): ONE
  * MemoryStream of documents drives all five standing-state families —
  * exact dedup, perplexity scores, tf/BM25, CMS, HLL — through the same
  * foreachBatch body: shared batches, shared delivery order, one guard
  * table per family. Then one CRASH REPLAY hits every family at once
  * (each family's last-batch delta re-appended raw, as a crash between
  * the delta append and the guard append would leave it) and one whole
  * batch is REDELIVERED through the composite loop. At every step, every
  * family's snapshot must equal its batch gate's from-scratch output —
  * the per-family lifecycles are each spec-pinned in isolation
  * (Dedup/Score/Tf/Cms/HllStateSpec); this spec proves they COMPOSE with
  * no cross-family interference. */
class MultiFamilyPipelineSpec extends AnyFunSuite with SparkSpec
    with OverlappedTests {

  test("one stream drives five families; snapshots == gates through crash replay and redelivery") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val root = Files.createTempDirectory("multi-family").toString
    def t(n: String) = s"$root/$n"
    val sfDir = "/root/testdata/sf0.001"

    val docs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", $"lang", $"text").localCheckpoint(true)
    val rows = docs.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(_._1)

    // the once-offline frozen reference, exactly ta17's derivation
    Streams.buildRefState(docs, t("ref"))
    val ref = spark.read.parquet(t("ref")).localCheckpoint(true)

    def ingest(b: DataFrame): Unit = {
      Streams.maintainState(b.select($"doc_id", $"text"), t("xdocs"),
        StateFamily.ExactDedup -> t("xstats"))
      Streams.maintainState(b, t("sdocs"), StateFamily.score(t("ref")) -> t("scores"))
      Streams.maintainState(b.select($"doc_id", $"text"), t("tdocs"),
        StateFamily.Tf -> t("tf"))
      Streams.maintainState(b.select($"doc_id", $"text"), t("cdocs"),
        StateFamily.CmsCells -> t("cells"), StateFamily.Vocab -> t("vocab"))
      Streams.maintainState(b, t("hdocs"), StateFamily.Hll -> t("regs"))
    }

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, String)]
    val q = mem.toDF().toDF("doc_id", "source", "lang", "text")
      .writeStream.foreachBatch((b: DataFrame, _: Long) => ingest(b)).start()
    val batches = Seq(rows.take(170), rows.slice(170, 340), rows.drop(340))
    try {
      batches.foreach { g => mem.addData(g.toSeq); q.processAllAvailable() }
    } finally q.stop()

    def rowsOf(df: DataFrame) =
      df.collect().map(_.toSeq.toList).toList.sortBy(_.toString)
    def gate(name: String) = rowsOf(
      graft.queries.Catalog.byName(name).fn(spark, sfDir))
    def snapshots() = Seq(
      "dedup" -> rowsOf(Streams.dedupSnapshot(spark, t("xstats"))),
      "scores" -> rowsOf(Streams.scoreSnapshot(spark, t("scores"))),
      "bm25" -> rowsOf(Streams.bm25Snapshot(spark, t("tf"))),
      "cms" -> rowsOf(Streams.cmsSnapshot(spark, t("cells"), t("vocab"))),
      "hll" -> rowsOf(Streams.hllSnapshot(spark, t("regs"))))
    val want = Map(
      "dedup" -> gate("dd15_norm_dedup"),
      "scores" -> gate("ta17_ref_perplexity"),
      "bm25" -> gate("ta18_bm25_topk"),
      "cms" -> gate("ta20_cms_counts"),
      "hll" -> gate("ta23_hll_distinct"))
    def checkAll(when: String): Unit =
      for ((f, got) <- snapshots()) {
        assert(got.nonEmpty, s"$f snapshot empty ($when) — vacuous")
        assert(got == want(f), s"$f snapshot != its gate ($when)")
      }
    checkAll("after the stream drained")

    // ONE crash replay across ALL families: the last batch's delta rows
    // land a second time, raw (no guard) — exactly what a crash between
    // each family's delta append and its doc-store append leaves behind.
    // Partitioned tables replay THROUGH the partitioned write (a raw
    // root-level append is ignored by partition discovery — vacuous).
    val last = batches.last.toSeq.toDF("doc_id", "source", "lang", "text")
      .localCheckpoint(true)
    val bk = batches.last.map(_._1).min
    StateFamily.ExactDedup.delta(new StateFamily.In(last.select($"doc_id", $"text"), bk))
      .write.mode("append").parquet(t("xstats"))
    StateFamily.score(t("ref")).delta(new StateFamily.In(last, bk))
      .withColumn("pt", pmod($"doc_id", lit(Streams.TF_PARTITIONS.toLong)))
      .write.mode("append").partitionBy("pt").parquet(t("scores"))
    graft.queries.TextOps.tfRollup(last.select($"doc_id", $"text"))
      .withColumn("pt", pmod($"doc_id", lit(Streams.TF_PARTITIONS.toLong)))
      .write.mode("append").partitionBy("pt").parquet(t("tf"))
    StateFamily.CmsCells.delta(new StateFamily.In(last.select($"doc_id", $"text"), bk))
      .write.mode("append").parquet(t("cells"))
    StateFamily.Vocab.delta(new StateFamily.In(last.select($"doc_id", $"text"), bk))
      .write.mode("append").parquet(t("vocab"))
    StateFamily.Hll.delta(new StateFamily.In(last, 0L)).write.mode("append").parquet(t("regs"))
    checkAll("after the five-family crash replay")

    // whole-batch redelivery through the COMPOSITE loop: every family's
    // guard blocks it in the same pass
    ingest(batches.head.toSeq.toDF("doc_id", "source", "lang", "text"))
    checkAll("after whole-batch redelivery")

    // one guard row per doc per family — the shared batches really did
    // reach every family exactly once
    for (g <- Seq("xdocs", "sdocs", "tdocs", "cdocs", "hdocs"))
      assert(spark.read.parquet(t(g)).select($"doc_id").distinct().count()
        == rows.length, s"guard $g does not cover the corpus exactly")

    // ---- ONE deletion request through ALL FIVE standing stores in a
    // shared pass — the production GDPR shape: a forgotten doc must
    // leave the dedup stats, the scores, the tf postings, the CMS
    // cells+vocab, AND the HLL registers together (each family's
    // forget is spec-pinned in isolation — ForgetFamiliesSpec,
    // Score/Tf/Cms/HllStateSpec; this drives the COMPOSITE).
    val forgot = rows.map(_._1).filter(_ % 9 == 0).toSet
    assert(forgot.nonEmpty && forgot.size < rows.length,
      "degenerate forget set — pin vacuous")
    val fDf = forgot.toSeq.toDF("doc_id").localCheckpoint(true)
    def forgetAll(): Unit = {
      Streams.forgetState(spark, fDf, t("xdocs"),
        StateFamily.ExactDedup -> t("xstats"))
      Streams.forgetState(spark, fDf, t("sdocs"), StateFamily.Score -> t("scores"))
      Streams.forgetState(spark, fDf, t("tdocs"), StateFamily.Tf -> t("tf"))
      Streams.forgetState(spark, fDf, t("cdocs"),
        StateFamily.Vocab -> t("vocab"), StateFamily.CmsCells -> t("cells"))
      Streams.forgetState(spark, fDf, t("hdocs"), StateFamily.Hll -> t("regs"))
    }
    // MID-FORGET CRASH: the first two families complete their forgets,
    // then the process dies — dedup/scores already pruned while
    // tf/cms/hll still hold the forgotten docs. The state must be
    // RE-RUNNABLE with no coordinator bookkeeping: recovery is simply
    // re-running the whole composite request, because every family
    // forget is idempotent (the completed families' tombstoned text
    // yields an empty gone set on the re-run).
    Streams.forgetState(spark, fDf, t("xdocs"),
      StateFamily.ExactDedup -> t("xstats"))
    Streams.forgetState(spark, fDf, t("sdocs"), StateFamily.Score -> t("scores"))
    forgetAll() // the recovery re-run, across all five families

    // every family's snapshot == a FRESH composite build over the
    // survivors (scores under the SAME frozen reference — frozen by
    // definition, ta17's CCNet argument: deletion never re-trains it)
    val surv = rows.filterNot(r => forgot(r._1)).toSeq
      .toDF("doc_id", "source", "lang", "text").localCheckpoint(true)
    Streams.maintainState(surv.select($"doc_id", $"text"), t("xdocsR"),
      StateFamily.ExactDedup -> t("xstatsR"))
    Streams.maintainState(surv, t("sdocsR"), StateFamily.score(t("ref")) -> t("scoresR"))
    Streams.maintainState(surv.select($"doc_id", $"text"), t("tdocsR"),
      StateFamily.Tf -> t("tfR"))
    Streams.maintainState(surv.select($"doc_id", $"text"), t("cdocsR"),
      StateFamily.CmsCells -> t("cellsR"), StateFamily.Vocab -> t("vocabR"))
    Streams.maintainState(surv, t("hdocsR"), StateFamily.Hll -> t("regsR"))
    def survSnapshots() = Seq(
      "dedup" -> rowsOf(Streams.dedupSnapshot(spark, t("xstatsR"))),
      "scores" -> rowsOf(Streams.scoreSnapshot(spark, t("scoresR"))),
      "bm25" -> rowsOf(Streams.bm25Snapshot(spark, t("tfR"))),
      "cms" -> rowsOf(Streams.cmsSnapshot(spark, t("cellsR"), t("vocabR"))),
      "hll" -> rowsOf(Streams.hllSnapshot(spark, t("regsR")))).toMap
    val wantSurv = survSnapshots()
    def checkForgotten(when: String): Unit = {
      for ((f, got) <- snapshots()) {
        assert(got.nonEmpty, s"$f snapshot empty ($when) — vacuous")
        // non-vacuity only where the output is SENSITIVE to the
        // deletion by construction (every doc owns a row): the sketch
        // families' registers/cells/top-k can legitimately be identical
        // over the survivors — on this corpus the HLL registers are —
        // so their composite evidence is the guard tombstones below
        if (f == "scores" || f == "dedup")
          assert(got != want(f),
            s"$f snapshot still equals the full-corpus gate ($when) — forget vacuous")
        assert(got == wantSurv(f),
          s"$f snapshot != from-scratch over survivors ($when)")
      }
      // the request reached EVERY standing store: the text-bearing
      // guards tombstoned the forgotten ids (text nulled — id kept, so
      // redelivery and re-ingest stay blocked); the scores guard is
      // ids-only (its rows delete directly), so its evidence is the
      // ids REMAINING in the blocking set
      for (g <- Seq("xdocs", "tdocs", "cdocs", "hdocs")) {
        val live = spark.read.parquet(t(g))
          .filter($"doc_id".isin(forgot.toSeq: _*) && $"text".isNotNull)
          .count()
        assert(live == 0, s"guard $g still holds $live forgotten texts ($when)")
      }
      val blocked = spark.read.parquet(t("sdocs"))
        .filter($"doc_id".isin(forgot.toSeq: _*))
        .select($"doc_id").distinct().count()
      assert(blocked == forgot.size,
        s"scores guard blocks $blocked of ${forgot.size} forgotten ids ($when)")
    }
    checkForgotten("after the composite forget")

    // re-ingest of forgotten docs through the COMPOSITE loop: every
    // family's guard forward-blocks them in the same pass
    ingest(rows.filter(r => forgot(r._1)).take(10).toSeq
      .toDF("doc_id", "source", "lang", "text"))
    checkForgotten("after composite re-ingest of forgotten docs")

    // idempotent composite re-run: a second operator firing the same
    // GDPR request (or a crash AFTER completion) changes nothing
    forgetAll()
    checkForgotten("after the idempotent composite forget re-run")
  }

  test("text+vector composite forget: one deletion request through all six standing stores") {
    import spark.implicits._
    val root = Files.createTempDirectory("multi-family-mm").toString
    def t(n: String) = s"$root/$n"
    val sfDir = "/root/testdata/sf0.001"
    val vo = graft.queries.VectorOps

    // pp34's arrival shape: one loop lands a batch's documents AND their
    // embeddings, and every standing store — five text families plus the
    // IVF postings — advances in the same pass. Two era batches suffice
    // here (MultiFamilyPipelineSpec's first test pins the CONTINUOUS
    // composition; this test pins the composite FORGET).
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", $"lang", $"text").localCheckpoint(true)
    val docRows = docs.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(_._1)
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding").localCheckpoint(true)
    val vecIds = vecs.select($"vec_id").as[Long].collect().sorted
    // the quantizer is FIXED the way a production IVF quantizer is:
    // trained once, held constant through growth AND deletion (forgetting
    // a vector the quantizer was trained on does not retrain it — the
    // frozen-reference argument ta17's scores make for text)
    val cents = vo.ivfCentroids(vo.normed(vecs)).localCheckpoint(true)

    Streams.buildRefState(docs, t("ref"))
    def ingest(bd: DataFrame, bv: DataFrame): Unit = {
      Streams.maintainState(bd.select($"doc_id", $"text"), t("xdocs"),
        StateFamily.ExactDedup -> t("xstats"))
      Streams.maintainState(bd, t("sdocs"), StateFamily.score(t("ref")) -> t("scores"))
      Streams.maintainState(bd.select($"doc_id", $"text"), t("tdocs"),
        StateFamily.Tf -> t("tf"))
      Streams.maintainState(bd.select($"doc_id", $"text"), t("cdocs"),
        StateFamily.CmsCells -> t("cells"), StateFamily.Vocab -> t("vocab"))
      Streams.maintainState(bd, t("hdocs"), StateFamily.Hll -> t("regs"))
      Streams.maintainState(bv, StateFamily.postings(cents), t("postings"),
        StateFamily.IvfSums -> t("sums"))
    }
    val (d1, d2) = docRows.splitAt(docRows.length / 2)
    val (v1, v2) = vecIds.splitAt(vecIds.length / 2)
    def docDf(g: Seq[(Long, String, String, String)]) =
      g.toDF("doc_id", "source", "lang", "text")
    def vecDf(ids: Array[Long]) =
      vecs.filter($"vec_id".isin(ids: _*)).localCheckpoint(true)
    ingest(docDf(d1.toSeq), vecDf(v1))
    ingest(docDf(d2.toSeq), vecDf(v2))

    // ---- ONE deletion request through ALL SIX standing stores — the
    // multimodal GDPR shape: a forgotten user's documents AND embeddings
    // leave every standing table in the same pass. The request arrives
    // user-keyed; upstream resolved it to doc_ids and vec_ids (here the
    // two sets coincide numerically — the testdata tables share an id
    // space). The set deliberately contains a CENTROID-range id (0) —
    // the quantizer stays fixed — and ids are kept out of the query
    // workload below so the before/after search comparison is over the
    // same queries.
    val forgotDocs = docRows.map(_._1).filter(_ % 9 == 0).toSet
    val forgotVecs = vecIds.filter(_ % 9 == 0).toSet
    assert(forgotDocs.nonEmpty && forgotVecs.nonEmpty, "degenerate forget set")
    assert(forgotVecs.contains(0L), "centroid-range id missing from the pin")
    val fd = forgotDocs.toSeq.toDF("doc_id").localCheckpoint(true)
    val fv = forgotVecs.toSeq.toDF("vec_id").localCheckpoint(true)
    def forgetAll6(): Unit = {
      Streams.forgetState(spark, fd, t("xdocs"),
        StateFamily.ExactDedup -> t("xstats"))
      Streams.forgetState(spark, fd, t("sdocs"), StateFamily.Score -> t("scores"))
      Streams.forgetState(spark, fd, t("tdocs"), StateFamily.Tf -> t("tf"))
      Streams.forgetState(spark, fd, t("cdocs"),
        StateFamily.Vocab -> t("vocab"), StateFamily.CmsCells -> t("cells"))
      Streams.forgetState(spark, fd, t("hdocs"), StateFamily.Hll -> t("regs"))
      Streams.forgetState(spark, fv, t("postings"), StateFamily.IvfSums -> t("sums"))
    }
    // MID-FORGET CRASH with the VECTOR leg among the completed: the
    // vector store and two text families finish their forgets, then the
    // process dies — postings/sums already pruned while tf/cms/hll still
    // hold the forgotten docs. Recovery is re-running the whole
    // composite request: every family forget (including the vector
    // swap+repairs) is idempotent, so there is no coordinator
    // bookkeeping to lose.
    Streams.forgetState(spark, fv, t("postings"), StateFamily.IvfSums -> t("sums"))
    Streams.forgetState(spark, fd, t("xdocs"),
      StateFamily.ExactDedup -> t("xstats"))
    Streams.forgetState(spark, fd, t("sdocs"), StateFamily.Score -> t("scores"))
    forgetAll6() // the recovery re-run, across all six families

    def rowsOf(df: DataFrame) =
      df.collect().map(_.toSeq.toList).toList.sortBy(_.toString)
    // fresh build over the SURVIVORS (scores under the same frozen
    // reference, vectors under the same fixed quantizer)
    val survDocs = docRows.filterNot(r => forgotDocs(r._1)).toSeq
      .toDF("doc_id", "source", "lang", "text").localCheckpoint(true)
    val survVecs = vo.normed(
      vecs.filter(!$"vec_id".isin(forgotVecs.toSeq: _*))).localCheckpoint(true)
    Streams.maintainState(survDocs.select($"doc_id", $"text"), t("xdocsR"),
      StateFamily.ExactDedup -> t("xstatsR"))
    Streams.maintainState(survDocs, t("sdocsR"), StateFamily.score(t("ref")) -> t("scoresR"))
    Streams.maintainState(survDocs.select($"doc_id", $"text"), t("tdocsR"),
      StateFamily.Tf -> t("tfR"))
    Streams.maintainState(survDocs.select($"doc_id", $"text"), t("cdocsR"),
      StateFamily.CmsCells -> t("cellsR"), StateFamily.Vocab -> t("vocabR"))
    Streams.maintainState(survDocs, t("hdocsR"), StateFamily.Hll -> t("regsR"))
    val wantText = Map(
      "dedup" -> rowsOf(Streams.dedupSnapshot(spark, t("xstatsR"))),
      "scores" -> rowsOf(Streams.scoreSnapshot(spark, t("scoresR"))),
      "bm25" -> rowsOf(Streams.bm25Snapshot(spark, t("tfR"))),
      "cms" -> rowsOf(Streams.cmsSnapshot(spark, t("cellsR"), t("vocabR"))),
      "hll" -> rowsOf(Streams.hllSnapshot(spark, t("regsR"))))
    // the query workload: the catalog's query band minus forgotten ids
    // (a forgotten user's vector is not a legitimate query either)
    val queries = vo.normed(vecs)
      .filter($"vec_id" >= 10 && $"vec_id" < 20 &&
        !$"vec_id".isin(forgotVecs.toSeq: _*))
      .select($"vec_id".as("query_id"), $"q".as("qq"), $"nrm".as("qn"))
      .localCheckpoint(true)
    val wantIvf = rowsOf(vo.ivfSearch(
      vo.assignCells(survVecs, cents), queries, cents, nProbe = 2, k = 3))
    val wantSums = rowsOf(vo.cellDimSums(vo.assignCells(survVecs, cents))
      .select($"cid", $"dim", $"n_vectors", $"sum_q"))

    def checkForgotten6(when: String): Unit = {
      val gotText = Seq(
        "dedup" -> rowsOf(Streams.dedupSnapshot(spark, t("xstats"))),
        "scores" -> rowsOf(Streams.scoreSnapshot(spark, t("scores"))),
        "bm25" -> rowsOf(Streams.bm25Snapshot(spark, t("tf"))),
        "cms" -> rowsOf(Streams.cmsSnapshot(spark, t("cells"), t("vocab"))),
        "hll" -> rowsOf(Streams.hllSnapshot(spark, t("regs"))))
      for ((f, got) <- gotText) {
        assert(got.nonEmpty, s"$f snapshot empty ($when) — vacuous")
        assert(got == wantText(f),
          s"$f snapshot != from-scratch over survivors ($when)")
      }
      val gotIvf = rowsOf(Streams.ivfSearchSnapshot(spark, t("postings"),
        queries, cents, nProbe = 2, k = 3))
      assert(gotIvf.nonEmpty, s"ivf search snapshot empty ($when) — vacuous")
      assert(gotIvf == wantIvf,
        s"ivf search != fresh index over surviving vectors ($when)")
      assert(rowsOf(Streams.ivfSumsSnapshot(spark, t("sums"))
          .select($"cid", $"dim", $"n_vectors", $"sum_q")) == wantSums,
        s"ivf sums != fresh sums over surviving vectors ($when)")
      // the postings table holds no live forgotten row and tombstones
      // EVERY requested id (cid −2 — behind the guard, invisible to
      // every cid ≥ 0 consumer), so redelivery cannot resurrect
      val p = spark.read.parquet(t("postings"))
        .filter($"vec_id".isin(forgotVecs.toSeq: _*)).localCheckpoint(true)
      assert(p.filter($"cid" >= 0).count() == 0,
        s"postings still hold live forgotten vectors ($when)")
      assert(p.filter($"cid" === -2).select($"vec_id").distinct().count()
        == forgotVecs.size,
        s"postings miss forgotten-id tombstones ($when)")
    }
    checkForgotten6("after the composite forget")

    // re-ingest of forgotten docs AND vectors through the composite
    // loop: every family's guard (the vector family's = its tombstoned
    // postings ids) forward-blocks them in the same pass
    ingest(
      docRows.filter(r => forgotDocs(r._1)).take(10).toSeq
        .toDF("doc_id", "source", "lang", "text"),
      vecDf(forgotVecs.toArray.sorted.take(10)))
    checkForgotten6("after composite re-ingest of forgotten users")

    // idempotent composite re-run (a second operator firing the same
    // request, or a crash after completion)
    forgetAll6()
    checkForgotten6("after the idempotent composite forget re-run")
  }
}
