package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** SURVEY §2.7's deployment promise, driven end-to-end: a maintainer
  * fed by a CHECKPOINTED file-source stream survives a mid-stream KILL
  * — the crash lands AFTER a batch's state writes but BEFORE the
  * checkpoint commits it (the worst window: restart REDELIVERS that
  * batch), and the restarted query converges to exactly the state an
  * all-at-once build produces. IncrementalPipelineSpec pins the same
  * contract for the extraction merge; these legs pin it for the
  * maintainers, whose redelivery seams (doc-store guard, dedup-at-read)
  * are what make the replay safe. */
class MaintainerRestartSpec extends AnyFunSuite with SparkSpec {

  private def docBatches(): (Seq[(Long, String)], Seq[(Long, String)]) = {
    import spark.implicits._
    val all = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text").limit(60)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    (all.take(30), all.drop(30))
  }

  /** Two source files, maxFilesPerTrigger=1 → two micro-batches; the
    * kill fires inside batch 0's foreachBatch AFTER `maintain` ran. */
  private def killThenRestart(src: String, chk: String,
      maintain: DataFrame => Unit,
      restart: DataFrame => org.apache.spark.sql.streaming.StreamingQuery,
      schema: String = "doc_id LONG, text STRING"): Unit = {
    def stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .json(s"$src/*")
    @volatile var killed = false
    val q1 = stream.writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        maintain(b)
        if (!killed) { killed = true; throw new RuntimeException("injected kill") }
      }
      .option("checkpointLocation", chk)
      .start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination(60000)
    }
    q1.stop()
    assert(killed, "the kill never fired — the e2e is vacuous")
    // restart from the SAME checkpoint through the real production
    // wrapper: batch 0 (state landed, commit lost) redelivers first
    val q2 = restart(stream)
    try q2.processAllAvailable() finally q2.stop()
  }

  test("perceptual maintainer: kill after batch-0 state lands, restart from checkpoint == all-at-once build") {
    import spark.implicits._
    val (b0, b1) = docBatches()
    val root = Files.createTempDirectory("restart-perc").toString
    val (sigT, pairT, docT) = (s"$root/sigs", s"$root/pairs", s"$root/docs")
    val src = Files.createTempDirectory("restart-perc-src").toString
    b0.toDF("doc_id", "text").write.json(s"$src/b0")
    b1.toDF("doc_id", "text").write.json(s"$src/b1")

    killThenRestart(src, s"$root/chk",
      b => Streams.maintainPerceptualState(b, sigT, pairT, docT),
      s => Streams.startMaintainer(s, Some(s"$root/chk"))((b, _) =>
        Streams.maintainPerceptualState(b, sigT, pairT, docT)))

    // all-at-once reference build over the same 60 docs
    val root2 = Files.createTempDirectory("restart-perc-ref").toString
    val (sigR, pairR, docR) = (s"$root2/sigs", s"$root2/pairs", s"$root2/docs")
    Streams.maintainPerceptualState((b0 ++ b1).toDF("doc_id", "text"),
      sigR, pairR, docR)
    def report(pt: String) = Streams.perceptualPairsSnapshot(spark, pt)
      .collect().map(_.toSeq.toList).toSet
    assert(report(pairT) == report(pairR),
      "restarted maintainer's pair state != all-at-once build")
    assert(spark.read.parquet(sigT).select("doc_id").distinct().count() == 60)
    assert(spark.read.parquet(docT).select("doc_id").distinct().count() == 60,
      "doc-store guard lost or duplicated ids across the kill")
  }

  test("LSH-index maintainer: kill after batch-0 state lands, restart from checkpoint == batch kernel over all arrived") {
    import spark.implicits._
    val all = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val (b0, b1) = (all.take(250), all.drop(250))
    val root = Files.createTempDirectory("restart-lsh").toString
    val idxT = s"$root/index"
    val src = Files.createTempDirectory("restart-lsh-src").toString
    b0.toSeq.toDF("vec_id", "embedding").write.json(s"$src/b0")
    b1.toSeq.toDF("vec_id", "embedding").write.json(s"$src/b1")

    killThenRestart(src, s"$root/chk",
      b => Streams.maintainLshState(b, bits = 4, tables = 8, idxT),
      s => Streams.startMaintainer(s, Some(s"$root/chk"))((b, _) =>
        Streams.maintainLshState(b, bits = 4, tables = 8, idxT)),
      schema = "vec_id LONG, embedding ARRAY<FLOAT>")

    val queries = all.filter(_._1 < 10).toSeq.toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"query_id", $"rank").collect().map(_.toSeq.toList).toList
    assert(
      rows(Streams.lshSearchSnapshot(spark, queries, idxT, k = 5, 4, 8)) ==
      rows(graft.operators.Ann.lshTopK(queries, all.toSeq.toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = 5, bits = 4, tables = 8)),
      "restarted LSH maintainer's snapshot != batch kernel over all arrived")
    // id coverage == the batch kernel's own index (zero-norm rows never
    // index on either path, so the counts agree by construction)
    val wantIds = graft.operators.Ann.lshIndexRows(
        all.toSeq.toDF("vec_id", "embedding"), "vec_id", "embedding", 4, 8)
      .select($"neighbor_id").distinct().count()
    assert(spark.read.parquet(idxT).select($"neighbor_id").distinct().count()
      == wantIds, "guard lost or duplicated ids across the kill")
  }

  test("cell-routed graph maintainer: kill after batch-0 route+flush lands, restart from checkpoint == full build") {
    import spark.implicits._
    val all = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val (b0, b1) = (all.take(250), all.drop(250))
    val root = Files.createTempDirectory("restart-routed").toString
    val (stageT, postT, graphT) = (s"$root/stage", s"$root/post", s"$root/graph")
    val allDf = all.toSeq.toDF("vec_id", "embedding")
    val cents = graft.queries.VectorOps.ivfCentroids(
      graft.queries.VectorOps.normed(allDf))
    val post = StateFamily.postings(cents)
    val src = Files.createTempDirectory("restart-routed-src").toString
    b0.toSeq.toDF("vec_id", "embedding").write.json(s"$src/b0")
    b1.toSeq.toDF("vec_id", "embedding").write.json(s"$src/b1")

    // the kill lands after batch 0 ROUTED AND FLUSHED (low size trigger
    // so real advances run before the crash) but before the checkpoint
    // commits — the restart redelivers batch 0, whose rows re-stage as
    // duplicates and collapse at the postings guard when their groups
    // re-flush; this is the router's double at-least-once seam
    // (source -> stage, stage -> advance) crossed by one kill
    killThenRestart(src, s"$root/chk",
      b => {
        Streams.routeByCell(b, cents, stageT, groups = 3, seq = 0L)
        Streams.flushCellGroupsBatched(spark, stageT, minRows = 100L,
          maxLag = 1L, curSeq = 0L)(rows =>
          Streams.maintainState(rows, post, postT, StateFamily.KnnGraph -> graphT))
        ()
      },
      s => Streams.startMaintainer(s, Some(s"$root/chk")) { (b, seq) =>
        Streams.routeByCell(b, cents, stageT, groups = 3, seq)
        Streams.flushCellGroupsBatched(spark, stageT, minRows = 100L,
          maxLag = 1L, curSeq = seq)(rows =>
          Streams.maintainState(rows, post, postT, StateFamily.KnnGraph -> graphT))
        ()
      },
      schema = "vec_id LONG, embedding ARRAY<FLOAT>")

    // decommission drain, then the exactness pin: the maintained graph
    // equals the full vs13 build over everything arrived
    Streams.flushCellGroupsBatched(spark, stageT, minRows = 1L, maxLag = 0L,
      curSeq = 99L)(rows =>
      Streams.maintainState(rows, StateFamily.postings(cents), postT,
        StateFamily.KnnGraph -> graphT))
    def key(g: org.apache.spark.sql.DataFrame) = g
      .select($"query_id", $"neighbor_id", $"rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val maintained = key(Streams.knnGraphSnapshot(spark, graphT))
    val scratch = key(graft.queries.VectorOps.knnGraph(
      graft.queries.VectorOps.assignCells(
        graft.queries.VectorOps.normed(allDf), cents), 3))
    assert(maintained.nonEmpty && maintained == scratch,
      "restarted routed maintainer's graph != full build")
    assert(spark.read.parquet(postT).select("vec_id").distinct().count()
      == all.size.toLong, "guard lost or duplicated ids across the kill")
  }

  test("dedup/cluster maintainer: kill after batch-0 state lands, restart from checkpoint == all-at-once build") {
    import spark.implicits._
    val (b0, b1) = docBatches()
    val root = Files.createTempDirectory("restart-dedup").toString
    def tables(r: String) = (s"$r/index", s"$r/pairs", s"$r/shingles",
      s"$r/labels", s"$r/buckets", s"$r/remap", s"$r/docs")
    val (idxT, prT, shT, lbT, bkT, rmT, docT) = tables(root)
    val src = Files.createTempDirectory("restart-dedup-src").toString
    b0.toDF("doc_id", "text").write.json(s"$src/b0")
    b1.toDF("doc_id", "text").write.json(s"$src/b1")

    killThenRestart(src, s"$root/chk",
      b => Streams.maintainDedupState(b, idxT, prT, shT, lbT, bkT, rmT, docT),
      s => Streams.startMaintainer(s, Some(s"$root/chk"))((b, _) =>
        Streams.maintainDedupState(b, idxT, prT, shT, lbT, bkT, rmT, docT)))

    val root2 = Files.createTempDirectory("restart-dedup-ref").toString
    val (idxR, prR, shR, lbR, bkR, rmR, docR) = tables(root2)
    Streams.maintainDedupState((b0 ++ b1).toDF("doc_id", "text"),
      idxR, prR, shR, lbR, bkR, rmR, docR)
    def snap(lb: String, rm: String) = Streams.clusterSnapshot(spark, lb, rm)
      .collect().map(_.toSeq.toList).toSet
    assert(snap(lbT, rmT) == snap(lbR, rmR),
      "restarted maintainer's cluster snapshot != all-at-once build")
    // raw pair log, dedup'd at read — the documented redelivery seam
    def pairs(pt: String) = spark.read.parquet(pt)
      .select($"d1", $"d2").distinct()
      .collect().map(_.toSeq.toList).toSet
    assert(pairs(prT) == pairs(prR),
      "restarted maintainer's dup pairs != all-at-once build")
    assert(spark.read.parquet(docT).select("doc_id").distinct().count() == 60)
  }
}
