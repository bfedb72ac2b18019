package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.queries.VectorOps

/** The rebuild→swap that closes the index lifecycle: after any number of
  * O(batch) advances, redeploying a retrained quantizer must leave the
  * standing tables EXACTLY as if every arrival had been assigned/encoded
  * against the new parameters from the start — sentinels carried (the
  * guard must not move), the sums baseline reset, the whole pass
  * idempotent (re-running repairs any crash between the three swaps),
  * and the flow continuing seamlessly: redelivery still a no-op, the
  * next advance exact against the new centroids. */
class RebuildStateSpec extends AnyFunSuite with SparkSpec {

  test("rebuild: reassign + re-encode + re-baseline == from-scratch under new params; idempotent; guard and flow intact") {
    import spark.implicits._
    val root = Files.createTempDirectory("rebuild").toString
    val (postT, sumsT, codesT) = (s"$root/postings", s"$root/sums", s"$root/codes")

    val e0 = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    // a synthetic zero-norm arrival exercises the sentinel carry
    val zeroId = 999999L
    val all = e0 :+ (zeroId -> Seq.fill(e0.head._2.length)(0.0f))
    val batches = Seq(all.take(40), all.slice(40, 300), all.drop(300))
    def df(b: Seq[(Long, Seq[Float])]) = b.toDF("vec_id", "embedding")
    val arrivedAll = df(all)
    val normedAll = VectorOps.normed(arrivedAll)

    // old parameters: the catalog defaults (8 cells, first-64 book)
    val oldCents = VectorOps.ivfCentroids(normedAll).localCheckpoint(true)
    val oldBook = VectorOps.pqBookRows(normedAll)
    for (b <- batches) {
      Streams.maintainState(df(b), StateFamily.postings(oldCents), postT,
        StateFamily.IvfSums -> sumsT)
      Streams.maintainState(df(b), StateFamily.pqCodes(oldCents, VectorOps.pqOf(oldBook)), codesT)
    }

    // the retrained quantizer: a DIFFERENT — wider — centroid set (16
    // cells; what vs11's loop hands over), and a retrained codebook (the
    // next 64 vectors — any book retrain works, it's data)
    val newCents = VectorOps.ivfCentroids(normedAll, nlist = 16).localCheckpoint(true)
    val newBook = normedAll.filter($"vec_id" >= 64 && $"vec_id" < 128)
      .orderBy($"vec_id").collect().toIndexedSeq
    Streams.rebuildIvfState(spark, newCents, postT, sumsT,
      Some((codesT, newBook)))

    def postingsSet() = spark.read.parquet(postT)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def codesSet() = spark.read.parquet(codesT)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    def sums() = Streams.ivfSumsSnapshot(spark, sumsT)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    val directAssign = VectorOps.assignCells(normedAll, newCents).localCheckpoint(true)
    val pqNew = VectorOps.pqOf(newBook)
    assert(postingsSet() ==
      directAssign.collect().map(r => (r.getLong(0), r.getLong(1))).toSet + ((-1L, zeroId)),
      "rebuilt postings != from-scratch assignment under the new centroids")
    assert(codesSet() ==
      VectorOps.pqCodesPostings(normedAll, newCents, pqNew)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
        + ((-1L, zeroId, Seq.empty[Long])),
      "rebuilt codes != from-scratch encode under the new parameters")
    assert(sums() == VectorOps.cellDimSums(directAssign)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet,
      "sums baseline != the rebuild's own assignment")
    assert(spark.read.parquet(sumsT).select("batch_key").distinct().count() == 1,
      "sums not re-baselined to the single reserved key")

    // search over the rebuilt state == batch search with the new params
    val search = Streams.ivfSearchSnapshot(spark, postT,
      normedAll.filter($"vec_id" >= 10 && $"vec_id" < 20)
        .select($"vec_id".as("query_id"), $"q".as("qq"), $"nrm".as("qn")),
      newCents, 2, 3).collect().toSeq
    val directSearch = VectorOps.ivfSearch(directAssign,
      normedAll.filter($"vec_id" >= 10 && $"vec_id" < 20)
        .select($"vec_id".as("query_id"), $"q".as("qq"), $"nrm".as("qn")),
      newCents, 2, 3).collect().toSeq
    assert(search == directSearch)

    // idempotence: re-running the rebuild (the crash-repair path — any
    // subset of the three swaps may already have landed) changes nothing
    val (p1, c1, s1) = (postingsSet(), codesSet(), sums())
    Streams.rebuildIvfState(spark, newCents, postT, sumsT, Some((codesT, newBook)))
    assert(postingsSet() == p1 && codesSet() == c1 && sums() == s1)

    // the guard did not move: redelivering an ingested batch (with the
    // zero-norm member) is still a no-op on both tables
    Streams.maintainState(df(batches(2)), StateFamily.postings(newCents), postT,
      StateFamily.IvfSums -> sumsT)
    Streams.maintainState(df(batches(2)),
      StateFamily.pqCodes(newCents, VectorOps.pqOf(newBook)), codesT)
    assert(postingsSet() == p1 && codesSet() == c1 && sums() == s1)

    // and the flow CONTINUES against the new parameters: a genuinely new
    // batch advances both tables to the from-scratch state of the union
    val extra = Seq((1000000L, e0.head._2), (1000001L, e0.last._2))
    Streams.maintainState(df(extra), StateFamily.postings(newCents), postT,
      StateFamily.IvfSums -> sumsT)
    Streams.maintainState(df(extra), StateFamily.pqCodes(newCents, VectorOps.pqOf(newBook)),
      codesT)
    val unionNormed = VectorOps.normed(df(all ++ extra))
    assert(postingsSet() ==
      VectorOps.assignCells(unionNormed, newCents)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet + ((-1L, zeroId)))
    assert(codesSet() ==
      VectorOps.pqCodesPostings(unionNormed, newCents, pqNew)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
        + ((-1L, zeroId, Seq.empty[Long])))

    // no-op on a missing table: a rebuild before first ingest must not
    // create state out of nothing
    val vroot = Files.createTempDirectory("rebuild-virgin").toString
    Streams.rebuildIvfState(spark, newCents, s"$vroot/p", s"$vroot/s", None)
    assert(!new java.io.File(s"$vroot/p").exists())
  }

  test("full lifecycle: maintain under the old quantizer, AUTO-SIZED Lloyd retrain, rebuild — postings == from-scratch under the trained quantizer") {
    import spark.implicits._
    val root = Files.createTempDirectory("rebuild-auto").toString
    val (postT, sumsT) = (s"$root/postings", s"$root/sums")

    val e0 = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    def df(b: Seq[(Long, Seq[Float])]) = b.toDF("vec_id", "embedding")
    val normedAll = VectorOps.normed(df(e0)).localCheckpoint(true)

    // ingest under the catalog's fixed 8-cell quantizer...
    val oldCents = VectorOps.ivfCentroids(normedAll).localCheckpoint(true)
    for (b <- Seq(e0.take(100), e0.drop(100)))
      Streams.maintainState(df(b), StateFamily.postings(oldCents), postT,
        StateFamily.IvfSums -> sumsT)

    // ...then the drift response: retrain SIZED BY THE PRODUCTION RULE
    // (autoNlist over the standing count) and redeploy via the rebuild
    val target = math.max(1L, normedAll.count() / 20L)
    val trained = VectorOps.retrainCentroids(normedAll,
      targetCellSize = target).localCheckpoint(true)
    assert(trained.count() > 8, "retrain did not widen the quantizer")
    Streams.rebuildIvfState(spark, trained, postT, sumsT)

    // the standing postings are EXACTLY the from-scratch assignment under
    // the trained quantizer, and search parity follows
    val direct = VectorOps.assignCells(normedAll, trained).localCheckpoint(true)
    assert(spark.read.parquet(postT)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      direct.collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      "rebuilt postings != from-scratch assignment under the trained quantizer")
    val qs = normedAll.filter($"vec_id" >= 10 && $"vec_id" < 20)
      .select($"vec_id".as("query_id"), $"q".as("qq"), $"nrm".as("qn"))
    assert(Streams.ivfSearchSnapshot(spark, postT, qs, trained, 2, 3)
        .collect().toSeq ==
      VectorOps.ivfSearch(direct, qs, trained, 2, 3).collect().toSeq)
  }

  test("rebuildPqState: Lloyd retrain from standing postings + re-encode + swap == from-scratch under the trained books; flow continues under the returned Pq") {
    import spark.implicits._
    val root = Files.createTempDirectory("rebuild-pq").toString
    val (postT, sumsT, codesT) = (s"$root/postings", s"$root/sums", s"$root/codes")

    val e0 = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val zeroId = 999999L
    val all = e0 :+ (zeroId -> Seq.fill(e0.head._2.length)(0.0f))
    val batches = Seq(all.take(40), all.slice(40, 300), all.drop(300))
    def df(b: Seq[(Long, Seq[Float])]) = b.toDF("vec_id", "embedding")
    val normedAll = VectorOps.normed(df(all)).localCheckpoint(true)

    val cents = VectorOps.ivfCentroids(normedAll).localCheckpoint(true)
    val book0 = VectorOps.pqBookRows(normedAll)
    for (b <- batches) {
      Streams.maintainState(df(b), StateFamily.postings(cents), postT,
        StateFamily.IvfSums -> sumsT)
      Streams.maintainState(df(b), StateFamily.pqCodes(cents, VectorOps.pqOf(book0)), codesT)
    }

    // a rebuild before first ingest (missing table) trains nothing
    assert(Streams.rebuildPqState(spark, s"$root/nope", s"$root/nope2").isEmpty)

    val pq = Streams.rebuildPqState(spark, postT, codesT, iters = 2).get

    // the trained books are EXACTLY the vs16 kernel over the standing
    // real vectors with the driver-sized lowest-64-id init
    val initRows = normedAll.select($"vec_id", $"q")
      .orderBy($"vec_id").limit(64).collect().toIndexedSeq
    val expBooks = VectorOps.trainPqBooks(normedAll.select($"vec_id", $"q"),
      VectorOps.pqOf(initRows).books, 8, initRows.length, iters = 2)
    assert(pq.books == expBooks, "trained books != vs16 kernel over standing rows")

    def codesSet() = spark.read.parquet(codesT)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    def fromScratch(vecs: org.apache.spark.sql.DataFrame) =
      VectorOps.pqCodesPostings(vecs, cents, pq)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    assert(codesSet() == fromScratch(normedAll) + ((-1L, zeroId, Seq.empty[Long])),
      "swapped codes != from-scratch encode under the trained books")

    // idempotent: postings unchanged ⇒ identical retrain, identical swap
    val c1 = codesSet()
    val pq2 = Streams.rebuildPqState(spark, postT, codesT, iters = 2).get
    assert(pq2 == pq && codesSet() == c1)

    // redelivery after the swap is still a no-op (the guard is the codes
    // table itself and the rebuild preserved every id, sentinel included)
    Streams.maintainState(df(batches(2)), StateFamily.pqCodes(cents, pq), codesT)
    assert(codesSet() == c1)

    // the flow CONTINUES under the trained books: a new batch advances
    // the table to the from-scratch state of the union
    val extra = Seq((1000000L, e0.head._2), (1000001L, e0.last._2))
    Streams.maintainState(df(extra), StateFamily.pqCodes(cents, pq), codesT)
    val unionNormed = VectorOps.normed(df(all ++ extra))
    assert(codesSet() == fromScratch(unionNormed) + ((-1L, zeroId, Seq.empty[Long])))

    // search over the maintained table under the trained Pq == the
    // in-gate scorer over a from-scratch codes frame
    val qs = unionNormed.filter($"vec_id" >= 10 && $"vec_id" < 20)
    val got = Streams.pqSearchSnapshotTrained(spark, codesT, qs, cents, pq, 3)
      .collect().toSeq
    val want = VectorOps.ivfPqScore(
      VectorOps.pqCodesPostings(unionNormed, cents, pq),
      VectorOps.pqQueries(unionNormed, pq), cents, pq, 3).collect().toSeq
    assert(got == want)
  }
}
