package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.queries.TextOps

/** pp02's streaming loop end to end: however the corpus is split into
  * micro-batches, the union of per-batch emitted pairs must equal batch
  * lshDedup over the whole corpus — each pair surfacing exactly once, in
  * the batch where its later member arrived. Round 6 additionally pins the
  * APPEND-ONLY advance: a later batch must leave every earlier data file
  * of all three standing tables byte-identical in place (per-batch write
  * volume O(batch), never an O(corpus) rewrite). */
class IncrementalIndexStreamSpec extends AnyFunSuite with SparkSpec {

  private def dataFiles(dir: String) = graft.SparkSpec.dataFiles(dir)

  test("arbitrary batch splits reproduce batch lshDedup; advance is append-only; redelivery emits nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("inc-idx").toString
    val (indexT, docT, pairsT, shT) =
      (s"$root/index", s"$root/docs", s"$root/pairs", s"$root/shingles")

    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
    val all = docs.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // uneven split on arrival order, unrelated to pp02's hash split
    val batches = Seq(all.take(50), all.slice(50, 280), all.drop(280))

    val mem = MemoryStream[(Long, String)]
    val q = Streams.startMaintainer(mem.toDF().toDF("doc_id", "text"), None)(
      (b, _) => Streams.maintainBandIndex(b, indexT, docT, pairsT, shT))
    try {
      var afterPrev = Map.empty[String, (Long, Long)]
      for (b <- batches) {
        mem.addData(b: _*); q.processAllAvailable()
        // append-only: every data file present after the previous batch is
        // still there, same bytes, same mtime — the batch wrote only its
        // own new files (O(batch) write volume, the round-5 scale debt)
        val now = Seq(indexT, docT, shT).flatMap(t =>
          dataFiles(t).map { case (k, v) => (s"$t/$k", v) }).toMap
        afterPrev.foreach { case (f, sig) =>
          assert(now.get(f).contains(sig),
            s"advance rewrote or dropped an earlier batch's file: $f")
        }
        afterPrev = now
      }

      def pairSet() = spark.read.parquet(pairsT).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val streamed = pairSet()
      val batchPairs = TextOps.lshDedup(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batchPairs)
      assert(spark.read.parquet(pairsT).count() == batchPairs.size,
        "each pair must be emitted exactly once across all batches")

      // the maintained index is exactly the corpus's band index
      val idx = spark.read.parquet(indexT)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      val direct = TextOps.bandIndex(docs)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(idx == direct)

      // the maintained shingle store is exactly the corpus's shingle store
      val sh = spark.read.parquet(shT)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val shDirect = TextOps.shingleStore(docs)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(sh == shDirect)

      // at-least-once safety: redeliver a whole earlier batch
      mem.addData(batches(1): _*); q.processAllAvailable()
      assert(pairSet() == streamed)
      assert(spark.read.parquet(indexT).count() == idx.size)
      assert(spark.read.parquet(shT).count() == sh.size)
      assert(spark.read.parquet(docT).count() == all.length)
    } finally q.stop()
  }

  test("partial-crash redelivery: index/shingle rows never duplicate and replayed pairs are byte-identical") {
    import spark.implicits._
    val root = Files.createTempDirectory("inc-crash").toString
    val (indexT, docT, pairsT, shT) =
      (s"$root/index", s"$root/docs", s"$root/pairs", s"$root/shingles")
    val base = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text").orderBy($"doc_id").limit(30)
    // guarantee the batch carries duplicate pairs (near-dup copies of two
    // docs) so the pair assertions below can't pass vacuously
    val copies = base.limit(2)
      .select(($"doc_id" + 900000L).as("doc_id"), $"text")
    val batch = base.unionByName(copies).localCheckpoint(true)
    // simulate a crash AFTER the pairs + index + shingle appends (the
    // advance order) but BEFORE the doc-store advance: all three tables
    // already hold the batch's rows, the redelivery guard (docTable) does
    // not — the whole batch replays
    val cleanPairs = TextOps.lshDedup(batch).localCheckpoint(true)
    assert(cleanPairs.count() >= 1, "test corpus must contain dup pairs")
    cleanPairs.write.parquet(pairsT)
    TextOps.bandIndex(batch).write.parquet(indexT)
    TextOps.shingleStore(batch).write.parquet(shT)
    Streams.maintainBandIndex(batch, indexT, docT, pairsT, shT)
    // the per-table guards must keep both standing tables duplicate-free
    // (duplicate shingle rows would permanently double-count `inter`)
    assert(spark.read.parquet(indexT).count() == TextOps.bandIndex(batch).count())
    assert(spark.read.parquet(shT).count() == TextOps.shingleStore(batch).count())
    assert(spark.read.parquet(docT).count() == batch.count())
    // replayed pairs must be byte-identical to the originals — the store
    // is read minus the batch's own ids, so `inter` is not double-counted
    // and the documented distinct() recovery removes the duplicates. A
    // corrupted replay appends DIFFERENT rows (inflated inter → wrong or
    // negative jaccard) that distinct() can never repair.
    def triples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = triples(cleanPairs).toSet
    val landed = triples(spark.read.parquet(pairsT))
    assert(landed.toSet == expected,
      "replayed pairs must carry the exact original values")
    assert(triples(spark.read.parquet(pairsT).distinct()).toSet == expected)
  }
}
