package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.queries.VectorOps

/** pp10's continuous loop: the drop table maintained by
  * the postings advance's [[StateFamily.SemDedupDrops]] family must equal a
  * from-scratch dd10 computation over everything arrived, after EVERY
  * batch split — with redelivery a no-op, an in-batch repeated row
  * harmless, and a partial-crash replay (drop deltas appended,
  * postings/sums never advanced) converging to the same state because
  * the replay appends byte-identical rows under the same batch_key,
  * invisible to the snapshot's latest-wins max.
  *
  * The table is APPEND-ONLY: each batch appends exactly its changed
  * rows (pinned against an independent full-recompute diff), and files
  * written by earlier batches stay byte-identical — the per-batch write
  * volume is O(changed rows), never O(standing drop table). */
class IncrementalSemDedupStateSpec extends AnyFunSuite with SparkSpec {

  /** (relative path → md5) of every data file under `dir` — the
    * append-only pin compares these maps across advances. */
  private def fileDigests(dir: String): Map[String, String] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("_"))
      .map { p =>
        val d = MessageDigest.getInstance("MD5").digest(Files.readAllBytes(p))
        root.relativize(p).toString -> d.map("%02x".format(_)).mkString
      }.toMap
  }

  test("batch splits reproduce batch SemDedup at every step; append-only; redelivery + in-batch dup + crash-replay safe; compaction invariant") {
    import spark.implicits._
    val root = Files.createTempDirectory("inc-sem").toString
    val (postT, sumsT, dropT) = (s"$root/postings", s"$root/sums", s"$root/drops")

    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
    val cents = VectorOps.ivfCentroids(VectorOps.normed(e)).localCheckpoint(true)
    val all = e.collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    // batch 2 redelivers its own first row (at-least-once inside a batch)
    val batches = Seq(all.take(40), all.slice(40, 300) ++ all.slice(40, 41),
      all.drop(300))

    def arrived(ids: Set[Long]) = e.filter($"vec_id".isInCollection(ids))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    def snapshot() = rows(Streams.semDedupSnapshot(spark, dropT))
    def direct(ids: Set[Long]) = rows(VectorOps.semanticDrops(
      VectorOps.assignCells(VectorOps.normed(arrived(ids)), cents), tau = 0.30))
    // the delta rows a batch appended, payload only (batch_key dropped)
    def deltaRows(table: String, key: Long) = rows(spark.read.parquet(table)
      .filter($"batch_key" === key)
      .select($"vec_id", $"cid", $"witness_id", $"n_witnesses", $"max_cos")
      .orderBy($"vec_id"))

    var seen = Set.empty[Long]
    var digests = Map.empty[String, String]
    for (b <- batches) {
      val beforeIds = seen
      Streams.maintainState(b.toSeq.toDF("vec_id", "embedding"),
        StateFamily.postings(cents), postT,
        StateFamily.IvfSums -> sumsT, StateFamily.SemDedupDrops -> dropT)
      seen ++= b.map(_._1)
      assert(snapshot() == direct(seen))

      // APPEND-ONLY: every file an earlier batch wrote is byte-identical
      val now = fileDigests(dropT)
      digests.foreach { case (f, h) => assert(now.get(f).contains(h),
        s"advance rewrote or removed an earlier batch's file: $f") }
      digests = now

      // O(changed rows) write volume: this batch's delta rows are exactly
      // the full-recompute DIFF (rows new or changed since the previous
      // corpus state) — an independent oracle for both content and size
      val batchKey = b.map(_._1).min
      assert(deltaRows(dropT, batchKey).toSet ==
        (direct(seen).toSet -- direct(beforeIds).toSet))
    }
    assert(snapshot().nonEmpty)

    // redelivery of a whole ingested batch: the postings guard empties
    // the fresh set before the SemDedup leg — nothing changes, and no
    // file in the drop table is touched
    val before = snapshot()
    Streams.maintainState(batches(1).toSeq.toDF("vec_id", "embedding"),
      StateFamily.postings(cents), postT,
      StateFamily.IvfSums -> sumsT, StateFamily.SemDedupDrops -> dropT)
    assert(snapshot() == before)
    assert(fileDigests(dropT) == digests)

    // latest-wins compaction folds committed deltas to one row per
    // vec_id without moving the snapshot
    Streams.compactState(spark, postT, StateFamily.SemDedupDrops -> dropT)
    assert(snapshot() == before)
    val compacted = spark.read.parquet(dropT)
    assert(compacted.count() == compacted.select("vec_id").distinct().count())
    assert(compacted.filter($"batch_key" =!= Long.MinValue).isEmpty)

    // partial crash on a fresh root: batch 2's drop deltas were appended
    // (same advance + write the product performs) but postings/sums never
    // advanced — the guard is unchanged, so the replayed batch appends
    // byte-identical rows under the same batch_key and the latest-wins
    // snapshot converges
    val root2 = Files.createTempDirectory("inc-sem-crash").toString
    val (postT2, sumsT2, dropT2) = (s"$root2/postings", s"$root2/sums", s"$root2/drops")
    val b1 = batches(0).toSeq.toDF("vec_id", "embedding")
    Streams.maintainState(b1, StateFamily.postings(cents), postT2,
      StateFamily.IvfSums -> sumsT2, StateFamily.SemDedupDrops -> dropT2)
    val b2 = batches(1).toSeq.toDF("vec_id", "embedding")
    val standing = spark.read.parquet(postT2)
    val assigned2 = VectorOps.assignCells(
      VectorOps.normed(b2.dropDuplicates("vec_id")), cents)
    val batchKey2 = assigned2.agg(org.apache.spark.sql.functions.min($"vec_id"))
      .head().getLong(0)
    StateFamily.SemDedupDrops.delta(new StateFamily.In(assigned2, batchKey2, Some(standing)))
      .write.mode("append").parquet(dropT2)
    // compaction between the crash and the replay must keep the crashed
    // batch's rows under their own (uncommitted) key so the replay stays
    // a byte-identical duplicate, not a double-resolution
    Streams.compactState(spark, postT2, StateFamily.SemDedupDrops -> dropT2)
    assert(!spark.read.parquet(dropT2)
      .filter($"batch_key" === batchKey2).isEmpty)
    // the replay (redelivered batch) completes the advance
    Streams.maintainState(b2, StateFamily.postings(cents), postT2,
      StateFamily.IvfSums -> sumsT2, StateFamily.SemDedupDrops -> dropT2)
    val seen12 = (batches(0) ++ batches(1)).map(_._1).toSet
    assert(rows(Streams.semDedupSnapshot(spark, dropT2)) == direct(seen12))
  }
}
