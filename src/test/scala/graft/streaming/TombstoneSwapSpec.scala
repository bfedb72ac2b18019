package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The doc-store tombstone swap shared by every forget member: survivors
  * byte-identical across the store's FULL column set, forgotten rows
  * keep their other columns with only the named content column nulled,
  * never-seen ids forward-block with all-null payloads. Pins the
  * generalization past the historical two-column stores — a
  * multi-column store must not silently lose its extra columns. */
class TombstoneSwapSpec extends AnyFunSuite with SparkSpec {

  test("multi-column store: survivors untouched, forgotten rows null ONLY the named column, never-seen ids all-null, column order preserved") {
    import spark.implicits._
    val root = Files.createTempDirectory("tomb").toString
    val docT = s"$root/docs"
    val store = Seq(
      (1L, "s1", "keep me", 10L),
      (2L, "s2", "forget me", 20L),
      (3L, "s3", "also kept", 30L)).toDF("doc_id", "source", "text", "arrived_at")
    store.write.parquet(docT)
    val ids = Seq(2L, 99L).toDF("doc_id") // 99 never seen

    Streams.tombstoneSwap(StateFamily.Text, Some(spark.read.parquet(docT)), ids, docT)

    val out = spark.read.parquet(docT)
    assert(out.columns.toSeq == Seq("doc_id", "source", "text", "arrived_at"),
      "column set or order not preserved")
    val rows = out.collect().map(r => (r.getLong(0),
        Option(r.getString(1)), Option(r.getString(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .sortBy(_._1).toList
    assert(rows == List(
      (1L, Some("s1"), Some("keep me"), Some(10L)),
      (2L, Some("s2"), None, Some(20L)),
      (3L, Some("s3"), Some("also kept"), Some(30L)),
      (99L, None, None, None)),
      s"swap corrupted the store: $rows")
  }

  test("empty store: forward-block tombstones only") {
    import spark.implicits._
    val root = Files.createTempDirectory("tomb").toString
    val docT = s"$root/docs"
    Streams.tombstoneSwap(StateFamily.Text, None, Seq(5L).toDF("doc_id"), docT)
    val out = spark.read.parquet(docT).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toList
    assert(out == List((5L, None)), s"got $out")
  }

  test("store lacking the named column fails loudly instead of silently projecting") {
    import spark.implicits._
    val root = Files.createTempDirectory("tomb").toString
    val docT = s"$root/docs"
    Seq((1L, "x")).toDF("doc_id", "other").write.parquet(docT)
    val e = intercept[IllegalArgumentException] {
      Streams.tombstoneSwap(StateFamily.Text, Some(spark.read.parquet(docT)),
        Seq(1L).toDF("doc_id"), docT)
    }
    assert(e.getMessage.contains("lacks doc_id/text"))
  }

  test("forgetState over a doc store whose publish crashed between its two renames keeps the guard: redelivery is a no-op") {
    import spark.implicits._
    val root = Files.createTempDirectory("tomb").toString
    val (docT, vocabT) = (s"$root/docs", s"$root/vocab")
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma"), (3L, "gamma delta"))
      .toDF("doc_id", "text")
    Streams.maintainState(docs, docT, StateFamily.Vocab -> vocabT)
    // the crash state of a doc-store publish (MergeWriter's layout): rows
    // staged, manifest committed, the store moved into the stage
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, p(docT), fs, p(s"$docT.stage/rows"), false,
      spark.sparkContext.hadoopConfiguration))
    Files.writeString(java.nio.file.Path.of(s"$docT.stage", "_GRAFT_COMMIT"), ".\tdata\n")
    assert(fs.rename(p(docT), p(s"$docT.stage/replaced")))

    Streams.forgetState(spark, Seq(2L).toDF("doc_id"), docT, StateFamily.Vocab -> vocabT)
    def vocab() = Streams.foldState(spark, StateFamily.Vocab, vocabT).drop("batch_key")
      .collect().map(_.toString).toSet
    val (v0, f0) = (vocab(), graft.SparkSpec.dataFiles(vocabT) ++ graft.SparkSpec.dataFiles(docT))
    Streams.maintainState(docs.filter($"doc_id" === 1L), docT, StateFamily.Vocab -> vocabT)
    assert(graft.SparkSpec.dataFiles(vocabT) ++ graft.SparkSpec.dataFiles(docT) == f0,
      "redelivery of a stored id wrote to a standing table")
    assert(vocab() == v0)
    val store = spark.read.parquet(docT).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(store == Map(1L -> Some("alpha beta"), 2L -> None, 3L -> Some("gamma delta")),
      s"the guard lost rows: $store")
  }
}
