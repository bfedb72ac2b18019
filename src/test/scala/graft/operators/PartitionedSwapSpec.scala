package graft.operators

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The per-partition atomic swap (`MergeWriter.overwritePartitionsAtomic`
  * + `repairPartitionedTable`): the replacement for Spark's dynamic
  * partition overwrite whose delete-then-rename commit window could lose
  * a touched partition's surviving rows on a hard crash. Pins the happy
  * path (replace / delete-emptied / untouched-files-byte-identical) and
  * every crash position the manifest protocol distinguishes: pre-commit
  * (stage discarded, table untouched), committed-unpublished (rolled
  * forward), mid-publish (rolled forward), post-publish cleanup
  * (idempotent). */
class PartitionedSwapSpec extends AnyFunSuite with SparkSpec {
  import org.apache.spark.sql.functions._

  private def write(table: String, rows: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    rows.toDF("v", "pt").write.mode("overwrite").partitionBy("pt").parquet(table)
  }

  private def readAll(table: String): Set[(Long, Long)] =
    spark.read.parquet(table)
      .select(col("v"), col("pt").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def df(rows: Seq[(Long, Long)]) = {
    import spark.implicits._
    rows.toDF("v", "pt")
  }

  test("happy path: touched partitions replaced, emptied deleted, untouched byte-identical, stage gone") {
    val root = Files.createTempDirectory("pswap").toString
    val t = s"$root/t"
    write(t, Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 2L)))
    val untouchedBefore = SparkSpec.dataFiles(t).filter(_._1.startsWith("pt=2"))
    assert(untouchedBefore.nonEmpty, "no pt=2 files — pin vacuous")

    // replace pt=0 with one surviving row, empty pt=1, leave pt=2 alone
    MergeWriter.overwritePartitionsAtomic(
      df(Seq((1L, 0L))), t, "pt", Seq(0L, 1L))

    assert(readAll(t) == Set((1L, 0L), (4L, 2L)), "post-swap content wrong")
    assert(!Files.exists(Path.of(s"$t/pt=1")), "emptied partition dir survived")
    assert(!Files.exists(Path.of(s"$t.pstaging")), "stage dir survived the publish")
    assert(SparkSpec.dataFiles(t).filter(_._1.startsWith("pt=2")) == untouchedBefore,
      "untouched partition files moved or changed")
  }

  test("pre-commit crash (stage without manifest): repair discards the stage, table untouched") {
    val root = Files.createTempDirectory("pswap").toString
    val t = s"$root/t"
    write(t, Seq((1L, 0L), (2L, 1L)))
    // a crashed run died mid-stage-write: partition data staged, no manifest
    df(Seq((99L, 0L))).write.mode("overwrite").partitionBy("pt")
      .parquet(s"$t.pstaging")
    MergeWriter.repairPartitionedTable(spark, t, "pt")
    assert(readAll(t) == Set((1L, 0L), (2L, 1L)), "uncommitted stage leaked into the table")
    assert(!Files.exists(Path.of(s"$t.pstaging")), "uncommitted stage not discarded")
  }

  test("committed-unpublished and mid-publish crashes: repair rolls the intent forward; no surviving row lost") {
    val root = Files.createTempDirectory("pswap").toString
    val t = s"$root/t"
    write(t, Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 3L)))
    // intent of the crashed job: pt=0 -> {10}, pt=1 -> {} (emptied),
    // pt=2 -> {30}; pt=3 untouched
    val stage = s"$t.pstaging"
    df(Seq((10L, 0L), (30L, 2L))).write.mode("overwrite").partitionBy("pt")
      .parquet(stage)
    Files.write(Path.of(stage, "_GRAFT_COMMIT"),
      "0\tdata\n1\tempty\n2\tdata\n".getBytes("UTF-8"))
    // simulate a MID-PUBLISH crash: pt=0 already swapped in (staged copy
    // consumed, current dir replaced), pt=1 and pt=2 not yet processed
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    assert(fs.delete(p(s"$t/pt=0"), true))
    assert(fs.rename(p(s"$stage/pt=0"), p(s"$t/pt=0")))

    MergeWriter.repairPartitionedTable(spark, t, "pt")
    assert(readAll(t) == Set((10L, 0L), (30L, 2L), (4L, 3L)),
      "roll-forward lost or duplicated rows")
    assert(!Files.exists(Path.of(s"$t/pt=1")), "emptied partition survived the roll-forward")
    assert(!Files.exists(Path.of(stage)), "published stage not dropped")
    // idempotent: a second repair (post-publish-cleanup crash re-run) is a no-op
    MergeWriter.repairPartitionedTable(spark, t, "pt")
    assert(readAll(t) == Set((10L, 0L), (30L, 2L), (4L, 3L)), "repair re-run diverged")
  }

  test("a staged partition missing from the touched intent fails loudly BEFORE the commit — table untouched, stage discarded") {
    val root = Files.createTempDirectory("pswap").toString
    val t = s"$root/t"
    write(t, Seq((1L, 0L), (2L, 7L)))
    // rows carry pt=7 but the intent only names pt=0: committing would
    // later destroy pt=7's staged rows with the published stage
    val e = intercept[java.io.IOException] {
      MergeWriter.overwritePartitionsAtomic(
        df(Seq((10L, 0L), (70L, 7L))), t, "pt", Seq(0L))
    }
    assert(e.getMessage.contains("not in the touched intent"))
    assert(readAll(t) == Set((1L, 0L), (2L, 7L)), "table was touched despite the refusal")
    assert(!Files.exists(Path.of(s"$t.pstaging")), "refused stage not discarded")
  }

  test("a corrupt manifest line (no tab) fails as the documented IOException, not a MatchError") {
    val root = Files.createTempDirectory("pswap").toString
    val t = s"$root/t"
    write(t, Seq((1L, 0L)))
    df(Seq((9L, 0L))).write.mode("overwrite").partitionBy("pt")
      .parquet(s"$t.pstaging")
    Files.write(Path.of(s"$t.pstaging", "_GRAFT_COMMIT"),
      "0\n".getBytes("UTF-8"))
    val e = intercept[java.io.IOException] {
      MergeWriter.repairPartitionedTable(spark, t, "pt")
    }
    assert(e.getMessage.contains("corrupt manifest line"))
  }

  test("tf maintenance heals a crashed committed publish at entry — before deriving survivors (no rows misread as forgotten)") {
    import spark.implicits._
    val root = Files.createTempDirectory("pswap").toString
    val (tfT, docT) = (s"$root/tf", s"$root/docs")
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma"), (65L, "gamma delta"))
      .toDF("doc_id", "text")
    graft.streaming.Streams.maintainState(docs, docT,
      graft.streaming.StateFamily.Tf -> tfT)
    val before = graft.streaming.Streams.foldState(spark,
      graft.streaming.StateFamily.Tf, tfT)
      .collect().map(_.toSeq.toList).toSet
    assert(before.nonEmpty)

    // a prior compaction crashed mid-publish: its committed stage holds
    // pt=1's full content (docs 1 and 65) and pt=1's current dir is gone
    val stage = s"$tfT.pstaging"
    spark.read.parquet(tfT)
      .select($"doc_id", $"tok", $"tf", $"pt".cast("long").as("pt"))
      .filter($"pt" === 1L)
      .write.mode("overwrite").partitionBy("pt").parquet(stage)
    Files.write(Path.of(stage, "_GRAFT_COMMIT"), "1\tdata\n".getBytes("UTF-8"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$tfT/pt=1"), true))
    assert(spark.read.parquet(tfT).filter($"doc_id" === 1L).isEmpty,
      "crash state not constructed — pin vacuous")

    // forget doc 2 (pt=2): entry repair must first restore pt=1, or docs
    // 1 and 65 would be invisible... and with doc 2's partition the only
    // touched one, the BUG this pins is the snapshot losing pt=1 forever
    graft.streaming.Streams.forgetState(spark, Seq(2L).toDF("doc_id"), docT,
      graft.streaming.StateFamily.Tf -> tfT)
    val after = graft.streaming.Streams.foldState(spark,
      graft.streaming.StateFamily.Tf, tfT)
      .collect().map(_.toSeq.toList).toSet
    assert(after == before.filterNot(_.head == 2L),
      "crashed publish not healed before the forget's survivor read")
  }
}
