package graft.operators

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The one publish (`MergeWriter.publish` and its entry step
  * `MergeWriter.enter`), for a per-bucket intent and a whole-table
  * intent: the replacement for Spark's dynamic partition overwrite whose
  * delete-then-rename commit window could lose a touched partition's
  * surviving rows on a hard crash, and for the backup-rename swap whose
  * backup nothing restored. Pins the happy path (replace /
  * delete-emptied / untouched-files-byte-identical) and every crash
  * state the manifest protocol distinguishes, built on disk in the
  * protocol's layout (`<table>.stage/rows`, `<table>.stage/_GRAFT_COMMIT`):
  * pre-commit (stage discarded, table untouched), committed-unpublished
  * and mid-publish (rolled forward), post-publish cleanup (idempotent). */
class PartitionedSwapSpec extends AnyFunSuite with SparkSpec {
  import org.apache.spark.sql.functions._

  private def fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
  private def p(s: String) = new org.apache.hadoop.fs.Path(s)

  /** The committed manifest of a crashed publish of `t`. */
  private def commitManifest(t: String, lines: String*): Unit =
    Files.write(Path.of(s"$t.stage", "_GRAFT_COMMIT"), lines.map(_ + "\n").mkString.getBytes("UTF-8"))

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
    MergeWriter.publish(df(Seq((1L, 0L))), t, MergeWriter.Buckets("pt", Seq(0L, 1L)))

    assert(readAll(t) == Set((1L, 0L), (4L, 2L)), "post-swap content wrong")
    assert(!Files.exists(Path.of(s"$t/pt=1")), "emptied partition dir survived")
    assert(!Files.exists(Path.of(s"$t.stage")), "stage dir survived the publish")
    assert(SparkSpec.dataFiles(t).filter(_._1.startsWith("pt=2")) == untouchedBefore,
      "untouched partition files moved or changed")
  }

  test("pre-commit crash (stage without manifest): repair discards the stage, table untouched") {
    val root = Files.createTempDirectory("pswap").toString
    val t = s"$root/t"
    write(t, Seq((1L, 0L), (2L, 1L)))
    // a crashed run died mid-stage-write: partition data staged, no manifest
    df(Seq((99L, 0L))).write.mode("overwrite").partitionBy("pt")
      .parquet(s"$t.stage/rows")
    MergeWriter.enter(spark, t)
    assert(readAll(t) == Set((1L, 0L), (2L, 1L)), "uncommitted stage leaked into the table")
    assert(!Files.exists(Path.of(s"$t.stage")), "uncommitted stage not discarded")
  }

  test("committed-unpublished and mid-publish crashes: repair rolls the intent forward; no surviving row lost") {
    val root = Files.createTempDirectory("pswap").toString
    val t = s"$root/t"
    write(t, Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 3L)))
    // intent of the crashed job: pt=0 -> {10}, pt=1 -> {} (emptied),
    // pt=2 -> {30}; pt=3 untouched
    val stage = s"$t.stage"
    df(Seq((10L, 0L), (30L, 2L))).write.mode("overwrite").partitionBy("pt")
      .parquet(s"$stage/rows")
    commitManifest(t, "pt=0\tdata", "pt=1\tempty", "pt=2\tdata")
    // simulate a MID-PUBLISH crash: pt=0 already swapped in (staged copy
    // consumed, current dir replaced), pt=1 and pt=2 not yet processed
    assert(fs.delete(p(s"$t/pt=0"), true))
    assert(fs.rename(p(s"$stage/rows/pt=0"), p(s"$t/pt=0")))

    MergeWriter.enter(spark, t)
    assert(readAll(t) == Set((10L, 0L), (30L, 2L), (4L, 3L)),
      "roll-forward lost or duplicated rows")
    assert(!Files.exists(Path.of(s"$t/pt=1")), "emptied partition survived the roll-forward")
    assert(!Files.exists(Path.of(stage)), "published stage not dropped")
    // idempotent: a second repair (post-publish-cleanup crash re-run) is a no-op
    MergeWriter.enter(spark, t)
    assert(readAll(t) == Set((10L, 0L), (30L, 2L), (4L, 3L)), "repair re-run diverged")
  }

  test("a staged partition missing from the touched intent fails loudly BEFORE the commit — table untouched, stage discarded") {
    val root = Files.createTempDirectory("pswap").toString
    val t = s"$root/t"
    write(t, Seq((1L, 0L), (2L, 7L)))
    // rows carry pt=7 but the intent only names pt=0: committing would
    // later destroy pt=7's staged rows with the published stage
    val e = intercept[java.io.IOException] {
      MergeWriter.publish(df(Seq((10L, 0L), (70L, 7L))), t, MergeWriter.Buckets("pt", Seq(0L)))
    }
    assert(e.getMessage.contains("not in the touched intent"))
    assert(readAll(t) == Set((1L, 0L), (2L, 7L)), "table was touched despite the refusal")
    assert(!Files.exists(Path.of(s"$t.stage")), "refused stage not discarded")
  }

  test("a corrupt manifest line (no tab) fails as the documented IOException, not a MatchError") {
    val root = Files.createTempDirectory("pswap").toString
    val t = s"$root/t"
    write(t, Seq((1L, 0L)))
    df(Seq((9L, 0L))).write.mode("overwrite").partitionBy("pt")
      .parquet(s"$t.stage/rows")
    commitManifest(t, "pt=0")
    val e = intercept[java.io.IOException] {
      MergeWriter.enter(spark, t)
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
    spark.read.parquet(tfT)
      .select($"doc_id", $"tok", $"tf", $"pt".cast("long").as("pt"))
      .filter($"pt" === 1L)
      .write.mode("overwrite").partitionBy("pt").parquet(s"$tfT.stage/rows")
    commitManifest(tfT, "pt=1\tdata")
    assert(fs.delete(p(s"$tfT/pt=1"), true))
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

  /** A publish of `t` from `pre` to `post`: the intent, the rows it
    * stages and its manifest lines. */
  private case class Pub(intent: MergeWriter.Intent, staged: Seq[(Long, Long)],
      lines: Seq[String], pre: Set[(Long, Long)], post: Set[(Long, Long)])

  private val pre = Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 3L))
  private val intents = Seq(
    // pt=0 -> {10}, pt=1 emptied, pt=2 -> {30}; pt=3 untouched
    "per-bucket" -> Pub(MergeWriter.Buckets("pt", Seq(0L, 1L, 2L)),
      Seq((10L, 0L), (30L, 2L)), Seq("pt=0\tdata", "pt=1\tempty", "pt=2\tdata"),
      pre.toSet, Set((10L, 0L), (30L, 2L), (4L, 3L))),
    "whole-table" -> Pub(MergeWriter.Whole(Some("pt")),
      Seq((10L, 0L), (30L, 2L)), Seq(".\tdata"),
      pre.toSet, Set((10L, 0L), (30L, 2L))))

  /** The directory a manifest line replaces, and its staged copy. */
  private def dirs(t: String, line: String): (String, String) = line.split("\t")(0) match {
    case "." => (t, s"$t.stage/rows")
    case d => (s"$t/$d", s"$t.stage/rows/$d")
  }

  /** Move the directory a manifest line replaces into the stage, as the
    * roll-forward does before it renames the staged copy in. */
  private def retire(t: String, line: String): Unit = {
    val gone = p(dirs(t, line)._2.replace(s"$t.stage/rows", s"$t.stage/replaced"))
    if (fs.exists(p(dirs(t, line)._1)))
      assert(fs.mkdirs(gone.getParent) && fs.rename(p(dirs(t, line)._1), gone))
  }

  /** The four crash states of a publish, each built from the staged rows
    * on disk: what was done before the crash. */
  private val crashes: Seq[(String, (String, Pub) => Unit, Boolean)] = Seq(
    ("stage without a manifest", (_, _) => (), false),
    ("manifest written, nothing moved", (t, u) => commitManifest(t, u.lines: _*), true),
    ("replaced directory moved into the stage, staged one not yet renamed", { (t, u) =>
      commitManifest(t, u.lines: _*)
      retire(t, u.lines.head)
      assert(!fs.exists(p(dirs(t, u.lines.head)._1)))
    }, true),
    ("renamed, stage not yet dropped", { (t, u) =>
      commitManifest(t, u.lines: _*)
      u.lines.foreach { l =>
        val (cur, stg) = dirs(t, l)
        retire(t, l)
        if (l.endsWith("data")) assert(fs.rename(p(stg), p(cur)))
      }
    }, true))

  for ((name, u) <- intents; (crash, build, committed) <- crashes)
    test(s"$name publish, crash with $crash: the repair reads the ${if (committed) "post" else "pre"}-commit snapshot, no stage left") {
      val t = Files.createTempDirectory("pswap").toString + "/t"
      write(t, pre)
      df(u.staged).write.mode("overwrite").partitionBy("pt").parquet(s"$t.stage/rows")
      build(t, u)
      MergeWriter.enter(spark, t)
      assert(readAll(t) == (if (committed) u.post else u.pre), "the repair lost or leaked rows")
      assert(!Files.exists(Path.of(s"$t.stage")), "stage left after the repair")
      // the repaired table takes the next publish like any other
      MergeWriter.publish(df(Seq((5L, 3L))), t, MergeWriter.Buckets("pt", Seq(3L)))
      assert(readAll(t) == (if (committed) u.post else u.pre).filter(_._2 != 3L) + ((5L, 3L)))
    }

  for ((name, u) <- intents)
    test(s"$name publish whose row write fails: nothing commits, the table reads the pre-commit snapshot") {
      val t = Files.createTempDirectory("pswap").toString + "/t"
      write(t, pre)
      val boom = udf { (v: Long) => if (v == 30L) throw new IllegalStateException("write crash"); v }
      intercept[Exception](MergeWriter.publish(
        df(u.staged).select(boom(col("v")).as("v"), col("pt")), t, u.intent))
      assert(!Files.exists(Path.of(s"$t.stage", "_GRAFT_COMMIT")), "a manifest committed before the rows")
      assert(readAll(t) == u.pre, "a failed publish moved the table")
      MergeWriter.enter(spark, t)
      assert(readAll(t) == u.pre && !Files.exists(Path.of(s"$t.stage")))
      MergeWriter.publish(df(u.staged), t, u.intent)
      assert(readAll(t) == u.post && !Files.exists(Path.of(s"$t.stage")))
    }
}
