package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed last-writer-wins merge — the Spark re-expression of the reference's
  * row-at-a-time `INSERT … ON DUPLICATE KEY UPDATE` loop
  * (pdf_to_db.py:202-244, loop at :347-350; SURVEY.md §2.8) — and the one
  * writer of every parquet table: [[append]], [[publish]] and [[rewrite]].
  *
  * Net reference semantics: per key, the last row in source order wins;
  * existing rows for other keys survive. Here that is a single window dedup
  * plus an anti-join union — two shuffles on the key, both of which disappear
  * at scale if the target table is bucketed by the key.
  *
  * A publish is the analog of the reference's single-transaction commit
  * (pdf_to_db.py:351) on plain parquet directories (the offline
  * environment has no Delta/Iceberg): rows go to the table's stage
  * (`<table>.stage/rows`), then a manifest (`<table>.stage/_GRAFT_COMMIT`,
  * one `<dir>\t<data|empty>` line per replaced directory: `.` for the
  * whole table, `col=v` for a bucket) lands by temp-then-rename — the
  * commit point — then each replaced directory is renamed into the stage
  * and its staged copy renamed in, and the stage is dropped. After a
  * publish returns, the table directory holds exactly its current files,
  * so every reader reads it as plain parquet.
  *
  * A crash before the commit leaves the table untouched; after it, the
  * staged copy persists until its rename lands, so no row is lost. The
  * entry step ([[enter]]) heals either case, idempotently: no stage,
  * nothing to do; a stage without a manifest is discarded; a manifest is
  * rolled forward. Every append, publish and rewrite runs it on its
  * table first, and an operation over several tables runs it on every
  * table it writes before it reads any of them, so no rewrite is derived
  * from a half-published table. Readers never repair: two actors rolling
  * the same publish forward could delete each other's new data. A reader
  * that overlaps a publish (or a crash inside one) can see a replaced
  * directory absent, never part-deleted; one writer per table.
  */
object MergeWriter {

  /** Keep exactly one row per key: the one with the greatest (orderCols) —
    * e.g. source position or event time. Deterministic only if orderCols is
    * a total order within each key (callers append a unique id). */
  def lastWriterWins(df: DataFrame, keys: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Merge an incoming batch into an existing snapshot: incoming rows replace
    * existing rows with the same key (full-column overwrite), keys absent
    * from incoming survive unchanged. `incoming` is deduped last-wins first. */
  def upsert(existing: DataFrame, incoming: DataFrame,
      keys: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val deduped = lastWriterWins(incoming, keys, orderCols)
    existing.join(deduped, keys, "left_anti").unionByName(deduped)
  }

  /** The parquet table at `path`, or None while it does not exist: the
    * path is checked on its own filesystem first, so an expected absence
    * logs nothing, and a table that a publish removes between the check
    * and the read is absent too. */
  def readIfPresent(spark: SparkSession, path: String): Option[DataFrame] =
    if (!fsOf(spark, path).exists(new Path(path))) None
    else try Some(spark.read.parquet(path))
    catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** What a publish replaces. */
  sealed trait Intent

  /** The whole table, partitioned by `by` when given. */
  final case class Whole(by: Option[String] = None) extends Intent

  /** The buckets `col=v` of a table partitioned by `col`, one per value:
    * a bucket with staged rows is replaced, one with none is deleted, and
    * every other bucket is never read or written. */
  final case class Buckets(col: String, values: Seq[Long]) extends Intent

  /** Append `rows` to `table`, partitioned by `by` when given. */
  def append(rows: DataFrame, table: String, by: Option[String] = None): Unit = {
    enter(rows.sparkSession, table)
    val w = rows.write.mode("append")
    by.fold(w)(w.partitionBy(_)).parquet(table)
  }

  /** Publish `rows` as `intent` of `table`. */
  def publish(rows: DataFrame, table: String, intent: Intent = Whole()): Unit = {
    enter(rows.sparkSession, table)
    commit(rows, table, intent)
  }

  /** Read `table` (None while absent) and publish what `rows` derives
    * from it as `intent`; None publishes nothing. */
  def rewrite(spark: SparkSession, table: String, intent: Intent = Whole())(
      rows: Option[DataFrame] => Option[DataFrame]): Unit = {
    enter(spark, table)
    rows(readIfPresent(spark, table)).foreach(commit(_, table, intent))
  }

  /** The entry step: finish or discard each table's crashed publish. One
    * existence probe per table when there is none. */
  def enter(spark: SparkSession, tables: String*): Unit = tables.foreach { table =>
    val fs = fsOf(spark, table)
    val stage = stageOf(table)
    if (fs.exists(stage)) {
      if (fs.exists(new Path(stage, Manifest))) rollForward(fs, table)
      else must(fs.delete(stage, true), "discard uncommitted stage", table)
    }
  }

  private val Manifest = "_GRAFT_COMMIT"

  private def stageOf(table: String) = new Path(table + ".stage")

  /** `dir` under `base`: `.` is `base` itself. */
  private def under(base: Path, dir: String) = if (dir == ".") base else new Path(base, dir)

  private def must(ok: Boolean, what: String, table: String): Unit =
    if (!ok) throw new java.io.IOException(s"publish: $what failed for $table")

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Stage, commit and roll forward (the table is entered). A bucket
    * staged outside the intent fails before the commit, table untouched:
    * it would stay out of the manifest and go with the stage. */
  private def commit(rows: DataFrame, table: String, intent: Intent): Unit = {
    val (by, dirs) = intent match {
      case Whole(by) => (by, Seq("."))
      case Buckets(c, vs) => (Some(c), vs.distinct.map(v => s"$c=$v"))
    }
    if (dirs.isEmpty) return
    val fs = fsOf(rows.sparkSession, table)
    val stage = stageOf(table)
    val staged = new Path(stage, "rows")
    val w = rows.write.mode("overwrite")
    by.fold(w)(w.partitionBy(_)).parquet(staged.toString)
    intent match {
      case Buckets(c, _) =>
        val orphans = fs.listStatus(staged).map(_.getPath.getName)
          .filter(n => n.startsWith(s"$c=") && !dirs.contains(n))
        if (orphans.nonEmpty) {
          fs.delete(stage, true)
          throw new java.io.IOException(s"publish: staged buckets " +
            s"${orphans.mkString(",")} not in the touched intent for $table — " +
            "rows and touched disagree")
        }
      case _ =>
    }
    val lines = dirs.map(d => s"$d\t${if (fs.exists(under(staged, d))) "data" else "empty"}")
    val tmp = new Path(stage, Manifest + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(lines.map(_ + "\n").mkString.getBytes("UTF-8"))
    finally out.close()
    must(fs.rename(tmp, new Path(stage, Manifest)), "commit manifest", table)
    rollForward(fs, table)
  }

  /** Execute a committed manifest, idempotently: a `data` directory
    * still staged replaces the current one (one already renamed in has
    * no staged copy left), an `empty` one is removed. A replaced
    * directory leaves by one rename into the stage, so a reader sees it
    * whole or absent, never part-deleted; the stage goes last, and the
    * replaced copies with it. */
  private def rollForward(fs: FileSystem, table: String): Unit = {
    val stage = stageOf(table)
    val in = fs.open(new Path(stage, Manifest))
    val lines = try
      scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toVector
    finally in.close()
    lines.foreach { line =>
      def corrupt(why: String) = new java.io.IOException(
        s"publish: corrupt manifest line '$line' for $table ($why)")
      val parts = line.split("\t", 2)
      if (parts.length != 2) throw corrupt("no tab")
      val cur = under(new Path(table), parts(0))
      val stg = under(new Path(stage, "rows"), parts(0))
      def retire(): Unit = if (fs.exists(cur)) {
        val gone = under(new Path(stage, "replaced"), parts(0))
        must(fs.mkdirs(gone.getParent), "create replaced dir", table)
        must(fs.rename(cur, gone), s"retire ${parts(0)}", table)
      }
      parts(1) match {
        case "data" =>
          if (fs.exists(stg)) {
            retire()
            must(fs.mkdirs(cur.getParent), "create table dir", table)
            must(fs.rename(stg, cur), s"publish ${parts(0)}", table)
          }
        case "empty" => retire()
        case other => throw corrupt(other)
      }
    }
    must(fs.delete(stage, true), "drop published stage", table)
  }
}
