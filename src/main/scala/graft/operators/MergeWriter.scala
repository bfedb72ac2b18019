package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed last-writer-wins merge — the Spark re-expression of the reference's
  * row-at-a-time `INSERT … ON DUPLICATE KEY UPDATE` loop
  * (pdf_to_db.py:202-244, loop at :347-350; SURVEY.md §2.8).
  *
  * Net reference semantics: per key, the last row in source order wins;
  * existing rows for other keys survive. Here that is a single window dedup
  * plus an anti-join union — two shuffles on the key, both of which disappear
  * at scale if the target table is bucketed by the key.
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
    * logs nothing, and a table that a swap removes between the check and
    * the read is absent too. */
  def readIfPresent(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[DataFrame] =
    if (!fsOf(spark, path).exists(new org.apache.hadoop.fs.Path(path))) None
    else try Some(spark.read.parquet(path))
    catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** Atomic snapshot overwrite: write to a temp dir, then swap directories.
    * Parquet-on-filesystem stand-in for a transactional table format (the
    * offline environment has no Delta/Iceberg); the swap is the analog of
    * the reference's single-transaction commit (pdf_to_db.py:351). */
  def overwriteAtomic(df: DataFrame, path: String): Unit =
    overwriteAtomicImpl(df, path, None)

  /** [[overwriteAtomic]] staging the snapshot PARTITIONED by `partCol`
    * — the whole-table rewrite that PRESERVES (or first establishes) a
    * partition layout, e.g. migrating a flat doc-keyed table to the
    * pt-bucketed contract in one atomic swap. */
  def overwriteAtomicPartitioned(df: DataFrame, path: String,
      partCol: String): Unit =
    overwriteAtomicImpl(df, path, Some(partCol))

  private def overwriteAtomicImpl(df: DataFrame, path: String,
      partCol: Option[String]): Unit = {
    val tmp = path + ".staging"
    val w = df.write.mode("overwrite")
    partCol.fold(w)(w.partitionBy(_)).parquet(tmp)
    // resolve the filesystem FROM the path (not FileSystem.get's default
    // FS): on a scheme-qualified table (s3a://, hdfs://) the swap must
    // run against the table's filesystem — the fsOf convention below
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(path)
    val bak = new org.apache.hadoop.fs.Path(path + ".old")
    // FileSystem.rename/delete signal failure by RETURN VALUE, not by
    // throwing — ignoring it would report success with a stale table and
    // the new snapshot stranded in .staging
    def must(ok: Boolean, what: String): Unit =
      if (!ok) throw new java.io.IOException(s"overwriteAtomic: $what failed for $path")
    if (fs.exists(bak)) must(fs.delete(bak, true), "delete old backup")
    if (fs.exists(dst)) must(fs.rename(dst, bak), "backup current snapshot")
    must(fs.rename(new org.apache.hadoop.fs.Path(tmp), dst), "publish staging")
    if (fs.exists(bak)) must(fs.delete(bak, true), "drop backup")
  }

  private val PartStageSuffix = ".pstaging"
  private val PartManifest = "_GRAFT_COMMIT"

  private def must(ok: Boolean, what: String, path: String): Unit =
    if (!ok) throw new java.io.IOException(
      s"overwritePartitionsAtomic: $what failed for $path")

  private def fsOf(df: org.apache.spark.sql.SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path).getFileSystem(
      df.sparkContext.hadoopConfiguration)

  /** Per-partition atomic overwrite for a `partCol=<v>`-layout parquet
    * table — [[overwriteAtomic]]'s stage-then-publish discipline applied
    * per partition, replacing Spark's dynamic partition overwrite (whose
    * per-partition delete-then-rename commit can lose a touched
    * partition's surviving rows on a hard crash inside the window).
    * `touched` is the job's full intent: a touched value with staged
    * rows is REPLACED, a touched value with NO staged rows is DELETED
    * (the emptied-partition case dynamic overwrite cannot express — it
    * writes no rows there, so it cannot clear the directory), and an
    * untouched partition is never read or written. The manifest —
    * written into the stage directory and made visible by an atomic
    * rename — is the commit point: before it exists the table is
    * untouched and a crash discards the stage; after it exists the
    * publish is an idempotent roll-forward (each partition is either
    * still staged, mid-swap, or already published — all three re-run to
    * the same end state), completed by [[repairPartitionedTable]].
    * Crash visibility, stated honestly: between a mid-publish crash and
    * the repair, readers can see a touched partition ABSENT — the same
    * transient [[overwriteAtomic]] has mid-swap — but no row is ever
    * LOST: the staged copy persists until its rename lands. Single
    * writer per table (the forget/compact jobs' standing
    * single-maintenance-loop contract); callers that derive `rows` from
    * the table itself must run [[repairPartitionedTable]] BEFORE that
    * read, or a pending crashed publish reads as missing rows. */
  def overwritePartitionsAtomic(rows: DataFrame, table: String,
      partCol: String, touched: Seq[Long]): Unit = {
    val spark = rows.sparkSession
    repairPartitionedTable(spark, table, partCol)
    if (touched.isEmpty) return
    val fs = fsOf(spark, table)
    val stage = new org.apache.hadoop.fs.Path(table + PartStageSuffix)
    rows.write.mode("overwrite").partitionBy(partCol).parquet(stage.toString)
    // every staged partition must be in the intent: a value present in
    // `rows` but missing from `touched` would stage, stay out of the
    // manifest, and be silently destroyed when the published stage is
    // dropped — fail BEFORE the manifest commits, with the table
    // untouched, instead of returning success minus some rows
    val staged = fs.listStatus(stage).map(_.getPath.getName)
      .filter(_.startsWith(s"$partCol=")).map(_.stripPrefix(s"$partCol="))
    val touchedSet = touched.map(_.toString).toSet
    val orphans = staged.filterNot(touchedSet)
    if (orphans.nonEmpty) {
      fs.delete(stage, true)
      throw new java.io.IOException(
        s"overwritePartitionsAtomic: staged partitions ${orphans.mkString(",")} " +
          s"not in the touched intent for $table — rows and touched disagree")
    }
    val lines = touched.distinct.map { v =>
      val has = fs.exists(
        new org.apache.hadoop.fs.Path(stage, s"$partCol=$v"))
      s"$v\t${if (has) "data" else "empty"}"
    }
    // manifest lands by RENAME — a crash mid-write leaves only the .tmp,
    // which the pre-commit recovery path discards with the stage
    val tmp = new org.apache.hadoop.fs.Path(stage, PartManifest + ".tmp")
    val out = fs.create(tmp, true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    must(fs.rename(tmp, new org.apache.hadoop.fs.Path(stage, PartManifest)),
      "commit manifest", table)
    publishStaged(fs, table, partCol)
  }

  /** Recover a partitioned table from a crashed
    * [[overwritePartitionsAtomic]]: a stage WITHOUT a manifest never
    * committed (the table is untouched — drop the stage); a stage WITH
    * a manifest committed (roll the publish forward to completion).
    * Runs automatically at the next overwrite of the same table; expose
    * it at deployment startup (and before any maintenance op that READS
    * the table to derive its own rewrite) so a crash heals at the first
    * opportunity rather than the next overwrite. No-op when no stage
    * exists — one existence probe. */
  def repairPartitionedTable(spark: org.apache.spark.sql.SparkSession,
      table: String, partCol: String): Unit = {
    val fs = fsOf(spark, table)
    val stage = new org.apache.hadoop.fs.Path(table + PartStageSuffix)
    if (!fs.exists(stage)) return
    if (fs.exists(new org.apache.hadoop.fs.Path(stage, PartManifest)))
      publishStaged(fs, table, partCol)
    else must(fs.delete(stage, true), "discard uncommitted stage", table)
  }

  /** The roll-forward half: execute the manifest's intent, idempotently.
    * For a `data` partition still in the stage: delete the current
    * directory (if any), rename the staged one in; a partition already
    * renamed in by a prior crashed pass has no staged copy left and is
    * skipped (its current directory IS the staged data). For an `empty`
    * partition: delete the current directory. Stage dir dropped last —
    * by then every staged partition has been renamed out, so the drop
    * removes only write metadata. */
  private def publishStaged(fs: org.apache.hadoop.fs.FileSystem,
      table: String, partCol: String): Unit = {
    val stage = new org.apache.hadoop.fs.Path(table + PartStageSuffix)
    val manifest = new org.apache.hadoop.fs.Path(stage, PartManifest)
    val in = fs.open(manifest)
    val lines = try
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toVector
    finally in.close()
    val tableDir = new org.apache.hadoop.fs.Path(table)
    if (!fs.exists(tableDir)) must(fs.mkdirs(tableDir), "create table dir", table)
    lines.foreach { line =>
      // a tab-less line must hit the corrupt-manifest error below, not a
      // MatchError from a failed destructuring
      val parts = line.split("\t", 2)
      if (parts.length != 2) throw new java.io.IOException(
        s"overwritePartitionsAtomic: corrupt manifest line '$line' for $table (no tab)")
      val Array(v, kind) = parts
      val cur = new org.apache.hadoop.fs.Path(tableDir, s"$partCol=$v")
      val stg = new org.apache.hadoop.fs.Path(stage, s"$partCol=$v")
      kind match {
        case "data" =>
          if (fs.exists(stg)) {
            if (fs.exists(cur)) must(fs.delete(cur, true),
              s"clear partition $partCol=$v", table)
            must(fs.rename(stg, cur), s"publish partition $partCol=$v", table)
          }
        case "empty" =>
          if (fs.exists(cur)) must(fs.delete(cur, true),
            s"drop emptied partition $partCol=$v", table)
        case other => throw new java.io.IOException(
          s"overwritePartitionsAtomic: corrupt manifest line '$line' for $table ($other)")
      }
    }
    must(fs.delete(stage, true), "drop published stage", table)
  }
}
