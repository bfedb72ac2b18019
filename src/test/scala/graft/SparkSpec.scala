package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session; Test/fork is
  * on, so suites in one forked JVM reuse it). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  /** The shared session, SELF-HEALING: anything fatal that stops the
    * JVM-wide context (an OOM'd executor thread, a fatal task error)
    * would otherwise poison every suite that runs after it — the
    * round-18 driver run lost DegenerateBatchSpec to exactly that
    * ("SparkContext has been shutdown"). getOrCreate skips a stopped
    * default session and builds a fresh one, so each suite's first
    * access gets a LIVE session; the per-suite lazy val in the trait
    * then pins it for that suite's lifetime. */
  def session: SparkSession = synchronized {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      // the suites re-plan the same catalog kernels many times over (one
      // catalog pass per shuffle-partition count or corpus); a codegen
      // cache that holds them all compiles each generated class once
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** (relative path → (length, mtime)) for every parquet data file under
    * `dir` — the append-only pin shared by the incremental-maintenance
    * specs: earlier batches' files must stay byte-identical in place. */
  def dataFiles(dir: String): Map[String, (Long, Long)] = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Path.of(dir)
    if (!Files.exists(root)) return Map.empty
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => (root.relativize(p).toString,
        (Files.size(p), Files.getLastModifiedTime(p).toMillis)))
      .toMap
    finally walk.close()
  }
}
