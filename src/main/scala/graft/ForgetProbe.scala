package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Forget-cost probe — the empirical leg under the deletion-propagation
  * matrix (COVERAGE.md records the result table): ingest a replicated
  * corpus through one maintainer per forget MECHANISM CLASS, then time
  * the forget of ~2% of the ids (chosen from the LOW id range, i.e. the
  * base replica, so they include duplicate-group keepers — the min-repair
  * classes must actually repair, not skip). Classes measured:
  *
  *  - negative-delta decrement: `forgetState` over `StateFamily.Vocab` —
  *    O(deleted) recompute + append; the table is never rewritten;
  *  - exact id-granular deletion: `forgetState` over `StateFamily.Tf` —
  *    a partition-pruned rewrite of only the buckets holding forgotten
  *    ids plus the
  *    tombstone swap (this probe's doc_id %% 50 sample touches the 32
  *    even of 64 buckets, so the measured number reflects a half-table
  *    rewrite; a small forget request touches proportionally less);
  *  - decrement + min-repair: `forgetState` over `StateFamily.Chunk` —
  *    O(deleted) decrement plus ONE O(corpus) re-chunk pruned to the
  *    affected digests (paid
  *    only because keepers were hit — the probe's id choice guarantees
  *    it) plus the patch rewrite;
  *  - cross-doc repair: `forgetSpanState` — decrement + crossing-repair
  *    appends + two table rewrites (grams, report);
  *  - derived-at-read (no repair at all): `forgetScoreState` — row
  *    deletion only; re-bucketing happens at the next snapshot.
  *
  * Each timing is one run (forgets are idempotent but NOT repeatable-
  * as-identical — the second run's gone set is empty — so min-of-k
  * does not apply; the ingest column gives the scale context).
  *
  * Usage: `runMain graft.ForgetProbe [workDir] [replicas]` (defaults
  * /tmp/graft-forget and 10 → 50k docs from sf0.1). */
object ForgetProbe {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/tmp/graft-forget")
    val replicas = args.lift(1).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    ScaleProbe.generate(spark, src, "/root/testdata/sf0.1", replicas)

    val docs = spark.read.parquet(s"$src/documents.parquet")
      .select($"doc_id", $"source", $"text").localCheckpoint(true)
    val n = docs.count()
    // ~2% of ids, all from the base replica (ids < 10M). The keeper-hit
    // guarantee: every doc is the min holder of at least its own
    // doc-unique chunks/cells, and the base replica additionally holds
    // the min ids of the corpus's own duplicate groups — so the
    // min-repair classes below always have a nonempty affected set and
    // actually pay their repair pass
    val forgetIds = docs.filter($"doc_id" < 10000000L)
      .filter($"doc_id" % 50L === 0L)
      .select($"doc_id").localCheckpoint(true)
    val nf = forgetIds.count()
    println(s"PROBE corpus=$n forget=$nf replicas=$replicas")

    def time(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"PROF $label ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val work = java.nio.file.Files.createTempDirectory("forget-probe").toString

    // negative-delta class: vocabulary counts
    time("ingest_vocab") {
      graft.streaming.Streams.maintainState(docs.select($"doc_id", $"text"),
        s"$work/docsV", graft.streaming.StateFamily.Vocab -> s"$work/vocab")
    }
    time("forget_counts_negative_delta") {
      graft.streaming.Streams.forgetState(spark, forgetIds, s"$work/docsV",
        graft.streaming.StateFamily.Vocab -> s"$work/vocab")
    }

    // exact-deletion class: the retrieval tf table
    time("ingest_tf") {
      graft.streaming.Streams.maintainState(docs.select($"doc_id", $"text"),
        s"$work/docsT", graft.streaming.StateFamily.Tf -> s"$work/tf")
    }
    time("forget_tf_exact_deletion") {
      graft.streaming.Streams.forgetState(spark, forgetIds, s"$work/docsT",
        graft.streaming.StateFamily.Tf -> s"$work/tf")
    }

    // min-repair class: chunk-digest stats (keepers hit by id choice)
    time("ingest_chunks") {
      graft.streaming.Streams.maintainState(docs.select($"doc_id", $"text"),
        s"$work/docsC", graft.streaming.StateFamily.Chunk -> s"$work/chunks")
    }
    time("forget_chunks_min_repair") {
      graft.streaming.Streams.forgetState(spark, forgetIds, s"$work/docsC",
        graft.streaming.StateFamily.Chunk -> s"$work/chunks")
    }

    // cross-doc-repair class: span dedup
    time("ingest_spans") {
      graft.streaming.Streams.maintainSpanState(
        docs.select($"doc_id", $"text"), s"$work/grams", s"$work/scounts",
        s"$work/sreport", s"$work/docsS")
    }
    time("forget_spans_crossing_repair") {
      graft.streaming.Streams.forgetSpanState(spark, forgetIds,
        s"$work/grams", s"$work/scounts", s"$work/sreport", s"$work/docsS")
    }

    // derived-at-read class: perplexity scores under a frozen reference
    time("ingest_scores") {
      graft.streaming.Streams.buildRefState(
        docs.withColumn("lang", lit("en")).filter($"doc_id" < 100L),
        s"$work/ref")
      graft.streaming.Streams.maintainScoreState(
        docs, s"$work/ref", s"$work/scores", s"$work/docsP")
    }
    time("forget_scores_row_deletion") {
      graft.streaming.Streams.forgetScoreState(spark, forgetIds,
        s"$work/scores", s"$work/docsP")
    }
    spark.stop()
  }
}
