package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** BM25 serving-latency probe — the empirical leg under the retrieval
  * family's serving path (COVERAGE.md records the result table): ingest
  * a replicated corpus in batches through the dl-maintaining advance,
  * and AFTER EACH batch time the same fixed query workload through both
  * read paths:
  *
  *  - `bm25Snapshot` (derived stats): re-rolls doc lengths and the
  *    corpus dedup from the full tf table per workload — two
  *    corpus-sized shuffles whose cost grows with standing state;
  *  - `bm25ServeSnapshot` (maintained stats): one streaming scan into
  *    the broadcast query-term prune + the compact dl table — the
  *    corpus-sized SHUFFLES are gone; what remains that grows is the
  *    scan itself and the dl read.
  *
  * Three runs each, min reported (the serve calls are read-only, so
  * min-of-k applies, unlike the forget probe). The pruned-postings row
  * count is printed per step so the Σ_t df(t) claim is checkable
  * against the timings.
  *
  * Usage: `runMain graft.ServeProbe [workDir] [batches] [replicas]`
  * (defaults /tmp/graft-serve 5 25 → 5 batches of 25k docs). */
object ServeProbe {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/tmp/graft-serve")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(5)
    val replicas = args.lift(2).map(_.toInt).getOrElse(25)
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
      .select($"doc_id", $"text").localCheckpoint(true)
    val n = docs.count()
    println(s"PROBE corpus=$n batches=$nBatches replicas=$replicas")

    // a realistic mixed workload: common terms (high df) + rare
    // replica-suffixed terms (low df) + one OOV
    val workload = Seq(
      (0L, "the and of data"),
      (1L, "model training corpus"),
      (2L, "the_1 data_2 nosuchtokenanywhere")).toDF("query_id", "qtext")
      .localCheckpoint(true)

    def timeMin(label: String, runs: Int = 3)(f: => Long): Unit = {
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val rows = f
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      val best = times.map(_._1).min
      println(f"PROF $label $best%.2f s (rows=${times.head._2})")
    }

    val work = java.nio.file.Files.createTempDirectory("serve-probe").toString
    val (tfT, dlT, tokT, docT) =
      (s"$work/tf", s"$work/dl", s"$work/tok", s"$work/docs")
    // replica-interleaved batches (the guard-worst-case convention)
    val batches = (0 until nBatches).map(i =>
      docs.filter(pmod($"doc_id", lit(nBatches.toLong)) === i.toLong))

    batches.zipWithIndex.foreach { case (b, i) =>
      val t0 = System.nanoTime()
      graft.streaming.Streams.maintainState(b, docT,
        graft.streaming.StateFamily.Tf -> tfT, graft.streaming.StateFamily.Dl -> dlT,
        graft.streaming.StateFamily.TokTf -> tokT)
      val standing = spark.read.parquet(tfT).count()
      val pruned = spark.read.parquet(tfT)
        .join(broadcast(workload.select(
          explode(split($"qtext", " ")).as("tok")).distinct()), Seq("tok"))
        .count()
      println(f"ADVANCE batch=${i + 1} ${(System.nanoTime() - t0) / 1e9}%.2f s standing_tf=$standing pruned=$pruned")
      timeMin(s"serve_derived batch=${i + 1}") {
        graft.streaming.Streams.bm25Snapshot(spark, tfT, workload, 10).count()
      }
      // both dl-materialization strategies: the default recomputes the
      // dl snapshot from its 2-column scan per use (100 TB-safe — no
      // local-disk copy that grows with corpus rows); the opt-in
      // localCheckpoints it once per serve call (the pre-r15 behavior)
      timeMin(s"serve_maintained batch=${i + 1}") {
        graft.streaming.Streams.bm25ServeSnapshot(spark, tfT, dlT, workload, 10).count()
      }
      timeMin(s"serve_maintained_dlckpt batch=${i + 1}") {
        graft.streaming.Streams.bm25ServeSnapshot(spark, tfT, dlT, workload, 10,
          materialize = graft.queries.TextOps.localMaterialize).count()
      }
      timeMin(s"serve_tok_bucketed batch=${i + 1}") {
        graft.streaming.Streams.bm25ServeTokSnapshot(spark, tokT, dlT, workload, 10).count()
      }
    }

    // the three paths must agree bit-for-bit at final state
    val a = graft.streaming.Streams.bm25Snapshot(spark, tfT, workload, 10)
      .collect().map(_.toSeq.toList).toList
    val b = graft.streaming.Streams
      .bm25ServeSnapshot(spark, tfT, dlT, workload, 10)
      .collect().map(_.toSeq.toList).toList
    val c = graft.streaming.Streams
      .bm25ServeTokSnapshot(spark, tokT, dlT, workload, 10)
      .collect().map(_.toSeq.toList).toList
    require(a == b, "serving path diverged from derived path")
    require(a == c, "tok-bucketed path diverged from derived path")
    println(s"AGREE rows=${a.length}")
    spark.stop()
  }
}
