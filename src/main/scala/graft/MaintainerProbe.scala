package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Many-batch probe for the continuous maintainers — the empirical leg
  * under the O(batch)-per-advance claim that the one-batch gates
  * (pp05/pp10) and the 10× [[ScaleProbe]] cannot ground: per-advance
  * cost must stay FLAT as the standing state grows from empty to the
  * full corpus underneath the flow (COVERAGE.md records the tables).
  *
  * Round-9 regime change (round-8 verdict item 2): the default run is
  * DATA-DOMINANT — a 50× corpus (100k vectors / 250k docs, generated by
  * [[ScaleProbe.generate]]) in 5 disjoint batches of 20k vectors / 50k
  * docs, so each advance times data volume well above the ±0.7 s
  * scheduling/listing jitter floor the round-8 1,000-row batches sat
  * under. The old overhead-bound regime stays reachable via args.
  *
  * Vector leg: [[graft.streaming.Streams.maintainIvfState]] — postings,
  * sums AND the SemDedup drop-delta leg — plus
  * [[graft.streaming.Streams.maintainPqCodes]] (pp14's twin) on the same
  * batch stream, with the documented maintenance cadence
  * (compactIvfSums / compactSemDedupDrops / compactAppends) between
  * advances, timed separately — compaction is O(standing) by design
  * (its job is folding O(batches)-sized listings back to O(live keys));
  * the claim under test is that the ADVANCE is not. NEW (verdict item
  * 7): [[graft.streaming.Streams.rebuildIvfState]] fires MID-STREAM —
  * after half the batches, the quantizer is swapped for a freshly-seeded
  * one and the whole standing era (postings + codes + sums baseline) is
  * rebuilt, timed; the remaining advances run against the new quantizer,
  * and the probe ends by pinning seamlessness at probe scale: the
  * maintained postings row count equals the corpus and the IVF search
  * over the maintained state equals the search over a from-scratch
  * assignment under the post-rebuild quantizer. Round 18 adds the
  * maintained LSH serving index (pp38's loop) to the same stream: per
  * advance [[graft.streaming.Streams.maintainLshState]] at the era's
  * autoBits width, cadenced compactAppends, a mid-run
  * [[graft.streaming.Streams.rebuildLshState]] width-era swap (the
  * geometry stamp refuses the old width afterward), and an end-of-run
  * snapshot == vs04-kernel pin at the final width.
  *
  * Document leg: the counts-family maintainers (pp16 mix, pp17 dedup —
  * one batch-sized pass + appends; only standing touch is the id-guard
  * anti-join) PLUS, new this round, the two families with standing READS
  * in the advance, where state growth would actually show (verdict item
  * 2): [[graft.streaming.Streams.maintainSpanState]] (reads the standing
  * gram store via an anti-join and the standing counts rollup every
  * advance) and [[graft.streaming.StateFamily.Lm]] (delta-only
  * write; its standing read is the guard). Round 15 adds the sketch
  * families (pp29 CMS + vocab, pp31 HLL, pp32 quantile): their standing
  * summaries are size-BOUNDED by construction, so the term under test is
  * the appended-delta listings and the guard read between compactions.
  *
  * Usage: `runMain graft.MaintainerProbe [srcDir] [nBatches] [replicas]
  * [interleave|contig|cellwise|routed]` (defaults /tmp/graft-sf5, 5, 50, interleave —
  * the data-dominant regime; the round-8 overhead-bound regime is
  * `/tmp/graft-sf1 20 10`). The corpus is generated on first use;
  * delete the dir to regenerate. Batch modes: `interleave` (id mod k —
  * every batch touches every cell AND spans the whole id range, the
  * worst case for both the drop leg and the guard range-prune) vs
  * `contig` (consecutive replica blocks — the id-CLUSTERED ingest of a
  * monotonic production stream, where each advance's guard files hold
  * disjoint id ranges and `pruneToBatchRange`'s pushed predicate skips
  * them wholesale; comparing the two modes' mix/dedup columns measures
  * exactly what the prune buys).
  */
object MaintainerProbe {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/tmp/graft-sf5")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(5)
    val replicas = args.lift(2).map(_.toInt).getOrElse(50)
    val contig = args.lift(3).contains("contig")
    // "cellwise": batches grouped by ASSIGNED CELL (cell id mod nBatches)
    // — the cluster-routed arrival a topic-sharded production ingest
    // produces, and the regime the kNN-graph maintainer's touched-cell
    // partition prune exists for: each advance touches exactly 1/nBatches
    // of the cells, so the graph rewrite stages only those cid=
    // partitions. The contig (id-clustered) mode does NOT get this prune
    // for the graph: replica rotation decorrelates ids from cells, so an
    // id block still spans ~every cell — id-clustering buys the GUARD
    // range-prune (mix/dedup columns), cell-clustering buys the graph
    // prune; the two modes measure the two claims separately.
    val cellwise = args.lift(3).contains("cellwise")
    // "routed": DECORRELATED (interleaved) arrival fed through the
    // PRODUCTION cell-router (Streams.routeByCell + flushCellGroupsBatched) —
    // the round-18 closure of the r17 gap: cellwise grouped batches by
    // hand in the harness; this mode lets the shipped operator do it.
    // The knn-graph column becomes route + flush-advance per arrival
    // (each flushed wave is a cell-clustered micro-batch), and should
    // land in the cellwise column's band, NOT the interleaved one; the
    // end-of-run graph == full-build pin closes exactness after the
    // decommission drain.
    val routed = args.lift(3).contains("routed")
    val compactEvery = math.max(2, nBatches / 4)
    // rebuild fires after this many advances; clamped to >= 1 so a
    // single-batch run still exercises the era swap (rebuildAfter = 0
    // would skip the rebuild yet the end-of-run pins compare against a
    // from-scratch assignment under cents2 — a guaranteed spurious
    // failure)
    val rebuildAfter = math.max(1, nBatches / 2)
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
    ScaleProbe.generate(spark, src, "/root/testdata/sf0.1", replicas)

    val work = java.nio.file.Files.createTempDirectory("maintainer-probe").toString
    val (postT, sumsT, dropT) = (s"$work/postings", s"$work/sums", s"$work/drops")
    val codesT = s"$work/codes"
    val e = spark.read.parquet(s"$src/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = e.count()
    // production sizing rule: constant target cell size — nlist ∝ N
    // (ScaleProbe's companion-row rule; 8 cells at sf0.1 → 80 at 10×).
    // Centroid ids select base-replica rows only, like the probe's gates.
    val nlist = math.max(8, (n / 250).toInt)
    // NOT localCheckpointed: the per-batch block cleanup below must stay
    // a blanket sweep (each advance's own checkpoints), and a
    // checkpointed frame reused across batches would be destroyed by it;
    // assignCells collects the centroid rows per call anyway
    val cents = graft.queries.VectorOps.ivfCentroids(
      graft.queries.VectorOps.normed(e), nlist)
    // the mid-stream rebuild's retrained quantizer: same nlist, disjoint
    // seed window — a legitimately different fixed quantizer, the way a
    // periodic re-train lands (vs11 is the training job; the probe times
    // the DEPLOYMENT of its output over the standing era)
    val cents2 = graft.queries.VectorOps.normed(e)
      .filter(col("vec_id") >= nlist && col("vec_id") < 2L * nlist)
      .select(col("vec_id").as("cid"), col("q").as("cq"), col("nrm").as("cn"))
    // disjoint, same-sized batches: replica-interleaved (vec_id mod k —
    // every batch touches every cell, the worst case for the drop leg's
    // touched-cell restriction and for the guard range-prune) or
    // contiguous replica blocks (id-clustered ingest; replica stride is
    // ScaleProbe.generate's 10M)
    val rep = replicas / nBatches
    require(!contig || rep >= 1,
      s"contig mode needs replicas >= nBatches ($replicas < $nBatches)")
    // the LAST contig batch absorbs the replicas % nBatches remainder
    // (open upper bound) — with rep truncated, a fixed (k+1)*rep bound
    // would leave the trailing replicas outside every batch's id range,
    // and the end-of-run pins would fail with a misleading "drifted"
    // error instead of a coverage error
    def contigRange(c: org.apache.spark.sql.Column, k: Int) =
      if (k == nBatches - 1) c >= k.toLong * rep * 10000000L
      else c >= k.toLong * rep * 10000000L &&
        c < (k + 1).toLong * rep * 10000000L
    // cellwise batches are MATERIALIZED up front (untimed): the timed
    // advances must read a plain parquet batch, not pay a corpus-wide
    // assignment join inside every measured column. Zero-norm rows (no
    // cell) ride batch 0 so every row still arrives exactly once.
    val cellBatchDir = s"$work/cellbatches"
    if (cellwise) {
      val assigned = graft.queries.VectorOps.assignCells(
          graft.queries.VectorOps.normed(e), cents)
        .select(col("vec_id"), col("cid"))
      e.join(assigned, Seq("vec_id"), "left")
        .withColumn("kb", coalesce(pmod(col("cid"), lit(nBatches)), lit(0L)))
        .select(col("vec_id"), col("embedding"), col("kb"))
        // overwrite, not the ErrorIfExists default: safe today because
        // `work` is a fresh temp dir per run, but if this dir ever moves
        // next to the persistent generated artifacts (the
        // regenerate-on-delete convention) a second run must not crash
        .write.mode("overwrite").partitionBy("kb").parquet(cellBatchDir)
    }
    def batch(k: Int) =
      if (cellwise) spark.read.parquet(cellBatchDir)
        .filter(col("kb") === k).select(col("vec_id"), col("embedding"))
      else if (contig) e.filter(contigRange(col("vec_id"), k))
      else e.filter(pmod(col("vec_id"), lit(nBatches)) === k)

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // one throwaway advance on a scratch root so codegen/JIT land outside
    // the measured loop (its tables are then abandoned)
    // the PQ codes maintainer (pp14's twin) rides the same batch stream
    // against its own standing table — fixed codebook, like production
    val book = graft.queries.VectorOps.pqBookRows(
      graft.queries.VectorOps.normed(e))
    val warm = java.nio.file.Files.createTempDirectory("maintainer-warm").toString
    graft.streaming.Streams.maintainIvfState(batch(0), cents,
      s"$warm/postings", s"$warm/sums", Some(s"$warm/drops"))
    graft.streaming.Streams.maintainPqCodes(batch(0), cents, book,
      s"$warm/codes")
    // round-16: the kNN-GRAPH maintainer (pp24/pp36's continuous loop)
    // rides the same batch stream against its own postings + graph
    // tables, under the AUTO-SIZED quantizer — the one maintained family
    // the probe did not yet measure many-batch. It keeps the ORIGINAL
    // quantizer through the IVF leg's mid-stream rebuild on purpose: the
    // graph's era swaps at ITS OWN rebuild (a full vs13-shaped build),
    // not as a side effect of another family's — so its column is the
    // clean growing-standing-state measurement end to end.
    val (gPostT, graphT) = (s"$work/gpost", s"$work/graph")
    graft.streaming.Streams.maintainKnnGraphState(batch(0), cents,
      s"$warm/gpost", s"$warm/graph")
    // round-18: the maintained LSH serving index (pp38's continuous
    // loop) rides the same batch stream — the many-advance column the
    // one-batch gate and the 10x probe row could not ground. Width sized
    // at BUILD time from the first batch's count (the corpus known at
    // deployment); the mid-run rebuildLshState era swap re-sizes from
    // the standing count — the documented lifecycle, driven continuously
    // like the IVF/PQ legs.
    val lshIdxT = s"$work/lshidx"
    val lshTables = 4
    var lshBits = graft.operators.Ann.autoBits(n / nBatches, targetBucket = 512L)
    graft.streaming.Streams.maintainLshState(batch(0), lshBits, lshTables,
      s"$warm/lshidx")
    // the router's staging table (routed mode): groups mirror the
    // cellwise mode's cid-mod-nBatches grouping so the two columns
    // compare like for like. The flush threshold is ONE FULL BATCH per
    // group (n/nBatches): the first 50-replica session ran 2-arrivals'-
    // worth groups (8k rows) and measured the overhead multiplication
    // honestly — per-advance standing reads (guard probe, graph
    // snapshot) repeat per flushed group, so small groups re-pay them
    // 2-3x per arrival and the routed column landed at ~13-15 s, barely
    // under interleaved (~16.5) and nowhere near cellwise (~5-6). The
    // router's win is batch-sized cell-pure flushes: rows wait (latency,
    // bounded by the age trigger) so advances amortize — per-flushed-
    // group times are collected and printed for the cellwise comparison.
    val stageT = s"$work/stage"
    val routeFlushRows = math.max(1L, n / nBatches)
    val routedAdvances = scala.collection.mutable.ArrayBuffer.empty[Double]

    println(s"corpus: $n vectors, $nlist cells, $nBatches batches, " +
      s"rebuild after batch $rebuildAfter")
    println("| batch | rows | standing rows | advance s | pq-codes s | knn-graph s | lsh s | compact s |")
    println("|---|---|---|---|---|---|---|---|")
    var standing = 0L
    var activeCents = cents
    // Some(pq) after the mid-stream PQ-book retrain (the SECOND lifecycle
    // event the probe times): later advances encode under the trained
    // books, the way a deployment consumes rebuildPqState's output
    var trainedPq: Option[graft.queries.VectorOps.Pq] = None
    for (k <- 0 until nBatches) {
      val b = batch(k)
      val rows = b.count()
      val dt = time {
        graft.streaming.Streams.maintainIvfState(b, activeCents, postT, sumsT,
          Some(dropT))
      }
      val pt = time {
        trainedPq match {
          case Some(pq) => graft.streaming.Streams.maintainPqCodesTrained(
            b, activeCents, pq, codesT)
          case None => graft.streaming.Streams.maintainPqCodes(
            b, activeCents, book, codesT)
        }
      }
      val gt = time {
        if (routed) {
          // the deployable loop: stage the decorrelated arrival under the
          // standing quantizer, then advance the graph once per wave of
          // READY cell groups — the router's assignment pass is part of the
          // advance cost a deployment pays, so it is timed inside
          graft.streaming.Streams.routeByCell(b, cents, stageT, nBatches,
            k.toLong)
          graft.streaming.Streams.flushCellGroupsBatched(spark, stageT,
            minRows = routeFlushRows, maxLag = nBatches.toLong,
            curSeq = k.toLong) { rows =>
            val t0 = System.nanoTime()
            graft.streaming.Streams.maintainKnnGraphState(rows, cents,
              gPostT, graphT)
            routedAdvances += (System.nanoTime() - t0) / 1e9
          }
          ()
        } else
          graft.streaming.Streams.maintainKnnGraphState(b, cents, gPostT, graphT)
      }
      val lst = time {
        graft.streaming.Streams.maintainLshState(b, lshBits, lshTables,
          lshIdxT)
      }
      val ct =
        if ((k + 1) % compactEvery == 0) time {
          graft.streaming.Streams.compactIvfSums(spark, sumsT, postT)
          graft.streaming.Streams.compactSemDedupDrops(spark, dropT, postT)
          graft.streaming.Streams.compactAppends(spark, postT, cpus.toInt)
          graft.streaming.Streams.compactAppends(spark, codesT, cpus.toInt)
          graft.streaming.Streams.compactAppends(spark, gPostT, cpus.toInt)
          graft.streaming.Streams.compactAppends(spark, lshIdxT, cpus.toInt)
        } else -1.0
      standing += rows
      val cs = if (ct < 0) "" else f"$ct%.2f"
      println(f"| ${k + 1} | $rows | $standing | $dt%.2f | $pt%.2f | $gt%.2f | $lst%.2f | $cs |")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      if (k + 1 == rebuildAfter) {
        val rt = time {
          graft.streaming.Streams.rebuildIvfState(spark, cents2, postT, sumsT,
            Some((codesT, book)))
        }
        activeCents = cents2
        // ASCII only: the sbt console's default encoding mangles em-dashes
        println(f"| rebuild | - | $standing | $rt%.2f | - | - | - | - |")
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        // the LSH index's OWN era swap: re-size the width from the
        // standing count (autoBits), re-hash the stored quantized
        // vectors, swap — later advances run at the new width (the
        // geometry stamp refuses the old one)
        val newBits = graft.operators.Ann.autoBits(standing,
          targetBucket = 512L)
        val lrt = time {
          graft.streaming.Streams.rebuildLshState(spark, newBits, lshTables,
            lshIdxT)
        }
        lshBits = newBits
        println(f"| lsh-rebuild (bits $lshBits%d) | - | $standing | - | - | - | $lrt%.2f | - |")
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
      // one batch later, the PQ-book lifecycle: retrain the books from
      // the standing postings (one Lloyd iteration — the cheap periodic
      // cadence) and re-encode + swap the codes table; remaining
      // advances run under the trained books
      if (k + 1 == rebuildAfter + 1 && k + 1 < nBatches) {
        val rt = time {
          trainedPq = graft.streaming.Streams.rebuildPqState(
            spark, postT, codesT, iters = 1)
        }
        require(trainedPq.nonEmpty, "PQ retrain found no standing rows")
        println(f"| pq-rebuild | - | $standing | $rt%.2f | - | - | - | - |")
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
    }

    if (routed) {
      // decommission drain: everything still staged advances now — the
      // end-of-run graph pin below requires every arrival in the
      // maintained state, and the drain is itself a measured lifecycle
      // step (the age trigger's backstop)
      val dt = time {
        graft.streaming.Streams.flushCellGroupsBatched(spark, stageT,
          minRows = 1L, maxLag = 0L, curSeq = nBatches.toLong) { rows =>
          val t0 = System.nanoTime()
          graft.streaming.Streams.maintainKnnGraphState(rows, cents,
            gPostT, graphT)
          routedAdvances += (System.nanoTime() - t0) / 1e9
        }
      }
      println(f"| drain | - | $standing | - | - | $dt%.2f | - | - |")
      // the cellwise comparison: each flushed wave is a cell-clustered
      // micro-batch of >= routeFlushRows rows — these per-advance times are
      // the routed twin of the cellwise column
      println(s"routed flush advances (waves of >= $routeFlushRows-row groups): " +
        routedAdvances.map(t => f"$t%.2f").mkString(" s, ") + " s")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }

    // post-rebuild seamlessness at probe scale (RebuildStateSpec pins it
    // on a unit corpus): nothing lost or duplicated across the era swap
    // + half the advances on each side of it, and the search over the
    // MAINTAINED state is exactly the search over a from-scratch
    // assignment under the post-rebuild quantizer.
    val arrived = graft.queries.VectorOps.normed(e).localCheckpoint(true)
    val post = spark.read.parquet(postT)
    val realRows = post.filter(col("cid") >= 0).count()
    val arrivedRows = arrived.count()
    require(realRows == arrivedRows,
      s"postings drifted across rebuild: $realRows real rows vs $arrivedRows arrived")
    require(spark.read.parquet(codesT).filter(col("cid") >= 0).count() == arrivedRows,
      "codes table drifted across rebuild")
    val queries = arrived.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("nrm").as("qn"))
    def searchKey(postings: DataFrame): Set[(Long, Long, Int)] =
      graft.queries.VectorOps.ivfSearch(postings, queries, cents2,
          nProbe = 2, k = 3)
        .collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
          r.getAs[Int]("rank"))).toSet
    val maintained = searchKey(post.filter(col("cid") >= 0))
    val scratch = searchKey(graft.queries.VectorOps.assignCells(arrived, cents2))
    require(maintained.nonEmpty && maintained == scratch,
      "post-rebuild search drifted from from-scratch assignment")
    // the codes era after BOTH lifecycle events (quantizer swap, then
    // book retrain): ADC search over the maintained codes == search over
    // a from-scratch encode under (cents2, trained books)
    val pqEnd = trainedPq.getOrElse(graft.queries.VectorOps.pqOf(book))
    def pqSearchKey(codes: DataFrame): Set[(Long, Long, Int)] =
      graft.queries.VectorOps.ivfPqScore(codes,
          graft.queries.VectorOps.pqQueries(arrived, pqEnd), cents2, pqEnd, 3)
        .collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
          r.getAs[Int]("rank"))).toSet
    val maintainedPq = pqSearchKey(
      spark.read.parquet(codesT).filter(col("cid") >= 0))
    val scratchPq = pqSearchKey(graft.queries.VectorOps.pqCodesPostings(
      arrived, cents2, pqEnd))
    require(maintainedPq.nonEmpty && maintainedPq == scratchPq,
      "post-retrain ADC search drifted from from-scratch encode")
    println(s"post-rebuild pins: $realRows postings rows intact; " +
      s"search == from-scratch (${maintained.size} result rows); " +
      s"ADC search under trained books == from-scratch (${maintainedPq.size})")
    // the graph leg's end-of-run pin: the maintained graph equals the
    // full vs13-shaped build over everything arrived, under its era's
    // auto-sized quantizer (IncrementalKnnGraphStateSpec pins this on a
    // unit corpus; here it closes the loop at probe scale)
    def graphKey(g: DataFrame): Set[(Long, Long, Int)] = g
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val maintainedG = graphKey(
      graft.streaming.Streams.knnGraphSnapshot(spark, graphT))
    val scratchG = graphKey(graft.queries.VectorOps.knnGraph(
      graft.queries.VectorOps.assignCells(arrived, cents), 3))
    require(maintainedG.nonEmpty && maintainedG == scratchG,
      "maintained kNN graph drifted from the full build")
    println(s"knn-graph pin: maintained == full build (${maintainedG.size} edges)")
    // the LSH leg's end-of-run pin: after half the advances at the build
    // width, the era swap, and the rest at the rebuilt width, the
    // maintained index's search equals the vs04 batch kernel at the
    // final width (LshStateSpec pins this per-advance on a unit corpus;
    // here it closes the many-advance lifecycle at probe scale)
    val lshQueries = e.filter(col("vec_id") >= 10 && col("vec_id") < 20)
    def lshKey(d: DataFrame): Set[(Long, Long, Int)] = d
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rank"))).toSet
    val lshMaintained = lshKey(graft.streaming.Streams.lshSearchSnapshot(
      spark, lshQueries, lshIdxT, k = 5, lshBits, lshTables))
    val lshScratch = lshKey(graft.operators.Ann.lshTopK(lshQueries, e,
      "vec_id", "embedding", k = 5, bits = lshBits, tables = lshTables))
    require(lshMaintained.nonEmpty && lshMaintained == lshScratch,
      "maintained LSH index drifted from the batch kernel at the final width")
    println(s"lsh pin: maintained == batch kernel at bits=$lshBits " +
      s"(${lshMaintained.size} result rows)")

    // "vec" as arg 5 skips the document leg — the cellwise mode's claim
    // (the graph rewrite's touched-cell partition prune) lives entirely
    // in the vector leg, and the doc leg is ~half the run
    if (args.lift(4).contains("vec")) { spark.stop(); return }

    // ---- document-side leg: the counts-family maintainers (pp16 mix,
    // pp17 dedup) plus the two standing-READ families (pp06 spans, pp13
    // LM) over disjoint batches of the generated documents corpus.
    val docs = spark.read.parquet(s"$src/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    def docBatch(k: Int) =
      if (contig) docs.filter(contigRange(col("doc_id"), k))
      else docs.filter(pmod(col("doc_id"), lit(nBatches)) === k)
    val (mixT, mixDocT) = (s"$work/mix_counts", s"$work/mix_docs")
    val (dedT, dedDocT) = (s"$work/dedup_stats", s"$work/dedup_docs")
    val (spanGT, spanCT, spanRT, spanDocT) =
      (s"$work/span_grams", s"$work/span_counts", s"$work/span_report",
        s"$work/span_docs")
    val (lmT, lmDocT) = (s"$work/lm_counts", s"$work/lm_docs")
    val (chkT, chkDocT) = (s"$work/chunk_stats", s"$work/chunk_docs")
    val (percST, percPT, percDocT) =
      (s"$work/perc_sigs", s"$work/perc_pairs", s"$work/perc_docs")
    // round-12 families: scores (frozen ref built once, pre-stream),
    // the retrieval tf table, and the classifier training frame
    val (scoT, scoDocT) = (s"$work/scores", s"$work/score_docs")
    val (tfT, tfDocT) = (s"$work/tf", s"$work/tf_docs")
    val (ftT, fmT, flT, ftDocT) = (s"$work/feat_tstat", s"$work/feat_m",
      s"$work/feat_labels", s"$work/feat_docs")
    // round-15 families: the bounded-state sketches (pp29 CMS cells +
    // vocab probe side, pp31 HLL registers, pp32 quantile bottom-k
    // samples). Their standing SUMMARIES are size-bounded by
    // construction (d·w cells / 64 registers per source / k samples per
    // source), so the exposure this probe measures is the other term:
    // the appended-delta listings and the freshAgainst guard read, both
    // O(batches)-growing between compactions.
    val (cmsT, cmsVT, cmsDocT) =
      (s"$work/cms_cells", s"$work/cms_vocab", s"$work/cms_docs")
    val (hllT, hllDocT) = (s"$work/hll_regs", s"$work/hll_docs")
    val (qsT, qsDocT) = (s"$work/qs_samples", s"$work/qs_docs")
    // the quantile family's stream shape is (doc_id, source, v) — the
    // measured value here is doc length, ta24's n_chars analogue
    def qsBatch(k: Int) = docBatch(k).select(col("doc_id"), col("source"),
      length(col("text")).cast("long").as("v"))
    val refT = s"$work/ref"
    graft.streaming.Streams.buildRefState(
      spark.read.parquet(s"$src/documents.parquet")
        .select(col("doc_id"), col("source"), col("lang"), col("text"))
        .filter(col("doc_id") < 100L),
      refT)
    graft.streaming.Streams.maintainState(docBatch(0), s"$warm/mix_docs",
      graft.streaming.StateFamily.Mix -> s"$warm/mix")
    graft.streaming.Streams.maintainState(docBatch(0), s"$warm/ded_docs",
      graft.streaming.StateFamily.ExactDedup -> s"$warm/ded")
    graft.streaming.Streams.maintainSpanState(docBatch(0), s"$warm/span_g",
      s"$warm/span_c", s"$warm/span_r", s"$warm/span_docs")
    graft.streaming.Streams.maintainState(docBatch(0), s"$warm/lm_docs",
      graft.streaming.StateFamily.Lm -> s"$warm/lm")
    graft.streaming.Streams.maintainState(docBatch(0), s"$warm/chk_docs",
      graft.streaming.StateFamily.Chunk -> s"$warm/chk")
    graft.streaming.Streams.maintainPerceptualState(docBatch(0),
      s"$warm/perc_s", s"$warm/perc_p", s"$warm/perc_docs")
    graft.streaming.Streams.maintainScoreState(docBatch(0), refT,
      s"$warm/sco", s"$warm/sco_docs")
    graft.streaming.Streams.maintainState(docBatch(0), s"$warm/tf_docs",
      graft.streaming.StateFamily.Tf -> s"$warm/tf")
    graft.streaming.Streams.maintainState(docBatch(0), s"$warm/ft_docs",
      graft.streaming.StateFamily.Tstat -> s"$warm/ft",
      graft.streaming.StateFamily.M -> s"$warm/fm",
      graft.streaming.StateFamily.Labels -> s"$warm/fl")
    graft.streaming.Streams.maintainState(docBatch(0), s"$warm/cms_docs",
      graft.streaming.StateFamily.CmsCells -> s"$warm/cms",
      graft.streaming.StateFamily.Vocab -> s"$warm/cms_v")
    graft.streaming.Streams.maintainState(docBatch(0), s"$warm/hll_docs",
      graft.streaming.StateFamily.Hll -> s"$warm/hll")
    graft.streaming.Streams.maintainState(qsBatch(0), s"$warm/qs_docs",
      graft.streaming.StateFamily.Quantile -> s"$warm/qs")
    println()
    // the perceptual column runs CAPPED (maxBucket = 256, the dd13-style
    // hot-bucket treatment): the generated corpus's replicas collide on
    // band values by construction, and the uncapped advance measurably
    // grows with the standing store (batch × standing within hot
    // buckets) where every other maintainer is flat — the cap is the
    // production knob that restores the bounded advance, at the
    // documented recall trade
    println("| batch | rows | standing docs | mix s | dedup s | span s | lm s | chunk s | perc s (cap 256) | score s | tf s | feat s | cms s | hll s | qs s | compact s |")
    println("|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|")
    var docStanding = 0L
    for (k <- 0 until nBatches) {
      val b = docBatch(k)
      val rows = b.count()
      val mt = time {
        graft.streaming.Streams.maintainState(b, mixDocT,
          graft.streaming.StateFamily.Mix -> mixT)
      }
      val ddt = time {
        graft.streaming.Streams.maintainState(b, dedDocT,
          graft.streaming.StateFamily.ExactDedup -> dedT)
      }
      val st = time {
        graft.streaming.Streams.maintainSpanState(b, spanGT, spanCT, spanRT,
          spanDocT)
      }
      val lt = time {
        graft.streaming.Streams.maintainState(b, lmDocT,
          graft.streaming.StateFamily.Lm -> lmT)
      }
      val kt = time {
        graft.streaming.Streams.maintainState(b, chkDocT,
          graft.streaming.StateFamily.Chunk -> chkT)
      }
      val pt = time {
        graft.streaming.Streams.maintainPerceptualState(b, percST, percPT,
          percDocT, maxBucket = Some(256))
      }
      val sct = time {
        graft.streaming.Streams.maintainScoreState(b, refT, scoT, scoDocT)
      }
      val tft = time {
        graft.streaming.Streams.maintainState(b, tfDocT,
          graft.streaming.StateFamily.Tf -> tfT)
      }
      val ftt = time {
        graft.streaming.Streams.maintainState(b, ftDocT,
          graft.streaming.StateFamily.Tstat -> ftT,
          graft.streaming.StateFamily.M -> fmT,
          graft.streaming.StateFamily.Labels -> flT)
      }
      val cmt = time {
        graft.streaming.Streams.maintainState(b, cmsDocT,
          graft.streaming.StateFamily.CmsCells -> cmsT,
          graft.streaming.StateFamily.Vocab -> cmsVT)
      }
      val hlt = time {
        graft.streaming.Streams.maintainState(b, hllDocT,
          graft.streaming.StateFamily.Hll -> hllT)
      }
      val qst = time {
        graft.streaming.Streams.maintainState(qsBatch(k), qsDocT,
          graft.streaming.StateFamily.Quantile -> qsT)
      }
      val ct =
        if ((k + 1) % compactEvery == 0) time {
          graft.streaming.Streams.compactState(spark, mixDocT,
            graft.streaming.StateFamily.Mix -> mixT)
          graft.streaming.Streams.compactState(spark, dedDocT,
            graft.streaming.StateFamily.ExactDedup -> dedT)
          graft.streaming.Streams.compactSpanCounts(spark, spanCT, spanDocT)
          graft.streaming.Streams.compactSpanReport(spark, spanRT, spanDocT)
          graft.streaming.Streams.compactAppends(spark, spanGT, cpus.toInt)
          graft.streaming.Streams.compactState(spark, lmDocT,
            graft.streaming.StateFamily.Lm -> lmT)
          graft.streaming.Streams.compactState(spark, chkDocT,
            graft.streaming.StateFamily.Chunk -> chkT)
          graft.streaming.Streams.compactAppends(spark, percST, cpus.toInt)
          graft.streaming.Streams.compactScores(spark, scoT)
          graft.streaming.Streams.compactState(spark, tfDocT,
            graft.streaming.StateFamily.Tf -> tfT)
          graft.streaming.Streams.compactState(spark, ftDocT,
            graft.streaming.StateFamily.Tstat -> ftT,
            graft.streaming.StateFamily.M -> fmT,
            graft.streaming.StateFamily.Labels -> flT)
          graft.streaming.Streams.compactState(spark, cmsDocT,
            graft.streaming.StateFamily.CmsCells -> cmsT,
            graft.streaming.StateFamily.Vocab -> cmsVT)
          graft.streaming.Streams.compactState(spark, hllDocT,
            graft.streaming.StateFamily.Hll -> hllT)
          graft.streaming.Streams.compactState(spark, qsDocT,
            graft.streaming.StateFamily.Quantile -> qsT)
        } else -1.0
      docStanding += rows
      val cs = if (ct < 0) "" else f"$ct%.2f"
      println(f"| ${k + 1} | $rows | $docStanding | $mt%.2f | $ddt%.2f | $st%.2f | $lt%.2f | $kt%.2f | $pt%.2f | $sct%.2f | $tft%.2f | $ftt%.2f | $cmt%.2f | $hlt%.2f | $qst%.2f | $cs |")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    spark.stop()
  }
}
