package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage-budget probe for the heaviest catalog gates — answers "WHERE
  * does the gate's wall time go?" by timing each plan component in
  * isolation (min of 3, noop-sink materialized, Bench's discipline), so
  * a round's optimization effort lands on the dominant stage instead of
  * guessing. COVERAGE.md records each probe's result table; currently
  * implemented: ta17 (reference-LM perplexity bucketing — the corpus
  * bigram rollup vs the reference derivation vs the scoring join vs the
  * distributed rank), plus the FUSED single-explode alternative the
  * round-11 judge suggested (is_ref carried on the rollup, reference
  * derived from the checkpointed rollup instead of a second pushed-
  * filter scan) so its cost can be compared instead of argued.
  *
  * Round-18 addition: `dedup` mode — stage budget for the MinHash/LSH
  * cluster family (dd06/dd14/sa11/pp04/pp37 share `dupClusters`; dd02/
  * dd05/dd07/dd13/pp02 share the shingle pass): times the signature UDF
  * pass, the band projection, the bucket→CC clustering, and the shingle
  * UDF pass in isolation, so kernel-promotion effort lands on the
  * dominant stage.
  *
  * Usage: `runMain graft.StageProbe [sfDir] [mode]` (default
  * /root/testdata/sf0.1; mode ta17|dedup|comp|pp33|export|cdc|pp39,
  * default ta17 — an unknown mode fails fast instead of silently
  * running the default probe). */
object StageProbe {
  private val Modes = Set("ta17", "dedup", "comp", "pp33", "export", "cdc", "pp39")
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mode = if (args.length > 1) args(1) else "ta17"
    require(Modes(mode),
      s"StageProbe: unknown mode '$mode' (expected ${Modes.toSeq.sorted.mkString("|")})")
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
    import graft.functions.Text

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(label: String)(f: => Unit): Unit = {
      // JIT/codegen warm pass, then 3 measured runs, min + all printed
      f
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime; f; (System.nanoTime - t0) / 1e9
      }
      println(f"PROF $label min=${ts.min}%.2f runs=[${ts.map(t => f"$t%.2f").mkString(",")}]")
    }

    val docs = Tables.documents(spark, d)

    if (mode == "dedup") {
      // S1: the one-pass MinHash signature UDF (dd06's row-local path)
      time("D1_minhash_sigs") {
        noop(docs.select($"doc_id", Text.minhashSigs($"text").as("sigs")))
      }
      // S2: signatures + band-key projection + posexplode (sigBandsLocal)
      time("D2_sig_bands_local") {
        noop(docs.select($"doc_id", Text.minhashSigs($"text").as("sigs"))
          .filter($"sigs".isNotNull)
          .select($"doc_id", posexplode(Text.bandKeys($"sigs"))))
      }
      // S3: the full dd06 clustering (bands → bucket CC → labels)
      time("D3_dd06_full") {
        noop(graft.queries.Catalog.byName("dd06_dup_clusters").fn(spark, d))
      }
      // S4: the distinct-shingle UDF pass (dd02/dd05/dd07/dd13's frame)
      time("D4_shingles_udf") {
        noop(docs.select($"doc_id", Text.shingles($"text", 3).as("arr"))
          .select($"doc_id", size($"arr").as("sz"), explode($"arr").as("sh")))
      }
      // S5: dd14 full (dd06 + score join) for the family headline
      time("D5_dd14_full") {
        noop(graft.queries.Catalog.byName("dd14_canonical_keep").fn(spark, d))
      }
      spark.stop()
      return
    }

    if (mode == "export") {
      // Leg budget for the export pipeline gates (pp01/pp11): the
      // composed stages re-expressed inline (same kernels), so the
      // optimization effort lands on the dominant stage. E1/E2/E3 are
      // cumulative prefixes of pp01's chain; E4/E5 the full gates.
      import org.apache.spark.sql.expressions.Window
      val q1 = docs.withColumn("__t", Text.tokens($"text"))
        .filter(size($"__t") >= 20 &&
          size(array_distinct($"__t")).cast("double") / size($"__t") >= 0.3)
        .drop("__t")
      time("E1_quality_filter") { noop(q1) }
      val q2 = q1.withColumn("__k",
          min($"doc_id").over(Window.partitionBy(md5($"text"))))
        .filter($"doc_id" === $"__k").drop("__k")
      time("E2_exact_dup_window") { noop(q2) }
      time("E3_shingle_rows_q2") {
        noop(q2.select($"doc_id", Text.shingles($"text", 3).as("arr"))
          .select($"doc_id", size($"arr").as("sz"), explode($"arr").as("sh")))
      }
      time("E4_pp01_full") {
        noop(graft.queries.Catalog.byName("pp01_export_pipeline").fn(spark, d))
      }
      time("E5_pp11_full") {
        noop(graft.queries.Catalog.byName("pp11_export_sharded").fn(spark, d))
      }
      spark.stop()
      return
    }

    if (mode == "cdc") {
      // Leg budget for the multimodal perceptual/CDC gates (mm04/mm05/
      // pp19/pp21): the row-local kernel passes in isolation vs the full
      // gates, so the next cut lands on the dominant stage.
      val blobbed = docs.withColumn("blob", encode($"text", "UTF-8"))
      time("C1_cdc_chunk_rows") {
        noop(graft.operators.Multimodal.cdcChunks(blobbed, "doc_id", "blob"))
      }
      time("C2_mm05_full") {
        noop(graft.queries.Catalog.byName("mm05_chunk_dedup").fn(spark, d))
      }
      time("C3_mm04_full") {
        noop(graft.queries.Catalog.byName("mm04_perceptual_dedup").fn(spark, d))
      }
      time("C4_pp19_full") {
        noop(graft.queries.Catalog.byName("pp19_incremental_perceptual").fn(spark, d))
      }
      time("C5_pp21_full") {
        noop(graft.queries.Catalog.byName("pp21_incremental_chunks").fn(spark, d))
      }
      spark.stop()
      return
    }

    if (mode == "pp39") {
      // Wave budget for the cell-routed graph gate: route pass alone,
      // then the full gate — the advance count is the gate's price.
      time("R1_route_pass") {
        val e = graft.Tables.embeddings(spark, d).select($"vec_id", $"embedding")
        val cents = graft.queries.VectorOps.ivfCentroids(
          graft.queries.VectorOps.normed(e)).localCheckpoint(true)
        val root = java.nio.file.Files.createTempDirectory("probe-pp39").toString
        graft.streaming.Streams.routeByCell(e, cents, s"$root/stage",
          groups = 2, seq = 0L)
      }
      time("R2_pp39_full") {
        noop(graft.queries.Catalog.byName("pp39_cell_routed_graph").fn(spark, d))
      }
      spark.stop()
      return
    }

    if (mode == "comp") {
      // lean composite-gate A/B: just the two full gates, nothing else in
      // the session — the bisect harness for the round-18 composite work
      time("G1_pp33_full") {
        noop(graft.queries.Catalog.byName("pp33_incremental_pipeline").fn(spark, d))
      }
      time("G2_pp34_full") {
        noop(graft.queries.Catalog.byName("pp34_incremental_multimodal").fn(spark, d))
      }
      spark.stop()
      return
    }

    if (mode == "pp33") {
      // Leg budget for the composite maintainer gates (pp33/pp34): build
      // the five families' standing state once through the SAME public
      // Streams API the gate uses, then time each snapshot leg and the
      // full gate — so composite-optimization effort lands on the
      // dominant leg.
      val st = graft.streaming.Streams
      val dir = java.nio.file.Files.createTempDirectory("probe-pp33").toString
      val dall = docs.select($"doc_id", $"source", $"lang", $"text")
        .localCheckpoint(true)
      val isNew = graft.functions.HashExpressions.md5Fold32(
        concat(lit("pipe:"), $"doc_id".cast("string"))) % 5 === 0
      st.buildRefState(dall, s"$dir/ref")
      for (b <- Seq(dall.filter(!isNew), dall.filter(isNew))) {
        st.maintainState(b.select($"doc_id", $"text"), s"$dir/xdocs",
          graft.streaming.StateFamily.ExactDedup -> s"$dir/xstats")
        st.maintainScoreState(b, s"$dir/ref", s"$dir/scores", s"$dir/sdocs")
        st.maintainState(b.select($"doc_id", $"text"), s"$dir/tdocs",
          graft.streaming.StateFamily.Tf -> s"$dir/tf",
          graft.streaming.StateFamily.Dl -> s"$dir/dl")
        st.maintainState(b.select($"doc_id", $"text"), s"$dir/cdocs",
          graft.streaming.StateFamily.CmsCells -> s"$dir/cells",
          graft.streaming.StateFamily.Vocab -> s"$dir/vocab")
        st.maintainState(b, s"$dir/hdocs",
          graft.streaming.StateFamily.Hll -> s"$dir/regs")
      }
      time("L1_dedup_snapshot") { noop(st.dedupSnapshot(spark, s"$dir/xstats")) }
      time("L2_score_snapshot") { noop(st.scoreSnapshot(spark, s"$dir/scores")) }
      // ta18's fixed workload, inlined (TA18_QUERIES is queries-private)
      val ta18q = Seq(1L -> "vector index scan", 2L -> "customer order join",
        3L -> "stream window watermark", 4L -> "hash",
        5L -> "slow query filter sort").toDF("query_id", "qtext")
      time("L3_bm25_serve") {
        noop(st.bm25ServeSnapshot(spark, s"$dir/tf", s"$dir/dl", ta18q, 10))
      }
      time("L3a_dl_snapshot") { noop(st.foldState(spark,
        graft.streaming.StateFamily.Dl, s"$dir/dl")) }
      time("L3b_tf_scan") { noop(spark.read.parquet(s"$dir/tf")) }
      time("L3c_bm25_serve_dlpinned") {
        noop(st.bm25ServeSnapshot(spark, s"$dir/tf", s"$dir/dl", ta18q, 10,
          materialize = _.localCheckpoint(true)))
      }
      time("L4_cms_snapshot") {
        noop(st.cmsSnapshot(spark, s"$dir/cells", s"$dir/vocab"))
      }
      time("L5_hll_snapshot") { noop(st.hllSnapshot(spark, s"$dir/regs")) }
      // compacted-state re-run: the production cadence runs the family
      // compactors between advances; measure what the snapshot legs pay
      // for the UNcompacted 2-advance layout vs the compacted one
      st.compactState(spark, s"$dir/xdocs",
        graft.streaming.StateFamily.ExactDedup -> s"$dir/xstats")
      st.compactScores(spark, s"$dir/scores")
      st.compactState(spark, s"$dir/tdocs",
        graft.streaming.StateFamily.Tf -> s"$dir/tf",
        graft.streaming.StateFamily.Dl -> s"$dir/dl")
      st.compactState(spark, s"$dir/cdocs",
        graft.streaming.StateFamily.CmsCells -> s"$dir/cells")
      st.compactState(spark, s"$dir/hdocs",
        graft.streaming.StateFamily.Hll -> s"$dir/regs")
      time("C1_dedup_snapshot") { noop(st.dedupSnapshot(spark, s"$dir/xstats")) }
      time("C2_score_snapshot") { noop(st.scoreSnapshot(spark, s"$dir/scores")) }
      time("C3_bm25_serve") {
        noop(st.bm25ServeSnapshot(spark, s"$dir/tf", s"$dir/dl", ta18q, 10))
      }
      time("C4_cms_snapshot") {
        noop(st.cmsSnapshot(spark, s"$dir/cells", s"$dir/vocab"))
      }
      time("L6_pp33_full") {
        noop(graft.queries.Catalog.byName("pp33_incremental_pipeline").fn(spark, d))
      }
      time("L7_pp34_full") {
        noop(graft.queries.Catalog.byName("pp34_incremental_multimodal").fn(spark, d))
      }
      spark.stop()
      return
    }

    def mRoll = docs
      .select($"doc_id", $"source",
        explode(Text.wordNGrams(Text.tokens($"text"), 2)).as("bigram"))
      .groupBy($"doc_id", $"source", $"bigram").agg(count(lit(1)).as("m"))

    // S0: the full gate (rollup + ref + scoring + distributed rank)
    time("S0_full_ta17") {
      noop(graft.queries.Catalog.byName("ta17_ref_perplexity").fn(spark, d))
    }
    // S1: the corpus per-(doc, source, bigram) rollup alone
    time("S1_m_rollup") { noop(mRoll) }
    // S2: the reference derivation alone (pushed-filter slice re-explode)
    time("S2_ref_counts") { noop(graft.queries.TextOps.refLmCounts(docs)) }
    // S3: the scored frame, current shape (S1 + S2 + join + per-doc agg)
    time("S3_scored_current") {
      noop(graft.queries.TextOps.refSurprise(
        docs, graft.queries.TextOps.refLmCounts(docs)))
    }
    // S4: the FUSED alternative — ONE explode, is_ref carried, reference
    // derived from the checkpointed rollup (corpus-sized checkpoint: the
    // cost that rules it out at 100 TB unless it wins big here)
    time("S4_scored_fused") {
      val m = docs.select($"doc_id", $"source",
          ($"lang" === "en" && $"doc_id" < 100L).as("is_ref"),
          explode(Text.wordNGrams(Text.tokens($"text"), 2)).as("bigram"))
        .groupBy($"doc_id", $"source", $"is_ref", $"bigram")
        .agg(count(lit(1)).as("m"))
        .localCheckpoint(true)
      val ref = m.filter($"is_ref").groupBy($"bigram").agg(sum($"m").as("n"))
      val t = ref.agg(sum($"n").as("t"))
      noop(m.join(ref, Seq("bigram"), "left").crossJoin(broadcast(t))
        .groupBy($"doc_id", $"source")
        .agg(sum($"m" * expr("(10000 * t) div (coalesce(n, 0L) + 1)"))
          .as("score")))
    }
    spark.stop()
  }
}
