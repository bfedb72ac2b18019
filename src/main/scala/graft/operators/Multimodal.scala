package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing for training-data pipelines: image/audio/video
  * travel as opaque `binary` columns with typed metadata, and per-modality
  * transforms (decode, resize, frame-sample, feature-extract) run as
  * partition-batched functions over those bytes.
  *
  * The decode kernels themselves are pluggable ([[Codec]]): this offline
  * container ships no image/audio libraries, so the default codec is a
  * deterministic fake that exercises the real Spark plumbing — schema,
  * batching, partitioning, null/error isolation — which is the part that
  * must survive a 100 TB run. A JNI/JavaCV codec drops in behind the same
  * trait without touching any plan.
  */
object Multimodal {

  /** Typed metadata carried beside every blob. */
  val metaSchema: StructType = StructType(Seq(
    StructField("mime", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("duration_ms", LongType)))

  final case class Meta(mime: String, width: Int, height: Int,
      n_frames: Int, duration_ms: Long)
  final case class Decoded(ok: Boolean, meta: Meta, features: Array[Float])

  /** Modality codec seam: bytes → (metadata, feature vector). MUST be
    * cheap to construct per partition and never throw for bad bytes —
    * return ok=false instead (error isolation mirrors the reference's
    * per-item failure handling). */
  trait Codec extends Serializable {
    def decode(bytes: Array[Byte]): Decoded
  }

  /** Deterministic fake codec: metadata derived from byte statistics, an
    * 8-dim "embedding" from rolling byte sums. Real enough to test
    * partitioning, batch shape and downstream joins end-to-end. */
  object FakeCodec extends Codec {
    def decode(bytes: Array[Byte]): Decoded = {
      if (bytes == null || bytes.isEmpty)
        return Decoded(ok = false, Meta("application/octet-stream", 0, 0, 0, 0L), Array.empty)
      val n = bytes.length
      val mime = bytes.take(4).map(_.toInt & 0xff).sum % 3 match {
        case 0 => "image/png"
        case 1 => "audio/wav"
        case _ => "video/mp4"
      }
      val feats = new Array[Float](8)
      var i = 0
      while (i < n) { feats(i % 8) += (bytes(i).toInt & 0xff) / 255.0f; i += 1 }
      Decoded(ok = true,
        Meta(mime, 64 + n % 512, 64 + (n * 3) % 512, 1 + n % 30, n.toLong * 40L),
        feats.map(f => f / n * 8))
    }
  }

  /** Attach decode output to a frame with a binary column. Runs inside
    * mapPartitions via a single UDF call per row — the blob crosses the
    * wire once, all derived columns come from one decode. */
  def decodeColumn(df: DataFrame, blobCol: String,
      codec: Codec = FakeCodec): DataFrame = {
    val c = codec
    val decodeUdf = udf((bytes: Array[Byte]) => c.decode(bytes))
    df.withColumn("__dec", decodeUdf(col(blobCol)))
      .withColumn("decode_ok", col("__dec.ok"))
      .withColumn("meta", col("__dec.meta"))
      .withColumn("features", col("__dec.features"))
      .drop("__dec")
  }

  /** Batched decode over typed rows — the mapInPandas-equivalent shape on
    * the JVM: each partition's rows are drained in fixed-size batches so a
    * real codec can dispatch one GPU/vectorized call per batch instead of
    * per row. The iterator never materializes the partition; memory is
    * O(batchSize × blob). */
  final case class BlobRow(id: Long, blob: Array[Byte])
  final case class DecodedRow(id: Long, decode_ok: Boolean, mime: String,
      width: Int, height: Int, n_frames: Int, duration_ms: Long,
      features: Array[Float])

  /** Codec batch seam: decode many blobs in one call. Default adapts a
    * scalar [[Codec]]; a GPU codec overrides this with one kernel launch. */
  trait BatchCodec extends Serializable {
    def decodeBatch(batch: Seq[Array[Byte]]): Seq[Decoded]
  }

  final class ScalarBatchCodec(codec: Codec) extends BatchCodec {
    def decodeBatch(batch: Seq[Array[Byte]]): Seq[Decoded] = batch.map(codec.decode)
  }

  def decodeBatched(ds: org.apache.spark.sql.Dataset[BlobRow],
      batchCodec: BatchCodec = new ScalarBatchCodec(FakeCodec),
      batchSize: Int = 64): org.apache.spark.sql.Dataset[DecodedRow] = {
    import ds.sparkSession.implicits._
    val bc = batchCodec
    val bs = batchSize
    ds.mapPartitions { it =>
      it.grouped(bs).flatMap { rows =>
        val decoded = bc.decodeBatch(rows.map(_.blob))
        rows.lazyZip(decoded).map { (r, d) =>
          DecodedRow(r.id, d.ok, d.meta.mime, d.meta.width, d.meta.height,
            d.meta.n_frames, d.meta.duration_ms, d.features)
        }
      }
    }
  }

  /** Frame-sampling plan shape: explode n_frames into (blob, frame_idx)
    * work units at a given stride — the unit of GPU-batch dispatch at
    * scale. Pure plan surgery, no decode. */
  def sampleFrames(df: DataFrame, stride: Int): DataFrame =
    df.withColumn("frame_idx",
      explode(sequence(lit(0), greatest(col("meta.n_frames") - 1, lit(0)), lit(stride))))

  /** Per-row perceptual signature columns b0..b3 (the 4 × 16-bit bands of
    * [[graft.functions.PerceptualBands]]) derived from `blobCol` AT THE
    * SCAN — 16 bytes of signature per row is all that ever leaves the
    * scan stage; the payload itself stays columnar-pruned out of every
    * downstream exchange (PlanSpec pins that for mm04). */
  def perceptualSigs(df: DataFrame, idCol: String, blobCol: String): DataFrame = {
    val pb = graft.functions.PerceptualExpressions.perceptualBands(col(blobCol))
    df.select(Seq(col(idCol)) ++
      (0 until graft.functions.PerceptualBands.N_BANDS)
        .map(b => element_at(pb, b + 1).as(s"b$b")): _*)
  }

  /** Perceptual near-dup report over a signature table: Hamming-banded
    * candidate join + exact Hamming verify — dd04/dd05's multi-index
    * shape on the binary modality. A pair is a CANDIDATE when any of the
    * 4 bands matches exactly; by pigeonhole, every pair within Hamming
    * distance 3 (< number of bands) shares at least one intact band, so
    * the `is_dup` verdict (hamming ≤ tau, tau ≤ 3) is COMPLETE over the
    * corpus — banding here is exact pruning, not probabilistic LSH.
    * Candidates beyond tau are emitted too (is_dup = false) as the audit
    * stream the threshold is tuned on.
    *
    * Scale shape: the only shuffles carry (id, band value) and
    * (id, 4 × int) — 100 TB of payload bytes never move. Volume is
    * Σ_bucket |bucket|² over band-value buckets; `maxBucket` is the
    * dd13-style hot-bucket cap for corpora whose band values collide
    * pathologically (a bucket larger than the cap carries no dedup
    * signal at 16-bit band width and is dropped from CANDIDACY — recall
    * beyond tau degrades, the ≤ tau guarantee needs the cap above the
    * corpus's true near-dup cluster size). Production sizing widens
    * band bits with log₂(corpus) the way nlist tracks N for IVF. */
  /** The largest Hamming radius the 4-band multi-index covers COMPLETELY
    * (pigeonhole: a pair at distance < N_BANDS shares an intact band) —
    * mm04's verdict threshold and pp19/the continuous maintainer's, one
    * definition so the gate and its twins cannot drift. */
  val completeTau: Int = graft.functions.PerceptualBands.N_BANDS - 1

  private def bandCols: Seq[Column] =
    (0 until graft.functions.PerceptualBands.N_BANDS).map(b => col(s"b$b"))

  /** (id, band, v) multi-index membership rows of a signature table. */
  private def bandMembers(sigs: DataFrame, idCol: String): DataFrame =
    sigs.select(col(idCol), posexplode(array(bandCols: _*)).as(Seq("band", "v")))

  /** Exact verify of candidate (d1, d2) pairs against the signature
    * table: matched-band count, exact Hamming, and the ≤ tau verdict —
    * shared verbatim by the batch gate ([[perceptualPairs]]) and the
    * incremental advance ([[perceptualPairsAdvance]]), the
    * one-definition rule that keeps a gate and its twin in lockstep. */
  private def scorePairs(cand: DataFrame, sigs: DataFrame, idCol: String,
      tau: Int): DataFrame = {
    val s1 = sigs.select(Seq(col(idCol).as("d1")) ++
      bandCols.zipWithIndex.map { case (c, b) => c.as(s"x$b") }: _*)
    val s2 = sigs.select(Seq(col(idCol).as("d2")) ++
      bandCols.zipWithIndex.map { case (c, b) => c.as(s"y$b") }: _*)
    val hamming = (0 until graft.functions.PerceptualBands.N_BANDS)
      .map(b => bit_count(expr(s"x$b ^ y$b")))
      .reduce(_ + _).cast("int")
    val matched = (0 until graft.functions.PerceptualBands.N_BANDS)
      .map(b => when(col(s"x$b") === col(s"y$b"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(s1, Seq("d1")).join(s2, Seq("d2"))
      .select(col("d1"), col("d2"), matched.as("matched_bands"),
        hamming.as("hamming"), (hamming <= tau).as("is_dup"))
  }

  def perceptualPairs(sigs: DataFrame, idCol: String, tau: Int,
      maxBucket: Option[Int] = None): DataFrame = {
    require(tau >= 0 && tau <= completeTau,
      s"tau must be in [0, $completeTau] for the band completeness guarantee, got $tau")
    val members = bandMembers(sigs, idCol)
    val capped = maxBucket match {
      case None => members
      case Some(cap) =>
        members.join(
          members.groupBy(col("band"), col("v"))
            .agg(count(lit(1)).as("__sz")).filter(col("__sz") <= cap)
            .select(col("band"), col("v")),
          Seq("band", "v"), "left_semi")
    }
    val cand = capped.as("x").join(capped.as("y"),
        col("x.band") === col("y.band") && col("x.v") === col("y.v") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("d1"), col(s"y.$idCol").as("d2"))
      .distinct()
    scorePairs(cand, sigs, idCol, tau)
  }

  /** The perceptual pairs a BATCH adds over a standing signature store —
    * mm04 over the full corpus restricted to pairs touching the batch,
    * which is the full delta because a pair's (matched_bands, hamming,
    * verdict) is a pure function of two immutable signatures: it is
    * emitted exactly once, by the batch that completes it. The batch's
    * band rows broadcast into the (standing ∪ batch) index probe — one
    * pass over the standing index at its own layout; the verify join
    * reads 16-byte signature rows, never payloads. `standingSigs` and
    * `batchSigs` must be id-disjoint (the maintainer's guards enforce
    * it). */
  def perceptualPairsAdvance(standingSigs: DataFrame, batchSigs: DataFrame,
      idCol: String, tau: Int, maxBucket: Option[Int] = None): DataFrame = {
    require(tau >= 0 && tau <= completeTau,
      s"tau must be in [0, $completeTau] for the band completeness guarantee, got $tau")
    val allSigs = standingSigs.unionByName(batchSigs)
    // the dd13-style hot-bucket cap, here on the MERGED (standing ∪
    // batch) index: a (band, v) bucket beyond the cap carries no dedup
    // signal at 16-bit band width and is dropped from CANDIDACY, which
    // bounds the advance at batch × cap instead of batch × standing on a
    // band-collident corpus (measured in the former MaintainerProbe: the uncapped
    // advance grows with the standing store where every other maintainer
    // is flat). The knob trades recall: the ≤ tau completeness guarantee
    // needs every true near-dup cluster under the cap, and because the
    // bucket size is evaluated at ARRIVAL time, capped incremental mode
    // is a recall knob, not an oracle-gated contract — the uncapped
    // default is what pp19's gate and the maintainer specs verify.
    val members = bandMembers(allSigs, idCol)
    val searchable = maxBucket match {
      case None => members
      case Some(cap) =>
        members.join(
          members.groupBy(col("band"), col("v"))
            .agg(count(lit(1)).as("__sz")).filter(col("__sz") <= cap)
            .select(col("band"), col("v")),
          Seq("band", "v"), "left_semi")
    }
    val cand = broadcast(bandMembers(batchSigs, idCol)).as("x")
      .join(searchable.as("y"),
        col("x.band") === col("y.band") && col("x.v") === col("y.v") &&
          col(s"x.$idCol") =!= col(s"y.$idCol"))
      .select(least(col(s"x.$idCol"), col(s"y.$idCol")).as("d1"),
        greatest(col(s"x.$idCol"), col(s"y.$idCol")).as("d2"))
      .distinct()
    scorePairs(cand, allSigs, idCol, tau)
  }

  /** Content-defined chunk rows of a binary payload: (id, chunk_idx,
    * start, clen, digest) — one row per chunk, boundaries from the
    * row-local [[graft.functions.CdcBoundaries]] rolling hash. The
    * chunk digests are computed IN THE SAME PROJECTION as the boundary
    * list, against the un-exploded payload (a `transform` over the
    * boundary array), and the explode unnests the pre-digested struct
    * array — so the blob is columnar-pruned before any row
    * multiplication and never rides an exchange (mm03/mm04's contract,
    * PlanSpec-pinned for mm05). Empty payload → no rows; null payload →
    * no rows. */
  def cdcChunks(df: DataFrame, idCol: String, blobCol: String): DataFrame = {
    // r19 (guide §4): boundaries + per-chunk md5 in ONE fused native
    // expression. The previous composed form — transform(cdc_boundaries(
    // blob), (e, i) -> named_struct(..., md5(substring(blob, ...)))) —
    // was a CodegenFallback HOF whose lambda body inlined the full
    // boundary scan into every element_at, and the Generate evaluated
    // the whole transform three times per row (condition twice,
    // projection once): O(chunks · boundary-scan) per payload. Values
    // are bit-identical (CdcChunkRows' Scaladoc states the recurrence;
    // CdcChunkSpec pins native == composed element-for-element).
    df.select(col(idCol),
        explode(graft.functions.CdcExpressions.cdcChunkRows(col(blobCol)))
          .as("ch"))
      .select(col(idCol), col("ch.chunk_idx").as("chunk_idx"),
        col("ch.start").as("start"), col("ch.clen").as("clen"),
        col("ch.digest").as("digest"))
  }

  /** Cross-payload repeated-chunk report over chunk rows: every digest
    * that occurs in ≥ 2 DISTINCT payloads, with its occurrence count,
    * payload count, and lowest-id holder — the storage-dedup ledger
    * (which regions are shared, who holds the canonical copy). One
    * combinable digest-keyed rollup; the shuffle carries (digest, id,
    * clen) — never payload bytes. */
  def chunkDupReport(chunks: DataFrame, idCol: String): DataFrame =
    chunks.groupBy(col("digest"))
      .agg(min(col("clen")).as("clen"), count(lit(1)).as("n_occ"),
        countDistinct(col(idCol)).as("n_docs"),
        min(col(idCol)).as("keeper_id"))
      .filter(col("n_docs") >= 2)

  /** The repeated-chunk report advanced by one batch: a digest's report
    * row changes iff the batch adds an occurrence of it, so the advance
    * recomputes ONLY the batch's digests — standing occurrences of those
    * digests are pulled by a broadcast semi-join (digest-pruned read of
    * the standing chunk store; the store is never rescanned whole) and
    * merged with the batch's chunk rows; every other standing report row
    * carries over untouched (broadcast anti-join). `standingChunks` and
    * `batchChunks` must be id-disjoint (the maintainer's guard). */
  def chunkDupAdvance(standingChunks: DataFrame, standingReport: DataFrame,
      batchChunks: DataFrame, idCol: String): DataFrame = {
    val touched = batchChunks.select(col("digest")).distinct()
    val recomputed = chunkDupReport(
      standingChunks.join(broadcast(touched), Seq("digest"), "left_semi")
        .unionByName(batchChunks), idCol)
    standingReport.join(broadcast(touched), Seq("digest"), "left_anti")
      .unionByName(recomputed)
  }

  /** Size-aware repartition: big blobs skew task time, so partition count
    * derives from total bytes / target bytes-per-partition, clamped. This
    * is the knob that keeps a 100 TB binary scan's tasks uniform. */
  def repartitionByBytes(df: DataFrame, blobCol: String,
      targetBytesPerPartition: Long = 128L << 20): DataFrame = {
    val totalBytes = df.agg(sum(length(col(blobCol)))).collect()(0) match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    val parts = math.max(1, math.min(100000,
      (totalBytes / targetBytesPerPartition).toInt + 1))
    df.repartition(parts)
  }
}
