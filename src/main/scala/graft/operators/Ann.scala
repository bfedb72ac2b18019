package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths share one scoring kernel (exact integer-quantized cosine, the
  * same trick as the vs* catalog entries — order-independent, verifiable):
  *
  *  - [[bruteTopK]]: every query scores every candidate. O(Q×N); right
  *    when Q is small (broadcast) or N fits a partition.
  *  - [[lshTopK]]: random-hyperplane LSH — candidates and queries hash to
  *    sign-bit buckets; scoring only happens within a bucket (multi-probe
  *    across `tables` independent hash tables for recall). The shuffle key
  *    is the bucket id, never a pair — the 100 TB path: N² pair space
  *    becomes Σ|bucket|², and each table is one shuffle.
  *
  * Hyperplanes are seeded deterministically (no RNG at plan time) so runs
  * are reproducible and resumable.
  */
object Ann {

  /** array<float> → array<long> quantization (exact integer dot products).
    * Native fused expression (graft.functions.QuantizeVector): the
    * composed `transform(c, x => floor(x.cast("double") * 10000).cast("long"))`
    * form is a CodegenFallback higher-order function — interpreted
    * per-element lambda dispatch on EVERY vector gate's scan, and
    * duplicated wherever the optimizer inlines `q` into a filter AND a
    * projection (the normed-frame shape). Same arithmetic bit for bit. */
  def quantize(c: Column): Column =
    graft.functions.PqExpressions.quantizeVec(c)

  /** Fused native dot product (graft.functions.QuantizedDotProduct): one
    * codegen'd loop, no intermediate zip array — the scoring inner loop. */
  def dotQ(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.quantizedDot(a, b)

  private def withNorm(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("__q", quantize(col(vecCol)))
      .withColumn("__nrm", sqrt(dotQ(col("__q"), col("__q")).cast("double")))
      .filter(col("__nrm") > 0.0)

  /** Exact top-k cosine neighbors for each query row.
    * queries(idCol, vecCol), candidates(idCol, vecCol). */
  def bruteTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = withNorm(queries, vecCol)
      .select(col(idCol).as("query_id"), col("__q").as("qq"), col("__nrm").as("qn"))
    val c = withNorm(candidates, vecCol)
      .select(col(idCol).as("neighbor_id"), col("__q").as("cq"), col("__nrm").as("cn"))
    val scored = broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dotQ(col("qq"), col("cq")).cast("double") / (col("qn") * col("cn")))
    // bounded-buffer grouped top-k: the Q×N scored stream is map-side
    // combined to ≤ k rows per query before any exchange — never
    // window-sorted (same (cos DESC, id) order, GroupedTopK's contract)
    GroupedTopK.topK(scored.select(col("query_id"), col("cos"), col("neighbor_id")),
        "query_id", "cos", "neighbor_id", k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("rank"),
        col("v").as("cos"))
  }

  /** Deterministic hyperplane component for (table, bit, dim): the first
    * 4 md5 bytes of "table:bit:dim" folded to an integer in
    * [-1000000, 1000000]. md5-derived (not JVM hashing) so any engine can
    * replay the exact plane matrix — vs04's DuckDB oracle recomputes it —
    * and *integral* so the sign-bit projection below is exact BIGINT
    * arithmetic: bucket membership can never flip on floating-point
    * summation order. */
  private[graft] def planeComponent(table: Int, bit: Int, dim: Int): Long =
    graft.functions.Md5Fold32.fold(
      s"$table:$bit:$dim".getBytes(java.nio.charset.StandardCharsets.UTF_8)) %
      2000001L - 1000000L

  /** Production LSH WIDTH sizing — [[graft.queries.VectorOps.autoNlist]]'s
    * analog for the hyperplane count: at fixed `bits`, each table has
    * 2^bits buckets and the EXPECTED bucket holds n / 2^bits members, so
    * a growing corpus grows every bucket linearly and the per-query probe
    * cost (Σ_table |its bucket|) with it — the same structural fact as a
    * fixed coarse quantizer's Σ|cell|² growth. Holding the target bucket
    * size constant — bits = ⌈log₂⌈n / targetBucket⌉⌉ — keeps the expected
    * bucket (and with it probe cost and the [[lshTopK]] cap's bite) flat
    * as n grows. Integer-exact on purpose: the smallest b with
    * 2^b ≥ ⌈n / targetBucket⌉, counted with shifts — an ln-based log2
    * misrounds at exact powers of two, and a gate oracle must replay the
    * same integer arithmetic cross-engine. Clamps: ≥ 1 (a 0-bit table is
    * one all-pairs bucket), ≤ `maxBits` (the plane matrix is a
    * driver-side literal of tables × bits × dim longs — a broadcast
    * budget, like autoNlist's maxNlist).
    *
    * `targetBucket` is a RECALL knob as much as a cost knob (measured,
    * round-18 ScaleProbe `recall` rows): per table a true neighbor
    * shares the query's bucket with probability that decays in `bits`,
    * so an aggressive small target buys its probe-cost win at a steep
    * recall bill — target 16 read recall@5 of 0.30 (sf0.1) and 0.07
    * (10×) against the exact kernel, and doubling `tables` bought back
    * only 0.13 at ~2× cost — while the DEFAULT (4096) read 1.000/0.906
    * and was simultaneously the cheapest configuration at those corpus
    * sizes. Size the target to the probe budget; do not shrink it to
    * the smallest bucket the cost model tolerates. */
  def autoBits(n: Long, targetBucket: Long = 4096L, maxBits: Int = 24): Int = {
    require(targetBucket > 0L,
      s"autoBits: targetBucket must be positive, got $targetBucket")
    require(maxBits > 0, s"autoBits: maxBits must be positive, got $maxBits")
    val nn = math.max(0L, n)
    val cells = nn / targetBucket + (if (nn % targetBucket == 0L) 0L else 1L)
    val b = (0 until 62).count(j => (1L << j) < cells)
    math.min(math.max(b, 1), maxBits)
  }

  /** One pass over the rows: per row compute every table's bucket in ONE
    * fused native expression, then posexplode the bucket array as
    * (table, bucket) — no N-branch union re-reading and re-quantizing
    * the input. Shared by the batch kernel ([[lshTopK]]) and the
    * maintained-index halves below.
    *
    * r19 (guide §4): previously composed as explode(array(struct(t,
    * Σ_b when(dotQ(vec, lit(plane)) >= 0, 1<<b, 0)))) — a plan tree with
    * tables × bits 64-long literals whose generated-code size grows
    * linearly in the geometry (the NearestCentroid Janino lesson); the
    * fused [[graft.functions.LshTableBuckets]] computes the identical
    * bucket ids (same planeComponent matrix, same min-length dot, same
    * null-to-bucket-0 contract) in one constant-size loop. */
  private def withBuckets(df: DataFrame, vec: String, bits: Int,
      tables: Int, dim: Int): DataFrame = {
    val planes = Array.tabulate(tables * bits)(j =>
      Array.tabulate(dim)(i => planeComponent(j / bits, j % bits, i)))
    df.select(col("*"),
      posexplode(graft.functions.VectorExpressions.lshTableBuckets(
        col(vec), planes, bits)).as(Seq("table", "bucket")))
  }

  /** The standing rows of a MAINTAINED LSH index (pp38): every candidate
    * hashed once per table under a FIXED (bits, tables) geometry —
    * (table, bucket, neighbor_id, cq, cn, dim, bits, tabs). Hashing is
    * row-local, so an index over any partition of the corpus unions to
    * the index over the whole corpus — the additivity the incremental
    * maintainer rides. The FULL geometry rides every row because the
    * plane matrix is a pure function of (table, bit, dim-index) and the
    * bucket id is a function of `bits`: an advance or probe whose
    * (dim, bits, tables) disagrees with the standing rows would silently
    * hash under a DIFFERENT matrix — appended rows become unreachable or
    * spuriously bucket-collide with no error
    * ([[graft.streaming.Streams.maintainLshState]] and [[probeLshIndex]]
    * require equality on all three; the stamp travels IN the rows so the
    * rebuild's atomic swap updates it atomically with the re-hash).
    * Zero-norm vectors never index (unsearchable under cosine — vs04's
    * contract). */
  def lshIndexRows(candidates: DataFrame, idCol: String, vecCol: String,
      bits: Int, tables: Int): DataFrame = {
    val c0 = withNorm(candidates, vecCol)
      .select(col(idCol).as("neighbor_id"), col("__q").as("cq"), col("__nrm").as("cn"))
    val dimRow = candidates.agg(max(size(col(vecCol)))).head()
    val dim = if (dimRow.isNullAt(0)) 0 else math.max(dimRow.getInt(0), 0)
    withBuckets(c0, "cq", bits, tables, dim)
      .select(col("table"), col("bucket"), col("neighbor_id"), col("cq"),
        col("cn"), lit(dim).as("dim"), lit(bits).as("bits"),
        lit(tables).as("tabs"))
  }

  /** Re-hash ALREADY-QUANTIZED index members under a new width — the
    * rebuild path ([[graft.streaming.Streams.rebuildLshState]]): the
    * same plane expressions as ingest over the stored cq (no
    * re-quantization), emitting [[lshIndexRows]]' shape — geometry stamp
    * included, so the swap that publishes the re-hash also publishes the
    * new (bits, tables) atomically. */
  def rehashIndexRows(members: DataFrame, bits: Int, tables: Int,
      dim: Int): DataFrame =
    withBuckets(members, "cq", bits, tables, dim)
      .select(col("table"), col("bucket"), col("neighbor_id"), col("cq"),
        col("cn"), lit(dim).as("dim"), lit(bits).as("bits"),
        lit(tables).as("tabs"))

  /** Probe a maintained LSH index: the query half of [[lshTopK]] over
    * standing [[lshIndexRows]] — same plane matrix (dim read from the
    * index rows), same per-pair dedup, same bounded-buffer rank merge,
    * so probing an index over everything-arrived equals the batch kernel
    * row-for-row (pp38's oracle is vs04's SQL verbatim). The pair
    * distinct() doubles as the redelivery seam: duplicate index rows
    * from a replayed append produce byte-identical (query, neighbor,
    * cos) rows, which it collapses. */
  def probeLshIndex(queries: DataFrame, index: DataFrame, idCol: String,
      vecCol: String, k: Int, bits: Int, tables: Int): DataFrame = {
    val q0 = withNorm(queries, vecCol)
      .select(col(idCol).as("query_id"), col("__q").as("qq"), col("__nrm").as("qn"))
    // one scalar aggregate reads dim AND the geometry stamp: probing a
    // stamped index under a different (bits, tables) would hash the
    // queries under a different plane matrix and silently miss (or
    // spuriously collide with) every standing bucket — the same
    // fail-loud contract as the maintainer's dim guard
    val meta = index.agg(max(col("dim")), max(col("bits")), max(col("tabs")))
      .head()
    val dim = if (meta.isNullAt(0)) 0 else math.max(meta.getInt(0), 0)
    if (!meta.isNullAt(1))
      require(meta.getInt(1) == bits && meta.getInt(2) == tables,
        s"probeLshIndex: index geometry (bits=${meta.getInt(1)}, " +
          s"tables=${meta.getInt(2)}) != requested (bits=$bits, " +
          s"tables=$tables) — a width change is a rebuild, not a probe arg")
    val qb = withBuckets(q0, "qq", bits, tables, dim)
    val paired = qb.join(index, Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dotQ(col("qq"), col("cq")).cast("double") / (col("qn") * col("cn")))
      .select("query_id", "neighbor_id", "cos")
      .distinct()
    GroupedTopK.topK(paired, "query_id", "cos", "neighbor_id", k)
      .select(col("query_id"), col("id").as("neighbor_id"),
        col("v").as("cos"), col("rank"))
  }

  /** MEASURED recall of the LSH path against the exact kernel — the
    * production acceptance check for an (bits, tables, maxBucket)
    * configuration, shipped as an operator because round-18's
    * measurement showed the width knob is a recall knob (autoBits'
    * Scaladoc records the numbers): per query, the exact top-k
    * ([[bruteTopK]] — run on a QUERY SAMPLE in production; its cost is
    * Q × N, so recall estimation prices at one sample sweep) is
    * outer-joined against the LSH result and the hit count reported.
    * Output (query_id, n_exact, hits) — integers only, so the gate
    * (vs27) hash-pins the recall MATH cross-engine with no FP-division
    * representation risk; recall@k = hits / n_exact is the consumer's
    * one division. A deployment runs this at each corpus doubling (or
    * after a width rebuild) and raises `tables` — or the autoBits
    * target — when the floor is breached. */
  def recallAtK(queries: DataFrame, candidates: DataFrame, idCol: String,
      vecCol: String, k: Int, bits: Int, tables: Int,
      maxBucket: Option[Int] = None): DataFrame = {
    val exact = bruteTopK(queries, candidates, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val got = lshTopK(queries, candidates, idCol, vecCol, k, bits, tables,
        maxBucket)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
    exact.join(got, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"), count(col("__hit")).as("hits"))
      .orderBy(col("query_id"))
  }

  /** LSH-bucketed top-k: candidates hashed once per table; queries probe
    * their bucket in every table; per-query dedup + rank merges tables.
    * recall < 1 by construction; raise `tables` (probes) or lower `bits`
    * (bigger buckets) to trade cost for recall.
    *
    * `maxBucket` is the HOT-BUCKET cap — the production volume knob for
    * skewed/clustered corpora where one sign pattern swallows a large
    * slice of the data (near-duplicate floods, low-entropy embeddings):
    * scored-pair volume is Σ_query Σ_table |its bucket|, so one hot
    * bucket makes every query probing it pay that bucket's full size.
    * With the cap set, each (table, bucket)'s CANDIDATE side keeps only
    * a deterministic uniform sample of `cap` members (the cap lowest
    * md5-folds of the member id — id-derived, so the sample is stable
    * across runs and engines, and uniform w.r.t. bucket geometry because
    * the fold is independent of the embedding), bounding scored pairs at
    * Q × tables × cap regardless of bucket skew. Unlike the mm04-style
    * drop-the-bucket cap (right for DEDUP, where an over-cap bucket
    * carries no signal), a search query must still get candidates from a
    * hot bucket — sampling keeps every bucket probeable. The recall
    * trade: a true neighbor survives in a probed bucket's sample with
    * probability ~cap/|bucket| per table, independently per table, so
    * the miss probability for a neighbor colliding in all `tables`
    * tables is ~(1 − cap/|bucket|)^tables — raise `tables` or the cap
    * to buy it back. Default None = recall-maximal, the vs04 gate's
    * oracle-pinned configuration (the former ScaleProbe measured the capped kernel
    * beside it). */
  def lshTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
      vecCol: String, k: Int, bits: Int = 8, tables: Int = 4,
      maxBucket: Option[Int] = None): DataFrame = {
    val q0 = withNorm(queries, vecCol)
      .select(col(idCol).as("query_id"), col("__q").as("qq"), col("__nrm").as("qn"))
    val c0 = withNorm(candidates, vecCol)
      .select(col(idCol).as("neighbor_id"), col("__q").as("cq"), col("__nrm").as("cn"))

    // the plane matrix is dim-shaped; one scalar aggregate pins it.
    // max(size), not head(1): a NULL embedding in an arbitrary first row
    // would report size = -1 → zero planes → every vector in one bucket
    // (LSH silently degenerating to the all-pairs join it exists to avoid)
    val dimRow = candidates.agg(max(size(col(vecCol)))).head()
    val dim = if (dimRow.isNullAt(0)) 0 else math.max(dimRow.getInt(0), 0)

    val qb = withBuckets(q0, "qq", bits, tables, dim)
    val cb0 = withBuckets(c0, "cq", bits, tables, dim)
    val cb = maxBucket match {
      case None => cb0
      case Some(cap) =>
        require(cap > 0, s"maxBucket must be positive, got $cap")
        // one composite group key (bucket < 2^bits by construction) so the
        // bounded-buffer aggregator — not a window sort — picks each
        // bucket's sample: map-side combine holds ≤ cap ids per
        // (table, bucket), the exchange carries samples, never buckets
        val g = col("table").cast("long") * lit(1L << bits) + col("bucket")
        // the priority is salted with the TABLE, not just the id: a
        // global per-id fold would evict the same ids from every
        // over-cap bucket in every table, making tail ids unreachable
        // no matter how many tables are probed — per-table salts keep
        // each table's sample draw independent, which is what the
        // (1 − cap/|bucket|)^tables recall model in the Scaladoc needs
        val pri = -graft.functions.HashExpressions.md5Fold32(
          concat(lit("lshcap:"), col("table").cast("string"), lit(":"),
            col("neighbor_id").cast("string"))).cast("double")
        val keep = GroupedTopK.topK(
            cb0.withColumn("__g", g).withColumn("__pri", pri)
              .select(col("__g"), col("__pri"), col("neighbor_id")),
            "__g", "__pri", "neighbor_id", cap)
          .select(col("__g"), col("id").as("neighbor_id"))
        cb0.withColumn("__g", g)
          .join(keep, Seq("__g", "neighbor_id"), "left_semi")
          .drop("__g")
    }
    val paired = qb.join(cb, Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dotQ(col("qq"), col("cq")).cast("double") / (col("qn") * col("cn")))
      .select("query_id", "neighbor_id", "cos")
      .distinct() // same pair can collide in several tables
    // per-query rank merge across tables via the bounded-buffer aggregator
    // — the bucket-join output is combined to ≤ k rows per query map-side,
    // not shuffled whole to a window sort
    GroupedTopK.topK(paired, "query_id", "cos", "neighbor_id", k)
      .select(col("query_id"), col("id").as("neighbor_id"),
        col("v").as("cos"), col("rank"))
  }
}
