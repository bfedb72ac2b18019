package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Mergeable quantile sketch via HASH-ORDERED BOTTOM-K SAMPLING — the
  * percentile member of the sketch family (cardinality: [[KmvSketch]]/
  * [[HllSketch]], frequency: CMS, heavy hitters: [[MisraGries]]),
  * built to the same two non-negotiables as the rest: bounded state
  * that partial-aggregates map-side, and a result that is a
  * DETERMINISTIC SET FUNCTION of the input so a second engine replays
  * it bit for bit.
  *
  * Why not literal KLL (Karnin-Lang-Liberty 2016): KLL's compactors
  * discard every other item of a sorted buffer under a random (or
  * derandomized-alternating) offset, which makes the surviving set
  * depend on the ORDER buffers fill and merge — under Spark's
  * arbitrary partial-aggregate combine tree two runs over the same
  * data can produce different (all individually valid) sketches, and
  * no SQL oracle can replay "whatever merge tree the scheduler chose".
  * The mergeable-summaries literature's other classical route is the
  * RANDOM SAMPLE (Agarwal et al., "Mergeable summaries", PODS 2012 §2;
  * Cohen & Kaplan's bottom-k sketches): a uniform sample of k rows
  * supports any quantile with rank error O(√(log(1/δ)/k))·n, and
  * drawing it by "keep the k rows whose uniform hash is smallest"
  * makes the sample a PURE SET FUNCTION — the k globally-smallest
  * hashes are the k globally-smallest hashes no matter how the data
  * was partitioned, ordered, or merged. That is the property KLL
  * cannot give, and it is exactly [[KmvSketch]]'s mergeability
  * argument with the VALUE riding along as payload.
  *
  * The sketch: per group, the k smallest DISTINCT (h, v) pairs under
  * (h, v) ascending order, where h = md5 fold of a UNIQUE row key
  * (hash the key, not the value — hashing the value would collapse
  * duplicates of common values and bias every quantile) and v is the
  * measured BIGINT. Dedup by the full (h, v) pair makes the merge
  * IDEMPOTENT under redelivery (a re-appended batch contributes
  * byte-identical pairs that the union absorbs) at the cost of the
  * same 2⁻³² collision bias KMV accepts: two distinct rows colliding
  * on (h, v) count once in the SAMPLE (never in any exact rollup).
  *
  * Estimation is nearest-lower-rank over the value-sorted sample:
  * quantile p of a sample of size s is element floor(p·(s−1)) — all
  * integer arithmetic, no interpolation, so BIGINT in = BIGINT out and
  * the oracle replays it with a window + the same floor-div formula.
  * UNSATURATED sketches (group ≤ k rows) ARE the group: the estimate
  * degrades to the exact type-1 percentile, the same
  * exact-until-saturation contract as KMV's distinct count.
  *
  * Scale contract: the aggregation buffer is ≤ k (long, long) pairs,
  * combined map-side, so the exchange carries O(groups × maps × k)
  * bounded buffers — never the value stream (q41's window sort ships
  * and sorts EVERY row; q47's histogram bounds the exchange by the
  * value domain; this sketch bounds it by k regardless of domain OR
  * row count, the only one of the three that survives an unbounded
  * domain at 100 TB). Sketches of arbitrary — even overlapping —
  * corpora merge row-locally ([[merged]]), which is what makes the
  * summary incrementally maintainable
  * ([[graft.streaming.StateFamily.Quantile]]). */
object QuantileSketch {

  /** One sampled row: uniform hash of the row's unique key + the
    * measured value. */
  final case class In(h: Long, v: Long)

  /** Sorted parallel arrays by (h asc, v asc), distinct pairs,
    * length ≤ k. */
  final case class BufQ(hs: Array[Long], vs: Array[Long])

  final class BottomKAgg(k: Int) extends Aggregator[In, BufQ, BufQ] {
    override def zero: BufQ = BufQ(Array.empty, Array.empty)

    // (h, v) lexicographic strictly-before
    private def before(b: BufQ, i: Int, h: Long, v: Long): Boolean =
      b.hs(i) < h || (b.hs(i) == h && b.vs(i) < v)

    private def insert(b: BufQ, h: Long, v: Long): BufQ = {
      val n = b.hs.length
      // full and (h, v) ranks at-or-after the k-th pair: equal-to-last
      // is a duplicate no-op, strictly-after is outside the sketch
      if (n == k && (b.hs(n - 1) < h || (b.hs(n - 1) == h && b.vs(n - 1) <= v)))
        return b
      var pos = 0
      while (pos < n && before(b, pos, h, v)) pos += 1
      if (pos < n && b.hs(pos) == h && b.vs(pos) == v) return b // distinct
      val m = math.min(n + 1, k)
      val hs = new Array[Long](m)
      val vs = new Array[Long](m)
      java.lang.System.arraycopy(b.hs, 0, hs, 0, pos)
      java.lang.System.arraycopy(b.vs, 0, vs, 0, pos)
      hs(pos) = h; vs(pos) = v
      java.lang.System.arraycopy(b.hs, pos, hs, pos + 1, m - pos - 1)
      java.lang.System.arraycopy(b.vs, pos, vs, pos + 1, m - pos - 1)
      BufQ(hs, vs)
    }

    override def reduce(b: BufQ, a: In): BufQ = insert(b, a.h, a.v)
    override def merge(b1: BufQ, b2: BufQ): BufQ = {
      var acc = b1
      var i = 0
      while (i < b2.hs.length) { acc = insert(acc, b2.hs(i), b2.vs(i)); i += 1 }
      acc
    }
    override def finish(b: BufQ): BufQ = b
    override def bufferEncoder: Encoder[BufQ] = Encoders.product[BufQ]
    override def outputEncoder: Encoder[BufQ] = Encoders.product[BufQ]
  }

  /** Per-`group` bottom-k quantile sketch of `value` sampled by `hash`
    * (a BIGINT uniform hash of the row's UNIQUE key, e.g.
    * [[graft.functions.HashExpressions.md5Fold32]] of the id — salt it
    * per use). Output: (group, hs, vs: array<long> parallel, sorted by
    * (h, v), ≤ k distinct pairs, __qs_k) — the build-time k rides with
    * the sketch (collision-proof name) so [[quantiles]] rejects a
    * mismatched k instead of silently reading a saturated sample as
    * exact, the [[KmvSketch]] guard verbatim. */
  def sketch(df: DataFrame, group: String, hash: Column, value: Column,
      k: Int): DataFrame = {
    require(k > 1, s"QuantileSketch needs k > 1, got $k")
    val fn = udaf(new BottomKAgg(k), Encoders.product[In])
    df.groupBy(col(group))
      .agg(fn(hash.cast("long"), value.cast("long")).as("qs"))
      .select(col(group), col("qs.hs").as("hs"), col("qs.vs").as("vs"),
        lit(k).as("__qs_k"))
  }

  /** [[sketch]] over a DOUBLE-valued measurement — the sketch family's
    * main customer type (quality/perplexity scores are doubles): the
    * value rides the BIGINT machinery through the order-preserving
    * IEEE transform ([[graft.functions.DoubleSortable]] — an exact
    * involution, so nothing is lost), which keeps every property the
    * BIGINT sketch has: pure-set-function sample, map-side bounded
    * buffers, [[merged]] row-local folds, and an oracle that replays
    * the ranks with a plain ORDER BY on the doubles (total-order
    * caveats at [[graft.functions.DoubleToSortableLong]]: -0.0 and
    * NaN payload distinctions exist only on the transformed side).
    * The sketch is tagged `__qs_k = -k`: the sign records the value
    * domain, so [[quantiles]] (BIGINT) on a double sketch — or
    * [[quantilesDouble]] on a BIGINT one — fails loudly instead of
    * returning transformed bits as values. Exploded (h, v) pair rows
    * from this sketch feed the SAME maintained family
    * ([[graft.streaming.StateFamily.Quantile]]) unchanged —
    * the standing layout never looks at the value, only its order. */
  def sketchDouble(df: DataFrame, group: String, hash: Column,
      value: Column, k: Int): DataFrame =
    sketch(df, group, hash,
        graft.functions.DoubleSortable.toSortableLong(value.cast("double")), k)
      .withColumn("__qs_k", lit(-k))

  /** Re-sketch pair rows whose values are ALREADY the sortable-long
    * transform — the maintained double family's standing layout (its
    * exploded sample rows store transformed BIGINTs, because the
    * standing tables never look at a value, only its order). The fold
    * is [[sketch]]'s verbatim (the transform is order-preserving, so
    * bottom-k over transformed longs IS bottom-k over the doubles);
    * re-applying the `-k` domain tag keeps [[quantilesDouble]]'s guard
    * honest on the way back out. The TABLE itself carries no domain
    * marker — which snapshot (this + [[quantilesDouble]] vs [[sketch]]
    * + [[quantiles]]) applies is the table's path contract, pinned by
    * the family's spec, exactly like the tf table's unique-rows
    * contract. */
  def resketchDouble(df: DataFrame, group: String, hash: Column,
      value: Column, k: Int): DataFrame =
    sketch(df, group, hash, value, k).withColumn("__qs_k", lit(-k))

  /** Merge two sketches' parallel arrays row-locally: union the (h, v)
    * pairs, dedup, keep the k smallest under (h, v) — EXACTLY the
    * aggregator's merge as an array expression, sound under
    * OVERLAPPING inputs (redelivered pairs dedup). Returns the merged
    * (hs, vs) as one struct column; callers coalesce a missing side's
    * arrays to `array()`. */
  def merged(ha: Column, va: Column, hb: Column, vb: Column,
      k: Int): Column = {
    val pairs = slice(array_sort(array_distinct(concat(
      zip_with(ha, va, (h, v) => struct(h.as("h"), v.as("v"))),
      zip_with(hb, vb, (h, v) => struct(h.as("h"), v.as("v")))))), 1, k)
    struct(transform(pairs, p => p.getField("h")).as("hs"),
      transform(pairs, p => p.getField("v")).as("vs"))
  }

  /** Estimate columns over a [[sketch]] result: n_kept (sample size —
    * the exact group count while unsaturated) plus one BIGINT column
    * per requested percentile `(name, num, den)` = the value at
    * 0-based rank (num·(s−1)) div den of the value-sorted sample —
    * nearest-lower-rank, integer-exact. Empty sketches (possible only
    * via [[merged]] with both sides empty) yield NULL percentiles.
    * k is validated, not trusted — mismatch and overflow raise with
    * the actual defect named, as [[KmvSketch.estimated]] does. */
  def quantiles(sketched: DataFrame, k: Int,
      ps: Seq[(String, Int, Int)]): DataFrame =
    quantilesTagged(sketched, k, k, ps, identity)

  /** [[quantiles]] over a [[sketchDouble]] result: identical rank
    * selection on the transformed BIGINTs (their sort order IS the
    * doubles'), then each percentile column inverse-transformed back
    * to DOUBLE — a pure bit reinterpretation, so the estimates are
    * sample VALUES, never arithmetic on doubles (no interpolation:
    * the nearest-lower-rank contract is what makes double output
    * oracle-exact). Rejects BIGINT-built sketches via the domain tag. */
  def quantilesDouble(sketched: DataFrame, k: Int,
      ps: Seq[(String, Int, Int)]): DataFrame =
    quantilesTagged(sketched, k, -k, ps,
      graft.functions.DoubleSortable.fromSortableLong)

  private def quantilesTagged(sketched: DataFrame, k: Int, tag: Int,
      ps: Seq[(String, Int, Int)], post: Column => Column): DataFrame = {
    require(ps.nonEmpty && ps.forall { case (_, n, d) => d > 0 && n >= 0 && n <= d },
      s"percentiles must be fractions in [0,1]: $ps")
    val overflow = when(size(col("hs")) <= k, size(col("hs")).cast("long"))
      .otherwise(raise_error(concat(
        lit("QuantileSketch.quantiles: sketch holds "),
        size(col("hs")).cast("string"),
        lit(s" pairs > k=$k — built or merged with a larger k"))))
    val guarded =
      if (sketched.columns.contains("__qs_k"))
        when(col("__qs_k") =!= lit(tag), raise_error(concat(
          lit(s"QuantileSketch.quantiles: expected build tag $tag (sign = " +
            "value domain: positive BIGINT, negative IEEE-transformed " +
            "double) but the sketch carries "),
          col("__qs_k").cast("string"),
          lit(" — k mismatch, or quantiles/quantilesDouble crossed domains")))
          .cast("long"))
          .otherwise(overflow)
      else overflow
    val sorted = array_sort(col("vs"))
    val cols = ps.map { case (name, num, den) =>
      // 0-based nearest-lower rank, integer floor division via the pmod
      // trick (numerator ≤ (k−1)·den, exact in long)
      val r = (col("n_kept") - lit(1L)) * lit(num.toLong)
      val idx = ((r - pmod(r, lit(den.toLong))) / lit(den.toLong)).cast("int")
      when(col("n_kept") > 0, post(element_at(sorted, idx + 1))).as(name)
    }
    sketched
      .withColumn("n_kept", guarded)
      .drop("__qs_k")
      .select(col("*") +: cols: _*)
      .drop("hs", "vs")
  }

  /** The DuckDB oracle twin of sketch+[[quantiles]] as a CTE chain:
    * `src` must yield (g, h, v); emits `SELECT g, n_kept, <names...>`
    * rows (unordered — caller appends ORDER BY). Shared so every gate
    * and spec replays the same SQL shape. */
  def oracleSql(src: String, k: Int, ps: Seq[(String, Int, Int)],
      groupAs: String = "g"): String = {
    val pcols = ps.map { case (name, num, den) =>
      s"MAX(CASE WHEN vr - 1 = (((sz - 1) * $num) // $den) THEN v END) AS $name"
    }.mkString(",\n  ")
    s"""qsrc AS ($src),
       |qdis AS (SELECT DISTINCT g, h, v FROM qsrc),
       |qrk AS (SELECT g, h, v, row_number() OVER (PARTITION BY g ORDER BY h, v) AS rn FROM qdis),
       |qkp AS (SELECT g, v FROM qrk WHERE rn <= $k),
       |qvr AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS vr,
       |          COUNT(*) OVER (PARTITION BY g) AS sz FROM qkp)
       |SELECT g AS $groupAs, CAST(MAX(sz) AS BIGINT) AS n_kept,
       |  $pcols
       |FROM qvr GROUP BY g""".stripMargin
  }
}
