package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) multi-dimensional layout — the file-skipping
  * lever for the predicate shape ONE sort column cannot serve. A table
  * sorted by x gives every file a tight x range but the FULL y range:
  * a y-predicate intersects every file's min/max envelope and skips
  * nothing. Interleaving the bits of the quantized dimensions into one
  * z value and range-partitioning + sorting on IT gives every file a
  * compact HYPER-RECTANGLE in (x, y, …) space, so parquet footer
  * min/max statistics prune files for predicates on ANY prefix-free
  * combination of the z dimensions (this is what Delta/Iceberg
  * `OPTIMIZE ZORDER BY` does; Databricks' photon docs and the
  * Bayer R-tree/UB-tree literature are the public ancestry).
  *
  * Everything here is integer bit arithmetic — shift/mask/add on
  * BIGINT — so a z value is oracle-replayable (DuckDB computes the
  * same interleave with a list-comprehension sum) and never drifts
  * with locale/FP. The write path is ONE range exchange (sampling
  * range boundaries over z, the same machinery as any global sort) +
  * an in-partition sort: at 100 TB that is the cheapest total order
  * Spark offers, and AQE coalesces skewed z ranges like any other
  * range partition. No shuffle is added at READ time — the benefit is
  * entirely in the file statistics. */
object ZOrder {

  /** Bit-interleave `dims` (each a non-negative BIGINT already holding
    * < `bits` significant bits — see [[quantized]]) into the Morton
    * z value: dimension d contributes its bit i at z bit
    * (i·|dims| + d), so earlier dims take lower bit positions within
    * each group. Static shifts only — the whole expression folds into
    * one codegen'd integer tree; `dims.size · bits` must fit a BIGINT
    * (≤ 62). */
  def zValue(dims: Seq[Column], bits: Int): Column = {
    require(dims.nonEmpty && dims.size * bits <= 62,
      s"zValue: ${dims.size} dims x $bits bits exceeds a BIGINT")
    val terms = for {
      i <- 0 until bits
      (dim, d) <- dims.zipWithIndex
    } yield shiftleft(
      shiftright(dim.cast("long"), i).bitwiseAND(lit(1L)),
      i * dims.size + d)
    terms.reduce(_ + _)
  }

  /** The DuckDB twin of [[zValue]] for an oracle: the same interleave
    * as a list-comprehension sum over the bit positions. `exprs` are
    * SQL expressions for the already-quantized dimensions. */
  def zValueSql(exprs: Seq[String], bits: Int): String = {
    val n = exprs.size
    val terms = exprs.zipWithIndex.map { case (e, d) =>
      s"list_sum([((($e) >> i) & 1) << (i * $n + $d) for i in range(0, $bits)])"
    }
    terms.mkString("(", " + ", ")")
  }

  /** Quantize a value of known domain [lo, hi] onto the [0, 2^bits)
    * grid, integer-exact: ((c − lo) · 2^bits) div (hi − lo + 1).
    * Values outside the declared domain clamp to the edge cells so a
    * stray row degrades locality instead of corrupting the interleave
    * (a negative quantized value would set high bits everywhere). For
    * skewed columns quantize a RANK (e.g. ntile output) instead of the
    * raw value — the curve needs a roughly uniform grid to give every
    * file a small rectangle. */
  def quantized(c: Column, lo: Long, hi: Long, bits: Int): Column = {
    // hi == lo is a legal (single-value) domain — every in-domain row
    // maps to cell 0 ((c−lo)·2^bits div 1 = 0) and strays still clamp;
    // a one-supplier tenant slice must quantize, not throw
    require(hi >= lo, s"quantized: empty domain [$lo, $hi]")
    val d = hi - lo + 1
    val cells = 1L << bits
    require(d <= (1L << (53 - bits)),
      s"quantized: domain $d x 2^$bits exceeds exact double range")
    // integer floor division via the pmod trick (the BandJoin.scala:50
    // pattern): the numerator is an exact multiple of d, so the double
    // division is exact under the require above
    val n = (c.cast("long") - lit(lo)) * lit(cells)
    val q = ((n - pmod(n, lit(d))) / lit(d)).cast("long")
    greatest(lit(0L), least(lit(cells - 1), q))
  }

  /** Write `df` z-ordered on `dims` (column → declared [lo, hi] domain)
    * into `path` as parquet: quantize, interleave, range-partition on
    * the z value into `files` output partitions, sort each partition by
    * z, and DROP the helper column before writing (projection preserves
    * the in-partition order). Each resulting file covers one compact z
    * interval = a small rectangle in every declared dimension, which is
    * what the reader's footer min/max pruning consumes. */
  def writeZOrdered(df: DataFrame, path: String,
      dims: Seq[(String, (Long, Long))], bits: Int, files: Int): Unit = {
    val z = zValue(
      dims.map { case (c, (lo, hi)) => quantized(col(c), lo, hi, bits) },
      bits)
    df.withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
