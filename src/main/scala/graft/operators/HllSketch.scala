package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HyperLogLog distinct-count sketch over the engine-universal md5 fold
  * (Flajolet et al., "HyperLogLog: the analysis of a near-optimal
  * cardinality estimation algorithm") — the production distinct
  * estimator, built here integer-exact so it oracle-verifies bit for
  * bit. Spark's own `approx_count_distinct` is HLL++ with an opaque
  * binary register blob no other engine replays; THIS sketch derives
  * every register with plain integer column arithmetic (top [[B]] hash
  * bits pick the register, the leading-zero rank of the remaining
  * [[W]] bits is the observation), so DuckDB reproduces the registers,
  * the scaled harmonic sum, AND the estimate from the same hashes.
  *
  * The estimator stays in BIGINT end to end: Σⱼ 2^(−Mⱼ) is scaled by
  * 2^([[W]]+1) into an exact integer `s_scaled` (Mⱼ ≤ W+1, so every
  * term is a whole power of two), and the α·m² bias constant rides as
  * the exact rational 709/1000 (Flajolet's α₆₄) under integer floor
  * division. The small-range (linear-counting) correction m·ln(m/V)
  * needs a log, which is NOT integer — it is a 64-entry precomputed
  * integer table ([[linearCountTable]]), the SAME literal on the Spark
  * and oracle sides, so the correction is a lookup, not arithmetic.
  * The 2³²-range correction is irrelevant at the 32-bit fold's scale
  * and deliberately omitted (documented, not hidden).
  *
  * The scale contract is the whole point of HLL: a group's sketch is
  * [[M]] = 64 small integers REGARDLESS of cardinality, registers
  * combine map-side (`max` is associative/commutative/idempotent), and
  * sketches of arbitrary — even OVERLAPPING — corpora merge by
  * register-wise max, which makes the summary shardable and
  * incrementally maintainable (StateFamily.Hll). Versus the
  * bottom-k [[KmvSketch]]: KMV is exact until saturation and its
  * buffer costs k longs; HLL is never exact but its 64-register state
  * is ~16× smaller at k=256 and its merge is idempotent (KMV's merge
  * dedups, HLL's max doesn't even need to), which is why production
  * engines default to HLL for distinct-count rollups at 100 TB. */
object HllSketch {

  /** Registers (2^[[B]]); α₆₄ applies to exactly this m. */
  val M = 64
  private val B = 6
  /** Hash bits left for the rank observation (32 = [[B]] + [[W]]). */
  val W = 26
  /** 2^(W+1) — the scale that makes every 2^(−Mⱼ) term integral. */
  private val SCALE = 1L << (W + 1)
  /** α₆₄·m²·2^(W+1) numerator over the /1000 rational α. */
  private val EST_NUM = 709L * M * M * SCALE
  /** Small-range threshold: the standard 5m/2. */
  private val SMALL = 5L * M / 2

  /** round(m·ln(m/V)) for V = 1..m — the linear-counting correction as
    * integers. [[linearCountSqlList]] serializes THIS table into the
    * oracle SQL, so both engines look up the same literals. */
  val linearCountTable: IndexedSeq[Long] =
    (1 to M).map(v => math.round(M * math.log(M.toDouble / v)))

  /** The table as a DuckDB list literal (1-indexed, like the V it is
    * indexed by). */
  def linearCountSqlList: String = linearCountTable.mkString("[", ", ", "]")

  /** Register index: top [[B]] bits of a 32-bit uniform hash. */
  def regIndex(h: Column): Column = shiftright(h.cast("long"), W)

  /** Rank observation ρ: leading zeros of the low-[[W]]-bit remainder,
    * plus one — [1, W+1], with the all-zero remainder mapping to W+1.
    * Computed via the BINARY STRING length of the remainder (exact
    * integer bit-length), never floor(log2(·)) — a double log at a
    * power-of-two boundary could round across the floor. */
  def rho(h: Column): Column = {
    val rest = h.cast("long").bitwiseAND(lit((1L << W) - 1L))
    (lit(W + 1) - when(rest === 0L, lit(0))
      .otherwise(length(bin(rest)))).cast("int")
  }

  /** Per-`group` registers of `hash` (a BIGINT uniform hash in [0, 2³²),
    * e.g. [[graft.functions.HashExpressions.md5Fold32]]): one row per
    * OBSERVED (group, j) with m = max ρ — absent registers are implied
    * zero and never materialized, so the frame is ≤ [[M]] rows per group
    * however large the value stream. A plain hash aggregate: partial max
    * combines map-side, the exchange carries ≤ groups×[[M]] rows per map
    * task, never the values. */
  def registers(df: DataFrame, group: String, hash: Column): DataFrame =
    df.select(col(group), regIndex(hash).as("j"), rho(hash).as("rho"))
      .groupBy(col(group), col("j")).agg(max(col("rho")).as("m"))

  /** Merge register frames of (possibly overlapping) corpora:
    * register-wise max — the idempotent merge that makes HLL shardable. */
  def merged(group: String, frames: DataFrame*): DataFrame =
    frames.reduce(_ unionByName _)
      .groupBy(col(group), col("j"))
      .agg(max(col("m")).as("m"))

  /** The estimate columns over a [[registers]] frame, all BIGINT:
    * n_zero (empty registers — the linear-counting V), s_scaled
    * (Σⱼ 2^(W+1−Mⱼ), absent registers contributing 2^(W+1) each) and
    * est_distinct — floor(α₆₄·m²·2^(W+1) / s_scaled) with the
    * linear-counting lookup below the standard 5m/2 cut. */
  def estimated(regs: DataFrame, group: String): DataFrame =
    regs.groupBy(col(group))
      .agg(count(lit(1)).as("__np"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST(${W + 1} - m AS INT))"))
          .as("__sp"))
      .select(col(group),
        (lit(M.toLong) - col("__np")).as("n_zero"),
        (col("__sp") + (lit(M.toLong) - col("__np")) * lit(SCALE))
          .as("s_scaled"))
      .withColumn("__raw", expr(s"${EST_NUM}L div (1000L * s_scaled)"))
      .withColumn("est_distinct",
        when(col("__raw") <= lit(SMALL) && col("n_zero") > 0,
          element_at(typedLit(linearCountTable), col("n_zero").cast("int")))
          .otherwise(col("__raw")))
      .drop("__raw")
}
