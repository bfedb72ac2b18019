package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Typed physical-plan inspection: the audit primitives ("what does this
  * shuffle key on?", "what crosses the wire?", "did pruning reach the
  * scan?") used to hold the engine's 100 TB plan contracts. Works on the
  * operator TREE, not on the plan's printed string — `.toString` matchers
  * break on formatting (an `sh#` column satisfying a substring probe for
  * `h#`, AQE printing both pre-reuse exchanges), which is exactly the
  * brittleness class these helpers retire.
  *
  * All helpers descend through AQE wrappers (`AdaptiveSparkPlanExec`
  * exposes its CURRENT plan: initial before execution, final after — so
  * runtime decisions like exchange reuse are visible by executing first),
  * materialized query stages, and reused-exchange back-references. */
object PlanInspect {

  /** Every operator in df's physical plan, AQE-unwrapped. */
  def nodes(df: DataFrame): Seq[SparkPlan] = nodes(df.queryExecution.executedPlan)

  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val nested = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case r: ReusedExchangeExec => nodes(r.child)
      case _ => Seq.empty
    }
    (p +: nested) ++ p.children.flatMap(nodes)
  }

  def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    nodes(df).collect { case s: ShuffleExchangeExec => s }

  /** Column names each hash-partitioned shuffle keys on (the attributes
    * its partitioning expressions reference). Range/single-partition
    * exchanges (global sorts, coalesces) are not included. */
  def hashShuffleKeys(df: DataFrame): Seq[Set[String]] =
    shuffles(df).flatMap(_.outputPartitioning match {
      case h: HashPartitioning =>
        Some(h.expressions.flatMap(_.references.map(_.name)).toSet)
      case _ => None
    })

  /** Column names that actually CROSS THE WIRE through each exchange —
    * the full shipped row schema, shuffle and broadcast alike. Stronger
    * than a partition-key check: a shuffle keyed on a digest that still
    * carries the document body in its payload shows up here. */
  def exchangePayloads(df: DataFrame): Seq[Set[String]] =
    nodes(df).collect { case e: Exchange => e.child.output.map(_.name).toSet }

  /** Equi-join operators with the column names their keys reference.
    * Non-equi joins (cartesian, broadcast-nested-loop) have no key
    * equalities and are NOT returned — ban those with [[nodes]]. */
  def equiJoinKeys(df: DataFrame): Seq[Set[String]] =
    nodes(df).collect {
      case j: BaseJoinExec if j.leftKeys.nonEmpty =>
        (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name)).toSet
    }

  def fileScans(df: DataFrame): Seq[FileSourceScanExec] =
    nodes(df).collect { case f: FileSourceScanExec => f }

  /** Root paths of every file-backed relation the plan scans — "which
    * TABLES does this job read" as data, so a spec can pin that a probe
    * touches only its intended standing tables (e.g. the incremental
    * verify reads the shingle store, never the document store). */
  def scanRoots(df: DataFrame): Seq[String] =
    fileScans(df).flatMap(_.relation.location.rootPaths.map(_.toString))

  /** True if the physical plan contains ANY shuffle Exchange — hash,
    * round-robin (repartition(n)) or range (global sort) alike. */
  def hasShuffle(df: DataFrame): Boolean = shuffles(df).nonEmpty

  /** The scan's partition-pruning evidence: every FileSourceScan's
    * partition filters, rendered. Empty when nothing pruned. */
  def partitionFilters(df: DataFrame): Seq[String] =
    fileScans(df).flatMap(_.partitionFilters.map(_.toString))

  /** Names of every interpreted (CodegenFallback) expression left in the
    * plan, sorted and distinct: each one is evaluated row by row outside
    * whole-stage codegen. */
  def interpreted(p: SparkPlan): Seq[String] =
    nodes(p).flatMap(_.expressions.flatMap(_.collect {
      case f: CodegenFallback => f.prettyName
    })).distinct.sorted
}
