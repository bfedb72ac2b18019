package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType}

import graft.queries.TextOps

/** A maintained-state family: one standing table per family, advanced
  * from a shared doc store by
  * [[Streams.maintainState]], read through [[Streams.foldState]],
  * compacted by [[Streams.compactState]] and forgotten by
  * [[Streams.forgetState]]. Each of the four takes (family, table) pairs
  * over ONE doc store, so families that share a store (the CMS cells and
  * their vocabulary) share one guard append, one forget key, one
  * rollback and one tombstone swap per call. The contract every family
  * gets from them, stated once:
  *
  *  - ADVANCE. The batch is cut to its fresh docs: `doc_id` plus the
  *    [[payload]] columns, in-batch repeats collapsed to ONE of the
  *    arriving rows, ids the doc store already holds dropped. Each family
  *    appends its [[delta]] of the fresh docs (of its shared [[input]]
  *    of them, computed once per batch for every family that names it),
  *    then the fresh rows append to the doc store LAST — the store is
  *    the redelivery guard, so a crash anywhere earlier redelivers the
  *    whole batch, and a redelivered batch whose guard landed is a no-op.
  *  - FOLD. A [[StateFamily.Sum]] family tags its delta rows with the
  *    batch key (the min fresh doc_id: unique, because the guard keeps
  *    fresh sets disjoint). A crash-replay re-appends byte-identical rows
  *    under the same key, and the fold drops duplicates by
  *    (batch_key, keys) before sums add and mins min-combine; a key whose
  *    sums are not all positive (forget decrements netted it out) is not
  *    live. An [[StateFamily.Idempotent]] fold (a register max, a bottom-k
  *    sample, a per-doc table's union with its key dedup) absorbs
  *    replayed rows by itself: no key. These are the mergeable-summary
  *    folds of the PODS 2021 survey in PAPERS.md.
  *  - COMPACT. The fold, materialized and swapped atomically (bucket by
  *    bucket for a bucketed table). A sum fold
  *    takes only COMMITTED keys — a positive key once it reached the
  *    guard, a negative (forget) key once its witness doc is tombstoned —
  *    under the reserved key Long.MinValue; pending rows keep their key
  *    so a replay still collapses against them, and a pure-sum key netted
  *    to zero drops. Read-then-overwrite: call BETWEEN advances.
  *  - FORGET. The doc store's [[nulled]] column is nulled for the ids
  *    LAST (ids kept, so redelivery and re-ingest stay blocked and
  *    never-seen ids forward-block). The tombstone is the compaction
  *    commit witness and destroys the content a decrement is recomputed
  *    from, so a crash before it re-runs to the same rows and a crash
  *    after it finds nothing left to forget. See [[StateFamily.Forget]]
  *    for the four policies.
  *  - LAYOUT. A [[bucket]]ed table is partitioned by its bucket column
  *    from its first write. Every operation first rolls a crashed
  *    per-bucket publish forward and migrates a flat table that predates
  *    the layout: once bucket dirs exist, partition discovery ignores
  *    root files, so mixed layouts would lose rows with no error.
  *    Compaction and forget then rewrite bucket by bucket, each bucket
  *    published atomically.
  */
private[graft] final case class StateFamily(
    payload: Seq[(String, DataType)],
    nulled: String,
    delta: (DataFrame, Long) => DataFrame,
    fold: StateFamily.Fold,
    forget: StateFamily.Forget,
    input: Option[StateFamily.Input] = None,
    bucket: Option[StateFamily.Bucket] = None) {
  require(forget != StateFamily.ExactDelete || bucket.isDefined,
    "an exact-delete family needs a bucket layout")
}

private[graft] object StateFamily {

  sealed trait Fold
  /** Additive fold: `sums` add and `mins` min-combine per `keys`, after
    * the (batch_key, keys) replay dedup. */
  final case class Sum(keys: Seq[String], sums: Seq[String],
      mins: Seq[String] = Nil) extends Fold
  /** A fold that absorbs repeated rows; also the compaction. */
  final case class Idempotent(fold: DataFrame => DataFrame) extends Fold

  /** The forget policies. The two decrement policies append the
    * forgotten docs' delta with its sums negated under the key
    * −(min forgotten-and-still-present doc_id) − 1: unique against every
    * ingest key and across completed forgets, and the same key on a
    * re-run. A crashed forget whose pending key a later, overlapping
    * request would collide with or falsely commit is rolled back first
    * (its appended rows are its only effect). */
  sealed trait Forget
  case object NegativeDelta extends Forget
  /** [[NegativeDelta]] for a family with a min `keeper` column, which no
    * append can raise: cells whose current keeper is forgotten are
    * patched in place to the min surviving holder named by `keepers`
    * (survivors → keys + `__nk`), before the decrement (keeper
    * Long.MaxValue, min-neutral) appends. */
  final case class KeeperRepair(keeper: String,
      keepers: DataFrame => DataFrame) extends Forget
  /** The fold does not invert: the table is rebuilt from the survivors. */
  case object Rebuild extends Forget
  /** Per-doc rows delete exactly: the forgotten docs' own delta (their
    * content stays in the store until the tombstone) names the buckets
    * that can hold their rows, and only those buckets are rewritten. */
  case object ExactDelete extends Forget

  /** A per-batch computation that several families' deltas read; each
    * operation runs it once per distinct input (identity by reference)
    * and checkpoints the result. */
  final class Input(val of: DataFrame => DataFrame)

  /** The bucket layout: the table is partitioned by `name` = `of`, a
    * BIGINT of each delta row. */
  final case class Bucket(name: String, of: Column)

  /** pt = doc_id mod [[Streams.TF_PARTITIONS]]: a forget rewrites only
    * its ids' buckets. */
  private[graft] val DocBucket =
    Bucket("pt", pmod(col("doc_id"), lit(Streams.TF_PARTITIONS.toLong)))

  private val text = Seq("text" -> StringType)

  private val TfRows = new Input(TextOps.tfRollup)
  private val QualityTokens = new Input(TextOps.qualityTokens)

  /** A per-doc table: each delta row is a pure function of its own
    * document, so the fold is the union of the appends with redelivered
    * copies dropped on `keys`, and a forget deletes exactly. */
  private def perDoc(in: Option[Input], b: Bucket, keys: String*)(
      delta: DataFrame => DataFrame) =
    StateFamily(text, "text", (d, _) => delta(d),
      Idempotent(_.drop(b.name).dropDuplicates(keys)), ExactDelete, in, Some(b))

  private def keyed(k: Long, d: DataFrame, cols: String*): DataFrame =
    d.select(lit(k).as("batch_key") +: cols.map(col): _*)

  private def tok = explode(graft.functions.Text.tokens(col("text"))).as("tok")

  private def chunks(docs: DataFrame): DataFrame =
    graft.operators.Multimodal.cdcChunks(
      docs.withColumn("blob", encode(col("text"), "UTF-8")), "doc_id", "blob")

  /** pp07: per-token doc and occurrence counts. */
  val Vocab = StateFamily(text, "text",
    (f, k) => keyed(k, TextOps.vocabCounts(f), "tok", "df", "cf"),
    Sum(Seq("tok"), Seq("df", "cf")), NegativeDelta)

  /** pp13: per-bigram counts (the KN continuation is recomputed at read). */
  val Lm = StateFamily(text, "text",
    (f, k) => keyed(k, TextOps.bigramCounts(f), "bigram", "n"),
    Sum(Seq("bigram"), Seq("n")), NegativeDelta)

  /** pp29: count-min-sketch cells, at most d·w live after compaction;
    * maintained with [[Vocab]] on the same store for the exact probe. */
  val CmsCells = StateFamily(text, "text",
    (f, k) => keyed(k, TextOps.cmsCellsFromTokens(f.select(tok)),
      "j", "b", "n"),
    Sum(Seq("j", "b"), Seq("n")), NegativeDelta)

  /** pp16: per-source doc counts; the store keeps (doc_id, source). */
  val Mix = StateFamily(Seq("source" -> StringType), "source",
    (f, k) => keyed(k, f.groupBy(col("source")).agg(count(lit(1)).as("n")),
      "source", "n"),
    Sum(Seq("source"), Seq("n")), NegativeDelta)

  /** pp17: (canon, raw)-granular counts with a min keeper; `unicode`
    * picks the NFKC canonicalizer, a per-deployment constant (the two
    * modes hash different cell spaces). */
  private def exactDedup(unicode: Boolean) = StateFamily(text, "text",
    (f, k) => keyed(k, TextOps.canonRawStats(f, unicode),
      "canon_hash", "raw_hash", "n", "keeper_id"),
    Sum(Seq("canon_hash", "raw_hash"), Seq("n"), Seq("keeper_id")),
    KeeperRepair("keeper_id", s => TextOps.canonRawStats(s, unicode)
      .select(col("canon_hash"), col("raw_hash"), col("keeper_id").as("__nk"))))
  val ExactDedup = exactDedup(unicode = false)
  val ExactDedupNfkc = exactDedup(unicode = true)

  /** mm05: per-digest occurrence and distinct-doc counts (additive: the
    * guard puts each doc in one batch), min chunk length and keeper. */
  val Chunk = StateFamily(text, "text",
    (f, k) => keyed(k, chunks(f).groupBy(col("digest"))
        .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"),
          min(col("clen")).as("clen"), min(col("doc_id")).as("keeper_id")),
      "digest", "n_occ", "n_docs", "clen", "keeper_id"),
    Sum(Seq("digest"), Seq("n_occ", "n_docs"), Seq("clen", "keeper_id")),
    KeeperRepair("keeper_id", s => chunks(s)
      .groupBy(col("digest")).agg(min(col("doc_id")).as("__nk"))))

  /** pp31: HyperLogLog registers per source, folded by max. */
  val Hll = StateFamily(Seq("source" -> StringType, "text" -> StringType), "text",
    (f, _) => graft.operators.HllSketch.registers(
      f.select(col("source"), tok), "source",
      graft.queries.QueryUtils.hex8(col("tok"))),
    Idempotent(_.groupBy(col("source"), col("j")).agg(max(col("m")).as("m"))),
    Rebuild)

  /** pp32: the per-source bottom-k sample as (source, h, v) rows. v is a
    * BIGINT; a double rides it as [[graft.functions.DoubleSortable]]'s
    * sortable long, read back through [[Streams.quantileDoubleSnapshot]]
    * (which snapshot applies is the table's path contract). */
  val Quantile = StateFamily(Seq("source" -> StringType, "v" -> LongType), "v",
    (f, _) => TextOps.qsSampleRows(TextOps.qsPairs(f)),
    Idempotent(TextOps.qsSampleRows), Rebuild)

  /** pp26: the (doc_id, tok, tf) postings source BM25 scores over;
    * df, dl, N and L derive at query time. */
  val Tf = perDoc(Some(TfRows), DocBucket, "doc_id", "tok")(identity)

  /** The serving path's (doc_id, dl) lengths, dl = Σ tf, from the same
    * batch rollup as [[Tf]]. */
  val Dl = perDoc(Some(TfRows), DocBucket, "doc_id")(
    _.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")))

  /** The tf rows bucketed by token (tb = [[Streams.tokBucket]]): a
    * query's terms select a few `tb=` dirs and the planner skips the
    * rest. */
  val TokTf = perDoc(Some(TfRows), Bucket("tb", Streams.tokBucket(col("tok"))),
    "doc_id", "tok")(identity)

  /** pp27: per-doc token stats (doc_id, n_tokens, n_distinct, n_top). */
  val Tstat = perDoc(Some(QualityTokens), DocBucket, "doc_id")(TextOps.tokenStats)

  /** pp27: the per-doc (doc_id, bigram, m) rollup; the LM over it is
    * derived at read, so a forget shifts every survivor's features. */
  val M = perDoc(Some(QualityTokens), DocBucket, "doc_id", "bigram")(
    TextOps.bigramRollup)

  /** pp27: per-doc weak-supervision labels (doc_id, y). */
  val Labels = perDoc(None, DocBucket, "doc_id")(TextOps.ruleLabels)
}
