package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType, StringType}

import graft.queries.{TextOps, VectorOps}

/** A maintained-state family: one standing table per family, advanced
  * from a shared [[StateFamily.Store]] by
  * [[Streams.maintainState]], read through [[Streams.foldState]],
  * compacted by [[Streams.compactState]] and forgotten by
  * [[Streams.forgetState]]. Each of the four takes (family, table) pairs
  * over ONE store, so families that share a store (the CMS cells and
  * their vocabulary, the IVF sums and the kNN graph over the postings)
  * share one guard append, one forget key, one rollback and one
  * tombstone swap per call. The contract every family gets from them,
  * stated once:
  *
  *  - ADVANCE. The batch is cut to its fresh rows: the store key plus
  *    its arriving columns, in-batch repeats collapsed to ONE of the
  *    arriving rows, keys the store already holds dropped, then graded
  *    by the store in one pinned projection (a vector is quantized,
  *    normed and assigned its cell there; a row the store cannot index
  *    is kept only as its sentinel). Each family appends its [[delta]]
  *    of the fresh rows (of its shared [[input]] of them, computed once
  *    per batch for every family that names it), then the store rows
  *    append LAST — the store is the redelivery guard, so a crash
  *    anywhere earlier redelivers the whole batch, and a redelivered
  *    batch whose guard landed is a no-op.
  *  - FOLD. A [[StateFamily.Sum]] family tags its delta rows with the
  *    batch key (the min fresh key: unique, because the guard keeps
  *    fresh sets disjoint). A crash-replay re-appends byte-identical rows
  *    under the same key, and the fold drops duplicates by
  *    (batch_key, keys) before sums add and mins min-combine; a key whose
  *    count (its first sum) is not positive (forget decrements netted it
  *    out) is not live. A [[StateFamily.Latest]] fold keeps each key's
  *    newest full row, which a replay's copy cannot displace, and an
  *    [[StateFamily.Idempotent]] fold (a register max, a bottom-k sample,
  *    a per-doc table's union with its key dedup) absorbs replayed rows
  *    by itself. These are the mergeable-summary folds of the PODS 2021
  *    survey in PAPERS.md.
  *  - COMPACT. The fold, materialized and swapped atomically (bucket by
  *    bucket for a bucketed table). A sum or latest fold
  *    takes only COMMITTED keys — a positive key once it reached the
  *    guard, a negative (forget) key once its witness is tombstoned —
  *    under the reserved key Long.MinValue; pending rows keep their key
  *    so a replay still collapses against them, and a pure-sum key netted
  *    to zero drops. Read-then-overwrite: call BETWEEN advances.
  *  - FORGET. The store's tombstone rule marks the ids LAST (ids kept,
  *    so redelivery and re-ingest stay blocked and never-seen ids
  *    forward-block). The tombstone is the compaction commit witness and
  *    destroys the content a decrement is recomputed from, so a crash
  *    before it re-runs to the same rows and a crash after it finds
  *    nothing left to forget. See [[StateFamily.Forget]] for the five
  *    policies.
  *  - LAYOUT. A [[bucket]]ed table is partitioned by its bucket column
  *    from its first write. Every operation first rolls a crashed
  *    per-bucket publish forward and migrates a flat table that predates
  *    the layout: once bucket dirs exist, partition discovery ignores
  *    root files, so mixed layouts would lose rows with no error.
  *    Compaction and forget then rewrite bucket by bucket, each bucket
  *    published atomically.
  */
private[graft] final case class StateFamily(
    store: StateFamily.Store,
    delta: StateFamily.In => DataFrame,
    fold: StateFamily.Fold,
    forget: StateFamily.Forget,
    input: Option[StateFamily.Input] = None,
    bucket: Option[StateFamily.Bucket] = None) {
  require(!Seq(StateFamily.ExactDelete, StateFamily.Recompute).contains(forget) ||
    bucket.isDefined, "an exact-delete or recompute family needs a bucket layout")
}

private[graft] object StateFamily {

  /** The keyed table an advance guards against and appends LAST.
    * `arrives` are the batch columns besides the `key`; `grade` maps the
    * collapsed arrivals to the rows the families read, in one projection;
    * `fresh` picks the rows that index, whose stored form is `row`; a
    * `sentinel` (which rows, their stored form) keeps an unindexable
    * arrival behind the guard; `tomb` marks a forgotten id; `live` picks
    * the stored rows the families were derived from (None: the store
    * keeps only ids or an encoding, nothing a delta re-derives from). */
  final case class Store(key: String, arrives: Seq[(String, DataType)],
      grade: DataFrame => DataFrame, fresh: Column, row: Seq[Column],
      sentinel: Option[(Column, Seq[Column])], tomb: Tomb,
      live: Option[Column])

  /** How a forgotten id is marked in the store. */
  sealed trait Tomb
  /** Null column `c` of the id's row, keep its other columns. */
  final case class Nulled(c: String) extends Tomb
  /** Replace the id's row by `row`, a projection of the id alone. */
  final case class Replaced(row: Seq[Column]) extends Tomb

  /** A doc store keeping (doc_id, payload); a forget nulls `nulled`. */
  private def docs(nulled: String, payload: (String, DataType)*) =
    Store("doc_id", payload, identity, lit(true),
      ("doc_id" +: payload.map(_._1)).map(col), None, Nulled(nulled),
      Some(col(nulled).isNotNull))

  /** The (doc_id, text) store most text families share. */
  val Text: Store = docs("text", "text" -> StringType)

  /** The ids-only store: the arrivals' `payload` feeds the deltas, only
    * the ids are kept, and the id itself is the tombstone. */
  private val Ids = Store("doc_id", Seq("source" -> StringType, "text" -> StringType),
    identity, lit(true), Seq(col("doc_id")), None, Replaced(Seq(col("doc_id"))), None)

  private val NoCodes = lit(Array.empty[Long])

  /** A vec_id store over (vec_id, embedding) arrivals: graded to
    * (vec_id, q, nrm) plus the `cell` assignment when there is one.
    * An indexed row stores [cid,] vec_id and the `payload` values; a
    * zero-norm arrival stores their empty values under cid −1 and a
    * forgotten id under cid −2 — every consumer keys on real cells (or
    * non-empty codes), so neither is ever read as data. */
  private def vectors(cell: Option[Column], live: Option[Column],
      payload: (String, Column, Column)*): Store = {
    def stored(cid: Column, values: Seq[Column]) =
      cell.map(_ => cid.as("cid")).toSeq ++ (col("vec_id") +: values)
    val empty = payload.map { case (n, _, e) => e.as(n) }
    Store("vec_id", Seq("embedding" -> ArrayType(FloatType)),
      arrived => {
        val q = arrived.select(col("vec_id"),
            graft.operators.Ann.quantize(col("embedding")).as("q"))
          .withColumn("nrm", sqrt(graft.operators.Ann.dotQ(col("q"), col("q"))
            .cast("double")))
        cell.fold(q)(q.withColumn("cid", _))
      },
      cell.fold(col("nrm") > 0.0)(_ => col("nrm") > 0.0 && col("cid").isNotNull),
      stored(col("cid"), payload.map { case (n, v, _) => v.as(n) }),
      Some((!coalesce(col("nrm") > 0.0, lit(false)), stored(lit(-1L), empty))),
      Replaced(stored(lit(-2L), empty)), live)
  }

  /** The cell of a graded row under a FIXED quantizer's collected
    * (cid, cq, cn) rows `cs`: [[graft.functions.NearestCentroid]], the
    * same row-local kernel as [[VectorOps.assignCells]]; an empty
    * quantizer assigns nothing. */
  private def cellOf(cs: Array[Row]): Column =
    if (cs.isEmpty) lit(null).cast("long")
    else graft.functions.VectorExpressions.nearestCentroid(col("q"), col("nrm"),
      cs.map(_.getLong(0)), cs.map(_.getSeq[Long](1).toArray), cs.map(_.getDouble(2)))

  private def cells(cents: DataFrame): Column =
    cellOf(cents.select(col("cid"), col("cq"), col("cn")).collect())

  private def postingsAt(cell: Column) = vectors(Some(cell), Some(col("cid") >= 0),
    ("q", col("q"), NoCodes), ("nrm", col("nrm"), lit(0.0)))

  /** pp05: the IVF postings (cid, vec_id, q, nrm) under the fixed
    * quantizer `cents`, the store of [[IvfSums]], [[SemDedupDrops]] and
    * [[KnnGraph]]; the centroids are collected once, here. */
  def postings(cents: DataFrame): Store = postingsAt(cells(cents))

  /** The postings store's shape without a quantizer — what the families
    * over it are declared against; it reads, compacts and forgets, and an
    * advance passes [[postings]] instead. */
  val Postings: Store = postingsAt(cellOf(Array.empty))

  /** pp14: a (cid, vec_id, codes) table under fixed (centroids, books),
    * the encode its stored row. */
  def pqCodes(cents: DataFrame, pq: VectorOps.Pq): Store =
    vectors(Some(cells(cents)), None, ("codes", pq.codes(col("q")), NoCodes))

  /** pp28: [[pqCodes]] under an OPQ (permutation, books) pair — cell
    * assignment stays raw-space, only the encode sees the permuted q. */
  def opqCodes(cents: DataFrame, perm: IndexedSeq[Int], pq: VectorOps.Pq): Store =
    vectors(Some(cells(cents)), None,
      ("codes", pq.codes(VectorOps.opqCol(perm)), NoCodes))

  /** pp20: a (vec_id, codes) table under fixed scalar-quantizer bounds;
    * [[VectorOps.sqScore]] skips empty codes. */
  def sqCodes(vmin: Array[Long], vdiff: Array[Long]): Store = {
    require(vmin.nonEmpty, "empty SQ bounds")
    vectors(None, None, ("codes", VectorOps.sqCodes(col("q"), vmin, vdiff), NoCodes))
  }

  /** What a delta reads: the batch's fresh `rows` (or the shared input
    * of them), its `key`, and for a delta that depends on standing state
    * the pre-advance store's live rows and the family's own table (both
    * None outside an advance, or when absent). */
  final class In(val rows: DataFrame, val key: Long,
      store0: => Option[DataFrame] = None, own0: => Option[DataFrame] = None) {
    lazy val store: Option[DataFrame] = store0
    lazy val own: Option[DataFrame] = own0
  }

  sealed trait Fold
  /** Additive fold: `sums` add and `mins` min-combine per `keys`, after
    * the (batch_key, keys) replay dedup. */
  final case class Sum(keys: Seq[String], sums: Seq[String],
      mins: Seq[String] = Nil) extends Fold
  /** A fold that absorbs repeated rows; also the compaction. */
  final case class Idempotent(fold: DataFrame => DataFrame) extends Fold
  /** Latest-wins per `key`: each row is a full replacement carrying its
    * `payload`, and the max by (`ord`, batch_key) stands — `ord` must
    * strictly increase across a key's real rows, so the batch key only
    * ever separates a replay's byte-identical copies. Compacts like a
    * [[Sum]]: committed rows fold under the reserved key (which loses
    * every tie), pending rows keep theirs. */
  final case class Latest(key: String, ord: String, payload: Seq[String])
      extends Fold

  /** The forget policies. The two decrement policies append the
    * forgotten rows' delta with its sums negated under the key
    * −(min forgotten-and-still-present id) − 1: unique against every
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
    * that can hold their rows — or, for a store that keeps only ids, the
    * ids themselves do — and only those buckets are rewritten. */
  case object ExactDelete extends Forget
  /** Each bucket is a function of the store rows in it: the delta is the
    * recomputed content of the buckets its fresh rows land in, and an
    * advance overwrites exactly those; a forget recomputes the buckets
    * the forgotten rows occupied from their survivors. */
  case object Recompute extends Forget

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

  private val TfRows = new Input(TextOps.tfRollup)
  private val QualityTokens = new Input(TextOps.qualityTokens)

  /** A per-doc table: each delta row is a pure function of its own
    * document, so the fold is the union of the appends with redelivered
    * copies dropped on `keys`, and a forget deletes exactly. */
  private def perDoc(store: Store, in: Option[Input], b: Bucket, keys: String*)(
      delta: DataFrame => DataFrame) =
    StateFamily(store, i => delta(i.rows),
      Idempotent(_.drop(b.name).dropDuplicates(keys)), ExactDelete, in, Some(b))

  private def keyed(k: Long, d: DataFrame, cols: String*): DataFrame =
    d.select(lit(k).as("batch_key") +: cols.map(col): _*)

  private def tok = explode(graft.functions.Text.tokens(col("text"))).as("tok")

  private def chunks(docs: DataFrame): DataFrame =
    graft.operators.Multimodal.cdcChunks(
      docs.withColumn("blob", encode(col("text"), "UTF-8")), "doc_id", "blob")

  /** pp07: per-token doc and occurrence counts. */
  val Vocab = StateFamily(Text,
    i => keyed(i.key, TextOps.vocabCounts(i.rows), "tok", "df", "cf"),
    Sum(Seq("tok"), Seq("df", "cf")), NegativeDelta)

  /** pp13: per-bigram counts (the KN continuation is recomputed at read). */
  val Lm = StateFamily(Text,
    i => keyed(i.key, TextOps.bigramCounts(i.rows), "bigram", "n"),
    Sum(Seq("bigram"), Seq("n")), NegativeDelta)

  /** pp29: count-min-sketch cells, at most d·w live after compaction;
    * maintained with [[Vocab]] on the same store for the exact probe. */
  val CmsCells = StateFamily(Text,
    i => keyed(i.key, TextOps.cmsCellsFromTokens(i.rows.select(tok)),
      "j", "b", "n"),
    Sum(Seq("j", "b"), Seq("n")), NegativeDelta)

  /** pp16: per-source doc counts; the store keeps (doc_id, source). */
  val Mix = StateFamily(docs("source", "source" -> StringType),
    i => keyed(i.key, i.rows.groupBy(col("source")).agg(count(lit(1)).as("n")),
      "source", "n"),
    Sum(Seq("source"), Seq("n")), NegativeDelta)

  /** pp17: (canon, raw)-granular counts with a min keeper; `unicode`
    * picks the NFKC canonicalizer, a per-deployment constant (the two
    * modes hash different cell spaces). */
  private def exactDedup(unicode: Boolean) = StateFamily(Text,
    i => keyed(i.key, TextOps.canonRawStats(i.rows, unicode),
      "canon_hash", "raw_hash", "n", "keeper_id"),
    Sum(Seq("canon_hash", "raw_hash"), Seq("n"), Seq("keeper_id")),
    KeeperRepair("keeper_id", s => TextOps.canonRawStats(s, unicode)
      .select(col("canon_hash"), col("raw_hash"), col("keeper_id").as("__nk"))))
  val ExactDedup = exactDedup(unicode = false)
  val ExactDedupNfkc = exactDedup(unicode = true)

  /** mm05: per-digest occurrence and distinct-doc counts (additive: the
    * guard puts each doc in one batch), min chunk length and keeper. */
  val Chunk = StateFamily(Text,
    i => keyed(i.key, chunks(i.rows).groupBy(col("digest"))
        .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"),
          min(col("clen")).as("clen"), min(col("doc_id")).as("keeper_id")),
      "digest", "n_occ", "n_docs", "clen", "keeper_id"),
    Sum(Seq("digest"), Seq("n_occ", "n_docs"), Seq("clen", "keeper_id")),
    KeeperRepair("keeper_id", s => chunks(s)
      .groupBy(col("digest")).agg(min(col("doc_id")).as("__nk"))))

  /** pp31: HyperLogLog registers per source, folded by max. */
  val Hll = StateFamily(docs("text", "source" -> StringType, "text" -> StringType),
    i => graft.operators.HllSketch.registers(
      i.rows.select(col("source"), tok), "source",
      graft.queries.QueryUtils.hex8(col("tok"))),
    Idempotent(_.groupBy(col("source"), col("j")).agg(max(col("m")).as("m"))),
    Rebuild)

  /** pp32: the per-source bottom-k sample as (source, h, v) rows. v is a
    * BIGINT; a double rides it as [[graft.functions.DoubleSortable]]'s
    * sortable long, read back through [[Streams.quantileDoubleSnapshot]]
    * (which snapshot applies is the table's path contract). */
  val Quantile = StateFamily(docs("v", "source" -> StringType, "v" -> LongType),
    i => TextOps.qsSampleRows(TextOps.qsPairs(i.rows)),
    Idempotent(TextOps.qsSampleRows), Rebuild)

  /** pp26: the (doc_id, tok, tf) postings source BM25 scores over;
    * df, dl, N and L derive at query time. */
  val Tf = perDoc(Text, Some(TfRows), DocBucket, "doc_id", "tok")(identity)

  /** The serving path's (doc_id, dl) lengths, dl = Σ tf, from the same
    * batch rollup as [[Tf]]. */
  val Dl = perDoc(Text, Some(TfRows), DocBucket, "doc_id")(
    _.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")))

  /** The tf rows bucketed by token (tb = [[Streams.tokBucket]]): a
    * query's terms select a few `tb=` dirs and the planner skips the
    * rest. */
  val TokTf = perDoc(Text, Some(TfRows), Bucket("tb", Streams.tokBucket(col("tok"))),
    "doc_id", "tok")(identity)

  /** pp27: per-doc token stats (doc_id, n_tokens, n_distinct, n_top). */
  val Tstat = perDoc(Text, Some(QualityTokens), DocBucket, "doc_id")(TextOps.tokenStats)

  /** pp27: the per-doc (doc_id, bigram, m) rollup; the LM over it is
    * derived at read, so a forget shifts every survivor's features. */
  val M = perDoc(Text, Some(QualityTokens), DocBucket, "doc_id", "bigram")(
    TextOps.bigramRollup)

  /** pp27: per-doc weak-supervision labels (doc_id, y). */
  val Labels = perDoc(Text, None, DocBucket, "doc_id")(TextOps.ruleLabels)

  /** pp25: (batch_key, doc_id, source, score) per doc under the FROZEN
    * reference LM at `ref` ([[Streams.buildRefState]]): a score never
    * changes once computed, so the rows are per-doc and the store keeps
    * only ids. [[Score]] reads, compacts and forgets without the
    * reference (its rows are never re-derived then). */
  def score(ref: String): StateFamily = scored(Some(ref))
  val Score: StateFamily = scored(None)
  private def scored(ref: Option[String]) = StateFamily(Ids,
    i => keyed(i.key, TextOps.refSurprise(i.rows, ref.fold(
        i.rows.select(lit("").as("bigram"), lit(0L).as("n")).limit(0))(
        i.rows.sparkSession.read.parquet(_))),
      "doc_id", "source", "score"),
    Idempotent(_.drop(DocBucket.name).dropDuplicates("batch_key", "doc_id")),
    ExactDelete, None, Some(DocBucket))

  /** pp05: per-(cell, dim) centroid-sum rows, the additive state that
    * says when a cell has drifted enough to warrant a rebuild. */
  val IvfSums = StateFamily(Postings,
    i => keyed(i.key, VectorOps.cellDimSums(i.rows),
      "cid", "dim", "n_vectors", "sum_q"),
    Sum(Seq("cid", "dim"), Seq("n_vectors", "sum_q")), Rebuild)

  private val Drop = Seq("cid", "witness_id", "n_witnesses", "max_cos")

  /** pp10: each CHANGED drop row of a batch
    * ([[VectorOps.semDedupAdvance]] against the pre-advance postings,
    * τ = 0.30: batch vectors gaining a witness and standing vectors
    * gaining a batch witness, each over its full witness set). A row is a
    * full replacement and a vec_id re-enters only when it gains a
    * witness, so n_witnesses strictly increases across its rows: the
    * fold is latest-wins by max (n_witnesses, batch_key). */
  val SemDedupDrops = StateFamily(Postings,
    i => keyed(i.key, VectorOps.semDedupAdvance(
        i.store.getOrElse(i.rows.limit(0)), i.rows, 0.30),
      "vec_id" +: Drop: _*),
    Latest("vec_id", "n_witnesses", Drop), Rebuild)

  /** pp24: vs13's k = 3 edge rows (query_id, cid, neighbor_id, rank,
    * cos) partitioned by cell. A batch scores against its own cells only
    * ([[VectorOps.knnGraphAdvanceTouched]] — stored edges stand in for
    * every standing-standing pair, stored edges naming a batch id are
    * re-derived, so a replay rewrites the same cells byte-equivalently);
    * a cell's edges are a function of its members, so a forget
    * recomputes the cells the forgotten vectors occupied. */
  val KnnGraph = StateFamily(Postings,
    i => VectorOps.knnGraphAdvanceTouched(i.store.getOrElse(i.rows.limit(0)),
      i.own.fold(i.rows.select(col("vec_id").as("query_id"), col("cid"),
          col("vec_id").as("neighbor_id"), lit(0).as("rank"), col("nrm").as("cos"))
          .limit(0))(_.withColumn("cid", col("cid").cast("long"))),
      i.rows, 3),
    Idempotent(_.withColumn("cid", col("cid").cast("long")).select(
      col("query_id"), col("cid"), col("neighbor_id"), col("rank"), col("cos"))),
    Recompute, None, Some(Bucket("cid", col("cid"))))
}
